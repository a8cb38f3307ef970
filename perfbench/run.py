"""Benchmark entry point: one seeded, closed-loop workload, one client.

    python3 perfbench/run.py --workload hier_report --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout. The program runs at local[nproc]
with its own session defaults. A run:

1. imports the program and starts a session (the JVM launch; no
   warm-up action);
2. generates the workload's inputs from ``--seed`` and computes every
   reference answer (untimed);
3. runs max(1, round(seconds / the workload's nominal pass time))
   passes of the workload's fixed op mix — each op a fresh call, each
   result checked — then a fixed query phase of warm interactive
   queries, then the workload's once-per-run checks;
4. stops the JVM and every process it started.

``setup_s`` is one cold start per run: a second JVM launch would cost
~7 s per run, which the benchmark's run-time budget does not leave.

With ``--trace 0`` the last stdout line carries the end-to-end
metrics; with ``--trace 1`` every pass is traced (a span per call
site, Spark status-store counters per op) and the last line carries
the per-layer metrics, the tracer's own time per pass and the traced
run's pass time and op CPU (against the untraced runs'
``first_pass_s`` and ``cpu_s``: the tracing overhead). The line
before it and the artifact under ``.perfbench/artifacts/`` hold every
metric with its sample count, the input sizes and digest, the host
load stamp and (traced) the spans.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import subprocess
import sys
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "aggregation_duckdb_spark"
QUERY_PHASE = -1   # pass number the query phase's ops carry


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    help="a workload name, or 'all' to run each in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the benchmark's tests")
    return ap.parse_args(argv)


def _host_stamp(bench, cores: int, load_before, ticks_before) -> dict:
    stamp = {"nproc": cores, "loadavg_before": load_before,
             "loadavg_after": bench._loadavg()}
    t1 = bench._cpu_ticks()
    if ticks_before and t1:
        d = {k: t1[k] - ticks_before[k] for k in t1 if k in ticks_before}
        busy = sum(v for k, v in d.items() if k not in ("idle", "iowait")) or 1
        stamp["steal_pct"] = round(100.0 * d.get("steal", 0) / busy, 2)
    return stamp


def _op_seconds(ops) -> dict[str, list[list[float]]]:
    """Per op name, per pass: the seconds of each call (diagnostic)."""
    out: dict[str, dict[int, list[float]]] = {}
    for o in ops:
        out.setdefault(o.name, {}).setdefault(o.pass_no, []).append(
            round(o.seconds, 4))
    return {k: list(v.values()) for k, v in out.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench import harness, metrics, spec, workloads

    if args.workload == "all":      # each workload in its own process
        return max(subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace), "--size", args.size]).returncode
            for name in workloads.NAMES)
    if args.workload not in workloads.NAMES:
        print(f"unknown workload {args.workload!r}; one of "
              f"{', '.join(workloads.NAMES)}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"no {PACKAGE} package next to perfbench/ in {ROOT}: run "
              "from the root of a full checkout", file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, "work")
    cores = harness.nproc()
    harness.configure_env(ROOT, work, cores)

    t0 = time.perf_counter()
    import bench  # noqa: F401 - the repo's bench: host-load helpers
    from aggregation_duckdb_spark import fsio, matrix
    matrix.queries()
    import_s = time.perf_counter() - t0

    load_before, ticks_before = bench._loadavg(), bench._cpu_ticks()
    wl = workloads.get(args.workload)
    spark, get_spark_s = harness.launch(cores, work)

    g0 = time.perf_counter()
    sizes = wl.prepare(spark, work, args.seed, wl.SIZES[args.size])
    gen_s = time.perf_counter() - g0
    sizes["storage_memory_bytes"] = harness.storage_memory_bytes(spark)

    r = harness.Runner(spark, trace=bool(args.trace))
    if args.trace:
        r.wrap_module(fsio, "fsio")
    # A fixed amount of work per run: the pass count follows from
    # --seconds and the workload's nominal warm pass time, so every run
    # of a workload makes the same passes and the same queries, traced
    # or not.
    n_passes = max(1, round(args.seconds / wl.PASS_S))
    passes: dict[int, float] = {}
    jvm = harness.jvm_pid()
    with harness.SpeedProbe() as probe, harness.RssSampler(jvm) as rss:
        r.cpu = harness.CpuMeter(jvm, rss)
        w0 = time.monotonic()
        start = time.perf_counter()
        for _ in range(n_passes):
            r.pass_no += 1
            r.pass_traced = bool(args.trace)
            r.untimed()
            p0, traced0 = time.perf_counter(), r.trace_s
            wl.run_pass(r)
            passes[r.pass_no] = time.perf_counter() - p0
            if r.pass_traced:
                r.note("spark.plan_s", r.take_plan_seconds())
                r.note("trace.overhead_s", r.trace_s - traced0)
            gc.collect()   # let Spark's ContextCleaner drop released blocks
        measured_s = time.perf_counter() - start
        # the interactive query phase, warm, after the passes
        r.pass_no, r.pass_traced = QUERY_PHASE, False
        q0 = time.perf_counter()
        wl.queries(r)
        query_phase_s = time.perf_counter() - q0
        if hasattr(wl, "gate"):     # once-per-run checks, outside any pass
            r.pass_no = 0
            wl.gate(r)
        speed = probe.loop_s(w0, time.monotonic())
    t_down = time.perf_counter()
    harness.shutdown(spark)
    teardown_s = time.perf_counter() - t_down

    if not speed[1]:
        print("the speed probe gave no samples", file=sys.stderr)
        return 3
    attempted = len(r.ops)
    failed = sum(1 for o in r.ops if not o.ok)
    e2e = metrics.end_to_end(import_s + get_spark_s, passes, r.ops,
                             rss.peak_kb, speed)
    if args.trace:
        detail = metrics.per_layer(r, passes, cores, get_spark_s)
        units = spec.per_layer()
    else:
        detail = e2e
        units = {**spec.END_TO_END, **spec.DETAIL}
    for k, m in detail.items():
        m["unit"] = units[k]

    artifact = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "size": args.size, "seconds": args.seconds,
        "measured_s": measured_s, "passes": passes,
        "query_phase_s": query_phase_s,
        "input_digest": wl.inputs.digest, "inputs": sizes,
        "input_gen_s": gen_s, "import_s": import_s,
        "teardown_s": teardown_s,
        "until_result_s": time.perf_counter() - T_PROCESS,
        "attempted": attempted, "failed": failed,
        "fail_frac": failed / attempted if attempted else 0.0,
        "failures": [f"{o.name}: {o.error}" for o in r.ops if not o.ok][:20],
        "op_seconds": _op_seconds(r.ops),
        "end_to_end": e2e, "metrics": detail,
        "host": _host_stamp(bench, cores, load_before, ticks_before),
    }
    if args.trace:
        artifact["spans"] = [
            {"name": s.name, "layer": s.layer, "start": s.start,
             "end": s.end, "parent": s.parent, "op_id": s.op_id,
             **({"counters": s.counters} if s.counters else {})}
            for s in r.spans]
    out_dir = os.path.join(state, "artifacts")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(artifact, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    summary = {k: v for k, v in artifact.items() if k != "spans"}
    print(json.dumps(summary, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": detail[k]["value"], "unit": u}
                    for k, u in (spec.per_layer() if args.trace
                                 else spec.END_TO_END).items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
