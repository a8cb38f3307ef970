"""Turn one run's op records, spans and notes into the end-to-end and
per-layer metrics named in ``spec``."""

from __future__ import annotations

from perfbench import spec
from perfbench.harness import PROBE_REF_S, median, self_times, tail


def end_to_end(setup_s: float, passes: dict[int, float], ops,
               peak_rss_kb: int, speed: tuple[float, int]) -> dict[str, dict]:
    """``speed``: the speed probe's median loop CPU seconds over the
    ops, and its sample count."""
    warm = [s for p, s in passes.items() if p > 1]
    queries = [o.seconds for o in ops if o.query and o.ok]
    tail_s, tail_pct = tail(queries)
    cpu_s = sum(o.cpu_s for o in ops)
    loop_s, n = speed
    return {
        "setup_s": _m(setup_s, 1),
        "cpu_s": _m(cpu_s, len(ops)),
        "cpu_ref_s": _m(cpu_s * PROBE_REF_S / loop_s, len(ops),
                        probe_loop_s=loop_s, probe_samples=n),
        "first_pass_s": _m(passes.get(1, 0.0), 1 if passes else 0),
        # detail only: at BENCHMARK.json's run length a run is one pass
        "pass_s": _m(median(warm) if warm else None, len(warm)),
        "query_p50_s": _m(median(queries), len(queries)),
        "query_tail_s": _m(tail_s, len(queries), percentile=tail_pct),
        "peak_rss_mb": _m(peak_rss_kb / 1024.0, 1),
    }


def _m(value: float, samples: int, **extra) -> dict:
    return {"value": value, "samples": samples, **extra}


def per_layer(r, passes: dict[int, float], cores: int,
              get_spark_s: float) -> dict[str, dict]:
    """Per-layer metrics of a traced run, over its warm passes (pass 1
    when it is the only one). Times are medians over the calls;
    per-pass counters are medians of per-pass sums."""
    warm = sorted(p for p in passes if p > 1) or sorted(passes)
    ops = [o for o in r.ops if o.pass_no in warm]
    out: dict[str, dict] = {}

    def put(name: str, value: float, samples: int) -> None:
        out[name] = {"value": float(value), "samples": samples}

    queries = [o.seconds for o in r.ops if o.query and o.ok]
    put("query_p50_s", median(queries), len(queries))
    put("query_tail_s", tail(queries)[0], len(queries))

    def per_pass(fn) -> float:
        return median([fn(p) for p in warm])

    put("session.get_spark_s", get_spark_s, 1)
    first = [o for o in r.ops if o.layer == "matrix" and o.pass_no == 1]
    put("matrix.prepared_first_build_s", sum(o.build_s for o in first),
        len(first))
    hits = [o.build_s for o in r.ops if o.layer == "matrix" and o.query]
    put("matrix.prepared_build_s", median(hits), len(hits))
    for name in spec.SPLIT_OPS:
        sel = [o for o in ops if o.name == name]
        put(f"{name}_build_s", median([o.build_s for o in sel]), len(sel))
        put(f"{name}_exec_s", median([o.action_s for o in sel]), len(sel))
    for name in spec.TIMED_OPS:
        sel = [o for o in ops if o.name == name]
        put(f"{name}_s", median([o.seconds for o in sel]), len(sel))
    for key in spec.NOTES:
        put(key, per_pass(lambda p: r.notes.get(p, {}).get(key, 0.0)),
            len(warm))
    cands = out["dedup.candidate_pairs"]["value"]
    put("dedup.verify_yield",
        out["dedup.verified_pairs"]["value"] / cands if cands else 0.0,
        len(warm))

    spans = r.spans
    selfs = self_times(spans)
    op_spans = [s for s in spans if s.parent is None and s.counters]

    def engine(p: int, key: str, layer: str | None = None) -> float:
        return sum(s.counters.get(key, 0.0) for s in op_spans
                   if _pass_of(r, s) == p and (layer is None
                                               or s.layer == layer))

    put("hierarchy.jobs", per_pass(lambda p: engine(p, "jobs", "hierarchy")),
        len(warm))
    put("runtime.materialized_bytes", per_pass(lambda p: max(
        [s.counters.get("held_bytes", 0.0) for s in op_spans
         if _pass_of(r, s) == p] or [0.0])), len(warm))
    put("runtime.checkpoints", per_pass(lambda p: max(
        [s.counters.get("held_rdds", 0.0) for s in op_spans
         if _pass_of(r, s) == p] or [0.0])), len(warm))

    def selectivity(p: int) -> float:
        reads = {s.op_id for s in op_spans if _pass_of(r, s) == p
                 and s.name.startswith("layout.read_")}
        got = sum(o.rows or 0 for o in r.ops if o.pass_no == p
                  and o.name.startswith("layout.read_"))
        read = sum(s.counters.get("input_rows", 0.0) for s in op_spans
                   if s.op_id in reads)
        return got / read if read else 0.0
    put("layout.scan_selectivity", per_pass(selectivity), len(warm))

    fs = [s for s in spans if s.layer == "fsio"]
    put("fsio.calls", per_pass(lambda p: sum(
        1 for s in fs if _pass_of(r, s) == p)), len(warm))
    put("fsio.renames", per_pass(lambda p: sum(
        1 for s in fs if _pass_of(r, s) == p and s.name == "fsio.rename")),
        len(warm))
    put("fsio.s", per_pass(lambda p: sum(
        s.seconds for s in fs if _pass_of(r, s) == p
        and spans[s.parent].layer != "fsio")), len(warm))

    for name in spec.ENGINE:
        key = name.split(".", 1)[1]
        if key in ("plan_s", "slot_busy_frac"):
            continue
        put(name, per_pass(lambda p: engine(p, key)), len(warm))
    put("spark.plan_s", per_pass(
        lambda p: r.notes.get(p, {}).get("spark.plan_s", 0.0)), len(warm))

    def busy(p: int) -> float:
        wall = sum(o.seconds for o in r.ops if o.pass_no == p)
        return engine(p, "executor_run_s") / (wall * cores) if wall else 0.0
    put("spark.slot_busy_frac", per_pass(busy), len(warm))
    put("driver.build_s", per_pass(lambda p: sum(
        o.build_s for o in r.ops if o.pass_no == p)), len(warm))
    put("driver.action_s", per_pass(lambda p: sum(
        o.action_s for o in r.ops if o.pass_no == p)), len(warm))
    for layer in spec.SELF_LAYERS:
        put(f"self.{layer}_s", per_pass(lambda p: sum(
            selfs[i] for i, s in enumerate(spans)
            if s.layer == layer and _pass_of(r, s) == p)), len(warm))

    put("trace.pass_s", median([passes[p] for p in warm]), len(warm))
    put("trace.cpu_s", sum(o.cpu_s for o in r.ops), len(r.ops))
    return out


def _pass_of(r, span) -> int:
    return r.op_pass[span.op_id]
