"""Metric names and units — the source BENCHMARK.json mirrors (a test
keeps the two equal). NOTES.md maps each per-layer metric to the
end-to-end metric it should move."""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "cpu_ref_s": "s",
    "peak_rss_mb": "MB",
}

# Printed on the detail line: the unscaled CPU seconds, the cold
# pass's wall time, the median warm pass (when a run makes more than
# one pass) and the query-phase latencies. The wall times are not
# gated: on a shared host they swing with hypervisor steal and core
# speed beyond the largest bound allowed (see NOTES.md). The latencies
# are also per-layer metrics.
QUERY = {"query_p50_s": "s", "query_tail_s": "s"}
DETAIL = {"cpu_s": "s", "first_pass_s": "s", "pass_s": "s", **QUERY}

# op name -> per-layer time metric(s). Ops with a build/action split
# report both phases; the others report the whole call.
SPLIT_OPS = ("aggregate.closure", "aggregate.rollup", "aggregate.distinct")
TIMED_OPS = (
    "hierarchy.from_adjacency", "hierarchy.flattened_local",
    "hierarchy.flattened_dist", "hierarchy.reporting_dim",
    "hierarchy.closure", "hierarchy.subtree_facts",
    "dedup.exact", "dedup.lsh_candidates", "dedup.near_duplicates",
    "dedup.prefix_pairs", "dedup.simhash",
    "similarity.topk", "similarity.embedding_neardup",
    "text.stats", "text.bm25_search", "pipeline.curate",
    "layout.write", "layout.append", "layout.delete_keys", "layout.compact",
    "layout.upsert", "layout.vacuum", "layout.read_box_delta",
    "layout.read_eq_delta", "layout.read_box", "layout.read_where",
    "layout.read_eq", "change_feed.run", "change_feed.read",
)

# per-pass notes the workloads record (summed within a pass)
NOTES = {
    "hierarchy.closure_rows": "count",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "change_feed.rows": "count",
    "layout.bytes_written": "bytes",
    "layout.files_written": "count",
    "layout.live_bytes": "bytes",
    "layout.write_amp": "ratio",
    "layout.space_amp": "ratio",
    "trace.overhead_s": "s",
}

ENGINE = {
    "spark.plan_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.failed_tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.python_bytes": "bytes",
    "spark.slot_busy_frac": "ratio",
}

SELF_LAYERS = ("hierarchy", "aggregate", "matrix", "dedup", "similarity",
               "text", "pipeline", "layout", "fsio", "change_feed")


def per_layer() -> dict[str, str]:
    m = {**QUERY,
         "session.get_spark_s": "s",
         "matrix.prepared_first_build_s": "s",
         "matrix.prepared_build_s": "s",
         "hierarchy.jobs": "count"}
    for op in SPLIT_OPS:
        m[f"{op}_build_s"] = "s"
        m[f"{op}_exec_s"] = "s"
    for op in TIMED_OPS:
        m[f"{op}_s"] = "s"
    m.update(NOTES)
    m["dedup.verify_yield"] = "ratio"
    m["runtime.materialized_bytes"] = "bytes"
    m["runtime.checkpoints"] = "count"
    m["layout.scan_selectivity"] = "ratio"
    m["fsio.calls"] = "count"
    m["fsio.renames"] = "count"
    m["fsio.s"] = "s"
    m.update(ENGINE)
    m["driver.build_s"] = "s"
    m["driver.action_s"] = "s"
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = "s"
    m["trace.pass_s"] = "s"
    m["trace.cpu_s"] = "s"
    return m
