"""table_maintenance: writes beside reads on one Z-ordered table, so
a read gain that costs writes or space shows. Each pass creates the
table with ``write_zordered`` and runs ``cycles`` maintenance cycles;
each cycle, in the order the layout contract forces:

1. append_zordered, then delete_zordered_keys
2. a box read and a point read while the delta batch is outstanding
3. compact_zordered
4. upsert_zordered(emit_changes=True)
5. box, where and point reads
6. a run_change_feed drain, then read_change_feed

and the pass ends with vacuum_zordered. After the pass, a query phase
of point, box and where reads runs on the final table.
``upsert_zordered`` raises while deltas are outstanding (hence 3 before
4) and the drain needs the versions it reads to be retained (hence
vacuum=False until the pass-end vacuum). merge_zordered is not in the
pass: at ~4.5 s per call it does not fit the run-time budget next to
upsert, which shares its bucket-rewrite machinery. Loads
sources.layout, fsio manifest commits and streaming.change_feed; no
hierarchy, no dedup."""

from __future__ import annotations

import os
import shutil

from perfbench.inputs import table_inputs
from perfbench.reference import TableModel, expect_equal, expect_rows

COLS = ("event_id", "user_id", "value", "event_type", "amount")


def _tree_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class TableMaintenance:
    name = "table_maintenance"
    PASS_S = 23   # nominal warm pass, seconds (sets the pass count)
    SIZES = {
        "full": {"rows": 5000, "users": 200, "cycles": 1, "append": 500,
                 "delete": 50, "upsert": 80, "upsert_new": 20,
                 "where_span": 200, "eq_reads": 2, "bits": 8, "bucket_bits": 2,
                 "query_eq": 8, "query_rounds": 2},
        "tiny": {"rows": 300, "users": 20, "cycles": 1, "append": 30,
                 "delete": 5, "upsert": 5, "upsert_new": 3,
                 "where_span": 20, "eq_reads": 1,
                 "bits": 4, "bucket_bits": 2, "query_eq": 2,
                 "query_rounds": 1},
    }

    def prepare(self, spark, work: str, seed: int, size: dict) -> dict:
        self.size = size
        self.inputs = table_inputs(os.path.join(work, "inputs"), seed, size)
        batch_dir = os.path.join(work, "inputs", "model")
        os.makedirs(batch_dir)
        model = TableModel(self.inputs, batch_dir)
        self.expect = model.replay()
        self.final_eq = {k: model.point_read(k)
                         for k in self.inputs.facts["query_keys"]}
        self.plain_bytes = model.plain_bytes(
            os.path.join(batch_dir, "plain.parquet"))
        model.con.close()
        f = self.inputs.files
        batches = [f["base"]] + [f[c[k]] for c in self.inputs.facts["cycles"]
                                 for k in ("append", "delete")]
        batches += [e["upsert"] for e in self.expect]
        self.ingested_bytes = sum(os.path.getsize(p) for p in batches)
        self.root = os.path.join(work, "table")
        return {"rows": self.inputs.facts["rows"],
                "cycles": len(self.expect),
                "ingested_plain_bytes": self.ingested_bytes,
                "final_plain_bytes": self.plain_bytes}

    def _fresh_paths(self, pass_no: int) -> tuple[str, str, str]:
        shutil.rmtree(self.root, ignore_errors=True)
        base = os.path.join(self.root, f"p{pass_no}")
        return (os.path.join(base, "events"), os.path.join(base, "feed"),
                os.path.join(base, "feed_checkpoint"))

    def run_pass(self, r) -> None:
        from aggregation_duckdb_spark.sources import layout as L
        from aggregation_duckdb_spark.streaming import (read_change_feed,
                                                        run_change_feed)

        spark, files = r.spark, self.inputs.files
        table, sink, ckpt = self._fresh_paths(r.pass_no)
        self.table = table
        watch = _TableWatch(r, table)

        base = spark.read.parquet(files["base"])
        bits, bucket_bits = self.size["bits"], self.size["bucket_bits"]
        watch(r.op("layout.write", "layout",
                   lambda: L.write_zordered(base, table, "user_id", "value",
                                            bits=bits,
                                            bucket_bits=bucket_bits)))
        for cyc, exp in zip(self.inputs.facts["cycles"], self.expect):
            v0 = L.table_version(spark, table)
            app = spark.read.parquet(files[cyc["append"]])
            watch(r.op("layout.append", "layout",
                       lambda: L.append_zordered(app, table)))
            dels = spark.read.parquet(files[cyc["delete"]])
            watch(r.op("layout.delete_keys", "layout",
                       lambda: L.delete_zordered_keys(dels, table,
                                                      ["event_id"])))
            self._reads(r, table, cyc, exp["reads_delta"], "_delta")
            watch(r.op("layout.compact", "layout",
                       lambda: L.compact_zordered(spark, table,
                                                  vacuum=False)))
            ups = spark.read.parquet(exp["upsert"])
            watch(r.op("layout.upsert", "layout",
                       lambda: L.upsert_zordered(ups, table, ["event_id"],
                                                 vacuum=False,
                                                 emit_changes=True)))
            self._reads(r, table, cyc, exp["reads"], "")
            r.op("change_feed.run", "change_feed",
                 lambda: run_change_feed(spark, table, sink, ckpt,
                                         key_cols=["event_id"]))
            want = exp["changes"]
            got = r.op("change_feed.read", "change_feed",
                       lambda: read_change_feed(spark, sink,
                                                from_version=v0 + 1)
                       .groupBy("_change_type").count(),
                       action=lambda df: {row[0]: row[1]
                                          for row in df.collect()},
                       check=lambda v: expect_equal(v, want, "change rows"))
            if got is not None:
                r.note("change_feed.rows", sum(got.values()))
        watch(r.op("layout.vacuum", "layout",
                   lambda: L.vacuum_zordered(spark, table, keep_versions=1)))
        live = sum(_tree_files(table).values())
        r.note("layout.live_bytes", live)
        r.note("layout.space_amp", live / self.plain_bytes)
        r.note("layout.write_amp",
               watch.bytes_written / self.ingested_bytes)
        r.note("layout.bytes_written", watch.bytes_written)
        r.note("layout.files_written", watch.files_written)

    def queries(self, r) -> None:
        """The interactive query phase on the table the last pass left
        (compacted and vacuumed): point reads of seeded live keys, and
        the last cycle's box and where reads."""
        cyc = self.inputs.facts["cycles"][-1]
        exp = self.expect[-1]["reads"]
        for k in self.inputs.facts["query_keys"]:
            self._eq(r, self.table, k, self.final_eq[k], "", query=True)
        for _ in range(self.size["query_rounds"]):
            self._box(r, self.table, cyc, exp, "", query=True)
            self._where(r, self.table, cyc, exp, query=True)

    def _reads(self, r, table, cyc, exp, suffix) -> None:
        """Box and point reads; with no delta outstanding also a where
        read and every point key."""
        self._box(r, table, cyc, exp, suffix)
        if not suffix:
            self._where(r, table, cyc, exp)
        for k in cyc["eq"][:1] if suffix else cyc["eq"]:
            self._eq(r, table, k, exp["eq"][k], suffix)

    def _box(self, r, table, cyc, exp, suffix, query=False) -> None:
        from aggregation_duckdb_spark.sources import layout as L

        a_lo, a_hi, v_lo, v_hi = cyc["box"]
        box = L.read_zordered_box_with_delta if suffix else L.read_zordered_box
        r.op(f"layout.read_box{suffix}", "layout",
             lambda: box(r.spark, table, a_lo, a_hi, v_lo, v_hi)
             .select(*COLS),
             action=lambda df: df.collect(),
             check=lambda rows: expect_rows(rows, exp["box"], "box read"),
             query=query)

    def _where(self, r, table, cyc, exp, query=False) -> None:
        from aggregation_duckdb_spark.sources import layout as L

        lo, hi = cyc["where"]
        r.op("layout.read_where", "layout",
             lambda: L.read_zordered_where(
                 r.spark, table, {"event_id": (lo, hi)}).select(*COLS),
             action=lambda df: df.collect(),
             check=lambda rows: expect_rows(rows, exp["where"], "where read"),
             query=query)

    def _eq(self, r, table, k, want, suffix, query=False) -> None:
        from aggregation_duckdb_spark.sources import layout as L

        r.op(f"layout.read_eq{suffix}", "layout",
             lambda: L.read_zordered_eq(r.spark, table,
                                        {"event_id": k}).select(*COLS),
             action=lambda df: df.collect(),
             check=lambda rows: expect_rows(rows, want, "eq read"),
             query=query)


class _TableWatch:
    """Bytes and files that appear under the table root across each
    write op (traced passes only: the directory walk is not free)."""

    def __init__(self, r, root: str):
        self.r, self.root = r, root
        self.bytes_written = 0
        self.files_written = 0
        self.seen: dict[str, int] = {}

    def __call__(self, _result) -> None:
        if not self.r.pass_traced:
            return
        now = _tree_files(self.root)
        for p, size in now.items():
            if self.seen.get(p) != size:
                self.bytes_written += size
                self.files_written += 1
        self.seen = now
