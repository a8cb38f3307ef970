"""hier_report: the paper's workload. Flatten two generated product
taxonomies (one on the driver-local flatten path, one on the
distributed BFS path), build the reporting dimension and the closure
table, aggregate a skewed fact table up each hierarchy by closure
join, ROLLUP and two-stage exact distinct, answer seeded subtree
drill-down and run the three prepared flagship entries (first call:
plan built); after the pass, the query phase repeats the prepared
entries (memo hits) and the other drill-downs, and the reference's
golden 7-row answer is checked. No writes, no
Python workers. Aggregates run over the driver-local taxonomy; the
distributed one is flattened only."""

from __future__ import annotations

import os

from perfbench.inputs import hier_report_inputs
from perfbench.reference import (expect_equal, expect_rows,
                                 hier_references)
from perfbench.harness import WrongAnswer

PREPARED = ("hier_agg_closure", "hier_agg_rollup", "hier_distinct_twostage")


class HierReport:
    name = "hier_report"
    PASS_S = 11   # nominal warm pass, seconds (sets the pass count)
    SIZES = {
        "full": {"local_fanout": (5, 5, 5), "local_leaves": 1000,
                 "dist_fanout": (3, 3), "dist_leaves": 60,
                 "facts": 50_000, "customers": 5_000,
                 "drill_targets": 3, "report_rounds": 6,
                 "tpch_customers": 1500, "tpch_orders": 20_000},
        "tiny": {"local_fanout": (2, 2), "local_leaves": 40,
                 "dist_fanout": (2,), "dist_leaves": 10,
                 "facts": 500, "customers": 50,
                 "drill_targets": 2, "report_rounds": 1,
                 "tpch_customers": 50,
                 "tpch_orders": 300},
    }

    def prepare(self, spark, work: str, seed: int, size: dict) -> dict:
        from aggregation_duckdb_spark import matrix
        from aggregation_duckdb_spark.hierarchy import HierarchyConfig

        self.size = size
        self.inputs = hier_report_inputs(os.path.join(work, "inputs"),
                                         seed, size)
        self.ref = hier_references(self.inputs)
        self.entries = matrix.queries()
        # The distributed BFS flatten runs on the second taxonomy via
        # the public threshold knob (0 forces it), so both paths of the
        # size-selected branch run every pass at a size one pass can
        # afford; see NOTES.md for the sizing.
        self.configs = {"local": None,
                        "dist": HierarchyConfig(local_build_threshold=0)}
        f = self.inputs.facts
        return {"local_nodes": f["local_nodes"], "dist_nodes": f["dist_nodes"],
                "local_depth": f["local_depth"], "dist_depth": f["dist_depth"],
                "facts": f["facts"], "tpch_orders": f["tpch_orders"],
                "local_closure_rows": self.ref["local_closure_rows"],
                "dist_closure_rows": self.ref["dist_closure_rows"],
                "local_build_threshold":
                    HierarchyConfig().local_build_threshold}

    def run_pass(self, r) -> None:
        from pyspark.sql import functions as F

        from aggregation_duckdb_spark.hierarchy import Hierarchy
        from aggregation_duckdb_spark.operators.aggregate import (
            aggregate_with_closure, aggregate_with_rollup,
            distinct_count_two_stage)

        spark, ref, files = r.spark, self.ref, self.inputs.files
        facts = spark.read.parquet(files["facts"])

        def measures():
            return [F.sum("amount_cents").alias("amount"),
                    F.sum("quantity").alias("quantity"),
                    F.count_distinct("customer_id").alias("customers"),
                    F.count(F.lit(1)).alias("n")]

        h = None
        for tax in ("local", "dist"):
            nodes = spark.read.parquet(files[f"nodes_{tax}"])
            built = r.op("hierarchy.from_adjacency", "hierarchy",
                         lambda: Hierarchy.from_adjacency(
                             nodes, natural_key="natural_key", name="name",
                             level_name="level_name",
                             parent_natural_key="parent_natural_key",
                             config=self.configs[tax]))
            if built is None:
                return
            n_nodes = self.inputs.facts[f"{tax}_nodes"]
            r.op(f"hierarchy.flattened_{tax}", "hierarchy", built.flattened,
                 action=lambda df: df.count(),
                 check=lambda n: expect_equal(n, n_nodes, "flattened rows"))
            h = h or built      # the distributed path is flattened only

        key = "leaf_local"
        rd = r.op("hierarchy.reporting_dim", "hierarchy", h.reporting_dim,
                  action=lambda df: df,
                  check=lambda df: expect_equal(
                      len(df.columns), 11 + 4 * h.depth, "dim width"))
        want_rows = ref["local_closure_rows"]
        cl = r.op("hierarchy.closure", "hierarchy", h.closure,
                  action=lambda df: (df, df.count()),
                  check=lambda v: expect_equal(v[1], want_rows,
                                               "closure rows"))
        if rd is None or cl is None:
            return
        cl = cl[0]
        r.note("hierarchy.closure_rows", want_rows)
        want = ref["local_measures_hash"]
        r.op("aggregate.closure", "aggregate",
             lambda: aggregate_with_closure(facts, cl, key, measures(),
                                            reporting_dim=rd),
             action=lambda df: df.select(
                 "ancestor_node_natural_key", "amount", "quantity",
                 "customers", "n").collect(),
             check=lambda rows: expect_rows(rows, want, "closure agg"))
        r.op("aggregate.rollup", "aggregate",
             lambda: aggregate_with_rollup(facts, rd, key, measures(),
                                           num_levels=h.depth),
             action=lambda df: df.select(
                 "ancestor_node_natural_key", "amount", "quantity",
                 "customers", "n").collect(),
             check=lambda rows: expect_rows(rows, want, "rollup agg"))
        want_d = ref["local_distinct_hash"]
        r.op("aggregate.distinct", "aggregate",
             lambda: distinct_count_two_stage(
                 facts, cl, key, "customer_id",
                 group_cols=["ancestor_node_natural_key"]),
             action=lambda df: df.collect(),
             check=lambda rows: expect_rows(rows, want_d,
                                            "two-stage distinct"))
        self.local = (h, facts)
        self._drill(r, self.inputs.facts["local_drill"][0])

        for name in PREPARED:
            self._report(r, name)

    def queries(self, r) -> None:
        """The interactive query phase after the pass: report queries
        (prepared entries, memo hits) and drill-downs on the local
        hierarchy the pass built."""
        for _ in range(self.size["report_rounds"]):
            for name in PREPARED:
                self._report(r, name, query=True)
        for k in self.inputs.facts["local_drill"][1:]:
            self._drill(r, k, query=True)

    def _drill(self, r, k, query: bool = False) -> None:
        from pyspark.sql import functions as F

        h, facts = self.local
        m = self.ref["local_measures"].get(k)
        want = (m[0], m[3]) if m else (None, 0)
        r.op("hierarchy.subtree_facts", "hierarchy",
             lambda: h.subtree_facts(facts, "leaf_local", k).agg(
                 F.sum("amount_cents"), F.count(F.lit(1))),
             action=lambda df: tuple(df.collect()[0]),
             check=lambda v: expect_equal(v, want, "drill-down"),
             query=query)

    def _report(self, r, name: str, query: bool = False) -> None:
        sf_dir = self.inputs.facts["tpch_dir"]
        want = self.ref[name]
        r.op(f"matrix.{name}", "matrix",
             lambda: self.entries[name](r.spark, sf_dir),
             action=lambda df: df.collect(),
             check=lambda rows: expect_rows(rows, want, "flagship"),
             query=query)

    def gate(self, r) -> None:
        """Once per run, after the passes: the reference's golden 7-row
        answer (counted in attempted/failed, not in any pass)."""
        r.op("aggregate.golden", "aggregate", self._golden(r.spark),
             action=lambda df: df.collect(), check=_check_golden)

    @staticmethod
    def _golden(spark):
        from pyspark.sql import functions as F

        from aggregation_duckdb_spark import reference_fixtures as rf
        from aggregation_duckdb_spark.operators.aggregate import (
            aggregate_with_closure, standard_measures)

        def build():
            h = rf.product_hierarchy(spark)
            agg = aggregate_with_closure(
                rf.sales_facts_df(spark), h.closure(), "product_id",
                standard_measures("sales_amount", "unit_quantity",
                                  "customer_id"),
                reporting_dim=h.reporting_dim())
            return agg.select(
                F.col("ancestor_node_natural_key").cast("long"),
                "ancestor_node_name", "ancestor_level_name",
                "ancestor_level_number", "sum_of_sales_amount",
                "sum_of_unit_quantity", "distinct_customer_count",
                "count_of_fact_records")
        return build


def _check_golden(rows) -> None:
    from aggregation_duckdb_spark.reference_fixtures import GOLDEN_AGGREGATE
    got = [tuple(r) for r in rows]
    if got != [tuple(g) for g in GOLDEN_AGGREGATE]:   # Decimal: by value
        raise WrongAnswer(f"golden 7-row answer differs: {got!r}")
