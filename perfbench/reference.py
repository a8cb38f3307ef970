"""Reference answers, computed with DuckDB (or plain Python) from the
generated inputs, once per seed and outside the timed region, plus
the order-insensitive comparison the correctness gate uses."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

from perfbench.harness import WrongAnswer


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(v)
    if isinstance(v, decimal.Decimal):
        return format(v.normalize(), "f")
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def canon(rows) -> list[tuple]:
    """Rows as sorted, normalized tuples: equal for equal multisets."""
    out = [tuple(_norm(x) for x in r) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x))
                                 for x in t))
    return out


def rows_hash(rows) -> str:
    return hashlib.sha256(repr(canon(rows)).encode()).hexdigest()


def expect_rows(got, want_hash: str, what: str) -> None:
    if rows_hash(got) != want_hash:
        raise WrongAnswer(f"{what}: result hash differs from the reference")


def expect_equal(got, want, what: str) -> None:
    if got != want:
        raise WrongAnswer(f"{what}: got {got!r}, want {want!r}")


# ---------------------------------------------------------------------
# hier_report
# ---------------------------------------------------------------------


def _closure_cte(nodes_path: str) -> str:
    return f"""
    WITH RECURSIVE nodes AS (SELECT * FROM read_parquet('{nodes_path}')),
    lv AS (
        SELECT natural_key AS nk, [natural_key] AS path FROM nodes
        WHERE parent_natural_key IS NULL
        UNION ALL
        SELECT n.natural_key, list_append(lv.path, n.natural_key)
        FROM nodes n JOIN lv ON n.parent_natural_key = lv.nk),
    cl AS (SELECT UNNEST(path) AS anc, nk AS dsc FROM lv)"""


def hier_references(inputs) -> dict:
    """Per taxonomy the closure row count; over the local one the
    per-ancestor measures (sum amount, sum quantity, distinct
    customers, fact count); per
    prepared flagship entry: the hash of its DuckDB oracle answer."""
    import duckdb

    from aggregation_duckdb_spark import matrix

    con = duckdb.connect()
    ref: dict = {}
    facts = inputs.files["facts"]
    for tax in ("local", "dist"):
        ref[f"{tax}_closure_rows"] = con.execute(
            _closure_cte(inputs.files[f"nodes_{tax}"])
            + " SELECT COUNT(*) FROM cl").fetchone()[0]
    rows = con.execute(f"""{_closure_cte(inputs.files["nodes_local"])}
        SELECT cl.anc, SUM(f.amount_cents), SUM(f.quantity),
               COUNT(DISTINCT f.customer_id), COUNT(*)
        FROM read_parquet('{facts}') f
        JOIN cl ON f.leaf_local = cl.dsc GROUP BY cl.anc""").fetchall()
    ref["local_measures"] = {r[0]: tuple(r[1:]) for r in rows}
    ref["local_measures_hash"] = rows_hash(rows)
    ref["local_distinct_hash"] = rows_hash([(r[0], r[3]) for r in rows])
    tpch = inputs.facts["tpch_dir"]
    for t in ("region", "nation", "customer", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tpch}/{t}.parquet')")
    oracles = matrix.oracle_sql()
    for name in ("hier_agg_closure", "hier_agg_rollup",
                 "hier_distinct_twostage"):
        ref[name] = rows_hash(con.execute(oracles[name]).fetchall())
    con.close()
    return ref


# ---------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------


def corpus_references(inputs) -> dict:
    """The curation pipeline's DuckDB oracle answer, exact top-k
    neighbours for every query vector, and the matching-document sets
    of the BM25 queries."""
    import duckdb
    import numpy as np

    from aggregation_duckdb_spark import matrix

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{inputs.files['documents']}')")
    ref = {"pipeline": rows_hash(_pipeline_oracle(
        con, matrix.oracle_sql()["pipeline_end_to_end"]))}
    con.close()

    vec = inputs.facts["vec"].astype(np.float64)
    unit = vec / np.linalg.norm(vec, axis=1, keepdims=True)
    topk = {}
    for q in inputs.facts["topk_queries"]:
        sims = unit @ unit[q]
        sims[q] = -np.inf
        order = np.lexsort((np.arange(len(sims)), -sims))[:10]
        topk[q] = order.tolist()
    ref["topk"] = topk
    sims = unit @ unit.T
    ref["vector_dup_pairs"] = int((np.triu(sims, 1) >= 0.99).sum())
    words = [set(t.split()) for t in inputs.facts["texts"]]
    ref["bm25"] = [{i for i, w in enumerate(words) if w & set(terms)}
                   for terms in inputs.facts["bm25_queries"]]
    return ref


def _pipeline_oracle(con, sql: str) -> list:
    """The curation pipeline's DuckDB oracle, evaluated fast: its
    recursive connected-components CTE (``reach2``/``labels2``: each
    near-duplicate doc labelled with the smallest id of its component)
    is replaced by the same labels from a union-find over the oracle's
    own ``edges2``, and the CTEs are materialized instead of inlined.
    The answer is the oracle's (checked equal on generated corpora);
    the plain oracle takes ~30 ms per document here."""
    import re

    import pyarrow as pa

    i, j = sql.index("reach2 AS ("), sql.index("s3 AS (")
    materialized = re.compile(r"(?m)^(\w+) AS \(")
    head = materialized.sub(r"\1 AS MATERIALIZED (", sql[:i])
    edges = con.execute(head.rstrip().rstrip(",")
                        + "\nSELECT a, b FROM edges2").fetchall()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    ids = sorted(parent)
    con.register("perfbench_labels", pa.table({
        "id": pa.array(ids, pa.int64()),
        "cluster_id": pa.array([find(x) for x in ids], pa.int64())}))
    tail = materialized.sub(r"\1 AS MATERIALIZED (", sql[j:])
    return con.execute(
        head + "labels2 AS (SELECT id, cluster_id FROM perfbench_labels),\n"
        + tail).fetchall()


# ---------------------------------------------------------------------
# table_maintenance
# ---------------------------------------------------------------------


class TableModel:
    """DuckDB model of the Z-ordered table: replays the same mutations
    with plain SQL and answers every read the workload makes."""

    COLS = "event_id, user_id, value, event_type, amount"

    def __init__(self, inputs, batch_dir: str):
        import duckdb
        self.con = duckdb.connect()
        self.inputs = inputs
        self.batch_dir = batch_dir
        f = inputs.files
        self.con.execute(f"CREATE TABLE ev AS SELECT {self.COLS} "
                         f"FROM read_parquet('{f['base']}')")

    def _rows(self, where: str) -> list:
        return self.con.execute(
            f"SELECT {self.COLS} FROM ev WHERE {where}").fetchall()

    def _write_batch(self, name: str, sql: str) -> str:
        path = f"{self.batch_dir}/{name}.parquet"
        self.con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
        return path

    def point_read(self, key: int) -> str:
        return rows_hash(self._rows(f"event_id = {key}"))

    def reads(self, cyc: dict) -> dict:
        a_lo, a_hi, v_lo, v_hi = cyc["box"]
        lo, hi = cyc["where"]
        return {
            "box": rows_hash(self._rows(
                f"user_id BETWEEN {a_lo} AND {a_hi} "
                f"AND value BETWEEN {v_lo} AND {v_hi}")),
            "where": rows_hash(self._rows(
                f"event_id BETWEEN {lo} AND {hi}")),
            "eq": {k: self.point_read(k) for k in cyc["eq"]},
        }

    def replay(self) -> list[dict]:
        """Apply every cycle; per cycle return the batch files the
        workload feeds the program, the expected reads after the
        delete phase and after the upsert, and the expected
        change-feed rows per change type."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from perfbench.inputs import EVENT_SCHEMA

        out = []
        for c, cyc in enumerate(self.inputs.facts["cycles"]):
            f = self.inputs.files
            changes = {"insert": 0, "delete": 0, "update_preimage": 0,
                       "update_postimage": 0}
            app = f[cyc["append"]]
            changes["insert"] += self.con.execute(
                f"SELECT COUNT(*) FROM read_parquet('{app}')").fetchone()[0]
            self.con.execute(f"INSERT INTO ev SELECT {self.COLS} "
                             f"FROM read_parquet('{app}')")
            dels = f[cyc["delete"]]
            changes["delete"] += self.con.execute(
                f"SELECT COUNT(*) FROM ev WHERE event_id IN "
                f"(SELECT event_id FROM read_parquet('{dels}'))"
            ).fetchone()[0]
            self.con.execute(f"DELETE FROM ev WHERE event_id IN "
                             f"(SELECT event_id FROM read_parquet('{dels}'))")
            reads_delta = self.reads(cyc)

            new_path = f"{self.batch_dir}/upsert_new_{c}.parquet"
            pq.write_table(pa.table(cyc["upsert_new"], schema=EVENT_SCHEMA),
                           new_path)
            keys = ",".join(map(str, cyc["upsert_keys"]))
            upsert = self._write_batch(f"upsert_{c}", f"""
                SELECT event_id, user_id, value,
                       '{cyc['upsert_type']}' AS event_type, amount
                FROM ev WHERE event_id IN ({keys})
                UNION ALL SELECT * FROM read_parquet('{new_path}')""")
            changes["update_preimage"] += len(cyc["upsert_keys"])
            changes["update_postimage"] += len(cyc["upsert_keys"])
            changes["insert"] += len(cyc["upsert_new"]["event_id"])
            self.con.execute(f"DELETE FROM ev WHERE event_id IN ({keys})")
            self.con.execute(f"INSERT INTO ev SELECT * FROM "
                             f"read_parquet('{upsert}')")

            out.append({"upsert": upsert,
                        "reads_delta": reads_delta,
                        "reads": self.reads(cyc),
                        "changes": {k: v for k, v in changes.items() if v}})
        return out

    def plain_bytes(self, path: str) -> int:
        """Size of the model's live rows written once as plain
        parquet."""
        import os
        self.con.execute(f"COPY (SELECT {self.COLS} FROM ev ORDER BY "
                         f"event_id) TO '{path}' (FORMAT PARQUET)")
        return os.path.getsize(path)
