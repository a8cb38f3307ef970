"""Seeded input generation. Everything the program sees comes from
here: the same ``seed`` and size give byte-identical inputs (the
``digest`` of every generated column is part of the result), another
seed gives other inputs of the same shape and size.

Generation is numpy/pyarrow only, outside the timed region; the
program reads the written parquet.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


@dataclass
class Inputs:
    """Paths and generator facts of one workload's inputs."""
    digest: str
    files: dict[str, str] = field(default_factory=dict)
    facts: dict = field(default_factory=dict)


class _Writer:
    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.h = hashlib.sha256()
        self.files: dict[str, str] = {}
        os.makedirs(out_dir, exist_ok=True)

    def table(self, name: str, cols: dict, schema: pa.Schema | None = None,
              sub: str = "") -> str:
        for k in sorted(cols):
            self.h.update(k.encode())
            v = cols[k]
            if isinstance(v, np.ndarray):
                self.h.update(np.ascontiguousarray(v).tobytes())
            else:
                self.h.update("\x00".join(map(str, v)).encode())
        t = pa.table(cols, schema=schema)
        d = os.path.join(self.out_dir, sub)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{name}.parquet")
        pq.write_table(t, path)
        self.files[f"{sub}/{name}" if sub else name] = path
        return path


def _zipf_index(rng, n: int, size: int, a: float = 1.2) -> np.ndarray:
    """Skewed indexes into [0, n): a few hot keys, a long tail."""
    return np.minimum(rng.zipf(a, size) - 1, n - 1)


# ---------------------------------------------------------------------
# hier_report
# ---------------------------------------------------------------------


def _taxonomy(rng, key_base: int, fanout: tuple[int, ...], leaves: int):
    """Root → len(fanout) internal levels → ``leaves`` leaves hung
    under random bottom-level parents (mostly leaves)."""
    keys = [key_base]
    names = ["All Products"]
    levels = ["Total"]
    parents: list[int | None] = [None]
    frontier = [key_base]
    nk = key_base + 1
    for depth, f in enumerate(fanout):
        nxt = []
        for p in frontier:
            for _ in range(f):
                keys.append(nk)
                names.append(f"node-{nk}")
                levels.append(f"Level{depth + 2}")
                parents.append(p)
                nxt.append(nk)
                nk += 1
        frontier = nxt
    leaf_parent = rng.choice(np.array(frontier), size=leaves)
    leaf_keys = np.arange(nk, nk + leaves, dtype=np.int64)
    keys += leaf_keys.tolist()
    names += [f"sku-{k}" for k in leaf_keys.tolist()]
    levels += ["SKU"] * leaves
    parents += leaf_parent.tolist()
    return keys, names, levels, parents, leaf_keys


def hier_report_inputs(out_dir: str, seed: int, size: dict) -> Inputs:
    rng = np.random.default_rng([seed, 1])
    w = _Writer(out_dir)
    node_schema = pa.schema([("natural_key", pa.int64()),
                             ("name", pa.string()),
                             ("level_name", pa.string()),
                             ("parent_natural_key", pa.int64())])
    facts: dict = {}
    for tax, base in (("local", 1_000_000), ("dist", 50_000_000)):
        keys, names, levels, parents, leaf_keys = _taxonomy(
            rng, base, tuple(size[f"{tax}_fanout"]), size[f"{tax}_leaves"])
        w.table(f"nodes_{tax}", {"natural_key": keys, "name": names,
                                 "level_name": levels,
                                 "parent_natural_key": parents},
                node_schema)
        facts[f"{tax}_nodes"] = len(keys)
        facts[f"{tax}_depth"] = len(size[f"{tax}_fanout"]) + 2
        if tax == "local":      # facts and drill-downs hang off this one
            leaves = rng.permutation(leaf_keys)
            internal = np.array(keys[1:len(keys) - len(leaf_keys)])
            facts["local_drill"] = rng.choice(
                internal, size=size["drill_targets"], replace=False).tolist()
    n = size["facts"]
    cols = {
        "leaf_local": leaves[_zipf_index(rng, len(leaves), n)]
        .astype(np.int64),
        "customer_id": _zipf_index(rng, size["customers"], n, 1.1)
        .astype(np.int64),
        "quantity": rng.integers(1, 20, n, dtype=np.int64),
        "amount_cents": rng.integers(1, 100_000, n, dtype=np.int64),
    }
    w.table("facts", cols)
    facts["facts"] = n

    # TPC-H-shaped tables for the prepared flagship entries
    nation_region = np.arange(25, dtype=np.int32) % 5
    w.table("region", {"r_regionkey": np.arange(5, dtype=np.int32),
                       "r_name": [f"REGION{i}" for i in range(5)]},
            sub="tpch")
    w.table("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                       "n_name": [f"NATION{i:02d}" for i in range(25)],
                       "n_regionkey": nation_region}, sub="tpch")
    nc, no = size["tpch_customers"], size["tpch_orders"]
    w.table("customer", {
        "c_custkey": np.arange(1, nc + 1, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(1, nc + 1)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32)},
        sub="tpch")
    w.table("orders", {
        "o_orderkey": np.arange(1, no + 1, dtype=np.int64),
        "o_custkey": (1 + _zipf_index(rng, nc, no, 1.1)).astype(np.int64),
        "o_totalprice": rng.integers(100, 50_000_000, no) / 100.0,
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), no).tolist()},
        sub="tpch")
    facts["tpch_dir"] = os.path.join(out_dir, "tpch")
    facts["tpch_orders"] = no
    return Inputs(w.h.hexdigest(), w.files, facts)


# ---------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------


def _word(seed: int, *parts) -> str:
    return hashlib.md5("|".join(map(str, (seed, *parts))).encode()) \
        .hexdigest()[:6]


def corpus_inputs(out_dir: str, seed: int, size: dict) -> Inputs:
    """Organic corpus: ids in blocks of 20 where role 19 is an exact
    duplicate of the block head, role 18 a one-word-changed near
    duplicate of it and roles 0-17 unique (5% exact, 5% near, 90%
    unique at every size). Words are seed-mixed md5 prefixes in runs
    of three; documents have 30-69 words."""
    rng = np.random.default_rng([seed, 2])
    w = _Writer(out_dir)
    n = size["docs"] - size["docs"] % 20
    ids = np.arange(n, dtype=np.int64)
    texts = []
    total_words = 0
    for i in range(n):
        role = i % 20
        src = i - role if role >= 18 else i
        length = 30 + src % 40
        words = [_word(seed, src, j - j % 3) for j in range(length)]
        if role == 18:
            words[4] = _word(seed, i, "!")
        total_words += length
        texts.append(" ".join(words))
    sources = rng.integers(0, 5, n)
    w.table("documents", {
        "doc_id": ids, "text": texts,
        "lang": rng.choice(np.array(["en", "de", "fr"]), n).tolist(),
        "source": [f"src{s}" for s in sources.tolist()],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    m, dim = size["vectors"], size["dim"]
    vec = rng.standard_normal((m, dim)).astype(np.float32)
    dup = np.arange(1, m, size["vector_dup_every"])
    vec[dup] = vec[dup - 1] + 1e-3 * rng.standard_normal(
        (len(dup), dim)).astype(np.float32)
    w.table("embeddings", {
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 8, m).astype(np.int32)})
    w.h.update(vec.tobytes())

    blocks = n // 20
    facts = {
        "docs": n, "blocks": blocks, "total_words": total_words,
        "exact_dup_docs": blocks, "near_dup_docs": blocks,
        # within a block: head~19 (identical), head~18 and 19~18
        # (one word changed); no pair across blocks shares a shingle
        "similar_pairs": {(b * 20 + x, b * 20 + y)
                          for b in range(blocks)
                          for x, y in ((0, 18), (0, 19), (18, 19))},
        "vectors": m, "dim": dim,
        "vector_dup_pairs": len(dup),
        "topk_queries": rng.choice(m, size["topk_queries"],
                                   replace=False).tolist(),
        "bm25_queries": [
            [texts[d].split()[3 * j] for j in (1, 4)]
            for d in rng.choice(n, size["bm25_queries"], replace=False)],
        "texts": texts, "vec": vec,
    }
    return Inputs(w.h.hexdigest(), w.files, facts)


# ---------------------------------------------------------------------
# table_maintenance
# ---------------------------------------------------------------------


EVENT_SCHEMA = pa.schema([("event_id", pa.int64()), ("user_id", pa.int64()),
                          ("value", pa.float64()),
                          ("event_type", pa.string()),
                          ("amount", pa.int64())])


def _events(rng, ids: np.ndarray, users: int) -> dict:
    n = len(ids)
    return {"event_id": ids.astype(np.int64),
            "user_id": _zipf_index(rng, users, n, 1.3).astype(np.int64),
            "value": rng.integers(0, 1000, n).astype(np.float64),
            "event_type": rng.choice(
                np.array(["view", "click", "cart", "buy"]), n).tolist(),
            "amount": rng.integers(1, 1000, n, dtype=np.int64)}


def table_inputs(out_dir: str, seed: int, size: dict) -> Inputs:
    """Base event rows plus, for each cycle of a pass, the append
    batch, the keys to delete and the upsert rows.
    Every pass replays the same cycles on a fresh table, so the
    reference model is computed once per seed."""
    rng = np.random.default_rng([seed, 3])
    w = _Writer(out_dir)
    users = size["users"]
    base_n = size["rows"]
    w.table("base", _events(rng, np.arange(base_n), users), EVENT_SCHEMA)
    live = {i for i in range(base_n)}
    next_id = base_n
    cycles = []
    for c in range(size["cycles"]):
        app = _events(rng, np.arange(next_id, next_id + size["append"]), users)
        next_id += size["append"]
        w.table(f"append_{c}", app, EVENT_SCHEMA, sub="cycles")
        live |= set(app["event_id"].tolist())
        pool = np.array(sorted(live))
        picks = rng.choice(pool, size["delete"] + size["upsert"],
                           replace=False)
        dels = np.sort(picks[:size["delete"]])
        live -= set(dels.tolist())
        w.table(f"delete_{c}", {"event_id": dels.astype(np.int64)},
                sub="cycles")
        ups_keys = np.sort(picks[size["delete"]:])
        new_ups = np.arange(next_id, next_id + size["upsert_new"])
        next_id += size["upsert_new"]
        live |= set(new_ups.tolist())
        cycles.append({"append": f"cycles/append_{c}",
                       "delete": f"cycles/delete_{c}",
                       "upsert_keys": ups_keys.tolist(),
                       "upsert_new": _events(rng, new_ups, users),
                       "upsert_type": f"upsert-{c}"})
        w.h.update(repr(ups_keys.tolist()).encode())
        for col in sorted(cycles[-1]["upsert_new"]):
            w.h.update(str(cycles[-1]["upsert_new"][col]).encode())
        # reads of this cycle: a box, an event_id range, point keys
        a_lo = int(rng.integers(0, max(1, users // 4)))
        v_lo = float(rng.integers(0, 700))
        cycles[-1]["box"] = (a_lo, a_lo + users // 4, v_lo, v_lo + 300.0)
        lo = int(rng.integers(0, base_n))
        cycles[-1]["where"] = (lo, lo + size["where_span"])
        cycles[-1]["eq"] = rng.choice(np.array(sorted(live)),
                                      size["eq_reads"],
                                      replace=False).tolist()
    query_keys = rng.choice(np.array(sorted(live)), size["query_eq"],
                            replace=False).tolist()
    w.h.update(repr(query_keys).encode())
    facts = {"rows": base_n, "users": users, "cycles": cycles,
             "query_keys": query_keys}
    return Inputs(w.h.hexdigest(), w.files, facts)
