"""corpus_curation: the LLM-data-pipeline path. Text statistics, exact
dedup, MinHash-LSH candidates and verified near duplicates, exact
prefix-filter pairs, SimHash groups, embedding near duplicates, the
full curation pipeline (quality gate, exact and near-dup cluster
keepers, decontamination, split counts), one top-k and one BM25
search; then a query phase of top-k and BM25 searches. Loads the
dedup/similarity/text/pipeline operators and runtime.materialize
checkpoints; no hierarchy, no table writes."""

from __future__ import annotations

import os

from perfbench.harness import WrongAnswer
from perfbench.inputs import corpus_inputs
from perfbench.reference import corpus_references, expect_equal, expect_rows

def _pairs(rows) -> set:
    return {(int(r[0]), int(r[1])) for r in rows}


class CorpusCuration:
    name = "corpus_curation"
    PASS_S = 14   # nominal warm pass, seconds (sets the pass count)
    SIZES = {
        "full": {"docs": 600, "vectors": 200, "dim": 32,
                 "vector_dup_every": 25, "topk_queries": 4,
                 "bm25_queries": 6},
        "tiny": {"docs": 100, "vectors": 60, "dim": 8,
                 "vector_dup_every": 10, "topk_queries": 2,
                 "bm25_queries": 2},
    }

    def prepare(self, spark, work: str, seed: int, size: dict) -> dict:
        from aggregation_duckdb_spark import matrix

        self.inputs = corpus_inputs(os.path.join(work, "inputs"), seed, size)
        self.ref = corpus_references(self.inputs)
        self.entries = matrix.queries()
        self.corpus_dir = os.path.dirname(self.inputs.files["documents"])
        f = self.inputs.facts
        return {"docs": f["docs"], "exact_dup_docs": f["exact_dup_docs"],
                "near_dup_docs": f["near_dup_docs"], "vectors": f["vectors"],
                "dim": f["dim"], "total_words": f["total_words"],
                "documents_bytes": os.path.getsize(
                    self.inputs.files["documents"])}

    def run_pass(self, r) -> None:
        from pyspark.sql import functions as F

        from aggregation_duckdb_spark.operators import dedup as D
        from aggregation_duckdb_spark.operators import similarity as S
        from aggregation_duckdb_spark.operators import text as T

        spark, f, ref = r.spark, self.inputs.facts, self.ref
        docs = spark.read.parquet(self.inputs.files["documents"])
        emb = spark.read.parquet(self.inputs.files["embeddings"])
        n, blocks, similar = f["docs"], f["blocks"], f["similar_pairs"]
        exact = {(b * 20, b * 20 + 19) for b in range(blocks)}

        r.op("text.stats", "text", lambda: T.text_stats(docs).agg(
                 F.count(F.lit(1)), F.sum("n_tokens")),
             action=lambda df: tuple(df.collect()[0]),
             check=lambda v: expect_equal(v, (n, f["total_words"]),
                                          "docs, tokens"))
        r.op("dedup.exact", "dedup", lambda: D.exact_dedup(docs),
             action=lambda df: df.count(),
             check=lambda v: expect_equal(v, n - blocks, "exact survivors"))
        cands = r.op("dedup.lsh_candidates", "dedup",
                     lambda: D.minhash_lsh_candidates(docs),
                     action=lambda df: _pairs(df.collect()),
                     check=lambda p: _lsh_pairs(p, similar, exact,
                                                "candidates"))
        verified = r.op("dedup.near_duplicates", "dedup",
                        lambda: D.near_duplicates(docs, threshold=0.6),
                        action=lambda df: _pairs(df.select(
                            "doc_a", "doc_b").collect()),
                        check=lambda p: _lsh_pairs(p, similar, exact,
                                                   "near_duplicates"))
        if cands is not None and verified is not None:
            r.note("dedup.candidate_pairs", len(cands))
            r.note("dedup.verified_pairs", len(verified))
        r.op("dedup.prefix_pairs", "dedup",
             lambda: D.prefix_filter_pairs(docs, threshold=0.6),
             action=lambda df: _pairs(df.select("doc_a", "doc_b").collect()),
             check=lambda p: expect_equal(p == similar, True,
                                          "prefix-filter pair set is exact"))
        r.op("dedup.simhash", "dedup", lambda: D.simhash_groups(docs).agg(
                 F.sum("group_size"), F.count(F.lit(1))),
             action=lambda df: tuple(df.collect()[0]),
             check=lambda v: _simhash(v, n, blocks))
        r.op("similarity.embedding_neardup", "similarity",
             lambda: S.embedding_near_duplicates(emb, threshold=0.99),
             action=lambda df: df.count(),
             check=lambda v: expect_equal(v, ref["vector_dup_pairs"],
                                          "embedding near-dup pairs"))
        r.op("pipeline.curate", "pipeline",
             lambda: self.entries["pipeline_end_to_end"](spark,
                                                         self.corpus_dir),
             action=lambda df: df.collect(),
             check=lambda rows: expect_rows(rows, ref["pipeline"],
                                            "curation pipeline"))
        self.emb, self.docs = emb, docs
        self._topk(r, f["topk_queries"][0])
        self._bm25(r, 0)

    def queries(self, r) -> None:
        """The interactive query phase after the pass: top-k and BM25
        searches."""
        for i in range(1, len(self.inputs.facts["bm25_queries"])):
            self._bm25(r, i, query=True)
        for q in self.inputs.facts["topk_queries"][1:]:
            self._topk(r, q, query=True)

    def _topk(self, r, q: int, query: bool = False) -> None:
        from pyspark.sql import functions as F

        from aggregation_duckdb_spark.operators import similarity as S

        emb, want = self.emb, self.ref["topk"][q]
        r.op("similarity.topk", "similarity",
             lambda: S.brute_force_topk(emb, emb.where(F.col("vec_id") == q),
                                        k=10),
             action=lambda df: [int(x[0]) for x in df.orderBy("rank")
                                .select("neighbor_id").collect()],
             check=lambda ids: expect_equal(ids, want, "top-k ids"),
             query=query)

    def _bm25(self, r, i: int, query: bool = False) -> None:
        from aggregation_duckdb_spark.operators import text as T

        terms = self.inputs.facts["bm25_queries"][i]
        match = self.ref["bm25"][i]
        r.op("text.bm25_search", "text",
             lambda: T.bm25_search(self.docs, terms, top_k=10),
             action=lambda df: [(int(x[0]), x[1]) for x in
                                df.select("doc_id", "score").collect()],
             check=lambda hits: _check_bm25(hits, match), query=query)


def _lsh_pairs(pairs: set, similar: set, exact: set, what: str) -> None:
    """LSH output: only generator-similar pairs, and every exact
    duplicate pair (identical signatures share every band). Near pairs
    may be missed by the banding S-curve, so they are not required."""
    extra = pairs - similar
    if extra:
        raise WrongAnswer(f"{what}: {len(extra)} pairs the generator did "
                          "not make similar")
    missed = exact - pairs
    if missed:
        raise WrongAnswer(f"{what}: {len(missed)} exact-duplicate pairs "
                          "missing")


def _simhash(v, n: int, blocks: int) -> None:
    members, groups = v
    expect_equal(members, n, "simhash members")
    if groups > n - blocks:     # exact duplicates always share a hash
        raise WrongAnswer(f"simhash: {groups} groups > {n - blocks}")


def _check_bm25(hits: list, match: set) -> None:
    """Top 10 by score: every document holding a query term when there
    are at most 10 of them, else 10 of them; scored documents only."""
    if len(hits) > 10:
        raise WrongAnswer(f"bm25 returned {len(hits)} rows for top_k=10")
    scored = {d for d, s in hits if s > 0}
    if not scored <= match:
        raise WrongAnswer("bm25 scored a document without a query term")
    expect_equal(len(scored), min(10, len(match)), "bm25 scored hits")
