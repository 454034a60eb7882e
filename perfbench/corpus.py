"""``corpus`` workload: a seeded permutation of 14 LLM-data-pipeline
registered queries per pass over a cached documents/embeddings fixture."""

from __future__ import annotations

import time
from collections.abc import Iterator

import numpy as np

import checks
import gen
from harness import Bench

QUERIES = [
    "q_dedup_exact",
    "q_dedup_minhash_survivors",
    "q_dedup_semantic",
    "q_similarity_join_md5",
    "q_ann_ivf_md5",
    "q_textrank_keywords",
    "q_corpus_prep",
    "q_tfidf_top_terms",
    "q_quality_filter",
    "q_contamination_ngram",
    "q_duplicate_spans",
    "q_topk_cosine",
    "q_multimodal_decode",
    "q_bm25_score",
]
TABLES = ["documents", "embeddings"]
# The fixture is fixed, like the seed-42 fixtures of FIXTURES.md; the run seed
# permutes the query order of every pass.
FIXTURE_SEED = 42
N_DOCS = 500
N_VECS = 500
SETUP_REPS = 3


def setup(b: Bench, ctx) -> dict:
    from nyc_taxi_etl_pyspark_spark.plans.registry import all_query_specs
    from nyc_taxi_etl_pyspark_spark.sources import tables

    specs = all_query_specs()
    sf = f"{ctx.work}/sf"
    reps, loads = [], []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        size = gen.write_corpus_fixture(FIXTURE_SEED, sf, N_DOCS, N_VECS)
        tables.clear_cache()
        t1 = time.perf_counter()
        for t in TABLES:
            tables.load_table(b.spark, sf, t).count()
        t2 = time.perf_counter()
        reps.append(t2 - t0)
        loads.append(t2 - t1)
    # warm-up pass (JIT, Python workers, operator-side caches); its results
    # are the ones checked against the oracle after timing
    results = {}
    for n in QUERIES:
        b.attempted += 1
        try:
            results[n] = specs[n].fn(b.spark, sf).toPandas()
        except Exception as e:  # a failed query is counted, not fatal
            b.check(f"{n}: {type(e).__name__}: {e}")
    b.spark.range(1).write.format("noop").mode("overwrite").save()
    return {
        "specs": specs,
        "sf": sf,
        "results": results,
        "setup_reps": reps,
        "layers": {
            "sources.tables.cold_load_s": float(np.median(loads)),
            "sources.tables.input_bytes": float(size),
        },
    }


def run_pass(b: Bench, ctx, state: dict, pass_no: int, traced: bool) -> Iterator[None]:
    rng = np.random.default_rng([ctx.seed, pass_no])
    specs, sf = state["specs"], state["sf"]
    for i in rng.permutation(len(QUERIES)):
        name = QUERIES[i]
        fn = specs[name].fn
        b.df_op(name, "query", pass_no, traced, lambda: fn(b.spark, sf), "plans.build")
        yield


def verify(b: Bench, state: dict) -> None:
    """The warm-up results against the registry's DuckDB oracles."""
    for name, frame in state["results"].items():
        oracle = state["specs"][name].oracle
        b.check(checks.against_oracle(name, frame, oracle, state["sf"], TABLES))
