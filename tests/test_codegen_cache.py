"""Spark's compiled-class cache is sized to the engine's working set.

At Spark's default of 100 entries, one warm pass of the corpus queries
(about 290 generated classes) evicted its own classes and recompiled nearly
all of them with Janino on every pass. The file name sorts first in
``tests/`` so that round 1 below is the session's first run of these
queries.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from nyc_taxi_etl_pyspark_spark.plans.registry import all_query_specs
from nyc_taxi_etl_pyspark_spark.session import (
    CODEGEN_CACHE_CONF,
    CODEGEN_CACHE_ENTRIES,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CORPUS_QUERIES = [
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


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_pass_reuses_generated_classes(spark, sf_dir):
    assert int(spark.conf.get(CODEGEN_CACHE_CONF)) == CODEGEN_CACHE_ENTRIES
    specs = all_query_specs()
    compiled = []
    for _ in range(3):
        before = _compilations(spark)
        for name in CORPUS_QUERIES:
            df = specs[name].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
        compiled.append(_compilations(spark) - before)
    assert compiled[0] > 0, compiled
    assert compiled[2] < 0.1 * compiled[0], compiled


_VANILLA_SESSION = """
import json, logging
from pyspark.sql import SparkSession
from nyc_taxi_etl_pyspark_spark.session import ensure_session_conf

records = []
handler = logging.Handler()
handler.emit = records.append
logging.getLogger("spark_graft").addHandler(handler)
spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
for _ in range(3):
    ensure_session_conf(spark)
spark.stop()
print(json.dumps([[r.conf, r.found, r.wanted] for r in records]))
"""


def test_vanilla_session_logs_small_codegen_cache_once():
    """A session the engine did not build keeps Spark's 100-entry cache
    (a static conf); ``ensure_session_conf`` says so in exactly one
    ``spark_graft`` record for the application."""
    path = [REPO, os.environ.get("PYTHONPATH", "")]
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(path))
    out = subprocess.run(
        [sys.executable, "-c", _VANILLA_SESSION],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    records = json.loads(out.stdout.strip().splitlines()[-1])
    assert records == [[CODEGEN_CACHE_CONF, 100, CODEGEN_CACHE_ENTRIES]]
