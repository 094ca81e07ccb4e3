"""Per-term constants do not recompile a plan.

A search's per-term values (idf, cf) reach the score expression as a
term -> value map literal, also for a single term.  Whole-stage codegen
inlines a double literal into the generated Java, so each fresh term
would compile new code; a map literal is passed by reference, so a fresh
term's plan reuses the code compiled for the last one.  Counted with
Spark's ``CodegenMetrics`` compilation histogram.
"""

import pytest
from pyspark.sql import functions as F

from whoosh_reloaded_spark.corpus import PAGES_SCHEMA, generate_rows
from whoosh_reloaded_spark.index import build_index, load_index, save_index
from whoosh_reloaded_spark.query import Searcher
from whoosh_reloaded_spark.query import ast as Q
from whoosh_reloaded_spark.scoring import BM25F, TF_IDF


def _compilations(spark):
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("constants") / "ix")
    df = spark.createDataFrame(list(generate_rows(200, 5)), PAGES_SCHEMA)
    save_index(build_index(df), path)
    return load_index(spark, path)


@pytest.mark.parametrize("model", ["default", "exact", "tf_idf"])
def test_fresh_terms_compile_no_code(spark, index, model):
    weighting = {
        "default": BM25F(), "exact": BM25F(quantized=False), "tf_idf": TF_IDF(),
    }[model]
    s = Searcher(index, weighting)
    terms = [
        r["term"]
        for r in index.term_stats.orderBy(F.desc("df"), "term")
        .limit(10).collect()
    ]
    for t in terms[:2]:  # warm: the shape's code is compiled once
        s.search(Q.Term(t), 10, with_uid=False).collect()
    before = _compilations(spark)
    for t in terms[2:]:
        assert s.search(Q.Term(t), 10, with_uid=False).collect()
    assert _compilations(spark) == before
