"""assign_docids: dense 0..n-1 docids in uid order (FIXTURES.md §5 'build
determinism'), computed without a Window or a broadcast join, in as many
partitions as the row count asks for (build.ROWS_PER_TASK)."""

import random

import pytest

from whoosh_reloaded_spark.index import assign_docids
from whoosh_reloaded_spark.index.build import ROWS_PER_TASK, rank_docids, release


def _check(spark, uids, num_partitions=0):
    df = spark.createDataFrame([(u, f"t{i}") for i, u in enumerate(uids)],
                               "url string, text string")
    out = assign_docids(df, "url", num_partitions)
    got = sorted((r["docid"], r["url"]) for r in out.collect())
    assert got == list(enumerate(sorted(uids)))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastExchange" not in plan
    return out


def test_empty_input(spark):
    _check(spark, [])


def test_single_row(spark):
    out = _check(spark, ["only"])
    assert dict(out.dtypes)["docid"] == "bigint"


def test_fewer_rows_than_partitions(spark):
    _check(spark, ["c", "a", "e", "b", "d"], num_partitions=16)


@pytest.mark.parametrize("num_partitions", [0, 3])
def test_random_uids(spark, num_partitions):
    rng = random.Random(5)
    uids = [f"u{rng.getrandbits(48):012x}" for _ in range(5000)]
    assert len(set(uids)) == len(uids)
    _check(spark, uids, num_partitions)


@pytest.mark.parametrize("n", [0, 1, ROWS_PER_TASK, ROWS_PER_TASK + 1, None])
def test_sized_by_row_count(spark, n):
    parallelism = spark.sparkContext.defaultParallelism
    if n is None:
        n = parallelism * ROWS_PER_TASK + 1
    out = _check(spark, [f"u{i:06d}" for i in reversed(range(n))])
    k = max(1, min(parallelism, -(-n // ROWS_PER_TASK)))
    assert out.rdd.getNumPartitions() == k
    if k == 1:
        # one uid-sorted partition: no range exchange, no boundary sampling
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "RangePartitioning" not in plan


def test_released_ranking_fails_instead_of_duplicating(spark):
    """Once its caches are released, a multi-partition docid frame is
    recomputed with freshly sampled range boundaries: it must give the same
    docids or fail, never duplicate ones."""
    rng = random.Random(3)
    rows = [(f"u{rng.getrandbits(48):012x}", "t") for _ in range(40000)]
    df = spark.createDataFrame(rows, "url string, text string").repartition(4)
    ranked = rank_docids(df, "url", 4)
    first = sorted(r["docid"] for r in ranked.docs.select("docid").collect())
    assert first == list(range(len(rows)))
    release(ranked.cached)
    try:
        again = sorted(r["docid"] for r in ranked.docs.select("docid").collect())
    except Exception as e:
        assert "docid ranking recomputed" in str(e)
    else:
        assert again == first
