"""assign_docids: dense 0..n-1 docids in uid order (FIXTURES.md §5 'build
determinism'), computed without a Window or a broadcast join."""

import random

import pytest

from whoosh_reloaded_spark.index import assign_docids


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
