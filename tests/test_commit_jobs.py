"""What one commit costs in Spark jobs and what it leaves behind:
- a 200-doc append_batch is sized to one partition and runs at most 13 jobs
  (counted by job id, so jobs outside any job group are counted too);
- every job save_index launches, its pool threads' included, runs in the
  caller's job group;
- no frame a build persisted stays persisted after the save, also when the
  save fails;
- WRS_BUILD_TIMING adds no job to a one-partition save, whose postings are
  not persisted (its split-point count would re-run the analysis pass).
"""

import pytest

from whoosh_reloaded_spark.corpus import PAGES_SCHEMA, generate_rows
from whoosh_reloaded_spark.index import build_index, save_index
from whoosh_reloaded_spark.streaming.append import append_batch


def _last_job_id(sc):
    """Run one job outside any job group and return its id: job ids grow
    by one per job, so two of these bracket every job run between them."""
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.parallelize([0], 1).count()
    return max(sc.statusTracker().getJobIdsForGroup(None))


def _job_ids(sc, fn):
    lo = _last_job_id(sc)
    fn()
    hi = _last_job_id(sc)
    return set(range(lo + 1, hi))


def _persistent_rdds(sc):
    return set(sc._jsc.getPersistentRDDs().keySet())


def _docs(spark, n, seed=42):
    return spark.createDataFrame(list(generate_rows(n, seed)), PAGES_SCHEMA)


def test_append_batch_job_count(spark, tmp_path):
    sc = spark.sparkContext
    out = str(tmp_path / "root")
    append_batch(_docs(spark, 200, seed=1), out)  # first segment, warm-up
    batch = _docs(spark, 200, seed=2)
    jobs = _job_ids(sc, lambda: append_batch(batch, out))
    assert 0 < len(jobs) <= 13


def test_save_index_jobs_stay_in_callers_group(spark, tmp_path):
    sc = spark.sparkContext
    ix = build_index(_docs(spark, 60))

    def save():
        sc.setJobGroup("wrs-save-group", "save_index under a job group")
        try:
            save_index(ix, str(tmp_path / "ix"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    jobs = _job_ids(sc, save)
    assert jobs
    assert jobs <= set(sc.statusTracker().getJobIdsForGroup("wrs-save-group"))


def test_build_timing_reruns_nothing(spark, tmp_path, monkeypatch):
    sc = spark.sparkContext
    df = _docs(spark, 60)
    counts = []
    for timing in ("", "1"):
        monkeypatch.setenv("WRS_BUILD_TIMING", timing)
        ix = build_index(df)
        jobs = _job_ids(sc, lambda: save_index(ix, str(tmp_path / "ix")))
        counts.append(len(jobs))
    assert counts[0] == counts[1]


@pytest.mark.parametrize("num_partitions", [0, 3])
def test_build_and_save_release_their_frames(spark, tmp_path, num_partitions):
    sc = spark.sparkContext
    before = _persistent_rdds(sc)
    ix = build_index(_docs(spark, 60), num_partitions=num_partitions)
    save_index(ix, str(tmp_path / "ix"))
    assert _persistent_rdds(sc) - before == set()


def test_append_batch_releases_its_frames(spark, tmp_path):
    sc = spark.sparkContext
    before = _persistent_rdds(sc)
    append_batch(_docs(spark, 60), str(tmp_path / "root"))
    assert _persistent_rdds(sc) - before == set()


@pytest.mark.parametrize("num_partitions", [0, 3])
def test_failed_save_releases_its_frames(spark, tmp_path, num_partitions):
    sc = spark.sparkContext
    before = _persistent_rdds(sc)
    ix = build_index(_docs(spark, 60), num_partitions=num_partitions)
    not_a_dir = tmp_path / "file"
    not_a_dir.write_text("a regular file where the index would go")
    with pytest.raises(Exception):
        save_index(ix, str(not_a_dir))
    assert _persistent_rdds(sc) - before == set()
