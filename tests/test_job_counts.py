"""Spark job counts of the driver-side iterative operators at sf0.001.

PageRank and BPE training keep their bounded loop state (ranks, the
word histogram) on the driver, so their jobs do not grow with the round
count; a k-means round is one shuffle-free job.  Each query runs under
its own job group, build and action together, and the group's jobs are
read from the status tracker.
"""

import itertools

import pytest

from tmp_parquet_merge_spark.operators import similarity
from tmp_parquet_merge_spark.queries import REGISTRY
from tmp_parquet_merge_spark.registry import t

_group_ids = itertools.count()


def _run_in_group(spark, fn):
    """Run ``fn`` under a fresh job group; return its job ids."""
    sc = spark.sparkContext
    group = f"job-count-{next(_group_ids)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


@pytest.mark.parametrize(
    "name, bound",
    [
        ("q_pagerank", 6),
        ("q_bpe_train", 6),
        # k-means with max_iter=10: init, at most 10 rounds, the
        # final assignment, and slack for the source read
        ("q_kmeans", 10 + 3),
    ],
)
def test_query_job_count(spark, sf_dir, name, bound):
    q = REGISTRY[name]
    # warm once so one-off work (e.g. Python worker start) is excluded
    _noop(q.build(spark, sf_dir))
    jobs = _run_in_group(spark, lambda: _noop(q.build(spark, sf_dir)))
    assert 0 < len(jobs) <= bound, (name, len(jobs))


def test_lloyd_rounds_are_shuffle_free(spark, sf_dir):
    # kmeans_centroids runs only the init read and the Lloyd rounds:
    # every one of those jobs must be a single stage (no exchange)
    e = t(spark, sf_dir, "embeddings")
    st = spark.sparkContext.statusTracker()
    jobs = _run_in_group(
        spark,
        lambda: similarity.kmeans_centroids(e, k=8, max_iter=10, tol=0.0),
    )
    # init + exactly max_iter rounds (tol=0 never exits early)
    assert len(jobs) == 1 + 10
    for j in jobs[1:]:
        assert len(st.getJobInfo(j).stageIds) == 1, j
