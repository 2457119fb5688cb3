"""q_kcenter_coreset runs the tournament (kcenter_batched): a BOUNDED
number of Spark jobs at the default K, never a K−1 driver-paced
argmax loop.
"""

from __future__ import annotations

from orders_kafka_streams_spark.operators.clustering import KCENTER_K, _q_kcenter_coreset

SF = "/root/testdata/sf0.01"


def test_default_path_job_count_is_k_independent(spark):
    """Execute the DEFAULT q_kcenter_coreset under a job group and
    count the jobs it launched: the tournament is O(1) jobs (shuffle +
    two Arrow stages + collect — plus the memo build on first touch),
    while an exact FPS loop would launch K−1 sequential argmax jobs on
    top. The bound below fails the old path (8-pick exact = 7 argmax
    jobs + memo + collect > 8) but gives the tournament slack (AQE
    materializes each exchange as its own job — measured 5)."""
    sc = spark.sparkContext
    group = "kcenter-dispatch-probe"
    _q_kcenter_coreset(spark, SF).collect()  # memo warm-up outside the probe
    sc.setJobGroup(group, "job-count probe")
    try:
        rows = _q_kcenter_coreset(spark, SF).collect()
    finally:
        sc.setJobGroup(None, None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(rows) == KCENTER_K
    assert len(jobs) <= 6, f"default k-center path launched {len(jobs)} jobs"
