"""Tests of the benchmark's own measurement code.

    python3 -m pytest perfbench/test_measure.py -q
"""

from __future__ import annotations

import pytest

from measure import (SparkStatus, Trace, op_p50_s, percentile, summarize, tail_percentile,
                     union_seconds)


def test_percentile_is_nearest_rank():
    values = [float(v) for v in range(10, 0, -1)]  # 10..1, unsorted input
    assert percentile(values, 50) == 5.0
    assert percentile(values, 90) == 9.0
    assert percentile(values, 100) == 10.0
    assert percentile([float(v) for v in range(1, 8)], 90) == 7.0  # rank ceil(6.3)
    assert percentile([3.0], 99) == 3.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(19) is None  # the median leaves only 9 above it
    assert tail_percentile(20) == 50
    assert tail_percentile(99) == 50  # p90 would leave 9 above it
    assert tail_percentile(100) == 90
    assert tail_percentile(1000) == 99
    s = summarize([float(v) for v in range(1, 101)])
    assert s == {"n": 100, "p50": 50.5, "tail_q": 90, "tail": 90.0}
    assert summarize([3.0, 1.0, 2.0])["p50"] == 2.0


def test_op_p50_averages_per_query_medians():
    ops = [{"query": "a", "s": s} for s in (1.0, 9.0, 2.0)]
    ops += [{"query": "b", "s": s} for s in (4.0, 6.0)]
    assert op_p50_s(ops) == (2.0 + 5.0) / 2
    assert op_p50_s([{"s": 3.0}, {"s": 1.0}, {"s": 2.0}]) == 2.0  # one kind of op


def test_union_seconds_merges_overlaps():
    assert union_seconds([]) == 0.0
    assert union_seconds([(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]) == 4.0
    assert union_seconds([(5.0, 6.0), (0.0, 10.0)]) == 10.0


def test_self_time_subtracts_covered_child_time_only():
    tr = Trace()
    op = tr.add("op", 0.0, 10.0, None, "q")
    build = tr.add("build", 0.0, 6.0, op, "q")
    tr.add("job", 1.0, 3.0, build, "q")
    tr.add("job", 2.0, 5.0, build, "q")  # overlaps the first job
    result = tr.add("result", 6.0, 10.0, op, "q")
    tr.add("job", 7.0, 12.0, result, "q")  # runs past its parent: clipped
    assert tr.self_time(build) == pytest.approx(6.0 - 4.0)
    assert tr.self_time(result) == pytest.approx(4.0 - 3.0)
    assert tr.self_time(op) == pytest.approx(0.0)  # grandchildren do not count
    by_name = tr.self_by_name()
    assert by_name["op"] + by_name["build"] + by_name["result"] + 4.0 + 3.0 == pytest.approx(10.0)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .config("spark.local.dir", str(tmp_path_factory.mktemp("spark-local")))
        .getOrCreate()
    )
    yield s
    s.stop()


def test_group_facts_count_the_jobs_and_stages_of_a_two_stage_query(spark):
    status = SparkStatus(spark)
    df = spark.range(0, 1000, 1, 4).selectExpr("id % 7 AS k").groupBy("k").count()
    status.set_group("two-stage")
    rows = df.collect()
    status.set_group("idle")
    spark.range(10).collect()  # a job outside the group must not count
    status.drain()
    assert len(rows) == 7
    jobs, totals = status.group_facts("two-stage")
    assert len(jobs) == 1
    assert jobs[0]["start"] <= jobs[0]["end"]
    assert totals["stages"] == 2  # map side + reduce side
    assert totals["tasks"] == 4 + 3  # 4 input partitions, 3 shuffle partitions
    assert totals["shuffle_write_bytes"] > 0
    assert totals["shuffle_read_bytes"] == totals["shuffle_write_bytes"]
    assert status.group_facts("no-such-group") == ([], {k: 0 for k in totals})

    # the same frame again reuses its shuffle files: the map stage is
    # skipped and must not count
    status.set_group("rerun")
    df.collect()
    status.drain()
    jobs, totals = status.group_facts("rerun")
    assert len(jobs) == 1
    assert totals["stages"] == 1
    assert totals["tasks"] == 3
    assert totals["shuffle_write_bytes"] == 0
