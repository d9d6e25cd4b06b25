"""K1 GTFS sink on a feed built from a small seeded transit world
(`transit_root`, needs no reference checkout): the concurrent
`write_gtfs_feed` must write what sequential `write_gtfs_table` calls
write, attribute its jobs to the caller's job group, and surface a
failing table; the one-row calendar is a local relation."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tegallega_spark.pipeline.gtfs_build import build_gtfs, calendar_table  # noqa: E402
from tegallega_spark.sources.gtfs import write_gtfs_feed, write_gtfs_table  # noqa: E402


@pytest.fixture(scope="module")
def tables(spark, transit_root):
    return build_gtfs(spark, transit_root)


def _bytes(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def test_concurrent_feed_equals_sequential_writes(tables, tmp_path):
    seq_dir, feed_dir = str(tmp_path / "sequential"), str(tmp_path / "feed")
    sequential = [write_gtfs_table(df, name, seq_dir) for name, df in tables.items()]
    paths = write_gtfs_feed(tables, feed_dir)
    assert paths == [os.path.join(feed_dir, f"{name}.txt") for name in tables]
    assert sorted(os.listdir(feed_dir)) == sorted(f"{n}.txt" for n in tables)
    for name, a, b in zip(tables, sequential, paths):
        assert _bytes(a) == _bytes(b), f"{name}.txt differs"


def test_concurrent_feed_jobs_carry_the_callers_job_group(spark, tables, tmp_path):
    """Jobs started from the pool's threads belong to the caller's job
    group; a per-group job account (perfbench's trace) would otherwise
    see none of the sink's jobs."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = "write_gtfs_feed-job-group"
    sc.setJobGroup(group, group)
    try:
        write_gtfs_feed(tables, str(tmp_path))
    finally:
        sc._jsc.clearJobGroup()
    assert len(tracker.getJobIdsForGroup(group)) >= len(tables)
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


def test_a_failing_table_raises_after_the_other_writes(tables, tmp_path):
    bad = dict(tables)
    bad["agency"] = tables["agency"].withColumn(
        "agency_id", F.raise_error(F.lit("planted sink failure")).cast("string"))
    out = str(tmp_path)
    with pytest.raises(Exception, match="planted sink failure"):
        write_gtfs_feed(bad, out)
    # the pool was joined: every other table was written in full
    assert sorted(os.listdir(out)) == sorted(
        f"{n}.txt" for n in tables if n != "agency")


def test_calendar_is_a_one_row_local_relation(spark, tmp_path):
    df = calendar_table(spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    path = write_gtfs_table(df, "calendar", str(tmp_path))
    assert _bytes(path) == (
        b"service_id,monday,tuesday,wednesday,thursday,friday,saturday,"
        b"sunday,start_date,end_date\n"
        b"everyday,1,1,1,1,1,1,1,20250101,20991231\n")
