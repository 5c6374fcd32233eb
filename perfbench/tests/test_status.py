"""Pins the status-store reader on a tiny groupBy.

Run from the repo root:  python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, ROOT)

import status  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from mrmr_spark.session import get_spark

    s = get_spark(
        app_name="perfbench-status-test",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={"spark.ui.enabled": "false", "spark.sql.adaptive.enabled": "false"},
    )
    yield s
    s.stop()


def test_group_stats_on_groupby(spark):
    from pyspark.sql import functions as F

    sink = {}
    df = spark.range(0, 20_000, 1, 4).withColumn("k", F.col("id") % 7)
    with status.span(spark, "tiny_groupby", sink):
        rows = df.groupBy("k").agg(F.sum("id")).collect()
    assert len(rows) == 7
    st = sink["tiny_groupby"]
    assert st.jobs >= 1
    assert st.tasks >= 4  # the 4 map tasks at least
    assert st.shuffle_write_mb > 0
    assert st.spill_mb >= 0
    assert st.task_skew >= 1.0
    assert st.seconds > 0


def test_span_isolates_groups(spark):
    sink = {}
    with status.span(spark, "a", sink):
        spark.range(100).count()
    spark.range(100).count()  # outside any span: counted nowhere
    with status.span(spark, "b", sink):
        pass
    assert sink["a"].jobs >= 1
    assert sink["b"].jobs == 0


def test_storage_held_tracks_persist(spark):
    df = spark.range(50_000).persist()
    df.count()
    assert status.storage_held_mb(spark) > 0
    df.unpersist(blocking=True)
    assert status.storage_held_mb(spark) == 0
