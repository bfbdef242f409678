"""Tests of the event-log span parser.

    python3 -m pytest perfbench/test_spans.py -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import run  # noqa: E402
from spans import Tracer, eventlog_conf, find_event_log, parse_event_log  # noqa: E402


@pytest.fixture(scope="module")
def logged(tmp_path_factory):
    """Run the probe queries in a session with the event log on, stop it,
    and return the parsed groups."""
    from pyspark.sql import functions as F

    from learn_hbase_spark.session import get_session

    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    spark = get_session(
        "perfbench-test", master="local[2]", shuffle_partitions=3,
        extra_conf=eventlog_conf(log_dir),
    )
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    tr = Tracer(spark, True)
    try:
        with tr.span("shuffle"):
            rows = (
                spark.range(0, 10_000, 1, 4)
                .groupBy((F.col("id") % 10).alias("k"))
                .count()
                .collect()
            )
        assert len(rows) == 10
        spark.range(0, 100, 1, 2).count()  # no job group: not attributed
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        run.calibrate_python(spark)
    finally:
        run.stop_spark(spark)
    return tr, parse_event_log(find_event_log(log_dir))


def test_two_stage_shuffle_query(logged):
    tr, groups = logged
    (call,) = tr.calls
    g = groups[call.group]
    # one job: a 4-task map stage and a 3-task reduce stage (AQE off)
    assert (g.jobs, g.stages, g.tasks) == (1, 2, 7)
    assert g.shuffle_write_bytes > 0
    assert g.shuffle_read_bytes == g.shuffle_write_bytes
    assert g.cpu_ms > 0 and g.run_ms > 0
    assert g.spill_bytes == 0 and g.python_ms == 0


def test_ungrouped_jobs_are_not_attributed(logged):
    tr, groups = logged
    assert set(groups) == {tr.calls[0].group, *run.CALIBRATION_GROUPS}


def test_python_ms_calibrates_on_a_sleep_udf(logged):
    """python_ms grows by the slept time: one slept millisecond reads as
    one, within 25% (measured 0.95-1.17 on a 4-core host)."""
    _, groups = logged
    assert 0.75 <= run.python_ms_slope(groups) <= 1.25
