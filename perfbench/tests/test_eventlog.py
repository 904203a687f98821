"""The event-log parser on a tiny traced session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import time

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    from pyspark.sql import SparkSession, functions as F, types as T

    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = (SparkSession.builder.master("local[2]").appName("eventlog-test")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + str(log_dir))
             .config("spark.eventLog.compress", "false")
             .getOrCreate())

    @F.pandas_udf(T.BooleanType())
    def _refine(st: pd.DataFrame) -> pd.Series:
        return (st["a"] + st["b"]) % 3 == 0

    left = spark.range(0, 2000).select(F.col("id").alias("a"),
                                       (F.col("id") % 50).alias("cell"))
    right = spark.range(0, 300).select(F.col("id").alias("b"),
                                       (F.col("id") % 50).alias("cell"))
    pairs = left.join(right, "cell")
    t0 = time.time() * 1000
    n_pairs = pairs.count()
    n_refined = pairs.filter(_refine(F.struct("a", "b"))).count()
    t1 = time.time() * 1000
    spark.stop()
    SparkSession._instantiatedSession = None
    return eventlog.read_events(str(log_dir)), t0, t1, n_pairs, n_refined


def test_task_metrics(traced):
    events, t0, t1, _, _ = traced
    out = eventlog.summarize(events, t0, t1)
    assert set(out) == set(eventlog.KEYS)
    assert out["spark.task_run_s"] > 0
    assert out["spark.task_cpu_s"] > 0
    assert out["spark.stage_wait_s"] >= 0


def test_python_udf_metrics(traced):
    events, t0, t1, _, n_refined = traced
    out = eventlog.summarize(events, t0, t1)
    assert out["udf.bytes_to_python"] > 0
    assert out["udf.bytes_from_python"] > 0
    assert out["udf.python_run_s"] > 0
    assert out["udf.rows_from_python"] > n_refined


def test_join_yield(traced):
    events, t0, t1, n_pairs, n_refined = traced
    out = eventlog.summarize(events, t0, t1)
    # both counts ran the cell join, but only a join that feeds the
    # refine counts as the spatial join's candidates
    assert out["core.join.candidate_pairs"] == n_pairs
    assert out["core.join.refined_pairs"] == n_refined


def test_window_excludes_other_events(traced):
    events, t0, _, _, _ = traced
    out = eventlog.summarize(events, 0.0, t0 - 1)
    assert out["udf.bytes_to_python"] == 0
    assert out["core.join.candidate_pairs"] == 0
