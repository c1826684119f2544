"""``sparkutil.sever_count``: one job per checkpoint-and-count, and an
execution error surfaces from that one job instead of re-running the
upstream plan on the fallback path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mongo_es_spark.sparkutil import sever_count


def _jobs(spark) -> int:
    # the Spark driver's DAG-scheduler job counter: every submitted job,
    # failed ones included
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_sever_count_is_one_job(spark):
    df = spark.range(40).filter(F.col("id") % 3 == 0)
    j0 = _jobs(spark)
    out, n = sever_count(df)
    assert n == 14 and _jobs(spark) - j0 == 1
    # severed: re-reading the checkpoint gives the same rows
    assert sorted(r["id"] for r in out.collect()) == list(range(0, 40, 3))


def test_sever_count_raises_execution_errors_once(spark):
    df = spark.range(8).select(
        F.when(F.col("id") == 5, F.raise_error(F.lit("boom in upstream")))
        .otherwise(F.col("id"))
        .alias("id")
    )
    j0 = _jobs(spark)
    with pytest.raises(Exception, match="boom in upstream"):
        sever_count(df)
    # the failing count job ran once; no fallback re-ran the plan
    assert _jobs(spark) - j0 == 1
