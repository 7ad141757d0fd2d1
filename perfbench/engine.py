"""Engine start-up shared by the in-process workloads and the service
process: the measured set-up is building the SparkSession, the
workload's front object and answering a first query, repeated so the
median reflects a warm JVM rather than one launch."""

from __future__ import annotations

import time

import common

SETUP_CYCLES = 5


def start_engine(tmp: str, first_query, restart: bool = True):
    """Run SETUP_CYCLES set-ups; return (spark, front, [seconds each]).

    first_query(spark) builds the front object (a ZedSession or a
    QueryService), answers one query with it and returns the object.
    With `restart`, each cycle after the first stops the previous
    SparkContext, so every cycle pays context creation; without it,
    later cycles build a new front object on the running context.
    """
    from zed_spark.session import build_spark

    spark, front, times = None, None, []
    for _ in range(SETUP_CYCLES):
        if spark is not None and restart:
            spark.stop()
            spark = None
        t0 = time.perf_counter()
        if spark is None:
            spark = build_spark(app_name="perfbench", extra_conf=common.spark_conf(tmp))
        front = first_query(spark)
        times.append(time.perf_counter() - t0)
    return spark, front, times
