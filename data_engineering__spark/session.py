"""SparkSession factory and runtime tuning.

The reference implements zero execution machinery of its own (every relational
op is a psycopg2 SQL string handed to Postgres — e.g.
``process_publications_dag.py:28,162-164``); our engine's equivalent of "the
Postgres planner" is Catalyst + Tungsten, configured here.

Scale posture (tested on local[*], designed for a 1000-executor cluster):
- AQE on: runtime coalescing of small shuffle partitions, skew-join splitting,
  and dynamic broadcast conversion replace hand-tuned partition counts.
- Arrow on: any unavoidable Python execution is Arrow-batched, never row-wise.
- Session timezone pinned to UTC so timestamp semantics are cluster-invariant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Confs applied at session build (``get_spark()``) and again by ``tune()``
#: to ANY session we are handed (the driver owns session creation in
#: conformance runs). Most are runtime-settable; a static entry takes effect
#: only at session build, and ``tune()`` skips it on a live session, so a
#: driver-owned session keeps Spark's default for it.
RUNTIME_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # static: the whole-stage codegen class cache. One run_pipeline pass
    # compiles about 350 distinct classes; at the default 100 entries the
    # LRU evicts each one before its next use, so every pass re-runs Janino
    # and the JIT recompiles the fresh copies. 1024 and 4096 measured alike.
    "spark.sql.codegen.cache.maxEntries": "4096",
}


def tune(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply runtime confs to an existing session (idempotent, cheap).

    ``shuffle_partitions`` defaults to ``SPARK_GRAFT_CPUS`` (or 32): at local
    test scale a 200-partition shuffle is pure overhead; at cluster scale AQE
    coalescing makes the initial number a ceiling, not a target.
    """
    for k, v in RUNTIME_CONF.items():
        # a static conf keeps the live session's value; asking first skips
        # the refused set, whose JVM exception costs about 10 ms a call
        try:
            if spark.conf.isModifiable(k):
                spark.conf.set(k, v)
        except Exception:
            pass  # not settable on this build: keep session default
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    except Exception:
        pass
    return spark


def get_spark(app_name: str = "data_engineering__spark", master: str | None = None) -> SparkSession:
    """Build (or get) a tuned SparkSession for tests / bench / standalone use."""
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    builder = builder.master(master)
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    builder = builder.config("spark.ui.enabled", "false")
    spark = builder.getOrCreate()
    return tune(spark)
