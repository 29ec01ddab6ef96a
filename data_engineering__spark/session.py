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
- One materialization policy: ``materialize`` stores, ``release`` frees.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Observation, SparkSession

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


def materialize(df: DataFrame, **observed: Column) -> tuple[DataFrame, dict]:
    """Compute ``df`` once and return it with its plan truncated, plus the
    1-row scalars ``observed`` (name → aggregate Column) read in the SAME
    job: ``(frame, {name: value})``; an empty frame gives NULL aggregates.

    The one materialization policy for iterative loops and multi-action
    DAGs. Every action re-analyzes, re-optimizes and re-plans its whole
    logical tree — ``persist`` stores blocks but keeps the tree, so a loop
    whose rounds reference the last round's persisted frame grows its
    plan (and the driver time to plan it) every round. An eager
    ``localCheckpoint`` replaces the tree with a scan of the stored
    blocks, and the observed aggregates (a convergence sum, a row count,
    an id watermark) ride that job instead of costing a probe job of
    their own. Blocks live in executor storage; a cluster that needs
    lineage-based recovery swaps in a reliable ``checkpoint()``.

    The blocks stay until ``release``: ``DataFrame.unpersist`` does not
    free a local checkpoint."""
    if not observed:
        return df.localCheckpoint(eager=True), {}
    obs = Observation()
    cp = df.observe(obs, *[c.alias(k) for k, c in observed.items()]) \
           .localCheckpoint(eager=True)
    return cp, obs.get


def release(*dfs: DataFrame) -> None:
    """Free the stored blocks each of ``dfs`` reads: the RDD of every
    ``LogicalRDD`` leaf of its plan — a ``materialize`` result, or a frame
    derived from one (a loop's returned labels or ranks), including any
    stored input that frame reads. Nothing may read those frames, or any
    other frame over the same blocks, afterwards."""
    for df in dfs:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for leaf in map(leaves.apply, range(leaves.size())):
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                # what RDD.unpersist calls, minus its per-call warning
                # that a local checkpoint's lineage is gone
                df.sparkSession.sparkContext._jsc.sc().unpersistRDD(
                    leaf.rdd().id(), False)
