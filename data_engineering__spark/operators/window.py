"""Window-function operators (SURVEY §2.5: W1-W3).

W1 is the flagship rewrite: the reference loops one SQL query PER CATEGORY
(``SELECT ... WHERE categories LIKE %s ORDER BY id LIMIT 2`` inside a Python
for-loop, ``process_publications_dag.py:161-178``) — O(categories) scans.
A single ``row_number() OVER (PARTITION BY category ORDER BY id)`` pass does
the same work in ONE shuffle regardless of category count; at 100 TB the loop
is impossible and the window is routine.
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_per_group(df: DataFrame, partition_by: list[str],
                   order_by: list[Column], k: int) -> DataFrame:
    """W1: top-k rows per group in one pass.

    ``order_by`` must be a total order within each partition (include a
    unique tie-break key) or the selected rows are nondeterministic across
    reruns — same contract as deterministic surrogate keys (SURVEY §1.2).
    Skew note: a single hot group serializes into one task; for pathological
    group sizes pre-aggregate with a salted partial top-k, then re-rank.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (df.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") <= k)
              .drop("__rn"))


def with_rank(df: DataFrame, partition_by: list[str], order_by: list[Column],
              kind: str = "rank", out_col: str = "rnk") -> DataFrame:
    """W2 EXT: ranking family over one window definition."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    fn = {"rank": F.rank, "dense_rank": F.dense_rank, "row_number": F.row_number,
          "percent_rank": F.percent_rank}[kind]
    return df.withColumn(out_col, fn().over(w))


def running_agg(df: DataFrame, partition_by: list[str], order_by: list[Column],
                agg_col: Column, out_col: str = "running") -> DataFrame:
    """W3 EXT: running aggregate with an explicit ROWS frame.

    ``order_by`` must be a total order: with ties, ROWS-frame prefix sums are
    nondeterministic. Unbounded-preceding frames keep per-group state on one
    task — fine for bounded groups (per-customer histories), not for a global
    running total (repartition by a bucketed key first).
    """
    w = (Window.partitionBy(*partition_by).orderBy(*order_by)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return df.withColumn(out_col, agg_col.over(w))


def lag_lead(df: DataFrame, partition_by: list[str], order_by: list[Column],
             col: str, offset: int = 1) -> DataFrame:
    """W3 EXT: adjacent-row analytics (lag/lead)."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (df.withColumn(f"{col}_lag", F.lag(col, offset).over(w))
              .withColumn(f"{col}_lead", F.lead(col, offset).over(w)))


def sessionize(df: DataFrame, user_col: str, ts_col: str,
               gap_us: int = 30 * 60 * 1_000_000,
               session_col: str = "session_seq") -> DataFrame:
    """W3 EXT: batch sessionization — number each entity's events into
    gap-delimited sessions (a new session starts when the inter-event gap
    exceeds ``gap_us`` microseconds). The batch counterpart of the
    streaming ``session_window`` aggregate: that one yields per-session
    AGGREGATES; this labels every EVENT with its session ordinal, the
    shape joins and per-event features need.

    One shuffle (the window partition on ``user_col``), two passes within
    the partition (lag, then running sum) — no Python. Microsecond
    integer arithmetic end to end, so external oracles replicate the
    boundaries exactly. Tied timestamps can't split a session (their gap
    is 0), so ordering among ties never changes the output labels.
    """
    us = F.unix_micros(F.col(ts_col))
    w = Window.partitionBy(user_col).orderBy(us)
    prev = F.lag(us).over(w)
    new_s = F.when(prev.isNull() | ((us - prev) > gap_us), 1).otherwise(0)
    run = (Window.partitionBy(user_col).orderBy(us)
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return df.withColumn(session_col, F.sum(new_s).over(run))


def scan_tree(hist: DataFrame, order: str, width: int,
              *cols: str) -> DataFrame:
    """``hist`` plus ``<col>_cum``, the inclusive running Σ of each of
    ``cols`` over ascending ``order``, as a two-level scan tree: rows fall
    into ``__bucket = order div width`` ranges, the bucket totals (tiny)
    get the only ordered window, and the within-bucket running sums run
    PARTITIONED by bucket — so no window ever holds more than one bucket
    of ``hist`` in one partition. ``order`` must be unique in ``hist`` (a
    value histogram, a doc id) or tied rows sum in an arbitrary order.
    Spark's ``div`` truncates toward zero, so bucket 0 spans (−width,
    width). NULL order keys drop out: their NULL bucket finds no partner
    in the inner join with the bucket offsets."""
    b = hist.withColumn("__bucket", F.expr(f"{order} div {width}"))
    w_b = Window.orderBy("__bucket").rowsBetween(Window.unboundedPreceding,
                                                 -1)
    offs = (b.groupBy("__bucket")
            .agg(*[F.sum(c).alias(f"__bt{i}") for i, c in enumerate(cols)])
            .select("__bucket", *[
                F.coalesce(F.sum(f"__bt{i}").over(w_b), F.lit(0))
                .alias(f"__off{i}") for i in range(len(cols))]))
    w_in = (Window.partitionBy("__bucket").orderBy(order)
            .rowsBetween(Window.unboundedPreceding, 0))
    return b.join(F.broadcast(offs), "__bucket").select(*hist.columns, *[
        (F.col(f"__off{i}") + F.sum(c).over(w_in)).alias(f"{c}_cum")
        for i, c in enumerate(cols)])


def order_stats(hist: DataFrame, by: list[str], *aggs: Column,
                **preds) -> DataFrame:
    """Order statistics per ``by`` group of a (``by``…, ``__v``, ``__c``)
    value histogram: ``__n`` = Σ``__c``, ``aggs`` (extra aggregates over
    the histogram rows), and for each name in ``preds`` the smallest
    ``__v`` whose running count ``__cum`` satisfies its predicate, a
    Column over ``__cum`` and ``__n``. A ``(num, den)`` pair stands for
    ``__cum·den ≥ __n·num``: the k-th smallest at k = ⌈n·num/den⌉ in
    integer arithmetic, tie-order-independent. The cumulative window runs
    over distinct values per group (unpartitioned when ``by`` is empty),
    never raw rows; ``__n`` is a whole-partition frame of the same window,
    so the pick needs no join and no second shuffle. Rows with a NULL
    group key drop out, as they do from a join on the key. The filter is
    ``IS NOT NULL``, not ``dropna``: Catalyst folds it away on a key that
    cannot be NULL, while a ``dropna`` on a derived key is pushed below
    the caller's aggregates and evaluates the key once per raw row."""
    w = Window.partitionBy(*by).orderBy(F.col("__v").asc())
    keep = reduce(and_, [F.col(c).isNotNull() for c in by], F.lit(True))
    j = hist.filter(keep).select(
        "*",
        F.sum("__c").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("__cum"),
        F.sum("__c").over(w.rowsBetween(Window.unboundedPreceding,
                                        Window.unboundedFollowing))
        .alias("__n"))
    cond = {k: p if isinstance(p, Column)
            else F.col("__cum") * p[1] >= F.col("__n") * p[0]
            for k, p in preds.items()}
    return j.groupBy(*by).agg(
        F.max("__n").alias("__n"), *aggs,
        *[F.min(F.when(c, F.col("__v"))).alias(k) for k, c in cond.items()])
