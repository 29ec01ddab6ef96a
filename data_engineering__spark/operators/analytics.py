"""Behavioral analytics over the event stream (EXT: the OLAP query
patterns an analytics engine is expected to answer out of the box —
cohort retention and ordered conversion funnels).

Both are pure integer/epoch arithmetic + hash aggregates: no windows over
the whole stream, no Python, shuffles carry (user, week/stage) rows only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import materialize, release
from .window import order_stats, scan_tree

WEEK_SECONDS = 7 * 86400


def cohort_retention(events: DataFrame, user_col: str = "user_id",
                     ts_col: str = "ts",
                     max_offset: int | None = None) -> DataFrame:
    """Weekly cohort retention matrix: users bucket into the epoch-week of
    their FIRST event (cohort); each later active week counts them at
    ``week_offset = active_week - cohort_week``. Returns
    (cohort_week, week_offset, n_users) with epoch-week integers (floor
    of epoch seconds / 604800 — cross-engine exact).

    Plan: one distinct-activity aggregate, one min-per-user aggregate
    (both partial map-side), a join on user, and the final count —
    every shuffle keyed on the user id."""
    week = F.floor(F.unix_timestamp(F.col(ts_col)) / WEEK_SECONDS) \
            .cast("long")
    act = (events.select(F.col(user_col).alias("u"), week.alias("w"))
           .distinct())
    cohort = act.groupBy("u").agg(F.min("w").alias("cw"))
    ret = (act.join(cohort, "u")
           .select("u", F.col("cw").alias("cohort_week"),
                   (F.col("w") - F.col("cw")).alias("week_offset")))
    if max_offset is not None:
        ret = ret.filter(F.col("week_offset") <= max_offset)
    return (ret.groupBy("cohort_week", "week_offset")
            .agg(F.countDistinct("u").alias("n_users")))


def conversion_funnel(events: DataFrame, steps: list[str],
                      user_col: str = "user_id", ts_col: str = "ts",
                      type_col: str = "event_type") -> DataFrame:
    """Ordered conversion funnel: a user reaches step k at the EARLIEST
    event of type ``steps[k]`` that is strictly after their step-(k-1)
    time. Returns one row per step: (step, stage, n_users) with ``stage``
    the 0-based index — the canonical activation/checkout report.

    It is ``funnel_within`` without the time bound: one
    conditional-min aggregate per user for step 0, then per later step
    the events of that type joined to the running frontier on user with
    ts > frontier, min-aggregated — a hash join + partial-agg shuffle on
    the user id, with the type filter pushed to the parquet scan."""
    return (funnel_within(events, steps, None, user_col, ts_col, type_col)
            .select("step", "stage", "n_users"))


def transition_matrix(events: DataFrame, user_col: str = "user_id",
                      ts_col: str = "ts",
                      type_col: str = "event_type") -> DataFrame:
    """First-order Markov transition counts over each user's event
    sequence: (from_type, to_type, n, frac) where ``frac`` is the
    row-normalized transition probability — the behavioral-model /
    anomaly-baseline table. Events order by (ts, event id is not needed —
    ties break on the type string for determinism).

    One shuffle on the user key for the lag window; the count and the
    per-from normalization are hash aggregates over the tiny
    type-pair domain. ``frac`` is one exact division of two counts."""
    w = Window.partitionBy(user_col).orderBy(F.col(ts_col).asc(),
                                             F.col("to_type").asc())
    seq = (events.select(user_col, ts_col, F.col(type_col).alias("to_type"))
           .withColumn("from_type", F.lag("to_type").over(w))
           .filter(F.col("from_type").isNotNull()))
    counts = (seq.groupBy("from_type", "to_type")
              .agg(F.count(F.lit(1)).alias("n")))
    totals = counts.groupBy("from_type").agg(F.sum("n").alias("__t"))
    return (counts.join(totals, "from_type")
            .select("from_type", "to_type", "n",
                    (F.col("n").cast("double") / F.col("__t")).alias("frac")))


def corr_matrix(df: DataFrame, int_cols: dict[str, "F.Column"]) -> DataFrame:
    """EXT (R99): exact Pearson correlation matrix over pre-scaled INTEGER
    expressions (cents / basis points — caller chooses the scale, which
    cancels out of r). Every moment — n, Σx, Σx², Σxy — accumulates in
    decimal(38,0), so the sums are EXACT regardless of partitioning and
    add order; the only float ops are the final cast/sqrt/divide, a fixed
    IEEE expression both engines evaluate identically. This is the
    engine-invariant alternative to ``corr()``, whose streaming float
    accumulation is partition-order-dependent.

    One aggregation pass for the whole matrix (all moments fold map-side;
    adding a column pair adds no scan); returns (col_x, col_y, n, corr)
    for each unordered pair, corr NULL when either variance is zero.
    Magnitude budget: decimal(38,0) holds Σx² for ~1e9 rows of 1e7-scale
    values with 10^14 headroom — sized for 100 TB fact tables."""
    # r12 (guide §5): the moment aggregates and the pair grid parse in
    # ONE selectExpr call each — the former per-Column builds cost
    # ~0.5 s of driver py4j round-trips per plan build (same class as
    # top_pc_power's 2.8 s, fixed this round). The caller's arbitrary
    # Column expressions are materialized once under stable names in a
    # plain select (values unchanged: the decimal cast runs on the same
    # expression either side of a projection); everything after is a
    # name-only SQL string with the identical expression tree.
    names = list(int_cols)
    base = df.select(*[int_cols[n].cast("decimal(38,0)").alias(f"__d_{n}")
                       for n in names])
    aggs = ["cast(count(1) as decimal(38,0)) as __n"]
    for n in names:
        aggs.append(f"sum(__d_{n}) as __s_{n}")
        aggs.append(f"sum(__d_{n} * __d_{n}) as __ss_{n}")
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            aggs.append(f"sum(__d_{a} * __d_{b}) as __p_{a}_{b}")
    one = base.selectExpr(*aggs)
    vx = {n: f"(__n * __ss_{n} - __s_{n} * __s_{n})" for n in names}
    pairs = ", ".join(
        f"named_struct('col_x', '{a}', 'col_y', '{b}', "
        f"'n', cast(__n as bigint), "
        f"'corr', case when {vx[a]} > 0 and {vx[b]} > 0 then "
        f"cast(__n * __p_{a}_{b} - __s_{a} * __s_{b} as double) / "
        f"(sqrt(cast({vx[a]} as double)) * sqrt(cast({vx[b]} as double)))"
        f" end)"
        for i, a in enumerate(names) for b in names[i + 1:])
    # ONE explode over the single moment row — a union of per-pair
    # selects would re-run the whole-moment aggregation (and its scan)
    # once per pair in the physical plan
    return (one.selectExpr(f"explode(array({pairs})) as __p")
            .select("__p.col_x", "__p.col_y", "__p.n", "__p.corr"))


def winsorized_stats(df: DataFrame, group_cols: list[str],
                     value_int: "F.Column",
                     p_lo: tuple[int, int] = (1, 100),
                     p_hi: tuple[int, int] = (99, 100)) -> DataFrame:
    """EXT (R104): exact per-group winsorization report — percentile
    thresholds as true k-th order statistics (``k = ceil(p·n)`` in pure
    integer arithmetic, never an interpolated or approximate quantile),
    clip counts, and the winsorized mean. ``value_int`` must be a
    pre-scaled integer expression (cents — same discipline as
    ``corr_matrix``); ``p_lo``/``p_hi`` are exact rationals (num, den).

    The k-th order statistic is tie-order-independent, and every number
    here is exact-integer until the single final division, so the report
    is engine- and partition-invariant.

    Scale shape: raw rows collapse to a per-(group, value) HISTOGRAM
    first (one shuffle, partial counts fold map-side) — the
    ``window.order_stats`` cumulative window then runs over distinct
    values per group, typically orders of magnitude smaller than the
    data, instead of a per-row rank window that would serialize each
    group. Thresholds broadcast back onto the histogram, never onto raw
    rows."""
    g = [F.col(c) for c in group_cols]
    hist = (df.select(*g, value_int.cast("long").alias("__v"))
            .groupBy(*group_cols, "__v")
            .agg(F.count(F.lit(1)).alias("__c")))
    thr = (order_stats(hist, group_cols, lo=p_lo, hi=p_hi)
           .withColumnRenamed("__n", "n"))
    rep = (hist.join(thr, group_cols)
           .groupBy(*group_cols)
           .agg(F.max("n").cast("long").alias("n"),
                F.max("lo").cast("long").alias("lo"),
                F.max("hi").cast("long").alias("hi"),
                F.coalesce(F.sum(F.when(F.col("__v") < F.col("lo"),
                                        F.col("__c"))), F.lit(0))
                 .cast("long").alias("n_clipped_lo"),
                F.coalesce(F.sum(F.when(F.col("__v") > F.col("hi"),
                                        F.col("__c"))), F.lit(0))
                 .cast("long").alias("n_clipped_hi"),
                F.sum(F.col("__c") *
                      F.least(F.greatest(F.col("__v"), F.col("lo")),
                              F.col("hi"))).alias("__wsum")))
    return rep.select(
        *group_cols, "n", "lo", "hi", "n_clipped_lo", "n_clipped_hi",
        (F.col("__wsum").cast("double") / F.col("n").cast("double"))
        .alias("winsorized_mean"))


def journey_paths(events: DataFrame, user_col: str = "user_id",
                  ts_col: str = "ts", type_col: str = "event_type",
                  gap_us: int = 30 * 60 * 1_000_000,
                  k: int = 25) -> DataFrame:
    """EXT (R105): top-k common user journeys — length-3 event-type paths
    within gap-delimited sessions (the product-analytics "what do users
    actually do" table; generalizes ``transition_matrix`` from edges to
    paths). Sessions come from the same lag+running-sum device as
    ``sessionize``; the path window orders by (event time, type) so tied
    timestamps cannot flip a path between runs or engines.

    One shuffle on the user key serves BOTH the session labeling and the
    path windows (same partition key family); path counting is a hash
    aggregate over the tiny path domain; the cut is TakeOrdered with a
    path tie-break."""
    us = F.unix_micros(F.col(ts_col))
    ev = events.select(F.col(user_col).alias("__u"),
                       us.alias("__s"), F.col(type_col).alias("__t"))
    w = Window.partitionBy("__u").orderBy(F.col("__s").asc(),
                                          F.col("__t").asc())
    prev = F.lag("__s").over(w)
    new_s = F.when(prev.isNull() | ((F.col("__s") - prev) > gap_us),
                   1).otherwise(0)
    run = (Window.partitionBy("__u")
           .orderBy(F.col("__s").asc(), F.col("__t").asc())
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    sess = ev.withColumn("__sid", F.sum(new_s).over(run))
    pw = Window.partitionBy("__u", "__sid").orderBy(F.col("__s").asc(),
                                                    F.col("__t").asc())
    paths = (sess.withColumn("__t2", F.lead("__t", 1).over(pw))
             .withColumn("__t3", F.lead("__t", 2).over(pw))
             .filter(F.col("__t2").isNotNull() & F.col("__t3").isNotNull())
             .select(F.concat_ws(" > ", "__t", "__t2", "__t3")
                     .alias("path")))
    return (paths.groupBy("path").agg(F.count(F.lit(1)).cast("long")
                                      .alias("n"))
            .orderBy(F.col("n").desc(), F.col("path").asc())
            .limit(k))


def attribution_report(events: DataFrame, conversion_type: str,
                       touch_types: list[str],
                       lookback_us: int = 24 * 3600 * 1_000_000,
                       user_col: str = "user_id", ts_col: str = "ts",
                       type_col: str = "event_type") -> DataFrame:
    """EXT (R110): first-touch / last-touch conversion attribution — for
    each conversion event, which touch channel gets the credit: the
    EARLIEST (first-touch) and the LATEST (last-touch) qualifying touch
    in the per-user lookback window strictly before the conversion.
    Returns (model, touch_type, n_conversions) for both models in one
    pass — the canonical marketing-mix table.

    Ties: the boundary pick min/maxes a FIXED-WIDTH string key
    (zero-padded µs ‖ type) — lexicographic order ≡ (ts, type) order,
    identical bytes in any engine, so the credited channel is
    deterministic without relying on struct-comparison semantics.
    Conversions with no qualifying touch count under touch_type =
    '(none)' — dropped conversions would silently skew the channel mix.

    Scale shape: touches and conversions are two pushed-filter scans of
    the event stream; they meet in ONE user-keyed join bounded by the
    lookback interval, and the min/max keys per conversion fold
    map-side. No window over the whole stream, no Python."""
    us = F.unix_micros(F.col(ts_col))
    conv = (events.filter(F.col(type_col) == conversion_type)
            .select(F.col(user_col).alias("__u"), us.alias("__cs")))
    touch = (events.filter(F.col(type_col).isin(touch_types))
             .select(F.col(user_col).alias("__u"), us.alias("__ts"),
                     F.col(type_col).alias("__tt")))
    key = F.concat(F.lpad(F.col("__ts").cast("string"), 20, "0"),
                   F.col("__tt"))
    ok = (F.col("__ts").isNotNull() &
          (F.col("__ts") < F.col("__cs")) &
          (F.col("__ts") >= F.col("__cs") - lookback_us))
    per_conv = (conv.join(touch, "__u", "left")
                .groupBy("__u", "__cs")
                .agg(F.min(F.when(ok, key)).alias("__first"),
                     F.max(F.when(ok, key)).alias("__last")))
    pick = lambda c: F.coalesce(  # noqa: E731
        F.substring(c, 21, 1_000), F.lit("(none)"))
    both = per_conv.select(F.explode(F.array(
        F.struct(F.lit("first_touch").alias("model"),
                 pick(F.col("__first")).alias("touch_type")),
        F.struct(F.lit("last_touch").alias("model"),
                 pick(F.col("__last")).alias("touch_type")))).alias("__m"))
    return (both.select("__m.model", "__m.touch_type")
            .groupBy("model", "touch_type")
            .agg(F.count(F.lit(1)).cast("long").alias("n_conversions")))


def user_growth_curve(events: DataFrame, user_col: str = "user_id",
                      ts_col: str = "ts") -> DataFrame:
    """EXT (R113): cumulative-user growth curve — per epoch-week, how
    many users appeared for the FIRST time and the running total of
    users ever seen (the canonical product growth chart; exact, not a
    sampled estimate — cumulative COUNT(DISTINCT) done right).

    Scale shape: one min-per-user aggregate (partial map-side) collapses
    the stream to a users-sized table, a week-level count collapses that
    to tens of rows, and only THEN does the running-sum window run —
    over the week domain, never the event stream. Epoch-week integers
    (floor epoch-seconds / 604800) are cross-engine exact."""
    week = F.floor(F.unix_timestamp(F.col(ts_col)) / WEEK_SECONDS) \
            .cast("long")
    firsts = (events.select(F.col(user_col).alias("__u"), week.alias("__w"))
              .groupBy("__u").agg(F.min("__w").alias("first_week")))
    per_week = (firsts.groupBy(F.col("first_week").alias("week"))
                .agg(F.count(F.lit(1)).cast("long").alias("new_users")))
    w = (Window.orderBy(F.col("week").asc())
         .rowsBetween(Window.unboundedPreceding, 0))
    return per_week.withColumn(
        "cum_users", F.sum("new_users").over(w).cast("long"))


def zscore_outliers(df: DataFrame, group_cols: list[str], value_int,
                    keep_cols: list[str],
                    threshold: float = 2.5) -> DataFrame:
    """EXT (R117): exact per-group z-score outlier flags over a pre-scaled
    INTEGER value expression (cents / basis points — the caller picks the
    scale, which cancels out of z). Returns the flagged rows only:
    ``keep_cols`` + the group key + ``z`` (rounded 6dp), for every row
    with |z| ≥ ``threshold`` within its group.

    Engine-invariant by the same discipline as ``corr_matrix``: the
    moments n, Σx, Σx² accumulate in decimal(38,0) — exact under any
    partitioning/add order — and z reduces to the integer-numerator form
        z = (n·x − Σx) / sqrt(n·Σx² − (Σx)²)
    so the ONLY float ops are one cast, one sqrt, one divide: a fixed
    IEEE expression DuckDB evaluates bit-identically. Groups with zero
    variance (or a single row) emit nothing.

    Scale shape (100 TB): one partial-agg shuffle for the per-group
    moments; the moment table (one row per group) broadcasts back, so
    flagging is map-side — the fact rows never shuffle. NULL values are
    excluded up front (a NULL measurement is a missing-data problem, not
    an outlier)."""
    base = df.filter(value_int.isNotNull()) \
             .withColumn("__v", value_int.cast("decimal(38,0)"))
    stats = (base.groupBy(*group_cols)
             .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"),
                  F.sum("__v").alias("__s1"),
                  F.sum(F.col("__v") * F.col("__v")).alias("__s2")))
    den = F.col("__n") * F.col("__s2") - F.col("__s1") * F.col("__s1")
    z = F.round(
        (F.col("__n") * F.col("__v") - F.col("__s1")).cast("double")
        / F.sqrt(den.cast("double")), 6)
    return (base.join(F.broadcast(stats), group_cols)
            .filter(den > 0)
            .withColumn("z", z)
            .filter(F.abs(F.col("z")) >= threshold)
            .select(*keep_cols, *group_cols, "z"))


def exact_quantiles(df: DataFrame, value_int, qs: list[tuple[int, int]],
                    bucket_width: int = 1_000) -> DataFrame:
    """EXT (R120): exact GLOBAL quantiles as true k-th order statistics —
    the exact twin of the KLL-sketch path (``sketches.approx_quantiles``):
    sketches answer at 100 TB with ε error; this operator answers exactly
    when the SLA demands it, without ever sorting the data or running a
    corpus-wide single-partition window. ``qs`` are exact rationals
    (num, den); ranks are ``k = ceil(n·num/den)`` in pure integer
    arithmetic (``(n·num + den − 1) DIV den`` — no float ceil), so the
    result is engine- and partition-invariant, tie-order-independent.

    Scale shape (100 TB): raw rows collapse to a VALUE HISTOGRAM (one
    shuffle; partial counts fold map-side), the global cumulative count
    is ``window.scan_tree`` over value-range buckets, so no window ever
    sees more than one bucket of distinct values in one partition. The
    k-rank spec (|qs| rows) broadcasts; the rank→value probe is a
    broadcast range-join against the histogram. It is
    ``weighted_quantiles`` with unit weights."""
    return (weighted_quantiles(df, value_int, F.lit(1), qs, bucket_width)
            .select("q", F.col("w_rank").alias("rank"), "value"))


#: cumulative Poisson(1) probabilities P(X <= k) for k = 0..7 — literal
#: doubles, so the inverse-CDF thresholding below is the same constant
#: comparison on every engine. P(X <= 7) leaves ~1e-5 mass for w=8.
_POISSON1_CDF = (0.36787944117144233, 0.7357588823428847,
                 0.9196986029286058, 0.9810118431238462,
                 0.9963401531726563, 0.9994058151824183,
                 0.9999167588507119, 0.9999897508033253)


def poisson_bootstrap_means(df: DataFrame, id_col, value_int,
                            n_resamples: int = 100,
                            salt: str = "boot",
                            round_dp: int = 6) -> DataFrame:
    """EXT (R199, round 6): DETERMINISTIC POISSON BOOTSTRAP — the
    distributed bootstrap (each resample draws every row with an
    independent Poisson(1) multiplicity, ≈ multinomial resampling
    without coordinating a global n): B resampled means in ONE pass,
    no data movement per resample. ``rand()``-based bootstraps are
    partition-order-dependent and unreproducible; here the weight is
    the Poisson(1) inverse CDF applied to a sha-derived uniform of
    (salt‖resample‖row-id) — rerun/repartition/append-stable, and
    SQL-replicable, so even the *randomness* is oracle-verified.

    One row per resample: ``b``, ``n_eff`` (Σw), ``mean``
    (Σw·v / Σw, ONE division, ROUND 6). Percentiles of the B means
    are the CI; they're left to the caller (B rows).

    Scale shape (100 TB): rows × B expansion is map-side (explode of a
    B-literal sequence), immediately collapsed by the per-b partial
    aggregation — the shuffle carries B rows per partition, not rows×B."""
    b = F.explode(F.sequence(F.lit(0), F.lit(n_resamples - 1))).alias("b")
    id_c = F.col(id_col) if isinstance(id_col, str) else id_col
    base = df.select(id_c.cast("string").alias("__id"),
                     value_int.cast("long").alias("__v")).select(
        "__id", "__v", b)
    from .sampling import hash_bucket
    u = hash_bucket(F.concat(F.col("b").cast("string"), F.lit("_"),
                             F.col("__id")), 1_000_000, salt) \
        .cast("double") / 1_000_000.0
    w = F.lit(8)
    for k in range(len(_POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_POISSON1_CDF[k]), F.lit(k)).otherwise(w)
    weighted = base.withColumn("__w", w.cast("long"))
    return (weighted.groupBy("b")
            .agg(F.sum("__w").cast("long").alias("n_eff"),
                 F.sum(F.col("__w") * F.col("__v")).cast("long")
                 .alias("__wv"))
            .select(F.col("b").cast("long").alias("b"), "n_eff",
                    F.when(F.col("n_eff") > 0,
                           F.round(F.col("__wv").cast("double")
                                   / F.col("n_eff").cast("double"),
                                   round_dp)).alias("mean")))


def permutation_test(df: DataFrame, id_col, value_int,
                     n_perms: int = 199, salt: str = "perm",
                     round_dp: int = 6) -> DataFrame:
    """EXT (R202, round 6): PERMUTATION TEST for a two-arm mean
    difference — the assumption-free significance readout (no normality,
    no variance formula): re-assign arms ``n_perms`` times, and the
    p-value is the rank of the observed |difference| in the null
    distribution, with the +1 correction (Phipson & Smyth) so p is
    never 0. Like ``poisson_bootstrap_means``, the permutations are
    sha-DETERMINISTIC (assignment p for a unit = bucket of
    (p‖unit-id)), so reruns reproduce and the oracle replays the null
    distribution itself; assignment 0 IS the observed experiment's
    arms (same hash-assignment discipline the experiment used).

    ONE row: ``obs_diff`` (ROUND 6), ``n_perms``, ``n_extreme``
    (permutations with ROUND-6 |stat| ≥ ROUND-6 |obs| — the comparison
    runs on the rounded values, so it is engine-exact), ``p_value`` =
    (1 + n_extreme)/(1 + n_perms).

    Scale: unit-level frame × (n_perms+1) map-side explode collapsed
    by per-assignment conditional aggregation — the shuffle carries
    one row per assignment per partition."""
    from .sampling import hash_bucket
    id_c = F.col(id_col) if isinstance(id_col, str) else id_col
    p = F.explode(F.sequence(F.lit(0), F.lit(n_perms))).alias("__p")
    base = df.select(id_c.cast("string").alias("__id"),
                     value_int.cast("long").alias("__v")).select(
        "__id", "__v", p)
    arm = hash_bucket(F.concat(F.col("__p").cast("string"), F.lit("_"),
                               F.col("__id")), 10_000, salt) < 5_000
    stats = (base.withColumn("__t", arm)
             .groupBy("__p")
             .agg(F.count(F.when(F.col("__t"), 1)).cast("long")
                  .alias("__nt"),
                  F.coalesce(F.sum(F.when(F.col("__t"), F.col("__v"))),
                             F.lit(0)).cast("long").alias("__st"),
                  F.count(F.when(~F.col("__t"), 1)).cast("long")
                  .alias("__nc"),
                  F.coalesce(F.sum(F.when(~F.col("__t"), F.col("__v"))),
                             F.lit(0)).cast("long").alias("__sc")))
    stat = F.when((F.col("__nt") > 0) & (F.col("__nc") > 0),
                  F.round(F.col("__st").cast("double")
                          / F.col("__nt").cast("double")
                          - F.col("__sc").cast("double")
                          / F.col("__nc").cast("double"), round_dp))
    scored = stats.withColumn("__stat", stat)
    obs = F.broadcast(scored.filter(F.col("__p") == 0)
                      .select(F.col("__stat").alias("__obs")))
    perms = (scored.filter(F.col("__p") > 0).crossJoin(obs)
             .agg(F.count(F.lit(1)).cast("long").alias("n_perms"),
                  F.count(F.when(F.abs(F.col("__stat"))
                                 >= F.abs(F.col("__obs")), 1))
                  .cast("long").alias("n_extreme"),
                  F.max("__obs").alias("obs_diff")))
    return perms.select(
        F.col("obs_diff"), "n_perms", "n_extreme",
        F.round((1 + F.col("n_extreme")).cast("double")
                / (1 + F.col("n_perms")).cast("double"),
                round_dp).alias("p_value"))


def cuped_report(df: DataFrame, arm_pred, x_int, y_int,
                 round_dp: int = 6) -> DataFrame:
    """EXT (R198, round 6): CUPED variance reduction — the standard
    experiment-sensitivity trick (Deng et al. 2013): adjust each unit's
    metric by its PRE-EXPERIMENT covariate, Y' = Y − θ(X − X̄) with
    θ = cov(X,Y)/var(X), shrinking metric variance by ρ² without
    biasing the treatment effect (θ is pooled, so E[Y'|arm] − E[Y|arm]
    is the same shift in both arms). ``experiment_report`` reads the
    raw A/B; this is the high-sensitivity read of the SAME experiment.

    ONE row: per-arm n and raw/adjusted means, pooled ``theta``, the
    raw and adjusted mean differences, and ``var_reduction`` = ρ² (the
    fraction of variance CUPED removed). Every input to the float
    expressions is a decimal(38,0)-exact sum (the ``corr_matrix``
    discipline); arm means, θ and ρ² are fixed-shape IEEE expressions
    over those integers, ROUND 6. NULL adjusted columns when var(X)
    is zero (no covariate signal — CUPED degenerates to the raw read).

    Scale: one conditional scalar aggregation over the unit-level
    frame; nothing past the scan is row-scale."""
    t = arm_pred
    dx = x_int.cast("long").cast("decimal(38,0)")
    dy = y_int.cast("long").cast("decimal(38,0)")
    one = df.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"),
        F.sum(dx).alias("__sx"), F.sum(dy).alias("__sy"),
        F.sum(dx * dx).alias("__sxx"), F.sum(dy * dy).alias("__syy"),
        F.sum(dx * dy).alias("__sxy"),
        F.count(F.when(t, 1)).cast("long").alias("n_t"),
        F.coalesce(F.sum(F.when(t, dx)), F.lit(0).cast("decimal(38,0)"))
        .alias("__sxt"),
        F.coalesce(F.sum(F.when(t, dy)), F.lit(0).cast("decimal(38,0)"))
        .alias("__syt"),
        F.count(F.when(~t, 1)).cast("long").alias("n_c"),
        F.coalesce(F.sum(F.when(~t, dx)), F.lit(0).cast("decimal(38,0)"))
        .alias("__sxc"),
        F.coalesce(F.sum(F.when(~t, dy)), F.lit(0).cast("decimal(38,0)"))
        .alias("__syc"))
    n_ = F.col("__n")
    vx = n_ * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vy = n_ * F.col("__syy") - F.col("__sy") * F.col("__sy")
    cov = n_ * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    theta = cov.cast("double") / vx.cast("double")
    xbar = F.col("__sx").cast("double") / n_.cast("double")

    def raw_mean(s, n):
        return F.col(s).cast("double") / F.col(n).cast("double")

    def adj_mean(sy, sx, n):
        return raw_mean(sy, n) - theta * (raw_mean(sx, n) - xbar)

    ok = (vx > 0) & (F.col("n_t") > 0) & (F.col("n_c") > 0)
    rho2 = F.when((vx > 0) & (vy > 0),
                  F.round(cov.cast("double") * cov.cast("double")
                          / (vx.cast("double") * vy.cast("double")), round_dp))
    return one.select(
        "n_t", "n_c",
        F.when(F.col("n_t") > 0,
               F.round(raw_mean("__syt", "n_t"), round_dp))
        .alias("mean_t_raw"),
        F.when(F.col("n_c") > 0,
               F.round(raw_mean("__syc", "n_c"), round_dp))
        .alias("mean_c_raw"),
        F.when(ok, F.round(theta, round_dp)).alias("theta"),
        F.when(ok, F.round(adj_mean("__syt", "__sxt", "n_t"), round_dp))
        .alias("mean_t_adj"),
        F.when(ok, F.round(adj_mean("__syc", "__sxc", "n_c"), round_dp))
        .alias("mean_c_adj"),
        F.when(ok, F.round(adj_mean("__syt", "__sxt", "n_t")
                           - adj_mean("__syc", "__sxc", "n_c"), round_dp))
        .alias("adj_diff"),
        rho2.alias("var_reduction"))


def did_report(df: DataFrame, arm_pred, period_pred, value_int,
               round_dp: int = 6) -> DataFrame:
    """EXT (R197, round 6): DIFFERENCE-IN-DIFFERENCES readout — the
    causal-inference workhorse when treatment lands at a known time:
    (treated_after − treated_before) − (control_after − control_before)
    cancels both the group's fixed offset and the common time trend,
    which a naive before/after or treated/control comparison cannot.
    ``experiment_report`` (R123) answers randomized A/B; DiD answers
    the rollout/natural-experiment case.

    ONE row: the four cells' exact integer counts and sums
    (n/sum per treated×after combination), the four ROUND-6 cell
    means, and ``did`` — computed from the four raw means in a single
    fixed-shape IEEE expression, ROUND 6 (NULL when any cell is
    empty). Scale: one scalar aggregation with conditional sums —
    map-side partials, nothing row-scale past the scan."""
    t = F.when(arm_pred, 1).otherwise(0)
    p = F.when(period_pred, 1).otherwise(0)
    v = value_int.cast("long")
    cells = {}
    aggs = []
    for ti in (0, 1):
        for pi in (0, 1):
            tag = f"{'t' if ti else 'c'}{'1' if pi else '0'}"
            cond = (t == ti) & (p == pi)
            aggs.append(F.count(F.when(cond, 1)).cast("long")
                        .alias(f"n_{tag}"))
            aggs.append(F.coalesce(F.sum(F.when(cond, v)), F.lit(0))
                        .cast("long").alias(f"sum_{tag}"))
            cells[tag] = None
    one = df.agg(*aggs)

    def mean(tag):
        return F.col(f"sum_{tag}").cast("double") \
            / F.col(f"n_{tag}").cast("double")

    nonempty = (F.col("n_c0") > 0) & (F.col("n_c1") > 0) \
        & (F.col("n_t0") > 0) & (F.col("n_t1") > 0)
    did = (mean("t1") - mean("t0")) - (mean("c1") - mean("c0"))
    out_cols = []
    for tag in ("c0", "c1", "t0", "t1"):
        out_cols += [F.col(f"n_{tag}"), F.col(f"sum_{tag}"),
                     F.when(F.col(f"n_{tag}") > 0,
                            F.round(mean(tag), round_dp))
                     .alias(f"mean_{tag}")]
    return one.select(*out_cols,
                      F.when(nonempty, F.round(did, round_dp))
                      .alias("did"))


def cross_correlation(a_df: DataFrame, b_df: DataFrame,
                      max_lag: int = 7, round_dp: int = 6) -> DataFrame:
    """EXT (R192, round 6): LEAD-LAG cross-correlation between two
    (x, v) integer series — Pearson of A[x] against B[x+k] for each lag
    k in 0..max_lag, the "does A move B some days later" readout
    (marketing spend → purchases, errors → churn). The argmax lag is
    the discovered lead time; ``corr_matrix`` answers contemporaneous
    association only.

    Exactness: the paired moments accumulate in decimal(38,0) per lag
    (the ``corr_matrix`` discipline) over the INNER join of x with
    x+k — pairs where either side's grid point is missing drop, and
    ``n_pairs`` is reported so sparse overlaps are visible. The only
    float is the final fixed-shape cast/sqrt/divide, ROUND 6.

    Scale shape (100 TB): both inputs are already grid-collapsed
    (days); the lag spec (max_lag+1 rows) broadcasts into the join, so
    the pair frame is |grid|·lags — day-domain scale, never rows."""
    spark = a_df.sparkSession
    lags = F.broadcast(spark.range(max_lag + 1)
                       .select(F.col("id").cast("long").alias("lag")))
    a = a_df.select(F.col("x").cast("long").alias("__xa"),
                    F.col("v").cast("long").alias("__va"))
    b = b_df.select(F.col("x").cast("long").alias("__xb"),
                    F.col("v").cast("long").alias("__vb"))
    j = (a.crossJoin(lags)
         .withColumn("__xb", F.col("__xa") + F.col("lag"))
         .join(b, "__xb"))
    da = F.col("__va").cast("decimal(38,0)")
    db = F.col("__vb").cast("decimal(38,0)")
    m = j.groupBy("lag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"),
        F.sum(da).alias("__sa"), F.sum(db).alias("__sb"),
        F.sum(da * da).alias("__saa"), F.sum(db * db).alias("__sbb"),
        F.sum(da * db).alias("__sab"))
    n_ = F.col("__n")
    num = n_ * F.col("__sab") - F.col("__sa") * F.col("__sb")
    va = n_ * F.col("__saa") - F.col("__sa") * F.col("__sa")
    vb = n_ * F.col("__sbb") - F.col("__sb") * F.col("__sb")
    corr = F.when((va > 0) & (vb > 0),
                  F.round(num.cast("double")
                          / (F.sqrt(va.cast("double"))
                             * F.sqrt(vb.cast("double"))), round_dp))
    return m.select("lag", n_.cast("long").alias("n_pairs"),
                    corr.alias("xcorr"))


def burstiness(df: DataFrame, group_cols: list[str], ts_int, tiebreak,
               round_dp: int = 6) -> DataFrame:
    """EXT (R190, round 6): inter-arrival BURSTINESS per group — the
    Goh–Barabási coefficient B = (σ−μ)/(σ+μ) of the gap distribution
    (−1 = perfectly periodic, 0 = Poisson, →1 = bursty). The
    traffic-shape fingerprint behind rate limiting, bot detection and
    capacity planning; ``rate_cap`` enforces a budget, this measures
    the shape that blows budgets.

    Exactness: gaps are integer differences of the epoch-second
    ordering key under a TOTAL order (``tiebreak`` makes equal
    timestamps deterministic — Σg telescopes regardless, Σg² does
    not); moments accumulate in decimal(38,0); with σ = √(nΣg²−S²)/n
    and μ = S/n the n cancels:
    B = (√(nΣg²−S²) − S) / (√(nΣg²−S²) + S) — one sqrt + one division
    on exact integers, ROUND 6. NULL for groups with < 2 gaps or an
    all-zero gap sum (B undefined)."""
    w = (Window.partitionBy(*group_cols)
         .orderBy(F.col("__ts").asc(), F.col("__tb").asc()))
    gaps = (df.select(*group_cols, ts_int.cast("long").alias("__ts"),
                      tiebreak.alias("__tb"))
            .withColumn("__gap", F.col("__ts") - F.lag("__ts").over(w))
            .filter(F.col("__gap").isNotNull()))
    d = F.col("__gap").cast("decimal(38,0)")
    m = gaps.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"),
        F.sum(d).alias("__s"), F.sum(d * d).alias("__q"))
    disc = (F.col("__n") * F.col("__q")
            - F.col("__s") * F.col("__s")).cast("double")
    s_d = F.col("__s").cast("double")
    b = F.when((F.col("__n") >= 2) & ((F.sqrt(disc) + s_d) > 0),
               F.round((F.sqrt(disc) - s_d) / (F.sqrt(disc) + s_d),
                       round_dp))
    return m.select(*group_cols,
                    F.col("__n").cast("long").alias("n_gaps"),
                    F.col("__s").cast("long").alias("sum_gap_s"),
                    b.alias("burstiness"))


def seasonal_outliers(df: DataFrame, group_cols: list[str], x_int, y_int,
                      period: int = 7, top_k: int = 10,
                      round_dp: int = 6) -> DataFrame:
    """EXT (R183, round 6): seasonality-adjusted anomaly screen — the
    raw-zscore family (``zscore_outliers``/``mad_profile``) flags every
    weekend on a weekly-cyclic metric; this one removes the cycle
    first: each (group, day) total is centered against ITS OWN phase's
    mean (day-of-week for period=7) and the top-k
    largest-|residual| days per group survive. The "what actually
    broke, once you stop re-discovering Saturdays" readout.

    Exactness: phase sums/counts are exact integers; the scaled
    residual v·c_p − s_p is an exact integer whose SIGN and per-phase
    comparisons are float-free; the cross-phase ranking divides by the
    phase count (``resid`` = (v·c_p − s_p)/c_p, ONE division) and
    orders by ROUND(|resid|, 6) with the day as tie-break — the
    ``cosine_topk`` selection-stability device.

    Scale shape (100 TB): rows collapse to the (group, day) grid; the
    phase profile is a ``period``-row broadcast per group; ranking is
    one WindowGroupLimit per group over its day domain."""
    pts = (df.select(*group_cols, x_int.cast("long").alias("__x"),
                     y_int.cast("long").alias("__y"))
           .groupBy(*group_cols, "__x")
           .agg(F.sum("__y").cast("long").alias("__v"))
           .withColumn("__p", F.pmod(F.col("__x"), F.lit(period))))
    prof = (pts.groupBy(*group_cols, "__p")
            .agg(F.count(F.lit(1)).cast("long").alias("__cp"),
                 F.sum("__v").cast("long").alias("__sp")))
    resid = (F.col("__v") * F.col("__cp") - F.col("__sp")).cast("double") \
        / F.col("__cp").cast("double")
    scored = (pts.join(prof, [*group_cols, "__p"])
              .withColumn("__resid", F.round(resid, round_dp)))
    w = (Window.partitionBy(*group_cols)
         .orderBy(F.abs(F.col("__resid")).desc(), F.col("__x").asc()))
    return (scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= top_k)
            .select(*group_cols, F.col("__x").alias("x"),
                    F.col("__p").alias("phase"),
                    F.col("__v").alias("day_total"),
                    F.col("__cp").alias("phase_n"),
                    F.col("__sp").alias("phase_sum"),
                    F.col("__resid").alias("resid")))


def cusum_changepoint(df: DataFrame, group_cols: list[str], x_int, y_int
                      ) -> DataFrame:
    """EXT (R180, round 6): CUSUM changepoint detection per group — the
    single most likely level-shift point of a series, found as the
    argmax of the mean-centered cumulative sum (Page's CUSUM /
    Taylor's changepoint estimator). The screen that answers "WHEN did
    this metric move", where the trend family (Theil–Sen / MK) answers
    "does it drift".

    ALL-INTEGER: the centered cumulative sum is scaled by n —
    C_k = n·Σ_{i≤k}v_i − k·T (multiply through by n instead of
    subtracting the rational mean), so the peak and its argmax are
    exact; ties break on the earlier x. No floats anywhere in the
    output: the before/after segment sums and counts ship as integers
    so the consumer derives means at whatever precision it wants.

    Output: group, ``n_points``, ``cp_x`` (the x at the peak —
    the LAST point of the pre-shift segment), ``cusum_peak`` (=
    max|C_k|), ``n_before``/``sum_before``/``n_after``/``sum_after``.

    Scale shape (100 TB): grid collapse to (group, x) first (the
    Theil–Sen discipline); cumulative sums and the argmax run under
    windows PARTITIONED by group over the x-domain (days), never raw
    rows. Magnitude: n·T must fit a long — days × cents-totals is
    ~10¹¹ per group-year, 7 orders under the limit."""
    pts = (df.select(*group_cols, x_int.cast("long").alias("__x"),
                     y_int.cast("long").alias("__y"))
           .groupBy(*group_cols, "__x")
           .agg(F.sum("__y").cast("long").alias("__v")))
    w_all = Window.partitionBy(*group_cols)
    w_cum = (Window.partitionBy(*group_cols).orderBy("__x")
             .rowsBetween(Window.unboundedPreceding, 0))
    scored = (pts
              .withColumn("__n", F.count(F.lit(1)).over(w_all))
              .withColumn("__t", F.sum("__v").over(w_all))
              .withColumn("__k", F.row_number().over(
                  Window.partitionBy(*group_cols).orderBy("__x")))
              .withColumn("__cum", F.sum("__v").over(w_cum))
              .withColumn("__c", F.col("__n") * F.col("__cum")
                          - F.col("__k") * F.col("__t")))
    w_peak = (Window.partitionBy(*group_cols)
              .orderBy(F.abs(F.col("__c")).desc(), F.col("__x").asc()))
    peak = (scored.withColumn("__rn", F.row_number().over(w_peak))
            .filter(F.col("__rn") == 1))
    return peak.select(
        *group_cols,
        F.col("__n").cast("long").alias("n_points"),
        F.col("__x").alias("cp_x"),
        F.abs(F.col("__c")).cast("long").alias("cusum_peak"),
        F.col("__k").cast("long").alias("n_before"),
        F.col("__cum").cast("long").alias("sum_before"),
        (F.col("__n") - F.col("__k")).cast("long").alias("n_after"),
        (F.col("__t") - F.col("__cum")).cast("long").alias("sum_after"))


def _risk_sets(df: DataFrame, duration_int, observed_pred) -> DataFrame:
    """Shared survival-analysis scaffolding: subjects collapse to the
    duration histogram (map-side partial agg); risk set at each distinct
    time = total − everyone who left strictly earlier (a cumulative
    window over the DISTINCT duration domain, never subjects). Emits
    (__t, __d, __risk) for event times only (__d > 0) — the frame both
    Kaplan–Meier and Nelson–Aalen reduce."""
    base = df.select(duration_int.cast("long").alias("__t"),
                     F.when(observed_pred, 1).otherwise(0).alias("__e"))
    hist = (base.groupBy("__t")
            .agg(F.count(F.lit(1)).cast("long").alias("__all"),
                 F.sum("__e").cast("long").alias("__d")))
    n1 = base.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    w_prev = Window.orderBy("__t").rowsBetween(Window.unboundedPreceding, -1)
    return (hist.crossJoin(F.broadcast(n1))
            .withColumn("__risk", F.col("__n") - F.coalesce(
                F.sum("__all").over(w_prev), F.lit(0)))
            .filter(F.col("__d") > 0))


def kaplan_meier(df: DataFrame, duration_int, observed_pred,
                 round_dp: int = 6) -> DataFrame:
    """EXT (R178, round 6): Kaplan–Meier survival curve with right
    censoring — THE time-to-event estimator under incomplete
    observation (time-to-conversion / time-to-churn where many
    subjects simply haven't converted yet; dropping or
    max-imputing censored subjects biases every naive average).
    One row per distinct event time t: ``n_risk`` (subjects with
    duration ≥ t — censored subjects count at their own time, the
    standard events-before-censoring convention), ``n_events``, and
    ``survival`` = Π_{t_j ≤ t} (1 − d_j/n_j).

    Exactness: risk sets and event counts are exact integers from the
    duration histogram; the product runs as exp(Σ ln(1−d/n)) under a
    cumulative window in ascending-t order — identical op sequence on
    both engines, ROUND 6 (the ``token_entropy`` transcendental
    precedent). A risk set fully consumed (d = n) would send ln to
    −∞ (NULL in Spark), so survival is forced to exact 0 from that
    time on via a cumulative flag instead.

    Scale shape (100 TB): subjects collapse to the duration histogram
    (map-side partial agg); every window runs over the DISTINCT
    duration domain (days — bounded), never subjects."""
    risked = _risk_sets(df, duration_int, observed_pred)
    w_cum = Window.orderBy("__t").rowsBetween(Window.unboundedPreceding, 0)
    ln_term = F.when(F.col("__d") < F.col("__risk"),
                     F.log(F.lit(1.0) - F.col("__d").cast("double")
                           / F.col("__risk").cast("double")))
    dead = F.max(F.when(F.col("__d") == F.col("__risk"), 1)
                 .otherwise(0)).over(w_cum)
    surv = F.when(dead == 1, F.lit(0.0)) \
        .otherwise(F.exp(F.sum(ln_term).over(w_cum)))
    return (risked
            .select(F.col("__t").alias("t"),
                    F.col("__risk").cast("long").alias("n_risk"),
                    F.col("__d").alias("n_events"),
                    F.round(surv, round_dp).alias("survival")))


def kendall_tau(df: DataFrame, group_cols: list[str], x_int, y_int,
                round_dp: int = 6) -> DataFrame:
    """EXT (R177, round 6): per-group KENDALL tau-b — concordant minus
    discordant pairs over sqrt((n0−n1)(n0−n2)), the tie-adjusted rank
    association. Completes the rank-statistics family: Theil–Sen
    estimates the slope, Mann–Kendall tests the time trend (its S IS
    C−D against time), Spearman correlates midranks, tau-b measures
    pairwise concordance between two arbitrary variables.

    Exactness: rows collapse to (x, y) CELLS with counts; concordant /
    discordant / tie totals are exact integer sums of count products
    (cell pairs ordered by (x, y) so each unordered pair counts once;
    within-cell pairs are both-tied and belong to neither margin-only
    term); n1/n2 come from the x / y marginals as Σt(t−1)/2. tau_b =
    (C−D) / (√(n0−n1)·√(n0−n2)) — two casts, two sqrts, one multiply,
    one divide, fixed shape, ROUND 6 (√a·√b, not √(a·b): the product
    can overflow long where the factors cannot).

    Scale shape (100 TB): the pairwise term is C(cells, 2) PER GROUP —
    collapse to the grid you measure on (the Theil–Sen discipline:
    days × value-buckets, not raw rows); marginals and n are hash aggs
    on the same grid."""
    pts = (df.select(*group_cols, x_int.cast("long").alias("__x"),
                     y_int.cast("long").alias("__y"))
           .groupBy(*group_cols, "__x", "__y")
           .agg(F.count(F.lit(1)).cast("long").alias("__c")))
    n_tot = pts.groupBy(*group_cols).agg(
        F.sum("__c").cast("long").alias("__n"))
    rhs = pts.select(*group_cols, F.col("__x").alias("__x2"),
                     F.col("__y").alias("__y2"), F.col("__c").alias("__c2"))
    pair_order = (F.col("__x") < F.col("__x2")) | \
        ((F.col("__x") == F.col("__x2")) & (F.col("__y") < F.col("__y2")))
    prod = F.col("__c") * F.col("__c2")
    sgn = (F.col("__x2") - F.col("__x")) * (F.col("__y2") - F.col("__y"))
    cross = (pts.join(rhs, group_cols).filter(pair_order)
             .groupBy(*group_cols)
             .agg(F.coalesce(F.sum(F.when(sgn > 0, prod)), F.lit(0))
                  .cast("long").alias("__conc"),
                  F.coalesce(F.sum(F.when(sgn < 0, prod)), F.lit(0))
                  .cast("long").alias("__disc")))
    tx = (pts.groupBy(*group_cols, "__x").agg(F.sum("__c").alias("__t"))
          .groupBy(*group_cols)
          .agg(F.sum(F.col("__t") * (F.col("__t") - 1)).cast("long")
               .alias("__s1"))
          .withColumn("__n1", F.expr("__s1 DIV 2")).drop("__s1"))
    ty = (pts.groupBy(*group_cols, "__y").agg(F.sum("__c").alias("__t"))
          .groupBy(*group_cols)
          .agg(F.sum(F.col("__t") * (F.col("__t") - 1)).cast("long")
               .alias("__s2"))
          .withColumn("__n2", F.expr("__s2 DIV 2")).drop("__s2"))
    base = (n_tot.join(tx, group_cols).join(ty, group_cols)
            .join(cross, group_cols, "left")
            .withColumn("__conc", F.coalesce("__conc", F.lit(0)))
            .withColumn("__disc", F.coalesce("__disc", F.lit(0)))
            .withColumn("__n0", F.expr("(__n * (__n - 1)) DIV 2")))
    dx = (F.col("__n0") - F.col("__n1")).cast("double")
    dy = (F.col("__n0") - F.col("__n2")).cast("double")
    tau = F.when((F.col("__n0") > F.col("__n1"))
                 & (F.col("__n0") > F.col("__n2")),
                 F.round((F.col("__conc") - F.col("__disc")).cast("double")
                         / (F.sqrt(dx) * F.sqrt(dy)), round_dp))
    return base.select(*group_cols, F.col("__n").alias("n_rows"),
                       F.col("__conc").alias("n_concordant"),
                       F.col("__disc").alias("n_discordant"),
                       tau.alias("tau_b"))


def spearman_corr(df: DataFrame, group_cols: list[str], x_int, y_int,
                  round_dp: int = 6) -> DataFrame:
    """EXT (R176, round 6): per-group SPEARMAN rank correlation —
    Pearson on midranks, the monotone-association measure that ignores
    scale and outlier magnitude (the robust sibling of ``corr_matrix``'s
    Pearson: one wild spike saturates at its rank). Ties take midranks,
    the standard tie treatment.

    Exactness: 2·midrank = 2·cum_before + c + 1 over the per-group
    value histogram (the ``auc_report`` integer device — midranks come
    out EXACT, never a float average); the doubled ranks cancel out of
    r, and every moment accumulates in decimal(38,0) exactly as
    ``corr_matrix`` does, so the only float is the final fixed-shape
    cast/sqrt/divide, ROUND 6. NULL when either variable is constant.

    Scale shape (100 TB): two per-(group, value) histograms (map-side
    partial aggs), rank windows PARTITIONED by group over distinct
    values, two hash joins back to rows on (group, value), one moment
    aggregation. No global sort; nothing single-partition."""
    rows = (df.select(*group_cols, x_int.cast("long").alias("__x"),
                      y_int.cast("long").alias("__y"))
            .filter(F.col("__x").isNotNull() & F.col("__y").isNotNull()))

    def _two_ranks(col: str, out: str) -> DataFrame:
        hist = rows.groupBy(*group_cols, col).agg(
            F.count(F.lit(1)).cast("long").alias("__c"))
        w = (Window.partitionBy(*group_cols).orderBy(col)
             .rowsBetween(Window.unboundedPreceding, 0))
        return (hist.withColumn(
            out, (2 * F.sum("__c").over(w) - F.col("__c") + 1)
            .cast("long")).drop("__c"))

    hx = _two_ranks("__x", "__rx")
    hy = _two_ranks("__y", "__ry")
    j = (rows.join(hx, [*group_cols, "__x"])
         .join(hy, [*group_cols, "__y"]))
    dx = F.col("__rx").cast("decimal(38,0)")
    dy = F.col("__ry").cast("decimal(38,0)")
    m = j.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"),
        F.sum(dx).alias("__sx"), F.sum(dy).alias("__sy"),
        F.sum(dx * dx).alias("__sxx"), F.sum(dy * dy).alias("__syy"),
        F.sum(dx * dy).alias("__sxy"))
    n_ = F.col("__n")
    num = n_ * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    vx = n_ * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vy = n_ * F.col("__syy") - F.col("__sy") * F.col("__sy")
    rho = F.when((vx > 0) & (vy > 0),
                 F.round(num.cast("double")
                         / (F.sqrt(vx.cast("double"))
                            * F.sqrt(vy.cast("double"))), round_dp))
    return m.select(*group_cols, n_.cast("long").alias("n"),
                    rho.alias("rho"))


def quantile_normalize(df: DataFrame, group_cols: list[str], value_int,
                       bucket_width: int = 1_000) -> DataFrame:
    """EXT (R175, round 6): quantile normalization — map every group's
    value distribution onto the GLOBAL distribution by rank, the
    standard cross-source calibration step (microarray normalization;
    score calibration across heterogeneous feeds before mixing): after
    the transform every group has (up to ties) the same distribution,
    so cross-group comparisons compare rank, not scale.

    Returns the TRANSFORM GRID, one row per distinct (group, value):
    ``n_rows`` and ``mapped`` = the global value at rank
    ``ceil(r·N/n_g)`` where r is the value's last within-group rank —
    pure integer arithmetic (``(r·N + n_g − 1) DIV n_g``), engine- and
    tie-order-invariant. Applying it to rows is then a broadcast join
    of the grid back onto the table.

    Scale shape (100 TB): rows collapse to per-group value histograms
    (map-side partial agg); within-group cumulative ranks run under
    windows PARTITIONED by group (a partition holds one group's
    distinct values, never raw rows); the global cumulative count uses
    ``window.scan_tree`` (no global sort, no single-partition window);
    the rank→value probe is a range join against the global histogram —
    both sides distinct-value-scale, the histogram side broadcast. Integer products r·N stay in long range for N < ~3·10⁹
    rows; shard or pre-bucket beyond that."""
    vals = (df.select(*group_cols, value_int.cast("long").alias("__v"))
            .filter(F.col("__v").isNotNull()))
    grid = (vals.groupBy(*group_cols, "__v")
            .agg(F.count(F.lit(1)).cast("long").alias("__c")))
    ng = grid.groupBy(*group_cols).agg(
        F.sum("__c").cast("long").alias("__ng"))
    w_g = (Window.partitionBy(*group_cols).orderBy("__v")
           .rowsBetween(Window.unboundedPreceding, 0))
    gcum = grid.withColumn("__gc", F.sum("__c").over(w_g).cast("long"))
    hist = vals.groupBy("__v").agg(F.count(F.lit(1)).alias("__hc"))
    hcum = scan_tree(hist, "__v", bucket_width, "__hc").select(
        F.col("__v").alias("__tv"), F.col("__hc").cast("long").alias("__thc"),
        F.col("__hc_cum").cast("long").alias("__tcum"))
    n1 = vals.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    ranks = (gcum.join(ng, group_cols).crossJoin(F.broadcast(n1))
             .withColumn("__k", F.expr(
                 "CAST((__gc * __n + __ng - 1) DIV __ng AS BIGINT)")))
    # rank→value probe as a BUCKETED EQUI-JOIN, not a raw range join: a
    # range condition alone plans as a nested-loop over grid × histogram
    # (quadratic — measured 6.4 s at sf0.1 where the rest of the operator
    # is sub-second). Each histogram interval (cum−hc, cum] explodes to
    # the ~interval/B rank-buckets it spans (total expansion ≈ N/B +
    # |hist| rows), ranks hash-join on their bucket, and the exact range
    # filter runs on the tiny per-bucket candidate set.
    rank_bucket = 4096
    probe = (hcum.withColumn(
        "__kb", F.explode(F.sequence(
            F.expr(f"(__tcum - __thc) DIV {rank_bucket}"),
            F.expr(f"(__tcum - 1) DIV {rank_bucket}")))))
    return (ranks.withColumn("__kb", F.expr(f"(__k - 1) DIV {rank_bucket}"))
            .join(F.broadcast(probe), "__kb")
            .filter((F.col("__tcum") >= F.col("__k"))
                    & (F.col("__tcum") - F.col("__thc") < F.col("__k")))
            .select(*group_cols, F.col("__v").alias("value"),
                    F.col("__c").alias("n_rows"),
                    F.col("__tv").alias("mapped")))


def weighted_quantiles(df: DataFrame, value_int, weight_int,
                       qs: list[tuple[int, int]],
                       bucket_width: int = 1_000) -> DataFrame:
    """EXT (R182, round 6): exact WEIGHTED quantiles — order statistics
    where each row counts with a weight (tokens, bytes, revenue), the
    question a pretraining-mix report actually asks: "the doc length at
    which HALF THE TOKENS sit" is a token-weighted median, and it can
    sit far from the doc-count median when long docs dominate.
    ``qs`` are exact rationals (num, den); the target is the smallest
    value whose cumulative weight reaches ``ceil(W·num/den)``
    (integer arithmetic, no float ceil) — reduces to ``exact_quantiles``
    when every weight is 1.

    Scale shape (100 TB): identical to ``exact_quantiles`` — rows
    collapse to a per-value WEIGHT histogram (map-side partial sums),
    cumulative weights via ``window.scan_tree``, the |qs|-row rank
    spec broadcasts, and the rank→value probe is a broadcast range
    join. Weights must be non-negative integers; zero-weight values
    can never host a quantile (the range (cum−w, cum] is empty)."""
    vals = (df.select(value_int.cast("long").alias("__v"),
                      weight_int.cast("long").alias("__w"))
            .filter(F.col("__v").isNotNull() & F.col("__w").isNotNull()))
    cum = scan_tree(vals.groupBy("__v").agg(F.sum("__w").alias("__hw")),
                    "__v", bucket_width, "__hw")
    tot = vals.agg(F.sum("__w").alias("__tw"))
    spec = df.sparkSession.range(1).select(F.inline(F.array(*[
        F.struct(F.lit(int(num)).cast("long").alias("q_num"),
                 F.lit(int(den)).cast("long").alias("q_den"))
        for num, den in qs])))
    ranks = (spec.crossJoin(F.broadcast(tot))
             .select("q_num", "q_den", "__tw",
                     F.expr("CAST((__tw * q_num + q_den - 1) DIV q_den "
                            "AS BIGINT)").alias("__r")))
    return (cum.join(F.broadcast(ranks),
                     (F.col("__hw_cum") >= F.col("__r"))
                     & (F.col("__hw_cum") - F.col("__hw") < F.col("__r")))
            .select((F.col("q_num").cast("double") / F.col("q_den"))
                    .alias("q"),
                    F.col("__r").alias("w_rank"),
                    F.col("__tw").cast("long").alias("total_weight"),
                    F.col("__v").alias("value")))


def cooccurrence_pairs(df: DataFrame, key_col: str, item_col: str,
                       min_support: int = 2) -> DataFrame:
    """EXT (R122): market-basket co-occurrence — (item_a, item_b,
    support) for unordered item pairs appearing together under the same
    key (order, session, user), support = number of distinct keys. The
    frequent-pair half of association mining; ``collocations`` is the
    sequence-adjacent cousin, this is the set-membership one.

    Scale shape (100 TB): rows collapse to DISTINCT (key, item) first
    (one shuffle — kills within-key duplicates before any pairing), the
    pair surface is a self-equi-join on the key whose fanout is bounded
    by the per-key distinct-item count (baskets are small by domain
    construction; a pathological hub key would need a per-key item cap
    upstream — ``quota_per_group``), and the support count folds
    map-side. ``a.item < b.item`` keeps each pair once."""
    items = df.select(F.col(key_col).alias("__k"),
                      F.col(item_col).alias("__it")).distinct()
    a, b = items.alias("a"), items.alias("b")
    return (a.join(b, (F.col("a.__k") == F.col("b.__k"))
                   & (F.col("a.__it") < F.col("b.__it")))
            .groupBy(F.col("a.__it").alias("item_a"),
                     F.col("b.__it").alias("item_b"))
            .agg(F.count(F.lit(1)).alias("support"))
            .filter(F.col("support") >= min_support))


def association_rules(df: DataFrame, key_col: str, item_col: str,
                      min_support: int = 2, round_dp: int = 6) -> DataFrame:
    """EXT (R171, round 6): association rules over basket co-occurrence —
    the directional completion of ``cooccurrence_pairs``: each frequent
    unordered pair {a, b} yields both rules a→b and b→a with
    ``support`` (baskets containing both), ``confidence``
    (support / baskets containing the antecedent) and ``lift``
    (support·N / (n_a·n_b) — how far above independence the pair sits;
    lift ≈ 1 means co-occurrence is just popularity). The Apriori
    readout a recommendation/affinity pipeline ships from basket data.

    Exactness: support and the item/basket counts are exact integers;
    confidence and lift are each ONE IEEE division of integer products,
    ROUND 6.

    Scale shape (100 TB): identical skeleton to ``cooccurrence_pairs``
    (distinct (key, item) collapse → bounded self-join → map-side
    support fold); item counts are one hash agg on the same grid; the
    basket total is a 1-row broadcast cross join. The rules frame is
    2·pairs rows — output-scale, not input-scale."""
    items = df.select(F.col(key_col).alias("__k"),
                      F.col(item_col).alias("__it")).distinct()
    counts = items.groupBy("__it").agg(
        F.count(F.lit(1)).cast("long").alias("__c"))
    n = items.agg(F.count_distinct("__k").cast("long").alias("__n"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (a.join(b, (F.col("a.__k") == F.col("b.__k"))
                    & (F.col("a.__it") < F.col("b.__it")))
             .groupBy(F.col("a.__it").alias("__ia"),
                      F.col("b.__it").alias("__ib"))
             .agg(F.count(F.lit(1)).cast("long").alias("support"))
             .filter(F.col("support") >= min_support))
    rules = (pairs.select(F.col("__ia").alias("antecedent"),
                          F.col("__ib").alias("consequent"), "support")
             .unionAll(pairs.select(F.col("__ib").alias("antecedent"),
                                    F.col("__ia").alias("consequent"),
                                    "support")))
    ca = counts.select(F.col("__it").alias("antecedent"),
                       F.col("__c").alias("__ca"))
    cc = counts.select(F.col("__it").alias("consequent"),
                       F.col("__c").alias("__cc"))
    return (rules.join(ca, "antecedent").join(cc, "consequent")
            .crossJoin(F.broadcast(n))
            .select("antecedent", "consequent", "support",
                    F.round(F.col("support").cast("double")
                            / F.col("__ca").cast("double"),
                            round_dp).alias("confidence"),
                    F.round((F.col("support") * F.col("__n")).cast("double")
                            / (F.col("__ca") * F.col("__cc")).cast("double"),
                            round_dp).alias("lift")))


def experiment_report(events: DataFrame, user_col: str, convert_pred,
                      salt: str = "exp", buckets: int = 10_000) -> DataFrame:
    """EXT (R123): A/B experiment readout — deterministic 50/50 arm
    assignment by ``sha256(salt‖user)`` bucket (the ``hash_split``
    discipline: reruns, appends and repartitions never reassign a user),
    per-user conversion (any event satisfying ``convert_pred``), and the
    two-proportion pooled z statistic. ONE row: arm sizes, conversions,
    rates, z.

    Engine-invariance: arms and conversions are exact integers; rates
    and z are ONE fixed-shape IEEE expression over those integers
    (pooled p̂, then (p̂ₐ−p̂ᵦ)/√(p̂(1−p̂)(1/nₐ+1/nᵦ))), rounded 6dp.
    Scale shape: one shuffle to the per-user grain, then a scalar
    aggregate; the assignment hash is pure codegen — no RNG state, no
    assignment table to join."""
    from .sampling import hash_bucket
    users = (events.groupBy(user_col)
             .agg(F.max(F.when(convert_pred, F.lit(1)).otherwise(F.lit(0)))
                  .alias("__conv")))
    arm_a = hash_bucket(F.col(user_col), buckets, salt) < buckets // 2
    agg = users.agg(
        F.count(F.when(arm_a, 1)).alias("n_a"),
        F.count(F.when(~arm_a, 1)).alias("n_b"),
        F.coalesce(F.sum(F.when(arm_a, F.col("__conv"))), F.lit(0))
         .cast("long").alias("conv_a"),
        F.coalesce(F.sum(F.when(~arm_a, F.col("__conv"))), F.lit(0))
         .cast("long").alias("conv_b"))
    p_a = F.col("conv_a").cast("double") / F.col("n_a").cast("double")
    p_b = F.col("conv_b").cast("double") / F.col("n_b").cast("double")
    pooled = ((F.col("conv_a") + F.col("conv_b")).cast("double")
              / (F.col("n_a") + F.col("n_b")).cast("double"))
    var = (pooled * (F.lit(1.0) - pooled)
           * (F.lit(1.0) / F.col("n_a").cast("double")
              + F.lit(1.0) / F.col("n_b").cast("double")))
    # Degenerate experiments — an empty arm, or everyone/no one converts
    # (pooled variance 0) — report NULL instead of tripping ANSI
    # divide-by-zero. The guards are INTEGER-only predicates so no float
    # division ever evaluates outside its CASE branch (Spark ANSI raises
    # on double/0.0 even when the result would feed a later WHEN).
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    conv = F.col("conv_a") + F.col("conv_b")
    mixed = (conv > 0) & (conv < F.col("n_a") + F.col("n_b"))
    z = F.when(both & mixed, (p_a - p_b) / F.sqrt(var))
    return agg.select(
        "n_a", "n_b", "conv_a", "conv_b",
        F.round(F.when(F.col("n_a") > 0, p_a), 6).alias("rate_a"),
        F.round(F.when(F.col("n_b") > 0, p_b), 6).alias("rate_b"),
        F.round(z, 6).alias("z"))


def trend_slope(df: DataFrame, group_cols: list[str], x_int, y_int,
                round_dp: int = 6) -> DataFrame:
    """EXT (R125): per-group ordinary-least-squares trend — slope and
    intercept of y on x from exact decimal(38,0) moments (n, Σx, Σy,
    Σxx, Σxy), the regression member of the ``corr_matrix`` family.
    ``x_int``/``y_int`` are pre-scaled INTEGER expressions (epoch-hours,
    cents); slope = (n·Σxy − ΣxΣy)/(n·Σxx − (Σx)²) is one exact-integer
    numerator/denominator divide, intercept = (Σy − slope·Σx)/n reuses
    the slope double in a fixed IEEE expression. Zero-variance groups
    (all x equal) report NULLs.

    Scale shape: ONE partial-agg shuffle; five moments per group fold
    map-side; adding a group costs nothing but its output row."""
    base = df.select(*group_cols,
                     x_int.cast("decimal(38,0)").alias("__x"),
                     y_int.cast("decimal(38,0)").alias("__y"))
    agg = (base.groupBy(*group_cols)
           .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"),
                F.sum("__x").alias("__sx"), F.sum("__y").alias("__sy"),
                F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
                F.sum(F.col("__x") * F.col("__y")).alias("__sxy")))
    n_ = F.col("__n")
    den = n_ * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    num = n_ * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    slope = num.cast("double") / den.cast("double")
    intercept = ((F.col("__sy").cast("double")
                  - slope * F.col("__sx").cast("double"))
                 / n_.cast("double"))
    return agg.select(
        *group_cols, n_.cast("long").alias("n"),
        F.round(F.when(den > 0, slope), round_dp).alias("slope"),
        F.round(F.when(den > 0, intercept), round_dp).alias("intercept"))


def theil_sen(df: DataFrame, group_cols: list[str], x_int, y_int,
              round_dp: int = 6) -> DataFrame:
    """EXT (R167, round 6): per-group THEIL–SEN robust trend — the
    median of all pairwise slopes. ``trend_slope``'s OLS line moves
    arbitrarily far under one corrupted point (29% breakdown vs OLS's
    0%): Theil–Sen is the estimator a telemetry/quality pipeline trusts
    on dirty feeds. ``x_int``/``y_int`` are pre-scaled integer
    expressions; duplicate x values collapse to their y-sum first (one
    point per (group, x)).

    Exactness: each pairwise slope is ONE IEEE division of exact
    integers; the median is the lower order statistic ``(n+1) div 2``
    selected by (slope, x₁, x₂) order — the k-th VALUE is engine-stable
    even when distinct rationals collide as doubles (equal doubles are
    interchangeable, the tie-break only fixes WHICH row carries it).

    Scale shape: points collapse per (group, x) map-side first — the
    pairwise term is C(points, 2) PER GROUP, bounded by the x-domain
    (days, not rows; the Theil–Sen discipline: aggregate to the grid
    you regress over, then pair); one self-join + one per-group window
    over those pairs."""
    pts = (df.select(*group_cols, x_int.cast("long").alias("__x"),
                     y_int.cast("long").alias("__y"))
           .groupBy(*group_cols, "__x")
           .agg(F.sum("__y").alias("__v")))
    npts = pts.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_points"))
    rhs = pts.select(*group_cols, F.col("__x").alias("__x2"),
                     F.col("__v").alias("__v2"))
    pairs = (pts.join(rhs, group_cols)
             .filter(F.col("__x") < F.col("__x2"))
             .withColumn("__s", (F.col("__v2") - F.col("__v")).cast("double")
                         / (F.col("__x2") - F.col("__x")).cast("double")))
    w_rank = (Window.partitionBy(*group_cols)
              .orderBy(F.col("__s").asc(), F.col("__x").asc(),
                       F.col("__x2").asc()))
    w_all = Window.partitionBy(*group_cols)
    ranked = (pairs.withColumn("__rn", F.row_number().over(w_rank))
              .withColumn("__np", F.count(F.lit(1)).over(w_all)))
    med = ranked.filter(F.col("__rn") == F.expr("(__np + 1) DIV 2"))
    return (med.join(npts, group_cols)
            .select(*group_cols, "n_points",
                    F.col("__np").cast("long").alias("n_pairs"),
                    F.round(F.col("__s"), round_dp).alias("ts_slope")))


def mann_kendall(df: DataFrame, group_cols: list[str], x_int, y_int,
                 round_dp: int = 6) -> DataFrame:
    """EXT (R169, round 6): per-group MANN–KENDALL trend test — the
    significance companion to ``theil_sen`` (which estimates the slope
    but not whether a trend exists at all). S = Σ sign(v_j − v_i) over
    time-ordered pairs; the normal approximation
    z = (S ∓ 1) / sqrt(Var S) with the standard tie correction
    Var S = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)] / 18 (Kendall 1975).
    Sign-based, so a single corrupted point moves S by at most
    2(n−1) — the hypothesis-test twin of the Theil–Sen estimator,
    intended to run on the same (group, x) grid.

    Output: group, ``n_points``, ``s_stat`` (exact integer),
    ``var_s_x18`` (18·Var S — exact integer, published so the test is
    reproducible without float trust), ``mk_z`` (6 dp; NULL when the
    variance is zero — constant series or n < 2).

    Exactness: the grid collapse sums pre-scaled integers; S and the
    tie term are pure integer aggregates; z is division → sqrt →
    division on exact integer inputs (each IEEE op exactly rounded,
    identical expression shape on both engines) + ROUND 6.

    Scale shape: identical to ``theil_sen`` — points collapse to the
    per-(group, x) grid map-side, so the pairwise self-join is
    C(grid, 2) per group, bounded by the x-domain (days), never by row
    count; S and ties are hash aggregates on group keys."""
    pts = (df.select(*group_cols, x_int.cast("long").alias("__x"),
                     y_int.cast("long").alias("__y"))
           .groupBy(*group_cols, "__x")
           .agg(F.sum("__y").alias("__v")))
    npts = pts.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_points"))
    rhs = pts.select(*group_cols, F.col("__x").alias("__x2"),
                     F.col("__v").alias("__v2"))
    s = (pts.join(rhs, group_cols)
         .filter(F.col("__x") < F.col("__x2"))
         .groupBy(*group_cols)
         .agg(F.sum(F.signum(F.col("__v2") - F.col("__v")).cast("long"))
              .cast("long").alias("s_stat")))
    ties = (pts.groupBy(*group_cols, "__v")
            .agg(F.count(F.lit(1)).cast("long").alias("__t"))
            .groupBy(*group_cols)
            .agg(F.sum(F.col("__t") * (F.col("__t") - 1)
                       * (2 * F.col("__t") + 5)).cast("long")
                 .alias("__tie_term")))
    base = (npts.join(ties, group_cols)
            .join(s, group_cols, "left")
            .withColumn("s_stat", F.coalesce(F.col("s_stat"), F.lit(0))
                        .cast("long"))
            .withColumn("var_s_x18",
                        (F.col("n_points") * (F.col("n_points") - 1)
                         * (2 * F.col("n_points") + 5)
                         - F.col("__tie_term")).cast("long")))
    z = (F.col("s_stat").cast("double")
         - F.signum(F.col("s_stat")).cast("double")) \
        / F.sqrt(F.col("var_s_x18").cast("double") / F.lit(18.0))
    return base.select(
        *group_cols, "n_points", "s_stat", "var_s_x18",
        F.when(F.col("var_s_x18") > 0, F.round(z, round_dp)).alias("mk_z"))


def ks_two_sample(df: DataFrame, label_col, value_int,
                  label_a: str, label_b: str) -> DataFrame:
    """EXT (R158, round 6): exact two-sample Kolmogorov–Smirnov distance
    — sup |F̂_a(x) − F̂_b(x)| between the empirical CDFs of two cohorts.
    The classic distribution-drift test (training-batch vs reference
    feature distributions, A/B invariance checks); PSI (R138) needs a
    binning choice, KS does not.

    One row out: ``n_a``, ``n_b``, ``ks_stat`` (6 dp).

    Exactness: ``value_int`` is a pre-scaled integer expression; both
    CDFs are integer cumulative counts over the merged value support, so
    each CDF value is ONE IEEE division (cum/n) and the sup of exact
    doubles is order-invariant — engine-stable without any tolerance.

    Scale shape: raw rows collapse to a per-(value, cohort) histogram
    (map-side partial agg — the shuffle moves distinct values, not
    rows); cumulative counts run through ``window.scan_tree`` (no window
    ever sees the whole support in one partition); the two cohort totals
    broadcast as a 1-row cross join; the final MAX groups on them, so an
    empty input yields no row. No sort of raw data anywhere."""
    tagged = df.select(
        F.when(label_col == label_a, F.lit("a"))
         .when(label_col == label_b, F.lit("b")).alias("__g"),
        value_int.cast("long").alias("__v")).filter(F.col("__g").isNotNull())
    hist = (tagged.groupBy("__v")
            .agg(F.count(F.when(F.col("__g") == "a", 1)).alias("__ca"),
                 F.count(F.when(F.col("__g") == "b", 1)).alias("__cb")))
    cum = scan_tree(hist, "__v", 1024, "__ca", "__cb")
    totals = tagged.agg(
        F.count(F.when(F.col("__g") == "a", 1)).cast("long").alias("n_a"),
        F.count(F.when(F.col("__g") == "b", 1)).cast("long").alias("n_b"))
    d = F.abs(F.col("__ca_cum").cast("double") / F.col("n_a")
              - F.col("__cb_cum").cast("double") / F.col("n_b"))
    return (cum.crossJoin(F.broadcast(totals)).groupBy("n_a", "n_b")
            .agg(F.round(F.max(d), 6).alias("ks_stat")))


def mad_profile(df: DataFrame, group_cols: list[str], value_int,
                c: int = 3) -> DataFrame:
    """EXT (R133): robust dispersion profile per group — lower median,
    median absolute deviation, and the count of |x − med| > c·MAD
    outliers. The robust twin of ``zscore_outliers``: one wild spike
    inflates a standard deviation but barely moves the MAD, so this is
    the screen that survives corrupted feeds. ``value_int`` is a
    pre-scaled integer expression; EVERY quantity here — medians as
    k-th order statistics (k = ceil(n/2), integer DIV), deviations,
    the c·MAD threshold — is exact INTEGER arithmetic: the whole report
    contains zero float operations.

    Scale shape (``window.order_stats``, twice): raw rows collapse to a
    per-(group, value) histogram; the cumulative window runs over
    distinct values per group, never raw rows; the per-group median (one
    row per group) broadcasts back onto the histogram to form the
    deviation histogram, and ``order_stats`` over it yields the MAD.
    Three hash aggregations, two tiny broadcasts."""
    hist = (df.select(*group_cols, value_int.cast("long").alias("__v"))
            .groupBy(*group_cols, "__v")
            .agg(F.count(F.lit(1)).alias("__c")))

    med = order_stats(hist, group_cols, __med=(1, 2))
    dev_hist = (hist.join(F.broadcast(med.select(*group_cols, "__med")),
                          group_cols)
                .groupBy(*group_cols,
                         F.abs(F.col("__v") - F.col("__med")).alias("__v"))
                .agg(F.sum("__c").alias("__c")))
    mad = order_stats(dev_hist, group_cols, __mad=(1, 2)).drop("__n")
    out_counts = (dev_hist.join(F.broadcast(mad), group_cols)
                  .groupBy(*group_cols)
                  .agg(F.coalesce(F.sum(F.when(
                      F.col("__v") > F.lit(c) * F.col("__mad"),
                      F.col("__c"))), F.lit(0)).alias("__nout")))
    return (med.join(mad, group_cols).join(out_counts, group_cols)
            .select(*group_cols, F.col("__n").cast("long").alias("n"),
                    F.col("__med").cast("long").alias("median"),
                    F.col("__mad").cast("long").alias("mad"),
                    F.col("__nout").cast("long").alias("n_outliers")))


def pareto_abc(df: DataFrame, key_col: str, value_int,
               a_pct: int = 80, b_pct: int = 95) -> DataFrame:
    """EXT (R134): Pareto / ABC classification — entities ranked by an
    integer measure, cumulative share computed exactly, and classed
    A (first entities covering ≤ ``a_pct``% of the total), B (to
    ``b_pct``%), else C — the inventory/effort-prioritization report.

    Exactness: the class boundary test is pure integer arithmetic —
    ``cum·100 ≤ pct·total`` — never a float share comparison; the
    emitted ``cum_share`` is one exact division rounded 6dp. Ranking
    carries the key as tie-break so equal measures class identically
    everywhere. Scale shape: ONE aggregation to the entity grain (the
    only corpus-sized shuffle), then windows over the ENTITY domain
    (orders of magnitude smaller); the running sum is a range-sort
    window over that compact domain, not the fact table."""
    ent = (df.groupBy(key_col)
           .agg(F.sum(value_int.cast("long")).alias("__v")))
    w = (Window.orderBy(F.col("__v").desc(), F.col(key_col).asc())
         .rowsBetween(Window.unboundedPreceding, 0))
    tot = ent.agg(F.sum("__v").alias("__t"))
    ranked = (ent.withColumn("__cum", F.sum("__v").over(w))
              .crossJoin(F.broadcast(tot)))
    cls = (F.when(F.col("__cum") * 100 <= F.lit(a_pct) * F.col("__t"), "A")
           .when(F.col("__cum") * 100 <= F.lit(b_pct) * F.col("__t"), "B")
           .otherwise("C"))
    return ranked.select(
        F.col(key_col), F.col("__v").alias("value"),
        F.round(F.col("__cum").cast("double") / F.col("__t").cast("double"),
                6).alias("cum_share"),
        cls.alias("abc_class"))


def concentration_report(df: DataFrame, key_col: str,
                         value_int) -> DataFrame:
    """EXT (R135): market-concentration summary over an entity measure —
    ONE row: n entities, total, HHI (Σ shareᵢ² — the antitrust screen),
    exact Gini coefficient, and the top-10 share. Every statistic
    reduces to integer moments with ONE final division each:
    HHI = Σvᵢ²/T², Gini = (2·Σ rankᵢ·vᵢ − (n+1)·T)/(n·T) over ascending
    rank (key tie-break), top10 = Σ(top-10 v)/T. decimal(38,0)
    accumulators keep Σv² exact at warehouse scale.

    Scale shape: entity-grain aggregation, then windows/sums over the
    compact entity domain; the only corpus-sized shuffle is the first
    rollup."""
    ent = (df.groupBy(key_col)
           .agg(F.sum(value_int.cast("long")).alias("__v")))
    w_rank = Window.orderBy(F.col("__v").asc(), F.col(key_col).asc())
    w_desc = Window.orderBy(F.col("__v").desc(), F.col(key_col).asc())
    ranked = (ent
              .withColumn("__r", F.row_number().over(w_rank))
              .withColumn("__rd", F.row_number().over(w_desc))
              .select(F.col("__v").cast("decimal(38,0)").alias("__v"),
                      F.col("__r").cast("decimal(38,0)").alias("__r"),
                      "__rd"))
    agg = ranked.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"),
        F.sum("__v").alias("__t"),
        F.sum(F.col("__v") * F.col("__v")).alias("__ss"),
        F.sum(F.col("__r") * F.col("__v")).alias("__rv"),
        F.sum(F.when(F.col("__rd") <= 10, F.col("__v"))
              .otherwise(F.lit(0).cast("decimal(38,0)"))).alias("__top"))
    n_, t_ = F.col("__n"), F.col("__t")
    hhi = (F.col("__ss").cast("double")
           / (t_.cast("double") * t_.cast("double")))
    gini = ((F.lit(2).cast("decimal(38,0)") * F.col("__rv")
             - (n_ + F.lit(1).cast("decimal(38,0)")) * t_).cast("double")
            / (n_ * t_).cast("double"))
    return agg.select(
        n_.cast("long").alias("n"), t_.cast("long").alias("total"),
        F.round(hhi, 6).alias("hhi"), F.round(gini, 6).alias("gini"),
        F.round(F.col("__top").cast("double") / t_.cast("double"), 6)
        .alias("top10_share"))


def funnel_gap_stats(events: DataFrame, steps: list[str],
                     user_col: str = "user_id", ts_col: str = "ts",
                     type_col: str = "event_type") -> DataFrame:
    """EXT (R139): time-to-convert distribution — for each adjacent
    funnel step pair, the per-user latency between reaching step k−1 and
    step k (same earliest-strictly-after semantics as
    ``conversion_funnel``), summarized as exact order statistics:
    n converting users, median and p90 gap in microseconds, plus the
    mean as one exact division. The product question behind every
    funnel: not just HOW MANY convert, but HOW LONG it takes.

    Exactness: gaps are integer epoch-µs differences; median/p90 are
    k-th order statistics (k = ceil(p·n), integer DIV) over a per-step
    gap histogram — ``window.order_stats`` — and the mean is
    Σgap/n with a single divide. Scale shape: per-step frontiers are
    user-keyed joins + min-aggregates (each materialized for its two
    consumers, the CC/funnel convention, and released once the gap
    histogram, which the last step feeds, is materialized); the
    order-statistic window runs over distinct gap values per step."""
    if len(steps) < 2:
        raise ValueError("funnel_gap_stats needs >= 2 steps (got "
                         f"{steps!r}) — a gap needs two endpoints")
    ev = events.select(F.col(user_col).alias("__u"),
                       F.col(type_col).alias("__t"),
                       F.unix_micros(F.col(ts_col)).alias("__s"))
    start, _ = materialize(ev.filter(F.col("__t") == steps[0])
                           .groupBy("__u").agg(F.min("__s").alias("__ft")))
    frontier, stored, gap_frames = start, [start], []
    for k, step in enumerate(steps[1:], start=1):
        nxt = (ev.filter(F.col("__t") == step)
               .join(frontier, "__u")
               .filter(F.col("__s") > F.col("__ft"))
               .groupBy("__u").agg(F.min("__s").alias("__nt"),
                                   F.max("__ft").alias("__pt")))
        if k < len(steps) - 1:
            nxt, _ = materialize(nxt)
            stored.append(nxt)
        gap_frames.append(
            nxt.select(F.lit(f"{steps[k-1]}->{step}").alias("step"),
                       F.lit(k).cast("int").alias("stage"),
                       (F.col("__nt") - F.col("__pt")).alias("__g")))
        frontier = nxt.select("__u", F.col("__nt").alias("__ft"))
    gaps = gap_frames[0]
    for g in gap_frames[1:]:
        gaps = gaps.unionByName(g)
    hist, _ = materialize(gaps.groupBy("step", "stage",
                                       F.col("__g").alias("__v"))
                          .agg(F.count(F.lit(1)).alias("__c")))
    release(*stored)
    gs = order_stats(hist, ["step", "stage"],
                     F.sum(F.col("__v") * F.col("__c")).alias("__sum"),
                     median_us=(1, 2), p90_us=(9, 10))
    return gs.select(
        "step", "stage", F.col("__n").cast("long").alias("n_users"),
        F.col("median_us").cast("long"), F.col("p90_us").cast("long"),
        F.round(F.col("__sum").cast("double")
                / F.col("__n").cast("double"), 2).alias("mean_us"))


def auc_report(df: DataFrame, score_int, label_bool) -> DataFrame:
    """EXT (R151): exact ROC-AUC via the Mann-Whitney U statistic — the
    ranking-quality readout for any scorer (quality filter, dedup
    ranker, relevance model) evaluated at corpus scale without a
    single-partition sort. ONE row: (n_pos, n_neg, auc).

    Ties handled the standard way (midranks), EXACTLY: per distinct
    score, 2·midrank = 2·cum_before + c + 1 stays integer, so
    2·Σ_pos midranks accumulates in decimal(38,0) and
        AUC = (S − n₊(n₊+1)/2) / (n₊·n₋)
    is one integer-numerator divide (doubled numerator and denominator
    cancel). Scale shape: rows collapse to a per-score histogram with
    positive counts (one shuffle); the cumulative window runs over
    distinct scores (compact); the rest is a scalar aggregate. Degenerate
    inputs (no positives or no negatives) report NULL."""
    base = df.select(score_int.cast("long").alias("__s"),
                     F.when(label_bool, 1).otherwise(0).alias("__y"))
    hist = (base.groupBy("__s")
            .agg(F.count(F.lit(1)).alias("__c"),
                 F.sum("__y").alias("__cp")))
    w = (Window.orderBy(F.col("__s").asc())
         .rowsBetween(Window.unboundedPreceding, -1))
    ranked = hist.withColumn("__before",
                             F.coalesce(F.sum("__c").over(w), F.lit(0)))
    # 2·midrank for every row at this score: 2·before + c + 1
    two_mid = (F.lit(2).cast("decimal(38,0)")
               * F.col("__before").cast("decimal(38,0)")
               + F.col("__c").cast("decimal(38,0)") + F.lit(1))
    agg = ranked.agg(
        F.sum(F.col("__cp").cast("decimal(38,0)") * two_mid).alias("__2s"),
        F.sum("__cp").cast("decimal(38,0)").alias("__np"),
        (F.sum("__c") - F.sum("__cp")).cast("decimal(38,0)").alias("__nn"))
    np_, nn_ = F.col("__np"), F.col("__nn")
    num = F.col("__2s") - np_ * (np_ + F.lit(1))
    auc = F.when((np_ > 0) & (nn_ > 0),
                 F.round(num.cast("double")
                         / (F.lit(2).cast("decimal(38,0)") * np_ * nn_)
                         .cast("double"), 6))
    return agg.select(np_.cast("long").alias("n_pos"),
                      nn_.cast("long").alias("n_neg"),
                      auc.alias("auc"))


def _quantile_bounds(per: DataFrame, col: str, n_bins: int) -> DataFrame:
    """ONE-row frame holding the (n_bins − 1) interior quantile
    boundaries of ``col`` as an ascending array: boundary_i = the k-th
    smallest value at k = ceil(n·i/n_bins), read off a value histogram
    by ``window.order_stats`` with no group: its cumulative window runs
    over DISTINCT values (compact — never a single-partition sort over
    the rows themselves)."""
    hist = per.groupBy(F.col(col).alias("__v")) \
              .agg(F.count(F.lit(1)).alias("__c"))
    bounds = {f"__b{i}": (i, n_bins) for i in range(1, n_bins)}
    return order_stats(hist, [], **bounds).select(
        F.array(*bounds).alias(f"__b_{col}"))


def rfm_segments(orders: DataFrame, cust_col: str = "o_custkey",
                 date_col: str = "o_orderdate",
                 amount_col: str = "o_totalprice",
                 n_bins: int = 5) -> DataFrame:
    """EXT (R205, round 6): RFM segmentation — the classic
    recency/frequency/monetary customer scoring, each dimension scored
    1..n_bins against EXACT quantile boundaries (k-th smallest at
    k = ceil(n·i/bins)); score = 1 + #boundaries strictly below the
    metric, so boundary ties fall to the lower bucket — cross-engine
    deterministic, unlike NTILE, which needs a globally ordered row
    numbering (a single-partition window at corpus scale).

    Scale shape: one per-customer aggregate (map-side partial), three
    value-histogram boundary probes whose cumulative windows run over
    DISTINCT metric values (compact), three broadcast ONE-ROW joins
    (the boundary arrays ride into codegen), and a final ≤ bins³-row
    hash aggregate. No global sort, no window over customers.

    Output: (r_score, f_score, m_score, n_customers,
    sum_monetary_cents) — the segment census a retention campaign
    targets from. Recency is the max epoch day-number (higher = better, so a
    5 means most-recent), frequency the order count, monetary the
    lifetime cents."""
    per = orders.groupBy(F.col(cust_col).alias("cust")).agg(
        F.max(F.datediff(F.col(date_col).cast("date"),
                         F.lit("1970-01-01").cast("date")))
         .cast("long").alias("rec_day"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum(F.round(F.col(amount_col) * 100).cast("long"))
         .cast("long").alias("mon_cents"))
    # the per-customer frame feeds the three boundary probes AND the
    # scoring pass — materialize it so the orders scan + customer
    # shuffle run once, not four times
    per, _ = materialize(per)
    scored = per
    for metric in ("rec_day", "freq", "mon_cents"):
        b = _quantile_bounds(per, metric, n_bins)
        scored = scored.crossJoin(F.broadcast(b)).withColumn(
            f"__s_{metric}",
            (F.lit(1) + F.size(F.filter(
                F.col(f"__b_{metric}"),
                lambda x: F.col(metric) > x))).cast("long")) \
            .drop(f"__b_{metric}")
    return (scored.groupBy(F.col("__s_rec_day").alias("r_score"),
                           F.col("__s_freq").alias("f_score"),
                           F.col("__s_mon_cents").alias("m_score"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_customers"),
                 F.sum("mon_cents").cast("long")
                 .alias("sum_monetary_cents")))


def calibration_bins(df: DataFrame, score_int, label_bool,
                     n_bins: int = 10) -> DataFrame:
    """EXT (R211, round 6): calibration / reliability table — rows
    bucketed into ``n_bins`` score deciles (exact quantile boundaries
    via ``_quantile_bounds``; strictly-greater rule, no NTILE), each
    reporting volume, observed positive rate, and the mean score. A
    well-calibrated scorer shows pos_rate rising with mean_score and
    tracking it; the table is the input to a reliability diagram and
    the ECE sum. Completes the scorer-evaluation family: AUC ranks
    (R151), precision/recall names classes (R191), kappa corrects for
    chance (R168) — calibration asks whether the score MEANS what it
    says.

    Scale shape: one per-row bucket assignment against a broadcast
    one-row boundary array, one ≤ n_bins-row hash aggregate; the
    boundary probe's cumulative window runs over distinct score values
    only. pos_rate and mean_score are the final ROUND-6 divisions of
    exact integer sums."""
    base = df.select(score_int.cast("long").alias("__s"),
                     F.when(label_bool, 1).otherwise(0).alias("__y"))
    b = _quantile_bounds(base.select("__s"), "__s", n_bins)
    bucketed = base.crossJoin(F.broadcast(b)).select(
        (F.lit(1) + F.size(F.filter(
            F.col("__b___s"), lambda x: F.col("__s") > x)))
        .cast("long").alias("bin"),
        "__s", "__y")
    return (bucketed.groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum("__y").cast("long").alias("n_pos"),
                 F.round(F.sum("__y").cast("double")
                         / F.count(F.lit(1)).cast("double"), 6)
                 .alias("pos_rate"),
                 F.round(F.sum(F.col("__s").cast("decimal(38,0)"))
                         .cast("double")
                         / F.count(F.lit(1)).cast("double"), 6)
                 .alias("mean_score")))


def nelson_aalen(df: DataFrame, duration_int, observed_pred,
                 round_dp: int = 6) -> DataFrame:
    """EXT (R212, round 6): Nelson–Aalen cumulative hazard with right
    censoring — Kaplan–Meier's additive sibling: H(t) = Σ_{t_j ≤ t}
    d_j/n_j, with Klein's variance Σ d_j/n_j². Where KM answers "what
    fraction survives past t", the hazard curve's SLOPE localizes WHEN
    risk concentrates (a churn cliff after a trial expiry shows as a
    hazard jump that the survival curve smears), and hazards ADD across
    competing causes where survival probabilities do not.

    Exactness: risk sets and event counts are the same exact-integer
    ``_risk_sets`` frame KM reduces; the two cumulative sums run under
    an ORDERED window over distinct event times, so float addition
    order is fixed cross-engine (stronger than the exp-ln product
    discipline KM needs) — ROUND-6 outputs."""
    risked = _risk_sets(df, duration_int, observed_pred)
    w_cum = Window.orderBy("__t").rowsBetween(Window.unboundedPreceding, 0)
    term = F.col("__d").cast("double") / F.col("__risk").cast("double")
    var_term = F.col("__d").cast("double") \
        / (F.col("__risk") * F.col("__risk")).cast("double")
    return (risked.select(
        F.col("__t").alias("t"),
        F.col("__risk").cast("long").alias("n_risk"),
        F.col("__d").alias("n_events"),
        F.round(F.sum(term).over(w_cum), round_dp).alias("cum_hazard"),
        F.round(F.sum(var_term).over(w_cum), round_dp)
        .alias("var_hazard")))


def cmh_stratified_report(events: DataFrame, user_col: str, convert_pred,
                          stratum_expr, salt: str = "exp",
                          buckets: int = 10_000) -> DataFrame:
    """EXT (R214, round 6): Cochran–Mantel–Haenszel stratified A/B
    analysis — the pooled two-proportion z (R123) is confounded
    whenever strata differ in BOTH arm mix and base rate (Simpson's
    reversal); CMH tests the treatment effect WITHIN each stratum and
    combines: χ² = (Σaᵢ − ΣEᵢ)² / ΣVᵢ with Eᵢ = n1ᵢm1ᵢ/nᵢ,
    Vᵢ = n1ᵢn0ᵢm1ᵢm0ᵢ/(nᵢ²(nᵢ−1)), plus the Mantel–Haenszel common
    odds ratio Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ). Completes the experimentation
    family: DID removes trends, CUPED removes covariate variance,
    CMH removes stratum confounding.

    Engine-invariance: the 2×2 cells are exact integers; the
    per-stratum float terms are summed under an ORDERED window over
    the stratum id (fixed addition order cross-engine — the
    ``nelson_aalen`` discipline), then the last cumulative row is
    reduced by the two final guarded divisions (ROUND-6). Single-user
    strata contribute V = 0 by the nᵢ > 1 guard, per the standard
    convention.

    Scale shape: one shuffle to the per-user grain (conversion +
    stratum + codegen arm hash), one hash agg to ≤K stratum rows,
    then K-row windows — the statistic costs one aggregation more
    than the unstratified z."""
    from .sampling import hash_bucket

    users = (events.groupBy(user_col)
             .agg(F.max(F.when(convert_pred, F.lit(1)).otherwise(F.lit(0)))
                  .alias("__conv"),
                  F.min(stratum_expr).alias("__st")))
    arm_a = hash_bucket(F.col(user_col), buckets, salt) < buckets // 2
    cells = users.groupBy("__st").agg(
        F.sum(F.when(arm_a & (F.col("__conv") == 1), 1).otherwise(0))
         .cast("long").alias("a"),
        F.sum(F.when(arm_a & (F.col("__conv") == 0), 1).otherwise(0))
         .cast("long").alias("b"),
        F.sum(F.when(~arm_a & (F.col("__conv") == 1), 1).otherwise(0))
         .cast("long").alias("c"),
        F.sum(F.when(~arm_a & (F.col("__conv") == 0), 1).otherwise(0))
         .cast("long").alias("d"))
    n = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    n1 = (F.col("a") + F.col("b")).cast("double")
    n0 = (F.col("c") + F.col("d")).cast("double")
    m1 = (F.col("a") + F.col("c")).cast("double")
    m0 = (F.col("b") + F.col("d")).cast("double")
    terms = cells.select(
        "__st", "a",
        (n1 * m1 / n).alias("__e"),
        F.when((F.col("a") + F.col("b") + F.col("c") + F.col("d")) > 1,
               n1 * n0 * m1 * m0 / (n * n * (n - F.lit(1.0))))
         .otherwise(F.lit(0.0)).alias("__v"),
        (F.col("a").cast("double") * F.col("d").cast("double") / n)
        .alias("__orn"),
        (F.col("b").cast("double") * F.col("c").cast("double") / n)
        .alias("__ord"))
    w = Window.orderBy("__st").rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.orderBy(F.col("__st").desc())
    cum = terms.select(
        F.row_number().over(wn).alias("__rn"),
        F.count(F.lit(1)).over(w).cast("long").alias("k_strata"),
        F.sum("a").over(w).cast("long").alias("sum_a"),
        F.sum("__e").over(w).alias("__se"),
        F.sum("__v").over(w).alias("__sv"),
        F.sum("__orn").over(w).alias("__sorn"),
        F.sum("__ord").over(w).alias("__sord")).filter(F.col("__rn") == 1)
    diff = F.col("sum_a").cast("double") - F.col("__se")
    return cum.select(
        "k_strata", "sum_a",
        F.round(F.col("__se"), 6).alias("expected_a"),
        F.round(F.when(F.col("__sv") > 0, diff * diff / F.col("__sv")), 6)
         .alias("cmh_chi2"),
        F.round(F.when(F.col("__sord") > 0,
                       F.col("__sorn") / F.col("__sord")), 6)
         .alias("or_mh"))


def hill_tail_index(df: DataFrame, value_int, k: int = 100,
                    round_dp: int = 6) -> DataFrame:
    """EXT (R216, round 6): Hill estimator of the power-law tail index —
    α̂ = k / Σᵢ₌₁..ₖ ln(X₍ᵢ₎/X₍ₖ₊₁₎) over the k largest values. The
    tail-heaviness number behind every skew decision in this repo:
    α ≤ 2 means infinite variance (means/z-scores are lies — reach for
    MAD R133 / winsorizing R104), and a heavy key-frequency tail is
    the regime where salting (R14) and AQE skew handling earn their
    keep. Pareto/ABC (R134) shows concentration; Hill quantifies the
    decay rate generating it.

    Exactness: the top-(k+1) multiset is deterministic (value order;
    ties interchangeable — equal values contribute equal ln terms, and
    threshold ties contribute exactly 0); the ln sum runs under ONE
    ascending row_number order (fixed addition order — the addend at
    each rank is fixed even when tied rows swap ranks, because tied
    rows contribute equal terms), the full sum is read at the last
    rank (``__r == __cnt``), one guarded final division, ROUND-6.
    Degenerate tails (all k+1 values equal → Σ = 0) report NULL.

    Scale shape: TakeOrdered top-(k+1) (map-side partial top-k — no
    global sort materializes), then (k+1)-row windows and a scalar
    reduce."""
    vals = (df.select(value_int.cast("long").alias("__v"))
            .orderBy(F.col("__v").desc()).limit(k + 1))
    thr = vals.agg(F.min("__v").alias("__thr"),
                   F.count(F.lit(1)).alias("__cnt"))
    t = vals.crossJoin(F.broadcast(thr)).withColumn(
        "__r", F.row_number().over(Window.orderBy(F.col("__v").asc())))
    w_cum = Window.orderBy("__r") \
                  .rowsBetween(Window.unboundedPreceding, 0)
    cum = t.select(
        F.col("__r"), F.col("__cnt"), F.col("__thr"),
        F.sum(F.log(F.col("__v").cast("double")
                    / F.col("__thr").cast("double")))
         .over(w_cum).alias("__s")).filter(F.col("__r") == F.col("__cnt"))
    k_used = (F.col("__cnt") - 1).cast("long")
    return cum.select(
        k_used.alias("n_tail"),
        F.col("__thr").cast("long").alias("threshold"),
        F.round(F.when(F.col("__s") > 0,
                       k_used.cast("double") / F.col("__s")), round_dp)
         .alias("hill_alpha"))


def cramers_v_matrix(df: DataFrame, cols: list, round_dp: int = 6
                     ) -> DataFrame:
    """EXT (R217, round 6): Cramér's V association matrix over
    categorical column pairs — the categorical twin of the Pearson
    ``corr_matrix`` (R99): χ² over the full r×c contingency grid
    (EMPTY cells included — an observed-only sum under-counts by e per
    missing cell), V = √(χ² / (n·(min(r,c)−1))) ∈ [0,1]. The profiling
    number that says which dimension columns are redundant (V→1) and
    which stratifications are independent (V→0) before anyone buckets
    a metric by both.

    Exactness: cell/marginal counts are exact integers from ONE hash
    aggregation; e = ra·cb/n and the (o−e)²/e terms are IEEE doubles
    summed per pair under an ORDERED window on the (av, bv) cell key
    (distinct per pair — no tie ambiguity), read at the last rank;
    √ and two ROUND-dp finishes. Degenerate pairs (min(r,c) = 1) report
    NULL V.

    Scale shape: the input is scanned ONCE — every pair's (a, b) cell
    is emitted from a single explode of pair structs, so p pairs cost
    one shuffle of category-cardinality rows, not p table scans. All
    frames after the first aggregation are category-sized (grid =
    marginal × marginal), never data-sized."""
    pairs = [(cols[i], cols[j]) for i in range(len(cols))
             for j in range(i + 1, len(cols))]
    structs = [F.struct(F.lit(a).alias("pa"), F.lit(b).alias("pb"),
                        F.col(a).cast("string").alias("av"),
                        F.col(b).cast("string").alias("bv"))
               for a, b in pairs]
    base = df.select(F.explode(F.array(*structs)).alias("p")).select("p.*")
    cells = (base.groupBy("pa", "pb", "av", "bv")
                 .agg(F.count(F.lit(1)).alias("o")))
    rt = cells.groupBy("pa", "pb", "av").agg(F.sum("o").alias("ra"))
    ct = cells.groupBy("pa", "pb", "bv").agg(F.sum("o").alias("cb"))
    nt = cells.groupBy("pa", "pb").agg(
        F.sum("o").alias("n"),
        F.count_distinct(F.col("av")).alias("r_levels"),
        F.count_distinct(F.col("bv")).alias("c_levels"))
    grid = rt.join(ct, ["pa", "pb"])
    g = (grid.join(cells, ["pa", "pb", "av", "bv"], "left")
             .join(nt, ["pa", "pb"])
             .withColumn("o", F.coalesce(F.col("o"), F.lit(0)))
             .withColumn("e", F.col("ra").cast("double")
                              * F.col("cb").cast("double")
                              / F.col("n").cast("double"))
             .withColumn("d", F.col("o").cast("double") - F.col("e")))
    w_key = Window.partitionBy("pa", "pb").orderBy("av", "bv")
    w_cum = w_key.rowsBetween(Window.unboundedPreceding, 0)
    cum = (g.select(
        "pa", "pb", "n", "r_levels", "c_levels",
        F.row_number().over(w_key).alias("__rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy("pa", "pb")
                  .rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)).alias("__m"),
        F.sum(F.col("d") * F.col("d") / F.col("e")).over(w_cum)
         .alias("__s"))
        .filter(F.col("__rn") == F.col("__m")))
    k = F.least("r_levels", "c_levels") - F.lit(1)
    return cum.select(
        F.col("pa").alias("col_a"), F.col("pb").alias("col_b"),
        "n", "r_levels", "c_levels",
        F.round("__s", round_dp).alias("chi2"),
        F.round(F.when(k > 0, F.sqrt(
            F.col("__s") / (F.col("n").cast("double") * k.cast("double")))),
            round_dp).alias("cramers_v"))


def ltv_cohort_triangle(events: DataFrame, user_col: str, ts_col: str,
                        revenue_pred, value_col: str,
                        round_dp: int = 6) -> DataFrame:
    """EXT (R219, round 6): cumulative-LTV cohort triangle — the revenue
    companion of the retention matrix (R70): users cohort on the
    epoch-week of their FIRST event (any type), and each cohort
    accumulates its members' revenue week-offset by week-offset. The
    grid is DENSE over each cohort's observable horizon
    (offset 0 .. global_max_week − cohort_week): zero-revenue weeks
    emit rows so the running LTV curve is read directly per row, and
    younger cohorts visibly stop at their shorter horizon instead of
    silently missing cells (the classic triangle shape).

    Exactness: revenue is exact integer cents (round(value·100));
    cohort sizes and cumulative sums are integers under a per-cohort
    ordered window; the only float is the final cum_cents/(users·100)
    per-user dollars division, ROUND-dp.

    Scale shape: two user-keyed aggregates (first-week + per-cell
    revenue, both map-side partial) and one user-keyed join carry the
    fact table; the dense grid is weeks × offsets ≤ horizon² rows —
    calendar-sized, never data-sized — built from a broadcast scalar
    anchor."""
    week = F.floor(F.unix_timestamp(F.col(ts_col)) / WEEK_SECONDS) \
            .cast("long")
    base = events.select(F.col(user_col).alias("u"), week.alias("w"),
                         revenue_pred.cast("boolean").alias("is_rev"),
                         F.round(F.col(value_col) * 100).cast("long")
                          .alias("cents"))
    cohort = base.groupBy("u").agg(F.min("w").alias("cw"))
    sizes = cohort.groupBy("cw").agg(F.count(F.lit(1)).alias("users"))
    anchor = base.agg(F.max("w").alias("maxw"))
    rev = (base.filter(F.col("is_rev"))
               .join(cohort, "u")
               .groupBy("cw", (F.col("w") - F.col("cw")).alias("off"))
               .agg(F.sum("cents").alias("rev_cents")))
    grid = (sizes.crossJoin(F.broadcast(anchor))
                 .select("cw", "users",
                         F.explode(F.sequence(
                             F.lit(0).cast("long"),
                             F.col("maxw") - F.col("cw"))).alias("off")))
    tri = (grid.join(rev, ["cw", "off"], "left")
               .withColumn("rev_cents",
                           F.coalesce(F.col("rev_cents"), F.lit(0))))
    w_cum = (Window.partitionBy("cw").orderBy("off")
                   .rowsBetween(Window.unboundedPreceding, 0))
    return tri.select(
        F.col("cw").alias("cohort_week"),
        F.col("off").alias("week_offset"),
        F.col("users").alias("cohort_users"),
        F.col("rev_cents").alias("revenue_cents"),
        F.sum("rev_cents").over(w_cum).alias("cum_revenue_cents")
    ).withColumn(
        "cum_ltv_per_user",
        F.round(F.col("cum_revenue_cents").cast("double")
                / (F.col("cohort_users").cast("double") * 100.0), round_dp))


def cvm_two_sample(df: DataFrame, label_col, value_int,
                   label_a: str, label_b: str,
                   round_dp: int = 6) -> DataFrame:
    """EXT (R220, round 6): exact two-sample Cramér–von Mises statistic
    — T = (n·m/N²)·Σ_pooled (F̂_a − F̂_b)², the INTEGRAL of the squared
    CDF gap where KS (R158) takes only its supremum. A distribution
    shift spread across the body (every quantile nudged a little) moves
    T long before it moves the KS sup; one localized spike does the
    reverse — the drift family needs both. Ties are handled by
    definition on the pooled support: each distinct value contributes
    its pooled multiplicity w·(F̂_a − F̂_b)².

    Exactness: with d_v = m·cumA(v) − n·cumB(v) (an exact integer,
    |d| ≤ n·m), T = Σ w·d² / (n·m·N²). The sum runs ENTIRELY in exact
    decimal(38,0) (bounded by N·(n·m)² < 10³⁸ up to ~10⁶-row samples),
    so it is addition-order-free — no ordered window needed, one hash
    aggregate — and the single IEEE division at the end is
    engine-stable. One row out: ``n_a``, ``n_b``, ``cvm_stat``.

    Scale shape: identical to ``ks_two_sample`` — per-value histogram
    (map-side partial agg), ``window.scan_tree`` cumulative counts (no
    single-partition support window), broadcast scalar totals, one
    final aggregate grouped on them."""
    tagged = df.select(
        F.when(label_col == label_a, F.lit("a"))
         .when(label_col == label_b, F.lit("b")).alias("__g"),
        value_int.cast("long").alias("__v")).filter(F.col("__g").isNotNull())
    hist = (tagged.groupBy("__v")
            .agg(F.count(F.when(F.col("__g") == "a", 1)).alias("__ca"),
                 F.count(F.when(F.col("__g") == "b", 1)).alias("__cb")))
    cum = scan_tree(hist, "__v", 1024, "__ca", "__cb")
    totals = tagged.agg(
        F.count(F.when(F.col("__g") == "a", 1)).cast("long").alias("n_a"),
        F.count(F.when(F.col("__g") == "b", 1)).cast("long").alias("n_b"))
    d = (F.col("n_b") * F.col("__ca_cum")
         - F.col("n_a") * F.col("__cb_cum")).cast("decimal(18,0)")
    w = F.col("__ca") + F.col("__cb")
    term = w.cast("decimal(10,0)") * d * d
    s = (cum.crossJoin(F.broadcast(totals)).groupBy("n_a", "n_b")
         .agg(F.sum(term).alias("__s")))
    n = F.col("n_a").cast("double")
    m = F.col("n_b").cast("double")
    nn = (F.col("n_a") + F.col("n_b")).cast("double")
    return s.select(
        "n_a", "n_b",
        F.round(F.when((F.col("n_a") > 0) & (F.col("n_b") > 0),
                       F.col("__s").cast("double")
                       / (n * m * (nn * nn))), round_dp).alias("cvm_stat"))


def theil_decomposition(df: DataFrame, group_col: str, value_int,
                        round_dp: int = 6,
                        bucket_size: int = 1024) -> DataFrame:
    """EXT (R221, round 6): Theil-T inequality with exact between/within
    decomposition — the property Gini (R135) lacks: total inequality
    splits ADDITIVELY into "how unequal are the group means"
    (between) plus "how unequal is each group internally" (within,
    value-share weighted). The curation/revenue question this answers:
    is concentration driven by one segment being richer, or by whales
    inside every segment? Positive values only (ln); zero/negative
    rows are excluded by definition.

    Per-group rows carry (n_rows, sum_cents, mu, theil = T_g,
    value_share = s_g, between_term = s_g·ln(μ_g/μ)); one extra
    ``TOTAL`` row carries the direct all-population T (theil), share 1,
    and the between-group sum (between_term). Identity
    T_total ≈ between + Σ s_g·T_g is pinned by test.

    Exactness: counts and cent sums are exact integers (decimal(38,0)
    accumulation, emitted as long); the only float accumulation is
    Σ c·v·ln(v), which runs on the per-(group, value) histogram under
    a TWO-LEVEL scan tree — per-bucket ordered partials, then
    bucket-ordered partials — so the addition order is fixed and
    identical in both engines without any single-partition window over
    the value support. Every later quantity is a fixed-shape IEEE
    expression of exact integers and those pinned sums, ROUND-dp.

    Scale shape: raw rows collapse map-side to the (group, value)
    histogram; the tree windows are partitioned by (group, bucket) and
    (group); group-level frames are group-count-sized."""
    base = df.select(F.col(group_col).cast("string").alias("__g"),
                     value_int.cast("long").alias("__v")) \
             .filter(F.col("__v") > 0)
    hist = (base.groupBy("__g", "__v").agg(F.count(F.lit(1)).alias("__c"))
                .withColumn("__b", F.expr(f"__v div {bucket_size}")))
    xlnx = (F.col("__c").cast("double") * F.col("__v").cast("double")
            * F.log(F.col("__v").cast("double")))
    w1k = Window.partitionBy("__g", "__b").orderBy("__v")
    w1 = w1k.rowsBetween(Window.unboundedPreceding, 0)
    w1n = Window.partitionBy("__g", "__b").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    l1 = (hist.select(
        "__g", "__b",
        F.row_number().over(w1k).alias("__rn"),
        F.count(F.lit(1)).over(w1n).alias("__m"),
        F.sum(xlnx).over(w1).alias("__lp"))
        .filter(F.col("__rn") == F.col("__m")))
    w2k = Window.partitionBy("__g").orderBy("__b")
    w2 = w2k.rowsBetween(Window.unboundedPreceding, 0)
    w2n = Window.partitionBy("__g").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    l2 = (l1.select(
        "__g",
        F.row_number().over(w2k).alias("__rn"),
        F.count(F.lit(1)).over(w2n).alias("__m"),
        F.sum("__lp").over(w2).alias("__L"))
        .filter(F.col("__rn") == F.col("__m"))
        .select("__g", "__L"))
    stats = (base.groupBy("__g")
             .agg(F.count(F.lit(1)).alias("__n"),
                  F.sum(F.col("__v").cast("decimal(38,0)")).alias("__s")))
    g = stats.join(l2, "__g")
    wg_k = Window.orderBy("__g")
    wg = wg_k.rowsBetween(Window.unboundedPreceding, 0)
    wg_n = Window.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    mu_g = F.col("__s").cast("double") / F.col("__n").cast("double")
    gl = g.select(
        "__g", "__n", "__s", "__L",
        F.sum("__n").over(wg_n).alias("__nt"),
        F.sum("__s").over(wg_n).alias("__st"),
        F.row_number().over(wg_k).alias("__rn"),
        F.count(F.lit(1)).over(wg_n).alias("__m"),
        F.sum("__L").over(wg).alias("__Lt"))
    mu = F.col("__st").cast("double") / F.col("__nt").cast("double")
    t_g = (F.col("__L") / (F.col("__n").cast("double") * mu_g)
           - F.log(mu_g))
    share = F.col("__s").cast("double") / F.col("__st").cast("double")
    btw = share * F.log(mu_g / mu)
    per = gl.withColumn("__tg", t_g).withColumn("__sh", share) \
            .withColumn("__bt", btw)
    wb = Window.orderBy("__g").rowsBetween(Window.unboundedPreceding, 0)
    per2 = per.select(
        "*",
        F.sum("__bt").over(wb).alias("__btc"))
    group_rows = per2.select(
        F.col("__g").alias("grp"),
        F.col("__n").alias("n_rows"),
        F.col("__s").cast("long").alias("sum_cents"),
        F.round(mu_g, round_dp).alias("mu"),
        F.round("__tg", round_dp).alias("theil"),
        F.round("__sh", round_dp).alias("value_share"),
        F.round("__bt", round_dp).alias("between_term"))
    t_tot = (F.col("__Lt") / (F.col("__nt").cast("double") * mu)
             - F.log(mu))
    total_row = (per2.filter(F.col("__rn") == F.col("__m"))
                 .select(
        F.lit("TOTAL").alias("grp"),
        F.col("__nt").alias("n_rows"),
        F.col("__st").cast("long").alias("sum_cents"),
        F.round(mu, round_dp).alias("mu"),
        F.round(t_tot, round_dp).alias("theil"),
        F.round(F.lit(1.0), round_dp).alias("value_share"),
        F.round("__btc", round_dp).alias("between_term")))
    return group_rows.unionByName(total_row)


def brier_decomposition(df: DataFrame, score_int, label_bool,
                        n_bins: int = 10, round_dp: int = 6) -> DataFrame:
    """EXT (R223, round 6): Murphy decomposition of the Brier score —
    BS = reliability − resolution + uncertainty over the same exact
    score deciles as the calibration table (R211). The one-number
    summary the reliability diagram lacks: reliability isolates HOW
    miscalibrated the scorer is, resolution how much its bins actually
    separate outcomes, uncertainty the irreducible base-rate floor.
    Scores normalize to [0,1] against the data's own max (the
    reproducible anchor), so forecasts are f = s/s_max.

    Exactness: the POINTWISE Brier needs no per-row floats at all —
    Σ(f−y)² = (Σs² − 2·s_max·Σsy + s_max²·Σy)/(N·s_max²) with every Σ
    an exact decimal(38,0) integer, one fixed-shape IEEE finish.
    Reliability/resolution terms are IEEE per BIN (≤ n_bins rows),
    summed under an ordered window on bin id; the decomposition gap
    BS − (REL − RES + UNC) ≥ 0 is reported as ``within_bin_var`` (the
    within-bin forecast-variance remainder the binned decomposition
    cannot see). Degenerate all-zero scores report NULLs.

    Scale shape: one boundary probe against a broadcast one-row bounds
    array (cumulative window over DISTINCT score values only), one
    ≤ n_bins-row hash aggregate, one global integer aggregate —
    nothing data-sized past the first pass."""
    base = df.select(score_int.cast("long").alias("__s"),
                     F.when(label_bool, 1).otherwise(0).alias("__y"))
    b = _quantile_bounds(base.select("__s"), "__s", n_bins)
    bucketed = base.crossJoin(F.broadcast(b)).select(
        (F.lit(1) + F.size(F.filter(
            F.col("__b___s"), lambda x: F.col("__s") > x)))
        .cast("long").alias("__bin"), "__s", "__y")
    dec = "decimal(38,0)"
    bins = (bucketed.groupBy("__bin")
            .agg(F.count(F.lit(1)).cast("long").alias("__nk"),
                 F.sum("__y").cast("long").alias("__ok"),
                 F.sum(F.col("__s").cast(dec)).alias("__fs")))
    glob = bucketed.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__y").cast("long").alias("__o"),
        F.max("__s").alias("__smax"),
        F.sum(F.col("__s").cast(dec) * F.col("__s").cast(dec))
         .alias("__ssq"),
        F.sum(F.col("__s").cast(dec) * F.col("__y").cast(dec))
         .alias("__ssy"))
    g = bins.crossJoin(F.broadcast(glob))
    nkd = F.col("__nk").cast("double")
    smaxd = F.col("__smax").cast("double")
    fbar = F.col("__fs").cast("double") / (nkd * smaxd)
    obark = F.col("__ok").cast("double") / nkd
    obar = F.col("__o").cast("double") / F.col("__n").cast("double")
    # term-level smax guard: rel_t feeds a window SUM that evaluates on
    # every row, upstream of the output-level CASE — under ANSI a
    # degenerate all-zero score column would otherwise DIVIDE_BY_ZERO
    # here rather than yield the guarded NULLs
    rel_t = F.when(F.col("__smax") > 0,
                   nkd * ((fbar - obark) * (fbar - obark))) \
             .otherwise(F.lit(0.0))
    res_t = nkd * ((obark - obar) * (obark - obar))
    w_key = Window.orderBy("__bin")
    w_cum = w_key.rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
    cum = (g.select(
        "__n", "__o", "__smax", "__ssq", "__ssy",
        F.row_number().over(w_key).alias("__rn"),
        F.count(F.lit(1)).over(w_all).alias("__m"),
        F.sum(rel_t).over(w_cum).alias("__rels"),
        F.sum(res_t).over(w_cum).alias("__ress"))
        .filter(F.col("__rn") == F.col("__m")))
    nd = F.col("__n").cast("double")
    bs = ((F.col("__ssq").cast("double")
           - F.lit(2.0) * smaxd * F.col("__ssy").cast("double")
           + smaxd * smaxd * F.col("__o").cast("double"))
          / (nd * (smaxd * smaxd)))
    rel = F.col("__rels") / nd
    res = F.col("__ress") / nd
    unc = obar * (F.lit(1.0) - obar)
    ok = F.col("__smax") > 0
    return cum.select(
        F.col("__n").alias("n"),
        F.round(obar, round_dp).alias("pos_rate"),
        F.round(F.when(ok, bs), round_dp).alias("brier"),
        F.round(F.when(ok, rel), round_dp).alias("reliability"),
        F.round(F.when(ok, res), round_dp).alias("resolution"),
        F.round(unc, round_dp).alias("uncertainty"),
        F.round(F.when(ok, bs - (rel - res + unc)), round_dp)
         .alias("within_bin_var"))


def quantile_treatment_effect(df: DataFrame, user_col: str, outcome_when,
                              salt: str = "exp1", buckets: int = 10_000,
                              n_bins: int = 10) -> DataFrame:
    """EXT (R226, round 6): quantile treatment effect — the per-decile
    difference q_B(p) − q_A(p) between the arms' per-user outcome
    distributions. The average effect (R123's z, R197's CUPED) can be
    zero while the treatment moves the whole SHAPE (lifts the median,
    crushes the tail); the QTE profile is where heterogeneous effects
    show. Arms are the same sha-bucket 50/50 assignment as the rest of
    the experimentation family (rerun/append/repartition-stable);
    per-user outcome = Σ of ``outcome_when`` (intention-to-treat: every
    user counts, non-converters at 0).

    Exactness: TOTAL — there is no float anywhere. Quantiles are the
    exact k-th smallest at k = ceil(n·p) (the ``_quantile_bounds``
    integer rule: cum·bins ≥ n·i on a per-arm value histogram), and
    the effect is an integer difference of integer cents.

    Scale shape: one shuffle to the per-user grain, map-side histogram
    collapse, ``window.order_stats`` per (decile, arm) (cumulative
    windows over DISTINCT outcome values only), one ≤ (bins−1)-row final
    aggregate. No sort of users, no NTILE."""
    from .sampling import hash_bucket

    users = (df.groupBy(F.col(user_col).alias("__u"))
             .agg(F.coalesce(F.sum(outcome_when), F.lit(0))
                  .cast("long").alias("__o")))
    arm_a = hash_bucket(F.col("__u"), buckets, salt) < buckets // 2
    armed = users.select(
        F.when(arm_a, F.lit("a")).otherwise(F.lit("b")).alias("__g"), "__o")
    hist = armed.groupBy("__g", F.col("__o").alias("__v")) \
                .agg(F.count(F.lit(1)).alias("__c"))
    dd = F.explode(F.sequence(F.lit(1), F.lit(n_bins - 1))).alias("__d")
    ds = df.sparkSession.range(1).select(dd)
    # the decile rides as a group: one order statistic per (decile, arm)
    # spreads the pick over 2·(bins−1) window partitions instead of 2
    qs = order_stats(hist.crossJoin(F.broadcast(ds)), ["__d", "__g"],
                     __q=F.col("__cum") * n_bins >= F.col("__n") * F.col("__d"))
    arm = lambda g: F.max(F.when(F.col("__g") == g, F.col("__q")))  # noqa: E731
    q = qs.groupBy("__d").agg(arm("a").alias("q_a_cents"),
                              arm("b").alias("q_b_cents"))
    return q.select(
        F.col("__d").cast("long").alias("decile"),
        "q_a_cents", "q_b_cents",
        (F.col("q_b_cents") - F.col("q_a_cents")).alias("qte_cents"))


def anova_oneway(df: DataFrame, group_col: str, value_int,
                 round_dp: int = 6) -> DataFrame:
    """EXT (R227, round 6): exact one-way ANOVA — the K-group
    generalization the two-arm experiment family stops short of:
    SS_between / SS_within, F = (SS_b/(K−1))/(SS_w/(n−K)), and η² (the
    variance share the grouping explains — the effect size a bare F
    hides). The triage question it answers: does event_type / segment /
    source matter AT ALL for this metric, before pairwise tests.

    Exactness: per-group n_g, S_g, Σx² are exact integers
    (decimal(38,0)). The REPORTED SS columns decompose every S_g²/n_g
    into integer quotient + remainder via exact modulo (`S_g² % n_g` is
    exact in decimal; the even division (S_g² − r_g)/n_g is
    rounding-free), so SS_between/SS_within each become one exact
    integer (summed order-free in decimal) plus a fractional residue in
    (−1, K) whose `round_dp` round sits far above the double's ulp at
    ANY magnitude; the report is a single IEEE addition of those two
    identically-derived doubles. The round-11 sf10 battery caught the
    previous formulation — `ROUND(double, 6)` on an SS near 2e10 rounds
    BELOW the ulp, where engines' round implementations legitimately
    pick adjacent doubles. F and η² keep the raw fixed-shape double
    finals (their raw values are bit-identical cross-engine; at f-stat
    magnitudes ≳1e10 the same sub-ulp round class would reappear, far
    beyond any realistic F).

    Scale shape: one map-side-partial hash aggregate to K group rows,
    then K-row windows — the statistic costs exactly one aggregation
    over the fact table."""
    dec = "decimal(38,0)"
    base = df.select(F.col(group_col).cast("string").alias("__g"),
                     value_int.cast("long").alias("__v"))
    g = base.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("__ng"),
        F.sum(F.col("__v").cast(dec)).alias("__sg"),
        F.sum(F.col("__v").cast(dec) * F.col("__v").cast(dec))
         .alias("__qg"))
    # exact integer/remainder split of S_g²/n_g (division is even, so
    # the decimal quotient is rounding-free); __fg ∈ [0, 1) is one IEEE
    # division of exact integers — identical in any engine
    sq = F.col("__sg") * F.col("__sg")
    g = (g.withColumn("__rg", sq % F.col("__ng").cast(dec))
          .withColumn("__tg", ((sq - F.col("__rg"))
                               / F.col("__ng").cast(dec)).cast(dec))
          .withColumn("__fg", F.col("__rg").cast("double")
                      / F.col("__ng").cast("double")))
    term = ((F.col("__sg").cast("double") * F.col("__sg").cast("double"))
            / F.col("__ng").cast("double"))
    wk = Window.orderBy("__g")
    wc = wk.rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.rowsBetween(Window.unboundedPreceding,
                            Window.unboundedFollowing)
    cum = (g.select(
        F.row_number().over(wk).alias("__rn"),
        F.count(F.lit(1)).over(wn).alias("__k"),
        F.sum("__ng").over(wn).alias("__n"),
        F.sum("__sg").over(wn).alias("__s"),
        F.sum("__qg").over(wn).alias("__q"),
        F.sum("__tg").over(wn).alias("__t"),
        F.sum("__fg").over(wc).alias("__rfrac"),
        F.sum(term).over(wc).alias("__bsum"))
        .filter(F.col("__rn") == F.col("__k")))
    nd = F.col("__n").cast("double")
    corr = ((F.col("__s").cast("double") * F.col("__s").cast("double"))
            / nd)
    ss_tot = F.col("__q").cast("double") - corr
    ss_b = F.col("__bsum") - corr
    ss_w = F.col("__q").cast("double") - F.col("__bsum")
    # exact-integer SS report: same modulo split for S²/n, then ONE
    # addition of (exact-int cast to double) + (round_dp-rounded residue)
    ssq = F.col("__s") * F.col("__s")
    ndec = F.col("__n").cast(dec)
    wrem = ssq % ndec
    u_int = ((ssq - wrem) / ndec).cast(dec)
    frac_s = wrem.cast("double") / nd
    ss_b_rep = ((F.col("__t") - u_int).cast("double")
                + F.round(F.col("__rfrac") - frac_s, round_dp))
    ss_w_rep = ((F.col("__q") - F.col("__t")).cast("double")
                - F.round(F.col("__rfrac"), round_dp))
    kd = F.col("__k").cast("double")
    f_ok = ((F.col("__k") > 1) & (F.col("__n") > F.col("__k"))
            & (ss_w > 0))
    f_stat = (ss_b / (kd - F.lit(1.0))) / (ss_w / (nd - kd))
    eta = ss_b / ss_tot
    return cum.select(
        F.col("__k").alias("k_groups"),
        F.col("__n").alias("n"),
        ss_b_rep.alias("ss_between"),
        ss_w_rep.alias("ss_within"),
        F.round(F.when(f_ok, f_stat), round_dp).alias("f_stat"),
        F.round(F.when(ss_tot > 0, eta), round_dp).alias("eta_sq"))


def retention_halflife(events: DataFrame, user_col: str = "user_id",
                       ts_col: str = "ts",
                       round_dp: int = 6) -> DataFrame:
    """EXT (R228, round 6): retention half-life — fit ln(retention) =
    a + b·k over the aggregate weekly retention curve and report the
    decay rate and half-life ln2/(−b). The single number a growth team
    quotes from the R70 retention matrix; the fit also yields R² (how
    exponential the decay actually is — a flattening curve means a
    retained core, not exponential churn).

    The curve is HORIZON-CORRECTED: offset k's denominator counts only
    cohorts old enough to be observable at k (Σ sizes where
    max_week − cohort_week ≥ k) — naive division by all users fakes
    decay from cohort age mix. Points k ≥ 1 with rate > 0 enter the
    fit (k = 0 is 1 by construction; zero rates have no ln).

    Exactness: numerators/denominators are exact integers, one IEEE
    division + ln per point; x-moments (Σk, Σk²) are integers; the
    float Σy/Σxy/Σy² accumulate under ONE ordered window on k read at
    the last rank; slope/half-life/R² are fixed-shape finals with
    variance and slope-sign guards.

    Scale shape: two user-keyed aggregates + one user-keyed join carry
    the fact table (the R70 shapes); everything after is
    calendar-sized (cohorts × offsets)."""
    week = F.floor(F.unix_timestamp(F.col(ts_col)) / WEEK_SECONDS) \
            .cast("long")
    act = (events.select(F.col(user_col).alias("__u"), week.alias("__w"))
           .distinct())
    cohort = act.groupBy("__u").agg(F.min("__w").alias("__cw"))
    sizes = cohort.groupBy("__cw").agg(F.count(F.lit(1)).alias("__sz"))
    anchor = act.agg(F.max("__w").alias("__maxw"), F.min("__w").alias("__minw"))
    ret = (act.join(cohort, "__u")
           .groupBy(F.col("__cw"), (F.col("__w") - F.col("__cw"))
                    .alias("__k"))
           .agg(F.count_distinct(F.col("__u")).alias("__m")))
    elig = (sizes.crossJoin(F.broadcast(anchor))
            .select("__cw", "__sz",
                    (F.col("__maxw") - F.col("__cw")).alias("__hz"),
                    (F.col("__maxw") - F.col("__minw")).alias("__maxk")))
    ks = (elig.select(F.explode(F.sequence(F.lit(1).cast("long"),
                                           F.col("__maxk"))).alias("__k"),
                      "__cw", "__sz", "__hz")
              .filter(F.col("__hz") >= F.col("__k")))
    den = ks.groupBy("__k").agg(F.sum("__sz").alias("__den"))
    num = ret.filter(F.col("__k") >= 1).groupBy("__k") \
             .agg(F.sum("__m").alias("__num"))
    pts = (den.join(num, "__k").filter(F.col("__num") > 0)
           .select("__k",
                   F.log(F.col("__num").cast("double")
                         / F.col("__den").cast("double")).alias("__y")))
    xk = F.col("__k").cast("double")
    wk = Window.orderBy("__k")
    wc = wk.rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.rowsBetween(Window.unboundedPreceding,
                            Window.unboundedFollowing)
    cum = (pts.select(
        F.row_number().over(wk).alias("__rn"),
        F.count(F.lit(1)).over(wn).alias("__n"),
        F.sum("__k").over(wn).alias("__sx"),
        F.sum(F.col("__k") * F.col("__k")).over(wn).alias("__sxx"),
        F.sum("__y").over(wc).alias("__sy"),
        F.sum(xk * F.col("__y")).over(wc).alias("__sxy"),
        F.sum(F.col("__y") * F.col("__y")).over(wc).alias("__syy"))
        .filter(F.col("__rn") == F.col("__n")))
    nd = F.col("__n").cast("double")
    sxd = F.col("__sx").cast("double")
    sxxd = F.col("__sxx").cast("double")
    vx = nd * sxxd - sxd * sxd
    cxy = nd * F.col("__sxy") - sxd * F.col("__sy")
    vy = nd * F.col("__syy") - F.col("__sy") * F.col("__sy")
    slope = cxy / vx
    return cum.select(
        F.col("__n").alias("n_points"),
        F.round(F.when(vx > 0, slope), round_dp).alias("decay_per_week"),
        F.round(F.when((vx > 0) & (slope < 0),
                       F.log(F.lit(2.0)) / (-slope)), round_dp)
         .alias("half_life_weeks"),
        F.round(F.when((vx > 0) & (vy > 0), (cxy * cxy) / (vx * vy)),
                round_dp).alias("r2"))


def eb_shrunk_rates(df: DataFrame, group_col, success_pred,
                    round_dp: int = 6) -> DataFrame:
    """EXT (R229, round 6): empirical-Bayes rate shrinkage — the fix for
    small-sample-rate leaderboards ("3 returns out of 4 lineitems" is
    not your worst brand): per-group rates shrink toward the pooled
    mean with the beta-binomial method-of-moments prior. With pooled
    m = S/N and the n-weighted between-group variance
    v = Σ (n_g/N)(r_g − m)², the prior strength is M = m(1−m)/v − 1
    (the pseudo-count mass of the fitted Beta), and
    shrunk_g = (s_g + M·m)/(n_g + M) — small groups collapse to m,
    large groups keep their evidence. Degenerate spreads (v ≤ 0 or
    M ≤ 0 — groups no more dispersed than binomial noise) report the
    pooled mean as every group's shrunk rate with M NULL.

    Exactness: n_g, s_g, S, N are exact integers; v's K float terms
    sum under an ordered window on the group key; m, M, and the
    shrunk rates are fixed-shape IEEE finals, ROUND-dp.

    Scale shape: ONE map-side-partial hash aggregate to K group rows,
    then K-row windows — the estimator rides entirely on the group
    frame."""
    gcol = F.col(group_col) if isinstance(group_col, str) else group_col
    g = (df.groupBy(gcol.cast("string").alias("grp"))
         .agg(F.count(F.lit(1)).cast("long").alias("n_trials"),
              F.sum(F.when(success_pred, 1).otherwise(0)).cast("long")
               .alias("n_success")))
    wk = Window.orderBy("grp")
    wc = wk.rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.rowsBetween(Window.unboundedPreceding,
                            Window.unboundedFollowing)
    nN = F.sum("n_trials").over(wn)
    sS = F.sum("n_success").over(wn)
    m1 = sS.cast("double") / nN.cast("double")
    rg = F.col("n_success").cast("double") / F.col("n_trials").cast("double")
    vterm = (F.col("n_trials").cast("double") / nN.cast("double")) \
        * ((rg - m1) * (rg - m1))
    cum = g.select(
        "grp", "n_trials", "n_success",
        F.row_number().over(wk).alias("__rn"),
        F.count(F.lit(1)).over(wn).alias("__k"),
        nN.alias("__N"), sS.alias("__S"),
        F.sum(vterm).over(wc).alias("__vc"))
    cum = cum.withColumn("__v", F.max("__vc").over(wn))
    m = F.col("__S").cast("double") / F.col("__N").cast("double")
    mm = F.when(F.col("__v") > 0,
                (m * (F.lit(1.0) - m)) / F.col("__v") - F.lit(1.0))
    ok = mm > 0
    shrunk = F.when(ok, (F.col("n_success").cast("double") + mm * m)
                        / (F.col("n_trials").cast("double") + mm)) \
              .otherwise(m)
    return cum.select(
        "grp", "n_trials", "n_success",
        F.round(F.col("n_success").cast("double")
                / F.col("n_trials").cast("double"), round_dp)
         .alias("raw_rate"),
        F.round(shrunk, round_dp).alias("shrunk_rate"),
        F.round(m, round_dp).alias("pooled_rate"),
        F.round(F.when(ok, mm), round_dp).alias("prior_strength"))


def ols_two_predictors(df: DataFrame, y_int, x1_int, x2_int,
                       round_dp: int = 6) -> DataFrame:
    """EXT (R230, round 6): multiple linear regression — OLS of y on
    TWO predictors plus intercept, solved in closed form from the
    normal equations by Cramer's rule on the 3×3 moment matrix. The
    step past the simple-slope family (R125 OLS trend, R171 Theil–Sen):
    β₁ here is the quantity effect HOLDING x₂ FIXED — the partial
    effect a univariate slope confounds whenever predictors correlate.

    Exactness: all nine moments (n, Σx₁, Σx₂, Σy, Σx₁², Σx₂², Σx₁x₂,
    Σx₁y, Σx₂y, plus Σy² for R²) are exact decimal(38,0)/HUGEINT
    integers from ONE aggregation — addition-order-free; the
    determinants and β's are fixed-shape IEEE cofactor expressions of
    those integers, identical text in both engines; det ≠ 0 guards
    collinear designs (x₂ = a·x₁ + b → every coefficient NULL).
    R² = 1 − SSE/SST with SSE = Σy² − (β₀Σy + β₁Σx₁y + β₂Σx₂y).

    Scale shape: one map-side-partial scalar aggregate; everything
    after is a 1-row projection."""
    dec = "decimal(38,0)"
    b = df.select(y_int.cast("long").alias("__y"),
                  x1_int.cast("long").alias("__x1"),
                  x2_int.cast("long").alias("__x2"))
    c = lambda col: F.col(col).cast(dec)
    m = b.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(c("__x1")).alias("__s1"),
        F.sum(c("__x2")).alias("__s2"),
        F.sum(c("__y")).alias("__sy"),
        F.sum(c("__x1") * c("__x1")).alias("__s11"),
        F.sum(c("__x2") * c("__x2")).alias("__s22"),
        F.sum(c("__x1") * c("__x2")).alias("__s12"),
        F.sum(c("__x1") * c("__y")).alias("__s1y"),
        F.sum(c("__x2") * c("__y")).alias("__s2y"),
        F.sum(c("__y") * c("__y")).alias("__syy"))
    d = lambda col: F.col(col).cast("double")
    a_, b_, c_ = d("__n"), d("__s1"), d("__s2")
    dd, e_, f_ = d("__s1"), d("__s11"), d("__s12")
    g_, h_, i_ = d("__s2"), d("__s12"), d("__s22")
    ry, r1, r2v = d("__sy"), d("__s1y"), d("__s2y")
    det = (a_ * (e_ * i_ - f_ * h_) - b_ * (dd * i_ - f_ * g_)
           + c_ * (dd * h_ - e_ * g_))
    det0 = (ry * (e_ * i_ - f_ * h_) - b_ * (r1 * i_ - f_ * r2v)
            + c_ * (r1 * h_ - e_ * r2v))
    det1 = (a_ * (r1 * i_ - f_ * r2v) - ry * (dd * i_ - f_ * g_)
            + c_ * (dd * r2v - r1 * g_))
    det2 = (a_ * (e_ * r2v - r1 * h_) - b_ * (dd * r2v - r1 * g_)
            + ry * (dd * h_ - e_ * g_))
    ok = det != 0
    b0, b1, b2 = det0 / det, det1 / det, det2 / det
    sse = d("__syy") - (b0 * ry + b1 * r1 + b2 * r2v)
    sst = d("__syy") - (ry * ry) / a_
    return m.select(
        F.col("__n").alias("n"),
        F.round(F.when(ok, b0), round_dp).alias("beta0"),
        F.round(F.when(ok, b1), round_dp).alias("beta1"),
        F.round(F.when(ok, b2), round_dp).alias("beta2"),
        F.round(F.when(ok & (sst > 0), F.lit(1.0) - sse / sst),
                round_dp).alias("r2"))


def covariate_balance(df: DataFrame, user_col: str, covariates: dict,
                      salt: str = "exp1", buckets: int = 10_000,
                      round_dp: int = 6) -> DataFrame:
    """EXT (R231, round 6): covariate balance report — the randomization
    check every experiment readout should precede: per pre-treatment
    covariate, the standardized mean difference between arms,
    SMD = (μ_A − μ_B)/√((v_A+v_B)/2). |SMD| > 0.1 is the conventional
    imbalance flag; an imbalanced covariate means the sha assignment
    collided with structure (or the covariate leaks treatment) and the
    mean-effect readout needs CUPED/stratification (R197/R214).

    ``covariates``: name → per-user AGGREGATE expression over the
    user's rows (e.g. ``F.count(F.lit(1))``, each cast to long by the
    caller). Arms are the family's sha-bucket 50/50 assignment.

    Exactness: per-(covariate, arm) n, Σx, Σx² are exact
    decimal(38,0)/HUGEINT integers (the per-user frame explodes its
    covariate STRUCT once — one scan for all covariates); means,
    sample variances ((nΣx² − S²)/(n(n−1))), and SMD are fixed-shape
    IEEE finals with n>1 / pooled-variance>0 guards.

    Scale shape: one shuffle to the per-user grain, one explode (×
    n_covariates on user-count rows), one hash aggregate to
    2·n_covariates rows."""
    users = df.groupBy(F.col(user_col).alias("__u")).agg(
        *[expr.cast("long").alias(f"__c_{name}")
          for name, expr in covariates.items()])
    from .sampling import hash_bucket
    arm = F.when(hash_bucket(F.col("__u"), buckets, salt)
                 < buckets // 2, F.lit("a")).otherwise(F.lit("b"))
    structs = F.array(*[
        F.struct(F.lit(name).alias("cov"),
                 F.col(f"__c_{name}").alias("v"))
        for name in covariates])
    base = users.select(arm.alias("__g"),
                        F.explode(structs).alias("__p")) \
                .select("__g", "__p.cov", "__p.v")
    dec = "decimal(38,0)"
    g = base.groupBy("cov", "__g").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(F.col("v").cast(dec)).alias("__s"),
        F.sum(F.col("v").cast(dec) * F.col("v").cast(dec)).alias("__q"))
    nd = F.col("__n").cast("double")
    mean = F.col("__s").cast("double") / nd
    var = F.when(F.col("__n") > 1,
                 (nd * F.col("__q").cast("double")
                  - F.col("__s").cast("double")
                    * F.col("__s").cast("double"))
                 / (nd * (nd - F.lit(1.0))))
    piv = (g.select("cov", "__g", F.col("__n").alias("n"),
                    mean.alias("m"), var.alias("vv"))
           .groupBy("cov")
           .agg(F.max(F.when(F.col("__g") == "a", F.col("n")))
                 .alias("n_a"),
                F.max(F.when(F.col("__g") == "b", F.col("n")))
                 .alias("n_b"),
                F.max(F.when(F.col("__g") == "a", F.col("m")))
                 .alias("__ma"),
                F.max(F.when(F.col("__g") == "b", F.col("m")))
                 .alias("__mb"),
                F.max(F.when(F.col("__g") == "a", F.col("vv")))
                 .alias("__va"),
                F.max(F.when(F.col("__g") == "b", F.col("vv")))
                 .alias("__vb")))
    pooled = (F.col("__va") + F.col("__vb")) / F.lit(2.0)
    smd = (F.col("__ma") - F.col("__mb")) / F.sqrt(pooled)
    return piv.select(
        F.col("cov").alias("covariate"), "n_a", "n_b",
        F.round("__ma", round_dp).alias("mean_a"),
        F.round("__mb", round_dp).alias("mean_b"),
        F.round(F.when(pooled > 0, smd), round_dp).alias("smd"),
        F.when(pooled > 0, F.abs(smd) > 0.1).alias("imbalanced"))


def markov_attribution(events: DataFrame, user_col: str, ts_col: str,
                       type_col: str, channels: list,
                       convert_type: str, tiebreak_col: str,
                       round_dp: int = 6) -> DataFrame:
    """EXT (R233, round 6): Markov removal-effect attribution — the
    principled multi-touch upgrade over rule-based attribution (R110's
    first/last/linear): model user journeys as a first-order Markov
    chain over THREE channel states plus absorbing conversion/null,
    and credit each channel by how much the start→conversion
    probability DROPS when that channel is removed (transitions into
    it redirect to null — Anderl et al.'s removal effect). Channels
    that merely appear in converting paths get no credit unless paths
    actually need them.

    Exactly solved, not simulated: with 3 transient channel states the
    absorption probabilities come from ONE Cramer 3×3 solve (the R230
    cofactor shapes) and each removal from a 2×2 solve — closed-form
    fixed-shape IEEE expressions over exact integer transition counts,
    no power iteration, no RNG. Journey = the user's channel touches
    STRICTLY before their first conversion event (all touches if none),
    ordered by (ts, tiebreak); untouched users contribute the
    start→absorbing transitions.

    Output: one row per channel — (channel, base_conv_prob,
    removed_conv_prob, removal_effect = 1 − p'/p, attribution_share =
    RE/ΣRE), ROUND-dp, with det ≠ 0 / p > 0 / ΣRE > 0 guards.

    Scale shape: one user-keyed first-conversion aggregate, one
    user-partitioned lag window over touch rows, one (src,dst) hash
    aggregate to ≤ 20 cells; the driver then holds exactly those 20
    scalars and runs the closed-form solves in Python doubles (the
    top_pc_loadings precedent — building them as nested Column trees
    re-expands shared subexpressions combinatorially and OOMs the
    planner), with the final ROUND applied by Spark."""
    assert len(channels) == 3, "closed-form solve is 3-channel"
    ev = events.select(F.col(user_col).alias("__u"),
                       F.col(ts_col).alias("__ts"),
                       F.col(type_col).alias("__t"),
                       F.col(tiebreak_col).alias("__tb"))
    firstc = (ev.filter(F.col("__t") == convert_type)
              .groupBy("__u").agg(F.min("__ts").alias("__cts")))
    allu = (ev.groupBy("__u")
            .agg(F.max(F.when(F.col("__t") == convert_type, 1)
                       .otherwise(0)).alias("__conv")))
    touches = (ev.filter(F.col("__t").isin(list(channels)))
               .join(firstc, "__u", "left")
               .filter(F.col("__cts").isNull()
                       | (F.col("__ts") < F.col("__cts"))))
    w = Window.partitionBy("__u").orderBy("__ts", "__tb")
    wn = Window.partitionBy("__u").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    tr = touches.select(
        "__u", "__t",
        F.lag("__t").over(w).alias("__prev"),
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(wn).alias("__m"))
    step = tr.select(F.coalesce(F.col("__prev"), F.lit("S")).alias("src"),
                     F.col("__t").alias("dst"))
    last = (tr.filter(F.col("__rn") == F.col("__m"))
            .join(allu, "__u")
            .select(F.col("__t").alias("src"),
                    F.when(F.col("__conv") == 1, F.lit("conv"))
                     .otherwise(F.lit("null")).alias("dst")))
    touched = touches.select("__u").distinct()
    lonely = (allu.join(touched, "__u", "left_anti")
              .select(F.lit("S").alias("src"),
                      F.when(F.col("__conv") == 1, F.lit("conv"))
                       .otherwise(F.lit("null")).alias("dst")))
    counts = (step.unionByName(last).unionByName(lonely)
              .groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n")))
    srcs = ["S"] + list(channels)
    dsts = list(channels) + ["conv", "null"]
    cell = {
        (s, d): F.coalesce(
            F.sum(F.when((F.col("src") == s) & (F.col("dst") == d),
                         F.col("n"))), F.lit(0)).cast("long")
        for s in srcs for d in dsts}
    m = counts.agg(*[c.alias(f"__n_{s}_{d}")
                     for (s, d), c in cell.items()])
    # The closed-form solve runs DRIVER-SIDE on the 20 collected scalar
    # counts (the top_pc_loadings precedent: distributed work ends at
    # the aggregation; the driver holds a handful of scalars). Building
    # the solve as nested Column expressions re-expands every shared
    # subexpression combinatorially in Catalyst (shares embed removal
    # solves embed the 3x3 solve embed 9 probabilities embed 5-cell
    # totals) and OOMs the planner. Python floats are the same IEEE
    # doubles; the expression SHAPES below match the oracle text, and
    # the final ROUND is applied by Spark, not Python.
    row = m.collect()[0]
    n = {(s, d): row[f"__n_{s}_{d}"] for s in srcs for d in dsts}

    def p(s, d):
        tot = float(n[(s, dsts[0])])
        for x in dsts[1:]:
            tot = tot + float(n[(s, x)])
        return (float(n[(s, d)]) / tot) if tot > 0 else 0.0

    c1, c2, c3 = channels
    q = {(i, j): p(i, j) for i in channels for j in channels}
    r = {i: p(i, "conv") for i in channels}
    qs = {j: p("S", j) for j in channels}
    rs = p("S", "conv")
    a11, a12, a13 = 1.0 - q[(c1, c1)], -q[(c1, c2)], -q[(c1, c3)]
    a21, a22, a23 = -q[(c2, c1)], 1.0 - q[(c2, c2)], -q[(c2, c3)]
    a31, a32, a33 = -q[(c3, c1)], -q[(c3, c2)], 1.0 - q[(c3, c3)]
    b1, b2, b3 = r[c1], r[c2], r[c3]
    det = (a11 * (a22 * a33 - a23 * a32) - a12 * (a21 * a33 - a23 * a31)
           + a13 * (a21 * a32 - a22 * a31))
    if det != 0:
        d1 = (b1 * (a22 * a33 - a23 * a32) - a12 * (b2 * a33 - a23 * b3)
              + a13 * (b2 * a32 - a22 * b3))
        d2 = (a11 * (b2 * a33 - a23 * b3) - b1 * (a21 * a33 - a23 * a31)
              + a13 * (a21 * b3 - b2 * a31))
        d3 = (a11 * (a22 * b3 - b2 * a32) - a12 * (a21 * b3 - b2 * a31)
              + b1 * (a21 * a32 - a22 * a31))
        p1, p2, p3 = d1 / det, d2 / det, d3 / det
        p_full = qs[c1] * p1 + qs[c2] * p2 + qs[c3] * p3 + rs

        def removed(k):
            i, j = [c for c in channels if c != k]
            dii = 1.0 - q[(i, i)]
            djj = 1.0 - q[(j, j)]
            det2 = dii * djj - q[(i, j)] * q[(j, i)]
            pi = (r[i] * djj + q[(i, j)] * r[j]) / det2
            pj = (r[j] * dii + q[(j, i)] * r[i]) / det2
            return qs[i] * pi + qs[j] * pj + rs

        prem = {k: removed(k) for k in channels}
        if p_full > 0:
            re = {k: 1.0 - prem[k] / p_full for k in channels}
            re_sum = re[c1] + re[c2] + re[c3]
        else:
            re, re_sum = {k: None for k in channels}, None
        out = [(k, p_full, prem[k], re[k],
                (re[k] / re_sum) if (re[k] is not None and re_sum
                                     and re_sum > 0) else None)
               for k in channels]
    else:
        out = [(k, None, None, None, None) for k in channels]
    res = events.sparkSession.createDataFrame(
        out, "channel string, base_conv_prob double, "
             "removed_conv_prob double, removal_effect double, "
             "attribution_share double")
    return res.select(
        "channel",
        F.round("base_conv_prob", round_dp).alias("base_conv_prob"),
        F.round("removed_conv_prob", round_dp).alias("removed_conv_prob"),
        F.round("removal_effect", round_dp).alias("removal_effect"),
        F.round("attribution_share", round_dp).alias("attribution_share"))


def shapley_attribution(events: DataFrame, user_col: str, ts_col: str,
                        type_col: str, channels: list,
                        convert_type: str,
                        round_dp: int = 6) -> DataFrame:
    """EXT (R234, round 6): Shapley-value attribution — the
    coalition-game counterpart of the Markov removal effect (R233):
    credit channel k by its average marginal contribution
    φ_k = Σ_S w(|S|)·[v(S∪{k}) − v(S)] over all coalitions S of the
    other channels, with v(S) = observed conversion rate of users whose
    PRE-CONVERSION touch set is exactly S (unobserved coalitions
    contribute v = 0 — deterministic by definition). Where Markov
    models paths (order matters), Shapley models presence (order-free);
    an attribution stack quotes both and investigates where they
    disagree. Exact for 3 channels: weights 1/3, 1/6, 1/6, 1/3.

    Exactness: the 8 coalition (users, conversions) cells are exact
    integers from ONE hash aggregate on per-user boolean touch flags;
    every v is one guarded IEEE division and φ is a fixed-shape
    4-term sum — the expression tree is 8 cells wide, safely in-frame
    (no driver solve needed at this size).

    Scale shape: one shuffle to the per-user grain (3 boolean flags +
    conversion), one ≤8-row hash aggregate, a 1-row projection."""
    assert len(channels) == 3, "exact Shapley here is 3-channel"
    c1, c2, c3 = channels
    ev = events.select(F.col(user_col).alias("__u"),
                       F.col(ts_col).alias("__ts"),
                       F.col(type_col).alias("__t"))
    firstc = (ev.filter(F.col("__t") == convert_type)
              .groupBy("__u").agg(F.min("__ts").alias("__cts")))
    flags = (ev.join(firstc, "__u", "left")
             .filter(F.col("__t").isin(list(channels)))
             .filter(F.col("__cts").isNull()
                     | (F.col("__ts") < F.col("__cts")))
             .groupBy("__u")
             .agg(*[F.max(F.when(F.col("__t") == c, 1).otherwise(0))
                    .alias(f"__h{i}") for i, c in enumerate(channels)]))
    allu = (ev.groupBy("__u")
            .agg(F.max(F.when(F.col("__t") == convert_type, 1)
                       .otherwise(0)).alias("__cv")))
    per = (allu.join(flags, "__u", "left")
           .select("__cv",
                   *[F.coalesce(F.col(f"__h{i}"), F.lit(0))
                     .alias(f"__h{i}") for i in range(3)]))
    coals = [(i, j, k) for i in (0, 1) for j in (0, 1) for k in (0, 1)]
    m = per.agg(*[x for (i, j, k) in coals for x in (
        F.coalesce(F.sum(F.when(
            (F.col("__h0") == i) & (F.col("__h1") == j)
            & (F.col("__h2") == k), 1)), F.lit(0)).cast("long")
         .alias(f"__n_{i}{j}{k}"),
        F.coalesce(F.sum(F.when(
            (F.col("__h0") == i) & (F.col("__h1") == j)
            & (F.col("__h2") == k), F.col("__cv"))), F.lit(0))
         .cast("long").alias(f"__c_{i}{j}{k}"))])

    def v(i, j, k):
        nn = F.col(f"__n_{i}{j}{k}").cast("double")
        return F.when(nn > 0,
                      F.col(f"__c_{i}{j}{k}").cast("double") / nn) \
                .otherwise(F.lit(0.0))

    w1, w2 = F.lit(1.0) / F.lit(3.0), F.lit(1.0) / F.lit(6.0)

    def phi(pos):
        # coalitions S over the other two channels, in (0,0),(1,0),
        # (0,1),(1,1) order; bit positions map to channel index
        def bits(s_a, s_b, own):
            t = [0, 0, 0]
            others = [x for x in range(3) if x != pos]
            t[others[0]], t[others[1]] = s_a, s_b
            t[pos] = own
            return tuple(t)
        t1 = w1 * (v(*bits(0, 0, 1)) - v(*bits(0, 0, 0)))
        t2 = w2 * (v(*bits(1, 0, 1)) - v(*bits(1, 0, 0)))
        t3 = w2 * (v(*bits(0, 1, 1)) - v(*bits(0, 1, 0)))
        t4 = w1 * (v(*bits(1, 1, 1)) - v(*bits(1, 1, 0)))
        return t1 + t2 + t3 + t4

    phis = [phi(i) for i in range(3)]
    tot = phis[0] + phis[1] + phis[2]
    touched = [sum((F.col(f"__n_{i}{j}{k}")
                    for (i, j, k) in coals if (i, j, k)[pos] == 1),
                   F.lit(0)).cast("long")
               for pos in range(3)]
    rows = F.array(*[
        F.struct(F.lit(c).alias("channel"),
                 touched[i].alias("touched_users"),
                 F.round(phis[i], round_dp).alias("shapley_value"),
                 F.round(F.when(tot > 0, phis[i] / tot), round_dp)
                  .alias("attribution_share"))
        for i, c in enumerate(channels)])
    return m.select(F.explode(rows).alias("__r")).select("__r.*")


def item_cf_neighbors(df: DataFrame, user_col: str, item_col: str,
                      k: int = 5, round_dp: int = 6) -> DataFrame:
    """EXT (R238, round 6): item-item collaborative-filtering neighbors —
    for every item its top-k most-similar items by binary-occurrence
    cosine sim(i,j) = n_ij / √(n_i·n_j) over user purchase sets; the
    classic Amazon-style "users who bought i also bought j" primitive,
    and the recommender member of the similarity family (R122's basket
    pairs rank by lift — a dependence test; cosine ranks by co-occurrence
    GEOMETRY, which is what neighbor lists want).

    Determinism: n_ij, n_i are exact distinct-user counts; cosine is one
    IEEE divide rounded to ``round_dp`` BEFORE ranking, ties break on the
    neighbor item asc, so every engine selects the same top-k row set.

    Scale shape: dedup to (user, item) pairs (one hash agg — bodies/
    baskets never re-shuffle); the pair join is a self-join on user whose
    per-user fan-out is C(items-per-user, 2) — bounded by basket width,
    not catalog size; pair counts hash-agg on (i, j); per-item degrees
    join back; ranking is a per-item WindowGroupLimit (never a global
    sort). For web-scale catalogs swap the exact self-join for the
    R27/R235 bucketed-candidate devices; at warehouse item cardinalities
    the exact join IS the right plan."""
    ui, _ = materialize(
        df.select(F.col(user_col).alias("__u"),
                  F.col(item_col).alias("__i"))
        .distinct())
    deg = ui.groupBy("__i").agg(F.count(F.lit(1)).alias("__n"))
    a, b = ui.alias("a"), ui.alias("b")
    co = (a.join(b, (F.col("a.__u") == F.col("b.__u"))
                 & (F.col("a.__i") != F.col("b.__i")))
          .groupBy(F.col("a.__i").alias("__ia"),
                   F.col("b.__i").alias("__ib"))
          .agg(F.count(F.lit(1)).alias("n_co")))
    cos = F.round(F.col("n_co").cast("double")
                  / F.sqrt(F.col("da.__n").cast("double")
                           * F.col("db.__n").cast("double")), round_dp)
    scored = (co.join(deg.alias("da"), F.col("__ia") == F.col("da.__i"))
              .join(deg.alias("db"), F.col("__ib") == F.col("db.__i"))
              .select(F.col("__ia").alias("item"),
                      F.col("__ib").alias("neighbor"),
                      "n_co", cos.alias("cosine")))
    w = Window.partitionBy("item").orderBy(F.col("cosine").desc(),
                                           F.col("neighbor").asc())
    return (scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .select("item", "neighbor", "n_co", "cosine",
                    F.col("__rn").alias("rank")))


def seq_pattern_support(events: DataFrame, user_col: str, ts_col: str,
                        type_col: str, round_dp: int = 6) -> DataFrame:
    """EXT (R239, round 6): sequential-pattern support mining — for every
    ordered triple of DISTINCT event types (A,B,C), the number and share
    of users whose history contains some occurrence tA < tB < tC (SPADE/
    PrefixSpan's length-3 existence support). The ordered counterpart of
    the transition matrix (R83, adjacent bigrams) and journey paths
    (R105, full path strings): a pattern here may have arbitrary
    interleaving between its steps.

    Greedy-earliest evaluation (the standard subsequence lemma: an
    ordered instance exists iff the greedy earliest one does): eA =
    user's first A; eB = first B strictly after eA; eC = first C strictly
    after eB — ties at equal timestamps do NOT chain (strict <, identical
    in both engines). Patterns no user supports are absent.

    Scale shape: three (user-key) hash joins, each fanning a user's
    events by at most the TYPE VOCABULARY (|T| then |T|², never event² —
    the brute ∃-triple join would be cubic in per-user activity); all
    aggregates are hash aggs at (user, prefix) grain; the user total
    rides as a 1-row broadcast. Pattern cardinality is |T|³ at most —
    a report, not a data-sized frame."""
    ev, _ = materialize(
        events.select(F.col(user_col).alias("__u"),
                      F.col(ts_col).alias("__ts"),
                      F.col(type_col).alias("__t")))
    tot = ev.agg(F.count_distinct("__u").alias("__tot"))
    ea = (ev.groupBy("__u", F.col("__t").alias("__a"))
          .agg(F.min("__ts").alias("__ta")))
    eb = (ea.join(ev.alias("e1"),
                  (F.col("e1.__u") == ea.__u)
                  & (F.col("e1.__t") != F.col("__a"))
                  & (F.col("e1.__ts") > F.col("__ta")))
          .groupBy(ea.__u, F.col("__a"), F.col("e1.__t").alias("__b"))
          .agg(F.min("e1.__ts").alias("__tb")))
    ec = (eb.join(ev.alias("e2"),
                  (F.col("e2.__u") == eb.__u)
                  & (F.col("e2.__t") != F.col("__a"))
                  & (F.col("e2.__t") != F.col("__b"))
                  & (F.col("e2.__ts") > F.col("__tb")))
          .groupBy(eb.__u, F.col("__a"), F.col("__b"),
                   F.col("e2.__t").alias("__c"))
          .agg(F.min("e2.__ts").alias("__tc")))
    return (ec.groupBy("__a", "__b", "__c")
            .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
            .crossJoin(F.broadcast(tot))
            .select(F.concat_ws(">", "__a", "__b", "__c").alias("pattern"),
                    "n_users",
                    F.round(F.col("n_users").cast("double")
                            / F.col("__tot").cast("double"), round_dp)
                    .alias("support")))


def isotonic_calibration(df: DataFrame, score_int, label_bool,
                         n_bins: int = 10, round_dp: int = 6) -> DataFrame:
    """EXT (R241, round 6): isotonic (PAVA) calibration over the R211
    decile table — the monotone-regressed positive rate per score bin,
    i.e. what Platt/isotonic calibration would deploy as the score→
    probability map. Raw bin rates can invert on noise; the isotonic fit
    is the unique monotone weighted-L2 projection, computed here in the
    PAVA **minimax closed form** (Robertson/Wright/Dykstra):
    iso_i = max_{j≤i} min_{k≥i} avg(j..k) with avg the pooled
    n_pos/n over bins j..k — NO iterative pooling, so both engines
    evaluate a fixed-shape expression. Every interval average is one
    IEEE division of exact integer sums; min/max over identical doubles
    are engine-identical; one final ROUND.

    Scale shape: all the data-sized work is the R211 binning (one pass +
    broadcast boundary probe); everything after operates on ≤ n_bins
    rows — the interval/minimax joins are n_bins³ ≤ 1000-row
    report-grain frames, never data-sized."""
    bins = calibration_bins(df, score_int, label_bool, n_bins)
    b, _ = materialize(bins.select("bin", "n", "n_pos", "pos_rate"))
    iv = (b.select(F.col("bin").alias("__j"))
          .join(b.select(F.col("bin").alias("__k")),
                F.col("__j") <= F.col("__k"))
          .join(b, (F.col("bin") >= F.col("__j"))
                & (F.col("bin") <= F.col("__k")))
          .groupBy("__j", "__k")
          .agg(F.sum("n").alias("__vn"), F.sum("n_pos").alias("__vp")))
    a = F.col("__vp").cast("double") / F.col("__vn").cast("double")
    mji = (iv.join(b.select(F.col("bin").alias("__i")),
                   (F.col("__j") <= F.col("__i"))
                   & (F.col("__k") >= F.col("__i")))
           .groupBy("__i", "__j").agg(F.min(a).alias("__m")))
    iso = mji.groupBy("__i").agg(F.max("__m").alias("__iso"))
    return (b.join(iso, F.col("bin") == F.col("__i"))
            .select("bin", "n", "n_pos", "pos_rate",
                    F.round(F.col("__iso"), round_dp).alias("iso_rate")))


def logrank_test(df: DataFrame, user_col: str, ts_col: str, type_col: str,
                 convert_type: str = "purchase", salt: str = "exp1",
                 buckets: int = 10_000, split_at: int = 5_000,
                 round_dp: int = 6) -> DataFrame:
    """EXT (R242, round 6): two-sample log-rank test between the sha
    experiment arms on time-to-first-conversion with right censoring —
    the survival-curve significance test completing the time-to-event
    family (KM draws the curves, Nelson–Aalen the hazard, THIS says
    whether the arms' curves differ): at every event time t_j pool the
    hypergeometric moments E[d1] = d_j·n1_j/n_j and
    V = d_j·(n1_j/n_j)(1−n1_j/n_j)(n_j−d_j)/(n_j−1), then
    z = (O₁−E₁)/√V. Duration = days from a user's first event to first
    conversion, censored at their last event (same subject frame as
    R212).

    Determinism: subjects, per-time at-risk and event counts are exact
    integers (per-arm risk via the dense cumulative device on the COMMON
    event-time grid, so an arm's risk is defined even at the other arm's
    event times); each E/V term is a fixed shape of IEEE divides;
    ROUND-dp absorbs partial-sum ulps. Arms are the sha bucket split —
    rerun- and engine-stable, never an RNG.

    Scale shape: one user-grain shuffle to subjects; per-(time, arm)
    hash agg; the risk windows run per-arm over the DISTINCT-day grid
    (calendar-sized, 2 partitions); the final moment sum is one scalar
    agg."""
    from .sampling import hash_bucket
    day = (F.unix_timestamp(F.col(ts_col)) / F.lit(86400)).cast("long")
    peru = (df.groupBy(F.col(user_col).alias("__u"))
            .agg(F.min(day).alias("__d0"),
                 F.min(F.when(F.col(type_col) == convert_type, day))
                 .alias("__dp"),
                 F.max(day).alias("__dl")))
    subj, _ = materialize(
        peru.select(
            F.when(hash_bucket(F.col("__u"), buckets, salt) < split_at,
                   F.lit("a")).otherwise(F.lit("b")).alias("__g"),
            F.when(F.col("__dp").isNotNull(),
                   F.col("__dp") - F.col("__d0"))
             .otherwise(F.col("__dl") - F.col("__d0")).alias("__t"),
            F.when(F.col("__dp").isNotNull(), 1).otherwise(0).alias("__e")))
    ng = subj.groupBy("__g").agg(F.count(F.lit(1)).alias("__ng"))
    hist = (subj.groupBy("__t", "__g")
            .agg(F.count(F.lit(1)).alias("__all"),
                 F.sum("__e").alias("__d")))
    grid = (hist.select("__t").distinct()
            .crossJoin(subj.select("__g").distinct()))
    w = (Window.partitionBy("__g").orderBy("__t")
         .rowsBetween(Window.unboundedPreceding, -1))
    dense = (grid.join(hist, ["__t", "__g"], "left")
             .select("__t", "__g",
                     F.coalesce(F.col("__all"), F.lit(0)).alias("__all"),
                     F.coalesce(F.col("__d"), F.lit(0)).alias("__d"))
             .withColumn("__prior",
                         F.coalesce(F.sum("__all").over(w), F.lit(0)))
             .join(ng, "__g")
             .withColumn("__risk", F.col("__ng") - F.col("__prior")))
    per_t = (dense.groupBy("__t")
             .agg(F.sum("__d").alias("__dt"),
                  F.sum("__risk").alias("__nt"),
                  F.sum(F.when(F.col("__g") == "a", F.col("__d"))
                        .otherwise(0)).alias("__d1"),
                  F.sum(F.when(F.col("__g") == "a", F.col("__risk"))
                        .otherwise(0)).alias("__n1"))
             .filter(F.col("__dt") > 0))
    p1 = F.col("__n1").cast("double") / F.col("__nt").cast("double")
    eterm = F.col("__dt").cast("double") * p1
    vterm = F.when(
        F.col("__nt") > 1,
        F.col("__dt").cast("double") * p1 * (F.lit(1.0) - p1)
        * (F.col("__nt") - F.col("__dt")).cast("double")
        / (F.col("__nt") - 1).cast("double")).otherwise(F.lit(0.0))
    mom = per_t.agg(
        F.sum("__d1").cast("long").alias("__o1"),
        F.sum(eterm).alias("__e1"),
        F.sum(vterm).alias("__v"))
    na = ng.groupBy().pivot("__g", ["a", "b"]).sum("__ng")
    z = F.when(F.col("__v") > 0,
               (F.col("__o1").cast("double") - F.col("__e1"))
               / F.sqrt(F.col("__v")))
    return (mom.crossJoin(F.broadcast(na))
            .select(F.col("a").cast("long").alias("n_a"),
                    F.col("b").cast("long").alias("n_b"),
                    F.col("__o1").alias("events_a"),
                    F.round("__e1", round_dp).alias("expected_a"),
                    F.round("__v", round_dp).alias("variance"),
                    F.round(z, round_dp).alias("z")))


def threshold_sweep(df: DataFrame, score_int, label_bool,
                    round_dp: int = 6) -> DataFrame:
    """EXT (R245, round 6): full classification threshold sweep — for
    every distinct score value t (rule: predict positive when
    score ≥ t) the exact confusion counts and the derived operating
    metrics: precision, recall, F1, Youden's J (= recall − FPR). The
    curve behind the scorer-eval family's scalars (AUC R151 integrates
    it, PRF R191 is ONE row of it, calibration R211 rescales it):
    deployment needs the operating POINT, and that means sweeping.

    Exactness: one value-histogram pass gives (pos, neg) per distinct
    score; suffix-cumulative sums (TP, FP at each threshold) stay exact
    integers; every metric is a guarded fixed-shape IEEE divide rounded
    to ``round_dp``.

    Scale shape: rows collapse to the distinct-score histogram (one
    hash agg — the sweep is histogram-sized, not row-sized); the
    suffix sums are ``window.scan_tree`` over the negated score, so no
    single partition ever holds the whole histogram; global totals ride
    as a 1-row broadcast."""
    base = df.select(score_int.cast("long").alias("__s"),
                     F.when(label_bool, 1).otherwise(0).alias("__y"))
    hist, _ = materialize(
        base.groupBy("__s")
        .agg(F.count(F.lit(1)).alias("__n"),
             F.sum("__y").alias("__p")))
    tot = hist.agg(F.sum("__n").cast("long").alias("__N"),
                   F.sum("__p").cast("long").alias("__P"))
    # suffix sums: the scan tree over the NEGATED score is a descending scan
    cum = scan_tree(hist.withColumn("__ns", -F.col("__s")), "__ns",
                    100_000, "__n", "__p").select(
        "__s", F.col("__n_cum").alias("__pred_pos"),
        F.col("__p_cum").alias("__tp"))
    g = cum.crossJoin(F.broadcast(tot))
    tp = F.col("__tp").cast("double")
    fp = (F.col("__pred_pos") - F.col("__tp")).cast("double")
    pos = F.col("__P").cast("double")
    neg = (F.col("__N") - F.col("__P")).cast("double")
    prec = F.when(F.col("__pred_pos") > 0, tp / F.col("__pred_pos")
                  .cast("double"))
    rec = F.when(F.col("__P") > 0, tp / pos)
    f1 = F.when((pos + F.col("__pred_pos").cast("double")) > 0,
                F.lit(2.0) * tp
                / (pos + F.col("__pred_pos").cast("double")))
    j = F.when((F.col("__P") > 0) & ((F.col("__N") - F.col("__P")) > 0),
               tp / pos - fp / neg)
    return g.select(
        F.col("__s").alias("threshold"),
        F.col("__tp").cast("long").alias("tp"),
        (F.col("__pred_pos") - F.col("__tp")).cast("long").alias("fp"),
        (F.col("__P") - F.col("__tp")).cast("long").alias("fn"),
        (F.col("__N") - F.col("__pred_pos") - F.col("__P")
         + F.col("__tp")).cast("long").alias("tn"),
        F.round(prec, round_dp).alias("precision"),
        F.round(rec, round_dp).alias("recall"),
        F.round(f1, round_dp).alias("f1"),
        # + 0.0 canonicalizes IEEE -0.0: J is the one signed metric here,
        # and a tiny negative J rounds to -0.0 in IEEE engines while
        # Spark's BigDecimal round drops the sign (round-9 sf0.1 finding)
        (F.round(j, round_dp) + F.lit(0.0)).alias("youden_j"))


def sprt_replay(df: DataFrame, user_col: str, ts_col: str,
                order_col: str, success_when,
                p0: float = 0.15, p1: float = 0.25,
                alpha: float = 0.05, beta: float = 0.05,
                salt: str = "exp1", buckets: int = 10_000,
                round_dp: int = 6) -> DataFrame:
    """EXT (round 6): sequential probability ratio test replay — Wald's
    SPRT for Bernoulli H0: p = p0 vs H1: p = p1, replayed over each
    arm's event stream in arrival order. The fixed-horizon family
    (z / CUPED / CMH / permutation) reads the END of the experiment;
    this is the early-stopping readout: the first event index where the
    cumulative log-likelihood ratio leaves (B, A), and the decision
    taken there. Per arm: (arm, n_events, conversions, first_cross_n,
    decision, llr_final).

    Determinism discipline: the running state is INTEGER (row_number n,
    cumulative successes k over a total order ts→order_col); the LLR is
    a single float expression k·ln(p1/p0) + (n−k)·ln((1−p1)/(1−p0))
    from those integers — no float accumulation, so every engine
    computes bit-identical doubles and the boundary comparisons agree.
    Constants embed as exact binary doubles (repr), the PageRank rule.

    Scale: one shuffle to (arm)-partitioned windows; the crossing row
    is found with a struct-min aggregate, not a re-join or sort-limit.
    Two arms means two window partitions — for real deployments pass a
    finer partition (e.g. per-experiment) through ``salt``/pre-split;
    state per row is two integers.
    """
    import math

    from .sampling import hash_bucket

    c1 = math.log(p1 / p0)
    c2 = math.log((1 - p1) / (1 - p0))
    a_bound = math.log((1 - beta) / alpha)
    b_bound = math.log(beta / (1 - alpha))

    arm_a = hash_bucket(F.col(user_col), buckets, salt) < buckets // 2
    base = df.select(
        F.when(arm_a, F.lit("a")).otherwise(F.lit("b")).alias("__g"),
        F.col(ts_col).alias("__ts"), F.col(order_col).alias("__id"),
        F.when(success_when, F.lit(1)).otherwise(F.lit(0))
         .cast("long").alias("__y"))
    w = Window.partitionBy("__g").orderBy("__ts", "__id")
    wr = w.rowsBetween(Window.unboundedPreceding, 0)
    llr = (F.col("__k").cast("double") * F.lit(c1)
           + (F.col("__n") - F.col("__k")).cast("double") * F.lit(c2))
    scored = (base.select(
        "__g", F.row_number().over(w).alias("__n"),
        F.sum("__y").over(wr).alias("__k"))
        .select("__g", "__n", "__k", llr.alias("__llr")))
    direction = (F.when(F.col("__llr") >= a_bound, F.lit("accept_h1"))
                 .when(F.col("__llr") <= b_bound, F.lit("accept_h0")))
    agg = scored.groupBy("__g").agg(
        F.max("__n").cast("long").alias("n_events"),
        F.max("__k").cast("long").alias("conversions"),
        F.min(F.when(direction.isNotNull(),
                     F.struct(F.col("__n"), direction.alias("__dir"))))
         .alias("__fc"))
    llr_final = (F.col("conversions").cast("double") * F.lit(c1)
                 + (F.col("n_events") - F.col("conversions"))
                 .cast("double") * F.lit(c2))
    return agg.select(
        F.col("__g").alias("arm"), "n_events", "conversions",
        F.col("__fc.__n").cast("long").alias("first_cross_n"),
        F.coalesce(F.col("__fc.__dir"), F.lit("continue"))
         .alias("decision"),
        F.round(llr_final, round_dp).alias("llr_final"))


def mde_report(events: DataFrame, user_col: str, outcome_when,
               salt: str = "exp1", buckets: int = 10_000,
               z_alpha: float = 1.959963984540054,
               z_beta: float = 0.8416212335729143,
               round_dp: int = 6) -> DataFrame:
    """EXT (round 6): minimum detectable effect report — the
    experiment-DESIGN readout the rest of the family reads after the
    fact: given the realized arm sizes and per-user outcome variance,
    what absolute / relative lift could this experiment even see at
    α=5% two-sided, 80% power? An experiment whose MDE exceeds the
    plausible effect was dead before it started.

    One row: (n_a, n_b, mean_outcome, sd_pooled, mde_abs, mde_rel)
    with mde = (z_α + z_β)·√(s²_pooled·(1/nₐ+1/nᵦ)). The pooled
    within-arm variance is carried as ONE exact rational — numerator
    nᵦ(nₐQₐ−Sₐ²) + nₐ(nᵦQᵦ−Sᵦ²), denominator nₐnᵦ(nₐ+nᵦ−2), all
    decimal(38,0) integer moments — so the only IEEE ops are the final
    divide/sqrt/multiply chain, identical cross-engine (z constants
    embed as exact binary doubles). Scale: one shuffle to the per-user
    grain, one scalar aggregate; assignment is pure-codegen sha."""
    from .sampling import hash_bucket

    dec = "decimal(38,0)"
    users = (events.groupBy(F.col(user_col).alias("__u"))
             .agg(F.coalesce(F.sum(outcome_when), F.lit(0))
                  .cast("long").alias("__o")))
    arm_a = hash_bucket(F.col("__u"), buckets, salt) < buckets // 2
    o = F.col("__o").cast(dec)
    agg = users.agg(
        F.count(F.when(arm_a, 1)).cast("long").alias("__na"),
        F.count(F.when(~arm_a, 1)).cast("long").alias("__nb"),
        F.coalesce(F.sum(F.when(arm_a, o)), F.lit(0).cast(dec))
         .alias("__sa"),
        F.coalesce(F.sum(F.when(~arm_a, o)), F.lit(0).cast(dec))
         .alias("__sb"),
        F.coalesce(F.sum(F.when(arm_a, o * o)), F.lit(0).cast(dec))
         .alias("__qa"),
        F.coalesce(F.sum(F.when(~arm_a, o * o)), F.lit(0).cast(dec))
         .alias("__qb"))
    na, nb = F.col("__na").cast(dec), F.col("__nb").cast(dec)
    ssw_num = (nb * (na * F.col("__qa") - F.col("__sa") * F.col("__sa"))
               + na * (nb * F.col("__qb") - F.col("__sb") * F.col("__sb")))
    ssw_den = na * nb * (na + nb - 2)
    var_p = ssw_num.cast("double") / ssw_den.cast("double")
    inv = (F.lit(1.0) / F.col("__na").cast("double")
           + F.lit(1.0) / F.col("__nb").cast("double"))
    mde = F.lit(z_alpha + z_beta) * F.sqrt(var_p * inv)
    mean = ((F.col("__sa") + F.col("__sb")).cast("double")
            / (F.col("__na") + F.col("__nb")).cast("double"))
    ok = (F.col("__na") > 1) & (F.col("__nb") > 1)
    total_pos = (F.col("__sa") + F.col("__sb")) > 0
    return agg.select(
        F.col("__na").alias("n_a"), F.col("__nb").alias("n_b"),
        F.round(F.when(F.col("__na") + F.col("__nb") > 0, mean),
                round_dp).alias("mean_outcome"),
        F.round(F.when(ok, F.sqrt(var_p)), round_dp).alias("sd_pooled"),
        F.round(F.when(ok, mde), round_dp).alias("mde_abs"),
        F.round(F.when(ok & total_pos, mde / mean), round_dp)
         .alias("mde_rel"))


def grouped_ols(df: DataFrame, group_col: str, x_long, y_long,
                round_dp: int = 6) -> DataFrame:
    """EXT (round 6): per-group simple OLS y = a + b·x — slope,
    intercept, r² for EVERY group in one aggregation pass. The global
    two-predictor OLS (R211) fits one line for the whole table; pricing
    / elasticity / per-segment trend questions need the per-group
    version, and fitting it group-by-group driver-side is the
    anti-pattern this operator replaces.

    Same exactness discipline as R211/ANOVA: per group the five moments
    (n, Σx, Σy, Σx², Σxy, Σy²) are exact decimal(38,0) integers;
    sxx = nΣx²−(Σx)², sxy = nΣxy−ΣxΣy, syy = nΣy²−(Σy)² stay exact,
    and ONLY then do doubles enter: slope = sxy/sxx,
    intercept = ȳ − slope·x̄, r² = (sxy)²/(sxx·syy) with the squares
    taken AFTER the double cast — deliberately, so a 100-TB group's
    sxy² cannot overflow decimal(38,0); the cost is one rounding in
    the last ulp, identical cross-engine because the expression shape
    is fixed. Degenerate groups (constant x or y) report NULL.

    Scale: one map-side-combinable hash agg on the group key; output
    is group-count-sized."""
    dec = "decimal(38,0)"
    x, y = x_long.cast(dec), y_long.cast(dec)
    g = df.groupBy(F.col(group_col)).agg(
        F.count(F.lit(1)).cast(dec).alias("__n"),
        F.sum(x).alias("__sx"), F.sum(y).alias("__sy"),
        F.sum(x * x).alias("__sxx"), F.sum(x * y).alias("__sxy"),
        F.sum(y * y).alias("__syy"))
    n = F.col("__n")
    sxx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    sxy = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    syy = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    slope = sxy.cast("double") / sxx.cast("double")
    xbar = F.col("__sx").cast("double") / n.cast("double")
    ybar = F.col("__sy").cast("double") / n.cast("double")
    r2 = ((sxy.cast("double") * sxy.cast("double"))
          / (sxx.cast("double") * syy.cast("double")))
    return g.select(
        F.col(group_col),
        F.col("__n").cast("long").alias("n"),
        F.round(F.when(sxx != 0, slope), round_dp).alias("slope"),
        F.round(F.when(sxx != 0, ybar - slope * xbar), round_dp)
         .alias("intercept"),
        F.round(F.when((sxx != 0) & (syy != 0), r2), round_dp)
         .alias("r2"))


def ranking_metrics(df: DataFrame, query_col: str, item_col: str,
                    score_col, rel_pred, k: int = 10,
                    round_dp: int = 6) -> DataFrame:
    """EXT (round 6): offline ranking-quality report — MRR@k, MAP@k,
    NDCG@k, precision@k averaged over queries. `ann_recall_report`
    scores candidate RECALL against brute force; this scores ORDER
    quality against graded relevance — the offline eval gate for any
    retrieval change (BM25 weights, hybrid fusion, ANN probes).

    Per query, items rank by (score desc, item asc) — the corpus-wide
    deterministic tie rule. Binary relevance; queries with zero
    relevant items anywhere are counted (n_queries) but excluded from
    the averages (n_evaluable), per TREC convention. MAP divides by
    min(R, k); IDCG sums 1/log2(i+1) for i ≤ min(R, k) via a
    sequential array fold (deterministic order in both engines).

    Float discipline: per-query metrics are short (≤ k-term) in-order
    sums; each is QUANTIZED to integer millionths before the
    cross-query mean, so the global averages are one integer sum and
    one division — query count never degrades determinism.

    Scale: one per-query window (WindowGroupLimit prunes to top-k
    before the metric math), one relevance margin agg, one scalar
    rollup."""
    w = Window.partitionBy("__q").orderBy(F.col("__sc").desc(),
                                          F.col("__i").asc())
    base = df.select(F.col(query_col).alias("__q"),
                     F.col(item_col).alias("__i"),
                     score_col.alias("__sc"),
                     F.when(rel_pred, 1).otherwise(0).alias("__r"))
    rel_tot = (base.select(F.col("__q").alias("__qt"),
                           F.col("__r").alias("__rt"))
               .groupBy("__qt").agg(F.sum("__rt").cast("long")
                                    .alias("__R")))
    ranked = (base.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") <= k))
    wq = (Window.partitionBy("__q").orderBy("__rn")
          .rowsBetween(Window.unboundedPreceding, 0))
    scored = ranked.withColumn("__cum", F.sum("__r").over(wq))
    per_q = scored.groupBy("__q").agg(
        F.min(F.when(F.col("__r") == 1, F.col("__rn"))).alias("__fr"),
        F.sum(F.when(F.col("__r") == 1,
                     F.col("__cum").cast("double")
                     / F.col("__rn").cast("double"))
              .otherwise(F.lit(0.0))).alias("__apn"),
        F.sum(F.when(F.col("__r") == 1,
                     F.lit(1.0) / F.log2(F.col("__rn").cast("double")
                                         + F.lit(1.0)))
              .otherwise(F.lit(0.0))).alias("__dcg"),
        F.sum("__r").cast("long").alias("__relk"))
    j = per_q.join(rel_tot, per_q["__q"] == rel_tot["__qt"])
    m = F.least(F.col("__R"), F.lit(k))
    idcg = F.aggregate(
        F.sequence(F.lit(1), m.cast("int")), F.lit(0.0),
        lambda acc, i: acc + F.lit(1.0) / F.log2(i.cast("double")
                                                 + F.lit(1.0)))
    quant = lambda c: F.round(c * 1_000_000).cast("long")  # noqa: E731
    evaluable = F.col("__R") > 0
    qrow = j.select(
        evaluable.alias("__ok"),
        F.when(evaluable,
               quant(F.coalesce(F.lit(1.0)
                                / F.col("__fr").cast("double"),
                                F.lit(0.0)))).alias("__mrr"),
        F.when(evaluable, quant(F.col("__apn") / m.cast("double")))
         .alias("__map"),
        F.when(evaluable & (F.col("__dcg") > 0),
               quant(F.col("__dcg") / idcg))
         .otherwise(F.when(evaluable, F.lit(0))).alias("__ndcg"),
        F.when(evaluable,
               quant(F.col("__relk").cast("double") / F.lit(float(k))))
         .alias("__prec"))
    # Means stay boundary-free: integer-divide the micro-unit sums by
    # the query count (≤1 micro truncation), then ONE exact double
    # division by 10⁶ — no ROUND on a possibly-half-unit value, where
    # Spark (decimal shortest-repr HALF_UP) and DuckDB (binary) would
    # disagree.
    sums = qrow.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum(F.when(F.col("__ok"), 1).otherwise(0)).cast("long")
         .alias("n_evaluable"),
        F.sum("__mrr").cast("long").alias("__smrr"),
        F.sum("__map").cast("long").alias("__smap"),
        F.sum("__ndcg").cast("long").alias("__sndcg"),
        F.sum("__prec").cast("long").alias("__sprec"))
    mean = lambda c: (F.expr(f"{c} DIV n_evaluable").cast("double")  # noqa: E731
                      / F.lit(1_000_000.0))
    return sums.select(
        "n_queries", "n_evaluable",
        F.when(F.col("n_evaluable") > 0, mean("__smrr")).alias("mrr"),
        F.when(F.col("n_evaluable") > 0, mean("__smap")).alias("map"),
        F.when(F.col("n_evaluable") > 0, mean("__sndcg")).alias("ndcg"),
        F.when(F.col("n_evaluable") > 0, mean("__sprec"))
         .alias("precision"))


def event_study(events: DataFrame, user_col: str, ts_col: str,
                value_when, salt: str = "did", buckets: int = 10_000,
                n_lead: int = 7, n_lag: int = 7,
                round_dp: int = 6) -> DataFrame:
    """EXT (round 6): event-study (leads-and-lags) readout around the
    DiD treatment boundary — the pre-trend diagnostic R197's single
    2×2 cannot give: if treat−control gaps drift BEFORE the boundary,
    the parallel-trends assumption is dead and the DiD number is
    noise. Per relative day in [−n_lead, n_lag]: arm sizes, arm means,
    the gap, and the gap net of the day −1 baseline (the conventional
    normalization).

    Same deterministic scaffolding as R197: sha-bucket arms, the
    boundary at the data's midpoint day (integer), per-cell integer
    (count, cents-sum) moments, and every float a fixed-shape
    divide/subtract chain. The baseline joins back via a constant key
    LEFT join so a missing day −1 yields NULL effects, not an empty
    frame. Scale: one hash agg on (relative day, arm) after a
    map-side tag — day-window-sized output."""
    from .sampling import hash_bucket

    treated = hash_bucket(F.col(user_col), buckets, salt) < buckets // 2
    day = F.floor(F.unix_micros(F.col(ts_col)) / F.lit(86_400_000_000)) \
           .cast("long")
    base = events.select(treated.alias("__t"), day.alias("__d"),
                         value_when.cast("long").alias("__v")) \
                 .filter(F.col("__v").isNotNull())
    cut = F.broadcast(base.agg(
        ((F.min("__d") + F.max("__d") + 1) / 2).cast("long")
        .alias("__mid")))
    tagged = (base.crossJoin(cut)
              .select((F.col("__d") - F.col("__mid")).alias("rel_day"),
                      "__t", "__v")
              .filter((F.col("rel_day") >= -n_lead)
                      & (F.col("rel_day") <= n_lag)))
    agg = tagged.groupBy("rel_day").agg(
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).cast("long")
         .alias("n_treat"),
        F.sum(F.when(~F.col("__t"), 1).otherwise(0)).cast("long")
         .alias("n_ctrl"),
        F.coalesce(F.sum(F.when(F.col("__t"), F.col("__v"))), F.lit(0))
         .cast("long").alias("__st"),
        F.coalesce(F.sum(F.when(~F.col("__t"), F.col("__v"))), F.lit(0))
         .cast("long").alias("__sc"))
    mt = F.col("__st").cast("double") / F.col("n_treat").cast("double")
    mc = F.col("__sc").cast("double") / F.col("n_ctrl").cast("double")
    both = (F.col("n_treat") > 0) & (F.col("n_ctrl") > 0)
    gapped = agg.select(
        "rel_day", "n_treat", "n_ctrl",
        F.round(F.when(F.col("n_treat") > 0, mt), round_dp)
         .alias("mean_treat"),
        F.round(F.when(F.col("n_ctrl") > 0, mc), round_dp)
         .alias("mean_ctrl"),
        F.when(both, mt - mc).alias("__gap"))
    baseline = (gapped.filter(F.col("rel_day") == -1)
                .select(F.lit(1).alias("__k"),
                        F.col("__gap").alias("__gap0")))
    return (gapped.withColumn("__k", F.lit(1))
            .join(F.broadcast(baseline), "__k", "left")
            .select("rel_day", "n_treat", "n_ctrl", "mean_treat",
                    "mean_ctrl",
                    F.round(F.col("__gap"), round_dp).alias("gap"),
                    F.round(F.col("__gap") - F.col("__gap0"), round_dp)
                    .alias("effect_vs_baseline")))


def qini_uplift(events: DataFrame, user_col: str, ts_col: str,
                convert_pred, salt: str = "exp1",
                buckets: int = 10_000, n_bins: int = 10,
                round_dp: int = 6) -> DataFrame:
    """EXT (round 6): uplift deciles + Qini curve — the targeting
    readout on top of the experiment family: rank users by a
    pre-period activity score, and per score-decile report
    treated/control conversion (post-period) plus the per-bin uplift
    and the CUMULATIVE Qini value Ct_d − Cc_d·(Nt_d/Nc_d). A flat
    uplift profile says "treat everyone or no one"; a steep one is the
    campaign-targeting budget curve.

    Scoring is leakage-safe by construction: score = PRE-boundary
    event count, outcome = any POST-boundary conversion, boundary =
    the data's midpoint day (the R197/R257 integer cut). Decile
    assignment never uses a global row window: ranks come from the
    two-level device — a cumulative window over the DISTINCT-score
    histogram (histogram-sized) plus a per-score partitioned
    row_number with user-id ties — then decile = (rank−1)·n_bins DIV
    n + 1. Cells are exact integers; uplift/Qini are fixed-shape
    float chains over 10-row cumulative windows."""
    from .sampling import hash_bucket

    day = F.floor(F.unix_micros(F.col(ts_col)) / F.lit(86_400_000_000)) \
           .cast("long")
    base = events.select(F.col(user_col).alias("__u"),
                         day.alias("__d"),
                         F.when(convert_pred, 1).otherwise(0)
                         .alias("__cv"))
    cut = F.broadcast(base.agg(
        ((F.min("__d") + F.max("__d") + 1) / 2).cast("long")
        .alias("__mid")))
    per_user = (base.crossJoin(cut).groupBy("__u")
                .agg(F.sum(F.when(F.col("__d") < F.col("__mid"), 1)
                           .otherwise(0)).cast("long").alias("__s"),
                     F.max(F.when(F.col("__d") >= F.col("__mid"),
                                  F.col("__cv")).otherwise(0))
                     .cast("long").alias("__y")))
    hist = (per_user.select(F.col("__s").alias("__sv"))
            .groupBy("__sv").agg(F.count(F.lit(1)).alias("__c")))
    wh = (Window.orderBy(F.col("__sv").desc())
          .rowsBetween(Window.unboundedPreceding, -1))
    offs = hist.select("__sv",
                       F.coalesce(F.sum("__c").over(wh), F.lit(0))
                       .alias("__off"))
    n_tot = F.broadcast(per_user.agg(F.count(F.lit(1)).alias("__n")))
    ww = Window.partitionBy("__s").orderBy("__u")
    ranked = (per_user.withColumn("__wr", F.row_number().over(ww))
              .join(F.broadcast(offs), F.col("__s") == F.col("__sv"))
              .crossJoin(n_tot)
              .select("__u", "__y",
                      F.expr(f"(__off + __wr - 1) * {n_bins} "
                             "DIV __n + 1").alias("decile")))
    treated = hash_bucket(F.col("__u"), buckets, salt) < buckets // 2
    cells = ranked.groupBy("decile").agg(
        F.sum(F.when(treated, 1).otherwise(0)).cast("long")
         .alias("n_treat"),
        F.sum(F.when(~treated, 1).otherwise(0)).cast("long")
         .alias("n_ctrl"),
        F.sum(F.when(treated, F.col("__y")).otherwise(0)).cast("long")
         .alias("conv_treat"),
        F.sum(F.when(~treated, F.col("__y")).otherwise(0)).cast("long")
         .alias("conv_ctrl"))
    wd = (Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, 0))
    cum = cells.select(
        "decile", "n_treat", "n_ctrl", "conv_treat", "conv_ctrl",
        F.sum("n_treat").over(wd).alias("__cnt"),
        F.sum("n_ctrl").over(wd).alias("__cnc"),
        F.sum("conv_treat").over(wd).alias("__cct"),
        F.sum("conv_ctrl").over(wd).alias("__ccc"))
    up = (F.col("conv_treat").cast("double")
          / F.col("n_treat").cast("double")
          - F.col("conv_ctrl").cast("double")
          / F.col("n_ctrl").cast("double"))
    qini = (F.col("__cct").cast("double")
            - F.col("__ccc").cast("double")
            * (F.col("__cnt").cast("double")
               / F.col("__cnc").cast("double")))
    return cum.select(
        "decile", "n_treat", "n_ctrl", "conv_treat", "conv_ctrl",
        F.round(F.when((F.col("n_treat") > 0) & (F.col("n_ctrl") > 0),
                       up), round_dp).alias("uplift"),
        F.round(F.when(F.col("__cnc") > 0, qini), round_dp)
         .alias("qini"))


def abc_xyz(lineitem: DataFrame, part: DataFrame,
            round_dp: int = 6) -> DataFrame:
    """EXT (round 6): ABC-XYZ inventory segmentation — the classic
    two-axis matrix: ABC = cumulative revenue share class (A ≤ 80%,
    B ≤ 95%, C rest — R134's Pareto axis), XYZ = demand variability
    class from the coefficient of variation of WEEKLY demand on the
    dense week grid (X: cv < 0.5, Y: cv < 1, Z: rest). A-X items get
    tight replenishment, C-Z items get the cull list.

    Every class boundary is an EXACT INTEGER comparison: the ABC cut
    compares cum·100 vs total·{80,95}; the XYZ cut squares through the
    cv — cv < t ⟺ n·Q − S² < t²·S² with t² ∈ {1/4, 1}, i.e.
    4·(nQ−S²) < S² — so no engine can waver on a boundary. The
    reported cv itself is √(nQ−S²)/S, one sqrt + divide, ROUND-dp.
    Zero-demand weeks COUNT (dense grid): a brand selling once a
    quarter is Z, not X.

    Scale: one (brand, week) hash agg, the grid is brands×calendar,
    one brand-count-sized cumulative window."""
    dec = "decimal(38,0)"
    j = lineitem.join(part,
                      lineitem["l_partkey"] == part["p_partkey"])
    # wall-clock DATE, not epoch: l_shipdate reads as TIMESTAMP_NTZ
    # and an epoch conversion would drag the session timezone into
    # the week boundary — the date cast is tz-free in both engines
    wk = F.expr("unix_date(CAST(l_shipdate AS DATE)) DIV 7").cast("long")
    weekly = (j.select(F.col("p_brand").alias("__b"), wk.alias("__w"),
                       F.round(F.col("l_quantity")).cast("long")
                       .alias("__q"),
                       F.round(F.col("l_extendedprice") * 100)
                       .cast("long").alias("__r"))
              .groupBy("__b", "__w")
              .agg(F.sum("__q").alias("__qw"), F.sum("__r").alias("__rw")))
    anchor = F.broadcast(weekly.agg(F.min("__w").alias("__w0"),
                                    F.max("__w").alias("__w1")))
    grid = (weekly.select(F.col("__b").alias("__bg")).distinct()
            .crossJoin(anchor)
            .select("__bg", F.explode(
                F.sequence(F.col("__w0"), F.col("__w1"))).alias("__wg"))
            .join(weekly, (F.col("__b") == F.col("__bg"))
                  & (F.col("__w") == F.col("__wg")), "left")
            .select("__bg",
                    F.coalesce(F.col("__qw"), F.lit(0)).cast(dec)
                    .alias("__x"),
                    F.coalesce(F.col("__rw"), F.lit(0)).cast("long")
                    .alias("__rv")))
    per = grid.groupBy("__bg").agg(
        F.count(F.lit(1)).cast(dec).alias("__n"),
        F.sum("__x").alias("__S"),
        F.sum(F.col("__x") * F.col("__x")).alias("__Q"),
        F.sum("__rv").cast("long").alias("revenue_cents"))
    ssd = F.col("__n") * F.col("__Q") - F.col("__S") * F.col("__S")
    s2 = F.col("__S") * F.col("__S")
    xyz = (F.when(F.col("__S") == 0, F.lit("Z"))
           .when(ssd * 4 < s2, F.lit("X"))
           .when(ssd < s2, F.lit("Y"))
           .otherwise(F.lit("Z")))
    cv = F.when(F.col("__S") > 0,
                F.round(F.sqrt(ssd.cast("double")) /
                        F.col("__S").cast("double"), round_dp))
    wabc = (Window.orderBy(F.col("revenue_cents").desc(),
                           F.col("__bg").asc())
            .rowsBetween(Window.unboundedPreceding, 0))
    tot = F.broadcast(per.agg(F.sum("revenue_cents").cast(dec)
                              .alias("__tot")))
    cum = (per.withColumn("__cum",
                          F.sum("revenue_cents").over(wabc).cast(dec))
           .crossJoin(tot))
    abc = (F.when(F.col("__cum") * 100 <= F.col("__tot") * 80,
                  F.lit("A"))
           .when(F.col("__cum") * 100 <= F.col("__tot") * 95,
                 F.lit("B"))
           .otherwise(F.lit("C")))
    return cum.select(F.col("__bg").alias("p_brand"), "revenue_cents",
                      abc.alias("abc"), cv.alias("cv"),
                      xyz.alias("xyz"))


def funnel_within(events: DataFrame, steps: list[str], max_gap_s: int | None,
                  user_col: str = "user_id", ts_col: str = "ts",
                  type_col: str = "event_type") -> DataFrame:
    """EXT (round 6): TIME-BOUNDED conversion funnel — like
    `conversion_funnel` (greedy-earliest ladder) but each step must
    land within ``max_gap_s`` of the previous one, the form product
    funnels actually use ("checkout within 48h of add-to-cart", not
    "ever"). Per step: (step, stage, n_users, mean_gap_s) where the
    gap averages t_k − t_{k−1} over users who reached step k (exact
    integer sum, one division; NULL at stage 0).

    ``max_gap_s=None`` is the unbounded ladder (``conversion_funnel``).
    Per step one type-filtered pass over events joined to the frontier
    on user id; the bound is one extra predicate in the same join. Every
    frontier is materialized (the CC iteration device) with its user
    count and gap sum observed in the same job, so the next step's join
    reads the stored frame — the lineage pyramid that would re-scan
    events 1+2+…+n_steps times never forms — and it is released once
    the next one is stored. Greedy-earliest with a bound is NOT globally
    optimal (an early step-1 can time-out a step-2 a later step-1 would
    catch) — that's the documented product semantics, matched exactly
    by the oracle."""
    ev = events.select(F.col(user_col).alias("__u"),
                       F.col(type_col).alias("__t"),
                       F.unix_timestamp(F.col(ts_col)).alias("__s"))
    frontier, m = materialize(
        ev.filter(F.col("__t") == steps[0])
        .groupBy("__u").agg(F.min("__s").alias("__ft")), n=F.count(F.lit(1)))
    rows = [(steps[0], 0, m["n"], None)]
    for k, step in enumerate(steps[1:], start=1):
        prev = frontier.select(F.col("__u").alias("__pu"),
                               F.col("__ft").alias("__pt"))
        on = (F.col("__u") == F.col("__pu")) & (F.col("__s") > F.col("__pt"))
        if max_gap_s is not None:
            on &= F.col("__s") <= F.col("__pt") + max_gap_s
        nxt, m = materialize(
            ev.filter(F.col("__t") == step).join(prev, on)
            .groupBy("__u")
            .agg(F.min("__s").alias("__ft"), F.min("__pt").alias("__pt0")),
            n=F.count(F.lit(1)), gap=F.sum(F.col("__ft") - F.col("__pt0")))
        release(frontier)
        n = m["n"]
        # integer micro-units then exact divide (the R255 discipline) —
        # Python round() is banker's and would diverge from the oracle
        mean_gap = (m["gap"] * 1_000_000 // n) / 1_000_000.0 if n else None
        rows.append((step, k, n, mean_gap))
        frontier = nxt.select("__u", "__ft")
    release(frontier)
    # one literal plan: built and written, a 3-row createDataFrame
    # measured 0.39 s against 0.11 s for this (local[4], 4 vCPUs)
    cols = [("step", "string"), ("stage", "int"), ("n_users", "long"),
            ("mean_gap_s", "double")]
    return events.sparkSession.range(1).select(F.inline(F.array(*[
        F.struct(*[F.lit(v).cast(t).alias(c) for v, (c, t) in zip(r, cols)])
        for r in rows])))


def price_volume_bridge(lineitem: DataFrame, part: DataFrame,
                        round_dp: int = 6) -> DataFrame:
    """EXT (round 6): price-volume revenue bridge per brand — decompose
    each brand's revenue change between the data's two halves into
    volume effect (ΔQ·p₀) and price effect (Δp·Q₁), the waterfall
    behind every "why did revenue move" review. The identity
    volume + price = ΔR holds EXACTLY by construction (the classic
    two-factor bridge), which doubles as the built-in audit: the two
    float effects must sum to the integer delta.

    Periods split at the midpoint wall-clock day (tz-free DATE cast —
    the R260 lesson). Cells are exact integer (cents, quantity) sums;
    both effects are fixed-shape float chains over them; brands absent
    from a period report NULL effects (no ΔQ·p₀ without a p₀).

    Scale: one conditional-sum hash agg on brand over the join — the
    bridge is brand-count-sized."""
    j = lineitem.join(part, lineitem["l_partkey"] == part["p_partkey"])
    d = F.expr("unix_date(CAST(l_shipdate AS DATE))").cast("long")
    tagged = j.select(F.col("p_brand").alias("__b"), d.alias("__d"),
                      F.round(F.col("l_quantity")).cast("long")
                      .alias("__q"),
                      F.round(F.col("l_extendedprice") * 100)
                      .cast("long").alias("__r"))
    cut = F.broadcast(tagged.agg(
        ((F.min("__d") + F.max("__d") + 1) / 2).cast("long")
        .alias("__mid")))
    late = F.col("__d") >= F.col("__mid")
    per = (tagged.crossJoin(cut).groupBy("__b").agg(
        F.coalesce(F.sum(F.when(~late, F.col("__r"))), F.lit(0))
         .cast("long").alias("r0"),
        F.coalesce(F.sum(F.when(~late, F.col("__q"))), F.lit(0))
         .cast("long").alias("q0"),
        F.coalesce(F.sum(F.when(late, F.col("__r"))), F.lit(0))
         .cast("long").alias("r1"),
        F.coalesce(F.sum(F.when(late, F.col("__q"))), F.lit(0))
         .cast("long").alias("q1")))
    p0 = F.col("r0").cast("double") / F.col("q0").cast("double")
    p1 = F.col("r1").cast("double") / F.col("q1").cast("double")
    ok = (F.col("q0") > 0) & (F.col("q1") > 0)
    return per.select(
        F.col("__b").alias("p_brand"), "r0", "q0", "r1", "q1",
        (F.col("r1") - F.col("r0")).cast("long").alias("delta_cents"),
        F.round(F.when(ok, (F.col("q1") - F.col("q0")).cast("double")
                       * p0), round_dp).alias("volume_effect"),
        F.round(F.when(ok, (p1 - p0) * F.col("q1").cast("double")),
                round_dp).alias("price_effect"))


def discount_impact(lineitem: DataFrame, part: DataFrame,
                    round_dp: int = 6) -> DataFrame:
    """EXT (round 6): discount effectiveness per brand — gross vs net
    revenue, total discount given, the effective discount rate, and
    the share of discounted lines. The pricing-review table: a brand
    whose discount rate is high but whose share of discounted lines
    is low is being moved by a few deep cuts (renegotiate), not broad
    promotion.

    All cells are exact integer cents: gross = Σ round(extprice·100),
    discount = Σ round(extprice·discount·100) (per-line rounding — the
    auditable invoice-line convention), net = gross − discount.
    Rates are single divisions. One brand-sized hash agg.

    r12: the per-line cent is FLOOR(x·100 + 0.5), not ROUND —
    extprice·discount·100 is a 4-decimal product that lands EXACTLY on
    representable N.5 for thousands of rows, and engine ROUND(double)
    half-mode at those ties is version-dependent across DuckDB releases
    (the class that hash-failed grouping_sets_counts on the r11
    driver) while FLOOR/*/+ are pure IEEE ops every engine computes
    identically. Probed FLOOR(x+0.5) != ROUND(x) row-by-row at
    sf0.001/0.01/0.1/10: 0 divergent rows — values bit-identical."""
    j = lineitem.join(part, lineitem["l_partkey"] == part["p_partkey"])
    gross = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)) \
        .cast("long")
    disc = F.floor(F.col("l_extendedprice") * F.col("l_discount")
                   * 100 + F.lit(0.5)).cast("long")
    per = j.groupBy(F.col("p_brand")).agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.when(F.col("l_discount") > 0, 1).otherwise(0))
         .cast("long").alias("n_discounted"),
        F.sum(gross).cast("long").alias("gross_cents"),
        F.sum(disc).cast("long").alias("discount_cents"))
    return per.select(
        "p_brand", "n_lines", "n_discounted", "gross_cents",
        "discount_cents",
        (F.col("gross_cents") - F.col("discount_cents")).cast("long")
        .alias("net_cents"),
        F.round(F.when(F.col("gross_cents") > 0,
                       F.col("discount_cents").cast("double")
                       / F.col("gross_cents").cast("double")),
                round_dp).alias("discount_rate"),
        F.round(F.col("n_discounted").cast("double")
                / F.col("n_lines").cast("double"), round_dp)
        .alias("discounted_share"))


def customer360(customer: DataFrame, orders: DataFrame,
                lineitem: DataFrame, part: DataFrame, nation: DataFrame,
                round_dp: int = 6) -> DataFrame:
    """EXT (round 6): customer-360 snapshot — the denormalized wide
    row a CRM/feature-store export wants, one per customer: order
    count and date span, lifetime revenue (exact cents), average order
    value, and the top brand by spend (WindowGroupLimit argmax, brand
    ties alphabetical). The point is the SHAPE: four tables joined at
    three grains without ever fanning out the customer row — each
    grain pre-aggregates to customer level BEFORE the join, so a
    whale customer costs a bigger partial agg, not a row explosion.

    Customers with no orders keep their row (LEFT joins, zero counts,
    NULL dates/brand). Scale: three hash aggs + three left joins on
    the customer key; top-brand is one window over the (customer,
    brand) spend grid."""
    ocust = orders.groupBy(F.col("o_custkey").alias("__ck")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.min(F.col("o_orderdate").cast("date")).alias("first_order"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"))
    rev = (lineitem.join(orders,
                         lineitem["l_orderkey"] == orders["o_orderkey"])
           .groupBy(F.col("o_custkey").alias("__rk"))
           .agg(F.sum(F.round(F.col("l_extendedprice") * 100)
                      .cast("long")).cast("long")
                .alias("revenue_cents")))
    brand_spend = (lineitem
                   .join(orders, lineitem["l_orderkey"]
                         == orders["o_orderkey"])
                   .join(part, lineitem["l_partkey"] == part["p_partkey"])
                   .groupBy(F.col("o_custkey").alias("__bk"),
                            F.col("p_brand"))
                   .agg(F.sum(F.round(F.col("l_extendedprice") * 100)
                              .cast("long")).cast("long")
                        .alias("__spend")))
    wb = Window.partitionBy("__bk").orderBy(F.col("__spend").desc(),
                                            F.col("p_brand").asc())
    top_brand = (brand_spend.withColumn("__rn", F.row_number().over(wb))
                 .filter(F.col("__rn") == 1)
                 .select(F.col("__bk"), F.col("p_brand")
                         .alias("top_brand"),
                         F.col("__spend").alias("top_brand_cents")))
    out = (customer
           .join(nation, customer["c_nationkey"] == nation["n_nationkey"])
           .join(ocust, F.col("c_custkey") == F.col("__ck"), "left")
           .join(rev, F.col("c_custkey") == F.col("__rk"), "left")
           .join(top_brand, F.col("c_custkey") == F.col("__bk"), "left"))
    n_ord = F.coalesce(F.col("n_orders"), F.lit(0)).cast("long")
    revc = F.coalesce(F.col("revenue_cents"), F.lit(0)).cast("long")
    return out.select(
        "c_custkey", "c_name", "n_name",
        n_ord.alias("n_orders"), "first_order", "last_order",
        revc.alias("revenue_cents"),
        F.round(F.when(n_ord > 0, revc.cast("double")
                       / n_ord.cast("double")), round_dp)
        .alias("avg_order_cents"),
        "top_brand", "top_brand_cents")


#: markov_stationary collects the |states|² transition matrix to the
#: driver — bounded by contract to the event-type vocabulary. Above this
#: many matrix ROWS (≈256 dense states; a few MB framed) the driver path
#: is refused and the distributed join-iteration runs instead (guide §5:
#: the driver does no data work).
MARKOV_TM_ROW_CAP = 65536


def _round_half_up(x: float, dp: int) -> float:
    """ROUND-dp with exactly Spark's semantics: HALF_UP on the
    shortest-decimal representation (BigDecimal.valueOf ≡ Python repr).
    Python's built-in round() is half-even and diverges from the engine
    on representable dyadic ties (m/2^k landing exactly on .5×10⁻ᵈᵖ)."""
    from decimal import ROUND_HALF_UP, Decimal
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-dp),
                                           rounding=ROUND_HALF_UP))


def _markov_stationary_joins(events: DataFrame, tm: DataFrame,
                             type_col: str, n_iter: int,
                             round_dp: int) -> DataFrame:
    """Distributed fallback for transition tables above MARKOV_TM_ROW_CAP:
    the pre-r11 join-iteration (same fold, same ROUND points — values
    identical to the driver path; only the execution vehicle differs)."""
    tm, _ = materialize(tm.select(F.col("from_type").alias("__f"),
                                  F.col("to_type").alias("__to"),
                                  F.col("frac").alias("__p")))
    states, m = materialize(
        tm.select(F.col("__f").alias("state"))
        .unionByName(tm.select(F.col("__to").alias("state"))).distinct(),
        n=F.count(F.lit(1)))
    v = states.select("state",
                      F.round(F.lit(1.0 / m["n"]), round_dp).alias("__v"))
    for _ in range(n_iter):
        nxt = (v.join(tm, v["state"] == tm["__f"])
               .groupBy(F.col("__to").alias("__ns"))
               .agg(F.round(F.sum(F.col("__v") * F.col("__p")),
                            round_dp).alias("__nv")))
        v_next, _ = materialize(
            v.select("state").join(nxt, F.col("state") == nxt["__ns"], "left")
            .select("state", F.coalesce("__nv", F.lit(0.0)).alias("__v")))
        release(v)   # round 1 frees the state set behind v0
        v = v_next
    release(tm)
    emp = (events.groupBy(F.col(type_col).alias("__es"))
           .agg(F.count(F.lit(1)).alias("__c")))
    tot = F.broadcast(emp.agg(F.sum("__c").alias("__n")))
    return (v.join(emp, v["state"] == emp["__es"], "left")
            .crossJoin(tot)
            .select("state",
                    F.round(F.coalesce(F.col("__c"), F.lit(0))
                            .cast("double")
                            / F.col("__n").cast("double"), round_dp)
                    .alias("empirical_share"),
                    F.col("__v").alias("stationary_prob")))


def markov_stationary(events: DataFrame, user_col: str = "user_id",
                      ts_col: str = "ts", type_col: str = "event_type",
                      n_iter: int = 6, round_dp: int = 6) -> DataFrame:
    """EXT (round 6): stationary distribution of the first-order event
    chain — where user behavior settles if the observed transition
    matrix keeps running. Compared against the raw empirical share it
    answers "is the current mix transient or steady-state" (a state
    whose stationary mass far exceeds today's share is where sessions
    will pile up).

    Power iteration over the `transition_matrix` probabilities with
    the PageRank determinism kit: uniform init, FIXED iteration count,
    and per-iteration ROUND so parallel partial sums and the oracle's
    sequential replay agree bit-for-bit. States without outgoing
    transitions leak mass (documented, as in the simplified PageRank);
    the state domain is tiny, so each iteration is a grid-sized join +
    agg. Output per state: (state, empirical_share, stationary_prob).
    """
    # r11 (guide §5 / the markov_attribution precedent): the state
    # domain is the event-type VOCABULARY (grid-sized by contract), so
    # the |states|² matrix collects once and the fixed-count power
    # iteration runs in driver doubles — the former per-iteration
    # join + agg + localCheckpoint chain was ~3 driver-sync jobs per
    # iteration over ≤ grid-sized frames. The per-iteration ROUND
    # collapses summation-order ulps by design; driver-side rounding
    # must be HALF_UP on the shortest-decimal repr to match Spark's
    # BigDecimal ROUND exactly — Python's built-in round() is
    # half-EVEN and diverges on representable dyadic ties such as
    # 0.0078125 (r11 ADVICE) — hence _round_half_up below.
    tm = transition_matrix(events, user_col, ts_col, type_col) \
        .select("from_type", "to_type", "frac")
    # r12 hardening (guide §5): the collect is bounded today by the
    # event-type vocabulary, but nothing in the code enforced that.
    # Bound the driver transfer itself — LIMIT cap+1 rows — so a
    # high-cardinality type_col can never flood the driver; above the
    # cap, fall back to the distributed join-iteration (identical
    # values: same fold, same ROUND points). No extra job: the guard
    # rides the one collect the driver path already does.
    limited = tm.limit(MARKOV_TM_ROW_CAP + 1).collect()
    if len(limited) > MARKOV_TM_ROW_CAP:
        return _markov_stationary_joins(events, tm, type_col,
                                        n_iter, round_dp)
    tm_rows = [(r["from_type"], r["to_type"], float(r["frac"]))
               for r in limited]
    states_list = sorted({f for f, _, _ in tm_rows}
                         | {t for _, t, _ in tm_rows})
    n_states = len(states_list)
    vec = {s: _round_half_up(1.0 / n_states, round_dp)
           for s in states_list}
    for _ in range(n_iter):
        acc: dict = {}
        for f, t, p in sorted(tm_rows):
            acc[t] = acc.get(t, 0.0) + vec[f] * p
        vec = {s: (_round_half_up(acc[s], round_dp) if s in acc else 0.0)
               for s in states_list}
    spark = events.sparkSession
    v = spark.createDataFrame(
        [(s, float(vec[s])) for s in states_list],
        "state string, __v double")
    emp = (events.groupBy(F.col(type_col).alias("__es"))
           .agg(F.count(F.lit(1)).alias("__c")))
    tot = F.broadcast(emp.agg(F.sum("__c").alias("__n")))
    return (v.join(emp, v["state"] == emp["__es"], "left")
            .crossJoin(tot)
            .select("state",
                    F.round(F.coalesce(F.col("__c"), F.lit(0))
                            .cast("double")
                            / F.col("__n").cast("double"), round_dp)
                    .alias("empirical_share"),
                    F.col("__v").alias("stationary_prob")))


def order_aging(orders: DataFrame, round_dp: int = 6) -> DataFrame:
    """EXT (round 6): order-aging report — per order status, how old
    the book is: counts and value by age bucket (0–30 / 31–90 /
    91–365 / 365+ days), anchored on the DATA'S OWN max order date
    (the `freshness_report` convention — never wall-clock now(), which
    would make the result nondeterministic). The receivables /
    fulfillment-backlog table: an 'O' book skewing into 365+ is stuck
    inventory.

    Ages are integer day differences of wall-clock DATEs (tz-free);
    bucket cuts are integer compares; value is exact cents. One
    conditional hash agg on (status, bucket)."""
    d = F.expr("unix_date(CAST(o_orderdate AS DATE))").cast("long")
    anchor = F.broadcast(orders.agg(
        F.max(F.expr("unix_date(CAST(o_orderdate AS DATE))"))
        .cast("long").alias("__mx")))
    base = (orders.select(F.col("o_orderstatus").alias("status"),
                          d.alias("__d"),
                          F.round(F.col("o_totalprice") * 100)
                          .cast("long").alias("__v"))
            .crossJoin(anchor)
            .withColumn("__age", F.col("__mx") - F.col("__d")))
    bucket = (F.when(F.col("__age") <= 30, F.lit("000-030"))
              .when(F.col("__age") <= 90, F.lit("031-090"))
              .when(F.col("__age") <= 365, F.lit("091-365"))
              .otherwise(F.lit("365+")))
    per = (base.groupBy("status", bucket.alias("age_bucket"))
           .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.sum("__v").cast("long").alias("value_cents"),
                F.min("__age").cast("long").alias("min_age_days"),
                F.max("__age").cast("long").alias("max_age_days")))
    tot = F.broadcast(per.agg(F.sum("n_orders").alias("__tn")))
    return (per.crossJoin(tot)
            .select("status", "age_bucket", "n_orders", "value_cents",
                    "min_age_days", "max_age_days",
                    F.round(F.col("n_orders").cast("double")
                            / F.col("__tn").cast("double"), round_dp)
                    .alias("share")))


def group_quartiles(df: DataFrame, group_col: str, value_long,
                    out_prefix: str = "q") -> DataFrame:
    """EXT (round 6): EXACT per-group quartiles — q1/median/q3 (the
    k-th smallest at k = ⌈n·p⌉, the `_quantile_bounds` integer rule)
    for every group in one pass, plus n and the IQR. `exact_quantiles`
    answers the global question and R226 the two-arm one; this is the
    per-segment operating table (and the IQR feeds outlier fences).

    Zero floats: per-group value histogram, cumulative window over
    DISTINCT values only, quartile i = MIN(v | cum·4 ≥ n·i) — integer
    comparisons end to end. Scale: one hash agg to the (group, value)
    histogram, then ``window.order_stats`` (windows partitioned per
    group over its distinct values, one conditional-min rollup)."""
    base = df.select(F.col(group_col).alias("__g"),
                     value_long.cast("long").alias("__v"))
    hist = base.groupBy("__g", "__v").agg(F.count(F.lit(1)).alias("__c"))
    qs = order_stats(hist, ["__g"], __q1=(1, 4), __q2=(2, 4), __q3=(3, 4))
    return qs.select(
        F.col("__g").alias(group_col), F.col("__n").cast("long").alias("n"),
        *[F.col(f"__q{i}").cast("long").alias(f"{out_prefix}{i}")
          for i in (1, 2, 3)],
        (F.col("__q3") - F.col("__q1")).cast("long").alias("iqr"))


def slo_burn(events: DataFrame, value_long, threshold: int,
             type_col: str = "event_type", ts_col: str = "ts",
             round_dp: int = 6) -> DataFrame:
    """EXT (round 6): SLO burn report — per series, the share of days
    whose EXACT daily p95 of a latency proxy breached the objective,
    plus the worst day. The ops twin of the quantile family: SLOs are
    stated on percentiles per window, so the primitive is "exact p95
    per (series, day)", then a calendar-sized rollup.

    Daily p95 is the k-th smallest at ⌈n·0.95⌉ via the per-(series,
    day) value histogram (integer-only, the R268 device: cum·20 ≥
    n·19, ``window.order_stats``). Breach and worst-day selection are
    integer comparisons; the worst day is a struct-max (p95 desc, day
    asc on ties). Scale: one histogram agg, windows over per-day
    distinct values, a day-count rollup."""
    day = F.expr(f"unix_date(CAST({ts_col} AS DATE))").cast("long")
    base = events.select(F.col(type_col).alias("__g"),
                         day.alias("__d"),
                         value_long.cast("long").alias("__v"))
    hist = (base.groupBy("__g", "__d", "__v")
            .agg(F.count(F.lit(1)).alias("__c")))
    p95 = order_stats(hist, ["__g", "__d"], __p95=(19, 20)).select(
        "__g", "__d", F.col("__p95").cast("long"))
    worst = F.max(F.struct(F.col("__p95").alias("p"),
                           (-F.col("__d")).alias("nd")))
    per = p95.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.when(F.col("__p95") > threshold, 1).otherwise(0))
         .cast("long").alias("days_violating"),
        worst.alias("__w"))
    return per.select(
        F.col("__g").alias(type_col), "n_days", "days_violating",
        F.round(F.col("days_violating").cast("double")
                / F.col("n_days").cast("double"), round_dp)
        .alias("violation_rate"),
        (-F.col("__w.nd")).cast("long").alias("worst_day"),
        F.col("__w.p").alias("worst_p95"))


def share_of_parent(lineitem: DataFrame, orders: DataFrame,
                    customer: DataFrame, nation: DataFrame,
                    region: DataFrame, round_dp: int = 6) -> DataFrame:
    """EXT (round 6): hierarchical share-of-parent rollup — revenue by
    (region, nation) where every nation row carries its share of its
    REGION and every region row its share of the GRAND TOTAL. The
    standard drill-down readout ROLLUP alone doesn't give (ROLLUP
    emits the levels; the shares need the parent join back).

    Levels come from one ROLLUP pass (grouping_id distinguishes
    grain); parent totals re-join by key — region rows join the grand
    total, nation rows their region row. All revenue is exact cents;
    each share is one division. Scale: one rollup agg over the join,
    then grid-sized self-joins of the level table."""
    j = (lineitem
         .join(orders, lineitem["l_orderkey"] == orders["o_orderkey"])
         .join(customer, orders["o_custkey"] == customer["c_custkey"])
         .join(nation, customer["c_nationkey"] == nation["n_nationkey"])
         .join(region, nation["n_regionkey"] == region["r_regionkey"]))
    lv, _ = materialize(
        j.rollup("r_name", "n_name")
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100)
                   .cast("long")).cast("long").alias("rev"),
             F.grouping_id().alias("__gid")))
    grand = (lv.filter(F.col("__gid") == 3)
             .select(F.col("rev").alias("__g_rev")))
    regions = (lv.filter(F.col("__gid") == 1)
               .select(F.col("r_name").alias("__pr"),
                       F.col("rev").alias("__p_rev")))
    reg_rows = (lv.filter(F.col("__gid") == 1).crossJoin(
        F.broadcast(grand))
        .select(F.col("r_name"), F.lit(None).cast("string")
                .alias("n_name"), F.col("rev"),
                F.round(F.col("rev").cast("double")
                        / F.col("__g_rev").cast("double"), round_dp)
                .alias("share_of_parent")))
    nat_rows = (lv.filter(F.col("__gid") == 0)
                .join(F.broadcast(regions),
                      F.col("r_name") == F.col("__pr"))
                .select("r_name", "n_name", "rev",
                        F.round(F.col("rev").cast("double")
                                / F.col("__p_rev").cast("double"),
                                round_dp).alias("share_of_parent")))
    total_row = (grand.select(
        F.lit(None).cast("string").alias("r_name"),
        F.lit(None).cast("string").alias("n_name"),
        F.col("__g_rev").alias("rev"),
        F.lit(1.0).alias("share_of_parent")))
    return reg_rows.unionByName(nat_rows).unionByName(total_row)


def decay_score(events: DataFrame, user_col: str, ts_col: str,
                half_life_days: float = 7.0,
                round_dp: int = 6) -> DataFrame:
    """EXT (round 6): exponential time-decay engagement score per user
    — Σ 2^(−age_days / half_life), anchored on the data's own max
    timestamp (deterministic; never now()). THE standard recency-
    weighted activity feature: two users with 100 events each separate
    by WHEN those events happened. Also reports the raw count and the
    score/count ratio (recency mix: → 1 means all-recent, → 0 all-
    stale).

    Determinism: each event's decay term quantizes to integer
    MICRO-units (round(2^(−age/h)·10⁶)) before summation, so the
    per-user sum is an exact integer — a raw float Σ would accumulate
    in partition order. Ages are integer seconds; the exponent is one
    fixed-shape expression. Scale: map-side term computation, one
    hash agg on the user key."""
    sec = F.unix_timestamp(F.col(ts_col))
    anchor = F.broadcast(events.agg(
        F.max(F.unix_timestamp(F.col(ts_col))).alias("__mx")))
    age_days = (F.col("__mx") - sec).cast("double") / F.lit(86_400.0)
    term = F.round(F.pow(F.lit(2.0), -age_days / F.lit(half_life_days))
                   * 1_000_000).cast("long")
    per = (events.crossJoin(anchor)
           .select(F.col(user_col), term.alias("__t"))
           .groupBy(user_col)
           .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                F.sum("__t").cast("long").alias("__sm")))
    return per.select(
        user_col, "n_events",
        F.round(F.col("__sm").cast("double") / 1e6, round_dp)
        .alias("decay_score"),
        F.round(F.col("__sm").cast("double")
                / (F.col("n_events").cast("double") * 1e6), round_dp)
        .alias("recency_mix"))


def split_shipment_profile(lineitem: DataFrame,
                           round_dp: int = 6) -> DataFrame:
    """EXT (round 6): split-shipment profile — how fragmented order
    fulfillment is: per distinct-ship-date count, how many orders ship
    that way, their average line count and average first-to-last ship
    span. The logistics-cost readout (every extra ship date is a
    box+label); a drift toward higher splits flags inventory
    placement problems.

    Two integer hash aggs (order grain → split-count grain); averages
    are single divisions of exact integer sums; spans are wall-clock
    DATE day differences (tz-free, the R260 rule)."""
    d = F.expr("unix_date(CAST(l_shipdate AS DATE))").cast("long")
    per_order = (lineitem
                 .select(F.col("l_orderkey").alias("__o"),
                         d.alias("__d"))
                 .groupBy("__o")
                 .agg(F.count(F.lit(1)).cast("long").alias("__lines"),
                      F.countDistinct("__d").cast("long")
                      .alias("n_ship_dates"),
                      (F.max("__d") - F.min("__d")).cast("long")
                      .alias("__span")))
    return (per_order.groupBy("n_ship_dates")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.round(F.sum("__lines").cast("double")
                         / F.count(F.lit(1)).cast("double"), round_dp)
                 .alias("avg_lines"),
                 F.round(F.sum("__span").cast("double")
                         / F.count(F.lit(1)).cast("double"), round_dp)
                 .alias("avg_span_days")))


def event_streaks(events: DataFrame, user_col: str, ts_col: str,
                  type_col: str, order_col: str) -> DataFrame:
    """EXT (round 6): longest same-type streak per user — value-change
    gaps-and-islands (sessionize cuts on TIME gaps; this cuts on VALUE
    change): a new island starts when the type differs from the
    previous event's. Per user: (n_events, n_streaks, longest_len,
    longest_type) with ties on streak length broken by earliest
    island. The habit/rut signal (a 40-view streak reads very
    differently from 40 views interleaved with purchases).

    One per-user window for the change flags + running island id, an
    island-grain agg, then a struct-max argmax — the R251 discipline
    over a different island predicate."""
    w = Window.partitionBy("__u").orderBy("__ts", "__id")
    base = events.select(F.col(user_col).alias("__u"),
                         F.col(ts_col).alias("__ts"),
                         F.col(order_col).alias("__id"),
                         F.col(type_col).alias("__t"))
    flagged = base.select(
        "__u", "__ts", "__id", "__t",
        F.when(F.lag("__t").over(w).isNull()
               | (F.lag("__t").over(w) != F.col("__t")), 1)
         .otherwise(0).alias("__new"))
    isl = flagged.select(
        "__u", "__t", "__ts",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
         .alias("__isl"))
    per_isl = (isl.groupBy("__u", "__isl")
               .agg(F.count(F.lit(1)).cast("long").alias("__len"),
                    F.max("__t").alias("__tt"),
                    F.min("__ts").alias("__start")))
    best = F.max(F.struct(
        F.col("__len").alias("l"),
        (-F.unix_micros(F.col("__start"))).alias("ns"),
        F.col("__tt").alias("t")))
    return (per_isl.groupBy(F.col("__u").alias(user_col))
            .agg(F.sum("__len").cast("long").alias("n_events"),
                 F.count(F.lit(1)).cast("long").alias("n_streaks"),
                 best.alias("__b"))
            .select(user_col, "n_events", "n_streaks",
                    F.col("__b.l").cast("long").alias("longest_len"),
                    F.col("__b.t").alias("longest_type")))


def iqr_outlier_counts(df: DataFrame, group_col: str, value_long,
                       round_dp: int = 6) -> DataFrame:
    """EXT (round 6): Tukey-fence outlier counts per group — values
    outside [q1 − 1.5·IQR, q3 + 1.5·IQR] with the quartiles from the
    exact per-group device (R268). The z-score screen (R117) assumes
    rough normality; Tukey fences are the distribution-free default
    for skewed money-like columns.

    The 1.5 multiplier never touches a float: the fences compare as
    2·v < 2·q1 − 3·IQR (resp. >) — integers end to end. Two passes
    (quartile agg, then a broadcast-joined fence count); outputs
    (group, n, q1, q3, iqr, n_low, n_high, outlier_rate)."""
    base = df.select(F.col(group_col).alias("__g"),
                     value_long.cast("long").alias("__v"))
    quarts = group_quartiles(base, "__g", F.col("__v"))
    q = F.broadcast(quarts.select(F.col("__g").alias("__gq"),
                                  F.col("n"), F.col("q1"),
                                  F.col("q3"), F.col("iqr")))
    j = base.join(q, F.col("__g") == F.col("__gq"))
    low = 2 * F.col("__v") < 2 * F.col("q1") - 3 * F.col("iqr")
    high = 2 * F.col("__v") > 2 * F.col("q3") + 3 * F.col("iqr")
    per = (j.groupBy("__g")
           .agg(F.max("n").cast("long").alias("n"),
                F.max("q1").cast("long").alias("q1"),
                F.max("q3").cast("long").alias("q3"),
                F.max("iqr").cast("long").alias("iqr"),
                F.sum(F.when(low, 1).otherwise(0)).cast("long")
                 .alias("n_low"),
                F.sum(F.when(high, 1).otherwise(0)).cast("long")
                 .alias("n_high")))
    return per.select(
        F.col("__g").alias(group_col), "n", "q1", "q3", "iqr",
        "n_low", "n_high",
        F.round((F.col("n_low") + F.col("n_high")).cast("double")
                / F.col("n").cast("double"), round_dp)
        .alias("outlier_rate"))


def value_percentile_rank(df: DataFrame, key_col: str, value_long,
                          round_dp: int = 6) -> DataFrame:
    """EXT (round 6): exact percent-rank of every key by value —
    percent_rank = (#strictly smaller)/(n−1) — WITHOUT the global
    single-partition window `F.percent_rank()` forces (the
    WindowExec-on-one-partition trap the plan tests ban). The
    customer-scoring / percentile-pricing primitive at warehouse
    scale.

    Two-level device (R258's rank machinery): the count of strictly
    smaller rows is the value histogram's exclusive cumulative sum,
    a window over DISTINCT values only; each row then joins its
    offset by value. Ties share a percent_rank, matching the SQL
    definition. Output: (key, value, pct_rank)."""
    base = df.select(F.col(key_col), value_long.cast("long")
                     .alias("__v"))
    hist = (base.select(F.col("__v").alias("__hv"))
            .groupBy("__hv").agg(F.count(F.lit(1)).alias("__c")))
    wh = (Window.orderBy(F.col("__hv").asc())
          .rowsBetween(Window.unboundedPreceding, -1))
    offs = hist.select("__hv",
                       F.coalesce(F.sum("__c").over(wh), F.lit(0))
                       .alias("__off"))
    n = F.broadcast(base.agg(F.count(F.lit(1)).alias("__n")))
    return (base.join(F.broadcast(offs), F.col("__v") == F.col("__hv"))
            .crossJoin(n)
            .select(key_col, F.col("__v").alias("value"),
                    F.round(F.when(F.col("__n") > 1,
                                   F.col("__off").cast("double")
                                   / (F.col("__n") - 1).cast("double"))
                            .otherwise(F.lit(0.0)), round_dp)
                    .alias("pct_rank")))


def safety_stock(lineitem: DataFrame, part: DataFrame,
                 lead_weeks: int = 2,
                 z_service: float = 1.6448536269514722,
                 round_dp: int = 6) -> DataFrame:
    """EXT (round 6): safety-stock / reorder-point table per brand —
    the actionable number on top of R260's variability classes:
    ss = z·σ_weekly·√L and ROP = μ_weekly·L + ss at a 95% service
    level over a ``lead_weeks`` lead time (the classic normal-demand
    formula). Demand moments come from the DENSE week grid (zero
    weeks count — skipping them understates σ and the stock runs
    out); μ and σ stay exact rationals (population σ = √(nQ−S²)/n)
    until the final fixed-shape float chain; z embeds as an exact
    binary double."""
    dec = "decimal(38,0)"
    j = lineitem.join(part, lineitem["l_partkey"] == part["p_partkey"])
    wk = F.expr("unix_date(CAST(l_shipdate AS DATE)) DIV 7") \
          .cast("long")
    weekly = (j.select(F.col("p_brand").alias("__b"), wk.alias("__w"),
                       F.round(F.col("l_quantity")).cast("long")
                       .alias("__q"))
              .groupBy("__b", "__w").agg(F.sum("__q").alias("__qw")))
    anchor = F.broadcast(weekly.agg(F.min("__w").alias("__w0"),
                                    F.max("__w").alias("__w1")))
    grid = (weekly.select(F.col("__b").alias("__bg")).distinct()
            .crossJoin(anchor)
            .select("__bg", F.explode(
                F.sequence(F.col("__w0"), F.col("__w1"))).alias("__wg"))
            .join(weekly, (F.col("__b") == F.col("__bg"))
                  & (F.col("__w") == F.col("__wg")), "left")
            .select("__bg", F.coalesce(F.col("__qw"), F.lit(0))
                    .cast(dec).alias("__x")))
    per = grid.groupBy("__bg").agg(
        F.count(F.lit(1)).cast(dec).alias("__n"),
        F.sum("__x").alias("__S"),
        F.sum(F.col("__x") * F.col("__x")).alias("__Q"))
    nD = F.col("__n")
    mean = F.col("__S").cast("double") / nD.cast("double")
    sd = (F.sqrt((nD * F.col("__Q") - F.col("__S") * F.col("__S"))
                 .cast("double"))
          / nD.cast("double"))
    ss = F.lit(z_service) * sd * F.lit(float(lead_weeks) ** 0.5)
    return per.select(
        F.col("__bg").alias("p_brand"),
        F.col("__n").cast("long").alias("n_weeks"),
        F.round(mean, round_dp).alias("mean_weekly_qty"),
        F.round(sd, round_dp).alias("sd_weekly_qty"),
        F.round(ss, round_dp).alias("safety_stock"),
        F.round(mean * F.lit(float(lead_weeks)) + ss, round_dp)
        .alias("reorder_point"))


def churn_training_set(events: DataFrame, user_col: str, ts_col: str,
                       label_days: int = 14,
                       round_dp: int = 6) -> DataFrame:
    """EXT (round 6): churn-label training-set builder — the
    assemble-a-dataset op every retention model starts from, with the
    leakage rule made structural: the label window is the LAST
    ``label_days`` before the data's max day, features come ONLY from
    before it, and a user's label is churned ⟺ zero label-window
    events. Users with no pre-window activity are excluded (nothing
    to predict from).

    Per user: (n_pre_events, n_pre_purchases, pre_value_cents,
    days_since_last_pre, active_pre_days, churned). All features are
    integers off one conditional hash agg; the boundary is an integer
    day cut anchored on the data's own max (deterministic)."""
    day = F.expr(f"unix_date(CAST({ts_col} AS DATE))").cast("long")
    base = events.select(F.col(user_col).alias("__u"),
                         day.alias("__d"),
                         F.col("event_type").alias("__t"),
                         F.coalesce(F.round(F.col("value") * 100)
                                    .cast("long"), F.lit(0))
                         .alias("__v"))
    cut = F.broadcast(base.agg(
        (F.max("__d") - label_days + 1).alias("__cut"),
        F.max("__d").alias("__mx")))
    tagged = base.crossJoin(cut)
    pre = F.col("__d") < F.col("__cut")
    per = tagged.groupBy("__u").agg(
        F.sum(F.when(pre, 1).otherwise(0)).cast("long")
         .alias("n_pre_events"),
        F.sum(F.when(pre & (F.col("__t") == "purchase"), 1)
              .otherwise(0)).cast("long").alias("n_pre_purchases"),
        F.coalesce(F.sum(F.when(pre & (F.col("__t") == "purchase"),
                                F.col("__v"))), F.lit(0))
         .cast("long").alias("pre_value_cents"),
        F.max(F.when(pre, F.col("__d"))).alias("__last_pre"),
        F.countDistinct(F.when(pre, F.col("__d"))).cast("long")
         .alias("active_pre_days"),
        F.sum(F.when(~pre, 1).otherwise(0)).cast("long")
         .alias("__n_label"),
        F.max("__cut").alias("__c"))
    return (per.filter(F.col("n_pre_events") > 0)
            .select(F.col("__u").alias(user_col),
                    "n_pre_events", "n_pre_purchases",
                    "pre_value_cents",
                    (F.col("__c") - 1 - F.col("__last_pre"))
                    .cast("long").alias("days_since_last_pre"),
                    "active_pre_days",
                    (F.col("__n_label") == 0).alias("churned")))


def feature_hash(events: DataFrame, user_col: str, ts_col: str,
                 type_col: str, n_buckets: int = 8) -> DataFrame:
    """EXT (round 6): hashing-trick feature vector per user — counts
    of the (event_type × day-of-week) cross folded into ``n_buckets``
    sha buckets, emitted as fixed columns f0..f{n-1}. The
    unbounded-vocabulary answer: new event types appear in production
    without a schema change or a vocabulary table, at the price of
    collisions (documented, that IS the trick). Buckets use the
    corpus sha discipline (rerun/append-stable, engine-portable) —
    never a JVM hashCode.

    One conditional hash agg; day-of-week from the tz-free DATE."""
    from .sampling import hash_bucket

    dow = F.expr(f"dayofweek(CAST({ts_col} AS DATE))").cast("long")
    cross = F.concat(F.col(type_col), F.lit("#"),
                     dow.cast("string"))
    b = hash_bucket(cross, n_buckets)
    per = (events.select(F.col(user_col).alias("__u"),
                         b.alias("__b"))
           .groupBy("__u")
           .agg(*[F.sum(F.when(F.col("__b") == i, 1).otherwise(0))
                  .cast("long").alias(f"f{i}")
                  for i in range(n_buckets)]))
    return per.select(F.col("__u").alias(user_col),
                      *[f"f{i}" for i in range(n_buckets)])


def target_encoding(df: DataFrame, cat_col: str, target_pred,
                    smoothing: int = 100,
                    round_dp: int = 6) -> DataFrame:
    """EXT (round 6): smoothed target encoding table — per category,
    the target rate shrunk toward the global rate by a pseudo-count
    prior: enc = (k + m·p_global)/(n + m). The standard high-
    cardinality categorical encoder; the smoothing is what keeps a
    3-row category from memorizing its targets (the encoder's
    overfitting failure mode). Emit the table, join it to train —
    never fit-and-apply in one pass on the same rows.

    Exactness: k, n, K, N are integers; enc = (k·N + m·K)/(N·(n+m))
    — ONE division of exact decimal products. Output: (category, n,
    raw_rate, encoded)."""
    dec = "decimal(38,0)"
    base = df.select(F.col(cat_col).alias("__c"),
                     F.when(target_pred, 1).otherwise(0).alias("__y"))
    per = base.groupBy("__c").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__y").cast("long").alias("__k"))
    # __gn/__gk, NOT __N/__K: Spark resolves case-insensitively and
    # __N would collide with __n (the R256 lesson)
    glob = F.broadcast(per.agg(F.sum("__n").cast("long").alias("__gn"),
                               F.sum("__k").cast("long").alias("__gk")))
    j = per.crossJoin(glob)
    num = (F.col("__k").cast(dec) * F.col("__gn").cast(dec)
           + F.lit(smoothing) * F.col("__gk").cast(dec))
    den = (F.col("__gn").cast(dec)
           * (F.col("__n") + F.lit(smoothing)).cast(dec))
    return j.select(
        F.col("__c").alias(cat_col),
        F.col("__n").alias("n"),
        F.round(F.col("__k").cast("double")
                / F.col("__n").cast("double"), round_dp)
        .alias("raw_rate"),
        F.round(num.cast("double") / den.cast("double"), round_dp)
        .alias("encoded"))


def srm_check(events: DataFrame, user_col: str, salt: str = "exp1",
              buckets: int = 10_000, round_dp: int = 6) -> DataFrame:
    """EXT (round 6): sample-ratio-mismatch guardrail — the FIRST
    check on any experiment readout: if the realized arm split is
    improbably far from the designed 50/50, every downstream metric
    (R123/R197/R226/R250...) is untrustworthy, full stop. Chi-square
    with 1 df against the expected even split: χ² = (nₐ−nᵦ)²/(nₐ+nᵦ);
    flag at the 0.001 level (10.828) — SRM alarms are set strict
    because the failure mode is systemic, not noise.

    One per-user agg + a scalar; χ² is one float division of exact
    integers; the flag is an integer cross-multiplication compare
    ((nₐ−nᵦ)²·1000 vs 10828·(nₐ+nᵦ)) so the boundary can't waver."""
    from .sampling import hash_bucket

    users = events.select(F.col(user_col).alias("__u")).distinct()
    arm_a = hash_bucket(F.col("__u"), buckets, salt) < buckets // 2
    agg = users.agg(
        F.sum(F.when(arm_a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(~arm_a, 1).otherwise(0)).cast("long")
         .alias("n_b"))
    d = F.col("n_a") - F.col("n_b")
    tot = F.col("n_a") + F.col("n_b")
    return agg.select(
        "n_a", "n_b",
        F.round(F.when(tot > 0, d.cast("double") * d.cast("double")
                       / tot.cast("double")), round_dp)
        .alias("chi2"),
        F.when(tot > 0, d * d * 1000 > 10828 * tot)
         .otherwise(F.lit(False)).alias("srm_flag"))


def unit_price_drift(lineitem: DataFrame, threshold_pct: int = 10,
                     round_dp: int = 6) -> DataFrame:
    """EXT (round 6): unit-price drift detector per part — months
    whose effective unit price (Σcents / Σqty) moved more than
    ``threshold_pct``% against the previous observed month. The
    price-integrity screen behind the PVM bridge (R262): the bridge
    says revenue moved on price; this names the parts and months.

    The drift test NEVER divides: p₁/q₁ vs p₀/q₀ ± t% compares as
    100·p₁·q₀ vs (100±t)·p₀·q₁ — exact decimal cross-products, so a
    part sitting exactly on the threshold cannot flip between
    engines. The reported pct_change is one float division pair for
    humans. Per-part month series via lag window; output only the
    flagged (part, month) rows."""
    dec = "decimal(38,0)"
    mth = F.expr("unix_date(CAST(l_shipdate AS DATE)) DIV 30") \
           .cast("long")
    per = (lineitem.select(F.col("l_partkey").alias("__p"),
                           mth.alias("__m"),
                           F.round(F.col("l_extendedprice") * 100)
                           .cast("long").alias("__r"),
                           F.round(F.col("l_quantity")).cast("long")
                           .alias("__q"))
           .groupBy("__p", "__m")
           .agg(F.sum("__r").cast(dec).alias("__R"),
                F.sum("__q").cast(dec).alias("__Q")))
    w = Window.partitionBy("__p").orderBy("__m")
    lagged = per.select(
        "__p", "__m", "__R", "__Q",
        F.lag("__R").over(w).alias("__R0"),
        F.lag("__Q").over(w).alias("__Q0"),
        F.lag("__m").over(w).alias("__m0"))
    up = (F.lit(100) * F.col("__R") * F.col("__Q0")
          > F.lit(100 + threshold_pct) * F.col("__R0") * F.col("__Q"))
    down = (F.lit(100) * F.col("__R") * F.col("__Q0")
            < F.lit(100 - threshold_pct) * F.col("__R0")
            * F.col("__Q"))
    pct = ((F.col("__R").cast("double") / F.col("__Q").cast("double"))
           / (F.col("__R0").cast("double")
              / F.col("__Q0").cast("double")) - F.lit(1.0)) * 100
    return (lagged.filter(F.col("__R0").isNotNull()
                          & (F.col("__Q0") > 0) & (F.col("__Q") > 0)
                          & (up | down))
            .select(F.col("__p").alias("l_partkey"),
                    F.col("__m").alias("month_idx"),
                    F.col("__m0").alias("prev_month_idx"),
                    F.round(pct, round_dp).alias("pct_change"),
                    up.alias("is_increase")))


def median_ci(df: DataFrame, group_col: str, value_long,
              z: float = 1.959963984540054) -> DataFrame:
    """EXT (round 6): distribution-free median confidence interval —
    per group, the exact median plus the binomial order-statistic CI:
    the k-th smallest values at k = ⌊(n − z√n)/2⌋ and
    ⌈1 + (n + z√n)/2⌉ (clamped to [1, n]), the classic no-assumptions
    interval the bootstrap (R170-family) approximates by resampling.
    Pairs with `group_quartiles`: that gives the point shape, this
    says how sure you are of its center.

    The only float is z·√n — one fixed-shape expression per group
    whose floor/ceil agree cross-engine (same double in, same
    integer out); everything else is the integer histogram pick of
    ``window.order_stats``. Output: (group, n, median, ci_lo, ci_hi)."""
    base = df.select(F.col(group_col).alias("__g"),
                     value_long.cast("long").alias("__v"))
    hist = base.groupBy("__g", "__v").agg(F.count(F.lit(1))
                                          .alias("__c"))
    nD = F.col("__n").cast("double")
    k_lo = F.greatest(F.lit(1).cast("long"),
                      F.floor((nD - F.lit(z) * F.sqrt(nD)) / 2)
                      .cast("long"))
    k_hi = F.least(F.col("__n").cast("long"),
                   F.ceil(F.lit(1.0) + (nD + F.lit(z) * F.sqrt(nD))
                          / 2).cast("long"))
    cum = F.col("__cum")
    return order_stats(hist, ["__g"], median=(1, 2), ci_lo=cum >= k_lo,
                       ci_hi=cum >= k_hi).select(
        F.col("__g").alias(group_col), F.col("__n").cast("long").alias("n"),
        *[F.col(c).cast("long") for c in ("median", "ci_lo", "ci_hi")])


def oof_target_encoding(df: DataFrame, cat_col: str, key_col: str,
                        target_pred, n_folds: int = 5,
                        smoothing: int = 100, salt: str = "fold",
                        round_dp: int = 6) -> DataFrame:
    """EXT (round 6): OUT-OF-FOLD target encoding — R295's encoder
    with the training-time leakage guard: each sha fold's encoding is
    computed from the OTHER folds' statistics only, so a row never
    sees its own target. This is the difference between an encoder
    that validates honestly and one that leaks its way to a fake AUC;
    the plain table (R295) is for scoring-time use, this one joins to
    TRAIN.

    Exactness: per-(category, fold) integer cells subtract from the
    category totals (k−k_f, n−n_f), the global prior recomputes
    per-fold the same way, and each encoded value is ONE division of
    exact decimal products. Output: (category, fold, n_in_fold,
    encoded_oof). Folds come from the corpus sha discipline on
    ``key_col``."""
    from .sampling import hash_bucket

    dec = "decimal(38,0)"
    base = df.select(F.col(cat_col).alias("__c"),
                     (hash_bucket(F.col(key_col), 10_000, salt)
                      % n_folds).alias("__f"),
                     F.when(target_pred, 1).otherwise(0).alias("__y"))
    cf = base.groupBy("__c", "__f").agg(
        F.count(F.lit(1)).cast("long").alias("__nf"),
        F.sum("__y").cast("long").alias("__kf"))
    ct = (cf.select(F.col("__c").alias("__ct"), "__nf", "__kf")
          .groupBy("__ct").agg(F.sum("__nf").cast("long").alias("__nc"),
                               F.sum("__kf").cast("long").alias("__kc")))
    gl = F.broadcast(ct.agg(F.sum("__nc").cast("long").alias("__gn"),
                            F.sum("__kc").cast("long").alias("__gk")))
    j = (cf.join(F.broadcast(ct), F.col("__c") == F.col("__ct"))
         .crossJoin(gl))
    n_oof = (F.col("__nc") - F.col("__nf")).cast(dec)
    k_oof = (F.col("__kc") - F.col("__kf")).cast(dec)
    gn_oof = (F.col("__gn") - F.col("__nf")).cast(dec)
    gk_oof = (F.col("__gk") - F.col("__kf")).cast(dec)
    num = k_oof * gn_oof + F.lit(smoothing) * gk_oof
    den = gn_oof * (n_oof + F.lit(smoothing))
    return j.select(
        F.col("__c").alias(cat_col),
        F.col("__f").cast("long").alias("fold"),
        F.col("__nf").alias("n_in_fold"),
        F.round(F.when(den != 0, num.cast("double")
                       / den.cast("double")), round_dp)
         .alias("encoded_oof"))


def count_dispersion(df: DataFrame, key_col: str,
                     round_dp: int = 6) -> DataFrame:
    """EXT (round 6): count-dispersion diagnostic — the variance/mean
    index of per-key event counts (lines per order, events per user):
    ≈1 is Poisson, >1 overdispersed (bursts/heavy users — negative-
    binomial territory), <1 underdispersed (rate-limited/quota'd).
    The one-number check before ANY count model or anomaly threshold
    assumes Poisson.

    ONE row: (n_keys, mean, variance, dispersion, overdispersed) —
    moments exact decimal from the per-key count histogram, the flag
    an integer cross-multiplication at 1.5 (3·(nQ−S²)·? — boundary
    integerized as 2·n·(nQ−S²) vs 3·S·(n·S) ⟺ var/mean > 1.5 with
    population variance (nQ−S²)/n²)."""
    dec = "decimal(38,0)"
    per = df.groupBy(F.col(key_col)).agg(
        F.count(F.lit(1)).cast(dec).alias("__c"))
    agg = per.agg(F.count(F.lit(1)).cast(dec).alias("__n"),
                  F.sum("__c").alias("__S"),
                  F.sum(F.col("__c") * F.col("__c")).alias("__Q"))
    n, S, Q = F.col("__n"), F.col("__S"), F.col("__Q")
    ssd = n * Q - S * S
    mean = S.cast("double") / n.cast("double")
    var = ssd.cast("double") / (n.cast("double") * n.cast("double"))
    # var/mean > 1.5  ⟺  (nQ−S²)/n² > 1.5·S/n  ⟺  2·(nQ−S²) > 3·n·S
    over = ssd * 2 > n * S * 3
    return agg.select(
        n.cast("long").alias("n_keys"),
        F.round(mean, round_dp).alias("mean"),
        F.round(var, round_dp).alias("variance"),
        F.round(F.when(S > 0, var / mean), round_dp)
         .alias("dispersion"),
        over.alias("overdispersed"))


def time_decay_attribution(events: DataFrame, user_col: str,
                           ts_col: str, type_col: str, id_col: str,
                           convert_type: str = "purchase",
                           lookback_s: int = 259_200,
                           half_life_s: int = 86_400,
                           round_dp: int = 6) -> DataFrame:
    """EXT (round 6): time-decay multi-touch attribution — each
    conversion splits one unit of credit over the user's touchpoints
    in the lookback window, weighted 2^(−Δt/half-life) and normalized
    PER CONVERSION. Completes the attribution rail: last-touch/
    rule-based (R110), Markov removal (R232), Shapley (R234) — this
    is the industry-default recency-weighted middle ground.

    Determinism: weights quantize to integer micro-units; the
    per-conversion normalization is an integer DIV (non-negative by
    construction), so channel totals are exact integer sums — floor
    losses make a conversion's credit sum ≤ 1, never >, documented.
    Scale: a per-user horizon-bounded range join (the R274 shape) +
    two hash aggs."""
    conv = events.filter(F.col(type_col) == convert_type).select(
        F.col(user_col).alias("__cu"),
        F.col(id_col).alias("__cid"),
        F.unix_timestamp(F.col(ts_col)).alias("__ct"))
    touch = events.filter(F.col(type_col) != convert_type).select(
        F.col(user_col).alias("__tu"),
        F.col(type_col).alias("__ch"),
        F.unix_timestamp(F.col(ts_col)).alias("__tt"))
    dt = F.col("__ct") - F.col("__tt")
    w = F.round(F.pow(F.lit(2.0),
                      -dt.cast("double") / F.lit(float(half_life_s)))
                * 1_000_000).cast("long")
    pairs = (conv.join(touch, (F.col("__cu") == F.col("__tu"))
                       & (dt > 0) & (dt <= lookback_s))
             .select("__cid", "__ch", w.alias("__w")))
    sums = (pairs.select(F.col("__cid").alias("__sc"),
                         F.col("__w").alias("__sw0"))
            .groupBy("__sc").agg(F.sum("__sw0").alias("__sw")))
    credited = (pairs.join(F.broadcast(sums),
                           F.col("__cid") == F.col("__sc"))
                .select("__ch",
                        F.expr("__w * 1000000 DIV __sw")
                        .alias("__cm")))
    return (credited.groupBy(F.col("__ch").alias("channel"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_touches"),
                 F.round(F.sum("__cm").cast("double") / 1e6,
                         round_dp).alias("credit")))


def growth_accounting(events: DataFrame, user_col: str, ts_col: str,
                      round_dp: int = 6) -> DataFrame:
    """EXT (round 6): weekly growth-accounting matrix — the full
    four-state ledger (new / retained / resurrected / churned) plus
    the quick ratio (new+resurrected)/churned. `user_growth_weekly`
    (R113) splits new vs returning; this is the complete version
    investors and growth teams actually read: churn is attributed to
    the week AFTER last activity (active w−1, absent w), resurrection
    means a gap of ≥1 week. Identity audit built in:
    n_active = new + retained + resurrected every week.

    Weeks are tz-free epoch weeks; states come from one distinct
    (user, week) frame self-joined on week+1 (prev-active flag) plus
    a first-week min — no per-user ordered window over full history.
    Churned_w = active(w−1) − retained(w), via a week-shifted join,
    NULL for the first observed week."""
    wk = F.expr(f"unix_date(CAST({ts_col} AS DATE))").cast("long") / 7
    uw, _ = materialize(
        events.select(F.col(user_col).alias("__u"),
                      F.floor(wk).cast("long").alias("__w"))
        .distinct())
    firsts = (uw.select(F.col("__u").alias("__fu"), F.col("__w")
                        .alias("__fw"))
              .groupBy("__fu").agg(F.min("__fw").alias("__first")))
    prev = uw.select(F.col("__u").alias("__pu"),
                     (F.col("__w") + 1).alias("__pw"))
    tagged = (uw.join(prev, (F.col("__u") == F.col("__pu"))
                      & (F.col("__w") == F.col("__pw")), "left")
              .join(F.broadcast(firsts),
                    F.col("__u") == F.col("__fu"))
              .select("__u", "__w",
                      F.col("__pu").isNotNull().alias("__ret"),
                      (F.col("__w") == F.col("__first"))
                      .alias("__new")))
    per = tagged.groupBy(F.col("__w").alias("week")).agg(
        F.count(F.lit(1)).cast("long").alias("n_active"),
        F.sum(F.when(F.col("__new"), 1).otherwise(0)).cast("long")
         .alias("n_new"),
        F.sum(F.when(F.col("__ret"), 1).otherwise(0)).cast("long")
         .alias("n_retained"),
        F.sum(F.when(~F.col("__new") & ~F.col("__ret"), 1)
              .otherwise(0)).cast("long").alias("n_resurrected"))
    shifted = per.select((F.col("week") + 1).alias("__sw"),
                         F.col("n_active").alias("__prev_active"))
    out = (per.join(shifted, F.col("week") == F.col("__sw"), "left")
           .withColumn("n_churned",
                       (F.col("__prev_active")
                        - F.col("n_retained")).cast("long")))
    qr = F.when(F.col("n_churned") > 0,
                (F.col("n_new") + F.col("n_resurrected"))
                .cast("double") / F.col("n_churned").cast("double"))
    return out.select("week", "n_active", "n_new", "n_retained",
                      "n_resurrected", "n_churned",
                      F.round(qr, round_dp).alias("quick_ratio"))


def assortment_coverage(part: DataFrame, round_dp: int = 6) -> DataFrame:
    """EXT (round 6): assortment-grid coverage per brand — how much of
    the catalog's (size × type-class) grid each brand actually fills.
    The merchandising gap report: a brand at 40% coverage either has
    holes to fill or SKUs to prune depending on its revenue rank
    (join R134/R260 for that call). Type-class = the first word of
    p_type (the TPC-H convention for its 'STANDARD ANODIZED ...'
    strings).

    Exact integers: global distinct sizes S and classes C define the
    grid; per brand, coverage = distinct (size, class) combos /
    (S·C). One distinct agg + one brand rollup + a broadcast scalar."""
    cls = F.split(F.col("p_type"), " ").getItem(0)
    base = part.select(F.col("p_brand").alias("__b"),
                       F.col("p_size").alias("__s"),
                       cls.alias("__c"))
    grid = F.broadcast(base.agg(
        F.countDistinct("__s").alias("__ns"),
        F.countDistinct("__c").alias("__nc")))
    per = (base.distinct()
           .groupBy("__b")
           .agg(F.count(F.lit(1)).cast("long").alias("n_combos"),
                F.countDistinct("__s").cast("long").alias("n_sizes"),
                F.countDistinct("__c").cast("long").alias("n_classes")))
    return (per.crossJoin(grid)
            .select(F.col("__b").alias("p_brand"), "n_combos",
                    "n_sizes", "n_classes",
                    F.round(F.col("n_combos").cast("double")
                            / (F.col("__ns") * F.col("__nc"))
                            .cast("double"), round_dp)
                    .alias("grid_coverage")))


def variety_score(events: DataFrame, user_col: str, ts_col: str,
                  type_col: str, order_col: str,
                  k: int = 10) -> DataFrame:
    """EXT (round 6): rolling behavioral variety — for every event,
    the count of DISTINCT event types in the user's trailing ``k``
    events. The explore-vs-rut signal per event (streaks R283 find
    the longest rut; this scores variety continuously) and a bot
    tell: scripted traffic holds variety 1-2 for thousands of events.

    Distinct-over-rows-window isn't a native aggregate; the device is
    collect_list over the ROWS frame → array_distinct → size —
    bounded by k per row, so state stays tiny. Total order
    (ts, order id) makes the frame engine-stable."""
    w = (Window.partitionBy("__u").orderBy("__ts", "__id")
         .rowsBetween(-(k - 1), 0))
    base = events.select(F.col(user_col).alias("__u"),
                         F.col(ts_col).alias("__ts"),
                         F.col(order_col).alias("__id"),
                         F.col(type_col).alias("__t"))
    return (base.select(
        F.col("__u").alias(user_col),
        F.col("__id").alias(order_col),
        F.size(F.array_distinct(F.collect_list("__t").over(w)))
         .cast("long").alias("variety"),
        F.least(F.count(F.lit(1)).over(w), F.lit(k).cast("long"))
         .cast("long").alias("window_n")))


def wow_contribution(orders: DataFrame, customer: DataFrame,
                     round_dp: int = 6) -> DataFrame:
    """EXT (round 6): week-over-week growth DECOMPOSITION by segment —
    each segment's contribution to the total WoW move:
    contribution_s = (rev₁ₛ − rev₀ₛ)/rev₀_total, which sums EXACTLY to
    the total growth rate (the additive identity that makes this the
    FP&A answer to "what drove the -3%?" — R77's global WoW can't
    say). Weeks are the last two observed epoch weeks (tz-free).

    Exact cents cells; contributions single divisions over the shared
    denominator so the identity holds to the last rounding."""
    wk = F.expr("unix_date(CAST(o_orderdate AS DATE)) DIV 7") \
          .cast("long")
    j = orders.join(customer,
                    orders["o_custkey"] == customer["c_custkey"])
    base = j.select(F.col("c_mktsegment").alias("__s"),
                    wk.alias("__w"),
                    F.round(F.col("o_totalprice") * 100).cast("long")
                    .alias("__v"))
    mx = F.broadcast(base.agg(F.max("__w").alias("__mx")))
    two = (base.crossJoin(mx)
           .filter(F.col("__w") >= F.col("__mx") - 1))
    per = two.groupBy("__s").agg(
        F.coalesce(F.sum(F.when(F.col("__w") == F.col("__mx") - 1,
                                F.col("__v"))), F.lit(0))
         .cast("long").alias("rev0_cents"),
        F.coalesce(F.sum(F.when(F.col("__w") == F.col("__mx"),
                                F.col("__v"))), F.lit(0))
         .cast("long").alias("rev1_cents"))
    tot = F.broadcast(per.agg(F.sum("rev0_cents").cast("long")
                              .alias("__t0")))
    return (per.crossJoin(tot)
            .select(F.col("__s").alias("c_mktsegment"),
                    "rev0_cents", "rev1_cents",
                    (F.col("rev1_cents") - F.col("rev0_cents"))
                    .cast("long").alias("delta_cents"),
                    F.round(F.when(F.col("__t0") > 0,
                                   (F.col("rev1_cents")
                                    - F.col("rev0_cents"))
                                   .cast("double")
                                   / F.col("__t0").cast("double")),
                            round_dp).alias("contribution")))


def payday_lift(orders: DataFrame, paydays: tuple = (1, 15),
                round_dp: int = 6) -> DataFrame:
    """EXT (round 6): payday-lift report — mean order count and value
    on payday calendar days (1st/15th by default) vs all other days,
    and the lift ratios. The staffing/promo-timing readout; also a
    data-bug tell (a huge '1st' spike can be month-bucketed upstream
    timestamps, not shoppers).

    Per-day means are single divisions of exact integer sums over
    exact day counts (distinct calendar days per bucket — absent days
    don't deflate the comparison). ONE row."""
    dom = F.expr("day(CAST(o_orderdate AS DATE))").cast("int")
    d = F.expr("unix_date(CAST(o_orderdate AS DATE))").cast("long")
    base = orders.select(
        dom.isin(*[int(p) for p in paydays]).alias("__pay"),
        d.alias("__d"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("__v"))
    agg = base.agg(
        F.countDistinct(F.when(F.col("__pay"), F.col("__d")))
         .cast("long").alias("__pd"),
        F.countDistinct(F.when(~F.col("__pay"), F.col("__d")))
         .cast("long").alias("__od"),
        F.sum(F.when(F.col("__pay"), 1).otherwise(0)).cast("long")
         .alias("__pn"),
        F.sum(F.when(~F.col("__pay"), 1).otherwise(0)).cast("long")
         .alias("__on"),
        F.coalesce(F.sum(F.when(F.col("__pay"), F.col("__v"))),
                   F.lit(0)).cast("long").alias("__pv"),
        F.coalesce(F.sum(F.when(~F.col("__pay"), F.col("__v"))),
                   F.lit(0)).cast("long").alias("__ov"))
    pn_rate = F.col("__pn").cast("double") / F.col("__pd").cast("double")
    on_rate = F.col("__on").cast("double") / F.col("__od").cast("double")
    pv_rate = F.col("__pv").cast("double") / F.col("__pd").cast("double")
    ov_rate = F.col("__ov").cast("double") / F.col("__od").cast("double")
    ok = (F.col("__pd") > 0) & (F.col("__od") > 0)
    return agg.select(
        F.col("__pd").alias("payday_days"),
        F.col("__od").alias("other_days"),
        F.round(F.when(ok, pn_rate), round_dp)
         .alias("orders_per_payday"),
        F.round(F.when(ok, on_rate), round_dp)
         .alias("orders_per_other_day"),
        F.round(F.when(ok & (F.col("__on") > 0), pn_rate / on_rate),
                round_dp).alias("count_lift"),
        F.round(F.when(ok & (F.col("__ov") > 0), pv_rate / ov_rate),
                round_dp).alias("value_lift"))
