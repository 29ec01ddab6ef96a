"""Temporal joins (SURVEY §2.3 J7 EXT): as-of, range/interval joins.

The reference never joins on time (its only temporal logic is a DATE column
and CURRENT_TIMESTAMP defaults); these are the mandated generalizations for
the ``events`` stream table. Neither exists as a single Spark primitive —
both are compositions chosen for their shuffle behavior at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import materialize


def asof_join(left: DataFrame, right: DataFrame, ts_col: str,
              partition_cols: list[str], right_cols: list[str],
              suffix: str = "_asof") -> DataFrame:
    """As-of (backward) join: for each left row, the latest right row with
    ``right.ts <= left.ts`` within the same partition key.

    Implementation: tag + union + window carry-forward — NOT a sort-merge
    band join. Both inputs shuffle ONCE on ``partition_cols``; within each
    partition a single ordered pass carries the last right values forward
    (``last(ignorenulls)`` over an unbounded-preceding ROWS frame). At equal
    timestamps right rows sort before left rows, giving inclusive (>=)
    semantics — DuckDB/pandas ``ASOF JOIN`` parity.

    Scale: state is one row of carried values per partition — no band
    buffering, no skew amplification beyond the partition key's own skew.
    A keyless as-of (empty ``partition_cols``) degenerates to a single
    partition: repartition by a time-bucket first if you need that shape.

    Row integrity: ALL right columns are carried as ONE struct with a single
    ``last(ignorenulls)`` — the matched as-of row's values arrive together
    even when some of its fields are NULL. Carrying columns independently
    would let an older right row's non-null value leak into a newer row's
    NULL field ("torn" output spanning two right rows).
    """
    from pyspark.sql import types as T

    lcols = left.columns
    rschema = {f.name: f.dataType for f in right.schema.fields}
    carry_type = T.StructType(
        [T.StructField(c, rschema[c], True) for c in right_cols])
    l = left.withColumn("__side", F.lit(1)) \
            .withColumn("__carry", F.lit(None).cast(carry_type))
    r = right.select(
        *partition_cols, F.col(ts_col),
        F.struct(*[F.col(c) for c in right_cols]).alias("__carry")) \
        .withColumn("__side", F.lit(0))
    for c in lcols:
        if c not in (*partition_cols, ts_col):
            r = r.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    combined = l.unionByName(r)
    w = (Window.partitionBy(*partition_cols)
         .orderBy(F.asc(ts_col), F.asc("__side"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = combined.withColumn(
        "__carry", F.last("__carry", ignorenulls=True).over(w))
    return carried.filter(F.col("__side") == 1) \
                  .select(*lcols, *[F.col(f"__carry.{c}").alias(f"{c}{suffix}")
                                    for c in right_cols])


def range_join_broadcast(facts: DataFrame, ranges: DataFrame,
                         value_col: str, lo_col: str = "lo",
                         hi_col: str = "hi") -> DataFrame:
    """Range join against a SMALL interval dimension (tier tables, SLA
    bands, calendar buckets): broadcast nested-loop — each fact row probes
    the in-memory interval list, zero shuffle.

    For big-big interval joins do NOT use this: bucket both sides by
    ``floor(value/width)``, explode intervals across the buckets they span,
    then equi-join on bucket + residual range filter (turns O(n·m) into a
    hash join; see ``range_join_bucketed``).
    """
    cond = (F.col(value_col) >= ranges[lo_col]) & (F.col(value_col) < ranges[hi_col])
    return facts.join(F.broadcast(ranges), cond, "inner")


def range_join_bucketed(facts: DataFrame, ranges: DataFrame, value_col: str,
                        bucket_width: int, lo_col: str = "lo",
                        hi_col: str = "hi") -> DataFrame:
    """Big-big range join: equi-join on coarse buckets + residual filter.

    Intervals explode across every bucket they overlap (sequence/explode in
    codegen); facts land in exactly one bucket; the join is then a plain
    shuffle-hash join on the bucket id. Choose ``bucket_width`` ≈ median
    interval width: too small explodes intervals, too large fans out probes.
    """
    fb = facts.withColumn("__bucket", F.floor(F.col(value_col) / bucket_width))
    rb = ranges.withColumn(
        "__bucket",
        F.explode(F.sequence(F.floor(F.col(lo_col) / bucket_width),
                             F.floor((F.col(hi_col) - 1) / bucket_width))))
    cond = (F.col(value_col) >= rb[lo_col]) & (F.col(value_col) < rb[hi_col])
    return fb.join(rb, ["__bucket"], "inner").filter(cond).drop("__bucket")


def resample_locf(df: DataFrame, ts_col: str, key_cols: list[str],
                  value_col: str, every_seconds: int = 3600,
                  round_dp: int = 2) -> DataFrame:
    """Hypertable-style resample: bucket events into fixed intervals per
    key, fill EMPTY buckets between each key's first and last observation,
    and carry the last observed aggregate forward (LOCF — the standard
    gap-fill for sensor/metric series).

    Output per (key, bucket): ``bucket_start`` (epoch seconds), ``n``
    (observed rows, 0 for gap buckets), ``v`` (per-bucket mean of
    ``value_col``), ``v_filled`` (LOCF).

    Engine parity: the mean is computed as an EXACT scaled-integer sum
    (``Σ round(value·10^round_dp)`` — a long) divided by ``10^round_dp·n``
    — one IEEE division of exact integers, bit-identical on any engine.
    ``ROUND(AVG(x), 2)`` is NOT safe to hash: a 2-row mean lands on the
    .xx5 half-boundary constantly, where Spark's round (decimal-string
    HALF_UP) and DuckDB's (binary-double) disagree — observed 39.785 →
    39.79 vs 39.78.

    Scale shape: ONE hash shuffle to (key, bucket) partial aggregates —
    raw rows never re-shuffle; the dense grid explodes from each key's
    2-scalar span (span/every rows per key); the carry-forward is a
    window per key over bucket order. State = one carried value per key,
    same skew profile as the key itself. The grid join is a left join of
    generated buckets to the tiny aggregate frame on (key, bucket).
    """
    joined = _bucket_grid(df, ts_col, key_cols, value_col, every_seconds,
                          round_dp)
    w = (Window.partitionBy(*key_cols).orderBy("bucket_start")
         .rowsBetween(Window.unboundedPreceding, 0))
    return joined.withColumn("v_filled",
                             F.last("v", ignorenulls=True).over(w))


def _bucket_grid(df: DataFrame, ts_col: str, key_cols: list[str],
                 value_col: str, every_seconds: int,
                 round_dp: int) -> DataFrame:
    """Shared resample prefix: per-(key, bucket) exact-cents mean, dense
    bucket grid over each key's observed span, left-joined (gap buckets
    get n=0, v NULL)."""
    scale = 10 ** round_dp
    bucket = (F.floor(F.unix_timestamp(F.col(ts_col)) / every_seconds)
              * every_seconds).cast("long")
    agg = (df.select(*key_cols, bucket.alias("bucket_start"),
                     F.round(F.col(value_col) * scale).cast("long")
                      .alias("__cents"))
           .groupBy(*key_cols, "bucket_start")
           .agg(F.count(F.lit(1)).alias("n"),
                (F.sum("__cents").cast("double")
                 / (F.count(F.lit(1)) * scale)).alias("v")))
    span = (agg.groupBy(*key_cols)
            .agg(F.min("bucket_start").alias("__lo"),
                 F.max("bucket_start").alias("__hi")))
    grid = span.select(
        *key_cols,
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"),
                             F.lit(every_seconds))).alias("bucket_start"))
    return (grid.join(agg, [*key_cols, "bucket_start"], "left")
            .withColumn("n", F.coalesce(F.col("n"), F.lit(0))))


def resample_interpolate(df: DataFrame, ts_col: str, key_cols: list[str],
                         value_col: str, every_seconds: int = 3600,
                         round_dp: int = 2) -> DataFrame:
    """EXT (R157, round 6): hypertable-style resample with LINEAR
    interpolation — ``resample_locf``'s sibling for continuous signals
    (sensor telemetry, training-loss curves) where carrying a stale value
    forward biases the series: each gap bucket gets

        ``v_prev + (v_next − v_prev) · (t − t_prev)/(t_next − t_prev)``

    between its key's neighbouring OBSERVED buckets. Observed buckets keep
    their exact mean; trailing gaps cannot exist (the grid ends at the
    last observation).

    Engine parity: per-bucket means are exact scaled-integer divisions
    (see ``resample_locf``); the interpolation is the same fixed IEEE
    expression tree in Spark and the oracle — identical operands in
    identical order, so results are bit-identical (no re-association).

    Scale shape: identical to LOCF — one (key, bucket) partial-agg
    shuffle, 2-scalar span explode, then TWO ordered windows per key
    (previous/next observed value+time); window state is 2 scalars."""
    joined = _bucket_grid(df, ts_col, key_cols, value_col, every_seconds,
                          round_dp)
    wprev = (Window.partitionBy(*key_cols).orderBy("bucket_start")
             .rowsBetween(Window.unboundedPreceding, 0))
    wnext = (Window.partitionBy(*key_cols).orderBy("bucket_start")
             .rowsBetween(0, Window.unboundedFollowing))
    t_obs = F.when(F.col("n") > 0, F.col("bucket_start"))
    out = (joined
           .withColumn("__vp", F.last("v", ignorenulls=True).over(wprev))
           .withColumn("__tp", F.last(t_obs, ignorenulls=True).over(wprev))
           .withColumn("__vn", F.first("v", ignorenulls=True).over(wnext))
           .withColumn("__tn", F.first(t_obs, ignorenulls=True).over(wnext)))
    ratio = ((F.col("bucket_start") - F.col("__tp")).cast("double")
             / (F.col("__tn") - F.col("__tp")).cast("double"))
    interp = F.col("__vp") + (F.col("__vn") - F.col("__vp")) * ratio
    return (out.withColumn(
                "v_interp",
                F.when(F.col("n") > 0, F.col("v")).otherwise(interp))
            .select(*key_cols, "bucket_start", "n", "v", "v_interp"))


def time_weighted_avg(df: DataFrame, ts_col: str, key_cols: list[str],
                      value_col: str, round_dp: int = 2) -> DataFrame:
    """Hypertable-family: per-key time-weighted average of an irregular
    series — each observation's value holds until the next observation
    (the LOCF step function), so TWA = Σ vᵢ·(tᵢ₊₁−tᵢ) / (t_last − t_first).
    Keys with fewer than 2 observations drop (zero span — no area).

    Engine parity by exact integers: value scales to cents (long), gaps
    are epoch-microsecond longs, the weighted sum Σ cents·gap_µs is exact
    64-bit (≤ ~1e17 at this data scale, far from overflow), and ONE final
    IEEE division by (100 · span_µs) produces a bit-identical double on
    any engine — the same discipline as ``resample_locf``: never hash a
    parallel float sum.

    Plan: one shuffle on the key for the lead() window, then a partial
    aggregate on the same partitioning (no second exchange).

    Duplicate timestamps within a key are ordered by the scaled value as
    a deterministic tie-break (the larger value "holds" until the next
    distinct timestamp; the earlier duplicates contribute zero-width
    segments) — without it the holder, and therefore the TWA, would be
    shuffle-order-dependent. The oracle's LEAD uses the same two-key
    ordering.
    """
    scale = 10 ** round_dp
    w = Window.partitionBy(*key_cols).orderBy("__us", "__cents")
    us = F.unix_micros(F.col(ts_col))
    stepped = (df.select(*key_cols,
                         us.alias("__us"),
                         F.round(F.col(value_col) * scale).cast("long")
                          .alias("__cents"))
               .withColumn("__next_us", F.lead("__us").over(w)))
    seg = stepped.filter(F.col("__next_us").isNotNull()).select(
        *key_cols,
        (F.col("__cents") * (F.col("__next_us") - F.col("__us")))
        .alias("__area"), "__us", "__next_us")
    return (seg.groupBy(*key_cols)
            .agg(F.sum("__area").alias("__a"),
                 F.min("__us").alias("__lo"), F.max("__next_us").alias("__hi"),
                 (F.count(F.lit(1)) + 1).alias("n_obs"))
            .select(*key_cols, "n_obs",
                    (F.col("__a").cast("double")
                     / (F.lit(scale) * (F.col("__hi") - F.col("__lo"))))
                    .alias("twa")))


def ewma(df: DataFrame, ts_col: str, key_cols: list[str], value_col: str,
         id_col: str = "event_id", window_rows: int = 12,
         out_col: str = "ewma") -> DataFrame:
    """EXT (R126): exponentially weighted moving average (α = 1/2) over
    the last ``window_rows`` observations per key — the smoothing curve
    monitoring dashboards draw over noisy per-entity series. Truncated
    form: y_t = Σ_{k<m} v_{t−k}·2⁻ᵏ / Σ_{k<m} 2⁻ᵏ with m = available
    history (≤ ``window_rows``), so early rows are exact partial EWMAs,
    not zero-padded.

    α = 1/2 on purpose: every weight is a BINARY fraction, so the
    weighted sum integerizes exactly — num = Σ cents·2^(W−1−k), den =
    Σ 2^(W−1−k) — and the result is ONE exact-integer division, engine-
    and partition-invariant (an arbitrary-α EWMA accumulates float
    powers and loses cross-engine bit parity). The weight vector is a
    CONSTANT array literal; both folds run over ≤``window_rows``
    elements per row. Window order carries the id tie-break
    (same-timestamp rows would otherwise swap between runs — the
    time_weighted_avg lesson).

    Scale shape: one shuffle keys the window; no corpus-wide array ever
    materializes."""
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = (Window.partitionBy(*key_cols)
         .orderBy("__us", "__id")
         .rowsBetween(-(window_rows - 1), 0))
    cents = F.round(F.col(value_col) * 100).cast("long")
    base = df.select(*key_cols, F.col(id_col).alias("__id"),
                     us.alias("__us"), cents.alias("__c"))
    # newest-first array: rev[k] = v_{t-k} pairs with weight 2^(W-1-k)
    rev = F.reverse(F.collect_list("__c").over(w))
    wts = F.array(*[F.lit(1 << (window_rows - 1 - k)).cast("long")
                    for k in range(window_rows)])
    # zip_with pads the shorter side with NULL → coalesce keeps the fold
    # exact for rows with < window_rows history
    num = F.aggregate(F.zip_with(rev, wts,
                                 lambda v, wt: F.coalesce(v * wt, F.lit(0))),
                      F.lit(0).cast("long"), lambda acc, x: acc + x)
    den = F.aggregate(F.slice(wts, 1, F.size(rev)),
                      F.lit(0).cast("long"), lambda acc, x: acc + x)
    return (base.withColumn("__num", num).withColumn("__den", den)
            .select(*key_cols, F.col("__id").alias(id_col),
                    F.round(F.col("__num").cast("double")
                            / F.col("__den").cast("double") / 100.0, 6)
                    .alias(out_col)))


def interval_concurrency(df: DataFrame, key_cols: list[str], start_us,
                         end_us, k: int = 2) -> DataFrame:
    """EXT (R132): sweep-line interval concurrency — per key, the peak
    number of simultaneously-open intervals and the total microseconds
    spent at concurrency ≥ ``k``. The capacity-planning / overlap-billing
    / "how often were ≥k sessions live" query, and the one interval
    question LOCF/range-frame windows cannot answer.

    Classic sweep line as pure window algebra: each [start, end) interval
    emits (+1 at start, −1 at end) boundary rows; the running sum over
    (t, delta) order IS the concurrency; segment length = next boundary −
    this one. Half-open semantics fall out of the (t asc, delta asc)
    tie-break (−1 sorts first, so an interval ending exactly when another
    starts never overlaps it). Determinism under ties: rows with equal
    (t, delta) are interchangeable — they produce the same multiset of
    running values — and tie segments have ZERO length, so neither the
    busy time nor the peak depends on their internal order.

    Scale shape: the boundary explode is map-side (2 rows per interval);
    ONE shuffle keys the sweep windows (running sum + lead share the
    order); the final rollup is a hash agg on the same key."""
    b = (df.select(*key_cols, start_us.alias("__t"),
                   F.lit(1).alias("__d"))
         .unionByName(df.select(*key_cols, end_us.alias("__t"),
                                F.lit(-1).alias("__d"))))
    w = Window.partitionBy(*key_cols).orderBy("__t", "__d")
    swept = (b.withColumn("__conc", F.sum("__d").over(
                 w.rowsBetween(Window.unboundedPreceding, 0)))
             .withColumn("__next_t", F.lead("__t").over(w)))
    seg_busy = F.when((F.col("__conc") >= k)
                      & F.col("__next_t").isNotNull(),
                      F.col("__next_t") - F.col("__t")).otherwise(F.lit(0))
    return (swept.groupBy(*key_cols)
            .agg(F.max("__conc").cast("long").alias("peak_concurrency"),
                 F.sum(seg_busy).cast("long").alias("busy_us")))


def acf_counts(df: DataFrame, ts_col: str, max_lag: int = 24,
               bucket_s: int = 3600, round_dp: int = 6) -> DataFrame:
    """EXT (R225, round 6): exact autocorrelogram of the event-count
    series — ACF at lags 1..``max_lag`` over the DENSE
    ``bucket_s``-second count grid (zero-count buckets included; a
    sparse series fakes correlation by deleting the quiet hours). The
    seasonality detector: a daily cycle shows as the r₂₄ spike, and
    the lag-1 value is the series' short-memory number — the
    autocorrelation twin of the cross-series xcorr (R190).

    Exactness: ALL moments are integers — with S = Σx, n grid points,
    and per-lag pair sums P_k = Σ xₜxₜ₊ₖ, H_k = Σ head xₜ,
    T_k = Σ tail xₜ₊ₖ, the textbook full-mean ACF is
    r_k = (n²·P_k − n·S·(H_k+T_k) + (n−k)·S²) / (n·(n·Σx² − S²)) —
    numerator and denominator are exact decimal(38,0)/HUGEINT
    integers, ONE IEEE division per lag, ROUND-dp. Constant series
    (zero variance) report NULL.

    Scale shape: raw rows collapse map-side to per-bucket counts; the
    dense grid is calendar-sized (sequence explode off a broadcast
    min/max anchor); the lag join fans the grid ×``max_lag`` on a
    shifted integer key — calendar×lags rows, never data-sized."""
    dec = "decimal(38,0)"
    b = (F.floor(F.unix_timestamp(F.col(ts_col)) / bucket_s)).cast("long")
    counts = (df.select(b.alias("__h"))
                .groupBy("__h").agg(F.count(F.lit(1)).alias("__c")))
    anchor = counts.agg(F.min("__h").alias("__h0"),
                        F.max("__h").alias("__h1"))
    grid = (anchor.select(F.explode(
        F.sequence(F.col("__h0"), F.col("__h1"))).alias("__h"))
        .join(counts, "__h", "left")
        .withColumn("__x", F.coalesce(F.col("__c"), F.lit(0))
                    .cast("long"))
        .select("__h", "__x"))
    glob = grid.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__x").cast("long").alias("__S"),
        F.sum(F.col("__x").cast(dec) * F.col("__x").cast(dec))
         .alias("__sxx"))
    lags = F.explode(F.sequence(F.lit(1), F.lit(max_lag))).alias("lag")
    pairs = (grid.select(F.col("__h"), F.col("__x").alias("__xa"))
             .crossJoin(grid.sparkSession.range(1).select(lags))
             .join(grid.select((F.col("__h")).alias("__h2"),
                               F.col("__x").alias("__xb")),
                   F.col("__h2") == F.col("__h") + F.col("lag")))
    per = (pairs.groupBy("lag")
           .agg(F.sum(F.col("__xa").cast(dec) * F.col("__xb").cast(dec))
                 .alias("__P"),
                F.sum("__xa").cast("long").alias("__H"),
                F.sum("__xb").cast("long").alias("__T")))
    g = per.crossJoin(F.broadcast(glob))
    nD = F.col("__n").cast(dec)
    sD = F.col("__S").cast(dec)
    num = (nD * nD * F.col("__P")
           - nD * sD * (F.col("__H") + F.col("__T")).cast(dec)
           + (F.col("__n") - F.col("lag")).cast(dec) * (sD * sD))
    den = nD * (nD * F.col("__sxx") - sD * sD)
    return (g.select(
        F.col("lag").cast("long").alias("lag"),
        F.round(F.when(den != 0,
                       num.cast("double") / den.cast("double")), round_dp)
         .alias("acf"))
        .orderBy("lag"))


def periodogram_counts(df: DataFrame, ts_col: str,
                       periods=(6, 8, 12, 24, 168), bucket_s: int = 3600,
                       round_dp: int = 6) -> DataFrame:
    """EXT (R237, round 6): fixed-frequency periodogram of the event-count
    series — for each candidate period P (hours) the sinusoid-fit energy
    at frequency 1/P over the DENSE zero-filled count grid:
    C = Σ xc·cos(2πh/P), S = Σ xc·sin(2πh/P) with xc = x − mean, reported
    as r2 = 2(C²+S²)/(n·SST) (≈ variance share the P-cycle explains — 1.0
    for a pure sinusoid) and amplitude = 2√(C²+S²)/n (average peak height
    in events/bucket). The spectral twin of the ACF (R225): ACF says "lag
    24 correlates", this says "a 24 h cycle carries X% of the variance".

    Determinism: the trig argument is reduced in INTEGER space first —
    phase = (h−h₀) mod P gives only P distinct small angles, so cos/sin
    never see large arguments (where libm implementations drift); grid
    moments n, Σx, Σx² stay exact integers, SST's numerator n·Σx²−(Σx)²
    is exact decimal, and each output is a couple of IEEE ops rounded to
    ``round_dp``. Zero-variance grids report NULL.

    Scale shape: raw rows collapse map-side to per-bucket counts; the
    dense grid is calendar-sized (sequence explode off a broadcast
    min/max anchor); the period fan-out is grid×|periods| rows — never
    data-sized; one hash agg per period set, one 1-row broadcast of the
    global moments."""
    dec = "decimal(38,0)"
    pi2 = 2.0 * 3.141592653589793
    b = (F.floor(F.unix_timestamp(F.col(ts_col)) / bucket_s)).cast("long")
    counts = (df.select(b.alias("__h"))
                .groupBy("__h").agg(F.count(F.lit(1)).alias("__c")))
    anchor = counts.agg(F.min("__h").alias("__h0"),
                        F.max("__h").alias("__h1"))
    grid, _ = materialize(
        anchor.select(
            F.explode(F.sequence(F.lit(0),
                                 (F.col("__h1") - F.col("__h0")).cast("long")))
            .alias("__i"), F.col("__h0"))
        .join(counts,
              F.col("__h") == F.col("__i") + F.col("__h0"), "left")
        .select("__i", F.coalesce(F.col("__c"), F.lit(0)).cast("long")
                .alias("__x")))
    glob = grid.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__x").cast("long").alias("__S"),
        F.sum(F.col("__x").cast(dec) * F.col("__x").cast(dec))
         .alias("__sxx"))
    pframe = (grid.sparkSession.range(1)
              .select(F.explode(F.array(*[F.lit(int(p)) for p in periods]))
                      .alias("period_h")))
    mean = F.col("__S").cast("double") / F.col("__n").cast("double")
    theta = (F.lit(pi2)
             * F.pmod(F.col("__i"), F.col("period_h")).cast("double")
             / F.col("period_h").cast("double"))
    xc = F.col("__x").cast("double") - mean
    per = (grid.crossJoin(pframe).crossJoin(F.broadcast(glob))
           .groupBy("period_h")
           .agg(F.sum(xc * F.cos(theta)).alias("__C"),
                F.sum(xc * F.sin(theta)).alias("__Sn")))
    g = per.crossJoin(F.broadcast(glob))
    e2 = F.col("__C") * F.col("__C") + F.col("__Sn") * F.col("__Sn")
    sst_num = (F.col("__n").cast(dec) * F.col("__sxx")
               - F.col("__S").cast(dec) * F.col("__S").cast(dec))
    return g.select(
        "period_h",
        F.round(F.when(sst_num > 0,
                       F.lit(2.0) * e2 / sst_num.cast("double")),
                round_dp).alias("r2"),
        F.round(F.lit(2.0) * F.sqrt(e2) / F.col("__n").cast("double"),
                round_dp).alias("amplitude"))


def pettitt_changepoint(df: DataFrame, ts_col: str,
                        bucket_s: int = 86400,
                        round_dp: int = 6) -> DataFrame:
    """EXT (R244, round 6): Pettitt change-point test on the daily
    event-count series — the rank-based (distribution-free) single
    change-point detector beside CUSUM (R176 assumes a scale; Pettitt
    ranks): U_t = Σ_{i≤t} Σ_{j>t} sgn(x_i − x_j), K = max|U_t|, the
    change day is the earliest argmax, and the classical approximation
    p ≈ 2·exp(−6K²/(T³+T²)) says whether the split is believable.

    Exactness: the pairwise double sum is never formed — by the R151
    midrank identity Σ_j sgn(x_i − x_j) = 2m_i − (T+1) and antisymmetry
    of the within-prefix sum, U_t = (Σ_{i≤t} 2m_i) − t(T+1) with
    2·midrank = 2·cum_before + c + 1 an exact INTEGER from the value
    histogram; K, the argmax day and both segment sums stay integers;
    the only IEEE ops are the two segment-mean divides and one exp,
    rounded to ``round_dp``.

    Scale shape: raw rows collapse to the dense zero-filled calendar
    grid (R225 device); ranks come from a distinct-value histogram
    join; the prefix windows run over the calendar-sized grid — never
    over raw rows; the final report is a 1-row reduce."""
    b = (F.floor(F.unix_timestamp(F.col(ts_col)) / bucket_s)).cast("long")
    counts = (df.select(b.alias("__h"))
                .groupBy("__h").agg(F.count(F.lit(1)).alias("__c")))
    anchor = counts.agg(F.min("__h").alias("__h0"),
                        F.max("__h").alias("__h1"))
    grid, _ = materialize(
        anchor.select(
            F.explode(F.sequence(F.lit(0),
                                 (F.col("__h1") - F.col("__h0")).cast("long")))
            .alias("__i"), F.col("__h0"))
        .join(counts,
              F.col("__h") == F.col("__i") + F.col("__h0"), "left")
        .select((F.col("__i") + 1).alias("__t"),
                F.coalesce(F.col("__c"), F.lit(0)).cast("long")
                .alias("__x")))
    hist = grid.groupBy("__x").agg(F.count(F.lit(1)).alias("__hc"))
    wv = Window.orderBy("__x").rowsBetween(Window.unboundedPreceding, 0)
    m2 = (hist.withColumn("__cum", F.sum("__hc").over(wv))
          .select("__x", (F.lit(2) * F.col("__cum") - F.col("__hc")
                          + F.lit(1)).alias("__m2")))
    # scalars derive from frames that do NOT re-expose grid's column
    # names: Spark 4's resolver sees an aggregate's child attributes
    # through shared (checkpointed) lineage, so grid.agg(...) cross-
    # joined back onto a grid descendant makes __t/__x ambiguous
    n = anchor.select((F.col("__h1") - F.col("__h0") + 1).cast("long")
                      .alias("__T"))
    wt = Window.orderBy("__t").rowsBetween(Window.unboundedPreceding, 0)
    # the rename-projection after the window is load-bearing: a window
    # over a join of self-derived frames leaves two same-named hidden
    # attributes in the subtree, and any LATER join makes bare "__t"
    # refs AMBIGUOUS_REFERENCE under Spark 4's resolver — projecting to
    # fresh names rebinds downstream refs to one attribute
    pref = (grid.join(m2, "__x")
            .withColumn("__s2", F.sum("__m2").over(wt))
            .withColumn("__sx", F.sum("__x").over(wt))
            .select(F.col("__t").alias("__pt"),
                    F.col("__s2").alias("__ps2"),
                    F.col("__sx").alias("__psx")))
    u = (pref.crossJoin(F.broadcast(n))
         .filter(F.col("__pt") < F.col("__T"))
         .select(F.col("__pt").alias("__ut"),
                 F.col("__psx").alias("__usx"),
                 (F.col("__ps2") - F.col("__pt") * (F.col("__T") + 1))
                 .alias("__uu")))
    kmax = (u.select(F.col("__uu").alias("__kv"))
            .agg(F.max(F.abs(F.col("__kv"))).alias("__K")))
    # zero-filled grid adds nothing to the sum: Σx over grid = Σc here
    tot = counts.agg(F.sum("__c").cast("long").alias("__Sx"))
    best = (u.crossJoin(F.broadcast(kmax))
            .filter(F.abs(F.col("__uu")) == F.col("__K"))
            .groupBy("__K")
            .agg(F.min(F.struct(F.col("__ut"), F.col("__usx")))
                 .alias("__b"))
            .select("__K", F.col("__b.__ut").alias("__ct"),
                    F.col("__b.__usx").alias("__csx")))
    kk = F.col("__K").cast("double")
    tt = F.col("__T").cast("double")
    p = F.lit(2.0) * F.exp(F.lit(-6.0) * kk * kk
                           / (tt * tt * tt + tt * tt))
    return (best.crossJoin(F.broadcast(n)).crossJoin(F.broadcast(tot))
            .select(F.col("__T").alias("n_days"),
                    F.col("__ct").alias("cp_day"),
                    F.col("__K").alias("k_stat"),
                    F.round(F.col("__csx").cast("double")
                            / F.col("__ct").cast("double"), round_dp)
                    .alias("mean_before"),
                    F.round((F.col("__Sx") - F.col("__csx")).cast("double")
                            / (F.col("__T") - F.col("__ct")).cast("double"),
                            round_dp).alias("mean_after"),
                    F.round(F.when(p < 1.0, p).otherwise(F.lit(1.0)),
                            round_dp).alias("p_approx")))


def seasonal_naive_backtest(df: DataFrame, ts_col: str, group_col: str,
                            season: int = 24, bucket_s: int = 3600,
                            round_dp: int = 6) -> DataFrame:
    """EXT (round 6): seasonal-naive forecast backtest — score the
    "same hour yesterday" predictor over the last quarter of the dense
    hourly count grid, per series. The honesty check a pipeline needs
    BEFORE shipping any fancier forecaster: if a model can't beat
    seasonal-naive (MASE < 1 means naive wins), its capacity is noise.
    Per ``group_col``: (n_test, mae, rmse, wsmape, mase).

    Metric discipline: every metric is a RATIO OF INTEGER SUMS — never
    a mean of per-row float terms, whose accumulation order would
    diverge cross-engine. Errors e = x_t − x_{t−season} are integers on
    the dense grid (zero-filled; sparse series fake accuracy by
    deleting quiet hours); MAE = Σ|e|/n, RMSE = √(Σe²/n), weighted
    sMAPE = 2Σ|e|/Σ(x+f), and MASE = (Σ_test|e|·n_train) /
    (n_test·Σ_train|e|) with the train window [h₀+season, split).
    Each is ONE float op from exact integers.

    Scale shape: raw rows collapse map-side to (series, hour) counts;
    the grid is series×calendar-sized; the lag join shifts an integer
    key; one aggregation. Nothing is data-sized past the first agg."""
    dec = "decimal(38,0)"
    b = F.floor(F.unix_timestamp(F.col(ts_col)) / bucket_s).cast("long")
    counts = (df.select(F.col(group_col).alias("__g"), b.alias("__h"))
              .groupBy("__g", "__h")
              .agg(F.count(F.lit(1)).alias("__c")))
    anchor = F.broadcast(df.select(b.alias("__h")).agg(
        F.min("__h").alias("__h0"), F.max("__h").alias("__h1")))
    grid = (counts.select("__g").distinct()
            .crossJoin(anchor)
            .select("__g", F.explode(
                F.sequence(F.col("__h0"), F.col("__h1"))).alias("__h"))
            .join(counts, ["__g", "__h"], "left")
            .withColumn("__x", F.coalesce(F.col("__c"), F.lit(0))
                        .cast("long"))
            .select("__g", "__h", "__x"))
    prev = grid.select(F.col("__g"), (F.col("__h") + season).alias("__h"),
                       F.col("__x").alias("__f"))
    joined = (grid.join(prev, ["__g", "__h"]).crossJoin(anchor)
              .withColumn("__split",
                          F.col("__h1") + 1
                          - F.floor((F.col("__h1") - F.col("__h0") + 1)
                                    / F.lit(4)).cast("long")))
    e = F.col("__x") - F.col("__f")
    is_test = F.col("__h") >= F.col("__split")
    agg = joined.groupBy("__g").agg(
        F.sum(F.when(is_test, 1).otherwise(0)).cast("long")
         .alias("__nt"),
        F.sum(F.when(is_test, F.abs(e)).otherwise(0)).cast("long")
         .alias("__sae"),
        F.sum(F.when(is_test, e.cast(dec) * e.cast(dec))
               .otherwise(F.lit(0).cast(dec))).alias("__sse"),
        F.sum(F.when(is_test, F.col("__x") + F.col("__f")).otherwise(0))
         .cast("long").alias("__sxf"),
        F.sum(F.when(~is_test, 1).otherwise(0)).cast("long")
         .alias("__nr"),
        F.sum(F.when(~is_test, F.abs(e)).otherwise(0)).cast("long")
         .alias("__saer"))
    return agg.select(
        F.col("__g").alias(group_col),
        F.col("__nt").alias("n_test"),
        F.round(F.col("__sae").cast("double")
                / F.col("__nt").cast("double"), round_dp).alias("mae"),
        F.round(F.sqrt(F.col("__sse").cast("double")
                       / F.col("__nt").cast("double")), round_dp)
         .alias("rmse"),
        F.round(F.when(F.col("__sxf") > 0,
                       F.lit(2.0) * F.col("__sae").cast("double")
                       / F.col("__sxf").cast("double")), round_dp)
         .alias("wsmape"),
        F.round(F.when(F.col("__saer") > 0,
                       (F.col("__sae").cast(dec)
                        * F.col("__nr").cast(dec)).cast("double")
                       / (F.col("__nt").cast(dec)
                          * F.col("__saer").cast(dec)).cast("double")),
                round_dp).alias("mase"))


def interval_union(df: DataFrame, key_cols: list[str], start_us,
                   end_us) -> DataFrame:
    """EXT (round 6): merged-interval coverage (gaps-and-islands union)
    per key — overlapping/adjacent intervals coalesce into islands and
    each key reports (n_intervals, n_islands, covered_us,
    max_island_us). `interval_concurrency` answers "how many overlap at
    t"; this answers the complementary "how much of the timeline is
    covered at all" — the session-stitching / machine-uptime / user
    active-time primitive.

    Classic windowed formulation, all INTEGER microseconds: an interval
    opens a new island iff its start exceeds the running max of every
    earlier end (ROWS frame to −1 over a (start, end)-ordered window);
    island ids are the running sum of those flags; a per-(key, island)
    aggregate spans min(start)→max(end), one more aggregate rolls keys
    up. Touching intervals (start = previous end) MERGE — coverage is
    measured, not gapped, at zero-width joints.

    Scale: two shuffles (the per-key window, the island agg — the
    second reuses the first's hash partitioning on the key prefix); no
    self-join, no explode of the timeline."""
    base = df.select(*[F.col(c) for c in key_cols],
                     start_us.cast("long").alias("__s"),
                     end_us.cast("long").alias("__e"))
    w = Window.partitionBy(*key_cols).orderBy("__s", "__e")
    prev_max = F.max("__e").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = base.select(
        *key_cols, "__s", "__e",
        F.when(prev_max.isNull() | (F.col("__s") > prev_max), 1)
         .otherwise(0).alias("__new"))
    islands = flagged.select(
        *key_cols, "__s", "__e",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)).alias("__isl"))
    per_island = (islands.groupBy(*key_cols, "__isl")
                  .agg(F.count(F.lit(1)).alias("__cnt"),
                       (F.max("__e") - F.min("__s")).alias("__span")))
    return (per_island.groupBy(*key_cols)
            .agg(F.sum("__cnt").cast("long").alias("n_intervals"),
                 F.count(F.lit(1)).cast("long").alias("n_islands"),
                 F.sum("__span").cast("long").alias("covered_us"),
                 F.max("__span").cast("long").alias("max_island_us")))


def seasonality_strength(df: DataFrame, ts_col: str, group_col: str,
                         period: int = 24, bucket_s: int = 3600,
                         round_dp: int = 6) -> DataFrame:
    """EXT (round 6): seasonal strength per series — the fraction of
    the dense hourly count series' variance explained by hour-of-day
    (one-way eta² with the ``period`` phases as groups), plus the peak
    and trough phases. The ACF (R225) detects that a cycle exists;
    this quantifies how much of the signal the cycle IS — the
    deseasonalize-or-don't decision number — and names the phases an
    alerting rule should special-case.

    Exactness: the grid splits into phase groups of only TWO sizes
    (m and m+1, because n = period·m + r), so Σ S_g²/n_g has the exact
    common denominator d = m·(m+1) (or m when r = 0) and
    eta² = (n·Σ S_g²·w_g − S²·d) / (d·(n·Q − S²)) with w_g = d/n_g —
    every term decimal(38,0), ONE IEEE division. Phase ranking uses
    the same integer scaling (S_g·w_g is d·mean_g), so peak/trough are
    integer-ordered with hod-asc ties. Constant series → NULL.

    Scale: the grid is calendar-sized per series; two tiny hash aggs
    and two period-row windows."""
    dec = "decimal(38,0)"
    b = F.floor(F.unix_timestamp(F.col(ts_col)) / bucket_s).cast("long")
    counts = (df.select(F.col(group_col).alias("__g"), b.alias("__h"))
              .groupBy("__g", "__h")
              .agg(F.count(F.lit(1)).alias("__c")))
    anchor = F.broadcast(df.select(b.alias("__h")).agg(
        F.min("__h").alias("__h0"), F.max("__h").alias("__h1")))
    grid = (counts.select(F.col("__g").alias("__gs")).distinct()
            .crossJoin(anchor)
            .select("__gs", F.explode(
                F.sequence(F.col("__h0"), F.col("__h1"))).alias("__hh"))
            .join(counts, (F.col("__g") == F.col("__gs"))
                  & (F.col("__h") == F.col("__hh")), "left")
            .select(F.col("__gs"), F.col("__hh"),
                    F.coalesce(F.col("__c"), F.lit(0)).cast("long")
                    .alias("__x")))
    hod = (F.col("__hh") % period).cast("long")
    pg = (grid.groupBy(F.col("__gs"), hod.alias("__p"))
          .agg(F.sum(F.col("__x").cast(dec)).alias("__Sg"),
               F.count(F.lit(1)).cast(dec).alias("__ng")))
    pt = (grid.select(F.col("__gs").alias("__gt"), F.col("__x"))
          .groupBy("__gt")
          .agg(F.count(F.lit(1)).cast(dec).alias("__n"),
               F.sum(F.col("__x").cast(dec)).alias("__S"),
               F.sum(F.col("__x").cast(dec) * F.col("__x").cast(dec))
                .alias("__Q")))
    mm = (pg.select(F.col("__gs").alias("__gm"), F.col("__ng"))
          .groupBy("__gm")
          .agg(F.min("__ng").alias("__mn"), F.max("__ng").alias("__mx")))
    d = F.when(F.col("__mn") == F.col("__mx"), F.col("__mn")) \
         .otherwise((F.col("__mn") * F.col("__mx")).cast(dec))
    scaled = pg.join(mm, F.col("__gs") == F.col("__gm")) \
               .select("__gs", "__p", "__Sg", "__ng",
                       d.alias("__d"),
                       (F.col("__Sg") * (d / F.col("__ng")).cast(dec))
                       .alias("__sw"),
                       F.round(F.col("__Sg").cast("double")
                               / F.col("__ng").cast("double"),
                               round_dp).alias("__mean"))
    wpk = Window.partitionBy("__gs").orderBy(F.col("__sw").desc(),
                                             F.col("__p").asc())
    wtr = Window.partitionBy("__gs").orderBy(F.col("__sw").asc(),
                                             F.col("__p").asc())
    picks = (scaled
             .withColumn("__rp", F.row_number().over(wpk))
             .withColumn("__rt", F.row_number().over(wtr))
             .filter((F.col("__rp") == 1) | (F.col("__rt") == 1))
             .groupBy(F.col("__gs").alias("__gp"))
             .agg(F.max(F.when(F.col("__rp") == 1, F.col("__p")))
                  .alias("peak_hod"),
                  F.max(F.when(F.col("__rp") == 1, F.col("__mean")))
                  .alias("peak_mean"),
                  F.max(F.when(F.col("__rt") == 1, F.col("__p")))
                  .alias("trough_hod"),
                  F.max(F.when(F.col("__rt") == 1, F.col("__mean")))
                  .alias("trough_mean")))
    ssb = (scaled.select(F.col("__gs").alias("__gb"), "__d",
                         (F.col("__sw") * F.col("__Sg")).alias("__t"))
           .groupBy("__gb")
           .agg(F.sum("__t").alias("__ssbn"),
                F.max("__d").alias("__dd")))
    num = (F.col("__n") * F.col("__ssbn")
           - F.col("__S") * F.col("__S") * F.col("__dd"))
    den = (F.col("__dd")
           * (F.col("__n") * F.col("__Q") - F.col("__S") * F.col("__S")))
    return (pt.join(ssb, F.col("__gt") == F.col("__gb"))
            .join(picks, F.col("__gt") == F.col("__gp"))
            .select(F.col("__gt").alias(group_col),
                    F.col("__n").cast("long").alias("n_hours"),
                    F.round(F.when(den != 0,
                                   num.cast("double")
                                   / den.cast("double")), round_dp)
                    .alias("strength"),
                    "peak_hod", "peak_mean", "trough_hod",
                    "trough_mean"))


def nearest_join(left: DataFrame, right: DataFrame, key_col: str,
                 lid_col: str, rid_col: str, ts_col: str,
                 horizon_s: int) -> DataFrame:
    """EXT (round 6): NEAREST-event join — for each left event, the
    right event of the same key with the smallest |Δt| within
    ±``horizon_s``, ties to the EARLIER right then lower id. The as-of
    join (J7) is strictly backward-looking; incident attribution wants
    "the closest error around this action, either side" — past-only
    joins systematically miss the error that fires milliseconds after.

    Left rows with no right in the horizon survive with NULLs (left
    semantics). Selection is a struct-min over (|Δt|, right ts, right
    id) — one aggregation, no window. Scale: the candidate join is
    equi-keyed on (key, horizon-sized TIME BUCKET) — the right side
    explodes to its bucket ±1, so every in-horizon pair meets in
    exactly one bucket (|⌊lt/h⌋ − ⌊rt/h⌋| ≤ 1 when |lt−rt| ≤ h, and a
    single left bucket value matches one of the three exploded rows) —
    then the exact |Δt| ≤ h filter. Without the bucket key the
    candidate set is each key's FULL history cross its errors
    (round-10 sf10 probe: ~10⁹ pairs streamed per box for a 24h
    horizon over multi-year histories); with it, candidates are only
    the adjacent-bucket neighbourhood at ANY history length. Result
    set identical — the bucket is a pre-filter, the horizon predicate
    still decides. Integer-second arithmetic end to end."""
    lts = F.unix_timestamp(F.col(ts_col))
    la = left.select(F.col(key_col).alias("__k"),
                     F.col(lid_col).alias("__lid"), lts.alias("__lt"))
    rbk = F.floor(F.col("__rt") / F.lit(horizon_s)).cast("long")
    ra = (right.select(F.col(key_col).alias("__rk"),
                       F.col(rid_col).alias("__rid"), lts.alias("__rt"))
          .filter(F.col("__rt").isNotNull())  # NULL-ts rows can never
          # satisfy |Δt| ≤ h; dropping them here avoids exploding each
          # into three dead NULL-bucket candidate rows (ADVICE r10)
          .withColumn("__bk", F.explode(F.array(rbk - 1, rbk, rbk + 1))))
    j = la.join(ra, (F.col("__k") == F.col("__rk"))
                & (F.floor(F.col("__lt") / F.lit(horizon_s)).cast("long")
                   == F.col("__bk"))
                & (F.abs(F.col("__rt") - F.col("__lt"))
                   <= F.lit(horizon_s)))
    best = (j.groupBy(F.col("__lid").alias("__bl"))
            .agg(F.min(F.struct(
                F.abs(F.col("__rt") - F.col("__lt")).alias("ad"),
                F.col("__rt").alias("rt"),
                F.col("__rid").alias("ri"))).alias("__b")))
    return (la.join(best, F.col("__lid") == F.col("__bl"), "left")
            .select(F.col("__k").alias(key_col),
                    F.col("__lid").alias(lid_col),
                    F.col("__b.ri").alias("nearest_id"),
                    (F.col("__b.rt") - F.col("__lt")).cast("long")
                    .alias("delta_s")))


def fiscal_445_agg(orders: DataFrame, value_long,
                   round_dp: int = 6) -> DataFrame:
    """EXT (round 6): 4-4-5 fiscal-calendar aggregation — revenue by
    fiscal (year, quarter, period) where each quarter is a 4-week,
    4-week, 5-week triplet of ISO-ish weeks anchored at the epoch
    week. Retail/finance reporting runs on this calendar precisely so
    periods are comparable (same weekday mix); a Gregorian-month
    rollup can't be compared period-over-period without weekday
    corrections. All calendar math is integer: week = days DIV 7,
    fiscal year = week DIV 52, week-in-year = week MOD 52 ∈ [0,52)
    (a pure 52-week year — simple and exactly periodic; it DRIFTS ~1
    day/year against Gregorian, the documented trade vs the leap-week
    variants), quarter = w DIV 13, period-in-quarter from the 4/8
    cuts.

    One hash agg on the derived (year, quarter, period) key; exact
    cents, per-period counts and revenue plus weekly rate."""
    wk = F.expr("unix_date(CAST(o_orderdate AS DATE)) DIV 7") \
          .cast("long")
    w_in_y = wk % 52
    fy = (wk / 52).cast("long")
    q = (w_in_y / 13).cast("long")
    wq = w_in_y % 13
    period = (F.when(wq < 4, 0).when(wq < 8, 1).otherwise(2))
    n_weeks = F.when(F.col("fiscal_period") == 2, 5).otherwise(4)
    per = (orders.select(fy.alias("fiscal_year"),
                         q.alias("fiscal_quarter"),
                         period.cast("long").alias("fiscal_period"),
                         value_long.cast("long").alias("__v"))
           .groupBy("fiscal_year", "fiscal_quarter", "fiscal_period")
           .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.sum("__v").cast("long").alias("revenue_cents")))
    return per.select(
        "fiscal_year", "fiscal_quarter", "fiscal_period", "n_orders",
        "revenue_cents",
        F.round(F.col("revenue_cents").cast("double")
                / n_weeks.cast("double"), round_dp)
        .alias("weekly_rate_cents"))


def event_bursts(df: DataFrame, ts_col: str, gap_s: int = 300,
                 min_size: int = 3) -> DataFrame:
    """EXT (round 6): burst detector over a filtered event stream —
    maximal runs where consecutive events arrive within ``gap_s``,
    reported when the run reaches ``min_size``. Pointed at errors this
    is the incident detector (one error is noise, eight in five
    minutes is an outage); pointed at purchases it finds flash-sale
    spikes. Global stream (not per-user): sessionize (ST2/R46) owns
    the per-key variant; the global one needs the same islands over a
    SINGLE ordered stream, which this builds from the time-gap flag
    device.

    Output per burst: (burst_start_epoch, burst_end_epoch, n_events,
    span_s), integer epoch seconds.

    Scale shape (two-level prefix, round 7): bucketing seconds by
    ``gap_s`` makes every bucket a single island fragment — two events
    in the same bucket are < ``gap_s`` apart, so the within-bucket
    chain never breaks — and fragments can only merge with the
    ADJACENT bucket (non-adjacent buckets are > ``gap_s`` apart by
    construction). Stage 1 is therefore a distributed hash aggregate
    that collapses the stream to one row per non-empty ``gap_s`` slot;
    only that time-domain-bounded bucket table flows through the
    global islands window (a year of data is ~105k rows at
    gap_s=300, regardless of event volume)."""
    s = F.unix_timestamp(F.col(ts_col))
    base = df.select(s.alias("__s"),
                     F.floor(s / F.lit(gap_s)).alias("__b"))
    frags = base.groupBy("__b").agg(
        F.min("__s").alias("__min"), F.max("__s").alias("__max"),
        F.count(F.lit(1)).alias("__n"))
    w = Window.orderBy("__b")
    flagged = frags.select(
        "__b", "__min", "__max", "__n",
        F.when(F.lag("__b").over(w).isNull()
               | (F.col("__b") - F.lag("__b").over(w) > 1)
               | (F.col("__min") - F.lag("__max").over(w) > gap_s), 1)
         .otherwise(0).alias("__new"))
    isl = flagged.select(
        "__min", "__max", "__n", F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)).alias("__i"))
    return (isl.groupBy("__i")
            .agg(F.min("__min").cast("long").alias("burst_start_epoch"),
                 F.max("__max").cast("long").alias("burst_end_epoch"),
                 F.sum("__n").cast("long").alias("n_events"),
                 (F.max("__max") - F.min("__min")).cast("long")
                 .alias("span_s"))
            .filter(F.col("n_events") >= min_size)
            .drop("__i")
            .select("burst_start_epoch", "burst_end_epoch",
                    "n_events", "span_s"))
