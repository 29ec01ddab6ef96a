"""Mergeable cardinality sketches (EXT: warehouse profiling family).

The reference audits distinct keys with exact ``COUNT(DISTINCT ...)``
(``process_publications_dag.py:486-495`` duplicate-doi audit). Exact
distinct is a full shuffle of every key; at 100 TB the idiomatic pattern
is a Datasketches HLL sketch per fine-grained group (computed once, map-
side partial agg), then ANY coarser rollup — other group level, wider
date range — is a cheap union of the stored sketches instead of a rescan
of the raw table. Spark 4 ships the kernels JVM-side:
``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``.

Scale notes: a sketch is ~2^lg_k bytes regardless of input size, so the
per-group state that flows through the shuffle is bounded; merging is
associative + commutative (safe under AQE re-partitioning) and lossless
between same-``lg_k`` sketches — a rollup of stored sketches returns the
IDENTICAL estimate the direct sketch over the raw rows would.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import materialize
from .window import scan_tree

DEFAULT_LG_K = 12  # ~1.6% relative standard error, 4 KiB per sketch


def hll_rollup(df: DataFrame, group_cols: list[str], value_col: str,
               lg_k: int = DEFAULT_LG_K) -> DataFrame:
    """One sketch per group over ``value_col`` → (group_cols..., sketch).

    This is the "compute once, store forever" stage: partial aggregation
    happens map-side (each task folds its rows into a local sketch;
    only fixed-size sketches cross the exchange)."""
    return (df.groupBy(*group_cols)
            .agg(F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("sketch")))


def hll_union_rollup(sketches: DataFrame, group_cols: list[str],
                     sketch_col: str = "sketch") -> DataFrame:
    """Merge stored sketches up to a coarser grouping →
    (group_cols..., sketch, distinct_est). Never touches raw data."""
    return (sketches.groupBy(*group_cols)
            .agg(F.hll_union_agg(sketch_col).alias("sketch"))
            .withColumn("distinct_est",
                        F.hll_sketch_estimate("sketch")))


def distinct_estimate(df: DataFrame, group_cols: list[str], value_col: str,
                      lg_k: int = DEFAULT_LG_K) -> DataFrame:
    """Direct per-group estimate (group_cols..., distinct_est) — the
    one-shot form of hll_rollup + estimate."""
    return (df.groupBy(*group_cols)
            .agg(F.hll_sketch_estimate(
                F.hll_sketch_agg(value_col, F.lit(lg_k)))
                .alias("distinct_est")))


def approx_quantiles(df: DataFrame, group_cols: list[str], value_col: str,
                     probs: list[float], accuracy: int = 200) -> DataFrame:
    """Per-group approximate quantiles via Spark's mergeable
    ``percentile_approx`` sketch (rank error ≤ 1/accuracy, fixed-size
    per-group state map-side — the same scale argument as the HLL
    rollup: at 100 TB only sketches cross the exchange, and sketches
    for fine groups merge into any coarser rollup)."""
    return (df.groupBy(*group_cols)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.percentile_approx(
                     value_col, F.array(*[F.lit(p) for p in probs]),
                     F.lit(accuracy)).alias("approx")))


def quantile_sketch_check(df: DataFrame, group_cols: list[str],
                          value_col: str, probs: list[float],
                          accuracy: int = 200,
                          rank_tol: float | None = None) -> DataFrame:
    """Approx-vs-exact quantile audit: for each probability ``p`` emit the
    EXACT interpolated quantiles at ``p ± rank_tol`` (the sketch's rank
    guarantee, default 1.5/accuracy) plus a boolean ``p<NN>_ok`` — the
    sketch estimate lies within that exact-rank window.

    Output per group: ``n``, raw ``vmin``/``vmax`` (existing values —
    bit-exact on any engine), and per-p ``p<NN>_lo, p<NN>_hi, p<NN>_ok``
    (bounds rounded to 4 dp). NOTE for cross-engine hashing: interpolated
    quantiles are NOT safe to hash-compare (two lerp orders can land either
    side of a rounding boundary — observed at 4 dp on real data); oracle
    queries should project n/vmin/vmax + the flags and DROP lo/hi,
    mirroring ``hll_distinct_rollup``'s exact-value-plus-flag device."""
    tol = rank_tol if rank_tol is not None else 1.5 / accuracy
    agg = [F.count(F.lit(1)).alias("n"),
           F.min(value_col).alias("vmin"), F.max(value_col).alias("vmax")]
    for p in probs:
        tag = f"p{int(round(p * 100)):02d}"
        lo_p, hi_p = max(p - tol, 0.0), min(p + tol, 1.0)
        agg += [
            F.round(F.percentile(value_col, F.lit(lo_p)), 4).alias(f"{tag}_lo"),
            F.round(F.percentile(value_col, F.lit(hi_p)), 4).alias(f"{tag}_hi"),
            F.percentile_approx(value_col, F.lit(p), F.lit(accuracy))
             .alias(f"__{tag}_a"),
            F.percentile(value_col, F.lit(lo_p)).alias(f"__{tag}_l"),
            F.percentile(value_col, F.lit(hi_p)).alias(f"__{tag}_h"),
        ]
    out = df.groupBy(*group_cols).agg(*agg)
    for p in probs:
        tag = f"p{int(round(p * 100)):02d}"
        out = out.withColumn(
            f"{tag}_ok",
            (F.col(f"__{tag}_a") >= F.col(f"__{tag}_l"))
            & (F.col(f"__{tag}_a") <= F.col(f"__{tag}_h")))
    return out.drop(*[c for c in out.columns if c.startswith("__")])


def heavy_hitters(df: DataFrame, value_col: str,
                  capacity: int = 200) -> DataFrame:
    """EXT profiling: EXACT heavy hitters under bounded memory — every
    value whose global count exceeds ``n/capacity``, with its exact count,
    via the standard two-pass Misra-Gries scheme:

    1. **Candidate pass (map-only, bounded state):** each partition keeps
       at most ``capacity`` counters (batch-decrement Misra-Gries over
       Arrow batches — merging a batch's exact ``value_counts``, then
       subtracting the smallest counts until ≤ capacity remain). A
       partition's undercount is ≤ n_p/capacity, so any value with
       partition share > n_p/capacity survives; by averaging, any GLOBAL
       heavy hitter exceeds that share in ≥1 partition → it is a
       candidate. Vocabulary never materializes: state is O(capacity) per
       partition regardless of distinct count.
    2. **Exact pass:** one broadcast semi join on the (≤ capacity ×
       n_partitions) candidate set, then a count aggregate and the
       threshold filter ``count × capacity > n`` — integer arithmetic,
       no float threshold.

    The result is bit-identical to the unbounded exact formulation (the
    guarantee makes the candidate superset lossless for the reported
    set), so a plain SQL oracle verifies it — the same exactness-device
    as ``quantile_sketch_check``'s flags and ``hll_distinct_rollup``.
    """
    from collections.abc import Iterator

    import pandas as pd

    def mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for pdf in batches:
            for v, c in pdf[value_col].value_counts().items():
                counters[v] = counters.get(v, 0) + int(c)
            excess = len(counters) - capacity
            if excess > 0:
                d = sorted(counters.values())[excess - 1]
                counters = {v: c - d for v, c in counters.items() if c > d}
        if counters:
            yield pd.DataFrame({value_col: list(counters)})

    vtype = dict(df.dtypes)[value_col]
    cands = (df.select(value_col)
             .mapInPandas(mg, f"{value_col} {vtype}")
             .distinct())
    total = df.agg(F.count(F.lit(1)).alias("__n"))
    return (df.join(F.broadcast(cands), value_col, "left_semi")
            .groupBy(value_col)
            .agg(F.count(F.lit(1)).alias("count"))
            .crossJoin(F.broadcast(total))
            .filter(F.col("count") * capacity > F.col("__n"))
            .select(value_col, F.col("count").cast("long").alias("count")))


def _cm_slot(key: "F.Column", d: int, width: int, salt: str) -> "F.Column":
    """Row-d Count-Min slot for a key: sha(salt‖d‖key) mod width —
    portable hash arithmetic (the repo's sha-bucket convention)."""
    h = F.sha2(F.concat(F.lit(salt), F.lit("|"), F.lit(str(d)),
                        F.lit("|"), key.cast("string")), 256)
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % width


def countmin_build(df: DataFrame, key_col: str, depth: int = 4,
                   width: int = 256, salt: str = "cm") -> DataFrame:
    """Count-Min sketch as a (d, slot, cnt) table — depth×width bounded
    state regardless of input size, built in ONE aggregation (each row
    contributes ``depth`` map-side slot increments). Mergeable by plain
    addition (slot-wise sum — the ``merge_aggregates`` algebra), which
    is what lets per-partition / per-day sketches roll up without
    rescans. Completes the sketch trio: HLL (distinct), KLL (quantiles),
    CM (frequency)."""
    slots = F.array(*[
        F.struct(F.lit(d).alias("d"),
                 _cm_slot(F.col(key_col), d, width, salt).alias("slot"))
        for d in range(depth)])
    return (df.select(F.explode(slots).alias("__s"))
            .groupBy(F.col("__s.d").alias("d"),
                     F.col("__s.slot").alias("slot"))
            .agg(F.count(F.lit(1)).alias("cnt")))


def countmin_check(df: DataFrame, key_col: str, k: int = 20,
                   depth: int = 4, width: int = 256,
                   salt: str = "cm") -> DataFrame:
    """EXT (R147): Count-Min accuracy report — the exact top-k keys by
    frequency, each with its CM estimate (min over the depth rows) and
    the overestimate. CM guarantees est ≥ exact (collisions only ADD),
    with E[overestimate] ≤ n/width per row — this report makes the
    bound observable on real data before anyone trusts the sketch for
    capping/heavy-hitter work at scale. All arithmetic is exact
    integers + portable sha slots; top-k ties break on the key."""
    cm = countmin_build(df, key_col, depth, width, salt)
    exact = (df.groupBy(F.col(key_col).alias("key"))
             .agg(F.count(F.lit(1)).alias("exact")))
    w = Window.orderBy(F.col("exact").desc(), F.col("key").asc())
    top = (exact.withColumn("__rn", F.row_number().over(w))
           .filter(F.col("__rn") <= k).drop("__rn"))
    probes = top.select(
        "key", "exact",
        F.explode(F.array(*[
            F.struct(F.lit(d).alias("d"),
                     _cm_slot(F.col("key"), d, width, salt).alias("slot"))
            for d in range(depth)])).alias("__p")) \
        .select("key", "exact", "__p.d", "__p.slot")
    est = (probes.join(F.broadcast(cm), ["d", "slot"])
           .groupBy("key", "exact")
           .agg(F.min("cnt").alias("cm_estimate")))
    return est.select("key", "exact", "cm_estimate",
                      (F.col("cm_estimate") - F.col("exact"))
                      .alias("overestimate"))


def bloom_build(df: DataFrame, key_col: str, m_bits: int = 16_384,
                k_hashes: int = 3, salt: str = "bloom") -> DataFrame:
    """EXT (R179, round 6): PORTABLE Bloom filter — the set-membership
    sketch as DATA (a table of set bit positions), completing the
    sketch family (HLL distinct / KLL quantiles / Count-Min frequency /
    Misra–Gries heavy hitters / Bloom membership). Unlike
    ``spark.util.sketch.BloomFilter`` (engine-private serialization,
    driver-side build), this build is one distinct-aggregate over
    sha-derived positions: mergeable by UNION (bloom-of-union ==
    union-of-blooms), persistable as parquet, probe-able as a join —
    usable by ANY engine that can hash.

    Bit position j for a key = sha256(salt‖j‖key) mod m_bits (the
    ``hash_bucket`` discipline: deterministic, rerun/append-safe).
    Returns the distinct (pos) table — ≤ m_bits rows regardless of
    input scale."""
    from .sampling import hash_bucket
    pos = F.explode(F.array(*[
        hash_bucket(F.col(key_col), m_bits, f"{salt}{j}")
        for j in range(k_hashes)])).alias("pos")
    return df.select(pos).distinct()


def bloom_probe_report(members: DataFrame, probes: DataFrame,
                       key_col: str, m_bits: int = 16_384,
                       k_hashes: int = 3, salt: str = "bloom",
                       round_dp: int = 6) -> DataFrame:
    """EXT (R179): build a Bloom filter over ``members`` and probe every
    distinct key of ``probes`` against it — ONE summary row making the
    sketch's contract observable: ``n_members``, ``n_bits_set``,
    ``n_probes``, ``n_bloom_hits`` (all k positions set),
    ``n_true_members`` (exact, via anti/semi join ground truth),
    ``n_false_pos`` (bloom hit but not a member — the sketch's only
    error mode; a bloom MISS is always correct), and the observed
    ``fp_rate`` among true negatives (ONE division, ROUND 6).

    Scale shape (100 TB): the filter is ≤ m_bits rows and BROADCASTS
    into the probe join; probes collapse to distinct keys first; the
    ground-truth check is a broadcast-able semi join on the same keys.
    The decontamination shape: membership at scan speed, exactness
    audited on the side."""
    bits = bloom_build(members, key_col, m_bits, k_hashes, salt)
    pkeys = probes.select(F.col(key_col).alias("__k")).distinct()
    from .sampling import hash_bucket
    ppos = pkeys.select("__k", F.explode(F.array(*[
        hash_bucket(F.col("__k"), m_bits, f"{salt}{j}")
        for j in range(k_hashes)])).alias("pos"))
    hits = (ppos.join(F.broadcast(bits), "pos")
            .groupBy("__k").agg(F.count(F.lit(1)).alias("__nset"))
            .filter(F.col("__nset") == k_hashes).select("__k"))
    mkeys = members.select(F.col(key_col).alias("__k")).distinct()
    truth = pkeys.join(mkeys, "__k", "left_semi")
    false_pos = hits.join(mkeys, "__k", "left_anti")
    counts = [
        members.select(F.col(key_col)).distinct().agg(
            F.count(F.lit(1)).cast("long").alias("n_members")),
        bits.agg(F.count(F.lit(1)).cast("long").alias("n_bits_set")),
        pkeys.agg(F.count(F.lit(1)).cast("long").alias("n_probes")),
        hits.agg(F.count(F.lit(1)).cast("long").alias("n_bloom_hits")),
        truth.agg(F.count(F.lit(1)).cast("long").alias("n_true_members")),
        false_pos.agg(F.count(F.lit(1)).cast("long").alias("n_false_pos")),
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.crossJoin(F.broadcast(c))
    return out.withColumn(
        "fp_rate",
        F.when(F.col("n_probes") > F.col("n_true_members"),
               F.round(F.col("n_false_pos").cast("double")
                       / (F.col("n_probes")
                          - F.col("n_true_members")).cast("double"),
                       round_dp)))


def _kmv_hash(key: "F.Column", salt: str) -> "F.Column":
    """Portable 32-bit uniform hash for KMV: sha(salt‖key) first 8 hex
    chars as a long in [0, 2³²) — the repo's sha-bucket convention."""
    h = F.sha2(F.concat(F.lit(salt), F.lit("|"), key.cast("string")), 256)
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


def kmv_distinct_check(df: DataFrame, key_col: str, group_col: str,
                       k: int = 64, salt: str = "kmv") -> DataFrame:
    """EXT (R207, round 6): KMV (k-minimum-values / bottom-k) distinct
    sketch with its accuracy report — per group, the k smallest DISTINCT
    32-bit key hashes; estimate = (k−1)·M / h₍ₖ₎ (M = 2³²), or the
    exact count when fewer than k distinct hashes exist. Completes the
    sketch family's distinct-count axis alongside HLL with a sketch
    whose state is plain DATA (the bottom-k hash set) — mergeable by
    union + re-trim, diffable, and byte-replicable in any engine (the
    HLL register array is engine-private; this one the oracle recomputes
    from first principles).

    Report: (group, n_exact, kmv_estimate, abs_error) — the bound a
    deployment checks before trusting k for cardinality work at scale.

    Scale shape: the hash is map-side; the distinct collapses to
    (group, hash) — ONE hash aggregation; bottom-k per group is a
    WindowGroupLimit (rank pushdown, no full sort materialized); the
    estimate is a per-group scalar. The exact side is one
    distinct-count aggregate — the expensive half, present only
    because this IS the accuracy report."""
    h = _kmv_hash(F.col(key_col), salt)
    d = df.select(F.col(group_col).alias("grp"), h.alias("__h")).distinct()
    w = Window.partitionBy("grp").orderBy(F.col("__h").asc())
    bottom = (d.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") <= k))
    per = bottom.groupBy("grp").agg(
        F.max("__h").alias("__kth"),
        F.count(F.lit(1)).cast("long").alias("__nk"))
    exact = (df.groupBy(F.col(group_col).alias("grp"))
             .agg(F.countDistinct(key_col).cast("long").alias("n_exact")))
    m_total = float(2 ** 32)
    est = F.when(F.col("__nk") < k, F.col("__nk")).otherwise(
        F.round(F.lit(float(k - 1) * m_total)
                / F.col("__kth").cast("double"))).cast("long")
    return (exact.join(per, "grp")
            .select(F.col("grp").alias(group_col), "n_exact",
                    est.alias("kmv_estimate"),
                    F.abs(est - F.col("n_exact")).cast("long")
                    .alias("abs_error")))


def kmv_set_ops_check(df: DataFrame, key_col: str, label_col,
                      label_a: str, label_b: str,
                      k: int = 64, salt: str = "kmv") -> DataFrame:
    """EXT (R222, round 6): KMV set-operation estimates — distinct
    UNION, INTERSECTION, and Jaccard between two cohorts' key sets from
    their bottom-k sketches (Beyer et al.'s combined-sketch method),
    reported against the exact values. The question HLL cannot answer
    without engine-private merge tricks: "how many purchasers also
    click?" from two tiny mergeable hash sets instead of a full
    distinct-join. Combined sketch L = bottom-k of the UNION of the two
    bottom-k hash sets; U = (K−1)·M/h₍ₖ₎ on L (exact when the union
    sketch is undersized), ρ = |L ∩ A_k ∩ B_k| / K, intersection
    estimate = round(ρ·U).

    Exactness: every sketch value derives from the portable sha hash
    (``_kmv_hash`` — byte-replicable in any engine); the estimate
    arithmetic is fixed-shape IEEE on exact integers; Jaccards are one
    division each, ROUND-6.

    Scale shape: per-side sketches are (label, hash) distinct collapse
    + WindowGroupLimit bottom-k; the combine window sees at most 2k
    pre-trimmed rows — bounded, never data-sized. The exact side (one
    distinct aggregate + one two-flag group-by on the key) is the
    expensive half and exists only because this IS the accuracy
    report."""
    h = _kmv_hash(F.col(key_col), salt)
    tagged = (df.select(
        F.when(label_col == label_a, F.lit("a"))
         .when(label_col == label_b, F.lit("b")).alias("__g"),
        h.alias("__h"), F.col(key_col).alias("__key"))
        .filter(F.col("__g").isNotNull()))
    d = tagged.select("__g", "__h").distinct()
    w = Window.partitionBy("__g").orderBy(F.col("__h").asc())
    sk = (d.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k).select("__g", "__h"))
    flags = (sk.groupBy("__h")
             .agg(F.max(F.when(F.col("__g") == "a", 1).otherwise(0))
                   .alias("__ina"),
                  F.max(F.when(F.col("__g") == "b", 1).otherwise(0))
                   .alias("__inb")))
    wl = Window.orderBy(F.col("__h").asc())
    comb = (flags.withColumn("__rn", F.row_number().over(wl))
                 .filter(F.col("__rn") <= k))
    csk = comb.agg(
        F.count(F.lit(1)).cast("long").alias("__K"),
        F.max("__h").alias("__kth"),
        F.sum(F.col("__ina") * F.col("__inb")).cast("long").alias("__both"))
    exact = (tagged.groupBy("__key")
             .agg(F.max(F.when(F.col("__g") == "a", 1).otherwise(0))
                   .alias("__ea"),
                  F.max(F.when(F.col("__g") == "b", 1).otherwise(0))
                   .alias("__eb"))
             .agg(F.sum("__ea").cast("long").alias("n_a_exact"),
                  F.sum("__eb").cast("long").alias("n_b_exact"),
                  F.count(F.lit(1)).cast("long").alias("union_exact"),
                  F.sum(F.col("__ea") * F.col("__eb")).cast("long")
                   .alias("inter_exact")))
    m_total = float(2 ** 32)
    u_est = F.when(F.col("__K") < k, F.col("__K")).otherwise(
        F.round(F.lit(float(k - 1) * m_total)
                / F.col("__kth").cast("double"))).cast("long")
    out = exact.crossJoin(F.broadcast(csk)).withColumn("union_est", u_est)
    rho = F.col("__both").cast("double") / F.col("__K").cast("double")
    return out.select(
        "n_a_exact", "n_b_exact", "union_exact", "inter_exact",
        "union_est",
        F.round(rho * F.col("union_est").cast("double")).cast("long")
         .alias("inter_est"),
        F.when(F.col("union_exact") > 0,
               F.round(F.col("inter_exact").cast("double")
                       / F.col("union_exact").cast("double"), 6))
         .alias("jaccard_exact"),
        F.round(rho, 6).alias("jaccard_est"))


def theta_set_ops_check(df: DataFrame, key_col: str, label_col,
                        label_a: str, label_b: str,
                        k: int = 64, salt: str = "theta") -> DataFrame:
    """EXT (R326, round 10): Theta-sketch set-operation estimates — the
    Datasketches-side twin of R222's KMV combined-sketch method. A
    Theta sketch retains every hash below a threshold θ (here the
    (k+1)-th smallest when the sketch is full, else the full hash
    space M = 2³²) and estimates any retained set's cardinality as
    ``|S|·M/θ`` — which is what lets it answer the set op KMV's
    combined sketch cannot: the A-AND-NOT-B difference. Union follows
    Datasketches semantics (merge under θᵢ = min(θ_a, θ_b), re-trim to
    k with θ_u = the merged (k+1)-th value); intersection and both
    differences operate on the un-trimmed retained sets under θᵢ.
    Report: exact vs estimated union / intersection / A∖B / B∖A plus
    exact and estimated Jaccard — the accuracy contract read before
    trusting stored sketches for audience-overlap arithmetic at scale.

    Exactness: hashes are the portable sha convention (``_kmv_hash``,
    byte-replicable in any engine); θ and every retained count are
    exact integers; each estimate is one fixed-shape IEEE expression
    ``ROUND(count·M/θ)`` (count ≤ k, so count·M is exact in double),
    degrading to the EXACT count when θ = M (undersized sketch).

    Scale shape: per-side sketches are a (label, hash) distinct
    collapse + WindowGroupLimit bottom-(k+1); everything after the
    trim sees ≤ 2(k+1) rows — the global windows and the 1-row θᵢ
    broadcast are bounded-domain by construction, never data-sized.
    The exact side (one distinct aggregate + one two-flag group-by)
    is the expensive half and exists only because this IS the
    accuracy report."""
    m_total = 2 ** 32
    h = _kmv_hash(F.col(key_col), salt)
    tagged = (df.select(
        F.when(label_col == label_a, F.lit("a"))
         .when(label_col == label_b, F.lit("b")).alias("__g"),
        h.alias("__h"), F.col(key_col).alias("__key"))
        .filter(F.col("__g").isNotNull()))
    d = tagged.select("__g", "__h").distinct()
    w = Window.partitionBy("__g").orderBy(F.col("__h").asc())
    ranked = (d.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= k + 1))
    # θᵢ = min over sides of (h₍ₖ₊₁₎ if full else M) — a 1-row scalar
    ti = (ranked.groupBy("__g")
          .agg(F.coalesce(
              F.max(F.when(F.col("__rn") == k + 1, F.col("__h"))),
              F.lit(m_total)).alias("__theta"))
          .agg(F.min("__theta").cast("long").alias("__ti")))
    kept = (ranked.filter(F.col("__rn") <= k)
            .crossJoin(F.broadcast(ti))
            .filter(F.col("__h") < F.col("__ti")))
    flags = (kept.groupBy("__h")
             .agg(F.max("__ti").alias("__ti"),
                  F.max(F.when(F.col("__g") == "a", 1).otherwise(0))
                   .alias("__ina"),
                  F.max(F.when(F.col("__g") == "b", 1).otherwise(0))
                   .alias("__inb")))
    wl = Window.orderBy(F.col("__h").asc())  # bounded: ≤ 2k rows
    usk = (flags.withColumn("__rn", F.row_number().over(wl))
           .agg(F.max("__ti").cast("long").alias("__ti"),
                F.count(F.lit(1)).cast("long").alias("__nu"),
                F.sum(F.col("__ina") * F.col("__inb")).cast("long")
                 .alias("__nboth"),
                F.sum(F.col("__ina") * (F.lit(1) - F.col("__inb")))
                 .cast("long").alias("__nanotb"),
                F.sum((F.lit(1) - F.col("__ina")) * F.col("__inb"))
                 .cast("long").alias("__nbnota"),
                F.max(F.when(F.col("__rn") == k + 1, F.col("__h")))
                 .alias("__ukp1")))
    exact = (tagged.groupBy("__key")
             .agg(F.max(F.when(F.col("__g") == "a", 1).otherwise(0))
                   .alias("__ea"),
                  F.max(F.when(F.col("__g") == "b", 1).otherwise(0))
                   .alias("__eb"))
             .agg(F.sum("__ea").cast("long").alias("n_a_exact"),
                  F.sum("__eb").cast("long").alias("n_b_exact"),
                  F.count(F.lit(1)).cast("long").alias("union_exact"),
                  F.sum(F.col("__ea") * F.col("__eb")).cast("long")
                   .alias("inter_exact"),
                  F.sum(F.col("__ea") * (F.lit(1) - F.col("__eb")))
                   .cast("long").alias("a_not_b_exact"),
                  F.sum((F.lit(1) - F.col("__ea")) * F.col("__eb"))
                   .cast("long").alias("b_not_a_exact")))
    md = float(m_total)

    def est(cnt, theta):
        return (F.round(cnt.cast("double") * F.lit(md)
                        / theta.cast("double")).cast("long"))

    theta_u = F.coalesce(F.col("__ukp1"), F.col("__ti")).cast("long")
    out = exact.crossJoin(F.broadcast(usk))
    union_est = est(F.least(F.col("__nu"), F.lit(k)), theta_u)
    inter_est = est(F.col("__nboth"), F.col("__ti"))
    return out.select(
        "n_a_exact", "n_b_exact", "union_exact", "inter_exact",
        "a_not_b_exact", "b_not_a_exact",
        union_est.alias("union_est"),
        inter_est.alias("inter_est"),
        est(F.col("__nanotb"), F.col("__ti")).alias("a_not_b_est"),
        est(F.col("__nbnota"), F.col("__ti")).alias("b_not_a_est"),
        F.when(F.col("union_exact") > 0,
               F.round(F.col("inter_exact").cast("double")
                       / F.col("union_exact").cast("double"), 6))
         .alias("jaccard_exact"),
        F.when(union_est > 0,
               F.round(inter_est.cast("double")
                       / union_est.cast("double"), 6))
         .alias("jaccard_est"))


def cm_selfjoin_size(df: DataFrame, key_col: str, depth: int = 4,
                     width: int = 256, salt: str = "cm",
                     round_dp: int = 6) -> DataFrame:
    """EXT (R232, round 6): join-size estimation from sketches — the
    AMS/Count-Min inner product. The self-join size F₂ = Σ_k f(k)² IS
    |A ⋈ A| on the key, the number the optimizer needs before picking
    a join strategy and the canonical skew statistic (F₂ ≫ n²/n_keys
    means a hot key). The CM estimate is Σ_slots cnt² per sketch row,
    MIN over the depth rows — est ≥ exact always (collisions only
    add), with the classic ε·n² error bound, and the sketches are
    mergeable, so per-partition/day sketches answer join-size
    questions without rescans.

    Report: (n_rows, n_keys, exact_f2, cm_estimate, overestimate,
    rel_error) — the accuracy contract observable before anyone trusts
    the sketch at fleet scale.

    Exactness: frequencies, squares, and both F₂ sums are exact
    decimal(38,0)/HUGEINT integers (addition-order-free); rel_error is
    the single IEEE division, ROUND-dp.

    Scale shape: the sketch side is ONE aggregation to depth×width
    bounded state + a depth-row reduce; the exact side (one
    frequency aggregation) exists only because this IS the accuracy
    report."""
    dec = "decimal(38,0)"
    cm = countmin_build(df, key_col, depth, width, salt)
    est = (cm.groupBy("d")
           .agg(F.sum(F.col("cnt").cast(dec) * F.col("cnt").cast(dec))
                .alias("__e"))
           .agg(F.min("__e").alias("__est")))
    freq = df.groupBy(F.col(key_col).alias("__k")) \
             .agg(F.count(F.lit(1)).alias("__f"))
    exact = freq.agg(
        F.sum("__f").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.col("__f").cast(dec) * F.col("__f").cast(dec))
         .alias("__f2"))
    j = exact.crossJoin(F.broadcast(est))
    return j.select(
        "n_rows", "n_keys",
        F.col("__f2").cast("long").alias("exact_f2"),
        F.col("__est").cast("long").alias("cm_estimate"),
        (F.col("__est") - F.col("__f2")).cast("long").alias("overestimate"),
        F.round((F.col("__est").cast("double")
                 - F.col("__f2").cast("double"))
                / F.col("__f2").cast("double"), round_dp)
         .alias("rel_error"))


def hdr_quantile_report(df: DataFrame, cents_col, m_bits: int = 5,
                        q_pcts=(50, 90, 99),
                        round_dp: int = 6) -> DataFrame:
    """EXT (R240, round 6): HdrHistogram/DDSketch-style relative-error
    quantile sketch with its accuracy report — bucket positive integer
    cents by (base-2 exponent e, top ``m_bits`` mantissa bits), estimate
    each requested quantile from the bounded bucket histogram, and report
    it beside the EXACT quantile with the realized relative error. The
    guarantee made observable: bucket width / bucket floor = 2^-m, so
    |est − exact| / exact ≤ 2^-(m+1) (~1.6% at m=5) with ≤ 2^m·e_max
    buckets of mergeable, shuffle-safe state — the quantile analogue of
    the R147 Count-Min accuracy check.

    Exactness (why no γ-log bucketing): DDSketch's ceil(ln v / ln γ) puts
    engine-differing libm values within an ulp of bucket BOUNDARIES — an
    integer count can flip between engines. Here the exponent
    e = floor(log2 c) is safe (log2 of a non-power-of-two integer c sits
    ≥ ~1/(c·ln 2) from the nearest integer — orders of magnitude above
    double error for c < 2^40, and powers of two are exact), the
    sub-bucket (c·2^m) div 2^e − 2^m is pure integer arithmetic, and the
    bucket midpoint 2^e·(2·(2^m+sub)+1) / 2^(m+1) is a DYADIC rational —
    its double is exact. Exact quantiles come from the integer value
    histogram (lower quantile: min v with 100·cum ≥ n·q), so the only
    inexact IEEE op in the report is the final error divide.

    Scale shape: one map-side bucket hash agg (bounded state), one value
    histogram for the exact side (distinct-value-sized, not row-sized),
    never a global row sort. The sketch-side cumulative window runs over
    the BOUNDED bucket set (≤2^m·e_max rows by construction — state-sized,
    not data-sized); the exact side's cumulative count uses
    ``window.scan_tree``, so no window ever holds the distinct-value
    histogram in one partition; n and the probe thresholds ride as 1-row
    broadcasts. Only the positive values are stored: the bucket set is
    one small aggregate over them, recomputed by its two readers."""
    col = F.col(cents_col) if isinstance(cents_col, str) else cents_col
    c, _ = materialize(df.select(col.alias("__c")).filter(F.col("__c") > 0))
    n = c.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    two_m = 1 << m_bits
    e = F.floor(F.log2(F.col("__c").cast("double"))).cast("long")
    bk = (c.select(e.alias("__e"),
                   (F.expr(f"(__c * {two_m}) div "
                           f"cast(pow(2.0d, floor(log2(cast(__c as "
                           f"double)))) as bigint)")
                    - two_m).alias("__s"))
          .groupBy("__e", "__s").agg(F.count(F.lit(1)).alias("__cnt")))
    nbuck = bk.agg(F.count(F.lit(1)).cast("long").alias("n_buckets"))
    wcum = (Window.orderBy("__e", "__s")
            .rowsBetween(Window.unboundedPreceding, 0))
    cum = bk.withColumn("__cm", F.sum("__cnt").over(wcum))
    qs = (c.sparkSession.range(1)
          .select(F.explode(F.array(*[F.lit(int(q)) for q in q_pcts]))
                  .alias("q_pct")))
    est_num = (F.pow(F.lit(2.0), F.col("__e").cast("double")).cast("long")
               * (F.lit(2) * (F.lit(two_m) + F.col("__s")) + F.lit(1)))
    est = est_num.cast("double") / F.lit(float(2 * two_m))
    ests = (cum.crossJoin(qs).crossJoin(F.broadcast(n))
            .filter(F.col("__cm") * 100 >= F.col("__n") * F.col("q_pct"))
            .groupBy("q_pct")
            .agg(F.min(F.struct(F.col("__e"), F.col("__s"))).alias("__b"))
            .select("q_pct",
                    F.col("__b.__e").alias("__e"),
                    F.col("__b.__s").alias("__s"))
            .select("q_pct", F.round(est, round_dp).alias("est_cents")))
    vcum = scan_tree(c.groupBy("__c").agg(F.count(F.lit(1)).alias("__hc")),
                     "__c", 100_000, "__hc")
    exact = (vcum.crossJoin(qs).crossJoin(F.broadcast(n))
             .filter(F.col("__hc_cum") * 100
                     >= F.col("__n") * F.col("q_pct"))
             .groupBy("q_pct")
             .agg(F.min("__c").cast("long").alias("exact_cents")))
    return (exact.join(ests, "q_pct").crossJoin(F.broadcast(nbuck))
            .select(F.col("q_pct").cast("int").alias("q_pct"),
                    "exact_cents", "est_cents",
                    F.round(F.abs(F.col("est_cents")
                                  - F.col("exact_cents").cast("double"))
                            / F.col("exact_cents").cast("double"),
                            round_dp).alias("rel_error"),
                    "n_buckets"))
