"""Dataset-split / sampling operators (EXT mandate: training-data pipeline).

A 100 TB training corpus needs REPRODUCIBLE membership decisions: which
rows land in train/val/test, which survive per-source quotas, which are
downsampled per stratum. Every operator here derives membership from a
content-stable hash of a caller-chosen key — never from ``rand()`` or row
position — so reruns, retries, and incremental appends keep prior
assignments (the property `df.sample()` / `randomSplit()` cannot give you
across job restarts or data re-partitioning).

All hot paths are pure codegen expressions (sha2 + string/int arithmetic):
zero shuffles for split/sample decisions; the only shuffle in this module
is the per-group quota's window partition — bounded to ≤ k survivor rows
per group by ``WindowGroupLimit``.

The hash is the first 8 hex chars of sha256(salt ‖ key) parsed as an
integer — deliberately expressible in ANY engine (the DuckDB conformance
oracles reproduce it verbatim), unlike engine-private hashes
(``xxhash64``: fine within Spark, not portable across the oracle
boundary). Change ``salt`` to derive independent assignments from the
same keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .text import token_count

#: bucket-space resolution: fractions are exact to 1/10000
_BUCKETS = 10_000


def hash_bucket(key: Column, buckets: int = _BUCKETS,
                salt: str = "") -> Column:
    """Deterministic bucket in [0, buckets) from sha256(salt ‖ key).

    Pure codegen (sha2 → substring → base-16 conv → modulo): no shuffle,
    no RNG state, identical on every executor and every rerun.
    """
    h = F.sha2(F.concat(F.lit(salt), key.cast("string")), 256)
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % buckets


def hash_split(df: DataFrame, key_col: str,
               fractions: dict[str, float] | None = None,
               salt: str = "split", out_col: str = "split") -> DataFrame:
    """Stable train/val/test assignment: adds ``out_col`` with the split
    label chosen by the key's hash bucket against cumulative fraction
    thresholds. Rows with equal keys always land in the same split —
    append-safe and rerun-safe.
    """
    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"fractions must sum to 1, got {total}")
    b = hash_bucket(F.col(key_col), _BUCKETS, salt)
    expr, acc = None, 0
    for label, frac in fractions.items():
        acc += round(frac * _BUCKETS)
        expr = (F.when(b < acc, F.lit(label)) if expr is None
                else expr.when(b < acc, F.lit(label)))
    # rounding shortfall (sum < _BUCKETS by <1): fold into the last label
    return df.withColumn(out_col, expr.otherwise(F.lit(label)))


def stratified_sample(df: DataFrame, stratum_col: str, key_col: str,
                      fractions: dict[str, float],
                      default_fraction: float = 0.0,
                      salt: str = "sample") -> DataFrame:
    """Per-stratum deterministic downsampling: keep a row iff its key's
    hash bucket < fraction(stratum)·10000. The classic LLM-corpus shape —
    keep 100% of a scarce language, 10% of an abundant one — with
    append-safe membership (no ``rand()``).
    """
    b = hash_bucket(F.col(key_col), _BUCKETS, salt)
    thresh = None
    for stratum, frac in fractions.items():
        t = F.lit(int(round(frac * _BUCKETS)))
        thresh = (F.when(F.col(stratum_col) == stratum, t) if thresh is None
                  else thresh.when(F.col(stratum_col) == stratum, t))
    thresh = (F.lit(int(round(default_fraction * _BUCKETS))) if thresh is None
              else thresh.otherwise(int(round(default_fraction * _BUCKETS))))
    return df.filter(b < thresh)


def quota_per_group(df: DataFrame, group_cols: list[str],
                    order_cols: list[Column], k: int) -> DataFrame:
    """Keep at most ``k`` rows per group by an explicit total order (e.g.
    ≤ 20 docs per source domain). One shuffle on the group key;
    ``row_number() <= k`` compiles to ``WindowGroupLimit`` — per-partition
    top-k heaps, so at most k rows per group cross the final exchange.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (df.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") <= k).drop("__rn"))


def weighted_sample(df: DataFrame, key_col: str, accept_prob: Column,
                    salt: str = "weighted") -> DataFrame:
    """Per-ROW importance sampling: keep a row iff its key's hash bucket
    < ``accept_prob``·10000, where ``accept_prob`` is a COLUMN in [0, 1]
    (quality score, length-normalized weight, per-domain mixing rate…) —
    the data-mixing primitive for weighted pretraining corpora, with the
    same rerun/append/repartition-stable membership as the other
    operators here (a row's fate depends only on its key and weight,
    never on rand() or partitioning).

    ``stratified_sample`` is the special case of a finite per-stratum
    rate map; this form admits continuous per-row weights. Zero shuffle:
    one codegen filter. Prefer integer-arithmetic weight expressions
    (e.g. ``least(n_chars, 2000) / 2000``-style scaled to buckets) when
    an external oracle must reproduce the exact threshold — float
    products are reproducible too (same parquet values, same ops) but
    integer thresholds are trivially so.
    """
    b = hash_bucket(F.col(key_col), _BUCKETS, salt)
    return df.filter(b < F.floor(accept_prob * _BUCKETS))


def temperature_mix(df: DataFrame, stratum_col: str, key_col: str,
                    salt: str = "tempmix") -> DataFrame:
    """EXT data mixing: temperature-based stratum rebalancing (the
    mT5/XLM-R rule at temperature T=2, i.e. sampling share ∝ p^(1/T) =
    √p) WITHOUT replacement: stratum ``l`` with ``n_l`` rows keeps rows
    at rate ``√(n_min / n_l)`` — the rarest stratum passes whole, common
    strata shrink toward it, flattening the distribution while never
    duplicating data.

    The √ formulation is deliberate: general ``p^(α-1)`` needs ``pow``,
    which is NOT guaranteed correctly rounded and can differ by an ulp
    across engines — ``sqrt`` and division ARE correctly rounded (IEEE
    754), so the acceptance threshold is bit-reproducible anywhere.
    Membership uses the same sha-bucket arithmetic as every sampler here:
    rerun/append/repartition-stable, zero shuffle beyond the tiny
    stratum-count aggregate (broadcast back).

    A NULL stratum is a stratum like any other: the rate join is
    null-safe (``eqNullSafe``), so rows with a NULL stratum value are
    rebalanced at the NULL group's own rate instead of silently vanishing
    through a null-rejecting equi-join.
    """
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("__n"))
    n_min = counts.agg(F.min("__n").alias("__m"))
    rates = (counts.crossJoin(F.broadcast(n_min))
             .select(F.col(stratum_col).alias("__stratum"),
                     F.sqrt(F.col("__m").cast("double") / F.col("__n"))
                      .alias("__rate")))
    placed = (df.join(F.broadcast(rates),
                      F.col(stratum_col).eqNullSafe(F.col("__stratum")))
              .drop("__stratum"))
    return weighted_sample(placed, key_col, F.col("__rate"), salt=salt) \
        .drop("__rate")


def epoch_shuffle(df: DataFrame, key_col: str, epoch: int,
                  out_col: str = "shuffle_key") -> DataFrame:
    """EXT (R102): deterministic global shuffle for training epochs — the
    data-loader permutation, reproducible across reruns and resumes.
    Order by ``sha256(epoch ‖ key)``: every epoch is a fresh, uniform,
    seed-addressable permutation with no RNG state and no driver-side
    index. Returns the rows totally ordered by ``out_col`` (write the
    result with ``.write`` and downstream readers stream the epoch in
    shuffled order).

    Scale shape: ``orderBy`` over the hash is Spark's range-partition +
    local-sort total order (sampled range bounds, no single-partition
    sort); the hash itself is pure codegen. A salted hex prefix is
    enough — ties on the first 16 hex chars fall back to the key, so the
    permutation is total and collision-safe."""
    h = F.sha2(F.concat(F.lit(f"epoch-{epoch}:"),
                        F.col(key_col).cast("string")), 256)
    return (df.withColumn(out_col, F.substring(h, 1, 16))
            .orderBy(F.col(out_col).asc(), F.col(key_col).asc()))


def split_leakage_report(pairs: DataFrame, splits: DataFrame,
                         id_col: str = "doc_id",
                         split_col: str = "split") -> DataFrame:
    """EXT (R109): cross-split near-duplicate leakage table — near-dup
    pairs counted by the (unordered) split pair they straddle. Exact
    dedup before splitting misses NEAR-duplicates, so a train/test pair
    of near-identical docs silently leaks evaluation data into training;
    this is the report that catches it (any row where
    ``split_a <> split_b`` is leakage; the diagonal is benign intra-split
    redundancy).

    ``pairs`` is any (id_a, id_b) pair surface (MinHash/SimHash/n-gram/
    embedding families all emit it); ``splits`` any (id, split)
    assignment (``hash_split``). The pair table is already sub-quadratic
    by construction; two hash joins key on the doc ids and the report
    aggregates over the tiny split-pair domain."""
    sa = splits.select(F.col(id_col).alias("id_a"),
                       F.col(split_col).alias("__sa"))
    sb = splits.select(F.col(id_col).alias("id_b"),
                       F.col(split_col).alias("__sb"))
    return (pairs.join(sa, "id_a").join(sb, "id_b")
            .select(F.least("__sa", "__sb").alias("split_a"),
                    F.greatest("__sa", "__sb").alias("split_b"))
            .groupBy("split_a", "split_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs")))


def negative_samples(items: DataFrame, id_col: str, group_col: str,
                     k: int = 3, salt: str = "neg") -> DataFrame:
    """EXT (R145): deterministic negative sampling for contrastive /
    triplet training — per anchor, up to ``k`` uniform negatives drawn
    by sha-arithmetic (slot ``j`` → candidate id ``sha(salt‖anchor‖j)
    mod n``), excluding the anchor itself and any candidate sharing the
    anchor's ``group_col`` (label/near-dup cluster — the "false
    negative" guard). The ``hash_split`` discipline: reruns, appends
    and repartitions reproduce the same negatives; a new epoch resamples
    by changing ``salt``.

    Ids must be DENSE [0, n) (the training-data convention after
    ``assign_ids``); n is computed once as a scalar and broadcast.
    Anchors can emit < k rows when slots collide with self/same-group —
    accepted and standard (the next epoch's salt redraws); nothing
    re-rolls, so the operator stays one map-side projection + one
    group-lookup join. Scale shape: the only joins key on candidate id
    against the (id, group) table — no shuffle of anything wider."""
    n1 = items.agg(F.count(F.lit(1)).alias("__n"))
    cand = (items.select(F.col(id_col), F.col(group_col).alias("__ag"))
            .crossJoin(F.broadcast(n1))
            .select(id_col, "__ag", "__n",
                    F.explode(F.sequence(F.lit(0), F.lit(k - 1)))
                    .alias("j")))
    h = F.conv(F.substring(F.sha2(F.concat(
        F.lit(salt), F.lit("|"), F.col(id_col).cast("string"),
        F.lit("|"), F.col("j").cast("string")), 256), 1, 8), 16, 10) \
        .cast("long")
    cand = cand.withColumn("neg_id", F.pmod(h, F.col("__n")))
    lookup = items.select(F.col(id_col).alias("neg_id"),
                          F.col(group_col).alias("__ng"))
    return (cand.filter(F.col("neg_id") != F.col(id_col))
            .join(lookup, "neg_id")
            .filter(~F.col("__ng").eqNullSafe(F.col("__ag")))
            .select(F.col(id_col).alias("anchor_id"), "j", "neg_id"))


def rendezvous_assign(key_col: str, shards: list[str],
                      out_col: str = "shard") -> Column:
    """Highest-random-weight (rendezvous) shard assignment expression:
    shard = argmax over shards of sha256(shard ‖ key) — pure codegen,
    no ring state. Unlike ``key mod N``, growing the shard set moves
    ONLY the keys whose new shard wins their weight race (≈ n/(N+1)),
    not ~all of them — the property that makes cache/shard topology
    changes cheap. Weights take 60 sha bits (15 hex chars), so a tie is
    a ~2⁻⁶⁰ event — which is what lets the DuckDB oracle use a plain
    arg_max instead of replicating struct-comparison tie semantics."""
    weights = F.array(*[
        F.struct(
            F.conv(F.substring(F.sha2(F.concat(
                F.lit(s), F.lit("|"), F.col(key_col).cast("string")), 256),
                1, 15), 16, 10).cast("long").alias("w"),
            F.lit(s).alias("s"))
        for s in shards])
    return F.array_max(weights)["s"].alias(out_col)


def rendezvous_report(df: DataFrame, key_col: str, before: list[str],
                      after: list[str]) -> DataFrame:
    """EXT (R146): resharding impact report — per shard (union of both
    topologies): keys assigned under the BEFORE set, under the AFTER
    set, and how many of its before-keys STAYED. Σ(n_before − n_stayed)
    is the total movement; for rendezvous growth N → N+1 that is ≈ n/(N+1)
    versus ≈ n·N/(N+1) for mod-N — the entire point, made measurable.
    ONE map-side projection (both argmax expressions per row) + one hash
    aggregation; nothing shuffles but (shard, counters)."""
    assigned = df.select(
        rendezvous_assign(key_col, before, "__b"),
        rendezvous_assign(key_col, after, "__a"))
    by_b = (assigned.groupBy(F.col("__b").alias("shard"))
            .agg(F.count(F.lit(1)).alias("n_before"),
                 F.count(F.when(F.col("__a") == F.col("__b"), 1))
                 .alias("n_stayed")))
    by_a = (assigned.groupBy(F.col("__a").alias("shard"))
            .agg(F.count(F.lit(1)).alias("n_after")))
    return (by_b.join(by_a, "shard", "full_outer")
            .select("shard",
                    F.coalesce("n_before", F.lit(0)).cast("long")
                    .alias("n_before"),
                    F.coalesce("n_after", F.lit(0)).cast("long")
                    .alias("n_after"),
                    F.coalesce("n_stayed", F.lit(0)).cast("long")
                    .alias("n_stayed")))


def token_budget_mix(df: DataFrame, source_col: str, text_col: str,
                     key_col: str, weights: dict[str, float],
                     total_tokens: int, salt: str = "mix") -> DataFrame:
    """EXT (R148): pretraining-mix sampling by TOKEN budget — downsample
    each source so it contributes ≈ ``weights[source] · total_tokens``
    tokens (the level mixes are actually specified at; doc-count mixing
    over-weights long-document sources). Acceptance is per-DOC
    sha-bucket membership at rate budget/actual (capped at 1 — sources
    under budget pass through; a real run would raise their epoch count
    instead), so the mix is rerun/append/repartition-stable.

    Returns the per-source audit report: docs/tokens before, the exact
    bucket threshold applied, and docs/tokens after — the table a mix
    review reads before training. Exactness: token counts are integer
    sums; the rate is one integer-ratio division whose bucket threshold
    floors into the sha-bucket domain (integer compare, the hash_split
    discipline — never a float accept probability at row scope).

    Scale shape: one pass to (source, token) totals (map-side partials),
    the tiny per-source threshold table broadcasts back, membership is
    pure codegen, and the after-totals fold in the same aggregation
    shape. Bodies never shuffle."""
    base = df.select(F.col(source_col).alias("__src"),
                     F.col(key_col).alias("__k"),
                     token_count(text_col).cast("long").alias("__nt"))
    totals = (base.groupBy("__src")
              .agg(F.count(F.lit(1)).alias("docs_before"),
                   F.sum("__nt").alias("tokens_before")))
    wmap = F.create_map(*[x for s, w in sorted(weights.items())
                          for x in (F.lit(s), F.lit(float(w)))])
    # threshold = floor(budget/actual · 10000), capped — INTEGER bucket
    # compare downstream, so the applied rate is exactly threshold/10000
    thr = F.least(
        F.lit(10_000).cast("long"),
        F.floor(wmap[F.col("__src")] * F.lit(float(total_tokens))
                * F.lit(10_000.0) / F.col("tokens_before").cast("double"))
        .cast("long"))
    thresholds = totals.withColumn("bucket_threshold", thr)
    marked = (base.join(F.broadcast(thresholds), "__src")
              .withColumn("__keep",
                          hash_bucket(F.col("__k"), _BUCKETS, salt)
                          < F.col("bucket_threshold")))
    return (marked.groupBy("__src", "docs_before", "tokens_before",
                           "bucket_threshold")
            .agg(F.count(F.when(F.col("__keep"), 1)).alias("docs_after"),
                 F.coalesce(F.sum(F.when(F.col("__keep"), F.col("__nt"))),
                            F.lit(0)).alias("tokens_after"))
            .select(F.col("__src").alias("source"), "docs_before",
                    "tokens_before", "bucket_threshold", "docs_after",
                    "tokens_after"))


def grouped_split(df: DataFrame, group_col: str,
                  fractions: dict[str, float] | None = None,
                  salt: str = "gsplit", out_col: str = "split") -> DataFrame:
    """EXT (R149): leakage-safe split — assignment keys on the GROUP
    (source, near-dup cluster, author), so every correlated row lands in
    the SAME split. Per-doc splitting leaks through correlation: two
    near-identical docs from one source straddling train/test inflate
    eval (exactly what ``split_leakage_report`` detects after the fact —
    this operator PREVENTS it by construction, the belt to that
    suspenders). Same sha-bucket stability contract as ``hash_split``;
    the trade is granularity (split sizes now track group token mass,
    not row counts — audit with ``token_budget_mix``-style reports when
    groups are skewed)."""
    return hash_split(df, group_col, fractions, salt, out_col)


def apportioned_sample(df: DataFrame, group_col: str, total_n: int,
                       order_by: list, out_quota_col: str | None = None
                       ) -> DataFrame:
    """EXT (R150): select EXACTLY ``total_n`` rows apportioned across
    groups proportionally to group size — the largest-remainder
    (Hamilton) method, the thing quota sampling cannot do ("about 10%
    per group" drifts; review queues, eval-set builders and fixed-budget
    labeling runs need an exact total with fair shares). Within each
    group the ``order_by`` ranking picks WHICH rows (quality desc, id
    tie-break — deterministic survivors, the dedup discipline).

    Exactness: base quota = (N·n_g) DIV n in pure integers; the
    remainder R = N − Σ base goes to the R groups with the largest
    fractional part N·n_g mod n (group tie-break) — every step integer
    arithmetic, so the selection is engine- and partition-invariant.
    Scale shape: group counts (one partial agg), the quota table is
    group-domain-sized (windows over it are compact), quotas broadcast
    back, and the per-group cut is row_number ≤ quota →
    WindowGroupLimit prunes before the exchange."""
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__ng"))
    tot = counts.agg(F.sum("__ng").alias("__n"))
    q = (counts.crossJoin(F.broadcast(tot))
         .withColumn("__base", F.expr(f"CAST(({total_n} * __ng) DIV __n "
                                      "AS BIGINT)"))
         .withColumn("__frac", F.expr(f"CAST(({total_n} * __ng) % __n "
                                      "AS BIGINT)")))
    w_rem = Window.orderBy(F.col("__frac").desc(), F.col(group_col).asc())
    quotas = (q.withColumn("__rr", F.row_number().over(w_rem))
              .crossJoin(F.broadcast(
                  q.agg((F.lit(total_n) - F.sum("__base")).alias("__rem"))))
              .withColumn("quota",
                          (F.col("__base")
                           + F.when(F.col("__rr") <= F.col("__rem"), 1)
                           .otherwise(0)).cast("long"))
              .select(group_col, "quota"))
    w_pick = Window.partitionBy(group_col).orderBy(*order_by)
    picked = (df.join(F.broadcast(quotas), group_col)
              .withColumn("__rn", F.row_number().over(w_pick))
              .filter(F.col("__rn") <= F.col("quota")))
    if out_quota_col:
        return picked.drop("__rn").withColumnRenamed("quota", out_quota_col)
    return picked.drop("__rn", "quota")
