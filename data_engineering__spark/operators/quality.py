"""Data-quality and audit operators (SURVEY §2.11: Q1-Q3).

The reference's signature capability: a validation task that logs WARN/OK
(``process_publications_dag.py:486-535``) and a Postgres trigger that writes
every row change to ``log_table`` as (table, op, old_json, new_json, ts)
(``database and queries aupostgres.sql:70-97``). Spark has no triggers —
change capture becomes an EXPLICIT pipeline stage: diff the before/after
DataFrames with multiset semantics and serialize rows to JSON.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def duplicate_key_audit(df: DataFrame, key: str) -> DataFrame:
    """Q1: keys appearing more than once — ``GROUP BY doi HAVING
    COUNT(doi) > 1`` (``process_publications_dag.py:489``).

    Uses ``count(key)`` not ``count(*)``: NULL keys are never counted, so
    the NULL group can never be flagged — exact SQL parity (SURVEY §1.3).
    """
    return (df.groupBy(key)
              .agg(F.count(F.col(key)).alias("dup_count"))
              .filter(F.col("dup_count") > 1))


def missing_value_audit(df: DataFrame, cols: list[str]) -> DataFrame:
    """Q2: per-column NULL/blank violation counts in ONE pass
    (``process_publications_dag.py:497-502,510-518``) — conditional
    aggregation instead of one scan per check."""
    aggs = [F.count(F.lit(1)).alias("total_rows")]
    for c in cols:
        pred = F.col(c).isNull() | (F.trim(F.col(c).cast("string")) == "")
        aggs.append(F.sum(pred.cast("long")).alias(f"{c}_missing"))
    return df.agg(*aggs)


def check(df: DataFrame, name: str, violation_pred: Column) -> DataFrame:
    """Validation-as-code: a named check returning (check, violations, ok).
    Constraints (DDL CHECKs at ``database and queries aupostgres.sql:5,42``)
    become assertable counts, not row rejections."""
    return (df.agg(F.sum(violation_pred.cast("long")).alias("violations"))
              .select(F.lit(name).alias("check"),
                      F.coalesce(F.col("violations"), F.lit(0)).alias("violations"))
              .withColumn("ok", F.col("violations") == 0))


def audit_diff(before: DataFrame, after: DataFrame, table_name: str,
               serialize: bool = True) -> DataFrame:
    """Q3: change-data audit replacing the Postgres trigger
    (``database and queries aupostgres.sql:82-97``).

    Multiset row diff: rows only in ``after`` log as NEW, rows only in
    ``before`` log as OLD; an update appears as one OLD + one NEW — exactly
    the information content of the trigger's old/new ``row_to_json`` pair.
    ``to_json(struct(*))`` mirrors ``row_to_json`` (F10).

    Scale: ``exceptAll`` is a hash-partitioned multiset difference (one
    shuffle each way). For CDC at 100 TB prefer key-scoped diffs (join on PK
    and compare row hashes) over whole-row exceptAll; both are provided —
    see ``audit_diff_keyed``.
    """
    def payload(df: DataFrame) -> list:
        if serialize:
            return [F.to_json(F.struct(*df.columns)).alias("row_values")]
        return [F.col(c) for c in df.columns]

    new_rows = after.exceptAll(before).select(
        F.lit(table_name).alias("table_name"), F.lit("NEW").alias("operation"),
        *payload(after))
    old_rows = before.exceptAll(after).select(
        F.lit(table_name).alias("table_name"), F.lit("OLD").alias("operation"),
        *payload(before))
    return new_rows.unionByName(old_rows)


def audit_diff_keyed(before: DataFrame, after: DataFrame, key: str,
                     table_name: str) -> DataFrame:
    """Q3 at scale: PK-scoped CDC — join on key, compare row hashes.

    Emits operation ∈ {INSERT, DELETE, UPDATE} with old/new JSON payloads.
    One shuffle on the PK; row comparison is an xxhash64 over all columns,
    so wide rows never cross the network twice.
    """
    b = before.withColumn("__h", F.xxhash64(*[F.col(c) for c in before.columns])) \
              .withColumn("__row", F.to_json(F.struct(*before.columns))).alias("b")
    a = after.withColumn("__h", F.xxhash64(*[F.col(c) for c in after.columns])) \
             .withColumn("__row", F.to_json(F.struct(*after.columns))).alias("a")
    j = b.join(a, F.col(f"b.{key}") == F.col(f"a.{key}"), "full_outer")
    op = (F.when(F.col(f"b.{key}").isNull(), "INSERT")
           .when(F.col(f"a.{key}").isNull(), "DELETE")
           .when(F.col("b.__h") != F.col("a.__h"), "UPDATE"))
    return (j.withColumn("operation", op)
             .filter(F.col("operation").isNotNull())
             .select(F.lit(table_name).alias("table_name"), "operation",
                     F.col("b.__row").alias("old_values"),
                     F.col("a.__row").alias("new_values")))


def key_skew_profile(df: DataFrame, key_cols: list[str],
                     k: int = 20) -> DataFrame:
    """EXT diagnosis: top-k heaviest join/grouping keys with their share
    of all rows — the measurement that DECIDES the skew strategy (a key
    holding >~1% of a 100 TB table is a salting/AQE-skew-join candidate;
    see ``relational.salted_join``). One partial-aggregated count pass +
    a broadcast 1-row total (no driver collect) + TakeOrdered for the
    top-k; ties break on the key for deterministic output."""
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n"))
    total = F.broadcast(counts.agg(F.sum("n").alias("__total")))
    return (counts.crossJoin(total)
            .withColumn("share",
                        F.round(F.col("n") / F.col("__total"), 6))
            .drop("__total")
            .orderBy(F.col("n").desc(), *[F.asc(c) for c in key_cols])
            .limit(k))


def cardinality_profile(df: DataFrame,
                        cols: list[str] | None = None,
                        round_dp: int = 6) -> DataFrame:
    """EXT (R189, round 6): per-column cardinality profile — (column,
    n_rows, n_distinct, distinct_frac, top_value, top_count), the
    storage/layout advisor a 100 TB onboarding runs next to
    ``null_profile``: distinct_frac ≈ 0 says dictionary-encode /
    partition on it, ≈ 1 says it's an id (sort/bucket candidate), and
    the top value exposes the degenerate hot key ('', 'unknown', the
    default enum) that skews every later join.

    NULL counts as a visible value (a column that is 99% NULL has a
    meaningful top value); ``top_value`` reports as a string so one
    long frame covers heterogeneous columns, ties break on the value
    string for engine determinism.

    Scale shape: one hash agg per column on that column's value grid
    (map-side partials; the shuffle carries distinct values, not rows),
    then a 1-row TakeOrdered per column, unioned — column count is
    tiny, the per-column aggs run in one job in parallel."""
    cols = cols or df.columns
    outs = []
    for c in cols:
        grid = (df.groupBy(F.col(c).cast("string").alias("__v"))
                .agg(F.count(F.lit(1)).cast("long").alias("__c")))
        top = (grid.orderBy(F.col("__c").desc(), F.col("__v").asc_nulls_last())
               .limit(1))
        stats = grid.agg(F.sum("__c").cast("long").alias("n_rows"),
                         F.count(F.lit(1)).cast("long").alias("n_distinct"))
        outs.append(
            stats.crossJoin(F.broadcast(top))
            .select(F.lit(c).alias("column"), "n_rows", "n_distinct",
                    F.round(F.col("n_distinct").cast("double")
                            / F.col("n_rows").cast("double"),
                            round_dp).alias("distinct_frac"),
                    F.col("__v").alias("top_value"),
                    F.col("__c").alias("top_count")))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def null_profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """EXT profiling: per-column null counts and ratio — (column, n_rows,
    n_null, null_frac). ONE aggregation pass computes every column's
    count (map-side partial agg, no per-column scans), then a constant
    unpivot reshapes the single result row; nothing shuffles but one
    row. The completeness complement of ``key_skew_profile`` and the
    histogram — the trio a 100 TB onboarding audit runs first."""
    cols = cols or df.columns
    aggs = [F.count(F.lit(1)).alias("__n")]
    aggs += [F.count(F.when(F.col(c).isNull(), 1)).alias(f"__null_{c}")
             for c in cols]
    row = df.agg(*aggs)
    pairs = []
    for c in cols:
        pairs.extend([F.lit(c), F.col(f"__null_{c}")])
    return (row.select(
        F.col("__n"),
        F.explode(F.map_from_arrays(
            F.array(*pairs[::2]), F.array(*pairs[1::2])))
        .alias("column", "n_null"))
        .select("column", F.col("__n").alias("n_rows"), "n_null",
                F.round(F.try_divide(F.col("n_null"), F.col("__n")), 6)
                .alias("null_frac")))


def expectations(df: DataFrame, checks: dict[str, Column]) -> DataFrame:
    """EXT data quality: a named expectation suite in ONE aggregation pass
    — each check is a boolean Column (TRUE = row passes); the report is
    (check, n_rows, n_violations, passed). The generic form of the
    reference's validation queries (`process_publications_dag.py`'s
    count-based checks): declare once, run at scan speed, alert on any
    ``passed = false``.

    Single partial-agg job regardless of check count (conditional counts
    fold map-side); the constant-width unpivot mirrors ``null_profile``.
    NULL predicate results count as violations (a check that cannot
    evaluate did not pass). Check names are carried only as literals —
    internal aggregate columns are indexed, so a name containing dots,
    backticks, or other column-reference metacharacters cannot break
    resolution."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, cond in enumerate(checks.values()):
        aggs.append(F.count(F.when(~F.coalesce(cond, F.lit(False)),
                                   F.lit(1))).alias(f"__v_{i}"))
    row = df.agg(*aggs)
    # ONE explode over the single aggregate row — a union of per-check
    # selects would duplicate the aggregate subtree (and its scan) once
    # per check in the physical plan
    return (row.select(F.explode(F.array(*[
                F.struct(F.lit(name).alias("check"),
                         F.col("__n").alias("n_rows"),
                         F.col(f"__v_{i}").alias("n_violations"),
                         (F.col(f"__v_{i}") == 0).alias("passed"))
                for i, name in enumerate(checks)])).alias("__c"))
            .select("__c.check", "__c.n_rows", "__c.n_violations",
                    "__c.passed"))


def reconciliation_report(header: DataFrame, detail: DataFrame,
                          key_col: str, header_int, detail_int,
                          top_k: int = 20) -> DataFrame:
    """EXT (R184, round 6): header/detail RECONCILIATION — the
    double-entry audit between a summary table and its line items
    (order total vs Σ line amounts, ledger vs journal, batch manifest
    vs shard counts). ``join_health`` audits the KEYS of a join; this
    audits the AMOUNTS after it. One row per worst offender (top-k by
    |difference|, then key — an all-integer ordering, so the selection
    is engine-exact with no rounding device): header amount, detail
    sum, detail row count, and the signed difference, in integer cents.
    Headers with NO detail rows reconcile against 0 (left join) —
    orphan headers are usually the loudest discrepancy.

    Scale shape (100 TB): detail collapses to per-key partial sums
    map-side before the join (never row×row); the join is
    key-cardinality; top-k is one TakeOrdered."""
    h = header.select(F.col(key_col).alias("__k"),
                      header_int.cast("long").alias("__h"))
    d = (detail.select(F.col(key_col).alias("__k"),
                       detail_int.cast("long").alias("__d"))
         .groupBy("__k")
         .agg(F.sum("__d").cast("long").alias("__ds"),
              F.count(F.lit(1)).cast("long").alias("__dn")))
    j = (h.join(d, "__k", "left")
         .withColumn("__ds", F.coalesce("__ds", F.lit(0)))
         .withColumn("__dn", F.coalesce("__dn", F.lit(0)))
         .withColumn("__diff", F.col("__h") - F.col("__ds")))
    return (j.orderBy(F.abs(F.col("__diff")).desc(), F.col("__k").asc())
            .limit(top_k)
            .select(F.col("__k").alias(key_col),
                    F.col("__h").alias("header_amount"),
                    F.col("__ds").alias("detail_sum"),
                    F.col("__dn").alias("detail_rows"),
                    F.col("__diff").alias("difference")))


def join_health(left: DataFrame, right: DataFrame, lkey: str,
                rkey: str) -> DataFrame:
    """EXT (R98): pre-join health report for a (fact, dim) key pair — the
    audit a data engineer runs BEFORE shipping a join. One (metric, value)
    row each for: row counts, distinct non-null keys, NULL-key rows per
    side (dropped by an inner equi-join), matched distinct keys, orphan
    distinct keys per side, the right side's max per-key fanout (the
    row-explosion risk), and the exact inner-join output cardinality
    (Σ lcnt·rcnt over matched keys) — all exact integers.

    Scale shape: each fact table is scanned EXACTLY ONCE, collapsing to
    a (key, count) table (partial counts fold map-side) that keeps the
    NULL-key group as a row; the two key tables meet in one full-outer
    join (NULL keys never equality-match, so each side's NULL group
    surfaces as a one-sided row the aggregate classifies by ``__k IS
    NULL``), and every metric — row totals, NULL drops, orphans, fanout,
    output cardinality — falls out of ONE aggregate over that join. The
    report is one explode over the single aggregate row; nothing is
    driver-side."""
    lk = (left.groupBy(F.col(lkey).alias("__k"))
          .agg(F.count(F.lit(1)).alias("__lc")))
    rk = (right.groupBy(F.col(rkey).alias("__k"))
          .agg(F.count(F.lit(1)).alias("__rc")))
    keys = lk.join(rk, "__k", "full_outer")
    k_ok = F.col("__k").isNotNull()
    one = keys.agg(
        F.coalesce(F.sum("__lc"), F.lit(0)).alias("l_rows"),
        F.coalesce(F.sum("__rc"), F.lit(0)).alias("r_rows"),
        F.coalesce(F.sum(F.when(~k_ok, F.col("__lc"))),
                   F.lit(0)).alias("l_null_rows"),
        F.coalesce(F.sum(F.when(~k_ok, F.col("__rc"))),
                   F.lit(0)).alias("r_null_rows"),
        F.count(F.when(k_ok & F.col("__lc").isNotNull(), 1))
         .alias("l_distinct"),
        F.count(F.when(k_ok & F.col("__rc").isNotNull(), 1))
         .alias("r_distinct"),
        F.count(F.when(F.col("__lc").isNotNull() & F.col("__rc").isNotNull(),
                       1)).alias("matched"),
        F.count(F.when(k_ok & F.col("__lc").isNotNull() &
                       F.col("__rc").isNull(), 1)).alias("l_orphan"),
        F.count(F.when(k_ok & F.col("__rc").isNotNull() &
                       F.col("__lc").isNull(), 1)).alias("r_orphan"),
        F.coalesce(F.max(F.when(k_ok, F.col("__rc"))), F.lit(0))
         .alias("max_r_fanout"),
        F.coalesce(F.sum(F.when(
            F.col("__lc").isNotNull() & F.col("__rc").isNotNull(),
            F.col("__lc") * F.col("__rc"))), F.lit(0)).alias("join_rows"))
    metrics = ["l_rows", "r_rows", "l_null_rows", "r_null_rows",
               "l_distinct", "r_distinct", "matched", "l_orphan",
               "r_orphan", "max_r_fanout", "join_rows"]
    return (one.select(F.explode(F.array(*[
                F.struct(F.lit(m).alias("metric"),
                         F.col(m).cast("long").alias("value"))
                for m in metrics])).alias("__m"))
            .select("__m.metric", "__m.value"))


def referential_integrity(
        checks: list[tuple[str, DataFrame, str, DataFrame, str]]
) -> DataFrame:
    """EXT (R160, round 6): whole-schema FK sweep — one report row per
    declared (child.fk → parent.pk) relationship: child row count,
    NULL-FK rows (silently dropped by inner joins), orphan rows and
    distinct orphan keys (FK values with no parent). The schema-wide
    generalization of ``join_health``'s single-pair audit — the nightly
    RI check a warehouse runs over every declared relationship at once.

    ``checks``: list of ``(name, child_df, fk_col, parent_df, pk_col)``.

    Scale shape: each child collapses to a (key, count) surface with
    map-side partial counts — child tables are scanned once and their
    rows never shuffle; parent KEY SETS are dim-cardinality (broadcast
    candidates, AQE decides) met by one anti join per FK; each check
    reduces to a 1-row aggregate and the report is the union of those
    single rows."""
    from functools import reduce

    outs = []
    for name, child, fk, parent, pk in checks:
        ck = (child.groupBy(F.col(fk).alias("__k"))
              .agg(F.count(F.lit(1)).alias("__c")))
        parents = parent.select(F.col(pk).alias("__k")).distinct()
        orphans = (ck.filter(F.col("__k").isNotNull())
                   .join(parents, "__k", "left_anti"))
        totals = ck.agg(
            F.coalesce(F.sum("__c"), F.lit(0)).cast("long")
             .alias("n_child_rows"),
            F.coalesce(F.sum(F.when(F.col("__k").isNull(), F.col("__c"))),
                       F.lit(0)).cast("long").alias("n_null_fk_rows"))
        orph = orphans.agg(
            F.coalesce(F.sum("__c"), F.lit(0)).cast("long")
             .alias("n_orphan_rows"),
            F.count(F.lit(1)).cast("long").alias("n_orphan_keys"))
        outs.append(totals.crossJoin(orph).select(
            F.lit(name).alias("fk"), "n_child_rows", "n_null_fk_rows",
            "n_orphan_rows", "n_orphan_keys"))
    return reduce(lambda a, b: a.unionByName(b), outs)


def k_anonymity(df: DataFrame, quasi_cols: list[str],
                k: int = 10) -> DataFrame:
    """EXT (R116): k-anonymity audit over a quasi-identifier combination —
    one row per equivalence class (the distinct quasi-identifier tuple)
    with its size and an ``at_risk`` flag for classes smaller than ``k``.
    This is the re-identification screen run before releasing or joining
    user-adjacent tables: any at-risk class pins an individual to ≤ k-1
    candidates. NULL quasi values form their own classes (GROUP BY
    null-groups them), matching the release semantics where NULL is a
    visible value, not an absence.

    Scale shape (100 TB): ONE hash aggregation on the quasi tuple
    (partial counts fold map-side); output cardinality = distinct
    classes, which for release-worthy quasi sets is orders of magnitude
    below row count. Downstream suppression/generalization is then an
    ordinary broadcast-join of the at-risk classes back onto the table."""
    return (df.groupBy(*quasi_cols)
            .agg(F.count(F.lit(1)).alias("class_size"))
            .withColumn("at_risk", F.col("class_size") < k))


def l_diversity(df: DataFrame, quasi_cols: list[str], sensitive,
                l: int = 3) -> DataFrame:
    """EXT (R170, round 6): l-diversity audit — the attribute-disclosure
    companion to ``k_anonymity``. A class can be k-anonymous yet leak the
    SENSITIVE value outright when every member shares it (the homogeneity
    attack k-anonymity cannot see); l-diversity requires ≥ l DISTINCT
    sensitive values per quasi-identifier equivalence class (Machanavajjhala
    et al. 2007, distinct-l variant). One row per class:
    ``class_size``, ``n_sensitive`` (distinct sensitive values, NULL
    counted as a visible value like the quasi columns), ``below_l``.

    Scale shape (100 TB): collapse to the (quasi, sensitive) grid first —
    partial counts fold map-side, so the wide shuffle carries distinct
    combinations, not rows; the second aggregation is over that grid.
    ``count_distinct`` straight on the class would shuffle full rows."""
    grid = (df.groupBy(*quasi_cols,
                       sensitive.alias("__s"))
            .agg(F.count(F.lit(1)).alias("__c")))
    return (grid.groupBy(*quasi_cols)
            .agg(F.sum("__c").cast("long").alias("class_size"),
                 F.count(F.lit(1)).cast("long").alias("n_sensitive"))
            .withColumn("below_l", F.col("n_sensitive") < l))


def t_closeness(df: DataFrame, quasi_cols: list[str], sensitive_ord,
                t: float = 0.2, round_dp: int = 6) -> DataFrame:
    """EXT (R181, round 6): t-closeness audit — the third rung of the
    privacy ladder (``k_anonymity`` bounds re-identification,
    ``l_diversity`` bounds value homogeneity, t-closeness bounds
    DISTRIBUTION SKEW: a class can be l-diverse yet still leak — 90%
    'neg' balances in one class vs 5% globally tells an attacker
    plenty). Per equivalence class: the Earth Mover's Distance between
    the class's sensitive-value distribution and the GLOBAL one, for an
    ORDERED sensitive attribute with unit spacing (the standard ordinal
    EMD = mean |cumulative difference|), flagged when it exceeds ``t``.

    ``sensitive_ord`` must be an integer BAND expression (0..m−1) —
    ordinal EMD needs an order, and integer bands make every cumulative
    count exact. The EMD numerator is scaled through by n_class·N:
    Σ_j |N·cumc_j − n_c·cumg_j| over the m−1 interior boundaries —
    EXACT integers; ``t_stat`` = that / (n_c·N·(m−1)), ONE division,
    ROUND 6.

    Scale shape (100 TB): one hash agg to the (class, band) grid,
    scaffolded DENSE against the distinct-class × band frame (a missing
    band still contributes its |cum| boundary term); cumulative windows
    partition by class over m bands; the m-row global distribution
    broadcasts."""
    grid = (df.groupBy(*quasi_cols, sensitive_ord.cast("long")
                       .alias("__b"))
            .agg(F.count(F.lit(1)).cast("long").alias("__c")))
    classes = grid.groupBy(*quasi_cols).agg(
        F.sum("__c").cast("long").alias("__nc"))
    bands = grid.groupBy("__b").agg(F.sum("__c").cast("long").alias("__g"))
    m = bands.agg(F.count(F.lit(1)).cast("long").alias("__m"),
                  F.sum("__g").cast("long").alias("__n"),
                  F.max("__b").cast("long").alias("__bmax"))
    dense = (classes.crossJoin(F.broadcast(bands.select("__b")))
             .join(grid, [*quasi_cols, "__b"], "left")
             .withColumn("__c", F.coalesce("__c", F.lit(0))))
    w_cum = (Window.partitionBy(*quasi_cols).orderBy("__b")
             .rowsBetween(Window.unboundedPreceding, 0))
    w_g = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, 0)
    gcum = bands.select("__b", F.sum("__g").over(w_g).cast("long")
                        .alias("__cumg"))
    scored = (dense
              .withColumn("__cumc", F.sum("__c").over(w_cum).cast("long"))
              .join(F.broadcast(gcum), "__b")
              .crossJoin(F.broadcast(m)))
    emd = (scored.filter(F.col("__b") != F.col("__bmax"))
           .groupBy(*quasi_cols)
           .agg(F.sum(F.abs(F.col("__n") * F.col("__cumc")
                            - F.col("__nc") * F.col("__cumg")))
                .cast("long").alias("emd_scaled"),
                F.max("__nc").cast("long").alias("class_size"),
                F.max("__n").alias("__n"), F.max("__m").alias("__m")))
    t_stat = F.round(
        F.col("emd_scaled").cast("double")
        / (F.col("class_size") * F.col("__n")
           * (F.col("__m") - 1)).cast("double"), round_dp)
    return emd.select(*quasi_cols, "class_size", "emd_scaled",
                      t_stat.alias("t_stat"),
                      (t_stat > t).alias("above_t"))


def chi_square_cells(df: DataFrame, col_a: str, col_b: str,
                     round_dp: int = 6) -> DataFrame:
    """EXT (R172, round 6): chi-square independence screen between two
    categorical columns, reported PER CELL — one row per observed
    (a, b) combination with the observed count, the expected count
    under independence, and the cell's chi-square contribution
    (o − e)²/e. Per-cell rows instead of the summed statistic by
    design: the multiset compare is order-free (a float SUM over cells
    would be summation-order-dependent across engines), and the cells
    ARE the diagnosis — the drilldown that says WHICH combination
    breaks independence, which the scalar statistic cannot.

    Exactness: o, row/column totals r, c and N are exact integers;
    e = r·c/N and the contribution ((o·N − r·c)/N-free form
    (o·N − r·c)²/(r·c·N)) are each ONE fixed-shape IEEE expression
    over those integers, ROUND 6. The integer products run in
    decimal(38,0) — r·c·N overflows int64 past ~10⁸ total rows (the
    class the round-10 sf10 probe caught in the sibling
    ``keyness_terms``), and decimal keeps the arithmetic EXACT with a
    single final rounding at the cast to double, bit-identical to the
    long path in-range.

    Scale shape (100 TB): one hash agg to the (a, b) grid (map-side
    partial), two grid-sized aggs for the margins, margins broadcast
    back onto the grid — nothing after the first agg is row-scale."""
    dec = "decimal(38,0)"
    grid = (df.groupBy(F.col(col_a).alias("__a"), F.col(col_b).alias("__b"))
            .agg(F.count(F.lit(1)).cast("long").alias("__o")))
    ra = grid.groupBy("__a").agg(F.sum("__o").cast("long").alias("__r"))
    cb = grid.groupBy("__b").agg(F.sum("__o").cast("long").alias("__c"))
    n = grid.agg(F.sum("__o").cast("long").alias("__n"))
    rc = F.col("__r").cast(dec) * F.col("__c").cast(dec)
    d = (F.col("__o").cast(dec) * F.col("__n").cast(dec) - rc) \
        .cast("double")
    chi = d * d / (rc * F.col("__n").cast(dec)).cast("double")
    return (grid.join(F.broadcast(ra), "__a")
            .join(F.broadcast(cb), "__b")
            .crossJoin(F.broadcast(n))
            .select(F.col("__a").alias(col_a), F.col("__b").alias(col_b),
                    F.col("__o").alias("observed"),
                    F.round(rc.cast("double")
                            / F.col("__n").cast("double"),
                            round_dp).alias("expected"),
                    F.round(chi, round_dp).alias("chi_cell")))


def drift_report(before: DataFrame, after: DataFrame, key_cols: list[str],
                 compare_cols: list[str]) -> DataFrame:
    """EXT (R128): snapshot drift report — the data-contract monitor run
    between two versions of a keyed table. Long (metric, value) rows:
    ``keys_added`` / ``keys_removed`` / ``keys_matched``, and one
    ``changed:<col>`` row per compared column counting matched keys
    whose value differs (NULL-safe: NULL→value and value→NULL count as
    changes, NULL→NULL does not). ``audit_diff_keyed`` emits the per-row
    change log; this is its aggregate twin for dashboards/alerts.

    Scale shape: ONE full-outer join on the key, then ONE aggregate —
    every per-column counter folds map-side off the same joined row;
    adding a compared column adds no scan and no shuffle."""
    # explicit presence markers, NOT key-null probes: a row whose key
    # columns are themselves NULL is still PRESENT on its side (eqNullSafe
    # matches it), and a key-null test would drop it from every counter
    b = before.withColumn("__pb", F.lit(1)).alias("b")
    a = after.withColumn("__pa", F.lit(1)).alias("a")
    cond = None
    for k in key_cols:
        c = F.col(f"b.{k}").eqNullSafe(F.col(f"a.{k}"))
        cond = c if cond is None else cond & c
    j = b.join(a, cond, "full_outer")
    in_b = F.col("b.__pb").isNotNull()
    in_a = F.col("a.__pa").isNotNull()
    aggs = [
        F.count(F.when(in_a & ~in_b, 1)).alias("keys_added"),
        F.count(F.when(in_b & ~in_a, 1)).alias("keys_removed"),
        F.count(F.when(in_b & in_a, 1)).alias("keys_matched"),
    ]
    names = ["keys_added", "keys_removed", "keys_matched"]
    for c in compare_cols:
        nm = f"changed:{c}"
        aggs.append(F.count(F.when(
            in_b & in_a & ~F.col(f"b.{c}").eqNullSafe(F.col(f"a.{c}")), 1))
            .alias(f"__ch_{len(names)}"))
        names.append(nm)
    one = j.agg(*aggs)
    cols = one.columns
    return (one.select(F.explode(F.array(*[
                F.struct(F.lit(nm).alias("metric"),
                         F.col(cols[i]).cast("long").alias("value"))
                for i, nm in enumerate(names)])).alias("__m"))
            .select("__m.metric", "__m.value"))


def benford_audit(df: DataFrame, value_col, min_value: int = 1) -> DataFrame:
    """EXT (R129): Benford first-digit audit — the classic fabricated-
    numbers screen for financial/measurement columns. One row per
    leading digit 1-9: observed count, observed fraction, the Benford
    expectation log10(1+1/d), and the excess (obs − expected). Values
    below ``min_value`` are excluded (Benford applies to magnitudes
    spanning decades, not zeros/fractions).

    Engine-invariance: the leading digit comes from the INTEGER part via
    bigint→string (never double formatting); fractions are exact count
    ratios; the expected constants are driver-side literals, so no
    cross-libm log10 enters either plan. ONE aggregation over a map-side
    projection."""
    import math
    digit = F.substring(F.floor(value_col).cast("long").cast("string"), 1, 1)
    counts = (df.filter(value_col >= min_value)
              .select(digit.cast("int").alias("digit"))
              .groupBy("digit").agg(F.count(F.lit(1)).alias("n")))
    total = counts.agg(F.sum("n").alias("__t"))
    exp_map = F.create_map(*[x for d in range(1, 10)
                             for x in (F.lit(d),
                                       F.lit(round(math.log10(1 + 1 / d), 6)))])
    return (counts.crossJoin(F.broadcast(total))
            .withColumn("frac", F.round(F.col("n").cast("double")
                                        / F.col("__t").cast("double"), 6))
            .withColumn("expected", exp_map[F.col("digit")])
            .select("digit", "n", "frac", "expected",
                    F.round(F.col("frac") - F.col("expected"), 6)
                    .alias("excess")))


def observe_metrics(df: DataFrame, name: str, metrics: dict):
    """EXT (R136): zero-cost pipeline observability via ``df.observe`` —
    named aggregate metrics (row counts, null counts, sums) collected as
    a SIDE EFFECT of whatever action already runs the frame: no second
    scan, no extra job, exactly the numbers for the batch the sink
    actually wrote (a separate metrics query could race a changing
    source). This is the engine-native form of the reference's
    validation queries (`process_publications_dag.py:486-535`), which
    re-scan every table they audit.

    Returns ``(df_observed, observation)``; read
    ``observation.get`` AFTER an action. Metrics must be aggregate
    expressions (Spark enforces); per-row asserts belong to
    ``expectations``."""
    from pyspark.sql import Observation
    obs = Observation(name)
    return df.observe(obs, *[expr.alias(nm) for nm, expr in metrics.items()]), obs


def psi_report(base: DataFrame, current: DataFrame, value_int,
               bin_width: int) -> DataFrame:
    """EXT (R138): population stability index report — the standard
    ML-monitoring drift metric between a baseline and a current window
    of the same measure. One row per occupied bin: counts, smoothed
    shares p/q, and the PSI contribution (p−q)·ln(p/q); the total PSI is
    the caller's sum (per-bin rows show WHICH bins drifted — the number
    alone does not). Rule of thumb: Σ < 0.1 stable, 0.1–0.25 drifting,
    > 0.25 shifted.

    Determinism: bins are integer ``value DIV bin_width``; shares use
    add-one smoothing over the union bin domain — (c+1)/(n+B) with B =
    occupied union bins — so empty-on-one-side bins contribute finite
    terms, and every share is an exact-integer ratio evaluated in one
    fixed IEEE expression (the ln is the same libm call the green
    TF-IDF oracle already crosses engines with). Scale shape: two
    histogram aggregations (map-side partials), a full-outer join on the
    tiny bin domain, scalar totals broadcast back."""
    def hist(d, out):
        # floor-div, NOT float-div+CAST: a bare CAST truncates in Spark
        # but ROUNDS in DuckDB (the R100 lesson)
        return (d.select(F.floor(value_int.cast("long") / F.lit(bin_width))
                         .cast("long").alias("__bin"))
                .groupBy("__bin").agg(F.count(F.lit(1)).alias(out)))

    hb, hc = hist(base, "__cb"), hist(current, "__cc")
    bins = hb.join(hc, "__bin", "full_outer") \
             .select("__bin", F.coalesce("__cb", F.lit(0)).alias("__cb"),
                     F.coalesce("__cc", F.lit(0)).alias("__cc"))
    tots = bins.agg(F.sum("__cb").alias("__nb"), F.sum("__cc").alias("__nc"),
                    F.count(F.lit(1)).alias("__B"))
    j = bins.crossJoin(F.broadcast(tots))
    p = ((F.col("__cb") + 1).cast("double")
         / (F.col("__nb") + F.col("__B")).cast("double"))
    q = ((F.col("__cc") + 1).cast("double")
         / (F.col("__nc") + F.col("__B")).cast("double"))
    return j.select(
        F.col("__bin").alias("bin"),
        F.col("__cb").cast("long").alias("n_base"),
        F.col("__cc").cast("long").alias("n_current"),
        F.round(p, 8).alias("p"), F.round(q, 8).alias("q"),
        F.round((p - q) * F.log(p / q), 8).alias("psi_contrib"))


def selection_rate_parity(df: DataFrame, group_col: str, select_pred,
                          threshold_num: int = 4, threshold_den: int = 5,
                          round_dp: int = 6) -> DataFrame:
    """EXT (R201, round 6): SELECTION-RATE PARITY audit — the
    disparate-impact screen (EEOC "four-fifths rule" shape) applied to
    any filter: per group, the pass rate of ``select_pred`` and its
    ratio to the highest group's rate, flagged when the ratio falls
    under ``threshold_num/threshold_den``. For a corpus filter this is
    the bias readout: a quality screen that passes 80% of English but
    22% of Spanish is quietly rewriting the language mix.

    Exactness: counts are integers; the flag compares CROSS-MULTIPLIED
    integers (rate_g·den·n_sel_max·n_max ordering rearranged to
    ``sel_g·n_max·den < sel_max·n_g·num``) so the four-fifths decision
    itself never touches a float; the reported rates/ratio are ROUND-6
    conveniences. The max-rate group is selected by exact fraction
    comparison via ROW_NUMBER over (sel·1 per-group rates
    cross-multiplied through a double only for ordering — ties broken
    on the group value).

    Scale: one conditional hash agg per group + a broadcast 1-row max."""
    g = (df.groupBy(F.col(group_col).alias("__g"))
         .agg(F.count(F.lit(1)).cast("long").alias("__n"),
              F.count(F.when(select_pred, 1)).cast("long").alias("__s")))
    w = Window.orderBy((F.col("__s").cast("double")
                        / F.col("__n").cast("double")).desc(),
                       F.col("__g").asc())
    best = (g.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(F.col("__n").alias("__n_max"),
                    F.col("__s").alias("__s_max")))
    flag = (F.col("__s") * F.col("__n_max") * threshold_den
            < F.col("__s_max") * F.col("__n") * threshold_num)
    return (g.crossJoin(F.broadcast(best))
            .select(F.col("__g").alias(group_col),
                    F.col("__n").alias("n_rows"),
                    F.col("__s").alias("n_selected"),
                    F.round(F.col("__s").cast("double")
                            / F.col("__n").cast("double"), round_dp)
                    .alias("selection_rate"),
                    F.when(F.col("__s_max") > 0,
                           F.round((F.col("__s") * F.col("__n_max"))
                                   .cast("double")
                                   / (F.col("__s_max") * F.col("__n"))
                                   .cast("double"), round_dp))
                    .alias("impact_ratio"),
                    flag.alias("below_threshold")))


def freshness_report(df: DataFrame, group_col: str, ts_col: str,
                     stale_after_s: int = 86_400) -> DataFrame:
    """EXT (R215, round 6): per-group freshness audit — the first
    question asked of any landed table: WHICH feeds have stopped
    moving? Per group: row volume, last event time, lag behind the
    NEWEST row anywhere in the table, arrivals inside the trailing
    24 h window (anchored at that global max — reproducible, unlike
    wall-clock ``now()``), and the stale flag at ``stale_after_s``.

    Anchoring on the data's own max keeps the report deterministic and
    engine-portable (the F8 current-timestamp surface stays rows-only
    by design; this one oracles exactly). All arithmetic is integer
    epoch seconds.

    Scale shape: two scans — the per-group reduce (which also folds to
    the one-row anchor), then the anchored trailing-window count (the
    anchor is data-dependent, so one pass cannot know it); both
    collapse map-side, no windows, shuffles carry group rows only."""
    ep = F.floor(F.unix_micros(F.col(ts_col)) / 1_000_000).cast("long")
    per = (df.select(F.col(group_col).alias("grp"), ep.alias("__ep"))
           .groupBy("grp")
           .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.max("__ep").alias("last_epoch")))
    anchor = per.agg(F.max("last_epoch").alias("__anchor"))
    day = (df.select(F.col(group_col).alias("grp"), ep.alias("__ep"))
           .crossJoin(F.broadcast(anchor))
           .filter(F.col("__ep") >= F.col("__anchor") - 86_400)
           .groupBy("grp")
           .agg(F.count(F.lit(1)).cast("long").alias("rows_last_day")))
    return (per.crossJoin(F.broadcast(anchor))
            .join(day, "grp", "left")
            .select(F.col("grp").alias(group_col), "n_rows", "last_epoch",
                    (F.col("__anchor") - F.col("last_epoch")).cast("long")
                    .alias("lag_seconds"),
                    F.coalesce("rows_last_day", F.lit(0)).cast("long")
                    .alias("rows_last_day"),
                    ((F.col("__anchor") - F.col("last_epoch"))
                     > stale_after_s).alias("is_stale")))


def fd_profile(df: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    """EXT (round 6): functional-dependency violation profile — for
    each candidate (determinant → dependent) column pair, how close the
    data comes to satisfying lhs → rhs. The schema-discovery /
    data-contract primitive: a "violating_groups = 0" row certifies a
    dependable join key or snapshot invariant; a high violation rate
    kills a proposed normalization before it ships.

    Per pair: (lhs, rhs, n_groups, violating_groups, violation_rate,
    max_rhs_per_lhs) where a group violates iff its lhs value maps to
    more than one DISTINCT non-null rhs (SQL semantics: NULLs don't
    count as a witness — document the contract, don't fight it).

    Scale: each pair is one hash aggregation on the determinant plus a
    scalar rollup — pairs run as a UNION of independent aggs so
    Catalyst schedules them as parallel jobs sharing the scan; nothing
    is quadratic in columns unless the caller asks for every pair."""
    outs = []
    for lhs, rhs in pairs:
        per = (df.groupBy(F.col(lhs).alias("__k"))
               .agg(F.countDistinct(F.col(rhs)).alias("__d")))
        outs.append(per.agg(
            F.lit(lhs).alias("determinant"),
            F.lit(rhs).alias("dependent"),
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum(F.when(F.col("__d") > 1, 1).otherwise(0))
             .cast("long").alias("violating_groups"),
            F.round(F.sum(F.when(F.col("__d") > 1, 1).otherwise(0))
                    .cast("double")
                    / F.count(F.lit(1)).cast("double"), 6)
             .alias("violation_rate"),
            F.max("__d").cast("long").alias("max_rhs_per_lhs")))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def key_variant_conflicts(df: DataFrame, key_col: str) -> DataFrame:
    """EXT (round 6): case/whitespace-variant key conflicts — groups of
    raw key strings that collapse to the same normalized form (lower,
    trim, inner-whitespace squeeze) but differ raw. THE classic silent
    join-killer: 'Acme Corp' vs 'acme  corp' vs ' ACME CORP ' load as
    three dimension rows and split every metric three ways. Output one
    row per conflicted normalized key: (norm_key, n_variants, n_rows,
    variants — '|'-joined sorted raw forms).

    One hash agg on the normalized key; the variant list is
    sort_array'd before joining so the report string is deterministic.
    A clean table returns ZERO rows — cheap to schedule as a gate."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(key_col), r"\s+", " ")))
    per = (df.select(norm.alias("__nk"), F.col(key_col).alias("__raw"))
           .groupBy("__nk")
           .agg(F.countDistinct("__raw").alias("n_variants"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.array_join(F.sort_array(F.collect_set("__raw")),
                             "|").alias("variants")))
    return (per.filter(F.col("n_variants") > 1)
            .select(F.col("__nk").alias("norm_key"),
                    F.col("n_variants").cast("long").alias("n_variants"),
                    "n_rows", "variants"))


def duplicate_payments(orders: DataFrame,
                       max_gap_days: int = 1) -> DataFrame:
    """EXT (round 6): duplicate-payment screen — pairs of orders by
    the SAME customer for the SAME amount within ``max_gap_days``. The
    classic double-charge / double-load detector: exact-key dedup
    (A6/L1) can't see these because the order keys differ and the
    dates differ by a day.

    Blocking join on (customer, exact cents) — the natural composite
    block, so the join never fans out beyond true amount collisions —
    then an integer day-gap filter and id-ordered exactly-once pairs.
    Output: (o_custkey, amount_cents, orderkey_a, orderkey_b,
    gap_days)."""
    d = F.expr("unix_date(CAST(o_orderdate AS DATE))").cast("long")
    base = orders.select(
        F.col("o_custkey").alias("__c"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("__v"),
        F.col("o_orderkey").alias("__k"), d.alias("__d"))
    a = base.select(F.col("__c"), F.col("__v"),
                    F.col("__k").alias("__ka"), F.col("__d").alias("__da"))
    b = base.select(F.col("__c").alias("__cb"),
                    F.col("__v").alias("__vb"),
                    F.col("__k").alias("__kb"), F.col("__d").alias("__db"))
    return (a.join(b, (F.col("__c") == F.col("__cb"))
                   & (F.col("__v") == F.col("__vb"))
                   & (F.col("__ka") < F.col("__kb")))
            .filter(F.abs(F.col("__db") - F.col("__da"))
                    <= max_gap_days)
            .select(F.col("__c").alias("o_custkey"),
                    F.col("__v").alias("amount_cents"),
                    F.col("__ka").alias("orderkey_a"),
                    F.col("__kb").alias("orderkey_b"),
                    F.abs(F.col("__db") - F.col("__da")).cast("long")
                    .alias("gap_days")))


def status_consistency(orders: DataFrame,
                       lineitem: DataFrame) -> DataFrame:
    """EXT (round 6): cross-table SEMANTIC consistency audit — the
    referential-integrity family (R44/R98) checks that keys exist;
    this checks that the denormalized STATE AGREES: an order marked
    fulfilled ('F') whose lines still show open ('O') is a pipeline
    ordering bug even though every key resolves. Per order status:
    order counts by line-state mix (all-F / all-O / mixed) and the
    violation count under the rule {F ⇒ all lines F, O ⇒ all lines O,
    P ⇒ anything}.

    One per-order conditional agg on the join, one status-grain
    rollup — integers end to end."""
    j = orders.join(lineitem,
                    orders["o_orderkey"] == lineitem["l_orderkey"])
    per_order = (j.groupBy(F.col("o_orderkey").alias("__k"),
                           F.col("o_orderstatus").alias("__s"))
                 .agg(F.sum(F.when(F.col("l_linestatus") == "F", 1)
                            .otherwise(0)).alias("__nf"),
                      F.count(F.lit(1)).alias("__nl")))
    all_f = F.col("__nf") == F.col("__nl")
    all_o = F.col("__nf") == 0
    viol = ((F.col("__s") == "F") & ~all_f) \
        | ((F.col("__s") == "O") & ~all_o)
    return (per_order.groupBy(F.col("__s").alias("o_orderstatus"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.sum(F.when(all_f, 1).otherwise(0)).cast("long")
                  .alias("n_all_f"),
                 F.sum(F.when(all_o, 1).otherwise(0)).cast("long")
                  .alias("n_all_o"),
                 F.sum(F.when(~all_f & ~all_o, 1).otherwise(0))
                  .cast("long").alias("n_mixed"),
                 F.sum(F.when(viol, 1).otherwise(0)).cast("long")
                  .alias("n_violating")))


def pipeline_card(events: DataFrame, id_col: str = "event_id",
                  user_col: str = "user_id", ts_col: str = "ts",
                  value_col: str = "value",
                  round_dp: int = 6) -> DataFrame:
    """EXT (round 6): one-row EVENTS PIPELINE CARD — the stream-health
    header next to R300's corpus card: volume (events, users, day
    span), intensity (events/user), hygiene (null-value rate,
    duplicate-event-id rate), and concentration (busiest day + its
    share — a day holding 30% of events is a backfill, not traffic).

    Exact integers with single divisions; the busiest day is a
    struct-min argmax ((−count, day) — earliest day on ties); dup
    rate = 1 − distinct(id)/n. Two hash aggs + scalars."""
    day = F.expr(f"unix_date(CAST({ts_col} AS DATE))").cast("long")
    scal = events.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct(F.col(user_col)).cast("long").alias("n_users"),
        F.countDistinct(F.col(id_col)).cast("long").alias("__nid"),
        (F.max(day) - F.min(day) + 1).cast("long").alias("span_days"),
        F.sum(F.when(F.col(value_col).isNull(), 1).otherwise(0))
         .cast("long").alias("__nnull"))
    daily = (events.select(day.alias("__d"))
             .groupBy("__d").agg(F.count(F.lit(1)).alias("__c"))
             .agg(F.min(F.struct((-F.col("__c")).alias("nc"),
                                 F.col("__d").alias("d")))
                  .alias("__t"))
             .select(F.col("__t.d").alias("busiest_day"),
                     (-F.col("__t.nc")).cast("long").alias("__bc")))
    n = F.col("n_events").cast("double")
    return (scal.crossJoin(F.broadcast(daily))
            .select("n_events", "n_users", "span_days",
                    F.round(F.try_divide(n, F.col("n_users").cast("double")),
                            round_dp).alias("events_per_user"),
                    F.round(F.try_divide(F.col("__nnull").cast("double"), n),
                            round_dp).alias("null_value_rate"),
                    F.round(F.try_divide((F.col("n_events") - F.col("__nid"))
                                         .cast("double"), n), round_dp)
                    .alias("dup_id_rate"),
                    "busiest_day",
                    F.round(F.try_divide(F.col("__bc").cast("double"), n),
                            round_dp).alias("busiest_day_share")))


def pchart(df: DataFrame, period_col, defect_pred,
           round_dp: int = 6) -> DataFrame:
    """EXT (round 6): SPC p-chart — per period, the defect proportion
    against the grand centerline with 3σ binomial control limits
    (σ_w = √(p̄(1−p̄)/n_w), the textbook attribute chart). The
    manufacturing-grade drift alarm: unlike PSI/KS (distribution
    drift), the p-chart answers "is THIS week's rate outside common-
    cause variation" with per-period sample-size-aware limits.

    The out-of-control flag NEVER touches a float:
    |p_w − p̄| > 3σ_w  ⟺  (k_w·N − K·n_w)² > 9·K·(N−K)·n_w — exact
    decimal cross-products. Reported rate/limits are fixed-shape
    floats for humans. One period hash agg + a broadcast scalar."""
    dec = "decimal(38,0)"
    base = df.select(period_col.cast("long").alias("__p"),
                     F.when(defect_pred, 1).otherwise(0).alias("__y"))
    per = base.groupBy("__p").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__y").cast("long").alias("__k"))
    # __tn/__tk, not __N/__K: Spark resolves case-insensitively and
    # __N collides with __n (the recurring R256 lesson)
    tot = F.broadcast(per.agg(F.sum("__n").cast("long").alias("__tn"),
                              F.sum("__k").cast("long").alias("__tk")))
    j = per.crossJoin(tot)
    nD, kD = F.col("__n").cast(dec), F.col("__k").cast(dec)
    ND, KD = F.col("__tn").cast(dec), F.col("__tk").cast(dec)
    lhs = (kD * ND - KD * nD)
    ooc = lhs * lhs > F.lit(9).cast(dec) * KD * (ND - KD) * nD
    pbar = F.col("__tk").cast("double") / F.col("__tn").cast("double")
    sig = F.sqrt(pbar * (1 - pbar) / F.col("__n").cast("double"))
    return j.select(
        F.col("__p").alias("period"),
        F.col("__n").alias("n"), F.col("__k").alias("n_defect"),
        F.round(F.col("__k").cast("double")
                / F.col("__n").cast("double"), round_dp).alias("rate"),
        F.round(pbar, round_dp).alias("centerline"),
        F.round(F.greatest(pbar - 3 * sig, F.lit(0.0)), round_dp)
         .alias("lcl"),
        F.round(F.least(pbar + 3 * sig, F.lit(1.0)), round_dp)
         .alias("ucl"),
        ooc.alias("out_of_control"))


def contingency_residuals(df: DataFrame, row_col: str, col_col: str,
                          round_dp: int = 6) -> DataFrame:
    """EXT (round 6): Pearson-residual cells of a contingency table —
    the drill-down behind the omnibus chi-square (R192 says "lang and
    source are dependent"; this names WHICH cells drive it). Per cell:
    observed, expected, residual (o−e)/√e, and a |r|>3 flag.

    The residual is (oN − rc)/√(rcN) — integer numerator, one sqrt of
    an exact integer product; the flag integerizes as
    (oN − rc)² > 9·r·c·N, so a cell exactly at 3σ can't flip engines.
    Grid-sized aggregation throughout."""
    dec = "decimal(38,0)"
    cells = (df.groupBy(F.col(row_col).alias("__r"),
                        F.col(col_col).alias("__c"))
             .agg(F.count(F.lit(1)).cast("long").alias("__o")))
    rm = (cells.select(F.col("__r").alias("__rr"), F.col("__o"))
          .groupBy("__rr").agg(F.sum("__o").cast("long").alias("__rt")))
    cm = (cells.select(F.col("__c").alias("__cc"), F.col("__o"))
          .groupBy("__cc").agg(F.sum("__o").cast("long").alias("__ct")))
    nn = F.broadcast(cells.agg(F.sum("__o").cast("long").alias("__nn")))
    j = (cells.join(F.broadcast(rm), F.col("__r") == F.col("__rr"))
         .join(F.broadcast(cm), F.col("__c") == F.col("__cc"))
         .crossJoin(nn))
    oD, rD = F.col("__o").cast(dec), F.col("__rt").cast(dec)
    cD, ND = F.col("__ct").cast(dec), F.col("__nn").cast(dec)
    num = oD * ND - rD * cD
    flag = num * num > F.lit(9).cast(dec) * rD * cD * ND
    exp = (F.col("__rt").cast("double") * F.col("__ct").cast("double")
           / F.col("__nn").cast("double"))
    resid = (num.cast("double")
             / F.sqrt((rD * cD * ND).cast("double")))
    return j.select(F.col("__r").alias(row_col),
                    F.col("__c").alias(col_col),
                    F.col("__o").alias("observed"),
                    F.round(exp, round_dp).alias("expected"),
                    F.round(resid, round_dp).alias("residual"),
                    flag.alias("significant"))
