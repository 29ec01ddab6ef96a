"""Relational core (SURVEY §2.2-§2.4, §2.6-§2.7).

Every operator here is a thin, documented composition of stock DataFrame
calls: the WHOLE point of the rebuild is that the reference's psycopg2 SQL
strings and N+1 Python loops map onto Catalyst-optimized declarative plans.
Wrappers exist to (a) pin the reference's exact semantics (NULL handling,
count(col) vs count(*), NOT-IN-vs-anti-join), (b) carry the scale rationale
in one place.

Scale notes that apply module-wide:
- joins: Catalyst picks broadcast-hash when one side fits
  ``spark.sql.autoBroadcastJoinThreshold``; AQE upgrades sort-merge →
  broadcast at runtime using real sizes. Callers can force with
  ``F.broadcast`` for dimensions known-small (region/nation-class tables).
- aggregations: hash aggregation with map-side partial aggregation is
  automatic — ``groupBy(...).agg(...)`` ships one combined row per
  (partition, key), not raw rows.
- global sorts are range-partitioned; sort+limit collapses to
  TakeOrderedAndProject (true top-k, no full materialized sort).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------- projections

def project(df: DataFrame, *cols: str | Column) -> DataFrame:
    """P1: column projection (``SELECT id, title`` at
    ``process_publications_dag.py:311,377,170``). Catalyst column pruning
    pushes this into the parquet scan's ReadSchema."""
    return df.select(*cols)


# ------------------------------------------------------------------- filters

def filter_rows(df: DataFrame, predicate: Column) -> DataFrame:
    """P3-P6: predicate filter. The reference's DELETEs
    (``process_publications_dag.py:97-106``) become keep-filters with the
    predicate negated + table rewrite. Predicates composed from built-in
    functions stay inside whole-stage codegen and push down to parquet
    row-group stats."""
    return df.filter(predicate)


def min_trimmed_length(col: str, min_len: int) -> Column:
    """P3 predicate: ``char_length(trim(title)) >= n``
    (``process_publications_dag.py:97-100``)."""
    return F.length(F.trim(F.col(col))) >= min_len


def null_or_blank(col: str) -> Column:
    """P5 predicate: ``doi IS NULL OR trim(doi) = ''``
    (``process_publications_dag.py:497``)."""
    return F.col(col).isNull() | (F.trim(F.col(col)) == "")


# --------------------------------------------------------------------- joins

def inner_join(left: DataFrame, right: DataFrame, on, broadcast_right: bool = False) -> DataFrame:
    """J1: inner equi-join (``authors JOIN authorship`` at
    ``database and queries aupostgres.sql:102-106``)."""
    return left.join(F.broadcast(right) if broadcast_right else right, on, "inner")


def left_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """J2: left outer join keeping unmatched left rows
    (``LEFT JOIN citations``, ``database and queries aupostgres.sql:108-119``)."""
    return left.join(right, on, "left")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """J4/T1: the reference's ``DELETE ... WHERE id NOT IN (SELECT ...)``
    (``process_publications_dag.py:103-106``) as a left-anti join.

    NOT IN has NULL-poisoning semantics in SQL; the reference applies it to a
    non-null PK component, where anti-join is exactly equivalent — callers
    with nullable probe keys must pre-filter nulls explicitly.
    """
    return left.join(right, on, "left_anti")


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """J5: existence probe. Replaces the reference's per-row
    ``SELECT id FROM authors WHERE name = %s`` N+1 loop
    (``process_publications_dag.py:28-31``) with ONE set-oriented join."""
    return left.join(right, on, "left_semi")


def salted_join(big: DataFrame, small: DataFrame, key: str,
                salt_source: str, salt: int = 8,
                how: str = "inner") -> DataFrame:
    """Skew-mitigated equi-join: scatter the big side's hot keys across
    ``salt`` sub-keys, replicate the small side ``salt``×, join on
    (key, salt).

    When to use: a handful of keys dominate the big side (zipfian user ids,
    null-like sentinel keys) and the small side is too big to broadcast but
    cheap to replicate ``salt``×. AQE's skew-join split handles most cases
    at runtime — this operator is the explicit form for engines/paths where
    AQE can't help (e.g. streaming state partitioning, fixed bucketing).

    ``salt_source``: a column of the BIG side used to derive a deterministic
    salt (any well-distributed column, e.g. the row's unique id) — rerun-
    stable, unlike ``rand()``-based salting, so retried tasks place rows
    identically. Result equals the unsalted join exactly (verified by test).
    """
    if how not in ("inner", "left"):
        # right/full would emit one row per unmatched small-side REPLICA
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    bs = big.withColumn("__salt",
                        F.pmod(F.xxhash64(F.col(salt_source)), F.lit(salt)).cast("int"))
    ss = small.withColumn("__salt",
                          F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    return bs.join(ss, [key, "__salt"], how).drop("__salt")


# -------------------------------------------------------------- aggregations

def group_agg(df: DataFrame, keys: list[str], aggs: list[Column]) -> DataFrame:
    """A1-A3: hash aggregation (partial+final automatic)."""
    return df.groupBy(*keys).agg(*aggs)


def having(df: DataFrame, keys: list[str], agg: Column, post_filter: Column) -> DataFrame:
    """A4: GROUP BY ... HAVING (duplicate audit,
    ``process_publications_dag.py:489``). NB ``F.count(col)`` skips NULLs
    exactly like SQL ``COUNT(doi)`` — the NULL-key group can never be flagged
    (SURVEY §1.3)."""
    return df.groupBy(*keys).agg(agg).filter(post_filter)


# ------------------------------------------------------------ sorts / limits

def top_k(df: DataFrame, order_by: list[Column], k: int) -> DataFrame:
    """O2: ORDER BY ... LIMIT k (``process_publications_dag.py:172-173``).
    Catalyst plans TakeOrderedAndProject: per-partition heaps of size k, then
    a single k-row merge on the driver — no global sort shuffle."""
    return df.orderBy(*order_by).limit(k)


# ---------------------------------------------------------------- set ops

def union_all(a: DataFrame, b: DataFrame) -> DataFrame:
    """T2: append semantics by NAME (repeated-INSERT analog,
    ``process_publications_dag.py:224-232``). ``unionByName`` not positional
    ``union`` — column order drift is a silent corruption at scale."""
    return a.unionByName(b, allowMissingColumns=True)


def except_all(a: DataFrame, b: DataFrame) -> DataFrame:
    """T1 (row-based difference; multiset semantics)."""
    return a.exceptAll(b)


def intersect_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    """T3 EXT: distinct intersection."""
    return a.intersect(b)


def fuzzy_join_blocked(left: DataFrame, right: DataFrame,
                       left_col: str, right_col: str,
                       max_dist: int = 2, prefix: int = 2,
                       out_dist: str = "edit_dist") -> DataFrame:
    """EXT record linkage: edit-distance join with prefix + length-band
    blocking — the standard entity-resolution shape (match typo'd names,
    merged feeds, OCR'd identifiers).

    Candidates join on the BLOCK KEY (lowercased first ``prefix`` chars)
    with an inlined length-band predicate (|len_a − len_b| ≤ max_dist —
    an edit can change length by at most 1), then exact
    ``levenshtein ≤ max_dist`` verifies. Blocking CONTRACT: a true match
    whose first ``prefix`` characters differ is not found — that recall
    bound is the standard blocking trade (an unblocked distance join is
    the all-pairs cartesian this operator exists to avoid); widen recall
    with a second pass on a different key (suffix, phonetic) unioned in.

    Scale: one equi-shuffle on the tiny block key; the quadratic term is
    per-block (bounded by block size, the blocking discipline), and
    ``levenshtein`` is exact integer — cross-engine reproducible
    verbatim, so the oracle replicates blocking AND verification."""
    lnorm = F.lower(F.trim(F.col(left_col)))
    rnorm = F.lower(F.trim(F.col(right_col)))
    a = left.withColumn("__lk", F.substring(lnorm, 1, prefix)) \
            .withColumn("__ln", F.length(lnorm)).alias("a")
    b = right.withColumn("__rk", F.substring(rnorm, 1, prefix)) \
             .withColumn("__rn", F.length(rnorm)).alias("b")
    cond = ((F.col("a.__lk") == F.col("b.__rk"))
            & (F.abs(F.col("a.__ln") - F.col("b.__rn")) <= max_dist))
    dist = F.levenshtein(
        F.lower(F.trim(F.col(f"a.{left_col}"))),
        F.lower(F.trim(F.col(f"b.{right_col}"))))
    return (a.join(b, cond)
            .withColumn(out_dist, dist.cast("int"))
            .filter(F.col(out_dist) <= max_dist)
            .drop("__lk", "__rk", "__ln", "__rn"))


def passjoin_pairs(left: DataFrame, right: DataFrame,
                   left_id: str, left_col: str,
                   right_id: str, right_col: str,
                   max_dist: int = 2,
                   out_dist: str = "edit_dist") -> DataFrame:
    """EXT (R164, round 6): RECALL-COMPLETE edit-distance join via
    Pass-Join segment blocking (Li et al.) — the structural fix for the
    prefix-blocking trade ``fuzzy_join_blocked`` documents: each right
    string splits into ``k+1`` even segments; by pigeonhole, ≤k edits
    leave ≥1 segment untouched, and that segment survives in the left
    string shifted by at most k positions. Candidates are therefore an
    equi-join of right segments against the left side's
    (segment-index, target-length, ±k-window substring) probes — NO
    pair within distance k can be missed (verified against brute force
    in the oracle AND a 3000-trial randomized prototype), unlike prefix
    blocking, whose recall dies when an edit lands in the prefix.

    Scale shape: both sides expand by small constants (right: k+1
    segment rows; left: ≤ (2k+1)²(k+1) probe substrings, most pruned by
    the position windows), the join keys on (substring, segment-index,
    length), and exact ``levenshtein ≤ k`` verifies candidates. All
    arithmetic integer. The key is only as discriminative as the
    segments: on a shared-prefix corpus a whole segment can be common to
    every string, and the join degenerates to the cross product that
    prefix blocking gives. TPC-H's 'Supplier#000000nnn' names do that at
    k = 2 (every name has the same segments 0 and 1):
    ``passjoin_suppliers`` yields 1 000 × 1 000 = 1 000 000 candidates
    for 92 292 verified pairs."""
    k, m = max_dist, max_dist + 1
    ln = F.lower(F.trim(F.col(left_col)))
    rn = F.lower(F.trim(F.col(right_col)))
    lside = (left.withColumn("__ls", ln)
             .withColumn("__Lp", F.length("__ls")))
    rside = (right.withColumn("__rs", rn)
             .withColumn("__Lr", F.length("__rs")))

    def seg_len(i: int, L: str) -> str:
        return (f"(({L}) DIV {m}) + (CASE WHEN {i} >= {m} - (({L}) % {m}) "
                f"THEN 1 ELSE 0 END)")

    def seg_start(i: int, L: str) -> str:
        return (f"{i} * (({L}) DIV {m}) "
                f"+ GREATEST(0, {i} - ({m} - (({L}) % {m}))) + 1")

    rseg = (rside.withColumn("__g", F.explode(F.array(*[
                F.expr(f"struct({i} AS i, "
                       f"CAST({seg_start(i, '__Lr')} AS INT) AS p, "
                       f"CAST({seg_len(i, '__Lr')} AS INT) AS l)")
                for i in range(m)])))
            .filter(F.col("__g.l") >= 1)
            .select(F.col(right_id), F.col(right_col), F.col("__rs"),
                    F.col("__Lr").alias("__tl"),
                    F.col("__g.i").alias("__i"),
                    F.expr("substring(__rs, __g.p, __g.l)").alias("__sub")))

    probe_arrays = []
    for dL in range(-k, k + 1):
        L = f"(__Lp + {dL})"
        for i in range(m):
            l_i, p_i = seg_len(i, L), seg_start(i, L)
            lo = f"GREATEST(1, {p_i} - {k})"
            hi = f"LEAST(__Lp - ({l_i}) + 1, {p_i} + {k})"
            probe_arrays.append(F.expr(
                f"CASE WHEN ({l_i}) >= 1 AND ({hi}) >= ({lo}) THEN "
                f"transform(sequence(CAST({lo} AS INT), CAST({hi} AS INT)), "
                f"  q -> struct({i} AS i, CAST({L} AS INT) AS tl, "
                f"             substring(__ls, q, {l_i}) AS sub)) "
                f"ELSE array() END"))
    lprobe = (lside.withColumn(
                "__g", F.explode(F.flatten(F.array(*probe_arrays))))
              .select(F.col(left_id), F.col(left_col), F.col("__ls"),
                      F.col("__g.i").alias("__i"),
                      F.col("__g.tl").alias("__tl"),
                      F.col("__g.sub").alias("__sub")))

    cand = (lprobe.join(rseg, ["__sub", "__i", "__tl"])
            .select(left_id, left_col, "__ls",
                    right_id, right_col, "__rs")
            .dropDuplicates([left_id, right_id]))
    dist = F.levenshtein(F.col("__ls"), F.col("__rs"))
    return (cand.withColumn(out_dist, dist.cast("int"))
            .filter(F.col(out_dist) <= k)
            .drop("__ls", "__rs"))


def edit_neighbors(df: DataFrame, id_col: str, name_col: str,
                   out_dist: str = "edit_dist") -> DataFrame:
    """EXT (R124): recall-COMPLETE edit-distance-1 self-join via deletion
    neighborhoods (FastSS): every string expands to itself plus its
    single-deletion variants; two strings within edit distance 1 are
    GUARANTEED to share a variant (substitution → delete the differing
    position from both; insertion/deletion → the longer one's deletion
    equals the shorter; equality → identity), so exact ``levenshtein``
    verification of variant-join candidates loses nothing. This closes
    both holes of ``fuzzy_join_blocked``: no prefix-blocking recall gap
    (typos in char 1 are found) and no skew collapse when every string
    shares a prefix block (TPC-H's 'Supplier#...' names put ALL rows in
    one block there; here candidates group by full variant, which is
    near-unique).

    Scale shape (100 TB): fanout = len+1 variant rows per string, each
    carried as an 8-byte ``xxhash64`` (variants never shuffle as
    strings); the join is hash-equi on that digest, candidate pairs
    dedupe before the exact verify, and hash collisions only ever ADD
    candidates the verification kills. Pairs emit once (``id_a <
    id_b``)."""
    nm = F.lower(F.trim(F.col(name_col)))
    base = df.select(F.col(id_col).alias("__id"), nm.alias("__nm"))
    dels = F.transform(
        F.sequence(F.lit(1), F.length("__nm")),
        lambda i: F.concat(F.col("__nm").substr(F.lit(1), i - 1),
                           F.col("__nm").substr(i + 1,
                                                F.length("__nm") - i)))
    var = (base.select("__id", "__nm",
                       F.explode(F.array_union(F.array(F.col("__nm")), dels))
                       .alias("__v"))
           .select("__id", "__nm", F.xxhash64("__v").alias("__vh")))
    a, b = var.alias("a"), var.alias("b")
    cand = (a.join(b, (F.col("a.__vh") == F.col("b.__vh"))
                   & (F.col("a.__id") < F.col("b.__id")))
            .select(F.col("a.__id").alias("id_a"),
                    F.col("b.__id").alias("id_b"),
                    F.col("a.__nm").alias("__na"),
                    F.col("b.__nm").alias("__nb"))
            .distinct())
    return (cand.withColumn(out_dist,
                            F.levenshtein("__na", "__nb").cast("int"))
            .filter(F.col(out_dist) <= 1)
            .select("id_a", "id_b", out_dist))


def skyline_2d(df: DataFrame, max_col, min_col,
               count_alias: str = "n_rows") -> DataFrame:
    """EXT (R142): 2-D skyline / Pareto frontier — the points no other
    point dominates (≥ on the maximized axis, ≤ on the minimized one,
    strict somewhere): "largest size for the lowest price" tradeoff
    queries. Returns (max_val, min_val, n_rows) per frontier point.

    The quadratic dominance definition collapses to a LINEAR scan in
    2-D: within one maximized value only the minimal ``min_col``
    survives (same-axis dominance), and a collapsed point is on the
    frontier iff its cost is STRICTLY below every cost at a larger
    size — one running-min window over the distinct-value domain,
    descending. Scale shape: the only corpus-sized operation is the
    (max_val, min_val) collapse (one hash agg); the window runs over
    distinct maximized values (compact by construction)."""
    pts = (df.select(max_col.alias("__s"), min_col.alias("__p"))
           .groupBy("__s", "__p").agg(F.count(F.lit(1)).alias("__n")))
    best = (pts.groupBy("__s").agg(F.min("__p").alias("__p")))
    w = (Window.orderBy(F.col("__s").desc())
         .rowsBetween(Window.unboundedPreceding, -1))
    frontier = (best.withColumn("__m", F.min("__p").over(w))
                .filter(F.col("__m").isNull() | (F.col("__p") < F.col("__m")))
                .select("__s", "__p"))
    return (pts.join(frontier, ["__s", "__p"])
            .select(F.col("__s").alias("max_val"),
                    F.col("__p").alias("min_val"),
                    F.col("__n").cast("long").alias(count_alias)))


def collation_dedup_counts(df: DataFrame, key_col: str,
                           group_col: str) -> DataFrame:
    """EXT (round 6): collation-aware distinct counts — per group, how
    many distinct keys exist under BINARY comparison vs under Spark 4's
    ``UTF8_LCASE`` collation, and the gap (case-only duplicates). The
    collation engine answers R277's variant-key question natively for
    the CASE class: no normalize column, no rewrite of every
    comparison — the collated expression carries the semantics into
    joins/groupBys/distincts and Catalyst still prunes and pushes.

    One hash agg with two COUNT(DISTINCT) branches. The collated
    count mirrors to portable SQL as COUNT(DISTINCT LOWER(key)) —
    UTF8_LCASE and lower() agree on ASCII; the demo plants ASCII
    case variants, and the docstring is the contract for non-ASCII
    (use the ICU collations where lower() is not enough)."""
    lcase = F.collate(F.col(key_col), "UTF8_LCASE")
    return (df.groupBy(F.col(group_col))
            .agg(F.countDistinct(F.col(key_col)).cast("long")
                 .alias("n_binary"),
                 F.countDistinct(lcase).cast("long").alias("n_lcase"))
            .withColumn("n_case_dupes",
                        (F.col("n_binary") - F.col("n_lcase"))
                        .cast("long")))
