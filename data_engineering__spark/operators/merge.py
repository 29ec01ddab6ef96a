"""Upsert / merge operators (SURVEY §2.4 A7-A8).

These replace the reference's two write-conflict idioms:
- get-or-insert dimension rows, one SELECT + maybe INSERT per row
  (``process_publications_dag.py:27-34,36-43``) — an N+1 loop,
- ``INSERT ... ON CONFLICT (title) DO UPDATE SET journal_ref=..., doi=
  COALESCE(EXCLUDED.doi, publications.doi), update_date=...``
  (``process_publications_dag.py:224-232``).

Both become ONE set-oriented plan. Surrogate ids are deterministic
(the rank under an explicit total ordering, offset by the current max id,
SURVEY §1.2). ``monotonically_increasing_id`` appears only as a position
within stored, sorted rows (``assign_ids``): there its value is fixed once
the rows are stored, where over a recomputed plan it would depend on the
run's partitioning. On managed tables (Delta/Iceberg) ``upsert_merge`` maps to
``MERGE INTO``; this is the storage-agnostic DataFrame formulation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import materialize


def assign_ids(df: DataFrame, order_by: list[str], id_col: str = "id",
               start: int = 1) -> DataFrame:
    """Deterministic dense surrogate ids ``start..start+N-1`` by
    ``order_by`` — DISTRIBUTED, in one stored job.

    ``row_number() over (order by ...)`` with no partition collapses the
    whole table into one task; this operator produces the identical ids with
    cluster parallelism:

    1. range-repartition + sort within partitions on ``order_by`` (one
       shuffle, same cost as the global sort the window needs; AQE may
       coalesce adjacent ranges);
    2. ``session.materialize`` the sorted rows, each tagged with
       ``monotonically_increasing_id`` — (partition index << 33) + position
       in the partition, both taken in the sorting stage — and read every
       partition's row count from that same job, as one observed histogram
       over the partition index;
    3. id = ``start`` + (rows in earlier partitions) + position: a
       projection over the stored rows, so a consumer's plan holds no
       Window and no Exchange above them. The partition counts and the
       positions come from one partition identity (the tag), so a run's
       sampled range boundaries cannot skew the offsets, and the ids are
       the same for every partition count.

    The returned frame reads stored blocks: ``session.release`` frees them.
    Ties in ``order_by`` make ids ambiguous under ANY implementation; callers
    must pass a total order (same contract as the reference's deterministic
    surrogate keys, SURVEY §1.2).
    """
    cols = [F.col(c) for c in order_by]
    rows = (df.repartitionByRange(*cols)
              .sortWithinPartitions(*cols)
              .withColumn("__tag", F.monotonically_increasing_id()))
    pid = F.shiftright("__tag", 33)
    # histogram bins merge only past `nb` distinct values; with nb at the
    # tag's bound on the partition index, every partition keeps a bin of
    # its own whose height is its exact row count (one lookup per row,
    # where a count per partition would cost a compare per partition)
    rows, obs = materialize(
        rows, sizes=F.histogram_numeric(pid, F.lit((1 << 31) - 1)))
    sizes = {int(b.x): int(b.y) for b in obs["sizes"] or []}
    offsets, acc = [], start
    for p in range(max(sizes, default=0) + 1):
        offsets.append(acc)
        acc += sizes.get(p, 0)
    pos = F.col("__tag").bitwiseAND((1 << 33) - 1)
    return (rows.withColumn(id_col, (F.array(*map(F.lit, offsets))[pid]
                                     + pos).cast("long"))
                .drop("__tag"))


def dim_upsert(dim: DataFrame, incoming: DataFrame, natural_key: str,
               id_col: str = "id") -> DataFrame:
    """A7: dimension get-or-insert with deterministic surrogate keys.

    ``incoming`` rows whose ``natural_key`` is unseen get ids
    ``max_existing + rank-of-natural_key``; existing rows are untouched.
    One anti-join (broadcast-hashed when the dim is small) + DISTRIBUTED id
    assignment over only the new names via ``assign_ids`` — range-
    partitioned offsets, NOT a partition-less ``row_number`` window, so a
    first load / backfill where EVERY name is new still parallelizes
    instead of serializing into a single task.

    Replaces the per-row existence probe at
    ``process_publications_dag.py:28-31`` (J5/A7).
    """
    new_names = (incoming.select(F.col(natural_key)).where(F.col(natural_key).isNotNull())
                 .distinct()
                 .join(dim.select(natural_key), natural_key, "left_anti"))
    max_id = dim.agg(F.coalesce(F.max(id_col), F.lit(0)).alias("m")).collect()[0][0]
    new_rows = assign_ids(new_names, [natural_key], id_col=id_col,
                          start=int(max_id) + 1) \
        .withColumn(id_col, F.col(id_col).cast(dim.schema[id_col].dataType))
    return dim.unionByName(new_rows, allowMissingColumns=True)


def scd2_merge(history: DataFrame, changes: DataFrame, key: str,
               attrs: list[str], effective_date: str) -> DataFrame:
    """Type-2 slowly-changing dimension merge: point-in-time history with
    (valid_from, valid_to, is_current) row versioning.

    - changed keys (any tracked attr differs from the CURRENT row,
      null-safe compare): current row closes (valid_to = effective_date,
      is_current = false) and a fresh current row inserts;
    - brand-new keys insert as current;
    - unchanged keys and already-closed history rows pass through intact,
      INCLUDING history columns not listed in ``attrs`` (untracked columns
      don't participate in change detection; inserted rows take them from
      ``changes`` when present there, else NULL).

    The reference keeps only a trigger audit log (``database and queries
    aupostgres.sql:82-97``) — an event stream; SCD2 is the queryable
    state-over-time upgrade (AS OF joins via
    ``valid_from <= ts < coalesce(valid_to, 'infinity')``).

    Scale: one hash shuffle on ``key`` (changes are a delta — broadcast
    when small) + a union; no windows, no per-row loops. Idempotent for a
    given (changes, effective_date) batch: re-running closes nothing new
    because the current row already equals the incoming attrs.
    """
    from functools import reduce as _reduce

    eff = F.to_date(F.lit(effective_date))
    scd_cols = ("valid_from", "valid_to", "is_current")
    extras = [c for c in history.columns
              if c != key and c not in attrs and c not in scd_cols]
    cur = history.filter(F.col("is_current"))
    c, t = changes.alias("c"), cur.alias("t")
    differs = _reduce(lambda x, y: x | y,
                      [~F.col(f"c.{a}").eqNullSafe(F.col(f"t.{a}"))
                       for a in attrs])
    joined = c.join(t, F.col(f"c.{key}") == F.col(f"t.{key}"), "left")
    is_new = F.col(f"t.{key}").isNull()
    hist_types = {f.name: f.dataType for f in history.schema.fields}
    extra_src = [(F.col(f"c.{e}") if e in changes.columns
                  else F.lit(None).cast(hist_types[e])).alias(e)
                 for e in extras]
    new_rows = (joined.filter(is_new | differs)
                .select(F.col(f"c.{key}").alias(key),
                        *[F.col(f"c.{a}").alias(a) for a in attrs],
                        *extra_src,
                        eff.alias("valid_from"),
                        F.lit(None).cast("date").alias("valid_to"),
                        F.lit(True).alias("is_current")))
    to_close = (joined.filter(~is_new & differs)
                .select(F.col(f"c.{key}").alias(key))
                .withColumn("__close", F.lit(True)))
    updated = (history.join(to_close, key, "left")
               .select(key, *attrs, *extras, "valid_from",
                       F.when(F.col("is_current") & F.col("__close").isNotNull(),
                              eff).otherwise(F.col("valid_to")).alias("valid_to"),
                       (F.col("is_current") & F.col("__close").isNull())
                       .alias("is_current")))
    return updated.unionByName(new_rows)


def upsert_merge(target: DataFrame, source: DataFrame, key: str,
                 update_cols: list[str] | None = None,
                 coalesce_cols: list[str] | None = None,
                 insert_cols: list[str] | None = None) -> DataFrame:
    """A8: MERGE semantics as a full-outer join + per-column resolution.

    - matched rows: ``update_cols`` take the source value,
      ``coalesce_cols`` take ``COALESCE(source, target)`` (the reference's
      ``doi = COALESCE(EXCLUDED.doi, publications.doi)``,
      ``process_publications_dag.py:229``), ``insert_cols`` keep the TARGET
      value (set on INSERT only, never touched by the conflict UPDATE — the
      reference's ``submitter``, ``process_publications_dag.py:224-231``),
      everything else keeps target.
    - source-only rows: inserted as-is (``insert_cols`` take source).
    - target-only rows: kept as-is.

    Invariant: both sides must be key-unique (enforce upstream with
    ``dedup_by_key``) — a non-unique merge key fans out rows, the classic
    silent-corruption bug in hand-rolled MERGEs.

    Scale: one shuffle on ``key`` (or broadcast when source is a small
    delta); AQE handles skewed keys.
    """
    update_cols = update_cols or []
    coalesce_cols = coalesce_cols or []
    insert_cols = insert_cols or []
    t = target.alias("t")
    s = source.alias("s")
    joined = t.join(s, F.col(f"t.{key}") == F.col(f"s.{key}"), "full_outer")
    out_cols: list[Column] = [F.coalesce(F.col(f"t.{key}"), F.col(f"s.{key}")).alias(key)]
    src_cols = set(source.columns)
    matched = F.col(f"t.{key}").isNotNull()
    for c in target.columns:
        if c == key:
            continue
        if c in update_cols and c in src_cols:
            # source wins when the source row exists (matched or insert)
            expr = F.when(F.col(f"s.{key}").isNotNull(), F.col(f"s.{c}")).otherwise(F.col(f"t.{c}"))
        elif c in coalesce_cols and c in src_cols:
            expr = F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}"))
        elif c in insert_cols and c in src_cols:
            # INSERT-only column: target value survives a match untouched
            expr = F.when(matched, F.col(f"t.{c}")).otherwise(F.col(f"s.{c}"))
        else:
            expr = F.col(f"t.{c}")
        out_cols.append(expr.alias(c))
    return joined.select(*out_cols)


def merge_into_managed(spark, table: str, source: DataFrame, key: str,
                       update_cols: list[str] | None = None,
                       coalesce_cols: list[str] | None = None,
                       insert_cols: list[str] | None = None) -> None:
    """A8 managed-table variant (SURVEY §2.4 A8 note): apply
    ``upsert_merge`` semantics IN PLACE to a catalog table.

    Two execution paths, same row-level semantics:

    - **Delta Lake available** (``delta`` importable and the table is
      Delta): a real transactional ``MERGE INTO`` — ``whenMatchedUpdate``
      with the update/coalesce column resolution and
      ``whenNotMatchedInsertAll``. This is the path a production
      deployment runs: ACID, concurrent-writer-safe, no table rewrite.
    - **Fallback (this container: plain parquet catalog tables)**:
      read → ``upsert_merge`` → overwrite. Correct and idempotent, but
      the overwrite is NOT transactional — a failure mid-write can leave
      the table truncated, and concurrent readers may observe the swap.
      Suitable for single-writer batch jobs only; the docstring caveat is
      the contract.

    The reference's analog is the per-row ``ON CONFLICT DO UPDATE``
    (``process_publications_dag.py:224-232``) against a managed Postgres
    table — this operator is that statement lifted to warehouse scale.
    """
    update_cols = update_cols or []
    coalesce_cols = coalesce_cols or []
    try:
        from delta.tables import DeltaTable  # type: ignore

        dt = DeltaTable.forName(spark, table)
        upd = {c: F.col(f"s.{c}") for c in update_cols}
        upd.update({c: F.coalesce(F.col(f"s.{c}"), F.col(f"t.{c}"))
                    for c in coalesce_cols})
        (dt.alias("t")
           .merge(source.alias("s"), f"t.{key} = s.{key}")
           .whenMatchedUpdate(set=upd)
           .whenNotMatchedInsertAll()
           .execute())
        return
    except ImportError:
        pass
    target = spark.table(table)
    merged = upsert_merge(target, source, key, update_cols=update_cols,
                          coalesce_cols=coalesce_cols,
                          insert_cols=insert_cols)
    # stage the merge result in a sibling table BEFORE overwriting the one
    # it reads from (overwriting a table mid-scan is undefined), then swap
    # — fully distributed, never driver-materialized
    staging = f"{table}__merge_staging"
    merged.write.mode("overwrite").saveAsTable(staging)
    spark.table(staging).write.mode("overwrite").saveAsTable(table)
    spark.sql(f"DROP TABLE `{staging}`")


def apply_cdc(snapshot: DataFrame, changes: DataFrame, key_cols: list[str],
              seq_col: str, op_col: str = "op",
              value_cols: list[str] | None = None) -> DataFrame:
    """EXT warehouse: apply an ordered CDC stream to a snapshot — the
    replication-consumer primitive (Debezium-style I/U/D records).

    Per key, the HIGHEST-``seq_col`` change wins: op 'D' removes the key,
    'I'/'U' upsert the change's values; keys with no change pass through
    unchanged. ``seq_col`` must be unique per key (log offsets are);
    ties would make the survivor undefined, so the window orders by
    (seq DESC, op DESC) to stay deterministic even on dirty input.

    Plan: ONE window pass over the changes keyed on the key (the same
    shuffle the final anti-join/union reuses), no driver loops; snapshot
    rows shuffle once for the anti join. Idempotent: re-applying the same
    change batch is a no-op.
    """
    value_cols = value_cols or [c for c in snapshot.columns
                                if c not in key_cols]
    w = (Window.partitionBy(*key_cols)
         .orderBy(F.col(seq_col).desc(), F.col(op_col).desc()))
    latest = (changes.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1))
    upserts = (latest.filter(F.col(op_col) != "D")
               .select(*key_cols, *value_cols))
    untouched = snapshot.join(latest.select(*key_cols), key_cols,
                              "left_anti")
    return untouched.unionByName(upserts)


def merge_aggregates(base: DataFrame, delta: DataFrame, keys: list[str],
                     sum_cols: list[str]) -> DataFrame:
    """EXT (R127): incremental rollup maintenance — merge a pre-computed
    per-key aggregate with a new batch's aggregate so the daily job
    reprocesses only the delta, never the history. Both inputs carry the
    same additive measure columns (counts, integer-cents sums — every
    algebraic aggregate decomposes into these plus finishers); the merge
    is a FULL OUTER join on the keys with null-safe addition, keys
    present on either side survive.

    This is the batch twin of the streaming ``foreachBatch`` merge sink
    and the algebra behind every incremental materialized view: correct
    iff the measures are commutative monoids, which integer counts/sums
    are (float sums would drift per merge order — the repo's cents
    discipline applies). Scale shape: ONE join keyed on the rollup key;
    the base side is the compact aggregate (orders of magnitude below
    raw), the delta is one batch's worth."""
    b, d = base.alias("b"), delta.alias("d")
    cond = None
    for k in keys:
        c = F.col(f"b.{k}").eqNullSafe(F.col(f"d.{k}"))
        cond = c if cond is None else cond & c
    merged = b.join(d, cond, "full_outer")
    sel = [F.coalesce(F.col(f"b.{k}"), F.col(f"d.{k}")).alias(k)
           for k in keys]
    sel += [(F.coalesce(F.col(f"b.{c}"), F.lit(0))
             + F.coalesce(F.col(f"d.{c}"), F.lit(0))).alias(c)
            for c in sum_cols]
    return merged.select(*sel)


def incremental_join_delta(old_a: DataFrame, delta_a: DataFrame,
                           old_b: DataFrame, delta_b: DataFrame,
                           key: str) -> DataFrame:
    """EXT (R141): incremental JOIN maintenance — the classic delta rule
        Δ(A ⋈ B) = ΔA ⋈ B_old  ∪  A_old ⋈ ΔB  ∪  ΔA ⋈ ΔB
    returns exactly the rows the maintained join gains when batches ΔA
    and ΔB land (append-only inputs). Paired with ``merge_aggregates``
    this is the algebra behind every incrementally-maintained
    materialized view: the daily job joins only the deltas against the
    stored sides — never history × history.

    Scale shape: three key-shuffled joins whose LARGEST input is one
    stored side; the history-sized A_old ⋈ B_old term — the whole point
    — is never recomputed. Inputs must be disjoint from their old sides
    (append semantics); updates/deletes compose via the CDC operator
    first."""
    d1 = delta_a.join(old_b, key)
    d2 = old_a.join(delta_b, key)
    d3 = delta_a.join(delta_b, key)
    return d1.unionByName(d2).unionByName(d3)


def merge_into_df_api(spark, table: str, source: DataFrame, key: str,
                      update_cols: list[str] | None = None,
                      coalesce_cols: list[str] | None = None) -> str:
    """EXT (R196, round 6): the Spark 4 ``DataFrame.mergeInto`` API —
    the DataFrame-native MERGE builder
    (``source.mergeInto(table, cond).whenMatched().updateAll()
    .whenNotMatched().insertAll().merge()``), capability-gated:

    - against a row-level-operation catalog (Delta/Iceberg), the
      builder executes as a real transactional MERGE;
    - against this container's v1 parquet catalog the terminal
      ``merge()`` raises ``UNSUPPORTED_FEATURE.TABLE_OPERATION``
      (measured — the builder itself constructs fine; condition
      columns resolve against the SOURCE's alias, so the source must
      be ``.alias()``-ed), and this wrapper falls back to
      ``merge_into_managed``'s staged overwrite with identical
      row-level semantics.

    Returns which path ran (``"mergeInto"`` / ``"staged"``) so tests
    and callers can observe the capability."""
    aliased = source.alias("s")
    try:
        (aliased.mergeInto(table, F.expr(f"{table}.{key} = s.{key}"))
         .whenMatched().updateAll()
         .whenNotMatched().insertAll()
         .merge())
        return "mergeInto"
    except Exception as exc:  # v1 tables: UNSUPPORTED_FEATURE
        if "UNSUPPORTED_FEATURE" not in str(exc) \
                and "does not support MERGE" not in str(exc):
            raise
    merge_into_managed(spark, table, source, key,
                       update_cols=update_cols,
                       coalesce_cols=coalesce_cols)
    return "staged"
