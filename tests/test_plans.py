"""Physical-plan regression tests: the plans the architecture promises
(ARCHITECTURE.md plan audit) are asserted here so an operator change that
silently degrades them (loses a broadcast, un-pushes a filter, globalizes a
window) fails CI, not a 100 TB run."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import Row
from pyspark.sql import functions as F

from data_engineering__spark.conformance import QUERIES


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_dim_join_broadcasts_and_pushes_filters(spark, sf_dir):
    p = plan_of(QUERIES["three_way_join_agg"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "PushedFilters: [IsNotNull" in p
    assert "SortMergeJoin" not in p  # dims must never sort-merge


def test_projection_reaches_scan(spark, sf_dir):
    p = plan_of(QUERIES["project_prune"](spark, sf_dir))
    assert "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double>" in p


def test_predicate_pushdown_reaches_scan(spark, sf_dir):
    p = plan_of(QUERIES["filter_predicate"](spark, sf_dir))
    assert "StringContains(p_name,widget)" in p
    assert "GreaterThanOrEqual(p_size,20)" in p


def test_topk_uses_partial_window_group_limit(spark, sf_dir):
    p = plan_of(QUERIES["topk_per_group"](spark, sf_dir))
    assert "WindowGroupLimit" in p and "Partial" in p


def test_sort_limit_is_take_ordered(spark, sf_dir):
    p = plan_of(QUERIES["sort_limit_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_no_global_window_in_headline_queries(spark, sf_dir):
    """No conformance query may move all data into a single-partition window
    (the 'No Partition Defined for Window operation' trap) — except the
    documented tiny-delta window in dim_upsert."""
    for name in ["window_rank", "window_running_sum", "topk_per_group",
                 "dedup_by_key", "window_lag_lead"]:
        p = plan_of(QUERIES[name](spark, sf_dir))
        assert "SinglePartition" not in p, f"{name} collapses to one partition"


# Registry-wide structural audit (VERDICT r6 task 2): an unpartitioned
# window is legal ONLY over a bounded-domain frame — post-aggregate
# (group cardinality), post-limit, or literal/local data — never over a
# raw fact scan. Keys whose boundedness the plan walker cannot see get an
# entry here with a one-line justification; the registry currently needs
# NONE (the one offender the first sweep found, error_bursts_events, was
# fixed structurally with a per-gap_s-bucket pre-aggregate).
BOUNDED_DOMAIN_ALLOWLIST: dict[str, str] = {}


def test_audit_classifier_detects_global_window_over_scan(spark, sf_dir):
    """Pin the walker itself: a global window straight over a parquet scan
    is flagged; the same window post-aggregate, post-limit, over local
    data, or partitioned is not."""
    from pyspark.sql import Window as W
    from data_engineering__spark.plans.audit import global_window_violations
    from data_engineering__spark.sources.io import read_table
    orders = read_table(spark, sf_dir, "orders")
    rn = F.row_number().over(W.orderBy("o_orderkey"))
    assert global_window_violations(orders.withColumn("rn", rn))
    agg = orders.groupBy("o_orderstatus").count()
    assert not global_window_violations(
        agg.withColumn("rn", F.row_number().over(W.orderBy("count"))))
    assert not global_window_violations(
        orders.limit(10).withColumn("rn", rn))
    local = spark.createDataFrame([Row(o_orderkey=1), Row(o_orderkey=2)])
    assert not global_window_violations(local.withColumn(
        "rn", F.row_number().over(W.orderBy("o_orderkey"))))
    # Range grids: bounded only up to the cap — a planet-sized range
    # cannot masquerade as a bounded window domain
    rn_id = F.row_number().over(W.orderBy("id"))
    assert not global_window_violations(
        spark.range(24).withColumn("rn", rn_id))
    assert global_window_violations(
        spark.range(10 ** 12).withColumn("rn", rn_id))
    assert not global_window_violations(orders.withColumn(
        "rn", F.row_number().over(
            W.partitionBy("o_custkey").orderBy("o_orderkey"))))


def test_pipe_syntax_compiles_to_pushed_down_plan(spark, sf_dir):
    """R319: SQL pipe stages must cost nothing — the |> WHERE reaches the
    scan as a pushed filter, ReadSchema prunes to the 5 referenced
    columns, and the AGGREGATE stage partial-aggregates before the
    exchange exactly like the nested-SQL/DataFrame forms."""
    p = plan_of(QUERIES["sql_pipe_agg"](spark, sf_dir))
    assert "GreaterThanOrEqual(l_quantity,10" in p
    assert "l_orderkey" not in p.split("ReadSchema")[1].splitlines()[0]
    assert p.count("HashAggregate") >= 2  # partial + final


def test_audit_classifier_detects_double_unbounded_cartesian(spark, sf_dir):
    """Pin the cartesian walker: a nested-loop join of two raw fact scans
    is flagged; the same join with one bounded side (limit, aggregate,
    local data) is not."""
    from data_engineering__spark.plans.audit import cartesian_violations
    from data_engineering__spark.sources.io import read_table
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    assert cartesian_violations(
        orders.join(lineitem, F.col("o_orderkey") != F.col("l_orderkey")))
    assert not cartesian_violations(
        orders.crossJoin(F.broadcast(lineitem.limit(5))))
    assert not cartesian_violations(
        orders.crossJoin(F.broadcast(lineitem.groupBy("l_returnflag").count())))


def test_no_unbounded_global_window_or_cartesian_anywhere_in_registry(
        spark, sf_dir):
    """EVERY registry query keeps both scale contracts — not just the
    hand-picked headline subset. One row-bounded global window hiding
    among the ~880 benign bounded-domain ones, or one quadratic join of
    two fact frames, would be a single-executor OOM / |L|x|R| blow-up at
    100 TB; this makes the distinction statically checked instead of
    prose. Both audits share one plan-build pass per key."""
    from data_engineering__spark.plans.audit import (
        cartesian_violations,
        global_window_violations,
    )
    violations = {}
    for name, fn in sorted(QUERIES.items()):
        if name in BOUNDED_DOMAIN_ALLOWLIST:
            continue
        if name.startswith(("streaming_", "stateful_")):
            # these callables RUN a full streaming lifecycle and return
            # the memory-sink table — the audited plan would be a bare
            # LocalTableScan (nothing to check) at the cost of a real
            # stream execution each; their stateful plans are compiled
            # and semantics-pinned by their own oracle tests
            continue
        df = fn(spark, sf_dir)
        found = global_window_violations(df) + cartesian_violations(df)
        if found:
            violations[name] = found
    assert not violations, (
        "unbounded global window / double-unbounded cartesian (fix the "
        f"plan or add a justified allowlist entry): {violations}")


def test_salted_join_equals_plain_join(spark):
    from data_engineering__spark.operators.relational import salted_join
    big = spark.createDataFrame(
        [Row(k=(i % 3) if i % 5 else 0, uid=i, v=i * 2) for i in range(200)])
    small = spark.createDataFrame([Row(k=i, tag=f"t{i}") for i in range(4)])
    plain = big.join(small, "k").select("uid", "tag")
    salted = salted_join(big, small, "k", salt_source="uid", salt=4) \
        .select("uid", "tag")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # left variant keeps unmatched big rows exactly once
    big2 = big.withColumn("k", F.col("k") + 10)  # no matches
    left = salted_join(big2, small, "k", salt_source="uid", salt=4, how="left")
    assert left.count() == 200 and left.filter(F.col("tag").isNotNull()).count() == 0


def test_dim_upsert_all_new_is_distributed(spark):
    """A7 first-load/backfill shape: EVERY incoming name is new — id
    assignment must range-partition (assign_ids), not collapse into one
    SinglePartition row_number window."""
    from data_engineering__spark.operators.merge import dim_upsert
    dim = spark.createDataFrame([], "id long, name string")
    incoming = spark.createDataFrame(
        [Row(name=f"n{i:05d}") for i in range(5000)]).repartition(8)
    out = dim_upsert(dim, incoming, "name")
    assert "SinglePartition" not in plan_of(out)
    stats = out.agg(F.min("id").alias("lo"), F.max("id").alias("hi"),
                    F.countDistinct("id").alias("n")).collect()[0]
    assert (stats.lo, stats.hi, stats.n) == (1, 5000, 5000)


def test_quota_per_group_uses_window_group_limit(spark, sf_dir):
    """Per-domain quota must compile to WindowGroupLimit (per-partition
    top-k heaps) — not a full window over every row."""
    p = plan_of(QUERIES["quota_per_domain"](spark, sf_dir))
    assert "WindowGroupLimit" in p
    assert "SinglePartition" not in p


def test_hash_split_is_deterministic_and_shuffle_free(spark, sf_dir):
    """Split membership is a pure projection: no Exchange before the split
    column exists, and equal keys always land in the same split."""
    from data_engineering__spark.operators.sampling import hash_split
    from data_engineering__spark.sources.io import read_table
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    split = hash_split(docs, "doc_id")
    assert "Exchange" not in plan_of(split)
    a = dict(split.collect())
    b = dict(hash_split(docs.repartition(7), "doc_id").collect())
    assert a == b  # repartitioning cannot move rows between splits


def test_ivf_topk_broadcasts_and_no_smj(spark, sf_dir):
    """IVF probe path: centroids and probed cells ride as broadcasts; the
    only candidate-side work is a hash join + TakeOrdered — no sort-merge
    join anywhere in the plan."""
    p = plan_of(QUERIES["ivf_topk"](spark, sf_dir))
    assert "SortMergeJoin" not in p
    assert "TakeOrderedAndProject" in p


def test_kmeans_ivf_broadcasts_and_no_smj(spark, sf_dir):
    """Trained-IVF path: every per-iteration assignment crossJoin is a
    broadcast nested loop over the (driver-small) centroid set, the
    update is one partial-aggregated hash shuffle, and the search ends in
    TakeOrdered — no sort-merge join, no single-partition window over the
    corpus."""
    p = plan_of(QUERIES["ivf_kmeans_topk"](spark, sf_dir))
    assert "SortMergeJoin" not in p
    assert "BroadcastNestedLoopJoin" in p
    assert "TakeOrderedAndProject" in p


def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path):
    """DPP, the join-time sibling of static partition pruning (round 6):
    when a hive-partitioned fact joins a filtered dim on the partition
    key, the scan's PartitionFilters must carry a dynamicpruning
    subquery — the dim side's surviving keys prune fact DIRECTORIES at
    runtime, the mechanism that turns a selective dim filter into
    skipping most of a 100 TB fact table."""
    from data_engineering__spark.sources.io import read_table
    o = read_table(spark, sf_dir, "orders")
    p = str(tmp_path / "orders_part")
    o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(p)
    fact = spark.read.parquet(p)
    dim = spark.createDataFrame(
        [Row(o_orderpriority=f"{i}-X", flag=i % 2) for i in range(1, 6)])
    j = fact.join(dim.filter(F.col("flag") == 1), "o_orderpriority")
    pl = plan_of(j)
    assert "dynamicpruningexpression" in pl.lower()
    assert "PartitionFilters" in pl


def test_partitioned_layout_prunes_at_scan(spark, sf_dir, tmp_path):
    """The 100 TB table-layout story with plan evidence: a hive-
    partitioned write must let a reader's partition-key filter prune at
    PLANNING time (PartitionFilters on the scan, non-matching directories
    never read) while a payload filter reaches the scan as a pushed data
    filter."""
    from data_engineering__spark.sources.io import read_table, write_parquet

    ev = read_table(spark, sf_dir, "events") \
        .select("event_id", "user_id", "event_type", "value")
    out = str(tmp_path / "events_by_type")
    write_parquet(ev, out, partition_by=["event_type"])

    back = (spark.read.parquet(out)
            .filter((F.col("event_type") == "click") & (F.col("value") > 50)))
    p = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in p and "event_type" in \
        p.split("PartitionFilters:")[1].split("]")[0]
    assert "PushedFilters: [" in p and "GreaterThan(value,50" in p
    # pruning is real: only the matching partition's rows come back
    want = ev.filter((F.col("event_type") == "click")
                     & (F.col("value") > 50)).count()
    assert back.count() == want > 0


def test_runtime_bloom_filter_prefilters_fact_scan(spark, sf_dir):
    """The shuffle-join scale lever the optimizer adds for free at 100 TB:
    when a selective dim predicate feeds a shuffle join, Catalyst injects a
    bloom filter built from the dim keys (`bloom_filter_agg`) and applies
    `might_contain` on the fact side BEFORE the shuffle — fact rows whose
    keys can't join are dropped at the scan stage, not carried through the
    exchange. Local data is far below the production thresholds (10 GB
    application-side scan), so the test lowers them to prove the rule
    fires and that the pre-filtered join is value-identical to the plain
    one."""
    from data_engineering__spark.sources.io import read_table

    saved = {k: spark.conf.get(k, None) for k in
             ("spark.sql.autoBroadcastJoinThreshold",
              "spark.sql.optimizer.runtime.bloomFilter."
              "applicationSideScanSizeThreshold")}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter."
                       "applicationSideScanSizeThreshold", "1")
        assert spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
        li = read_table(spark, sf_dir, "lineitem")
        orders = (read_table(spark, sf_dir, "orders")
                  .filter(F.col("o_totalprice") > 400000))
        j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
             .groupBy("o_orderpriority")
             .agg(F.count(F.lit(1)).alias("n")))
        p = plan_of(j)
        assert "bloom_filter_agg" in p           # built from filtered dim keys
        assert "might_contain" in p              # applied on the fact side
        assert "l_orderkey" in p.split("might_contain")[0].rsplit(
            "\n", 2)[-2] or "l_orderkey" in p    # pre-filter targets fact key
        got = {(r.o_orderpriority, r.n) for r in j.collect()}
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    plain = (read_table(spark, sf_dir, "lineitem")
             .join(read_table(spark, sf_dir, "orders")
                   .filter(F.col("o_totalprice") > 400000),
                   F.col("l_orderkey") == F.col("o_orderkey"))
             .groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n")))
    assert {(r.o_orderpriority, r.n) for r in plain.collect()} == got


def test_pack_sequences_windows_stay_partitioned(spark, sf_dir):
    """The doc-level prefix-sum window must be PARTITIONED BY bucket — the
    only permissible unpartitioned window is the bucket-offset pass over
    ~n/bucket_size aggregate rows (the scan-tree apex). Guard: the plan's
    window count is 2 and at least one carries a partition spec."""
    plan = plan_of(QUERIES["pack_training_sequences"](spark, sf_dir))
    assert plan.count("Window") >= 2
    # doc-level window partitioned by the bucket column
    assert "partitionspec" in plan.lower().replace(" ", "") or \
           "PartitionSpec" in plan or "__bucket" in plan


def test_semantic_dedup_pairs_join_on_cell(spark, sf_dir):
    """The within-cluster verify must join on the cell id (bounded
    quadratic), never a full CartesianProduct over the corpus."""
    corpus = QUERIES["semantic_dedup"](spark, sf_dir)
    plan = plan_of(corpus)
    assert "CartesianProduct" not in plan


def test_resample_locf_single_agg_shuffle(spark, sf_dir):
    """Raw events shuffle once into (key, bucket) partial aggregates; the
    LOCF window and grid join reuse key partitioning. Guard: partial_count
    appears (map-side combine) and no CartesianProduct/global window."""
    plan = plan_of(QUERIES["resample_locf_events"](spark, sf_dir))
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_rolling_hour_window_is_range_frame(spark, sf_dir):
    plan = plan_of(QUERIES["rolling_hour_window"](spark, sf_dir))
    assert "RangeFrame" in plan and "-3599" in plan


def test_null_safe_join_is_hash_join(spark, sf_dir):
    """<=> keys must still plan as a hash join (null-safe equality hashes
    NULL like a value) — not BroadcastNestedLoop over the raw predicate."""
    plan = plan_of(QUERIES["null_safe_join_counts"](spark, sf_dir))
    assert "HashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_contamination_probe_is_map_side_broadcast(spark, sf_dir):
    """The contamination probe's scale contract: benchmark shingle hashes
    BROADCAST into a left-outer hash join against the corpus's exploded
    (id, hash) rows — the corpus branch is map-only up to the join (its
    only Exchanges are the aggregate's own two-phase shuffle), bodies
    never sort-merge, and the per-doc dedup is folded into the aggregate
    (no separate distinct shuffle: at most the countDistinct Expand's two
    agg exchanges plus the benchmark's own distinct)."""
    import re

    plan = plan_of(QUERIES["contamination_report_docs"](spark, sf_dir))
    assert "BroadcastHashJoin LeftOuter" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # distinct folded into the aggregate: benchmark distinct (1) + the
    # two-phase countDistinct (2) — a reintroduced corpus-side distinct()
    # would add a fourth shuffle
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 3


def test_shingle_rows_project_tokens_before_lambda(spark, sf_dir):
    """The shingle kernel's perf contract (HOF re-eval pathology): the
    token array must be PROJECTED into a real column before the shingle
    lambda runs — the fused form re-evaluates the regex tokenizer per
    array element (measured 4.6 s vs 0.96 s at sf0.1×2). Guard: the
    explode's input is a bare column reference (__toks), not an inline
    split(...) expression."""
    from data_engineering__spark.operators.dedup import shingle_sha_rows
    from data_engineering__spark.sources.io import read_table

    df = read_table(spark, sf_dir, "documents")
    plan = plan_of(shingle_sha_rows(df, ["doc_id"], "text", 8))
    gen = [ln for ln in plan.splitlines()
           if "Input" in ln and "__toks" in ln]
    assert gen, "Generate/Project should consume a materialized __toks column"


def test_metric_reports_scan_once(spark, sf_dir):
    """The (metric, value) report family must EXPLODE one aggregate row,
    never union per-metric selects — a union duplicates the aggregate
    subtree (and its fact scan) once per metric in the physical plan
    (corr_matrix was 6 scans, join_health 44, before the rewrite)."""
    for name, max_scans in [("corr_matrix_lineitem", 1),
                            ("expectation_suite_lineitem", 1),
                            ("corpus_report_docs", 1),
                            ("join_health_orders", 2)]:   # one per side
        import re
        p = plan_of(QUERIES[name](spark, sf_dir))
        # formatted explain lists each scan twice (tree + detail section);
        # count the numbered detail headers only
        n = len(re.findall(r"\(\d+\) Scan parquet", p))
        assert n <= max_scans, f"{name}: {n} scans"


def test_line_dedup_boilerplate_join_broadcasts(spark, sf_dir):
    p = plan_of(QUERIES["line_dedup_docs"](spark, sf_dir))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p


def test_shared_intermediates_cut_lineage(spark, sf_dir):
    """Multi-consumer intermediates (self-join sides, per-stage counts,
    as-of probes) must read a persisted/checkpointed frame, not re-run
    their upstream lineage: scan budgets pin the round-4 fixes
    (ngram_jaccard 8→, related_docs 16→, curate funnel 16→,
    scd2_asof 16→, semantic_dedup 10→, conversion_funnel 6→ scans;
    minhash_recall 16→10 once its truth read the persisted shingle
    table, 10→ once its candidates read the persisted signatures)."""
    import re
    for name, max_scans in [("ngram_jaccard_pairs", 2),
                            ("related_docs_topk", 2),
                            ("curate_corpus_funnel", 2),
                            ("scd2_asof", 1),
                            ("semantic_dedup", 2),
                            ("conversion_funnel_steps", 0),
                            ("triangle_counts_graph", 2),
                            ("minhash_recall_report", 4)]:
        p = plan_of(QUERIES[name](spark, sf_dir))
        n = len(re.findall(r"\(\d+\) Scan parquet", p))
        assert n <= max_scans, f"{name}: {n} scans"


def test_iterative_near_dup_plans_stay_truncated(spark, sf_dir):
    """The near-dup closure materializes its signatures, edge list and
    every round's labels, so the returned plan reads block scans, not a
    tree of lazily persisted subtrees nested round after round (about
    507 000 and 590 000 formatted chars before)."""
    for name in ["minhash_cc_dedup", "supplier_er_clusters"]:
        n = len(plan_of(QUERIES[name](spark, sf_dir)))
        assert n < 20_000, f"{name}: {n} plan chars"


def test_round6_query_plan_shapes(spark, sf_dir):
    """Round-6 operator plan pins: the vocab probe broadcasts a
    sort-limited top-N (never a corpus sort), the recursive CTE runs
    through the UnionLoop executor, the embedding-leakage verify stays
    an Arrow kernel, and neither pair surface degenerates to a cartesian
    product. Containment's exact/dirty split must SHARE the
    co-occurrence pair frame (InMemoryRelation in the plan — unshared,
    each branch re-ran the join + dfreq lineage; note the printed plan
    repeats the cached subtree per consumer, so operator counts in the
    TEXT overstate execution and are not asserted)."""
    p = plan_of(QUERIES["vocab_coverage_docs"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p and "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p

    p = plan_of(QUERIES["recursive_rollup_docs"](spark, sf_dir))
    assert "UnionLoop" in p

    p = plan_of(QUERIES["embedding_leakage_report"](spark, sf_dir))
    assert "ArrowEvalPython" in p or "MapInPandas" in p
    assert "CartesianProduct" not in p

    p = plan_of(QUERIES["containment_pairs_docs"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "InMemoryRelation" in p or "InMemoryTableScan" in p


def test_rate_cap_single_scan_no_window(spark, sf_dir):
    """The rate-cap REPORT is pure counts: one parquet scan, two-level
    hash aggregation, zero window operators, and no eager plan-build-time
    count job (the row-selecting cap's WindowGroupLimit is pinned via
    quota_per_domain / sample_per_group)."""
    import re
    p = plan_of(QUERIES["rate_cap_events"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 1
    assert "Window" not in p


def test_pq_encode_is_map_only(spark, sf_dir):
    """PQ encoding must be a pure map pass: one Arrow eval over the scan,
    ZERO exchanges — the property that makes encoding a 100 TB corpus a
    single linear sweep."""
    from data_engineering__spark.operators.vector import pq_encode, pq_train
    from data_engineering__spark.sources.io import read_table
    e = read_table(spark, sf_dir, "embeddings")
    books = pq_train(e, m=4, dim=64, k=4, n_iter=1)
    p = plan_of(pq_encode(e, books, dim=64))
    assert "Exchange" not in p
    assert "ArrowEvalPython" in p or "MapInPandas" in p


def test_zscore_outliers_broadcasts_moments(spark, sf_dir):
    """The per-group moment table must broadcast back onto the fact rows
    — the fact side never shuffles for the flag pass."""
    p = plan_of(QUERIES["outlier_zscore_events"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_exact_quantiles_never_globally_sorts_values(spark, sf_dir):
    """Two-level scan tree contract: the value histogram is windowed per
    bucket (hash partitioning); only the tiny bucket-total frame may hit
    a single partition. A global range sort of the histogram would show
    up as rangepartitioning on __v."""
    p = plan_of(QUERIES["exact_quantiles_prices"](spark, sf_dir))
    assert "rangepartitioning(__v" not in p.lower()
    assert "hashpartitioning(__bucket" in p


def test_cov_block_and_top_pc_are_single_scan_single_agg(spark, sf_dir):
    """The moment row folds map-side: exactly one parquet scan, no join,
    no repeated aggregation subtree per output cell."""
    for name in ("embedding_cov_block", "top_pc_loadings"):
        p = plan_of(QUERIES[name](spark, sf_dir))
        # formatted explain names each physical scan twice (tree node +
        # detail header) — 2 mentions == ONE scan
        assert p.count("Scan parquet") == 2, name
        assert "Join" not in p, name


def test_edit_neighbors_joins_on_digest_not_cartesian(spark, sf_dir):
    """FastSS candidates meet in a hash equi-join on the 8-byte variant
    digest — never a cartesian/nested-loop pass, never a sort-merge."""
    p = plan_of(QUERIES["edit_neighbors_suppliers"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_duplicate_passages_single_aggregation_no_join(spark, sf_dir):
    """Discovery pass = map-side window hashing + ONE hash aggregation."""
    p = plan_of(QUERIES["duplicate_passages_docs"](spark, sf_dir))
    assert "Join" not in p
    assert p.count("Scan parquet") == 2  # tree + detail = ONE scan


def test_token_mix_broadcasts_thresholds(spark, sf_dir):
    """The per-source threshold table must broadcast back onto the doc
    surface — membership is map-side, bodies never shuffle."""
    p = plan_of(QUERIES["token_budget_mix_docs"](spark, sf_dir))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_countmin_probe_broadcasts_sketch(spark, sf_dir):
    """The bounded (d, slot, cnt) sketch joins the top-k probes as a
    broadcast — the sketch is depth x width rows by construction."""
    p = plan_of(QUERIES["countmin_token_check"](spark, sf_dir))
    assert "BroadcastHashJoin" in p


def test_negative_samples_no_cartesian_of_items(spark, sf_dir):
    """Candidates join the (id, group) lookup on the candidate id — the
    only cross join is the broadcast 1-row n scalar."""
    p = plan_of(QUERIES["negative_samples_embeddings"](spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_param_sql_binds_literals_for_pushdown(spark, sf_dir):
    """Named-argument binding must resolve to real literals at analysis
    time so the filter still reaches the parquet scan as a pushed
    predicate (a lazily-bound parameter would block pushdown)."""
    from data_engineering__spark.conformance import QUERIES
    df = QUERIES["param_sql_price_bands"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "150000" in df._jdf.queryExecution().optimizedPlan().toString()


def test_tpch_q3_plan_pushdown_and_takeordered(spark, sf_dir):
    """The Q3 shape must keep its three scan-level filters pushed
    (segment, order date, ship date), broadcast the dimension sides,
    and resolve the top-10 with TakeOrderedAndProject — never a global
    sort."""
    p = plan_of(QUERIES["tpch_q3_shaped"](spark, sf_dir))
    assert "TakeOrderedAndProject" in p
    assert "EqualTo(c_mktsegment,BUILDING)" in p
    assert "LessThan(o_orderdate," in p
    # Catalyst rewrites CAST(ts AS DATE) > d to ts >= d+1 at the scan
    assert "GreaterThanOrEqual(l_shipdate,1998-03-16" in p
    assert "BroadcastHashJoin" in p


def test_q17_q18_subqueries_decorrelate_no_nested_loop(spark, sf_dir):
    """R327/R328 plan pins: the Q17 correlated scalar subqueries must
    decorrelate into aggregate + equi-joins (no nested loop, no
    cartesian), and the Q18 ``IN (GROUP BY HAVING)`` must become a semi
    join on the aggregated key with the top-100 as TakeOrdered — never
    a full sort."""
    p17 = plan_of(QUERIES["scalar_subquery_q17_shaped"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p17
    assert "CartesianProduct" not in p17
    assert "Join" in p17 and "HashAggregate" in p17
    p18 = plan_of(QUERIES["tpch_q18_shaped"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p18
    assert "CartesianProduct" not in p18
    assert "LeftSemi" in p18
    assert "TakeOrderedAndProject" in p18


def test_runtime_bloom_filter_prunes_shuffle_join_probe_side(spark, tmp_path):
    """Round 8 (layout/skipping family): Spark's runtime row-level
    filtering — a selective dim filter on one side of a SHUFFLE join
    injects a Bloom-filter semi-reduction (`might_contain(xxhash64(k))`)
    into the fact-side scan, so non-joining fact rows drop BEFORE the
    exchange instead of shuffling and dying in the join. At 100 TB this
    is the difference between shuffling the full fact table and ~the
    selectivity fraction of it. Pins: the probe-side Filter carries
    might_contain, and the join result is row-correct."""
    from pyspark.sql import functions as F

    spark.range(50_000).select(
        F.col("id").alias("k"), (F.col("id") % 1000).alias("v")) \
        .write.parquet(str(tmp_path / "fact"))
    spark.range(50_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("tag")) \
        .write.parquet(str(tmp_path / "dim"))

    old = {k: spark.conf.get(k, None) for k in (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold")}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter"
                       ".creationSideThreshold", "10GB")
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter"
                       ".applicationSideScanSizeThreshold", "0")
        fact = spark.read.parquet(str(tmp_path / "fact"))
        dim = spark.read.parquet(str(tmp_path / "dim")) \
            .filter(F.col("tag") == 3)
        j = fact.join(dim, "k")
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in p and "SortMergeJoin" in p
        # correctness under the injected filter: ids with id % 7 == 3
        got = sorted(r["k"] for r in j.select("k").collect())
        assert got == [i for i in range(50_000) if i % 7 == 3]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
