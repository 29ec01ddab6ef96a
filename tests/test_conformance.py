"""Differential oracle tests (SURVEY §5 strategy #1): every SQL-expressible
conformance query must hash-match its DuckDB oracle at sf0.001 — a local
replica of the driver's t2 gate. Rows-only queries must return rows."""

from __future__ import annotations

import pytest

from data_engineering__spark.conformance import ORACLE, QUERIES

from .oracle import compare

SQL_BACKED = sorted(ORACLE)
ROWS_ONLY = sorted(set(QUERIES) - set(ORACLE))


@pytest.mark.parametrize("name", SQL_BACKED)
def test_oracle_match(spark, sf_dir, name):
    ok, msg = compare(spark, name, sf_dir)
    assert ok, f"{name}: {msg}"


@pytest.fixture(scope="module")
def empty_sf_dir(sf_dir, tmp_path_factory):
    """Zero-row parquet copies of the sf0.001 tables (schemas kept)."""
    import pyarrow.parquet as pq

    from data_engineering__spark.sources.io import TABLES

    out = tmp_path_factory.mktemp("sf_empty")
    for t in TABLES:
        pq.write_table(pq.read_table(f"{sf_dir}/{t}.parquet").slice(0, 0),
                       out / f"{t}.parquet")
    return str(out)


@pytest.mark.parametrize("name", [
    "cluster_quality_embeddings", "ivf_kmeans_topk",
    "ivf_nprobe_curve_embeddings", "ivfpq_adc_topk", "pq_code_histogram",
    "semantic_dedup", "ivf_topk", "corpus_report_docs", "dataset_card_docs",
    "null_profile_events", "pipeline_card_events",
    # the quantile, drift and packing family (window.scan_tree and
    # window.order_stats callers)
    "brier_decomposition_events", "calibration_bins_events",
    "cvm_drift_events", "embedding_norm_profile", "exact_quantiles_prices",
    "funnel_gap_stats_events", "hdr_quantiles_prices",
    "iqr_outlier_counts_events", "isotonic_calibration_events",
    "ks_drift_events", "mad_profile_events", "median_ci_events",
    "pack_training_sequences", "qte_report_events",
    "quantile_normalize_events", "rfm_segments_customers",
    "segment_order_quartiles", "shard_by_tokens_docs", "slo_burn_events",
    "threshold_sweep_events", "vocab_growth_docs", "weighted_quantiles_docs",
    "winsorized_stats_events"])
def test_centroid_keys_match_oracle_on_empty_tables(spark, empty_sf_dir,
                                                     name):
    """An empty corpus trains no centroids; every k-means/IVF key must
    still return its oracle's (empty or zero-count) result, not raise.
    The report keys divide by a row count that is 0 here: their ratios are
    NULL (``try_divide``), as DuckDB's x/0 is. The quantile family must
    also return its oracle's rows: the KS and CvM folds group on the
    cohort sizes, as their oracles do, so an empty input gives no row."""
    ok, msg = compare(spark, name, empty_sf_dir)
    assert ok, f"{name}: {msg}"


def test_token_key_matches_oracle_on_vertical_tab(spark, sf_dir,
                                                  tmp_path):
    """The oracles split text on DuckDB's RE2 ``\\s`` (``[\\t\\n\\f\\r ]``),
    which does not match the vertical tab; Java's ``\\s`` does. With the
    first space of every document turned into ``\\x0B``, a token key must
    still count the tokens its oracle counts."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from data_engineering__spark.sources.io import TABLES

    for t in TABLES:
        tbl = pq.read_table(f"{sf_dir}/{t}.parquet")
        if t == "documents":
            i = tbl.schema.get_field_index("text")
            tbl = tbl.set_column(i, "text", pc.replace_substring(
                tbl["text"], " ", "\x0b", max_replacements=1))
        pq.write_table(tbl, tmp_path / f"{t}.parquet")
    ok, msg = compare(spark, "token_entropy", str(tmp_path))
    assert ok, f"token_entropy: {msg}"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_nonempty(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    rows = df.limit(1000).collect()
    assert len(rows) > 0, f"{name} returned no rows"


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"r_name", "n_name", "order_count",
                               "total_revenue", "n_customers"}


def test_every_query_key_unique_and_callable():
    assert len(QUERIES) >= 30
    for name, fn in QUERIES.items():
        assert callable(fn), name
    # every oracle key has a query
    assert set(ORACLE) <= set(QUERIES)


def test_oracle_sweep_survives_driver_resource_envelope():
    """Replica of the round-3 driver failure mode (CORRECTNESS_r03: 24/50
    slots err). The driver runs ~50 oracles through one long-lived DuckDB
    process; DuckDB 1.0.0's CTE inlining + jemalloc fragmentation pushed
    that process over ``vm.max_map_count`` (65530 mappings), after which
    every allocation — of any size — failed. This guard runs the full
    oracle registry in a FRESH subprocess (the driver's process shape;
    in-process /proc/self/maps is context-noisy next to the Spark
    client) under a 500 MB memory_limit, and asserts the exposure the
    driver actually has:

    - the worst CONTIGUOUS 50-oracle window of mapping growth (one
      driver batch) stays far under the kernel limit, and
    - no SINGLE oracle is a churn monster (the pre-_mat ivf_kmeans was
      +7.5k alone, the pre-slim ivfpq_adc +22.9k — both would fail the
      per-oracle cap outright).

    A whole-registry total would keep shrinking headroom as coverage
    grows even though per-batch exposure is flat — these two bounds are
    the invariants that actually protect a driver round."""
    import json
    import os
    import subprocess
    import sys

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver-scale testdata not present")

    prog = r"""
import json, os
import duckdb
from data_engineering__spark.conformance import ORACLE
from data_engineering__spark.sources.io import TABLES

sf_dir = %r

def n_maps():
    with open("/proc/self/maps") as f:
        return sum(1 for _ in f)

con = duckdb.connect()
con.execute("SET memory_limit='500MB'")
# fixed thread count: allocator ARENA mappings scale with concurrency,
# so at 32 threads the measurement tracks box load (the full pytest
# suite saturating the cores shifted it >30%% run to run) instead of
# the SQL-structure churn this guard exists to catch
con.execute("SET threads TO 8")
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')")
prev = n_maps()
failures, deltas = [], []
for name, sql in ORACLE.items():
    try:
        con.execute(sql).fetchall()
    except Exception as e:
        failures.append(f"{name}: {e}")
    cur = n_maps()
    deltas.append([name, max(0, cur - prev)])
    prev = cur
con.close()
print(json.dumps({"failures": failures, "deltas": deltas}))
""" % sf_dir
    proc = subprocess.run([sys.executable, "-c", prog],
                          capture_output=True, text=True, timeout=900,
                          cwd=os.path.dirname(os.path.dirname(
                              os.path.abspath(__file__))))
    assert proc.returncode == 0, f"sweep subprocess died: {proc.stderr[-2000:]}"
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert not out["failures"], (
        f"oracles broke the 500MB envelope: {out['failures']}")
    deltas = out["deltas"]
    worst_single = max(deltas, key=lambda d: d[1])
    # per-oracle cap 12k: today's largest is the dedup_keep_best
    # recursive-closure oracle at ~9.5k; both historical churn monsters
    # (+7.5k would pass — it was one of FIVE such in its sweep; +22.9k
    # fails outright)
    assert worst_single[1] < 12_000, (
        f"single-oracle churn monster: {worst_single} — see "
        "conformance._mat and _ivfpq_oracle_sql for the known sources")
    window = 50
    sums = [sum(d[1] for d in deltas[i:i + window])
            for i in range(max(1, len(deltas) - window + 1))]
    worst_batch = max(sums)
    # one driver batch must stay far under vm.max_map_count (65530);
    # 25k leaves 2.5x headroom over the worst contiguous 50-oracle
    # window (measured ~12-16k across the current registry)
    assert worst_batch < 25_000, (
        f"worst 50-oracle batch grew {worst_batch} mappings; "
        "vm.max_map_count is 65530 — slim the heavy oracles "
        "(conformance._mat) before they burn a driver round")


def test_driver_window_spends_no_slot_without_an_oracle():
    """The driver hash-verifies only the first ~50 ``queries()`` entries
    per round; a rows-only key in that window would burn a verification
    slot on a weaker check. Guard: every windowed key carries an oracle
    and every prioritized key exists."""
    from data_engineering__spark.conformance import DRIVER_PRIORITY

    # two windows deep: the NEXT round's 50 slots must also carry only
    # oracle-backed keys, so a rotation never stages a rows-only key
    # into a verification slot one round out (since the round-11 re-key
    # of the two near-dup variants the registry carries NO rows-only
    # keys, so this holds registry-wide by construction)
    assert [k for k in DRIVER_PRIORITY[:100] if k not in ORACLE] == []
    assert [k for k in DRIVER_PRIORITY if k not in QUERIES] == []


def test_bench_headline_and_r01_subset_resolve():
    """bench.py must keep benching exactly what it claims: every HEADLINE
    key is a registry query, and the r01 trend subset is the same 67 keys
    BENCH_r01.json recorded, all still benched — so `r01_subset_sec` in
    every bench line stays apples-to-apples with the 51.1 s baseline."""
    import json
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from bench import HEADLINE, R01_SUBSET

    assert [k for k in HEADLINE if k not in QUERIES] == []
    assert len(HEADLINE) == len(set(HEADLINE))
    assert [k for k in R01_SUBSET if k not in HEADLINE] == []
    r01_path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH_r01.json")
    if os.path.exists(r01_path):
        with open(r01_path) as fh:
            recorded = json.load(fh)["parsed"]["queries"]
        assert sorted(R01_SUBSET) == sorted(recorded)
