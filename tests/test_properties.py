"""Property-based checks (SURVEY §5 strategy #4) on small generated inputs:
dedup idempotence, semi/anti partition law, merge key-uniqueness invariant,
assign_ids density. Few examples per property — each example spins Spark
jobs, so we buy breadth with distinct properties, not example count."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_engineering__spark.operators.dedup import dedup_by_key
from data_engineering__spark.operators.merge import assign_ids, upsert_merge

SETTINGS = settings(max_examples=8, deadline=None,
                    suppress_health_check=[HealthCheck.function_scoped_fixture])

keys = st.lists(st.one_of(st.none(), st.integers(0, 5)), min_size=1, max_size=30)


@given(ks=keys)
@SETTINGS
def test_dedup_idempotent_and_null_passthrough(spark, ks):
    df = spark.createDataFrame([Row(k=k, i=i) for i, k in enumerate(ks)],
                               "k int, i int")
    once = dedup_by_key(df, ["k"], [F.asc("i")], null_passthrough=True)
    twice = dedup_by_key(once, ["k"], [F.asc("i")], null_passthrough=True)
    nkey = lambda t: (t[0] is None, t[0] if t[0] is not None else 0, t[1])
    got_once = sorted(((r.k, r.i) for r in once.collect()), key=nkey)
    got_twice = sorted(((r.k, r.i) for r in twice.collect()), key=nkey)
    # idempotence
    assert got_once == got_twice
    # NULL rows all survive; non-null keys unique; survivor = min i per key
    nulls_in = [i for i, k in enumerate(ks) if k is None]
    assert [i for k, i in got_once if k is None] == nulls_in
    nonnull = {}
    for i, k in enumerate(ks):
        if k is not None and k not in nonnull:
            nonnull[k] = i
    assert sorted((k, i) for k, i in got_once if k is not None) == \
           sorted(nonnull.items())


@given(ks=keys)
@SETTINGS
def test_semi_anti_partition_law(spark, ks):
    """semi(df, probe) ∪ anti(df, probe) == df, disjointly — for non-null keys."""
    df = spark.createDataFrame([Row(k=k, i=i) for i, k in enumerate(ks)],
                               "k int, i int").filter(F.col("k").isNotNull())
    probe = spark.createDataFrame([Row(k=k) for k in [0, 2, 4]])
    semi = df.join(probe, "k", "left_semi")
    anti = df.join(probe, "k", "left_anti")
    all_rows = sorted((r.k, r.i) for r in df.collect())
    part = sorted((r.k, r.i) for r in semi.collect()) + \
           sorted((r.k, r.i) for r in anti.collect())
    assert sorted(part) == all_rows
    assert semi.count() + anti.count() == df.count()


@given(tvals=st.lists(st.integers(0, 8), min_size=0, max_size=12, unique=True),
       svals=st.lists(st.integers(0, 8), min_size=0, max_size=12, unique=True))
@SETTINGS
def test_upsert_merge_preserves_key_uniqueness(spark, tvals, svals):
    target = spark.createDataFrame([Row(k=v, a=f"t{v}", b=v * 10) for v in tvals],
                                   "k int, a string, b int")
    source = spark.createDataFrame([Row(k=v, b=v * 100) for v in svals],
                                   "k int, b int")
    merged = upsert_merge(target, source, "k", update_cols=["b"])
    rows = merged.collect()
    got_keys = sorted(r.k for r in rows)
    assert got_keys == sorted(set(tvals) | set(svals))  # union of keys, unique
    by_key = {r.k: r for r in rows}
    for v in set(tvals) | set(svals):
        if v in svals:
            assert by_key[v].b == v * 100       # source wins on update col
        else:
            assert by_key[v].b == v * 10        # target kept
        if v in tvals:
            assert by_key[v].a == f"t{v}"       # non-update col always target


@given(n=st.integers(0, 40), start=st.integers(1, 7))
@SETTINGS
def test_assign_ids_dense_permutation(spark, n, start):
    df = spark.range(n).select((F.col("id") * 13 % 101).alias("k"))
    out = assign_ids(df, ["k"], id_col="sid", start=start)
    sids = sorted(r.sid for r in out.collect())
    assert sids == list(range(start, start + n))


@given(edges=st.lists(st.tuples(st.integers(0, 20), st.integers(0, 20)),
                      min_size=1, max_size=25))
@SETTINGS
def test_connected_components_matches_union_find(spark, edges):
    """Iterative min-label propagation must agree with a reference
    union-find on arbitrary random graphs (self-loops included)."""
    from data_engineering__spark.operators.dedup import connected_components

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {x: find(x) for x in parent}
    # canonicalize: representative = min of each component
    comp_min = {}
    for x, r in want.items():
        comp_min.setdefault(find(r), []).append(x)
    expect = {x: min(members) for r, members in comp_min.items() for x in members}

    df = spark.createDataFrame([{"id_a": a, "id_b": b} for a, b in edges])
    got = {r.id: r.component
           for r in connected_components(df, max_iter=30).collect()}
    assert got == expect
    # the large-star/small-star contraction must agree with both
    from data_engineering__spark.operators.dedup import connected_components_star
    got_star = {r.id: r.component
                for r in connected_components_star(df, max_iter=30).collect()}
    assert got_star == expect


def test_cc_chain_convergence_rounds(spark):
    """≥3-hop chains (a~b~c~d...): components collapse to the head and the
    round count tracks the documented O(diameter) bound — 4-node chains
    within the 'typically 2-4' claim, 8-node chains ~diameter rounds."""
    from data_engineering__spark.operators.dedup import connected_components

    def chains(n_chains, length, stride=100):
        return [(c * stride + i, c * stride + i + 1)
                for c in range(n_chains) for i in range(length - 1)]

    for length, max_rounds in [(4, 4), (8, 8)]:
        edges = chains(5, length)
        df = spark.createDataFrame([{"id_a": a, "id_b": b} for a, b in edges])
        stats = {}
        got = {r.id: r.component
               for r in connected_components(df, stats=stats).collect()}
        heads = {c * 100 for c in range(5)}
        assert set(got.values()) == heads
        assert all(v == (k // 100) * 100 for k, v in got.items())
        assert stats["rounds"] <= max_rounds, (length, stats)


def test_minhash_cc_chained_duplicate_corpus(spark, sf_dir):
    """L2 fidelity on CHAINED duplicates: doc → drop-1-token → drop-2 →
    drop-3 (adjacent pairs near-identical). Exact closure must keep exactly
    ONE survivor per chain — the original doc id — unlike the one-hop
    approximation, and converge in the documented handful of rounds."""
    from data_engineering__spark.operators.dedup import minhash_dedup_cc
    from data_engineering__spark.sources.io import read_table

    docs = (read_table(spark, sf_dir, "documents").select("doc_id", "text")
            .filter((F.col("doc_id") % 10 == 0) & (F.size(F.split("text", " ")) >= 20)))
    toks = F.split(F.col("text"), " ")
    chain = docs
    for step in (1, 2, 3):
        chain = chain.unionByName(docs.select(
            (F.col("doc_id") + 1000000 * step).alias("doc_id"),
            F.concat_ws(" ", F.slice(
                toks, 1, F.size(toks) - step)).alias("text")))
    n_chains = docs.count()
    stats = {}
    kept = minhash_dedup_cc(chain, "doc_id", "text",
                            jaccard_threshold=0.8, stats=stats)
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    # every chain collapses onto its head: no perturbed copy survives, and
    # the survivor set equals what dedup keeps on the HEADS alone (real
    # corpora contain naturally near-duplicate heads whose chains merge —
    # the chain members must not change which heads win)
    heads_only = {r.doc_id for r in
                  minhash_dedup_cc(docs, "doc_id", "text",
                                   jaccard_threshold=0.8)
                  .select("doc_id").collect()}
    assert all(i < 1000000 for i in kept_ids)
    assert kept_ids == heads_only
    assert n_chains > 0 and stats["rounds"] <= 6, stats


def test_cc_star_chain_rounds_logarithmic(spark):
    """Star contraction's raison d'être: an L-node path converges in
    O(log L) rounds where label propagation needs ~L-1 — verify on a
    64-node chain with monotone and with shuffled ids (label propagation
    would need ~63 and ~45 rounds)."""
    from data_engineering__spark.operators.dedup import connected_components_star

    import random

    ids = list(range(64))
    random.Random(7).shuffle(ids)
    # the monotone path, then the same path over shuffled ids (where
    # min-label propagation needs ~45 rounds and pointer jumping gains
    # about one step a round)
    for order in (list(range(64)), ids):
        df = spark.createDataFrame([{"id_a": a, "id_b": b}
                                    for a, b in zip(order, order[1:])])
        stats = {}
        got = {r.id: r.component
               for r in connected_components_star(df, stats=stats).collect()}
        assert got == {i: 0 for i in range(64)}
        assert stats["rounds"] <= 10, stats   # ~log2(64)=6 + confirm rounds


def _chain(spark, n, a="id_a", b="id_b"):
    return spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                 f"{a} long, {b} long")


def _funnel_events(spark):
    from datetime import datetime, timedelta

    t = datetime(2024, 1, 1)
    rows = [(u, t + timedelta(hours=h), e) for u in range(6)
            for h, e in [(0, "view"), (1 + u % 3, "click"),
                         (5 + u % 2, "purchase")]]
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string")


def _loop_cases():
    from data_engineering__spark.operators import analytics as A
    from data_engineering__spark.operators import dedup as D
    from data_engineering__spark.operators import graph as G
    from data_engineering__spark.operators import sketches as SK

    def k_core(spark):
        # a 4-clique with a 6-node tail: k=3 peels one tail node a round
        clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
        tail = [(i, i + 1) for i in range(3, 9)]
        return G.k_core(spark.createDataFrame(clique + tail,
                                              "src long, dst long"), k=3)

    steps = ["view", "click", "purchase"]
    return {
        "bfs_hops": lambda s: G.bfs_hops(_chain(s, 12, "src", "dst"), [0],
                                         max_hops=20),
        "k_core": k_core,
        "pagerank": lambda s: G.pagerank(_chain(s, 6, "src", "dst"),
                                         n_iter=4),
        "conversion_funnel": lambda s: A.conversion_funnel(
            _funnel_events(s), steps),
        "funnel_gap_stats": lambda s: A.funnel_gap_stats(
            _funnel_events(s), steps),
        "funnel_within": lambda s: A.funnel_within(
            _funnel_events(s), steps, 3 * 3600),
        "connected_components": lambda s: D.connected_components(
            _chain(s, 12)),
        "connected_components_star": lambda s: D.connected_components_star(
            _chain(s, 64)),
        "hdr_quantile_report": lambda s: SK.hdr_quantile_report(
            s.createDataFrame([(c,) for c in range(1, 200, 3)], "c long"),
            "c"),
    }


@pytest.mark.parametrize("op", sorted(_loop_cases()))
def test_loop_operators_release_their_intermediates(spark, op):
    """Every iterative operator frees each round it has finished with:
    after a run, the persistent RDD set grows by at most the one RDD
    behind the returned frame, and ``session.release`` of that frame
    frees it. ``DataFrame.unpersist`` is a no-op on a local checkpoint,
    so an operator that unpersists or forgets its checkpointed rounds
    leaks one RDD per round (a 12-node chain left 3 behind in
    ``connected_components``, and ``bfs_hops`` one per hop)."""
    from data_engineering__spark.session import release

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    out = _loop_cases()[op](spark)
    assert out.collect()
    grew = jsc.getPersistentRDDs().size() - before
    assert grew <= 1, (op, grew)
    release(out)
    assert jsc.getPersistentRDDs().size() <= before, op


@pytest.mark.parametrize("key", ["minhash_cc_dedup", "supplier_er_clusters"])
def test_release_frees_the_stored_rdd_a_cc_result_reads(spark, sf_dir, key):
    """A near-dup closure's result reads the stored labels of its last
    CC round; ``session.release`` on the collected result walks the
    plan's leaves and frees that RDD, which ``unpersist`` and
    ``clearCache`` cannot."""
    from data_engineering__spark.conformance import QUERIES
    from data_engineering__spark.session import release

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    out = QUERIES[key](spark, sf_dir)
    out.collect()
    assert jsc.getPersistentRDDs().size() - before == 1
    release(out)
    assert jsc.getPersistentRDDs().size() <= before


def test_cc_reports_convergence(spark):
    """``stats`` reports the observed Σ(component) after round 0 and each
    round, and whether two equal sums ended the loop: a 12-node chain
    needs ~11 rounds, so ``max_iter=3`` stops it unconverged."""
    from data_engineering__spark.operators.dedup import connected_components

    df = spark.createDataFrame([{"id_a": i, "id_b": i + 1} for i in range(11)])
    short = {}
    connected_components(df, max_iter=3, stats=short)
    assert short["converged"] is False and short["rounds"] == 3, short
    assert len(short["sums"]) == 4, short
    assert all(a > b for a, b in zip(short["sums"], short["sums"][1:])), short
    full = {}
    connected_components(df, stats=full)
    assert full["converged"] is True, full
    assert full["sums"][-1] == full["sums"][-2] == 0, full
    assert full["rounds"] == len(full["sums"]) - 1, full


def test_kmeans_fit_invariant_under_repartition(spark, sf_dir):
    """The determinism device itself: fixed init + fixed iterations +
    6-dp centroid rounding must make the trained centroids IDENTICAL no
    matter how the corpus is partitioned (partial-sum averaging differs
    across partitionings only below the rounding threshold)."""
    from data_engineering__spark.operators.vector import kmeans_fit
    from data_engineering__spark.sources.io import read_table

    e = read_table(spark, sf_dir, "embeddings")
    a = {r["cell"]: list(r["cvec"])
         for r in kmeans_fit(e, k=4, n_iter=2).collect()}
    b = {r["cell"]: list(r["cvec"])
         for r in kmeans_fit(e.repartition(13), k=4, n_iter=2).collect()}
    assert a == b


def test_pagerank_cycle_closed_form(spark):
    """On a k-cycle every node has out-degree 1 and in-degree 1, so the
    uniform distribution is the exact fixpoint at ANY damping: every
    iteration maps 1/k -> (1-d)/k + d*(1/k) = 1/k. Checks values AND
    that iteration count doesn't perturb them (rounding is stable)."""
    from data_engineering__spark.operators.graph import pagerank

    k = 10
    edges = spark.createDataFrame(
        [{"src": i, "dst": (i + 1) % k} for i in range(k)])
    got = {r.id: r.rank for r in pagerank(edges, n_iter=4).collect()}
    assert got == {i: 0.1 for i in range(k)}


@given(rows=st.lists(st.tuples(st.integers(-30, 30), st.integers(-9, 9),
                                st.integers(0, 9)), min_size=1, max_size=40),
       width=st.sampled_from([1, 7, 1000]))
@SETTINGS
def test_scan_tree_matches_cumulative_sum(spark, rows, width):
    """The two-level scan tree must equal a Python running sum over the
    ascending key, for negative keys (``div`` truncates toward zero, so
    bucket 0 spans (−w, w)), every bucket width, and two columns at once.
    Keys are summed per value first: the tree orders a histogram."""
    from data_engineering__spark.operators.window import scan_tree

    hist: dict[int, list[int]] = {}
    for k, a, b in rows:
        ab = hist.setdefault(k, [0, 0])
        ab[0] += a
        ab[1] += b
    df = spark.createDataFrame([(k, a, b) for k, (a, b) in hist.items()],
                               "k long, a long, b long")
    got = {r.k: (r.a_cum, r.b_cum)
           for r in scan_tree(df, "k", width, "a", "b").collect()}
    want, ra, rb = {}, 0, 0
    for k in sorted(hist):
        ra, rb = ra + hist[k][0], rb + hist[k][1]
        want[k] = (ra, rb)
    assert got == want


@given(vals=st.lists(st.tuples(st.sampled_from("xyz"), st.integers(-20, 20)),
                     min_size=1, max_size=50),
       num=st.integers(0, 7))
@SETTINGS
def test_order_stats_matches_sorted_kth(spark, vals, num):
    """``order_stats`` must pick the sorted list's k-th element at
    k = ⌈n·num/8⌉ (the minimum when k = 0), per group and with no
    group, and report n."""
    from data_engineering__spark.operators.window import order_stats

    def kth(xs):
        xs = sorted(xs)
        return len(xs), xs[max(-(-len(xs) * num // 8), 1) - 1]

    df = spark.createDataFrame(vals, "g string, v long")
    hist = df.groupBy("g", F.col("v").alias("__v")).agg(
        F.count(F.lit(1)).alias("__c"))
    got = {r.g: (r["__n"], r.q)
           for r in order_stats(hist, ["g"], q=(num, 8)).collect()}
    groups: dict[str, list[int]] = {}
    for g, v in vals:
        groups.setdefault(g, []).append(v)
    assert got == {g: kth(xs) for g, xs in groups.items()}
    flat = df.groupBy(F.col("v").alias("__v")).agg(
        F.count(F.lit(1)).alias("__c"))
    one = order_stats(flat, [], q=(num, 8)).collect()
    assert [(r["__n"], r.q) for r in one] == [kth([v for _, v in vals])]


@given(ns=st.lists(st.integers(0, 40), min_size=1, max_size=25),
       cap=st.integers(3, 20), bucket=st.integers(1, 7))
@SETTINGS
def test_pack_sequences_matches_sequential_definition(spark, ns, cap, bucket):
    """The distributed two-level prefix sum must equal the sequential
    concat-and-cut definition for ANY doc sizes / capacity / bucketing:
    token conservation, every sequence full except the last, doc-overlap
    counts exact."""
    from data_engineering__spark.operators.chunking import pack_sequences
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(["w"] * n)) for i, n in enumerate(ns)])
    got = {r.seq_id: (r.n_docs, r.n_tokens)
           for r in pack_sequences(docs, "doc_id", "text",
                                   capacity=cap, bucket_size=bucket).collect()}
    # sequential reference
    want: dict[int, list[int]] = {}
    off = 0
    for n in ns:
        if n == 0:
            continue
        for seq in range(off // cap, (off + n - 1) // cap + 1):
            tok = min((seq + 1) * cap, off + n) - max(seq * cap, off)
            d, t = want.get(seq, (0, 0))
            want[seq] = (d + 1, t + tok)
        off += n
    assert got == want


@given(ns=st.lists(st.integers(0, 30), min_size=1, max_size=12),
       size=st.integers(2, 10), overlap=st.integers(0, 8))
@SETTINGS
def test_chunk_tokens_cover_stream_with_exact_overlap(spark, ns, size, overlap):
    """Chunks tile each doc: chunk i starts at i*step, consecutive chunks
    overlap by exactly `overlap` tokens (final chunk may be short), and
    concatenating each chunk's fresh suffix rebuilds the token stream."""
    from data_engineering__spark.operators.chunking import chunk_tokens
    if overlap >= size:
        overlap = size - 1
    step = size - overlap
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(f"t{j}" for j in range(n)))
         for i, n in enumerate(ns)])
    out = chunk_tokens(docs, "doc_id", "text", size=size, overlap=overlap)
    by_doc: dict[int, dict[int, list[str]]] = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, {})[r.chunk_id] = r.chunk_text.split(" ")
    for i, n in enumerate(ns):
        toks = [f"t{j}" for j in range(n)]
        chunks = by_doc.get(i, {})
        if n == 0:
            assert chunks == {}
            continue
        assert sorted(chunks) == list(range(len(chunks)))
        rebuilt: list[str] = []
        for cid in sorted(chunks):
            c = chunks[cid]
            assert c == toks[cid * step: cid * step + size]
            rebuilt.extend(c if cid == 0 else c[overlap:] if len(c) > overlap else [])
        # every chunk start < n → full stream covered
        assert rebuilt[:n] == toks


@given(texts=st.lists(
    st.text(alphabet=st.sampled_from(list("ab c\tXY.\n")), max_size=60),
    min_size=1, max_size=8),
    n=st.integers(2, 5))
@SETTINGS
def test_shingle_sha_rows_matches_python_reference(spark, texts, n):
    """The projected-token shingle kernel must emit exactly the reference
    set: for each doc, one row per n-token window, hash = first 8 hex
    chars of sha256 of the space-joined window — for ANY whitespace/case
    mess and any window width."""
    import hashlib

    from data_engineering__spark.operators.dedup import shingle_sha_rows
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    got = sorted((r.doc_id, r.h) for r in
                 shingle_sha_rows(df, ["doc_id"], "text", n).collect())
    want = []
    for i, t in enumerate(texts):
        toks = [x for x in t.lower().strip().split() if x]
        for j in range(len(toks) - n + 1):
            win = " ".join(toks[j:j + n])
            want.append(
                (i, int(hashlib.sha256(win.encode()).hexdigest()[:8], 16)))
    assert got == sorted(want)


@given(vals=st.lists(st.integers(-50, 50), min_size=1, max_size=40),
       plo=st.integers(1, 50), phi=st.integers(50, 100))
@SETTINGS
def test_winsorized_stats_matches_sequential_reference(spark, vals, plo, phi):
    """The histogram order-statistic formulation must equal the sequential
    definition for ANY values and percentile rationals: lo/hi are the
    ceil(p·n)-th smallest values, clips count strictly-outside rows, and
    the winsorized mean is the clipped sum over n."""
    import math

    from data_engineering__spark.operators.analytics import winsorized_stats
    df = spark.createDataFrame([Row(g="g", v=v) for v in vals])
    r = winsorized_stats(df, ["g"], F.col("v"),
                         p_lo=(plo, 100), p_hi=(phi, 100)).collect()[0]
    s = sorted(vals)
    n = len(s)
    lo = s[math.ceil(n * plo / 100) - 1]
    hi = s[math.ceil(n * phi / 100) - 1]
    assert (r.n, r.lo, r.hi) == (n, lo, hi)
    assert r.n_clipped_lo == sum(1 for v in vals if v < lo)
    assert r.n_clipped_hi == sum(1 for v in vals if v > hi)
    assert r.winsorized_mean == sum(min(max(v, lo), hi) for v in vals) / n


@given(docs=st.lists(
    st.lists(st.sampled_from(["dup one", "dup two", "uniq"]),
             min_size=0, max_size=5),
    min_size=1, max_size=6),
    min_docs=st.integers(2, 3))
@SETTINGS
def test_line_dedup_matches_python_reference(spark, docs, min_docs):
    """line_dedup ≡ the sequential definition: count DISTINCT docs per
    trimmed non-blank line, strip lines at or above min_docs, rebuild in
    order — for arbitrary line multisets including repeated lines within
    one doc (which must NOT count as cross-doc duplication by themselves)."""
    from data_engineering__spark.operators.dedup import line_dedup
    # make 'uniq' lines actually unique per (doc, position)
    texts = ["\n".join(f"uniq {i} {j}" if ln == "uniq" else ln
                       for j, ln in enumerate(lines))
             for i, lines in enumerate(docs)]
    df = spark.createDataFrame(
        [Row(id=i, t=t) for i, t in enumerate(texts)])
    got = {r.id: (r.clean_text, r.n_kept, r.n_removed)
           for r in line_dedup(df, "id", "t", min_docs=min_docs).collect()}
    from collections import defaultdict
    docs_per_line: dict[str, set] = defaultdict(set)
    parsed = {}
    for i, t in enumerate(texts):
        lines = [ln.strip() for ln in t.split("\n") if ln.strip()]
        parsed[i] = lines
        for ln in lines:
            docs_per_line[ln].add(i)
    boiler = {ln for ln, ds in docs_per_line.items() if len(ds) >= min_docs}
    for i, lines in parsed.items():
        if not lines:
            continue        # zero non-blank lines -> doc absent from output
        keep = [ln for ln in lines if ln not in boiler]
        assert got[i] == ("\n".join(keep), len(keep),
                          len(lines) - len(keep)), (i, lines)


@given(vals=st.lists(st.integers(0, 50), min_size=1, max_size=40),
       num=st.integers(1, 99))
@SETTINGS
def test_exact_quantiles_matches_sorted_rank(spark, vals, num):
    """For any q = num/100, the reported value IS sorted(vals)[ceil(q·n)-1]
    and the reported rank is ceil(q·n) — the textbook k-th order statistic,
    ties and all."""
    from data_engineering__spark.operators.analytics import exact_quantiles
    df = spark.createDataFrame([Row(v=v) for v in vals], "v long")
    out = exact_quantiles(df, F.col("v"), [(num, 100)], bucket_width=7).collect()
    n = len(vals)
    k = -(-n * num // 100)  # ceil
    assert len(out) == 1
    assert out[0].rank == k
    assert out[0].value == sorted(vals)[k - 1]


@given(vals=st.lists(st.integers(-100, 100), min_size=1, max_size=25))
@SETTINGS
def test_ewma_matches_sequential_reference(spark, vals):
    """Truncated α=1/2 EWMA vs a direct Python fold over the last 12
    observations (binary weights, exact rational arithmetic)."""
    from datetime import datetime, timedelta
    from fractions import Fraction
    from data_engineering__spark.operators.temporal import ewma
    t0 = datetime(2024, 6, 1)
    df = spark.createDataFrame(
        [Row(user_id=1, event_id=i, ts=t0 + timedelta(seconds=i),
             value=float(v)) for i, v in enumerate(vals)])
    got = {r.event_id: r.ewma
           for r in ewma(df, "ts", ["user_id"], "value").collect()}
    for t in range(len(vals)):
        window = vals[max(0, t - 11):t + 1][::-1]  # newest first
        num = sum(Fraction(c * 100) * Fraction(1, 2 ** k)
                  for k, c in enumerate(window))
        den = sum(Fraction(1, 2 ** k) for k in range(len(window)))
        ref = float(num / den) / 100.0
        assert abs(got[t] - round(ref, 6)) < 1e-9, (t, got[t], ref)


@given(names=st.lists(st.text(alphabet="abc", min_size=1, max_size=5),
                      min_size=2, max_size=12, unique=True))
@SETTINGS
def test_edit_neighbors_matches_bruteforce(spark, names):
    """FastSS candidates + verify == brute-force all-pairs levenshtein≤1
    (recall completeness over a hostile tiny alphabet)."""
    from data_engineering__spark.operators.relational import edit_neighbors
    df = spark.createDataFrame(
        [Row(id=i, name=nm) for i, nm in enumerate(names)])
    got = {(r.id_a, r.id_b) for r in
           edit_neighbors(df, "id", "name").collect()}

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                         prev + (ca != cb))
        return dp[-1]

    want = {(i, j) for i in range(len(names)) for j in range(i + 1, len(names))
            if lev(names[i], names[j]) <= 1}
    assert got == want


@given(iv=st.lists(st.tuples(st.integers(0, 40), st.integers(1, 15)),
                   min_size=1, max_size=15))
@SETTINGS
def test_interval_concurrency_matches_pointwise_scan(spark, iv):
    """Sweep-line result vs a brute-force per-unit-time scan of
    half-open [s, s+len) intervals."""
    from data_engineering__spark.operators.temporal import (
        interval_concurrency)
    rows = [Row(g="g", s=s, e=s + ln) for s, ln in iv]
    out = interval_concurrency(
        spark.createDataFrame(rows), ["g"],
        F.col("s").cast("long"), F.col("e").cast("long"), k=2).collect()[0]
    hi = max(s + ln for s, ln in iv)
    conc = [sum(1 for s, ln in iv if s <= t < s + ln) for t in range(hi + 1)]
    assert out.peak_concurrency == max(conc)
    assert out.busy_us == sum(1 for c in conc if c >= 2)


@given(texts=st.lists(st.lists(st.sampled_from("ab"), min_size=1,
                               max_size=8).map(lambda cs: " ".join(cs)),
                      min_size=2, max_size=8))
@SETTINGS
def test_duplicate_passages_matches_python_reference(spark, texts):
    """Cross-doc n-token window detection vs a direct Python count
    (tiny alphabet forces heavy sharing)."""
    from collections import Counter, defaultdict
    from data_engineering__spark.operators.dedup import duplicate_passages
    n = 2
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)])
    got = {}
    for r in duplicate_passages(df, "doc_id", "text",
                                n=n, min_docs=2).collect():
        got[r.passage_h] = (r.n_docs, r.n_occurrences)
    docs_per = defaultdict(set)
    occ = Counter()
    for i, t in enumerate(texts):
        toks = t.split()
        for j in range(len(toks) - n + 1):
            w = tuple(toks[j:j + n])
            docs_per[w].add(i)
            occ[w] += 1
    want = sorted((len(docs_per[w]), occ[w])
                  for w in docs_per if len(docs_per[w]) >= 2)
    assert sorted(got.values()) == want  # hash ids differ; multisets match


@given(vals=st.lists(st.tuples(st.sampled_from("ab"),
                               st.integers(0, 12)),
                     min_size=2, max_size=40))
@SETTINGS
def test_ks_two_sample_matches_python_reference(spark, vals):
    """Exact two-sample KS distance vs a direct Python sup over the
    merged support — the two-level prefix-sum scan tree must agree with
    the naive cumulative formulation to the last bit."""
    from data_engineering__spark.operators.analytics import ks_two_sample
    a = [v for g, v in vals if g == "a"]
    b = [v for g, v in vals if g == "b"]
    if not a or not b:
        return
    df = spark.createDataFrame([Row(g=g, v=v) for g, v in vals])
    out = ks_two_sample(df, F.col("g"), F.col("v"), "a", "b").collect()[0]
    assert (out.n_a, out.n_b) == (len(a), len(b))
    support = sorted(set(a) | set(b))
    want = max(abs(sum(1 for x in a if x <= s) / len(a)
                   - sum(1 for x in b if x <= s) / len(b))
               for s in support)
    assert out.ks_stat == round(want, 6)


@given(obs=st.lists(st.tuples(st.integers(0, 8), st.integers(0, 400)),
                    min_size=1, max_size=12))
@SETTINGS
def test_resample_interpolate_matches_python_reference(spark, obs):
    """Linear gap interpolation vs a direct Python reference over one
    key's hourly grid: observed buckets keep their exact cents mean,
    gap buckets interpolate between neighbouring observed buckets with
    the same IEEE expression."""
    from datetime import datetime, timezone

    from data_engineering__spark.operators.temporal import (
        resample_interpolate)
    rows = [Row(u=1,
                ts=datetime.fromtimestamp(1_700_000_000 + h * 3600 + 60,
                                          tz=timezone.utc),
                v=c / 100.0)
            for h, c in obs]
    df = spark.createDataFrame(rows)
    got = {r.bucket_start: r for r in
           resample_interpolate(df, "ts", ["u"], "v",
                                every_seconds=3600, round_dp=2).collect()}
    # python reference
    from collections import defaultdict
    buckets = defaultdict(list)
    for h, c in obs:
        bucket = ((1_700_000_000 + h * 3600 + 60) // 3600) * 3600
        buckets[bucket].append(c)
    means = {b: sum(cs) / (len(cs) * 100) for b, cs in buckets.items()}
    lo, hi = min(means.keys()), max(means.keys())
    grid = list(range(lo, hi + 1, 3600))
    assert set(got) == set(grid)
    obs_sorted = sorted(means)
    for t in grid:
        r = got[t]
        if t in means:
            assert r.n > 0 and r.v_interp == means[t]
        else:
            prev = max(x for x in obs_sorted if x < t)
            nxt = min(x for x in obs_sorted if x > t)
            vp, vn = means[prev], means[nxt]
            # same IEEE expression tree as the operator -> exact equality
            want = vp + (vn - vp) * (float(t - prev) / float(nxt - prev))
            assert r.n == 0 and r.v_interp == want


@given(st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 500),
              st.integers(0, 100)),
    min_size=1, max_size=40))
@settings(max_examples=12, deadline=None)
def test_interval_union_invariants(spark, ivs):
    """For random per-key interval sets: total coverage never exceeds
    the hull span, never undercuts the longest single interval,
    islands never outnumber intervals, and a brute-force sweep agrees
    exactly."""
    from data_engineering__spark.operators.temporal import interval_union
    from pyspark.sql import functions as F

    rows = [(k, s, s + d) for k, s, d in ivs]
    df = spark.createDataFrame(rows, "k long, s long, e long")
    out = {r.k: r for r in interval_union(
        df, ["k"], F.col("s"), F.col("e")).collect()}

    from collections import defaultdict
    by_key = defaultdict(list)
    for k, s, d in ivs:
        by_key[k].append((s, s + d))
    for k, items in by_key.items():
        r = out[k]
        assert r.n_intervals == len(items)
        assert r.n_islands <= r.n_intervals
        hull = max(e for _, e in items) - min(s for s, _ in items)
        assert r.covered_us <= hull
        assert r.covered_us >= max(e - s for s, e in items)
        # brute-force union sweep
        pts = sorted(items)
        cov, cur_s, cur_e = 0, None, None
        n_isl = 0
        for s, e in pts:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    cov += cur_e - cur_s
                cur_s, cur_e = s, e
                n_isl += 1
            else:
                cur_e = max(cur_e, e)
        cov += cur_e - cur_s
        assert r.covered_us == cov and r.n_islands == n_isl


@given(st.lists(st.integers(-1000, 1000), min_size=1, max_size=60))
@settings(max_examples=12, deadline=None)
def test_group_quartiles_property(spark, vals):
    """Quartiles are always actual data values, ordered q1<=q2<=q3,
    and equal the ceil-rule order statistics of the sorted list."""
    import math

    from data_engineering__spark.operators.analytics import (
        group_quartiles,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("g", v) for v in vals], "g string, v long")
    r = group_quartiles(df, "g", F.col("v")).collect()[0]
    s = sorted(vals)
    kth = lambda p: s[math.ceil(len(s) * p) - 1]  # noqa: E731
    assert (r.q1, r.q2, r.q3) == (kth(.25), kth(.5), kth(.75))
    assert r.q1 <= r.q2 <= r.q3
    assert all(q in vals for q in (r.q1, r.q2, r.q3))


@given(secs=st.lists(st.integers(0, 3000), min_size=1, max_size=60),
       gap=st.sampled_from([1, 7, 300]),
       min_size=st.integers(1, 3))
@SETTINGS
def test_event_bursts_matches_sequential_islands(spark, secs, gap, min_size):
    """The round-7 two-level rewrite (per-gap_s-bucket aggregate, islands
    over the bucket table) must equal the sequential single-stream
    definition on ANY second multiset — including gaps exactly == gap_s
    (same island), == gap_s+1 (split), duplicate seconds, and events
    straddling bucket boundaries. Hypothesis drives those edges; the
    reference is a 10-line driver-side fold."""
    import datetime as dt

    from data_engineering__spark.operators.temporal import event_bursts

    rows = [Row(ts=dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
                + dt.timedelta(seconds=s)) for s in secs]
    got = sorted(map(tuple, event_bursts(
        spark.createDataFrame(rows), "ts", gap_s=gap,
        min_size=min_size).collect()))

    base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    ordered = sorted(base + s for s in secs)
    islands, cur = [], [ordered[0]]
    for s in ordered[1:]:
        if s - cur[-1] > gap:
            islands.append(cur)
            cur = [s]
        else:
            cur.append(s)
    islands.append(cur)
    want = sorted((i[0], i[-1], len(i), i[-1] - i[0])
                  for i in islands if len(i) >= min_size)
    assert got == want


@given(edges=st.lists(st.tuples(st.integers(0, 12), st.integers(0, 12)),
                      min_size=0, max_size=25),
       max_hop=st.integers(1, 3))
@SETTINGS
def test_recursive_cte_min_hop_matches_python_bfs(spark, edges, max_hop):
    """Property (round 8): the WITH RECURSIVE UnionLoop's min-hop BFS
    equals a reference Python BFS on ANY small directed graph (cycles,
    self-loop-free after filtering, disconnected nodes) and any hop
    bound 1..3 — the property form of the fixed-graph R321 oracle.
    Seeds are all nodes < 4; only min_hop is compared (path counts grow
    combinatorially and are pinned by the fixed-graph oracle instead)."""
    edges = [(u, v) for u, v in edges if u != v]
    e_df = (spark.createDataFrame(edges or [(99, 98)], "u long, v long")
            .limit(len(edges)).distinct())
    e_df.createOrReplaceTempView("___rcte_prop_e")
    got = {(r.start_id, r.id): r.min_hop for r in spark.sql(f"""
WITH RECURSIVE reach(start_id, id, hop) AS (
  SELECT u AS start_id, u AS id, 0 AS hop
  FROM (SELECT DISTINCT u FROM ___rcte_prop_e WHERE u < 4)
  UNION ALL
  SELECT r.start_id, e.v, r.hop + 1
  FROM reach r JOIN ___rcte_prop_e e ON e.u = r.id
  WHERE r.hop < {max_hop})
SELECT start_id, id, MIN(hop) AS min_hop
FROM reach GROUP BY start_id, id""").collect()}

    adj = {}
    for u, v in set(edges):
        adj.setdefault(u, []).append(v)
    want = {}
    for s in {u for u, _ in edges if u < 4}:
        frontier, dist = [s], {s: 0}
        for hop in range(1, max_hop + 1):
            nxt = []
            for n in frontier:
                for m in adj.get(n, []):
                    if m not in dist:
                        dist[m] = hop
                        nxt.append(m)
            frontier = nxt
        for node, d in dist.items():
            want[(s, node)] = d
    assert got == want
