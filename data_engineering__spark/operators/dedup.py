"""Deduplication operators (SURVEY §2.4 A6, §2.12 L1-L2 + EXT mandate).

Parity core: the reference dedups via Postgres unique constraints —
``ON CONFLICT (doi) DO NOTHING`` (``process_publications_dag.py:67``) with
Postgres UNIQUE treating NULLs as distinct, so rows with NULL doi ALWAYS
insert (SURVEY §1.3). ``dedup_by_key`` reproduces exactly that.

Extension mandate (BASELINE.json north star): the dedup family a 100 TB
training-data pipeline needs — exact-hash, MinHash+LSH, SimHash, n-gram
Jaccard, plus exact transitive closure via connected components. Candidate
generation is always band/bucket-join based (never O(n²) pairwise).

Signature kernels are Arrow-batched numpy (``mapInPandas``): Spark
higher-order-function lambdas execute in the interpreted expression
evaluator (never whole-stage codegen), measured ~1.6 µs per lambda eval —
a vectorized reduceat over the batch beats them ~10×. Joins/grouping stay
JVM-side. Every kernel tokenizes with ``text.py_tokens`` (``text.tokens()``
in Python) and hashes tokens with one family, the sha-bucket (first 8 hex
chars of sha256). MinHash and exact n-gram Jaccard share one word-shingle
space (``_shingle_hasher``), and LSH band keys are raw signature slices, so
an external SQL oracle recomputes every stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import materialize, release
from .text import py_tokens, tokens


# ------------------------------------------------------------- parity dedup

def dedup_by_key(df: DataFrame, keys: list[str], order_by: list[Column],
                 null_passthrough: bool = True) -> DataFrame:
    """A6: deterministic dedup-on-natural-key with NULL passthrough.

    Keeps the first row per key under ``order_by`` (an explicit total order —
    ``dropDuplicates`` keeps an ARBITRARY row, which breaks rerun-stability;
    same reasoning as deterministic surrogate keys, SURVEY §1.2).

    ``null_passthrough=True`` pins the reference semantics: rows where any
    key column is NULL bypass dedup entirely (Postgres UNIQUE NULLs-distinct,
    ``process_publications_dag.py:67``; 15/30 sample rows have NULL doi).

    Scale: one shuffle on ``keys``; the NULL side moves with zero shuffle
    (filter only). Skewed NULL keys never hash to one reducer because they
    are split out BEFORE the shuffle.
    """
    null_pred = None
    for k in keys:
        p = F.col(k).isNull()
        null_pred = p if null_pred is None else (null_pred | p)
    if null_passthrough and null_pred is not None:
        null_side = df.filter(null_pred)
        keyed = df.filter(~null_pred)
    else:
        null_side = None
        keyed = df
    w = Window.partitionBy(*keys).orderBy(*order_by)
    deduped = (keyed.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1).drop("__rn"))
    return deduped.unionByName(null_side) if null_side is not None else deduped


# --------------------------------------------------------------- exact text

def normalized_text_hash(text_col: str) -> Column:
    """L1: content fingerprint — sha256 of lower(trim(text)). 256-bit hash →
    collision-free for practical corpus sizes; groupBy on the hash shuffles
    64-char strings, not document bodies."""
    return F.sha2(F.lower(F.trim(F.col(text_col))), 256)


def exact_text_dedup(df: DataFrame, text_col: str, order_by: list[Column]) -> DataFrame:
    """L1: exact dedup on normalized text hash, deterministic survivor."""
    hashed = df.withColumn("text_hash", normalized_text_hash(text_col))
    return dedup_by_key(hashed, ["text_hash"], order_by, null_passthrough=False)


def weighted_dedup(df: DataFrame, text_col: str,
                   order_by: list[Column]) -> DataFrame:
    """EXT (R165, round 6): COUNT-PRESERVING exact dedup — one survivor
    per normalized-content group plus the group's multiplicity as a
    ``weight`` column. Plain dedup silently reweights the training
    distribution (a document crawled 10,000 times counts once); carrying
    the duplicate count lets the sampler restore — or deliberately
    temper (``weight^α``) — the original frequency mass. This is the
    standard "dedup but keep counts" curation contract.

    One extra aggregation over plain ``exact_text_dedup``: multiplicities
    come from a (hash, count) map-side partial agg joined back onto the
    survivors by the 8-byte hash key; document bodies never shuffle
    twice."""
    hashed = df.withColumn("text_hash", normalized_text_hash(text_col))
    survivors = dedup_by_key(hashed, ["text_hash"], order_by,
                             null_passthrough=False)
    weights = (hashed.groupBy("text_hash")
               .agg(F.count(F.lit(1)).cast("long").alias("weight")))
    return survivors.join(weights, "text_hash")


# ------------------------------------------------------------- MinHash + LSH

#: Mersenne prime 2^31-1: hash-family modulus. Base hashes and coefficients
#: live in [0, 2^31), so a_i*x + b_i ≤ ~2^62 — never overflows a long even
#: under ANSI arithmetic.
_MINHASH_P = (1 << 31) - 1


def _minhash_coeffs(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the universal hash family
    h_i(x) = (a_i*x + b_i) mod p — generated driver-side at plan time, so
    executors need no side data and signatures are rerun-stable."""
    import random
    rng = random.Random(seed)
    return [(rng.randrange(1, _MINHASH_P), rng.randrange(0, _MINHASH_P))
            for _ in range(num_hashes)]


def _sha_token_hashes(toks: list[str], memo: dict[str, int]):
    """int64 array of sha-bucket token hashes in [0, 2^32): the first 8 hex
    chars of sha256 — the repo's portable hash convention, which any SQL
    engine can replay. ``memo`` caches one hash per unique token; kernels
    keep one per task."""
    import hashlib

    import numpy as np

    out = np.empty(len(toks), dtype=np.int64)
    for i, t in enumerate(toks):
        v = memo.get(t)
        if v is None:
            v = int(hashlib.sha256(t.encode()).hexdigest()[:8], 16)
            memo[t] = v
        out[i] = v
    return out


def _shingle_hasher(n: int, seed: int):
    """Plan-time factory of the word-shingle space: returns
    ``shingles(text, memo)``, the int64 hashes in [0, p) of the doc's
    n-token windows in document order (None below n tokens). A shingle hash
    is Σ_j c_j·t_(i+j) mod p over the ``py_tokens`` sha-bucket hashes t,
    with the n coefficients c_j drawn once from ``seed``; ``memo`` is the
    kernel task's token-hash cache."""
    import random

    import numpy as np

    crng = random.Random(seed ^ 0x5EED)
    combo = np.array([crng.randrange(1, 1 << 29) for _ in range(n)],
                     dtype=np.int64)
    p = _MINHASH_P

    def shingles(text, memo: dict[str, int]):
        toks = py_tokens(text)
        if len(toks) < n:
            return None
        th = _sha_token_hashes(toks, memo) % p
        sh = np.zeros(len(toks) - n + 1, dtype=np.int64)
        for j in range(n):
            sh = (sh + th[j:len(th) - n + 1 + j] * combo[j]) % p
        return sh

    return shingles


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = 64, shingle_n: int = 3,
                       seed: int = 42) -> DataFrame:
    """(doc, sig) signature table — the shared first stage of candidate
    generation and verification. Narrow (no shuffle); at cluster scale this
    is the DataFrame to persist/bucket so LSH probes reuse it.

    Vectorized minhash over mapInPandas: per Arrow batch, hash every doc's
    shingles (``_shingle_hasher``), then take all ``num_hashes``
    permutation minima for ALL documents in one ``np.minimum.reduceat``
    over the flattened shingle matrix. Higher-order function lambdas
    (transform/array_min) are NOT whole-stage-codegen'd — measured ~1.6 µs
    per lambda eval — so this beats an expression formulation ~10×. Every
    step is engine-neutral, so the DuckDB conformance oracle recomputes
    signatures verbatim. Docs with fewer than ``shingle_n`` tokens get no
    signature (they can never pair)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    ab = _minhash_coeffs(num_hashes, seed)
    a_vec = np.array([a for a, _ in ab], dtype=np.int64)
    b_vec = np.array([b for _, b in ab], dtype=np.int64)
    shingles = _shingle_hasher(shingle_n, seed)
    p = _MINHASH_P

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, int] = {}
        for pdf in batches:
            doc_ids, starts, all_sh = [], [], []
            pos = 0
            for doc, text in zip(pdf[id_col], pdf[text_col]):
                sh = shingles(text, memo)
                if sh is None:
                    continue
                doc_ids.append(doc)
                starts.append(pos)
                all_sh.append(sh)
                pos += len(sh)
            if not doc_ids:
                continue
            x = np.concatenate(all_sh)                       # (S,)
            hm = (x[:, None] * a_vec[None, :] + b_vec) % p   # (S, H)
            mins = np.minimum.reduceat(hm, np.array(starts), axis=0)  # (D, H)
            yield pd.DataFrame({"doc": doc_ids, "sig": list(mins)})

    out_schema = f"doc {dict(df.dtypes)[id_col]}, sig array<bigint>"
    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(run, out_schema)


def _band_buckets(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc, band, bucket) rows — each doc's LSH band keys. The bucket is
    the raw signature slice (rows_per_band longs): engine-neutral, so an
    external oracle can reproduce the exact candidate set."""
    if not 1 <= bands <= num_hashes:
        # bands=0 divides by zero; bands > num_hashes gives zero-width
        # slices that every doc shares, making every pair a candidate
        raise ValueError(f"bands={bands} must be in [1, num_hashes="
                         f"{num_hashes}]")
    rows_per_band = num_hashes // bands
    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    return (sig.select("doc", "sig", band_idx)
               .withColumn("bucket", F.slice(F.col("sig"),
                                             F.col("band") * rows_per_band + 1,
                                             rows_per_band))
               .select("doc", "band", "bucket"))


def _band_candidate_pairs(sig: DataFrame, num_hashes: int,
                          bands: int) -> DataFrame:
    """LSH banding over a (doc, sig) table → candidate pairs (id_a < id_b)."""
    buckets = _band_buckets(sig, num_hashes, bands)
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (a.join(b, ["band", "bucket"])
             .filter(F.col("a.doc") < F.col("b.doc"))
             .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
             .distinct())


def _verify_pairs(sig: DataFrame, pairs: DataFrame, num_hashes: int,
                  jaccard_threshold: float) -> DataFrame:
    """Shared verify stage over candidate (id_a, id_b) pairs: signature-
    agreement Jaccard estimate → threshold filter. Emits
    (id_a, id_b, jaccard_est); ``sig`` should be materialized by the caller
    (it is consumed by banding AND both sides of the verify join)."""
    sa = sig.select(F.col("doc").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc").alias("id_b"), F.col("sig").alias("sig_b"))
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, v: acc + v)
    return (pairs.join(sa, "id_a").join(sb, "id_b")
                 .withColumn("jaccard_est",
                             agree.cast("double") / F.lit(float(num_hashes)))
                 .filter(F.col("jaccard_est") >= jaccard_threshold)
                 .select("id_a", "id_b", "jaccard_est"))


def minhash_verified_pairs(df: DataFrame, id_col: str, text_col: str,
                           jaccard_threshold: float = 0.8,
                           num_hashes: int = 64, bands: int = 16,
                           shingle_n: int = 3, seed: int = 42) -> DataFrame:
    """(id_a, id_b, jaccard_est): LSH banding candidates verified by
    signature agreement rate — the near-dup PAIR surface shared by the
    dedup operators. Every arithmetic step (token hash, shingle
    combination, permutation minima, banding, estimate) is engine-neutral,
    so an external SQL oracle can recompute the exact pair set and
    estimates.

    The signature table is materialized here because the returned
    (lazy) plan consumes it three times; the returned frame reads it, so
    a long-lived session frees it with ``session.release`` once the
    pairs are consumed (``minhash_dedup_cc`` releases its own)."""
    sig, _ = materialize(minhash_signatures(df, id_col, text_col,
                                            num_hashes, shingle_n, seed))
    return _verify_pairs(sig, _band_candidate_pairs(sig, num_hashes, bands),
                         num_hashes, jaccard_threshold)


def minhash_index_probe(index_sig: DataFrame, new_docs: DataFrame,
                        id_col: str, text_col: str,
                        jaccard_threshold: float = 0.8,
                        num_hashes: int = 64, bands: int = 16,
                        shingle_n: int = 3, seed: int = 42) -> DataFrame:
    """INCREMENTAL near-dup detection: probe a persisted signature index
    with a new document batch — (id_a, id_b, jaccard_est) for every
    near-dup pair involving ≥1 new doc, WITHOUT re-reading or re-signing
    the existing corpus.

    This is the daily-append shape of web-scale dedup: the corpus's
    (doc, sig) table is computed once and persisted (``minhash_signatures``
    — bucket it by band key at cluster scale); each new batch signs only
    its own rows (map-only over the batch), bands them, and joins its
    band keys against the index's. Cost scales with the BATCH, not the
    corpus: the index side of the join ships (doc, band slice) rows, and
    at cluster scale a band-bucketed layout makes it shuffle-free.

    New-new pairs within the batch are included (the batch probes the
    union index), so appending batch B then probing B' ≡ probing B∪B' —
    the pair surface is exactly the full recompute's pairs restricted to
    pairs touching the new batch (same hash family ⇒ bit-identical
    estimates; the conformance oracle checks that equivalence)."""
    new_sig, _ = materialize(minhash_signatures(
        new_docs, id_col, text_col, num_hashes, shingle_n, seed))
    all_sig = index_sig.unionByName(new_sig)
    nb = _band_buckets(new_sig, num_hashes, bands).alias("n")
    ab = _band_buckets(all_sig, num_hashes, bands).alias("a")
    pairs = (nb.join(ab, ["band", "bucket"])
             .filter(F.col("n.doc") != F.col("a.doc"))
             .select(F.least(F.col("n.doc"), F.col("a.doc")).alias("id_a"),
                     F.greatest(F.col("n.doc"), F.col("a.doc")).alias("id_b"))
             .distinct())
    return _verify_pairs(all_sig, pairs, num_hashes, jaccard_threshold)


def minhash_candidate_pairs(df: DataFrame, id_col: str, text_col: str,
                            num_hashes: int = 64, bands: int = 16,
                            shingle_n: int = 3, seed: int = 42) -> DataFrame:
    """L2: LSH banding — near-dup CANDIDATE pairs (id_a < id_b).

    Signature is split into ``bands`` bands of ``num_hashes/bands`` rows;
    documents agreeing on any full band land in the same bucket; candidates
    are pairs sharing a bucket. Cost is Σ bucket² — sub-quadratic for
    realistic skew; a self-join on (band, band slice) keys, i.e. ONE
    shuffle of (id, band, slice) rows, never document text.

    The raw candidate set is what an external SQL oracle recomputes to pin
    the banding stage itself — the stage where a bug silently LOSES
    recall: verification can never flag a pair that was never a
    candidate."""
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n, seed)
    return _band_candidate_pairs(sig, num_hashes, bands)


# ---------------------------------------------------- connected components

def cluster_size_profile(components: DataFrame,
                         comp_col: str = "component") -> DataFrame:
    """(cluster_size, n_clusters): the size histogram of near-dup
    components — the evidence table a dedup review reads first (a fat
    head means boilerplate/mirror families; a long tail of pairs means
    ordinary near-dups). Companion to ``contamination_report``'s
    role for decontamination.

    Two tiny aggregations over (id, component) rows — component labels,
    never bodies: the first shuffles on the component key (map-side
    combine), the second on the ~distinct-sizes keys (driver-small
    cardinality). Composes with any component source (``minhash_dedup_cc``
    closure, ``connected_components``, embedding clusters)."""
    sizes = (components.groupBy(comp_col)
             .agg(F.count(F.lit(1)).alias("cluster_size")))
    return (sizes.groupBy("cluster_size")
            .agg(F.count(F.lit(1)).alias("n_clusters")))


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", max_iter: int = 20,
                         stats: dict | None = None) -> DataFrame:
    """Min-label propagation over an undirected edge list → (id, component),
    component = smallest id reachable. Converges in O(component diameter)
    iterations — near-dup clusters are small and dense, so typically 2-4;
    a pure L-node path needs ~L-1 rounds.

    Each round is one shuffle (neighbor-label aggregation) and ONE job:
    the edge list and every round's labels go through ``materialize``, so
    each round plans against block scans, never the pair lineage or the
    previous rounds, and the round's convergence probe Σ(component) is
    observed in that same job. Intermediates are ``release``d as soon as
    the next round no longer reads them; only the returned labels keep
    blocks. The loop exits early when no label moved. Pass ``stats={}``
    to get ``stats["rounds"]`` (label-propagation joins actually run,
    incl. the final no-change confirming round), ``stats["sums"]`` (the
    observed Σ(component) after round 0 and each round) and
    ``stats["converged"]`` (False when ``max_iter`` ended the loop before
    two equal sums). At extreme scale swap in large-star/small-star
    (``connected_components_star``) — same DataFrame-only loop shape.
    """
    # both directions from ONE scan of the pair frame; the repartition on
    # dst gives the edge list the hash partitioning every round's
    # neighbor-label join needs, so only the (small, changing) label side
    # shuffles per round.
    edges, _ = materialize(
        pairs.select(F.explode(F.array(
            F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
            F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))))
            .alias("__e"))
        .select("__e.src", "__e.dst")
        .repartition(F.col("dst")))
    # round 0 is join-free: under identity labels a neighbor's label IS its
    # id, so the first propagation is a plain groupBy-min over edges. Small
    # (≤2-hop) components — the common near-dup case — converge here, and
    # the loop below only has to confirm. Labels are non-increasing, so
    # Σ(component) strictly decreases on any change — one observed scalar
    # per round is a sufficient convergence probe, replacing a join-diff.
    labels, m = materialize(
        edges.groupBy("src")
        .agg(F.min("dst").alias("__nbr_min"))
        .select(F.col("src").alias("id"),
                F.least(F.col("src"), F.col("__nbr_min")).alias("component")),
        s=F.sum("component"))
    sums = [m["s"]]
    for _ in range(max_iter):
        # the self-label rides the SAME aggregation as the neighbor labels
        # — min over ({component(dst): dst∈N(id)} ∪ {component(id)}) ≡
        # least(component(id), nbr_min) — so one union + groupBy with
        # map-side partial MIN over both branches; every id keeps a row
        # because the labels branch of the union carries it.
        new_labels, m = materialize(
            edges.join(labels, edges.dst == labels.id)
            .select(F.col("src").alias("id"), F.col("component"))
            .unionByName(labels)
            .groupBy("id").agg(F.min("component").alias("component")),
            s=F.sum("component"))
        release(labels)
        labels = new_labels
        sums.append(m["s"])
        if sums[-1] == sums[-2]:
            break
    release(edges)
    if stats is not None:
        stats.update(rounds=len(sums) - 1, sums=sums,
                     converged=len(sums) > 1 and sums[-1] == sums[-2])
    return labels


def connected_components_star(pairs: DataFrame, id_a: str = "id_a",
                              id_b: str = "id_b", max_iter: int = 30,
                              stats: dict | None = None) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    the extreme-scale escalation path over min-label propagation
    (``connected_components``): label propagation needs O(diameter)
    rounds, star contraction needs O(log n) — the right trade when
    components are long chains or the graph is huge.

    Each round = two groupBy-min + join passes over the (shrinking) edge
    list, materialized in one job (``materialize``) that also observes
    the convergence signature (edge count + hash sum). Output matches
    ``connected_components``: (id, component=min reachable id), validated
    against a reference union-find in tests/test_properties.py.
    """
    raw = (pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")))
    nodes = (raw.select(F.col("u").alias("id"))
             .unionByName(raw.select(F.col("v").alias("id"))).distinct())

    def norm(df: DataFrame, x: str, y: str) -> DataFrame:
        # undirected edge set as (a=max, b=min), self-loops dropped
        return (df.filter(F.col(x) != F.col(y))
                  .select(F.greatest(x, y).alias("a"),
                          F.least(x, y).alias("b"))
                  .distinct())

    edges, _ = materialize(norm(raw, "u", "v"))
    prev_sig = None
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # LARGE-STAR: for each node u, connect every LARGER neighbor to
        # m = min(Γ(u) ∪ {u})
        bidir = (edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
                 .unionAll(edges.select(F.col("b").alias("u"),
                                        F.col("a").alias("v"))))
        m = (bidir.groupBy("u").agg(F.min("v").alias("mn"))
             .select("u", F.least("u", "mn").alias("m")))
        ls = norm(bidir.join(m, "u").filter(F.col("v") > F.col("u"))
                  .select(F.col("v").alias("x"), F.col("m").alias("y")),
                  "x", "y")
        # SMALL-STAR: per larger endpoint a, connect its ≤ neighbors and a
        # itself to m = min neighbor
        sm = ls.groupBy("a").agg(F.min("b").alias("m"))
        joined = ls.join(sm, "a")
        out = (joined.filter(F.col("b") != F.col("m"))
               .select(F.col("b").alias("x"), F.col("m").alias("y"))
               .unionAll(sm.select(F.col("a").alias("x"),
                                   F.col("m").alias("y"))))
        # each round references the prior edge frame ~4×, so without
        # truncation the plan tree grows 4^rounds and analysis OOMs
        # around depth 7. pmod keeps the per-row hash term < 2^31 — raw
        # xxhash64 sums overflow long under ANSI
        new_edges, obs = materialize(
            norm(out, "x", "y"), n=F.count(F.lit(1)),
            h=F.coalesce(F.sum(F.pmod(F.xxhash64("a", "b"),
                                      F.lit((1 << 31) - 1))), F.lit(0)))
        release(edges)
        edges = new_edges
        sig = (obs["n"], obs["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # at the fixpoint every edge is (member, root): roots/isolated nodes
    # map to themselves
    labels = edges.select(F.col("a").alias("id"),
                          F.col("b").alias("component"))
    self_rows = (nodes.join(labels, "id", "left_anti")
                 .select("id", F.col("id").alias("component")))
    if stats is not None:
        stats["rounds"] = rounds
    return labels.unionByName(self_rows)


def minhash_dedup_cc(df: DataFrame, id_col: str, text_col: str,
                     jaccard_threshold: float = 0.8, num_hashes: int = 64,
                     bands: int = 16, shingle_n: int = 3, seed: int = 42,
                     stats: dict | None = None) -> DataFrame:
    """L2 exact-closure near-dup removal: LSH candidates → signature-verified
    pairs → connected components → keep the min-id doc per component. A
    chain a~b~c~d keeps ONLY a (a one-hop "drop any doc with a smaller
    neighbor" pass would keep a and c). The whole composed pipeline —
    pairs AND closure AND survivor choice — is reproducible by an external
    SQL oracle.

    One materialization policy (``materialize``): the signature table is
    computed once (the Arrow kernel runs one job) and truncated, so the
    banding self-join and both verify joins plan against a block scan;
    ``connected_components`` materializes the verified edge list and each
    round's labels the same way, reading its convergence sum from each
    round's own job. The signatures are ``release``d once the closure is
    computed; the returned frame reads only the original ``df`` and the
    final labels (the one stored RDD left behind)."""
    sig, _ = materialize(minhash_signatures(df, id_col, text_col, num_hashes,
                                            shingle_n, seed))
    verified = _verify_pairs(sig, _band_candidate_pairs(sig, num_hashes, bands),
                             num_hashes, jaccard_threshold)
    comp = connected_components(verified.select("id_a", "id_b"), stats=stats)
    release(sig)
    losers = comp.filter(F.col("id") != F.col("component")) \
                 .select(F.col("id").alias(id_col))
    return df.join(losers, id_col, "left_anti")


# ------------------------------------------------------------------- SimHash

def simhash(df: DataFrame, id_col: str, text_col: str,
            bits: int = 32) -> DataFrame:
    """SimHash fingerprint (EXT): ``bits``-bit locality-sensitive hash.

    Per document: hash each token (sha-bucket, 32 bits), each bit position
    votes +1/-1 by whether that bit is set; fingerprint bit = sign of vote
    sum. Near-dups differ in few bits (Hamming). Returns
    (id_col, simhash bigint); docs with no tokens are dropped.

    Arrow-batched numpy: one (tokens × bits) sign matrix per batch, per-doc
    vote sums in one ``np.add.reduceat``, sign-bit packing in numpy; no
    explode, no shuffle, no per-row Python. The token hash is the portable
    sha-bucket convention, so an external oracle can replicate the votes.
    """
    if bits > 32:
        # the sha-bucket token hash is 32 bits — fingerprint bits 32+ would
        # be all-zero, silently degenerating half the banding blocks
        raise ValueError(
            f"the sha token hash provides 32 hash bits; bits={bits} would "
            "leave fingerprint bits 32+ constant — use bits<=32")
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    shifts = np.arange(bits, dtype=np.uint64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, int] = {}
        for pdf in batches:
            doc_ids, starts, hash_chunks = [], [], []
            pos = 0
            for doc, text in zip(pdf[id_col], pdf[text_col]):
                toks = py_tokens(text)
                if not toks:
                    continue
                th = _sha_token_hashes(toks, memo).astype(np.uint64)
                doc_ids.append(doc)
                starts.append(pos)
                hash_chunks.append(th)
                pos += len(th)
            if not doc_ids:
                continue
            h = np.concatenate(hash_chunks)                        # (T,)
            bitmat = ((h[:, None] >> shifts) & np.uint64(1)) \
                .astype(np.int32) * 2 - 1                          # ±1 (T, B)
            votes = np.add.reduceat(bitmat, np.array(starts), axis=0)
            fp = ((votes > 0).astype(np.uint64) << shifts).sum(axis=1,
                                                               dtype=np.uint64)
            yield pd.DataFrame({id_col: doc_ids,
                                "simhash": fp.astype(np.int64)})

    out_schema = f"{id_col} {dict(df.dtypes)[id_col]}, simhash bigint"
    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(run, out_schema)


def simhash_near_dup_pairs(df: DataFrame, id_col: str, text_col: str,
                           max_hamming: int = 3, blocks: int = 4,
                           bits: int = 32) -> DataFrame:
    """SimHash near-dup candidates via block-permutation banding: split the
    ``bits``-bit fingerprint into ``blocks`` equal blocks; by pigeonhole,
    any pair within Hamming distance < blocks agrees on ≥1 block →
    self-join on (block_idx, block_value), verify exact Hamming ≤
    ``max_hamming``. The DuckDB oracle replicates votes, packing, and
    banding.
    """
    if not 1 <= blocks <= bits:
        # blocks=0 divides by zero; blocks > bits gives zero-width blocks
        # that every doc shares, making every pair a candidate
        raise ValueError(f"blocks={blocks} must be in [1, bits={bits}]")
    fps = simhash(df, id_col, text_col, bits=bits)
    width = bits // blocks
    block_cols = F.array(*[
        F.shiftrightunsigned(F.col("simhash"), i * width)
         .bitwiseAND(F.lit((1 << width) - 1)).alias(f"blk{i}")
        for i in range(blocks)
    ])
    exploded = (fps.withColumn("blks", block_cols)
                   .select(id_col, "simhash", F.posexplode("blks").alias("blk_idx", "blk_val")))
    a, b = exploded.alias("a"), exploded.alias("b")
    cand = (a.join(b, ["blk_idx", "blk_val"])
             .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
             .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"),
                     F.col("a.simhash").alias("sh_a"), F.col("b.simhash").alias("sh_b"))
             .distinct())
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.withColumn("hamming", hamming).filter(F.col("hamming") <= max_hamming) \
               .select("id_a", "id_b", "hamming")


# ------------------------------------------------------------ n-gram Jaccard

def _shingle_rows_pandas(df: DataFrame, id_col: str, text_col: str,
                         n: int, seed: int = 42) -> DataFrame:
    """(doc, s) rows — one per DISTINCT shingle hash per document — via a
    1→N mapInPandas kernel (UDTF shape), in the word-shingle space
    ``minhash_signatures`` minhashes (``_shingle_hasher`` with ``seed``),
    so exact Jaccard over these rows is what the signatures estimate."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    shingles = _shingle_hasher(n, seed)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, int] = {}
        for pdf in batches:
            docs, hashes = [], []
            for doc, text in zip(pdf[id_col], pdf[text_col]):
                sh = shingles(text, memo)
                if sh is None:
                    continue
                uniq = np.unique(sh)
                docs.append(np.full(len(uniq), doc))
                hashes.append(uniq)
            if docs:
                yield pd.DataFrame({"doc": np.concatenate(docs),
                                    "s": np.concatenate(hashes)})

    out_schema = f"doc {dict(df.dtypes)[id_col]}, s bigint"
    return df.select(F.col(id_col), F.col(text_col)).mapInPandas(run, out_schema)


def _shingle_jaccard_pairs(sh: DataFrame, jaccard_threshold: float) -> DataFrame:
    """(id_a, id_b, jaccard) pairs with J ≥ ``jaccard_threshold`` over a
    materialized ``_shingle_rows_pandas`` table, J rounded to 6 dp after the
    test. The test compares the int/int double |∩|/|∪|, so J ≥ 0.5 is
    exact: a/b < 1/2 with b < 2^53 lies at least 1/(2b) below 0.5."""
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (a.join(b, "s")
              .filter(F.col("a.doc") < F.col("b.doc"))
              .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
              .agg(F.count(F.lit(1)).alias("inter")))
    return (inter
            .join(sizes.select(F.col("doc").alias("id_a"), F.col("n_sh").alias("na")), "id_a")
            .join(sizes.select(F.col("doc").alias("id_b"), F.col("n_sh").alias("nb")), "id_b")
            .withColumn("jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
            .filter(F.col("jaccard") >= jaccard_threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        shingle_n: int = 3, jaccard_threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle.

    |A∩B| via a shingle-keyed self-join + count; |A∪B| = |A|+|B|-|A∩B|.
    Shuffles (shingle_hash, id) pairs — candidate generation is bounded by
    shared-shingle co-occurrence, not n². Shingles are hashes in the
    MinHash word-shingle space (``_shingle_hasher``), never materialized
    strings, so J equals string-shingle Jaccard absent 31-bit collisions;
    the (doc, hash) rows are produced by a vectorized Arrow kernel (1→N
    mapInPandas) and everything downstream — joins, grouping — stays
    JVM-side. Prefer ``minhash_candidate_pairs`` when the corpus is
    web-scale and approximate similarity suffices.

    The shingle table is materialized here (the
    ``minhash_verified_pairs`` convention) because the returned plan
    consumes it THREE times — sizes and both self-join sides — which
    otherwise re-runs the corpus scan and the Arrow shingle kernel per
    consumer (measured 8 scans on the bare plan, 16 through
    ``related_docs_topk``'s symmetric union); ``session.release`` frees
    it once the result is consumed.
    """
    sh, _ = materialize(_shingle_rows_pandas(df, id_col, text_col, shingle_n))
    return _shingle_jaccard_pairs(sh, jaccard_threshold)


# ---------------------------------------------- benchmark decontamination

def _shingle_sha_of_tokens(toks: Column, n: int) -> Column:
    """array<bigint>: sha-bucket hashes of the n-token shingles of the
    token array ``toks`` (first 8 hex chars of sha256 of the space-joined
    window — byte-replicable in any engine). The hash keeps shuffle rows
    fixed-width where a literal shingle string would ship ~50 bytes."""
    count = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    win = lambda i: F.concat_ws(" ", F.slice(toks, i, n))  # noqa: E731
    return F.when(count <= 0, F.array().cast("array<long>")).otherwise(
        F.transform(F.sequence(F.lit(1), count),
                    lambda i: F.conv(F.substring(F.sha2(win(i), 256), 1, 8),
                                     16, 10).cast("long")))


def shingle_sha_rows(df: DataFrame, keep_cols: list[str], text_col: str,
                     n: int = 8, out_col: str = "h") -> DataFrame:
    """(keep_cols..., out_col) rows — one per n-token shingle of
    ``text_col``, hashed with the portable sha-bucket convention.

    Two-step on purpose: the token array is PROJECTED first, then the
    shingle lambda runs over the materialized column — keeping the whole
    computation map-only (zero shuffle; a posexplode+lead formulation
    would shuffle every (id, token) row of the corpus just to rebuild
    adjacency the array already encodes) while avoiding the per-element
    tokenizer re-evaluation that made the fused form the slowest
    expression in the round-3 bench."""
    return (df.select(*keep_cols, tokens(text_col).alias("__toks"))
            .select(*keep_cols,
                    F.explode(_shingle_sha_of_tokens(F.col("__toks"), n))
                    .alias(out_col)))


def decontaminate(corpus: DataFrame, benchmark: DataFrame, id_col: str,
                  text_col: str, shingle_n: int = 8) -> DataFrame:
    """Benchmark decontamination (EXT L-family): drop every corpus doc
    sharing ≥1 n-token shingle with the benchmark/eval set — the standard
    pretraining leakage guard (n=8..13 word-gram overlap in published
    pipeline descriptions).

    Scale: benchmark sets are tiny next to a 100 TB corpus, so their
    distinct shingle hashes broadcast and the contamination probe is a
    map-side semi join — the corpus shuffles NOTHING and its bodies never
    leave the scan; the final anti join keys on ids. For a huge benchmark
    drop the broadcast hint and it degrades to one hash-shuffle of
    (id, 8-byte hash) rows.
    """
    bsh = shingle_sha_rows(benchmark, [], text_col, shingle_n,
                           out_col="__h").distinct()
    csh = shingle_sha_rows(corpus, [id_col], text_col, shingle_n,
                           out_col="__h")
    contaminated = (csh.join(F.broadcast(bsh), "__h", "left_semi")
                    .select(id_col).distinct())
    return corpus.join(contaminated, id_col, "left_anti")


def contamination_report(corpus: DataFrame, benchmark: DataFrame,
                         id_col: str, text_col: str,
                         shingle_n: int = 8) -> DataFrame:
    """Contamination AUDIT companion to ``decontaminate``: instead of
    dropping, report per corpus doc the distinct n-token shingle count,
    how many appear in the benchmark set, and the overlap fraction —
    the evidence table a leakage review reads before choosing a drop
    threshold (drop-on-any, drop-on->x%, manual review band).

    Same scale shape as the guard: benchmark shingle hashes broadcast;
    the corpus explodes (id, 8-byte hash) rows only — bodies never
    shuffle, and the distinct-per-doc dedup is FOLDED into the aggregate
    (``countDistinct``) so the (id, hash) rows shuffle exactly once
    instead of once for ``distinct()`` and again for the group-by. The
    fraction is one exact division of two integers (bit-reproducible)."""
    bsh = shingle_sha_rows(benchmark, [], text_col, shingle_n).distinct()
    csh = shingle_sha_rows(corpus, [id_col], text_col, shingle_n)
    marked = csh.join(F.broadcast(bsh.withColumn("__hit", F.lit(1))),
                      "h", "left")
    return (marked.groupBy(id_col)
            .agg(F.countDistinct("h").alias("n_shingles"),
                 F.countDistinct(F.when(F.col("__hit").isNotNull(),
                                        F.col("h"))).alias("n_matched"))
            .withColumn("frac",
                        F.col("n_matched").cast("double")
                        / F.col("n_shingles")))


def related_docs_topk(df: DataFrame, id_col: str, text_col: str,
                      k: int = 3, shingle_n: int = 3,
                      min_jaccard: float = 0.2) -> DataFrame:
    """Per-document top-k most similar documents by exact n-gram Jaccard —
    the "related items" panel / nearest-duplicate review queue. Symmetric:
    each qualifying pair serves both endpoints.

    Ranking is on the ROUNDED (6 dp) similarity with the related id as
    the tie-break, so the selected set is engine-reproducible. Shuffles
    inherit ``ngram_jaccard_pairs``'s bound (shared-shingle
    co-occurrence, never n²); the final rank is a per-doc
    ``row_number`` ≤ k → WindowGroupLimit."""
    pairs = ngram_jaccard_pairs(df, id_col, text_col, shingle_n,
                                jaccard_threshold=min_jaccard)
    sym = (pairs.select(F.col("id_a").alias(id_col),
                        F.col("id_b").alias("related_id"), "jaccard")
           .unionByName(
               pairs.select(F.col("id_b").alias(id_col),
                            F.col("id_a").alias("related_id"), "jaccard")))
    w = Window.partitionBy(id_col).orderBy(F.col("jaccard").desc(),
                                           F.col("related_id").asc())
    return (sym.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(id_col, F.col("rank").cast("int").alias("rank"),
                    "related_id", "jaccard"))


def line_dedup(df: DataFrame, id_col: str, text_col: str, sep: str = "\n",
               min_docs: int = 2, out_col: str = "clean_text") -> DataFrame:
    """EXT (R97): corpus-level duplicate-line removal — the CCNet/Dolma
    boilerplate filter. A (trimmed) line that occurs in >= ``min_docs``
    DISTINCT documents is boilerplate (navigation bars, cookie banners,
    license headers) and is stripped from EVERY document; surviving lines
    are re-joined in original order. Whitespace-only lines are dropped.

    Returns (id, ``out_col``, n_kept, n_removed) — one row per input doc,
    docs whose every line was boilerplate keep an empty ``out_col``.

    Scale shape (100 TB): lines explode map-side with their position; the
    duplicate count groups on an 8-byte ``xxhash64`` digest, so only
    (digest, doc-id-hash) pairs shuffle — never line bodies. The resulting
    boilerplate digest set is tiny by construction (only lines repeated
    across docs) and broadcasts back onto the exploded lines; the final
    re-assembly is ONE shuffle on the doc id with ``array_sort`` over
    (pos, line) structs — no per-doc window. Digest collisions (~2^-64
    per pair) would remove a unique line; for a removal audit rerun with
    ``sha2`` digests.
    """
    lines = (df.select(F.col(id_col),
                       F.posexplode(F.split(F.col(text_col), sep))
                        .alias("__pos", "__raw"))
             .withColumn("__line", F.trim(F.col("__raw")))
             .filter(F.col("__line") != "")
             .withColumn("__dig", F.xxhash64(F.col("__line"))))
    boiler = (lines.groupBy("__dig")
              .agg(F.countDistinct(id_col).alias("__nd"))
              .filter(F.col("__nd") >= min_docs)
              .select("__dig"))
    kept = lines.join(F.broadcast(boiler), "__dig", "left_anti")
    rebuilt = (kept.groupBy(id_col)
               .agg(F.array_sort(F.collect_list(
                        F.struct(F.col("__pos"), F.col("__line")))).alias("__ls"))
               .select(F.col(id_col),
                       F.array_join(F.transform("__ls", lambda s: s["__line"]),
                                    sep).alias(out_col),
                       F.size("__ls").cast("long").alias("n_kept")))
    totals = (lines.groupBy(id_col)
              .agg(F.count("*").alias("__n_lines")))
    return (totals.join(rebuilt, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce(out_col, F.lit("")).alias(out_col),
                    F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
                    (F.col("__n_lines") - F.coalesce("n_kept", F.lit(0)))
                    .cast("long").alias("n_removed")))


def dedup_keep_best(df: DataFrame, id_col: str, pairs: DataFrame,
                    quality: Column) -> DataFrame:
    """EXT (R112): quality-aware near-dup survivor selection — instead of
    the min-id convention, each duplicate CLUSTER keeps its highest-
    ``quality`` member (tie: smallest id). This is the policy real
    curation wants: among near-identical pages keep the longest / least
    boilerplate / highest-scoring copy, not whichever crawled first.

    ``pairs`` is any near-dup pair surface; clusters come from the exact
    transitive closure (``connected_components`` — O(diameter) rounds);
    documents in no pair form singleton clusters via a null-safe
    component fallback and always survive. One shuffle keys the cluster
    window; at most one row per cluster survives it
    (``row_number() = 1`` → WindowGroupLimit)."""
    comps = connected_components(pairs)
    scored = (df.withColumn("__q", quality)
              .join(comps.select(F.col("id").alias(id_col),
                                 F.col("component").alias("__c")),
                    id_col, "left")
              .withColumn("__c", F.coalesce(F.col("__c"), F.col(id_col))))
    w = Window.partitionBy("__c").orderBy(F.col("__q").desc(),
                                          F.col(id_col).asc())
    return (scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn", "__q", "__c"))


# ------------------------------------------ cross-doc duplicate passages

def duplicate_passages(df: DataFrame, id_col: str, text_col: str,
                       n: int = 12, min_docs: int = 2) -> DataFrame:
    """EXT (R114): cross-document duplicate PASSAGE detection — exact
    n-token windows appearing in ≥ ``min_docs`` distinct documents, with
    their document and occurrence counts. This is the discovery pass of
    span-level dedup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better": repeated ~50-token spans dominate residual
    duplication after doc-level dedup); the output ranks the boilerplate/
    template passages a curation pass would cut or cap.

    Scale shape (100 TB): windows are hashed map-side with the portable
    sha-bucket convention (``shingle_sha_rows`` — fixed 8-byte rows, the
    passage TEXT never shuffles), then ONE hash aggregation computes both
    counts. No joins, no windows; the reduce-side cardinality is bounded
    by distinct windows, and the ``min_docs`` filter runs on the
    aggregate before anything is returned. Hash collisions (p≈2^-32 per
    pair) can only merge two passages' counts, never drop a real one."""
    sh = shingle_sha_rows(df, [id_col], text_col, n, out_col="passage_h")
    return (sh.groupBy("passage_h")
            .agg(F.countDistinct(id_col).alias("n_docs"),
                 F.count(F.lit(1)).alias("n_occurrences"))
            .filter(F.col("n_docs") >= min_docs))


def duplicate_span_profile(df: DataFrame, id_col: str, text_col: str,
                           n: int = 12, min_docs: int = 2) -> DataFrame:
    """EXT (R115): per-document duplicated-span coverage — for each doc,
    how many of its n-token windows are shared with at least
    ``min_docs - 1`` other documents, and the shared fraction. This is
    the decision input for span-level cut/cap policies (drop docs that
    are mostly template, trim docs with one boilerplate header) and the
    audit twin of ``duplicate_passages``.

    Scale shape: the shared-window set is corpus-sized, so it is NOT
    broadcast — the membership probe is a shuffle-on-hash join of two
    fixed-width (id, 8-byte hash) surfaces (the standard big-big shape;
    bodies never shuffle), followed by one per-doc aggregation. The
    shingle surface is MATERIALIZED once (``materialize``) and feeds
    both the shared-set aggregation and the membership probe — the
    warehouse-scale equivalent is persisting the (id, hash) table
    before the self-aggregation. Docs shorter than ``n`` tokens emit no
    windows and report (0, 0, 0.0) via the left join + coalesce."""
    # materialize: the shingle surface feeds BOTH the shared-set
    # aggregation and the membership probe — materializing the
    # fixed-width (id, hash) rows once halves the sha window passes
    # (measured 2.5 s → 1.76 s best-of-4 at sf0.1)
    sh, _ = materialize(shingle_sha_rows(df, [id_col], text_col, n,
                                         out_col="__h"))
    shared = (sh.groupBy("__h")
              .agg(F.countDistinct(id_col).alias("__nd"))
              .filter(F.col("__nd") >= min_docs)
              .select("__h", F.lit(1).alias("__hit")))
    marked = sh.join(shared, "__h", "left")
    prof = (marked.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_spans"),
                 F.count(F.when(F.col("__hit").isNotNull(), 1))
                 .alias("n_shared")))
    return (df.select(id_col).join(prof, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("n_spans", F.lit(0)).cast("long")
                    .alias("n_spans"),
                    F.coalesce("n_shared", F.lit(0)).cast("long")
                    .alias("n_shared"),
                    F.round(F.when(F.col("n_spans") > 0,
                                   F.col("n_shared") / F.col("n_spans"))
                            .otherwise(F.lit(0.0)), 6).alias("shared_frac")))


def prefix_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                         shingle_n: int = 3,
                         threshold_num: int = 3,
                         threshold_den: int = 5) -> DataFrame:
    """EXT (R163, round 6): EXACT Jaccard self-join with PREFIX
    FILTERING (the PPJoin family) — the scalable exact-similarity join:
    order every doc's shingles by global rarity (document frequency,
    ties by hash) and generate candidates ONLY from each doc's first
    ``n − ceil(t·n) + 1`` rarest shingles. The prefix theorem guarantees
    any pair with ``J ≥ t`` shares a prefix shingle under a consistent
    global order, so recall is 100% by construction while the join
    shrinks by roughly the threshold fraction — high-DF (boilerplate)
    shingles land in suffixes and never generate candidates, which is
    what keeps this sub-quadratic where the plain co-occurrence join
    (``ngram_jaccard_pairs``) degrades.

    EVERYTHING is integer-exact: the threshold is the rational
    ``threshold_num/threshold_den``, the prefix length uses
    ``ceil(n·p/q) = (n·p + q − 1) div q`` (no float ceil — IEEE
    ``0.6·5 = 3.0000000000000004`` would ceil to 4 in one engine and 3
    in another), and the final test is the cross-multiplied
    ``q·|A∩B| ≥ p·|A∪B|``. Returns (id_a, id_b, jaccard).

    Scale shape: DF ranking is one hash agg + a per-doc window over the
    doc's own shingles; the candidate join runs over prefix rows only;
    the exact verify counts full-set intersections for candidate pairs
    (same verify device as ``containment_pairs``)."""
    p, q = threshold_num, threshold_den
    sh, _ = materialize(
        shingle_sha_rows(df, [id_col], text_col, shingle_n, out_col="__h")
        .distinct())
    dfreq = sh.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    ranked = (sh.join(dfreq, "__h")
              .withColumn("__rk", F.row_number().over(
                  Window.partitionBy(id_col)
                        .orderBy(F.asc("__df"), F.asc("__h")))))
    prefix_len = (F.col("__n")
                  - F.expr(f"CAST((__n * {p} + {q} - 1) DIV {q} AS INT)")
                  + F.lit(1))
    pref = (ranked.join(sizes, id_col)
            .filter(F.col("__rk") <= prefix_len)
            .select(F.col(id_col), F.col("__h")))
    a, b = pref.alias("a"), pref.alias("b")
    cand = (a.join(b, "__h")
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("__ia"),
                    F.col(f"b.{id_col}").alias("__ib"))
            .distinct())
    inter = (cand
             .join(sh.select(F.col(id_col).alias("__ia"),
                             F.col("__h")), "__ia")
             .join(sh.select(F.col(id_col).alias("__ib"), F.col("__h")),
                   ["__ib", "__h"], "left_semi")
             .groupBy("__ia", "__ib")
             .agg(F.count(F.lit(1)).alias("__it")))
    sized = (inter
             .join(sizes.select(F.col(id_col).alias("__ia"),
                                F.col("__n").alias("__na"))
                   .hint("merge"), "__ia")
             .join(sizes.select(F.col(id_col).alias("__ib"),
                                F.col("__n").alias("__nb"))
                   .hint("merge"), "__ib"))
    union_sz = F.col("__na") + F.col("__nb") - F.col("__it")
    return (sized.filter(F.lit(q) * F.col("__it") >= F.lit(p) * union_sz)
            .select(F.col("__ia").alias("id_a"), F.col("__ib").alias("id_b"),
                    F.round(F.col("__it").cast("double") / union_sz, 6)
                     .alias("jaccard")))


def span_removal_profile(df: DataFrame, id_col: str, text_col: str,
                         n: int = 12, min_docs: int = 2) -> DataFrame:
    """EXT (R159, round 6): span-REMOVAL accounting — the step after
    discovery (``duplicate_passages``) and audit (``duplicate_span_
    profile``) in Lee-et-al-style span dedup: if every window shared
    with ≥ ``min_docs - 1`` other docs were cut, how much of each doc
    survives? Output per doc: ``n_tokens``, ``n_spans_flagged``,
    ``n_tokens_covered`` (tokens under ≥1 flagged window — the exact
    interval-union length, since flagged windows overlap heavily by
    construction: a 30-token duplicated passage flags 19 overlapping
    12-grams covering 30 tokens, not 19·12), and ``keep_frac``.

    Scale shape: window hashes are map-side (array transform — the
    passage text never shuffles); the shared set comes from ONE hash
    aggregation; the membership probe is a fixed-width semi join; the
    interval union is a per-doc running-max SWEEP over flagged spans
    (``Σ max(0, (i+n) − max(i, prev_max_end))``, exact integers) — NOT
    an n× position explode, so the cost scales with flagged spans, not
    flagged spans × n. Short docs (<n tokens) emit no windows and
    report zeros with keep_frac 1."""
    base, _ = materialize(
        df.select(F.col(id_col), tokens(text_col).alias("__tk"))
        .select(F.col(id_col), F.size("__tk").alias("n_tokens"),
                F.col("__tk")))
    spans, _ = materialize(
        base.filter(F.col("n_tokens") >= n)
        .select(F.col(id_col),
                F.posexplode(_shingle_sha_of_tokens(F.col("__tk"), n))
                 .alias("__i", "__h")))
    shared = (spans.groupBy("__h")
              .agg(F.countDistinct(id_col).alias("__nd"))
              .filter(F.col("__nd") >= min_docs)
              .select("__h"))
    flagged = spans.join(shared, "__h", "left_semi")
    w = (Window.partitionBy(id_col).orderBy("__i")
         .rowsBetween(Window.unboundedPreceding, -1))
    cov = (flagged
           .withColumn("__prev_end", F.max(F.col("__i") + n).over(w))
           .withColumn("__contrib", F.greatest(
               F.lit(0),
               (F.col("__i") + n) - F.greatest(
                   F.col("__i"), F.coalesce(F.col("__prev_end"), F.lit(0)))))
           .groupBy(id_col)
           .agg(F.count(F.lit(1)).cast("long").alias("n_spans_flagged"),
                F.sum("__contrib").cast("long").alias("n_tokens_covered")))
    out = base.select(F.col(id_col), F.col("n_tokens").cast("long")
                      .alias("n_tokens")).join(cov, id_col, "left")
    covered = F.coalesce(F.col("n_tokens_covered"), F.lit(0))
    return out.select(
        F.col(id_col), "n_tokens",
        F.coalesce(F.col("n_spans_flagged"), F.lit(0)).alias("n_spans_flagged"),
        covered.alias("n_tokens_covered"),
        F.round(F.when(F.col("n_tokens") > 0,
                       (F.col("n_tokens") - covered).cast("double")
                       / F.col("n_tokens"))
                 .otherwise(F.lit(1.0)), 6).alias("keep_frac"))


def containment_pairs(df: DataFrame, id_col: str, text_col: str,
                      shingle_n: int = 3,
                      threshold: float = 0.8,
                      max_df: int | None = None) -> DataFrame:
    """EXT (R137): asymmetric n-gram CONTAINMENT — pairs where doc A's
    shingle set is ≥ ``threshold`` contained in doc B's
    (|A∩B| / |A|). Jaccard misses exactly these: a short quote embedded
    in a long article scores near-zero symmetric similarity but 1.0
    containment — this is the quote/excerpt/boilerplate-wrapper detector
    (and the dedup policy input for "keep the superset, drop the
    fragment"). Returns (id_a, id_b, containment): A contained in B.

    Scale shape: per-doc DISTINCT shingle sha-hashes (set semantics —
    within-doc repeats must not inflate containment), candidate pairs
    from the shared-shingle co-occurrence join, both orientations derived
    from ONE undirected intersection count. The co-occurrence join is
    STRUCTURALLY bounded (round 6): shingles with document frequency >
    ``max_df`` (default ``greatest(64, 0.5% of docs)``, computed inside
    the plan — no extra driver action) are dropped from CANDIDATE
    GENERATION only — the same boilerplate-threshold device as
    ``line_dedup`` — so the join cost is ≤ max_df × |shingle rows| even
    on tiny-vocab corpora where every doc shares every shingle. Counts
    from the pruned join are already EXACT for every pair not touching a
    hot-shingle doc; only pairs involving such docs re-verify their
    intersection over the full shingle sets (an empty set — and a no-op
    — on corpora where the cap prunes nothing, so the common path pays
    one extra tiny agg + two null-producing joins, not the |cand|·|A|
    verify). Reported containment values are exact either way. Recall
    tradeoff, documented: a pair
    whose EVERY shared shingle exceeds max_df (pure-boilerplate overlap)
    yields no candidate — at the default cap that doc is boilerplate by
    definition. Measured on the corpus tables: max observed shingle DF
    is 7 (sf0.01) / 25 (sf0.1) and the worst qualifying pair's rarest
    shared shingle has DF 3 / 11 — the default cap prunes nothing there.
    """
    sh, _ = materialize(
        shingle_sha_rows(df, [id_col], text_col, shingle_n, out_col="__h")
        .distinct())
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    dfreq = sh.groupBy("__h").agg(F.count(F.lit(1)).alias("__df"))
    if max_df is None:
        ndocs = sh.select(id_col).distinct().agg(
            F.count(F.lit(1)).alias("__ndocs"))
        marked_h = (dfreq.crossJoin(F.broadcast(ndocs))
                    .withColumn("__hot", F.col("__df") > F.greatest(
                        F.lit(64),
                        (F.lit(0.005) * F.col("__ndocs")).cast("long"))))
    else:
        marked_h = dfreq.withColumn("__hot", F.col("__df") > max_df)
    keep = marked_h.filter(~F.col("__hot")).select("__h")
    hot = marked_h.filter(F.col("__hot")).select("__h")
    # merge hints on every join whose build side GROWS with the corpus
    # (vocabulary = distinct shingles, per-doc sizes, hot-doc lists):
    # the checkpointed lineage loses stats, and Catalyst otherwise
    # auto-broadcasts one of them — which OOMs the driver the moment
    # the corpus outgrows it (round-9 synthetic-sf1 sweep, 100x). The
    # only broadcast kept is the genuinely 1-row ndocs frame above.
    rare, _ = materialize(sh.join(keep.hint("merge"), "__h"))
    a, b = rare.alias("a"), rare.alias("b")
    # one pruned co-occurrence join yields BOTH the candidate pairs and
    # their rare-shingle intersection counts
    inter_rare = (a.join(b, "__h")
                  .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
                  .groupBy(F.col(f"a.{id_col}").alias("__ia"),
                           F.col(f"b.{id_col}").alias("__ib"))
                  .agg(F.count(F.lit(1)).alias("__cr")))
    # docs touching any hot (pruned) shingle: ONLY pairs involving such a
    # doc can have their count changed by the prune — every other pair's
    # rare-join count already equals the exact intersection, so the
    # expensive |cand|·|A| verify runs on the hot-doc pairs alone (empty
    # on corpora where the cap prunes nothing — the measured common case)
    hot_docs, _ = materialize(
        sh.join(hot.hint("merge"), "__h").select(id_col).distinct()
        .withColumn("__hd", F.lit(1)))
    # persist: `marked` feeds BOTH the exact and dirty branches — without
    # the share each branch re-runs the co-occurrence join and the whole
    # dfreq/threshold lineage (measured: 12 SortMergeJoins /
    # 84 HashAggregates in one plan). Lazy persist computes the pair
    # frame once and shares blocks; an eager localCheckpoint here
    # measured SLOWER (it serializes the pair-level frame through a
    # blocking write barrier)
    from pyspark import StorageLevel
    marked = (inter_rare
              .join(hot_docs.select(F.col(id_col).alias("__ia"),
                                    F.col("__hd").alias("__pa"))
                    .hint("merge"), "__ia", "left")
              .join(hot_docs.select(F.col(id_col).alias("__ib"),
                                    F.col("__hd").alias("__pb"))
                    .hint("merge"), "__ib", "left")
              .persist(StorageLevel.MEMORY_AND_DISK))
    exact = (marked.filter(F.col("__pa").isNull() & F.col("__pb").isNull())
             .select("__ia", "__ib", F.col("__cr").alias("__inter")))
    dirty = (marked.filter(F.col("__pa").isNotNull()
                           | F.col("__pb").isNotNull())
             .select("__ia", "__ib"))
    verified = (dirty
                .join(sh.select(F.col(id_col).alias("__ia"),
                                F.col("__h")).hint("merge"), "__ia")
                .join(sh.select(F.col(id_col).alias("__ib"), F.col("__h"))
                      .hint("merge"), ["__ib", "__h"], "left_semi")
                .groupBy("__ia", "__ib")
                .agg(F.count(F.lit(1)).alias("__inter")))
    inter = exact.unionByName(verified)
    sized = (inter
             .join(sizes.select(F.col(id_col).alias("__ia"),
                                F.col("__n").alias("__na"))
                   .hint("merge"), "__ia")
             .join(sizes.select(F.col(id_col).alias("__ib"),
                                F.col("__n").alias("__nb"))
                   .hint("merge"), "__ib"))
    both = sized.select(F.explode(F.array(
        F.struct(F.col("__ia").alias("id_a"), F.col("__ib").alias("id_b"),
                 (F.col("__inter") / F.col("__na")).alias("c")),
        F.struct(F.col("__ib").alias("id_a"), F.col("__ia").alias("id_b"),
                 (F.col("__inter") / F.col("__nb")).alias("c")),
    )).alias("__p")).select("__p.id_a", "__p.id_b", "__p.c")
    return (both.filter(F.col("c") >= threshold)
            .select("id_a", "id_b", F.round("c", 6).alias("containment")))


def minhash_recall_report(df: DataFrame, id_col: str, text_col: str,
                          num_hashes: int = 32, bands: int = 16,
                          shingle_n: int = 3, seed: int = 42) -> DataFrame:
    """EXT (R209, round 6): LSH banding recall report — the index-quality
    eval for the MinHash dedup path, the near-dup analog of
    ``ann_recall_report``. Ground truth = EXACT Jaccard ≥ 0.5 over the
    ``_shingle_rows_pandas`` table with ``seed`` (the very shingle space
    the signatures estimate), joined as ``ngram_jaccard_pairs`` does —
    its int/int double test decides J ≥ 1/2 exactly; candidates = the
    (band, slice) self-join pairs. ONE row:
    (n_true, n_candidates, n_hit, recall). Recall is the single final
    division (ROUND-6).

    Scale shape: this is an EVALUATION operator — run it on a bounded
    sample (the conformance key uses the keep_mod demo corpus), because
    exact ground truth needs the shared-shingle self-join. The
    candidate side stays the production banding plan; sizes/intersections
    are hash aggregates keyed on shingle value and pair. The shingle table
    and the signature table are materialized (as in
    ``ngram_jaccard_pairs`` / ``minhash_verified_pairs``): ``n_candidates``
    and ``n_hit`` both read the candidate pairs."""
    sig, _ = materialize(minhash_signatures(df, id_col, text_col,
                                            num_hashes, shingle_n, seed))
    cand = _band_candidate_pairs(sig, num_hashes, bands)
    sh, _ = materialize(_shingle_rows_pandas(df, id_col, text_col,
                                             shingle_n, seed))
    truth = _shingle_jaccard_pairs(sh, 0.5).select("id_a", "id_b")
    n_true = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    n_hit = (truth.join(cand, ["id_a", "id_b"], "left_semi")
             .agg(F.count(F.lit(1)).cast("long").alias("n_hit")))
    return (n_true.crossJoin(n_cand).crossJoin(n_hit)
            .select("n_true", "n_candidates", "n_hit",
                    F.when(F.col("n_true") > 0,
                           F.round(F.col("n_hit").cast("double")
                                   / F.col("n_true").cast("double"), 6))
                    .alias("recall")))


def source_overlap_matrix(docs: DataFrame, source_col: str,
                          text_col: str,
                          round_dp: int = 6) -> DataFrame:
    """EXT (round 6): cross-source duplication matrix — for every
    source pair, the Jaccard overlap of their EXACT-text fingerprint
    sets. The mirror detector at the source grain: two crawls with
    overlap near 1 are one feed ingested twice (drop one), moderate
    overlap flags syndication. Burrows' Delta (R254) finds STYLE
    twins; this finds literal content twins.

    Only sha256 digests shuffle (bodies never move — the L1 exact-
    dedup discipline); per source the digest set dedups first, the
    pair join meets on digest equality so cost is bounded by true
    cross-source duplication, and |union| = |A|+|B|−|∩| avoids a
    second join. Output: (source_a, source_b, n_shared, jaccard),
    overlapping pairs only."""
    d, _ = materialize(
        docs.select(F.col(source_col).alias("__s"),
                    F.sha2(F.col(text_col), 256).alias("__h"))
        .distinct())
    sizes = (d.select(F.col("__s").alias("__zs"))
             .groupBy("__zs").agg(F.count(F.lit(1)).alias("__n")))
    a = d.select(F.col("__s").alias("__sa"), F.col("__h"))
    b = d.select(F.col("__s").alias("__sb"),
                 F.col("__h").alias("__hb"))
    shared = (a.join(b, (F.col("__h") == F.col("__hb"))
                     & (F.col("__sa") < F.col("__sb")))
              .groupBy("__sa", "__sb")
              .agg(F.count(F.lit(1)).cast("long").alias("n_shared")))
    na = sizes.select(F.col("__zs").alias("__sa2"),
                      F.col("__n").alias("__na"))
    nb = sizes.select(F.col("__zs").alias("__sb2"),
                      F.col("__n").alias("__nb"))
    return (shared
            .join(F.broadcast(na), F.col("__sa") == F.col("__sa2"))
            .join(F.broadcast(nb), F.col("__sb") == F.col("__sb2"))
            .select(F.col("__sa").alias("source_a"),
                    F.col("__sb").alias("source_b"), "n_shared",
                    F.round(F.col("n_shared").cast("double")
                            / (F.col("__na") + F.col("__nb")
                               - F.col("n_shared")).cast("double"),
                            round_dp).alias("jaccard")))
