"""Vector / similarity-search operators (SURVEY §2.12 L3 + EXT mandate).

Embedding columns are ``array<float>``; all arithmetic casts to double and
stays in codegen (``zip_with`` + ``aggregate`` fold) — no Python in the
scoring loop. Two tiers:
- brute-force cosine top-k: exact baseline; one pass over candidates with a
  broadcast query vector; TakeOrderedAndProject for the top-k (no full sort).
- IVF-style LSH-bucketed ANN: random-hyperplane signatures partition the
  corpus; queries probe only matching buckets — the 100 TB path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import materialize


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ as a codegen fold (sequential, deterministic order)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def as_double_array(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


# ---------------------------------------------- centroid-kernel scaffold
#
# Every centroid/codebook kernel below (IVF and k-means assignment, the
# Lloyd partial sums, PQ encoding, the ADC lookup table, the anchor
# cosine grid) is "collect a small table → numpy matrix → vectorized
# fold per Arrow batch". The three helpers hold the invariants the SQL
# oracles replicate, so no kernel restates them:
# - rows sort by id, so ``argmin``/``argmax`` returning the FIRST
#   extremum is the smallest-id tie rule;
# - sums accumulate DIM-BY-DIM, the left-fold order of ``_dot``/
#   ``_norm``/``_l2sq`` and of the oracles' expression chains
#   (``np.sum``'s pairwise order could flip a ROUND-6 ordering or an
#   arg-extremum at ulp distance).

def _centroid_matrix(frame: DataFrame, key: str = "cell",
                     vec: str = "cvec"):
    """(ids int64[k], mat float64[k, dim]) of a centroid/codebook frame,
    sorted by id — the one centroid collect (k·dim doubles: cell counts
    are driver-small by definition, capped by ``INDEX_CELL_CAP`` on the
    corpus-derived index). An empty frame gives k = 0 and a (0, 0)
    matrix; kernels then emit no rows, like the oracles' CTEs."""
    import numpy as np

    rows = sorted((r[0], list(r[1])) for r in
                  frame.select(F.col(key), as_double_array(vec)).collect())
    ids = np.array([c for c, _ in rows], dtype=np.int64)
    mat = (np.array([v for _, v in rows], dtype=np.float64) if rows
           else np.zeros((0, 0)))
    return ids, mat


def _sq_l2(v, mat):
    """(B, k) squared L2 between the rows of ``v`` (B, dim) and ``mat``
    (k, dim), accumulated dim by dim."""
    import numpy as np

    d2 = np.zeros((len(v), len(mat)))
    for j in range(mat.shape[1]):
        t = v[:, j:j + 1] - mat[None, :, j]
        d2 = d2 + t * t
    return d2


def _cos_fold(v, mat, widths=()):
    """{d: (B, k) cosine over the first d components} of the rows of
    ``v`` against the rows of ``mat``, for each prefix width d in
    ``widths`` (default: the full width only). The dot product and BOTH
    norms accumulate dim by dim, so every width comes from one pass and
    equals scoring ``slice(v, 1, d)`` alone; each cosine is the
    ``dot / (n_v · n_mat)`` one-multiply one-divide shape of ``cosine``."""
    import numpy as np

    want = set(widths or (mat.shape[1],))
    dot = np.zeros((len(v), len(mat)))
    nv2 = np.zeros(len(v))
    nm2 = np.zeros(len(mat))
    out = {}
    for j in range(mat.shape[1]):
        dot = dot + v[:, j:j + 1] * mat[None, :, j]
        nv2 = nv2 + v[:, j] * v[:, j]
        nm2 = nm2 + mat[:, j] * mat[:, j]
        if j + 1 in want:
            with np.errstate(divide="ignore", invalid="ignore"):
                out[j + 1] = dot / (np.sqrt(nv2)[:, None]
                                    * np.sqrt(nm2)[None, :])
    return out


#: In-plan ceiling on broadcast sample frames (query sets, corpus-subset
#: centroids, exact-eval samples). The sample-regime operators broadcast
#: a "small by contract" frame into a nested-loop scoring grid; prose
#: cannot stop a caller from handing them a percentage sample that grows
#: with the corpus. The limit makes the contract physical: identity for
#: every legitimate sample (≤ 65536 rows — far above any eval query set,
#: ~34 MB of 64-dim doubles broadcast worst case), a hard bound instead
#: of an unbounded broadcast beyond it. It also lets the structural plan
#: audit (plans/audit.py) verify boundedness statically instead of
#: trusting docstrings — the same device as the containment DF cap.
SAMPLE_CAP = 65536

#: Anchor-side cap for the EVAL-REPORT operators (label noise, label
#: margin, hard negatives, cosine histogram, dim truncation, nprobe
#: curve, recall report). Those operators score an anchors × corpus
#: grid, so :data:`SAMPLE_CAP` — sized as a BROADCAST bound (~34 MB) —
#: is not a COMPUTE bound: 65536 anchors × a 100M-vector corpus is a
#: 6.5e12-pair grid. Found live at the synthetic-sf10 probe (round 9):
#: a `vec_id % 20` anchor sample grows linearly with the corpus, so the
#: grid grows quadratically — 10k anchors × 200k vectors ran 20+ min
#: where every other key took seconds. An eval report's statistical
#: value saturates around a thousand anchors; past that the extra rows
#: buy noise reduction no decision needs. 1024 never bites at the
#: verification scales (sf0.01/0.1/1 anchor counts: 10–1000, results
#: bit-identical), and bounds the grid at ANY corpus size. The oracles
#: replay the identical ordered truncation (ORDER BY id LIMIT 1024).
EVAL_ANCHOR_CAP = 1024

#: Index-structure cap for the modulo-centroid IVF variant: `id %
#: centroid_mod` derives the cell count from the CORPUS size, so the
#: per-row assignment cost (|cells| folds) grows linearly with the
#: corpus — quadratic total, the centroid-side twin of the anchor bug
#: above (found at the same sf10 probe: 4000 cells x 200k vectors =
#: 800M distance folds in one key). 4096 bites at no probed scale
#: (cells: 4/40/400/4000 at sf0.01/0.1/1/10 - results identical) and
#: bounds the index, hence the per-row assignment work, at any corpus
#: size. Real deployments swap in trained centroids (ivf_topk_trained)
#: whose k is chosen, not corpus-derived.
INDEX_CELL_CAP = 4096


def sample_bounded(df: DataFrame, order_col: str,
                   cap: int = SAMPLE_CAP) -> DataFrame:
    """Enforce the sample-regime contract in-plan (a TakeOrderedAndProject
    node; SET-identity — not plan-identity — below ``cap`` rows: the row
    set is unchanged under the cap, but every call site pays a
    per-partition top-``cap`` heap sort; accepted cost, bench was flat
    across all 13 call sites, ADVICE r8). ``cap`` defaults to the
    broadcast-size bound :data:`SAMPLE_CAP`; the anchors × corpus grid
    evals pass :data:`EVAL_ANCHOR_CAP` instead — see that constant for
    why a broadcast bound is not a compute bound.

    ``order_col`` MUST be unique (the frames' id column) — determinism of
    the kept subset is only guaranteed under a unique key. It makes
    over-cap truncation DETERMINISTIC: a bare ``limit`` keeps an
    arbitrary planner-dependent subset, so a caller whose "sample"
    silently outgrew the cap would diverge from the full-frame
    cross-engine oracles nondeterministically. Ordered truncation keeps
    the smallest-id rows — rerun-stable, so oracle parity either holds
    or breaks loudly and reproducibly."""
    return df.orderBy(F.col(order_col).asc()).limit(cap)


def cosine_topk(candidates: DataFrame, query: DataFrame, k: int,
                id_col: str = "vec_id", vec_col: str = "embedding",
                out_score: str = "cosine") -> DataFrame:
    """L3 baseline: exact top-k by cosine against ONE query vector.

    ``query`` is a 1-row (or few-row) DataFrame broadcast to every executor —
    a map-side cross join, zero shuffle for scoring; the only exchange is the
    k-row TakeOrderedAndProject merge. Ties broken by id for determinism.
    """
    q = F.broadcast(sample_bounded(query, id_col)
                    .select(as_double_array(vec_col).alias("__q")))
    scored = (candidates
              .withColumn("__v", as_double_array(vec_col))
              .crossJoin(q)
              .withColumn(out_score, _dot(F.col("__v"), F.col("__q"))
                          / (_norm(F.col("__v")) * _norm(F.col("__q"))))
              .drop("__v", "__q"))
    return (scored.orderBy(F.round(F.col(out_score), 6).desc(), F.col(id_col).asc())
                  .limit(k))


def rp_signature(vec_col: Column, dim: int, n_planes: int = 16, seed: int = 42) -> Column:
    """Random-hyperplane LSH signature (int bucket id).

    Plane p's normal is a deterministic pseudo-random ±1 vector generated
    DRIVER-SIDE at plan time and embedded as an array literal — executors
    need no side data, signatures are rerun-stable, and (unlike deriving the
    vector from per-element hash expressions) nothing is recomputed per row.
    sign(v·r) per plane → n_planes-bit bucket id. Cosine-similar vectors
    collide with high probability.
    """
    import random
    rng = random.Random(seed)
    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        rand = F.array(*[F.lit(1.0 if rng.random() < 0.5 else -1.0)
                         for _ in range(dim)])
        proj = F.aggregate(F.zip_with(vec_col, rand, lambda x, r: x * r),
                           F.lit(0.0), lambda acc, v: acc + v)
        sig = sig.bitwiseOR(F.when(proj >= 0, F.shiftleft(F.lit(1).cast("long"), p))
                             .otherwise(F.lit(0).cast("long")))
    return sig


def rp_signatures_pandas(df: DataFrame, id_col: str, vec_col: str, dim: int,
                         n_planes: int = 16, seed: int = 42,
                         keep_vec: bool = False) -> DataFrame:
    """(id, __sig) random-hyperplane signatures via one Arrow-batched matrix
    multiply per batch — ``(batch × dim) @ (dim × planes)`` — instead of
    n_planes interpreted zip_with/aggregate folds per row. Same ±1 planes
    as ``rp_signature`` (seeded driver-side)."""
    import random

    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    rng = random.Random(seed)
    planes = np.array([[1.0 if rng.random() < 0.5 else -1.0
                        for _ in range(dim)] for _ in range(n_planes)])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)  # (B, dim)
            proj = v @ planes.T                                     # (B, P)
            bits = (proj >= 0).astype(np.uint64)
            sig = (bits << np.arange(n_planes, dtype=np.uint64)).sum(
                axis=1, dtype=np.uint64).astype(np.int64)
            out = pd.DataFrame({id_col: pdf[id_col], "__sig": sig})
            if keep_vec:
                out["__v"] = list(v)
            yield out

    out_schema = f"{id_col} {dict(df.dtypes)[id_col]}, __sig bigint"
    if keep_vec:
        out_schema += ", __v array<double>"
    return df.select(F.col(id_col), F.col(vec_col)).mapInPandas(run, out_schema)


def cosine_pairs_pandas(va: str = "__va", vb: str = "__vb") -> Column:
    """Vectorized pairwise cosine as a scalar pandas UDF over two
    array<double> columns — one matrix pass per Arrow batch."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # NB: deliberately hint-free — `from __future__ import annotations`
    # stringifies hints and pandas_udf can't resolve the local `pd` name
    def cos(a, b):
        x = np.array(a.tolist(), dtype=np.float64)
        y = np.array(b.tolist(), dtype=np.float64)
        num = (x * y).sum(axis=1)
        den = np.sqrt((x * x).sum(axis=1)) * np.sqrt((y * y).sum(axis=1))
        return pd.Series(num / den)

    return pandas_udf(cos, "double")(F.col(va), F.col(vb))


def cos_grid_pandas(left: DataFrame, q: DataFrame,
                    lid: str, qid: str,
                    vec: str = "__v", qvec: str = "__q",
                    l_extra: tuple = (), q_extra: tuple = (),
                    exclude_self: bool = False,
                    widths: tuple | None = None, width_col: str = "__d",
                    out: str = "__cos") -> DataFrame:
    """Anchor-grid cosine scoring as ONE map-side Arrow kernel (r11,
    guide §4.2): (lid[, l_extra…], qid[, q_extra…], cos) for every
    (left row × query row) pair.

    Replaces the ``crossJoin(broadcast(q)) + _dot/_norm`` shape the
    sample-regime evals shared: the interpreted ``aggregate``/``zip_with``
    lambda folds cost ~dim expression evaluations per pair; the kernel
    scores a whole Arrow batch against the full anchor matrix in
    vectorized numpy. The query frame is collected to the driver — it is
    anchor-capped by contract (≤ :data:`EVAL_ANCHOR_CAP` rows — the same
    driver-small budget class as the centroid collects; callers MUST pass
    a ``sample_bounded`` frame).

    ``widths`` (matryoshka mode): when set, one output row per (pair,
    prefix width d ∈ widths) scoring only the first d components — the
    running dot/norm accumulators at j = d ARE the prefix folds, so all
    widths come from the SAME single pass, bit-identical to scoring
    each ``slice(v, 1, d)`` separately.

    Scoring is :func:`_cos_fold` (the oracles' fold order). NULL-vector
    rows are dropped on BOTH sides (they scored NULL-cosine in the fold
    form and never rank; stacking them would crash the batch matrix)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    q_rows = (q.filter(F.col(qvec).isNotNull())
              .select(qid, *q_extra, qvec).collect())
    nq = len(q_rows)
    qid_arr = np.array([r[qid] for r in q_rows])
    qmat = np.array([list(r[qvec]) for r in q_rows], dtype=np.float64)
    wset = sorted(widths) if widths else None
    q_carry = {c: [r[c] for r in q_rows] for c in q_extra}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Bound the materialized pair frame: an Arrow batch of B rows
        # emits B·nq·len(widths or 1) pair rows — at the 10k default
        # batch size and a full 1024-anchor grid that is ~10M rows of
        # pandas per task, which multiplied by task concurrency is an
        # executor-memory hazard at sf10+. Slice the batch so one
        # yielded frame stays ≤ ~256k pair rows (values are unchanged;
        # the accumulation is per-row, so slicing cannot reorder it).
        max_pairs = 262_144
        for whole in batches:
            if not len(whole) or not nq:
                continue
            rows_per = max(1, max_pairs // max(1, nq * (len(wset or [1]))))
            for lo in range(0, len(whole), rows_per):
                yield from _score(whole.iloc[lo:lo + rows_per])

    def _score(pdf):
        v = np.array(pdf[vec].tolist(), dtype=np.float64)   # (B, dim)
        cos_at = _cos_fold(v, qmat, wset or ())

        def frame(cvals, width=None):
            cols = {lid: np.repeat(pdf[lid].to_numpy(), nq)}
            for c in l_extra:
                cols[c] = np.repeat(pdf[c].to_numpy(), nq)
            cols[qid] = np.tile(qid_arr, len(v))
            for c in q_extra:
                cols[c] = pd.Series(q_carry[c] * len(v))
            if width is not None:
                cols[width_col] = np.full(len(v) * nq, width,
                                          dtype=np.int32)
            cols[out] = cvals.ravel()
            res = pd.DataFrame(cols)
            if exclude_self:
                res = res[res[lid] != res[qid]]
            return res

        if wset:
            yield pd.concat([frame(cos_at[d], d) for d in wset],
                            ignore_index=True)
        else:
            yield frame(cos_at[qmat.shape[1]])

    ldt, qdt = dict(left.dtypes), dict(q.dtypes)
    parts = [f"{lid} {ldt[lid]}"]
    parts += [f"{c} {ldt[c]}" for c in l_extra]
    parts.append(f"{qid} {qdt[qid]}")
    parts += [f"{c} {qdt[c]}" for c in q_extra]
    if widths:
        parts.append(f"{width_col} int")
    parts.append(f"{out} double")
    return (left.filter(F.col(vec).isNotNull())
            .select(lid, *l_extra, vec)
            .mapInPandas(run, ", ".join(parts)))


def ann_topk_lsh(candidates: DataFrame, query: DataFrame, k: int, dim: int,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 n_planes: int = 8, seed: int = 42) -> DataFrame:
    """L3 scale path: LSH-bucketed approximate top-k.

    Corpus is signed once via the vectorized kernel (signature persisted/
    bucketed in a real deployment); a query probes only its own bucket — at
    1000 executors the scan narrows by ~2^n_planes. Exact cosine (Arrow-
    vectorized pair kernel) re-ranks within the bucket. Recall/latency
    trades via n_planes (fewer planes → bigger buckets).
    """
    cand_sig = (rp_signatures_pandas(candidates.select(id_col, vec_col),
                                     id_col, vec_col, dim, n_planes, seed,
                                     keep_vec=True)
                .join(candidates, id_col))
    q_sig = F.broadcast(
        rp_signatures_pandas(query.select(id_col, vec_col), id_col, vec_col,
                             dim, n_planes, seed, keep_vec=True)
        .select(F.col("__sig"), F.col("__v").alias("__q")))
    probe = cand_sig.join(q_sig, "__sig")
    scored = (probe.withColumn("cosine",
                               cosine_pairs_pandas(va="__v", vb="__q"))
              .drop("__v", "__q", "__sig"))
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def ann_topk_multiprobe(candidates: DataFrame, query: DataFrame, k: int,
                        dim: int, id_col: str = "vec_id",
                        vec_col: str = "embedding", n_planes: int = 6,
                        seed: int = 42) -> DataFrame:
    """EXT (R166, round 6): MULTI-PROBE LSH top-k — the standard recall
    booster for hyperplane LSH: a near neighbour that lands one sign-bit
    away from the query's bucket (the usual failure mode — one projection
    near zero flips under noise) is invisible to single-bucket probing,
    so the query probes its own bucket PLUS every Hamming-distance-1
    bucket (``sig XOR 2^p``). Candidate coverage grows from 1 to
    ``1 + n_planes`` of ``2^n_planes`` buckets — the classic trade of a
    few extra bucket reads for recall, instead of re-signing the corpus
    with fewer planes (which fattens EVERY bucket).

    Scale shape: identical to ``ann_topk_lsh`` — corpus signed once
    (Arrow matrix multiply), the probe list is ``1 + n_planes`` rows
    BROADCAST into the signature join, exact Arrow cosine re-ranks, and
    TakeOrdered returns k. Each corpus vector has exactly one signature,
    so multi-probe cannot duplicate a candidate."""
    cand_sig = (rp_signatures_pandas(candidates.select(id_col, vec_col),
                                     id_col, vec_col, dim, n_planes, seed,
                                     keep_vec=True)
                .join(candidates, id_col))
    q_sig = rp_signatures_pandas(query.select(id_col, vec_col), id_col,
                                 vec_col, dim, n_planes, seed,
                                 keep_vec=True)
    probes = F.broadcast(q_sig.select(
        F.explode(F.array(
            F.col("__sig"),
            *[F.expr(f"__sig ^ {1 << p}") for p in range(n_planes)]))
         .alias("__sig"),
        F.col("__v").alias("__q")))
    probe = cand_sig.join(probes, "__sig")
    scored = (probe.withColumn("cosine",
                               cosine_pairs_pandas(va="__v", vb="__q"))
              .drop("__v", "__q", "__sig"))
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def ann_recall_report(candidates: DataFrame, queries: DataFrame, k: int,
                      dim: int, id_col: str = "vec_id",
                      vec_col: str = "embedding", n_planes: int = 4,
                      seed: int = 42, round_dp: int = 6,
                      anchor_cap: int = EVAL_ANCHOR_CAP) -> DataFrame:
    """EXT (R173, round 6): ANN index-quality report — per-query
    recall@k of the single-probe LSH index against brute-force exact
    cosine ground truth. The eval harness that decides whether an index
    configuration (n_planes here; nprobe/cells for IVF) is shippable:
    recall is THE index quality metric, and measuring it is itself a
    distributed job at corpus scale. One row per query:
    ``n_exact`` / ``n_approx`` (bucket may hold < k), ``n_hit``
    (overlap), ``recall`` = n_hit/n_exact (ONE division, ROUND 6).

    Both rankings order by ROUND(cosine, 6) DESC, id ASC — the
    ``cosine_topk`` tie-stability device, so the selected sets are
    engine-stable. Ground truth is a cross join of corpus × queries:
    an OFFLINE eval over a sampled query set (hundreds), not a serving
    path — the report's cost is |corpus|·|queries| map-side scores with
    a per-query TakeOrdered, no shuffle of the corpus itself.

    ``queries`` is truncated to the ``anchor_cap`` smallest ids
    (default :data:`EVAL_ANCHOR_CAP`) — the corpus-independent bound
    on the anchors × corpus grid; pass a larger cap to widen the
    sample deliberately."""
    sig = rp_signature(as_double_array(vec_col), dim, n_planes, seed)
    cand = candidates.select(F.col(id_col).alias("__cid"),
                             as_double_array(vec_col).alias("__v"),
                             sig.alias("__sig"))
    qs = F.broadcast(sample_bounded(queries, id_col, cap=anchor_cap)
                     .select(F.col(id_col).alias("q_id"),
                             as_double_array(vec_col).alias("__q"),
                             sig.alias("__qsig")))
    rank_w = (Window.partitionBy("q_id")
              .orderBy(F.round(F.col("__c"), 6).desc(),
                       F.col("__cid").asc()))
    exact = (cand.crossJoin(qs)
             .withColumn("__c", cosine(F.col("__v"), F.col("__q")))
             .withColumn("__rn", F.row_number().over(rank_w))
             .filter(F.col("__rn") <= k).select("q_id", "__cid"))
    approx = (cand.join(qs, F.col("__sig") == F.col("__qsig"))
              .withColumn("__c", cosine(F.col("__v"), F.col("__q")))
              .withColumn("__rn", F.row_number().over(rank_w))
              .filter(F.col("__rn") <= k).select("q_id", "__cid"))
    n_exact = exact.groupBy("q_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"))
    n_approx = approx.groupBy("q_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_approx"))
    hits = exact.intersect(approx).groupBy("q_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hit"))
    return (n_exact.join(n_approx, "q_id", "left")
            .join(hits, "q_id", "left")
            .select("q_id", "n_exact",
                    F.coalesce("n_approx", F.lit(0)).cast("long")
                    .alias("n_approx"),
                    F.coalesce("n_hit", F.lit(0)).cast("long")
                    .alias("n_hit"),
                    F.round(F.coalesce("n_hit", F.lit(0)).cast("double")
                            / F.col("n_exact").cast("double"),
                            round_dp).alias("recall")))


def ivf_assign(df: DataFrame, centroids: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """IVF coarse quantization: (id, cell) — each vector's nearest centroid
    by cosine (ties → smallest centroid id). The centroid table is
    collected to the driver (≤ ``INDEX_CELL_CAP``·dim doubles — the
    driver-small budget class) and rides into an Arrow kernel as a numpy
    matrix: per batch ONE vectorized scoring pass and NO shuffle — the
    crossJoin + groupBy struct-max this replaces (round 10) materialized
    n·k rows THROUGH A HASH SHUFFLE (800M rows at the sf10 probe) with
    per-pair interpreted folds; the kernel is map-only, the same device
    ``kmeans_assign`` already uses for the trained variant. At cluster
    scale the assignment is computed once and persisted/bucketed by cell
    — queries then touch only their probed cells' partitions.

    Centroids come from :func:`_centroid_matrix` and score by
    :func:`_cos_fold` (ties → smallest centroid id, the struct-max rule);
    an empty centroid frame assigns no rows. Vectors are assumed
    nonzero-norm (the fold form shared the precondition); NULL-embedding
    rows are dropped up front — the fold path emitted a NULL-cosine row
    for them, the kernel would hard-crash stacking the batch matrix, and
    neither produces a usable cell. Ragged (wrong-dim) vectors remain a
    stated precondition violation."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    cids, cmat = _centroid_matrix(centroids, id_col, vec_col)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf) or not len(cids):
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)  # (B, dim)
            cos = _cos_fold(v, cmat)[cmat.shape[1]]
            yield pd.DataFrame({id_col: pdf[id_col],
                                "cell": cids[np.argmax(cos, axis=1)]})

    out_schema = f"{id_col} {dict(df.dtypes)[id_col]}, cell bigint"
    return (df.filter(F.col(vec_col).isNotNull())
            .select(F.col(id_col), as_double_array(vec_col).alias(vec_col))
            .mapInPandas(run, out_schema))


def ivf_topk(candidates: DataFrame, query: DataFrame, k: int,
             centroid_mod: int = 50, nprobe: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """L3 scale path #2: IVF-style ANN — coarse centroid cells + nprobe
    probing, the inverted-file counterpart to the RP-LSH bucket index.

    Centroids here are a deterministic corpus subset (``id % centroid_mod``
    — rerun-stable without a k-means job; swap in trained centroids at
    will). Query cost: |cells probed| / |cells| of the corpus, exact cosine
    re-rank inside. Recall/latency trades via ``nprobe``.
    """
    cents = sample_bounded(
        candidates.filter(F.col(id_col) % centroid_mod == 0)
                  .select(id_col, vec_col), id_col, cap=INDEX_CELL_CAP)
    assign = ivf_assign(candidates, cents, id_col, vec_col)
    qv = as_double_array(vec_col)
    qscore = (query.select(qv.alias("__q")).crossJoin(
                F.broadcast(cents.select(F.col(id_col).alias("__cid"),
                                         as_double_array(vec_col).alias("__cvec"))))
              .withColumn("__cos", _dot(F.col("__q"), F.col("__cvec"))
                          / (_norm(F.col("__q")) * _norm(F.col("__cvec")))))
    qcells = (qscore.orderBy(F.col("__cos").desc(), F.col("__cid").asc())
              .limit(nprobe).select(F.col("__cid").alias("cell")))
    probe = (candidates.join(assign, id_col)
             .join(F.broadcast(qcells), "cell"))
    q = F.broadcast(sample_bounded(query, id_col).select(qv.alias("__q")))
    scored = (probe.withColumn("__v", as_double_array(vec_col))
              .crossJoin(q)
              .withColumn("cosine", _dot(F.col("__v"), F.col("__q"))
                          / (_norm(F.col("__v")) * _norm(F.col("__q"))))
              .drop("__v", "__q", "cell"))
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def _l2sq(a: Column, b: Column) -> Column:
    """Σ (aᵢ-bᵢ)² as a sequential codegen fold — the summation ORDER is the
    array order, bit-reproducible by any engine that folds left-to-right
    (the conformance oracle emits the same sum as a left-associated
    per-component expression chain)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, v: acc + v)


def kmeans_assign(df: DataFrame, centroids: DataFrame,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  keep_vec: bool = False,
                  carry_cols: tuple = ()) -> DataFrame:
    """(id[, carries][, vec], cell): nearest centroid by squared L2
    (ties → smallest cell id).

    The centroid table is collected to the driver (k·dim doubles — cell
    counts are driver-small by definition, the same budget class as the
    repo's 1-row scalar collects) and rides into an Arrow kernel as a
    numpy matrix: per batch, ONE vectorized distance computation instead
    of n·k interpreted zip_with/aggregate folds (measured ~3× on the
    trained-IVF query). No shuffle at all — assignment is purely map-side.

    ``keep_vec`` / ``carry_cols`` (r11, guide §2.4): consumers that need
    the vector (centroid update, SemDeDup pair verify) or a payload
    column (label eval) next to the cell used to JOIN the (id, cell)
    output back to the corpus on id — a full corpus shuffle per consumer.
    Carrying the columns THROUGH the map-side kernel removes that join
    outright; rows map 1:1 so results are identical on unique ids (the
    operator's existing contract). The carried vector is the post-cast
    ``array<double>`` form.

    Centroids come from :func:`_centroid_matrix` and distances from
    :func:`_sq_l2` (ties → smallest cell); an empty centroid frame
    assigns no rows. NULL-embedding rows are dropped up front (no cell
    is assignable; stacking them would crash the batch matrix).
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    cells, cmat = _centroid_matrix(centroids)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf) or not len(cells):
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)  # (B, dim)
            d2 = _sq_l2(v, cmat)
            out = {id_col: pdf[id_col]}
            for c in carry_cols:
                out[c] = pdf[c]
            if keep_vec:
                out[vec_col] = pdf[vec_col]
            out["cell"] = cells[np.argmin(d2, axis=1)]
            yield pd.DataFrame(out)

    dtypes = dict(df.dtypes)
    parts = [f"{id_col} {dtypes[id_col]}"]
    parts += [f"{c} {dtypes[c]}" for c in carry_cols]
    if keep_vec:
        parts.append(f"{vec_col} array<double>")
    parts.append("cell bigint")
    out_schema = ", ".join(parts)
    sel = ([F.col(id_col)] + [F.col(c) for c in carry_cols]
           + [as_double_array(vec_col).alias(vec_col)])
    return (df.filter(F.col(vec_col).isNotNull())
            .select(*sel)
            .mapInPandas(run, out_schema))


def _kmeans_update_sums(df: DataFrame, centroids: DataFrame,
                        vec_col: str) -> DataFrame:
    """Per-task per-cell partial sums for one Lloyd update — (cell, cnt,
    s array<double>), ≤ k rows per task.

    r12 (guide §2.3 "aggregate before you shuffle" / §4): the former
    update path shipped EVERY corpus row's 64-double vector back across
    the Arrow boundary and hash-aggregated 64 ``avg(__v[i])`` element
    extractions over the full corpus in the JVM — measured ~1.3 s of
    each ~2.1 s iteration at sf0.1/local[32]. This kernel assigns AND
    accumulates inside the same numpy pass, so the Python→JVM transfer
    and the JVM aggregation input shrink from n rows to (tasks × k)
    rows. The assignment is ``kmeans_assign``'s (:func:`_sq_l2` over
    :func:`_centroid_matrix`; no centroids → no rows); the per-cell sums
    use numpy block summation, whose ulp-level order difference from the
    engine's per-row partial aggregation is collapsed by the caller's
    ROUND-6 — the established inter-iteration doctrine (re-proven at the
    sf10 battery this round)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    cells, cmat = _centroid_matrix(centroids)
    k, dim = cmat.shape

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sums = np.zeros((k, dim))
        cnts = np.zeros(k, dtype=np.int64)
        seen = False
        for pdf in batches:
            if not len(pdf) or not k:
                continue
            seen = True
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            idx = np.argmin(_sq_l2(v, cmat), axis=1)
            for ci in range(k):
                m = idx == ci
                if m.any():
                    cnts[ci] += int(m.sum())
                    sums[ci] += v[m].sum(axis=0)
        if seen:
            nz = cnts > 0           # empty cells drop, as before
            yield pd.DataFrame({"cell": cells[nz], "cnt": cnts[nz],
                                "s": [list(r) for r in sums[nz]]})

    return (df.filter(F.col(vec_col).isNotNull())
            .select(as_double_array(vec_col).alias(vec_col))
            .mapInPandas(run, "cell bigint, cnt bigint, s array<double>"))


def kmeans_fit(df: DataFrame, k: int = 8, n_iter: int = 2,
               id_col: str = "vec_id", vec_col: str = "embedding",
               dim: int = 64, round_dp: int = 6) -> DataFrame:
    """Lloyd's k-means over an embedding column, DataFrame-native —
    (cell, cvec array<double>) trained centroids for the IVF index.

    Deterministic by construction (rerun- and engine-reproducible):
    - init = the vectors with ``id < k`` (no random restarts; a corpus
      with no such id trains 0 centroids, as the oracles' CTEs do);
    - a FIXED iteration count (no float-threshold convergence test);
    - centroid components ROUND to ``round_dp`` decimals between
      iterations — parallel partial-sum averaging differs from a
      sequential oracle's in the last ulps, and the round collapses both
      to the same value before it can flip an assignment;
    - assignment ties break on smallest cell id.

    Scale: per iteration, ONE map-side Arrow pass
    (``_kmeans_update_sums``) assigns every vector and emits per-task
    per-cell partial sums, and ONE small hash aggregate over those
    (tasks × k) rows averages them — the corpus is never shuffled.
    Centroid count stays driver-small. Empty cells drop (both the oracle
    and any engine agree on that).

    Each iteration's centroids are RE-EMITTED as a literal relation
    (the :func:`_centroid_matrix` collect — the driver-small budget
    class): without the cut, every later centroid consumer (the next
    iteration's partial-sum kernel, the caller's assignment and cell
    probe) re-executes the whole preceding Lloyd lineage — measured ~2×
    the assignment jobs on the trained-IVF and SemDeDup queries. Callers
    therefore take the returned frame as is. Exactness is preserved:
    collect round-trips the post-round IEEE doubles bit-identically.
    """
    cents = (df.filter(F.col(id_col) < k)
               .select(F.col(id_col).cast("long").alias("cell"),
                       as_double_array(vec_col).alias("cvec")))
    spark = df.sparkSession
    for _ in range(n_iter):
        # avg == SUM(partials)/SUM(cnt): one double division, and the
        # ROUND-dp collapses the partial-sum order difference exactly as
        # it collapsed the engine's own partial aggregation order.
        parts = _kmeans_update_sums(df, cents, vec_col)
        # ONE F.expr call builds the whole dim-wide update: a python
        # loop of 64 Column objects costs ~0.85 s of py4j round-trips
        # PER ITERATION before Spark sees the plan (measured r12) —
        # driver-side cost that exists at any cluster scale.
        arr_sql = ("array(" + ", ".join(
            f"round(sum(s[{i}]) / sum(cnt), {round_dp})"
            for i in range(dim)) + ") AS cvec")
        cells, cmat = _centroid_matrix(
            parts.groupBy("cell").agg(F.expr(arr_sql)))
        cents = spark.createDataFrame(
            list(zip(cells.tolist(), cmat.tolist())),
            schema="cell bigint, cvec array<double>")
    return cents


def ivf_topk_trained(candidates: DataFrame, query: DataFrame, k: int,
                     centroids: DataFrame, nprobe: int = 2,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """IVF search over TRAINED centroids (``kmeans_fit`` output): corpus
    assigned to cells by squared L2 (index geometry), query probes its
    ``nprobe`` nearest cells, exact cosine re-ranks inside — L2 for the
    partition, cosine for the final score. At cluster scale the
    assignment is computed once and persisted/bucketed by cell."""
    # r11 (guide §2.4): carry every candidate column through the assign
    # kernel — the corpus ⋈ (id, cell) shuffle join is gone; the probed
    # cells then prune map-side via the broadcast. The vector rides as
    # array<double> and is cast back to its original element type on the
    # way out (float→double→float is bit-exact).
    extra = tuple(c for c in candidates.columns
                  if c not in (id_col, vec_col))
    orig_vec_type = dict(candidates.dtypes)[vec_col]
    assign = kmeans_assign(candidates, centroids, id_col, vec_col,
                           keep_vec=True, carry_cols=extra)
    qv = as_double_array(vec_col)
    qcells = (query.select(qv.alias("__q"))
              .crossJoin(F.broadcast(centroids))
              .withColumn("__d2", _l2sq(F.col("__q"), F.col("cvec")))
              .orderBy(F.col("__d2").asc(), F.col("cell").asc())
              .limit(nprobe).select("cell"))
    probe = assign.join(F.broadcast(qcells), "cell")
    q = F.broadcast(sample_bounded(query, id_col).select(qv.alias("__q")))
    scored = (probe.withColumnRenamed(vec_col, "__v")
              .crossJoin(q)
              .withColumn("cosine", _dot(F.col("__v"), F.col("__q"))
                          / (_norm(F.col("__v")) * _norm(F.col("__q"))))
              .withColumn(vec_col, F.col("__v").cast(orig_vec_type))
              .drop("__v", "__q", "cell"))
    return (scored.select(*candidates.columns, "cosine")
            .orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k))


def embedding_near_dup_pairs(df: DataFrame, threshold: float = 0.95,
                             id_col: str = "vec_id", vec_col: str = "embedding",
                             dim: int = 64, n_planes: int = 6, seed: int = 42) -> DataFrame:
    """EXT embedding-cosine near-dup: candidate pairs from shared LSH bucket,
    verified by exact cosine ≥ threshold. Self-join keyed on the signature —
    sub-quadratic; never ships vectors except within matching buckets.
    Signature AND verification run as Arrow-vectorized matrix ops (the
    zip_with/aggregate dot-product folds are interpreted per element); the
    bucket self-join stays JVM-side."""
    sig = rp_signatures_pandas(df, id_col, vec_col, dim, n_planes, seed,
                               keep_vec=True)
    a, b = sig.alias("a"), sig.alias("b")
    return (a.join(b, "__sig")
             .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"),
                     F.col("a.__v").alias("__va"), F.col("b.__v").alias("__vb"))
             .withColumn("cosine", cosine_pairs_pandas())
             .filter(F.col("cosine") >= threshold)
             .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
             .distinct())


def cross_split_leakage(df: DataFrame, id_col: str, vec_col: str,
                        split_col: str, test_label: str = "test",
                        threshold: float = 0.99, dim: int = 64,
                        n_planes: int = 4, seed: int = 42) -> DataFrame:
    """EXT (R155, round 6): SEMANTIC train/test contamination report —
    the embedding-space sibling of the shingle-based
    ``split_leakage_report``. A test document whose embedding has a
    near-identical train neighbour leaks the benchmark even when no
    n-gram matches (paraphrases, translations, re-encodings); this
    reports how much of the test split is semantically present in train.

    One row out: ``n_train``, ``n_test``, ``n_cross_pairs``
    (train↔test near-dup pairs at ``threshold``), ``n_leaked_test``
    (distinct test members of such pairs).

    Scale shape: candidate pairs come from ``embedding_near_dup_pairs``
    (RP-LSH bucket self-join + Arrow exact-cosine verify — never
    all-pairs); the split labels join onto the pair ends by id (ids and
    labels only — vectors never ship again); the three 1-row aggregates
    cross-join into the report (1×1×1, no data motion)."""
    pairs = embedding_near_dup_pairs(df.select(id_col, vec_col), threshold,
                                     id_col, vec_col, dim, n_planes, seed)
    splits = df.select(F.col(id_col), F.col(split_col))
    labelled = (pairs
                .join(splits.select(F.col(id_col).alias("id_a"),
                                    F.col(split_col).alias("__sa")), "id_a")
                .join(splits.select(F.col(id_col).alias("id_b"),
                                    F.col(split_col).alias("__sb")), "id_b"))
    cross = labelled.filter(F.col("__sa") != F.col("__sb"))
    counts = df.agg(
        F.count(F.when(F.col(split_col) != test_label, 1)).cast("long")
         .alias("n_train"),
        F.count(F.when(F.col(split_col) == test_label, 1)).cast("long")
         .alias("n_test"))
    n_pairs = cross.agg(F.count(F.lit(1)).cast("long")
                        .alias("n_cross_pairs"))
    leaked = (cross.select(F.when(F.col("__sa") == test_label,
                                  F.col("id_a"))
                            .otherwise(F.col("id_b")).alias("__tid"))
              .distinct()
              .agg(F.count(F.lit(1)).cast("long").alias("n_leaked_test")))
    return counts.crossJoin(n_pairs).crossJoin(leaked)


def semantic_dedup(df: DataFrame, id_col: str = "vec_id",
                   vec_col: str = "embedding", k: int = 8, n_iter: int = 2,
                   dim: int = 64, threshold: float = 0.95,
                   round_dp: int = 6) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column:
    k-means-cluster the corpus (``kmeans_fit`` — deterministic init /
    rounds / tie-breaks), then WITHIN each cluster drop every vector whose
    cosine similarity to a lower-id clustermate reaches ``threshold``
    (one-pass greedy: the comparison is against all lower-id mates,
    whether or not they themselves survive — deterministic without
    chained passes). Returns surviving ``(id_col, cell)``.

    Scale shape: clustering is the IVF training cost (broadcast
    assignment + one partial-agg shuffle per iteration); the pairwise
    verify self-joins ONLY within a cell — the quadratic term is bounded
    by cell size (n/k on balanced data), the exact reason SemDeDup
    clusters before comparing. Vectors ship solely into same-cell pairs,
    Arrow-vectorized cosine, no driver loops."""
    cents = kmeans_fit(df, k, n_iter, id_col, vec_col, dim, round_dp)
    # r11 (guide §2.4): the assign kernel carries the vector through —
    # the (id, cell) ⋈ (id, vec) corpus self-join is gone; placement is
    # ONE map-side pass.
    # materialize: the (id, cell, vec) table feeds BOTH self-join
    # sides and the survivor projection — without the cut each consumer
    # re-runs the corpus scan + Arrow assignment (was 10 scans)
    placed, _ = materialize(
        kmeans_assign(df, cents, id_col, vec_col, keep_vec=True)
        .withColumnRenamed(vec_col, "__v"))
    x = placed.select(F.col("cell"), F.col(id_col).alias("__ida"),
                      F.col("__v").alias("__va"))
    y = placed.select(F.col("cell"), F.col(id_col).alias("__idb"),
                      F.col("__v").alias("__vb"))
    dropped = (x.join(y, "cell")
               .filter(F.col("__ida") < F.col("__idb"))
               .withColumn("__cos", cosine_pairs_pandas())
               .filter(F.col("__cos") >= threshold)
               .select(F.col("__idb").alias(id_col)).distinct())
    return placed.select(id_col, "cell").join(dropped, id_col, "left_anti")


def rrf_fuse(ranked_a: DataFrame, ranked_b: DataFrame, id_col: str,
             k: int = 60, topk: int = 20) -> DataFrame:
    """EXT hybrid retrieval: Reciprocal Rank Fusion of two ranked lists —
    score(id) = Σ 1/(k + rankᵢ) over the systems that returned the id.
    The standard lexical+dense fusion rule (k=60 per the original RRF
    paper): rank-based, so the two systems' incomparable score scales
    never mix.

    Inputs are (id, rank) frames — ranks MUST be deterministic (rank over
    ROUNDED scores with the id as tie-break, the repo's ordering
    discipline) or fusion inherits the instability. Both lists are top-k
    small by construction, so the full-outer join broadcasts; the fold
    adds the two reciprocal terms in fixed a-then-b order (exact: two
    correctly-rounded divisions + one addition), rounds at 6 dp, and
    tie-breaks on id."""
    a = ranked_a.select(F.col(id_col), F.col("rank").alias("__ra"))
    b = ranked_b.select(F.col(id_col), F.col("rank").alias("__rb"))
    j = a.join(b, id_col, "full_outer")
    sa = F.when(F.col("__ra").isNotNull(),
                F.lit(1.0) / (F.lit(k) + F.col("__ra"))).otherwise(F.lit(0.0))
    sb = F.when(F.col("__rb").isNotNull(),
                F.lit(1.0) / (F.lit(k) + F.col("__rb"))).otherwise(F.lit(0.0))
    return (j.select(id_col, F.round(sa + sb, 6).alias("rrf"))
            .orderBy(F.col("rrf").desc(), F.col(id_col).asc())
            .limit(topk))


def pq_train(df: DataFrame, m: int = 4, dim: int = 64, k: int = 8,
             n_iter: int = 1, id_col: str = "vec_id",
             vec_col: str = "embedding",
             round_dp: int = 6) -> list[DataFrame]:
    """EXT (R107): product-quantization codebook training — one
    ``kmeans_fit`` per subspace over the sliced embedding (subspace j
    sees components [j·dim/m, (j+1)·dim/m)). Returns the m centroid
    frames. Inherits kmeans_fit's determinism contract (``id < k`` init,
    fixed iterations, inter-iteration rounding, smallest-cell ties), so
    codebook training itself is cross-engine verifiable."""
    from concurrent.futures import ThreadPoolExecutor

    sub = dim // m

    def fit(j: int) -> DataFrame:
        sl = df.select(
            F.col(id_col),
            F.slice(as_double_array(vec_col), j * sub + 1, sub)
             .alias(vec_col))
        return kmeans_fit(sl, k=k, n_iter=n_iter, id_col=id_col,
                          vec_col=vec_col, dim=sub, round_dp=round_dp)

    # r11 (guide §2.6): the m subspace trainers are INDEPENDENT Lloyd
    # chains whose wall is driver-coordination fixed cost (assign pass +
    # update agg + k-row collect per iteration); running them from a
    # small thread pool lets each chain's jobs back-fill the others'
    # stragglers. Results are unchanged — each thread's collects are
    # private and the books list keeps subspace order.
    with ThreadPoolExecutor(max_workers=m) as pool:
        return list(pool.map(fit, range(m)))


def pq_encode(df: DataFrame, codebooks: list[DataFrame], dim: int = 64,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """EXT (R107): product-quantization encoding — each vector compresses
    to m codebook cells (64 floats → m bytes at k ≤ 256: the standard
    memory lever for billion-vector ANN; IVF-PQ = ``ivf_topk_trained``'s
    cell partition + these codes for in-cell distance approximation).

    ONE map-side Arrow pass assigns ALL m subspaces: the m codebooks
    (:func:`_centroid_matrix`, k·dim doubles total — driver-small) ride
    in as numpy, and per batch each subspace does one :func:`_sq_l2`
    argmin (ties → smallest cell). No shuffle, no per-subspace join; an
    empty codebook encodes no rows. Returns (id, code_0..code_{m-1})."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    m = len(codebooks)
    sub = dim // m
    mats = [_centroid_matrix(book) for book in codebooks]
    empty = any(not len(cells) for cells, _ in mats)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf) or empty:
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            cols = {id_col: pdf[id_col]}
            for j, (cells, cmat) in enumerate(mats):
                d2 = _sq_l2(v[:, j * sub:(j + 1) * sub], cmat)
                cols[f"code_{j}"] = cells[np.argmin(d2, axis=1)]
            yield pd.DataFrame(cols)

    out_schema = (f"{id_col} {dict(df.dtypes)[id_col]}, " +
                  ", ".join(f"code_{j} bigint" for j in range(m)))
    return (df.select(F.col(id_col), as_double_array(vec_col).alias(vec_col))
            .mapInPandas(run, out_schema))


def ivfpq_topk(candidates: DataFrame, query: DataFrame, k: int,
               coarse_centroids: DataFrame, codebooks: list[DataFrame],
               nprobe: int = 2, dim: int = 64, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """EXT (R108): IVF-PQ search with asymmetric distance computation
    (ADC) — the composition that makes billion-vector ANN tractable:
    coarse cells bound WHICH vectors are scored (``nprobe`` of the
    trained cells), PQ codes bound HOW MUCH each score costs (m map
    lookups instead of a dim-component distance; raw vectors never
    touched at query time).

    The query builds one m×k lookup table driver-side (lut[j][cell] =
    :func:`_sq_l2` between the query's subvector j and that codebook
    centroid) and embeds it as literal codegen maps: scoring a candidate is
    m ``map[code_j]`` lookups + a fixed-order sum, rounded to 6 dp for
    rank stability. No Python, no shuffle in the scoring path; the only
    joins key on the candidate id and the tiny probed-cell set. In a
    deployment the cell assignment and codes are precomputed columns;
    here they derive on the fly from the passed index frames. A query
    frame with no rows, or an empty codebook, returns no rows."""
    import numpy as np

    qv_arr = as_double_array(vec_col)
    q_rows = query.select(qv_arr.alias("__q")).collect()
    books = [_centroid_matrix(book) for book in codebooks]
    if not q_rows or any(not len(cells) for cells, _ in books):
        return candidates.select(
            F.col(id_col), F.lit(None).cast("double").alias("adc")).limit(0)
    qv = np.array([q_rows[0]["__q"]], dtype=np.float64)     # (1, dim)
    assign = kmeans_assign(candidates, coarse_centroids, id_col, vec_col)
    qcells = (query.select(qv_arr.alias("__q"))
              .crossJoin(F.broadcast(coarse_centroids))
              .withColumn("__d2", _l2sq(F.col("__q"), F.col("cvec")))
              .orderBy(F.col("__d2").asc(), F.col("cell").asc())
              .limit(nprobe).select("cell"))
    codes = pq_encode(candidates, codebooks, dim, id_col, vec_col)
    m = len(codebooks)
    sub = dim // m
    terms = []
    for j, (cells, cmat) in enumerate(books):
        lut = _sq_l2(qv[:, j * sub:(j + 1) * sub], cmat)[0]
        entries = [F.lit(x) for pair in zip(cells.tolist(), lut.tolist())
                   for x in pair]
        terms.append(F.create_map(*entries)[F.col(f"code_{j}")])
    adc = terms[0]
    for t in terms[1:]:
        adc = adc + t
    probe = (codes.join(assign, id_col)
             .join(F.broadcast(qcells), "cell"))
    return (probe.select(F.col(id_col), F.round(adc, 6).alias("adc"))
            .orderBy(F.col("adc").asc(), F.col(id_col).asc())
            .limit(k))


def _moment_row(df: DataFrame, vec_col: str, dims: int,
                scale: int) -> DataFrame:
    """ONE-row frame of exact decimal(38,0) moments over the first
    ``dims`` quantized components: __n, __s{i} = Σxᵢ, __p{i}_{j} = Σxᵢxⱼ
    for i ≤ j. Shared by ``cov_block`` and ``top_pc_power`` — every
    second-moment consumer is one partial-agg pass over this row."""
    # r12 (guide §1/§5 — the driver does no data work): the former
    # per-column `F.xxx` builds cost one py4j round-trip per Column
    # call — ~1.3 s of pure driver time for the dims=8 moment set
    # (45 aggregates × expression-tree depth), re-paid on EVERY build
    # at ANY cluster scale. One selectExpr call parses the whole list
    # JVM-side; SQL `+`/`*` are left-associative, so every fold keeps
    # the exact operand order of the Column form (probed bit-identical
    # on the consumers).
    xs = [f"cast(round(element_at(cast(`{vec_col}` as array<double>), "
          f"{i + 1}) * {scale}) as decimal(38,0)) as __x{i}"
          for i in range(dims)]
    base = df.where(f"size(`{vec_col}`) >= {dims}").selectExpr(*xs)
    aggs = (["cast(count(1) as decimal(38,0)) as __n"]
            + [f"sum(__x{i}) as __s{i}" for i in range(dims)]
            + [f"sum(__x{i} * __x{j}) as __p{i}_{j}"
               for i in range(dims) for j in range(i, dims)])
    return base.selectExpr(*aggs)


def cov_block(df: DataFrame, vec_col: str, dims: int = 8,
              scale: int = 10_000) -> DataFrame:
    """EXT (R118): exact covariance block over the first ``dims``
    components of an embedding column — the aggregation half of
    distributed PCA. Returns (i, j, n, cov) for every 0-based pair
    i ≤ j (j==i rows are the variances). Full PCA at scale is exactly
    this shape: the d×d covariance accumulates in ONE partial-agg pass
    (d² sums fold map-side; nothing but the single moment row ever
    reaches the driver), the driver eigendecomposes the tiny d×d matrix,
    and the projection back onto the corpus is a broadcast map — the
    corpus is scanned twice, shuffled never.

    Engine-invariance discipline (same as ``corr_matrix``): components
    quantize to ``scale`` ticks (float32 → double widening is exact, and
    v·10⁴ can never land exactly on .5, so round() agrees everywhere);
    moments n, Σxᵢ, Σxᵢxⱼ accumulate in decimal(38,0); the final
        cov = (n·Σxᵢxⱼ − Σxᵢ·Σxⱼ) / (n²·scale²)
    is one exact-integer numerator/denominator pair cast to double for a
    single divide, rounded 10dp. Vectors shorter than ``dims`` are
    excluded (their missing components would otherwise skew the moments).
    """
    one = _moment_row(df, vec_col, dims, scale)
    # r12 (guide §5): the whole cell grid parses in ONE selectExpr call —
    # the per-cell Column build cost ~0.5 s of driver py4j round-trips
    # per plan build (see _moment_row). Same expression tree: exact
    # decimal numerator, one double divide, ROUND-10.
    den = f"cast(__n * __n * cast({scale * scale} as decimal(38,0)) as double)"
    cells = ", ".join(
        f"named_struct('i', {i}, 'j', {j}, 'n', cast(__n as bigint), "
        f"'cov', round(cast(__n * __p{i}_{j} - __s{i} * __s{j} as double)"
        f" / {den}, 10))"
        for i in range(dims) for j in range(i, dims))
    # ONE explode over the single moment row (the corr_matrix discipline:
    # per-cell selects would clone the whole aggregation subtree)
    return (one.selectExpr(f"explode(array({cells})) as __c")
            .select("__c.i", "__c.j", "__c.n", "__c.cov"))


def top_pc_power(df: DataFrame, vec_col: str, dims: int = 8,
                 scale: int = 10_000) -> DataFrame:
    """EXT (R121): top-principal-component estimate by TWO unnormalized
    power-iteration steps over the exact integer moment matrix — the
    iterative-linear-algebra-as-one-declarative-plan counterpart of
    ``cov_block``. Returns one row per component: (i, loading,
    eigenvalue), where loading is the i-th entry of M²·1 normalized to
    unit length and eigenvalue ≈ ‖M²·1‖/‖M·1‖ rescaled to covariance
    units (M = n²·scale²·Cov, PSD, so the unnormalized iteration drifts
    toward the dominant eigenvector).

    Engine-invariance: M's cells are the exact decimal(38,0) numerators
    n·Σxᵢxⱼ − Σxᵢ·Σxⱼ, and both matrix-vector products stay in decimal —
    EXACT, partition/add-order free (v2 magnitudes bound by d²·(n·scale²·
    n)² ≈ 10²⁹ for n=500, inside decimal(38,0); at 10⁹-row scale a
    production variant would normalize per step in float and give up
    bit-parity). The only float ops are the final fixed-order norm sums,
    two sqrts and divides — one IEEE expression the DuckDB oracle
    evaluates identically. Plan shape: ONE partial-agg pass over the
    corpus (the shared ``_moment_row``), then pure single-row expression
    algebra — no shuffle, no driver round-trip, no iteration jobs."""
    one = _moment_row(df, vec_col, dims, scale)

    # r12 (guide §5): this plan build was 2.8 s of the key's 3.3 s wall
    # — pure driver-side py4j round-trips from ~dims² Column-object
    # arithmetic, paid on every build at any cluster scale. The whole
    # expression set now parses in three selectExpr calls. SQL `+`/`*`/
    # `/` are left-associative, so every fold keeps the exact operand
    # order of the former reduce(add, ...) Column form (output probed
    # bit-identical).
    def m(i: int, j: int) -> str:
        a, b = (i, j) if i <= j else (j, i)
        return f"(__n * __p{a}_{b} - __s{a} * __s{b})"

    s1 = one.selectExpr(
        "*", *[" + ".join(m(k, j) for k in range(dims)) + f" as __v1_{j}"
               for j in range(dims)])
    s2 = s1.selectExpr(
        "*", *[" + ".join(f"{m(i, j)} * __v1_{j}" for j in range(dims))
               + f" as __v2_{i}" for i in range(dims)])
    dbl = lambda c: f"cast({c} as double)"  # noqa: E731
    n2v1 = " + ".join(f"{dbl(f'__v1_{j}')} * {dbl(f'__v1_{j}')}"
                      for j in range(dims))
    n2v2 = " + ".join(f"{dbl(f'__v2_{i}')} * {dbl(f'__v2_{i}')}"
                      for i in range(dims))
    den = f"cast(__n * __n * cast({scale * scale} as decimal(38,0)) as double)"
    rows = ", ".join(
        f"named_struct('i', {i}, "
        f"'loading', round({dbl(f'__v2_{i}')} / sqrt({n2v2}), 6), "
        f"'eigenvalue', round(sqrt({n2v2}) / sqrt({n2v1}) / {den}, 8))"
        for i in range(dims))
    return (s2.selectExpr(f"explode(array({rows})) as __r")
            .select("__r.i", "__r.loading", "__r.eigenvalue"))


def sq8_error_report(df: DataFrame, vec_col: str,
                     dims: int = 8) -> DataFrame:
    """EXT (R131): scalar (int8) quantization — the OTHER standard ANN
    memory lever next to PQ: per-dimension affine [min, max] → 0..255
    codes (4× smaller than float32, no training loop, exact nearest-tick
    reconstruction bound). Returns one row per dimension: (i, n, lo, hi,
    mse) — the quantization-error evidence a deployment reads before
    choosing SQ8 vs PQ vs raw.

    Two passes, like any SQ deployment: a stats pass (per-dim min/max —
    ONE tiny aggregate that broadcasts back) and an encode pass (pure
    map-side arithmetic). Engine-invariance: min/max select EXISTING
    float32-widened values (bit-exact); code/reconstruction/error are a
    fixed IEEE expression chain; the mean-squared error accumulates as
    exact integer TICKS (err·10¹² rounded) so the cross-partition sum is
    order-free — a raw float Σerr² would differ run to run. Constant
    dimensions (hi == lo) quantize to code 0 with zero error (the CASE
    guard also keeps ANSI double/0.0 from raising)."""
    # r12 (guide §5): the tick/cell expression grids parse in ONE
    # selectExpr call each instead of ~dims × tree-depth py4j
    # round-trips per plan build (~0.8 s of pure driver time — the
    # top_pc_power class, fixed this round). Literal spelling notes:
    # `255.0D`/`0.0D` keep the DOUBLE type of the former F.lit floats
    # (bare `255.0` parses as DECIMAL in Spark SQL) and `1E12` is a
    # DOUBLE literal; the expression trees are otherwise identical
    # (output probed bit-identical).
    xs = [f"element_at(cast(`{vec_col}` as array<double>), {i + 1}) "
          f"as __x{i}" for i in range(dims)]
    base = df.where(f"size(`{vec_col}`) >= {dims}").selectExpr(*xs)
    stats = base.selectExpr(*[s for i in range(dims) for s in
                              (f"min(__x{i}) as __mn{i}",
                               f"max(__x{i}) as __mx{i}")])
    enc = base.crossJoin(F.broadcast(stats))
    ticks = []
    for i in range(dims):
        x, mn, mx = f"__x{i}", f"__mn{i}", f"__mx{i}"
        scale = f"(({mx} - {mn}) / 255.0D)"
        code = (f"(case when {mx} > {mn} then "
                f"round(({x} - {mn}) / {scale}) else 0.0D end)")
        xhat = f"({mn} + {code} * {scale})"
        err = f"(({x} - {xhat}) * ({x} - {xhat}))"
        ticks.append(f"cast(round({err} * 1E12) as bigint) as __t{i}")
    mnmx = ([f"__mn{i}" for i in range(dims)]
            + [f"__mx{i}" for i in range(dims)])
    agg = (enc.selectExpr(*ticks, *mnmx)
           .groupBy(*mnmx)
           .agg(F.expr("count(1)").alias("__n"),
                *[F.expr(f"sum(__t{i})").alias(f"__s{i}")
                  for i in range(dims)]))
    cells = ", ".join(
        f"named_struct('i', {i}, 'n', cast(__n as bigint), "
        f"'lo', __mn{i}, 'hi', __mx{i}, "
        f"'mse', cast(__s{i} as double) / cast(__n as double) / 1E12)"
        for i in range(dims))
    return (agg.selectExpr(f"explode(array({cells})) as __c")
            .select("__c.i", "__c.n", "__c.lo", "__c.hi", "__c.mse"))


def mutual_best_match(df: DataFrame, id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      max_id: int = 512) -> DataFrame:
    """EXT (R224, round 6): reciprocal best-match pairs — (i, j) where j
    is i's single nearest cosine neighbour AND i is j's. The mutual
    filter is the classic high-precision pairing device (bitext mining,
    record linkage, near-dup canonicalization): one-directional top-1
    lists are noisy at the tail, but a RECIPROCAL top-1 is almost
    always a true pair. Output: (vec_a, vec_b, cosine), a < b — each
    vector appears in at most one pair (a matching, by construction).

    Evaluated exactly on the ``id < max_id`` sample (the
    minhash-recall eval-on-a-sample contract: exact all-pairs truth is
    inherently quadratic); the mutual filter itself composes unchanged
    with any candidate generator — at fleet scale feed it LSH/IVF
    candidate pairs (R27/R34) instead of the exact pair grid.

    Exactness: the cosine fold is the sequential ``_dot`` (same
    element-order sum both engines); best-match ties break on
    (ROUND(cos, 6) DESC, id ASC) exactly as ``cosine_topk``; cosine is
    exactly symmetric (identical products, identical order), so the
    two directions agree bit-for-bit and the mutual join is
    well-defined.

    Scale shape (sample regime): one broadcast of the ≤ max_id-row
    side, map-side pair scoring, one WindowGroupLimit top-1 per id,
    and a self-join of best-match rows (≤ one row per id)."""
    sub = (sample_bounded(df.filter(F.col(id_col) < max_id), id_col)
             .select(F.col(id_col).alias("__id"),
                     as_double_array(vec_col).alias("__v")))
    # r11 (guide §4.2): the ≤max_id × ≤max_id scoring grid runs as ONE
    # map-side Arrow kernel (sequential-fold-exact cosine — see
    # cos_grid_pandas) instead of a nested-loop join evaluating
    # interpreted aggregate/zip_with folds per pair; the per-side norm
    # hoist is preserved inside the kernel (dot / (n_a · n_b)).
    pairs = cos_grid_pandas(
        sub, sub.select(F.col("__id").alias("__jd"),
                        F.col("__v").alias("__q")),
        lid="__id", qid="__jd", vec="__v", qvec="__q",
        exclude_self=True, out="__cos")
    w = Window.partitionBy("__id").orderBy(
        F.round("__cos", 6).desc(), F.col("__jd").asc())
    best = (pairs.withColumn("__rn", F.row_number().over(w))
                 .filter(F.col("__rn") == 1).drop("__rn"))
    x, y = best.alias("x"), best.alias("y")
    return (x.join(y, (F.col("x.__jd") == F.col("y.__id"))
                      & (F.col("y.__jd") == F.col("x.__id")))
             .filter(F.col("x.__id") < F.col("x.__jd"))
             .select(F.col("x.__id").alias("vec_a"),
                     F.col("x.__jd").alias("vec_b"),
                     F.round("x.__cos", 4).alias("cosine")))


def dim_truncation_report(candidates: DataFrame, queries: DataFrame,
                          dims: tuple = (64, 32, 16, 8), k: int = 10,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          anchor_cap: int = EVAL_ANCHOR_CAP) -> DataFrame:
    """EXT (round 6): dimension-truncation retrieval report — for each
    truncated prefix width d, how much of the FULL-dimension cosine
    top-k survives when scoring on only the first d components
    (matryoshka-style). PQ/SQ8 (R107/R131) trade memory via
    quantization; prefix truncation is the other axis — this report is
    the "how many dims can we drop" decision table, read before
    shipping a half-width index.

    Per (query, d): top-k by cosine over the d-prefix (ROUND-6 desc,
    id asc — the `cosine_topk` tie rule; the query's own vector stays
    in the pool and matches itself in every width, uniformly shifting
    all overlaps). Overlap@k vs the max-width set is an exact integer
    n∩·10⁶ DIV k; the cross-query mean is integer DIV then one exact
    double divide (the R255 no-ROUND discipline). Output: one row per
    truncated width.

    Scale: queries broadcast, scoring map-side (len(dims) codegen
    folds per pair), one WindowGroupLimit per (query, width), and the
    overlap join is k-rows-per-query-sized. ``queries`` is truncated
    to the ``anchor_cap`` smallest ids (default
    :data:`EVAL_ANCHOR_CAP`) — the corpus-independent grid bound."""
    full = max(dims)
    # r11 (guide §4.2): ALL widths score in ONE map-side Arrow pass —
    # the kernel's running dot/norm accumulators at j = d are exactly
    # the per-width prefix folds the slice expressions computed, so the
    # len(dims) interpreted folds per pair collapse into a single
    # vectorized sweep (see cos_grid_pandas widths mode).
    qdf = sample_bounded(queries, id_col, cap=anchor_cap).select(
        F.col(id_col).alias("__qid"),
        as_double_array(vec_col).alias("__q"))
    cand = candidates.select(F.col(id_col).alias("__id"),
                             as_double_array(vec_col).alias("__v"))
    stacked = cos_grid_pandas(cand, qdf, lid="__id", qid="__qid",
                              widths=tuple(dims), width_col="__d",
                              out="__cos")
    w = Window.partitionBy("__qid", "__d").orderBy(
        F.round(F.col("__cos"), 6).desc(), F.col("__id").asc())
    top = (stacked.withColumn("__rn", F.row_number().over(w))
           .filter(F.col("__rn") <= k)
           .select("__qid", "__d", "__id"))
    base = (top.filter(F.col("__d") == full)
            .select(F.col("__qid").alias("__bq"),
                    F.col("__id").alias("__bi")))
    # LEFT join + conditional count, not a semi join: a query whose
    # truncated top-k overlaps NOTHING must still contribute a 0 row
    # to the mean, not vanish from it
    overlaps = (top.filter(F.col("__d") != full)
                .join(base.withColumn("__hit", F.lit(1)),
                      (F.col("__qid") == F.col("__bq"))
                      & (F.col("__id") == F.col("__bi")), "left")
                .groupBy("__qid", "__d")
                .agg(F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                     .alias("__n")))
    per_q = overlaps.select(
        "__d", F.expr(f"__n * 1000000 DIV {k}").alias("__om"))
    return (per_q.groupBy("__d")
            .agg(F.count(F.lit(1)).cast("long").alias("n_queries"),
                 (F.expr("SUM(__om) DIV COUNT(*)").cast("double")
                  / F.lit(1_000_000.0)).alias("mean_overlap"))
            .select(F.col("__d").cast("long").alias("dims"),
                    "n_queries", "mean_overlap"))


def kmeans_label_quality(df: DataFrame, k: int = 8, n_iter: int = 2,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         label_col: str = "label", dim: int = 64,
                         round_dp: int = 6) -> DataFrame:
    """EXT (round 6): clustering-vs-labels quality report — train the
    deterministic k-means (the IVF trainer), assign the corpus, and
    score the cells against ground-truth labels: purity (the
    majority-label fraction) and NMI (2·I(C;L)/(H(C)+H(L))). The
    "did the embedding space actually learn the taxonomy" eval —
    read before trusting SemDeDup cells or IVF routing on a new
    embedding model.

    Purity is an exact integer ratio (Σ per-cell max label count / n,
    one division). The NMI entropies are per-cell float terms over the
    CONTINGENCY table (≤ k·|labels| rows — grid-sized, the JSD
    float-sum tolerance class), each a fixed expression of integer
    counts, summed then rounded 6dp. ONE output row:
    (n, k_cells, n_labels, purity, nmi).

    Scale: training is the kmeans_fit loop (broadcast assign, one
    update shuffle per iteration); the eval adds one (cell, label)
    hash agg and grid-sized arithmetic."""
    cents = kmeans_fit(df, k=k, n_iter=n_iter, id_col=id_col,
                       vec_col=vec_col, dim=dim, round_dp=round_dp)
    # r11 (guide §2.4): carry the label through the assign kernel —
    # the contingency table aggregates the map-side output directly
    # instead of shuffle-joining (id, cell) back to the corpus.
    assigned = (kmeans_assign(df, cents, id_col, vec_col,
                              carry_cols=(label_col,))
                .withColumnRenamed(label_col, "__l"))
    cont = (assigned
            .groupBy("cell", "__l")
            .agg(F.count(F.lit(1)).cast("long").alias("__nij")))
    cm = (cont.select(F.col("cell").alias("__cc"), F.col("__nij"))
          .groupBy("__cc").agg(F.sum("__nij").alias("__ni"),
                               F.max("__nij").alias("__mx")))
    lm = (cont.select(F.col("__l").alias("__ll"), F.col("__nij"))
          .groupBy("__ll").agg(F.sum("__nij").alias("__nj")))
    tot = F.broadcast(cont.agg(F.sum("__nij").alias("__n"),
                               F.countDistinct("cell").alias("__kc"),
                               F.countDistinct("__l").alias("__nl")))
    nd = F.col("__n").cast("double")
    mi_term = (F.col("__nij").cast("double") / nd
               * F.log(nd * F.col("__nij").cast("double")
                       / (F.col("__ni").cast("double")
                          * F.col("__nj").cast("double"))))
    mi = (cont.join(F.broadcast(cm), F.col("cell") == F.col("__cc"))
          .join(F.broadcast(lm), F.col("__l") == F.col("__ll"))
          .crossJoin(tot)
          .agg(F.sum(mi_term).alias("__mi")))
    hc = (cm.crossJoin(tot)
          .agg(F.sum(-(F.col("__ni").cast("double") / nd)
                     * F.log(F.col("__ni").cast("double") / nd))
               .alias("__hc"),
               F.sum(F.col("__mx")).cast("long").alias("__pur_num")))
    hl = (lm.crossJoin(tot)
          .agg(F.sum(-(F.col("__nj").cast("double") / nd)
                     * F.log(F.col("__nj").cast("double") / nd))
               .alias("__hl")))
    return (tot.crossJoin(F.broadcast(mi.select("__mi")))
            .crossJoin(F.broadcast(hc))
            .crossJoin(F.broadcast(hl))
            .select(F.col("__n").cast("long").alias("n"),
                    F.col("__kc").cast("long").alias("k_cells"),
                    F.col("__nl").cast("long").alias("n_labels"),
                    F.round(F.col("__pur_num").cast("double") / nd,
                            round_dp).alias("purity"),
                    F.round(F.when(F.col("__hc") + F.col("__hl") > 0,
                                   F.lit(2.0) * F.col("__mi")
                                   / (F.col("__hc") + F.col("__hl")))
                            .otherwise(F.lit(0.0)), round_dp)
                    .alias("nmi")))


def ivf_nprobe_curve(candidates: DataFrame, queries: DataFrame,
                     nprobes: tuple = (1, 2, 4), k: int = 10,
                     k_cells: int = 8, n_iter: int = 2, dim: int = 64,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     anchor_cap: int = EVAL_ANCHOR_CAP) -> DataFrame:
    """EXT (round 6): IVF recall-vs-nprobe tuning curve — for each
    probe budget, mean recall@k of the trained-IVF search against
    brute-force truth AND the mean fraction of the corpus scanned.
    This is the table an ANN deployment is tuned from: pick the
    smallest nprobe whose recall clears the product bar; `ivf_topk`
    answers one query at one setting, this sweeps the dial.

    One brute-force pass serves double duty: the (query, candidate)
    cosine grid is both the ground truth AND the scores re-ranked
    inside each probe subset, so the sweep adds no second scoring
    pass. Cells rank per query by exact L2 to the trained centroids
    (cell-id ties ascending); subset membership is `cellrank ≤
    nprobe`. Recall and scan fraction are integer micro-units with
    integer-DIV means (the R255 discipline).

    Scale: the grid is |queries|·|corpus| — queries are a sample by
    contract, truncated to the ``anchor_cap`` smallest ids (default
    :data:`EVAL_ANCHOR_CAP`, the corpus-independent grid bound);
    everything after is windowed per (query, nprobe)."""
    centroids = kmeans_fit(candidates, k=k_cells, n_iter=n_iter,
                           id_col=id_col, vec_col=vec_col, dim=dim)
    # r11 (guide §2.4): the assign kernel carries the vector, so the
    # scoring grid below builds straight on the map-side output — the
    # corpus (id, vec) ⋈ (id, cell) shuffle join is gone.
    assign = kmeans_assign(candidates, centroids, id_col, vec_col,
                           keep_vec=True)
    # r11: corpus size folds into the plan as a broadcast 1-row agg —
    # the standalone count() was a whole extra driver-sync job.
    n_corpus = F.broadcast(candidates.agg(
        F.count(F.lit(1)).alias("__ncorp")))
    q = (sample_bounded(queries, id_col, cap=anchor_cap)
         .select(F.col(id_col).alias("__qid"),
                 as_double_array(vec_col).alias("__q")))
    cellrank = (F.broadcast(q).crossJoin(F.broadcast(centroids))
                .withColumn("__d2", _l2sq(F.col("__q"), F.col("cvec")))
                .withColumn("__crk", F.row_number().over(
                    Window.partitionBy("__qid")
                    .orderBy(F.col("__d2").asc(), F.col("cell").asc())))
                .select(F.col("__qid").alias("__cq"), F.col("cell")
                        .alias("__cc"), "__crk"))
    # r11 (guide §4.2): the corpus × anchors scoring grid runs as ONE
    # map-side Arrow kernel (sequential-fold-exact cosine) instead of a
    # broadcast nested-loop join with interpreted folds per pair.
    pairs, _ = materialize(
        cos_grid_pandas(
            assign.select(F.col(id_col).alias("__id"),
                          F.col(vec_col).alias("__v"), F.col("cell")),
            q, lid="__id", qid="__qid", l_extra=("cell",),
            out="__cos")
        .join(F.broadcast(cellrank),
              (F.col("__qid") == F.col("__cq"))
              & (F.col("cell") == F.col("__cc")))
        .select("__qid", "__id", "__cos", "__crk"))
    wt = Window.partitionBy("__qid").orderBy(
        F.round(F.col("__cos"), 6).desc(), F.col("__id").asc())
    truth = (pairs.withColumn("__rn", F.row_number().over(wt))
             .filter(F.col("__rn") <= k)
             .select(F.col("__qid").alias("__tq"),
                     F.col("__id").alias("__ti"),
                     F.lit(1).alias("__hit")))
    nps = candidates.sparkSession.createDataFrame(
        [(int(n),) for n in nprobes], "nprobe long")
    sub = pairs.crossJoin(F.broadcast(nps)) \
               .filter(F.col("__crk") <= F.col("nprobe"))
    wk = Window.partitionBy("__qid", "nprobe").orderBy(
        F.round(F.col("__cos"), 6).desc(), F.col("__id").asc())
    topk = (sub.withColumn("__rn", F.row_number().over(wk))
            .filter(F.col("__rn") <= k))
    scanned = (sub.groupBy("__qid", "nprobe")
               .agg(F.count(F.lit(1)).alias("__nsub")))
    hits = (topk.join(truth, (F.col("__qid") == F.col("__tq"))
                      & (F.col("__id") == F.col("__ti")), "left")
            .groupBy(F.col("__qid").alias("__hq"),
                     F.col("nprobe").alias("__hn"))
            .agg(F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                 .alias("__hits")))
    per_q = (scanned.join(hits, (F.col("__qid") == F.col("__hq"))
                          & (F.col("nprobe") == F.col("__hn")))
             .crossJoin(n_corpus)
             .select("nprobe",
                     F.expr(f"__hits * 1000000 DIV {k}").alias("__rm"),
                     F.expr("__nsub * 1000000 DIV __ncorp")
                     .alias("__fm")))
    return (per_q.groupBy("nprobe")
            .agg(F.count(F.lit(1)).cast("long").alias("n_queries"),
                 (F.expr("SUM(__rm) DIV COUNT(*)").cast("double")
                  / F.lit(1e6)).alias("mean_recall"),
                 (F.expr("SUM(__fm) DIV COUNT(*)").cast("double")
                  / F.lit(1e6)).alias("mean_scan_frac")))


def label_noise_knn(candidates: DataFrame, queries: DataFrame,
                    k: int = 5, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    label_col: str = "label",
                    round_dp: int = 6,
                    anchor_cap: int = EVAL_ANCHOR_CAP) -> DataFrame:
    """EXT (round 6): kNN label-noise screen — for each checked vector,
    the majority label among its k nearest neighbours (cosine, self
    excluded); a vector whose own label loses that vote is a mislabel
    suspect. The standard confident-learning-style pre-filter before
    training on labeled embeddings. Output per label: (label,
    n_checked, n_suspect, suspect_rate).

    Neighbour rank = (cos ROUND-6 desc, id asc) — the corpus tie rule;
    majority = count desc then LABEL ASC (deterministic even on vote
    ties). Scale: queries are a sample by contract, truncated to the
    ``anchor_cap`` smallest ids (default :data:`EVAL_ANCHOR_CAP`, the
    corpus-independent grid bound); scoring is the broadcast map-side
    grid, then one WindowGroupLimit and two grid-sized aggs."""
    # r11 (guide §4.2): the anchors × corpus scoring grid runs as ONE
    # map-side Arrow kernel (sequential-fold-exact cosine, per-side norm
    # hoist preserved inside — see cos_grid_pandas) instead of a
    # broadcast nested-loop join with interpreted folds per pair.
    q = (sample_bounded(queries, id_col, cap=anchor_cap)
         .select(F.col(id_col).alias("__qid"),
                 F.col(label_col).alias("__ql"),
                 as_double_array(vec_col).alias("__q")))
    pairs = cos_grid_pandas(
        candidates.select(F.col(id_col).alias("__id"),
                          F.col(label_col).alias("__l"),
                          as_double_array(vec_col).alias("__v")),
        q, lid="__id", qid="__qid", l_extra=("__l",), q_extra=("__ql",),
        exclude_self=True, out="__cos")
    wn = Window.partitionBy("__qid").orderBy(
        F.round(F.col("__cos"), 6).desc(), F.col("__id").asc())
    nn = (pairs.withColumn("__rn", F.row_number().over(wn))
          .filter(F.col("__rn") <= k))
    votes = (nn.groupBy("__qid", "__ql", "__l")
             .agg(F.count(F.lit(1)).alias("__c")))
    wv = Window.partitionBy("__qid").orderBy(
        F.col("__c").desc(), F.col("__l").asc())
    winner = (votes.withColumn("__vr", F.row_number().over(wv))
              .filter(F.col("__vr") == 1))
    return (winner.groupBy(F.col("__ql").alias(label_col))
            .agg(F.count(F.lit(1)).cast("long").alias("n_checked"),
                 F.sum(F.when(F.col("__l") != F.col("__ql"), 1)
                       .otherwise(0)).cast("long").alias("n_suspect"))
            .withColumn("suspect_rate",
                        F.round(F.col("n_suspect").cast("double")
                                / F.col("n_checked").cast("double"),
                                round_dp)))


def embedding_norm_profile(df: DataFrame, id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           label_col: str = "label") -> DataFrame:
    """EXT (round 6): embedding-norm health profile per label — exact
    micro-unit norm quartiles + IQR (via the R268 per-group exact
    quantile device) and the count of degenerate near-zero vectors.
    The first thing to read on a new embedding dump: a label whose
    norm IQR collapses (all-same vector), or any near-zero rows
    (failed encodes), poisons cosine math downstream.

    Norms quantize to integer micro-units (round(‖v‖·10⁶)) so the
    quartile machinery stays integer-exact; the codegen fold computes
    ‖v‖ in the same element order as the oracle's list ops."""
    from .analytics import group_quartiles

    norm_micro = F.round(_norm(as_double_array(vec_col)) * 1_000_000) \
                  .cast("long")
    base = df.select(F.col(label_col), norm_micro.alias("__nm"))
    quarts = group_quartiles(base, label_col, F.col("__nm"),
                             out_prefix="norm_q")
    zeros = (base.groupBy(F.col(label_col).alias("__lz"))
             .agg(F.sum(F.when(F.col("__nm") < 1, 1).otherwise(0))
                  .cast("long").alias("n_near_zero")))
    return (quarts.join(zeros, F.col(label_col) == F.col("__lz"))
            .select(label_col, "n", "norm_q1", "norm_q2", "norm_q3",
                    "iqr", "n_near_zero"))


def label_margin(candidates: DataFrame, queries: DataFrame,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 label_col: str = "label",
                 anchor_cap: int = EVAL_ANCHOR_CAP) -> DataFrame:
    """EXT (round 6): label-margin report (silhouette-lite) — per
    label: mean cosine of sampled members to OTHER members of their
    label vs to everything else, and the margin between the two. The
    separability number behind `cluster_quality`'s purity and
    `label_noise_knn`'s suspects: a label whose margin ~0 is not a
    cluster, whatever its name says.

    Float discipline: each pairwise cosine quantizes to integer
    micro-units; intra/inter means are integer sums with the R255
    integer-DIV mean — no float accumulation anywhere. Self-pairs are
    excluded. Scale: |queries|·|corpus| map-side grid (queries a
    sample by contract, truncated to the ``anchor_cap`` smallest ids —
    default :data:`EVAL_ANCHOR_CAP`, the corpus-independent grid
    bound), one label-grain agg."""
    # r11 (guide §4.2): the anchors × corpus grid scores in ONE map-side
    # Arrow kernel (sequential-fold-exact cosine); the micro-unit ROUND
    # stays a Spark expression on the kernel's double, so the HALF_UP
    # quantization is byte-identical to the fold form.
    q = (sample_bounded(queries, id_col, cap=anchor_cap)
         .select(F.col(id_col).alias("__qid"),
                 F.col(label_col).alias("__ql"),
                 as_double_array(vec_col).alias("__q")))
    pairs = (cos_grid_pandas(
                 candidates.select(F.col(id_col).alias("__id"),
                                   F.col(label_col).alias("__l"),
                                   as_double_array(vec_col).alias("__v")),
                 q, lid="__id", qid="__qid", l_extra=("__l",),
                 q_extra=("__ql",), exclude_self=True, out="__cos")
             .select(F.col("__ql"),
                     (F.col("__l") == F.col("__ql")).alias("__same"),
                     F.round(F.col("__cos") * 1_000_000).cast("long")
                      .alias("__cm")))
    agg = pairs.groupBy(F.col("__ql").alias(label_col)).agg(
        F.sum(F.when(F.col("__same"), 1).otherwise(0)).cast("long")
         .alias("__ni"),
        F.coalesce(F.sum(F.when(F.col("__same"), F.col("__cm"))),
                   F.lit(0)).cast("long").alias("__si"),
        F.sum(F.when(~F.col("__same"), 1).otherwise(0)).cast("long")
         .alias("__nx"),
        F.coalesce(F.sum(F.when(~F.col("__same"), F.col("__cm"))),
                   F.lit(0)).cast("long").alias("__sx"))
    # cosines are signed and Spark's DIV truncates toward zero while
    # DuckDB's // floors — shift by +1e6 per term (cos+1 >= 0) so both
    # integer means run on non-negative sums, then unshift
    intra = F.when(F.col("__ni") > 0,
                   (F.expr("(__si + __ni * 1000000) DIV __ni")
                    - F.lit(1_000_000)).cast("double") / 1e6)
    inter = F.when(F.col("__nx") > 0,
                   (F.expr("(__sx + __nx * 1000000) DIV __nx")
                    - F.lit(1_000_000)).cast("double") / 1e6)
    return agg.select(
        label_col,
        F.col("__ni").alias("n_intra_pairs"),
        F.col("__nx").alias("n_inter_pairs"),
        intra.alias("mean_intra_cos"),
        inter.alias("mean_inter_cos"),
        (intra - inter).alias("margin"))


def hard_negatives(candidates: DataFrame, queries: DataFrame,
                   band: tuple = (0.3, 0.7), k: int = 3,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label",
                   anchor_cap: int = EVAL_ANCHOR_CAP) -> DataFrame:
    """EXT (round 6): hard-negative mining for contrastive training —
    per anchor, the top-``k`` WRONG-label candidates inside a cosine
    band (similar enough to teach, not so similar they're label
    noise; above the band lives R275's suspect territory, below it
    easy negatives R145 already samples by hash). Output one row per
    (anchor, rank): (anchor id, rank, negative id, cos_micro).

    Band membership tests on the micro-quantized cosine (integer
    compare — a raw float >= band edge is a cross-engine boundary
    risk); ranking is the corpus (cos desc, id asc) rule via
    WindowGroupLimit. Scale: broadcast anchor grid (anchors truncated
    to the ``anchor_cap`` smallest ids — default
    :data:`EVAL_ANCHOR_CAP`, the corpus-independent grid bound),
    map-side scoring, one per-anchor window."""
    lo, hi = int(band[0] * 1_000_000), int(band[1] * 1_000_000)
    # r11 (guide §4.2): anchors × corpus grid scores in ONE map-side
    # Arrow kernel (sequential-fold-exact cosine); micro-unit ROUND
    # stays a Spark expression for HALF_UP parity.
    q = (sample_bounded(queries, id_col, cap=anchor_cap)
         .select(F.col(id_col).alias("__qid"),
                 F.col(label_col).alias("__ql"),
                 as_double_array(vec_col).alias("__q")))
    scored = (cos_grid_pandas(
                  candidates.select(F.col(id_col).alias("__id"),
                                    F.col(label_col).alias("__l"),
                                    as_double_array(vec_col).alias("__v")),
                  q, lid="__id", qid="__qid", l_extra=("__l",),
                  q_extra=("__ql",), exclude_self=True, out="__cos")
              .filter(F.col("__l") != F.col("__ql"))
              .select("__qid", "__id",
                      F.round(F.col("__cos") * 1_000_000).cast("long")
                       .alias("__cm"))
              .filter((F.col("__cm") >= lo) & (F.col("__cm") <= hi)))
    w = Window.partitionBy("__qid").orderBy(F.col("__cm").desc(),
                                            F.col("__id").asc())
    return (scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .select(F.col("__qid").alias("anchor_id"),
                    F.col("__rn").cast("long").alias("rank"),
                    F.col("__id").alias("negative_id"),
                    F.col("__cm").alias("cos_micro")))


def cosine_histogram(candidates: DataFrame, queries: DataFrame,
                     n_bins: int = 20, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     round_dp: int = 6,
                     anchor_cap: int = EVAL_ANCHOR_CAP) -> DataFrame:
    """EXT (round 6): pairwise-cosine histogram — the corpus GEOMETRY
    fingerprint: sampled-pair cosines bucketed over [−1, 1]. The
    embedding-collapse / hubness early-warning the scalar metrics
    miss: a healthy space is a broad bell, a collapsed one a spike
    near 1, an anisotropic one sits shifted — read BEFORE trusting
    any cosine threshold (near-dup 0.95, hard-negative band, ...).

    Bucket ids are integer arithmetic on micro-cosines
    ((cm + 10⁶)·bins DIV (2·10⁶+1), clamped), counts exact, share a
    single division. Self-pairs excluded. ``queries`` is truncated to
    the ``anchor_cap`` smallest ids (default :data:`EVAL_ANCHOR_CAP`)
    — the corpus-independent bound on the sampled-pair grid."""
    # r11 (guide §4.2): anchors × corpus grid scores in ONE map-side
    # Arrow kernel (sequential-fold-exact cosine); micro-unit ROUND
    # stays a Spark expression for HALF_UP parity.
    q = (sample_bounded(queries, id_col, cap=anchor_cap)
         .select(F.col(id_col).alias("__qid"),
                 as_double_array(vec_col).alias("__q")))
    pairs = (cos_grid_pandas(
                 candidates.select(F.col(id_col).alias("__id"),
                                   as_double_array(vec_col).alias("__v")),
                 q, lid="__id", qid="__qid", exclude_self=True,
                 out="__cos")
             .select(F.round(F.col("__cos") * 1_000_000).cast("long")
                      .alias("__cm")))
    bucket = F.least(
        F.lit(n_bins - 1),
        F.expr(f"(__cm + 1000000) * {n_bins} DIV 2000001")).cast("long")
    per = pairs.groupBy(bucket.alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"))
    tot = F.broadcast(per.agg(F.sum("n_pairs").alias("__t")))
    lo = (F.col("bin").cast("double") * 2.0 / n_bins) - 1.0
    return (per.crossJoin(tot)
            .select("bin",
                    F.round(lo, round_dp).alias("bin_lo"),
                    "n_pairs",
                    F.round(F.col("n_pairs").cast("double")
                            / F.col("__t").cast("double"), round_dp)
                    .alias("share")))
