"""Document chunking and sequence packing for LLM training pipelines (EXT
mandate — the step between a cleaned corpus and a trainer's fixed-length
batches).

Two operators:

- ``chunk_tokens``: document → overlapping fixed-token-count chunks (the
  context-window slicing step; overlap preserves cross-boundary context for
  retrieval / next-token training).
- ``pack_sequences``: concat-and-cut packing — the corpus token stream, in
  deterministic document order, cut every ``capacity`` tokens into training
  sequences (documents may straddle sequence boundaries, exactly like GPT-
  style pretraining packing). Implemented as a distributed two-level prefix
  sum (``window.scan_tree``): per-bucket token totals (one small aggregate)
  feed bucket offsets, then a window PARTITIONED BY bucket computes
  within-bucket offsets — no global single-partition window over the
  corpus, so the plan scales: the only ordered pass is over
  ~n_docs/bucket_size bucket-total rows.

Everything is built-in-function codegen; nothing drops to Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import tokens
from .window import scan_tree


def chunk_tokens(df: DataFrame, id_col: str, text_col: str,
                 size: int = 32, overlap: int = 8) -> DataFrame:
    """Split each document into fixed-size token windows with overlap.

    Chunk ``i`` covers tokens ``[i*(size-overlap), i*(size-overlap)+size)``
    of the whitespace-lowercase token stream; the final chunk may be short.
    Documents with no tokens produce zero chunks (mirrors the UDTF split's
    NULL/blank → 0 rows convention). Pure per-row array arithmetic — no
    shuffle, no Python; chunk explosion multiplies rows ~len/(size-overlap).

    Returns ``id_col, chunk_id, n_tokens, chunk_text``.
    """
    if overlap >= size:
        raise ValueError(f"overlap ({overlap}) must be < size ({size})")
    step = size - overlap
    toks = tokens(text_col)
    starts = F.sequence(F.lit(0), F.size("__toks") - 1, F.lit(step))
    exploded = (df.select(F.col(id_col), toks.alias("__toks"))
                  .filter(F.size("__toks") > 0)
                  .select(id_col, "__toks",
                          F.posexplode(starts).alias("chunk_id", "__start")))
    chunk = F.slice(F.col("__toks"), F.col("__start") + 1, size)
    return exploded.select(
        id_col,
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(chunk).cast("int").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"))


def _doc_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(``__id``, ``__n``): each non-empty document's token count."""
    return (df.select(F.col(id_col).alias("__id"),
                      F.size(tokens(text_col)).cast("long").alias("__n"))
            .filter(F.col("__n") > 0))


def pack_sequences(df: DataFrame, id_col: str, text_col: str,
                   capacity: int = 512, bucket_size: int = 1024) -> DataFrame:
    """Concat-and-cut sequence packing index over the corpus token stream.

    Documents are laid end-to-end in ``id_col`` order and the stream is cut
    every ``capacity`` tokens; a document whose span crosses a cut
    contributes to both neighboring sequences. Returns one row per training
    sequence: ``seq_id, n_docs`` (documents overlapping the sequence) and
    ``n_tokens`` (== capacity except the final sequence).

    Scale shape: global prefix sums are computed as bucket totals (one
    partial-agg shuffle down to ~n_docs/bucket_size rows) + an ordered
    window over those few bucket rows + a per-bucket window for
    within-bucket offsets — ``window.scan_tree``, so no window
    ever sees the whole corpus in one partition. ``id_col`` must be
    numeric; any dense or sparse ordering works (only its ORDER matters).
    """
    # exclusive offset: the inclusive running sum less the doc's own term
    placed = (scan_tree(_doc_tokens(df, id_col, text_col), "__id",
                        bucket_size, "__n")
              .withColumn("__off", F.col("__n_cum") - F.col("__n")))
    first_seq = F.expr(f"__off div {capacity}")
    last_seq = F.expr(f"(__off + __n - 1) div {capacity}")
    spans = placed.select(
        "__off", "__n",
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"))
    contrib = (F.least((F.col("seq_id") + 1) * capacity,
                       F.col("__off") + F.col("__n"))
               - F.greatest(F.col("seq_id") * capacity, F.col("__off")))
    return (spans.select("seq_id", contrib.alias("__c"))
            .groupBy("seq_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("__c").alias("n_tokens")))


def repetition_profile(df: DataFrame, id_col: str, text_col: str,
                       max_bigram_share: float = 0.18,
                       max_dup5_frac: float = 0.30,
                       min_unique_ratio: float = 0.20) -> DataFrame:
    """Gopher-style within-document repetition signals + keep flag.

    Per document over the whitespace-lowercase token stream:

    - ``unique_ratio``  — distinct tokens / tokens (low = repetitive);
    - ``top_bigram_share`` — occurrences of the most frequent bigram /
      total bigrams (high = a phrase loops);
    - ``dup5_frac``     — 1 − distinct 5-grams / total 5-grams (the
      fraction of 5-gram slots that are repeats);
    - ``keep``          — all three within thresholds (documents shorter
      than the n-gram need trivially pass that signal).

    Formulation: posexplode the token stream ONCE (the tokenizer runs one
    time per row in the Generate), build bigrams/5-grams with window
    ``lead`` over (doc, pos) — ONE hash shuffle on doc_id that the
    n-gram windows and every per-doc aggregate all reuse. An earlier
    array-HOF formulation (``transform(sequence, slice(tokens(...)))``)
    re-evaluated the regex tokenizer PER ELEMENT inside the interpreted
    lambda — ~25× slower at sf0.1 (the same pitfall SURVEY R20 records
    for signature kernels). Shuffle rows are (id, pos, short n-grams) —
    never document bodies. Ratios round to 6 dp (cross-engine float
    discipline; 6-dp ties round identically in Spark and DuckDB).
    """
    tok = (df.select(F.col(id_col),
                     F.posexplode(tokens(text_col)).alias("__pos", "__tok")))
    w = Window.partitionBy(id_col).orderBy("__pos")
    leads = [F.lead("__tok", i).over(w).alias(f"__t{i}") for i in range(1, 5)]
    g = tok.select(id_col, "__pos", "__tok", *leads).select(
        id_col, "__tok",
        F.when(F.col("__t1").isNotNull(),
               F.concat_ws(" ", "__tok", "__t1")).alias("__bg"),
        F.when(F.col("__t4").isNotNull(),
               F.concat_ws(" ", "__tok", "__t1", "__t2", "__t3", "__t4"))
         .alias("__g5"))

    base = g.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n"),
        F.countDistinct("__tok").alias("__du"),
        F.count("__bg").alias("__n2"),
        F.countDistinct("__g5").alias("__d5"),
        F.count("__g5").alias("__n5"))
    mode2 = (g.filter(F.col("__bg").isNotNull())
             .groupBy(id_col, "__bg").agg(F.count(F.lit(1)).alias("c"))
             .groupBy(id_col).agg(F.max("c").alias("__top2")))

    n2, n5 = F.col("__n2"), F.col("__n5")
    prof = (base.join(mode2, id_col, "left")
            .select(
                id_col,
                F.round(F.col("__du") / F.col("__n").cast("double"), 6)
                 .alias("unique_ratio"),
                F.round(F.when(n2 > 0, F.col("__top2") / n2.cast("double"))
                         .otherwise(F.lit(0.0)), 6).alias("top_bigram_share"),
                F.round(F.when(n5 > 0, 1.0 - F.col("__d5") / n5.cast("double"))
                         .otherwise(F.lit(0.0)), 6).alias("dup5_frac")))
    keep = ((F.col("unique_ratio") >= min_unique_ratio)
            & (F.col("top_bigram_share") <= max_bigram_share)
            & (F.col("dup5_frac") <= max_dup5_frac))
    return prof.withColumn("keep", keep)


def length_bucketed_batches(df: DataFrame, id_col: str, text_col: str,
                            batch_size: int = 32,
                            max_len: int = 4096) -> DataFrame:
    """EXT (R100): length-bucketed dynamic batching — the padding-waste
    killer for attention training. Sequences bucket by the power-of-2
    ceiling of their token count (1-2, 3-4, 5-8, ... capped at
    ``max_len``), order deterministically inside each bucket (length,
    then id — so near-equal lengths batch together), and cut into batches
    of ``batch_size``. Per (bucket, batch): member count, the batch's max
    length (its padded width), total real tokens, padded slots, and
    ``waste_tokens = padded - real`` — the number a data engineer tunes
    bucket granularity against.

    Scale shape: bucket assignment is map-side integer log2 arithmetic;
    the only window partitions by bucket (tens of partitions, each
    length-sorted — for corpora where one bucket dominates, raise the
    bucket resolution or sub-salt the window key); the report aggregates
    per (bucket, batch). Nothing Python, nothing driver-side."""
    docs = (df.select(F.col(id_col).alias("__id"),
                      F.size(tokens(text_col)).cast("long").alias("__n"))
            .filter(F.col("__n") > 0)
            .withColumn("__nc", F.least(F.col("__n"), F.lit(max_len)))
            # next power of two >= n, in EXACT integer arithmetic (float
            # log2/pow can straddle a ULP at exact powers and flip the
            # bucket): powers of two map to themselves, everything else to
            # 1 << bit_length(n)
            .withColumn("__bucket", F.when(
                F.expr("(__nc & (__nc - 1)) = 0"), F.col("__nc"))
                .otherwise(F.expr(
                    "CAST(shiftleft(1L, length(conv(__nc, 10, 2))) AS BIGINT)"))))
    w = Window.partitionBy("__bucket").orderBy(F.col("__nc").asc(),
                                               F.col("__id").asc())
    batched = (docs.withColumn("__rn", F.row_number().over(w))
               # `div`, not `/ + cast`: float division + cast truncates in
               # Spark but ROUNDS in a DuckDB CAST — integer division is
               # the only cross-engine-stable batch cut
               .withColumn("batch_id",
                           F.expr(f"CAST((__rn - 1) DIV {batch_size} "
                                  "AS BIGINT)")))
    return (batched.groupBy(F.col("__bucket").alias("bucket"), "batch_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_seqs"),
                 F.max("__nc").cast("long").alias("batch_width"),
                 F.sum("__nc").cast("long").alias("real_tokens"))
            .withColumn("padded_tokens",
                        (F.col("n_seqs") * F.col("batch_width")).cast("long"))
            .withColumn("waste_tokens",
                        (F.col("padded_tokens") - F.col("real_tokens"))
                        .cast("long")))


def shard_by_tokens(df: DataFrame, id_col: str, text_col: str,
                    n_shards: int = 8,
                    bucket_size: int = 1024) -> DataFrame:
    """EXT (R106): contiguous token-balanced shard assignment — the
    output-sharding step of a training-data pipeline (equal-WORK output
    files, not equal-row: a shard of long docs must not dwarf a shard of
    tweets). Documents keep ``id_col`` order; each is assigned to shard
    ``token_offset div ceil(total_tokens / n_shards)`` — every shard's
    token mass is within one document of the ideal, deterministic, and
    order-preserving (so shard k is a contiguous id range, cheap to
    re-read selectively).

    Scale shape: the global token offset reuses ``pack_sequences``'
    ``window.scan_tree`` (bucket totals shuffle down ~n/bucket_size
    rows, one ordered window over those bucket rows, a per-bucket window
    for within-bucket offsets) — no corpus-wide single-partition window;
    the total is a 1-row broadcast crossJoin. Returns (id, shard,
    n_tokens)."""
    docs = _doc_tokens(df, id_col, text_col)
    total = docs.agg(F.sum("__n").alias("__tot"))
    return (scan_tree(docs, "__id", bucket_size, "__n")
            .crossJoin(F.broadcast(total))
            .withColumn("__ss",
                        F.expr(f"(__tot + {n_shards - 1}) div {n_shards}"))
            .select(F.col("__id").alias(id_col),
                    F.expr("CAST((__n_cum - __n) div __ss AS BIGINT)")
                    .alias("shard"),
                    F.col("__n").cast("long").alias("n_tokens")))
