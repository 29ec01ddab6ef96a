"""Text-analysis operators for training-data pipelines (SURVEY §2.12 L4 +
EXT mandate: language-ID, quality scoring, token counting, fingerprinting).

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage codegen); nothing here drops to Python per row.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import materialize

# Tiny per-language stopword lists for the n-gram/stopword-ratio heuristic.
# Deliberately small: language ID at 100 TB must stay in codegen; a real
# deployment would swap in fastText via mapInPandas (see lang_id_pandas stub).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "was"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "se", "las"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "une"],
    "de": ["der", "die", "und", "das", "von", "zu", "den", "mit", "ist", "im"],
}


# The tokenizer's whitespace: RE2's \s, which the DuckDB oracles split on.
# Java's and Python's \s also match \x0B, so neither is spelled \s here.
_WS = r"[ \t\n\f\r]+"


def tokens(text_col: str) -> Column:
    """Whitespace tokenization as array<string> (empty tokens removed)."""
    return F.filter(F.split(F.lower(F.trim(F.col(text_col))), _WS), lambda t: t != "")


_WS_RE = re.compile(_WS)
# str.split() splits on _WS and on every character of this class
_PY_ONLY_WS = re.compile(
    "[\x0b\x1c-\x1f\x85\xa0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]")


def py_tokens(text) -> list[str]:
    """``tokens()`` for one value in Python, the tokenizer of every Arrow
    kernel: lower-case, split on ``[ \\t\\n\\f\\r]`` runs, drop empties;
    NULL gives no tokens. ``str.split()`` is the fast path (about 3x a
    regex split) for text with no other character Python treats as
    whitespace."""
    if text is None:
        return []
    t = str(text).lower()
    if _PY_ONLY_WS.search(t) is None:
        return t.split()
    return [x for x in _WS_RE.split(t) if x]


def token_count(text_col: str) -> Column:
    """L4: whitespace token count — ``size(split(...))`` in codegen."""
    return F.size(tokens(text_col))


def bpe_ish_token_count(text_col: str) -> Column:
    """Token count under a BPE-ish regex: splits words AND punctuation runs,
    approximating subword tokenizer output scale (cl100k-style pretokenizer:
    letter runs | digit runs | non-space-non-alnum runs)."""
    pieces = F.regexp_extract_all(F.col(text_col), F.lit(r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]+"), 0)
    return F.size(pieces)


def stopword_ratio(text_col: str, lang: str) -> Column:
    """Fraction of tokens that are stopwords of ``lang``."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    toks = tokens(text_col)
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def lang_id(df: DataFrame, text_col: str, out_col: str = "lang_pred",
            impl: str = "pandas") -> DataFrame:
    """EXT language-ID heuristic: argmax stopword-ratio across known
    languages, 'und' when nothing matches. (Reference has no language ID;
    mandated EXT.)

    ``impl="pandas"`` (default): Arrow-batched kernel — array-lambda
    expressions (filter/aggregate) execute interpreted, not codegen, so the
    Python kernel with identical integer-ratio arithmetic is faster AND
    hash-identical (verified against the same DuckDB oracle), NULL text
    included ('und'). ``impl="expr"``: the pure-JVM expression formulation."""
    if impl == "pandas":
        return _annotate_pandas(df, text_col, add_lang=out_col)
    scores = F.array(*[
        F.struct(stopword_ratio(text_col, lang).alias("score"), F.lit(lang).alias("lang"))
        for lang in STOPWORDS
    ])
    best = F.array_max(scores)
    return df.withColumn(
        out_col, F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")))


def quality_score(df: DataFrame, text_col: str, out_col: str = "quality",
                  impl: str = "pandas") -> DataFrame:
    """EXT quality scoring: length/punctuation/stopword signals combined into
    [0,1]. Mirrors common pretraining-corpus filters (C4/Gopher rules):
    - reasonable doc length (chars in [200, 50k])
    - mean token length in [3, 12]
    - punctuation-to-char ratio < 0.2
    - any-language stopword ratio > 0.05
    Each rule contributes 0.25. ``impl`` as in ``lang_id`` — the pandas
    kernel reproduces the arithmetic bit-exactly (ratios are int/int
    float64 divisions; scores are exact quarters), NULL text included
    (0 chars and no tokens score 0.25)."""
    if impl == "pandas":
        return _annotate_pandas(df, text_col, add_quality=out_col)
    toks = tokens(text_col)
    n_chars = F.length(F.col(text_col))
    n_toks = F.size(toks)
    mean_tok_len = F.when(n_toks > 0,
                          F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)) / n_toks
                          ).otherwise(F.lit(0.0))
    punct = F.length(F.regexp_replace(F.col(text_col), r"[A-Za-z0-9\s]", ""))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    any_sw = None
    for lang in STOPWORDS:
        r = stopword_ratio(text_col, lang)
        any_sw = r if any_sw is None else F.greatest(any_sw, r)
    score = (
        F.when((n_chars >= 200) & (n_chars <= 50000), 0.25).otherwise(0.0)
        + F.when((mean_tok_len >= 3) & (mean_tok_len <= 12), 0.25).otherwise(0.0)
        + F.when(punct_ratio < 0.2, 0.25).otherwise(0.0)
        + F.when(any_sw > 0.05, 0.25).otherwise(0.0)
    )
    return df.withColumn(out_col, F.round(score, 2))


def doc_fingerprint(text_col: str) -> Column:
    """EXT document fingerprint: order-sensitive rolling hash over tokens,
    fold-left ``h = (h*31 + tokhash(token)) mod M`` via F.aggregate (NB:
    HOF folds evaluate interpreted, not codegen — fine here, one cheap fold
    per row) with M = 2^31-1 so the fold never overflows long under ANSI.
    Distinguishes permuted documents (unlike bag-of-words hashes); companion
    to content-hash L1 (order-insensitive after normalization).

    tokhash = first 8 hex chars of sha256(token) as int — the repo's
    portable sha-bucket convention, engine-neutral and reproduced verbatim
    by the DuckDB conformance oracle (a ``list_reduce`` fold)."""
    m = F.lit((1 << 31) - 1).cast("long")

    def tok_hash(t):
        return F.conv(F.substring(F.sha2(t, 256), 1, 8), 16, 10).cast("long")

    return F.aggregate(
        tokens(text_col),
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(acc * F.lit(31).cast("long") + tok_hash(t), m),
    )


def _annotate_pandas(df: DataFrame, text_col: str,
                     add_lang: str | None = None,
                     add_quality: str | None = None) -> DataFrame:
    """Arrow-batched text annotation kernel shared by lang_id/quality_score.

    Arithmetic mirrors the expression formulation EXACTLY so the DuckDB
    oracles keep matching: stopword/punctuation ratios are int/int float64
    divisions; mean token length is Σlen/n; the lang argmax breaks ties by
    lexicographically greatest language (array_max struct semantics).
    Tokens come from ``py_tokens``; a NULL text has 0 chars and no tokens.
    """
    from collections.abc import Iterator

    import pandas as pd

    sw_sets = {lang: frozenset(ws) for lang, ws in STOPWORDS.items()}
    langs = list(STOPWORDS)
    punct_re = re.compile(r"[A-Za-z0-9\s]", re.ASCII)
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    extra = []
    if add_lang:
        extra.append(f"{add_lang} string")
    if add_quality:
        extra.append(f"{add_quality} double")
    out_schema = fields + ", " + ", ".join(extra)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lang_out, qual_out = [], []
            for text in pdf[text_col]:
                t = "" if text is None else str(text)
                toks = py_tokens(text)
                n = len(toks)
                ratios = {}
                for lang in langs:
                    hits = sum(1 for x in toks if x in sw_sets[lang])
                    ratios[lang] = hits / n if n > 0 else 0.0
                if add_lang:
                    best = max(ratios.values())
                    if best <= 0:
                        lang_out.append("und")
                    else:
                        lang_out.append(max(l for l in langs if ratios[l] == best))
                if add_quality:
                    n_chars = len(t)
                    mean_tok = (sum(len(x) for x in toks) / n) if n > 0 else 0.0
                    punct = len(punct_re.sub("", t))
                    punct_ratio = punct / n_chars if n_chars > 0 else 0.0
                    any_sw = max(ratios.values())
                    score = ((0.25 if 200 <= n_chars <= 50000 else 0.0)
                             + (0.25 if 3 <= mean_tok <= 12 else 0.0)
                             + (0.25 if punct_ratio < 0.2 else 0.0)
                             + (0.25 if any_sw > 0.05 else 0.0))
                    qual_out.append(round(score, 2))
            out = pdf.copy()
            if add_lang:
                out[add_lang] = lang_out
            if add_quality:
                out[add_quality] = qual_out
            yield out

    return df.mapInPandas(run, out_schema)


def text_stats(df: DataFrame, group_col: str, chars_col: str) -> DataFrame:
    """L4: corpus profile per group (language distribution + char stats) —
    single hash-agg pass, partial aggregation map-side."""
    return df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(chars_col), 2).alias("avg_chars"),
        F.min(chars_col).alias("min_chars"),
        F.max(chars_col).alias("max_chars"),
    )


def tfidf_top_terms(df: DataFrame, id_col: str, text_col: str,
                    k: int = 5) -> DataFrame:
    """L4 EXT: per-document top-k TF-IDF terms — (id, term, score).

    tf = term count within the doc, idf = ln(N / df) with N = docs having
    ≥1 token and df = docs containing the term; score = tf · idf rounded
    to 6 dp BEFORE ranking so the (score desc, term asc) order — and thus
    the selected row set — is reproducible across engines (raw float
    products differ in the last ulps between ln implementations).

    Scale shape: explode → ONE (id, term) hash agg; doc frequency and N
    both DERIVE from that tf table (its rows are already distinct (id,
    term) pairs), so the explode is evaluated once and the tf exchange
    is reused for every branch — df/N never re-scan the corpus. N rides
    as a broadcast 1-row frame (no driver collect); ranking is a per-doc
    window fed by ≤ |terms-per-doc| rows — never a global sort. Shuffles
    carry (id, term, count) rows, not document bodies.
    """
    toks = (df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term")))
    # materialize: three consumers (scores join, df, N) read the
    # materialized tf table — without it each branch re-runs the corpus
    # explode (column pruning makes the subtrees non-identical, so
    # exchange reuse can't dedupe them)
    tf, _ = materialize(
        toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = tf.agg(F.count_distinct(F.col(id_col)).alias("n"))
    scored = (tf.join(dfreq, "term")
              .crossJoin(F.broadcast(n))
              .withColumn("score", F.round(
                  F.col("tf").cast("double")
                  * F.log(F.col("n").cast("double")
                          / F.col("df").cast("double")), 6)))
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(),
                                           F.col("term").asc())
    return (scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .select(id_col, "term", "score"))


def token_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """L4 EXT: per-document token Shannon entropy (nats) — (id, n_tokens,
    entropy). H = -Σ (c/T)·ln(c/T) over the doc's token distribution;
    near-zero = repetitive boilerplate, the standard diversity filter for
    pretraining corpora. Rounded to 6 dp (parallel partial sums differ
    from a sequential oracle's in the last ulps).

    Scale: explode → (id, term) hash agg → (id) hash agg; both shuffles
    carry counted token rows, never bodies; docs with zero tokens drop
    (no distribution to measure)."""
    # materialize: both consumers (per-doc totals, the p·ln p join)
    # read the materialized (id, term, c) table instead of re-running
    # the corpus explode per branch
    tf, _ = materialize(
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("c")))
    tot = tf.groupBy(id_col).agg(F.sum("c").alias("t"))
    p = F.col("c").cast("double") / F.col("t")
    return (tf.join(tot, id_col)
            .groupBy(id_col, "t")
            .agg(F.round(-F.sum(p * F.log(p)), 6).alias("entropy"))
            .select(id_col, F.col("t").alias("n_tokens"), "entropy"))


def ngram_counts(df: DataFrame, text_col: str, n: int = 3,
                 k: int = 50) -> DataFrame:
    """L4 EXT: global top-k token n-grams — (ngram, n) corpus frequency
    table, the raw material for LM data statistics (boilerplate phrases,
    contamination fingerprints, stop-phrase lists). Explode → hash agg
    (map-side partial) → TakeOrderedAndProject; ties at the cut break on
    the ngram string so the selected set is deterministic. Shuffles
    (ngram, partial-count) pairs; at extreme scale swap the string for
    its sha bucket (see ``dedup.shingle_sha_rows``) and join back for
    display."""
    toks = tokens(text_col)
    cnt = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    grams = F.when(cnt <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(F.sequence(F.lit(1), cnt),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, n))))
    return (df.select(F.explode(grams).alias("ngram"))
            .groupBy("ngram").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("ngram").asc())
            .limit(k))


#: PII scrub patterns, applied IN ORDER (card before phone so a 16-digit
#: card is never half-eaten by the phone pattern). Every pattern is
#: dialect-portable: valid with identical semantics in Java regex (Spark
#: codegen) and RE2 (DuckDB oracle) — no backrefs, no lookaround.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("card", r"\b\d{4}[ -]?\d{4}[ -]?\d{4}[ -]?\d{4}\b", "<CARD>"),
    ("ipv4", r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d{1,2}[ .-]?\(\d{3}\)[ .-]?\d{3}[ .-]?\d{4}\b", "<PHONE>"),
]


#: Unicode-script character classes as LITERAL codepoint ranges — the
#: class strings embed actual characters (not engine-specific \u / \x{}
#: escapes), so Java regex and RE2 (DuckDB) interpret them identically.
SCRIPT_CLASSES: list[tuple[str, str]] = [
    ("latin", f"[A-Za-z{chr(0xC0)}-{chr(0x24F)}]"),
    ("cyrillic", f"[{chr(0x400)}-{chr(0x4FF)}]"),
    ("cjk", f"[{chr(0x4E00)}-{chr(0x9FFF)}{chr(0x3040)}-{chr(0x30FF)}"
            f"{chr(0xAC00)}-{chr(0xD7AF)}]"),
    ("arabic", f"[{chr(0x600)}-{chr(0x6FF)}]"),
    ("digit", "[0-9]"),
]


def script_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """EXT multilingual triage: per-doc character counts by Unicode script
    (Latin incl. Latin-1/Extended, Cyrillic, CJK+kana+hangul, Arabic,
    digits) plus the dominant script — the signal a corpus router reads
    before language-specific processing (lang-id models assume the script;
    mixed-script docs are the classic mojibake/spam tell).

    Pure codegen ``regexp_count`` over literal codepoint-range classes —
    map-only, scan-speed, no Python. Dominance ties break in
    ``SCRIPT_CLASSES`` declaration order (first wins), so the label is
    deterministic and engine-reproducible; 'other' wins only when every
    class counts zero."""
    col = F.col(text_col)
    counts = {name: F.regexp_count(col, F.lit(pat)).cast("long")
              for name, pat in SCRIPT_CLASSES}
    names = [n for n, _ in SCRIPT_CLASSES]
    dom = F.lit("other")
    for name in reversed(names):
        later = [F.col(f"n_{m}") for m in names[names.index(name) + 1:]]
        cond = (F.col(f"n_{name}") > 0)
        for o in later:
            cond = cond & (F.col(f"n_{name}") >= o)
        dom = F.when(cond, F.lit(name)).otherwise(dom)
    return (df.select(F.col(id_col), F.length(col).cast("long").alias("n_chars"),
                      *[c.alias(f"n_{n}") for n, c in counts.items()])
            .withColumn("dominant", dom))


def redact_pii(df: DataFrame, text_col: str, out_col: str | None = None,
               kinds: list[str] | None = None) -> DataFrame:
    """EXT training-data scrub: replace emails / SSNs / card numbers /
    IPv4s / phone numbers with typed placeholders.

    A chain of ``regexp_replace`` expressions — pure whole-stage codegen,
    map-only, no shuffle, no Python in the hot path; at 100 TB this runs
    at scan speed and composes with predicate pushdown (a pre-filter on
    e.g. ``text RLIKE '@'`` skips clean rows before the full chain).
    Pattern order is part of the contract (see ``PII_PATTERNS``)."""
    out_col = out_col or text_col
    want = {k for k in (kinds or [p[0] for p in PII_PATTERNS])}
    col = F.col(text_col)
    for name, pat, repl in PII_PATTERNS:
        if name in want:
            col = F.regexp_replace(col, pat, repl)
    return df.withColumn(out_col, col)


def normalize_text(df: DataFrame, text_col: str,
                   out_col: str | None = None) -> DataFrame:
    """EXT curation preprocessing: Unicode normalization — NFC compose,
    accent/diacritic strip (NFD → drop combining marks → NFC), control
    chars → space, whitespace collapse, trim.

    The Unicode steps run in ONE Arrow-batched pandas UDF (there is no
    JVM-builtin normalizer in Spark SQL); the whitespace/control cleanup
    stays in codegen ``regexp_replace`` AFTER the UDF so the regex share
    of the work is JVM-side. Both steps are deterministic Unicode-standard
    transforms, so a SQL engine with ``nfc_normalize``/``strip_accents``
    (DuckDB) reproduces them byte-for-byte — the conformance oracle does.
    """
    from pyspark.sql.functions import pandas_udf

    out_col = out_col or text_col

    # NB: hint-free on purpose — `from __future__ import annotations`
    # stringifies hints and pandas_udf cannot resolve local names
    def strip_marks(ser):
        import unicodedata

        def one(s):
            if s is None:
                return None
            s = unicodedata.normalize("NFC", s)
            s = "".join(c for c in unicodedata.normalize("NFD", s)
                        if not unicodedata.combining(c))
            return unicodedata.normalize("NFC", s)

        return ser.map(one)

    deaccented = pandas_udf(strip_marks, "string")(F.col(text_col))
    cleaned = F.trim(F.regexp_replace(
        F.regexp_replace(deaccented, r"[\x00-\x1f\x7f]", " "),
        r"\s+", " "))
    return df.withColumn(out_col, cleaned)


def bm25_rank(df: DataFrame, id_col: str, text_col: str, terms: list[str],
              k1: float = 1.2, b: float = 0.75, topk: int = 20) -> DataFrame:
    """EXT retrieval: BM25 ranked search over the corpus for a bag of
    query terms — (doc, bm25) top-k. The keyword complement of the
    vector-search family (L3): corpus triage, eval-set retrieval, and
    the lexical half of hybrid search run on exactly this shape.

    Scale shape: the only data-proportional work is one map-side token
    explode FILTERED to the query terms before any shuffle (a q-term IN
    list — the match stream is a tiny fraction of the corpus); document
    lengths are a map-only projection; N/avgdl/df are broadcast scalars.
    One (doc, term) aggregate shuffle + one per-doc fold.

    Engine parity discipline: avgdl is Σdl/N (ONE division of exact
    integers — never a parallel float AVG); every float constant is
    inlined from the SAME Python value the oracle generator reprs; the
    per-doc score sum is an EXPLICIT left-fold in query-term order
    (float + is not associative — a parallel SUM would hash-diverge),
    and the emitted score rounds to 6 dp with the id as tie-break, the
    ``tfidf_top_terms`` convention (ln at 6 dp is driver-proven)."""
    toks = df.select(F.col(id_col).alias("doc"),
                     F.explode(tokens(text_col)).alias("term"))
    docs = df.select(F.col(id_col).alias("doc"),
                     token_count(text_col).cast("long").alias("dl"))
    stats = docs.agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("dl").alias("sum_dl"))
    tf = (toks.filter(F.col("term").isin(list(terms)))
          .groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(F.lit(1.0) + ((F.col("n_docs") - F.col("df")) + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    inner = F.lit(1.0 - b) + (F.lit(b) * F.col("dl").cast("double")) / avgdl
    score = (idf * (F.col("tf") * F.lit(k1 + 1.0))
             / (F.col("tf") + F.lit(k1) * inner))
    per_term = (tf.join(docs, "doc").join(F.broadcast(dfreq), "term")
                .crossJoin(F.broadcast(stats))
                .select("doc", "term", score.alias("s")))
    aggs = [F.max(F.when(F.col("term") == t, F.col("s"))).alias(f"__s{i}")
            for i, t in enumerate(terms)]
    folded = per_term.groupBy("doc").agg(*aggs)
    total = F.coalesce(F.col("__s0"), F.lit(0.0))
    for i in range(1, len(terms)):
        total = total + F.coalesce(F.col(f"__s{i}"), F.lit(0.0))
    return (folded.select("doc", F.round(total, 6).alias("bm25"))
            .orderBy(F.col("bm25").desc(), F.col("doc").asc())
            .limit(topk))


def corpus_report(df: DataFrame, id_col: str, text_col: str,
                  short_tokens: int = 20) -> DataFrame:
    """EXT audit capstone: the one-call corpus report — (metric, value)
    rows for the numbers every dataset review reads first:

    - ``n_docs``, ``n_tokens`` (exact counts)
    - ``mean_tokens`` = Σtokens/N (ONE exact-integer division — the same
      discipline as BM25's avgdl, never a parallel float AVG)
    - ``max_tokens``, ``min_tokens`` (raw existing values)
    - ``short_frac``: share of docs under ``short_tokens`` tokens (exact
      count ratio)
    - ``exact_dup_frac``: 1 − distinct(normalized text)/N — the upper
      bound exact-dedup would remove (lower/trim normalization, the L1
      convention)

    ONE aggregation pass over map-side projections (token counts are
    per-row codegen; the only extra shuffle is the distinct-text count,
    which hashes 8-byte digests, not bodies). Long (metric, value) shape
    so downstream dashboards/asserts consume rows, not columns."""
    base = df.select(
        F.col(id_col),
        token_count(text_col).cast("long").alias("__nt"),
        F.sha2(F.lower(F.trim(F.col(text_col))), 256).alias("__dig"))
    agg = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nt").alias("n_tokens"),
        F.max("__nt").alias("max_tokens"),
        F.min("__nt").alias("min_tokens"),
        F.count(F.when(F.col("__nt") < short_tokens, 1)).alias("n_short"),
        F.countDistinct("__dig").alias("n_distinct"))
    n = F.col("n_docs").cast("double")
    metrics = [
        ("n_docs", F.col("n_docs").cast("double")),
        ("n_tokens", F.col("n_tokens").cast("double")),
        ("mean_tokens", F.try_divide(F.col("n_tokens").cast("double"), n)),
        ("max_tokens", F.col("max_tokens").cast("double")),
        ("min_tokens", F.col("min_tokens").cast("double")),
        ("short_frac", F.try_divide(F.col("n_short").cast("double"), n)),
        ("exact_dup_frac",
         F.lit(1.0) - F.try_divide(F.col("n_distinct").cast("double"), n)),
    ]
    # ONE explode over the single aggregate row — a union of per-metric
    # selects would duplicate the whole aggregate subtree (and its scan)
    # once per metric in the physical plan
    return (agg.select(F.explode(F.array(*[
                F.struct(F.lit(name).alias("metric"),
                         col.cast("double").alias("value"))
                for name, col in metrics])).alias("__m"))
            .select("__m.metric", "__m.value"))


def token_rarity(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """EXT (R101): word-frequency quality proxy — the cheap stand-in for a
    unigram-LM perplexity filter. Each doc scores the corpus-level
    occurrence counts of its own tokens: ``mean_tok_freq`` high = stock
    phrasing, low = rare/misspelled/garbled vocabulary (the tail a
    quality filter inspects); ``oov_frac`` = fraction of tokens occurring
    ≤1 time in the corpus (hapax — typo/noise signal).

    All accumulation is exact integers; the two output ratios are single
    IEEE divisions, so the score is engine- and partition-invariant
    (a float mean of -log p would not be).

    Scale shape: term frequencies aggregate map-side before one token
    shuffle; the (doc, token) explode joins the tf table on the token key
    (tf tables are Zipf-small relative to the corpus — broadcastable
    when the vocabulary fits, AQE decides); the final per-doc aggregate
    shuffles (doc, count) pairs only. No vocab-wide ranking window —
    rank-based rarity needs a total order over the vocabulary, which a
    frequency score gives for free."""
    toks = (df.select(F.col(id_col), F.explode(tokens(text_col)).alias("__t")))
    tf = toks.groupBy("__t").agg(F.count(F.lit(1)).alias("__tf"))
    return (toks.join(tf, "__t")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
                 F.sum("__tf").cast("long").alias("__sum_tf"),
                 F.count(F.when(F.col("__tf") <= 1, 1)).cast("long")
                  .alias("n_hapax"))
            .select(F.col(id_col),
                    "n_tokens",
                    (F.col("__sum_tf").cast("double") /
                     F.col("n_tokens").cast("double")).alias("mean_tok_freq"),
                    (F.col("n_hapax").cast("double") /
                     F.col("n_tokens").cast("double")).alias("oov_frac")))


def vocab_coverage(df: DataFrame, id_col: str, text_col: str,
                   vocab_size: int = 1000, n_bins: int = 10) -> DataFrame:
    """EXT (R154, round 6): tokenizer-vocabulary coverage report — fix a
    vocabulary (the top-``vocab_size`` corpus tokens, deterministic
    (count DESC, token ASC) order) and histogram documents by their
    out-of-vocabulary token fraction. The curation question this answers:
    "if the tokenizer ships with THIS vocab, which slice of the corpus
    fragments into byte-fallback garbage?" — docs in the high-OOV deciles
    are the re-tokenize/drop candidates. Differs from ``token_rarity``
    (corpus-relative hapax rate, no fixed vocab): this scores against a
    FIXED top-N vocabulary, the thing an actual tokenizer has.

    Exactness: counts are integers; the per-doc OOV ratio is one IEEE
    division and the decile is ``least(floor(ratio·n_bins), n_bins-1)`` —
    identical double ops in any engine, so bins are engine-stable.

    Scale shape: term frequencies aggregate map-side before one
    token-key shuffle; the vocab is a sort-limit over the Zipf-small tf
    table (top-N, never a corpus sort) and BROADCASTS into the probe
    join — the (doc, token) explode never shuffles for membership; the
    per-doc aggregate moves (doc, 2 counts) pairs; the final histogram
    is ``n_bins`` rows."""
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("__t"))
    tf = toks.groupBy("__t").agg(F.count(F.lit(1)).alias("__tf"))
    vocab = (tf.orderBy(F.desc("__tf"), F.asc("__t")).limit(vocab_size)
             .select("__t", F.lit(1).alias("__in_vocab")))
    per_doc = (toks.join(F.broadcast(vocab), "__t", "left")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("__n"),
                    F.count(F.when(F.col("__in_vocab").isNull(), 1))
                     .alias("__oov")))
    ratio = F.col("__oov").cast("double") / F.col("__n").cast("double")
    decile = F.least(F.floor(ratio * n_bins).cast("long"),
                     F.lit(n_bins - 1).cast("long"))
    return (per_doc.select(decile.alias("oov_decile"), "__n", "__oov")
            .groupBy("oov_decile")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("__n").cast("long").alias("n_tokens"),
                 F.sum("__oov").cast("long").alias("n_oov")))


def collocations(df: DataFrame, text_col: str, min_count: int = 5,
                 k: int = 50) -> DataFrame:
    """EXT (R103): collocation mining by exact lift — the PMI-family
    statistic without the float log. For adjacent token pairs (a, b):

        ``lift = N · c(a,b) / (c(a) · c(b))``

    (> 1 = the pair co-occurs more than independence predicts — the
    multiword-expression / stock-phrase detector used for tokenizer merge
    candidates and boilerplate phrase discovery). All counts are exact
    integers; lift is ONE IEEE division of exact products, so ranking on
    it is engine-stable (a −Σ log formulation would not hash-match).
    Pairs below ``min_count`` are noise-filtered (standard collocation
    practice). Returns the top ``k`` by (lift desc, a, b).

    Scale shape: bigrams come from a map-side ``arrays_zip`` of the token
    array with its own tail — no window, no posexplode self-join; unigram
    and bigram count tables are Zipf-small and meet on the token key
    (broadcastable — AQE decides); the total token count is a 1-row
    crossJoin. Final top-k is a TakeOrdered, never a global sort."""
    toks = df.select(tokens(text_col).alias("__tk"))
    pairs = (toks.filter(F.size("__tk") >= 2)
             .select(F.explode(F.arrays_zip(
                 F.slice("__tk", 1, F.size("__tk") - 1),
                 F.slice(F.col("__tk"), 2, F.size("__tk") - 1))).alias("__p"))
             .select(F.col("__p.0").alias("a"), F.col("__p.1").alias("b")))
    uni = (toks.select(F.explode("__tk").alias("t"))
           .groupBy("t").agg(F.count(F.lit(1)).alias("c")))
    total = uni.agg(F.sum("c").alias("n_total"))
    big = (pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
           .filter(F.col("c_ab") >= min_count))
    out = (big
           .join(uni.select(F.col("t").alias("a"), F.col("c").alias("c_a")), "a")
           .join(uni.select(F.col("t").alias("b"), F.col("c").alias("c_b")), "b")
           .crossJoin(total)
           .select("a", "b", F.col("c_ab").cast("long").alias("c_ab"),
                   ((F.col("n_total") * F.col("c_ab")).cast("double") /
                    (F.col("c_a") * F.col("c_b")).cast("double"))
                   .alias("lift")))
    return (out.orderBy(F.col("lift").desc(), F.col("a").asc(),
                        F.col("b").asc())
            .limit(k))


def source_curation_report(df: DataFrame, text_col: str,
                           source_col: str, dup_drop: float = 0.3,
                           quality_review: float = 0.5,
                           short_tokens: int = 20) -> DataFrame:
    """EXT (R119): per-SOURCE curation decision report — the domain/feed
    triage table a crawl pipeline reads before ingesting a source at
    full volume. One row per source: doc count, exact-duplicate fraction
    (1 − distinct(normalized digest)/n — the share doc-level dedup would
    cut), short-doc fraction, mean quality score, and a policy decision:
    ``drop`` when the source is mostly duplicates (> ``dup_drop``),
    ``review`` when mean quality is low (< ``quality_review``), else
    ``keep``. Thresholding happens on the ROUNDED fractions so the
    decision column is engine-reproducible.

    Exactness: quality scores are exact quarters (see ``quality_score``),
    summed as integers (score·4) and divided once; every fraction is an
    exact-integer ratio with a single double division. Scale shape
    (100 TB): one map-side projection (token count, sha-digest, quality
    rules — all codegen), one hash aggregation keyed by source; digests
    shuffle as 32-byte hashes, bodies never leave the scan."""
    scored = quality_score(df.select(source_col, text_col), text_col,
                           "__q", impl="expr")
    base = scored.select(
        F.col(source_col),
        token_count(text_col).cast("long").alias("__nt"),
        F.sha2(F.lower(F.trim(F.col(text_col))), 256).alias("__dig"),
        F.round(F.col("__q") * 4).cast("long").alias("__q4"))
    agg = (base.groupBy(source_col)
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.countDistinct("__dig").alias("__ndist"),
                F.count(F.when(F.col("__nt") < short_tokens, 1))
                .alias("__nshort"),
                F.sum("__q4").alias("__sq4")))
    n = F.col("n_docs").cast("double")
    dup_frac = F.round(F.lit(1.0) - F.col("__ndist").cast("double") / n, 6)
    short_frac = F.round(F.col("__nshort").cast("double") / n, 6)
    mean_q = F.round(F.col("__sq4").cast("double") / (F.lit(4.0) * n), 6)
    return (agg.select(
        F.col(source_col), F.col("n_docs"),
        dup_frac.alias("dup_frac"), short_frac.alias("short_frac"),
        mean_q.alias("mean_quality"),
        F.when(dup_frac > dup_drop, F.lit("drop"))
         .when(mean_q < quality_review, F.lit("review"))
         .otherwise(F.lit("keep")).alias("decision")))


def bpe_init(df: DataFrame, text_col: str) -> DataFrame:
    """(symbols: array<string>, freq) word table for BPE training —
    whitespace words collapsed to a Zipf-small frequency table (the
    standard trick: all pair statistics weight by word FREQUENCY, so
    every later iteration runs over the vocabulary, not the corpus),
    each word exploded to its character symbols."""
    w = (df.select(F.explode(tokens(text_col)).alias("__w"))
         .groupBy("__w").agg(F.count(F.lit(1)).alias("freq")))
    return w.select(F.split("__w", "").alias("symbols"), "freq")


def bpe_pair_counts(words: DataFrame, k: int = 20,
                    sym_col: str = "symbols",
                    freq_col: str = "freq") -> DataFrame:
    """EXT (R144): one BPE-training iteration's statistics — adjacent
    symbol-pair counts over the weighted word table, top-k by count
    (pair lexicographic tie-break, so the selected merge is
    engine-reproducible). This IS the scalable inner loop of BPE
    tokenizer training: the corpus is touched once (``bpe_init``);
    every iteration after that is one hash aggregation over the
    vocabulary — the shape that lets a 100 TB corpus train a tokenizer
    on its true word distribution instead of a sample.

    Pairs come from zipping the symbol array against itself shifted
    (map-side arrays_zip, no window); counts are exact integer
    Σ freq."""
    n = F.size(F.col(sym_col))
    pairs = F.arrays_zip(
        F.slice(F.col(sym_col), 1, n - 1).alias("l"),
        F.slice(F.col(sym_col), 2, n - 1).alias("r"))
    exploded = (words.filter(n >= 2)
                .select(F.col(freq_col).alias("__f"),
                        F.explode(pairs).alias("__p"))
                .select(F.col("__p.l").alias("left_sym"),
                        F.col("__p.r").alias("right_sym"), "__f"))
    counts = (exploded.groupBy("left_sym", "right_sym")
              .agg(F.sum("__f").alias("pair_count")))
    w = Window.orderBy(F.col("pair_count").desc(),
                       F.col("left_sym").asc(), F.col("right_sym").asc())
    return (counts.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .select("left_sym", "right_sym", "pair_count"))


def apply_bpe_merge(words: DataFrame, left: str, right: str,
                    sym_col: str = "symbols") -> DataFrame:
    """Apply one BPE merge (left, right) → "leftright" to the word
    table, greedy left-to-right (the reference BPE semantics: in
    'aaa' the pair (a,a) merges positions 1-2, leaving ['aa','a']).
    One bounded fold per VOCABULARY row — the corpus is never touched
    again after ``bpe_init``."""
    merged = F.lit(left + right)
    fold = F.aggregate(
        F.col(sym_col), F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left)) & (s == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)))
        .otherwise(F.concat(acc, F.array(s))))
    return words.withColumn(sym_col, fold)


def keyness_terms(df: DataFrame, group_col: str, text_col: str,
                  k: int = 10, round_dp: int = 6) -> DataFrame:
    """EXT (R193, round 6): per-group DISTINCTIVE terms by chi-square
    keyness — which words characterize each source against the rest of
    the corpus. ``tfidf_top_terms`` ranks within one DOCUMENT; keyness
    ranks a GROUP's vocabulary against the corpus margins — the
    corpus-linguistics readout behind source triage ("this crawl is
    recipe spam") and domain tagging. Only OVER-represented terms
    (o·N > r·c) rank; chi = (o·N − r·c)²/(r·c·N) per (group, term)
    cell, ROUND 6 before the (chi desc, term asc) WindowGroupLimit so
    the selected set is engine-stable (the ``tfidf_top_terms``
    device).

    Scale shape (100 TB): one (group, term) hash agg over exploded
    tokens (map-side partials), margins are grid-sized aggs broadcast
    back, top-k is one window per group over its vocabulary.

    Exactness at scale: the margin products run in decimal(38,0) —
    r·c·N overflows int64 once the corpus passes ~10⁸ tokens (the
    round-10 sf10 probe threw ArithmeticException under ANSI exactly
    there), and decimal keeps the arithmetic EXACT (single final
    rounding at the cast to double, bit-identical to the long path
    in-range) where an early double cast would move ROUND-6
    boundaries. The oracle runs the same products as HUGEINT."""
    dec = "decimal(38,0)"
    toks = (df.select(F.col(group_col).alias("__g"),
                      F.explode(tokens(text_col)).alias("__t")))
    grid = (toks.groupBy("__g", "__t")
            .agg(F.count(F.lit(1)).cast("long").alias("__o")))
    gm = grid.groupBy("__g").agg(F.sum("__o").cast("long").alias("__r"))
    tm = grid.groupBy("__t").agg(F.sum("__o").cast("long").alias("__c"))
    n = grid.agg(F.sum("__o").cast("long").alias("__n"))
    on_ = F.col("__o").cast(dec) * F.col("__n").cast(dec)
    rc = F.col("__r").cast(dec) * F.col("__c").cast(dec)
    d = (on_ - rc).cast("double")
    chi = F.round(
        d * d / (rc * F.col("__n").cast(dec)).cast("double"),
        round_dp)
    scored = (grid.join(F.broadcast(gm), "__g")
              .join(tm, "__t")
              .crossJoin(F.broadcast(n))
              .filter(on_ > rc)
              .withColumn("__chi", chi))
    w = (Window.partitionBy("__g")
         .orderBy(F.col("__chi").desc(), F.col("__t").asc()))
    return (scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .select(F.col("__g").alias(group_col),
                    F.col("__t").alias("term"),
                    F.col("__o").alias("term_count"),
                    F.col("__chi").alias("keyness")))


def readability(df: DataFrame, id_col: str, text_col: str,
                round_dp: int = 6) -> DataFrame:
    """EXT (R203, round 6): Flesch reading-ease per document — the
    classic readability screen (a pretraining filter axis orthogonal to
    ``quality_score``'s C4/Gopher rules: boilerplate often scores HIGH
    on ease, academic text low — the readout that lets a mix target a
    difficulty band). Syllables are approximated as vowel GROUPS
    (``[aeiouy]+`` runs — the standard cheap estimator), sentences as
    ``[.!?]+``-delimited non-blank spans.

    206.835 − 1.015·(words/sentences) − 84.6·(syllables/words), two
    divisions in one fixed-shape IEEE expression over exact integer
    counts, ROUND 6; NULL when a doc has no sentence or no word. All
    codegen (regexp counts + arithmetic) — scan-speed at 100 TB."""
    words = token_count(text_col)
    syllables = F.size(F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit("[aeiouy]+"), 0))
    sentences = F.size(F.filter(
        F.split(F.col(text_col), r"[.!?]+"),
        lambda x: F.trim(x) != ""))
    flesch = (F.lit(206.835)
              - F.lit(1.015) * (words.cast("double")
                                / sentences.cast("double"))
              - F.lit(84.6) * (syllables.cast("double")
                               / words.cast("double")))
    return df.select(
        F.col(id_col),
        words.cast("long").alias("n_words"),
        sentences.cast("long").alias("n_sentences"),
        syllables.cast("long").alias("n_syllables"),
        F.when((words > 0) & (sentences > 0),
               F.round(flesch, round_dp)).alias("flesch"))


def vocab_growth(docs: DataFrame, id_col: str, text_col: str,
                 n_buckets: int = 10) -> DataFrame:
    """EXT (R208, round 6): vocabulary growth curve (the Heaps'-law
    readout) — docs partitioned into ``n_buckets`` id-ordered deciles,
    each reporting its doc/token volume, the NEW types it introduces
    (tokens whose FIRST occurrence falls in the bucket), and the
    cumulative vocabulary. Sub-linear vocab_cum growth against
    tokens_cum is the expected corpus shape; a late bucket with a
    new-type spike flags a contaminating source (template churn, new
    language, encoding breakage) — the curve a curation pass reads
    before freezing a tokenizer vocabulary.

    Bucketing uses exact quantile boundaries on the doc id
    (``_quantile_bounds``: strictly-greater rule — no NTILE, no global
    row order); first occurrence is min(bucket) per token — ONE hash
    aggregation over the exploded tokens; the cumulative sums run over
    the ``n_buckets``-row frame. Nothing driver-side, no all-corpus
    window."""
    from .analytics import _quantile_bounds

    ids = docs.select(F.col(id_col).alias("__id"))
    b = _quantile_bounds(ids, "__id", n_buckets)
    bucketed = docs.crossJoin(F.broadcast(b)).select(
        (F.lit(1) + F.size(F.filter(
            F.col("__b___id"), lambda x: F.col(id_col) > x)))
        .cast("long").alias("bucket"),
        tokens(text_col).alias("__toks"))
    per_bucket = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size("__toks")).cast("long").alias("n_tokens"))
    first = (bucketed.select("bucket", F.explode("__toks").alias("__t"))
             .groupBy("__t").agg(F.min("bucket").alias("__fb")))
    new_types = first.groupBy(F.col("__fb").alias("bucket")) \
                     .agg(F.count(F.lit(1)).cast("long").alias("new_types"))
    w = (Window.orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (per_bucket.join(new_types, "bucket", "left")
            .withColumn("new_types",
                        F.coalesce("new_types", F.lit(0)).cast("long"))
            .select("bucket", "n_docs", "n_tokens", "new_types",
                    F.sum("new_types").over(w).cast("long")
                    .alias("vocab_cum"),
                    F.sum("n_tokens").over(w).cast("long")
                    .alias("tokens_cum")))


def js_token_divergence(docs: DataFrame, source_col: str, text_col: str,
                        top_v: int = 50) -> DataFrame:
    """EXT (R210, round 6): Jensen–Shannon divergence of each source's
    token distribution from the corpus distribution — the symmetric,
    bounded (≤ ln 2) drift measure that completes the drift family (PSI
    R138 needs a baseline snapshot and explodes on empty bins; KS R186
    is for continuous values; JSD compares any two distributions,
    finite always). The per-source readout ranks WHICH source is
    distributionally alien — the mixture-weighting signal a curation
    pass reads next to source_curation_docs.

    Distributions are over the corpus top-``top_v`` vocabulary
    (count-desc, token-asc ties — engine-stable) plus an OTHER bucket,
    so both are complete and COMPACT (top_v+1 cells per source, q > 0
    everywhere by construction; p = 0 cells contribute only through
    the q side). JSD = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m), m = (p+q)/2,
    ROUND-6 like the entropy family.

    Scale shape: one explode → (source, term) hash agg with the vocab
    membership BROADCAST; the divergence reduces top_v+1 rows per
    source. No window over the corpus, nothing driver-side but the
    top-v vocab."""
    toks = docs.select(F.col(source_col).alias("src"),
                       F.explode(tokens(text_col)).alias("tok"))
    corpus = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy(F.col("c").desc(), F.col("tok").asc())
    vocab = (corpus.withColumn("__rn", F.row_number().over(w))
             .filter(F.col("__rn") <= top_v).select("tok"))
    mapped = (toks.join(F.broadcast(vocab.withColumn("__in", F.lit(1))),
                        "tok", "left")
              .select("src",
                      F.when(F.col("__in").isNotNull(), F.col("tok"))
                      .otherwise(F.lit("§other")).alias("term")))
    sc = mapped.groupBy("src", "term").agg(F.count(F.lit(1)).alias("cs"))
    st = sc.groupBy("src").agg(F.sum("cs").alias("ts"))
    cc = mapped.groupBy("term").agg(F.count(F.lit(1)).alias("cc"))
    ct = cc.agg(F.sum("cc").alias("tc"))
    # complete the (src × term) grid so q-only cells (p = 0) contribute
    grid = st.crossJoin(F.broadcast(cc.crossJoin(ct)))
    full = (grid.join(sc, ["src"] + ["term"], "left")
            .withColumn("cs", F.coalesce("cs", F.lit(0))))
    p = F.col("cs").cast("double") / F.col("ts").cast("double")
    q = F.col("cc").cast("double") / F.col("tc").cast("double")
    m = (p + q) / F.lit(2.0)
    contrib = (F.when(F.col("cs") > 0, p * F.log(p / m))
               .otherwise(F.lit(0.0))
               + q * F.log(q / m)) / F.lit(2.0)
    return (full.groupBy("src")
            .agg(F.max("ts").cast("long").alias("n_tokens"),
                 F.round(F.sum(contrib), 6).alias("js_divergence"))
            .select(F.col("src").alias(source_col), "n_tokens",
                    "js_divergence"))


def zipf_slope(df: DataFrame, text_col: str, top_n: int = 200,
               round_dp: int = 6) -> DataFrame:
    """EXT (R218, round 6): Zipf rank–frequency power-law fit — OLS of
    ln(frequency) on ln(rank) over the top-``top_n`` corpus terms.
    Natural corpora sit near slope −1; |slope| ≪ 1 flags synthetic or
    templated text (flat head), |slope| ≫ 1 flags boilerplate-dominated
    crawl (a few tokens own everything). Completes the corpus-shape
    trio: Heaps (R208) tracks vocab GROWTH, Hill (R216) the tail of a
    VALUE distribution, Zipf the decay of the token-frequency head.

    Exactness: ranks come from a deterministic (freq DESC, term ASC)
    sort-limit over the Zipf-small tf table — the unique term tie-break
    makes every rank, hence every (ln r, ln f) point, engine-identical.
    All five OLS moments (Σx, Σy, Σxy, Σx², Σy²) accumulate under ONE
    ordered window on rank and are read at the last rank (fixed float
    addition order), then slope/intercept/R² are fixed-shape IEEE
    expressions with guarded denominators, ROUND-dp.

    Scale shape: term frequencies aggregate map-side before one
    token-key shuffle; everything after is a top-N table (a TakeOrdered
    cut, never a corpus sort) and an N-row window."""
    tf = (df.select(F.explode(tokens(text_col)).alias("__t"))
            .groupBy("__t").agg(F.count(F.lit(1)).alias("__f")))
    top = tf.orderBy(F.desc("__f"), F.asc("__t")).limit(top_n)
    ranked = top.withColumn(
        "__r", F.row_number().over(
            Window.orderBy(F.desc("__f"), F.asc("__t"))))
    x = F.log(F.col("__r").cast("double"))
    y = F.log(F.col("__f").cast("double"))
    w_cum = Window.orderBy("__r").rowsBetween(Window.unboundedPreceding, 0)
    n_all = Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
    cum = (ranked.select(
        F.col("__r"),
        F.count(F.lit(1)).over(n_all).alias("__n"),
        F.sum(x).over(w_cum).alias("__sx"),
        F.sum(y).over(w_cum).alias("__sy"),
        F.sum(x * y).over(w_cum).alias("__sxy"),
        F.sum(x * x).over(w_cum).alias("__sxx"),
        F.sum(y * y).over(w_cum).alias("__syy"))
        .filter(F.col("__r") == F.col("__n")))
    n = F.col("__n").cast("double")
    vxx = F.col("__sxx") - F.col("__sx") * F.col("__sx") / n
    vyy = F.col("__syy") - F.col("__sy") * F.col("__sy") / n
    cxy = F.col("__sxy") - F.col("__sx") * F.col("__sy") / n
    return cum.select(
        F.col("__n").alias("n_terms"),
        F.round(F.when(vxx > 0, cxy / vxx), round_dp).alias("zipf_slope"),
        F.round(F.when(vxx > 0,
                       (F.col("__sy") - (cxy / vxx) * F.col("__sx")) / n),
                round_dp).alias("intercept"),
        F.round(F.when((vxx > 0) & (vyy > 0), cxy * cxy / (vxx * vyy)),
                round_dp).alias("r2"))


def tfidf_cosine_pairs(df: DataFrame, id_col: str, text_col: str,
                       max_df: int = 50, threshold: float = 0.3,
                       round_dp: int = 6) -> DataFrame:
    """L4/L1 EXT (R235, round 6): sparse TF-IDF cosine pair mining via an
    inverted-index join — (doc_a, doc_b, n_common, cosine) for every pair
    with cosine ≥ threshold in the tf·idf vector space. Completes the
    near-dup similarity family: MinHash/Jaccard see token SETS, embeddings
    see dense semantics; this sees frequency-WEIGHTED lexical overlap (the
    classic fuzzy-dup / template-detection signal, cf. the reference's
    exact-match dedup being its only notion of similarity —
    `database and queries aupostgres.sql:66-77`).

    Vector-space semantics (sklearn/CountVectorizer ``max_df`` style):
    terms with document frequency > ``max_df`` are EXCLUDED from the
    space — corpus-wide boilerplate carries no signal, and the cap is the
    STRUCTURAL scale bound: every surviving posting list has ≤ max_df
    entries, so the candidate join emits ≤ C(max_df,2) pairs per term —
    never the unbounded n² of a stop-word posting. Terms with df = 1 are
    also dropped (they cannot co-occur — a pure pruning, result-identical;
    pinned by test). idf = ln(N/df) with N = docs having ≥1 token
    (pre-cap), w = tf·idf.

    Scale shape: explode → ONE (id, term) hash agg (materialized — the
    postings, norms and df branches all reuse it); df/N derive from that
    tf table without re-scanning the corpus; the pair join shuffles
    (term, id, w) postings whose per-term width the cap bounds (bounding
    join skew too); pair scores are a (a,b) hash agg; norms join back at
    doc grain. Document bodies never shuffle. Raising 10× the docs
    raises per-term work only with df — capped — so the sweep stays
    ~linear in corpus size."""
    toks = df.select(F.col(id_col).alias("__id"),
                     F.explode(tokens(text_col)).alias("__t"))
    tf, _ = materialize(
        toks.groupBy("__id", "__t").agg(F.count(F.lit(1)).alias("__tf")))
    n = tf.agg(F.count_distinct("__id").alias("__n"))
    dfreq = (tf.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
             .filter((F.col("__df") >= 2) & (F.col("__df") <= max_df)))
    w, _ = materialize(
        tf.join(dfreq, "__t").crossJoin(F.broadcast(n))
        .select("__id", "__t",
                (F.col("__tf").cast("double")
                 * F.log(F.col("__n").cast("double")
                         / F.col("__df").cast("double"))).alias("__w")))
    norms = w.groupBy("__id").agg(F.sum(F.col("__w") * F.col("__w"))
                                  .alias("__s2"))
    a, b = w.alias("a"), w.alias("b")
    dots = (a.join(b, (F.col("a.__t") == F.col("b.__t"))
                   & (F.col("a.__id") < F.col("b.__id")))
            .groupBy(F.col("a.__id").alias("__ia"),
                     F.col("b.__id").alias("__ib"))
            .agg(F.count(F.lit(1)).alias("n_common"),
                 F.sum(F.col("a.__w") * F.col("b.__w")).alias("__dot")))
    cos = F.round(F.col("__dot")
                  / (F.sqrt(F.col("na.__s2")) * F.sqrt(F.col("nb.__s2"))),
                  round_dp)
    return (dots.join(norms.alias("na"), F.col("__ia") == F.col("na.__id"))
            .join(norms.alias("nb"), F.col("__ib") == F.col("nb.__id"))
            .select(F.col("__ia").alias("doc_a"),
                    F.col("__ib").alias("doc_b"),
                    "n_common", cos.alias("cosine"))
            .filter(F.col("cosine") >= threshold))


def lm_score_docs(df: DataFrame, id_col: str, text_col: str,
                  min_bigram_count: int = 2, alpha: float = 0.4,
                  round_dp: int = 6) -> DataFrame:
    """L4 EXT (R236, round 6): bigram stupid-backoff LM scoring — the
    CCNet-style perplexity-proxy quality filter: score every document
    under a bigram LM trained on the corpus itself and report
    (doc_id, n_bigrams, backoff_rate, avg_logp). Low avg_logp = the doc's
    word transitions are improbable under the corpus (gibberish, OCR
    noise); a HIGH score with high repetition flags boilerplate. Brants
    et al.'s stupid backoff: S(w₂|w₁) = c(w₁w₂)/c(w₁) when the bigram is
    reliably observed (count ≥ ``min_bigram_count``), else
    α·c(w₂)/total_tokens — self-training makes every bigram seen once, so
    the reliability floor is what gives the backoff branch (and the
    backoff_rate signal) meaning.

    Scale shape: ONE posexplode of the corpus; per-doc lag window
    (partition = doc, bounded by doc length — never global) produces the
    bigram stream, materialized and reused by BOTH the LM-count
    branch and the scoring join, so the corpus explodes once; LM tables
    are (w₁,w₂)- and w₁-grain hash aggs; scoring is a hash join on the
    bigram key followed by a doc-grain agg. Token/bigram rows shuffle,
    bodies never do. Docs with < 2 tokens have no transition to score
    and are excluded by definition."""
    toks = df.select(F.col(id_col).alias("__id"),
                     F.posexplode(tokens(text_col))
                     .alias("__pos", "__w"))
    wd = Window.partitionBy("__id").orderBy("__pos")
    big, _ = materialize(
        toks.select("__id",
                    F.lag("__w").over(wd).alias("__w1"),
                    F.col("__w").alias("__w2"))
        .filter(F.col("__w1").isNotNull()))
    lm2 = (big.groupBy("__w1", "__w2")
           .agg(F.count(F.lit(1)).alias("__c12"))
           .filter(F.col("__c12") >= min_bigram_count))
    # unigram counts / total over ALL tokens (not just bigram starts)
    uni, _ = materialize(
        toks.groupBy(F.col("__w").alias("__u"))
        .agg(F.count(F.lit(1)).alias("__c1")))
    tot = uni.agg(F.sum("__c1").alias("__tot"))
    c1_of_w1 = uni.select(F.col("__u").alias("__w1"),
                          F.col("__c1").alias("__cw1"))
    c1_of_w2 = uni.select(F.col("__u").alias("__w2"),
                          F.col("__c1").alias("__cw2"))
    s = F.when(F.col("__c12").isNotNull(),
               F.col("__c12").cast("double") / F.col("__cw1").cast("double")) \
         .otherwise(F.lit(alpha) * F.col("__cw2").cast("double")
                    / F.col("__tot").cast("double"))
    scored = (big.join(lm2, ["__w1", "__w2"], "left")
              .join(c1_of_w1, "__w1")
              .join(c1_of_w2, "__w2")
              .crossJoin(F.broadcast(tot))
              .select("__id", F.log(s).alias("__lp"),
                      F.when(F.col("__c12").isNull(), 1).otherwise(0)
                      .alias("__bo")))
    return (scored.groupBy("__id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.round(F.sum("__bo").cast("double")
                         / F.count(F.lit(1)).cast("double"), round_dp)
                 .alias("backoff_rate"),
                 F.round(F.sum("__lp")
                         / F.count(F.lit(1)).cast("double"), round_dp)
                 .alias("avg_logp"))
            .select(F.col("__id").alias("doc_id"), "n_bigrams",
                    "backoff_rate", "avg_logp"))


#: compact fixed stop list for RAKE phrase segmentation — part of the
#: operator's CONTRACT (both engines and the oracle embed the same list)
RAKE_STOPWORDS = ("the", "a", "an", "of", "to", "and", "in", "is", "it",
                  "for", "on", "with", "as", "at", "by", "be", "or",
                  "are", "was", "that", "this", "from")


def rake_keyphrases(df: DataFrame, text_col: str, k: int = 25,
                    round_dp: int = 6) -> DataFrame:
    """L4 EXT (R243, round 6): RAKE keyphrase extraction (Rose et al.
    2010) — corpus-level top-k multi-word keyphrases: candidate phrases
    are maximal stop-word-free token runs; each word scores
    deg(w)/freq(w) with freq = total occurrences across candidates and
    deg = Σ over occurrences of the containing phrase's length (a word
    embedded in long phrases out-scores an equally frequent isolated
    one); a phrase scores the sum of its words. The phrase-level
    counterpart of collocations (R103 ranks PAIRS by PMI; RAKE ranks
    whole variable-length phrases) — the keyword-extraction tool for
    corpus topic profiling.

    Determinism: segmentation is a pure string program (stop words →
    '|' delimiters → split → trim) identical in both engines over the
    FIXED ``RAKE_STOPWORDS`` contract; freq/deg are exact integers;
    score = Σ deg/freq rounds to ``round_dp`` BEFORE ranking with a
    phrase-asc tie-break, so the selected top-k set is
    engine-reproducible.

    Scale shape: one explode to phrase instances (hash-agg'd to distinct
    phrases + counts — long tails collapse early); one explode to word
    occurrences → word hash agg; the phrase-score join touches distinct
    (phrase, word) pairs only; final cut is TakeOrdered, never a global
    sort."""
    toks = tokens(text_col)
    marked = F.transform(
        toks, lambda t: F.when(t.isin(*RAKE_STOPWORDS), F.lit("|"))
                         .otherwise(t))
    phrases_arr = F.split(F.array_join(marked, " "), r"\|")
    phr, _ = materialize(
        df.select(F.explode(phrases_arr).alias("__raw"))
        .select(F.trim(F.col("__raw")).alias("phrase"))
        .filter(F.col("phrase") != ""))
    inst_words, _ = materialize(
        phr.select(
            "phrase", F.size(F.split(F.col("phrase"), " ")).alias("__len"),
            F.explode(F.split(F.col("phrase"), " ")).alias("__w")))
    wstat = (inst_words.groupBy("__w")
             .agg(F.count(F.lit(1)).alias("__freq"),
                  F.sum("__len").alias("__deg")))
    occ = phr.groupBy("phrase").agg(F.count(F.lit(1)).alias("n_occ"))
    # EVERY side of the joins below is corpus-growing (distinct phrases
    # / distinct words — vocabulary keeps growing with a real corpus),
    # so force sort-merge: the checkpointed lineage above loses stats
    # and Catalyst otherwise auto-broadcasts a phrase-level frame, which
    # OOMs the driver the moment the corpus outgrows it (caught by the
    # round-9 synthetic-sf1 sweep at 100x).
    # word multiplicity within a phrase matters: count per (phrase, word)
    mult = (inst_words.join(occ.select("phrase", "n_occ").hint("merge"),
                            "phrase")
            .groupBy("phrase", "__w", "n_occ")
            .agg((F.count(F.lit(1)) / F.col("n_occ")).cast("long")
                 .alias("__mult")))
    score = (mult.join(wstat.hint("merge"), "__w")
             .groupBy("phrase")
             .agg(F.sum(F.col("__mult").cast("double")
                        * (F.col("__deg").cast("double")
                           / F.col("__freq").cast("double")))
                  .alias("__score")))
    ranked = (occ.join(score.hint("merge"), "phrase")
              .select("phrase", "n_occ",
                      F.round("__score", round_dp).alias("score")))
    return (ranked.orderBy(F.col("score").desc(), F.col("phrase").asc())
            .limit(k))


def burrows_delta(docs: DataFrame, source_col: str, text_col: str,
                  top_v: int = 30, round_dp: int = 6) -> DataFrame:
    """EXT (round 6): Burrows' Delta between every pair of sources —
    the classic stylometric distance (mean |z| difference over the
    corpus's most frequent words). Where `js_token_divergence` scores
    each source against the corpus, Delta scores sources against EACH
    OTHER on function-word style alone — the provenance / authorship
    clustering signal (two "different" crawls with near-zero Delta are
    one mirror; a source whose Delta to everything is huge is machine
    junk).

    Pipeline: corpus top-``top_v`` vocabulary (count desc, token asc —
    engine-stable); per (source, word) INTEGER parts-per-billion
    relative frequency fi = (c·10⁹) div t on the COMPLETE source×vocab
    grid (fi = 0 cells matter); per word the cross-source moments stay
    exact integers, so z = (S·fi − Σfi)/√(S·Σfi² − (Σfi)²) is one
    fixed-shape IEEE expression per cell (population σ over sources).
    Delta(a,b) = Σ_w |z_a − z_b| / top_v — the ONLY float sum, 30
    bounded terms rounded 6dp (the `js_token_divergence` tolerance
    precedent). Zero-variance words contribute 0 by guard.

    Scale: one explode→hash agg; the grid and everything after is
    (sources × top_v)-sized; the pair join is sources²·top_v — sources
    is a curated handful, never data-sized."""
    src = F.col(source_col).alias("__s")
    toks = docs.select(src, F.explode(tokens(text_col)).alias("__t"))
    counts = (toks.groupBy("__s", "__t")
              .agg(F.count(F.lit(1)).alias("__c")))
    # totals / vocab / stats all re-join frames derived from `counts`:
    # every branch projects to GLOBALLY FRESH names first or Spark 4's
    # resolver flags shadowed same-name attributes as ambiguous (the
    # pettitt_changepoint lesson, ARCHITECTURE part 85)
    totals = (counts.select(F.col("__s").alias("__su"),
                            F.col("__c").alias("__cu"))
              .groupBy("__su").agg(F.sum("__cu").alias("__tot")))
    w = Window.orderBy(F.col("__cc").desc(), F.col("__tv").asc())
    vocab = (counts.select(F.col("__t").alias("__tv"),
                           F.col("__c").alias("__cv"))
             .groupBy("__tv").agg(F.sum("__cv").alias("__cc"))
             .withColumn("__rn", F.row_number().over(w))
             .filter(F.col("__rn") <= top_v).select("__tv"))
    fi = F.expr("COALESCE(CAST(__c AS BIGINT), 0) * 1000000000 DIV "
                "CAST(__tot AS BIGINT)")
    g = (totals.crossJoin(F.broadcast(vocab))
         .join(counts, (counts["__s"] == F.col("__su"))
               & (counts["__t"] == F.col("__tv")), "left")
         .select(F.col("__su"), F.col("__tv"), fi.alias("__fi")))
    dec = "decimal(38,0)"
    stats = (g.select(F.col("__tv").alias("__tw"),
                      F.col("__fi").alias("__fw"))
             .groupBy("__tw").agg(
                 F.count(F.lit(1)).cast(dec).alias("__S"),
                 F.sum(F.col("__fw").cast(dec)).alias("__sf"),
                 F.sum(F.col("__fw").cast(dec) * F.col("__fw").cast(dec))
                  .alias("__sff")))
    den = (F.col("__S") * F.col("__sff") - F.col("__sf") * F.col("__sf"))
    z = ((F.col("__S") * F.col("__fi").cast(dec) - F.col("__sf"))
         .cast("double") / F.sqrt(den.cast("double")))
    scored = (g.join(F.broadcast(stats), F.col("__tv") == F.col("__tw"))
              .select(F.col("__su").alias("__zs"),
                      F.col("__tv").alias("__zt"),
                      F.when(den > 0, z).otherwise(F.lit(0.0))
                      .alias("__z")))
    a = scored.select(F.col("__zs").alias("source_a"),
                      F.col("__zt").alias("__ta"),
                      F.col("__z").alias("__za"))
    b = scored.select(F.col("__zs").alias("source_b"),
                      F.col("__zt").alias("__tb"),
                      F.col("__z").alias("__zb"))
    return (a.join(b, F.col("__ta") == F.col("__tb"))
            .filter(F.col("source_a") < F.col("source_b"))
            .groupBy("source_a", "source_b")
            .agg(F.round(F.sum(F.abs(F.col("__za") - F.col("__zb")))
                         / F.lit(float(top_v)), round_dp)
                 .alias("delta")))


def injection_screen(docs: DataFrame, id_col: str, text_col: str,
                     patterns: dict[str, str] | None = None,
                     round_dp: int = 6) -> DataFrame:
    """EXT (round 6): prompt-injection / instruction-hijack screen —
    per pattern class, how many documents match and at what rate. A
    pretraining or RAG corpus that embeds 'ignore previous
    instructions' artifacts teaches the attack; this is the PII-redaction
    (R69-family) sibling for instruction-hijack text. Patterns are
    case-insensitive regexes over the raw text; one scan, one tiny
    agg — scan-speed at 100 TB like the other regex screens.

    Default classes: override-style imperatives, role-hijack framing,
    exfiltration bait, and delimiter-escape probes. Callers extend by
    passing their own dict (class -> regex)."""
    patterns = patterns or {
        "override": r"ignore (all )?(previous|prior|above) "
                    r"(instructions|prompts)",
        # NB: patterns stay in the RE2-compatible subset (no
        # lookaround) so portable SQL engines can run them verbatim
        "role_hijack": r"you are now|pretend (you are|to be)|"
                       r"disregard your (rules|guidelines)",
        "exfiltration": r"(reveal|print|show) (your|the) "
                        r"(system prompt|instructions|secret)",
        # text is lowercased before matching: keep patterns lowercase
        "delimiter": r"<\|.*?\|>|```system|\[/?inst\]",
    }
    n = F.broadcast(docs.agg(F.count(F.lit(1)).alias("__n")))
    outs = []
    for name, rx in sorted(patterns.items()):
        hit = F.lower(F.col(text_col)).rlike(rx)
        outs.append(docs.agg(
            F.lit(name).alias("pattern_class"),
            F.sum(F.when(hit, 1).otherwise(0)).cast("long")
             .alias("n_docs")))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return (res.crossJoin(n)
            .select("pattern_class", "n_docs",
                    F.round(F.col("n_docs").cast("double")
                            / F.col("__n").cast("double"), round_dp)
                    .alias("hit_rate")))


def dataset_card(docs: DataFrame, text_col: str = "text",
                 lang_col: str = "lang", source_col: str = "source",
                 short_tokens: int = 20,
                 round_dp: int = 6) -> DataFrame:
    """EXT R300 (round 6): one-row DATASET CARD — the header block of
    a corpus datasheet, composed from the signals this engine already
    computes piecemeal: size (docs, whitespace tokens), language mix
    (count + dominant language and its share), source spread, exact
    duplicate rate (1 − distinct sha256(text)/n), token-length shape
    (mean + short-doc share). The number a data consumer reads FIRST;
    everything in it drills down to a dedicated registry query
    (text_stats, lang_id, source_curation, text_exact_dedup, ...).

    All cells are exact integers with single divisions; the dominant
    language is a struct-max (count desc, lang asc). Two hash aggs
    (doc grain, lang grain) + a scalar join."""
    toks = token_count(text_col)
    per_doc = docs.select(
        toks.cast("long").alias("__tk"),
        F.sha2(F.col(text_col), 256).alias("__h"),
        F.col(lang_col).alias("__lg"),
        F.col(source_col).alias("__src"))
    scal = per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("__tk").cast("long").alias("total_tokens"),
        F.countDistinct("__h").cast("long").alias("__nh"),
        F.countDistinct("__lg").cast("long").alias("n_langs"),
        F.countDistinct("__src").cast("long").alias("n_sources"),
        F.sum(F.when(F.col("__tk") < short_tokens, 1).otherwise(0))
         .cast("long").alias("__nshort"))
    # min(struct(-count, lang)): biggest count first, then lang ASC on
    # ties — max(struct(count, lang)) would break ties to the LARGEST
    # lang string
    lang = (per_doc.groupBy("__lg")
            .agg(F.count(F.lit(1)).alias("__c"))
            .agg(F.min(F.struct((-F.col("__c")).alias("nc"),
                                F.col("__lg").alias("l"))).alias("__t"))
            .select(F.col("__t.l").alias("top_lang"),
                    (-F.col("__t.nc")).cast("long").alias("__topc")))
    n = F.col("n_docs").cast("double")
    return (scal.crossJoin(F.broadcast(lang))
            .select(
                "n_docs", "total_tokens", "n_langs", "top_lang",
                F.round(F.try_divide(F.col("__topc").cast("double"), n),
                        round_dp).alias("top_lang_share"),
                "n_sources",
                F.round(F.try_divide((F.col("n_docs") - F.col("__nh"))
                                     .cast("double"), n), round_dp)
                .alias("exact_dup_rate"),
                F.round(F.try_divide(F.col("total_tokens").cast("double"), n),
                        round_dp).alias("mean_tokens"),
                F.round(F.try_divide(F.col("__nshort").cast("double"), n),
                        round_dp).alias("short_doc_share")))


def hapax_rate(docs: DataFrame, source_col: str, text_col: str,
               round_dp: int = 6) -> DataFrame:
    """EXT (round 6): hapax legomena rate per source — the share of a
    source's VOCABULARY that occurs exactly once in it (and the share
    of its TOKEN MASS those words carry). The corpus-linguistics
    freshness number behind Heaps/Zipf (R152-family): template spam
    has a tiny hapax rate (same words forever), OCR noise or
    mixed-language dumps an inflated one. Two integer ratios per
    source off one (source, token) histogram."""
    toks = docs.select(F.col(source_col).alias("__s"),
                       F.explode(tokens(text_col)).alias("__t"))
    counts = (toks.groupBy("__s", "__t")
              .agg(F.count(F.lit(1)).alias("__c")))
    return (counts.groupBy("__s")
            .agg(F.count(F.lit(1)).cast("long").alias("vocab_size"),
                 F.sum("__c").cast("long").alias("n_tokens"),
                 F.sum(F.when(F.col("__c") == 1, 1).otherwise(0))
                  .cast("long").alias("n_hapax"))
            .select(F.col("__s").alias(source_col), "vocab_size",
                    "n_tokens", "n_hapax",
                    F.round(F.col("n_hapax").cast("double")
                            / F.col("vocab_size").cast("double"),
                            round_dp).alias("hapax_vocab_rate"),
                    F.round(F.col("n_hapax").cast("double")
                            / F.col("n_tokens").cast("double"),
                            round_dp).alias("hapax_token_share")))
