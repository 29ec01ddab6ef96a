"""The five-stage publication pipeline (SURVEY §3 EP1), Spark-shaped.

Reference DAG: insert >> clean >> enrich >> citations >> validate
(``process_publications_dag.py:555-612``), every stage a psycopg2 loop.
Here each stage is a pure ``DataFrame → DataFrame`` function; the DAG is
function composition; actions happen only at stage sinks. Parity semantics
pinned (SURVEY §1.3):

- NULL-doi dedup passthrough (``ON CONFLICT (doi) DO NOTHING`` + Postgres
  NULLs-distinct, ``process_publications_dag.py:67``),
- naive author split on literal ', ' (``:73``) — "A and B" stays ONE author,
- title-length clean as negated-predicate filter (``:97-100``),
- orphan removal as anti-join (``:103-106``),
- deterministic surrogate keys for author/category dims (``:27-43``),
- audit log as explicit diff stage replacing the Postgres trigger
  (``database and queries aupostgres.sql:82-97``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from collections.abc import Callable

from ..functions.derive import case_when_contains
from ..operators.dedup import dedup_by_key
from ..operators.merge import assign_ids, dim_upsert, upsert_merge
from ..operators.quality import audit_diff, check, duplicate_key_audit
from ..operators.relational import min_trimmed_length
from ..operators.window import topk_per_group
from ..session import materialize

#: Ordered bibtex keyword → publication type (process_publications_dag.py:271-304).
#: ORDER MATTERS: '@article' before '@inproceedings'; specific thesis forms
#: before '@thesis' would shadow — the reference checks '@thesis' FIRST, so a
#: '@phdthesis' row matches the '@thesis' substring branch. Preserved exactly.
BIBTEX_TYPES = [
    ("@article", "Journal Article"),
    ("@inproceedings", "Conference Paper"),
    ("@book", "Book"),
    ("@thesis", "Thesis"),
    ("@techreport", "Technical Report"),
    ("@manual", "Manual"),
    ("@proceedings", "Conference Proceedings"),
    ("@unpublished", "Unpublished Work"),
    ("@misc", "Miscellaneous"),
    ("@phdthesis", "PhD Thesis"),
    ("@mastersthesis", "Masters Thesis"),
    ("@inbook", "Book Chapter"),
    ("@incollection", "Collection"),
    ("@patent", "Patent"),
    ("@online", "Online Resource"),
]


def _project_raw(raw: DataFrame) -> DataFrame:
    """The raw→hub projection shared by the initial load and daily
    incremental runs. ``authors_parsed`` (the dataset's pre-parsed
    [last, first(, suffix)] arrays — unused by the reference, SURVEY
    §1.1) rides along when the source carries it, feeding
    ``normalize(split_mode="clean")``."""
    cols = [
        F.col("id").alias("arxiv_id"), F.col("submitter"), F.col("authors"),
        F.col("title"), F.col("comments"),
        F.col("journal_ref"), F.col("doi"), F.col("report_no"),
        F.col("categories"), F.col("license"), F.col("abstract"),
        F.to_date("update_date").alias("update_date")]
    if "authors_parsed" in raw.columns:
        cols.insert(3, F.col("authors_parsed"))
    return raw.select(*cols)


def ingest(raw: DataFrame) -> DataFrame:
    """Stage 1 (``process_publications_dag.py:45-88``): normalize the nested
    JSON into the publications hub with NULL-doi-passthrough dedup and a
    deterministic surrogate id."""
    deduped = dedup_by_key(_project_raw(raw), ["doi"], [F.asc("arxiv_id")],
                           null_passthrough=True)
    # deterministic surrogate ids WITHOUT a single-task global window:
    # range-partitioned per-partition offsets (operators.merge.assign_ids)
    # materialize: a driver-coordination barrier (every later stage's
    # actions plan against the stored hub, not the dedup + id lineage)
    return materialize(assign_ids(deduped, ["arxiv_id"], id_col="pub_id"))[0]


def ingest_incremental(pubs: DataFrame, raw: DataFrame) -> DataFrame:
    """Stage 1, DAILY RE-RUN form (the reference's ``@daily`` cadence,
    ``process_publications_dag.py:547-552`` + the ON CONFLICT(doi) insert
    at ``:67``): re-ingesting a batch against an EXISTING hub.

    - in-batch NULL-passthrough dedup (same as the initial load);
    - rows whose non-null doi already exists in the hub DROP (the
      cross-run ON CONFLICT DO NOTHING; NULL dois re-insert — Postgres
      NULLs-distinct parity, so a re-ingested null-doi doc duplicates,
      exactly as the reference's daily job would);
    - survivors get surrogate ids CONTINUING after the current max
      (1-row scalar probe + distributed ``assign_ids``).

    Scale: the existing-doi probe is an anti join on the doi key — at
    warehouse scale the hub side is the big one, so this is one hash
    shuffle of (doi) pairs (or a broadcast of the DELTA's dois flipped
    into a right-anti formulation when the batch is small); no windows
    over the combined table.
    """
    deduped = dedup_by_key(_project_raw(raw), ["doi"], [F.asc("arxiv_id")],
                           null_passthrough=True)
    existing = pubs.select("doi").where(F.col("doi").isNotNull()).distinct()
    new_rows = deduped.join(existing, "doi", "left_anti")
    max_id = pubs.agg(F.coalesce(F.max("pub_id"), F.lit(0)).alias("m")) \
                 .collect()[0][0]
    with_ids = assign_ids(new_rows, ["arxiv_id"], id_col="pub_id",
                          start=int(max_id) + 1)
    return materialize(pubs.unionByName(with_ids.select(*pubs.columns)))[0]


def normalize(pubs: DataFrame,
              split_mode: str = "parity") -> dict[str, DataFrame]:
    """Stage 1b (``process_publications_dag.py:61-77``): explode authors
    and categories (whitespace split); build dims with deterministic ids +
    bridge tables.

    ``split_mode``:
    - ``"parity"`` (default): literal ``', '`` split — reproduces the
      reference bug-for-bug ("A and B" stays ONE author,
      ``process_publications_dag.py:73``).
    - ``"clean"``: the SURVEY §1.3 extension — display names from the
      dataset's pre-parsed ``authors_parsed`` [last, first(, suffix)]
      arrays when the column exists ("First Last Suffix"), else a
      ``',' | ' and '`` regex split of the raw string. "A and B" becomes
      TWO authors.
    """
    if split_mode == "clean":
        if "authors_parsed" in pubs.columns:
            # F.get: NULL (not an ANSI error) when the suffix slot is
            # absent — real dataset rows are [last, first] or
            # [last, first, suffix]
            names = F.transform(
                "authors_parsed",
                lambda a: F.trim(F.concat_ws(
                    " ", F.get(a, 1), F.get(a, 0), F.get(a, 2))))
        else:
            names = F.split(F.col("authors"), r",\s*|\s+and\s+")
    elif split_mode == "parity":
        names = F.split(F.col("authors"), ", ")
    else:
        raise ValueError(f"unknown split_mode: {split_mode!r}")
    authors_exploded = (pubs.select(
        "pub_id", F.explode(names).alias("name"))
        .filter(F.trim("name") != ""))
    cats_exploded = (pubs.select(
        "pub_id", F.explode(F.split("categories", r"\s+")).alias("category_name"))
        .filter(F.trim("category_name") != ""))

    # first load: the dims are empty BY CONSTRUCTION, so the general
    # dim_upsert (max-id probe + anti-join — two extra driver-sync jobs
    # each) degenerates to plain id assignment over the distinct names;
    # incremental runs go through dim_upsert (see enrich()'s bridge path)
    def fresh_dim(exploded: DataFrame, key: str) -> DataFrame:
        names = (exploded.select(key).where(F.col(key).isNotNull())
                 .distinct())
        return assign_ids(names, [key]).select("id", key)

    # r11 (guide §2.6): the two dim builds are independent eager chains
    # (assign_ids runs a per-partition count collect each); running them
    # from a 2-thread pool overlaps their driver-sync jobs. Ids are
    # unchanged — each build's probe is private.
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=2) as pool:
        fa = pool.submit(fresh_dim, authors_exploded, "name")
        fc = pool.submit(fresh_dim, cats_exploded, "category_name")
        authors_dim = fa.result() \
            .withColumn("affiliation", F.lit("Unknown"))  # seeded (:33)
        cats_dim = fc.result()

    authorship = (authors_exploded.join(authors_dim, "name")
                  .select("pub_id", F.col("id").alias("author_id"))
                  .dropDuplicates(["pub_id", "author_id"]))  # bridge PK (:74)
    pub_category = (cats_exploded.join(cats_dim, "category_name")
                    .select("pub_id", F.col("id").alias("category_id"))
                    .dropDuplicates(["pub_id", "category_id"]))
    return {"publications": pubs, "authors": authors_dim, "categories": cats_dim,
            "authorship": authorship, "publication_category": pub_category}


def clean(tables: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Stage 2 (``process_publications_dag.py:97-130``): drop short titles
    (P3), drop the abstract column (P2), remove author-orphans (J4)."""
    pubs = tables["publications"]
    pubs = pubs.filter(min_trimmed_length("title", 2))
    pubs = pubs.drop("abstract")
    # orphan removal: NOT IN (SELECT pub_id FROM authorship) → keep = semi join
    pubs = pubs.join(tables["authorship"].select("pub_id").distinct(),
                     "pub_id", "left_semi")
    out = dict(tables)
    out["publications"] = pubs
    # referential integrity: the warehouse FKs (database and queries
    # aupostgres.sql:54-57,63-66) imply bridges reference only surviving
    # publications — prune them to the cleaned hub (semi join on PK)
    surviving = pubs.select("pub_id")
    out["authorship"] = tables["authorship"].join(surviving, "pub_id", "left_semi")
    out["publication_category"] = tables["publication_category"] \
        .join(surviving, "pub_id", "left_semi")
    return out


def derive_types(tables: dict[str, DataFrame], bib_col: str = "comments") -> dict[str, DataFrame]:
    """Stage 3 analog (``process_publications_dag.py:271-327``): derive
    publication_type from bibtex-keyword CASE chain (branch order preserved)."""
    out = dict(tables)
    out["publications"] = tables["publications"].withColumn(
        "publication_type",
        case_when_contains(bib_col, BIBTEX_TYPES, default="Unknown"))
    return out


def enrich(tables: dict[str, DataFrame],
           fetch: Callable[[str], dict],
           limit_per_category: int = 2,
           update_bridges: bool = True) -> dict[str, DataFrame]:
    """Stage 3 (``process_publications_dag.py:161-263``): scholar enrichment.

    The reference loops categories, takes the first ``limit_per_category``
    publications per category (ORDER BY id LIMIT k per category — ONE
    windowed top-k pass here, W1), queries the scholar API per title, and
    upserts ONE ROW PER organic result ON CONFLICT (title)
    (``process_publications_dag.py:216-233``): ``journal_ref`` stores the
    result LINK, ``doi`` stores the API ``result_id`` (empty → NULL,
    ``new_doi or None``) COALESCEd with the old doi, ``submitter`` stores
    the result's first author on INSERT only — overloaded columns preserved
    for parity (SURVEY §1.3). Unmatched result titles INSERT as new
    publications with fresh surrogate ids.

    The reference's sequential per-result upserts fold set-wise here: for a
    given result title, last (key, rank) wins journal_ref/update_date, doi
    keeps the LAST NON-NULL result_id (the COALESCE chain's fixpoint), and
    submitter keeps the FIRST row's author (only the INSERT sets it).
    ORDERING APPROXIMATION: the fold orders by (key, rank) — lexicographic
    query-key order — while the reference applies upserts in its category/
    publication iteration order. The two differ ONLY when the same result
    title comes back for two different query keys AND the colliding rows
    disagree on link/result_id/first_author; conformance fixtures avoid
    such collisions, and real scholar responses make them vanishingly
    rare. Matching the reference exactly would require replaying its
    category-loop sequence — a driver-side total order over query keys —
    for no semantic gain.

    ``fetch`` is injected (tests pass a stub; production a real client) —
    the HTTP boundary lives in ``sources.http.enrich``'s mapInPandas.
    """
    from ..sources.http import enrich as http_enrich

    pubs = tables["publications"]
    picked = topk_per_group(
        tables["publication_category"], ["category_id"], [F.asc("pub_id")],
        limit_per_category).select("pub_id").distinct()
    targets = pubs.join(picked, "pub_id", "left_semi").select("title")
    # materialize: the result set feeds the publication merge AND the
    # authorship/category bridge updates — fetch exactly once, and every
    # consumer re-analyzes a block scan instead of the HTTP-stage plan
    results, _ = materialize(http_enrich(targets, "title", fetch=fetch))
    ord_ = F.struct(F.col("key"), F.col("rank"))
    source = (results.groupBy("title").agg(
        F.max_by("link", ord_).alias("journal_ref"),
        # last non-null result_id == the sequential COALESCE chain's result
        F.max_by("result_id",
                 F.when(F.col("result_id").isNotNull(), ord_)).alias("doi"),
        F.min_by("first_author", ord_).alias("submitter"))
        .withColumn("update_date", F.current_date()))
    merged = upsert_merge(pubs, source, "title",
                          update_cols=["journal_ref", "update_date"],
                          coalesce_cols=["doi"],
                          insert_cols=["submitter"])
    # materialize: the merge join feeds multiple consumers (the id-fill
    # filter branches and every downstream table) — compute the full-outer
    # join once and drop its plan. The same job observes both driver-side
    # scalars: current max id (new rows continue after it) and whether any
    # source-only row needs an id at all
    merged, probe = materialize(
        merged,
        max_id=F.coalesce(F.max("pub_id"), F.lit(0)),
        n_missing=F.count(F.when(F.col("pub_id").isNull(), 1)))
    max_id = probe["max_id"]
    missing = merged.filter(F.col("pub_id").isNull())
    if probe["n_missing"] > 0:
        with_ids = assign_ids(missing.drop("pub_id"), ["title"],
                              id_col="pub_id", start=int(max_id) + 1)
        merged = merged.filter(F.col("pub_id").isNotNull()) \
                       .unionByName(with_ids.select(*merged.columns))
    out = dict(tables)
    out["publications"] = merged
    # stash the persisted result set for cite(): the citation harvest
    # re-queries every publication title, and the enriched subset's
    # responses are already in this cache — refetching them would double
    # the HTTP cost of the shared keys (the per-partition memo only
    # dedups within one task). Private key: not a warehouse table.
    out["__enrich_results"] = results

    # --- per-result bridge updates (``process_publications_dag.py:236-258``):
    # every organic result also (a) get-or-inserts its author names and links
    # them to the result's publication, and (b) links the QUERIED paper's
    # categories to the result's publication — ON CONFLICT DO NOTHING on
    # both bridges. Runs only when the warehouse dims ride along (partial
    # table dicts update the hub only). ``update_bridges=False`` skips the
    # block entirely: dimension id assignment is driver-coordinated (eager
    # scalar collects inside dim_upsert), so consumers that never read the
    # bridge tables shouldn't pay for building them.
    if update_bridges and {"authors", "authorship", "categories",
                           "publication_category"} <= tables.keys():
        r2p = results.join(merged.select("pub_id", "title"), "title")
        api_authors = (r2p.select("pub_id",
                                  F.explode("authors").alias("name"))
                       .withColumn("name", F.trim("name"))
                       .filter(F.col("name") != ""))
        authors_dim = dim_upsert(tables["authors"], api_authors, "name") \
            .withColumn("affiliation",
                        F.coalesce("affiliation", F.lit("Unknown")))
        out["authors"] = authors_dim
        out["authorship"] = (tables["authorship"].unionByName(
            api_authors.join(authors_dim.select("id", "name"), "name")
                       .select("pub_id", F.col("id").alias("author_id")))
            .dropDuplicates(["pub_id", "author_id"]))
        # categories_str of the queried paper attaches to the result pub
        qcat = (r2p.select("pub_id", "key")
                .join(pubs.select(F.col("title").alias("key"), "categories"),
                      "key")
                .select("pub_id", F.explode(
                    F.split("categories", r"\s+")).alias("category_name"))
                .filter(F.trim("category_name") != ""))
        cats_dim = dim_upsert(tables["categories"], qcat, "category_name")
        out["categories"] = cats_dim
        out["publication_category"] = (tables["publication_category"]
            .unionByName(
                qcat.join(cats_dim.select("id", "category_name"),
                          "category_name")
                    .select("pub_id", F.col("id").alias("category_id")))
            .dropDuplicates(["pub_id", "category_id"]))
    return out


def cite(tables: dict[str, DataFrame],
         fetch: Callable[[str], dict]) -> dict[str, DataFrame]:
    """Stage 4 (``process_publications_dag.py:441-476``): citation harvest.

    Per enriched publication title, the scholar response contributes
    citation rows ``(publication_id, title, author, year)`` where author is
    the first '-'-delimited token of the result summary ('Unknown' when
    absent, F4 at ``:452-453``) and ``year`` is ALWAYS NULL (the reference
    inserts NULL at ``:460`` — parity bug kept deliberately).

    Titles already fetched by ``enrich()`` reuse its persisted result
    cache (``__enrich_results``); only the complement goes back through
    the HTTP stage — sound because ``fetch`` responses are deterministic
    per key (retries + memoization make them so in production too).
    """
    from ..sources.http import enrich as http_enrich

    pubs = tables["publications"]
    titles = pubs.select("title")
    cached = tables.get("__enrich_results")
    if cached is not None:
        remaining = titles.join(
            cached.select(F.col("key").alias("title")).distinct(),
            "title", "left_anti")
        results = cached.unionByName(
            http_enrich(remaining, "title", fetch=fetch))
    else:
        results = http_enrich(titles, "title", fetch=fetch)
    first_author = (
        F.when(F.instr("summary", "-") > 0,
               F.trim(F.substring_index("summary", "-", 1)))
         .otherwise(F.lit("Unknown")))
    r = results.alias("r")
    p = pubs.select("pub_id", "title").alias("p")
    citations = (r.join(p, F.col("r.key") == F.col("p.title"))
                 .select(F.col("p.pub_id").alias("publication_id"),
                         F.col("r.title").alias("title"),
                         first_author.alias("author"),
                         F.lit(None).cast("int").alias("year")))
    out = dict(tables)
    out["citations"] = citations
    return out


def validate(tables: dict[str, DataFrame]) -> DataFrame:
    """Stage 5 (``process_publications_dag.py:486-535``): named data-quality
    checks as one unioned report DataFrame."""
    pubs = tables["publications"]
    authors = tables["authors"]
    dup = duplicate_key_audit(pubs, "doi").agg(
        F.count(F.lit(1)).alias("violations")).select(
        F.lit("duplicate_doi").alias("check"),
        F.coalesce(F.col("violations"), F.lit(0)).alias("violations")) \
        .withColumn("ok", F.col("violations") == 0)
    missing = check(pubs, "missing_doi",
                    F.col("doi").isNull() | (F.trim("doi") == ""))
    blank_aff = check(authors, "blank_affiliation",
                      F.col("affiliation").isNull() | (F.trim("affiliation") == ""))
    return dup.unionByName(missing).unionByName(blank_aff)


def run_pipeline(raw: DataFrame,
                 fetch: Callable[[str], dict] | None = None,
                 enrich_bridges: bool = True,
                 split_mode: str = "parity") -> dict[str, DataFrame]:
    """EP1 composition: the full DAG as function composition — insert >>
    clean >> enrich >> citations >> validate (``process_publications_dag.py:
    606-612``). The enrich/citations stages run only when a ``fetch``
    callable is injected (no network in tests/conformance; the reference's
    SerpApi client drops into the same slot). Returns all warehouse tables
    + validation report + audit log of the clean stage."""
    from pyspark import StorageLevel

    pubs = ingest(raw)
    tables = normalize(pubs, split_mode=split_mode)
    before = tables["publications"].select("pub_id", "title", "doi")
    tables = clean(tables)
    tables = derive_types(tables)
    # the cleaned hub feeds the audit diff, enrich targets + merge, cite,
    # validate, and every downstream analytics consumer — cache it once
    tables["publications"] = tables["publications"] \
        .persist(StorageLevel.MEMORY_AND_DISK)
    after = tables["publications"].select("pub_id", "title", "doi")
    tables["log_table"] = audit_diff(before, after, "publications")
    if fetch is not None:
        tables = enrich(tables, fetch, update_bridges=enrich_bridges)
        tables = cite(tables, fetch)
    tables["validation"] = validate(tables)
    return tables
