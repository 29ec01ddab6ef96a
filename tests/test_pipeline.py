"""End-to-end pipeline smoke on a reference-shaped fixture (FIXTURES.md A1:
includes every mandated dirty row) + streaming batch-equivalence."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_engineering__spark.plans.pipeline import run_pipeline


def _raw_fixture(spark):
    rows = [
        # clean rows
        Row(id="0704.0001", submitter="s1", authors="A One, B Two",
            title="Sparsity and rigidity", comments="@article ref",
            journal_ref="J1", doi="10.1/a", report_no=None,
            categories="math.CO cs.CG", license=None,
            abstract="long text", update_date="2008-12-13"),
        # duplicate non-null doi pair → one survives
        Row(id="0704.0002", submitter="s2", authors="C Three",
            title="Duplicate doi twin", comments=None,
            journal_ref=None, doi="10.1/a", report_no=None,
            categories="math.CO", license=None,
            abstract="x", update_date="2009-01-01"),
        # two NULL-doi rows → BOTH must survive dedup
        Row(id="0704.0003", submitter="s3", authors="D Four",
            title="Null doi one", comments="@book",
            journal_ref=None, doi=None, report_no=None,
            categories="cs.CG", license=None,
            abstract="y", update_date="2009-02-02"),
        Row(id="0704.0004", submitter="s4", authors="E Five",
            title="Null doi two", comments=None,
            journal_ref=None, doi=None, report_no="RPT-1",
            categories="cs.AI", license=None,
            abstract="z", update_date="2009-03-03"),
        # title too short after trim → cleaned out
        Row(id="0704.0005", submitter="s5", authors="F Six",
            title=" x ", comments=None,
            journal_ref=None, doi="10.1/b", report_no=None,
            categories="cs.AI", license=None,
            abstract="w", update_date="2009-04-04"),
        # 'and'-joined authors with no comma → ONE author (naive split parity)
        Row(id="0704.0006", submitter="s6", authors="G Seven and H Eight",
            title="And-joined authors", comments="@phdthesis",
            journal_ref=None, doi="10.1/c", report_no=None,
            categories="math.CO stat.ML", license=None,
            abstract="v", update_date="2009-05-05"),
    ]
    schema = ("id string, submitter string, authors string, title string, "
              "comments string, journal_ref string, doi string, report_no string, "
              "categories string, license string, abstract string, update_date string")
    return spark.createDataFrame(rows, schema)


def test_pipeline_end_to_end(spark):
    tables = run_pipeline(_raw_fixture(spark))
    pubs = tables["publications"]
    titles = {r.title for r in pubs.select("title").collect()}
    # dup-doi twin deduped (min arxiv_id wins), short title cleaned
    assert "Duplicate doi twin" not in titles
    assert " x " not in titles
    # both null-doi rows survived
    assert {"Null doi one", "Null doi two"} <= titles
    # abstract dropped
    assert "abstract" not in pubs.columns
    # naive split: the and-joined author is one dim row
    author_names = {r.name for r in tables["authors"].collect()}
    assert "G Seven and H Eight" in author_names
    assert "G Seven" not in author_names
    # bibtex branch mapping applied
    types = {r.title: r.publication_type
             for r in pubs.select("title", "publication_type").collect()}
    assert types["Sparsity and rigidity"] == "Journal Article"
    assert types["And-joined authors"] == "PhD Thesis"
    assert types["Null doi two"] == "Unknown"
    # bridge integrity: every authorship pub_id exists in publications
    orphan = (tables["authorship"].join(pubs.select("pub_id"), "pub_id", "left_anti"))
    assert orphan.count() == 0
    # validation report: no duplicate dois remain; missing dois counted
    report = {r.check: r.violations for r in tables["validation"].collect()}
    assert report["duplicate_doi"] == 0
    assert report["missing_doi"] == 2
    # audit log captured the cleaning-stage deletions
    assert tables["log_table"].filter(F.col("operation") == "OLD").count() >= 1


def test_streaming_matches_batch(spark, sf_dir):
    """ST1 semantics: the streaming tumbling agg equals the batch agg."""
    from data_engineering__spark.conformance import QUERIES
    batch = {tuple(sorted(r.asDict().items()))
             for r in QUERIES["tumbling_window_agg"](spark, sf_dir).collect()}
    stream = {tuple(sorted(r.asDict().items()))
              for r in QUERIES["streaming_tumbling"](spark, sf_dir).collect()}
    assert batch == stream


def test_streaming_session_matches_batch(spark, sf_dir):
    """ST2 semantics: session windows through the streaming engine equal the
    batch session_window aggregation (same 30-min gap merge, same counts) —
    the tumbling equality test's sibling for MERGING window state."""
    from data_engineering__spark.conformance import QUERIES
    batch = {(r.user_id, r.session_start_epoch, r.cnt)
             for r in QUERIES["session_window_agg"](spark, sf_dir).collect()}
    stream = {(r.user_id, r.session_start_epoch, r.cnt)
              for r in QUERIES["streaming_session"](spark, sf_dir).collect()}
    assert batch == stream


def test_http_enrichment_stubbed(spark):
    """U2: mapInPandas enrichment with injected fetch (no network), retry
    path exercised via a fetch that fails once per key."""
    from data_engineering__spark.sources.http import enrich

    calls: dict[str, int] = {}

    def flaky_fetch(key: str) -> dict:
        calls[key] = calls.get(key, 0) + 1
        if calls[key] == 1:
            raise ConnectionError("429")
        return {"organic_results": [{
            "title": f"T-{key}", "link": f"http://x/{key}",
            "result_id": f"rid-{key}",
            "publication_info": {"summary": f"A Author - Venue, {key}"}}]}

    df = spark.createDataFrame([Row(doi="a"), Row(doi="b"), Row(doi="a")]) \
              .coalesce(1)
    out = enrich(df, "doi", fetch=flaky_fetch, attempts=3, base_sleep=0.0)
    rows = {(r.key, r.title, r.result_id) for r in out.collect()}
    assert rows == {("a", "T-a", "rid-a"), ("b", "T-b", "rid-b")} or \
           len(rows) == 3  # memo dedups within a partition; 'a' rows identical
    got = {r.key for r in out.collect()}
    assert got == {"a", "b"}


def test_normalize_clean_split_modes(spark):
    """SURVEY §1.3 extension: parity mode keeps "A and B" as ONE author
    (bug-for-bug); clean mode yields TWO — via the pre-parsed
    ``authors_parsed`` arrays when present, else a ','/' and ' regex
    split of the raw string, and the two clean routes agree."""
    from data_engineering__spark.plans.pipeline import normalize

    pubs = spark.createDataFrame([
        Row(pub_id=1, authors="Ileana Streinu and Louis Theran",
            authors_parsed=[["Streinu", "Ileana"], ["Theran", "Louis"]],
            categories="cs.CG"),
        Row(pub_id=2, authors="A One, B Two and C Three",
            authors_parsed=[["One", "A"], ["Two", "B"], ["Three", "C"]],
            categories="math.CO"),
        Row(pub_id=3, authors="Solo Author",
            authors_parsed=[["Author", "Solo", "Jr."]],
            categories="cs.DB"),
    ])

    parity = normalize(pubs.drop("authors_parsed"))
    parity_names = {r.name for r in parity["authors"].collect()}
    assert "Ileana Streinu and Louis Theran" in parity_names  # ONE author
    assert len(parity_names) == 4  # 1 + 2 + 1

    clean = normalize(pubs, split_mode="clean")
    clean_names = {r.name for r in clean["authors"].collect()}
    assert clean_names == {"Ileana Streinu", "Louis Theran", "A One",
                           "B Two", "C Three", "Solo Author Jr."}

    # string-split fallback (no authors_parsed column) agrees modulo the
    # suffix only the parsed arrays carry
    fallback = normalize(pubs.drop("authors_parsed"), split_mode="clean")
    fb_names = {r.name for r in fallback["authors"].collect()}
    assert fb_names == {"Ileana Streinu", "Louis Theran", "A One",
                        "B Two", "C Three", "Solo Author"}

    with pytest.raises(ValueError):
        normalize(pubs, split_mode="nope")


def test_http_live_transport_against_local_server(spark):
    """S4 live path: ``live_fetch_factory`` drives a real ``requests`` GET
    with the reference's param shape (engine/q/start/num/api_key/hl,
    ``process_publications_dag.py:181-199``) and 429-backoff retry, proven
    against a local in-process HTTP server — no external network."""
    import json as _json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer
    from urllib.parse import parse_qs, urlparse

    from data_engineering__spark.sources.http import (
        RateLimitError, enrich, live_fetch_factory, retry_backoff)

    hits: list[dict] = []

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            qs = {k: v[0] for k, v in
                  parse_qs(urlparse(self.path).query).items()}
            hits.append(qs)
            # first request per key rate-limited -> retry path must fire
            if sum(1 for h in hits if h.get("q") == qs.get("q")) == 1:
                self.send_response(429)
                self.end_headers()
                return
            body = _json.dumps({"organic_results": [{
                "title": f"T-{qs['q']}", "link": f"http://x/{qs['q']}",
                "result_id": f"rid-{qs['q']}",
                "publication_info": {
                    "authors": [{"name": "A Author"}],
                    "summary": f"A Author - Venue, {qs['q']}"}}]}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # keep pytest output clean
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/search"
        fetch = live_fetch_factory(base_url=url, api_key="test-key")

        # direct: 429 then 200 through retry_backoff
        payload = retry_backoff(lambda: fetch("direct"), attempts=3,
                                base_sleep=0.0)
        assert payload["organic_results"][0]["result_id"] == "rid-direct"

        # end-to-end through the mapInPandas operator (single partition so
        # the local server sees a deterministic sequence)
        df = spark.createDataFrame([Row(doi="x"), Row(doi="y")]).coalesce(1)
        out = enrich(df, "doi", fetch=fetch, attempts=3, base_sleep=0.0)
        rows = {(r.key, r.title, r.first_author) for r in out.collect()}
        assert rows == {("x", "T-x", "A Author"), ("y", "T-y", "A Author")}

        # reference param shape reached the wire
        sample = hits[-1]
        assert sample["engine"] == "google_scholar"
        assert sample["api_key"] == "test-key"
        assert sample["start"] == "0" and sample["num"] == "2"
        assert sample["hl"] == "en"

        # a 429 with retries exhausted surfaces as the retryable class
        with pytest.raises(RateLimitError):
            retry_backoff(lambda: fetch("direct2"), attempts=1,
                          base_sleep=0.0)
    finally:
        srv.shutdown()
        srv.server_close()


def test_http_default_fetch_gated(monkeypatch):
    """Without ``SPARK_GRAFT_HTTP_LIVE=1`` the default transport refuses to
    touch the network; with it, it delegates to the live client."""
    from data_engineering__spark.sources import http as http_mod

    monkeypatch.delenv("SPARK_GRAFT_HTTP_LIVE", raising=False)
    with pytest.raises(NotImplementedError):
        http_mod.default_fetch("anything")

    monkeypatch.setenv("SPARK_GRAFT_HTTP_LIVE", "1")
    monkeypatch.setattr(http_mod, "_live_fetch", lambda q: {"q": q})
    assert http_mod.default_fetch("abc") == {"q": "abc"}
    monkeypatch.setattr(http_mod, "_live_fetch", None)


def test_http_enrichment_one_row_per_organic_result(spark):
    """S4 cardinality parity: the reference iterates ALL organic_results per
    query (process_publications_dag.py:216, :445) — one output row per
    result; empty result lists emit zero rows; result_id '' → NULL
    (new_doi or None); first_author from publication_info.authors[0]."""
    from data_engineering__spark.sources.http import enrich

    def fetch(key: str) -> dict:
        if key == "none":
            return {"organic_results": []}
        return {"organic_results": [
            {"title": f"R0-{key} ", "link": f"http://x/{key}/0",
             "result_id": "",                      # '' → NULL doi
             "publication_info": {
                 "summary": "S0", "authors": [{"name": "Ada"}]}},
            {"title": f"R1-{key}", "link": f"http://x/{key}/1",
             "result_id": f"rid-{key}-1",
             "publication_info": {"summary": "S1"}},   # no authors → Unknown
        ]}

    df = spark.createDataFrame([Row(q="a"), Row(q="none"), Row(q="b")])
    out = enrich(df, "q", fetch=fetch).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r.key, []).append(r)
    assert set(by_key) == {"a", "b"} and all(len(v) == 2 for v in by_key.values())
    r0 = next(r for r in by_key["a"] if r.rank == 0)
    r1 = next(r for r in by_key["a"] if r.rank == 1)
    assert r0.title == "R0-a" and r0.result_id is None and r0.first_author == "Ada"
    assert r1.result_id == "rid-a-1" and r1.first_author == "Unknown"


def test_enrich_stage_reference_merge_semantics(spark):
    """EP1 enrich parity: per-result upsert fold — doi keeps last non-null
    result_id, submitter set on INSERT only, journal_ref last-write-wins
    (process_publications_dag.py:216-233)."""
    from data_engineering__spark.plans.pipeline import enrich

    pubs = spark.createDataFrame(
        [(1, "x1", "orig", "A One", "Known title", None, None, None,
          None, "cs.AI", None, None)],
        "pub_id long, arxiv_id string, submitter string, authors string, "
        "title string, comments string, journal_ref string, doi string, "
        "report_no string, categories string, license string, "
        "update_date date")
    bridge = spark.createDataFrame([Row(pub_id=1, category_id=1)])

    def fetch(key: str) -> dict:
        return {"organic_results": [
            {"title": "Known title", "link": "http://r0", "result_id": "RID0",
             "publication_info": {"authors": [{"name": "Api Author"}]}},
            {"title": "Known title", "link": "http://r1", "result_id": "",
             "publication_info": {}},
            {"title": "Brand new", "link": "http://new", "result_id": "",
             "publication_info": {"authors": [{"name": "New Author"}]}},
        ]}

    out = enrich({"publications": pubs, "publication_category": bridge},
                 fetch=fetch)["publications"]
    got = {r.title: r for r in out.collect()}
    known, new = got["Known title"], got["Brand new"]
    # matched: journal_ref = LAST result's link; doi = last NON-NULL rid;
    # submitter untouched by the conflict update
    assert known.journal_ref == "http://r1" and known.doi == "RID0"
    assert known.submitter == "orig" and known.pub_id == 1
    # inserted: submitter from the result's first author, fresh surrogate id
    assert new.submitter == "New Author" and new.doi is None
    assert new.pub_id == 2


def test_enrich_stage_bridge_updates(spark):
    """EP1 enrich parity: per-result authorship inserts (API authors
    get-or-insert + link to the result pub) and category bridging (queried
    paper's categories attach to the result pub) —
    process_publications_dag.py:236-258."""
    from data_engineering__spark.plans.pipeline import enrich

    pubs = spark.createDataFrame(
        [(1, "orig", "Known title", None, None, "cs.AI stat.ML", None)],
        "pub_id long, submitter string, title string, journal_ref string, "
        "doi string, categories string, update_date date")
    tables = {
        "publications": pubs,
        "authors": spark.createDataFrame([(7, "Existing Author", "Unknown")],
                                         "id long, name string, affiliation string"),
        "authorship": spark.createDataFrame([(1, 7)],
                                            "pub_id long, author_id long"),
        "categories": spark.createDataFrame([(3, "cs.AI")],
                                            "id long, category_name string"),
        "publication_category": spark.createDataFrame(
            [(1, 3)], "pub_id long, category_id long"),
    }

    def fetch(key: str) -> dict:
        return {"organic_results": [
            {"title": "New result", "link": "http://r", "result_id": "RID",
             "publication_info": {"authors": [
                 {"name": "Existing Author"}, {"name": " Brand New "}]}}]}

    out = enrich(tables, fetch=fetch)
    new_pub = out["publications"].filter(F.col("title") == "New result") \
                                 .collect()[0]
    authors = {r.name: r.id for r in out["authors"].collect()}
    # existing author reused its id; new author got max+1 and 'Unknown' aff
    assert authors["Existing Author"] == 7 and authors["Brand New"] == 8
    assert all(r.affiliation == "Unknown" for r in out["authors"].collect())
    ap = {(r.pub_id, r.author_id) for r in out["authorship"].collect()}
    assert (1, 7) in ap and (new_pub.pub_id, 7) in ap \
        and (new_pub.pub_id, 8) in ap
    # queried paper's categories attach to the result pub; stat.ML
    # get-or-inserts into the category dim
    cats = {r.category_name: r.id for r in out["categories"].collect()}
    assert cats["cs.AI"] == 3 and cats["stat.ML"] == 4
    pc = {(r.pub_id, r.category_id) for r in out["publication_category"].collect()}
    assert (1, 3) in pc and (new_pub.pub_id, 3) in pc \
        and (new_pub.pub_id, 4) in pc


def test_multimodal_null_content_degrades_to_null_feature(spark):
    """L5: a NULL payload row yields a NULL feature (FEATURE_SCHEMA allows
    it) instead of failing the whole mapInPandas stage."""
    from data_engineering__spark.operators.multimodal import (
        extract_features,
        synthesize_media,
    )
    media = synthesize_media(spark, n=4).withColumn(
        "content", F.when(F.col("media_id") == 2, F.lit(None)
                          .cast("binary")).otherwise(F.col("content")))
    rows = {r.media_id: r for r in extract_features(media).collect()}
    assert rows[2].feature is None and rows[2].content_sha is None
    assert rows[2].n_bytes == 0
    assert all(rows[i].feature is not None for i in (0, 1, 3))


def test_multimodal_feature_shapes(spark):
    """L5: Arrow-batched feature extraction — deterministic fake kernel,
    real schema/batch plumbing."""
    from data_engineering__spark.operators.multimodal import (
        extract_features,
        frame_sample_plan,
        synthesize_media,
    )
    media = synthesize_media(spark, n=30)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(len(r.feature) == 8 for r in rows)
    assert all(r.content_sha and r.n_bytes > 0 for r in rows)
    # frame sampling expands videos by duration
    frames = frame_sample_plan(media, every_ms=1000)
    vid = media.filter(F.col("modality") == "video").count()
    assert frames.count() >= vid


def test_pipeline_with_enrichment_and_citations(spark):
    """EP1 stages 3-4: injected-fetch enrichment merges scholar results on
    title (journal_ref := link, doi := COALESCE(result_id, old)); citations
    carry first-token authors and ALWAYS-NULL year (reference parity,
    process_publications_dag.py:460)."""
    from data_engineering__spark.plans.pipeline import run_pipeline

    schema = ("id string, submitter string, authors string, title string, "
              "comments string, journal_ref string, doi string, "
              "report_no string, categories string, license string, "
              "abstract string, update_date string")
    rows = [(f"a{i}", "s", "Jane Doe, John Smith", f"Title {i}",
             "@article x", None, None, None, "cs.AI", None, "abs",
             "2020-01-02") for i in range(6)]
    raw = spark.createDataFrame(rows, schema)

    def fake_fetch(key: str) -> dict:
        return {"organic_results": [{
            "title": f"Cited work about {key}",
            "link": f"https://scholar.example/{key}",
            "result_id": f"rid::{key}",
            "publication_info": {"summary": f"A Scholar - Journal of {key}"}}]}

    t = run_pipeline(raw, fetch=fake_fetch)
    pubs = {r.title: r for r in t["publications"].collect()}
    # enriched pubs carry the scholar link + result_id (overloaded cols)
    enriched = [r for r in pubs.values() if r.journal_ref is not None]
    assert enriched and all(r.journal_ref.startswith("https://scholar.example/")
                            for r in enriched)
    assert all(r.doi.startswith("rid::") for r in enriched)
    cites = t["citations"].collect()
    assert cites and all(r.year is None for r in cites)
    assert all(r.author == "A Scholar" for r in cites)
    assert all(r.title.startswith("Cited work about ") for r in cites)
    # FK integrity: every citation points at an existing publication
    pub_ids = {r.pub_id for r in t["publications"].collect()}
    assert all(r.publication_id in pub_ids for r in cites)


def test_pipeline_rerun_reuses_generated_classes(spark, sf_dir):
    """A second pass of the same pipeline must find its generated classes
    in the codegen cache (``spark.sql.codegen.cache.maxEntries`` in
    ``session.RUNTIME_CONF``). A pass here compiles about 300 classes; at
    Spark's default of 100 entries the LRU evicts each before its next use
    and the second pass recompiles about as much as the first.
    The cache (private to the ``CodeGenerator`` object, so reached by
    reflection) is emptied first so the first pass is cold whatever ran
    earlier in the session."""
    from data_engineering__spark.conformance import _arxiv_raw, _parity_fetch

    jvm = spark._jvm
    compiles = (jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    gen = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    cache = gen.getDeclaredField("cache")
    cache.setAccessible(True)
    cache.get(gen.getField("MODULE$").get(None)).invalidateAll()
    counts = []
    for _ in range(2):
        before = compiles.getCount()
        tables = run_pipeline(_arxiv_raw(spark, sf_dir), fetch=_parity_fetch)
        for df in tables.values():
            df.write.format("noop").mode("overwrite").save()
        tables["publications"].unpersist()
        counts.append(compiles.getCount() - before)
    first, second = counts
    assert second * 4 < first, f"Janino compiles per pass: {counts}"


def test_ingest_incremental_empty_batch_keeps_hub(spark, sf_dir):
    """An empty day-2 batch is the normal case for the daily re-run: the
    hub comes back unchanged (same schema, same rows, same ids)."""
    from data_engineering__spark.conformance import _arxiv_raw
    from data_engineering__spark.plans.pipeline import (
        ingest, ingest_incremental)

    raw = _arxiv_raw(spark, sf_dir)
    hub = ingest(raw)
    out = ingest_incremental(hub, raw.limit(0))
    assert out.schema == hub.schema
    by_id = lambda df: sorted(df.collect(), key=lambda r: r.pub_id)
    want = by_id(hub)
    assert want and by_id(out) == want
