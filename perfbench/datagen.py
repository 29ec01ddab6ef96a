"""Seeded input generation for the benchmark.

Everything the program reads is made here from ``--seed``, so a run never
depends on data outside its working directory:

- ``write_tables`` writes the warehouse tables the conformance registry
  scans (TPC-H-shaped star schema, an ``events`` stream, a text corpus and
  an embedding table), or the subset a workload reads, with the column
  types and value distributions of the registry's reference test data, as
  one parquet file each.
- ``write_arxiv_days`` writes two daily arXiv-style JSON arrays for the ETL
  workload, built with the dirty-row rules of the registry's
  ``_arxiv_raw`` fixture: doi groups, NULL and blank dois, short titles,
  authors that all fail to parse, "A and B" authors and multi-category
  strings with doubled whitespace.

Same seed, same bytes: only numpy's seeded generator and the stdlib are
used, and no wall-clock value enters a file.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the corpus vocabulary of the reference test data
WORDS = ("a batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window agg").split()
LANGS = (["en"] * 8) + ["zh", "es", "fr", "de"] * 3
PART_ADJ = "large hot blue old cold red small new".split()
PART_NOUN = "ring bolt plate gear widget rod anvil gizmo".split()
PART_TYPES = "LARGE ECONOMY SMALL STANDARD MEDIUM PROMO".split()
SEGMENTS = "FURNITURE MACHINERY AUTOMOBILE BUILDING HOUSEHOLD".split()
EVENT_TYPES = "signup purchase view click error".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
CATEGORY_STRINGS = ["cs.AI", "cs.AI math.CO", "stat.ML", "math.CO  stat.ML",
                    "cs.DB"]
BIBTEX = ["@article", "@inproceedings", "@book", "@thesis", "@techreport",
          "@misc", "@phdthesis", None, None]


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


#: every registry table
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def make_tables(seed: int, scale: float, n_docs: int, n_vectors: int,
                only: tuple[str, ...] = TABLES) -> dict[str, pa.Table]:
    """The registry tables named in ``only`` at ``scale`` (1.0 = 6M
    lineitem rows). Each table draws from its own seeded generator, so its
    bytes do not depend on which other tables are made."""
    def want(name: str):
        """The table's generator, or None when it is not asked for."""
        if name not in only:
            return None
        return np.random.default_rng([seed, TABLES.index(name)])

    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_ord = max(200, int(1_500_000 * scale))
    n_line = max(800, int(6_000_000 * scale))
    n_ev = max(500, int(1_000_000 * scale))
    n_users = max(15, n_ev // 67)

    day0 = np.datetime64("1995-01-01")
    span = (np.datetime64("2001-08-01") - day0).astype(int)
    t = {}
    if (rng := want("region")) is not None:
        t["region"] = pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    if (rng := want("nation")) is not None:
        t["nation"] = pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    if (rng := want("customer")) is not None:
        t["customer"] = pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    if (rng := want("supplier")) is not None:
        t["supplier"] = pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})
    if (rng := want("part")) is not None:
        t["part"] = pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    if (rng := want("orders")) is not None:
        t["orders"] = pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(
                (day0 + rng.integers(0, span + 1, n_ord)).astype("datetime64[us]")),
            "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    if (rng := want("lineitem")) is not None:
        okeys = np.sort(rng.integers(0, n_ord, n_line))
        linenum = np.ones(n_line, dtype=np.int32)
        for i in range(1, n_line):  # 1-based line numbers within each order
            if okeys[i] == okeys[i - 1]:
                linenum[i] = linenum[i - 1] + 1
        perm = rng.permutation(n_line)
        qty = rng.integers(1, 51, n_line).astype(float)
        t["lineitem"] = pa.table({
            "l_orderkey": pa.array(okeys[perm], pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(linenum[perm], pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
            "l_shipdate": pa.array(
                (day0 + rng.integers(0, span + 95, n_line)).astype("datetime64[us]"))})
    if (rng := want("events")) is not None:
        month_us = 30 * 86400 * 10**6
        ts = np.sort(rng.integers(0, month_us, n_ev)) + \
            np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
        t["events"] = pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})
    if (rng := want("documents")) is not None:
        texts = [_text(rng, int(n)) for n in rng.integers(8, 100, n_docs)]
        # plant exact and one-word-edited copies so the dedup keys find pairs
        for i in range(0, n_docs, 37):
            j = int(rng.integers(0, n_docs))
            if j == i:
                continue
            words = texts[j].split()
            if i % 2:
                k = int(rng.integers(0, len(words)))
                words[k] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts[i] = " ".join(words)
        t["documents"] = pa.table({
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    if (rng := want("embeddings")) is not None:
        labels = rng.integers(0, 10, n_vectors)
        centroids = rng.normal(0.0, 0.07, (10, 64))
        vecs = rng.normal(0.0, 1.0 / 8.0, (n_vectors, 64)) + centroids[labels]
        for i in range(0, n_vectors, 41):  # near-duplicate vectors
            vecs[i] = vecs[(i * 7 + 3) % n_vectors] + rng.normal(0.0, 0.002, 64)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        t["embeddings"] = pa.table({
            "vec_id": pa.array(np.arange(n_vectors), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)),
                                  pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32())})
    return t


def write_tables(out_dir: str, seed: int, scale: float, n_docs: int,
                 n_vectors: int, only: tuple[str, ...] = TABLES) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, scale, n_docs, n_vectors,
                                   only).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------- ETL input

#: JSON schema of one arXiv record, as ``sources.io.read_json_array`` reads it
ARXIV_DDL = ("id string, submitter string, authors string, "
             "authors_parsed array<array<string>>, title string, "
             "comments string, journal_ref string, doi string, "
             "report_no string, categories string, license string, "
             "abstract string, versions array<struct<version:string,"
             "created:string>>, update_date string")


def _fresh_dois(rng, first: int, n: int) -> list[str | None]:
    """1/7 NULL (every NULL-doi row survives dedup), 1/11 blank (one
    blank-doi group), the rest in doi groups of up to 4 records."""
    r = rng.integers(0, 77, n)
    return [None if x < 11 else "" if x < 18 else f"10.{i - i % 4}"
            for i, x in zip(range(first, first + n), r)]


def _records(rng, first: int, dois: list[str | None],
             n_authors: int) -> list[dict]:
    """Records ``first``, ``first + 1``, ... under the ``_arxiv_raw``
    rules, one per doi, drawn at random."""
    n = len(dois)
    abc = rng.integers(0, n_authors, (n, 3)).tolist()
    form = rng.integers(0, 69, n).tolist()   # 1/23 orphan, 1/3 "A, B and C"
    short = (rng.integers(0, 41, n) == 0).tolist()  # 1/41 too short to keep
    title_len = rng.integers(2, 6, n).tolist()
    abstract_len = rng.integers(20, 60, n).tolist()
    words = np.array(WORDS)[rng.integers(0, len(WORDS), (n, 64))].tolist()
    day = rng.integers(0, 6000, n).tolist()
    bibtex = rng.integers(0, len(BIBTEX), n).tolist()
    category = rng.integers(0, len(CATEGORY_STRINGS), n).tolist()
    days = [datetime(2007, 4, 2) + timedelta(days=d) for d in range(6000)]
    created = [d.strftime("%a, %d %b %Y %H:%M:%S GMT") for d in days]
    updated = [d.strftime("%Y-%m-%d") for d in days]
    out = []
    for k in range(n):
        rec_no = first + k
        a, b, c = abc[k]
        if form[k] < 3:
            authors, parsed = "", []
        elif form[k] < 26:
            authors = f"Alice A{a}, Bob B{b} and Carol C{c}"
            parsed = [[f"A{a}", "Alice"], [f"B{b}", "Bob"], [f"C{c}", "Carol"]]
        else:
            authors = f"Alice A{a}, Dana D{b}"
            parsed = [[f"A{a}", "Alice"], [f"D{b}", "Dana"]]
        title = (" x " if short[k] else
                 f"Doc {rec_no}: " + " ".join(words[k][:title_len[k]]))
        out.append({
            "id": f"arx.{rec_no:012d}", "submitter": "sub",
            "authors": authors, "authors_parsed": parsed, "title": title,
            "comments": BIBTEX[bibtex[k]], "journal_ref": None,
            "doi": dois[k], "report_no": None,
            "categories": CATEGORY_STRINGS[category[k]], "license": None,
            "abstract": " ".join(words[k][5:5 + abstract_len[k]]),
            "versions": [{"version": "v1", "created": created[day[k]]}],
            "update_date": updated[day[k]]})
    return out


def write_arxiv_days(out_dir: str, seed: int, day1: int,
                     day2: int) -> tuple[str, str]:
    """Day 1: ``day1`` fresh records. Day 2: ``day2`` new records, half of
    them carrying a doi that day 1 already loaded."""
    rng = np.random.default_rng(seed + 1)
    n_authors = max(20, day1 // 8)
    os.makedirs(out_dir, exist_ok=True)
    recs1 = _records(rng, 0, _fresh_dois(rng, 0, day1), n_authors)
    old = [r["doi"] for r in recs1 if r["doi"]]
    fresh = _fresh_dois(rng, day1, day2)
    repeat = rng.integers(0, len(old), day2).tolist()
    dois2 = [old[repeat[k]] if k % 2 else fresh[k] for k in range(day2)]
    recs2 = _records(rng, day1, dois2, n_authors)
    paths = []
    for name, recs in (("day1.json", recs1), ("day2.json", recs2)):
        path = os.path.join(out_dir, name)
        with open(path, "w") as fh:
            fh.write(json.dumps(recs))   # one write: json.dump is 5x slower
        paths.append(path)
    return paths[0], paths[1]
