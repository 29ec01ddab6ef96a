"""The benchmark's workloads, their operations and their output checks.

- ``etl_daily``: the paper's own program, the publication pipeline
  (``plans.pipeline``) from nested JSON to warehouse parquet tables, the
  reference analytics read back from them, and a second day's batch.
- ``llm_iterative``: a heavy LLM-pipeline registry query with an Arrow
  kernel and an iterative loop, through the noop sink.

Every output check compares an order-insensitive multiset digest, with the
cell normalization of ``tests/oracle.py``, against DuckDB over the same
generated inputs.
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass
from typing import Callable

from perfbench import datagen

#: heavy LLM-pipeline key: Arrow MinHash signature kernel, then iterative
#: connected-components rounds over the verified pairs
LLM_KEYS = ["minhash_cc_dedup"]

#: per-layer metric names shared by every workload
LAYERS = [
    "session.start_s", "session.warmup_s",
    "conformance.build_s", "conformance.build_jobs",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "catalyst.plan_chars", "catalyst.exchanges", "catalyst.sort_merge_joins",
    "catalyst.broadcast_joins", "catalyst.python_nodes",
    "driver.gap_s", "driver.gap_frac",
    "exec.jobs", "exec.stages", "exec.stages_skipped", "exec.tasks",
    "exec.failed_tasks", "exec.job_s", "exec.task_cpu_s", "exec.task_run_s",
    "exec.sched_delay_s", "exec.gc_s", "exec.input_mb",
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb",
    "functions.arrow.sent_mb", "functions.arrow.received_mb",
    "functions.arrow.rows_received", "functions.arrow.boot_s",
    "functions.arrow.init_s", "functions.arrow.run_s",
    *[f"plans.pipeline.{s}_s" for s in (
        "ingest", "normalize", "clean", "derive_types", "enrich", "cite",
        "validate", "ingest_incremental")],
    "plans.pipeline.jobs", "etl.incremental_s",
    "sources.io.write_s", "sources.io.written_mb", "sources.io.files_written",
    "sources.io.write_amp",
    "cache.stored_mb", "cache.leaked_rdds",
    *[f"op.{k}.{m}" for k in LLM_KEYS for m in ("wall_s", "gap_s")],
    "trace.overhead_s",
    "latency.wall_s", "latency.op_p50_s", "latency.op_tail_s",
]


@dataclass
class Op:
    name: str
    fn: Callable
    oracle: str | None = None


def digest(cols: list[str], rows) -> tuple[int, int]:
    """Multiset digest with the registry oracle's cell normalization."""
    from tests.oracle import _digest_stream

    return _digest_stream(list(cols), (tuple(r) for r in rows))


def duck(ctx):
    """DuckDB connection over the generated tables (one per run)."""
    con = ctx.state.get("duck")
    if con is None:
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads=2")
        con.execute("SET memory_limit='1GB'")
        con.execute(f"SET temp_directory='{os.path.join(ctx.work, 'duck')}'")
        for name in os.listdir(ctx.data_dir):
            if name.endswith(".parquet"):
                con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(ctx.data_dir, name)}')")
        ctx.state["duck"] = con
    return con


def spark_digests(dfs: dict) -> dict[str, tuple]:
    """(rows, sum of row hashes) of each DataFrame: an order-insensitive
    multiset digest for tables too large to collect cheaply, computed in
    one query so that the subplans the frames share run once."""
    from functools import reduce

    from pyspark.sql import functions as F

    parts = [df.agg(F.count(F.lit(1)).alias("n"),
                    F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
                    .alias("h")).select(F.lit(name).alias("name"), "n", "h")
             for name, df in dfs.items()]
    rows = reduce(lambda a, b: a.union(b), parts).collect()
    return {r["name"]: (r["n"], r["h"]) for r in rows}


def compare(ctx, sql: str, cols: list[str], rows: list) -> tuple[bool, str]:
    res = duck(ctx).execute(sql)
    d_cols = [d[0] for d in res.description]
    if sorted(d_cols) != sorted(cols):
        return False, f"columns {sorted(cols)} != oracle {sorted(d_cols)}"
    mine, theirs = digest(cols, rows), digest(d_cols, res.fetchall())
    if mine != theirs:
        return False, f"digest (rows, hash) {mine} != oracle {theirs}"
    return True, f"ok ({mine[0]} rows)"


# ----------------------------------------------------- registry-key workloads

class KeyWorkload:
    """Registry queries through the noop sink, in a seed-drawn order."""

    clear_per_op = True
    pass_s = 2.0       # expected warm pass wall on the sizing host
    # the sizes of the registry's sf0.1 reference data
    scale = 0.1
    n_docs = 5000
    n_vectors = 2000

    def __init__(self, name: str, keys: list[str],
                 tables: tuple[str, ...]) -> None:
        self.name = name
        self.keys = keys
        self.tables = tables    # the registry tables the keys read

    def generate(self, data_dir: str, seed: int) -> dict:
        datagen.write_tables(data_dir, seed, self.scale, self.n_docs,
                             self.n_vectors, self.tables)
        return {"scale": self.scale, "tables": list(self.tables),
                "documents": self.n_docs,
                "parquet_bytes": sum(os.path.getsize(os.path.join(data_dir, f))
                                     for f in os.listdir(data_dir))}

    def ops(self, rng) -> list[Op]:
        from data_engineering__spark.conformance import ORACLE

        keys = list(self.keys)
        rng.shuffle(keys)
        return [Op(k, self._op(k), ORACLE.get(k)) for k in keys]

    @staticmethod
    def _op(key: str) -> Callable:
        def run(ctx):
            from data_engineering__spark.conformance import QUERIES

            with ctx.span("conformance.build"):
                df = QUERIES[key](ctx.spark, ctx.data_dir)
            ctx.plan_probe(df)
            with ctx.span("exec.sink"):
                df.write.format("noop").mode("overwrite").save()
            return df
        return run

    def check(self, ctx, op: Op, df) -> tuple[bool, str | None]:
        if op.oracle is None:
            return True, None
        return compare(ctx, op.oracle, df.columns, df.collect())

    def end_pass(self, ctx) -> None:
        pass


# ------------------------------------------------------------- ETL workload

#: reference analytics over the written warehouse, with the registry key
#: whose DuckDB oracle replicates them
ANALYTICS = {
    "analytics_authors": "pipeline_parity_authors_enriched",
    "analytics_categories": "pipeline_parity_categories_enriched",
    "analytics_citations": "pipeline_parity_citations",
}
WAREHOUSE = ["publications", "authors", "categories", "authorship",
             "publication_category", "citations", "log_table", "validation"]
_RAW_FIXTURE = re.compile(
    r"SELECT 'arx\.' \|\| lpad.*?FROM documents WHERE doc_id % (\d+) = 0",
    re.S)


def _raw_sql(path: str) -> str:
    cols = ", ".join(f"{c}: 'VARCHAR'" for c in
                     ("id", "authors", "title", "doi", "categories"))
    return (f"SELECT id AS arxiv_id, authors, title, doi, categories "
            f"FROM read_json('{path}', format='array', columns={{{cols}}})")


def oracle_over(sql: str, paths: dict[str, str]) -> str:
    """A pipeline-parity oracle with its synthesized ``documents`` fixture
    replaced by the generated JSON file of the same wave."""
    return _RAW_FIXTURE.sub(lambda m: _raw_sql(paths[m.group(1)]), sql)


class EtlDaily:
    """``run_pipeline``'s stages, timed one by one, then warehouse writes,
    analytics read back from parquet, and the day-2 incremental batch."""

    name = "etl_daily"
    clear_per_op = False
    pass_s = 15.0      # expected warm pass wall on the sizing host
    # half the sizes of the paper's daily batch: see README, "Sizing"
    day1 = 25_000
    day2 = 12_500

    def generate(self, data_dir: str, seed: int) -> dict:
        p1, p2 = datagen.write_arxiv_days(data_dir, seed, self.day1, self.day2)
        self.paths = (p1, p2)
        return {"day1_records": self.day1, "day2_records": self.day2,
                "json_bytes": os.path.getsize(p1) + os.path.getsize(p2)}

    def ops(self, rng) -> list[Op]:
        steps = [("ingest", self.ingest), ("normalize", self.normalize),
                 ("clean", self.clean), ("enrich", self.enrich),
                 ("cite", self.cite), ("validate", self.validate),
                 ("write", self.write)]
        steps += [(name, self._analytics(name)) for name in ANALYTICS]
        steps.append(("incremental", self.incremental))
        return [Op(n, f) for n, f in steps]

    # -- stages ---------------------------------------------------------
    def _out(self, ctx, table: str = "") -> str:
        return os.path.join(ctx.work, "warehouse_out", table)

    def ingest(self, ctx):
        from pyspark.sql import types as T

        from data_engineering__spark.plans.pipeline import ingest
        from data_engineering__spark.sources.io import read_json_array

        schema = T._parse_datatype_string(datagen.ARXIV_DDL)
        raw = read_json_array(ctx.spark, self.paths[0], schema)
        with ctx.span("plans.pipeline.ingest"):
            ctx.state["hub"] = ingest(raw)

    def normalize(self, ctx):
        from data_engineering__spark.plans.pipeline import normalize

        with ctx.span("plans.pipeline.normalize"):
            ctx.state["tables"] = normalize(ctx.state["hub"])

    def clean(self, ctx):
        from pyspark import StorageLevel

        from data_engineering__spark.operators.quality import audit_diff
        from data_engineering__spark.plans.pipeline import clean, derive_types

        tables = ctx.state["tables"]
        before = tables["publications"].select("pub_id", "title", "doi")
        with ctx.span("plans.pipeline.clean"):
            tables = clean(tables)
        with ctx.span("plans.pipeline.derive_types"):
            tables = derive_types(tables)
        pubs = tables["publications"].persist(StorageLevel.MEMORY_AND_DISK)
        pubs.count()
        tables["publications"] = pubs
        tables["log_table"] = audit_diff(
            before, pubs.select("pub_id", "title", "doi"), "publications")
        ctx.state["tables"] = tables

    def enrich(self, ctx):
        from data_engineering__spark.conformance import _parity_fetch
        from data_engineering__spark.plans.pipeline import enrich

        with ctx.span("plans.pipeline.enrich"):
            ctx.state["tables"] = enrich(ctx.state["tables"], _parity_fetch)

    def cite(self, ctx):
        from data_engineering__spark.conformance import _parity_fetch
        from data_engineering__spark.plans.pipeline import cite

        with ctx.span("plans.pipeline.cite"):
            ctx.state["tables"] = cite(ctx.state["tables"], _parity_fetch)

    def validate(self, ctx):
        from data_engineering__spark.plans.pipeline import validate

        with ctx.span("plans.pipeline.validate"):
            report = validate(ctx.state["tables"])
        ctx.plan_probe(report)
        ctx.state["tables"]["validation"] = report
        return report.collect()

    def write(self, ctx):
        from data_engineering__spark.sources.io import write_parquet

        tables = dict(ctx.state["tables"], publications_hub=ctx.state["hub"])
        tables = {n: tables[n] for n in WAREHOUSE + ["publications_hub"]}
        for name, df in tables.items():
            with ctx.span("sources.io.write"):
                write_parquet(df, self._out(ctx, name))
        self._count_written(ctx)
        return tables

    def _count_written(self, ctx) -> None:
        size = files = 0
        for root, _, names in os.walk(self._out(ctx)):
            for n in names:
                if n.endswith(".parquet"):
                    size += os.path.getsize(os.path.join(root, n))
                    files += 1
        ctx.counters["sources.io.written_mb"] += size / (1024.0 * 1024.0) - \
            ctx.state.get("written_mb", 0.0)
        ctx.counters["sources.io.files_written"] += files - \
            ctx.state.get("files_written", 0)
        ctx.state["written_mb"] = size / (1024.0 * 1024.0)
        ctx.state["files_written"] = files

    def _analytics(self, name: str) -> Callable:
        def run(ctx):
            df = self.analytics_df(ctx, name)
            ctx.plan_probe(df)
            return df.columns, df.collect()
        return run

    def analytics_df(self, ctx, name: str):
        from pyspark.sql import functions as F

        read = lambda t: ctx.spark.read.parquet(self._out(ctx, t))  # noqa: E731
        if name == "analytics_authors":
            a = read("authors").select("id", "name").alias("a")
            ap = read("authorship").alias("ap")
            return (a.join(ap, F.col("a.id") == F.col("ap.author_id"))
                    .groupBy("a.id", "a.name")
                    .agg(F.count("ap.pub_id").alias("publication_count")))
        if name == "analytics_categories":
            cat = read("categories").select("id", "category_name").alias("cat")
            pc = read("publication_category").alias("pc")
            p = read("publications").select("pub_id").alias("p")
            return (cat.join(pc, F.col("cat.id") == F.col("pc.category_id"))
                    .join(p, F.col("pc.pub_id") == F.col("p.pub_id"))
                    .groupBy("cat.category_name")
                    .agg(F.count("p.pub_id").alias("publication_count")))
        p = read("publications").select("pub_id", "title").alias("p")
        c = read("citations").alias("c")
        return (p.join(c, F.col("p.pub_id") == F.col("c.publication_id"), "left")
                .groupBy(F.col("p.pub_id").alias("publication_id"),
                         F.col("p.title").alias("publication_title"))
                .agg(F.count("c.publication_id").alias("citation_count")))

    def incremental(self, ctx):
        """Day 2: JSON read, cross-day dedup with continued ids, append of
        the new hub rows, and the refreshed hub report read back."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from data_engineering__spark.plans.pipeline import ingest_incremental
        from data_engineering__spark.sources.io import (read_json_array,
                                                        write_parquet)

        schema = T._parse_datatype_string(datagen.ARXIV_DDL)
        raw = read_json_array(ctx.spark, self.paths[1], schema)
        hub_path = self._out(ctx, "publications_hub")
        hub = ctx.spark.read.parquet(hub_path)
        with ctx.span("plans.pipeline.ingest_incremental"):
            hub2 = ingest_incremental(hub, raw)
        new = hub2.join(hub.select("pub_id"), "pub_id", "left_anti")
        with ctx.span("sources.io.write"):
            write_parquet(new, hub_path, mode="append")
        self._count_written(ctx)
        report = ctx.spark.read.parquet(hub_path).agg(
            F.count(F.lit(1)).alias("publications"),
            F.countDistinct("doi").alias("distinct_dois"),
            F.count(F.when(F.col("doi").isNull(), 1)).alias("null_dois"))
        ctx.plan_probe(report)
        return report.collect()

    # -- checks ---------------------------------------------------------
    def check(self, ctx, op: Op, out) -> tuple[bool, str | None]:
        from data_engineering__spark.conformance import ORACLE

        day1, day2 = self.paths
        if op.name in ANALYTICS:
            cols, rows = out
            sql = oracle_over(ORACLE[ANALYTICS[op.name]], {"5": day1})
            return compare(ctx, sql, cols, rows)
        if op.name == "write":
            frames = {}
            for name, df in out.items():
                frames[name] = df
                frames["back." + name] = ctx.spark.read.parquet(
                    self._out(ctx, name)).select(*df.columns)
            got = spark_digests(frames)
            for name in out:
                if got[name] != got["back." + name]:
                    return False, f"table {name} reads back different rows"
            return True, f"ok ({len(out)} tables read back)"
        if op.name == "incremental":
            hub = ctx.spark.read.parquet(self._out(ctx, "publications_hub")) \
                .select("pub_id", "arxiv_id", "title", "doi")
            sql = oracle_over(ORACLE["pipeline_parity_incremental"],
                              {"10": day1, "5": day2})
            return compare(ctx, sql, hub.columns, hub.collect())
        return True, None

    def end_pass(self, ctx) -> None:
        from perfbench.harness import clear_cache

        clear_cache(ctx.spark)
        shutil.rmtree(self._out(ctx), ignore_errors=True)
        for k in ("hub", "tables", "written_mb", "files_written"):
            ctx.state.pop(k, None)


#: workload name -> factory of a fresh workload object for one run
WORKLOADS = {
    "etl_daily": EtlDaily,
    "llm_iterative": lambda: KeyWorkload("llm_iterative", LLM_KEYS,
                                         ("documents",)),
}
