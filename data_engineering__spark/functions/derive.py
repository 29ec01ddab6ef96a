"""Scalar derivation functions (SURVEY §2.8: F4-F7, F9-F11; §2.10 U1).

The reference applies these as per-row Python functions inside psycopg2
loops; every one re-expresses as a native column expression (codegen) —
a pandas UDF would be 10-100× slower and is reserved for semantics no
expression can reach (none needed here).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def first_token_before(col: str, delim: str, default: str = "Unknown") -> Column:
    """F4: first-token extraction with fallback — the reference's
    ``summary.split('-')[0].strip() if '-' in summary else 'Unknown'``
    (``process_publications_dag.py:452-453``). Exact branch parity:
    no-delimiter rows yield ``default``, not the whole string."""
    return (F.when(F.instr(F.col(col), delim) > 0,
                   F.trim(F.substring_index(F.col(col), delim, 1)))
             .otherwise(F.lit(default)))


def case_when_contains(col: str, mapping: list[tuple[str, str]],
                       default: str = "Unknown") -> Column:
    """F5/U1: ordered keyword→label CASE chain — the 15-branch bibtex
    entry-type detector (``process_publications_dag.py:271-304``).

    BRANCH ORDER IS SEMANTICS: the reference checks ``@article`` before
    ``@inproceedings`` and substring keywords can shadow each other
    (``@thesis`` vs ``@phdthesis``) — callers pass ``mapping`` in reference
    order and we fold strictly in that order."""
    expr: Column | None = None
    for needle, label in mapping:
        cond = F.col(col).contains(needle)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    return (expr.otherwise(default) if expr is not None else F.lit(default))


def map_lookup(df: DataFrame, key_col: str, mapping: dict[str, str],
               out_col: str, default: str = "Other") -> DataFrame:
    """F6: static map lookup with default — the 21-entry category-code →
    display-name dict (``process_publications_dag.py:397-421``).

    Implemented as a BROADCAST join against a literal DataFrame +
    ``coalesce(mapped, default)``: at 100 TB a broadcast hash join beats a
    giant CASE expression for wide maps (codegen size limits) and keeps the
    mapping data-driven. For maps of a few entries ``case_when_contains`` /
    ``create_map`` inline is equivalent."""
    spark = df.sparkSession
    lookup = spark.createDataFrame(
        [(k, v) for k, v in sorted(mapping.items())], [key_col, "__mapped"])
    return (df.join(F.broadcast(lookup), key_col, "left")
              .withColumn(out_col, F.coalesce(F.col("__mapped"), F.lit(default)))
              .drop("__mapped"))


def coalesce_cols(*cols: str) -> Column:
    """F7: COALESCE (``doi = COALESCE(EXCLUDED.doi, publications.doi)``,
    ``process_publications_dag.py:229``)."""
    return F.coalesce(*[F.col(c) for c in cols])


def parse_rfc1123(col: str) -> Column:
    """F9: RFC-1123 timestamp parse ('Sat, 31 Mar 2007 02:26:18 GMT' —
    the ``versions[].created`` field the reference stores raw).

    The weekday prefix is redundant information and Spark's post-3.0
    datetime parser rejects 'EEE' in parsing mode — strip it, parse the
    rest."""
    stripped = F.regexp_replace(F.col(col), r"^[A-Za-z]{3}, ", "")
    return F.to_timestamp(stripped, "d MMM yyyy HH:mm:ss zzz")


def row_to_json() -> Column:
    """F10: whole-row JSON serialization (``row_to_json`` analog,
    ``database and queries aupostgres.sql:88``)."""
    return F.to_json(F.struct("*"))


def json_get(col: str, path: str) -> Column:
    """F11: JSON field extraction from string payloads (events.props)."""
    return F.get_json_object(F.col(col), path)
