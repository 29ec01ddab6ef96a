"""data_engineering__spark — a PySpark-native analytics engine.

Re-expresses the full capability surface of the reference ETL/analytics
pipeline (``Loicdvd/data-engineering-``: an Airflow DAG + Postgres warehouse
over scholarly-publication data) as idiomatic, scale-first Spark:

- every relational operation the reference delegates to Postgres becomes a
  declarative DataFrame / Spark SQL plan optimized by Catalyst,
- every row-at-a-time Python loop becomes a set-oriented operator,
- the Postgres audit trigger becomes an explicit diff operator,
- the daily Airflow batch generalizes to Structured Streaming,
- plus LLM-data-pipeline extensions: dedup (exact/MinHash/SimHash/Jaccard),
  similarity search, multimodal binary columns, text analysis.

Design rules (see ARCHITECTURE.md):
- DataFrame/SQL only; RDDs never appear in the hot path.
- Built-in ``pyspark.sql.functions`` first; Arrow-batched pandas UDFs only
  where no native expression exists; row-at-a-time Python UDFs nowhere.
- Small dimensions are broadcast; big joins shuffle on their keys; AQE is on.
- Deterministic surrogate keys: the rank under a total order, never
  ``monotonically_increasing_id`` over a recomputed plan (rerun stability);
  it appears only as a position within stored, sorted rows.
"""

__version__ = "0.1.0"

# Pickle this package BY VALUE in Spark python workers. The driver contract
# imports us from an arbitrary cwd (sys.path hack on /root/repo); executor
# python workers do NOT inherit that sys.path, so any pandas-UDF closure that
# references a module in this package would die with ModuleNotFoundError if
# cloudpickle serialized it by reference (the default for importable modules).
# Registering the top-level package covers every submodule (cloudpickle walks
# parent packages), making UDFs self-contained without shipping a py-files zip.
try:
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # pragma: no cover — older cloudpickle without the API
    pass
