"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship CDC pipeline (documents-derived
binlog -> LWW dedup -> bucket-pruned MERGE into the lake table) at
sf0.001.  ``queries()`` exposes the full operator inventory; every
SQL-expressible operator has a matching ``oracle_sql()`` entry that
DuckDB evaluates over the same parquet views (see
tickers_daily_intraday_etl_spark/queries.py for the implementations).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _shielded(fn):
    """The driver supplies its own SparkSession; apply the engine's
    settings to it (UTC, micros-typed parquet timestamps, ...) and ship
    the engine package to its executors first (pandas-UDF/stateful
    queries pickle references to the package, which workers cannot
    import unless the driver's cwd happens to be the repo root)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from tickers_daily_intraday_etl_spark.session import _ship_package, apply_engine_conf

        apply_engine_conf(spark)
        _ship_package(spark)
        return fn(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship on /root/testdata/sf0.001; driver checks rows>0.

    Streaming-backed: the full north-rule path (binlog segments ->
    readStream -> foreachBatch epoch-fenced MERGE -> final table state),
    not just the batch merge."""
    from tickers_daily_intraday_etl_spark.queries import QUERIES

    return _shielded(QUERIES["cdc_streaming_final_state"])(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (plus the
    training-data pipeline operators)."""
    from tickers_daily_intraday_etl_spark.queries import QUERIES

    return {name: _shielded(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query — EVERY queries() entry has
    one, including the streaming CDC final state, the LSH/IVF
    approximate-search paths (trained-centroid k-means replayed by
    unrolled Lloyd CTEs), the multimodal feature extraction, the
    iterative dup-cluster components (recursive-CTE oracle), and the
    commit-log lineage metrics (feed-derivable columns + invariant
    booleans the oracle pins to TRUE)."""
    from tickers_daily_intraday_etl_spark.queries import ORACLES

    return dict(ORACLES)
