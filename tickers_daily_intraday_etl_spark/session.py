"""SparkSession configuration for the CDC engine — the one place that
decides it.  ``ENGINE_CONF`` holds the settings the engine's results and
files depend on; ``apply_engine_conf`` sets them on any live session.
``get_spark`` builds a local-mode session sized from the host (CPUs this
process may run on, a quarter of physical RAM) and applies them.
"""

from __future__ import annotations

import os

import pandas as pd

from pyspark.sql import SparkSession

# Settings the engine's results or its on-disk format depend on.  All are
# runtime SQL confs, so ``apply_engine_conf`` can set them on a session
# that already runs.  Sizing and deployment settings (shuffle partitions,
# memory, UI) stay out: those belong to whoever builds the session.
ENGINE_CONF: dict[str, str] = {
    # results compare bit-for-bit against the DuckDB oracle
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # every Python-side kernel is a vectorized pandas UDF
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # INT96 (Spark's legacy default) carries NO parquet column
    # statistics; micros-typed timestamps do — required for the commit
    # log's zone-map (min,max) file skipping
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.files.maxPartitionBytes": "134217728",
    # a pruned lake-table read passes an explicit file list; above this
    # threshold Spark launches a DISTRIBUTED LISTING JOB per read (default
    # 32 paths) — pure fixed cost per micro-batch (~0.4s measured for a
    # 128-file target read).  Driver-side listing of an explicit path list
    # is metadata-only; keep it local.  (On a real object-store deployment
    # with millions of files per read, lower this again.)
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "100000",
}


def apply_engine_conf(spark: SparkSession) -> SparkSession:
    """Set every ``ENGINE_CONF`` key on a live session.  The one place
    package code changes a session setting; ``get_spark``, the
    spark-submit entry and the driver entry all call it."""
    for key, value in ENGINE_CONF.items():
        spark.conf.set(key, value)
    return spark


def get_spark(
    app_name: str = "cdc-engine",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a local-mode SparkSession with ``ENGINE_CONF``
    applied.  ``cpus`` (``local[N]``) defaults to the CPUs this process
    may run on; the driver heap to a quarter of physical RAM (the JVM's
    own default fraction), overridden by ``SPARK_GRAFT_DRIVER_MEM``."""
    cpus = cpus or len(os.sched_getaffinity(0))
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{max(1, ram_gib // 4)}g",
        )
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    apply_engine_conf(spark)
    _ship_package(spark)
    _warm_python_workers(spark, cpus)
    return spark


def _warm_python_workers(spark: SparkSession, cpus: int) -> None:
    """Spawn the executor Python-UDF workers once at session build (one
    tiny Arrow-UDF job, one task per core).  Daemon workers fork lazily
    on first use and each pays the pandas/pyarrow import (~2-4s wall for
    a 32-worker wave), which otherwise lands inside whichever query
    first evaluates a pandas UDF — session setup cost, not query cost.
    Guarded so repeated get_spark() calls don't re-run the job."""
    if getattr(spark, "_cdc_workers_warm", False):
        return
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _noop(x: pd.Series) -> pd.Series:
        return x

    try:
        spark.range(cpus, numPartitions=cpus).select(_noop("id")).collect()
    except Exception:
        pass  # warm-up is best-effort; real queries spawn workers lazily
    spark._cdc_workers_warm = True


def build_pyfiles_zip() -> str:
    """Build (or reuse) the engine zip for ``spark-submit --py-files``.
    Content-addressed by file mtimes, so edits produce a fresh zip."""
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        "/tmp", f"tickers_daily_intraday_etl_spark-{__spark_pkg_fingerprint(pkg_dir)}.zip"
    )
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for name in files:
                    if name.endswith(".py"):
                        full = os.path.join(root, name)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
        os.replace(tmp, zip_path)
    return zip_path


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (the local-mode
    equivalent of ``spark-submit --py-files engine.zip``).  Without it,
    any pickled function referencing the package (pandas UDFs,
    applyInPandasWithState handlers, foreachBatch closures) raises
    ModuleNotFoundError on workers whenever the driver's cwd is not the
    repo root."""
    spark.sparkContext.addPyFile(build_pyfiles_zip())


def __spark_pkg_fingerprint(pkg_dir: str) -> str:
    import hashlib

    h = hashlib.md5()
    for root, _dirs, files in sorted(os.walk(pkg_dir)):
        for name in sorted(files):
            if name.endswith(".py"):
                full = os.path.join(root, name)
                h.update(name.encode())
                h.update(str(os.path.getmtime(full)).encode())
    return h.hexdigest()[:12]

