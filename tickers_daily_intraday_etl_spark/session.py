"""SparkSession factory for the CDC engine.

Local-mode defaults tuned for the sandbox (local[32], single JVM) while the
configuration knobs mirror what a 1000-executor deployment would set:
AQE on (runtime skew-join splitting + partition coalescing), Arrow on
(every Python-side kernel is a vectorized pandas UDF), shuffle partitions
sized to the parallelism level instead of Spark's 200 default, UTC session
timezone so results compare bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

import os

import pandas as pd

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Settings the engine's results or its on-disk format depend on, applied
# by every session builder (``get_spark`` and the spark-submit entry
# ``run_pipeline.py``).  Sizing and deployment settings (shuffle
# partitions, memory, UI) stay out: builder config overrides
# ``spark-submit --conf``, and those belong to the deployment.
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


def get_spark(
    app_name: str = "cdc-engine",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` controls ``local[N]`` — the sandbox stand-in for executor
    count; the bench harness runs the same job at two values (N and 4N)
    to evidence the scaling-efficiency criterion.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # parquet + shuffle codecs are tunable: zstd trades CPU per byte
        # for fewer bytes through the memory subsystem — the relevant
        # trade on bandwidth-bound hosts (see BENCH/BASELINE.md)
        .config(
            "spark.sql.parquet.compression.codec",
            os.environ.get("SPARK_GRAFT_CODEC", "snappy"),
        )
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config(map={**ENGINE_CONF, **(extra_conf or {})})
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
