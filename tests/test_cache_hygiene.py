"""Engine-side persists must not accumulate across repeated operator
invocations (round-4 watch item): each operator keeps at most ONE
generation of internal caches, and release_caches() drops them all."""

from pyspark.sql import Row

from tickers_daily_intraday_etl_spark.functions import dedupe, similarity
from tickers_daily_intraday_etl_spark.functions._cache import release_caches
from tickers_daily_intraday_etl_spark.functions.dedupe import (
    connected_components,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash,
    simhash_near_pairs,
)


def _n_cached(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _docs(spark, n=40):
    rows = [
        Row(doc_id=i, text=f"alpha beta gamma delta epsilon zeta {i % 7} common tail phrase")
        for i in range(n)
    ]
    return spark.createDataFrame(rows)


def test_repeated_lsh_invocations_do_not_accumulate_caches(spark):
    release_caches()
    spark.catalog.clearCache()
    base = _n_cached(spark)
    docs = _docs(spark)
    sigs = minhash_signatures(docs, "text", "doc_id")
    highwater = None
    for _ in range(4):
        lsh_candidate_pairs(sigs, "doc_id").count()
        n = _n_cached(spark)
        if highwater is None:
            highwater = n
        assert n <= highwater, "cached-RDD count grew across invocations"
    release_caches()
    assert _n_cached(spark) <= base


def test_repeated_simhash_invocations_do_not_accumulate_caches(spark):
    release_caches()
    spark.catalog.clearCache()
    docs = _docs(spark)
    sigs = simhash(docs, "text", "doc_id")
    highwater = None
    for _ in range(4):
        simhash_near_pairs(sigs, "doc_id").count()
        n = _n_cached(spark)
        if highwater is None:
            highwater = n
        assert n <= highwater
    release_caches()


def test_connected_components_releases_round_persists(spark):
    release_caches()
    spark.catalog.clearCache()
    base = _n_cached(spark)
    nodes = spark.createDataFrame([Row(doc_id=i) for i in range(12)])
    pairs = spark.createDataFrame(
        [Row(id_a=i, id_b=i + 1) for i in range(11)]  # one 12-chain
    )
    for _ in range(2):
        connected_components(nodes, pairs, "doc_id").count()
    release_caches()
    assert _n_cached(spark) <= base + 1  # localCheckpoint RDDs are cleaned by GC, allow slack


def test_kernel_caches_are_bounded(spark):
    """Kernel factories keep at most ``maxsize`` UDFs however many
    distinct parameters callers pass (hyperplane kernels are keyed on
    the full matrix: every fresh seed is a new key)."""
    from pyspark.sql import functions as F

    factories = (similarity._bucket_kernel, dedupe._shingle_udf, dedupe._simhash_udf)
    for factory in factories:
        factory.cache_clear()
    bound = similarity._bucket_kernel.cache_info().maxsize
    for seed in range(bound + 5):
        similarity.hyperplane_lsh_bucket(F.col("v"), similarity.make_hyperplanes(4, 3, seed=seed))
    for k in range(1, bound + 6):
        dedupe.word_shingles(F.col("text"), k)
        dedupe._simhash_udf(k)
    for factory in factories:
        info = factory.cache_info()
        assert info.currsize <= info.maxsize
