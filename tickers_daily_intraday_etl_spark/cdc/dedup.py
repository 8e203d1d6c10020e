"""Last-writer-wins dedup by (key, lsn) with deterministic total order.

Generalizes the reference's per-key high-water-mark filter
(reference: staging/transform_staging_data.py:47-62 — grouped max +
left join + strict ``>``): within a batch, exactly one event per key
survives — the one with the greatest ``(lsn, commit_ts, payload
fingerprint)``.  The fingerprint tiebreak makes the order *total*, so a
replay from any checkpoint picks identical winners (the north rule's
byte-equality requirement).

Scale notes:
* Implemented as an aggregation, **not** a window: ``max`` over the
  ordering struct gets map-side partial aggregation for free, so a hot
  key contributes at most one row per input partition to the shuffle.
* An optional explicit two-phase salt (``groupBy(key, salt)`` then
  ``groupBy(key)``) guards the pathological case where a single key
  dominates entire input partitions — the reduce fan-in per key drops
  from #input-partitions to #salts.
* ``cluster_col`` is the MERGE write path's shape: the aggregation is
  clustered on the storage-bucket column instead of the key, via ONE
  explicit ``repartition(n, bucket)`` below the groupBy.
  ``HashPartitioning(bucket)`` satisfies the ``groupBy(bucket, key)``
  clustering requirement (bucket is a pure function of key, and the
  partitioning expressions are a subset of the grouping keys), so
  Catalyst inserts NO second exchange — and because the output is
  already partitioned by bucket, the bucket-partitioned write that
  follows needs no repartition either.  The full row payload (token
  arrays) crosses exactly ONE shuffle per merge, the floor for a
  copy-on-write rewrite: every output byte must reach its bucket's
  writer task at least once (BENCH/shuffle_bytes.md has the
  measurement).  The plain ``groupBy(key)`` form serves the read side
  (``read_resolved``, ``lookup``) and ``lww_dedup``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_ORD = "__ord"
_ROW = "__row"


def content_fingerprint(cols: list[str]) -> F.Column:
    """Deterministic 64-bit content hash of a row.

    xxhash64 over the raw columns (2x faster than hashing a to_json
    rendering) — but Spark's hash functions SKIP null inputs, so rows
    differing only in which column is null would collide; null-bitmap
    words folded in as extra arguments restore that distinction
    (one 62-bit word per 62 columns — a single word would overflow
    LongType at column 63)."""
    masks: list[F.Column] = []
    for word_start in range(0, len(cols), 62):
        word = None
        for i, c in enumerate(cols[word_start : word_start + 62]):
            bit = (
                F.when(F.col(c).isNull(), F.lit(1 << i).cast("long"))
                .otherwise(F.lit(0).cast("long"))
            )
            word = bit if word is None else word + bit
        masks.append(word)
    return F.xxhash64(*[F.col(c) for c in cols], *masks)


def _ordering_struct(cols: list[str], lsn_col: str, commit_ts_col: str) -> F.Column:
    return F.struct(
        F.col(lsn_col).alias("lsn"),
        F.col(commit_ts_col).alias("ts"),
        content_fingerprint(cols).alias("fp"),
    )


def lww_winner(
    df: DataFrame,
    key_col: str,
    lsn_col: str,
    commit_ts_col: str,
    salt_partitions: int = 0,
    cluster_col: str | None = None,
    cluster_partitions: int | None = None,
) -> DataFrame:
    """Core LWW aggregation: one row per key, the max of
    (lsn, commit_ts, fingerprint).  Output columns == input columns.

    Default shape: ``groupBy(key)`` — one key-hash shuffle with map-side
    partial aggregation; optional explicit two-phase salting bounds
    reduce fan-in per hot key to #salts.

    ``cluster_col`` (must be a pure function of the key, e.g. the
    storage bucket): the aggregation becomes ``repartition(n, cluster)``
    + ``groupBy(cluster, key)`` — Catalyst elides the aggregate's own
    exchange because the repartition already satisfies its clustering,
    so the payload crosses exactly one shuffle AND the output partition
    layout matches a bucket-partitioned write (no write-side
    repartition).  Trade-off: no map-side combine below the exchange —
    in-batch duplicates of a key cross the wire uncollapsed, and a hot
    key's rows all reduce in one task.  With ``salt_partitions > 1`` a
    salted pre-reduce (its own map-side-combined shuffle) runs first,
    restoring the hot-key bound at the cost of a second payload
    crossing — the right call only for heavily duplicated / hot-key
    feeds; mostly-unique CDC batches should leave salting off."""
    cols = df.columns
    extra = [F.col(cluster_col)] if cluster_col else []
    # Slim shuffle row: key / lsn / commit_ts / cluster already ride in
    # the group keys and the ordering struct — carrying them inside the
    # row struct too would shuffle every one of them twice.  The row
    # struct holds only the remaining columns; the output is
    # reconstructed from group keys + ordering + row after the
    # aggregation (measured ~8% fewer shuffle bytes/event on the
    # token-array feed; pure win at any scale).
    carried = {key_col, lsn_col, commit_ts_col} | ({cluster_col} if cluster_col else set())
    rest = [c for c in cols if c not in carried]
    packed = df.select(
        F.col(key_col).alias("__key"),
        *extra,
        _ordering_struct(cols, lsn_col, commit_ts_col).alias(_ORD),
        F.struct(*[F.col(c) for c in rest]).alias(_ROW),
    )
    # max_by measured ~3x faster than max-over-struct(ord,row) at 4M rows
    # (the ordering comparator never touches the payload arrays); ties on
    # the full ordering struct imply identical content via the fingerprint
    winner = F.max_by(F.struct(F.col(_ORD), F.col(_ROW)), F.col(_ORD)).alias("__win")
    rewinner = F.max_by(F.col("__win"), F.col(f"__win.{_ORD}")).alias("__win")
    if salt_partitions and salt_partitions > 1:
        salted = packed.withColumn(
            "__salt", F.pmod(F.col(_ORD)["fp"], F.lit(salt_partitions)).cast("int")
        )
        group1 = ["__key", "__salt"] + ([cluster_col] if cluster_col else [])
        packed = salted.groupBy(*group1).agg(winner)
        winner = rewinner
    if cluster_col:
        n = cluster_partitions or int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        final = (
            packed.repartition(n, F.col(cluster_col))
            .groupBy(cluster_col, "__key")
            .agg(winner)
        )
    else:
        final = packed.groupBy("__key").agg(winner)
    rebuilt = {
        key_col: F.col("__key"),
        lsn_col: F.col(f"__win.{_ORD}.lsn"),
        commit_ts_col: F.col(f"__win.{_ORD}.ts"),
        **({cluster_col: F.col(cluster_col)} if cluster_col else {}),
        **{c: F.col(f"__win.{_ROW}.{c}") for c in rest},
    }
    return final.select(*[rebuilt[c].alias(c) for c in cols])


def lww_dedup(
    df: DataFrame,
    key_col: str = "doc_id",
    lsn_col: str = "lsn",
    commit_ts_col: str = "commit_ts",
    salt_partitions: int = 0,
) -> DataFrame:
    """Keep exactly one row per key: the last writer in
    (lsn, commit_ts, fingerprint) order.  Deterministic & total."""
    return lww_winner(df, key_col, lsn_col, commit_ts_col, salt_partitions)
