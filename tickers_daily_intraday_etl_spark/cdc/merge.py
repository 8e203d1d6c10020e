"""MERGE a change batch into a LakeTable (key-partitioned upsert).

Collapses the reference's 4-statement SCD/upsert dance (temp table ->
retire -> touch -> insert, reference: analytics/etl_dim_analytics.py:142-211)
and its watermark filter (staging/transform_staging_data.py:47-62) into one
keyed MERGE with these semantics:

* the source row wins iff its ordering tuple (lsn, commit_ts,
  content fingerprint) is STRICTLY greater than the target row's — so a
  higher LSN always wins, an equal-LSN source wins only with a newer
  commit_ts (and fingerprint as the final total-order tiebreak; the
  feed generator deliberately emits equal-LSN ties and the replay
  oracle pins this contract)
* otherwise the target row stands (stale change, late arrival)
* key absent in target      -> insert (op='D' inserts a tombstone so a
  later-arriving stale update still loses — replay equality demands it)

Physical plan (one sequence for every batch, ONE or two jobs):
1. op counts — a SPARSE copy-on-write batch runs one small stats
   aggregation ((op x bucket) counts: rows_in, per-op counts and the
   affected-bucket list in a single pass), because the pruned target
   read needs the bucket list up front.  A DENSE copy-on-write batch
   (the Catalyst row estimate says every bucket is touched) and every
   merge-on-read batch skip that scan: the counts ride the write as an
   Observation;
2. one fused LWW aggregation: the batch rows (UNIONed with the pruned
   target rows in copy-on-write mode), winner per key = max(lsn,
   commit_ts, fingerprint) — in-batch dedup and target-vs-batch conflict
   resolution are the same max, so there is no separate dedup shuffle
   and no join anywhere;
3. the aggregation is CLUSTERED ON THE STORAGE BUCKET
   (``lww_winner(cluster_col=_bucket)``): one explicit
   ``repartition(n, bucket)`` satisfies both the groupBy's clustering
   requirement AND the bucket-partitioned write's layout, so the full
   row payload (token arrays) crosses exactly ONE shuffle per merge —
   the floor for a copy-on-write rewrite (BENCH/shuffle_bytes.md records
   the measurement against the unclustered shape this replaced);
then the output is written as base files (copy-on-write, replacing the
affected buckets' files) or delta files (merge-on-read, add-only), and
the commit (data files + batch manifest + per-bucket lineage) is atomic.
At 100 TB a batch touching 1% of buckets reads/writes 1% of the table; a
bulk-load batch pays a single pass over its data.
"""

from __future__ import annotations

import json
import time
from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tickers_daily_intraday_etl_spark.cdc import schemas as S
from tickers_daily_intraday_etl_spark.cdc.dedup import lww_winner
from tickers_daily_intraday_etl_spark.lake.table import (
    BUCKET_COL,
    COMMIT_TS_COL,
    DELETED_COL,
    LSN_COL,
    ConcurrentModificationError,
    LakeTable,
    align_to_schema,
    merge_schemas,
)


# A copy-on-write batch with >= this many rows PER BUCKET almost surely
# touches every bucket (untouched-bucket probability per bucket: e^-8 ~=
# 3e-4), so the pre-merge stats scan buys no pruning — skip it and fuse
# the op counts into the write via an Observation, exactly like MoR.
# ASSUMES roughly uniform key hashing: a large batch of updates to FEW
# hot keys passes the row threshold while touching few buckets, and the
# dense plan then rewrites the whole table (correct output, severe CoW
# write amplification).  Hot-key feeds should use mode='mor', which
# never rewrites the target; a future refinement is gating on a
# distinct-key estimate rather than raw row count.
_DENSE_BATCH_ROWS_PER_BUCKET = 8
# conservative (high) compressed-bytes-per-row guess for the size-based
# row estimate: overestimating bytes/row UNDERestimates rows, which only
# ever keeps the pruning pre-scan — never skips it wrongly
_EST_BYTES_PER_ROW = 256
# absolute floor for the dense decision: parquet footers make tiny files
# look like tens of phantom rows each, so a size-derived estimate under
# this is noise — keep the pruning path (deterministically so for small
# unit-test batches)
_DENSE_MIN_EST_ROWS = 10_000


# Target rows per clustered-exchange partition: sorts of ~100k wide
# rows stay in-memory (measured good at 62-100k; the collapse began at
# ~1M rows/partition), while fewer partitions cut per-task fixed cost
# (measured ~9% on 50k-row sustained micro-batches).  Round 6 A/B'd the
# round-5 "bulk -9%" suspect (this band vs fixed num_buckets vs a 50k
# target, interleaved on the 2M-event bulk batch): identical-code
# spread ±15% swamped every variant delta — noise verdict, band kept
# (BENCH/drift_r06.md has the draws).
_CLUSTER_TARGET_ROWS = 100_000


def _cluster_partitions(table: LakeTable, est_total_rows: int | None = None) -> int:
    """Partition count for the bucket-clustered LWW exchange, clamped to
    ``[shuffle.partitions, max(shuffle.partitions, num_buckets)]`` and
    row-targeted inside that band (``est_total_rows`` is the
    metadata-only batch + pruned-target estimate; None = unknown).

    The per-partition unit must NEVER become (rows / cores)-sized: the
    aggregate above the exchange is a SortAggregate (max_by over a
    struct is not hash-aggregable), and at low parallelism a cores-
    sized count put millions of token-array rows into each partition's
    sort, spilling and collapsing core-scaling to ~1.4x (measured on
    the 8M-event feed; bucket-bounded counts restored 185k/485k ev/s
    at 2/8 cores).  Within the safe band, fewer partitions mean fewer
    tiny tasks for small micro-batches.  A count below num_buckets
    only co-locates whole buckets (hash(bucket) % n); a bucket is
    never split, so the write still emits one file per bucket — and
    ``sortWithinPartitions(bucket, key)`` keeps one parquet writer
    open at a time inside each task."""
    conf = int(table.spark.conf.get("spark.sql.shuffle.partitions"))
    hi = max(conf, table.num_buckets)
    if est_total_rows is None:
        return hi
    need = -(-est_total_rows // _CLUSTER_TARGET_ROWS)
    return max(conf, min(hi, need))


def _estimated_rows(changes: DataFrame) -> int | None:
    """Catalyst-statistics row estimate, METADATA-ONLY (no job): exact
    rowCount when the optimizer knows it, else sizeInBytes divided by a
    conservative row width.  None when the plan carries no stats."""
    try:
        stats = changes._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return int(str(rc.get()))
        size = int(str(stats.sizeInBytes()))
        if size >= 1 << 50:
            # Spark reports defaultSizeInBytes (Long.MaxValue) for plans
            # it cannot size (e.g. RDD-backed frames) — that is "UNKNOWN",
            # not "huge"; treating it as huge would force every such
            # batch down the no-pruning path
            return None
        return size // _EST_BYTES_PER_ROW
    except Exception:
        return None


def _to_stored_rows(changes: DataFrame, stored_schema: T.StructType) -> DataFrame:
    """Project change events onto the table's stored layout:
    payload columns + (_lsn, _commit_ts, _deleted)."""
    src = changes.select(
        *[F.col(f.name) for f in S.payload_fields(changes.schema)],
        F.col(S.LSN_SRC_COL).alias(LSN_COL),
        F.col(S.COMMIT_TS_SRC_COL).alias(COMMIT_TS_COL),
        (F.col(S.OP_COL) == F.lit("D")).alias(DELETED_COL),
    )
    return align_to_schema(src, stored_schema)


def merge_into(
    table: LakeTable,
    changes: DataFrame,
    batch_id: Any,
    salt_partitions: int = 0,
    extra_manifest: dict[str, Any] | None = None,
    mode: str = "cow",
    max_conflict_retries: int = 2,
) -> dict[str, Any]:
    """Apply one change batch exactly-once. Returns the lineage manifest.

    Epoch fencing: a batch_id already present in the commit log is a
    replay (foreachBatch retry after failure, resume overlap) — skipped
    without touching data, which is what makes re-runs idempotent
    (the guard the reference lacks at staging/load_staging_data.py:41).

    ``mode``:
    * ``'cow'`` (copy-on-write, default): rewrite every affected bucket —
      read cost stays minimal, but a batch whose keys touch all buckets
      rewrites the whole table.
    * ``'mor'`` (merge-on-read): write ONLY the batch's deduped rows as
      per-bucket delta files (no target read, no removes — write volume
      is proportional to the BATCH); reads LWW-resolve base + deltas with
      the identical total order, and compaction folds deltas back into
      base files.  The right choice when batches touch a small fraction
      of rows per bucket, or concentrate on a few hot keys — the main
      write-amplification risks of CoW at 10^10-event scale.  Modes can
      be mixed batch-by-batch on one table.

    ``max_conflict_retries``: a ConcurrentModificationError means another
    writer changed an affected bucket between this merge's planning
    snapshot and its commit; the merge is simply RE-PLANNED against the
    new snapshot (the whole function is a pure function of table state +
    batch, and the epoch fence re-check makes the retry replay-safe).
    After the retries are exhausted the error propagates.
    """
    if mode not in ("cow", "mor"):
        raise ValueError(f"unknown merge mode {mode!r} (expected 'cow' or 'mor')")
    attempt = 0
    while True:
        try:
            return _merge_once(table, changes, batch_id, salt_partitions, extra_manifest, mode)
        except ConcurrentModificationError:
            if attempt >= max_conflict_retries:
                raise
            attempt += 1


def _merge_once(
    table: LakeTable,
    changes: DataFrame,
    batch_id: Any,
    salt_partitions: int,
    extra_manifest: dict[str, Any] | None,
    mode: str,
) -> dict[str, Any]:
    cow = mode == "cow"
    _t0 = time.time()

    # -- 1. pin the planning snapshot ONCE: the epoch fence, the schema,
    #       the pruned target rows and the removes list all come from the
    #       same version, and _commit aborts if an affected bucket gained
    #       files after it (otherwise a concurrent add-only commit's rows
    #       would be copied into our new files while its own files stay
    #       live -> duplicate keys).
    snap = table.log.snapshot()
    if batch_id is not None and batch_id in snap.committed_batch_ids:
        return {"batch_id": batch_id, "skipped": True, "reason": "already committed"}
    current = T.StructType.fromJson(json.loads(snap.schema_json))
    evolved = merge_schemas(current, T.StructType(S.payload_fields(changes.schema)))

    # -- 2. learn the op counts.  A SPARSE copy-on-write batch runs the
    #       pruning pre-scan: one small (op x bucket) aggregate (<= 3 *
    #       num_buckets rows) that bounds the rewrite to the touched
    #       fraction of the table.  Merge-on-read reads no target, and a
    #       DENSE copy-on-write batch (metadata-only Catalyst estimate >=
    #       8 rows/bucket) touches every bucket with near-certainty, so
    #       neither can prune anything: their counts are collected while
    #       the write runs (one fewer batch scan per micro-batch).
    #
    # NB: the batch is scanned twice on the sparse path and is NOT
    # persisted on purpose: building the columnar cache for array-typed
    # rows costs ~3x the merge itself in CPU (lock/GC contention at high
    # parallelism, measured 19.7s vs 6.7s for a 4M-event batch at
    # local[32]); a parquet/file-source rescan is far cheaper.
    est = _estimated_rows(changes)  # metadata-only; reused for partition sizing
    observed = not cow or (
        est is not None
        and est >= max(_DENSE_BATCH_ROWS_PER_BUCKET * table.num_buckets, _DENSE_MIN_EST_ROWS)
    )
    rows_in: int | None = None  # unknown until the write runs (observed paths)
    op_counts: dict[str, int] = {}
    if observed:
        obs = Observation()
        changes = changes.observe(
            obs,
            F.count(F.lit(1)).alias("rows_in"),
            *[F.count(F.when(F.col(S.OP_COL) == o, 1)).alias(f"n_{o}") for o in ("I", "U", "D")],
        )
        # dense CoW rewrites every bucket; MoR narrows this to the
        # buckets of the delta files it writes
        affected_set = set(range(table.num_buckets))
    else:
        stats = (
            changes.select(S.OP_COL, table.bucket_expr().alias(BUCKET_COL))
            .groupBy(S.OP_COL, BUCKET_COL)
            .agg(F.count("*").alias("n"))
            .collect()
        )
        affected_set = set()
        for r in stats:
            op_counts[r[S.OP_COL]] = op_counts.get(r[S.OP_COL], 0) + r["n"]
            affected_set.add(r[BUCKET_COL])
        rows_in = sum(op_counts.values())
    _t_stats = _t_plan = time.time()

    old_adds: list[dict[str, Any]] = []
    new_adds: list[dict[str, Any]] = []
    if rows_in != 0:
        # -- 3. fused union/LWW winner, clustered on the bucket (single
        #       shuffle); copy-on-write unions the pruned target in
        src = _to_stored_rows(changes, evolved).withColumn(BUCKET_COL, table.bucket_expr())
        # exchange row estimate, all metadata: exact batch rows when the
        # stats pass ran, else the Catalyst estimate (pre-dedup upper
        # bound), plus the pruned target's committed row counts
        est_rows = est if rows_in is None else rows_in
        if cow:
            old_adds = [a for a in snap.live_files.values() if a["bucket"] in affected_set]
            target = table.read_raw(version=snap.version, buckets=sorted(affected_set))
            target = align_to_schema(target, evolved).withColumn(BUCKET_COL, table.bucket_expr())
            cols = [f.name for f in evolved.fields] + [BUCKET_COL]
            # batch side on the LEFT: a union's Dataset inherits the left
            # side's SparkSession, and inside foreachBatch the batch df
            # lives in a CLONED session — the Observation listener
            # registers there, so the write must execute there too or
            # `obs.get` waits forever on a listener bus that never fires
            src = src.select(*cols).unionByName(target.select(*cols))
            if est_rows is not None:
                est_rows += sum(a["rows"] for a in old_adds)
        merged = lww_winner(
            src, table.key_col, LSN_COL, COMMIT_TS_COL,
            salt_partitions=salt_partitions,
            cluster_col=BUCKET_COL,
            cluster_partitions=_cluster_partitions(table, est_rows),
        )

        # -- 4. write base files over the affected buckets (cow) or delta
        #       files beside them (mor)
        _t_plan = time.time()
        new_adds = table._write_data(
            merged, table.num_buckets, kind="base" if cow else "delta", pre_partitioned=True
        )
        if observed:
            # a non-empty batch always leaves at least one winner, hence a
            # file; with no files Spark has pruned the empty observed
            # branch away and the metric is never delivered
            metrics = obs.get if new_adds else {}
            rows_in = int(metrics.get("rows_in", 0))
            op_counts = {o: int(metrics[f"n_{o}"]) for o in ("I", "U", "D") if metrics.get(f"n_{o}")}
    _t_write = time.time()

    if rows_in == 0:
        # Conditional-skip sink (reference: staging/load_staging_data.py:38-48)
        # — still record the epoch so the fence holds.  Files an observed
        # write produced stay uncommitted orphans for vacuum's min-age sweep.
        version = table._commit([], [], evolved, {"batch_id": batch_id, "rows_in": 0})
        return {"batch_id": batch_id, "rows_in": 0, "version": version, "skipped": False}

    if not cow:
        affected_set = {a["bucket"] for a in new_adds}
    lineage: dict[str, Any] = {
        "batch_id": batch_id,
        "rows_in": rows_in,
        "timings_sec": {
            "stats": round(_t_stats - _t0, 3),
            "plan": round(_t_plan - _t_stats, 3),
            "write": round(_t_write - _t_plan, 3),
        },
        "op_counts": op_counts,
        "affected_buckets": sorted(affected_set),
        "files_removed": len(old_adds),
        "files_added": len(new_adds),
    }
    if cow:
        lineage["rows_before"] = _rows_per_bucket(old_adds)
        lineage["rows_after"] = _rows_per_bucket(new_adds)
    else:
        lineage["mode"] = "mor"
        lineage["rows_written"] = sum(a["rows"] for a in new_adds)
    if extra_manifest:
        lineage.update(extra_manifest)
    version = table._commit(
        new_adds,
        [a["path"] for a in old_adds],
        evolved,
        lineage,
        # merge-on-read is add-only, so no concurrent commit can invalidate it
        base_version=snap.version if cow else None,
        affected_buckets=affected_set if cow else None,
    )
    lineage["version"] = version
    lineage["skipped"] = False
    return lineage


def _rows_per_bucket(adds: list[dict[str, Any]]) -> dict[str, int]:
    out: dict[str, int] = {}
    for a in adds:
        b = str(a["bucket"])
        out[b] = out.get(b, 0) + a["rows"]
    return out
