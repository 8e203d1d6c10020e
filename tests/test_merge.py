"""MERGE semantics: upsert, stale no-op, delete tombstones, re-insert,
epoch fencing, schema evolution through merge, lineage records."""

import datetime as dt
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tickers_daily_intraday_etl_spark.cdc import merge as M
from tickers_daily_intraday_etl_spark.cdc.merge import merge_into
from tickers_daily_intraday_etl_spark.cdc.schemas import CDC_SCHEMA, CDC_SCHEMA_V2, TARGET_SCHEMA
from tickers_daily_intraday_etl_spark.lake import LakeTable


def _ev(op, doc, lsn, ts_s=0, tokens=None, source="s", **extra):
    base = dict(
        op=op,
        doc_id=doc,
        lsn=lsn,
        commit_ts=dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(seconds=ts_s),
        tokens=tokens,
        n_tok=None if tokens is None else len(tokens),
        source=source,
    )
    base.update(extra)
    return Row(**base)


def _table(spark, tmpdir_path, **kw):
    kw.setdefault("num_buckets", 4)
    return LakeTable.create_if_not_exists(
        spark, os.path.join(tmpdir_path, "t"), TARGET_SCHEMA, **kw
    )


def _state(table):
    return {r.doc_id: r.tokens for r in table.read().collect()}


def test_insert_then_update(spark, tmpdir_path):
    t = _table(spark, tmpdir_path)
    b1 = spark.createDataFrame([_ev("I", "a", 1, tokens=[1]), _ev("I", "b", 2, tokens=[2])], CDC_SCHEMA)
    merge_into(t, b1, batch_id=0)
    assert _state(t) == {"a": [1], "b": [2]}
    b2 = spark.createDataFrame([_ev("U", "a", 3, ts_s=1, tokens=[9, 9])], CDC_SCHEMA)
    merge_into(t, b2, batch_id=1)
    assert _state(t) == {"a": [9, 9], "b": [2]}


def test_stale_update_is_noop(spark, tmpdir_path):
    t = _table(spark, tmpdir_path)
    merge_into(t, spark.createDataFrame([_ev("I", "a", 10, tokens=[10])], CDC_SCHEMA), batch_id=0)
    merge_into(t, spark.createDataFrame([_ev("U", "a", 5, ts_s=1, tokens=[5])], CDC_SCHEMA), batch_id=1)
    assert _state(t) == {"a": [10]}


def test_delete_and_stale_update_after_delete(spark, tmpdir_path):
    t = _table(spark, tmpdir_path)
    merge_into(t, spark.createDataFrame([_ev("I", "a", 1, tokens=[1])], CDC_SCHEMA), batch_id=0)
    merge_into(t, spark.createDataFrame([_ev("D", "a", 10, ts_s=1)], CDC_SCHEMA), batch_id=1)
    assert _state(t) == {}
    # stale update (lsn 5 < delete lsn 10) must lose to the tombstone
    merge_into(t, spark.createDataFrame([_ev("U", "a", 5, ts_s=2, tokens=[5])], CDC_SCHEMA), batch_id=2)
    assert _state(t) == {}
    # re-insert with higher lsn resurrects
    merge_into(t, spark.createDataFrame([_ev("I", "a", 11, ts_s=3, tokens=[7])], CDC_SCHEMA), batch_id=3)
    assert _state(t) == {"a": [7]}


def test_delete_of_absent_key_inserts_tombstone(spark, tmpdir_path):
    t = _table(spark, tmpdir_path)
    merge_into(t, spark.createDataFrame([_ev("D", "ghost", 10)], CDC_SCHEMA), batch_id=0)
    assert _state(t) == {}
    merge_into(t, spark.createDataFrame([_ev("U", "ghost", 4, ts_s=1, tokens=[4])], CDC_SCHEMA), batch_id=1)
    assert _state(t) == {}  # stale vs tombstone


def test_epoch_fence_skips_replayed_batch(spark, tmpdir_path):
    t = _table(spark, tmpdir_path)
    b = spark.createDataFrame([_ev("I", "a", 1, tokens=[1])], CDC_SCHEMA)
    m1 = merge_into(t, b, batch_id=7)
    v_after = t.log.latest_version()
    m2 = merge_into(t, b, batch_id=7)  # replay of the same epoch
    assert m1["skipped"] is False
    assert m2["skipped"] is True
    assert t.log.latest_version() == v_after
    assert _state(t) == {"a": [1]}


def test_merge_schema_evolution(spark, tmpdir_path):
    t = _table(spark, tmpdir_path)
    merge_into(t, spark.createDataFrame([_ev("I", "a", 1, tokens=[1])], CDC_SCHEMA), batch_id=0)
    evolved = spark.createDataFrame(
        [_ev("I", "b", 2, ts_s=1, tokens=[2], source_version=3)], CDC_SCHEMA_V2
    )
    merge_into(t, evolved, batch_id=1)
    out = {r.doc_id: r for r in t.read().collect()}
    assert out["a"].source_version is None
    assert out["b"].source_version == 3
    # update of pre-evolution row carries the new column
    merge_into(
        t,
        spark.createDataFrame([_ev("U", "a", 3, ts_s=2, tokens=[8], source_version=4)], CDC_SCHEMA_V2),
        batch_id=2,
    )
    out = {r.doc_id: r for r in t.read().collect()}
    assert out["a"].tokens == [8] and out["a"].source_version == 4


def test_bucket_pruning_leaves_other_buckets_untouched(spark, tmpdir_path):
    t = _table(spark, tmpdir_path, num_buckets=8)
    rows = [_ev("I", f"d{i}", i + 1, ts_s=i, tokens=[i]) for i in range(32)]
    merge_into(t, spark.createDataFrame(rows, CDC_SCHEMA), batch_id=0)
    snap0 = t.log.snapshot()
    files_before = dict(snap0.live_files)
    # single-key update touches exactly one bucket
    m = merge_into(
        t, spark.createDataFrame([_ev("U", "d0", 100, ts_s=99, tokens=[99])], CDC_SCHEMA), batch_id=1
    )
    assert len(m["affected_buckets"]) == 1
    b = m["affected_buckets"][0]
    snap1 = t.log.snapshot()
    untouched_before = {p for p, a in files_before.items() if a["bucket"] != b}
    untouched_after = {p for p, a in snap1.live_files.items() if a["bucket"] != b}
    assert untouched_before == untouched_after
    assert _state(t)["d0"] == [99]


def test_lineage_manifest_recorded(spark, tmpdir_path):
    t = _table(spark, tmpdir_path)
    m = merge_into(
        t,
        spark.createDataFrame(
            [_ev("I", "a", 1, tokens=[1]), _ev("U", "a", 2, ts_s=1, tokens=[2]), _ev("D", "b", 3, ts_s=2)],
            CDC_SCHEMA,
        ),
        batch_id=0,
    )
    assert m["rows_in"] == 3
    assert m["op_counts"] == {"I": 1, "U": 1, "D": 1}
    assert m["rows_after"]  # per-bucket counts present
    entry = t.log.read_entry(m["version"])
    assert entry.manifest["batch_id"] == 0


ZERO_ROW_CASES = [(m, s) for m in ("cow", "mor") for s in (CDC_SCHEMA, CDC_SCHEMA_V2)]


def _assert_fence_only(t, version, batch_id, schema):
    entry = t.log.read_entry(version)
    assert entry.adds == [] and entry.removes == []
    assert entry.manifest == {"batch_id": batch_id, "rows_in": 0}
    # the batch's schema evolves the table even though no row landed
    assert ("source_version" in t.user_schema().names) == (schema is CDC_SCHEMA_V2)


def test_empty_batch_records_epoch(spark, tmpdir_path):
    """Every mode commits a zero-row batch as ONE fence-only entry under
    the batch's evolved schema (merge-on-read used to fail reading the
    Observation Spark never delivers for an empty plan; copy-on-write
    dropped a V2 batch's new column)."""
    for mode, schema in ZERO_ROW_CASES:
        t = LakeTable.create_if_not_exists(
            spark, os.path.join(tmpdir_path, f"{mode}-{len(schema)}"), TARGET_SCHEMA, num_buckets=4
        )
        merge_into(t, spark.createDataFrame([_ev("I", "a", 1, tokens=[1])], CDC_SCHEMA), batch_id=0)
        live_before = dict(t.log.snapshot().live_files)
        empty = spark.createDataFrame([], schema)
        m = merge_into(t, empty, batch_id=5, mode=mode)
        assert m == {"batch_id": 5, "rows_in": 0, "version": 2, "skipped": False}
        assert 5 in t.committed_batch_ids()
        _assert_fence_only(t, m["version"], 5, schema)
        assert t.log.snapshot().live_files == live_before
        assert merge_into(t, empty, batch_id=5, mode=mode)["skipped"] is True
        assert t.log.latest_version() == 2
        assert _state(t) == {"a": [1]}


@pytest.mark.parametrize(
    "mode,schema", ZERO_ROW_CASES, ids=["cow-v1", "cow-v2", "mor-v1", "mor-v2"]
)
def test_zero_row_segment_through_pipeline(spark, tmpdir_path, mode, schema):
    """A zero-row feed segment drains through CdcPipeline in every mode
    (a merge-on-read stream used to die with STREAM_FAILED on it)."""
    from tickers_daily_intraday_etl_spark.sources.changefeed import write_feed
    from tickers_daily_intraday_etl_spark.streaming import CdcPipeline

    feed = os.path.join(tmpdir_path, "feed")
    write_feed(spark.createDataFrame([], schema), feed, fmt="parquet")
    pipe = CdcPipeline(
        spark, feed, os.path.join(tmpdir_path, "t"), os.path.join(tmpdir_path, "c"),
        feed_schema=schema, target_schema=TARGET_SCHEMA, num_buckets=4, merge_mode=mode,
    )
    lineage = pipe.run_available_now()
    assert [(m["rows_in"], m["skipped"]) for m in lineage] == [(0, False)]
    _assert_fence_only(pipe.table, lineage[0]["version"], lineage[0]["batch_id"], schema)
    assert pipe.table.read().count() == 0


def test_merge_schema_widening_int_to_long(spark, tmpdir_path):
    """int32 -> int64 widening mid-stream: old files unrewritten, reads
    align, values preserved."""
    from pyspark.sql import types as T

    t = _table(spark, tmpdir_path)
    merge_into(t, spark.createDataFrame([_ev("I", "a", 1, tokens=[1])], CDC_SCHEMA), batch_id=0)
    widened_fields = []
    for f in CDC_SCHEMA.fields:
        if f.name == "n_tok":
            widened_fields.append(T.StructField("n_tok", T.LongType(), True))
        else:
            widened_fields.append(f)
    widened = T.StructType(widened_fields)
    big = 3_000_000_000  # exceeds int32
    rows = [_ev("I", "b", 2, ts_s=1, tokens=[2])]
    df = spark.createDataFrame(rows, CDC_SCHEMA).select(
        "op", "doc_id", "lsn", "commit_ts", "tokens",
        F.lit(big).cast("long").alias("n_tok"), "source",
    )
    merge_into(t, df, batch_id=1)
    assert t.user_schema()["n_tok"].dataType == T.LongType()
    out = {r.doc_id: r.n_tok for r in t.read().collect()}
    assert out == {"a": 1, "b": big}


def test_merge_retries_after_concurrent_conflict(spark, tmpdir_path):
    """An interleaved commit into an affected bucket aborts the first
    attempt (ConcurrentModificationError); merge_into re-plans against
    the new snapshot and converges — the interleaved writer's rows and
    the batch's rows both survive."""
    from tickers_daily_intraday_etl_spark.lake.table import ConcurrentModificationError

    table = _table(spark, tmpdir_path, num_buckets=1)  # everything in one bucket
    merge_into(table, spark.createDataFrame([_ev("I", "a", 1, tokens=[1])], CDC_SCHEMA),
               batch_id=0)

    other = LakeTable.load(spark, table.path)
    real_commit = table._commit
    fired = {"n": 0}
    commit_calls = {"n": 0}

    def racing_commit(*args, **kwargs):
        commit_calls["n"] += 1
        if fired["n"] == 0:
            fired["n"] = 1
            # another writer lands an ADD-ONLY (merge-on-read) commit into
            # the same bucket between our planning snapshot and our commit:
            # the removes-still-live check cannot see it — this exercises
            # the base_version late-file detection branch
            merge_into(other, spark.createDataFrame(
                [_ev("I", "b", 2, tokens=[2])], CDC_SCHEMA), batch_id="race", mode="mor")
        return real_commit(*args, **kwargs)

    table._commit = racing_commit
    try:
        m = merge_into(table, spark.createDataFrame(
            [_ev("I", "c", 3, tokens=[3])], CDC_SCHEMA), batch_id=1)
    finally:
        table._commit = real_commit
    assert not m.get("skipped")
    # the conflict really fired: first attempt aborted, second committed
    assert commit_calls["n"] == 2
    assert _state(table) == {"a": [1], "b": [2], "c": [3]}

    # with retries disabled the same race propagates
    fired["n"] = 0

    def racing_commit2(*args, **kwargs):
        if fired["n"] == 0:
            fired["n"] = 1
            merge_into(other, spark.createDataFrame(
                [_ev("I", "d", 4, tokens=[4])], CDC_SCHEMA), batch_id="race2")
        return real_commit(*args, **kwargs)

    table._commit = racing_commit2
    try:
        with pytest.raises(ConcurrentModificationError):
            merge_into(table, spark.createDataFrame(
                [_ev("I", "e", 5, tokens=[5])], CDC_SCHEMA),
                batch_id=2, max_conflict_retries=0)
    finally:
        table._commit = real_commit


# --------------------------------------------------------- crash injection
def _crash_case(spark, tmpdir_path, mode, dense=False):
    from tickers_daily_intraday_etl_spark.lake.maintenance import vacuum

    t = _table(spark, tmpdir_path)
    merge_into(t, spark.createDataFrame(
        [_ev("I", "a", 1, tokens=[1]), _ev("I", "b", 2, tokens=[2])], CDC_SCHEMA
    ), batch_id=0)
    v_before = t.log.latest_version()
    state_before = _state(t)

    # simulated crash between _write_data and log.try_commit: data files
    # land on disk but the commit never publishes
    orig = t.log.try_commit

    def boom(entry):
        raise RuntimeError("simulated crash before commit")

    t.log.try_commit = boom
    batch = spark.createDataFrame([_ev("U", "a", 3, ts_s=1, tokens=[9])], CDC_SCHEMA)
    with pytest.raises(RuntimeError, match="simulated crash"):
        merge_into(t, batch, batch_id=1, mode=mode)
    t.log.try_commit = orig

    # 1. table state unchanged (snapshot isolation: unpublished files invisible)
    assert t.log.latest_version() == v_before
    assert _state(t) == state_before
    # 2. orphaned files exist and are vacuumable once past min_age
    dry = vacuum(t, min_age_seconds=0.0, dry_run=True)
    assert dry["orphan_files"] >= 1
    vacuum(t, min_age_seconds=0.0)
    assert vacuum(t, min_age_seconds=0.0, dry_run=True)["orphan_files"] == 0
    assert _state(t) == state_before  # vacuum touched only orphans
    # 3. re-run of the same batch_id lands exactly once
    m1 = merge_into(t, batch, batch_id=1, mode=mode)
    assert not m1.get("skipped")
    if dense:
        assert m1["affected_buckets"] == list(range(t.num_buckets))
    assert _state(t) == {"a": [9], "b": [2]}
    m2 = merge_into(t, batch, batch_id=1, mode=mode)
    assert m2.get("skipped")  # epoch fence
    assert _state(t) == {"a": [9], "b": [2]}


def test_crash_before_commit_cow(spark, tmpdir_path):
    _crash_case(spark, tmpdir_path, "cow")


def test_crash_before_commit_mor(spark, tmpdir_path):
    _crash_case(spark, tmpdir_path, "mor")


def test_crash_before_commit_dense_cow(spark, tmpdir_path, monkeypatch):
    _force_dense(monkeypatch)
    _crash_case(spark, tmpdir_path, "cow", dense=True)


# ---------------------------------------------------------------- dense path
def _force_dense(monkeypatch):
    """Make the metadata row estimate clear the dense threshold, so every
    copy-on-write merge skips the pruning pre-scan and observes its op
    counts during the write (the plan a large bulk batch takes)."""
    monkeypatch.setattr(M, "_estimated_rows", lambda changes: 10**9)


def test_dense_merge_matches_sparse_merge(spark, tmpdir_path, monkeypatch):
    """The dense (Observation-fused, no pre-scan) CoW path must produce
    the identical final state, op counts and rows_in as the pruning
    path on the same batches."""
    import os as _os

    batches = [
        [_ev("I", f"d{i}", i + 1, tokens=[i]) for i in range(40)],
        [_ev("U", f"d{i}", 100 + i, ts_s=1, tokens=[i, i]) for i in range(0, 40, 2)]
        + [_ev("D", f"d{i}", 200 + i, ts_s=2) for i in range(0, 40, 5)],
        # one key: the sparse path prunes to its bucket, dense rewrites all
        [_ev("U", "d1", 300, ts_s=3, tokens=[7])],
    ]
    t_sparse = LakeTable.create_if_not_exists(
        spark, _os.path.join(tmpdir_path, "sparse"), TARGET_SCHEMA, num_buckets=4
    )
    t_dense = LakeTable.create_if_not_exists(
        spark, _os.path.join(tmpdir_path, "dense"), TARGET_SCHEMA, num_buckets=4
    )
    for b, rows in enumerate(batches):
        df = spark.createDataFrame(rows, CDC_SCHEMA)
        m_s = merge_into(t_sparse, df, batch_id=b)
        with monkeypatch.context() as mp:
            _force_dense(mp)
            m_d = merge_into(t_dense, df, batch_id=b)
        assert m_d["affected_buckets"] == [0, 1, 2, 3]
        assert m_s["rows_in"] == m_d["rows_in"]
        assert m_s["op_counts"] == m_d["op_counts"]
    assert len(m_s["affected_buckets"]) == 1
    assert _state(t_sparse) == _state(t_dense)


def test_dense_merge_through_streaming_pipeline(spark, tmpdir_path, monkeypatch):
    """Round-4 regression: the dense path's Observation must complete
    inside foreachBatch (the batch df lives in a CLONED session; the
    merge's union must keep the batch side on the left so the write
    executes where the observation listener is registered — building it
    the other way round deadlocks obs.get forever)."""
    import os as _os

    from tickers_daily_intraday_etl_spark.sources.changefeed import write_feed
    from tickers_daily_intraday_etl_spark.streaming import CdcPipeline

    feed = _os.path.join(tmpdir_path, "feed")
    rows = [_ev("I", f"d{i % 10}", i + 1, tokens=[i]) for i in range(20)]
    write_feed(spark.createDataFrame(rows, CDC_SCHEMA), feed, fmt="parquet")

    _force_dense(monkeypatch)
    pipe = CdcPipeline(
        spark, feed, _os.path.join(tmpdir_path, "t"),
        _os.path.join(tmpdir_path, "c"), num_buckets=4,
    )
    lineage = pipe.run_available_now()
    assert [m.get("rows_in") for m in lineage] == [20]
    assert lineage[0]["affected_buckets"] == [0, 1, 2, 3]
    assert {r.doc_id for r in pipe.table.read().collect()} == {f"d{i}" for i in range(10)}


def test_manifest_keys_per_plan_variant(spark, tmpdir_path, monkeypatch):
    """Pins the manifest each plan variant commits (sparse CoW, dense
    CoW, MoR): the lineage contract that cdc_lineage_metrics and the
    benchmark read.  The committed manifest is the returned one minus
    the post-commit ``version``/``skipped``."""
    cow_keys = {
        "batch_id", "rows_in", "timings_sec", "op_counts", "affected_buckets",
        "rows_before", "rows_after", "files_removed", "files_added",
    }
    mor_keys = {
        "batch_id", "mode", "rows_in", "timings_sec", "op_counts",
        "affected_buckets", "files_removed", "files_added", "rows_written",
    }
    t = _table(spark, tmpdir_path)

    def batch(lsn):
        return spark.createDataFrame(
            [_ev("I", "a", lsn, ts_s=lsn, tokens=[lsn]), _ev("U", "b", lsn, ts_s=lsn, tokens=[lsn])],
            CDC_SCHEMA,
        )

    sparse = merge_into(t, batch(1), batch_id=0)
    mor = merge_into(t, batch(2), batch_id=1, mode="mor")
    live = len(t.log.snapshot().live_files)
    with monkeypatch.context() as mp:
        _force_dense(mp)
        dense = merge_into(t, batch(3), batch_id=2)
    for m, keys in ((sparse, cow_keys), (dense, cow_keys), (mor, mor_keys)):
        assert set(m) == keys | {"version", "skipped"}
        assert set(m["timings_sec"]) == {"stats", "plan", "write"}
        assert m["rows_in"] == 2 and m["op_counts"] == {"I": 1, "U": 1}
        committed = t.log.read_entry(m["version"]).manifest
        assert committed == {k: v for k, v in m.items() if k not in ("version", "skipped")}
    buckets = sorted({int(b) for b in sparse["rows_after"]})
    assert sparse["affected_buckets"] == buckets and sparse["rows_before"] == {}
    assert sparse["files_removed"] == 0 and sparse["files_added"] == len(buckets)
    assert mor["mode"] == "mor" and mor["affected_buckets"] == buckets
    assert mor["files_removed"] == 0 and mor["rows_written"] == 2
    assert dense["affected_buckets"] == [0, 1, 2, 3]
    assert dense["files_removed"] == live and dense["files_added"] == len(buckets)
    assert sum(dense["rows_after"].values()) == 2
    assert _state(t) == {"a": [3], "b": [3]}


def test_estimated_rows_boundaries(spark, tmpdir_path):
    """The auto-dense estimator: exact rowCount when Catalyst knows it,
    size-derived otherwise, and Spark's unknown-size sentinel
    (defaultSizeInBytes) must read as UNKNOWN, not huge."""
    import os as _os

    from tickers_daily_intraday_etl_spark.cdc.merge import _estimated_rows
    from tickers_daily_intraday_etl_spark.sources.changefeed import read_feed, write_feed

    # RDD-backed frame: sentinel size -> None (NOT astronomically dense)
    df_local = spark.createDataFrame([_ev("I", "a", 1, tokens=[1])], CDC_SCHEMA)
    est_rdd = _estimated_rows(df_local.where("lsn > 0"))
    assert est_rdd is None or est_rdd < 1000

    # file-backed frame: size-derived, within an order of magnitude
    feed = _os.path.join(tmpdir_path, "feed")
    rows = [_ev("I", f"d{i}", i + 1, tokens=list(range(32))) for i in range(5000)]
    write_feed(spark.createDataFrame(rows, CDC_SCHEMA), feed, fmt="parquet")
    est_file = _estimated_rows(read_feed(spark, feed, schema=CDC_SCHEMA))
    assert est_file is not None and 100 <= est_file <= 500_000


def test_dense_merge_with_schema_evolution(spark, tmpdir_path, monkeypatch):
    """Dense path + schema-merge-on-write together: the Observation
    fusion must not bypass the evolution handling (new column appears,
    old rows read back NULL-filled)."""
    import os as _os

    _force_dense(monkeypatch)
    t = LakeTable.create_if_not_exists(
        spark, _os.path.join(tmpdir_path, "t"), TARGET_SCHEMA, num_buckets=4
    )
    merge_into(
        t,
        spark.createDataFrame([_ev("I", f"d{i}", i + 1, tokens=[i]) for i in range(8)], CDC_SCHEMA),
        batch_id=0,
    )
    evolved = [
        _ev("U", f"d{i}", 100 + i, ts_s=1, tokens=[i, i], source_version=2)
        for i in range(0, 8, 2)
    ]
    m = merge_into(t, spark.createDataFrame(evolved, CDC_SCHEMA_V2), batch_id=1)
    assert m["affected_buckets"] == [0, 1, 2, 3]
    assert m["op_counts"] == {"U": 4}
    out = {r.doc_id: r for r in t.read().collect()}
    assert out["d0"].source_version == 2 and out["d0"].tokens == [0, 0]
    assert out["d1"].source_version is None and out["d1"].tokens == [1]


def test_two_threads_merging_concurrently_converge(spark, tmpdir_path):
    """TRUE concurrency (not injected races): two writer threads apply
    interleaved halves of one feed as competing CoW merges on the same
    table.  Every commit races through the OCC loop (retry-re-plan on
    ConcurrentModificationError, version CAS in the log), and because
    the LWW order (lsn, commit_ts, fingerprint) is total, ANY
    serialization of the batches must converge to the replay oracle's
    exact final state."""
    import threading

    from tickers_daily_intraday_etl_spark.cdc.feedgen import generate_feed
    from tickers_daily_intraday_etl_spark.cdc.oracle import final_state_frame

    events = generate_feed(n_events=1200, n_docs=80, seed=13)
    table = _table(spark, tmpdir_path, num_buckets=4)
    halves = {"a": events.iloc[::2], "b": events.iloc[1::2]}
    errors = []

    def writer(tag):
        try:
            part = halves[tag]
            n = len(part)
            for i in range(4):
                chunk = part.iloc[i * n // 4 : (i + 1) * n // 4]
                batch = spark.createDataFrame(chunk, schema=CDC_SCHEMA)
                merge_into(table, batch, batch_id=f"{tag}-{i}",
                           max_conflict_retries=50)
        except Exception as e:  # surface into the main thread
            errors.append((tag, e))

    threads = [threading.Thread(target=writer, args=(t,)) for t in ("a", "b")]
    [t.start() for t in threads]
    [t.join() for t in threads]
    assert errors == [], errors

    oracle = final_state_frame(events)
    exp = {
        r["doc_id"]: (None if r["tokens"] is None else list(r["tokens"]))
        for _, r in oracle.iterrows()
        if r["tokens"] is not None
    }
    got = {r.doc_id: list(r.tokens) for r in table.read().collect()}
    assert got == exp
    # all 8 epochs fenced exactly once
    assert sorted(table.committed_batch_ids()) == sorted(
        f"{t}-{i}" for t in ("a", "b") for i in range(4)
    )
