"""Wrap the engine's entry points in spans, from the benchmark's side.

Every wrapper is a no-op pass-through while the tracer is disabled.
"""

from __future__ import annotations

import functools


def install(ctx) -> None:
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from tickers_daily_intraday_etl_spark.cdc import merge as merge_mod
    from tickers_daily_intraday_etl_spark.lake import log as log_mod
    from tickers_daily_intraday_etl_spark.lake import maintenance as maint_mod
    from tickers_daily_intraday_etl_spark.lake import table as table_mod
    from tickers_daily_intraday_etl_spark.sources import changefeed as src_mod
    from tickers_daily_intraday_etl_spark.streaming import pipeline as pipe_mod

    tr = ctx.tracer

    # the pipeline imported merge_into by name: patch both references
    traced_merge = _merge_wrapper(ctx, merge_mod.merge_into)
    merge_mod.merge_into = traced_merge
    pipe_mod.merge_into = traced_merge

    tr.wrap(pipe_mod.CdcPipeline, "run_available_now", "streaming.pipeline.run_available_now")
    tr.wrap(pipe_mod.CdcPipeline, "_apply_batch", "streaming.pipeline.apply_batch")
    tr.wrap(DataStreamWriter, "start", "streaming.query_start")
    tr.wrap(src_mod, "read_feed", "sources.changefeed.read_feed")

    LakeTable = table_mod.LakeTable
    tr.wrap(LakeTable, "read_raw", "lake.table.read_raw")
    tr.wrap(LakeTable, "lookup", "lake.table.lookup")
    tr.wrap(LakeTable, "_scan_commit_dir", "lake.table.footer_scan")

    CommitLog = log_mod.CommitLog
    tr.wrap(CommitLog, "snapshot", "lake.log.snapshot")
    tr.wrap(CommitLog, "_write_checkpoint", "lake.log.checkpoint")
    _wrap_try_commit(tr, CommitLog, log_mod.CommitConflict)

    tr.wrap(maint_mod, "compact", "lake.maintenance.compact")
    tr.wrap(maint_mod, "vacuum", "lake.maintenance.vacuum",
            after=lambda out, idx, a, k: tr.count("maintenance.files_deleted",
                                                  out.get("orphan_files", 0)))


def _wrap_try_commit(tr, CommitLog, CommitConflict) -> None:
    fn = CommitLog.try_commit

    @functools.wraps(fn)
    def try_commit(self, entry):
        if not tr.enabled:
            return fn(self, entry)
        idx = tr.open("lake.log.try_commit")
        try:
            return fn(self, entry)
        except CommitConflict:
            tr.count("log.commit_retries")
            raise
        finally:
            tr.close(idx)

    CommitLog.try_commit = try_commit


def _merge_wrapper(ctx, fn):
    """merge_into under a span, with Spark's task counters read around it
    (inside child spans, so their cost shows as tracing, not merge time)
    and the returned lineage folded into the run's counts."""
    tr = ctx.tracer

    def read_counters():
        idx = tr.open("trace.counters")
        try:
            return ctx.counters.read()
        finally:
            tr.close(idx)

    @functools.wraps(fn)
    def merge_into(*args, **kwargs):
        if not tr.enabled:
            return fn(*args, **kwargs)
        idx = tr.open("cdc.merge.merge_into")
        try:
            c0 = read_counters()
            out = fn(*args, **kwargs)
            d = ctx.counters.delta(c0, read_counters())
        finally:
            tr.close(idx)
        if out.get("skipped"):
            return out
        rows_in = out.get("rows_in", 0)
        tr.count("merge.calls")
        tr.count("merge.rows_in", rows_in)
        tr.count("merge.jobs", d["jobs"])
        tr.count("merge.tasks", d["tasks"])
        tr.count("merge.task_s", d["task_ms"] / 1000.0)
        tr.count("merge.shuffle_bytes", d["shuffle_write"])
        for phase, sec in out.get("timings_sec", {}).items():
            tr.count(f"merge.{phase}_s", sec)
        tr.count("merge.files_added", out.get("files_added", 0))
        tr.count("merge.files_removed", out.get("files_removed", 0))
        rewritten = out.get("rows_written", sum(out.get("rows_after", {}).values()))
        tr.count("merge.rows_written", rewritten)
        if "n_input_files" in out:
            tr.count("merge.stream_batches")
            tr.count("merge.input_files", out["n_input_files"])
        return out

    merge_into._perfbench_wrapped = True
    return merge_into
