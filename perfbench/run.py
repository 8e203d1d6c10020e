"""The repository's benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run sizes Spark to the host, sets up
the workload once from cold (JVM launch, package build, table seeding and
the warm-up units: the set-up time), repeats the workload's unit until
``--seconds`` of measured time are spent, in whole maintenance cycles so
that every run mixes its units alike, checks everything the engine
produced against an independent oracle, and prints one JSON object as
its last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` reports the
per-layer metrics: every other cycle of units runs with spans around the
engine's entry points, and the untraced cycles in between give the
tracing overhead and the wall-clock and CPU figures.  Workload, metric
and layer definitions are in ``layers.json`` beside this file.  Host
facts, per-run samples and spans are written under
``.bench_work/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import hostenv  # noqa: E402
from hostenv import ENGINE_PKG, ROOT, WORK  # noqa: E402

# Bounded metrics are bytes and set-up time.  On a shared 4-core host,
# co-tenant load moved wall-clock figures 0.3-0.5 and per-operation CPU
# time 0.1-0.26 (quartile spread over ten runs), beyond or near the
# largest bound allowed (0.25); both are reported with the per-layer
# metrics, unbounded.
E2E_UNITS = {
    "setup_s": "s",
    "write_amp": "ratio",
    "space_bytes_per_row": "bytes",
}

LAYER_UNITS = {
    "unit_cpu_s": "s",
    "ingest_cpu_ms_per_event": "ms",
    "lookup_cpu_ms": "ms",
    "scan_cpu_s": "s",
    "wall_s": "s",
    "events_per_s": "ev/s",
    "batch_p50_s": "s",
    "batch_p90_s": "s",
    "lookup_p50_ms": "ms",
    "lookup_p90_ms": "ms",
    "scan_p50_s": "s",
    "peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "sources.files_per_batch": "count",
    "streaming.batches": "count",
    "streaming.trigger_overhead_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.query_start_stop_s": "s",
    "streaming.foreach_batch_bridge_s": "s",
    "streaming.apply_batch_self_s": "s",
    "cdc.merge.calls": "count",
    "cdc.merge.self_s": "s",
    "cdc.merge.stats_s": "s",
    "cdc.merge.plan_s": "s",
    "cdc.merge.write_s": "s",
    "cdc.merge.jobs_per_batch": "count",
    "cdc.merge.tasks_per_batch": "count",
    "cdc.dedup.shuffle_bytes_per_event": "bytes",
    "cdc.dedup.task_s_per_event": "s",
    "spark.gc_share": "ratio",
    "spark.failed_tasks": "count",
    "spark.read_exec_s": "s",
    "lake.log.snapshot_calls_per_batch": "count",
    "lake.log.snapshot_s": "s",
    "lake.log.try_commit_s": "s",
    "lake.log.checkpoint_s": "s",
    "lake.log.commit_retries": "count",
    "lake.log.entries_at_end": "count",
    "lake.table.read_raw_s": "s",
    "lake.table.footer_scan_s": "s",
    "lake.table.files_added_per_batch": "count",
    "lake.table.files_removed_per_batch": "count",
    "lake.table.rows_rewritten_per_row_in": "ratio",
    "lake.table.lookup_s": "s",
    "lake.table.lookup_files_scanned": "count",
    "lake.table.lookup_prune_share": "ratio",
    "lake.table.live_files": "count",
    "lake.table.delta_files": "count",
    "lake.maintenance.runs": "count",
    "lake.maintenance.vacuum_s": "s",
    "lake.maintenance.compact_s": "s",
    "lake.maintenance.files_deleted": "count",
    "queries.minhash_signatures_s": "s",
    "queries.minhash_signatures.task_s": "s",
    "queries.cpu_share": "ratio",
    "trace.overhead_share": "ratio",
    "trace.uncovered_share": "ratio",
}

# per-layer totals reported as means per traced unit (see layers.json)
PER_UNIT = {
    "streaming.batches", "streaming.trigger_overhead_s", "streaming.wal_commit_s",
    "streaming.query_start_stop_s", "streaming.foreach_batch_bridge_s",
    "streaming.apply_batch_self_s", "cdc.merge.calls", "cdc.merge.self_s", "cdc.merge.stats_s",
    "cdc.merge.plan_s", "cdc.merge.write_s", "spark.failed_tasks", "spark.read_exec_s",
    "lake.log.snapshot_s", "lake.log.try_commit_s", "lake.log.checkpoint_s",
    "lake.log.commit_retries", "lake.table.read_raw_s", "lake.table.footer_scan_s",
    "lake.table.lookup_s", "lake.maintenance.runs", "lake.maintenance.vacuum_s",
    "lake.maintenance.compact_s", "lake.maintenance.files_deleted",
    "queries.minhash_signatures_s", "queries.minhash_signatures.task_s",
}


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def p90(xs: list[float]) -> float:
    """Nearest-rank 90th percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return float(s[min(len(s) - 1, max(0, -(-9 * len(s) // 10) - 1))])


class Ctx:
    """What the workloads share with the harness during one run."""

    def __init__(self, tracer, nproc: int):
        from workloads import Recorder

        self.tracer = tracer
        self.nproc = nproc
        self.rec = Recorder()
        self.spark = None
        self.listener = None
        self.counters = None
        self.lookup_file_counts: list[tuple[int, int]] = []
        self.query_task_s = 0.0

    def progress_count(self) -> int:
        return len(self.listener.terminated) if self.listener is not None else 0

    def drain_progress(self, before: int) -> list[dict]:
        """Progress reports of the drain that just ran; when tracing,
        its triggers become child spans of the drain."""
        progress = self.listener.wait_terminated(before)
        if self.tracer.enabled:
            drains = [i for i, s in enumerate(self.tracer.spans)
                      if s.name == "streaming.pipeline.run_available_now"]
            self.tracer.attach_triggers(drains[-1], progress)
            self.tracer.count("streaming.batches", len(progress))
            for p in progress:
                d = p["durationMs"]
                self.tracer.count("streaming.trigger_overhead_s",
                                  (d.get("triggerExecution", 0) - d.get("addBatch", 0)) / 1000.0)
                self.tracer.count("streaming.wal_commit_s",
                                  (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0)
        return progress

    def lookup_files(self, df, table) -> None:
        """Files a lookup scanned against the table's live files, read in
        a span of its own with the engine's spans paused, so that this
        read counts as tracing cost, not as engine work."""
        tr = self.tracer
        idx = tr.open("trace.lookup_files")
        tr.enabled = False
        try:
            scanned = len(df.inputFiles())
            live = len(table.log.snapshot().live_files)
        finally:
            tr.enabled = True
            tr.close(idx)
        self.lookup_file_counts.append((scanned, live))

    def run_query(self, name: str, fn):
        tr = self.tracer
        if not tr.enabled:
            return fn()
        c0 = self.counters.read()
        idx = tr.open(f"queries.{name}")
        try:
            return fn()
        finally:
            tr.close(idx)
            self.query_task_s += self.counters.delta(c0, self.counters.read())["task_ms"] / 1000.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _engine_present() -> bool:
    return (ROOT / ENGINE_PKG / "__init__.py").is_file()


def _relocate_pyfiles_zip(run_dir: Path) -> None:
    """The engine ships itself to Python workers as a zip it builds in the
    system temp dir; build the same zip, named by the engine's own
    fingerprint, inside the run directory instead, so the benchmark writes
    nothing outside its checkout.  The run directory starts empty, so
    every run's set-up builds it."""
    import zipfile

    from tickers_daily_intraday_etl_spark import session

    fingerprint = getattr(session, "__spark_pkg_fingerprint")
    pkg_dir = ROOT / ENGINE_PKG

    def build_pyfiles_zip() -> str:
        out = run_dir / f"{ENGINE_PKG}-{fingerprint(str(pkg_dir))}.zip"
        if not out.exists():
            tmp = out.with_suffix(".tmp")
            with zipfile.ZipFile(tmp, "w") as zf:
                for p in sorted(pkg_dir.rglob("*.py")):
                    zf.write(p, p.relative_to(ROOT))
            os.replace(tmp, out)
        return str(out)

    session.build_pyfiles_zip = build_pyfiles_zip


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in (it exits when its stdin
    closes), and wait for the JVM and its Python workers to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    children = hostenv.descendants(os.getpid())
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    left = hostenv.wait_gone(children, timeout=30)
    if left:
        print(f"perfbench: processes still running after shutdown: {left}", file=sys.stderr)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not _engine_present():
        print(f"perfbench: engine package {ENGINE_PKG}/ not found under {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    stamp = time.strftime("%Y%m%dT%H%M%S")
    run_id = f"{stamp}-{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = WORK / "runs" / run_id
    shutil.rmtree(run_dir, ignore_errors=True)
    env = hostenv.configure(run_dir)
    sys.path.insert(0, str(ROOT))
    try:
        return _run(args, run_id, run_dir, env)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_id: str, run_dir: Path, env: dict) -> int:
    import numpy as np

    import feeds
    import instrument
    from spans import SparkCounters, Tracer, make_listener
    from workloads import WORKLOADS

    _relocate_pyfiles_zip(run_dir)
    from tickers_daily_intraday_etl_spark.session import get_spark

    feed = feeds.feed_for(args.workload, args.seed)
    tracer = Tracer(run_id)
    ctx = Ctx(tracer, hostenv.nproc())
    instrument.install(ctx)

    rec = ctx.rec
    t0 = time.perf_counter()
    ctx.spark = get_spark("perfbench", cpus=hostenv.nproc())
    get_spark_s = time.perf_counter() - t0
    wl = WORKLOADS[args.workload](ctx, feed, np.random.default_rng(args.seed))
    wl.setup(run_dir / "setup")
    ctx.listener = make_listener()
    ctx.spark.streams.addListener(ctx.listener)
    ctx.counters = SparkCounters(ctx.spark)
    meter = hostenv.CoTenantMeter()
    meter.start()
    # JIT warm-up: the workload's first units, timed into setup_s and
    # left out of every other metric
    t1 = time.perf_counter()
    try:
        for _ in range(wl.WARMUP_UNITS):
            wl.unit()
    except Exception:
        traceback.print_exc()
        rec.fail("exception in a warm-up unit", max(rec.attempted, 1))
    warmup_s = time.perf_counter() - t1
    setup_s = time.perf_counter() - t0
    rec.clear_measurements()

    # A traced run traces every other cycle, so its traced and untraced
    # units hold the same mix of units (maintenance included), and it
    # measures untraced and traced cycles in pairs.
    block = wl.CYCLE * (2 if args.trace else 1)
    plain_walls, traced_walls, unit_spans = [], [], []
    gc = {"task_ms": 0.0, "gc_ms": 0.0, "failed_tasks": 0.0}
    measured = 0.0
    n = 0
    first_cycle: dict[str, float] = {}
    try:
        while rec.failed == 0 and wl.has_more() and (
            measured < args.seconds or n < block or n % block
        ):
            traced = bool(args.trace) and (n // wl.CYCLE) % 2 == 1
            tracer.enabled = rec.traced = traced
            c0 = ctx.counters.read() if traced else None
            idx = tracer.open("bench.unit") if traced else None
            t0, cpu0 = time.perf_counter(), hostenv.tree_cpu_s()
            try:
                wall = wl.unit()
                rec.sample("unit_cpu_s", hostenv.tree_cpu_s() - cpu0)
            finally:
                if idx is not None:
                    tracer.close(idx)
                    unit_spans.append(idx)
                tracer.enabled = rec.traced = False
            measured += time.perf_counter() - t0
            if traced:
                d = ctx.counters.delta(c0, ctx.counters.read())
                for k in gc:
                    gc[k] += d[k]
                traced_walls.append(wall)
            else:
                plain_walls.append(wall)
            n += 1
            if n == wl.CYCLE:
                first_cycle = dict(rec.sums)
    except Exception:
        traceback.print_exc()
        rec.fail("exception while measuring", max(rec.attempted, 1))
    co_tenant = meter.stop()
    rec.attempted = max(rec.attempted, 1)
    t_check = time.perf_counter()
    if rec.failed == 0:
        try:
            wl.check()
        except Exception:
            traceback.print_exc()
            rec.fail("exception while checking", rec.attempted)
    rec.failed = min(rec.failed, rec.attempted)
    check_s = time.perf_counter() - t_check

    if args.trace:
        metrics = _layer_metrics(ctx, wl, get_spark_s, plain_walls, traced_walls, unit_spans, gc)
        units = LAYER_UNITS
    else:
        metrics = _e2e_metrics(rec, setup_s, first_cycle or rec.sums)
        units = E2E_UNITS
    _stop_spark(ctx.spark)

    record = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "host": hostenv.host_facts(),
        "env": env, "co_tenant_busy_cores": round(co_tenant, 3),
        "setup_s": setup_s, "warmup_s": warmup_s, "get_spark_s": get_spark_s,
        "unit_walls": plain_walls, "traced_unit_walls": traced_walls, "check_s": check_s,
        "samples": rec.samples, "sums": rec.sums,
        "errors": rec.errors[:20], "metrics": metrics,
    }
    rec_dir = WORK / "records"
    rec_dir.mkdir(parents=True, exist_ok=True)
    (rec_dir / f"{run_id}.json").write_text(json.dumps(record, indent=1))
    if args.trace:
        (rec_dir / f"{run_id}-spans.json").write_text(json.dumps(tracer.dump()))
    print(f"perfbench: {args.workload} seed={args.seed} host={record['host']} "
          f"co_tenant_busy_cores={record['co_tenant_busy_cores']} "
          f"units={n} errors={rec.errors[:3]}",
          file=sys.stderr)

    result = {
        "correct": rec.failed == 0,
        "attempted": int(rec.attempted),
        "failed": int(rec.failed),
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def _e2e_metrics(rec, setup_s: float, first_cycle: dict[str, float]) -> dict[str, float]:
    s, S = rec.samples, first_cycle
    return {
        "setup_s": setup_s,
        # over the first measured cycle: the same work on every run, however
        # many cycles fit in the run (copy-on-write rewrites grow with the table)
        "write_amp": S.get("lake_bytes", 0.0) / max(S.get("feed_bytes", 0.0), 1.0),
        # after the first measured unit: the same work on every run
        "space_bytes_per_row": s.get("space_bytes_per_row", [0.0])[0],
    }


def _unit_metrics(rec, walls: list[float]) -> dict[str, float]:
    """CPU and wall-clock figures of the untraced units (unbounded)."""
    s, S = rec.samples, rec.sums
    return {
        "unit_cpu_s": median(s.get("unit_cpu_s", [])),
        "ingest_cpu_ms_per_event":
            1000.0 * S.get("ingest_cpu_s", 0.0) / max(S.get("events", 0.0), 1.0),
        "lookup_cpu_ms": median(s.get("lookup_cpu_ms", [])),
        "scan_cpu_s": median(s.get("scan_cpu_s", [])),
        "wall_s": median(walls),
        "events_per_s": S.get("events", 0.0) / max(S.get("ingest_s", 0.0), 1e-9),
        "batch_p50_s": median(s.get("batch_s", [])),
        "batch_p90_s": p90(s.get("batch_s", [])),
        "lookup_p50_ms": median(s.get("lookup_ms", [])),
        "lookup_p90_ms": p90(s.get("lookup_ms", [])),
        "scan_p50_s": median(s.get("scan_s", [])),
    }


def _layer_metrics(ctx, wl, get_spark_s, plain_walls, traced_walls, unit_spans, gc) -> dict:
    tr = ctx.tracer
    self_t, tot, c = tr.self_times(), tr.totals(), tr.counts
    calls = c.get("merge.calls", 0.0)
    per_call = (lambda v: v / calls) if calls else (lambda v: 0.0)
    rows_in = c.get("merge.rows_in", 0.0)
    n_snap = sum(1 for s in tr.spans if s.name == "lake.log.snapshot")
    n_maint = sum(1 for s in tr.spans if s.name.startswith("lake.maintenance."))
    drains = [i for i, s in enumerate(tr.spans) if s.name == "streaming.pipeline.run_available_now"]
    roots = drains or unit_spans
    root_wall = sum(tr.spans[i].dur for i in roots)
    lf = ctx.lookup_file_counts
    table = wl.table()
    snap = table.log.snapshot()
    log_dir = Path(table.path) / "_log"
    q_wall = tot.get("queries.minhash_signatures", 0.0)
    stream_batches = c.get("merge.stream_batches", 0.0)
    out = {
        **_unit_metrics(ctx.rec, plain_walls),
        "session.get_spark_s": get_spark_s,
        "peak_rss_mb": hostenv.peak_rss_mb(),
        "sources.files_per_batch":
            c.get("merge.input_files", 0.0) / stream_batches if stream_batches else 0.0,
        "streaming.batches": c.get("streaming.batches", 0.0),
        "streaming.trigger_overhead_s": c.get("streaming.trigger_overhead_s", 0.0),
        "streaming.wal_commit_s": c.get("streaming.wal_commit_s", 0.0),
        "streaming.query_start_stop_s": self_t.get("streaming.query_start", 0.0),
        "streaming.foreach_batch_bridge_s": self_t.get("streaming.add_batch", 0.0),
        "streaming.apply_batch_self_s": self_t.get("streaming.pipeline.apply_batch", 0.0),
        "cdc.merge.calls": calls,
        "cdc.merge.self_s": self_t.get("cdc.merge.merge_into", 0.0),
        "cdc.merge.stats_s": c.get("merge.stats_s", 0.0),
        "cdc.merge.plan_s": c.get("merge.plan_s", 0.0),
        "cdc.merge.write_s": c.get("merge.write_s", 0.0),
        "cdc.merge.jobs_per_batch": per_call(c.get("merge.jobs", 0.0)),
        "cdc.merge.tasks_per_batch": per_call(c.get("merge.tasks", 0.0)),
        "cdc.dedup.shuffle_bytes_per_event":
            c.get("merge.shuffle_bytes", 0.0) / rows_in if rows_in else 0.0,
        "cdc.dedup.task_s_per_event": c.get("merge.task_s", 0.0) / rows_in if rows_in else 0.0,
        "spark.gc_share": gc["gc_ms"] / gc["task_ms"] if gc["task_ms"] else 0.0,
        "spark.failed_tasks": gc["failed_tasks"],
        "spark.read_exec_s": self_t.get("bench.lookup", 0.0) + self_t.get("bench.scan", 0.0),
        "lake.log.snapshot_calls_per_batch": per_call(n_snap),
        "lake.log.snapshot_s": self_t.get("lake.log.snapshot", 0.0),
        "lake.log.try_commit_s": self_t.get("lake.log.try_commit", 0.0),
        "lake.log.checkpoint_s": self_t.get("lake.log.checkpoint", 0.0),
        "lake.log.commit_retries": c.get("log.commit_retries", 0.0),
        "lake.log.entries_at_end": float(len(list(log_dir.glob("v*.json")))),
        "lake.table.read_raw_s": self_t.get("lake.table.read_raw", 0.0),
        "lake.table.footer_scan_s": self_t.get("lake.table.footer_scan", 0.0),
        "lake.table.files_added_per_batch": per_call(c.get("merge.files_added", 0.0)),
        "lake.table.files_removed_per_batch": per_call(c.get("merge.files_removed", 0.0)),
        "lake.table.rows_rewritten_per_row_in":
            c.get("merge.rows_written", 0.0) / rows_in if rows_in else 0.0,
        "lake.table.lookup_s": self_t.get("lake.table.lookup", 0.0),
        "lake.table.lookup_files_scanned": median([a for a, _ in lf]),
        "lake.table.lookup_prune_share": median([1 - a / b for a, b in lf if b]),
        "lake.table.live_files": float(len(snap.live_files)),
        "lake.table.delta_files":
            float(sum(1 for a in snap.live_files.values() if a.get("kind") == "delta")),
        "lake.maintenance.runs": float(n_maint),
        "lake.maintenance.vacuum_s": self_t.get("lake.maintenance.vacuum", 0.0),
        "lake.maintenance.compact_s": self_t.get("lake.maintenance.compact", 0.0),
        "lake.maintenance.files_deleted": c.get("maintenance.files_deleted", 0.0),
        "queries.minhash_signatures_s": q_wall,
        "queries.minhash_signatures.task_s": ctx.query_task_s,
        "queries.cpu_share": ctx.query_task_s / (q_wall * ctx.nproc) if q_wall else 0.0,
        "trace.overhead_share":
            median(traced_walls) / median(plain_walls) - 1.0 if plain_walls and traced_walls
            else 0.0,
        "trace.uncovered_share":
            sum(tr.uncovered(i) for i in roots) / root_wall if root_wall else 0.0,
    }
    n_units = max(len(unit_spans), 1)
    return {k: v / n_units if k in PER_UNIT else v for k, v in out.items()}


if __name__ == "__main__":
    sys.exit(main())
