"""The benchmark's workloads: closed loops driven from one process.

Each workload has a ``setup`` (table seeding, timed as set-up), a ``unit``
that runs once untimed-for-metrics as the JIT warm-up and is then
repeated until the run's time is spent, and a ``check`` that compares
what the engine produced with an independent oracle.  Checks run outside
the timed region.
"""

from __future__ import annotations

import os
import shutil
import time
from pathlib import Path

import numpy as np
import pandas as pd

import feeds
from feeds import Feed
from hostenv import tree_cpu_s

PAYLOAD = ["doc_id", "tokens", "n_tok", "source"]


class Recorder:
    """Samples, counters and failures of one run.  Samples taken while
    ``traced`` is set go to ``traced_samples`` and sums skip them, so
    tracing cost never reaches the untraced figures."""

    def __init__(self):
        self.samples: dict[str, list[float]] = {}
        self.traced_samples: dict[str, list[float]] = {}
        self.traced = False
        self.sums: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def sample(self, key: str, value: float) -> None:
        (self.traced_samples if self.traced else self.samples).setdefault(key, []).append(value)

    def add(self, key: str, value: float) -> None:
        if not self.traced:
            self.sums[key] = self.sums.get(key, 0.0) + value

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.errors.append(what)

    def clear_measurements(self) -> None:
        """Drop samples and sums (after the warm-up unit); operations
        attempted so far stay counted, since they are still checked."""
        self.samples.clear()
        self.sums.clear()


class TableBytes:
    """Bytes the engine wrote under a table directory.  Lake files are
    immutable and uniquely named, so a file seen once is counted once;
    scans run after every write-bearing step, before vacuum can drop a
    file that step wrote."""

    def __init__(self, path: Path):
        self.path = path
        self.seen: dict[str, int] = {}

    def new_bytes(self) -> int:
        total = 0
        for root, _dirs, files in os.walk(self.path):
            for f in files:
                full = os.path.join(root, f)
                if full in self.seen or f.startswith("."):
                    continue
                try:
                    self.seen[full] = size = os.path.getsize(full)
                except OSError:
                    continue
                total += size
        return total

    def live_bytes(self) -> int:
        total = 0
        for root, _dirs, files in os.walk(self.path):
            for f in files:
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    continue
        return total


def _deliver(paths: list[Path], inbox: Path, staging: Path) -> int:
    """Make feed segments appear atomically in the stream's input dir
    (fresh mtimes, arrival order); returns the bytes delivered."""
    inbox.mkdir(parents=True, exist_ok=True)
    staging.mkdir(parents=True, exist_ok=True)
    n = 0
    for p in paths:
        tmp = staging / p.name
        shutil.copyfile(p, tmp)
        os.replace(tmp, inbox / p.name)
        n += p.stat().st_size
    return n


def _timed(fn):
    """(result, wall seconds, CPU seconds of this process tree) of fn()."""
    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    out = fn()
    wall = time.perf_counter() - t0
    return out, wall, tree_cpu_s() - c0


def _rows_of(pdf: pd.DataFrame) -> dict[str, tuple]:
    out = {}
    for r in pdf.itertuples(index=False):
        toks = None if r.tokens is None else tuple(int(t) for t in r.tokens)
        n_tok = None if r.n_tok is None or pd.isna(r.n_tok) else int(r.n_tok)
        out[r.doc_id] = (toks, n_tok, r.source)
    return out


def oracle_rows(events: pd.DataFrame) -> dict[str, tuple]:
    """Replay-oracle final state of ``events``: {doc_id: (tokens, n_tok, source)}."""
    from tickers_daily_intraday_etl_spark.cdc.oracle import final_state_frame

    fs = final_state_frame(events) if len(events) else pd.DataFrame()
    return _rows_of(fs[PAYLOAD]) if len(fs) else {}


def compare_state(got: pd.DataFrame, want: dict[str, tuple]) -> str | None:
    """Token-array equality of the engine's rows with an oracle state;
    None when equal."""
    g = _rows_of(got[PAYLOAD])
    if set(g) != set(want):
        missing, extra = set(want) - set(g), set(g) - set(want)
        return f"key sets differ: {len(missing)} missing, {len(extra)} extra"
    bad = [k for k in g if g[k] != want[k]]
    if bad:
        return f"{len(bad)} rows differ, e.g. {bad[0]}: {g[bad[0]]} vs {want[bad[0]]}"
    return None


class PrefixOracle:
    """Oracle states after the first k feed files, for non-decreasing k.
    LWW state is per key, so extending the prefix replays only the keys
    the new files touch (through ``cdc.oracle``), over all their events."""

    def __init__(self, paths: list[Path]):
        self.paths = paths
        self.k = 0
        self.events = pd.DataFrame()
        self.state: dict[str, tuple] = {}

    def at(self, k: int) -> dict[str, tuple]:
        if k < self.k:
            raise ValueError("prefix oracle only moves forward")
        if k > self.k:
            new = Feed.events(self.paths[self.k:k])
            self.events = pd.concat([self.events, new], ignore_index=True)
            touched = set(new["doc_id"])
            for key in touched:
                self.state.pop(key, None)
            self.state.update(oracle_rows(self.events[self.events["doc_id"].isin(touched)]))
            self.k = k
        return self.state


def check_reads(rec: Recorder, oracle: PrefixOracle, lookups, scans, what: str) -> None:
    """Every lookup and scan against the oracle state at the prefix it ran."""
    for k, kind, arg, got in sorted(
        [(k, "lookup", key, rows) for key, k, rows in lookups]
        + [(k, "scan", None, res) for k, res in scans],
        key=lambda t: t[0],
    ):
        state = oracle.at(k)
        if kind == "lookup" and not Workload.lookup_matches(got, state.get(arg)):
            rec.fail(f"{what} lookup {arg} after {k} feed files")
        if kind == "scan" and got != (len(state), sum(len(v[0]) for v in state.values())):
            rec.fail(f"{what} scan after {k} feed files")


class Workload:
    name = ""
    WARMUP_UNITS = 1  # units run before measuring (the JIT warm-up)
    # units that repeat as a whole (maintenance runs once per cycle); a
    # run measures whole cycles, so every run's units mix alike
    CYCLE = 1

    def __init__(self, ctx, feed: Feed, rng: np.random.Generator):
        self.ctx = ctx
        self.feed = feed
        self.rng = rng

    @property
    def rec(self) -> Recorder:
        return self.ctx.rec

    # ---- shared read-side operations (timed, results kept for checks)
    def lookup(self, table, key: str) -> list:
        tr = self.ctx.tracer
        idx = tr.open("bench.lookup") if tr.enabled else None

        def read():
            df = table.lookup(key)
            return df, df.select(*PAYLOAD).collect()

        try:
            (df, rows), dt, cpu = _timed(read)
            if idx is not None:
                self.ctx.lookup_files(df, table)
        finally:
            if idx is not None:
                tr.close(idx)
        self.rec.sample("lookup_ms", dt * 1000.0)
        self.rec.sample("lookup_cpu_ms", cpu * 1000.0)
        self.rec.attempted += 1
        return rows

    def scan(self, table) -> tuple[int, int]:
        """Resolved scan: every live row, payload included."""
        from pyspark.sql import functions as F

        tr = self.ctx.tracer
        idx = tr.open("bench.scan") if tr.enabled else None
        try:
            row, dt, cpu = _timed(lambda: table.read().agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum(F.size("tokens")), F.lit(0)).alias("toks"),
            ).first())
        finally:
            if idx is not None:
                tr.close(idx)
        self.rec.sample("scan_s", dt)
        self.rec.sample("scan_cpu_s", cpu)
        self.rec.attempted += 1
        return int(row["n"]), int(row["toks"])

    @staticmethod
    def lookup_matches(rows: list, want: tuple | None) -> bool:
        if want is None:
            return not rows
        if len(rows) != 1:
            return False
        r = rows[0]
        toks = None if r["tokens"] is None else tuple(r["tokens"])
        return (toks, r["n_tok"], r["source"]) == want


# ===================================================================== trickle


class Trickle(Workload):
    """Many one-segment micro-batches through the streaming pipeline."""

    name = "trickle"
    # the streaming path keeps compiling through its first few drains:
    # with one warm-up unit, the first measured unit ran up to 1.6x slower
    WARMUP_UNITS = 2
    CHUNK = 2  # segments delivered per drain
    SCANS = 2
    # vacuum + log expiry cadence, in applied batches: short enough that
    # maintenance runs inside one run's measured window
    MAINTAIN_EVERY = 4
    CYCLE = MAINTAIN_EVERY // CHUNK

    def setup(self, run_dir: Path) -> None:
        from tickers_daily_intraday_etl_spark.streaming import CdcPipeline

        self.segs = self.feed.segments("segments")
        self.inbox, self.staging = run_dir / "inbox", run_dir / "staging"
        self.pipe = CdcPipeline(
            self.ctx.spark, str(self.inbox), str(run_dir / "table"), str(run_dir / "ckpt"),
            max_files_per_trigger=1, maintain_every=self.MAINTAIN_EVERY,
        )
        self.bytes = TableBytes(run_dir / "table")
        self.delivered = 0
        self.lookups: list[tuple[str, int, list]] = []
        self.scans: list[tuple[int, tuple[int, int]]] = []
        self.bytes.new_bytes()

    def _drain(self, n: int) -> tuple[float, float, int, int]:
        chunk = self.segs[self.delivered:self.delivered + n]
        feed_bytes = _deliver(chunk, self.inbox, self.staging)
        self.delivered += len(chunk)
        _, dt, cpu = _timed(self.pipe.run_available_now)
        return dt, cpu, feed_bytes, len(chunk)

    def has_more(self) -> bool:
        return self.delivered + self.CHUNK <= len(self.segs)

    def unit(self) -> float:
        t0 = time.perf_counter()
        before = self.ctx.progress_count()
        dt, cpu, feed_bytes, n = self._drain(self.CHUNK)
        for p in self.ctx.drain_progress(before):
            self.rec.sample("batch_s", p["batchDuration"])
        self.rec.attempted += n
        self.rec.add("events", n * feeds.TRICKLE_EVENTS_PER_SEGMENT)
        self.rec.add("ingest_s", dt)
        self.rec.add("ingest_cpu_s", cpu)
        self.rec.add("feed_bytes", feed_bytes)
        self.rec.add("lake_bytes", self.bytes.new_bytes())
        # reads: the hottest key of this chunk and a random (maybe absent)
        # key, then resolved scans
        chunk = Feed.events(self.segs[self.delivered - n:self.delivered])
        hot = chunk["doc_id"].value_counts().index[0]
        cold = f"doc-{int(self.rng.integers(0, feeds.TRICKLE_DOCS))}"
        for key in (hot, cold):
            self.lookups.append((key, self.delivered, self.lookup(self.pipe.table, key)))
        for _ in range(self.SCANS):
            self.scans.append((self.delivered, self.scan(self.pipe.table)))
        wall = time.perf_counter() - t0
        self.rec.sample("space_bytes_per_row",
                        self.bytes.live_bytes() / max(self.scans[-1][1][0], 1))
        return wall

    def check(self) -> None:
        want = oracle_rows(Feed.events(self.segs[:self.delivered]))
        err = compare_state(self.pipe.table.read().select(*PAYLOAD).toPandas(), want)
        if err:
            self.rec.fail(f"trickle final state: {err}", self.rec.attempted)
            return
        check_reads(self.rec, PrefixOracle(self.segs), self.lookups, self.scans, "trickle")

    def table(self):
        return self.pipe.table


# ====================================================================== mor_rw


class MorReadWrite(Workload):
    """Sparse merge-on-read updates beside point reads and resolved scans,
    with periodic compaction and a training-data read of the table."""

    name = "mor_rw"
    MERGES = 2  # sparse update batches per round
    LOOKUPS_HOT = 2
    LOOKUPS_COLD = 1
    COMPACT_EVERY = 2  # rounds
    CYCLE = COMPACT_EVERY
    QUERY = "minhash_signatures"

    def setup(self, run_dir: Path) -> None:
        from tickers_daily_intraday_etl_spark.cdc.merge import merge_into
        from tickers_daily_intraday_etl_spark.cdc.schemas import TARGET_SCHEMA
        from tickers_daily_intraday_etl_spark.lake import LakeTable

        self.run_dir = run_dir
        self.files = self.feed.segments("seed") + self.feed.segments("rounds")
        self.tbl = LakeTable.create_if_not_exists(
            self.ctx.spark, str(run_dir / "table"), TARGET_SCHEMA, num_buckets=16)
        merge_into(self.tbl, self._read(self.files[0]), batch_id=0)
        self.bytes = TableBytes(run_dir / "table")
        self.applied = 1  # feed files merged so far (the seed is file 0)
        self.rounds = 0
        self.lookups: list[tuple[str, int, list]] = []
        self.scans: list[tuple[int, tuple[int, int]]] = []
        self.queries: list[tuple[Path, list]] = []
        self.bytes.new_bytes()

    def _read(self, path: Path):
        from tickers_daily_intraday_etl_spark.cdc.schemas import CDC_SCHEMA

        return self.ctx.spark.read.schema(CDC_SCHEMA).parquet(str(path))

    def _merge(self) -> None:
        from tickers_daily_intraday_etl_spark.cdc.merge import merge_into

        seg = self.files[self.applied]
        _, dt, cpu = _timed(lambda: merge_into(
            self.tbl, self._read(seg), batch_id=self.applied, mode="mor"))
        self.applied += 1
        self.rec.sample("batch_s", dt)
        self.rec.add("events", feeds.MOR_EVENTS_PER_ROUND)
        self.rec.add("ingest_s", dt)
        self.rec.add("ingest_cpu_s", cpu)
        self.rec.add("feed_bytes", seg.stat().st_size)
        self.rec.attempted += 1

    def has_more(self) -> bool:
        return self.applied + self.MERGES <= len(self.files)

    def unit(self) -> float:
        from tickers_daily_intraday_etl_spark.lake.maintenance import compact, vacuum

        t0 = time.perf_counter()
        for _ in range(self.MERGES):
            self._merge()
        self.rec.add("lake_bytes", self.bytes.new_bytes())
        upd = Feed.events(self.files[self.applied - self.MERGES:self.applied])["doc_id"].unique()
        hot = list(self.rng.choice(upd, size=min(self.LOOKUPS_HOT, len(upd)), replace=False))
        cold = [f"doc-{int(k)}" for k in self.rng.integers(0, feeds.MOR_DOCS, self.LOOKUPS_COLD)]
        for key in hot + cold:
            self.lookups.append((key, self.applied, self.lookup(self.tbl, key)))
        self.scans.append((self.applied, self.scan(self.tbl)))
        wall = time.perf_counter() - t0
        self.rec.sample("space_bytes_per_row",
                        self.bytes.live_bytes() / max(self.scans[-1][1][0], 1))
        # maintenance and the training read run in the first round, so the
        # warm-up unit compiles them before anything is measured
        if self.rounds % self.COMPACT_EVERY == 0:
            _, dt, _cpu = _timed(lambda: compact(self.tbl))
            self.rec.sample("compact_s", dt)
            self.rec.add("lake_bytes", self.bytes.new_bytes())
            vacuum(self.tbl, retain_last_n_versions=2, min_age_seconds=0.0)
            self._training_read()
        self.rounds += 1
        return wall
    def _training_read(self) -> None:
        """Export the resolved table as a document corpus and run a
        near-dup query of the inventory over it."""
        from pyspark.sql import functions as F

        from tickers_daily_intraday_etl_spark.queries import QUERIES

        corpus = self.run_dir / f"corpus-{self.applied}"
        tr = self.ctx.tracer
        idx = tr.open("bench.training_read") if tr.enabled else None
        try:
            t0 = time.perf_counter()
            self.tbl.read().select(
                F.regexp_extract("doc_id", r"(\d+)$", 1).cast("long").alias("doc_id"),
                F.concat_ws(" ", F.col("tokens").cast("array<string>")).alias("text"),
            ).write.mode("overwrite").parquet(str(corpus / "documents.parquet"))
            rows = self.ctx.run_query(self.QUERY, lambda: QUERIES[self.QUERY](
                self.ctx.spark, str(corpus)).collect())
            dt = time.perf_counter() - t0
        finally:
            if idx is not None:
                tr.close(idx)
        self.rec.sample("training_read_s", dt)
        self.rec.attempted += 1
        self.queries.append((corpus, [tuple(r) for r in rows]))

    def _oracle_query(self, corpus: Path) -> list:
        """queries.ORACLES SQL, evaluated by DuckDB over an exported corpus."""
        import duckdb

        from tickers_daily_intraday_etl_spark.queries import ORACLES

        con = duckdb.connect()
        try:
            glob = str(corpus / "documents.parquet" / "*.parquet")
            glob = glob.replace("'", "''")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{glob}')")
            return [tuple(r) for r in con.execute(ORACLES[self.QUERY]).fetchall()]
        finally:
            con.close()

    def check(self) -> None:
        want = oracle_rows(Feed.events(self.files[:self.applied]))
        err = compare_state(self.tbl.read().select(*PAYLOAD).toPandas(), want)
        if err:
            self.rec.fail(f"mor_rw final state: {err}", self.rec.attempted)
            return
        check_reads(self.rec, PrefixOracle(self.files), self.lookups, self.scans, "mor_rw")
        for corpus, got_rows in self.queries:
            if sorted(map(str, got_rows)) != sorted(map(str, self._oracle_query(corpus))):
                self.rec.fail(f"mor_rw {self.QUERY} over {corpus.name} differs from its oracle")

    def table(self):
        return self.tbl


WORKLOADS = {w.name: w for w in (Trickle, MorReadWrite)}
