"""Seeded change feeds, cached per (workload, seed).

The engine only ever sees the parquet segment files written here.  Change
feeds come from the engine's own generator (``cdc.feedgen``), which keeps
the CDC tie contract: within a key, (lsn, commit_ts) fixes the payload,
and at-least-once duplicates are exact copies.  The merge-on-read table's
initial load, one insert per key, is generated with numpy below.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from hostenv import WORK

FEED_VERSION = 2  # bump when a generator or a size below changes
CACHE_KEEP = 8  # newest cached feeds kept on disk

BASE_TS = pd.Timestamp("2024-01-01 00:00:00")
MAX_TOKENS = 48
SOURCES = np.array(["feed_a", "feed_b", "feed_c"], dtype=object)

# trickle: many one-segment micro-batches of a few hundred events
TRICKLE_SEGMENTS = 60
TRICKLE_EVENTS_PER_SEGMENT = 300
TRICKLE_DOCS = 5_000
# mor_rw: a seeded table + sparse skewed update batches (~2% of keys each)
MOR_DOCS = 4_000
MOR_ROUNDS = 60
MOR_EVENTS_PER_ROUND = 200
MOR_LSN_OFFSET = 10_000_000


@dataclass
class Feed:
    root: Path

    def segments(self, part: str) -> list[Path]:
        return sorted((self.root / part).glob("*.parquet"))

    @staticmethod
    def events(paths: list[Path]) -> pd.DataFrame:
        """Arrival-ordered events of ``paths`` as the oracle expects them:
        token arrays as numpy arrays, nullable ints as objects."""
        if not paths:
            return pd.DataFrame()
        tbl = pa.concat_tables([pq.read_table(p) for p in paths], promote_options="default")
        return tbl.to_pandas(integer_object_nulls=True)


def load_events(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """An initial load: one insert per key, in random key order, with
    consecutive LSNs from 1 (below every LSN of the update rounds)."""
    lsn = np.arange(1, n_docs + 1, dtype=np.int64)
    lens = rng.integers(1, MAX_TOKENS + 1, n_docs).astype(np.int32)
    offsets = np.zeros(n_docs + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    flat = rng.integers(0, 50_000, int(offsets[-1]), dtype=np.int32)
    return pa.table({
        "op": pa.array(np.full(n_docs, "I")),
        "doc_id": pa.array(np.char.add("doc-", rng.permutation(n_docs).astype(str))),
        "lsn": pa.array(lsn),
        "commit_ts": pa.array(
            (BASE_TS + pd.to_timedelta(lsn, unit="s")).values.astype("datetime64[us]")
        ),
        "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat)),
        "n_tok": pa.array(lens),
        "source": pa.array(SOURCES[rng.integers(0, len(SOURCES), n_docs)].astype(str)),
    })


def _write_split(tbl: pa.Table, out: Path, n: int, stem: str) -> None:
    out.mkdir(parents=True, exist_ok=True)
    bounds = np.linspace(0, tbl.num_rows, n + 1).astype(int)
    for i in range(n):
        pq.write_table(tbl.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       out / f"{stem}-{i:05d}.parquet")


# ------------------------------------------------------------- generators


def _build_trickle(seed: int, out: Path) -> None:
    from tickers_daily_intraday_etl_spark.cdc.feedgen import generate_feed, write_feed_segments

    events = generate_feed(
        n_events=TRICKLE_SEGMENTS * TRICKLE_EVENTS_PER_SEGMENT, n_docs=TRICKLE_DOCS,
        seed=seed, zipf_a=1.3, max_tokens=MAX_TOKENS,
    )
    write_feed_segments(events, str(out / "segments"), n_segments=TRICKLE_SEGMENTS)


def _build_mor(seed: int, out: Path) -> None:
    from tickers_daily_intraday_etl_spark.cdc.feedgen import generate_feed, write_feed_segments

    rng = np.random.default_rng(seed)
    _write_split(load_events(rng, MOR_DOCS), out / "seed", 1, "seed")
    upd = generate_feed(
        n_events=MOR_ROUNDS * MOR_EVENTS_PER_ROUND, n_docs=MOR_DOCS, seed=seed + 1,
        zipf_a=1.3, max_tokens=MAX_TOKENS,
    )
    upd["lsn"] += MOR_LSN_OFFSET
    upd["commit_ts"] += pd.Timedelta(seconds=MOR_LSN_OFFSET)
    write_feed_segments(upd, str(out / "rounds"), n_segments=MOR_ROUNDS)


_GENERATORS = {"trickle": _build_trickle, "mor_rw": _build_mor}


def feed_for(workload: str, seed: int) -> Feed:
    """The cached feed of (workload, seed), generated on first use."""
    cache = WORK / "feeds"
    root = cache / f"{workload}-s{seed}-v{FEED_VERSION}"
    if not (root / "DONE").exists():
        tmp = cache / f".tmp-{root.name}-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        _GENERATORS[workload](seed, tmp)
        (tmp / "DONE").touch()
        shutil.rmtree(root, ignore_errors=True)
        os.replace(tmp, root)
        _evict(cache)
    return Feed(root)


def _evict(cache: Path) -> None:
    done = sorted((p for p in cache.iterdir() if (p / "DONE").exists()),
                  key=lambda p: (p / "DONE").stat().st_mtime)
    for old in done[:-CACHE_KEEP]:
        shutil.rmtree(old, ignore_errors=True)
