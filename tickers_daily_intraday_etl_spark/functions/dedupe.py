"""Deduplication for training corpora: exact, MinHash+LSH, SimHash,
n-gram Jaccard.

Scale design: every dedup family is shaped as
``candidate generation (bucketable, shuffle on a small key) ->
within-bucket verification`` so the quadratic step never touches the
full corpus.  At 100 TB the LSH band-bucket join is the only shuffle,
keyed by (band_id, band_hash) — high cardinality, naturally balanced.

Hashes use the oracle-parity form (md5 hex -> 60-bit int, see
``text.hex_hash64``) so DuckDB reproduces results bit-for-bit.
"""

from __future__ import annotations

import functools

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tickers_daily_intraday_etl_spark.functions.text import (
    fingerprint_md5,
    hex_hash64,
    normalize_text,
    ws_tokens,
)


# ------------------------------------------------------------------- exact
def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Hash-groupBy exact dedup over normalized text: one row per
    duplicate *group* (>= 2 members), with the canonical (min) id.
    Single shuffle; map-side partial aggregation applies."""
    h = fingerprint_md5(F.col(text_col)).alias("fingerprint")
    return (
        df.select(h, F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("dup_count"), F.min(id_col).alias("canonical_id"))
        .where(F.col("dup_count") >= 2)
    )


def distinct_by_text(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row per normalized text (the min-id row) — the 'apply'
    side of exact dedup."""
    w = df.select(F.col(id_col), fingerprint_md5(F.col(text_col)).alias("__fp"))
    keep = w.groupBy("__fp").agg(F.min(id_col).alias(id_col)).drop("__fp")
    return df.join(keep, on=id_col, how="inner")


# ---------------------------------------------------------------- shingles
@functools.lru_cache(maxsize=16)
def _shingle_udf(k: int):
    """Vectorized shingle kernel (pandas UDF, one per k): joins
    JVM-produced token arrays into distinct k-word shingles.

    Why Python here (guide §4.2): the former pure-Column form evaluated
    ``transform(sequence(...), i -> concat_ws(' ', slice(toks, i, k)))``
    — three interpreted expression-tree evaluations PER SHINGLE (higher-
    order lambdas never enter whole-stage codegen), measured ~11s for
    920k shingles at sf1.0 where this kernel takes ~1.5s.  Tokenization
    (regex, lower, trim) stays in the JVM, so no locale/regex semantics
    cross the boundary — the kernel only ``' '.join``s adjacent tokens
    (== concat_ws(' ')) and dedups with first-occurrence order
    (== array_distinct)."""
    @F.pandas_udf(T.ArrayType(T.StringType()))
    def kernel(tok: pd.Series) -> pd.Series:
        def one(ts):
            if ts is None or len(ts) < k:
                return []
            return list(dict.fromkeys(" ".join(ts[i : i + k]) for i in range(len(ts) - k + 1)))

        return tok.map(one)

    return kernel


def word_shingles(col, k: int = 3) -> F.Column:
    """Distinct k-word shingles of normalized text (strings)."""
    return _shingle_udf(k)(ws_tokens(normalize_text(col)))


# ----------------------------------------------------------------- MinHash
def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, n_hashes: int = 8, shingle_k: int = 3
) -> DataFrame:
    """Per-document MinHash signature: columns mh0..mh{n-1}.

    h_i(doc) = min over shingles of hex_hash64(i, shingle).  One explode +
    one groupBy (partial-agg'd); the explode fan-out is bounded by
    document length, not corpus size."""
    ex = df.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), shingle_k)).alias("__sh")
    )
    aggs = [
        F.min(hex_hash64(F.col("__sh"), seed=i)).alias(f"mh{i}") for i in range(n_hashes)
    ]
    return ex.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str, n_hashes: int = 8, bands: int = 4
) -> DataFrame:
    """Band the signature, bucket-join on (band, band-hash): classic
    MinHash-LSH candidate generation.  Returns distinct (id_a < id_b)."""
    rows_per_band = n_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows_per_band + r}").cast("string") for r in range(rows_per_band)]
        band_cols.append(F.md5(F.concat_ws(",", *parts)).alias(f"band{b}"))
    banded = sigs.select(F.col(id_col), *band_cols)
    from tickers_daily_intraday_etl_spark.functions._cache import (
        persist_tracked,
        release_previous,
    )

    release_previous("lsh_candidate_pairs")
    stacked = persist_tracked(
        "lsh_candidate_pairs",
        banded.select(
            F.col(id_col),
            F.explode(
                F.array(*[F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("h")) for b in range(bands)])
            ).alias("bh"),
        ).select(id_col, F.col("bh.band_id"), F.col("bh.h")),
    )
    # persisted (tracked, one generation max — see _cache.py): both
    # self-join sides re-derive the MinHash aggregation otherwise
    # (the upstream explode+groupBy is the expensive part)
    left = stacked.alias("l")
    right = stacked.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.h") == F.col("r.h"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )


# ----------------------------------------------------------------- Jaccard
def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int = 100,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing >= 1 shingle.

    Shuffle is keyed by shingle (candidate generation), then by pair
    (intersection count).  At scale, run *after* LSH pruning; here it is
    also the verification stage for LSH candidates.

    ``max_doc_freq`` caps hot shingles: a shingle appearing in more than
    that many documents (a stop-phrase like "of the …") would otherwise
    produce a quadratic group in the self-join.  Capped shingles are
    dropped from the shingle SETS (sizes and intersections alike), so the
    semantics are "Jaccard over non-ubiquitous shingles" — consistent on
    both sides of the ratio, and mirrored in the SQL oracle.

    The shingle relation feeds four plan branches (df-cap, both
    self-join sides, sizes).  Persisted MEMORY_AND_DISK: the per-doc
    shingle ARRAYS (one row per doc — an order of magnitude cheaper to
    build into the columnar cache than the exploded relation, whose
    920k-row string cache build cost ~4s at sf1.0) and the post-cap
    exploded relation that the remaining three branches read; the
    pre-cap explode is re-derived from the arrays cache per consumer
    (explode from cache is cheap — it was the kernel+scan re-run that
    hurt).  Cache lifetime is bounded to ONE generation per operator
    (_cache.py): a repeat call releases the previous call's persists on
    entry, and callers can ``release_caches()`` once results are
    materialized."""
    from tickers_daily_intraday_etl_spark.functions._cache import (
        persist_tracked,
        release_previous,
    )

    release_previous("ngram_jaccard_pairs")
    arr = persist_tracked(
        "ngram_jaccard_pairs",
        df.select(F.col(id_col), word_shingles(F.col(text_col), shingle_k).alias("__shs")),
    )
    ex = arr.select(F.col(id_col), F.explode(F.col("__shs")).alias("__sh"))
    if max_doc_freq is not None:
        rare = (
            ex.groupBy("__sh")
            .agg(F.count("*").alias("__df"))  # shingles are distinct per doc
            .where(F.col("__df") <= max_doc_freq)
            .select("__sh")
        )
        ex = persist_tracked("ngram_jaccard_pairs", ex.join(rare, "__sh"))
    sizes = ex.groupBy(id_col).agg(F.count("*").alias("__n"))  # shingles are distinct already
    inter = (
        ex.alias("l")
        .join(ex.alias("r"), (F.col("l.__sh") == F.col("r.__sh")) & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .groupBy(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("__inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("__inter") / (F.col("__na") + F.col("__nb") - F.col("__inter"))).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------- connected components
def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str,
    max_iters: int = 30,
    stats: dict | None = None,
) -> DataFrame:
    """Duplicate-CLUSTER assignment via alternating large-star/small-star
    rounds (public algorithm: Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC 2014).

    ``nodes``: one row per document id; ``pairs``: undirected candidate
    edges (id_a, id_b) from any near-dup family.  Returns (id, cluster_id)
    where cluster_id = the minimum id reachable in the pair graph — the
    exact transitive fixpoint (matches a recursive-CTE oracle), the
    canonical representative every dedup "apply" stage keys on.

    Each round rewires the edge set toward stars rooted at component
    minima:

    * large-star: from each node u with m = min(Γ(u) ∪ {u}), every
      LARGER neighbor v re-attaches to m — edges (v, m);
    * small-star: edges oriented (larger, smaller); from each node a,
      its smaller neighbors AND a itself attach to m = min(Γ⁻(a) ∪ {a}).

    Both are one groupBy-min + one equi-join on the node id.  Unlike
    plain min-label propagation (O(component-diameter) rounds — a
    template-page chain A~B~…~Z in a web corpus forces rounds ∝ chain
    length), this converges in O(log n) rounds regardless of diameter,
    because stars collapse by pointer-doubling.  At the fixpoint the edge
    set IS the answer: (member, component-min) pairs.

    Raises RuntimeError if ``max_iters`` rounds pass without reaching the
    fixpoint — returning partial labels would silently diverge from the
    documented exact-fixpoint contract.  ``stats`` (optional dict) gets
    ``{"rounds": n}`` recorded for convergence tests.

    Constant-factor shape (round-4 tuning): the large-star output is NOT
    distinct-ed — its only consumers are the small-star groupBy (which
    dedups contributions by construction) and the small-star join whose
    result feeds the final distinct, so the extra shuffle bought nothing.
    Lineage is truncated with ``localCheckpoint`` every OTHER round
    (odd rounds persist in memory instead): the round-N plan references
    round N-1's several times and grows ~4x per round, so unbounded
    lineage kills Catalyst analysis long before the data hurts — but a
    per-round checkpoint pays a full storage write per round, and a
    2-round truncation cadence bounds plan depth at the same asymptote
    for half the writes.  (On a real cluster prefer ``checkpoint()`` to
    reliable storage for fault tolerance; the truncation role is
    identical.)

    Re-entry invalidates the PREVIOUS return value: entry releases the
    prior invocation's tracked persists INCLUDING its localCheckpoint
    RDDs, and a checkpointed relation has truncated lineage — a caller
    still holding the previous result DataFrame gets "checkpoint block
    not found" on access, not a slow recompute.  Materialize (collect/
    write) each result before calling the operator again."""
    from tickers_daily_intraday_etl_spark.functions._cache import (
        checkpoint_tracked,
        persist_tracked,
        release_previous,
    )

    release_previous("connected_components")
    # canonical orientation (larger, smaller): stable representation for
    # the converged-set comparison below
    E = (
        pairs.select(
            F.greatest(F.col("id_a"), F.col("id_b")).alias("u"),
            F.least(F.col("id_a"), F.col("id_b")).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    E = checkpoint_tracked("connected_components", E)
    rounds = 0
    n_edges = E.count()  # one job: convergence base case AND loop sizing
    converged = n_edges == 0
    # Size the loop's shuffle width from the edge count: every round is
    # ~6 shuffled stages over the (persisted) edge set, and persisted
    # relations pin their partitioning — AQE's runtime coalescing never
    # applies to them — so a small graph pays full session-width task
    # scheduling per stage per round (measured 10.2s for 3 rounds over
    # 16k edges at 32 partitions; 3.5s at the sized width).  Clamped at
    # the session setting, so a 10^9-edge graph keeps full parallelism.
    # The width is passed to the loop's own exchanges, never set on the
    # session: a query planned concurrently on the same session keeps
    # the session's width.
    session_parts = int(E.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    loop_parts = max(1, min(session_parts, -(-n_edges // 200_000)))
    for _ in range(max_iters):
        if converged:
            break
        rounds += 1
        # ---- large-star ----
        # One explicit repartition on the star root serves BOTH the
        # groupBy-min (clustering satisfied, aggregate exchange elided —
        # the same Catalyst property the merge path's clustered LWW
        # exploits) and the min-attach join (both sides inherit the same
        # HashPartitioning, so the join plans no exchange of its own):
        # the edge set crosses the wire once per star instead of twice —
        # 5 exchanges/round -> 3 (guide §2.4 "share one exchange").
        sym = E.unionByName(E.select(F.col("v").alias("u"), F.col("u").alias("v"))).repartition(
            loop_parts, F.col("u")
        )
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        # no distinct here: the small-star groupBy dedups its min
        # contributions anyway, and the duplicate (b, m) join rows fold
        # into S's final distinct — one whole edge-set shuffle saved/round
        large = (
            sym.where(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
        )
        # ---- small-star (edges of `large` are already child>parent) ----
        oriented = large.select(
            F.greatest(F.col("u"), F.col("v")).alias("a"),
            F.least(F.col("u"), F.col("v")).alias("b"),
        ).repartition(loop_parts, F.col("a"))
        mins2 = oriented.groupBy("a").agg(F.min("b").alias("m"))
        S_raw = (
            oriented.join(mins2, "a")
            .select(F.col("b").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select(F.col("a").alias("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
        )
        # ONE shuffle closes the round: tag rows by origin and group by
        # edge — max(__s)/max(__e) give set membership, so the same
        # aggregation IS the small-star distinct AND the S-vs-E set
        # equality check (converged iff no edge is in exactly one set).
        # The former separate distinct + (+1/-1)-multiset job cost one
        # extra shuffle and one extra job per round — pure fixed
        # overhead at small edge counts, and at 10^9 edges one full
        # extra pass over the edge set.
        grouped = (
            S_raw.select("u", "v", F.lit(1).alias("__s"), F.lit(0).alias("__e"))
            .unionByName(E.select("u", "v", F.lit(0).alias("__s"), F.lit(1).alias("__e")))
            .repartition(loop_parts, "u", "v")
            .groupBy("u", "v")
            .agg(F.max("__s").alias("__in_s"), F.max("__e").alias("__in_e"))
        )
        # ONE action closes the round: counting the membership
        # mismatches populates the persisted round relation as a side
        # effect (the cache fills on first scan), so no separate
        # materialization job is needed.  Lineage is truncated with a
        # checkpoint every other round (that round pays the extra
        # checkpoint job); in between the in-memory persist carries it.
        if rounds % 2 == 0:
            grouped = checkpoint_tracked("connected_components", grouped)
        else:
            grouped = persist_tracked("connected_components", grouped)
        # full count, not isEmpty/limit: the unrestricted scan is what
        # guarantees every partition of the round relation lands in the
        # cache in this same job
        converged = (
            grouped.where(F.col("__in_s") != F.col("__in_e")).count() == 0
        )
        E = grouped.where(F.col("__in_s") == 1).select("u", "v")
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            "large-star/small-star rounds — partial labels would break the "
            "exact-fixpoint contract; raise max_iters"
        )
    if stats is not None:
        stats["rounds"] = rounds
    # fixpoint edge set = (member, component-min); one row per member at a
    # star, but groupBy-min guards the (count==0) degenerate shapes too
    roots = E.groupBy("u").agg(F.min("v").alias("__root"))
    out = (
        nodes.select(F.col(id_col).alias("id"))
        .join(roots, F.col("id") == F.col("u"), "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("__root"), F.col("id")).alias("cluster_id"),
        )
    )
    return out


# ----------------------------------------------------------------- SimHash
@functools.lru_cache(maxsize=16)
def _simhash_udf(bits: int):
    """Per-document SimHash kernel: bit b of the signature is the sign of
    sum over tokens of (+1 if bit b of hex_hash64('simhash', token) else
    -1).  All-integer math — hashlib md5 produces the identical 60-bit
    token hashes as the JVM/DuckDB parity form, and the ±1 tallies are
    exact in any summation order — so values are bit-identical to the
    former explode + groupBy with ``bits`` conditional-sum aggregates,
    minus that plan's shuffle and 64-aggregate partial-agg machinery
    (guide §2.4/§4.2).  Signature bits above 59 are structurally 0 (the
    token hash carries 60 random bits), so the value fits a signed long
    at any ``bits`` <= 64."""
    @F.pandas_udf("long")
    def kernel(tok: pd.Series) -> pd.Series:
        import hashlib as _h

        import numpy as _np

        shifts = _np.arange(bits, dtype=_np.uint64)

        def one(ts):
            hs = _np.array(
                [
                    int(_h.md5(b"simhash:" + t.encode()).hexdigest()[:15], 16)
                    for t in ts
                ],
                dtype=_np.uint64,
            )
            ones = ((hs[:, None] >> shifts) & 1).sum(axis=0)  # exact ints
            # count_b = ones - (n - ones); positive iff 2*ones > n
            sig_bits = (2 * ones > len(ts)).astype(_np.uint64)
            return int((sig_bits << shifts).sum())

        return tok.map(one)

    return kernel


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 64) -> DataFrame:
    """SimHash over whitespace tokens with the oracle-parity token hash —
    a pure per-row map (no explode, no shuffle; see ``_simhash_udf``).
    Documents with zero tokens are absent, matching the former
    explode+groupBy contract.

    Default is 64-bit: the banded near-pair join's keyspace grows with
    signature width (see ``simhash_near_pairs``), and 32-bit signatures
    make its pigeonhole chunks only 8 bits — a 256-value join key that
    goes quadratic at web-corpus scale."""
    base = df.select(
        F.col(id_col), ws_tokens(normalize_text(F.col(text_col))).alias("__toks")
    ).where(F.size(F.col("__toks")) > 0)
    return base.select(F.col(id_col), _simhash_udf(bits)(F.col("__toks")).alias("simhash"))


def simhash_near_pairs(sig_df: DataFrame, id_col: str, max_hamming: int = 3, bits: int = 64) -> DataFrame:
    """Near-dup pairs by Hamming distance on SimHash, banded so candidate
    generation is an equi-join: split the signature into (max_hamming+1)
    chunks — any pair within distance d agrees on >= 1 chunk (pigeonhole).

    Scale: the join key is (chunk_id, chunk-value).  At 64 bits with
    max_hamming=3 each chunk is 16 bits — a 65k-value keyspace per chunk
    (en route: the top chunk holds the hash's 12 structural-zero bits, so
    its live keyspace is 4k) versus 256 values at 32 bits, where every
    (chunk, value) bucket would hold ~n/256 docs at 10^9-doc corpus scale
    and the within-bucket join would go quadratic.  Per-bucket occupancy
    is pinned by a test on a skewed corpus (test_dedup)."""
    chunks = max_hamming + 1
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    from tickers_daily_intraday_etl_spark.functions._cache import (
        persist_tracked,
        release_previous,
    )

    release_previous("simhash_near_pairs")
    parts = persist_tracked(  # both join sides re-derive the SimHash agg otherwise
        "simhash_near_pairs",
        sig_df.select(
            F.col(id_col),
            F.col("simhash"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("chunk_id"),
                            F.shiftright(F.col("simhash"), c * chunk_bits).bitwiseAND(F.lit(mask)).alias("chunk"),
                        )
                        for c in range(chunks)
                    ]
                )
            ).alias("ch"),
        ).select(id_col, "simhash", F.col("ch.chunk_id"), F.col("ch.chunk")),
    )
    l, r = parts.alias("l"), parts.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.chunk_id") == F.col("r.chunk_id"))
            & (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.simhash").alias("__ha"),
            F.col("r.simhash").alias("__hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )
