"""Multi-pass blocking — candidate key generation.

Three passes per the north rule:
  1. ``host``  — normalized URL host (pure column expr, no shuffle to build)
  2. ``minhash`` — LSH band keys over word-shingle MinHash signatures
     (vectorized pandas UDF -> posexplode)
  3. ``tokensort`` — exact token-sorted-text key (catches word reorders)

``PASSES`` names them; the pipeline and the catch-up key with all three.
``sorted_neighborhood_pairs`` (with ``global_sort_ranks``) is a pair
operator for driver queries, not a pipeline pass.

Determinism at scale: every key is a pure content hash — never derived from
partition ids, timestamps or RNG state — so Spark task retries and
speculative execution cannot produce divergent keys (SURVEY.md §7 judgment
call (b)).

MinHash math (public: Broder 1997; banding per Leskovec/Rajaraman/Ullman
ch.3): token base hash = blake2b-64; permutation i is the affine map
``(a_i * h + b_i) mod p`` over a 61-bit Mersenne prime with (a_i, b_i)
derived from a fixed seed via SplitMix64.  With r rows/band and b bands,
P(candidate) = 1 - (1 - s^r)^b for Jaccard s.
Defaults r=4, b=16 (n=64): s=0.5 -> 0.65, s=0.7 -> 0.99, s=0.9 -> ~1.
"""

from __future__ import annotations

import hashlib
from typing import Iterator, List

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

# 31-bit Mersenne prime: with a,b,h < 2^31 the product a*h+b < 2^62 stays
# exact in uint64 — fully vectorized modular arithmetic, no big ints.
_P = (1 << 31) - 1
_MAXH = (1 << 31) - 2


def _splitmix64(x: int) -> int:
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    z = x
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return z ^ (z >> 31)


def _perm_params(n_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    a = np.empty(n_perm, dtype=np.uint64)
    b = np.empty(n_perm, dtype=np.uint64)
    s = seed
    for i in range(n_perm):
        s = _splitmix64(s)
        a[i] = s % (_P - 1) + 1
        s = _splitmix64(s)
        b[i] = s % _P
    return a, b


from functools import lru_cache

_WS = "\t\n\x0b\x0c\r "


def _tokenize(text: str) -> List[str]:
    """Split on runs of ASCII whitespace {9-13, 32} — the exact rule the C
    kernel uses, so both paths produce identical signatures."""
    return [t for t in text.translate({9: " ", 10: " ", 11: " ", 12: " ", 13: " "}).split(" ") if t]


@lru_cache(maxsize=1 << 20)
def _word_hash64(token: str) -> int:
    """FNV-1a 64 over the token's UTF-32LE bytes (full 64 bits, mirrors the
    C kernel's fnv1a64 — shared by MinHash (mod P) and SimHash (raw bits))."""
    h = 0xCBF29CE484222325
    for b in token.encode("utf-32-le"):
        h ^= b
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


@lru_cache(maxsize=1 << 20)
def _word_hash(token: str) -> int:
    """FNV-1a 64 over the token's UTF-32LE bytes, mod P (mirrors C)."""
    return _word_hash64(token) % _P


# fixed odd multipliers for positional shingle combination (content-free
# constants; shingle hash = sum_k C_k * wordhash_{i+k} mod P)
_SHINGLE_C = [1, 0x5BD1E995 % _P, 0x9E3779B1 % _P, 0x85EBCA77 % _P,
              0xC2B2AE35 % _P, 0x27D4EB2F % _P]


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Hashes of the word-k-shingle multiset: one FNV hash per word (LRU
    cached across a worker's lifetime — web corpora reuse words heavily),
    then a vectorized positional combination per shingle window."""
    toks = _tokenize(text)
    if not toks:
        return np.empty(0, dtype=np.uint64)
    h = np.fromiter((_word_hash(t) for t in toks), dtype=np.uint64, count=len(toks))
    if len(toks) <= k:
        acc = np.uint64(0)
        for j, x in enumerate(h.tolist()):
            acc = (acc + np.uint64(_SHINGLE_C[j % len(_SHINGLE_C)]) * np.uint64(x)) % np.uint64(_P)
        return np.array([acc], dtype=np.uint64)
    n = len(toks) - k + 1
    acc = np.zeros(n, dtype=np.uint64)
    for j in range(k):
        c = np.uint64(_SHINGLE_C[j % len(_SHINGLE_C)])
        acc = (acc + c * h[j: j + n]) % np.uint64(_P)  # products < 2^62: exact
    return acc


def _params(n_perm: int, seed: int, _cache={}):
    key = (n_perm, seed)
    if key not in _cache:
        _cache[key] = _perm_params(n_perm, seed)
    return _cache[key]


def minhash_signature(text: str, n_perm: int, shingle_k: int, seed: int) -> np.ndarray:
    """n_perm-wide MinHash signature of the text's word-k-shingle set."""
    a, b = _params(n_perm, seed)
    hs = _shingle_hashes(text, shingle_k)
    if len(hs) == 0:
        return np.full(n_perm, _MAXH, dtype=np.uint64)
    hs = np.unique(hs)  # min over the multiset == min over the set
    # (n_perm, n_tokens) affine permutations, exact in uint64 (values < 2^62)
    v = (a[:, None] * hs[None, :] + b[:, None]) % np.uint64(_P)
    return v.min(axis=1)


def minhash_signatures_batch(texts, n_perm: int, shingle_k: int, seed: int) -> np.ndarray:
    """(ndocs, n_perm) signatures for a whole batch — C kernel when
    available (tokenize+hash+shingle+permute in one call), bit-identical
    Python fallback otherwise.  None rows come back as all-MAXH lanes
    (callers mask them)."""
    from . import cbuild

    a, b = _params(n_perm, seed)
    lib = cbuild.load()
    safe = ["" if t is None else t for t in texts]
    if lib is not None:
        import ctypes

        from .batch import _flatten, _ptr

        codes, offs, _ = _flatten(safe)
        out = np.empty((len(safe), n_perm), dtype=np.uint64)
        lib.batch_minhash(
            _ptr(codes, ctypes.c_uint32), _ptr(offs, ctypes.c_int64),
            ctypes.c_int64(len(safe)), ctypes.c_int64(n_perm), ctypes.c_int64(shingle_k),
            _ptr(a, ctypes.c_uint64), _ptr(b, ctypes.c_uint64),
            _ptr(out, ctypes.c_uint64),
        )
        return out
    return np.stack([minhash_signature(t, n_perm, shingle_k, seed) for t in safe])


def band_keys_batch(sigs: np.ndarray, rows_per_band: int) -> np.ndarray:
    """(ndocs, n_perm) signatures -> (ndocs, n_bands) int64 bucket keys,
    fully vectorized (FNV-1a fold over the band's lanes + band-index salt +
    splitmix64 finalizer — the per-doc blake2b loop this replaces cost more
    than the C signature computation itself).  Collisions across distinct
    band contents only add false candidates, which the verify stage drops."""
    ndocs, n_perm = sigs.shape
    n_bands = n_perm // rows_per_band
    lanes = sigs[:, : n_bands * rows_per_band].astype(np.uint64).reshape(
        ndocs, n_bands, rows_per_band)
    h = np.full((ndocs, n_bands), 0xCBF29CE484222325, dtype=np.uint64)
    h ^= (np.arange(n_bands, dtype=np.uint64)[None, :] + np.uint64(1)) \
        * np.uint64(0x9E3779B97F4A7C15)
    FNV = np.uint64(0x100000001B3)
    for r in range(rows_per_band):
        h = (h ^ lanes[:, :, r]) * FNV  # uint64 wrap-around is the hash ring
    h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    h = h ^ (h >> np.uint64(31))
    return h.view(np.int64)


def band_keys(sig: np.ndarray, rows_per_band: int) -> List[int]:
    """LSH band keys for one signature (scalar wrapper over the batch)."""
    return [int(k) for k in band_keys_batch(
        np.asarray(sig, dtype=np.uint64)[None, :], rows_per_band)[0]]


def minhash_band_udf(n_perm: int = 64, rows_per_band: int = 4, shingle_k: int = 3,
                     seed: int = 0x5EED):
    """pandas UDF: text -> array<long> of LSH band bucket keys."""

    @pandas_udf(ArrayType(LongType()))
    def _udf(texts: pd.Series) -> pd.Series:
        tl = texts.tolist()
        sigs = minhash_signatures_batch(tl, n_perm, shingle_k, seed)
        keys = band_keys_batch(sigs, rows_per_band)
        out = []
        for i, t in enumerate(tl):
            out.append(None if t is None else keys[i].tolist())
        return pd.Series(out)

    return _udf


# the pipeline's and the catch-up's passes, in ``add_block_keys`` order
PASSES = ("host", "minhash", "tokensort")


def add_block_keys(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "norm_text",
    host_col: str = "host",
    n_perm: int = 64,
    rows_per_band: int = 4,
    shingle_k: int = 3,
    passes: tuple = PASSES,
) -> DataFrame:
    """Explode df into (id, block_pass, block_key) rows, one per blocking key.

    block_key is a string namespaced by pass so keys never collide across
    passes.  The caller unions all passes in one DataFrame -> single shuffle
    per downstream join instead of one join per pass.
    """
    parts = []
    if "host" in passes and host_col in df.columns:
        parts.append(
            df.select(
                F.col(id_col).alias("doc_id"),
                F.lit("host").alias("block_pass"),
                F.concat(F.lit("h:"), F.col(host_col)).alias("block_key"),
            ).where(F.col(host_col).isNotNull() & (F.length(host_col) > 0))
        )
    if "minhash" in passes:
        bands = minhash_band_udf(n_perm, rows_per_band, shingle_k)
        parts.append(
            df.select(F.col(id_col).alias("doc_id"), F.explode(bands(F.col(text_col))).alias("bk"))
            .select(
                "doc_id",
                F.lit("minhash").alias("block_pass"),
                F.concat(F.lit("m:"), F.col("bk").cast("string")).alias("block_key"),
            )
        )
    if "tokensort" in passes:
        from .normalize import token_sort_key

        parts.append(
            df.select(
                F.col(id_col).alias("doc_id"),
                F.lit("tokensort").alias("block_pass"),
                F.concat(F.lit("t:"), F.xxhash64(token_sort_key(F.col(text_col))).cast("string")).alias(
                    "block_key"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def global_sort_ranks(df: DataFrame, key_cols: List[str], num_ranges: int = 0) -> DataFrame:
    """Dense global rank (0-based) over ``key_cols`` WITHOUT a single-task
    global window.

    Scale shape: ``repartitionByRange`` gives a total order across
    partitions; each partition ranks locally (window keyed by partition id,
    so per-task state = one range split), and a tiny per-partition count
    aggregate (num_ranges rows, driver cumulative sum) turns local ranks
    into global ones.  A plain ``row_number().over(Window.orderBy(...))``
    would ship every row to ONE task — the classic 100 TB killer.

    ``key_cols`` must be a total order (append a unique id as tiebreaker).
    Returns df's columns plus ``rnk``.
    """
    from pyspark.sql.window import Window

    spark = df.sparkSession
    n = num_ranges or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    ranged = (
        df.repartitionByRange(n, *key_cols)
        .withColumn("_pid", F.spark_partition_id())
        # one materialization: the count aggregate and the rank projection
        # both read it (Spark does not CSE shared subtrees across jobs)
        .localCheckpoint(eager=False)
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in ranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offs, acc = [], 0
    for pid in sorted(counts):
        offs.append((pid, acc))
        acc += counts[pid]
    odf = spark.createDataFrame(offs or [(0, 0)], "_pid int, _off long")
    w_local = Window.partitionBy("_pid").orderBy(*key_cols)
    return (
        ranged.withColumn("_lr", F.row_number().over(w_local))
        .join(F.broadcast(odf), "_pid")
        .withColumn("rnk", F.col("_lr") - 1 + F.col("_off"))
        .drop("_pid", "_lr", "_off")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int = 5,
    num_ranges: int = 0,
) -> DataFrame:
    """Sorted-neighborhood (SNM) candidate generation: records are sorted by
    a blocking key and every pair within a sliding window of ``window``
    consecutive records becomes a candidate (rank gap 1..window-1).

    Classic ER blocking (Hernández & Stolfo 1995) complementing the exact
    key passes in ``add_block_keys``: it finds near-misses whose keys are
    CLOSE but not equal (typos in the first chars of a host or sort key),
    which equality blocking can never pair.

    Scale shape: global ranks via :func:`global_sort_ranks` (no single-task
    sort), then neighbor pairing as an equi-join on bucket id — each record
    lands in bucket ``rnk div (window-1)`` and probes buckets g and g+1, so
    every qualifying pair is matched exactly once and the join is a plain
    hash join on a dense integer key (no range join, no skew: buckets have
    exactly window-1 rows).

    Returns (id_a, id_b, gap) with id_a the lower-RANKED record, gap in
    [1, window-1].
    """
    if window < 2:
        raise ValueError("window must be >= 2")
    s = window - 1
    slim = df.select(F.col(id_col).alias("doc_id"), F.col(key_col).alias("sk"))
    ranked = global_sort_ranks(slim, ["sk", "doc_id"], num_ranges)
    # ids+ranks only (ints) — and one materialization shared by both join
    # branches (self-join of a derived DF recomputes it otherwise)
    ranked = ranked.select("doc_id", "rnk").localCheckpoint(eager=False)
    a = ranked.select(
        F.col("doc_id").alias("id_a"),
        F.col("rnk").alias("rank_a"),
        F.explode(F.array(F.expr(f"rnk div {s}"), F.expr(f"rnk div {s} + 1"))).alias("g"),
    )
    b = ranked.select(
        F.col("doc_id").alias("id_b"),
        F.col("rnk").alias("rank_b"),
        F.expr(f"rnk div {s}").alias("g"),
    )
    return (
        a.join(b, "g")
        .where((F.col("rank_b") - F.col("rank_a")).between(1, s))
        .select(
            "id_a", "id_b", (F.col("rank_b") - F.col("rank_a")).cast("int").alias("gap")
        )
    )
