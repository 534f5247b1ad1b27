"""Deduplication operators for large-scale training-data pipelines.

Four families, each returning DataFrames composable with the ER pipeline:

- exact:          hash-groupBy on normalized text (one shuffle, map-side
                  partial agg; the cheapest pass, always run first)
- minhash_lsh:    word-shingle MinHash -> LSH band buckets -> bucket join ->
                  verified near-dup pairs (reuses levsim.blocking)
- simhash:        64-bit SimHash -> 4x16-bit band exact-match candidates
                  (Charikar 2002; Manku et al. WWW'07 banding) -> hamming
                  verification, all JVM-side after the signature UDF
- ngram_jaccard:  token-set Jaccard via pure Spark built-ins
                  (array_distinct/array_intersect/array_union) — fully
                  SQL-expressible, used as the DuckDB-checkable dedup oracle
"""

from __future__ import annotations

from typing import List

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

from .. import blocking


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(df: DataFrame, id_col: str, text_col: str,
                     max_dup_ids: int = 20) -> DataFrame:
    """Groups of byte-identical texts: (text_hash, n_dups, keep_id, dup_ids).

    keep_id = min id (deterministic canonical survivor).  ``dup_ids`` keeps
    only the ``max_dup_ids`` smallest ids per group (a boilerplate page
    duplicated 10^7x must not materialize one giant row at 100 TB — rows
    beyond the cap are filtered BEFORE the aggregation, so per-group state
    is bounded; n_dups still counts all members).  ``max_dup_ids=None``
    disables the cap (small-data debugging only)."""
    hashed = df.select(F.col(id_col).alias("doc_id"), F.xxhash64(text_col).alias("text_hash"))
    if max_dup_ids is None:
        return (
            hashed.groupBy("text_hash")
            .agg(
                F.count("*").alias("n_dups"),
                F.min("doc_id").alias("keep_id"),
                F.sort_array(F.collect_list("doc_id")).alias("dup_ids"),
            )
            .where(F.col("n_dups") > 1)
        )
    # Two-phase bounded top-K (no window): phase 1 takes the K smallest ids
    # per (text_hash, input-partition) — each group is confined to one input
    # split, so per-task state is bounded by the split size no matter how
    # many duplicates the hash has globally.  Phase 2 merges partial top-Ks
    # (<= K ids per partial) — a 10^7-duplicate group never lands in one
    # sort task (the round-2 row_number window shipped the whole group to a
    # single task; see tests/test_extras.py::test_exact_dup_cap_bounded_tasks).
    partial = (
        hashed.withColumn("_pid", F.spark_partition_id())
        .groupBy("text_hash", "_pid")
        .agg(
            F.count("*").alias("_n"),
            F.min("doc_id").alias("_min"),
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, max_dup_ids).alias("_ids"),
        )
    )
    # union of per-partition K-smallest contains the global K-smallest
    return (
        partial.groupBy("text_hash")
        .agg(
            F.sum("_n").alias("n_dups"),
            F.min("_min").alias("keep_id"),
            F.slice(
                F.sort_array(F.flatten(F.collect_list("_ids"))), 1, max_dup_ids
            ).alias("dup_ids"),
        )
        .where(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------------------
# minhash near-dup
# ---------------------------------------------------------------------------


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_perm: int = 64,
    rows_per_band: int = 4,
    shingle_k: int = 3,
    max_block_size: int = 500,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash banding (id_a < id_b).

    The ids-only pairs come out in the few partitions AQE sizes them to;
    widen them (``repartition(n, "id_a")``) before a per-pair verify."""
    from ..candidates import candidate_pairs

    blocks = blocking.add_block_keys(
        df, id_col=id_col, text_col=text_col, host_col="__none__",
        n_perm=n_perm, rows_per_band=rows_per_band, shingle_k=shingle_k,
        passes=("minhash",),
    )
    return candidate_pairs(blocks, max_block_size=max_block_size,
                           keep_pass_provenance=False)


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------


def simhash64(tokens: List[str]) -> int:
    """64-bit SimHash of a token multiset (Charikar random-hyperplane
    sketch; per-token FNV-1a 64 bit vectors, identical to the C batch
    kernel ``batch_simhash``).  Scalar reference path — batches go through
    :func:`batch_simhash`."""
    if not tokens:
        return 0
    hs = np.fromiter((blocking._word_hash64(t) for t in tokens),
                     dtype=np.uint64, count=len(tokens))
    shifts = np.arange(64, dtype=np.uint64)
    bits = (hs[:, None] >> shifts[None, :]) & np.uint64(1)  # (ntok, 64)
    acc = (2 * bits.astype(np.int64) - 1).sum(axis=0)
    out = int(((acc > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64))
    return out - (1 << 63)  # == int64 reinterpret of (sig XOR top bit)


def batch_simhash(texts: List[str | None]) -> np.ndarray:
    """Vectorized signatures for a whole batch (int64 per doc): C kernel
    (tokenize + hash + vote in one call) when available, NumPy fallback
    otherwise — bit-identical paths, asserted in tests."""
    from .. import cbuild
    from ..batch import _flatten, _ptr

    safe = ["" if t is None else t for t in texts]
    lib = cbuild.load()
    if lib is not None:
        import ctypes

        codes, offs, _ = _flatten(safe)
        out = np.empty(len(safe), dtype=np.int64)
        lib.batch_simhash(
            _ptr(codes, ctypes.c_uint32), _ptr(offs, ctypes.c_int64),
            ctypes.c_int64(len(safe)), _ptr(out, ctypes.c_int64),
        )
        return out
    return np.array([simhash64(blocking._tokenize(t)) for t in safe], dtype=np.int64)


def simhash_udf():
    @pandas_udf(LongType())
    def _udf(texts: pd.Series) -> pd.Series:
        tl = texts.tolist()
        sigs = batch_simhash(tl)
        return pd.Series(
            [None if t is None else int(s) for t, s in zip(tl, sigs)],
            dtype="Int64",
        )

    return _udf


def simhash_band_bounds(max_hamming: int, n_bits: int = 64) -> list[tuple[int, int]]:
    """(offset, width) for each of ``max_hamming + 1`` bands over an
    ``n_bits`` signature.  Pigeonhole: a pair differing in at most
    ``max_hamming`` bits leaves at least one of the ``max_hamming + 1``
    disjoint bands untouched, so banding on these keys has recall 1 for the
    hamming <= max_hamming contract.  Widths differ by at most one bit."""
    if not 0 <= max_hamming < n_bits:
        raise ValueError(f"max_hamming must be in [0, {n_bits - 1}]")
    n_bands = max_hamming + 1
    base, extra = divmod(n_bits, n_bands)
    bounds = []
    off = 0
    for i in range(n_bands):
        w = base + (1 if i < extra else 0)
        bounds.append((off, w))
        off += w
    return bounds


def simhash_candidate_pairs(df: DataFrame, id_col: str, text_col: str,
                            max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs with a guaranteed recall contract: the 64-bit
    signature is split into ``max_hamming + 1`` disjoint bands (pigeonhole —
    every pair within the hamming threshold shares at least one full band),
    candidates join on band equality, exact bit-hamming verified with JVM
    expressions.  Emits EXACTLY the pairs with hamming <= max_hamming.

    Scale note: band width is 64/(max_hamming+1) bits, so large thresholds
    mean short keys and big buckets (n^2 within bucket).  Keep max_hamming
    small at scale (Manku et al. WWW'07 use <= 3 over permuted tables)."""
    sig = df.select(F.col(id_col).alias("doc_id"), simhash_udf()(F.col(text_col)).alias("sh"))
    bands = sig.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(*[
                F.concat(F.lit(f"{i}:"),
                         F.shiftright(F.col("sh"), off)
                         # w == 64 (max_hamming=0, exact-dup threshold): the
                         # band is the whole signature; (1 << 64) - 1 exceeds
                         # LongType, but -1 is all-ones in two's complement.
                         .bitwiseAND(F.lit(-1 if w >= 64 else (1 << w) - 1))
                         .cast("string"))
                for i, (off, w) in enumerate(simhash_band_bounds(max_hamming))
            ])
        ).alias("band_key"),
    )
    # one signature-UDF materialization for both self-join branches (the
    # broadcast regime defeats ReuseExchange; same fix as candidate_pairs)
    bands = bands.localCheckpoint(eager=False)
    a = bands.select(F.col("band_key"), F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = bands.select(F.col("band_key"), F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    # verify BEFORE the dedup exchange (round 7, guide §2.3 "shuffle
    # fewer bytes"): the bit_count test is a per-row JVM expression, so
    # evaluating it on the raw band matches (a pair can match in up to
    # max_hamming+1 bands) costs re-evaluated popcounts but drops every
    # non-qualifying pair before the dropDuplicates shuffle.  Identical
    # result set: hamming is a pure function of (sh_a, sh_b), which are
    # equal across a pair's duplicate band rows.
    pairs = (
        a.join(b, "band_key")
        .where(F.col("id_a") < F.col("id_b"))
        .drop("band_key")
        .withColumn("hamming_bits", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming_bits") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs.select("id_a", "id_b", "hamming_bits")


# ---------------------------------------------------------------------------
# SQL-algebra sketches (pure column expressions — zero Python, whole-stage
# codegen end to end, and exactly reproducible in ANSI SQL, so the DuckDB
# harness can hard-oracle the banding/join semantics cross-engine)
# ---------------------------------------------------------------------------

#: modulus shared with the ANSI-SQL oracles (2^31 - 1, Mersenne prime)
SQL_SKETCH_P = 2147483647


def md5_token_hash_col(tok) -> F.Column:
    """60-bit integer hash of a token: first 15 hex chars of md5, exactly
    reproducible in DuckDB (md5 is the one hash both engines share)."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


def _sql_tokens_col(text_col) -> F.Column:
    """Non-empty single-space tokens — mirrors string_split + list_filter."""
    return F.filter(F.split(text_col, " "), lambda t: t != F.lit(""))


def simhash_sql_col(text_col, n_bits: int = 32) -> F.Column:
    """``n_bits``-bit SimHash as a pure column expression: md5 token hashes,
    per-bit +/-1 votes over the token multiset, sign bits packed into a
    BIGINT.  ONE aggregate with an array-of-counters accumulator, so the
    md5/transform subtree appears exactly once in the plan (the naive
    per-bit formulation inlines it n_bits times — verified 32x md5 in the
    optimized plan).  Bit b of h is tested with exact integer arithmetic
    ``h % 2^(b+1) >= 2^b`` (h is a positive 60-bit value)."""
    harr = F.transform(_sql_tokens_col(text_col), md5_token_hash_col)
    pows = F.array(*[F.lit(1 << b).cast("long") for b in range(n_bits)])
    init = F.array_repeat(F.lit(0).cast("long"), n_bits)
    votes = F.aggregate(
        harr,
        init,
        lambda acc, h: F.zip_with(
            acc, pows,
            lambda a, p: a + F.when((h % (p + p)) >= p, 1).otherwise(-1),
        ),
    )
    return F.aggregate(
        F.zip_with(votes, pows,
                   lambda c, p: F.when(c > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda s, v: s + v,
    )


def simhash_sql_pairs(df: DataFrame, id_col: str, text_col: str,
                      max_hamming: int = 3, n_bits: int = 32) -> DataFrame:
    """Exactly the pairs with simhash hamming <= max_hamming, computed with
    pure column algebra end to end: signature -> ``max_hamming + 1`` band
    keys (pigeonhole recall contract, see :func:`simhash_band_bounds`) ->
    band equi-join -> bit_count verification.  Cross-engine oracle: an
    all-pairs DuckDB join filtered on the same hamming predicate must yield
    the identical pair set."""
    sig = df.select(F.col(id_col).alias("doc_id"),
                    simhash_sql_col(F.col(text_col), n_bits).alias("sh"))
    bands = sig.select(
        "doc_id", "sh",
        F.explode(F.array(*[
            F.concat(F.lit(f"{i}:"),
                     F.shiftright(F.col("sh"), off)
                     .bitwiseAND(F.lit((1 << w) - 1)).cast("string"))
            for i, (off, w) in enumerate(simhash_band_bounds(max_hamming, n_bits))
        ])).alias("band_key"),
    )
    a = bands.select("band_key", F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = bands.select("band_key", F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    # same verify-before-dedup order as simhash_candidate_pairs (round
    # 7): hamming is a pure function of the signatures, so filtering the
    # raw band matches first shuffles only qualifying pairs — identical
    # result set, and the DuckDB oracle is order-insensitive.
    return (
        a.join(b, "band_key")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming_bits", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .where(F.col("hamming_bits") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming_bits")
    )


def word_shingles_col(text_col, k: int = 2) -> F.Column:
    """Word k-shingles as strings (tokens joined by one space); documents
    with fewer than k tokens fall back to their token list."""
    toks = _sql_tokens_col(text_col)
    joined = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (k - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(k)]),
    )
    return F.when(F.size(toks) >= k, joined).otherwise(toks)


def minhash_sql_sigs(df: DataFrame, id_col: str, text_col: str,
                     perms, shingle_k: int = 2) -> DataFrame:
    """MinHash signature columns ``s0..s{n-1}`` from md5 shingle hashes and
    affine permutations ``(a*h + c) mod P`` — pure column algebra, exactly
    reproducible in SQL.  ``perms`` is a list of (a, c) pairs with
    0 < a < P, 0 <= c < P.  Empty docs get lane value P - 1."""
    P = SQL_SKETCH_P
    sh = word_shingles_col(F.col(text_col), shingle_k)
    hmod = F.transform(sh, lambda s: md5_token_hash_col(s) % F.lit(P))
    # ONE aggregate computing every lane minimum (array accumulator), so the
    # md5/shingle subtree appears once in the plan instead of n_perm times
    params = F.array(*[
        F.struct(F.lit(a).cast("long").alias("a"), F.lit(c).cast("long").alias("c"))
        for a, c in perms
    ])
    lanes = F.aggregate(
        hmod,
        F.array_repeat(F.lit(P - 1).cast("long"), len(perms)),  # empty doc -> P-1
        lambda acc, h: F.zip_with(
            acc, params,
            lambda m, pr: F.least(m, (pr["a"] * h + pr["c"]) % F.lit(P)),
        ),
    )
    # two-step select: lane extraction reads the NAMED lanes column;
    # CollapseProject keeps the expensive array un-inlined (multi-reference,
    # non-cheap) — verified one md5 in the optimized plan
    sigs = df.select(F.col(id_col).alias("doc_id"), lanes.alias("lanes"))
    return sigs.select(
        "doc_id", *[F.col("lanes")[i].alias(f"s{i}") for i in range(len(perms))]
    )


def minhash_sql_pairs(df: DataFrame, id_col: str, text_col: str,
                      perms, rows_per_band: int = 2, shingle_k: int = 2) -> DataFrame:
    """LSH candidate pairs from SQL-algebra MinHash: pairs sharing at least
    one full band of ``rows_per_band`` signature lanes (id_a < id_b).  The
    DuckDB oracle re-derives the identical set with an all-pairs join and a
    per-band equality disjunction."""
    n_perm = len(perms)
    n_bands = n_perm // rows_per_band
    sigs = minhash_sql_sigs(df, id_col, text_col, perms, shingle_k)
    bands = sigs.select(
        "doc_id",
        F.explode(F.array(*[
            F.concat_ws(":", F.lit(str(bi)),
                        *[F.col(f"s{bi * rows_per_band + r}").cast("string")
                          for r in range(rows_per_band)]).alias("k")
            for bi in range(n_bands)
        ])).alias("band_key"),
    )
    a = bands.select("band_key", F.col("doc_id").alias("id_a"))
    b = bands.select("band_key", F.col("doc_id").alias("id_b"))
    return (
        a.join(b, "band_key")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# n-gram / token Jaccard (pure built-ins -> SQL-oracle-able)
# ---------------------------------------------------------------------------


def char_ngrams_col(text_col, n: int = 3) -> F.Column:
    """Distinct character n-grams as a pure column expression (texts shorter
    than n yield an empty set — the when-guard matters because Spark's
    sequence(1, 0) DESCENDS instead of returning empty)."""
    t = text_col if isinstance(text_col, F.Column) else F.col(text_col)
    grams = F.transform(
        F.sequence(F.lit(1), F.length(t) - (n - 1)),
        lambda i: t.substr(i, F.lit(n)),
    )
    return F.array_distinct(
        F.when(F.length(t) >= n, grams).otherwise(F.array().cast("array<string>"))
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    hash_seed: str = "w",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
    2003 — the MOSS algorithm; public) as ONE pure-column expression chain.

    Per doc: word ``k``-grams -> 64-bit gram hashes -> the MINIMUM hash of
    every window of ``w`` consecutive gram hashes -> distinct selected
    values.  The paper's guarantee carries over: any shared token span of
    length >= w + k - 1 contains a full hash window on both sides, and
    since both sides see the SAME hash multiset in that window, the
    window's minimum is selected (possibly by an overlapping window) on
    both — so the docs share >= 1 fingerprint.  Selection is by VALUE
    (min), so the tie rule the paper needs for positional robustness is
    moot for set-level dedup.  Fewer than ``w`` gram hashes (but > 0)
    yield one fingerprint: the global min.

    Gram hashes are md5-based so the driver oracle can recompute
    fingerprints EXACTLY in SQL (same rationale as sampling.md5_long / kmv
    sketches).

    Returns (id, fp) distinct rows — ids-only downstream, the scale shape.
    """
    if k < 1 or w < 1:
        raise ValueError("k and w must be >= 1")
    t = F.col(text_col)
    toks = F.filter(F.split(t, " "), lambda x: x != F.lit(""))
    n = F.size(toks)
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    hashes = F.transform(
        grams,
        lambda g: F.conv(
            F.substring(F.md5(F.concat(F.lit(hash_seed + ":"), g)), 1, 15),
            16, 10,
        ).cast("long"),
    )
    nh = F.size(hashes)
    fps = (
        F.when(
            nh >= w,
            F.transform(
                F.sequence(F.lit(1), nh - (w - 1)),
                lambda j: F.array_min(F.slice(hashes, j, w)),
            ),
        )
        .when(nh > 0, F.array(F.array_min(hashes)))
        .otherwise(F.array().cast("array<bigint>"))
    )
    return (
        df.select(F.col(id_col).alias("id"), F.explode(F.array_distinct(fps)).alias("fp"))
        .distinct()
    )


def winnow_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    min_shared: int = 1,
) -> DataFrame:
    """Cross-document duplicate-span candidates via winnowing: pairs of
    docs sharing >= ``min_shared`` winnowed fingerprints, with the shared
    count.  By the winnowing guarantee this has RECALL 1.0 for pairs
    sharing any token span of length >= w + k - 1 (at min_shared=1).

    Scale shape: the self-join carries (fp, id) rows ONLY — never text.
    Partial aggregation (map-side combine) applies to the final groupBy
    since it is a plain count over the join output."""
    fps = winnow_fingerprints(df, id_col, text_col, k, w)
    fps = fps.localCheckpoint(eager=False)  # both self-join branches
    a = fps.select(F.col("fp"), F.col("id").alias("id_a"))
    b = fps.select(F.col("fp"), F.col("id").alias("id_b"))
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 8,
    hash_seed: str = "s",
) -> DataFrame:
    """Cross-document EXACT-substring deduplication (the ExactSubstr half
    of Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better" — public): any token span of length >= ``span_tokens`` that
    occurs elsewhere in the corpus is removed, keeping ONE canonical
    occurrence — the globally smallest (doc_id, pos) per span value.

    Spark-native shape (the paper uses a single-machine suffix array; this
    is the distributed equivalent over token grams): a span of length
    >= L duplicates iff every one of its length-L grams duplicates, so
    removing the tokens covered by non-canonical duplicated L-grams
    removes exactly the non-canonical copies of all qualifying spans —
    overlap handling (interval merge) costs nothing because coverage is
    computed as a flat position set:

      1. explode (id, pos, gram-hash) — the ONLY corpus-sized shuffle,
         carrying 3 narrow columns, never text;
      2. per gram value: min-(id,pos) occurrence is canonical (one
         groupBy with a struct-min partial aggregate — no window);
      3. non-canonical occurrences rejoin their doc as an array of span
         starts; covered token indices = flatten(sequence(s, s+L-1)) —
         HOF column algebra, no Python;
      4. tokens at covered indices are dropped; the cleaned text plus
         counts are emitted.

    Returns (id, n_tokens, n_removed, clean_text).  Docs shorter than
    ``span_tokens`` pass through untouched.  The md5 hash basis keeps the
    whole pipeline SQL-replicable for the driver oracle (same rationale as
    winnow_fingerprints).
    Collision caveat (documented, shared with every hash-based dedup in
    this family): a 60-bit-hash collision removes a non-duplicated span.
    Birthday bound at 10^12 grams: ~(10^12)^2 / 2^61 ~= 4*10^5 spurious
    gram matches corpus-wide (~4 per 10^7 grams) — when that matters, run
    with two independent ``hash_seed`` values and intersect the removal
    sets, which squares the collision probability away.
    """
    if span_tokens < 1:
        raise ValueError("span_tokens must be >= 1")
    L = span_tokens
    t = F.col(text_col)
    toks = F.filter(F.split(t, " "), lambda x: x != F.lit(""))
    base = df.select(F.col(id_col).alias("id"), toks.alias("tk"))
    base = base.localCheckpoint(eager=False)  # grams + final rejoin
    n = F.size("tk")
    hash_fn = lambda g: F.conv(  # noqa: E731
        F.substring(F.md5(F.concat(F.lit(hash_seed + ":"), g)), 1, 15),
        16, 10,
    ).cast("long")
    grams = base.select(
        "id",
        F.posexplode(
            F.when(
                n >= L,
                F.transform(
                    F.sequence(F.lit(1), n - (L - 1)),
                    lambda i: hash_fn(F.array_join(F.slice("tk", i, L), " ")),
                ),
            ).otherwise(F.array().cast("array<bigint>"))
        ).alias("pos", "h"),
    )
    canon = grams.groupBy("h").agg(
        F.min(F.struct("id", "pos")).alias("c"),
        F.count("*").alias("occ"),
    )
    dup_starts = (
        grams.join(canon.where(F.col("occ") >= 2), "h")
        .where((F.col("id") != F.col("c.id")) | (F.col("pos") != F.col("c.pos")))
        .groupBy("id")
        .agg(F.collect_set("pos").alias("starts"))
    )
    covered = F.array_distinct(
        F.flatten(F.transform("starts", lambda s: F.sequence(s, s + (L - 1))))
    )
    out = (
        base.join(dup_starts, "id", "left")
        .withColumn("_cov", F.when(F.col("starts").isNotNull(), covered)
                    .otherwise(F.array().cast("array<int>")))
        .select(
            F.col("id").alias(id_col),
            F.size("tk").cast("long").alias("n_tokens"),
            F.size("_cov").cast("long").alias("n_removed"),
            F.array_join(
                F.filter("tk", lambda x, i: ~F.array_contains(F.col("_cov"), i)),
                " ",
            ).alias("clean_text"),
        )
    )
    return out


def _dense_bitset_jaccard_pairs(
    sets: DataFrame,
    vocab: List[str],
    tn: int,
    td: int,
    n_docs: int,
    block_size: int = 1024,
) -> DataFrame:
    """Exact all-pairs shingle-Jaccard for the LOW-ENTROPY regime: when the
    distinct-shingle vocabulary is small, every doc's shingle set packs into
    a fixed-width bitmask and set intersection becomes AND+popcount.

    Motivation (round-3 VERDICT, q8): on a corpus where 5,000 docs share
    only 931 distinct word-bigrams, PPJoin prefixes are dense and the
    prefix equi-join fans out to ~the brute pair count anyway — while each
    verification still pays an ``array_intersect`` over string arrays.
    Here the whole distance matrix costs pairs x vocab/8 byte-ANDs in
    NumPy.  At 100 TB this regime is a boilerplate-heavy crawl segment: a
    bounded low-entropy partition, not the whole corpus.

    Scale shape: docs are hash-assigned to blocks of ~``block_size``; each
    block folds to ONE row (ids + packed signature blob) via
    ``applyInPandas``; block pairs (bi <= bj) come from a self-join of that
    B-row table, and each of the B(B+1)/2 tasks compares two blocks with a
    vectorized byte-LUT popcount.  Driver-side state is the vocabulary
    broadcast (bounded by ``dense_vocab_cap``) — never row data.  The
    caller bounds n_docs, so B^2 is bounded too.

    Returns (id_a, id_b, inter, uni) as exact ints; the caller derives
    ``jacc`` with the same Spark expression as the sparse path so the two
    paths are bit-identical.
    """
    spark = sets.sparkSession
    n_words = (len(vocab) + 63) // 64
    tok2idx = {t: i for i, t in enumerate(vocab)}
    bc = spark.sparkContext.broadcast(tok2idx)

    @pandas_udf("binary")
    def pack_bits(sh: pd.Series) -> pd.Series:
        m = bc.value
        nw = n_words
        out = []
        for arr in sh:
            bits = np.zeros(nw, dtype=np.uint64)
            for t in arr:
                i = m[t]
                bits[i >> 6] |= np.uint64(1) << np.uint64(i & 63)
            out.append(bits.tobytes())
        return pd.Series(out)

    packed = sets.select(
        F.col("doc_id"),
        F.size("sh").cast("int").alias("n"),
        pack_bits("sh").alias("bits"),
        F.pmod(F.hash("doc_id"), F.lit(10**9)).alias("_h"),
    )
    n_blocks = max(1, -(-n_docs // block_size))
    packed = packed.withColumn("blk", (F.col("_h") % n_blocks).cast("int")).drop("_h")

    def fold_block(pdf: pd.DataFrame) -> pd.DataFrame:
        blob = b"".join(pdf["bits"])
        return pd.DataFrame(
            {
                "blk": [int(pdf["blk"].iloc[0])],
                "ids": [pdf["doc_id"].astype("int64").tolist()],
                "ns": [pdf["n"].astype("int32").tolist()],
                "blob": [blob],
            }
        )

    blocks = packed.groupBy("blk").applyInPandas(
        fold_block, "blk int, ids array<long>, ns array<int>, blob binary"
    )
    x = blocks.select(
        F.col("blk").alias("bx"), F.col("ids").alias("ids_x"),
        F.col("ns").alias("ns_x"), F.col("blob").alias("blob_x"),
    )
    y = blocks.select(
        F.col("blk").alias("by"), F.col("ids").alias("ids_y"),
        F.col("ns").alias("ns_y"), F.col("blob").alias("blob_y"),
    )
    pairs = x.crossJoin(y).where(F.col("bx") <= F.col("by")).repartition(
        min(n_blocks * (n_blocks + 1) // 2,
            int(spark.conf.get("spark.sql.shuffle.partitions", "32")) * 2)
    )

    def compare_blocks(batches):
        nbytes = n_words * 8

        def bitmat(blob: bytes, n: int) -> np.ndarray:
            # packed rows -> float32 0/1 matrix (n, vocab_bits); bit order
            # (MSB-first per byte from unpackbits) is irrelevant as long as
            # both sides unpack identically — dot products are permutation-
            # invariant.  float32 holds intersection counts exactly up to
            # 2^24 >> the 4096-bit cap.
            u8 = np.frombuffer(blob, dtype=np.uint8).reshape(n, nbytes)
            return np.unpackbits(u8, axis=1).astype(np.float32)

        for pdf in batches:
            outs = []
            for row in pdf.itertuples(index=False):
                ids_a = np.asarray(row.ids_x, dtype=np.int64)
                ids_b = np.asarray(row.ids_y, dtype=np.int64)
                na = np.asarray(row.ns_x, dtype=np.int64)
                nb = np.asarray(row.ns_y, dtype=np.int64)
                # intersection sizes via ONE sgemm: 4-6x the byte-LUT /
                # SWAR popcount forms at block_size=1024 (BLAS blocking +
                # FMA; the broadcast-AND forms allocate (na, nb, words)
                # temporaries that are pure memory traffic)
                inter = (
                    bitmat(row.blob_x, len(ids_a))
                    @ bitmat(row.blob_y, len(ids_b)).T
                ).astype(np.int64)
                uni = na[:, None] + nb[None, :] - inter
                ok = inter * td >= uni * tn
                if row.bx == row.by:
                    # i != j, and emit each unordered pair once
                    ok &= ids_a[:, None] < ids_b[None, :]
                ii, jj = np.nonzero(ok)
                if len(ii) == 0:
                    continue
                ia, ib = ids_a[ii], ids_b[jj]
                lo = np.minimum(ia, ib)
                hi = np.maximum(ia, ib)
                outs.append(
                    pd.DataFrame(
                        {
                            "id_a": lo,
                            "id_b": hi,
                            "inter": inter[ii, jj].astype(np.int32),
                            "uni": uni[ii, jj].astype(np.int32),
                        }
                    )
                )
            if outs:
                yield pd.concat(outs, ignore_index=True)

    return pairs.mapInPandas(
        compare_blocks, "id_a long, id_b long, inter int, uni int"
    )


def prefix_filtered_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle_k: int = 2,
    dense_vocab_cap: int = 4096,
    dense_docs_cap: int = 50000,
) -> DataFrame:
    """All-pairs word-shingle-Jaccard >= ``threshold`` WITHOUT blocking keys
    and WITHOUT an all-pairs join — PPJoin-style prefix filtering
    (Chaudhuri/Ganti/Kaushik SSJoin 2006, Xiao et al. PPJoin 2008).

    Losslessness (why prefix-to-prefix join misses nothing): order all
    shingles by a global total order (document frequency ascending, then
    lexicographic).  If J(A,B) >= t, let c be the first common shingle in
    that order.  Every A-shingle before c is absent from B, so if c sat
    beyond A's first |A| - ceil(t|A|) + 1 shingles then >= ceil(t|A|)
    A-shingles would be absent from B — contradicting
    |A∩B| >= t|A∪B| >= t|A|.  Symmetrically for B, so c lies in both
    prefixes and the equi-join on prefix shingles finds every qualifying
    pair.  The final predicate is an exact integer cross-multiply
    (inter * den >= num * uni), never a float compare.

    Scale shape: candidate generation shuffles only (shingle, id, set-size)
    rows from the prefixes — rarest-first ordering keeps frequent shingles
    out of prefixes, which is what bounds join fan-out; full shingle sets
    re-join by id for the verify stage (id-keyed, data-parallel).  The
    driver query's DuckDB oracle brute-forces all pairs at sf0.01 and
    asserts exact set equality — a recall-complete check of the filter.
    """
    from fractions import Fraction

    frac = Fraction(threshold).limit_denominator(10**6)
    tn, td = frac.numerator, frac.denominator
    if not 0 < frac <= 1:
        raise ValueError("threshold must be in (0, 1]")

    sets = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.array_distinct(word_shingles_col(F.col(text_col), shingle_k)).alias("sh"),
        )
        .where(F.size("sh") > 0)
        # consumed by three branches (prefix build, both verify sides):
        # one materialization instead of three scans+shingle transforms
        .localCheckpoint(eager=False)
    )
    toks = sets.select("doc_id", F.explode("sh").alias("tok"))
    # adaptive regime probe (round-3 VERDICT q8): when the shingle
    # vocabulary is small relative to the corpus, prefixes are dense and the
    # prefix equi-join fans out to ~the brute pair count while verification
    # still pays array_intersect per candidate — so switch to the exact
    # dense-bitset plan (AND+popcount over packed signatures).  ONE probe
    # job decides AND yields the vocabulary: limit(cap+1) bounds the driver
    # collect to cap+1 single-token rows whatever the true vocabulary size
    # (a broadcast dictionary, never row data).  Both paths compute the
    # identical (inter, uni, jacc).
    # the dense path packs ids through an int64 ndarray, so it is only
    # type-safe for integral id columns — string/decimal ids fall through to
    # the sparse plan, which is id-type-generic (round-4 ADVICE)
    id_type = sets.schema["doc_id"].dataType
    id_is_integral = isinstance(
        id_type, (ByteType, ShortType, IntegerType, LongType)
    )
    if dense_vocab_cap > 0 and dense_docs_cap > 0 and id_is_integral:
        vrows = (
            toks.select("tok").distinct().limit(dense_vocab_cap + 1).collect()
        )
        if len(vrows) <= dense_vocab_cap:
            n_docs = sets.count()  # cheap: sets is checkpointed
            if n_docs <= dense_docs_cap:
                vocab = sorted(r["tok"] for r in vrows)
                dense = _dense_bitset_jaccard_pairs(sets, vocab, tn, td, n_docs)
                return dense.select(
                    # restore the caller's id dtype so both plans agree
                    F.col("id_a").cast(id_type).alias("id_a"),
                    F.col("id_b").cast(id_type).alias("id_b"),
                    "inter",
                    "uni",
                    F.round(
                        F.col("inter") * F.lit(1.0) / F.col("uni"), 6
                    ).alias("jacc"),
                )
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("dfq"))
    ordered = (
        toks.join(dfreq, "tok")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("dfq", "tok"))).alias("arr"))
        .withColumn("n", F.size("arr"))
    )
    # prefix length n - ceil(t*n) + 1 with ceil as exact integer arithmetic;
    # pos = 0-based rank of the shingle in the doc's full rarest-first order
    # (posexplode of a slice starting at 1), feeding the positional filter
    pref = (
        ordered.select(
            "doc_id",
            "n",
            F.posexplode(
                F.expr(f"slice(arr, 1, n - ((n * {tn} + {td} - 1) div {td}) + 1)")
            ).alias("pos", "s"),
        )
        .select("doc_id", "n", "pos", F.col("s.tok").alias("tok"))
        # both self-join branches read this — materialize once
        .localCheckpoint(eager=False)
    )
    a = pref.select(
        F.col("doc_id").alias("id_a"), F.col("n").alias("na"),
        F.col("pos").alias("pos_a"), "tok",
    )
    b = pref.select(
        F.col("doc_id").alias("id_b"), F.col("n").alias("nb"),
        F.col("pos").alias("pos_b"), "tok",
    )
    # PPJoin positional filter: a qualifying pair needs overlap
    # alpha = ceil(t/(1+t) * (na+nb)); at the FIRST common shingle (pos_a,
    # pos_b) every earlier shingle on either side is non-common, so the
    # overlap is bounded by 1 + min(remaining_a, remaining_b).  Filtering
    # occurrences below alpha is lossless (the first-common occurrence of a
    # qualifying pair always passes) and prunes the dense-shingle fan-out
    # that a pure prefix join suffers on low-entropy corpora.
    alpha = F.expr(f"((na + nb) * {tn} + {tn + td} - 1) div {tn + td}")
    cand = (
        a.join(b, "tok")
        .where(
            (F.col("id_a") < F.col("id_b"))
            # size filter: J >= t forces t|A| <= |B| and t|B| <= |A|
            & (F.col("nb") * td >= F.col("na") * tn)
            & (F.col("na") * td >= F.col("nb") * tn)
            & (
                1 + F.least(
                    F.col("na") - 1 - F.col("pos_a"),
                    F.col("nb") - 1 - F.col("pos_b"),
                )
                >= alpha
            )
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sets.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sha"))
    sb = sets.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("shb"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("inter", F.size(F.array_intersect("sha", "shb")))
        .withColumn("uni", F.size("sha") + F.size("shb") - F.col("inter"))
        .where(F.col("inter") * td >= F.col("uni") * tn)
        .select(
            "id_a",
            "id_b",
            F.col("inter").cast("int").alias("inter"),
            F.col("uni").cast("int").alias("uni"),
            F.round(F.col("inter") * F.lit(1.0) / F.col("uni"), 6).alias("jacc"),
        )
    )


def edit_distance_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tau: int = 3,
    q: int = 3,
) -> DataFrame:
    """All-pairs edit-distance join: every pair with Levenshtein distance
    <= ``tau``, WITHOUT an all-pairs comparison — Ed-Join-style q-gram
    prefix filtering (Gravano et al. VLDB 2001 count/length filters;
    Xiao/Wang/Lin Ed-Join PVLDB 2008 constant-size prefixes).

    Losslessness: tokenize each string into OCCURRENCE-TAGGED q-grams
    (the i-th occurrence of gram g is the token (g, i) — so matching
    tokens between two strings is exactly their gram-multiset
    intersection).  One edit destroys at most q grams, so dist(a,b) <= tau
    forces shared tokens >= max(n_a, n_b) - q*tau with n = len - q + 1
    grams.  When at least one side has n > q*tau that bound LB is >= 1 and
    the standard prefix-filter theorem applies: ordering every string's
    tokens by a global total order (token document-frequency ascending,
    then gram, then occurrence), prefixes of n - LB + 1 <= q*tau + 1
    tokens on each side must share a token — so the equi-join on the
    constant-size (q*tau + 1)-token prefixes finds every such pair.  Pairs
    where BOTH sides have n <= q*tau grams (length <= q*(tau+1) - 1,
    including texts shorter than q with no grams at all) can share zero
    grams while still being within tau, so ALL short-short pairs flow
    through a separate length-bucket pass: buckets of width tau + 1, one
    side also emitting its neighbor buckets, so any |len_a - len_b| <= tau
    pair meets in some bucket.  The length filter |len_a - len_b| <= tau
    prunes both passes.  Verification is the banded Levenshtein kernel
    with score_cutoff = tau (O(tau * len) per pair, the reference
    cutoff+1 rule turning into a plain <= tau predicate).  Recall-1.0 is
    property-tested against a brute-force oracle on planted-typo corpora
    in tests/test_extras.py; the driver query's DuckDB oracle brute-forces
    the corpus with its independent levenshtein builtin.

    Scale shape: candidate generation shuffles only (token, id, len) rows
    from constant-size prefixes — rarest-first ordering keeps frequent
    grams out of prefixes, bounding join fan-out exactly like
    prefix_filtered_jaccard_pairs; the short-short bucket pass touches
    only strings of <= q*(tau+1) - 1 chars (17 for the q=3, tau=4
    defaults — negligible in a web corpus, quadratic only within a
    length-(tau+1) bucket of them).  Verification re-joins texts by id
    (data-parallel) and pays O(tau * len) per candidate.
    """
    if tau < 0:
        raise ValueError("tau must be >= 0")
    if q < 1:
        raise ValueError("q must be >= 1")
    from ..udfs import pair_udf

    base = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("text"),
            F.length(text_col).cast("long").alias("len"),
        )
        .where(F.col("text").isNotNull())
        .localCheckpoint(eager=False)
    )
    short_len = q * (tau + 1) - 1

    # --- prefix pass: every doc with >= 1 gram contributes its (up to)
    # q*tau + 1 rarest occurrence-tagged grams ---
    t = F.col("text")
    grams = F.when(
        F.col("len") >= q,
        F.transform(
            F.sequence(F.lit(1), F.col("len") - (q - 1)),
            lambda i: t.substr(i, F.lit(q)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    toks = (
        base.select("doc_id", "len", F.posexplode(grams).alias("p", "g"))
        .groupBy("doc_id", "len", "g")
        .agg(F.sort_array(F.collect_list("p")).alias("ps"))
        .select("doc_id", "len", "g", F.posexplode("ps").alias("occ", "p"))
        .drop("p")
    )
    dfq = toks.groupBy("g", "occ").agg(F.count("*").alias("dfq"))
    pref = (
        toks.join(dfq, ["g", "occ"])
        .groupBy("doc_id", "len")
        .agg(F.array_sort(F.collect_list(F.struct("dfq", "g", "occ"))).alias("arr"))
        .select(
            "doc_id", "len",
            F.explode(F.slice("arr", 1, q * tau + 1)).alias("s"),
        )
        .select("doc_id", "len", F.col("s.g").alias("g"), F.col("s.occ").alias("occ"))
        .localCheckpoint(eager=False)
    )
    pa = pref.select(F.col("doc_id").alias("id_a"), F.col("len").alias("la"), "g", "occ")
    pb = pref.select(F.col("doc_id").alias("id_b"), F.col("len").alias("lb"), "g", "occ")
    cand_pref = (
        pa.join(pb, ["g", "occ"])
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("la") - F.col("lb")) <= tau)
            # prefix theorem needs one side long; short-short pairs are the
            # bucket pass's job (keeping them out avoids double work)
            & ((F.col("la") > short_len) | (F.col("lb") > short_len))
        )
        .select("id_a", "id_b")
    )

    # --- short-short pass: length buckets of width tau + 1; side b also
    # emits neighbor buckets so any |la - lb| <= tau pair meets ---
    shorts = base.where(F.col("len") <= short_len).select("doc_id", "len")
    sa = shorts.select(
        F.col("doc_id").alias("id_a"), F.col("len").alias("la"),
        (F.col("len") / (tau + 1)).cast("long").alias("bkt"),
    )
    sb = shorts.select(
        F.col("doc_id").alias("id_b"), F.col("len").alias("lb"),
        F.explode(
            F.array(*[(F.col("len") / (tau + 1)).cast("long") + d for d in (-1, 0, 1)])
        ).alias("bkt"),
    )
    cand_short = (
        sa.join(sb, "bkt")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("la") - F.col("lb")) <= tau)
        )
        .select("id_a", "id_b")
    )

    cand = cand_pref.unionByName(cand_short).dropDuplicates(["id_a", "id_b"])
    ta = base.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    tb = base.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    return (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("dist", pair_udf("distance", score_cutoff=tau)("text_a", "text_b"))
        .where(F.col("dist") <= tau)
        .select("id_a", "id_b", "dist")
    )


def sparse_token_cosine_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """TF-cosine similarity for candidate ``pairs`` (id_a, id_b) computed as
    SPARSE dot products — the shape that survives 100 TB: token counts are
    an (id, token, count) table, the dot product is an equi-join on
    (id, token) + a partial-aggregating groupBy, norms join back by id.
    No dense vectors are materialized and nothing is quadratic in vocab.

    All emitted magnitudes are exact BIGINTs (dot, na2, nb2) so the DuckDB
    oracle matches bit-for-bit; ``cos`` is derived per-row from those
    integers by one deterministic expression (dot / sqrt(na2 * nb2)) —
    identical IEEE tree on both engines.  Pairs with no shared token are
    kept via the left join (dot = 0, cos = 0.0); pairs with a zero-token
    side are dropped (their cosine is undefined).

    IDF weighting is deliberately NOT folded in here: float idf weights
    make the aggregation order-dependent and break exact cross-engine
    comparison; compose with an integer-scaled weight column if needed.
    """
    pairs = pairs.select("id_a", "id_b").localCheckpoint(eager=False)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.filter(F.split(F.col(text_col), " "), lambda t: t != F.lit(""))).alias("tok"),
    )
    cnt = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    # one materialization: counts feed the norm aggregate and BOTH dot sides
    cnt = cnt.localCheckpoint(eager=False)
    nrm = cnt.groupBy("doc_id").agg(F.sum(F.col("c") * F.col("c")).alias("n2"))
    ca = cnt.select(F.col("doc_id").alias("id_a"), "tok", F.col("c").alias("ca"))
    cb = cnt.select(F.col("doc_id").alias("id_b"), "tok", F.col("c").alias("cb"))
    dot = (
        pairs.select("id_a", "id_b")
        .join(ca, "id_a")
        .join(cb, ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = nrm.select(F.col("doc_id").alias("id_a"), F.col("n2").alias("na2"))
    nb = nrm.select(F.col("doc_id").alias("id_b"), F.col("n2").alias("nb2"))
    return (
        pairs.select("id_a", "id_b")
        .join(dot, ["id_a", "id_b"], "left")
        .withColumn("dot", F.coalesce(F.col("dot"), F.lit(0)).cast("long"))
        .join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            "dot",
            F.col("na2").cast("long").alias("na2"),
            F.col("nb2").cast("long").alias("nb2"),
            (F.col("dot") / F.sqrt(F.col("na2") * F.col("nb2"))).alias("cos"),
        )
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    idf_scale: int = 1000,
) -> DataFrame:
    """IDF-weighted sparse cosine for candidate pairs — the rare-token-
    sensitive sibling of :func:`sparse_token_cosine_pairs` (raw TF cosine
    lets stopwords dominate; down-weighting by document frequency is the
    standard fix).

    IDF VARIANT (deliberate, documented): the weight is the LINEAR
    floor-scaled idf  ``w_t = tf_t * ((idf_scale * N) DIV df_t)`` — exact
    integers end to end, because ``ln()`` is not correctly-rounded IEEE
    and differs between engines in the last ulp, which would break the
    bit-exact oracle (the repo-wide no-cross-engine-log rule; the ppm
    floor-division trick of ``bigram_fluency_scores``).  Linear idf
    preserves the df ORDERING ln-idf induces (both strictly decreasing in
    df) while being cross-engine-exact; callers wanting ln-idf semantics
    can post-scale driver-side.

    Overflow SAFETY (corrected round 6, ADVICE): norm terms are
    ``(tf*idf)^2`` summed over a doc's distinct tokens, so the true safe
    bound is ``max_w^2 * max_tokens_per_doc <= 2^63-1``, i.e.
    ``max_tf * idf_scale * N <= ~3e9 / sqrt(T)`` (with df=1 worst case;
    the earlier ">10x margin at idf_scale*N ~ 1e7" claim was wrong —
    tf ~ 1e3 there gives w = 1e10 and a single squared term of 1e20,
    already past int64, wrapping silently under non-ANSI sum).  Because
    Spark's non-ANSI integral sum wraps with no error, this function now
    VALIDATES the worst case up front from one cheap scalar aggregate
    over the (doc, token) counts — max tf and max distinct tokens per
    doc — and raises ``ValueError`` telling the caller to lower
    ``idf_scale`` instead of returning silently-wrapped norms.  Dot terms
    are covered by the same bound via Cauchy-Schwarz (dot <=
    sqrt(na2*nb2)).  Size ``idf_scale`` DOWN as N grows (the default
    suits the test corpora; at 10^9 docs use idf_scale=1 — df alone
    spans the needed range).  Emits exact (dot, na2, nb2) BIGINTs + the
    derived cos, like the TF variant.
    """
    pairs = pairs.select("id_a", "id_b").localCheckpoint(eager=False)
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.filter(F.split(F.col(text_col), " "),
                           lambda t: t != F.lit(""))).alias("tok"),
    )
    n_docs = docs.select(F.countDistinct(F.col(id_col)).alias("n")).collect()[0]["n"]
    cnt = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    cnt = cnt.localCheckpoint(eager=False)  # guard agg + dfreq + w reuse
    # Loud overflow guard (round 6): worst-case weight is tf_max * idf_max
    # with idf_max = idf_scale * N (df=1); worst-case norm is that squared
    # times the widest doc's distinct-token count.  Exact Python ints — no
    # float rounding in the check itself.  One scalar two-level aggregate,
    # partial-aggregable, ids-only: negligible next to the pair join.
    g = (
        cnt.groupBy("doc_id")
        .agg(F.max("c").alias("mc"), F.count("*").alias("nt"))
        .agg(F.max("mc").alias("max_tf"), F.max("nt").alias("max_toks"))
        .collect()[0]
    )
    max_tf = int(g["max_tf"] or 0)
    max_toks = int(g["max_toks"] or 0)
    worst_norm = (max_tf * idf_scale * n_docs) ** 2 * max_toks
    if worst_norm > (1 << 63) - 1:
        raise ValueError(
            f"tfidf_cosine_pairs: idf_scale={idf_scale} can overflow BIGINT "
            f"norms (worst case {worst_norm:.3e} with max_tf={max_tf}, "
            f"N={n_docs}, max_toks/doc={max_toks}); lower idf_scale to "
            f"<= {((1 << 63) - 1) ** 0.5 // max(1, max_tf * n_docs * max_toks ** 0.5):.0f}"
        )
    dfreq = cnt.groupBy("tok").agg(F.count("*").alias("df"))
    w = (
        cnt.join(dfreq, "tok")
        .select(
            "doc_id", "tok",
            (F.col("c") * F.expr(f"({idf_scale} * {n_docs}L) div df")).alias("w"),
        )
        .localCheckpoint(eager=False)  # norms + both dot sides
    )
    nrm = w.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    wa = w.select(F.col("doc_id").alias("id_a"), "tok", F.col("w").alias("wa"))
    wb = w.select(F.col("doc_id").alias("id_b"), "tok", F.col("w").alias("wb"))
    dot = (
        pairs.join(wa, "id_a")
        .join(wb, ["id_b", "tok"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = nrm.select(F.col("doc_id").alias("id_a"), F.col("n2").alias("na2"))
    nb = nrm.select(F.col("doc_id").alias("id_b"), F.col("n2").alias("nb2"))
    return (
        pairs.join(dot, ["id_a", "id_b"], "left")
        .withColumn("dot", F.coalesce(F.col("dot"), F.lit(0)).cast("long"))
        .join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a", "id_b", "dot",
            F.col("na2").cast("long").alias("na2"),
            F.col("nb2").cast("long").alias("nb2"),
            (F.col("dot") / F.sqrt(F.col("na2") * F.col("nb2"))).alias("cos"),
        )
    )


def dup_span_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window_tokens: int = 8,
) -> DataFrame:
    """Span-level duplication signal (the statistic behind Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": how much of
    a document consists of token spans that also occur elsewhere).  For
    each doc: total ``window_tokens``-grams, how many of them (counted with
    multiplicity) occur in >= 1 OTHER document, and the distinct-gram
    variants of both — exact integers.

    Scale shape: per-gram document frequencies from an (id, gram)-distinct
    groupBy (partial agg), joined back to the doc's grams by gram key; no
    pairwise joins, nothing quadratic.  A full substring-dedup (suffix
    arrays) finds arbitrary-length spans; fixed windows are the standard
    scalable approximation — any duplicated span >= window_tokens long is
    detected by its windows."""
    w = window_tokens
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != F.lit(""))
    grams = F.when(
        F.size(toks) >= w,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (w - 1)),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(w)]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = df.select(F.col(id_col).alias("id"), F.explode(grams).alias("gram"))
    dfreq = (
        g.select("id", "gram").distinct()
        .groupBy("gram")
        .agg(F.count("*").alias("gdf"))
    )
    per = g.join(dfreq, "gram").withColumn("dup", (F.col("gdf") >= 2).cast("int"))
    return (
        per.groupBy(F.col("id").alias(id_col))
        .agg(
            F.count("*").cast("long").alias("n_windows"),
            F.sum("dup").cast("long").alias("n_dup_windows"),
            F.countDistinct("gram").cast("long").alias("n_distinct"),
            F.countDistinct(F.when(F.col("dup") == 1, F.col("gram"))).cast("long")
            .alias("n_dup_distinct"),
        )
    )
