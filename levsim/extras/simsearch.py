"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: exact baseline.  Dot products computed with
  JVM-side higher-order functions (zip_with + aggregate) — no Python in the
  loop; the query side is broadcast.  O(N*Q) — correct at any N, fast when
  one side is small.
- LSH-bucketed cosine: random-hyperplane signatures (Charikar) — the scale
  path: sign-bit bands bucket the corpus so each probe joins only its
  bucket.  Recall < 1 by construction; brute force is the oracle.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType


def norm_col(v) -> F.Column:
    """L2 norm of an array<float/double> column (JVM higher-order fns)."""
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def dot_col(va, vb) -> F.Column:
    """Dot product of two array<float/double> columns (JVM higher-order fns)."""
    return F.aggregate(
        F.zip_with(va, vb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_from_norms(va, vb, na, nb) -> F.Column:
    """Cosine given precomputed side norms.  Spark's higher-order functions
    are INTERPRETED (no codegen), so an O(N*Q) pair stage must not
    recompute each side's norm per pair — precompute them per side (N + Q
    aggregates instead of 2*N*Q) and pay only the dot per pair.  The float
    expression tree (dot / (na * nb)) is unchanged, so results are
    bit-identical to cosine_col."""
    return F.when((na > 0) & (nb > 0), dot_col(va, vb) / (na * nb)).otherwise(F.lit(0.0))


def cosine_col(va, vb) -> F.Column:
    """Cosine similarity of two array<float/double> columns — pure JVM
    higher-order functions.  For pairwise stages prefer cosine_from_norms
    (norms hoisted out of the O(N*Q) loop)."""
    return cosine_from_norms(va, vb, norm_col(va), norm_col(vb))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors per query.  The query side is broadcast;
    ties broken by neighbor id for determinism."""
    from pyspark.sql import Window

    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"),
                      norm_col(F.col(vec_col)).alias("cnorm"))
    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec"),
                       norm_col(F.col(vec_col)).alias("qnorm"))
    scored = c.join(F.broadcast(q)).withColumn(
        "cosine",
        F.round(cosine_from_norms(F.col("cvec"), F.col("qvec"),
                                  F.col("cnorm"), F.col("qnorm")), 6),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def brute_force_topk_blocked(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors per query — the BLOCKED execution of
    :func:`brute_force_topk` (same results after the shared round-to-6;
    parity asserted in tests and by the driver oracle).

    Why it beats the join+window plan 3.3x (measured at sf0.1/local[32],
    1.56s -> 0.48s): the HOF plan explodes |corpus| x |queries| pair rows
    and evaluates an INTERPRETED zip_with/aggregate dot per row, then
    windows over all of them.  Here the query side is collected once
    (bounded — the same small-side constraint the broadcast join already
    imposed), each corpus Arrow batch computes ALL its query dots in one
    float64 matmul, and only the per-batch partial top-k (k rows per query
    per batch) leaves the executor.  The final exact merge windows over
    ~batches*k*|Q| rows instead of |corpus|*|Q|.  At 10^9 corpus rows the
    shuffle volume drops by ~|corpus|/(batches*k) — this is the scale
    path; the HOF form remains as the independent cross-check."""
    from pyspark.sql import Window

    qrows = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    ).collect()
    if not qrows:
        raise ValueError("empty query side")
    dim = next((len(r.qvec) for r in qrows if r.qvec is not None), 0)
    qids = np.array([r.query_id for r in qrows], dtype=np.int64)
    Q = np.array(
        [r.qvec if r.qvec is not None else [0.0] * dim for r in qrows],
        dtype=np.float64,
    )
    qn = np.linalg.norm(Q, axis=1)
    qzero = qn == 0
    qn[qzero] = 1.0
    bq = corpus.sparkSession.sparkContext.broadcast((qids, Q, qn, qzero))

    def fn(batches):
        qids, Q, qn, qzero = bq.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["id"].to_numpy(dtype=np.int64)
            vl = pdf["v"].tolist()
            X = np.array(
                [v if v is not None else [0.0] * Q.shape[1] for v in vl],
                dtype=np.float64,
            )
            xn = np.linalg.norm(X, axis=1)
            xzero = xn == 0
            xn[xzero] = 1.0
            S = (X @ Q.T) / xn[:, None] / qn[None, :]
            S[xzero, :] = 0.0
            S[:, qzero] = 0.0
            # Spark F.round is HALF_UP (away from zero), numpy's is
            # HALF_EVEN — replicate HALF_UP so both executions share one
            # rounding rule at the (measure-zero) tie boundary
            S6 = np.sign(S) * np.floor(np.abs(S) * 1e6 + 0.5) / 1e6
            kk = min(k, len(ids))
            out = []
            for j in range(len(qids)):
                # partial selection must respect the FULL result order on
                # the ROUNDED score (cosine desc, neighbor_id asc): a
                # raw-score argpartition can drop the rounded-tie with the
                # smallest id inside a batch and lose it for good
                sel = np.lexsort((ids, -S6[:, j]))[:kk]
                out.append(pd.DataFrame({
                    "query_id": qids[j],
                    "neighbor_id": ids[sel],
                    "cosine": S6[sel, j],
                }))
            yield pd.concat(out, ignore_index=True)

    part = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).mapInPandas(fn, "query_id long, neighbor_id long, cosine double")
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        part.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _hyperplanes(n_planes: int, dim: int, seed: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes (content-derived, no RNG
    state): unit-normal components from blake2b counter stream."""
    raw = np.empty(n_planes * dim, dtype=np.float64)
    i = 0
    ctr = 0
    while i < raw.size:
        h = hashlib.blake2b(f"{seed}:{ctr}".encode(), digest_size=8).digest()
        u = int.from_bytes(h, "little") / 2**64  # U(0,1)
        raw[i] = u - 0.5
        i += 1
        ctr += 1
    return raw.reshape(n_planes, dim)


def hyperplane_sig_udf(n_planes: int, dim: int, seed: int = 7):
    """pandas UDF: embedding -> int64 sign-bit signature (n_planes <= 63)."""
    planes = _hyperplanes(n_planes, dim, seed)

    pow2 = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    @pandas_udf(LongType())
    def _udf(vecs: pd.Series) -> pd.Series:
        vl = vecs.tolist()
        live = [i for i, v in enumerate(vl) if v is not None]
        out: list = [None] * len(vl)
        if live:
            # one matrix product for the whole Arrow batch (was a per-row
            # Python loop — ~50x on 64-dim embeddings)
            x = np.asarray([vl[i] for i in live], dtype=np.float64)  # (m, dim)
            bits = (x @ planes.T) > 0                                # (m, n_planes)
            sigs = bits.astype(np.int64) @ pow2
            for j, i in enumerate(live):
                out[i] = int(sigs[j])
        return pd.Series(out, dtype="Int64")

    return _udf


def _kmeans_centroids(sample: np.ndarray, k: int, iters: int = 8) -> np.ndarray:
    """Deterministic Lloyd k-means on a driver-side sample (cosine space:
    vectors are L2-normalized first).  Seeding is content-derived: the k
    sample vectors with the lexicographically smallest blake2b digests —
    reproducible across runs and partitionings, no RNG state."""
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    x = sample / np.maximum(norms, 1e-12)
    digs = [hashlib.blake2b(v.astype("<f4").tobytes(), digest_size=8).digest() for v in x]
    seed_idx = sorted(range(len(x)), key=lambda i: digs[i])[:k]
    c = x[seed_idx].copy()
    for _ in range(iters):
        sims = x @ c.T
        assign = sims.argmax(axis=1)
        for j in range(k):
            members = x[assign == j]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                if n > 1e-12:
                    c[j] = m / n
    return c


def _assign_cells(vals: list, cents: np.ndarray, n_cells: int) -> list:
    """Nearest-centroid cell ids per vector, batch-vectorized: normalize the
    whole Arrow batch, one (m, dim) @ (dim, nlist) product, row argsort.
    None vectors stay None.  Row-identical to a per-vector scalar loop
    (argsort is applied independently per row).

    Throughput note (measured, 64-dim x 16 cells): the list->ndarray
    conversion dominates (~80k vecs/s/core either way), same as
    hyperplane_sig_udf — the batch matmul removes the per-row Python/numpy
    dispatch but cannot beat the Arrow conversion floor."""
    live = [i for i, v in enumerate(vals) if v is not None]
    out: list = [None] * len(vals)
    if live:
        src = vals if len(live) == len(vals) else [vals[i] for i in live]
        x = np.asarray(src, dtype=np.float64)
        norms = np.linalg.norm(x, axis=1, keepdims=True)
        np.divide(x, norms, out=x, where=norms > 1e-12)
        sims = x @ cents.T                          # (m, nlist)
        order = np.argsort(-sims, axis=1)[:, :n_cells]
        for row, cells in zip(live, order.tolist()):
            out[row] = cells
    return out


def _estimate_sample_recall(
    sample: np.ndarray, cents: np.ndarray, nprobe: int, k: int = 10
) -> float:
    """Estimate IVF recall@k ON THE TRAINING SAMPLE: each sample vector acts
    as a query against the sample-as-corpus; a true top-k neighbor is 'found'
    iff its top-1 cell is among the query's ``nprobe`` probe cells.  O(s^2 *
    dim) driver flops on the already-collected sample (s <= train_sample) —
    one BLAS product, no extra Spark job.  Round-4 BASELINE measured this
    estimate tracking real recall on the uniform-vector failure mode
    (est 0.48 at dim=64/nlist=16/nprobe=3 vs measured 0.46-0.61), while
    clustered corpora estimate >= 0.99."""
    xn = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    cs = xn @ cents.T
    cell1 = cs.argmax(axis=1)
    probe = np.argsort(-cs, axis=1)[:, :nprobe]
    sims = xn @ xn.T
    np.fill_diagonal(sims, -np.inf)
    kk = min(k, len(xn) - 1)
    if kk <= 0:
        return 1.0
    topk = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
    # vectorized membership: cell of each top-k neighbor in the row's probes
    hit = (cell1[topk][:, :, None] == probe[:, None, :]).any(axis=2)
    return float(hit.mean())


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    nlist: int = 16,
    nprobe: int = 3,
    train_sample: int = 2048,
    round_decimals: int = 6,
    min_sample_recall: float = 0.9,
    on_low_recall: str = "warn",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus vectors are assigned to
    their nearest of ``nlist`` k-means centroids; each query probes only its
    ``nprobe`` closest cells and re-ranks by exact cosine inside them.

    The scale path for 10^9+ vectors: per-query work drops by ~nlist/nprobe
    while recall stays high when clusters are balanced.  Centroids are
    trained driver-side on a deterministic sample (lowest ids) and shipped
    as a broadcast-sized literal inside the assignment UDF.

    Guardrail (round-4 VERDICT #5): on structureless ("uniform") vector
    data IVF recall collapses (BASELINE measured recall@10 0.46-0.61).
    After training, recall@10 is estimated on the driver sample itself
    (``_estimate_sample_recall`` — no extra Spark job, mirroring the
    dense-escape probe pattern of dedup.py); if the estimate is below
    ``min_sample_recall`` then ``on_low_recall`` decides: "warn" (default)
    emits a UserWarning naming the estimate, "fallback" returns the exact
    ``brute_force_topk`` plan instead, "ignore" proceeds silently."""
    import warnings

    from pyspark.sql import Window

    if on_low_recall not in ("warn", "fallback", "ignore"):
        raise ValueError("on_low_recall must be 'warn', 'fallback' or 'ignore'")
    # deterministic UNBIASED sample: order by a hash of the id (TakeOrdered
    # top-K — no full sort), not by raw id (lowest-id bias at corpus scale)
    sample = np.array(
        [r.v for r in corpus
         .select(F.col(vec_col).alias("v"), F.xxhash64(F.col(id_col)).alias("h"))
         .orderBy("h").limit(train_sample).collect()],
        dtype=np.float64,
    )
    cents = _kmeans_centroids(sample, nlist)
    if nprobe < nlist and on_low_recall != "ignore" and len(sample) > 1:
        est = _estimate_sample_recall(sample, cents, nprobe, k=max(k, 10))
        if est < min_sample_recall:
            msg = (
                f"ivf_topk: sample-estimated recall@{max(k, 10)} = {est:.3f} "
                f"< {min_sample_recall} (nlist={nlist}, nprobe={nprobe}) — "
                "the corpus looks structureless for IVF"
            )
            if on_low_recall == "fallback":
                warnings.warn(msg + "; falling back to exact brute_force_topk")
                return brute_force_topk(
                    corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
                    query_id_col=query_id_col,
                )
            warnings.warn(msg + "; raise nprobe or use lsh/brute")

    def assign_udf(n_cells: int):
        # one (m, dim) @ (dim, nlist) matrix product per Arrow batch (same
        # batching as hyperplane_sig_udf) instead of a per-row Python loop —
        # asserted identical to the scalar loop in test_ivf_assign_vectorized
        @pandas_udf(ArrayType(LongType()))
        def _udf(vecs: pd.Series) -> pd.Series:
            return pd.Series(_assign_cells(vecs.tolist(), cents, n_cells))

        return _udf

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"),
        F.explode(assign_udf(1)(F.col(vec_col))).alias("cell"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qvec"),
        F.explode(assign_udf(nprobe)(F.col(vec_col))).alias("cell"),
    )
    cand = c.join(q, "cell").dropDuplicates(["query_id", "neighbor_id"])
    scored = cand.withColumn(
        "cosine", F.round(cosine_col(F.col("cvec"), F.col("qvec")), round_decimals)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def embedding_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "lsh",
    n_planes: int = 16,
    bands: int = 8,
    dim: int = 64,
    round_decimals: int = 3,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (id_a < id_b, cosine >= tau) —
    the embedding member of the dedup family (exact / minhash / simhash /
    n-gram Jaccard / embedding-cosine).

    method='brute': exact all-pairs (broadcast self-join, JVM-side cosine)
    — O(N^2), the correctness oracle and fine for blocked subsets.
    method='lsh': hyperplane-signature band self-join then cosine verify —
    the scale path; recall < 1 by construction (measured vs brute in
    tests), candidates bounded by bucket sizes instead of N^2."""
    # norms hoisted out of the pair stage (HOFs are interpreted; see
    # cosine_from_norms) — N + N aggregates instead of 2x per pair
    c = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
                      norm_col(F.col(vec_col)).alias("na"))
    d = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
                      norm_col(F.col(vec_col)).alias("nb"))
    if method == "brute":
        cand = c.join(F.broadcast(d), F.col("id_a") < F.col("id_b"))
    elif method == "lsh":
        # Banding runs over (id, bucket) ONLY — the round-2 shape shipped
        # both dim-wide vectors through the band explode and the
        # dropDuplicates shuffle (bands x vector bytes per row, measured
        # 85s vs 5s at 5k x 64-dim); vectors are re-joined per surviving
        # candidate pair afterwards.
        sig = hyperplane_sig_udf(n_planes, dim)
        rows = n_planes // bands
        mask = (1 << rows) - 1
        sigs = corpus.select(F.col(id_col).alias("id"), sig(F.col(vec_col)).alias("sig"))
        buckets = sigs.select(
            "id",
            F.explode(F.array(*[
                F.concat(F.lit(f"{i}:"),
                         F.shiftright(F.col("sig"), i * rows)
                         .bitwiseAND(F.lit(mask)).cast("string"))
                for i in range(bands)
            ])).alias("bucket"),
        )
        # lazy localCheckpoint: both sides of the self-join below share ONE
        # materialization of the signature UDF (in the broadcast regime the
        # two join branches otherwise recompute it independently — verified
        # via executedPlan ArrowEvalPython count).  ids+bucket strings only,
        # so the materialized footprint is bands x (8B + ~12B) per vector.
        buckets = buckets.localCheckpoint(eager=False)
        # width the dedup exchange by compute capacity, not bytes (round
        # 7, same fix as candidates.candidate_pairs): the ids-only pair
        # table AQE-coalesces to a couple of partitions, but every pair
        # downstream pays a dim-wide interpreted cosine — explicit width
        # keeps the verify stage parallel; the dropDuplicates reuses the
        # partitioning (still one exchange).
        n_part = (
            corpus.sparkSession.sparkContext.defaultParallelism * 2
        )
        pair_ids = (
            buckets.select(F.col("bucket"), F.col("id").alias("id_a"))
            .join(buckets.select(F.col("bucket"), F.col("id").alias("id_b")), "bucket")
            .where(F.col("id_a") < F.col("id_b"))
            .drop("bucket")
            .repartition(n_part, "id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        cand = pair_ids.join(c, "id_a").join(d, "id_b")
    else:
        raise ValueError(f"unknown method {method!r}")
    return (
        cand.withColumn(
            "cosine",
            F.round(cosine_from_norms(F.col("va"), F.col("vb"),
                                      F.col("na"), F.col("nb")), round_decimals),
        )
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
