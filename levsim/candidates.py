"""Candidate-pair generation: block self-join with skew capping and
multi-pass dedup.

Scale analysis (the part that must survive 100 TB):
- A block of size s contributes s*(s-1)/2 pairs — quadratic.  Before the
  self-join we compute block sizes (one cheap aggregate) and SALT oversized
  blocks: a block of size s > cap is split into ceil(s/cap) salt groups by a
  deterministic content hash, so each salted sub-block joins only within
  itself.  This bounds per-task join fan-out regardless of key skew (the
  north rule's "salted skew keys"); AQE skew-join splitting handles the
  residual imbalance.  Trade-off: salting drops cross-salt-group pairs
  inside mega-blocks — exactly the standard ER compromise (mega-blocks are
  near-useless keys like empty host; recall is recovered by the other
  blocking passes).
- Pairs from different passes are deduped with ONE dropDuplicates on
  (id_a, id_b) — partial aggregation (map-side combine) keeps the shuffle
  proportional to distinct pairs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def candidate_pairs(
    blocks: DataFrame,
    max_block_size: int = 200,
    keep_pass_provenance: bool = True,
    drop_block_size: int | None = None,
    share_blocks: bool = True,
    extra_pairs: DataFrame | None = None,
) -> DataFrame:
    """blocks(doc_id, block_pass, block_key) -> pairs(id_a, id_b[, block_key, block_pass]).

    id_a < id_b canonical order; one row per distinct pair.

    ``drop_block_size``: stop-key removal — keys whose block exceeds this
    size are dropped entirely instead of salted.

    ``extra_pairs``: pre-built candidate pairs from non-equality passes
    (e.g. sorted-neighborhood, ``blocking.sorted_neighborhood_pairs``) with
    columns (id_a, id_b, block_pass, block_key); unioned before the
    cross-pass dedup so provenance resolution and downstream stages see
    one uniform pair set.  Order is canonicalized here (SNM emits
    rank-ordered, not id-ordered, pairs).  A key shared by 10^5+
    docs (blogspot.com-style mega hosts) discriminates nothing: nearly all
    its pairs are junk that the scorer must then reject, and recall for
    true duplicates inside it is carried by the content-based passes
    (minhash bands, tokensort).  Salting (``max_block_size``) remains the
    bound for merely-large-but-useful keys below the drop threshold.
    """
    # block sizes via a window over the SAME block_key shuffle the join
    # needs anyway — no aggregate round-trip, and crucially no broadcast:
    # at web scale the size map has ~10^10 distinct keys and can never be
    # broadcast (driver OOM); a window count stays fully distributed
    from pyspark.sql import Window

    w = Window.partitionBy("block_key")
    b = blocks.withColumn("bsize", F.count("*").over(w)).where(F.col("bsize") > 1)
    if drop_block_size is not None:
        b = b.where(F.col("bsize") <= drop_block_size)
    # deterministic salt: content hash of doc_id, bucketed by how many salt
    # groups this block needs.  n_salt=1 for normal blocks (no-op).
    b = b.withColumn(
        "n_salt", F.ceil(F.col("bsize") / F.lit(max_block_size)).cast("int")
    ).withColumn(
        "salt", F.pmod(F.xxhash64(F.col("doc_id")), F.col("n_salt")).cast("int")
    ).withColumn(
        "join_key", F.concat_ws("#", F.col("block_key"), F.col("salt"))
    )
    if share_blocks:
        # one materialization of the keyed/salted table for BOTH self-join
        # branches: in the broadcast regime the two sides otherwise
        # recompute the band-key UDF and the size window independently
        # (ReuseExchange only dedups identical shuffled-join exchanges —
        # verified via executedPlan ArrowEval/Window counts).  Rows are
        # ids + key strings only, never text, so the footprint is the same
        # data the join shuffle would spill anyway.  Set share_blocks=False
        # on a real cluster to keep full lineage-based fault recovery and
        # let exchange reuse do the deduplication in the SMJ regime.
        b = b.localCheckpoint(eager=False)
    left = b.select(
        F.col("join_key"),
        F.col("doc_id").alias("id_a"),
        F.col("block_key"),
        F.col("block_pass"),
    )
    right = b.select(F.col("join_key"), F.col("doc_id").alias("id_b"))
    pairs = (
        left.join(right, "join_key")
        .where(F.col("id_a") < F.col("id_b"))
        .drop("join_key")
    )
    if extra_pairs is not None:
        ep = extra_pairs.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "block_pass",
            "block_key",
        ).where(F.col("id_a") != F.col("id_b"))
        pairs = pairs.unionByName(ep)
    # Partition the pair table by COMPUTE CAPACITY, not shuffle bytes
    # (round 7): candidate pairs always feed a per-pair scoring stage
    # (text join + Arrow kernel crossing) whose cost per byte dwarfs the
    # shuffle, but AQE sizes the dedup exchange by bytes — an ids-only
    # pair table coalesces to a handful of partitions and the downstream
    # scoring stage runs nearly serial (measured: q3 verify ran in 3
    # AQE-coalesced tasks, 4.2s -> 2.7s with this exchange at 2x cores).
    # The explicit width is user-specified, so AQE leaves it alone; the
    # dedup groupBy reuses it partition-locally (still ONE exchange).
    # Scale-adaptive: derives from the cluster's total cores; override
    # with LEVSIM_PAIR_PARTITIONS where pair volume demands byte-based
    # sizing instead.
    n_part = int(os.environ.get("LEVSIM_PAIR_PARTITIONS", "0")) or (
        pairs.sparkSession.sparkContext.defaultParallelism * 2
    )
    pairs = pairs.repartition(n_part, "id_a", "id_b")
    if keep_pass_provenance:
        # keep one provenance row per pair: lexicographically first pass/key
        pairs = pairs.groupBy("id_a", "id_b").agg(
            F.min(F.struct("block_pass", "block_key")).alias("prov")
        ).select("id_a", "id_b", F.col("prov.block_pass").alias("block_pass"),
                 F.col("prov.block_key").alias("block_key"))
    else:
        pairs = pairs.select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])
    return pairs
