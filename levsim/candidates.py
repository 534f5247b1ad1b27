"""Candidate-pair generation: grouped blocks with skew capping and
multi-pass dedup.

Scale analysis (the part that must survive 100 TB):
- A block is one row of grouped ids, not a self-join (the SparkER shape,
  EDBT 2019): ``groupBy(block_key)`` gives each block its size and ids, and
  the ``id_a < id_b`` pairs come out of a sorted id array through JVM
  higher-order functions.  Every step has one consumer, so nothing is
  materialised to be shared and a lost executor costs a recompute.
- A block of size s contributes s*(s-1)/2 pairs — quadratic.  Oversized
  blocks are SALTED: a block of size s > cap is split into ceil(s/cap)
  salt groups by a deterministic content hash (``xxhash64(doc_id)``), and
  pairs are emitted only within a salt group.  This bounds the per-group
  array and its fan-out regardless of key skew.  Trade-off: salting drops
  cross-salt-group pairs inside mega-blocks — exactly the standard ER
  compromise (mega-blocks are near-useless keys like empty host; recall is
  recovered by the other blocking passes).  The salt regroup keeps
  ``block_key`` in its key, so it reuses the first exchange.
- Pairs from different passes are deduped with ONE groupBy on
  (id_a, id_b) — partial aggregation (map-side combine) keeps the shuffle
  proportional to distinct pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def candidate_pairs(
    blocks: DataFrame,
    max_block_size: int = 200,
    keep_pass_provenance: bool = True,
    drop_block_size: int | None = None,
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
    # one groupBy per block: its size, its pass (keys are pass-namespaced,
    # so min() is the only pass) and its ids.  Never broadcast: at web
    # scale there are ~10^10 distinct keys.
    b = blocks.groupBy("block_key").agg(
        F.count("*").alias("bsize"),
        F.min("block_pass").alias("block_pass"),
        F.collect_list("doc_id").alias("ids"),
    ).where(F.col("bsize") > 1)
    if drop_block_size is not None:
        b = b.where(F.col("bsize") <= drop_block_size)
    # deterministic salt: content hash of doc_id, bucketed by how many salt
    # groups this block needs.  n_salt=1 for normal blocks (no-op).  The
    # second groupBy keeps block_key in its key, so the block_key hash
    # partitioning above already satisfies it: no second exchange.
    n_salt = F.ceil(F.col("bsize") / F.lit(max_block_size)).cast("int")
    groups = (
        b.select("block_key", "block_pass", n_salt.alias("n_salt"),
                 F.explode("ids").alias("doc_id"))
        .withColumn("salt", F.pmod(F.xxhash64("doc_id"), F.col("n_salt")).cast("int"))
        .groupBy("block_key", "block_pass", "salt")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    # every id_a < id_b pair of a sorted, distinct id array, JVM-side
    pairs = groups.select(
        "block_key", "block_pass",
        F.inline(F.expr(
            "flatten(transform(sequence(0, size(ids) - 2), i -> "
            "transform(slice(ids, i + 2, size(ids)), "
            "y -> named_struct('id_a', ids[i], 'id_b', y))))")),
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
    # Scale-adaptive: derives from the cluster's total cores.
    n_part = pairs.sparkSession.sparkContext.defaultParallelism * 2
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
