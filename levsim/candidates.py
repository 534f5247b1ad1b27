"""Candidate-pair generation: grouped blocks with a rank cap and
multi-pass dedup — the one pair rule of the batch pipeline and the
catch-up (``streaming.run_incremental_pairs``).

Scale analysis (the part that must survive 100 TB):
- A block is one row of grouped ids, not a self-join (the SparkER shape,
  EDBT 2019): ``groupBy(block_key)`` gives each block its pass, its latest
  batch and its ranked distinct ids, and the pairs come out of that array
  through JVM higher-order functions.  Every step has one consumer, so
  nothing is materialised to be shared and a lost executor costs a
  recompute.
- A block of size s contributes s*(s-1)/2 pairs — quadratic.  The RANK CAP
  bounds it: a key ranks its distinct rows by (batch, doc_id) and admits
  only the ``max_block_size`` first, so its fan-out is at most
  cap*(cap-1)/2 pairs whatever the key skew.  Trade-off: the ids above the
  cap get no pairs from that key — SparkER's block purging; mega-blocks
  are near-useless keys like a blogspot-style host, and recall is
  recovered by the other blocking passes.  A key's id list is one array
  in one task.
- A pair is emitted by its later-ranked member, and only when that member
  is in the key's latest batch: a catch-up passes the key-table rows of
  the keys its batch touched and gets exactly the pairs the batch unlocks.
  Rows without a ``batch`` column are batch 0, so over one landing every
  admitted pair comes out.
- Pairs from different passes are deduped with ONE groupBy on
  (id_a, id_b) — partial aggregation (map-side combine) keeps the shuffle
  proportional to distinct pairs.  AQE sizes that exchange by bytes, so
  an ids-only pair set comes out in few partitions (a catch-up's pair log
  is one file per batch); a caller that scores or verifies the pairs
  sets the width where it attaches the texts (the pipeline's scores stage
  widens pairs by id_a).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# the per-key cap of the pipeline (``ERConfig``) and the catch-up
MAX_BLOCK_SIZE = 200


def candidate_pairs(
    blocks: DataFrame,
    max_block_size: int = MAX_BLOCK_SIZE,
    keep_pass_provenance: bool = True,
) -> DataFrame:
    """blocks(doc_id, block_pass, block_key[, batch]) -> pairs(id_a, id_b[, block_pass, block_key]).

    id_a < id_b canonical order; one row per distinct pair.  A key ranks
    its distinct (batch, doc_id) rows and pairs each of its first
    ``max_block_size`` that is in the key's latest batch with every row
    ranked before it; ``batch`` defaults to 0.
    """
    batch = F.col("batch") if "batch" in blocks.columns else F.lit(0)
    # one groupBy per block: its pass (keys are pass-namespaced, so min()
    # is the only pass), its latest batch and its capped ranked rows.
    # Never broadcast: at web scale there are ~10^10 distinct keys.  A key
    # of one row goes, so sequence(1, size - 1) below is never descending;
    # a NULL id (a page without url) is dropped, as collect_set drops it.
    groups = blocks.where(F.col("doc_id").isNotNull()).groupBy("block_key").agg(
        F.min("block_pass").alias("block_pass"),
        F.max(batch).alias("last"),
        F.slice(F.array_sort(F.collect_set(F.struct(batch.alias("batch"), "doc_id"))),
                1, max_block_size).alias("ids"),
    ).where(F.size("ids") > 1)
    # each row y of the latest batch pairs with every row ranked before it,
    # JVM-side; an old id can sort after a new one, hence least/greatest
    pairs = groups.select(
        "block_key", "block_pass",
        F.inline(F.expr(
            "flatten(transform(filter(sequence(1, size(ids) - 1), j -> ids[j].batch = last), "
            "j -> transform(slice(ids, 1, j), x -> named_struct("
            "'id_a', least(x.doc_id, ids[j].doc_id), "
            "'id_b', greatest(x.doc_id, ids[j].doc_id)))))")),
    )
    if keep_pass_provenance:
        # keep one provenance row per pair: lexicographically first pass/key
        pairs = pairs.groupBy("id_a", "id_b").agg(
            F.min(F.struct("block_pass", "block_key")).alias("prov")
        ).select("id_a", "id_b", F.col("prov.block_pass").alias("block_pass"),
                 F.col("prov.block_key").alias("block_key"))
    else:
        pairs = pairs.select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])
    return pairs
