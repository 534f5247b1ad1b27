"""Meta-blocking: weight and prune the comparison graph induced by a
(multi-pass) blocking assignment before any pair is scored (Papadakis,
Koutrika, Palpanas, Nejdl 2014, "Meta-Blocking: Taking Entity Resolution
to the Next Level", TKDE; schemes CBS/ARCS weighting + WNP pruning).

Why this is a first-class 100 TB operator: redundancy-positive blocking
(host keys + MinHash bands + prefixes, unioned) deliberately assigns
each record to many blocks, so the SAME pair surfaces in many blocks and
low-information blocks surface mostly noise pairs.  Meta-blocking turns
that redundancy into signal — a pair shared by many small blocks is far
likelier to match than a pair co-occurring once in a huge block — and
prunes the candidate set BEFORE the expensive Arrow scoring crossing,
typically by 5-20x at equal recall.  Every stage here is a bounded
relational op:

* edge building = a self-join of the deduped block table on the block
  key (``max_block_size`` purges oversized blocks first), then ONE
  groupBy (id_a, id_b) with map-side partial aggregation — the edge
  multiset never materializes per-block duplicates beyond the shuffle.
* WNP thresholds are pure aggregates; the node-centric test is
  expressed as ``w * degree >= sum_w`` (cross-multiplication), so the
  whole path stays in exact BIGINT arithmetic — no float thresholds, a
  DuckDB oracle replays every kept edge bit-for-bit.

Weights (exact integers):
  cbs      = number of blocks the pair co-occurs in (Common Blocks).
  arcs_ppm = sum over common blocks of 1e6 div ||block||_pairs, where
             ||b||_pairs = |b|*(|b|-1)/2 (Aggregate Reciprocal
             Comparisons, ppm-quantized floor div — small blocks count
             for more).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "comparison_edges",
    "prune_edges_wnp",
]

_PPM = 1_000_000


def comparison_edges(
    blocks: DataFrame,
    id_col: str = "doc_id",
    key_col: str = "block_key",
    max_block_size: int | None = None,
) -> DataFrame:
    """(id_a, id_b, cbs, arcs_ppm) for every distinct co-blocked pair.

    ``blocks`` holds one row per (block key, member id); duplicate
    assignments within a block are collapsed first so cbs counts
    BLOCKS, not assignment rows.  ``max_block_size`` drops oversized
    blocks entirely (the standard block-purging pre-pass; oversized
    blocks are pure noise and quadratic cost).

    Plan shape (round-7): ONE exchange builds the weighted block table —
    ``repartition(_bk)`` clusters each block into a single partition, so
    the dedup aggregate AND the size window both run exchange-free on
    top of it (HashPartitioning(_bk) satisfies both distributions); the
    old groupBy(sizes)+join round-trip recomputed the distinct twice and
    added two more exchanges.  The table is then materialized once (lazy
    localCheckpoint) for BOTH self-join branches: in the broadcast regime
    the two sides otherwise recompute union+dedup+window independently
    (measured 16.4s -> 2.2s on the round-7 q10 bench, identical edges).
    """
    b = (
        blocks.select(F.col(key_col).alias("_bk"), F.col(id_col).alias("_id"))
        .repartition("_bk")
        .dropDuplicates(["_bk", "_id"])
    )
    b = b.withColumn(
        "_bsz", F.count("*").over(Window.partitionBy("_bk")).cast("long")
    )
    # singleton blocks emit no pairs AND would zero the ||b||_pairs
    # divisor (ANSI div-by-zero) — drop them before the weight column
    b = b.where(F.col("_bsz") >= 2)
    if max_block_size is not None:
        b = b.where(F.col("_bsz") <= int(max_block_size))
    b = b.withColumn(
        "_w_ppm",
        F.expr(f"cast({_PPM} as bigint) div (_bsz * (_bsz - 1) div 2)"),
    )
    b = b.localCheckpoint(eager=False)
    lhs = b.select("_bk", F.col("_id").alias("id_a"), "_w_ppm")
    rhs = b.select("_bk", F.col("_id").alias("id_b"))
    return (
        lhs.join(rhs, "_bk")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count("*").cast("long").alias("cbs"),
            F.sum("_w_ppm").cast("long").alias("arcs_ppm"),
        )
    )


def prune_edges_wnp(edges: DataFrame, weight_col: str = "cbs") -> DataFrame:
    """Weighted Node Neighborhood Pruning: keep an edge iff its weight
    reaches the mean weight of AT LEAST ONE endpoint's neighborhood
    (the redefined WNP of Papadakis et al. 2014 §5.2).

    Node thresholds come from ONE groupBy over the exploded endpoints;
    the comparison is ``w * degree >= sum_w`` per endpoint, all BIGINT.

    ``edges`` feeds three consumers (the endpoint explode and both join
    probes) and ``node_stats`` two (the a/b threshold sides); each gets
    one lazy localCheckpoint so the upstream edge build and the node
    aggregate run exactly once instead of 3x/2x (round-7 shared-subtree
    materialization; locally measured neutral at sf0.1 — the win is the
    avoided recompute of the block self-join at scale).
    """
    edges = edges.localCheckpoint(eager=False)
    ends = edges.select(
        F.explode(F.array("id_a", "id_b")).alias("_node"),
        F.col(weight_col).alias("_w"),
    )
    node_stats = ends.groupBy("_node").agg(
        F.sum("_w").cast("long").alias("_sw"),
        F.count("*").cast("long").alias("_deg"),
    ).localCheckpoint(eager=False)
    a = node_stats.select(
        F.col("_node").alias("id_a"),
        F.col("_sw").alias("_sw_a"),
        F.col("_deg").alias("_deg_a"),
    )
    bb = node_stats.select(
        F.col("_node").alias("id_b"),
        F.col("_sw").alias("_sw_b"),
        F.col("_deg").alias("_deg_b"),
    )
    w = F.col(weight_col)
    return (
        edges.join(a, "id_a")
        .join(bb, "id_b")
        .where(
            (w * F.col("_deg_a") >= F.col("_sw_a"))
            | (w * F.col("_deg_b") >= F.col("_sw_b"))
        )
        .drop("_sw_a", "_deg_a", "_sw_b", "_deg_b")
        .select(*edges.columns)
    )
