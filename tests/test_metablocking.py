"""Meta-blocking (levsim/metablocking.py) — hand-computed comparison
graph, exact-integer weights, and WNP pruning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from levsim.metablocking import comparison_edges, prune_edges_wnp

PPM = 1_000_000


@pytest.fixture(scope="module")
def blocks(spark):
    # b1 = {1,2,3} (3 pairs, w = 1e6//3 = 333333)
    # b2 = {1,2}   (1 pair,  w = 1e6//1 = 1000000)
    # b3 = {2,3,4,5} (6 pairs, w = 1e6//6 = 166666)
    # b4 = {9} singleton -> dropped
    # b5 = oversized (70 members) -> purged at max_block_size=64
    # duplicate assignment (b1,1) must not double-count
    rows = (
        [("b1", i) for i in (1, 2, 3)]
        + [("b1", 1)]
        + [("b2", i) for i in (1, 2)]
        + [("b3", i) for i in (2, 3, 4, 5)]
        + [("b4", 9)]
        + [("b5", 100 + i) for i in range(70)]
    )
    return spark.createDataFrame(rows, "block_key string, doc_id long")


@pytest.fixture(scope="module")
def edges(blocks):
    return comparison_edges(blocks, max_block_size=64)


def _emap(df):
    return {
        (r["id_a"], r["id_b"]): (r["cbs"], r["arcs_ppm"]) for r in df.collect()
    }


def test_edge_weights_hand_computed(edges):
    got = _emap(edges)
    assert got == {
        (1, 2): (2, 333333 + 1000000),
        (1, 3): (1, 333333),
        (2, 3): (2, 333333 + 166666),
        (2, 4): (1, 166666),
        (2, 5): (1, 166666),
        (3, 4): (1, 166666),
        (3, 5): (1, 166666),
        (4, 5): (1, 166666),
    }


def test_purge_and_singleton(blocks):
    # without the size cap the 70-member block contributes 70*69/2 edges
    uncapped = comparison_edges(blocks, max_block_size=None)
    assert uncapped.count() == 8 + 70 * 69 // 2
    # node 9's singleton block emits nothing either way
    assert uncapped.where((F.col("id_a") == 9) | (F.col("id_b") == 9)).count() == 0


def test_wnp_hand_computed(edges):
    # arcs weights: (1,2)=1333333 (1,3)=333333 (2,3)=499999, rest 166666
    # node sums/degs: 1:(1666666,2) 2:(2166664,4) 3:(1166664,4)
    #                 4:(499998,3) 5:(499998,3)
    # keep iff w*deg >= sum on either endpoint:
    # (1,2): 1333333*2 >= 1666666 (node1) -> keep
    # (1,3): 333333*2 < 1666666; 333333*4 = 1333332 > 1166664 -> keep
    # (2,3): 499999*4 < 2166664; 499999*4 = 1999996 >= 1166664 -> keep
    # (2,4): 166666*4 < 2166664; 166666*3 = 499998 >= 499998 -> keep
    # similarly every 166666 edge touches a {4,5}-side node at its mean
    kept = set(_emap(prune_edges_wnp(edges, "arcs_ppm")))
    assert kept == {
        (1, 2), (1, 3), (2, 3), (2, 4), (2, 5), (3, 4), (3, 5), (4, 5)
    }


def test_wnp_drops_weak_edges(spark):
    # star: hub 1 has one strong edge (cbs 5) and two weak (cbs 1);
    # leaves have degree 1 so every edge passes its leaf threshold --
    # attach the weak leaves to a second strong edge to give them a
    # real neighborhood, then the weak edges must drop
    rows = [
        (1, 2, 5), (1, 3, 1), (1, 4, 1),
        (3, 5, 9), (4, 5, 9),
    ]
    edges = spark.createDataFrame(rows, "id_a long, id_b long, cbs long")
    kept = {(r["id_a"], r["id_b"]) for r in prune_edges_wnp(edges, "cbs").collect()}
    assert (1, 3) not in kept and (1, 4) not in kept
    assert {(1, 2), (3, 5), (4, 5)} <= kept


def test_schema_and_columns(edges):
    assert edges.columns == ["id_a", "id_b", "cbs", "arcs_ppm"]
    assert [f.dataType.simpleString() for f in edges.schema.fields] == [
        "bigint", "bigint", "bigint", "bigint"
    ]
