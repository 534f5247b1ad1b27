"""Parallel pivot (KwikCluster) correlation clustering: the distributed
peel must equal the SEQUENTIAL greedy under the same md5 permutation
(CDK'14's equivalence theorem, property-tested here), respect direct
similarity only (no transitive bridge merges), and expose the bounded
exact_rounds state the SQL oracle replays."""

from __future__ import annotations

import hashlib
import random
from collections import defaultdict

import pytest

from levsim.clustering import pivot_clustering


def _rank(v, seed=42):
    h = hashlib.md5(f"{v}:{seed}".encode()).hexdigest()[:15]
    return (int(h, 16), v)


def kwik_sequential(edge_list, seed=42):
    """Reference: greedy KwikCluster in permutation order (driver-side)."""
    adj = defaultdict(set)
    nodes = set()
    for a, b in edge_list:
        nodes.add(a)
        nodes.add(b)
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    label = {}
    for v in sorted(nodes, key=lambda x: _rank(x, seed)):
        if v in label:
            continue
        label[v] = v
        for u in adj[v]:
            if u not in label:
                label[u] = v
    return label


def _spark_labels(spark, edge_list, **kw):
    e = spark.createDataFrame(edge_list, ["id_a", "id_b"])
    out = pivot_clustering(e, **kw).collect()
    return {r.doc_id: r.cluster_id for r in out}, out


def test_pivot_equals_sequential_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(4):
        n = 100 + 20 * trial
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(2 * n)]
        got, _ = _spark_labels(spark, edges)
        want = kwik_sequential(edges)
        assert got == want, (trial, sorted(got.items())[:5], sorted(want.items())[:5])


def test_pivot_path_and_clique(spark):
    # path: pivots are permutation local minima; clique: single cluster at
    # the global min-rank node — both must match sequential exactly
    path = [(i, i + 1) for i in range(60)]
    got, _ = _spark_labels(spark, path)
    assert got == kwik_sequential(path)

    clique = [(a, b) for a in range(8) for b in range(8) if a < b]
    got, _ = _spark_labels(spark, clique)
    pivot = min(range(8), key=_rank)
    assert set(got.values()) == {pivot}


def test_pivot_respects_negative_evidence(spark):
    # star: hub 0 similar to 1..6, leaves not similar to each other.
    # transitive closure would fuse all 7; pivot clustering puts the hub
    # with ONE pivot's cluster and leaves the rest separate unless the hub
    # itself pivots first.
    star = [(0, i) for i in range(1, 7)]
    got, _ = _spark_labels(spark, star)
    assert got == kwik_sequential(star)
    n_clusters = len(set(got.values()))
    hub_first = min(range(7), key=_rank) == 0
    assert n_clusters == (1 if hub_first else 6)


def test_pivot_self_loops_dups_reversed(spark):
    edges = [(1, 2), (2, 1), (1, 2), (3, 3), (2, 4)]
    got, _ = _spark_labels(spark, edges)
    assert got == kwik_sequential(edges)


def test_pivot_exact_rounds_state(spark):
    rng = random.Random(13)
    edges = [(rng.randrange(80), rng.randrange(80)) for _ in range(150)]
    edges = [e for e in edges if e[0] != e[1]]
    # run-to-completion rounds recorded per node
    full, rows = _spark_labels(spark, edges)
    max_round = max(r.assigned_round for r in rows)
    # truncated run: everything assigned by round 1 matches; later nodes NULL
    got1, rows1 = _spark_labels(spark, edges, exact_rounds=1)
    by_full = {r.doc_id: r for r in rows}
    for r in rows1:
        if by_full[r.doc_id].assigned_round == 1:
            assert r.cluster_id == by_full[r.doc_id].cluster_id
            assert r.assigned_round == 1
        else:
            assert r.cluster_id is None and r.assigned_round is None
    # over-provisioned exact_rounds equals the converged labels
    gotN, _ = _spark_labels(spark, edges, exact_rounds=max_round + 2)
    assert gotN == full


def test_pivot_seed_changes_permutation(spark):
    edges = [(i, i + 1) for i in range(40)]
    a, _ = _spark_labels(spark, edges, rank_seed=42)
    b, _ = _spark_labels(spark, edges, rank_seed=7)
    assert a == kwik_sequential(edges, 42)
    assert b == kwik_sequential(edges, 7)
    assert a != b  # 40-node path: different permutations, different pivots


# ---------------------------------------------------------------------------
# cluster_edge_stats + clustering_disagreement_cost (hand-computed)
# ---------------------------------------------------------------------------


def test_cluster_edge_stats_and_cost(spark):
    from levsim.clustering import cluster_edge_stats, clustering_disagreement_cost

    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (9, 9)],
        ["doc_id", "cluster_id"],
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (2, 1), (5, 4)],  # dups/reversed collapse
        ["id_a", "id_b"],
    )
    st = {r.cluster_id: r for r in cluster_edge_stats(comps, edges).collect()}
    assert st[1].n_nodes == 3 and st[1].n_edges_within == 2
    assert st[1].n_edges_out == 1 and st[1].density_ppm == (2 * 1_000_000 * 2) // 6
    assert st[4].n_nodes == 2 and st[4].n_edges_within == 1
    assert st[4].n_edges_out == 1 and st[4].density_ppm == 1_000_000
    assert st[9].n_nodes == 1 and st[9].n_edges_within == 0
    assert st[9].n_edges_out == 0 and st[9].density_ppm is None

    cost = clustering_disagreement_cost(comps, edges).collect()[0]
    assert cost.n_clusters == 3 and cost.n_nodes == 6
    assert cost.intra_pairs == 3 + 1 + 0
    assert cost.intra_edges == 3 and cost.intra_missing == 1
    assert cost.inter_edges == 1 and cost.disagreements == 2


def test_pivot_beats_cc_on_bridge_graph(spark):
    from levsim.clustering import (
        clustering_disagreement_cost,
        connected_components,
        pivot_clustering,
    )

    # two 5-cliques joined by ONE bridge edge: transitive closure fuses
    # them (intra_missing explodes); pivot keeps them apart and pays only
    # the bridge disagreement
    edges = [(a, b) for a in range(5) for b in range(5) if a < b]
    edges += [(a, b) for a in range(10, 15) for b in range(10, 15) if a < b]
    edges += [(4, 10)]
    e = spark.createDataFrame(edges, ["id_a", "id_b"])

    cc = connected_components(e).select("doc_id", "cluster_id")
    pc = pivot_clustering(e).select("doc_id", "cluster_id")
    cost_cc = clustering_disagreement_cost(cc, e).collect()[0].disagreements
    cost_pc = clustering_disagreement_cost(pc, e).collect()[0].disagreements
    # CC: one 10-node cluster -> 45 pairs, 21 edges -> 24 disagreements.
    assert cost_cc == 24
    # pivot respects the non-edges; on this graph it pays far less
    assert cost_pc < cost_cc


def test_pivot_fails_loudly_when_not_finished(spark):
    # one round leaves 36 of a 200-node path unassigned: raise, never
    # return NULL cluster_ids
    e = spark.createDataFrame([(i, i + 1) for i in range(200)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="did not finish"):
        pivot_clustering(e, max_rounds=1)
