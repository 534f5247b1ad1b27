"""Connected components: the single-task union-find and the distributed
large-star/small-star reference must both equal a pure-Python BFS on every
graph shape: random, path (worst case), cliques, loops, dups, string ids,
any input partitioning."""

from __future__ import annotations

import random
from collections import defaultdict

import pytest

from levsim.clustering import connected_components, connected_components_star


def _labels(df):
    return {r.doc_id: r.cluster_id for r in df.collect()}


def bfs_components(edge_list):
    """Reference: node -> component minimum, by BFS over an adjacency map.
    Every endpoint is a node, a self-loop's too."""
    adj = defaultdict(set)
    for a, b in edge_list:
        adj[a].add(b)
        adj[b].add(a)
    label = {}
    for start in adj:
        if start in label:
            continue
        comp, frontier = {start}, [start]
        while frontier:
            frontier = [v for u in frontier for v in adj[u] if v not in comp]
            comp.update(frontier)
        root = min(comp)
        label.update((v, root) for v in comp)
    return label


def _check(spark, edge_list, schema=None):
    e = spark.createDataFrame(edge_list, schema or ["id_a", "id_b"])
    a = _labels(connected_components(e))
    b = _labels(connected_components_star(e))
    assert a == b, (sorted(a.items())[:10], sorted(b.items())[:10])
    assert a == bfs_components(edge_list)
    return b


def test_star_cc_path_graph(spark):
    # 200-node chain: the high-diameter worst case LS/SS exists for
    got = _check(spark, [(i, i + 1) for i in range(200)])
    assert set(got.values()) == {0}


def test_star_cc_cliques_and_singleton_edges(spark):
    edges = []
    for base in (0, 100, 200):
        ids = list(range(base, base + 6))
        edges += [(a, b) for a in ids for b in ids if a < b]
    edges += [(500, 501)]
    got = _check(spark, edges)
    assert got[205] == 200 and got[501] == 500


def test_star_cc_self_loops_dups_reversed(spark):
    got = _check(spark, [(1, 2), (2, 1), (1, 2), (3, 3), (2, 4)])
    assert got[4] == 1
    # (3,3) self loop: node isolated -> own component
    assert got.get(3, 3) == 3


def test_star_cc_random_graphs(spark):
    rng = random.Random(11)
    for trial in range(3):
        n = 120
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(90)]
        edges = [e for e in edges if e[0] != e[1]]
        _check(spark, edges)


def test_cc_long_path_graph(spark):
    # 2,000-node chain in shuffled edge order: the worst case for any
    # round-based CC (a round cap would split it) and for union-find
    # without path compression (deep trees)
    edges = [(i, i + 1) for i in range(2000)]
    random.Random(3).shuffle(edges)
    got = _check(spark, edges)
    assert len(got) == 2001 and set(got.values()) == {0}


def test_cc_string_ids(spark):
    # URL-like ids: component minimum is the lexicographic (UTF-8 byte
    # order) minimum, the same in Spark, Python and both algorithms
    rng = random.Random(5)
    urls = [f"https://h{rng.randrange(9)}.example/p/{i:03d}?q=\u00e9{i % 7}" for i in range(150)]
    edges = [(rng.choice(urls), rng.choice(urls)) for _ in range(120)]
    got = _check(spark, edges, "id_a string, id_b string")
    assert all(isinstance(v, str) for v in got.values())


def test_cc_long_ids_beyond_int32(spark):
    base = 1 << 40
    edges = [(base + 3, base + 1), (base + 1, 7), (9, base + 9)]
    got = _check(spark, edges, "id_a long, id_b long")
    assert got[base + 3] == 7 and got[base + 9] == 9


def test_cc_labels_independent_of_input_partitioning(spark):
    rng = random.Random(13)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(260)]
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    one = _labels(connected_components(e.repartition(1)))
    seven = _labels(connected_components(e.repartition(7)))
    assert one == seven == bfs_components(edges)


def test_cc_runs_in_at_most_two_jobs(spark):
    # one exchange to a single partition + the union-find task: a per-round
    # algorithm (a job or more per round) fails this on any real graph
    sc = spark.sparkContext
    e = spark.createDataFrame([(i, i + 1) for i in range(500)], "id_a long, id_b long")
    sc.setJobGroup("test_cc_jobs", "connected_components job count")
    try:
        rows = connected_components(e).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("test_cc_jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) == 501
    assert 1 <= len(jobs) <= 2, jobs


def test_star_cc_fails_loudly_when_not_converged(spark):
    e = spark.createDataFrame([(i, i + 1) for i in range(200)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(e, max_iter=2)


def test_blocking_quality_exact_counts(spark):
    from levsim.evaluate import blocking_quality

    # 5 records; candidates keep 4 pairs of C(5,2)=10; truth has 3 pairs,
    # 2 of them retained by the blocking
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 5)], "id_a long, id_b long")
    truth = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a long, id_b long")
    r = blocking_quality(cand, truth, 5).collect()[0]
    assert (r.total_pairs, r.n_cand, r.n_truth, r.found) == (10, 4, 3, 2)
    assert r.pc_ppm == (1_000_000 * 2) // 3
    assert r.pq_ppm == 500_000
    assert r.rr_ppm == 600_000


def test_blocking_quality_dedupes_inputs(spark):
    from levsim.evaluate import blocking_quality

    cand = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 3)], "id_a long, id_b long")
    truth = spark.createDataFrame(
        [(1, 2), (1, 2)], "id_a long, id_b long")
    r = blocking_quality(cand, truth, 3).collect()[0]
    assert (r.n_cand, r.n_truth, r.found) == (2, 1, 1)
    assert r.pc_ppm == 1_000_000
