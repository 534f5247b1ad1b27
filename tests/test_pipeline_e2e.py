"""End-to-end ER pipeline gates (SURVEY.md M4/M5):
- pairwise F1 >= 0.99 against ground truth on the synthetic pages corpus
- checkpoint-resume: rerun skips completed stages, identical outputs
- clustering correctness on a hand-built graph
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from levsim import clustering, evaluate, tables
from levsim.pipeline import ERConfig, ERPipeline


@pytest.fixture(scope="module")
def pages(spark):
    return tables.generate_pages(spark, n_entities=120, seed=42).cache()


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 8), (8, 9), (9, 1)], ["id_a", "id_b"]
    )
    comps = {r.doc_id: r.cluster_id for r in clustering.connected_components(edges).collect()}
    # {1,2,3,7,8,9} one component, {5,6} another
    assert comps[1] == comps[2] == comps[3] == comps[7] == comps[8] == comps[9] == 1
    assert comps[5] == comps[6] == 5


def test_pipeline_f1(spark, pages, tmp_path):
    pipe = ERPipeline(spark, str(tmp_path / "er"), ERConfig(tau=0.87))
    run = pipe.run(pages)
    predicted = evaluate.pairs_from_clusters(run.clusters, id_col="url")
    truth = evaluate.truth_pairs_from_entities(pages, id_col="url")
    m = evaluate.pair_f1(predicted, truth)
    print("pipeline F1 metrics:", m)
    assert m["f1"] >= 0.99, m


def test_pair_f1_counts(spark):
    """tp/fp/fn are set counts: duplicates ignored, a NULL id matches nothing."""
    schema = "id_a string, id_b string"
    pred = spark.createDataFrame([("a", "b"), ("a", "b"), ("a", "c"), (None, "d")], schema)
    truth = spark.createDataFrame([("a", "b"), ("b", "c"), ("b", "c"), (None, "d")], schema)
    m = evaluate.pair_f1(pred, truth)
    assert (m["tp"], m["fp"], m["fn"]) == (1, 2, 2)
    assert m["precision"] == m["recall"] == pytest.approx(1 / 3)
    empty = spark.createDataFrame([], schema)
    assert evaluate.pair_f1(empty, empty) == {"tp": 0, "fp": 0, "fn": 0, "precision": 1.0,
                                              "recall": 1.0, "f1": 1.0}


def test_pipeline_resume(spark, pages, tmp_path):
    # resume keys on the input files, so the pages come from a parquet copy
    # (an in-memory DataFrame never resumes)
    pages.write.parquet(str(tmp_path / "pages"))
    pages = spark.read.parquet(str(tmp_path / "pages"))
    wd = str(tmp_path / "er2")
    pipe1 = ERPipeline(spark, wd, ERConfig(tau=0.87))
    run1 = pipe1.run(pages)
    assert all(not s.skipped for s in run1.stages)
    reps1 = {r.cluster_id: r.representative for r in run1.representatives.collect()}

    # second run over the same input: every stage must be skipped (resume),
    # outputs byte-identical
    pipe2 = ERPipeline(spark, wd, ERConfig(tau=0.87))
    run2 = pipe2.run(pages)
    assert all(s.skipped for s in run2.stages), [(s.stage, s.skipped) for s in run2.stages]
    reps2 = {r.cluster_id: r.representative for r in run2.representatives.collect()}
    assert reps1 == reps2

    # changed config -> new snapshot ids -> recompute (no false cache hits)
    pipe3 = ERPipeline(spark, wd, ERConfig(tau=0.95))
    run3 = pipe3.run(pages)
    assert any(not s.skipped for s in run3.stages)


def test_pipeline_new_input_same_workdir_recomputes(spark, tmp_path):
    # regression: a second run on DIFFERENT pages in the same workdir used
    # to resume every stage and return the first run's clusters
    wd = str(tmp_path / "er_two_inputs")
    counts = []
    for i, (n_entities, seed) in enumerate(((20, 1), (30, 2))):
        path = str(tmp_path / f"pages{i}")
        tables.generate_pages(spark, n_entities=n_entities, seed=seed).write.parquet(path)
        pages_i = spark.read.parquet(path)
        n_pages = pages_i.count()
        run = ERPipeline(spark, wd, ERConfig(tau=0.87)).run(pages_i)
        assert all(not s.skipped for s in run.stages), [(s.stage, s.skipped) for s in run.stages]
        assert run.stages[0].rows == n_pages
        assert run.clusters.count() == n_pages
        counts.append(n_pages)
    assert counts[0] != counts[1]


def test_run_pipeline_input_resumes_on_its_files(spark, tmp_path):
    """``scripts/run_pipeline.py --input`` keys resume on the input files:
    after the file is replaced, a rerun in the same workdir recomputes
    every stage over the new pages (it used to key on the path string,
    skip all five stages and report the old file's rows); a rerun on
    unchanged files skips all five."""
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    inp, wd = str(tmp_path / "in"), str(tmp_path / "er")

    def land(n_entities, seed):
        pages = tables.generate_pages(spark, n_entities=n_entities, seed=seed)
        pages.drop("entity_id").coalesce(1).write.mode("overwrite").parquet(inp)
        return spark.read.parquet(inp).count()

    def run():
        out = subprocess.run(
            [sys.executable, os.path.join(root, "scripts", "run_pipeline.py"),
             "--input", inp, "--workdir", wd],
            env={**os.environ, "PYTHONPATH": root}, capture_output=True, text=True,
            timeout=900)
        assert out.returncode == 0, out.stderr[-3000:]
        report = json.loads(out.stdout[out.stdout.index("{"):])
        return {s["stage"]: s for s in report["stages"]}

    n_first = land(20, 1)
    first = run()
    assert first["normalize"]["rows"] == n_first
    n_second = land(30, 2)
    assert n_second != n_first
    second = run()
    assert not any(s["skipped"] for s in second.values()), second
    assert second["normalize"]["rows"] == n_second
    third = run()
    assert list(third) == list(STAGES)
    assert all(s["skipped"] for s in third.values()), third
    assert third["normalize"]["rows"] == n_second


STAGES = ("normalize", "candidates", "scores", "clusters", "consensus")


def test_pipeline_bookkeeping_runs_no_jobs(spark, pages, tmp_path):
    """Each stage is its compute plus one write: no read-back count, no
    schema-inference read, no pairs_by_pass collect, no metrics job (38 jobs
    on this corpus before).  Lineage and metrics still come out right, and
    run() hands the caller's job group back."""
    import json
    import os

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = {g: set(tracker.getJobIdsForGroup(f"er_{g}")) for g in STAGES}
    sc.setJobGroup("test_caller_group", "the caller's jobs")
    try:
        wd = str(tmp_path / "er_jobs")
        run = ERPipeline(spark, wd, ERConfig(tau=0.87)).run(pages)
        assert sc.getLocalProperty("spark.jobGroup.id") == "test_caller_group"
        assert sc.getLocalProperty("spark.job.description") == "the caller's jobs"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = {g: set(tracker.getJobIdsForGroup(f"er_{g}")) - before[g] for g in STAGES}
    assert sum(map(len, jobs.values())) <= 16, {g: len(j) for g, j in jobs.items()}
    assert all(jobs.values()), jobs  # every stage ran its write under its group

    with open(os.path.join(wd, "lineage.jsonl")) as f:
        lineage = {r["stage"]: r for r in map(json.loads, f)}
    pairs = ERPipeline(spark, wd).tables["pairs"].read(spark)
    want = {r.block_pass: r["count"] for r in pairs.groupBy("block_pass").count().collect()}
    assert lineage["candidates"]["pairs_by_pass"] == want

    metrics = spark.read.parquet(os.path.join(wd, "metrics")).collect()
    assert {r.stage for r in metrics} == set(STAGES)
    assert {r.run_id for r in metrics} == {lineage["normalize"]["run_id"]}
    for s in run.stages:
        got = [r for r in metrics if r.stage == s.stage]
        assert sum(r.rows for r in got) == s.rows == lineage[s.stage]["rows"], s.stage
        assert len({r.partition_id for r in got}) == len(got), s.stage


def _lineage_rows(wd):
    import json
    import os

    with open(os.path.join(wd, "lineage.jsonl")) as f:
        return [json.loads(line) for line in f]


def test_stage_spark_records(spark, pages, tmp_path):
    """Each executed stage records its own Spark costs on its StageResult
    and lineage row: the jobs of its ``er_<stage>`` group and their tasks,
    CPU and shuffle bytes; a resumed stage records no job."""
    pages.write.parquet(str(tmp_path / "pages"))
    pages = spark.read.parquet(str(tmp_path / "pages"))
    wd = str(tmp_path / "er_costs")
    tracker = spark.sparkContext.statusTracker()
    before = {g: set(tracker.getJobIdsForGroup(f"er_{g}")) for g in STAGES}
    run = ERPipeline(spark, wd, ERConfig(tau=0.87)).run(pages)
    lineage = {r["stage"]: r for r in _lineage_rows(wd)}
    assert [s.stage for s in run.stages] == list(STAGES)
    for s in run.stages:
        new_jobs = set(tracker.getJobIdsForGroup(f"er_{s.stage}")) - before[s.stage]
        assert not s.skipped
        assert s.spark["jobs"] == len(new_jobs) >= 1, (s.stage, s.spark)
        assert s.spark["tasks"] >= 1 and s.spark["failed_tasks"] == 0, (s.stage, s.spark)
        assert s.spark["executor_cpu_s"] > 0, (s.stage, s.spark)
        assert s.spark["executor_run_s"] > 0, (s.stage, s.spark)
        assert s.spark["complete"] is True, (s.stage, s.spark)
        assert lineage[s.stage]["spark"] == s.spark
    assert run.stages[1].spark["shuffle_write_mb"] > 0, run.stages[1].spark

    rerun = ERPipeline(spark, wd, ERConfig(tau=0.87)).run(pages)
    for s in rerun.stages:
        assert s.skipped and s.spark["jobs"] == 0 == s.spark["tasks"], (s.stage, s.spark)


EVICTING_RUN = r"""
import json, sys
from pyspark.sql import SparkSession
from levsim import tables
from levsim.pipeline import ERPipeline

spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.retainedStages", "10")
         .getOrCreate())
pages = spark.createDataFrame(tables.generate_pages_pdf(20, seed=7).drop(columns=["entity_id"]))
run = ERPipeline(spark, sys.argv[1]).run(pages)
print(json.dumps({s.stage: s.spark for s in run.stages}))
spark.stop()
"""


def test_stage_spark_records_survive_stage_eviction(tmp_path):
    """Past ``spark.ui.retainedStages`` the status store evicts the SKIPPED
    stages of a stage's own jobs before the record is read; the record
    still comes out (the lookup raised NoSuchElementException).  Its own
    session, because the limit is fixed when the store starts."""
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", EVICTING_RUN, str(tmp_path / "er")],
                         env={**os.environ, "PYTHONPATH": root},
                         capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    assert list(rec) == list(STAGES)
    assert all(r["jobs"] >= 1 and r["tasks"] >= 1 for r in rec.values()), rec


def test_lineage_row_written_when_stage_ends(spark, pages, tmp_path, monkeypatch):
    """A run that fails in consensus keeps the lineage of the four stages
    it completed, with their Spark records and pairs_by_pass."""
    from levsim import consensus

    def fail(*a, **kw):
        raise RuntimeError("consensus failed")

    monkeypatch.setattr(consensus, "elect_representatives", fail)
    wd = str(tmp_path / "er_fail")
    with pytest.raises(RuntimeError, match="consensus failed"):
        ERPipeline(spark, wd, ERConfig(tau=0.87)).run(pages)
    rows = _lineage_rows(wd)
    assert [r["stage"] for r in rows] == list(STAGES[:4])
    assert all(not r["skipped"] and r["spark"]["jobs"] >= 1 for r in rows), rows
    assert sum(rows[1]["pairs_by_pass"].values()) == rows[1]["rows"]


def test_stage_spark_records_best_effort_when_bus_lags(spark, pages, tmp_path, monkeypatch):
    """A listener bus that does not drain in time (Spark raises
    TimeoutException after 10 s) fails no stage: the run completes, every
    lineage row is written, and each record says it is incomplete."""
    from levsim import pipeline

    jvm = spark.sparkContext._jvm

    def lagging_bus(sc):
        # the Java exception waitUntilEmpty throws when a queue lags
        jvm.java.util.concurrent.CompletableFuture().get(
            1, jvm.java.util.concurrent.TimeUnit.MILLISECONDS)

    monkeypatch.setattr(pipeline, "_drain_listener_bus", lagging_bus)
    wd = str(tmp_path / "er_lag")
    run = ERPipeline(spark, wd, ERConfig(tau=0.87)).run(pages)
    rows = _lineage_rows(wd)
    assert [r["stage"] for r in rows] == [s.stage for s in run.stages] == list(STAGES)
    assert all(not s.skipped and s.spark["complete"] is False for s in run.stages), run.stages
    assert [r["spark"] for r in rows] == [s.spark for s in run.stages]
    assert run.representatives.count() > 0


def test_pipeline_restores_unset_job_group(spark, pages, tmp_path):
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", None)
    ERPipeline(spark, str(tmp_path / "er_group"), ERConfig(tau=0.87)).run(pages)
    assert sc.getLocalProperty("spark.jobGroup.id") is None


def test_input_snapshot_id(spark, pages, tmp_path):
    path = str(tmp_path / "pages")
    pages.write.parquet(path)
    files = spark.read.parquet(path)
    sid = tables.input_snapshot_id(files, "fallback")
    assert sid != "fallback"
    assert tables.input_snapshot_id(spark.read.parquet(path), "fallback") == sid
    # a different query over the same files is a different input
    assert tables.input_snapshot_id(files.limit(5), "fallback") != sid
    # in-memory pages have no id of their own, even beside input files
    assert tables.input_snapshot_id(pages, "fallback") == "fallback"
    assert tables.input_snapshot_id(files.union(pages), "fallback") == "fallback"
    # rewritten files (new sizes / mtimes) are a different input
    pages.limit(10).write.mode("overwrite").parquet(path)
    assert tables.input_snapshot_id(spark.read.parquet(path), "fallback") != sid


def test_snapshot_time_travel(spark, tmp_path):
    t = tables.SnapshotTable(str(tmp_path), "demo")
    df1 = spark.range(5)
    df2 = spark.range(10)
    t.write(df1, "aaa")
    t.write(df2, "bbb")
    assert t.current_id() == "bbb"
    assert t.read(spark, "aaa").count() == 5  # time travel
    assert t.read(spark).count() == 10
    assert set(t.list_snapshots()) == {"aaa", "bbb"}


def test_consensus_representative_quality(spark, pages, tmp_path):
    pipe = ERPipeline(spark, str(tmp_path / "er3"), ERConfig(tau=0.87))
    run = pipe.run(pages)
    # every multi-member cluster's representative is one of its member texts
    # (setmedian is a medoid)
    reps = run.representatives.where(F.col("n_members") > 1)
    joined = reps.join(
        run.clusters.groupBy("cluster_id").agg(F.collect_set("norm_text").alias("texts")),
        "cluster_id",
    ).collect()
    assert len(joined) > 10
    for r in joined:
        assert r.representative in r.texts


def test_bcubed_hand_computed(spark):
    """B-cubed on a hand-checkable case: truth entities {1,2,3} / {4,5};
    prediction merges 3 with {4,5} and leaves {1,2} together.
      p(1)=p(2)=1, p(3)=1/3, p(4)=p(5)=2/3  -> P = (2 + 1/3 + 4/3)/5 = 11/15
      r(1)=r(2)=2/3, r(3)=1/3, r(4)=r(5)=1  -> R = (4/3 + 1/3 + 2)/5 = 11/15
    Perfect clustering scores 1.0 everywhere; the all-singletons
    degenerate has precision 1.0 and recall = sum(1/|entity|)/n."""
    from levsim.evaluate import bcubed

    rows = [(1, "e1", "c1"), (2, "e1", "c1"), (3, "e1", "c2"),
            (4, "e2", "c2"), (5, "e2", "c2")]
    df = spark.createDataFrame(rows, "url long, entity_id string, cluster_id string")
    m = bcubed(df, id_col="url")
    assert m["n"] == 5
    assert abs(m["precision"] - 11 / 15) < 1e-12
    assert abs(m["recall"] - 11 / 15) < 1e-12
    assert abs(m["f1"] - 11 / 15) < 1e-12
    perfect = df.withColumn("cluster_id", F.col("entity_id"))
    mp = bcubed(perfect, id_col="url")
    assert mp["precision"] == mp["recall"] == mp["f1"] == 1.0
    single = df.withColumn("cluster_id", F.col("url").cast("string"))
    ms = bcubed(single, id_col="url")
    assert ms["precision"] == 1.0
    assert abs(ms["recall"] - (3 * (1 / 3) + 2 * (1 / 2)) / 5) < 1e-12
    empty = spark.createDataFrame([], "url long, entity_id string, cluster_id string")
    assert bcubed(empty, id_col="url")["f1"] == 1.0


def test_purity_hand_computed(spark):
    """Purity on the same hand case as bcubed: entities {1,2,3} / {4,5},
    clusters {1,2} / {3,4,5}.
      purity: max-overlap of c1 is 2 (e1), of c2 is 2 (e2) -> 4/5
      inverse purity: max of e1 is 2 (c1), of e2 is 2 (c2) -> 4/5
    Degenerate gaming checks: all-singletons -> purity 1e6 ppm but
    inverse purity = (1 + 1) / 5? no — max per entity is 1, sum 2 -> 2/5;
    one-giant-cluster -> inverse purity 1e6 but purity = 3/5."""
    from levsim.evaluate import purity_components

    rows = [(1, "e1", "c1"), (2, "e1", "c1"), (3, "e1", "c2"),
            (4, "e2", "c2"), (5, "e2", "c2")]
    df = spark.createDataFrame(rows, "url long, entity_id string, cluster_id string")
    r = purity_components(df, id_col="url").collect()[0]
    assert (r.n, r.sum_c_max, r.sum_t_max) == (5, 4, 4)
    assert r.purity_ppm == r.inv_purity_ppm == 800_000
    assert r.purity_f_ppm == 800_000
    single = df.withColumn("cluster_id", F.col("url").cast("string"))
    rs = purity_components(single, id_col="url").collect()[0]
    assert rs.purity_ppm == 1_000_000
    assert rs.inv_purity_ppm == 400_000
    giant = df.withColumn("cluster_id", F.lit("g"))
    rg = purity_components(giant, id_col="url").collect()[0]
    assert rg.inv_purity_ppm == 1_000_000
    assert rg.purity_ppm == 600_000
    perfect = df.withColumn("cluster_id", F.col("entity_id"))
    rp = purity_components(perfect, id_col="url").collect()[0]
    assert rp.purity_ppm == rp.inv_purity_ppm == rp.purity_f_ppm == 1_000_000


def test_bcubed_distributive_matches_collected(spark):
    """Round-6 VERDICT #4: the single-agg distributive bcubed must agree
    with the retained collect-based cross-check on a fragmented random
    clustering (many overlap cells, float-sum order differs)."""
    from levsim.evaluate import bcubed, bcubed_collected

    rows = [(i, f"e{i % 7}", f"c{(i * 13) % 11}") for i in range(400)]
    df = spark.createDataFrame(rows, "url long, entity_id string, cluster_id string")
    a = bcubed(df, id_col="url")
    b = bcubed_collected(df, id_col="url")
    assert a["n"] == b["n"] == 400
    for k in ("precision", "recall", "f1"):
        assert abs(a[k] - b[k]) < 1e-12, (k, a[k], b[k])
    # and no row-shaped collect in the distributive path: plan has one agg
    # (behavioral proxy: works on the empty frame too)
    empty = spark.createDataFrame([], "url long, entity_id string, cluster_id string")
    assert bcubed(empty, id_col="url") == bcubed_collected(empty, id_col="url")


def test_adjusted_rand_hand_computed(spark):
    # classic example: n=6, A = {1,2,3|4,5,6}, B = {1,2|3,4,5,6}
    # cells: (a1,b1)=2 (a1,b2)=1 (a2,b2)=3 -> index = 1 + 0 + 3 = 4
    # a_pairs = 3+3 = 6; b_pairs = 1+6 = 7; total = 15
    # ARI = (15*4 - 42) / (15*13//2 - 42) = 18 / 55.5 -> with the ppm
    # floor fixed point: den = (15*13) div 2 - 42 = 97 - 42 = 55
    a = spark.createDataFrame(
        [(i, 1 if i <= 3 else 2) for i in range(1, 7)],
        "doc_id long, cluster_a long",
    )
    b = spark.createDataFrame(
        [(i, 10 if i <= 2 else 20) for i in range(1, 7)],
        "doc_id long, cluster_b long",
    )
    row = evaluate.rand_components(a, b).collect()[0]
    assert (row["n"], row["total_pairs"]) == (6, 15)
    assert (row["index_pairs"], row["a_pairs"], row["b_pairs"]) == (4, 6, 7)
    assert row["ari_ppm"] == (1_000_000 * 18) // 55


def test_adjusted_rand_identical_and_degenerate(spark):
    a = spark.createDataFrame(
        [(1, 7), (2, 7), (3, 8)], "doc_id long, cluster_a long"
    )
    same = a.withColumnRenamed("cluster_a", "cluster_b")
    assert evaluate.rand_components(a, same).collect()[0]["ari_ppm"] == 1_000_000
    # all-singletons vs all-singletons: degenerate denominator, identical
    s1 = spark.createDataFrame(
        [(i, i) for i in range(5)], "doc_id long, cluster_a long"
    )
    s2 = s1.withColumnRenamed("cluster_a", "cluster_b")
    assert evaluate.rand_components(s1, s2).collect()[0]["ari_ppm"] == 1_000_000
    # anti-correlated-ish: ARI can go negative -> clamped to 0 in ppm
    x = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 2), (4, 2)], "doc_id long, cluster_a long"
    )
    y = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 1), (4, 2)], "doc_id long, cluster_b long"
    )
    row = evaluate.rand_components(x, y).collect()[0]
    assert row["ari_ppm"] == 0


def test_candidates_and_consensus_plans_are_lineage_safe(spark, pages, tmp_path, monkeypatch):
    """No stage write of a default run scans a checkpointed RDD (its blocks
    die with an executor).  Neither candidates nor consensus needs a
    Window: candidates groups blocks instead of self-joining them and runs
    the MinHash UDF once; consensus is one sorted Arrow pass, not a
    singleton/multi-member union.  Scores crosses into Python once, right
    after the text joins: no kernel keeps state across pairs, so no sort
    sits in between."""
    import re

    plans = {}
    write = tables.SnapshotTable.write

    def recording_write(self, df, *a, **kw):
        plans[self.name] = df._jdf.queryExecution().executedPlan().toString()
        return write(self, df, *a, **kw)

    monkeypatch.setattr(tables.SnapshotTable, "write", recording_write)
    ERPipeline(spark, str(tmp_path / "er_plans"), ERConfig(tau=0.87)).run(pages)

    def count(plan, op):
        return len(re.findall(op, plan))

    assert set(plans) == {"pages_norm", "pairs", "scores", "clusters", "representatives"}
    for table, plan in plans.items():
        assert not count(plan, r"ExistingRDD|LogicalRDD"), (table, plan)
    for table in ("pairs", "representatives"):
        assert not count(plans[table], r"\bWindow\b"), plans[table]
    assert not count(plans["pairs"], r"Join\b|CartesianProduct"), plans["pairs"]
    assert count(plans["pairs"], r"\bArrowEvalPython\b") == 1, plans["pairs"]
    assert not count(plans["representatives"], r"\bUnion\b"), plans["representatives"]
    assert count(plans["representatives"], r"\bMapInArrow\b") == 1, plans["representatives"]
    assert count(plans["scores"], r"\bArrowEvalPython\b") == 1, plans["scores"]
    below = plans["scores"][plans["scores"].index("ArrowEvalPython"):]  # down to the text joins
    assert not count(below[:re.search(r"Join\b", below).start()], r"\bSort \["), plans["scores"]
