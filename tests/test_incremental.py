"""Incremental ER == batch ER: catch-up candidate pairs + anti-join
scoring + full-closure clustering, across two catch-up rounds, against a
hand-built batch path and against ``ERPipeline.run``."""

from __future__ import annotations

from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F

from levsim import blocking, candidates, clustering, incremental, normalize, scoring, streaming, tables
from levsim.pipeline import ERConfig, ERPipeline


def _clusters_as_partition(rows):
    """{frozenset of member ids per cluster} — id-labeling-independent."""
    from collections import defaultdict

    by = defaultdict(set)
    for r in rows:
        by[r.cluster_id].add(r.doc_id)
    return {frozenset(v) for v in by.values()}


def test_incremental_er_equals_batch(spark, tmp_path):
    pdf = tables.generate_pages_pdf(n_entities=25, seed=11)
    # a short page on host0, landing second: its host-key pairs fail the
    # length bound, and the match log must still hold them
    short = pdf.iloc[[0]].assign(url="http://host0.example.com/p/20/short",
                                 text=pdf.text.iloc[0][:60])
    full = spark.createDataFrame(pd.concat([pdf, short]).drop(columns=["entity_id"]))
    first = full.where(F.col("url").rlike("/p/1?[0-9]/"))   # entities 0-19
    second = full.subtract(first)
    in_dir = str(tmp_path / "in")
    pairs_out, ckpt = str(tmp_path / "pairs"), str(tmp_path / "ck")
    matches = str(tmp_path / "matches.parquet")
    tau = 0.62

    norm_full = normalize.with_normalized(full, text_col="text", url_col="url")
    docs = norm_full.select(F.col("url").alias("doc_id"), "norm_text")

    def catch_up():
        streaming.run_incremental_pairs(spark, in_dir, pairs_out, ckpt)
        pairs = spark.read.parquet(pairs_out)
        n_new = incremental.score_new_pairs(spark, pairs, docs, matches, tau=tau)
        # every pair is scored and logged once, length rejects included
        logged = spark.read.parquet(matches).select("id_a", "id_b").collect()
        assert Counter(map(tuple, logged)) == Counter(
            map(tuple, pairs.select("id_a", "id_b").collect()))
        comps = incremental.refresh_clusters(spark, matches, tau=tau)
        return n_new, comps

    first.coalesce(1).write.mode("append").parquet(in_dir)
    n1, comps1 = catch_up()
    assert n1 > 0 and comps1.count() > 0

    second.coalesce(1).write.mode("append").parquet(in_dir)
    n2, comps2 = catch_up()
    assert n2 > 0
    # idempotence: a catch-up with no new files scores nothing new
    n3, comps3 = catch_up()
    assert n3 == 0

    # batch reference on the full corpus: same blocking, scoring, CC
    keyed = blocking.add_block_keys(norm_full, id_col="url")
    cand = candidates.candidate_pairs(keyed, max_block_size=10**6,
                                      keep_pass_provenance=False)
    scored = scoring.score_pairs(
        scoring.attach_texts(cand, docs), tau=tau, scorers=("ratio",))
    edges = scored.where(F.col("ratio") >= tau).select("id_a", "id_b")
    batch_comps = clustering.connected_components(edges)

    inc = _clusters_as_partition(comps3.collect())
    bat = _clusters_as_partition(batch_comps.collect())
    assert inc == bat

    # and the product path: the multi-member clusters of ERPipeline.run
    run = ERPipeline(spark, str(tmp_path / "er"), ERConfig(tau=tau)).run(full)
    er = _clusters_as_partition(
        run.clusters.select(F.col("url").alias("doc_id"), "cluster_id").collect())
    assert inc == {c for c in er if len(c) > 1}


def test_catch_up_survives_crashed_first_scoring_append(spark, tmp_path):
    """A driver killed during the first ``score_new_pairs`` append leaves
    ``matches/_temporary/0/`` and no data file: the log reads as empty, so
    the next catch-up scores and logs every pair once and its clusters are
    the batch's."""
    full = spark.createDataFrame(
        tables.generate_pages_pdf(n_entities=20, seed=7).drop(columns=["entity_id"]))
    in_dir, pairs_out = str(tmp_path / "in"), str(tmp_path / "pairs")
    full.coalesce(1).write.parquet(in_dir)
    assert streaming.run_incremental_pairs(spark, in_dir, pairs_out, str(tmp_path / "ck")) == 0
    matches = tmp_path / "matches"
    (matches / "_temporary" / "0").mkdir(parents=True)
    matches = str(matches)
    empty = incremental.refresh_clusters(spark, matches)
    assert empty.columns == ["doc_id", "cluster_id"] and empty.count() == 0

    norm = normalize.with_normalized(full)
    docs = norm.select(F.col("url").alias("doc_id"), "norm_text")
    pairs = spark.read.parquet(pairs_out)
    n = incremental.score_new_pairs(spark, pairs, docs, matches)
    logged = spark.read.parquet(matches).select("id_a", "id_b").collect()
    assert n == len(logged) > 0
    assert Counter(map(tuple, logged)) == Counter(
        map(tuple, pairs.select("id_a", "id_b").collect()))
    assert incremental.score_new_pairs(spark, pairs, docs, matches) == 0

    cand = candidates.candidate_pairs(blocking.add_block_keys(norm, id_col="url"),
                                      keep_pass_provenance=False)
    scored = scoring.score_pairs(scoring.attach_texts(cand, docs), scorers=("ratio",))
    batch = clustering.connected_components(
        scored.where(F.col("ratio") >= scoring.TAU).select("id_a", "id_b"))
    got = _clusters_as_partition(incremental.refresh_clusters(spark, matches).collect())
    assert got and got == _clusters_as_partition(batch.collect())


def test_relanded_url_is_one_page(spark, tmp_path):
    """A url that lands twice with different text is one page, its first
    landing, in the batch and in the catch-up: one ``clusters`` row per url,
    one ``scores`` row per pair, each pair once in the catch-up's pair and
    match logs, and the catch-up's clusters equal the batch's."""
    pdf = tables.generate_pages_pdf(30, seed=1).drop(columns=["entity_id"])
    again = pdf.iloc[:5].assign(text=pdf.text.iloc[:5] + " updated",
                                warc_ts=pdf.warc_ts.iloc[:5] + pd.Timedelta(days=1))
    in_dir = str(tmp_path / "in")
    spark.createDataFrame(pd.concat([pdf, again], ignore_index=True)) \
        .coalesce(1).write.parquet(in_dir)
    pages = spark.read.parquet(in_dir)

    wd = str(tmp_path / "er")
    run = ERPipeline(spark, wd).run(pages)
    clusters = run.clusters.select("url", "cluster_id").collect()
    assert len(clusters) == len({r.url for r in clusters}) == pdf.url.nunique()
    scores = run.matched.select("id_a", "id_b").collect()
    assert len(scores) == len(set(map(tuple, scores)))
    kept = tables.SnapshotTable(wd, "pages_norm").read(spark) \
        .where(F.col("url").isin(list(again.url))).select("url", "text").collect()
    assert {r.url: r.text for r in kept} == dict(zip(pdf.url.iloc[:5], pdf.text.iloc[:5]))

    pairs_out, matches = str(tmp_path / "pairs"), str(tmp_path / "matches")
    assert streaming.run_incremental_pairs(spark, in_dir, pairs_out, str(tmp_path / "ck")) == 0
    docs = normalize.with_normalized(normalize.one_page_per_url(pages)).select(
        F.col("url").alias("doc_id"), "norm_text")
    pairs = spark.read.parquet(pairs_out)
    incremental.score_new_pairs(spark, pairs, docs, matches)
    for log in (pairs, spark.read.parquet(matches)):
        ids = log.select("id_a", "id_b").collect()
        assert len(ids) == len(set(map(tuple, ids)))
    inc = _clusters_as_partition(incremental.refresh_clusters(spark, matches).collect())
    er = _clusters_as_partition(
        run.clusters.select(F.col("url").alias("doc_id"), "cluster_id").collect())
    assert inc == {c for c in er if len(c) > 1}


def test_score_new_pairs_plan_has_no_sort(spark, tmp_path, monkeypatch):
    """A catch-up's scoring plan, with and without a matches log to
    anti-join, crosses into Python right after the text joins."""
    import re

    plans = []
    cascade = scoring.score_pairs_cascade

    def recording(*a, **kw):
        df = cascade(*a, **kw)
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return df

    monkeypatch.setattr(scoring, "score_pairs_cascade", recording)
    pages = normalize.with_normalized(spark.createDataFrame(
        tables.generate_pages_pdf(10, seed=3).drop(columns=["entity_id"])))
    docs = pages.select(F.col("url").alias("doc_id"), "norm_text")
    candidates.candidate_pairs(blocking.add_block_keys(pages), max_block_size=10**6,
                               keep_pass_provenance=False).write.parquet(str(tmp_path / "pairs"))
    pairs = spark.read.parquet(str(tmp_path / "pairs"))  # a pair log, as a catch-up reads it
    matches = str(tmp_path / "matches")
    assert incremental.score_new_pairs(spark, pairs, docs, matches) > 0
    assert incremental.score_new_pairs(spark, pairs, docs, matches) == 0
    assert len(plans) == 2
    for plan in plans:
        assert plan.count("ArrowEvalPython") == 1, plan
        below = plan[plan.index("ArrowEvalPython"):]  # down to the text joins
        assert not re.search(r"\bSort \[", below[:re.search(r"Join\b", below).start()]), plan
