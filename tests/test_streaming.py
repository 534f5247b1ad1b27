"""Catch-up pair emission over landed page files: exactly-once per file,
catch-up/batch key agreement, the per-key cap, crash recovery; plus the
stateless curation extras under Structured Streaming."""

from __future__ import annotations

import os
from collections import Counter

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from levsim import blocking, incremental, normalize, streaming, tables
from test_blocking_candidates import _reference_pairs


@pytest.fixture()
def staged_pages(spark, tmp_path):
    pdf = tables.generate_pages_pdf(n_entities=20, seed=7)
    df = spark.createDataFrame(pdf.drop(columns=["entity_id"]))
    in_dir = tmp_path / "incoming"
    first = df.where(F.col("url").rlike("/p/[0-9]/"))  # entities 0-9
    second = df.subtract(first)
    in_dir.mkdir()
    first.coalesce(1).write.mode("append").parquet(str(in_dir))
    return spark, str(in_dir), str(tmp_path / "out"), str(tmp_path / "ckpt"), df, second


def test_stream_batch_key_agreement(staged_pages):
    """The key table a catch-up writes under ``<checkpoint>/keys`` holds
    exactly the batch path's (doc_id, block_key) rows of the landed pages,
    after each catch-up (content-hash keys: catch-up and batch agree)."""
    spark, in_dir, out_dir, ckpt, full_df, second = staged_pages

    def batch_keys(pages):
        return blocking.add_block_keys(
            normalize.with_normalized(pages, text_col="text", url_col="url"),
            id_col="url",
        ).select("doc_id", "block_key")

    for k, landed in enumerate((full_df.subtract(second), full_df)):
        if k:
            second.coalesce(1).write.mode("append").parquet(in_dir)
        streaming.run_incremental_pairs(spark, in_dir, out_dir, ckpt)
        keys = spark.read.parquet(os.path.join(ckpt, "keys")).select("doc_id", "block_key")
        want = batch_keys(landed)
        assert keys.count() > 0
        assert keys.subtract(want).count() == 0
        assert want.subtract(keys).count() == 0


def test_streaming_candidate_pairs_stateful(staged_pages):
    """Incremental blocking: the union of pairs emitted across two catch-up
    runs must equal the BATCH candidate set on the full corpus, with one
    row per distinct pair (emitted once, when the later member arrives;
    the key table carries the earlier pages across runs)."""
    from levsim import candidates

    spark, in_dir, _, _, full_df, second = staged_pages
    out_dir = in_dir + "_pairs_out"
    ckpt = in_dir + "_pairs_ckpt"

    streaming.run_incremental_pairs(spark, in_dir, out_dir, ckpt)
    got1 = spark.read.parquet(out_dir)
    n1 = got1.select("id_a", "id_b").distinct().count()
    assert n1 > 0

    second.coalesce(1).write.mode("append").parquet(in_dir)
    streaming.run_incremental_pairs(spark, in_dir, out_dir, ckpt)
    got = spark.read.parquet(out_dir)

    # exactly-once: one row per distinct pair across both runs
    assert got.count() == got.select("id_a", "id_b").distinct().count()

    # batch equivalence on the same keyed rows (cap never reached here)
    keyed_batch = blocking.add_block_keys(
        normalize.with_normalized(full_df, text_col="text", url_col="url"),
        id_col="url",
    )
    want = candidates.candidate_pairs(keyed_batch, max_block_size=10**6,
                                      keep_pass_provenance=False)
    sgot = got.select("id_a", "id_b").distinct()
    assert sgot.subtract(want).count() == 0
    assert want.subtract(sgot).count() == 0
    # second run emitted strictly new pairs (the new docs' pairs)
    assert sgot.count() > n1


def _keyed_rows(df):
    """{block_key: {doc_id}} of pages keyed the batch way."""
    rows = blocking.add_block_keys(
        normalize.with_normalized(df, text_col="text", url_col="url"), id_col="url"
    ).select("doc_id", "block_key").collect()
    out = {}
    for r in rows:
        out.setdefault(r.block_key, set()).add(r.doc_id)
    return out


def _batch_rows(out_dir, batch):
    names = sorted(n for n in os.listdir(out_dir) if n.startswith(f"batch-{batch:06d}-"))
    rows = []
    for n in names:
        t = pq.read_table(os.path.join(out_dir, n))
        rows.extend(zip(t["id_a"].to_pylist(), t["id_b"].to_pylist(),
                        t["block_key"].to_pylist()))
    return rows


def test_pair_cap_matches_reference(staged_pages):
    """max_block_size=3 binds on shared hosts and near-dup bands: each
    catch-up's pairs equal the stateful emitter's per-key rule."""
    spark, in_dir, _, _, full_df, second = staged_pages
    out_dir, ckpt = in_dir + "_cap_out", in_dir + "_cap_ckpt"
    first = full_df.subtract(second)
    ref = _reference_pairs([_keyed_rows(first), _keyed_rows(second)], cap=3)

    assert streaming.run_incremental_pairs(spark, in_dir, out_dir, ckpt,
                                           max_block_size=3) == 0
    second.coalesce(1).write.mode("append").parquet(in_dir)
    assert streaming.run_incremental_pairs(spark, in_dir, out_dir, ckpt,
                                           max_block_size=3) == 1
    for batch, want in enumerate(ref):
        got = _batch_rows(out_dir, batch)
        assert len(got) == len({(a, b) for a, b, _ in got})  # one row per pair
        assert {(a, b): k for a, b, k in got} == want
    # the cap bound: without it the second catch-up emits more
    n_capped = sum(len(r) for r in ref)
    uncapped = _reference_pairs([_keyed_rows(first), _keyed_rows(second)], cap=10**6)
    assert sum(len(r) for r in uncapped) > n_capped > 0


def _long_pages(n_words=2500, seed=3):
    """Two near-duplicate pages whose normalized text is far longer than
    ``normalize.MAX_NORM_CHARS``, with edits on both sides of the cut."""
    import random

    import pandas as pd

    rng = random.Random(seed)
    words = ["".join(rng.choice("abcdefghij") for _ in range(rng.randint(3, 8)))
             for _ in range(n_words)]
    text_a = " ".join(words)
    for i in rng.sample(range(n_words), 25):
        words[i] = words[i][::-1]
    text_b = " ".join(words)
    ts = pd.Timestamp(1_800_000_000, unit="s", tz="UTC")
    return pd.DataFrame([
        {"url": f"http://long.example.com/p/{k}", "warc_ts": ts, "html": t.encode(),
         "text": t, "lang": "en"} for k, t in (("a", text_a), ("b", text_b))])


def test_catch_up_equals_pipeline_run(staged_pages, tmp_path):
    """Batch and catch-up follow one blocking rule set: over pages landed
    as one file, a catch-up with ``max_block_size=3`` emits exactly the
    candidate pairs of ``ERPipeline(ERConfig(max_block_size=3)).run`` (the
    cap binds on shared hosts and bands), and its key table is
    ``add_block_keys`` over the pipeline's ``pages_norm`` snapshot (pages
    longer than ``MAX_NORM_CHARS`` included)."""
    from levsim.pipeline import ERConfig, ERPipeline

    spark, _, _, _, full_df, _ = staged_pages
    long_pdf = _long_pages()
    assert min(map(len, long_pdf.text)) > 3 * normalize.MAX_NORM_CHARS
    long_df = spark.createDataFrame(long_pdf, schema=full_df.schema)
    in_dir, out_dir, ckpt = (str(tmp_path / n) for n in ("one_file", "eq_out", "eq_ckpt"))
    full_df.unionByName(long_df).coalesce(1).write.parquet(in_dir)
    assert streaming.run_incremental_pairs(spark, in_dir, out_dir, ckpt, max_block_size=3) == 0
    pair_cols = ("id_a", "id_b", "block_pass", "block_key")
    got_pairs = {tuple(r) for r in spark.read.parquet(out_dir).select(*pair_cols).collect()}
    got_keys = {(r.doc_id, r.block_key) for r in spark.read.parquet(ckpt + "/keys").collect()}

    pipe = ERPipeline(spark, str(tmp_path / "eq_er"), ERConfig(max_block_size=3))
    run = pipe.run(spark.read.parquet(in_dir))
    sid = {s.stage: s.snapshot_id for s in run.stages}
    want_pairs = {tuple(r) for r in
                  pipe.tables["pairs"].read(spark, sid["candidates"]).select(*pair_cols).collect()}
    norm = pipe.tables["pages_norm"].read(spark, sid["normalize"])
    want_keys = {(r.doc_id, r.block_key) for r in blocking.add_block_keys(norm).collect()}

    # the cap binds: some key holds more than 3 pages
    assert Counter(k for _, k in want_keys).most_common(1)[0][1] > 3
    assert any(a.startswith("http://long.") for a, *_ in want_pairs)
    assert got_pairs == want_pairs, (len(got_pairs - want_pairs), len(want_pairs - got_pairs))
    assert got_keys == want_keys, (len(got_keys - want_keys), len(want_keys - got_keys))

    # one scorer: the catch-up's scores of its pair log, at ratio >= tau,
    # are the pipeline's scores snapshot
    matches = str(tmp_path / "eq_matches")
    docs = norm.select(F.col("url").alias("doc_id"), "norm_text")
    n = incremental.score_new_pairs(spark, spark.read.parquet(out_dir), docs, matches)
    assert n == len(got_pairs)
    score_cols = ("id_a", "id_b", "ratio", "jaro_winkler")
    got_scores = {tuple(r) for r in spark.read.parquet(matches)
                  .where(F.col("ratio") >= pipe.cfg.tau).select(*score_cols).collect()}
    want_scores = {tuple(r) for r in
                   pipe.tables["scores"].read(spark, sid["scores"]).select(*score_cols).collect()}
    assert want_scores and got_scores == want_scores


def test_pair_catch_up_crash_recovery(staged_pages):
    """A catch-up that dies before its commit marker is rerun in full: the
    rerun replaces that batch's files, so the log is identical and holds
    each pair once."""
    spark, in_dir, _, _, full_df, second = staged_pages
    out_dir, ckpt = in_dir + "_crash_out", in_dir + "_crash_ckpt"
    streaming.run_incremental_pairs(spark, in_dir, out_dir, ckpt)
    second.coalesce(1).write.mode("append").parquet(in_dir)
    streaming.run_incremental_pairs(spark, in_dir, out_dir, ckpt)

    def snapshot():
        pairs = sorted(tuple(r) for r in
                       spark.read.parquet(out_dir).select("id_a", "id_b", "block_key").collect())
        keys = sorted(tuple(r) for r in spark.read.parquet(ckpt + "/keys").collect())
        return pairs, keys

    before = snapshot()
    os.remove(os.path.join(ckpt, "commits", "000001.json"))
    assert streaming.run_incremental_pairs(spark, in_dir, out_dir, ckpt) == 1
    after = snapshot()
    assert after == before
    assert len(after[0]) == len({(a, b) for a, b, _ in after[0]})
    assert sorted(os.listdir(os.path.join(ckpt, "commits"))) == ["000000.json", "000001.json"]
    # nothing new landed: the next catch-up commits nothing
    assert streaming.run_incremental_pairs(spark, in_dir, out_dir, ckpt) is None


def test_pair_catch_up_rejects_streaming_dirs(staged_pages, tmp_path):
    """A directory left by a Structured Streaming query raises: a file-sink
    output's readers only see the files in its metadata log."""
    spark, in_dir, _, _, _, _ = staged_pages
    old_ckpt = tmp_path / "old_ckpt"
    (old_ckpt / "offsets").mkdir(parents=True)
    with pytest.raises(ValueError, match="Structured Streaming checkpoint"):
        streaming.run_incremental_pairs(spark, in_dir, str(tmp_path / "o1"), str(old_ckpt))
    old_out = tmp_path / "old_out"
    (old_out / "_spark_metadata").mkdir(parents=True)
    with pytest.raises(ValueError, match="streaming file sink"):
        streaming.run_incremental_pairs(spark, in_dir, str(old_out), str(tmp_path / "c2"))


def test_pair_catch_up_is_a_batch_job(staged_pages):
    """One catch-up starts no streaming query and runs at most 15 Spark
    jobs (the Structured Streaming emitter committed 36 state stores per
    catch-up).  AQE sizes its pair exchange, so its few hundred pairs land
    in fewer files than a fixed ``2 * defaultParallelism`` repartition
    wrote (8 per batch at local[4])."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Starts(StreamingQueryListener):
        started: list = []

        def onQueryStarted(self, event):
            self.started.append(event.id)

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark, in_dir, _, _, _, second = staged_pages
    out_dir, ckpt = in_dir + "_jobs_out", in_dir + "_jobs_ckpt"
    sc = spark.sparkContext
    listener = Starts()
    spark.streams.addListener(listener)
    try:
        for k in range(2):
            if k:
                second.coalesce(1).write.mode("append").parquet(in_dir)
            group = f"test_catch_up_jobs_{k}"
            sc.setJobGroup(group, "one catch-up")
            try:
                assert streaming.run_incremental_pairs(spark, in_dir, out_dir, ckpt) == k
                jobs = sc.statusTracker().getJobIdsForGroup(group)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            assert spark.streams.active == []
            assert 1 <= len(jobs) <= 15, (k, len(jobs))
            files = [n for n in os.listdir(out_dir) if n.startswith(f"batch-{k:06d}-")]
            assert 1 <= len(files) < 2 * sc.defaultParallelism, (k, files)
    finally:
        spark.streams.removeListener(listener)
    assert listener.started == []


def test_streaming_textstats_and_pii(spark, tmp_path):
    """The stateless curation extras (textstats projection, PII redaction,
    repetition counts) compose directly with Structured Streaming —
    stream output == batch output on the same files."""
    from levsim.extras.textstats import ngram_repetition_counts, with_textstats
    from levsim.extras.webprep import pii_counts, redact_pii

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    rows = [
        (1, "the quick brown fox mail a@b.co"),
        (2, "x y x y x y"),
        (3, ""),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1) \
        .write.mode("append").parquet(str(in_dir))

    def curate(df):
        out = with_textstats(df, "text")
        out = out.withColumn("rep", ngram_repetition_counts(F.col("text"), 2))
        return out.withColumn("redacted", redact_pii(F.col("text"))) \
                  .withColumn("pii", pii_counts(F.col("text")))

    stream = (
        spark.readStream.schema("doc_id long, text string").parquet(str(in_dir))
    )
    q = (
        curate(stream).writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {r.doc_id: r for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    want = {r.doc_id: r for r in curate(
        spark.read.parquet(str(in_dir))).collect()}
    assert set(got) == {1, 2, 3}
    for i in got:
        assert got[i].asDict() == want[i].asDict(), i
    assert got[1].pii.n_emails == 1 and "<EMAIL>" in got[1].redacted
    assert got[2].rep.top_count == 3  # 'x y' bigram repeats
