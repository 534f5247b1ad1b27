"""Benchmark harness — one JSON line on stdout.

Runs the engine's headline workloads at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default 32):

  q1_er_scoring        blocked pair generation + length prefilter + Arrow
                       ratio/jw scoring (the pipeline hot path)
  q2_er_pipeline       + threshold + connected components + medoid consensus
  q3_minhash_dedup     MinHash-LSH candidates + verified near-dup pairs
  q4_cosine_topk       brute-force cosine top-k over embeddings
  q5_textstats         full text-quality projection + aggregation
  q6_simhash_dedup     SimHash signatures + pigeonhole banding + verified
                       hamming pairs
  q7_embedding_neardup hyperplane-LSH bucketed cosine near-dup pairs
  q8_prefix_jaccard    PPJoin-style prefix-filtered all-pairs shingle
                       Jaccard (no blocking key)
  q9_sorted_neighborhood  distributed-rank SNM candidate generation
  q10_meta_blocking    multi-pass blocks + CBS/ARCS weighting + WNP pruning
  q11_fellegi_sunter   gammas + bounded pattern groupBy + integer EM +
                       inline posterior scoring

Measurement protocol (round-3: VERDICT round 2 flagged single-shot noise —
q4 "+104%" on byte-identical code): every query runs $SPARK_GRAFT_BENCH_RUNS
times (default 3) and the reported number is the MEDIAN; all samples are
emitted under extra.samples so regressions can be told from outliers.

Extra keys (beyond the driver contract): pairs_scored, pairs_per_sec,
cpus, runs, samples — used by BENCH/BASELINE.md scaling analysis.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from pyspark.sql import functions as F

    from levsim.session import get_spark

    spark = get_spark(app_name="levsim-bench", master=f"local[{cpus}]",
                      shuffle_partitions=max(int(cpus) * 2, 8))
    spark.sparkContext.setLogLevel("ERROR")

    from levsim.clustering import connected_components
    from levsim.consensus import elect_representatives
    from levsim.blocking import sorted_neighborhood_pairs
    from levsim.extras.dedup import (
        minhash_candidate_pairs,
        prefix_filtered_jaccard_pairs,
        simhash_candidate_pairs,
    )
    from levsim.normalize import token_sort_key
    from levsim.prefilter import ratio_length_bound
    from levsim.extras.simsearch import brute_force_topk_blocked, embedding_neardup_pairs
    from levsim.extras.textstats import with_textstats
    from levsim.udfs import multi_score_udf, pair_udf

    # widen the single-file scan so joins fan out over all cores
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(int(cpus) * 2).cache()
    n_docs = docs.count()  # materialize cache outside timings
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    emb.count()

    timings: dict[str, float] = {}
    samples_all: dict[str, list[float]] = {}
    extra: dict[str, float] = {"n_docs": n_docs, "cpus": int(cpus), "runs": runs}

    def scored_pairs():
        tau = 0.5
        a = docs.select("lang", "source", F.col("doc_id").alias("id_a"),
                        F.col("text").alias("text_a"))
        b = docs.select("lang", "source", F.col("doc_id").alias("id_b"),
                        F.col("text").alias("text_b"))
        # explicit broadcast: self-joining the same cached wide DF otherwise
        # degrades to SMJ (measured 10x slower at this scale)
        p = a.join(F.broadcast(b), ["lang", "source"]).where(F.col("id_a") < F.col("id_b"))
        p = p.withColumn("len_a", F.length("text_a")).withColumn("len_b", F.length("text_b"))
        p = p.where(ratio_length_bound(F.col("len_a"), F.col("len_b"), tau))
        scored = multi_score_udf(("ratio", "jaro_winkler"), ratio_cutoff=tau)("text_a", "text_b")
        p = p.withColumn("_s", scored).withColumn("ratio", F.col("_s.ratio")).withColumn(
            "jw", F.col("_s.jaro_winkler")).drop("_s")
        return p

    # warm-up OUTSIDE all timers: the first UDF invocation pays the lazy
    # C-kernel compile (levsim.cbuild) plus Python-worker spin-up — without
    # this, q1 measured the toolchain, not the engine (round-1 bench showed
    # 5.7s vs the warm 1.5s for the same query)
    warm = docs.limit(64).select(
        multi_score_udf(("ratio", "jaro_winkler"))("text", "text").alias("_w")
    )
    warm.agg(F.count("_w.ratio"), F.count("_w.jaro_winkler")).collect()

    def scrub() -> None:
        """Drop leaked engine state between measurements. Operators share
        subtrees via lazy ``localCheckpoint`` — those RDD blocks stay in the
        BlockManager until BOTH the Python proxy and the JVM reference are
        collected, so back-to-back queries accumulate each other's blocks
        (round-3 driver bench: q8's sparse-path 3.5M-row checkpoints
        inflated q9 from ~1.4s to 8.8s).  A paired gc nudges ContextCleaner
        to unpersist them; runs OUTSIDE every timer."""
        import gc

        gc.collect()
        spark.sparkContext._jvm.System.gc()

    max_extra = max(0, int(os.environ.get("SPARK_GRAFT_BENCH_MAX_EXTRA", "4")))
    # SPARK_GRAFT_BENCH_ONLY="q1_er_scoring,q9_sorted_neighborhood" runs a
    # subset — the standalone xN drift protocol (VERDICT r4/r5: isolated
    # reruns on byte-identical code are the only way to tell noise from
    # regression); unset = full suite.
    only = {
        q.strip()
        for q in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",")
        if q.strip()
    }

    def bench(name: str, fn) -> None:
        """Median-of-N timing; fn() must fully execute the query (an action
        that consumes every scored column so Catalyst can't prune work).
        When the sample spread exceeds 25% of the median, up to
        $SPARK_GRAFT_BENCH_MAX_EXTRA more runs are added (round-3 q8 spread
        18.3/35.4/28.9 showed median-of-3 alone is not enough); the spread
        is emitted so the artifact is self-diagnosing."""
        if only and name not in only:
            return
        obs = []
        for _ in range(runs):
            t0 = time.perf_counter()
            fn()
            obs.append(time.perf_counter() - t0)
            scrub()
        def spread_bad() -> bool:
            # judge spread on the warm tail: the first sample legitimately
            # carries plan compilation / code-path warmup and would trigger
            # extra runs on nearly every query
            tail = obs[1:] if len(obs) >= 3 else obs
            return (max(tail) - min(tail)) > 0.25 * statistics.median(tail)

        while len(obs) < runs + max_extra and spread_bad():
            t0 = time.perf_counter()
            fn()
            obs.append(time.perf_counter() - t0)
            scrub()
        timings[name] = round(statistics.median(obs), 3)
        samples_all[name] = [round(s, 3) for s in obs]

    # q1: scoring hot path — the aggregate consumes BOTH score columns so
    # Catalyst cannot prune a scorer out of the measurement
    def q1():
        row = scored_pairs().agg(
            F.count("ratio").alias("n"), F.count("jw").alias("nj")
        ).collect()[0]
        extra["pairs_scored"] = row["n"]

    bench("q1_er_scoring", q1)
    if "q1_er_scoring" in timings:
        extra["pairs_per_sec"] = round(
            extra["pairs_scored"] / timings["q1_er_scoring"], 1
        )

    # q2: full pipeline (threshold -> CC -> consensus)
    def q2():
        matched = scored_pairs().where(F.col("ratio") >= 0.62)
        comps = connected_components(matched)
        clustered = (
            docs.select(F.col("doc_id"), F.col("text").alias("norm_text"))
            .join(comps, "doc_id", "left")
            .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
        )
        extra["n_clusters"] = elect_representatives(clustered, method="setmedian").count()

    bench("q2_er_pipeline", q2)

    # q3: minhash dedup — the verify stage applies the exact length bound
    # pre-UDF like the production scoring path (round 5: prunes ~15% of
    # candidates at tau 0.6 on this corpus, q3 3.35s -> 2.93s; result
    # count unchanged, the bound is exact)
    def q3():
        # widen the ids-only pairs before the texts and the ratio UDF, as
        # the pipeline's scores stage does: AQE sizes the candidates' dedup
        # exchange by bytes, and the verify would run in a handful of tasks
        # (sf0.1, local[4]: q3 2.4 s -> 3.0 s without this exchange)
        cand = minhash_candidate_pairs(docs, "doc_id", "text", rows_per_band=2, shingle_k=2)
        cand = cand.repartition(int(cpus) * 2, "id_a")
        a = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"),
                        F.length("text").alias("len_a"))
        b = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"),
                        F.length("text").alias("len_b"))
        verified = (
            cand.join(a, "id_a").join(b, "id_b")
            .where(ratio_length_bound(F.col("len_a"), F.col("len_b"), 0.6))
            .withColumn("ratio", pair_udf("ratio", score_cutoff=0.6)("text_a", "text_b"))
            .where(F.col("ratio") >= 0.6)
        )
        extra["minhash_verified_pairs"] = verified.count()

    bench("q3_minhash_dedup", q3)

    # q4: exact cosine top-k — blocked execution since round 5 (matmul
    # partial-top-k per Arrow batch; parity with the HOF join+window plan
    # asserted in tests and by the cosine_topk_blocked driver oracle).
    # Round-4 watch item resolved: the r4 +10% median move was run-to-run
    # noise (standalone x8 spread 1.3-1.8s on byte-identical r4 code).
    def q4():
        q = emb.where(F.col("vec_id") < 50).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        extra["topk_rows"] = brute_force_topk_blocked(emb, q, k=10).count()

    bench("q4_cosine_topk", q4)

    # q5: textstats projection + aggregate
    def q5():
        stats = with_textstats(docs, "text")
        extra["quality_docs"] = stats.where(F.col("quality") > 0.5).count()

    bench("q5_textstats", q5)

    # q6: simhash dedup (round-2 operator; round-3 bench coverage)
    def q6():
        pairs = simhash_candidate_pairs(docs, "doc_id", "text", max_hamming=3)
        extra["simhash_pairs"] = pairs.count()

    bench("q6_simhash_dedup", q6)

    # q7: embedding near-dup via hyperplane LSH (round-2 operator).
    # 48 planes / 6 bands = 8-bit band keys: random-pair band collision
    # ~1/256. Note: the driver embeddings have NO true near-dups (max
    # pairwise cosine 0.60 over 2000 vectors), so the 0-pair result is
    # correct; the timing measures signature + banding + verify machinery.
    def q7():
        pairs = embedding_neardup_pairs(emb, threshold=0.9, method="lsh",
                                        n_planes=48, bands=6)
        extra["embedding_neardup_pairs"] = pairs.count()

    bench("q7_embedding_neardup", q7)

    # q8: PPJoin-style prefix-filtered all-pairs shingle-Jaccard (round-3
    # operator): no blocking key, losslessness proven by the driver oracle;
    # the timing measures prefix build + token join + set verify.
    def q8():
        pairs = prefix_filtered_jaccard_pairs(docs, "doc_id", "text",
                                              threshold=0.5, shingle_k=2)
        extra["prefix_jaccard_pairs"] = pairs.count()

    bench("q8_prefix_jaccard", q8)

    # q9: sorted-neighborhood candidate generation (round-3 operator):
    # distributed global rank + dense-bucket join, window 6 over the
    # truncated token-sort key.
    def q9():
        d = docs.select("doc_id",
                        F.substring(token_sort_key(F.col("text")), 1, 16).alias("sk"))
        extra["snm_pairs"] = sorted_neighborhood_pairs(
            d, "doc_id", "sk", window=6
        ).count()

    bench("q9_sorted_neighborhood", q9)

    # q10: meta-blocking (round-6 operator): three redundancy-positive
    # blocking passes, CBS/ARCS edge weighting, WNP pruning — the
    # candidate-reduction stage that sits between blocking and scoring.
    def q10():
        from levsim.metablocking import comparison_edges, prune_edges_wnp

        blocks = (
            docs.select(F.concat(F.lit("ls:"), "lang", F.lit(":"),
                                 "source").alias("bk"), "doc_id")
            .unionByName(docs.select(
                F.concat(F.lit("ln:"),
                         F.expr("cast(length(text) div 64 as string)")
                         ).alias("bk"), "doc_id"))
            .unionByName(docs.select(
                F.concat(F.lit("pf:"), F.substring("text", 1, 12)
                         ).alias("bk"), "doc_id"))
        )
        edges = comparison_edges(blocks, id_col="doc_id", key_col="bk",
                                 max_block_size=64)
        extra["meta_block_kept"] = prune_edges_wnp(
            edges, weight_col="arcs_ppm").count()

    bench("q10_meta_blocking", q10)

    # q11: Fellegi-Sunter end-to-end (round-6 operator): gammas on the
    # blocked pairs, bounded pattern groupBy, 3 EM iterations, inline
    # pair scoring — the probabilistic-ER hot path.
    def q11():
        from levsim.linkage import (agreement_vectors, fs_em,
                                    fs_score_pairs, pattern_counts)

        a = docs.select("lang", "source", F.col("doc_id").alias("id_a"),
                        F.col("text").alias("text_a"))
        b = docs.select("lang", "source", F.col("doc_id").alias("id_b"),
                        F.col("text").alias("text_b"))
        p = a.join(F.broadcast(b), ["lang", "source"]).where(
            F.col("id_a") < F.col("id_b"))
        gc = ["g_pre", "g_len", "g_tail"]
        g = agreement_vectors(p, {
            "g_pre": F.expr("substring(text_a,1,12) = substring(text_b,1,12)"),
            "g_len": F.expr("(length(text_a) div 32) = (length(text_b) div 32)"),
            "g_tail": F.expr("right(text_a,8) = right(text_b,8)"),
        })
        pc = pattern_counts(g, gc).localCheckpoint()
        pats = [(tuple(int(r[c]) for c in gc), int(r["cnt"]))
                for r in pc.collect()]
        em = fs_em(pats, n_iters=3)
        extra["fs_matches"] = fs_score_pairs(
            g, gc, em["m_ppm"], em["u_ppm"], em["lambda_ppm"],
            min_posterior_ppm=500_000).count()

    bench("q11_fellegi_sunter", q11)

    # greedy 1:1 matching (round-6 operator) is deliberately NOT a bench
    # query: its cost is rounds x fixed per-job overhead (11 fixpoint
    # rounds at sf0.1, ~58s measured — 3x the whole suite), which is a
    # local-mode scheduling artifact, not a data-volume signal the suite
    # tracks.  Its per-round plan shape is pinned in
    # tests/test_plan_pushdown.py and its values in the greedy_matching
    # driver query at both SFs.

    total = round(sum(timings.values()), 3)
    extra["samples"] = samples_all
    print(json.dumps({
        "metric": "er_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "extra": extra,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
