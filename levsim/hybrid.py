"""Hybrid (token-level x character-level) string comparators: Monge-Elkan
(Monge & Elkan 1996, "The field matching problem"; generalized mean form
per Jimenez et al. 2009).

ME(a, b) = (1/|T_a|) * sum over tokens s in T_a of max over t in T_b of
inner_sim(s, t) — a word-order-insensitive comparator that still credits
near-miss token spellings (unlike token_set_ratio's exact-set overlap),
the classic choice for person/org/address fields in record linkage.

Spark shape (why this scales):

* Token multisets are reduced to (pair, token, cnt) WEIGHTED DISTINCT
  rows first, so duplicate tokens cost one inner comparison instead of
  one per occurrence — the mean re-weights by cnt at the end.  The
  per-pair work is |distinct(T_a)| x |distinct(T_b)| inner comparisons,
  bounded by ``max_tokens`` (take the first N tokens of each side; NULL
  disables).
* The inner similarity runs through the house Arrow-batched jaro kernel
  (``levsim.udfs.pair_udf("jaro")`` -> C batch_jaro) — ONE vectorized crossing
  over the exploded token-pair table, never a per-row Python UDF.
* Both reductions (max over T_b, weighted mean over T_a) are plain
  groupBy aggregates with map-side partial aggregation; nothing global.

Reference parity: the inner kernel is the reference's own jaro
(src/Levenshtein/__init__.py `jaro`); ME itself has no counterpart in
the reference — net-new engine surface layered on its kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["monge_elkan_pairs", "soft_tfidf_pairs"]


def soft_tfidf_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    theta_ppm: int = 900_000,
    idf_scale: int = 1000,
    prefix_weight: float = 0.1,
) -> DataFrame:
    """SoftTFIDF (Cohen, Ravikumar & Fienberg, IIWeb 2003, "A Comparison of
    String Distance Metrics for Name-Matching Tasks") for candidate pairs —
    the hybrid that won their name-matching benchmark: TF-IDF's rare-token
    emphasis plus Jaro-Winkler's typo tolerance.

        S(a,b) = sum over tokens s of a with CLOSE(s,b) != {} of
                 V(s,a) * V(t*,b) * jw(s,t*)
        CLOSE(s,b) = {t in b : jw(s,t) >= theta},  t* = argmax jw(s,t)

    normalized by the docs' TF-IDF vector norms (the V's are unit-vector
    components, so emitting exact integer dot/na2/nb2 and deriving the
    quotient per-row keeps both engines on one IEEE tree — the
    tfidf_cosine_pairs pattern).

    Exact-integer surface: token weight w = tf * ((idf_scale * N) div df)
    (linear floor-scaled idf — the repo-wide no-cross-engine-log rule);
    jw quantized to ppm BIGINT (round-6 jw parity with DuckDB is
    established by the jaro_winkler oracle queries); per-token best is
    max(jw_ppm) with the tied-best weight resolved as max(w_b) over the
    argmax set — both plain aggregates, deterministic in any engine.
    dot_ppm = sum(w_a * w_b_best * best_jw_ppm) is an exact BIGINT;
    soft_sim = dot_ppm / 1e6 / sqrt(na2 * nb2).

    Scale shape: weights/df/norms are (id, token)-grained groupBys with
    map-side combine; the only crossing is the distinct-token cross join
    per candidate pair (bounded by the pair's token counts, same as
    monge_elkan_pairs) through ONE Arrow jw batch — never per-row Python.
    A loud up-front BIGINT guard (one scalar aggregate) rejects idf_scale
    values whose worst-case dot term would wrap Spark's non-ANSI sum.
    """
    from levsim.udfs import pair_udf

    n_docs = docs.select(F.countDistinct(F.col(id_col)).alias("n")).collect()[0]["n"]
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda t: t != F.lit(""))
        ).alias("tok"),
    )
    cnt = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    cnt = cnt.localCheckpoint(eager=False)
    g = (
        cnt.groupBy("doc_id")
        .agg(F.max("c").alias("mc"), F.count("*").alias("nt"))
        .agg(F.max("mc").alias("max_tf"), F.max("nt").alias("max_toks"))
        .collect()[0]
    )
    max_tf, max_toks = int(g["max_tf"] or 0), int(g["max_toks"] or 0)
    # worst dot term: w_a * w_b * 1e6 with w <= max_tf * idf_scale * N (df=1),
    # summed over <= max_toks matched a-tokens; norms are the smaller
    # w^2 * max_toks.  Exact Python ints; raise instead of wrapping.
    worst = (max_tf * idf_scale * n_docs) ** 2 * 1_000_000 * max_toks
    if worst > (1 << 63) - 1:
        raise ValueError(
            f"soft_tfidf_pairs: idf_scale={idf_scale} can overflow BIGINT "
            f"dot terms (worst case {worst:.3e} with max_tf={max_tf}, "
            f"N={n_docs}, max_toks/doc={max_toks}); lower idf_scale"
        )
    dfreq = cnt.groupBy("tok").agg(F.count("*").alias("df"))
    w = cnt.join(dfreq, "tok").select(
        "doc_id", "tok",
        (F.col("c") * F.expr(f"({idf_scale} * {n_docs}L) div df")).alias("w"),
    ).localCheckpoint(eager=False)
    nrm = w.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))

    pairs = pairs.select("id_a", "id_b").localCheckpoint(eager=False)
    wa = w.select(F.col("doc_id").alias("id_a"), F.col("tok").alias("tok_a"),
                  F.col("w").alias("wa"))
    wb = w.select(F.col("doc_id").alias("id_b"), F.col("tok").alias("tok_b"),
                  F.col("w").alias("wb"))
    cross = pairs.join(wa, "id_a").join(wb, "id_b")
    jw = pair_udf("jaro_winkler", prefix_weight=prefix_weight)
    sims = cross.withColumn(
        "_jw", jw(F.col("tok_a"), F.col("tok_b"))
    ).withColumn("jw_ppm", F.expr("cast(round(_jw * 1000000) as bigint)"))
    close = sims.where(F.col("jw_ppm") >= F.lit(int(theta_ppm)))
    best = close.groupBy("id_a", "id_b", "tok_a", "wa").agg(
        F.max("jw_ppm").alias("best_jw")
    )
    bw = (
        close.join(best, ["id_a", "id_b", "tok_a", "wa"])
        .where(F.col("jw_ppm") == F.col("best_jw"))
        .groupBy("id_a", "id_b", "tok_a", "wa", "best_jw")
        .agg(F.max("wb").alias("wb_best"))
    )
    dot = bw.groupBy("id_a", "id_b").agg(
        F.sum(F.col("wa") * F.col("wb_best") * F.col("best_jw")).alias("dot_ppm")
    )
    na = nrm.select(F.col("doc_id").alias("id_a"), F.col("n2").alias("na2"))
    nb = nrm.select(F.col("doc_id").alias("id_b"), F.col("n2").alias("nb2"))
    return (
        pairs.join(dot, ["id_a", "id_b"], "left")
        .withColumn("dot_ppm", F.coalesce(F.col("dot_ppm"), F.lit(0)).cast("long"))
        .join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a", "id_b", "dot_ppm",
            F.col("na2").cast("long").alias("na2"),
            F.col("nb2").cast("long").alias("nb2"),
            # cast BEFORE multiplying: na2*nb2 as BIGINT could wrap even when
            # each norm is in range; double*double is the same IEEE tree as
            # the oracle's sqrt(CAST(na2 AS DOUBLE) * nb2)
            (F.col("dot_ppm") / F.lit(1e6)
             / F.sqrt(F.col("na2").cast("double") * F.col("nb2"))
             ).alias("soft_sim"),
        )
    )


def _tok_counts(pairs, text_col, side, max_tokens):
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != F.lit(""))
    if max_tokens is not None:
        toks = F.slice(toks, 1, int(max_tokens))
    return (
        pairs.select("id_a", "id_b", F.explode(toks).alias(f"tok_{side}"))
        .groupBy("id_a", "id_b", f"tok_{side}")
        .agg(F.count("*").cast("long").alias(f"cnt_{side}"))
    )


def monge_elkan_pairs(
    pairs: DataFrame,
    text_a: str = "text_a",
    text_b: str = "text_b",
    max_tokens: int | None = 64,
    quantize_ppm: bool = False,
) -> DataFrame:
    """Monge-Elkan similarity for every (id_a, id_b) pair.

    Returns (id_a, id_b, me_sim) with ``me_sim`` the occurrence-weighted
    mean over a-tokens of the best jaro against b-tokens (ME is
    asymmetric by definition: swap the text columns for b -> a).  Pairs
    where either side has no tokens get me_sim = 0.0 (disagreement,
    mirroring the NULL-gamma convention in levsim.linkage).

    ``quantize_ppm=True`` returns (id_a, id_b, me_ppm BIGINT) instead:
    each per-token best jaro is quantized to round(best * 1e6) BIGINT
    and the weighted mean is an integer floor division — the house
    cross-engine fixed point.  The float mean is NOT exactly replayable
    by a SQL oracle (a sum of doubles is summation-order-sensitive at
    the round-6 boundary, observed in the wild at sf0.01); per-value
    round-6 jaro parity with DuckDB IS established (jaro_pairs), so
    quantize-then-integer-mean is exact."""
    from levsim.udfs import pair_udf

    ta = _tok_counts(pairs, text_a, "a", max_tokens)
    tb = _tok_counts(pairs, text_b, "b", max_tokens)
    best = (
        ta.join(tb, ["id_a", "id_b"])
        .withColumn("_sim", pair_udf("jaro")(F.col("tok_a"), F.col("tok_b")))
        .groupBy("id_a", "id_b", "tok_a", "cnt_a")
        .agg(F.max("_sim").alias("_best"))
    )
    if quantize_ppm:
        me = best.groupBy("id_a", "id_b").agg(
            F.expr("sum(cnt_a * cast(round(_best * 1000000) as bigint)) div sum(cnt_a)")
            .alias("_me")
        )
    else:
        me = best.groupBy("id_a", "id_b").agg(
            (F.sum(F.col("cnt_a") * F.col("_best")) / F.sum("cnt_a")).alias("_me")
        )
    # left join back so token-less sides surface as 0, not missing rows
    out_col = "me_ppm" if quantize_ppm else "me_sim"
    zero = F.lit(0).cast("long") if quantize_ppm else F.lit(0.0)
    return (
        pairs.select("id_a", "id_b")
        .join(me, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            F.coalesce(F.col("_me"), zero).alias(out_col),
        )
    )
