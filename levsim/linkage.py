"""Fellegi-Sunter probabilistic record linkage (Fellegi & Sunter 1969,
"A Theory for Record Linkage", JASA; EM parameter estimation per Winkler
1988, "Using the EM Algorithm for Weight Computation in the
Fellegi-Sunter Model of Record Linkage").

The classic probabilistic-ER primitive the deterministic pipeline lacks:
instead of a single fused score threshold, each candidate pair gets a
vector of K binary field-agreement indicators gamma_k (name prefix
agrees, phone area code agrees, ...), and the model scores the pair by
how much more likely that agreement PATTERN is among true matches (M)
than among non-matches (U):

    P(gamma | M) = prod_k m_k^g  (1-m_k)^(1-g)
    P(gamma | U) = prod_k u_k^g  (1-u_k)^(1-g)
    weight       = P(gamma|M) / P(gamma|U)          (monotone with the
                   textbook log2 weight; log skipped for cross-engine
                   exactness, the same trade as bm25's ratio idf)
    posterior    = lam*P(gamma|M) / (lam*P(gamma|M) + (1-lam)*P(gamma|U))

m_k / u_k / lam are estimated by EM over the agreement-pattern
distribution -- unsupervised, no labeled pairs needed.

Scale shape (why this is a first-class 100 TB operator):

* The ONLY corpus-sized work is (a) computing the K gamma columns on the
  blocked candidate pairs (pure built-in column expressions, whole-stage
  codegen, no UDF) and (b) ONE groupBy over the K binary columns.  That
  groupBy partial-aggregates map-side into at most 2^K cells per task,
  so the shuffle carries <= tasks * 2^K tiny rows no matter how many
  candidate pairs exist.
* EM then iterates driver-side over the collected pattern table --
  bounded by 2^K rows (K <= 20 guarded), the same bounded-driver-loop
  pattern as BPE merge training over the capped vocab
  (textstats.train_bpe) and IVF's sample k-means.  Python integers are
  arbitrary-precision, so the EM arithmetic cannot overflow at any pair
  count.
* Scoring joins the <= 2^K learned pattern weights back to pairs by the
  gamma columns -- broadcast-sized by construction.

Exactness strategy (the house integer-ppm fixed point, as in
extras/retrieval.py and tfidf_cosine_pairs): every probability is a ppm
BIGINT in [1, 10^6 - 1]; products fold left-to-right as
x -> greatest(1, (x * term) div 10^6); every division is integer floor
division (Spark ``div`` == DuckDB ``//``), so a SQL oracle replays the
whole computation -- EM iterations included -- bit-for-bit.  The clamp
to >= 1 keeps degenerate patterns from zeroing a product and is part of
the replayed spec.  For a DuckDB BIGINT oracle the EM M-step numerator
``10^6 * S_k`` (S_k <= 10^6 * n_pairs) bounds the replayable pair count
at ~9.2e6; the production driver-side EM uses unbounded Python ints and
has no such limit.

No counterpart in the reference library (rapidfuzz/Levenshtein provides
the comparators; Fellegi-Sunter is the layer that turns comparator
agreements into match decisions) -- net-new engine surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "agreement_vectors",
    "pattern_counts",
    "fs_em",
    "fs_pattern_weights",
    "fs_score_pairs",
    "tf_value_shares",
    "fs_tf_adjust_pairs",
    "mutual_best_match",
    "greedy_one_to_one",
]

_PPM = 1_000_000


def agreement_vectors(
    pairs: DataFrame, comparisons: dict[str, Column]
) -> DataFrame:
    """Add one 0/1 integer gamma column per comparison.

    ``comparisons`` maps output column name -> boolean Column over the
    pair row (e.g. ``F.col("name_a").substr(1, 4) == F.col("name_b")
    .substr(1, 4)``).  NULL comparisons count as disagreement (0) --
    the standard missing-data convention, applied via coalesce so the
    gamma columns are never NULL.
    """
    out = pairs
    for name, cond in comparisons.items():
        out = out.withColumn(
            name, F.coalesce(cond.cast("int"), F.lit(0)).cast("long")
        )
    return out


def pattern_counts(gammas: DataFrame, gamma_cols: list[str]) -> DataFrame:
    """The one corpus-sized aggregation: (gamma_1..gamma_K) -> cnt.

    Map-side partial aggregation caps the shuffle at tasks * 2^K rows;
    the result has at most 2^K rows total.
    """
    if not 1 <= len(gamma_cols) <= 20:
        raise ValueError(f"K={len(gamma_cols)} gamma columns (1..20 supported)")
    return gammas.groupBy(*gamma_cols).agg(F.count("*").cast("long").alias("cnt"))


def _fold_ppm(x: int, term: int) -> int:
    return max(1, (x * term) // _PPM)


def fs_em(
    patterns: list[tuple[tuple[int, ...], int]],
    n_iters: int = 3,
    m0_ppm: int | None = None,
    u0_ppm: int | None = None,
    lambda0_ppm: int = 100_000,
) -> dict:
    """Exact-integer EM over the bounded pattern table (driver-side).

    ``patterns`` is [(gamma_bits, cnt), ...] -- at most 2^K entries.
    Initial m=0.9, u=0.1, lambda=0.1 (in ppm) unless overridden; K
    per-field m/u values all start equal, symmetry broken by the data in
    the first M-step.  Every update is floor-division arithmetic on ppm
    integers, clamped to [1, 10^6 - 1], so a fixed-iteration SQL replay
    reproduces the result exactly.  Returns {"m_ppm": [...], "u_ppm":
    [...], "lambda_ppm": int, "history": [per-iteration params]}.
    """
    if not patterns:
        raise ValueError("empty pattern table")
    k = len(patterns[0][0])
    m = [m0_ppm if m0_ppm is not None else 900_000] * k
    u = [u0_ppm if u0_ppm is not None else 100_000] * k
    lam = lambda0_ppm
    clamp = lambda v: min(_PPM - 1, max(1, v))  # noqa: E731
    history = []
    for _ in range(n_iters):
        # E-step: responsibility r_p (ppm) per pattern
        resp = []
        for bits, cnt in patterns:
            pm = pu = _PPM
            for g, mk, uk in zip(bits, m, u):
                pm = _fold_ppm(pm, mk if g else _PPM - mk)
                pu = _fold_ppm(pu, uk if g else _PPM - uk)
            lm = (lam * pm) // _PPM
            lu = ((_PPM - lam) * pu) // _PPM
            r = (_PPM * lm) // max(1, lm + lu)
            resp.append((bits, cnt, r))
        # M-step: exact integer sums (Python ints -- no overflow)
        s_m = sum(r * c for _, c, r in resp)
        s_u = sum((_PPM - r) * c for _, c, r in resp)
        total = sum(c for _, c, _ in resp)
        lam = clamp(s_m // max(1, total))
        for j in range(k):
            num_m = sum(r * c for b, c, r in resp if b[j])
            num_u = sum((_PPM - r) * c for b, c, r in resp if b[j])
            m[j] = clamp((_PPM * num_m) // max(1, s_m))
            u[j] = clamp((_PPM * num_u) // max(1, s_u))
        history.append({"m_ppm": list(m), "u_ppm": list(u), "lambda_ppm": lam})
    return {"m_ppm": m, "u_ppm": u, "lambda_ppm": lam, "history": history}


def _pattern_products(gamma_cols, m_ppm, u_ppm):
    """ppm-folded P(gamma|M) / P(gamma|U) as exact-integer expression
    strings (Spark ``div`` == DuckDB ``//``), clamped >= 1 per fold."""
    # seed as BIGINT so the literal*literal head of the fold can't hit
    # 32-bit overflow (Spark ANSI aborts; DuckDB INTEGER would too)
    pm_e = pu_e = f"cast({_PPM} as bigint)"
    for name, mk, uk in zip(gamma_cols, m_ppm, u_ppm):
        tm = f"(case when {name} = 1 then {int(mk)} else {_PPM - int(mk)} end)"
        tu = f"(case when {name} = 1 then {int(uk)} else {_PPM - int(uk)} end)"
        pm_e = f"greatest(1, (({pm_e}) * {tm}) div {_PPM})"
        pu_e = f"greatest(1, (({pu_e}) * {tu}) div {_PPM})"
    return F.expr(pm_e), F.expr(pu_e)


def _score_cols(lambda_ppm):
    """weight / posterior expressions over pm_ppm / pu_ppm columns
    (callers materialize those first).  lm = (lam*pm) div 1e6 and
    lu = ((1e6-lam)*pu) div 1e6 mirror fs_em's E-step exactly."""
    lam = int(lambda_ppm)
    weight = F.expr(f"({_PPM} * pm_ppm) div greatest(1, pu_ppm)")
    post = F.expr(
        f"({_PPM} * (({lam} * pm_ppm) div {_PPM})) div "
        f"greatest(1, (({lam} * pm_ppm) div {_PPM}) + "
        f"(({_PPM - lam} * pu_ppm) div {_PPM}))"
    )
    return weight, post


def fs_pattern_weights(
    pcounts: DataFrame,
    gamma_cols: list[str],
    m_ppm: list[int],
    u_ppm: list[int],
    lambda_ppm: int,
) -> DataFrame:
    """Per-pattern Fellegi-Sunter weight table: for each observed
    agreement pattern, the ppm-folded P(gamma|M) / P(gamma|U) products,
    the ratio match weight (ppm), and the match posterior (ppm) at prior
    ``lambda_ppm``.  <= 2^K rows; this is the table a practitioner reads
    to set thresholds, and the broadcast side of pair classification."""
    pm, pu = _pattern_products(gamma_cols, m_ppm, u_ppm)
    weight, post = _score_cols(lambda_ppm)
    return (
        pcounts.withColumn("pm_ppm", pm)
        .withColumn("pu_ppm", pu)
        .withColumn("weight_ppm", weight)
        .withColumn("posterior_ppm", post)
        .select(*gamma_cols, "cnt", "pm_ppm", "pu_ppm", "weight_ppm", "posterior_ppm")
    )


def tf_value_shares(records: DataFrame, value_col: str) -> DataFrame:
    """Per-value term-frequency share table for one linkage field:
    (value, tf, p_ppm) with ``p_ppm = greatest(1, (1e6 * tf) div N)`` —
    the exact-integer share of records carrying that value (clamped to
    >= 1 so ultra-rare values at huge N stay usable as a divisor; the
    clamp is part of the replayed spec).

    One partial-aggregating groupBy over the records table; the result is
    bounded by the field's distinct-value count.
    """
    n = records.count()
    return (
        records.groupBy(F.col(value_col).alias("value"))
        .agg(F.count("*").cast("long").alias("tf"))
        .withColumn(
            "p_ppm", F.expr(f"greatest(1, (1000000 * tf) div {int(n)}L)")
        )
    )


def fs_tf_adjust_pairs(
    scored: DataFrame,
    value_a: str,
    value_b: str,
    shares: DataFrame,
    u_ppm: int,
) -> DataFrame:
    """Term-frequency adjustment of Fellegi-Sunter match weights for one
    agreement field (Winkler 1988's frequency-based weights; the same
    adjustment splink ships as ``tf_adjustments`` — both public).

    The global u-probability for a field is an AVERAGE over its value
    distribution; agreeing on "Smith" is far weaker evidence than
    agreeing on "Zzyzx".  For a pair agreeing on value v, the
    value-specific u is v's share p_v, so the weight ratio gains a
    factor u / p_v:

        tf_weight_ppm = (weight_ppm * u_ppm) div greatest(1, p_ppm(v))

    — exact BIGINTs throughout (weight_ppm < 1e12 by the per-fold
    clamps, times u_ppm <= 1e6 stays under 1e18 < 2^63).  Rows that
    disagree on the field — or agree on a value missing from ``shares``
    (possible when shares come from a different snapshot) — pass through
    unadjusted with ``tf_p_ppm`` NULL.

    Scale shape: ONE equi-join of the scored pairs against the bounded
    value-share table (broadcast-sized for real linkage fields) + pure
    column arithmetic; nothing else touches the corpus.
    """
    agree = F.col(value_a) == F.col(value_b)
    j = scored.join(
        F.broadcast(shares.select("value", "p_ppm")),
        F.col(value_a) == F.col("value"),
        "left",
    )
    u = int(u_ppm)
    return (
        j.withColumn("tf_p_ppm", F.when(agree, F.col("p_ppm")))
        .withColumn(
            "tf_weight_ppm",
            F.when(
                agree & F.col("p_ppm").isNotNull(),
                F.expr(f"(weight_ppm * {u}L) div greatest(1, p_ppm)"),
            ).otherwise(F.col("weight_ppm")),
        )
        .drop("value", "p_ppm")
    )


def mutual_best_match(
    scored: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    score_col: str = "score_ppm",
    min_score: int | None = None,
) -> DataFrame:
    """One-to-one linkage by mutual best match (reciprocal nearest
    neighbor): keep (a, b) iff b is a's best-scoring partner AND a is
    b's best-scoring partner.  The conservative 1:1 assignment rule of
    classic two-source linkage (each record of file A links to at most
    one record of file B and vice versa) — the greedy symmetric
    approximation practitioners use in place of full bipartite
    assignment, which is inherently sequential and does not distribute.

    Determinism spec (part of the replayable contract): "best" is
    highest ``score_col``, ties broken by SMALLEST partner id — computed
    as max-score-then-min-id in two plain aggregates per side, so any
    engine reproduces the same assignment with no row_number
    nondeterminism.  With an integer ppm score column the whole operator
    is exact cross-engine.

    Scale shape: two groupBys per side over (id, score)-width rows plus
    two equi-joins back — all partial-aggregable, nothing quadratic, no
    window function (a per-key max via window would sort whole
    partitions; the agg shuffles only one row per key).  ``min_score``
    prunes the candidate set before any aggregation.
    """
    s = scored.select(
        F.col(id_a).alias("id_a"), F.col(id_b).alias("id_b"),
        F.col(score_col).alias("score"),
    )
    if min_score is not None:
        s = s.where(F.col("score") >= min_score)
    return _mutual_best(s).select(
        "id_a", "id_b", F.col("score").alias(score_col)
    )


def _mutual_best(s: DataFrame) -> DataFrame:
    """Locally-dominant edges of s(id_a, id_b, score): (a, b) such that the
    edge is both endpoints' best under the strict total edge order
    (score DESC, id_a ASC, id_b ASC) — per side that is max-score-then-
    min-partner-id, two plain aggregates, no window."""

    def best(side: str, partner: str) -> DataFrame:
        mx = s.groupBy(side).agg(F.max("score").alias("score"))
        return (
            s.join(mx, [side, "score"])
            .groupBy(side, "score")
            .agg(F.min(partner).alias(partner))
        )
    ba = best("id_a", "id_b")          # a -> its unique best b
    bb = best("id_b", "id_a")          # b -> its unique best a
    return ba.join(bb, ["id_a", "id_b", "score"]).select("id_a", "id_b", "score")


def greedy_one_to_one(
    scored: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    score_col: str = "score_ppm",
    min_score: int | None = None,
    max_rounds: int = 30,
) -> DataFrame:
    """Greedy maximum-weight bipartite 1:1 matching, distributed via
    iterated locally-dominant edges (Preis 1999; Manne & Bisseling 2007):
    each round keeps every edge that is BOTH endpoints' best remaining
    partner, then drops all edges touching matched nodes.  With the strict
    total edge order (score DESC, id_a ASC, id_b ASC) the union over
    rounds equals the SEQUENTIAL greedy matching by that order exactly —
    property-tested against a driver-side sorted greedy in
    tests/test_linkage.py — while every round is two aggregates + three
    equi-joins per side, nothing sequential.  Greedy is a 1/2-approximation
    to the maximum-weight matching; ``mutual_best_match`` is exactly the
    first round (the conservative subset).

    Returns (id_a, id_b, score_col, round) with ``round`` the 1-based
    iteration the pair was matched in (round 1 = the mutual-best set; a
    value-checkable convergence trace).  Rounds needed = the length of the
    longest preference chain — O(log E) expected on noisy-similarity
    graphs, worst case a monotone score path.  Edges left after
    ``max_rounds`` raise RuntimeError rather than return a partial matching.

    Scale shape: the active edge set shrinks geometrically in practice;
    each round shuffles only (id, score)-width rows; localCheckpoint per
    round truncates the growing plan exactly like connected_components_star.
    """
    s = scored.select(
        F.col(id_a).alias("id_a"), F.col(id_b).alias("id_b"),
        F.col(score_col).alias("score"),
    )
    if min_score is not None:
        s = s.where(F.col("score") >= min_score)
    s = s.localCheckpoint()
    matched = []
    for rnd in range(1, max_rounds + 1):
        m = _mutual_best(s).localCheckpoint()
        # one action per round: the matched count is both the convergence
        # test and the progress signal (a non-empty active set always
        # yields >= 1 locally-dominant edge, so n_matched == 0 iff the
        # active set is empty)
        if m.count() == 0:
            break
        matched.append(m.withColumn("round", F.lit(rnd)))
        s = (
            s.join(m.select("id_a"), "id_a", "left_anti")
            .join(m.select("id_b"), "id_b", "left_anti")
            .localCheckpoint()
        )
    else:
        leftover = s.count()
        if leftover:
            raise RuntimeError(
                f"greedy_one_to_one did not finish within max_rounds={max_rounds} "
                f"rounds: {leftover} candidate edges left"
            )
    if not matched:
        return s.select(
            "id_a", "id_b", F.col("score").alias(score_col),
            F.lit(1).alias("round"),
        ).limit(0)
    out = matched[0]
    for m in matched[1:]:
        out = out.unionByName(m)
    return out.select("id_a", "id_b", F.col("score").alias(score_col), "round")


def fs_score_pairs(
    gammas: DataFrame,
    gamma_cols: list[str],
    m_ppm: list[int],
    u_ppm: list[int],
    lambda_ppm: int,
    min_posterior_ppm: int | None = None,
) -> DataFrame:
    """Score every candidate pair: weight_ppm + posterior_ppm columns
    computed inline as pure built-in expressions (whole-stage codegen --
    identical arithmetic to :func:`fs_pattern_weights`, no join needed
    because the per-pattern products are cheap scalar chains).  Pass
    ``min_posterior_ppm`` to filter to predicted matches."""
    if not len(m_ppm) == len(u_ppm) == len(gamma_cols):
        raise ValueError("m_ppm / u_ppm / gamma_cols length mismatch")
    pm, pu = _pattern_products(gamma_cols, m_ppm, u_ppm)
    weight, post = _score_cols(lambda_ppm)
    out = (
        gammas.withColumn("pm_ppm", pm)
        .withColumn("pu_ppm", pu)
        .withColumn("weight_ppm", weight)
        .withColumn("posterior_ppm", post)
    )
    if min_posterior_ppm is not None:
        out = out.where(F.col("posterior_ppm") >= int(min_posterior_ppm))
    return out
