"""Pairwise F1 evaluation against labeled pairs (BASELINE.json metric:
"pairwise F1 >= 0.99 on labeled pairs at fixed blocking key").

All set algebra is done with joins (one full outer join gives TP, FP and
FN) — no collect of pair sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def truth_pairs_from_entities(docs: DataFrame, id_col: str = "url",
                              entity_col: str = "entity_id") -> DataFrame:
    """Ground-truth positive pairs: all intra-entity pairs (id_a < id_b)."""
    a = docs.select(F.col(entity_col).alias("e"), F.col(id_col).alias("id_a"))
    b = docs.select(F.col(entity_col).alias("e"), F.col(id_col).alias("id_b"))
    return a.join(b, "e").where(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")


def pairs_from_clusters(clustered: DataFrame, id_col: str = "url",
                        cluster_col: str = "cluster_id") -> DataFrame:
    """Predicted positive pairs implied by the clustering."""
    a = clustered.select(F.col(cluster_col).alias("c"), F.col(id_col).alias("id_a"))
    b = clustered.select(F.col(cluster_col).alias("c"), F.col(id_col).alias("id_b"))
    return a.join(b, "c").where(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")


def pair_f1(predicted: DataFrame, truth: DataFrame) -> dict:
    """Pairwise precision, recall and F1 of predicted (id_a, id_b) pairs
    against truth pairs, duplicates ignored: one full outer join of the two
    pair sets and one aggregate (tp in both, fp only predicted, fn only
    truth)."""
    p = predicted.select("id_a", "id_b").dropDuplicates(["id_a", "id_b"]).withColumn("_p", F.lit(True))
    t = truth.select("id_a", "id_b").dropDuplicates(["id_a", "id_b"]).withColumn("_t", F.lit(True))
    tp, fp, fn = p.join(t, ["id_a", "id_b"], "full").agg(
        F.count_if(F.col("_p") & F.col("_t")),
        F.count_if(F.col("_t").isNull()),
        F.count_if(F.col("_p").isNull()),
    ).first()
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": precision, "recall": recall, "f1": f1}


def bcubed_overlap_table(
    assigned: DataFrame,
    id_col: str = "url",
    cluster_col: str = "cluster_id",
    truth_col: str = "entity_id",
) -> DataFrame:
    """The exact-integer core of B-cubed evaluation (Bagga & Baldwin 1998;
    Amigo et al. 2009 — the standard cluster-level ER metric, complementing
    pairwise F1 which over-weights large clusters quadratically): one row
    per overlapping (predicted cluster, truth entity) pair with

      ni = |cluster ∩ entity|,  nc = |cluster|,  nt = |entity|

    — everything downstream is driver-side rational arithmetic over this
    table (see :func:`bcubed`), so the distributed part stays pure
    integer joins/aggregates: per-record precision p(r) = ni/nc and recall
    r(r) = ni/nt are constant within an overlap cell, hence the weighted
    identities  sum_r p(r) = sum_cells ni^2/nc  and
    sum_r r(r) = sum_cells ni^2/nt.

    Scale shape: one groupBy per size table + a groupBy on the (record ->
    (cluster, entity)) projection — three partial-aggregable shuffles on
    id-sized rows; nothing pairwise, nothing quadratic (pairwise F1's
    truth-pair join is Theta(sum |entity|^2); this is Theta(records))."""
    a = assigned.select(
        F.col(id_col).alias("id"),
        F.col(cluster_col).alias("c"),
        F.col(truth_col).alias("t"),
    )
    inter = a.groupBy("c", "t").agg(F.count("*").cast("long").alias("ni"))
    csz = a.groupBy("c").agg(F.count("*").cast("long").alias("nc"))
    tsz = a.groupBy("t").agg(F.count("*").cast("long").alias("nt"))
    return (
        inter.join(csz, "c").join(tsz, "t")
        .select(F.col("c").alias("cluster_id"), F.col("t").alias("entity_id"),
                "ni", "nc", "nt")
    )


def bcubed(
    assigned: DataFrame,
    id_col: str = "url",
    cluster_col: str = "cluster_id",
    truth_col: str = "entity_id",
) -> dict:
    """B-cubed precision/recall/F1, fully distributive (round 6, VERDICT
    #4): both weighted sums are plain aggregates over the overlap-cell
    table —  sum_r p(r) = sum_cells ni^2/nc  and  sum_r r(r) = sum_cells
    ni^2/nt  — so the whole metric reduces to ONE ``agg`` returning three
    scalars.  Nothing row-shaped ever reaches the driver: at 10^9 records
    with fragmented clusters the old per-cell ``.collect()`` (see
    :func:`bcubed_collected`, kept as the test cross-check) was an
    O(#overlap-cells) driver materialization; this is O(1)."""
    row = (
        bcubed_overlap_table(assigned, id_col, cluster_col, truth_col)
        .agg(
            F.sum("ni").alias("n"),
            F.sum(F.col("ni") * F.col("ni") / F.col("nc")).alias("sp"),
            F.sum(F.col("ni") * F.col("ni") / F.col("nt")).alias("sr"),
        )
        .collect()[0]
    )
    n = int(row["n"] or 0)
    if n == 0:
        return {"n": 0, "precision": 1.0, "recall": 1.0, "f1": 1.0}
    p = row["sp"] / n
    rr = row["sr"] / n
    f1 = 2 * p * rr / (p + rr) if p + rr else 0.0
    return {"n": n, "precision": p, "recall": rr, "f1": f1}


def bcubed_collected(
    assigned: DataFrame,
    id_col: str = "url",
    cluster_col: str = "cluster_id",
    truth_col: str = "entity_id",
) -> dict:
    """The pre-round-6 driver-side formulation: collect the overlap cells
    and finish in Python arithmetic.  Kept ONLY as the independent
    cross-check for :func:`bcubed` (tests assert the two agree) — do not
    use in pipelines; it materializes O(#overlap-cells) rows on the
    driver."""
    cells = bcubed_overlap_table(assigned, id_col, cluster_col, truth_col).collect()
    n = sum(r.ni for r in cells)
    if n == 0:
        return {"n": 0, "precision": 1.0, "recall": 1.0, "f1": 1.0}
    p = sum(r.ni * r.ni / r.nc for r in cells) / n
    rr = sum(r.ni * r.ni / r.nt for r in cells) / n
    f1 = 2 * p * rr / (p + rr) if p + rr else 0.0
    return {"n": n, "precision": p, "recall": rr, "f1": f1}


def purity_components(
    assigned: DataFrame,
    id_col: str = "url",
    cluster_col: str = "cluster_id",
    truth_col: str = "entity_id",
) -> DataFrame:
    """Purity / inverse purity as ONE row of exact BIGINT components
    (Zhao & Karypis 2001; Amigo et al. 2009 §2 — the majority-vote
    cluster-quality pair: purity = (1/N) Σ_c max_t |c ∩ t| penalizes
    mixing entities inside a cluster, inverse purity = (1/N) Σ_t max_c
    |c ∩ t| penalizes splitting an entity across clusters; each alone is
    gameable — singletons give purity 1, one giant cluster gives inverse
    purity 1 — so both are emitted, plus their ppm harmonic mean F).

    Everything is counts, max and sum over the same overlap-cell table as
    B-cubed (``ni = |cluster ∩ entity|``), followed by ppm floor division
    — exact cross-engine, no float.  Scale shape: two groupBys over
    overlap cells (bounded by #(cluster, entity) overlaps, never by
    records) and one scalar row out; fully partial-aggregable.
    """
    cells = bcubed_overlap_table(assigned, id_col, cluster_col, truth_col)
    per_c = cells.groupBy("cluster_id").agg(F.max("ni").alias("mx"))
    per_t = cells.groupBy("entity_id").agg(F.max("ni").alias("mx"))
    counts = (
        cells.agg(F.sum("ni").cast("long").alias("n"))
        .crossJoin(per_c.agg(F.sum("mx").cast("long").alias("sum_c_max")))
        .crossJoin(per_t.agg(F.sum("mx").cast("long").alias("sum_t_max")))
    )
    return counts.select(
        "n", "sum_c_max", "sum_t_max",
        F.expr("(1000000 * sum_c_max) div greatest(1, n)").alias("purity_ppm"),
        F.expr("(1000000 * sum_t_max) div greatest(1, n)").alias("inv_purity_ppm"),
        # harmonic mean in ppm: 2*p*i/(p+i), floor at the very end
        F.expr(
            "(2 * ((1000000 * sum_c_max) div greatest(1, n)) "
            "* ((1000000 * sum_t_max) div greatest(1, n))) div "
            "greatest(1, ((1000000 * sum_c_max) div greatest(1, n)) "
            "+ ((1000000 * sum_t_max) div greatest(1, n)))"
        ).alias("purity_f_ppm"),
    )


def blocking_quality(
    candidates: DataFrame,
    truth: DataFrame,
    n_records: int,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Blocking-scheme quality as ONE row of exact BIGINT components
    (the standard trio of Christen, "Data Matching", 2012 §7.3 —
    the numbers that decide whether a blocking key is usable BEFORE any
    scoring runs):

      pair_completeness  PC = found / n_truth   (blocking recall: share
                              of true pairs the blocks retain)
      pairs_quality      PQ = found / n_cand    (blocking precision)
      reduction_ratio    RR = 1 - n_cand / C(n,2)  (search-space cut)

    Emitted as the raw counts plus ppm ratios (``1e6*x div y`` floor
    division — all quantities non-negative, where Spark ``div`` and
    DuckDB ``//`` agree), so a SQL oracle replays the row bit-for-bit.

    Scale shape: both inputs are deduped ids-only pair sets; the only
    work is one inner join (found = |cand ∩ truth|) and three scalar
    counts — partial-aggregable, nothing row-shaped reaches the driver.
    C(n,2) is computed from the passed record count, not by
    materializing the quadratic pair space.
    """
    c = candidates.select(F.col(id_a).alias("id_a"), F.col(id_b).alias("id_b")) \
        .dropDuplicates(["id_a", "id_b"])
    t = truth.select(F.col(id_a).alias("id_a"), F.col(id_b).alias("id_b")) \
        .dropDuplicates(["id_a", "id_b"])
    n = int(n_records)
    total = n * (n - 1) // 2
    counts = (
        c.agg(F.count("*").cast("long").alias("n_cand"))
        .crossJoin(t.agg(F.count("*").cast("long").alias("n_truth")))
        .crossJoin(
            c.join(t, ["id_a", "id_b"]).agg(
                F.count("*").cast("long").alias("found")
            )
        )
    )
    return counts.select(
        F.lit(total).cast("long").alias("total_pairs"),
        "n_cand", "n_truth", "found",
        F.expr("(1000000 * found) div greatest(1, n_truth)").alias("pc_ppm"),
        F.expr("(1000000 * found) div greatest(1, n_cand)").alias("pq_ppm"),
        F.expr(
            f"(1000000 * ({total}L - n_cand)) div greatest(1, {total}L)"
        ).alias("rr_ppm"),
    )


def rand_components(
    a: DataFrame,
    b: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "cluster_a",
    b_col: str = "cluster_b",
) -> DataFrame:
    """Adjusted Rand Index between two clusterings of the same records,
    as ONE row of exact BIGINT components (Hubert & Arabie 1985).

    Everything is pair-count arithmetic over the contingency table —
    index = sum_ij C(n_ij,2), a_pairs = sum_i C(n_i.,2), b_pairs =
    sum_j C(n_.j,2), total_pairs = C(n,2) — three Theta(n) groupBys
    plus scalar aggregates, the same fully-distributive shape as
    :func:`bcubed` (nothing row-shaped reaches the driver; at 10^9
    records the contingency table never materializes beyond its own
    grouped aggregation).

    ``ari_ppm`` is the house cross-engine fixed point: multiply the
    standard ARI = (index - expected) / (max_index - expected) through
    by total_pairs to stay integral —

        ari_ppm = 1e6 * (T*index - A*B) div (T*(A+B) div 2 - A*B)

    floor-div throughout, clamped to [0, 1e6].  The clamp matters for
    cross-engine exactness: Spark ``div`` truncates toward zero while
    DuckDB ``//`` floors, which diverge ONLY on negative quotients —
    clamping at 0 (anti-correlated partitions score 0) keeps every
    replayed value in the agreeing non-negative range.  A degenerate
    denominator (both partitions all-singletons or one cluster) scores
    1e6 iff the numerator is also 0 (identical partitions), else 0.
    """
    j = (
        a.select(F.col(id_col).alias("_id"), F.col(a_col).alias("_ca"))
        .join(
            b.select(F.col(id_col).alias("_id"), F.col(b_col).alias("_cb")),
            "_id",
        )
    )
    pairs = "sum(c * (c - 1) div 2)"
    idx = (
        j.groupBy("_ca", "_cb")
        .agg(F.count("*").cast("long").alias("c"))
        .agg(F.expr(pairs).cast("long").alias("index_pairs"))
    )
    ap = (
        j.groupBy("_ca")
        .agg(F.count("*").cast("long").alias("c"))
        .agg(F.expr(pairs).cast("long").alias("a_pairs"))
    )
    bp = (
        j.groupBy("_cb")
        .agg(F.count("*").cast("long").alias("c"))
        .agg(F.expr(pairs).cast("long").alias("b_pairs"))
    )
    tot = j.agg(
        F.count("*").cast("long").alias("n"),
        F.expr("count(*) * (count(*) - 1) div 2").cast("long").alias(
            "total_pairs"
        ),
    )
    num = "(total_pairs * index_pairs - a_pairs * b_pairs)"
    den = "(total_pairs * (a_pairs + b_pairs) div 2 - a_pairs * b_pairs)"
    ari = (
        f"cast(case when {den} = 0 then (case when {num} = 0 then 1000000 "
        f"else 0 end) else least(1000000, greatest(0, "
        f"(1000000 * {num}) div {den})) end as bigint)"
    )
    return (
        tot.crossJoin(idx)
        .crossJoin(ap)
        .crossJoin(bp)
        .select(
            "n", "total_pairs", "index_pairs", "a_pairs", "b_pairs",
            F.expr(ari).alias("ari_ppm"),
        )
    )
