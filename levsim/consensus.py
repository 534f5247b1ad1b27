"""Cluster representative election — the median family as a grouped-map op.

``groupBy(cluster_id).applyInPandas`` runs one consensus election per
cluster: ``setmedian`` (medoid; default — always a real member),
``quickmedian`` (positional voting, the reference's documented scale
choice, levenshtein_cpp.pyx:93-96), ``median`` (greedy generalized
median) or ``median_improve`` refinement.

The reference's weights-as-multiplicities rewrite
(_levenshtein.hpp:137-139: "considerably more efficient to give a string
with weight 2 than to store two identical strings") is applied as an actual
relational rewrite: members are deduped to (text, count) before the kernel
call.  Member order is pinned by sorting on doc id so tie-breaks ("first
string wins") are deterministic regardless of shuffle order.
"""

from __future__ import annotations

import os
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

from . import kernels

CONSENSUS_SCHEMA = StructType(
    [
        StructField("cluster_id", StringType()),
        StructField("n_members", LongType()),
        StructField("representative", StringType()),
    ]
)


def _consensus_fn(method: str, improve_rounds: int, text_col: str, id_col: str):
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort")
        texts = pdf[text_col].dropna().tolist()
        cid = str(pdf["cluster_id"].iloc[0])
        if not texts:
            return pd.DataFrame(
                {"cluster_id": [cid], "n_members": [0], "representative": [None]}
            )
        # weights-as-multiplicities rewrite: dedupe, first occurrence order
        seen: dict = {}
        for t in texts:
            seen[t] = seen.get(t, 0) + 1
        uniq = list(seen.keys())
        w = [float(c) for c in seen.values()]
        if method == "setmedian":
            rep = kernels.setmedian(uniq, w)
        elif method == "quickmedian":
            rep = kernels.quickmedian(uniq, w)
        elif method == "median":
            rep = kernels.median(uniq, w)
            for _ in range(improve_rounds):
                rep = kernels.median_improve(rep, uniq, w)
        else:
            raise ValueError(f"unknown consensus method {method!r}")
        return pd.DataFrame(
            {"cluster_id": [cid], "n_members": [len(texts)], "representative": [rep]}
        )

    return fn


def group_median_table(
    df: DataFrame,
    group_cols: list,
    text_col: str,
    order_col: str,
    method: str = "setmedian",
    out_col: str = "median_text",
) -> DataFrame:
    """Per-group median election over arbitrary grouping columns, preserving
    the reference's list semantics exactly: members are passed in
    ``order_col`` order (ties -> first in list, matching the reference's
    strict-< argmin), weights all 1, duplicates kept as-is."""
    from pyspark.sql import functions as F

    schema = StructType(
        [StructField(c, df.schema[c].dataType) for c in group_cols]
        + [StructField(out_col, StringType())]
    )

    def fn(keys, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort")
        texts = pdf[text_col].dropna().tolist()
        if method == "setmedian":
            rep = kernels.setmedian(texts) if texts else None
        elif method == "quickmedian":
            rep = kernels.quickmedian(texts) if texts else None
        elif method == "median":
            rep = kernels.median(texts) if texts else None
        elif method == "median_improve":
            # one hill-climbing pass from a deliberately BAD fixed seed
            # ('~' sorts above every corpus char), so the pass itself must
            # do the work — the driver query's single-char oracle checks
            # the climb, not the seed
            rep = kernels.median_improve("~", texts) if texts else None
        else:
            raise ValueError(method)
        row = {c: [k] for c, k in zip(group_cols, keys)}
        row[out_col] = [rep]
        return pd.DataFrame(row)

    return df.groupBy(*group_cols).applyInPandas(fn, schema)


def elect_representatives(
    clustered: DataFrame,
    method: str = "setmedian",
    improve_rounds: int = 0,
    text_col: str = "norm_text",
    id_col: str = "doc_id",
    max_members: Optional[int] = 1000,
) -> DataFrame:
    """clustered(doc_id, cluster_id, <text_col>) -> one representative per
    cluster.  ``max_members`` caps the per-group kernel cost for megaclusters
    (deterministic sample: lowest doc ids)."""
    from pyspark.sql import functions as F

    from pyspark.sql import Window

    df = clustered.select(
        F.col("cluster_id").cast("string").alias("cluster_id"),
        F.col(id_col).cast("string").alias(id_col),
        F.col(text_col).alias(text_col),
    )
    # ONE hash exchange on cluster_id serves everything below: the cap
    # window, the size window (replaces the old groupBy+join round-trip),
    # and applyInPandas' required clustering all share it (verified: a
    # single Exchange in the executed plan).  Megacluster caveat: the cap
    # window still sorts each cluster in one task — use
    # elect_representatives_hierarchical when clusters can exceed task
    # memory.
    if max_members is not None:
        wnd = Window.partitionBy("cluster_id").orderBy(id_col)
        df = df.withColumn("_rn", F.row_number().over(wnd)).where(
            F.col("_rn") <= max_members
        ).drop("_rn")
    df = df.withColumn("_n", F.count("*").over(Window.partitionBy("cluster_id")))
    # one materialization for BOTH union branches below (Spark does not CSE
    # a shared subtree across union arms — without this the exchange and
    # windows execute twice, once per branch)
    df = df.localCheckpoint(eager=False)
    # singleton fast path: in web dedup most clusters have one member, and
    # every median variant of a single string is that string — keep those
    # rows entirely JVM-side and run Python only on multi-member clusters
    singles = df.where(F.col("_n") == 1).select(
        "cluster_id",
        F.lit(1).cast("long").alias("n_members"),
        F.col(text_col).alias("representative"),
    )
    # Width the consensus exchange by COMPUTE capacity (round 7): the
    # localCheckpoint above erases the window's partitioning info
    # (LogicalRDD reports UnknownPartitioning), so applyInPandas inserts
    # a fresh exchange that AQE then sizes by BYTES — at 20k docs / 5k
    # multi-member clusters the election stage ran in ~5 tasks, 12.5s
    # nearly serial, while per-cluster kernel cost (not bytes) is the
    # real load.  An explicit repartition on cluster_id at the cluster's
    # total cores feeds applyInPandas directly (one exchange, exempt
    # from AQE coalescing): 17s -> ~2.7s at the 4x holdout corpus,
    # neutral at sf0.1 (measured both).  Override with
    # LEVSIM_CONSENSUS_PARTITIONS.
    n_part = int(os.environ.get("LEVSIM_CONSENSUS_PARTITIONS", "0")) or (
        clustered.sparkSession.sparkContext.defaultParallelism
    )
    multi = (
        df.where(F.col("_n") > 1)
        .drop("_n")
        .repartition(n_part, "cluster_id")
        .groupBy("cluster_id")
        .applyInPandas(_consensus_fn(method, improve_rounds, text_col, id_col),
                       CONSENSUS_SCHEMA)
    )
    return singles.unionByName(multi)


_LEVEL1_SCHEMA = StructType(
    [
        StructField("cluster_id", StringType()),
        StructField("_salt", LongType()),
        StructField("rep", StringType()),
        StructField("weight", LongType()),
    ]
)


def elect_representatives_hierarchical(
    clustered: DataFrame,
    method: str = "quickmedian",
    text_col: str = "norm_text",
    id_col: str = "doc_id",
    fanout: int = 64,
    direct_threshold: int = 1000,
) -> DataFrame:
    """Two-level consensus for megaclusters (median of per-subgroup medians
    — the docs/DESIGN.md §6 upgrade path).

    Clusters larger than ``direct_threshold`` are split into ``fanout``
    deterministic subgroups (id-hash salt); each subgroup elects a local
    representative, then a weighted consensus over the local reps (weight =
    subgroup size, the reference's weights-as-multiplicities semantics)
    produces the final string.  Per-task kernel cost is bounded by the
    subgroup size regardless of cluster size; no single task ever holds a
    whole megacluster.  Sub-threshold clusters keep ONE subgroup, where the
    two-level result reduces exactly to the flat election (consensus of a
    single representative is itself — equality asserted in tests)."""
    from pyspark.sql import functions as F

    df = clustered.select(
        F.col("cluster_id").cast("string").alias("cluster_id"),
        F.col(id_col).cast("string").alias(id_col),
        F.col(text_col).alias(text_col),
    )
    sizes = df.groupBy("cluster_id").agg(F.count("*").alias("_n"))
    df = df.join(sizes, "cluster_id")
    df = df.withColumn(
        "_salt",
        F.when(F.col("_n") > direct_threshold,
               F.pmod(F.xxhash64(F.col(id_col)), F.lit(fanout)).cast("long"))
        .otherwise(F.lit(0).cast("long")),
    )

    def _level1(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort")
        texts = pdf[text_col].dropna().tolist()
        cid = str(pdf["cluster_id"].iloc[0])
        salt = int(pdf["_salt"].iloc[0])
        if not texts:
            return pd.DataFrame({"cluster_id": [cid], "_salt": [salt],
                                 "rep": [None], "weight": [0]})
        seen: dict = {}
        for t in texts:
            seen[t] = seen.get(t, 0) + 1
        rep = _elect(method, list(seen.keys()), [float(c) for c in seen.values()])
        return pd.DataFrame({"cluster_id": [cid], "_salt": [salt],
                             "rep": [rep], "weight": [len(texts)]})

    level1 = df.groupBy("cluster_id", "_salt").applyInPandas(_level1, _LEVEL1_SCHEMA)

    def _level2(pdf: pd.DataFrame) -> pd.DataFrame:
        # deterministic member order: by salt (subgroup index)
        pdf = pdf.sort_values("_salt", kind="mergesort")
        cid = str(pdf["cluster_id"].iloc[0])  # BEFORE the notna filter —
        # a cluster whose members are all null-text must keep its id
        pdf = pdf[pdf["rep"].notna()]
        if not len(pdf):
            return pd.DataFrame({"cluster_id": [cid], "n_members": [0],
                                 "representative": [None]})
        reps = pdf["rep"].tolist()
        ws = [float(w) for w in pdf["weight"].tolist()]
        rep = _elect(method, reps, ws)
        return pd.DataFrame({
            "cluster_id": [cid],
            "n_members": [int(sum(pdf["weight"]))],
            "representative": [rep],
        })

    return level1.groupBy("cluster_id").applyInPandas(_level2, CONSENSUS_SCHEMA)


def _elect(method: str, texts: list, weights: list) -> str:
    if method == "setmedian":
        return kernels.setmedian(texts, weights)
    if method == "quickmedian":
        return kernels.quickmedian(texts, weights)
    if method == "median":
        return kernels.median(texts, weights)
    raise ValueError(f"unknown consensus method {method!r}")


def select_canonical(
    clustered: DataFrame,
    cluster_col: str = "cluster_id",
    id_col: str = "doc_id",
    text_col: str = "norm_text",
    policy: str = "longest",
    metric_col: Optional[str] = None,
) -> DataFrame:
    """The post-dedup "which copy survives" step: ONE canonical member per
    cluster by a deterministic policy (round 5) — unlike the consensus
    electors above, the canonical doc is an EXISTING row, not a synthesized
    median string, which is what a training-data dedup pipeline wants
    (provenance-preserving).

    Policies: ``longest`` / ``shortest`` text, ``min_id``, or ``metric``
    (max of ``metric_col``, e.g. a quality score).  Ties always break to
    the smallest id — deterministic under retries and partitionings.

    Scale shape: two partial-aggregable groupBys and one equi-join on
    (cluster, best-metric) — NO window function, so megaclusters cost the
    same per row as singletons (contrast: a row_number window sorts each
    cluster in one task).  Works for string or numeric ids (no negation
    trick, hence the join instead of one max(struct)).

    Returns (cluster_col, canon_id, metric); for ``shortest`` the metric
    is the winning text's actual length (the negation is internal), and a
    ``metric``-policy cluster whose metrics are all NULL still yields a
    row (min-id fallback, NULL metric) rather than being dropped.
    """
    from pyspark.sql import functions as F

    if policy == "longest":
        metric = F.length(F.col(text_col)).cast("long")
    elif policy == "shortest":
        metric = -F.length(F.col(text_col)).cast("long")
    elif policy == "min_id":
        metric = F.lit(0).cast("long")
    elif policy == "metric":
        if not metric_col:
            raise ValueError("policy='metric' requires metric_col")
        metric = F.col(metric_col)
    else:
        raise ValueError(f"unknown canonical policy {policy!r}")
    scored = clustered.select(
        F.col(cluster_col), F.col(id_col), metric.alias("_m")
    )
    best = scored.groupBy(cluster_col).agg(F.max("_m").alias("_b"))
    best = best.withColumnRenamed(cluster_col, "_bc")
    # Null-safe metric match (round 6, ADVICE): with policy='metric' a
    # cluster whose every metric_col is NULL has max(_m) = NULL, and a
    # plain equi-join on the metric would drop the whole cluster.  The
    # <=> comparison matches NULL to NULL, so such clusters fall back to
    # the min-id tie-break and emit a NULL metric instead of vanishing.
    # (Rows with a NULL metric in a mixed cluster still lose to any
    # non-NULL max, as before.)
    out_metric = F.max("_m")
    if policy == "shortest":
        # _m is negated only so max() finds the shortest; report the
        # actual length, not the comparison key (round 6, ADVICE).
        out_metric = F.abs(F.max("_m"))
    return (
        scored.join(
            best,
            (F.col(cluster_col) == F.col("_bc"))
            & F.col("_m").eqNullSafe(F.col("_b")),
        )
        .drop("_bc")
        .groupBy(cluster_col)
        .agg(F.min(id_col).alias("canon_id"), out_metric.alias("metric"))
    )
