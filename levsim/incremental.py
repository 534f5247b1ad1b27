"""Incremental entity resolution: the streaming on-ramp composed into a
full catch-up ER round.

Flow per catch-up (all pieces exist elsewhere; this module is the
orchestration):

1. ``streaming.run_incremental_pairs`` ingests NEW page files, keys them
   with the batch expressions, and appends exactly the candidate pairs the
   new pages unlock (stateful, exactly-once — a pair is never emitted
   twice, so the appended pair log IS the incremental work list).
2. ``score_new_pairs`` scores only pairs not yet in the matches log
   (anti-join — cheap because the pair log is append-only) and appends the
   accepted matches.
3. ``refresh_clusters`` re-runs connected components over the FULL match
   log: one exchange of the ids-only accepted edges to a single partition
   and one exact union-find task (two Spark jobs, see ``clustering``).
   Matches are tiny relative to pages (the thresholded survivors), so the
   full closure per catch-up costs well under a second here and needs no
   incremental cluster surgery — merging two clusters correctly requires
   global relabeling anyway.  The bound is the union-find's: the log's
   distinct matched ids must fit in one Python worker.

Equivalence guarantee (tested): after any sequence of catch-ups, clusters
equal the batch pipeline's clusters on the union of all pages, because the
streaming pair log equals the batch candidate set (test_streaming) and
scoring/threshold/CC are the same code.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import scoring
from .clustering import connected_components


def score_new_pairs(
    spark: SparkSession,
    pairs: DataFrame,
    docs: DataFrame,
    matches_path: str,
    tau: float = 0.62,
    scorers: Sequence[str] = ("ratio",),
    id_col: str = "doc_id",
    text_col: str = "norm_text",
) -> int:
    """Score pairs absent from the matches log, append accepted matches.

    ``pairs``: (id_a, id_b) candidate log (append-only, exactly-once).
    ``matches_path``: parquet log of (id_a, id_b, <scores>).  Returns the
    number of NEW pairs scored this round.  The anti-join keys on the pair
    identity, so re-running a catch-up is idempotent."""
    pairs = pairs.select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])
    if os.path.exists(matches_path):
        seen = spark.read.parquet(matches_path).select("id_a", "id_b", "scored")
        todo = pairs.join(seen.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti")
    else:
        todo = pairs
    scored = scoring.score_pairs(
        scoring.attach_texts(todo, docs, id_col=id_col, text_col=text_col),
        tau=tau, scorers=tuple(scorers),
    ).select("id_a", "id_b", *scorers).withColumn("scored", F.lit(True))
    # log EVERY scored pair (not only matches) so the anti-join never
    # re-scores a rejected pair on the next catch-up
    n_new = scored.count()
    if n_new:
        scored.write.mode("append").parquet(matches_path)
    return n_new


def refresh_clusters(
    spark: SparkSession,
    matches_path: str,
    tau: float = 0.62,
    score_col: str = "ratio",
) -> DataFrame:
    """Connected components over the accepted matches in the log."""
    log = spark.read.parquet(matches_path)
    edges = log.where(F.col(score_col) >= tau).select("id_a", "id_b")
    return connected_components(edges)
