"""Incremental entity resolution: the catch-up pair emitter composed into
a full catch-up ER round.

Flow per catch-up (all pieces exist elsewhere; this module is the
orchestration):

1. ``streaming.run_incremental_pairs`` keys the page files no committed
   catch-up has read with the batch expressions, joins their block keys
   against the persisted key table, and appends exactly the candidate
   pairs the new pages unlock, one row per pair (a batch delta with a
   commit log: a rerun replaces an uncommitted batch, so the appended pair
   log IS the incremental work list).
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

Both steps read the matches log with the schema from its first file's
footer (``tables.read_parquet_log``), so neither runs a schema-inference
job.

Equivalence guarantee (tested): after any sequence of catch-ups, clusters
equal the batch pipeline's clusters on the union of all pages, because the
catch-up pair log equals the batch candidate set (test_streaming) and
scoring/threshold/CC are the same code.
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import scoring
from .clustering import connected_components
from .tables import read_parquet_log


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
        seen = read_parquet_log(spark, matches_path).select("id_a", "id_b", "scored")
        todo = pairs.join(seen.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti")
    else:
        todo = pairs
    scored = scoring.score_pairs(
        scoring.attach_texts(todo, docs, id_col=id_col, text_col=text_col),
        tau=tau, scorers=tuple(scorers),
    ).select("id_a", "id_b", *scorers).withColumn("scored", F.lit(True))
    # log EVERY scored pair (not only matches) so the anti-join never
    # re-scores a rejected pair on the next catch-up; one write, counted
    # by an observation instead of a second run of the plan
    counted = Observation("score_new_pairs")
    scored.observe(counted, F.count(F.lit(1)).alias("n")) \
        .write.mode("append").parquet(matches_path)
    return counted.get["n"]


def refresh_clusters(
    spark: SparkSession,
    matches_path: str,
    tau: float = 0.62,
    score_col: str = "ratio",
) -> DataFrame:
    """Connected components over the accepted matches in the log."""
    log = read_parquet_log(spark, matches_path)
    edges = log.where(F.col(score_col) >= tau).select("id_a", "id_b")
    return connected_components(edges)
