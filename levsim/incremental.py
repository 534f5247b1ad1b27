"""Incremental entity resolution: the catch-up pair emitter composed into
a full catch-up ER round.

Flow per catch-up (all pieces exist elsewhere; this module is the
orchestration):

1. ``streaming.run_incremental_pairs`` keys the page files no committed
   catch-up has read with the batch expressions and runs
   ``candidates.candidate_pairs`` over the key-table rows of the keys they
   touched, appending exactly the candidate pairs the new pages unlock,
   one row per pair (a batch delta with a commit log: a rerun replaces an
   uncommitted batch, so the appended pair log IS the incremental work
   list).
2. ``score_new_pairs`` scores only pairs not yet in the matches log
   (anti-join — cheap because the pair log is append-only) with the
   pipeline's cascade (``scoring.score_pairs_cascade``) and appends every
   scored pair, rejects included, so each pair is scored and logged once.
3. ``refresh_clusters`` re-runs connected components over the accepted
   matches of the FULL log: one exchange of the ids-only accepted edges to
   a single partition and one exact union-find task (two Spark jobs, see
   ``clustering``).  Matches are tiny relative to pages (the thresholded
   survivors), so the full closure per catch-up costs well under a second
   here and needs no incremental cluster surgery — merging two clusters
   correctly requires global relabeling anyway.  The bound is the
   union-find's: the log's distinct matched ids must fit in one Python
   worker.

The matches log has a declared schema (``tables.MATCHES_LOG_SCHEMA``), and
both steps read it with ``tables.read_log``, the key table's reader: no
schema-inference job, and a log that holds no data file yet (a first append
that died leaves only ``_temporary/``) reads as empty.

Equivalence guarantee (tested): after any sequence of catch-ups, clusters
equal the batch pipeline's clusters on the union of all pages, because the
catch-up pair log equals the batch candidate set (test_streaming) and
scoring/threshold/CC are the same code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from . import scoring
from .clustering import connected_components
from .tables import MATCHES_LOG_SCHEMA, read_log


def score_new_pairs(
    spark: SparkSession,
    pairs: DataFrame,
    docs: DataFrame,
    matches_path: str,
    tau: float = scoring.TAU,
) -> int:
    """Score the pairs absent from the matches log with the pipeline's
    cascade and append every one of them, rejects included.

    ``pairs``: (id_a, id_b) candidate log, one row per pair (the catch-up
    pair log holds each pair once by construction; nothing here dedups
    it).  ``docs``: (doc_id, norm_text), one row per doc (one page per url,
    ``normalize.one_page_per_url``).  ``matches_path``: parquet log of
    ``tables.MATCHES_LOG_SCHEMA`` rows; ratio is 0.0 below tau and
    jaro_winkler NULL there.  Returns the number of NEW pairs scored this
    round.  The anti-join keys on the pair identity, so re-running a
    catch-up is idempotent and no pair is scored twice."""
    pairs = pairs.select("id_a", "id_b")
    seen = read_log(spark, matches_path, MATCHES_LOG_SCHEMA)
    if seen is not None:
        pairs = pairs.join(seen.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti")
    scored = scoring.score_pairs_cascade(scoring.attach_texts(pairs, docs), tau=tau) \
        .select([F.col(f.name).cast(f.dataType) for f in StructType.fromDDL(MATCHES_LOG_SCHEMA)])
    # one write, counted by an observation instead of a second run of the plan
    counted = Observation("score_new_pairs")
    scored.observe(counted, F.count(F.lit(1)).alias("n")) \
        .write.mode("append").parquet(matches_path)
    return counted.get["n"]


def refresh_clusters(spark: SparkSession, matches_path: str, tau: float = scoring.TAU) -> DataFrame:
    """Connected components over the accepted matches in the log; an
    empty (doc_id, cluster_id) frame while the log holds no data file."""
    log = read_log(spark, matches_path, MATCHES_LOG_SCHEMA)
    if log is None:
        return spark.createDataFrame([], "doc_id string, cluster_id string")
    return connected_components(log.where(F.col("ratio") >= tau).select("id_a", "id_b"))
