"""Pair scoring stage: attach texts to candidate pairs and score with the
Arrow-batched kernels.

Plan shape (what .explain should show): two shuffled hash/sort-merge joins
on doc_id to attach (text, length) to each side, a WholeStageCodegen
prefilter on the length bound, then ONE ArrowEvalPython node computing all
requested scores in a single Python round-trip.  The pipeline's cascade
(``score_pairs_cascade``) is the same single crossing, gated: the UDF
computes the banded ratio for every row and the secondary scorers only for
rows whose ratio is >= tau, and the ``ratio >= tau`` filter follows it.

One-side-cache affinity (reference CachedIndel/CachedLevenshtein,
_levenshtein.hpp:488,600,666): sortWithinPartitions(id_a) groups equal
left-side strings adjacently inside every Arrow batch, so per-pattern setup
(prefix strip, bitmask build) amortizes across a run of pairs.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import prefilter, udfs


def attach_texts(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "norm_text",
    with_char_hists: bool = False,
) -> DataFrame:
    """pairs(id_a, id_b, ...) + docs(doc_id, text) -> pairs with text_a/text_b.

    ``with_char_hists`` additionally widens each side with the
    ``prefilter.char_histogram`` count vector (hist_a/hist_b) feeding the
    partial_ratio char bound — computed HERE, doc-side, because doc rows
    are ~100x narrower than pair rows and each doc fans out to many pairs
    (the same widen-before-join rule as len_a/len_b)."""
    acols = [
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias("text_a"),
        F.length(text_col).alias("len_a"),
    ]
    bcols = [
        F.col(id_col).alias("id_b"),
        F.col(text_col).alias("text_b"),
        F.length(text_col).alias("len_b"),
    ]
    if with_char_hists:
        acols.append(prefilter.char_histogram(F.col(text_col)).alias("hist_a"))
        bcols.append(prefilter.char_histogram(F.col(text_col)).alias("hist_b"))
    return pairs.join(docs.select(*acols), "id_a").join(docs.select(*bcols), "id_b")


def score_pairs(
    pairs_with_text: DataFrame,
    tau: Optional[float] = None,
    scorers: Sequence[str] = ("ratio",),
    sort_for_cache: bool = True,
    repartition: Optional[int] = None,
    partial_tau: Optional[float] = None,
) -> DataFrame:
    """Add score columns; if tau is given, apply the exact length prefilter
    first (Catalyst-side) and the in-kernel cutoff inside the UDF.

    ``partial_tau``: when scoring ``partial_ratio`` with a target threshold,
    pass it here to apply the exact char-histogram bound
    (``prefilter.partial_ratio_char_bound``) pre-UDF — partial_ratio has NO
    length bound (any needle can sit verbatim in any long-enough haystack),
    so this is its only Catalyst-side prune.  Uses hist_a/hist_b columns if
    present (``attach_texts(with_char_hists=True)`` — the cheap, doc-side
    place to compute them), else derives them inline on the pair rows.

    ``repartition``: pass a partition count ONLY when the upstream pair set
    is known to be narrow (e.g. a single-file scan broadcast-joined, which
    inherits the scan's 1-2 partitions and serializes the Arrow stage).
    Default None adds NO shuffle: pair rows carry two full texts, and
    shuffling them costs more than it buys whenever the join output is
    already wide (measured: a forced pair-level repartition at sf0.1 x3
    halved 32-core throughput by saturating shuffle I/O).  Widen the DOC
    side before the join instead (cheap: rows are 100x smaller)."""
    df = pairs_with_text
    if tau is not None:
        df = df.where(prefilter.ratio_length_bound(F.col("len_a"), F.col("len_b"), tau))
    if partial_tau is not None:
        ha = (F.col("hist_a") if "hist_a" in df.columns
              else prefilter.char_histogram(F.col("text_a")))
        hb = (F.col("hist_b") if "hist_b" in df.columns
              else prefilter.char_histogram(F.col("text_b")))
        df = df.where(prefilter.partial_ratio_char_bound(
            ha, hb, F.col("len_a"), F.col("len_b"), partial_tau))
    if repartition:
        # hash on id_a keeps one-side-cache adjacency after the sort
        df = df.repartition(repartition, "id_a")
    if sort_for_cache:
        df = df.sortWithinPartitions("id_a")
    known = tuple(s for s in scorers if s in udfs.SCORERS)
    if known:
        # one Arrow crossing for all scores (struct-returning UDF)
        df = df.withColumn("_scores", udfs.multi_score_udf(known, ratio_cutoff=tau)(
            "text_a", "text_b"))
        df = _unpack_scores(df)
    return df


def _unpack_scores(df: DataFrame) -> DataFrame:
    """The ``_scores`` struct column -> one column per score."""
    fields = df.schema["_scores"].dataType.fieldNames()
    return df.withColumns({f: F.col("_scores")[f] for f in fields}).drop("_scores")


def score_pairs_cascade(
    pairs_with_text: DataFrame,
    tau: float,
    secondary: Sequence[str] = ("jaro_winkler",),
    repartition: Optional[int] = None,
) -> DataFrame:
    """Cascade scoring: cheap-first, in ONE Arrow crossing.  The banded
    ratio kernel (with its in-kernel cutoff) scores every candidate that
    passes the length bound; inside the same pandas UDF the expensive
    secondary scorers (jaro-family is O(l1*l2) on long texts) run ONLY on
    the rows whose ratio is at or above tau, and the ``ratio >= tau`` filter
    comes after the UDF.  This is the reference's score_cutoff early-exit
    philosophy lifted across scorers: at web scale the overwhelming
    majority of candidates die at the ratio gate, so secondary-kernel cost
    tracks the (tiny) match count instead of the candidate count, and each
    scoring task holds one Python worker, not two chained ones."""
    df = pairs_with_text.where(
        prefilter.ratio_length_bound(F.col("len_a"), F.col("len_b"), tau)
    )
    if repartition:
        df = df.repartition(repartition, "id_a")
    df = df.sortWithinPartitions("id_a")
    sec = tuple(s for s in secondary if s in udfs.SCORERS and s != "ratio")
    scored = udfs.multi_score_udf(("ratio", *sec), ratio_cutoff=tau, gate=tau)
    df = df.withColumn("_scores", scored("text_a", "text_b"))
    return _unpack_scores(df.where(F.col("_scores.ratio") >= F.lit(tau)))
