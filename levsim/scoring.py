"""Pair scoring stage: attach texts to candidate pairs and score with the
Arrow-batched kernels.

Plan shape (what .explain should show): two joins on doc_id to attach
(text, length) to each side, then ONE ArrowEvalPython node computing all
requested scores in a single Python round-trip, with no sort in between:
every kernel scores one pair at a time and caches nothing across pairs, so
row order inside a batch does not matter.  Both entry points build that
column with ``udfs.multi_score_udf`` over the scorer table
(``udfs.SCORERS``; an unknown name raises ``ValueError``) and differ only in
what runs around it: ``score_pairs`` can apply the length prefilter first,
``score_pairs_cascade`` gates the secondary scorers on the ratio.

The product path — the pipeline's scores stage and the catch-up's
``incremental.score_new_pairs`` — scores with ``score_pairs_cascade``: the
UDF computes the ratio for every row and the secondary scorers only for
rows whose ratio is >= tau.  The ratio is ``batch.batch_ratio``: the full
bit-parallel Indel/LCS kernel (``batch_indel``), with results below the
cutoff zeroed afterwards — there is no band and no in-kernel early exit.
The caller filters: the pipeline prunes on the length bound before the
crossing and keeps ``ratio >= tau`` after it, while the catch-up logs every
row so that no pair is scored twice.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import prefilter, udfs


# the match threshold; ERConfig.tau and the catch-up's tau default to it
TAU = 0.87


def attach_texts(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "norm_text",
) -> DataFrame:
    """pairs(id_a, id_b, ...) + docs(doc_id, text) -> pairs with text_a/len_a
    and text_b/len_b."""
    def side(s: str) -> DataFrame:
        return docs.select(F.col(id_col).alias(f"id_{s}"), F.col(text_col).alias(f"text_{s}"),
                           F.length(text_col).alias(f"len_{s}"))

    return pairs.join(side("a"), "id_a").join(side("b"), "id_b")


def _scored(df: DataFrame, scorers: Sequence[str], tau: Optional[float],
            gate: Optional[float] = None) -> DataFrame:
    """One score column per scorer, from one struct-returning UDF over
    (text_a, text_b); ratios below ``tau`` are zeroed."""
    udf = udfs.multi_score_udf(scorers, ratio_cutoff=tau, gate=gate)
    df = df.withColumn("_scores", udf("text_a", "text_b"))
    fields = df.schema["_scores"].dataType.fieldNames()
    return df.withColumns({f: F.col("_scores")[f] for f in fields}).drop("_scores")


def score_pairs(
    pairs_with_text: DataFrame,
    tau: Optional[float] = None,
    scorers: Sequence[str] = ("ratio",),
) -> DataFrame:
    """Add score columns; if tau is given, apply the exact length prefilter
    first (Catalyst-side) and zero the ratios below tau inside the UDF."""
    df = pairs_with_text
    if tau is not None:
        df = df.where(prefilter.ratio_length_bound(F.col("len_a"), F.col("len_b"), tau))
    return _scored(df, scorers, tau)


def score_pairs_cascade(
    pairs_with_text: DataFrame,
    tau: float,
    secondary: Sequence[str] = ("jaro_winkler",),
) -> DataFrame:
    """Cascade scoring: cheap-first, in ONE Arrow crossing, over every row.
    The bit-parallel ratio kernel scores every pair in full and zeroes the
    ratios below tau; inside the same pandas UDF the expensive secondary scorers
    (jaro-family is O(l1*l2) on long texts) run ONLY on the rows whose
    ratio is at or above tau and are NULL elsewhere.  A row with a NULL
    text is NULL in every score.  This is the reference's score_cutoff
    philosophy lifted across scorers: at web scale the
    overwhelming majority of candidates die at the ratio gate, so
    secondary-kernel cost tracks the (tiny) match count instead of the
    candidate count, and each scoring task holds one Python worker, not
    two chained ones."""
    return _scored(pairs_with_text, ("ratio", *secondary), tau, gate=tau)
