"""Arrow-batched pandas UDFs wrapping the batch scorers.

These are the ONLY Python↔JVM row-data crossings in the engine's hot path
(SURVEY.md §3): everything before them (blocking, prefilters) and after them
(thresholds, aggregation, clustering) is pure Catalyst column algebra.

One table, ``_SCORERS``, names each pair scorer's struct field, Spark type,
pandas dtype and batch kernel; ``pair_udf`` builds one score column from it
and ``multi_score_udf`` several in one crossing.  Parameters (cutoff,
weights, …) are bound at plan-construction time so the UDF closure ships to
executors fully configured.  Scores are deterministic pure functions of
their inputs — safe under Spark task retries and speculative execution.
"""

from __future__ import annotations

from typing import Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from . import batch, kernels


def _mask(values, nulls, dtype):
    s = pd.Series(values, dtype=dtype)
    if nulls.any():
        s[nulls] = None
    return s


def _once(udf):
    """Plan hygiene: Catalyst inlines deterministic Python UDFs through
    projections, so ``withColumn(score).where(score >= tau)`` evaluates the
    UDF TWICE (one ArrowEvalPython for the filter, one for the output —
    verified on Spark 4.1).  The scorers are pure functions, but marking
    them nondeterministic stops the duplication; explicit prefilters in
    levsim.prefilter do the pushdown work instead."""
    return udf.asNondeterministic()


# scorer name -> (struct field, Spark type, pandas dtype, batch kernel), in
# the struct's field order; distances are LongType, similarities DoubleType
_SCORERS = {
    "ratio": ("ratio", DoubleType(), "float64", batch.batch_ratio),
    "jaro_winkler": ("jaro_winkler", DoubleType(), "float64", batch.batch_jaro_winkler),
    "jaro": ("jaro", DoubleType(), "float64", batch.batch_jaro),
    "distance": ("lev_distance", LongType(), "Int64", batch.batch_distance),
    "osa": ("osa", LongType(), "Int64", batch.batch_osa),
    "affine_gap": ("affine_gap", LongType(), "Int64", batch.batch_affine_gap),
    "partial_ratio": ("partial_ratio", DoubleType(), "float64", batch.batch_partial_ratio),
    "hamming": ("hamming", LongType(), "Int64", batch.batch_hamming),
    "damerau": ("damerau", LongType(), "Int64", batch.batch_damerau),
}
SCORERS = tuple(_SCORERS)


def _check_names(scorers) -> None:
    unknown = [s for s in scorers if s not in _SCORERS]
    if unknown:
        raise ValueError(f"unknown scorers {unknown}; known: {list(SCORERS)}")


def pair_udf(scorer: str, **params):
    """One score column for a pair of string columns: ``scorer`` is a key of
    the scorer table and ``params`` are its batch kernel's keyword
    arguments (``score_cutoff``, ``weights``, ``prefix_weight``, ...).  The
    kernel runs once on an empty batch here, so a bad parameter raises when
    the UDF is built, not in a task.  A pair with a NULL side is NULL."""
    _check_names((scorer,))
    _, spark_type, dtype, kernel = _SCORERS[scorer]
    kernel([], [], **params)

    @pandas_udf(spark_type)
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        return _mask(*kernel(a.tolist(), b.tolist(), **params), dtype)

    return _once(_udf)


def multi_score_udf(scorers: Tuple[str, ...] = ("ratio", "jaro_winkler"),
                    ratio_cutoff: Optional[float] = None,
                    gate: Optional[float] = None):
    """All requested scores in ONE Arrow crossing, returned as a struct.

    Each extra scorer as a separate pandas UDF re-ships both text columns
    through Arrow; combining them halves (or better) the Python-boundary
    bandwidth of the scoring stage — the dominant non-kernel cost at high
    core counts.

    ``gate`` makes the crossing a cascade (``scoring.score_pairs_cascade``):
    ``ratio`` (which must be requested) is computed for every row first, and
    the other scorers run only on the rows whose ratio is >= ``gate``; on
    the other rows they are NULL.  A row with a NULL text is NULL in every
    field.  An unknown scorer name raises ``ValueError``."""
    _check_names(scorers)
    names = [s for s in _SCORERS if s in scorers]
    if gate is not None and "ratio" not in names:
        raise ValueError("a gated multi_score_udf needs the ratio scorer")
    schema = StructType([StructField(_SCORERS[s][0], _SCORERS[s][1]) for s in names])

    @pandas_udf(schema)
    def _udf(a: pd.Series, b: pd.Series) -> pd.DataFrame:
        al, bl = a.tolist(), b.tolist()
        out = {}
        nulls = np.zeros(len(al), dtype=bool)
        rows = None  # the rows the non-ratio scorers see; None = all
        for s in names:
            field, _, dtype, kernel = _SCORERS[s]
            if s == "ratio":
                v, n = kernel(al, bl, score_cutoff=ratio_cutoff)
                if gate is not None:
                    rows = np.flatnonzero(~n & (v >= gate))
            elif rows is None:
                v, n = kernel(al, bl)
            else:  # gated: the rows at or above the gate, NULL elsewhere
                col = pd.Series(pd.array([None] * len(al), dtype=dtype))
                col.iloc[rows] = kernel([al[i] for i in rows], [bl[i] for i in rows])[0]
                out[field] = col
                continue
            out[field] = pd.Series(v, dtype=dtype)
            nulls |= n
        df = pd.DataFrame(out)
        if nulls.any():
            df.loc[nulls, :] = None
        return df

    return _once(_udf)


EDITOPS_SCHEMA = ArrayType(
    StructType(
        [
            StructField("op", StringType()),
            StructField("spos", IntegerType()),
            StructField("dpos", IntegerType()),
        ]
    )
)


def lev_editops_udf():
    """Minimal edit script per pair (diagnostic path, O(mn) memory per pair —
    not for the bulk scoring hot path; see SURVEY.md §2a editops row)."""

    @pandas_udf(EDITOPS_SCHEMA)
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        scripts = batch.batch_editops(a.tolist(), b.tolist())
        out = [
            None if ops is None
            else [{"op": o, "spos": s, "dpos": d} for (o, s, d) in ops]
            for ops in scripts
        ]
        return pd.Series(out)

    return _once(_udf)


def seqratio_udf():
    """Similarity of two array<string> columns, order-sensitive (reference
    ``seqratio``)."""

    @pandas_udf(DoubleType())
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        vals, nulls = batch._per_pair(a.tolist(), b.tolist(),
                                      lambda x, y: kernels.seqratio(list(x), list(y)), np.float64)
        return _mask(vals, nulls, "float64")

    return _once(_udf)


def setratio_udf():
    """Similarity of two array<string> columns, order-free optimal assignment
    (reference ``setratio``)."""

    @pandas_udf(DoubleType())
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        vals, nulls = batch._per_pair(a.tolist(), b.tolist(),
                                      lambda x, y: kernels.setratio(list(x), list(y)), np.float64)
        return _mask(vals, nulls, "float64")

    return _once(_udf)
