"""Arrow-batched pandas UDFs wrapping the batch scorers.

These are the ONLY Python↔JVM row-data crossings in the engine's hot path
(SURVEY.md §3): everything before them (blocking, prefilters) and after them
(thresholds, aggregation, clustering) is pure Catalyst column algebra.

Each factory returns a pandas_udf; parameters (cutoff, weights, …) are bound
at plan-construction time so the UDF closure ships to executors fully
configured.  Scores are deterministic pure functions of their inputs —
safe under Spark task retries and speculative execution.
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


def lev_distance_udf(score_cutoff: Optional[int] = None, weights: Tuple[int, int, int] = (1, 1, 1),
                     score_hint: Optional[int] = None):
    """Levenshtein distance column; reference cutoff semantics
    (``__init__.py:84-88``: > cutoff -> cutoff+1).  ``score_hint`` enables
    the adaptive band-doubling kernel (perf only, identical results)."""

    @pandas_udf(LongType())
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        vals, nulls = batch.batch_distance(a.tolist(), b.tolist(), score_cutoff=score_cutoff,
                                           weights=weights, score_hint=score_hint)
        return _mask(vals, nulls, "Int64")

    return _once(_udf)


def lev_ratio_udf(score_cutoff: Optional[float] = None):
    """Normalized indel similarity column (reference ``ratio``)."""

    @pandas_udf(DoubleType())
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        vals, nulls = batch.batch_ratio(a.tolist(), b.tolist(), score_cutoff=score_cutoff)
        return _mask(vals, nulls, "float64")

    return _once(_udf)


def lev_jaro_udf():
    @pandas_udf(DoubleType())
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        vals, nulls = batch.batch_jaro(a.tolist(), b.tolist())
        return _mask(vals, nulls, "float64")

    return _once(_udf)


def lev_jaro_winkler_udf(prefix_weight: float = 0.1):
    if not (0.0 <= prefix_weight <= 0.25):
        raise ValueError("prefix_weight has to be in the range 0.0 - 0.25")

    @pandas_udf(DoubleType())
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        vals, nulls = batch.batch_jaro_winkler(a.tolist(), b.tolist(), prefix_weight=prefix_weight)
        return _mask(vals, nulls, "float64")

    return _once(_udf)


def lev_hamming_udf(score_cutoff: Optional[int] = None):
    @pandas_udf(LongType())
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        vals, nulls = batch.batch_hamming(a.tolist(), b.tolist(), score_cutoff=score_cutoff)
        return _mask(vals, nulls, "Int64")

    return _once(_udf)


# scorer name -> (struct field, Spark type, pandas dtype, batch kernel), in
# the struct's field order
_SCORERS = {
    "ratio": ("ratio", DoubleType(), "float64", batch.batch_ratio),
    "jaro_winkler": ("jaro_winkler", DoubleType(), "float64", batch.batch_jaro_winkler),
    "jaro": ("jaro", DoubleType(), "float64", batch.batch_jaro),
    "distance": ("lev_distance", LongType(), "Int64", batch.batch_distance),
    "osa": ("osa", LongType(), "Int64", batch.batch_osa),
    "affine_gap": ("affine_gap", LongType(), "Int64", batch.batch_affine_gap),
    "partial_ratio": ("partial_ratio", DoubleType(), "float64", batch.batch_partial_ratio),
}
SCORERS = tuple(_SCORERS)


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
    field."""
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

OPCODES_SCHEMA = ArrayType(
    StructType(
        [
            StructField("op", StringType()),
            StructField("i1", IntegerType()),
            StructField("i2", IntegerType()),
            StructField("j1", IntegerType()),
            StructField("j2", IntegerType()),
        ]
    )
)


def lev_editops_udf():
    """Minimal edit script per pair (diagnostic path, O(mn) memory per pair —
    not for the bulk scoring hot path; see SURVEY.md §2a editops row)."""

    @pandas_udf(EDITOPS_SCHEMA)
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        from .batch import batch_editops

        scripts = batch_editops(a.tolist(), b.tolist())
        out = [
            None if ops is None
            else [{"op": o, "spos": s, "dpos": d} for (o, s, d) in ops]
            for ops in scripts
        ]
        return pd.Series(out)

    return _once(_udf)


def lev_opcodes_udf():
    @pandas_udf(OPCODES_SCHEMA)
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(a.tolist(), b.tolist()):
            if x is None or y is None:
                out.append(None)
            else:
                out.append(
                    [{"op": o, "i1": i1, "i2": i2, "j1": j1, "j2": j2}
                     for (o, i1, i2, j1, j2) in kernels.opcodes(x, y)]
                )
        return pd.Series(out)

    return _once(_udf)


def seqratio_udf():
    """Similarity of two array<string> columns, order-sensitive (reference
    ``seqratio``)."""

    @pandas_udf(DoubleType())
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(a.tolist(), b.tolist()):
            if x is None or y is None:
                out.append(None)
            else:
                out.append(kernels.seqratio(list(x), list(y)))
        return pd.Series(out, dtype="float64")

    return _once(_udf)


def setratio_udf():
    """Similarity of two array<string> columns, order-free optimal assignment
    (reference ``setratio``)."""

    @pandas_udf(DoubleType())
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(a.tolist(), b.tolist()):
            if x is None or y is None:
                out.append(None)
            else:
                out.append(kernels.setratio(list(x), list(y)))
        return pd.Series(out, dtype="float64")

    return _once(_udf)


def osa_distance_udf(score_cutoff: Optional[int] = None):
    """OSA (restricted Damerau-Levenshtein) distance column — engine extra
    (kernels.osa_distance); reference cutoff codomain rule."""

    @pandas_udf(LongType())
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        vals, nulls = batch.batch_osa(a.tolist(), b.tolist(), score_cutoff=score_cutoff)
        return _mask(vals, nulls, "Int64")

    return _once(_udf)


def damerau_distance_udf(score_cutoff: Optional[int] = None):
    """Unrestricted Damerau-Levenshtein distance column — engine extra
    (kernels.damerau_distance, Lowrance-Wagner): adjacent transposition
    without OSA's no-substring-edited-twice restriction; reference cutoff
    codomain rule.  The driver oracle checks this against DuckDB's
    independent damerau_levenshtein builtin."""

    @pandas_udf(LongType())
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        vals, nulls = batch.batch_damerau(a.tolist(), b.tolist(), score_cutoff=score_cutoff)
        return _mask(vals, nulls, "Int64")

    return _once(_udf)


def affine_gap_udf(gap_open: int = 2, gap_extend: int = 1, sub_cost: int = 2,
                   score_cutoff: Optional[int] = None):
    """Affine-gap (Gotoh) alignment distance column — engine extra
    (kernels.affine_gap_distance): long gap runs cost open + len*extend,
    the right model for boilerplate insertions in web text."""

    @pandas_udf(LongType())
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        vals, nulls = batch.batch_affine_gap(
            a.tolist(), b.tolist(), gap_open=gap_open, gap_extend=gap_extend,
            sub_cost=sub_cost, score_cutoff=score_cutoff)
        return _mask(vals, nulls, "Int64")

    return _once(_udf)


def partial_ratio_udf(score_cutoff: Optional[float] = None):
    """Best-window indel similarity column (fuzz family engine extra,
    kernels.partial_ratio): shorter side slides over the longer."""

    @pandas_udf(DoubleType())
    def _udf(a: pd.Series, b: pd.Series) -> pd.Series:
        vals, nulls = batch.batch_partial_ratio(a.tolist(), b.tolist(), score_cutoff=score_cutoff)
        return _mask(vals, nulls, "float64")

    return _once(_udf)
