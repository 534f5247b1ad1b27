"""Vectorized batch scorers — the Arrow/pandas hot path.

One call scores a whole Arrow batch of string pairs.  Strings are flattened
to a single uint32 code-point buffer + offsets (zero-copy friendly), then
dispatched to the compiled C kernels (``levsim.cbuild``) or, if no compiler
is available, to a pure-Python loop over ``levsim.kernels``.  Both paths are
bit-identical (asserted in tests/test_batch.py).

Reference semantics carried through: score_cutoff returns ``cutoff+1`` for
distances and ``0.0`` for similarities below the cutoff
(reference ``__init__.py:84-88,150-153``).

NULLs: a text that is None or a float NaN (``_isnull``) is NULL on both
paths, and every scorer returns ``(values, null mask)`` with a pair NULL
when either side is.  Values under the mask are unspecified (the C path
scores the empty string, the fallback writes 0); the UDFs mask them.
"""

from __future__ import annotations

from typing import Optional, Sequence, Tuple

import numpy as np

from . import cbuild, kernels


def _isnull(t) -> bool:
    return t is None or (isinstance(t, float) and np.isnan(t))


def _lengths(texts) -> np.ndarray:
    """Code-point lengths as float64, 0 for a NULL text."""
    return np.fromiter((0 if _isnull(t) else len(t) for t in texts), dtype=np.float64,
                       count=len(texts))


def _flatten(texts: Sequence[Optional[str]]) -> Tuple[np.ndarray, np.ndarray, np.ndarray]:
    """list[str|None] -> (codes uint32, offsets int64, isnull bool)."""
    n = len(texts)
    isnull = np.zeros(n, dtype=bool)
    lens = np.empty(n, dtype=np.int64)
    parts = []
    for i, t in enumerate(texts):
        if _isnull(t):
            isnull[i] = True
            lens[i] = 0
        else:
            lens[i] = len(t)
            parts.append(t)
    joined = "".join(parts)
    codes = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    return codes, offsets, isnull


def _ptr(arr: np.ndarray, ctype):
    import ctypes

    if arr.size == 0:
        # ctypes rejects zero-size buffers; hand a 1-element dummy
        arr = np.zeros(1, dtype=arr.dtype)
    return arr.ctypes.data_as(ctypes.POINTER(ctype))


def _call_c(fn_name: str, a, b, extra=(), out_dtype=np.int64):
    lib = cbuild.load()
    if lib is None:
        return None
    import ctypes

    ca, oa, nulla = _flatten(a)
    cb, ob, nullb = _flatten(b)
    n = len(a)
    out = np.empty(n, dtype=out_dtype)
    cty = ctypes.c_int64 if out_dtype == np.int64 else ctypes.c_double
    getattr(lib, fn_name)(
        _ptr(ca, ctypes.c_uint32), _ptr(oa, ctypes.c_int64),
        _ptr(cb, ctypes.c_uint32), _ptr(ob, ctypes.c_int64),
        ctypes.c_int64(n), *extra, _ptr(out, cty),
    )
    return out, nulla | nullb


def _per_pair(a, b, fn, dtype=np.int64) -> Tuple[np.ndarray, np.ndarray]:
    """The pure-Python path: ``fn(x, y)`` per pair -> (values, null mask);
    a pair with a NULL side is null, with value 0."""
    n = len(a)
    out = np.zeros(n, dtype=dtype)
    nulls = np.zeros(n, dtype=bool)
    for i in range(n):
        if _isnull(a[i]) or _isnull(b[i]):
            nulls[i] = True
        else:
            out[i] = fn(a[i], b[i])
    return out, nulls


def _clamp(res, score_cutoff: Optional[int]) -> Tuple[np.ndarray, np.ndarray]:
    """Post-hoc cutoff for a C kernel that takes none: distances above
    ``score_cutoff`` become ``score_cutoff + 1``."""
    out, nulls = res
    if score_cutoff is not None:
        out = np.where(out > score_cutoff, score_cutoff + 1, out)
    return out, nulls


def batch_distance(
    a: Sequence[Optional[str]],
    b: Sequence[Optional[str]],
    score_cutoff: Optional[int] = None,
    weights: Tuple[int, int, int] = (1, 1, 1),
    score_hint: Optional[int] = None,
) -> Tuple[np.ndarray, np.ndarray]:
    """Levenshtein distance per pair -> (int64 values, null mask).

    ``score_hint`` (reference ``__init__.py:89-91``) selects the adaptive
    band-doubling kernel: start at band = hint, double on failure.  Results
    are identical with or without the hint (property-tested); it is purely
    a performance knob for near-match pairs."""
    import ctypes

    if min(weights) < 0:
        raise ValueError("weights have to be non-negative")
    if weights == (1, 1, 1):
        res = _call_c("batch_lev_hint", a, b,
                      extra=(ctypes.c_int64(-1 if score_cutoff is None else score_cutoff),
                             ctypes.c_int64(-1 if score_hint is None else max(int(score_hint), 0))))
        if res is not None:
            return res
    else:
        wi, wd, ws = weights
        res = _call_c("batch_lev_weighted", a, b,
                      extra=(ctypes.c_int64(wi), ctypes.c_int64(wd), ctypes.c_int64(ws)))
        if res is not None:
            return _clamp(res, score_cutoff)
    return _per_pair(a, b, lambda x, y: kernels.distance(
        x, y, weights=weights, score_cutoff=score_cutoff))


def batch_indel(a, b) -> Tuple[np.ndarray, np.ndarray]:
    res = _call_c("batch_indel", a, b)
    if res is not None:
        return res
    return _per_pair(a, b, kernels.indel_distance)


def batch_ratio(a, b, score_cutoff: Optional[float] = None) -> Tuple[np.ndarray, np.ndarray]:
    """Normalized indel similarity per pair -> (float64 values, null mask)."""
    dist, nulls = batch_indel(a, b)
    lensum = _lengths(a) + _lengths(b)
    with np.errstate(divide="ignore", invalid="ignore"):
        sim = np.where(lensum > 0, 1.0 - dist / np.maximum(lensum, 1.0), 1.0)
    if score_cutoff is not None:
        sim = np.where(sim < score_cutoff, 0.0, sim)
    return sim, nulls


def batch_jaro(a, b) -> Tuple[np.ndarray, np.ndarray]:
    res = _call_c("batch_jaro", a, b, out_dtype=np.float64)
    if res is not None:
        return res
    return _per_pair(a, b, kernels.jaro, np.float64)


def batch_jaro_winkler(a, b, prefix_weight: float = 0.1) -> Tuple[np.ndarray, np.ndarray]:
    import ctypes

    if not (0.0 <= prefix_weight <= 0.25):
        raise ValueError("prefix_weight has to be in the range 0.0 - 0.25")
    res = _call_c("batch_jaro_winkler", a, b, extra=(ctypes.c_double(prefix_weight),),
                  out_dtype=np.float64)
    if res is not None:
        return res
    return _per_pair(a, b, lambda x, y: kernels.jaro_winkler(x, y, prefix_weight=prefix_weight),
                     np.float64)


def batch_hamming(a, b, score_cutoff: Optional[int] = None) -> Tuple[np.ndarray, np.ndarray]:
    res = _call_c("batch_hamming", a, b)
    if res is not None:
        return _clamp(res, score_cutoff)
    return _per_pair(a, b, lambda x, y: kernels.hamming(x, y, score_cutoff=score_cutoff))


def batch_osa(a, b, score_cutoff: Optional[int] = None) -> Tuple[np.ndarray, np.ndarray]:
    """OSA (restricted Damerau) distance per pair -> (int64 values, null
    mask).  C three-row DP when the compiled kernels are available
    (bit-identical to the NumPy fallback — asserted in test_batch);
    cutoff clamps post-hoc like batch_lev_weighted."""
    res = _call_c("batch_osa", a, b)
    if res is not None:
        return _clamp(res, score_cutoff)
    return _per_pair(a, b, lambda x, y: kernels.osa_distance(x, y, score_cutoff=score_cutoff))


def batch_damerau(a, b, score_cutoff: Optional[int] = None) -> Tuple[np.ndarray, np.ndarray]:
    """Unrestricted Damerau-Levenshtein (Lowrance-Wagner) distance per pair
    -> (int64 values, null mask).  C full-matrix DP when the compiled
    kernels are available (bit-identical to the NumPy kernel — asserted in
    test_batch); cutoff clamps post-hoc like batch_osa.  O(m*n) memory per
    pair by nature of the algorithm — length-prefilter long texts."""
    res = _call_c("batch_damerau", a, b)
    if res is not None:
        return _clamp(res, score_cutoff)
    return _per_pair(a, b, lambda x, y: kernels.damerau_distance(x, y, score_cutoff=score_cutoff))


def batch_affine_gap(a, b, gap_open: int = 2, gap_extend: int = 1, sub_cost: int = 2,
                     score_cutoff: Optional[int] = None) -> Tuple[np.ndarray, np.ndarray]:
    """Affine-gap (Gotoh) distance per pair -> (int64 values, null mask).
    C two-row Gotoh when available (bit-identical to the NumPy kernel)."""
    import ctypes

    if min(gap_open, gap_extend, sub_cost) < 0:
        raise ValueError("costs have to be non-negative")
    res = _call_c("batch_affine", a, b,
                  extra=(ctypes.c_int64(gap_open), ctypes.c_int64(gap_extend),
                         ctypes.c_int64(sub_cost)))
    if res is not None:
        return _clamp(res, score_cutoff)
    return _per_pair(a, b, lambda x, y: kernels.affine_gap_distance(
        x, y, gap_open=gap_open, gap_extend=gap_extend, sub_cost=sub_cost,
        score_cutoff=score_cutoff))


def batch_partial_ratio(a, b, score_cutoff: Optional[float] = None) -> Tuple[np.ndarray, np.ndarray]:
    """Best-window indel similarity per pair -> (float64 values, null mask).

    Vectorized via window expansion: every (needle, window) slice across
    all pairs goes through ONE bit-parallel C ``batch_indel`` call, then a
    segmented min (``np.minimum.reduceat``) recovers the per-pair best.
    Falls back to the scalar kernel when the C library is absent.  Same
    float expression as ``kernels.partial_ratio`` (1.0 - dmin/(2*la)), so
    results are bit-identical either way (asserted in test_batch)."""
    n = len(a)
    out = np.empty(n, dtype=np.float64)
    nulls = np.zeros(n, dtype=bool)
    if cbuild.load() is not None and n > 0:
        needles, windows, la_arr, starts = [], [], np.empty(n, dtype=np.int64), []
        pos = 0
        for i in range(n):
            x, y = a[i], b[i]
            starts.append(pos)
            if _isnull(x) or _isnull(y):
                nulls[i] = True
                la_arr[i] = 0
                continue
            nd, hay = (x, y) if len(x) <= len(y) else (y, x)
            la_arr[i] = len(nd)
            if len(nd) == 0:
                continue  # empty needle -> 1.0, no windows needed
            for off in range(len(hay) - len(nd) + 1):
                needles.append(nd)
                windows.append(hay[off:off + len(nd)])
            pos = len(needles)
        starts.append(len(needles))
        if needles:
            dists, _ = batch_indel(needles, windows)
        else:
            dists = np.empty(0, dtype=np.int64)
        for i in range(n):
            if nulls[i]:
                out[i] = 0.0
            elif la_arr[i] == 0:
                out[i] = 1.0
            else:
                dmin = int(dists[starts[i]:starts[i + 1]].min())
                out[i] = 1.0 - dmin / (2 * int(la_arr[i]))
            if score_cutoff is not None and not nulls[i] and out[i] < score_cutoff:
                out[i] = 0.0
        return out, nulls
    return _per_pair(a, b, lambda x, y: kernels.partial_ratio(x, y, score_cutoff=score_cutoff),
                     np.float64)


_EDITOP_NAMES = ("replace", "insert", "delete")


def batch_editops(a: Sequence[Optional[str]], b: Sequence[Optional[str]]):
    """Minimal edit scripts for a whole batch -> list of editops lists
    (``None`` where either side is null) — the C kernel runs the full-
    matrix DP + backtrace for every pair in one call (measured ~100x the
    per-pair Python path at web-page lengths), list-identical to
    ``kernels.editops`` including backtrace tie-breaking (property-tested
    in tests/test_batch.py)."""
    import ctypes

    n = len(a)
    lib = cbuild.load()
    if lib is not None:
        ca, oa, nulla = _flatten(a)
        cb, ob, nullb = _flatten(b)
        nulls = nulla | nullb
        la = np.diff(oa)
        lb = np.diff(ob)
        cap = int(np.maximum(la, lb).sum())
        ops = np.empty(max(cap, 1), dtype=np.int8)
        pi = np.empty(max(cap, 1), dtype=np.int32)
        pj = np.empty(max(cap, 1), dtype=np.int32)
        offs = np.zeros(n + 1, dtype=np.int64)
        total = lib.batch_editops(
            _ptr(ca, ctypes.c_uint32), _ptr(oa, ctypes.c_int64),
            _ptr(cb, ctypes.c_uint32), _ptr(ob, ctypes.c_int64),
            ctypes.c_int64(n),
            _ptr(ops, ctypes.c_int8), _ptr(pi, ctypes.c_int32),
            _ptr(pj, ctypes.c_int32), _ptr(offs, ctypes.c_int64),
            ctypes.c_int64(cap),
        )
        if total >= 0:
            opl = ops.tolist()
            pil = pi.tolist()
            pjl = pj.tolist()
            out = []
            for k in range(n):
                if nulls[k]:
                    out.append(None)
                    continue
                s, e = int(offs[k]), int(offs[k + 1])
                out.append([
                    (_EDITOP_NAMES[opl[t]], pil[t], pjl[t]) for t in range(s, e)
                ])
            return out
    return [
        None if (_isnull(x) or _isnull(y)) else kernels.editops(x, y)
        for x, y in zip(a, b)
    ]
