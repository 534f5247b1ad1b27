"""Runtime compilation of the C batch kernels (optional accelerator).

Compiles ``_ckernels.c`` with the system C compiler into a per-source-hash
cached shared object and loads it via ctypes.  If no compiler is available
(or ``LEVSIM_NO_C=1``), callers fall back to the pure-NumPy paths in
``levsim.batch`` — results are identical either way (asserted by tests).

Executor-safe: the cache key is the source hash, the build is atomic
(rename-into-place), and concurrent builders race benignly.  On a multi-node
cluster each node compiles once into its local temp dir.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import shutil
import subprocess
import tempfile
from typing import Optional

_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_ckernels.c")
_lib: Optional[ctypes.CDLL] = None
_tried = False

_I64 = ctypes.c_int64
_P = ctypes.POINTER
# codes and offsets of both sides, then the pair count
_PAIRS = [_P(ctypes.c_uint32), _P(_I64), _P(ctypes.c_uint32), _P(_I64), _I64]
# codes and offsets of one text column, then the document count
_DOCS = [_P(ctypes.c_uint32), _P(_I64), _I64]
# every non-static function of _ckernels.c -> (argtypes, restype)
SIGNATURES = {
    "batch_lev_hint": (_PAIRS + [_I64, _I64, _P(_I64)], None),  # cutoff, band hint (-1: none)
    "batch_lev_weighted": (_PAIRS + [_I64, _I64, _I64, _P(_I64)], None),  # ins, del, sub
    "batch_indel": (_PAIRS + [_P(_I64)], None),
    "batch_jaro": (_PAIRS + [_P(ctypes.c_double)], None),
    "batch_jaro_winkler": (_PAIRS + [ctypes.c_double, _P(ctypes.c_double)], None),
    "batch_hamming": (_PAIRS + [_P(_I64)], None),
    "batch_osa": (_PAIRS + [_P(_I64)], None),
    "batch_damerau": (_PAIRS + [_P(_I64)], None),
    "batch_affine": (_PAIRS + [_I64, _I64, _I64, _P(_I64)], None),  # open, extend, sub
    # ops, source and destination positions, per-pair offsets, capacity;
    # returns the op count, negative when cap is too small
    "batch_editops": (_PAIRS + [_P(ctypes.c_int8), _P(ctypes.c_int32), _P(ctypes.c_int32),
                                _P(_I64), _I64], _I64),
    # n_perm, shingle_k, the hash coefficients a and b, out
    "batch_minhash": (_DOCS + [_I64, _I64] + [_P(ctypes.c_uint64)] * 3, None),
    "batch_simhash": (_DOCS + [_P(_I64)], None),
}


def _cache_dir() -> str:
    base = os.environ.get("LEVSIM_CACHE", os.path.join(tempfile.gettempdir(), "levsim_cache"))
    os.makedirs(base, exist_ok=True)
    return base


def _source_text() -> Optional[str]:
    try:
        with open(_SRC, "r") as f:
            return f.read()
    except OSError:
        # zipimport (spark-submit --py-files foo.zip): read from the archive
        import levsim

        loader = getattr(levsim, "__loader__", None)
        if loader is not None and hasattr(loader, "get_data"):
            try:
                return loader.get_data(  # type: ignore[union-attr]
                    os.path.join(os.path.dirname(levsim.__file__), "_ckernels.c")
                ).decode()
            except OSError:
                return None
        return None


def load() -> Optional[ctypes.CDLL]:
    """Return the compiled kernel library, building it if needed; None if
    unavailable."""
    global _lib, _tried
    if _lib is not None or _tried:
        return _lib
    _tried = True
    if os.environ.get("LEVSIM_NO_C") == "1":
        return None
    src = _source_text()
    if src is None:
        return None
    cc = shutil.which("cc") or shutil.which("gcc") or shutil.which("clang")
    if cc is None:
        return None
    key = hashlib.sha256(src.encode()).hexdigest()[:16]
    so_path = os.path.join(_cache_dir(), f"levsim_ck_{key}.so")
    if not os.path.exists(so_path):
        with tempfile.TemporaryDirectory() as td:
            csrc = os.path.join(td, "k.c")
            with open(csrc, "w") as f:
                f.write(src)
            out = os.path.join(td, "k.so")
            try:
                subprocess.run(
                    [cc, "-O3", "-shared", "-fPIC", "-o", out, csrc],
                    check=True,
                    capture_output=True,
                    timeout=120,
                )
            except (subprocess.SubprocessError, OSError):
                return None
            try:
                os.replace(out, so_path)  # atomic; racing builders converge
            except OSError:
                if not os.path.exists(so_path):
                    return None
    try:
        lib = ctypes.CDLL(so_path)
    except OSError:
        return None
    for name, (argtypes, restype) in SIGNATURES.items():
        fn = getattr(lib, name)
        fn.argtypes, fn.restype = argtypes, restype
    _lib = lib
    return _lib
