"""Worker-side BLAS thread cap.

The package ``__init__`` pins ``OPENBLAS_NUM_THREADS=1`` (& friends) via
env so Python workers forked from this process tree run single-threaded
BLAS (guide §4.5/§2.6 — Spark already runs one task per core; a nested
per-worker pool is oversubscription the scheduler cannot see; measured
A/B in OPTIMIZATION_r12.md: up to 5× on the matmul family).

The env pin has a hole (ADVICE r12): under the FOREIGN-SparkSession
driver contract the JVM may be launched *before* this package is
imported, so the worker daemon never inherits the caps and OpenBLAS
silently defaults to one thread per CPU again.  This module closes the
hole from the worker side: every numpy kernel calls
:func:`ensure_blas_pinned` before its first matmul, which — only when no
thread-count env reached this process — caps every ALREADY-LOADED OpenBLAS
at runtime through its own ``openblas_set_num_threads`` entry point
(the same mechanism threadpoolctl uses; threadpoolctl itself is not in
the container).  Idempotent, once per worker process, ~µs when already
pinned.

Exactness: the kernels this guards compute exact-integer float64
products (documented per kernel), so the thread count cannot change a
bit of any result — this is purely a scheduling fix.
"""

from __future__ import annotations

import os

#: The thread-count env vars the package ``__init__`` pins (:func:`pin_env`).
THREAD_VARS = (
    "OPENBLAS_NUM_THREADS",
    "OMP_NUM_THREADS",
    "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS",
)

#: The THREAD_VARS that :func:`pin_env` itself set in this process. A
#: worker forked from a JVM that predates the pin imports the package —
#: and so gets these defaults — only after its numpy has loaded OpenBLAS,
#: so they must not count as a pin that reached the process.
_DEFAULTED: frozenset = frozenset()

_DONE = False


def pin_env(threads: str) -> None:
    """Default every THREAD_VARS entry to ``threads`` (an explicit
    setting wins), remembering which ones this call set."""
    global _DEFAULTED
    _DEFAULTED = frozenset(v for v in THREAD_VARS if v not in os.environ)
    for v in THREAD_VARS:
        os.environ.setdefault(v, threads)


def _runtime_cap(n: int) -> None:
    """Cap every already-loaded numpy OpenBLAS at ``n`` threads via its C
    API (numpy and scipy may each bundle one).  Best-effort: an exotic
    BLAS build without the symbol simply keeps its env-derived default."""
    import ctypes
    import glob

    import numpy

    libs_dir = os.path.abspath(
        os.path.join(os.path.dirname(numpy.__file__), "..", "numpy.libs")
    )
    candidates = glob.glob(os.path.join(libs_dir, "libopenblas*.so*")) + glob.glob(
        os.path.join(libs_dir, "libscipy_openblas*.so*")
    )
    for so in candidates:
        try:
            lib = ctypes.CDLL(so)  # already loaded: dlopen returns the live handle
        except OSError:
            continue
        for sym in ("openblas_set_num_threads64_", "openblas_set_num_threads"):
            fn = getattr(lib, sym, None)
            if fn is not None:
                fn(n)
                break


def ensure_blas_pinned() -> None:
    """Called at the top of every numpy worker kernel: make sure this
    process's BLAS pool is capped even when the env pin never reached it
    (foreign-session JVM predating the package import)."""
    global _DONE
    if _DONE:
        return
    _DONE = True
    if any(os.environ.get(v) for v in THREAD_VARS if v not in _DEFAULTED):
        return  # env pin reached this process; OpenBLAS honored it at load
    try:
        _runtime_cap(int(os.environ.get("SPARK_GRAFT_BLAS_THREADS", "1")))
    except Exception:
        pass  # a failed cap must never fail the kernel
