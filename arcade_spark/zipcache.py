"""Stat-checked zip-directory invalidation for Python workers.

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Up to CPython 3.12 that
makes every cached ``zipimporter`` re-read its archive's whole central
directory: a reused worker holds ~13 importers over ``pyspark.zip``
(~1.3k entries, ~13 ms each) and a few over the Spark jars (~5k
entries, ~60 ms each), so each task paid ~0.3 s before its kernel ran —
most of the fixed cost of a short ``mapInArrow`` query. CPython 3.13
made the re-read lazy; older versions need this module.

``install()`` wraps ``zipimporter.invalidate_caches`` so that an archive
is re-read only when its ``(st_mtime_ns, st_size)`` differs from the
value it had when its cached directory was last read. A rewritten zip
is still picked up; an unchanged one costs one ``stat``. The wrapper
never takes the fast path without a cached directory read under a known
signature, so it is correct on every Python version: where the stock
method only drops the cache entry (3.13+), no signature is recorded and
the stock method always runs. The first call after ``install()`` reads
each archive once more, to learn its signature. A rewrite that keeps
both the size and the nanosecond mtime is not detected.

``arcade_spark/__init__.py`` calls ``install()``, so every worker that
unpickles an engine kernel has it from then on.
"""

from __future__ import annotations

import os
import zipimport

_read_sig: dict[str, tuple[int, int]] = {}
"""archive path → (st_mtime_ns, st_size) at the read that produced its
current ``zipimport._zip_directory_cache`` entry; process-wide, like
that cache."""


def _stat_sig(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _make_invalidate(stock):
    def invalidate_caches(self) -> None:
        archive = self.archive
        sig = _stat_sig(archive)
        files = zipimport._zip_directory_cache.get(archive)
        if sig is not None and files is not None and _read_sig.get(archive) == sig:
            # unchanged since the cached read: share it (another importer
            # of the same archive may have made that read)
            if hasattr(self, "_files"):
                self._files = files
            return
        # the signature is taken BEFORE the read, so a rewrite racing
        # the read is seen as a change next time
        stock(self)
        if archive in zipimport._zip_directory_cache and sig is not None:
            _read_sig[archive] = sig
        else:
            _read_sig.pop(archive, None)

    invalidate_caches._arcade_stock = stock
    return invalidate_caches


def install() -> None:
    """Idempotent: wrap ``zipimporter.invalidate_caches`` once."""
    cur = zipimport.zipimporter.invalidate_caches
    if getattr(cur, "_arcade_stock", None) is None:
        zipimport.zipimporter.invalidate_caches = _make_invalidate(cur)
