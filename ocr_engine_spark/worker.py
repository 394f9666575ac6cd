"""Executor-side setup shared by every Python closure the engine ships.

PySpark calls ``importlib.invalidate_caches()`` once per task
(``pyspark/worker_util.py``, after it sets up the task's ``--py-files``).  On
CPython 3.10-3.12 that makes every ``zipimport.zipimporter`` re-read its
archive's central directory at once: the 3.5 MB ``pyspark.zip`` is on
``sys.path`` several times over, so a reused worker spent about 0.2 s per
task re-reading it before the UDF ran (0.29 s -> 0.09 s from the worker's
``main`` to the UDF's first call, median of 128 tasks, 4-core host).
"""

from __future__ import annotations

import sys
import zipimport


def _keep_directory(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that keeps the cached directory."""


def skip_zip_rereads() -> None:
    """Make ``zipimport.zipimporter.invalidate_caches`` a no-op in this
    process; call it at the top of every closure that runs on an executor.

    It takes effect for every later task of a reused Python worker; the first
    task of each worker has already paid.  Idempotent and cheap enough to
    call per batch or per group.

    Trade-off: a zip archive whose bytes change under a live worker is not
    re-read.  ``pyspark.zip`` and ``--py-files`` archives do not change while
    a worker lives, and an archive at a new path gets a new importer, which
    reads its own directory.  The gate is on the interpreter version:
    ``zipimporter.invalidate_caches`` first appeared in 3.10 with an eager
    re-read, and later releases only drop the cached directory and re-read
    it lazily, where the no-op would buy nothing.
    """
    if (3, 10) <= sys.version_info[:2] < (3, 13):
        zipimport.zipimporter.invalidate_caches = _keep_directory
