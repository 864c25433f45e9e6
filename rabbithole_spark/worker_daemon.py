"""PySpark worker daemon that stops re-reading Spark's own archives per task.

Before every task a reused worker calls ``importlib.invalidate_caches()``
so that archives shipped with ``addPyFile`` become importable. On
CPython < 3.13 that makes every cached ``zipimporter`` re-read its
archive's whole central directory — including ``pyspark.zip``, the py4j
zip and the spark-core jar on the worker's fixed ``PYTHONPATH`` (~12
importers, ~8k entries), which costs a few hundred ms of CPU per task.

This module is ``spark.python.daemon.module`` for sessions built by
:func:`rabbithole_spark.session.get_spark`. The archives on the daemon's
startup ``sys.path`` are treated as immutable for the application's
lifetime and skipped; every other archive (``addPyFile``/SparkFiles)
and every directory cache is still invalidated per task. CPython 3.13
made the re-read lazy, so there the skip saves little.
"""

from __future__ import annotations

import os
import sys
import zipimport


def skip_rereads(archives: frozenset[str]) -> None:
    """Make ``zipimporter.invalidate_caches`` a no-op for ``archives``."""
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self: zipimport.zipimporter) -> None:
        if self.archive not in archives:
            reread(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    skip_rereads(frozenset(p for p in sys.path if os.path.isfile(p)))

    from pyspark import daemon

    daemon.manager()
