"""Spark's Python worker daemon, keeping the import index of Spark's own archives.

Before every task pyspark's worker calls ``importlib.invalidate_caches()``,
and each ``zipimporter`` then re-reads its whole archive directory: over
pyspark.zip, the py4j zip and the spark-core jar that is ~0.2 s of CPU per
task.  The archives on ``sys.path`` when the daemon starts are Spark's own
and do not change while the application runs, so their importers skip the
re-read.  Archives added later (``--py-files``, ``addPyFile``) are
invalidated as usual.  ``session.get_spark`` sets this module as
``spark.python.daemon.module`` when the package is importable at worker start.
"""

import os
import sys
import zipimport


def keep_archive_indexes(paths: list[str]) -> None:
    """Make ``zipimporter.invalidate_caches`` a no-op for the archive files in paths."""
    fixed = frozenset(p for p in paths if os.path.isfile(p))
    invalidate = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        if self.archive not in fixed:
            invalidate(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    keep_archive_indexes(sys.path)
    from pyspark import daemon

    daemon.manager()
