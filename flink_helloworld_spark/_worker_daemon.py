"""Python worker fork server: ``pyspark.daemon`` without the per-task
zip-index re-read.

Every Python task runs ``pyspark.worker_util.setup_spark_files``, which
calls ``importlib.invalidate_caches()``. On Python 3.11 that makes each
``zipimporter`` on ``sys.path_importer_cache`` re-read its archive at
once: a worker holds ~12 of them over Spark's ``pyspark.zip`` (1,328
entries), so every task paid ~0.2 s before its function ran.

Keeping the zip indexes is safe: Spark's zips do not change while a
session runs, a path added later by ``addPyFile`` gets a fresh
``zipimporter`` anyway, and ``spark.files.overwrite`` is off, so a
shipped file is never replaced in place. Python 3.12 made the re-read
lazy; delete this module (and its ``spark.python.daemon.module``
setting in ``session.build_session``) once the engine requires 3.12.
"""

import zipimport


def _keep_zip_index(self):
    """No-op ``zipimporter.invalidate_caches``."""


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _keep_zip_index

    from pyspark.daemon import manager

    manager()
