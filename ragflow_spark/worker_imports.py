"""Python-worker import hygiene for the kernel closures.

Before every task, PySpark's worker calls ``importlib.invalidate_caches()``.
On Python 3.11 that makes every ``zipimporter`` in
``sys.path_importer_cache`` eagerly re-read its whole archive directory:
pyspark.zip and its subpackages, py4j, the spark-core jar and the shipped
engine zip, 0.2-0.4 s per task on a 4-core host. Workers are reused across
tasks, so a kernel closure that drops those importers as it starts leaves
the worker's next task nothing to re-read.
"""

from __future__ import annotations

import sys
import zipimport


def drop_zip_importers() -> int:
    """Delete every cached ``zipimporter`` from ``sys.path_importer_cache``
    and evict its archive from zipimport's directory cache; returns how many
    importers were dropped. Imported modules are untouched; ``PathFinder``
    rebuilds a dropped entry from ``sys.path_hooks`` on the next import that
    needs it, and the rebuilt importer reads its archive fresh."""
    dir_cache = getattr(zipimport, "_zip_directory_cache", {})  # private
    dropped = 0
    for entry, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            sys.path_importer_cache.pop(entry, None)
            dir_cache.pop(finder.archive, None)
            dropped += 1
    return dropped
