"""Per-task hygiene of reused Python workers for the kernel closures.

Workers are reused across tasks, and between two tasks PySpark pays two
fixed costs that grow with what the worker holds:

- Before every task, its worker calls ``importlib.invalidate_caches()``.
  On Python 3.11 that makes every ``zipimporter`` in
  ``sys.path_importer_cache`` eagerly re-read its whole archive directory:
  pyspark.zip and its subpackages, py4j, the spark-core jar and the
  shipped engine zip, 0.2-0.4 s per task on a 4-core host.
- After every task, its daemon runs a full ``gc.collect()`` before the
  worker reads the next task. In a worker holding pandas, pyarrow and the
  kernels (~75k tracked objects) that took 30-110 ms, and a task queued
  for that worker waited for it.

``start_task``, called first in every kernel closure, leaves the next task
neither cost.
"""

from __future__ import annotations

import gc
import sys
import zipimport

from pyspark import TaskContext

# attempt id of the task start_task last prepared; process-wide, because a
# worker process runs one task at a time
_task: int | None = None


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


def start_task() -> None:
    """Once per task (a grouped stage calls it for every group; later
    groups of the same task return at once): ``drop_zip_importers()``,
    then collect and ``gc.freeze()`` what is left. Collections skip frozen
    objects, so the daemon's collection after the task scans only what the
    task created. Collecting first keeps cyclic garbage out of the
    permanent generation, so the frozen count stays flat across tasks
    instead of growing with each one."""
    global _task
    ctx = TaskContext.get()
    task = ctx.taskAttemptId() if ctx is not None else None
    if task is not None and task == _task:
        return
    _task = task
    drop_zip_importers()
    gc.collect()
    gc.freeze()
