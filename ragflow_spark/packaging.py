"""--py-files packaging: ship the engine to executors as a zip.

The reference's worker processes import the whole repo; on Spark the engine
must travel to executors explicitly (``spark-submit --py-files engine.zip``).
``package_zip()`` builds that artifact; ``get_spark`` attaches it via
``sc.addPyFile`` so interactive drivers work identically to spark-submit.
No module-level state is shipped — kernels are pure functions
(SURVEY.md §7 M5: the reference's import-time singletons are the
anti-pattern to avoid on executors).
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile


_PKG_DIR = os.path.dirname(os.path.abspath(__file__))


def _package_files() -> list[str]:
    """Sorted paths of every ``.py`` file in the package."""
    files = []
    for root, _dirs, names in os.walk(_PKG_DIR):
        for n in sorted(names):
            if n.endswith(".py"):
                files.append(os.path.join(root, n))
    return sorted(files)


def package_digest() -> str:
    """12-hex content digest of the package sources: changes whenever any
    engine code does, so caches of engine output can key on it."""
    h = hashlib.sha256()
    for f in _package_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def package_zip(out_path: str | None = None) -> str:
    """Zip the ragflow_spark package; returns the zip path. Content-hashed
    name (``package_digest``) so repeated sessions reuse the artifact."""
    if out_path is None:
        out_path = os.path.join(
            tempfile.gettempdir(), f"ragflow_spark-{package_digest()}.zip"
        )
    if os.path.exists(out_path):
        return out_path
    tmp = out_path + ".tmp"
    base = os.path.dirname(_PKG_DIR)
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for f in _package_files():
            zf.write(f, os.path.relpath(f, base))
    os.replace(tmp, out_path)  # atomic publish
    return out_path
