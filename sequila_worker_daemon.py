"""PySpark worker daemon that imports pyspark from site-packages, not from
Spark's ``pyspark.zip``.

Spark puts ``pyspark.zip``, the py4j zip and the ``spark-core`` jar at the
head of every Python worker's ``sys.path``. PySpark 4.1's worker calls
``importlib.invalidate_caches()`` for every task, and on Python 3.11 that
makes each cached ``zipimporter`` re-read its whole archive: about 0.15 s
before each task's function starts. When the rest of ``sys.path`` holds a
``pyspark`` of the same version as the zip's (a pip-installed PySpark),
this module drops those archives from ``sys.path`` and
``sys.path_importer_cache`` and then runs ``pyspark.daemon`` unchanged.
Otherwise it runs ``pyspark.daemon`` on the path as it found it.

Select it with ``--conf spark.python.daemon.module=sequila_worker_daemon``;
:func:`sequila_native_spark.sequila_session` sets it on local sessions
whose workers can import it. It is a top-level module, not part of
``sequila_native_spark``, because ``python -m pkg.mod`` runs
``pkg/__init__.py`` first, and the package imports pyspark.
"""

from __future__ import annotations

import os
import re
import runpy
import sys
import zipfile

_PYSPARK = "pyspark/version.py"
_PY4J = "py4j/__init__.py"
_VERSION = re.compile(r"""__version__\s*(?::\s*str\s*)?=\s*["']([^"']+)["']""")


def _version(text: str | None) -> str | None:
    m = _VERSION.search(text or "")
    return m.group(1) if m else None


def _read(path: str) -> str | None:
    try:
        with open(path, encoding="utf-8") as f:
            return f.read()
    except OSError:
        return None


def _zip_members(path: str) -> dict[str, str]:
    """``pyspark/version.py`` and ``py4j/__init__.py`` of the archive at
    ``path``, for those it holds."""
    try:
        with zipfile.ZipFile(path) as z:
            names = set(z.namelist())
            return {m: z.read(m).decode("utf-8") for m in (_PYSPARK, _PY4J)
                    if m in names}
    except (OSError, zipfile.BadZipFile):
        return {}


def worker_path(path: list[str]) -> list[str]:
    """``path`` without Spark's archives when the rest of it imports the
    same pyspark; otherwise ``path`` unchanged.

    Spark's archives are every ``.jar`` entry and every ``.zip`` entry
    holding ``pyspark/version.py`` or ``py4j/__init__.py``. Other zips,
    such as a user's or the standard library's, stay.
    """
    plain = [p for p in path if not p.endswith((".zip", ".jar"))]
    found = next((p for p in plain
                  if os.path.isfile(os.path.join(p, "pyspark", "__init__.py"))),
                 None)
    if found is None:
        return list(path)
    version = _version(_read(os.path.join(found, _PYSPARK)))
    has_py4j = any(os.path.isfile(os.path.join(p, _PY4J)) for p in plain)
    drop = set()
    for p in path:
        if p.endswith(".jar"):
            drop.add(p)
        elif p.endswith(".zip"):
            members = _zip_members(p)
            if _PYSPARK in members:
                if version is None or _version(members[_PYSPARK]) != version:
                    return list(path)
                drop.add(p)
            elif _PY4J in members:
                if not has_py4j:
                    return list(path)
                drop.add(p)
    return [p for p in path if p not in drop]


def main() -> None:
    keep = worker_path(sys.path)
    gone = tuple(p for p in sys.path if p not in keep)
    if gone:
        sys.path[:] = keep
        for key in list(sys.path_importer_cache):
            if key in gone or key.startswith(tuple(g + os.sep for g in gone)):
                del sys.path_importer_cache[key]
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
