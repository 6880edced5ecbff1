"""Spark's Python-worker daemon, importing pyspark from the installed package.

Spark puts ``pyspark.zip``, the py4j zip and the spark-core jar first on
every Python worker's ``PYTHONPATH``. Each task then calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``),
and on Python 3.11 every ``zipimporter`` in ``sys.path_importer_cache``
re-reads its archive's central directory on that call: with pyspark
imported from its 1,328-entry zip, a few hundred ms per task before any
user code runs. ``get_spark`` makes this module ``spark.python.daemon.module``.
It drops those archives from ``sys.path`` when every package they ship is
installed outside them at the same ``__version__``, then runs
``pyspark.daemon``; otherwise ``sys.path`` stays as Spark set it.
"""

import os
import re
import runpy
import sys
import zipfile

_PACKAGES = ("pyspark", "py4j")
_VERSION = re.compile(r"""__version__\s*(?::\s*\w+\s*)?=\s*['"]([^'"]+)['"]""")


def _version(text: str):
    m = _VERSION.search(text)
    return m.group(1) if m else None


def _archived_versions(path: str) -> dict:
    """``{package: __version__}`` of the ``_PACKAGES`` inside zip ``path``."""
    try:
        with zipfile.ZipFile(path) as z:
            names = set(z.namelist())
            return {p: _version(z.read(f"{p}/version.py").decode())
                    for p in _PACKAGES if f"{p}/version.py" in names}
    except (OSError, zipfile.BadZipFile):
        return {}


def _installed_version(pkg: str, path: list):
    """``__version__`` of the first ``pkg`` found on ``path``, read as text."""
    for d in path:
        f = os.path.join(d or os.curdir, pkg, "version.py")
        if os.path.isfile(f):
            with open(f, encoding="utf-8") as fh:
                return _version(fh.read())
    return None


def filter_path(path: list) -> list:
    """``path`` without the jars and the zips that ship pyspark or py4j —
    or ``path`` itself unless pyspark is among them and each archived
    package is installed elsewhere on ``path`` at the same version."""
    archived = {}
    drop = set()
    for p in path:
        if p.endswith(".jar"):
            drop.add(p)
        elif p.endswith(".zip"):
            versions = _archived_versions(p)
            if versions:
                archived.update(versions)
                drop.add(p)
    kept = [p for p in path if p not in drop]
    if "pyspark" not in archived or any(
            _installed_version(pkg, kept) != v for pkg, v in archived.items()):
        return path
    return kept


def main() -> None:
    kept = filter_path(sys.path)
    dropped = set(sys.path) - set(kept)
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == d or key.startswith(d + os.sep) for d in dropped):
            del sys.path_importer_cache[key]
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
