"""Spark's Python worker daemon, run with pyspark imported from its
directory install instead of Spark's archives.

Spark starts the daemon with its own ``pyspark.zip``, the py4j zip and
(Spark 4.1) ``spark-core_*.jar`` at the head of ``PYTHONPATH``. pyspark's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``
once per task, and every zipimporter on the path re-reads its archive
on that call: 0.06-0.09 s per task with the archives present (0.05 s
with the jar alone), 0.0001 s with them gone. When the same pyspark and
py4j are installed as directories further down the path, this module
drops the archives -- their ``sys.path`` entries, the importers cached
for them and the namespace modules they back (``org``, which the
stdlib's Jython probe finds in the jar) -- and then runs the stock
``pyspark.daemon.manager()``. Otherwise it runs that daemon on the
stock path.

On a local master ``session.get_spark`` sets
``spark.python.daemon.module`` to this module. The daemon starts before
any ``--py-files`` are on the path, so on a cluster get_spark leaves the
conf unset: set it (through get_spark's ``extra``) only where the
executors can import ``gocrd_spark`` from their own Python environment.
"""

from __future__ import annotations

import os
import sys
import zipfile
from typing import Optional

_PACKAGES = ("pyspark", "py4j")


def _archive_packages(entry: str) -> Optional[dict[str, Optional[bytes]]]:
    """``{package: version.py bytes}`` for the packages of ``_PACKAGES``
    a zip or jar path entry holds, or None if the entry is no archive."""
    if not entry.endswith((".zip", ".jar")) or not os.path.isfile(entry):
        return None
    try:
        with zipfile.ZipFile(entry) as z:
            names = set(z.namelist())
            return {
                p: z.read(f"{p}/version.py") if f"{p}/version.py" in names else None
                for p in _PACKAGES
                if f"{p}/__init__.py" in names
            }
    except (OSError, zipfile.BadZipFile):
        return None


def _installed_version(path: list[str], package: str) -> Optional[bytes]:
    """``version.py`` bytes of the first directory install of ``package``
    on ``path`` (b"" if it has none), or None if there is none."""
    for entry in path:
        pkg = os.path.join(entry or os.curdir, package)
        if os.path.isfile(os.path.join(pkg, "__init__.py")):
            try:
                with open(os.path.join(pkg, "version.py"), "rb") as fh:
                    return fh.read()
            except OSError:
                return b""
    return None


def spark_archives(path: list[str]) -> list[str]:
    """The entries of ``path`` to drop: the archives that hold pyspark or
    py4j, and every jar. Empty -- keep the path as it is -- unless the
    archives hold pyspark and the rest of the path has directory installs
    of pyspark and py4j whose ``version.py`` equals the archives' copy."""
    drop, shipped = [], {}
    for entry in path:
        held = _archive_packages(entry)
        if held is None:
            continue
        if held or entry.endswith(".jar"):
            drop.append(entry)
        for package, version in held.items():
            shipped.setdefault(package, version)
    if "pyspark" not in shipped:
        return []
    rest = [e for e in path if e not in drop]
    for package in _PACKAGES:
        installed = _installed_version(rest, package)
        if installed is None:
            return []
        if shipped.get(package) is not None and installed != shipped[package]:
            return []
    return drop


def _backed_by(location: str, archives: list[str]) -> bool:
    return any(location == a or location.startswith(a + os.sep) for a in archives)


def prune_spark_archives() -> None:
    """Drop :func:`spark_archives` from this interpreter: the ``sys.path``
    entries, the ``sys.path_importer_cache`` entries and the modules
    backed by them. Drops nothing once pyspark or py4j has been
    imported."""
    if any(p in sys.modules for p in _PACKAGES):
        return
    drop = spark_archives(sys.path)
    if not drop:
        return
    # before sys.path changes: a namespace package recomputes its
    # __path__ from sys.path when read
    for name, module in list(sys.modules.items()):
        spec = getattr(module, "__spec__", None)
        if spec is None:
            continue
        locations = list(spec.submodule_search_locations or [])
        if spec.has_location and spec.origin:
            locations.append(spec.origin)
        if locations and all(_backed_by(loc, drop) for loc in locations):
            del sys.modules[name]
    sys.path[:] = [e for e in sys.path if e not in drop]
    for key in list(sys.path_importer_cache):
        if _backed_by(key, drop):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    prune_spark_archives()
    from pyspark import daemon

    daemon.manager()
