"""Python-worker daemon of the sessions `session.get_spark` builds.

Spark puts pyspark.zip, the py4j source zip and the spark-core jar at the
head of every worker's `sys.path`, and `pyspark.worker` calls
`importlib.invalidate_caches()` once per task: on CPython 3.11 each cached
`zipimporter` then re-reads its whole archive directory, ~0.2 s of CPU a
task. When an unpacked pyspark and py4j of the same versions are
importable, drop those archives before anything imports pyspark, then run
pyspark's own daemon unchanged.
"""

from __future__ import annotations

import os
import re
import sys
import zipfile

_VERSION = re.compile(r"""__version__(?:\s*:\s*str)?\s*=\s*['"]([^'"]+)['"]""")


def _is_spark_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    named = name == "pyspark.zip" or name.endswith(".jar") or (
        name.startswith("py4j-") and name.endswith("-src.zip")
    )
    return named and os.path.isfile(entry)


def _read(entry: str, member: str) -> str | None:
    """Text of `member` under a path entry (directory or archive)."""
    try:
        if zipfile.is_zipfile(entry):
            with zipfile.ZipFile(entry) as z:
                return z.read(member).decode("utf-8")
        with open(os.path.join(entry, member), encoding="utf-8") as f:
            return f.read()
    except (OSError, KeyError, UnicodeDecodeError):
        return None


def _version(pkg: str, entries: list[str]) -> str | None:
    """`__version__` of the `pkg` that import would find on `entries`."""
    for entry in entries:
        if _read(entry, f"{pkg}/__init__.py") is not None:
            m = _VERSION.search(_read(entry, f"{pkg}/version.py") or "")
            return m.group(1) if m else None
    return None


def spark_archives(path: list[str]) -> list[str]:
    """The Spark archives on `path` that an unpacked pyspark and py4j of
    the same versions make redundant; [] when there are none."""
    archives = [e for e in path if _is_spark_archive(e)]
    rest = [e for e in path if e not in archives]
    for pkg in ("pyspark", "py4j"):
        zipped = _version(pkg, archives)
        if zipped is None or zipped != _version(pkg, rest):
            return []
    return archives


if __name__ == "__main__":
    drop = set(spark_archives(sys.path))
    sys.path[:] = [e for e in sys.path if e not in drop]
    for entry in drop:
        sys.path_importer_cache.pop(entry, None)
    from pyspark import daemon

    daemon.manager()
