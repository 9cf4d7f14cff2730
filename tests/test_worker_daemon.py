"""worker_daemon: Python workers import pyspark from its installed
package, never from the archives Spark prepends to their path, and only
when the installed pyspark and py4j match the archived versions."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

from trace_data_pipeline_spark.worker_daemon import spark_archives

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _package(root, pkg: str, version: str) -> str:
    os.makedirs(os.path.join(root, pkg), exist_ok=True)
    with open(os.path.join(root, pkg, "__init__.py"), "w") as f:
        f.write("")
    with open(os.path.join(root, pkg, "version.py"), "w") as f:
        f.write(f'__version__: str = "{version}"\n')
    return str(root)


def _archive(path, pkgs: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for pkg, version in pkgs.items():
            z.writestr(f"{pkg}/__init__.py", "")
            z.writestr(f"{pkg}/version.py", f"__version__ = '{version}'\n")
    return str(path)


@pytest.fixture
def layout(tmp_path):
    """A Spark-style worker path: the three prepended archives, a
    directory named like a jar, the interpreter's own zip, then
    site-packages."""
    lib = tmp_path / "lib"
    lib.mkdir()
    jar_dir = tmp_path / "classes.jar"
    jar_dir.mkdir()
    return {
        "pyspark_zip": _archive(lib / "pyspark.zip", {"pyspark": "4.1.2"}),
        "py4j_zip": _archive(lib / "py4j-0.10.9.9-src.zip", {"py4j": "0.10.9.9"}),
        "jar": _archive(lib / "spark-core_2.13-4.1.2.jar", {}),
        "stdlib_zip": _archive(tmp_path / "python311.zip", {}),
        "jar_dir": str(jar_dir),
        "site": str(tmp_path / "site"),
    }


def _path(layout):
    keys = ("pyspark_zip", "py4j_zip", "jar", "jar_dir", "stdlib_zip", "site")
    return [layout[k] for k in keys]


def test_drops_only_spark_archives_when_versions_match(layout):
    _package(layout["site"], "pyspark", "4.1.2")
    _package(layout["site"], "py4j", "0.10.9.9")
    assert spark_archives(_path(layout)) == [
        layout["pyspark_zip"],
        layout["py4j_zip"],
        layout["jar"],
    ]


@pytest.mark.parametrize(
    "installed",
    [
        {"pyspark": "4.1.1", "py4j": "0.10.9.9"},
        {"pyspark": "4.1.2", "py4j": "0.10.9.7"},
        {"py4j": "0.10.9.9"},
        {"pyspark": "4.1.2"},
    ],
    ids=["pyspark-mismatch", "py4j-mismatch", "no-pyspark", "no-py4j"],
)
def test_keeps_path_without_same_version_packages(layout, installed):
    for pkg, version in installed.items():
        _package(layout["site"], pkg, version)
    assert spark_archives(_path(layout)) == []


def test_first_pyspark_on_path_decides(layout, tmp_path):
    """An older unpacked pyspark ahead of the matching one is what
    import would load, so the archives stay."""
    _package(layout["site"], "pyspark", "4.1.2")
    _package(layout["site"], "py4j", "0.10.9.9")
    old = _package(tmp_path / "old", "pyspark", "3.5.0")
    path = _path(layout)
    path.insert(3, old)
    assert spark_archives(path) == []


def test_live_worker_imports_unpacked_pyspark(spark):
    """A task's worker runs pyspark from a real file, not an archive
    member, and holds no zipimporter that invalidate_caches re-reads."""
    lib = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib")
    archives = sorted(glob.glob(os.path.join(lib, "*.zip")))
    if not spark_archives(archives + sys.path):
        pytest.skip("no installed pyspark/py4j matching SPARK_HOME's archives")

    def probe(batches):
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark

        for _ in batches:
            pass
        zips = [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]
        yield pa.RecordBatch.from_pylist([{"pyspark": pyspark.__file__, "zips": repr(zips)}])

    rows = spark.range(2).repartition(2).mapInArrow(probe, "pyspark string, zips string").collect()
    assert rows
    for r in rows:
        assert os.path.isfile(r.pyspark), r.pyspark
        assert r.zips == "[]"


def test_workers_import_engine_from_any_cwd(tmp_path):
    """A session started outside the repo with PYTHONPATH unset: workers
    still import the engine, and a caller's executor PYTHONPATH is kept."""
    extra = tmp_path / "extra"
    extra.mkdir()
    script = tmp_path / "probe.py"
    script.write_text(textwrap.dedent(f"""
        import json, sys
        sys.path.insert(0, {ROOT!r})
        import pyarrow as pa
        from trace_data_pipeline_spark.session import get_spark

        spark = get_spark(cpus=1, shuffle_partitions=1, driver_memory="1g",
                          extra_conf={{"spark.executorEnv.PYTHONPATH": {str(extra)!r}}})

        def probe(batches):
            import sys
            import trace_data_pipeline_spark
            for _ in batches:
                pass
            yield pa.RecordBatch.from_pylist(
                [{{"engine": trace_data_pipeline_spark.__file__, "path": json.dumps(sys.path)}}])

        row = spark.range(1).mapInArrow(probe, "engine string, path string").first()
        print(json.dumps(row.asDict()))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    done = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    row = json.loads(done.stdout.strip().splitlines()[-1])
    assert row["engine"].startswith(ROOT + os.sep)
    assert str(extra) in json.loads(row["path"])
