"""Python workers of a ``get_spark`` session: they fork from the engine's
daemon (``goeventstream_spark._pydaemon``), whose zip-importer fix keeps
PySpark's per-task ``importlib.invalidate_caches()`` from re-reading
every archive on ``sys.path``, and they import the package from any
working directory."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from goeventstream_spark import _pydaemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PATCHED = sys.version_info < (3, 13)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.mark.skipif(not PATCHED, reason="CPython 3.13 re-reads zip directories lazily")
def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {"pyworker_probe_a": "VALUE = 1\n"})
    reads: list[str] = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    # Restores the stock method (and the stamps) when the test ends.
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(_pydaemon, "_read_stamps", {})
    monkeypatch.syspath_prepend(archive)
    try:
        import pyworker_probe_a

        assert pyworker_probe_a.VALUE == 1
        _pydaemon.install()
        assert zipimport.zipimporter.invalidate_caches is _pydaemon.invalidate_caches
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in reads, "an unchanged archive was re-read"

        # A rewrite (new size and mtime) is read again, once, and its
        # modules import from the new directory.
        _write_zip(
            archive, {"pyworker_probe_a": "VALUE = 22\n", "pyworker_probe_b": "VALUE = 3\n"}
        )
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        assert reads.count(archive) == 1, reads
        import pyworker_probe_b

        assert pyworker_probe_b.VALUE == 3
        assert importlib.reload(pyworker_probe_a).VALUE == 22
    finally:
        for name in ("pyworker_probe_a", "pyworker_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_workers_fork_from_engine_daemon(spark):
    """A conf that silently stops applying leaves the stock daemon in
    place; the worker's own zipimporter method tells which one ran."""

    @F.pandas_udf("string")
    def worker_info(s: pd.Series) -> pd.Series:
        import json
        import sys
        import zipimport

        info = json.dumps(
            [zipimport.zipimporter.invalidate_caches.__module__, sys.path]
        )
        return s.map(lambda _: info)

    got = {r.i for r in spark.range(4).repartition(2).select(worker_info("id").alias("i")).collect()}
    for info in got:
        module, path = json.loads(info)
        assert module == ("goeventstream_spark._pydaemon" if PATCHED else "zipimport")
        assert ROOT in path


_FOREIGN_CWD_SCRIPT = """
import json, sys
sys.path.insert(0, sys.argv[1])
from goeventstream_spark import get_spark
import pandas as pd
from pyspark.sql import functions as F

spark = get_spark(app_name="pyworker-cwd", master="local[2]", shuffle_partitions=2)

@F.pandas_udf("string")
def package_file(s: pd.Series) -> pd.Series:
    import goeventstream_spark
    return s.map(lambda _: goeventstream_spark.__file__)

print(json.dumps(sorted({r.f for r in spark.range(2).select(package_file("id").alias("f")).collect()})))
spark.stop()
"""


def test_get_spark_workers_import_package_from_foreign_cwd(tmp_path):
    """The daemon and every UDF import the package with neither the
    working directory nor PYTHONPATH pointing at the checkout."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _FOREIGN_CWD_SCRIPT, ROOT],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    files = json.loads(out.stdout.strip().splitlines()[-1])
    assert files == [os.path.join(ROOT, "goeventstream_spark", "__init__.py")]
