"""Session factory: a session compiles each generated class once, and
its Python workers import the driver's compiled PySpark.

Spark's codegen cache defaults to 100 classes, fewer than one pass of the
analytics mix generates, so its LRU evicted every class before the next
pass reused it.  ``get_spark`` sizes the cache to the engine's working
set; the pinned counter is the JVM's codegen compile count.

Spark starts its Python workers with the bytecode-free
``$SPARK_HOME/python/lib/pyspark.zip`` first on their path; ``get_spark``
points them at the driver's own ``pyspark`` package instead, when the
versions match.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys
import zipfile

import pandas as pd
import py4j
import pyspark
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, DataSourceStreamReader

from perfbench.workloads import SQL_ENTRIES
from priority_data_pipeline_postgres_db_spark.operators.staging import StagingWarehouse
from priority_data_pipeline_postgres_db_spark.session import codegen_compiles, python_worker_hook
from priority_data_pipeline_postgres_db_spark.util import scratch_dir

DRIVER_PYSPARK = os.path.dirname(os.path.realpath(pyspark.__file__))


def test_second_analytics_pass_compiles_nothing(spark, sf_dir, tmp_path):
    """The analytics_mix benchmark's 8 SQL entries plus the staged view, time-travel and
    change-feed reads, run twice in one session: the second pass finds
    every generated class in the codegen cache (about 136 classes per
    pass; Spark's default 100-entry cache recompiled all of them)."""
    import __spark_entry__

    queries = __spark_entry__.queries()
    wh = StagingWarehouse(spark, str(tmp_path / "wh"), account_id="t")
    wh.set_upsert_keys("accounts", ["acct"], "version")
    for b in range(4):
        pdf = pd.DataFrame(
            {
                "acct": [b, b + 1, b + 2],
                "status": ["open", "closed", "hold"],
                "balance": [1.0, 2.0, 3.0],
                "version": [b] * 3,
            }
        )
        wh.write(spark.createDataFrame(pdf), "accounts", incremental=True, batch_id=f"b{b}")
    snaps = wh.snapshots("accounts")
    frames = [lambda name=name: queries[name](spark, sf_dir) for name in SQL_ENTRIES] + [
        lambda: wh.read("accounts"),
        lambda: wh.read("accounts", as_of=snaps[1]),
        lambda: wh.table_changes("accounts", snaps[1], snaps[-1]),
    ]

    def one_pass() -> int:
        before = codegen_compiles(spark)
        for frame in frames:
            frame().write.format("noop").mode("overwrite").save()
        return codegen_compiles(spark) - before

    one_pass()
    assert one_pass() == 0


def _pkg_dir(module_file: str) -> str:
    return os.path.dirname(os.path.realpath(module_file))


def test_udf_worker_imports_driver_pyspark(spark):
    """A Python UDF's worker imports the driver's pyspark package (with its
    bytecode cache), not the copy inside Spark's pyspark.zip."""
    where = F.udf(lambda _: __import__("pyspark").__file__)
    worker_file = spark.range(1).select(where("id")).first()[0]
    assert _pkg_dir(worker_file) == DRIVER_PYSPARK


def test_stream_source_runner_imports_driver_pyspark(spark):
    """The process that PySpark starts for each streaming query's Python
    source (the CDC trigger's per-query cost) imports the driver's
    pyspark: the source reports ``pyspark.__file__`` in its offset."""

    class WhereReader(DataSourceStreamReader):
        def initialOffset(self):
            return {"file": ""}

        def latestOffset(self):
            import pyspark

            return {"file": pyspark.__file__}

        def partitions(self, start, end):
            return []

        def read(self, partition):
            return iter([])

    class WhereSource(DataSource):
        @classmethod
        def name(cls):
            return "pyspark_file_probe"

        def schema(self):
            return "f string"

        def streamReader(self, schema):
            return WhereReader()

    spark.dataSource.register(WhereSource)
    q = (
        spark.readStream.format("pyspark_file_probe")
        .load()
        .writeStream.format("noop")
        .trigger(availableNow=True)
        .option("checkpointLocation", scratch_dir("pyspark_file_probe_"))
        .start()
    )
    q.awaitTermination()
    # the progress reports the offset dict as its Python repr
    offset = ast.literal_eval(q.lastProgress["sources"][0]["endOffset"])
    assert _pkg_dir(offset["file"]) == DRIVER_PYSPARK


def test_worker_keeps_caller_path_ahead_of_site_packages(spark, monkeypatch, tmp_path):
    """Only pyspark and py4j move ahead of the caller's PYTHONPATH: in a
    worker, a caller's entry still precedes every site-packages dir."""
    monkeypatch.setitem(spark.sparkContext.environment, "PYTHONPATH", str(tmp_path))

    def worker_path(_):
        import site
        import sys

        import pyspark

        return pyspark.__file__, sys.path, site.getsitepackages()

    udf = F.udf(worker_path, "struct<file:string,path:array<string>,site:array<string>>")
    worker_file, path, site_dirs = spark.range(1).select(udf("id")).first()[0]
    assert _pkg_dir(worker_file) == DRIVER_PYSPARK
    firsts = [path.index(d) for d in site_dirs if d in path]
    assert firsts and path.index(str(tmp_path)) < min(firsts)


def _fake_spark_home(root, version: str) -> str:
    lib = root / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as zf:
        zf.writestr("pyspark/version.py", f"__version__: str = {version!r}\n")
    return str(root)


def test_worker_hook_installs_nothing_unless_versions_match(tmp_path, monkeypatch):
    """The hook is built only for a zip whose PySpark version equals the
    driver's and when no caller set PYTHONUSERBASE; otherwise nothing is
    written and the workers keep Spark's own copy.  Starts no Spark."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr("tempfile.tempdir", str(tmp))
    other = _fake_spark_home(tmp_path / "other", "0.0.1")
    same = _fake_spark_home(tmp_path / "same", pyspark.__version__)

    assert python_worker_hook(other, None) is None
    assert python_worker_hook(same, "/caller/userbase") is None
    assert python_worker_hook(None, None) is None
    assert os.listdir(tmp) == []

    base = python_worker_hook(same, None)
    assert os.listdir(tmp) == [os.path.basename(base)]
    assert python_worker_hook(same, None) == base  # content-keyed: reused
    assert _pkg_dir(os.path.join(base, "pkgs", "pyspark", "__init__.py")) == DRIVER_PYSPARK
    assert sorted(os.listdir(os.path.join(base, "pkgs"))) == ["py4j", "pyspark"]


def test_worker_hook_puts_driver_pyspark_first_and_keeps_user_site(tmp_path, monkeypatch):
    """A fresh interpreter started the way Spark starts a worker (the zip
    first on PYTHONPATH, PYTHONUSERBASE at the hook) imports the driver's
    pyspark, and still sees the driver's own user site-packages dir."""
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr("tempfile.tempdir", str(tmp))
    user_site = tmp_path / "usersite"
    user_site.mkdir()
    (user_site / "caller_mod.py").write_text("")
    monkeypatch.setattr("site.ENABLE_USER_SITE", True)
    monkeypatch.setattr("site.USER_SITE", str(user_site))
    home = _fake_spark_home(tmp_path / "home", pyspark.__version__)
    base = python_worker_hook(home, None)

    env = dict(os.environ, PYTHONUSERBASE=base, PYTHONPATH=os.path.join(home, "python", "lib", "pyspark.zip"))
    code = "import caller_mod, pyspark, py4j; print(pyspark.__file__); print(py4j.__file__)"
    out = subprocess.run([sys.executable, "-c", code], env=env, capture_output=True, text=True, check=True)
    pyspark_file, py4j_file = out.stdout.split()
    assert _pkg_dir(pyspark_file) == DRIVER_PYSPARK
    assert _pkg_dir(py4j_file) == os.path.dirname(os.path.realpath(py4j.__file__))
