"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` but every setting here is
chosen to also be the right default on a large cluster:

- AQE on (runtime coalesce + skew-join splitting survive 100× scale-up),
- Arrow on (any unavoidable pandas-UDF path is batch-vectorized),
- shuffle partitions sized to cores locally; on a real cluster AQE's
  coalesce makes the initial number mostly irrelevant,
- broadcast threshold left at default 10 MB — dimension tables (region,
  nation, customer at small SF) broadcast automatically; large-SF fact-fact
  joins fall back to sort-merge, which is what you want at 100 TB.
- codegen cache sized to the engine's working set, not Spark's default
  100 entries: one ``analytics_mix`` pass alone generates ~136 classes,
  so the default LRU evicts every class before its next use and each
  repeated query shape pays its driver-side Janino compile again.
- Python workers import the driver's compiled PySpark.  Spark puts
  ``$SPARK_HOME/python/lib/pyspark.zip`` first on every worker's path,
  and the zip holds no bytecode, so each fresh worker compiled PySpark
  from source (~1 s per process; the CDC trigger's streaming source
  starts one per query).  ``get_spark`` points the workers'
  ``PYTHONUSERBASE`` at a hook dir whose ``.pth`` puts the driver's own
  ``pyspark`` and ``py4j`` ahead of the zip -- only when the driver's
  PySpark version equals the zip's, so the JVM's Python side never
  changes version.  The session-start ``lookup_data_sources`` worker
  gets the JVM's environment, not this one, and keeps the zip.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import site
import sys
import sysconfig
import tempfile
import zipfile

import py4j
import pyspark
from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "priority-data-pipeline-spark") -> SparkSession:
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet carries TIMESTAMP(NANOS) which Spark has
        # no native type for; read as long and convert (plans.tables.load)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python DataSource filter pushdown (sources.odata implements
        # pushFilters; off by default in Spark 4.1)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # generated classes kept per JVM; a static conf, so it must be set
        # here.  One registry entry generates ~15 classes and one
        # analytics_mix pass ~136; 2000 holds >= 10 such passes or a
        # >= 100-entry slice of the registry, so a session compiles each
        # query shape once.  Sized from plan shapes, not the core count.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    spark = builder.getOrCreate()
    sc = spark.sparkContext
    # sc.environment holds every spark.executorEnv.* value from any
    # source (spark-defaults, --conf, an earlier session), and each
    # Python function, UDF or data source, carries a copy of it taken
    # when the function is built -- so set it before returning.
    userbase = python_worker_hook(os.environ.get("SPARK_HOME"), sc.environment.get("PYTHONUSERBASE"))
    if userbase:
        sc.environment["PYTHONUSERBASE"] = userbase
        sc._conf.set("spark.executorEnv.PYTHONUSERBASE", userbase)  # so getConf() reports it
    return spark


_HOOK_MODULE = "spark_graft_pyhook"
_HOOK_SOURCE = """\
# Python-worker start-up hook: import the driver's compiled pyspark and
# py4j (linked under PKGS) instead of compiling them from the bytecode-free
# zip that Spark puts first on the worker's path.
import os
import site
import sys

SPARK_LIB, PKGS, USER_SITE = {spark_lib!r}, {pkgs!r}, {user_site!r}
for _i, _p in enumerate(sys.path):
    if os.path.normpath(_p).startswith(SPARK_LIB):
        sys.path.insert(_i, PKGS)
        break
if USER_SITE:
    site.addsitedir(USER_SITE)  # PYTHONUSERBASE replaced the default user base
"""


def _zip_pyspark_version(zip_path: str) -> str | None:
    try:
        with zipfile.ZipFile(zip_path) as zf:
            text = zf.read("pyspark/version.py").decode()
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    m = re.search(r"__version__\s*(?::\s*str\s*)?=\s*['\"]([^'\"]+)['\"]", text)
    return m.group(1) if m else None


def python_worker_hook(spark_home: str | None, caller_userbase: str | None) -> str | None:
    """A ``PYTHONUSERBASE`` dir that makes Spark's Python workers import
    this process's PySpark, or None when the workers must keep Spark's
    own copy: ``spark_home`` unset, a caller-set ``PYTHONUSERBASE``, or
    a driver PySpark whose version differs from the one in
    ``$SPARK_HOME/python/lib/pyspark.zip`` (the zip ships with the JVM's
    jars).  The dir is published under the system temp dir, keyed by its
    content, with one rename, so concurrent sessions never read a torn
    hook."""
    if not spark_home or caller_userbase:
        return None
    spark_lib = os.path.normpath(os.path.join(spark_home, "python", "lib"))
    if _zip_pyspark_version(os.path.join(spark_lib, "pyspark.zip")) != pyspark.__version__:
        return None
    links = {
        "pyspark": os.path.dirname(os.path.realpath(pyspark.__file__)),
        "py4j": os.path.dirname(os.path.realpath(py4j.__file__)),
    }
    if not all(os.path.isdir(target) for target in links.values()):
        return None  # the driver itself imported a zipped copy
    user_site = site.getusersitepackages() if site.ENABLE_USER_SITE else None
    user_site = user_site if user_site and os.path.isdir(user_site) else None
    key = hashlib.sha256(repr((_HOOK_SOURCE, spark_lib, sorted(links.items()), user_site, sys.version)).encode())
    tmp_root = tempfile.gettempdir()
    base = os.path.join(tmp_root, f"spark-graft-pyhook-{key.hexdigest()[:16]}")
    if os.path.isdir(base):
        return base
    hook_site = sysconfig.get_path("purelib", sysconfig.get_preferred_scheme("user"), vars={"userbase": base})
    staged = tempfile.mkdtemp(prefix=".tmp-spark-graft-pyhook-", dir=tmp_root)
    try:
        pkgs = os.path.join(staged, "pkgs")
        os.makedirs(pkgs)
        for name, target in links.items():
            os.symlink(target, os.path.join(pkgs, name))
        staged_site = os.path.join(staged, os.path.relpath(hook_site, base))
        os.makedirs(staged_site)
        source = _HOOK_SOURCE.format(spark_lib=spark_lib + os.sep, pkgs=os.path.join(base, "pkgs"), user_site=user_site)
        with open(os.path.join(staged_site, f"{_HOOK_MODULE}.py"), "w") as fh:
            fh.write(source)
        with open(os.path.join(staged_site, f"{_HOOK_MODULE}.pth"), "w") as fh:
            fh.write(f"import {_HOOK_MODULE}\n")
        os.rename(staged, base)
    except OSError:
        shutil.rmtree(staged, ignore_errors=True)
        if not os.path.isdir(base):  # not a lost race with an identical hook
            raise
    return base


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes this JVM has compiled so far: Spark's
    ``CodegenMetrics`` compilation-time histogram counts one sample per
    codegen cache miss.  Take deltas around a region to count its
    compiles."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
