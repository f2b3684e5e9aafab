"""Session factory settings: the driver JVM's JIT policy, the Python
worker daemon and the shuffle local-dir / compression rule."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from colcrush.session import RAM_LOCAL_DIR, local_dir_conf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip_importer_types(it):
    """mapInArrow body: the type of every zip importer the worker holds."""
    import sys
    import zipimport

    import pyarrow as pa

    for _ in it:
        pass
    types = sorted(
        f"{type(f).__module__}.{type(f).__qualname__}"
        for f in sys.path_importer_cache.values()
        if isinstance(f, zipimport.zipimporter)
    )
    yield pa.RecordBatch.from_pydict({"t": types}, schema=pa.schema([("t", pa.string())]))


def test_driver_jvm_runs_c1_only(spark):
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    args = list(bean.getRuntimeMXBean().getInputArguments())
    assert "-XX:TieredStopAtLevel=1" in args, args
    # the default 48 MB code cache fills under C1-only compilation
    assert "-XX:ReservedCodeCacheSize=240m" in args, args


def test_python_workers_fork_from_colcrush_daemon(spark):
    assert spark.conf.get("spark.python.daemon.module") == "colcrush._worker_daemon"
    types = [r.t for r in spark.range(1).mapInArrow(_zip_importer_types, "t string").collect()]
    # the worker imports pyspark from pyspark.zip, so zip importers exist,
    # and every one of them was built through the daemon's path hook
    assert types, "no zip importers in the worker"
    assert set(types) == {"colcrush._worker_daemon.StatZipImporter"}, types


_STOCK_DAEMON = """
import json
from colcrush.session import get_spark
from tests.test_session import _zip_importer_types
spark = get_spark("stock-daemon", cores=1, driver_memory="1g",
                  extra={"spark.python.daemon.module": "pyspark.daemon"})
types = [r.t for r in spark.range(1).mapInArrow(_zip_importer_types, "t string").collect()]
print(json.dumps([spark.conf.get("spark.python.daemon.module"), sorted(set(types))]))
spark.stop()
"""


def test_extra_replaces_the_daemon_module():
    # a second SparkContext cannot share this process with the fixture's
    out = subprocess.run(
        [sys.executable, "-c", _STOCK_DAEMON],
        cwd=REPO, capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    module, types = json.loads(out.strip().splitlines()[-1])
    assert module == "pyspark.daemon"
    assert types == ["zipimport.zipimporter"]


def test_ram_local_dir_only_when_nothing_else_is_named():
    ram = local_dir_conf({}, None, shm=True)
    assert ram["spark.local.dir"] == RAM_LOCAL_DIR
    # compressing blocks headed to tmpfs is pure CPU
    assert ram["spark.shuffle.compress"] == "false"
    assert ram["spark.shuffle.spill.compress"] == "false"
    # the caller's dir, Spark's own env override or a host without
    # /dev/shm: Spark's defaults (compression on), no tmpfs dir
    assert local_dir_conf({"spark.local.dir": "/data/spark"}, None, shm=True) == {}
    assert local_dir_conf({}, "/data/a,/data/b", shm=True) == {}
    assert local_dir_conf({}, None, shm=False) == {}
    # unrelated caller settings leave the rule alone
    assert local_dir_conf({"spark.ui.enabled": "true"}, "", shm=True) == ram
