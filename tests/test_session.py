"""Session factory settings: the driver JVM's JIT policy, the Python
worker daemon, the workers' Unix sockets and the shuffle local-dir /
compression rule."""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys

import pytest

from colcrush.session import (
    SOCKET_NAME_LEN,
    UDS_DIR,
    UDS_ENABLED,
    local_dir_conf,
    python_socket_conf,
)

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


def _first_batch_ms(it):
    """mapInArrow body: ms from the function's start to its first input
    batch, and whether the worker was reached over a Unix socket."""
    import os
    import time

    import pyarrow as pa

    t0 = time.perf_counter()
    wait = None
    for _ in it:
        if wait is None:
            wait = (time.perf_counter() - t0) * 1000
    yield pa.RecordBatch.from_pydict(
        {"ms": [wait], "uds": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "").lower()]},
        schema=pa.schema([("ms", pa.float64()), ("uds", pa.string())]),
    )


def test_python_task_gets_its_first_batch_without_a_stall(spark):
    # over loopback TCP every task waited ~40 ms (delayed ACK) for its
    # first batch; over the Unix socket it is well under 1 ms
    rows = spark.range(0, 8, 1, 8).mapInArrow(_first_batch_ms, "ms double, uds string").collect()
    assert len(rows) == 8
    assert {r.uds for r in rows} == {"true"}
    assert statistics.median(r.ms for r in rows) < 20, sorted(r.ms for r in rows)


def test_sockets_live_in_a_private_short_dir(spark):
    assert spark.conf.get(UDS_ENABLED) == "true"
    d = spark.conf.get(UDS_DIR)
    st = os.stat(d)
    assert st.st_uid == os.geteuid()
    assert st.st_mode & 0o077 == 0
    # Spark names each socket "<dir>/.<uuid4>.sock"; AF_UNIX holds 107 bytes
    assert len(d) + SOCKET_NAME_LEN <= 107
    # the driver's accumulator server listens there too
    addr = spark.sparkContext._accumulatorServer.server_address
    assert isinstance(addr, str) and os.path.dirname(addr) == d


def test_socket_conf_follows_the_callers_settings(tmp_path, monkeypatch):
    import shutil
    import tempfile

    short = tempfile.mkdtemp(prefix="cc-", dir="/tmp")
    try:
        monkeypatch.setattr(tempfile, "tempdir", short)
        conf = python_socket_conf({})
        assert conf == {UDS_ENABLED: "true", UDS_DIR: f"{short}/colcrush-{os.getuid()}"}
    finally:
        shutil.rmtree(short)
    assert python_socket_conf({UDS_DIR: "/run/spark"}) == {UDS_ENABLED: "true"}
    assert python_socket_conf({UDS_ENABLED: "false"}) == {}
    # a temp dir too deep for a socket path: the dir moves under /tmp
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / ("d" * 64)))
    assert python_socket_conf({})[UDS_DIR] == f"/tmp/colcrush-{os.getuid()}"


def test_private_dir_of_another_user_raises(tmp_path, monkeypatch):
    import tempfile

    from colcrush._userdir import user_dir, user_dir_path

    d = user_dir_path(str(tmp_path))
    os.makedirs(d)
    # the dir is ours; seen from another effective uid it is someone else's
    monkeypatch.setattr(os, "geteuid", lambda: os.stat(d).st_uid + 1)
    with pytest.raises(RuntimeError, match=re.escape(d)):
        user_dir(str(tmp_path))
    # get_spark's socket dir goes through the same check
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    with pytest.raises(RuntimeError, match="not owned by this user"):
        python_socket_conf({})


_PROBE_SESSION = """
import json, sys
from colcrush.session import get_spark
from tests.test_session import _first_batch_ms
spark = get_spark("uds-probe", cores=1, driver_memory="1g", extra=json.loads(sys.argv[1]))
rows = spark.range(1).mapInArrow(_first_batch_ms, "ms double, uds string").collect()
print(json.dumps([spark.conf.get("spark.python.unix.domain.socket.enabled"), rows[0].uds]))
spark.stop()
"""


def _probe_session(extra: dict, env: dict | None = None) -> list:
    out = subprocess.run(
        [sys.executable, "-c", _PROBE_SESSION, json.dumps(extra)],
        cwd=REPO, capture_output=True, text=True, timeout=300, check=True,
        env={**os.environ, **(env or {})},
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def test_extra_turns_the_unix_sockets_off():
    # a second SparkContext cannot share this process with the fixture's
    enabled, worker_uds = _probe_session({UDS_ENABLED: "false"})
    assert enabled == "false"
    assert worker_uds != "true"  # the task ran over loopback TCP


def test_session_starts_under_a_deep_temp_dir(tmp_path):
    # Spark's default socket dir, java.io.tmpdir, would make every socket
    # path overflow AF_UNIX here, and the session would fail to start
    deep = tmp_path / ("d" * (100 - len(str(tmp_path)) - 1))
    deep.mkdir()
    assert len(str(deep)) == 100
    extra = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={deep}"}
    assert _probe_session(extra, {"TMPDIR": str(deep)}) == ["true", "true"]


def test_ram_local_dir_only_when_nothing_else_is_named():
    ram = local_dir_conf({}, None, shm=True)
    # the per-user private dir, not one path shared by every user
    assert ram["spark.local.dir"] == f"/dev/shm/colcrush-{os.getuid()}"
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


@pytest.mark.skipif(not os.path.isdir("/dev/shm"), reason="no /dev/shm")
def test_ram_local_dir_of_another_user_raises():
    """get_spark refuses a RAM-backed local dir another user owns (one
    made first at the predictable name), before any JVM starts."""
    probe = (
        "import os; from colcrush.session import get_spark\n"
        "uid = os.geteuid(); os.geteuid = lambda: uid + 1\n"
        "get_spark('shm-owner', cores=1, driver_memory='1g')\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=REPO, capture_output=True, text=True, timeout=300, env=env,
    )
    assert out.returncode != 0
    want = f"/dev/shm/colcrush-{os.getuid()} exists but is not owned by this user"
    assert want in out.stderr, out.stderr[-2000:]
