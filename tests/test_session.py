"""Session factory settings: the driver JVM's JIT policy and the
shuffle local-dir / compression rule."""

from __future__ import annotations

from colcrush.session import RAM_LOCAL_DIR, local_dir_conf


def test_driver_jvm_runs_c1_only(spark):
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    args = list(bean.getRuntimeMXBean().getInputArguments())
    assert "-XX:TieredStopAtLevel=1" in args, args


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
