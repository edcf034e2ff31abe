"""The session defaults fit the machine. The default driver heap never
exceeds physical memory or the cgroup memory limit, and
``P6_SPARK_DRIVER_MEM`` still overrides it. A fixed heap larger than the
machine (the old 48g default on a 15.7 GB box) lets G1 grow the JVM until
the kernel kills it, and every later Spark test then fails with
ConnectionRefused. The default parallelism is the CPUs the process may run
on, not a constant (the old ``local[32]`` on a 4-core box), and
``SPARK_GRAFT_CPUS`` still overrides it. PySpark's per-call capture of the
Python call site (DataFrame debugging) is off in every session."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest
from pyspark.errors.utils import is_debugging_enabled

from p6_spark import session

_UNITS = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _jvm_bytes(size: str) -> int:
    size = size.strip().lower()
    if size[-1] in _UNITS:
        return int(size[:-1]) * _UNITS[size[-1]]
    return int(size)


def _physical_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


@pytest.fixture
def no_override(monkeypatch):
    monkeypatch.delenv("P6_SPARK_DRIVER_MEM", raising=False)


def test_default_heap_within_physical_memory(no_override):
    heap = _jvm_bytes(session.driver_memory())
    assert 0 < heap <= session.machine_memory_bytes() <= _physical_bytes()
    # headroom: Spark's 75 % share of memory, less the 10 % overhead factor
    assert heap <= 0.75 * _physical_bytes() / 1.1


@pytest.mark.parametrize("cgroup_text", ["4294967296\n", "9223372036854771712\n", "max\n"])
def test_default_heap_within_cgroup_limit(tmp_path, monkeypatch, no_override, cgroup_text):
    limit_file = tmp_path / "memory.max"
    limit_file.write_text(cgroup_text)
    monkeypatch.setattr(session, "CGROUP_MEMORY_LIMITS", (str(limit_file),))
    monkeypatch.setattr(session, "PROC_SELF_CGROUP", str(tmp_path / "no_proc_cgroup"))
    limit = int(cgroup_text) if cgroup_text.strip().isdigit() else _physical_bytes()
    assert session.machine_memory_bytes() == min(limit, _physical_bytes())
    assert _jvm_bytes(session.driver_memory()) <= 0.75 * min(limit, _physical_bytes()) / 1.1


@pytest.mark.parametrize(
    "proc_line, limit_dir, limit_name",
    [
        # cgroup v1 without a namespace: a limited container cgroup
        ("4:memory:/process_api/job7", "memory/process_api/job7", "memory.limit_in_bytes"),
        # cgroup v2 without a namespace: a limited systemd slice above the service
        ("0::/ci.slice/runner.service", "ci.slice", "memory.max"),
    ],
)
def test_default_heap_within_own_cgroup_limit(
    tmp_path, monkeypatch, no_override, proc_line, limit_dir, limit_name
):
    """A limit on the process's own cgroup, or on an ancestor, below the
    mount root counts, though the files at the top of the mount say
    "unlimited"."""
    root = tmp_path / "cgroup"
    (root / "memory").mkdir(parents=True)
    (root / "memory.max").write_text("max\n")
    (root / "memory" / "memory.limit_in_bytes").write_text("9223372036854771712\n")
    (root / limit_dir).mkdir(parents=True, exist_ok=True)
    (root / limit_dir / limit_name).write_text(f"{2 << 30}\n")
    if limit_name == "memory.max":
        (root / limit_dir / "runner.service").mkdir()
        (root / limit_dir / "runner.service" / "memory.max").write_text("max\n")
    proc = tmp_path / "proc_self_cgroup"
    proc.write_text(f"9:pids:/\n{proc_line}\n1:cpu:/\n")
    monkeypatch.setattr(session, "CGROUP_ROOT", str(root))
    monkeypatch.setattr(session, "PROC_SELF_CGROUP", str(proc))
    monkeypatch.setattr(
        session,
        "CGROUP_MEMORY_LIMITS",
        (str(root / "memory.max"), str(root / "memory" / "memory.limit_in_bytes")),
    )
    assert session.machine_memory_bytes() == min(2 << 30, _physical_bytes())
    assert _jvm_bytes(session.driver_memory()) <= 0.75 * (2 << 30) / 1.1


def test_default_heap_formula():
    assert session.default_driver_memory(16 << 30) == f"{int(16 * 1024 * 0.75 / 1.1)}m"
    assert session.default_driver_memory(1 << 30) == f"{int(1024 * 0.75 / 1.1)}m"


def test_env_override(monkeypatch):
    monkeypatch.setenv("P6_SPARK_DRIVER_MEM", "1g")
    assert session.driver_memory() == "1g"
    monkeypatch.setenv("P6_SPARK_DRIVER_MEM", "")
    assert session.driver_memory() == session.default_driver_memory()


def test_live_session_uses_derived_heap(spark):
    """The session get_spark built carries driver_memory() and the
    default parallelism, the JVM's real max heap fits in the machine's
    memory, and PySpark captures no call site per DataFrame call."""
    assert spark.sparkContext.getConf().get("spark.driver.memory") == session.driver_memory()
    assert spark.sparkContext.master == f"local[{session.parallelism()}]"
    max_heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    if not os.environ.get("P6_SPARK_DRIVER_MEM"):
        assert max_heap <= session.machine_memory_bytes()
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


class _FakeBuilder:
    """Records what ``get_spark`` asks of ``SparkSession.builder``
    without starting a JVM."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def master(self, m):
        return self.config("master", m)

    def appName(self, _name):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _level: None))


def test_default_parallelism_is_the_cpus_the_process_may_use(monkeypatch):
    builder = _FakeBuilder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2})
    session.get_spark("parallelism_probe")
    assert builder.conf["master"] == "local[3]"
    assert builder.conf["spark.sql.shuffle.partitions"] == "3"
    assert builder.conf["spark.python.sql.dataFrameDebugging.enabled"] == "false"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
    session.get_spark("parallelism_probe")
    assert builder.conf["master"] == "local[2]"
    assert builder.conf["spark.sql.shuffle.partitions"] == "2"
