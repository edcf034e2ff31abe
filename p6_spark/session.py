"""SparkSession factory tuned for the harness (local[N]) but configured the
way a 1000-executor cluster job would be: AQE on (runtime re-planning,
partition coalescing, skew-join splitting), Arrow on (vectorized
Python<->JVM), UTC session timezone (oracle comparability), shuffle
partitions sized to the parallelism rather than the 200 default.

The driver heap (``spark.driver.memory``) defaults to a size derived from
the machine, not a constant: ``M`` is the smaller of physical memory and
the cgroup memory limit, Spark's hardware-provisioning guidance gives Spark
at most 75 % of ``M``, and the JVM's off-heap use is taken at Spark's
default driver ``memoryOverheadFactor`` of 0.10, so the heap is
``0.75 * M / 1.1`` (about 10.7 GiB on a 15.7 GiB machine). The remaining
quarter is headroom for the OS and the Python workers. It does not hold a
second JVM at the same default: two such JVMs have heap ceilings of about
``1.36 * M`` together, so a second JVM started while the first is alive
(a ``perfbench`` client, say) fits only when it pins a small heap with
``P6_SPARK_DRIVER_MEM``. A fixed heap larger than ``M`` lets G1 grow the
JVM until the kernel kills it. ``P6_SPARK_DRIVER_MEM`` overrides the
default with any JVM size string (``1g``, ``512m``).

The cgroup limit is read for the process's own cgroup and each of its
ancestors (from ``/proc/self/cgroup``), so a limited sub-cgroup on a host
without a cgroup namespace (a systemd slice, a CI runner) counts too; the
limit files at the top of the cgroup mount are the fallback.

On a real cluster the same builder applies — only master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Spark's hardware-provisioning guidance: at most 75 % of memory to Spark.
SPARK_MEMORY_FRACTION = 0.75
# Spark's default spark.driver.memoryOverheadFactor (off-heap per heap byte).
DRIVER_OVERHEAD_FACTOR = 0.10
CGROUP_ROOT = "/sys/fs/cgroup"
PROC_SELF_CGROUP = "/proc/self/cgroup"
# cgroup v2, then v1, at the top of the mount (the process's own cgroup
# inside a cgroup namespace); "max" or a huge v1 value means no limit.
CGROUP_MEMORY_LIMITS = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def own_cgroup_limit_files() -> list[str]:
    """The memory limit files of this process's own cgroup and of each
    ancestor below the mount root, read from ``PROC_SELF_CGROUP``: the
    ``0::<path>`` line (v2, ``memory.max``) and the line whose
    controllers include ``memory`` (v1, ``memory.limit_in_bytes``)."""
    try:
        with open(PROC_SELF_CGROUP) as f:
            lines = f.read().splitlines()
    except OSError:
        return []
    files = []
    for line in lines:
        fields = line.split(":", 2)
        if len(fields) != 3:
            continue
        hierarchy, controllers, path = fields
        if hierarchy == "0" and not controllers:
            base, name = CGROUP_ROOT, "memory.max"
        elif "memory" in controllers.split(","):
            base, name = os.path.join(CGROUP_ROOT, "memory"), "memory.limit_in_bytes"
        else:
            continue
        parts = [p for p in path.split("/") if p]
        while parts:
            files.append(os.path.join(base, *parts, name))
            parts.pop()
    return files


def machine_memory_bytes() -> int:
    """Physical memory, or the smallest cgroup memory limit that applies
    to this process where that is smaller."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in own_cgroup_limit_files() + list(CGROUP_MEMORY_LIMITS):
        try:
            with open(path) as f:
                limit = f.read().strip()
        except OSError:
            continue
        if limit.isdigit():
            total = min(total, int(limit))
    return total


def default_driver_memory(total_bytes: int | None = None) -> str:
    """The derived default heap, ``0.75 * M / 1.1``, as a JVM size in MiB."""
    if total_bytes is None:
        total_bytes = machine_memory_bytes()
    heap = total_bytes * SPARK_MEMORY_FRACTION / (1 + DRIVER_OVERHEAD_FACTOR)
    return f"{int(heap) >> 20}m"


def driver_memory() -> str:
    """``P6_SPARK_DRIVER_MEM`` if set, else the machine-derived default."""
    return os.environ.get("P6_SPARK_DRIVER_MEM") or default_driver_memory()


def parallelism() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "p6_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned session.

    ``cpus`` defaults to ``parallelism()``: ``SPARK_GRAFT_CPUS`` if set,
    else the CPUs this process may run on. It sets both ``local[N]`` and
    the shuffle partitions.
    ``spark.driver.memory`` is ``driver_memory()``: ``P6_SPARK_DRIVER_MEM``
    if set, else ``0.75 * M / 1.1`` of the machine's memory ``M`` (the
    smaller of physical memory and the cgroup limit), which leaves a
    quarter of ``M`` for the OS and the Python workers; a second JVM
    alive at the same time must pin ``P6_SPARK_DRIVER_MEM``. See the
    module docstring. The heap is fixed when the JVM starts, so it only
    applies when this call creates the first session of the process.
    ``extra_conf`` overlays builder configs (measurement harnesses, e.g.
    perfbench's traced run re-enabling the UI for its stage-metrics REST
    API) — only effective when this call CREATES the session.
    """
    if cpus is None:
        cpus = parallelism()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # shuffle partitions ~= cores in local mode; AQE coalesces further
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local-mode split sizing: harness files are a few MB, and the
        # 128 MiB default would scan each as ONE task; 4 MiB keeps all
        # cores busy. On a real cluster revert to the default — there
        # files are row-group sized and 128 MiB amortizes scheduling.
        .config("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list[tuple], schema: StructType) -> DataFrame:
    """A driver-side list of tuples as a DataFrame built from a
    ``pyarrow.Table``. Spark decodes the Arrow batches in the JVM into a
    ``LocalRelation`` (under ``spark.sql.execution.arrow.localRelationThreshold``,
    48 MB by default), so no action ever starts a Python worker to read it,
    unlike ``createDataFrame`` of a list, a pickled ``parallelize`` that
    every action replays. An empty list gives an empty ``LocalRelation``,
    which the optimizer prunes."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    if not rows:
        return spark.createDataFrame(arrow_schema.empty_table(), schema)
    columns = [pa.array(c, type=f.type) for c, f in zip(zip(*rows), arrow_schema)]
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow_schema), schema)
