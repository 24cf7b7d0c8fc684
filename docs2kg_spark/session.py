"""SparkSession factory with scale-oriented defaults.

Every knob here is chosen for the 100 TB / 1000-executor design point and
merely *shrunk* for local testing:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  the backstop for hot-entity / long-conversation skew called out in
  BASELINE.json::north_rule.
- Arrow on — all Python extraction UDFs are pandas/Arrow batched
  (reference does one synchronous LLM HTTP call per mention,
  ner_spacy_match.py:132-136; we do thousands of rows per Arrow batch).
- shuffle.partitions sized to cores locally; on a real cluster this is
  set to ~2-3x total cores via spark-submit conf.
- session timezone pinned UTC so DuckDB oracle comparisons are stable.
- generated-code cache sized to the KG system's working set
  (CODEGEN_CACHE_ENTRIES): one distributed-linking build generates ~160
  classes against Spark's default cache of 100, so with the default the
  LRU missed on every class and every build in a JVM ran Janino again
  for all of them (perfbench's seed-31 timed build, the JVM's second:
  158 compiles with the default, 0 with the larger cache).
- driver-side frames through Arrow (``driver_frame``): a frame built
  from a Python list plans as ``Scan ExistingRDD`` and runs one
  Python-worker task per slice when read; one built from a pyarrow table
  plans as ``LocalTableScan`` and starts no Python task.
- Python workers started through ``pyworker`` (``worker_daemon_conf``),
  which imports pyspark from a directory instead of Spark's archives:
  with the archives first on the workers' path every task re-read their
  zip directories, ~0.2 s of worker CPU per task on a 4-vCPU host; now
  ~0.02 s.  Set only on a ``local[...]`` master with the package loaded
  from a directory; elsewhere workers start through ``pyspark.daemon``.
- driver heap (-Xms = -Xmx) from ``SPARK_DRIVER_MEMORY`` if set, else
  half the memory this process may use (the cgroup's ``memory.max``
  when one is set, else ``MemAvailable``), between 1 GB and 8 GB
  (``default_driver_memory``): a second session on the same host then
  gets half of what the first one left instead of a fixed 8 GB.
"""

from __future__ import annotations

import os
import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Distinct generated classes one JVM of the KG system holds, measured with
# the cache unbounded: 162 for a distributed-linking run_pipeline (0 more
# when the same build runs again), 2 more for a driver-linking build,
# 41 + 40 + 62 for two process_kg_batch calls plus compact_kg, 13 for one
# k_hop / PPR / degrees cycle — 320 in all.  Spark's default (100) is below
# one build; 1,000 keeps the whole set with room for plan variants.  The
# conf is static, so it can only be set when the session is built.
CODEGEN_CACHE_ENTRIES = 1000

# bounds of the default driver heap (default_driver_memory), in MB
DRIVER_HEAP_MIN_MB, DRIVER_HEAP_MAX_MB = 1024, 8192


def local_slots(master: str) -> int | None:
    """Task slots of a ``local[N]`` or ``local[*]`` master (``*`` is the
    CPUs this process may run on); None for any other master."""
    m = re.fullmatch(r"local\[(\d+|\*)\]", master)
    if m is None:
        return None
    return len(os.sched_getaffinity(0)) if m.group(1) == "*" else int(m.group(1))


def usable_memory_bytes(
    cgroup_max: str = "/sys/fs/cgroup/memory.max", meminfo: str = "/proc/meminfo"
) -> int | None:
    """The cgroup's ``memory.max`` if one is set, else ``MemAvailable``;
    None when neither can be read."""
    try:
        with open(cgroup_max) as f:
            limit = f.read().strip()
        if limit.isdigit():
            return int(limit)
    except OSError:
        pass
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return None


def default_driver_memory(usable_bytes: int | None) -> str:
    """Half of ``usable_bytes``, clamped to [DRIVER_HEAP_MIN_MB,
    DRIVER_HEAP_MAX_MB]; the cap when the usable memory is unknown.  The
    other half is left to the JVM's off-heap memory, the Python workers
    and the driver process."""
    if usable_bytes is None:
        return f"{DRIVER_HEAP_MAX_MB}m"
    return f"{min(DRIVER_HEAP_MAX_MB, max(DRIVER_HEAP_MIN_MB, usable_bytes // 2 // 2**20))}m"


def worker_daemon_conf(master: str, session_file: str) -> dict[str, str]:
    """Conf that starts Python workers through ``docs2kg_spark.pyworker``.
    Only where workers can import it when the daemon starts: a local
    master (workers share this host's files) and the package loaded from a
    directory (``session_file`` is this module's file), whose parent goes
    on the workers' path.  Elsewhere empty: Spark's ``pyspark.daemon``."""
    if local_slots(master) is None or not os.path.isfile(session_file):
        return {}
    return {
        "spark.python.daemon.module": "docs2kg_spark.pyworker",
        "spark.executorEnv.PYTHONPATH": os.path.dirname(os.path.dirname(os.path.abspath(session_file))),
    }


def get_spark(
    app_name: str = "docs2kg_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # default to ~4x slots, never 1x: with exactly one shuffle task
        # per core a single straggler sets the stage wall (measured: the
        # kg_edges write scaled 2.3x from 2->8 cores at 1 task/core and
        # 4.05x at 4 tasks/core).  AQE parallelismFirst coalescing keeps
        # the effective floor at defaultParallelism, so the only cost of
        # the finer granularity is per-task overhead — noise at these
        # task sizes.  On a real fleet this is the operator-set
        # spark.sql.shuffle.partitions ≈ 2-4x total cores convention.
        slots = local_slots(master)
        shuffle_partitions = 4 * slots if slots else 32

    # --- virtualized-host hygiene -------------------------------------
    # This sandbox runs in a VM where memory unmap/remap traffic is
    # disproportionately expensive (TLB-shootdown IPIs hit every vCPU;
    # measured: 40-60% system time, low context switches, random stages
    # stalling 30-45s at local[32] while raw CPU scales 26x).  Three
    # mitigations, all no-ops or standard practice on a real cluster:
    # 1. shuffle/spill local dirs on tmpfs when available (a cluster
    #    provisions fast executor-local disks; the shared virtio boot
    #    disk here is NOT that) — override with SPARK_GRAFT_LOCAL_DIR;
    # 2. fixed pre-touched driver heap (-Xms=-Xmx -XX:+AlwaysPreTouch):
    #    G1's periodic heap uncommit/recommit was the main unmap source;
    # 3. glibc malloc tuned so Python UDF workers stop munmap'ing large
    #    pandas/Arrow buffers back on every free (workers inherit env).
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark_local"  # per-app spark-<uuid> subdirs
    driver_mem = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(usable_memory_bytes())
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "268435456")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "268435456")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # deterministic float/ts behavior for oracle comparison
        .config("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
        .config("spark.driver.memory", driver_mem)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{driver_mem} -XX:+AlwaysPreTouch "
            + os.environ.get("SPARK_GRAFT_EXTRA_JAVA", ""),
        )
        # dump the Python worker's stack on crash/hang signals — a reused
        # UDF worker was once observed desynced from its executor (JVM
        # blocked on read, worker blocked on recv); this makes the next
        # occurrence diagnosable
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in {**worker_daemon_conf(master, __file__), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def arrow_table(schema: str | StructType, rows: Sequence[tuple] = (), columns: Sequence | None = None):
    """A pyarrow table typed by ``schema`` (a DDL string or a StructType),
    from ``rows`` (tuples) or from ``columns`` (one sequence or pyarrow
    array per field, cast to the field's type)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    if columns is None:
        columns = list(zip(*rows)) if rows else [[] for _ in arrow]
    return pa.table(
        [c.cast(f.type) if isinstance(c, pa.Array) else pa.array(c, f.type) for c, f in zip(columns, arrow)],
        schema=arrow,
    )


def driver_frame(
    spark: SparkSession,
    schema: str | StructType,
    rows: Sequence[tuple] = (),
    columns: Sequence | None = None,
) -> DataFrame:
    """A DataFrame of driver-side data (see ``arrow_table``), built through
    Arrow.  A Python-list ``createDataFrame`` plans as ``Scan ExistingRDD``
    over defaultParallelism slices, and reading it runs one Python-worker
    task per slice, each ~0.02 s of worker CPU on a 4-vCPU host before it
    handles a row.  A frame from a pyarrow table plans as
    ``LocalTableScan`` and starts no Python task: with the KG path's
    driver-side frames built here, perfbench's seed-31 timed build runs 3
    Python-worker tasks instead of 11."""
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    return spark.createDataFrame(arrow_table(struct, rows, columns), struct)
