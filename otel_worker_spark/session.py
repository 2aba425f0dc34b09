"""SparkSession construction tuned for this engine.

Local mode is the test harness (``local[N]``); the same settings are
what we would ship to a 1000-executor cluster via spark-submit, minus
the master/memory knobs:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
  because the input is skewed by ``source`` (one hot service).
- shuffle partitions sized to cores locally; on a real cluster this is
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` driven.
- Arrow enabled: ``toPandas`` / ``createDataFrame`` cross the Python
  boundary as Arrow batches, like the ``mapInArrow`` parse kernel and
  the pandas UDFs of dedup and the query layer already do.
- session timezone pinned to UTC so DuckDB oracle comparisons are
  stable (Spark timestamps are session-TZ; DuckDB's are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

#: the driver heap is half the memory the host gives us, at most this
DRIVER_MEMORY_CAP_MB = 16 * 1024


def memory_limit_bytes() -> int:
    """Physical RAM, or this process's cgroup memory limit when that is
    lower (v2 ``memory.max`` or v1 ``memory.limit_in_bytes``)."""
    limit = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/proc/self/cgroup") as f:
            entries = [line.rstrip("\n").split(":", 2) for line in f]
    except OSError:
        return limit
    for _, controllers, path in entries:
        if controllers == "":
            candidate = f"/sys/fs/cgroup{path}/memory.max"
        elif "memory" in controllers.split(","):
            candidate = f"/sys/fs/cgroup/memory{path}/memory.limit_in_bytes"
        else:
            continue
        try:
            with open(candidate) as f:
                limit = min(limit, int(f.read()))
        except (OSError, ValueError):  # absent, unreadable, or "max"
            pass
    return limit


def default_driver_memory() -> str:
    """``spark.driver.memory`` when ``SPARK_GRAFT_DRIVER_MEM`` is unset:
    half of :func:`memory_limit_bytes`, capped at 16g."""
    return f"{min(DRIVER_MEMORY_CAP_MB, memory_limit_bytes() // 2 // 2**20)}m"


def get_spark(
    app_name: str = "otel_worker_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    ``cores`` accepts an int (→ ``local[n]``) or a full master string.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = cores if isinstance(cores, str) and cores.startswith(("local", "spark")) else f"local[{cores}]"
    nshuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # BTreeMap semantics for duplicate attribute keys (last insert wins)
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # our serving layout buckets by trace_id while joins key on
        # (trace_id, span-id) supersets — allow subset-key co-partition
        # so the bucketed self-joins skip the exchange (the Spark knob
        # for bucket-pruned storage layouts; semantics-neutral)
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
