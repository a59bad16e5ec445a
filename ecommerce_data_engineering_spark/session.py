"""SparkSession factory.

Local-mode defaults fit the host: one JVM with ``SPARK_GRAFT_CPUS``
cores (else every host core) and a driver heap from ``driver_memory``.
The same builder flags are what we would ship on a real cluster —
AQE handles partition coalescing / skew at any scale, UTC pins
timestamp semantics for oracle comparison, Arrow accelerates the few
pandas-UDF extension operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Half the host's MemTotal in whole GiB, at least ``1g`` — a
    driver heap that fits the machine it runs on.  Without a readable
    MemTotal (non-Linux) the floor is used."""
    try:
        with open(meminfo) as f:
            kib = next(int(line.split()[1]) for line in f
                       if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        kib = 0
    return f"{max(1, kib // 2 // (1024 * 1024))}g"


def driver_memory() -> str:
    """The driver heap: ``SPARK_DRIVER_MEMORY`` if set, else the host
    default.  Every session this repo builds, scripts included, takes
    its heap from here."""
    return os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory()


def local_cores() -> int:
    """The local core count (``local[N]``): ``SPARK_GRAFT_CPUS`` if set,
    else every host core.  Every session this repo builds, scripts
    included, takes its cores from here unless it pins its own
    master."""
    return (int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0)
            or os.cpu_count() or 4)


def _mib(size: str) -> float:
    """A JVM memory string (``3g``, ``3072m``, ``512k``; bare digits
    are MiB, as for ``spark.driver.memory``) in MiB."""
    size = size.strip().lower().rstrip("b")
    scale = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    if size and size[-1] in scale:
        return float(size[:-1]) * scale[size[-1]]
    return float(size)


def shj_threshold(heap: str, cores: int) -> str:
    """AQE's shuffled-hash-join local-map bound: the execution memory
    Spark guarantees each of ``cores`` concurrent tasks, in whole MiB.

    Unified memory is (heap − 300 MiB reserved) × 0.6
    (``spark.memory.fraction``); storage can be evicted down to half of
    it (``spark.memory.storageFraction``), so execution always holds
    the other half; and ``ExecutionMemoryPool`` lets each of N active
    tasks claim at least 1/(2N) of its pool before it must spill.  A
    hash map under that bound is built without spilling or failing,
    whatever the other tasks do.  3g on 4 cores gives 103m."""
    unified = max(0.0, _mib(heap) - 300) * 0.6
    return f"{int(unified * 0.5 / (2 * max(1, cores)))}m"


def g1_region_flag(heap: str) -> str:
    """The driver JVM option that sets G1's heap region size to 4 MiB
    on a heap under 8 GiB, else ``""``.

    G1 sizes regions at heap / 2048, so a 3g heap gets 1 MiB regions,
    and any object of half a region or more is humongous: allocated in
    whole regions of its own, outside the young generation.  The driver
    serializes every job's task binary into chunked buffers and
    broadcasts it in ``spark.broadcast.blockSize`` blocks (4 MiB by
    default), so with 1 MiB regions each job leaves humongous regions
    behind, and a driver that runs many short jobs piles up hundreds
    of them between young GCs.  With 4 MiB regions and 1 MiB broadcast
    blocks those buffers are ordinary young objects.  From 8 GiB up G1
    picks 4 MiB regions or larger by itself."""
    return "" if _mib(heap) >= 8 * 1024 else "-XX:G1HeapRegionSize=4m"


def get_spark(app_name: str = "ecommerce_data_engineering_spark",
              cpus: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    At 100 TB the master/memory flags come from the cluster manager
    instead, but every ``spark.sql.*`` setting below is scale-neutral:

    - AQE + coalesce + skewJoin: runtime re-planning replaces hand-tuned
      shuffle partition counts and manual skew salting for most plans.
    - ``shuffle.partitions`` (the core count) is only the *initial*
      number; AQE coalesces.
    - UTC session timezone: deterministic date extraction regardless of
      host timezone (and matches the DuckDB oracle, which is UTC-naive).
    - ANSI mode stays at the Spark 4 default (on); coercion semantics
      that need invalid→NULL use ``try_cast`` explicitly.
    """
    if cpus is None:
        cpus = local_cores()
    heap = driver_memory()

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE SMJ->shuffled-hash rewrite (guide §3.1; r12): when every
        # post-shuffle build-side partition is under this bound, the
        # runtime replaces sort-merge with shuffled-hash — dropping the
        # two per-partition sorts of the fact-table joins (measured 64×:
        # fact_lineitem_build 5.4→4.5 s, top_revenue_orders 2.9→2.3 s,
        # min-of-4 each; static plans unchanged — this is a runtime
        # re-optimization).  Off upstream because a hash map larger
        # than a task's memory fails the task; the bound here is the
        # execution memory Spark guarantees each concurrent task
        # (shj_threshold), so it follows the heap and core count the
        # session actually has, and larger partitions keep sort-merge.
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                shj_threshold(heap, cpus))
        # runtime Bloom-filter semi-join pruning (kicks in at real scan
        # sizes; see tests/test_physical.py for the demonstrated plan)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", heap)
        # broadcast blocks of 1 MiB instead of 4 MiB: with the region
        # size below, a block is no longer a humongous allocation
        .config("spark.broadcast.blockSize", "1m")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Generated-class cache sized to the registry's working set.
        # Spark's default LRU keeps 100 classes, but one pass over the 13
        # dashboard queries generates ~190, so every repeat recompiled
        # its code (and re-JITted it).  One pass over all 120 registered
        # queries at sf0.001 with an unbounded cache compiles ~1.38k
        # distinct classes; 2048 holds them all, for ~10 MB more
        # metaspace.  Static and JVM-wide: the CodeGenerator cache is
        # built once, from the session that first generates code, so it
        # cannot be changed per session.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        # Streaming checkpoint files (offset/commit logs, source logs,
        # one state-store delta per stateful partition per epoch) commit
        # by writing a temp file and renaming it.  Spark's default
        # FileContext-based manager renames through
        # AbstractFileSystem.renameInternal, which resolves symlinks via
        # FileUtil.readLink; pip-installed pyspark loads no libhadoop
        # (NativeIO is unavailable), so every rename forks `readlink`
        # twice.  The FileSystem-based manager renames through
        # FileSystem.rename, which on the local filesystem is
        # File.renameTo: one atomic rename(2) and no fork — atomicity is
        # the property the checkpoint commit needs.  get_spark only
        # builds local[N] masters; a cluster on HDFS or an object store
        # picks its own manager.  Spark's checkpoint checksum files and
        # Hadoop's .crc files are written as before.  A runtime SQL
        # conf, read from the session's Hadoop conf when each query
        # starts.
        .config("spark.sql.streaming.checkpointFileManagerClass",
                "org.apache.spark.sql.execution.streaming.checkpointing."
                "FileSystemBasedCheckpointFileManager")
        # the driver fixtures store events.ts as TIMESTAMP(NANOS), which
        # Spark's vectorized reader rejects; read as long and convert
        # (sources/readers.py handles the cast back to timestamp)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    # Spark puts the default options before extraJavaOptions on the
    # driver's command line, so a caller's own JVM flags still apply
    region = g1_region_flag(heap)
    if region:
        builder = builder.config("spark.driver.defaultJavaOptions", region)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
