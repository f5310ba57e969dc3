"""SparkSession factory tuned for this engine.

Local-mode testing runs single-JVM; the configs below are chosen so the
same plans scale to a multi-executor cluster: AQE on (runtime coalesce +
skew-join mitigation), Arrow transport for the pandas-UDF stages, and a
shuffle-partition count matched to parallelism instead of the 200
default.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def _default_local_dir() -> str:
    """Shuffle/spill dir: explicit env wins; else tmpfs when it is
    actually present and big enough (this sandbox's virtual disk does
    not scale with cores); else the system temp dir — RAM-backed
    /dev/shm must never be the blind default on hosts where spilling
    into it would exhaust memory."""
    explicit = os.environ.get("SPARK_LOCAL_DIRS")
    if explicit:
        return explicit
    shm = "/dev/shm"
    try:
        st = os.statvfs(shm)
        if st.f_bavail * st.f_frsize >= (8 << 30):  # ≥8 GiB free tmpfs
            return os.path.join(shm, "spark-local")
    except OSError:
        pass
    return os.path.join(tempfile.gettempdir(), "spark-local")


def default_driver_memory(mem_total_kb: int | None) -> str:
    """Driver heap when ``SPARK_DRIVER_MEM`` is unset: half of the
    host's RAM, at most 16g (16g when RAM is unknown). Half leaves room
    for the OS and the Python workers; the cap keeps GC pauses short."""
    cap_mb = 16 << 10
    if not mem_total_kb:
        return f"{cap_mb}m"
    return f"{min(mem_total_kb // 2048, cap_mb)}m"


def default_cpus() -> int:
    """Local worker threads when no master is given: ``SPARK_GRAFT_CPUS``,
    else the host's core count. More threads than cores only
    oversubscribe the host."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def _mem_total_kb() -> int | None:
    """MemTotal from /proc/meminfo in KiB; None where it is absent."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def get_spark(
    master: str | None = None,
    app_name: str = "batch_geocode_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Get or create the engine's SparkSession.

    Spark's generated-class cache is a JVM-wide singleton sized on first
    use, so the ``spark.sql.codegen.cache.maxEntries`` set here holds
    only when this function creates the JVM's first session; later
    sessions in the same JVM share the cache as it was first sized.
    """
    master = master or f"local[{default_cpus()}]"
    if shuffle_partitions is None:
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = max(int(master[6:-1]), 4)
        else:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # binary image payloads make row batches HEAVY: 20000 rows ≈
        # 70 MB of Arrow buffers per in-flight batch, and at 32 threads
        # the allocator/GC churn of 32 such streams halves end-to-end
        # throughput (measured 89-110k → 153-163k img/s at local[32]
        # with 5000-row batches on the 4M-image pipeline; ≤8 threads are
        # insensitive). 5000 sits mid-plateau (2000-10000 all within
        # ~7%) and keeps batches ~17 MB — still ample amortization for
        # the pandas kernels.
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_ARROW_BATCH", "5000"),
        )
        # same physics on the SCAN side: the vectorized parquet reader's
        # default 4096-row column batches hold ~14 MB of binary payload
        # each; 32 concurrent tasks churn the allocator. 1024-row scan
        # batches lift the 4M-image local[32] pipeline 142k → 216k
        # img/s and are neutral at 2-8 threads and on narrow tables
        # (batch overhead is JVM-side and amortized).
        .config(
            "spark.sql.parquet.columnarReaderBatchSize",
            os.environ.get("SPARK_PARQUET_BATCH_ROWS", "1024"),
        )
        # local test files are small; the 128MB/4MB defaults would fuse
        # them into ~8 scan partitions and starve the other cores
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_MAX_PARTITION_BYTES", "16m"),
        )
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.sql.session.timeZone", "UTC")
        # NOTE: empirically a 48g local heap triggers ~100s GC stalls on
        # this workload; 16g is ample for sf0.1 and keeps pauses short
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(_mem_total_kb()),
        )
        # generated classes are cached per JVM, LRU, 100 by default. One
        # warm geo_spatial perfbench iteration needs 131 classes, a
        # curate_docs one about 90, and the 60-query queries() battery
        # at sf0.01 about 850, so at 100 the cache evicts in a cycle and
        # every warm pass Janino-compiles, loads and JITs its classes
        # again (99-118 per geo_spatial iteration, about 1,300 per
        # battery pass). 2000 is over twice the largest working set; a
        # full battery pass costs about 6 MB more Metaspace.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # G1's concurrent cycles collapse (10-40x slowdowns, huge
        # variance) under the humongous-allocation storm of Arrow binary
        # batches; throughput-oriented ParallelGC is stable and fast here
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
        # executor JVMs (local-cluster / real clusters) need the same GC
        # choice — in local[*] mode this conf is simply unused
        .config(
            "spark.executor.extraJavaOptions",
            os.environ.get("SPARK_EXECUTOR_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # this sandbox's virtual disk is slow and does not scale with
        # cores; shuffle/spill on tmpfs is the stand-in for the per-node
        # NVMe a real cluster provides (override with SPARK_LOCAL_DIRS;
        # falls back to the system temp dir when /dev/shm is absent/small)
        .config("spark.local.dir", _default_local_dir())
        # multi-executor mode (local-cluster / standalone): executor
        # Python workers don't inherit the driver's sys.path, so ship
        # the package location the same way spark-submit --py-files
        # would. A no-op under local[*] (workers share the driver env).
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(
                p
                for p in [
                    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    os.environ.get("PYTHONPATH", ""),
                ]
                if p
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
