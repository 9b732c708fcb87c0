"""Tuned SparkSession factory.

Single place where engine-wide Spark conf is decided so batch operators,
streaming jobs, tests, and bench all run with the same physical posture:

- AQE on (runtime coalescing, skew-join splitting) — the reference relies on
  Databricks to do this (SURVEY §4); OSS Spark gets it from these flags.
- Arrow on — every pandas UDF (audio decode, grouped interpolation) rides
  Arrow batches, never row pickling.
- UTC session timezone — required for oracle parity (DuckDB timestamps are
  UTC-naive) and mirrors the reference's from_utc_timestamp discipline
  (reference _time_series_query_builder.py:96-125).
- shuffle partitions sized to cores, not the 200 default: at 100 TB this is
  overridden per-job (target ~128-256 MB per shuffle partition); locally it
  must match local[N] parallelism or small queries over-schedule. Stateful
  streaming operators keep one state store per shuffle partition, and every
  store pays a fixed commit per micro-batch, so one store per core is also
  the cheapest stateful layout locally.
- cores and heap fitted to the host unless $SPARK_GRAFT_CPUS /
  $SPARK_GRAFT_DRIVER_MEM say otherwise: cores = the running session's
  local[N], else the CPUs this process may run on; heap ~45% of MemTotal.
  Either way the heap grows on demand under the throughput collector: on
  4 vCPU, pre-touching it (Xms=Xmx + AlwaysPreTouch) left wall time
  unchanged and kept the whole heap resident (+60-70% process PSS).
- streaming checkpoints written through Hadoop's FileSystem API
  (``FileSystemBasedCheckpointFileManager``), not the FileContext default.
  Without libhadoop, FileContext forks a ``readlink`` on every rename and a
  ``chmod`` on every create: ~80-150 ms per state store per micro-batch
  on 4 vCPU. The FileSystem manager keeps the same temp-file + rename
  protocol and writes the same files (Hadoop ``.crc`` and Spark's
  ``<n>.delta.crc`` checksums). It is safe here because the session is always ``local[N]``:
  checkpoints sit on a local POSIX filesystem, where rename(2) is atomic,
  the property Spark asks of FileContext. A cluster session whose
  checkpoints live on an object store must not reuse this conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def _driver_memory() -> str:
    """$SPARK_GRAFT_DRIVER_MEM, else ~45% of MemTotal."""
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if mem:
        return mem
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, int(kb * 0.45 / 2**20))}g"


def get_spark(
    app_name: str = "core_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``cores`` controls local[] parallelism; defaults to the running
    session's, else $SPARK_GRAFT_CPUS, else the CPUs this process may run
    on (a running session keeps its local[N] whatever is passed).
    ``shuffle_partitions`` defaults to cores (local rule-of-thumb). On a real
    cluster, callers pass the cluster-appropriate value instead.
    """
    if cores is None:
        active = SparkSession.getActiveSession()
        if active is not None:
            cores = active.sparkContext.defaultParallelism
        else:
            env = os.environ.get("SPARK_GRAFT_CPUS")
            cores = int(env) if env else len(os.sched_getaffinity(0))
    if shuffle_partitions is None:
        shuffle_partitions = cores

    # glibc malloc tuning for the Python workers (they inherit the JVM's env,
    # which inherits ours — must be set BEFORE the JVM starts). The audio DSP
    # kernels churn 100s-of-KB numpy temporaries per clip; above glibc's
    # default 128 KB threshold each one is an mmap/munmap syscall pair, and
    # this host's kernel serializes concurrent mmap — measured 2.4x throughput
    # collapse at 28 workers. Raising the thresholds keeps big chunks in the
    # heap arena (steady-state reuse, no syscalls).
    for var in ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_"):
        os.environ.setdefault(var, "1073741824")

    # transformWithStateInPandas needs google.protobuf in the worker env;
    # when absent, an on-disk runtime is shimmed onto PYTHONPATH — which
    # must happen BEFORE the JVM starts so forked workers inherit it
    # (no-op on images with protobuf installed; see streaming/pbcompat.py)
    from .streaming.pbcompat import ensure_protobuf

    ensure_protobuf()

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")
        # local POSIX rename(2) is atomic: see the module docstring
        .config("spark.sql.streaming.checkpointFileManagerClass", _CHECKPOINT_FILE_MANAGER)
        # Fat-binary rows (audio clips ~35 KB) blow up the vectorized parquet
        # reader's per-task column vectors: 4096 rows x 35 KB = ~143 MB per
        # batch. Under G1 those are humongous allocations and concurrent scans
        # collapse (measured 1.4s @ 8 cores -> 13s @ 32 cores on a pure-JVM
        # scan). 512-row reader batches (~18 MB vectors) + throughput GC keep
        # the scan linear in cores (0.5s @ 32); narrow tables are unaffected.
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC -XX:+AlwaysPreTouch")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
