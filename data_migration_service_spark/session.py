"""SparkSession factory tuned for the engine.

Local-mode knobs follow the public Spark docs: shuffle partitions sized to
cores (not the 200 default), AQE on for runtime re-planning and skew-join
splitting, Arrow on for the pandas-UDF slow path, UTC session timezone so
timestamp canonicalization (reference: DBSqlGenerator.java:44,103 normalizes
to millisecond text) is reproducible everywhere.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_heap() -> str:
    """Fixed pre-touched heap sized to the host: 16g on big boxes, half of
    available RAM on small ones (pre-touch commits the whole heap at
    startup, so an oversized -Xms hard-fails small hosts/containers)."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            kb = {l.split(":")[0]: int(l.split()[1]) for l in f if ":" in l}
        avail_gb = kb.get("MemAvailable", kb.get("MemTotal", 0)) // (1024 * 1024)
    except OSError:
        # no /proc/meminfo (macOS/containers): a safe mid-size default —
        # NOT 1g (pre-touched 1g would OOM real workloads off-Linux)
        return "8g"
    return f"{min(16, max(avail_gb // 2, 1))}g"


def _local_dirs() -> str | None:
    """Shuffle dirs in tmpfs only when it is genuinely large (the sandbox's
    126G /dev/shm); containers with the 64M default keep Spark's stock
    local dir."""
    env = os.environ.get("SPARK_LOCAL_DIRS")
    if env:
        return env
    try:
        st = os.statvfs("/dev/shm")
        if st.f_frsize * st.f_blocks >= 32 * 1024**3:
            return "/dev/shm/spark-local"
    except OSError:
        pass
    return None


def get_spark(
    app_name: str = "data_migration_service_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            if master.startswith("local-cluster["):
                # local-cluster[n_workers, cores_per_worker, mem_mb]
                nw, cw, _ = master.split("[")[1].rstrip("]").split(",")
                n = int(nw) * int(cw)
            elif "[" in master:
                n = int(master.split("[")[1].rstrip("]*"))
            else:
                n = 32
        except ValueError:
            n = 32
        # 4x cores, NOT 1x: hash-aggregate tasks over wide rows anti-scale
        # with per-task map size (allocation/rehash of 100MB+ maps measured
        # 5x slower at 32 threads than 4x-smaller maps). AQE coalesces the
        # surplus away when a batch is small.
        shuffle_partitions = max(4 * n, 16)
    heap = _default_heap()
    local_dirs = _local_dirs()
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # zstd over snappy: measured 25-30% faster parquet writes on the CDC
        # content workload AND ~45% smaller files (38->21 MB per 1.1M-row
        # delta) — less bytes through the bandwidth-bound write path; also
        # the right storage trade at 100 TB.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # shuffle/broadcast codec: lz4 (Spark's default); zstd measured no
        # faster (BENCH.md, "zstd shuffle codec")
        .config("spark.io.compression.codec", "lz4")
        # NOTE: an oversized, lazily-faulted local-mode heap is actively
        # harmful — with 32 concurrent tasks a 48g heap showed 3-5x wall
        # regressions (first-touch page faults + GC over the huge young gen
        # serialize across threads). A fixed pre-touched heap (sized to the
        # host, 16g max) is flat across 8..32 threads.
        .config("spark.driver.memory", heap)
        .config("spark.driver.extraJavaOptions",
                f"-XX:+AlwaysPreTouch -Xms{heap}")
        # DMS_SPARK_UI=true exposes the UI/REST API (bench --task-stats
        # reads per-task duration quantiles from it); off by default
        .config("spark.ui.enabled",
                os.environ.get("DMS_SPARK_UI", "false"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # ObjectHashAggregate (max_by/min_by — the LWW dedup path) falls
        # back to SORT-based aggregation after only 128 distinct keys per
        # task by default, which turns every partial agg over a CDC batch
        # into a full sort of KB-sized rows. Measured: +20% apply wall at
        # both 2 and 8 cores on a 16M-event replay. Per-task key counts are
        # bounded by split size (maxPartitionBytes / row width) map-side and
        # by AQE-coalesced partition size reduce-side, so 1M keys in-map is
        # safe at any scale where splits are sized sanely.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
                "1048576")
    )
    if master.startswith("local-cluster["):
        # separate executor JVMs (the truest sandbox analogue of "N
        # executors"): per-executor heap comes from the master string; give
        # executors the same pre-touched-heap + GC treatment as the
        # local-mode driver, and keep the (now mostly idle) driver small.
        mem_mb = int(master.split("[")[1].rstrip("]").split(",")[2])
        b = (
            b.config("spark.executor.memory", f"{mem_mb}m")
            .config("spark.executor.extraJavaOptions",
                    f"-XX:+AlwaysPreTouch -Xms{mem_mb}m")
            .config("spark.driver.memory",
                    os.environ.get("SPARK_DRIVER_MEMORY", "4g"))
            .config("spark.driver.extraJavaOptions", "-XX:+AlwaysPreTouch")
        )
    if local_dirs:
        # shuffle/spill in big tmpfs only (sandbox: one ~390MB/s disk that a
        # real multi-executor cluster would multiply per node)
        b = b.config("spark.local.dir", local_dirs)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
