"""SparkSession factory with engine-tuned defaults.

Centralizes the configuration the extraction jobs rely on:
Arrow-vectorized Python exchange, AQE (runtime re-plan + skew-join
handling), and an explicit shuffle-partition count sized to the
parallelism level (the scaling-efficiency knob for the N vs 4N
cluster-size evidence).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ocr_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back
    to ``local[*]``); ``shuffle_partitions`` defaults to the core
    count so one reduce wave saturates the machine without tiny-task
    overhead.  On a real cluster these come from spark-submit and this
    factory only layers the SQL confs.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        if cpus:
            shuffle_partitions = max(int(cpus), 1)
        else:
            shuffle_partitions = os.cpu_count() or 8

    if master.startswith("local[") and master != "local[*]":
        cores = int(master[len("local["):-1])
    else:
        cores = os.cpu_count() or 8

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Shuffle/spill on tmpfs when available: the sandbox's /tmp is
        # VM-disk-backed and its I/O variance dominates run-to-run
        # noise; a real cluster would use fast local SSD/NVMe here.
        .config("spark.local.dir",
                "/dev/shm/ocr_spark_local" if os.path.isdir("/dev/shm") else "/tmp")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE's parallelism-first coalescing targets defaultParallelism
        # partitions; at exactly 1 partition per core a 38-on-32 style
        # remainder leaves most cores idle for a whole straggler wave
        # (measured: 24% of the extraction stage).  4 waves of smaller
        # tasks pack within ~3% of ideal, so target 4x cores.
        .config("spark.default.parallelism", str(4 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Parallelism-first AQE coalescing floors at minPartitionSize;
        # the 1m default collapses small compressed shuffles to a handful
        # of tasks, strangling the Python-UDF (CPU-bound) stage that
        # follows the conv_id shuffle.  64k keeps reduce-side parallelism
        # ~= cores at bench scale and is a no-op at 100 TB where
        # totalBytes/parallelism dominates the floor.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # Pin the session timezone: events.ts is TIMESTAMP_NTZ and the
        # value-range window queries order by unix_micros(ts.cast(
        # 'timestamp')) — the NTZ->TIMESTAMP cast applies the session
        # zone, and on a DST-observing host zone the offset changes
        # across transitions, shifting trailing-frame membership away
        # from the DuckDB oracle (epoch_us treats NTZ as absolute).
        # UTC makes the cast a fixed-offset no-op everywhere.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size bounds pandas-UDF memory per task.  Swept at
        # 4k/6k/10k/20k/40k on the 16.5M-turn render path (round 3,
        # interleaved passes): 4k is ~10% faster than 10k AND far less
        # run-to-run variable ([8.46,8.48,8.62] vs [9.47,12.14,9.66] s)
        # — smaller batches keep the kernel's per-batch scratch arrays
        # warm instead of repeatedly first-touching fresh pages.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
