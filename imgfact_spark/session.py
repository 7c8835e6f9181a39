"""SparkSession factory tuned for the KG-construction workload.

Local-mode defaults mirror what a 1000-executor cluster deployment would set
cluster-wide: AQE with skew-join splitting, Arrow batching for pandas UDFs,
shuffle partitions sized to parallelism (not the 200 default), broadcast
threshold large enough for the dimension tables (relations, templates,
alias dictionaries — all ≤ a few MB by construction).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "imgfact_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cpus`` controls ``local[N]``; defaults to $SPARK_GRAFT_CPUS or '*'.
    ``master`` overrides it entirely (e.g. ``local-cluster[4,1,6144]`` for
    multi-JVM executor scaling evidence).  On a real cluster the master /
    deploy settings come from spark-submit and everything here except
    master applies unchanged.
    """
    if master is None:
        if cpus is None:
            env = os.environ.get("SPARK_GRAFT_CPUS")
            master = f"local[{env}]" if env else "local[*]"
        else:
            master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Shuffle sizing: local mode → match core count; cluster → 2-3× cores.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing + skew-join splitting.  Head-entity
        # skew is a documented property of the workload (SURVEY.md §2.4).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Keep post-shuffle stages parallel on small inputs: the default
        # 1 MB minPartitionSize lets AQE coalesce a sub-MB shuffle to ONE
        # partition, single-threading every downstream stage (measured 1.3-
        # 1.5× pipeline slowdown at bench scale).  A 16 KB floor preserves
        # up-to-parallelism fan-out for tiny stages and is inert at
        # production sizes, where partitions are orders of magnitude larger.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "3")
        # Byte-lean I/O: zstd for shuffle/broadcast/cache-spill blocks and
        # parquet pages.  The engine's heavy stages are memory-bandwidth-
        # bound at deployment parallelism (every byte shuffled, cached or
        # committed is read back at least once), so trading compression CPU
        # for bytes wins where it matters: measured on the 3M-doc pipeline,
        # zstd is FASTER at 4 cores (median 87s vs 103s over 5/10 runs),
        # neutral at 32 cores, and costs ~10% only at 1 core where the bus
        # is idle — and lifts 1→4-core full-job scaling efficiency from
        # median 0.70 (6 pairs) to 0.81 (5 pairs, rank-sum p≈0.004) by
        # relieving the saturated shared-memory path (BENCH/BASELINE.md).
        # On a real cluster the same trade shrinks network shuffle and
        # object-store traffic — the standard choice for I/O-bound fleets.
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Arrow batches feed the pandas-UDF kernels (mention detection,
        # entity-link scoring); 10k rows/batch amortizes per-batch setup.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # Dimension tables (relation templates, alias dicts) broadcast freely.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # PySpark 4 records the Python call site of every Column function
        # (a stack walk plus extra py4j calls per F.* call) so errors can
        # quote file:line.  Plans here are built from thousands of F.* calls:
        # on 12 paired warm kg builds (local[4]) turning it off cut the
        # driver's Python CPU per build from 0.34 to 0.18 s.  Errors keep
        # their message and JVM plan context; only the Python fragment goes.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # managed (bucketed) tables land in a temp warehouse, not the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), f"imgfact_warehouse_{os.getpid()}"),
            ),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
