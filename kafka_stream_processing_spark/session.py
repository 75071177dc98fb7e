"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
config block is what we would submit to a 1000-executor cluster — the only
cluster-specific knobs (executor count/memory) live outside this file.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs that query semantics/performance rely on.  These
#: are (re)applied by :func:`ensure_runtime_conf` even on a SparkSession we
#: did not create (the verification driver builds its own session).
RUNTIME_CONF: dict[str, str] = {
    # DuckDB oracle timestamps are naive; pinning the session TZ to UTC makes
    # Spark's window()/date_trunc() arithmetic agree with the oracle.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime re-plan — coalesce small shuffle partitions, convert
    # sort-merge joins to broadcast when the built side turns out small,
    # split skewed partitions.  All three matter at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas UDF / toPandas path (vector ops, multimodal).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Spark's reader rejects parquet TIMESTAMP(NANOS); read such a column as
    # raw epoch-nanos longs and convert in the loader (sources/tables.py).
    # The testdata stores TIMESTAMP(MICROS), so this path serves only files
    # that do store nanos.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Unadjusted-UTC parquet timestamps must come back as TIMESTAMP (LTZ,
    # session tz pinned to UTC above), not TIMESTAMP_NTZ: watermarks/windows
    # require LTZ, and LTZ@UTC matches DuckDB's naive-timestamp semantics.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # InferFiltersFromGenerate synthesizes `size(arr)>0 AND isnotnull(arr)`
    # below every explode(arr).  When arr is a computed column (shingle/
    # gram/hash arrays here), the inferred filter INLINES the whole
    # generating expression and pushdown then drags it below the nearest
    # exchange — so the md5+transform chain runs once in the filter and
    # again in the project above (measured: contamination_ngram_overlap
    # spent ~7 s of its 7.6 s at sf0.1 evaluating shingles single-threaded
    # below the fanout repartition).  The rule only saves a per-row empty
    # generate, which explode handles for free; excluding it removes a
    # ~2x expression double-evaluation on every explode-after-compute
    # pipeline at any scale.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}


#: Spark's FileSystem-based checkpoint manager, used when checkpoints live
#: on the local filesystem.  Without Hadoop's native library, Hadoop's
#: local filesystem starts an external process for each permission set
#: (chmod) and each symlink check (readlink).  Spark's default manager goes
#: through FileContext, whose rename checks every path it touches for a
#: symlink: one atomic checkpoint-file write starts 10 helper
#: processes (8 readlink, 2 chmod) and takes about 33 ms, against 2 chmod
#: and about 10 ms through FileSystem (200-byte writes, 4-core VM).  A
#: trigger writes about a dozen such files (offsets, commits, source and
#: sink logs, one delta and one checksum sidecar per state partition).
#: Both managers write a temp file, check that the destination is absent
#: and rename(2) it, so a second writer is refused the same way.  On HDFS
#: a FileSystem rename onto an existing file returns false and the
#: manager keeps the old file, so other filesystems keep Spark's default.
#: The checksum sidecars (spark.sql.streaming.checkpoint.fileChecksum.
#: enabled) stay at Spark's default, on.
CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
LOCAL_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def checkpoint_conf(default_fs: str | None) -> dict[str, str]:
    """Checkpoint confs for a session whose ``fs.defaultFS`` is
    ``default_fs``: the FileSystem-based manager on ``file:``, none
    (Spark's default manager) on any other filesystem.  The manager is a
    per-session choice, so it follows the filesystem that the engine's
    scheme-less checkpoint paths resolve to."""
    scheme = (default_fs or "file:///").partition(":")[0]
    if scheme == "file":
        return {CHECKPOINT_MANAGER_KEY: LOCAL_CHECKPOINT_MANAGER}
    return {}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def ensure_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply semantic + adaptive confs, and the checkpoint manager for the
    session's default filesystem (:func:`checkpoint_conf`), to an existing
    session (idempotent).

    Raises if a conf does not take: each one carries semantics (a session
    time zone other than UTC silently shifts every window boundary), so a
    session that cannot hold them must not run queries."""
    default_fs = spark.sparkContext._jsc.hadoopConfiguration().get(
        "fs.defaultFS"
    )
    for key, value in {**RUNTIME_CONF, **checkpoint_conf(default_fs)}.items():
        if spark.conf.get(key, None) == value:
            continue
        try:
            spark.conf.set(key, value)
            actual = spark.conf.get(key, None)
        except Exception as exc:
            raise RuntimeError(f"could not set Spark conf {key}={value!r}") from exc
        if actual != value:
            raise RuntimeError(
                f"Spark conf {key} is {actual!r} after setting it to {value!r}"
            )
    return spark


def get_spark(app_name: str = "kafka_stream_processing_spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    On a real cluster the ``master`` is supplied by spark-submit; locally we
    run ``local[N]``.  Shuffle partitions default to the core count — at
    cluster scale this is overridden to ~2-3x total executor cores, and AQE
    coalesces down from there.
    """
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{n}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/kssp_warehouse"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    for key, value in RUNTIME_CONF.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    return ensure_runtime_conf(spark)
