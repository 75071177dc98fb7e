"""Checkpoint file manager on the local filesystem (session.checkpoint_conf).

The engine session names Spark's FileSystem-based checkpoint manager when
its default filesystem is ``file:``, and keeps Spark's default manager on
any other.  These tests pin what that choice must not change: a second
writer of a checkpoint file is still refused, every state delta keeps its
checksum sidecar, and a checkpoint written under Spark's default manager
restarts under the engine's with exactly-once output.
"""

from __future__ import annotations

import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from kafka_stream_processing_spark import session
from kafka_stream_processing_spark.sources.tables import (
    normalize_events,
    table,
    table_schema,
)
from kafka_stream_processing_spark.streaming.unique_users import (
    _stream_chunked_source_dir,
    build_windowed_dedup,
    scoped_state_partitions,
)

KEY = session.CHECKPOINT_MANAGER_KEY
FS_MANAGER = session.LOCAL_CHECKPOINT_MANAGER
FC_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)
CHECKSUM_KEY = "spark.sql.streaming.checkpoint.fileChecksum.enabled"


def test_local_session_names_filesystem_manager(spark):
    hadoop_conf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hadoop_conf.get("fs.defaultFS").startswith("file:")
    assert spark.conf.get(KEY) == FS_MANAGER
    # A session the engine did not build (the verification driver's) gets
    # it from ensure_runtime_conf, which every registered query runs.
    spark.conf.unset(KEY)
    session.ensure_runtime_conf(spark)
    assert spark.conf.get(KEY) == FS_MANAGER


@pytest.mark.parametrize(
    "default_fs, want",
    [
        ("file:///", {KEY: FS_MANAGER}),
        (None, {KEY: FS_MANAGER}),
        ("hdfs://namenode:8020", {}),
        ("s3a://bucket", {}),
    ],
)
def test_checkpoint_conf_decision(default_fs, want):
    assert session.checkpoint_conf(default_fs) == want


def test_non_local_default_fs_keeps_spark_default(spark):
    hadoop_conf = spark.sparkContext._jsc.hadoopConfiguration()
    old = hadoop_conf.get("fs.defaultFS")
    hadoop_conf.set("fs.defaultFS", "hdfs://namenode:8020")
    try:
        spark.conf.unset(KEY)
        session.ensure_runtime_conf(spark)
        assert spark.conf.get(KEY, None) is None
    finally:
        hadoop_conf.set("fs.defaultFS", old)
        session.ensure_runtime_conf(spark)
    assert spark.conf.get(KEY) == FS_MANAGER


@pytest.mark.parametrize("manager", [FS_MANAGER, FC_MANAGER])
def test_create_atomic_refuses_existing_file(spark, tmp_path, manager):
    jvm = spark._jvm
    cls = jvm
    for part in manager.split("."):
        cls = getattr(cls, part)
    fm = cls(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark.sparkContext._jsc.hadoopConfiguration(),
    )
    target = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0"))

    def write(payload: bytes) -> None:
        out = fm.createAtomic(target, False)
        out.write(bytearray(payload))
        out.close()

    write(b"first writer")
    with pytest.raises(Py4JJavaError, match="FileAlreadyExists"):
        write(b"second writer")
    assert (tmp_path / "0").read_bytes() == b"first writer"


def _run_dedup(spark, src: str, checkpoint: str, out: str) -> None:
    stream = normalize_events(
        spark.readStream.schema(table_schema("events", src))
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = build_windowed_dedup(stream).select(
        F.col("w.start").cast("string").alias("window_start"), "user_id"
    )
    with scoped_state_partitions(spark):
        q = (
            deduped.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(300), "stream did not finish in 300 s"
        finally:
            q.stop()


def _truth(spark, sf_dir: str) -> dict[str, int]:
    return {
        r.ws: r.u
        for r in table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.countDistinct("user_id").alias("u"))
        .select(F.col("w.start").cast("string").alias("ws"), "u")
        .collect()
    }


def _per_window(spark, out: str) -> dict[str, int]:
    return {
        r.window_start: r.n
        for r in spark.read.parquet(out).groupBy("window_start")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def test_state_deltas_keep_checksum_sidecars(spark, sf_small, tmp_path):
    assert spark.conf.get(CHECKSUM_KEY) == "true"
    assert spark.conf.get(KEY) == FS_MANAGER
    checkpoint = tmp_path / "chk"
    out = str(tmp_path / "out")
    _run_dedup(spark, _stream_chunked_source_dir(sf_small), str(checkpoint), out)
    assert _per_window(spark, out) == _truth(spark, sf_small)

    deltas = sorted(checkpoint.glob("state/0/*/*.delta"))
    # 3 chunks, one micro-batch each, plus the no-data batch that closes
    # the watermark: several versions in each of the 4 state partitions.
    assert len(deltas) >= 4 * 3
    for delta in deltas:
        sidecar = delta.with_name(delta.name + ".crc")
        assert sidecar.is_file() and sidecar.stat().st_size > 0, sidecar


def test_default_manager_checkpoint_restarts_under_engine_manager(
    spark, sf_small, tmp_path
):
    events = pq.read_table(os.path.join(sf_small, "events.parquet"))
    events = events.take(pc.sort_indices(events, sort_keys=[("ts", "ascending")]))
    # Split between two events of one user in one minute, so the second
    # is dropped only if the dedup state written by the first run is
    # read back by the second.
    minutes = pc.floor_temporal(events.column("ts"), unit="minute").to_pylist()
    users = events.column("user_id").to_pylist()
    seen: dict[tuple, int] = {}
    split = None
    for i, key in enumerate(zip(minutes, users)):
        if key in seen:
            split = i
            break
        seen[key] = i
    assert split is not None, "no (minute, user) pair repeats in the data"

    src = tmp_path / "src"
    src.mkdir()
    checkpoint = str(tmp_path / "chk")
    out = str(tmp_path / "out")
    pq.write_table(events.slice(0, split), str(src / "part-0.parquet"))
    spark.conf.unset(KEY)
    try:
        _run_dedup(spark, str(src), checkpoint, out)
    finally:
        session.ensure_runtime_conf(spark)
    assert spark.conf.get(KEY) == FS_MANAGER

    part1 = src / "part-1.parquet"
    pq.write_table(events.slice(split), str(part1))
    first_mtime = (src / "part-0.parquet").stat().st_mtime
    os.utime(part1, (first_mtime + 2, first_mtime + 2))
    _run_dedup(spark, str(src), checkpoint, out)

    # Equal per-window row counts: no (window, user) pair lost or emitted
    # twice across the restart.
    assert _per_window(spark, out) == _truth(spark, sf_small)
