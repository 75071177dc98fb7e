"""The declared-schema table catalog (sources/tables.py).

Every batch and stream read of a catalog table takes its schema from
``SCHEMAS`` instead of inferring it with a one-task Spark job.  These tests
keep the catalog honest: it must equal what Spark infers on every testdata
scale present, a declared read must return the same rows as an inferred one,
the TIMESTAMP(NANOS) path must keep working, and no per-call inference may
come back into the package.
"""

from __future__ import annotations

import glob
import os
import re

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampType

from kafka_stream_processing_spark import session
from kafka_stream_processing_spark.sources.tables import (
    TABLES,
    normalize_events,
    table,
    table_schema,
)
from tests.conftest import SF_SMALL

SF_DIRS = sorted(glob.glob(os.path.join(os.path.dirname(SF_SMALL), "sf*")))
PACKAGE = os.path.dirname(session.__file__)


def _inferred(spark, path: str):
    """The pre-catalog read: schema inferred from the files."""
    return spark.read.parquet(path)


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
def test_declared_schema_matches_inferred(spark, sf_dir):
    """If the testdata is ever regenerated with another schema, this fails
    loudly instead of the engine reading nulls or failing mid-query."""
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        assert os.path.exists(path), f"{path} missing"
        assert table_schema(name, path) == _inferred(spark, path).schema, name


def _content(df) -> tuple[int, int]:
    """Row count and an order-independent content hash."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return row["n"], row["h"]


@pytest.mark.parametrize("name", TABLES)
def test_declared_read_matches_inferred_content(spark, name):
    path = os.path.join(SF_SMALL, f"{name}.parquet")
    old = _inferred(spark, path)
    if name == "events":
        old = normalize_events(old)
    new = table(spark, SF_SMALL, name)
    assert new.schema == old.schema
    assert _content(new) == _content(old)


def _staged_dirs(sf_dir: str) -> dict[str, str]:
    """Every streaming source the engine stages, with its catalog table."""
    from kafka_stream_processing_spark.streaming import joins, unique_users

    return {
        "events": unique_users._stream_source_dir(sf_dir),
        "events_chunks": unique_users._stream_chunked_source_dir(sf_dir),
        "events_redelivered": unique_users._stream_redelivery_source_dir(sf_dir),
        "events_late": unique_users._stream_late_source_dir(sf_dir),
        "documents_batch": joins._stream_doc_batch_source_dir(sf_dir),
        "documents_train": joins._stream_train_docs_source_dir(sf_dir),
        "documents_all": joins._all_docs_chunked_source_dir(sf_dir),
        "documents_test": joins._stage_doc_chunks(
            sf_dir, "source = 'src0'", "testdocs"
        ),
        "embeddings_chunks": joins._stream_embeddings_source_dir(sf_dir),
    }


def test_staged_stream_sources_have_catalog_schema(spark):
    """The streaming sites read staged copies, chunks and symlinks of a
    catalog table with that table's declared schema."""
    for label, d in _staged_dirs(SF_SMALL).items():
        name = label.split("_")[0]
        assert table_schema(name, d) == _inferred(spark, d).schema, label


def _write_nanos_events(sf_dir: str) -> None:
    """sf0.001's events with ``ts`` stored as TIMESTAMP(NANOS), each value
    given a sub-microsecond part so the floor to microseconds matters."""
    t = pq.read_table(os.path.join(SF_SMALL, "events.parquet"))
    ns = pc.add(
        pc.cast(pc.cast(t.column("ts"), pa.timestamp("ns")), pa.int64()),
        pa.array([i % 1000 for i in range(t.num_rows)], pa.int64()),
    )
    t = t.set_column(
        t.schema.get_field_index("ts"), "ts", pc.cast(ns, pa.timestamp("ns"))
    )
    pq.write_table(t, os.path.join(sf_dir, "events.parquet"), version="2.6")


def test_nanos_events_read_as_timestamp(spark, tmp_path):
    sf_dir = str(tmp_path)
    _write_nanos_events(sf_dir)
    path = os.path.join(sf_dir, "events.parquet")

    assert isinstance(table_schema("events", path)["ts"].dataType, LongType)
    assert isinstance(table_schema("events", sf_dir)["ts"].dataType, LongType)

    new = table(spark, sf_dir, "events")
    assert isinstance(new.schema["ts"].dataType, TimestampType)
    old = normalize_events(_inferred(spark, path))
    order = ["event_id"]
    assert new.orderBy(order).collect() == old.orderBy(order).collect()
    # The floor to microseconds: the sub-microsecond parts are gone.
    got = new.select(F.unix_micros("ts").alias("us")).orderBy("us").collect()
    want = sorted(
        v // 1000
        for v in pc.cast(
            pc.cast(pq.read_table(path).column("ts"), pa.timestamp("ns")),
            pa.int64(),
        ).to_pylist()
    )
    assert [r["us"] for r in got] == want


def test_failed_conf_set_raises(spark, monkeypatch):
    """A semantic conf that does not take must raise, naming the key:
    a session time zone other than UTC silently shifts window bounds."""
    key = "spark.sql.session.timeZone"
    conf = spark.conf
    real_set = conf.set
    try:
        real_set(key, "America/New_York")

        def ignored(k, v):
            if k != key:
                real_set(k, v)

        monkeypatch.setattr(conf, "set", ignored)
        with pytest.raises(RuntimeError, match=re.escape(key)):
            session.ensure_runtime_conf(spark)

        def failing(k, v):
            raise ValueError("cannot modify")

        monkeypatch.setattr(conf, "set", failing)
        with pytest.raises(RuntimeError, match=re.escape(key)):
            session.ensure_runtime_conf(spark)
    finally:
        monkeypatch.undo()
        session.ensure_runtime_conf(spark)
    assert spark.conf.get(key) == "UTC"


_INFERENCE = re.compile(r"read\s*\.parquet\((?:[^()]|\([^()]*\))*\)\s*\.schema\b")


def test_no_schema_inference_outside_catalog():
    """Per-call schema discovery must not creep back: a catalog table's
    schema comes from sources/tables.py, never from ``read.parquet(...)
    .schema``."""
    catalog = os.path.join(PACKAGE, "sources", "tables.py")
    offenders = []
    for root, _, files in os.walk(PACKAGE):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or path == catalog:
                continue
            text = open(path).read()
            for m in _INFERENCE.finditer(text):
                line = text.count("\n", 0, m.start()) + 1
                offenders.append(f"{os.path.relpath(path, PACKAGE)}:{line}")
    assert not offenders, f"schema inference outside the catalog: {offenders}"
