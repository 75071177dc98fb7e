"""Batch sources: the driver's parquet star schema.

Parquet is the engine's canonical batch format — columnar, predicate/
projection pushdown, splittable.  At 100 TB these reads are the dominant
cost; everything here keeps the scan prunable (no ``.cache()`` of raw
tables, no schema-less text formats in the hot path).  Every read, batch
or stream, takes its schema from the catalog below rather than inferring
it from the files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: All tables the driver generates (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at ANY scale factor (TPC-H
#: semantics: region=5 rows, nation=25 rows always).
BROADCAST_TABLES = frozenset({"region", "nation"})

_TYPES = {
    "int": IntegerType(),
    "bigint": LongType(),
    "double": DoubleType(),
    "string": StringType(),
    "timestamp": TimestampType(),
    "array<float>": ArrayType(FloatType()),
}

_COLUMNS = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": "c_custkey bigint, c_name string, c_nationkey int, "
                "c_acctbal double, c_mktsegment string",
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, "
                "s_acctbal double",
    "part": "p_partkey bigint, p_name string, p_brand string, p_type string, "
            "p_size int, p_retailprice double",
    "orders": "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
              "o_totalprice double, o_orderdate timestamp, "
              "o_orderpriority string",
    "lineitem": "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
                "l_linenumber int, l_quantity double, l_extendedprice double, "
                "l_discount double, l_tax double, l_returnflag string, "
                "l_linestatus string, l_shipdate timestamp",
    "events": "event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string",
    "documents": "doc_id bigint, text string, lang string, source string, "
                 "n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}

#: The table catalog: every table's Spark schema, declared once (FIXTURES.md
#: section 2).  Reading with it skips schema inference, which costs a
#: one-task Spark job per read.  tests/test_table_catalog.py asserts it
#: equals the inferred schema of every testdata scale present.
SCHEMAS: dict[str, StructType] = {
    name: StructType([
        StructField(col, _TYPES[typ])
        for col, typ in (c.split() for c in _COLUMNS[name].split(", "))
    ])
    for name in TABLES
}


def table_schema(name: str, path: str) -> StructType:
    """The catalog schema of table ``name``, for a batch or stream read of
    ``path`` (a parquet file, or a directory of them, holding that table).

    One column is not fixed: an ``events`` file whose ``ts`` is stored as
    TIMESTAMP(NANOS) reads only as a bigint of epoch nanos (the
    ``nanosAsLong`` conf in session.py), so ``ts`` is declared ``bigint``
    for such a file and :func:`normalize_events` converts it.  The unit
    comes from the parquet footer, which starts no Spark job."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    schema = SCHEMAS[name]
    if name == "events" and _ts_is_nanos(path):
        schema = StructType([
            StructField(f.name, LongType()) if f.name == "ts" else f
            for f in schema.fields
        ])
    return schema


def _ts_is_nanos(path: str) -> bool:
    import json

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        # The first data file, skipping what Spark's own listing skips.
        files = sorted(
            f for f in os.listdir(path) if not f.startswith(("_", "."))
        )
        if not files:
            return False
        path = os.path.join(path, files[0])
    # The parquet logical type, not the Arrow one: Arrow maps INT96 (Spark's
    # default write type, read by Spark as a timestamp) to timestamp[ns] too.
    schema = pq.read_metadata(path).schema
    column = schema.column(schema.names.index("ts"))
    return json.loads(column.logical_type.to_json()).get("timeUnit") == "nanoseconds"


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema table as a DataFrame (pushdown-friendly scan)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(table_schema(name, path)).parquet(path)
    if name == "events":
        df = normalize_events(df)
    return df


def normalize_events(df: DataFrame) -> DataFrame:
    """Give ``events.ts`` TimestampType.  The testdata stores it as
    TIMESTAMP(MICROS), which already reads as a timestamp, so this is a
    no-op there.  A file that stores TIMESTAMP(NANOS) reads as a bigint of
    epoch nanos (spark.sql.legacy.parquet.nanosAsLong): convert it at
    microsecond resolution (floor), the same truncation DuckDB applies when
    it reads a nanos column."""
    from pyspark.sql import functions as F

    if isinstance(df.schema["ts"].dataType, LongType):
        # Integer division — a double-precision detour would corrupt the
        # low microsecond digits (epoch nanos exceed 2^53).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def fanout(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Spread a narrow scan across the cluster before a compute-heavy
    pipeline (hashing, shingling, vector math).

    The driver testdata is one single-row-group parquet file per table, so
    Spark plans exactly ONE scan task no matter how many cores exist —
    measured 3.5 s single-threaded for 260 k shingle+md5 rows that the
    cluster could do in a fraction of that.  A real 100 TB table arrives
    pre-split (many files / row groups) and this repartition collapses to
    a no-op decision; it costs one shuffle of the raw rows, which only
    pays off when downstream per-row work dominates — hence applied
    selectively by the heavy operators, not in table()."""
    spark = df.sparkSession
    n = partitions or spark.sparkContext.defaultParallelism
    return df.repartition(n)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` can be used."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
