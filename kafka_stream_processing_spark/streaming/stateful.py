"""Arbitrary stateful streaming — the engine's escape hatch for operators
Structured Streaming lacks natively (the tier-(b) path of SURVEY.md §7.4):
``applyInPandasWithState`` gives each key a persistent, checkpointed state
object across micro-batches, which is exactly what the reference's custom
``aggregate()`` + state store amounts to (UniqueUsersCounter.java:80-84) —
minus the unbounded Java-serialized HashSet.

The demonstration operator keeps per-user running statistics (event count,
value sum, last-seen timestamp) in O(1) state per user and emits the
updated row each batch; the LAST emission per user equals the batch
aggregate, which is what the oracle checks.
"""

from __future__ import annotations

import itertools
from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kafka_stream_processing_spark.registry import register
from kafka_stream_processing_spark.sources.tables import (
    normalize_events,
    table_schema,
)
from kafka_stream_processing_spark.streaming.unique_users import (
    _stream_chunked_source_dir,
    scoped_state_partitions,
)

_uniq = itertools.count()

STATE_SCHEMA = "n bigint, sum_value_micro bigint, last_us bigint"
OUTPUT_SCHEMA = (
    "user_id bigint, n_events bigint, total_value double, last_seen_us bigint"
)


def _update_user_stats(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Running per-user stats.  Value sums are kept in integer micro-units
    inside the state so accumulation is exact and order-independent (the
    same decimal-not-double discipline as functions/exact.py)."""
    if state.exists:
        n, sum_micro, last_us = state.get
    else:
        n, sum_micro, last_us = 0, 0, 0
    for pdf in pdfs:
        n += len(pdf)
        # Quantize PER ROW before summing: summing doubles first would let
        # fp error grow with batch size and could cross the 0.5-micro
        # rounding boundary at large scale, diverging from the oracle's
        # per-row DECIMAL(18,6) sum (same discipline as topk.py).
        # dropna first (SQL SUM skips NULLs; count(*) still counts the
        # row) and stay vectorized — a Python-level map is O(rows) and
        # int(nan) raises.
        sum_micro += int(
            pdf["value"].dropna().mul(1e6).round().astype("int64").sum()
        )
        last_us = max(last_us, int(pdf["ts_us"].max()))
    state.update((n, sum_micro, last_us))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [sum_micro / 1e6],
            "last_seen_us": [last_us],
        }
    )


@register(
    "stream_stateful_user_stats",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           max(epoch_us(ts)) AS last_seen_us
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "stateful"),
)
def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState, run as a REAL
    multi-batch stream: the source is staged as 3 time-ordered chunk files
    fed one per trigger, so per-user state genuinely accumulates across
    micro-batches and each batch re-emits the updated row; the final
    emission per user must equal the batch aggregate.  State is 3 integers
    per user — bounded, checkpointed, and GC-able via timeouts at scale."""
    path = _stream_chunked_source_dir(sf_dir)
    name = f"stateful_{next(_uniq)}"

    stream = (
        normalize_events(
            spark.readStream.schema(table_schema("events", path))
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        .select("user_id", F.unix_micros("ts").alias("ts_us"), "value")
    )
    updated = stream.groupBy("user_id").applyInPandasWithState(
        _update_user_stats,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    with scoped_state_partitions(spark):
        query = (
            updated.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    # The memory sink holds one emission per (user, batch); the final one
    # per user (max n_events — counts are monotone) is the answer.
    sink = spark.table(name)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value", "last_seen_us")
    )


# ---------------------------------------------------------------------------
# Streaming frequent-pair (Apriori level-2) support maintenance
# ---------------------------------------------------------------------------

#: Fixed itemset vocabulary for the pair monitor, in bit order.  Event
#: types outside this list are ignored (documented contract — the
#: vocabulary is part of the monitor's configuration, exactly as the
#: funnel ops pin view→click→purchase).
PAIR_TYPES = ("click", "error", "purchase", "signup", "view")

#: A pair is "frequent" when the fraction of users having BOTH types
#: reaches this support (the Apriori min-support knob).
PAIR_MIN_SUPPORT = 0.5

_PAIR_STATE_SCHEMA = "mask bigint"
_PAIR_OUTPUT_SCHEMA = "user_id bigint, mask bigint"


def _update_type_mask(key, pdfs, state: GroupState):
    """Per-user seen-type bitmask — 1 bigint of state per user, the
    minimal sufficient statistic for every level-2 itemset count.
    Stays vectorized: ``unique()`` collapses the batch C-side, so the
    python loop runs over ≤ |PAIR_TYPES| distinct values, never rows
    (the _update_user_stats discipline)."""
    mask = state.get[0] if state.exists else 0
    bit_of = {t: 1 << i for i, t in enumerate(PAIR_TYPES)}
    for pdf in pdfs:
        for t in pdf["event_type"].unique():
            b = bit_of.get(t)
            if b is not None:
                mask |= b
    state.update((mask,))
    yield pd.DataFrame({"user_id": [key[0]], "mask": [mask]})


def _frequent_pairs_oracle() -> str:
    flags = ",\n               ".join(
        f"max(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS f{i}"
        for i, t in enumerate(PAIR_TYPES)
    )
    selects = []
    for i in range(len(PAIR_TYPES)):
        for j in range(i + 1, len(PAIR_TYPES)):
            selects.append(
                f"SELECT '{PAIR_TYPES[i]}' AS type_a,"
                f" '{PAIR_TYPES[j]}' AS type_b,"
                f" CAST(SUM(f{i} * f{j}) AS BIGINT) AS n_users_both,"
                f" CAST(count(*) AS BIGINT) AS n_users_total"
                " FROM u"
            )
    body = "\n    UNION ALL\n    ".join(selects)
    return f"""
    WITH u AS (
        SELECT user_id,
               {flags}
        FROM events GROUP BY user_id
    ),
    p AS (
    {body}
    )
    SELECT type_a, type_b, n_users_both, n_users_total,
           CAST(n_users_both AS DOUBLE) / CAST(n_users_total AS DOUBLE)
               AS support,
           CAST(n_users_both AS DOUBLE) / CAST(n_users_total AS DOUBLE)
             >= {PAIR_MIN_SUPPORT} AS frequent
    FROM p
    """


@register(
    "stream_frequent_pairs_stateful",
    oracle=_frequent_pairs_oracle(),
    tags=("streaming", "stateful", "itemsets"),
)
def stream_frequent_pairs_stateful(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming Apriori level-2 support maintenance — the incremental
    deployment of agg_apriori_frequent_triples' first mining level: as
    events stream in, each user's seen-type BITMASK accumulates in
    applyInPandasWithState (ONE bigint of state per user — the minimal
    sufficient statistic for every pairwise co-occurrence count, and
    the engine-sized inverse of the reference's unbounded per-window
    HashSet, UniqueUsersCounter.java:80-84), and after the stream the
    10 unordered type-pair supports fall out of one conditional
    aggregate over the final masks.  Masks only GAIN bits, so the last
    emission per user is the numeric max — batch-order independent —
    and the support table equals the batch Apriori truth, which is
    exactly what the oracle computes relationally (both sides iterate
    the same literal PAIR_TYPES vocabulary, so the pair list cannot
    drift).

    Scale: state is 8 bytes/user (vocabulary fixed at |T| ≤ 63 types);
    emissions are one row per active user per trigger; the pair
    aggregate touches users × 10 broadcast pair rows — no shuffle
    beyond the user-key state exchange every stateful op pays.  A
    1000-type vocabulary would switch the mask to a bit ARRAY and the
    pair table to the Misra-Gries-guarded top-pairs form; the level-3
    extension reuses the same masks (Apriori downward closure prunes
    candidate triples to pairs already frequent)."""
    path = _stream_chunked_source_dir(sf_dir)
    name = f"freqpairs_{next(_uniq)}"

    stream = normalize_events(
        spark.readStream.schema(table_schema("events", path))
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    ).select("user_id", "event_type")
    updated = stream.groupBy("user_id").applyInPandasWithState(
        _update_type_mask,
        outputStructType=_PAIR_OUTPUT_SCHEMA,
        stateStructType=_PAIR_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    with scoped_state_partitions(spark):
        query = (
            updated.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    sink = spark.table(name)
    final_masks = sink.groupBy("user_id").agg(
        F.max("mask").alias("mask")
    )
    pairs = []
    for i in range(len(PAIR_TYPES)):
        for j in range(i + 1, len(PAIR_TYPES)):
            pairs.append(
                (PAIR_TYPES[i], PAIR_TYPES[j], 1 << i, 1 << j)
            )
    pairs_df = spark.createDataFrame(
        pairs, "type_a string, type_b string, bit_a bigint, bit_b bigint"
    )
    both = (
        final_masks.crossJoin(F.broadcast(pairs_df))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(
                F.when(
                    (F.col("mask").bitwiseAND(F.col("bit_a")) != 0)
                    & (F.col("mask").bitwiseAND(F.col("bit_b")) != 0),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_users_both"),
            F.count(F.lit(1)).cast("bigint").alias("n_users_total"),
        )
    )
    support = F.col("n_users_both").cast("double") / F.col(
        "n_users_total"
    ).cast("double")
    return both.select(
        "type_a",
        "type_b",
        "n_users_both",
        "n_users_total",
        support.alias("support"),
        (support >= F.lit(PAIR_MIN_SUPPORT)).alias("frequent"),
    )


# ---------------------------------------------------------------------------
# Streaming frequent-triple (Apriori level-3) support maintenance
# ---------------------------------------------------------------------------


def _frequent_triples_oracle() -> str:
    flags = ",\n               ".join(
        f"max(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS f{i}"
        for i, t in enumerate(PAIR_TYPES)
    )
    n = len(PAIR_TYPES)
    selects = []
    for i in range(n):
        for j in range(i + 1, n):
            for k in range(j + 1, n):
                pair_gates = " AND ".join(
                    f"max(p.s{a}_{b}) >= {PAIR_MIN_SUPPORT}"
                    for a, b in ((i, j), (i, k), (j, k))
                )
                selects.append(
                    f"SELECT '{PAIR_TYPES[i]}' AS type_a,"
                    f" '{PAIR_TYPES[j]}' AS type_b,"
                    f" '{PAIR_TYPES[k]}' AS type_c,"
                    f" CAST(SUM(f{i} * f{j} * f{k}) AS BIGINT)"
                    " AS n_users_all3,"
                    " CAST(count(*) AS BIGINT) AS n_users_total"
                    f" FROM u, p HAVING {pair_gates}"
                )
    body = "\n    UNION ALL\n    ".join(selects)
    pair_cols = ",\n               ".join(
        f"CAST(SUM(f{i} * f{j}) AS DOUBLE) / count(*) AS s{i}_{j}"
        for i in range(n)
        for j in range(i + 1, n)
    )
    return f"""
    WITH u AS (
        SELECT user_id,
               {flags}
        FROM events GROUP BY user_id
    ),
    p AS (
        SELECT {pair_cols}
        FROM u
    ),
    t AS (
    {body}
    )
    SELECT type_a, type_b, type_c, n_users_all3, n_users_total,
           CAST(n_users_all3 AS DOUBLE) / CAST(n_users_total AS DOUBLE)
               AS support,
           CAST(n_users_all3 AS DOUBLE) / CAST(n_users_total AS DOUBLE)
             >= {PAIR_MIN_SUPPORT} AS frequent
    FROM t
    """


@register(
    "stream_frequent_triples_stateful",
    oracle=_frequent_triples_oracle(),
    tags=("streaming", "stateful", "itemsets"),
)
def stream_frequent_triples_stateful(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming Apriori LEVEL-3 on the level-2 masks — the downward-
    closure extension stream_frequent_pairs_stateful's docstring
    promises: the per-user seen-type BITMASK (the same 8 bytes of
    applyInPandasWithState state, same _update_type_mask kernel — ONE
    state representation serves every itemset level) is folded twice:
    first into the 10 pair supports, then candidate triples are PRUNED
    to those whose three sub-pairs are all frequent (the anti-monotone
    Apriori gate: support({a,b,c}) <= min over sub-pairs, so no
    surviving triple can have been wrongly pruned), and only the
    survivors get a support count.  The oracle replicates the gate
    relationally (HAVING over the same pair-support scalars), so the
    emitted ROW SET — not just the numbers — pins the pruning.

    Scale: pruning is the whole point at large vocabularies — level-3
    candidates grow as |T| choose 3, but the gate admits only triples
    over already-frequent pairs (Agrawal-Srikant 1994); here all the
    candidate plumbing is broadcast-sized DataFrame joins (10 pair
    rows, <= 10 triple rows), the masks stay one bigint per user, and
    the two folds are conditional aggregates over users — no shuffle
    beyond the user-key state exchange the pairs op already pays."""
    path = _stream_chunked_source_dir(sf_dir)
    name = f"freqtriples_{next(_uniq)}"

    stream = normalize_events(
        spark.readStream.schema(table_schema("events", path))
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    ).select("user_id", "event_type")
    updated = stream.groupBy("user_id").applyInPandasWithState(
        _update_type_mask,
        outputStructType=_PAIR_OUTPUT_SCHEMA,
        stateStructType=_PAIR_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    with scoped_state_partitions(spark):
        query = (
            updated.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    final_masks = (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.max("mask").alias("mask"))
    )
    n = len(PAIR_TYPES)
    pairs = [
        (PAIR_TYPES[i], PAIR_TYPES[j], 1 << i, 1 << j)
        for i in range(n)
        for j in range(i + 1, n)
    ]
    pairs_df = spark.createDataFrame(
        pairs, "ta string, tb string, bit_a bigint, bit_b bigint"
    )
    pair_support = (
        final_masks.crossJoin(F.broadcast(pairs_df))
        .groupBy("ta", "tb")
        .agg(
            (
                F.sum(
                    F.when(
                        (F.col("mask").bitwiseAND(F.col("bit_a")) != 0)
                        & (
                            F.col("mask").bitwiseAND(F.col("bit_b"))
                            != 0
                        ),
                        1,
                    ).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("s")
        )
    )
    freq_pairs = pair_support.filter(
        F.col("s") >= F.lit(PAIR_MIN_SUPPORT)
    ).select("ta", "tb")
    triples = [
        (
            PAIR_TYPES[i],
            PAIR_TYPES[j],
            PAIR_TYPES[k],
            (1 << i) | (1 << j) | (1 << k),
        )
        for i in range(n)
        for j in range(i + 1, n)
        for k in range(j + 1, n)
    ]
    triples_df = spark.createDataFrame(
        triples, "type_a string, type_b string, type_c string, bits bigint"
    )
    fp = F.broadcast(freq_pairs)
    candidates = (
        triples_df.join(
            fp.withColumnRenamed("ta", "type_a").withColumnRenamed(
                "tb", "type_b"
            ),
            ["type_a", "type_b"],
        )
        .join(
            fp.withColumnRenamed("ta", "type_a").withColumnRenamed(
                "tb", "type_c"
            ),
            ["type_a", "type_c"],
        )
        .join(
            fp.withColumnRenamed("ta", "type_b").withColumnRenamed(
                "tb", "type_c"
            ),
            ["type_b", "type_c"],
        )
    )
    counted = (
        final_masks.crossJoin(F.broadcast(candidates))
        .groupBy("type_a", "type_b", "type_c")
        .agg(
            F.sum(
                F.when(
                    F.col("mask").bitwiseAND(F.col("bits"))
                    == F.col("bits"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_users_all3"),
            F.count(F.lit(1)).cast("bigint").alias("n_users_total"),
        )
    )
    support = F.col("n_users_all3").cast("double") / F.col(
        "n_users_total"
    ).cast("double")
    return counted.select(
        "type_a",
        "type_b",
        "type_c",
        "n_users_all3",
        "n_users_total",
        support.alias("support"),
        (support >= F.lit(PAIR_MIN_SUPPORT)).alias("frequent"),
    )
