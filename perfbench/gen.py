"""Seeded input generator for the benchmark.

``write_tables(out_dir, seed)`` writes the ten batch tables with the
schemas of the synthetic testdata tables (FIXTURES.md section 2) and their
sf0.01 row counts.
``StreamPlan`` draws the open-loop event stream from a seed; only the
time base of the event timestamps comes from the clock.

The same seed gives byte-identical files.  ``python3 perfbench/gen.py
[--reference-dir DIR]`` proves that, compares schemas (Arrow and parquet
footer) and row counts with a reference data directory when one is given,
and prints the input properties the operators depend on (user-key skew,
near-duplicate share of ``documents``) for the generated data and the
reference side by side.
"""

from __future__ import annotations

import argparse
import collections
import filecmp
import json
import os
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCHEMAS: dict[str, pa.Schema] = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema([
        ("n_nationkey", pa.int32()), ("n_name", pa.string()),
        ("n_regionkey", pa.int32()),
    ]),
    "customer": pa.schema([
        ("c_custkey", pa.int64()), ("c_name", pa.string()),
        ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
        ("c_mktsegment", pa.string()),
    ]),
    "supplier": pa.schema([
        ("s_suppkey", pa.int64()), ("s_name", pa.string()),
        ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64()),
    ]),
    "part": pa.schema([
        ("p_partkey", pa.int64()), ("p_name", pa.string()),
        ("p_brand", pa.string()), ("p_type", pa.string()),
        ("p_size", pa.int32()), ("p_retailprice", pa.float64()),
    ]),
    "orders": pa.schema([
        ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string()),
    ]),
    "lineitem": pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ]),
    "events": pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64()), ("props", pa.string()),
    ]),
    "documents": pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ]),
    "embeddings": pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]),
}

#: sf0.01 row counts of the testdata tables.
ROWS = {
    "region": 5, "nation": 25, "customer": 1_500, "supplier": 100,
    "part": 2_000, "orders": 15_000, "lineitem": 60_000,
    "events": 10_000, "documents": 500, "embeddings": 500,
}

#: Users in the batch ``events`` table (the testdata sf0.01 count) and in
#: the stream (the testdata sf0.1 count).  Both draw user keys uniformly:
#: the testdata events are near-uniform (busiest user 1.29x the mean at
#: sf0.01, 1.48x at sf0.1), and no source in the repository gives a skew.
BATCH_USERS = 150
STREAM_USERS = 1_500
#: The open-loop stream: STREAM_RATE events/s, one file every STREAM_TICK_S.
STREAM_RATE = 2_000
STREAM_TICK_S = 0.1
#: Share of stream events that arrive late: the arrival spec lets 0.1% of
#: events arrive later than 5 s (FIXTURES.md, "Arrival contract").
LATE_SHARE = 0.001
#: How far behind their creation time late events carry ``ts``.  The spec
#: does not say; 120 s keeps every late event behind the 5 s watermark
#: unless the stream lags by more than 115 s, so the drop check is exact.
LATE_BY_S = 120.0
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PART_ADJ = ["red", "blue", "hot", "cold", "new", "old", "small", "large"]
PART_NOUN = ["bolt", "ring", "rod", "plate", "gear", "anvil", "nut", "pipe"]
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
WORDS = np.array(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split()
)
LANGS = np.array(["en", "es", "de", "fr", "zh"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
#: Share of documents planted as near-duplicates of an earlier document
#: (the testdata sf0.1 documents carry 255 such copies in 5,000).
NEAR_DUP_SHARE = 0.05

_US = 1_000_000
_DAY_US = 86_400 * _US


def _epoch_us(iso: str) -> int:
    return int(np.datetime64(iso, "us").astype(np.int64))


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, sorted(SCHEMAS).index(table)])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _table(name: str, cols: dict) -> pa.Table:
    return pa.Table.from_pydict(cols, schema=SCHEMAS[name])


def _build(name: str, seed: int) -> pa.Table:
    rng = _rng(seed, name)
    n = ROWS[name]
    ids = np.arange(n, dtype=np.int64)
    if name == "region":
        return _table(name, {"r_regionkey": ids.astype(np.int32), "r_name": REGIONS})
    if name == "nation":
        return _table(name, {
            "n_nationkey": ids.astype(np.int32),
            "n_name": [f"NATION_{i}" for i in ids],
            "n_regionkey": (ids % 5).astype(np.int32),
        })
    if name == "customer":
        return _table(name, {
            "c_custkey": ids,
            "c_name": [f"Customer#{i:09d}" for i in ids],
            "c_nationkey": rng.integers(0, 25, n, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": SEGMENTS[rng.integers(0, 5, n)],
        })
    if name == "supplier":
        return _table(name, {
            "s_suppkey": ids,
            "s_name": [f"Supplier#{i:09d}" for i in ids],
            "s_nationkey": rng.integers(0, 25, n, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n),
        })
    if name == "part":
        names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
        return _table(name, {
            "p_partkey": ids,
            "p_name": names[rng.integers(0, len(names), n)],
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n).astype(str)),
            "p_type": PART_TYPES[rng.integers(0, len(PART_TYPES), n)],
            "p_size": rng.integers(1, 51, n, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (ids % 1000) * 0.1, 1),
        })
    if name == "orders":
        day0 = _epoch_us("1995-01-01")
        return _table(name, {
            "o_orderkey": ids,
            "o_custkey": rng.integers(0, ROWS["customer"], n),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": day0 + rng.integers(0, 2405, n) * _DAY_US,
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, n)],
        })
    if name == "lineitem":
        day0 = _epoch_us("1995-01-02")
        qty = rng.integers(1, 51, n).astype(np.float64)
        return _table(name, {
            "l_orderkey": rng.integers(0, ROWS["orders"], n),
            "l_partkey": rng.integers(0, ROWS["part"], n),
            "l_suppkey": rng.integers(0, ROWS["supplier"], n),
            "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": day0 + rng.integers(0, 2499, n) * _DAY_US,
        })
    if name == "events":
        t0, t1 = _epoch_us("2024-01-01"), _epoch_us("2024-01-31")
        return _table(name, {
            "event_id": ids,
            "ts": np.sort(rng.integers(t0, t1, n)),
            "user_id": rng.integers(0, BATCH_USERS, n),
            "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        })
    if name == "documents":
        lengths = rng.integers(10, 101, n)
        words = WORDS[rng.integers(0, len(WORDS), int(lengths.sum()))]
        cuts = np.cumsum(lengths)[:-1]
        texts = [" ".join(ws) for ws in np.split(words, cuts)]
        dup = rng.random(n) < NEAR_DUP_SHARE
        dup[0] = False
        for i in np.flatnonzero(dup):
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
        return _table(name, {
            "doc_id": ids,
            "text": texts,
            "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": [len(t) for t in texts],
        })
    if name == "embeddings":
        x = rng.standard_normal((n, 64)).astype(np.float32)
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        return _table(name, {
            "vec_id": ids,
            "embedding": list(x),
            "label": rng.integers(0, 10, n, dtype=np.int32),
        })
    raise KeyError(name)


def write_tables(out_dir: str, seed: int) -> None:
    """Write ``<out_dir>/<table>.parquet`` for every testdata table."""
    os.makedirs(out_dir, exist_ok=True)
    for name in SCHEMAS:
        pq.write_table(_build(name, seed), os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")


class StreamPlan:
    """The open-loop event stream, drawn from a seed.

    Every ``STREAM_TICK_S`` the generator publishes one file of
    ``STREAM_RATE * STREAM_TICK_S`` events over ``STREAM_USERS`` users.  An
    event's timestamp is its creation time: a point inside the tick that
    ends at the file's due time.  A seeded share ``LATE_SHARE`` of events
    (never in the primer) carries a timestamp ``LATE_BY_S`` earlier, behind
    the 5 s watermark, so the stream must drop it.
    """

    per_file = int(STREAM_RATE * STREAM_TICK_S)
    tick_us = int(STREAM_TICK_S * _US)
    late_by_us = int(LATE_BY_S * _US)

    def __init__(self, seed: int):
        self.seed = seed

    def batch(self, index: int, due_us: int,
              primer: bool = False) -> tuple[pa.Table, np.ndarray]:
        """File ``index`` (0 is the primer) due at epoch microsecond
        ``due_us``, and the mask of its late events."""
        rng = np.random.default_rng([self.seed, 1000 + index])
        n = self.per_file
        ts = due_us - self.tick_us + np.sort(rng.integers(0, self.tick_us, n))
        late = np.zeros(n, bool) if primer else rng.random(n) < LATE_SHARE
        ts = np.where(late, ts - self.late_by_us, ts)
        return _table("events", {
            "event_id": index * n + np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, STREAM_USERS, n),
            "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }), late


# ---------------------------------------------------------------------------
# Self-check
# ---------------------------------------------------------------------------

def user_skew(user_ids: np.ndarray) -> dict:
    counts = np.sort(np.bincount(user_ids.astype(np.int64)))[::-1]
    counts = counts[counts > 0]
    top = max(1, len(counts) // 100)
    return {
        "distinct_users": int(len(counts)),
        "top1pct_share": round(float(counts[:top].sum() / counts.sum()), 4),
        "max_over_mean": round(float(counts[0] / counts.mean()), 2),
    }


def near_dup_share(texts: list[str], threshold: float = 0.8) -> float:
    """Share of documents whose word-3-shingle Jaccard with some other
    document reaches ``threshold`` (exact, via a shingle inverted index)."""
    shingles = [
        {tuple(ws[i:i + 3]) for i in range(len(ws) - 2)}
        for ws in (t.split() for t in texts)
    ]
    index = collections.defaultdict(list)
    for d, sh in enumerate(shingles):
        for s in sh:
            index[s].append(d)
    hit = np.zeros(len(texts), bool)
    for d, sh in enumerate(shingles):
        overlap = collections.Counter()
        for s in sh:
            overlap.update(index[s])
        for other, k in overlap.items():
            if other != d and k / (len(sh) + len(shingles[other]) - k) >= threshold:
                hit[d] = True
                break
    return round(float(hit.mean()), 4)


def properties(data_dir: str) -> dict:
    ev = pq.read_table(os.path.join(data_dir, "events.parquet"), columns=["user_id"])
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["text"])
    return {
        "events.user_skew": user_skew(ev.column("user_id").to_numpy()),
        "documents.near_dup_share": near_dup_share(docs.column("text").to_pylist()),
    }


def self_check(reference_dir: str | None, seed: int) -> list[str]:
    problems = []
    with tempfile.TemporaryDirectory(dir=os.environ.get("TMPDIR")) as tmp:
        a, b = os.path.join(tmp, "a"), os.path.join(tmp, "b")
        write_tables(a, seed)
        write_tables(b, seed)
        for name in SCHEMAS:
            fa, fb = (os.path.join(d, f"{name}.parquet") for d in (a, b))
            if not filecmp.cmp(fa, fb, shallow=False):
                problems.append(f"{name}: same seed gave different bytes")
            meta = pq.ParquetFile(fa).metadata
            if meta.num_rows != ROWS[name]:
                problems.append(f"{name}: {meta.num_rows} rows, want {ROWS[name]}")
            if reference_dir:
                ref = pq.ParquetFile(os.path.join(reference_dir, f"{name}.parquet"))
                got = pq.ParquetFile(fa)
                # Arrow types, then the footer's physical and logical types
                # (what Spark and DuckDB read); neither compares metadata.
                if not got.schema_arrow.equals(ref.schema_arrow):
                    problems.append(f"{name}: schema {got.schema_arrow} "
                                    f"!= reference {ref.schema_arrow}")
                if not got.schema.equals(ref.schema):
                    problems.append(f"{name}: footer {got.schema} != reference {ref.schema}")
                if ref.metadata.num_rows != meta.num_rows:
                    problems.append(f"{name}: reference has {ref.metadata.num_rows} rows")
        plan = StreamPlan(seed)
        t1, _ = plan.batch(3, 1_700_000_000 * _US)
        t2, _ = plan.batch(3, 1_700_000_000 * _US)
        if not t1.equals(t2):
            problems.append("stream: same seed gave different batches")
        # 500 files: 100,000 events, as many as the sf0.1 events table.
        stream_users = np.concatenate(
            [plan.batch(i, 0)[0].column("user_id").to_numpy() for i in range(1, 501)]
        )
        report = {
            "generated": properties(a),
            "stream.user_skew": user_skew(stream_users),
        }
        if reference_dir:
            report["reference"] = properties(reference_dir)
        print(json.dumps(report, indent=1))
    return problems


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--reference-dir", help="testdata directory to compare with")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    problems = self_check(args.reference_dir, args.seed)
    for p in problems:
        print("SELF-CHECK FAIL:", p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
