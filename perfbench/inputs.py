"""Seeded benchmark inputs.

Two kinds of input, both a pure function of ``--seed``:

- ``write_tables``: the ten tables the ``queries()`` builders read
  (``inde1_spark.schemas.TESTDATA_TABLES``), with the row counts of the
  repository's sf0.01 test data and the column names, types and value
  domains measured on it (TPC-H-ish star schema, an
  ``events`` table, a text corpus with ~5% appended-suffix near-duplicates
  and unit-norm 64-d embeddings), written as one single-row-group parquet
  file each, the layout the readers are tuned for.
- ``write_replay``: a ``datagen.parking.generate`` fixture as wire-format
  JSON-lines files for the streaming drains (one file per chunk of events,
  strictly increasing mtimes so a file source with ``maxFilesPerTrigger=1``
  replays them in event order) and as a gzip archive partitioned by hour
  (``yyyy/MM/dd/HH``) for the batch jobs.
"""

from __future__ import annotations

import gzip
import json
import os
from dataclasses import dataclass
from types import SimpleNamespace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EVENT_TYPES = ("view", "click", "error", "signup", "purchase")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_NAMES = [f"{a} {b}" for a in ("small", "red", "blue", "hot", "big", "cold", "green", "old")
           for b in ("ring", "widget", "bolt", "gear", "pipe", "nut", "valve", "plate")]


# Row counts of the repository's sf0.01 test data (its correctness scale),
# and the number of distinct ``events.user_id`` values there.
ROWS = {"customer": 1500, "orders": 15000, "lineitem": 60000, "supplier": 100,
        "part": 2000, "events": 10000, "documents": 500, "embeddings": 500}
EVENT_USERS = 150
# Share of documents that copy another document and append " dup" (the test
# data has 25 such documents in 500 and 250 in 5,000).
DUP_SHARE = 0.05
SHAPE_SEED = 20240101


def _ts(days: np.ndarray, start: str) -> pa.Array:
    base = np.datetime64(start, "us")
    us = (days * 86_400e6).astype("int64")
    return pa.array(base + us.astype("timedelta64[us]"), pa.timestamp("us"))


def _day_ts(rng: np.random.Generator, n: int, start: str, n_days: int) -> pa.Array:
    base = np.datetime64(start, "D")
    d = base + rng.integers(0, n_days, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    # As in the sf0.01 test data: documents of 10 to 100 words from a 30-word
    # vocabulary, one in twenty a copy of another with " dup" appended, one
    # of those with " dup dup", and one document copied twice. That shape
    # (which documents copy which, and every length) is fixed, the seed picks
    # the words: it sets how many jobs the graph operators fire (a document
    # copied twice makes a triangle that survives 2-core peeling, 51 jobs
    # instead of 42), so a shape drawn per seed would make the job count,
    # and with it the iterative pass time, depend on the seed.
    shape = np.random.default_rng(SHAPE_SEED)
    lengths = shape.integers(10, 101, n)
    n_dup = round(n * DUP_SHARE)
    dup_at = shape.choice(n, n_dup, replace=False)
    sources = shape.choice(np.setdiff1d(np.arange(n), dup_at), n_dup - 1, replace=False)
    sources = np.append(sources, sources[0])
    texts = [" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), int(k))) for k in lengths]
    for i, (at, src) in enumerate(zip(dup_at, sources)):
        texts[at] = texts[src] + " dup" * (2 if i == 1 else 1)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def make_tables(seed: int, rows: dict[str, int] = ROWS,
                users: int = EVENT_USERS) -> dict[str, pa.Table]:
    """Build every table from ``seed``; the same seed gives the same tables."""
    rng = np.random.default_rng(seed)
    s = SimpleNamespace(**rows)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(s.customer), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(s.customer)],
            "c_nationkey": pa.array(rng.integers(0, 25, s.customer), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, s.customer),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, s.customer)]}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(s.supplier), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(s.supplier)],
            "s_nationkey": pa.array(rng.integers(0, 25, s.supplier), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, s.supplier)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(s.part), pa.int64()),
            "p_name": [P_NAMES[j] for j in rng.integers(0, len(P_NAMES), s.part)],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, s.part)],
            "p_type": [P_TYPES[j] for j in rng.integers(0, 6, s.part)],
            "p_size": pa.array(rng.integers(1, 51, s.part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(s.part) % 1000) * 0.1, 2)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(s.orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, s.customer, s.orders), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, s.orders)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, s.orders),
            "o_orderdate": _day_ts(rng, s.orders, "1995-01-01", 2400),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, s.orders)]}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, s.orders, s.lineitem), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, s.part, s.lineitem), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s.supplier, s.lineitem), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, s.lineitem), pa.int32()),
            "l_quantity": rng.integers(1, 51, s.lineitem).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, s.lineitem),
            "l_discount": rng.integers(0, 11, s.lineitem) / 100.0,
            "l_tax": rng.integers(0, 9, s.lineitem) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, s.lineitem)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, s.lineitem)],
            "l_shipdate": _day_ts(rng, s.lineitem, "1995-01-02", 2500)}),
    }
    days = np.sort(rng.uniform(0, 30, s.events))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(s.events), pa.int64()),
        "ts": _ts(days, "2024-01-01"),
        "user_id": pa.array(rng.integers(0, users, s.events), pa.int64()),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, s.events)],
        "value": np.round(rng.exponential(50.0, s.events) + 0.01, 2),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, s.events)],
    })
    tables["documents"] = _documents(rng, s.documents)
    tables["embeddings"] = _embeddings(rng, s.embeddings)
    return tables


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every table; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
        counts[name] = table.num_rows
    return counts


# ---------------------------------------------------------------------------
# parking replay
# ---------------------------------------------------------------------------

def wire_event(e: dict) -> dict:
    """Flat fixture row -> the nested wire JSON the producers emit."""
    return {
        "eventType": e["event_type"],
        "timestamp": e["ts"].strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z",
        "vehicle": {"licensePlate": e["license_plate"],
                    "vehicleType": e["vehicle_type"], "color": e["color"]},
        "parking": {"parkingLotId": e["parking_lot_id"],
                    "parkingSpotId": e["parking_spot_id"],
                    "isSlotHandicapped": e["is_slot_handicapped"]},
        **({"duration": e["duration_ms"]} if e["duration_ms"] is not None else {}),
    }


@dataclass(frozen=True)
class Replay:
    """Where a written replay lives and how many events it holds."""

    stream_dir: str  # flat dir of JSON-lines files, replayed in mtime order
    archive_glob: str  # gzip JSON-lines, one file per event hour
    files: list[str]  # stream files in replay order
    events: int  # lines written (the manifest count the drains are scored by)
    archive_files: int


def write_replay(out_dir: str, events: list[dict], n_files: int) -> Replay:
    """Write ``events`` (already in event-time order) as ``n_files`` stream
    files of near-equal size and as the hourly archive. Stream file ``i``
    gets mtime ``base + i`` seconds, so mtime order is replay order
    regardless of filesystem timestamp granularity."""
    stream_dir = os.path.join(out_dir, "stream")
    archive = os.path.join(out_dir, "archive")
    os.makedirs(stream_dir, exist_ok=True)
    lines = [json.dumps(wire_event(e)) for e in events]
    files = []
    base = 1_600_000_000
    bounds = [len(lines) * i // n_files for i in range(n_files + 1)]
    for i in range(n_files):
        path = os.path.join(stream_dir, f"part-{i:05d}.json")
        with open(path, "w") as f:
            f.write("\n".join(lines[bounds[i]:bounds[i + 1]]) + "\n")
        os.utime(path, (base + i, base + i))
        files.append(path)
    by_hour: dict[tuple, list[str]] = {}
    for e, line in zip(events, lines):
        t = e["ts"]
        by_hour.setdefault((t.year, t.month, t.day, t.hour), []).append(line)
    for (y, m, d, h), chunk in by_hour.items():
        p = os.path.join(archive, f"{y:04d}", f"{m:02d}", f"{d:02d}", f"{h:02d}")
        os.makedirs(p, exist_ok=True)
        with gzip.open(os.path.join(p, "part-000.json.gz"), "wt") as f:
            f.write("\n".join(chunk) + "\n")
    return Replay(stream_dir, f"{archive}/*/*/*/*/*.json.gz", files, len(lines),
                  len(by_hour))
