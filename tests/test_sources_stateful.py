"""S3/S4 gzip-JSONL source parity + stateful sessionization + TS sink."""

from __future__ import annotations

import gzip
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from inde1_spark.datagen.parking import generate, to_spark
from inde1_spark.operators import parking as P
from inde1_spark.schemas import EVENT_ENTRY, EVENT_EXIT, PARKING_EVENT_FLAT
from inde1_spark.sources.readers import read_parking_events_json
from inde1_spark.streaming.pipelines import RedisTimeSeriesSink, weekly_timeseries
from inde1_spark.streaming.stateful import sessionize_stream

FIXTURE = generate(n_sessions=150, seed=3)


def _wire(e: dict) -> dict:
    """Flat fixture row -> the reference's nested wire JSON
    (ParkingEvent.scala:3-21 / s3-sink-connector archive format)."""
    return {
        "eventType": e["event_type"],
        "timestamp": e["ts"].strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z",
        "vehicle": {
            "licensePlate": e["license_plate"],
            "vehicleType": e["vehicle_type"],
            "color": e["color"],
        },
        "parking": {
            "parkingLotId": e["parking_lot_id"],
            "parkingSpotId": e["parking_spot_id"],
            "isSlotHandicapped": e["is_slot_handicapped"],
        },
        **({"duration": e["duration_ms"]} if e["duration_ms"] is not None else {}),
    }


def test_gzip_jsonl_scan_with_malformed_rows(spark, tmp_path):
    """S3: explicit-schema gzip JSON-lines scan over the archive layout
    (yyyy/MM/dd/HH partition dirs), malformed lines dropped (S4)."""
    root = tmp_path / "topics" / "parking-event-topic"
    d1 = root / "2025" / "06" / "01" / "10"
    d2 = root / "2025" / "06" / "01" / "11"
    d1.mkdir(parents=True)
    d2.mkdir(parents=True)
    half = len(FIXTURE.events) // 2
    for path, chunk in ((d1, FIXTURE.events[:half]), (d2, FIXTURE.events[half:])):
        lines = [json.dumps(_wire(e)) for e in chunk]
        lines.insert(1, "{broken json!!")  # malformed line, must be dropped
        with gzip.open(path / "part-000.json.gz", "wt") as f:
            f.write("\n".join(lines))

    df = read_parking_events_json(spark, f"{root}/*/*/*/*/*.json.gz")
    rows = df.collect()
    assert len(rows) == len(FIXTURE.events)  # malformed rows dropped, data kept
    got_types = {r["event_type"] for r in rows}
    assert EVENT_ENTRY in got_types and EVENT_EXIT in got_types
    sample = next(r for r in rows if r["event_type"] == EVENT_EXIT)
    assert sample["duration_ms"] is not None
    assert sample["ts"] is not None and sample["license_plate"].count("-") == 2

    # hour-partition pruning by path glob (P5): one hour's dir only
    df_h10 = read_parking_events_json(spark, f"{root}/2025/06/01/10/*.json.gz")
    assert df_h10.count() == half


def test_stateful_sessionize_matches_batch(spark, tmp_path):
    """T4: applyInPandasWithState sessionizer == batch row_number pairing
    (for complete sessions; orphan exits are dropped by both)."""
    events, _, _ = to_spark(spark, FIXTURE)
    data_dir = tmp_path / "data"
    data_dir.mkdir()
    rows = events.toJSON().collect()
    half = len(rows) // 2
    (data_dir / "a.json").write_text("\n".join(rows[:half]))
    (data_dir / "b.json").write_text("\n".join(rows[half:]))

    stream = (
        spark.readStream.schema(PARKING_EVENT_FLAT)
        .option("maxFilesPerTrigger", 1)
        .json(str(data_dir))
    )
    got: list = []
    q = (
        sessionize_stream(stream)
        .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    want = P.session_durations(events).collect()
    key = lambda r: (r["license_plate"], r["parking_lot_id"], r["parking_spot_id"],
                     r["entry_ts"], r["exit_ts"])
    # sessions whose ENTRY and EXIT straddle the file split still pair:
    # state carries the open entry across micro-batches
    assert sorted(map(key, got)) == sorted(map(key, want))
    for r in got:
        assert 4.9 / 60 <= r["duration_min"] <= 21.0 / 60  # 5-20s sessions


def test_weekly_timeseries_key_contract(spark):
    events, _, _ = to_spark(spark, FIXTURE)
    ts = weekly_timeseries(events)
    sink = RedisTimeSeriesSink()
    sink.write_weekly(ts, week="2025-22")
    keys = set(sink.series)
    assert any(k == "parking-stats:weekly:2025-22:entries" for k in keys)
    assert any(k == "parking-stats:weekly:2025-22:exits" for k in keys)
    assert any(k == "parking-stats:weekly:2025-22:revenue" for k in keys)
    assert any(k.startswith("parking-stats:weekly:2025-22:avgspent:") for k in keys)
    pts = sink.ts_range("parking-stats:weekly:2025-22:entries")
    assert pts and all(v >= 0 for _, v in pts)
    n_entries = sum(1 for e in FIXTURE.events if e["event_type"] == EVENT_ENTRY)
    assert sum(v for _, v in pts) == n_entries


def test_archive_writer_partition_layout(spark, tmp_path):
    """S8: streaming archive -> event-time partition dirs, pruned on read."""
    from inde1_spark.streaming.pipelines import archive_writer

    events, _, _ = to_spark(spark, FIXTURE)
    data_dir = tmp_path / "in"
    data_dir.mkdir()
    (data_dir / "a.json").write_text("\n".join(events.toJSON().collect()))
    stream = spark.readStream.schema(PARKING_EVENT_FLAT).json(str(data_dir))

    out = str(tmp_path / "archive")
    q = (
        archive_writer(stream, out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    archived = spark.read.parquet(out)
    assert archived.count() == len(FIXTURE.events)
    assert {"event_date", "event_hour"} <= set(archived.columns)
    # partition pruning: filtering on the partition column prunes input files
    one_hour = archived.filter(
        (F.col("event_date") == "2025-06-01") & (F.col("event_hour") == 0)
    )
    plan = one_hour._jdf.queryExecution().executedPlan().toString()
    n_pruned = one_hour.count()
    want = sum(
        1 for e in FIXTURE.events if e["ts"].hour == 0 and e["ts"].date().isoformat() == "2025-06-01"
    )
    assert n_pruned == want
    assert "PartitionFilters" in plan
