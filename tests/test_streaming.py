"""Streaming-pipeline tests: file-source streams standing in for Kafka.

Each test writes the parking fixture as JSON-lines (the reference's archive
format), streams it with ``availableNow``, and checks the streaming result
equals the batch operator on the same data — the engine's batch/streaming
transform-sharing contract.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from inde1_spark.datagen.parking import generate, to_spark
from inde1_spark.operators import parking as P
from inde1_spark.schemas import PARKING_EVENT_FLAT
from inde1_spark.streaming.pipelines import (
    SlotStateSink,
    alert_stream,
    redis_document_key,
    RedisJsonSink,
    run_stream_once,
    windowed_stats_stream,
)

FIXTURE = generate(n_sessions=300, seed=7)


@pytest.fixture(scope="module")
def stream_env(spark, tmp_path_factory):
    """Fixture events written as JSON-lines files (3 chunks to force
    multiple source splits) + the matching static DataFrames."""
    events, users, caps = to_spark(spark, FIXTURE)
    root = tmp_path_factory.mktemp("stream")
    data_dir, ckpt_root = root / "data", root / "ckpt"
    data_dir.mkdir()
    rows = events.toJSON().collect()
    third = max(1, len(rows) // 3)
    for i in range(3):
        chunk = rows[i * third : (i + 1) * third if i < 2 else len(rows)]
        (data_dir / f"part-{i}.json").write_text("\n".join(chunk))
    stream = (
        spark.readStream.schema(PARKING_EVENT_FLAT)
        .option("maxFilesPerTrigger", 1)  # several micro-batches
        .json(str(data_dir))
    )
    return stream, events, users, caps, str(ckpt_root)


def test_alert_stream_matches_batch(spark, stream_env):
    stream, events, users, _, ckpt = stream_env
    got: list = []

    q = (
        alert_stream(stream, users)
        .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
        .option("checkpointLocation", ckpt + "/alerts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    want = P.detect_violations(events, users).collect()
    key = lambda r: (r["vehicle_plate"], r["ts"], r["violation_type"])
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert len(got) > 0


def test_slot_state_sink_matches_batch(spark, stream_env):
    stream, events, _, _, ckpt = stream_env
    sink = SlotStateSink()
    run_stream_once(stream, sink, ckpt + "/slots")
    snap = sink.snapshot()
    want = {r["slot_key"]: r for r in P.slot_state(events).collect()}
    assert set(snap) == set(want)
    for k, v in snap.items():
        assert v["occupied"] == want[k]["occupied"]
        assert v["plate"] == want[k]["plate"]
    # REST-shim equivalent: per-lot filtering works
    lots = {v["lot"] for v in snap.values()}
    assert sum(len(sink.lot(lot)) for lot in lots) == len(snap)


def test_windowed_stats_stream(spark, stream_env):
    stream, events, _, _, ckpt = stream_env
    q = (
        windowed_stats_stream(stream)
        .writeStream.format("memory")
        .queryName("wstats")
        .outputMode("complete")
        .option("checkpointLocation", ckpt + "/wstats")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = spark.table("wstats").toPandas()
    assert len(got) > 0
    # equals the batch clamped-hourly occupancy (same definition, A4)
    want = P.occupancy_clamped_hourly(events).toPandas()
    got_m = {
        (str(r.window_start)[:13], r.parking_lot_id): r.occupancy
        for r in got.itertuples()
    }
    want_m = {
        (f"{r.date} {r.hour:02d}", r.parking_lot_id): r.occupancy
        for r in want.itertuples()
    }
    assert got_m == want_m


def test_redis_json_sink_key_contract(spark, stream_env):
    _, events, _, _, _ = stream_env
    sink = RedisJsonSink()
    sink.process_batch(events, 0)
    assert sink.store, "sink wrote nothing"
    sample_key = next(iter(sink.store))
    assert sample_key.startswith("parking-stats:hourly:")
    doc = json.loads(sink.store[sample_key])
    assert {"date", "hour", "nbr_entries", "nbr_exit", "occupancy",
            "revenue_simulation", "vehicle_types"} <= set(doc)
    assert redis_document_key("2025-06-01", 7) == "parking-stats:hourly:2025-06-01:7"


def test_redis_json_sink_multibatch_hour_exact(spark, stream_env):
    """An hour spanning micro-batches must end with FULL counts, not the
    last batch's partials (ADVICE r1): the sink merges at the additive
    grain and re-clamps occupancy after the merge, so the final documents
    equal the batch hourly_stats on the union of all batches."""
    stream, events, _, _, ckpt = stream_env
    sink = RedisJsonSink()
    q = (
        sink.writer(stream)
        .option("checkpointLocation", ckpt + "/jsondoc")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    want_rows = P.hourly_stats(events).collect()
    assert len(sink.store) == len(want_rows)
    for r in want_rows:
        doc = json.loads(sink.store[redis_document_key(r["date"], r["hour"])])
        assert doc["nbr_entries"] == r["nbr_entries"]
        assert doc["nbr_exit"] == r["nbr_exit"]
        assert doc["occupancy"] == dict(r["occupancy"])
        assert doc["revenue_simulation"] == r["revenue_simulation"]
        assert doc["vehicle_types"] == dict(r["vehicle_types"])


def test_slot_state_sink_ignores_late_batches(spark, stream_env):
    """A micro-batch containing only older events must not regress slot
    state (out-of-order delivery is normal with Kafka)."""
    _, events, _, _, _ = stream_env
    cutoff = events.agg(F.max("ts").alias("m")).collect()[0]["m"]
    older = events.filter(F.col("ts") < F.lit(cutoff))
    sink = SlotStateSink()
    sink.process_batch(events, 0)  # full, newest state
    want = sink.snapshot()
    sink.process_batch(older, 1)  # replayed/late batch: strictly older
    assert sink.snapshot() == want


def test_stream_stream_session_join_matches_batch(spark, stream_env, tmp_path):
    """T2 general form: the watermarked stream-stream interval join must
    equal the batch join with the identical predicate (transform-sharing
    contract); the time bound is what keeps join state evictable.

    Chunks are written TIME-ORDERED (a Kafka replay in offset~time order):
    unlike the stateful sessionizer — whose watermark only drives state
    eviction — a stream-stream join genuinely DROPS inputs later than the
    watermark, so feeding it chunks shuffled across hours would lose pairs
    by design, not by bug."""
    from inde1_spark.streaming.pipelines import session_join_stream

    _, events, _, _, _ = stream_env
    rows = [r["js"] for r in events.select(F.to_json(F.struct("*")).alias("js"))
            .orderBy("ts").collect()]
    data_dir = tmp_path / "ordered"
    data_dir.mkdir()
    third = max(1, len(rows) // 3)
    base_mtime = 1_700_000_000
    for i in range(3):
        chunk = rows[i * third : (i + 1) * third if i < 2 else len(rows)]
        p = data_dir / f"part-{i}.json"
        p.write_text("\n".join(chunk))
        # FileStreamSource orders files by MTIME; same-millisecond writes tie
        # and can replay chunks out of order, making whole chunks "late" —
        # pin strictly increasing mtimes so replay order is the time order
        os.utime(p, (base_mtime + i, base_mtime + i))
    stream = (
        spark.readStream.schema(PARKING_EVENT_FLAT)
        .option("maxFilesPerTrigger", 1)
        .json(str(data_dir))
    )

    got: list = []
    q = (
        session_join_stream(stream)
        .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_ssjoin"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    want = session_join_stream(events).collect()  # same code path, batch input
    key = lambda r: tuple(r)
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert len(want) > 0


def test_hopping_stats_stream_matches_batch(spark, stream_env):
    """Overlapping-window stream equals the identical batch expansion:
    every event lands in exactly window/slide windows on both paths."""
    from inde1_spark.streaming.pipelines import hopping_stats_stream, valid_events
    from pyspark.sql import functions as F

    stream, events, _, _, ckpt = stream_env
    q = (
        hopping_stats_stream(stream)
        .writeStream.format("memory")
        .queryName("hopstats")
        .outputMode("complete")
        .option("checkpointLocation", ckpt + "/hopstats")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (str(r.window_start), str(r.window_end), r.parking_lot_id): (
            r.nbr_entries,
            r.nbr_exit,
        )
        for r in spark.table("hopstats").toPandas().itertuples()
    }
    is_entry = (F.col("event_type") == "PARKING_ENTRY").cast("long")
    want_df = (
        valid_events(events)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "parking_lot_id")
        .agg(
            F.sum(is_entry).alias("nbr_entries"),
            F.sum(1 - is_entry).alias("nbr_exit"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "parking_lot_id",
            "nbr_entries",
            "nbr_exit",
        )
    )
    want = {
        (str(r.window_start), str(r.window_end), r.parking_lot_id): (
            r.nbr_entries,
            r.nbr_exit,
        )
        for r in want_df.toPandas().itertuples()
    }
    assert got == want and len(got) > 0


def test_session_window_stream_matches_batch(spark, stream_env, tmp_path):
    """Native session_window sessions: streamed append-mode output must
    equal the same expression evaluated in batch. A far-future flush
    event advances the watermark so every real session emits before
    availableNow drains; the flush plate's own (still-open) session is
    excluded from the comparison on both sides."""
    from pyspark.sql import functions as F

    from inde1_spark.schemas import PARKING_EVENT_FLAT
    from inde1_spark.streaming.pipelines import session_window_stream

    _, events, _, _, _ = stream_env
    data_dir = tmp_path / "data"
    data_dir.mkdir()
    rows = events.toJSON().collect()
    (data_dir / "part-0.json").write_text("\n".join(rows))
    flush = events.orderBy(F.col("ts").desc()).limit(1).select(
        F.lit("__FLUSH__").alias("license_plate"),
        *[c for c in events.columns if c != "license_plate"],
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 10 HOURS"))
    (data_dir / "part-1.json").write_text("\n".join(flush.toJSON().collect()))

    stream = (
        spark.readStream.schema(PARKING_EVENT_FLAT)
        .option("maxFilesPerTrigger", 1)
        .json(str(data_dir))
    )
    got: list = []
    q = (
        session_window_stream(stream)
        .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    # withWatermark is a no-op on a batch DataFrame, so the same plan
    # builder IS the batch twin
    want = session_window_stream(events)
    key = lambda r: (
        r["license_plate"], str(r["session_start"]), str(r["session_end"]), r["n_events"]
    )
    got_set = {key(r) for r in got if r["license_plate"] != "__FLUSH__"}
    want_set = {key(r) for r in want.collect()}
    assert got_set == want_set
    assert len(got_set) > 0


def test_throttled_alert_stream_one_page_per_pair(spark, stream_env, tmp_path):
    """With a throttle horizon wider than the whole fixture, each
    (plate, violation_type) pair must page exactly once — and every pair
    the batch detector finds must still page."""
    from inde1_spark.streaming.pipelines import throttled_alert_stream

    stream, events, users, _, _ = stream_env
    got: list = []
    q = (
        throttled_alert_stream(stream, users, throttle="24 hours")
        .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    want_pairs = {
        (r["vehicle_plate"], r["violation_type"])
        for r in P.detect_violations(events, users).collect()
    }
    got_pairs = [(r["vehicle_plate"], r["violation_type"]) for r in got]
    assert set(got_pairs) == want_pairs
    assert len(got_pairs) == len(set(got_pairs)), "a pair paged twice"
    assert len(got_pairs) > 0


def test_funnel_stage_stream_matches_batch(spark, tmp_path):
    """The streaming funnel's final per-user stage equals the batch
    windowed-funnel fold over the same events, fed in event-time order
    across three micro-batches (state must carry stages across batches:
    users are engineered to advance in DIFFERENT files)."""
    import json
    import os
    from datetime import datetime, timedelta

    from inde1_spark.streaming.stateful import funnel_stage_stream

    base = datetime(2024, 3, 1)
    rows = []
    eid = 0

    def ev(user, day_off, typ):
        nonlocal eid
        eid += 1
        return {
            "event_id": eid,
            "ts": (base + timedelta(hours=day_off)).isoformat(),
            "user_id": user,
            "event_type": typ,
            "value": 1.0,
            "props": "{}",
        }

    # user 1: full conversion, each step in a different micro-batch, gaps < 24h
    rows += [ev(1, 0, "signup"), ev(1, 20, "view"), ev(1, 40, "click"),
             ev(1, 42, "purchase")]
    # user 2: view arrives 48h after signup -> window broken, stage stays 1
    rows += [ev(2, 0, "signup"), ev(2, 48, "view")]
    # user 3: never signs up -> stage 0, no rows at all
    rows += [ev(3, 1, "view"), ev(3, 2, "click")]
    # user 4: signup then immediate view (same batch), then stalls
    rows += [ev(4, 0, "signup"), ev(4, 1, "view")]
    rows.sort(key=lambda r: r["ts"])

    data_dir = tmp_path / "funnel_data"
    data_dir.mkdir()
    third = max(1, len(rows) // 3)
    for i in range(3):
        chunk = rows[i * third : (i + 1) * third if i < 2 else len(rows)]
        p = data_dir / f"part-{i}.json"
        p.write_text("\n".join(json.dumps(r) for r in chunk))
        # the file source orders micro-batches by MODIFICATION TIME, not
        # path: pin strictly increasing mtimes so event-time order holds
        # across batches (the documented in-order assumption)
        os.utime(p, (1_000_000 + i * 100, 1_000_000 + i * 100))
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(data_dir))
    )
    got: list = []
    q = (
        funnel_stage_stream(stream)
        .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    final = {}
    for r in got:
        final[r["user_id"]] = max(final.get(r["user_id"], 0), r["stage"])
    assert final == {1: 4, 2: 1, 4: 2}
    # advance rows are strictly increasing per user, one per stage
    per_user = {}
    for r in sorted(got, key=lambda r: (r["user_id"], r["stage"])):
        per_user.setdefault(r["user_id"], []).append(r["stage"])
    assert per_user == {1: [1, 2, 3, 4], 2: [1], 4: [1, 2]}


def test_cusum_alarm_stream_matches_batch_recursion(spark, tmp_path):
    """The streaming CUSUM's closed-day statistics equal the exact batch
    prefix/extrema recursion replayed in Python over the same daily
    counts, with day closures crossing micro-batch boundaries (state
    must carry prefix/extrema across batches). A far-future flush event
    per key closes the final day (availableNow convention)."""
    import json
    import os
    from datetime import datetime, timedelta

    from inde1_spark.streaming.stateful import cusum_alarm_stream

    base = datetime(2024, 3, 1)
    mu, mult = 3, 2
    counts = {
        "view": [3, 3, 8, 9, 7],   # sustained drift -> positive alarms
        "click": [3, 2, 4, 3],     # in control
    }
    rows, eid = [], 0
    for typ, per_day in counts.items():
        for d, n in enumerate(per_day):
            for i in range(n):
                eid += 1
                rows.append(
                    {
                        "event_id": eid,
                        "ts": (base + timedelta(days=d, minutes=i)).isoformat(),
                        "user_id": eid,
                        "event_type": typ,
                        "value": 1.0,
                        "props": "{}",
                    }
                )
    rows.sort(key=lambda r: r["ts"])
    for typ in counts:  # flush: closes each key's final day
        eid += 1
        rows.append(
            {
                "event_id": eid,
                "ts": (base + timedelta(days=365)).isoformat(),
                "user_id": eid,
                "event_type": typ,
                "value": 1.0,
                "props": "{}",
            }
        )

    data_dir = tmp_path / "cusum_data"
    data_dir.mkdir()
    third = max(1, len(rows) // 3)
    for i in range(3):
        chunk = rows[i * third : (i + 1) * third if i < 2 else len(rows)]
        p = data_dir / f"part-{i}.json"
        p.write_text("\n".join(json.dumps(r) for r in chunk))
        # micro-batch order follows mtime, not path (documented invariant)
        os.utime(p, (1_000_000 + i * 100, 1_000_000 + i * 100))
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(data_dir))
    )
    got: list = []
    q = (
        cusum_alarm_stream(stream, mu_per_day=mu, threshold_mult=mult)
        .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    # exact batch recursion replay (the cusum_drift closed form, fixed mu)
    expected = {}
    thr = mult * mu
    for typ, per_day in counts.items():
        prefix = runmin = runmax = 0
        for d, n in enumerate(per_day):
            prefix += n - mu
            runmin, runmax = min(runmin, prefix), max(runmax, prefix)
            cpos = prefix - min(0, runmin)
            cneg = max(0, runmax) - prefix
            day = (base + timedelta(days=d)).strftime("%Y-%m-%d")
            expected[(typ, day)] = (n, cpos, cneg, cpos > thr, cneg > thr)

    got_map = {
        (r["event_type"], r["day"]): (
            r["n_events"],
            r["cusum_pos"],
            r["cusum_neg"],
            r["alarm_pos"],
            r["alarm_neg"],
        )
        for r in got
    }
    assert got_map == expected
    # the engineered drift actually alarms, and only on the drifted key
    assert any(v[3] for k, v in got_map.items() if k[0] == "view")
    assert not any(v[3] or v[4] for k, v in got_map.items() if k[0] == "click")


def test_sprt_stream_matches_batch(spark, tmp_path):
    """The streaming SPRT's closed-day rows equal analytics.sprt_entry_bias
    on the same events (decisions crossing micro-batch boundaries)."""
    import json
    import os
    from datetime import datetime, timedelta

    from inde1_spark.operators.analytics import sprt_entry_bias
    from inde1_spark.streaming.stateful import sprt_stream

    base = datetime(2024, 4, 1)
    # entry-heavy mix so the test actually decides h1 partway through
    counts = [(9, 3), (8, 2), (7, 3), (9, 1), (8, 2), (9, 2)]
    rows, eid = [], 0
    for d, (ne, nx) in enumerate(counts):
        for i in range(ne + nx):
            eid += 1
            rows.append(
                {
                    "event_id": eid,
                    "ts": (base + timedelta(days=d, minutes=i)).isoformat(),
                    "user_id": eid,
                    "event_type": "view" if i < ne else "click",
                    "value": 1.0,
                    "props": "{}",
                }
            )
    rows.sort(key=lambda r: r["ts"])
    eid += 1
    rows.append(  # flush sentinel closes the final day
        {
            "event_id": eid,
            "ts": (base + timedelta(days=365)).isoformat(),
            "user_id": eid,
            "event_type": "view",
            "value": 1.0,
            "props": "{}",
        }
    )
    data_dir = tmp_path / "sprt_data"
    data_dir.mkdir()
    third = max(1, len(rows) // 3)
    for i in range(3):
        chunk = rows[i * third : (i + 1) * third if i < 2 else len(rows)]
        p = data_dir / f"part-{i}.json"
        p.write_text("\n".join(json.dumps(r) for r in chunk))
        os.utime(p, (2_000_000 + i * 100, 2_000_000 + i * 100))
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(data_dir))
    )
    got: list = []
    q = (
        sprt_stream(stream)
        .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    # batch twin over the same rows (without the sentinel day's row, which
    # the stream never closes and the batch table includes)
    batch_df = spark.createDataFrame(
        [
            (
                r["event_id"],
                datetime.fromisoformat(r["ts"]),
                r["user_id"],
                r["event_type"],
                r["value"],
                r["props"],
            )
            for r in rows
        ],
        schema,
    )
    batch = {
        r["day"]: (
            r["n_entry"],
            r["n_exit"],
            r["llr_nano"],
            r["verdict"],
            r["decided"],
        )
        for r in sprt_entry_bias(batch_df).collect()
    }
    got_map = {
        r["day"]: (
            r["n_entry"],
            r["n_exit"],
            r["llr_nano"],
            r["verdict"],
            r["decided"],
        )
        for r in got
    }
    expected = {d: v for d, v in batch.items() if d in got_map}
    assert len(got_map) == len(counts)  # every real day closed
    assert got_map == expected
    assert any(v[3] == "accept_h1" for v in got_map.values())


def test_gap_alarm_stream_matches_batch_missing_hours(spark, tmp_path):
    """The drained gap feed equals the batch missing-hour set per type
    (window_completeness_audit's per-type view), with gaps that cross
    micro-batch boundaries (state carries last_hour across batches)."""
    import json
    import os
    from datetime import datetime, timedelta

    from inde1_spark.streaming.stateful import gap_alarm_stream

    base = datetime(2024, 3, 1)
    hours = {
        "a": [0, 1, 4, 5, 9],  # gaps {2,3} and {6,7,8}
        "b": [2, 3],           # contiguous: no gaps
    }
    rows, eid = [], 0
    for typ, hs in hours.items():
        for h in hs:
            eid += 1
            rows.append(
                {
                    "event_id": eid,
                    "ts": (base + timedelta(hours=h)).isoformat(),
                    "user_id": eid,
                    "event_type": typ,
                    "value": 1.0,
                    "props": "{}",
                }
            )
    rows.sort(key=lambda r: r["ts"])
    data_dir = tmp_path / "gap_data"
    data_dir.mkdir()
    # split so type a's hour-1 -> hour-4 gap straddles a batch boundary
    third = max(1, len(rows) // 3)
    for i in range(3):
        chunk = rows[i * third : (i + 1) * third if i < 2 else len(rows)]
        p = data_dir / f"part-{i}.json"
        p.write_text("\n".join(json.dumps(r) for r in chunk))
        os.utime(p, (1_000_000 + i * 100, 1_000_000 + i * 100))
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(data_dir))
    )
    got: list = []
    q = (
        gap_alarm_stream(stream)
        .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    expected = set()
    for typ, hs in hours.items():
        for g in range(min(hs), max(hs) + 1):
            if g not in hs:
                expected.add(
                    (typ, (base + timedelta(hours=g)).strftime("%Y-%m-%d %H:00"))
                )
    got_set = {(r["event_type"], r["gap_hour"]) for r in got}
    assert got_set == expected
    assert len(got) == len(got_set)  # each missed hour alarmed exactly once


def test_value_drift_stream_matches_python_replay(spark, tmp_path):
    """Closed-day TVD against the fixed reference equals the hand replay,
    with day closures crossing micro-batch boundaries. ref = 50/50 over
    the first two bins; an all-bin-0 day must alarm, a matching day not."""
    import json
    import os
    from datetime import datetime, timedelta

    from inde1_spark.streaming.stateful import value_drift_stream

    base = datetime(2024, 3, 1)
    # day 0 matches the reference exactly; day 1 collapses onto bin 0
    day_values = {0: [10.0, 20.0, 60.0, 70.0], 1: [5.0, 10.0, 15.0, 20.0]}
    rows, eid = [], 0
    for d, vals in day_values.items():
        for i, v in enumerate(vals):
            eid += 1
            rows.append(
                {
                    "event_id": eid,
                    "ts": (base + timedelta(days=d, minutes=i)).isoformat(),
                    "user_id": eid,
                    "event_type": "m",
                    "value": v,
                    "props": "{}",
                }
            )
    eid += 1
    rows.append(  # flush: closes day 1
        {
            "event_id": eid,
            "ts": (base + timedelta(days=365)).isoformat(),
            "user_id": eid,
            "event_type": "m",
            "value": 10.0,
            "props": "{}",
        }
    )
    data_dir = tmp_path / "drift_data"
    data_dir.mkdir()
    third = max(1, len(rows) // 3)
    for i in range(3):
        chunk = rows[i * third : (i + 1) * third if i < 2 else len(rows)]
        p = data_dir / f"part-{i}.json"
        p.write_text("\n".join(json.dumps(r) for r in chunk))
        os.utime(p, (1_000_000 + i * 100, 1_000_000 + i * 100))
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(data_dir))
    )
    got: list = []
    q = (
        value_drift_stream(stream, ref_bins=(1, 1, 0, 0, 0, 0, 0, 0, 0, 0))
        .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got_map = {
        r["day"]: (r["n_events"], r["tvd"], r["drift"]) for r in got
    }
    # day 0: bins {0: 2, 1: 2} vs ref (.5, .5) -> TVD 0, no drift
    assert got_map["2024-03-01"] == (4, 0.0, False)
    # day 1: bins {0: 4} vs ref (.5, .5) -> TVD .5*(|1-.5| + .5) = 0.5
    assert got_map["2024-03-02"] == (4, 0.5, True)
    assert len(got_map) == 2  # flush day itself never closes


def test_schema_drift_stream_matches_contract_replay(spark, tmp_path):
    """Added-key and type-change alarms equal the pure-python contract
    replay, with the drifting events crossing micro-batch boundaries;
    the first event seeds silently; a type flap back re-alarms."""
    import json
    import os
    import re as _re
    from datetime import datetime, timedelta

    from inde1_spark.streaming.stateful import schema_drift_stream

    base = datetime(2024, 3, 1)
    payloads = [
        {"a": 1, "b": "x"},            # seeds: a int, b string (silent)
        {"a": 2, "b": "y"},            # conforming: no alarm
        {"a": 1, "b": 2.5},            # b string -> float: type_changed
        {"a": 1, "b": 3.5, "c": 7},    # c: added
        {"a": 1, "b": "z"},            # b float -> string: flap re-alarms
        # from_json renders |x| >= 1e7 through Double.toString exponent
        # form ('1.23456785E7' -> vtype string, NOT float) — the
        # boundary where Python str() and the batch audit diverge
        # (r10 ADVICE item 3): d must alarm as 'added' with vtype
        # 'string', and a must NOT alarm (int unchanged)
        {"a": 1, "b": "z", "d": 12345678.5},
    ]
    rows = [
        {
            "event_id": i + 1,
            "ts": (base + timedelta(minutes=i)).isoformat(),
            "user_id": i,
            "event_type": "m",
            "value": 1.0,
            "props": json.dumps(p),
        }
        for i, p in enumerate(payloads)
    ]
    data_dir = tmp_path / "schema_data"
    data_dir.mkdir()
    # one event per file, strictly increasing mtimes: every transition
    # crosses a micro-batch boundary
    for i, r in enumerate(rows):
        p = data_dir / f"part-{i}.json"
        p.write_text(json.dumps(r))
        os.utime(p, (1_000_000 + i * 100, 1_000_000 + i * 100))
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(data_dir))
    )
    got: list = []
    q = (
        schema_drift_stream(stream)
        .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # pure-python contract replay (the operator's documented semantics):
    # floats render like java.lang.Double.toString — exponent form
    # (never float-shaped) outside [1e-3, 1e7); in-range Python str()
    # is already the same decimal form
    def vtype(v):
        if isinstance(v, float) and not (
            v == 0.0 or 1e-3 <= abs(v) < 1e7
        ):
            return "string"  # Double.toString exponent form
        s = (
            ("true" if v else "false")
            if isinstance(v, bool)
            else json.dumps(v, separators=(",", ":"))
            if isinstance(v, (dict, list))
            else None
            if v is None
            else str(v)
        )
        if s is not None and _re.fullmatch(r"-?[0-9]+", s):
            return "int"
        if s is not None and _re.fullmatch(r"-?[0-9]*\.[0-9]+", s):
            return "float"
        return "string"

    inv: dict = {}
    expected = []
    for i, p in enumerate(payloads):
        items = sorted((k, vtype(v)) for k, v in p.items())
        if i == 0:
            inv.update(items)
            continue
        for k, vt in items:
            if k not in inv:
                inv[k] = vt
                expected.append(("m", k, vt, None, "added"))
            elif inv[k] != vt:
                expected.append(("m", k, vt, inv[k], "type_changed"))
                inv[k] = vt
    assert [
        (r["event_type"], r["key"], r["vtype"], r["prev_vtype"], r["kind"])
        for r in got
    ] == expected
    # the fixture exercised every alarm kind incl. the flap re-alarm
    # and the Double.toString boundary (d: added as string, not float)
    kinds = [e[4] for e in expected]
    assert kinds == ["type_changed", "added", "type_changed", "added"]
    assert expected[-1] == ("m", "d", "string", None, "added")


def test_orphan_alarm_stream_matches_batch_edge(spark, tmp_path):
    """Unknown and null user keys alarm exactly once per watermark window
    (duplicates suppressed even across micro-batch boundaries); known
    keys never alarm; the alarm set matches fk_integrity_audit's
    events->customer orphan facts on the same data."""
    import json
    import os
    from datetime import datetime, timedelta

    from inde1_spark.operators.analytics import fk_integrity_audit
    from inde1_spark.streaming.pipelines import orphan_alarm_stream

    base = datetime(2024, 3, 1)
    uids = [1, 1, 2, 9, 9, None]
    rows = [
        {
            "event_id": i + 1,
            "ts": (base + timedelta(minutes=i)).isoformat(),
            "user_id": u,
            "event_type": "m",
            "value": 1.0,
            "props": "{}",
        }
        for i, u in enumerate(uids)
    ]
    data_dir = tmp_path / "orphan_data"
    data_dir.mkdir()
    # one event per file, increasing mtimes: the duplicate orphan (second
    # user-9 event) and the null arrive in LATER micro-batches
    for i, r in enumerate(rows):
        p = data_dir / f"part-{i}.json"
        p.write_text(json.dumps(r))
        os.utime(p, (1_000_000 + i * 100, 1_000_000 + i * 100))
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(data_dir))
    )
    customer = spark.createDataFrame(
        [(k, "n", 0) for k in (1, 2, 3)],
        ["c_custkey", "c_name", "c_nationkey"],
    )
    got: list = []
    q = (
        orphan_alarm_stream(stream, customer)
        .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    alarms = sorted(
        ((r["user_id"], r["kind"], r["event_id"]) for r in got),
        key=lambda t: (t[0] is None, t[0] or 0),
    )
    # user 9 alarms once (first occurrence, event 4); the null key once
    assert alarms == [(9, "orphan", 4), (None, "null_key", 6)]

    # batch agreement: the audit counts 2 orphan ROWS for the same edge
    events = spark.createDataFrame(
        [
            (
                r["event_id"],
                base + timedelta(minutes=r["event_id"] - 1),
                r["user_id"],
                "m",
                1.0,
                "{}",
            )
            for r in rows
        ],
        ["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    docs = spark.createDataFrame(
        [(0, "t", "en", "s", 1)], ["doc_id", "text", "lang", "source", "n_chars"]
    )
    emb = spark.createDataFrame([(0, [0.0], 0)], ["vec_id", "embedding", "label"])
    orders = spark.createDataFrame([(10, 1)], ["o_orderkey", "o_custkey"])
    lineitem = spark.createDataFrame([(10, 5)], ["l_orderkey", "l_partkey"])
    part = spark.createDataFrame([(5, "x")], ["p_partkey", "p_name"])
    edge = {
        r["edge_name"]: r
        for r in fk_integrity_audit(
            events, customer, orders, lineitem, part, docs, emb
        ).collect()
    }["events_customer"]
    # 2 orphan rows (both user-9 events), 1 null key; the stream's
    # distinct-key alarms are the deduped view of the same facts
    assert edge["n_orphan_rows"] == 2 and edge["n_null_keys"] == 1


def test_order_integrity_stream_matches_batch_audit(spark, tmp_path):
    """Regression alarms across micro-batch boundaries equal the batch
    audit's adjacent-pair regression count on the same in-order feed;
    frontier events and lags are exact."""
    import json
    import os
    from datetime import datetime, timedelta

    from inde1_spark.operators.analytics import event_order_integrity_audit
    from inde1_spark.streaming.stateful import order_integrity_stream

    base = datetime(2024, 3, 1)
    # (event_id, seconds, user): u1 regresses at id 2; u2 regresses at
    # id 6 (vs the id-5 frontier) then recovers; u3 clean
    fixture = [
        (1, 100, 1), (2, 95, 1), (3, 200, 1),
        (5, 300, 2), (6, 250, 2), (7, 400, 2),
        (8, 100, 3), (9, 150, 3),
    ]
    rows = [
        {
            "event_id": eid,
            "ts": (base + timedelta(seconds=s)).isoformat(),
            "user_id": u,
            "event_type": "m",
            "value": 1.0,
            "props": "{}",
        }
        for eid, s, u in fixture
    ]
    data_dir = tmp_path / "order_data"
    data_dir.mkdir()
    # one event per file, increasing mtimes: every frontier comparison
    # crosses a micro-batch boundary (state does the remembering)
    for i, r in enumerate(rows):
        p = data_dir / f"part-{i}.json"
        p.write_text(json.dumps(r))
        os.utime(p, (1_000_000 + i * 100, 1_000_000 + i * 100))
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(data_dir))
    )
    got: list = []
    q = (
        order_integrity_stream(stream)
        .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    alarms = sorted(
        (r["user_id"], r["event_id"], r["prev_event_id"], r["lag_s"])
        for r in got
    )
    assert alarms == [(1, 2, 1, 5), (2, 6, 5, 50)]

    # batch agreement: the audit counts the same regressions
    events = spark.createDataFrame(
        [
            (eid, base + timedelta(seconds=s), u, "m", 1.0, "{}")
            for eid, s, u in fixture
        ],
        ["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    audit = event_order_integrity_audit(events).collect()[0]
    assert audit["n_ts_regressions"] == len(alarms) == 2
    assert audit["n_users_regressed"] == 2


def test_backlog_monitor_stream_matches_batch_lindley(spark, tmp_path):
    """The live ledger across micro-batch boundaries equals the batch
    Lindley recursion minute for minute; peak/end agree with
    rate_limit_sweep's row at the matching rate; a late arrival joins
    the queue at the frontier minute."""
    import json
    import os
    from datetime import datetime, timedelta

    from inde1_spark.operators.analytics import rate_limit_sweep
    from inde1_spark.streaming.stateful import backlog_monitor_stream

    base = datetime(2024, 3, 1)
    # minute 0: 10 arrivals; minute 1 empty; minute 2: 4 — the
    # rate_limit_sweep edge fixture (total 14, span 3)
    fixture = [(i, i) for i in range(10)] + [
        (100 + i, 120 + i) for i in range(4)
    ]
    rows = [
        {
            "event_id": eid,
            "ts": (base + timedelta(seconds=s)).isoformat(),
            "user_id": 1,
            "event_type": "m",
            "value": 1.0,
            "props": "{}",
        }
        for eid, s in fixture
    ]
    data_dir = tmp_path / "backlog_data"
    data_dir.mkdir()
    # minute 0 split across two files, minute 2 in a third: the gap
    # drain and the running queue cross micro-batch boundaries
    chunks = [rows[:6], rows[6:10], rows[10:]]
    for i, chunk in enumerate(chunks):
        p = data_dir / f"part-{i}.json"
        p.write_text("\n".join(json.dumps(r) for r in chunk))
        os.utime(p, (1_000_000 + i * 100, 1_000_000 + i * 100))
    # a late straggler from minute 0 arrives AFTER minute 2 processed
    p = data_dir / "part-9-late.json"
    p.write_text(json.dumps({**rows[0], "event_id": 999}))
    os.utime(p, (1_000_000 + 900, 1_000_000 + 900))

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(data_dir))
    )
    got: list = []
    q = (
        backlog_monitor_stream(stream, rate_per_min=3)
        .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    base_m = (base - datetime(1970, 1, 1)).days * 1440 + 0
    ledger = [(r["minute"] - base_m, r["arrivals"], r["backlog"]) for r in got]
    # batch-split rows for minute 0: +6 then the remaining 4 under one
    # drain tick (same micro-batch boundary accounting as the state's
    # frontier: first touch pays the drain, the late same-minute rows
    # append at the frontier)
    assert ledger[0] == (0, 6, 3)          # max(0, 6-3)
    assert ledger[1] == (0, 4, 7)          # frontier append: 3+4
    assert ledger[2] == (2, 4, 5)          # gap drain 7->4, +4, -3
    assert ledger[3] == (2, 1, 6)          # late straggler at frontier
    # rate_limit_sweep at pct=50 derives the same R=3 on this corpus:
    # its peak/end must match the in-order prefix of the ledger
    batch = {
        r["rate_pct"]: r
        for r in rate_limit_sweep(
            spark.createDataFrame(
                [
                    (r["event_id"], datetime.fromisoformat(r["ts"]), 1, "m", 1.0, "{}")
                    for r in rows
                ],
                "event_id long, ts timestamp, user_id long, event_type string,"
                " value double, props string",
            )
        ).collect()
    }
    assert batch[50]["rate_per_min"] == 3
    assert batch[50]["peak_backlog"] == 7 == max(b for _, _, b in ledger[:3])
    # drain_min prices the ledger's in-order end state (backlog 5 at R=3)
    assert batch[50]["drain_min"] == 2


def test_ttl_refetch_stream_matches_batch_sweep(spark, tmp_path):
    """Compulsory/refetch rows across micro-batch boundaries equal the
    batch TTL sweep's n_keys / n_refetch at the same TTL; the == TTL
    boundary stays fresh; gaps are exact."""
    import json
    import os
    from datetime import datetime, timedelta

    from inde1_spark.operators.analytics import ttl_staleness_sweep
    from inde1_spark.streaming.stateful import ttl_refetch_stream

    base = datetime(2024, 3, 1)
    # the ttl_staleness_sweep edge fixture: user 1 gaps 100/400, user 2
    # single touch, user 3 gap EXACTLY 60 (fresh at ttl=60)
    fixture = [
        (1, 1, 0), (2, 1, 100), (3, 1, 500),
        (4, 2, 50),
        (5, 3, 1000), (6, 3, 1060),
    ]
    rows = [
        {
            "event_id": eid,
            "ts": (base + timedelta(seconds=s)).isoformat(),
            "user_id": u,
            "event_type": "m",
            "value": 1.0,
            "props": "{}",
        }
        for eid, u, s in fixture
    ]
    data_dir = tmp_path / "ttl_data"
    data_dir.mkdir()
    # one event per file, increasing mtimes: every gap comparison
    # crosses a micro-batch boundary (state does the remembering)
    for i, r in enumerate(rows):
        p = data_dir / f"part-{i}.json"
        p.write_text(json.dumps(r))
        os.utime(p, (1_000_000 + i * 100, 1_000_000 + i * 100))
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(data_dir))
    )
    got: list = []
    q = (
        ttl_refetch_stream(stream, ttl_s=60)
        .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    comp = sorted(r["user_id"] for r in got if r["kind"] == "compulsory")
    refetch = sorted(
        (r["user_id"], r["event_id"], r["gap_s"])
        for r in got
        if r["kind"] == "refetch"
    )
    assert comp == [1, 2, 3]
    assert refetch == [(1, 2, 100), (1, 3, 400)]  # gap == 60 stays fresh
    for r in got:
        assert (r["gap_s"] is None) == (r["kind"] == "compulsory")

    batch = {
        r["ttl_s"]: r
        for r in ttl_staleness_sweep(
            spark.createDataFrame(
                [
                    (r["event_id"], datetime.fromisoformat(r["ts"]), r["user_id"], "m", 1.0, "{}")
                    for r in rows
                ],
                "event_id long, ts timestamp, user_id long, event_type string,"
                " value double, props string",
            )
        ).collect()
    }
    assert batch[60]["n_keys"] == len(comp)
    assert batch[60]["n_refetch"] == len(refetch)


def test_backlog_and_ttl_streams_restart_from_checkpoint(spark, tmp_path):
    """Restart contract for the keyed monitors: after a stop, a new file
    drains against the CHECKPOINTED state — the backlog frontier, the TTL
    last-touch and the array-typed Misra-Gries and schema-inventory states
    survive, and already-emitted rows never re-emit."""
    import json
    import os
    from collections import Counter
    from datetime import datetime, timedelta

    from inde1_spark.streaming.stateful import (
        backlog_monitor_stream,
        schema_drift_stream,
        space_saving_stream,
        ttl_refetch_stream,
    )

    base = datetime(2024, 3, 1)

    def row(eid, sec, user_id=1, props="{}"):
        return {
            "event_id": eid,
            "ts": (base + timedelta(seconds=sec)).isoformat(),
            "user_id": user_id,
            "event_type": "m",
            "value": 1.0,
            "props": props,
        }

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )

    def drain(builder, data_dir, ckpt):
        got: list = []
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(data_dir))
        )
        q = (
            builder(stream)
            .writeStream.foreachBatch(lambda df, _id: got.extend(df.collect()))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return got

    # ---- backlog monitor: burst of 10 at minute 0, R=3 ----
    bdir, bckpt = tmp_path / "bl_data", tmp_path / "bl_ckpt"
    bdir.mkdir()
    p = bdir / "part-0.json"
    p.write_text("\n".join(json.dumps(row(i, i)) for i in range(10)))
    os.utime(p, (1_000_000, 1_000_000))
    first = drain(
        lambda s: backlog_monitor_stream(s, rate_per_min=3), bdir, bckpt
    )
    assert [(r["arrivals"], r["backlog"]) for r in first] == [(10, 7)]
    # restart with 4 arrivals at minute 2: gap drain 7->4, +4, -3 = 5
    p = bdir / "part-1.json"
    p.write_text("\n".join(json.dumps(row(100 + i, 120 + i)) for i in range(4)))
    os.utime(p, (1_000_100, 1_000_100))
    second = drain(
        lambda s: backlog_monitor_stream(s, rate_per_min=3), bdir, bckpt
    )
    assert [(r["arrivals"], r["backlog"]) for r in second] == [(4, 5)]

    # ---- ttl monitor: first touch, then a 100 s gap at ttl=60 ----
    tdir, tckpt = tmp_path / "ttl_data", tmp_path / "ttl_ckpt"
    tdir.mkdir()
    p = tdir / "part-0.json"
    p.write_text(json.dumps(row(1, 0)))
    os.utime(p, (1_000_000, 1_000_000))
    first = drain(lambda s: ttl_refetch_stream(s, ttl_s=60), tdir, tckpt)
    assert [(r["kind"], r["gap_s"]) for r in first] == [("compulsory", None)]
    p = tdir / "part-1.json"
    p.write_text(json.dumps(row(2, 100)))
    os.utime(p, (1_000_100, 1_000_100))
    second = drain(lambda s: ttl_refetch_stream(s, ttl_s=60), tdir, tckpt)
    # the checkpointed last-touch makes this a refetch, not a compulsory
    assert [(r["kind"], r["gap_s"]) for r in second] == [("refetch", 100)]

    def restarted(name, builder, files):
        """Drain each file after a restart, then check the rows equal one
        uninterrupted drain of all files; returns each restart's rows."""
        data = tmp_path / f"{name}_data"
        data.mkdir()
        runs = []
        for i, rows in enumerate(files):
            p = data / f"part-{i}.json"
            p.write_text("\n".join(json.dumps(r) for r in rows))
            os.utime(p, (1_000_000 + 100 * i, 1_000_000 + 100 * i))
            runs.append(drain(builder, data, tmp_path / f"{name}_ckpt"))
        whole = drain(builder, data, tmp_path / f"{name}_ckpt_whole")
        assert Counter(r for run in runs for r in run) == Counter(whole)
        return runs

    # ---- Misra-Gries, array<long> state: capacity 2, one shard ----
    _, second = restarted(
        "mg",
        lambda s: space_saving_stream(s, capacity=2, n_shards=1),
        [
            [row(i, i, user_id=u) for i, u in enumerate([1, 1, 1, 2, 2, 3])],
            [row(10 + i, 60 + i, user_id=u) for i, u in enumerate([2, 2, 2, 4])],
        ],
    )
    # {1: 2, 2: 1} after file 0 (dec 1) + {2: 3, 4: 1} -> {1: 1, 2: 3}, dec 2
    assert sorted(
        (r["user_id"], r["est_count"], r["err_bound"]) for r in second
    ) == [(1, 1, 2), (2, 3, 2)]

    # ---- schema drift, array<string> + boolean state ----
    _, second = restarted(
        "schema",
        schema_drift_stream,
        [
            [row(1, 0, props='{"a": 1}'), row(2, 1, props='{"a": 1, "b": "x"}')],
            [row(3, 60, props='{"a": "y", "b": "z"}')],
        ],
    )
    # the checkpointed inventory (seeded, a:int) alarms; a lost one would
    # seed silently on this event
    assert [
        (r["key"], r["vtype"], r["prev_vtype"], r["kind"]) for r in second
    ] == [("a", "string", "int", "type_changed")]


def test_window_stream_restarts_at_the_checkpointed_width(spark, tmp_path):
    """A stateful stream keeps the shuffle width of its first checkpoint:
    a window drain written at width 32 restarts at 32 under a session of
    any other width, reads its state back and still totals like batch."""
    events, _, _ = to_spark(spark, FIXTURE)
    times = sorted(e["ts"].replace(tzinfo=None) for e in FIXTURE.events)
    cut = times[len(times) // 2]
    data_dir, ckpt = tmp_path / "data", tmp_path / "ckpt"
    data_dir.mkdir()
    width = "spark.sql.shuffle.partitions"

    def drain(at_width=None):
        got: dict = {}

        def keep(df, _id):
            for r in df.collect():
                got[(r["window_start"], r["parking_lot_id"])] = (
                    r["nbr_entries"], r["nbr_exit"], r["occupancy"])

        stream = (
            spark.readStream.schema(PARKING_EVENT_FLAT)
            .option("maxFilesPerTrigger", 1)
            .json(str(data_dir))
        )
        writer = (
            windowed_stats_stream(stream)
            .writeStream.outputMode("update")
            .foreachBatch(keep)
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
        )
        saved = spark.conf.get(width)
        if at_width is not None:
            spark.conf.set(width, str(at_width))
        try:
            q = writer.start()  # the query clones the session conf here
        finally:
            spark.conf.set(width, saved)
        q.awaitTermination(300)
        assert q.exception() is None
        return got, [p for p in q.recentProgress if p["numInputRows"] > 0]

    def write(i, part):
        (data_dir / f"part-{i}.json").write_text(
            "\n".join(events.filter(part).toJSON().collect())
        )

    # file 1 holds the events before the cut and file 2 the rest, so no
    # event of file 2 falls behind file 1's watermark
    write(0, F.col("ts") < cut)
    first, _ = drain(at_width=32)
    write(1, F.col("ts") >= cut)
    second, progress = drain()

    assert progress
    assert progress[0]["stateOperators"][0]["numShufflePartitions"] == 32
    # the window around the cut was updated on both sides of the restart
    assert first.keys() & second.keys()
    want = {
        (r["window_start"], r["parking_lot_id"]):
            (r["nbr_entries"], r["nbr_exit"], r["occupancy"])
        for r in windowed_stats_stream(
            spark.read.schema(PARKING_EVENT_FLAT).json(str(data_dir))
        ).collect()
    }
    assert {**first, **second} == want


def test_state_functions_pickle_by_value(spark, tmp_path, monkeypatch):
    """Every keyed-state builder's state function is shipped by value:
    it loads in a fresh interpreter that cannot import this package, and
    loading imports none of it (executors need no ``inde1_spark`` on
    their PYTHONPATH)."""
    import inspect
    import subprocess

    from pyspark import cloudpickle
    from pyspark.sql.pandas.group_ops import PandasGroupedOpsMixin

    from inde1_spark.streaming import stateful

    captured: list = []
    original = PandasGroupedOpsMixin.applyInPandasWithState

    def capture(self, func, *args, **kwargs):
        captured.append(func)
        return original(self, func, *args, **kwargs)

    monkeypatch.setattr(
        PandasGroupedOpsMixin, "applyInPandasWithState", capture
    )
    events = spark.createDataFrame(
        [],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string, license_plate string, "
        "parking_lot_id string, parking_spot_id string",
    )
    builders = [
        f for name, f in inspect.getmembers(stateful, inspect.isfunction)
        if name.endswith("_stream") and f.__module__ == stateful.__name__
    ]
    paths = []
    for builder in builders:
        captured.clear()
        builder(events)
        assert len(captured) == 1, builder.__name__
        path = tmp_path / f"{builder.__name__}.pkl"
        path.write_bytes(cloudpickle.dumps(captured[0]))
        paths.append(str(path))
    assert len(paths) == 11

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and not os.path.abspath(p).startswith(repo)
    )
    load = (
        "import pickle, sys\n"
        "for p in sys.argv[1:]:\n"
        "    with open(p, 'rb') as f:\n"
        "        pickle.load(f)\n"
        "print(sorted(m for m in sys.modules if m.startswith('inde1_spark')))\n"
    )
    res = subprocess.run(
        [sys.executable, "-c", load, *paths],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert res.returncode == 0, res.stderr
    assert res.stdout.strip() == "[]"
