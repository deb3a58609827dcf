"""The ``parking_replay`` workload.

One round replays a ``datagen.parking.generate`` fixture through four
streaming drains, one after another, each from a fresh checkpoint and sink
(closed loop, one client: a file source with ``maxFilesPerTrigger=1`` and
``availableNow``):

- ``alerts``: ``alert_stream`` + ``with_severity`` into a collector,
- ``slots``: ``SlotStateSink``,
- ``docs``: ``RedisJsonSink``,
- ``window``: ``windowed_stats_stream`` (update mode) into a collector; the
  only stateful drain, run last so its state-store maintenance cannot delay
  the others,

then the hourly, daily and weekly ``jobs`` over the gzip archive partitioned
by hour. Neither the operators' build layer nor heavy execution matters
here: time goes to per-micro-batch overhead, the foreachBatch sinks, the
state store and small-file JSON scans, and this is the only workload that
writes (checkpoints, state, sink stores).
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time
from collections import Counter, defaultdict
from datetime import datetime, timedelta, timezone

from inputs import write_replay

DRAINS = ("alerts", "slots", "docs", "window")
JOBS = ("hourly", "daily", "weekly")
# 600 sessions are about 1,230 events over 14 hours: three replay files of
# about 410 events (three micro-batches per drain) and about 15 hourly
# archive files. The file count is fixed so every seed runs the same
# number of micro-batches.
SESSIONS = 600
REPLAY_FILES = 3
HOUR_WINDOW = ("2025-06-01 00:00:00", "2025-07-01 00:00:00")
DAY = "2025-06-01"
WEEK = ("2025-22", "2025-06-01 00:00:00", "2025-06-08 00:00:00")


def _rows(rows) -> list[str]:
    return sorted(json.dumps(r.asDict(recursive=True), default=str, sort_keys=True)
                  for r in rows)


def _ms(t: datetime) -> int:
    return (t - datetime(1970, 1, 1, tzinfo=timezone.utc)) // timedelta(milliseconds=1)


def job_twins(events: list[dict]) -> tuple[dict, dict]:
    """What ``run_daily_job`` and ``run_weekly_job`` should write for the
    fixture's ``events``, computed in plain Python: the time series
    ``{key: {ts_ms: value}}`` of both jobs and the weekly revenue-by-type
    document. Revenue follows the jobs' duration model: an exit closes the
    immediately preceding entry of the same (plate, lot, spot), and a
    session of ``m`` minutes earns ``m * 2 / 60``."""
    rate = 2.0
    valid = [e for e in events if e["event_type"] in ("PARKING_ENTRY", "PARKING_EXIT")]
    series: dict[str, dict[int, float]] = defaultdict(dict)

    # daily: cumulative entries, exits and entries x rate, one point per hour
    hours = Counter((e["ts"].replace(minute=0, second=0, microsecond=0), e["event_type"])
                    for e in valid if e["ts"].strftime("%Y-%m-%d") == DAY)
    entries = exits = 0
    key = f"parking-events:daily:{DAY}:timeseries:"
    for h in sorted({h for h, _ in hours}):
        entries += hours[(h, "PARKING_ENTRY")]
        exits += hours[(h, "PARKING_EXIT")]
        series[key + "entries"][_ms(h)] = float(entries)
        series[key + "exits"][_ms(h)] = float(exits)
        series[key + "revenue_simulation"][_ms(h)] = entries * rate

    # weekly: per day entries, exits, revenue and average spend per type
    week, start, end = WEEK
    lo, hi = (datetime.fromisoformat(t).replace(tzinfo=timezone.utc) for t in (start, end))
    win = sorted((e for e in valid if lo <= e["ts"] < hi), key=lambda e: e["ts"])
    last: dict[tuple, dict] = {}
    sessions = []  # (entry day, vehicle type, minutes)
    for e in win:
        k = (e["license_plate"], e["parking_lot_id"], e["parking_spot_id"])
        prev = last.get(k)
        if e["event_type"] == "PARKING_EXIT" and prev and prev["event_type"] == "PARKING_ENTRY":
            sessions.append((prev["ts"].date(), e["vehicle_type"],
                             (_ms(e["ts"]) - _ms(prev["ts"])) / 60_000.0))
        last[k] = e
    day_ms = {d: _ms(datetime(d.year, d.month, d.day, tzinfo=timezone.utc))
              for d in {e["ts"].date() for e in win}}
    key = f"parking-stats:weekly:{week}:"
    for d, ms in day_ms.items():
        evs = [e for e in win if e["ts"].date() == d]
        series[key + "entries"][ms] = float(sum(e["event_type"] == "PARKING_ENTRY" for e in evs))
        series[key + "exits"][ms] = float(sum(e["event_type"] == "PARKING_EXIT" for e in evs))
        series[key + "revenue"][ms] = round(
            sum(m for sd, _, m in sessions if sd == d) * rate / 60, 4)
    by_day_type: dict[tuple, list[float]] = defaultdict(list)
    for d, vt, m in sessions:
        by_day_type[(d, vt)].append(m)
    revenue_by_type: dict[str, float] = defaultdict(float)
    for (d, vt), ms_ in by_day_type.items():
        series[key + f"avgspent:{vt}"][day_ms[d]] = round(sum(ms_) / len(ms_) * rate / 60, 4)
        revenue_by_type[vt] += round(sum(ms_) * rate / 60, 4)
    return dict(series), {vt: round(v, 4) for vt, v in revenue_by_type.items()}


def _close(got: dict, want: dict) -> bool:
    """Same keys, and numbers equal up to the last of the four decimals the
    jobs round to (the jobs sum in decimal, the twin in binary floats)."""
    if got.keys() != want.keys():
        return False
    for k, w in want.items():
        g = got[k]
        if isinstance(w, dict):
            if not _close(g, w):
                return False
        elif not math.isclose(g, w, rel_tol=1e-9, abs_tol=2e-4):
            return False
    return True


def _doc_fields(doc: str) -> dict:
    d = json.loads(doc)
    return {k: d[k] for k in ("date", "hour", "nbr_entries", "nbr_exit",
                              "occupancy", "revenue_simulation", "vehicle_types")}


class ParkingWorkload:
    def __init__(self) -> None:
        self.replays: dict = {}  # data dir -> Replay written there

    def write_inputs(self, seed: int, data_dir: str) -> None:
        """Generate this seed's fixture and write the replay files, the
        archive and the warm-up file; not timed."""
        from inde1_spark.datagen.parking import generate

        self.fixture = generate(n_sessions=SESSIONS, seed=seed)
        replay = write_replay(data_dir, self.fixture.events, REPLAY_FILES)
        # the warm-up replays the first file only
        os.makedirs(os.path.join(data_dir, "warm"))
        shutil.copy2(replay.files[0], os.path.join(data_dir, "warm"))
        self.replays[data_dir] = replay

    def open(self, ctx, data_dir: str) -> None:
        """Open the users table and the archive through the program's
        readers; timed as part of set-up."""
        from inde1_spark.schemas import USER
        from inde1_spark.sources.readers import read_parking_events_json

        spark = ctx.spark
        self.replay = self.replays[data_dir]
        self.warm_dir = os.path.join(data_dir, "warm")
        self.ck_root = os.path.join(data_dir, "ck")
        self.round_id = 0
        self.users = spark.createDataFrame(
            [tuple(u.values()) for u in self.fixture.users], USER)
        self.archive = read_parking_events_json(spark, self.replay.archive_glob)

    # -- one round --------------------------------------------------------

    def _stream(self, ctx, path: str):
        from inde1_spark.schemas import PARKING_EVENT_WIRE
        from inde1_spark.sources.readers import flatten_parking_events

        return flatten_parking_events(
            ctx.spark.readStream.schema(PARKING_EVENT_WIRE)
            .option("maxFilesPerTrigger", 1).json(path))

    def _drain(self, ctx, name: str, path: str, parent) -> dict:
        """Run one drain to completion; returns its wall time, progress
        reports, per-batch sink times and final output."""
        from inde1_spark.streaming.pipelines import (
            RedisJsonSink, SlotStateSink, alert_stream, windowed_stats_stream,
            with_severity)

        sink_s: dict[int, tuple[float, float]] = {}

        def timed(fn):
            def wrapped(df, batch_id):
                t0 = time.perf_counter()
                fn(df, batch_id)
                sink_s[batch_id] = (t0, time.perf_counter())
            return wrapped

        stream = self._stream(ctx, path)
        if name == "alerts":
            out: list = []
            writer = with_severity(alert_stream(stream, self.users)).writeStream \
                .foreachBatch(timed(lambda df, _id: out.extend(df.collect())))
        elif name == "slots":
            sink = SlotStateSink()
            sink.process_batch = timed(sink.process_batch)
            writer, out = sink.writer(stream), sink
        elif name == "docs":
            sink = RedisJsonSink()
            sink.process_batch = timed(sink.process_batch)
            writer, out = sink.writer(stream), sink
        else:
            out = {}

            def keep(df, _id):
                for r in df.collect():
                    out[(str(r["window_start"]), r["parking_lot_id"])] = (
                        r["nbr_entries"], r["nbr_exit"], r["occupancy"])
            writer = windowed_stats_stream(stream).writeStream.outputMode("update") \
                .foreachBatch(timed(keep))
        self.round_id += 1
        ck = os.path.join(self.ck_root, f"{name}-{self.round_id}")
        with ctx.tracer.span("drain", parent, drain=name) as dspan:
            t0 = time.perf_counter()
            q = writer.option("checkpointLocation", ck).trigger(availableNow=True).start()
            q.awaitTermination()
            wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(f"drain {name} failed: {q.exception()}")
        # no-data batches (watermark advances) carry no file; leave them out
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        sinks = [sink_s[p["batchId"]] for p in progress if p["batchId"] in sink_s]
        if ctx.tracer.enabled:
            for p in progress:
                b0 = ctx.perf_time(p["timestamp"])
                b = ctx.tracer.add("micro-batch", b0,
                                   b0 + p["durationMs"]["triggerExecution"] / 1000,
                                   dspan, batch=p["batchId"])
                if p["batchId"] in sink_s:
                    ctx.tracer.add("sink", *sink_s[p["batchId"]], b)
        return {"wall": wall, "progress": progress, "sink_s": sinks, "out": out}

    def _jobs(self, ctx, parent) -> dict:
        from inde1_spark.jobs import run_daily_job, run_hourly_job, run_weekly_job
        from inde1_spark.streaming.pipelines import RedisJsonSink, RedisTimeSeriesSink

        sc = ctx.spark.sparkContext
        json_sink, ts_sink = RedisJsonSink(), RedisTimeSeriesSink()
        walls = {}
        with ctx.tracer.span("job set", parent) as set_span:
            for job in JOBS:
                sc.setJobGroup(f"{ctx.tag}:job:{job}", job)
                with ctx.tracer.span("job", set_span, job=job):
                    t0 = time.perf_counter()
                    if job == "hourly":
                        run_hourly_job(self.archive, *HOUR_WINDOW, json_sink)
                    elif job == "daily":
                        run_daily_job(self.archive, DAY, ts_sink)
                    else:
                        run_weekly_job(self.archive, *WEEK, ts_sink, json_sink)
                    walls[job] = time.perf_counter() - t0
            sc.setJobGroup(f"{ctx.tag}:idle", "idle")
        docs = {k: v for k, v in json_sink.store.items() if ":hourly:" in k}
        weekly_doc = json.loads(json_sink.store[f"parking-stats:weekly:{WEEK[0]}:revenue-by-type"])
        return {"walls": walls, "hourly_docs": docs, "series": ts_sink.series,
                "weekly_doc": weekly_doc}

    def _round(self, ctx, path: str, parent) -> dict:
        drains = {d: self._drain(ctx, d, path, parent) for d in DRAINS}
        jobs = self._jobs(ctx, parent)
        return {"drains": drains, "jobs": jobs}

    # -- correctness ------------------------------------------------------

    def _twins(self, ctx) -> dict:
        """Batch twins of every streaming output, on the archive, which
        holds the same events as the replay files."""
        from inde1_spark.operators.parking import detect_violations, slot_state
        from inde1_spark.streaming.pipelines import windowed_stats_stream, with_severity

        ev = self.archive.cache()
        twins = {
            "alerts": _rows(with_severity(detect_violations(ev, self.users)).collect()),
            "slots": {r["slot_key"]: {"occupied": r["occupied"], "lot": r["lot"],
                                      "plate": r["plate"], "updated_at": r["updated_at"]}
                      for r in slot_state(ev).collect()},
            "window": {(str(r["window_start"]), r["parking_lot_id"]):
                       (r["nbr_entries"], r["nbr_exit"], r["occupancy"])
                       for r in windowed_stats_stream(ev).collect()},
        }
        ev.unpersist()
        twins["series"], twins["weekly_doc"] = job_twins(self.fixture.events)
        return twins

    def _check(self, ctx, rnd: dict, twins: dict) -> int:
        """Number of this round's operations whose output is wrong."""
        d, bad = rnd["drains"], []
        if _rows(d["alerts"]["out"]) != twins["alerts"]:
            bad.append("alerts")
        if d["slots"]["out"].snapshot() != twins["slots"]:
            bad.append("slots")
        got = {k: _doc_fields(v) for k, v in d["docs"]["out"].store.items()}
        want = {k: _doc_fields(v) for k, v in rnd["jobs"]["hourly_docs"].items()}
        if got != want:
            bad.append("docs")
        if d["window"]["out"] != twins["window"]:
            bad.append("window")
        jobs = rnd["jobs"]
        for job, prefix in (("daily", "parking-events:daily:"),
                            ("weekly", "parking-stats:weekly:")):
            got = {k: v for k, v in jobs["series"].items() if k.startswith(prefix)}
            want = {k: v for k, v in twins["series"].items() if k.startswith(prefix)}
            if job == "weekly":
                got["revenue-by-type"] = jobs["weekly_doc"]
                want["revenue-by-type"] = twins["weekly_doc"]
            if not _close(got, want):
                bad.append(job)
        for b in bad:
            ctx.log(f"parking_replay: {b} output differs from its batch twin")
        return len(bad)

    # -- workload ---------------------------------------------------------

    def warm_up(self, ctx) -> dict:
        """One round over the first replay file; returns the twins the timed
        rounds are checked against."""
        ctx.tag = "warm"
        self._round(ctx, self.warm_dir, None)
        return self._twins(ctx)

    def measure(self, ctx, seconds: float, twins: dict) -> dict:
        rounds, attempted, failed = [], 0, 0
        start = time.perf_counter()
        ctx.measure_start_ms = time.time() * 1000
        while not rounds or time.perf_counter() - start < seconds:
            ctx.tag = f"p{len(rounds)}"
            with ctx.tracer.span("pass", ctx.run_span, index=len(rounds)) as pspan:
                t0 = time.perf_counter()
                rnd = self._round(ctx, self.replay.stream_dir, pspan)
                rnd["wall"] = time.perf_counter() - t0
            ctx.log(f"round {len(rounds)}: {rnd['wall']:.3f} s")
            attempted += len(DRAINS) + len(JOBS)
            failed += self._check(ctx, rnd, twins)
            rounds.append(rnd)
        ctx.measure_end_ms = time.time() * 1000
        per_op = [statistics.median(r["drains"][d]["wall"] for r in rounds) for d in DRAINS]
        per_op += [statistics.median(r["jobs"]["walls"][j] for r in rounds) for j in JOBS]
        return {"attempted": attempted, "failed": failed,
                "passes": [r["wall"] for r in rounds], "per_query_s": per_op,
                "rounds": rounds}

    def layers(self, result: dict) -> dict[str, float]:
        """Per-layer figures of the measured rounds (medians over rounds or
        micro-batches)."""
        rounds = result["rounds"]
        med = statistics.median
        out: dict[str, float] = {
            "streaming.events_per_s": med(
                self.replay.events / sum(r["drains"][d]["wall"] for d in DRAINS)
                for r in rounds),
            "sources.archive_files": self.replay.archive_files,
            "streaming.batches": sum(len(r["drains"][d]["progress"])
                                     for r in rounds for d in DRAINS),
        }
        for job in JOBS:
            out[f"jobs.{job}_ms"] = med(r["jobs"]["walls"][job] * 1000 for r in rounds)
        keys = {"add_batch_ms": "addBatch", "latest_offset_ms": "latestOffset",
                "planning_ms": "queryPlanning", "wal_commit_ms": "walCommit",
                "commit_ms": "commitOffsets"}
        for d in DRAINS:
            prog = [p for r in rounds for p in r["drains"][d]["progress"]]
            out[f"streaming.batch_p50_ms.{d}"] = med(
                p["durationMs"]["triggerExecution"] for p in prog)
            for name, key in keys.items():
                out[f"streaming.{name}.{d}"] = med(p["durationMs"].get(key, 0) for p in prog)
            out[f"streaming.sink_ms.{d}"] = med(
                (s1 - s0) * 1000 for r in rounds for s0, s1 in r["drains"][d]["sink_s"])
        state = [p["stateOperators"][0] for r in rounds
                 for p in r["drains"]["window"]["progress"] if p["stateOperators"]]
        out["state.rows_total"] = med(s["numRowsTotal"] for s in state)
        out["state.memory_bytes"] = med(s["memoryUsedBytes"] for s in state)
        out["state.commit_ms"] = med(s["commitTimeMs"] for s in state)
        out["state.rows_dropped"] = sum(s["numRowsDroppedByWatermark"] for s in state)
        return out
