"""Tests of the benchmark's pure parts; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from datetime import datetime, timedelta, timezone

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import inputs  # noqa: E402
import parking  # noqa: E402
import run  # noqa: E402
from stats import (geomean, nearest_rank, quartile_spread, tail_percentile,  # noqa: E402
                   valid_name, valid_unit)


# -- percentile rule ---------------------------------------------------------

def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(list(range(19))) is None
    assert tail_percentile(list(range(20))) == (50.0, 9)
    assert tail_percentile(list(range(40)))[0] == 75.0
    assert tail_percentile(list(range(100))) == (90.0, 89)
    assert tail_percentile(list(range(199)))[0] == 90.0
    assert tail_percentile(list(range(200)))[0] == 95.0
    assert tail_percentile(list(range(1000)))[0] == 99.0


def test_tail_percentile_is_order_free():
    vals = [5.0, 1.0, 9.0, 3.0] * 10
    assert tail_percentile(vals) == tail_percentile(sorted(vals))


def test_nearest_rank():
    assert nearest_rank([3, 1, 2], 50) == 2
    assert nearest_rank([3, 1, 2], 100) == 3
    with pytest.raises(ValueError):
        nearest_rank([], 50)


# -- geomean and spread ------------------------------------------------------

def test_geomean():
    assert geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert geomean([7.0]) == pytest.approx(7.0)
    with pytest.raises(ValueError):
        geomean([])
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    q1, med, q3 = 11.75, 14.5, 17.25
    assert quartile_spread(vals) == pytest.approx((q3 - q1) / med)


# -- event-log parser --------------------------------------------------------

def _log_lines():
    def task(stage, launch, finish, run_ms, deser=0, gc=0, sr=0, sw=0, spill=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": launch, "Finish Time": finish,
                              "Getting Result Time": 0},
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Executor Deserialize Time": deser,
                                 "Result Serialization Time": 0, "JVM GC Time": gc,
                                 "Disk Bytes Spilled": spill,
                                 "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                          "Local Bytes Read": sr},
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": sw}}}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "p0:q:action"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "p0:q:build"}},
        task(0, 1000, 1030, 20, deser=5, sw=100),
        task(0, 1000, 1012, 10, sw=50),
        task(1, 1100, 1200, 90, gc=7, sr=150, spill=64),
        task(1, 1100, 1130, 30),
        task(1, 1100, 1130, 30),
        task(2, 5000, 5010, 10),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": 1000, "Completion Time": 1040}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Submission Time": 1100, "Completion Time": 1210}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 2, "Submission Time": 5000, "Completion Time": 5011}},
        {"Event": "SparkListenerApplicationEnd", "Timestamp": 6000},
    ]
    return [json.dumps(e) for e in events] + [""]


def test_event_log_by_group():
    a = eventlog.parse(_log_lines()).by_group("p0:q:action")
    assert (a.jobs, a.stages, a.tasks) == (1, 2, 5)
    assert a.task_run_ms == 180
    # launch-to-finish minus deserialize, run and serialize time
    assert a.sched_delay_ms == (30 - 25) + (12 - 10) + 10 + 0 + 0
    assert a.gc_ms == 7
    assert (a.shuffle_read_bytes, a.shuffle_write_bytes, a.spill_bytes) == (150, 150, 64)
    assert a.task_skew == pytest.approx(90 / 30)  # stage 1 is the slowest
    assert a.core_busy_ratio(wall_ms=90, cores=2) == pytest.approx(1.0)


def test_event_log_interval_and_unknown_group():
    log = eventlog.parse(_log_lines())
    b = log.in_interval(4000, 6000)
    assert (b.jobs, b.tasks, b.task_run_ms) == (1, 1, 10)
    assert log.by_group("nope").jobs == 0


# -- replay writer -----------------------------------------------------------

def _events(n):
    t0 = datetime(2025, 6, 1, 23, 50, tzinfo=timezone.utc)
    return [{"event_type": "PARKING_ENTRY" if i % 2 == 0 else "PARKING_EXIT",
             "ts": t0 + timedelta(minutes=3 * i), "license_plate": f"AB-{i:03d}-CD",
             "vehicle_type": "car", "color": "red", "parking_lot_id": "lot-01",
             "parking_spot_id": str(10 + i), "is_slot_handicapped": i % 3 == 0,
             "duration_ms": None if i % 2 == 0 else 6000} for i in range(n)]


def test_replay_files_have_strictly_increasing_mtimes(tmp_path):
    rp = inputs.write_replay(str(tmp_path), _events(25), n_files=7)
    assert len(rp.files) == 7 and rp.events == 25
    sizes = [sum(1 for _ in open(f)) for f in rp.files]
    assert sum(sizes) == 25 and max(sizes) - min(sizes) <= 1
    mtimes = [os.stat(f).st_mtime for f in rp.files]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:]))
    by_mtime = sorted(os.listdir(rp.stream_dir),
                      key=lambda f: os.stat(os.path.join(rp.stream_dir, f)).st_mtime)
    assert [os.path.join(rp.stream_dir, f) for f in by_mtime] == rp.files
    first = json.loads(open(rp.files[0]).readline())
    assert first["timestamp"] == "2025-06-01T23:50:00.000Z"
    assert "duration" not in first and first["vehicle"]["licensePlate"] == "AB-000-CD"


def test_replay_archive_is_one_file_per_event_hour(tmp_path):
    rp = inputs.write_replay(str(tmp_path), _events(25), n_files=3)
    # 23:50 + 3 min * 24 = 01:02 the next day: hours 23, 00 and 01
    assert rp.archive_files == 3
    assert os.path.isfile(tmp_path / "archive" / "2025" / "06" / "02" / "00" / "part-000.json.gz")


def test_tables_are_a_function_of_the_seed():
    rows = {"customer": 20, "orders": 40, "lineitem": 80, "supplier": 5, "part": 10,
            "events": 50, "documents": 40, "embeddings": 12}
    a, b, c = (inputs.make_tables(s, rows, users=7) for s in (3, 3, 4))
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["events"].num_rows == 50 and a["embeddings"].num_rows == 12
    # two documents in forty copy another one and append " dup"; which ones
    # does not depend on the seed
    texts = a["documents"]["text"].to_pylist()
    dups = [i for i, t in enumerate(texts) if t.endswith(" dup")]
    assert len(dups) == 2
    assert all(texts[i].replace(" dup", "") in texts for i in dups)
    assert dups == [i for i, t in enumerate(c["documents"]["text"].to_pylist())
                    if t.endswith(" dup")]


# -- job twins ----------------------------------------------------------------

def test_job_twins_daily_and_weekly():
    def ev(kind, hh, mm, plate, spot, vt):
        return {"event_type": kind, "license_plate": plate, "parking_lot_id": "lot-01",
                "parking_spot_id": spot, "vehicle_type": vt,
                "ts": datetime(2025, 6, 1, hh, mm, tzinfo=timezone.utc)}
    events = [ev("PARKING_ENTRY", 10, 0, "A", "1", "car"),
              ev("PARKING_EXIT", 10, 30, "A", "1", "car"),  # 30 min: 1.0
              ev("PARKING_ENTRY", 11, 15, "B", "2", "van"),
              ev("LOT_MAINTENANCE", 11, 20, "B", "2", "van"),  # not an entry or exit
              ev("PARKING_EXIT", 12, 0, "B", "2", "van"),  # 45 min: 1.5
              ev("PARKING_EXIT", 12, 5, "C", "3", "car")]  # no entry: no session
    series, doc = parking.job_twins(events)
    h = {hh: int(datetime(2025, 6, 1, hh, tzinfo=timezone.utc).timestamp() * 1000)
         for hh in (0, 10, 11, 12)}
    daily = "parking-events:daily:2025-06-01:timeseries:"
    assert series[daily + "entries"] == {h[10]: 1.0, h[11]: 2.0, h[12]: 2.0}
    assert series[daily + "exits"] == {h[10]: 1.0, h[11]: 1.0, h[12]: 3.0}
    assert series[daily + "revenue_simulation"] == {h[10]: 2.0, h[11]: 4.0, h[12]: 4.0}
    weekly = "parking-stats:weekly:2025-22:"
    assert series[weekly + "entries"] == {h[0]: 2.0}
    assert series[weekly + "exits"] == {h[0]: 3.0}
    assert series[weekly + "revenue"] == {h[0]: 2.5}
    assert series[weekly + "avgspent:car"] == {h[0]: 1.0}
    assert series[weekly + "avgspent:van"] == {h[0]: 1.5}
    assert doc == {"car": 1.0, "van": 1.5}


# -- metric names --------------------------------------------------------------

def test_metric_name_and_unit_charset():
    assert valid_name("spark.action_ms.label_propagation_communities")
    assert valid_name("setup_s") and valid_name("9lives")
    assert not valid_name("_hidden") and not valid_name("a b") and not valid_name("a/b")
    assert not valid_name("x" * 65)
    assert valid_unit("1/s") and valid_unit("%") and not valid_unit("m s")


def test_benchmark_json_names_match_what_run_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(valid_name(n) for n in names)
    assert all(valid_unit(m["unit"]) for m in bench["end_to_end"] + bench["per_layer"])
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run._per_layer()
    assert [m["name"] for m in bench["end_to_end"]] == list(run.END_TO_END)
