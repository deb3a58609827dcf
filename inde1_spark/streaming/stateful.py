"""Keyed-state streaming: the T4 sessionizer and the per-key monitors.

The reference tracks live state in a ConcurrentHashMap
(RepoEventsApi.scala:38-69) and rebuilds sessions in batch by zipping
per-key lists (MainWeekly.scala:111-128). The streaming-native form is
keyed state: ``applyInPandasWithState`` runs a state function over the
Arrow batches of each key group, and the state lives in the executor's
state store (RocksDB on a real cluster), bounded by the keyspace, never by
stream length.

Every monitor here is one keyed fold built by ``keyed_fold``. A monitor
supplies its key columns, state and output DDL, an initial state, an
optional row order and a step ``step(key, state, rows) -> (state,
out_rows)``. Per key and micro-batch the scaffold concatenates the key's
rows, sorts them by the row order when one is given, passes the stored
state (the initial state for a new key), stores the state the step returns
and emits ``out_rows`` (dicts keyed by the output DDL's column names).
Monitors run in append mode with no timeout: a monitor's state is a few
values per key and lives as long as its key.

``sessionize_stream`` is the one builder with its own call. An ENTRY opens
state per (plate, lot, spot) and the matching EXIT closes it and emits a
completed session row; an EVENT-TIME timeout (watermark-driven) evicts
abandoned entries, cars that never exit (the reference's unbounded map has
no such bound; SURVEY §7.4). Event-time rather than processing-time is
deliberate twice over: eviction follows the data's clock on
replay/backfill, and a pending processing-time timeout forces
``availableNow`` backfills to spin empty micro-batches until the
wall-clock deadline, observed as 679 empty batches for one file of input.

Every state function and step is a self-contained closure (stdlib and
pandas imported on the worker, no reference to this package's globals):
cloudpickle ships it by value, so executor Python workers need not have
``inde1_spark`` on their PYTHONPATH.

100 TB notes: state is partitioned by key hash across executors; the state
store checkpoint makes it exactly-once. Sessionizer keys are the
concurrently open sessions (bounded by total parking capacity), so its
state is O(spots), independent of event volume.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

if TYPE_CHECKING:
    import pandas as pd

from inde1_spark.schemas import EVENT_ENTRY, EVENT_EXIT

SESSION_OUTPUT_SCHEMA = (
    "license_plate string, parking_lot_id string, parking_spot_id string, "
    "entry_ts timestamp, exit_ts timestamp, duration_min double"
)
# state: the open entry's epoch-microseconds (0 = no open entry)
SESSION_STATE_SCHEMA = "entry_us long"

ABANDON_TIMEOUT_MS = 30 * 60 * 1000  # evict entries with no exit for 30 min
WATERMARK_DELAY = "10 minutes"


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Completed parking sessions from a raw event stream, via keyed state.

    The state function is a self-contained closure (stdlib + pandas only, no
    references to this package): cloudpickle ships it by value, so executor
    Python workers don't need ``inde1_spark`` on their PYTHONPATH — a
    host-session may drive this engine from any working directory.
    """
    entry_type, exit_type = EVENT_ENTRY, EVENT_EXIT
    abandon_ms = ABANDON_TIMEOUT_MS
    cols = [
        "license_plate", "parking_lot_id", "parking_spot_id",
        "entry_ts", "exit_ts", "duration_min",
    ]

    def _sessionize_group(
        key: tuple[Any, ...],
        batches: Iterator["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd  # noqa: PLC0415 — worker-side import

        plate, lot, spot = key
        if state.hasTimedOut:
            # abandoned entry: drop the stale state; a production variant
            # could emit an 'incomplete session' row here instead
            state.remove()
            yield pd.DataFrame(columns=cols)
            return

        (entry_us,) = state.get if state.exists else (0,)
        out: list[dict] = []
        rows = pd.concat(list(batches), ignore_index=True).sort_values("ts")
        for row in rows.itertuples(index=False):
            ts_us = int(row.ts.value // 1_000)  # pandas ns -> us
            if row.event_type == entry_type:
                entry_us = ts_us  # re-entry overwrites (can't happen per laws)
            elif row.event_type == exit_type and entry_us:
                out.append(
                    {
                        "license_plate": plate,
                        "parking_lot_id": lot,
                        "parking_spot_id": spot,
                        "entry_ts": pd.Timestamp(entry_us, unit="us"),
                        "exit_ts": pd.Timestamp(ts_us, unit="us"),
                        "duration_min": (ts_us - entry_us) / 60_000_000.0,
                    }
                )
                entry_us = 0
        if entry_us:
            state.update((entry_us,))
            # event-time deadline: watermark past entry+30min evicts state
            state.setTimeoutTimestamp(entry_us // 1000 + abandon_ms)
        elif state.exists:
            state.remove()
        yield pd.DataFrame(out) if out else pd.DataFrame(columns=cols)

    return (
        events.withWatermark("ts", WATERMARK_DELAY)
        .groupBy("license_plate", "parking_lot_id", "parking_spot_id")
        .applyInPandasWithState(
            _sessionize_group,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def keyed_fold(
    events: DataFrame,
    keys: Sequence[str],
    state_schema: str,
    output_schema: str,
    init: tuple,
    step: Callable[[tuple, tuple, pd.DataFrame], tuple[tuple, list[dict]]],
    order: Sequence[str] | None = None,
) -> DataFrame:
    """One keyed fold over a stream: per key and micro-batch,
    ``step(key, state, rows)`` gets the stored state (``init`` for a new
    key) and the key's rows of the batch, sorted by ``order`` when given,
    and returns the new state and the output rows to emit. The returned
    state is always stored; output rows are dicts keyed by
    ``output_schema``'s column names. Append mode, no timeout.
    """
    cols = StructType.fromDDL(output_schema).fieldNames()
    by = list(order) if order else None

    def _fold(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import pandas as pd  # noqa: PLC0415 — worker-side import

        rows = pd.concat(list(batches), ignore_index=True)
        if by:
            rows = rows.sort_values(by)
        new_state, out = step(key, state.get if state.exists else init, rows)
        state.update(new_state)
        yield pd.DataFrame(out) if out else pd.DataFrame(columns=cols)

    return events.groupBy(*keys).applyInPandasWithState(
        _fold,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


FUNNEL_OUTPUT_SCHEMA = "user_id long, stage long, event_type string, ts timestamp"
FUNNEL_STATE_SCHEMA = "stage long, t_us long"


def funnel_stage_stream(
    events: DataFrame,
    steps: tuple[str, ...] = ("signup", "view", "click", "purchase"),
    window_hours: int = 24,
) -> DataFrame:
    """Streaming counterpart of ``analytics.funnel_windowed``: per-user
    keyed state (stage, matched-event time) advanced by the same
    earliest-qualifying bounded-gap rule, emitting one row per stage
    ADVANCE as it happens — the live funnel dashboards subscribe to,
    rather than a batch recount.

    Same greedy recurrence as the batch fold, applied incrementally:
    within a micro-batch events sort by event time; across micro-batches
    the per-user (stage, t_us) state is exactly the batch fold's
    accumulator after the prefix seen so far, so with event-time-ordered
    arrival the final state EQUALS the batch decode (pinned by the
    streaming==batch pytest). An event older than the matched stage time
    can never advance the chain, so modest disorder degrades gracefully
    (a conversion may be recognized later than batch would, never
    earlier or doubly).

    State is two longs per user still inside the funnel — O(active
    users), watermark-independent; completed users stop updating.
    """
    w_us = window_hours * 3600 * 1_000_000
    steps_t = tuple(steps)

    def _advance(
        key: tuple, state: tuple, rows: pd.DataFrame
    ) -> tuple[tuple, list[dict]]:
        import pandas as pd  # noqa: PLC0415 — worker-side import

        (user_id,) = key
        stage, t_us = state
        out: list[dict] = []
        for row in rows.itertuples(index=False):
            if stage >= len(steps_t):
                break
            ts_us = int(row.ts.value // 1_000)
            if row.event_type != steps_t[stage]:
                continue
            if stage == 0 or (t_us < ts_us <= t_us + w_us):
                stage += 1
                t_us = ts_us
                out.append(
                    {
                        "user_id": user_id,
                        "stage": stage,
                        "event_type": row.event_type,
                        "ts": pd.Timestamp(ts_us, unit="us"),
                    }
                )
        return (stage, t_us), out

    return keyed_fold(
        events.withWatermark("ts", WATERMARK_DELAY),
        ["user_id"],
        FUNNEL_STATE_SCHEMA,
        FUNNEL_OUTPUT_SCHEMA,
        (0, 0),
        _advance,
        order=["ts", "event_id"],
    )


# ---------------------------------------------------------------------------
# Streaming CUSUM drift alarms (live sibling of analytics.cusum_drift)
# ---------------------------------------------------------------------------

CUSUM_OUTPUT_SCHEMA = (
    "event_type string, day string, n_events long, "
    "cusum_pos long, cusum_neg long, alarm_pos boolean, alarm_neg boolean"
)
# state: current open day index, its running count, prefix sum of centered
# deviations over CLOSED days, and the prefix's running extrema
CUSUM_STATE_SCHEMA = (
    "cur_day long, cnt long, prefix long, runmin long, runmax long"
)


def cusum_alarm_stream(
    events: DataFrame, mu_per_day: int = 30, threshold_mult: int = 4
) -> DataFrame:
    """Live per-type CUSUM drift alarms — the streaming form of
    ``analytics.cusum_drift``: the batch op learns the in-control mean
    from the window it analyzes; a MONITOR runs against a FIXED trained
    mu (``mu_per_day``) and must flag drift the day it completes, not at
    the next batch recount. Page's recursion is exactly the
    prefix/extrema closed form the batch op uses, so the state is five
    longs per key: the open day, its count, and (prefix, runmin,
    runmax) over closed days.

    A day CLOSES when a later-day event for the same key arrives (the
    natural signal in an ordered stream; availableNow tests plant a
    far-future flush event per key, the documented convention). Days
    with zero events are skipped — matching the batch daily series,
    which only contains observed days. Emits one row per closed day
    with the two one-sided statistics and their threshold flags
    (threshold = threshold_mult * mu_per_day, integer, engine-free).

    State is O(|keys|), watermark-independent; within a micro-batch rows
    sort by event time, so modest disorder inside a day is harmless and
    only a day-boundary straddler arriving late can shift WHICH batch
    closes a day (never the closed day's statistic, pinned by the
    streaming==batch pytest).
    """
    mu = int(mu_per_day)
    thr = int(threshold_mult) * mu

    def _advance(
        key: tuple, state: tuple, rows: pd.DataFrame
    ) -> tuple[tuple, list[dict]]:
        import pandas as pd  # noqa: PLC0415 — worker-side import

        (event_type,) = key
        cur_day, cnt, prefix, runmin, runmax = state
        out: list[dict] = []
        for row in rows.itertuples(index=False):
            day = int(row.ts.value // (86_400 * 1_000_000_000))
            if cur_day < 0:
                cur_day, cnt = day, 1
                continue
            if day == cur_day:
                cnt += 1
                continue
            if day < cur_day:  # late straddler: fold into the open day
                cnt += 1
                continue
            # close cur_day
            prefix += cnt - mu
            runmin = min(runmin, prefix)
            runmax = max(runmax, prefix)
            cpos = prefix - min(0, runmin)
            cneg = max(0, runmax) - prefix
            out.append(
                {
                    "event_type": event_type,
                    "day": pd.Timestamp(cur_day * 86_400, unit="s").strftime(
                        "%Y-%m-%d"
                    ),
                    "n_events": cnt,
                    "cusum_pos": cpos,
                    "cusum_neg": cneg,
                    "alarm_pos": cpos > thr,
                    "alarm_neg": cneg > thr,
                }
            )
            cur_day, cnt = day, 1
        return (cur_day, cnt, prefix, runmin, runmax), out

    return keyed_fold(
        events.withWatermark("ts", WATERMARK_DELAY),
        ["event_type"],
        CUSUM_STATE_SCHEMA,
        CUSUM_OUTPUT_SCHEMA,
        (-1, 0, 0, 0, 0),
        _advance,
        order=["ts", "event_id"],
    )


# ---------------------------------------------------------------------------
# Streaming SPRT (live sibling of analytics.sprt_entry_bias)
# ---------------------------------------------------------------------------

SPRT_OUTPUT_SCHEMA = (
    "day string, n_entry long, n_exit long, llr_nano long, "
    "verdict string, decided boolean"
)
# state: open day + its counts, closed-day cumulative counts, decided flag
SPRT_STATE_SCHEMA = (
    "cur_day long, e_cnt long, x_cnt long, cum_e long, cum_x long, "
    "decided long"
)


def sprt_stream(events: DataFrame) -> DataFrame:
    """Live Wald SPRT on the entry/exit mix — the streaming form of
    ``analytics.sprt_entry_bias``: the whole point of a SEQUENTIAL test
    is to stop the moment evidence suffices, so the monitor belongs in
    the stream, emitting one row per closed day with the running LLR,
    verdict, and the sticky ``decided`` flag.

    Same integer contract as the batch op (cumulative counts times the
    injected nano constants — no transcendentals at all), so closed-day
    rows EQUAL the batch table on the same prefix (streaming==batch
    pytest). Day closure and the availableNow flush sentinel follow the
    cusum_alarm_stream conventions. The stream is ONE logical series, so
    the state (six longs) lives under a single constant key — the
    deliberate single-key trade of a global sequential decision, not a
    throughput path.
    """
    from inde1_spark.operators.analytics import (
        SPRT_BOUND,
        SPRT_L_ENTRY,
        SPRT_L_EXIT,
    )
    from pyspark.sql import functions as F

    ENTRY_T, EXIT_T = "view", "click"

    def _advance(
        key: tuple, state: tuple, rows: pd.DataFrame
    ) -> tuple[tuple, list[dict]]:
        import pandas as pd  # noqa: PLC0415 — worker-side import

        cur_day, e_cnt, x_cnt, cum_e, cum_x, decided = state
        out: list[dict] = []
        for row in rows.itertuples(index=False):
            typ = row.event_type
            if typ not in (ENTRY_T, EXIT_T):
                continue
            day = int(row.ts.value // (86_400 * 1_000_000_000))
            if cur_day < 0:
                cur_day = day
            elif day > cur_day:
                cum_e += e_cnt
                cum_x += x_cnt
                llr = cum_e * SPRT_L_ENTRY + cum_x * SPRT_L_EXIT
                verdict = (
                    "accept_h1"
                    if llr >= SPRT_BOUND
                    else "accept_h0" if llr <= -SPRT_BOUND else "continue"
                )
                if verdict != "continue":
                    decided = 1
                out.append(
                    {
                        "day": pd.Timestamp(
                            cur_day * 86_400, unit="s"
                        ).strftime("%Y-%m-%d"),
                        "n_entry": e_cnt,
                        "n_exit": x_cnt,
                        "llr_nano": llr,
                        "verdict": verdict,
                        "decided": bool(decided),
                    }
                )
                cur_day, e_cnt, x_cnt = day, 0, 0
            # late straddlers fold into the open day (cusum convention)
            if typ == ENTRY_T:
                e_cnt += 1
            else:
                x_cnt += 1
        return (cur_day, e_cnt, x_cnt, cum_e, cum_x, decided), out

    return keyed_fold(
        events.withWatermark("ts", WATERMARK_DELAY).withColumn("g", F.lit(1)),
        ["g"],
        SPRT_STATE_SCHEMA,
        SPRT_OUTPUT_SCHEMA,
        (-1, 0, 0, 0, 0, 0),
        _advance,
        order=["ts", "event_id"],
    )


# ---------------------------------------------------------------------------
# Streaming Misra-Gries / SpaceSaving heavy hitters (bounded-state top-k)
# ---------------------------------------------------------------------------

MG_CAPACITY = 16  # counters per shard; undercount <= shard_stream_len / cap
MG_SHARDS = 4     # key-hash shards: state is shards x capacity counters

MG_OUTPUT_SCHEMA = (
    "shard long, user_id long, est_count long, err_bound long"
)
MG_STATE_SCHEMA = (
    "keys array<long>, counts array<long>, dec long"
)


def space_saving_stream(
    events: DataFrame,
    capacity: int = MG_CAPACITY,
    n_shards: int = MG_SHARDS,
) -> DataFrame:
    """Streaming heavy hitters with BOUNDED state: per-shard Misra-Gries
    summaries — the deterministic frequent-items monitor whose state is
    O(shards x capacity) counters no matter how many distinct keys the
    stream carries (per-key streaming counts hold O(keys) state; the CMS
    sibling holds O(1) but answers point queries, not "list the heavy
    keys" — this is the structure that LISTS them).

    Order-free determinism, the property that makes the monitor
    hash-stable under Spark's nondeterministic intra-batch row order:
    each micro-batch is EXACTLY counted first (a pandas groupby — no
    order dependence), then merged into the summary by the Agarwal et
    al. mergeable-summaries rule (add matching counters; if over
    capacity, subtract the (capacity+1)-th largest count from all and
    drop non-positive, ties broken by key asc). The classic MG bound
    survives the merge: true_count - est_count <= dec (the emitted
    per-shard ``err_bound``), and any key with true count > dec is
    GUARANTEED present in its shard's summary.

    Every batch emits the shard's full current summary (append mode —
    the latest emission is the live top-k; availableNow backfills end
    on the exact summary of the whole prefix). Keys shard by
    ``user_id % n_shards``, so a key's counter lives in exactly one
    shard and the global heavy-hitter list is the union of shard
    summaries. 100 TB posture: state is shards x capacity longs, the
    per-batch exact count is executor-side per shard, and shard count
    scales parallelism without changing any per-shard guarantee.
    """
    cap = int(capacity)

    def _advance(
        key: tuple, state: tuple, rows: pd.DataFrame
    ) -> tuple[tuple, list[dict]]:
        (shard,) = key
        keys, counts, dec = state
        summary = dict(zip(keys, counts))
        # exact, order-free per-batch counts: the only reduction over rows
        for uid, c in rows["user_id"].value_counts().items():
            k = int(uid)
            summary[k] = summary.get(k, 0) + int(c)
        if len(summary) > cap:
            ordered = sorted(summary.items(), key=lambda kv: (-kv[1], kv[0]))
            t = ordered[cap][1]  # the (capacity+1)-th largest count
            dec += t
            summary = {k: c - t for k, c in ordered[:cap] if c - t > 0}
        out = [
            {
                "shard": int(shard),
                "user_id": k,
                "est_count": c,
                "err_bound": dec,
            }
            for k, c in sorted(summary.items())
        ]
        return (list(summary.keys()), list(summary.values()), dec), out

    from pyspark.sql import functions as F

    # no watermark: it would drop late rows before the stateful operator,
    # and the summary's guarantee counts every row
    return keyed_fold(
        events.withColumn(
            "shard", (F.col("user_id") % F.lit(int(n_shards))).cast("long")
        ),
        ["shard"],
        MG_STATE_SCHEMA,
        MG_OUTPUT_SCHEMA,
        ([], [], 0),
        _advance,
    )


# ---------------------------------------------------------------------------
# Streaming window-gap alarms (live sibling of
# analytics.window_completeness_audit)
# ---------------------------------------------------------------------------

GAP_OUTPUT_SCHEMA = "event_type string, gap_hour string"
GAP_STATE_SCHEMA = "last_hour long"


def gap_alarm_stream(events: DataFrame) -> DataFrame:
    """Live hourly-gap alarms per event type — the streaming form of
    ``analytics.window_completeness_audit``: the batch audit counts a
    feed's missing hourly windows after the fact; the MONITOR names each
    missed hour the moment a later event for the same type reveals it
    was skipped (the natural close signal in an ordered feed, same
    convention as ``cusum_alarm_stream``'s day close). A consumer pages
    on any row: this feed went silent for that hour.

    State is ONE long per key (the last hour index seen); each arriving
    event at hour h > last emits one row per hour in (last, h) and
    advances the state — so the emitted set over a drained stream equals
    the batch audit's per-type missing-hour set on the same corpus
    (pinned by the streaming==batch pytest; the batch table's GLOBAL
    span differs only by each type's lead-in/tail hours, which no
    gap-between-events monitor can know). Within a micro-batch rows sort
    by event time; a late straddler (h <= last) is a no-op — it cannot
    un-miss an hour that was already alarmed, the documented
    at-most-once deviation under disorder.
    """

    def _advance(
        key: tuple, state: tuple, rows: pd.DataFrame
    ) -> tuple[tuple, list[dict]]:
        import pandas as pd  # noqa: PLC0415 — worker-side import

        (event_type,) = key
        (last,) = state
        out: list[dict] = []
        for row in rows.itertuples(index=False):
            hour = int(row.ts.value // (3600 * 1_000_000_000))
            if last < 0:
                last = hour
                continue
            if hour <= last:  # same hour, or a late straddler: no-op
                continue
            for g in range(last + 1, hour):
                out.append(
                    {
                        "event_type": event_type,
                        "gap_hour": pd.Timestamp(
                            g * 3600, unit="s"
                        ).strftime("%Y-%m-%d %H:00"),
                    }
                )
            last = hour
        return (last,), out

    return keyed_fold(
        events.withWatermark("ts", WATERMARK_DELAY),
        ["event_type"],
        GAP_STATE_SCHEMA,
        GAP_OUTPUT_SCHEMA,
        (-1,),
        _advance,
        order=["ts", "event_id"],
    )


# ---------------------------------------------------------------------------
# Streaming value-drift monitor (live sibling of analytics.value_drift_audit)
# ---------------------------------------------------------------------------

DRIFT_STREAM_OUTPUT_SCHEMA = (
    "event_type string, day string, n_events long, tvd double, drift boolean"
)
# state: the open day + its 10 histogram bin counts
DRIFT_STREAM_STATE_SCHEMA = (
    "cur_day long, b0 long, b1 long, b2 long, b3 long, b4 long, "
    "b5 long, b6 long, b7 long, b8 long, b9 long"
)
DRIFT_TVD_ALARM = 0.25  # page when a day's distribution moves this far


def value_drift_stream(
    events: DataFrame,
    ref_bins: tuple[int, ...] = (1,) * 10,
    bin_width: float = 50.0,
    tvd_alarm: float = DRIFT_TVD_ALARM,
) -> DataFrame:
    """Live per-type value-distribution drift — the streaming form of
    ``analytics.value_drift_audit``: the batch audit compares the
    corpus's two halves after the fact; the MONITOR compares each
    CLOSED DAY's value histogram against a FIXED reference distribution
    (``ref_bins``, trained offline — the cusum fixed-mu convention) and
    emits the day's total variation distance the day it completes. TVD
    over fixed-width bins, same binning as the batch audit
    (floor(value/width) clamped to [0, 9]).

    State is eleven longs per key: the open day and its ten bin counts.
    A day closes when a later-day event for the same key arrives
    (availableNow tests plant a far-future flush event, the documented
    convention); late straddlers fold into the open day, zero-event
    days are skipped — both exactly as ``cusum_alarm_stream``.
    """
    n_bins = 10
    ref_total = float(sum(ref_bins)) or 1.0
    ref_p = [b / ref_total for b in ref_bins]
    width = float(bin_width)
    alarm = float(tvd_alarm)

    def _advance(
        key: tuple, state: tuple, rows: pd.DataFrame
    ) -> tuple[tuple, list[dict]]:
        import pandas as pd  # noqa: PLC0415 — worker-side import

        (event_type,) = key
        cur_day, *bins = state
        out: list[dict] = []

        def close_day() -> None:
            n = sum(bins)
            if n == 0:
                return
            tvd = 0.5 * sum(
                abs(bins[i] / n - ref_p[i]) for i in range(n_bins)
            )
            out.append(
                {
                    "event_type": event_type,
                    "day": pd.Timestamp(cur_day * 86_400, unit="s").strftime(
                        "%Y-%m-%d"
                    ),
                    "n_events": n,
                    "tvd": tvd,
                    "drift": tvd > alarm,
                }
            )

        for row in rows.itertuples(index=False):
            day = int(row.ts.value // (86_400 * 1_000_000_000))
            b = min(max(int(row.value // width), 0), n_bins - 1)
            if cur_day < 0:
                cur_day = day
            elif day > cur_day:  # close the open day; start the new one
                close_day()
                cur_day, bins = day, [0] * n_bins
            # same day or late straddler: fold into the open day
            bins[b] += 1
        return (cur_day, *bins), out

    return keyed_fold(
        events.withWatermark("ts", WATERMARK_DELAY),
        ["event_type"],
        DRIFT_STREAM_STATE_SCHEMA,
        DRIFT_STREAM_OUTPUT_SCHEMA,
        (-1,) + (0,) * n_bins,
        _advance,
        order=["ts", "event_id"],
    )


# ---------------------------------------------------------------------------
# Streaming schema-drift monitor (live sibling of
# analytics.schema_evolution_audit)
# ---------------------------------------------------------------------------

SCHEMA_STREAM_OUTPUT_SCHEMA = (
    "event_type string, key string, vtype string, prev_vtype string, "
    "kind string"
)
# state: the registered key inventory as parallel arrays + the seeded flag
SCHEMA_STREAM_STATE_SCHEMA = (
    "keys array<string>, vtypes array<string>, seeded boolean"
)


def schema_drift_stream(events: DataFrame) -> DataFrame:
    """Live payload-schema drift alarms per event type — the streaming
    form of ``analytics.schema_evolution_audit``: the batch audit diffs
    day partitions after the fact; the MONITOR alarms the moment a
    producer ships a ``props`` key the registered contract has never
    seen ('added') or a value whose inferred type contradicts the
    registered one ('type_changed', which also re-registers the new
    type so a flap back alarms again). The first event of each type
    seeds its keys silently — the batch audit's 'baseline' day, as one
    event. Removed keys are the one face a live monitor cannot see
    (absence is not an event); the batch audit owns that direction.

    Type inference is the batch audit's anchored regexes applied to a
    Double.toString-compatible rendering of the JSON scalar (from_json
    normalizes number tokens through java.lang.Double.toString, whose
    exponent-form boundary — |x| >= 1e7 or < 1e-3 — differs from Python
    str(); _java_double mirrors the form exactly, digits up to
    shortest-round-trip), so a drained stream's alarm set equals both
    the batch audit's vtypes and the pure-python contract replay
    (pinned by pytest, incl. the boundary magnitudes).
    State is the registered key->vtype inventory (bounded by the
    payload vocabulary, a few dozen entries — far smaller than the
    per-day histograms the drift monitors carry); rows inside a
    micro-batch process in (ts, event_id) order, the monitors' shared
    convention.
    """

    def _stringify(v: Any) -> str | None:
        # mirror from_json(map<string,string>)'s scalar rendering.
        # The batch audit's from_json normalizes JSON number tokens
        # through java.lang.Double.toString (measured: '1e5' ->
        # '100000.0', '12345678.5' -> '1.23456785E7', '0.0001' ->
        # '1.0E-4'), which switches to exponent form at |x| >= 1e7 or
        # < 1e-3 where Python str() switches at 1e16/1e-5 — so a plain
        # str(v) mis-types exactly the magnitudes in between (float vs
        # the batch's 'string'; r10 ADVICE item 3, corrected boundary).
        # _java_double reproduces Double.toString's FORM exactly and
        # its digits up to shortest-round-trip representation (CPython
        # repr and Java both emit shortest digits that round-trip).
        import json as _json  # noqa: PLC0415 — worker-side import

        def _java_double(x: float) -> str:
            if x != x:
                return "NaN"
            if x == float("inf"):
                return "Infinity"
            if x == float("-inf"):
                return "-Infinity"
            sign = "-" if repr(x).startswith("-") else ""
            m = abs(x)
            if m == 0.0:
                return sign + "0.0"
            r = repr(m)
            if "e" in r:
                mant, _, e = r.partition("e")
                exp = int(e)
            else:
                mant, exp = r, 0
            ip, _, fp = mant.partition(".")
            digits = (ip + fp).lstrip("0")
            # decimal-point position within `digits`, from the left
            point = len(ip) + exp - (len(ip + fp) - len((ip + fp).lstrip("0")))
            digits = digits.rstrip("0") or "0"
            if 1e-3 <= m < 1e7:
                if point <= 0:
                    return sign + "0." + "0" * (-point) + digits
                if point >= len(digits):
                    return sign + digits + "0" * (point - len(digits)) + ".0"
                return sign + digits[:point] + "." + digits[point:]
            return (
                sign + digits[0] + "." + (digits[1:] or "0")
                + "E" + str(point - 1)
            )

        if v is None:
            return None
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, (dict, list)):
            return _json.dumps(v, separators=(",", ":"))
        if isinstance(v, float):
            return _java_double(v)
        return str(v)

    def _vtype(v: str | None) -> str:
        import re as _re  # noqa: PLC0415 — worker-side import

        if v is not None and _re.fullmatch(r"-?[0-9]+", v):
            return "int"
        if v is not None and _re.fullmatch(r"-?[0-9]*\.[0-9]+", v):
            return "float"
        return "string"

    def _advance(
        key: tuple, state: tuple, rows: pd.DataFrame
    ) -> tuple[tuple, list[dict]]:
        import json as _json  # noqa: PLC0415 — worker-side import

        (event_type,) = key
        keys, vtypes, seeded = state
        inv = dict(zip(list(keys), list(vtypes)))
        out: list[dict] = []
        for row in rows.itertuples(index=False):
            try:
                kv = _json.loads(row.props) or {}
            except (TypeError, ValueError):
                continue  # malformed payload: the S4 drop rule
            if not isinstance(kv, dict):
                continue
            items = sorted(
                (k, _vtype(_stringify(v))) for k, v in kv.items()
            )
            if not seeded:
                inv.update(items)  # baseline event registers silently
                seeded = True
                continue
            for k, vt in items:
                if k not in inv:
                    inv[k] = vt
                    out.append(
                        {
                            "event_type": event_type,
                            "key": k,
                            "vtype": vt,
                            "prev_vtype": None,
                            "kind": "added",
                        }
                    )
                elif inv[k] != vt:
                    out.append(
                        {
                            "event_type": event_type,
                            "key": k,
                            "vtype": vt,
                            "prev_vtype": inv[k],
                            "kind": "type_changed",
                        }
                    )
                    inv[k] = vt  # re-register: a flap back alarms again
        ks = sorted(inv)
        return (ks, [inv[k] for k in ks], seeded), out

    return keyed_fold(
        events.withWatermark("ts", WATERMARK_DELAY),
        ["event_type"],
        SCHEMA_STREAM_STATE_SCHEMA,
        SCHEMA_STREAM_OUTPUT_SCHEMA,
        ([], [], False),
        _advance,
        order=["ts", "event_id"],
    )


# ---------------------------------------------------------------------------
# Streaming ingestion-order monitor (live sibling of
# analytics.event_order_integrity_audit's regression pass)
# ---------------------------------------------------------------------------

ORDER_STREAM_OUTPUT_SCHEMA = (
    "user_id long, event_id long, ts timestamp, prev_event_id long, "
    "prev_ts timestamp, lag_s long"
)
# state: the id-max frontier event per user
ORDER_STREAM_STATE_SCHEMA = "last_id long, last_ts_us long"


def order_integrity_stream(events: DataFrame) -> DataFrame:
    """Live event-time-regression alarms per user — the monitor face of
    ``analytics.event_order_integrity_audit``'s window pass: the batch
    audit counts, after the fact, the adjacent same-user pairs whose
    event time runs backwards in id order; this stream alarms the
    moment such an event ARRIVES (clock skew or misordered ingestion at
    the producer — the archive contract the id-ordered replay model
    rests on, broken live). One alarm row per violating event, carrying
    the frontier it regressed against and the lag in whole seconds.

    State is two longs per user (the id-max frontier event); rows
    inside a micro-batch process in (event_id, ts) order — exactly the
    batch audit's window order, so a drained in-order stream's alarm
    count equals the audit's n_ts_regressions (pinned by pytest).
    Duplicate-id accounting stays with the batch audit (exact dup
    detection needs unbounded id-set state); an id at-or-below the
    frontier only advances nothing and never alarms — the documented
    at-most-once deviation under disorder, the gap_alarm convention.
    """
    from pyspark.sql import functions as F

    def _advance(
        key: tuple, state: tuple, rows: pd.DataFrame
    ) -> tuple[tuple, list[dict]]:
        import pandas as pd  # noqa: PLC0415 — worker-side import

        (user_id,) = key
        last_id, last_ts_us = state
        out: list[dict] = []
        for row in rows.itertuples(index=False):
            ts_us = int(row.ts.value // 1_000)
            if last_id is None or row.event_id > last_id:
                if last_id is not None and ts_us < last_ts_us:
                    out.append(
                        {
                            "user_id": user_id,
                            "event_id": int(row.event_id),
                            "ts": row.ts,
                            "prev_event_id": int(last_id),
                            "prev_ts": pd.Timestamp(
                                last_ts_us * 1_000
                            ),
                            "lag_s": int(
                                (last_ts_us - ts_us) // 1_000_000
                            ),
                        }
                    )
                last_id, last_ts_us = int(row.event_id), ts_us
        return (last_id, last_ts_us), out

    return keyed_fold(
        events.filter(
            F.col("user_id").isNotNull() & F.col("ts").isNotNull()
        ).withWatermark("ts", WATERMARK_DELAY),
        ["user_id"],
        ORDER_STREAM_STATE_SCHEMA,
        ORDER_STREAM_OUTPUT_SCHEMA,
        (None, None),
        _advance,
        order=["event_id", "ts"],
    )


# ---------------------------------------------------------------------------
# Streaming ingest-backlog monitor (live sibling of
# analytics.rate_limit_sweep's Lindley replay)
# ---------------------------------------------------------------------------

BACKLOG_STREAM_OUTPUT_SCHEMA = (
    "event_type string, minute long, arrivals long, backlog long"
)
# state: the minute frontier and the queue depth behind it
BACKLOG_STREAM_STATE_SCHEMA = "last_minute long, backlog long"
# default drain rate (events/minute) — deployments size this from
# rate_limit_sweep's rate_per_min column
BACKLOG_RATE_PER_MIN = 6000


def backlog_monitor_stream(
    events: DataFrame, rate_per_min: int = BACKLOG_RATE_PER_MIN
) -> DataFrame:
    """Live ingest-backlog ledger per event type — the monitor face of
    ``analytics.rate_limit_sweep``: the batch sweep replays the archive
    against a rate grid after the fact; this stream runs the SAME
    Lindley recursion forward as events arrive, one queue per event
    type (the per-topic consumer model), emitting one ledger row per
    observed minute with the arrival count and the queue depth at that
    minute's END (gap minutes drain first, then the minute's arrivals
    land, then its own drain tick — exactly the batch recursion
    B_t = max(0, B_{t-1} + a_t - R), so the two ledgers agree row for
    row on an in-order feed). A backlog
    that ratchets up across ledger rows is the live under-provisioning
    alarm the batch sweep would only price at the next audit.

    State is two longs per type (minute frontier + queue depth).
    Minutes are the tz-free day-index*1440 + in-day spelling (bucket
    boundaries — the rate_limit_sweep convention) computed on the
    worker from naive timestamps. Rows inside a micro-batch fold in
    minute order; an arrival BEHIND the frontier minute (late data
    inside the watermark) joins the queue at the frontier — arrivals
    are never re-timed backwards, the documented at-most-once deviation
    (the gap_alarm convention). With an in-order drain the ledger
    equals the batch recursion exactly (pinned by pytest against a
    pure-python mirror and rate_limit_sweep's peak on a one-type
    corpus).
    """
    from pyspark.sql import functions as F

    rate = int(rate_per_min)

    def _drain(
        key: tuple, state: tuple, rows: pd.DataFrame
    ) -> tuple[tuple, list[dict]]:
        import pandas as pd  # noqa: PLC0415 — worker-side import

        (event_type,) = key
        last_m, backlog = state
        ts = pd.DatetimeIndex(rows["ts"])
        # tz-free absolute minute: days since epoch * 1440 + in-day minutes
        days = (ts.normalize() - pd.Timestamp(0)).days
        minute = days * 1440 + ts.hour * 60 + ts.minute
        counts = (
            pd.Series(1, index=minute).groupby(level=0).sum().sort_index()
        )
        out: list[dict] = []
        for m, a in counts.items():
            m = int(m)
            if last_m is not None and m <= last_m:
                # late arrival joins the queue at the frontier minute
                # (its drain tick already happened — no re-timing)
                backlog += int(a)
                out.append(
                    {
                        "event_type": event_type,
                        "minute": int(last_m),
                        "arrivals": int(a),
                        "backlog": int(backlog),
                    }
                )
                continue
            if last_m is not None:
                # gap minutes strictly between frontier and m drain first
                backlog = max(0, backlog - rate * (m - last_m - 1))
            backlog = max(0, backlog + int(a) - rate)
            last_m = m
            out.append(
                {
                    "event_type": event_type,
                    "minute": m,
                    "arrivals": int(a),
                    "backlog": int(backlog),
                }
            )
        return (last_m, int(backlog)), out

    return keyed_fold(
        events.filter(F.col("ts").isNotNull()).withWatermark(
            "ts", WATERMARK_DELAY
        ),
        ["event_type"],
        BACKLOG_STREAM_STATE_SCHEMA,
        BACKLOG_STREAM_OUTPUT_SCHEMA,
        (None, 0),
        _drain,
    )


# ---------------------------------------------------------------------------
# Streaming dimension-cache refetch monitor (live sibling of
# analytics.ttl_staleness_sweep's gap replay)
# ---------------------------------------------------------------------------

TTL_STREAM_OUTPUT_SCHEMA = (
    "user_id long, event_id long, ts timestamp, gap_s long, kind string"
)
# state: the key's last-touch timestamp (epoch seconds)
TTL_STREAM_STATE_SCHEMA = "last_ts_s long"
# default cache TTL (seconds) — deployments size this from
# ttl_staleness_sweep's miss curve
TTL_STREAM_DEFAULT_S = 900


def ttl_refetch_stream(
    events: DataFrame, ttl_s: int = TTL_STREAM_DEFAULT_S
) -> DataFrame:
    """Live dimension-cache remote-read monitor — the monitor face of
    ``analytics.ttl_staleness_sweep``: the batch sweep prices every
    candidate TTL after the fact; this stream runs ONE deployed TTL
    forward and emits a row for each event that would go remote — the
    key's compulsory first touch (kind='compulsory') or a touch whose
    gap since the key's previous event exceeds the TTL, meaning the
    cached entry expired (kind='refetch', with the exact gap). The
    emitted row RATE is the live Redis read budget; a rising refetch
    share against ``cache_hit_curve``'s sizing says the TTL, not the
    capacity, is the binding knob.

    State is one long per key (the last-touch second). Rows inside a
    micro-batch fold in truncated-second event-time order with
    event_id tie-break — the batch sweep's lag-window order, so a
    drained in-order stream's compulsory count equals the sweep's
    n_keys and its refetch count equals n_refetch at the same TTL
    (pinned by pytest across micro-batch boundaries). A gap of EXACTLY
    the TTL stays fresh (strict >, the sweep's boundary). Out-of-order
    rows inside the watermark fold where they land in the batch's
    sorted order against the current frontier — the at-most-once
    deviation convention shared with the other monitors.
    """
    from pyspark.sql import functions as F

    ttl = int(ttl_s)

    def _touch(
        key: tuple, state: tuple, rows: pd.DataFrame
    ) -> tuple[tuple, list[dict]]:
        import pandas as pd  # noqa: PLC0415 — worker-side import

        (user_id,) = key
        (last_s,) = state
        rows["ts_s"] = (
            pd.DatetimeIndex(rows["ts"]).asi8 // 1_000_000_000
        )
        rows = rows.sort_values(["ts_s", "event_id"])
        out: list[dict] = []
        for row in rows.itertuples(index=False):
            ts_s = int(row.ts_s)
            if last_s is None:
                out.append(
                    {
                        "user_id": user_id,
                        "event_id": int(row.event_id),
                        "ts": row.ts,
                        "gap_s": None,
                        "kind": "compulsory",
                    }
                )
            elif ts_s - last_s > ttl:
                out.append(
                    {
                        "user_id": user_id,
                        "event_id": int(row.event_id),
                        "ts": row.ts,
                        "gap_s": int(ts_s - last_s),
                        "kind": "refetch",
                    }
                )
            last_s = ts_s
        return (last_s,), out

    return keyed_fold(
        events.filter(
            F.col("user_id").isNotNull() & F.col("ts").isNotNull()
        ).withWatermark("ts", WATERMARK_DELAY),
        ["user_id"],
        TTL_STREAM_STATE_SCHEMA,
        TTL_STREAM_OUTPUT_SCHEMA,
        (None,),
        _touch,
    )
