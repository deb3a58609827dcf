"""Reference-parity operators on the parking schema itself.

These are the reference's computations with their EXACT domain semantics
(lot/spot/plate/handicap), over ``schemas.PARKING_EVENT_FLAT`` tables —
complementing ``analytics.py`` which maps the same operator shapes onto the
driver's testdata for the oracle gate. The parking fixture
(``datagen.parking``) exercises the semantic edge cases: A4-vs-A5 occupancy
divergence, orphan exits, unknown plates, junk event types.

Every transform is DataFrame -> DataFrame, usable unchanged on a streaming
DataFrame where Spark allows (the streaming module wires them up).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from inde1_spark.schemas import EVENT_ENTRY, EVENT_EXIT

RATE_PER_HOUR = 2.0  # srvc-io EnvConfig.scala:19


def valid_events(events: DataFrame) -> DataFrame:
    """P1: keep only ENTRY/EXIT (MainHourly.scala:68)."""
    return events.filter(F.col("event_type").isin(EVENT_ENTRY, EVENT_EXIT))


def hourly_stats(events: DataFrame) -> DataFrame:
    """The live hourly job's aggregate document, one row per (date, hour).

    AggregatedStatsSpark (srvc-stats/.../AggregatedStatsSpark.scala:4-12):
    nbr_entries, nbr_exit, occupancy per lot (map), revenue = occupied x
    rate, vehicle-type mix (map). The reference computes this with 5+ jobs
    + driver-side merging (MainHourly.scala:96-139); here one shuffle on
    (date, hour, lot) + one on (date, hour) builds the same document.
    """
    base = valid_events(events).withColumn(
        "date", F.date_format("ts", "yyyy-MM-dd")
    ).withColumn("hour", F.hour("ts"))

    is_entry = (F.col("event_type") == EVENT_ENTRY).cast("long")
    per_lot = (
        base.groupBy("date", "hour", "parking_lot_id")
        .agg(
            F.sum(is_entry).alias("lot_entries"),
            F.sum(1 - is_entry).alias("lot_exits"),
        )
        .withColumn(
            "lot_occupancy",
            F.greatest(F.lit(0).cast("long"), F.col("lot_entries") - F.col("lot_exits")),
        )
    )
    occupancy_map = per_lot.groupBy("date", "hour").agg(
        F.map_from_entries(
            F.array_sort(
                F.collect_list(F.struct("parking_lot_id", "lot_occupancy"))
            )
        ).alias("occupancy"),
        F.sum("lot_entries").alias("nbr_entries"),
        F.sum("lot_exits").alias("nbr_exit"),
        F.sum("lot_occupancy").alias("total_occupied"),
    )
    vehicle_map = (
        base.groupBy("date", "hour", "vehicle_type")
        .count()
        .groupBy("date", "hour")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("vehicle_type", "count")))
            ).alias("vehicle_types")
        )
    )
    return (
        occupancy_map.join(vehicle_map, ["date", "hour"])
        .withColumn(
            "revenue_simulation",
            F.round(F.col("total_occupied") * F.lit(RATE_PER_HOUR), 2),
        )
        .select(
            "date",
            "hour",
            "nbr_entries",
            "nbr_exit",
            "occupancy",
            "revenue_simulation",
            "vehicle_types",
        )
    )


def occupancy_asof(events: DataFrame, asof_ts: str) -> DataFrame:
    """A5: exact occupancy at time T via last-event-per-(lot,spot).

    The reference folds time-ordered events on the driver
    (MainDaily.scala:81-101). Window formulation: the last event for each
    (lot, spot) at or before T decides whether the spot is occupied.
    Deterministic tie-break (ts, event order by plate) matches the fixture's
    per-ms uniqueness.
    """
    w = Window.partitionBy("parking_lot_id", "parking_spot_id").orderBy(
        F.col("ts").desc(), F.col("license_plate").desc()
    )
    return (
        valid_events(events)
        .filter(F.col("ts") <= F.lit(asof_ts).cast("timestamp"))
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") == EVENT_ENTRY))
        .groupBy("parking_lot_id")
        .agg(F.count("*").alias("occupied_spots"))
    )


def occupancy_clamped_hourly(events: DataFrame) -> DataFrame:
    """A4: the live job's clamped entries-exits diff per lot per hour —
    intentionally different from A5 (both reference semantics, kept apart).
    """
    is_entry = (F.col("event_type") == EVENT_ENTRY).cast("long")
    return (
        valid_events(events)
        .groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("date"),
            F.hour("ts").alias("hour"),
            "parking_lot_id",
        )
        .agg(
            F.greatest(
                F.lit(0).cast("long"), F.sum(is_entry) - F.sum(1 - is_entry)
            ).alias("occupancy")
        )
    )


def session_durations(events: DataFrame) -> DataFrame:
    """J2/W5: entry<->exit pairing as an ordered adjacency (state-machine)
    match: an EXIT closes the immediately preceding ENTRY of the same
    (plate, lot, spot).

    The reference zips unordered per-key lists (MainWeekly.scala:111-128) --
    nondeterministic AND misaligned by unmatched exits: a head-truncated
    orphan EXIT shifts every later row_number pairing for that key (observed
    as negative durations). Adjacency pairing via lag() is immune: an orphan
    EXIT's predecessor is not an ENTRY, so it simply doesn't pair -- exactly
    the keyed-state semantics of the streaming sessionizer
    (streaming.stateful.sessionize_stream), so batch and stream agree. One
    window shuffle per key; duration recomputed analytically in minutes
    (MainWeekly.scala:120-124) with the event's own duration_ms kept for
    comparison (the ms-vs-minutes unit bug, SURVEY §1.5).
    """
    key = ["license_plate", "parking_lot_id", "parking_spot_id"]
    w = Window.partitionBy(*key).orderBy("ts")
    flagged = valid_events(events).select(
        *key,
        "vehicle_type",
        "event_type",
        "ts",
        "duration_ms",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("ts").over(w).alias("prev_ts"),
    )
    return (
        flagged.filter(
            (F.col("event_type") == EVENT_EXIT)
            & (F.col("prev_type") == EVENT_ENTRY)
        )
        .select(
            *key,
            "vehicle_type",
            F.col("prev_ts").alias("entry_ts"),
            F.col("ts").alias("exit_ts"),
            "duration_ms",
            (
                (F.unix_millis("ts") - F.unix_millis("prev_ts")) / 60_000.0
            ).alias("duration_min"),
        )
    )


def revenue_by_duration(events: DataFrame, rate: float = RATE_PER_HOUR) -> DataFrame:
    """A8/A9: duration-model revenue and average spend per day and vehicle
    type (MainWeekly.scala:233-255, 280-303, 310-315): minutes x rate / 60,
    minutes derived analytically from the paired session (not the event's
    duration field — the reference recomputes the same way)."""
    sessions = session_durations(events)
    spend = F.col("duration_min") * F.lit(rate) / F.lit(60.0)
    return (
        sessions.groupBy(
            F.date_format("entry_ts", "yyyy-MM-dd").alias("day"), "vehicle_type"
        )
        .agg(
            F.round(F.sum(spend.cast("decimal(18,8)")).cast("double"), 4).alias(
                "revenue"
            ),
            F.round(
                (F.sum(spend.cast("decimal(18,8)")) / F.count("*")).cast("double"), 4
            ).alias("avg_spent"),
            F.count("*").alias("n_sessions"),
        )
    )


def detect_violations(events: DataFrame, users: DataFrame) -> DataFrame:
    """P4/J1: handicapped-slot violation detection (the alert path).

    Reference per-event logic (ParkingEventConsumer.scala:77-101): on ENTRY
    to a handicapped slot, look up the user by plate; no user ->
    'unknown_user'; user not handicapped -> 'unauthorized_user'. Expressed
    as a broadcast LEFT join + when/otherwise — identical code path for
    batch tables and streaming micro-batches (stream-static join).
    """
    u = users.select(
        F.col("parking_plate").alias("u_plate"), F.col("handicapped").alias("u_handicapped")
    )
    candidates = events.filter(
        (F.col("event_type") == EVENT_ENTRY) & F.col("is_slot_handicapped")
    )
    joined = candidates.join(F.broadcast(u), candidates.license_plate == u.u_plate, "left")
    return (
        joined.withColumn(
            "violation_type",
            F.when(F.col("u_plate").isNull(), F.lit("unknown_user")).when(
                ~F.col("u_handicapped"), F.lit("unauthorized_user")
            ),
        )
        .filter(F.col("violation_type").isNotNull())
        .select(
            F.col("license_plate").alias("vehicle_plate"),
            F.col("parking_spot_id").alias("spot_id"),
            F.col("parking_lot_id").alias("lot_id"),
            "violation_type",
            "ts",
        )
    )


def occupancy_percent(events: DataFrame, capacities: DataFrame, asof_ts: str) -> DataFrame:
    """A13: occupancy percent vs capacity per lot and zone
    (doc/schemas/srvc_stats.json:6-31)."""
    occ = occupancy_asof(events, asof_ts)
    return (
        occ.join(F.broadcast(capacities), "parking_lot_id", "right")
        .select(
            "parking_lot_id",
            "zone",
            F.coalesce("occupied_spots", F.lit(0)).alias("occupied_spots"),
            "capacity",
            F.round(
                F.coalesce("occupied_spots", F.lit(0)) * 100.0 / F.col("capacity"), 2
            ).alias("occupancy_pct"),
        )
    )


def slot_state(events: DataFrame) -> DataFrame:
    """T3 batch form: last event per (lot, spot) -> live slot map.

    Mirrors repo-events' ConcurrentHashMap upsert (RepoEventsApi.scala:38-69):
    ENTRY -> occupied + plate, EXIT -> vacant. Batch: row_number over event
    time. The streaming twin lives in inde1_spark.streaming.slot_state.
    """
    w = Window.partitionBy("parking_lot_id", "parking_spot_id").orderBy(
        F.col("ts").desc(), F.col("license_plate").desc()
    )
    return (
        valid_events(events)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.concat_ws("-", "parking_lot_id", "parking_spot_id").alias("slot_key"),
            (F.col("event_type") == EVENT_ENTRY).alias("occupied"),
            F.col("parking_lot_id").alias("lot"),
            F.when(F.col("event_type") == EVENT_ENTRY, F.col("license_plate")).alias(
                "plate"
            ),
            F.col("ts").alias("updated_at"),
        )
    )
