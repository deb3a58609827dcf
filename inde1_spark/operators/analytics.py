"""Reference-parity operators (SURVEY.md §2) mapped onto the driver testdata.

The testdata ``events`` table stands in for the parking-event stream
(FIXTURES.md §5): ``event_type`` plays the ENTRY/EXIT role, ``user_id`` the
license plate / session key, ``value`` the duration/revenue quantity, ``props``
the nested JSON payload. The mapping used throughout:

    ENTRY_TYPE = "view"   ~ PARKING_ENTRY
    EXIT_TYPE  = "click"  ~ PARKING_EXIT
    RATE       = 2.0      ~ rate per hour (srvc-io EnvConfig.scala:19)

Every function is a pure logical-plan builder (DataFrame in -> DataFrame out,
no actions), so Catalyst sees the whole plan: filters reach the parquet scan,
dimension joins broadcast, aggregations get map-side partial combine. Nothing
here collects to the driver — the reference's driver-side aggregation
(MainHourly.scala:99-134) is deliberately not replicated.

Cross-engine determinism (the DuckDB oracle hash gate):
- money/value sums are computed over DECIMAL(18,4)-cast inputs (exact,
  order-independent) then cast back to DOUBLE;
- timestamps in outputs are formatted as strings;
- every ordering used for top-k / pairing is total (explicit tie-breaks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from inde1_spark.functions.exprs import dec_to_double_exact, ratio_round
from inde1_spark.plans.lifecycle import lazy_checkpoint, persist

ENTRY_TYPE = "view"
EXIT_TYPE = "click"
RATE = 2.0

# Exact-sum helper: cast to decimal before summing so the result is
# order-independent (float sums are not associative; at 32 or 1000 partitions
# the combine order differs run to run). Cast back to double for a stable,
# engine-neutral output type.
def _dsum(col: str):
    return F.sum(F.col(col).cast("decimal(18,6)")).cast("double")


def _hour_str(col: str = "ts"):
    return F.date_format(F.date_trunc("hour", F.col(col)), "yyyy-MM-dd HH:mm:ss")


def _day_str(col: str = "ts"):
    return F.date_format(F.date_trunc("day", F.col(col)), "yyyy-MM-dd")


# ---------------------------------------------------------------------------
# Flagship: the hourly aggregate (SURVEY §7.2 step 1; MainHourly.scala)
# ---------------------------------------------------------------------------

def hourly_stats(events: DataFrame) -> DataFrame:
    """Per-hour parking-style stats in ONE aggregation pass.

    Reference semantics: AggregatedStatsSpark per (date, hour) — entry count,
    exit count, clamped occupancy, revenue = occupied x rate
    (MainHourly.scala:96-139 + AggregatedStatsSpark.scala:4-12). The reference
    runs 5+ separate Spark jobs over cached input and merges on the driver;
    here it is a single groupBy with conditional aggregates — one shuffle,
    map-side partials, no driver round-trips. At 100 TB the input scan
    dominates; one pass instead of five is a 5x win before any tuning.
    """
    return (
        events.filter(F.col("event_type").isin(ENTRY_TYPE, EXIT_TYPE))  # P1
        .groupBy(_hour_str().alias("hour_ts"))
        .agg(
            F.count(F.when(F.col("event_type") == ENTRY_TYPE, 1)).alias("n_entries"),
            F.count(F.when(F.col("event_type") == EXIT_TYPE, 1)).alias("n_exits"),
            F.greatest(
                F.lit(0).cast("long"),
                F.count(F.when(F.col("event_type") == ENTRY_TYPE, 1))
                - F.count(F.when(F.col("event_type") == EXIT_TYPE, 1)),
            ).alias("occupancy"),  # A4: clamped diff
            F.round(
                F.greatest(
                    F.lit(0).cast("long"),
                    F.count(F.when(F.col("event_type") == ENTRY_TYPE, 1))
                    - F.count(F.when(F.col("event_type") == EXIT_TYPE, 1)),
                )
                * F.lit(RATE),
                2,
            ).alias("revenue"),  # A6: occupied x rate
        )
    )


# ---------------------------------------------------------------------------
# Projections / filters (P1-P3, F1)
# ---------------------------------------------------------------------------

def filter_project(events: DataFrame) -> DataFrame:
    """IN-list filter + projection + JSON field extraction.

    P1 (MainHourly.scala:68) + P3 flatten (:70-80) + F1 JSON decode — the
    ``props`` JSON column plays the nested payload; ``get_json_object`` stays
    JVM-side (no Python). The filter and the 4-column projection both reach
    the parquet scan (PushedFilters + ReadSchema pruning).
    """
    return events.filter(F.col("event_type").isin(ENTRY_TYPE, EXIT_TYPE)).select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
    )


# ---------------------------------------------------------------------------
# Aggregations (A1-A15)
# ---------------------------------------------------------------------------

def group_count(events: DataFrame) -> DataFrame:
    """A1/A2: two-key group-count (lot x eventType -> day x event_type)."""
    return events.groupBy(
        _day_str().alias("day"), "event_type"
    ).agg(F.count("*").alias("n_events"))


def global_counts(events: DataFrame) -> DataFrame:
    """A3: total / entries / exits / distinct keys — one pass.

    The reference runs three separate count jobs (MainHourly.scala:137-139);
    conditional counts fold them into one scan.
    """
    return events.agg(
        F.count("*").alias("n_total"),
        F.count(F.when(F.col("event_type") == ENTRY_TYPE, 1)).alias("n_entries"),
        F.count(F.when(F.col("event_type") == EXIT_TYPE, 1)).alias("n_exits"),
        F.countDistinct("user_id").alias("n_users"),
    )


def occupancy_clamped(events: DataFrame) -> DataFrame:
    """A4: per-key clamped entries-exits diff (MainHourly.scala:111-117)."""
    return (
        events.filter(F.col("event_type").isin(ENTRY_TYPE, EXIT_TYPE))
        .groupBy("user_id")
        .agg(
            F.greatest(
                F.lit(0).cast("long"),
                F.sum(
                    F.when(F.col("event_type") == ENTRY_TYPE, 1).otherwise(-1)
                ),
            ).alias("occupancy")
        )
    )


def occupancy_asof(events: DataFrame, asof_ts: str = "2024-01-15 00:00:00") -> DataFrame:
    """A5: exact occupancy state machine at time T, as window functions.

    The reference folds time-ordered events in driver Scala
    (MainDaily.scala:81-101). Batch-idiomatic Spark: last event per key at or
    before T via row_number over (key, ts desc), then count keys whose last
    event is an ENTRY. One shuffle on the key; scales to any number of keys
    because state never leaves the executors.
    """
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.filter(F.col("event_type").isin(ENTRY_TYPE, EXIT_TYPE))
        .filter(F.col("ts") <= F.lit(asof_ts).cast("timestamp"))  # P6
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_keys"))
    )


def revenue_duration(events: DataFrame) -> DataFrame:
    """A8: duration-model revenue per day (MainWeekly.scala:233-255).

    sum(value) x rate / 60 over EXIT events, grouped by calendar day. The sum
    is exact-decimal (order-independent); the rate/60 scaling happens once on
    the exact total, in double, so both engines multiply the same two numbers.
    """
    return (
        events.filter(F.col("event_type") == EXIT_TYPE)
        .groupBy(_day_str().alias("day"))
        .agg((_dsum("value") * F.lit(RATE / 60.0)).alias("revenue"))
    )


def avg_per_group(events: DataFrame) -> DataFrame:
    """A9: average value per (day, event_type) (MainWeekly.scala:280-303).

    avg computed as exact-decimal sum / count so both engines divide the same
    two exact numbers.
    """
    return events.groupBy(_day_str().alias("day"), "event_type").agg(
        (_dsum("value") / F.count("value")).alias("avg_value"),
        F.count("*").alias("n_events"),
    )


def cumulative_series(events: DataFrame) -> DataFrame:
    """A10: running cumulative entries/exits per day (MainDaily.scala:132-164).

    Daily pre-aggregate first (shrinks the window input from N events to
    ~30 rows), then an unbounded-preceding running sum. At scale, never run a
    global-ordered window over raw events — aggregate to the output grain
    first; the window then costs nothing.
    """
    daily = (
        events.filter(F.col("event_type").isin(ENTRY_TYPE, EXIT_TYPE))
        .groupBy(_day_str().alias("day"))
        .agg(
            F.count(F.when(F.col("event_type") == ENTRY_TYPE, 1)).alias("d_entries"),
            F.count(F.when(F.col("event_type") == EXIT_TYPE, 1)).alias("d_exits"),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        "day",
        F.sum("d_entries").over(w).alias("cum_entries"),
        F.sum("d_exits").over(w).alias("cum_exits"),
    )


def daily_buckets(events: DataFrame) -> DataFrame:
    """A11: per-calendar-day event counts (MainWeekly.scala:211-231)."""
    return events.groupBy(_day_str().alias("day")).agg(
        F.count("*").alias("n_events"),
        _dsum("value").alias("sum_value"),
    )


def duration_stats(events: DataFrame) -> DataFrame:
    """A12: min/avg/max of the duration-like measure per group
    (doc/schemas/srvc_stats.json:33-47)."""
    return events.groupBy("event_type").agg(
        F.min("value").alias("min_value"),
        (_dsum("value") / F.count("value")).alias("avg_value"),
        F.max("value").alias("max_value"),
    )


def heatmap_hour(events: DataFrame) -> DataFrame:
    """A14: entries-per-hour-of-day heatmap (doc/schemas/srvc_stats.json:63-76)."""
    return (
        events.filter(F.col("event_type") == ENTRY_TYPE)
        .groupBy(F.hour("ts").cast("long").alias("hour_of_day"))
        .agg(F.count("*").alias("n_entries"))
    )


def entry_exit_ratio(events: DataFrame) -> DataFrame:
    """A15/J3: entries & exits side by side per hour-of-day with 0-fill.

    The reference merges two driver-side maps over the union of their key
    sets (MainHourly.scala:101-117). Conditional aggregation produces the
    full-outer merge in one pass, no join at all.
    """
    return (
        events.filter(F.col("event_type").isin(ENTRY_TYPE, EXIT_TYPE))
        .groupBy(F.hour("ts").cast("long").alias("hour_of_day"))
        .agg(
            F.coalesce(
                F.count(F.when(F.col("event_type") == ENTRY_TYPE, 1)), F.lit(0)
            ).alias("n_entries"),
            F.coalesce(
                F.count(F.when(F.col("event_type") == EXIT_TYPE, 1)), F.lit(0)
            ).alias("n_exits"),
            ratio_round(
                F.count(F.when(F.col("event_type") == ENTRY_TYPE, 1)),
                F.greatest(
                    F.count(F.when(F.col("event_type") == EXIT_TYPE, 1)),
                    F.lit(1).cast("long"),
                ),
                4,
            ).alias("entry_exit_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Joins (J1-J4)
# ---------------------------------------------------------------------------

def enrich_users(events: DataFrame, customer: DataFrame) -> DataFrame:
    """J1: stream/fact enrichment against the user dimension.

    The reference does a per-event Redis GET (ParkingEventConsumer.scala:77-85)
    = a LEFT OUTER equi-join with null -> default. Spark-first: broadcast the
    dimension so the fact side never shuffles. ``c_custkey % 3 != 0`` thins
    the dimension so some events have no user (the unknown-user path,
    srvc-alert/.../UserService.scala:31-40).
    """
    users = customer.filter(F.col("c_custkey") % 3 != 0).select(
        F.col("c_custkey").alias("user_key"),
        F.col("c_name").alias("user_name"),
        F.col("c_acctbal").alias("acctbal"),
    )
    return (
        events.join(F.broadcast(users), events.user_id == users.user_key, "left")
        .groupBy(
            F.coalesce("user_name", F.lit("unknown")).alias("user_name"),
        )
        .agg(
            F.count("*").alias("n_events"),
            _dsum("value").alias("sum_value"),
        )
    )


TTL_BASE = "2024-01-01 00:00:00"  # temp-user registration epoch (testdata)
TTL_SPREAD_HOURS = 720            # expiries spread across the event month


def users_with_ttl(customer: DataFrame) -> DataFrame:
    """The user dimension with SETEX-style expiry modeled as event-time
    validity (UserService.scala:75-82: createTemporaryUser stores the user
    with a TTL; an expired key is simply absent on the next GET).

    Same dimension as ``enrich_users`` (c_custkey % 3 != 0); every fifth
    user is temporary, valid until a deterministic per-user deadline
    (custkey-spread across the event month). ``valid_until`` NULL means
    permanent. Snapshot-at-event-time is then a join predicate, not a
    mutable store.
    """
    valid_until = F.when(
        F.col("c_custkey") % 5 == 0,
        F.to_timestamp(F.lit(TTL_BASE))
        + F.make_interval(
            hours=(F.col("c_custkey") % TTL_SPREAD_HOURS).cast("int")
        ),
    )
    return customer.filter(F.col("c_custkey") % 3 != 0).select(
        F.col("c_custkey").alias("user_key"),
        F.col("c_name").alias("user_name"),
        valid_until.alias("valid_until"),
    )


def enrich_users_ttl(events: DataFrame, customer: DataFrame) -> DataFrame:
    """J1 + TTL: enrichment against the expiring user dimension.

    An event joins its user only while the user's key is still live at the
    event's timestamp — the per-event Redis GET the reference does would
    miss an expired SETEX key, so events after ``valid_until`` resolve to
    the unknown-user path. Broadcast hash join on the equi key with the
    validity window as the residual condition: the fact side never
    shuffles, identical plan shape to ``enrich_users``.
    """
    users = users_with_ttl(customer)
    cond = (events.user_id == users.user_key) & (
        users.valid_until.isNull() | (events.ts < users.valid_until)
    )
    return (
        events.join(F.broadcast(users), cond, "left")
        .groupBy(F.coalesce("user_name", F.lit("unknown")).alias("user_name"))
        .agg(
            F.count("*").alias("n_events"),
            _dsum("value").alias("sum_value"),
        )
    )


def alerts(events: DataFrame, customer: DataFrame) -> DataFrame:
    """P4+J1: violation detection (ParkingEventConsumer.scala:77-101).

    Reference predicate: handicapped slot AND NOT authorized user ->
    'unauthorized_user'; user missing -> 'unknown_user'. Testdata mapping:
    'error' events are the protected-slot events; the user dimension is
    customers with c_custkey % 3 != 0; authorization = acctbal >= 0.
    Broadcast stream-static join + when/otherwise — the streaming variant in
    inde1_spark.streaming.alerts reuses this exact transform.
    """
    users = customer.filter(F.col("c_custkey") % 3 != 0).select(
        F.col("c_custkey").alias("user_key"),
        F.col("c_acctbal").alias("acctbal"),
    )
    protected = events.filter(F.col("event_type") == "error")
    joined = protected.join(
        F.broadcast(users), protected.user_id == users.user_key, "left"
    )
    return joined.select(
        "event_id",
        F.col("user_id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        F.when(F.col("user_key").isNull(), F.lit("unknown_user"))
        .when(F.col("acctbal") < 0, F.lit("unauthorized_user"))
        .otherwise(F.lit("authorized"))
        .alias("violation_type"),
    ).filter(F.col("violation_type") != "authorized")


def session_pairing(events: DataFrame) -> DataFrame:
    """J2/W5: deterministic entry<->exit session matching.

    The reference zips unordered entry/exit lists per key
    (MainWeekly.scala:111-128) — order-unstable. Defined semantics here: the
    n-th ENTRY of a key pairs with the n-th EXIT of that key, both numbered
    by (ts, event_id). One shuffle per side on the same key -> sort-merge
    join on (user_id, rn); at scale both sides are co-partitioned so AQE
    turns this into a cheap join. Duration standardized to minutes
    analytically (SURVEY §1.5 unit-bug resolution).
    """
    entries = (
        events.filter(F.col("event_type") == ENTRY_TYPE)
        .select("user_id", F.col("ts").alias("entry_ts"), F.col("event_id").alias("entry_id"))
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("user_id").orderBy("entry_ts", "entry_id")))
    )
    exits = (
        events.filter(F.col("event_type") == EXIT_TYPE)
        .select("user_id", F.col("ts").alias("exit_ts"), F.col("event_id").alias("exit_id"))
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("user_id").orderBy("exit_ts", "exit_id")))
    )
    return entries.join(exits, ["user_id", "rn"]).select(
        "user_id",
        F.col("rn").cast("long").alias("rn"),
        F.date_format("entry_ts", "yyyy-MM-dd HH:mm:ss").alias("entry_ts_str"),
        F.date_format("exit_ts", "yyyy-MM-dd HH:mm:ss").alias("exit_ts_str"),
        F.round(
            (F.unix_timestamp("exit_ts") - F.unix_timestamp("entry_ts")) / 60.0, 2
        ).alias("duration_min"),
    )


def occupancy_pct(events: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    """A13: occupancy percent vs capacity, per lot(nation) and zone(region).

    Capacity dimension = customers per nation; occupancy = distinct active
    users per nation. Two broadcast joins; the fact scan is touched once.
    """
    cap = customer.groupBy("c_nationkey").agg(F.count("*").alias("capacity"))
    active = (
        events.filter(F.col("event_type") == ENTRY_TYPE)
        .join(F.broadcast(customer), events.user_id == customer.c_custkey)
        .groupBy("c_nationkey")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return (
        active.join(F.broadcast(cap), "c_nationkey")
        .join(F.broadcast(nation), active.c_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            "n_active",
            "capacity",
            ratio_round(F.col("n_active") * 100, F.col("capacity"), 4).alias(
                "occupancy_pct"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Windows / sorts / top-k / set ops (W1-W5, U1)
# ---------------------------------------------------------------------------

def top_k_users(events: DataFrame, k: int = 10) -> DataFrame:
    """W2: top-k keys by entry frequency (doc/schemas/srvc_stats.json:82-95).

    Total order (count desc, user_id asc) so the k-set is deterministic.
    Aggregate-then-limit: the sort sees one row per key, not per event.
    """
    return (
        events.filter(F.col("event_type") == ENTRY_TYPE)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_entries"))
        .orderBy(F.col("n_entries").desc(), F.col("user_id").asc())
        .limit(k)
    )


def max_ts(events: DataFrame) -> DataFrame:
    """W4: latest event time per type (MainDaily.scala:170)."""
    return events.groupBy("event_type").agg(
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("max_ts_str"),
        F.count("*").alias("n_events"),
    )


def set_ops(events: DataFrame) -> DataFrame:
    """U1 + the free set operators: union/intersect/except of the entry-key
    and exit-key sets, reported as counts."""
    entry_keys = events.filter(F.col("event_type") == ENTRY_TYPE).select("user_id").distinct()
    exit_keys = events.filter(F.col("event_type") == EXIT_TYPE).select("user_id").distinct()
    return (
        entry_keys.union(exit_keys).distinct().agg(F.count("*").alias("n"))
        .select(F.lit("union").alias("op"), "n")
        .union(
            entry_keys.intersect(exit_keys).agg(F.count("*").alias("n"))
            .select(F.lit("intersect").alias("op"), "n")
        )
        .union(
            entry_keys.exceptAll(exit_keys).agg(F.count("*").alias("n"))
            .select(F.lit("except").alias("op"), "n")
        )
    )


def rollup_nation_region(
    orders: DataFrame, customer: DataFrame, nation: DataFrame, region: DataFrame
) -> DataFrame:
    """Grouping-sets extension (SURVEY §2.4 'absent' row): rollup order value
    over the region > nation hierarchy (zone > lot analogue)."""
    joined = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_orders"), _dsum("o_totalprice").alias("sum_price"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "n_orders",
            "sum_price",
        )
    )


def revenue_daily_model(events: DataFrame) -> DataFrame:
    """A7: the daily revenue model — occupied x rate x 24
    (MainDaily.scala:127-130). Third of the reference's three mutually
    inconsistent revenue models; kept as its own named query (SURVEY §7.4)."""
    occupied = (
        events.filter(F.col("event_type").isin(ENTRY_TYPE, EXIT_TYPE))
        .groupBy(_day_str().alias("day"))
        .agg(
            F.greatest(
                F.lit(0).cast("long"),
                F.sum(F.when(F.col("event_type") == ENTRY_TYPE, 1).otherwise(-1)),
            ).alias("occupied")
        )
    )
    return occupied.select(
        "day",
        "occupied",
        F.round(F.col("occupied") * F.lit(RATE) * F.lit(24), 2).alias("revenue_daily"),
    )


VEHICLE_TYPES = ("car", "truck", "motorcycle", "van", "suv")


def weekly_revenue_by_type(events: DataFrame) -> DataFrame:
    """The weekly revenue-by-type document (MainWeekly.scala:310-319) — the
    one reference output with no hash-gated twin until round 2.

    Per (ISO week, vehicle type): duration-model revenue, average spend and
    exit count. The type dimension is derived from the event payload
    (props.k mod |types|, the testdata stand-in for vehicle.vehicleType).
    Exact-decimal sums; avg = exact-sum/count then one rate scaling, so
    both engines multiply the same two doubles.
    """
    vtype = F.element_at(
        F.array(*[F.lit(t) for t in VEHICLE_TYPES]),
        (F.get_json_object("props", "$.k").cast("long") % F.lit(len(VEHICLE_TYPES)) + 1).cast("int"),
    )
    return (
        events.filter(F.col("event_type") == EXIT_TYPE)
        .groupBy(
            F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("week"),
            vtype.alias("vtype"),
        )
        .agg(
            (_dsum("value") * F.lit(RATE / 60.0)).alias("revenue"),
            ((_dsum("value") / F.count("value")) * F.lit(RATE / 60.0)).alias("avg_spent"),
            F.count("*").alias("n_exits"),
        )
    )


def exists_check(events: DataFrame) -> DataFrame:
    """W3: the limit-1 existence probe (MainHourly.scala:82-87) — made
    deterministic with a total order."""
    return (
        events.filter(F.col("event_type") == ENTRY_TYPE)
        .select("event_id", "event_type")
        .orderBy("event_id")
        .limit(1)
    )


def string_funcs(events: DataFrame) -> DataFrame:
    """F5: the reference's string workloads — key construction
    (parking-stats:hourly:$date:$hour, MainHourly.scala:245), composite
    keys ($lot-$spot, RepoEventsApi.scala:39), zero-padding (%02d,
    MainHourly.scala:18-20), regex extraction (MainDaily.scala:47-58)."""
    return events.filter(F.col("event_id") < 500).select(
        "event_id",
        F.concat_ws(
            ":",
            F.lit("parking-stats"),
            F.lit("hourly"),
            _day_str(),
            F.lpad(F.hour("ts").cast("string"), 2, "0"),
        ).alias("redis_key"),
        F.concat_ws("-", "event_type", F.col("user_id").cast("string")).alias(
            "composite_key"
        ),
        F.regexp_extract("props", '"k": (\\d+)', 1).alias("k_extracted"),
        F.upper("event_type").alias("type_upper"),
        F.substring("event_type", 1, 3).alias("type_prefix"),
    )


def json_document(events: DataFrame) -> DataFrame:
    """F1: hand-built JSON document strings, as the reference serializes its
    stats (MainHourly.scala:158-171 builds JSON by string concatenation).
    Engine-neutral by construction (to_json key ordering/whitespace varies
    between engines; explicit concat does not)."""
    daily = events.groupBy(_day_str().alias("day")).agg(
        F.count("*").alias("n"),
        _dsum("value").alias("sv"),
    )
    return daily.select(
        "day",
        F.concat(
            F.lit('{"date":"'),
            F.col("day"),
            F.lit('","events":'),
            F.col("n").cast("string"),
            F.lit(',"value":'),
            F.col("sv").cast("string"),
            F.lit("}"),
        ).alias("doc"),
    )


def time_funcs(events: DataFrame) -> DataFrame:
    """F2: time bucketing/arithmetic family — truncation, formatting,
    day-of-week, previous-period arithmetic (MainHourly.scala:14-24,
    MainDaily.scala:22-32)."""
    return (
        events.filter(F.col("event_id") < 200)
        .select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "hour_trunc"
            ),
            (F.dayofweek("ts") - 1).cast("long").alias("dow_sun0"),
            F.date_format(F.col("ts") - F.expr("INTERVAL 1 HOUR"), "yyyy-MM-dd HH:mm:ss")
            .alias("prev_hour"),
            F.unix_timestamp("ts").alias("epoch_sec"),
        )
    )


def window_funcs(events: DataFrame) -> DataFrame:
    """W-family extension (SURVEY §2.5 'absent' row): rank / dense_rank /
    lag / lead with explicit frames — needed by A5/A10/J2 rewrites anyway."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.filter(F.col("user_id") < 10)
        .select(
            "event_id",
            "user_id",
            F.rank().over(Window.partitionBy("user_id").orderBy("event_type"))
            .cast("long")
            .alias("rank_by_type"),
            F.dense_rank()
            .over(Window.partitionBy("user_id").orderBy("event_type"))
            .cast("long")
            .alias("dense_rank_by_type"),
            F.lag("value").over(w).alias("prev_value"),
            F.lead("value").over(w).alias("next_value"),
            F.sum(F.lit(1))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .alias("running_n"),
        )
    )


def approx_distinct(events: DataFrame) -> DataFrame:
    """Approximate distinct counting (HLL sketch) per event type.

    The raw sketch estimate is engine-specific (Spark HLL++ vs DuckDB HLL),
    so the gate-checkable output is the sketch's CONTRACT, not its value:
    ``approx_within_5pct`` asserts |approx - exact| <= 5% * exact with the
    sketch run at rsd=0.01 (HLL++ is deterministic for fixed data, so this
    is a stable boolean, and the oracle emits the contract as TRUE). The
    exact count rides along as the value being estimated. The purely exact
    twin is ``global_counts``.
    """
    return (
        events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .select(
            "event_type",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("approx_within_5pct"),
            "exact_users",
        )
    )


def resample_ffill(events: DataFrame) -> DataFrame:
    """Hourly grid resample with forward fill — the gap-filling rollup of
    time-series stores (TimescaleDB's time_bucket_gapfill + locf).

    Per event type, the last observed ``value`` in each hour (by the total
    order (ts, event_id) — a single struct-max aggregate, no window over
    raw events) is placed on a dense hour grid spanning the data; hours
    with no events carry the previous hour's value forward. Scale shape:
    the grid is hours x keys — bounded by time span and keyspace, NOT by
    event count — so the cross join is a few thousand rows however big the
    fact table, and the forward-fill window runs per key over that bounded
    series. Leading hours before a key's first observation stay null.
    """
    hour = F.date_trunc("hour", F.col("ts"))
    hourly = events.groupBy("event_type", hour.alias("hour")).agg(
        F.max(F.struct("ts", "event_id", "value"))
        .getField("value")
        .alias("last_value")
    )
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hour")
    )
    types = events.select("event_type").distinct()
    grid = hours.crossJoin(F.broadcast(types))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["event_type", "hour"], "left")
        .select(
            "event_type",
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            F.last("last_value", ignorenulls=True).over(w).alias("value_ffill"),
            F.col("last_value").isNotNull().alias("observed"),
        )
    )


def asof_join(events: DataFrame) -> DataFrame:
    """As-of join: each 'error' event matched to the most recent prior
    'view' of the same user (J2's general form; time-series enrichment).

    Union-and-window formulation: interleave both sides ordered by time and
    carry the last left-side row forward with ``last(ignorenulls)`` — one
    shuffle on the key, no range-explode, no per-row lookup. This is the
    scalable as-of pattern (a naive theta-join on ts <= ts explodes
    quadratically; DuckDB spells the same thing ASOF JOIN).
    """
    from inde1_spark.operators.joins import asof_join as asof

    views = events.filter(F.col("event_type") == ENTRY_TYPE).select(
        "user_id", F.col("event_id").alias("view_id"), "ts"
    )
    errors = events.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id"), "ts"
    )
    return asof(
        errors,
        views,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload=("view_id",),
        left_order="error_id",
        right_order="view_id",
    ).select(
        "error_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("error_ts_str"),
        F.col("asof_view_id").alias("prior_view_id"),
        F.date_format("asof_ts", "yyyy-MM-dd HH:mm:ss").alias("prior_view_ts_str"),
        F.round(
            (F.unix_timestamp("ts") - F.unix_timestamp("asof_ts")) / 60.0, 2
        ).alias("gap_min"),
    )


def percentiles(events: DataFrame) -> DataFrame:
    """Exact percentiles (median / p90) of the measure per event type.

    ``percentile`` (exact, linear interpolation) — matches DuckDB's
    quantile_cont on identical sorted inputs; interpolation arithmetic is
    double-deterministic. Exact percentile requires a per-group sort: fine
    at per-group cardinalities, use approx_percentile at 100 TB (exposed via
    ``approx_distinct``-style rows-only query if needed).
    """
    return events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
        F.count("*").alias("n"),
    )


def corr_exact(events: DataFrame) -> DataFrame:
    """Pearson correlation from closed-form exact sums.

    Built-in ``corr`` is a one-pass streaming algorithm whose result depends
    on accumulation order (not oracle-stable). The closed form over
    exact-decimal sums — r = (n·Σxy − Σx·Σy) / sqrt((n·Σx²−Σx²)(n·Σy²−Σy²))
    — is order-independent and still one aggregation pass. x = hour of day,
    y = value.
    """
    x = F.hour("ts").cast("double")
    y = F.col("value")
    agg = events.agg(
        F.count("*").cast("double").alias("n"),
        F.sum((x).cast("decimal(28,6)")).cast("double").alias("sx"),
        F.sum((y).cast("decimal(28,6)")).cast("double").alias("sy"),
        F.sum((x * x).cast("decimal(28,6)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(28,6)")).cast("double").alias("syy"),
        F.sum((x * y).cast("decimal(28,6)")).cast("double").alias("sxy"),
    )
    r = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.round(r, 6).alias("corr_hour_value"),
    )


def value_histogram(events: DataFrame, n_buckets: int = 10, lo: float = 0.0, hi: float = 100.0) -> DataFrame:
    """Fixed-range histogram of the measure (portable width_bucket).

    bucket = clamp(floor((x - lo) / width)) in double over identical inputs —
    engine-deterministic. One aggregation pass, map-side combinable.
    """
    width = (hi - lo) / n_buckets
    bucket = F.least(
        F.lit(n_buckets - 1).cast("long"),
        F.greatest(
            F.lit(0).cast("long"),
            F.floor((F.col("value") - F.lit(lo)) / F.lit(width)).cast("long"),
        ),
    )
    return (
        events.groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("n_events"))
        .withColumn("bucket_lo", F.round(F.col("bucket") * F.lit(width) + F.lit(lo), 2))
    )


def cube_day_type(events: DataFrame) -> DataFrame:
    """CUBE over (day, event_type) with grouping indicators — the full
    grouping-sets surface (SURVEY §2.4 'absent' row, beyond rollup)."""
    return (
        events.cube(_day_str().alias("day"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), _dsum("value").alias("sum_value"))
        .select(
            F.coalesce("day", F.lit("ALL")).alias("day"),
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            "n_events",
            "sum_value",
        )
    )


def sessionize_gap(events: DataFrame, gap_minutes: int = 60) -> DataFrame:
    """T4 batch analogue: gap-based sessionization per user.

    Gaps-and-islands with lag(): a new session starts when the gap to the
    previous event exceeds ``gap_minutes``. Equivalent to
    ``session_window(ts, gap)`` but expressible identically in the oracle;
    the streaming engine uses session_window (inde1_spark.streaming).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)))
            > gap_minutes * 60,
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    sess = flagged.select(
        "user_id",
        "ts",
        F.sum("is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_id"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.round((F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))) / 60.0, 2)
        .alias("session_min"),
    )


# ---------------------------------------------------------------------------
# Range / interval join (the general form of P5 time-range filtering)
# ---------------------------------------------------------------------------

RANGE_WINDOW_HOURS = (0, 6, 12, 18)  # four windows per day...
RANGE_WINDOW_MIN = 90                # ...of 90 minutes each


def maintenance_windows(events: DataFrame) -> DataFrame:
    """Deterministic interval dimension derived from the event span: four
    90-minute windows per day (the testdata stand-in for a maintenance /
    promo / outage calendar)."""
    days = events.select(F.date_trunc("day", "ts").alias("day")).distinct()
    wins = days.select(
        "day", F.explode(F.array(*[F.lit(h) for h in RANGE_WINDOW_HOURS])).alias("h")
    )
    start = F.col("day") + F.make_interval(hours=F.col("h").cast("int"))
    end = start + F.make_interval(mins=F.lit(RANGE_WINDOW_MIN))
    return wins.select(
        F.concat_ws(
            ":", F.date_format("day", "yyyy-MM-dd"), F.col("h").cast("string")
        ).alias("window_id"),
        start.alias("w_start"),
        end.alias("w_end"),
    )


def range_join_windows(events: DataFrame) -> DataFrame:
    """Events aggregated into overlapping time windows via a bucketed
    range join.

    Spark has no native range-join optimization; a naive ``ts BETWEEN
    start AND end`` theta-join plans as BroadcastNestedLoopJoin (every
    event probes every window). The scale spelling: expand each interval
    to the hour buckets it covers, equi-join events on their own hour
    bucket, and keep the range predicate as a residual filter. The join is
    a hash join on the bucket key — candidates are only the events in
    hours the window touches, and the same trick works for any
    granularity (pick the bucket ~= median interval length). Exact decimal
    sums for the oracle hash.
    """
    wins = maintenance_windows(events)
    wb = wins.select(
        "window_id",
        "w_start",
        "w_end",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "w_start"),
                F.date_trunc("hour", F.col("w_end") - F.expr("INTERVAL 1 SECOND")),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bucket"),
    )
    ev = events.select(
        "event_id", "ts", "value", F.date_trunc("hour", "ts").alias("bucket")
    )
    joined = ev.join(F.broadcast(wb), "bucket").filter(
        (F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end"))
    )
    return joined.groupBy("window_id").agg(
        F.count("*").alias("n_events"),
        _dsum("value").alias("sum_value"),
    )


DOC_LANGS = ("de", "en", "es", "fr", "zh")  # pivot columns, pinned


def pivot_source_lang(documents: DataFrame) -> DataFrame:
    """Pivot / crosstab: documents per (source, language) as a wide table.

    The relational pivot operator (reference-class engines expose it as
    PIVOT; Spark as ``groupBy().pivot()``). The language list is PINNED:
    dynamic pivots need a values-discovery job (distinct + collect over the
    corpus) before the plan even exists. With the values known, the pivot
    is spelled as conditional aggregates — the same logical form
    ``pivot()`` lowers to, but in ONE map-side-combined exchange on the
    source key (Spark's two-phase PivotFirst plan costs a second exchange
    for nothing when values are pinned; plan-pinned at max_exchanges=1).
    Cells with no rows are exact zeros, so the wide row hashes
    deterministically.
    """
    return documents.groupBy("source").agg(
        *[
            F.count(F.when(F.col("lang") == lang, 1)).alias(lang)
            for lang in DOC_LANGS
        ]
    )


def approx_percentiles(events: DataFrame) -> DataFrame:
    """Sketch percentiles with their accuracy CONTRACT asserted against
    exact — the 100 TB path ``percentiles``'s docstring promises.

    ``approx_percentile`` (KLL-style rank sketch, single pass, mergeable —
    the per-group sort exact percentile needs doesn't exist at corpus
    scale) returns an actual data value whose RANK is within n/accuracy of
    the target rank. The sketch value itself is engine-specific, so the
    gate checks that rank contract directly: re-rank the returned value
    against the group (count of values strictly below / at most it) and
    assert its rank interval overlaps ``[q*n - n/acc - 1, q*n + n/acc + 1]``.
    Unlike a value-range tolerance, this holds for ANY distribution at ANY
    scale factor — it is the algorithm's published guarantee, so the
    DuckDB oracle's literal TRUE is sound. Exact percentiles ride along.
    """
    acc = 10000
    ap = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50"),
        F.expr("percentile(value, 0.9)").alias("p90"),
        F.expr(f"approx_percentile(value, array(0.5, 0.9), {acc})").alias("ap"),
        F.count("*").alias("n"),
    )
    err = F.ceil(F.col("n") / F.lit(acc)) + 1  # +1 absorbs floor/ceil edges

    def _rank_ok(q: float, idx: int):
        v = F.element_at("ap", idx)
        below = F.sum(F.when(F.col("value") < v, 1).otherwise(0))
        at_most = F.sum(F.when(F.col("value") <= v, 1).otherwise(0))
        target = F.lit(q) * F.col("n")
        # value occupies ranks [below+1, at_most]; contract: that interval
        # overlaps [target - err, target + err]
        return (below + 1 <= target + err) & (at_most >= target - err)

    return (
        events.join(F.broadcast(ap), "event_type")
        .groupBy("event_type", "p50", "p90", "ap", "n")
        .agg(
            _rank_ok(0.5, 1).alias("p50_within_tol"),
            _rank_ok(0.9, 2).alias("p90_within_tol"),
        )
        .select("event_type", "p50_within_tol", "p90_within_tol", "p50", "p90", "n")
    )


EWMA_ALPHA_PCT = 30  # smoothing weight, percent (alpha = 0.3)


def _ewma_folded(events: DataFrame, alpha_pct: int) -> DataFrame:
    """(event_type, out): per-key ordered daily series folded to
    array<struct<day, v, prev_micro, ewma_micro>> — prev_micro is the
    PRE-update state (the one-step-ahead forecast for that day; 0-and-first
    for the opening day). Shared by ewma_series and ewma_anomaly."""
    a = alpha_pct / 100.0
    daily = (
        events.groupBy("event_type", _day_str().alias("day"))
        .agg(_dsum("value").alias("v"))
    )
    series = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "v"))).alias("s")
    )
    out_t = "array<struct<day:string,v:double,prev_micro:bigint,ewma_micro:bigint>>"
    init = F.struct(
        F.lit(0).cast("long").alias("prev_micro"),
        F.lit(True).alias("first"),
        F.array().cast(out_t).alias("out"),
    )

    def _step(acc, x):
        e_new = F.when(
            acc["first"],
            F.floor(x["v"] * F.lit(1e6) + F.lit(0.5)).cast("long"),
        ).otherwise(
            F.floor(
                (
                    F.lit(a) * x["v"]
                    + F.lit(1.0 - a) * (acc["prev_micro"].cast("double") / F.lit(1e6))
                )
                * F.lit(1e6)
                + F.lit(0.5)
            ).cast("long")
        )
        return F.struct(
            e_new.alias("prev_micro"),
            F.lit(False).alias("first"),
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        x["day"].alias("day"),
                        x["v"].alias("v"),
                        F.when(acc["first"], F.lit(None).cast("long"))
                        .otherwise(acc["prev_micro"])
                        .alias("prev_micro"),
                        e_new.alias("ewma_micro"),
                    )
                ),
            ).alias("out"),
        )

    return series.select(
        "event_type", F.aggregate(F.col("s"), init, _step)["out"].alias("out")
    )




def ewma_series(events: DataFrame, alpha_pct: int = EWMA_ALPHA_PCT) -> DataFrame:
    """Exponentially weighted moving average of the daily value series per
    event type — the smoothing pass of every monitoring dashboard.

    EWMA is inherently sequential (e_t = a*x_t + (1-a)*e_{t-1}), which is
    exactly what a distributed engine must NOT do over raw events. The
    scale spelling: aggregate the corpus to the bounded per-key daily
    series first (one map-side-combined shuffle; 30 rows per key however
    big the fact table), then fold the ORDERED series row-locally inside
    one array aggregate per key. State never exceeds |days| per key.

    Determinism: daily sums are exact decimals; the fold carries the EWMA
    as a MICRO-SCALED LONG (floor(x*1e6+0.5) — IEEE-exact both engines,
    round() is not), so every step re-derives the same long from the same
    doubles in the same order in any engine. The DuckDB twin is a
    recursive CTE over the same day ranks.
    """
    folded = _ewma_folded(events, alpha_pct)
    ex = folded.select("event_type", F.explode("out").alias("o"))
    return ex.select(
        "event_type",
        F.col("o")["day"].alias("day"),
        (F.col("o")["ewma_micro"].cast("double") / F.lit(1e6)).alias("ewma"),
    )


ANOMALY_PCT = 40  # flag days whose value misses the EWMA forecast by > 40%


def ewma_anomaly(
    events: DataFrame,
    alpha_pct: int = EWMA_ALPHA_PCT,
    tol_pct: int = ANOMALY_PCT,
) -> DataFrame:
    """Forecast-residual anomaly detection on the daily value series: a day
    is anomalous when its value misses the previous day's EWMA (the
    one-step-ahead forecast) by more than ``tol_pct`` percent — the
    metric-alerting pattern (the reference alerts per event; this alerts
    per TREND break).

    Same bounded-series fold as ``ewma_series`` (the helper carries the
    pre-update forecast per day); the flag compares engine-identical
    doubles derived from the snapped longs. Opening days have no forecast
    and are never flagged. Output is the flagged days only, with their
    forecast and realized value.
    """
    folded = _ewma_folded(events, alpha_pct)
    ex = folded.select("event_type", F.explode("out").alias("o"))
    forecast = F.col("o")["prev_micro"].cast("double") / F.lit(1e6)
    v = F.col("o")["v"]
    return (
        ex.filter(
            F.col("o")["prev_micro"].isNotNull()
            & (
                F.abs(v - forecast) * F.lit(100.0)
                > F.lit(float(tol_pct)) * forecast
            )
        )
        .select(
            "event_type",
            F.col("o")["day"].alias("day"),
            v.alias("value"),
            forecast.alias("forecast"),
        )
    )


FUNNEL_STEPS = ("signup", "view", "click", "purchase")


def funnel_steps(events: DataFrame) -> DataFrame:
    """Ordered-funnel conversion: users whose FIRST occurrence of each step
    strictly follows their first occurrence of the previous step — the
    product-analytics funnel as one aggregation pass.

    Per-user state is four conditional MINs in a single groupBy (no joins,
    no per-step subqueries — the self-join spelling scans the corpus once
    per step); the step predicate chain evaluates row-locally on the
    per-user row, and the final rollup is a 1-row aggregate exploded into
    one row per step. Strict < on the (engine-identical, us-truncated)
    timestamps keeps the order test deterministic; equal first-times do
    not count as progression. Conversion is exact integer round vs the
    step-1 population.
    """
    firsts = [
        F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(f"t{i}")
        for i, s in enumerate(FUNNEL_STEPS)
    ]
    per_user = events.groupBy("user_id").agg(*firsts)
    done = [F.col("t0").isNotNull()]
    for i in range(1, len(FUNNEL_STEPS)):
        done.append(done[i - 1] & (F.col(f"t{i}") > F.col(f"t{i - 1}")))
    # when/otherwise(0), not a bare cast: the predicate is NULL (not false)
    # for a user whose prior steps completed but step-i never happened, and
    # an all-NULL SUM is NULL while the oracle's SUM(CASE ... ELSE 0 END)
    # is 0 — spell the count so degenerate funnels agree exactly.
    counts = per_user.agg(
        *[
            F.sum(F.when(d, 1).otherwise(0)).cast("long").alias(f"c{i}")
            for i, d in enumerate(done)
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).cast("long").alias("step"),
                F.lit(s).alias("step_name"),
                F.col(f"c{i}").alias("n_users"),
            )
            for i, s in enumerate(FUNNEL_STEPS)
        ]
    )
    ex = counts.select(F.col("c0").alias("base"), F.explode(rows).alias("r"))
    return ex.select(
        F.col("r")["step"].alias("step"),
        F.col("r")["step_name"].alias("step_name"),
        F.col("r")["n_users"].alias("n_users"),
        ratio_round(
            F.col("r")["n_users"], F.greatest(F.col("base"), F.lit(1).cast("long")), 4
        ).alias("conversion"),
    )


RETENTION_MAX_OFFSET = 7


def retention_cohorts(
    events: DataFrame, max_offset: int = RETENTION_MAX_OFFSET
) -> DataFrame:
    """Cohort retention matrix: users grouped by their first active day,
    counted on each subsequent day they return (offset 0..max_offset).

    The standard growth-analytics triangle. Distinct (user, day) first —
    the corpus collapses to at most users x days rows before anything
    else; the cohort join is an equi-join on the user key (same key as the
    preceding groupBy, so it rides the same partitioning); the final count
    is map-side-combined over a (cohorts x offsets)-bounded key space.
    """
    activity = events.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d")
    ).distinct()
    first = activity.groupBy("user_id").agg(F.min("d").alias("cohort_d"))
    joined = activity.join(first, "user_id")
    off = F.datediff(F.col("d"), F.col("cohort_d"))
    return (
        joined.filter(off <= max_offset)
        .groupBy(
            F.date_format("cohort_d", "yyyy-MM-dd").alias("cohort_day"),
            off.cast("long").alias("day_offset"),
        )
        .agg(F.count("*").cast("long").alias("n_users"))
    )


def transition_matrix(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    P(next event type | current) — the sequence-model summary behind
    "what do users do after X" questions.

    One window pass per user in (ts, event_id) total order pairs each
    event with its successor (lead — state never leaves the executor),
    then a map-side-combined count over the |types|^2 key space. The
    from-type total comes from a window over the COUNT table (|types|^2
    rows however large the corpus — a join spelling would re-derive the
    count subtree and scan the corpus twice), and the row probability is
    an exact integer ratio.
    """
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    pairs = (
        events.select(
            "user_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").cast("long").alias("n")
    )
    tot = F.sum("n").over(Window.partitionBy("from_type")).cast("long")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        ratio_round(F.col("n"), tot, 4).alias("p"),
    )


def time_weighted_avg(events: DataFrame) -> DataFrame:
    """Daily time-weighted average of the measure per event type — the
    time-series aggregate (TimescaleDB's time_weight with last-observation-
    carried-forward) that a plain AVG gets wrong on irregular samples: a
    value that HELD for ten minutes must weigh ten times one that held for
    a minute.

    Each observation carries its value until the next observation of the
    same type (lead over the per-type (ts, event_id) total order — one
    window pass); the holding interval is clipped to its calendar day (the
    portion crossing midnight is dropped rather than split — one output
    row per observation keeps the plan join-free; the day-splitting
    variant is an explode over a 2-element array, same shape). Weighted
    sums accumulate value x held-seconds as exact decimals; the division
    happens once per (type, day).
    """
    w = Window.partitionBy("event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    nxt = F.lead("ts").over(w)
    day_end = F.date_trunc("day", F.col("ts")) + F.expr("INTERVAL 1 DAY")
    held_until = F.least(nxt, day_end)
    secs = (
        F.unix_timestamp(held_until) - F.unix_timestamp(F.col("ts"))
    ).cast("long")
    obs = events.select(
        "event_type",
        _day_str().alias("day"),
        F.col("value"),
        secs.alias("held_secs"),
    ).filter(F.col("held_secs") > 0)
    return obs.groupBy("event_type", "day").agg(
        F.sum(F.col("held_secs").cast("decimal(18,0)")).cast("long").alias("total_secs"),
        (
            F.sum(
                (F.col("value") * F.col("held_secs").cast("double")).cast(
                    "decimal(28,6)"
                )
            ).cast("double")
            / F.sum(F.col("held_secs").cast("decimal(18,0)")).cast("double")
        ).alias("twa_value"),
    )


GAP_BUCKETS = (10, 60, 600, 3600, 86400)  # seconds: <=10s, <=1m, <=10m, <=1h, <=1d


def gap_histogram(events: DataFrame) -> DataFrame:
    """Inter-arrival time distribution per event type: how long between
    consecutive events of the same type — the burstiness/liveness profile
    behind capacity planning and watermark sizing.

    One lead-window pass in the per-type total order computes each gap in
    whole seconds (unix_timestamp diffs — both engines floor); bucketing
    is a row-local CASE over fixed edges (log-spaced buckets, the
    latency-histogram convention), and the final count is map-side-
    combined over a types x buckets key space. Gap share is an exact
    integer ratio via a per-type window over the bucket table.
    """
    w = Window.partitionBy("event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap_expr = (
        F.unix_timestamp(F.lead("ts").over(w)) - F.unix_timestamp(F.col("ts"))
    ).cast("long")
    # bucket over the PROJECTED gap column (a Column built from the raw
    # window expression would not resolve after the projection)
    gap = F.col("gap")
    bucket = F.lit(f"<={GAP_BUCKETS[0]}s")
    for lo, label in [
        (GAP_BUCKETS[i], f"<={GAP_BUCKETS[i + 1]}s")
        for i in range(len(GAP_BUCKETS) - 1)
    ]:
        bucket = F.when(gap > lo, F.lit(label)).otherwise(bucket)
    bucket = F.when(gap > GAP_BUCKETS[-1], F.lit(f">{GAP_BUCKETS[-1]}s")).otherwise(
        bucket
    )
    counts = (
        events.select("event_type", gap_expr.alias("gap"))
        .filter(F.col("gap").isNotNull())
        .select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count("*").cast("long").alias("n_gaps"))
    )
    tot = F.sum("n_gaps").over(Window.partitionBy("event_type")).cast("long")
    return counts.select(
        "event_type",
        "bucket",
        "n_gaps",
        ratio_round(F.col("n_gaps"), tot, 4).alias("share"),
    )


def weekly_growth(events: DataFrame) -> DataFrame:
    """Week-over-week growth of event volume and value per event type —
    the trend table behind every KPI review.

    Weekly totals first (map-side-combined; weeks x types rows however
    big the corpus), then one lag window over the bounded weekly series.
    Growth = (cur - prev) / prev on exact decimal-derived doubles —
    identical inputs, one IEEE division, engine-identical. Opening weeks
    (no prev) report null growth rather than a fake zero.
    """
    week = F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd")
    weekly = events.groupBy("event_type", week.alias("week_start")).agg(
        F.count("*").cast("long").alias("n_events"),
        _dsum("value").alias("sum_value"),
    )
    w = Window.partitionBy("event_type").orderBy(F.col("week_start").asc())
    prev_n = F.lag("n_events").over(w)
    prev_v = F.lag("sum_value").over(w)
    return weekly.select(
        "event_type",
        "week_start",
        "n_events",
        "sum_value",
        ((F.col("n_events") - prev_n).cast("double") / prev_n.cast("double")).alias(
            "events_growth"
        ),
        ((F.col("sum_value") - prev_v) / prev_v).alias("value_growth"),
    )


def attribution_first_touch(events: DataFrame) -> DataFrame:
    """First-touch attribution: purchases credited to the type of the
    user's FIRST-ever event — the marketing-attribution primitive.

    One window pass tags every event with its user's first event type
    (first_value over the per-user (ts, event_id) total order — state
    stays on the executor); purchases then count by that tag, with an
    exact integer share of all purchases via a window over the tiny
    attribution table.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = events.withColumn("first_touch", F.first("event_type").over(w))
    counts = (
        tagged.filter(F.col("event_type") == "purchase")
        .groupBy("first_touch")
        .agg(F.count("*").cast("long").alias("n_purchases"))
    )
    tot = F.sum("n_purchases").over(Window.partitionBy()).cast("long")
    return counts.select(
        "first_touch",
        "n_purchases",
        ratio_round(F.col("n_purchases"), tot, 4).alias("share"),
    )


def dau_wau(events: DataFrame) -> DataFrame:
    """Daily and trailing-7-day active users with the DAU/WAU stickiness
    ratio — the canonical engagement metric.

    Distinct (user, day) first (the corpus collapses to users x days);
    each active day then CONTRIBUTES to its 7 trailing windows via a
    row-local sequence+explode — an equi-groupBy on the window day, where
    the naive spelling (days x activity with a BETWEEN condition) is a
    nested-loop theta join. Distinct users per window day = one more
    distinct on the 7x-expanded bounded table. Stickiness is an exact
    integer ratio.
    """
    activity = events.select(
        F.date_trunc("day", F.col("ts")).alias("d"), "user_id"
    ).distinct()
    contrib = (
        activity.select(
            F.explode(
                F.sequence(
                    F.col("d"),
                    F.col("d") + F.expr("INTERVAL 6 DAYS"),
                    F.expr("INTERVAL 1 DAY"),
                )
            ).alias("wd"),
            "user_id",
        )
        .distinct()
    )
    wau = contrib.groupBy("wd").agg(F.count("*").cast("long").alias("wau"))
    dau = activity.groupBy("d").agg(F.count("*").cast("long").alias("dau"))
    return (
        dau.join(wau, dau.d == wau.wd)
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            ratio_round(F.col("dau"), F.col("wau"), 4).alias("stickiness"),
        )
    )


def cumulative_users(events: DataFrame) -> DataFrame:
    """Cumulative distinct users by day — the growth curve.

    Cumulative COUNT DISTINCT is the classic hard aggregate (naively a
    re-scan per day); the scale spelling assigns each user their FIRST
    active day (one groupBy on the user key), counts new users per day,
    and runs one cumulative sum over the bounded day series. Exact, one
    corpus-volume shuffle, and the window sees |days| rows.
    """
    first = (
        events.select("user_id", F.date_trunc("day", F.col("ts")).alias("d"))
        .groupBy("user_id")
        .agg(F.min("d").alias("first_d"))
    )
    per_day = first.groupBy(
        F.date_format("first_d", "yyyy-MM-dd").alias("day")
    ).agg(F.count("*").cast("long").alias("new_users"))
    w = Window.orderBy(F.col("day").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_day.select(
        "day", "new_users", F.sum("new_users").over(w).cast("long").alias("cum_users")
    )


ROLLING_DAYS = 7


def _daily_micro(events: DataFrame, alias: str) -> DataFrame:
    """(event_type, day, <alias>): per-(type, day) exact decimal value sums
    snapped to MICRO-LONGS — the shared determinism-critical collapse the
    rolling/z-score/trend operators fold over (floor(x*1e6+0.5) is
    IEEE-exact in both engines; DESIGN.md §3). One spelling, one place to
    keep in sync with the oracles' shared _dsum/_DAY fragments."""
    return events.groupBy("event_type", _day_str().alias("day")).agg(
        F.floor(_dsum("value") * F.lit(1e6) + F.lit(0.5)).cast("long").alias(alias)
    )


def rolling_daily_revenue(
    events: DataFrame, window_days: int = ROLLING_DAYS
) -> DataFrame:
    """Trailing ``window_days``-day rolling sum/avg of the daily value
    series per event type — the moving-average line on every dashboard.

    The corpus collapses to the bounded per-(type, day) series FIRST (one
    map-side-combined shuffle), so the RANGE window frame slides over at
    most |days| rows per key — never raw events. The frame key is the
    integer day number, so RANGE BETWEEN n-1 PRECEDING covers calendar
    gaps correctly (a ROWS frame would silently span missing days).

    Determinism: daily sums snap to micro-longs before the window; the
    frame then sums LONGS (exact in any accumulation order — engines
    disagree on float windowed-sum algorithms: sliding accumulators and
    segment trees reorder the additions) and divides once at the end.
    """
    daily = _daily_micro(events, "v_micro")
    day_idx = F.datediff(F.to_date("day"), F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy("event_type")
        .orderBy(day_idx)
        .rangeBetween(-(window_days - 1), 0)
    )
    return daily.select(
        "event_type",
        "day",
        (F.col("v_micro").cast("double") / F.lit(1e6)).alias("value"),
        (F.sum("v_micro").over(w).cast("double") / F.lit(1e6)).alias(
            "rolling_sum"
        ),
        (
            F.sum("v_micro").over(w).cast("double")
            / F.count("*").over(w).cast("double")
            / F.lit(1e6)
        ).alias("rolling_avg"),
        F.count("*").over(w).cast("long").alias("n_days_in_window"),
    )


def grouping_sets_revenue(events: DataFrame) -> DataFrame:
    """Explicit GROUPING SETS ((day, type), (day), ()) — the arbitrary-
    subset grouping surface beyond ROLLUP/CUBE (which fix the lattice).

    One aggregation pass expands each input row into the three grouping
    sets (Spark's Expand node), so the three granularities cost one
    shuffle, not three scans + union. NULL group keys are sentineled to
    'ALL' (the cube_day_type convention) so the wide rows hash
    deterministically.
    """
    return (
        events.groupingSets(
            [["day", "event_type"], ["day"], []],
            _day_str().alias("day"),
            F.col("event_type"),
        )
        .agg(F.count("*").alias("n_events"), _dsum("value").alias("sum_value"))
        .select(
            F.coalesce("day", F.lit("ALL")).alias("day"),
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            "n_events",
            "sum_value",
        )
    )


HOLT_ALPHA_PCT = 30  # level smoothing weight
HOLT_BETA_PCT = 10   # trend smoothing weight


def holt_linear(
    events: DataFrame,
    alpha_pct: int = HOLT_ALPHA_PCT,
    beta_pct: int = HOLT_BETA_PCT,
) -> DataFrame:
    """Holt double-exponential smoothing (level + trend) of the daily value
    series per event type, with the one-step-ahead forecast — EWMA's big
    sibling for trending metrics (EWMA lags a trend forever; Holt tracks
    it).

    l_t = a*y_t + (1-a)*(l_{t-1} + b_{t-1});
    b_t = g*(l_t - l_{t-1}) + (1-g)*b_{t-1};  forecast_{t+1} = l_t + b_t.
    Initialization: l_1 = y_1, b_1 = 0.

    Same scale shape as ``ewma_series``: the recurrence is sequential, so
    it folds over the BOUNDED per-key daily series (one agg shuffle, then
    a row-local array aggregate; state = 2 longs per key). Level and
    trend are carried as micro-scaled longs (floor(x*1e6+0.5)), so each
    step derives the same longs from the same doubles in any engine; the
    DuckDB twin is a recursive CTE over the same day ranks.
    """
    a = alpha_pct / 100.0
    g = beta_pct / 100.0
    daily = events.groupBy("event_type", _day_str().alias("day")).agg(
        _dsum("value").alias("v")
    )
    series = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "v"))).alias("s")
    )
    out_t = (
        "array<struct<day:string,v:double,level_micro:bigint,"
        "trend_micro:bigint>>"
    )
    init = F.struct(
        F.lit(0).cast("long").alias("l_micro"),
        F.lit(0).cast("long").alias("b_micro"),
        F.lit(True).alias("first"),
        F.array().cast(out_t).alias("out"),
    )

    def _step(acc, x):
        l_new = F.when(
            acc["first"], F.floor(x["v"] * F.lit(1e6) + F.lit(0.5)).cast("long")
        ).otherwise(
            F.floor(
                (
                    F.lit(a) * x["v"]
                    + F.lit(1.0 - a)
                    * (
                        (acc["l_micro"] + acc["b_micro"]).cast("double")
                        / F.lit(1e6)
                    )
                )
                * F.lit(1e6)
                + F.lit(0.5)
            ).cast("long")
        )
        b_new = F.when(acc["first"], F.lit(0).cast("long")).otherwise(
            F.floor(
                (
                    F.lit(g) * ((l_new - acc["l_micro"]).cast("double") / F.lit(1e6))
                    + F.lit(1.0 - g) * (acc["b_micro"].cast("double") / F.lit(1e6))
                )
                * F.lit(1e6)
                + F.lit(0.5)
            ).cast("long")
        )
        return F.struct(
            l_new.alias("l_micro"),
            b_new.alias("b_micro"),
            F.lit(False).alias("first"),
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        x["day"].alias("day"),
                        x["v"].alias("v"),
                        l_new.alias("level_micro"),
                        b_new.alias("trend_micro"),
                    )
                ),
            ).alias("out"),
        )

    folded = series.select(
        "event_type", F.aggregate(F.col("s"), init, _step)["out"].alias("out")
    )
    ex = folded.select("event_type", F.explode("out").alias("o"))
    return ex.select(
        "event_type",
        F.col("o")["day"].alias("day"),
        F.col("o")["v"].alias("value"),
        (F.col("o")["level_micro"].cast("double") / F.lit(1e6)).alias("level"),
        (F.col("o")["trend_micro"].cast("double") / F.lit(1e6)).alias("trend"),
        (
            (F.col("o")["level_micro"] + F.col("o")["trend_micro"]).cast("double")
            / F.lit(1e6)
        ).alias("forecast_next"),
    )


ZSCORE_THRESHOLD = 2  # flag days more than 2 sigma from the mean


def zscore_anomaly(
    events: DataFrame, threshold: int = ZSCORE_THRESHOLD
) -> DataFrame:
    """Daily values more than ``threshold`` standard deviations from their
    event type's mean — the stationary-metric outlier pass (EWMA/Holt
    flag trend breaks; this flags level breaks against the whole series).

    Two bounded aggregations: the corpus collapses to per-(type, day)
    micro-long sums, then per-type moments. The second moment accumulates
    in DECIMAL(38,0) (micro-scaled squares overflow LONG past ~9e3-sized
    daily values); mean and sigma derive from the exact sums with the
    same double ops in both engines, so the flag predicate is
    engine-identical. Output is flagged days only, with their z-numerator
    and the band. Variance is clamped at zero on BOTH sides: an all-equal
    large-magnitude series cancels catastrophically and the computed var
    can land epsilon-negative, where Spark's sqrt yields NaN but DuckDB's
    hard-errors — an asymmetric failure without the clamp.
    """
    daily = _daily_micro(events, "m")
    stats = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("m").cast("decimal(38,0)").alias("sum_m"),
        F.sum(F.col("m").cast("decimal(38,0)") * F.col("m")).alias("sum_m2"),
    )
    # digit-split conversions: sum_m2 (micro^2-scaled) exceeds 2^53 at any
    # realistic scale and DuckDB's direct wide-int casts are not correctly
    # rounded there (exprs.dec_to_double_exact)
    mean = dec_to_double_exact(F.col("sum_m")) / F.col("n_days").cast("double")
    var = F.greatest(
        dec_to_double_exact(F.col("sum_m2")) / F.col("n_days").cast("double")
        - mean * mean,
        F.lit(0.0),
    )
    joined = daily.join(F.broadcast(stats), "event_type")
    dev = F.abs(F.col("m").cast("double") - mean)
    band = F.lit(float(threshold)) * F.sqrt(var)
    return (
        joined.filter(dev > band)
        .select(
            "event_type",
            "day",
            (F.col("m").cast("double") / F.lit(1e6)).alias("value"),
            (mean / F.lit(1e6)).alias("mean_value"),
            (F.sqrt(var) / F.lit(1e6)).alias("stddev_value"),
            "n_days",
        )
    )


HLL_TOL_PCT = 5  # DataSketches HLL (lgK=12) std error ~1.6%; 5% band


def distinct_rollup_hll(events: DataFrame, tol_pct: int = HLL_TOL_PCT) -> DataFrame:
    """Weekly distinct users via MERGEABLE per-day HLL sketches — the
    pattern that makes distinct-count rollups feasible at 100 TB: exact
    countDistinct needs every key in one shuffle per window, while
    sketches aggregate once per day (bytes per partition) and re-merge
    into ANY coarser window without touching raw data again. This is how
    a real pipeline serves daily AND weekly AND monthly actives from one
    pass.

    Gate contract (the approx_distinct pattern): exact weekly distincts
    ride along hash-checked; the sketch estimate is asserted within
    ``tol_pct`` percent of exact (DataSketches HLL is deterministic for
    fixed input — no RNG — so the boolean is stable), because the
    estimate's exact value is engine-specific.
    """
    daily = events.groupBy(
        "event_type", _day_str().alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    week = F.date_format(
        F.date_trunc("week", F.to_date("day")), "yyyy-MM-dd"
    ).alias("week_start")
    weekly_sk = daily.groupBy("event_type", week).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
    )
    weekly_exact = events.groupBy(
        "event_type",
        F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd").alias(
            "week_start"
        ),
    ).agg(F.countDistinct("user_id").cast("long").alias("exact_users"))
    return (
        weekly_exact.join(weekly_sk, ["event_type", "week_start"])
        .select(
            "event_type",
            "week_start",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users")) * 100
                <= F.lit(tol_pct) * F.col("exact_users")
            ).alias("approx_within_tol"),
        )
    )


HOP_WINDOW_MIN = 60
HOP_SLIDE_MIN = 30


def hopping_window_stats(
    events: DataFrame,
    window_min: int = HOP_WINDOW_MIN,
    slide_min: int = HOP_SLIDE_MIN,
) -> DataFrame:
    """Overlapping (hopping) event-time windows: 60-minute stats sliding
    every 30 minutes — the smooth-dashboard variant of the tumbling T5
    buckets (a spike at a boundary never falls between windows).

    ``F.window(ts, size, slide)`` expands each event into its
    size/slide covering windows row-locally (a 2x multiplier here) and
    the aggregation rides one map-side-combined shuffle keyed by
    (window, type) — same cost model as the tumbling bucket, scaled by
    the overlap factor. Epoch-aligned windows, exact decimal sums,
    formatted boundaries.
    """
    w = F.window(F.col("ts"), f"{window_min} minutes", f"{slide_min} minutes")
    return (
        events.groupBy(w.alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"), _dsum("value").alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.date_format("w.end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def json_props_audit(events: DataFrame) -> DataFrame:
    """Schema/type audit of the semi-structured ``props`` JSON column: per
    (key, inferred value type) presence counts and coverage, plus the
    exact sum of integer-valued entries — the drift detector every
    event pipeline needs before anyone writes ``get_json_object`` with a
    hardcoded path (F1 surface, generalized: the reference hand-walks its
    JSON; this audits it).

    Keys are enumerated generically (``from_json`` to map<string,string>
    then explode — no hardcoded schema), so new keys and type drift show
    up as new rows, not silent nulls. Type inference is a regex on the
    value TEXT (engine-neutral; a JSON-type function would differ across
    engines). One row-local expansion + one tiny (key, type) aggregate.
    """
    total = events.agg(F.count("*").cast("long").alias("n_total"))
    kv = events.select(
        F.explode(F.from_json("props", "map<string,string>")).alias("key", "value")
    )
    vtype = (
        F.when(F.col("value").rlike("^-?[0-9]+$"), "int")
        .when(F.col("value").rlike("^-?[0-9]*\\.[0-9]+$"), "float")
        .otherwise("string")
    )
    typed = kv.withColumn("vtype", vtype)
    return (
        typed.groupBy("key", "vtype")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            # try_cast, not cast: an int-REGEX match wider than int64 must
            # degrade to NULL (both engines), not crash the audit under
            # ANSI mode — drifted data is exactly what this op is for
            F.sum(
                F.when(
                    F.col("vtype") == "int", F.col("value").try_cast("long")
                ).otherwise(F.lit(0).cast("long"))
            )
            .cast("long")
            .alias("sum_int_values"),
        )
        .join(F.broadcast(total))
        .select(
            "key",
            "vtype",
            "n_rows",
            ratio_round(F.col("n_rows"), F.col("n_total"), 4).alias("coverage"),
            "sum_int_values",
        )
    )


CONVERSION_FROM, CONVERSION_TO = "signup", "purchase"


def conversion_lag_histogram(
    events: DataFrame,
    from_type: str = CONVERSION_FROM,
    to_type: str = CONVERSION_TO,
) -> DataFrame:
    """Distribution of time-to-convert: minutes between a user's first
    ``from_type`` and first strictly-later ``to_type`` event, bucketed on
    product-meaningful boundaries (hour / day / week / longer) — the
    growth-analytics companion to funnel_steps (the funnel says HOW MANY
    convert; this says HOW FAST).

    One conditional-min aggregation per user (the funnel_steps shape —
    no self-join per step), then a row-local bucket projection and a
    4-row count. Lag is exact integer minutes (floor of the second diff,
    both engines); bucket ids make the output order-stable.
    """
    per_user = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == from_type, F.col("ts"))).alias("t0"),
        F.min(F.when(F.col("event_type") == to_type, F.col("ts"))).alias("t1"),
    )
    lag_min = F.floor(
        (F.unix_timestamp("t1") - F.unix_timestamp("t0")) / F.lit(60.0)
    ).cast("long")
    converted = per_user.filter(
        F.col("t0").isNotNull() & F.col("t1").isNotNull() & (F.col("t1") > F.col("t0"))
    ).withColumn("lag_min", lag_min)
    bucket_id = (
        F.when(F.col("lag_min") <= 60, 1)
        .when(F.col("lag_min") <= 1440, 2)
        .when(F.col("lag_min") <= 10080, 3)
        .otherwise(4)
        .cast("long")
    )
    bucket = (
        F.when(F.col("lag_min") <= 60, "within_hour")
        .when(F.col("lag_min") <= 1440, "within_day")
        .when(F.col("lag_min") <= 10080, "within_week")
        .otherwise("over_week")
    )
    return (
        converted.select(bucket_id.alias("bucket_id"), bucket.alias("bucket"))
        .groupBy("bucket_id", "bucket")
        .agg(F.count("*").cast("long").alias("n_users"))
    )


def daily_trend_regression(events: DataFrame) -> DataFrame:
    """Least-squares linear trend of the daily value series per event type:
    slope (value/day) and intercept from the closed form — the "is this
    metric growing" number behind every KPI review, computed exactly.

    The corpus collapses to per-(type, day) micro-long sums; the four
    regression moments (Σx, Σy, Σxy, Σx²) accumulate as exact integers
    (day index x micro value fits decimal(38,0)), so slope and intercept
    are single engine-identical double divisions at the end. x is the day
    number since epoch — no per-key renumbering, so the slope unit is
    value-per-calendar-day and gaps cost nothing. Types active on fewer
    than 2 days are excluded (a one-point series has no slope; without
    the guard the zero denominator THROWS under Spark's ANSI mode while
    DuckDB returns NULL — the gate would diverge exactly there).
    """
    daily = _daily_micro(events, "y_micro")
    x = F.datediff(F.to_date("day"), F.lit("1970-01-01").cast("date")).cast("long")
    m = daily.select(
        "event_type",
        x.alias("x"),
        "y_micro",
    )
    stats = m.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y_micro").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y_micro")).alias("sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
    ).filter(F.col("n_days") >= 2)
    n = F.col("n_days").cast("double")
    # digit-split conversions (identity below 2^53; sxy/sxx go far above)
    sx = dec_to_double_exact(F.col("sx"))
    sy = dec_to_double_exact(F.col("sy"))
    sxy = dec_to_double_exact(F.col("sxy"))
    sxx = dec_to_double_exact(F.col("sxx"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    return stats.select(
        "event_type",
        "n_days",
        (slope / F.lit(1e6)).alias("slope_per_day"),
        (intercept / F.lit(1e6)).alias("intercept"),
    )


def dow_profile(events: DataFrame) -> DataFrame:
    """Day-of-week seasonality profile per event type: event counts and
    exact mean value for each weekday — the seasonality baseline that
    tells a Monday dip from an incident (and feeds dow-adjusted anomaly
    thresholds).

    One map-side-combined shuffle over a (types x 7)-bounded key space;
    the mean divides an exact decimal sum once. Weekday numbering is
    ISO (1=Monday), identical in both engines via the formatted day.
    """
    dow = F.dayofweek(F.col("ts"))  # Sunday=1 .. Saturday=7
    iso = ((dow + 5) % 7 + 1).cast("long")  # ISO: Monday=1 .. Sunday=7
    return (
        events.groupBy("event_type", iso.alias("iso_dow"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            _dsum("value").alias("sum_value"),
            (_dsum("value") / F.count("*")).alias("mean_value"),
        )
    )


SKEW_TOP_K = 5


def join_key_skew(events: DataFrame, k: int = SKEW_TOP_K) -> DataFrame:
    """Shuffle-key skew audit for the user_id key: hottest keys with their
    corpus share, next to the uniform-share baseline — the pre-flight
    check before keying a 100 TB shuffle (a key holding >> 1/n_keys of
    the rows needs salting or AQE skew-join; this measures instead of
    guessing, and is what `functions/skew.py:salted_join` is FOR).

    One map-side-combined count per key, a TakeOrdered top-k (no global
    sort), and a broadcast of the 3-number corpus totals. Shares are
    exact integer ratios; ties break on key asc so the top-k cut is
    engine-stable.
    """
    counts = events.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_rows")
    )
    totals = counts.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("n_rows").cast("long").alias("n_total"),
        F.max("n_rows").cast("long").alias("max_rows"),
    )
    top = counts.orderBy(F.col("n_rows").desc(), F.col("user_id").asc()).limit(k)
    return (
        top.withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("n_rows").desc(), F.col("user_id").asc())
            ).cast("long"),
        )
        .join(F.broadcast(totals))
        .select(
            "rank",
            "user_id",
            "n_rows",
            ratio_round(F.col("n_rows"), F.col("n_total"), 6).alias("share"),
            ratio_round(F.lit(1), F.col("n_keys"), 6).alias("uniform_share"),
            "n_keys",
            "max_rows",
        )
    )


def value_percentile_ranks(events: DataFrame) -> DataFrame:
    """percent_rank and cume_dist of each day's total value within its
    event type — "was Tuesday a top-decile day?" as a first-class column
    (the relative-standing view the z-score pass normalizes away).

    Exercises the remaining rank-family window functions over the
    BOUNDED per-(type, day) series (the corpus collapses first — the
    window never sees raw events). Both functions are rank-derived
    ratios of small integers, so their doubles are engine-identical;
    ordering ties on equal daily values break nowhere because the rank
    functions themselves define tie semantics (equal values share a
    rank) identically in both engines.
    """
    daily = _daily_micro(events, "m")
    w = Window.partitionBy("event_type").orderBy(F.col("m").asc())
    return daily.select(
        "event_type",
        "day",
        (F.col("m").cast("double") / F.lit(1e6)).alias("value"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume_dist"),
    )


def changepoint_meanshift(events: DataFrame) -> DataFrame:
    """Single change-point detection: the split of each event type's daily
    series that maximizes the between-segment mean shift — binary
    segmentation's first cut (the batch answer to "when did the level
    change?", complementing `zscore_anomaly`'s point outliers and
    `ewma_anomaly`'s drift alerts).

    The CUSUM-style likelihood statistic for a mean change at split k is
    n1*n2/n * (m1 - m2)^2; dropping the constant 1/n and clearing the
    fractions gives stat_k = (s1*n2 - s2*n1)^2 / (n1*n2) — prefix sums s
    and counts only, so the whole scan is ONE cumulative-window pass over
    the BOUNDED per-(type, day) series (micro-long exact sums; the corpus
    collapses first, the window never sees raw events). No sequential
    fold, no recursion: every candidate split is scored independently
    from prefix sums — the spelling that parallelizes, unlike the
    literal CUSUM recurrence.

    Determinism: s fits micro-longs; the cross-term (s1*n2 - s2*n1)^2 is
    promoted to decimal(38,0) (HUGEINT in the oracle) BEFORE squaring —
    micro-scaled daily sums square past 2^63 immediately (DESIGN §3); the
    quotient and the segment means are exact integer divisions of
    nonnegative values (floor == truncate, so Spark div == DuckDB //).
    At extreme daily volumes (~1e18 micros) the square would pass 38
    digits: drop the fixed-point scale to millis there — the statistic's
    argmax is scale-invariant.
    """
    daily = _daily_micro(events, "m")
    w = Window.partitionBy("event_type").orderBy("day")
    wall = Window.partitionBy("event_type")
    pref = daily.select(
        "event_type",
        "day",
        F.row_number().over(w).alias("k"),
        F.sum("m").over(w).alias("s1"),
        F.count("*").over(wall).alias("n"),
        F.sum("m").over(wall).alias("stot"),
    )
    d = (
        F.col("s1").cast("decimal(38,0)") * (F.col("n") - F.col("k"))
        - (F.col("stot") - F.col("s1")).cast("decimal(38,0)") * F.col("k")
    )
    # spell d as a real column first so the squared expression references
    # one projection (no duplicated expression trees in codegen)
    scored = (
        pref.filter(F.col("k") < F.col("n"))  # split needs a nonempty tail
        .withColumn("d", d)
        # NOT `div`: Spark's IntegralDivide on decimal operands returns
        # BIGINT and silently WRAPS past 2^63 (measured) — floor-divide
        # via mod-subtract (numerator exactly divisible, so the decimal
        # division is exact; operands nonneg, so mod == floor semantics)
        .withColumn(
            "stat",
            F.expr(
                "CAST((d * d - (d * d) % (CAST(k AS DECIMAL(38,0)) * (n - k)))"
                " / (CAST(k AS DECIMAL(38,0)) * (n - k)) AS DECIMAL(38,0))"
            ),
        )
    )
    pick = Window.partitionBy("event_type").orderBy(
        F.col("stat").desc(), F.col("k").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("split_day"),  # last day of the BEFORE segment
            F.col("k").cast("long").alias("n_before"),
            (F.col("n") - F.col("k")).cast("long").alias("n_after"),
            (
                F.expr("CAST(s1 DIV k AS BIGINT)").cast("double") / F.lit(1e6)
            ).alias("mean_before"),
            (
                F.expr("CAST((stot - s1) DIV (n - k) AS BIGINT)").cast("double")
                / F.lit(1e6)
            ).alias("mean_after"),
            dec_to_double_exact(F.col("stat")).alias("shift_stat"),
        )
    )


ZORDER_BITS = 10        # per-dimension resolution (2^10 cells)
ZORDER_BUCKETS = 64     # target file/bucket count


def zorder_layout(
    events: DataFrame,
    bits: int = ZORDER_BITS,
    n_buckets: int = ZORDER_BUCKETS,
) -> DataFrame:
    """Z-order (Morton) layout audit: bucket the fact table by the
    interleaved bits of (event-time hour, user_id) and report each
    bucket's row count and min/max envelope in BOTH dimensions — the
    multi-dimensional clustering decision behind file skipping. Writing
    files in these buckets makes every file's footer min/max tight in
    BOTH time and user, so EITHER predicate prunes scans (a time-sorted
    layout prunes time filters only; user filters read everything).
    The envelope widths ARE the audit: narrow in both = skipping works.

    Both dims normalize to 2^bits cells via exact integer math over a
    broadcast 1-row corpus min/max (the benign scalar cross join — the
    unigram_logprob shape), the interleave is a fixed sum of shifted
    bits (whole-stage codegen'd, no UDF), and the per-bucket reduce is
    one map-side-combined shuffle of <= n_buckets keys. At 100 TB this
    is the audit you run BEFORE paying the repartitionByRange(zval)
    rewrite; the write itself is the same plan + a range partitioner.
    """
    hour = F.expr("unix_timestamp(ts) div 3600").cast("long")
    base = events.select(
        F.col("user_id").cast("long").alias("uid"), hour.alias("h")
    )
    lims = base.agg(
        F.min("h").alias("h_min"),
        F.max("h").alias("h_max"),
        F.min("uid").alias("u_min"),
        F.max("uid").alias("u_max"),
    )
    hx = F.expr("CAST(((h - h_min) * {c}) div (h_max - h_min + 1) AS BIGINT)".format(c=1 << bits))
    ux = F.expr("CAST(((uid - u_min) * {c}) div (u_max - u_min + 1) AS BIGINT)".format(c=1 << bits))
    scaled = base.join(F.broadcast(lims)).select(
        "uid", "h", hx.alias("hx"), ux.alias("ux")
    )
    # Morton interleave: hx bits land on even positions, ux bits on odd —
    # a fixed arithmetic sum (engine-neutral: no engine-specific bit ops)
    z = sum(
        (
            F.expr(f"(hx div {1 << b}) % 2") * F.lit(1 << (2 * b))
            + F.expr(f"(ux div {1 << b}) % 2") * F.lit(1 << (2 * b + 1))
        )
        for b in range(bits)
    ).cast("long")
    return (
        scaled.withColumn("z", z)
        .select(F.expr(f"CAST(z div {(1 << (2 * bits)) // n_buckets} AS BIGINT)").alias("bucket"), "uid", "h")
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min("h").alias("h_lo"),
            F.max("h").alias("h_hi"),
            F.min("uid").alias("u_lo"),
            F.max("uid").alias("u_hi"),
        )
        .select(
            "bucket",
            "n_events",
            (F.col("h_hi") - F.col("h_lo")).alias("h_span"),
            (F.col("u_hi") - F.col("u_lo")).alias("u_span"),
            "h_lo",
            "u_lo",
        )
    )


KLL_K = 800          # sketch size; published 99%-conf rank error ~0.5%
KLL_TOL_RANK_PCT = 2  # contract tolerance: ~4x the published bound


def percentile_rollup_kll(
    events: DataFrame, tol_rank_pct: int = KLL_TOL_RANK_PCT
) -> DataFrame:
    """Weekly p50/p90 from MERGED per-day KLL sketches —
    ``distinct_rollup_hll``'s quantile sibling, and the only way percentile
    rollups exist at 100 TB: exact per-window percentiles re-sort raw data
    for every window, while KLL aggregates each day once (bytes per
    group) and re-merges into ANY coarser window. One pipeline serves
    daily, weekly, and monthly latency/size percentiles from one pass.

    Gate contract (the approx_distinct pattern): exact weekly percentiles
    over the micro-long values ride along hash-checked; each sketch
    quantile is asserted by its published RANK guarantee — re-rank the
    returned value against the window's values and require the rank
    interval to overlap target +/- ``tol_rank_pct`` percent of n (KLL
    compaction is randomized, so the VALUE is not even run-stable; the
    rank bound at 4x the 99%-confidence width is what the algorithm
    guarantees with overwhelming margin — distribution- and
    scale-independent, per the approx_percentiles rank-contract rule).
    """
    m = F.floor(F.col("value").cast("double") * F.lit(1e6) + F.lit(0.5)).cast(
        "long"
    )
    week = F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd").alias(
        "week_start"
    )
    base = events.select("event_type", week, _day_str().alias("day"), m.alias("m"))
    daily = base.groupBy("event_type", "week_start", "day").agg(
        F.expr(f"kll_sketch_agg_bigint(m, {KLL_K})").alias("sk")
    )
    weekly_sk = daily.groupBy("event_type", "week_start").agg(
        F.expr("kll_merge_agg_bigint(sk)").alias("sk")
    ).select(
        "event_type",
        "week_start",
        F.expr("kll_sketch_get_quantile_bigint(sk, 0.5)").alias("ap50"),
        F.expr("kll_sketch_get_quantile_bigint(sk, 0.9)").alias("ap90"),
    )
    exact = base.groupBy("event_type", "week_start").agg(
        F.expr("percentile(m, 0.5)").alias("p50_micro"),
        F.expr("percentile(m, 0.9)").alias("p90_micro"),
        F.count("*").alias("n"),
    )
    joined = base.join(
        F.broadcast(exact.join(weekly_sk, ["event_type", "week_start"])),
        ["event_type", "week_start"],
    )
    err = F.ceil(F.col("n") * F.lit(tol_rank_pct) / F.lit(100)) + 1

    def _rank_ok(q: float, v):
        below = F.sum(F.when(F.col("m") < v, 1).otherwise(0))
        at_most = F.sum(F.when(F.col("m") <= v, 1).otherwise(0))
        target = F.lit(q) * F.col("n")
        return (below + 1 <= target + err) & (at_most >= target - err)

    return (
        joined.groupBy(
            "event_type", "week_start", "p50_micro", "p90_micro", "ap50", "ap90", "n"
        )
        .agg(
            _rank_ok(0.5, F.col("ap50")).alias("p50_within_tol"),
            _rank_ok(0.9, F.col("ap90")).alias("p90_within_tol"),
        )
        .select(
            "event_type",
            "week_start",
            (F.col("p50_micro") / F.lit(1e6)).alias("p50"),
            (F.col("p90_micro") / F.lit(1e6)).alias("p90"),
            "n",
            "p50_within_tol",
            "p90_within_tol",
        )
    )


def rfm_segments(events: DataFrame) -> DataFrame:
    """RFM segmentation — the classic product-analytics user partition:
    per user, Recency (days since last event vs the corpus max day),
    Frequency (event count) and Monetary (whole-unit floor of spend),
    each cut at its corpus-wide tercile, users grouped into the 27
    (r, f, m) segments. The marketing-automation staple the reference's
    per-user tables would feed.

    A naive ``ntile(3)`` funnels every user through one sort partition;
    instead each metric collapses to a VALUE HISTOGRAM (recency is
    bounded by the corpus time span in days, frequency and floored spend
    by per-user activity — all small integer domains), the tercile
    boundary comes from the histogram's running count (quality_ntile's
    pattern), and the per-user pass just compares against three
    broadcast thresholds. Corpus-volume work: ONE user groupBy; the
    windows sort value rows, never users. All metrics and thresholds
    are exact integers — ties share a value row and land in one tercile
    deterministically. Boundary rule: tercile k holds values v with
    count(<= v) * 3 > (k-1) * total, i.e. t1 = min v with cum*3 >=
    total; label = 1 + (v > t1) + (v > t2).
    """
    per = (
        events.groupBy("user_id")
        .agg(
            F.max(F.to_date("ts")).alias("last_day"),
            F.count("*").cast("long").alias("freq"),
            F.floor(F.sum(F.col("value").cast("decimal(18,6)")))
            .cast("long")
            .alias("mon"),
        )
    )
    ref = events.agg(F.max(F.to_date("ts")).alias("ref_day"))
    per = per.join(F.broadcast(ref)).select(
        "user_id",
        F.datediff("ref_day", "last_day").cast("long").alias("rec"),
        "freq",
        "mon",
    )
    metrics = per.select(
        F.explode(
            F.array(
                F.struct(F.lit("rec").alias("name"), F.col("rec").alias("value")),
                F.struct(F.lit("freq").alias("name"), F.col("freq").alias("value")),
                F.struct(F.lit("mon").alias("name"), F.col("mon").alias("value")),
            )
        ).alias("m")
    ).select("m.name", "m.value")
    hist = metrics.groupBy("name", "value").agg(F.count("*").cast("long").alias("n"))
    w_cum = (
        Window.partitionBy("name")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("name")
    cum = F.sum("n").over(w_cum)
    tot = F.sum("n").over(w_all)
    marked = hist.select(
        "name",
        "value",
        (cum * 3 >= tot).alias("ge1"),
        (cum * 3 >= tot * 2).alias("ge2"),
    )
    th = marked.groupBy("name").agg(
        F.min(F.when(F.col("ge1"), F.col("value"))).alias("t1"),
        F.min(F.when(F.col("ge2"), F.col("value"))).alias("t2"),
    )
    th1 = th.agg(
        *[
            F.max(F.when(F.col("name") == nm, F.col(c))).alias(f"{nm}_{c}")
            for nm in ("rec", "freq", "mon")
            for c in ("t1", "t2")
        ]
    )

    def seg(v: str, nm: str):
        return (
            F.lit(1)
            + (F.col(v) > F.col(f"{nm}_t1")).cast("int")
            + (F.col(v) > F.col(f"{nm}_t2")).cast("int")
        ).cast("long")

    labeled = per.join(F.broadcast(th1)).select(
        "user_id",
        seg("rec", "rec").alias("r_seg"),
        seg("freq", "freq").alias("f_seg"),
        seg("mon", "mon").alias("m_seg"),
        "mon",
    )
    return labeled.groupBy("r_seg", "f_seg", "m_seg").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("mon").cast("long").alias("monetary_total"),
    )


LTV_MAX_WEEKS = 8


def cohort_ltv(events: DataFrame, max_weeks: int = LTV_MAX_WEEKS) -> DataFrame:
    """Cohort lifetime-value curves: cumulative revenue per signup cohort
    by week-since-first-active — the monetary complement to
    ``retention_cohorts`` (that one says WHO comes back; this says what
    they are WORTH as they age, the payback-period number acquisition
    spend is judged against).

    One user groupBy finds the cohort day; the value join rides the same
    user key; weekly revenue reduces over the (cohorts x weeks)-bounded
    key space with exact decimal sums; and the cumulative curve is a
    running window over that BOUNDED aggregate, never over events.
    ltv_per_user divides two exact integers (cents / cohort size) with
    the exact round-half-up rule.
    """
    first = (
        events.select("user_id", F.date_trunc("day", F.col("ts")).alias("d"))
        .groupBy("user_id")
        .agg(F.min("d").alias("cohort_d"))
    )
    sized = first.groupBy("cohort_d").agg(
        F.count("*").cast("long").alias("cohort_users")
    )
    week = F.floor(F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort_d")) / 7)
    weekly = (
        events.join(first, "user_id")
        .filter(week <= max_weeks)
        .groupBy(
            "cohort_d",
            week.cast("long").alias("week_offset"),
        )
        .agg(
            F.floor(F.sum(F.col("value").cast("decimal(18,6)")) * 100)
            .cast("long")
            .alias("rev_cents"),
        )
    )
    w = (
        Window.partitionBy("cohort_d")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("rev_cents").over(w)
    return (
        weekly.withColumn("cum_cents", cum)
        .join(F.broadcast(sized), "cohort_d")
        .select(
            F.date_format("cohort_d", "yyyy-MM-dd").alias("cohort_day"),
            "week_offset",
            "cohort_users",
            (F.col("rev_cents").cast("double") / F.lit(100.0)).alias("week_revenue"),
            (F.col("cum_cents").cast("double") / F.lit(100.0)).alias("cum_revenue"),
            ratio_round(F.col("cum_cents"), F.col("cohort_users") * 100, 4).alias(
                "ltv_per_user"
            ),
        )
    )


BURSTINESS_MIN_EVENTS = 3


def user_burstiness(
    events: DataFrame, min_events: int = BURSTINESS_MIN_EVENTS
) -> DataFrame:
    """Per-user burstiness of inter-event gaps — Goh & Barabási's
    B = (sigma - mu) / (sigma + mu) over the gap distribution: -1 for a
    metronome (bots, schedulers), ~0 for Poisson arrivals, -> +1 for
    heavy-tailed human burst-and-silence patterns. The behavioral
    fingerprint that separates scripted traffic from people long before
    rate thresholds trip.

    One window pass per user in (ts, event_id) total order yields the
    gaps in seconds (exact longs); per-user moments reduce in one
    groupBy with n*sum(x^2) - sum(x)^2 assembled in DECIMAL (gap
    squares can pass 2^63 for year-long idle users), converted via the
    digit-split, variance clamped at 0 before the sqrt (ANSI/engine
    asymmetry rule), and the B ratio divides engine-identical doubles
    with the degenerate sigma+mu=0 case (all gaps zero) fixed at 0.
    Users with fewer than ``min_events`` events (< 2 gaps) are excluded
    — a single gap has undefined dispersion.
    """
    from inde1_spark.functions.exprs import dec_to_double_exact

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        events.select(
            "user_id",
            (
                F.unix_timestamp("ts")
                - F.unix_timestamp(F.lag("ts").over(w))
            ).alias("gap_s"),
        )
        .filter(F.col("gap_s").isNotNull())
    )
    m = gaps.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum(F.col("gap_s").cast("decimal(38,0)")).alias("sx"),
        F.sum(
            (F.col("gap_s").cast("decimal(38,0)") * F.col("gap_s"))
        ).alias("sxx"),
    )
    n = F.col("n_gaps").cast("decimal(38,0)")
    var_num = n * F.col("sxx") - F.col("sx") * F.col("sx")  # n^2 * variance
    mu = dec_to_double_exact(F.col("sx")) / F.col("n_gaps").cast("double")
    sigma = (
        F.sqrt(
            F.greatest(dec_to_double_exact(var_num), F.lit(0.0))
        )
        / F.col("n_gaps").cast("double")
    )
    b = F.when(sigma + mu > 0, F.round((sigma - mu) / (sigma + mu), 6)).otherwise(
        F.lit(0.0)
    )
    return m.filter(F.col("n_gaps") >= min_events - 1).select(
        "user_id",
        "n_gaps",
        F.round(mu, 6).alias("mean_gap_s"),
        F.round(sigma, 6).alias("sigma_gap_s"),
        b.alias("burstiness"),
    )


# ---------------------------------------------------------------------------
# Warehouse maintenance: MERGE-style upsert + SCD2 dimension versioning
# ---------------------------------------------------------------------------

MERGE_UPDATE_PCT = 30  # hash share standing in for "today's feed"
MERGE_TARGET_MIN = 10  # feed buckets below this are brand-new inserts


def merge_upsert(documents: DataFrame) -> DataFrame:
    """MERGE INTO semantics (the Delta/Iceberg upsert) as a pure plan:
    classify every row of the merged snapshot as kept, updated or
    inserted, carrying the post-merge content. The maintenance shape a
    document store needs nightly — re-crawled pages replace their row,
    new pages insert, untouched pages survive — expressed as ONE
    doc_id equi-join, which is exactly the shuffle a table-format MERGE
    performs under its transaction log (the log is storage-side; the
    relational work is this plan, AQE-skew-safe on the id key).

    Testdata stand-in: the md5 hash split carves "yesterday's snapshot"
    (buckets >= MERGE_TARGET_MIN) and "today's feed" (buckets <
    MERGE_UPDATE_PCT, re-crawled text marked with a revision suffix), so
    the three classes all occur: overlap buckets update, feed-only
    buckets insert, snapshot-only buckets keep.
    """
    from inde1_spark.operators.text import hash_bucket

    b = hash_bucket(F.col("doc_id"), 100)
    target = documents.filter(b >= MERGE_TARGET_MIN).select(
        "doc_id", F.col("text").alias("text_old")
    )
    feed = documents.filter(b < MERGE_UPDATE_PCT).select(
        "doc_id", F.concat(F.col("text"), F.lit(" [rev]")).alias("text_new")
    )
    merged = target.join(feed, "doc_id", "full_outer")
    op = (
        F.when(F.col("text_old").isNull(), F.lit("insert"))
        .when(F.col("text_new").isNull(), F.lit("keep"))
        .otherwise(F.lit("update"))
    )
    final_text = F.coalesce(F.col("text_new"), F.col("text_old"))
    return merged.select(
        "doc_id",
        op.alias("op"),
        F.length(final_text).cast("long").alias("n_chars_merged"),
        F.md5(final_text).alias("content_md5"),
    )


def scd2_intervals(events: DataFrame) -> DataFrame:
    """Slowly-changing-dimension type 2 from a change-event stream: per
    user, collapse the event sequence into validity INTERVALS of the
    tracked attribute (here the event_type — "what state was this user
    in, from when to when"), with a version counter and an open
    interval (NULL valid_to) for the current state. The dimension-
    history builder behind every as-of join: the reference keeps only
    latest-state KV rows (S9); SCD2 is what a warehouse needs to answer
    yesterday's questions with yesterday's attributes.

    Gaps-and-islands: a lag() over the per-user total order (ts,
    event_id) flags attribute changes; a running sum numbers the
    versions; one groupBy per (user, version) emits the interval; a
    lead() over versions closes each interval at its successor's start.
    Per-user windows partition on the id key — the same bounded-key
    window discipline as sessionize_gap; nothing global.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_type").alias("attr"),
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    ver = flagged.select(
        "user_id",
        "ts",
        "attr",
        F.sum("chg")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("version"),
    )
    iv = ver.groupBy("user_id", "version").agg(
        F.min("ts").alias("from_ts"),
        F.count("*").cast("long").alias("n_events"),
        F.min("attr").alias("attr"),  # constant within the version
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    return iv.select(
        "user_id",
        "version",
        "attr",
        "n_events",
        F.date_format("from_ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format(F.lead("from_ts").over(wv), "yyyy-MM-dd HH:mm:ss").alias(
            "valid_to"
        ),
    )


def scd2_asof_enrich(events: DataFrame) -> DataFrame:
    """As-of dimension enrichment against the SCD2 history: every event
    joined to the attribute version that was VALID AT ITS TIMESTAMP —
    "answer yesterday's question with yesterday's attributes", the query
    shape SCD2 exists for (a latest-state KV join silently rewrites
    history; the reference's S9 dimension has exactly that blind spot).

    Audit form: the enrichment re-derives each event's own state, so the
    output aggregates per (user, attr-at-event) and the n_consistent
    column (attr_at_event == event's own type) doubles as the join's
    self-check — it equals n_events except where several same-timestamp
    events open versions at one instant (the [from, to) boundary assigns
    the whole tied instant to the newest version, deterministically in
    both engines). Plan: intervals come
    from ``scd2_intervals`` (per-user windows); the as-of hop is a
    user_id EQUI-join with the [valid_from, valid_to) residual filter —
    per-user version counts are small, so the join fans out by versions
    per user, never by time range (the same keyed-join discipline as
    ``range_join_windows``; AQE skew-splits hot users).
    """
    iv = scd2_intervals(events)
    ev = events.select(
        "event_id",
        "user_id",
        "ts",
        F.col("event_type").alias("type_at_event"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
    )
    joined = (
        ev.join(iv, "user_id")
        .filter(
            (F.col("ts_str") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("ts_str") < F.col("valid_to")))
        )
    )
    return joined.groupBy("user_id", F.col("attr").alias("attr_at_event")).agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(
            F.when(F.col("attr") == F.col("type_at_event"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_consistent"),
        F.min("ts_str").alias("first_ts"),
        F.max("ts_str").alias("last_ts"),
    )


SALT_BUCKETS = 8  # raise with cluster width; cost is salts x |groups| partials


def salted_group_count(events: DataFrame, salts: int = SALT_BUCKETS) -> DataFrame:
    """``group_count`` under EXPLICIT two-stage salting — the hot-key
    mitigation named throughout the 100 TB notes, shipped as a first-
    class spelling whose output is provably IDENTICAL to the plain
    aggregate (it shares group_count's oracle, so the hash gate proves
    salt-and-merge loses nothing). When one group key receives a
    disproportionate share of rows (one lot, one day, one event type),
    the plain groupBy concentrates that key's entire partial on one
    reducer; salting splits each key across ``salts`` sub-keys for the
    wide first stage, and the second stage merges ``salts`` rows per key
    — bounded, skew-free by construction. AQE's skew handling covers
    JOINS; aggregation skew still wants this spelling (or enough
    map-side partial combining, which very-high-cardinality salts would
    defeat — hence a small fixed salt count).

    The salt is ``xxhash64(event_id) % salts`` — derived from the ROW,
    not the group key (salting the key would put every row of a hot key
    in the same salt and change nothing).
    """
    salted = events.withColumn(
        "_salt", F.pmod(F.xxhash64("event_id"), F.lit(salts))
    )
    partial = salted.groupBy(
        _day_str().alias("day"), "event_type", "_salt"
    ).agg(F.count("*").alias("c"))
    return partial.groupBy("day", "event_type").agg(
        F.sum("c").cast("long").alias("n_events")
    )


KANON_THRESHOLDS = (2, 5, 10)


def kanonymity_audit(
    events: DataFrame, thresholds: tuple[int, ...] = KANON_THRESHOLDS
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier tuple — the privacy
    pre-flight before any event-level export: a row whose QI equivalence
    class has fewer than k members is re-identifiable by linkage, and
    the share of such rows is the number a release decision needs. QI
    here is (event_type, hour-of-day, coarse value bucket) — the
    dimensions an outside observer plausibly knows; the operator is a
    pure function of the QI choice, so swapping columns is a one-line
    caller change.

    Per threshold k: how many equivalence classes and what share of ROWS
    sit below k. Plan: one groupBy on the QI (map-side combined), then
    ALL thresholds as conditional sums in a single second aggregate —
    one corpus scan total (a per-threshold filter-union would rescan the
    source once per k; plan-pinned against that regression) — exploded
    back to threshold rows. Exact integer counts and ratios throughout.
    """
    qi = events.groupBy(
        "event_type",
        F.hour("ts").cast("long").alias("hod"),
        F.floor(F.col("value") / 10.0).cast("long").alias("value_bucket"),
    ).agg(F.count("*").cast("long").alias("class_size"))
    aggs = [F.sum("class_size").cast("long").alias("n_rows")]
    for k in thresholds:
        below = F.col("class_size") < k
        aggs.append(
            F.sum(F.when(below, 1).otherwise(0)).cast("long").alias(f"nc_{k}")
        )
        aggs.append(
            F.sum(F.when(below, F.col("class_size")).otherwise(0))
            .cast("long")
            .alias(f"nr_{k}")
        )
    one = qi.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("k"),
                F.col(f"nc_{k}").alias("n_classes_below"),
                F.col(f"nr_{k}").alias("n_rows_below"),
            )
            for k in thresholds
        ]
    )
    return (
        one.select("n_rows", F.explode(rows).alias("r"))
        .select(
            F.col("r.k").alias("k"),
            F.col("r.n_classes_below").alias("n_classes_below"),
            F.col("r.n_rows_below").alias("n_rows_below"),
            "n_rows",
            ratio_round(F.col("r.n_rows_below"), F.col("n_rows"), 6).alias(
                "share_rows_below"
            ),
        )
    )


LDIV_THRESHOLDS = (2, 3, 5)


def ldiversity_audit(
    events: DataFrame, thresholds: tuple[int, ...] = LDIV_THRESHOLDS
) -> DataFrame:
    """l-diversity audit — k-anonymity's necessary companion: a QI class
    can have MANY rows (k-anonymous) while every row shares one
    sensitive value, so membership alone discloses it (the homogeneity
    attack). Per QI equivalence class (same tuple as
    ``kanonymity_audit``), count DISTINCT sensitive values (the user
    identity here); per l threshold, report classes and row share whose
    diversity falls below l. Same bounded plan shape: one QI groupBy
    carrying a distinct count, then a threshold sweep over the class
    table.
    """
    qi = events.groupBy(
        "event_type",
        F.hour("ts").cast("long").alias("hod"),
        F.floor(F.col("value") / 10.0).cast("long").alias("value_bucket"),
    ).agg(
        F.count("*").cast("long").alias("class_size"),
        F.countDistinct("user_id").cast("long").alias("n_sensitive"),
    )
    aggs = [F.sum("class_size").cast("long").alias("n_rows")]
    for l_thr in thresholds:
        below = F.col("n_sensitive") < l_thr
        aggs.append(
            F.sum(F.when(below, 1).otherwise(0)).cast("long").alias(f"nc_{l_thr}")
        )
        aggs.append(
            F.sum(F.when(below, F.col("class_size")).otherwise(0))
            .cast("long")
            .alias(f"nr_{l_thr}")
        )
    one = qi.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(l_thr).cast("long").alias("l"),
                F.col(f"nc_{l_thr}").alias("n_classes_below"),
                F.col(f"nr_{l_thr}").alias("n_rows_below"),
            )
            for l_thr in thresholds
        ]
    )
    return (
        one.select("n_rows", F.explode(rows).alias("r"))
        .select(
            F.col("r.l").alias("l"),
            F.col("r.n_classes_below").alias("n_classes_below"),
            F.col("r.n_rows_below").alias("n_rows_below"),
            "n_rows",
            ratio_round(F.col("r.n_rows_below"), F.col("n_rows"), 6).alias(
                "share_rows_below"
            ),
        )
    )


def tcloseness_audit(events: DataFrame) -> DataFrame:
    """t-closeness — the third rung of the privacy ladder: a class can be
    k-anonymous AND l-diverse while its sensitive-value DISTRIBUTION
    still leaks (all-but-one member in the top value bucket reveals a
    lot about each member). Per QI class (event_type, hour-of-day), the
    total-variation distance between the class-conditional distribution
    of the sensitive attribute (coarse value bucket) and the global
    distribution: t = sum_v |p_c(v) - p(v)| / 2, computed as EXACT
    integer cross-multiplication |n_cv*N - n_v*n_c| in DECIMAL (the
    products pass 2^63 at corpus scale). Absent (class, value) cells are
    handled WITHOUT materializing a grid: their contribution is
    sum_{v absent} n_v*n_c = (N - sum_{v in class} n_v) * n_c, so the
    whole statistic comes from the present cells alone. One corpus
    groupBy, then window sums over the bounded cell table (class totals,
    value totals, grand total — no joins, no rescans; plan-pinned to a
    single scan).
    """
    sens = F.floor(F.col("value") / 10.0).cast("long").alias("v")
    cell = events.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hod"), sens
    ).agg(F.count("*").cast("long").alias("n_cv"))
    w_cls = Window.partitionBy("event_type", "hod")
    w_v = Window.partitionBy("v")
    w_all = Window.partitionBy()
    cell = (
        cell.withColumn("n_c", F.sum("n_cv").over(w_cls).cast("long"))
        .withColumn("n_v", F.sum("n_cv").over(w_v).cast("long"))
        .withColumn("n_total", F.sum("n_cv").over(w_all).cast("long"))
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    term = F.abs(d("n_cv") * d("n_total") - d("n_v") * d("n_c"))
    per_class = cell.groupBy("event_type", "hod").agg(
        F.max("n_c").alias("n_rows"),
        # present cells + the closed-form absent-cell mass
        (
            F.sum(term)
            + (
                F.max(d("n_total")) - F.sum(d("n_v"))
            ) * F.max(d("n_c"))
        ).alias("tv_num"),
        F.max("n_total").alias("nt"),
    )
    from inde1_spark.functions.exprs import dec_floordiv

    num = (F.col("tv_num") * 1_000_000 * 2 + d("n_rows") * 2 * d("nt")).cast(
        "decimal(38,0)"
    )
    den = (d("n_rows") * 2 * d("nt") * 2).cast("decimal(38,0)")
    return per_class.select(
        "event_type",
        "hod",
        F.col("n_rows").cast("long").alias("n_rows"),
        (dec_floordiv(num, den).cast("long").cast("double") / F.lit(1e6)).alias(
            "t_closeness"
        ),
    )


BOOT_REPLICATES = 32
# Poisson(1) inverse-CDF cutoffs on the 32-bit md5 grid (cumulative
# e^-1/k! scaled by 2^32, truncated) — identical literals in the oracle,
# so replicate weights are engine-exact. Residual mass (~2e-5) maps to 8.
_POISSON_CUTS = (
    1580030168, 3160060337, 3950075421, 4213413783,
    4279248373, 4292415291, 4294609777, 4294923276,
)


def bootstrap_mean_ci(events: DataFrame, b: int = BOOT_REPLICATES) -> DataFrame:
    """Poisson bootstrap of the value mean — THE bootstrap that scales
    (Chamandy et al., Google 2012): classic resampling needs n draws
    per replicate coordinated globally, but Poisson(1) per-row weights
    are independent, so all ``b`` replicates compute in ONE pass with a
    b-key aggregate. Output: one row per replicate (its effective row
    count and mean) — the spread across replicates IS the sampling
    distribution, and any CI is a quantile over these b numbers.

    Determinism: the weight is the Poisson(1) inverse CDF evaluated on
    the 32-bit md5 of (event_id, replicate) against precomputed integer
    cutoffs (no RNG, engine-identical); values snap to the micro grid
    and accumulate in DECIMAL; each replicate mean is one exact
    round-half-up. Cost: a b-fold row expansion — embarrassingly
    parallel, the documented price of the method (b trades off CI
    resolution against compute; the aggregate itself is b keys).
    """
    from inde1_spark.functions.exprs import dec_floordiv

    xi = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long")
    ex = events.select("event_id", xi.alias("xi")).select(
        "event_id", "xi", F.explode(F.sequence(F.lit(0), F.lit(b - 1))).alias("rep")
    )
    u = F.conv(
        F.substring(
            F.md5(F.concat_ws("_", F.col("event_id"), F.col("rep"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    w = sum(
        F.when(u >= F.lit(c), 1).otherwise(0) for c in _POISSON_CUTS
    ).cast("long")
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = (
        ex.withColumn("w", w)
        .groupBy("rep")
        .agg(
            F.sum("w").cast("long").alias("n_eff"),
            F.sum(d(F.col("w") * F.col("xi"))).alias("swx"),
        )
        .filter(F.col("n_eff") > 0)
    )
    mean_micro = dec_floordiv(
        (F.col("swx") * 2 + d(F.col("n_eff"))).cast("decimal(38,0)"),
        (d(F.col("n_eff")) * 2).cast("decimal(38,0)"),
    ).cast("long")
    return agg.select(
        F.col("rep").cast("long").alias("rep"),
        "n_eff",
        (mean_micro.cast("double") / F.lit(1e6)).alias("mean_value"),
    )


def seasonal_decompose(events: DataFrame) -> DataFrame:
    """Additive seasonal decomposition of the daily revenue series:
    value = trend + weekly seasonal + residual — the classical-
    decomposition baseline behind anomaly triage (is this spike trend,
    Saturday, or actually anomalous?). Trend is the centered 7-day
    moving average (emitted only where the full window exists, the
    classical edge rule); the seasonal component is the day-of-week mean
    of the detrended series; the residual is what remains.

    Exactness: daily values snap to micro-longs once; the 7-day mean and
    the per-dow mean are exact integer round-half-up; every emitted
    double is a micro-grid integer / 1e6. Scale: one corpus-volume
    groupBy to days, then ALL windows run over the bounded daily series
    (pre-aggregate-before-window, the cumulative_series discipline).
    """
    daily = events.groupBy(_day_str().alias("day")).agg(
        F.floor(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double") * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("v_micro")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    with_trend = daily.select(
        "day",
        "v_micro",
        F.count("*").over(w7).alias("n_win"),
        F.sum("v_micro").over(w7).alias("s_win"),
    ).filter(F.col("n_win") == 7)
    num = F.col("s_win") * 2 + F.lit(7)
    den = F.lit(14)
    trend = ((num - num % den) / den).cast("long")
    det = with_trend.select(
        "day",
        "v_micro",
        trend.alias("trend_micro"),
        (F.col("v_micro") - trend).alias("det_micro"),
        F.dayofweek(F.to_date("day")).cast("long").alias("dow"),
    )
    wd = Window.partitionBy("dow")
    snum = F.sum("det_micro").over(wd) * 2 + F.count("*").over(wd)
    sden = F.count("*").over(wd) * 2
    # det sums can be negative: trunc-division spelling, mirrored exactly
    seasonal = ((snum - snum % sden) / sden).cast("long")
    out = det.select(
        "day",
        "dow",
        (F.col("v_micro").cast("double") / F.lit(1e6)).alias("value"),
        (F.col("trend_micro").cast("double") / F.lit(1e6)).alias("trend"),
        seasonal.alias("seas_micro"),
        (F.col("det_micro") - seasonal).alias("resid_micro"),
    )
    return out.select(
        "day",
        "dow",
        "value",
        "trend",
        (F.col("seas_micro").cast("double") / F.lit(1e6)).alias("seasonal"),
        (F.col("resid_micro").cast("double") / F.lit(1e6)).alias("residual"),
    )


PSI_LOG_SCALE = 1_000_000  # micro-snapped logs keep every product in decimal range


def value_drift_psi(events: DataFrame) -> DataFrame:
    """Population Stability Index of the value distribution, first time
    half vs second — the model-monitoring drift standard next to the KS
    test (``source_drift_ks``): KS answers "did the distribution move",
    PSI weights WHERE it moved by information content (sum over buckets
    of (p1-p2)*ln(p1/p2)), with the industry rule of thumb <0.1 stable /
    >0.25 retrain. Per event_type, over coarse value buckets, halves
    split at the exact midpoint of the observed time range.

    Determinism: Laplace +1 smoothing over the union of buckets (the
    standard zero-cell fix, and it makes every log argument finite);
    each log is a ratio of exact longs (counts stay below 2^53, so the
    long->double conversions are exact in BOTH engines — a product form
    like n1*N2 would pass 2^53 and hit DuckDB's non-correctly-rounded
    wide-int casts), micro-snapped immediately; per-bucket contributions
    are exact decimal ratios on the micro grid (provably nonnegative —
    (p1-p2) and ln(p1/p2) share sign — so round-half-up is safe), summed
    as longs. One corpus groupBy; the sweep runs on the bounded
    (type, bucket) table.
    """
    from inde1_spark.functions.exprs import dec_floordiv

    rng = events.agg(
        F.min(F.unix_timestamp("ts")).alias("t0"),
        F.max(F.unix_timestamp("ts")).alias("t1"),
    )
    mid = (F.col("t0") + F.expr("(t1 - t0) div 2")).alias("mid")
    cells = (
        events.join(F.broadcast(rng.select(mid)))
        .groupBy(
            "event_type",
            F.floor(F.col("value") / 10.0).cast("long").alias("bucket"),
        )
        .agg(
            F.sum(
                F.when(F.unix_timestamp("ts") < F.col("mid"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n1"),
            F.sum(
                F.when(F.unix_timestamp("ts") >= F.col("mid"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n2"),
        )
        .withColumn("n1s", F.col("n1") + 1)
        .withColumn("n2s", F.col("n2") + 1)
    )
    w = Window.partitionBy("event_type")
    cells = cells.withColumn("t1s", F.sum("n1s").over(w).cast("long")).withColumn(
        "t2s", F.sum("n2s").over(w).cast("long")
    )
    lmicro = (
        F.round(F.log(F.col("n1s").cast("double") / F.col("n2s").cast("double"))
                * F.lit(float(PSI_LOG_SCALE)), 0)
        + F.round(F.log(F.col("t2s").cast("double") / F.col("t1s").cast("double"))
                  * F.lit(float(PSI_LOG_SCALE)), 0)
    ).cast("long")
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    diff = d("n1s") * d("t2s") - d("n2s") * d("t1s")
    num = (diff * lmicro.cast("decimal(38,0)")).cast("decimal(38,0)")
    den = (d("t1s") * d("t2s") * PSI_LOG_SCALE).cast("decimal(38,0)")
    # contributions on the NANO grid: per-bucket PSI terms on a stable
    # corpus sit below 1e-6 and a micro grid would flush them all to zero;
    # diff * lmicro * 1e3 stays inside decimal(38,0) even at 1e13 counts
    c_nano = dec_floordiv(
        (num * 1000 * 2 + den).cast("decimal(38,0)"),
        (den * 2).cast("decimal(38,0)"),
    ).cast("long")
    return (
        cells.withColumn("c_nano", c_nano)
        .groupBy("event_type")
        .agg(
            F.sum("n1").cast("long").alias("n_first"),
            F.sum("n2").cast("long").alias("n_second"),
            F.count("*").cast("long").alias("n_buckets"),
            (F.sum("c_nano").cast("double") / F.lit(1e9)).alias("psi"),
        )
    )


# ---------------------------------------------------------------------------
# heavy_hitters_cms: Count-Min heavy-hitter audit (mergeable linear sketch)
# ---------------------------------------------------------------------------

CMS_ROWS = 4
CMS_WIDTH = 256
CMS_TOP_K = 10


def _cms_bucket(width: int):
    """md5-derived Count-Min bucket for columns (r, key) — engine-portable
    and a pure projection, so it works unchanged on a streaming frame."""
    return (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.col("r"), F.col("key"))), 1, 8),
            16,
            10,
        ).cast("long")
        % width
    ).alias("bucket")


def cms_bucketed(
    events: DataFrame, rows: int = CMS_ROWS, width: int = CMS_WIDTH
) -> DataFrame:
    """The pre-aggregation CMS projection: one (r, bucket) row per sketch
    row per event — shared by the batch build (``heavy_hitters_cms``) and
    the streaming maintenance path (``streaming.pipelines.
    cms_sketch_stream``), which differ only in how they aggregate it
    (day-merge vs incremental stateful count; the sketch is linear, so
    both yield identical counters)."""
    key = F.col("user_id").cast("string")
    r = F.explode(F.array(*[F.lit(i) for i in range(rows)])).alias("r")
    return (
        events.select(key.alias("key"))
        .select("key", r)
        .select("r", "key", _cms_bucket(width))
        .select("r", "bucket")
    )


def heavy_hitters_cms(
    events: DataFrame,
    rows: int = CMS_ROWS,
    width: int = CMS_WIDTH,
    k: int = CMS_TOP_K,
) -> DataFrame:
    """Heavy-hitter counts via MERGED per-day Count-Min sketches (Cormode
    & Muthukrishnan 2005) — the frequency sibling of ``distinct_rollup_hll``
    (distincts) and ``percentile_rollup_kll`` (quantiles). Per-key counts
    at 100 TB cannot keep every key per window, but a rows x width counter
    grid aggregates each day into a bounded table and re-merges into ANY
    coarser window by SUMMING counters (the sketch is linear in the
    input). est(key) = min over rows of counter[r][h_r(key)] never
    undercounts; overcount is collision mass, ~n/width per row in
    expectation and <= 2n/width for the min w.h.p.

    Unlike the HLL/KLL entries, the whole audit hash-gates EXACTLY: bucket
    indexes come from md5 hex ranges (engine-portable, seed-free) and
    counters are exact longs, so the estimate itself is deterministic in
    both engines — no accuracy-contract indirection. ``within_markov_bound``
    (overcount*width <= 2*n_total) is likewise deterministic data both
    engines compute identically, not a tolerance that could flake.

    Plan: one rows-x row-expansion projection feeding a map-side-combined
    groupBy (day x rows x width keys — bounded), a bounded sketch merge,
    then the exact top-k keys (TakeOrderedAndProject) probe the merged
    sketch via a broadcast hash join; nothing after the first aggregation
    touches raw data. The raw table is scanned twice only because the
    audit carries the exact ground truth next to the estimate; a
    production rollup keeps the sketch pass alone.
    """
    key = F.col("user_id").cast("string")
    r = F.explode(F.array(*[F.lit(i) for i in range(rows)])).alias("r")
    bucket = _cms_bucket(width)
    merged = (
        events.select(_day_str().alias("day"), key.alias("key"))
        .select("day", "key", r)
        .select("day", "key", "r", bucket)
        .groupBy("day", "r", "bucket")
        .agg(F.count("*").alias("c"))
        .groupBy("r", "bucket")
        .agg(F.sum("c").cast("long").alias("counter"))
    )

    exact = events.groupBy("user_id").agg(
        F.count("*").cast("long").alias("exact_cnt")
    )
    total = events.groupBy().agg(F.count("*").cast("long").alias("n_total"))
    topk = (
        exact.orderBy(F.desc("exact_cnt"), F.asc("user_id"))
        .limit(k)
        .crossJoin(F.broadcast(total))
    )
    probes = (
        topk.select(
            "user_id", "exact_cnt", "n_total", key.alias("key")
        )
        .select("user_id", "exact_cnt", "n_total", "key", r)
        .select("user_id", "exact_cnt", "n_total", "r", bucket)
    )
    return (
        probes.join(F.broadcast(merged), ["r", "bucket"])
        .groupBy("user_id", "exact_cnt", "n_total")
        .agg(F.min("counter").alias("cms_est"))
        .select(
            "user_id",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
            (
                (F.col("cms_est") - F.col("exact_cnt")) * F.lit(width)
                <= F.lit(2) * F.col("n_total")
            ).alias("within_markov_bound"),
        )
    )


# ---------------------------------------------------------------------------
# chi2_independence: Pearson chi-square contingency audit (type x weekday)
# ---------------------------------------------------------------------------


def chi2_independence(events: DataFrame) -> DataFrame:
    """Pearson chi-square independence audit of the event_type x ISO
    weekday contingency table — the categorical member of the drift/
    dependence family (``source_drift_ks`` tests a continuous
    distribution, ``value_drift_psi`` a binned one; this tests whether
    two CATEGORICAL factors are associated at all, the go/no-go before
    anyone builds dow-adjusted thresholds per type).

    Determinism (micro-grid contract): expected counts snap to the micro
    grid as round_half_up(R*C*1e6/N) in decimal(38,0) (never a float
    product — R*C reaches 1e24 at 1e12 events), each cell's contribution
    (O*1e6 - E_micro)^2 / (E_micro*1e6) snaps the same way (squares stay
    under 1e36 < decimal(38,0)), and the statistic is a SUM of exact
    longs divided by 1e6 once. The DuckDB twin runs the identical
    integer arithmetic in HUGEINT.

    Plan: ONE map-side-combined shuffle to the (types x 7)-bounded cell
    table; margins and the global statistic ride windows over those
    bounded cells — the raw table is never touched twice.
    """
    from inde1_spark.functions.exprs import dec_floordiv

    dow = F.dayofweek(F.col("ts"))
    iso = ((dow + 5) % 7 + 1).cast("long")
    raw = events.groupBy("event_type", iso.alias("iso_dow")).agg(
        F.count("*").cast("long").alias("observed")
    )
    # densify: a chi-square over the SPARSE table silently drops every
    # (O=0, E>0) cell's contribution — the planted 2x2 design scores
    # 3e-5 instead of 60 without this. Densification stays ON the
    # bounded aggregated table (no second raw scan): per-type dow->count
    # maps, exploded against the global observed-dow set. All-empty
    # rows/columns stay out by construction, so no E=0 cell exists.
    per_type = raw.groupBy("event_type").agg(
        F.map_from_entries(
            F.collect_list(F.struct("iso_dow", "observed"))
        ).alias("obs_map")
    )
    wg0 = Window.partitionBy()
    dows_arr = F.array_distinct(
        F.flatten(F.collect_list(F.map_keys("obs_map")).over(wg0))
    )
    cells = per_type.select(
        "event_type", "obs_map", dows_arr.alias("all_dows")
    ).select(
        "event_type", "obs_map", F.explode("all_dows").alias("iso_dow")
    ).select(
        "event_type",
        "iso_dow",
        F.coalesce(
            F.element_at("obs_map", F.col("iso_dow")), F.lit(0).cast("long")
        ).alias("observed"),
    )
    wr = Window.partitionBy("event_type")
    wc = Window.partitionBy("iso_dow")
    wg = Window.partitionBy()

    def d(c):
        return c.cast("decimal(38,0)")

    cells = cells.select(
        "event_type",
        "iso_dow",
        "observed",
        d(F.sum("observed").over(wr)).alias("row_tot"),
        d(F.sum("observed").over(wc)).alias("col_tot"),
        d(F.sum("observed").over(wg)).alias("n_total"),
        F.size(F.collect_set("event_type").over(wg)).cast("long").alias("n_types"),
        F.size(F.collect_set("iso_dow").over(wg)).cast("long").alias("n_dows"),
    )
    e_micro = dec_floordiv(
        (
            F.col("row_tot") * F.col("col_tot") * F.lit(1_000_000) * 2
            + F.col("n_total")
        ).cast("decimal(38,0)"),
        (F.col("n_total") * 2).cast("decimal(38,0)"),
    ).cast("decimal(38,0)")
    cells = cells.withColumn("e_micro", e_micro)
    diff = (d(F.col("observed")) * F.lit(1_000_000) - F.col("e_micro")).cast(
        "decimal(38,0)"
    )
    # ((O-E)*1e6)^2 / (E*1e6) = contrib * 1e6 — dividing by e_micro alone
    # keeps the result micro-scaled; greatest(.,1) guards the degenerate
    # rounds-to-zero expected cell (CLAUDE.md denominator rule)
    den = F.greatest(F.col("e_micro"), F.lit(1).cast("decimal(38,0)")).cast(
        "decimal(38,0)"
    )
    contrib_micro = dec_floordiv(
        (diff * diff * 2 + den).cast("decimal(38,0)"),
        (den * 2).cast("decimal(38,0)"),
    ).cast("long")
    cells = cells.withColumn("contrib_micro", contrib_micro)
    dof = (F.col("n_types") - 1) * (F.col("n_dows") - 1)
    return cells.select(
        "event_type",
        "iso_dow",
        "observed",
        (F.col("e_micro").cast("double") / F.lit(1e6)).alias("expected"),
        (F.col("contrib_micro").cast("double") / F.lit(1e6)).alias("contrib"),
        (
            F.sum("contrib_micro").over(wg).cast("double") / F.lit(1e6)
        ).alias("chi2"),
        dof.alias("dof"),
    )


# ---------------------------------------------------------------------------
# acf_daily: autocorrelation function of the daily series
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 14


def acf_daily(events: DataFrame, max_lag: int = ACF_MAX_LAG) -> DataFrame:
    """Autocorrelation function of the daily revenue series at lags
    1..``max_lag`` — the lag-structure fingerprint that closes the
    time-series family: ``dow_profile``/``seasonal_decompose`` ASSUME a
    weekly cycle, the ACF shows whether one exists (a lag-7 peak) and
    what else does (lag-1 momentum for EWMA/Holt parameter choices,
    slow decay = trend the changepoint test will otherwise flag).

    Exactness: the mean-centered convention multiplied through by n so
    every factor is an exact integer — r_l = sum_t (n*x_t - S)(n*x_{t+l}
    - S) / sum_t (n*x_t - S)^2 with x on the micro grid (the n^2
    cancels). Products stay inside decimal(38,0) (|n*x - S| <= ~1e18 at
    1e3 days of 1e12-micro revenue, squared 1e36); the final ratio
    converts both wide sums via dec_to_double_exact (never a raw
    >2^53 cast — CLAUDE.md rule) and divides two engine-identical
    doubles once. Zero-variance series guard: den clamps to 1 (every
    numerator is then 0 anyway).

    Plan: one corpus-volume groupBy to days, then everything — global
    moments, the ``max_lag`` lead columns, the lag explode, the per-lag
    aggregate — runs over the BOUNDED daily series
    (pre-aggregate-before-window discipline).
    """
    from inde1_spark.functions.exprs import dec_to_double_exact

    daily = events.groupBy(_day_str().alias("day")).agg(
        F.floor(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double") * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("v_micro")
    )
    wg = Window.partitionBy()
    w = Window.orderBy("day")

    def d38(c):
        return c.cast("decimal(38,0)")

    base = daily.select(
        "day",
        F.count("*").over(wg).cast("long").alias("n_days"),
        (
            d38(F.count("*").over(wg)) * F.col("v_micro")
            - d38(F.sum("v_micro").over(wg))
        )
        .cast("decimal(38,0)")
        .alias("diff"),
    )
    leads = base.select(
        "day",
        "n_days",
        "diff",
        F.array(
            *[
                F.struct(
                    F.lit(lag).cast("long").alias("lag"),
                    F.lead("diff", lag).over(w).alias("dl"),
                )
                for lag in range(1, max_lag + 1)
            ]
        ).alias("lags"),
    )
    # den must bind BEFORE the explode: a same-projection window would
    # evaluate over the exploded rows (each diff repeated max_lag times,
    # inflating den exactly max_lag-fold — caught by the oracle gate)
    with_den = leads.select(
        "n_days",
        "diff",
        "lags",
        F.sum((d38(F.col("diff")) * F.col("diff")).cast("decimal(38,0)"))
        .over(wg)
        .cast("decimal(38,0)")
        .alias("den"),
    )
    exploded = with_den.select(
        "n_days", "diff", "den", F.explode("lags").alias("p")
    ).filter(F.col("p.dl").isNotNull())
    per_lag = exploded.groupBy(F.col("p.lag").alias("lag")).agg(
        F.max("n_days").alias("n_days"),
        F.count("*").cast("long").alias("n_pairs"),
        F.sum((d38(F.col("diff")) * F.col("p.dl")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("num"),
        F.max("den").alias("den"),
    )
    den_safe = F.greatest(F.col("den"), F.lit(1).cast("decimal(38,0)"))
    return per_lag.select(
        "lag",
        "n_days",
        "n_pairs",
        (
            dec_to_double_exact(F.col("num"))
            / dec_to_double_exact(den_safe.cast("decimal(38,0)"))
        ).alias("acf"),
    )


# ---------------------------------------------------------------------------
# mann_kendall: nonparametric monotonic-trend test on the daily series
# ---------------------------------------------------------------------------


def mann_kendall(events: DataFrame) -> DataFrame:
    """Mann-Kendall monotonic-trend test over the daily revenue series —
    the NONPARAMETRIC companion to ``daily_trend_regression``: the
    least-squares slope assumes linearity and is dragged by one outlier
    day, while S = sum_{i<j} sign(x_j - x_i) detects ANY monotonic drift
    and is rank-robust. Standard normal approximation with the tie
    correction and continuity correction: Var(S) = [n(n-1)(2n+5) -
    sum t(t-1)(2t+5)]/18, Z = (S -/+ 1)/sqrt(Var).

    Determinism: S and 18*Var(S) are exact integers (longs — n is the
    DAY count, bounded by the calendar, so n^3 stays tiny); Z divides
    two doubles built from them with IEEE-exact ops (sqrt is correctly
    rounded in both engines); the variance clamps at 0 per the CLAUDE.md
    rule before sqrt (DuckDB hard-errors on sqrt(negative)). The
    trend_5pct boolean (|Z| > 1.96) is deterministic data, not a
    tolerance.

    Plan: one corpus-volume groupBy to days; the pair join is a
    self-join of the BOUNDED daily series (time-bounded, not
    data-bounded — ~10^3 days even at 100 TB, 10^6 pairs), the same
    boundedness argument as the other daily-series operators.
    """
    daily = events.groupBy(_day_str().alias("day")).agg(
        F.floor(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double") * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("v")
    )
    a = daily.select(F.col("day").alias("da"), F.col("v").alias("va"))
    b = daily.select(F.col("day").alias("db"), F.col("v").alias("vb"))
    s_row = (
        a.join(b, F.col("da") < F.col("db"))
        .groupBy()
        .agg(
            F.sum(F.signum(F.col("vb") - F.col("va")))
            .cast("long")
            .alias("s_stat")
        )
    )
    ties = (
        daily.groupBy("v")
        .agg(F.count("*").cast("long").alias("t"))
        .groupBy()
        .agg(
            F.count("*").cast("long").alias("n_value_groups"),
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("tie_term"),
            F.sum("t").cast("long").alias("n_days"),
        )
    )
    n = F.col("n_days")
    var18 = F.greatest(
        n * (n - 1) * (2 * n + 5) - F.col("tie_term"), F.lit(0).cast("long")
    )
    z = F.when(F.col("s_stat") > 0,
               (F.col("s_stat") - 1).cast("double")
               / F.sqrt(F.col("var18").cast("double") / F.lit(18.0))
        ).when(F.col("s_stat") < 0,
               (F.col("s_stat") + 1).cast("double")
               / F.sqrt(F.col("var18").cast("double") / F.lit(18.0))
        ).otherwise(F.lit(0.0))
    return (
        ties.crossJoin(F.broadcast(s_row))
        .withColumn("var18", var18)
        .select(
            "n_days",
            "n_value_groups",
            "s_stat",
            (F.col("var18").cast("double") / F.lit(18.0)).alias("var_s"),
            z.alias("z"),
            (F.abs(z) > F.lit(1.96)).alias("trend_5pct"),
        )
    )


# ---------------------------------------------------------------------------
# benford_deviation: first-significant-digit data-quality audit
# ---------------------------------------------------------------------------

# round(log10(1 + 1/d) * 1e6) for d = 1..9, precomputed in Python so both
# engines compare against the IDENTICAL integer constants (no runtime
# float log whose ulp could differ between engines)
BENFORD_EXPECTED_PPM: tuple[int, ...] = tuple(
    int(round(__import__("math").log10(1.0 + 1.0 / d) * 1e6))
    for d in range(1, 10)
)


def benford_deviation(events: DataFrame) -> DataFrame:
    """Benford first-significant-digit audit of the value column — the
    classic fabricated/synthetic-data smell test (real multiplicative
    quantities lead with 1 ~30% of the time; invented or uniformly
    generated numbers don't). Emits per-digit observed share vs the
    Benford expectation and the total-variation distance — the one-row
    go/no-go a data-quality pipeline thresholds on.

    Determinism: the first digit comes from the MICRO-LONG value's
    decimal string (never floor(log10(double)) — log ulps differ between
    engines at decade boundaries); expected shares are integer ppm
    constants precomputed in Python and shared with the oracle; shares
    are exact ratio_scaled ppm; deviations and the TV distance are pure
    long arithmetic. All 9 digits are densified onto an explicit spine
    (the chi2_independence lesson: zero cells must contribute).

    Plan: one scan -> one map-side-combined groupBy to <=9 digit rows;
    the spine, expectation join and TV distance ride the bounded table.
    """
    from inde1_spark.functions.exprs import ratio_scaled

    m = F.floor(F.col("value").cast("double") * 1e6 + F.lit(0.5)).cast("long")
    counts = (
        events.select(m.alias("m"))
        .filter(F.col("m") > 0)
        .select(
            F.substring(F.col("m").cast("string"), 1, 1)
            .cast("long")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").cast("long").alias("n_obs"))
    )
    # densify without re-branching counts (the chi2_independence lesson,
    # single-scan form): ONE global row holding the digit->count map and
    # the total, exploded onto the full 1..9 spine
    one = counts.groupBy().agg(
        F.map_from_entries(F.collect_list(F.struct("digit", "n_obs"))).alias(
            "om"
        ),
        F.sum("n_obs").cast("long").alias("n_total"),
    )
    expected = F.element_at(
        F.array(*[F.lit(p) for p in BENFORD_EXPECTED_PPM]),
        F.col("digit").cast("int"),
    ).cast("long")
    dense = (
        one.select(
            "om",
            "n_total",
            F.explode(F.sequence(F.lit(1), F.lit(9))).alias("digit"),
        )
        .select(
            F.col("digit").cast("long").alias("digit"),
            "n_total",
            F.coalesce(
                F.element_at("om", F.col("digit").cast("long")),
                F.lit(0).cast("long"),
            ).alias("n_obs"),
            expected.alias("expected_ppm"),
        )
        .withColumn(
            "share_ppm",
            ratio_scaled(
                F.col("n_obs"), F.greatest(F.col("n_total"), F.lit(1)), 6
            ),
        )
        .withColumn(
            "dev_ppm", F.col("share_ppm") - F.col("expected_ppm")
        )
    )
    wg = Window.partitionBy()
    return dense.select(
        "digit",
        "n_obs",
        "n_total",
        (F.col("share_ppm").cast("double") / F.lit(1e6)).alias("share"),
        (F.col("expected_ppm").cast("double") / F.lit(1e6)).alias("expected"),
        "dev_ppm",
        (
            F.floor(F.sum(F.abs(F.col("dev_ppm"))).over(wg) / F.lit(2))
            .cast("long")
        ).alias("tv_ppm"),
    )


# ---------------------------------------------------------------------------
# runs_test: Wald-Wolfowitz randomness test on the daily series
# ---------------------------------------------------------------------------


def runs_test(events: DataFrame) -> DataFrame:
    """Wald-Wolfowitz runs test of the daily revenue series against its
    mean — the randomness check that closes the daily-series statistics
    tier: ``acf_daily`` measures LINEAR lag dependence, ``mann_kendall``
    monotonic drift; the runs test catches any non-randomness that shows
    up as too-few runs (clustering/regimes) or too-many (oscillation),
    including patterns both of the others score near zero.

    Above/below the MEAN, not the median: sign_t = (n*x_t > S) is an
    exact integer comparison (the acf_daily n-scaling trick), so no
    quantile definition enters the contract. R = observed runs (exact,
    via one lag over the ordered bounded series); with n1 above and n2
    below, E[R] = 1 + 2*n1*n2/n and Var[R] = 2*n1*n2*(2*n1*n2 - n) /
    (n^2*(n-1)); z = (R - E)/sqrt(Var). E, Var and z are doubles built
    from exact longs with IEEE ops (sqrt correctly rounded both
    engines); Var clamps at 0 pre-sqrt per the engine-asymmetry rules,
    and the degenerate all-one-side series (n1*n2 = 0) emits z = 0.

    Plan: one corpus-volume groupBy to days; the sign sequence, the lag,
    and the run count ride windows over the BOUNDED daily series.
    """
    daily = events.groupBy(_day_str().alias("day")).agg(
        F.floor(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double") * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("v")
    )
    wg = Window.partitionBy()
    w = Window.orderBy("day")

    def d38(c):
        return c.cast("decimal(38,0)")

    signs = daily.select(
        "day",
        F.count("*").over(wg).cast("long").alias("n_days"),
        (
            d38(F.count("*").over(wg)) * F.col("v")
            > d38(F.sum("v").over(wg))
        ).alias("above"),
    )
    flips = signs.select(
        "n_days",
        "above",
        F.when(
            F.lag("above").over(w).isNull()
            | (F.lag("above").over(w) != F.col("above")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = flips.groupBy().agg(
        F.max("n_days").alias("n_days"),
        F.sum(F.when(F.col("above"), 1).otherwise(0))
        .cast("long")
        .alias("n_above"),
        F.sum(F.when(~F.col("above"), 1).otherwise(0))
        .cast("long")
        .alias("n_below"),
        F.sum("new_run").cast("long").alias("n_runs"),
    )
    n = F.col("n_days").cast("double")
    p2 = (F.lit(2.0) * F.col("n_above") * F.col("n_below")).cast("double")
    e_runs = F.lit(1.0) + p2 / n
    var_num = p2 * (p2 - n)
    # denominator clamps (n=1 day) and the var>0 guard both run BEFORE
    # any division a when() condition would still evaluate — double/0 is
    # an engine asymmetry (Spark Inf vs DuckDB NULL), never reach it
    var = F.greatest(
        var_num / (n * n * F.greatest(n - F.lit(1.0), F.lit(1.0))),
        F.lit(0.0),
    )
    z = F.when(
        (F.col("n_above") == 0) | (F.col("n_below") == 0) | (var <= 0),
        F.lit(0.0),
    ).otherwise((F.col("n_runs").cast("double") - e_runs) / F.sqrt(var))
    return agg.select(
        "n_days",
        "n_above",
        "n_below",
        "n_runs",
        e_runs.alias("expected_runs"),
        z.alias("z"),
        (F.abs(z) > F.lit(1.96)).alias("nonrandom_5pct"),
    )


# ---------------------------------------------------------------------------
# join_cardinality_audit: estimate a join's output size BEFORE running it
# ---------------------------------------------------------------------------


def join_cardinality_audit(events: DataFrame) -> DataFrame:
    """Exact output-cardinality audit for the user_id self-join — the
    planner statistic you compute BEFORE keying a 100 TB join:
    |A JOIN A on k| = sum_k c(k)^2, so one cheap per-key count pass
    predicts whether the session-pairing / dedup-candidate join ahead is
    linear-ish or an explosion, and the skew factor (estimate vs the
    uniform-keys baseline n^2/n_keys) says whether salting is needed
    before any shuffle is attempted. This is the measured form of the
    cardinality estimate a cost-based optimizer guesses at.

    Determinism: the estimate accumulates c^2 in decimal(38,0) (c^2
    reaches 1e24 at 1e12-row hot keys; a LONG would wrap silently where
    DuckDB's HUGEINT hard-errors — the dim_stats asymmetry) and is
    emitted BOTH as an exact string (wide decimals hash exactly as
    strings) and as a double via the base-10^15 digit split. The skew
    factor divides digit-split doubles in a fixed op order.

    Plan: one map-side-combined groupBy to the key histogram, one
    bounded aggregate over it. The audited join itself is never run.
    """
    from inde1_spark.functions.exprs import dec_to_double_exact

    def d38(c):
        return c.cast("decimal(38,0)")

    counts = events.groupBy("user_id").agg(
        F.count("*").cast("long").alias("c")
    )
    agg = counts.groupBy().agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_keys"),
        F.max("c").cast("long").alias("max_key_rows"),
        F.sum((d38(F.col("c")) * F.col("c")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("est_dec"),
    )
    n2 = (d38(F.col("n_rows")) * F.col("n_rows")).cast("decimal(38,0)")
    skew = (
        dec_to_double_exact(F.col("est_dec"))
        / dec_to_double_exact(n2)
        * F.col("n_keys").cast("double")
    )
    return agg.select(
        "n_rows",
        "n_keys",
        "max_key_rows",
        F.col("est_dec").cast("string").alias("est_join_rows"),
        dec_to_double_exact(F.col("est_dec")).alias("est_join_rows_approx"),
        skew.alias("skew_factor"),
    )


# ---------------------------------------------------------------------------
# audience_overlap: pairwise event-type audience matrix
# ---------------------------------------------------------------------------


def audience_overlap(events: DataFrame) -> DataFrame:
    """Audience overlap matrix: for every pair of event types, how many
    users do both, with Jaccard and containment — the product-analytics
    view behind "do purchasers also click?" and the feature-correlation
    pre-check before funnel design. Zero-overlap pairs are densified in
    (their absence IS the finding).

    Scale shape: ONE corpus-volume shuffle to per-user sorted type sets;
    pair counts explode row-locally from each user's set (<= |types|^2/2
    structs per user, types is a bounded vocabulary), totals explode the
    same sets, and the full pair grid rebuilds row-locally from the
    one-row type->count map (the benford/chi2 densify pattern) — no
    user-keyed join anywhere. Jaccard/containment are exact
    ratio_rounds of exact longs.
    """
    from inde1_spark.functions.exprs import ratio_round

    usersets = events.groupBy("user_id").agg(
        F.sort_array(F.collect_set("event_type")).alias("ts")
    )

    def _pairs(arr):
        return F.flatten(
            F.transform(
                arr,
                lambda x, i: F.transform(
                    F.slice(arr, i + 2, F.greatest(F.size(arr), F.lit(1))),
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
            )
        )

    p = (
        usersets.select(F.explode(_pairs(F.col("ts"))).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    one = (
        usersets.select(F.explode("ts").alias("t"))
        .groupBy("t")
        .agg(F.count("*").cast("long").alias("n"))
        .groupBy()
        .agg(
            F.map_from_entries(F.collect_list(F.struct("t", "n"))).alias("tm")
        )
    )
    grid = one.select(
        "tm", F.explode(_pairs(F.sort_array(F.map_keys("tm")))).alias("p")
    ).select(
        F.col("p.a").alias("a"),
        F.col("p.b").alias("b"),
        F.element_at("tm", F.col("p.a")).alias("n_a"),
        F.element_at("tm", F.col("p.b")).alias("n_b"),
    )
    dense = grid.join(F.broadcast(p), ["a", "b"], "left").select(
        F.col("a").alias("type_a"),
        F.col("b").alias("type_b"),
        "n_a",
        "n_b",
        F.coalesce("n_both", F.lit(0).cast("long")).alias("n_both"),
    )
    union = F.col("n_a") + F.col("n_b") - F.col("n_both")
    return dense.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "n_both",
        ratio_round(F.col("n_both"), F.greatest(union, F.lit(1)), 6).alias(
            "jaccard"
        ),
        ratio_round(
            F.col("n_both"),
            F.greatest(F.least("n_a", "n_b"), F.lit(1)),
            6,
        ).alias("containment"),
    )


# ---------------------------------------------------------------------------
# markov_stationary: asymptotic occupancy of the behavior chain
# ---------------------------------------------------------------------------

MARKOV_DAMPING = 0.85
MARKOV_ITERS = 8


def markov_stationary(
    events: DataFrame,
    iters: int = MARKOV_ITERS,
) -> DataFrame:
    """Damped stationary distribution of the user behavior chain — where
    the process SPENDS ITS TIME asymptotically, which
    ``transition_matrix`` (one-step probabilities) doesn't answer: a
    state can have many inbound edges yet be transient. Damping (the
    PageRank teleport, alpha = 0.85) guarantees a unique stationary
    vector even when the raw chain is periodic or reducible — the same
    reason web ranking needs it.

    Arithmetic is the ``pagerank_dup_graph`` nano-long contract: the
    per-edge mass transfer (pi_nano * c) div row_tot is an exact integer
    (pi_nano <= ~1e9, c a corpus count — re-check if a single transition
    pair ever exceeds ~1e9 occurrences), and the damping update
    re-derives the same long from the same IEEE doubles in both
    engines; the DuckDB twin unrolls the rounds as chained CTEs. Every
    iteration is a join of two <=|types|^2-row tables — the corpus is
    touched once to build the count matrix.
    """
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    pairs = (
        events.select(
            "user_id",
            F.col("event_type").alias("u"),
            F.lead("event_type").over(w).alias("v"),
        )
        .filter(F.col("v").isNotNull())
    )
    edges = pairs.groupBy("u", "v").agg(F.count("*").cast("long").alias("c"))
    rowtot = edges.groupBy("u").agg(F.sum("c").cast("long").alias("tot"))
    states = (
        edges.select(F.col("u").alias("s"))
        .union(edges.select(F.col("v").alias("s")))
        .distinct()
    )
    n_states = states.agg(F.count("*").cast("double").alias("k"))
    pi = states.join(F.broadcast(n_states)).select(
        "s",
        "k",
        F.floor(F.lit(1e9) / F.col("k") + F.lit(0.5)).cast("long").alias("p_nano"),
    )

    # persist the count matrix (each loop reference would otherwise
    # re-embed the corpus window pass) and lazily checkpoint the pi chain
    # (kmeans/components invariant: plan stays linear, no eager action)
    em = persist(edges.join(rowtot, "u"))
    # one SQL string for the damping update (identical tree: the repr'd
    # double literals ARE the doubles the injected lits produced) — ~25
    # gateway calls per round otherwise
    upd_sql = (
        f"CAST(FLOOR(({(1.0 - MARKOV_DAMPING)!r}D / k) * 1.0E9 "
        f"+ {MARKOV_DAMPING!r}D * coalesce(m_nano, 0L) + 0.5D) AS BIGINT) "
        "AS p_nano"
    )
    for _ in range(iters):
        contrib = em.join(
            pi.select(F.col("s").alias("u"), "p_nano"), "u"
        ).select(
            F.col("v").alias("s"), F.expr("(p_nano * c) div tot").alias("m")
        )
        inc = contrib.groupBy("s").agg(F.sum("m").cast("long").alias("m_nano"))
        pi = lazy_checkpoint(
            pi.join(inc, "s", "left").selectExpr("s", "k", upd_sql),
            adaptive=False,
        )
    return pi.join(F.broadcast(rowtot.withColumnRenamed("u", "s")), "s", "left").select(
        F.col("s").alias("state"),
        F.coalesce("tot", F.lit(0).cast("long")).alias("n_out_transitions"),
        (F.col("p_nano").cast("double") / F.lit(1e9)).alias("stationary_p"),
    )


# ---------------------------------------------------------------------------
# Skyline / interval / streak tier: classic OLAP shapes the reference's
# ranking+pairing queries (MainWeekly.scala top-k, session zip) gesture at
# but never generalize — spelled here as bounded-window plans, no self-joins.
# ---------------------------------------------------------------------------

def pareto_frontier(part: DataFrame) -> DataFrame:
    """2-D skyline (Pareto frontier) over parts: minimize price, maximize
    size — "no other part is both cheaper and at least as large".

    The naive spelling is a quadratic NOT-EXISTS self-join; this is the
    sort-based sweep instead: reduce to the PRICE-DOMAIN table first
    (groupBy exact cents — the only N-sized pass, map-side combinable),
    keep the max size per price point (same-price smaller sizes are
    dominated by definition), then one ordered cummax sweep keeps a point
    iff its size strictly exceeds every strictly-cheaper point's best
    size. Equal-size-at-higher-price is dominated (size == prev cummax
    -> dropped); the strictness cases all collapse correctly because the
    per-price reduce ran first.

    Scale: the sweep window runs over the price DOMAIN (distinct cent
    values — bounded by the price range, ~1e5 rows at any corpus size),
    not over N; the N-sized work is one combinable groupBy. Prices are
    snapped to exact integer cents (floor(x*100+0.5)) so the double
    key is engine-portable and the domain is provably finite.
    """
    pts = (
        part.select(
            F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
            "p_size",
        )
        .groupBy("cents", "p_size")
        .agg(F.count("*").cast("long").alias("n_parts"))
    )
    wp = Window.partitionBy("cents").orderBy(F.col("p_size").desc())
    best = (
        pts.withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    # bounded global sweep: input is the reduced price-domain table
    ws = (
        Window.orderBy(F.col("cents").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        best.withColumn("prev_best", F.max("p_size").over(ws))
        .filter(F.col("prev_best").isNull() | (F.col("p_size") > F.col("prev_best")))
        .select(
            (F.col("cents").cast("double") / F.lit(100.0)).alias("price"),
            F.col("p_size").cast("long").alias("max_size"),
            "n_parts",
        )
        .orderBy("price")
    )


def interval_coverage(events: DataFrame) -> DataFrame:
    """Sweep-line union of busy intervals per user: total COVERED seconds
    counting overlaps once, vs the raw busy-sum that double-counts them.

    Intervals come from the deterministic n-th-entry/n-th-exit pairing
    (``session_pairing`` semantics, MainWeekly.scala:111-128 resolution);
    inverted pairs (exit before entry) are dropped. The union is the
    gaps-and-islands sweep: order a user's intervals by (start, end), a
    new island starts where start > cummax(previous ends), island id =
    running sum of the flags, then one groupBy per island. Every window
    is partitioned by user_id — state is bounded per key, nothing global.

    Output per user: interval count, island (merged-busy-period) count,
    covered seconds, and overlap seconds (busy-sum minus covered — the
    double-booking signal the reference's alert rule hints at).
    """
    w_ent = Window.partitionBy("user_id").orderBy("ts", "event_id")
    entries = (
        events.filter(F.col("event_type") == ENTRY_TYPE)
        .select("user_id", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w_ent))
        .select("user_id", "rn", F.unix_timestamp("ts").alias("s"))
    )
    exits = (
        events.filter(F.col("event_type") == EXIT_TYPE)
        .select("user_id", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w_ent))
        .select("user_id", "rn", F.unix_timestamp("ts").alias("e"))
    )
    iv = entries.join(exits, ["user_id", "rn"]).filter(F.col("e") > F.col("s"))
    w = Window.partitionBy("user_id").orderBy("s", "e")
    w_prev = w.rowsBetween(Window.unboundedPreceding, -1)
    islands = (
        iv.withColumn("prev_e", F.max("e").over(w_prev))
        .withColumn(
            "new_island",
            F.when(
                F.col("prev_e").isNull() | (F.col("s") > F.col("prev_e")), 1
            ).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", "island")
        .agg(
            F.count("*").cast("long").alias("n_iv"),
            F.sum(F.col("e") - F.col("s")).cast("long").alias("busy"),
            (F.max("e") - F.min("s")).cast("long").alias("covered"),
        )
    )
    return (
        islands.groupBy("user_id")
        .agg(
            F.sum("n_iv").cast("long").alias("n_intervals"),
            F.count("*").cast("long").alias("n_islands"),
            F.sum("covered").cast("long").alias("covered_sec"),
            (F.sum("busy") - F.sum("covered")).cast("long").alias("overlap_sec"),
        )
        .orderBy("user_id")
    )


def user_streaks(events: DataFrame) -> DataFrame:
    """Longest consecutive-active-day streak per user, reported as a
    histogram (streak length -> user count) — the classic gaps-and-islands
    date trick: on a user's DISTINCT sorted activity days, day_number
    minus row_number is constant exactly along a consecutive run, so one
    partitioned window plus a groupBy finds every streak with no self-join
    and no day-range explode.

    Scale: distinct (user, day) is the only corpus-sized intermediate
    (combinable groupBy); the window is partitioned per user and the
    histogram output is bounded by the longest streak in days.
    """
    days = (
        events.select(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias(
                "day_id"
            ),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day_id")
    streaks = (
        days.withColumn("grp", F.col("day_id") - F.row_number().over(w))
        .groupBy("user_id", "grp")
        .agg(F.count("*").cast("long").alias("len"))
    )
    longest = streaks.groupBy("user_id").agg(F.max("len").alias("max_streak"))
    return (
        longest.groupBy("max_streak")
        .agg(F.count("*").cast("long").alias("n_users"))
        .select(F.col("max_streak").alias("streak_days"), "n_users")
        .orderBy("streak_days")
    )


PATH_MAX_STEPS = 8   # truncate each session's path to its first 8 steps
PATH_TOP_K = 20
PATH_GAP_MIN = 60    # sessionize_gap's session boundary


def session_paths(
    events: DataFrame,
    gap_minutes: int = PATH_GAP_MIN,
    max_steps: int = PATH_MAX_STEPS,
    k: int = PATH_TOP_K,
) -> DataFrame:
    """Top-k behavioral paths: the ordered event-type sequence of each
    gap-defined session, truncated to its first ``max_steps`` steps —
    the full-journey view ``transition_matrix`` (one-step) and
    ``funnel_steps`` (one fixed path) both project away.

    Sessions reuse the sessionize_gap islands; each session's path is
    assembled ROW-LOCALLY (array_sort of collected (ts, event_id, type)
    structs, slice, concat) so ordering needs no second window, and the
    total order (ts, event_id) makes the string engine-identical. Path
    cardinality is bounded by |types|^max_steps in theory but by observed
    journeys in practice; the top-k is a TakeOrdered, never a global sort.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)))
            > gap_minutes * 60,
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    ).withColumn(
        "session_id",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    paths = flagged.groupBy("user_id", "session_id").agg(
        F.concat_ws(
            ">",
            F.slice(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                1,
                max_steps,
            ),
        ).alias("path"),
        F.count("*").cast("long").alias("n_events"),
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum("n_events").cast("long").alias("n_events"),
        )
        .orderBy(F.col("n_sessions").desc(), F.col("path").asc())
        .limit(k)
    )


KM_CHURN_GAP_DAYS = 7  # quiet for > this before corpus end = churned
KM_LOG_ZERO = -(10**18)  # absorbing sentinel: everyone-at-risk-churned row


def kaplan_meier_retention(
    events: DataFrame, churn_gap_days: int = KM_CHURN_GAP_DAYS
) -> DataFrame:
    """Kaplan-Meier survival over user lifetimes with right-censoring —
    the statistically honest retention curve: a user still active near
    the end of the observation window hasn't churned, they're CENSORED,
    and naive retention (``retention_cohorts``) silently treats them as
    lost. KM removes censored users from the at-risk set without
    counting them as deaths: S(t) = prod_{u <= t} (1 - d_u / n_u).

    Churn definition: last activity more than ``churn_gap_days`` before
    the corpus max day (the quiet-user heuristic); the observed time for
    churned users is last_day - first_day, for censored users
    max_day - first_day. One per-user min/max pass is the only
    corpus-sized work; the risk table and the cumulative product (as a
    nano-snapped log sum — exact long arithmetic, no engine-libm exp)
    ride the bounded duration grid. S(t) = exp(log_survival).
    """
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    # persisted: the corpus-end aggregate and the observation table both
    # consume the per-user lifetime pass — one corpus scan, not two
    per_user = persist(
        events.select("user_id", day.alias("d"))
        .groupBy("user_id")
        .agg(F.min("d").alias("first_d"), F.max("d").alias("last_d"))
    )
    maxd = per_user.agg(F.max("last_d").alias("max_d"))
    obs = per_user.join(F.broadcast(maxd)).select(
        F.when(
            F.col("last_d") < F.col("max_d") - F.lit(churn_gap_days),
            F.col("last_d") - F.col("first_d"),
        )
        .otherwise(F.col("max_d") - F.col("first_d"))
        .alias("t"),
        F.when(
            F.col("last_d") < F.col("max_d") - F.lit(churn_gap_days), 1
        )
        .otherwise(0)
        .alias("churned"),
    )
    grid = obs.groupBy("t").agg(
        F.sum("churned").cast("long").alias("n_churned"),
        F.sum(F.lit(1) - F.col("churned")).cast("long").alias("n_censored"),
    )
    # bounded duration-grid windows: at-risk = suffix sum, survival = the
    # cumulative nano-log of (n-d)/n (exact longs; ln snapped per step)
    w_ord = Window.orderBy("t")
    at_risk = F.sum(F.col("n_churned") + F.col("n_censored")).over(
        w_ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    step_log = F.round(
        F.log(
            (F.col("n_at_risk") - F.col("n_churned")).cast("double")
            / F.col("n_at_risk").cast("double")
        )
        * F.lit(1e9)
    ).cast("long")
    # d == n would be ln(0): Spark yields NULL, DuckDB hard-errors (the
    # engine-asymmetry rule) — use an absorbing sentinel (survival is
    # exactly 0 from that row on; exp(-1e9) underflows to 0.0)
    step = F.when(
        (F.col("n_churned") > 0) & (F.col("n_at_risk") > F.col("n_churned")),
        step_log,
    ).when(
        F.col("n_churned") > 0, F.lit(KM_LOG_ZERO)
    ).otherwise(F.lit(0).cast("long"))
    return (
        grid.withColumn("n_at_risk", at_risk.cast("long"))
        .withColumn("step", step)
        .withColumn(
            "log_survival",
            (
                F.sum("step")
                .over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
                .cast("double")
                / F.lit(1e9)
            ),
        )
        .select(
            F.col("t").alias("duration_days"),
            "n_at_risk",
            "n_churned",
            "n_censored",
            "log_survival",
        )
        .orderBy("duration_days")
    )


ASOF_FWD_TOLERANCE_SEC = 3600


def asof_join_forward(
    events: DataFrame, tolerance_sec: int = ASOF_FWD_TOLERANCE_SEC
) -> DataFrame:
    """Forward as-of: each 'error' event matched to the NEXT 'view' of the
    same user within a tolerance — the time-to-recovery enrichment that is
    ``asof_join``'s mirror image (backward = state at event time; forward
    = first reaction after it). Same union-and-window plan: one shuffle on
    the key, no range explode; beyond-tolerance matches null out, every
    error row survives exactly once (left-outer semantics).
    """
    from inde1_spark.operators.joins import asof_join as asof

    views = events.filter(F.col("event_type") == ENTRY_TYPE).select(
        "user_id", F.col("event_id").alias("view_id"), "ts"
    )
    errors = events.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id"), "ts"
    )
    j = asof(
        errors,
        views,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload=("view_id",),
        direction="forward",
        tolerance_sec=tolerance_sec,
        left_order="error_id",
    )
    return j.select(
        "user_id",
        "error_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("error_ts"),
        F.col("asof_view_id").alias("next_view_id"),
        (F.unix_timestamp("asof_ts") - F.unix_timestamp("ts"))
        .cast("long")
        .alias("recovery_sec"),
    ).orderBy("user_id", "error_id")


PROFILE_SALTS = 16


def profile_columns(events: DataFrame) -> DataFrame:
    """Generic one-pass column profiler: per column, row/null/exact
    distinct counts and the modal value — the data-quality pre-flight
    every ingestion pipeline runs before trusting a new feed (schema
    drift shows up as a null-rate or cardinality jump long before a job
    fails).

    Each column is projected to a CANONICAL string (longs verbatim,
    doubles as round(x*1e6) micro-unit longs — printf %.6f would hit the
    Java-HALF_UP vs C-half-even tie asymmetry on dyadic values —
    timestamps as microsecond strings), melted row-locally into
    (column, value)
    pairs, and reduced by one combinable groupBy. The modal value uses
    the salted two-stage top-1 (impact_postings' rule): a high-cardinality
    column's value histogram is corpus-sized, so the heavy window
    partitions by (column, value-derived salt) and the column-level
    window only re-ranks <= salts survivors. Ties: count desc, value asc.
    """
    cols = [
        ("event_id", F.col("event_id").cast("string")),
        ("ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")),
        ("user_id", F.col("user_id").cast("string")),
        ("event_type", F.col("event_type")),
        ("value", F.round(F.col("value") * F.lit(1e6)).cast("long").cast("string")),
        ("props", F.col("props")),
    ]
    melted = events.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("column_name"), expr.alias("val")
                    )
                    for name, expr in cols
                ]
            )
        ).alias("kv")
    ).select("kv.column_name", "kv.val")

    vhist = persist(
        melted.groupBy("column_name", "val").agg(
            F.count("*").cast("long").alias("cnt")
        )
    )
    base = vhist.groupBy("column_name").agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.sum(F.when(F.col("val").isNull(), F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n_null"),
        F.sum(F.when(F.col("val").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_distinct"),
    )
    nn = vhist.filter(F.col("val").isNotNull()).withColumn(
        "salt",
        F.abs(F.xxhash64("val")) % F.lit(PROFILE_SALTS),
    )
    w1 = Window.partitionBy("column_name", "salt").orderBy(
        F.col("cnt").desc(), F.col("val").asc()
    )
    w2 = Window.partitionBy("column_name").orderBy(
        F.col("cnt").desc(), F.col("val").asc()
    )
    top = (
        nn.withColumn("rk", F.row_number().over(w1))
        .filter(F.col("rk") == 1)
        .drop("rk", "salt")
        .withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") == 1)
        .select(
            "column_name",
            F.col("val").alias("top_value"),
            F.col("cnt").alias("top_count"),
        )
    )
    return (
        base.join(top, "column_name", "left")
        .select(
            "column_name", "n_rows", "n_null", "n_distinct",
            "top_value", "top_count",
        )
        .orderBy("column_name")
    )


BASKET_CAP = 64      # parts per order entering the pair explode
BASKET_TOP_K = 25


def market_basket_lift(
    lineitem: DataFrame, cap: int = BASKET_CAP, k: int = BASKET_TOP_K
) -> DataFrame:
    """Market-basket association pairs over order baskets: for the top-k
    co-ordered part pairs, support, directional confidence, and lift —
    the "customers who bought X also bought Y" staple, with lift > 1 as
    the actually-associated (not just both-popular) signal.

    Scale shape (the audience_overlap rule applied to transactions): one
    shuffle to per-order sorted part sets, pairs explode ROW-LOCALLY
    from each basket (quadratic only in basket size, hard-capped at
    ``cap``; TPC-H baskets are <= 7 lines), pair counts and part counts
    are combinable groupBys, and the final join keys on the pair's first
    part — never an order-keyed self-join. Confidence and lift are exact
    micro-unit ratios via wide-decimal floor-div.
    """
    def d38(c):
        return c.cast("decimal(38,0)")

    def fdiv(num, den):
        return ((num - num % den) / den).cast("long")

    baskets = lineitem.select("l_orderkey", "l_partkey").distinct()
    n_orders = baskets.groupBy().agg(
        F.countDistinct("l_orderkey").cast("long").alias("n_orders")
    )
    part_cnt = baskets.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("c")
    )
    sets = (
        baskets.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .filter(F.size("parts") <= cap)
    )

    def _pairs(arr):
        return F.flatten(
            F.transform(
                arr,
                lambda x, i: F.transform(
                    F.slice(arr, i + 2, F.greatest(F.size(arr), F.lit(1))),
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
            )
        )

    pc = (
        sets.select(F.explode(_pairs(F.col("parts"))).alias("p"))
        .select(F.col("p.a").alias("part_a"), F.col("p.b").alias("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    enriched = (
        pc.join(
            part_cnt.select(
                F.col("l_partkey").alias("part_a"), F.col("c").alias("n_a")
            ),
            "part_a",
        )
        .join(
            part_cnt.select(
                F.col("l_partkey").alias("part_b"), F.col("c").alias("n_b")
            ),
            "part_b",
        )
        .join(F.broadcast(n_orders))
    )
    m = F.lit(1_000_000)
    return (
        enriched.select(
            "part_a",
            "part_b",
            "n_both",
            "n_a",
            "n_b",
            fdiv(d38(F.col("n_both")) * d38(m), d38(F.col("n_a"))).alias(
                "conf_a_to_b_micro"
            ),
            fdiv(
                d38(F.col("n_both")) * d38(F.col("n_orders")) * d38(m),
                d38(F.col("n_a")) * d38(F.col("n_b")),
            ).alias("lift_micro"),
        )
        .orderBy(
            F.col("n_both").desc(),
            F.col("lift_micro").desc(),
            F.col("part_a").asc(),
            F.col("part_b").asc(),
        )
        .limit(k)
    )


def new_vs_returning(events: DataFrame) -> DataFrame:
    """Daily active users split into NEW (first-ever day) vs RETURNING —
    the growth-quality companion to ``cumulative_users`` (total growth)
    and ``retention_cohorts`` (per-cohort decay): a flat DAU line can
    hide churn fully replaced by acquisition, which this split exposes.

    Scale spelling: distinct (user, day) actives in one combinable
    groupBy, each user's first day from one groupBy on the user key,
    the NEW flag via a user-keyed equi-join (co-partitioned with the
    actives shuffle), then a bounded per-day rollup. Never a per-day
    re-scan, no window over users.
    """
    actives = (
        events.select(
            "user_id", F.date_trunc("day", F.col("ts")).alias("d")
        )
        .distinct()
    )
    first = actives.groupBy("user_id").agg(F.min("d").alias("first_d"))
    return (
        actives.join(first, "user_id")
        .groupBy(F.date_format("d", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("*").cast("long").alias("dau"),
            F.sum(F.when(F.col("d") == F.col("first_d"), 1).otherwise(0))
            .cast("long")
            .alias("new_users"),
        )
        .select(
            "day",
            "dau",
            "new_users",
            (F.col("dau") - F.col("new_users")).alias("returning_users"),
            ratio_round(
                F.col("dau") - F.col("new_users"),
                F.greatest(F.col("dau"), F.lit(1).cast("long")),
                4,
            ).alias("returning_share"),
        )
        .orderBy("day")
    )


HALFLIFE_DAYS = 1     # weight halves per day of age
HALFLIFE_MAX_AGE = 62  # older events contribute exactly 0


def halflife_popularity(
    events: DataFrame, max_age: int = HALFLIFE_MAX_AGE
) -> DataFrame:
    """Recency-weighted popularity per event type: each event contributes
    2^(-age_days), so yesterday counts half of today — the decayed
    ranking feeds "trending" surfaces where a plain count is dominated
    by stale volume.

    The determinism trick: with a half-life of one day the weights are
    POWERS OF TWO, so every contribution is the exact long
    2^(max_age - age) and the score is an exact wide-decimal sum scaled
    back by 2^-max_age — no exp(), no float accumulation, bit-identical
    in any engine and under any partitioning. Events older than
    ``max_age`` days contribute exactly 0 (the long would underflow).
    One aggregation pass; the corpus-end anchor is a 1-row broadcast.
    """
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    base = events.select("event_type", day.alias("d"))
    anchor = base.agg(F.max("d").alias("max_d"))
    age = F.col("max_d") - F.col("d")
    # pyspark's shiftleft() only takes a literal bit count — the SQL form
    # accepts a column
    w = F.when(
        age <= max_age,
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST({max_age} - (max_d - d) AS INT))"
        ),
    ).otherwise(F.lit(0).cast("long"))
    return (
        base.join(F.broadcast(anchor))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(w.cast("decimal(38,0)")).alias("w_sum"),
        )
        .select(
            "event_type",
            "n_events",
            (dec_to_double_exact(F.col("w_sum")) / F.lit(float(2**max_age)))
            .alias("decayed_score"),
        )
        .orderBy(F.col("decayed_score").desc(), F.col("event_type").asc())
    )


CONF_COVERAGE_PCT = 90  # split-conformal target coverage


def forecast_conformal(events: DataFrame) -> DataFrame:
    """Split-conformal prediction interval for the next day's value per
    event type: fit the linear trend on the FIRST half of the days,
    score absolute residuals on the held-out second half, and widen the
    point forecast by the ceil((n+1)*0.9)-th smallest residual — a
    distribution-free interval with finite-sample >= 90% coverage under
    exchangeability, no normality assumption (the honest companion to
    ``daily_trend_regression``'s point estimate and ``bootstrap_mean_ci``'s
    resampling interval).

    Determinism: the train fit reuses the exact integer-moment spelling;
    predictions and residuals stay in micro units through one identical
    IEEE chain, residuals snap to longs before ranking, and the
    conformal quantile is an exact order statistic (rank computed with
    integer arithmetic) over the bounded per-type calibration window.
    Types need >= 2 train days (ANSI-safe denominator) and >= 1
    calibration day.
    """
    daily = _daily_micro(events, "y_micro")
    x = F.datediff(F.to_date("day"), F.lit("1970-01-01").cast("date")).cast(
        "long"
    )
    # persisted: rng, the train moments, and the calibration scan all
    # fold over this tiny (types x days) table — without the cache each
    # consumer re-runs the corpus-sized daily aggregation
    m = persist(daily.select("event_type", x.alias("x"), "y_micro"))
    rng = m.groupBy("event_type").agg(
        F.min("x").alias("x_min"), F.max("x").alias("x_max")
    )
    m2 = m.join(F.broadcast(rng), "event_type").withColumn(
        "x_split",
        F.col("x_min") + F.expr("(x_max - x_min) div CAST(2 AS BIGINT)"),
    )
    train = m2.filter(F.col("x") <= F.col("x_split"))
    stats = (
        train.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_train"),
            F.sum("x").cast("decimal(38,0)").alias("sx"),
            F.sum("y_micro").cast("decimal(38,0)").alias("sy"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("y_micro")).alias(
                "sxy"
            ),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        )
        .filter(F.col("n_train") >= 2)
    )
    n = F.col("n_train").cast("double")
    sx = dec_to_double_exact(F.col("sx"))
    sy = dec_to_double_exact(F.col("sy"))
    sxy = dec_to_double_exact(F.col("sxy"))
    sxx = dec_to_double_exact(F.col("sxx"))
    slope_u = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    inter_u = (sy - slope_u * sx) / n
    fitted = stats.select(
        "event_type", "n_train", slope_u.alias("slope_u"), inter_u.alias("inter_u")
    )
    calib = (
        m2.filter(F.col("x") > F.col("x_split"))
        .join(fitted, "event_type")
        .select(
            "event_type",
            "x",
            "x_max",
            F.round(
                F.abs(
                    F.col("y_micro").cast("double")
                    - (F.col("inter_u") + F.col("slope_u") * F.col("x"))
                ),
                0,
            )
            .cast("long")
            .alias("res"),
        )
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("res").asc(), F.col("x").asc()
    )
    ranked = calib.withColumn("rk", F.row_number().over(w).cast("long"))
    nc = calib.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_calib")
    )
    q_rank = F.least(
        F.expr(
            f"({CONF_COVERAGE_PCT} * (n_calib + 1)"
            " + 99) div CAST(100 AS BIGINT)"
        ),
        F.col("n_calib"),
    )
    q = (
        ranked.join(F.broadcast(nc), "event_type")
        .filter(F.col("rk") == q_rank)
        .select("event_type", F.col("res").alias("q_res"), "n_calib")
    )
    nextx = F.col("x_max") + F.lit(1)
    fc = (F.col("inter_u") + F.col("slope_u") * nextx) / F.lit(1e6)
    return (
        fitted.join(q, "event_type")
        .join(F.broadcast(rng), "event_type")
        .select(
            "event_type",
            "n_train",
            "n_calib",
            (F.col("slope_u") / F.lit(1e6)).alias("slope_per_day"),
            nextx.alias("next_day_x"),
            fc.alias("forecast"),
            (fc - F.col("q_res").cast("double") / F.lit(1e6)).alias("lo"),
            (fc + F.col("q_res").cast("double") / F.lit(1e6)).alias("hi"),
        )
        .orderBy("event_type")
    )


MOM_RESCALE = 10_000  # micro -> centi units for the power sums


def moments_profile(events: DataFrame) -> DataFrame:
    """Exact higher-moment profile per event type: mean, stddev, skewness
    and excess kurtosis — the distribution-shape audit (is the value
    column symmetric? heavy-tailed?) that mean/variance summaries and
    the z-score anomaly pass silently assume away.

    One-pass power sums about a per-type MINIMUM pivot: residuals are
    nonnegative by construction, so the micro->centi rescale (floor-div
    by 10^4, bounding the fourth power inside decimal(38,0) even at
    10^12 rows) never divides a negative — the Spark-truncates vs
    DuckDB-floors asymmetry cannot arise. Central moments come from the
    standard binomial shift of the raw sums, evaluated in one fixed
    IEEE chain (digit-split conversions, sqrt only — no pow()).
    Quantization: shape statistics are computed on 0.01-value-unit
    residuals (documented trade; mean is full precision from the exact
    micro sum). Types need n >= 2 and nonzero variance (ANSI-safe).
    """
    def d38(c):
        return c.cast("decimal(38,0)")

    base = persist(
        events.select(
            "event_type",
            F.floor(F.col("value").cast("double") * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("y"),
        )
    )
    piv = base.groupBy("event_type").agg(F.min("y").alias("y_min"))
    r = (
        base.join(F.broadcast(piv), "event_type")
        .select(
            "event_type",
            "y",
            F.expr(f"(y - y_min) div CAST({MOM_RESCALE} AS BIGINT)").alias("rd"),
            "y_min",
        )
    )
    stats = (
        r.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(d38(F.col("y"))).alias("s1"),
            F.min("y_min").alias("y_min"),
            F.sum(d38(F.col("rd"))).alias("m1"),
            F.sum(d38(F.col("rd")) * d38(F.col("rd"))).alias("m2"),
            F.sum(
                d38(F.col("rd")) * d38(F.col("rd")) * d38(F.col("rd"))
            ).alias("m3"),
            F.sum(
                d38(F.col("rd"))
                * d38(F.col("rd"))
                * d38(F.col("rd"))
                * d38(F.col("rd"))
            ).alias("m4"),
        )
        .filter(F.col("n") >= 2)
    )
    n = F.col("n").cast("double")
    a1 = dec_to_double_exact(F.col("m1")) / n
    a2 = dec_to_double_exact(F.col("m2")) / n
    a3 = dec_to_double_exact(F.col("m3")) / n
    a4 = dec_to_double_exact(F.col("m4")) / n
    mu2 = F.greatest(a2 - a1 * a1, F.lit(0.0))
    mu3 = a3 - F.lit(3.0) * a1 * a2 + F.lit(2.0) * a1 * a1 * a1
    mu4 = (
        a4
        - F.lit(4.0) * a1 * a3
        + F.lit(6.0) * a1 * a1 * a2
        - F.lit(3.0) * a1 * a1 * a1 * a1
    )
    scale = F.lit(float(MOM_RESCALE) / 1e6)  # centi units -> value units
    return (
        stats.filter(mu2 > 0)
        .select(
            "event_type",
            "n",
            (
                dec_to_double_exact(F.col("s1")) / n / F.lit(1e6)
            ).alias("mean"),
            (F.sqrt(mu2) * scale).alias("stddev"),
            (mu3 / (mu2 * F.sqrt(mu2))).alias("skewness"),
            (mu4 / (mu2 * mu2) - F.lit(3.0)).alias("kurtosis_excess"),
        )
        .orderBy("event_type")
    )


MW_RESCALE = 10_000  # micro -> centi quantization for the rank grid


def mann_whitney_pairs(events: DataFrame) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) for every pair of event types:
    does one type's value distribution stochastically dominate the
    other's — the nonparametric two-sample test that catches median and
    shape shifts the mean-based z-score misses, with no normality
    assumption (the pairwise companion to the one-sample runs/KS tier).

    The rank trick from the Gini/ntile family: ranks come from VALUE
    HISTOGRAMS, never a row sort — values quantize to a 0.01-unit grid
    above the global minimum (nonneg floor-div; quantization ties are
    legitimate ties and get the tied-rank treatment), each pair's merged
    histogram is bounded by the value DOMAIN, and tied-block average
    ranks are exact integers at x2 scale (2*below + block + 1). U, its
    null mean, and the tie-corrected variance all come from exact
    wide-decimal sums, converted once through the digit-split chain;
    all-tied pairs (zero variance) are excluded, ANSI-safe.
    """
    def d38(c):
        return c.cast("decimal(38,0)")

    y = F.floor(F.col("value").cast("double") * F.lit(1e6) + F.lit(0.5)).cast(
        "long"
    )
    raw = events.select("event_type", y.alias("y"))
    gmin = raw.agg(F.min("y").alias("y_min"))
    hist = persist(
        raw.join(F.broadcast(gmin))
        .select(
            "event_type",
            F.expr(f"(y - y_min) div CAST({MW_RESCALE} AS BIGINT)").alias("v"),
        )
        .groupBy("event_type", "v")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    t = hist.select("event_type").distinct()
    pairs = (
        t.select(F.col("event_type").alias("type_a"))
        .join(F.broadcast(t.select(F.col("event_type").alias("type_b"))))
        .filter(F.col("type_a") < F.col("type_b"))
    )
    side_a = pairs.join(
        hist.select(F.col("event_type").alias("type_a"), "v", F.col("cnt").alias("ca")),
        "type_a",
    ).select("type_a", "type_b", "v", "ca", F.lit(0).cast("long").alias("cb"))
    side_b = pairs.join(
        hist.select(F.col("event_type").alias("type_b"), "v", F.col("cnt").alias("cb")),
        "type_b",
    ).select("type_a", "type_b", "v", F.lit(0).cast("long").alias("ca"), "cb")
    merged = (
        side_a.unionByName(side_b)
        .groupBy("type_a", "type_b", "v")
        .agg(F.sum("ca").alias("ca"), F.sum("cb").alias("cb"))
    )
    w = Window.partitionBy("type_a", "type_b").orderBy("v")
    below = F.coalesce(
        F.sum(F.col("ca") + F.col("cb")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0).cast("long"),
    )
    m = F.col("ca") + F.col("cb")
    rank2 = F.lit(2) * below + m + F.lit(1)
    stats = (
        merged.withColumn("rank2", rank2)
        .groupBy("type_a", "type_b")
        .agg(
            F.sum("ca").cast("long").alias("na"),
            F.sum("cb").cast("long").alias("nb"),
            F.sum(d38(F.col("ca")) * d38(F.col("rank2"))).alias("ra2"),
            F.sum(d38(m) * d38(m) * d38(m) - d38(m)).alias("ties"),
        )
    )
    na = F.col("na").cast("double")
    nb = F.col("nb").cast("double")
    big_n = na + nb
    u2 = dec_to_double_exact(F.col("ra2")) - na * (na + F.lit(1.0))
    mean_u2 = na * nb
    var_u = (
        (na * nb / F.lit(12.0))
        * (
            (big_n + F.lit(1.0))
            - dec_to_double_exact(F.col("ties"))
            / (big_n * (big_n - F.lit(1.0)))
        )
    )
    return (
        stats.filter((F.col("na") >= 1) & (F.col("nb") >= 1))
        .withColumn("var_u", var_u)
        .filter(F.col("var_u") > 0)
        .select(
            "type_a",
            "type_b",
            "na",
            "nb",
            (u2 / F.lit(2.0)).alias("u_a"),
            (
                (u2 - mean_u2) / (F.lit(2.0) * F.sqrt(F.col("var_u")))
            ).alias("z"),
        )
        .orderBy("type_a", "type_b")
    )


def theil_sen_slope(events: DataFrame) -> DataFrame:
    """Theil-Sen robust trend per event type: the MEDIAN of all pairwise
    day-to-day slopes of the daily series — Mann-Kendall's classic
    companion (MK answers "is there a monotonic trend", Theil-Sen gives
    its magnitude with a 29% breakdown point, where one corrupted day
    drags the least-squares slope arbitrarily).

    The pair join is within-type over the BOUNDED daily table (B days
    -> B(B-1)/2 pairs per type — thousands, never corpus-sized), pair
    slopes are micro-unit doubles from exact integer differences, and
    the median is an exact lower-median order statistic (the corpus.py
    _lower_median rule: no averaging of middle elements, so no new
    float op) with a total (slope, x1, x2) ordering.
    """
    daily = _daily_micro(events, "y_micro")
    x = F.datediff(F.to_date("day"), F.lit("1970-01-01").cast("date")).cast(
        "long"
    )
    m = daily.select("event_type", x.alias("x"), "y_micro")
    a = m.select("event_type", F.col("x").alias("x1"), F.col("y_micro").alias("y1"))
    b = m.select("event_type", F.col("x").alias("x2"), F.col("y_micro").alias("y2"))
    pairs = (
        a.join(b, "event_type")
        .filter(F.col("x1") < F.col("x2"))
        .select(
            "event_type",
            "x1",
            "x2",
            (
                (F.col("y2") - F.col("y1")).cast("double")
                / (F.col("x2") - F.col("x1")).cast("double")
            ).alias("slope_u"),
        )
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("slope_u").asc(), F.col("x1").asc(), F.col("x2").asc()
    )
    counted = pairs.withColumn("rk", F.row_number().over(w).cast("long"))
    np = pairs.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_pairs")
    )
    nd = m.groupBy("event_type").agg(F.count("*").cast("long").alias("n_days"))
    return (
        counted.join(F.broadcast(np), "event_type")
        .filter(F.col("rk") == F.expr("(n_pairs + 1) div CAST(2 AS BIGINT)"))
        .join(F.broadcast(nd), "event_type")
        .select(
            "event_type",
            "n_days",
            "n_pairs",
            (F.col("slope_u") / F.lit(1e6)).alias("theil_sen_slope"),
        )
        .orderBy("event_type")
    )


def kruskal_wallis(events: DataFrame) -> DataFrame:
    """Kruskal-Wallis H across ALL event types at once: the k-sample
    extension of ``mann_whitney_pairs`` — one omnibus test for "do the
    value distributions differ ANYWHERE among the k types" before (or
    instead of) k*(k-1)/2 pairwise comparisons, with the usual
    rank-test immunity to outliers and non-normality.

    Ranks come from the shared VALUE HISTOGRAM, never a row sort (the
    mann_whitney grid: micro-snap, shift to the global min, centi-grid
    quantize), so the only corpus-volume shuffle is the map-side-
    combined (event_type, v) count. Tied blocks get average ranks as
    exact integers at x2 scale; per-group rank sums, the H numerator
    Sum(R2_h^2/n_h) (each quotient micro-rounded half-up in
    decimal(38,0) — the chi2 micro-grid contract), and the tie term
    Sum(m^3 - m) all accumulate exactly, converting to IEEE doubles
    once through the digit-split chain. All-tied data (tie correction
    C <= 0 never happens; C = 0 only if ONE tied block spans all N) is
    filtered, ANSI-safe.

    Scale: histogram keys are bounded by the value DOMAIN (centi grid),
    not N; everything after the first shuffle runs on that bounded
    table. R2_h^2 reaches ~4e20 at 1e5 rows and ~4e36 at 1e9 — inside
    decimal(38,0); past that, coarsen the grid (H is rank-based, so any
    monotone quantization is principled).
    """
    from inde1_spark.functions.exprs import dec_floordiv

    def d38(c):
        return c.cast("decimal(38,0)")

    y = F.floor(F.col("value").cast("double") * F.lit(1e6) + F.lit(0.5)).cast(
        "long"
    )
    raw = events.select("event_type", y.alias("y"))
    gmin = raw.agg(F.min("y").alias("y_min"))
    # persisted: the bounded histogram feeds merged ranks, per-type moments
    # and the tie term — without it each consumer re-scans the corpus
    hist = persist(
        raw.join(F.broadcast(gmin))
        .select(
            "event_type",
            F.expr(f"(y - y_min) div CAST({MW_RESCALE} AS BIGINT)").alias("v"),
        )
        .groupBy("event_type", "v")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    # merged histogram over the bounded grid -> x2-scale average ranks
    wv = Window.orderBy("v")
    merged = hist.groupBy("v").agg(F.sum("cnt").cast("long").alias("m"))
    merged = merged.withColumn(
        "rank2",
        F.lit(2)
        * F.coalesce(
            F.sum("m").over(wv.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("long"),
        )
        + F.col("m")
        + F.lit(1),
    )
    per_type = (
        hist.join(F.broadcast(merged.select("v", "rank2")), "v")
        .groupBy("event_type")
        .agg(
            F.sum("cnt").cast("long").alias("n_h"),
            F.sum(d38(F.col("cnt")) * d38(F.col("rank2"))).alias("r2_h"),
        )
    )
    # Sum over groups of round_half_up(R2_h^2 * 1e6 / n_h), exact
    q_h = dec_floordiv(
        (
            F.col("r2_h") * F.col("r2_h") * F.lit(1_000_000) * F.lit(2)
            + d38(F.col("n_h"))
        ).cast("decimal(38,0)"),
        (d38(F.col("n_h")) * F.lit(2)).cast("decimal(38,0)"),
    )
    stats = per_type.select(
        F.col("n_h"), q_h.cast("decimal(38,0)").alias("q_micro")
    ).agg(
        F.sum(d38(F.col("n_h"))).alias("n_dec"),
        F.sum("n_h").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("k_groups"),
        F.sum("q_micro").alias("s_micro"),
    )
    ties = merged.agg(
        F.sum(d38(F.col("m")) * d38(F.col("m")) * d38(F.col("m")) - d38(F.col("m"))).alias(
            "tie_sum"
        )
    )
    n_d = F.col("n_total").cast("double")
    # H = 3 * S / (N (N+1)) - 3 (N+1), with S = Sum R2_h^2 / n_h  (x2 ranks)
    h_stat = (
        dec_to_double_exact(F.col("s_micro")) / F.lit(1e6) * F.lit(3.0)
        / (n_d * (n_d + F.lit(1.0)))
        - F.lit(3.0) * (n_d + F.lit(1.0))
    )
    tie_c = F.lit(1.0) - dec_to_double_exact(F.col("tie_sum")) / (
        n_d * n_d * n_d - n_d
    )
    return (
        stats.join(F.broadcast(ties))
        .filter((F.col("n_total") > F.col("k_groups")) & (F.col("k_groups") > 1))
        .select(
            "n_total",
            "k_groups",
            h_stat.alias("h_stat"),
            tie_c.alias("tie_correction"),
        )
        .withColumn("h_tied", F.col("h_stat") / F.col("tie_correction"))
        .filter(F.col("tie_correction") > 0)
    )


SPEARMAN_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def spearman_corr(lineitem: DataFrame) -> DataFrame:
    """Spearman rank correlation for every pair of lineitem measure
    columns — the monotone-dependence audit (Pearson on RANKS): robust
    to outliers and to any monotone transform, it answers "do these
    measures move together at all" for columns whose relationship is
    nonlinear (price vs quantity) where raw Pearson under-reads.

    Sort-free ranks, per column: the value HISTOGRAM (micro-snapped
    longs) gets tied-block average ranks as exact x2-scale integers via
    one cumulative window over its own distinct values, then maps back
    onto rows by value join — broadcast for the small-domain columns
    (quantity/discount/tax), a key shuffle for the high-cardinality
    price column. One global aggregate then accumulates every moment
    (4 sums, 4 sums-of-squares, 6 cross-products) in decimal(38,0) in a
    single pass; the 6 result rows unpack row-locally from that 1-row
    frame. rho converts through the digit-split chain with the final
    sqrt/divide in engine-identical IEEE doubles; zero-variance columns
    filter out (ANSI-safe).

    Scale: two corpus passes (histograms, then the rank-map joins); the
    exchange after the join carries ONE row of moments. The cumulative
    window per rank map orders DISTINCT values, not rows — a single-task
    sort of |distinct| entries, which is the deliberate trade: fine for
    bounded domains (quantity/discount/tax) and for price-like columns
    whose distinct count is domain-bounded, but a column with ~N distinct
    values at 1e12 rows should first quantize to a coarser grid (Spearman
    of the quantized values — the snap IS the tie-handling, and the
    oracle quantizes identically). x2 ranks stay < 2N+1, so
    cross-products fit decimal(38,0) to ~1e15 rows.
    """

    def d38(c):
        return c.cast("decimal(38,0)")

    micro = lambda c: F.floor(F.col(c).cast("double") * F.lit(1e6) + F.lit(0.5)).cast("long")  # noqa: E731
    rows = lineitem.select(*[micro(c).alias(f"v_{i}") for i, c in enumerate(SPEARMAN_COLS)])

    ranked = rows
    for i, c in enumerate(SPEARMAN_COLS):
        hist = rows.groupBy(F.col(f"v_{i}").alias("val")).agg(
            F.count("*").cast("long").alias("m")
        )
        wv = Window.orderBy("val")
        rmap = hist.select(
            "val",
            (
                F.lit(2)
                * F.coalesce(
                    F.sum("m").over(wv.rowsBetween(Window.unboundedPreceding, -1)),
                    F.lit(0).cast("long"),
                )
                + F.col("m")
                + F.lit(1)
            ).alias(f"r_{i}"),
        )
        if c != "l_extendedprice":  # bounded domains broadcast; price shuffles
            rmap = F.broadcast(rmap)
        ranked = ranked.join(rmap, ranked[f"v_{i}"] == rmap["val"]).drop("val")

    aggs = [F.count("*").cast("long").alias("n")]
    for i in range(4):
        aggs.append(F.sum(d38(F.col(f"r_{i}"))).alias(f"s_{i}"))
        aggs.append(F.sum(d38(F.col(f"r_{i}")) * d38(F.col(f"r_{i}"))).alias(f"ss_{i}"))
    for i in range(4):
        for j in range(i + 1, 4):
            aggs.append(
                F.sum(d38(F.col(f"r_{i}")) * d38(F.col(f"r_{j}"))).alias(f"sx_{i}_{j}")
            )
    mom = ranked.agg(*aggs)

    n = d38(F.col("n"))
    out = F.array(
        *[
            F.struct(
                F.lit(SPEARMAN_COLS[i]).alias("col_a"),
                F.lit(SPEARMAN_COLS[j]).alias("col_b"),
                (n * F.col(f"sx_{i}_{j}") - F.col(f"s_{i}") * F.col(f"s_{j}"))
                .cast("decimal(38,0)")
                .alias("num"),
                (n * F.col(f"ss_{i}") - F.col(f"s_{i}") * F.col(f"s_{i}"))
                .cast("decimal(38,0)")
                .alias("va"),
                (n * F.col(f"ss_{j}") - F.col(f"s_{j}") * F.col(f"s_{j}"))
                .cast("decimal(38,0)")
                .alias("vb"),
            )
            for i in range(4)
            for j in range(i + 1, 4)
        ]
    )
    return (
        mom.select("n", F.explode(out).alias("p"))
        .select("n", "p.col_a", "p.col_b", "p.num", "p.va", "p.vb")
        .filter((F.col("va") > 0) & (F.col("vb") > 0))
        .select(
            "col_a",
            "col_b",
            "n",
            (
                dec_to_double_exact(F.col("num"))
                / (
                    F.sqrt(dec_to_double_exact(F.col("va")))
                    * F.sqrt(dec_to_double_exact(F.col("vb")))
                )
            ).alias("rho"),
        )
        .orderBy("col_a", "col_b")
    )


def _chi2_dense_1row(pairs_df: DataFrame, name_a: str, name_b: str) -> DataFrame:
    """Generalized dense chi-square over a (ka, kb) categorical pair table
    (columns ``ka``/``kb``, both LONG-or-string), returning ONE row of
    exact micro-grid sums: the ``chi2_independence`` arithmetic with the
    densification step (sparse tables silently drop (O=0, E>0) cells —
    CLAUDE.md trap), reusable for any dimension pair.
    """
    from inde1_spark.functions.exprs import dec_floordiv

    def d(c):
        return c.cast("decimal(38,0)")

    raw = pairs_df.groupBy("ka", "kb").agg(
        F.count("*").cast("long").alias("observed")
    )
    per_a = raw.groupBy("ka").agg(
        F.map_from_entries(F.collect_list(F.struct("kb", "observed"))).alias("om")
    )
    wg0 = Window.partitionBy()
    all_b = F.array_distinct(F.flatten(F.collect_list(F.map_keys("om")).over(wg0)))
    cells = (
        per_a.select("ka", "om", all_b.alias("bs"))
        .select("ka", "om", F.explode("bs").alias("kb"))
        .select(
            "ka",
            "kb",
            F.coalesce(F.element_at("om", F.col("kb")), F.lit(0).cast("long")).alias(
                "observed"
            ),
        )
    )
    wr = Window.partitionBy("ka")
    wc = Window.partitionBy("kb")
    wg = Window.partitionBy()
    cells = cells.select(
        "observed",
        d(F.sum("observed").over(wr)).alias("row_tot"),
        d(F.sum("observed").over(wc)).alias("col_tot"),
        d(F.sum("observed").over(wg)).alias("n_tot"),
        F.size(F.collect_set("ka").over(wg)).cast("long").alias("r"),
        F.size(F.collect_set("kb").over(wg)).cast("long").alias("c"),
    )
    e_micro = dec_floordiv(
        (F.col("row_tot") * F.col("col_tot") * F.lit(1_000_000) * 2 + F.col("n_tot"))
        .cast("decimal(38,0)"),
        (F.col("n_tot") * 2).cast("decimal(38,0)"),
    ).cast("decimal(38,0)")
    diff = (d(F.col("observed")) * F.lit(1_000_000) - e_micro).cast("decimal(38,0)")
    den = F.greatest(e_micro, F.lit(1).cast("decimal(38,0)")).cast("decimal(38,0)")
    contrib = dec_floordiv(
        (diff * diff * 2 + den).cast("decimal(38,0)"), (den * 2).cast("decimal(38,0)")
    ).cast("long")
    return cells.select(
        contrib.alias("contrib_micro"), F.col("n_tot").cast("long").alias("n"), "r", "c"
    ).groupBy("n", "r", "c").agg(
        F.sum("contrib_micro").cast("long").alias("chi2_micro")
    ).select(
        F.lit(name_a).alias("dim_a"),
        F.lit(name_b).alias("dim_b"),
        F.col("n").alias("n_total"),
        F.col("r").alias("card_a"),
        F.col("c").alias("card_b"),
        "chi2_micro",
    )


CRAMERS_BUCKET = 50_000_000  # micro-units: 50-unit value buckets


def cramers_v_matrix(events: DataFrame) -> DataFrame:
    """Cramér's V for every pair of the three categorical views of the
    event stream — event_type, ISO weekday, and the 50-unit value bucket:
    chi-square normalized to [0,1] so association STRENGTHS compare
    across tables of different shape (chi2 alone grows with N and with
    table size; V = sqrt(chi2 / (N * min(r-1, c-1))) does not). The
    one-screen answer to "which dimensions are actually entangled"
    before building any per-segment thresholds.

    Each pair runs the generalized dense chi-square (micro-grid exact
    integers, densified cells); the three 1-row results union. The only
    corpus-volume work is one groupBy per pair on bounded keys
    (types x 7 x ~7 buckets); everything downstream is windows over
    those bounded cells.
    """
    dow = ((F.dayofweek(F.col("ts")) + 5) % 7 + 1).cast("long")
    bucket = F.expr(
        f"CAST(floor(CAST(value AS DOUBLE) * 1e6 + 0.5) AS BIGINT)"
        f" div CAST({CRAMERS_BUCKET} AS BIGINT)"
    )
    base = events.select(
        F.col("event_type"), dow.alias("iso_dow"), bucket.alias("v_bucket")
    )
    p1 = _chi2_dense_1row(
        base.select(F.col("event_type").alias("ka"), F.col("iso_dow").alias("kb")),
        "event_type",
        "iso_dow",
    )
    p2 = _chi2_dense_1row(
        base.select(F.col("event_type").alias("ka"), F.col("v_bucket").alias("kb")),
        "event_type",
        "v_bucket",
    )
    p3 = _chi2_dense_1row(
        base.select(F.col("iso_dow").cast("string").alias("ka"), F.col("v_bucket").alias("kb")),
        "iso_dow",
        "v_bucket",
    )
    out = p1.unionByName(p2).unionByName(p3)
    chi2 = F.col("chi2_micro").cast("double") / F.lit(1e6)
    mind = F.least(F.col("card_a") - 1, F.col("card_b") - 1).cast("double")
    return (
        out.filter((F.col("card_a") > 1) & (F.col("card_b") > 1) & (F.col("n_total") > 0))
        .select(
            "dim_a",
            "dim_b",
            "n_total",
            "card_a",
            "card_b",
            chi2.alias("chi2"),
            F.sqrt(chi2 / (F.col("n_total").cast("double") * mind)).alias("cramers_v"),
        )
        .orderBy("dim_a", "dim_b")
    )


SKEW_SALT_TARGET = 4  # aim max-key load at <= 4x the mean per shuffle task


def partition_skew_audit(events: DataFrame) -> DataFrame:
    """Shuffle-skew audit for the three natural join/partition keys of the
    event stream (user_id, event_type, calendar day): per key column, the
    key-frequency shape that decides whether a join/groupBy on it needs
    salting BEFORE the job runs at 100 TB — max key load, exact p99 key
    load, skew ratio (max/mean), and the salt factor that would bring the
    hottest key down to ~``SKEW_SALT_TARGET``x the mean task load
    (ceil(skew/target), the number of sub-splits AQE skew-join would have
    to make anyway).

    Everything is exact: p99 comes from the key-frequency HISTOGRAM
    (first load f with #keys(load<=f) >= ceil(0.99*n_keys), integer
    ceil), the skew ratio is a micro-rounded decimal quotient, and the
    salt is exact integer ceiling division — no float percentiles.

    Plan: one map-side-combined groupBy per key column (the same shuffle
    the audited join would pay once), then bounded frequency histograms;
    the three 1-row audits union. At any scale the second stage carries
    |distinct loads| rows, not keys.
    """
    from inde1_spark.functions.exprs import dec_floordiv

    def d38(c):
        return c.cast("decimal(38,0)")

    def audit(keyed: DataFrame, name: str) -> DataFrame:
        counts = keyed.groupBy("k").agg(F.count("*").cast("long").alias("cnt"))
        hist = counts.groupBy("cnt").agg(F.count("*").cast("long").alias("n_keys_at"))
        wv = Window.orderBy("cnt")
        wg = Window.partitionBy()
        hist = hist.select(
            "cnt",
            "n_keys_at",
            F.sum("n_keys_at").over(
                wv.rowsBetween(Window.unboundedPreceding, 0)
            ).alias("cum_keys"),
            F.sum("n_keys_at").over(wg).cast("long").alias("n_keys"),
            F.sum(F.col("cnt") * F.col("n_keys_at")).over(wg).cast("long").alias("n_rows"),
            F.max("cnt").over(wg).alias("max_key_rows"),
        )
        thresh = F.expr("(99 * n_keys + 99) div CAST(100 AS BIGINT)")
        p99 = (
            hist.filter(F.col("cum_keys") >= thresh)
            .groupBy("n_keys", "n_rows", "max_key_rows")
            .agg(F.min("cnt").alias("p99_key_rows"))
        )
        skew_milli = dec_floordiv(
            (
                d38(F.col("max_key_rows")) * d38(F.col("n_keys")) * F.lit(1000) * 2
                + d38(F.col("n_rows"))
            ).cast("decimal(38,0)"),
            (d38(F.col("n_rows")) * 2).cast("decimal(38,0)"),
        ).cast("long")
        salt = F.expr(
            f"CAST((skew_milli + {SKEW_SALT_TARGET * 1000} - 1)"
            f" div CAST({SKEW_SALT_TARGET * 1000} AS BIGINT) AS BIGINT)"
        )
        return (
            p99.withColumn("skew_milli", skew_milli)
            .select(
                F.lit(name).alias("key_col"),
                "n_rows",
                "n_keys",
                "max_key_rows",
                "p99_key_rows",
                (F.col("skew_milli").cast("double") / F.lit(1e3)).alias("skew_ratio"),
                F.greatest(salt, F.lit(1).cast("bigint")).alias("suggested_salt"),
            )
        )

    a1 = audit(events.select(F.col("user_id").cast("string").alias("k")), "user_id")
    a2 = audit(events.select(F.col("event_type").alias("k")), "event_type")
    a3 = audit(events.select(_day_str().alias("k")), "day")
    return a1.unionByName(a2).unionByName(a3).orderBy("key_col")


CCF_MAX_LAG = 7


def cross_correlation_lagged(events: DataFrame, max_lag: int = CCF_MAX_LAG) -> DataFrame:
    """Lagged cross-correlation between the ENTRY and EXIT daily revenue
    series (does today's entry volume predict exit volume ``lag`` days
    out?): the two-series companion of ``acf_daily`` — the lag argmax is
    the lead time a forecast of one series buys on the other, and a flat
    CCF says the series are driven independently.

    Each lag's Pearson runs over exactly the overlapping days, with
    moments accumulated as exact decimals from micro-snapped daily sums
    and the one divide/sqrt in engine-identical doubles (zero-variance
    lags filter; ANSI-safe). The lag fan-out happens via a row-local
    sequence explode on the pre-aggregated (bounded) daily table — the
    corpus is scanned once for the daily aggregate and never again.
    """

    def d38(c):
        return c.cast("decimal(38,0)")

    daily = (
        events.groupBy(
            "event_type",
            F.datediff(F.date_trunc("day", F.col("ts")), F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("day"),
        )
        .agg(
            F.floor(_dsum("value") * F.lit(1e6) + F.lit(0.5)).cast("long").alias("y")
        )
    )
    x = daily.filter(F.col("event_type") == ENTRY_TYPE).select(
        "day", F.col("y").alias("xv")
    )
    yv = daily.filter(F.col("event_type") == EXIT_TYPE).select(
        F.col("day").alias("yday"), F.col("y").alias("yv")
    )
    fan = x.select(
        "day", "xv", F.explode(F.sequence(F.lit(0), F.lit(max_lag))).alias("lag")
    ).withColumn("join_day", F.col("day") + F.col("lag"))
    pairs = fan.join(yv, fan["join_day"] == yv["yday"])
    mom = pairs.groupBy("lag").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(d38(F.col("xv"))).alias("sx"),
        F.sum(d38(F.col("yv"))).alias("sy"),
        F.sum(d38(F.col("xv")) * d38(F.col("yv"))).alias("sxy"),
        F.sum(d38(F.col("xv")) * d38(F.col("xv"))).alias("sxx"),
        F.sum(d38(F.col("yv")) * d38(F.col("yv"))).alias("syy"),
    )
    n = d38(F.col("n_days"))
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("decimal(38,0)")
    va = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("decimal(38,0)")
    vb = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("decimal(38,0)")
    return (
        mom.withColumn("num", num)
        .withColumn("va", va)
        .withColumn("vb", vb)
        .filter((F.col("va") > 0) & (F.col("vb") > 0) & (F.col("n_days") >= 2))
        .select(
            F.col("lag").cast("long").alias("lag"),
            "n_days",
            (
                dec_to_double_exact(F.col("num"))
                / (
                    F.sqrt(dec_to_double_exact(F.col("va")))
                    * F.sqrt(dec_to_double_exact(F.col("vb")))
                )
            ).alias("ccf"),
        )
        .orderBy("lag")
    )


SAX_SEGMENT_DAYS = 5
# breakpoints of the standard normal into 4 equiprobable bands, micro-exact
SAX_BREAK_MICRO = 674_500  # 0.6745


def sax_symbolize(events: DataFrame, w: int = SAX_SEGMENT_DAYS) -> DataFrame:
    """SAX symbolization of the daily revenue series per event type:
    Piecewise Aggregate Approximation over ``w``-day segments, z-scored
    against the segment population and mapped to a 4-letter alphabet
    (a<b<c<d by the standard-normal quartile breakpoints +-0.6745) — the
    classic shape index that turns a numeric series into short strings
    so motif mining / whole-series comparison become plain string ops
    (Lin et al.'s SAX).

    Exactness: PAA is a round-half-up integer mean of micro-snapped
    daily sums; the z-score is (n*paa - S) / sqrt(n*SS - S^2) over exact
    decimal segment moments (algebraically the population z, with ONE
    digit-split conversion and one IEEE sqrt — identical in both
    engines). Symbol assignment compares that double against the
    +-0.6745 literals; z landing EXACTLY on a breakpoint would be
    engine-ambiguous only if the double equaled the literal bit-for-bit,
    which the shared arithmetic makes consistent anyway.

    Plan: pre-agg to the bounded daily table FIRST (CLAUDE.md window
    rule), segment index by integer division on the per-type day rank,
    two bounded window passes. The corpus is touched once.
    """
    from inde1_spark.functions.exprs import dec_floordiv

    def d38(c):
        return c.cast("decimal(38,0)")

    daily = events.groupBy(
        "event_type",
        F.datediff(F.date_trunc("day", F.col("ts")), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    ).agg(F.floor(_dsum("value") * F.lit(1e6) + F.lit(0.5)).cast("long").alias("y"))
    seg = daily.withColumn(
        "seg",
        F.expr(
            "(CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)"
            f" AS BIGINT) - 1) div CAST({w} AS BIGINT)"
        ),
    )
    paa = seg.groupBy("event_type", "seg").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(d38(F.col("y"))).alias("sy"),
    )
    # round-half-up integer mean at micro scale
    paa_micro = dec_floordiv(
        (F.col("sy") * 2 + d38(F.col("n_days"))).cast("decimal(38,0)"),
        (d38(F.col("n_days")) * 2).cast("decimal(38,0)"),
    ).cast("long")
    paa = paa.withColumn("paa_micro", paa_micro)
    mom = paa.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_seg"),
        F.sum(d38(F.col("paa_micro"))).alias("s"),
        F.sum(d38(F.col("paa_micro")) * d38(F.col("paa_micro"))).alias("ss"),
    )
    joined = paa.join(F.broadcast(mom), "event_type")
    zn = (d38(F.col("n_seg")) * d38(F.col("paa_micro")) - F.col("s")).cast(
        "decimal(38,0)"
    )
    zd = (d38(F.col("n_seg")) * F.col("ss") - F.col("s") * F.col("s")).cast(
        "decimal(38,0)"
    )
    z = dec_to_double_exact(zn) / F.sqrt(dec_to_double_exact(zd))
    brk = F.lit(SAX_BREAK_MICRO / 1e6)
    sym = (
        F.when(F.col("z") < -brk, F.lit("a"))
        .when(F.col("z") < F.lit(0.0), F.lit("b"))
        .when(F.col("z") < brk, F.lit("c"))
        .otherwise(F.lit("d"))
    )
    return (
        joined.filter(zd > 0)
        .withColumn("z", z)
        .select(
            "event_type",
            F.col("seg").cast("long").alias("seg"),
            "n_days",
            (F.col("paa_micro").cast("double") / F.lit(1e6)).alias("paa"),
            "z",
            sym.alias("symbol"),
        )
        .orderBy("event_type", "seg")
    )


FUNNEL_WINDOW_HOURS = 24


def funnel_windowed(events: DataFrame, window_hours: int = FUNNEL_WINDOW_HOURS) -> DataFrame:
    """Bounded-gap funnel: each step must follow the previous step's
    MATCHED event within ``window_hours`` — the conversion definition
    real product analytics uses ("viewed within a day of signing up"),
    where the unbounded ``funnel_steps`` over-counts users who came back
    weeks later. Earliest-qualifying semantics: at every stage the chain
    advances on the first event of the next type inside the window, so
    the result is the standard greedy funnel, order-deterministic.

    One corpus shuffle: the user's funnel-type events collect to a
    sorted micro-timestamp array (per-user state, bounded by per-user
    activity — the same envelope ``session_paths`` already carries) and
    a row-local FOLD walks it once, advancing a (stage, t_stage)
    accumulator. Counts and conversion are exact integers; no
    per-stage corpus re-scan, no self-joins.
    """
    w_us = window_hours * 3600 * 1_000_000
    steps = list(FUNNEL_STEPS)
    # ts is TIMESTAMP_NTZ (nanos-parquet path): micro epoch via timestampdiff
    # (bit-equal to DuckDB's epoch_us; unix_micros rejects NTZ)
    ts_us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
    )
    ev = events.filter(F.col("event_type").isin(*steps)).select(
        "user_id",
        F.struct(
            ts_us.alias("t"),
            F.col("event_id").cast("long").alias("eid"),
            F.col("event_type").alias("et"),
        ).alias("e"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list("e")).alias("evs")
    )
    step_arr = F.array(*[F.lit(s) for s in steps])
    init = F.struct(
        F.lit(0).cast("int").alias("stage"), F.lit(0).cast("long").alias("t")
    )
    fold = F.aggregate(
        F.col("evs"),
        init,
        lambda acc, e: F.when(
            (acc["stage"] < F.lit(len(steps)))
            & (e["et"] == F.element_at(step_arr, acc["stage"] + 1))
            & (
                (acc["stage"] == 0)
                | ((e["t"] > acc["t"]) & (e["t"] <= acc["t"] + F.lit(w_us)))
            ),
            F.struct((acc["stage"] + 1).alias("stage"), e["t"].alias("t")),
        ).otherwise(acc),
    )
    stages = per_user.select(fold["stage"].cast("long").alias("stage"))
    counts = stages.agg(
        *[
            F.sum(F.when(F.col("stage") >= i + 1, 1).otherwise(0))
            .cast("long")
            .alias(f"c{i}")
            for i in range(len(steps))
        ]
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).cast("long").alias("step"),
                F.lit(steps[i]).alias("event_type"),
                F.col(f"c{i}").alias("n_users"),
                ratio_round(
                    F.col(f"c{i}"),
                    F.greatest(F.col("c0"), F.lit(1).cast("long")),
                    4,
                ).alias("conversion"),
            )
            for i in range(len(steps))
        ]
    )
    return (
        counts.select(F.explode(rows).alias("r"))
        .select("r.step", "r.event_type", "r.n_users", "r.conversion")
        .orderBy("step")
    )


HURST_WINDOW_SIZES = (5, 10, 15, 30)
# ln(n) pre-snapped to nano longs in PYTHON and injected into BOTH engines
# (CLAUDE.md transcendental rule: never let two libms each compute ln(n))
HURST_LN_N_NANO = {5: 1609437912, 10: 2302585093, 15: 2708050201, 30: 3401197382}


def hurst_exponent(events: DataFrame) -> DataFrame:
    """Hurst exponent of the global daily revenue series via classical
    rescaled-range (R/S) analysis: split the series into blocks of n
    days for several n, compute each block's range-of-cumulative-
    deviations over its standard deviation, and fit ln(mean R/S) against
    ln(n) — H > 0.5 means long-range persistence (trends feed on
    themselves; forecasts and anomaly thresholds must widen with
    horizon), H < 0.5 anti-persistence, H ~ 0.5 a memoryless walk. The
    long-memory complement to ``acf_daily`` (fixed lags) and
    ``runs_test`` (sign randomness).

    Exactness: micro-snapped daily sums; per block, n*Z_t = n*P_t - t*S1
    keeps cumulative deviations integral (decimal(38,0)); R/S =
    R_num / sqrt(n*SS - S1^2) converts through the digit-split chain and
    snaps to nano-longs (the _log_scaled convention absorbs libm's
    1-ulp); per-n means are exact integer rounding; ln(mean R/S) snaps
    to nano; ln(n) comes from the injected literals; the OLS slope runs
    on exact decimal moments with ONE final divide. Zero-variance blocks
    are excluded in both engines (ANSI-safe).

    Plan: one corpus pass to the bounded daily table; everything after
    runs on <=|days| rows through bounded windows.
    """
    from inde1_spark.functions.exprs import dec_floordiv

    def d38(c):
        return c.cast("decimal(38,0)")

    daily = (
        events.groupBy(
            F.datediff(
                F.date_trunc("day", F.col("ts")), F.lit("1970-01-01").cast("date")
            ).alias("day")
        )
        .agg(F.floor(_dsum("value") * F.lit(1e6) + F.lit(0.5)).cast("long").alias("y"))
    )
    wd = Window.orderBy("day")
    ranked = daily.withColumn(
        "rk", (F.row_number().over(wd) - 1).cast("long")
    )
    sizes = F.explode(
        F.array(*[F.lit(n).cast("long") for n in HURST_WINDOW_SIZES])
    ).alias("n")
    fan = ranked.select("rk", "y", sizes)
    fan = fan.withColumn("blk", F.expr("rk div n")).withColumn(
        "t", (F.col("rk") % F.col("n") + 1).cast("long")
    )
    wb = Window.partitionBy("n", "blk").orderBy("t")
    blocks = fan.withColumn(
        "p_t", F.sum("y").over(wb.rowsBetween(Window.unboundedPreceding, 0))
    )
    znum = blocks.join(
        blocks.groupBy("n", "blk").agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum(d38(F.col("y"))).alias("s1"),
            F.sum(d38(F.col("y")) * d38(F.col("y"))).alias("ss"),
        ),
        ["n", "blk"],
    ).filter(F.col("cnt") == F.col("n"))
    nz = (d38(F.col("n")) * d38(F.col("p_t")) - d38(F.col("t")) * F.col("s1")).cast(
        "decimal(38,0)"
    )
    per_block = znum.withColumn("nz", nz).groupBy("n", "blk", "s1", "ss").agg(
        F.max("nz").alias("z_max"),
        F.min("nz").alias("z_min"),
        F.count("*").cast("long").alias("cnt"),
    )
    var_dec = (d38(F.col("cnt")) * F.col("ss") - F.col("s1") * F.col("s1")).cast(
        "decimal(38,0)"
    )
    rs = dec_to_double_exact(
        (F.col("z_max") - F.col("z_min")).cast("decimal(38,0)")
    ) / F.sqrt(dec_to_double_exact(var_dec))
    rs_nano = F.floor(rs * F.lit(1e9) + F.lit(0.5)).cast("long")
    per_n = (
        per_block.withColumn("var_dec", var_dec)
        .filter(F.col("var_dec") > 0)
        .withColumn("rs_nano", rs_nano)
        .groupBy("n")
        .agg(
            F.count("*").cast("long").alias("n_blocks"),
            F.sum("rs_nano").cast("long").alias("sum_rs"),
        )
    )
    mean_rs_nano = dec_floordiv(
        (d38(F.col("sum_rs")) * 2 + d38(F.col("n_blocks"))).cast("decimal(38,0)"),
        (d38(F.col("n_blocks")) * 2).cast("decimal(38,0)"),
    ).cast("long")
    ln_map = F.create_map(
        *[
            c
            for n, v in sorted(HURST_LN_N_NANO.items())
            for c in (F.lit(n).cast("long"), F.lit(v).cast("long"))
        ]
    )
    pts = per_n.select(
        "n",
        mean_rs_nano.alias("mrs_nano"),
    ).select(
        "n",
        F.element_at(ln_map, F.col("n")).alias("x"),
        F.round(
            F.log(F.col("mrs_nano").cast("double") / F.lit(1e9)) * F.lit(1e9), 0
        )
        .cast("long")
        .alias("yv"),
    ).filter(F.col("mrs_nano") > 0)
    mom = pts.agg(
        F.count("*").cast("long").alias("k"),
        F.sum(d38(F.col("x"))).alias("sx"),
        F.sum(d38(F.col("yv"))).alias("sy"),
        F.sum(d38(F.col("x")) * d38(F.col("yv"))).alias("sxy"),
        F.sum(d38(F.col("x")) * d38(F.col("x"))).alias("sxx"),
    )
    num = (d38(F.col("k")) * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "decimal(38,0)"
    )
    den = (d38(F.col("k")) * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "decimal(38,0)"
    )
    return (
        mom.withColumn("num", num)
        .withColumn("den", den)
        .filter((F.col("den") > 0) & (F.col("k") >= 2))
        .select(
            F.col("k").alias("n_sizes"),
            (dec_to_double_exact(F.col("num")) / dec_to_double_exact(F.col("den"))).alias(
                "hurst"
            ),
        )
    )


BURST_INIT_COST = 1 << 60  # "unreachable" start cost for the burst state

# Hard ceiling on cells a packed sequential fold may carry in ONE task
# (r06 verdict item 4): the fold recipe is only legitimate on BOUNDED
# daily-grid series — a misuse over a per-second series would silently
# build a multi-GB single-task array. 10^6 cells ~ 2700 years of days
# (or ~8 MB of longs): far above any daily grid, far below task memory.
MAX_FOLD_CELLS = 1_000_000


def _guard_fold_cells(arr, opname: str, max_cells: int = MAX_FOLD_CELLS):
    """Wrap a packed fold input array with an executor-side size assertion.

    Stays a pure plan (no action): the guard evaluates on the executor the
    moment the packed row materializes, raising a clear error instead of
    letting the interpreted fold churn on a multi-million-element array.
    """
    return F.when(F.size(arr) <= F.lit(int(max_cells)), arr).otherwise(
        F.raise_error(
            F.lit(
                f"{opname}: packed fold input exceeds {max_cells} cells — "
                "this operator folds a BOUNDED (daily-grid) series on one "
                "task; aggregate to a coarser grid or raise max_cells "
                "deliberately"
            )
        )
    )


def burst_viterbi(
    events: DataFrame, max_fold_cells: int = MAX_FOLD_CELLS
) -> DataFrame:
    """Kleinberg-style burst segmentation of each type's daily count
    series: a 2-state automaton (base rate mu vs burst rate 2*mu) with a
    one-time entry penalty, decoded by EXACT Viterbi — the principled
    burst detector that a bare threshold (count > 2*mu) can't match
    because the entry penalty suppresses one-day blips while letting
    true multi-day bursts absorb mid-burst dips. Per day: which regime
    generated it (the labels feed anomaly triage and burst-aware
    mixture reweighting).

    Deviation from Kleinberg's Binomial costs, by design: emissions are
    L1 distances |c_t - mu|*T and |c_t - 2*mu|*T and the entry penalty
    is gamma = mu*T = S — ALL integers (ln-binomial costs would put two
    libms' lgamma in the hash path; the L1 automaton keeps the decode
    exact in both engines with identical <=/< tie-breaks: prefer base
    at ties, prefer staying in burst at entry ties).

    Plan: one corpus pass to the bounded (type, day) table; the Viterbi
    fold runs row-locally on each type's <=|days| array — the DuckDB
    twin replays the identical recurrence as a recursive CTE. Per-step
    path copies are O(T^2) per type on a bounded T; at very long
    horizons switch the accumulator to backpointers.
    """
    daily = events.groupBy(
        "event_type",
        F.datediff(
            F.date_trunc("day", F.col("ts")), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("day"),
    ).agg(F.count("*").cast("long").alias("c"))
    per = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "c"))).alias("arr"),
        F.count("*").cast("long").alias("t_days"),
        F.sum("c").cast("long").alias("s_total"),
    )
    ec = F.transform(
        F.col("arr"),
        lambda e: F.struct(
            e["day"].alias("day"),
            e["c"].alias("c"),
            F.abs(F.col("t_days") * e["c"] - F.col("s_total")).alias("e0"),
            F.abs(F.col("t_days") * e["c"] - 2 * F.col("s_total")).alias("e1"),
        ),
    )
    per = per.withColumn(
        "ec", _guard_fold_cells(ec, "burst_viterbi", max_fold_cells)
    )
    gamma = F.col("s_total")
    init = F.struct(
        F.lit(0).cast("long").alias("c0"),
        F.lit(BURST_INIT_COST).cast("long").alias("c1"),
        F.array().cast("array<int>").alias("p0"),
        F.array().cast("array<int>").alias("p1"),
    )
    fold = F.aggregate(
        F.col("ec"),
        init,
        lambda acc, e: F.struct(
            (F.least(acc["c0"], acc["c1"]) + e["e0"]).alias("c0"),
            (F.least(acc["c0"] + gamma, acc["c1"]) + e["e1"]).alias("c1"),
            F.concat(
                F.when(acc["c0"] <= acc["c1"], acc["p0"]).otherwise(acc["p1"]),
                F.array(F.lit(0)),
            ).alias("p0"),
            F.concat(
                F.when(acc["c0"] + gamma < acc["c1"], acc["p0"]).otherwise(
                    acc["p1"]
                ),
                F.array(F.lit(1)),
            ).alias("p1"),
        ),
    )
    decoded = per.withColumn("v", fold).select(
        "event_type",
        "arr",
        F.when(F.col("v.c0") <= F.col("v.c1"), F.col("v.p0"))
        .otherwise(F.col("v.p1"))
        .alias("states"),
    )
    return (
        decoded.select(
            "event_type", "arr", F.posexplode("states").alias("pos", "in_burst")
        )
        .select(
            "event_type",
            F.element_at(F.col("arr"), F.col("pos") + 1)["day"].alias("day"),
            F.element_at(F.col("arr"), F.col("pos") + 1)["c"].alias("n_events"),
            F.col("in_burst").cast("long").alias("in_burst"),
        )
        .orderBy("event_type", "day")
    )


def mutual_info_matrix(events: DataFrame) -> DataFrame:
    """Mutual information (nats) for the same three categorical dimension
    pairs as ``cramers_v_matrix`` — the information-theoretic association
    measure that, unlike chi-square, reads directly as "how many nats of
    one dimension the other explains", plus the normalized uncertainty
    coefficient U = MI / H(min-entropy side) for cross-pair comparison.

    Exact-enough-to-hash arithmetic: every ln runs over an INTEGER count
    and snaps to nano-longs (the _log_scaled convention — the snap
    absorbs libm's 1-ulp cross-engine drift), per-cell contributions
    c_ij * (ln c_ij + ln N - ln r_i - ln c_j) accumulate in
    decimal(38,0), and the single divide by N runs once in doubles.
    Zero cells contribute exactly 0 (0 ln 0 = 0), so NO densification is
    needed — the sparse aggregated table is the whole computation.

    Plan: one bounded-key groupBy per pair; margins and entropies ride
    windows over those bounded cells.
    """

    def d38(c):
        return c.cast("decimal(38,0)")

    def lnn(c):  # nano-snapped natural log of a positive integer count
        return F.round(F.log(c.cast("double")) * F.lit(1e9), 0).cast("long")

    def mi_for(pairs_df: DataFrame, name_a: str, name_b: str) -> DataFrame:
        cells = pairs_df.groupBy("ka", "kb").agg(
            F.count("*").cast("long").alias("c")
        )
        wr = Window.partitionBy("ka")
        wc = Window.partitionBy("kb")
        wg = Window.partitionBy()
        cells = cells.select(
            "ka",
            "kb",
            "c",
            F.sum("c").over(wr).cast("long").alias("r_i"),
            F.sum("c").over(wc).cast("long").alias("c_j"),
            F.sum("c").over(wg).cast("long").alias("n"),
        )
        term = lnn(F.col("c")) + lnn(F.col("n")) - lnn(F.col("r_i")) - lnn(
            F.col("c_j")
        )
        agg = cells.select(
            "n",
            (d38(F.col("c")) * d38(term)).alias("contrib"),
            # marginal entropies from the SAME cells: H(A) = ln N - (1/N) sum r_i ln r_i
            # accumulate r_i ln r_i once per distinct margin via the min-kb trick
            F.when(
                F.col("kb") == F.min("kb").over(wr),
                d38(F.col("r_i")) * d38(lnn(F.col("r_i"))),
            )
            .otherwise(F.lit(0).cast("decimal(38,0)"))
            .alias("rh"),
            F.when(
                F.col("ka") == F.min("ka").over(wc),
                d38(F.col("c_j")) * d38(lnn(F.col("c_j"))),
            )
            .otherwise(F.lit(0).cast("decimal(38,0)"))
            .alias("ch"),
        ).groupBy("n").agg(
            F.sum("contrib").alias("mi_sum"),
            F.sum("rh").alias("rh_sum"),
            F.sum("ch").alias("ch_sum"),
        )
        n_d = F.col("n").cast("double")
        ln_n = F.round(F.log(n_d) * F.lit(1e9), 0).cast("long").cast("double")
        mi = dec_to_double_exact(F.col("mi_sum")) / F.lit(1e9) / n_d
        h_a = (ln_n - dec_to_double_exact(F.col("rh_sum")) / n_d) / F.lit(1e9)
        h_b = (ln_n - dec_to_double_exact(F.col("ch_sum")) / n_d) / F.lit(1e9)
        return agg.select(
            F.lit(name_a).alias("dim_a"),
            F.lit(name_b).alias("dim_b"),
            F.col("n").alias("n_total"),
            mi.alias("mi_nats"),
            h_a.alias("h_a"),
            h_b.alias("h_b"),
            (mi / F.least(h_a, h_b)).alias("uncertainty"),
        ).filter((F.col("h_a") > 0) & (F.col("h_b") > 0))

    dow = ((F.dayofweek(F.col("ts")) + 5) % 7 + 1).cast("long")
    bucket = F.expr(
        f"CAST(floor(CAST(value AS DOUBLE) * 1e6 + 0.5) AS BIGINT)"
        f" div CAST({CRAMERS_BUCKET} AS BIGINT)"
    )
    base = events.select(
        F.col("event_type"), dow.alias("iso_dow"), bucket.alias("v_bucket")
    )
    p1 = mi_for(
        base.select(F.col("event_type").alias("ka"), F.col("iso_dow").alias("kb")),
        "event_type",
        "iso_dow",
    )
    p2 = mi_for(
        base.select(F.col("event_type").alias("ka"), F.col("v_bucket").alias("kb")),
        "event_type",
        "v_bucket",
    )
    p3 = mi_for(
        base.select(F.col("iso_dow").alias("ka"), F.col("v_bucket").alias("kb")),
        "iso_dow",
        "v_bucket",
    )
    return p1.unionByName(p2).unionByName(p3).orderBy("dim_a", "dim_b")


# ---------------------------------------------------------------------------
# CUSUM drift detection (closed-form, window-only)
# ---------------------------------------------------------------------------

def cusum_drift(events: DataFrame) -> DataFrame:
    """Two-sided CUSUM drift statistic over the daily event-count series —
    the SEQUENTIAL detector that complements ``changepoint_meanshift``:
    instead of locating the single best split retrospectively, it carries
    the Page (1954) running statistic S_i = max(0, S_{i-1} + x_i - mu)
    that fires the moment cumulative drift from the in-control mean
    exceeds a threshold, which is what a production data-quality monitor
    actually runs day over day.

    The recursion is NOT unrolled: S_i has the closed form
    P_i - min(0, min_{j<=i} P_j) with P the prefix sum of centered
    deviations, so the whole computation is one cumulative window over
    the bounded daily table (and the same form is what a streaming
    incremental maintenance would checkpoint: one prefix and one running
    extremum). Exact integers throughout: deviations are centered at
    scale n_days (x_i * n_days - n_total), so no rational mean is ever
    materialized. Alarm threshold = 4 daily means (4 * n_total at this
    scale), deterministic and engine-portable.

    Scale: one corpus-volume shuffle (the daily count); everything after
    runs on |days| rows. The scaled statistic stays under 2^63 up to
    ~1e14 events x 365 days.
    """
    daily = events.groupBy(_day_str().alias("day")).agg(
        F.count("*").cast("long").alias("n_events")
    )
    tot = daily.agg(
        F.sum("n_events").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("n_days"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    scored = (
        daily.join(F.broadcast(tot))
        .withColumn(
            "dev", F.col("n_events") * F.col("n_days") - F.col("n_total")
        )
        .withColumn("p", F.sum("dev").over(w))
    )
    scored = scored.withColumn("runmin", F.min("p").over(w)).withColumn(
        "runmax", F.max("p").over(w)
    )
    cusum_pos = F.col("p") - F.least(F.lit(0).cast("long"), F.col("runmin"))
    cusum_neg = F.greatest(F.lit(0).cast("long"), F.col("runmax")) - F.col("p")
    thr = F.lit(4) * F.col("n_total")
    return scored.select(
        "day",
        "n_events",
        cusum_pos.alias("cusum_pos"),
        cusum_neg.alias("cusum_neg"),
        (cusum_pos > thr).alias("alarm_pos"),
        (cusum_neg > thr).alias("alarm_neg"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Wilcoxon signed-rank (paired daily entries vs exits)
# ---------------------------------------------------------------------------

def wilcoxon_signed_rank(events: DataFrame) -> DataFrame:
    """Wilcoxon signed-rank test on the PAIRED daily (entries, exits)
    series — the paired complement to ``mann_whitney_pairs`` (which
    compares independent samples): are daily entry and exit volumes
    systematically offset, judged only by the SIGNS and RANKS of the
    per-day differences, immune to outlier days.

    Sort-free tied ranks via the value histogram of |d| (the
    mann_whitney grid trick at x2 scale); zero differences drop per the
    standard treatment. Everything is integer until the final z:
    num = 4*W+ - n(n+1) and the variance denominator
    D = 2n(n+1)(2n+1) - Sum(t^3 - t) (48x the tie-corrected variance),
    so z = num * sqrt(3 / D) with one IEEE division and sqrt, identical
    across engines. D > 0 for any n >= 1 (all-tied collapses to
    3n(n+1)^2), so no degenerate-denominator guard is needed beyond
    n_pairs > 0.

    Scale: the only corpus-volume shuffle is the daily conditional agg;
    ranks ride a window over the bounded |d| histogram.
    """
    daily = events.groupBy(_day_str().alias("day")).agg(
        F.sum(F.when(F.col("event_type") == ENTRY_TYPE, 1).otherwise(0))
        .cast("long")
        .alias("n_entry"),
        F.sum(F.when(F.col("event_type") == EXIT_TYPE, 1).otherwise(0))
        .cast("long")
        .alias("n_exit"),
    )
    diffs = daily.select(
        (F.col("n_entry") - F.col("n_exit")).alias("d")
    ).filter(F.col("d") != 0)
    hist = diffs.groupBy(F.abs(F.col("d")).alias("absd")).agg(
        F.count("*").cast("long").alias("m"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).cast("long").alias("m_pos"),
    )
    wv = Window.orderBy("absd")
    ranked = hist.withColumn(
        "rank2",
        F.lit(2)
        * F.coalesce(
            F.sum("m").over(wv.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0).cast("long"),
        )
        + F.col("m")
        + F.lit(1),
    )
    agg = ranked.agg(
        F.sum("m").cast("long").alias("n_pairs"),
        F.sum(F.col("m_pos") * F.col("rank2")).cast("long").alias("w_plus2"),
        F.sum((F.col("m") - F.col("m_pos")) * F.col("rank2"))
        .cast("long")
        .alias("w_minus2"),
        F.sum(F.col("m") * F.col("m") * F.col("m") - F.col("m"))
        .cast("long")
        .alias("tie_sum"),
    ).filter(F.col("n_pairs") > 0)
    n = F.col("n_pairs")
    num = F.lit(2) * F.col("w_plus2") - n * (n + F.lit(1))
    den = F.lit(2) * n * (n + F.lit(1)) * (F.lit(2) * n + F.lit(1)) - F.col(
        "tie_sum"
    )
    return agg.select(
        "n_pairs",
        "w_plus2",
        "w_minus2",
        "tie_sum",
        (
            num.cast("double")
            * F.sqrt(F.lit(3.0) / den.cast("double"))
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Kendall tau-b matrix (concordance from the densified 2-D histogram)
# ---------------------------------------------------------------------------

# Per-column quantization divisors on the micro grid (aligned with
# SPEARMAN_COLS): integer units for quantity, 2000-unit buckets for the
# high-cardinality price, percent grid for discount/tax. Tau is rank-based,
# so any monotone quantization is principled — and the snap IS the
# tie-handling, applied identically in the oracle.
TAU_DIVS = (1_000_000, 2_000_000_000, 10_000, 10_000)


def kendall_tau_matrix(lineitem: DataFrame) -> DataFrame:
    """Kendall tau-b for every lineitem measure pair — the concordance
    member of the correlation family (``corr_exact`` = linear,
    ``spearman_corr`` = monotone-on-ranks): the probability a random row
    pair is concordant minus discordant, with the tau-b tie correction.
    Preferred over Spearman when the data is heavily tied (discount/tax
    take ~10 distinct values), because ties are first-class in tau-b.

    The naive statistic is O(N^2) row pairs. On a QUANTIZED grid it
    collapses to the densified 2-D histogram: concordant pairs are
    Sum_cells c(a,b) * P(a,b) with P the strict-dominance prefix count,
    computed by two cascaded cumulative windows (over vb within va, then
    over va within vb) on the bounded grid — never a row self-join. Tie
    terms n1/n2 come from the marginal histograms at x2 scale; integer
    end-to-end (decimal(38,0) for the pair counts, which reach N^2/2),
    with ONE final IEEE divide/sqrt chain per pair, and concordant /
    discordant emitted as strings (they overflow BIGINT past ~4e9 rows).

    Scale: one corpus pass (the exploded 6-pair cell count, map-side
    combined onto bounded keys); every window runs on the <=64x64 grid
    per pair. Coarsen TAU_DIVS to keep grids bounded on wider domains.
    """
    def d38(c):
        return c.cast("decimal(38,0)")

    vals = lineitem.select(
        *[
            F.expr(
                f"CAST(floor(CAST({c} AS DOUBLE) * 1e6 + 0.5) AS BIGINT)"
                f" div CAST({TAU_DIVS[i]} AS BIGINT)"
            ).alias(f"v_{i}")
            for i, c in enumerate(SPEARMAN_COLS)
        ]
    )
    pair_structs = [
        F.struct(
            F.lit(f"{SPEARMAN_COLS[i]}|{SPEARMAN_COLS[j]}").alias("pair"),
            F.col(f"v_{i}").alias("va"),
            F.col(f"v_{j}").alias("vb"),
        )
        for i in range(4)
        for j in range(i + 1, 4)
    ]
    # persisted: the bounded cell table feeds the grid, both marginals and
    # the dominance windows — without it each consumer replays the corpus
    # explode
    cells = persist(
        vals.select(F.explode(F.array(*pair_structs)).alias("s"))
        .select("s.pair", "s.va", "s.vb")
        .groupBy("pair", "va", "vb")
        .agg(F.count("*").cast("long").alias("c"))
    )
    ma = cells.groupBy("pair", "va").agg(F.sum("c").cast("long").alias("ta"))
    mb = cells.groupBy("pair", "vb").agg(F.sum("c").cast("long").alias("tb"))
    grid = (
        ma.select("pair", "va")
        .join(mb.select("pair", "vb"), "pair")
        .join(cells, ["pair", "va", "vb"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0).cast("long")))
    )
    zero = F.lit(0).cast("long")
    wb_lt = (
        Window.partitionBy("pair", "va")
        .orderBy("vb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wb_gt = (
        Window.partitionBy("pair", "va")
        .orderBy(F.desc("vb"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    grid = grid.select(
        "pair",
        "va",
        "vb",
        "c",
        F.coalesce(F.sum("c").over(wb_lt), zero).alias("cb_lt"),
        F.coalesce(F.sum("c").over(wb_gt), zero).alias("cb_gt"),
    )
    wa_lt = (
        Window.partitionBy("pair", "vb")
        .orderBy("va")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    grid = grid.select(
        "pair",
        "c",
        F.coalesce(F.sum("cb_lt").over(wa_lt), zero).alias("p_lt"),
        F.coalesce(F.sum("cb_gt").over(wa_lt), zero).alias("p_gt"),
    )
    cd = grid.groupBy("pair").agg(
        F.sum(d38(F.col("c")) * d38(F.col("p_lt"))).alias("conc"),
        F.sum(d38(F.col("c")) * d38(F.col("p_gt"))).alias("disc"),
    )
    na = ma.groupBy("pair").agg(
        F.sum(d38(F.col("ta")) * d38(F.col("ta") - 1)).alias("n1x2"),
        F.sum("ta").cast("long").alias("n_rows"),
    )
    nb = mb.groupBy("pair").agg(
        F.sum(d38(F.col("tb")) * d38(F.col("tb") - 1)).alias("n2x2")
    )
    out = cd.join(na, "pair").join(nb, "pair")
    n0x2 = d38(F.col("n_rows")) * d38(F.col("n_rows") - 1)
    da = (n0x2 - F.col("n1x2")).cast("decimal(38,0)")
    db = (n0x2 - F.col("n2x2")).cast("decimal(38,0)")
    num = (F.col("conc") - F.col("disc")).cast("decimal(38,0)")
    return (
        out.filter((da > 0) & (db > 0))
        .select(
            F.substring_index(F.col("pair"), "|", 1).alias("col_a"),
            F.substring_index(F.col("pair"), "|", -1).alias("col_b"),
            F.col("n_rows"),
            F.col("conc").cast("string").alias("concordant"),
            F.col("disc").cast("string").alias("discordant"),
            (
                F.lit(2.0)
                * dec_to_double_exact(num)
                / (
                    F.sqrt(dec_to_double_exact(da))
                    * F.sqrt(dec_to_double_exact(db))
                )
            ).alias("tau_b"),
        )
        .orderBy("col_a", "col_b")
    )


# ---------------------------------------------------------------------------
# Hilbert-curve layout audit (the locality upgrade over Morton/z-order)
# ---------------------------------------------------------------------------

HILBERT_BITS = 10     # per-dimension resolution, matches ZORDER_BITS
HILBERT_BUCKETS = 64


def hilbert_layout(
    events: DataFrame,
    bits: int = HILBERT_BITS,
    n_buckets: int = HILBERT_BUCKETS,
) -> DataFrame:
    """Hilbert-curve layout audit over the same (hour, user) key space as
    ``zorder_layout`` — same bucket/envelope output shape, so the two
    reports diff directly. Hilbert is the layout a 100 TB table actually
    wants when both predicates matter: unlike Morton order it has NO long
    diagonal jumps, so consecutive curve positions are always adjacent
    cells and per-file min/max envelopes are provably tighter (the
    measured h_span/u_span columns are the comparison).

    The xy->d transform is the classic quadrant-rotation recurrence.
    Instead of unrolling it into nested CASE columns (expression trees
    grow 4^bits — the analyzer-OOM trap CLAUDE.md pins for iterative
    unrolls), the per-row state (d, x, y) is PACKED into one BIGINT
    (d*2^32 + x*2^16 + y, exact under 2^52 so even the double-backed
    lambda arithmetic is lossless) and advanced by a row-local
    fold — Spark ``F.aggregate`` over the descending s-powers, DuckDB
    ``list_reduce`` over the same list, identical integer steps. No UDF,
    no shuffle beyond the final <= n_buckets-key reduce.

    Scale: identical to zorder_layout — one corpus pass + a bounded-key
    aggregate; the fold is 10 interpreted steps per row (measured noise
    next to the scan), and the curve value feeds the same
    repartitionByRange write the z-order audit gates.
    """
    hour = F.expr("unix_timestamp(ts) div 3600").cast("long")
    base = events.select(
        F.col("user_id").cast("long").alias("uid"), hour.alias("h")
    )
    lims = base.agg(
        F.min("h").alias("h_min"),
        F.max("h").alias("h_max"),
        F.min("uid").alias("u_min"),
        F.max("uid").alias("u_max"),
    )
    cells = 1 << bits
    hx = F.expr(
        f"CAST(((h - h_min) * {cells}) div (h_max - h_min + 1) AS BIGINT)"
    )
    ux = F.expr(
        f"CAST(((uid - u_min) * {cells}) div (u_max - u_min + 1) AS BIGINT)"
    )
    scaled = base.join(F.broadcast(lims)).select(
        "uid", "h", hx.alias("hx"), ux.alias("ux")
    )

    P16, P32 = 1 << 16, 1 << 32

    def fdiv(a, p):  # exact floor-div for non-negative packed longs
        return ((a - a % F.lit(p)) / F.lit(p)).cast("long")

    steps = F.expr(
        "array(" + ",".join(str(1 << b) for b in reversed(range(bits))) + ")"
    )

    def hstep(acc, s):
        d = fdiv(acc, P32)
        x = fdiv(acc, P16) % F.lit(P16)
        y = acc % F.lit(P16)
        rx = ((x - x % s) / s).cast("long") % F.lit(2)
        ry = ((y - y % s) / s).cast("long") % F.lit(2)
        quad = rx * (F.lit(3) - ry) + (F.lit(1) - rx) * ry
        d2 = d + s * s * quad
        xm = x % s
        ym = y % s
        x2 = F.when(ry == F.lit(1), xm).otherwise(
            F.when(rx == F.lit(1), s - F.lit(1) - ym).otherwise(ym)
        )
        y2 = F.when(ry == F.lit(1), ym).otherwise(
            F.when(rx == F.lit(1), s - F.lit(1) - xm).otherwise(xm)
        )
        return d2 * F.lit(P32) + x2 * F.lit(P16) + y2

    acc0 = (F.col("hx") * F.lit(P16) + F.col("ux")).cast("long")
    hd = fdiv(F.aggregate(steps, acc0, hstep), P32)
    return (
        scaled.withColumn("hv", hd)
        .select(
            F.expr(
                f"CAST(hv div {(1 << (2 * bits)) // n_buckets} AS BIGINT)"
            ).alias("bucket"),
            "uid",
            "h",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min("h").alias("h_lo"),
            F.max("h").alias("h_hi"),
            F.min("uid").alias("u_lo"),
            F.max("uid").alias("u_hi"),
        )
        .select(
            "bucket",
            "n_events",
            (F.col("h_hi") - F.col("h_lo")).alias("h_span"),
            (F.col("u_hi") - F.col("u_lo")).alias("u_span"),
            "h_lo",
            "u_lo",
        )
    )


# ---------------------------------------------------------------------------
# Brown-Forsythe spread homogeneity (the robust Levene variant)
# ---------------------------------------------------------------------------

def brown_forsythe(events: DataFrame) -> DataFrame:
    """Brown-Forsythe test: do the k event-type groups have the same
    SPREAD? The robust (median-centered) Levene variant — the
    equal-variance precondition audit for the mean-comparison family
    (t-tests/ANOVA assume it; ``kruskal_wallis`` sidesteps it), and the
    variance-drift check a pipeline runs when distributions may widen
    without moving their center.

    One corpus pass builds the (type, micro-value) histogram; the group
    medians (exact lower medians), the absolute deviations z = |y - med|,
    and every moment after that live entirely ON the histogram — the
    corpus is never rejoined. The F statistic follows the kruskal
    micro-grid contract: each S_g^2/n_g quotient micro-rounded half-up
    exactly via decimal(38,0) floor-division, between/within sums kept
    as exact micro integers (emitted as strings — they overflow BIGINT
    at corpus scale), ONE final IEEE divide chain for f_stat.

    Scale: histogram keys bounded by the value domain; the per-type
    cumulative window orders DISTINCT values (single-task per type —
    coarsen the grid past ~1e6 distincts, as in spearman_corr). S_g^2
    fits decimal(38,0) to ~1e9 rows x 1e9 micro-deviations; rescale the
    grid beyond.
    """
    from inde1_spark.functions.exprs import dec_floordiv

    def d38(c):
        return c.cast("decimal(38,0)")

    y = F.floor(F.col("value").cast("double") * F.lit(1e6) + F.lit(0.5)).cast(
        "long"
    )
    hist = (
        events.select("event_type", y.alias("y"))
        .groupBy("event_type", "y")
        .agg(F.count("*").cast("long").alias("m"))
    )
    wt = Window.partitionBy("event_type")
    wc = (
        Window.partitionBy("event_type")
        .orderBy("y")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        "event_type",
        "y",
        "m",
        F.sum("m").over(wt).cast("long").alias("n_g"),
        F.sum("m").over(wc).cast("long").alias("cum"),
    )
    meds = (
        cum.filter(F.col("cum") >= F.expr("(n_g + 1) div 2"))
        .groupBy("event_type")
        .agg(F.min("y").alias("med"))
    )
    dev = hist.join(F.broadcast(meds), "event_type").select(
        "event_type", F.abs(F.col("y") - F.col("med")).alias("z"), "m"
    )
    grp = dev.groupBy("event_type").agg(
        F.sum("m").cast("long").alias("n_g"),
        F.sum(d38(F.col("m")) * d38(F.col("z"))).alias("s_g"),
        F.sum(d38(F.col("m")) * d38(F.col("z")) * d38(F.col("z"))).alias(
            "ss_g"
        ),
    )
    q_micro = dec_floordiv(
        (
            F.col("s_g") * F.col("s_g") * F.lit(1_000_000) * F.lit(2)
            + d38(F.col("n_g"))
        ).cast("decimal(38,0)"),
        (d38(F.col("n_g")) * F.lit(2)).cast("decimal(38,0)"),
    )
    agg = grp.select(
        "n_g",
        "s_g",
        "ss_g",
        q_micro.cast("decimal(38,0)").alias("q_micro"),
    ).agg(
        F.sum("n_g").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("k_groups"),
        F.sum("s_g").alias("s_tot"),
        F.sum("q_micro").alias("q_sum"),
        F.sum(F.col("ss_g") * F.lit(1_000_000)).alias("ss_micro"),
    )
    q_tot = dec_floordiv(
        (
            F.col("s_tot") * F.col("s_tot") * F.lit(1_000_000) * F.lit(2)
            + d38(F.col("n_total"))
        ).cast("decimal(38,0)"),
        (d38(F.col("n_total")) * F.lit(2)).cast("decimal(38,0)"),
    )
    fin = agg.select(
        "n_total",
        "k_groups",
        (F.col("q_sum") - q_tot).cast("decimal(38,0)").alias("bss"),
        (F.col("ss_micro") - F.col("q_sum")).cast("decimal(38,0)").alias("wss"),
    )
    return fin.filter(
        (F.col("k_groups") > 1)
        & (F.col("n_total") > F.col("k_groups"))
        & (F.col("wss") > 0)
    ).select(
        "n_total",
        "k_groups",
        F.col("bss").cast("string").alias("bss_micro"),
        F.col("wss").cast("string").alias("wss_micro"),
        (
            dec_to_double_exact(F.col("bss"))
            / dec_to_double_exact(F.col("wss"))
            * (F.col("n_total") - F.col("k_groups")).cast("double")
            / (F.col("k_groups") - 1).cast("double")
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Holt-Winters additive seasonal smoothing (exact dyadic-integer recursion)
# ---------------------------------------------------------------------------

HW_SEASON = 7  # weekly seasonality on the daily grid


def holt_winters(
    events: DataFrame, max_fold_cells: int = MAX_FOLD_CELLS
) -> DataFrame:
    """Additive Holt-Winters (level + trend + weekly season) over the
    daily event-count series — the seasonal upgrade of ``holt_linear``:
    one-step-ahead fits that track day-of-week shape, the forecasting
    baseline for traffic-style series.

    Exactness contract: alpha=1/2, beta=1/4, gamma=1/2 are DYADIC, the
    state is scaled x7 (so the first-week initialization — level = the
    week's mean — is an exact integer), and every smoothing update is a
    TRUNCATING integer division by a power of two, spelled (a - a%k)/k
    in both engines (Spark and DuckDB % both take the dividend's sign,
    so truncation agrees on negative trends). No floats anywhere; the
    fitted values hash exactly.

    The recursion carries (level, trend, 7 seasonals): Spark folds ONE
    row holding the sorted bounded daily series (the burst_viterbi
    recipe — sequential algorithms unroll on bounded tables, never on
    the corpus); DuckDB replays it as a list-carrying recursive CTE.
    Scale: the corpus-volume work is the daily count; the fold is
    O(days) on one row.
    """
    m = HW_SEASON

    def tdiv(a, k):  # truncating dyadic division, engine-identical
        return ((a - a % F.lit(k)) / F.lit(k)).cast("long")

    daily = events.groupBy(_day_str().alias("day")).agg(
        F.count("*").cast("long").alias("x")
    )
    packed = (
        daily.agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("day"), F.col("x")))
            ).alias("arr")
        )
        .filter(F.size("arr") >= m + 1)
        .select(
            _guard_fold_cells(F.col("arr"), "holt_winters", max_fold_cells).alias(
                "arr"
            )
        )
    )
    # init on the first season: level = sum of week-1 counts (x7 mean),
    # trend = 0, seasonal_i = 7*x_i - level
    l0 = F.aggregate(
        F.slice(F.col("arr"), 1, m),
        F.lit(0).cast("long"),
        lambda acc, e: acc + e["x"],
    )
    base = packed.select("arr", l0.alias("l0"))
    s0 = F.transform(
        F.slice(F.col("arr"), 1, m), lambda e: e["x"] * F.lit(m) - F.col("l0")
    )
    out_t = "array<struct<day:string,x:bigint,fitted:bigint>>"
    init = F.struct(
        F.col("l0").alias("l"),
        F.lit(0).cast("long").alias("b"),
        s0.alias("s"),
        F.expr(f"CAST(array() AS {out_t})").alias("out"),
    )

    def step(acc, e):
        s_old = F.element_at(acc["s"], 1)
        xp = e["x"] * F.lit(m)
        l_new = tdiv(xp - s_old + acc["l"] + acc["b"], 2)
        b_new = tdiv(l_new - acc["l"] + F.lit(3) * acc["b"], 4)
        s_val = tdiv(xp - l_new + s_old, 2)
        fitted = acc["l"] + acc["b"] + s_old
        return F.struct(
            l_new.alias("l"),
            b_new.alias("b"),
            F.concat(F.slice(acc["s"], 2, m - 1), F.array(s_val)).alias("s"),
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        e["day"].alias("day"),
                        e["x"].alias("x"),
                        fitted.alias("fitted"),
                    )
                ),
            ).alias("out"),
        )

    folded = base.select(
        F.aggregate(
            F.slice(F.col("arr"), m + 1, F.size("arr") - m),
            init,
            step,
        )["out"].alias("out")
    )
    row = folded.select(F.explode("out").alias("r"))
    return row.select(
        F.col("r.day").alias("day"),
        F.col("r.x").alias("n_events"),
        F.col("r.fitted").alias("fitted_x7"),
        (F.col("r.x") * F.lit(m) - F.col("r.fitted")).alias("resid_x7"),
    ).orderBy("day")


def anova_oneway(events: DataFrame) -> DataFrame:
    """Classic one-way ANOVA F across event types — the parametric member
    completing the k-sample family: ``kruskal_wallis`` tests ranks,
    ``brown_forsythe`` tests spreads, this tests MEANS under the equal-
    variance assumption (which brown_forsythe itself audits).

    Same exact micro-grid machinery as brown_forsythe, applied to the
    raw micro values instead of median deviations: per-group
    S_g^2/n_g quotients micro-rounded half-up in decimal(38,0),
    between/within as exact micro integers (string-emitted), one IEEE
    divide chain for F. Values shift to the global min first so the
    squared sums stay small regardless of the domain's offset.

    Scale: one corpus-volume groupBy onto |types| keys (map-side
    combined); no histogram needed — moments suffice for means.
    """
    from inde1_spark.functions.exprs import dec_floordiv

    def d38(c):
        return c.cast("decimal(38,0)")

    y = F.floor(F.col("value").cast("double") * F.lit(1e6) + F.lit(0.5)).cast(
        "long"
    )
    raw = events.select("event_type", y.alias("y"))
    gmin = raw.agg(F.min("y").alias("y_min"))
    shifted = raw.join(F.broadcast(gmin)).select(
        "event_type", (F.col("y") - F.col("y_min")).alias("z")
    )
    grp = shifted.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_g"),
        F.sum(d38(F.col("z"))).alias("s_g"),
        F.sum(d38(F.col("z")) * d38(F.col("z"))).alias("ss_g"),
    )
    q_micro = dec_floordiv(
        (
            F.col("s_g") * F.col("s_g") * F.lit(1_000_000) * F.lit(2)
            + d38(F.col("n_g"))
        ).cast("decimal(38,0)"),
        (d38(F.col("n_g")) * F.lit(2)).cast("decimal(38,0)"),
    )
    agg = grp.select(
        "n_g", "s_g", "ss_g", q_micro.cast("decimal(38,0)").alias("q_micro")
    ).agg(
        F.sum("n_g").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("k_groups"),
        F.sum("s_g").alias("s_tot"),
        F.sum("q_micro").alias("q_sum"),
        F.sum(F.col("ss_g") * F.lit(1_000_000)).alias("ss_micro"),
    )
    q_tot = dec_floordiv(
        (
            F.col("s_tot") * F.col("s_tot") * F.lit(1_000_000) * F.lit(2)
            + d38(F.col("n_total"))
        ).cast("decimal(38,0)"),
        (d38(F.col("n_total")) * F.lit(2)).cast("decimal(38,0)"),
    )
    fin = agg.select(
        "n_total",
        "k_groups",
        (F.col("q_sum") - q_tot).cast("decimal(38,0)").alias("bss"),
        (F.col("ss_micro") - F.col("q_sum")).cast("decimal(38,0)").alias("wss"),
    )
    return fin.filter(
        (F.col("k_groups") > 1)
        & (F.col("n_total") > F.col("k_groups"))
        & (F.col("wss") > 0)
    ).select(
        "n_total",
        "k_groups",
        F.col("bss").cast("string").alias("bss_micro"),
        F.col("wss").cast("string").alias("wss_micro"),
        (
            dec_to_double_exact(F.col("bss"))
            / dec_to_double_exact(F.col("wss"))
            * (F.col("n_total") - F.col("k_groups")).cast("double")
            / (F.col("k_groups") - 1).cast("double")
        ).alias("f_stat"),
    )


def isotonic_daily(events: DataFrame) -> DataFrame:
    """Isotonic (monotone non-decreasing) fit of the daily event-count
    series — the PAVA regression used for trend extraction and score
    calibration, here as the "is traffic really growing" baseline that
    ``daily_trend_regression``'s straight line can't express.

    PAVA's sequential pool-adjacent-violators loop is replaced by its
    MINIMAX closed form: iso_i = max_{j<=i} min_{k>=i} avg(x_j..x_k),
    which is pure window algebra on the bounded (j,k) interval grid —
    exact micro-floored interval averages from prefix sums (decimal
    floor-division, identical in DuckDB), a suffix-min per j, a max per
    i. The |days|^2 inequality join is the deliberate bounded-table
    trade (≈10^5 cells for a year of days); the corpus itself is touched
    exactly once by the daily count.
    """
    from inde1_spark.functions.exprs import dec_floordiv

    daily = events.groupBy(_day_str().alias("day")).agg(
        F.count("*").cast("long").alias("x")
    )
    w = Window.orderBy("day")
    idx = daily.select(
        "day",
        "x",
        F.row_number().over(w).cast("long").alias("t"),
        F.sum("x")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("s"),
    )
    left = idx.select(
        F.col("t").alias("j"), (F.col("s") - F.col("x")).alias("s_jm1")
    )
    right = idx.select(F.col("t").alias("k"), F.col("s").alias("s_k"))
    avg_micro = dec_floordiv(
        (
            (F.col("s_k") - F.col("s_jm1")).cast("decimal(38,0)")
            * F.lit(1_000_000)
        ).cast("decimal(38,0)"),
        (F.col("k") - F.col("j") + 1).cast("decimal(38,0)"),
    )
    pairs = (
        left.join(right, F.col("k") >= F.col("j"))
        .select("j", "k", avg_micro.cast("long").alias("a"))
    )
    wsuf = (
        Window.partitionBy("j")
        .orderBy(F.desc("k"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    m = pairs.select(
        "j", F.col("k").alias("i"), F.min("a").over(wsuf).alias("msuf")
    )
    iso = m.groupBy("i").agg(F.max("msuf").cast("long").alias("iso_micro"))
    return (
        idx.join(iso, idx["t"] == iso["i"])
        .select("day", F.col("x").alias("n_events"), "iso_micro")
        .orderBy("day")
    )


def entropy_rate_markov(events: DataFrame) -> DataFrame:
    """Empirical entropy rate of the user behavior chain — the
    information-theoretic summary the Markov family was missing:
    H(next | prev) over observed transitions, next to the marginal
    H(next), and predictability = 1 - H(next|prev)/H(next) ("how much
    does knowing the previous action tell you"). transition_matrix gives
    the per-edge probabilities; this is their one-number compression,
    the signal that decides whether sequence features are worth adding
    to a model at all.

    The mutual_info_matrix nano-log contract: H(next|prev) =
    (1/N) Sum_uv c_uv (ln c_u. - ln c_uv), every ln over an INTEGER
    count, contributions in decimal(38,0), marginal entropy via the
    min-key dedup trick on the same edge table — no second corpus pass.

    Scale: one corpus window pass (the lead() pairing per user) into a
    <=|types|^2-key aggregate; everything after is bounded.
    """

    def d38(c):
        return c.cast("decimal(38,0)")

    def lnn(c):
        return F.round(F.log(c.cast("double")) * F.lit(1e9), 0).cast("long")

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    pairs = events.select(
        "user_id",
        F.col("event_type").alias("u"),
        F.lead("event_type").over(w).alias("v"),
    ).filter(F.col("v").isNotNull())
    edges = pairs.groupBy("u", "v").agg(F.count("*").cast("long").alias("c"))
    wu = Window.partitionBy("u")
    wv = Window.partitionBy("v")
    cells = edges.select(
        "u",
        "v",
        "c",
        F.sum("c").over(wu).cast("long").alias("row_tot"),
        F.sum("c").over(wv).cast("long").alias("col_tot"),
        F.min("u").over(wv).alias("min_u"),
    )
    agg = cells.agg(
        F.sum("c").cast("long").alias("n_transitions"),
        F.count("*").cast("long").alias("n_edges"),
        F.sum(
            d38(F.col("c")) * d38(lnn(F.col("row_tot")) - lnn(F.col("c")))
        ).alias("hr_sum"),
        F.sum(
            F.when(
                F.col("u") == F.col("min_u"),
                d38(F.col("col_tot")) * d38(lnn(F.col("col_tot"))),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("hm_sum"),
    )
    n_d = F.col("n_transitions").cast("double")
    h_rate = dec_to_double_exact(F.col("hr_sum")) / F.lit(1e9) / n_d
    h_marg = (
        lnn(F.col("n_transitions")).cast("double")
        - dec_to_double_exact(F.col("hm_sum")) / n_d
    ) / F.lit(1e9)
    return (
        agg.filter(F.col("n_transitions") > 0)
        .select(
            "n_transitions",
            "n_edges",
            h_rate.alias("h_rate"),
            h_marg.alias("h_marginal"),
            (F.lit(1.0) - h_rate / h_marg).alias("predictability"),
        )
        .filter(F.col("h_marginal") > 0)
    )


# ---------------------------------------------------------------------------
# Sequential probability ratio test (Wald) on the entry/exit mix
# ---------------------------------------------------------------------------

# H0: p(entry)=1/2 vs H1: p=3/5, alpha=beta=0.05. Nano literals are
# Python-precomputed (round(ln(x)*1e9)) and injected into BOTH engines —
# the injected-constant convention for transcendentals of fixed rationals.
SPRT_L_ENTRY = 182321557      # ln(0.6/0.5)
SPRT_L_EXIT = -223143551      # ln(0.4/0.5)
SPRT_BOUND = 2944438979       # ln((1-beta)/alpha) = ln(19)


def sprt_entry_bias(events: DataFrame) -> DataFrame:
    """Wald's sequential probability ratio test on the daily entry-vs-exit
    mix — the SEQUENTIAL member of the hypothesis-test family: unlike the
    fixed-sample tests (chi2/ANOVA/rank family) it tells you the EARLIEST
    day the evidence sufficed to stop, which is what an online experiment
    or a drift monitor actually wants. H0: entries are half the traffic;
    H1: 3/5 (both literals in the module constants).

    LLR_t = cumE * ln(p1/p0) + cumX * ln((1-p1)/(1-p0)) is a pure prefix
    sum of integer counts times Python-precomputed nano constants —
    hash-exact with no engine transcendentals at all. Decision bounds at
    +/- ln(19) (5% error rates both ways). Emits the running LLR and
    verdict per day; `decided` marks days at-or-after the first boundary
    crossing (min-day window), the sequential stopping rule.

    Scale: one corpus-volume daily conditional agg; two cumulative
    windows over the bounded daily table.
    """
    daily = events.groupBy(_day_str().alias("day")).agg(
        F.sum(F.when(F.col("event_type") == ENTRY_TYPE, 1).otherwise(0))
        .cast("long")
        .alias("n_entry"),
        F.sum(F.when(F.col("event_type") == EXIT_TYPE, 1).otherwise(0))
        .cast("long")
        .alias("n_exit"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        "n_entry",
        "n_exit",
        F.sum("n_entry").over(w).cast("long").alias("cum_entry"),
        F.sum("n_exit").over(w).cast("long").alias("cum_exit"),
    )
    llr = (
        F.col("cum_entry") * F.lit(SPRT_L_ENTRY)
        + F.col("cum_exit") * F.lit(SPRT_L_EXIT)
    )
    verdict = (
        F.when(llr >= F.lit(SPRT_BOUND), F.lit("accept_h1"))
        .when(llr <= F.lit(-SPRT_BOUND), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
    )
    scored = cum.select(
        "day",
        "n_entry",
        "n_exit",
        llr.alias("llr_nano"),
        verdict.alias("verdict"),
    )
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return scored.select(
        "day",
        "n_entry",
        "n_exit",
        "llr_nano",
        "verdict",
        F.max(F.when(F.col("verdict") != "continue", 1).otherwise(0))
        .over(wd)
        .cast("boolean")
        .alias("decided"),
    ).orderBy("day")


def pacf_daily(events: DataFrame, max_lag: int = ACF_MAX_LAG) -> DataFrame:
    """PARTIAL autocorrelation of the daily revenue series at lags
    1..max_lag via the Durbin-Levinson recursion — the AR-order
    diagnostic ``acf_daily`` cannot give: the ACF of an AR(p) process
    decays forever, its PACF CUTS OFF at p, so this table is how one
    reads off the right autoregressive order before fitting anything.

    Determinism contract: the ACF inputs are nano-SNAPPED first (the
    one hash-fragile step), then the recursion runs in pure IEEE doubles
    with a generation-mirrored op order in both engines — every inner
    product is the same left-associated chain, every level materialized
    (Spark: chained selects on a ONE-row frame; DuckDB: chained
    MATERIALIZED CTEs, the CLAUDE.md inlining rule). Degenerate
    denominators (|1 - phi.r| = 0, a unit-root pathology) substitute 1
    identically on both sides. Lags beyond the observed span carry NULL
    through, never poisoning earlier levels.

    Scale: everything after acf_daily's bounded-series work happens on
    ONE row; the recursion is O(max_lag^2) scalar columns.
    """
    from functools import reduce
    from operator import add

    K = max_lag
    acf = acf_daily(events, max_lag=K)
    one = acf.groupBy().agg(
        *[
            F.max(
                F.when(
                    F.col("lag") == i,
                    F.round(F.col("acf") * F.lit(1e9), 0).cast("long"),
                )
            ).alias(f"rn_{i}")
            for i in range(1, K + 1)
        ]
    )
    df = one.select(
        *[
            (F.col(f"rn_{i}").cast("double") / F.lit(1e9)).alias(f"r_{i}")
            for i in range(1, K + 1)
        ]
    )
    df = df.select("*", F.col("r_1").alias("phi_1_1"))
    for k in range(2, K + 1):
        num = F.col(f"r_{k}") - reduce(
            add,
            [
                F.col(f"phi_{k - 1}_{j}") * F.col(f"r_{k - j}")
                for j in range(1, k)
            ],
        )
        den = F.lit(1.0) - reduce(
            add,
            [F.col(f"phi_{k - 1}_{j}") * F.col(f"r_{j}") for j in range(1, k)],
        )
        den_safe = F.when(den == F.lit(0.0), F.lit(1.0)).otherwise(den)
        df = df.select("*", (num / den_safe).alias(f"phi_{k}_{k}"))
        if k < K:
            df = df.select(
                "*",
                *[
                    (
                        F.col(f"phi_{k - 1}_{j}")
                        - F.col(f"phi_{k}_{k}") * F.col(f"phi_{k - 1}_{k - j}")
                    ).alias(f"phi_{k}_{j}")
                    for j in range(1, k)
                ],
            )
    out = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("lag"),
                        F.col(f"phi_{k}_{k}").alias("pacf"),
                    )
                    for k in range(1, K + 1)
                ]
            )
        ).alias("p")
    )
    return out.select("p.lag", "p.pacf").orderBy("lag")


# ---------------------------------------------------------------------------
# Periodogram at fixed candidate periods (injected trig literals)
# ---------------------------------------------------------------------------

PERIODOGRAM_PERIODS = (7, 14, 30)


def _trig_nano(p: int) -> tuple[list[int], list[int]]:
    """cos/sin(2 pi r / p) for r = 0..p-1 as nano literals — the angle
    domain of a FIXED period is its residue classes, so the only
    transcendentals are |p| Python-precomputed constants injected into
    both engines (the injected-constant convention)."""
    import math

    cos = [round(math.cos(2 * math.pi * r / p) * 1e9) for r in range(p)]
    sin = [round(math.sin(2 * math.pi * r / p) * 1e9) for r in range(p)]
    return cos, sin


def periodogram_daily(
    events: DataFrame, periods: tuple[int, ...] = PERIODOGRAM_PERIODS
) -> DataFrame:
    """Periodogram energy of the daily revenue series at fixed candidate
    periods — the frequency-domain member of the seasonality family:
    ``acf_daily`` shows lag correlation, this reports the FRACTION OF
    SERIES ENERGY concentrated at each candidate cycle,
    |Sum_t d_t e^{-2 pi i t/p}|^2 / (n Sum d_t^2) in [0, 1] by
    Cauchy-Schwarz — directly comparable across periods and corpora.

    Exact-to-hash: the series is mean-centered at scale n (d_t = n x_t -
    S, integers), cos/sin live on the residue classes of each period so
    they are Python-precomputed nano literals, and both DFT sums
    accumulate in decimal(38,0); the final squares/divides are mirrored
    IEEE doubles via the digit-split conversion.

    Scale: one corpus pass to the bounded daily table; the residue
    explode fans |periods|x over days only.
    """

    def d38(c):
        return c.cast("decimal(38,0)")

    daily = events.groupBy(_day_str().alias("day")).agg(
        F.floor(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double") * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("v_micro")
    )
    wg = Window.partitionBy()
    w = Window.orderBy("day")
    base = daily.select(
        F.row_number().over(w).cast("long").alias("t"),
        F.count("*").over(wg).cast("long").alias("n_days"),
        (d38(F.count("*").over(wg)) * F.col("v_micro") - d38(F.sum("v_micro").over(wg)))
        .cast("decimal(38,0)")
        .alias("d"),
    )
    den = base.select(
        "t",
        "n_days",
        "d",
        F.sum((d38(F.col("d")) * F.col("d")).cast("decimal(38,0)"))
        .over(wg)
        .cast("decimal(38,0)")
        .alias("den"),
    )
    structs = []
    for p in periods:
        cosl, sinl = _trig_nano(p)
        res = (F.col("t") - 1) % F.lit(p)
        cmap = F.create_map(*[F.lit(x) for r in range(p) for x in (r, cosl[r])])
        smap = F.create_map(*[F.lit(x) for r in range(p) for x in (r, sinl[r])])
        structs.append(
            F.struct(
                F.lit(p).cast("long").alias("period"),
                F.element_at(cmap, res.cast("int")).alias("cosn"),
                F.element_at(smap, res.cast("int")).alias("sinn"),
            )
        )
    exploded = den.select(
        "d", "den", "n_days", F.explode(F.array(*structs)).alias("s")
    )
    g = exploded.groupBy(F.col("s.period").alias("period")).agg(
        F.max("n_days").alias("n_days"),
        F.sum((d38(F.col("d")) * F.col("s.cosn")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("csum"),
        F.sum((d38(F.col("d")) * F.col("s.sinn")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("ssum"),
        F.max("den").alias("den"),
    )
    c_d = dec_to_double_exact(F.col("csum")) / F.lit(1e9)
    s_d = dec_to_double_exact(F.col("ssum")) / F.lit(1e9)
    den_d = dec_to_double_exact(
        F.greatest(F.col("den"), F.lit(1).cast("decimal(38,0)")).cast(
            "decimal(38,0)"
        )
    )
    return g.select(
        "period",
        "n_days",
        (
            (c_d * c_d + s_d * s_d)
            / (F.col("n_days").cast("double") * den_d)
        ).alias("energy_frac"),
    ).orderBy("period")


# ---------------------------------------------------------------------------
# Hill tail-index estimator (heavy-tail diagnostic)
# ---------------------------------------------------------------------------

HILL_TOP_K = 100


def hill_tail_index(events: DataFrame, k: int = HILL_TOP_K) -> DataFrame:
    """Hill estimator of the value distribution's tail index — the
    heavy-tail diagnostic the moments family cannot give
    (``moments_profile``'s kurtosis explodes exactly when it matters):
    1/alpha = mean of ln(x_(i)/x_(k+1)) over the top k order statistics.
    alpha <= 2 means infinite variance — the signal that switches
    downstream sizing from mean-based to quantile-based.

    Exact contract: order statistics come from one TakeOrdered top-(k+1)
    (micro values, ties broken by event_id), each log-excess is a
    difference of nano-snapped integer logs, and the mean is one
    integer-sum / (k * 1e9) divide. Emits the excess mean and alpha =
    its reciprocal (one more mirrored IEEE divide).

    Scale: TakeOrdered is a per-partition top-k + one k-row merge — no
    global sort; everything after runs on k+1 rows.
    """

    def lnn(c):
        return F.round(F.log(c.cast("double")) * F.lit(1e9), 0).cast("long")

    y = F.floor(F.col("value").cast("double") * F.lit(1e6) + F.lit(0.5)).cast(
        "long"
    )
    pos = events.select(y.alias("y"), "event_id").filter(F.col("y") > 0)
    top = (
        pos.orderBy(F.desc("y"), F.asc("event_id"))
        .limit(k + 1)
        .select("y", F.row_number().over(Window.orderBy(F.desc("y"), F.asc("event_id"))).cast("long").alias("r"))
    )
    ref = top.filter(F.col("r") == k + 1).select(
        F.col("y").alias("y_ref")
    )
    agg = (
        top.filter(F.col("r") <= k)
        .join(F.broadcast(ref))
        .agg(
            F.count("*").cast("long").alias("n_top"),
            F.max("y_ref").alias("x_ref_micro"),
            F.sum(lnn(F.col("y")) - lnn(F.col("y_ref")))
            .cast("long")
            .alias("excess_nano"),
        )
    )
    inv_alpha = F.col("excess_nano").cast("double") / (
        F.col("n_top").cast("double") * F.lit(1e9)
    )
    return (
        agg.filter((F.col("n_top") == k) & (F.col("excess_nano") > 0))
        .select(
            "n_top",
            "x_ref_micro",
            inv_alpha.alias("inv_alpha"),
            (F.lit(1.0) / inv_alpha).alias("alpha"),
        )
    )


# ---------------------------------------------------------------------------
# Experimentation pair: difference-in-differences + CUPED
# ---------------------------------------------------------------------------

def _median_day_cutoff(daily_days: DataFrame) -> DataFrame:
    """1-row (cutoff) frame: the last day of the first half of the
    observed distinct-day span — the deterministic pre/post split both
    experimentation ops share."""
    w = Window.orderBy("day")
    ranked = daily_days.select(
        "day",
        F.row_number().over(w).cast("long").alias("r"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("n"),
    )
    return ranked.filter(
        F.col("r") <= F.expr("n div 2")
    ).agg(F.max("day").alias("cutoff"))


def did_estimate(events: DataFrame) -> DataFrame:
    """Difference-in-differences on event values: treatment = ENTRY
    events, control = EXIT events, pre/post split at the midpoint of the
    observed day span — the canonical causal-effect estimate under the
    parallel-trends assumption, and the first table any experiment
    review asks for (four cell means and the DiD).

    Exactness: cell sums accumulate as DECIMAL(18,6) (order-free),
    counts as longs; the four means and the final double subtraction
    chain are mirrored IEEE ops via the exact-decimal-to-double cast
    (values bounded, so the decimal cast is lossless). The split day is
    a rank on DISTINCT days — data-determined but deterministic.

    Scale: one corpus pass with a broadcast 1-row cutoff; the aggregate
    has exactly 4 cells.
    """
    days = events.select(_day_str().alias("day")).distinct()
    cutoff = _median_day_cutoff(days)
    cells = (
        events.select(
            _day_str().alias("day"),
            F.col("event_type"),
            F.col("value").cast("decimal(18,6)").alias("v"),
        )
        .filter(F.col("event_type").isin(ENTRY_TYPE, EXIT_TYPE))
        .join(F.broadcast(cutoff))
        .select(
            (F.col("event_type") == ENTRY_TYPE).alias("treated"),
            (F.col("day") <= F.col("cutoff")).alias("pre"),
            "v",
        )
        .groupBy("treated", "pre")
        .agg(F.count("*").cast("long").alias("n"), F.sum("v").alias("s"))
    )
    agg = cells.agg(
        *[
            F.max(
                F.when(
                    (F.col("treated") == t) & (F.col("pre") == p), F.col("n")
                )
            ).alias(f"n_{'t' if t else 'c'}_{'pre' if p else 'post'}")
            for t in (True, False)
            for p in (True, False)
        ],
        *[
            F.max(
                F.when(
                    (F.col("treated") == t) & (F.col("pre") == p), F.col("s")
                )
            ).alias(f"s_{'t' if t else 'c'}_{'pre' if p else 'post'}")
            for t in (True, False)
            for p in (True, False)
        ],
    )

    def mean(tag):
        return F.col(f"s_{tag}").cast("double") / F.col(f"n_{tag}").cast(
            "double"
        )

    return agg.filter(
        (F.col("n_t_pre") > 0)
        & (F.col("n_t_post") > 0)
        & (F.col("n_c_pre") > 0)
        & (F.col("n_c_post") > 0)
    ).select(
        "n_t_pre",
        "n_t_post",
        "n_c_pre",
        "n_c_post",
        mean("t_pre").alias("mean_t_pre"),
        mean("t_post").alias("mean_t_post"),
        mean("c_pre").alias("mean_c_pre"),
        mean("c_post").alias("mean_c_post"),
        (
            (mean("t_post") - mean("t_pre"))
            - (mean("c_post") - mean("c_pre"))
        ).alias("did"),
    )


def cuped_adjustment(events: DataFrame) -> DataFrame:
    """CUPED variance-reduction audit: per-user pre-period value sums as
    the covariate X, post-period sums as the metric Y, theta =
    cov(X,Y)/var(X), and the achievable variance reduction rho^2 — the
    number that says how much smaller the experiment can be BEFORE
    anyone runs it (Deng et al. 2013, the industry-standard trick).

    Exactness: per-user sums in micro longs, the five moments (Sx, Sy,
    Sxx, Sxy, Syy) in decimal(38,0) in ONE aggregate, every emitted
    double built from digit-split conversions with a mirrored op chain.
    Users missing a side contribute zero for it (left-complete via the
    conditional sums — no join). Degenerate variances filter out.

    Scale: one corpus-volume groupBy on user_id (map-side combined),
    then a 1-row moments reduce.
    """

    def d38(c):
        return c.cast("decimal(38,0)")

    days = events.select(_day_str().alias("day")).distinct()
    cutoff = _median_day_cutoff(days)
    y = F.floor(F.col("value").cast("double") * F.lit(1e6) + F.lit(0.5)).cast(
        "long"
    )
    per_user = (
        events.select(_day_str().alias("day"), "user_id", y.alias("v"))
        .join(F.broadcast(cutoff))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("day") <= F.col("cutoff"), F.col("v")).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("day") > F.col("cutoff"), F.col("v")).otherwise(0))
            .cast("long")
            .alias("yv"),
        )
    )
    mom = per_user.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(d38(F.col("x"))).alias("sx"),
        F.sum(d38(F.col("yv"))).alias("sy"),
        F.sum(d38(F.col("x")) * d38(F.col("x"))).alias("sxx"),
        F.sum(d38(F.col("x")) * d38(F.col("yv"))).alias("sxy"),
        F.sum(d38(F.col("yv")) * d38(F.col("yv"))).alias("syy"),
    )
    n = d38(F.col("n_users"))
    cov = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("decimal(38,0)")
    vx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("decimal(38,0)")
    vy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("decimal(38,0)")
    theta = dec_to_double_exact(cov) / dec_to_double_exact(vx)
    rho2 = (
        dec_to_double_exact(cov)
        * dec_to_double_exact(cov)
        / (dec_to_double_exact(vx) * dec_to_double_exact(vy))
    )
    return mom.filter((vx > 0) & (vy > 0)).select(
        "n_users",
        theta.alias("theta"),
        rho2.alias("var_reduction"),
    )


def srm_check(events: DataFrame) -> DataFrame:
    """Sample-ratio-mismatch guardrail: assign every user to A/B by the
    engine-portable md5 bucket, then chi-square the observed split
    against 50/50 — the first check any experiment readout runs, because
    a biased assignment invalidates ``did_estimate``/``cuped_adjustment``
    before they are even computed. Here it doubles as a randomization
    audit of the hash itself on real ids.

    For two cells against an even split the statistic collapses to
    chi2 = (n_a - n_b)^2 / n, an exact rational — emitted as a half-up
    micro quotient (decimal floor-division), with the flag at the 3.841
    critical value (chi2_1, 5%) as an integer micro compare. No floats
    anywhere.

    Scale: one distinct-users pass (map-side combined) and a 2-key
    aggregate.
    """
    from inde1_spark.functions.exprs import dec_floordiv
    from inde1_spark.operators.text import hash_bucket

    def d38(c):
        return c.cast("decimal(38,0)")

    users = events.select("user_id").distinct()
    cells = users.select(
        hash_bucket(F.col("user_id"), 2).alias("arm")
    ).groupBy("arm").agg(F.count("*").cast("long").alias("n"))
    agg = cells.agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    diff = d38(F.col("n_a") - F.col("n_b"))
    n = d38(F.col("n_a") + F.col("n_b"))
    chi2_micro = dec_floordiv(
        (diff * diff * F.lit(1_000_000) * F.lit(2) + n).cast("decimal(38,0)"),
        (n * F.lit(2)).cast("decimal(38,0)"),
    ).cast("long")
    return agg.filter(F.col("n_a") + F.col("n_b") > 0).select(
        "n_a",
        "n_b",
        chi2_micro.alias("chi2_micro"),
        (chi2_micro > F.lit(3_841_459)).alias("srm_flag"),  # chi2_1 5% crit
    )


# Experimentation sizing literals: z_{0.975} and z_{0.80} nano-snapped
# (Python-precomputed; the injected-constant convention).
Z975_NANO = 1959963985
Z80_NANO = 841621234


def power_mde_plan(events: DataFrame) -> DataFrame:
    """Minimum-detectable-effect planner: given the MEASURED per-user
    metric variance (the CUPED covariate machinery) and candidate
    per-arm sample sizes, the absolute MDE at 5%/80% — the "how long
    must this experiment run" table, computed from the corpus itself
    instead of a guess.

    MDE(n) = (z_0.975 + z_0.80) * sqrt(2 s^2 / n): the z-sum is an exact
    injected nano constant, s^2 comes from one decimal moments pass
    over per-user metric sums (sample variance, n-1 denominator), and
    the per-candidate sqrt/multiply chain is mirrored IEEE. Candidate
    sizes are fixed powers of ten — the planner's job is the ORDER of
    magnitude.

    Scale: one corpus-volume per-user reduce + a 1-row moments frame
    fanned to |candidates| rows.
    """

    def d38(c):
        return c.cast("decimal(38,0)")

    y = F.floor(F.col("value").cast("double") * F.lit(1e6) + F.lit(0.5)).cast(
        "long"
    )
    per_user = events.groupBy("user_id").agg(
        F.sum(y).cast("long").alias("m")
    )
    mom = per_user.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(d38(F.col("m"))).alias("s1"),
        F.sum(d38(F.col("m")) * d38(F.col("m"))).alias("s2"),
    )
    n = d38(F.col("n_users"))
    varnum = (n * F.col("s2") - F.col("s1") * F.col("s1")).cast(
        "decimal(38,0)"
    )
    # sample variance in micro^2 units: varnum / (n (n-1))
    s2_d = dec_to_double_exact(varnum) / (
        F.col("n_users").cast("double")
        * (F.col("n_users") - 1).cast("double")
    )
    zsum = F.lit((Z975_NANO + Z80_NANO) / 1e9)
    sized = mom.filter(F.col("n_users") > 1).filter(varnum > 0).select(
        "n_users",
        s2_d.alias("var_metric"),
        F.explode(
            F.array(*[F.lit(c).cast("long") for c in (100, 1000, 10000, 100000)])
        ).alias("n_per_arm"),
    )
    return sized.select(
        "n_users",
        "var_metric",
        "n_per_arm",
        (
            zsum
            * F.sqrt(
                F.lit(2.0) * F.col("var_metric")
                / F.col("n_per_arm").cast("double")
            )
            / F.lit(1e6)
        ).alias("mde_value_units"),
    ).orderBy("n_per_arm")


def wilson_intervals(events: DataFrame) -> DataFrame:
    """Per-day Wilson 95% score interval for the entry share — the
    binomial-proportion CI that stays inside [0,1] and behaves at small
    n where the textbook Wald interval collapses; the uncertainty band
    every rate dashboard should draw around ``entry_exit_ratio``.

    z is the injected nano literal (Z975_NANO); p-hat and every interval
    term are mirrored IEEE doubles over exact integer counts — the
    center (p + z^2/2n)/(1 + z^2/n) and half-width
    z*sqrt(p(1-p)/n + z^2/4n^2)/(1 + z^2/n) computed in the same
    left-associated order in both engines.

    Scale: one corpus-volume daily conditional agg; everything after is
    row-local on bounded days.
    """
    daily = events.groupBy(_day_str().alias("day")).agg(
        F.sum(F.when(F.col("event_type") == ENTRY_TYPE, 1).otherwise(0))
        .cast("long")
        .alias("n_entry"),
        F.sum(
            F.when(F.col("event_type").isin(ENTRY_TYPE, EXIT_TYPE), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_total"),
    ).filter(F.col("n_total") > 0)
    z = F.lit(Z975_NANO / 1e9)
    n = F.col("n_total").cast("double")
    p = F.col("n_entry").cast("double") / n
    z2n = z * z / n
    denom = F.lit(1.0) + z2n
    center = (p + z2n / F.lit(2.0)) / denom
    half = (
        z
        * F.sqrt(p * (F.lit(1.0) - p) / n + z2n / (F.lit(4.0) * n))
        / denom
    )
    return daily.select(
        "day",
        "n_entry",
        "n_total",
        p.alias("p_hat"),
        (center - half).alias("ci_lo"),
        (center + half).alias("ci_hi"),
    ).orderBy("day")


PEAK_HALF_WINDOW = 3


def peak_detection(events: DataFrame, half_window: int = PEAK_HALF_WINDOW) -> DataFrame:
    """Local-peak detection on the daily event-count series: a day is a
    peak when it strictly exceeds EVERY other day in its +/-half_window
    neighborhood and the neighborhood mean — the deterministic integer
    form of scipy-style find_peaks, feeding the burst/changepoint family
    with WHERE the spikes are rather than whether drift exists.

    "Strictly exceeds every neighbor" is spelled x > max(left frame,
    right frame) — max-excluding-self from two side frames, because a
    window aggregate over a derived column binds per INNER row, so the
    naive count-of-window-max formulation silently tests each neighbor
    against ITS OWN window. The mean test is the cross-multiplied
    integer compare x * n_win > sum_win (no division). Window edges
    shrink identically at the series boundary in both engines.

    Scale: one corpus pass to days; three bounded windows.
    """
    daily = events.groupBy(_day_str().alias("day")).agg(
        F.count("*").cast("long").alias("x")
    )
    wl = Window.orderBy("day").rowsBetween(-half_window, -1)
    wr = Window.orderBy("day").rowsBetween(1, half_window)
    wf = Window.orderBy("day").rowsBetween(-half_window, half_window)
    neg1 = F.lit(-1).cast("long")
    base = daily.select(
        "day",
        "x",
        F.greatest(
            F.coalesce(F.max("x").over(wl), neg1),
            F.coalesce(F.max("x").over(wr), neg1),
        ).alias("neigh_max"),
        F.sum("x").over(wf).cast("long").alias("w_sum"),
        F.count("*").over(wf).cast("long").alias("n_win"),
    )
    return base.select(
        "day",
        "x",
        "n_win",
        (
            (F.col("x") > F.col("neigh_max"))
            & (F.col("x") * F.col("n_win") > F.col("w_sum"))
        ).alias("is_peak"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Expected hitting time to a target state (horizon-truncated)
# ---------------------------------------------------------------------------

HITTING_TARGET = "purchase"
HITTING_HORIZON = 12  # lazy-checkpoint chains re-analyze superlinearly past ~15 rounds
HITTING_HORIZON_MAX = 15  # hard cap: a ValueError beats a 5-min analyzer stall


def hitting_time_markov(
    events: DataFrame,
    target: str = HITTING_TARGET,
    horizon: int = HITTING_HORIZON,
) -> DataFrame:
    """Expected number of steps to reach the target event type from each
    behavior state, truncated at a fixed horizon — the actionable form
    of the Markov family: ``markov_stationary`` says where users END UP,
    this says HOW FAR each state is from conversion (the fundamental-
    matrix quantity (I-Q)^-1 1, computed as the monotone iteration
    t <- 1 + Q t unrolled ``horizon`` times; truncation makes never-
    converting mass contribute at most the horizon instead of
    diverging — the horizon is part of the metric's definition, and 12
    rounds bound the expectation within ~1% on chains whose per-step
    conversion hazard exceeds ~25%).

    The pagerank/markov nano-long contract: t lives in nano steps, each
    per-edge transfer (t(v) * c) div tot is an exact integer, and the
    chained plan stays LINEAR (one CTE per round in the oracle, one
    join per round here). Dead-end states contribute 0 beyond their
    single step (right-censored, documented).

    Scale: one corpus window pass to the <=|types|^2 edge matrix; each
    round is a bounded-matrix join. Horizon is capped at 15: the lazy-
    checkpoint chain re-analyzes superlinearly past ~15 rounds (measured
    cliff: ~20 s at 12 rounds vs >300 s at 30) — a clear error beats a
    5-minute analyzer stall (r06 verdict item 4).
    """
    if horizon > HITTING_HORIZON_MAX:
        raise ValueError(
            f"hitting_time_markov: horizon={horizon} exceeds the supported "
            f"maximum {HITTING_HORIZON_MAX}. Plan re-analysis of the "
            "unrolled iteration chain goes superlinear past ~15 rounds "
            "(measured: ~20 s at 12, >300 s at 30); the truncated-horizon "
            "metric is defined at horizon<=15. For longer horizons, "
            "materialize intermediate rounds to a table instead."
        )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    pairs = events.select(
        "user_id",
        F.col("event_type").alias("u"),
        F.lead("event_type").over(w).alias("v"),
    ).filter(F.col("v").isNotNull())
    edges = pairs.groupBy("u", "v").agg(F.count("*").cast("long").alias("c"))
    rowtot = edges.groupBy("u").agg(F.sum("c").cast("long").alias("tot"))
    states = (
        edges.select(F.col("u").alias("s"))
        .union(edges.select(F.col("v").alias("s")))
        .distinct()
    )

    em = persist(edges.join(rowtot, "u"))
    t = states.select("s", F.lit(0).cast("long").alias("t_nano"))
    for _ in range(horizon):
        inc = (
            em.join(t.select(F.col("s").alias("v"), "t_nano"), "v")
            .select(
                F.col("u").alias("s"),
                F.expr("(t_nano * c) div tot").alias("m"),
            )
            .groupBy("s")
            .agg(F.sum("m").cast("long").alias("m_nano"))
        )
        tq = str(target).replace("'", "''")
        t = lazy_checkpoint(
            states.join(inc, "s", "left").selectExpr(
                "s",
                f"CASE WHEN s = '{tq}' THEN 0L ELSE 1000000000 "
                "+ coalesce(m_nano, 0L) END AS t_nano",
            ),
            adaptive=False,
        )
    return (
        t.join(rowtot.select(F.col("u").alias("s"), "tot"), "s", "left")
        .select(
            F.col("s").alias("state"),
            F.coalesce(F.col("tot"), F.lit(0).cast("long")).alias(
                "n_out_transitions"
            ),
            (F.col("t_nano").cast("double") / F.lit(1e9)).alias(
                "expected_steps"
            ),
        )
        .orderBy("state")
    )


# ---------------------------------------------------------------------------
# Dynamic time warping between the entry and exit daily series
# ---------------------------------------------------------------------------

DTW_BAND = 7          # Sakoe-Chiba band half-width (days)
DTW_INF = 10**17      # unreachable-cell sentinel, far above any real path


def dtw_entry_exit(
    events: DataFrame,
    band: int = DTW_BAND,
    max_fold_cells: int = MAX_FOLD_CELLS,
) -> DataFrame:
    """Dynamic time warping distance between the daily ENTRY and EXIT
    count series — the elastic-alignment answer to "does exit volume
    follow entry volume, and with how much temporal slack", where
    ``cross_correlation_lagged`` can only test FIXED lags. The
    Sakoe-Chiba band (|i-j| <= band) is both the standard constraint
    and the scale bound: O(n * band) cells instead of O(n^2).

    The DP is sequential, so it runs by the packed-fold recipe on the
    BOUNDED cell list (one row): the accumulator carries the previous
    and current band rows as arrays, every cell does
    cost + min(up, diag, left) in exact integers, out-of-band lookups
    read as NULL and coalesce to the DTW_INF sentinel (identical
    list-index-out-of-bounds semantics in both engines: Spark 0-based
    ``get``, DuckDB 1-based ``list[i]``). DuckDB replays the same fold
    as a list-carrying recursive CTE, one round per cell.

    Scale: one corpus pass to the daily grid; the fold is O(n * band)
    interpreted steps on one executor — n here is DAYS, not rows.
    """
    w = band
    daily = events.groupBy(_day_str().alias("day")).agg(
        F.sum(F.when(F.col("event_type") == ENTRY_TYPE, 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(F.col("event_type") == EXIT_TYPE, 1).otherwise(0))
        .cast("long")
        .alias("b"),
    )
    idx = daily.select(
        "a", "b", F.row_number().over(Window.orderBy("day")).cast("long").alias("i")
    )
    x = idx.select(F.col("i").alias("xi"), F.col("a").alias("xa"))
    y = idx.select(F.col("i").alias("yi"), F.col("b").alias("yb"))
    cells = (
        x.join(
            y,
            (F.col("yi") >= F.col("xi") - w) & (F.col("yi") <= F.col("xi") + w),
        )
        .select(
            F.col("xi").alias("i"),
            F.col("yi").alias("j"),
            F.abs(F.col("xa") - F.col("yb")).alias("cost"),
        )
    )
    packed = cells.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("i"), F.col("j"), F.col("cost")))
        ).alias("arr"),
        F.max("i").cast("long").alias("n_days"),
    ).filter(F.size("arr") > 0)

    INF = F.lit(DTW_INF).cast("long")
    row0 = F.concat(
        F.array_repeat(INF, w), F.array(F.lit(0).cast("long")), F.array_repeat(INF, w)
    )
    init = F.struct(
        F.lit(1).cast("long").alias("last_i"),
        row0.alias("prev"),
        F.array_repeat(INF, w).alias("cur"),
    )

    def step(acc, e):
        row_change = e["i"] != acc["last_i"]
        prev2 = F.when(row_change, acc["cur"]).otherwise(acc["prev"])
        kst = F.greatest(F.lit(w) - e["i"] + 1, F.lit(0)).cast("int")
        cur0 = F.when(row_change, F.array_repeat(INF, kst)).otherwise(
            acc["cur"]
        )
        k = (e["j"] - e["i"] + F.lit(w)).cast("int")
        up = F.coalesce(F.get(prev2, k + 1), INF)
        diag = F.coalesce(F.get(prev2, k), INF)
        left = F.when(
            k > 0, F.coalesce(F.get(cur0, k - 1), INF)
        ).otherwise(INF)
        d = e["cost"] + F.least(up, diag, left)
        return F.struct(
            e["i"].alias("last_i"),
            prev2.alias("prev"),
            F.concat(cur0, F.array(d)).alias("cur"),
        )

    folded = packed.select(
        "n_days",
        F.aggregate(
            _guard_fold_cells(F.col("arr"), "dtw_entry_exit", max_fold_cells),
            init,
            step,
        )["cur"].alias("last_row"),
    )
    dtw = F.get(F.col("last_row"), w)  # 0-based position w == offset k=w (j=n)
    return folded.select(
        "n_days",
        dtw.alias("dtw_distance"),
        (dtw.cast("double") / F.col("n_days").cast("double")).alias(
            "dtw_per_day"
        ),
    )


def dispersion_check(events: DataFrame) -> DataFrame:
    """Overdispersion check per event type: the variance-to-mean ratio of
    DAILY counts — the one-number decision between Poisson and
    negative-binomial modeling (VMR ~ 1 = Poisson-like arrivals; >> 1 =
    clumped traffic that will blow the CIs of any Poisson-based alert,
    including ``cusum_drift``'s threshold intuition).

    Exact moments: per-(type, day) counts, then per-type n/sum/sum-sq in
    decimal(38,0); VMR emits as one mirrored double chain
    (n * ss - s^2) / (n - 1) / s with the exact-decimal digit-split
    conversions. Types observed on fewer than 2 days filter out.

    Scale: one corpus-volume (type, day) reduce, then |types| rows.
    """

    def d38(c):
        return c.cast("decimal(38,0)")

    daily = events.groupBy("event_type", _day_str().alias("day")).agg(
        F.count("*").cast("long").alias("x")
    )
    g = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(d38(F.col("x"))).alias("s"),
        F.sum(d38(F.col("x")) * d38(F.col("x"))).alias("ss"),
    )
    varnum = (
        d38(F.col("n_days")) * F.col("ss") - F.col("s") * F.col("s")
    ).cast("decimal(38,0)")
    vmr = (
        dec_to_double_exact(varnum)
        / (F.col("n_days") - 1).cast("double")
        / F.col("n_days").cast("double")
        / (dec_to_double_exact(F.col("s")) / F.col("n_days").cast("double"))
    )
    return (
        g.filter((F.col("n_days") > 1) & (F.col("s") > 0))
        .select(
            "event_type",
            "n_days",
            F.col("s").cast("long").alias("total_events"),
            vmr.alias("vmr"),
            (vmr > F.lit(1.5)).alias("overdispersed"),
        )
        .orderBy("event_type")
    )


def friedman_test(events: DataFrame) -> DataFrame:
    """Friedman test: do the event types differ when ranked WITHIN each
    day? The blocked-design member of the k-sample family —
    ``kruskal_wallis`` pools all days (so a day-of-week effect inflates
    its variance); Friedman ranks types per day, removing every
    between-day effect, which is the right test when the blocks (days)
    are themselves wildly different sizes.

    Complete blocks only (days where every globally-observed type
    appears — the standard requirement, enforced identically in both
    engines). Within-day tied ranks at x2 scale come from two window
    aggregates (RANGE cumulative for <=, a (day, value) partition count
    for ties); Q = 3 * Sum R2_j^2 / (n k (k+1)) - 3 n (k+1) is an exact
    micro quotient; the tie correction 1 - Sum(t^3-t)/(n k (k^2-1))
    divides once in mirrored doubles.

    Scale: one corpus-volume (day, type) reduce; every window runs on
    |days| x |types| rows.
    """
    from inde1_spark.functions.exprs import dec_floordiv

    def d38(c):
        return c.cast("decimal(38,0)")

    cell = events.groupBy(_day_str().alias("day"), "event_type").agg(
        F.count("*").cast("long").alias("x")
    )
    ktot = events.agg(
        F.countDistinct("event_type").cast("long").alias("k")
    )
    wd = Window.partitionBy("day")
    complete = (
        cell.join(F.broadcast(ktot))
        .withColumn("k_day", F.count("*").over(wd).cast("long"))
        .filter(F.col("k_day") == F.col("k"))
    )
    w_le = (
        Window.partitionBy("day")
        .orderBy("x")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    w_eq = Window.partitionBy("day", "x")

    # persisted: the bounded ranked cell table feeds per-type sums AND the
    # tie term — without it both replay the corpus (day, type) reduce
    ranked = persist(complete.select(
        "day",
        "event_type",
        "x",
        "k",
        F.count("*").over(w_le).cast("long").alias("cum_le"),
        F.count("*").over(w_eq).cast("long").alias("eq"),
    ).select(
        "day",
        "event_type",
        "k",
        "eq",
        (
            F.lit(2) * (F.col("cum_le") - F.col("eq"))
            + F.col("eq")
            + F.lit(1)
        ).alias("rank2"),
    ))
    per_type = ranked.groupBy("event_type").agg(
        F.max("k").alias("k"),
        F.count("*").cast("long").alias("n_blocks"),
        F.sum("rank2").cast("long").alias("r2"),
    )
    # tie term: one row per (day, value) tied block
    ties = (
        ranked.groupBy("day", "rank2", "eq")
        .agg(F.max("eq").alias("m"))
        .agg(
            F.sum(
                d38(F.col("m")) * d38(F.col("m")) * d38(F.col("m"))
                - d38(F.col("m"))
            ).alias("tie_sum")
        )
    )
    agg = per_type.agg(
        F.max("k").alias("k"),
        F.max("n_blocks").cast("long").alias("n_blocks"),
        F.sum(d38(F.col("r2")) * d38(F.col("r2"))).alias("s2"),
    ).join(F.broadcast(ties))
    n = F.col("n_blocks")
    k = F.col("k")
    den = (d38(n) * d38(k) * d38(k + 1)).cast("decimal(38,0)")
    q_micro = dec_floordiv(
        (F.lit(3) * F.col("s2") * F.lit(1_000_000) * F.lit(2) + den).cast(
            "decimal(38,0)"
        ),
        (den * F.lit(2)).cast("decimal(38,0)"),
    )
    q_stat = (
        dec_to_double_exact(q_micro.cast("decimal(38,0)")) / F.lit(1e6)
        - F.lit(3.0)
        * n.cast("double")
        * (k + 1).cast("double")
    )
    tie_c = F.lit(1.0) - dec_to_double_exact(F.col("tie_sum")) / (
        n.cast("double")
        * k.cast("double")
        * (k * k - 1).cast("double")
    )
    return (
        agg.filter((n > 0) & (k > 1))
        .select(
            n.alias("n_blocks"),
            k.alias("k_treatments"),
            q_stat.alias("q_stat"),
            tie_c.alias("tie_correction"),
            (q_stat / tie_c).alias("q_tied"),
        )
        .filter(F.col("tie_correction") > 0)
    )


# chi2_{0.95, df=14} — Python-precomputed literal (ACF_MAX_LAG degrees)
LJUNG_BOX_CRIT = 23.684791304840576


def ljung_box(events: DataFrame, max_lag: int = ACF_MAX_LAG) -> DataFrame:
    """Ljung-Box whiteness test over the daily revenue ACF — the omnibus
    "is there ANY autocorrelation" gate completing the lag triple
    (``acf_daily`` per-lag, ``pacf_daily`` AR order, this one number):
    Q = n(n+2) Sum_k r_k^2/(n-k), chi-square with max_lag df. Run it
    BEFORE trusting any i.i.d.-assuming interval (bootstrap, Wilson,
    MDE sizing) on daily aggregates.

    Hash-exact accumulation: each r_k snaps to nano first, each
    SUMMAND r^2/(n-k) snaps to an atto-long (1e18 — r^2 <= 1, so no
    overflow at any lag count under ~9e18), the sum is integer
    (order-free), and Q is one mirrored double chain; the rejection
    flag compares against the injected chi-square critical literal.
    Lags beyond the observed span (NULL acf) contribute nothing.

    Scale: everything after acf_daily's bounded-series work is a
    |max_lag|-row reduce.
    """
    acf = acf_daily(events, max_lag=max_lag)
    rn = F.round(F.col("acf") * F.lit(1e9), 0).cast("long")
    rd = rn.cast("double") / F.lit(1e9)
    term_atto = F.round(
        rd * rd / (F.col("n_days") - F.col("lag")).cast("double") * F.lit(1e18),
        0,
    ).cast("long")
    agg = acf.filter(F.col("acf").isNotNull()).agg(
        F.max("n_days").alias("n_days"),
        F.count("*").cast("long").alias("n_lags"),
        F.sum(term_atto).cast("long").alias("s_atto"),
    )
    n_d = F.col("n_days").cast("double")
    q = (
        n_d
        * (n_d + F.lit(2.0))
        * (F.col("s_atto").cast("double") / F.lit(1e18))
    )
    return agg.filter(F.col("n_days") > F.col("n_lags")).select(
        "n_days",
        "n_lags",
        q.alias("q_lb"),
        (q > F.lit(LJUNG_BOX_CRIT)).alias("white_noise_rejected"),
    )


# ---------------------------------------------------------------------------
# r07 batch A: randomness / rate / outlier statistics on the daily grid
# ---------------------------------------------------------------------------


def turning_points_test(events: DataFrame) -> DataFrame:
    """Turning-points test of the daily revenue series — the third
    member of the randomness tier (``runs_test`` checks level clustering,
    ``mann_kendall`` monotone drift): a local max/min count that is
    sensitive to smoothness — too FEW turning points means momentum
    (trend/AR structure), too many means oscillation — with the exact
    null moments E[T] = 2(n-2)/3, Var[T] = (16n-29)/90.

    Strict extrema only (a tie with either neighbor is not a turning
    point — exact integer comparisons on the micro-long series, no
    epsilon). E, Var, z are doubles built from exact longs in one
    mirrored chain; n < 3 emits nothing.

    Scale: one corpus-volume day reduce; lag/lead ride the bounded
    daily series.
    """
    daily = events.groupBy(_day_str().alias("day")).agg(
        F.floor(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double") * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("v")
    )
    w = Window.orderBy("day")
    trip = daily.select(
        F.lag("v").over(w).alias("p"),
        F.col("v").alias("c"),
        F.lead("v").over(w).alias("nx"),
    ).filter(F.col("p").isNotNull() & F.col("nx").isNotNull())
    agg = trip.agg(
        (F.count("*") + F.lit(2)).cast("long").alias("n_days"),
        F.sum(
            F.when(
                ((F.col("p") < F.col("c")) & (F.col("nx") < F.col("c")))
                | ((F.col("p") > F.col("c")) & (F.col("nx") > F.col("c"))),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_turning"),
    ).filter(F.col("n_days") >= 3)
    n = F.col("n_days").cast("double")
    e_t = F.lit(2.0) * (n - F.lit(2.0)) / F.lit(3.0)
    var_t = (F.lit(16.0) * n - F.lit(29.0)) / F.lit(90.0)
    z = F.when(var_t <= 0, F.lit(0.0)).otherwise(
        (F.col("n_turning").cast("double") - e_t) / F.sqrt(var_t)
    )
    return agg.select(
        "n_days",
        "n_turning",
        e_t.alias("expected_turning"),
        z.alias("z"),
        (F.abs(z) > F.lit(1.96)).alias("nonrandom_5pct"),
    )


def bartels_rank_vn(events: DataFrame) -> DataFrame:
    """Bartels' rank von Neumann ratio on the daily revenue series — the
    rank-based successor-difference randomness test: RVN near 2 is
    random, << 2 means neighboring days have similar ranks (trend /
    positive autocorrelation), >> 2 alternation. More powerful than
    ``runs_test`` against smooth trends because it uses full rank
    information, not one bit per day.

    Deviation from textbook mid-ranks, by design: ranks are
    ``row_number`` over (value, day) — a deterministic total order (the
    W5 tie-break convention) instead of engine-ambiguous average ranks;
    micro-long daily revenues make ties measure-zero anyway. NM and the
    denominator n(n^2-1)/12 are exact integers; RVN and the
    z = (RVN-2)/sqrt(20/(5n+7)) approximation run in one mirrored
    double chain. n < 2 emits nothing.

    Scale: one corpus-volume day reduce; ranking rides the bounded
    daily series.
    """
    daily = events.groupBy(_day_str().alias("day")).agg(
        F.floor(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double") * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("v")
    )
    ranked = daily.select(
        "day",
        F.row_number().over(Window.orderBy("v", "day")).cast("long").alias("r"),
    )
    w = Window.orderBy("day")
    diffs = ranked.select(
        F.col("r"),
        (F.col("r") - F.lead("r").over(w)).alias("d"),
    )
    agg = diffs.agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("nm"),
    ).filter(F.col("n_days") >= 2)
    n = F.col("n_days").cast("double")
    den = n * (n * n - F.lit(1.0)) / F.lit(12.0)
    rvn = F.col("nm").cast("double") / den
    z = (rvn - F.lit(2.0)) / F.sqrt(F.lit(20.0) / (F.lit(5.0) * n + F.lit(7.0)))
    return agg.select(
        "n_days",
        "nm",
        rvn.alias("rvn"),
        z.alias("z"),
        F.when(z < F.lit(-1.96), F.lit("trend"))
        .when(z > F.lit(1.96), F.lit("oscillation"))
        .otherwise(F.lit("random"))
        .alias("verdict"),
    )


def poisson_rate_ci(events: DataFrame) -> DataFrame:
    """Per-type daily arrival rate with a normal-approximation Poisson
    CI — the "is this stream's intensity X ± what" number that sizing
    decisions (capacity, alert thresholds, sample budgets) read
    directly; the CI width is the whole point at small counts where the
    raw rate looks deceptively precise.

    rate = n / D over the GLOBAL observed-day count D (types share the
    calendar; a type absent on some days has genuinely lower daily
    rate); se = sqrt(n)/D — sqrt is IEEE-correctly-rounded in both
    engines, and n, D < 2^53 convert exactly, so the chain is two exact
    conversions, one sqrt, and mirrored arithmetic. ci_lo clamps at 0.

    Scale: one corpus-volume (type) reduce + one distinct-day count.
    """
    days = events.select(_day_str().alias("day")).distinct().agg(
        F.count("*").cast("long").alias("n_days")
    )
    per = events.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events")
    )
    joined = per.join(F.broadcast(days))
    n = F.col("n_events").cast("double")
    d = F.col("n_days").cast("double")
    rate = n / d
    se = F.sqrt(n) / d
    return joined.select(
        "event_type",
        "n_events",
        "n_days",
        rate.alias("rate_per_day"),
        F.greatest(rate - F.lit(1.96) * se, F.lit(0.0)).alias("ci_lo"),
        (rate + F.lit(1.96) * se).alias("ci_hi"),
    ).orderBy("event_type")


def grubbs_daily_outlier(events: DataFrame) -> DataFrame:
    """Grubbs-style maximum studentized deviation of the daily revenue
    series: WHICH day is the single most extreme against the whole
    series, and is it extreme enough to investigate — the named-culprit
    complement to ``zscore_anomaly`` (which flags many) and
    ``changepoint_meanshift`` (which finds level shifts, not spikes).

    Exact argmax: deviations |n*v_t - S| are exact longs (the n-scaling
    trick), ties break to the earliest day. G = max|v - mean| / s uses
    the decimal moment identity n*SS - S^2 with the digit-split exact
    conversions, variance clamped at 0; a constant series (s = 0)
    emits G = 0. The 3.0 flag threshold is the usual rule-of-thumb
    critical value, injected as the same literal in both engines.

    Scale: one corpus-volume day reduce; the argmax rides the bounded
    daily series.
    """
    from inde1_spark.functions.exprs import dec_to_double_exact

    def d38(c):
        return c.cast("decimal(38,0)")

    daily = events.groupBy(_day_str().alias("day")).agg(
        F.floor(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double") * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("v")
    )
    wg = Window.partitionBy()
    scored = daily.select(
        "day",
        "v",
        F.count("*").over(wg).cast("long").alias("n_days"),
        F.sum("v").over(wg).cast("long").alias("s"),
        F.sum(d38(F.col("v")) * d38(F.col("v"))).over(wg).alias("ss"),
        F.abs(
            d38(F.count("*").over(wg)) * d38(F.col("v"))
            - d38(F.sum("v").over(wg))
        ).alias("dev"),
    )
    top = scored.orderBy(F.col("dev").desc(), F.col("day").asc()).limit(1)
    n = F.col("n_days").cast("double")
    var_num = (
        d38(F.col("n_days")) * F.col("ss").cast("decimal(38,0)")
        - d38(F.col("s")) * d38(F.col("s"))
    ).cast("decimal(38,0)")
    dev_d = dec_to_double_exact(F.col("dev").cast("decimal(38,0)"))
    var_d = F.greatest(dec_to_double_exact(var_num), F.lit(0.0))
    # G = (|n v - S| / n) / sqrt(var_num / (n^2 (n-1))) spelled to divide
    # exact doubles once each: dev / sqrt(var_num * (n-1)) * sqrt... keep
    # the simple mirrored chain instead:
    s_pooled = F.sqrt(
        var_d / (n * n * F.greatest(n - F.lit(1.0), F.lit(1.0)))
    )
    g = F.when(s_pooled <= 0, F.lit(0.0)).otherwise(
        dev_d / n / s_pooled
    )
    return top.filter(F.col("n_days") >= 2).select(
        "n_days",
        F.col("day").alias("peak_day"),
        (F.col("v").cast("double") / F.lit(1e6)).alias("day_revenue"),
        g.alias("g_stat"),
        (g > F.lit(3.0)).alias("outlier_3sigma"),
    )


def odds_ratio_daily(events: DataFrame) -> DataFrame:
    """Weekend-vs-weekday odds ratio of the entry/exit mix with a Woolf
    (log-OR) confidence interval — the 2x2 effect-size reading of the
    weekly cycle: "the odds an event is an ENTRY are X times higher on
    weekends", with a CI that says whether the effect survives noise.
    ``chi2_independence`` tests the same table but only answers
    "dependent or not"; the OR is the magnitude.

    Add-one smoothing on all four cells (keeps every log argument a
    POSITIVE INTEGER and the estimator finite — the Haldane correction
    in integer-friendly form). log OR is a sum of four micro-snapped
    integer logs (the _log_scaled convention); the raw OR converts the
    exact decimal products a*d / b*c via digit-split; the Woolf SE is
    four exact-long reciprocals summed left-associatively. Weekend =
    Saturday/Sunday (Spark dayofweek 1/7 == DuckDB dayofweek 0/6).

    Scale: one corpus-volume conditional-count pass; everything after is
    one row.
    """
    from inde1_spark.functions.exprs import dec_to_double_exact

    def d38(c):
        return c.cast("decimal(38,0)")

    wk = F.dayofweek("ts").isin(1, 7)
    cells = events.filter(
        F.col("event_type").isin(ENTRY_TYPE, EXIT_TYPE)
    ).agg(
        (
            F.sum(F.when(wk & (F.col("event_type") == ENTRY_TYPE), 1).otherwise(0))
            + F.lit(1)
        )
        .cast("long")
        .alias("a"),
        (
            F.sum(F.when(wk & (F.col("event_type") == EXIT_TYPE), 1).otherwise(0))
            + F.lit(1)
        )
        .cast("long")
        .alias("b"),
        (
            F.sum(
                F.when(~wk & (F.col("event_type") == ENTRY_TYPE), 1).otherwise(0)
            )
            + F.lit(1)
        )
        .cast("long")
        .alias("c"),
        (
            F.sum(
                F.when(~wk & (F.col("event_type") == EXIT_TYPE), 1).otherwise(0)
            )
            + F.lit(1)
        )
        .cast("long")
        .alias("d"),
    )

    def lmicro(c):
        return F.round(F.log(c.cast("double")) * F.lit(1e6), 0).cast("long")

    lor_micro = lmicro(F.col("a")) - lmicro(F.col("b")) - lmicro(
        F.col("c")
    ) + lmicro(F.col("d"))
    log_or = lor_micro.cast("double") / F.lit(1e6)
    odds = dec_to_double_exact(
        (d38(F.col("a")) * d38(F.col("d"))).cast("decimal(38,0)")
    ) / dec_to_double_exact((d38(F.col("b")) * d38(F.col("c"))).cast("decimal(38,0)"))
    se = F.sqrt(
        F.lit(1.0) / F.col("a").cast("double")
        + F.lit(1.0) / F.col("b").cast("double")
        + F.lit(1.0) / F.col("c").cast("double")
        + F.lit(1.0) / F.col("d").cast("double")
    )
    lo = log_or - F.lit(1.96) * se
    hi = log_or + F.lit(1.96) * se
    return cells.select(
        F.col("a").alias("n_weekend_entry"),
        F.col("b").alias("n_weekend_exit"),
        F.col("c").alias("n_weekday_entry"),
        F.col("d").alias("n_weekday_exit"),
        odds.alias("odds_ratio"),
        log_or.alias("log_or"),
        se.alias("se_log_or"),
        lo.alias("ci_lo"),
        hi.alias("ci_hi"),
        ((lo > 0) | (hi < 0)).alias("significant_5pct"),
    )


# ---------------------------------------------------------------------------
# r07 batch B: blocked / k-sample / causal daily-series tests
# ---------------------------------------------------------------------------


def mood_median_test(events: DataFrame) -> DataFrame:
    """Mood's median test across event types on the per-(type, day)
    revenue cells — the robust k-sample location test that only asks
    "is each type's daily revenue above or below the GRAND median":
    immune to outliers and unequal variances where ``kruskal_wallis``
    (full ranks) and ``anova_oneway`` (means) are not, which is exactly
    the check you want when one type has heavy-tailed revenue days.

    Exact split point: the grand LOWER median of the micro-long cells —
    the ((n+1) div 2)-th value in the (v, type, day) total order, an
    integer comparison with no quantile-definition ambiguity. Per-type
    chi-square contributions ((a_j - e_j)^2/e_j + same for below) use
    exact-conversion doubles, nano-snap each bounded-table term, and
    integer-sum the snaps (cross-engine sum-order safety). df = k-1.

    Scale: one corpus-volume (type, day) reduce; the median and the
    contingency ride the bounded cell table.
    """
    from inde1_spark.functions.exprs import dec_to_double_exact

    def d38(c):
        return c.cast("decimal(38,0)")

    cell = events.groupBy("event_type", _day_str().alias("day")).agg(
        F.floor(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double") * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("v")
    )
    wg = Window.partitionBy()
    wo = Window.orderBy("v", "event_type", "day")
    med = (
        cell.select(
            "v",
            F.row_number().over(wo).cast("long").alias("rn"),
            F.count("*").over(wg).cast("long").alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(F.col("v").alias("med"))
    )
    marked = cell.join(F.broadcast(med)).select(
        "event_type", (F.col("v") > F.col("med")).alias("above")
    )
    per = marked.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum(F.when(F.col("above"), 1).otherwise(0)).cast("long").alias("n_above"),
    )
    tot = per.agg(
        F.sum("n_cells").cast("long").alias("nn"),
        F.sum("n_above").cast("long").alias("aa"),
        F.count("*").cast("long").alias("k"),
    )
    j = per.join(F.broadcast(tot))
    e_above = dec_to_double_exact(
        (d38(F.col("n_cells")) * d38(F.col("aa"))).cast("decimal(38,0)")
    ) / F.col("nn").cast("double")
    e_below = dec_to_double_exact(
        (d38(F.col("n_cells")) * d38(F.col("nn") - F.col("aa"))).cast(
            "decimal(38,0)"
        )
    ) / F.col("nn").cast("double")
    a_d = F.col("n_above").cast("double")
    b_d = (F.col("n_cells") - F.col("n_above")).cast("double")
    term = F.when((e_above <= 0) | (e_below <= 0), F.lit(0.0)).otherwise(
        (a_d - e_above) * (a_d - e_above) / e_above
        + (b_d - e_below) * (b_d - e_below) / e_below
    )
    scored = j.select(
        "event_type",
        "n_cells",
        "n_above",
        "k",
        e_above.alias("expected_above"),
        F.round(term * F.lit(1e9), 0).cast("long").alias("t_nano"),
    )
    wg2 = Window.partitionBy()
    return scored.select(
        "event_type",
        "n_cells",
        "n_above",
        "expected_above",
        (F.sum("t_nano").over(wg2).cast("double") / F.lit(1e9)).alias("chi2"),
        (F.col("k") - 1).cast("long").alias("df"),
    ).orderBy("event_type")


def page_trend_test(events: DataFrame) -> DataFrame:
    """Page's trend test for an ordered within-week pattern of daily
    event counts — the directional upgrade of ``friedman_test``:
    Friedman asks "do positions within the week differ AT ALL"; Page
    asks "do they INCREASE along the week", which is the right test for
    ramp-shaped weekly cycles and is strictly more powerful when the
    ordering hypothesis holds.

    Blocks are epoch-aligned 7-day windows (day_index div 7 — a fixed,
    engine-free blocking; the hypothesized ordering is position 0..6
    within the block), complete blocks only. Within-block midranks use
    friedman's exact x2 integer convention; L_x2 = Sum (pos+1) * R2 is
    an exact long. The normal approximation uses the NO-TIE null
    moments (documented deviation; micro-count ties only perturb the
    variance second-order): E[L_x2] = b k (k+1)^2 / 2 exact, and
    z = (L_x2 - E) / (2 sqrt(Var[L])), Var[L] = b k^2 (k+1)(k^2-1)/144.

    Scale: one corpus-volume day reduce; ranks ride the bounded
    (block, position) table.
    """
    k = 7
    day_idx = (
        F.datediff(
            F.date_trunc("day", F.col("ts")), F.lit("1970-01-01").cast("date")
        )
    ).cast("long")
    daily = events.groupBy(day_idx.alias("di")).agg(
        F.count("*").cast("long").alias("x")
    )
    cells = daily.select(
        F.expr("di div 7").cast("long").alias("blk"),
        (F.col("di") % 7).cast("long").alias("pos"),
        "x",
    )
    wb = Window.partitionBy("blk")
    complete = cells.withColumn(
        "k_blk", F.count("*").over(wb).cast("long")
    ).filter(F.col("k_blk") == k)
    w_le = (
        Window.partitionBy("blk")
        .orderBy("x")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    w_eq = Window.partitionBy("blk", "x")
    ranked = complete.select(
        "blk",
        "pos",
        (
            F.lit(2) * (F.count("*").over(w_le) - F.count("*").over(w_eq))
            + F.count("*").over(w_eq)
            + F.lit(1)
        )
        .cast("long")
        .alias("rank2"),
    )
    agg = ranked.agg(
        (F.countDistinct("blk")).cast("long").alias("n_weeks"),
        F.sum((F.col("pos") + 1) * F.col("rank2")).cast("long").alias("l_x2"),
    ).filter(F.col("n_weeks") >= 1)
    b = F.col("n_weeks").cast("double")
    e_x2 = b * F.lit(float(k * (k + 1) * (k + 1))) / F.lit(2.0)
    var_l = b * F.lit(float(k * k * (k + 1) * (k * k - 1))) / F.lit(144.0)
    z = F.when(var_l <= 0, F.lit(0.0)).otherwise(
        (F.col("l_x2").cast("double") - e_x2) / (F.lit(2.0) * F.sqrt(var_l))
    )
    return agg.select(
        "n_weeks",
        "l_x2",
        e_x2.alias("expected_l_x2"),
        z.alias("z"),
        (z > F.lit(1.645)).alias("increasing_trend_5pct"),
    )


def granger_daily(events: DataFrame) -> DataFrame:
    """Lag-1 Granger causality from daily ENTRY counts to daily EXIT
    counts: does yesterday's entry volume improve the prediction of
    today's exits beyond yesterday's exits alone? The F statistic of
    the restricted (exit ~ lag exit) vs unrestricted (exit ~ lag exit +
    lag entry) least-squares fits — the causal-direction companion to
    ``cross_correlation_lagged``, which measures association but cannot
    say which series leads.

    Closed-form OLS via n-scaled centered moments: every centered sum
    (n*Sxy - Sx*Sy) is an exact DECIMAL(38,0) of integer daily counts,
    converted once by digit-split; RSS_r = (Cyy - Cay^2/Caa)/n and the
    two-regressor RSS_u (Cramer's rule on the centered normal
    equations) run in one mirrored double chain. Consecutive
    observations are consecutive OBSERVED days (documented; calendar
    gaps splice). Degenerate fits (constant regressor, singular
    normal matrix, zero residual) emit f_stat = 0. The 5pct flag uses
    the chi2(1) critical value 3.84 (F(1, n-3) ~ chi2(1) at large n).

    Scale: one corpus-volume day reduce; the lag pass and the moment
    sums ride the bounded daily series.
    """
    from inde1_spark.functions.exprs import dec_to_double_exact

    def d38(c):
        return c.cast("decimal(38,0)")

    daily = events.groupBy(_day_str().alias("day")).agg(
        F.sum(F.when(F.col("event_type") == ENTRY_TYPE, 1).otherwise(0))
        .cast("long")
        .alias("ent"),
        F.sum(F.when(F.col("event_type") == EXIT_TYPE, 1).otherwise(0))
        .cast("long")
        .alias("ext"),
    )
    w = Window.orderBy("day")
    pairs = daily.select(
        F.col("ext").alias("yv"),
        F.lag("ext").over(w).alias("av"),
        F.lag("ent").over(w).alias("bv"),
    ).filter(F.col("av").isNotNull())
    s = pairs.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("yv").cast("long").alias("sy"),
        F.sum("av").cast("long").alias("sa"),
        F.sum("bv").cast("long").alias("sb"),
        F.sum(d38(F.col("yv")) * d38(F.col("yv"))).alias("syy"),
        F.sum(d38(F.col("av")) * d38(F.col("av"))).alias("saa"),
        F.sum(d38(F.col("bv")) * d38(F.col("bv"))).alias("sbb"),
        F.sum(d38(F.col("av")) * d38(F.col("yv"))).alias("say"),
        F.sum(d38(F.col("bv")) * d38(F.col("yv"))).alias("sby"),
        F.sum(d38(F.col("av")) * d38(F.col("bv"))).alias("sab"),
    ).filter(F.col("n") >= 4)

    def cen(spp, s1, s2):
        return dec_to_double_exact(
            (
                d38(F.col("n")) * F.col(spp).cast("decimal(38,0)")
                - d38(F.col(s1)) * d38(F.col(s2))
            ).cast("decimal(38,0)")
        )

    cyy, caa, cbb = cen("syy", "sy", "sy"), cen("saa", "sa", "sa"), cen(
        "sbb", "sb", "sb"
    )
    cay, cby, cab = cen("say", "sa", "sy"), cen("sby", "sb", "sy"), cen(
        "sab", "sa", "sb"
    )
    n_d = F.col("n").cast("double")
    det = caa * cbb - cab * cab
    rss_r = F.when(caa <= 0, cyy / n_d).otherwise(
        (cyy - cay * cay / caa) / n_d
    )
    rss_u = F.when(det <= 0, rss_r).otherwise(
        (cyy - (cbb * cay * cay - F.lit(2.0) * cab * cay * cby + caa * cby * cby) / det)
        / n_d
    )
    f_stat = F.when(
        (rss_u <= 0) | (det <= 0) | (caa <= 0), F.lit(0.0)
    ).otherwise(
        F.greatest(rss_r - rss_u, F.lit(0.0)) * (n_d - F.lit(3.0)) / rss_u
    )
    return s.select(
        F.col("n").alias("n_pairs"),
        rss_r.alias("rss_restricted"),
        rss_u.alias("rss_unrestricted"),
        f_stat.alias("f_stat"),
        (f_stat > F.lit(3.84)).alias("granger_5pct"),
    )


# ---------------------------------------------------------------------------
# r07 batch C: storage-layout / incremental-maintenance data-engineering ops
# ---------------------------------------------------------------------------


def zonemap_prune_audit(events: DataFrame) -> DataFrame:
    """Zone-map (min/max) pruning effectiveness audit for the daily
    partition layout — the data-layout decision number: for a
    ``value > t`` predicate, what fraction of partitions (and rows)
    would the scan SKIP on footer statistics alone? Low skip fractions
    say the column is unclustered and a sort/z-order rewrite
    (``zorder_layout``/``hilbert_layout``) would pay; high fractions
    certify the layout already prunes. The audit is exactly the
    decision a 100 TB table's maintenance job makes before spending a
    rewrite.

    One corpus pass builds the per-day zone maps (micro-long min/max of
    value + row counts); four candidate thresholds sit at the exact
    integer quintiles of the global [min, max] span; skippable =
    zone_max <= t, an integer comparison. skip_pct is the exact
    round-half-up integer ratio. Zones and thresholds are bounded, the
    sweep is a bounded cross join.
    """
    from inde1_spark.functions.exprs import ratio_round

    micro = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long")
    zones = events.groupBy(_day_str().alias("day")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min(micro).alias("zmin"),
        F.max(micro).alias("zmax"),
    )
    span = zones.agg(
        F.min("zmin").alias("vmin"), F.max("zmax").alias("vmax")
    )
    thr = (
        span.select(
            F.explode(F.array(*[F.lit(i) for i in (1, 2, 3, 4)])).alias("i"),
            "vmin",
            "vmax",
        )
        .select(
            "i",
            (
                F.col("vmin")
                + F.expr("(vmax - vmin) * i div 5").cast("long")
            ).alias("thr_micro"),
        )
    )
    sweep = zones.crossJoin(F.broadcast(thr)).groupBy("i", "thr_micro").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum(F.when(F.col("zmax") <= F.col("thr_micro"), 1).otherwise(0))
        .cast("long")
        .alias("n_parts_skipped"),
        F.sum("n_rows").cast("long").alias("rows_total"),
        F.sum(
            F.when(F.col("zmax") <= F.col("thr_micro"), F.col("n_rows")).otherwise(
                0
            )
        )
        .cast("long")
        .alias("rows_skipped"),
    )
    return sweep.select(
        F.col("i").cast("long").alias("quintile"),
        (F.col("thr_micro").cast("double") / F.lit(1e6)).alias("threshold"),
        "n_parts",
        "n_parts_skipped",
        "rows_total",
        "rows_skipped",
        ratio_round(F.col("rows_skipped") * 100, F.col("rows_total"), 4).alias(
            "skip_pct"
        ),
    ).orderBy("quintile")


def ivm_merge_check(events: DataFrame) -> DataFrame:
    """Incremental view maintenance audit: split the stream at the exact
    time midpoint into base + delta, maintain the per-(day, type)
    aggregate by MERGING the two partial aggregates, and certify the
    merge equals a full recompute — the pattern every 100 TB rollup
    lives on (only re-aggregate the new partition, merge into the
    serving table) made verifiable: count merges by +, decimal revenue
    sums merge by exact decimal +, and the audit columns prove it
    row-for-row.

    Exactness is the point: decimal(18,6) per-row casts sum to wide
    decimals, the merge adds decimals (associative, unlike doubles), and
    only the final output casts to double — so merged == full is exact
    equality, not tolerance. One corpus pass for the split aggregates
    (a single groupBy with conditional sums), one for the full
    recompute, merged on the bounded (day, type) key space.
    """
    rng = events.agg(
        F.min(F.unix_timestamp("ts")).alias("t0"),
        F.max(F.unix_timestamp("ts")).alias("t1"),
    )
    mid = (F.col("t0") + F.expr("(t1 - t0) div 2")).alias("mid")
    is_base = F.unix_timestamp("ts") < F.col("mid")
    halves = (
        events.join(F.broadcast(rng.select(mid)))
        .groupBy(_day_str().alias("day"), "event_type")
        .agg(
            F.sum(F.when(is_base, 1).otherwise(0)).cast("long").alias("n_base"),
            F.sum(F.when(~is_base, 1).otherwise(0)).cast("long").alias("n_delta"),
            F.sum(
                F.when(is_base, F.col("value").cast("decimal(18,6)")).otherwise(
                    F.lit(0).cast("decimal(18,6)")
                )
            ).alias("rev_base"),
            F.sum(
                F.when(~is_base, F.col("value").cast("decimal(18,6)")).otherwise(
                    F.lit(0).cast("decimal(18,6)")
                )
            ).alias("rev_delta"),
        )
    )
    full = events.groupBy(_day_str().alias("day"), "event_type").agg(
        F.count("*").cast("long").alias("n_full"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("rev_full"),
    )
    merged = halves.join(full, ["day", "event_type"])
    return merged.select(
        "day",
        "event_type",
        "n_base",
        "n_delta",
        (F.col("n_base") + F.col("n_delta")).alias("n_merged"),
        "n_full",
        (F.col("rev_base") + F.col("rev_delta")).cast("double").alias(
            "revenue_merged"
        ),
        F.col("rev_full").cast("double").alias("revenue_full"),
        ((F.col("n_base") + F.col("n_delta")) == F.col("n_full")).alias(
            "counts_equal"
        ),
        (
            (F.col("rev_base") + F.col("rev_delta")).cast("decimal(38,6)")
            == F.col("rev_full").cast("decimal(38,6)")
        ).alias("revenue_equal"),
    ).orderBy("day", "event_type")


def winsorized_stats(events: DataFrame) -> DataFrame:
    """Per-type 5% winsorized mean/std of the value column — the robust
    location/scale summary that keeps every row (unlike trimming) but
    caps the tails at the exact 5th/95th order statistics: the right
    summary for revenue-like columns whose plain mean one whale can own.
    Complements ``moments_profile`` (raw moments) and
    ``trim_outliers`` (row removal).

    Exact order statistics: micro-long values ranked by the (value,
    event_id) total order; the clamp bounds are ranks k+1 and n-k with
    k = n*5 div 100 (so n < 20 winsorizes nothing). Clamped values sum
    in decimal with the digit-split conversions; std uses the
    n*SS - S^2 identity, clamped at 0 pre-sqrt.

    Scale: the rank is a per-type sort — the exact path; at 100 TB the
    same clamp runs off approx_percentile bounds (documented swap), the
    rest of the plan is unchanged.
    """
    from inde1_spark.functions.exprs import dec_to_double_exact

    def d38(c):
        return c.cast("decimal(38,0)")

    micro = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long")
    wt = Window.partitionBy("event_type")
    wr = Window.partitionBy("event_type").orderBy("v", "event_id")
    ranked = events.select(
        "event_type", micro.alias("v"), "event_id"
    ).select(
        "event_type",
        "v",
        F.row_number().over(wr).cast("long").alias("rn"),
        F.count("*").over(wt).cast("long").alias("n"),
    )
    ranked = ranked.withColumn("k", F.expr("n * 5 div 100").cast("long"))
    lo = ranked.filter(F.col("rn") == F.col("k") + 1).select(
        "event_type", F.col("v").alias("lo_v")
    )
    hi = ranked.filter(F.col("rn") == F.col("n") - F.col("k")).select(
        "event_type", F.col("v").alias("hi_v")
    )
    bounds = lo.join(hi, "event_type")
    clamped = ranked.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "n",
        "k",
        F.greatest(F.least(F.col("v"), F.col("hi_v")), F.col("lo_v")).alias("w"),
        "lo_v",
        "hi_v",
    )
    agg = clamped.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("k").alias("k_trimmed"),
        F.max("lo_v").alias("lo_v"),
        F.max("hi_v").alias("hi_v"),
        F.sum(d38(F.col("w"))).cast("decimal(38,0)").alias("s"),
        F.sum(d38(F.col("w")) * d38(F.col("w"))).alias("ss"),
    )
    n_d = F.col("n").cast("double")
    s_d = dec_to_double_exact(F.col("s"))
    var_num = (
        d38(F.col("n")) * F.col("ss").cast("decimal(38,0)")
        - F.col("s").cast("decimal(38,0)") * F.col("s").cast("decimal(38,0)")
    ).cast("decimal(38,0)")
    var_d = F.greatest(dec_to_double_exact(var_num), F.lit(0.0))
    return agg.select(
        "event_type",
        "n",
        "k_trimmed",
        (F.col("lo_v").cast("double") / F.lit(1e6)).alias("winsor_lo"),
        (F.col("hi_v").cast("double") / F.lit(1e6)).alias("winsor_hi"),
        (s_d / n_d / F.lit(1e6)).alias("wins_mean"),
        (
            F.sqrt(var_d / (n_d * n_d * F.greatest(n_d - F.lit(1.0), F.lit(1.0))))
            / F.lit(1e6)
        ).alias("wins_std"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# r07 batch E: two-sample / coverage / planner-statistics operators
# ---------------------------------------------------------------------------


def cvm_two_sample(events: DataFrame) -> DataFrame:
    """Cramér–von Mises two-sample test between the ENTRY and EXIT daily
    count distributions — the integrated-ECDF-distance member of the
    two-sample family: ``source_drift_ks`` (KS) sees only the single
    worst ECDF gap, CvM accumulates the squared gap EVERYWHERE, making
    it the more powerful test against broad shape differences (and the
    one that notices two crossings that cancel KS out).

    Exact rank form (Anderson 1962): with pooled ranks r_i of the m
    entry days and s_j of the n exit days, U = m*Sum(r_i - i)^2 +
    n*Sum(s_j - j)^2 and T = U/(N m n) - (4mn - 1)/(6N) — U is an exact
    decimal of integer ranks (pooled order ties broken by (value,
    sample, day), a deterministic total order, documented midrank
    deviation), and T runs in one mirrored digit-split double chain.
    T >> 0 rejects "same distribution"; the 5pct flag uses the
    asymptotic critical value 0.461.

    Scale: one corpus-volume (type, day) reduce; ranks ride the bounded
    pooled daily table.
    """
    from inde1_spark.functions.exprs import dec_to_double_exact

    def d38(c):
        return c.cast("decimal(38,0)")

    daily = (
        events.filter(F.col("event_type").isin(ENTRY_TYPE, EXIT_TYPE))
        .groupBy("event_type", _day_str().alias("day"))
        .agg(F.count("*").cast("long").alias("v"))
    )
    pooled = daily.select(
        (F.col("event_type") == ENTRY_TYPE).alias("is_x"),
        "day",
        "v",
        F.row_number()
        .over(Window.orderBy("v", "event_type", "day"))
        .cast("long")
        .alias("r"),
    )
    within = pooled.select(
        "is_x",
        "r",
        F.row_number()
        .over(Window.partitionBy("is_x").orderBy("r"))
        .cast("long")
        .alias("i"),
    )
    agg = within.groupBy("is_x").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum(
            d38(F.col("r") - F.col("i")) * d38(F.col("r") - F.col("i"))
        ).alias("sq"),
    )
    two = (
        agg.agg(
            F.max(F.when(F.col("is_x"), F.col("cnt"))).alias("m"),
            F.max(F.when(~F.col("is_x"), F.col("cnt"))).alias("n"),
            F.max(F.when(F.col("is_x"), F.col("sq"))).alias("sqx"),
            F.max(F.when(~F.col("is_x"), F.col("sq"))).alias("sqy"),
        )
        .filter(F.col("m").isNotNull() & F.col("n").isNotNull())
    )
    u_dec = (
        d38(F.col("m")) * F.col("sqx").cast("decimal(38,0)")
        + d38(F.col("n")) * F.col("sqy").cast("decimal(38,0)")
    ).cast("decimal(38,0)")
    m_d = F.col("m").cast("double")
    n_d = F.col("n").cast("double")
    nn = m_d + n_d
    t = dec_to_double_exact(u_dec) / (nn * m_d * n_d) - (
        F.lit(4.0) * m_d * n_d - F.lit(1.0)
    ) / (F.lit(6.0) * nn)
    return two.select(
        F.col("m").alias("n_entry_days"),
        F.col("n").alias("n_exit_days"),
        dec_to_double_exact(u_dec).alias("u_stat"),
        t.alias("t_stat"),
        (t > F.lit(0.461)).alias("different_5pct"),
    )


def two_proportion_z(events: DataFrame) -> DataFrame:
    """Two-proportion z test of the ENTRY share, weekend vs weekday —
    the direct "did the conversion mix shift" number in its standard
    form: z = (p1 - p2) / sqrt(p(1-p)(1/n1 + 1/n2)) under the pooled
    null. The magnitude companion ``odds_ratio_daily`` gives the effect
    size; this gives the canonical test statistic dashboards expect.

    All inputs are exact long counts (< 2^53, exact conversions); the
    chain is mirrored divisions and one correctly-rounded sqrt.
    Degenerate margins (either period empty, pooled p in {0, 1}) emit
    z = 0.

    Scale: one corpus-volume conditional-count pass; one output row.
    """
    wk = F.dayofweek("ts").isin(1, 7)
    cells = events.filter(
        F.col("event_type").isin(ENTRY_TYPE, EXIT_TYPE)
    ).agg(
        F.sum(F.when(wk & (F.col("event_type") == ENTRY_TYPE), 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(wk, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(
            F.when(~wk & (F.col("event_type") == ENTRY_TYPE), 1).otherwise(0)
        )
        .cast("long")
        .alias("c"),
        F.sum(F.when(~wk, 1).otherwise(0)).cast("long").alias("n2"),
    )
    a_d, n1_d = F.col("a").cast("double"), F.col("n1").cast("double")
    c_d, n2_d = F.col("c").cast("double"), F.col("n2").cast("double")
    p1 = a_d / n1_d
    p2 = c_d / n2_d
    pp = (a_d + c_d) / (n1_d + n2_d)
    se = F.sqrt(pp * (F.lit(1.0) - pp) * (F.lit(1.0) / n1_d + F.lit(1.0) / n2_d))
    z = F.when(
        (F.col("n1") == 0) | (F.col("n2") == 0), F.lit(0.0)
    ).otherwise(
        F.when(se <= 0, F.lit(0.0)).otherwise((p1 - p2) / se)
    )
    return cells.filter((F.col("n1") > 0) & (F.col("n2") > 0)).select(
        F.col("a").alias("n_weekend_entry"),
        F.col("n1").alias("n_weekend"),
        F.col("c").alias("n_weekday_entry"),
        F.col("n2").alias("n_weekday"),
        p1.alias("p_weekend"),
        p2.alias("p_weekday"),
        z.alias("z"),
        (F.abs(z) > F.lit(1.96)).alias("significant_5pct"),
    )


def capture_recapture(events: DataFrame) -> DataFrame:
    """Chapman capture-recapture estimate of the TOTAL user population
    from the two halves of the observed window — "how many users exist
    that we have not seen yet": the first-half users are the marked
    capture, the second-half users the recapture, and the overlap rate
    estimates what fraction of the population any half sees. The
    coverage number a crawl/ingest pipeline reads before claiming a
    corpus is complete (``dau_wau`` counts who WAS seen; this estimates
    who WASN'T).

    Chapman estimator N = (n1+1)(n2+1)/(m+1) - 1 (bias-corrected,
    finite for m = 0) as an exact decimal product converted by
    digit-split; the standard error chain is mirrored doubles with one
    sqrt. Split at the exact time midpoint (the value_drift_psi
    convention). coverage_pct = observed / estimated, exact
    round-half-up on the micro grid.

    Scale: one distinct-reduce per half over (user, half) — two shuffle
    keys per user; everything after is one row.
    """
    from inde1_spark.functions.exprs import dec_to_double_exact, ratio_round

    def d38(c):
        return c.cast("decimal(38,0)")

    rng = events.agg(
        F.min(F.unix_timestamp("ts")).alias("t0"),
        F.max(F.unix_timestamp("ts")).alias("t1"),
    )
    mid = (F.col("t0") + F.expr("(t1 - t0) div 2")).alias("mid")
    per_user = (
        events.join(F.broadcast(rng.select(mid)))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.unix_timestamp("ts") < F.col("mid"), 1).otherwise(0)
            ).alias("in1"),
            F.max(
                F.when(F.unix_timestamp("ts") >= F.col("mid"), 1).otherwise(0)
            ).alias("in2"),
        )
    )
    agg = per_user.agg(
        F.sum("in1").cast("long").alias("n1"),
        F.sum("in2").cast("long").alias("n2"),
        F.sum(F.col("in1") * F.col("in2")).cast("long").alias("m"),
        F.count("*").cast("long").alias("n_observed"),
    )
    est = (
        dec_to_double_exact(
            (d38(F.col("n1") + 1) * d38(F.col("n2") + 1)).cast("decimal(38,0)")
        )
        / (F.col("m") + 1).cast("double")
        - F.lit(1.0)
    )
    # Seber variance of the Chapman estimator, mirrored double chain
    var = (
        dec_to_double_exact(
            (
                d38(F.col("n1") + 1)
                * d38(F.col("n2") + 1)
                * d38(F.col("n1") - F.col("m"))
            ).cast("decimal(38,0)")
        )
        * (F.col("n2") - F.col("m")).cast("double")
        / (
            (F.col("m") + 1).cast("double")
            * (F.col("m") + 1).cast("double")
            * (F.col("m") + 2).cast("double")
        )
    )
    est_l = F.floor(est + F.lit(0.5)).cast("long")
    return agg.select(
        "n1",
        "n2",
        F.col("m").alias("m_overlap"),
        "n_observed",
        est.alias("est_total"),
        F.sqrt(F.greatest(var, F.lit(0.0))).alias("se_total"),
        ratio_round(
            F.col("n_observed") * 100, F.greatest(est_l, F.lit(1)), 4
        ).alias("coverage_pct"),
    )


def join_order_audit(
    orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Exact intermediate-cardinality audit of the two join orders for
    orders ⋈ customer ⋈ nation — the planner statistic computed the way
    a cost-based optimizer wishes it could: |A ⋈ B| = Sum_k a(k)*b(k)
    from cheap per-key count passes, BEFORE running any join. On a
    100 TB fact table the wrong order materializes the giant
    intermediate; this audit prices both pipelines from statistics that
    cost one scan each (the multi-table generalization of
    ``join_cardinality_audit``).

    Plan A — (orders ⋈ customer) first: intermediate = Sum over custkey
    of o(k)*c(k); plan B — (customer ⋈ nation) first: intermediate =
    Sum over nationkey of c(k)*n(k). The final three-way size (equal
    either way) comes from the per-(custkey) counts joined through
    customer. All exact decimal accumulation, string emission for the
    wide counts (the join_cardinality convention), recommendation by
    exact integer comparison with a deterministic tie-break to A.
    """
    oc = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.count("*").cast("long").alias("oc")
    )
    cc = customer.select(
        F.col("c_custkey").alias("ck"), F.col("c_nationkey").alias("nk")
    )
    nc = nation.groupBy(F.col("n_nationkey").alias("nk")).agg(
        F.count("*").cast("long").alias("nn")
    )

    def d38(c):
        return c.cast("decimal(38,0)")

    # |O x C| on custkey: customer keys are unique per ck, count them
    ccnt = cc.groupBy("ck").agg(F.count("*").cast("long").alias("cc"))
    plan_a_int = oc.join(ccnt, "ck").agg(
        F.coalesce(F.sum(d38(F.col("oc")) * d38(F.col("cc"))), F.lit(0).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("rows_dec")
    )
    # |C x N| on nationkey
    ccn = cc.groupBy("nk").agg(F.count("*").cast("long").alias("cn"))
    plan_b_int = ccn.join(nc, "nk").agg(
        F.coalesce(F.sum(d38(F.col("cn")) * d38(F.col("nn"))), F.lit(0).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("rows_dec")
    )
    # final 3-way size: per customer, o(ck) * n(nk); nation keys unique
    final = (
        cc.join(oc, "ck", "left")
        .join(nc, "nk", "left")
        .agg(
            F.coalesce(
                F.sum(
                    d38(F.coalesce(F.col("oc"), F.lit(0)))
                    * d38(F.coalesce(F.col("nn"), F.lit(0)))
                ),
                F.lit(0).cast("decimal(38,0)"),
            )
            .cast("decimal(38,0)")
            .alias("final_dec")
        )
    )
    a = plan_a_int.select(
        F.lit("orders_customer_first").alias("plan"),
        F.col("rows_dec"),
    )
    b = plan_b_int.select(
        F.lit("customer_nation_first").alias("plan"),
        F.col("rows_dec"),
    )
    both = a.unionByName(b).crossJoin(F.broadcast(final))
    # tie-break to plan A: on equal rows_dec, 'orders_customer_first' sorts
    # last alphabetically, so rank (rows_dec ASC, plan DESC) and pick rank 1
    w = Window.orderBy(F.col("rows_dec").asc(), F.col("plan").desc())
    return both.select(
        "plan",
        F.col("rows_dec").cast("string").alias("intermediate_rows"),
        F.col("final_dec").cast("string").alias("final_rows"),
        (F.row_number().over(w) == F.lit(1)).alias("is_cheapest"),
    ).orderBy("plan")


def cochran_armitage_trend(events: DataFrame) -> DataFrame:
    """Cochran-Armitage trend test: does the ENTRY share move LINEARLY
    across the ordered within-week positions? The directional
    categorical test that closes the 2xk family — ``chi2_independence``
    asks "does the mix differ by category at all", this asks "does it
    ramp with the ordering", which is one degree of freedom and
    therefore far more powerful against monotone weekly drift.

    Scores are the epoch-aligned day positions 0..6 (the
    ``page_trend_test`` blocking convention, engine-free). The
    statistic is assembled from the N-scaled integer identities
    NUM = N*Sum(s_j a_j) - A*Sum(s_j n_j) and
    VAR = A(N-A)(N*Sum(n_j s_j^2) - Sum(n_j s_j)^2), both exact
    decimals converted by digit-split; z = NUM*sqrt(N)/sqrt(VAR) runs
    in one mirrored chain with the usual degenerate guards (empty
    margins, zero variance emit z = 0).

    Scale: one corpus-volume conditional-count pass onto 7 cells.
    """
    from inde1_spark.functions.exprs import dec_to_double_exact

    def d38(c):
        return c.cast("decimal(38,0)")

    pos = (
        F.datediff(
            F.date_trunc("day", F.col("ts")), F.lit("1970-01-01").cast("date")
        ).cast("long")
        % 7
    )
    cells = (
        events.filter(F.col("event_type").isin(ENTRY_TYPE, EXIT_TYPE))
        .groupBy(pos.alias("s"))
        .agg(
            F.sum(F.when(F.col("event_type") == ENTRY_TYPE, 1).otherwise(0))
            .cast("long")
            .alias("a"),
            F.count("*").cast("long").alias("n"),
        )
    )
    agg = cells.agg(
        F.sum("a").cast("long").alias("aa"),
        F.sum("n").cast("long").alias("nn"),
        F.sum(F.col("s") * F.col("a")).cast("long").alias("sa"),
        F.sum(F.col("s") * F.col("n")).cast("long").alias("sn"),
        F.sum(F.col("s") * F.col("s") * F.col("n")).cast("long").alias("ssn"),
    ).filter((F.col("nn") > 0) & (F.col("aa") > 0) & (F.col("aa") < F.col("nn")))
    num_dec = (
        d38(F.col("nn")) * d38(F.col("sa")) - d38(F.col("aa")) * d38(F.col("sn"))
    ).cast("decimal(38,0)")
    var_dec = (
        d38(F.col("aa"))
        * d38(F.col("nn") - F.col("aa"))
        * (
            d38(F.col("nn")) * d38(F.col("ssn"))
            - d38(F.col("sn")) * d38(F.col("sn"))
        )
    ).cast("decimal(38,0)")
    num_d = dec_to_double_exact(num_dec)
    var_d = F.greatest(dec_to_double_exact(var_dec), F.lit(0.0))
    z = F.when(var_d <= 0, F.lit(0.0)).otherwise(
        num_d * F.sqrt(F.col("nn").cast("double")) / F.sqrt(var_d)
    )
    return agg.select(
        F.col("nn").alias("n_total"),
        F.col("aa").alias("n_entry"),
        z.alias("z"),
        (F.abs(z) > F.lit(1.96)).alias("trend_5pct"),
        F.when(z > 0, F.lit("increasing"))
        .when(z < 0, F.lit("decreasing"))
        .otherwise(F.lit("flat"))
        .alias("direction"),
    )


# ---------------------------------------------------------------------------
# r09 staged batch A: survival hazard, optimizer statistics, storage layout
# (implemented + oracle-twinned in r08; enter queries() with the r09 window)
# ---------------------------------------------------------------------------


def nelson_aalen_hazard(
    events: DataFrame, churn_gap_days: int = KM_CHURN_GAP_DAYS
) -> DataFrame:
    """Nelson-Aalen cumulative hazard over user lifetimes — the estimator
    companion to ``kaplan_meier_retention``: where KM multiplies survival
    factors, NA SUMS the instantaneous hazard d_t/n_t, giving the
    integrated churn intensity H(t) = Sum_{u<=t} d_u/n_u. H(t) is the
    right object for comparing churn pressure across cohorts (hazards
    add; survival products don't) and is defined even where KM's product
    hits zero.

    Same churn rule, duration grid and suffix-sum risk set as KM (one
    per-user min/max pass is the only corpus-sized work). Each increment
    d/n is snapped by exact integer round-half-up to micro units
    ((d*2e6 + n) div (2n) — longs end to end), the cumulative sum runs
    over the snapped longs, and only the final emit divides by 1e6:
    bit-identical in both engines with no libm in the chain.

    Scale: identical posture to kaplan_meier_retention — the grid is
    bounded by |distinct durations|; at 100 TB the micro snap's
    d*2e6 < 2^53 bound allows ~4.5e9 churners per duration cell.
    """
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    per_user = persist(
        events.select("user_id", day.alias("d"))
        .groupBy("user_id")
        .agg(F.min("d").alias("first_d"), F.max("d").alias("last_d"))
    )
    maxd = per_user.agg(F.max("last_d").alias("max_d"))
    obs = per_user.join(F.broadcast(maxd)).select(
        F.when(
            F.col("last_d") < F.col("max_d") - F.lit(churn_gap_days),
            F.col("last_d") - F.col("first_d"),
        )
        .otherwise(F.col("max_d") - F.col("first_d"))
        .alias("t"),
        F.when(
            F.col("last_d") < F.col("max_d") - F.lit(churn_gap_days), 1
        )
        .otherwise(0)
        .alias("churned"),
    )
    grid = obs.groupBy("t").agg(
        F.sum("churned").cast("long").alias("n_churned"),
        F.sum(F.lit(1) - F.col("churned")).cast("long").alias("n_censored"),
    )
    w_ord = Window.orderBy("t")
    at_risk = F.sum(F.col("n_churned") + F.col("n_censored")).over(
        w_ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    # exact micro round-half-up of d/n in longs (the ratio_round identity)
    inc_micro = (
        (
            F.col("n_churned") * F.lit(2_000_000) + F.col("n_at_risk")
        )
        - (
            F.col("n_churned") * F.lit(2_000_000) + F.col("n_at_risk")
        )
        % (F.col("n_at_risk") * F.lit(2))
    ) / (F.col("n_at_risk") * F.lit(2))
    return (
        grid.withColumn("n_at_risk", at_risk.cast("long"))
        .withColumn("inc_micro", inc_micro.cast("long"))
        .select(
            F.col("t").cast("long").alias("duration_days"),
            "n_at_risk",
            "n_churned",
            "n_censored",
            (F.col("inc_micro").cast("double") / F.lit(1e6)).alias(
                "hazard_inc"
            ),
            (
                F.sum("inc_micro")
                .over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
                .cast("double")
                / F.lit(1e6)
            ).alias("cum_hazard"),
        )
        .orderBy("duration_days")
    )


NDV_SAMPLE_MOD = 10  # deterministic 1-in-10 row sample (md5 bucket 0)
NDV_COLUMNS = ("user_id", "event_type")


def ndv_estimator_audit(events: DataFrame) -> DataFrame:
    """Sampling-based distinct-count estimators audited against exact NDV
    — the optimizer-statistics question ("can a 10% scan price this
    join?") made measurable, per column: exact NDV from the full table
    vs Chao1 (bias-corrected) and GEE estimates computed ONLY from a
    deterministic 1-in-10 row sample. The audit says which columns a
    sampling-based ANALYZE would misprice (heavy-tail columns blow up
    f1, uniform columns converge fast) — the cross-check a 100 TB
    deployment runs before trusting sampled table stats for join
    ordering (companion to ``join_cardinality_audit`` /
    ``join_order_audit``, which assume the counts are right).

    The sample is the engine-portable md5 bucket of event_id (the
    train_test_split convention) — identical rows in both engines, no
    seed, no partitioning dependence. Chao1_bc = d_s + f1(f1-1)/(2(f2+1))
    (defined at f2 = 0); GEE = sqrt(mod)*f1 + (d_s - f1). Both emit via
    one exact integer ratio + one correctly-rounded sqrt product;
    err_pct is exact integer round-half-up.

    Scale: one full-column distinct per audited column plus one 10%
    groupBy — both map-side combinable; the estimator arithmetic rides
    a 1-row aggregate per column.
    """
    from inde1_spark.functions.exprs import ratio_round
    from inde1_spark.operators.text import hash_bucket

    in_sample = hash_bucket(F.col("event_id"), NDV_SAMPLE_MOD) == F.lit(0)
    out = None
    for colname in NDV_COLUMNS:
        exact = events.agg(
            F.countDistinct(colname).cast("long").alias("exact_ndv"),
            F.count("*").cast("long").alias("n_rows"),
        )
        freq = (
            events.filter(in_sample)
            .groupBy(F.col(colname).alias("v"))
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        # coalesce mirrors the oracle's COALESCE: an EMPTY 1-in-10 sample
        # (plausible on tiny tables) sums to NULL, not 0 (ADVICE r08)
        stats = freq.agg(
            F.count("*").cast("long").alias("d_s"),
            F.coalesce(F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)), F.lit(0))
            .cast("long")
            .alias("f1"),
            F.coalesce(F.sum(F.when(F.col("cnt") == 2, 1).otherwise(0)), F.lit(0))
            .cast("long")
            .alias("f2"),
            F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_sample"),
        )
        # chao1_bc = d_s + f1*(f1-1) / (2*(f2+1)): exact integer numerator,
        # one division — identical single IEEE op in both engines
        chao1 = F.col("d_s").cast("double") + (
            (F.col("f1") * (F.col("f1") - F.lit(1))).cast("double")
            / (F.lit(2.0) * (F.col("f2") + F.lit(1)).cast("double"))
        )
        gee = (
            F.sqrt(F.lit(float(NDV_SAMPLE_MOD))) * F.col("f1").cast("double")
            + (F.col("d_s") - F.col("f1")).cast("double")
        )
        row = exact.join(F.broadcast(stats)).select(
            F.lit(colname).alias("column_name"),
            "n_rows",
            "exact_ndv",
            "n_sample",
            F.col("d_s").alias("sample_ndv"),
            "f1",
            "f2",
            chao1.alias("chao1_est"),
            gee.alias("gee_est"),
            # exact_ndv = 0 (empty table) would make ratio_round's `% 0`
            # throw under ANSI — guard the degenerate denominator and emit
            # 0.0 err, mirrored as CASE in the oracle (ADVICE r08)
            F.when(
                F.col("exact_ndv") > 0,
                ratio_round(
                    F.abs(
                        (chao1 * F.lit(1e4)).cast("long")
                        - F.col("exact_ndv") * F.lit(10_000)
                    ),
                    F.col("exact_ndv") * F.lit(100),
                    2,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("chao1_err_pct"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("column_name")


COMPACT_TARGET_BYTES = 1 << 20  # 1 MiB target output file (audit scale)
COMPACT_ROW_BYTES = 64  # synthetic fixed row-size estimate


def file_compaction_plan(
    events: DataFrame,
    target_bytes: int = COMPACT_TARGET_BYTES,
    row_bytes: int = COMPACT_ROW_BYTES,
) -> DataFrame:
    """Small-file compaction planner over the daily partition layout — the
    write-side sibling of ``zonemap_prune_audit``: given per-day row
    counts (bytes = rows x a fixed row-size estimate), assign days to
    output files by the cumulative-fill rule file_id = floor(cum_bytes_
    before_this_day / target) and report per-file day spans, sizes and
    fill. The plan every 100 TB table-maintenance job prices before
    rewriting a partition range: how many files does compaction produce,
    how full are they, and does any single day overflow the target on
    its own (the unsplittable-partition flag).

    Day order is the time order (compaction preserves range-scan
    locality — consecutive days land in the same file, the zonemap
    stays tight). All arithmetic is exact longs: cumulative sums over
    the bounded day grid, fill_pct by exact integer round-half-up.
    """
    from inde1_spark.functions.exprs import ratio_round

    zones = events.groupBy(_day_str().alias("day")).agg(
        F.count("*").cast("long").alias("n_rows")
    )
    w_ord = Window.orderBy("day")
    sized = zones.select(
        "day",
        "n_rows",
        (F.col("n_rows") * F.lit(row_bytes)).alias("day_bytes"),
    ).withColumn(
        "cum_before",
        F.coalesce(
            F.sum("day_bytes").over(
                w_ord.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("long"),
    )
    assigned = sized.select(
        "day",
        "n_rows",
        "day_bytes",
        F.expr(f"cum_before div CAST({target_bytes} AS BIGINT)")
        .cast("long")
        .alias("file_id"),
        (F.col("day_bytes") > F.lit(target_bytes)).alias("oversized_day"),
    )
    return (
        assigned.groupBy("file_id")
        .agg(
            F.min("day").alias("first_day"),
            F.max("day").alias("last_day"),
            F.count("*").cast("long").alias("n_days"),
            F.sum("n_rows").cast("long").alias("n_rows"),
            F.sum("day_bytes").cast("long").alias("file_bytes"),
            F.max(F.col("oversized_day").cast("int"))
            .cast("boolean")
            .alias("has_oversized_day"),
        )
        .select(
            "file_id",
            "first_day",
            "last_day",
            "n_days",
            "n_rows",
            "file_bytes",
            ratio_round(
                F.col("file_bytes") * F.lit(100), F.lit(target_bytes), 2
            ).alias("fill_pct"),
            "has_oversized_day",
        )
        .orderBy("file_id")
    )


def sort_benefit_audit(events: DataFrame) -> DataFrame:
    """What would re-clustering buy? For each zone-map threshold, the skip
    fraction of the CURRENT daily layout (``zonemap_prune_audit``'s
    number) against the skip fraction a value-SORTED rewrite of the same
    table into the same number of zones would achieve — the uplift in
    percentage points is the exact value of running
    ``zorder_layout``-style maintenance, priced before any rewrite.

    Sorted-layout model: Z zones (one per current day-partition) of
    ceil(n/Z) rows in value order; a zone is skippable for ``value > t``
    iff it lies entirely within the first rank_le(t) rows, so
    skip_rows_sorted = (rank_le div zone_rows) * zone_rows (all rows when
    rank_le = n). rank_le comes from ONE conditional-count pass of the
    corpus against the broadcast 4-threshold grid (the zonemap sweep
    class); everything else is exact longs and exact round-half-up pcts.
    The uplift subtracts two exact 4-dp decimals — the same IEEE op in
    both engines.
    """
    from inde1_spark.functions.exprs import ratio_round

    micro = F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long")
    zones = events.groupBy(_day_str().alias("day")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.max(micro).alias("zmax"),
    )
    span = zones.agg(
        F.count("*").cast("long").alias("n_zones"),
        F.sum("n_rows").cast("long").alias("n_total"),
    )
    vspan = events.agg(
        F.min(micro).alias("vmin"), F.max(micro).alias("vmax")
    )
    thr = (
        vspan.select(
            F.explode(F.array(*[F.lit(i) for i in (1, 2, 3, 4)])).alias("i"),
            "vmin",
            "vmax",
        )
        .select(
            "i",
            (
                F.col("vmin") + F.expr("(vmax - vmin) * i div 5").cast("long")
            ).alias("thr_micro"),
        )
    )
    current = (
        zones.crossJoin(F.broadcast(thr))
        .groupBy("i", "thr_micro")
        .agg(
            F.sum("n_rows").cast("long").alias("rows_total"),
            F.sum(
                F.when(F.col("zmax") <= F.col("thr_micro"), F.col("n_rows"))
                .otherwise(0)
            )
            .cast("long")
            .alias("rows_skipped_current"),
        )
    )
    ranks = (
        events.select(micro.alias("v"))
        .crossJoin(F.broadcast(thr.select("i", "thr_micro")))
        .groupBy("i")
        .agg(
            F.sum(F.when(F.col("v") <= F.col("thr_micro"), 1).otherwise(0))
            .cast("long")
            .alias("rank_le")
        )
    )
    merged = (
        current.join(ranks, "i")
        .crossJoin(F.broadcast(span.select("n_zones", "n_total")))
        .withColumn(
            "zone_rows",
            F.expr("(n_total + n_zones - 1) div n_zones").cast("long"),
        )
        .withColumn(
            "rows_skipped_sorted",
            F.when(F.col("rank_le") >= F.col("n_total"), F.col("n_total"))
            .otherwise(
                F.expr("(rank_le div zone_rows) * zone_rows").cast("long")
            ),
        )
    )
    cur_pct = ratio_round(
        F.col("rows_skipped_current") * 100, F.col("rows_total"), 4
    )
    srt_pct = ratio_round(
        F.col("rows_skipped_sorted") * 100, F.col("rows_total"), 4
    )
    return merged.select(
        F.col("i").cast("long").alias("quintile"),
        (F.col("thr_micro").cast("double") / F.lit(1e6)).alias("threshold"),
        "rows_total",
        "rows_skipped_current",
        "rows_skipped_sorted",
        cur_pct.alias("current_skip_pct"),
        srt_pct.alias("sorted_skip_pct"),
        (srt_pct - cur_pct).alias("uplift_pp"),
    ).orderBy("quintile")


def mcnemar_halves_test(events: DataFrame) -> DataFrame:
    """McNemar's test on the paired half-window activity table — the
    PAIRED sibling of ``two_proportion_z``: each user is their own
    control, and only the DISCORDANT users (active in exactly one half
    of the time window) carry information about churn/acquisition
    imbalance. Shares ``capture_recapture``'s exact midpoint split, so
    the two audits read the same 2x2 from orthogonal angles (population
    size vs marginal homogeneity).

    chi2 = (b - c)^2 / (b + c) with b = active-first-half-only, c =
    active-second-half-only — one integer product and ONE division over
    exact longs (no continuity correction: documented, mirrored).
    b + c = 0 (no discordant users) emits chi2 = 0. Significance at the
    chi2(1) 5% critical value 3.84.

    Scale: one per-user conditional min/max pass onto a 1-row aggregate.
    """
    rng = events.agg(
        F.min(F.unix_timestamp("ts")).alias("t0"),
        F.max(F.unix_timestamp("ts")).alias("t1"),
    )
    mid = (F.col("t0") + F.expr("(t1 - t0) div 2")).alias("mid")
    per_user = (
        events.join(F.broadcast(rng.select(mid)))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.unix_timestamp("ts") < F.col("mid"), 1).otherwise(0)
            ).alias("in1"),
            F.max(
                F.when(F.unix_timestamp("ts") >= F.col("mid"), 1).otherwise(0)
            ).alias("in2"),
        )
    )
    cells = per_user.agg(
        F.sum(F.when((F.col("in1") == 1) & (F.col("in2") == 0), 1).otherwise(0))
        .cast("long")
        .alias("b_first_only"),
        F.sum(F.when((F.col("in1") == 0) & (F.col("in2") == 1), 1).otherwise(0))
        .cast("long")
        .alias("c_second_only"),
        F.sum(F.when((F.col("in1") == 1) & (F.col("in2") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n_both"),
    )
    diff = F.col("b_first_only") - F.col("c_second_only")
    disc = F.col("b_first_only") + F.col("c_second_only")
    chi2 = F.when(disc <= 0, F.lit(0.0)).otherwise(
        (diff * diff).cast("double") / disc.cast("double")
    )
    return cells.select(
        "n_both",
        "b_first_only",
        "c_second_only",
        chi2.alias("chi2"),
        (chi2 > F.lit(3.84)).alias("marginal_shift_5pct"),
    )


KMV_K = 32  # bottom-k sketch size


def kmv_distinct_by_source(documents: DataFrame, k: int = KMV_K) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct-count sketch per source,
    audited against the exact count — the GROUPED, MERGEABLE sibling of
    ``ndv_estimator_audit``: bottom-k hash sets union by keeping the k
    smallest (mergeable-summaries), so per-partition sketches of a
    100 TB table combine losslessly; the estimate is d = (k-1) / h_(k)
    with h_(k) the k-th smallest unit-interval hash. The audit measures
    the sketch error per source before a deployment trusts bottom-k
    sketches for cross-source overlap accounting.

    Determinism: unit hashes are the first 8 md5 hex chars of the text /
    2^32 (the engine-portable convention) — exact dyadic rationals, so
    (k-1)/h_k is one IEEE division of exacts. exact_distinct is the TRUE
    COUNT(DISTINCT text) per source (ADVICE r08: counting distinct
    32-bit prefixes would undercount by ~n^2/2^33 collisions); when a
    source has fewer than k distinct hashes the sketch holds its full
    hash set and reports the distinct-HASH count (= distinct texts
    absent prefix collisions). err_pct is exact integer round-half-up
    over micro-scaled estimates.

    Scale note (the audit's exact side): ranking distinct hashes per
    source is a per-group sort here; the production sketch keeps only k
    minima via partial aggregation (documented swap — the audit NEEDS
    the exact count anyway, which already costs the distinct pass).
    """
    from inde1_spark.functions.exprs import ratio_round

    hv = F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10).cast("long")
    dh = (
        documents.select("source", hv.alias("hv"))
        .groupBy("source", "hv")
        .agg(F.lit(1).alias("_one"))
    )
    w = Window.partitionBy("source").orderBy("hv")
    ranked = dh.select(
        "source", "hv", F.row_number().over(w).cast("long").alias("rk")
    )
    exact = documents.groupBy("source").agg(
        F.countDistinct("text").cast("long").alias("exact_distinct")
    )
    dhv = dh.groupBy("source").agg(F.count("*").cast("long").alias("d_hv"))
    kth = ranked.filter(F.col("rk") == F.lit(k)).select(
        "source", F.col("hv").alias("hk")
    )
    est = (
        exact.join(dhv, "source")
        .join(kth, "source", "left")
        .select(
            "source",
            "exact_distinct",
            F.when(
                F.col("hk").isNull() | (F.col("hk") <= 0),
                F.col("d_hv").cast("double"),
            )
            .otherwise(
                F.lit(float(k - 1))
                / (F.col("hk").cast("double") / F.lit(float(1 << 32)))
            )
            .alias("kmv_est"),
        )
    )
    return est.select(
        "source",
        "exact_distinct",
        "kmv_est",
        ratio_round(
            F.abs(
                F.floor(F.col("kmv_est") * F.lit(1e4)).cast("long")
                - F.col("exact_distinct") * F.lit(10_000)
            ),
            F.col("exact_distinct") * F.lit(100),
            2,
        ).alias("kmv_err_pct"),
    ).orderBy("source")


COCHRAN_Q_K = 7  # epoch-dow treatments (the page_trend blocking convention)
COCHRAN_Q_CRIT_5PCT = 12.59  # chi2(6) 5% critical value


def cochran_q_weeks(events: DataFrame) -> DataFrame:
    """Cochran's Q over the user x day-of-week activity matrix — the
    k-related-BINARY-samples member completing the categorical tier:
    ``friedman_test`` asks whether ranked MAGNITUDES differ across the
    within-week positions, Cochran's Q asks whether the PROPENSITY TO
    SHOW UP AT ALL does, each user serving as their own block. The
    matched-design upgrade of ``chi2_independence`` for weekly
    participation patterns.

    Exact integer identity: with column totals G_j, row totals L_i and
    T = Sum L_i, Q = (k-1) * Sum_j (k G_j - T)^2 / (k * (k T - Sum
    L_i^2)) — one division of two exact decimal(38,0) conversions.
    Degenerate blocks (every user active every dow, or T = 0) emit
    Q = 0. Significance at the chi2(k-1) 5% critical value 12.59
    (injected constant, both engines).

    Scale: one corpus-volume distinct (user, dow) pass; row/column
    totals are map-side-combinable aggregates over it.
    """
    from inde1_spark.functions.exprs import dec_to_double_exact

    def d38(c):
        return c.cast("decimal(38,0)")

    k = COCHRAN_Q_K
    dow = (
        F.datediff(
            F.date_trunc("day", F.col("ts")), F.lit("1970-01-01").cast("date")
        ).cast("long")
        % k
    )
    cells = persist(
        events.select("user_id", dow.alias("j")).distinct()
    )
    rows = cells.groupBy("user_id").agg(
        F.count("*").cast("long").alias("li")
    )
    rowagg = rows.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("li").cast("long").alias("t"),
        F.sum(d38(F.col("li")) * d38(F.col("li")))
        .cast("decimal(38,0)")
        .alias("sl2"),
    )
    # the FULL 0..k-1 treatment grid: a dow with zero active users still
    # contributes (0*k - T)^2 = T^2 to the column sum
    grid = events.sparkSession.range(k).select(F.col("id").alias("j"))
    colagg = (
        grid.join(
            cells.groupBy("j").agg(F.count("*").cast("long").alias("gj")),
            "j",
            "left",
        )
        .select(F.coalesce(F.col("gj"), F.lit(0).cast("long")).alias("gj"))
        .join(F.broadcast(rowagg.select("t")))
        .agg(
            F.sum(
                (d38(F.col("gj")) * F.lit(k) - d38(F.col("t")))
                * (d38(F.col("gj")) * F.lit(k) - d38(F.col("t")))
            )
            .cast("decimal(38,0)")
            .alias("sg2")
        )
    )
    num = dec_to_double_exact(
        (F.col("sg2") * F.lit(k - 1).cast("decimal(38,0)")).cast(
            "decimal(38,0)"
        )
    )
    den = dec_to_double_exact(
        (
            F.lit(k).cast("decimal(38,0)")
            * (d38(F.col("t")) * F.lit(k) - F.col("sl2"))
        ).cast("decimal(38,0)")
    )
    q = F.when(den <= 0, F.lit(0.0)).otherwise(num / den)
    return (
        rowagg.crossJoin(F.broadcast(colagg))
        .select(
            "n_users",
            F.col("t").alias("n_active_cells"),
            q.alias("q_stat"),
            (q > F.lit(COCHRAN_Q_CRIT_5PCT)).alias("dow_effect_5pct"),
        )
    )


# --------------------------------------------------------------------------
# r10 staged batch: data-layout / pipeline-planning audits
# --------------------------------------------------------------------------

ARCHIVE_LOOKBACK_DAYS = (1, 3, 7, 14, 30)


def archive_prune_audit(
    events: DataFrame, lookbacks: tuple[int, ...] = ARCHIVE_LOOKBACK_DAYS
) -> DataFrame:
    """Partition-pruning effectiveness audit for the day-partitioned
    archive layout — the measured form of S5/S8 (the Kafka->S3 archival
    writer partitions by event day, `streaming/pipelines.py`, mirroring
    the reference's partitioned sink layout): for the standard dashboard
    lookbacks ("last N days"), how many partitions and rows does
    partition pruning let the scan SKIP? `zonemap_prune_audit` answers
    this for value predicates on footer stats; this audit answers it for
    the TIME predicates that dominate real query logs, certifying the
    archive's partition key earns its keep before a 100 TB layout
    migration is considered.

    One corpus pass builds per-day row counts (the partition manifest);
    the lookback grid is a bounded literal; scanned = day index within
    [max_day - N + 1, max_day], an integer comparison per (zone, N).
    Prune pcts are exact round-half-up integer ratios.
    """
    from inde1_spark.functions.exprs import ratio_round

    day = F.datediff(
        F.date_trunc("day", F.col("ts")), F.lit("1970-01-01").cast("date")
    ).cast("long")
    zones = events.groupBy(day.alias("day")).agg(
        F.count("*").cast("long").alias("n_rows")
    )
    span = zones.agg(
        F.max("day").alias("max_day"),
        F.count("*").cast("long").alias("parts_total"),
        F.sum("n_rows").cast("long").alias("rows_total"),
    )
    grid = span.select(
        F.explode(F.array(*[F.lit(int(w)) for w in lookbacks])).alias(
            "lookback_days"
        ),
        "max_day",
        "parts_total",
        "rows_total",
    )
    scanned = F.col("day") >= F.col("max_day") - F.col("lookback_days") + 1
    sweep = (
        zones.crossJoin(F.broadcast(grid))
        .groupBy("lookback_days", "parts_total", "rows_total")
        .agg(
            F.sum(F.when(scanned, 1).otherwise(0))
            .cast("long")
            .alias("parts_scanned"),
            F.sum(F.when(scanned, F.col("n_rows")).otherwise(0))
            .cast("long")
            .alias("rows_scanned"),
        )
    )
    return sweep.select(
        F.col("lookback_days").cast("long").alias("lookback_days"),
        "parts_total",
        "parts_scanned",
        "rows_total",
        "rows_scanned",
        ratio_round(
            (F.col("parts_total") - F.col("parts_scanned")) * 100,
            F.col("parts_total"),
            2,
        ).alias("part_prune_pct"),
        ratio_round(
            (F.col("rows_total") - F.col("rows_scanned")) * 100,
            F.col("rows_total"),
            2,
        ).alias("row_prune_pct"),
    ).orderBy("lookback_days")


SALT_TARGET_PARTITIONS = 32  # shuffle width the salting plan is sized for
SALT_TOP_K = 20


def salting_plan(events: DataFrame) -> DataFrame:
    """Key-salting recommendation for the user-keyed shuffles — the FIX
    planner that `join_key_skew` (the measurement) feeds: with a target
    of total/P rows per reducer (P the shuffle width), any key whose row
    count exceeds the target needs its rows split across
    ceil(count/target) salt lanes for the shuffle to balance. Emits the
    top keys by volume with their exact salt factor — factor 1 keys
    certify the shuffle balances unsalted, which is itself the decision
    output (AQE skew-join handles transient skew; PERSISTENT factors > 1
    belong in the job's explicit salting config).

    One map-side-combinable count per key; the target is an exact
    integer ceiling of total/P; salt_factor = ceil(count/target) in
    integer math; top-k lands on TakeOrdered (no global sort). At any
    corpus size the output is K rows.
    """
    from inde1_spark.functions.exprs import ratio_round

    counts = events.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events")
    )
    total = counts.agg(
        F.sum("n_events").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_keys"),
    )
    p = F.lit(SALT_TARGET_PARTITIONS).cast("long")
    target = (
        (F.col("total") + p - F.lit(1).cast("long"))
        - (F.col("total") + p - F.lit(1).cast("long")) % p
    ) / p
    joined = counts.crossJoin(F.broadcast(total)).select(
        "user_id",
        "n_events",
        target.cast("long").alias("target_rows"),
    )
    sf = (
        F.col("n_events")
        + F.col("target_rows")
        - F.lit(1).cast("long")
    )
    salt_factor = ((sf - sf % F.col("target_rows")) / F.col("target_rows")).cast(
        "long"
    )
    return (
        joined.select(
            "user_id",
            "n_events",
            "target_rows",
            F.greatest(salt_factor, F.lit(1).cast("long")).alias("salt_factor"),
            ratio_round(F.col("n_events") * 100, F.col("target_rows"), 2).alias(
                "load_pct"
            ),
        )
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(SALT_TOP_K)
    )


BUCKET_TARGET_ROWS = 2000  # rows per bucket the layout is sized for


def bucketing_plan(
    events: DataFrame, orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Bucket-count recommendation per join key — the co-located-join
    sizing decision (`DESIGN.md` bucketing notes; the measured companion
    to `join_order_audit`): for each candidate bucket key, the exact row
    count and NDV set the bucket count at the smallest power of two
    whose buckets hold <= BUCKET_TARGET_ROWS rows on average. Power-of-two
    counts keep co-bucketed tables mutually divisible (a 256-bucket fact
    co-locates with a 64-bucket dim by hashing down), which is the
    property a 100 TB layout needs to avoid re-bucketing every join.

    One count+NDV aggregate per key (map-side combinable); the output is
    one row per candidate key. rows_per_key is the exact round-half-up
    ratio; keys whose NDV is below the bucket count get flagged (more
    buckets than values cannot balance).
    """
    from inde1_spark.functions.exprs import ratio_round

    def one(df: DataFrame, table: str, key: str) -> DataFrame:
        t = F.lit(BUCKET_TARGET_ROWS).cast("long")
        agg = df.agg(
            F.count("*").cast("long").alias("n_rows"),
            F.count_distinct(F.col(key)).cast("long").alias("ndv"),
        )
        need = F.col("n_rows") + t - F.lit(1).cast("long")
        # smallest power of two >= ceil(rows/target), exact integer
        # spelling both engines mirror: 2^bitlen(n-1) via the binary-
        # string length (no log2 — a transcendental on data-dependent
        # integers is a parity risk at exact power-of-two boundaries)
        filled = ((need - need % t) / t).cast("long")
        return agg.select(
            F.lit(table).alias("table_name"),
            F.lit(key).alias("key_col"),
            "n_rows",
            "ndv",
            filled.alias("_nb_need"),
        ).select(
            "table_name",
            "key_col",
            "n_rows",
            "ndv",
            F.when(F.col("_nb_need") <= 1, F.lit(1).cast("long"))
            .otherwise(
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT),"
                    " CAST(length(bin(_nb_need - 1)) AS INT))"
                )
            )
            .alias("n_buckets"),
        )

    plan = (
        one(events, "events", "user_id")
        .unionByName(one(events, "events", "event_type"))
        .unionByName(one(orders, "orders", "o_custkey"))
        .unionByName(one(orders, "orders", "o_orderkey"))
        .unionByName(one(lineitem, "lineitem", "l_orderkey"))
        .unionByName(one(lineitem, "lineitem", "l_partkey"))
    )
    return plan.select(
        "table_name",
        "key_col",
        "n_rows",
        "ndv",
        ratio_round(F.col("n_rows"), F.greatest("ndv", F.lit(1)), 2).alias(
            "rows_per_key"
        ),
        "n_buckets",
        (F.col("ndv") < F.col("n_buckets")).alias("underfilled"),
    ).orderBy("table_name", "key_col")


def window_completeness_audit(events: DataFrame) -> DataFrame:
    """Tumbling-window completeness audit — the data-quality gate for the
    hourly rollups (A1/A2, T5): over the corpus's hour span, how many
    hourly windows per event type actually contain data? Missing windows
    are silent gaps a downstream join or forecast interpolates over;
    counting them per type is the standard feed-health check before a
    window aggregate is trusted (the streaming sibling is the watermark
    gap alarm).

    Hour index = exact integer floor of epoch/3600; the expected count is
    the GLOBAL hour span (one yardstick for every type), observed is a
    distinct-hour count per type — one pass, map-side combinable;
    completeness is the exact round-half-up percent.
    """
    from inde1_spark.functions.exprs import ratio_round

    hour = (
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp("ts") % F.lit(3600).cast("long")
        )
        / F.lit(3600).cast("long")
    ).cast("long")
    hours = events.select("event_type", hour.alias("h"))
    span = hours.agg(
        F.min("h").alias("h0"),
        F.max("h").alias("h1"),
    ).select((F.col("h1") - F.col("h0") + 1).alias("expected_windows"))
    per_type = hours.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.count_distinct("h").cast("long").alias("observed_windows"),
    )
    return (
        per_type.crossJoin(F.broadcast(span))
        .select(
            "event_type",
            "n_events",
            "expected_windows",
            "observed_windows",
            (F.col("expected_windows") - F.col("observed_windows")).alias(
                "missing_windows"
            ),
            ratio_round(
                F.col("observed_windows") * 100, F.col("expected_windows"), 2
            ).alias("completeness_pct"),
        )
        .orderBy("event_type")
    )


DRIFT_BIN_WIDTH = 50  # value-histogram bin width for the drift audit
DRIFT_N_BINS = 10


def value_drift_audit(events: DataFrame) -> DataFrame:
    """Distribution-drift audit between the corpus's first and second time
    halves, per event type — the batch form of a feed drift monitor
    (`embedding_drift` watches vectors; this watches the value column a
    pipeline actually aggregates). The statistic is total variation
    distance over a fixed-width value histogram: TVD = (1/2) sum_b
    |p1(b) - p2(b)| — in [0, 1], zero iff the binned distributions
    match, and EXACT in integer math with the common denominator
    N1*N2: TVD = sum_b |n1b*N2 - n2b*N1| / (2*N1*N2). No chi-square
    (which would square counts past BIGINT at corpus scale) and no
    transcendentals (KL/PSI's data-dependent ln is a cross-engine ulp
    risk) — the 100 TB posture is two map-side-combinable histogram
    passes and a bounded per-type reduce. ratio_round's long-math bound
    (num*2e4 < 2^63) holds to ~3e7 rows per event type; past that the
    identity swaps verbatim onto decimal(38,0) with dec_floordiv (the
    CLAUDE.md wide-decimal rule) — documented swap, same plan.
    """
    from inde1_spark.functions.exprs import ratio_round

    sec = F.unix_timestamp("ts")
    binc = F.least(
        F.greatest(
            F.floor(F.col("value") / F.lit(float(DRIFT_BIN_WIDTH))).cast("long"),
            F.lit(0).cast("long"),
        ),
        F.lit(DRIFT_N_BINS - 1).cast("long"),
    )
    base = events.select("event_type", sec.alias("sec"), binc.alias("bin"))
    bounds = base.agg(F.min("sec").alias("s0"), F.max("sec").alias("s1")).select(
        (
            F.col("s0")
            + (
                (F.col("s1") - F.col("s0"))
                - (F.col("s1") - F.col("s0")) % F.lit(2).cast("long")
            )
            / 2
        )
        .cast("long")
        .alias("boundary")
    )
    cells = (
        base.crossJoin(F.broadcast(bounds))
        .groupBy("event_type", "bin")
        .agg(
            F.sum(F.when(F.col("sec") <= F.col("boundary"), 1).otherwise(0))
            .cast("long")
            .alias("n1"),
            F.sum(F.when(F.col("sec") > F.col("boundary"), 1).otherwise(0))
            .cast("long")
            .alias("n2"),
        )
    )
    totals = cells.groupBy("event_type").agg(
        F.sum("n1").cast("long").alias("n_first"),
        F.sum("n2").cast("long").alias("n_second"),
    )
    per_type = (
        cells.join(totals, "event_type")
        .groupBy("event_type", "n_first", "n_second")
        .agg(
            F.sum(
                F.abs(
                    F.col("n1") * F.col("n_second")
                    - F.col("n2") * F.col("n_first")
                )
            )
            .cast("long")
            .alias("num")
        )
    )
    tvd = F.when(
        (F.col("n_first") > 0) & (F.col("n_second") > 0),
        ratio_round(
            F.col("num"), F.col("n_first") * F.col("n_second") * 2, 4
        ),
    ).otherwise(F.lit(0.0))
    return per_type.select(
        "event_type", "n_first", "n_second", tvd.alias("tvd")
    ).orderBy("event_type")


LEAKAGE_TRAIN_PCT = 80  # temporal split point: first 80% of the time span


def temporal_leakage_audit(events: DataFrame) -> DataFrame:
    """Entity-leakage audit for a TEMPORAL train/test split — the check
    `train_test_split_grouped` (hash splits) cannot do: when evaluation
    splits on time (forecasting, next-event prediction), any user active
    on BOTH sides leaks behavioral identity across the boundary, and
    per-user models quietly memorize. Reports, per event type, how many
    test-side users the split leaks — the number that decides between a
    time split and a user-disjoint split.

    The boundary is an exact integer epoch: s0 + floor((s1-s0)*80/100).
    Leak count per type is |train ∩ test| = |train| + |test| - |either|,
    three conditional distinct aggregates in one pass (no self-join).
    """
    from inde1_spark.functions.exprs import ratio_round

    sec = F.unix_timestamp("ts")
    base = events.select("event_type", "user_id", sec.alias("sec"))
    d = (F.col("s1") - F.col("s0")) * F.lit(LEAKAGE_TRAIN_PCT).cast("long")
    bounds = base.agg(F.min("sec").alias("s0"), F.max("sec").alias("s1")).select(
        (F.col("s0") + ((d - d % F.lit(100).cast("long")) / 100).cast("long")).alias(
            "boundary"
        )
    )
    is_train = F.col("sec") <= F.col("boundary")
    per_type = (
        base.crossJoin(F.broadcast(bounds))
        .groupBy("event_type")
        .agg(
            F.count_distinct(F.when(is_train, F.col("user_id")))
            .cast("long")
            .alias("n_train_users"),
            F.count_distinct(F.when(~is_train, F.col("user_id")))
            .cast("long")
            .alias("n_test_users"),
            F.count_distinct("user_id").cast("long").alias("n_users"),
        )
    )
    leak = F.col("n_train_users") + F.col("n_test_users") - F.col("n_users")
    return per_type.select(
        "event_type",
        "n_train_users",
        "n_test_users",
        leak.alias("n_leak_users"),
        F.when(
            F.col("n_test_users") > 0,
            ratio_round(leak * 100, F.col("n_test_users"), 2),
        )
        .otherwise(F.lit(0.0))
        .alias("leak_pct"),
    ).orderBy("event_type")


BROADCAST_LIMIT_BYTES = 10 * 1024 * 1024  # Spark's autoBroadcastJoinThreshold


def broadcast_plan_audit(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
) -> DataFrame:
    """Join-strategy audit over the warehouse tables: estimated in-memory
    size per table against the broadcast threshold — the planning number
    behind every `F.broadcast()` hint in this engine (the dims the
    reference joins stream-side are broadcast here by fiat; this audit
    MEASURES which tables qualify as the corpus grows, so the hint list
    is maintained by evidence, not folklore).

    The estimate is the portable column-width model: sum of string
    lengths plus 8 bytes per numeric/timestamp cell — exact integer
    aggregates, one pass per table, each emitting a single row (sums
    coalesced to 0 so an empty table reads 0 bytes, not NULL).
    """

    def one(df: DataFrame, table: str, str_cols: list[str], n_num: int) -> DataFrame:
        z = F.lit(0).cast("long")
        strs = sum(
            (F.coalesce(F.sum(F.length(F.col(c))).cast("long"), z)
             for c in str_cols),
            F.lit(0).cast("long"),
        )
        return df.agg(
            F.count("*").cast("long").alias("n_rows"),
            strs.cast("long").alias("_str_bytes"),
        ).select(
            F.lit(table).alias("table_name"),
            "n_rows",
            (
                F.col("_str_bytes")
                + F.col("n_rows") * F.lit(8 * n_num).cast("long")
            ).alias("est_bytes"),
        )

    plan = (
        one(region, "region", ["r_name"], 1)
        .unionByName(one(nation, "nation", ["n_name"], 2))
        .unionByName(
            one(customer, "customer", ["c_name", "c_mktsegment"], 3)
        )
        .unionByName(one(supplier, "supplier", ["s_name"], 3))
        .unionByName(one(part, "part", ["p_name", "p_brand", "p_type"], 3))
        .unionByName(
            one(orders, "orders", ["o_orderstatus", "o_orderpriority"], 4)
        )
        .unionByName(
            one(lineitem, "lineitem", ["l_returnflag", "l_linestatus"], 9)
        )
    )
    return plan.select(
        "table_name",
        "n_rows",
        "est_bytes",
        F.when(
            F.col("est_bytes") <= F.lit(BROADCAST_LIMIT_BYTES).cast("long"),
            F.lit("broadcast"),
        )
        .otherwise(F.lit("shuffle"))
        .alias("strategy"),
    ).orderBy("table_name")


LEN_DRIFT_BIN_WIDTH = 50   # char-length histogram bin width
LEN_DRIFT_N_BINS = 20      # top bin is open-ended (everything past 1000 chars)


def source_length_drift(documents: DataFrame) -> DataFrame:
    """Pairwise source-vs-source document-length drift matrix — the corpus
    sibling of `value_drift_audit` (first-half vs second-half on one feed):
    when a training mixture blends S sources, the curation question is
    which PAIRS disagree on the length profile (a proxy for boilerplate,
    truncation, or chunking differences) before mixture weights are fit.
    The statistic is again total variation distance — exact in integer
    math with the common denominator N_a*N_b (TVD = Sum_b |n_ab*N_b -
    n_bb*N_a| / (2*N_a*N_b)) — because TVD is PAIRWISE-SAFE where PSI/KL
    are not: every pairwise denominator is a product of the two sources'
    own counts, no reference distribution to zero out, no data-dependent
    ln to drift an ulp across engines (the r10 value_drift_audit design
    note, generalized to the S^2/2 grid).

    One corpus-volume pass builds the (source, bin) histogram (map-side
    combinable); everything after runs on the bounded S*B table: the
    S^2/2 pair grid and the grid x bins fill-in are broadcast joins over
    kilobyte inputs at any corpus size. The TVD ratio runs entirely in
    DECIMAL(38,0) with dec_floordiv (CLAUDE.md wide-decimal rule), NOT
    ratio_round's long spelling: ratio_round's 2^53 exactness contract
    caps at N_a*N_b ~ 2.25e11 (~4.7e5 rows per source, far too small),
    and even the cell products ca*n_b overflow BIGINT past ~3e9 rows per
    source. The decimal spelling is exact to N_a*N_b*4e4 < 10^38, i.e.
    ~5e16 rows per source; the DuckDB twin mirrors it in HUGEINT. The
    rounded quotient is an integer <= 10^scale, so the trailing
    cast-to-double divide is exact-deterministic in both engines.
    """
    from inde1_spark.functions.exprs import dec_ratio_round

    w = F.lit(LEN_DRIFT_BIN_WIDTH).cast("long")
    nc = F.col("n_chars").cast("long")
    binc = F.least(
        ((nc - nc % w) / w).cast("long"),
        F.lit(LEN_DRIFT_N_BINS - 1).cast("long"),
    )
    # the bounded histogram feeds totals, the bin list AND both grid join
    # sides — persist it so the corpus-volume scan happens exactly once
    hist = persist(
        documents.select("source", binc.alias("bin"))
        .groupBy("source", "bin")
        .agg(F.count("*").cast("long").alias("c"))
    )
    totals = hist.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    pairs = (
        totals.select(
            F.col("source").alias("source_a"), F.col("n").alias("n_a")
        )
        .join(
            F.broadcast(
                totals.select(
                    F.col("source").alias("source_b"), F.col("n").alias("n_b")
                )
            ),
            F.col("source_a") < F.col("source_b"),
        )
    )
    bins = hist.select("bin").distinct()
    grid = pairs.join(F.broadcast(bins))
    ha = hist.select(
        F.col("source").alias("source_a"), "bin", F.col("c").alias("ca")
    )
    hb = hist.select(
        F.col("source").alias("source_b"), "bin", F.col("c").alias("cb")
    )
    cells = (
        grid.join(F.broadcast(ha), ["source_a", "bin"], "left")
        .join(F.broadcast(hb), ["source_b", "bin"], "left")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            F.coalesce(F.col("ca"), F.lit(0).cast("long")).alias("ca"),
            F.coalesce(F.col("cb"), F.lit(0).cast("long")).alias("cb"),
        )
    )
    def dec(c):
        return c.cast("decimal(38,0)")

    per_pair = cells.groupBy("source_a", "source_b", "n_a", "n_b").agg(
        F.sum(
            F.abs(dec(F.col("ca")) * dec(F.col("n_b"))
                  - dec(F.col("cb")) * dec(F.col("n_a")))
        ).alias("num")
    )
    # sources reach the grid only via their own histogram rows, so
    # n_a, n_b >= 1 by construction — the TVD denominator cannot degenerate
    return per_pair.select(
        "source_a",
        "source_b",
        "n_a",
        "n_b",
        dec_ratio_round(
            F.col("num"),
            dec(F.col("n_a")) * dec(F.col("n_b")) * F.lit(2).cast("decimal(38,0)"),
            4,
        ).alias("tvd"),
    ).orderBy("source_a", "source_b")


COPART_BROADCAST_ROWS = 10_000  # small side under this row count: broadcast


def copartition_audit(
    events: DataFrame,
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    part: DataFrame,
) -> DataFrame:
    """Per-JOIN strategy decision over the engine's canonical join log —
    the checker `bucketing_plan` (per-key bucket sizing) feeds: for each
    join the warehouse actually runs, do the recommended power-of-two
    bucket counts co-locate the two sides, what down-hash factor does the
    larger layout pay, and does per-key skew break bucketing regardless?
    `broadcast_plan_audit` prices single TABLES against the broadcast
    threshold; this audit prices JOINS, which is the unit the planner
    decides (join list is bounded — the reference's join surface, cited
    per entry below — so the output is a fixed handful of rows).

    Per side, ONE map-side-combinable aggregate over the key-count table
    yields rows/max-key-rows; bucket counts reuse the exact
    next-pow2 spelling (`1 << bitlen(n-1)` via the binary-string length —
    the bucketing_plan rule: no log2 on data-dependent integers).
    Decision ladder, all exact integers: a side under
    COPART_BROADCAST_ROWS rows never needs bucketing ('broadcast'); a
    probe side whose hottest key alone overflows BUCKET_TARGET_ROWS
    cannot be balanced by ANY bucket count ('salt' — the salting_plan
    hand-off); otherwise the pow2 counts co-locate by construction and
    the join rides the bucketed layout ('cobucket'). rehash_factor is the
    exact pow2 ratio the larger side hashes down by.
    """

    def side(df: DataFrame, table: str, key: str, tag: str) -> DataFrame:
        t = F.lit(BUCKET_TARGET_ROWS).cast("long")
        per_key = df.groupBy(F.col(key).alias("k")).agg(
            F.count("*").cast("long").alias("ck")
        )
        agg = per_key.agg(
            F.coalesce(F.sum("ck"), F.lit(0)).cast("long").alias("n_rows"),
            F.coalesce(F.max("ck"), F.lit(0)).cast("long").alias("max_key_rows"),
        )
        need = F.col("n_rows") + t - F.lit(1).cast("long")
        filled = ((need - need % t) / t).cast("long")
        nb = F.when(F.col("_nb_need") <= 1, F.lit(1).cast("long")).otherwise(
            F.expr(
                "shiftleft(CAST(1 AS BIGINT),"
                " CAST(length(bin(_nb_need - 1)) AS INT))"
            )
        )
        return (
            agg.select(
                F.lit(table).alias(f"{tag}_table"),
                F.lit(key).alias(f"{tag}_key"),
                F.col("n_rows").alias(f"n_{tag}"),
                F.col("max_key_rows").alias(f"_maxk_{tag}"),
                filled.alias("_nb_need"),
            )
            .select(
                f"{tag}_table",
                f"{tag}_key",
                f"n_{tag}",
                f"_maxk_{tag}",
                nb.alias(f"nb_{tag}"),
            )
        )

    # customer's key-count side feeds TWO joins, and (unlike matryoshka's
    # truth table) the duplicate single-row aggregates are NOT exchange-
    # reused here (probed: ReusedExchange 0, customer scanned twice) — so
    # each (table, key, role) side is built once and persisted (1 row)
    _sides: dict[tuple[str, str, str], DataFrame] = {}

    def side_once(df: DataFrame, t: str, k: str, tag: str) -> DataFrame:
        key = (t, k, tag)
        if key not in _sides:
            _sides[key] = persist(side(df, t, k, tag))
        return _sides[key]

    def join_row(
        ldf: DataFrame, lt: str, lk: str, rdf: DataFrame, rt: str, rk: str
    ) -> DataFrame:
        return (
            side_once(ldf, lt, lk, "left")
            .crossJoin(F.broadcast(side_once(rdf, rt, rk, "right")))
            .select(
                F.concat_ws("_", F.lit(lt), F.lit(rt)).alias("join_name"),
                "left_table",
                "left_key",
                "right_table",
                "right_key",
                "n_left",
                "n_right",
                "nb_left",
                "nb_right",
                "_maxk_left",
                "_maxk_right",
            )
        )

    # the engine's canonical equi-joins (reference join surface: the user
    # enrichment J1/J4 and the TPC-H order->lineitem / part lookups)
    plan = (
        join_row(events, "events", "user_id", customer, "customer", "c_custkey")
        .unionByName(
            join_row(
                orders, "orders", "o_custkey", customer, "customer", "c_custkey"
            )
        )
        .unionByName(
            join_row(
                lineitem, "lineitem", "l_orderkey", orders, "orders", "o_orderkey"
            )
        )
        .unionByName(
            join_row(lineitem, "lineitem", "l_partkey", part, "part", "p_partkey")
        )
    )
    big = F.greatest(F.col("nb_left"), F.col("nb_right"))
    small = F.least(F.col("nb_left"), F.col("nb_right"))
    rehash = ((big - big % small) / small).cast("long")
    # the probe (larger-rows) side's hottest key decides the skew verdict
    probe_maxk = F.when(
        F.col("n_left") >= F.col("n_right"), F.col("_maxk_left")
    ).otherwise(F.col("_maxk_right"))
    lim = F.lit(COPART_BROADCAST_ROWS).cast("long")
    tgt = F.lit(BUCKET_TARGET_ROWS).cast("long")
    return plan.select(
        "join_name",
        "left_table",
        "left_key",
        "right_table",
        "right_key",
        "n_left",
        "n_right",
        "nb_left",
        "nb_right",
        (big % small == 0).alias("co_located"),
        rehash.alias("rehash_factor"),
        probe_maxk.alias("probe_max_key_rows"),
        F.when(F.least(F.col("n_left"), F.col("n_right")) < lim, F.lit("broadcast"))
        .when(probe_maxk > tgt, F.lit("salt"))
        .otherwise(F.lit("cobucket"))
        .alias("strategy"),
    ).orderBy("join_name")


def schema_evolution_audit(events: DataFrame) -> DataFrame:
    """Day-over-day schema evolution of the semi-structured ``props``
    payload — the compat audit an archived event stream needs before a
    reader upgrade ships (reference intent: the aspirational rich event
    schema in doc/schemas/parkingevent.json vs what producers actually
    emit; S4's malformed-row surface, lifted to the FIELD level).
    ``json_props_audit`` inventories keys corpus-globally; this audit
    adds the time axis: for every day-partition of the archive, which
    keys appeared, which disappeared, and which changed dominant value
    type vs the previous observed day — with the standard compat
    verdicts (added-only = backward compatible: old readers ignore new
    keys; removed or type-changed = breaking: a reader pinned to
    yesterday's schema loses fields or miscasts).

    One map-side-combinable (day, key, vtype) aggregate prices the
    corpus volume; everything after (dominant-type argmax, the lag
    pairing of the bounded day list, the three day-pair joins) runs on
    the days x keys table, which is small at any archive size. Type
    inference reuses json_props_audit's engine-neutral value-text regex.
    The argmax and the day sequence use total orders (count desc then
    vtype asc; day asc) so the output is partitioning-invariant.
    """
    vtype = (
        F.when(F.col("value").rlike("^-?[0-9]+$"), "int")
        .when(F.col("value").rlike("^-?[0-9]*\\.[0-9]+$"), "float")
        .otherwise("string")
    )
    kv = events.select(
        _day_str().alias("day"),
        F.explode(F.from_json("props", "map<string,string>")).alias(
            "key", "value"
        ),
    )
    counted = (
        kv.withColumn("vtype", vtype)
        .groupBy("day", "key", "vtype")
        .agg(F.count("*").cast("long").alias("n"))
    )
    dom = (
        counted.groupBy("day", "key")
        .agg(
            F.min(
                F.struct((-F.col("n")).alias("neg"), F.col("vtype"))
            ).alias("b")
        )
        .select("day", "key", F.col("b.vtype").alias("vtype"))
    )
    days = dom.select("day").distinct()
    seq = days.select(
        "day", F.lag("day").over(Window.orderBy("day")).alias("prev_day")
    )
    cur = dom.join(seq, "day")  # (day, prev_day, key, vtype)
    prev = dom.select(
        F.col("day").alias("prev_day"),
        "key",
        F.col("vtype").alias("prev_vtype"),
    )
    n_keys = dom.groupBy("day").agg(F.count("*").cast("long").alias("n_keys"))
    added = (
        cur.filter(F.col("prev_day").isNotNull())
        .join(prev, ["prev_day", "key"], "left_anti")
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("n_added"))
    )
    removed = (
        seq.filter(F.col("prev_day").isNotNull())
        .join(prev, "prev_day")
        .join(dom.select("day", "key"), ["day", "key"], "left_anti")
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("n_removed"))
    )
    changed = (
        cur.filter(F.col("prev_day").isNotNull())
        .join(prev, ["prev_day", "key"])
        .filter(F.col("vtype") != F.col("prev_vtype"))
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("n_type_changed"))
    )
    z = F.lit(0).cast("long")
    out = (
        seq.join(n_keys, "day")
        .join(added, "day", "left")
        .join(removed, "day", "left")
        .join(changed, "day", "left")
        .select(
            "day",
            "n_keys",
            F.coalesce("n_added", z).alias("n_added"),
            F.coalesce("n_removed", z).alias("n_removed"),
            F.coalesce("n_type_changed", z).alias("n_type_changed"),
            F.col("prev_day").isNull().alias("_first"),
        )
    )
    verdict = (
        F.when(F.col("_first"), F.lit("baseline"))
        .when(
            (F.col("n_removed") > 0) | (F.col("n_type_changed") > 0),
            F.lit("breaking"),
        )
        .when(F.col("n_added") > 0, F.lit("backward_compatible"))
        .otherwise(F.lit("stable"))
    )
    return out.select(
        "day",
        "n_keys",
        "n_added",
        "n_removed",
        "n_type_changed",
        verdict.alias("verdict"),
    ).orderBy("day")


# encoding decision rules (exact integer comparisons, no float ratios):
RLE_MIN_MEAN_RUN = 4     # mean run length >= 4 -> run-length encoding wins
DICT_MAX_NDV_PCT = 10    # ndv <= 10% of rows -> dictionary encoding wins
COMPRESS_AUDIT_COLS = ("event_type", "user_id", "value", "props")


def compression_ratio_audit(events: DataFrame) -> DataFrame:
    """Per-column encoding audit under the CURRENT physical layout — the
    measured input to a parquet encoding/rewrite decision, completing the
    layout-audit ladder (zonemap_prune_audit: predicate pruning;
    sort_benefit_audit: hypothetical re-sort; file_compaction_plan: file
    sizing; this: per-column encodability). For each audited column:
    exact NDV (dictionary-encoding benefit) and the exact number of
    value RUNS in (ts, event_id) order within each day partition
    (run-length benefit as written, since writers lay rows down in
    arrival order per partition). The verdict is the standard ladder:
    mean run >= RLE_MIN_MEAN_RUN -> 'rle'; else ndv <= DICT_MAX_NDV_PCT
    percent of rows -> 'dict'; else 'plain' — both comparisons in exact
    integer cross-multiplied form.

    ONE window pass computes all columns' run starts (the row_number and
    every lag share the same day-partitioned (ts, event_id) window spec,
    so Catalyst plans a single sort per day partition — parallel across
    days, never a global sort); ONE aggregate row carries the
    per-column sums/NDVs; the per-column output rows are projections of
    that single row (no per-column rescans).
    """
    from inde1_spark.functions.exprs import ratio_round

    w = Window.partitionBy(F.col("_day")).orderBy("ts", "event_id")
    cols = list(COMPRESS_AUDIT_COLS)
    base = events.select("ts", "event_id", *cols).withColumn(
        "_day", _day_str()
    )
    rn1 = F.row_number().over(w) == 1
    flagged = base.select(
        *cols,
        *[
            (rn1 | ~F.col(c).eqNullSafe(F.lag(c).over(w))).alias(f"_start_{c}")
            for c in cols
        ],
    )

    # the per-column output rows are 4 projections of this ONE row: persist
    # it, or each union branch re-runs the window pass (the copartition
    # lesson: exchange reuse across union branches is NOT guaranteed)
    agg = persist(flagged.agg(
        F.count("*").cast("long").alias("n_rows"),
        *[
            F.sum(F.when(F.col(f"_start_{c}"), 1).otherwise(0))
            .cast("long")
            .alias(f"runs_{c}")
            for c in cols
        ],
        *[F.countDistinct(c).cast("long").alias(f"ndv_{c}") for c in cols],
    ))
    per_col = None
    for c in cols:
        row = agg.select(
            F.lit(c).alias("column_name"),
            F.col("n_rows"),
            F.col(f"ndv_{c}").alias("n_distinct"),
            F.col(f"runs_{c}").alias("n_runs"),
        )
        per_col = row if per_col is None else per_col.unionByName(row)
    enc = (
        F.when(
            F.col("n_rows") >= F.lit(RLE_MIN_MEAN_RUN) * F.col("n_runs"),
            F.lit("rle"),
        )
        .when(
            F.col("n_distinct") * 100 <= F.lit(DICT_MAX_NDV_PCT) * F.col("n_rows"),
            F.lit("dict"),
        )
        .otherwise(F.lit("plain"))
    )
    return per_col.select(
        "column_name",
        "n_rows",
        "n_distinct",
        "n_runs",
        ratio_round(F.col("n_rows"), F.greatest(F.col("n_runs"), F.lit(1)), 2)
        .alias("mean_run_len"),
        # empty-table guard matches the twin's GREATEST(n_rows, 1)
        # (Spark ANSI throws on /0 where DuckDB returns NULL — CLAUDE.md)
        ratio_round(
            F.col("n_distinct") * 100, F.greatest(F.col("n_rows"), F.lit(1)), 2
        ).alias("ndv_pct"),
        enc.alias("encoding"),
    ).orderBy("column_name")


JT_GROUP_HOURS = 6  # day quarters: the ordered groups (0..3)


def jonckheere_terpstra_trend(events: DataFrame) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative k-sample test across the
    day's quarters: does ``value`` trend MONOTONICALLY as the day
    progresses? Completes the rank-test tier — ``kruskal_wallis`` asks
    "different anywhere" with no ordering, ``page_trend_test`` orders
    TREATMENTS within blocks; JT is the unblocked ordered k-sample
    member (strictly more powerful than KW against monotone shifts).
    Groups are hour-div-6 day quarters (hour() is engine-identical
    where dayofweek is NOT — CLAUDE.md).

    Sort-free, the kruskal/mann-whitney discipline: values micro-snap
    onto the bounded centi-grid histogram (the only corpus-volume
    shuffle is the map-side-combined (group, v) count); U accumulates at
    x2 scale over the grid x group-pair join — U2 = sum_{i<j} sum_v
    cnt_j(v) * (2*cumlt_i(v) + cnt_i(v)), every term an exact integer
    in DECIMAL(38,0). Null moments use the full tie-corrected
    Hollander-Wolfe forms: E[U] = (N^2 - sum n_i^2)/4 and the
    three-term variance, each quotient micro-rounded half-up in
    decimal (the chi2 micro-grid contract), z through the digit-split
    double chain with an explicit sign split (U - E can be negative;
    the digit split requires nonnegative operands). Degenerate inputs
    (all one group, or every value tied) filter out ANSI-safe.
    """
    from inde1_spark.functions.exprs import dec_floordiv, dec_to_double_exact

    def d38(c):
        return c.cast("decimal(38,0)")

    def rhu_micro(num, den):
        # round_half_up(num * 1e6 / den) in exact decimal
        n6 = num * F.lit(1_000_000).cast("decimal(38,0)")
        return dec_floordiv(
            (n6 * F.lit(2).cast("decimal(38,0)") + den).cast("decimal(38,0)"),
            (den * F.lit(2).cast("decimal(38,0)")).cast("decimal(38,0)"),
        ).cast("decimal(38,0)")

    y = F.floor(F.col("value").cast("double") * F.lit(1e6) + F.lit(0.5)).cast(
        "long"
    )
    g = (F.hour("ts").cast("long") / F.lit(JT_GROUP_HOURS)).cast("long")
    raw = events.select(g.alias("g"), y.alias("y"))
    gmin = raw.agg(F.min("y").alias("y_min"))
    hist = persist(
        raw.join(F.broadcast(gmin))
        .select(
            "g",
            F.expr(f"(y - y_min) div CAST({MW_RESCALE} AS BIGINT)").alias("v"),
        )
        .groupBy("g", "v")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    # zero-filled grid: every group needs cumlt at EVERY observed v
    groups = hist.select("g").distinct()
    vals = hist.select("v").distinct()
    grid = (
        groups.join(F.broadcast(vals))
        .join(hist, ["g", "v"], "left")
        .select(
            "g", "v", F.coalesce("cnt", F.lit(0).cast("long")).alias("cnt")
        )
    )
    wcum = Window.partitionBy("g").orderBy("v")
    cum = persist(
        grid.withColumn(
            "cumlt",
            F.coalesce(
                F.sum("cnt").over(
                    wcum.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            ),
        )
    )
    lo = cum.select(
        F.col("g").alias("g_i"), "v",
        F.col("cnt").alias("cnt_i"), F.col("cumlt").alias("cumlt_i"),
    )
    hi = cum.select(
        F.col("g").alias("g_j"), "v", F.col("cnt").alias("cnt_j")
    )
    u2 = (
        lo.join(hi, "v")
        .filter(F.col("g_i") < F.col("g_j"))
        .agg(
            F.sum(
                d38(F.col("cnt_j"))
                * (
                    F.lit(2).cast("decimal(38,0)") * d38(F.col("cumlt_i"))
                    + d38(F.col("cnt_i"))
                )
            ).alias("u2")
        )
    )
    per_g = hist.groupBy("g").agg(F.sum("cnt").cast("long").alias("n_i"))
    gstats = per_g.agg(
        F.sum(d38(F.col("n_i"))).alias("n_dec"),
        F.sum("n_i").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("k_groups"),
        F.sum(d38(F.col("n_i")) * d38(F.col("n_i"))).alias("sum_n2"),
        F.sum(
            d38(F.col("n_i"))
            * (d38(F.col("n_i")) - F.lit(1).cast("decimal(38,0)"))
        ).alias("sum_n_n1"),
        F.sum(
            d38(F.col("n_i"))
            * (d38(F.col("n_i")) - F.lit(1).cast("decimal(38,0)"))
            * (F.lit(2).cast("decimal(38,0)") * d38(F.col("n_i"))
               + F.lit(5).cast("decimal(38,0)"))
        ).alias("sum_n_n1_2n5"),
        F.sum(
            d38(F.col("n_i"))
            * (d38(F.col("n_i")) - F.lit(1).cast("decimal(38,0)"))
            * (d38(F.col("n_i")) - F.lit(2).cast("decimal(38,0)"))
        ).alias("sum_n_n1_n2"),
    )
    merged = hist.groupBy("v").agg(F.sum("cnt").cast("long").alias("m"))
    tstats = merged.agg(
        F.sum(
            d38(F.col("m"))
            * (d38(F.col("m")) - F.lit(1).cast("decimal(38,0)"))
            * (F.lit(2).cast("decimal(38,0)") * d38(F.col("m"))
               + F.lit(5).cast("decimal(38,0)"))
        ).alias("sum_t_t1_2t5"),
        F.sum(
            d38(F.col("m"))
            * (d38(F.col("m")) - F.lit(1).cast("decimal(38,0)"))
            * (d38(F.col("m")) - F.lit(2).cast("decimal(38,0)"))
        ).alias("sum_t_t1_t2"),
        F.sum(
            d38(F.col("m"))
            * (d38(F.col("m")) - F.lit(1).cast("decimal(38,0)"))
        ).alias("sum_t_t1"),
    )
    s = u2.join(F.broadcast(gstats)).join(F.broadcast(tstats))
    one = F.lit(1).cast("decimal(38,0)")
    two = F.lit(2).cast("decimal(38,0)")
    n = F.col("n_dec")
    # the x4-scale mean: N^2 - sum n_i^2 = 4*E[U] (halved to x2 below)
    e2 = (n * n - F.col("sum_n2")).cast("decimal(38,0)")
    # A/72 + B/(36 N(N-1)(N-2)) + C/(8 N(N-1)), micro-rounded per term
    a_term = (
        n * (n - one) * (two * n + F.lit(5).cast("decimal(38,0)"))
        - F.col("sum_n_n1_2n5")
        - F.col("sum_t_t1_2t5")
    ).cast("decimal(38,0)")
    b_num = (F.col("sum_n_n1_n2") * F.col("sum_t_t1_t2")).cast("decimal(38,0)")
    c_num = (F.col("sum_n_n1") * F.col("sum_t_t1")).cast("decimal(38,0)")
    # A can go NEGATIVE under extreme ties (one block spanning most of N);
    # floor-div semantics differ across engines for negative numerators
    # (Spark % keeps dividend sign, DuckDB // floors), so the micro-round
    # runs on |A| with the sign applied after — round-half-away-from-zero,
    # mirrored verbatim in the twin
    a_sgn = (
        F.when(a_term < 0, F.lit(-1)).otherwise(F.lit(1)).cast("decimal(38,0)")
    )
    var_micro = (
        a_sgn
        * rhu_micro(
            F.abs(a_term).cast("decimal(38,0)"),
            F.lit(72).cast("decimal(38,0)"),
        )
        + rhu_micro(
            b_num,
            (F.lit(36).cast("decimal(38,0)") * n * (n - one) * (n - two))
            .cast("decimal(38,0)"),
        )
        + rhu_micro(
            c_num,
            (F.lit(8).cast("decimal(38,0)") * n * (n - one)).cast(
                "decimal(38,0)"
            ),
        )
    ).cast("decimal(38,0)")
    # U2 - E2 with an explicit sign split (digit-split needs nonnegative);
    # E2 here is 4*E[U] at x2... E[U] = (N^2 - sum n2)/4, U2 = 2U, so the
    # comparable x2-scale mean is (N^2 - sum n2)/2 = e2 div 2 (exact: the
    # numerator is always even — N^2 and sum n_i^2 share parity)
    e2h = dec_floordiv(e2, two).cast("decimal(38,0)")
    diff = (F.col("u2") - e2h).cast("decimal(38,0)")
    sgn = F.when(diff < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    absdiff = F.abs(diff).cast("decimal(38,0)")
    u_minus_e = sgn * dec_to_double_exact(absdiff) / F.lit(2.0)
    sd = F.sqrt(dec_to_double_exact(var_micro) / F.lit(1e6))
    return (
        s.filter(
            (F.col("k_groups") > 1)
            & (F.col("n_total") > F.col("k_groups"))
            & (var_micro > 0)
        )
        .select(
            "n_total",
            "k_groups",
            (dec_to_double_exact(F.col("u2")) / F.lit(2.0)).alias("u_stat"),
            (dec_to_double_exact(e2h) / F.lit(2.0)).alias("mean_u"),
            (dec_to_double_exact(var_micro) / F.lit(1e6)).alias("var_u"),
            (u_minus_e / sd).alias("z_stat"),
        )
    )


MH_EXPOSURE_HOUR = 12  # exposure: afternoon event (hour >= 12)


def mantel_haenszel_or(events: DataFrame) -> DataFrame:
    """Mantel-Haenszel day-stratified common odds ratio for exit-vs-entry
    odds by time of day — the confounder-adjusted member of the
    association tier: ``odds_ratio_daily`` prices each day's 2x2 alone
    and ``chi2_independence`` pools everything (Simpson's-paradox bait
    when daily volume shifts); MH pools the evidence WITHOUT pooling the
    strata: OR_MH = sum_i(a_i*d_i/n_i) / sum_i(b_i*c_i/n_i), weighting
    each day by its own precision. Exposure = afternoon (hour >= 12,
    engine-identical), outcome = EXIT among the entry/exit pair.

    One map-side-combinable (day, exposed, outcome) count is the only
    corpus-volume pass; the per-day 2x2 pivots from four conditional
    sums and each stratum quotient micro-rounds half-up in
    DECIMAL(38,0) before the exact sums (the chi2 micro-grid contract —
    no float accumulation order anywhere). The final ratio is ONE
    double divide of two digit-split-exact sums. Strata with empty
    margins contribute their true zero products; a corpus where either
    pooled product sum is zero filters out (OR undefined), ANSI-safe.
    """
    from inde1_spark.functions.exprs import dec_floordiv, dec_to_double_exact

    def d38(c):
        return c.cast("decimal(38,0)")

    def rhu_micro(num, den):
        n6 = num * F.lit(1_000_000).cast("decimal(38,0)")
        return dec_floordiv(
            (n6 * F.lit(2).cast("decimal(38,0)") + den).cast("decimal(38,0)"),
            (den * F.lit(2).cast("decimal(38,0)")).cast("decimal(38,0)"),
        ).cast("decimal(38,0)")

    base = events.filter(
        F.col("event_type").isin(ENTRY_TYPE, EXIT_TYPE)
    ).select(
        _day_str().alias("day"),
        (F.hour("ts") >= MH_EXPOSURE_HOUR).alias("exposed"),
        (F.col("event_type") == EXIT_TYPE).alias("outcome"),
    )
    cell = base.groupBy("day").agg(
        F.sum(F.when(F.col("exposed") & F.col("outcome"), 1).otherwise(0))
        .cast("long").alias("a"),
        F.sum(F.when(F.col("exposed") & ~F.col("outcome"), 1).otherwise(0))
        .cast("long").alias("b"),
        F.sum(F.when(~F.col("exposed") & F.col("outcome"), 1).otherwise(0))
        .cast("long").alias("c"),
        F.sum(F.when(~F.col("exposed") & ~F.col("outcome"), 1).otherwise(0))
        .cast("long").alias("d"),
    )
    n_i = (
        F.col("a") + F.col("b") + F.col("c") + F.col("d")
    ).cast("long")
    per = cell.select(
        rhu_micro(d38(F.col("a")) * d38(F.col("d")), d38(n_i)).alias("num_q"),
        rhu_micro(d38(F.col("b")) * d38(F.col("c")), d38(n_i)).alias("den_q"),
    )
    s = per.agg(
        F.count("*").cast("long").alias("n_strata"),
        F.sum("num_q").cast("decimal(38,0)").alias("s_num"),
        F.sum("den_q").cast("decimal(38,0)").alias("s_den"),
    )
    return s.filter((F.col("s_num") > 0) & (F.col("s_den") > 0)).select(
        "n_strata",
        (dec_to_double_exact(F.col("s_num")) / F.lit(1e6)).alias("sum_ad_n"),
        (dec_to_double_exact(F.col("s_den")) / F.lit(1e6)).alias("sum_bc_n"),
        (
            dec_to_double_exact(F.col("s_num"))
            / dec_to_double_exact(F.col("s_den"))
        ).alias("or_mh"),
    )


RANGE_PLAN_PARTS = 8  # target partition count for the range layout


def range_partition_plan(events: DataFrame, n_parts: int = RANGE_PLAN_PARTS) -> DataFrame:
    """Range-partitioning boundary planner over ``value`` — the RANGE
    face of the layout-planning ladder (salting_plan prices hash skew,
    bucketing_plan hash bucket counts, zorder/hilbert multi-column
    clustering; repartitionByRange needs BOUNDARIES, and sampling-based
    boundary choice is exactly what misfires on skewed columns). From
    the exact value histogram: boundary k = the smallest grid value
    whose cumulative count reaches k/P of the corpus, computed by an
    integer cross-multiplied comparison on the cumulative histogram —
    no percentile interpolation, no sampling, engine-identical.

    Output per partition: its [lo, hi) boundaries on the micro grid,
    the exact row count the layout would place there, and the balance
    ratio vs the ideal N/P in exact round-half-up percent — the number
    that says whether range layout is viable or the column needs the
    salting ladder. One corpus-volume histogram shuffle (map-side
    combined); the boundary scan is a window over the bounded grid.
    """
    from inde1_spark.functions.exprs import ratio_round

    y = F.floor(F.col("value").cast("double") * F.lit(1e6) + F.lit(0.5)).cast(
        "long"
    )
    hist = persist(
        events.select(y.alias("v"))
        .groupBy("v")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    total = hist.agg(F.sum("cnt").cast("long").alias("n_total"))
    wv = Window.orderBy("v")
    cum = hist.withColumn("cum", F.sum("cnt").over(wv)).join(
        F.broadcast(total)
    )
    # partition index of each grid value under the k/P boundary rule:
    # value v belongs to partition min(P-1, #boundaries passed strictly
    # below its cumulative position) — integer cross-multiplication only
    from inde1_spark.functions.exprs import dec_floordiv

    prev_cum = F.coalesce(
        F.lag("cum").over(wv), F.lit(0).cast("long")
    )
    # exact integer floor((prev_cum * P) / N): the product passes 2^53
    # long before a corpus is large, so the division must never touch a
    # double (CLAUDE.md wide-decimal rule)
    part = F.least(
        dec_floordiv(
            (prev_cum.cast("decimal(38,0)")
             * F.lit(int(n_parts)).cast("decimal(38,0)")).cast("decimal(38,0)"),
            F.col("n_total").cast("decimal(38,0)"),
        ).cast("long"),
        F.lit(int(n_parts) - 1).cast("long"),
    )
    assigned = cum.select(
        part.alias("part"),
        "v",
        "cnt",
        "n_total",
    )
    per_part = assigned.groupBy("part", "n_total").agg(
        (F.min("v").cast("double") / F.lit(1e6)).alias("lo_value"),
        (F.max("v").cast("double") / F.lit(1e6)).alias("hi_value"),
        F.sum("cnt").cast("long").alias("n_rows"),
    )
    ideal_num = F.col("n_total")
    return per_part.select(
        "part",
        "lo_value",
        "hi_value",
        "n_rows",
        # balance = n_rows / (N/P) as exact percent: n_rows*P*100 / N
        ratio_round(
            F.col("n_rows") * F.lit(int(n_parts)) * 100, ideal_num, 2
        ).alias("fill_pct"),
    ).orderBy("part")


JSE_SAMPLE_PCT = 10  # md5 hash-lane sample for the sampled estimator


def join_size_estimate_audit(
    events: DataFrame,
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    part: DataFrame,
) -> DataFrame:
    """Join-cardinality estimation audit over the engine's canonical
    equi-joins — the JOIN face of ``ndv_estimator_audit``'s question
    (how far can the planner trust its statistics?): for each join the
    warehouse actually runs, the CLASSIC System-R estimate
    |A||B| / max(ndv_A, ndv_B), the SAMPLED estimate (per-key counts on
    the md5 10% hash lanes of both sides, product-summed and scaled by
    100/pct — the lanes are CORRELATED: both sides hash the key VALUE,
    so a matching key pair survives jointly with probability pct/100,
    not (pct/100)^2, and within a surviving lane the per-key counts are
    complete), and the EXACT result size sum_k cA(k)*cB(k) — with
    signed relative errors. ``join_cardinality_audit`` measures one
    join's fan-out; this prices the ESTIMATORS against truth across the
    join log, the evidence for trusting (or not) stats-only planning at
    a new scale.

    Per join: two per-key count aggregates (map-side combined), one
    equi-join on the key for the exact product sum, and the same pair
    on the hash-lane samples — the correlated lane means sample cost is
    pct/100 of the exact one (the join only ever sees surviving lanes).
    Products and sums run in DECIMAL(38,0) (a single hot key pair can
    pass 2^63 alone); counts emit as decimal STRINGS (the cap-sweep
    rule) and errors as sign-split exact round-half-up percents.
    """
    from inde1_spark.functions.exprs import dec_floordiv, dec_ratio_round
    from inde1_spark.operators.text import hash_bucket

    def d38(c):
        return c.cast("decimal(38,0)")

    joins = (
        ("events_customer", events, "user_id", customer, "c_custkey"),
        ("orders_customer", orders, "o_custkey", customer, "c_custkey"),
        ("lineitem_orders", lineitem, "l_orderkey", orders, "o_orderkey"),
        ("lineitem_part", lineitem, "l_partkey", part, "p_partkey"),
    )

    def side(df: DataFrame, key: str, tag: str) -> tuple:
        per_key = persist(
            df.select(F.col(key).alias("k")).groupBy("k").agg(
                F.count("*").cast("long").alias(f"c_{tag}")
            )
        )
        stats = per_key.agg(
            F.coalesce(F.sum(f"c_{tag}"), F.lit(0)).cast("long").alias(f"n_{tag}"),
            F.count("*").cast("long").alias(f"ndv_{tag}"),
        )
        return per_key, stats

    out = None
    # correlated key-lane sampling: matching pairs survive with prob p,
    # not p^2, so the unbiased scale is 1/p (r10 ADVICE item 1)
    scale = 100 // JSE_SAMPLE_PCT
    for name, ldf, lk, rdf, rk in joins:
        pk_l, st_l = side(ldf, lk, "l")
        pk_r, st_r = side(rdf, rk, "r")
        # The sample lane hashes the KEY VALUE, so a key's sampled count
        # is its full count when the key is in-lane and 0 otherwise —
        # s_l(k)*s_r(k) = c_l(k)*c_r(k)*1[in_lane(k)]. The sampled product
        # sum therefore falls out of the SAME per-key join as the exact
        # one (r11: removes two corpus re-scans, a second join and their
        # jobs per audited join, and prices the md5 lane per DISTINCT key
        # instead of per raw row — the bigger saving at corpus scale).
        in_lane = hash_bucket(F.col("k"), 100) < JSE_SAMPLE_PCT
        prods = pk_l.join(pk_r, "k").agg(
            F.coalesce(
                F.sum(d38(F.col("c_l")) * d38(F.col("c_r"))),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("exact_rows"),
            F.coalesce(
                F.sum(F.when(in_lane, d38(F.col("c_l")) * d38(F.col("c_r")))),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("s_rows"),
        )
        row = st_l.join(F.broadcast(st_r)).join(F.broadcast(prods))
        cls = (
            d38(F.col("n_l")) * d38(F.col("n_r")),
            F.greatest(F.col("ndv_l"), F.col("ndv_r")).cast("decimal(38,0)"),
        )
        est_classic = dec_floordiv(
            (cls[0] + cls[1] - F.lit(1).cast("decimal(38,0)")).cast(
                "decimal(38,0)"
            ),
            cls[1],
        ).cast("decimal(38,0)")  # ceil-ish floor((ab + m - 1)/m): >=1 when a,b>=1
        est_sampled = (
            F.col("s_rows") * F.lit(scale).cast("decimal(38,0)")
        ).cast("decimal(38,0)")

        def err(est):
            diff = (est - F.col("exact_rows")).cast("decimal(38,0)")
            sgn = F.when(diff < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
            return sgn * dec_ratio_round(
                (F.abs(diff) * F.lit(100).cast("decimal(38,0)")).cast(
                    "decimal(38,0)"
                ),
                F.greatest(
                    F.col("exact_rows"), F.lit(1).cast("decimal(38,0)")
                ).cast("decimal(38,0)"),
                2,
            )

        r = row.select(
            F.lit(name).alias("join_name"),
            F.col("n_l").alias("n_left"),
            F.col("n_r").alias("n_right"),
            F.col("ndv_l").alias("ndv_left"),
            F.col("ndv_r").alias("ndv_right"),
            F.col("exact_rows").cast("string").alias("exact_rows"),
            est_classic.cast("string").alias("est_classic"),
            est_sampled.cast("string").alias("est_sampled"),
            err(est_classic).alias("err_classic_pct"),
            err(est_sampled).alias("err_sampled_pct"),
        )
        out = r if out is None else out.unionByName(r)
    return out.orderBy("join_name")


# session-gap threshold grid, minutes — brackets the deployed 60-minute gap
SESSION_GAP_SWEEP_MIN = (15, 30, 60, 120, 240)


def session_gap_sweep(events: DataFrame) -> DataFrame:
    """Gap-threshold tuning sweep for sessionization — the audit that
    picks ``sessionize_gap``'s threshold BEFORE a 100 TB sessionization
    commits to one: for every candidate gap, the session count, mean
    events per session, and the share of adjacent same-user event pairs
    the threshold would split. The decision heuristic this table feeds
    is the classic knee: session counts stabilize where the gap passes
    the within-session inter-arrival mass.

    ONE lag pass computes every per-user inter-arrival gap (the same
    (user, ts, event_id)-ordered window sessionize_gap uses — one
    shuffle); the sweep then unrolls the bounded grid into conditional
    sums inside ONE aggregate (the semdedup_threshold_sweep posture —
    no per-threshold rescans, no row multiplication). Session-count
    identity: sessions(g) = n_users + #(gap > g); every output is exact
    integers or round-half-up ratios from them.
    """
    from inde1_spark.functions.exprs import ratio_round

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = events.select(
        "user_id",
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap_s"),
    )
    aggs = [
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.when(F.col("gap_s").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_users"),
    ]
    for i, g in enumerate(SESSION_GAP_SWEEP_MIN):
        aggs.append(
            F.sum(F.when(F.col("gap_s") > g * 60, 1).otherwise(0))
            .cast("long")
            .alias(f"_splits_{i}")
        )
    agg = gaps.agg(*aggs)

    # r12: bounded grid fans out of the 1-row aggregate via ONE
    # inline(array(...)) generator (the minhash_band_sweep pattern) —
    # the old per-gap union needed the aggregate persisted because each
    # branch re-read it; one consumer needs neither union nor persist
    def _row(i: int, g: int):
        n_sessions = F.col(f"_splits_{i}") + F.col("n_users")
        return F.struct(
            F.lit(int(g)).cast("long").alias("gap_minutes"),
            n_sessions.cast("long").alias("n_sessions"),
            ratio_round(
                F.col("n_events") * 100,
                F.greatest(n_sessions, F.lit(1).cast("long")),
                2,
            ).alias("events_per_session_x100"),
            ratio_round(
                F.col(f"_splits_{i}") * 100,
                F.greatest(
                    F.col("n_events") - F.col("n_users"),
                    F.lit(1).cast("long"),
                ),
                2,
            ).alias("split_pair_pct"),
        )

    grid = F.array(*[_row(i, g) for i, g in enumerate(SESSION_GAP_SWEEP_MIN)])
    return agg.select(F.inline(grid)).orderBy("gap_minutes")


# canonical scan predicates whose selectivity the planner must price
SEL_VALUE_CUT = 50.0   # value > cut (histogram-model territory)
SEL_HOUR_LO, SEL_HOUR_HI = 8, 18  # business-hours range predicate


def predicate_selectivity_audit(events: DataFrame) -> DataFrame:
    """Selectivity-estimation audit for the canonical scan predicates —
    the FILTER face of ``join_size_estimate_audit``'s question (the
    third member of the stats-trust family: ndv_estimator_audit prices
    NDV, join_size the join sizes, this the filter selectivities a
    cost model multiplies first). For each predicate: the
    uniformity-model ESTIMATE a stats-only planner would use (equality:
    1/ndv; range: span fraction of [min, max]) and the ACTUAL
    selectivity, with the signed error — where the model breaks
    (skewed types, non-uniform values, clustered hours) is exactly
    where a plan's row estimates rot.

    ONE aggregate computes every actual count AND every model input
    (ndv, min, max) — no per-predicate rescans; the model's divisions
    are exact round-half-up ppm on integers (the value/hour spans are
    data-dependent but integer-derived; the micro grid makes the
    estimate engine-identical).
    """
    from inde1_spark.functions.exprs import dec_ratio_round, ratio_round

    vmicro = F.floor(
        F.col("value").cast("double") * F.lit(1e6) + F.lit(0.5)
    ).cast("long")
    cutmicro = int(SEL_VALUE_CUT * 1e6)
    agg = persist(
        events.select(
            "event_type",
            vmicro.alias("v"),
            F.hour("ts").cast("long").alias("h"),
        ).agg(
            F.count("*").cast("long").alias("n_rows"),
            F.countDistinct("event_type").cast("long").alias("ndv_type"),
            F.sum(
                F.when(F.col("event_type") == ENTRY_TYPE, 1).otherwise(0)
            ).cast("long").alias("act_eq"),
            F.min("v").alias("v_min"),
            F.max("v").alias("v_max"),
            F.sum(F.when(F.col("v") > cutmicro, 1).otherwise(0))
            .cast("long")
            .alias("act_gt"),
            F.sum(
                F.when(
                    (F.col("h") >= SEL_HOUR_LO) & (F.col("h") < SEL_HOUR_HI),
                    1,
                ).otherwise(0)
            ).cast("long").alias("act_hours"),
        )
    )
    d38 = "decimal(38,0)"

    def ppm(num, den):
        return dec_ratio_round(
            num.cast(d38) * F.lit(1_000_000).cast(d38),
            F.greatest(den, F.lit(1)).cast(d38),
            0,
        ).cast("long")

    # uniformity models, all integer-exact:
    #   equality: rows/ndv; value range: (v_max - cut)/(v_max - v_min);
    #   hour range: 10/24 of the clock
    est_eq = ppm(F.lit(1), F.col("ndv_type"))
    span = F.greatest(F.col("v_max") - F.col("v_min"), F.lit(1).cast("long"))
    est_gt = ppm(
        F.greatest(
            F.least(F.col("v_max") - F.lit(cutmicro), span),
            F.lit(0).cast("long"),
        ),
        span,
    )
    est_hours = ppm(F.lit(SEL_HOUR_HI - SEL_HOUR_LO), F.lit(24))

    def row(name, est_ppm, act):
        act_ppm = ppm(act, F.col("n_rows"))
        diff = est_ppm - act_ppm
        return agg.select(
            F.lit(name).alias("predicate"),
            F.col("n_rows"),
            est_ppm.alias("est_ppm"),
            act_ppm.alias("act_ppm"),
            act.alias("n_actual"),
            (
                F.when(diff < 0, F.lit(-1.0))
                .otherwise(F.lit(1.0))
                * F.abs(diff).cast("double")
                / F.lit(1e4)
            ).alias("err_pp"),
        )

    out = (
        row("event_type_eq_entry", est_eq, F.col("act_eq"))
        .unionByName(row("value_gt_cut", est_gt, F.col("act_gt")))
        .unionByName(row("hour_business_range", est_hours, F.col("act_hours")))
    )
    return out.orderBy("predicate")


# checkpoint ages (days back from the newest day) the restart audit prices
RESTART_AGE_DAYS = (1, 3, 7, 14)
RESTART_STATE_GAP_S = 3600  # sessionize_gap's deployed 60-minute gap
RESTART_REPLAY_RATE = 5000  # modeled replay throughput, events/sec


def restart_cost_audit(
    events: DataFrame, ages: tuple[int, ...] = RESTART_AGE_DAYS
) -> DataFrame:
    """End-to-end streaming restart-cost audit — what does resuming the
    archival/alert pipeline from a checkpoint of age N days actually
    cost? (reference intent: the consumer's committed-offset restart,
    apps/srvc-alert/.../ParkingEventConsumer.scala:24-53, whose
    recovery cost is the unread backlog; the engine's checkpointed
    sinks in streaming/pipelines.py make the same promise.) For each
    candidate checkpoint age: the events replayed (everything after the
    checkpoint day), their share of the corpus, the modeled wall-clock
    to drain them at a fixed replay rate, and the keyed STATE the
    restarted job must rebuild before results are trustworthy — users
    with an open session at the checkpoint boundary, i.e. active within
    the sessionization gap before it (``sessionize_gap``'s 60 min).
    ``archive_prune_audit`` prices reading LESS history; this prices
    re-reading RECENT history, the other half of the retention/restart
    trade.

    One corpus pass builds the per-day manifest (row counts + the
    tail-gap distinct-user count per day — the in-day offset uses
    tz-free field extraction, engine-identical on NTZ timestamps); the
    age grid is a bounded literal broadcast against it. All outputs are
    exact longs or round-half-up percents; the drain estimate is an
    exact integer ceiling.
    """
    from inde1_spark.functions.exprs import ratio_round

    day = F.datediff(
        F.date_trunc("day", F.col("ts")), F.lit("1970-01-01").cast("date")
    ).cast("long")
    sec_in_day = (
        F.hour("ts").cast("long") * 3600
        + F.minute("ts").cast("long") * 60
        + F.second("ts").cast("long")
    )

    # persisted: the span branch would otherwise recompute the manifest
    # (and rescan the corpus) with user_id pruned away
    manifest = persist(
        events.groupBy(day.alias("day")).agg(
            F.count("*").cast("long").alias("n_rows"),
            F.countDistinct(
                F.when(
                    sec_in_day >= 86400 - RESTART_STATE_GAP_S,
                    F.col("user_id"),
                )
            ).cast("long").alias("tail_users"),
        )
    )
    span = manifest.agg(
        F.max("day").alias("max_day"),
        F.sum("n_rows").cast("long").alias("rows_total"),
    )
    grid = span.select(
        F.explode(F.array(*[F.lit(int(a)) for a in ages])).alias("age_days"),
        "max_day",
        "rows_total",
    )
    replayed = F.col("day") > F.col("max_day") - F.col("age_days")
    at_boundary = F.col("day") == F.col("max_day") - F.col("age_days")
    sweep = (
        manifest.crossJoin(F.broadcast(grid))
        .groupBy("age_days", "rows_total")
        .agg(
            F.sum(F.when(replayed, F.col("n_rows")).otherwise(0))
            .cast("long")
            .alias("n_replay_events"),
            F.coalesce(
                F.max(F.when(at_boundary, F.col("tail_users"))), F.lit(0)
            ).cast("long").alias("n_state_keys"),
        )
    )
    return sweep.select(
        F.col("age_days").cast("long").alias("checkpoint_age_days"),
        "n_replay_events",
        ratio_round(
            F.col("n_replay_events") * 100,
            F.greatest(F.col("rows_total"), F.lit(1).cast("long")),
            2,
        ).alias("replay_pct"),
        "n_state_keys",
        # exact ceiling: seconds to drain the backlog at the modeled rate
        F.floor(
            (F.col("n_replay_events") + F.lit(RESTART_REPLAY_RATE - 1))
            / F.lit(RESTART_REPLAY_RATE)
        ).cast("long").alias("est_replay_sec"),
    ).orderBy("checkpoint_age_days")


# shard-count grid for the backfill interleave model (files per wave)
BACKFILL_SHARDS = (4, 16, 64)


def backfill_skew_audit(
    events: DataFrame, shard_grid: tuple[int, ...] = BACKFILL_SHARDS
) -> DataFrame:
    """Watermark-delay sizing for PARALLEL archive backfills — the T6
    tuning table for availableNow replays: a batch re-read of the
    day-partitioned archive (streaming/pipelines.py's layout) delivers
    K shard files concurrently, so even though every shard is
    event-time-ordered internally, the union interleaves — an event
    from a lagging shard arrives AFTER the watermark advanced on a
    leading one and is dropped unless withWatermark's delay covers the
    cross-shard skew. For each candidate shard count K (deterministic
    md5 row sharding models the file split), events are sequenced
    within (shard, day) and the audit reports the cross-shard
    event-time skew at equal replay depth: max/mean over (day, seq)
    slots of max(ts)-min(ts) across shards, and the max skew rounded
    up to whole minutes — the smallest allowed-lateness at which the
    modeled interleave drops nothing.

    Every stage is keyed: the sequencing window partitions by
    (shard, day) — bounded at any corpus size by the day slice of one
    shard — the skew aggregate shuffles on (day, seq), and the final
    per-K rollup is map-side combinable; no global ordered scan (a
    running global watermark would be inherently sequential — the
    equal-depth slot skew is the parallelizable upper-bound form).
    Skews are differences of truncated-second timestamps (tz offsets
    cancel; the session_gap_sweep convention).
    """
    from inde1_spark.functions.exprs import ratio_round
    from inde1_spark.operators.text import hash_bucket

    day = F.datediff(
        F.date_trunc("day", F.col("ts")), F.lit("1970-01-01").cast("date")
    ).cast("long")
    out = None
    for k in shard_grid:
        seqd = events.select(
            day.alias("day"),
            hash_bucket(F.col("event_id"), k).alias("shard"),
            F.unix_timestamp("ts").cast("long").alias("ts_s"),
            "event_id",
        ).select(
            "day",
            "shard",
            "ts_s",
            F.row_number()
            .over(
                Window.partitionBy("shard", "day").orderBy("ts_s", "event_id")
            )
            .alias("seq"),
        )
        slots = seqd.groupBy("day", "seq").agg(
            (F.max("ts_s") - F.min("ts_s")).cast("long").alias("skew_s"),
        )
        row = slots.agg(
            F.lit(int(k)).cast("long").alias("n_shards"),
            F.count("*").cast("long").alias("n_slots"),
            F.max("skew_s").cast("long").alias("max_skew_s"),
            ratio_round(
                F.coalesce(F.sum("skew_s"), F.lit(0)),
                F.greatest(F.count("*"), F.lit(1)).cast("long"),
                2,
            ).alias("mean_skew_s"),
            F.floor(
                (F.max("skew_s") + F.lit(59)) / F.lit(60)
            ).cast("long").alias("wm_delay_min"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("n_shards")


def fk_integrity_audit(
    events: DataFrame,
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    part: DataFrame,
    documents: DataFrame,
    embeddings: DataFrame,
) -> DataFrame:
    """Referential-integrity audit over the warehouse's foreign-key
    edges — the data-QUALITY face of the join family
    (``join_cardinality_audit`` measures fan-out,
    ``join_size_estimate_audit`` prices estimators; this one counts the
    rows a join silently DROPS): per FK edge, the child rows whose key
    is null, the non-null child rows with no parent (orphans an inner
    join loses and an unguarded enrichment turns into nulls —
    reference intent: the consumer's user lookup treats a missing user
    as an alert-suppressing miss, apps/srvc-alert/.../UserService.scala),
    and the parent keys never referenced (dimension dead weight). The
    embeddings→documents edge audits the multimodal alignment
    (doc_id == vec_id, FIXTURES §5) that every cross-modal operator
    assumes.

    Per edge: one map-side-combined per-key child count, one distinct
    projection of the parent key, a key-equi left join between the two
    (key-NDV-sized operands, never row-level), and bounded rollups.
    All counts exact longs; percents exact round-half-up.
    """
    from inde1_spark.functions.exprs import ratio_round

    edges = (
        ("embeddings_documents", embeddings, "vec_id", documents, "doc_id"),
        ("events_customer", events, "user_id", customer, "c_custkey"),
        ("lineitem_orders", lineitem, "l_orderkey", orders, "o_orderkey"),
        ("lineitem_part", lineitem, "l_partkey", part, "p_partkey"),
        ("orders_customer", orders, "o_custkey", customer, "c_custkey"),
    )
    out = None
    for name, child, ck, parent, pk in edges:
        base = child.agg(
            F.count("*").cast("long").alias("n_child_rows"),
            F.sum(F.when(F.col(ck).isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_null_keys"),
        )
        ckeys = (
            child.filter(F.col(ck).isNotNull())
            .groupBy(F.col(ck).alias("k"))
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        pkeys = parent.select(F.col(pk).alias("k")).distinct()
        joined = ckeys.join(
            pkeys.withColumn("hit", F.lit(1)), "k", "left"
        ).agg(
            F.coalesce(
                F.sum(F.when(F.col("hit").isNull(), F.col("cnt"))), F.lit(0)
            ).cast("long").alias("n_orphan_rows"),
            F.coalesce(F.sum("hit"), F.lit(0))
            .cast("long")
            .alias("n_referenced_keys"),
        )
        nparent = pkeys.agg(
            F.count("*").cast("long").alias("n_parent_keys")
        )
        row = (
            base.join(F.broadcast(joined))
            .join(F.broadcast(nparent))
            .select(
                F.lit(name).alias("edge_name"),
                "n_child_rows",
                "n_null_keys",
                "n_orphan_rows",
                ratio_round(
                    F.col("n_orphan_rows") * 100,
                    F.greatest(F.col("n_child_rows"), F.lit(1).cast("long")),
                    2,
                ).alias("orphan_pct"),
                "n_parent_keys",
                "n_referenced_keys",
                ratio_round(
                    F.col("n_referenced_keys") * 100,
                    F.greatest(F.col("n_parent_keys"), F.lit(1).cast("long")),
                    2,
                ).alias("coverage_pct"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("edge_name")


def event_order_integrity_audit(events: DataFrame) -> DataFrame:
    """Ingestion-order integrity audit — the one-row data-quality gate a
    stream's ARCHIVE must pass before event-id-ordered replays
    (``backfill_skew_audit``'s arrival model) or watermark tuning trust
    it (reference intent: the generator emits monotone ids with
    monotone timestamps, apps/srvc-io/.../GeneratorService.scala; this
    audit measures how far a real archive has drifted from that
    contract): duplicate event_ids (retry/at-least-once artifacts),
    per-user event-time REGRESSIONS in id order (clock skew or
    misordered ingestion — counted over adjacent same-user id-ordered
    pairs, the sessionization windows' exact ordering), the users
    affected, and null keys/timestamps.

    One map-side-combinable global aggregate prices the corpus for the
    count/NDV/null facts; the regression pass is ONE per-user window in
    (event_id, ts) order — the same shuffle shape sessionize_gap runs.
    Percents are exact round-half-up over the adjacent-pair count.
    """
    from inde1_spark.functions.exprs import ratio_round

    base = events.agg(
        F.count("*").cast("long").alias("n_rows"),
        (F.count("*") - F.countDistinct("event_id"))
        .cast("long")
        .alias("n_dup_event_ids"),
        F.sum(F.when(F.col("event_id").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_ids"),
        F.sum(F.when(F.col("ts").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_ts"),
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_users"),
    )
    w = Window.partitionBy("user_id").orderBy("event_id", "ts")
    lagged = events.filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    ).select(
        "user_id",
        (F.col("ts") < F.lag("ts").over(w)).alias("reg"),
    )
    regs = lagged.agg(
        F.sum(F.when(F.col("reg"), 1).otherwise(0))
        .cast("long")
        .alias("n_ts_regressions"),
        F.sum(F.when(F.col("reg").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_adjacent_pairs"),
        F.countDistinct(F.when(F.col("reg"), F.col("user_id")))
        .cast("long")
        .alias("n_users_regressed"),
    )
    return base.join(F.broadcast(regs)).select(
        "n_rows",
        "n_dup_event_ids",
        "n_ts_regressions",
        "n_adjacent_pairs",
        "n_users_regressed",
        ratio_round(
            F.col("n_ts_regressions") * 100,
            F.greatest(F.col("n_adjacent_pairs"), F.lit(1).cast("long")),
            2,
        ).alias("regression_pct"),
        "n_null_ids",
        "n_null_ts",
        "n_null_users",
    )


STATE_BYTES_PER_KEY = 64  # modeled per-key footprint of the session monitors


def state_size_profile(events: DataFrame) -> DataFrame:
    """Streaming state capacity profile per day — what keyed-state
    footprint do the sessionization monitors (``streaming/stateful``'s
    applyInPandasWithState family) actually carry, day over day?
    ``restart_cost_audit`` prices the state rebuild at a handful of
    checkpoint boundaries; this is the full daily series a capacity
    plan reads: per day, the active users (the day's key universe), the
    keys still OPEN at day end (active within the sessionization gap
    before midnight — the state that survives the day), the open share,
    the mean events per active key, and the modeled state bytes at a
    fixed per-key footprint. A growing open share with flat activity is
    the signature of state that never times out — the leak this table
    catches before an executor OOMs.

    ONE map-side-combinable per-day aggregate (two conditional
    distincts share the pass); in-day offsets are tz-free field
    extraction (the restart_cost_audit convention). Exact longs and
    round-half-up ratios throughout.
    """
    from inde1_spark.functions.exprs import ratio_round

    day_s = _day_str()
    sec_in_day = (
        F.hour("ts").cast("long") * 3600
        + F.minute("ts").cast("long") * 60
        + F.second("ts").cast("long")
    )
    per_day = events.groupBy(day_s.alias("day")).agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_active_keys"),
        F.countDistinct(
            F.when(
                sec_in_day >= 86400 - RESTART_STATE_GAP_S, F.col("user_id")
            )
        ).cast("long").alias("n_open_eod"),
    )
    return per_day.select(
        "day",
        "n_events",
        "n_active_keys",
        "n_open_eod",
        ratio_round(
            F.col("n_open_eod") * 100,
            F.greatest(F.col("n_active_keys"), F.lit(1).cast("long")),
            2,
        ).alias("open_share_pct"),
        ratio_round(
            F.col("n_events") * 100,
            F.greatest(F.col("n_active_keys"), F.lit(1).cast("long")),
            2,
        ).alias("events_per_key_x100"),
        (F.col("n_open_eod") * F.lit(STATE_BYTES_PER_KEY))
        .cast("long")
        .alias("state_bytes_est"),
    ).orderBy("day")

# ---------------------------------------------------------------------------
# cache_hit_curve: dimension-cache sizing from exact key concentration
# ---------------------------------------------------------------------------

# candidate cache sizes as a percent of the key universe
CACHE_PCTS = (1, 2, 5, 10, 20, 50, 100)


def cache_hit_curve(
    events: DataFrame, pcts: tuple[int, ...] = CACHE_PCTS
) -> DataFrame:
    """Hit-rate curve for the enrichment dimension cache — how large must
    the per-key cache in front of the Redis KV dimension (the S9
    ``enrich_users`` lookup; reference intent: the per-plate dimension
    read in apps/srvc-alert's enrichment path) be before remote lookups
    stop dominating? For each candidate cache size s (a percent of the
    key universe, so the table is scale-free), the STATIC-OPTIMAL hit
    rate: cache the s hottest keys by exact frequency; every event on a
    cached key hits except that key's one compulsory first-touch miss.
    A real LRU can only do worse under stationary traffic, so this
    curve is the admission bar a cache proposal must clear — if the
    optimal curve needs 50% of the universe resident to reach 90%
    hits, the traffic is too flat to cache and the budget belongs in
    the broadcast/bucketing plan instead (``broadcast_plan_audit``).

    Plan: ONE map-side-combinable key-frequency pass (the corpus-volume
    shuffle); ranking + cumulative coverage are a single window over the
    per-key table (|keys| rows, corpus-independent once keyed — the
    corpus_shard_plan convention for a deliberate global ordered pass
    over a SMALL table); the grid is a bounded literal explode off the
    one-row totals, broadcast into the rank equi-join. Percents are
    wide-decimal round-half-up (event counts can pass 2^53 at corpus
    scale).
    """
    from inde1_spark.functions.exprs import dec_ratio_round

    freq = events.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n")
    )
    order = [F.desc("n"), F.asc("user_id")]
    w = Window.orderBy(*order)
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = freq.select(
        F.row_number().over(w).cast("long").alias("rank"),
        F.sum("n").over(wc).cast("long").alias("cum_events"),
    )
    totals = freq.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_events"),
    )
    grid = totals.select(
        F.explode(
            F.array(*[F.lit(int(p)).cast("long") for p in pcts])
        ).alias("cache_pct"),
        "n_keys",
        "n_events",
    ).select(
        "cache_pct",
        "n_keys",
        "n_events",
        F.greatest(
            F.expr("n_keys * cache_pct div 100"), F.lit(1).cast("long")
        ).alias("keys_cached"),
    )
    den = F.greatest(F.col("n_events"), F.lit(1).cast("long"))
    return (
        ranked.join(F.broadcast(grid), F.col("rank") == F.col("keys_cached"))
        .select(
            "cache_pct",
            "keys_cached",
            F.col("cum_events").alias("events_covered"),
            "n_keys",
            "n_events",
            dec_ratio_round(
                (F.col("cum_events") - F.col("keys_cached")) * 100, den, 2
            ).alias("hit_pct"),
            dec_ratio_round(F.col("cum_events") * 100, den, 2).alias(
                "coverage_pct"
            ),
        )
        .orderBy("cache_pct")
    )


# ---------------------------------------------------------------------------
# allowed_lateness_sweep: watermark-delay drop-rate curve on arrival order
# ---------------------------------------------------------------------------

# candidate withWatermark delays (seconds) the sweep prices
LATENESS_DELAYS_S = (0, 60, 300, 900, 3600)


def allowed_lateness_sweep(
    events: DataFrame, delays: tuple[int, ...] = LATENESS_DELAYS_S
) -> DataFrame:
    """Allowed-lateness drop-rate curve — the direct price list for the
    withWatermark delay knob (T6): replay the archive in event-id
    (arrival) order PER KEY — exactly the ordering the keyed
    sessionization monitors consume — and for each candidate delay D,
    count the events whose event time lags the key's running event-time
    maximum by more than D: precisely the rows a keyed watermark set to
    D drops as late. Companions: ``event_order_integrity_audit`` alarms
    THAT event-time regressions exist, ``backfill_skew_audit`` prices
    the cross-shard interleave of a parallel replay; this table prices
    the delay itself on the live arrival order, so "watermark 5 minutes"
    becomes a measured drop count instead of folklore.

    Every stage is keyed: the running maximum is ONE per-user window in
    (event_id, ts) order (the sessionize_gap shuffle shape — no global
    ordered scan); the delay rollup explodes a bounded literal grid and
    map-side combines. Lateness is a difference of truncated-second
    timestamps (tz offsets cancel; the session_gap_sweep convention);
    drop shares are wide-decimal round-half-up (corpus-scale counts).
    """
    from inde1_spark.functions.exprs import dec_ratio_round

    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id", "ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ts_s = F.unix_timestamp("ts").cast("long")
    late = events.select(
        (F.max(ts_s).over(w) - ts_s).alias("lateness_s")
    )
    out = (
        late.select(
            "lateness_s",
            F.explode(
                F.array(*[F.lit(int(d)).cast("long") for d in delays])
            ).alias("delay_s"),
        )
        .groupBy("delay_s")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(
                F.when(F.col("lateness_s") > F.col("delay_s"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_dropped"),
            F.max("lateness_s").cast("long").alias("max_lateness_s"),
        )
    )
    return out.select(
        "delay_s",
        "n_events",
        "n_dropped",
        "max_lateness_s",
        dec_ratio_round(
            F.col("n_dropped") * 100,
            F.greatest(F.col("n_events"), F.lit(1).cast("long")),
            4,
        ).alias("drop_pct"),
    ).orderBy("delay_s")


# ---------------------------------------------------------------------------
# ttl_staleness_sweep: dimension-cache TTL price list from same-key gaps
# ---------------------------------------------------------------------------

# candidate dimension-cache TTLs (seconds) the sweep prices
TTL_DELAYS_S = (60, 300, 900, 3600, 86400)


def ttl_staleness_sweep(
    events: DataFrame, ttls: tuple[int, ...] = TTL_DELAYS_S
) -> DataFrame:
    """TTL re-fetch price list for the enrichment dimension cache —
    ``cache_hit_curve`` sizes the cache (how many keys fit), this prices
    its FRESHNESS knob: with entries expiring after TTL D (the S9
    ``enrich_users_ttl`` semantics; reference intent: the per-plate
    dimension lookup in apps/srvc-alert's enrichment path), an event is
    a remote fetch exactly when it is its key's first touch (compulsory)
    or when the gap since the key's previous event exceeds D (the cached
    entry expired). Replaying the archive per key in event-time order
    yields, per candidate TTL, the exact miss and re-fetch counts — so
    "TTL five minutes" becomes a measured remote-read budget, and the
    flat tail of the curve shows where longer TTLs stop paying.

    Every stage is keyed: ONE per-user lag window in truncated-second
    event-time order (the sessionize_gap shuffle shape — no global
    ordered scan); the TTL rollup explodes a bounded literal grid and
    map-side combines. Gaps are differences of truncated-second
    timestamps (tz offsets cancel; the allowed_lateness_sweep
    convention); shares are wide-decimal round-half-up (corpus-scale
    counts).
    """
    from inde1_spark.functions.exprs import dec_ratio_round

    ts_s = F.unix_timestamp("ts").cast("long")
    base = events.select(
        "event_id", "user_id", ts_s.alias("ts_s")
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    gaps = base.select(
        (F.col("ts_s") - F.lag("ts_s").over(w)).alias("gap_s")
    )
    out = (
        gaps.select(
            "gap_s",
            F.explode(
                F.array(*[F.lit(int(t)).cast("long") for t in ttls])
            ).alias("ttl_s"),
        )
        .groupBy("ttl_s")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.when(F.col("gap_s").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_keys"),
            F.sum(
                F.when(F.col("gap_s") > F.col("ttl_s"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_refetch"),
            F.max("gap_s").cast("long").alias("max_gap_s"),
        )
    )
    den = F.greatest(F.col("n_events"), F.lit(1).cast("long"))
    return out.select(
        "ttl_s",
        "n_events",
        "n_keys",
        "n_refetch",
        (F.col("n_keys") + F.col("n_refetch")).alias("n_miss"),
        "max_gap_s",
        dec_ratio_round(
            (F.col("n_keys") + F.col("n_refetch")) * 100, den, 4
        ).alias("miss_pct"),
        dec_ratio_round(F.col("n_refetch") * 100, den, 4).alias(
            "refetch_pct"
        ),
    ).orderBy("ttl_s")


# ---------------------------------------------------------------------------
# trigger_interval_sweep: micro-batch sizing from event-time bucket volumes
# ---------------------------------------------------------------------------

# candidate processing-trigger intervals (seconds) the sweep prices
TRIGGER_INTERVALS_S = (10, 60, 300, 900, 3600)


def trigger_interval_sweep(
    events: DataFrame, triggers: tuple[int, ...] = TRIGGER_INTERVALS_S
) -> DataFrame:
    """Micro-batch sizing price list for the processing-trigger knob
    (T1/T5): replay the archive bucketed at each candidate trigger
    interval T and price the batch-volume distribution a
    ``processingTime="T seconds"`` trigger would see — batches observed,
    slots in the covered span, empty slots (idle wakeups), the largest
    batch (the straggler that sets micro-batch latency), the mean, and
    peak-to-mean (batch skew: a high ratio at small T says the traffic
    is bursty and the trigger should be wider or the sink rate-limited;
    duty near 100% with a flat peak says T can shrink safely). The
    reference pins @every-1m cadence (BASELINE envelope); this table is
    the measured basis for moving that dial.

    One pass: per-event bucket index is exact integer math on a tz-free
    day index (datediff vs a literal epoch date) plus field-extracted
    in-day seconds (the state_size_profile convention — no session-tz
    epoch in a BUCKET boundary, where offsets do NOT cancel); the grid
    is a bounded literal explode; per-(T, bucket) counts then per-T
    stats, both map-side combinable. Exact longs; wide-decimal
    round-half-up ratios (corpus-scale counts).
    """
    from inde1_spark.functions.exprs import dec_ratio_round

    abs_s = (
        F.datediff(
            F.date_trunc("day", F.col("ts")),
            F.lit("1970-01-01").cast("date"),
        ).cast("long")
        * 86400
        + F.hour("ts").cast("long") * 3600
        + F.minute("ts").cast("long") * 60
        + F.second("ts").cast("long")
    )
    buckets = (
        events.select(abs_s.alias("abs_s"))
        .select(
            "abs_s",
            F.explode(
                F.array(*[F.lit(int(t)).cast("long") for t in triggers])
            ).alias("trigger_s"),
        )
        .groupBy(
            "trigger_s",
            F.expr("abs_s div trigger_s").alias("bucket"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    per_t = buckets.groupBy("trigger_s").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.count("*").cast("long").alias("n_batches"),
        F.max("n").cast("long").alias("max_batch"),
        (F.max("bucket") - F.min("bucket") + 1).cast("long").alias(
            "n_slots"
        ),
    )
    return per_t.select(
        "trigger_s",
        "n_events",
        "n_batches",
        "n_slots",
        (F.col("n_slots") - F.col("n_batches")).alias("n_empty"),
        "max_batch",
        dec_ratio_round(
            F.col("n_events"),
            F.greatest(F.col("n_batches"), F.lit(1).cast("long")),
            2,
        ).alias("mean_batch"),
        dec_ratio_round(
            F.col("max_batch").cast("decimal(38,0)")
            * F.col("n_batches")
            * 100,
            F.greatest(F.col("n_events"), F.lit(1).cast("long")),
            2,
        ).alias("peak_to_mean_pct"),
        dec_ratio_round(
            F.col("n_batches") * 100,
            F.greatest(F.col("n_slots"), F.lit(1).cast("long")),
            2,
        ).alias("duty_pct"),
    ).orderBy("trigger_s")


# ---------------------------------------------------------------------------
# shuffle_width_sweep: reducer-load curve per candidate shuffle width
# ---------------------------------------------------------------------------

# candidate shuffle widths (spark.sql.shuffle.partitions) the sweep prices
SHUFFLE_WIDTHS = (32, 128, 512, 2048)


def shuffle_width_sweep(
    events: DataFrame, widths: tuple[int, ...] = SHUFFLE_WIDTHS
) -> DataFrame:
    """Reducer-load curve for the user-keyed shuffles per candidate
    shuffle width — ``salting_plan`` prices WHICH keys need salting at
    ONE width; this sweep prices the width knob itself
    (``spark.sql.shuffle.partitions`` / the AQE advisory target): for
    each candidate P, hash every key to its reducer (the engine-portable
    md5 bucket as the hash-partitioner proxy — avalanche-mixed like
    Murmur3, engine-identical unlike it) and report reducers actually
    used, idle reducers, the largest reducer's row load, the mean, and
    peak-to-mean. Where widening P stops lowering max_load, the residual
    peak is a single hot KEY — the salting_plan regime, not a width
    problem; reading the two tables together separates the knobs.

    ONE map-side-combinable per-key count (the only corpus-volume
    shuffle, reused across the whole grid); the width grid is a bounded
    literal explode over the per-key table; per-(P, reducer) loads then
    per-P stats map-side combine. Exact longs; the peak product is
    DECIMAL(38,0)-promoted (LONG wraps on a 100 TB hot reducer);
    wide-decimal round-half-up ratios.
    """
    from inde1_spark.functions.exprs import dec_ratio_round

    # hash_bucket's spelling with a COLUMN modulus (the text.py helper
    # takes a literal): identical md5-prefix hash, width from the grid
    counts = events.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n")
    )
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    loads = (
        counts.select(
            "user_id",
            "n",
            F.explode(
                F.array(*[F.lit(int(w)).cast("long") for w in widths])
            ).alias("width"),
        )
        .select(
            "width",
            "n",
            (h % F.col("width")).alias("reducer"),
        )
        .groupBy("width", "reducer")
        .agg(
            F.sum("n").cast("long").alias("load"),
            F.count("*").cast("long").alias("n_keys_r"),
        )
    )
    per_w = loads.groupBy("width").agg(
        F.sum("load").cast("long").alias("n_events"),
        F.sum("n_keys_r").cast("long").alias("n_keys"),
        F.count("*").cast("long").alias("reducers_used"),
        F.max("load").cast("long").alias("max_load"),
    )
    return per_w.select(
        "width",
        "n_events",
        "n_keys",
        "reducers_used",
        (F.col("width") - F.col("reducers_used")).alias("n_idle"),
        "max_load",
        dec_ratio_round(
            F.col("n_events"),
            F.greatest(F.col("reducers_used"), F.lit(1).cast("long")),
            2,
        ).alias("mean_load"),
        dec_ratio_round(
            F.col("max_load").cast("decimal(38,0)")
            * F.col("reducers_used")
            * 100,
            F.greatest(F.col("n_events"), F.lit(1).cast("long")),
            2,
        ).alias("peak_to_mean_pct"),
    ).orderBy("width")


# ---------------------------------------------------------------------------
# retention_policy_sweep: archive retention-horizon price list
# ---------------------------------------------------------------------------

# candidate retention horizons (days back from the corpus frontier)
RETENTION_HORIZONS_D = (7, 30, 90, 365)


def retention_policy_sweep(
    events: DataFrame, horizons: tuple[int, ...] = RETENTION_HORIZONS_D
) -> DataFrame:
    """Retention-horizon price list for the archive (T8's policy knob):
    for each candidate horizon H, keep only events within H days of the
    corpus frontier (the newest day present) and price what a
    drop-partitions-older-than-H job would retain — events kept, the
    day span kept, and the key universes that survive vs vanish
    entirely (an evicted key is an enrichment dimension entry with no
    remaining facts — the downstream-join blast radius of the policy).
    ``archive_prune_audit`` prices READ pruning at fixed cutoffs; this
    prices the DELETE policy itself across the grid, so "retain 90
    days" ships with its measured cost instead of a guess.

    One pass: per-event day index is the tz-free datediff-vs-literal
    spelling (partition-boundary safe — the trigger_interval_sweep
    convention); the frontier is a 1-row broadcast; the horizon grid is
    a bounded literal explode and the rollup map-side combines around
    two conditional distincts (the state_size_profile shape). Exact
    longs and wide-decimal round-half-up shares.
    """
    from inde1_spark.functions.exprs import dec_ratio_round

    day_idx = F.datediff(
        F.date_trunc("day", F.col("ts")), F.lit("1970-01-01").cast("date")
    ).cast("long")
    days = events.select(day_idx.alias("d"), "user_id")
    frontier = days.agg(F.max("d").alias("d_max"))
    kept = F.col("d") > F.col("d_max") - F.col("horizon_d")
    out = (
        days.crossJoin(F.broadcast(frontier))
        .select(
            "d",
            "user_id",
            "d_max",
            F.explode(
                F.array(*[F.lit(int(h)).cast("long") for h in horizons])
            ).alias("horizon_d"),
        )
        .groupBy("horizon_d")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.when(kept, 1).otherwise(0))
            .cast("long")
            .alias("n_events_kept"),
            F.countDistinct("user_id").cast("long").alias("n_keys"),
            F.countDistinct(F.when(kept, F.col("user_id")))
            .cast("long")
            .alias("n_keys_kept"),
            F.countDistinct(F.when(kept, F.col("d")))
            .cast("long")
            .alias("n_days_kept"),
        )
    )
    return out.select(
        "horizon_d",
        "n_events",
        "n_events_kept",
        "n_keys",
        "n_keys_kept",
        "n_days_kept",
        dec_ratio_round(
            F.col("n_events_kept") * 100,
            F.greatest(F.col("n_events"), F.lit(1).cast("long")),
            4,
        ).alias("kept_pct"),
        dec_ratio_round(
            (F.col("n_keys") - F.col("n_keys_kept")) * 100,
            F.greatest(F.col("n_keys"), F.lit(1).cast("long")),
            4,
        ).alias("keys_lost_pct"),
    ).orderBy("horizon_d")


# ---------------------------------------------------------------------------
# column_completeness_audit: per-column null/empty hygiene over events
# ---------------------------------------------------------------------------

# (column, is-string) roster the completeness audit walks — the events
# table's full top-level schema
COMPLETENESS_COLS = (
    ("event_id", False),
    ("event_type", True),
    ("props", True),
    ("ts", False),
    ("user_id", False),
    ("value", False),
)


def column_completeness_audit(events: DataFrame) -> DataFrame:
    """Per-column completeness ledger for the events table — the hygiene
    dashboard row every ingest contract check starts from: for each
    top-level column, the exact null count and share, and for string
    columns the empty-string count and share (NULL for non-strings —
    "not applicable" stays distinguishable from "zero empties").
    ``fk_integrity_audit`` prices null JOIN keys and
    ``json_props_audit`` walks inside the props map; this is the
    column-level sibling that catches a writer regressing to
    all-null/all-empty on ANY field before those downstream audits see
    it. At 100 TB an all-null column is also a storage/plan signal
    (prune it; its scans and shuffles are pure waste).

    One row-local explode of a bounded per-row struct array (no joins),
    one 6-row aggregate — map-side combinable, corpus-volume work is a
    single pass. Wide-decimal round-half-up shares.
    """
    from inde1_spark.functions.exprs import dec_ratio_round

    cells = events.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("col_name"),
                        F.col(name).isNull().cast("long").alias("is_null"),
                        (
                            (F.col(name) == F.lit("")).cast("long")
                            if is_str
                            else F.lit(None).cast("long")
                        ).alias("is_empty"),
                    )
                    for name, is_str in COMPLETENESS_COLS
                ]
            )
        ).alias("s")
    ).select("s.col_name", "s.is_null", "s.is_empty")
    agg = cells.groupBy("col_name").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("is_null").cast("long").alias("n_null"),
        F.sum("is_empty").cast("long").alias("n_empty"),
    )
    den = F.greatest(F.col("n_rows"), F.lit(1).cast("long"))
    return agg.select(
        "col_name",
        "n_rows",
        "n_null",
        dec_ratio_round(F.col("n_null") * 100, den, 4).alias("null_pct"),
        "n_empty",
        F.when(
            F.col("n_empty").isNotNull(),
            dec_ratio_round(
                F.coalesce(F.col("n_empty"), F.lit(0)) * 100, den, 4
            ),
        ).alias("empty_pct"),
    ).orderBy("col_name")


# ---------------------------------------------------------------------------
# scan_split_sweep: maxPartitionBytes price list over the daily layout
# ---------------------------------------------------------------------------

# candidate scan-split sizes (bytes) — the maxPartitionBytes knob grid
SCAN_SPLIT_BYTES = (
    16 * 1024 * 1024,
    64 * 1024 * 1024,
    128 * 1024 * 1024,
    256 * 1024 * 1024,
)


def scan_split_sweep(
    events: DataFrame, splits: tuple[int, ...] = SCAN_SPLIT_BYTES
) -> DataFrame:
    """Scan-granularity price list for ``spark.sql.files.maxPartitionBytes``
    — ``shuffle_width_sweep`` prices the WRITE-side width knob; this
    prices the READ side: with the archive laid out per day (modeled
    bytes = rows x the file_compaction_plan row-size constant), each
    candidate split size S yields ceil(day_bytes/S) scan tasks per day.
    The table reports the task bill per S — total tasks (compare to the
    cluster's core count: fewer tasks than cores is dead parallelism),
    mean task bytes, the largest task, and the RUNT share (each day's
    remainder task under S/2 — scheduling overhead that a smaller S
    multiplies and day-boundary alignment causes). The smallest S whose
    task count still saturates the cluster with a low runt share is the
    setting.

    ONE map-side-combinable per-day count, a bounded literal grid
    explode over the per-day table, exact integer ceil/remainder math,
    wide-decimal round-half-up shares.
    """
    from inde1_spark.functions.exprs import dec_ratio_round

    day_s = _day_str()
    per_day = events.groupBy(day_s.alias("day")).agg(
        (F.count("*") * F.lit(COMPACT_ROW_BYTES))
        .cast("long")
        .alias("day_bytes")
    )
    x = per_day.select(
        "day_bytes",
        F.explode(
            F.array(*[F.lit(int(s)).cast("long") for s in splits])
        ).alias("split_bytes"),
    ).select(
        "split_bytes",
        "day_bytes",
        F.expr("(day_bytes + split_bytes - 1) div split_bytes").alias(
            "tasks_d"
        ),
    )
    x = x.select(
        "split_bytes",
        "day_bytes",
        "tasks_d",
        (
            F.col("day_bytes")
            - (F.col("tasks_d") - 1) * F.col("split_bytes")
        ).alias("rem_bytes"),
    )
    agg = x.groupBy("split_bytes").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("day_bytes").cast("long").alias("total_bytes"),
        F.sum("tasks_d").cast("long").alias("n_tasks"),
        F.sum(
            F.when(F.col("rem_bytes") * 2 < F.col("split_bytes"), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("runt_tasks"),
        F.max(F.least(F.col("day_bytes"), F.col("split_bytes")))
        .cast("long")
        .alias("max_task_bytes"),
    )
    return agg.select(
        "split_bytes",
        "n_days",
        "total_bytes",
        "n_tasks",
        "max_task_bytes",
        dec_ratio_round(
            F.col("total_bytes"),
            F.greatest(F.col("n_tasks"), F.lit(1).cast("long")),
            0,
        ).alias("mean_task_bytes"),
        "runt_tasks",
        dec_ratio_round(
            F.col("runt_tasks") * 100,
            F.greatest(F.col("n_tasks"), F.lit(1).cast("long")),
            2,
        ).alias("runt_pct"),
    ).orderBy("split_bytes")


# ---------------------------------------------------------------------------
# rate_limit_sweep: ingest backpressure price list (queueing replay)
# ---------------------------------------------------------------------------

# candidate drain rates as a percent of the corpus mean arrival rate
RATE_PCTS = (50, 75, 100, 150, 300)


def rate_limit_sweep(
    events: DataFrame, pcts: tuple[int, ...] = RATE_PCTS
) -> DataFrame:
    """Backpressure price list for the ingest rate-limit knob
    (maxOffsetsPerTrigger / sink rate caps): replay the archive's
    per-minute arrival series against candidate drain rates R — each a
    percent of the corpus MEAN rate, so the grid is scale-free — and
    compute the exact queueing consequences via the Lindley recursion in
    closed form: backlog after minute t is (C_t - min_{s<=t} C_s)
    with C_t = cum_arrivals_t - R*t. Reported per rate: the peak
    backlog (the buffer/lag high-water mark), the share of arrival
    minutes spent with a backlog (how often the consumer is behind),
    and the drain time after the last arrival. A sub-100% rate that
    never backlogs beyond one trigger says the traffic is smooth enough
    to under-provision; a 300% rate that still peaks says the bursts,
    not the mean, size the pipeline.

    Corpus-volume work is ONE map-side-combinable per-minute count
    (minute index is the tz-free day-index spelling — bucket boundaries,
    so session-tz offsets must not shift them); the bounded per-minute
    series then carries two ordered windows per rate (cumulative sum +
    running min — the deliberate small-table global pass, the
    cache_hit_curve convention; empty minutes need no rows because C
    only falls inside a gap, so each gap's minimum is priced at the
    NEXT arrival row's just-before value). Exact longs throughout;
    wide-decimal round-half-up shares.
    """
    from inde1_spark.functions.exprs import dec_ratio_round

    abs_s = (
        F.datediff(
            F.date_trunc("day", F.col("ts")),
            F.lit("1970-01-01").cast("date"),
        ).cast("long")
        * 86400
        + F.hour("ts").cast("long") * 3600
        + F.minute("ts").cast("long") * 60
        + F.second("ts").cast("long")
    )
    arr = events.select(abs_s.alias("abs_s")).select(
        F.expr("abs_s div 60").alias("m")
    ).groupBy("m").agg(F.count("*").cast("long").alias("a"))
    totals = arr.agg(
        F.sum("a").cast("long").alias("total"),
        F.min("m").cast("long").alias("m_min"),
        F.max("m").cast("long").alias("m_max"),
        F.count("*").cast("long").alias("n_minutes"),
    )
    grid = totals.select(
        F.explode(
            F.array(*[F.lit(int(p)).cast("long") for p in pcts])
        ).alias("rate_pct"),
        "total",
        "m_min",
        "m_max",
        "n_minutes",
    ).select(
        "rate_pct",
        "total",
        "m_min",
        "m_max",
        "n_minutes",
        (F.col("m_max") - F.col("m_min") + 1).alias("span_min"),
    )
    grid = grid.select(
        "*",
        F.expr(
            "(total * rate_pct + span_min * 100 - 1) div (span_min * 100)"
        ).alias("rate_per_min"),
    )
    ser = arr.crossJoin(F.broadcast(grid))
    w_cum = (
        Window.partitionBy("rate_pct")
        .orderBy("m")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # relative minute index (1-based); C_t = cum - R*t; the just-before
    # value p prices the gap's drain (C falls monotonically in a gap)
    ser = ser.select(
        "*",
        (F.col("m") - F.col("m_min") + 1).alias("t"),
        F.sum("a").over(w_cum).alias("cum"),
    )
    ser = ser.select(
        "*",
        (F.col("cum") - F.col("rate_per_min") * F.col("t")).alias("c_t"),
        (
            (F.col("cum") - F.col("a"))
            - F.col("rate_per_min") * (F.col("t") - 1)
        ).alias("p_t"),
    )
    ser = ser.select(
        "*",
        F.least(
            F.lit(0).cast("long"), F.min("p_t").over(w_cum)
        ).alias("min_c"),
    )
    ser = ser.select(
        "*",
        F.greatest(
            F.lit(0).cast("long"), F.col("c_t") - F.col("min_c")
        ).alias("backlog"),
    )
    agg = ser.groupBy("rate_pct").agg(
        F.max("total").alias("n_events"),
        F.max("n_minutes").alias("n_minutes"),
        F.max("span_min").alias("span_min"),
        F.max("rate_per_min").alias("rate_per_min"),
        F.max("backlog").cast("long").alias("peak_backlog"),
        F.sum(F.when(F.col("backlog") > 0, 1).otherwise(0))
        .cast("long")
        .alias("backlogged_minutes"),
        F.max(
            F.when(F.col("m") == F.col("m_max"), F.col("backlog"))
        )
        .cast("long")
        .alias("end_backlog"),
    )
    return agg.select(
        "rate_pct",
        "n_events",
        "n_minutes",
        "span_min",
        "rate_per_min",
        "peak_backlog",
        "backlogged_minutes",
        dec_ratio_round(
            F.col("backlogged_minutes") * 100,
            F.greatest(F.col("n_minutes"), F.lit(1).cast("long")),
            2,
        ).alias("backlogged_pct"),
        F.expr(
            "(end_backlog + rate_per_min - 1) div rate_per_min"
        ).alias("drain_min"),
    ).orderBy("rate_pct")


# ---------------------------------------------------------------------------
# watermark_state_tradeoff: peak keyed-state held per candidate lateness
# ---------------------------------------------------------------------------


def watermark_state_tradeoff(
    events: DataFrame, delays: tuple[int, ...] = LATENESS_DELAYS_S
) -> DataFrame:
    """State-cost side of the allowed-lateness knob —
    ``allowed_lateness_sweep`` prices what each watermark delay DROPS;
    this prices what it HOLDS: with delay D, a keyed streaming aggregate
    must keep every (key, minute-window) state cell alive until the
    watermark passes it, so the cells live at frontier t are exactly
    those with activity in the trailing D window. The peak of that
    count over the replay is the state-store high-water mark the delay
    buys, emitted in rows and modeled bytes (the state_size_profile
    footprint constant). Reading the two tables together turns
    "watermark 5 minutes" into its full price: dropped events on one
    side, peak resident state on the other.

    The corpus collapses to distinct (key, minute) cells FIRST (one
    shuffle), then to a per-minute cell count (bounded series). Peak
    concurrency is an exact sliding-window sum: each cell [m, m+D]
    is live at t iff m is within (t-D, t], so live(t) = the trailing
    (D+1)-minute sum of cell counts, maximized at arrival minutes
    (between arrivals cells only age out). One RANGE frame per grid
    delay over the bounded series (the deliberate small-table ordered
    pass, the cache_hit_curve convention); exact longs and
    round-half-up shares.
    """
    from functools import reduce

    from inde1_spark.functions.exprs import dec_ratio_round

    abs_s = (
        F.datediff(
            F.date_trunc("day", F.col("ts")),
            F.lit("1970-01-01").cast("date"),
        ).cast("long")
        * 86400
        + F.hour("ts").cast("long") * 3600
        + F.minute("ts").cast("long") * 60
        + F.second("ts").cast("long")
    )
    cells = (
        events.select("user_id", abs_s.alias("abs_s"))
        .select("user_id", F.expr("abs_s div 60").alias("m"))
        .distinct()
    )
    per_min = cells.groupBy("m").agg(
        F.count("*").cast("long").alias("c_m")
    )
    branches = []
    for d in delays:
        d_min = int(d) // 60
        w = (
            Window.orderBy("m").rangeBetween(-d_min, 0)
            if d_min > 0
            else Window.orderBy("m").rowsBetween(0, 0)
        )
        branches.append(
            per_min.select(
                F.lit(int(d)).cast("long").alias("delay_s"),
                F.lit(d_min).cast("long").alias("window_min"),
                "c_m",
                F.sum("c_m").over(w).cast("long").alias("live"),
            )
        )
    allb = reduce(lambda a, b: a.unionByName(b), branches)
    agg = allb.groupBy("delay_s").agg(
        F.max("window_min").alias("window_min"),
        F.sum("c_m").cast("long").alias("n_cells"),
        F.count("*").cast("long").alias("n_minutes"),
        F.max("live").cast("long").alias("peak_state_rows"),
    )
    return agg.select(
        "delay_s",
        "window_min",
        "n_cells",
        "n_minutes",
        "peak_state_rows",
        (F.col("peak_state_rows") * F.lit(STATE_BYTES_PER_KEY))
        .cast("long")
        .alias("peak_state_bytes"),
        dec_ratio_round(
            F.col("peak_state_rows") * 100,
            F.greatest(F.col("n_cells"), F.lit(1).cast("long")),
            2,
        ).alias("peak_share_pct"),
    ).orderBy("delay_s")


# ---------------------------------------------------------------------------
# key_churn_audit: daily key-universe turnover ledger
# ---------------------------------------------------------------------------


def key_churn_audit(events: DataFrame) -> DataFrame:
    """Daily key-universe turnover — the dimension/state sizing signal
    ``retention_cohorts`` (the growth triangle) does not surface: per
    day, the active keys, the keys seen for the FIRST time (dimension
    inserts; enrichment cache cold starts), the keys seen for the LAST
    time in the whole archive (state the monitors could evict — the
    ``state_size_profile`` leak check read forward), and the running
    key-universe size. A new-key share that stays high says the key
    space grows with the corpus (plan dimension capacity accordingly);
    a retired share near zero says keyed state never becomes garbage
    and needs explicit TTLs (``ttl_staleness_sweep`` prices them).

    The corpus collapses to distinct (key, day) activity FIRST (the one
    corpus-volume shuffle, the retention_cohorts opening move); per-key
    first/last days ride the same key partitioning; everything after is
    per-day bounded — two tiny outer joins on the day grain and one
    running sum over the bounded day series (the deliberate small-table
    ordered pass). Exact longs and round-half-up shares; days with
    activity only (a day absent from the archive has no row — both
    engines identically).
    """
    from inde1_spark.functions.exprs import dec_ratio_round

    day_s = _day_str()
    activity = events.select(
        "user_id", day_s.alias("day")
    ).distinct()
    actives = activity.groupBy("day").agg(
        F.count("*").cast("long").alias("n_active")
    )
    firstlast = activity.groupBy("user_id").agg(
        F.min("day").alias("first_day"), F.max("day").alias("last_day")
    )
    news = firstlast.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").cast("long").alias("n_new")
    )
    retires = firstlast.groupBy(F.col("last_day").alias("day")).agg(
        F.count("*").cast("long").alias("n_retired")
    )
    per_day = (
        actives.join(news, "day", "left")
        .join(retires, "day", "left")
        .select(
            "day",
            "n_active",
            F.coalesce(F.col("n_new"), F.lit(0).cast("long")).alias("n_new"),
            F.coalesce(F.col("n_retired"), F.lit(0).cast("long")).alias(
                "n_retired"
            ),
        )
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    per_day = per_day.select(
        "*", F.sum("n_new").over(w).cast("long").alias("universe_size")
    )
    den = F.greatest(F.col("n_active"), F.lit(1).cast("long"))
    return per_day.select(
        "day",
        "n_active",
        "n_new",
        "n_retired",
        "universe_size",
        dec_ratio_round(F.col("n_new") * 100, den, 2).alias("new_pct"),
        dec_ratio_round(F.col("n_retired") * 100, den, 2).alias(
            "retired_pct"
        ),
        dec_ratio_round(
            F.col("n_active") * 100,
            F.greatest(F.col("universe_size"), F.lit(1).cast("long")),
            2,
        ).alias("active_share_pct"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# lateness_attribution_audit: per-day lateness ledger at the deployed delay
# ---------------------------------------------------------------------------

# the deployed watermark delay the attribution ledger prices against
LATENESS_PROD_DELAY_S = 900


def lateness_attribution_audit(
    events: DataFrame, delay_s: int = LATENESS_PROD_DELAY_S
) -> DataFrame:
    """WHERE is the lateness coming from — ``allowed_lateness_sweep``
    prices the delay knob on corpus totals; once a delay is deployed,
    ops needs the attribution: per calendar day, how many events
    regressed behind their key's event-time frontier (arrival order,
    the same per-key running max), how many of those exceed the
    DEPLOYED delay (the rows the production watermark actually drops),
    and the day's worst regression. A lateness spike pinned to one day
    is an ingestion incident to chase; a flat daily floor is clock skew
    to fix at the producer. Days are the regressing event's own day —
    the day the bad data LANDS, which is where the alarm should ring.

    Same plan spine as the sweep: ONE per-key window in (event_id, ts)
    arrival order over truncated-second timestamps (differences — tz
    offsets cancel), then a per-day map-side-combinable rollup (day via
    tz-free date_trunc formatting). Exact longs; wide-decimal
    round-half-up shares.
    """
    from inde1_spark.functions.exprs import dec_ratio_round

    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id", "ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ts_s = F.unix_timestamp("ts").cast("long")
    day_s = _day_str()
    late = events.select(
        day_s.alias("day"),
        (F.max(ts_s).over(w) - ts_s).alias("lateness_s"),
    )
    agg = late.groupBy("day").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.when(F.col("lateness_s") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_late"),
        F.sum(
            F.when(F.col("lateness_s") > F.lit(int(delay_s)), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_dropped"),
        F.max("lateness_s").cast("long").alias("max_lateness_s"),
    )
    den = F.greatest(F.col("n_events"), F.lit(1).cast("long"))
    return agg.select(
        "day",
        "n_events",
        "n_late",
        "n_dropped",
        "max_lateness_s",
        dec_ratio_round(F.col("n_late") * 100, den, 4).alias("late_pct"),
        dec_ratio_round(F.col("n_dropped") * 100, den, 4).alias("drop_pct"),
    ).orderBy("day")
