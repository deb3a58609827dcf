"""The two query workloads: one pass runs every listed ``queries()`` builder
as build -> ``count()`` -> ``release_persisted()`` + ``clearCache()``; a
query whose first run takes less than ``MIN_QUERY_S`` runs ``SMALL_REPS``
times, and its median counts.

``iterative_queries`` holds operators whose builders fire Spark jobs before
the action (label propagation, k-core peeling), so the driver-side build
layer dominates. ``oneshot_queries`` holds queries whose plans build without
jobs, so Spark execution dominates: the CPU-heavy mutual-nearest-neighbour
and CKA verifies next to sub-second event and TPC-H queries. A build-layer
change should move the first and leave the second unchanged.
"""

from __future__ import annotations

import hashlib
import statistics
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

from inputs import write_tables

MIN_QUERY_S = 1.0
SMALL_REPS = 3

ITERATIVE = (
    "label_propagation_communities",
    "kcore_dup_graph",
)
ONESHOT = (
    "hourly_stats",
    "alerts",
    "revenue_by_nation",
    "mutual_nearest_neighbors",
    "embedding_cka",
)
def digest(pdf) -> tuple[int, str]:
    """Order-insensitive (rows, md5) of a pandas frame: columns sorted by
    name, every cell rendered with ``str``, rows sorted as strings."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = sorted("\x1f".join(str(v) for v in r)
                  for r in pdf.itertuples(index=False, name=None))
    return len(rows), hashlib.md5("\x1e".join(rows).encode()).hexdigest()


class QueryWorkload:
    def __init__(self, names: tuple[str, ...]) -> None:
        self.names = names

    def write_inputs(self, seed: int, data_dir: str) -> None:
        """Write this seed's tables; not timed."""
        write_tables(data_dir, seed)

    def open(self, ctx, data_dir: str) -> None:
        """Open every table through the program's reader; timed as part of
        set-up."""
        from inde1_spark.sources.readers import load_table
        from inde1_spark.schemas import TESTDATA_TABLES

        self.tables = list(TESTDATA_TABLES)
        for t in self.tables:
            load_table(ctx.spark, data_dir, t)
        self.data_dir = data_dir

    def _run_query(self, ctx, name: str, pass_span, action):
        """Build, act, release; returns (build_s, action_s, action result)."""
        import __spark_entry__ as E
        from inde1_spark.operators.dedup import release_persisted

        spark, sc, tr = ctx.spark, ctx.spark.sparkContext, ctx.tracer
        builder = E.queries()[name]
        with tr.span("query", pass_span, query=name) as qspan:
            sc.setJobGroup(f"{ctx.tag}:{name}:build", name)
            t0 = time.perf_counter()
            df = builder(spark, self.data_dir)
            t1 = time.perf_counter()
            sc.setJobGroup(f"{ctx.tag}:{name}:action", name)
            result = action(df)
            t2 = time.perf_counter()
            tr.add("build", t0, t1, qspan)
            tr.add("action", t1, t2, qspan)
            if tr.enabled:
                ctx.query_detail(name, df, t1 - t0, t2 - t1)
            release_persisted()
            spark.catalog.clearCache()
            sc.setJobGroup(f"{ctx.tag}:idle", "idle")
        return t1 - t0, t2 - t1, result

    def warm_up(self, ctx) -> dict[str, int]:
        """Warm-up pass: build, collect every result and compare it with its
        DuckDB twin from ``oracle_sql()`` on the same parquet files (columns
        sorted by name, rows order-free, cells as strings). Returns the row
        count of every query that matched."""
        import duckdb

        import __spark_entry__ as E

        oracle = E.oracle_sql()
        con = duckdb.connect()
        # the twins run on one DuckDB thread beside the Spark warm-up
        con.execute("SET threads = 1")
        pool = ThreadPoolExecutor(1)
        try:
            for t in self.tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.data_dir}/{t}.parquet')")
            wants = {name: pool.submit(lambda q=oracle[name]: digest(con.execute(q).df()))
                     for name in self.names}
            pinned = {}
            ctx.tag = "warm"
            for name in self.names:
                try:
                    _, _, pdf = self._run_query(ctx, name, None, lambda df: df.toPandas())
                except Exception:
                    ctx.log(f"{name} failed:\n{traceback.format_exc()}")
                    continue
                got, want = digest(pdf), wants[name].result()
                if got == want:
                    pinned[name] = got[0]
                else:
                    ctx.log(f"{name}: spark {got} != duckdb {want}")
            return pinned
        finally:
            pool.shutdown(cancel_futures=True)
            con.close()

    def measure(self, ctx, seconds: float, pinned: dict[str, int]) -> dict:
        attempted, failed = len(self.names), len(self.names) - len(pinned)
        passes, op_times = [], []
        start = time.perf_counter()
        while not passes or time.perf_counter() - start < seconds:
            p = len(passes)
            ctx.tag = f"p{p}"
            with ctx.tracer.span("pass", ctx.run_span, index=p) as pspan:
                t0 = time.perf_counter()
                for name in self.names:
                    # a query whose first run is shorter than MIN_QUERY_S
                    # runs SMALL_REPS times and its median counts: the first
                    # count() after the warm-up's collect is slower (its
                    # plan is new), a large share of a sub-second query
                    times: list[float] = []
                    while not times or (len(times) < SMALL_REPS and times[0] < MIN_QUERY_S):
                        ctx.tag = f"p{p}.{len(times)}" if times else f"p{p}"
                        attempted += 1
                        try:
                            build_s, action_s, rows = self._run_query(
                                ctx, name, pspan, lambda df: df.count())
                        except Exception:
                            ctx.log(f"{name} failed:\n{traceback.format_exc()}")
                            failed += 1
                            break
                        if rows != pinned.get(name):
                            failed += 1
                        times.append(build_s + action_s)
                    if times:
                        op_times.append((name, statistics.median(times)))
                passes.append(time.perf_counter() - t0)
            ctx.log(f"pass {p}: {passes[-1]:.3f} s")
        per_query = [statistics.median(ts) for ts in
                     ([t for q, t in op_times if q == name] for name in self.names) if ts]
        return {"attempted": attempted, "failed": failed, "passes": passes,
                "per_query_s": per_query}
