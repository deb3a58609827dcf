"""DuckDB oracle SQL for every oracle-checkable query in __spark_entry__.

Each statement is the ANSI-SQL equivalent of the Spark plan with the SAME
output column names and the SAME determinism strategy (see
operators/analytics.py): exact decimal/fixed-point accumulation, formatted
timestamps, total orderings. Shared constants (LSH permutations, thresholds,
marker lists) are imported from the operator modules so the two sides cannot
drift.

``ORACLES`` is the one twin dict for every surface: production, staged and
test-only. It says nothing of a query's surface. ``__spark_entry__`` reads
that from the query's record and filters ``ORACLES`` by it, so a promotion
leaves this file alone.

Engine-portability notes encoded here:
- DuckDB SUM(INTEGER) returns HUGEINT -> always CAST to BIGINT;
- DuckDB CAST(double AS INT) rounds while Spark truncates -> use // or floor;
- DuckDB epoch() is fractional -> use date_diff('second', ...) which equals
  Spark's unix_timestamp difference;
- row_number() is BIGINT in DuckDB, INT in Spark -> Spark side casts to long.
"""

from __future__ import annotations

from inde1_spark.operators.dedup import (
    COSINE_DEDUP_THRESHOLD,
    HAMMING_MAX,
    JACCARD_THRESHOLD,
    MINHASH_PRIME,
    N_BANDS,
    N_PERM,
    PERMS,
    SIMHASH_BAND_BITS,
    SIMHASH_BITS,
    SIMHASH_MULT,
)
from inde1_spark.functions.exprs import FIXED_POINT_SCALE
from inde1_spark.operators.similarity import (
    K_BRUTE,
    K_BUCKETED,
    LSH_SIGN_DIMS,
    N_QUERIES,
)
from inde1_spark.operators.similarity import K_IVF, N_PROBE
from inde1_spark.operators.text import (
    BPE_PATTERN,
    LANG_MARKERS,
    STOPWORDS,
    TRAIN_PCT,
    VAL_PCT,
)

ENTRY, EXIT = "view", "click"
RATE = 2.0
EMB_DIM = 64

# -- shared SQL fragments ----------------------------------------------------

_HOUR = "strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')"
_DAY = "strftime(date_trunc('day', ts), '%Y-%m-%d')"
_TS = "strftime(ts, '%Y-%m-%d %H:%M:%S')"


def _dsum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"


def _dec2d(x: str) -> str:
    """SQL twin of exprs.dec_to_double_exact: wide exact integer -> double
    via base-10^15 digit split (DuckDB's direct wide-int casts are not
    correctly rounded past 2^53). The split runs in HUGEINT (// on
    DECIMAL silently returns DOUBLE); % first, then exactly-divisible
    // — DuckDB's % truncates (sign of dividend) while // floors, so the
    divide must only ever see exactly-divisible numerators."""
    P = 10**15
    xh = f"CAST({x} AS HUGEINT)"
    x1 = f"(({xh}) - (({xh}) % {P})) // {P}"
    return (
        f"(CAST((({x1}) - (({x1}) % {P})) // {P} AS DOUBLE) * 1e30"
        f" + CAST(({x1}) % {P} AS DOUBLE) * 1e15"
        f" + CAST(({xh}) % {P} AS DOUBLE))"
    )


def _rr(num: str, den: str, scale: int) -> str:
    """SQL twin of exprs.ratio_round — exact integer round-half-up."""
    p = 10**scale
    return (
        f"(CAST(((({num}) * {2 * p} + ({den})) // (2 * ({den}))) AS DOUBLE) / {p}.0)"
    )


# shingle pipeline shared by the dedup oracles (word 3-grams, distinct/doc)
_SHINGLES = """
toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, len(toks) - 2)) AS u(i)
  WHERE len(toks) >= 3
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)
"""

_JACCARD_FROM_INTER = """
SELECT doc_a, doc_b, jaccard FROM (
  SELECT i.doc_a, i.doc_b,
         {jexpr} AS jaccard
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
) WHERE jaccard >= {thr}
"""


def _jaccard_from_inter(thr: float) -> str:
    return _JACCARD_FROM_INTER.format(
        thr=thr, jexpr=_rr("i.n_inter", "sa.sz + sb.sz - i.n_inter", 6)
    )


_FIXED_DOT = (
    "CAST(SUM(CAST(ROUND(CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)"
    f" * {FIXED_POINT_SCALE:.1f}) AS BIGINT)) AS DOUBLE) / {FIXED_POINT_SCALE:.1f}"
)

_NORMS = f"""
norms AS (
  SELECT vec_id,
         sqrt(CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
              * {FIXED_POINT_SCALE:.1f}) AS BIGINT)) AS DOUBLE) / {FIXED_POINT_SCALE:.1f}) AS nrm
  FROM embeddings, UNNEST(generate_series(1, {EMB_DIM})) AS u(i)
  GROUP BY vec_id
)
"""


def _lang_score(markers: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    return f"CAST(len(list_filter(toks, t -> t IN ({lst}))) AS BIGINT)"


def _build_lang_pred() -> str:
    langs = sorted(LANG_MARKERS)
    cases = []
    for idx, lang in enumerate(langs[:-1]):
        others = ", ".join(f"score_{o}" for o in langs if o != lang)
        cases.append(f"WHEN score_{lang} >= GREATEST({others}) THEN '{lang}'")
    return "CASE " + " ".join(cases) + f" ELSE '{langs[-1]}' END"


_STOP_LIST = ", ".join(f"'{s}'" for s in STOPWORDS)

# -- the oracle map -----------------------------------------------------------

ORACLES: dict[str, str] = {}

ORACLES["filter_project"] = f"""
SELECT event_id, {_TS} AS ts_str, event_type,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
FROM events WHERE event_type IN ('{ENTRY}', '{EXIT}')
"""

ORACLES["hourly_stats"] = f"""
SELECT {_HOUR} AS hour_ts,
       count(*) FILTER (WHERE event_type = '{ENTRY}') AS n_entries,
       count(*) FILTER (WHERE event_type = '{EXIT}') AS n_exits,
       GREATEST(0, count(*) FILTER (WHERE event_type = '{ENTRY}')
                 - count(*) FILTER (WHERE event_type = '{EXIT}')) AS occupancy,
       ROUND(GREATEST(0, count(*) FILTER (WHERE event_type = '{ENTRY}')
                 - count(*) FILTER (WHERE event_type = '{EXIT}')) * {RATE}, 2) AS revenue
FROM events
WHERE event_type IN ('{ENTRY}', '{EXIT}')
GROUP BY 1
"""

ORACLES["group_count"] = f"""
SELECT {_DAY} AS day, event_type, count(*) AS n_events
FROM events GROUP BY 1, 2
"""

ORACLES["global_counts"] = f"""
SELECT count(*) AS n_total,
       count(*) FILTER (WHERE event_type = '{ENTRY}') AS n_entries,
       count(*) FILTER (WHERE event_type = '{EXIT}') AS n_exits,
       count(DISTINCT user_id) AS n_users
FROM events
"""

# approx_distinct: the sketch VALUE is engine-specific, so the oracle checks
# the sketch CONTRACT — the Spark side emits whether HLL++(rsd=0.01) landed
# within 5% of exact (deterministic for fixed data); the oracle asserts TRUE.
ORACLES["approx_distinct"] = """
SELECT event_type,
       TRUE AS approx_within_5pct,
       count(DISTINCT user_id) AS exact_users
FROM events
GROUP BY event_type
"""

ORACLES["occupancy_clamped"] = f"""
SELECT user_id,
       GREATEST(0, CAST(SUM(CASE WHEN event_type = '{ENTRY}' THEN 1 ELSE -1 END) AS BIGINT)) AS occupancy
FROM events WHERE event_type IN ('{ENTRY}', '{EXIT}')
GROUP BY user_id
"""

ORACLES["occupancy_asof"] = f"""
WITH r AS (
  SELECT event_type, user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
  WHERE event_type IN ('{ENTRY}', '{EXIT}')
    AND ts <= TIMESTAMP '2024-01-15 00:00:00'
)
SELECT event_type, count(*) AS n_keys FROM r WHERE rn = 1 GROUP BY 1
"""

ORACLES["revenue_duration"] = f"""
SELECT {_DAY} AS day, {_dsum('value')} * ({RATE} / 60.0) AS revenue
FROM events WHERE event_type = '{EXIT}' GROUP BY 1
"""

from inde1_spark.operators.analytics import VEHICLE_TYPES

_VTYPE_LIST = ", ".join(f"'{t}'" for t in VEHICLE_TYPES)

ORACLES["weekly_revenue_by_type"] = f"""
WITH exits AS (
  SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
         [{_VTYPE_LIST}][CAST(CAST(json_extract_string(props, '$.k') AS BIGINT)
                              % {len(VEHICLE_TYPES)} + 1 AS INT)] AS vtype,
         value
  FROM events WHERE event_type = '{EXIT}'
)
SELECT week, vtype,
       {_dsum('value')} * ({RATE} / 60.0) AS revenue,
       ({_dsum('value')} / COUNT(value)) * ({RATE} / 60.0) AS avg_spent,
       count(*) AS n_exits
FROM exits GROUP BY 1, 2
"""

ORACLES["avg_per_group"] = f"""
SELECT {_DAY} AS day, event_type,
       {_dsum('value')} / COUNT(value) AS avg_value,
       count(*) AS n_events
FROM events GROUP BY 1, 2
"""

ORACLES["cumulative_series"] = f"""
WITH daily AS (
  SELECT {_DAY} AS day,
         count(*) FILTER (WHERE event_type = '{ENTRY}') AS d_entries,
         count(*) FILTER (WHERE event_type = '{EXIT}') AS d_exits
  FROM events WHERE event_type IN ('{ENTRY}', '{EXIT}') GROUP BY 1
)
SELECT day,
       CAST(SUM(d_entries) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_entries,
       CAST(SUM(d_exits) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_exits
FROM daily
"""

ORACLES["daily_buckets"] = f"""
SELECT {_DAY} AS day, count(*) AS n_events, {_dsum('value')} AS sum_value
FROM events GROUP BY 1
"""

ORACLES["duration_stats"] = f"""
SELECT event_type, min(value) AS min_value,
       {_dsum('value')} / COUNT(value) AS avg_value,
       max(value) AS max_value
FROM events GROUP BY 1
"""

ORACLES["heatmap_hour"] = f"""
SELECT CAST(hour(ts) AS BIGINT) AS hour_of_day, count(*) AS n_entries
FROM events WHERE event_type = '{ENTRY}' GROUP BY 1
"""

ORACLES["entry_exit_ratio"] = f"""
SELECT CAST(hour(ts) AS BIGINT) AS hour_of_day,
       count(*) FILTER (WHERE event_type = '{ENTRY}') AS n_entries,
       count(*) FILTER (WHERE event_type = '{EXIT}') AS n_exits,
       {_rr("count(*) FILTER (WHERE event_type = '" + ENTRY + "')",
            "GREATEST(count(*) FILTER (WHERE event_type = '" + EXIT + "'), 1)", 4)} AS entry_exit_ratio
FROM events WHERE event_type IN ('{ENTRY}', '{EXIT}')
GROUP BY 1
"""

ORACLES["enrich_users"] = f"""
WITH users AS (
  SELECT c_custkey AS user_key, c_name AS user_name, c_acctbal AS acctbal
  FROM customer WHERE c_custkey % 3 <> 0
)
SELECT COALESCE(user_name, 'unknown') AS user_name,
       count(*) AS n_events,
       {_dsum('value')} AS sum_value
FROM events e LEFT JOIN users u ON e.user_id = u.user_key
GROUP BY 1
"""

ORACLES["alerts"] = f"""
WITH users AS (
  SELECT c_custkey AS user_key, c_acctbal AS acctbal
  FROM customer WHERE c_custkey % 3 <> 0
)
SELECT * FROM (
  SELECT event_id, user_id, {_TS} AS ts_str,
         CASE WHEN user_key IS NULL THEN 'unknown_user'
              WHEN acctbal < 0 THEN 'unauthorized_user'
              ELSE 'authorized' END AS violation_type
  FROM events e LEFT JOIN users u ON e.user_id = u.user_key
  WHERE event_type = 'error'
) WHERE violation_type <> 'authorized'
"""

ORACLES["session_pairing"] = f"""
WITH entries AS (
  SELECT user_id, ts AS entry_ts, event_id AS entry_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type = '{ENTRY}'
),
exits AS (
  SELECT user_id, ts AS exit_ts, event_id AS exit_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type = '{EXIT}'
)
SELECT e.user_id, e.rn,
       strftime(entry_ts, '%Y-%m-%d %H:%M:%S') AS entry_ts_str,
       strftime(exit_ts, '%Y-%m-%d %H:%M:%S') AS exit_ts_str,
       ROUND(date_diff('second', entry_ts, exit_ts) / 60.0, 2) AS duration_min
FROM entries e JOIN exits x ON e.user_id = x.user_id AND e.rn = x.rn
"""

ORACLES["occupancy_pct"] = f"""
WITH cap AS (SELECT c_nationkey, count(*) AS capacity FROM customer GROUP BY 1),
active AS (
  SELECT c_nationkey, count(DISTINCT user_id) AS n_active
  FROM events e JOIN customer c ON e.user_id = c.c_custkey
  WHERE event_type = '{ENTRY}' GROUP BY 1
)
SELECT n_name AS nation, n_active, capacity,
       {_rr("n_active * 100", "capacity", 4)} AS occupancy_pct
FROM active
JOIN cap USING (c_nationkey)
JOIN nation ON c_nationkey = n_nationkey
"""

ORACLES["top_k_users"] = f"""
SELECT user_id, count(*) AS n_entries
FROM events WHERE event_type = '{ENTRY}'
GROUP BY 1 ORDER BY n_entries DESC, user_id ASC LIMIT 10
"""

ORACLES["max_ts"] = """
SELECT event_type, strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts_str,
       count(*) AS n_events
FROM events GROUP BY 1
"""

ORACLES["set_ops"] = f"""
SELECT 'union' AS op, count(*) AS n FROM (
  SELECT DISTINCT user_id FROM events WHERE event_type = '{ENTRY}'
  UNION
  SELECT DISTINCT user_id FROM events WHERE event_type = '{EXIT}'
)
UNION ALL
SELECT 'intersect' AS op, count(*) AS n FROM (
  SELECT DISTINCT user_id FROM events WHERE event_type = '{ENTRY}'
  INTERSECT
  SELECT DISTINCT user_id FROM events WHERE event_type = '{EXIT}'
)
UNION ALL
SELECT 'except' AS op, count(*) AS n FROM (
  SELECT DISTINCT user_id FROM events WHERE event_type = '{ENTRY}'
  EXCEPT
  SELECT DISTINCT user_id FROM events WHERE event_type = '{EXIT}'
)
"""

ORACLES["rollup_nation_region"] = f"""
SELECT COALESCE(r_name, 'ALL') AS region, COALESCE(n_name, 'ALL') AS nation,
       count(*) AS n_orders, {_dsum('o_totalprice')} AS sum_price
FROM orders o
JOIN customer c ON o_custkey = c_custkey
JOIN nation n ON c_nationkey = n_nationkey
JOIN region r ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
"""

ORACLES["sessionize_gap"] = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 3600
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sess AS (
  SELECT user_id, ts,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       ROUND(date_diff('second', min(ts), max(ts)) / 60.0, 2) AS session_min
FROM sess GROUP BY 1, 2
"""

ORACLES["pricing_summary"] = f"""
SELECT l_returnflag, l_linestatus,
       {_dsum('l_quantity')} AS sum_qty,
       {_dsum('l_extendedprice')} AS sum_base_price,
       {_dsum('l_extendedprice * (1.0 - l_discount)')} AS sum_disc_price,
       {_dsum('l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)')} AS sum_charge,
       {_dsum('l_quantity')} / count(*) AS avg_qty,
       {_dsum('l_extendedprice')} / count(*) AS avg_price,
       {_dsum('l_discount')} / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY 1, 2
"""

ORACLES["top_revenue_orders"] = f"""
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_str,
       {_dsum('l_extendedprice * (1.0 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY 1, 2
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""

ORACLES["revenue_by_nation"] = f"""
SELECT n_name AS nation,
       {_dsum('l_extendedprice * (1.0 - l_discount)')} AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY 1
"""

ORACLES["forecast_revenue"] = f"""
SELECT {_dsum('l_extendedprice * l_discount')} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount >= 0.02 AND l_discount <= 0.06
  AND l_quantity < 24.0
"""

ORACLES["order_priority_check"] = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY 1
"""

ORACLES["customer_order_distribution"] = """
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN (
    SELECT * FROM orders WHERE o_orderpriority <> '1-URGENT'
  ) o ON c_custkey = o_custkey
  GROUP BY 1
)
SELECT c_count, count(*) AS custdist FROM per_cust GROUP BY 1
"""

ORACLES["promo_revenue"] = f"""
SELECT 100.0
       * {_dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")}
       / {_dsum('l_extendedprice * (1.0 - l_discount)')} AS promo_revenue_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate <  TIMESTAMP '1996-10-01'
"""

ORACLES["top_supplier"] = f"""
WITH revenue AS (
  SELECT l_suppkey, {_dsum('l_extendedprice * (1.0 - l_discount)')} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""

ORACLES["customers_without_orders"] = f"""
WITH avg_bal AS (
  SELECT {_dsum('c_acctbal')} / count(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS numcust,
       {_dsum('c_acctbal')} AS totacctbal
FROM customer, avg_bal
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '1999-01-01'
  )
GROUP BY 1
"""

# -- relevance / LM scoring (operators/scoring.py) ---------------------------
# ln() is snapped to a fixed-point long (LOG_SCALE) on both sides; every
# later product/sum is exact integer math, the final divide is one
# integer-derived double op. Expression nesting mirrors the Spark side
# left-to-right so float ops execute in the identical order.

from inde1_spark.operators.scoring import (
    BM25_B,
    BM25_K1,
    BM25_QUERY,
    BM25_TOP_K,
    LOG_SCALE,
    SCORE_SCALE,
    TFIDF_TOP_K,
)

_TF = """
toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
tf AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, tok AS term,
         CAST(count(*) AS BIGINT) AS tf
  FROM toks, UNNEST(toks) AS u(tok)
  {tok_filter}
  GROUP BY 1, 2, 3
)
"""

_QTERMS = ", ".join(f"'{t}'" for t in BM25_QUERY)

ORACLES["tfidf_top_terms"] = f"""
WITH {_TF.format(tok_filter='')},
dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
         tf.tf * CAST(round(ln(n.n_docs / dfq.df) * {LOG_SCALE}.0, 0) AS BIGINT)
           AS score_key
  FROM tf JOIN dfq USING (term), n
)
SELECT doc_id,
       CAST(row_number() OVER w AS BIGINT) AS rank,
       term, tf, df AS doc_freq,
       CAST(score_key AS DOUBLE) / {LOG_SCALE}.0 AS tfidf
FROM scored
WINDOW w AS (PARTITION BY doc_id ORDER BY score_key DESC, term ASC)
QUALIFY row_number() OVER w <= {TFIDF_TOP_K}
"""

ORACLES["bm25_score"] = f"""
WITH {_TF.format(tok_filter=f'WHERE tok IN ({_QTERMS})')},
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(SUM(len(toks)) AS DOUBLE) / count(*) AS avgdl
  FROM toks
),
dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
contrib AS (
  SELECT tf.doc_id,
         CAST(round(
           (CAST(CAST(round(ln((stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
                            * {LOG_SCALE}.0, 0) AS BIGINT) AS DOUBLE) / {LOG_SCALE}.0)
           * (CAST(tf.tf AS DOUBLE) * {BM25_K1 + 1.0!r})
           / (CAST(tf.tf AS DOUBLE)
              + {BM25_K1!r} * ({1.0 - BM25_B!r} + {BM25_B!r} * CAST(tf.dl AS DOUBLE) / stats.avgdl))
           * {SCORE_SCALE}.0, 0) AS BIGINT) AS c
  FROM tf JOIN dfq USING (term), stats
)
SELECT doc_id,
       CAST(SUM(c) AS DOUBLE) / {SCORE_SCALE}.0 AS bm25,
       CAST(count(*) AS BIGINT) AS n_terms_matched
FROM contrib GROUP BY 1
ORDER BY bm25 DESC, doc_id ASC
LIMIT {BM25_TOP_K}
"""

# -- corpus curation compositions --------------------------------------------

_QUALITY_CTES = """
qtoks AS (
  SELECT doc_id, n_chars, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
qm AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         GREATEST(CAST(len(toks) AS BIGINT), 1) AS gnt,
         CAST(len(list_filter(toks, t -> t IN ({stop}))) AS BIGINT) AS n_stop,
         LEAST(n_chars, 500) AS capped_chars
  FROM qtoks
)
"""

ORACLES["dedup_keep_best"] = f"""
WITH RECURSIVE {_SHINGLES.strip().rstrip()},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS ({_jaccard_from_inter(JACCARD_THRESHOLD)}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach(doc_id, anc) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v, r.anc FROM reach r JOIN edges e ON e.u = r.doc_id
),
lab AS (SELECT doc_id, min(anc) AS cluster_id FROM reach GROUP BY 1),
csizes AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1),
{_QUALITY_CTES.format(stop=_STOP_LIST).strip()},
q AS (
  SELECT doc_id,
         {_rr("capped_chars * gnt + 500 * (gnt - n_stop)", "1000 * gnt", 4)} AS quality
  FROM qm
)
SELECT l.doc_id, l.cluster_id, s.cluster_size, q.quality,
       (row_number() OVER (PARTITION BY l.cluster_id
                           ORDER BY q.quality DESC, l.doc_id ASC) = 1) AS keep
FROM lab l
JOIN csizes s USING (cluster_id)
JOIN q ON q.doc_id = l.doc_id
"""

ORACLES["quality_bins"] = f"""
WITH {_QUALITY_CTES.format(stop=_STOP_LIST).strip()},
q AS (
  SELECT doc_id, n_tokens,
         {_rr("capped_chars * gnt + 500 * (gnt - n_stop)", "1000 * gnt", 4)} AS quality
  FROM qm
)
SELECT LEAST(CAST(floor(quality * 10.0) AS BIGINT), 9) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM q GROUP BY 1
"""

ORACLES["source_stats"] = f"""
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT)
           AS n_tokens,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars
  FROM documents GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs FROM per)
SELECT source, n_docs, n_tokens, n_chars,
       {_rr("n_docs", "total_docs", 6)} AS doc_share
FROM per, tot
"""

# -- k-means / SemDeDup (operators/clustering.py) ----------------------------
# The oracle unrolls the Lloyd iterations CTE-for-CTE: assign = fixed-point
# squared-L2 argmin (ties on cid), update = exact decimal per-dim mean.

from inde1_spark.operators.clustering import (
    DIST_SCALE,
    KMEANS_ITERS,
    KMEANS_K,
    SNAP_SCALE,
)


def _kmeans_d2(dim: int) -> str:
    # floor(t*S + 0.5) mirrors clustering._dist_scaled — binary-IEEE on both
    # engines, unlike round() (shortest-repr vs binary divergence)
    return (
        "CAST(list_sum(list_transform(range(1, {n}), i -> "
        "CAST(floor((CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])"
        " * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])"
        f" * {DIST_SCALE}.0 + 0.5) AS BIGINT))) AS BIGINT)"
    ).format(n=dim + 1)


def _kmeans_ctes(k: int, iters: int, dim: int, src: str = "embeddings") -> str:
    d2 = _kmeans_d2(dim)
    parts = [
        f"""c0 AS (
  SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
  FROM {src} ORDER BY vec_id LIMIT {k}
)"""
    ]
    for i in range(iters + 1):
        parts.append(
            f"""a{i} AS (
  SELECT e.vec_id, e.embedding, c.cid AS cluster, {d2} AS d
  FROM {src} e, c{i} c
  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY d, c.cid) = 1
)"""
        )
        if i == iters:
            break
        parts.append(
            f"""m{i} AS (
  SELECT cluster AS cid, i - 1 AS dim,
         CAST(SUM(CAST(floor((CAST(embedding[i] AS DOUBLE) + 1.0)
                             * {SNAP_SCALE}.0 + 0.5) AS BIGINT)) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM a{i}, UNNEST(generate_series(1, {dim})) AS u(i)
  GROUP BY 1, 2
)""",
        )
        parts.append(
            f"""mm{i} AS (
  SELECT cid, dim,
         CAST(s * 2 + n - (s * 2 + n) % (n * 2) AS DOUBLE)
           / CAST(n * 2 AS DOUBLE) / {SNAP_SCALE}.0 - 1.0 AS m
  FROM m{i}
)""",
        )
        parts.append(
            f"c{i + 1} AS (SELECT cid, list(m ORDER BY dim) AS cvec FROM mm{i} GROUP BY cid)"
        )
    return ",\n".join(parts)


ORACLES["kmeans_assign"] = f"""
WITH {_kmeans_ctes(KMEANS_K, KMEANS_ITERS, EMB_DIM)}
SELECT vec_id, cluster, d AS dist_scaled FROM a{KMEANS_ITERS}
"""

ORACLES["semdedup"] = f"""
WITH {_kmeans_ctes(KMEANS_K, KMEANS_ITERS, EMB_DIM)},
asg AS MATERIALIZED (SELECT vec_id, cluster FROM a{KMEANS_ITERS}),
{_NORMS.strip().strip(',').rstrip()},
pairs AS MATERIALIZED (
  SELECT pa.cluster, pa.vec_id AS vec_a, pb.vec_id AS vec_b
  FROM asg pa JOIN asg pb ON pa.cluster = pb.cluster AND pa.vec_id < pb.vec_id
),
dots AS MATERIALIZED (
  SELECT p.cluster, p.vec_a, p.vec_b,
         CAST(SUM(CAST(ROUND(CAST(ea.embedding[i] AS DOUBLE)
              * CAST(eb.embedding[i] AS DOUBLE)
              * {FIXED_POINT_SCALE:.1f}) AS BIGINT)) AS DOUBLE)
           / {FIXED_POINT_SCALE:.1f} AS dot
  FROM pairs p
  JOIN embeddings ea ON ea.vec_id = p.vec_a
  JOIN embeddings eb ON eb.vec_id = p.vec_b,
       UNNEST(generate_series(1, {EMB_DIM})) AS u(i)
  GROUP BY 1, 2, 3
)
SELECT cluster, vec_a, vec_b, cos_sim FROM (
  SELECT d.cluster, d.vec_a, d.vec_b,
         ROUND(d.dot / (na.nrm * nb.nrm), 6) AS cos_sim
  FROM dots d
  JOIN norms na ON na.vec_id = d.vec_a
  JOIN norms nb ON nb.vec_id = d.vec_b
) WHERE cos_sim >= {COSINE_DEDUP_THRESHOLD}
"""

ORACLES["unigram_logprob"] = f"""
WITH {_TF.format(tok_filter='')},
vocab AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS n_occ FROM tf GROUP BY 1),
total AS (SELECT CAST(SUM(n_occ) AS DOUBLE) AS total_toks FROM vocab),
lp AS (
  SELECT tf.doc_id, tf.dl, tf.tf,
         CAST(round(ln(CAST(vocab.n_occ AS DOUBLE) / total.total_toks)
                    * {LOG_SCALE}.0, 0) AS BIGINT) AS lp_scaled
  FROM tf JOIN vocab USING (term), total
)
SELECT doc_id, dl AS n_tokens,
       CAST(SUM(tf * lp_scaled) AS DOUBLE) / {LOG_SCALE}.0 / CAST(dl AS DOUBLE)
         AS avg_logprob
FROM lp
WHERE dl > 0
GROUP BY doc_id, dl
"""

ORACLES["revenue_daily_model"] = f"""
WITH occ AS (
  SELECT {_DAY} AS day,
         GREATEST(0, CAST(SUM(CASE WHEN event_type = '{ENTRY}' THEN 1 ELSE -1 END) AS BIGINT)) AS occupied
  FROM events WHERE event_type IN ('{ENTRY}', '{EXIT}') GROUP BY 1
)
SELECT day, occupied, ROUND(occupied * {RATE} * 24, 2) AS revenue_daily FROM occ
"""

ORACLES["exists_check"] = f"""
SELECT event_id, event_type FROM events WHERE event_type = '{ENTRY}'
ORDER BY event_id LIMIT 1
"""

ORACLES["string_funcs"] = f"""
SELECT event_id,
       concat_ws(':', 'parking-stats', 'hourly', {_DAY},
                 lpad(CAST(hour(ts) AS VARCHAR), 2, '0')) AS redis_key,
       concat_ws('-', event_type, CAST(user_id AS VARCHAR)) AS composite_key,
       regexp_extract(props, '"k": (\\d+)', 1) AS k_extracted,
       upper(event_type) AS type_upper,
       substring(event_type, 1, 3) AS type_prefix
FROM events WHERE event_id < 500
"""

ORACLES["json_document"] = f"""
WITH daily AS (
  SELECT {_DAY} AS day, count(*) AS n, {_dsum('value')} AS sv
  FROM events GROUP BY 1
)
SELECT day,
       concat('{{"date":"', day, '","events":', CAST(n AS VARCHAR),
              ',"value":', CAST(sv AS VARCHAR), '}}') AS doc
FROM daily
"""

ORACLES["time_funcs"] = """
SELECT event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_trunc,
       CAST(dayofweek(ts) AS BIGINT) AS dow_sun0,
       strftime(ts - INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS prev_hour,
       CAST(date_diff('second', TIMESTAMP '1970-01-01', ts) AS BIGINT) AS epoch_sec
FROM events WHERE event_id < 200
"""

ORACLES["window_funcs"] = """
SELECT event_id, user_id,
       CAST(rank() OVER (PARTITION BY user_id ORDER BY event_type) AS BIGINT) AS rank_by_type,
       CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY event_type) AS BIGINT) AS dense_rank_by_type,
       lag(value) OVER w AS prev_value,
       lead(value) OVER w AS next_value,
       CAST(SUM(1) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_n
FROM events WHERE user_id < 10
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""

_F3_TERMS = " + ".join(f"ascii(substring(text, {i}, 1))" for i in range(1, 17))

ORACLES["multimodal_features"] = f"""
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       CAST(strlen(text) AS DOUBLE) AS f0,
       CAST(ascii(substring(text, 1, 1)) AS DOUBLE) AS f1,
       CAST(ascii(substring(text, (strlen(text) // 2) + 1, 1)) AS DOUBLE) AS f2,
       CAST(({_F3_TERMS}) % 256 AS DOUBLE) AS f3
FROM documents
"""

# struct-max by (ts desc, event_id desc) == rn 1 over the same total order
ORACLES["resample_ffill"] = """
WITH hourly AS (
  SELECT event_type, hour, v AS last_value FROM (
    SELECT event_type, date_trunc('hour', ts) AS hour, value AS v,
           row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
),
bounds AS (
  SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
  FROM events
),
hours AS (SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds),
types AS (SELECT DISTINCT event_type FROM events),
grid AS (SELECT types.event_type, hours.hour FROM hours CROSS JOIN types)
SELECT grid.event_type,
       strftime(grid.hour, '%Y-%m-%d %H:%M:%S') AS hour_ts,
       last_value(hourly.last_value IGNORE NULLS) OVER (
           PARTITION BY grid.event_type ORDER BY grid.hour
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill,
       (hourly.hour IS NOT NULL) AS observed
FROM grid LEFT JOIN hourly
  ON hourly.event_type = grid.event_type AND hourly.hour = grid.hour
"""

ORACLES["asof_join"] = f"""
WITH tagged AS (
  SELECT user_id, ts, event_id AS oid, 0 AS side, event_id AS view_id, ts AS view_ts
  FROM events WHERE event_type = '{ENTRY}'
  UNION ALL
  SELECT user_id, ts, event_id AS oid, 1 AS side, NULL AS view_id, NULL AS view_ts
  FROM events WHERE event_type = 'error'
),
carried AS (
  SELECT user_id, ts, oid, side,
         last_value(view_id IGNORE NULLS) OVER w AS prior_view_id,
         last_value(view_ts IGNORE NULLS) OVER w AS prior_view_ts
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, oid
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT oid AS error_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS error_ts_str,
       prior_view_id,
       strftime(prior_view_ts, '%Y-%m-%d %H:%M:%S') AS prior_view_ts_str,
       ROUND(date_diff('second', prior_view_ts, ts) / 60.0, 2) AS gap_min
FROM carried WHERE side = 1
"""

ORACLES["percentiles"] = """
SELECT event_type,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90,
       count(*) AS n
FROM events GROUP BY 1
"""

ORACLES["corr_exact"] = """
WITH s AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(CAST(hour(ts) AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(CAST(hour(ts) AS DOUBLE) * CAST(hour(ts) AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(CAST(hour(ts) AS DOUBLE) * value AS DECIMAL(28,6))) AS DOUBLE) AS sxy
  FROM events
)
SELECT CAST(n AS BIGINT) AS n,
       ROUND((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr_hour_value
FROM s
"""

ORACLES["value_histogram"] = """
WITH b AS (
  SELECT LEAST(9, GREATEST(0, CAST(floor((value - 0.0) / 10.0) AS BIGINT))) AS bucket
  FROM events
)
SELECT bucket, count(*) AS n_events, ROUND(bucket * 10.0 + 0.0, 2) AS bucket_lo
FROM b GROUP BY bucket
"""

ORACLES["cube_day_type"] = f"""
SELECT COALESCE({_DAY}, 'ALL') AS day,
       COALESCE(event_type, 'ALL') AS event_type,
       count(*) AS n_events,
       {_dsum('value')} AS sum_value
FROM events
GROUP BY CUBE({_DAY}, event_type)
"""

# -- LLM-data-pipeline extensions ---------------------------------------------

ORACLES["dedup_exact"] = """
SELECT md5(text) AS text_md5, count(*) AS n_docs, min(doc_id) AS keep_doc_id
FROM documents GROUP BY 1
"""

ORACLES["dedup_ngram_jaccard"] = f"""
WITH {_SHINGLES},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
{_jaccard_from_inter(JACCARD_THRESHOLD)}
"""

ORACLES["dedup_minhash_oracle"] = f"""
WITH {_SHINGLES},
dict AS (
  SELECT shingle, CAST(row_number() OVER (ORDER BY shingle) AS BIGINT) AS sid
  FROM (SELECT DISTINCT shingle FROM sh)
),
shid AS (SELECT doc_id, sid FROM sh JOIN dict USING (shingle)),
sigs AS (
  SELECT doc_id,
         {", ".join(f"MIN(({a} * sid + {b}) % {MINHASH_PRIME}) AS mh_{pid}" for pid, a, b in PERMS)}
  FROM shid GROUP BY doc_id
),
bands AS (
  {" UNION ALL ".join(
      "SELECT doc_id, " + str(b) + " AS band, "
      + "concat_ws(',', " + ", ".join(
          f"CAST(mh_{b * (N_PERM // N_BANDS) + r} AS VARCHAR)"
          for r in range(N_PERM // N_BANDS)
      ) + ") AS sig FROM sigs"
      for b in range(N_BANDS)
  )}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
  GROUP BY 1, 2
)
{_jaccard_from_inter(JACCARD_THRESHOLD)}
"""

# Fast-path oracles (r03 verdict item 2). dedup_minhash_fast's exact-Jaccard
# verify plus full banding recall make its output EQUAL the exact ground
# truth (pinned by tests/test_dedup_fast_path.py), so the strongest check is
# the ground-truth SQL itself: every pair row and jaccard value is hashed,
# even though the xxhash64 candidate generation has no DuckDB twin. The
# capped production config only prunes candidate generation and the cap is
# above every shingle df on this corpus (same pytest pins loose == base), so
# it shares the oracle.
ORACLES["dedup_minhash_fast"] = ORACLES["dedup_ngram_jaccard"]
ORACLES["dedup_minhash_capped"] = ORACLES["dedup_ngram_jaccard"]

# SimHash-fast has no exact-verify step (Hamming<=3 approximates Jaccard),
# so its gate entry emits the contract shape: exact ground-truth pair count
# (value-checked here) + recall/precision >= 90% booleans (asserted by the
# engine, corpus-measured — the approx_distinct pattern).
ORACLES["dedup_simhash_fast"] = f"""
WITH {_SHINGLES},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS ({_jaccard_from_inter(JACCARD_THRESHOLD)})
SELECT CAST(count(*) AS BIGINT) AS n_ground_truth_dups,
       TRUE AS recall_ok,
       TRUE AS precision_ok
FROM pairs
"""

_HAMMING_TERMS = " + ".join(
    f"((xor_sig >> {j}) & 1)" for j in range(SIMHASH_BITS)
)

ORACLES["dedup_simhash_oracle"] = f"""
WITH {_SHINGLES},
dict AS (
  SELECT shingle, CAST(row_number() OVER (ORDER BY shingle) AS BIGINT) AS sid
  FROM (SELECT DISTINCT shingle FROM sh)
),
shid AS (SELECT doc_id, sid FROM sh JOIN dict USING (shingle)),
bit_sums AS (
  SELECT doc_id,
         {", ".join(
             f"CAST(SUM(CASE WHEN (((sid * {SIMHASH_MULT}) % {2**SIMHASH_BITS}) >> {j}) % 2 = 1"
             f" THEN 1 ELSE -1 END) AS BIGINT) AS bs_{j}"
             for j in range(SIMHASH_BITS)
         )}
  FROM shid GROUP BY doc_id
),
sigs AS (
  SELECT doc_id,
         CAST({" + ".join(f"(CASE WHEN bs_{j} >= 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END)" for j in range(SIMHASH_BITS))} AS BIGINT) AS simhash
  FROM bit_sums
),
bands AS (
  SELECT doc_id, simhash, q, (simhash >> (q * {SIMHASH_BAND_BITS})) % {2**SIMHASH_BAND_BITS} AS bv
  FROM sigs, UNNEST(generate_series(0, {SIMHASH_BITS // SIMHASH_BAND_BITS - 1})) AS u(q)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM bands a JOIN bands b ON a.q = b.q AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM (
  SELECT doc_a, doc_b,
         CAST({_HAMMING_TERMS} AS BIGINT) AS hamming
  FROM (SELECT doc_a, doc_b, xor(sig_a, sig_b) AS xor_sig FROM cand)
) WHERE hamming <= {HAMMING_MAX}
"""

ORACLES["dedup_embedding_oracle"] = f"""
WITH {_NORMS.strip().rstrip()},
dots AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_FIXED_DOT} AS dot
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id,
       UNNEST(generate_series(1, {EMB_DIM})) AS u(i)
  GROUP BY 1, 2
)
SELECT vec_a, vec_b, cos_sim FROM (
  SELECT vec_a, vec_b, ROUND(dot / (na.nrm * nb.nrm), 6) AS cos_sim
  FROM dots
  JOIN norms na ON na.vec_id = vec_a
  JOIN norms nb ON nb.vec_id = vec_b
) WHERE cos_sim >= {COSINE_DEDUP_THRESHOLD}
"""

_BUCKET_EXPR = " + ".join(
    f"(CASE WHEN embedding[{j + 1}] >= 0 THEN {2**j} ELSE 0 END)"
    for j in range(LSH_SIGN_DIMS)
)

# Multi-probe sign-bucket candidates (operators/dedup.py:dedup_embedding_lsh):
# probe list = own bucket + every one-bit flip of the leading-dim signs.
_PROBE_LIST = ", ".join(
    ["bucket"] + [f"xor(bucket, {2**j})" for j in range(LSH_SIGN_DIMS)]
)

# Banded sign signature (operators/dedup.py:sign_bands): band q is the
# integer from the sign pattern of coordinates [q*bits, (q+1)*bits). Spark
# emits each pair at its first matching band; DISTINCT here yields the same
# pair set (any-band-matches semantics).
from inde1_spark.operators.dedup import EMB_BAND_BITS, EMB_N_BANDS

_EMB_BAND_EXPR = " + ".join(
    f"(CASE WHEN embedding[q*{EMB_BAND_BITS} + {j + 1}] >= 0 THEN {2**j} ELSE 0 END)"
    for j in range(EMB_BAND_BITS)
)

ORACLES["dedup_embedding_lsh"] = f"""
WITH {_NORMS.strip().rstrip()},
bands AS (
  SELECT vec_id, q, CAST({_EMB_BAND_EXPR} AS BIGINT) AS bv
  FROM embeddings, UNNEST(generate_series(0, {EMB_N_BANDS - 1})) AS t(q)
),
cand AS (
  SELECT DISTINCT ba.vec_id AS vec_a, bb.vec_id AS vec_b
  FROM bands ba JOIN bands bb
    ON ba.q = bb.q AND ba.bv = bb.bv AND ba.vec_id < bb.vec_id
),
dots AS (
  SELECT c.vec_a, c.vec_b, {_FIXED_DOT} AS dot
  FROM cand c
  JOIN embeddings a ON a.vec_id = c.vec_a
  JOIN embeddings b ON b.vec_id = c.vec_b,
       UNNEST(generate_series(1, {EMB_DIM})) AS u(i)
  GROUP BY 1, 2
)
SELECT vec_a, vec_b, cos_sim FROM (
  SELECT vec_a, vec_b, ROUND(dot / (na.nrm * nb.nrm), 6) AS cos_sim
  FROM dots
  JOIN norms na ON na.vec_id = vec_a
  JOIN norms nb ON nb.vec_id = vec_b
) WHERE cos_sim >= {COSINE_DEDUP_THRESHOLD}
"""

ORACLES["knn_brute_cosine"] = f"""
WITH {_NORMS.strip().rstrip()},
dots AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_FIXED_DOT} AS dot
  FROM embeddings a JOIN embeddings b ON a.vec_id < {N_QUERIES} AND a.vec_id <> b.vec_id,
       UNNEST(generate_series(1, {EMB_DIM})) AS u(i)
  GROUP BY 1, 2
),
scored AS (
  SELECT query_id, neighbor_id, ROUND(dot / (na.nrm * nb.nrm), 6) AS cos_sim
  FROM dots
  JOIN norms na ON na.vec_id = query_id
  JOIN norms nb ON nb.vec_id = neighbor_id
)
SELECT query_id, neighbor_id, rank, cos_sim FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {K_BRUTE}
"""

ORACLES["knn_lsh_bucketed"] = f"""
WITH {_NORMS.strip().rstrip()},
buckets AS (
  SELECT vec_id, CAST({_BUCKET_EXPR} AS BIGINT) AS bucket FROM embeddings
),
qprobes AS (
  SELECT vec_id, unnest([{_PROBE_LIST}]) AS probe
  FROM buckets WHERE vec_id < {N_QUERIES}
),
dots AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_FIXED_DOT} AS dot
  FROM qprobes qa
  JOIN buckets bb ON qa.probe = bb.bucket AND qa.vec_id <> bb.vec_id
  JOIN embeddings a ON a.vec_id = qa.vec_id
  JOIN embeddings b ON b.vec_id = bb.vec_id,
       UNNEST(generate_series(1, {EMB_DIM})) AS u(i)
  GROUP BY 1, 2
),
scored AS (
  SELECT query_id, neighbor_id, ROUND(dot / (na.nrm * nb.nrm), 6) AS cos_sim
  FROM dots
  JOIN norms na ON na.vec_id = query_id
  JOIN norms nb ON nb.vec_id = neighbor_id
)
SELECT query_id, neighbor_id, rank, cos_sim FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {K_BUCKETED}
"""

_FIXED_SUM = (
    lambda expr: f"(CAST(SUM(CAST(ROUND(({expr}) * {FIXED_POINT_SCALE:.1f}) AS BIGINT)) AS DOUBLE) / {FIXED_POINT_SCALE:.1f})"
)

ORACLES["knn_ivf"] = f"""
WITH cent AS (
  SELECT label, i,
         {_FIXED_SUM('CAST(embedding[i] AS DOUBLE)')} / COUNT(*) AS cv
  FROM embeddings, UNNEST(generate_series(1, {EMB_DIM})) AS u(i)
  GROUP BY label, i
),
cnorm AS (
  SELECT label, sqrt({_FIXED_SUM('cv * cv')}) AS cnrm FROM cent GROUP BY label
),
{_NORMS.strip()},
qc AS (
  SELECT e.vec_id AS query_id, c.label,
         {_FIXED_SUM('CAST(e.embedding[c.i] AS DOUBLE) * c.cv')} AS dot
  FROM embeddings e JOIN cent c ON TRUE
  WHERE e.vec_id < {N_QUERIES}
  GROUP BY 1, 2
),
probed AS (
  SELECT query_id, label FROM (
    SELECT qc.query_id, qc.label,
           row_number() OVER (
             PARTITION BY qc.query_id
             ORDER BY ROUND(qc.dot / (nq.nrm * cn.cnrm), 6) DESC, qc.label ASC
           ) AS prn
    FROM qc
    JOIN norms nq ON nq.vec_id = qc.query_id
    JOIN cnorm cn ON cn.label = qc.label
  ) WHERE prn <= {N_PROBE}
),
dots AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_FIXED_DOT} AS dot
  FROM probed p
  JOIN embeddings a ON a.vec_id = p.query_id
  JOIN embeddings b ON b.label = p.label AND b.vec_id <> a.vec_id,
       UNNEST(generate_series(1, {EMB_DIM})) AS u(i)
  GROUP BY 1, 2
),
scored AS (
  SELECT query_id, neighbor_id, ROUND(dot / (na.nrm * nb.nrm), 6) AS cos_sim
  FROM dots
  JOIN norms na ON na.vec_id = query_id
  JOIN norms nb ON nb.vec_id = neighbor_id
)
SELECT query_id, neighbor_id, rank, cos_sim FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {K_IVF}
"""

ORACLES["text_token_bpe"] = f"""
WITH m AS (
  SELECT doc_id,
         regexp_extract_all(lower(text), '({BPE_PATTERN})', 0) AS subwords,
         list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(subwords) AS BIGINT) AS n_subwords,
       CAST(len(list_distinct(subwords)) AS BIGINT) AS n_distinct_subwords,
       {_rr("CAST(len(subwords) AS BIGINT)",
            "GREATEST(CAST(len(toks) AS BIGINT), 1)", 4)} AS fertility
FROM m
"""

ORACLES["text_token_stats"] = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
       {_rr("CAST(list_sum(list_transform(toks, t -> strlen(t))) AS BIGINT)",
            "GREATEST(CAST(len(toks) AS BIGINT), 1)", 4)} AS avg_token_len
FROM toks
"""

ORACLES["text_quality"] = f"""
WITH toks AS (
  SELECT doc_id, n_chars, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         GREATEST(CAST(len(toks) AS BIGINT), 1) AS gnt,
         CAST(len(list_filter(toks, t -> t IN ({_STOP_LIST}))) AS BIGINT) AS n_stop,
         LEAST(n_chars, 500) AS capped_chars
  FROM toks
)
SELECT doc_id, n_tokens,
       {_rr("n_stop", "gnt", 4)} AS stop_ratio,
       {_rr("capped_chars", "500", 4)} AS length_score,
       {_rr("capped_chars * gnt + 500 * (gnt - n_stop)", "1000 * gnt", 4)} AS quality
FROM m
"""

ORACLES["text_lang_id"] = f"""
WITH toks AS (
  SELECT doc_id, lang, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
scores AS (
  SELECT doc_id, lang AS lang_actual,
         {", ".join(f"{_lang_score(LANG_MARKERS[lang])} AS score_{lang}" for lang in sorted(LANG_MARKERS))}
  FROM toks
)
SELECT doc_id, lang_actual, {_build_lang_pred()} AS lang_pred,
       {", ".join(f"score_{lang}" for lang in sorted(LANG_MARKERS))}
FROM scores
"""

# Engine-portable md5 bucket (operators/text.py:hash_bucket): md5 hex is
# identical in both engines; DuckDB parses the 0x-prefixed substring as int.
def _hash_bucket_sql(key: str, mod: int) -> str:
    return f"(CAST(concat('0x', substr(md5(CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT) % {mod})"


ORACLES["train_test_split"] = f"""
WITH s AS (
  SELECT lang, n_chars,
         CASE WHEN {_hash_bucket_sql('doc_id', 100)} < {TRAIN_PCT} THEN 'train'
              WHEN {_hash_bucket_sql('doc_id', 100)} < {TRAIN_PCT + VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT lang, split, count(*) AS n_docs,
       CAST(SUM(CAST(n_chars AS DECIMAL(18,0))) AS BIGINT) AS n_chars
FROM s GROUP BY 1, 2
"""

ORACLES["train_test_split_grouped"] = f"""
WITH s AS (
  SELECT source, n_chars,
         CASE WHEN {_hash_bucket_sql('source', 100)} < {TRAIN_PCT} THEN 'train'
              WHEN {_hash_bucket_sql('source', 100)} < {TRAIN_PCT + VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, count(*) AS n_docs,
       CAST(count(DISTINCT source) AS BIGINT) AS n_groups,
       CAST(SUM(CAST(n_chars AS DECIMAL(18,0))) AS BIGINT) AS n_chars
FROM s GROUP BY 1
"""

ORACLES["stratified_sample"] = f"""
SELECT doc_id, lang, rnk FROM (
  SELECT doc_id, lang,
         CAST(row_number() OVER (
           PARTITION BY lang
           ORDER BY {_hash_bucket_sql('doc_id', 1000003)} ASC, doc_id ASC
         ) AS BIGINT) AS rnk
  FROM documents
) WHERE rnk <= 20
"""

ORACLES["text_fingerprint"] = """
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS n
  FROM documents
)
SELECT doc_id, md5(n) AS fingerprint, substr(md5(n), 1, 8) AS fp_prefix
FROM norm
"""

from inde1_spark.operators.dedup import (
    SPAN_TOKENS,
    WINNOW_MAX_FP_DF,
    WINNOW_OVERLAP_DEN,
    WINNOW_OVERLAP_NUM,
)
from inde1_spark.operators.text import (
    WINNOW_BASE,
    WINNOW_K,
    WINNOW_PRIME,
    WINNOW_W,
)


def _winnow_hash_expr() -> str:
    e = "CAST(unicode(substr(text, i, 1)) AS BIGINT)"
    for j in range(1, WINNOW_K):
        e = (
            f"(({e}) * {WINNOW_BASE} + "
            f"CAST(unicode(substr(text, i+{j}, 1)) AS BIGINT)) % {WINNOW_PRIME}"
        )
    return e


# char k-gram rolling hashes -> window minima (operators/text.py winnowing);
# range() is exclusive-end where Spark's sequence() is inclusive
_WINNOW_CTE = f"""
hashes AS (
  SELECT doc_id,
         CASE WHEN strlen(text) >= {WINNOW_K}
              THEN list_transform(range(1, strlen(text) - {WINNOW_K} + 2),
                                  i -> {_winnow_hash_expr()})
              ELSE CAST([] AS BIGINT[]) END AS h
  FROM documents
),
minima AS (
  SELECT doc_id,
         CASE WHEN len(h) > 0
              THEN list_sort(list_distinct(list_transform(
                     range(1, GREATEST(len(h) - {WINNOW_W} + 1, 1) + 1),
                     t -> list_min(list_slice(h, t, t + {WINNOW_W} - 1)))))
              ELSE CAST([] AS BIGINT[]) END AS m
  FROM hashes
)
"""

ORACLES["text_winnow"] = f"""
WITH {_WINNOW_CTE}
SELECT doc_id,
       CAST(len(h) AS BIGINT) AS n_grams,
       CAST(len(m) AS BIGINT) AS n_fp,
       md5(array_to_string(m, ',')) AS fp_md5
FROM hashes JOIN minima USING (doc_id)
"""

ORACLES["dedup_winnow"] = f"""
WITH {_WINNOW_CTE},
fp AS (SELECT doc_id, UNNEST(m) AS fp FROM minima),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM fp GROUP BY doc_id),
capped AS (
  SELECT doc_id, fp FROM fp
  WHERE fp IN (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= {WINNOW_MAX_FP_DF})
),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM capped a JOIN capped b USING (fp)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared,
       {_rr("n_shared", "LEAST(sa.sz, sb.sz)", 4)} AS overlap
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE {WINNOW_OVERLAP_DEN} * n_shared >= {WINNOW_OVERLAP_NUM} * LEAST(sa.sz, sb.sz)
"""

# first-occurrence = rn 1 over the unique total order (doc_id, span_idx) —
# equivalent to the engine's skew-safe min(struct) spelling
ORACLES["dedup_spans"] = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
spans AS (
  SELECT doc_id, CAST(i AS BIGINT) AS span_idx,
         array_to_string(list_slice(toks, i*{SPAN_TOKENS}+1, i*{SPAN_TOKENS}+{SPAN_TOKENS}), ' ') AS span
  FROM toks,
       UNNEST(range(0, CAST(ceil(len(toks) / {SPAN_TOKENS}.0) AS INT))) AS u(i)
  WHERE len(toks) > 0
),
marked AS (
  SELECT doc_id, span_idx, span,
         row_number() OVER (PARTITION BY span ORDER BY doc_id, span_idx) AS rn
  FROM spans
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(count(*) FILTER (rn = 1) AS BIGINT) AS n_spans_kept,
       md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN span END, ' ' ORDER BY span_idx), '')) AS clean_fp
FROM marked GROUP BY doc_id
"""

from inde1_spark.operators.text import PII_EMAIL_RE, PII_ID_RE
from inde1_spark.operators.text import (
    GOPHER_MEAN_LEN_MAX,
    GOPHER_MEAN_LEN_MIN,
    GOPHER_MAX_TOKENS,
    GOPHER_MIN_STOP_HITS,
    GOPHER_MIN_TOKENS,
)

ORACLES["text_repetition"] = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tok,
         GREATEST(CAST(len(toks) AS BIGINT), 1) AS gnt,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_dis,
         CAST(COALESCE(list_max(list_transform(list_distinct(toks),
             d -> len(list_filter(toks, t -> t = d)))), 0) AS BIGINT) AS top_cnt,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
              ELSE CAST([] AS VARCHAR[]) END AS g2,
         CASE WHEN len(toks) >= 3
              THEN list_transform(range(1, len(toks) - 1),
                                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
              ELSE CAST([] AS VARCHAR[]) END AS g3
  FROM toks
)
SELECT doc_id, n_tok AS n_tokens,
       {_rr("n_tok - n_dis", "gnt", 4)} AS dup_token_frac,
       {_rr("top_cnt", "gnt", 4)} AS top_token_frac,
       {_rr("CAST(len(g2) AS BIGINT) - CAST(len(list_distinct(g2)) AS BIGINT)",
            "GREATEST(CAST(len(g2) AS BIGINT), 1)", 4)} AS dup_2gram_frac,
       {_rr("CAST(len(g3) AS BIGINT) - CAST(len(list_distinct(g3)) AS BIGINT)",
            "GREATEST(CAST(len(g3) AS BIGINT), 1)", 4)} AS dup_3gram_frac
FROM m
"""

ORACLES["text_gopher"] = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tok,
         CAST(COALESCE(list_sum(list_transform(toks, t -> strlen(t))), 0) AS BIGINT) AS sum_len,
         CAST(len(list_intersect(list_distinct(toks), [{_STOP_LIST}])) AS BIGINT) AS n_stop_distinct
  FROM toks
)
SELECT doc_id, n_tok AS n_tokens, n_stop_distinct,
       (n_tok >= {GOPHER_MIN_TOKENS} AND n_tok <= {GOPHER_MAX_TOKENS}) AS flag_len,
       (sum_len >= {GOPHER_MEAN_LEN_MIN} * n_tok AND sum_len <= {GOPHER_MEAN_LEN_MAX} * n_tok) AS flag_mean_len,
       (n_stop_distinct >= {GOPHER_MIN_STOP_HITS}) AS flag_stop,
       ((n_tok >= {GOPHER_MIN_TOKENS} AND n_tok <= {GOPHER_MAX_TOKENS})
        AND (sum_len >= {GOPHER_MEAN_LEN_MIN} * n_tok AND sum_len <= {GOPHER_MEAN_LEN_MAX} * n_tok)
        AND (n_stop_distinct >= {GOPHER_MIN_STOP_HITS})) AS keep
FROM m
"""

ORACLES["pii_redact"] = f"""
WITH red AS (
  SELECT doc_id, text,
         regexp_replace(regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                        '{PII_ID_RE}', '<ID>', 'g') AS r
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{PII_ID_RE}')) AS BIGINT) AS n_ids,
       CAST(strlen(r) AS BIGINT) AS n_chars_redacted,
       md5(r) AS redacted_fp
FROM red
"""

ORACLES["text_lines"] = f"""
WITH l AS (
  SELECT doc_id, list_filter(string_split(text, chr(10)), x -> x <> '') AS L
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(L) AS BIGINT) AS n_lines,
         GREATEST(CAST(len(L) AS BIGINT), 1) AS gnl,
         CAST(len(list_filter(L, x -> suffix(x, '.') OR suffix(x, '!')
                                   OR suffix(x, '?') OR suffix(x, '"'))) AS BIGINT) AS p,
         CAST(len(list_filter(L, x -> prefix(x, '- ') OR prefix(x, '* '))) AS BIGINT) AS b,
         CAST(len(list_filter(L, x -> suffix(x, '...'))) AS BIGINT) AS e,
         CAST(len(list_filter(L, x -> len(list_filter(string_split(x, ' '),
                                                      w -> w <> '')) < 3)) AS BIGINT) AS s
  FROM l
)
SELECT doc_id, n_lines,
       {_rr("p", "gnl", 4)} AS terminal_punct_frac,
       {_rr("b", "gnl", 4)} AS bullet_frac,
       {_rr("e", "gnl", 4)} AS ellipsis_frac,
       {_rr("s", "gnl", 4)} AS short_line_frac
FROM m
"""

from inde1_spark.operators.multimodal import FRAME_BYTES

ORACLES["multimodal_frames"] = f"""
WITH frames AS (
  SELECT doc_id,
         CAST(i AS BIGINT) AS frame_idx,
         substring(text, CAST(i * {FRAME_BYTES} + 1 AS BIGINT), {FRAME_BYTES}) AS chunk
  FROM documents,
       UNNEST(generate_series(0, CAST(GREATEST(0, (strlen(text) + {FRAME_BYTES - 1}) // {FRAME_BYTES} - 1) AS BIGINT))) AS u(i)
)
SELECT doc_id, frame_idx,
       CAST(strlen(chunk) AS BIGINT) AS frame_bytes,
       md5(chunk) AS frame_md5
FROM frames
"""

# DuckDB md5/substring don't accept BLOB; text here is ASCII so md5(text)
# equals md5 over the UTF-8 payload bytes and the first 4 chars are the
# first 4 bytes.
ORACLES["multimodal_meta"] = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS payload_md5,
       lower(hex(encode(substring(text, 1, 4)))) AS magic_hex
FROM documents
"""

# -- corpus-preparation operators (operators/corpus.py) ----------------------

from inde1_spark.operators.analytics import TTL_BASE, TTL_SPREAD_HOURS
from inde1_spark.operators.corpus import (
    CONTAM_NGRAM,
    MIXTURE_RATES,
    NGRAM_N,
    NGRAM_TOP_K,
    PACK_BUDGET,
    PACK_PACKERS,
    TRIM_PCT,
)

ORACLES["enrich_users_ttl"] = f"""
WITH users AS (
  SELECT c_custkey AS user_key, c_name AS user_name,
         CASE WHEN c_custkey % 5 = 0
              THEN TIMESTAMP '{TTL_BASE}' + INTERVAL 1 HOUR * (c_custkey % {TTL_SPREAD_HOURS})
         END AS valid_until
  FROM customer WHERE c_custkey % 3 <> 0
)
SELECT COALESCE(user_name, 'unknown') AS user_name,
       count(*) AS n_events,
       {_dsum('value')} AS sum_value
FROM events e LEFT JOIN users u
  ON e.user_id = u.user_key
 AND (u.valid_until IS NULL OR e.ts < u.valid_until)
GROUP BY 1
"""

ORACLES["pack_sequences"] = f"""
WITH base AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
         {_hash_bucket_sql('doc_id', PACK_PACKERS)} AS packer,
         {_hash_bucket_sql('doc_id', 1000003)} AS h
  FROM documents
),
c AS (
  SELECT doc_id, packer, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY packer ORDER BY h ASC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS cum
  FROM base
)
SELECT doc_id, CAST(packer AS BIGINT) AS packer,
       CAST((cum - cum % {PACK_BUDGET}) / {PACK_BUDGET} AS BIGINT) AS shard,
       CAST(cum % {PACK_BUDGET} AS BIGINT) AS tok_offset,
       n_tokens
FROM c
"""

_NGRAM_CONCAT = " || ' ' || ".join(f"tk[i+{j}]" for j in range(NGRAM_N))

ORACLES["ngram_vocab"] = f"""
WITH toks AS (
  SELECT list_filter(string_split(text, ' '), t -> t <> '') AS tk FROM documents
),
grams AS (
  SELECT unnest(list_transform(
           generate_series(1, GREATEST(len(tk) - {NGRAM_N - 1}, 0)),
           i -> {_NGRAM_CONCAT})) AS ngram
  FROM toks
),
counted AS (
  SELECT ngram, count(*) AS n_occurrences FROM grams GROUP BY 1
  ORDER BY 2 DESC, 1 ASC LIMIT {NGRAM_TOP_K}
)
SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, ngram ASC) AS BIGINT) AS "rank",
       ngram, n_occurrences
FROM counted
"""

ORACLES["contamination_check"] = f"""
WITH sp AS (
  SELECT doc_id, text,
         CASE WHEN {_hash_bucket_sql('doc_id', 100)} < {TRAIN_PCT} THEN 'train'
              WHEN {_hash_bucket_sql('doc_id', 100)} < {TRAIN_PCT + VAL_PCT} THEN 'val'
              ELSE 'test' END AS split,
         list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, split, array_to_string(toks[i:i+{CONTAM_NGRAM - 1}], ' ') AS shingle
  FROM sp, UNNEST(generate_series(1, len(toks) - {CONTAM_NGRAM - 1})) AS u(i)
  WHERE len(toks) >= {CONTAM_NGRAM}
),
train_set AS (SELECT DISTINCT shingle FROM sh WHERE split = 'train'),
per_doc AS (
  SELECT t.doc_id,
         count(*) AS n_shingles,
         CAST(COALESCE(SUM(CASE WHEN tr.shingle IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_contaminated
  FROM sh t LEFT JOIN train_set tr ON t.shingle = tr.shingle
  WHERE t.split = 'test'
  GROUP BY 1
)
SELECT s.doc_id,
       COALESCE(p.n_shingles, 0) AS n_shingles,
       COALESCE(p.n_contaminated, 0) AS n_contaminated,
       {_rr('COALESCE(p.n_contaminated, 0)', 'GREATEST(COALESCE(p.n_shingles, 0), 1)', 4)} AS contamination
FROM sp s LEFT JOIN per_doc p ON p.doc_id = s.doc_id
WHERE s.split = 'test'
"""

_RATE_LIST = ", ".join(str(r) for r in MIXTURE_RATES)

ORACLES["mixture_sample"] = f"""
WITH d AS (
  SELECT source, n_chars,
         CAST([{_RATE_LIST}][CAST(CAST(regexp_extract(source, '([0-9]+)$', 1) AS BIGINT)
                                  % {len(MIXTURE_RATES)} + 1 AS INT)] AS BIGINT) AS rate,
         {_hash_bucket_sql("concat(source, ':', CAST(doc_id AS VARCHAR))", 100)} AS hb
  FROM documents
)
SELECT source,
       max(rate) AS rate_pct,
       count(*) AS n_total,
       CAST(SUM(CASE WHEN hb < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CAST(CASE WHEN hb < rate THEN n_chars ELSE 0 END AS DECIMAL(18,0))) AS BIGINT) AS n_chars_kept
FROM d GROUP BY 1
"""

ORACLES["trim_outliers"] = f"""
WITH ranked AS (
  SELECT lang, n_chars,
         CAST(row_number() OVER (PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC) AS BIGINT) AS r,
         CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_in
  FROM documents
),
kept AS (
  SELECT * FROM ranked
  WHERE r > (n_in * {TRIM_PCT} - (n_in * {TRIM_PCT}) % 100) / 100
    AND r <= n_in - (n_in * {TRIM_PCT} - (n_in * {TRIM_PCT}) % 100) / 100
)
SELECT lang, max(n_in) AS n_in, count(*) AS n_kept,
       CAST(min(n_chars) AS BIGINT) AS min_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars,
       CAST(SUM(CAST(n_chars AS DECIMAL(18,0))) AS BIGINT) AS sum_chars
FROM kept GROUP BY 1
"""

# Transitive closure via recursive CTE: cluster id = min reachable doc id
# over the undirected near-dup pair graph (operators/dedup.py:
# connected_components unrolls the same fixpoint as min-label rounds).
ORACLES["dedup_clusters"] = f"""
WITH RECURSIVE {_SHINGLES.strip().rstrip()},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS ({_jaccard_from_inter(JACCARD_THRESHOLD)}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach(doc_id, anc) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v, r.anc FROM reach r JOIN edges e ON e.u = r.doc_id
),
lab AS (SELECT doc_id, min(anc) AS cluster_id FROM reach GROUP BY 1),
csizes AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1)
SELECT l.doc_id, l.cluster_id, s.cluster_size
FROM lab l JOIN csizes s USING (cluster_id)
"""

# Range/interval join (operators/analytics.py:range_join_windows): DuckDB
# can afford the plain inequality join at oracle scale; Spark buckets it.
from inde1_spark.operators.analytics import RANGE_WINDOW_HOURS, RANGE_WINDOW_MIN

_RWH_LIST = ", ".join(str(h) for h in RANGE_WINDOW_HOURS)

ORACLES["range_join_windows"] = f"""
WITH days AS (SELECT DISTINCT date_trunc('day', ts) AS day FROM events),
wins AS (
  SELECT strftime(day, '%Y-%m-%d') || ':' || CAST(h AS VARCHAR) AS window_id,
         day + INTERVAL 1 HOUR * h AS w_start,
         day + INTERVAL 1 HOUR * h + INTERVAL {RANGE_WINDOW_MIN} MINUTE AS w_end
  FROM days, UNNEST([{_RWH_LIST}]) AS t(h)
)
SELECT window_id, count(*) AS n_events, {_dsum('value')} AS sum_value
FROM events e JOIN wins w ON e.ts >= w.w_start AND e.ts < w.w_end
GROUP BY 1
"""

# Symmetric int8 quantization (operators/similarity.py:embedding_quantize):
# floor(x/scale + 0.5) codes; floor-truncated nano-unit scale/error outputs
# (engine round() on raw doubles is ambiguous; multiply+floor is exact).
from inde1_spark.operators.similarity import QUANT_LEVELS

ORACLES["embedding_quantize"] = f"""
WITH base AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS max_abs
  FROM embeddings
),
scaled AS (
  SELECT vec_id, embedding, max_abs,
         max_abs / {QUANT_LEVELS}.0 AS scale,
         list_transform(embedding, v -> CASE WHEN max_abs = 0 THEN 0
             ELSE CAST(floor(CAST(v AS DOUBLE) / (max_abs / {QUANT_LEVELS}.0) + 0.5) AS BIGINT) END) AS q
  FROM base
)
SELECT vec_id,
       CAST(floor(scale * 1e9) AS BIGINT) AS scale_nano,
       md5(array_to_string(list_transform(q, v -> CAST(v AS VARCHAR)), ',')) AS q_md5,
       CAST(floor(list_max(list_transform(list_zip(q, embedding),
            z -> abs(CAST(z[1] AS DOUBLE) * scale - CAST(z[2] AS DOUBLE)))) * 1e9) AS BIGINT) AS max_err_nano
FROM scaled
"""


ORACLES["shuffle_shards"] = f"""
WITH s AS (
  SELECT doc_id, {_hash_bucket_sql('doc_id', 32)} AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS BIGINT) AS pos
FROM s
"""


# -- round-3 operators -------------------------------------------------------

def _rs(num: str, den: str, scale: int) -> str:
    """SQL twin of exprs.ratio_scaled — the integer numerator of _rr."""
    p = 10**scale
    return f"CAST(((({num}) * {2 * p} + ({den})) // (2 * ({den}))) AS BIGINT)"


# The quality formula (text_quality oracle) as a reusable CTE body.
_QUALITY_M = f"""
qtoks AS (
  SELECT doc_id, lang, n_chars,
         list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
qm AS (
  SELECT doc_id, lang,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         GREATEST(CAST(len(toks) AS BIGINT), 1) AS gnt,
         CAST(len(list_filter(toks, t -> t IN ({_STOP_LIST}))) AS BIGINT) AS n_stop,
         LEAST(n_chars, 500) AS capped_chars
  FROM qtoks
)
"""

ORACLES["chunk_tokens"] = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
ex AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks,
         CAST(unnest(generate_series(1, len(toks), 96)) AS BIGINT) AS tok_start
  FROM t WHERE len(toks) > 0
)
SELECT doc_id,
       CAST(((tok_start - 1) - (tok_start - 1) % 96) // 96 AS BIGINT) AS chunk_idx,
       tok_start,
       CAST(LEAST(128, n_tokens - tok_start + 1) AS BIGINT) AS chunk_len,
       array_to_string(
         toks[tok_start : tok_start + LEAST(128, n_tokens - tok_start + 1) - 1],
         ' ') AS chunk_text
FROM ex
"""

ORACLES["dsir_sample"] = f"""
WITH {_QUALITY_M},
k AS (
  SELECT lang, n_tokens,
         ({_hash_bucket_sql('doc_id', 10000)})
           < {_rs("capped_chars * gnt + 500 * (gnt - n_stop)", "1000 * gnt", 4)} AS keep
  FROM qm
),
agg AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         CAST(SUM(CASE WHEN keep THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
  FROM k GROUP BY lang
)
SELECT lang, n_total, n_kept, kept_tokens,
       {_rr("n_kept", "n_total", 4)} AS accept_rate
FROM agg
"""

ORACLES["quality_ntile"] = f"""
WITH {_QUALITY_M},
q AS (
  SELECT lang,
         {_rr("capped_chars * gnt + 500 * (gnt - n_stop)", "1000 * gnt", 4)} AS quality
  FROM qm
),
hist AS (SELECT lang, quality, CAST(COUNT(*) AS BIGINT) AS n FROM q GROUP BY 1, 2),
lab AS (
  SELECT lang, quality, n,
         COALESCE(SUM(n) OVER (PARTITION BY lang ORDER BY quality DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS cum_before,
         SUM(n) OVER (PARTITION BY lang) AS tot
  FROM hist
)
SELECT lang,
       CASE LEAST(CAST((cum_before * 3 - (cum_before * 3) % tot) // tot AS BIGINT), 2)
            WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       MIN(quality) AS min_quality,
       MAX(quality) AS max_quality
FROM lab GROUP BY 1, 2
"""

ORACLES["cross_source_overlap"] = f"""
WITH toks AS (
  SELECT source, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
ssh AS (
  SELECT DISTINCT source, array_to_string(toks[i:i+2], ' ') AS shingle
  FROM toks, UNNEST(generate_series(1, len(toks) - 2)) AS u(i)
  WHERE len(toks) >= 3
),
dfc AS (SELECT shingle, COUNT(*) AS df FROM ssh GROUP BY 1),
kept AS (
  SELECT source, ssh.shingle FROM ssh
  JOIN dfc ON ssh.shingle = dfc.shingle
  WHERE dfc.df <= 16
),
sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS sz FROM kept GROUP BY 1),
shared AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_shared,
       {_rr("n_shared", "LEAST(sa.sz, sb.sz)", 4)} AS overlap
FROM shared
JOIN sizes sa ON source_a = sa.source
JOIN sizes sb ON source_b = sb.source
"""

ORACLES["embedding_dim_stats"] = f"""
WITH agg AS (
  -- SUM(BIGINT) promotes to HUGEINT in DuckDB: exact at any scale, the
  -- twin of the Spark side's DECIMAL(38,0) accumulator. The exact sum is
  -- compared as VARCHAR (wide decimals fetch as lossy float64 in pandas).
  SELECT CAST(i AS BIGINT) AS dim,
         CAST(COUNT(*) AS BIGINT) AS n_vecs,
         SUM(CAST(floor(CAST(embedding[i] AS DOUBLE)
                        * {FIXED_POINT_SCALE:.1f} + 0.5) AS BIGINT)) AS sum_huge,
         MIN(CAST(embedding[i] AS DOUBLE)) AS min_v,
         MAX(CAST(embedding[i] AS DOUBLE)) AS max_v
  FROM embeddings, UNNEST(generate_series(1, {EMB_DIM})) AS u(i)
  GROUP BY i
)
SELECT dim, n_vecs, CAST(sum_huge AS VARCHAR) AS sum_fixed,
       {_dec2d("sum_huge")} / CAST(n_vecs AS DOUBLE) / {FIXED_POINT_SCALE:.1f} AS mean_v,
       min_v, max_v
FROM agg
"""

ORACLES["term_cooccurrence"] = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
terms AS (
  SELECT doc_id, unnest(list_distinct(list_filter(toks, t -> len(t) >= 4))) AS term
  FROM toks
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
dfc AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM terms GROUP BY 1
),
kept0 AS (
  SELECT doc_id, terms.term, df FROM terms
  JOIN dfc ON terms.term = dfc.term, tot
  WHERE df * 100 >= tot.n_docs * 1 AND df * 100 <= tot.n_docs * 90
),
kept AS (
  SELECT doc_id, term, df FROM (
    SELECT doc_id, term, df,
           row_number() OVER (PARTITION BY doc_id ORDER BY md5(term) ASC, term ASC) AS r
    FROM kept0
  ) WHERE r <= 64
),
pairs AS (
  SELECT a.term AS term_a, a.df AS df_a, b.term AS term_b, b.df AS df_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2, 3, 4
)
SELECT term_a, term_b, n_both, df_a, df_b,
       CAST(round(ln(CAST(n_both AS DOUBLE) * CAST(tot.n_docs AS DOUBLE)
                     / (CAST(df_a AS DOUBLE) * CAST(df_b AS DOUBLE)))
                  * {LOG_SCALE}.0, 0) AS BIGINT) AS pmi_nano
FROM pairs, tot
ORDER BY n_both DESC, term_a ASC, term_b ASC
LIMIT 30
"""

ORACLES["length_mad_outliers"] = """
WITH lens AS (SELECT lang, CAST(n_chars AS BIGINT) AS len FROM documents),
hist AS (SELECT lang, len, COUNT(*) AS n FROM lens GROUP BY 1, 2),
c1 AS (
  SELECT lang, len,
         SUM(n) OVER (PARTITION BY lang ORDER BY len ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(n) OVER (PARTITION BY lang) AS tot
  FROM hist
),
med AS (
  SELECT lang, CAST(MIN(len) AS BIGINT) AS median_chars
  FROM c1 WHERE cum >= ((tot + 1) - (tot + 1) % 2) // 2 GROUP BY lang
),
dev AS (
  SELECT l.lang, ABS(l.len - m.median_chars) AS dev
  FROM lens l JOIN med m ON l.lang = m.lang
),
dh AS (SELECT lang, dev, COUNT(*) AS n FROM dev GROUP BY 1, 2),
c2 AS (
  SELECT lang, dev,
         SUM(n) OVER (PARTITION BY lang ORDER BY dev ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(n) OVER (PARTITION BY lang) AS tot
  FROM dh
),
mad AS (
  SELECT lang, CAST(MIN(dev) AS BIGINT) AS mad_chars
  FROM c2 WHERE cum >= ((tot + 1) - (tot + 1) % 2) // 2 GROUP BY lang
),
b AS (
  SELECT med.lang, median_chars, mad_chars,
         median_chars - 3 * mad_chars AS lo,
         median_chars + 3 * mad_chars AS hi
  FROM med JOIN mad ON med.lang = mad.lang
)
SELECT b.lang, median_chars, mad_chars, lo, hi,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN l.len < lo OR l.len > hi THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM lens l JOIN b ON l.lang = b.lang
GROUP BY 1, 2, 3, 4, 5
"""

ORACLES["pivot_source_lang"] = """
SELECT source,
       CAST(COUNT(CASE WHEN lang = 'de' THEN 1 END) AS BIGINT) AS de,
       CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS en,
       CAST(COUNT(CASE WHEN lang = 'es' THEN 1 END) AS BIGINT) AS es,
       CAST(COUNT(CASE WHEN lang = 'fr' THEN 1 END) AS BIGINT) AS fr,
       CAST(COUNT(CASE WHEN lang = 'zh' THEN 1 END) AS BIGINT) AS zh
FROM documents
GROUP BY source
"""


# -- round-3 TPC-H shapes ----------------------------------------------------

ORACLES["cross_nation_volume"] = f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       strftime(l.l_shipdate, '%Y') AS l_year,
       {_dsum("l.l_extendedprice * (1.0 - l.l_discount)")} AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
"""

ORACLES["nation_market_share"] = f"""
WITH base AS (
  SELECT strftime(o.o_orderdate, '%Y') AS o_year,
         ns.n_name AS supp_nation,
         l.l_extendedprice * (1.0 - l.l_discount) AS rev
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation nc ON c.c_nationkey = nc.n_nationkey
  JOIN region r ON nc.n_regionkey = r.r_regionkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation ns ON s.s_nationkey = ns.n_nationkey
  WHERE r.r_name = 'ASIA'
),
agg AS (
  SELECT o_year,
         {_dsum("CASE WHEN supp_nation = 'NATION_1' THEN rev ELSE 0.0 END")} AS target_rev,
         {_dsum("rev")} AS total_rev
  FROM base GROUP BY o_year
)
SELECT o_year, target_rev, total_rev, target_rev / total_rev AS mkt_share
FROM agg
"""

ORACLES["product_type_profit"] = f"""
SELECT n.n_name AS nation,
       strftime(o.o_orderdate, '%Y') AS o_year,
       {_dsum("l.l_extendedprice * (1.0 - l.l_discount) - p.p_retailprice * l.l_quantity")} AS sum_profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'STANDARD'
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY 1, 2
"""

ORACLES["returned_item_losses"] = f"""
SELECT c.c_custkey, c.c_name, n.n_name AS nation,
       {_dsum("l.l_extendedprice * (1.0 - l.l_discount)")} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-04-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""

ORACLES["late_shipment_priority"] = """
SELECT l.l_linestatus,
       CAST(COUNT(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 1 END) AS BIGINT) AS high_line_count,
       CAST(COUNT(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                       THEN 1 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
  AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
GROUP BY 1
"""

ORACLES["small_qty_revenue"] = f"""
WITH fact AS (
  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand = 'Brand#1'
),
per_part AS (
  SELECT l_partkey AS pk,
         {_dsum("l_quantity")} / COUNT(*) AS avg_qty
  FROM fact GROUP BY l_partkey
)
SELECT {_dsum("f.l_extendedprice")} / 7.0 AS avg_yearly
FROM fact f
JOIN per_part pp ON f.l_partkey = pp.pk
WHERE f.l_quantity < 0.5 * pp.avg_qty
"""

ORACLES["large_volume_customers"] = f"""
WITH big AS (
  SELECT l_orderkey, {_dsum("l_quantity")} AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING {_dsum("l_quantity")} > 200.0
)
SELECT c.c_custkey, c.c_name, o.o_orderkey,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate_str,
       o.o_totalprice, b.sum_qty
FROM big b
JOIN orders o ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
LIMIT 10
"""

ORACLES["brand_filtered_revenue"] = f"""
SELECT {_dsum("l.l_extendedprice * (1.0 - l.l_discount)")} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1.0 AND 20.0)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
       AND l.l_quantity BETWEEN 10.0 AND 30.0)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
       AND l.l_quantity BETWEEN 20.0 AND 50.0)
"""


# -- round-3 audit operators -------------------------------------------------

ORACLES["lang_confusion"] = f"""
WITH toks AS (
  SELECT doc_id, lang, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
scores AS (
  SELECT lang AS lang_actual,
         {", ".join(f"{_lang_score(LANG_MARKERS[lang])} AS score_{lang}" for lang in sorted(LANG_MARKERS))}
  FROM toks
)
SELECT lang_actual, {_build_lang_pred()} AS lang_pred,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM scores GROUP BY 1, 2
"""

_TERM_COUNTS = """
counts AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS n_occ FROM (
    SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
    FROM documents
  ) GROUP BY 1
)
"""

ORACLES["vocab_coverage"] = f"""
WITH {_TERM_COUNTS},
top AS (
  SELECT CAST(SUM(n_occ) AS BIGINT) AS covered_tokens FROM (
    SELECT n_occ FROM counts ORDER BY n_occ DESC, term ASC LIMIT 20
  )
),
total AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(SUM(n_occ) AS BIGINT) AS total_tokens
  FROM counts
)
SELECT CAST(20 AS BIGINT) AS vocab_k, n_terms, covered_tokens, total_tokens,
       {_rr("covered_tokens", "total_tokens", 6)} AS coverage
FROM top, total
"""

ORACLES["token_entropy"] = f"""
WITH {_TERM_COUNTS},
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
         CAST(SUM(n_occ) AS BIGINT) AS total_tokens,
         CAST(SUM(n_occ * CAST(round(ln(CAST(n_occ AS DOUBLE)) * {LOG_SCALE}.0, 0)
                               AS BIGINT)) AS BIGINT) AS sum_clnc_nano
  FROM counts
)
SELECT n_terms, total_tokens,
       (CAST(CAST(round(ln(CAST(total_tokens AS DOUBLE)) * {LOG_SCALE}.0, 0)
                  AS BIGINT) AS DOUBLE)
        - CAST(sum_clnc_nano AS DOUBLE) / CAST(total_tokens AS DOUBLE))
       / {LOG_SCALE}.0 AS entropy
FROM agg
"""

ORACLES["dup_rate_by_source"] = f"""
WITH {_SHINGLES},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS ({_jaccard_from_inter(JACCARD_THRESHOLD)}),
dups AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_a AS doc_id FROM pairs
    UNION ALL SELECT doc_b AS doc_id FROM pairs
  )
),
agg AS (
  SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(dups.doc_id) AS BIGINT) AS n_dup_docs
  FROM documents d LEFT JOIN dups ON d.doc_id = dups.doc_id
  GROUP BY 1
)
SELECT source, n_docs, n_dup_docs, {_rr("n_dup_docs", "n_docs", 4)} AS dup_rate
FROM agg
"""


ORACLES["dedup_incremental"] = f"""
WITH {_SHINGLES},
split AS (
  SELECT doc_id, ({_hash_bucket_sql('doc_id', 100)}) < 10 AS is_batch
  FROM documents
),
inter AS (
  SELECT a.doc_id AS doc_new, b.doc_id AS doc_idx, count(*) AS n_inter
  FROM sh a
  JOIN split spa ON a.doc_id = spa.doc_id AND spa.is_batch
  JOIN sh b ON a.shingle = b.shingle
  JOIN split spb ON b.doc_id = spb.doc_id AND NOT spb.is_batch
  GROUP BY 1, 2
),
scored AS (
  SELECT doc_new, doc_idx,
         {_rr("i.n_inter", "sa.sz + sb.sz - i.n_inter", 6)} AS jaccard
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_new
  JOIN sizes sb ON sb.doc_id = i.doc_idx
),
qual AS (SELECT * FROM scored WHERE jaccard >= {JACCARD_THRESHOLD}),
best AS (
  SELECT doc_new, doc_idx, jaccard FROM (
    SELECT doc_new, doc_idx, jaccard,
           row_number() OVER (PARTITION BY doc_new
                              ORDER BY jaccard DESC, doc_idx DESC) AS rn
    FROM qual
  ) WHERE rn = 1
)
SELECT s.doc_id AS doc_new,
       b.doc_idx AS dup_of,
       b.jaccard AS jaccard,
       b.doc_new IS NULL AS admit
FROM split s LEFT JOIN best b ON s.doc_id = b.doc_new
WHERE s.is_batch
"""


# approx_percentiles: sketch values are engine-specific; the oracle asserts
# the accuracy contract (within 1% of the value range) plus the exact twins.
ORACLES["approx_percentiles"] = """
SELECT event_type,
       TRUE AS p50_within_tol,
       TRUE AS p90_within_tol,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90,
       count(*) AS n
FROM events GROUP BY 1
"""


ORACLES["weighted_sample"] = """
WITH keyed AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         CAST(CAST(round(ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
                             / 4294967297.0) * 1e9, 0) AS BIGINT) AS DOUBLE)
           / 1e9 / CAST(n_chars AS DOUBLE) AS es_key
  FROM documents
),
picked AS (
  SELECT * FROM keyed ORDER BY es_key DESC, doc_id ASC LIMIT 50
)
SELECT CAST(row_number() OVER (ORDER BY es_key DESC, doc_id ASC) AS BIGINT) AS rank,
       doc_id, n_chars, es_key
FROM picked
"""


ORACLES["cluster_balance"] = f"""
WITH {_kmeans_ctes(KMEANS_K, KMEANS_ITERS, EMB_DIM)},
per AS (
  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(SUM(d) AS BIGINT) AS sum_dist
  FROM a{KMEANS_ITERS} GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_members) AS BIGINT) AS n_total FROM per)
SELECT cluster, n_members,
       {_rr("n_members", "n_total", 4)} AS share,
       CAST((sum_dist * 2 + n_members) // (n_members * 2) AS BIGINT)
         AS mean_dist_scaled
FROM per, tot
"""

ORACLES["embedding_outliers"] = f"""
WITH {_NORMS.strip().rstrip()},
nn AS (SELECT vec_id, CAST(floor(nrm * 1e9 + 0.5) AS BIGINT) AS nn FROM norms),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs,
         CAST(SUM(nn) AS BIGINT) AS sum_nano,
         MIN(nn) AS min_nano, MAX(nn) AS max_nano
  FROM nn
)
SELECT n_vecs,
       CAST(sum_nano AS DOUBLE) / CAST(n_vecs AS DOUBLE) / 1e9 AS mean_nrm,
       CAST(min_nano AS DOUBLE) / 1e9 AS min_nrm,
       CAST(max_nano AS DOUBLE) / 1e9 AS max_nrm,
       CAST(SUM(CASE WHEN ABS(CAST(nn AS DOUBLE)
                              - CAST(sum_nano AS DOUBLE) / CAST(n_vecs AS DOUBLE))
                          * 100.0
                     > 20.0 * (CAST(sum_nano AS DOUBLE) / CAST(n_vecs AS DOUBLE))
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM nn, stats
GROUP BY n_vecs, sum_nano, min_nano, max_nano
"""


from inde1_spark.operators.analytics import EWMA_ALPHA_PCT

_EW_A = EWMA_ALPHA_PCT / 100.0

ORACLES["ewma_series"] = f"""
WITH RECURSIVE daily AS (
  SELECT event_type, {_DAY} AS day, {_dsum("value")} AS v
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT event_type, day, v,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM daily
),
e AS (
  SELECT event_type, day, rn,
         CAST(floor(v * 1e6 + 0.5) AS BIGINT) AS ewma_micro
  FROM ranked WHERE rn = 1
  UNION ALL
  SELECT r.event_type, r.day, r.rn,
         CAST(floor(({_EW_A!r} * r.v
                     + {1.0 - _EW_A!r} * (CAST(e.ewma_micro AS DOUBLE) / 1e6))
                    * 1e6 + 0.5) AS BIGINT)
  FROM ranked r JOIN e ON r.event_type = e.event_type AND r.rn = e.rn + 1
)
SELECT event_type, day, CAST(ewma_micro AS DOUBLE) / 1e6 AS ewma FROM e
"""


ORACLES["ewma_anomaly"] = f"""
WITH RECURSIVE daily AS (
  SELECT event_type, {_DAY} AS day, {_dsum("value")} AS v
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT event_type, day, v,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM daily
),
e AS (
  SELECT event_type, day, rn, v,
         CAST(NULL AS BIGINT) AS prev_micro,
         CAST(floor(v * 1e6 + 0.5) AS BIGINT) AS ewma_micro
  FROM ranked WHERE rn = 1
  UNION ALL
  SELECT r.event_type, r.day, r.rn, r.v,
         e.ewma_micro AS prev_micro,
         CAST(floor(({_EW_A!r} * r.v
                     + {1.0 - _EW_A!r} * (CAST(e.ewma_micro AS DOUBLE) / 1e6))
                    * 1e6 + 0.5) AS BIGINT)
  FROM ranked r JOIN e ON r.event_type = e.event_type AND r.rn = e.rn + 1
)
SELECT event_type, day, v AS value,
       CAST(prev_micro AS DOUBLE) / 1e6 AS forecast
FROM e
WHERE prev_micro IS NOT NULL
  AND ABS(v - CAST(prev_micro AS DOUBLE) / 1e6) * 100.0
      > 40.0 * (CAST(prev_micro AS DOUBLE) / 1e6)
"""


ORACLES["funnel_steps"] = """
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t2,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t3
  FROM events GROUP BY user_id
),
c AS (
  SELECT CAST(SUM(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS c0,
         CAST(SUM(CASE WHEN t0 IS NOT NULL AND t1 > t0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN t0 IS NOT NULL AND t1 > t0 AND t2 > t1 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         CAST(SUM(CASE WHEN t0 IS NOT NULL AND t1 > t0 AND t2 > t1 AND t3 > t2 THEN 1 ELSE 0 END) AS BIGINT) AS c3
  FROM per_user
)
SELECT CAST(1 AS BIGINT) AS step, 'signup' AS step_name, c0 AS n_users, (CAST((((c0) * 20000 + (GREATEST(c0, 1))) // (2 * (GREATEST(c0, 1)))) AS DOUBLE) / 10000.0) AS conversion FROM c UNION ALL SELECT CAST(2 AS BIGINT) AS step, 'view' AS step_name, c1 AS n_users, (CAST((((c1) * 20000 + (GREATEST(c0, 1))) // (2 * (GREATEST(c0, 1)))) AS DOUBLE) / 10000.0) AS conversion FROM c UNION ALL SELECT CAST(3 AS BIGINT) AS step, 'click' AS step_name, c2 AS n_users, (CAST((((c2) * 20000 + (GREATEST(c0, 1))) // (2 * (GREATEST(c0, 1)))) AS DOUBLE) / 10000.0) AS conversion FROM c UNION ALL SELECT CAST(4 AS BIGINT) AS step, 'purchase' AS step_name, c3 AS n_users, (CAST((((c3) * 20000 + (GREATEST(c0, 1))) // (2 * (GREATEST(c0, 1)))) AS DOUBLE) / 10000.0) AS conversion FROM c
"""

ORACLES["retention_cohorts"] = """
WITH activity AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
),
firsts AS (SELECT user_id, MIN(d) AS cohort_d FROM activity GROUP BY 1)
SELECT strftime(f.cohort_d, '%Y-%m-%d') AS cohort_day,
       CAST(date_diff('day', f.cohort_d, a.d) AS BIGINT) AS day_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM activity a JOIN firsts f ON a.user_id = f.user_id
WHERE date_diff('day', f.cohort_d, a.d) <= 7
GROUP BY 1, 2
"""


ORACLES["transition_matrix"] = f"""
WITH pairs AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC) AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
),
totals AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tot FROM counts GROUP BY 1)
SELECT c.from_type, c.to_type, c.n, {_rr("c.n", "t.tot", 4)} AS p
FROM counts c JOIN totals t ON c.from_type = t.from_type
"""


ORACLES["time_weighted_avg"] = f"""
WITH obs AS (
  SELECT event_type, {_DAY} AS day, value,
         date_diff('second', ts,
                   LEAST(lead(ts) OVER (PARTITION BY event_type
                                        ORDER BY ts ASC, event_id ASC),
                         date_trunc('day', ts) + INTERVAL 1 DAY)) AS held_secs
  FROM events
)
SELECT event_type, day,
       CAST(SUM(CAST(held_secs AS DECIMAL(18,0))) AS BIGINT) AS total_secs,
       CAST(SUM(CAST(value * CAST(held_secs AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
         / CAST(SUM(CAST(held_secs AS DECIMAL(18,0))) AS DOUBLE) AS twa_value
FROM obs
WHERE held_secs > 0
GROUP BY 1, 2
"""


ORACLES["gap_histogram"] = """
WITH gaps AS (
  SELECT event_type,
         date_diff('second', ts,
                   lead(ts) OVER (PARTITION BY event_type
                                  ORDER BY ts ASC, event_id ASC)) AS gap
  FROM events
),
counts AS (
  SELECT event_type, CASE WHEN gap > 86400 THEN '>86400s' WHEN gap > 3600 THEN '<=86400s' WHEN gap > 600 THEN '<=3600s' WHEN gap > 60 THEN '<=600s' WHEN gap > 10 THEN '<=60s' ELSE '<=10s' END AS bucket, CAST(COUNT(*) AS BIGINT) AS n_gaps
  FROM gaps WHERE gap IS NOT NULL GROUP BY 1, 2
)
SELECT event_type, bucket, n_gaps,
       (CAST((((n_gaps) * 20000 + (SUM(n_gaps) OVER (PARTITION BY event_type))) // (2 * (SUM(n_gaps) OVER (PARTITION BY event_type)))) AS DOUBLE) / 10000.0) AS share
FROM counts
"""


# weekly_growth: Spark's date_trunc('week') is ISO-Monday; DuckDB date_trunc
# 'week' is also Monday-based — same boundary.
ORACLES["weekly_growth"] = f"""
WITH weekly AS (
  SELECT event_type,
         strftime(date_trunc('week', ts), '%Y-%m-%d') AS week_start,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         {_dsum("value")} AS sum_value
  FROM events GROUP BY 1, 2
)
SELECT event_type, week_start, n_events, sum_value,
       CAST(n_events - lag(n_events) OVER w AS DOUBLE)
         / CAST(lag(n_events) OVER w AS DOUBLE) AS events_growth,
       (sum_value - lag(sum_value) OVER w) / lag(sum_value) OVER w AS value_growth
FROM weekly
WINDOW w AS (PARTITION BY event_type ORDER BY week_start ASC)
"""

ORACLES["attribution_first_touch"] = f"""
WITH tagged AS (
  SELECT event_type,
         first_value(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts ASC, event_id ASC
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS first_touch
  FROM events
),
counts AS (
  SELECT first_touch, CAST(COUNT(*) AS BIGINT) AS n_purchases
  FROM tagged WHERE event_type = 'purchase' GROUP BY 1
)
SELECT first_touch, n_purchases,
       {_rr("n_purchases", "SUM(n_purchases) OVER ()", 4)} AS share
FROM counts
"""


ORACLES["dau_wau"] = f"""
WITH activity AS (
  SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
),
contrib AS (
  SELECT DISTINCT unnest(generate_series(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS wd,
         user_id
  FROM activity
),
wau AS (SELECT wd, CAST(COUNT(*) AS BIGINT) AS wau FROM contrib GROUP BY 1),
dau AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM activity GROUP BY 1)
SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau, wau.wau,
       {_rr("dau.dau", "wau.wau", 4)} AS stickiness
FROM dau JOIN wau ON dau.d = wau.wd
"""


ORACLES["cumulative_users"] = """
WITH firsts AS (
  SELECT user_id, MIN(date_trunc('day', ts)) AS first_d
  FROM events GROUP BY user_id
),
per_day AS (
  SELECT strftime(first_d, '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS new_users
  FROM firsts GROUP BY 1
)
SELECT day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day ASC
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS cum_users
FROM per_day
"""


# -- round-4 TPC-H shapes ----------------------------------------------------

# SQL twin of exprs.ratio_scaled (p=10^4): exact integer round-half-up of
# num/den * 10^4 as BIGINT.
_RS4 = (
    "CAST(((({num}) * 20000 + ({den})) - (({num}) * 20000 + ({den}))"
    " % (2 * ({den}))) // (2 * ({den})) AS BIGINT)"
)

ORACLES["min_cost_supplier"] = f"""
WITH eur_supp AS (
  SELECT s_suppkey, s_name, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
brass AS (
  SELECT p_partkey, p_brand FROM part
  WHERE p_type = 'STANDARD' AND p_size BETWEEN 10 AND 20
),
cost AS (
  SELECT l.l_partkey, b.p_brand, s.s_suppkey, s.s_name, s.n_name,
         SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS num,
         SUM(CAST(round(l.l_quantity) AS BIGINT)) AS den
  FROM lineitem l
  JOIN brass b ON l.l_partkey = b.p_partkey
  JOIN eur_supp s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2, 3, 4, 5
),
ranked AS (
  SELECT l_partkey, p_brand, s_suppkey, s_name, n_name,
         {_RS4.format(num="num", den="den")} AS cost_scaled,
         row_number() OVER (
           PARTITION BY l_partkey
           ORDER BY {_RS4.format(num="num", den="den")} ASC, s_suppkey ASC
         ) AS rn
  FROM cost
)
SELECT l_partkey AS p_partkey, p_brand, s_suppkey, s_name, n_name, cost_scaled
FROM ranked WHERE rn = 1
ORDER BY p_partkey ASC LIMIT 20
"""

ORACLES["supplier_count_by_part_attr"] = """
WITH sized AS (
  SELECT p_partkey, p_brand,
         CAST(FLOOR(p_size / 10) * 10 AS BIGINT) AS size_band
  FROM part WHERE p_brand <> 'Brand#1'
)
SELECT p.p_brand, p.size_band,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN sized p ON l.l_partkey = p.p_partkey
WHERE l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2
"""

ORACLES["excess_qty_suppliers"] = """
WITH y AS (
  SELECT l_partkey, l_suppkey, CAST(round(l_quantity) AS BIGINT) AS q
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
),
per_pair AS (
  SELECT l_partkey, l_suppkey, SUM(q) AS supp_qty FROM y GROUP BY 1, 2
),
per_part AS (
  SELECT l_partkey, SUM(q) AS part_qty,
         COUNT(DISTINCT l_suppkey) AS n_supp
  FROM y GROUP BY 1
),
hot AS (
  SELECT DISTINCT pp.l_suppkey
  FROM per_pair pp JOIN per_part pt ON pp.l_partkey = pt.l_partkey
  WHERE pt.n_supp >= 2 AND pp.supp_qty * 4 > pt.part_qty * 3
)
SELECT s.s_suppkey, s.s_name, n.n_name AS nation
FROM hot h
JOIN supplier s ON h.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
"""

ORACLES["sole_late_supplier"] = """
WITH j AS (
  SELECT l.l_orderkey, l.l_suppkey,
         (l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) AS is_late
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
),
per_order AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late_supp,
         MAX(CASE WHEN is_late THEN l_suppkey END) AS late_supp
  FROM j GROUP BY 1
),
blamed AS (
  SELECT late_supp, CAST(COUNT(*) AS BIGINT) AS numwait
  FROM per_order WHERE n_supp >= 2 AND n_late_supp = 1 GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, b.numwait
FROM blamed b JOIN supplier s ON b.late_supp = s.s_suppkey
ORDER BY b.numwait DESC, s.s_suppkey ASC LIMIT 20
"""


# -- round-4 new operators ---------------------------------------------------

from inde1_spark.operators.analytics import (
    HOLT_ALPHA_PCT,
    HOLT_BETA_PCT,
    ROLLING_DAYS,
    ZSCORE_THRESHOLD,
)

ORACLES["rolling_daily_revenue"] = f"""
WITH daily AS (
  SELECT event_type, {_DAY} AS day,
         CAST(floor({_dsum("value")} * 1e6 + 0.5) AS BIGINT) AS v_micro
  FROM events GROUP BY 1, 2
),
w AS (
  SELECT event_type, day, v_micro,
         SUM(v_micro) OVER (
           PARTITION BY event_type
           ORDER BY date_diff('day', DATE '1970-01-01', CAST(day AS DATE))
           RANGE BETWEEN {ROLLING_DAYS - 1} PRECEDING AND CURRENT ROW
         ) AS rs,
         COUNT(*) OVER (
           PARTITION BY event_type
           ORDER BY date_diff('day', DATE '1970-01-01', CAST(day AS DATE))
           RANGE BETWEEN {ROLLING_DAYS - 1} PRECEDING AND CURRENT ROW
         ) AS nd
  FROM daily
)
SELECT event_type, day,
       CAST(v_micro AS DOUBLE) / 1e6 AS value,
       CAST(rs AS DOUBLE) / 1e6 AS rolling_sum,
       CAST(rs AS DOUBLE) / CAST(nd AS DOUBLE) / 1e6 AS rolling_avg,
       CAST(nd AS BIGINT) AS n_days_in_window
FROM w
"""

ORACLES["grouping_sets_revenue"] = f"""
SELECT COALESCE(day, 'ALL') AS day,
       COALESCE(event_type, 'ALL') AS event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {_dsum("value")} AS sum_value
FROM (SELECT {_DAY} AS day, event_type, value FROM events)
GROUP BY GROUPING SETS ((day, event_type), (day), ())
"""

_H_A = HOLT_ALPHA_PCT / 100.0
_H_G = HOLT_BETA_PCT / 100.0
_H_LNEW = (
    f"CAST(floor(({_H_A!r} * r.v"
    f" + {1.0 - _H_A!r} * (CAST(h.l_micro + h.b_micro AS DOUBLE) / 1e6))"
    f" * 1e6 + 0.5) AS BIGINT)"
)
_H_BNEW = (
    f"CAST(floor(({_H_G!r} * (CAST(({_H_LNEW}) - h.l_micro AS DOUBLE) / 1e6)"
    f" + {1.0 - _H_G!r} * (CAST(h.b_micro AS DOUBLE) / 1e6))"
    f" * 1e6 + 0.5) AS BIGINT)"
)

ORACLES["holt_linear"] = f"""
WITH RECURSIVE daily AS (
  SELECT event_type, {_DAY} AS day, {_dsum("value")} AS v
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT event_type, day, v,
         row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
  FROM daily
),
h AS (
  SELECT event_type, day, v, rn,
         CAST(floor(v * 1e6 + 0.5) AS BIGINT) AS l_micro,
         CAST(0 AS BIGINT) AS b_micro
  FROM ranked WHERE rn = 1
  UNION ALL
  SELECT r.event_type, r.day, r.v, r.rn,
         {_H_LNEW} AS l_micro,
         {_H_BNEW} AS b_micro
  FROM ranked r JOIN h ON r.event_type = h.event_type AND r.rn = h.rn + 1
)
SELECT event_type, day, v AS value,
       CAST(l_micro AS DOUBLE) / 1e6 AS level,
       CAST(b_micro AS DOUBLE) / 1e6 AS trend,
       CAST(l_micro + b_micro AS DOUBLE) / 1e6 AS forecast_next
FROM h
"""

ORACLES["zscore_anomaly"] = f"""
WITH daily AS (
  SELECT event_type, {_DAY} AS day,
         CAST(floor({_dsum("value")} * 1e6 + 0.5) AS BIGINT) AS m
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
         SUM(m) AS sum_m,
         SUM(CAST(m AS HUGEINT) * m) AS sum_m2
  FROM daily GROUP BY 1
),
j AS (
  SELECT d.event_type, d.day, d.m, s.n_days,
         {_dec2d("s.sum_m")} / CAST(s.n_days AS DOUBLE) AS mean,
         GREATEST({_dec2d("s.sum_m2")} / CAST(s.n_days AS DOUBLE)
                  - ({_dec2d("s.sum_m")} / CAST(s.n_days AS DOUBLE))
                    * ({_dec2d("s.sum_m")} / CAST(s.n_days AS DOUBLE)),
                  0.0) AS var
  FROM daily d JOIN stats s ON d.event_type = s.event_type
)
SELECT event_type, day,
       CAST(m AS DOUBLE) / 1e6 AS value,
       mean / 1e6 AS mean_value,
       sqrt(var) / 1e6 AS stddev_value,
       n_days
FROM j
WHERE abs(CAST(m AS DOUBLE) - mean) > {float(ZSCORE_THRESHOLD)!r} * sqrt(var)
"""

from inde1_spark.operators.dedup import (
    LEV_MAX_EDIT_PCT,
    LEV_MAX_SHINGLE_DF,
    LEV_MIN_SHARED,
)

ORACLES["dedup_levenshtein"] = f"""
WITH {_SHINGLES},
dfc AS (
  SELECT shingle FROM (
    SELECT shingle, count(*) AS df FROM sh GROUP BY 1
  ) WHERE df <= {LEV_MAX_SHINGLE_DF}
),
shc AS (SELECT doc_id, shingle FROM sh JOIN dfc USING (shingle)),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= {LEV_MIN_SHARED}
),
banded AS (
  SELECT c.doc_a, c.doc_b, ta.text AS text_a, tb.text AS text_b,
         CAST(GREATEST(length(ta.text), length(tb.text)) AS BIGINT) AS max_len
  FROM cand c
  JOIN documents ta ON ta.doc_id = c.doc_a
  JOIN documents tb ON tb.doc_id = c.doc_b
  WHERE abs(length(ta.text) - length(tb.text)) * 100
        <= {LEV_MAX_EDIT_PCT} * GREATEST(length(ta.text), length(tb.text))
)
SELECT doc_a, doc_b, edit_distance, max_len FROM (
  SELECT doc_a, doc_b,
         CAST(levenshtein(text_a, text_b) AS BIGINT) AS edit_distance,
         max_len
  FROM banded
)
WHERE edit_distance * 100 <= {LEV_MAX_EDIT_PCT} * max_len
"""

from inde1_spark.operators.text import TOP_NGRAM_K, TOP_NGRAM_N

ORACLES["top_ngrams_per_lang"] = f"""
WITH toks AS (
  SELECT lang, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
grams AS (
  SELECT lang, array_to_string(toks[i:i+{TOP_NGRAM_N - 1}], ' ') AS ngram
  FROM toks, UNNEST(generate_series(1, len(toks) - {TOP_NGRAM_N - 1})) AS u(i)
  WHERE len(toks) >= {TOP_NGRAM_N}
),
counts AS (
  SELECT lang, ngram, CAST(count(*) AS BIGINT) AS n_occ
  FROM grams GROUP BY 1, 2
),
ranked AS (
  SELECT lang, ngram, n_occ,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_occ DESC, ngram ASC) AS rank
  FROM counts
)
SELECT lang, CAST(rank AS BIGINT) AS rank, ngram, n_occ
FROM ranked WHERE rank <= {TOP_NGRAM_K}
"""


ORACLES["distinct_rollup_hll"] = """
SELECT event_type,
       strftime(date_trunc('week', ts), '%Y-%m-%d') AS week_start,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS approx_within_tol
FROM events GROUP BY 1, 2
"""

from inde1_spark.operators.dedup import (
    CONT_MAX_SHINGLE_DF,
    CONT_MIN_SHARED,
    CONTAINMENT_THRESHOLD,
)

ORACLES["dedup_containment"] = f"""
WITH {_SHINGLES},
dfc AS (
  SELECT shingle FROM (
    SELECT shingle, count(*) AS df FROM sh GROUP BY 1
  ) WHERE df <= {CONT_MAX_SHINGLE_DF}
),
shc AS (SELECT doc_id, shingle FROM sh JOIN dfc USING (shingle)),
cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= {CONT_MIN_SHARED}
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, containment, jaccard FROM (
  SELECT i.doc_a, i.doc_b,
         {_rr("i.n_inter", "LEAST(sa.sz, sb.sz)", 6)} AS containment,
         {_rr("i.n_inter", "sa.sz + sb.sz - i.n_inter", 6)} AS jaccard
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
)
WHERE containment >= {CONTAINMENT_THRESHOLD}
"""


from inde1_spark.operators.analytics import HOP_SLIDE_MIN, HOP_WINDOW_MIN

_HOP_S = HOP_SLIDE_MIN * 60
_HOP_W = HOP_WINDOW_MIN * 60
_HOP_K = _HOP_W // _HOP_S  # covering windows per event

ORACLES["hopping_window_stats"] = f"""
WITH expanded AS (
  SELECT event_type, value,
         to_timestamp(CAST(floor(epoch(ts) / {_HOP_S}) AS BIGINT) * {_HOP_S}
                      - o.k * {_HOP_S}) AS ws
  FROM events,
       (SELECT unnest(generate_series(0, {_HOP_K - 1})) AS k) o
  WHERE CAST(floor(epoch(ts) / {_HOP_S}) AS BIGINT) * {_HOP_S} - o.k * {_HOP_S}
        + {_HOP_W} > epoch(ts)
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(ws + INTERVAL {_HOP_W} SECOND, '%Y-%m-%d %H:%M:%S') AS window_end,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {_dsum("value")} AS sum_value
FROM expanded
GROUP BY 1, 2, 3
"""


from inde1_spark.operators.dedup import PAGERANK_DAMPING, PAGERANK_ITERS

_PR_D = PAGERANK_DAMPING


def _pagerank_ctes(iters: int) -> str:
    parts = []
    for i in range(iters):
        parts.append(
            f"s{i} AS (SELECT e.v AS u, CAST(SUM(r.r // r.deg) AS BIGINT) AS s\n"
            f"          FROM edges e JOIN r{i} r ON e.u = r.u GROUP BY 1),\n"
            f"r{i + 1} AS (SELECT d.u, d.deg,\n"
            f"            CAST(floor(({1.0 - _PR_D!r} / t.n) * 1e9\n"
            f"                       + {_PR_D!r} * CAST(COALESCE(s.s, 0) AS DOUBLE) + 0.5) AS BIGINT) AS r\n"
            f"            FROM deg d CROSS JOIN tot t LEFT JOIN s{i} s ON s.u = d.u)"
        )
    return ",\n".join(parts)


ORACLES["pagerank_dup_graph"] = f"""
WITH {_SHINGLES},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS ({_jaccard_from_inter(JACCARD_THRESHOLD)}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
r0 AS (
  SELECT d.u, d.deg, CAST(floor(1e9 / t.n + 0.5) AS BIGINT) AS r
  FROM deg d CROSS JOIN tot t
),
{_pagerank_ctes(PAGERANK_ITERS)}
SELECT u AS doc_id, deg, CAST(r AS DOUBLE) / 1e9 AS pagerank
FROM r{PAGERANK_ITERS}
"""


ORACLES["json_props_audit"] = f"""
WITH tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM events),
kv AS (
  -- bracket-quoted path: a key containing '.' must address the key
  -- literally, not a nested path (schema drift is the point of the audit)
  SELECT key, json_extract_string(props, '$."' || key || '"') AS value
  FROM (SELECT props, unnest(json_keys(props)) AS key FROM events)
),
typed AS (
  SELECT key,
         CASE WHEN regexp_full_match(value, '-?[0-9]+') THEN 'int'
              WHEN regexp_full_match(value, '-?[0-9]*\\.[0-9]+') THEN 'float'
              ELSE 'string' END AS vtype,
         value
  FROM kv
)
SELECT key, vtype, CAST(COUNT(*) AS BIGINT) AS n_rows,
       {_rr("COUNT(*)", "MAX(t.n_total)", 4)} AS coverage,
       CAST(SUM(CASE WHEN vtype = 'int' THEN TRY_CAST(value AS BIGINT) ELSE 0 END)
            AS BIGINT) AS sum_int_values
FROM typed CROSS JOIN tot t
GROUP BY 1, 2
"""

from inde1_spark.operators.analytics import CONVERSION_FROM, CONVERSION_TO

ORACLES["conversion_lag_histogram"] = f"""
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = '{CONVERSION_FROM}' THEN ts END) AS t0,
         MIN(CASE WHEN event_type = '{CONVERSION_TO}' THEN ts END) AS t1
  FROM events GROUP BY 1
),
lagged AS (
  SELECT CAST(floor(date_diff('second', t0, t1) / 60.0) AS BIGINT) AS lag_min
  FROM per_user
  WHERE t0 IS NOT NULL AND t1 IS NOT NULL AND t1 > t0
)
SELECT bucket_id, bucket, CAST(COUNT(*) AS BIGINT) AS n_users FROM (
  SELECT CASE WHEN lag_min <= 60 THEN 1 WHEN lag_min <= 1440 THEN 2
              WHEN lag_min <= 10080 THEN 3 ELSE 4 END AS bucket_id,
         CASE WHEN lag_min <= 60 THEN 'within_hour'
              WHEN lag_min <= 1440 THEN 'within_day'
              WHEN lag_min <= 10080 THEN 'within_week'
              ELSE 'over_week' END AS bucket
  FROM lagged
)
GROUP BY 1, 2
"""


ORACLES["daily_trend_regression"] = f"""
WITH daily AS (
  SELECT event_type, {_DAY} AS day,
         CAST(floor({_dsum("value")} * 1e6 + 0.5) AS BIGINT) AS y_micro
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01', CAST(day AS DATE)) AS BIGINT) AS x,
         y_micro
  FROM daily
),
stats AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         SUM(x) AS sx, SUM(y_micro) AS sy,
         SUM(CAST(x AS HUGEINT) * y_micro) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx
  FROM m GROUP BY 1
  HAVING COUNT(*) >= 2
)
SELECT event_type, n_days,
       ((CAST(n_days AS DOUBLE) * {_dec2d("sxy")}
         - {_dec2d("sx")} * {_dec2d("sy")})
        / (CAST(n_days AS DOUBLE) * {_dec2d("sxx")}
           - {_dec2d("sx")} * {_dec2d("sx")})) / 1e6 AS slope_per_day,
       (({_dec2d("sy")}
         - ((CAST(n_days AS DOUBLE) * {_dec2d("sxy")}
             - {_dec2d("sx")} * {_dec2d("sy")})
            / (CAST(n_days AS DOUBLE) * {_dec2d("sxx")}
               - {_dec2d("sx")} * {_dec2d("sx")})) * {_dec2d("sx")})
        / CAST(n_days AS DOUBLE)) / 1e6 AS intercept
FROM stats
"""

ORACLES["dow_profile"] = f"""
SELECT event_type,
       CAST(isodow(ts) AS BIGINT) AS iso_dow,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {_dsum("value")} AS sum_value,
       {_dsum("value")} / COUNT(*) AS mean_value
FROM events GROUP BY 1, 2
"""


from inde1_spark.operators.analytics import SKEW_TOP_K

ORACLES["join_key_skew"] = f"""
WITH counts AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows FROM events GROUP BY 1
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(n_rows) AS BIGINT) AS n_total,
         CAST(MAX(n_rows) AS BIGINT) AS max_rows
  FROM counts
),
top AS (
  SELECT user_id, n_rows,
         CAST(row_number() OVER (ORDER BY n_rows DESC, user_id ASC) AS BIGINT)
           AS rank
  FROM counts ORDER BY n_rows DESC, user_id ASC LIMIT {SKEW_TOP_K}
)
SELECT t.rank, t.user_id, t.n_rows,
       {_rr("t.n_rows", "x.n_total", 6)} AS share,
       {_rr("1", "x.n_keys", 6)} AS uniform_share,
       x.n_keys, x.max_rows
FROM top t CROSS JOIN tot x
"""


from inde1_spark.operators.corpus import NOVELTY_N_BATCHES

ORACLES["shingle_novelty"] = f"""
WITH {_SHINGLES},
b AS (
  SELECT doc_id,
         CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   AS BIGINT) % {NOVELTY_N_BATCHES} AS BIGINT) AS batch
  FROM documents
),
per AS (
  SELECT DISTINCT b.batch, sh.shingle FROM sh JOIN b USING (doc_id)
),
firsts AS (SELECT shingle, MIN(batch) AS first_batch FROM per GROUP BY 1),
seen AS (
  SELECT batch, CAST(COUNT(*) AS BIGINT) AS n_shingles_seen FROM per GROUP BY 1
),
novel AS (
  SELECT first_batch AS batch, CAST(COUNT(*) AS BIGINT) AS n_shingles_novel
  FROM firsts GROUP BY 1
)
SELECT s.batch, s.n_shingles_seen,
       COALESCE(n.n_shingles_novel, 0) AS n_shingles_novel,
       {_rr("COALESCE(n.n_shingles_novel, 0)", "s.n_shingles_seen", 4)} AS novelty
FROM seen s LEFT JOIN novel n ON n.batch = s.batch
"""


ORACLES["value_percentile_ranks"] = f"""
WITH daily AS (
  SELECT event_type, {_DAY} AS day,
         CAST(floor({_dsum("value")} * 1e6 + 0.5) AS BIGINT) AS m
  FROM events GROUP BY 1, 2
)
SELECT event_type, day,
       CAST(m AS DOUBLE) / 1e6 AS value,
       percent_rank() OVER (PARTITION BY event_type ORDER BY m ASC) AS pct_rank,
       cume_dist() OVER (PARTITION BY event_type ORDER BY m ASC) AS cume_dist
FROM daily
"""

ORACLES["nation_stock_value"] = """
WITH nat_supp AS (
  SELECT s_suppkey FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = 'NATION_3'
),
per_part AS (
  SELECT l_partkey,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS value_cents
  FROM lineitem l JOIN nat_supp ns ON l.l_suppkey = ns.s_suppkey
  GROUP BY 1
),
total AS (SELECT CAST(SUM(value_cents) AS BIGINT) AS total_cents FROM per_part)
SELECT p.l_partkey, p.value_cents,
       CAST((CAST(p.value_cents AS HUGEINT) * 1000000) // t.total_cents AS BIGINT)
         AS share_ppm
FROM per_part p, total t
WHERE CAST(p.value_cents AS HUGEINT) * 1000000 > CAST(t.total_cents AS HUGEINT) * 1000
"""

# Ground truth IS the oracle: prefix filtering has no false negatives
# (Xiao et al. WWW'08 — a qualifying pair must share a shingle inside both
# df-ordered prefixes), so similarity_join_allpairs' output equals the
# exact shingle-set Jaccard join and every pair row hashes. Same oracle as
# the MinHash family: three engine paths, one contract.
ORACLES["similarity_join_allpairs"] = ORACLES["dedup_ngram_jaccard"]

ORACLES["changepoint_meanshift"] = f"""
WITH daily AS (
  SELECT event_type, {_DAY} AS day,
         CAST(floor({_dsum("value")} * 1e6 + 0.5) AS BIGINT) AS m
  FROM events GROUP BY 1, 2
),
pref AS (
  SELECT event_type, day,
         CAST(row_number() OVER w AS BIGINT) AS k,
         CAST(SUM(m) OVER w AS BIGINT) AS s1,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
         CAST(SUM(m) OVER (PARTITION BY event_type) AS BIGINT) AS stot
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
scored AS (
  SELECT *,
         CAST(s1 AS HUGEINT) * (n - k) - CAST(stot - s1 AS HUGEINT) * k AS d
  FROM pref WHERE k < n
),
st AS (
  SELECT *, (d * d) // (CAST(k AS HUGEINT) * (n - k)) AS stat FROM scored
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY stat DESC, k ASC) AS rn
  FROM st
)
SELECT event_type, day AS split_day,
       k AS n_before, (n - k) AS n_after,
       CAST(CAST(CAST(s1 AS HUGEINT) // k AS BIGINT) AS DOUBLE) / 1e6 AS mean_before,
       CAST(CAST(CAST(stot - s1 AS HUGEINT) // (n - k) AS BIGINT) AS DOUBLE) / 1e6 AS mean_after,
       {_dec2d('stat')} AS shift_stat
FROM best WHERE rn = 1
"""

ORACLES["embedding_dim_corr"] = f"""
WITH fx AS (
  SELECT list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {FIXED_POINT_SCALE:.1f} + 0.5) AS BIGINT)) AS fx
  FROM embeddings
),
pairs AS (
  SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         SUM(CAST(fx[i] AS HUGEINT) * fx[j]) AS sxy
  FROM fx,
       UNNEST(generate_series(1, {EMB_DIM - 1})) AS u(i),
       UNNEST(generate_series(2, {EMB_DIM})) AS w(j)
  WHERE j > i
  GROUP BY 1, 2
),
dims AS (
  SELECT i AS dim,
         SUM(CAST(fx[i] AS HUGEINT)) AS sx,
         SUM(CAST(fx[i] AS HUGEINT) * fx[i]) AS sxx
  FROM fx, UNNEST(generate_series(1, {EMB_DIM})) AS u(i)
  GROUP BY 1
),
scored AS (
  SELECT p.i, p.j, p.n_vecs,
         CAST(p.n_vecs AS HUGEINT) * p.sxy - a.sx * b.sx AS num,
         CAST(p.n_vecs AS HUGEINT) * a.sxx - a.sx * a.sx AS va,
         CAST(p.n_vecs AS HUGEINT) * b.sxx - b.sx * b.sx AS vb
  FROM pairs p JOIN dims a ON a.dim = p.i JOIN dims b ON b.dim = p.j
  WHERE (CAST(p.n_vecs AS HUGEINT) * a.sxx - a.sx * a.sx) > 0
    AND (CAST(p.n_vecs AS HUGEINT) * b.sxx - b.sx * b.sx) > 0
)
SELECT CAST(i AS BIGINT) AS dim_a, CAST(j AS BIGINT) AS dim_b, n_vecs,
       {_dec2d('num')} / (sqrt({_dec2d('va')}) * sqrt({_dec2d('vb')})) AS corr
FROM scored
ORDER BY abs({_dec2d('num')} / (sqrt({_dec2d('va')}) * sqrt({_dec2d('vb')}))) DESC,
         dim_a ASC, dim_b ASC
LIMIT 20
"""

ORACLES["tokenizer_fertility"] = f"""
WITH per_doc AS (
  SELECT lang,
         CAST(strlen(text) AS BIGINT) AS n_bytes,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_toks,
         CAST(len(regexp_extract_all(lower(text), '({BPE_PATTERN})', 0)) AS BIGINT) AS n_subwords
  FROM documents
),
agg AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
         CAST(SUM(n_subwords) AS BIGINT) AS total_subwords
  FROM per_doc GROUP BY 1
)
SELECT lang, n_docs, total_bytes, total_subwords,
       {_rr("total_bytes", "GREATEST(total_subwords, 1)", 4)} AS bytes_per_subword,
       {_rr("total_chars", "GREATEST(total_subwords, 1)", 4)} AS chars_per_subword,
       {_rr("total_subwords", "GREATEST(total_tokens, 1)", 4)} AS fertility
FROM agg
"""

ORACLES["zorder_layout"] = f"""
WITH base AS (
  SELECT CAST(user_id AS BIGINT) AS uid,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h
  FROM events
),
lims AS (
  SELECT min(h) AS h_min, max(h) AS h_max,
         min(uid) AS u_min, max(uid) AS u_max
  FROM base
),
scaled AS (
  SELECT uid, h,
         ((h - h_min) * 1024) // (h_max - h_min + 1) AS hx,
         ((uid - u_min) * 1024) // (u_max - u_min + 1) AS ux
  FROM base, lims
),
zed AS (
  SELECT uid, h,
         ({" + ".join(f"((hx // {1 << b}) % 2) * {1 << (2 * b)} + ((ux // {1 << b}) % 2) * {1 << (2 * b + 1)}" for b in range(10))}) AS z
  FROM scaled
)
SELECT CAST(z // {(1 << 20) // 64} AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(h) - min(h) AS BIGINT) AS h_span,
       CAST(max(uid) - min(uid) AS BIGINT) AS u_span,
       CAST(min(h) AS BIGINT) AS h_lo,
       CAST(min(uid) AS BIGINT) AS u_lo
FROM zed GROUP BY 1
"""

ORACLES["bigram_logprob"] = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
bf AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
         toks[i] || ' ' || toks[i + 1] AS bigram,
         CAST(count(*) AS BIGINT) AS bf
  FROM toks, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
  WHERE len(toks) >= 2
  GROUP BY 1, 2, 3
),
vocab AS (SELECT bigram, CAST(SUM(bf) AS BIGINT) AS c_ab FROM bf GROUP BY 1),
lefts AS (
  SELECT split_part(bigram, ' ', 1) AS w1, CAST(SUM(c_ab) AS BIGINT) AS c_a
  FROM vocab GROUP BY 1
),
sv AS (
  SELECT bigram,
         CAST(round(ln(CAST(c_ab AS DOUBLE) / CAST(c_a AS DOUBLE))
                    * {LOG_SCALE}.0, 0) AS BIGINT) AS lp_scaled
  FROM vocab JOIN lefts ON split_part(vocab.bigram, ' ', 1) = lefts.w1
)
SELECT doc_id, CAST(dl - 1 AS BIGINT) AS n_bigrams,
       CAST(SUM(bf * lp_scaled) AS DOUBLE) / {LOG_SCALE}.0
         / CAST(dl - 1 AS DOUBLE) AS avg_logprob
FROM bf JOIN sv USING (bigram)
WHERE dl >= 2
GROUP BY doc_id, dl
"""

ORACLES["percentile_rollup_kll"] = """
WITH base AS (
  SELECT event_type,
         strftime(date_trunc('week', ts), '%Y-%m-%d') AS week_start,
         CAST(floor(CAST(value AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS m
  FROM events
)
SELECT event_type, week_start,
       quantile_cont(m, 0.5) / 1e6 AS p50,
       quantile_cont(m, 0.9) / 1e6 AS p90,
       CAST(count(*) AS BIGINT) AS n,
       TRUE AS p50_within_tol,
       TRUE AS p90_within_tol
FROM base GROUP BY 1, 2
"""

ORACLES["source_drift_ks"] = f"""
WITH qtoks AS (
  SELECT source, n_chars,
         list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
qm AS (
  SELECT source,
         GREATEST(CAST(len(toks) AS BIGINT), 1) AS gnt,
         CAST(len(list_filter(toks, t -> t IN ({_STOP_LIST}))) AS BIGINT) AS n_stop,
         LEAST(n_chars, 500) AS capped_chars
  FROM qtoks
),
scoredq AS (
  SELECT source,
         {_rs("capped_chars * gnt + 500 * (gnt - n_stop)", "1000 * gnt", 4)} AS q
  FROM qm
),
counts AS (SELECT source, q, CAST(count(*) AS BIGINT) AS c FROM scoredq GROUP BY 1, 2),
qgrid AS (SELECT DISTINCT q FROM counts),
srcs AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM counts GROUP BY 1),
total AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_all FROM srcs),
perq AS (SELECT q, CAST(SUM(c) AS BIGINT) AS cq FROM counts GROUP BY 1),
cum_all_tbl AS (
  SELECT q, CAST(SUM(cq) OVER (ORDER BY q
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_all
  FROM perq
),
filled AS (
  SELECT s.source, s.n_s, g.q, COALESCE(c.c, 0) AS c
  FROM srcs s CROSS JOIN qgrid g
  LEFT JOIN counts c ON c.source = s.source AND c.q = g.q
),
cums AS (
  SELECT source, n_s, q,
         CAST(SUM(c) OVER (PARTITION BY source ORDER BY q
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_s
  FROM filled
),
j AS (
  SELECT f.source, f.n_s, f.q, f.cum_s, a.cum_all, t.n_all,
         abs(CAST(f.cum_s AS HUGEINT) * (t.n_all - f.n_s)
             - CAST(a.cum_all - f.cum_s AS HUGEINT) * f.n_s) AS num
  FROM cums f JOIN cum_all_tbl a ON a.q = f.q, total t
  WHERE f.n_s < t.n_all
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY num DESC, q ASC) AS rn
  FROM j
)
SELECT source, n_s AS n_docs,
       CAST(CAST((num * 1000000) // (CAST(n_s AS HUGEINT) * (n_all - n_s))
            AS BIGINT) AS DOUBLE) / 1e6 AS ks,
       q AS at_quality_scaled
FROM best WHERE rn = 1
"""

ORACLES["zipf_fit"] = f"""
WITH vocab AS (
  SELECT t.term, CAST(count(*) AS BIGINT) AS n_occ
  FROM (
    SELECT list_filter(string_split(text, ' '), x -> x <> '') AS toks
    FROM documents
  ), UNNEST(toks) AS t(term)
  GROUP BY 1
  ORDER BY n_occ DESC, term ASC
  LIMIT 1000
),
ranked AS (
  SELECT CAST(round(ln(CAST(row_number() OVER (ORDER BY n_occ DESC, term ASC)
                           AS DOUBLE)) * {LOG_SCALE}.0, 0) AS BIGINT) AS x,
         CAST(round(ln(CAST(n_occ AS DOUBLE)) * {LOG_SCALE}.0, 0) AS BIGINT) AS y
  FROM vocab
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_terms,
         CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
  FROM ranked
)
SELECT n_terms,
       (CAST(n_terms AS DOUBLE) * {_dec2d('sxy')} - {_dec2d('sx')} * {_dec2d('sy')})
         / (CAST(n_terms AS DOUBLE) * {_dec2d('sxx')} - {_dec2d('sx')} * {_dec2d('sx')})
         AS zipf_slope,
       (({_dec2d('sy')} - ((CAST(n_terms AS DOUBLE) * {_dec2d('sxy')} - {_dec2d('sx')} * {_dec2d('sy')})
         / (CAST(n_terms AS DOUBLE) * {_dec2d('sxx')} - {_dec2d('sx')} * {_dec2d('sx')})) * {_dec2d('sx')})
         / CAST(n_terms AS DOUBLE)) / {LOG_SCALE}.0 AS ln_c
FROM stats WHERE n_terms >= 2
"""

# Composed from the two knn oracles (each a complete SELECT, so they nest
# as parenthesized subqueries; DuckDB allows WITH inside them). Truth is
# the brute top-k re-cut to the ANN path's k so recall@k compares
# like-for-like.
ORACLES["ann_recall_eval"] = f"""
SELECT t.query_id,
       CAST(count(*) AS BIGINT) AS k,
       CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       {_rr("SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)", "count(*)", 4)} AS recall
FROM (SELECT query_id, neighbor_id FROM ({ORACLES["knn_brute_cosine"]}) WHERE rank <= {K_BUCKETED}) t
LEFT JOIN (SELECT query_id, neighbor_id FROM ({ORACLES["knn_lsh_bucketed"]})) a
  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
GROUP BY 1
"""

# -- content-defined chunking + dup-graph audits (r04 session 2) -------------

from inde1_spark.operators.dedup import (  # noqa: E402
    CDC_AVG_CHUNK,
    CDC_MIN_WORDS,
    CDC_TOP_K,
)

# Shared CDC chunk-table fragment (twin of operators/dedup.py:
# cdc_chunk_table). Boundary rule and chunk texts are engine-identical:
# md5 hex + space-joined token slices; the trailing WHERE is the map-side
# min-words floor.
_CDC_CHUNKS = f"""
toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
b AS (
  SELECT doc_id, toks, len(toks) AS n,
         list_concat([1], list_filter(generate_series(2, len(toks)),
           i -> (CAST(concat('0x', substr(md5(
                   list_extract(toks, i-1) || ' ' || list_extract(toks, i)
                 ), 1, 8)) AS BIGINT) % {CDC_AVG_CHUNK}) = 0)) AS bp
  FROM toks WHERE len(toks) >= 1
),
ch AS (
  SELECT doc_id,
         UNNEST(list_transform(generate_series(1, len(bp)), k ->
           struct_pack(
             nw := CAST((CASE WHEN k < len(bp) THEN list_extract(bp, k+1) - 1 ELSE n END)
                        - list_extract(bp, k) + 1 AS BIGINT),
             h := md5(array_to_string(
                    toks[list_extract(bp, k) :
                         (CASE WHEN k < len(bp) THEN list_extract(bp, k+1) - 1 ELSE n END)], ' '))
           ))) AS c
  FROM b
),
cdc AS (
  SELECT doc_id, c.nw AS n_words, c.h AS chunk_hash
  FROM ch WHERE c.nw >= {CDC_MIN_WORDS}
)
"""

# Twin of operators/dedup.py:chunk_dedup_cdc; the HAVING mirrors the
# engine's post-shuffle n_docs filter.
ORACLES["chunk_dedup_cdc"] = f"""
WITH {_CDC_CHUNKS.strip()}
SELECT chunk_hash, min(n_words) AS n_words,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       min(doc_id) AS first_doc_id
FROM cdc
GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
ORDER BY n_docs DESC, n_occurrences DESC, chunk_hash ASC LIMIT {CDC_TOP_K}
"""

# Twin of operators/dedup.py:dup_graph_transitivity over the exact-Jaccard
# edge set (the dedup_ngram_jaccard oracle nests as a subquery).
ORACLES["dup_graph_transitivity"] = f"""
WITH edges AS (SELECT doc_a, doc_b FROM ({ORACLES['dedup_ngram_jaccard']})),
deg AS (
  SELECT u, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT doc_a AS u FROM edges UNION ALL SELECT doc_b AS u FROM edges
  ) GROUP BY 1
),
ds AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(COALESCE(SUM(deg*(deg-1)), 0) AS BIGINT) AS wedges2,
         CAST(COALESCE(MAX(deg), 0) AS BIGINT) AS max_degree
  FROM deg
),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS n_triangles
  FROM edges e1 JOIN edges e2 ON e1.doc_b = e2.doc_a
       JOIN edges e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
),
ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges)
SELECT ds.n_nodes, ne.n_edges, ds.max_degree,
       CAST(ds.wedges2 // 2 AS BIGINT) AS n_wedges, tri.n_triangles,
       {_rr("tri.n_triangles * 3", "GREATEST(ds.wedges2 // 2, 1)", 6)} AS transitivity
FROM ds, tri, ne
"""

from inde1_spark.operators.similarity import (  # noqa: E402
    RP_OUT_DIMS,
    RRF_C,
    RRF_SCALE,
)

# Twin of operators/similarity.py:knn_rrf_fusion — composed from the two
# ANN oracles; contributions are exact integer divisions, so the fused
# score is a sum of at most two exact longs.
ORACLES["knn_rrf_fusion"] = f"""
WITH u AS (
  SELECT query_id, neighbor_id,
         CAST({RRF_SCALE} // ({RRF_C} + rank) AS BIGINT) AS c
  FROM ({ORACLES["knn_lsh_bucketed"]})
  UNION ALL
  SELECT query_id, neighbor_id,
         CAST({RRF_SCALE} // ({RRF_C} + rank) AS BIGINT) AS c
  FROM ({ORACLES["knn_ivf"]})
),
fused AS (
  SELECT query_id, neighbor_id,
         CAST(count(*) AS BIGINT) AS n_lists,
         CAST(SUM(c) AS BIGINT) AS rrf_scaled
  FROM u GROUP BY 1, 2
)
SELECT query_id, neighbor_id, fused_rank, n_lists,
       CAST(rrf_scaled AS DOUBLE) / {RRF_SCALE}.0 AS rrf_score
FROM (
  SELECT query_id, neighbor_id, n_lists, rrf_scaled,
         CAST(row_number() OVER (
           PARTITION BY query_id
           ORDER BY rrf_scaled DESC, n_lists DESC, neighbor_id ASC
         ) AS BIGINT) AS fused_rank
  FROM fused
) WHERE fused_rank <= {K_BUCKETED}
"""

# Twin of operators/similarity.py:embedding_random_projection. The md5-parity
# sign matrix and fixed-point sums are engine-identical; the one BIGINT cast
# before DOUBLE avoids DuckDB's non-correctly-rounded HUGEINT->double path.
ORACLES["embedding_random_projection"] = f"""
WITH fx AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {FIXED_POINT_SCALE:.1f} + 0.5) AS BIGINT)) AS fx
  FROM embeddings
),
signs AS (
  SELECT j, i,
         CASE WHEN (strpos('0123456789abcdef',
                substr(md5(CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 1)) - 1)
              % 2 = 0 THEN 1 ELSE -1 END AS s
  FROM UNNEST(generate_series(1, {RP_OUT_DIMS})) AS t(j),
       UNNEST(generate_series(1, {EMB_DIM})) AS u(i)
)
SELECT vec_id, CAST(j AS BIGINT) AS proj_dim,
       CAST(CAST(SUM(list_extract(fx, i) * s) AS BIGINT) AS DOUBLE)
         / {FIXED_POINT_SCALE:.1f} AS proj_val
FROM fx, signs GROUP BY 1, 2
"""

from inde1_spark.operators.dedup import (  # noqa: E402
    CDC_OVERLAP_MAX_DF,
    CDC_OVERLAP_THRESHOLD,
)

# Twin of operators/dedup.py:cdc_doc_overlap — the df cap applies to both
# candidate generation and scoring, same contract as the engine.
ORACLES["cdc_doc_overlap"] = f"""
WITH {_CDC_CHUNKS.strip()},
dch AS (
  SELECT doc_id, chunk_hash, CAST(min(n_words) AS BIGINT) AS n_words
  FROM cdc GROUP BY 1, 2
),
keep AS (
  SELECT chunk_hash FROM dch GROUP BY 1 HAVING count(*) <= {CDC_OVERLAP_MAX_DF}
),
capped AS (
  SELECT dch.* FROM dch JOIN keep USING (chunk_hash)
),
w AS (
  SELECT doc_id, CAST(SUM(n_words) AS BIGINT) AS w_total FROM capped GROUP BY 1
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared_chunks,
         CAST(SUM(a.n_words) AS BIGINT) AS shared_words
  FROM capped a JOIN capped b
    ON a.chunk_hash = b.chunk_hash AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared_chunks, shared_words,
       wa.w_total AS w_a, wb.w_total AS w_b,
       {_rr("shared_words", "LEAST(wa.w_total, wb.w_total)", 6)} AS containment
FROM pairs
JOIN w wa ON wa.doc_id = doc_a
JOIN w wb ON wb.doc_id = doc_b
WHERE {_rr("shared_words", "LEAST(wa.w_total, wb.w_total)", 6)} >= {CDC_OVERLAP_THRESHOLD}
"""


from inde1_spark.operators.similarity import (  # noqa: E402
    COARSE_FP,
    RP_COARSE_FACTOR,
)

# Twin of operators/similarity.py:knn_two_stage — coarse cosine over the
# md5-sign projection (floor-snapped 1e12 fixed point), exact re-rank on
# the full vectors (same _FIXED_DOT/_NORMS spelling as the other knn twins).
ORACLES["knn_two_stage"] = f"""
WITH fx AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {FIXED_POINT_SCALE:.1f} + 0.5) AS BIGINT)) AS fx
  FROM embeddings
),
signs AS (
  SELECT j, i,
         CASE WHEN (strpos('0123456789abcdef',
                substr(md5(CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 1)) - 1)
              % 2 = 0 THEN 1 ELSE -1 END AS s
  FROM UNNEST(generate_series(1, {RP_OUT_DIMS})) AS t(j),
       UNNEST(generate_series(1, {EMB_DIM})) AS u(i)
),
proj AS (
  SELECT vec_id, j,
         CAST(CAST(SUM(list_extract(fx, i) * s) AS BIGINT) AS DOUBLE)
           / {FIXED_POINT_SCALE:.1f} AS pv
  FROM fx, signs GROUP BY 1, 2
),
cn AS (
  SELECT vec_id,
         sqrt(CAST(CAST(SUM(CAST(floor(pv * pv * {COARSE_FP:.1f} + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE)
              / {COARSE_FP:.1f}) AS cnrm
  FROM proj GROUP BY 1
),
coarse AS (
  SELECT pa.vec_id AS query_id, pb.vec_id AS neighbor_id,
         CAST(CAST(SUM(CAST(floor(pa.pv * pb.pv * {COARSE_FP:.1f} + 0.5) AS BIGINT)) AS BIGINT) AS DOUBLE)
           / {COARSE_FP:.1f} AS cdot
  FROM proj pa JOIN proj pb ON pa.j = pb.j AND pa.vec_id <> pb.vec_id
  WHERE pa.vec_id < {N_QUERIES}
  GROUP BY 1, 2
),
cand AS (
  SELECT query_id, neighbor_id FROM (
    SELECT c.query_id, c.neighbor_id,
           row_number() OVER (
             PARTITION BY c.query_id
             ORDER BY ROUND(c.cdot / (na.cnrm * nb.cnrm), 6) DESC, c.neighbor_id ASC
           ) AS crn
    FROM coarse c
    JOIN cn na ON na.vec_id = c.query_id
    JOIN cn nb ON nb.vec_id = c.neighbor_id
  ) WHERE crn <= {RP_COARSE_FACTOR * K_BUCKETED}
),
{_NORMS.strip().lstrip()},
dots AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_FIXED_DOT} AS dot
  FROM cand p
  JOIN embeddings a ON a.vec_id = p.query_id
  JOIN embeddings b ON b.vec_id = p.neighbor_id,
       UNNEST(generate_series(1, {EMB_DIM})) AS u(i)
  GROUP BY 1, 2
),
scored AS (
  SELECT query_id, neighbor_id, ROUND(dot / (na.nrm * nb.nrm), 6) AS cos_sim
  FROM dots
  JOIN norms na ON na.vec_id = query_id
  JOIN norms nb ON nb.vec_id = neighbor_id
)
SELECT query_id, neighbor_id, rank, cos_sim FROM (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= {K_BUCKETED}
"""

from inde1_spark.operators.corpus import (  # noqa: E402
    TEMP_BUDGET_PCT,
    TEMP_RATE_SCALE,
)

# Twin of operators/corpus.py:mixture_temperature. sqrt is correctly
# rounded in both engines; the share arithmetic runs in HUGEINT with the
# mod-subtract floor-div spelling (positive operands, so DuckDB's
# truncating % agrees with Spark's).
ORACLES["mixture_temperature"] = f"""
WITH stats AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM documents GROUP BY 1
),
per AS (
  SELECT source, n_s,
         CAST(floor(sqrt(CAST(n_s AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS q_s
  FROM stats
),
tot AS (
  SELECT CAST(SUM(n_s) AS BIGINT) AS n_total,
         CAST(SUM(q_s) AS BIGINT) AS q_total
  FROM per
),
rated AS (
  SELECT source, n_s, n_total,
         LEAST(CAST((num - (num % den)) // den AS BIGINT),
               {TEMP_RATE_SCALE}) AS rate_ppm
  FROM (
    SELECT source, n_s, n_total,
           CAST(n_total AS HUGEINT) * q_s * {TEMP_BUDGET_PCT * TEMP_RATE_SCALE} AS num,
           CAST(q_total AS HUGEINT) * n_s * 100 AS den
    FROM per, tot
  )
),
kept AS (
  SELECT d.source, r.n_s, r.n_total, r.rate_ppm,
         CAST(SUM(CASE WHEN {_hash_bucket_sql("d.source || ':' || CAST(d.doc_id AS VARCHAR)", TEMP_RATE_SCALE)} < r.rate_ppm
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
  FROM documents d JOIN rated r USING (source)
  GROUP BY 1, 2, 3, 4
)
SELECT source, n_s AS n_total_source, rate_ppm, n_kept,
       {_rr("n_s", "n_total", 6)} AS share_before,
       {_rr("n_kept", "GREATEST(n_total, 1)", 6)} AS share_of_corpus_kept
FROM kept
"""

from inde1_spark.operators.text import HASHVEC_DIMS  # noqa: E402

# Twin of operators/text.py:hash_vectorize — dim and sign come from
# different hex ranges of the same md5; counts are exact integers, the
# norm is sqrt of an exact integer, and val/norm divides two
# engine-identical doubles.
ORACLES["hash_vectorize"] = f"""
WITH tok AS (
  SELECT doc_id, UNNEST(list_filter(string_split(text, ' '), t -> t <> '')) AS token
  FROM documents
),
mapped AS (
  SELECT doc_id,
         (CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT) % {HASHVEC_DIMS}) + 1 AS dim,
         CASE WHEN (strpos('0123456789abcdef', substr(md5(token), 9, 1)) - 1) % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM tok
),
sums AS (
  SELECT doc_id, CAST(dim AS BIGINT) AS dim, CAST(SUM(s) AS BIGINT) AS val
  FROM mapped GROUP BY 1, 2 HAVING SUM(s) <> 0
)
SELECT doc_id, dim, val,
       CAST(val AS DOUBLE)
         / sqrt(CAST(SUM(val * val) OVER (PARTITION BY doc_id) AS DOUBLE)) AS val_norm
FROM sums
"""

from inde1_spark.operators.similarity import (  # noqa: E402
    PI_MOMENT_SCALE,
    PI_V_SCALE,
    POWER_ITERS,
)

# Twin of operators/similarity.py:embedding_top_component — the power
# iteration unrolls as chained CTEs (one mat-vec + renormalize per round),
# every step snapped to exact integers exactly like the engine.
def _top_component_sql(iters: int = POWER_ITERS) -> str:
    vs = f"{PI_V_SCALE:.1f}"
    head = f"""
WITH fx AS MATERIALIZED (
  SELECT list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {PI_MOMENT_SCALE:.1f} + 0.5) AS BIGINT)) AS fx
  FROM embeddings
),
pairs AS MATERIALIZED (
  SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         SUM(CAST(fx[i] AS HUGEINT) * fx[j]) AS sxy
  FROM fx,
       UNNEST(generate_series(1, {EMB_DIM - 1})) AS u(i),
       UNNEST(generate_series(2, {EMB_DIM})) AS w(j)
  WHERE j > i
  GROUP BY 1, 2
),
dims AS MATERIALIZED (
  SELECT i AS dim, CAST(COUNT(*) AS BIGINT) AS n_d,
         SUM(CAST(fx[i] AS HUGEINT)) AS sx,
         SUM(CAST(fx[i] AS HUGEINT) * fx[i]) AS sxx
  FROM fx, UNNEST(generate_series(1, {EMB_DIM})) AS u(i)
  GROUP BY 1
),
offd AS MATERIALIZED (
  SELECT p.i, p.j,
         {_dec2d('CAST(p.n_vecs AS HUGEINT) * p.sxy - a.sx * b.sx')} AS v
  FROM pairs p JOIN dims a ON a.dim = p.i JOIN dims b ON b.dim = p.j
),
m_all AS MATERIALIZED (
  SELECT i, j, v FROM offd
  UNION ALL SELECT j AS i, i AS j, v FROM offd
  UNION ALL SELECT dim AS i, dim AS j,
         {_dec2d('CAST(n_d AS HUGEINT) * sxx - sx * sx')} AS v
  FROM dims
),
mxs AS MATERIALIZED (SELECT MAX(abs(v)) AS mx FROM m_all),
mt AS MATERIALIZED (SELECT i, j, v / mx AS m FROM m_all, mxs),
tr AS (
  SELECT MAX(n_d) AS n_vecs,
         {_dec2d('SUM(CAST(n_d AS HUGEINT) * sxx - sx * sx)')} AS trace
  FROM dims
),
v0 AS MATERIALIZED (SELECT j, CAST({int(PI_V_SCALE)} AS BIGINT) AS x
       FROM UNNEST(generate_series(1, {EMB_DIM})) AS t(j))"""
    steps = []
    prev = "v0"
    for t in range(1, iters + 1):
        steps.append(f"""
u{t} AS MATERIALIZED (
  SELECT mt.i,
         CAST(SUM(CAST(floor(mt.m * CAST({prev}.x AS DOUBLE) + 0.5) AS BIGINT)) AS BIGINT) AS u
  FROM mt JOIN {prev} ON {prev}.j = mt.j GROUP BY 1
),
n{t} AS MATERIALIZED (SELECT GREATEST(sqrt(CAST(CAST(SUM(u * u) AS BIGINT) AS DOUBLE)), 1e-12) AS ng FROM u{t}),
v{t} AS MATERIALIZED (
  SELECT i AS j, CAST(floor(CAST(u AS DOUBLE) * {vs} / ng + 0.5) AS BIGINT) AS x
  FROM u{t}, n{t}
)""")
        prev = f"v{t}"
    tail = f"""
uf AS MATERIALIZED (
  SELECT mt.i,
         CAST(SUM(CAST(floor(mt.m * CAST({prev}.x AS DOUBLE) + 0.5) AS BIGINT)) AS BIGINT) AS u
  FROM mt JOIN {prev} ON {prev}.j = mt.j GROUP BY 1
),
ray AS MATERIALIZED (
  SELECT CAST(SUM({prev}.x * uf.u) AS BIGINT) AS num,
         CAST(SUM({prev}.x * {prev}.x) AS BIGINT) AS den
  FROM {prev} JOIN uf ON uf.i = {prev}.j
),
vmax AS MATERIALIZED (SELECT MAX(abs(x)) AS vm FROM {prev}),
top AS MATERIALIZED (
  SELECT MIN(j) AS top_dim FROM {prev}, vmax WHERE abs(x) = vm
)
SELECT tr.n_vecs,
       (CAST(ray.num AS DOUBLE) / CAST(ray.den AS DOUBLE) * mxs.mx) / tr.trace AS explained_share,
       CAST(top.top_dim AS BIGINT) AS top_dim,
       CAST((SELECT x FROM {prev} WHERE j = top.top_dim) AS DOUBLE) / {vs} AS top_loading,
       CAST({iters} AS BIGINT) AS n_iters
FROM tr, ray, mxs, top
"""
    return head + "," + ",".join(steps) + "," + tail


ORACLES["embedding_top_component"] = _top_component_sql()

from inde1_spark.operators.text import DOC_KNN_K, DOC_KNN_QUERIES  # noqa: E402

# Twin of operators/text.py:doc_knn_hashed — the same sparse dim-join dot
# product over the hash_vectorize profile; exact integer dots, sqrt-of-
# integer norms.
ORACLES["doc_knn_hashed"] = f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id, UNNEST(list_filter(string_split(text, ' '), t -> t <> '')) AS token
  FROM documents
),
sums AS MATERIALIZED (
  SELECT doc_id,
         CAST((CAST(concat('0x', substr(md5(token), 1, 8)) AS BIGINT) % {HASHVEC_DIMS}) + 1 AS BIGINT) AS dim,
         CAST(SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(token), 9, 1)) - 1) % 2 = 0
                  THEN 1 ELSE -1 END) AS BIGINT) AS val
  FROM tok GROUP BY 1, 2
  HAVING SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(token), 9, 1)) - 1) % 2 = 0
             THEN 1 ELSE -1 END) <> 0
),
norms AS MATERIALIZED (
  SELECT doc_id, sqrt(CAST(CAST(SUM(val * val) AS BIGINT) AS DOUBLE)) AS nrm
  FROM sums GROUP BY 1
),
dots AS (
  SELECT a.doc_id AS query_id, b.doc_id AS neighbor_id,
         CAST(SUM(a.val * b.val) AS BIGINT) AS dot
  FROM sums a JOIN sums b ON a.dim = b.dim AND a.doc_id <> b.doc_id
  WHERE a.doc_id < {DOC_KNN_QUERIES}
  GROUP BY 1, 2
),
scored AS (
  SELECT query_id, neighbor_id,
         ROUND(CAST(dot AS DOUBLE) / (qa.nrm * nb.nrm), 6) AS cos_sim
  FROM dots
  JOIN norms qa ON qa.doc_id = query_id
  JOIN norms nb ON nb.doc_id = neighbor_id
)
SELECT query_id, neighbor_id, rank, cos_sim FROM (
  SELECT query_id, neighbor_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= {DOC_KNN_K}
"""

# Twin of operators/analytics.py:rfm_segments — histogram terciles with the
# identical inclusive-cum boundary rule; all metrics exact integers.
ORACLES["rfm_segments"] = """
WITH per AS (
  SELECT user_id,
         CAST(date_diff('day', CAST(max(ts) AS DATE),
              (SELECT CAST(max(ts) AS DATE) FROM events)) AS BIGINT) AS rec,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(floor(SUM(CAST(value AS DECIMAL(18,6)))) AS BIGINT) AS mon
  FROM events GROUP BY user_id
),
metrics AS (
  SELECT 'rec' AS name, rec AS value FROM per
  UNION ALL SELECT 'freq', freq FROM per
  UNION ALL SELECT 'mon', mon FROM per
),
hist AS (
  SELECT name, value, CAST(count(*) AS BIGINT) AS n
  FROM metrics GROUP BY 1, 2
),
marked AS (
  SELECT name, value,
         (SUM(n) OVER (PARTITION BY name ORDER BY value
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 3
          >= SUM(n) OVER (PARTITION BY name)) AS ge1,
         (SUM(n) OVER (PARTITION BY name ORDER BY value
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 3
          >= SUM(n) OVER (PARTITION BY name) * 2) AS ge2
  FROM hist
),
th AS (
  SELECT name,
         MIN(CASE WHEN ge1 THEN value END) AS t1,
         MIN(CASE WHEN ge2 THEN value END) AS t2
  FROM marked GROUP BY 1
),
th1 AS (
  SELECT MAX(CASE WHEN name = 'rec' THEN t1 END) AS rec_t1,
         MAX(CASE WHEN name = 'rec' THEN t2 END) AS rec_t2,
         MAX(CASE WHEN name = 'freq' THEN t1 END) AS freq_t1,
         MAX(CASE WHEN name = 'freq' THEN t2 END) AS freq_t2,
         MAX(CASE WHEN name = 'mon' THEN t1 END) AS mon_t1,
         MAX(CASE WHEN name = 'mon' THEN t2 END) AS mon_t2
  FROM th
),
labeled AS (
  SELECT CAST(1 + CAST(rec > rec_t1 AS INT) + CAST(rec > rec_t2 AS INT) AS BIGINT) AS r_seg,
         CAST(1 + CAST(freq > freq_t1 AS INT) + CAST(freq > freq_t2 AS INT) AS BIGINT) AS f_seg,
         CAST(1 + CAST(mon > mon_t1 AS INT) + CAST(mon > mon_t2 AS INT) AS BIGINT) AS m_seg,
         mon
  FROM per, th1
)
SELECT r_seg, f_seg, m_seg, CAST(count(*) AS BIGINT) AS n_users,
       CAST(SUM(mon) AS BIGINT) AS monetary_total
FROM labeled GROUP BY 1, 2, 3
"""

from inde1_spark.operators.analytics import LTV_MAX_WEEKS  # noqa: E402

# Twin of operators/analytics.py:cohort_ltv — exact decimal cents, bounded
# running window, exact round-half-up per-user LTV.
ORACLES["cohort_ltv"] = f"""
WITH firsts AS (
  SELECT user_id, min(date_trunc('day', ts)) AS cohort_d FROM events GROUP BY 1
),
sized AS (
  SELECT cohort_d, CAST(count(*) AS BIGINT) AS cohort_users FROM firsts GROUP BY 1
),
weekly AS (
  SELECT f.cohort_d,
         CAST(date_diff('day', f.cohort_d, date_trunc('day', e.ts)) // 7 AS BIGINT) AS week_offset,
         CAST(floor(SUM(CAST(e.value AS DECIMAL(18,6))) * 100) AS BIGINT) AS rev_cents
  FROM events e JOIN firsts f USING (user_id)
  WHERE date_diff('day', f.cohort_d, date_trunc('day', e.ts)) // 7 <= {LTV_MAX_WEEKS}
  GROUP BY 1, 2
),
cum AS (
  SELECT cohort_d, week_offset, rev_cents,
         CAST(SUM(rev_cents) OVER (PARTITION BY cohort_d ORDER BY week_offset
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
  FROM weekly
)
SELECT strftime(c.cohort_d, '%Y-%m-%d') AS cohort_day, c.week_offset, s.cohort_users,
       CAST(c.rev_cents AS DOUBLE) / 100.0 AS week_revenue,
       CAST(c.cum_cents AS DOUBLE) / 100.0 AS cum_revenue,
       {_rr("c.cum_cents", "s.cohort_users * 100", 4)} AS ltv_per_user
FROM cum c JOIN sized s USING (cohort_d)
"""

from inde1_spark.operators.analytics import BURSTINESS_MIN_EVENTS  # noqa: E402

# Twin of operators/analytics.py:user_burstiness — gaps via integer
# date_diff seconds (DuckDB epoch() is fractional), HUGEINT moments,
# digit-split conversion, clamped variance.
ORACLES["user_burstiness"] = f"""
WITH gaps AS (
  SELECT user_id,
         CAST(date_diff('second',
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts)
         AS BIGINT) AS gap_s
  FROM events
),
m AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
         SUM(CAST(gap_s AS HUGEINT)) AS sx,
         SUM(CAST(gap_s AS HUGEINT) * gap_s) AS sxx
  FROM gaps WHERE gap_s IS NOT NULL GROUP BY 1
),
s AS (
  SELECT user_id, n_gaps,
         {_dec2d('sx')} / CAST(n_gaps AS DOUBLE) AS mu,
         sqrt(GREATEST({_dec2d('CAST(n_gaps AS HUGEINT) * sxx - sx * sx')}, 0.0))
           / CAST(n_gaps AS DOUBLE) AS sigma
  FROM m
)
SELECT user_id, n_gaps,
       ROUND(mu, 6) AS mean_gap_s,
       ROUND(sigma, 6) AS sigma_gap_s,
       CASE WHEN sigma + mu > 0 THEN ROUND((sigma - mu) / (sigma + mu), 6)
            ELSE 0.0 END AS burstiness
FROM s WHERE n_gaps >= {BURSTINESS_MIN_EVENTS - 1}
"""

ORACLES["gini_token_concentration"] = """
WITH perdoc AS (
  SELECT source,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS x
  FROM documents
),
grp AS (
  SELECT source, x, CAST(count(*) AS BIGINT) AS cnt FROM perdoc GROUP BY 1, 2
),
cum AS (
  SELECT source, x, cnt,
         CAST(COALESCE(SUM(cnt) OVER (
           PARTITION BY source ORDER BY x
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS m
  FROM grp
),
agg AS (
  SELECT source,
         CAST(SUM(cnt) AS BIGINT) AS n_docs,
         SUM(CAST(x AS HUGEINT) * cnt) AS sx,
         SUM(CAST(x AS HUGEINT) * cnt * (2 * CAST(m AS HUGEINT) + cnt + 1)) AS s2
  FROM cum GROUP BY 1
)
SELECT source, n_docs, CAST(sx AS BIGINT) AS n_tokens,
       CASE WHEN sx = 0 THEN 0.0 ELSE
         CAST(CAST(((s2 - (CAST(n_docs AS HUGEINT) + 1) * sx) * 2000000
                    + CAST(n_docs AS HUGEINT) * sx)
                   // (2 * CAST(n_docs AS HUGEINT) * sx) AS BIGINT) AS DOUBLE) / 1e6
       END AS gini
FROM agg
"""

# minhash_est_jaccard: md5-hash shingle ids (engine-portable AND
# dictionary-free), the production 32-perm/8-band signature, banded
# candidates, estimated-vs-exact Jaccard in exact ppm integers.
from inde1_spark.operators.dedup import FAST_N_BANDS, FAST_N_PERM, PERMS_FAST  # noqa: E402

ORACLES["minhash_est_jaccard"] = f"""
WITH {_SHINGLES},
shid AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT)
           % {MINHASH_PRIME} AS sid
  FROM sh
),
sigs AS (
  SELECT doc_id,
         {", ".join(f"MIN(({a} * sid + {b}) % {MINHASH_PRIME}) AS mh_{pid}" for pid, a, b in PERMS_FAST)}
  FROM shid GROUP BY doc_id
),
bands AS (
  {" UNION ALL ".join(
      "SELECT doc_id, " + str(b) + " AS band, "
      + "concat_ws(',', " + ", ".join(
          f"CAST(mh_{b * (FAST_N_PERM // FAST_N_BANDS) + r} AS VARCHAR)"
          for r in range(FAST_N_PERM // FAST_N_BANDS)
      ) + ") AS sig FROM sigs"
      for b in range(FAST_N_BANDS)
  )}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
matches AS (
  SELECT c.doc_a, c.doc_b,
         CAST({" + ".join(f"(CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END)" for i in range(FAST_N_PERM))} AS BIGINT)
           AS n_match_perms
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.doc_a
  JOIN sigs sb ON sb.doc_id = c.doc_b
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
  GROUP BY 1, 2
)
SELECT m.doc_a, m.doc_b, m.n_match_perms,
       CAST(m.n_match_perms * {1_000_000 // FAST_N_PERM} AS DOUBLE) / 1e6 AS est_jaccard,
       CAST(jac_ppm AS DOUBLE) / 1e6 AS jaccard,
       CAST(abs(m.n_match_perms * {1_000_000 // FAST_N_PERM} - jac_ppm) AS DOUBLE) / 1e6 AS abs_err
FROM (
  SELECT m.doc_a, m.doc_b, m.n_match_perms,
         ((COALESCE(i.n_inter, 0) * 2000000
           + (sa.sz + sb.sz - COALESCE(i.n_inter, 0)))
          // (2 * (sa.sz + sb.sz - COALESCE(i.n_inter, 0)))) AS jac_ppm
  FROM matches m
  LEFT JOIN inter i ON i.doc_a = m.doc_a AND i.doc_b = m.doc_b
  JOIN sizes sa ON sa.doc_id = m.doc_a
  JOIN sizes sb ON sb.doc_id = m.doc_b
) m
"""

# embedding_isotropy: staged exact-integer isotropy ratios; every floor
# stage (1e15 linear grid, 1e12 squared grid, /n, /1e12, /1e18) mirrors the
# Spark operator digit-for-digit. The per-dim sum s CAN be negative: both
# engines compute (s - s % n) / n where % truncates identically, and the
# numerator is exactly divisible, so // returns the same truncated quotient
# on both sides regardless of sign (the non-divisible-negative floor/trunc
# asymmetry the _dec2d docstring warns about never arises here).
ORACLES["embedding_isotropy"] = f"""
WITH base AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1e15 + 0.5) AS BIGINT)) AS fx,
         list_sum(list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1e12 + 0.5)
                AS BIGINT))) AS q
  FROM embeddings
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_vecs,
         SUM(CAST(q AS HUGEINT)) AS qsum
  FROM base
),
dims AS (
  SELECT i AS dim, SUM(CAST(fx[i] AS HUGEINT)) AS s
  FROM base, UNNEST(generate_series(1, {EMB_DIM})) AS u(i)
  GROUP BY 1
),
mm AS (
  SELECT SUM(((s - (s % t.n_vecs)) // t.n_vecs)
             * ((s - (s % t.n_vecs)) // t.n_vecs)) AS mm,
         MAX(t.n_vecs) AS n_vecs, MAX(t.qsum) AS qsum
  FROM dims, tot t
)
SELECT n_vecs,
       CAST(((qsum * 2000000 + CAST(n_vecs AS HUGEINT) * 1000000000000)
             // (2 * CAST(n_vecs AS HUGEINT) * 1000000000000)) AS DOUBLE) / 1e6
         AS mean_sq_norm,
       CAST((((mm // 1000000000000) * 2000000 + 1000000000000000000)
             // (CAST(2 AS HUGEINT) * 1000000000000000000)) AS DOUBLE) / 1e6
         AS sq_norm_of_mean,
       CAST((((mm // 1000000000000000000) * 2000000 + (qsum // n_vecs))
             // (2 * (qsum // n_vecs))) AS DOUBLE) / 1e6
         AS isotropy
FROM mm
"""

# knn_pq: deterministic seeded codebooks (lowest vec_ids), per-subspace
# argmin codes (tie -> lower centroid), asymmetric-distance scan. The
# per-(vector, subspace, centroid) distance table vd serves BOTH encoding
# (argmin per vector) and the query-side lookup, exactly like the Spark
# operator's shared d2 spelling.
from inde1_spark.operators.similarity import N_QUERIES as _PQ_NQ  # noqa: E402
from inde1_spark.operators.similarity import PQ_K, PQ_M  # noqa: E402
from inde1_spark.operators.similarity import K_BUCKETED as _PQ_K_OUT  # noqa: E402

_PQ_SUBDIM = EMB_DIM // PQ_M
ORACLES["knn_pq"] = f"""
WITH seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS c,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {PQ_K})
),
vd AS (
  SELECT e.vec_id, m.m, s.c,
         SUM(CAST(floor((CAST(e.embedding[m.m * {_PQ_SUBDIM} + u.j] AS DOUBLE)
                         - s.cvec[m.m * {_PQ_SUBDIM} + u.j])
                        * (CAST(e.embedding[m.m * {_PQ_SUBDIM} + u.j] AS DOUBLE)
                           - s.cvec[m.m * {_PQ_SUBDIM} + u.j])
                        * 1e12 + 0.5) AS BIGINT)) AS d
  FROM embeddings e,
       (SELECT i - 1 AS m FROM UNNEST(generate_series(1, {PQ_M})) AS t(i)) m,
       seeds s,
       UNNEST(generate_series(1, {_PQ_SUBDIM})) AS u(j)
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, m, c FROM (
    SELECT vec_id, m, c,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d, c) AS rn
    FROM vd
  ) WHERE rn = 1
),
est AS (
  SELECT qd.vec_id AS query_id, n.vec_id AS neighbor_id, SUM(qd.d) AS est
  FROM codes n
  JOIN vd qd ON qd.m = n.m AND qd.c = n.c
  WHERE qd.vec_id < {_PQ_NQ} AND qd.vec_id <> n.vec_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       CAST(est AS DOUBLE) / 1e12 AS est_sq_dist
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY est, neighbor_id) AS rank
      FROM est)
WHERE rank <= {_PQ_K_OUT}
"""

# dup_cluster_histogram: the dedup_clusters recursive-CTE machinery plus a
# size histogram and the singleton (never-duplicated) row.
ORACLES["dup_cluster_histogram"] = f"""
WITH RECURSIVE {_SHINGLES.strip().rstrip()},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS ({_jaccard_from_inter(JACCARD_THRESHOLD)}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach(doc_id, anc) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v, r.anc FROM reach r JOIN edges e ON e.u = r.doc_id
),
lab AS (SELECT doc_id, min(anc) AS cluster_id FROM reach GROUP BY 1),
csizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size FROM lab GROUP BY 1),
hist AS (
  SELECT cluster_size,
         CAST(count(*) AS BIGINT) AS n_clusters,
         CAST(SUM(cluster_size) AS BIGINT) AS n_docs
  FROM csizes GROUP BY 1
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
incl AS (SELECT CAST(count(*) AS BIGINT) AS n_in FROM lab)
SELECT * FROM hist
UNION ALL
SELECT CAST(1 AS BIGINT), n_total - n_in, n_total - n_in
FROM tot, incl WHERE n_total - n_in > 0
"""

ORACLES["ttr_profile"] = """
WITH per AS (
  SELECT source,
         CAST(len(toks) AS BIGINT) AS n_toks,
         CAST(len(list_distinct(toks)) AS BIGINT) AS n_types
  FROM (SELECT source, list_filter(string_split(text, ' '), t -> t <> '') AS toks
        FROM documents)
  WHERE len(toks) > 0
),
ppm AS (
  SELECT source, ((n_types * 2000000 + n_toks) // (2 * n_toks)) AS ttr_ppm
  FROM per
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(((SUM(ttr_ppm) * 2 + count(*)) // (2 * count(*))) AS DOUBLE) / 1e6
         AS mean_ttr,
       CAST(MIN(ttr_ppm) AS DOUBLE) / 1e6 AS min_ttr,
       CAST(MAX(ttr_ppm) AS DOUBLE) / 1e6 AS max_ttr
FROM ppm GROUP BY 1
"""

ORACLES["cdc_chunk_stats"] = f"""
WITH {_CDC_CHUNKS.strip()}
SELECT CAST(n_words AS BIGINT) AS n_words,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(DISTINCT chunk_hash) AS BIGINT) AS n_distinct_chunks,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM cdc GROUP BY 1
"""

from inde1_spark.operators.scoring import COVERAGE_CUTOFFS  # noqa: E402

_COV_CUTS = ", ".join(str(c) for c in COVERAGE_CUTOFFS)
ORACLES["vocab_coverage_curve"] = f"""
WITH vocab AS (
  SELECT tok AS term, CAST(count(*) AS BIGINT) AS n_occ
  FROM (SELECT list_filter(string_split(text, ' '), t -> t <> '') AS toks
        FROM documents), UNNEST(toks) AS u(tok)
  GROUP BY 1
),
total AS (SELECT CAST(SUM(n_occ) AS BIGINT) AS total_toks FROM vocab),
top AS (
  SELECT n_occ, row_number() OVER (ORDER BY n_occ DESC, term ASC) AS rank_cutoff
  FROM vocab ORDER BY n_occ DESC, term ASC LIMIT {max(COVERAGE_CUTOFFS)}
),
ranked AS (
  SELECT CAST(rank_cutoff AS BIGINT) AS rank_cutoff,
         CAST(SUM(n_occ) OVER (ORDER BY rank_cutoff
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS covered_toks
  FROM top
)
SELECT rank_cutoff, covered_toks, total_toks,
       {_rr("covered_toks", "total_toks", 6)} AS coverage
FROM ranked, total
WHERE rank_cutoff IN ({_COV_CUTS})
"""

from inde1_spark.operators.analytics import MERGE_TARGET_MIN, MERGE_UPDATE_PCT  # noqa: E402

ORACLES["merge_upsert"] = f"""
WITH target AS (
  SELECT doc_id, text AS text_old FROM documents
  WHERE {_hash_bucket_sql("doc_id", 100)} >= {MERGE_TARGET_MIN}
),
feed AS (
  SELECT doc_id, text || ' [rev]' AS text_new FROM documents
  WHERE {_hash_bucket_sql("doc_id", 100)} < {MERGE_UPDATE_PCT}
),
merged AS (
  SELECT COALESCE(t.doc_id, f.doc_id) AS doc_id, t.text_old, f.text_new
  FROM target t FULL OUTER JOIN feed f USING (doc_id)
)
SELECT doc_id,
       CASE WHEN text_old IS NULL THEN 'insert'
            WHEN text_new IS NULL THEN 'keep'
            ELSE 'update' END AS op,
       CAST(length(COALESCE(text_new, text_old)) AS BIGINT) AS n_chars_merged,
       md5(COALESCE(text_new, text_old)) AS content_md5
FROM merged
"""

ORACLES["scd2_intervals"] = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type AS attr,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
ver AS (
  SELECT user_id, ts, attr,
         CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS version
  FROM flagged
),
iv AS (
  SELECT user_id, version, min(ts) AS from_ts,
         CAST(count(*) AS BIGINT) AS n_events, min(attr) AS attr
  FROM ver GROUP BY 1, 2
)
SELECT user_id, version, attr, n_events,
       strftime(from_ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(lead(from_ts) OVER (PARTITION BY user_id ORDER BY version),
                '%Y-%m-%d %H:%M:%S') AS valid_to
FROM iv
"""

ORACLES["scd2_asof_enrich"] = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type AS attr,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
ver AS (
  SELECT user_id, ts, attr,
         CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS version
  FROM flagged
),
iv0 AS (
  SELECT user_id, version, min(ts) AS from_ts, min(attr) AS attr
  FROM ver GROUP BY 1, 2
),
iv AS (
  SELECT user_id, attr,
         strftime(from_ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
         strftime(lead(from_ts) OVER (PARTITION BY user_id ORDER BY version),
                  '%Y-%m-%d %H:%M:%S') AS valid_to
  FROM iv0
),
ev AS (
  SELECT event_id, user_id, event_type AS type_at_event,
         strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
  FROM events
),
joined AS (
  SELECT ev.user_id, iv.attr, ev.type_at_event, ev.ts_str
  FROM ev JOIN iv ON ev.user_id = iv.user_id
  WHERE ev.ts_str >= iv.valid_from
    AND (iv.valid_to IS NULL OR ev.ts_str < iv.valid_to)
)
SELECT user_id, attr AS attr_at_event,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN attr = type_at_event THEN 1 ELSE 0 END) AS BIGINT)
         AS n_consistent,
       min(ts_str) AS first_ts, max(ts_str) AS last_ts
FROM joined GROUP BY 1, 2
"""

# salted_group_count merges salted partials back to the IDENTICAL
# aggregate, so it shares the plain group_count oracle: the hash gate
# proves the salt-and-merge spelling loses nothing.
ORACLES["salted_group_count"] = ORACLES["group_count"]


def _bpe_ctes() -> tuple[list, list]:
    """Shared CTE chain for the BPE twins: v0 (word vocab + char symbols)
    then per round the pair counts, the argmax and the rewritten vocab."""
    from inde1_spark.operators.text import BPE_LEARN_ROUNDS

    d = "chr(31)"
    ctes = [
        f"""v0 AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq,
         {d} || array_to_string(regexp_extract_all(w, '.'), chr(31)) || {d} AS sym
  FROM (SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS w
        FROM documents)
  GROUP BY w
)"""
    ]
    rounds = list(range(1, BPE_LEARN_ROUNDS + 1))
    for r in rounds:
        prev = f"v{r - 1}"
        ctes.append(f"""c{r} AS (
  SELECT p, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
    SELECT freq, unnest(list_transform(generate_series(1, len(a) - 1),
             i -> list_extract(a, i) || {d} || list_extract(a, i + 1))) AS p
    FROM (SELECT freq, list_filter(string_split(sym, chr(31)), s -> s <> '') AS a
          FROM {prev})
  ) GROUP BY 1
)""")
        ctes.append(
            f"b{r} AS (SELECT p, cnt FROM c{r} ORDER BY cnt DESC, p DESC LIMIT 1)"
        )
        ctes.append(f"""v{r} AS (
  SELECT w, freq,
         replace(replace(sym, {d} || b.p || {d}, {d} || replace(b.p, chr(31), '') || {d}),
                 {d} || b.p || {d}, {d} || replace(b.p, chr(31), '') || {d}) AS sym
  FROM {prev}, b{r} b
)""")
    selects = [
        f"""SELECT CAST({r} AS BIGINT) AS round,
       string_split(p, chr(31))[1] AS left_sym,
       string_split(p, chr(31))[2] AS right_sym,
       replace(p, chr(31), '') AS merged,
       cnt AS weighted_count
FROM b{r}"""
        for r in rounds
    ]
    return ctes, selects


def _bpe_merges_sql() -> str:
    """DuckDB twin of text.bpe_learn_merges: the merge-learning trajectory
    unrolled CTE-for-CTE (argmax ORDER BY cnt DESC, pair DESC LIMIT 1 ==
    Spark's struct-max; the double fenced replace mirrors exactly)."""
    ctes, selects = _bpe_ctes()
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


def _bpe_apply_sql() -> str:
    """DuckDB twin of text.bpe_apply: segment every token by joining the
    FINAL vocabulary of the shared chain; per-doc counts + exact ratio."""
    from inde1_spark.operators.text import BPE_LEARN_ROUNDS

    ctes, _ = _bpe_ctes()
    final = f"v{BPE_LEARN_ROUNDS}"
    return (
        "WITH " + ",\n".join(ctes) + f"""
, seg AS (
  SELECT w, CAST(len(list_filter(string_split(sym, chr(31)), s -> s <> ''))
           AS BIGINT) AS n_sub
  FROM {final}
),
ex AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS w
  FROM documents
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         CAST(SUM(n_sub) AS BIGINT) AS n_subwords
  FROM ex JOIN seg USING (w) GROUP BY 1
)
SELECT doc_id, n_words, n_subwords,
       {{rr}} AS fertility
FROM agg""".format(rr=_rr("n_subwords", "n_words", 6))
    )


ORACLES["bpe_learn_merges"] = _bpe_merges_sql()
ORACLES["bpe_apply"] = _bpe_apply_sql()


# ann_paths_recall: every ANN oracle joined against the brute-cosine truth
# at one k — method rows union'd, exact integer recall.
def _ann_paths_recall_sql() -> str:
    k = K_BUCKETED
    truth = f"(SELECT query_id, neighbor_id FROM ({ORACLES['knn_brute_cosine']}) WHERE rank <= {k})"
    methods = [
        ("ivf", ORACLES["knn_ivf"]),
        ("lsh_bucketed", ORACLES["knn_lsh_bucketed"]),
        ("pq", ORACLES["knn_pq"]),
        ("two_stage", ORACLES["knn_two_stage"]),
    ]
    rows = []
    for name, sql in methods:
        rows.append(f"""
SELECT '{name}' AS method, CAST({k} AS BIGINT) AS k,
       CAST((SELECT count(*) FROM {truth} t
             JOIN ({sql}) m ON m.query_id = t.query_id
                           AND m.neighbor_id = t.neighbor_id) AS BIGINT) AS hits,
       CAST((SELECT count(*) FROM {truth}) AS BIGINT) AS total,
       {_rr(f"(SELECT count(*) FROM {truth} t JOIN ({sql}) m ON m.query_id = t.query_id AND m.neighbor_id = t.neighbor_id)", f"(SELECT count(*) FROM {truth})", 4)} AS recall""")
    return "\nUNION ALL\n".join(rows)


ORACLES["ann_paths_recall"] = _ann_paths_recall_sql()


from inde1_spark.operators.analytics import KANON_THRESHOLDS  # noqa: E402


def _kanonymity_sql() -> str:
    rows = []
    for k in KANON_THRESHOLDS:
        rows.append(f"""
SELECT CAST({k} AS BIGINT) AS k,
       CAST(count(*) FILTER (WHERE class_size < {k}) AS BIGINT) AS n_classes_below,
       CAST(COALESCE(SUM(class_size) FILTER (WHERE class_size < {k}), 0) AS BIGINT)
         AS n_rows_below,
       CAST(SUM(class_size) AS BIGINT) AS n_rows,
       {_rr(f"COALESCE(SUM(class_size) FILTER (WHERE class_size < {k}), 0)", "SUM(class_size)", 6)}
         AS share_rows_below
FROM qi""")
    return (
        """WITH qi AS (
  SELECT event_type, CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
         CAST(floor(value / 10.0) AS BIGINT) AS value_bucket,
         CAST(count(*) AS BIGINT) AS class_size
  FROM events GROUP BY 1, 2, 3
)"""
        + "\nUNION ALL\n".join(rows)
    )


ORACLES["kanonymity_audit"] = _kanonymity_sql()


from inde1_spark.operators.analytics import LDIV_THRESHOLDS  # noqa: E402


def _ldiversity_sql() -> str:
    rows = []
    for l_thr in LDIV_THRESHOLDS:
        rows.append(f"""
SELECT CAST({l_thr} AS BIGINT) AS l,
       CAST(count(*) FILTER (WHERE n_sensitive < {l_thr}) AS BIGINT) AS n_classes_below,
       CAST(COALESCE(SUM(class_size) FILTER (WHERE n_sensitive < {l_thr}), 0) AS BIGINT)
         AS n_rows_below,
       CAST(SUM(class_size) AS BIGINT) AS n_rows,
       {_rr(f"COALESCE(SUM(class_size) FILTER (WHERE n_sensitive < {l_thr}), 0)", "SUM(class_size)", 6)}
         AS share_rows_below
FROM qi""")
    return (
        """WITH qi AS (
  SELECT event_type, CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
         CAST(floor(value / 10.0) AS BIGINT) AS value_bucket,
         CAST(count(*) AS BIGINT) AS class_size,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_sensitive
  FROM events GROUP BY 1, 2, 3
)"""
        + "\nUNION ALL\n".join(rows)
    )


ORACLES["ldiversity_audit"] = _ldiversity_sql()


# cross_source_dup_matrix: the exact-Jaccard pair oracle labeled by source
# on both sides, rolled up per source pair with an exact ppm mean.
ORACLES["cross_source_dup_matrix"] = f"""
WITH {_SHINGLES.strip()},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS ({_jaccard_from_inter(JACCARD_THRESHOLD)}),
labeled AS (
  SELECT p.doc_a, p.doc_b, sa.source AS source_a, sb.source AS source_b,
         CAST(floor(p.jaccard * 1e6 + 0.5) AS BIGINT) AS jac_ppm
  FROM pairs p
  JOIN documents sa ON sa.doc_id = p.doc_a
  JOIN documents sb ON sb.doc_id = p.doc_b
)
SELECT source_a, source_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT doc_a) AS BIGINT) AS n_docs_a,
       CAST(count(DISTINCT doc_b) AS BIGINT) AS n_docs_b,
       {_rr("SUM(jac_ppm)", "count(*) * 1000000", 6)} AS mean_jaccard
FROM labeled GROUP BY 1, 2
"""


# cluster_separation: fixed-point centroids (knn_ivf oracle's cent CTE),
# row-summed member scatter, pairwise centroid distances, DB-style
# squared-space ratio — all exact integers.
ORACLES["cluster_separation"] = f"""
WITH cent AS (
  SELECT label, i,
         {_FIXED_SUM('CAST(embedding[i] AS DOUBLE)')} / COUNT(*) AS cv
  FROM embeddings, UNNEST(generate_series(1, {EMB_DIM})) AS u(i)
  GROUP BY label, i
),
member_d AS (
  SELECT e.vec_id, e.label,
         SUM(CAST(floor((CAST(e.embedding[c.i] AS DOUBLE) - c.cv)
                        * (CAST(e.embedding[c.i] AS DOUBLE) - c.cv)
                        * 1e12 + 0.5) AS BIGINT)) AS d
  FROM embeddings e JOIN cent c ON c.label = e.label
  GROUP BY 1, 2
),
scatter AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_members,
         CAST((2 * SUM(CAST(d AS HUGEINT)) + count(*))
              // (2 * CAST(count(*) AS HUGEINT)) AS BIGINT) AS msd
  FROM member_d GROUP BY 1
),
cd AS (
  SELECT a.label AS la, b.label AS lb,
         SUM(CAST(floor((a.cv - b.cv) * (a.cv - b.cv) * 1e12 + 0.5) AS BIGINT)) AS d2
  FROM cent a JOIN cent b ON a.i = b.i AND a.label <> b.label
  GROUP BY 1, 2
),
nearest AS (
  SELECT la AS label, lb AS nearest_label, d2 AS d2_nearest FROM (
    SELECT la, lb, d2,
           row_number() OVER (PARTITION BY la ORDER BY d2, lb) AS rn
    FROM cd
  ) WHERE rn = 1
)
SELECT s.label, s.n_members,
       CAST(s.msd AS DOUBLE) / 1e12 AS mean_sq_dist,
       n.nearest_label,
       CAST(n.d2_nearest AS DOUBLE) / 1e12 AS nearest_sq_dist,
       {_rr("s.msd + sb.msd", "GREATEST(n.d2_nearest, 1)", 6)} AS sep_ratio
FROM scatter s
JOIN nearest n ON n.label = s.label
JOIN scatter sb ON sb.label = n.nearest_label
"""


ORACLES["tcloseness_audit"] = """
WITH cell AS (
  SELECT event_type, CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hod,
         CAST(floor(value / 10.0) AS BIGINT) AS v,
         CAST(count(*) AS BIGINT) AS n_cv
  FROM events GROUP BY 1, 2, 3
),
cls AS (SELECT event_type, hod, CAST(SUM(n_cv) AS BIGINT) AS n_c
        FROM cell GROUP BY 1, 2),
glob_v AS (SELECT v, CAST(SUM(n_cv) AS BIGINT) AS n_v FROM cell GROUP BY 1),
total AS (SELECT CAST(SUM(n_cv) AS BIGINT) AS n_total FROM cell),
grid AS (
  SELECT c.event_type, c.hod, c.n_c, g.v, g.n_v,
         COALESCE(cc.n_cv, 0) AS n_cv, t.n_total
  FROM cls c CROSS JOIN glob_v g
  LEFT JOIN cell cc ON cc.event_type = c.event_type AND cc.hod = c.hod
                   AND cc.v = g.v
  CROSS JOIN total t
),
per_class AS (
  SELECT event_type, hod, MAX(n_c) AS n_rows,
         SUM(abs(CAST(n_cv AS HUGEINT) * n_total
                 - CAST(n_v AS HUGEINT) * n_c)) AS tv_num,
         MAX(n_total) AS nt
  FROM grid GROUP BY 1, 2
)
SELECT event_type, hod, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(CAST((tv_num * 1000000 * 2 + CAST(n_rows AS HUGEINT) * 2 * nt)
            // (CAST(n_rows AS HUGEINT) * 2 * nt * 2) AS BIGINT) AS DOUBLE) / 1e6
         AS t_closeness
FROM per_class
"""


from inde1_spark.operators.analytics import _POISSON_CUTS, BOOT_REPLICATES  # noqa: E402

_PW = " + ".join(
    f"(CASE WHEN u >= {c} THEN 1 ELSE 0 END)" for c in _POISSON_CUTS
)
ORACLES["bootstrap_mean_ci"] = f"""
WITH ex AS (
  SELECT event_id,
         CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS xi,
         r.rep
  FROM events,
       (SELECT i - 1 AS rep
        FROM UNNEST(generate_series(1, {BOOT_REPLICATES})) AS t(i)) r
),
wt AS (
  SELECT rep, xi,
         CAST({_PW} AS BIGINT) AS w
  FROM (SELECT rep, xi,
               CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR) || '_' ||
                    CAST(rep AS VARCHAR)), 1, 8)) AS BIGINT) AS u
        FROM ex)
),
agg AS (
  SELECT rep, CAST(SUM(w) AS BIGINT) AS n_eff,
         SUM(CAST(w AS HUGEINT) * xi) AS swx
  FROM wt GROUP BY 1 HAVING SUM(w) > 0
)
SELECT CAST(rep AS BIGINT) AS rep, n_eff,
       -- mod-subtract spelling: DuckDB's bare // FLOORS while the Spark
       -- twin's decimal (a - a%b)/b TRUNCATES; they only agree when the
       -- remainder is removed first (negative means would otherwise flip)
       CAST(CAST(((swx * 2 + n_eff) - ((swx * 2 + n_eff) % (CAST(n_eff AS HUGEINT) * 2)))
                 // (CAST(n_eff AS HUGEINT) * 2) AS BIGINT)
            AS DOUBLE) / 1e6 AS mean_value
FROM agg
"""


# seasonal_decompose: centered-7 trend + dow seasonal + residual, all on
# the micro grid. DuckDB EXTRACT(dow) is 0-based Sunday while Spark's
# dayofweek is 1-based Sunday — the +1 aligns them. det sums can be
# negative: trunc-division via the mod-subtract spelling on both sides.
ORACLES["seasonal_decompose"] = """
WITH daily AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) * 1e6 + 0.5)
              AS BIGINT) AS v_micro
  FROM events GROUP BY 1
),
w AS (
  SELECT day, v_micro,
         COUNT(*) OVER win AS n_win,
         CAST(SUM(v_micro) OVER win AS HUGEINT) AS s_win
  FROM daily
  WINDOW win AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
det AS (
  SELECT day, v_micro,
         CAST(((s_win * 2 + 7) - ((s_win * 2 + 7) % 14)) // 14 AS BIGINT)
           AS trend_micro,
         v_micro - CAST(((s_win * 2 + 7) - ((s_win * 2 + 7) % 14)) // 14 AS BIGINT)
           AS det_micro,
         CAST(EXTRACT(dow FROM CAST(day AS DATE)) + 1 AS BIGINT) AS dow
  FROM w WHERE n_win = 7
),
seas AS (
  SELECT *,
         CAST(SUM(CAST(det_micro AS HUGEINT)) OVER (PARTITION BY dow) AS HUGEINT) AS sd,
         CAST(COUNT(*) OVER (PARTITION BY dow) AS HUGEINT) AS cd
  FROM det
)
SELECT day, dow,
       CAST(v_micro AS DOUBLE) / 1e6 AS value,
       CAST(trend_micro AS DOUBLE) / 1e6 AS trend,
       CAST(CAST(((sd * 2 + cd) - ((sd * 2 + cd) % (cd * 2))) // (cd * 2) AS BIGINT)
            AS DOUBLE) / 1e6 AS seasonal,
       CAST(det_micro
            - CAST(((sd * 2 + cd) - ((sd * 2 + cd) % (cd * 2))) // (cd * 2) AS BIGINT)
            AS DOUBLE) / 1e6 AS residual
FROM seas
"""


# value_drift_psi: micro-snapped ratio-of-longs logs (never a >2^53
# product inside a double cast), exact decimal per-bucket contributions.
ORACLES["value_drift_psi"] = """
WITH rng AS (
  SELECT CAST(EXTRACT(epoch FROM MIN(ts)) AS BIGINT) AS t0,
         CAST(EXTRACT(epoch FROM MAX(ts)) AS BIGINT) AS t1
  FROM events
),
cells AS (
  SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bucket,
         CAST(SUM(CASE WHEN CAST(EXTRACT(epoch FROM ts) AS BIGINT)
                            < r.t0 + (r.t1 - r.t0) // 2 THEN 1 ELSE 0 END)
              AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN CAST(EXTRACT(epoch FROM ts) AS BIGINT)
                            >= r.t0 + (r.t1 - r.t0) // 2 THEN 1 ELSE 0 END)
              AS BIGINT) AS n2
  FROM events, rng r GROUP BY 1, 2
),
sm AS (
  SELECT event_type, bucket, n1, n2, n1 + 1 AS n1s, n2 + 1 AS n2s,
         CAST(SUM(n1 + 1) OVER (PARTITION BY event_type) AS BIGINT) AS t1s,
         CAST(SUM(n2 + 1) OVER (PARTITION BY event_type) AS BIGINT) AS t2s
  FROM cells
),
contrib AS (
  SELECT event_type, n1, n2,
         (CAST(round(ln(CAST(n1s AS DOUBLE) / CAST(n2s AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
          + CAST(round(ln(CAST(t2s AS DOUBLE) / CAST(t1s AS DOUBLE)) * 1000000.0, 0) AS BIGINT))
           AS lmicro,
         CAST(n1s AS HUGEINT) * t2s - CAST(n2s AS HUGEINT) * t1s AS diff,
         CAST(t1s AS HUGEINT) * t2s * 1000000 AS den
  FROM sm
),
cm AS (
  SELECT event_type, n1, n2,
         CAST(((diff * lmicro * 1000 * 2 + den)
               - ((diff * lmicro * 1000 * 2 + den) % (den * 2)))
              // (den * 2) AS BIGINT) AS c_nano
  FROM contrib
)
SELECT event_type,
       CAST(SUM(n1) AS BIGINT) AS n_first,
       CAST(SUM(n2) AS BIGINT) AS n_second,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(SUM(c_nano) AS DOUBLE) / 1e9 AS psi
FROM cm GROUP BY 1
"""


# modality_agreement: the two retrieval oracles joined per query over the
# shared query range; zero-overlap queries survive via the spine.
def _modality_agreement_sql() -> str:
    from inde1_spark.operators.text import DOC_KNN_K, DOC_KNN_QUERIES

    t = f"(SELECT query_id, neighbor_id FROM ({ORACLES['doc_knn_hashed']}))"
    e = (
        f"(SELECT query_id, neighbor_id FROM ({ORACLES['knn_lsh_bucketed']})"
        f" WHERE query_id < {DOC_KNN_QUERIES})"
    )
    return f"""
WITH t AS {t},
e AS {e},
spine AS (SELECT DISTINCT query_id FROM (SELECT query_id FROM t
          UNION ALL SELECT query_id FROM e)),
nt AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_text FROM t GROUP BY 1),
ne AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_emb FROM e GROUP BY 1),
na AS (SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_agree
       FROM t JOIN e ON e.query_id = t.query_id
                    AND e.neighbor_id = t.neighbor_id
       GROUP BY 1)
SELECT s.query_id,
       COALESCE(nt.n_text, 0) AS n_text,
       COALESCE(ne.n_emb, 0) AS n_emb,
       COALESCE(na.n_agree, 0) AS n_agree,
       {_rr("COALESCE(na.n_agree, 0)", str(DOC_KNN_K), 4)} AS agreement
FROM spine s
LEFT JOIN nt ON nt.query_id = s.query_id
LEFT JOIN ne ON ne.query_id = s.query_id
LEFT JOIN na ON na.query_id = s.query_id
"""


ORACLES["modality_agreement"] = _modality_agreement_sql()


from inde1_spark.operators.analytics import (  # noqa: E402
    CMS_ROWS,
    CMS_TOP_K,
    CMS_WIDTH,
)

# Twin of operators/analytics.py:heavy_hitters_cms — same md5 bucket
# arithmetic, exact long counters, so the sketch ESTIMATE (not just the
# ground truth) matches bit-for-bit; the Markov-bound boolean is
# deterministic data on both sides.
ORACLES["heavy_hitters_cms"] = f"""
WITH keyed AS (
  SELECT {_DAY} AS day, CAST(user_id AS VARCHAR) AS key, user_id
  FROM events
),
hashed AS (
  SELECT day, r,
         CAST(concat('0x', substr(md5(concat(r, ':', key)), 1, 8)) AS BIGINT)
           % {CMS_WIDTH} AS bucket
  FROM keyed, UNNEST(generate_series(0, {CMS_ROWS - 1})) AS u(r)
),
daily AS (
  SELECT day, r, bucket, COUNT(*) AS c FROM hashed GROUP BY 1, 2, 3
),
merged AS (
  SELECT r, bucket, CAST(SUM(c) AS BIGINT) AS counter FROM daily GROUP BY 1, 2
),
exact AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM events GROUP BY 1
),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM events),
topk AS (
  SELECT user_id, exact_cnt FROM exact
  ORDER BY exact_cnt DESC, user_id ASC LIMIT {CMS_TOP_K}
),
probes AS (
  SELECT t.user_id, t.exact_cnt, r,
         CAST(concat('0x', substr(md5(concat(r, ':', CAST(t.user_id AS VARCHAR))), 1, 8)) AS BIGINT)
           % {CMS_WIDTH} AS bucket
  FROM topk t, UNNEST(generate_series(0, {CMS_ROWS - 1})) AS u(r)
),
est AS (
  SELECT p.user_id, p.exact_cnt, MIN(m.counter) AS cms_est
  FROM probes p JOIN merged m ON m.r = p.r AND m.bucket = p.bucket
  GROUP BY 1, 2
)
SELECT e.user_id, e.exact_cnt, e.cms_est,
       e.cms_est - e.exact_cnt AS overcount,
       (e.cms_est - e.exact_cnt) * {CMS_WIDTH} <= 2 * t.n_total
         AS within_markov_bound
FROM est e, total t
"""


from inde1_spark.operators.joins import BLOOM_BITS, BLOOM_HASHES  # noqa: E402

# Twin of operators/joins.py:bloom_prefilter_join — identical md5 bit
# indexes and 32-bit word masks, so the filter contents, the pass set,
# and the measured FPR all match bit-for-bit. The oracle spells the
# probe as an explode + word join (value-correct, not scale-shaped).
def _bloom_audit_sql(m_bits: int, n_hashes: int) -> str:
    """Parameterized twin of operators/joins.py:bloom_prefilter_join —
    shared by the default-config oracle and the parameter sweep."""
    return f"""
WITH keys AS (SELECT c_custkey AS key FROM customer WHERE c_acctbal < 0),
hashed AS (
  SELECT CAST(concat('0x', substr(md5(concat(j, ':', CAST(key AS VARCHAR))), 1, 8)) AS BIGINT)
           % {m_bits} AS idx
  FROM keys, UNNEST(generate_series(0, {n_hashes - 1})) AS u(j)
),
words AS (
  SELECT idx // 32 AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(idx % 32 AS INT)) AS bits
  FROM hashed GROUP BY 1
),
build AS (SELECT CAST(SUM(bit_count(bits)) AS BIGINT) AS bits_set FROM words),
nk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys FROM keys),
probe AS (
  SELECT o.o_orderkey AS rid, o.o_custkey AS pkey,
         (k.key IS NOT NULL) AS matched
  FROM orders o LEFT JOIN keys k ON k.key = o.o_custkey
),
ph AS (
  SELECT rid, matched,
         CAST(concat('0x', substr(md5(concat(j, ':', CAST(pkey AS VARCHAR))), 1, 8)) AS BIGINT)
           % {m_bits} AS idx
  FROM probe, UNNEST(generate_series(0, {n_hashes - 1})) AS u(j)
),
pm AS (
  SELECT ph.rid, ph.matched,
         CAST(COUNT(*) FILTER (WHERE
           (COALESCE(w.bits, 0) & (CAST(1 AS BIGINT) << CAST(ph.idx % 32 AS INT))) <> 0
         ) AS BIGINT) AS nhits
  FROM ph LEFT JOIN words w ON w.word = ph.idx // 32
  GROUP BY 1, 2
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_probe,
         CAST(SUM(CASE WHEN nhits = {n_hashes} THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_bloom,
         CAST(SUM(CASE WHEN matched THEN 1 ELSE 0 END) AS BIGINT) AS n_true_match,
         CAST(SUM(CASE WHEN nhits = {n_hashes} AND NOT matched THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
         CAST(SUM(CASE WHEN matched AND nhits < {n_hashes} THEN 1 ELSE 0 END) AS BIGINT) AS false_negatives
  FROM pm
)
SELECT nk.n_keys, b.bits_set,
       {_rr("b.bits_set", str(m_bits), 6)} AS fill_ratio,
       a.n_probe, a.n_pass_bloom, a.n_true_match, a.n_false_pos,
       a.false_negatives,
       {_rr("a.n_false_pos", "GREATEST(a.n_probe - a.n_true_match, 1)", 6)} AS fpr
FROM agg a, build b, nk
"""


ORACLES["bloom_prefilter_join"] = _bloom_audit_sql(BLOOM_BITS, BLOOM_HASHES)


from inde1_spark.operators.text import (  # noqa: E402
    TEXTRANK_DAMPING,
    TEXTRANK_ITERS,
    TEXTRANK_MIN_LEN,
    TEXTRANK_TOP_K,
    TEXTRANK_VOCAB,
    TEXTRANK_WINDOW,
)


def _textrank_ctes(iters: int) -> str:
    d = TEXTRANK_DAMPING
    parts = []
    for i in range(iters):
        parts.append(
            f"s{i} AS (SELECT e.v AS u, CAST(SUM((r.r * e.w) // r.wout) AS BIGINT) AS s\n"
            f"          FROM edges e JOIN r{i} r ON e.u = r.u GROUP BY 1),\n"
            f"r{i + 1} AS (SELECT d.u, d.wout,\n"
            f"            CAST(floor(({1.0 - d!r} / t.n) * 1e9\n"
            f"                       + {d!r} * CAST(COALESCE(s.s, 0) AS DOUBLE) + 0.5) AS BIGINT) AS r\n"
            f"            FROM wout d CROSS JOIN tot t LEFT JOIN s{i} s ON s.u = d.u)"
        )
    return ",\n".join(parts)


# Twin of operators/text.py:keyword_textrank — positional self-join spells
# the row-local zip-of-shifted-slices pair generation (offsets 1..W-1),
# then the weighted nano-long PageRank unrolls as chained CTEs exactly
# like the pagerank_dup_graph twin.
_TEXTRANK_OFFS = ", ".join(str(o) for o in range(1, TEXTRANK_WINDOW))
ORACLES["keyword_textrank"] = f"""
WITH docs AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), t -> len(t) >= {TEXTRANK_MIN_LEN}) AS toks
  FROM documents
),
pos AS (
  SELECT doc_id, unnest(toks) AS token, generate_subscripts(toks, 1) AS pos
  FROM docs
),
vocab AS (
  SELECT token FROM (
    SELECT token, COUNT(*) AS n FROM pos GROUP BY 1
    ORDER BY n DESC, token ASC LIMIT {TEXTRANK_VOCAB}
  )
),
prs AS (
  SELECT p1.token AS a, p2.token AS b
  FROM pos p1 JOIN pos p2
    ON p2.doc_id = p1.doc_id AND p2.pos - p1.pos IN ({_TEXTRANK_OFFS})
  WHERE p1.token <> p2.token
),
dir AS (SELECT a AS u, b AS v FROM prs UNION ALL SELECT b, a FROM prs),
edges AS (
  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS w FROM dir
  WHERE u IN (SELECT token FROM vocab) AND v IN (SELECT token FROM vocab)
  GROUP BY 1, 2
),
wout AS (SELECT u, CAST(SUM(w) AS BIGINT) AS wout FROM edges GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM wout),
r0 AS (
  SELECT d.u, d.wout, CAST(floor(1e9 / t.n + 0.5) AS BIGINT) AS r
  FROM wout d CROSS JOIN tot t
),
{_textrank_ctes(TEXTRANK_ITERS)}
SELECT u AS token, wout AS cooc_weight, CAST(r AS DOUBLE) / 1e9 AS textrank
FROM r{TEXTRANK_ITERS}
ORDER BY r DESC, u ASC LIMIT {TEXTRANK_TOP_K}
"""


# Twin of operators/analytics.py:chi2_independence — identical micro-grid
# integer arithmetic in HUGEINT (round-half-up via (a*2+b)//(2b)).
ORACLES["chi2_independence"] = """
WITH cells0 AS (
  SELECT event_type, CAST(isodow(ts) AS BIGINT) AS iso_dow,
         CAST(COUNT(*) AS BIGINT) AS observed
  FROM events GROUP BY 1, 2
),
cells AS (
  -- densified: zero cells contribute (0-E)^2/E like any other
  SELECT g.event_type, g.iso_dow, COALESCE(c.observed, 0) AS observed
  FROM (SELECT t.event_type, d.iso_dow
        FROM (SELECT DISTINCT event_type FROM cells0) t,
             (SELECT DISTINCT iso_dow FROM cells0) d) g
  LEFT JOIN cells0 c
    ON c.event_type = g.event_type AND c.iso_dow = g.iso_dow
),
m AS (
  SELECT event_type, iso_dow, observed,
         CAST(SUM(observed) OVER (PARTITION BY event_type) AS HUGEINT) AS row_tot,
         CAST(SUM(observed) OVER (PARTITION BY iso_dow) AS HUGEINT) AS col_tot,
         CAST(SUM(observed) OVER () AS HUGEINT) AS n_total
  FROM cells
),
e AS (
  SELECT *,
         (row_tot * col_tot * 1000000 * 2 + n_total) // (n_total * 2) AS e_micro
  FROM m
),
c AS (
  -- ((O-E)*1e6)^2 // E_micro keeps the contribution micro-scaled;
  -- GREATEST guards a rounds-to-zero expected cell
  SELECT *,
         CAST(((CAST(observed AS HUGEINT) * 1000000 - e_micro)
               * (CAST(observed AS HUGEINT) * 1000000 - e_micro) * 2
               + GREATEST(e_micro, 1))
              // (GREATEST(e_micro, 1) * 2) AS BIGINT) AS contrib_micro
  FROM e
)
SELECT event_type, iso_dow, observed,
       CAST(e_micro AS DOUBLE) / 1e6 AS expected,
       CAST(contrib_micro AS DOUBLE) / 1e6 AS contrib,
       CAST(SUM(contrib_micro) OVER () AS DOUBLE) / 1e6 AS chi2,
       (SELECT (COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT iso_dow) - 1)
        FROM cells) AS dof
FROM c
"""


from inde1_spark.operators.analytics import ACF_MAX_LAG  # noqa: E402

# Twin of operators/analytics.py:acf_daily — identical n-scaled integer
# moments in HUGEINT; the final ratio converts both wide sums through
# the base-10^15 digit split (_dec2d) before ONE double division.
ORACLES["acf_daily"] = f"""
WITH daily AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) * 1e6 + 0.5)
              AS BIGINT) AS v_micro
  FROM events GROUP BY 1
),
base AS (
  SELECT day,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_days,
         CAST(COUNT(*) OVER () AS HUGEINT) * v_micro
           - CAST(SUM(v_micro) OVER () AS HUGEINT) AS diff,
         CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t
  FROM daily
),
den AS (SELECT CAST(SUM(diff * diff) AS HUGEINT) AS den FROM base),
prs AS (
  SELECT l.lag, a.n_days, a.diff AS d0, b.diff AS dl
  FROM base a
  JOIN UNNEST(generate_series(1, {ACF_MAX_LAG})) AS l(lag) ON TRUE
  JOIN base b ON b.t = a.t + l.lag
),
per_lag AS (
  SELECT lag, MAX(n_days) AS n_days, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(d0 * dl) AS HUGEINT) AS num
  FROM prs GROUP BY 1
)
SELECT p.lag, p.n_days, p.n_pairs,
       {_dec2d("p.num")} / {_dec2d("GREATEST(d.den, 1)")} AS acf
FROM per_lag p, den d
"""


# Twin of operators/analytics.py:mann_kendall — same exact-integer S and
# 18*Var(S), same IEEE sqrt/divide chain, variance clamped before sqrt.
ORACLES["mann_kendall"] = """
WITH daily AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) * 1e6 + 0.5)
              AS BIGINT) AS v
  FROM events GROUP BY 1
),
s AS (
  SELECT CAST(SUM(sign(b.v - a.v)) AS BIGINT) AS s_stat
  FROM daily a JOIN daily b ON a.day < b.day
),
ties AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY 1),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_value_groups,
         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term,
         CAST(SUM(t) AS BIGINT) AS n_days
  FROM ties
),
v18 AS (
  SELECT a.n_days, a.n_value_groups, s.s_stat,
         GREATEST(a.n_days * (a.n_days - 1) * (2 * a.n_days + 5)
                  - a.tie_term, 0) AS var18
  FROM agg a, s
),
zed AS (
  SELECT n_days, n_value_groups, s_stat,
         CAST(var18 AS DOUBLE) / 18.0 AS var_s,
         CASE WHEN s_stat > 0
                THEN CAST(s_stat - 1 AS DOUBLE)
                     / sqrt(CAST(var18 AS DOUBLE) / 18.0)
              WHEN s_stat < 0
                THEN CAST(s_stat + 1 AS DOUBLE)
                     / sqrt(CAST(var18 AS DOUBLE) / 18.0)
              ELSE 0.0 END AS z
  FROM v18
)
SELECT n_days, n_value_groups, s_stat, var_s, z, ABS(z) > 1.96 AS trend_5pct
FROM zed
"""


from inde1_spark.operators.analytics import BENFORD_EXPECTED_PPM  # noqa: E402

# Twin of operators/analytics.py:benford_deviation — the SAME precomputed
# integer ppm expectations, string-derived first digits (no float log),
# exact ppm shares and TV distance.
_BENFORD_VALUES = ", ".join(
    f"({d}, {p})" for d, p in enumerate(BENFORD_EXPECTED_PPM, start=1)
)
ORACLES["benford_deviation"] = f"""
WITH counts AS (
  SELECT CAST(substr(CAST(m AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         CAST(COUNT(*) AS BIGINT) AS n_obs
  FROM (SELECT CAST(floor(CAST(value AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS m
        FROM events)
  WHERE m > 0 GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total FROM counts),
spine AS (
  SELECT t.n_total, CAST(u.d AS BIGINT) AS digit
  FROM tot t, UNNEST(generate_series(1, 9)) AS u(d)
),
exp_tbl AS (SELECT * FROM (VALUES {_BENFORD_VALUES}) AS e(digit, expected_ppm)),
dense AS (
  SELECT s.digit, s.n_total, COALESCE(c.n_obs, 0) AS n_obs,
         CAST(e.expected_ppm AS BIGINT) AS expected_ppm,
         (COALESCE(c.n_obs, 0) * 2000000 + GREATEST(s.n_total, 1))
           // (2 * GREATEST(s.n_total, 1)) AS share_ppm
  FROM spine s
  LEFT JOIN counts c ON c.digit = s.digit
  JOIN exp_tbl e ON e.digit = s.digit
)
SELECT digit, n_obs, n_total,
       CAST(share_ppm AS DOUBLE) / 1e6 AS share,
       CAST(expected_ppm AS DOUBLE) / 1e6 AS expected,
       share_ppm - expected_ppm AS dev_ppm,
       CAST(floor(CAST(SUM(ABS(share_ppm - expected_ppm)) OVER () AS DOUBLE)
                  / 2) AS BIGINT) AS tv_ppm
FROM dense
"""


# Twin of operators/analytics.py:runs_test — exact integer runs/counts,
# the same IEEE double chain for E/Var/z, same degenerate guards.
ORACLES["runs_test"] = """
WITH daily AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) * 1e6 + 0.5)
              AS BIGINT) AS v
  FROM events GROUP BY 1
),
signs AS (
  SELECT day,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_days,
         (CAST(COUNT(*) OVER () AS HUGEINT) * v
            > CAST(SUM(v) OVER () AS HUGEINT)) AS above
  FROM daily
),
flips AS (
  SELECT n_days, above,
         CASE WHEN lag(above) OVER (ORDER BY day) IS NULL
                OR lag(above) OVER (ORDER BY day) <> above
              THEN 1 ELSE 0 END AS new_run
  FROM signs
),
agg AS (
  SELECT MAX(n_days) AS n_days,
         CAST(SUM(CASE WHEN above THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
         CAST(SUM(CASE WHEN NOT above THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
         CAST(SUM(new_run) AS BIGINT) AS n_runs
  FROM flips
),
calc AS (
  SELECT *, CAST(n_days AS DOUBLE) AS n,
         2.0 * n_above * n_below AS p2
  FROM agg
),
vv AS (
  SELECT *,
         1.0 + p2 / n AS e_runs,
         GREATEST(p2 * (p2 - n) / (n * n * GREATEST(n - 1.0, 1.0)), 0.0)
           AS var_r
  FROM calc
),
zed AS (
  SELECT n_days, n_above, n_below, n_runs, e_runs,
         CASE WHEN n_above = 0 OR n_below = 0 OR var_r <= 0 THEN 0.0
              ELSE (CAST(n_runs AS DOUBLE) - e_runs) / sqrt(var_r) END AS z
  FROM vv
)
SELECT n_days, n_above, n_below, n_runs, e_runs AS expected_runs, z,
       ABS(z) > 1.96 AS nonrandom_5pct
FROM zed
"""


# Twin of operators/analytics.py:join_cardinality_audit — HUGEINT c^2
# accumulation, string emission for the wide exact estimate, digit-split
# doubles for the approx/skew columns in the same op order.
ORACLES["join_cardinality_audit"] = f"""
WITH counts AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1
),
agg AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(MAX(c) AS BIGINT) AS max_key_rows,
         CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS est_dec
  FROM counts
)
SELECT n_rows, n_keys, max_key_rows,
       CAST(est_dec AS VARCHAR) AS est_join_rows,
       {_dec2d("est_dec")} AS est_join_rows_approx,
       {_dec2d("est_dec")}
         / {_dec2d("CAST(n_rows AS HUGEINT) * n_rows")}
         * CAST(n_keys AS DOUBLE) AS skew_factor
FROM agg
"""


# Twin of operators/analytics.py:audience_overlap — plain distinct +
# self-join + dense type grid; identical exact ratio arithmetic.
ORACLES["audience_overlap"] = f"""
WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
tot AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM ut GROUP BY 1),
p AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS n_both
  FROM ut a JOIN ut b
    ON b.user_id = a.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
grid AS (
  SELECT ta.event_type AS type_a, tb.event_type AS type_b,
         ta.n AS n_a, tb.n AS n_b
  FROM tot ta JOIN tot tb ON ta.event_type < tb.event_type
),
dense AS (
  SELECT g.type_a, g.type_b, g.n_a, g.n_b, COALESCE(p.n_both, 0) AS n_both
  FROM grid g LEFT JOIN p
    ON p.type_a = g.type_a AND p.type_b = g.type_b
)
SELECT type_a, type_b, n_a, n_b, n_both,
       {_rr("n_both", "GREATEST(n_a + n_b - n_both, 1)", 6)} AS jaccard,
       {_rr("n_both", "GREATEST(LEAST(n_a, n_b), 1)", 6)} AS containment
FROM dense
"""


# Twin of operators/corpus.py:quality_emd — same grid/CDF machinery as the
# KS twin, integrand summed with the exact grid step, round-half-up micro
# divisions matching the engine's dec_floordiv spelling.
ORACLES["quality_emd"] = f"""
WITH qtoks AS (
  SELECT source, n_chars,
         list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
qm AS (
  SELECT source,
         GREATEST(CAST(len(toks) AS BIGINT), 1) AS gnt,
         CAST(len(list_filter(toks, t -> t IN ({_STOP_LIST}))) AS BIGINT) AS n_stop,
         LEAST(n_chars, 500) AS capped_chars
  FROM qtoks
),
scoredq AS (
  SELECT source,
         {_rs("capped_chars * gnt + 500 * (gnt - n_stop)", "1000 * gnt", 4)} AS q
  FROM qm
),
counts AS (SELECT source, q, CAST(count(*) AS BIGINT) AS c FROM scoredq GROUP BY 1, 2),
qgrid AS (SELECT DISTINCT q FROM counts),
srcs AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM counts GROUP BY 1),
total AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_all FROM srcs),
perq AS (SELECT q, CAST(SUM(c) AS BIGINT) AS cq FROM counts GROUP BY 1),
cum_all_tbl AS (
  SELECT q, CAST(SUM(cq) OVER (ORDER BY q
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_all
  FROM perq
),
filled AS (
  SELECT s.source, s.n_s, g.q, COALESCE(c.c, 0) AS c
  FROM srcs s CROSS JOIN qgrid g
  LEFT JOIN counts c ON c.source = s.source AND c.q = g.q
),
cums AS (
  SELECT source, n_s, q,
         CAST(SUM(c) OVER (PARTITION BY source ORDER BY q
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_s,
         COALESCE(lead(q) OVER (PARTITION BY source ORDER BY q) - q, 0) AS dq
  FROM filled
),
j AS (
  SELECT f.source, f.n_s, f.q, f.dq, f.cum_s, a.cum_all, t.n_all,
         abs(CAST(f.cum_s AS HUGEINT) * (t.n_all - f.n_s)
             - CAST(a.cum_all - f.cum_s AS HUGEINT) * f.n_s) AS num
  FROM cums f JOIN cum_all_tbl a ON a.q = f.q, total t
  WHERE f.n_s < t.n_all
),
agg AS (
  SELECT source, MAX(n_s) AS n_docs, MAX(n_all) AS n_all,
         CAST(SUM(num * dq) AS HUGEINT) AS snd,
         CAST(MAX(q) - MIN(q) AS BIGINT) AS span
  FROM j GROUP BY 1
),
calc AS (
  SELECT source, n_docs,
         CAST(n_docs AS HUGEINT) * (n_all - n_docs) AS den,
         CAST(n_docs AS HUGEINT) * (n_all - n_docs) * GREATEST(span, 1) AS den_n,
         snd
  FROM agg
)
SELECT source, n_docs,
       CAST(CAST((snd * 1000000 * 2 + den) // (den * 2) AS BIGINT) AS DOUBLE)
         / 1e6 AS emd_quality_units,
       CAST(CAST((snd * 1000000 * 2 + den_n) // (den_n * 2) AS BIGINT) AS DOUBLE)
         / 1e6 AS emd_norm
FROM calc
"""


from inde1_spark.operators.analytics import (  # noqa: E402
    MARKOV_DAMPING,
    MARKOV_ITERS,
)


def _markov_ctes(iters: int) -> str:
    d = MARKOV_DAMPING
    parts = []
    for i in range(iters):
        parts.append(
            f"m{i} AS (SELECT e.v AS s, CAST(SUM((p.p * e.c) // e.tot) AS BIGINT) AS m\n"
            f"          FROM em e JOIN p{i} p ON p.s = e.u GROUP BY 1),\n"
            f"p{i + 1} AS (SELECT st.s,\n"
            f"            CAST(floor(({1.0 - d!r} / k.k) * 1e9\n"
            f"                       + {d!r} * CAST(COALESCE(m.m, 0) AS DOUBLE) + 0.5) AS BIGINT) AS p\n"
            f"            FROM states st CROSS JOIN k LEFT JOIN m{i} m ON m.s = st.s)"
        )
    return ",\n".join(parts)


# Twin of operators/analytics.py:markov_stationary — the damped power
# iteration unrolled as chained CTEs with the identical nano-long mass
# transfers.
ORACLES["markov_stationary"] = f"""
WITH seq AS MATERIALIZED (
  SELECT user_id, event_type AS u,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v
  FROM events
),
edges AS MATERIALIZED (
  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS c
  FROM seq WHERE v IS NOT NULL GROUP BY 1, 2
),
rowtot AS MATERIALIZED (SELECT u, CAST(SUM(c) AS BIGINT) AS tot FROM edges GROUP BY 1),
em AS MATERIALIZED (SELECT e.u, e.v, e.c, r.tot FROM edges e JOIN rowtot r ON r.u = e.u),
states AS MATERIALIZED (
  SELECT DISTINCT s FROM (SELECT u AS s FROM edges
                          UNION ALL SELECT v FROM edges)
),
k AS (SELECT CAST(COUNT(*) AS DOUBLE) AS k FROM states),
p0 AS (
  SELECT st.s, CAST(floor(1e9 / k.k + 0.5) AS BIGINT) AS p
  FROM states st CROSS JOIN k
),
{_markov_ctes(MARKOV_ITERS)}
SELECT p.s AS state, COALESCE(r.tot, 0) AS n_out_transitions,
       CAST(p.p AS DOUBLE) / 1e9 AS stationary_p
FROM p{MARKOV_ITERS} p LEFT JOIN rowtot r ON r.u = p.s
"""


from inde1_spark.operators.scoring import HEAPS_BUCKETS  # noqa: E402

# Twin of operators/scoring.py:heaps_fit — identical md5 buckets, min-
# bucket first-appearance trick, nano-log coordinates and digit-split
# regression (the zipf twin's spelling).
ORACLES["heaps_fit"] = f"""
WITH ex AS MATERIALIZED (
  SELECT CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % {HEAPS_BUCKETS} AS b,
         t.term
  FROM (
    SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
    FROM documents
  ), UNNEST(toks) AS t(term)
),
new_terms AS (
  SELECT mb, CAST(COUNT(*) AS BIGINT) AS n_new
  FROM (SELECT term, CAST(MIN(b) AS BIGINT) AS mb FROM ex GROUP BY 1)
  GROUP BY 1
),
tok AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n_tok FROM ex GROUP BY 1),
grid AS (
  SELECT COALESCE(tok.b, new_terms.mb) AS b,
         COALESCE(n_tok, 0) AS n_tok,
         COALESCE(n_new, 0) AS n_new
  FROM tok FULL JOIN new_terms ON new_terms.mb = tok.b
),
pts AS (
  SELECT CAST(round(ln(CAST(cum_tok AS DOUBLE)) * {LOG_SCALE}.0, 0) AS BIGINT) AS x,
         CAST(round(ln(CAST(cum_v AS DOUBLE)) * {LOG_SCALE}.0, 0) AS BIGINT) AS y
  FROM (
    SELECT CAST(SUM(n_tok) OVER (ORDER BY b
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok,
           CAST(SUM(n_new) OVER (ORDER BY b
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_v
    FROM grid
  )
  WHERE cum_tok > 0 AND cum_v > 0
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_points,
         CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
  FROM pts
)
SELECT n_points,
       (CAST(n_points AS DOUBLE) * {_dec2d('sxy')} - {_dec2d('sx')} * {_dec2d('sy')})
         / (CAST(n_points AS DOUBLE) * {_dec2d('sxx')} - {_dec2d('sx')} * {_dec2d('sx')})
         AS heaps_beta,
       (({_dec2d('sy')} - ((CAST(n_points AS DOUBLE) * {_dec2d('sxy')} - {_dec2d('sx')} * {_dec2d('sy')})
         / (CAST(n_points AS DOUBLE) * {_dec2d('sxx')} - {_dec2d('sx')} * {_dec2d('sx')})) * {_dec2d('sx')})
         / CAST(n_points AS DOUBLE)) / {LOG_SCALE}.0 AS ln_k
FROM stats WHERE n_points >= 2
"""


from inde1_spark.operators.scoring import FW_TOP_K, FW_VOCAB  # noqa: E402

# Twin of operators/scoring.py:log_odds_distinctive_terms — identical
# nano-snapped logs over divisions of exact-int doubles, identical
# informative-prior arithmetic and tie-breaks.
ORACLES["log_odds_distinctive_terms"] = f"""
WITH ex AS MATERIALIZED (
  SELECT source, t.term
  FROM (
    SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS toks
    FROM documents
  ), UNNEST(toks) AS t(term)
),
vocab AS (
  SELECT term FROM (
    SELECT term, COUNT(*) AS n FROM ex GROUP BY 1
    ORDER BY n DESC, term ASC LIMIT {FW_VOCAB}
  )
),
st AS MATERIALIZED (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS y_st
  FROM ex WHERE term IN (SELECT term FROM vocab)
  GROUP BY 1, 2
),
cts AS (
  SELECT source, term, y_st,
         CAST(SUM(y_st) OVER (PARTITION BY term) AS BIGINT) AS y_t,
         CAST(SUM(y_st) OVER (PARTITION BY source) AS BIGINT) AS n_s,
         CAST(SUM(y_st) OVER () AS BIGINT) AS n_all,
         (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) FROM st) AS v
  FROM st
),
scored AS (
  SELECT source, term, y_st, y_t - y_st AS y_rest,
         CAST(round(ln(CAST(y_st + 1 AS DOUBLE)
                       / CAST(n_s + v - y_st - 1 AS DOUBLE)) * 1e9, 0) AS BIGINT)
         - CAST(round(ln(CAST((y_t - y_st) + 1 AS DOUBLE)
                         / CAST((n_all - n_s) + v - (y_t - y_st) - 1 AS DOUBLE))
                      * 1e9, 0) AS BIGINT) AS delta_nano,
         1.0 / CAST(y_st + 1 AS DOUBLE)
           + 1.0 / CAST((y_t - y_st) + 1 AS DOUBLE) AS var_lo
  FROM cts
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY source
             ORDER BY delta_nano DESC, var_lo ASC, term ASC) AS rn
  FROM scored
)
SELECT source, CAST(rn AS BIGINT) AS rank, term, y_st, y_rest,
       CAST(delta_nano AS DOUBLE) / 1e9 AS log_odds_delta,
       (CAST(delta_nano AS DOUBLE) / 1e9) / sqrt(var_lo) AS z
FROM best WHERE rn <= {FW_TOP_K}
"""


# Twin of operators/analytics.py:pareto_frontier — identical cents snap,
# per-price max-size reduce, and strict cummax sweep over the price domain.
ORACLES["pareto_frontier"] = """
WITH pts AS (
  SELECT CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents, p_size,
         CAST(COUNT(*) AS BIGINT) AS n_parts
  FROM part GROUP BY 1, 2
),
best AS (
  SELECT cents, p_size, n_parts,
         row_number() OVER (PARTITION BY cents ORDER BY p_size DESC) AS rk
  FROM pts
),
sweep AS (
  SELECT cents, p_size, n_parts,
         max(p_size) OVER (ORDER BY cents ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_best
  FROM best WHERE rk = 1
)
SELECT CAST(cents AS DOUBLE) / 100.0 AS price,
       CAST(p_size AS BIGINT) AS max_size, n_parts
FROM sweep WHERE prev_best IS NULL OR p_size > prev_best
ORDER BY price
"""


# Twin of operators/analytics.py:interval_coverage — identical rn pairing
# (session_pairing semantics), epoch-second snap, and island sweep.
ORACLES["interval_coverage"] = """
WITH entries AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type = 'view'
),
exits AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS e,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE event_type = 'click'
),
iv AS (
  SELECT en.user_id, en.s, ex.e
  FROM entries en JOIN exits ex ON en.user_id = ex.user_id AND en.rn = ex.rn
  WHERE ex.e > en.s
),
flagged AS (
  SELECT user_id, s, e,
         CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
               OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
),
islands AS (
  SELECT user_id, island,
         CAST(COUNT(*) AS BIGINT) AS n_iv,
         CAST(SUM(e - s) AS BIGINT) AS busy,
         CAST(MAX(e) - MIN(s) AS BIGINT) AS covered
  FROM (
    SELECT user_id, s, e,
           SUM(new_island) OVER (PARTITION BY user_id ORDER BY s, e
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM flagged
  )
  GROUP BY 1, 2
)
SELECT user_id,
       CAST(SUM(n_iv) AS BIGINT) AS n_intervals,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(SUM(covered) AS BIGINT) AS covered_sec,
       CAST(SUM(busy) - SUM(covered) AS BIGINT) AS overlap_sec
FROM islands
GROUP BY 1
ORDER BY user_id
"""


# Twin of operators/analytics.py:user_streaks — identical distinct-day
# reduce and day_id - row_number island key.
ORACLES["user_streaks"] = """
WITH days AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day_id
  FROM events
),
streaks AS (
  SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
  FROM (
    SELECT user_id,
           day_id - row_number() OVER (PARTITION BY user_id ORDER BY day_id) AS grp
    FROM days
  )
  GROUP BY 1, 2
),
longest AS (
  SELECT user_id, MAX(len) AS max_streak FROM streaks GROUP BY 1
)
SELECT max_streak AS streak_days, CAST(COUNT(*) AS BIGINT) AS n_users
FROM longest GROUP BY 1 ORDER BY streak_days
"""


from inde1_spark.operators.text import SYMSPELL_KEY_DF, SYMSPELL_MAX_LEN  # noqa: E402

# Twin of operators/text.py:symspell_neighbors — identical deletion-key
# generation, hot-key cap, and candidate-only levenshtein verify; runs on
# the part-name vocabulary (the one testdata vocab with ed-1 pairs).
ORACLES["symspell_neighbors"] = f"""
WITH vocab AS (
  SELECT t.term, CAST(COUNT(*) AS BIGINT) AS n
  FROM (
    SELECT list_filter(string_split(p_name, ' '), x -> x <> '') AS toks
    FROM part
  ), UNNEST(toks) AS t(term)
  GROUP BY 1
),
keys AS (
  SELECT term, n, k.key
  FROM (
    SELECT term, n,
           list_distinct(list_transform(range(0, length(term) + 1),
             i -> substr(term, 1, i) || substr(term, i + 2, length(term)))) AS ks
    FROM vocab WHERE length(term) <= {SYMSPELL_MAX_LEN}
  ), UNNEST(ks) AS k(key)
),
ok AS (SELECT key FROM keys GROUP BY 1 HAVING COUNT(*) <= {SYMSPELL_KEY_DF}),
cand AS (
  SELECT DISTINCT a.term AS term_a, b.term AS term_b, a.n AS n_a, b.n AS n_b
  FROM keys a JOIN keys b ON a.key = b.key AND a.term < b.term
  WHERE a.key IN (SELECT key FROM ok)
)
SELECT term_a, term_b, n_a, n_b FROM cand
WHERE levenshtein(term_a, term_b) <= 1
ORDER BY term_a, term_b
"""


# Twin of operators/similarity.py:mutual_nearest_neighbors — the
# knn_lsh_bucketed candidate/scoring pipeline with EVERY vector as a
# query and k = 1, then the reciprocal self-join.
ORACLES["mutual_nearest_neighbors"] = f"""
WITH {_NORMS.strip().rstrip()},
buckets AS (
  SELECT vec_id, CAST({_BUCKET_EXPR} AS BIGINT) AS bucket FROM embeddings
),
qprobes AS (
  SELECT vec_id, unnest([{_PROBE_LIST}]) AS probe FROM buckets
),
dots AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_FIXED_DOT} AS dot
  FROM qprobes qa
  JOIN buckets bb ON qa.probe = bb.bucket AND qa.vec_id <> bb.vec_id
  JOIN embeddings a ON a.vec_id = qa.vec_id
  JOIN embeddings b ON b.vec_id = bb.vec_id,
       UNNEST(generate_series(1, {EMB_DIM})) AS u(i)
  GROUP BY 1, 2
),
scored AS (
  SELECT query_id, neighbor_id, ROUND(dot / (na.nrm * nb.nrm), 6) AS cos_sim
  FROM dots
  JOIN norms na ON na.vec_id = query_id
  JOIN norms nb ON nb.vec_id = neighbor_id
),
top1 AS (
  SELECT query_id, neighbor_id, cos_sim FROM (
    SELECT query_id, neighbor_id, cos_sim,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM scored
  ) WHERE rank <= 1
)
SELECT f.query_id AS vec_a, f.neighbor_id AS vec_b, f.cos_sim
FROM top1 f JOIN top1 r
  ON f.query_id = r.neighbor_id AND f.neighbor_id = r.query_id
WHERE f.query_id < f.neighbor_id
ORDER BY vec_a, vec_b
"""


from inde1_spark.operators.corpus import QNORM_SCALE  # noqa: E402

# Twin of operators/corpus.py:quality_quantile_normalize — identical
# value-domain histograms, Hazen nano-CDF via HUGEINT floor-div, and
# union-and-backfill inverse-CDF mapping.
ORACLES["quality_quantile_normalize"] = f"""
WITH toks AS (
  SELECT source, n_chars,
         list_filter(string_split(text, ' '), t -> t <> '') AS tk
  FROM documents
),
m AS (
  SELECT source,
         GREATEST(CAST(len(tk) AS BIGINT), 1) AS gnt,
         CAST(len(list_filter(tk, t -> t IN ({_STOP_LIST}))) AS BIGINT) AS n_stop,
         LEAST(n_chars, 500) AS capped_chars
  FROM toks
),
vals AS (
  SELECT source,
         {_rr("capped_chars * gnt + 500 * (gnt - n_stop)", "1000 * gnt", 4)}
           AS quality,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM m GROUP BY 1, 2
),
ns AS (SELECT source, CAST(SUM(n_docs) AS BIGINT) AS n_s FROM vals GROUP BY 1),
src AS (
  SELECT v.source, v.quality, v.n_docs,
         CAST(((CAST(2 * cum - n_docs AS HUGEINT) * {QNORM_SCALE}
                - (CAST(2 * cum - n_docs AS HUGEINT) * {QNORM_SCALE})
                  % CAST(2 * n_s AS HUGEINT))
               // CAST(2 * n_s AS HUGEINT)) AS BIGINT) AS cdf,
         0 AS is_global, CAST(NULL AS DOUBLE) AS gq
  FROM (
    SELECT source, quality, n_docs,
           CAST(SUM(n_docs) OVER (PARTITION BY source ORDER BY quality
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
    FROM vals
  ) v JOIN ns ON ns.source = v.source
),
gdist AS (
  SELECT quality, CAST(SUM(n_docs) AS BIGINT) AS n_g FROM vals GROUP BY 1
),
gcdf AS (
  SELECT quality AS gq,
         CAST(((CAST(2 * cum - n_g AS HUGEINT) * {QNORM_SCALE}
                - (CAST(2 * cum - n_g AS HUGEINT) * {QNORM_SCALE})
                  % CAST(2 * n_all AS HUGEINT))
               // CAST(2 * n_all AS HUGEINT)) AS BIGINT) AS cdf
  FROM (
    SELECT quality, n_g,
           CAST(SUM(n_g) OVER (ORDER BY quality
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
           CAST(SUM(n_g) OVER () AS BIGINT) AS n_all
    FROM gdist
  )
),
gx AS (
  SELECT s.source, CAST(NULL AS DOUBLE) AS quality,
         CAST(NULL AS BIGINT) AS n_docs, g.cdf, 1 AS is_global, g.gq
  FROM (SELECT DISTINCT source FROM vals) s CROSS JOIN gcdf g
),
u AS (
  SELECT *, last_value(gq IGNORE NULLS) OVER (PARTITION BY source
           ORDER BY cdf ASC, is_global DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mapped
  FROM (SELECT * FROM src UNION ALL BY NAME SELECT * FROM gx)
)
SELECT source, quality, n_docs,
       COALESCE(mapped, (SELECT MIN(quality) FROM gdist)) AS norm_quality
FROM u WHERE is_global = 0
ORDER BY source, quality
"""


from inde1_spark.operators.analytics import (  # noqa: E402
    KM_CHURN_GAP_DAYS,
    KM_LOG_ZERO,
    PATH_MAX_STEPS,
    PATH_TOP_K,
)

# Twin of operators/analytics.py:session_paths — the sessionize_gap
# islands, order-stable list aggregation, identical slice/concat.
ORACLES["session_paths"] = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN date_diff('second', lag(ts) OVER (PARTITION BY user_id
                ORDER BY ts, event_id), ts) > 3600
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sess AS (
  SELECT user_id, ts, event_id, event_type,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id
  FROM flagged
),
paths AS (
  SELECT user_id, session_id,
         array_to_string(list_slice(
           list(event_type ORDER BY ts, event_id), 1, {PATH_MAX_STEPS}), '>')
           AS path,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM sess GROUP BY 1, 2
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events
FROM paths GROUP BY 1
ORDER BY n_sessions DESC, path ASC LIMIT {PATH_TOP_K}
"""


# Twin of operators/analytics.py:kaplan_meier_retention — identical churn
# rule, suffix-sum risk set, nano-log steps with the absorbing sentinel.
ORACLES["kaplan_meier_retention"] = f"""
WITH per_user AS (
  SELECT user_id,
         MIN(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS first_d,
         MAX(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS last_d
  FROM events GROUP BY 1
),
mx AS (SELECT MAX(last_d) AS max_d FROM per_user),
obs AS (
  SELECT CASE WHEN last_d < max_d - {KM_CHURN_GAP_DAYS}
              THEN last_d - first_d ELSE max_d - first_d END AS t,
         CASE WHEN last_d < max_d - {KM_CHURN_GAP_DAYS} THEN 1 ELSE 0 END
           AS churned
  FROM per_user CROSS JOIN mx
),
grid AS (
  SELECT t, CAST(SUM(churned) AS BIGINT) AS n_churned,
         CAST(SUM(1 - churned) AS BIGINT) AS n_censored
  FROM obs GROUP BY 1
),
risk AS (
  SELECT t, n_churned, n_censored,
         CAST(SUM(n_churned + n_censored) OVER (ORDER BY t
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
           AS n_at_risk
  FROM grid
),
steps AS (
  SELECT t, n_at_risk, n_churned, n_censored,
         CASE WHEN n_churned > 0 AND n_at_risk > n_churned
              THEN CAST(round(ln(CAST(n_at_risk - n_churned AS DOUBLE)
                     / CAST(n_at_risk AS DOUBLE)) * 1e9, 0) AS BIGINT)
              WHEN n_churned > 0 THEN CAST({KM_LOG_ZERO} AS BIGINT)
              ELSE 0 END AS step
  FROM risk
)
SELECT t AS duration_days, n_at_risk, n_churned, n_censored,
       CAST(SUM(step) OVER (ORDER BY t
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1e9
         AS log_survival
FROM steps ORDER BY duration_days
"""


from inde1_spark.operators.analytics import ASOF_FWD_TOLERANCE_SEC  # noqa: E402

# Twin of operators/analytics.py:asof_join_forward — the backward twin's
# union-and-window spelling, time-reversed, with the tolerance null-out.
ORACLES["asof_join_forward"] = f"""
WITH tagged AS (
  SELECT user_id, ts, event_id AS oid, 0 AS side, event_id AS view_id,
         ts AS view_ts
  FROM events WHERE event_type = '{ENTRY}'
  UNION ALL
  SELECT user_id, ts, event_id AS oid, 1 AS side, NULL AS view_id,
         NULL AS view_ts
  FROM events WHERE event_type = 'error'
),
carried AS (
  SELECT user_id, ts, oid, side,
         last_value(view_id IGNORE NULLS) OVER w AS next_view_id0,
         last_value(view_ts IGNORE NULLS) OVER w AS next_view_ts
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts DESC, side, oid
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
tol AS (
  SELECT user_id, ts, oid,
         CASE WHEN CAST(floor(epoch(next_view_ts)) AS BIGINT)
                   - CAST(floor(epoch(ts)) AS BIGINT)
                <= {ASOF_FWD_TOLERANCE_SEC}
              THEN next_view_id0 END AS next_view_id,
         CASE WHEN CAST(floor(epoch(next_view_ts)) AS BIGINT)
                   - CAST(floor(epoch(ts)) AS BIGINT)
                <= {ASOF_FWD_TOLERANCE_SEC}
              THEN CAST(floor(epoch(next_view_ts)) AS BIGINT)
                   - CAST(floor(epoch(ts)) AS BIGINT) END AS recovery_sec
  FROM carried WHERE side = 1
)
SELECT user_id, oid AS error_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS error_ts,
       next_view_id, recovery_sec
FROM tol ORDER BY user_id, error_id
"""


# Twin of operators/scoring.py:cross_source_perplexity — identical add-1
# decomposition (inner-join term sums + per-source smoothing scalar),
# nano-snapped logs, HUGEINT products and floor-div.
ORACLES["cross_source_perplexity"] = f"""
WITH st AS MATERIALIZED (
  SELECT source, t.term, CAST(COUNT(*) AS BIGINT) AS c
  FROM (
    SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS toks
    FROM documents
  ), UNNEST(toks) AS t(term)
  GROUP BY 1, 2
),
ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_toks FROM st GROUP BY 1),
vsz AS (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v FROM st),
pair_sums AS (
  SELECT lm.source AS train_source, tf.source AS eval_source,
         CAST(SUM(CAST(tf.c AS HUGEINT)
           * CAST(round(ln(CAST(lm.c + 1 AS DOUBLE)) * {LOG_SCALE}.0, 0)
                  AS BIGINT)) AS HUGEINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS shared_terms
  FROM st tf JOIN st lm ON tf.term = lm.term
  GROUP BY 1, 2
),
grid AS (
  SELECT a.source AS train_source,
         CAST(round(ln(CAST(a.n_toks + v AS DOUBLE)) * {LOG_SCALE}.0, 0)
              AS BIGINT) AS lsc_tot,
         b.source AS eval_source, b.n_toks AS n_eval_tokens
  FROM ns a CROSS JOIN ns b CROSS JOIN vsz
)
SELECT g.train_source, g.eval_source, g.n_eval_tokens,
       COALESCE(p.shared_terms, 0) AS shared_terms,
       CAST(CAST(((CAST(g.n_eval_tokens AS HUGEINT) * g.lsc_tot
                   - COALESCE(p.s, 0)
                   - (CAST(g.n_eval_tokens AS HUGEINT) * g.lsc_tot
                      - COALESCE(p.s, 0))
                     % CAST(g.n_eval_tokens AS HUGEINT))
                  // CAST(g.n_eval_tokens AS HUGEINT)) AS BIGINT) AS DOUBLE)
         / {LOG_SCALE}.0 AS avg_xent
FROM grid g
LEFT JOIN pair_sums p
  ON p.train_source = g.train_source AND p.eval_source = g.eval_source
ORDER BY g.train_source, g.eval_source
"""


from inde1_spark.operators.scoring import IMPACT_K  # noqa: E402

# Twin of operators/scoring.py:impact_postings — the plain one-window
# grouped top-k (the salted two-stage plan is exact, so the simple SQL is
# its ground truth), plus the df/cf sidecar.
ORACLES["impact_postings"] = f"""
WITH tf AS MATERIALIZED (
  SELECT doc_id, t.term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (
    SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
    FROM documents
  ), UNNEST(toks) AS t(term)
  GROUP BY 1, 2
),
stats AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS cf
  FROM tf GROUP BY 1
),
ranked AS (
  SELECT term, doc_id, tf,
         CAST(row_number() OVER (PARTITION BY term
           ORDER BY tf DESC, doc_id ASC) AS BIGINT) AS rank
  FROM tf
)
SELECT r.term, r.rank, r.doc_id, r.tf, s.df, s.cf
FROM ranked r JOIN stats s ON s.term = r.term
WHERE r.rank <= {IMPACT_K}
ORDER BY r.term, r.rank
"""


# Twin of operators/analytics.py:profile_columns — identical canonical
# string projections; the salted two-stage top-1 is exact, so the plain
# per-column window is its ground truth.
ORACLES["profile_columns"] = """
WITH melted AS MATERIALIZED (
  SELECT 'event_id' AS column_name, CAST(event_id AS VARCHAR) AS val FROM events
  UNION ALL
  SELECT 'ts', strftime(ts, '%Y-%m-%d %H:%M:%S.%f') FROM events
  UNION ALL
  SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
  UNION ALL
  SELECT 'event_type', event_type FROM events
  UNION ALL
  SELECT 'value', CAST(CAST(round(value * 1e6, 0) AS BIGINT) AS VARCHAR)
  FROM events
  UNION ALL
  SELECT 'props', props FROM events
),
vhist AS MATERIALIZED (
  SELECT column_name, val, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM melted GROUP BY 1, 2
),
base AS (
  SELECT column_name,
         CAST(SUM(cnt) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN val IS NULL THEN cnt ELSE 0 END) AS BIGINT)
           AS n_null,
         CAST(SUM(CASE WHEN val IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_distinct
  FROM vhist GROUP BY 1
),
top AS (
  SELECT column_name, val AS top_value, cnt AS top_count
  FROM (
    SELECT column_name, val, cnt,
           row_number() OVER (PARTITION BY column_name
             ORDER BY cnt DESC, val ASC) AS rk
    FROM vhist WHERE val IS NOT NULL
  ) WHERE rk = 1
)
SELECT b.column_name, b.n_rows, b.n_null, b.n_distinct,
       t.top_value, t.top_count
FROM base b LEFT JOIN top t ON t.column_name = b.column_name
ORDER BY b.column_name
"""


from inde1_spark.operators.analytics import BASKET_CAP, BASKET_TOP_K  # noqa: E402

# Twin of operators/analytics.py:market_basket_lift — identical basket
# sets, ordered-pair generation, micro-unit HUGEINT floor-div ratios.
ORACLES["market_basket_lift"] = f"""
WITH baskets AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM baskets),
part_cnt AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c FROM baskets GROUP BY 1
),
sets AS (
  SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
  FROM baskets GROUP BY 1
  HAVING len(list(DISTINCT l_partkey)) <= {BASKET_CAP}
),
pairs AS (
  SELECT u.p.a AS part_a, u.p.b AS part_b
  FROM (
    SELECT flatten(list_transform(range(1, len(parts) + 1),
             i -> list_transform(parts[i+1:],
                    y -> {{'a': parts[i], 'b': y}}))) AS ps
    FROM sets
  ), UNNEST(ps) AS u(p)
),
pc AS (
  SELECT part_a, part_b, CAST(COUNT(*) AS BIGINT) AS n_both
  FROM pairs GROUP BY 1, 2
),
enriched AS (
  SELECT pc.part_a, pc.part_b, pc.n_both, ca.c AS n_a, cb.c AS n_b, n.n_orders
  FROM pc
  JOIN part_cnt ca ON ca.l_partkey = pc.part_a
  JOIN part_cnt cb ON cb.l_partkey = pc.part_b
  CROSS JOIN n
)
SELECT part_a, part_b, n_both, n_a, n_b,
       CAST((CAST(n_both AS HUGEINT) * 1000000
             - (CAST(n_both AS HUGEINT) * 1000000) % CAST(n_a AS HUGEINT))
            // CAST(n_a AS HUGEINT) AS BIGINT) AS conf_a_to_b_micro,
       CAST((CAST(n_both AS HUGEINT) * n_orders * 1000000
             - (CAST(n_both AS HUGEINT) * n_orders * 1000000)
               % (CAST(n_a AS HUGEINT) * n_b))
            // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS lift_micro
FROM enriched
ORDER BY n_both DESC, lift_micro DESC, part_a ASC, part_b ASC
LIMIT {BASKET_TOP_K}
"""


# Twin of operators/analytics.py:new_vs_returning — identical distinct
# actives, first-day join, and exact returning-share ratio.
ORACLES["new_vs_returning"] = f"""
WITH actives AS MATERIALIZED (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
),
first AS (
  SELECT user_id, MIN(d) AS first_d FROM actives GROUP BY 1
),
daily AS (
  SELECT strftime(a.d, '%Y-%m-%d') AS day,
         CAST(COUNT(*) AS BIGINT) AS dau,
         CAST(SUM(CASE WHEN a.d = f.first_d THEN 1 ELSE 0 END) AS BIGINT)
           AS new_users
  FROM actives a JOIN first f ON f.user_id = a.user_id
  GROUP BY 1
)
SELECT day, dau, new_users, dau - new_users AS returning_users,
       {_rr("dau - new_users", "GREATEST(dau, 1)", 4)} AS returning_share
FROM daily ORDER BY day
"""


from inde1_spark.operators.similarity import _ndcg_weights  # noqa: E402

_NDCG_W = _ndcg_weights(K_BUCKETED)
_NDCG_CASE = "CASE t.rank " + " ".join(
    f"WHEN {p + 1} THEN {w}" for p, w in enumerate(_NDCG_W)
) + " END"

# Twin of operators/similarity.py:ann_mrr_ndcg — identical Python-injected
# nano discounts, binary relevance vs the brute top-k, integer ratios.
ORACLES["ann_mrr_ndcg"] = f"""
WITH approx AS (
  SELECT query_id, neighbor_id, rank FROM ({ORACLES["knn_lsh_bucketed"]})
),
truth AS (
  SELECT query_id, neighbor_id FROM ({ORACLES["knn_brute_cosine"]})
  WHERE rank <= {K_BUCKETED}
),
h AS (
  SELECT t.query_id, t.rank,
         CASE WHEN tr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit,
         CASE WHEN tr.neighbor_id IS NOT NULL
              THEN {_NDCG_CASE} ELSE 0 END AS w
  FROM approx t
  LEFT JOIN truth tr
    ON tr.query_id = t.query_id AND tr.neighbor_id = t.neighbor_id
),
per_q AS (
  SELECT query_id,
         CAST(SUM(hit) AS BIGINT) AS hits,
         CAST(MIN(CASE WHEN hit = 1 THEN rank END) AS BIGINT)
           AS first_rel_rank,
         CAST(SUM(w) AS BIGINT) AS dcg_nano
  FROM h GROUP BY 1
)
SELECT query_id, hits, first_rel_rank,
       COALESCE(CAST(1000000 // first_rel_rank AS BIGINT), 0) AS mrr_micro,
       CAST((dcg_nano * 1000000) // {sum(_NDCG_W)} AS BIGINT) AS ndcg_micro
FROM per_q ORDER BY query_id
"""


from inde1_spark.operators.dedup import (  # noqa: E402
    PLANNER_CONFIGS,
    PLANNER_DUP_MIN_PERMS,
)


def _sq_sql(expr: str, e: int) -> str:
    """Textual repeated squaring — the same multiply chain the operator
    builds with Column ops, so both engines run identical IEEE products."""
    while e > 1:
        expr = f"({expr} * {expr})"
        e //= 2
    return expr


_PLANNER_BLOCKS = "\nUNION ALL\n".join(
    f"""SELECT CAST({b} AS BIGINT) AS bands, CAST({r} AS BIGINT) AS rows_per_band,
       k, cnt,
       CAST(round((1.0 - {_sq_sql(f'(1.0 - {_sq_sql("(CAST(k AS DOUBLE) / 32.0)", r)})', b)}) * 1e6, 0) AS BIGINT) AS p_micro,
       k >= {PLANNER_DUP_MIN_PERMS} AS is_dup
  FROM kh"""
    for b, r in PLANNER_CONFIGS
)

# Twin of operators/dedup.py:lsh_rebanding_planner — nests the estimator
# audit, same squaring chains, same micro-long expectations.
ORACLES["lsh_rebanding_planner"] = f"""
WITH kh AS (
  SELECT n_match_perms AS k, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM ({ORACLES["minhash_est_jaccard"]})
  GROUP BY 1
),
cfg AS (
{_PLANNER_BLOCKS}
),
agg AS (
  SELECT bands, rows_per_band,
         CAST(SUM(cnt) AS BIGINT) AS n_pairs,
         CAST(SUM(CASE WHEN is_dup THEN cnt ELSE 0 END) AS BIGINT)
           AS n_dup_pairs,
         CAST(SUM(cnt * p_micro) AS BIGINT) AS ret_micro,
         CAST(SUM(CASE WHEN is_dup THEN cnt * p_micro ELSE 0 END) AS BIGINT)
           AS dup_ret_micro
  FROM cfg GROUP BY 1, 2
)
SELECT bands, rows_per_band, n_pairs, n_dup_pairs,
       CAST(ret_micro AS DOUBLE) / 1e6 AS expected_candidates,
       CAST(dup_ret_micro // GREATEST(n_dup_pairs, 1) AS DOUBLE) / 1e6
         AS est_recall
FROM agg ORDER BY bands DESC
"""


from inde1_spark.operators.analytics import HALFLIFE_MAX_AGE  # noqa: E402

# Twin of operators/analytics.py:halflife_popularity — identical exact
# power-of-two weights, HUGEINT sum, digit-split double reconstruction.
ORACLES["halflife_popularity"] = f"""
WITH base AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
  FROM events
),
anchor AS (SELECT MAX(d) AS max_d FROM base),
agg AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN max_d - d <= {HALFLIFE_MAX_AGE}
                       THEN CAST(1 AS HUGEINT)
                            << ({HALFLIFE_MAX_AGE} - (max_d - d))
                       ELSE 0 END) AS HUGEINT) AS w_sum
  FROM base CROSS JOIN anchor
  GROUP BY 1
)
SELECT event_type, n_events,
       {_dec2d('w_sum')} / {float(2 ** HALFLIFE_MAX_AGE)!r} AS decayed_score
FROM agg
ORDER BY decayed_score DESC, event_type ASC
"""


from inde1_spark.operators.corpus import CORRUPT_SPAN, CORRUPT_WINDOW  # noqa: E402

# Twin of operators/corpus.py:span_corruption_plan — identical md5 offset
# derivation per (doc, window).
ORACLES["span_corruption_plan"] = f"""
WITH base AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS n_tokens
  FROM documents
),
wins AS (
  SELECT doc_id, n_tokens,
         CAST(floor(n_tokens / {CORRUPT_WINDOW}) AS BIGINT) AS n_win
  FROM base WHERE n_tokens >= {CORRUPT_WINDOW}
),
spans AS (
  SELECT doc_id, n_tokens, u.w AS span_idx
  FROM wins, UNNEST(range(0, n_win)) AS u(w)
)
SELECT doc_id, n_tokens, CAST(span_idx AS BIGINT) AS span_idx,
       CAST(span_idx * {CORRUPT_WINDOW}
            + (CAST(concat('0x', substr(md5(concat_ws('_',
                 CAST(doc_id AS VARCHAR), CAST(span_idx AS VARCHAR))), 1, 8))
               AS BIGINT) % {CORRUPT_WINDOW - CORRUPT_SPAN + 1})
            + 1 AS BIGINT) AS start_token,
       CAST({CORRUPT_SPAN} AS BIGINT) AS span_len
FROM spans
ORDER BY doc_id, span_idx
"""


from inde1_spark.operators.dedup import KCORE_KS, KCORE_ROUNDS  # noqa: E402


def _kcore_ctes(k: int, rounds: int) -> str:
    # every CTE MATERIALIZED: DuckDB inlines plain CTEs, and each round
    # references the previous one ~5 times — unmaterialized, the base
    # query would be inlined 5^rounds times (measured: a 15-minute hang)
    parts = []
    prev = "edges0"
    for i in range(rounds):
        parts.append(
            f"deg{k}_{i} AS MATERIALIZED (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM\n"
            f"  (SELECT doc_a AS u FROM {prev}\n"
            f"   UNION ALL SELECT doc_b FROM {prev}) GROUP BY 1),\n"
            f"e{k}_{i + 1} AS MATERIALIZED (SELECT e.doc_a, e.doc_b FROM {prev} e\n"
            f"  JOIN deg{k}_{i} da ON da.u = e.doc_a AND da.deg >= {k}\n"
            f"  JOIN deg{k}_{i} db ON db.u = e.doc_b AND db.deg >= {k})"
        )
        prev = f"e{k}_{i + 1}"
    return ",\n".join(parts)


_KCORE_FINAL = "\nUNION ALL\n".join(
    f"""SELECT CAST({k} AS BIGINT) AS k,
       (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) FROM
          (SELECT doc_a AS u FROM e{k}_{KCORE_ROUNDS}
           UNION ALL SELECT doc_b FROM e{k}_{KCORE_ROUNDS})) AS n_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e{k}_{KCORE_ROUNDS}) AS n_edges"""
    for k in KCORE_KS
)

# Twin of operators/dedup.py:kcore_dup_graph — the peeling rounds unrolled
# as chained CTEs over the exact-Jaccard edge set.
ORACLES["kcore_dup_graph"] = f"""
WITH edges0 AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({ORACLES["dedup_ngram_jaccard"]})
),
{",".join(_kcore_ctes(k, KCORE_ROUNDS) for k in KCORE_KS)}
SELECT * FROM (
{_KCORE_FINAL}
) ORDER BY k
"""


from inde1_spark.operators.dedup import SWEEP_THRESHOLDS_PCT  # noqa: E402

_SWEEP_BLOCKS = "\nUNION ALL\n".join(
    f"""SELECT CAST({t} AS BIGINT) AS threshold_pct,
       CAST(SUM(CASE WHEN jac_ppm >= {t * 10_000} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact,
       CAST(SUM(CASE WHEN est_ppm >= {t * 10_000} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_est,
       CAST(SUM(CASE WHEN jac_ppm >= {t * 10_000}
                      AND est_ppm >= {t * 10_000} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_both
  FROM est"""
    for t in SWEEP_THRESHOLDS_PCT
)

# Twin of operators/dedup.py:dedup_threshold_sweep — nests the estimator
# audit, identical ppm snaps and guarded micro floor-divs.
ORACLES["dedup_threshold_sweep"] = f"""
WITH est AS MATERIALIZED (
  SELECT CAST(round(est_jaccard * 1e6, 0) AS BIGINT) AS est_ppm,
         CAST(round(jaccard * 1e6, 0) AS BIGINT) AS jac_ppm
  FROM ({ORACLES["minhash_est_jaccard"]})
),
sweep AS (
{_SWEEP_BLOCKS}
)
SELECT threshold_pct, n_exact, n_est, n_both,
       (n_both * 1000000) // GREATEST(n_est, 1) AS precision_micro,
       (n_both * 1000000) // GREATEST(n_exact, 1) AS recall_micro
FROM sweep ORDER BY threshold_pct
"""


from inde1_spark.operators.joins import BLOOM_SWEEP_CONFIGS  # noqa: E402

# Twin of operators/joins.py:bloom_parameter_sweep — the parameterized
# audit SQL instantiated per configuration.
ORACLES["bloom_parameter_sweep"] = "\nUNION ALL\n".join(
    f"SELECT CAST({m} AS BIGINT) AS m_bits, CAST({k} AS BIGINT) AS n_hashes,"
    f" q.* FROM ({_bloom_audit_sql(m, k)}) q"
    for m, k in BLOOM_SWEEP_CONFIGS
) + "\nORDER BY m_bits, n_hashes"


from inde1_spark.operators.similarity import (  # noqa: E402
    MMR_DEN,
    MMR_NUM,
    MMR_POOL,
)

_MMR_A = MMR_NUM
_MMR_B = MMR_DEN - MMR_NUM

# Twin of operators/similarity.py:knn_mmr_rerank — the LSH pool at
# k=MMR_POOL, pool^2 pairwise fixed-point cosines, and the greedy
# selection rounds unrolled as MATERIALIZED CTEs (the kcore rule). The
# MMR score stays the x10 integer 7*rel - 3*red: same order, no division.
ORACLES["knn_mmr_rerank"] = f"""
WITH {_NORMS.strip().rstrip()},
buckets AS (
  SELECT vec_id, CAST({_BUCKET_EXPR} AS BIGINT) AS bucket FROM embeddings
),
qprobes AS (
  SELECT vec_id, unnest([{_PROBE_LIST}]) AS probe
  FROM buckets WHERE vec_id < {N_QUERIES}
),
dots AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_FIXED_DOT} AS dot
  FROM qprobes qa
  JOIN buckets bb ON qa.probe = bb.bucket AND qa.vec_id <> bb.vec_id
  JOIN embeddings a ON a.vec_id = qa.vec_id
  JOIN embeddings b ON b.vec_id = bb.vec_id,
       UNNEST(generate_series(1, {EMB_DIM})) AS u(i)
  GROUP BY 1, 2
),
scored AS (
  SELECT query_id, neighbor_id, ROUND(dot / (na.nrm * nb.nrm), 6) AS cos_sim
  FROM dots
  JOIN norms na ON na.vec_id = query_id
  JOIN norms nb ON nb.vec_id = neighbor_id
),
cands AS MATERIALIZED (
  SELECT query_id, neighbor_id,
         CAST(round(cos_sim * 1e6, 0) AS BIGINT) AS rel
  FROM (
    SELECT query_id, neighbor_id, cos_sim,
           row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {MMR_POOL}
),
pdots AS (
  SELECT c1.query_id, c1.neighbor_id AS pa, c2.neighbor_id AS pb,
         {_FIXED_DOT} AS dot
  FROM cands c1
  JOIN cands c2 ON c1.query_id = c2.query_id
              AND c1.neighbor_id <> c2.neighbor_id
  JOIN embeddings a ON a.vec_id = c1.neighbor_id
  JOIN embeddings b ON b.vec_id = c2.neighbor_id,
       UNNEST(generate_series(1, {EMB_DIM})) AS u(i)
  GROUP BY 1, 2, 3
),
psim AS MATERIALIZED (
  SELECT p.query_id, p.pa, p.pb,
         CAST(round(ROUND(p.dot / (wa.nrm * wb.nrm), 6) * 1e6, 0) AS BIGINT)
           AS sim
  FROM pdots p
  JOIN norms wa ON wa.vec_id = p.pa
  JOIN norms wb ON wb.vec_id = p.pb
),
sel1 AS MATERIALIZED (
  SELECT query_id, neighbor_id, rel FROM (
    SELECT query_id, neighbor_id, rel,
           row_number() OVER (PARTITION BY query_id
             ORDER BY rel DESC, neighbor_id ASC) AS rn
    FROM cands
  ) WHERE rn = 1
),
red2 AS MATERIALIZED (
  SELECT c.query_id, c.neighbor_id, c.rel, MAX(p.sim) AS red
  FROM cands c
  JOIN psim p ON p.query_id = c.query_id AND p.pa = c.neighbor_id
  JOIN sel1 s ON s.query_id = p.query_id AND s.neighbor_id = p.pb
  WHERE NOT EXISTS (SELECT 1 FROM sel1 s2
                    WHERE s2.query_id = c.query_id
                      AND s2.neighbor_id = c.neighbor_id)
  GROUP BY 1, 2, 3
),
sel2 AS MATERIALIZED (
  SELECT query_id, neighbor_id, rel, red FROM (
    SELECT query_id, neighbor_id, rel, red,
           row_number() OVER (PARTITION BY query_id
             ORDER BY ({_MMR_A} * rel - {_MMR_B} * red) DESC,
                      neighbor_id ASC) AS rn
    FROM red2
  ) WHERE rn = 1
),
sel12 AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM sel1
  UNION ALL SELECT query_id, neighbor_id FROM sel2
),
red3 AS MATERIALIZED (
  SELECT c.query_id, c.neighbor_id, c.rel, MAX(p.sim) AS red
  FROM cands c
  JOIN psim p ON p.query_id = c.query_id AND p.pa = c.neighbor_id
  JOIN sel12 s ON s.query_id = p.query_id AND s.neighbor_id = p.pb
  WHERE NOT EXISTS (SELECT 1 FROM sel12 s2
                    WHERE s2.query_id = c.query_id
                      AND s2.neighbor_id = c.neighbor_id)
  GROUP BY 1, 2, 3
),
sel3 AS MATERIALIZED (
  SELECT query_id, neighbor_id, rel, red FROM (
    SELECT query_id, neighbor_id, rel, red,
           row_number() OVER (PARTITION BY query_id
             ORDER BY ({_MMR_A} * rel - {_MMR_B} * red) DESC,
                      neighbor_id ASC) AS rn
    FROM red3
  ) WHERE rn = 1
)
SELECT query_id, CAST(1 AS BIGINT) AS mmr_rank, neighbor_id,
       rel AS rel_micro, CAST(0 AS BIGINT) AS redundancy_micro
FROM sel1
UNION ALL
SELECT query_id, CAST(2 AS BIGINT), neighbor_id, rel, red FROM sel2
UNION ALL
SELECT query_id, CAST(3 AS BIGINT), neighbor_id, rel, red FROM sel3
ORDER BY query_id, mmr_rank
"""


from inde1_spark.operators.corpus import COVER_K  # noqa: E402


def _cover_ctes(k: int) -> str:
    # unrolled greedy rounds, every CTE MATERIALIZED (the kcore rule)
    parts = []
    prev_cov = None
    for r in range(1, k + 1):
        rem = (
            "dt"
            if prev_cov is None
            else f"(SELECT dt.* FROM dt LEFT JOIN {prev_cov} c"
                 f" ON c.term = dt.term WHERE c.term IS NULL)"
        )
        parts.append(
            f"g{r} AS MATERIALIZED (SELECT doc_id,"
            f" CAST(COUNT(*) AS BIGINT) AS marginal_gain FROM {rem} GROUP BY 1),\n"
            f"sel{r} AS MATERIALIZED (SELECT MIN(doc_id) AS doc_id,"
            f" MAX(marginal_gain) AS marginal_gain FROM g{r}"
            f" WHERE marginal_gain = (SELECT MAX(marginal_gain) FROM g{r})),\n"
            f"cov{r} AS MATERIALIZED (SELECT DISTINCT term FROM dt"
            f" WHERE doc_id IN (SELECT doc_id FROM sel{r})"
            + (f" UNION SELECT term FROM {prev_cov}" if prev_cov else "")
            + ")"
        )
        prev_cov = f"cov{r}"
    return ",\n".join(parts)


_COVER_FINAL = "\nUNION ALL\n".join(
    f"""SELECT CAST({r} AS BIGINT) AS round, s.doc_id, s.marginal_gain,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cov{r}) AS covered_terms
  FROM sel{r} s WHERE s.doc_id IS NOT NULL"""
    for r in range(1, COVER_K + 1)
)

# Twin of operators/corpus.py:coverage_select — identical greedy rounds.
ORACLES["coverage_select"] = f"""
WITH dt AS MATERIALIZED (
  SELECT DISTINCT doc_id, t.term
  FROM (
    SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
    FROM documents
  ), UNNEST(toks) AS t(term)
),
{_cover_ctes(COVER_K)}
SELECT * FROM (
{_COVER_FINAL}
) ORDER BY round
"""


from inde1_spark.operators.analytics import CONF_COVERAGE_PCT  # noqa: E402

_CONF_SLOPE = (
    f"((CAST(n_train AS DOUBLE) * {_dec2d('sxy')} - {_dec2d('sx')} * {_dec2d('sy')})"
    f" / (CAST(n_train AS DOUBLE) * {_dec2d('sxx')} - {_dec2d('sx')} * {_dec2d('sx')}))"
)
_CONF_INTER = (
    f"(({_dec2d('sy')} - {_CONF_SLOPE} * {_dec2d('sx')}) / CAST(n_train AS DOUBLE))"
)

# Twin of operators/analytics.py:forecast_conformal — identical split,
# train moments, micro-unit residual snap, and order-statistic quantile.
ORACLES["forecast_conformal"] = f"""
WITH daily AS MATERIALIZED (
  SELECT event_type, {_DAY} AS day,
         CAST(floor({_dsum("value")} * 1e6 + 0.5) AS BIGINT) AS y_micro
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01', CAST(day AS DATE)) AS BIGINT)
           AS x,
         y_micro
  FROM daily
),
rng AS (
  SELECT event_type, MIN(x) AS x_min, MAX(x) AS x_max,
         MIN(x) + (MAX(x) - MIN(x)) // 2 AS x_split
  FROM m GROUP BY 1
),
m2 AS (
  SELECT m.*, r.x_min, r.x_max, r.x_split
  FROM m JOIN rng r ON r.event_type = m.event_type
),
stats AS MATERIALIZED (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_train,
         SUM(x) AS sx, SUM(y_micro) AS sy,
         SUM(CAST(x AS HUGEINT) * y_micro) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx
  FROM m2 WHERE x <= x_split GROUP BY 1
  HAVING COUNT(*) >= 2
),
fitted AS MATERIALIZED (
  SELECT event_type, n_train,
         {_CONF_SLOPE} AS slope_u, {_CONF_INTER} AS inter_u
  FROM stats
),
calib AS MATERIALIZED (
  SELECT c.event_type, c.x, c.x_max,
         CAST(round(abs(CAST(c.y_micro AS DOUBLE)
                        - (f.inter_u + f.slope_u * c.x)), 0) AS BIGINT) AS res
  FROM m2 c JOIN fitted f ON f.event_type = c.event_type
  WHERE c.x > c.x_split
),
ranked AS (
  SELECT event_type, res,
         CAST(row_number() OVER (PARTITION BY event_type
           ORDER BY res ASC, x ASC) AS BIGINT) AS rk
  FROM calib
),
nc AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_calib
       FROM calib GROUP BY 1),
q AS (
  SELECT r.event_type, r.res AS q_res, nc.n_calib
  FROM ranked r JOIN nc ON nc.event_type = r.event_type
  WHERE r.rk = LEAST(({CONF_COVERAGE_PCT} * (nc.n_calib + 1) + 99) // 100,
                     nc.n_calib)
)
SELECT f.event_type, f.n_train, q.n_calib,
       f.slope_u / 1e6 AS slope_per_day,
       r.x_max + 1 AS next_day_x,
       (f.inter_u + f.slope_u * (r.x_max + 1)) / 1e6 AS forecast,
       (f.inter_u + f.slope_u * (r.x_max + 1)) / 1e6
         - CAST(q.q_res AS DOUBLE) / 1e6 AS lo,
       (f.inter_u + f.slope_u * (r.x_max + 1)) / 1e6
         + CAST(q.q_res AS DOUBLE) / 1e6 AS hi
FROM fitted f
JOIN q ON q.event_type = f.event_type
JOIN rng r ON r.event_type = f.event_type
ORDER BY f.event_type
"""


from inde1_spark.operators.dedup import BBIT_B  # noqa: E402

_BBIT_MASK = (1 << BBIT_B) - 1
_BBIT_POW = 1 << BBIT_B

# Twin of operators/dedup.py:bbit_minhash_est — the estimator audit's
# exact shingle/signature/banding CTEs plus the masked equality and the
# clamped, collision-corrected ppm estimator.
ORACLES["bbit_minhash_est"] = f"""
WITH {_SHINGLES},
shid AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT)
           % {MINHASH_PRIME} AS sid
  FROM sh
),
sigs AS MATERIALIZED (
  SELECT doc_id,
         {", ".join(f"MIN(({a} * sid + {b}) % {MINHASH_PRIME}) AS mh_{pid}" for pid, a, b in PERMS_FAST)}
  FROM shid GROUP BY doc_id
),
bands AS (
  {" UNION ALL ".join(
      "SELECT doc_id, " + str(b) + " AS band, "
      + "concat_ws(',', " + ", ".join(
          f"CAST(mh_{b * (FAST_N_PERM // FAST_N_BANDS) + r} AS VARCHAR)"
          for r in range(FAST_N_PERM // FAST_N_BANDS)
      ) + ") AS sig FROM sigs"
      for b in range(FAST_N_BANDS)
  )}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
m AS (
  SELECT c.doc_a, c.doc_b,
         CAST({" + ".join(f"(CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END)" for i in range(FAST_N_PERM))} AS BIGINT)
           AS n_full,
         CAST({" + ".join(f"(CASE WHEN (sa.mh_{i} & {_BBIT_MASK}) = (sb.mh_{i} & {_BBIT_MASK}) THEN 1 ELSE 0 END)" for i in range(FAST_N_PERM))} AS BIGINT)
           AS n_bbit
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.doc_a
  JOIN sigs sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, n_full, n_bbit,
       CAST(n_full * {1_000_000 // FAST_N_PERM} AS DOUBLE) / 1e6 AS est_full,
       CAST((GREATEST(n_bbit * {_BBIT_POW} - {FAST_N_PERM}, 0) * 1000000)
            // {FAST_N_PERM * (_BBIT_POW - 1)} AS DOUBLE) / 1e6 AS est_bbit
FROM m ORDER BY doc_a, doc_b
"""


from inde1_spark.operators.analytics import MOM_RESCALE  # noqa: E402

# Twin of operators/analytics.py:moments_profile — identical micro snap,
# min-pivot nonneg residuals, centi rescale, HUGEINT power sums and the
# digit-split binomial-shift double chain.
ORACLES["moments_profile"] = f"""
WITH base AS MATERIALIZED (
  SELECT event_type,
         CAST(floor(CAST(value AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS y
  FROM events
),
piv AS (SELECT event_type, MIN(y) AS y_min FROM base GROUP BY 1),
r AS (
  SELECT b.event_type, b.y,
         (b.y - p.y_min) // {MOM_RESCALE} AS rd, p.y_min
  FROM base b JOIN piv p ON p.event_type = b.event_type
),
stats AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS s1,
         MIN(y_min) AS y_min,
         CAST(SUM(CAST(rd AS HUGEINT)) AS HUGEINT) AS m1,
         CAST(SUM(CAST(rd AS HUGEINT) * rd) AS HUGEINT) AS m2,
         CAST(SUM(CAST(rd AS HUGEINT) * rd * rd) AS HUGEINT) AS m3,
         CAST(SUM(CAST(rd AS HUGEINT) * rd * rd * rd) AS HUGEINT) AS m4
  FROM r GROUP BY 1
  HAVING COUNT(*) >= 2
),
mom AS (
  SELECT event_type, n,
         {_dec2d('s1')} / CAST(n AS DOUBLE) / 1e6 AS mean,
         GREATEST({_dec2d('m2')} / CAST(n AS DOUBLE)
                  - ({_dec2d('m1')} / CAST(n AS DOUBLE))
                    * ({_dec2d('m1')} / CAST(n AS DOUBLE)), 0.0) AS mu2,
         {_dec2d('m3')} / CAST(n AS DOUBLE)
           - 3.0 * ({_dec2d('m1')} / CAST(n AS DOUBLE))
                 * ({_dec2d('m2')} / CAST(n AS DOUBLE))
           + 2.0 * ({_dec2d('m1')} / CAST(n AS DOUBLE))
                 * ({_dec2d('m1')} / CAST(n AS DOUBLE))
                 * ({_dec2d('m1')} / CAST(n AS DOUBLE)) AS mu3,
         {_dec2d('m4')} / CAST(n AS DOUBLE)
           - 4.0 * ({_dec2d('m1')} / CAST(n AS DOUBLE))
                 * ({_dec2d('m3')} / CAST(n AS DOUBLE))
           + 6.0 * ({_dec2d('m1')} / CAST(n AS DOUBLE))
                 * ({_dec2d('m1')} / CAST(n AS DOUBLE))
                 * ({_dec2d('m2')} / CAST(n AS DOUBLE))
           - 3.0 * ({_dec2d('m1')} / CAST(n AS DOUBLE))
                 * ({_dec2d('m1')} / CAST(n AS DOUBLE))
                 * ({_dec2d('m1')} / CAST(n AS DOUBLE))
                 * ({_dec2d('m1')} / CAST(n AS DOUBLE)) AS mu4
  FROM stats
)
SELECT event_type, n, mean,
       sqrt(mu2) * {MOM_RESCALE / 1e6!r} AS stddev,
       mu3 / (mu2 * sqrt(mu2)) AS skewness,
       mu4 / (mu2 * mu2) - 3.0 AS kurtosis_excess
FROM mom WHERE mu2 > 0
ORDER BY event_type
"""


from inde1_spark.operators.analytics import MW_RESCALE  # noqa: E402

# Twin of operators/analytics.py:mann_whitney_pairs — identical quantized
# histograms, x2 tied ranks, HUGEINT sums, digit-split double chain.
ORACLES["mann_whitney_pairs"] = f"""
WITH raw AS (
  SELECT event_type,
         CAST(floor(CAST(value AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS y
  FROM events
),
gmin AS (SELECT MIN(y) AS y_min FROM raw),
hist AS MATERIALIZED (
  SELECT event_type, (y - y_min) // {MW_RESCALE} AS v,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM raw CROSS JOIN gmin
  GROUP BY 1, 2
),
t AS (SELECT DISTINCT event_type FROM hist),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM t a CROSS JOIN t b WHERE a.event_type < b.event_type
),
merged AS (
  SELECT type_a, type_b, v,
         CAST(SUM(ca) AS BIGINT) AS ca, CAST(SUM(cb) AS BIGINT) AS cb
  FROM (
    SELECT p.type_a, p.type_b, h.v, h.cnt AS ca, CAST(0 AS BIGINT) AS cb
    FROM pairs p JOIN hist h ON h.event_type = p.type_a
    UNION ALL
    SELECT p.type_a, p.type_b, h.v, CAST(0 AS BIGINT), h.cnt
    FROM pairs p JOIN hist h ON h.event_type = p.type_b
  )
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT type_a, type_b, v, ca, cb,
         2 * COALESCE(SUM(ca + cb) OVER (PARTITION BY type_a, type_b
             ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + (ca + cb) + 1 AS rank2
  FROM merged
),
stats AS (
  SELECT type_a, type_b,
         CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
         CAST(SUM(CAST(ca AS HUGEINT) * rank2) AS HUGEINT) AS ra2,
         CAST(SUM(CAST(ca + cb AS HUGEINT) * (ca + cb) * (ca + cb)
                  - (ca + cb)) AS HUGEINT) AS ties
  FROM ranked GROUP BY 1, 2
),
scored AS (
  SELECT type_a, type_b, na, nb,
         {_dec2d('ra2')} - CAST(na AS DOUBLE) * (CAST(na AS DOUBLE) + 1.0)
           AS u2,
         (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0)
           * ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0)
              - {_dec2d('ties')}
                / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                   * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 1.0)))
           AS var_u
  FROM stats WHERE na >= 1 AND nb >= 1
)
SELECT type_a, type_b, na, nb,
       u2 / 2.0 AS u_a,
       (u2 - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
         / (2.0 * sqrt(var_u)) AS z
FROM scored WHERE var_u > 0
ORDER BY type_a, type_b
"""


# Twin of operators/analytics.py:theil_sen_slope — identical bounded pair
# join, micro-double slopes, lower-median order statistic.
ORACLES["theil_sen_slope"] = f"""
WITH daily AS MATERIALIZED (
  SELECT event_type, {_DAY} AS day,
         CAST(floor({_dsum("value")} * 1e6 + 0.5) AS BIGINT) AS y_micro
  FROM events GROUP BY 1, 2
),
m AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01', CAST(day AS DATE)) AS BIGINT)
           AS x,
         y_micro
  FROM daily
),
pairs AS (
  SELECT a.event_type, a.x AS x1, b.x AS x2,
         CAST(b.y_micro - a.y_micro AS DOUBLE)
           / CAST(b.x - a.x AS DOUBLE) AS slope_u
  FROM m a JOIN m b ON a.event_type = b.event_type AND a.x < b.x
),
ranked AS (
  SELECT event_type, slope_u,
         CAST(row_number() OVER (PARTITION BY event_type
           ORDER BY slope_u ASC, x1 ASC, x2 ASC) AS BIGINT) AS rk,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_pairs
  FROM pairs
),
nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days FROM m GROUP BY 1)
SELECT r.event_type, nd.n_days, r.n_pairs,
       r.slope_u / 1e6 AS theil_sen_slope
FROM ranked r JOIN nd ON nd.event_type = r.event_type
WHERE r.rk = (r.n_pairs + 1) // 2
ORDER BY r.event_type
"""


# Twin of operators/analytics.py:kruskal_wallis — identical value-histogram
# ranks, micro-rounded per-group quotients, digit-split conversions.
ORACLES["kruskal_wallis"] = f"""
WITH raw AS (
  SELECT event_type,
         CAST(floor(CAST(value AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS y
  FROM events
),
gmin AS (SELECT MIN(y) AS y_min FROM raw),
hist AS MATERIALIZED (
  SELECT event_type, (y - y_min) // {MW_RESCALE} AS v,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM raw CROSS JOIN gmin
  GROUP BY 1, 2
),
merged AS MATERIALIZED (
  SELECT v, CAST(SUM(cnt) AS BIGINT) AS m FROM hist GROUP BY 1
),
ranked AS (
  SELECT v, m,
         2 * COALESCE(SUM(m) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + m + 1 AS rank2
  FROM merged
),
per_type AS (
  SELECT h.event_type,
         CAST(SUM(h.cnt) AS BIGINT) AS n_h,
         CAST(SUM(CAST(h.cnt AS HUGEINT) * r.rank2) AS HUGEINT) AS r2_h
  FROM hist h JOIN ranked r ON r.v = h.v
  GROUP BY 1
),
quot AS (
  SELECT n_h,
         (r2_h * r2_h * 1000000 * 2 + CAST(n_h AS HUGEINT))
           // (CAST(n_h AS HUGEINT) * 2) AS q_micro
  FROM per_type
),
stats AS (
  SELECT CAST(SUM(n_h) AS BIGINT) AS n_total,
         CAST(COUNT(*) AS BIGINT) AS k_groups,
         CAST(SUM(q_micro) AS HUGEINT) AS s_micro
  FROM quot
),
ties AS (
  SELECT CAST(SUM(CAST(m AS HUGEINT) * m * m - m) AS HUGEINT) AS tie_sum
  FROM merged
),
scored AS (
  SELECT n_total, k_groups,
         {_dec2d('s_micro')} / 1e6 * 3.0
           / (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) + 1.0))
           - 3.0 * (CAST(n_total AS DOUBLE) + 1.0) AS h_stat,
         1.0 - {_dec2d('tie_sum')}
           / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
              * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE))
           AS tie_correction
  FROM stats CROSS JOIN ties
  WHERE n_total > k_groups AND k_groups > 1
)
SELECT n_total, k_groups, h_stat, tie_correction,
       h_stat / tie_correction AS h_tied
FROM scored WHERE tie_correction > 0
"""


# Twin of operators/analytics.py:spearman_corr — identical histogram ranks,
# one-pass HUGEINT moments, digit-split + IEEE sqrt/divide emission.
def _spearman_sql() -> str:
    from inde1_spark.operators.analytics import SPEARMAN_COLS

    snap = ", ".join(
        f"CAST(floor(CAST({c} AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS v_{i}"
        for i, c in enumerate(SPEARMAN_COLS)
    )
    rmaps = ",\n".join(
        f"""r{i} AS MATERIALIZED (
  SELECT val, 2 * COALESCE(SUM(m) OVER (ORDER BY val
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + m + 1 AS r
  FROM (SELECT v_{i} AS val, CAST(COUNT(*) AS BIGINT) AS m
        FROM rows_ GROUP BY 1)
)"""
        for i in range(4)
    )
    joins = " ".join(f"JOIN r{i} ON r{i}.val = rows_.v_{i}" for i in range(4))
    rcols = ", ".join(f"r{i}.r AS r_{i}" for i in range(4))
    sums = ", ".join(
        f"CAST(SUM(CAST(r_{i} AS HUGEINT)) AS HUGEINT) AS s_{i}, "
        f"CAST(SUM(CAST(r_{i} AS HUGEINT) * r_{i}) AS HUGEINT) AS ss_{i}"
        for i in range(4)
    )
    cross = ", ".join(
        f"CAST(SUM(CAST(r_{i} AS HUGEINT) * r_{j}) AS HUGEINT) AS sx_{i}_{j}"
        for i in range(4)
        for j in range(i + 1, 4)
    )
    parts = []
    for i in range(4):
        for j in range(i + 1, 4):
            num = f"(CAST(n AS HUGEINT) * sx_{i}_{j} - s_{i} * s_{j})"
            va = f"(CAST(n AS HUGEINT) * ss_{i} - s_{i} * s_{i})"
            vb = f"(CAST(n AS HUGEINT) * ss_{j} - s_{j} * s_{j})"
            parts.append(
                f"SELECT '{SPEARMAN_COLS[i]}' AS col_a, "
                f"'{SPEARMAN_COLS[j]}' AS col_b, n, "
                f"{_dec2d(num)} / (sqrt({_dec2d(va)}) * sqrt({_dec2d(vb)})) AS rho "
                f"FROM mom WHERE {va} > 0 AND {vb} > 0"
            )
    union = "\nUNION ALL\n".join(parts)
    return f"""
WITH rows_ AS MATERIALIZED (SELECT {snap} FROM lineitem),
{rmaps},
joined AS (SELECT {rcols} FROM rows_ {joins}),
mom AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, {sums}, {cross} FROM joined
)
SELECT * FROM ({union}) ORDER BY col_a, col_b
"""


ORACLES["spearman_corr"] = _spearman_sql()


# Twin of operators/analytics.py:cramers_v_matrix — densified cells, exact
# HUGEINT micro-grid chi2 per pair, identical final double ops.
def _cramers_sql() -> str:
    from inde1_spark.operators.analytics import CRAMERS_BUCKET

    dims = {
        "event_type": "event_type",
        "iso_dow": "CAST(isodow(ts) AS BIGINT)",
        "v_bucket": (
            "CAST(floor(CAST(value AS DOUBLE) * 1e6 + 0.5) AS BIGINT)"
            f" // {CRAMERS_BUCKET}"
        ),
    }
    pair_list = [
        ("event_type", "iso_dow"),
        ("event_type", "v_bucket"),
        ("iso_dow", "v_bucket"),
    ]
    parts = []
    for a, b in pair_list:
        parts.append(f"""
SELECT '{a}' AS dim_a, '{b}' AS dim_b, n_total, card_a, card_b, chi2_micro
FROM (
  WITH raw AS MATERIALIZED (
    SELECT CAST({dims[a]} AS VARCHAR) AS ka, CAST({dims[b]} AS VARCHAR) AS kb,
           CAST(COUNT(*) AS BIGINT) AS observed
    FROM events GROUP BY 1, 2
  ),
  cells AS (
    SELECT g.ka, g.kb, COALESCE(r.observed, 0) AS observed
    FROM (SELECT ka FROM raw GROUP BY 1) ca
    CROSS JOIN (SELECT kb FROM raw GROUP BY 1) cb
    JOIN LATERAL (SELECT ca.ka AS ka, cb.kb AS kb) g ON TRUE
    LEFT JOIN raw r ON r.ka = g.ka AND r.kb = g.kb
  ),
  marg AS (
    SELECT ka, kb, observed,
           CAST(SUM(observed) OVER (PARTITION BY ka) AS HUGEINT) AS row_tot,
           CAST(SUM(observed) OVER (PARTITION BY kb) AS HUGEINT) AS col_tot,
           CAST(SUM(observed) OVER () AS HUGEINT) AS n_tot,
           CAST(COUNT(DISTINCT ka) OVER () AS BIGINT) AS r,
           CAST(COUNT(DISTINCT kb) OVER () AS BIGINT) AS c
    FROM cells
  ),
  contrib AS (
    SELECT n_tot, r, c,
           (SELECT x FROM (SELECT
              ((CAST(observed AS HUGEINT) * 1000000 - e_micro)
               * (CAST(observed AS HUGEINT) * 1000000 - e_micro) * 2
               + GREATEST(e_micro, 1))
              // (GREATEST(e_micro, 1) * 2) AS x)) AS contrib_micro
    FROM (SELECT *,
            (row_tot * col_tot * 1000000 * 2 + n_tot) // (n_tot * 2) AS e_micro
          FROM marg)
  )
  SELECT CAST(MAX(n_tot) AS BIGINT) AS n_total,
         MAX(r) AS card_a, MAX(c) AS card_b,
         CAST(SUM(contrib_micro) AS BIGINT) AS chi2_micro
  FROM contrib
)""")
    union = "\nUNION ALL\n".join(parts)
    return f"""
SELECT dim_a, dim_b, n_total, card_a, card_b,
       CAST(chi2_micro AS DOUBLE) / 1e6 AS chi2,
       sqrt((CAST(chi2_micro AS DOUBLE) / 1e6)
            / (CAST(n_total AS DOUBLE)
               * CAST(LEAST(card_a - 1, card_b - 1) AS DOUBLE))) AS cramers_v
FROM ({union})
WHERE card_a > 1 AND card_b > 1 AND n_total > 0
ORDER BY dim_a, dim_b
"""


ORACLES["cramers_v_matrix"] = _cramers_sql()


# Twin of operators/analytics.py:partition_skew_audit — identical key-count
# histogram percentile, HUGEINT milli-quotient, integer-ceil salt.
def _skew_audit_sql() -> str:
    from inde1_spark.operators.analytics import SKEW_SALT_TARGET

    keys = {
        "user_id": "CAST(user_id AS VARCHAR)",
        "event_type": "event_type",
        "day": "strftime(date_trunc('day', ts), '%Y-%m-%d')",
    }
    t = SKEW_SALT_TARGET * 1000
    parts = []
    for name, expr in keys.items():
        parts.append(f"""
SELECT '{name}' AS key_col, n_rows, n_keys, max_key_rows, p99_key_rows,
       CAST(skew_milli AS DOUBLE) / 1e3 AS skew_ratio,
       CAST(GREATEST((skew_milli + {t} - 1) // {t}, 1) AS BIGINT) AS suggested_salt
FROM (
  WITH counts AS MATERIALIZED (
    SELECT {expr} AS k, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1
  ),
  hist AS (
    SELECT cnt, CAST(COUNT(*) AS BIGINT) AS n_keys_at FROM counts GROUP BY 1
  ),
  cum AS (
    SELECT cnt, n_keys_at,
           SUM(n_keys_at) OVER (ORDER BY cnt
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_keys,
           CAST(SUM(n_keys_at) OVER () AS BIGINT) AS n_keys,
           CAST(SUM(cnt * n_keys_at) OVER () AS BIGINT) AS n_rows,
           CAST(MAX(cnt) OVER () AS BIGINT) AS max_key_rows
    FROM hist
  )
  SELECT n_keys, n_rows, max_key_rows,
         MIN(cnt) AS p99_key_rows,
         (CAST(MAX(max_key_rows) AS HUGEINT) * MAX(n_keys) * 1000 * 2
          + MAX(n_rows)) // (CAST(MAX(n_rows) AS HUGEINT) * 2) AS skew_milli
  FROM cum
  WHERE cum_keys >= (99 * n_keys + 99) // 100
  GROUP BY 1, 2, 3
)""")
    union = "\nUNION ALL\n".join(parts)
    return f"SELECT * FROM ({union}) ORDER BY key_col"


ORACLES["partition_skew_audit"] = _skew_audit_sql()


# Twin of operators/analytics.py:cross_correlation_lagged — identical daily
# micro series, per-lag exact moments, digit-split + IEEE emission.
def _ccf_sql() -> str:
    from inde1_spark.operators.analytics import CCF_MAX_LAG

    return f"""
WITH daily AS MATERIALIZED (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01',
              CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS day,
         CAST(floor({_dsum("value")} * 1e6 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
x AS (SELECT day, y AS xv FROM daily WHERE event_type = '{ENTRY}'),
yv AS (SELECT day AS yday, y AS yv FROM daily WHERE event_type = '{EXIT}'),
fan AS (
  SELECT x.day, x.xv, l.lag, x.day + l.lag AS join_day
  FROM x CROSS JOIN (SELECT unnest(range(0, {CCF_MAX_LAG} + 1)) AS lag) l
),
pairs AS (SELECT fan.lag, fan.xv, yv.yv FROM fan JOIN yv ON yv.yday = fan.join_day),
mom AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(CAST(xv AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(SUM(CAST(yv AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(SUM(CAST(xv AS HUGEINT) * yv) AS HUGEINT) AS sxy,
         CAST(SUM(CAST(xv AS HUGEINT) * xv) AS HUGEINT) AS sxx,
         CAST(SUM(CAST(yv AS HUGEINT) * yv) AS HUGEINT) AS syy
  FROM pairs GROUP BY 1
),
scored AS (
  SELECT CAST(lag AS BIGINT) AS lag, n_days,
         (CAST(n_days AS HUGEINT) * sxy - sx * sy) AS num,
         (CAST(n_days AS HUGEINT) * sxx - sx * sx) AS va,
         (CAST(n_days AS HUGEINT) * syy - sy * sy) AS vb
  FROM mom
)
SELECT lag, n_days,
       {_dec2d('num')} / (sqrt({_dec2d('va')}) * sqrt({_dec2d('vb')})) AS ccf
FROM scored WHERE va > 0 AND vb > 0 AND n_days >= 2
ORDER BY lag
"""


ORACLES["cross_correlation_lagged"] = _ccf_sql()


# Twin of operators/analytics.py:sax_symbolize — identical PAA integer means,
# exact segment moments, IEEE z and breakpoint comparisons.
def _sax_sql() -> str:
    from inde1_spark.operators.analytics import SAX_BREAK_MICRO, SAX_SEGMENT_DAYS

    brk = SAX_BREAK_MICRO / 1e6
    return f"""
WITH daily AS MATERIALIZED (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01',
              CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS day,
         CAST(floor({_dsum("value")} * 1e6 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
seg AS (
  SELECT event_type, y,
         (CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
           AS BIGINT) - 1) // {SAX_SEGMENT_DAYS} AS seg
  FROM daily
),
paa AS MATERIALIZED (
  SELECT event_type, seg, CAST(COUNT(*) AS BIGINT) AS n_days,
         (CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) * 2 + COUNT(*))
           // (CAST(COUNT(*) AS HUGEINT) * 2) AS paa_micro
  FROM seg GROUP BY 1, 2
),
mom AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_seg,
         CAST(SUM(CAST(paa_micro AS HUGEINT)) AS HUGEINT) AS s,
         CAST(SUM(CAST(paa_micro AS HUGEINT) * paa_micro) AS HUGEINT) AS ss
  FROM paa GROUP BY 1
),
scored AS (
  SELECT p.event_type, p.seg, p.n_days, p.paa_micro,
         (CAST(m.n_seg AS HUGEINT) * p.paa_micro - m.s) AS zn,
         (CAST(m.n_seg AS HUGEINT) * m.ss - m.s * m.s) AS zd
  FROM paa p JOIN mom m ON m.event_type = p.event_type
)
SELECT event_type, seg, n_days,
       CAST(paa_micro AS DOUBLE) / 1e6 AS paa,
       {_dec2d('zn')} / sqrt({_dec2d('zd')}) AS z,
       CASE WHEN {_dec2d('zn')} / sqrt({_dec2d('zd')}) < -{brk} THEN 'a'
            WHEN {_dec2d('zn')} / sqrt({_dec2d('zd')}) < 0.0 THEN 'b'
            WHEN {_dec2d('zn')} / sqrt({_dec2d('zd')}) < {brk} THEN 'c'
            ELSE 'd' END AS symbol
FROM scored WHERE zd > 0
ORDER BY event_type, seg
"""


ORACLES["sax_symbolize"] = _sax_sql()


# Twin of operators/corpus.py:stratified_sample_mad — histogram lower
# medians, HUGEINT largest-remainder apportionment, md5-order selection.
def _strat_mad_sql() -> str:
    from inde1_spark.operators.corpus import STRAT_PCT_DIV

    def lower_median(src_tbl: str, val: str, out: str) -> str:
        return f"""(
  SELECT source, CAST(MIN(val) AS BIGINT) AS {out}
  FROM (
    SELECT h.source, h.val,
           SUM(h.m) OVER (PARTITION BY h.source ORDER BY h.val
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           s.n_docs
    FROM (SELECT source, {val} AS val, CAST(COUNT(*) AS BIGINT) AS m
          FROM {src_tbl} GROUP BY 1, 2) h
    JOIN sizes s ON s.source = h.source
  ) WHERE cum >= (n_docs + 1) // 2 GROUP BY 1
)"""

    hashk = (
        "CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    )
    return f"""
WITH docs AS MATERIALIZED (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars FROM documents
),
sizes AS MATERIALIZED (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM docs GROUP BY 1
),
med AS MATERIALIZED {lower_median("docs", "n_chars", "median_chars")},
dev AS (
  SELECT d.source, abs(d.n_chars - m.median_chars) AS adev
  FROM docs d JOIN med m ON m.source = d.source
),
mad AS MATERIALIZED {lower_median("dev", "adev", "mad_chars")},
strata AS (
  SELECT s.source, s.n_docs, med.median_chars, mad.mad_chars,
         s.n_docs * GREATEST(mad.mad_chars, 1) AS weight
  FROM sizes s JOIN med ON med.source = s.source
  JOIN mad ON mad.source = s.source
),
tot AS (
  SELECT CAST(SUM(weight) AS HUGEINT) AS w_total,
         CAST(SUM(n_docs) AS BIGINT) // {STRAT_PCT_DIV} AS budget
  FROM strata
),
a0 AS (
  SELECT st.*, t.budget,
         (CAST(t.budget AS HUGEINT) * st.weight) // t.w_total AS a0,
         (CAST(t.budget AS HUGEINT) * st.weight) % t.w_total AS rem
  FROM strata st CROSS JOIN tot t
),
lo AS (
  SELECT *, budget - SUM(a0) OVER () AS leftover,
         row_number() OVER (ORDER BY rem DESC, source ASC) AS rn
  FROM a0
),
alloc AS (
  SELECT source, n_docs, median_chars, mad_chars, weight,
         LEAST(a0 + CASE WHEN rn <= leftover THEN 1 ELSE 0 END,
               CAST(n_docs AS HUGEINT)) AS alloc
  FROM lo
),
ranked_docs AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source
           ORDER BY {hashk} ASC, doc_id ASC) AS rk
  FROM docs
),
sel AS (
  SELECT r.source, CAST(COUNT(*) AS BIGINT) AS n_selected,
         CAST(SUM(r.n_chars) AS BIGINT) AS sel_chars
  FROM ranked_docs r JOIN alloc a ON a.source = r.source AND r.rk <= a.alloc
  GROUP BY 1
)
SELECT a.source, a.n_docs, a.median_chars, a.mad_chars,
       CAST(a.weight AS BIGINT) AS weight, CAST(a.alloc AS BIGINT) AS alloc,
       COALESCE(s.n_selected, 0) AS n_selected,
       COALESCE(s.sel_chars, 0) AS sel_chars
FROM alloc a LEFT JOIN sel s ON s.source = a.source
ORDER BY a.source
"""


ORACLES["stratified_sample_mad"] = _strat_mad_sql()


# Twin of operators/corpus.py:token_budget_curriculum — exact nano-scale
# quality ranking and integer greedy budget fill.
def _curriculum_sql() -> str:
    from inde1_spark.operators.corpus import CURRICULUM_BUDGET_DIV

    return f"""
WITH {_QUALITY_CTES.format(stop=_STOP_LIST).strip()},
q AS (
  SELECT doc_id, n_tokens,
         CAST(round({_rr("capped_chars * gnt + 500 * (gnt - n_stop)", "1000 * gnt", 4)} * 1e4, 0) AS BIGINT) AS q4
  FROM qm
),
per_doc AS (
  SELECT d.source, q.n_tokens, q.q4 FROM documents d JOIN q ON q.doc_id = d.doc_id
),
per_src AS MATERIALIZED (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS tokens_h,
         CAST(SUM(q4) AS BIGINT) AS sq4
  FROM per_doc GROUP BY 1
),
keyed AS (
  SELECT *, CAST((CAST(sq4 AS HUGEINT) * 1000000) // n_docs AS BIGINT) AS q_nano
  FROM per_src
),
ranked AS (
  SELECT *,
         CAST(row_number() OVER (ORDER BY q_nano DESC, source ASC) AS BIGINT) AS rank,
         CAST(SUM(tokens_h) OVER () AS BIGINT) // {CURRICULUM_BUDGET_DIV} AS budget
  FROM keyed
),
cum AS (
  SELECT *,
         COALESCE(SUM(tokens_h) OVER (ORDER BY rank
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM ranked
)
SELECT rank, source, n_docs, tokens_h,
       CAST(q_nano AS DOUBLE) / 1e10 AS mean_quality,
       CAST(cum_before + tokens_h AS BIGINT) AS cum_tokens,
       CAST(GREATEST(LEAST(budget - cum_before, tokens_h), 0) AS BIGINT)
         AS take_tokens,
       {_rr("GREATEST(LEAST(budget - cum_before, tokens_h), 0)", "tokens_h", 4)}
         AS take_frac
FROM cum
ORDER BY rank
"""


ORACLES["token_budget_curriculum"] = _curriculum_sql()


# Twin of operators/dedup.py:simhash_hamming_histogram — the simhash-oracle
# banding pipeline, grouped by exact Hamming distance.
def _simhash_hist_sql() -> str:
    return f"""
WITH {_SHINGLES},
dict AS (
  SELECT shingle, CAST(row_number() OVER (ORDER BY shingle) AS BIGINT) AS sid
  FROM (SELECT DISTINCT shingle FROM sh)
),
shid AS (SELECT doc_id, sid FROM sh JOIN dict USING (shingle)),
bit_sums AS (
  SELECT doc_id,
         {", ".join(
             f"CAST(SUM(CASE WHEN (((sid * {SIMHASH_MULT}) % {2**SIMHASH_BITS}) >> {j}) % 2 = 1"
             f" THEN 1 ELSE -1 END) AS BIGINT) AS bs_{j}"
             for j in range(SIMHASH_BITS)
         )}
  FROM shid GROUP BY doc_id
),
sigs AS (
  SELECT doc_id,
         CAST({" + ".join(f"(CASE WHEN bs_{j} >= 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END)" for j in range(SIMHASH_BITS))} AS BIGINT) AS simhash
  FROM bit_sums
),
bands AS (
  SELECT doc_id, simhash, q, (simhash >> (q * {SIMHASH_BAND_BITS})) % {2**SIMHASH_BAND_BITS} AS bv
  FROM sigs, UNNEST(generate_series(0, {SIMHASH_BITS // SIMHASH_BAND_BITS - 1})) AS u(q)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM bands a JOIN bands b ON a.q = b.q AND a.bv = b.bv AND a.doc_id < b.doc_id
),
hist AS (
  SELECT hamming, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM (
    SELECT CAST({_HAMMING_TERMS} AS BIGINT) AS hamming
    FROM (SELECT xor(sig_a, sig_b) AS xor_sig FROM cand)
  ) GROUP BY 1
),
cum AS (
  SELECT hamming, n_pairs,
         CAST(SUM(n_pairs) OVER (ORDER BY hamming
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pairs,
         CAST(SUM(n_pairs) OVER () AS BIGINT) AS total_pairs
  FROM hist
)
SELECT hamming, n_pairs, cum_pairs,
       {_rr("cum_pairs", "total_pairs", 6)} AS cum_share
FROM cum ORDER BY hamming
"""


ORACLES["simhash_hamming_histogram"] = _simhash_hist_sql()


# Twin of operators/dedup.py:dup_link_prediction — exact Jaccard edge set,
# ordered wedge join, anti-join, integer neighborhood-Jaccard score.
def _linkpred_sql() -> str:
    from inde1_spark.operators.dedup import LINKPRED_TOP_K

    return f"""
WITH {_SHINGLES},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
edges AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({_jaccard_from_inter(JACCARD_THRESHOLD)})
),
und AS (
  SELECT doc_a AS u, doc_b AS v FROM edges
  UNION ALL SELECT doc_b, doc_a FROM edges
),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM und GROUP BY 1),
wedges AS (
  SELECT w1.u, w2.v, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM und w1 JOIN und w2 ON w2.u = w1.v AND w1.u < w2.v
  GROUP BY 1, 2
),
non_edges AS (
  SELECT w.* FROM wedges w
  ANTI JOIN edges e ON e.doc_a = w.u AND e.doc_b = w.v
),
scored AS (
  SELECT n.u AS doc_a, n.v AS doc_b, n.n_common,
         {_rr("n.n_common", "du.deg + dv.deg - n.n_common", 6)} AS jaccard_nbrs
  FROM non_edges n
  JOIN deg du ON du.u = n.u
  JOIN deg dv ON dv.u = n.v
)
SELECT * FROM scored
ORDER BY jaccard_nbrs DESC, doc_a ASC, doc_b ASC
LIMIT {LINKPRED_TOP_K}
"""


ORACLES["dup_link_prediction"] = _linkpred_sql()


# Twin of operators/text.py:word_link_prediction — mean-thresholded word
# graph, wedge join, anti-join, integer neighborhood-Jaccard.
def _word_linkpred_sql() -> str:
    from inde1_spark.operators.text import (
        LINKPRED_WORD_TOP_K,
        TEXTRANK_MIN_LEN,
        TEXTRANK_VOCAB,
    )

    return f"""
WITH docs AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), t -> len(t) >= {TEXTRANK_MIN_LEN}) AS toks
  FROM documents
),
pos AS (
  SELECT doc_id, unnest(toks) AS token, generate_subscripts(toks, 1) AS pos
  FROM docs
),
vocab AS (
  SELECT token FROM (
    SELECT token, COUNT(*) AS n FROM pos GROUP BY 1
    ORDER BY n DESC, token ASC LIMIT {TEXTRANK_VOCAB}
  )
),
prs AS (
  SELECT p1.token AS a, p2.token AS b
  FROM pos p1 JOIN pos p2
    ON p2.doc_id = p1.doc_id AND p2.pos - p1.pos IN ({_TEXTRANK_OFFS})
  WHERE p1.token <> p2.token
),
dir AS (SELECT a AS u, b AS v FROM prs UNION ALL SELECT b, a FROM prs),
edges_w AS MATERIALIZED (
  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS w FROM dir
  WHERE u IN (SELECT token FROM vocab) AND v IN (SELECT token FROM vocab)
  GROUP BY 1, 2
),
tot AS (
  SELECT CAST(SUM(w) AS HUGEINT) AS sum_w, CAST(COUNT(*) AS HUGEINT) AS n_edges
  FROM edges_w
),
kept AS MATERIALIZED (
  SELECT u, v FROM edges_w CROSS JOIN tot
  WHERE CAST(w AS HUGEINT) * n_edges >= sum_w
),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM kept GROUP BY 1),
wedges AS (
  SELECT w1.u, w2.v, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM kept w1 JOIN kept w2 ON w2.u = w1.v AND w1.u < w2.v
  GROUP BY 1, 2
),
non_edges AS (
  SELECT w.* FROM wedges w ANTI JOIN kept e ON e.u = w.u AND e.v = w.v
),
scored AS (
  SELECT n.u AS term_a, n.v AS term_b, n.n_common,
         {_rr("n.n_common", "du.deg + dv.deg - n.n_common", 6)} AS jaccard_nbrs
  FROM non_edges n
  JOIN deg du ON du.u = n.u
  JOIN deg dv ON dv.u = n.v
)
SELECT * FROM scored
ORDER BY jaccard_nbrs DESC, term_a ASC, term_b ASC
LIMIT {LINKPRED_WORD_TOP_K}
"""


ORACLES["word_link_prediction"] = _word_linkpred_sql()


# Twin of operators/similarity.py:knn_ivf_pq — the knn_ivf probe CTEs
# composed with the knn_pq codes/ADC CTEs, restricted to probed cells.
ORACLES["knn_ivf_pq"] = f"""
WITH cent AS (
  SELECT label, i,
         {_FIXED_SUM('CAST(embedding[i] AS DOUBLE)')} / COUNT(*) AS cv
  FROM embeddings, UNNEST(generate_series(1, {EMB_DIM})) AS u(i)
  GROUP BY label, i
),
cnorm AS (
  SELECT label, sqrt({_FIXED_SUM('cv * cv')}) AS cnrm FROM cent GROUP BY label
),
{_NORMS.strip()},
qc AS (
  SELECT e.vec_id AS query_id, c.label,
         {_FIXED_SUM('CAST(e.embedding[c.i] AS DOUBLE) * c.cv')} AS dot
  FROM embeddings e JOIN cent c ON TRUE
  WHERE e.vec_id < {N_QUERIES}
  GROUP BY 1, 2
),
probed AS (
  SELECT query_id, label FROM (
    SELECT qc.query_id, qc.label,
           row_number() OVER (
             PARTITION BY qc.query_id
             ORDER BY ROUND(qc.dot / (nq.nrm * cn.cnrm), 6) DESC, qc.label ASC
           ) AS prn
    FROM qc
    JOIN norms nq ON nq.vec_id = qc.query_id
    JOIN cnorm cn ON cn.label = qc.label
  ) WHERE prn <= {N_PROBE}
),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS c,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {PQ_K})
),
vd AS (
  SELECT e.vec_id, m.m, s.c,
         SUM(CAST(floor((CAST(e.embedding[m.m * {_PQ_SUBDIM} + u.j] AS DOUBLE)
                         - s.cvec[m.m * {_PQ_SUBDIM} + u.j])
                        * (CAST(e.embedding[m.m * {_PQ_SUBDIM} + u.j] AS DOUBLE)
                           - s.cvec[m.m * {_PQ_SUBDIM} + u.j])
                        * 1e12 + 0.5) AS BIGINT)) AS d
  FROM embeddings e,
       (SELECT i - 1 AS m FROM UNNEST(generate_series(1, {PQ_M})) AS t(i)) m,
       seeds s,
       UNNEST(generate_series(1, {_PQ_SUBDIM})) AS u(j)
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vd.vec_id, e.label, vd.m, vd.c FROM (
    SELECT vec_id, m, c,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d, c) AS rn
    FROM vd
  ) vd JOIN embeddings e ON e.vec_id = vd.vec_id
  WHERE vd.rn = 1
),
est AS (
  SELECT qd.vec_id AS query_id, n.vec_id AS neighbor_id, SUM(qd.d) AS est
  FROM probed p
  JOIN codes n ON n.label = p.label
  JOIN vd qd ON qd.vec_id = p.query_id AND qd.m = n.m AND qd.c = n.c
  WHERE qd.vec_id <> n.vec_id
  GROUP BY 1, 2
)
SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
       CAST(est AS DOUBLE) / 1e12 AS est_sq_dist
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY est, neighbor_id) AS rank
      FROM est)
WHERE rank <= {K_IVF}
"""


# Twin of operators/tpch.py:cube_returnflag_status — one CUBE pass with
# GROUPING_ID and the exact decimal-sum contract. DuckDB's GROUPING()
# bit order matches Spark's (first listed column = most significant bit).
ORACLES["cube_returnflag_status"] = f"""
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT)
         AS grouping_id,
       CAST(count(*) AS BIGINT) AS n_items,
       {_dsum('l_quantity')} AS sum_qty,
       {_dsum('l_extendedprice')} AS sum_price
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
ORDER BY grouping_id, returnflag, linestatus
"""


# Twin of operators/analytics.py:funnel_windowed — chained earliest-
# qualifying mins per stage (provably equal to the operator's sorted fold).
def _funnel_windowed_sql() -> str:
    from inde1_spark.operators.analytics import FUNNEL_STEPS, FUNNEL_WINDOW_HOURS

    w_us = FUNNEL_WINDOW_HOURS * 3600 * 1_000_000
    steps = list(FUNNEL_STEPS)
    ctes = [
        f"u0 AS MATERIALIZED (SELECT user_id, MIN(epoch_us(ts)) AS t "
        f"FROM events WHERE event_type = '{steps[0]}' GROUP BY 1)"
    ]
    for i in range(1, len(steps)):
        ctes.append(
            f"u{i} AS MATERIALIZED (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t "
            f"FROM events e JOIN u{i-1} p ON p.user_id = e.user_id "
            f"WHERE e.event_type = '{steps[i]}' AND epoch_us(e.ts) > p.t "
            f"AND epoch_us(e.ts) <= p.t + {w_us} GROUP BY 1)"
        )
    counts = ", ".join(
        f"(SELECT CAST(COUNT(*) AS BIGINT) FROM u{i}) AS c{i}"
        for i in range(len(steps))
    )
    rows = "\nUNION ALL\n".join(
        f"SELECT CAST({i+1} AS BIGINT) AS step, '{steps[i]}' AS event_type, "
        f"c{i} AS n_users, {_rr(f'c{i}', 'GREATEST(c0, 1)', 4)} AS conversion "
        f"FROM counts"
        for i in range(len(steps))
    )
    return f"""
WITH {", ".join(ctes)},
counts AS (SELECT {counts})
SELECT * FROM ({rows}) ORDER BY step
"""


ORACLES["funnel_windowed"] = _funnel_windowed_sql()


# Twin of operators/analytics.py:hurst_exponent — identical block R/S in
# HUGEINT, nano snaps, injected ln(n) literals, exact OLS moments.
def _hurst_sql() -> str:
    from inde1_spark.operators.analytics import HURST_LN_N_NANO, HURST_WINDOW_SIZES

    sizes = ", ".join(str(n) for n in HURST_WINDOW_SIZES)
    ln_case = " ".join(
        f"WHEN n = {n} THEN {v}" for n, v in sorted(HURST_LN_N_NANO.items())
    )
    return f"""
WITH daily AS MATERIALIZED (
  SELECT CAST(date_diff('day', DATE '1970-01-01',
              CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS day,
         CAST(floor({_dsum("value")} * 1e6 + 0.5) AS BIGINT) AS y
  FROM events GROUP BY 1
),
ranked AS (
  SELECT y, CAST(row_number() OVER (ORDER BY day) - 1 AS BIGINT) AS rk
  FROM daily
),
fan AS (
  SELECT r.rk, r.y, CAST(s.n AS BIGINT) AS n, r.rk // s.n AS blk,
         (r.rk % s.n) + 1 AS t
  FROM ranked r CROSS JOIN (SELECT unnest([{sizes}]) AS n) s
),
blocks AS MATERIALIZED (
  SELECT *, CAST(SUM(y) OVER (PARTITION BY n, blk ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p_t
  FROM fan
),
bstats AS (
  SELECT n, blk, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS s1,
         CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS ss
  FROM blocks GROUP BY 1, 2
),
per_block AS (
  SELECT b.n, b.blk, st.s1, st.ss, st.cnt,
         MAX(CAST(b.n AS HUGEINT) * b.p_t - CAST(b.t AS HUGEINT) * st.s1) AS z_max,
         MIN(CAST(b.n AS HUGEINT) * b.p_t - CAST(b.t AS HUGEINT) * st.s1) AS z_min
  FROM blocks b JOIN bstats st ON st.n = b.n AND st.blk = b.blk
  WHERE st.cnt = b.n
  GROUP BY 1, 2, 3, 4, 5
),
rs AS (
  SELECT n,
         CAST(floor({_dec2d('(z_max - z_min)')}
              / sqrt({_dec2d('(CAST(cnt AS HUGEINT) * ss - s1 * s1)')})
              * 1e9 + 0.5) AS BIGINT) AS rs_nano
  FROM per_block
  WHERE (CAST(cnt AS HUGEINT) * ss - s1 * s1) > 0
),
per_n AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(SUM(rs_nano) AS BIGINT) AS sum_rs
  FROM rs GROUP BY 1
),
pts AS (
  SELECT n,
         CASE {ln_case} END AS x,
         CAST(round(ln(CAST((CAST(sum_rs AS HUGEINT) * 2 + n_blocks)
                       // (CAST(n_blocks AS HUGEINT) * 2) AS DOUBLE) / 1e9)
                    * 1e9, 0) AS BIGINT) AS yv
  FROM per_n
  WHERE (CAST(sum_rs AS HUGEINT) * 2 + n_blocks)
        // (CAST(n_blocks AS HUGEINT) * 2) > 0
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(SUM(CAST(yv AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(SUM(CAST(x AS HUGEINT) * yv) AS HUGEINT) AS sxy,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
  FROM pts
),
scored AS (
  SELECT k, (CAST(k AS HUGEINT) * sxy - sx * sy) AS num,
         (CAST(k AS HUGEINT) * sxx - sx * sx) AS den
  FROM mom
)
SELECT k AS n_sizes, {_dec2d('num')} / {_dec2d('den')} AS hurst
FROM scored WHERE den > 0 AND k >= 2
"""


ORACLES["hurst_exponent"] = _hurst_sql()


# Twin of operators/analytics.py:burst_viterbi — the identical integer L1
# Viterbi recurrence replayed as a recursive CTE with list paths.
def _burst_viterbi_sql() -> str:
    from inde1_spark.operators.analytics import BURST_INIT_COST

    return f"""
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01',
              CAST(date_trunc('day', ts) AS DATE)) AS BIGINT) AS day,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
per AS MATERIALIZED (
  SELECT d.event_type, d.day, d.c,
         CAST(row_number() OVER (PARTITION BY d.event_type ORDER BY d.day)
           AS BIGINT) AS t,
         s.t_days, s.s_total,
         abs(s.t_days * d.c - s.s_total) AS e0,
         abs(s.t_days * d.c - 2 * s.s_total) AS e1
  FROM daily d
  JOIN (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS t_days,
               CAST(SUM(c) AS BIGINT) AS s_total
        FROM daily GROUP BY 1) s
    ON s.event_type = d.event_type
),
it(event_type, t, c0, c1, p0, p1) AS (
  SELECT event_type, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         CAST({BURST_INIT_COST} AS BIGINT),
         CAST([] AS BIGINT[]), CAST([] AS BIGINT[])
  FROM (SELECT DISTINCT event_type FROM per)
  UNION ALL
  SELECT it.event_type, e.t,
         LEAST(it.c0, it.c1) + e.e0,
         LEAST(it.c0 + e.s_total, it.c1) + e.e1,
         list_append(CASE WHEN it.c0 <= it.c1 THEN it.p0 ELSE it.p1 END,
                     CAST(0 AS BIGINT)),
         list_append(CASE WHEN it.c0 + e.s_total < it.c1 THEN it.p0
                          ELSE it.p1 END,
                     CAST(1 AS BIGINT))
  FROM it JOIN per e ON e.event_type = it.event_type AND e.t = it.t + 1
),
final AS (
  SELECT i.event_type,
         CASE WHEN i.c0 <= i.c1 THEN i.p0 ELSE i.p1 END AS states
  FROM it i
  JOIN (SELECT event_type, MAX(t) AS tmax FROM it GROUP BY 1) m
    ON m.event_type = i.event_type AND m.tmax = i.t
),
decoded AS (
  SELECT f.event_type,
         generate_subscripts(f.states, 1) AS t,
         unnest(f.states) AS in_burst
  FROM final f
)
SELECT d.event_type, p.day, p.c AS n_events, CAST(d.in_burst AS BIGINT) AS in_burst
FROM decoded d
JOIN per p ON p.event_type = d.event_type AND p.t = d.t
ORDER BY d.event_type, p.day
"""


ORACLES["burst_viterbi"] = _burst_viterbi_sql()


# Twin of operators/dedup.py:dedup_savings_by_source — keep-best machinery
# (reach components + quality ranking) rolled up to per-source token savings.
ORACLES["dedup_savings_by_source"] = f"""
WITH RECURSIVE {_SHINGLES.strip().rstrip()},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS ({_jaccard_from_inter(JACCARD_THRESHOLD)}),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach(doc_id, anc) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.v, r.anc FROM reach r JOIN edges e ON e.u = r.doc_id
),
lab AS (SELECT doc_id, min(anc) AS cluster_id FROM reach GROUP BY 1),
{_QUALITY_CTES.format(stop=_STOP_LIST).strip()},
q AS (
  SELECT doc_id,
         {_rr("capped_chars * gnt + 500 * (gnt - n_stop)", "1000 * gnt", 4)} AS quality
  FROM qm
),
ranked AS (
  SELECT l.doc_id,
         row_number() OVER (PARTITION BY l.cluster_id
           ORDER BY q.quality DESC, l.doc_id ASC) AS rn
  FROM lab l JOIN q ON q.doc_id = l.doc_id
),
tk AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)
           AS n_tokens
  FROM documents
),
joined AS (
  SELECT tk.source, tk.n_tokens,
         COALESCE(r.rn = 1, TRUE) AS keep
  FROM tk LEFT JOIN ranked r ON r.doc_id = tk.doc_id
),
agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
         CAST(SUM(CASE WHEN NOT keep THEN n_tokens ELSE 0 END) AS BIGINT)
           AS tokens_removed
  FROM joined GROUP BY 1
)
SELECT source, n_docs, n_removed, tokens_total, tokens_removed,
       {_rr("tokens_removed", "GREATEST(tokens_total, 1)", 6)} AS removed_share
FROM agg ORDER BY source
"""


# Twin of operators/corpus.py:padding_waste_sweep — identical integer
# ceil-division row/padding accounting per budget.
def _padding_sweep_sql() -> str:
    from inde1_spark.operators.corpus import PACKING_BUDGETS

    budgets = ", ".join(str(b) for b in PACKING_BUDGETS)
    return f"""
WITH tk AS (
  SELECT CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)
           AS n_tokens
  FROM documents
),
fan AS (
  SELECT n_tokens, CAST(b.budget AS BIGINT) AS budget,
         (n_tokens + b.budget - 1) // b.budget AS n_rows
  FROM tk CROSS JOIN (SELECT unnest([{budgets}]) AS budget) b
),
agg AS (
  SELECT budget,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
         CAST(SUM(n_rows) AS BIGINT) AS train_rows,
         CAST(SUM(n_rows * budget - n_tokens) AS BIGINT) AS pad_tokens
  FROM fan GROUP BY 1
)
SELECT budget, n_docs, tokens_total, train_rows, pad_tokens,
       {_rr("pad_tokens", "GREATEST(pad_tokens + tokens_total, 1)", 6)} AS pad_share
FROM agg ORDER BY budget
"""


ORACLES["padding_waste_sweep"] = _padding_sweep_sql()


# Twin of operators/analytics.py:mutual_info_matrix — identical nano-snapped
# integer-count logs, HUGEINT contributions, same double op order.
def _mi_matrix_sql() -> str:
    from inde1_spark.operators.analytics import CRAMERS_BUCKET

    dims = {
        "event_type": "event_type",
        "iso_dow": "CAST(isodow(ts) AS BIGINT)",
        "v_bucket": (
            "CAST(floor(CAST(value AS DOUBLE) * 1e6 + 0.5) AS BIGINT)"
            f" // {CRAMERS_BUCKET}"
        ),
    }
    pair_list = [
        ("event_type", "iso_dow"),
        ("event_type", "v_bucket"),
        ("iso_dow", "v_bucket"),
    ]

    def lnn(x: str) -> str:
        return f"CAST(round(ln(CAST({x} AS DOUBLE)) * 1e9, 0) AS BIGINT)"

    parts = []
    for a, b in pair_list:
        parts.append(f"""
SELECT '{a}' AS dim_a, '{b}' AS dim_b, n_total, mi_nats, h_a, h_b,
       mi_nats / LEAST(h_a, h_b) AS uncertainty
FROM (
  WITH cells0 AS MATERIALIZED (
    SELECT CAST({dims[a]} AS VARCHAR) AS ka, CAST({dims[b]} AS VARCHAR) AS kb,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
  ),
  cells AS (
    SELECT ka, kb, c,
           CAST(SUM(c) OVER (PARTITION BY ka) AS BIGINT) AS r_i,
           CAST(SUM(c) OVER (PARTITION BY kb) AS BIGINT) AS c_j,
           CAST(SUM(c) OVER () AS BIGINT) AS n,
           MIN(kb) OVER (PARTITION BY ka) AS min_kb,
           MIN(ka) OVER (PARTITION BY kb) AS min_ka
    FROM cells0
  ),
  agg AS (
    SELECT n,
           CAST(SUM(CAST(c AS HUGEINT)
                * ({lnn('c')} + {lnn('n')} - {lnn('r_i')} - {lnn('c_j')}))
             AS HUGEINT) AS mi_sum,
           CAST(SUM(CASE WHEN kb = min_kb
                THEN CAST(r_i AS HUGEINT) * {lnn('r_i')} ELSE 0 END)
             AS HUGEINT) AS rh_sum,
           CAST(SUM(CASE WHEN ka = min_ka
                THEN CAST(c_j AS HUGEINT) * {lnn('c_j')} ELSE 0 END)
             AS HUGEINT) AS ch_sum
    FROM cells GROUP BY 1
  )
  SELECT n AS n_total,
         {_dec2d('mi_sum')} / 1e9 / CAST(n AS DOUBLE) AS mi_nats,
         (CAST({lnn('n')} AS DOUBLE) - {_dec2d('rh_sum')} / CAST(n AS DOUBLE))
           / 1e9 AS h_a,
         (CAST({lnn('n')} AS DOUBLE) - {_dec2d('ch_sum')} / CAST(n AS DOUBLE))
           / 1e9 AS h_b
  FROM agg
) WHERE h_a > 0 AND h_b > 0""")
    union = "\nUNION ALL\n".join(parts)
    return f"SELECT * FROM ({union}) ORDER BY dim_a, dim_b"


ORACLES["mutual_info_matrix"] = _mi_matrix_sql()


# Twin of operators/analytics.py:cusum_drift — same n_days-scaled integer
# centering, prefix sum + running extrema closed form, 4x-mean threshold.
ORACLES["cusum_drift"] = f"""
WITH daily AS (
  SELECT {_DAY} AS day, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_events) AS BIGINT) AS n_total,
         CAST(COUNT(*) AS BIGINT) AS n_days
  FROM daily
),
pre AS (
  SELECT day, n_events, n_total,
         CAST(SUM(n_events * n_days - n_total)
              OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS BIGINT) AS p
  FROM daily, tot
),
run AS (
  SELECT *,
         CAST(MIN(p) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS runmin,
         CAST(MAX(p) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS runmax
  FROM pre
)
SELECT day, n_events,
       p - LEAST(CAST(0 AS BIGINT), runmin) AS cusum_pos,
       GREATEST(CAST(0 AS BIGINT), runmax) - p AS cusum_neg,
       (p - LEAST(CAST(0 AS BIGINT), runmin)) > 4 * n_total AS alarm_pos,
       (GREATEST(CAST(0 AS BIGINT), runmax) - p) > 4 * n_total AS alarm_neg
FROM run ORDER BY day
"""


# Twin of operators/analytics.py:wilcoxon_signed_rank — identical |d|
# histogram x2 tied ranks, integer num/den, z = num * sqrt(3/D).
ORACLES["wilcoxon_signed_rank"] = f"""
WITH daily AS (
  SELECT {_DAY} AS day,
         CAST(SUM(CASE WHEN event_type = '{ENTRY}' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_entry,
         CAST(SUM(CASE WHEN event_type = '{EXIT}' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exit
  FROM events GROUP BY 1
),
diffs AS (
  SELECT n_entry - n_exit AS d FROM daily WHERE n_entry <> n_exit
),
hist AS (
  SELECT abs(d) AS absd, CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS m_pos
  FROM diffs GROUP BY 1
),
ranked AS (
  SELECT *,
         2 * COALESCE(CAST(SUM(m) OVER (ORDER BY absd
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
             CAST(0 AS BIGINT)) + m + 1 AS rank2
  FROM hist
),
agg AS (
  SELECT CAST(SUM(m) AS BIGINT) AS n_pairs,
         CAST(SUM(m_pos * rank2) AS BIGINT) AS w_plus2,
         CAST(SUM((m - m_pos) * rank2) AS BIGINT) AS w_minus2,
         CAST(SUM(m * m * m - m) AS BIGINT) AS tie_sum
  FROM ranked
)
SELECT n_pairs, w_plus2, w_minus2, tie_sum,
       CAST(2 * w_plus2 - n_pairs * (n_pairs + 1) AS DOUBLE)
         * sqrt(3.0 / CAST(2 * n_pairs * (n_pairs + 1) * (2 * n_pairs + 1)
                           - tie_sum AS DOUBLE)) AS z_stat
FROM agg WHERE n_pairs > 0
"""


# Twin of operators/corpus.py:theil_index — identical nano logs over integer
# products, HUGEINT term accumulation, same double op order.
def _theil_sql() -> str:
    def lnn(x: str) -> str:
        return f"CAST(round(ln(CAST({x} AS DOUBLE)) * 1e9, 0) AS BIGINT)"

    return f"""
WITH base AS (
  SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents WHERE n_chars > 0
),
per_src AS MATERIALIZED (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(x) AS BIGINT) AS x_sum
  FROM base GROUP BY 1
),
terms AS (
  SELECT b.source,
         CAST(SUM(CAST(b.x AS HUGEINT)
              * ({lnn('b.x * p.n_docs')} - {lnn('p.x_sum')})) AS HUGEINT)
           AS t_sum
  FROM base b JOIN per_src p ON b.source = p.source
  GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
         CAST(SUM(x_sum) AS BIGINT) AS x_total
  FROM per_src
)
SELECT p.source, p.n_docs, p.x_sum,
       CAST(p.x_sum AS DOUBLE) / CAST(t.x_total AS DOUBLE) AS size_share,
       {_dec2d('s.t_sum')} / 1e9 / CAST(p.x_sum AS DOUBLE) AS theil_within,
       (CAST(p.x_sum AS DOUBLE) / CAST(t.x_total AS DOUBLE))
         * CAST({lnn('p.x_sum * t.n_total')} - {lnn('t.x_total * p.n_docs')}
                AS DOUBLE) / 1e9 AS between_term
FROM per_src p JOIN terms s ON p.source = s.source CROSS JOIN tot t
ORDER BY p.source
"""


ORACLES["theil_index"] = _theil_sql()


# Twin of operators/analytics.py:kendall_tau_matrix — identical quantized
# grid, densified dominance windows, HUGEINT pair counts, same emission.
def _kendall_sql() -> str:
    from inde1_spark.operators.analytics import SPEARMAN_COLS, TAU_DIVS

    snap = ", ".join(
        f"CAST(floor(CAST({c} AS DOUBLE) * 1e6 + 0.5) AS BIGINT)"
        f" // {TAU_DIVS[i]} AS v_{i}"
        for i, c in enumerate(SPEARMAN_COLS)
    )
    ctes = [f"vals AS MATERIALIZED (SELECT {snap} FROM lineitem)"]
    parts = []
    for i in range(4):
        for j in range(i + 1, 4):
            p = f"{i}{j}"
            ctes.append(f"""cells_{p} AS MATERIALIZED (
  SELECT v_{i} AS va, v_{j} AS vb, CAST(COUNT(*) AS BIGINT) AS c
  FROM vals GROUP BY 1, 2
)""")
            ctes.append(f"""ma_{p} AS MATERIALIZED (
  SELECT va, CAST(SUM(c) AS BIGINT) AS ta FROM cells_{p} GROUP BY 1
)""")
            ctes.append(f"""mb_{p} AS MATERIALIZED (
  SELECT vb, CAST(SUM(c) AS BIGINT) AS tb FROM cells_{p} GROUP BY 1
)""")
            ctes.append(f"""grid_{p} AS (
  SELECT m1.va, m2.vb, COALESCE(k.c, CAST(0 AS BIGINT)) AS c
  FROM ma_{p} m1 CROSS JOIN mb_{p} m2
  LEFT JOIN cells_{p} k ON k.va = m1.va AND k.vb = m2.vb
)""")
            ctes.append(f"""g2_{p} AS (
  SELECT va, vb, c,
    COALESCE(CAST(SUM(c) OVER (PARTITION BY va ORDER BY vb
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
      CAST(0 AS BIGINT)) AS cb_lt,
    COALESCE(CAST(SUM(c) OVER (PARTITION BY va ORDER BY vb DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
      CAST(0 AS BIGINT)) AS cb_gt
  FROM grid_{p}
)""")
            ctes.append(f"""g3_{p} AS (
  SELECT c,
    COALESCE(CAST(SUM(cb_lt) OVER (PARTITION BY vb ORDER BY va
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
      CAST(0 AS BIGINT)) AS p_lt,
    COALESCE(CAST(SUM(cb_gt) OVER (PARTITION BY vb ORDER BY va
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
      CAST(0 AS BIGINT)) AS p_gt
  FROM g2_{p}
)""")
            ctes.append(f"""stat_{p} AS (
  SELECT
    (SELECT CAST(SUM(CAST(c AS HUGEINT) * p_lt) AS HUGEINT) FROM g3_{p}) AS conc,
    (SELECT CAST(SUM(CAST(c AS HUGEINT) * p_gt) AS HUGEINT) FROM g3_{p}) AS disc,
    (SELECT CAST(SUM(CAST(ta AS HUGEINT) * (ta - 1)) AS HUGEINT) FROM ma_{p}) AS n1x2,
    (SELECT CAST(SUM(ta) AS BIGINT) FROM ma_{p}) AS n_rows,
    (SELECT CAST(SUM(CAST(tb AS HUGEINT) * (tb - 1)) AS HUGEINT) FROM mb_{p}) AS n2x2
)""")
            n0x2 = "CAST(n_rows AS HUGEINT) * (n_rows - 1)"
            da = f"({n0x2} - n1x2)"
            db = f"({n0x2} - n2x2)"
            num = "(conc - disc)"
            parts.append(
                f"SELECT '{SPEARMAN_COLS[i]}' AS col_a,"
                f" '{SPEARMAN_COLS[j]}' AS col_b, n_rows,"
                f" CAST(conc AS VARCHAR) AS concordant,"
                f" CAST(disc AS VARCHAR) AS discordant,"
                f" 2.0 * {_dec2d(num)}"
                f" / (sqrt({_dec2d(da)}) * sqrt({_dec2d(db)})) AS tau_b"
                f" FROM stat_{p} WHERE {da} > 0 AND {db} > 0"
            )
    with_block = ",\n".join(ctes)
    union = "\nUNION ALL\n".join(parts)
    return f"WITH {with_block}\nSELECT * FROM ({union}) ORDER BY col_a, col_b"


ORACLES["kendall_tau_matrix"] = _kendall_sql()


# Twin of operators/scoring.py:jsd_sources — identical integer-product nano
# logs, closed-form one-sided ln2 mass, HUGEINT accumulation.
def _jsd_sources_sql() -> str:
    from inde1_spark.operators.scoring import LN2_NANO

    def lnn(x: str) -> str:
        return f"CAST(round(ln(CAST({x} AS DOUBLE)) * 1e9, 0) AS BIGINT)"

    mix = lnn("a * n2 + b * n1")
    return f"""
WITH terms AS MATERIALIZED (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT source,
           unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
    FROM documents
  ) GROUP BY 1, 2
),
totals AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tok,
         CAST(COUNT(*) AS BIGINT) AS n_vocab
  FROM terms GROUP BY 1
),
t AS MATERIALIZED (
  SELECT terms.source, term, c, n_tok, n_vocab
  FROM terms JOIN totals USING (source)
),
inter AS (
  SELECT t1.source AS source_a, t2.source AS source_b,
         t1.n_tok AS n1, t2.n_tok AS n2,
         t1.n_vocab AS v1, t2.n_vocab AS v2,
         t1.c AS a, t2.c AS b
  FROM t t1 JOIN t t2 ON t1.term = t2.term AND t1.source < t2.source
),
g AS (
  SELECT source_a, source_b, n1, n2, v1, v2,
         CAST(COUNT(*) AS BIGINT) AS n_common,
         CAST(SUM(a) AS BIGINT) AS a_int,
         CAST(SUM(b) AS BIGINT) AS b_int,
         CAST(SUM(CAST(a AS HUGEINT) * ({lnn('2 * a * n2')} - {mix}))
           AS HUGEINT) AS sa,
         CAST(SUM(CAST(b AS HUGEINT) * ({lnn('2 * b * n1')} - {mix}))
           AS HUGEINT) AS sb
  FROM inter GROUP BY 1, 2, 3, 4, 5, 6
)
SELECT source_a, source_b, v1 + v2 - n_common AS n_terms_union,
       ({_dec2d(f'sa + CAST(n1 - a_int AS HUGEINT) * {LN2_NANO}')}
          / CAST(n1 AS DOUBLE)
        + {_dec2d(f'sb + CAST(n2 - b_int AS HUGEINT) * {LN2_NANO}')}
          / CAST(n2 AS DOUBLE)) / 1e9 / 2.0 AS jsd_nats
FROM g ORDER BY source_a, source_b
"""


ORACLES["jsd_sources"] = _jsd_sources_sql()


# Twin of operators/analytics.py:hilbert_layout — identical packed-BIGINT
# fold (list_reduce) over the descending s-powers, same bucket/envelope agg.
def _hilbert_sql() -> str:
    from inde1_spark.operators.analytics import HILBERT_BITS, HILBERT_BUCKETS

    cells = 1 << HILBERT_BITS
    x = "((acc // 65536) % 65536)"
    y = "(acc % 65536)"
    rx = f"(({x} // s) % 2)"
    ry = f"(({y} // s) % 2)"
    quad = f"({rx} * (3 - {ry}) + (1 - {rx}) * {ry})"
    d2 = f"(acc // 4294967296 + s * s * {quad})"
    x2 = (
        f"(CASE WHEN {ry} = 1 THEN {x} % s"
        f" WHEN {rx} = 1 THEN s - 1 - ({y} % s)"
        f" ELSE {y} % s END)"
    )
    y2 = (
        f"(CASE WHEN {ry} = 1 THEN {y} % s"
        f" WHEN {rx} = 1 THEN s - 1 - ({x} % s)"
        f" ELSE {x} % s END)"
    )
    body = f"{d2} * 4294967296 + {x2} * 65536 + {y2}"
    s_list = ", ".join(str(1 << b) for b in reversed(range(HILBERT_BITS)))
    return f"""
WITH base AS (
  SELECT CAST(user_id AS BIGINT) AS uid,
         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h
  FROM events
),
lims AS (
  SELECT min(h) AS h_min, max(h) AS h_max,
         min(uid) AS u_min, max(uid) AS u_max
  FROM base
),
scaled AS (
  SELECT uid, h,
         ((h - h_min) * {cells}) // (h_max - h_min + 1) AS hx,
         ((uid - u_min) * {cells}) // (u_max - u_min + 1) AS ux
  FROM base, lims
),
hv AS (
  SELECT uid, h,
         list_reduce([CAST(hx * 65536 + ux AS BIGINT), {s_list}],
                     (acc, s) -> {body}) // 4294967296 AS hv
  FROM scaled
)
SELECT CAST(hv // {(1 << (2 * HILBERT_BITS)) // HILBERT_BUCKETS} AS BIGINT)
         AS bucket,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(h) - min(h) AS BIGINT) AS h_span,
       CAST(max(uid) - min(uid) AS BIGINT) AS u_span,
       CAST(min(h) AS BIGINT) AS h_lo,
       CAST(min(uid) AS BIGINT) AS u_lo
FROM hv GROUP BY 1
"""


ORACLES["hilbert_layout"] = _hilbert_sql()


# Twin of operators/analytics.py:brown_forsythe — identical histogram
# medians, micro-grid quotients, HUGEINT between/within, same F emission.
ORACLES["brown_forsythe"] = f"""
WITH hist AS MATERIALIZED (
  SELECT event_type,
         CAST(floor(CAST(value AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS y,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT event_type, y, m,
         CAST(SUM(m) OVER (PARTITION BY event_type) AS BIGINT) AS n_g,
         CAST(SUM(m) OVER (PARTITION BY event_type ORDER BY y
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM hist
),
meds AS (
  SELECT event_type, MIN(y) AS med FROM cum
  WHERE cum >= (n_g + 1) // 2 GROUP BY 1
),
dev AS (
  SELECT h.event_type, abs(h.y - d.med) AS z, h.m
  FROM hist h JOIN meds d USING (event_type)
),
grp AS (
  SELECT event_type, CAST(SUM(m) AS BIGINT) AS n_g,
         CAST(SUM(CAST(m AS HUGEINT) * z) AS HUGEINT) AS s_g,
         CAST(SUM(CAST(m AS HUGEINT) * z * z) AS HUGEINT) AS ss_g
  FROM dev GROUP BY 1
),
quot AS (
  SELECT n_g, s_g, ss_g,
         (s_g * s_g * 1000000 * 2 + CAST(n_g AS HUGEINT))
           // (CAST(n_g AS HUGEINT) * 2) AS q_micro
  FROM grp
),
agg AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS n_total,
         CAST(COUNT(*) AS BIGINT) AS k_groups,
         CAST(SUM(s_g) AS HUGEINT) AS s_tot,
         CAST(SUM(q_micro) AS HUGEINT) AS q_sum,
         CAST(SUM(ss_g * 1000000) AS HUGEINT) AS ss_micro
  FROM quot
),
fin AS (
  SELECT n_total, k_groups,
         q_sum - (s_tot * s_tot * 1000000 * 2 + CAST(n_total AS HUGEINT))
                   // (CAST(n_total AS HUGEINT) * 2) AS bss,
         ss_micro - q_sum AS wss
  FROM agg
)
SELECT n_total, k_groups,
       CAST(bss AS VARCHAR) AS bss_micro,
       CAST(wss AS VARCHAR) AS wss_micro,
       {_dec2d('bss')} / {_dec2d('wss')}
         * CAST(n_total - k_groups AS DOUBLE)
         / CAST(k_groups - 1 AS DOUBLE) AS f_stat
FROM fin
WHERE k_groups > 1 AND n_total > k_groups AND wss > 0
"""


# Twin of operators/analytics.py:holt_winters — the identical x7-scaled
# truncating dyadic recursion replayed as a list-carrying recursive CTE.
def _holt_winters_sql() -> str:
    from inde1_spark.operators.analytics import HW_SEASON

    m = HW_SEASON

    def td(a: str, k: int) -> str:  # truncating division, dividend-sign %
        return f"((({a}) - ({a}) % {k}) // {k})"

    l_new = td("xp - s_old + pl + pb", 2)
    b_new = td(f"{l_new} - pl + 3 * pb", 4)
    s_val = td(f"xp - {l_new} + s_old", 2)
    return f"""
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT {_DAY} AS day, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
idx AS MATERIALIZED (
  SELECT day, x, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
  FROM daily
),
init AS (
  SELECT CAST(SUM(x) AS BIGINT) AS l FROM idx WHERE t <= {m}
),
s_init AS (
  SELECT list(x * {m} - l ORDER BY t) AS s FROM idx, init WHERE t <= {m}
),
rec AS (
  SELECT CAST({m} AS BIGINT) AS t, i.l AS l, CAST(0 AS BIGINT) AS b, s.s AS s,
         CAST(NULL AS VARCHAR) AS day, CAST(NULL AS BIGINT) AS x,
         CAST(NULL AS BIGINT) AS fitted
  FROM init i, s_init s
  UNION ALL
  SELECT t, {l_new} AS l, {b_new} AS b,
         list_append(s_prev[2:{m}], {s_val}) AS s,
         day, x, pl + pb + s_old AS fitted
  FROM (
    SELECT d.t, d.day, d.x, r.l AS pl, r.b AS pb, r.s AS s_prev,
           r.s[1] AS s_old, d.x * {m} AS xp
    FROM rec r JOIN idx d ON d.t = r.t + 1
  )
)
SELECT day, x AS n_events, fitted AS fitted_x7, x * {m} - fitted AS resid_x7
FROM rec WHERE t > {m}
ORDER BY day
"""


ORACLES["holt_winters"] = _holt_winters_sql()


# Twin of operators/dedup.py:fellegi_sunter_linkage — identical pair space
# (shingle posting-list join), labels, and nano-log count-product weights.
def _fellegi_sunter_sql() -> str:
    from inde1_spark.operators.dedup import FS_LEN_BAND

    def lnn(x: str) -> str:
        return f"CAST(round(ln(CAST({x} AS DOUBLE)) * 1e9, 0) AS BIGINT)"

    w_agree = (
        f"CASE WHEN agree_m > 0 AND agree_u > 0"
        f" AND n_match > 0 AND n_nonmatch > 0"
        f" THEN CAST({lnn('agree_m * n_nonmatch')}"
        f" - {lnn('agree_u * n_match')} AS DOUBLE) / 1e9 END"
    )
    w_disagree = (
        f"CASE WHEN n_match - agree_m > 0 AND n_nonmatch - agree_u > 0"
        f" AND n_match > 0 AND n_nonmatch > 0"
        f" THEN CAST({lnn('(n_match - agree_m) * n_nonmatch')}"
        f" - {lnn('(n_nonmatch - agree_u) * n_match')} AS DOUBLE) / 1e9 END"
    )
    return f"""
WITH {_SHINGLES},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS ({_jaccard_from_inter(0.0)}),
basep AS MATERIALIZED (
  SELECT p.jaccard >= {JACCARD_THRESHOLD} AS is_match,
         d1.lang AS l1, d2.lang AS l2,
         d1.source AS s1, d2.source AS s2,
         CAST(d1.n_chars AS BIGINT) // {FS_LEN_BAND} AS b1,
         CAST(d2.n_chars AS BIGINT) // {FS_LEN_BAND} AS b2
  FROM pairs p
  JOIN documents d1 ON d1.doc_id = p.doc_a
  JOIN documents d2 ON d2.doc_id = p.doc_b
),
feats AS (
  SELECT is_match, 'lang' AS feature, CAST(l1 = l2 AS BIGINT) AS agree
  FROM basep
  UNION ALL
  SELECT is_match, 'source', CAST(s1 = s2 AS BIGINT) FROM basep
  UNION ALL
  SELECT is_match, 'len_band', CAST(b1 = b2 AS BIGINT) FROM basep
),
g AS (
  SELECT feature,
         CAST(SUM(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
         CAST(SUM(CASE WHEN is_match THEN 0 ELSE 1 END) AS BIGINT)
           AS n_nonmatch,
         CAST(SUM(CASE WHEN is_match THEN agree ELSE 0 END) AS BIGINT)
           AS agree_m,
         CAST(SUM(CASE WHEN is_match THEN 0 ELSE agree END) AS BIGINT)
           AS agree_u
  FROM feats GROUP BY 1
)
SELECT feature, n_match, n_nonmatch, agree_m, agree_u,
       {w_agree} AS w_agree,
       {w_disagree} AS w_disagree
FROM g ORDER BY feature
"""


ORACLES["fellegi_sunter_linkage"] = _fellegi_sunter_sql()


# Twin of operators/analytics.py:anova_oneway — identical min-shifted micro
# moments, exact quotients, same F emission as brown_forsythe.
ORACLES["anova_oneway"] = f"""
WITH raw AS (
  SELECT event_type,
         CAST(floor(CAST(value AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS y
  FROM events
),
gmin AS (SELECT MIN(y) AS y_min FROM raw),
grp AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_g,
         CAST(SUM(CAST(y - y_min AS HUGEINT)) AS HUGEINT) AS s_g,
         CAST(SUM(CAST(y - y_min AS HUGEINT) * (y - y_min)) AS HUGEINT) AS ss_g
  FROM raw, gmin GROUP BY 1
),
quot AS (
  SELECT n_g, s_g, ss_g,
         (s_g * s_g * 1000000 * 2 + CAST(n_g AS HUGEINT))
           // (CAST(n_g AS HUGEINT) * 2) AS q_micro
  FROM grp
),
agg AS (
  SELECT CAST(SUM(n_g) AS BIGINT) AS n_total,
         CAST(COUNT(*) AS BIGINT) AS k_groups,
         CAST(SUM(s_g) AS HUGEINT) AS s_tot,
         CAST(SUM(q_micro) AS HUGEINT) AS q_sum,
         CAST(SUM(ss_g * 1000000) AS HUGEINT) AS ss_micro
  FROM quot
),
fin AS (
  SELECT n_total, k_groups,
         q_sum - (s_tot * s_tot * 1000000 * 2 + CAST(n_total AS HUGEINT))
                   // (CAST(n_total AS HUGEINT) * 2) AS bss,
         ss_micro - q_sum AS wss
  FROM agg
)
SELECT n_total, k_groups,
       CAST(bss AS VARCHAR) AS bss_micro,
       CAST(wss AS VARCHAR) AS wss_micro,
       {_dec2d('bss')} / {_dec2d('wss')}
         * CAST(n_total - k_groups AS DOUBLE)
         / CAST(k_groups - 1 AS DOUBLE) AS f_stat
FROM fin
WHERE k_groups > 1 AND n_total > k_groups AND wss > 0
"""


# Twin of operators/scoring.py:dirichlet_query_likelihood — identical
# integer-product nano logs, closed-form smoothing-only mass, same top-k.
def _dirichlet_ql_sql() -> str:
    from inde1_spark.operators.scoring import (
        BM25_QUERY,
        BM25_TOP_K,
        DIRICHLET_MU,
    )

    mu = DIRICHLET_MU
    qin = ", ".join(f"'{t}'" for t in BM25_QUERY)

    def lnn(x: str) -> str:
        return f"CAST(round(ln(CAST({x} AS DOUBLE)) * 1e9, 0) AS BIGINT)"

    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
  FROM documents
),
dl AS MATERIALIZED (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
              AS BIGINT) AS dlen
  FROM documents
),
ntot AS (SELECT CAST(SUM(dlen) AS BIGINT) AS n_tok FROM dl),
cq AS MATERIALIZED (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS c_q
  FROM toks WHERE term IN ({qin}) GROUP BY 1
),
cons AS (
  SELECT CAST(SUM({lnn(f'{mu} * c_q')}) AS BIGINT) AS base_nano,
         CAST(COUNT(*) AS BIGINT) AS n_q
  FROM cq
),
dq AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c_dq
  FROM toks WHERE term IN ({qin}) GROUP BY 1, 2
),
delta AS (
  SELECT doc_id,
         CAST(SUM({lnn(f'c_dq * n_tok + {mu} * c_q')}
              - {lnn(f'{mu} * c_q')}) AS BIGINT) AS delta_nano
  FROM dq JOIN cq USING (term) CROSS JOIN ntot
  GROUP BY 1
),
scored AS (
  SELECT d.doc_id, d.dlen,
         base_nano + COALESCE(delta_nano, CAST(0 AS BIGINT))
           - n_q * {lnn(f'n_tok * (dlen + {mu})')} AS score_nano
  FROM dl d CROSS JOIN ntot CROSS JOIN cons
  LEFT JOIN delta ON delta.doc_id = d.doc_id
)
SELECT doc_id, dlen, CAST(score_nano AS DOUBLE) / 1e9 AS ql_score
FROM scored ORDER BY score_nano DESC, doc_id ASC LIMIT {BM25_TOP_K}
"""


ORACLES["dirichlet_query_likelihood"] = _dirichlet_ql_sql()


# Twin of operators/analytics.py:isotonic_daily — identical minimax PAVA on
# micro-floored interval averages over the bounded (j,k) grid.
ORACLES["isotonic_daily"] = f"""
WITH daily AS MATERIALIZED (
  SELECT {_DAY} AS day, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
idx AS MATERIALIZED (
  SELECT day, x, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
         CAST(SUM(x) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS BIGINT) AS s
  FROM daily
),
pairs AS (
  SELECT l.t AS j, r.t AS k,
         CAST((CAST(r.s - (l.s - l.x) AS HUGEINT) * 1000000)
              // (r.t - l.t + 1) AS BIGINT) AS a
  FROM idx l JOIN idx r ON r.t >= l.t
),
m AS (
  SELECT j, k AS i,
         CAST(MIN(a) OVER (PARTITION BY j ORDER BY k DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS msuf
  FROM pairs
),
iso AS (SELECT i, CAST(MAX(msuf) AS BIGINT) AS iso_micro FROM m GROUP BY 1)
SELECT day, x AS n_events, iso_micro
FROM idx JOIN iso ON iso.i = idx.t
ORDER BY day
"""


# Twin of operators/scoring.py:kneser_ney_logprob — identical exact-rational
# KN probability, nano logs of integer num/den, same per-doc emission.
def _kneser_ney_sql() -> str:
    from inde1_spark.operators.scoring import KN_DISCOUNT_X4

    d4 = KN_DISCOUNT_X4

    def lnn(x: str) -> str:
        return f"CAST(round(ln(CAST({x} AS DOUBLE)) * 1e9, 0) AS BIGINT)"

    return f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
bf AS MATERIALIZED (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
         toks[i] || ' ' || toks[i + 1] AS bigram,
         CAST(count(*) AS BIGINT) AS bf
  FROM toks, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
  WHERE len(toks) >= 2
  GROUP BY 1, 2, 3
),
vocab AS MATERIALIZED (
  SELECT bigram, CAST(SUM(bf) AS BIGINT) AS c_ab FROM bf GROUP BY 1
),
w1w2 AS MATERIALIZED (
  SELECT bigram, split_part(bigram, ' ', 1) AS w1,
         split_part(bigram, ' ', 2) AS w2, c_ab
  FROM vocab
),
lefts AS (
  SELECT w1, CAST(SUM(c_ab) AS BIGINT) AS c_a,
         CAST(COUNT(*) AS BIGINT) AS n1p
  FROM w1w2 GROUP BY 1
),
rights AS (
  SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1m FROM w1w2 GROUP BY 1
),
btot AS (SELECT CAST(COUNT(*) AS BIGINT) AS b_types FROM vocab),
sv AS (
  SELECT bigram,
         {lnn(f'(4 * c_ab - {d4}) * b_types + {d4} * n1p * n1m')}
           - {lnn('4 * c_a * b_types')} AS lp_scaled
  FROM w1w2 JOIN lefts USING (w1) JOIN rights USING (w2) CROSS JOIN btot
)
SELECT doc_id, CAST(dl - 1 AS BIGINT) AS n_bigrams,
       CAST(SUM(bf * lp_scaled) AS DOUBLE) / 1e9
         / CAST(dl - 1 AS DOUBLE) AS avg_logprob_kn
FROM bf JOIN sv USING (bigram)
WHERE dl >= 2
GROUP BY doc_id, dl
"""


ORACLES["kneser_ney_logprob"] = _kneser_ney_sql()


# Twin of operators/corpus.py:diversity_profile — identical exact Simpson
# quotient, token_entropy-style Shannon, one further IEEE divide.
ORACLES["diversity_profile"] = f"""
WITH terms AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT source,
           unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
    FROM documents
  ) GROUP BY 1, 2
),
g AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS vocab,
         CAST(SUM(CAST(c AS HUGEINT) * (c - 1)) AS HUGEINT) AS s2,
         CAST(SUM(CAST(c AS HUGEINT)
              * CAST(round(ln(CAST(c AS DOUBLE)) * 1e9, 0) AS BIGINT))
           AS HUGEINT) AS clnc
  FROM terms GROUP BY 1
  HAVING CAST(SUM(c) AS BIGINT) > 1 AND COUNT(*) > 1
)
SELECT source, n_tokens, vocab,
       CAST((s2 * 1000000 * 2 + CAST(n_tokens AS HUGEINT) * (n_tokens - 1))
            // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1) * 2) AS BIGINT)
         AS simpson_micro,
       (CAST(CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1e9, 0) AS BIGINT)
             AS DOUBLE)
        - {_dec2d('clnc')} / CAST(n_tokens AS DOUBLE)) / 1e9 AS shannon,
       ((CAST(CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1e9, 0) AS BIGINT)
              AS DOUBLE)
         - {_dec2d('clnc')} / CAST(n_tokens AS DOUBLE)) / 1e9)
        / (CAST(CAST(round(ln(CAST(vocab AS DOUBLE)) * 1e9, 0) AS BIGINT)
                AS DOUBLE) / 1e9) AS evenness
FROM g ORDER BY source
"""


# Twin of operators/similarity.py:matryoshka_recall — per-prefix exact brute
# retrieval over generate_series(1, p), left-joined to the full-dim truth.
def _matryoshka_sql() -> str:
    from inde1_spark.operators.similarity import K_BRUTE as KB
    from inde1_spark.operators.similarity import MATRYOSHKA_PREFIXES

    def brute(d: int) -> str:
        return f"""(
  WITH norms AS (
    SELECT vec_id,
           sqrt(CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE)
                * CAST(embedding[i] AS DOUBLE) * {FIXED_POINT_SCALE:.1f})
                AS BIGINT)) AS DOUBLE) / {FIXED_POINT_SCALE:.1f}) AS nrm
    FROM embeddings, UNNEST(generate_series(1, {d})) AS u(i)
    GROUP BY vec_id
  ),
  dots AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_FIXED_DOT} AS dot
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < {N_QUERIES} AND a.vec_id <> b.vec_id,
         UNNEST(generate_series(1, {d})) AS u(i)
    GROUP BY 1, 2
  ),
  scored AS (
    SELECT query_id, neighbor_id,
           ROUND(dot / (na.nrm * nb.nrm), 6) AS cos_sim
    FROM dots
    JOIN norms na ON na.vec_id = query_id
    JOIN norms nb ON nb.vec_id = neighbor_id
  )
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
    FROM scored
  ) WHERE rank <= {KB}
)"""

    parts = []
    for p in MATRYOSHKA_PREFIXES:
        parts.append(f"""
SELECT CAST({p} AS BIGINT) AS prefix_dims,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN a.trunc_neighbor IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS hits,
       {_rr("SUM(CASE WHEN a.trunc_neighbor IS NOT NULL THEN 1 ELSE 0 END)", "count(*)", 4)}
         AS recall
FROM {brute(EMB_DIM)} t
LEFT JOIN (SELECT query_id AS aq, neighbor_id AS trunc_neighbor
           FROM {brute(p)}) a
  ON a.aq = t.query_id AND a.trunc_neighbor = t.neighbor_id""")
    union = "\nUNION ALL\n".join(parts)
    return f"SELECT * FROM ({union}) ORDER BY prefix_dims"


ORACLES["matryoshka_recall"] = _matryoshka_sql()


# Twin of operators/analytics.py:entropy_rate_markov — identical edge table,
# nano-snapped count logs, min-key marginal dedup, same double op order.
ORACLES["entropy_rate_markov"] = """
WITH pairs AS (
  SELECT u, v FROM (
    SELECT event_type AS u,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts ASC, event_id ASC) AS v
    FROM events
  ) WHERE v IS NOT NULL
),
edges AS MATERIALIZED (
  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS c FROM pairs GROUP BY 1, 2
),
cells AS (
  SELECT u, v, c,
         CAST(SUM(c) OVER (PARTITION BY u) AS BIGINT) AS row_tot,
         CAST(SUM(c) OVER (PARTITION BY v) AS BIGINT) AS col_tot,
         MIN(u) OVER (PARTITION BY v) AS min_u
  FROM edges
),
agg AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_transitions,
         CAST(COUNT(*) AS BIGINT) AS n_edges,
         CAST(SUM(CAST(c AS HUGEINT)
              * (CAST(round(ln(CAST(row_tot AS DOUBLE)) * 1e9, 0) AS BIGINT)
                 - CAST(round(ln(CAST(c AS DOUBLE)) * 1e9, 0) AS BIGINT)))
           AS HUGEINT) AS hr_sum,
         CAST(SUM(CASE WHEN u = min_u THEN CAST(col_tot AS HUGEINT)
              * CAST(round(ln(CAST(col_tot AS DOUBLE)) * 1e9, 0) AS BIGINT)
              ELSE 0 END) AS HUGEINT) AS hm_sum
  FROM cells
)
SELECT * FROM (
  SELECT n_transitions, n_edges,
         __HR__ AS h_rate,
         __HM__ AS h_marginal,
         1.0 - (__HR__) / (__HM__) AS predictability
  FROM agg WHERE n_transitions > 0
) WHERE h_marginal > 0
"""
ORACLES["entropy_rate_markov"] = ORACLES["entropy_rate_markov"].replace(
    "__HR__", f"{_dec2d('hr_sum')} / 1e9 / CAST(n_transitions AS DOUBLE)"
).replace(
    "__HM__",
    "(CAST(CAST(round(ln(CAST(n_transitions AS DOUBLE)) * 1e9, 0) AS BIGINT)"
    f" AS DOUBLE) - {_dec2d('hm_sum')} / CAST(n_transitions AS DOUBLE)) / 1e9",
)


# Twin of operators/similarity.py:ann_rank_overlap_rbo — identical integer
# tail weights (Python-precomputed), nested LSH/IVF list oracles.
def _rbo_sql() -> str:
    from inde1_spark.operators.similarity import K_BUCKETED as KB
    from inde1_spark.operators.similarity import _rbo_weights

    scale, w = _rbo_weights(KB)
    case = " ".join(
        f"WHEN GREATEST(l.rank, i.rank) = {m} THEN {wm}"
        for m, wm in sorted(w.items())
    )
    return f"""
WITH lsh AS MATERIALIZED ({ORACLES["knn_lsh_bucketed"]}),
ivf AS MATERIALIZED ({ORACLES["knn_ivf"]}),
matched AS (
  SELECT l.query_id, CAST(COUNT(*) AS BIGINT) AS n_common,
         CAST(SUM(CASE {case} END) AS BIGINT) AS rbo_scaled
  FROM lsh l JOIN ivf i
    ON i.query_id = l.query_id AND i.neighbor_id = l.neighbor_id
  GROUP BY 1
)
SELECT q.query_id,
       COALESCE(n_common, CAST(0 AS BIGINT)) AS n_common,
       COALESCE(rbo_scaled, CAST(0 AS BIGINT)) AS rbo_scaled,
       CAST(COALESCE(rbo_scaled, CAST(0 AS BIGINT)) AS DOUBLE)
         / {float(scale)} AS rbo
FROM (SELECT DISTINCT query_id FROM lsh) q
LEFT JOIN matched ON matched.query_id = q.query_id
ORDER BY q.query_id
"""


ORACLES["ann_rank_overlap_rbo"] = _rbo_sql()


# Twin of operators/analytics.py:sprt_entry_bias — identical injected nano
# constants, prefix sums, boundary verdicts.
def _sprt_sql() -> str:
    from inde1_spark.operators.analytics import (
        SPRT_BOUND,
        SPRT_L_ENTRY,
        SPRT_L_EXIT,
    )

    return f"""
WITH daily AS (
  SELECT {_DAY} AS day,
         CAST(SUM(CASE WHEN event_type = '{ENTRY}' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_entry,
         CAST(SUM(CASE WHEN event_type = '{EXIT}' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_exit
  FROM events GROUP BY 1
),
cum AS (
  SELECT day, n_entry, n_exit,
         CAST(SUM(n_entry) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_entry,
         CAST(SUM(n_exit) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_exit
  FROM daily
),
scored AS (
  SELECT day, n_entry, n_exit,
         cum_entry * {SPRT_L_ENTRY} + cum_exit * ({SPRT_L_EXIT}) AS llr_nano,
         CASE WHEN cum_entry * {SPRT_L_ENTRY}
                   + cum_exit * ({SPRT_L_EXIT}) >= {SPRT_BOUND}
              THEN 'accept_h1'
              WHEN cum_entry * {SPRT_L_ENTRY}
                   + cum_exit * ({SPRT_L_EXIT}) <= -{SPRT_BOUND}
              THEN 'accept_h0'
              ELSE 'continue' END AS verdict
  FROM cum
)
SELECT day, n_entry, n_exit, llr_nano, verdict,
       CAST(MAX(CASE WHEN verdict <> 'continue' THEN 1 ELSE 0 END)
            OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND
                  CURRENT ROW) AS BOOLEAN) AS decided
FROM scored ORDER BY day
"""


ORACLES["sprt_entry_bias"] = _sprt_sql()


# Twin of operators/analytics.py:pacf_daily — nano-snapped ACF inputs, the
# SAME left-associated Durbin-Levinson chains, one MATERIALIZED CTE per
# materialization point (the inlining rule: plain CTEs would re-expand the
# recursion exponentially).
def _pacf_sql() -> str:
    from inde1_spark.operators.analytics import ACF_MAX_LAG

    K = ACF_MAX_LAG
    rn = ", ".join(
        f"MAX(CASE WHEN lag = {i} THEN CAST(round(acf * 1e9, 0) AS BIGINT)"
        f" END) AS rn_{i}"
        for i in range(1, K + 1)
    )
    rcols = ", ".join(
        f"CAST(rn_{i} AS DOUBLE) / 1e9 AS r_{i}" for i in range(1, K + 1)
    )
    ctes = [
        f"acf AS MATERIALIZED ({ORACLES['acf_daily']})",
        f"pivot_ AS MATERIALIZED (SELECT {rn} FROM acf)",
        f"base AS MATERIALIZED (SELECT {rcols} FROM pivot_)",
        "lvl_1 AS MATERIALIZED (SELECT *, r_1 AS phi_1_1 FROM base)",
    ]
    prev = "lvl_1"
    for k in range(2, K + 1):
        num = f"r_{k} - (" + " + ".join(
            f"phi_{k - 1}_{j} * r_{k - j}" for j in range(1, k)
        ) + ")"
        den = "1.0 - (" + " + ".join(
            f"phi_{k - 1}_{j} * r_{j}" for j in range(1, k)
        ) + ")"
        den_safe = f"CASE WHEN ({den}) = 0.0 THEN 1.0 ELSE ({den}) END"
        ctes.append(
            f"lvl_{k}a AS MATERIALIZED (SELECT *, ({num}) / ({den_safe})"
            f" AS phi_{k}_{k} FROM {prev})"
        )
        prev = f"lvl_{k}a"
        if k < K:
            upd = ", ".join(
                f"phi_{k - 1}_{j} - phi_{k}_{k} * phi_{k - 1}_{k - j}"
                f" AS phi_{k}_{j}"
                for j in range(1, k)
            )
            ctes.append(
                f"lvl_{k}b AS MATERIALIZED (SELECT *, {upd} FROM {prev})"
            )
            prev = f"lvl_{k}b"
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS BIGINT) AS lag, phi_{k}_{k} AS pacf FROM {prev}"
        for k in range(1, K + 1)
    )
    return (
        "WITH " + ",\n".join(ctes) + f"\nSELECT * FROM ({union}) ORDER BY lag"
    )


ORACLES["pacf_daily"] = _pacf_sql()


# Twin of operators/analytics.py:periodogram_daily — identical residue-class
# trig literals, decimal DFT sums, mirrored double emission.
def _periodogram_sql() -> str:
    from inde1_spark.operators.analytics import (
        PERIODOGRAM_PERIODS,
        _trig_nano,
    )

    parts = []
    for p in PERIODOGRAM_PERIODS:
        cosl, sinl = _trig_nano(p)
        ccase = " ".join(
            f"WHEN (t - 1) % {p} = {r} THEN {cosl[r]}" for r in range(p)
        )
        scase = " ".join(
            f"WHEN (t - 1) % {p} = {r} THEN {sinl[r]}" for r in range(p)
        )
        parts.append(f"""
SELECT CAST({p} AS BIGINT) AS period,
       CAST(MAX(n_days) AS BIGINT) AS n_days,
       CAST(SUM(d * (CASE {ccase} END)) AS HUGEINT) AS csum,
       CAST(SUM(d * (CASE {scase} END)) AS HUGEINT) AS ssum,
       MAX(den) AS den
FROM den_""")
    sel = "\nUNION ALL\n".join(parts)
    c_d = f"{_dec2d('csum')} / 1e9"
    s_d = f"{_dec2d('ssum')} / 1e9"
    den_d = _dec2d("GREATEST(den, CAST(1 AS HUGEINT))")
    return f"""
WITH daily AS MATERIALIZED (
  SELECT {_DAY} AS day,
         CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) * 1e6
              + 0.5) AS BIGINT) AS v_micro
  FROM events GROUP BY 1
),
base AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_days,
         CAST(CAST(COUNT(*) OVER () AS HUGEINT) * v_micro
              - CAST(SUM(v_micro) OVER () AS HUGEINT) AS HUGEINT) AS d
  FROM daily
),
den_ AS MATERIALIZED (
  SELECT t, n_days, d,
         CAST(SUM(d * d) OVER () AS HUGEINT) AS den
  FROM base
)
SELECT period, n_days,
       (({c_d}) * ({c_d}) + ({s_d}) * ({s_d}))
         / (CAST(n_days AS DOUBLE) * {den_d}) AS energy_frac
FROM ({sel}) ORDER BY period
"""


ORACLES["periodogram_daily"] = _periodogram_sql()


# Twin of operators/scoring.py:rm3_expansion — nested QL-probe feedback set,
# identical 1/rank integer doc weights and micro-quotient contributions.
def _rm3_sql() -> str:
    from inde1_spark.operators.scoring import (
        BM25_QUERY,
        RM3_FB_DOCS,
        RM3_RANK_SCALE,
        RM3_TOP_TERMS,
    )

    qin = ", ".join(f"'{t}'" for t in BM25_QUERY)
    return f"""
WITH fbq AS MATERIALIZED (
  SELECT doc_id, ql_score FROM ({ORACLES['dirichlet_query_likelihood']})
  ORDER BY ql_score DESC, doc_id ASC LIMIT {RM3_FB_DOCS}
),
fb AS (
  SELECT doc_id,
         {RM3_RANK_SCALE} // CAST(row_number() OVER
           (ORDER BY ql_score DESC, doc_id ASC) AS BIGINT) AS wgt
  FROM fbq
),
{_TF.strip().format(tok_filter="")},
joined AS (
  SELECT t.term,
         (CAST(f.wgt * t.tf AS HUGEINT) * 1000000 * 2
          + CAST(t.dl AS HUGEINT))
           // (CAST(t.dl AS HUGEINT) * 2) AS c
  FROM tf t JOIN fb f USING (doc_id)
  WHERE t.term NOT IN ({qin})
),
g AS (
  SELECT term, CAST(SUM(c) AS HUGEINT) AS w FROM joined GROUP BY 1
)
SELECT CAST(row_number() OVER (ORDER BY w DESC, term ASC) AS BIGINT) AS rank,
       term, CAST(w AS BIGINT) AS weight_micro
FROM g ORDER BY w DESC, term ASC LIMIT {RM3_TOP_TERMS}
"""


ORACLES["rm3_expansion"] = _rm3_sql()


# Twin of operators/clustering.py:prototypicality_prune — nests the
# kmeans_assign oracle, identical rank/drop-count arithmetic.
def _proto_prune_sql() -> str:
    from inde1_spark.operators.clustering import PROTO_DROP_DEN

    return f"""
WITH asg AS MATERIALIZED ({ORACLES['kmeans_assign']}),
ranked AS (
  SELECT vec_id, cluster, dist_scaled,
         CAST(row_number() OVER (PARTITION BY cluster
              ORDER BY dist_scaled ASC, vec_id ASC) AS BIGINT) AS proto_rank,
         CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT) AS n_cluster
  FROM asg
)
SELECT vec_id, cluster, dist_scaled, proto_rank, n_cluster,
       proto_rank > n_cluster // {PROTO_DROP_DEN} AS keep
FROM ranked ORDER BY cluster, proto_rank
"""


ORACLES["prototypicality_prune"] = _proto_prune_sql()


# Twin of operators/analytics.py:hill_tail_index — identical top-(k+1)
# order statistics, nano log excesses, mirrored divides.
def _hill_sql() -> str:
    from inde1_spark.operators.analytics import HILL_TOP_K

    k = HILL_TOP_K

    def lnn(x: str) -> str:
        return f"CAST(round(ln(CAST({x} AS DOUBLE)) * 1e9, 0) AS BIGINT)"

    return f"""
WITH pos AS (
  SELECT CAST(floor(CAST(value AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS y,
         event_id
  FROM events
  WHERE CAST(floor(CAST(value AS DOUBLE) * 1e6 + 0.5) AS BIGINT) > 0
),
top AS MATERIALIZED (
  SELECT y, CAST(row_number() OVER (ORDER BY y DESC, event_id ASC) AS BIGINT)
           AS r
  FROM pos ORDER BY y DESC, event_id ASC LIMIT {k + 1}
),
ref AS (SELECT y AS y_ref FROM top WHERE r = {k + 1}),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_top,
         CAST(MAX(y_ref) AS BIGINT) AS x_ref_micro,
         CAST(SUM({lnn('y')} - {lnn('y_ref')}) AS BIGINT) AS excess_nano
  FROM top CROSS JOIN ref WHERE r <= {k}
)
SELECT n_top, x_ref_micro,
       CAST(excess_nano AS DOUBLE) / (CAST(n_top AS DOUBLE) * 1e9)
         AS inv_alpha,
       1.0 / (CAST(excess_nano AS DOUBLE) / (CAST(n_top AS DOUBLE) * 1e9))
         AS alpha
FROM agg WHERE n_top = {k} AND excess_nano > 0
"""


ORACLES["hill_tail_index"] = _hill_sql()


# Shared pre/post split: last day of the first half of the distinct-day span.
_CUTOFF = f"""
days_ AS (SELECT DISTINCT {_DAY} AS day FROM events),
ranked_ AS (
  SELECT day, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS r,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM days_
),
cutoff AS (SELECT MAX(day) AS cutoff FROM ranked_ WHERE r <= n // 2)
"""


# Twin of operators/analytics.py:did_estimate — identical cell sums
# (DECIMAL(18,6)), mirrored mean/subtraction chain.
ORACLES["did_estimate"] = f"""
WITH {_CUTOFF},
cells AS (
  SELECT (event_type = '{ENTRY}') AS treated,
         ({_DAY} <= cutoff) AS pre,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(value AS DECIMAL(18,6))) AS s
  FROM events CROSS JOIN cutoff
  WHERE event_type IN ('{ENTRY}', '{EXIT}')
  GROUP BY 1, 2
),
agg AS (
  SELECT
    MAX(CASE WHEN treated AND pre THEN n END) AS n_t_pre,
    MAX(CASE WHEN treated AND NOT pre THEN n END) AS n_t_post,
    MAX(CASE WHEN NOT treated AND pre THEN n END) AS n_c_pre,
    MAX(CASE WHEN NOT treated AND NOT pre THEN n END) AS n_c_post,
    MAX(CASE WHEN treated AND pre THEN s END) AS s_t_pre,
    MAX(CASE WHEN treated AND NOT pre THEN s END) AS s_t_post,
    MAX(CASE WHEN NOT treated AND pre THEN s END) AS s_c_pre,
    MAX(CASE WHEN NOT treated AND NOT pre THEN s END) AS s_c_post
  FROM cells
)
SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
       CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE) AS mean_t_pre,
       CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE) AS mean_t_post,
       CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE) AS mean_c_pre,
       CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE) AS mean_c_post,
       (CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)
        - CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE))
       - (CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)
          - CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE)) AS did
FROM agg
WHERE n_t_pre > 0 AND n_t_post > 0 AND n_c_pre > 0 AND n_c_post > 0
"""


# Twin of operators/analytics.py:cuped_adjustment — identical per-user
# micro sums, HUGEINT moments, digit-split emission.
def _cuped_sql() -> str:
    cov = "(CAST(n_users AS HUGEINT) * sxy - sx * sy)"
    vx = "(CAST(n_users AS HUGEINT) * sxx - sx * sx)"
    vy = "(CAST(n_users AS HUGEINT) * syy - sy * sy)"
    return f"""
WITH {_CUTOFF},
per_user AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN day <= cutoff THEN v ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN day > cutoff THEN v ELSE 0 END) AS BIGINT) AS yv
  FROM (
    SELECT {_DAY} AS day, user_id,
           CAST(floor(CAST(value AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS v
    FROM events
  ) CROSS JOIN cutoff
  GROUP BY 1
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(SUM(CAST(yv AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(SUM(CAST(x AS HUGEINT) * yv) AS HUGEINT) AS sxy,
         CAST(SUM(CAST(yv AS HUGEINT) * yv) AS HUGEINT) AS syy
  FROM per_user
)
SELECT n_users,
       {_dec2d(cov)} / {_dec2d(vx)} AS theta,
       {_dec2d(cov)} * {_dec2d(cov)}
         / ({_dec2d(vx)} * {_dec2d(vy)}) AS var_reduction
FROM mom WHERE {vx} > 0 AND {vy} > 0
"""


ORACLES["cuped_adjustment"] = _cuped_sql()


# Twin of operators/analytics.py:srm_check — identical md5 arms, exact
# collapsed chi-square micro quotient, integer critical compare.
ORACLES["srm_check"] = f"""
WITH users AS (SELECT DISTINCT user_id FROM events),
cells AS (
  SELECT {_hash_bucket_sql('user_id', 2)} AS arm,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM users GROUP BY 1
),
agg AS (
  SELECT CAST(SUM(CASE WHEN arm = 0 THEN n ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN arm = 1 THEN n ELSE 0 END) AS BIGINT) AS n_b
  FROM cells
),
fin AS (
  SELECT n_a, n_b,
         CAST((CAST(n_a - n_b AS HUGEINT) * (n_a - n_b) * 1000000 * 2
               + CAST(n_a + n_b AS HUGEINT))
              // (CAST(n_a + n_b AS HUGEINT) * 2) AS BIGINT) AS chi2_micro
  FROM agg WHERE n_a + n_b > 0
)
SELECT n_a, n_b, chi2_micro, chi2_micro > 3841459 AS srm_flag FROM fin
"""


# Twin of operators/analytics.py:power_mde_plan — identical moments pass,
# injected z-sum, mirrored sqrt chain.
def _power_mde_sql() -> str:
    from inde1_spark.operators.analytics import Z80_NANO, Z975_NANO

    zsum = (Z975_NANO + Z80_NANO) / 1e9
    varnum = "(CAST(n_users AS HUGEINT) * s2 - s1 * s1)"
    s2d = (
        f"{_dec2d(varnum)} / (CAST(n_users AS DOUBLE)"
        " * CAST(n_users - 1 AS DOUBLE))"
    )
    return f"""
WITH per_user AS (
  SELECT user_id,
         CAST(SUM(CAST(floor(CAST(value AS DOUBLE) * 1e6 + 0.5) AS BIGINT))
              AS BIGINT) AS m
  FROM events GROUP BY 1
),
mom AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(CAST(m AS HUGEINT)) AS HUGEINT) AS s1,
         CAST(SUM(CAST(m AS HUGEINT) * m) AS HUGEINT) AS s2
  FROM per_user
),
sized AS (
  SELECT n_users, {s2d} AS var_metric,
         CAST(unnest([100, 1000, 10000, 100000]) AS BIGINT) AS n_per_arm
  FROM mom WHERE n_users > 1 AND {varnum} > 0
)
SELECT n_users, var_metric, n_per_arm,
       {zsum} * sqrt(2.0 * var_metric / CAST(n_per_arm AS DOUBLE)) / 1e6
         AS mde_value_units
FROM sized ORDER BY n_per_arm
"""


ORACLES["power_mde_plan"] = _power_mde_sql()


# Twin of operators/analytics.py:wilson_intervals — injected z, mirrored
# left-associated interval chain.
def _wilson_sql() -> str:
    from inde1_spark.operators.analytics import Z975_NANO

    # CAST the literal: DuckDB parses bare x.xxx as DECIMAL and would
    # compute z*z in exact decimal (measured 1-ulp z2n drift vs double)
    z = f"CAST({Z975_NANO / 1e9} AS DOUBLE)"
    return f"""
WITH daily AS (
  SELECT {_DAY} AS day,
         CAST(SUM(CASE WHEN event_type = '{ENTRY}' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_entry,
         CAST(SUM(CASE WHEN event_type IN ('{ENTRY}', '{EXIT}') THEN 1
              ELSE 0 END) AS BIGINT) AS n_total
  FROM events GROUP BY 1
),
f AS (
  SELECT day, n_entry, n_total,
         CAST(n_entry AS DOUBLE) / CAST(n_total AS DOUBLE) AS p,
         {z} * {z} / CAST(n_total AS DOUBLE) AS z2n,
         CAST(n_total AS DOUBLE) AS n
  FROM daily WHERE n_total > 0
)
SELECT day, n_entry, n_total, p AS p_hat,
       (p + z2n / 2.0) / (1.0 + z2n)
         - {z} * sqrt(p * (1.0 - p) / n + z2n / (4.0 * n)) / (1.0 + z2n)
         AS ci_lo,
       (p + z2n / 2.0) / (1.0 + z2n)
         + {z} * sqrt(p * (1.0 - p) / n + z2n / (4.0 * n)) / (1.0 + z2n)
         AS ci_hi
FROM f ORDER BY day
"""


ORACLES["wilson_intervals"] = _wilson_sql()


# Twin of operators/analytics.py:peak_detection — identical side-frame
# max-excluding-self, cross-multiplied mean test.
def _peak_sql() -> str:
    from inde1_spark.operators.analytics import PEAK_HALF_WINDOW

    h = PEAK_HALF_WINDOW
    return f"""
WITH daily AS (
  SELECT {_DAY} AS day, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
base AS (
  SELECT day, x,
         GREATEST(
           COALESCE(CAST(MAX(x) OVER (ORDER BY day ROWS BETWEEN {h} PRECEDING
                AND 1 PRECEDING) AS BIGINT), CAST(-1 AS BIGINT)),
           COALESCE(CAST(MAX(x) OVER (ORDER BY day ROWS BETWEEN 1 FOLLOWING
                AND {h} FOLLOWING) AS BIGINT), CAST(-1 AS BIGINT))
         ) AS neigh_max,
         CAST(SUM(x) OVER (ORDER BY day ROWS BETWEEN {h} PRECEDING
              AND {h} FOLLOWING) AS BIGINT) AS w_sum,
         CAST(COUNT(*) OVER (ORDER BY day ROWS BETWEEN {h} PRECEDING
              AND {h} FOLLOWING) AS BIGINT) AS n_win
  FROM daily
)
SELECT day, x, n_win,
       (x > neigh_max AND x * n_win > w_sum) AS is_peak
FROM base ORDER BY day
"""


ORACLES["peak_detection"] = _peak_sql()


# Twin of operators/analytics.py:hitting_time_markov — the t <- 1 + Q t
# iteration unrolled as chained CTEs with identical nano transfers.
def _hitting_ctes(iters: int, target: str) -> str:
    parts = []
    for i in range(iters):
        parts.append(
            f"hm{i} AS (SELECT e.u AS s, CAST(SUM((t.t * e.c) // e.tot) AS BIGINT) AS m\n"
            f"          FROM em e JOIN t{i} t ON t.s = e.v GROUP BY 1),\n"
            f"t{i + 1} AS (SELECT st.s,\n"
            f"            CASE WHEN st.s = '{target}' THEN CAST(0 AS BIGINT)\n"
            f"                 ELSE 1000000000 + COALESCE(m.m, 0) END AS t\n"
            f"            FROM states st LEFT JOIN hm{i} m ON m.s = st.s)"
        )
    return ",\n".join(parts)


def _hitting_sql() -> str:
    from inde1_spark.operators.analytics import (
        HITTING_HORIZON,
        HITTING_TARGET,
    )

    return f"""
WITH seq AS MATERIALIZED (
  SELECT user_id, event_type AS u,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS v
  FROM events
),
edges AS MATERIALIZED (
  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS c
  FROM seq WHERE v IS NOT NULL GROUP BY 1, 2
),
rowtot AS MATERIALIZED (
  SELECT u, CAST(SUM(c) AS BIGINT) AS tot FROM edges GROUP BY 1
),
em AS MATERIALIZED (
  SELECT e.u, e.v, e.c, r.tot FROM edges e JOIN rowtot r ON r.u = e.u
),
states AS MATERIALIZED (
  SELECT DISTINCT s FROM (SELECT u AS s FROM edges
                          UNION ALL SELECT v FROM edges)
),
t0 AS (SELECT s, CAST(0 AS BIGINT) AS t FROM states),
{_hitting_ctes(HITTING_HORIZON, HITTING_TARGET)}
SELECT t.s AS state, COALESCE(r.tot, 0) AS n_out_transitions,
       CAST(t.t AS DOUBLE) / 1e9 AS expected_steps
FROM t{HITTING_HORIZON} t LEFT JOIN rowtot r ON r.u = t.s
ORDER BY t.s
"""


ORACLES["hitting_time_markov"] = _hitting_sql()


# Twin of operators/analytics.py:dtw_entry_exit — the identical banded DP
# replayed as a list-carrying recursive CTE, one round per cell; OOB list
# reads are NULL in both engines and coalesce to the same sentinel.
def _dtw_sql() -> str:
    from inde1_spark.operators.analytics import DTW_BAND, DTW_INF

    w = DTW_BAND
    inf = DTW_INF
    row0 = (
        "["
        + ", ".join([f"CAST({inf} AS BIGINT)"] * w)
        + ", CAST(0 AS BIGINT), "
        + ", ".join([f"CAST({inf} AS BIGINT)"] * w)
        + "]"
    )
    pad = (
        f"list_transform(generate_series(1, CAST(GREATEST({w} - c.i + 1, 0)"
        f" AS BIGINT)), z -> CAST({inf} AS BIGINT))"
    )
    return f"""
WITH RECURSIVE daily AS MATERIALIZED (
  SELECT {_DAY} AS day,
         CAST(SUM(CASE WHEN event_type = '{ENTRY}' THEN 1 ELSE 0 END)
              AS BIGINT) AS a,
         CAST(SUM(CASE WHEN event_type = '{EXIT}' THEN 1 ELSE 0 END)
              AS BIGINT) AS b
  FROM events GROUP BY 1
),
idx AS MATERIALIZED (
  SELECT a, b, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
  FROM daily
),
cells AS MATERIALIZED (
  SELECT CAST(row_number() OVER (ORDER BY x.i, y.i) AS BIGINT) AS t,
         x.i AS i, y.i AS j, abs(x.a - y.b) AS cost
  FROM idx x JOIN idx y ON y.i BETWEEN x.i - {w} AND x.i + {w}
),
rec AS (
  SELECT CAST(0 AS BIGINT) AS t, CAST(1 AS BIGINT) AS last_i,
         {row0} AS prev,
         list_transform(generate_series(1, {w}),
                        z -> CAST({inf} AS BIGINT)) AS cur
  UNION ALL
  SELECT t, i AS last_i, prev2 AS prev,
         list_append(cur0, cost + LEAST(
           COALESCE(prev2[k + 2], CAST({inf} AS BIGINT)),
           COALESCE(prev2[k + 1], CAST({inf} AS BIGINT)),
           CASE WHEN k > 0 THEN COALESCE(cur0[k], CAST({inf} AS BIGINT))
                ELSE CAST({inf} AS BIGINT) END
         )) AS cur
  FROM (
    SELECT c.t, c.i, c.cost,
           CASE WHEN c.i <> r.last_i THEN r.cur ELSE r.prev END AS prev2,
           CASE WHEN c.i <> r.last_i THEN {pad} ELSE r.cur END AS cur0,
           CAST(c.j - c.i + {w} AS INTEGER) AS k
    FROM rec r JOIN cells c ON c.t = r.t + 1
  )
)
SELECT n_days, dtw_distance,
       CAST(dtw_distance AS DOUBLE) / CAST(n_days AS DOUBLE) AS dtw_per_day
FROM (
  SELECT (SELECT MAX(i) FROM idx) AS n_days,
         cur[{w} + 1] AS dtw_distance
  FROM rec WHERE t = (SELECT MAX(t) FROM cells)
)
"""


ORACLES["dtw_entry_exit"] = _dtw_sql()


# Twin of operators/clustering.py:clustering_agreement — nested kmeans
# assignment, identical x2 pair counts and nano-log NMI on the contingency.
def _clustering_agreement_sql() -> str:
    def lnn(x: str) -> str:
        return f"CAST(round(ln(CAST({x} AS DOUBLE)) * 1e9, 0) AS BIGINT)"

    ari_num = "(2 * n2 * s2 - 2 * a2 * b2)"
    ari_den = "(n2 * (a2 + b2) - 2 * a2 * b2)"
    mi = f"{_dec2d('mi_sum')} / 1e9 / CAST(n_points AS DOUBLE)"
    h_a = (
        f"(CAST({lnn('n_points')} AS DOUBLE)"
        f" - {_dec2d('rh_sum')} / CAST(n_points AS DOUBLE)) / 1e9"
    )
    h_b = (
        f"(CAST({lnn('n_points')} AS DOUBLE)"
        f" - {_dec2d('ch_sum')} / CAST(n_points AS DOUBLE)) / 1e9"
    )
    return f"""
WITH asg AS MATERIALIZED ({ORACLES['kmeans_assign']}),
cont AS MATERIALIZED (
  SELECT a.cluster, CAST(e.label AS BIGINT) AS lab,
         CAST(COUNT(*) AS BIGINT) AS nij
  FROM asg a JOIN embeddings e ON e.vec_id = a.vec_id
  GROUP BY 1, 2
),
cells AS (
  SELECT cluster, lab, nij,
         CAST(SUM(nij) OVER (PARTITION BY cluster) AS BIGINT) AS a_i,
         CAST(SUM(nij) OVER (PARTITION BY lab) AS BIGINT) AS b_j,
         CAST(SUM(nij) OVER () AS BIGINT) AS n,
         MIN(lab) OVER (PARTITION BY cluster) AS min_lab,
         MIN(cluster) OVER (PARTITION BY lab) AS min_cluster
  FROM cont
),
agg AS (
  SELECT MAX(n) AS n_points,
         CAST(SUM(CASE WHEN lab = min_lab THEN 1 ELSE 0 END) AS BIGINT)
           AS k_clusters,
         CAST(SUM(CASE WHEN cluster = min_cluster THEN 1 ELSE 0 END)
              AS BIGINT) AS n_labels,
         CAST(SUM(CAST(nij AS HUGEINT) * (nij - 1)) AS HUGEINT) AS s2,
         CAST(SUM(CASE WHEN lab = min_lab
              THEN CAST(a_i AS HUGEINT) * (a_i - 1) ELSE 0 END) AS HUGEINT)
           AS a2,
         CAST(SUM(CASE WHEN cluster = min_cluster
              THEN CAST(b_j AS HUGEINT) * (b_j - 1) ELSE 0 END) AS HUGEINT)
           AS b2,
         CAST(SUM(CAST(nij AS HUGEINT)
              * ({lnn('nij')} + {lnn('n')} - {lnn('a_i')} - {lnn('b_j')}))
           AS HUGEINT) AS mi_sum,
         CAST(SUM(CASE WHEN lab = min_lab
              THEN CAST(a_i AS HUGEINT) * {lnn('a_i')} ELSE 0 END)
           AS HUGEINT) AS rh_sum,
         CAST(SUM(CASE WHEN cluster = min_cluster
              THEN CAST(b_j AS HUGEINT) * {lnn('b_j')} ELSE 0 END)
           AS HUGEINT) AS ch_sum
  FROM cells
),
fin AS (
  SELECT n_points, k_clusters, n_labels,
         CAST(n_points AS HUGEINT) * (n_points - 1) AS n2,
         s2, a2, b2, mi_sum, rh_sum, ch_sum
  FROM agg
)
SELECT n_points, k_clusters, n_labels,
       {_dec2d(ari_num)} / {_dec2d(ari_den)} AS ari,
       ({mi}) / sqrt((({h_a})) * (({h_b}))) AS nmi
FROM fin
WHERE {ari_den} <> 0 AND n_points > 1
  AND NOT isnan(({mi}) / sqrt((({h_a})) * (({h_b}))))
"""


ORACLES["clustering_agreement"] = _clustering_agreement_sql()


# Twin of operators/similarity.py:embedding_drift — identical nano snaps,
# half split on vec_id, mirrored mean/difference chain.
ORACLES["embedding_drift"] = f"""
WITH tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM embeddings),
snapped AS (
  SELECT (vec_id < n_total // 2) AS first_half,
         CAST(i - 1 AS BIGINT) AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e9 + 0.5) AS BIGINT) AS v
  FROM embeddings CROSS JOIN tot,
       UNNEST(generate_series(1, {EMB_DIM})) AS u(i)
),
g AS (
  SELECT first_half, dim, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(v) AS BIGINT) AS s
  FROM snapped GROUP BY 1, 2
),
agg AS (
  SELECT dim,
         MAX(CASE WHEN first_half THEN n END) AS n_a,
         MAX(CASE WHEN NOT first_half THEN n END) AS n_b,
         MAX(CASE WHEN first_half THEN s END) AS s_a,
         MAX(CASE WHEN NOT first_half THEN s END) AS s_b
  FROM g GROUP BY 1
)
SELECT dim,
       CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 1e9 AS mean_first,
       CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 1e9 AS mean_second,
       CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 1e9
         - CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 1e9 AS shift
FROM agg
WHERE n_a IS NOT NULL AND n_b IS NOT NULL
ORDER BY dim
"""


# Twin of operators/analytics.py:dispersion_check — identical decimal
# moments and mirrored VMR chain.
ORACLES["dispersion_check"] = f"""
WITH daily AS (
  SELECT event_type, {_DAY} AS day, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
g AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS s,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS ss
  FROM daily GROUP BY 1
)
SELECT event_type, n_days, CAST(s AS BIGINT) AS total_events,
       {_dec2d('(CAST(n_days AS HUGEINT) * ss - s * s)')}
         / CAST(n_days - 1 AS DOUBLE) / CAST(n_days AS DOUBLE)
         / ({_dec2d('s')} / CAST(n_days AS DOUBLE)) AS vmr,
       ({_dec2d('(CAST(n_days AS HUGEINT) * ss - s * s)')}
         / CAST(n_days - 1 AS DOUBLE) / CAST(n_days AS DOUBLE)
         / ({_dec2d('s')} / CAST(n_days AS DOUBLE))) > 1.5 AS overdispersed
FROM g WHERE n_days > 1 AND s > 0
ORDER BY event_type
"""


# Twin of operators/analytics.py:friedman_test — identical complete-block
# filter, RANGE-frame tied ranks, micro quotient and tie correction.
ORACLES["friedman_test"] = f"""
WITH cell AS MATERIALIZED (
  SELECT {_DAY} AS day, event_type, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
ktot AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k FROM events),
complete AS MATERIALIZED (
  SELECT c.*, k.k FROM cell c CROSS JOIN ktot k
  QUALIFY CAST(COUNT(*) OVER (PARTITION BY day) AS BIGINT) = k.k
),
ranked AS MATERIALIZED (
  SELECT day, event_type, k, eq,
         2 * (cum_le - eq) + eq + 1 AS rank2
  FROM (
    SELECT day, event_type, x, k,
           CAST(COUNT(*) OVER (PARTITION BY day ORDER BY x
                RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_le,
           CAST(COUNT(*) OVER (PARTITION BY day, x) AS BIGINT) AS eq
    FROM complete
  )
),
per_type AS (
  SELECT event_type, MAX(k) AS k, CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(SUM(rank2) AS BIGINT) AS r2
  FROM ranked GROUP BY 1
),
ties AS (
  SELECT CAST(SUM(CAST(m AS HUGEINT) * m * m - m) AS HUGEINT) AS tie_sum
  FROM (SELECT day, rank2, MAX(eq) AS m FROM ranked GROUP BY day, rank2, eq)
),
agg AS (
  SELECT MAX(k) AS k, CAST(MAX(n_blocks) AS BIGINT) AS n_blocks,
         CAST(SUM(CAST(r2 AS HUGEINT) * r2) AS HUGEINT) AS s2
  FROM per_type
),
fin AS (
  SELECT a.n_blocks, a.k,
         {_dec2d("(3 * s2 * 1000000 * 2 + CAST(n_blocks AS HUGEINT) * k * (k + 1)) // (CAST(n_blocks AS HUGEINT) * k * (k + 1) * 2)")}
           / 1e6
           - 3.0 * CAST(a.n_blocks AS DOUBLE) * CAST(a.k + 1 AS DOUBLE)
           AS q_stat,
         1.0 - {_dec2d('tie_sum')}
           / (CAST(a.n_blocks AS DOUBLE) * CAST(a.k AS DOUBLE)
              * CAST(a.k * a.k - 1 AS DOUBLE)) AS tie_correction
  FROM agg a CROSS JOIN ties
)
SELECT n_blocks, k AS k_treatments, q_stat, tie_correction,
       q_stat / tie_correction AS q_tied
FROM fin WHERE n_blocks > 0 AND k > 1 AND tie_correction > 0
"""


# Twin of operators/analytics.py:ljung_box — nano-snapped r, atto-snapped
# summands (order-free integer sum), injected chi-square critical literal.
def _ljung_box_sql() -> str:
    from inde1_spark.operators.analytics import LJUNG_BOX_CRIT

    return f"""
WITH acf AS MATERIALIZED ({ORACLES['acf_daily']}),
terms AS (
  SELECT n_days, lag,
         CAST(round(
           (CAST(CAST(round(acf * 1e9, 0) AS BIGINT) AS DOUBLE) / 1e9)
           * (CAST(CAST(round(acf * 1e9, 0) AS BIGINT) AS DOUBLE) / 1e9)
           / CAST(n_days - lag AS DOUBLE) * 1e18, 0) AS BIGINT) AS t
  FROM acf WHERE acf IS NOT NULL
),
agg AS (
  SELECT CAST(MAX(n_days) AS BIGINT) AS n_days,
         CAST(COUNT(*) AS BIGINT) AS n_lags,
         CAST(SUM(t) AS BIGINT) AS s_atto
  FROM terms
)
SELECT n_days, n_lags,
       CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) + 2.0)
         * (CAST(s_atto AS DOUBLE) / 1e18) AS q_lb,
       (CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) + 2.0)
         * (CAST(s_atto AS DOUBLE) / 1e18))
         > CAST({LJUNG_BOX_CRIT} AS DOUBLE) AS white_noise_rejected
FROM agg WHERE n_days > n_lags
"""


ORACLES["ljung_box"] = _ljung_box_sql()


# Twin of operators/corpus.py:lorenz_curve — identical total-order rank,
# integer decile math, round-half-up micro shares.
ORACLES["lorenz_curve"] = f"""
WITH ranked AS (
  SELECT CAST(n_chars AS BIGINT) AS x,
         CAST(row_number() OVER (ORDER BY n_chars ASC, doc_id ASC)
           AS BIGINT) AS r,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM documents
),
dec AS (
  SELECT (10 * r + n - 1) // n AS decile,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS chars,
         CAST(MAX(n) AS BIGINT) AS n_total
  FROM ranked GROUP BY 1
),
cum AS (
  SELECT decile, n_docs,
         CAST(SUM(n_docs) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs,
         CAST(SUM(chars) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_chars,
         CAST(SUM(chars) OVER () AS BIGINT) AS tot_chars,
         n_total
  FROM dec
)
SELECT decile, n_docs,
       {_rr('cum_docs', 'n_total', 6)} AS cum_docs_share,
       {_rr('cum_chars', 'tot_chars', 6)} AS cum_chars_share
FROM cum ORDER BY decile
"""


# ===========================================================================
# r07 batch A: randomness / rate / outlier statistics on the daily grid
# ===========================================================================

# Twin of operators/analytics.py:turning_points_test — same micro-long daily
# series, strict-extrema integer comparisons, mirrored double moment chain.
ORACLES["turning_points_test"] = f"""
WITH daily AS (
  SELECT {_DAY} AS day,
         CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) * 1e6 + 0.5)
              AS BIGINT) AS v
  FROM events GROUP BY 1
),
trip AS (
  SELECT lag(v) OVER (ORDER BY day) AS p, v AS c,
         lead(v) OVER (ORDER BY day) AS nx
  FROM daily
),
agg AS (
  SELECT CAST(COUNT(*) + 2 AS BIGINT) AS n_days,
         CAST(SUM(CASE WHEN (p < c AND nx < c) OR (p > c AND nx > c)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_turning
  FROM trip WHERE p IS NOT NULL AND nx IS NOT NULL
),
calc AS (
  SELECT n_days, n_turning, CAST(n_days AS DOUBLE) AS n,
         2.0 * (CAST(n_days AS DOUBLE) - 2.0) / 3.0 AS e_t,
         (16.0 * CAST(n_days AS DOUBLE) - 29.0) / 90.0 AS var_t
  FROM agg WHERE n_days >= 3
)
SELECT n_days, n_turning, e_t AS expected_turning,
       CASE WHEN var_t <= 0 THEN 0.0
            ELSE (CAST(n_turning AS DOUBLE) - e_t) / sqrt(var_t) END AS z,
       ABS(CASE WHEN var_t <= 0 THEN 0.0
                ELSE (CAST(n_turning AS DOUBLE) - e_t) / sqrt(var_t) END)
         > CAST(1.96 AS DOUBLE) AS nonrandom_5pct
FROM calc
"""


# Twin of operators/analytics.py:bartels_rank_vn — row_number ranks over the
# same (v, day) total order; NM and n(n^2-1)/12 exact; mirrored double chain.
ORACLES["bartels_rank_vn"] = f"""
WITH daily AS (
  SELECT {_DAY} AS day,
         CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) * 1e6 + 0.5)
              AS BIGINT) AS v
  FROM events GROUP BY 1
),
ranked AS (
  SELECT day, CAST(row_number() OVER (ORDER BY v, day) AS BIGINT) AS r
  FROM daily
),
diffs AS (
  SELECT r, r - lead(r) OVER (ORDER BY day) AS d FROM ranked
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(d * d) AS BIGINT) AS nm
  FROM diffs
),
calc AS (
  SELECT n_days, nm, CAST(n_days AS DOUBLE) AS n FROM agg WHERE n_days >= 2
),
vv AS (
  SELECT n_days, nm,
         CAST(nm AS DOUBLE) / (n * (n * n - 1.0) / 12.0) AS rvn,
         (CAST(nm AS DOUBLE) / (n * (n * n - 1.0) / 12.0) - 2.0)
           / sqrt(20.0 / (5.0 * n + 7.0)) AS z
  FROM calc
)
SELECT n_days, nm, rvn, z,
       CASE WHEN z < CAST(-1.96 AS DOUBLE) THEN 'trend'
            WHEN z > CAST(1.96 AS DOUBLE) THEN 'oscillation'
            ELSE 'random' END AS verdict
FROM vv
"""


# Twin of operators/analytics.py:poisson_rate_ci — global observed-day count,
# exact long->double conversions, one sqrt, mirrored arithmetic.
ORACLES["poisson_rate_ci"] = f"""
WITH days AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_days
  FROM (SELECT DISTINCT {_DAY} AS day FROM events)
),
per AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
)
SELECT event_type, n_events, n_days,
       CAST(n_events AS DOUBLE) / CAST(n_days AS DOUBLE) AS rate_per_day,
       GREATEST(CAST(n_events AS DOUBLE) / CAST(n_days AS DOUBLE)
                - CAST(1.96 AS DOUBLE) * sqrt(CAST(n_events AS DOUBLE))
                  / CAST(n_days AS DOUBLE), 0.0) AS ci_lo,
       CAST(n_events AS DOUBLE) / CAST(n_days AS DOUBLE)
         + CAST(1.96 AS DOUBLE) * sqrt(CAST(n_events AS DOUBLE))
           / CAST(n_days AS DOUBLE) AS ci_hi
FROM per, days
ORDER BY event_type
"""


# Twin of operators/analytics.py:grubbs_daily_outlier — exact long argmax
# with earliest-day tie-break, HUGEINT moment identity, digit-split
# conversions, variance clamp, mirrored G chain.
ORACLES["grubbs_daily_outlier"] = f"""
WITH daily AS (
  SELECT {_DAY} AS day,
         CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) * 1e6 + 0.5)
              AS BIGINT) AS v
  FROM events GROUP BY 1
),
scored AS (
  SELECT day, v,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_days,
         CAST(SUM(v) OVER () AS BIGINT) AS s,
         CAST(SUM(CAST(v AS HUGEINT) * v) OVER () AS HUGEINT) AS ss,
         ABS(CAST(COUNT(*) OVER () AS HUGEINT) * v
             - CAST(SUM(v) OVER () AS HUGEINT)) AS dev
  FROM daily
),
top AS (
  SELECT * FROM scored ORDER BY dev DESC, day ASC LIMIT 1
),
calc AS (
  SELECT n_days, day, v, CAST(n_days AS DOUBLE) AS n,
         {_dec2d("dev")} AS dev_d,
         GREATEST({_dec2d("CAST(n_days AS HUGEINT) * ss - CAST(s AS HUGEINT) * s")}, 0.0)
           AS var_d
  FROM top WHERE n_days >= 2
),
gg AS (
  SELECT n_days, day, v,
         sqrt(var_d / (n * n * GREATEST(n - 1.0, 1.0))) AS s_pooled,
         dev_d, n
  FROM calc
)
SELECT n_days, day AS peak_day,
       CAST(v AS DOUBLE) / 1e6 AS day_revenue,
       CASE WHEN s_pooled <= 0 THEN 0.0 ELSE dev_d / n / s_pooled END AS g_stat,
       (CASE WHEN s_pooled <= 0 THEN 0.0 ELSE dev_d / n / s_pooled END)
         > CAST(3.0 AS DOUBLE) AS outlier_3sigma
FROM gg
"""


# Twin of operators/analytics.py:odds_ratio_daily — add-one smoothed 2x2,
# micro-snapped integer logs, digit-split exact products, Woolf SE summed
# left-associatively. DuckDB dayofweek: 0=Sunday..6=Saturday (Spark 1/7).
ORACLES["odds_ratio_daily"] = f"""
WITH cells AS (
  SELECT
    CAST(SUM(CASE WHEN dayofweek(ts) IN (0, 6) AND event_type = '{ENTRY}'
                  THEN 1 ELSE 0 END) + 1 AS BIGINT) AS a,
    CAST(SUM(CASE WHEN dayofweek(ts) IN (0, 6) AND event_type = '{EXIT}'
                  THEN 1 ELSE 0 END) + 1 AS BIGINT) AS b,
    CAST(SUM(CASE WHEN dayofweek(ts) NOT IN (0, 6) AND event_type = '{ENTRY}'
                  THEN 1 ELSE 0 END) + 1 AS BIGINT) AS c,
    CAST(SUM(CASE WHEN dayofweek(ts) NOT IN (0, 6) AND event_type = '{EXIT}'
                  THEN 1 ELSE 0 END) + 1 AS BIGINT) AS d
  FROM events WHERE event_type IN ('{ENTRY}', '{EXIT}')
),
lg AS (
  SELECT *,
    (CAST(round(ln(CAST(a AS DOUBLE)) * 1e6, 0) AS BIGINT)
     - CAST(round(ln(CAST(b AS DOUBLE)) * 1e6, 0) AS BIGINT)
     - CAST(round(ln(CAST(c AS DOUBLE)) * 1e6, 0) AS BIGINT)
     + CAST(round(ln(CAST(d AS DOUBLE)) * 1e6, 0) AS BIGINT)) AS lor_micro,
    sqrt(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)
         + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(d AS DOUBLE)) AS se
  FROM cells
),
fin AS (
  SELECT a, b, c, d,
         {_dec2d("CAST(a AS HUGEINT) * d")} / {_dec2d("CAST(b AS HUGEINT) * c")}
           AS odds_ratio,
         CAST(lor_micro AS DOUBLE) / 1e6 AS log_or,
         se,
         CAST(lor_micro AS DOUBLE) / 1e6 - CAST(1.96 AS DOUBLE) * se AS lo,
         CAST(lor_micro AS DOUBLE) / 1e6 + CAST(1.96 AS DOUBLE) * se AS hi
  FROM lg
)
SELECT a AS n_weekend_entry, b AS n_weekend_exit,
       c AS n_weekday_entry, d AS n_weekday_exit,
       odds_ratio, log_or, se AS se_log_or, lo AS ci_lo, hi AS ci_hi,
       (lo > 0 OR hi < 0) AS significant_5pct
FROM fin
"""


# ===========================================================================
# r07 batch B: blocked / k-sample / causal daily-series tests
# ===========================================================================

# Twin of operators/analytics.py:mood_median_test — same (v, type, day)
# total-order lower median, nano-snapped per-type chi2 terms integer-summed.
ORACLES["mood_median_test"] = f"""
WITH cell AS (
  SELECT event_type, {_DAY} AS day,
         CAST(floor(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) * 1e6 + 0.5)
              AS BIGINT) AS v
  FROM events GROUP BY 1, 2
),
med AS (
  SELECT v AS med FROM (
    SELECT v,
           CAST(row_number() OVER (ORDER BY v, event_type, day) AS BIGINT) AS rn,
           CAST(COUNT(*) OVER () AS BIGINT) AS n
    FROM cell
  ) WHERE rn = (n + 1) // 2
),
per AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_cells,
         CAST(SUM(CASE WHEN v > med THEN 1 ELSE 0 END) AS BIGINT) AS n_above
  FROM cell, med GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(n_cells) AS BIGINT) AS nn,
         CAST(SUM(n_above) AS BIGINT) AS aa,
         CAST(COUNT(*) AS BIGINT) AS k
  FROM per
),
scored AS (
  SELECT event_type, n_cells, n_above, k,
         {_dec2d("CAST(n_cells AS HUGEINT) * aa")} / CAST(nn AS DOUBLE) AS e_above,
         {_dec2d("CAST(n_cells AS HUGEINT) * (nn - aa)")} / CAST(nn AS DOUBLE)
           AS e_below,
         CAST(n_above AS DOUBLE) AS a_d,
         CAST(n_cells - n_above AS DOUBLE) AS b_d
  FROM per, tot
),
terms AS (
  SELECT event_type, n_cells, n_above, k, e_above,
         CAST(round(
           CASE WHEN e_above <= 0 OR e_below <= 0 THEN 0.0
                ELSE (a_d - e_above) * (a_d - e_above) / e_above
                     + (b_d - e_below) * (b_d - e_below) / e_below END * 1e9,
           0) AS BIGINT) AS t_nano
  FROM scored
)
SELECT event_type, n_cells, n_above, e_above AS expected_above,
       CAST(SUM(t_nano) OVER () AS DOUBLE) / 1e9 AS chi2,
       CAST(k - 1 AS BIGINT) AS df
FROM terms
ORDER BY event_type
"""


# Twin of operators/analytics.py:page_trend_test — epoch-aligned 7-day
# blocks, friedman x2 midranks, exact L_x2, no-tie normal approximation.
ORACLES["page_trend_test"] = """
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', date_trunc('day', ts))
              AS BIGINT) AS di,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
cells AS (
  SELECT di // 7 AS blk, di % 7 AS pos, x FROM daily
),
complete AS (
  SELECT * FROM (
    SELECT blk, pos, x, CAST(COUNT(*) OVER (PARTITION BY blk) AS BIGINT) AS k_blk
    FROM cells
  ) WHERE k_blk = 7
),
ranked AS (
  SELECT blk, pos,
         CAST(2 * (COUNT(*) OVER (PARTITION BY blk ORDER BY x
                                  RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - COUNT(*) OVER (PARTITION BY blk, x))
              + COUNT(*) OVER (PARTITION BY blk, x) + 1 AS BIGINT) AS rank2
  FROM complete
),
agg AS (
  SELECT CAST(COUNT(DISTINCT blk) AS BIGINT) AS n_weeks,
         CAST(SUM((pos + 1) * rank2) AS BIGINT) AS l_x2
  FROM ranked
),
calc AS (
  SELECT n_weeks, l_x2, CAST(n_weeks AS DOUBLE) AS b FROM agg WHERE n_weeks >= 1
),
vv AS (
  SELECT n_weeks, l_x2,
         b * CAST(448 AS DOUBLE) / 2.0 AS e_x2,
         b * CAST(18816 AS DOUBLE) / 144.0 AS var_l
  FROM calc
)
SELECT n_weeks, l_x2, e_x2 AS expected_l_x2,
       CASE WHEN var_l <= 0 THEN 0.0
            ELSE (CAST(l_x2 AS DOUBLE) - e_x2) / (2.0 * sqrt(var_l)) END AS z,
       (CASE WHEN var_l <= 0 THEN 0.0
             ELSE (CAST(l_x2 AS DOUBLE) - e_x2) / (2.0 * sqrt(var_l)) END)
         > CAST(1.645 AS DOUBLE) AS increasing_trend_5pct
FROM vv
"""


# Twin of operators/analytics.py:granger_daily — n-scaled centered moments
# in HUGEINT, digit-split conversions, Cramer's-rule RSS chain mirrored.
ORACLES["granger_daily"] = f"""
WITH daily AS (
  SELECT {_DAY} AS day,
         CAST(SUM(CASE WHEN event_type = '{ENTRY}' THEN 1 ELSE 0 END) AS BIGINT)
           AS ent,
         CAST(SUM(CASE WHEN event_type = '{EXIT}' THEN 1 ELSE 0 END) AS BIGINT)
           AS ext
  FROM events GROUP BY 1
),
pairs AS (
  SELECT ext AS yv,
         lag(ext) OVER (ORDER BY day) AS av,
         lag(ent) OVER (ORDER BY day) AS bv
  FROM daily
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(yv) AS BIGINT) AS sy,
         CAST(SUM(av) AS BIGINT) AS sa,
         CAST(SUM(bv) AS BIGINT) AS sb,
         CAST(SUM(CAST(yv AS HUGEINT) * yv) AS HUGEINT) AS syy,
         CAST(SUM(CAST(av AS HUGEINT) * av) AS HUGEINT) AS saa,
         CAST(SUM(CAST(bv AS HUGEINT) * bv) AS HUGEINT) AS sbb,
         CAST(SUM(CAST(av AS HUGEINT) * yv) AS HUGEINT) AS say,
         CAST(SUM(CAST(bv AS HUGEINT) * yv) AS HUGEINT) AS sby,
         CAST(SUM(CAST(av AS HUGEINT) * bv) AS HUGEINT) AS sab
  FROM pairs WHERE av IS NOT NULL
),
cen AS (
  SELECT n, CAST(n AS DOUBLE) AS n_d,
         {_dec2d("CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy")} AS cyy,
         {_dec2d("CAST(n AS HUGEINT) * saa - CAST(sa AS HUGEINT) * sa")} AS caa,
         {_dec2d("CAST(n AS HUGEINT) * sbb - CAST(sb AS HUGEINT) * sb")} AS cbb,
         {_dec2d("CAST(n AS HUGEINT) * say - CAST(sa AS HUGEINT) * sy")} AS cay,
         {_dec2d("CAST(n AS HUGEINT) * sby - CAST(sb AS HUGEINT) * sy")} AS cby,
         {_dec2d("CAST(n AS HUGEINT) * sab - CAST(sa AS HUGEINT) * sb")} AS cab
  FROM s WHERE n >= 4
),
rr AS (
  SELECT n, n_d, cyy, caa, cbb, cay, cby, cab,
         caa * cbb - cab * cab AS det,
         CASE WHEN caa <= 0 THEN cyy / n_d
              ELSE (cyy - cay * cay / caa) / n_d END AS rss_r
  FROM cen
),
uu AS (
  SELECT n, n_d, caa, det, rss_r,
         CASE WHEN det <= 0 THEN rss_r
              ELSE (cyy - (cbb * cay * cay - 2.0 * cab * cay * cby
                           + caa * cby * cby) / det) / n_d END AS rss_u
  FROM rr
),
ff AS (
  SELECT n, rss_r, rss_u,
         CASE WHEN rss_u <= 0 OR det <= 0 OR caa <= 0 THEN 0.0
              ELSE GREATEST(rss_r - rss_u, 0.0) * (n_d - 3.0) / rss_u END AS f_stat
  FROM uu
)
SELECT n AS n_pairs, rss_r AS rss_restricted, rss_u AS rss_unrestricted,
       f_stat, f_stat > CAST(3.84 AS DOUBLE) AS granger_5pct
FROM ff
"""


# ===========================================================================
# r07 batch C: storage-layout / incremental-maintenance data-engineering ops
# ===========================================================================

# Twin of operators/analytics.py:zonemap_prune_audit — micro-long zone maps,
# integer quintile thresholds, exact round-half-up skip_pct.
ORACLES["zonemap_prune_audit"] = f"""
WITH zones AS (
  SELECT {_DAY} AS day,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(MIN(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS zmin,
         CAST(MAX(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS zmax
  FROM events GROUP BY 1
),
span AS (
  SELECT CAST(MIN(zmin) AS BIGINT) AS vmin, CAST(MAX(zmax) AS BIGINT) AS vmax
  FROM zones
),
thr AS (
  SELECT i, CAST(vmin + ((vmax - vmin) * i) // 5 AS BIGINT) AS thr_micro
  FROM span, UNNEST([1, 2, 3, 4]) AS u(i)
),
sweep AS (
  SELECT i, thr_micro,
         CAST(COUNT(*) AS BIGINT) AS n_parts,
         CAST(SUM(CASE WHEN zmax <= thr_micro THEN 1 ELSE 0 END) AS BIGINT)
           AS n_parts_skipped,
         CAST(SUM(n_rows) AS BIGINT) AS rows_total,
         CAST(SUM(CASE WHEN zmax <= thr_micro THEN n_rows ELSE 0 END) AS BIGINT)
           AS rows_skipped
  FROM zones, thr GROUP BY 1, 2
)
SELECT CAST(i AS BIGINT) AS quintile,
       CAST(thr_micro AS DOUBLE) / 1e6 AS threshold,
       n_parts, n_parts_skipped, rows_total, rows_skipped,
       {_rr("rows_skipped * 100", "rows_total", 4)} AS skip_pct
FROM sweep
ORDER BY quintile
"""


# Twin of operators/analytics.py:ivm_merge_check — conditional split at the
# exact time midpoint, decimal partial aggregates merged by +, exact
# decimal equality audits.
ORACLES["ivm_merge_check"] = f"""
WITH rng AS (
  SELECT MIN(date_diff('second', TIMESTAMP '1970-01-01', ts)) AS t0,
         MAX(date_diff('second', TIMESTAMP '1970-01-01', ts)) AS t1
  FROM events
),
mid AS (SELECT t0 + (t1 - t0) // 2 AS mid FROM rng),
halves AS (
  SELECT {_DAY} AS day, event_type,
         CAST(SUM(CASE WHEN date_diff('second', TIMESTAMP '1970-01-01', ts) < mid
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
         CAST(SUM(CASE WHEN date_diff('second', TIMESTAMP '1970-01-01', ts) >= mid
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
         SUM(CASE WHEN date_diff('second', TIMESTAMP '1970-01-01', ts) < mid
                  THEN CAST(value AS DECIMAL(18,6))
                  ELSE CAST(0 AS DECIMAL(18,6)) END) AS rev_base,
         SUM(CASE WHEN date_diff('second', TIMESTAMP '1970-01-01', ts) >= mid
                  THEN CAST(value AS DECIMAL(18,6))
                  ELSE CAST(0 AS DECIMAL(18,6)) END) AS rev_delta
  FROM events, mid GROUP BY 1, 2
),
full_agg AS (
  SELECT {_DAY} AS day, event_type,
         CAST(COUNT(*) AS BIGINT) AS n_full,
         SUM(CAST(value AS DECIMAL(18,6))) AS rev_full
  FROM events GROUP BY 1, 2
)
SELECT h.day, h.event_type, h.n_base, h.n_delta,
       h.n_base + h.n_delta AS n_merged, f.n_full,
       CAST(h.rev_base + h.rev_delta AS DOUBLE) AS revenue_merged,
       CAST(f.rev_full AS DOUBLE) AS revenue_full,
       (h.n_base + h.n_delta = f.n_full) AS counts_equal,
       (CAST(h.rev_base + h.rev_delta AS DECIMAL(38,6))
          = CAST(f.rev_full AS DECIMAL(38,6))) AS revenue_equal
FROM halves h JOIN full_agg f ON h.day = f.day AND h.event_type = f.event_type
ORDER BY h.day, h.event_type
"""


# Twin of operators/analytics.py:winsorized_stats — same (value, event_id)
# total-order ranks, exact clamp bounds at k+1 / n-k, HUGEINT moments with
# digit-split conversions.
ORACLES["winsorized_stats"] = f"""
WITH ranked AS (
  SELECT event_type,
         CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS v,
         CAST(row_number() OVER (PARTITION BY event_type
                                 ORDER BY CAST(floor(value * 1e6 + 0.5) AS BIGINT),
                                          event_id) AS BIGINT) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM events
),
kk AS (SELECT *, (n * 5) // 100 AS k FROM ranked),
lo AS (SELECT event_type, v AS lo_v FROM kk WHERE rn = k + 1),
hi AS (SELECT event_type, v AS hi_v FROM kk WHERE rn = n - k),
clamped AS (
  SELECT kk.event_type, kk.n, kk.k,
         GREATEST(LEAST(kk.v, hi.hi_v), lo.lo_v) AS w,
         lo.lo_v, hi.hi_v
  FROM kk JOIN lo ON kk.event_type = lo.event_type
          JOIN hi ON kk.event_type = hi.event_type
),
agg AS (
  SELECT event_type,
         CAST(MAX(n) AS BIGINT) AS n,
         CAST(MAX(k) AS BIGINT) AS k_trimmed,
         CAST(MAX(lo_v) AS BIGINT) AS lo_v,
         CAST(MAX(hi_v) AS BIGINT) AS hi_v,
         CAST(SUM(CAST(w AS HUGEINT)) AS HUGEINT) AS s,
         CAST(SUM(CAST(w AS HUGEINT) * w) AS HUGEINT) AS ss
  FROM clamped GROUP BY 1
),
calc AS (
  SELECT event_type, n, k_trimmed, lo_v, hi_v,
         CAST(n AS DOUBLE) AS n_d,
         {_dec2d("s")} AS s_d,
         GREATEST({_dec2d("CAST(n AS HUGEINT) * ss - s * s")}, 0.0) AS var_d
  FROM agg
)
SELECT event_type, n, k_trimmed,
       CAST(lo_v AS DOUBLE) / 1e6 AS winsor_lo,
       CAST(hi_v AS DOUBLE) / 1e6 AS winsor_hi,
       s_d / n_d / 1e6 AS wins_mean,
       sqrt(var_d / (n_d * n_d * GREATEST(n_d - 1.0, 1.0))) / 1e6 AS wins_std
FROM calc
ORDER BY event_type
"""


# ===========================================================================
# r07 batch D: graph shape / representation similarity / index tuning
# ===========================================================================

# Twin of operators/dedup.py:degree_assortativity — same exact-Jaccard edge
# set, Newman directed-edge-list formulation, HUGEINT centered moments.
ORACLES["degree_assortativity"] = f"""
WITH edges AS (SELECT doc_a, doc_b FROM ({ORACLES['dedup_ngram_jaccard']})),
deg AS (
  SELECT u, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT doc_a AS u FROM edges UNION ALL SELECT doc_b AS u FROM edges
  ) GROUP BY 1
),
directed AS (
  SELECT doc_a AS u, doc_b AS v FROM edges
  UNION ALL SELECT doc_b AS u, doc_a AS v FROM edges
),
pairs AS (
  SELECT du.deg AS dx, dv.deg AS dy
  FROM directed d JOIN deg du ON du.u = d.u JOIN deg dv ON dv.u = d.v
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m2,
         CAST(SUM(dx) AS BIGINT) AS sx,
         CAST(SUM(dy) AS BIGINT) AS sy,
         CAST(SUM(CAST(dx AS HUGEINT) * dx) AS HUGEINT) AS sxx,
         CAST(SUM(CAST(dy AS HUGEINT) * dy) AS HUGEINT) AS syy,
         CAST(SUM(CAST(dx AS HUGEINT) * dy) AS HUGEINT) AS sxy
  FROM pairs
),
nodes AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(COALESCE(MAX(deg), 0) AS BIGINT) AS max_degree
  FROM deg
),
cen AS (
  SELECT m2,
         {_dec2d("CAST(m2 AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx")} AS cxx,
         {_dec2d("CAST(m2 AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy")} AS cyy,
         {_dec2d("CAST(m2 AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy")} AS cxy
  FROM s
)
SELECT nodes.n_nodes, CAST(cen.m2 // 2 AS BIGINT) AS n_edges, nodes.max_degree,
       CASE WHEN cen.m2 = 0 OR cen.cxx <= 0 OR cen.cyy <= 0 THEN 0.0
            ELSE cen.cxy / sqrt(cen.cxx * cen.cyy) END AS assortativity
FROM nodes, cen
"""

from inde1_spark.operators.similarity import (  # noqa: E402
    CKA_HALF,
    CKA_TERM_SCALE,
    IVF_SWEEP_PROBES,
)

_CKA_FP = f"{FIXED_POINT_SCALE:.1f}"

# Twin of operators/similarity.py:embedding_cka — per-cell fixed-point
# product sums in HUGEINT, mirrored centered-covariance chain, pico-snapped
# Frobenius terms integer-summed.
_cka_c = (
    f"{_dec2d('p.p')} / {_CKA_FP} - {_dec2d('sa.sdec')} / {_CKA_FP}"
    f" * ({_dec2d('sb.sdec')} / {_CKA_FP}) / CAST(n_row.n AS DOUBLE)"
)
_cka_frob = (
    _dec2d(
        f"CAST(SUM(CAST(ROUND(({_cka_c}) * ({_cka_c}) * {CKA_TERM_SCALE}.0)"
        f" AS BIGINT)) AS HUGEINT)"
    )
    + f" / {CKA_TERM_SCALE}.0"
)

ORACLES["embedding_cka"] = f"""
WITH n_row AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
ex AS (
  SELECT vec_id, i - 1 AS i, CAST(embedding[i] AS DOUBLE) AS x
  FROM embeddings, UNNEST(generate_series(1, {CKA_HALF})) AS u(i)
),
ey AS (
  SELECT vec_id, j - {CKA_HALF + 1} AS j, CAST(embedding[j] AS DOUBLE) AS y
  FROM embeddings, UNNEST(generate_series({CKA_HALF + 1}, {2 * CKA_HALF})) AS u(j)
),
sx AS (
  SELECT i, CAST(SUM(CAST(ROUND(x * {_CKA_FP}) AS BIGINT)) AS HUGEINT) AS sdec
  FROM ex GROUP BY 1
),
sy AS (
  SELECT j, CAST(SUM(CAST(ROUND(y * {_CKA_FP}) AS BIGINT)) AS HUGEINT) AS sdec
  FROM ey GROUP BY 1
),
pxy AS (
  SELECT a.i, b.j,
         CAST(SUM(CAST(ROUND(a.x * b.y * {_CKA_FP}) AS BIGINT)) AS HUGEINT) AS p
  FROM ex a JOIN ey b ON a.vec_id = b.vec_id GROUP BY 1, 2
),
pxx AS (
  SELECT a.i, b.i AS j,
         CAST(SUM(CAST(ROUND(a.x * b.x * {_CKA_FP}) AS BIGINT)) AS HUGEINT) AS p
  FROM ex a JOIN ex b ON a.vec_id = b.vec_id GROUP BY 1, 2
),
pyy AS (
  SELECT a.j AS i, b.j,
         CAST(SUM(CAST(ROUND(a.y * b.y * {_CKA_FP}) AS BIGINT)) AS HUGEINT) AS p
  FROM ey a JOIN ey b ON a.vec_id = b.vec_id GROUP BY 1, 2
),
fxy AS (
  SELECT {_cka_frob} AS fxy
  FROM pxy p JOIN sx sa ON sa.i = p.i JOIN sy sb ON sb.j = p.j, n_row
),
fxx AS (
  SELECT {_cka_frob} AS fxx
  FROM pxx p JOIN sx sa ON sa.i = p.i JOIN sx sb ON sb.i = p.j, n_row
),
fyy AS (
  SELECT {_cka_frob} AS fyy
  FROM pyy p JOIN sy sa ON sa.j = p.i JOIN sy sb ON sb.j = p.j, n_row
)
SELECT n_row.n AS n_vectors,
       CAST({CKA_HALF} AS BIGINT) AS half_dims,
       fxy.fxy AS frob_xy, fxx.fxx AS frob_xx, fyy.fyy AS frob_yy,
       CASE WHEN fxx.fxx <= 0 OR fyy.fyy <= 0 THEN 0.0
            ELSE fxy.fxy / sqrt(fxx.fxx * fyy.fyy) END AS cka
FROM n_row, fxy, fxx, fyy
"""


def _ivf_topk_sql(nprobe: int) -> str:
    """The knn_ivf oracle at a different probe width. The base oracle pins
    ``prn <= N_PROBE`` in exactly one place; substituting that literal is
    the same parameterization knn_ivf(n_probe=...) applies Spark-side."""
    base = ORACLES["knn_ivf"]
    needle = f"prn <= {N_PROBE}"
    assert base.count(needle) == 1
    return base.replace(needle, f"prn <= {nprobe}")


# Twin of operators/similarity.py:ivf_nprobe_sweep — truth is the brute
# top-k re-cut to K_IVF (same ordering), one LEFT-join recall row per probe.
ORACLES["ivf_nprobe_sweep"] = "\nUNION ALL\n".join(
    f"""
SELECT CAST({np} AS BIGINT) AS n_probe,
       CAST(count(*) AS BIGINT) AS total_k,
       CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS total_hits,
       {_rr("SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)",
            "count(*)", 4)} AS recall
FROM (SELECT query_id, neighbor_id FROM ({ORACLES["knn_brute_cosine"]})
      WHERE rank <= {K_IVF}) t
LEFT JOIN (SELECT query_id, neighbor_id FROM ({_ivf_topk_sql(np)})) a
  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
"""
    for np in IVF_SWEEP_PROBES
)

from inde1_spark.operators.text import RAKE_SCORE_SCALE, RAKE_TOP_K  # noqa: E402

# Twin of operators/text.py:rake_keywords — same stopword-delimiter phrase
# surgery, exact micro-long word scores, exact long phrase sums,
# lexicographic tie-break.
ORACLES["rake_keywords"] = f"""
WITH marked AS (
  SELECT array_to_string(
           list_transform(
             list_filter(string_split(text, ' '), t -> t <> ''),
             t -> CASE WHEN t IN ({_STOP_LIST}) THEN '|' ELSE t END
           ), ' ') AS m
  FROM documents
),
pe AS (
  SELECT p AS phrase
  FROM marked, UNNEST(list_filter(regexp_split_to_array(m, ' *\\| *'),
                                  p -> p <> '')) AS u(p)
),
pw AS (
  SELECT phrase,
         CAST(len(string_split(phrase, ' ')) AS BIGINT) AS plen,
         w AS word
  FROM pe, UNNEST(string_split(phrase, ' ')) AS u(w)
),
ws AS (
  SELECT word,
         CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(plen) AS BIGINT) AS degree
  FROM pw GROUP BY 1
),
wsc AS (
  SELECT word,
         CAST((degree * {2 * RAKE_SCORE_SCALE} + freq
               - (degree * {2 * RAKE_SCORE_SCALE} + freq) % (freq * 2))
              // (freq * 2) AS BIGINT) AS score_micro
  FROM ws
),
pd AS (
  SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences FROM pe GROUP BY 1
),
pdw AS (
  SELECT phrase, n_occurrences, w AS word
  FROM pd, UNNEST(string_split(phrase, ' ')) AS u(w)
),
scored AS (
  SELECT pdw.phrase, pdw.n_occurrences,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(wsc.score_micro) AS BIGINT) AS s_micro
  FROM pdw JOIN wsc ON wsc.word = pdw.word
  GROUP BY 1, 2
)
SELECT rank, phrase, n_words, n_occurrences,
       CAST(s_micro AS DOUBLE) / {RAKE_SCORE_SCALE}.0 AS score
FROM (
  SELECT phrase, n_words, n_occurrences, s_micro,
         CAST(row_number() OVER (ORDER BY s_micro DESC, phrase ASC) AS BIGINT)
           AS rank
  FROM scored
) WHERE rank <= {RAKE_TOP_K}
"""


# ===========================================================================
# r07 batch E: two-sample / coverage / planner-statistics operators
# ===========================================================================

# Twin of operators/analytics.py:cvm_two_sample — same pooled total order,
# exact rank form in HUGEINT, digit-split mirrored T chain.
ORACLES["cvm_two_sample"] = f"""
WITH daily AS (
  SELECT event_type, {_DAY} AS day, CAST(COUNT(*) AS BIGINT) AS v
  FROM events WHERE event_type IN ('{ENTRY}', '{EXIT}')
  GROUP BY 1, 2
),
pooled AS (
  SELECT (event_type = '{ENTRY}') AS is_x, day, v,
         CAST(row_number() OVER (ORDER BY v, event_type, day) AS BIGINT) AS r
  FROM daily
),
within AS (
  SELECT is_x, r,
         CAST(row_number() OVER (PARTITION BY is_x ORDER BY r) AS BIGINT) AS i
  FROM pooled
),
agg AS (
  SELECT is_x, CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(CAST(r - i AS HUGEINT) * (r - i)) AS HUGEINT) AS sq
  FROM within GROUP BY 1
),
two AS (
  SELECT MAX(CASE WHEN is_x THEN cnt END) AS m,
         MAX(CASE WHEN NOT is_x THEN cnt END) AS n,
         MAX(CASE WHEN is_x THEN sq END) AS sqx,
         MAX(CASE WHEN NOT is_x THEN sq END) AS sqy
  FROM agg
),
calc AS (
  SELECT m, n,
         {_dec2d("CAST(m AS HUGEINT) * sqx + CAST(n AS HUGEINT) * sqy")} AS u_d,
         CAST(m AS DOUBLE) AS m_d, CAST(n AS DOUBLE) AS n_d
  FROM two WHERE m IS NOT NULL AND n IS NOT NULL
),
tt AS (
  SELECT m, n, u_d,
         u_d / ((m_d + n_d) * m_d * n_d)
           - (4.0 * m_d * n_d - 1.0) / (6.0 * (m_d + n_d)) AS t
  FROM calc
)
SELECT m AS n_entry_days, n AS n_exit_days, u_d AS u_stat, t AS t_stat,
       t > CAST(0.461 AS DOUBLE) AS different_5pct
FROM tt
"""


# Twin of operators/analytics.py:two_proportion_z — exact long counts,
# mirrored pooled-SE chain. DuckDB dayofweek 0/6 == Spark 1/7 weekend.
ORACLES["two_proportion_z"] = f"""
WITH cells AS (
  SELECT
    CAST(SUM(CASE WHEN dayofweek(ts) IN (0, 6) AND event_type = '{ENTRY}'
                  THEN 1 ELSE 0 END) AS BIGINT) AS a,
    CAST(SUM(CASE WHEN dayofweek(ts) IN (0, 6) THEN 1 ELSE 0 END) AS BIGINT)
      AS n1,
    CAST(SUM(CASE WHEN dayofweek(ts) NOT IN (0, 6) AND event_type = '{ENTRY}'
                  THEN 1 ELSE 0 END) AS BIGINT) AS c,
    CAST(SUM(CASE WHEN dayofweek(ts) NOT IN (0, 6) THEN 1 ELSE 0 END) AS BIGINT)
      AS n2
  FROM events WHERE event_type IN ('{ENTRY}', '{EXIT}')
),
calc AS (
  SELECT a, n1, c, n2,
         CAST(a AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
         CAST(c AS DOUBLE) / CAST(n2 AS DOUBLE) AS p2,
         (CAST(a AS DOUBLE) + CAST(c AS DOUBLE))
           / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) AS pp
  FROM cells WHERE n1 > 0 AND n2 > 0
),
zz AS (
  SELECT a, n1, c, n2, p1, p2,
         sqrt(pp * (1.0 - pp)
              * (1.0 / CAST(n1 AS DOUBLE) + 1.0 / CAST(n2 AS DOUBLE))) AS se
  FROM calc
)
SELECT a AS n_weekend_entry, n1 AS n_weekend,
       c AS n_weekday_entry, n2 AS n_weekday,
       p1 AS p_weekend, p2 AS p_weekday,
       CASE WHEN se <= 0 THEN 0.0 ELSE (p1 - p2) / se END AS z,
       ABS(CASE WHEN se <= 0 THEN 0.0 ELSE (p1 - p2) / se END)
         > CAST(1.96 AS DOUBLE) AS significant_5pct
FROM zz
"""


# Twin of operators/analytics.py:capture_recapture — Chapman estimator with
# digit-split products, Seber variance mirrored, exact midpoint split.
ORACLES["capture_recapture"] = f"""
WITH rng AS (
  SELECT MIN(date_diff('second', TIMESTAMP '1970-01-01', ts)) AS t0,
         MAX(date_diff('second', TIMESTAMP '1970-01-01', ts)) AS t1
  FROM events
),
mid AS (SELECT t0 + (t1 - t0) // 2 AS mid FROM rng),
per_user AS (
  SELECT user_id,
         MAX(CASE WHEN date_diff('second', TIMESTAMP '1970-01-01', ts) < mid
                  THEN 1 ELSE 0 END) AS in1,
         MAX(CASE WHEN date_diff('second', TIMESTAMP '1970-01-01', ts) >= mid
                  THEN 1 ELSE 0 END) AS in2
  FROM events, mid GROUP BY 1
),
agg AS (
  SELECT CAST(SUM(in1) AS BIGINT) AS n1,
         CAST(SUM(in2) AS BIGINT) AS n2,
         CAST(SUM(in1 * in2) AS BIGINT) AS m,
         CAST(COUNT(*) AS BIGINT) AS n_observed
  FROM per_user
),
calc AS (
  SELECT n1, n2, m, n_observed,
         {_dec2d("CAST(n1 + 1 AS HUGEINT) * (n2 + 1)")}
           / CAST(m + 1 AS DOUBLE) - 1.0 AS est,
         {_dec2d("CAST(n1 + 1 AS HUGEINT) * (n2 + 1) * (n1 - m)")}
           * CAST(n2 - m AS DOUBLE)
           / (CAST(m + 1 AS DOUBLE) * CAST(m + 1 AS DOUBLE)
              * CAST(m + 2 AS DOUBLE)) AS var_est
  FROM agg
)
SELECT n1, n2, m AS m_overlap, n_observed,
       est AS est_total,
       sqrt(GREATEST(var_est, 0.0)) AS se_total,
       {_rr("n_observed * 100",
            "GREATEST(CAST(floor(est + 0.5) AS BIGINT), 1)", 4)} AS coverage_pct
FROM calc
"""


# Twin of operators/analytics.py:join_order_audit — per-key count passes,
# HUGEINT products, string emission for the wide exact counts.
ORACLES["join_order_audit"] = """
WITH oc AS (
  SELECT o_custkey AS ck, CAST(COUNT(*) AS BIGINT) AS oc FROM orders GROUP BY 1
),
cc AS (SELECT c_custkey AS ck, c_nationkey AS nk FROM customer),
nc AS (
  SELECT n_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS nn FROM nation GROUP BY 1
),
ccnt AS (SELECT ck, CAST(COUNT(*) AS BIGINT) AS cc_n FROM cc GROUP BY 1),
ccn AS (SELECT nk, CAST(COUNT(*) AS BIGINT) AS cn FROM cc GROUP BY 1),
plan_a AS (
  SELECT COALESCE(CAST(SUM(CAST(oc.oc AS HUGEINT) * ccnt.cc_n) AS HUGEINT),
                  CAST(0 AS HUGEINT)) AS rows_dec
  FROM oc JOIN ccnt ON oc.ck = ccnt.ck
),
plan_b AS (
  SELECT COALESCE(CAST(SUM(CAST(ccn.cn AS HUGEINT) * nc.nn) AS HUGEINT),
                  CAST(0 AS HUGEINT)) AS rows_dec
  FROM ccn JOIN nc ON ccn.nk = nc.nk
),
fin AS (
  SELECT COALESCE(CAST(SUM(CAST(COALESCE(oc.oc, 0) AS HUGEINT)
                           * COALESCE(nc.nn, 0)) AS HUGEINT),
                  CAST(0 AS HUGEINT)) AS final_dec
  FROM cc LEFT JOIN oc ON cc.ck = oc.ck LEFT JOIN nc ON cc.nk = nc.nk
),
plans AS (
  SELECT 'orders_customer_first' AS plan, rows_dec FROM plan_a
  UNION ALL
  SELECT 'customer_nation_first' AS plan, rows_dec FROM plan_b
)
SELECT plan,
       CAST(rows_dec AS VARCHAR) AS intermediate_rows,
       CAST(final_dec AS VARCHAR) AS final_rows,
       row_number() OVER (ORDER BY rows_dec ASC, plan DESC) = 1 AS is_cheapest
FROM plans, fin
ORDER BY plan
"""


# Twin of operators/analytics.py:cochran_armitage_trend — epoch-dow scores,
# N-scaled integer identities in HUGEINT, digit-split mirrored z chain.
ORACLES["cochran_armitage_trend"] = f"""
WITH cells AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', date_trunc('day', ts))
              AS BIGINT) % 7 AS s,
         CAST(SUM(CASE WHEN event_type = '{ENTRY}' THEN 1 ELSE 0 END) AS BIGINT)
           AS a,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events WHERE event_type IN ('{ENTRY}', '{EXIT}')
  GROUP BY 1
),
agg AS (
  SELECT CAST(SUM(a) AS BIGINT) AS aa,
         CAST(SUM(n) AS BIGINT) AS nn,
         CAST(SUM(s * a) AS BIGINT) AS sa,
         CAST(SUM(s * n) AS BIGINT) AS sn,
         CAST(SUM(s * s * n) AS BIGINT) AS ssn
  FROM cells
),
calc AS (
  SELECT aa, nn,
         {_dec2d("CAST(nn AS HUGEINT) * sa - CAST(aa AS HUGEINT) * sn")} AS num_d,
         GREATEST({_dec2d(
             "CAST(aa AS HUGEINT) * (nn - aa)"
             " * (CAST(nn AS HUGEINT) * ssn - CAST(sn AS HUGEINT) * sn)"
         )}, 0.0) AS var_d
  FROM agg WHERE nn > 0 AND aa > 0 AND aa < nn
),
zz AS (
  SELECT nn, aa,
         CASE WHEN var_d <= 0 THEN 0.0
              ELSE num_d * sqrt(CAST(nn AS DOUBLE)) / sqrt(var_d) END AS z
  FROM calc
)
SELECT nn AS n_total, aa AS n_entry, z,
       ABS(z) > CAST(1.96 AS DOUBLE) AS trend_5pct,
       CASE WHEN z > 0 THEN 'increasing'
            WHEN z < 0 THEN 'decreasing'
            ELSE 'flat' END AS direction
FROM zz
"""


# Twin of operators/corpus.py:lognormal_length_fit — micro-snapped integer
# logs, exact lower-median order statistic, HUGEINT moments, digit-split.
ORACLES["lognormal_length_fit"] = f"""
WITH logs AS (
  SELECT doc_id,
         CAST(round(ln(CAST(n_chars AS DOUBLE)) * 1e6, 0) AS BIGINT) AS l
  FROM documents WHERE n_chars > 0
),
med AS (
  SELECT l AS med_micro FROM (
    SELECT l,
           CAST(row_number() OVER (ORDER BY l, doc_id) AS BIGINT) AS rn,
           CAST(COUNT(*) OVER () AS BIGINT) AS n
    FROM logs
  ) WHERE rn = (n + 1) // 2
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(l) AS HUGEINT) AS s,
         CAST(SUM(CAST(l AS HUGEINT) * l) AS HUGEINT) AS ss
  FROM logs
),
calc AS (
  SELECT n_docs, CAST(n_docs AS DOUBLE) AS n_d,
         {_dec2d("s")} / CAST(n_docs AS DOUBLE) / 1e6 AS mu,
         sqrt(GREATEST({_dec2d("CAST(n_docs AS HUGEINT) * ss - s * s")}, 0.0)
              / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)
                 * GREATEST(CAST(n_docs AS DOUBLE) - 1.0, 1.0))) / 1e6 AS sigma
  FROM agg WHERE n_docs >= 2
)
SELECT n_docs, mu AS mu_log, sigma AS sigma_log,
       CAST(med_micro AS DOUBLE) / 1e6 AS empirical_median_log,
       mu - CAST(med_micro AS DOUBLE) / 1e6 AS mean_median_gap,
       CASE WHEN sigma <= 0 THEN FALSE
            ELSE ABS(mu - CAST(med_micro AS DOUBLE) / 1e6)
                   > CAST(0.1 AS DOUBLE) * sigma END AS asymmetric_flag
FROM calc, med
"""


# ===========================================================================
# r09 batch onwards: each batch was twinned here while its operators sat on
# the staged surface, and its operators promoted with their round's window
# rotation. The twins from the r12 batch on still belong to staged
# operators; which surface a twin serves is read from its query's record in
# __spark_entry__, so a promotion never moves a twin.
# ===========================================================================

from inde1_spark.operators.analytics import (  # noqa: E402
    KM_CHURN_GAP_DAYS as _NA_GAP,
    NDV_SAMPLE_MOD,
    COMPACT_TARGET_BYTES,
    COMPACT_ROW_BYTES,
)

# Twin of operators/analytics.py:nelson_aalen_hazard — KM's churn rule and
# suffix-sum risk set; micro round-half-up increments summed in BIGINT.
ORACLES["nelson_aalen_hazard"] = f"""
WITH per_user AS (
  SELECT user_id,
         MIN(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS first_d,
         MAX(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS last_d
  FROM events GROUP BY 1
),
mx AS (SELECT MAX(last_d) AS max_d FROM per_user),
obs AS (
  SELECT CASE WHEN last_d < max_d - {_NA_GAP}
              THEN last_d - first_d ELSE max_d - first_d END AS t,
         CASE WHEN last_d < max_d - {_NA_GAP} THEN 1 ELSE 0 END AS churned
  FROM per_user CROSS JOIN mx
),
grid AS (
  SELECT t, CAST(SUM(churned) AS BIGINT) AS n_churned,
         CAST(SUM(1 - churned) AS BIGINT) AS n_censored
  FROM obs GROUP BY 1
),
risk AS (
  SELECT t, n_churned, n_censored,
         CAST(SUM(n_churned + n_censored) OVER (ORDER BY t
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
           AS n_at_risk
  FROM grid
),
snapped AS (
  SELECT t, n_at_risk, n_churned, n_censored,
         CAST(((n_churned * 2000000 + n_at_risk)
               - (n_churned * 2000000 + n_at_risk) % (n_at_risk * 2))
              / (n_at_risk * 2) AS BIGINT) AS inc_micro
  FROM risk
)
SELECT t AS duration_days, n_at_risk, n_churned, n_censored,
       CAST(inc_micro AS DOUBLE) / 1e6 AS hazard_inc,
       CAST(SUM(inc_micro) OVER (ORDER BY t
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1e6
         AS cum_hazard
FROM snapped ORDER BY duration_days
"""


# Twin of operators/analytics.py:ndv_estimator_audit — identical md5-bucket
# sample, Chao1_bc / GEE arithmetic (floor before BIGINT: DuckDB CAST
# rounds, Spark truncates), exact round-half-up err_pct.
def _ndv_block(col: str) -> str:
    samp = _hash_bucket_sql("event_id", NDV_SAMPLE_MOD)
    chao1 = (
        "(CAST(d_s AS DOUBLE)"
        " + CAST(f1 * (f1 - 1) AS DOUBLE) / (2.0 * CAST(f2 + 1 AS DOUBLE)))"
    )
    gee = "(sqrt(CAST(10 AS DOUBLE)) * CAST(f1 AS DOUBLE) + CAST(d_s - f1 AS DOUBLE))"
    return f"""
SELECT '{col}' AS column_name, ex.n_rows, ex.exact_ndv, st.n_sample,
       st.d_s AS sample_ndv, st.f1, st.f2,
       {chao1} AS chao1_est,
       {gee} AS gee_est,
       CASE WHEN exact_ndv > 0
            THEN {_rr(f"ABS(CAST(floor({chao1} * 1e4) AS BIGINT) - exact_ndv * 10000)",
                      "exact_ndv * 100", 2)}
            ELSE CAST(0 AS DOUBLE) END AS chao1_err_pct
FROM (
  SELECT CAST(COUNT(DISTINCT {col}) AS BIGINT) AS exact_ndv,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM events
) ex CROSS JOIN (
  SELECT CAST(COUNT(*) AS BIGINT) AS d_s,
         CAST(COALESCE(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS f1,
         CAST(COALESCE(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS f2,
         CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_sample
  FROM (
    SELECT {col} AS v, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events WHERE {samp} = 0 GROUP BY 1
  )
) st
"""


ORACLES["ndv_estimator_audit"] = (
    _ndv_block("user_id")
    + " UNION ALL "
    + _ndv_block("event_type")
    + " ORDER BY column_name"
)


# Twin of operators/analytics.py:file_compaction_plan — cumulative-fill
# file assignment over the day grid, exact longs, round-half-up fill_pct.
ORACLES["file_compaction_plan"] = f"""
WITH zones AS (
  SELECT {_DAY} AS day, CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM events GROUP BY 1
),
sized AS (
  SELECT day, n_rows, n_rows * {COMPACT_ROW_BYTES} AS day_bytes,
         CAST(COALESCE(SUM(n_rows * {COMPACT_ROW_BYTES}) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM zones
),
assigned AS (
  SELECT day, n_rows, day_bytes,
         CAST(cum_before // {COMPACT_TARGET_BYTES} AS BIGINT) AS file_id,
         day_bytes > {COMPACT_TARGET_BYTES} AS oversized_day
  FROM sized
)
SELECT file_id, MIN(day) AS first_day, MAX(day) AS last_day,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       CAST(SUM(day_bytes) AS BIGINT) AS file_bytes,
       {_rr("CAST(SUM(day_bytes) AS BIGINT) * 100",
            str(COMPACT_TARGET_BYTES), 2)} AS fill_pct,
       CAST(MAX(CAST(oversized_day AS INT)) AS BOOLEAN) AS has_oversized_day
FROM assigned GROUP BY 1 ORDER BY file_id
"""


# Twin of operators/dedup.py:label_propagation_communities — same edges,
# UNION ALL self-vote, (votes DESC, label ASC) argmax; every round CTE is
# AS MATERIALIZED (the kcore inlining rule: a chained unroll re-inlines
# k^rounds-fold otherwise).
def _lpa_sql(rounds: int) -> str:
    parts = [
        f"WITH edges AS MATERIALIZED (SELECT doc_a, doc_b FROM ({ORACLES['dedup_ngram_jaccard']})),",
        "nbrs AS MATERIALIZED (",
        "  SELECT doc_a AS u, doc_b AS v FROM edges",
        "  UNION ALL SELECT doc_b AS u, doc_a AS v FROM edges",
        "),",
        "labels_0 AS MATERIALIZED (SELECT DISTINCT u, u AS label FROM nbrs),",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""votes_{r} AS MATERIALIZED (
  SELECT u, label, CAST(COUNT(*) AS BIGINT) AS votes FROM (
    SELECT n.u, l.label FROM nbrs n JOIN labels_{r-1} l ON n.v = l.u
    UNION ALL SELECT u, label FROM labels_{r-1}
  ) GROUP BY 1, 2
),
labels_{r} AS MATERIALIZED (
  SELECT u, label FROM (
    SELECT u, label,
           row_number() OVER (PARTITION BY u ORDER BY votes DESC, label ASC)
             AS rn
    FROM votes_{r}
  ) WHERE rn = 1
),"""
        )
    parts.append(
        f"""sizes AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS community_size
  FROM labels_{rounds} GROUP BY 1
)
SELECT community_size, CAST(COUNT(*) AS BIGINT) AS n_communities
FROM sizes GROUP BY 1 ORDER BY community_size"""
    )
    return "\n".join(parts)


from inde1_spark.operators.dedup import LPA_ROUNDS  # noqa: E402

ORACLES["label_propagation_communities"] = _lpa_sql(LPA_ROUNDS)


# Twin of operators/scoring.py:jm_query_likelihood — identical integer-
# product nano logs over the bounded |Q| grid, same top-k total order.
def _jm_ql_sql() -> str:
    from inde1_spark.operators.scoring import BM25_QUERY, BM25_TOP_K

    qin = ", ".join(f"'{t}'" for t in BM25_QUERY)

    def lnn(x: str) -> str:
        return f"CAST(round(ln(CAST({x} AS DOUBLE)) * 1e9, 0) AS BIGINT)"

    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
  FROM documents
),
dl AS MATERIALIZED (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
              AS BIGINT) AS dlen
  FROM documents
  WHERE len(list_filter(string_split(text, ' '), t -> t <> '')) > 0
),
ntot AS (SELECT CAST(SUM(dlen) AS BIGINT) AS n_tok FROM dl),
cq AS MATERIALIZED (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS c_q
  FROM toks WHERE term IN ({qin}) GROUP BY 1
),
dq AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c_dq
  FROM toks WHERE term IN ({qin}) GROUP BY 1, 2
),
grid AS (
  SELECT d.doc_id, d.dlen,
         {lnn("3 * COALESCE(c_dq, 0) * n_tok + c_q * dlen")}
           - {lnn("4 * dlen * n_tok")} AS term_nano
  FROM dl d CROSS JOIN cq CROSS JOIN ntot
  LEFT JOIN dq ON dq.doc_id = d.doc_id AND dq.term = cq.term
),
scored AS (
  SELECT doc_id, dlen, CAST(SUM(term_nano) AS BIGINT) AS score_nano
  FROM grid GROUP BY 1, 2
)
SELECT doc_id, dlen, CAST(score_nano AS DOUBLE) / 1e9 AS jm_score
FROM scored ORDER BY score_nano DESC, doc_id ASC LIMIT {BM25_TOP_K}
"""


ORACLES["jm_query_likelihood"] = _jm_ql_sql()


from inde1_spark.operators.dedup import SUBSTRING_WINDOW_TOKENS  # noqa: E402

# Twin of operators/dedup.py:dedup_substring_windows — same rolling md5
# window hashes (positions kept, not DISTINCT), distinct-doc frequency,
# exact round-half-up dup mass.
ORACLES["dedup_substring_windows"] = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
wins AS MATERIALIZED (
  SELECT doc_id,
         md5(array_to_string(toks[i:i+{SUBSTRING_WINDOW_TOKENS - 1}], ' ')) AS h
  FROM toks,
       UNNEST(generate_series(1, len(toks) - {SUBSTRING_WINDOW_TOKENS - 1}))
         AS u(i)
  WHERE len(toks) >= {SUBSTRING_WINDOW_TOKENS}
),
dfreq AS (
  SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM wins GROUP BY 1
),
per_doc AS (
  SELECT w.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_windows,
         CAST(SUM(CASE WHEN d.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared_positions
  FROM wins w JOIN dfreq d USING (h)
  GROUP BY 1
)
SELECT doc_id, n_windows, n_shared_positions,
       {_rr("n_shared_positions * 100", "n_windows", 2)} AS substring_dup_pct
FROM per_doc ORDER BY doc_id
"""


# Twin of operators/analytics.py:sort_benefit_audit — day zones vs the
# value-sorted hypothetical with the same zone count; one conditional-count
# rank pass; exact longs; uplift subtracts two exact 4-dp decimals.
ORACLES["sort_benefit_audit"] = f"""
WITH zones AS (
  SELECT {_DAY} AS day, CAST(COUNT(*) AS BIGINT) AS n_rows,
         MAX(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS zmax
  FROM events GROUP BY 1
),
span AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_zones,
         CAST(SUM(n_rows) AS BIGINT) AS n_total
  FROM zones
),
vspan AS (
  SELECT MIN(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS vmin,
         MAX(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS vmax
  FROM events
),
thr AS (
  SELECT i, CAST(vmin + (vmax - vmin) * i // 5 AS BIGINT) AS thr_micro
  FROM vspan, UNNEST(generate_series(1, 4)) AS u(i)
),
cur AS (
  SELECT i, thr_micro,
         CAST(SUM(n_rows) AS BIGINT) AS rows_total,
         CAST(SUM(CASE WHEN zmax <= thr_micro THEN n_rows ELSE 0 END)
              AS BIGINT) AS rows_skipped_current
  FROM zones CROSS JOIN thr GROUP BY 1, 2
),
ranks AS (
  SELECT i,
         CAST(SUM(CASE WHEN CAST(floor(value * 1e6 + 0.5) AS BIGINT)
                            <= thr_micro THEN 1 ELSE 0 END) AS BIGINT)
           AS rank_le
  FROM events CROSS JOIN thr GROUP BY 1
),
merged AS (
  SELECT cur.i, cur.thr_micro, cur.rows_total, cur.rows_skipped_current,
         ranks.rank_le, span.n_zones, span.n_total,
         CAST((span.n_total + span.n_zones - 1) // span.n_zones AS BIGINT)
           AS zone_rows
  FROM cur JOIN ranks ON cur.i = ranks.i CROSS JOIN span
),
sk AS (
  SELECT i, thr_micro, rows_total, rows_skipped_current,
         CASE WHEN rank_le >= n_total THEN n_total
              ELSE CAST((rank_le // zone_rows) * zone_rows AS BIGINT)
         END AS rows_skipped_sorted
  FROM merged
)
SELECT CAST(i AS BIGINT) AS quintile,
       CAST(thr_micro AS DOUBLE) / 1e6 AS threshold,
       rows_total, rows_skipped_current, rows_skipped_sorted,
       {_rr("rows_skipped_current * 100", "rows_total", 4)}
         AS current_skip_pct,
       {_rr("rows_skipped_sorted * 100", "rows_total", 4)}
         AS sorted_skip_pct,
       {_rr("rows_skipped_sorted * 100", "rows_total", 4)}
         - {_rr("rows_skipped_current * 100", "rows_total", 4)} AS uplift_pp
FROM sk ORDER BY quintile
"""


from inde1_spark.operators.analytics import KMV_K  # noqa: E402

# Twin of operators/analytics.py:mcnemar_halves_test — capture_recapture's
# midpoint split; one integer product, one division.
ORACLES["mcnemar_halves_test"] = """
WITH rng AS (
  SELECT MIN(date_diff('second', TIMESTAMP '1970-01-01', ts)) AS t0,
         MAX(date_diff('second', TIMESTAMP '1970-01-01', ts)) AS t1
  FROM events
),
mid AS (SELECT t0 + (t1 - t0) // 2 AS mid FROM rng),
per_user AS (
  SELECT user_id,
         MAX(CASE WHEN date_diff('second', TIMESTAMP '1970-01-01', ts) < mid
                  THEN 1 ELSE 0 END) AS in1,
         MAX(CASE WHEN date_diff('second', TIMESTAMP '1970-01-01', ts) >= mid
                  THEN 1 ELSE 0 END) AS in2
  FROM events, mid GROUP BY 1
),
cells AS (
  SELECT
    CAST(SUM(CASE WHEN in1 = 1 AND in2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS b_first_only,
    CAST(SUM(CASE WHEN in1 = 0 AND in2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS c_second_only,
    CAST(SUM(CASE WHEN in1 = 1 AND in2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_both
  FROM per_user
),
ch AS (
  SELECT n_both, b_first_only, c_second_only,
         CASE WHEN b_first_only + c_second_only <= 0 THEN 0.0
              ELSE CAST((b_first_only - c_second_only)
                        * (b_first_only - c_second_only) AS DOUBLE)
                   / CAST(b_first_only + c_second_only AS DOUBLE)
         END AS chi2
  FROM cells
)
SELECT n_both, b_first_only, c_second_only, chi2,
       chi2 > CAST(3.84 AS DOUBLE) AS marginal_shift_5pct
FROM ch
"""


# Twin of operators/analytics.py:kmv_distinct_by_source — same md5 unit
# hashes, per-source rank of distinct hashes, (k-1)/h_k over exact dyadics,
# floor before BIGINT (DuckDB CAST rounds), exact round-half-up err_pct.
# exact_distinct is true COUNT(DISTINCT text); sketch-full fallback uses the
# distinct-HASH count (ADVICE r08).
ORACLES["kmv_distinct_by_source"] = f"""
WITH dh AS (
  SELECT DISTINCT source,
         CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) AS hv
  FROM documents
),
ranked AS (
  SELECT source, hv,
         CAST(row_number() OVER (PARTITION BY source ORDER BY hv) AS BIGINT)
           AS rk
  FROM dh
),
exact AS (
  SELECT source, CAST(COUNT(DISTINCT text) AS BIGINT) AS exact_distinct
  FROM documents GROUP BY 1
),
dhv AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS d_hv FROM dh GROUP BY 1
),
kth AS (SELECT source, hv AS hk FROM ranked WHERE rk = {KMV_K}),
est AS (
  SELECT e.source, e.exact_distinct,
         CASE WHEN k.hk IS NULL OR k.hk <= 0
              THEN CAST(d.d_hv AS DOUBLE)
              ELSE CAST({KMV_K - 1} AS DOUBLE)
                   / (CAST(k.hk AS DOUBLE) / CAST(4294967296 AS DOUBLE))
         END AS kmv_est
  FROM exact e
  JOIN dhv d ON e.source = d.source
  LEFT JOIN kth k ON e.source = k.source
)
SELECT source, exact_distinct, kmv_est,
       {_rr("ABS(CAST(floor(kmv_est * 1e4) AS BIGINT)"
            " - exact_distinct * 10000)",
            "exact_distinct * 100", 2)} AS kmv_err_pct
FROM est ORDER BY source
"""


# Twin of operators/dedup.py:bridge_edges_audit — ordered wedge join over
# the jaccard edge set, zero-support edges coalesced in.
ORACLES["bridge_edges_audit"] = f"""
WITH edges AS MATERIALIZED (
  SELECT doc_a, doc_b FROM ({ORACLES['dedup_ngram_jaccard']})
),
adj AS MATERIALIZED (
  SELECT doc_a AS u, doc_b AS v FROM edges
  UNION ALL SELECT doc_b AS u, doc_a AS v FROM edges
),
support AS (
  SELECT e.doc_a, e.doc_b, CAST(COUNT(*) AS BIGINT) AS cn
  FROM edges e
  JOIN adj a1 ON a1.u = e.doc_a
  JOIN adj a2 ON a2.u = e.doc_b AND a2.v = a1.v
  GROUP BY 1, 2
),
per_edge AS (
  SELECT COALESCE(s.cn, CAST(0 AS BIGINT)) AS common_neighbors
  FROM edges e LEFT JOIN support s
    ON e.doc_a = s.doc_a AND e.doc_b = s.doc_b
)
SELECT common_neighbors, CAST(COUNT(*) AS BIGINT) AS n_edges
FROM per_edge GROUP BY 1 ORDER BY common_neighbors
"""


from inde1_spark.operators.analytics import (  # noqa: E402
    COCHRAN_Q_CRIT_5PCT,
    COCHRAN_Q_K,
)

# Twin of operators/analytics.py:cochran_q_weeks — full 0..k-1 treatment
# grid (zero-activity dows contribute T^2), HUGEINT identities, digit-split
# conversions, one division.
ORACLES["cochran_q_weeks"] = f"""
WITH cells AS MATERIALIZED (
  SELECT DISTINCT user_id,
         CAST(date_diff('day', DATE '1970-01-01', date_trunc('day', ts))
              AS BIGINT) % {COCHRAN_Q_K} AS j
  FROM events
),
rows_t AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS li FROM cells GROUP BY 1
),
rowagg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(li) AS BIGINT) AS t,
         CAST(SUM(CAST(li AS HUGEINT) * li) AS HUGEINT) AS sl2
  FROM rows_t
),
gj AS (
  SELECT g.j, CAST(COALESCE(c.gj, 0) AS BIGINT) AS gj
  FROM (SELECT unnest(generate_series(0, {COCHRAN_Q_K - 1})) AS j) g
  LEFT JOIN (
    SELECT j, CAST(COUNT(*) AS BIGINT) AS gj FROM cells GROUP BY 1
  ) c ON g.j = c.j
),
colagg AS (
  SELECT CAST(SUM((CAST(gj AS HUGEINT) * {COCHRAN_Q_K} - t)
                  * (CAST(gj AS HUGEINT) * {COCHRAN_Q_K} - t)) AS HUGEINT)
           AS sg2
  FROM gj CROSS JOIN rowagg
),
calc AS (
  SELECT n_users, t,
         {_dec2d(f"CAST(sg2 * {COCHRAN_Q_K - 1} AS HUGEINT)")} AS num_d,
         {_dec2d(
             f"CAST({COCHRAN_Q_K} * (CAST(t AS HUGEINT) * {COCHRAN_Q_K} - sl2)"
             f" AS HUGEINT)"
         )} AS den_d
  FROM rowagg CROSS JOIN colagg
)
SELECT n_users, t AS n_active_cells,
       CASE WHEN den_d <= 0 THEN 0.0 ELSE num_d / den_d END AS q_stat,
       (CASE WHEN den_d <= 0 THEN 0.0 ELSE num_d / den_d END)
         > CAST({COCHRAN_Q_CRIT_5PCT} AS DOUBLE) AS dow_effect_5pct
FROM calc
"""


# Twin of operators/scoring.py:morisita_horn_overlap — cleared-denominator
# integer form in HUGEINT, digit-split conversions, intersection-only join.
ORACLES["morisita_horn_overlap"] = f"""
WITH terms AS MATERIALIZED (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT source,
           unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
    FROM documents
  ) GROUP BY 1, 2
),
moments AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tok,
         CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS ss
  FROM terms GROUP BY 1
),
cross_t AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(SUM(CAST(a.c AS HUGEINT) * b.c) AS HUGEINT) AS sxy
  FROM terms a JOIN terms b ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2
)
SELECT c.source_a, c.source_b,
       {_dec2d(
           "CAST(2 * c.sxy * CAST(ma.n_tok AS HUGEINT)"
           " * CAST(mb.n_tok AS HUGEINT) AS HUGEINT)"
       )}
       / {_dec2d(
           "CAST(ma.ss * CAST(mb.n_tok AS HUGEINT) * mb.n_tok"
           " + mb.ss * CAST(ma.n_tok AS HUGEINT) * ma.n_tok AS HUGEINT)"
       )} AS morisita_horn
FROM cross_t c
JOIN moments ma ON c.source_a = ma.source
JOIN moments mb ON c.source_b = mb.source
ORDER BY source_a, source_b
"""


# ===========================================================================
# r10 STAGED batch twins (promotion target: the r10 gate window)
# ===========================================================================

from inde1_spark.operators.analytics import (  # noqa: E402
    ARCHIVE_LOOKBACK_DAYS,
    BROADCAST_LIMIT_BYTES,
    BUCKET_TARGET_ROWS,
    DRIFT_BIN_WIDTH,
    DRIFT_N_BINS,
    LEAKAGE_TRAIN_PCT,
    SALT_TARGET_PARTITIONS,
    SALT_TOP_K,
)

# Twin of operators/analytics.py:archive_prune_audit — per-day partition
# manifest x bounded lookback grid; exact integer day indexes and
# round-half-up prune percents.
ORACLES["archive_prune_audit"] = f"""
WITH zones AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', date_trunc('day', ts))
              AS BIGINT) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM events GROUP BY 1
),
span AS (
  SELECT MAX(day) AS max_day, CAST(COUNT(*) AS BIGINT) AS parts_total,
         CAST(SUM(n_rows) AS BIGINT) AS rows_total
  FROM zones
),
grid AS (SELECT unnest([{", ".join(str(w) for w in ARCHIVE_LOOKBACK_DAYS)}])
                AS lookback_days),
sweep AS (
  SELECT g.lookback_days, s.parts_total, s.rows_total,
         CAST(SUM(CASE WHEN z.day >= s.max_day - g.lookback_days + 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS parts_scanned,
         CAST(SUM(CASE WHEN z.day >= s.max_day - g.lookback_days + 1
                       THEN z.n_rows ELSE 0 END) AS BIGINT) AS rows_scanned
  FROM zones z, span s, grid g
  GROUP BY 1, 2, 3
)
SELECT CAST(lookback_days AS BIGINT) AS lookback_days,
       parts_total, parts_scanned, rows_total, rows_scanned,
       {_rr("(parts_total - parts_scanned) * 100", "parts_total", 2)}
         AS part_prune_pct,
       {_rr("(rows_total - rows_scanned) * 100", "rows_total", 2)}
         AS row_prune_pct
FROM sweep ORDER BY lookback_days
"""

# Twin of operators/analytics.py:salting_plan — exact integer ceilings for
# the per-reducer target and per-key salt factor; deterministic top-k.
ORACLES["salting_plan"] = f"""
WITH counts AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events FROM events GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total FROM counts),
t AS (
  SELECT CAST((total + {SALT_TARGET_PARTITIONS} - 1)
              // {SALT_TARGET_PARTITIONS} AS BIGINT) AS target_rows
  FROM tot
)
SELECT user_id, n_events, target_rows,
       GREATEST(CAST((n_events + target_rows - 1) // target_rows AS BIGINT),
                CAST(1 AS BIGINT)) AS salt_factor,
       {_rr("n_events * 100", "target_rows", 2)} AS load_pct
FROM counts, t
ORDER BY n_events DESC, user_id ASC
LIMIT {SALT_TOP_K}
"""

# Twin of operators/analytics.py:bucketing_plan — count+NDV per candidate
# key; next power of two via binary-string length (no log2).
ORACLES["bucketing_plan"] = f"""
WITH src AS (
  SELECT 'events' AS table_name, 'event_type' AS key_col,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT event_type) AS BIGINT) AS ndv FROM events
  UNION ALL
  SELECT 'events', 'user_id', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
  UNION ALL
  SELECT 'orders', 'o_custkey', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders
  UNION ALL
  SELECT 'orders', 'o_orderkey', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders
  UNION ALL
  SELECT 'lineitem', 'l_orderkey', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) FROM lineitem
  UNION ALL
  SELECT 'lineitem', 'l_partkey', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(DISTINCT l_partkey) AS BIGINT) FROM lineitem
),
nb AS (
  SELECT *, CAST((n_rows + {BUCKET_TARGET_ROWS} - 1)
                 // {BUCKET_TARGET_ROWS} AS BIGINT) AS nb_need
  FROM src
),
plan AS (
  SELECT table_name, key_col, n_rows, ndv,
         CAST(CASE WHEN nb_need <= 1 THEN 1
                   ELSE CAST(1 AS BIGINT) << length(bin(nb_need - 1))
              END AS BIGINT) AS n_buckets
  FROM nb
)
SELECT table_name, key_col, n_rows, ndv,
       {_rr("n_rows", "GREATEST(ndv, CAST(1 AS BIGINT))", 2)} AS rows_per_key,
       n_buckets,
       ndv < n_buckets AS underfilled
FROM plan ORDER BY table_name, key_col
"""

# Twin of operators/analytics.py:window_completeness_audit — integer hour
# index, global span yardstick, distinct-hour count per type.
ORACLES["window_completeness_audit"] = f"""
WITH hours AS (
  SELECT event_type,
         CAST(date_diff('second', TIMESTAMP '1970-01-01', ts) AS BIGINT)
           // 3600 AS h
  FROM events
),
span AS (SELECT MAX(h) - MIN(h) + 1 AS expected_windows FROM hours),
pt AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(DISTINCT h) AS BIGINT) AS observed_windows
  FROM hours GROUP BY 1
)
SELECT event_type, n_events, expected_windows, observed_windows,
       expected_windows - observed_windows AS missing_windows,
       {_rr("observed_windows * 100", "expected_windows", 2)}
         AS completeness_pct
FROM pt, span ORDER BY event_type
"""

# Twin of operators/analytics.py:value_drift_audit — first/second-half
# histogram TVD with the exact common-denominator integer identity.
ORACLES["value_drift_audit"] = f"""
WITH base AS (
  SELECT event_type,
         CAST(date_diff('second', TIMESTAMP '1970-01-01', ts) AS BIGINT)
           AS sec,
         LEAST(GREATEST(CAST(floor(value / CAST({DRIFT_BIN_WIDTH}.0 AS DOUBLE))
                             AS BIGINT), CAST(0 AS BIGINT)),
               CAST({DRIFT_N_BINS - 1} AS BIGINT)) AS bin
  FROM events
),
bounds AS (SELECT MIN(sec) + (MAX(sec) - MIN(sec)) // 2 AS boundary FROM base),
cells AS (
  SELECT event_type, bin,
         CAST(SUM(CASE WHEN sec <= boundary THEN 1 ELSE 0 END) AS BIGINT)
           AS n1,
         CAST(SUM(CASE WHEN sec > boundary THEN 1 ELSE 0 END) AS BIGINT)
           AS n2
  FROM base, bounds GROUP BY 1, 2
),
totals AS (
  SELECT event_type, CAST(SUM(n1) AS BIGINT) AS n_first,
         CAST(SUM(n2) AS BIGINT) AS n_second
  FROM cells GROUP BY 1
),
pt AS (
  SELECT c.event_type, t.n_first, t.n_second,
         CAST(SUM(ABS(c.n1 * t.n_second - c.n2 * t.n_first)) AS BIGINT) AS num
  FROM cells c JOIN totals t USING (event_type)
  GROUP BY 1, 2, 3
)
SELECT event_type, n_first, n_second,
       CASE WHEN n_first > 0 AND n_second > 0
            THEN {_rr("num", "n_first * n_second * 2", 4)}
            ELSE CAST(0 AS DOUBLE) END AS tvd
FROM pt ORDER BY event_type
"""

# Twin of operators/analytics.py:temporal_leakage_audit — exact integer
# epoch boundary; |A∩B| by inclusion-exclusion over conditional distincts.
ORACLES["temporal_leakage_audit"] = f"""
WITH base AS (
  SELECT event_type, user_id,
         CAST(date_diff('second', TIMESTAMP '1970-01-01', ts) AS BIGINT)
           AS sec
  FROM events
),
bounds AS (
  SELECT MIN(sec) + ((MAX(sec) - MIN(sec)) * {LEAKAGE_TRAIN_PCT}) // 100
           AS boundary
  FROM base
),
pt AS (
  SELECT event_type,
         CAST(COUNT(DISTINCT CASE WHEN sec <= boundary THEN user_id END)
              AS BIGINT) AS n_train_users,
         CAST(COUNT(DISTINCT CASE WHEN sec > boundary THEN user_id END)
              AS BIGINT) AS n_test_users,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
  FROM base, bounds GROUP BY 1
)
SELECT event_type, n_train_users, n_test_users,
       n_train_users + n_test_users - n_users AS n_leak_users,
       CASE WHEN n_test_users > 0
            THEN {_rr("(n_train_users + n_test_users - n_users) * 100",
                      "n_test_users", 2)}
            ELSE CAST(0 AS DOUBLE) END AS leak_pct
FROM pt ORDER BY event_type
"""

# Twin of operators/analytics.py:broadcast_plan_audit — portable
# column-width size model, sums coalesced to 0 on empty tables.
ORACLES["broadcast_plan_audit"] = f"""
WITH plan AS (
  SELECT 'region' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COALESCE(SUM(length(r_name)), 0)
              + COUNT(*) * 8 * 1 AS BIGINT) AS est_bytes FROM region
  UNION ALL
  SELECT 'nation', CAST(COUNT(*) AS BIGINT),
         CAST(COALESCE(SUM(length(n_name)), 0)
              + COUNT(*) * 8 * 2 AS BIGINT) FROM nation
  UNION ALL
  SELECT 'customer', CAST(COUNT(*) AS BIGINT),
         CAST(COALESCE(SUM(length(c_name)), 0)
              + COALESCE(SUM(length(c_mktsegment)), 0)
              + COUNT(*) * 8 * 3 AS BIGINT) FROM customer
  UNION ALL
  SELECT 'supplier', CAST(COUNT(*) AS BIGINT),
         CAST(COALESCE(SUM(length(s_name)), 0)
              + COUNT(*) * 8 * 3 AS BIGINT) FROM supplier
  UNION ALL
  SELECT 'part', CAST(COUNT(*) AS BIGINT),
         CAST(COALESCE(SUM(length(p_name)), 0)
              + COALESCE(SUM(length(p_brand)), 0)
              + COALESCE(SUM(length(p_type)), 0)
              + COUNT(*) * 8 * 3 AS BIGINT) FROM part
  UNION ALL
  SELECT 'orders', CAST(COUNT(*) AS BIGINT),
         CAST(COALESCE(SUM(length(o_orderstatus)), 0)
              + COALESCE(SUM(length(o_orderpriority)), 0)
              + COUNT(*) * 8 * 4 AS BIGINT) FROM orders
  UNION ALL
  SELECT 'lineitem', CAST(COUNT(*) AS BIGINT),
         CAST(COALESCE(SUM(length(l_returnflag)), 0)
              + COALESCE(SUM(length(l_linestatus)), 0)
              + COUNT(*) * 8 * 9 AS BIGINT) FROM lineitem
)
SELECT table_name, n_rows, est_bytes,
       CASE WHEN est_bytes <= {BROADCAST_LIMIT_BYTES} THEN 'broadcast'
            ELSE 'shuffle' END AS strategy
FROM plan ORDER BY table_name
"""


from inde1_spark.operators.dedup import (  # noqa: E402
    SUBSTRING_ADMIT_MAX_PCT,
    SUBSTRING_INCR_PCT,
)
from inde1_spark.operators.dedup import (  # noqa: E402
    FUNNEL_LANG,
    FUNNEL_QUALITY_MIN,
)
from inde1_spark.operators.clustering import (  # noqa: E402
    SEMDEDUP_SWEEP_THRESHOLDS,
)

_W_INC = SUBSTRING_WINDOW_TOKENS

# Twin of operators/dedup.py:dedup_substring_incremental — same md5-lane
# split as dedup_incremental's twin, same rolling md5 windows as
# dedup_substring_windows'; index side reduced to DISTINCT hashes.
ORACLES["dedup_substring_incremental"] = f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id,
         ({_hash_bucket_sql('doc_id', 100)}) < {SUBSTRING_INCR_PCT} AS is_batch,
         list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
wins AS MATERIALIZED (
  SELECT doc_id, is_batch,
         md5(array_to_string(toks[i:i+{_W_INC - 1}], ' ')) AS h
  FROM toks,
       UNNEST(generate_series(1, len(toks) - {_W_INC - 1})) AS u(i)
  WHERE len(toks) >= {_W_INC}
),
idx AS (SELECT DISTINCT h FROM wins WHERE NOT is_batch),
scored AS (
  SELECT w.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_windows,
         CAST(SUM(CASE WHEN i.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hits
  FROM wins w LEFT JOIN idx i USING (h)
  WHERE w.is_batch
  GROUP BY 1
),
incoming AS (SELECT doc_id FROM toks WHERE is_batch),
base AS (
  SELECT n.doc_id,
         COALESCE(s.n_windows, 0) AS n_windows,
         COALESCE(s.n_hits, 0) AS n_hits
  FROM incoming n LEFT JOIN scored s USING (doc_id)
),
pct AS (
  SELECT doc_id, n_windows, n_hits,
         CASE WHEN n_windows > 0
              THEN {_rr("n_hits * 100", "n_windows", 2)}
              ELSE CAST(0 AS DOUBLE) END AS dup_pct
  FROM base
)
SELECT doc_id, n_windows, n_hits, dup_pct,
       dup_pct < {SUBSTRING_ADMIT_MAX_PCT} AS admitted
FROM pct ORDER BY doc_id
"""

# Twin of operators/dedup.py:dedup_pipeline_funnel — keep-lowest window
# over md5(text), the exact 4-decimal quality gate, the lang gate;
# nested conditional counts per source.
ORACLES["dedup_pipeline_funnel"] = f"""
WITH ex AS (
  SELECT doc_id, source, lang,
         (doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))) AS keep_exact
  FROM documents
),
{_QUALITY_CTES.format(stop=_STOP_LIST).strip()},
q AS (
  SELECT doc_id,
         {_rr("capped_chars * gnt + 500 * (gnt - n_stop)", "1000 * gnt", 4)}
           AS quality
  FROM qm
),
flags AS (
  SELECT e.source, e.keep_exact,
         e.keep_exact AND q.quality >= {FUNNEL_QUALITY_MIN} AS pass_q,
         e.keep_exact AND q.quality >= {FUNNEL_QUALITY_MIN}
           AND e.lang = '{FUNNEL_LANG}' AS pass_l
  FROM ex e JOIN q USING (doc_id)
),
funnel AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(SUM(CASE WHEN keep_exact THEN 1 ELSE 0 END) AS BIGINT)
           AS n_after_exact,
         CAST(SUM(CASE WHEN pass_q THEN 1 ELSE 0 END) AS BIGINT)
           AS n_after_quality,
         CAST(SUM(CASE WHEN pass_l THEN 1 ELSE 0 END) AS BIGINT)
           AS n_after_lang
  FROM flags GROUP BY 1
)
SELECT source, n_total, n_after_exact, n_after_quality, n_after_lang,
       {_rr("n_after_lang * 100", "n_total", 2)} AS retention_pct
FROM funnel ORDER BY source
"""

_SWEEP_LO = min(SEMDEDUP_SWEEP_THRESHOLDS)
_SWEEP_VALS = ", ".join(
    f"CAST({t} AS DOUBLE)" for t in SEMDEDUP_SWEEP_THRESHOLDS
)

# Twin of operators/clustering.py:semdedup_threshold_sweep — the semdedup
# pair CTEs at the loosest threshold, swept over the bounded grid.
ORACLES["semdedup_threshold_sweep"] = f"""
WITH {_kmeans_ctes(KMEANS_K, KMEANS_ITERS, EMB_DIM)},
asg AS MATERIALIZED (SELECT vec_id, cluster FROM a{KMEANS_ITERS}),
{_NORMS.strip().strip(',').rstrip()},
pairs AS MATERIALIZED (
  SELECT pa.cluster, pa.vec_id AS vec_a, pb.vec_id AS vec_b
  FROM asg pa JOIN asg pb ON pa.cluster = pb.cluster AND pa.vec_id < pb.vec_id
),
dots AS MATERIALIZED (
  SELECT p.cluster, p.vec_a, p.vec_b,
         CAST(SUM(CAST(ROUND(CAST(ea.embedding[i] AS DOUBLE)
              * CAST(eb.embedding[i] AS DOUBLE)
              * {FIXED_POINT_SCALE:.1f}) AS BIGINT)) AS DOUBLE)
           / {FIXED_POINT_SCALE:.1f} AS dot
  FROM pairs p
  JOIN embeddings ea ON ea.vec_id = p.vec_a
  JOIN embeddings eb ON eb.vec_id = p.vec_b,
       UNNEST(generate_series(1, {EMB_DIM})) AS u(i)
  GROUP BY 1, 2, 3
),
sims AS MATERIALIZED (
  SELECT vec_b, cos_sim FROM (
    SELECT d.vec_b, ROUND(d.dot / (na.nrm * nb.nrm), 6) AS cos_sim
    FROM dots d
    JOIN norms na ON na.vec_id = d.vec_a
    JOIN norms nb ON nb.vec_id = d.vec_b
  ) WHERE cos_sim >= {_SWEEP_LO}
),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vecs FROM embeddings),
grid AS (SELECT unnest([{_SWEEP_VALS}]) AS threshold),
hits AS (
  SELECT g.threshold,
         CAST(COUNT(s.vec_b) AS BIGINT) AS n_pairs,
         CAST(COUNT(DISTINCT s.vec_b) AS BIGINT) AS n_pruned
  FROM grid g LEFT JOIN sims s ON s.cos_sim >= g.threshold
  GROUP BY 1
)
SELECT h.threshold, h.n_pairs, h.n_pruned,
       CASE WHEN t.n_vecs > 0
            THEN {_rr("(t.n_vecs - h.n_pruned) * 100", "t.n_vecs", 2)}
            ELSE CAST(100.0 AS DOUBLE) END AS retention_pct
FROM hits h, total t ORDER BY h.threshold
"""

# Twin of operators/text.py:fertility_by_source — same BPE regex pass,
# per-source summed counts, exact round-half-up ratios.
ORACLES["fertility_by_source"] = f"""
WITH per_doc AS (
  SELECT source,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
              AS BIGINT) AS n_words,
         CAST(len(regexp_extract_all(lower(text), '({BPE_PATTERN})', 0))
              AS BIGINT) AS n_subwords,
         CAST(n_chars AS BIGINT) AS n_chars
  FROM documents
),
agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_words) AS BIGINT) AS n_words,
         CAST(SUM(n_subwords) AS BIGINT) AS n_subwords,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars
  FROM per_doc GROUP BY 1
)
SELECT source, n_docs, n_words, n_subwords,
       {_rr("n_subwords", "GREATEST(n_words, CAST(1 AS BIGINT))", 4)}
         AS fertility,
       {_rr("n_chars", "GREATEST(n_subwords, CAST(1 AS BIGINT))", 4)}
         AS chars_per_subword
FROM agg ORDER BY source
"""


from inde1_spark.operators.dedup import (  # noqa: E402
    BAND_SWEEP_CONFIGS,
    PERMS,
)


def _band_sweep_sql() -> str:
    """Twin of operators/dedup.py:minhash_band_sweep — md5 shingle ids,
    the dictionary variant's affine perms, one bands UNION over every
    (config, band), candidates per config against the exact-Jaccard
    truth pairs. Config grid LEFT JOIN keeps zero-candidate configs."""
    p = MINHASH_PRIME
    mins = ",\n         ".join(
        f"CAST(MIN(({a} * sid + {b}) % {p}) AS BIGINT) AS m{i}"
        for i, a, b in PERMS
    )
    band_selects = []
    for cfg_idx, (n_bands, rpb) in enumerate(BAND_SWEEP_CONFIGS):
        for j in range(n_bands):
            cols = ", ".join(f"m{j * rpb + k}" for k in range(rpb))
            band_selects.append(
                f"SELECT doc_id, {cfg_idx} AS cfg, {j} AS band,"
                f" md5(concat_ws(',', {cols})) AS sig FROM mh"
            )
        # noqa: the per-config rows are unioned below
    bands = "\n  UNION ALL ".join(band_selects)
    grid = ", ".join(
        f"({i}, {nb}, {r})" for i, (nb, r) in enumerate(BAND_SWEEP_CONFIGS)
    )
    return f"""
WITH {_SHINGLES.strip().rstrip()},
sids AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) % {p} AS sid
  FROM sh
),
mh AS MATERIALIZED (
  SELECT doc_id,
         {mins}
  FROM sids GROUP BY doc_id
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS MATERIALIZED ({_jaccard_from_inter(JACCARD_THRESHOLD)}),
tcount AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM truth),
bands AS MATERIALIZED (
  {bands}
),
cand AS (
  SELECT DISTINCT a.cfg, a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.cfg = b.cfg AND a.band = b.band AND a.sig = b.sig
              AND a.doc_id < b.doc_id
),
stats AS (
  SELECT c.cfg,
         CAST(COUNT(*) AS BIGINT) AS n_candidates,
         CAST(SUM(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_true_pairs
  FROM cand c
  LEFT JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
  GROUP BY 1
),
grid(cfg, n_bands, rows_per_band) AS (VALUES {grid})
SELECT CAST(g.n_bands AS BIGINT) AS n_bands,
       CAST(g.rows_per_band AS BIGINT) AS rows_per_band,
       COALESCE(s.n_candidates, 0) AS n_candidates,
       COALESCE(s.n_true_pairs, 0) AS n_true_pairs,
       {_rr("COALESCE(s.n_true_pairs, 0) * 100",
            "GREATEST(COALESCE(s.n_candidates, 0), CAST(1 AS BIGINT))", 2)}
         AS precision_pct,
       {_rr("COALESCE(s.n_true_pairs, 0) * 100",
            "GREATEST(t.n_exact, CAST(1 AS BIGINT))", 2)} AS recall_pct
FROM grid g
LEFT JOIN stats s ON s.cfg = g.cfg, tcount t
ORDER BY rows_per_band
"""


ORACLES["minhash_band_sweep"] = _band_sweep_sql()


# ===========================================================================
# r11 STAGED batch twins (promotion target: the r11 gate window)
# ===========================================================================

from inde1_spark.operators.analytics import (  # noqa: E402
    COPART_BROADCAST_ROWS,
    LEN_DRIFT_BIN_WIDTH,
    LEN_DRIFT_N_BINS,
)
from inde1_spark.operators.clustering import SEMDEDUP_INCR_PCT  # noqa: E402

# Twin of operators/analytics.py:source_length_drift — pairwise TVD over
# per-source char-length histograms with the exact common-denominator
# integer identity (the value_drift_audit arithmetic over the S^2/2 grid).
ORACLES["source_length_drift"] = f"""
WITH h AS MATERIALIZED (
  SELECT source,
         LEAST((n_chars - n_chars % {LEN_DRIFT_BIN_WIDTH})
                 // {LEN_DRIFT_BIN_WIDTH},
               {LEN_DRIFT_N_BINS - 1}) AS bin,
         CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
),
t AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM h GROUP BY 1),
bins AS (SELECT DISTINCT bin FROM h),
pr AS (
  SELECT ta.source AS source_a, ta.n AS n_a, tb.source AS source_b, tb.n AS n_b
  FROM t ta JOIN t tb ON ta.source < tb.source
),
cells AS (
  SELECT p.source_a, p.source_b, p.n_a, p.n_b,
         COALESCE(ha.c, 0) AS ca, COALESCE(hb.c, 0) AS cb
  FROM pr p CROSS JOIN bins bb
  LEFT JOIN h ha ON ha.source = p.source_a AND ha.bin = bb.bin
  LEFT JOIN h hb ON hb.source = p.source_b AND hb.bin = bb.bin
)
SELECT source_a, source_b, n_a, n_b,
       {_rr("SUM(ABS(CAST(ca AS HUGEINT) * n_b - CAST(cb AS HUGEINT) * n_a))",
            "CAST(n_a AS HUGEINT) * n_b * 2", 4)} AS tvd
FROM cells GROUP BY 1, 2, 3, 4
ORDER BY source_a, source_b
"""


def _copart_rows_sql() -> tuple[str, str]:
    joins = (
        ("events", "user_id", "customer", "c_custkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
    )
    sides = []
    for lt, lk, rt, rk in joins:
        sides.append(
            f"""  SELECT '{lt}_{rt}' AS join_name,
         '{lt}' AS left_table, '{lk}' AS left_key,
         '{rt}' AS right_table, '{rk}' AS right_key,
         l.n_rows AS n_left, r.n_rows AS n_right,
         l.maxk AS maxk_left, r.maxk AS maxk_right
  FROM s_{lt}_{lk} l, s_{rt}_{rk} r"""
        )
    side_ctes = ",\n".join(
        f"s_{t}_{k} AS MATERIALIZED (\n"
        f"  SELECT CAST(COALESCE(SUM(ck), 0) AS BIGINT) AS n_rows,\n"
        f"         CAST(COALESCE(MAX(ck), 0) AS BIGINT) AS maxk\n"
        f"  FROM (SELECT CAST(count(*) AS BIGINT) AS ck FROM {t} GROUP BY {k})\n"
        f")"
        for t, k in sorted({(lt, lk) for lt, lk, _, _ in joins}
                           | {(rt, rk) for _, _, rt, rk in joins})
    )
    union = "\n  UNION ALL\n".join(sides)
    return side_ctes, union


_COPART_SIDES, _COPART_UNION = _copart_rows_sql()

# Twin of operators/analytics.py:copartition_audit — per-join strategy
# ladder over one key-count aggregate per side; pow2 bucket counts via the
# shared binary-string-length spelling; exact integer decision columns.
ORACLES["copartition_audit"] = f"""
WITH {_COPART_SIDES},
raw AS (
{_COPART_UNION}
),
nb AS (
  SELECT *,
         CAST(CASE WHEN (n_left + {BUCKET_TARGET_ROWS} - 1)
                        // {BUCKET_TARGET_ROWS} <= 1 THEN 1
                   ELSE CAST(1 AS BIGINT) << length(bin(
                        (n_left + {BUCKET_TARGET_ROWS} - 1)
                          // {BUCKET_TARGET_ROWS} - 1))
              END AS BIGINT) AS nb_left2,
         CAST(CASE WHEN (n_right + {BUCKET_TARGET_ROWS} - 1)
                        // {BUCKET_TARGET_ROWS} <= 1 THEN 1
                   ELSE CAST(1 AS BIGINT) << length(bin(
                        (n_right + {BUCKET_TARGET_ROWS} - 1)
                          // {BUCKET_TARGET_ROWS} - 1))
              END AS BIGINT) AS nb_right2
  FROM raw
),
dec AS (
  SELECT *,
         GREATEST(nb_left2, nb_right2) AS nb_big,
         LEAST(nb_left2, nb_right2) AS nb_small,
         CASE WHEN n_left >= n_right THEN maxk_left ELSE maxk_right END
           AS probe_maxk
  FROM nb
)
SELECT join_name, left_table, left_key, right_table, right_key,
       n_left, n_right,
       nb_left2 AS nb_left, nb_right2 AS nb_right,
       nb_big % nb_small = 0 AS co_located,
       CAST(nb_big // nb_small AS BIGINT) AS rehash_factor,
       probe_maxk AS probe_max_key_rows,
       CASE WHEN LEAST(n_left, n_right) < {COPART_BROADCAST_ROWS}
              THEN 'broadcast'
            WHEN probe_maxk > {BUCKET_TARGET_ROWS} THEN 'salt'
            ELSE 'cobucket' END AS strategy
FROM dec ORDER BY join_name
"""

# Twin of operators/clustering.py:semdedup_incremental — md5 hash split,
# Lloyd's over the STANDING split only (the parameterized kmeans unroll),
# row-local batch routing to the final centroids, exact-cosine verify of
# batch x same-cluster standing pairs, best-match admission verdict.
_SEMI_D2 = _kmeans_d2(EMB_DIM)
ORACLES["semdedup_incremental"] = f"""
WITH standing AS MATERIALIZED (
  SELECT * FROM embeddings
  WHERE {_hash_bucket_sql('vec_id', 100)} >= {SEMDEDUP_INCR_PCT}
),
batch AS MATERIALIZED (
  SELECT * FROM embeddings
  WHERE {_hash_bucket_sql('vec_id', 100)} < {SEMDEDUP_INCR_PCT}
),
{_kmeans_ctes(KMEANS_K, KMEANS_ITERS, EMB_DIM, src='standing')},
sasg AS MATERIALIZED (SELECT vec_id, cluster FROM a{KMEANS_ITERS}),
basg AS MATERIALIZED (
  SELECT e.vec_id, c.cid AS cluster, {_SEMI_D2} AS d
  FROM batch e, c{KMEANS_ITERS} c
  QUALIFY row_number() OVER (PARTITION BY e.vec_id ORDER BY d, c.cid) = 1
),
pairs AS MATERIALIZED (
  SELECT b.vec_id AS vec_new, s.vec_id AS vec_idx
  FROM basg b JOIN sasg s ON b.cluster = s.cluster
),
{_NORMS.strip().strip(',').rstrip()},
dots AS MATERIALIZED (
  SELECT p.vec_new, p.vec_idx,
         CAST(SUM(CAST(ROUND(CAST(ea.embedding[i] AS DOUBLE)
              * CAST(eb.embedding[i] AS DOUBLE)
              * {FIXED_POINT_SCALE:.1f}) AS BIGINT)) AS DOUBLE)
           / {FIXED_POINT_SCALE:.1f} AS dot
  FROM pairs p
  JOIN embeddings ea ON ea.vec_id = p.vec_new
  JOIN embeddings eb ON eb.vec_id = p.vec_idx,
       UNNEST(generate_series(1, {EMB_DIM})) AS u(i)
  GROUP BY 1, 2
),
best AS (
  SELECT vec_new, vec_idx AS dup_of, cos_sim FROM (
    SELECT d.vec_new, d.vec_idx,
           ROUND(d.dot / (na.nrm * nb.nrm), 6) AS cos_sim
    FROM dots d
    JOIN norms na ON na.vec_id = d.vec_new
    JOIN norms nb ON nb.vec_id = d.vec_idx
  )
  WHERE cos_sim >= {COSINE_DEDUP_THRESHOLD}
  QUALIFY row_number() OVER (PARTITION BY vec_new
                             ORDER BY cos_sim DESC, vec_idx DESC) = 1
)
SELECT b.vec_id AS vec_new, best.dup_of, best.cos_sim,
       best.vec_new IS NULL AS admit
FROM batch b LEFT JOIN best ON best.vec_new = b.vec_id
"""


from inde1_spark.operators.text import (  # noqa: E402
    REP_DUP3_MAX,
    REP_TOP1_MAX,
    REP_TOP2_MAX,
)

# Twin of operators/text.py:repetition_rules — per-doc n-gram repetition
# shares (top unigram / top bigram / repeated-trigram mass) with the exact
# round-half-up percent and threshold flags; doc-id spine keeps short/empty
# docs at 0 percent / keep.
ORACLES["repetition_rules"] = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
g1 AS (SELECT doc_id, tok AS gram, 1 AS n FROM toks, UNNEST(toks) AS u(tok)),
g2 AS (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS gram, 2 AS n
       FROM toks, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)),
g3 AS (SELECT doc_id, toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
              AS gram, 3 AS n
       FROM toks, UNNEST(generate_series(1, len(toks) - 2)) AS u(i)),
grams AS (SELECT * FROM g1 UNION ALL SELECT * FROM g2 UNION ALL SELECT * FROM g3),
counts AS (
  SELECT doc_id, n, gram, CAST(count(*) AS BIGINT) AS c
  FROM grams GROUP BY 1, 2, 3
),
per AS (
  SELECT doc_id, n, CAST(SUM(c) AS BIGINT) AS tot, CAST(MAX(c) AS BIGINT) AS mx,
         CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0) AS BIGINT) AS dup
  FROM counts GROUP BY 1, 2
),
stats AS (
  SELECT doc_id,
         CAST(COALESCE(MAX(CASE WHEN n = 1 THEN tot END), 0) AS BIGINT) AS n_tokens,
         CAST(COALESCE(MAX(CASE WHEN n = 1 THEN mx END), 0) AS BIGINT) AS top1_cnt,
         CAST(COALESCE(MAX(CASE WHEN n = 2 THEN tot END), 0) AS BIGINT) AS n_bigrams,
         CAST(COALESCE(MAX(CASE WHEN n = 2 THEN mx END), 0) AS BIGINT) AS top2_cnt,
         CAST(COALESCE(MAX(CASE WHEN n = 3 THEN tot END), 0) AS BIGINT) AS n_trigrams,
         CAST(COALESCE(MAX(CASE WHEN n = 3 THEN dup END), 0) AS BIGINT) AS dup3_cnt
  FROM per GROUP BY doc_id
),
pcts AS (
  SELECT d.doc_id,
         COALESCE(s.n_tokens, 0) AS n_tokens,
         CASE WHEN COALESCE(s.n_tokens, 0) > 0
              THEN {_rr("s.top1_cnt * 100", "s.n_tokens", 2)} ELSE 0.0 END
           AS top1_pct,
         CASE WHEN COALESCE(s.n_bigrams, 0) > 0
              THEN {_rr("s.top2_cnt * 100", "s.n_bigrams", 2)} ELSE 0.0 END
           AS top2_pct,
         CASE WHEN COALESCE(s.n_trigrams, 0) > 0
              THEN {_rr("s.dup3_cnt * 100", "s.n_trigrams", 2)} ELSE 0.0 END
           AS dup3_pct
  FROM documents d LEFT JOIN stats s ON s.doc_id = d.doc_id
)
SELECT doc_id, n_tokens, top1_pct, top2_pct, dup3_pct,
       top1_pct <= CAST({REP_TOP1_MAX} AS DOUBLE) AS flag_top1,
       top2_pct <= CAST({REP_TOP2_MAX} AS DOUBLE) AS flag_top2,
       dup3_pct <= CAST({REP_DUP3_MAX} AS DOUBLE) AS flag_dup3,
       (top1_pct <= CAST({REP_TOP1_MAX} AS DOUBLE)
        AND top2_pct <= CAST({REP_TOP2_MAX} AS DOUBLE)
        AND dup3_pct <= CAST({REP_DUP3_MAX} AS DOUBLE)) AS keep
FROM pcts
"""


# ===========================================================================
# r11 batch, second tranche (staged in r10): twins of the eight operators
# added this round. Wide-integer arithmetic runs in HUGEINT wherever the
# Spark side runs DECIMAL(38,0) (dec_ratio_round's documented twin rule).
# ===========================================================================

def _rrh(num: str, den: str, scale: int) -> str:
    """SQL twin of exprs.dec_ratio_round — round-half-up in HUGEINT."""
    p = 10**scale
    return (
        f"(CAST((((CAST({num} AS HUGEINT)) * {2 * p} + ({den}))"
        f" // (2 * ({den}))) AS DOUBLE) / {p}.0)"
    )


from inde1_spark.operators.dedup import (  # noqa: E402
    DF_CAP_SWEEP,
    WINNOW_ADMIT_DEN,
    WINNOW_ADMIT_NUM,
    WINNOW_INCR_PCT,
)

# Twin of operators/dedup.py:dedup_winnow_incremental — winnow fingerprint
# admission: md5 hash-lane split, df-capped candidate generation against the
# index postings, exact shared-count verify over the UNCAPPED sets for
# candidate pairs only, best-match containment verdict.
ORACLES["dedup_winnow_incremental"] = f"""
WITH {_WINNOW_CTE.strip()},
fp AS (SELECT doc_id, UNNEST(m) AS fp FROM minima),
split AS (
  SELECT doc_id, {_hash_bucket_sql('doc_id', 100)} < {WINNOW_INCR_PCT} AS is_batch
  FROM documents
),
batch_fp AS (
  SELECT f.doc_id AS doc_new, f.fp FROM fp f JOIN split s ON s.doc_id = f.doc_id
  WHERE s.is_batch
),
index_fp AS (
  SELECT f.doc_id AS doc_idx, f.fp FROM fp f JOIN split s ON s.doc_id = f.doc_id
  WHERE NOT s.is_batch
),
capped AS (
  SELECT doc_idx, fp FROM index_fp
  WHERE fp IN (SELECT fp FROM index_fp GROUP BY fp
               HAVING count(*) <= {WINNOW_MAX_FP_DF})
),
cand AS (
  SELECT DISTINCT b.doc_new, c.doc_idx
  FROM batch_fp b JOIN capped c USING (fp)
),
shared AS (
  SELECT p.doc_new, p.doc_idx, CAST(count(*) AS BIGINT) AS n_shared
  FROM cand p
  JOIN batch_fp b ON b.doc_new = p.doc_new
  JOIN index_fp i ON i.doc_idx = p.doc_idx AND i.fp = b.fp
  GROUP BY 1, 2
),
best AS (
  SELECT doc_new, n_shared, doc_idx AS best_doc_idx
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_new
                                     ORDER BY n_shared DESC, doc_idx ASC) AS rn
        FROM shared)
  WHERE rn = 1
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM fp GROUP BY 1)
SELECT s.doc_id,
       COALESCE(z.sz, 0) AS n_fp,
       b.best_doc_idx,
       COALESCE(b.n_shared, 0) AS n_shared,
       CASE WHEN COALESCE(z.sz, 0) > 0
            THEN {_rr("COALESCE(b.n_shared, 0) * 100", "z.sz", 2)}
            ELSE 0.0 END AS containment_pct,
       CASE WHEN COALESCE(z.sz, 0) = 0 THEN TRUE
            ELSE {WINNOW_ADMIT_DEN} * COALESCE(b.n_shared, 0)
                 < {WINNOW_ADMIT_NUM} * z.sz END AS admitted
FROM split s
LEFT JOIN sizes z ON z.doc_id = s.doc_id
LEFT JOIN best b ON b.doc_new = s.doc_id
WHERE s.is_batch
ORDER BY s.doc_id
"""

_CAP_VALS = ", ".join(f"({c})" for c in DF_CAP_SWEEP)

# Twin of operators/dedup.py:shingle_df_cap_sweep — one shingle-DF histogram
# feeds every cap row; pair/posting sums in HUGEINT (Spark: DECIMAL(38,0)).
ORACLES["shingle_df_cap_sweep"] = f"""
WITH {_SHINGLES.strip()},
dfs AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY 1),
hist AS (SELECT df, CAST(count(*) AS BIGINT) AS n_shingles FROM dfs GROUP BY 1),
caps(cap) AS (VALUES {_CAP_VALS}),
agg AS (
  SELECT cap,
         SUM(CAST(df AS HUGEINT) * (df - 1) // 2 * n_shingles) AS p_all,
         SUM(CAST(LEAST(df, cap) AS HUGEINT)
             * (LEAST(df, cap) - 1) // 2 * n_shingles) AS p_kept,
         SUM(CAST(df AS HUGEINT) * n_shingles) AS m_all,
         SUM(CAST(LEAST(df, cap) AS HUGEINT) * n_shingles) AS m_kept
  FROM caps, hist GROUP BY cap
)
SELECT CAST(cap AS BIGINT) AS cap,
       CAST(p_kept AS VARCHAR) AS n_candidate_pairs,
       {_rrh("(p_all - p_kept) * 100", "GREATEST(p_all, 1)", 2)}
         AS pairs_shed_pct,
       {_rrh("(m_all - m_kept) * 100", "GREATEST(m_all, 1)", 2)}
         AS postings_lost_pct
FROM agg ORDER BY cap
"""

# Twin of operators/analytics.py:schema_evolution_audit — day-partitioned
# props key inventory, dominant type via the same (count desc, vtype asc)
# total order, day-over-day added/removed/type-changed with compat verdicts.
_SCHEMA_DAY = "strftime(date_trunc('day', ts), '%Y-%m-%d')"
ORACLES["schema_evolution_audit"] = f"""
WITH kv AS (
  SELECT {_SCHEMA_DAY} AS day, key,
         json_extract_string(props, '$."' || key || '"') AS value
  FROM (SELECT ts, props, unnest(json_keys(props)) AS key FROM events)
),
counted AS (
  SELECT day, key,
         CASE WHEN regexp_full_match(value, '-?[0-9]+') THEN 'int'
              WHEN regexp_full_match(value, '-?[0-9]*\\.[0-9]+') THEN 'float'
              ELSE 'string' END AS vtype,
         CAST(count(*) AS BIGINT) AS n
  FROM kv GROUP BY 1, 2, 3
),
dom AS (
  SELECT day, key, vtype
  FROM (SELECT *, row_number() OVER (PARTITION BY day, key
                                     ORDER BY n DESC, vtype ASC) AS rn
        FROM counted)
  WHERE rn = 1
),
seq AS (
  SELECT day, lag(day) OVER (ORDER BY day) AS prev_day
  FROM (SELECT DISTINCT day FROM dom)
),
nk AS (SELECT day, CAST(count(*) AS BIGINT) AS n_keys FROM dom GROUP BY 1),
added AS (
  SELECT c.day, CAST(count(*) AS BIGINT) AS n_added
  FROM dom c JOIN seq ON seq.day = c.day
  WHERE seq.prev_day IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM dom p
                    WHERE p.day = seq.prev_day AND p.key = c.key)
  GROUP BY 1
),
removed AS (
  SELECT seq.day, CAST(count(*) AS BIGINT) AS n_removed
  FROM seq JOIN dom p ON p.day = seq.prev_day
  WHERE NOT EXISTS (SELECT 1 FROM dom c
                    WHERE c.day = seq.day AND c.key = p.key)
  GROUP BY 1
),
changed AS (
  SELECT c.day, CAST(count(*) AS BIGINT) AS n_type_changed
  FROM dom c
  JOIN seq ON seq.day = c.day
  JOIN dom p ON p.day = seq.prev_day AND p.key = c.key
  WHERE c.vtype <> p.vtype
  GROUP BY 1
)
SELECT seq.day, nk.n_keys,
       COALESCE(a.n_added, 0) AS n_added,
       COALESCE(r.n_removed, 0) AS n_removed,
       COALESCE(t.n_type_changed, 0) AS n_type_changed,
       CASE WHEN seq.prev_day IS NULL THEN 'baseline'
            WHEN COALESCE(r.n_removed, 0) > 0
                 OR COALESCE(t.n_type_changed, 0) > 0 THEN 'breaking'
            WHEN COALESCE(a.n_added, 0) > 0 THEN 'backward_compatible'
            ELSE 'stable' END AS verdict
FROM seq
JOIN nk ON nk.day = seq.day
LEFT JOIN added a ON a.day = seq.day
LEFT JOIN removed r ON r.day = seq.day
LEFT JOIN changed t ON t.day = seq.day
ORDER BY seq.day
"""


from inde1_spark.operators.analytics import (  # noqa: E402
    COMPRESS_AUDIT_COLS,
    DICT_MAX_NDV_PCT,
    RLE_MIN_MEAN_RUN,
)

_CMP_STARTS = ",\n         ".join(
    f"(row_number() OVER w = 1 OR {c} IS DISTINCT FROM lag({c}) OVER w)"
    f" AS s_{c}"
    for c in COMPRESS_AUDIT_COLS
)
_CMP_AGGS = ",\n         ".join(
    f"CAST(SUM(CASE WHEN s_{c} THEN 1 ELSE 0 END) AS BIGINT) AS runs_{c},\n"
    f"         CAST(count(DISTINCT {c}) AS BIGINT) AS ndv_{c}"
    for c in COMPRESS_AUDIT_COLS
)
_CMP_ROWS = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name, n_rows, ndv_{c} AS n_distinct, runs_{c} AS n_runs,
       {_rr(f"n_rows", f"GREATEST(runs_{c}, 1)", 2)} AS mean_run_len,
       {_rr(f"ndv_{c} * 100", "GREATEST(n_rows, 1)", 2)} AS ndv_pct,
       CASE WHEN n_rows >= {RLE_MIN_MEAN_RUN} * runs_{c} THEN 'rle'
            WHEN ndv_{c} * 100 <= {DICT_MAX_NDV_PCT} * n_rows THEN 'dict'
            ELSE 'plain' END AS encoding
FROM agg"""
    for c in COMPRESS_AUDIT_COLS
)

# Twin of operators/analytics.py:compression_ratio_audit — one
# day-partitioned (ts, event_id) window names every column's run starts,
# one aggregate row carries all sums/NDVs, per-column rows are projections.
ORACLES["compression_ratio_audit"] = f"""
WITH flagged AS (
  SELECT {", ".join(COMPRESS_AUDIT_COLS)},
         {_CMP_STARTS}
  FROM events
  WINDOW w AS (PARTITION BY strftime(date_trunc('day', ts), '%Y-%m-%d')
               ORDER BY ts, event_id)
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         {_CMP_AGGS}
  FROM flagged
)
{_CMP_ROWS}
ORDER BY column_name
"""

from inde1_spark.operators.corpus import (  # noqa: E402
    EPOCH_CAP_MILLI,
    PREP_STAGES,
)

_PREP_KEEP_Q = (
    f"(n_tok >= {GOPHER_MIN_TOKENS} AND n_tok <= {GOPHER_MAX_TOKENS}"
    f" AND sum_len >= {GOPHER_MEAN_LEN_MIN} * n_tok"
    f" AND sum_len <= {GOPHER_MEAN_LEN_MAX} * n_tok"
    f" AND n_stop_distinct >= {GOPHER_MIN_STOP_HITS})"
)
_PREP_CONDS = {
    "raw": "TRUE",
    "quality": "keep_q",
    "exact_dedup": "keep_d",
    "split_train": "keep_d AND split = 'train'",
    "split_val": "keep_d AND split = 'val'",
    "split_test": "keep_d AND split = 'test'",
}
_PREP_AGGS = ",\n         ".join(
    f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS docs_{s},\n"
    f"         CAST(SUM(CASE WHEN {cond} THEN n_tok ELSE 0 END) AS BIGINT)"
    f" AS toks_{s},\n"
    f"         CAST(SUM(CASE WHEN {cond} THEN n_chr ELSE 0 END) AS BIGINT)"
    f" AS chrs_{s}"
    for s, cond in _PREP_CONDS.items()
)
_PREP_ROWS = "\nUNION ALL\n".join(
    f"""SELECT CAST({i} AS BIGINT) AS stage_idx, '{s}' AS stage,
       docs_{s} AS n_docs, toks_{s} AS n_tokens, chrs_{s} AS n_chars,
       {_rr(f"toks_{s} * 100", "GREATEST(toks_raw, 1)", 2)}
         AS token_retention_pct
FROM agg"""
    for i, s in enumerate(PREP_STAGES)
)

# Twin of operators/corpus.py:corpus_prep_cost_audit — jobs.corpus_prep's
# own stage ladder (Gopher keep -> exact dedup among survivors ->
# source-hash split), one window on md5(text), one aggregate row.
ORACLES["corpus_prep_cost_audit"] = f"""
WITH m AS (
  SELECT doc_id, source, md5(text) AS th,
         CAST(n_chars AS BIGINT) AS n_chr,
         list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
f AS (
  SELECT doc_id, source, th, n_chr,
         CAST(len(toks) AS BIGINT) AS n_tok,
         CAST(COALESCE(list_sum(list_transform(toks, t -> strlen(t))), 0)
              AS BIGINT) AS sum_len,
         CAST(len(list_intersect(list_distinct(toks), [{_STOP_LIST}]))
              AS BIGINT) AS n_stop_distinct
  FROM m
),
k AS (
  SELECT n_tok, n_chr,
         {_PREP_KEEP_Q} AS keep_q,
         {_PREP_KEEP_Q} AND doc_id = MIN(CASE WHEN {_PREP_KEEP_Q}
                                              THEN doc_id END)
                                    OVER (PARTITION BY th) AS keep_d,
         CASE WHEN {_hash_bucket_sql('source', 100)} < {TRAIN_PCT} THEN 'train'
              WHEN {_hash_bucket_sql('source', 100)} < {TRAIN_PCT + VAL_PCT}
                THEN 'val'
              ELSE 'test' END AS split
  FROM f
),
agg AS (
  SELECT {_PREP_AGGS}
  FROM k
)
{_PREP_ROWS}
ORDER BY stage_idx
"""

# Twin of operators/corpus.py:mixture_epoch_plan — sqrt nano-grid weights
# (the mixture_temperature spelling), HUGEINT round-half-up shares/epochs.
ORACLES["mixture_epoch_plan"] = f"""
WITH toks AS (
  SELECT source, list_filter(string_split(text, ' '), t -> t <> '') AS t
  FROM documents
),
per AS (
  SELECT source, CAST(SUM(len(t)) AS BIGINT) AS n_tokens
  FROM toks GROUP BY 1
),
scored AS (
  SELECT source, n_tokens,
         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
           AS q_s
  FROM per
),
tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS t_total,
         CAST(SUM(q_s) AS BIGINT) AS q_total
  FROM scored
),
calc AS (
  SELECT source, n_tokens,
         CAST((CAST(q_s AS HUGEINT) * 2000000 + q_total) // (2 * q_total)
              AS BIGINT) AS weight_ppm,
         CAST((CAST(t_total AS HUGEINT) * q_s * 2000
               + CAST(q_total AS HUGEINT) * GREATEST(n_tokens, 1))
              // (2 * CAST(q_total AS HUGEINT) * GREATEST(n_tokens, 1))
              AS BIGINT) AS epochs_milli
  FROM scored, tot
)
SELECT source, n_tokens, weight_ppm, epochs_milli,
       epochs_milli > {EPOCH_CAP_MILLI} AS over_epoch_cap
FROM calc ORDER BY source
"""

# Twin of operators/corpus.py:split_balance_audit — hash split, fixed 3-bin
# grid, HUGEINT common-denominator TVD, denominator-cleared balance flag.
ORACLES["split_balance_audit"] = f"""
WITH s AS (
  SELECT source,
         CASE WHEN {_hash_bucket_sql('doc_id', 100)} < {TRAIN_PCT} THEN 'train'
              WHEN {_hash_bucket_sql('doc_id', 100)} < {TRAIN_PCT + VAL_PCT}
                THEN 'val'
              ELSE 'test' END AS split
  FROM documents
),
counts AS (
  SELECT source, split, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY 1, 2
),
per_source AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM counts GROUP BY 1
),
gs AS (SELECT split, CAST(SUM(c) AS BIGINT) AS g FROM counts GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM counts),
bins(split) AS (VALUES ('train'), ('val'), ('test')),
grid AS (
  SELECT ps.source, b.split, ps.n_s, t.n_total,
         COALESCE(c.c, 0) AS c, g.g
  FROM per_source ps
  CROSS JOIN bins b
  LEFT JOIN counts c ON c.source = ps.source AND c.split = b.split
  JOIN gs g ON g.split = b.split
  CROSS JOIN tot t
),
piv AS (
  SELECT source, n_s, n_total,
         SUM(ABS(CAST(c AS HUGEINT) * n_total - CAST(g AS HUGEINT) * n_s))
           AS num,
         CAST(SUM(CASE WHEN split = 'train' THEN c ELSE 0 END) AS BIGINT)
           AS n_train,
         CAST(SUM(CASE WHEN split = 'val' THEN c ELSE 0 END) AS BIGINT)
           AS n_val,
         CAST(SUM(CASE WHEN split = 'test' THEN c ELSE 0 END) AS BIGINT)
           AS n_test
  FROM grid GROUP BY 1, 2, 3
)
SELECT source, n_s AS n_docs, n_train, n_val, n_test,
       {_rrh("num", "CAST(n_s AS HUGEINT) * n_total * 2", 4)} AS split_tvd,
       10 * num <= CAST(n_s AS HUGEINT) * n_total AS balanced
FROM piv ORDER BY source
"""

from inde1_spark.operators.scoring import LP_SWEEP_THRESHOLDS  # noqa: E402

_LP_AGGS = ",\n         ".join(
    f"CAST(SUM(CASE WHEN avg_logprob >= CAST({t!r} AS DOUBLE) THEN 1 ELSE 0"
    f" END) AS BIGINT) AS d{i},\n"
    f"         CAST(SUM(CASE WHEN avg_logprob >= CAST({t!r} AS DOUBLE)"
    f" THEN n_tokens ELSE 0 END) AS BIGINT) AS t{i}"
    for i, t in enumerate(LP_SWEEP_THRESHOLDS)
)
_LP_ROWS = "\nUNION ALL\n".join(
    f"""SELECT source, CAST({t!r} AS DOUBLE) AS threshold,
       d{i} AS n_docs_kept, t{i} AS n_tokens_kept,
       {_rr(f"d{i} * 100", "GREATEST(n_docs, 1)", 2)} AS doc_retention_pct,
       {_rr(f"t{i} * 100", "GREATEST(n_tokens, 1)", 2)}
         AS token_retention_pct
FROM per"""
    for i, t in enumerate(LP_SWEEP_THRESHOLDS)
)

# Twin of operators/scoring.py:perplexity_filter_sweep — unigram_logprob's
# exact CTE chain, bounded grid unrolled into conditional sums, per-row
# projections of the k-source aggregate.
ORACLES["perplexity_filter_sweep"] = f"""
WITH {_TF.format(tok_filter='')},
vocab AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS n_occ FROM tf GROUP BY 1),
total AS (SELECT CAST(SUM(n_occ) AS DOUBLE) AS total_toks FROM vocab),
lp AS (
  SELECT tf.doc_id, tf.dl, tf.tf,
         CAST(round(ln(CAST(vocab.n_occ AS DOUBLE) / total.total_toks)
                    * {LOG_SCALE}.0, 0) AS BIGINT) AS lp_scaled
  FROM tf JOIN vocab USING (term), total
),
doc AS (
  SELECT doc_id, dl AS n_tokens,
         CAST(SUM(tf * lp_scaled) AS DOUBLE) / {LOG_SCALE}.0
           / CAST(dl AS DOUBLE) AS avg_logprob
  FROM lp WHERE dl > 0 GROUP BY doc_id, dl
),
scored AS (
  SELECT d.doc_id, d.n_tokens, d.avg_logprob, x.source
  FROM doc d JOIN documents x USING (doc_id)
),
per AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         {_LP_AGGS}
  FROM scored GROUP BY 1
)
{_LP_ROWS}
ORDER BY source, threshold
"""


# ===========================================================================
# r12 batch, first tranche (staged in r10): twins of the five operators of
# the planning/stats/eval extension. HUGEINT mirrors DECIMAL(38,0); every
# possibly-negative micro-round is sign-split (round-half-away-from-zero)
# because // floors in DuckDB while Spark's % keeps the dividend sign.
# ===========================================================================

from inde1_spark.operators.analytics import (  # noqa: E402
    JSE_SAMPLE_PCT,
    JT_GROUP_HOURS,
    MH_EXPOSURE_HOUR,
    RANGE_PLAN_PARTS,
)


def _rhu_micro_sql(num: str, den: str) -> str:
    """(num * 1e6) / den, round-half-up, all HUGEINT (nonneg operands)."""
    return (
        f"((CAST({num} AS HUGEINT) * 1000000 * 2 + ({den}))"
        f" // (2 * ({den})))"
    )


ORACLES["jonckheere_terpstra_trend"] = f"""
WITH raw AS (
  SELECT CAST(hour(ts) AS BIGINT) // {JT_GROUP_HOURS} AS g,
         CAST(floor(CAST(value AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS y
  FROM events
),
gmin AS (SELECT MIN(y) AS y_min FROM raw),
hist AS MATERIALIZED (
  SELECT g, (y - y_min) // {MW_RESCALE} AS v, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM raw CROSS JOIN gmin GROUP BY 1, 2
),
grid AS (
  SELECT gg.g, vv.v, COALESCE(h.cnt, 0) AS cnt
  FROM (SELECT DISTINCT g FROM hist) gg
  CROSS JOIN (SELECT DISTINCT v FROM hist) vv
  LEFT JOIN hist h ON h.g = gg.g AND h.v = vv.v
),
cum AS MATERIALIZED (
  SELECT g, v, cnt,
         COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumlt
  FROM grid
),
u AS (
  SELECT CAST(SUM(CAST(hi.cnt AS HUGEINT)
                  * (2 * CAST(lo.cumlt AS HUGEINT) + lo.cnt)) AS HUGEINT)
           AS u2
  FROM cum lo JOIN cum hi ON lo.v = hi.v AND lo.g < hi.g
),
per_g AS (SELECT g, CAST(SUM(cnt) AS BIGINT) AS n_i FROM hist GROUP BY 1),
gstats AS (
  SELECT CAST(SUM(n_i) AS HUGEINT) AS n_dec,
         CAST(SUM(n_i) AS BIGINT) AS n_total,
         CAST(COUNT(*) AS BIGINT) AS k_groups,
         CAST(SUM(CAST(n_i AS HUGEINT) * n_i) AS HUGEINT) AS sum_n2,
         CAST(SUM(CAST(n_i AS HUGEINT) * (n_i - 1)) AS HUGEINT) AS sum_n_n1,
         CAST(SUM(CAST(n_i AS HUGEINT) * (n_i - 1) * (2 * n_i + 5))
              AS HUGEINT) AS sum_n_n1_2n5,
         CAST(SUM(CAST(n_i AS HUGEINT) * (n_i - 1) * (n_i - 2)) AS HUGEINT)
           AS sum_n_n1_n2
  FROM per_g
),
merged AS (SELECT v, CAST(SUM(cnt) AS BIGINT) AS m FROM hist GROUP BY 1),
tstats AS (
  SELECT CAST(SUM(CAST(m AS HUGEINT) * (m - 1) * (2 * m + 5)) AS HUGEINT)
           AS sum_t_t1_2t5,
         CAST(SUM(CAST(m AS HUGEINT) * (m - 1) * (m - 2)) AS HUGEINT)
           AS sum_t_t1_t2,
         CAST(SUM(CAST(m AS HUGEINT) * (m - 1)) AS HUGEINT) AS sum_t_t1
  FROM merged
),
terms AS (
  SELECT u.u2, g.n_total, g.k_groups,
         (g.n_dec * g.n_dec - g.sum_n2) AS e2,
         (g.n_dec * (g.n_dec - 1) * (2 * g.n_dec + 5)
          - g.sum_n_n1_2n5 - t.sum_t_t1_2t5) AS a_term,
         (g.sum_n_n1_n2 * t.sum_t_t1_t2) AS b_num,
         (36 * g.n_dec * (g.n_dec - 1) * (g.n_dec - 2)) AS b_den,
         (g.sum_n_n1 * t.sum_t_t1) AS c_num,
         (8 * g.n_dec * (g.n_dec - 1)) AS c_den
  FROM u, gstats g, tstats t
),
vm AS (
  SELECT u2, n_total, k_groups, e2 // 2 AS e2h,
         (CASE WHEN a_term < 0 THEN -1 ELSE 1 END)
           * {_rhu_micro_sql("abs(a_term)", "CAST(72 AS HUGEINT)")}
         + {_rhu_micro_sql("b_num", "b_den")}
         + {_rhu_micro_sql("c_num", "c_den")} AS var_micro
  FROM terms
)
SELECT n_total, k_groups,
       {_dec2d("u2")} / 2.0 AS u_stat,
       {_dec2d("e2h")} / 2.0 AS mean_u,
       {_dec2d("var_micro")} / 1e6 AS var_u,
       ((CASE WHEN u2 - e2h < 0 THEN -1.0 ELSE 1.0 END)
        * {_dec2d("abs(u2 - e2h)")} / 2.0)
         / sqrt({_dec2d("var_micro")} / 1e6) AS z_stat
FROM vm
WHERE k_groups > 1 AND n_total > k_groups AND var_micro > 0
"""

ORACLES["mantel_haenszel_or"] = f"""
WITH base AS (
  SELECT {_DAY} AS day,
         hour(ts) >= {MH_EXPOSURE_HOUR} AS exposed,
         event_type = '{EXIT}' AS outcome
  FROM events WHERE event_type IN ('{ENTRY}', '{EXIT}')
),
cell AS (
  SELECT day,
         CAST(SUM(CASE WHEN exposed AND outcome THEN 1 ELSE 0 END) AS BIGINT) AS a,
         CAST(SUM(CASE WHEN exposed AND NOT outcome THEN 1 ELSE 0 END) AS BIGINT) AS b,
         CAST(SUM(CASE WHEN NOT exposed AND outcome THEN 1 ELSE 0 END) AS BIGINT) AS c,
         CAST(SUM(CASE WHEN NOT exposed AND NOT outcome THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM base GROUP BY 1
),
per AS (
  SELECT {_rhu_micro_sql("CAST(a AS HUGEINT) * d",
                         "CAST(a + b + c + d AS HUGEINT)")} AS num_q,
         {_rhu_micro_sql("CAST(b AS HUGEINT) * c",
                         "CAST(a + b + c + d AS HUGEINT)")} AS den_q
  FROM cell
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
         CAST(SUM(num_q) AS HUGEINT) AS s_num,
         CAST(SUM(den_q) AS HUGEINT) AS s_den
  FROM per
)
SELECT n_strata,
       {_dec2d("s_num")} / 1e6 AS sum_ad_n,
       {_dec2d("s_den")} / 1e6 AS sum_bc_n,
       {_dec2d("s_num")} / {_dec2d("s_den")} AS or_mh
FROM s WHERE s_num > 0 AND s_den > 0
"""

ORACLES["range_partition_plan"] = f"""
WITH hist AS MATERIALIZED (
  SELECT CAST(floor(CAST(value AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS v,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1
),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM hist),
cum AS (
  SELECT v, cnt,
         COALESCE(SUM(cnt) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS prev_cum
  FROM hist
),
assigned AS (
  SELECT LEAST((CAST(prev_cum AS HUGEINT) * {RANGE_PLAN_PARTS}) // t.n_total,
               {RANGE_PLAN_PARTS - 1}) AS part,
         v, cnt, t.n_total
  FROM cum CROSS JOIN tot t
)
SELECT CAST(part AS BIGINT) AS part,
       CAST(MIN(v) AS DOUBLE) / 1e6 AS lo_value,
       CAST(MAX(v) AS DOUBLE) / 1e6 AS hi_value,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       {_rr(f"SUM(cnt) * {RANGE_PLAN_PARTS} * 100", "MAX(n_total)", 2)}
         AS fill_pct
FROM assigned GROUP BY part ORDER BY part
"""


def _jse_side_sql(table: str, key: str, tag: str) -> str:
    return (
        f"pk_{tag} AS MATERIALIZED (\n"
        f"  SELECT {key} AS k, CAST(count(*) AS BIGINT) AS c_{tag}\n"
        f"  FROM {table} GROUP BY 1\n"
        f"),\n"
        f"st_{tag} AS (\n"
        f"  SELECT CAST(COALESCE(SUM(c_{tag}), 0) AS BIGINT) AS n_{tag},\n"
        f"         CAST(count(*) AS BIGINT) AS ndv_{tag}\n"
        f"  FROM pk_{tag}\n"
        f"),\n"
        f"sm_{tag} AS (\n"
        f"  SELECT {key} AS k, CAST(count(*) AS BIGINT) AS s_{tag}\n"
        f"  FROM {table}\n"
        f"  WHERE {_hash_bucket_sql(key, 100)} < {JSE_SAMPLE_PCT}\n"
        f"  GROUP BY 1\n"
        f")"
    )


def _jse_join_sql(name: str, lt: str, lk: str, rt: str, rk: str) -> str:
    tagl, tagr = f"{name}_l", f"{name}_r"
    # correlated key-lane sampling -> unbiased scale 1/p (r10 ADVICE 1)
    scale = 100 // JSE_SAMPLE_PCT
    sides = (
        _jse_side_sql(lt, lk, tagl) + ",\n" + _jse_side_sql(rt, rk, tagr)
    )
    err = lambda est: (  # noqa: E731 — local SQL fragment builder
        f"(CASE WHEN ({est}) - exact_h < 0 THEN -1.0 ELSE 1.0 END)"
        f" * {_rrh(f'abs(({est}) - exact_h) * 100', 'GREATEST(exact_h, 1)', 2)}"
    )
    body = f"""  SELECT '{name}' AS join_name,
         st.n_l AS n_left, sr.n_r AS n_right,
         st.ndv_l AS ndv_left, sr.ndv_r AS ndv_right,
         CAST(exact_h AS VARCHAR) AS exact_rows,
         CAST((CAST(st.n_l AS HUGEINT) * sr.n_r
               + GREATEST(st.ndv_l, sr.ndv_r) - 1)
              // GREATEST(st.ndv_l, sr.ndv_r) AS VARCHAR) AS est_classic,
         CAST(samp_h * {scale} AS VARCHAR) AS est_sampled,
         {err(f"(CAST(st.n_l AS HUGEINT) * sr.n_r + GREATEST(st.ndv_l, sr.ndv_r) - 1) // GREATEST(st.ndv_l, sr.ndv_r)")}
           AS err_classic_pct,
         {err(f"samp_h * {scale}")} AS err_sampled_pct
  FROM (SELECT n_{tagl} AS n_l, ndv_{tagl} AS ndv_l FROM st_{tagl}) st,
       (SELECT n_{tagr} AS n_r, ndv_{tagr} AS ndv_r FROM st_{tagr}) sr,
       (SELECT CAST(COALESCE(SUM(CAST(a.c_{tagl} AS HUGEINT) * b.c_{tagr}), 0)
                    AS HUGEINT) AS exact_h
        FROM pk_{tagl} a JOIN pk_{tagr} b USING (k)) e,
       (SELECT CAST(COALESCE(SUM(CAST(a.s_{tagl} AS HUGEINT) * b.s_{tagr}), 0)
                    AS HUGEINT) AS samp_h
        FROM sm_{tagl} a JOIN sm_{tagr} b USING (k)) sp"""
    return sides, body


_JSE_JOINS = (
    ("events_customer", "events", "user_id", "customer", "c_custkey"),
    ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
)
_JSE_SIDES, _JSE_BODIES = zip(
    *[_jse_join_sql(n, lt, lk, rt, rk) for n, lt, lk, rt, rk in _JSE_JOINS]
)

ORACLES["join_size_estimate_audit"] = f"""
WITH {",".join(_JSE_SIDES)}
{chr(10).join(f"{'' if i == 0 else 'UNION ALL' + chr(10)}{b}" for i, b in enumerate(_JSE_BODIES))}
ORDER BY join_name
"""

from inde1_spark.operators.text import CALIB_N_BINS  # noqa: E402

_CAL_SCORES = ", ".join(
    f"{_lang_score(LANG_MARKERS[lang])} AS score_{lang}"
    for lang in sorted(LANG_MARKERS)
)
_CAL_SMAX = "GREATEST(" + ", ".join(
    f"score_{lang}" for lang in sorted(LANG_MARKERS)
) + ")"
_CAL_STOT = " + ".join(f"score_{lang}" for lang in sorted(LANG_MARKERS))

ORACLES["langid_calibration_audit"] = f"""
WITH toks AS (
  SELECT doc_id, lang, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
scores AS (
  SELECT doc_id, lang AS lang_actual, {_CAL_SCORES}
  FROM toks
),
conf AS (
  SELECT ({_build_lang_pred()}) = lang_actual AS correct,
         {_CAL_SMAX} AS s_max,
         CAST({_CAL_STOT} AS BIGINT) AS s_tot
  FROM scores
),
binned AS (
  SELECT LEAST((s_max * {CALIB_N_BINS}) // s_tot, {CALIB_N_BINS - 1}) AS bin,
         correct,
         (s_max * 1000000 * 2 + s_tot) // (2 * s_tot) AS conf_micro
  FROM conf WHERE s_tot > 0
),
per_bin AS (
  SELECT bin,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         CAST(SUM(conf_micro) AS BIGINT) AS sum_conf_micro
  FROM binned GROUP BY 1
)
SELECT CAST(bin AS BIGINT) AS bin, n_docs, n_correct,
       {_rr("n_correct * 100", "n_docs", 2)} AS acc_pct,
       {_rrh("sum_conf_micro", "CAST(n_docs AS HUGEINT) * 10000", 2)}
         AS avg_conf_pct,
       {_rrh("abs(CAST(n_correct AS HUGEINT) * 1000000 - sum_conf_micro) * 100",
             "CAST(n_docs AS HUGEINT) * 1000000", 2)} AS gap_pct
FROM per_bin ORDER BY bin
"""


def _lpa_label_ctes(rounds: int) -> str:
    """The shared LPA unroll (edges/nbrs/labels_0..labels_R CTE chain)
    WITHOUT the final histogram select — reused by the modularity twin."""
    parts = [
        f"edges AS MATERIALIZED (SELECT doc_a, doc_b FROM ({ORACLES['dedup_ngram_jaccard']})),",
        "nbrs AS MATERIALIZED (",
        "  SELECT doc_a AS u, doc_b AS v FROM edges",
        "  UNION ALL SELECT doc_b AS u, doc_a AS v FROM edges",
        "),",
        "labels_0 AS MATERIALIZED (SELECT DISTINCT u, u AS label FROM nbrs),",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""votes_{r} AS MATERIALIZED (
  SELECT u, label, CAST(COUNT(*) AS BIGINT) AS votes FROM (
    SELECT n.u, l.label FROM nbrs n JOIN labels_{r-1} l ON n.v = l.u
    UNION ALL SELECT u, label FROM labels_{r-1}
  ) GROUP BY 1, 2
),
labels_{r} AS MATERIALIZED (
  SELECT u, label FROM (
    SELECT u, label,
           row_number() OVER (PARTITION BY u ORDER BY votes DESC, label ASC)
             AS rn
    FROM votes_{r}
  ) WHERE rn = 1
),"""
        )
    return "\n".join(parts)


# Twin of operators/dedup.py:graph_modularity_audit — the exact LPA unroll
# the production operator ships, then Newman Q over the common denominator
# 4m^2 in HUGEINT with ONE sign-split micro-round.
ORACLES["graph_modularity_audit"] = f"""
WITH {_lpa_label_ctes(LPA_ROUNDS)}
m_tbl AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
tagged AS (
  SELECT e.doc_a, e.doc_b, la.label AS lab_a, lb.label AS lab_b
  FROM edges e
  JOIN labels_{LPA_ROUNDS} la ON la.u = e.doc_a
  JOIN labels_{LPA_ROUNDS} lb ON lb.u = e.doc_b
),
intra AS (
  SELECT lab_a AS label, CAST(COUNT(*) AS BIGINT) AS l_c
  FROM tagged WHERE lab_a = lab_b GROUP BY 1
),
deg AS (
  SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM nbrs GROUP BY 1
),
d_c AS (
  SELECT l.label, CAST(SUM(d.deg) AS BIGINT) AS d_c
  FROM deg d JOIN labels_{LPA_ROUNDS} l ON l.u = d.u GROUP BY 1
),
per_c AS (
  SELECT d_c.label, d_c.d_c, COALESCE(i.l_c, 0) AS l_c, m_tbl.m
  FROM d_c LEFT JOIN intra i ON i.label = d_c.label CROSS JOIN m_tbl
),
num AS (
  SELECT CAST(SUM(4 * CAST(m AS HUGEINT) * l_c
               - CAST(d_c AS HUGEINT) * d_c) AS HUGEINT) AS q_num,
         CAST(SUM(l_c) AS BIGINT) AS intra_edges,
         CAST(COUNT(*) AS BIGINT) AS n_communities,
         CAST(MAX(m) AS BIGINT) AS m
  FROM per_c
),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM labels_{LPA_ROUNDS})
SELECT nn.n_nodes, num.m AS n_edges, num.n_communities,
       {_rr("num.intra_edges * 100", "num.m", 2)} AS intra_edge_pct,
       (CASE WHEN num.q_num < 0 THEN -1.0 ELSE 1.0 END)
         * {_dec2d("((abs(num.q_num) * 2000000 + 4 * CAST(num.m AS HUGEINT) * num.m) // (2 * (4 * CAST(num.m AS HUGEINT) * num.m)))")}
         / 1e6 AS modularity
FROM num CROSS JOIN nn
WHERE num.m > 0
"""

from inde1_spark.operators.scoring import BM25_SWEEP_CONFIGS  # noqa: E402


def _bm25_topk_sql(k1: float, b: float, tag: str) -> str:
    """Per-config top-k CTE pair over the shared tf/stats/dfq tables —
    verbatim bm25_score scoring with (k1, b) injected as python-computed
    double literals."""
    return f"""contrib_{tag} AS (
  SELECT tf.doc_id,
         CAST(round(
           (CAST(CAST(round(ln((stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
                            * {LOG_SCALE}.0, 0) AS BIGINT) AS DOUBLE) / {LOG_SCALE}.0)
           * (CAST(tf.tf AS DOUBLE) * {k1 + 1.0!r})
           / (CAST(tf.tf AS DOUBLE)
              + {k1!r} * ({1.0 - b!r} + {b!r} * CAST(tf.dl AS DOUBLE) / stats.avgdl))
           * {SCORE_SCALE}.0, 0) AS BIGINT) AS c
  FROM tf JOIN dfq USING (term), stats
),
topk_{tag} AS MATERIALIZED (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS score_key
  FROM contrib_{tag} GROUP BY 1
  ORDER BY score_key DESC, doc_id ASC
  LIMIT {BM25_TOP_K}
)"""


_BM25_SWEEP_CTES = ",\n".join(
    _bm25_topk_sql(k1, b, f"c{i}")
    for i, (k1, b) in enumerate(BM25_SWEEP_CONFIGS)
)
_BM25_SWEEP_ROWS = "\nUNION ALL\n".join(
    f"""SELECT CAST({k1!r} AS DOUBLE) AS k1, CAST({b!r} AS DOUBLE) AS b,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM topk_c{i}) AS n_topk,
       {_rr(f"(SELECT CAST(COUNT(*) AS BIGINT) FROM topk_c{i} t"
            f" WHERE t.doc_id IN (SELECT doc_id FROM topk_c0)) * 100",
            f"GREATEST((SELECT COUNT(*) FROM topk_c{i}), 1)", 2)}
         AS overlap_default_pct,
       CAST((SELECT COALESCE(SUM(score_key), 0) FROM topk_c{i}) AS DOUBLE)
         / CAST(GREATEST((SELECT COUNT(*) FROM topk_c{i}), 1) AS DOUBLE)
         / {SCORE_SCALE}.0 AS mean_bm25"""
    for i, (k1, b) in enumerate(BM25_SWEEP_CONFIGS)
)

ORACLES["bm25_parameter_sweep"] = f"""
WITH {_TF.format(tok_filter=f'WHERE tok IN ({_QTERMS})')},
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs,
         CAST(SUM(len(toks)) AS DOUBLE) / count(*) AS avgdl
  FROM toks
),
dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
{_BM25_SWEEP_CTES}
{_BM25_SWEEP_ROWS}
ORDER BY k1, b
"""


from inde1_spark.operators.analytics import (  # noqa: E402
    SEL_HOUR_HI,
    SEL_HOUR_LO,
    SEL_VALUE_CUT,
    SESSION_GAP_SWEEP_MIN,
)

_SGS_AGGS = ",\n         ".join(
    f"CAST(SUM(CASE WHEN gap_s > {g * 60} THEN 1 ELSE 0 END) AS BIGINT)"
    f" AS splits_{i}"
    for i, g in enumerate(SESSION_GAP_SWEEP_MIN)
)
_SGS_ROWS = "\nUNION ALL\n".join(
    f"""SELECT CAST({g} AS BIGINT) AS gap_minutes,
       CAST(splits_{i} + n_users AS BIGINT) AS n_sessions,
       {_rr("n_events * 100", f"GREATEST(splits_{i} + n_users, 1)", 2)}
         AS events_per_session_x100,
       {_rr(f"splits_{i} * 100", "GREATEST(n_events - n_users, 1)", 2)}
         AS split_pair_pct
FROM agg"""
    for i, g in enumerate(SESSION_GAP_SWEEP_MIN)
)

# Twin of operators/analytics.py:session_gap_sweep — one lag pass over the
# (user, ts, event_id) order, bounded grid unrolled into conditional sums.
ORACLES["session_gap_sweep"] = f"""
WITH gaps AS (
  SELECT user_id,
         epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS gap_s
  FROM events
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN gap_s IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_users,
         {_SGS_AGGS}
  FROM gaps
)
{_SGS_ROWS}
ORDER BY gap_minutes
"""

_SEL_CUT_MICRO = int(SEL_VALUE_CUT * 1e6)


def _sel_ppm(num: str, den: str) -> str:
    """round_half_up(num*1e6/den) as BIGINT, HUGEINT internals."""
    return (
        f"CAST((CAST({num} AS HUGEINT) * 1000000 * 2 + GREATEST({den}, 1))"
        f" // (2 * GREATEST({den}, 1)) AS BIGINT)"
    )


_SEL_ROWS = []
for _name, _est, _act in (
    ("event_type_eq_entry", _sel_ppm("1", "ndv_type"), "act_eq"),
    (
        "value_gt_cut",
        _sel_ppm(
            f"GREATEST(LEAST(v_max - {_SEL_CUT_MICRO},"
            f" GREATEST(v_max - v_min, 1)), 0)",
            "GREATEST(v_max - v_min, 1)",
        ),
        "act_gt",
    ),
    (
        "hour_business_range",
        _sel_ppm(str(SEL_HOUR_HI - SEL_HOUR_LO), "24"),
        "act_hours",
    ),
):
    _act_ppm = _sel_ppm(_act, "n_rows")
    _SEL_ROWS.append(
        f"""SELECT '{_name}' AS predicate, n_rows,
       {_est} AS est_ppm,
       {_act_ppm} AS act_ppm,
       {_act} AS n_actual,
       (CASE WHEN {_est} - {_act_ppm} < 0 THEN -1.0 ELSE 1.0 END)
         * CAST(abs({_est} - {_act_ppm}) AS DOUBLE) / 1e4 AS err_pp
FROM agg"""
    )

# Twin of operators/analytics.py:predicate_selectivity_audit — one
# aggregate carries every actual count and model input; per-predicate rows
# are projections; ppm round-half-up in HUGEINT.
ORACLES["predicate_selectivity_audit"] = f"""
WITH agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT event_type) AS BIGINT) AS ndv_type,
         CAST(SUM(CASE WHEN event_type = '{ENTRY}' THEN 1 ELSE 0 END)
              AS BIGINT) AS act_eq,
         MIN(CAST(floor(CAST(value AS DOUBLE) * 1e6 + 0.5) AS BIGINT))
           AS v_min,
         MAX(CAST(floor(CAST(value AS DOUBLE) * 1e6 + 0.5) AS BIGINT))
           AS v_max,
         CAST(SUM(CASE WHEN CAST(floor(CAST(value AS DOUBLE) * 1e6 + 0.5)
                             AS BIGINT) > {_SEL_CUT_MICRO}
                       THEN 1 ELSE 0 END) AS BIGINT) AS act_gt,
         CAST(SUM(CASE WHEN hour(ts) >= {SEL_HOUR_LO}
                        AND hour(ts) < {SEL_HOUR_HI}
                       THEN 1 ELSE 0 END) AS BIGINT) AS act_hours
  FROM events
)
{chr(10).join(f"{'' if i == 0 else 'UNION ALL' + chr(10)}{b}" for i, b in enumerate(_SEL_ROWS))}
ORDER BY predicate
"""

from inde1_spark.operators.analytics import (  # noqa: E402
    RESTART_AGE_DAYS,
    RESTART_STATE_GAP_S,
    RESTART_REPLAY_RATE,
    BACKFILL_SHARDS,
)

# Twin of operators/analytics.py:restart_cost_audit — per-day manifest with
# tz-free in-day offsets (hour/minute/truncated-second, engine-identical on
# NTZ), bounded age grid, exact integer ceiling for the drain estimate.
ORACLES["restart_cost_audit"] = f"""
WITH manifest AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', date_trunc('day', ts))
              AS BIGINT) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT CASE
                WHEN hour(ts) * 3600 + minute(ts) * 60
                     + date_part('second', ts)
                     >= 86400 - {RESTART_STATE_GAP_S}
                THEN user_id END) AS BIGINT) AS tail_users
  FROM events GROUP BY 1
),
span AS (
  SELECT MAX(day) AS max_day, CAST(SUM(n_rows) AS BIGINT) AS rows_total
  FROM manifest
),
grid AS (SELECT unnest([{", ".join(str(a) for a in RESTART_AGE_DAYS)}])
                AS age_days),
sweep AS (
  SELECT g.age_days, s.rows_total,
         CAST(SUM(CASE WHEN m.day > s.max_day - g.age_days
                       THEN m.n_rows ELSE 0 END) AS BIGINT)
           AS n_replay_events,
         CAST(COALESCE(MAX(CASE WHEN m.day = s.max_day - g.age_days
                                THEN m.tail_users END), 0) AS BIGINT)
           AS n_state_keys
  FROM manifest m, span s, grid g
  GROUP BY 1, 2
)
SELECT CAST(age_days AS BIGINT) AS checkpoint_age_days,
       n_replay_events,
       {_rr("n_replay_events * 100", "GREATEST(rows_total, 1)", 2)}
         AS replay_pct,
       n_state_keys,
       CAST((n_replay_events + {RESTART_REPLAY_RATE - 1})
            // {RESTART_REPLAY_RATE} AS BIGINT) AS est_replay_sec
FROM sweep ORDER BY checkpoint_age_days
"""


def _bsa_k_sql(k: int) -> tuple[str, str]:
    shard = _hash_bucket_sql("event_id", k)
    cte = (
        f"slots_{k} AS (\n"
        f"  SELECT day, seq,\n"
        f"         CAST(MAX(ts_s) - MIN(ts_s) AS BIGINT) AS skew_s\n"
        f"  FROM (SELECT day, ts_s,\n"
        f"               row_number() OVER (PARTITION BY {shard}, day\n"
        f"                                  ORDER BY ts_s, event_id) AS seq\n"
        f"        FROM bsa_base)\n"
        f"  GROUP BY 1, 2\n"
        f")"
    )
    body = (
        f"  SELECT CAST({k} AS BIGINT) AS n_shards,\n"
        f"         CAST(COUNT(*) AS BIGINT) AS n_slots,\n"
        f"         CAST(MAX(skew_s) AS BIGINT) AS max_skew_s,\n"
        f"         {_rr('COALESCE(SUM(skew_s), 0)', 'GREATEST(COUNT(*), 1)', 2)}\n"
        f"           AS mean_skew_s,\n"
        f"         CAST((MAX(skew_s) + 59) // 60 AS BIGINT) AS wm_delay_min\n"
        f"  FROM slots_{k}"
    )
    return cte, body


_BSA_CTES, _BSA_BODIES = zip(*[_bsa_k_sql(k) for k in BACKFILL_SHARDS])

# Twin of operators/analytics.py:backfill_skew_audit — per-K sequencing
# within (shard, day), cross-shard skew per (day, seq) slot; truncated
# epoch seconds (differences cancel tz offsets, session_gap convention).
ORACLES["backfill_skew_audit"] = f"""
WITH bsa_base AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', date_trunc('day', ts))
              AS BIGINT) AS day,
         CAST(epoch_us(ts) // 1000000 AS BIGINT) AS ts_s,
         event_id
  FROM events
),
{",".join(_BSA_CTES)}
{chr(10).join(f"{'' if i == 0 else 'UNION ALL' + chr(10)}{b}" for i, b in enumerate(_BSA_BODIES))}
ORDER BY n_shards
"""


def _fk_edge_sql(name: str, ct: str, ck: str, pt: str, pk: str) -> str:
    return f"""  SELECT '{name}' AS edge_name,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM {ct}) AS n_child_rows,
         (SELECT CAST(SUM(CASE WHEN {ck} IS NULL THEN 1 ELSE 0 END)
                      AS BIGINT) FROM {ct}) AS n_null_keys,
         (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT)
          FROM (SELECT {ck} AS k, COUNT(*) AS cnt FROM {ct}
                WHERE {ck} IS NOT NULL GROUP BY 1) c
          WHERE NOT EXISTS (SELECT 1 FROM {pt} p WHERE p.{pk} = c.k))
           AS n_orphan_rows,
         (SELECT CAST(COUNT(DISTINCT {pk}) AS BIGINT) FROM {pt})
           AS n_parent_keys,
         (SELECT CAST(COUNT(*) AS BIGINT)
          FROM (SELECT DISTINCT {pk} AS k FROM {pt}) p
          WHERE EXISTS (SELECT 1 FROM {ct} c WHERE c.{ck} = p.k))
           AS n_referenced_keys
"""


_FK_EDGES = (
    ("embeddings_documents", "embeddings", "vec_id", "documents", "doc_id"),
    ("events_customer", "events", "user_id", "customer", "c_custkey"),
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
)

# Twin of operators/analytics.py:fk_integrity_audit — per-edge orphan and
# coverage counts via NOT EXISTS / EXISTS on key-distinct subqueries.
ORACLES["fk_integrity_audit"] = f"""
WITH raw AS (
{"UNION ALL".join(_fk_edge_sql(*e) for e in _FK_EDGES)}
)
SELECT edge_name, n_child_rows, n_null_keys, n_orphan_rows,
       {_rr("n_orphan_rows * 100", "GREATEST(n_child_rows, 1)", 2)}
         AS orphan_pct,
       n_parent_keys, n_referenced_keys,
       {_rr("n_referenced_keys * 100", "GREATEST(n_parent_keys, 1)", 2)}
         AS coverage_pct
FROM raw ORDER BY edge_name
"""

# ===========================================================================
# r13 batch, tranche 1 (staged in r11): CDC mask sweep, quality x dedup
# interaction, ingestion-order integrity.
# ===========================================================================

from inde1_spark.operators.dedup import CDC_MASK_GRID  # noqa: E402


def _cdc_chunks_param_sql(avg_chunk: int, sfx: str) -> str:
    """The _CDC_CHUNKS fragment with a parameterized mask width and
    suffixed CTE names (the sweep needs several side by side)."""
    return f"""toks_{sfx} AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
b_{sfx} AS (
  SELECT doc_id, toks, len(toks) AS n,
         list_concat([1], list_filter(generate_series(2, len(toks)),
           i -> (CAST(concat('0x', substr(md5(
                   list_extract(toks, i-1) || ' ' || list_extract(toks, i)
                 ), 1, 8)) AS BIGINT) % {avg_chunk}) = 0)) AS bp
  FROM toks_{sfx} WHERE len(toks) >= 1
),
ch_{sfx} AS (
  SELECT doc_id,
         UNNEST(list_transform(generate_series(1, len(bp)), k ->
           struct_pack(
             nw := CAST((CASE WHEN k < len(bp) THEN list_extract(bp, k+1) - 1 ELSE n END)
                        - list_extract(bp, k) + 1 AS BIGINT),
             h := md5(array_to_string(
                    toks[list_extract(bp, k) :
                         (CASE WHEN k < len(bp) THEN list_extract(bp, k+1) - 1 ELSE n END)], ' '))
           ))) AS c
  FROM b_{sfx}
),
cdc_{sfx} AS (
  SELECT doc_id, c.nw AS n_words, c.h AS chunk_hash
  FROM ch_{sfx} WHERE c.nw >= {CDC_MIN_WORDS}
)"""


def _cms_k_sql(a: int) -> tuple[str, str]:
    sfx = f"m{a}"
    cte = (
        _cdc_chunks_param_sql(a, sfx)
        + f""",
ph_{sfx} AS (
  SELECT chunk_hash, CAST(count(*) AS BIGINT) AS occ,
         CAST(min(n_words) AS BIGINT) AS nw
  FROM cdc_{sfx} GROUP BY 1
),
agg_{sfx} AS (
  SELECT CAST(COALESCE(SUM(occ), 0) AS BIGINT) AS n_chunks,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
         CAST(COALESCE(SUM(occ * nw), 0) AS BIGINT) AS total_w,
         CAST(COALESCE(SUM(nw), 0) AS BIGINT) AS dist_w
  FROM ph_{sfx}
)"""
    )
    body = f"""  SELECT CAST({a} AS BIGINT) AS avg_chunk_words,
         n_chunks, n_distinct_chunks,
         {_rr("total_w", "GREATEST(n_chunks, 1)", 2)} AS mean_chunk_words,
         {_rr("(n_chunks - n_distinct_chunks) * 100", "GREATEST(n_chunks, 1)", 2)}
           AS dup_occurrence_pct,
         {_rr("(total_w - dist_w) * 100", "GREATEST(total_w, 1)", 2)}
           AS words_saved_pct
  FROM agg_{sfx}"""
    return cte, body


_CMS_CTES, _CMS_BODIES = zip(*[_cms_k_sql(a) for a in CDC_MASK_GRID])

# Twin of operators/dedup.py:cdc_mask_sweep — the parameterized CDC chunk
# fragment per mask width, one per-hash aggregate, one-row rollups.
ORACLES["cdc_mask_sweep"] = f"""
WITH {",".join(_CMS_CTES)}
{chr(10).join(f"{'' if i == 0 else 'UNION ALL' + chr(10)}{b}" for i, b in enumerate(_CMS_BODIES))}
ORDER BY avg_chunk_words
"""

# Twin of operators/corpus.py:quality_dedup_interaction — quality decile
# binning (the quality_bins spelling) x md5 dup-group flags; lift in
# HUGEINT round-half-up, NULL when the corpus has zero redundancy.
ORACLES["quality_dedup_interaction"] = f"""
WITH {_QUALITY_CTES.format(stop=_STOP_LIST).strip()},
q AS (
  SELECT doc_id,
         LEAST(CAST(floor(
           {_rr("capped_chars * gnt + 500 * (gnt - n_stop)", "1000 * gnt", 4)}
           * 10.0) AS BIGINT), 9) AS bin
  FROM qm
),
g AS (
  SELECT md5(text) AS text_md5, CAST(count(*) AS BIGINT) AS n_in_group,
         min(doc_id) AS keep_doc_id
  FROM documents GROUP BY 1
),
flagged AS (
  SELECT q.bin,
         (g.n_in_group >= 2) AS is_dup_involved,
         (g.n_in_group >= 2 AND d.doc_id <> g.keep_doc_id) AS is_redundant
  FROM documents d
  JOIN q ON q.doc_id = d.doc_id
  JOIN g ON g.text_md5 = md5(d.text)
),
per_bin AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN is_dup_involved THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_involved,
         CAST(SUM(CASE WHEN is_redundant THEN 1 ELSE 0 END) AS BIGINT)
           AS n_redundant
  FROM flagged GROUP BY 1
),
totals AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total,
         CAST(SUM(n_redundant) AS BIGINT) AS r_total
  FROM per_bin
)
SELECT bin, n_docs, n_dup_involved, n_redundant,
       {_rr("n_redundant * 100", "GREATEST(n_docs, 1)", 2)} AS redundant_pct,
       CASE WHEN r_total > 0 THEN
         {_rrh("n_redundant * CAST(n_total AS HUGEINT) * 100",
               "CAST(n_docs AS HUGEINT) * r_total", 2)}
       END AS lift_x100
FROM per_bin, totals ORDER BY bin
"""

# Twin of operators/analytics.py:event_order_integrity_audit — one global
# aggregate + one per-user (event_id, ts)-ordered lag pass.
ORACLES["event_order_integrity_audit"] = f"""
WITH base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT)
           AS n_dup_event_ids,
         CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null_ids,
         CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null_ts,
         CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null_users
  FROM events
),
lagged AS (
  SELECT user_id,
         (ts < lag(ts) OVER (PARTITION BY user_id ORDER BY event_id, ts))
           AS reg
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
regs AS (
  SELECT CAST(SUM(CASE WHEN reg THEN 1 ELSE 0 END) AS BIGINT)
           AS n_ts_regressions,
         CAST(SUM(CASE WHEN reg IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_adjacent_pairs,
         CAST(COUNT(DISTINCT CASE WHEN reg THEN user_id END) AS BIGINT)
           AS n_users_regressed
  FROM lagged
)
SELECT n_rows, n_dup_event_ids, n_ts_regressions, n_adjacent_pairs,
       n_users_regressed,
       {_rr("n_ts_regressions * 100", "GREATEST(n_adjacent_pairs, 1)", 2)}
         AS regression_pct,
       n_null_ids, n_null_ts, n_null_users
FROM base, regs
"""

from inde1_spark.operators.dedup import MINHASH_PERM_GRID  # noqa: E402

_MPS_MATCH_COLS = ",\n         ".join(
    "CAST("
    + " + ".join(
        f"(CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END)"
        for i in range(k)
    )
    + f" AS BIGINT) AS m_{k}"
    for k in MINHASH_PERM_GRID
)


def _mps_row_sql(k: int) -> str:
    est = f"(m_{k} * {1_000_000 // k})"
    diff = f"({est} - jac_ppm)"
    return f"""  SELECT CAST({k} AS BIGINT) AS n_perms,
         CAST(COUNT(*) AS BIGINT) AS n_pairs,
         {_rr(f"COALESCE(SUM(abs{diff}), 0)", "GREATEST(COUNT(*), 1)", 2)}
           AS mean_abs_err_ppm,
         CAST(COALESCE(MAX(abs{diff}), 0) AS BIGINT) AS max_abs_err_ppm,
         (CASE WHEN COALESCE(SUM{diff}, 0) < 0 THEN -1.0 ELSE 1.0 END)
           * {_rr(f"abs(COALESCE(SUM{diff}, 0))", "GREATEST(COUNT(*), 1)", 2)}
           AS bias_ppm
  FROM mps_pairs"""


# Twin of operators/dedup.py:minhash_perm_sweep — the est-audit pipeline
# with per-prefix match counts, one pair table feeding bounded per-k rows.
ORACLES["minhash_perm_sweep"] = f"""
WITH {_SHINGLES.strip()},
shid AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT)
           % {MINHASH_PRIME} AS sid
  FROM sh
),
sigs AS (
  SELECT doc_id,
         {", ".join(f"MIN(({a} * sid + {b}) % {MINHASH_PRIME}) AS mh_{pid}" for pid, a, b in PERMS_FAST)}
  FROM shid GROUP BY doc_id
),
bands AS (
  {" UNION ALL ".join(
      "SELECT doc_id, " + str(b) + " AS band, "
      + "concat_ws(',', " + ", ".join(
          f"CAST(mh_{b * (FAST_N_PERM // FAST_N_BANDS) + r} AS VARCHAR)"
          for r in range(FAST_N_PERM // FAST_N_BANDS)
      ) + ") AS sig FROM sigs"
      for b in range(FAST_N_BANDS)
  )}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
matches AS (
  SELECT c.doc_a, c.doc_b,
         {_MPS_MATCH_COLS}
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.doc_a
  JOIN sigs sb ON sb.doc_id = c.doc_b
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN cand c ON c.doc_a = a.doc_id AND c.doc_b = b.doc_id
  GROUP BY 1, 2
),
mps_pairs AS (
  SELECT m.*,
         ((COALESCE(i.n_inter, 0) * 2000000
           + (sa.sz + sb.sz - COALESCE(i.n_inter, 0)))
          // (2 * (sa.sz + sb.sz - COALESCE(i.n_inter, 0)))) AS jac_ppm
  FROM matches m
  LEFT JOIN inter i ON i.doc_a = m.doc_a AND i.doc_b = m.doc_b
  JOIN sizes sa ON sa.doc_id = m.doc_a
  JOIN sizes sb ON sb.doc_id = m.doc_b
)
{chr(10).join(f"{'' if i == 0 else 'UNION ALL' + chr(10)}{_mps_row_sql(k)}" for i, k in enumerate(MINHASH_PERM_GRID))}
ORDER BY n_perms
"""

from inde1_spark.operators.dedup import FUNNEL_QUALITY_MIN as _COA_QMIN  # noqa: E402

# Twin of operators/corpus.py:curation_order_audit — both keepers from one
# md5-partition window, one global fold; quality is the funnel's exact
# 4-decimal cut.
ORACLES["curation_order_audit"] = f"""
WITH {_QUALITY_CTES.format(stop=_STOP_LIST).strip()},
q AS (
  SELECT doc_id, n_tokens,
         ({_rr("capped_chars * gnt + 500 * (gnt - n_stop)", "1000 * gnt", 4)}
          >= {_COA_QMIN}) AS q
  FROM qm
),
f AS (
  SELECT d.doc_id, q.n_tokens, q.q,
         MIN(d.doc_id) OVER (PARTITION BY md5(d.text)) AS keeper_all,
         MIN(CASE WHEN q.q THEN d.doc_id END)
           OVER (PARTITION BY md5(d.text)) AS keeper_q
  FROM documents d JOIN q USING (doc_id)
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(SUM(CASE WHEN q AND doc_id = keeper_all THEN 1 ELSE 0 END)
              AS BIGINT) AS n_dedup_first_kept,
         CAST(SUM(CASE WHEN q AND doc_id = keeper_q THEN 1 ELSE 0 END)
              AS BIGINT) AS n_filter_first_kept,
         CAST(COALESCE(SUM(CASE WHEN q AND doc_id = keeper_all
                                THEN n_tokens END), 0) AS BIGINT)
           AS tokens_dedup_first,
         CAST(COALESCE(SUM(CASE WHEN q AND doc_id = keeper_q
                                THEN n_tokens END), 0) AS BIGINT)
           AS tokens_filter_first
  FROM f
)
SELECT n_total, n_dedup_first_kept, n_filter_first_kept,
       CAST(n_filter_first_kept - n_dedup_first_kept AS BIGINT) AS n_rescued,
       tokens_dedup_first, tokens_filter_first,
       {_rr("(tokens_filter_first - tokens_dedup_first) * 100",
            "GREATEST(tokens_filter_first, 1)", 2)} AS rescued_token_pct
FROM agg
"""

_TNA_PREDS = (
    ("n_leading_ws", "substr(text, 1, 1) = ' '"),
    ("n_trailing_ws", "right(text, 1) = ' '"),
    ("n_double_space", "instr(text, '  ') > 0"),
    ("n_empty", "length(trim(text)) = 0"),
    ("n_non_ascii", "regexp_matches(text, '[^\\x20-\\x7e]')"),
    (
        "n_all_caps",
        "regexp_matches(text, '[A-Za-z]') AND upper(text) = text",
    ),
)

# Twin of operators/text.py:text_normalization_audit — row-local boolean
# predicates, one per-source aggregate.
ORACLES["text_normalization_audit"] = f"""
WITH agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         {", ".join(f"CAST(SUM(CASE WHEN {p} THEN 1 ELSE 0 END) AS BIGINT) AS {n}" for n, p in _TNA_PREDS)}
  FROM documents GROUP BY 1
)
SELECT source, n_docs, {", ".join(n for n, _ in _TNA_PREDS)},
       {_rr("(" + " + ".join(n for n, _ in _TNA_PREDS) + ") * 100",
            f"GREATEST(n_docs, 1) * {len(_TNA_PREDS)}", 2)} AS debt_index_pct
FROM agg ORDER BY source
"""

from inde1_spark.operators.similarity import PQ_M_GRID  # noqa: E402


def _pds_m_sql(m: int) -> tuple[str, str]:
    sd = EMB_DIM // m
    cte = f"""vd_{m} AS (
  SELECT e.vec_id, mm.m, s.c,
         SUM(CAST(floor((CAST(e.embedding[mm.m * {sd} + u.j] AS DOUBLE)
                         - s.cvec[mm.m * {sd} + u.j])
                        * (CAST(e.embedding[mm.m * {sd} + u.j] AS DOUBLE)
                           - s.cvec[mm.m * {sd} + u.j])
                        * 1e12 + 0.5) AS BIGINT)) AS d
  FROM embeddings e,
       (SELECT i - 1 AS m FROM UNNEST(generate_series(1, {m})) AS t(i)) mm,
       pds_seeds s,
       UNNEST(generate_series(1, {sd})) AS u(j)
  GROUP BY 1, 2, 3
),
dist_{m} AS (
  SELECT vec_id, CAST(SUM(mind) AS BIGINT) AS dist
  FROM (SELECT vec_id, m, MIN(d) AS mind FROM vd_{m} GROUP BY 1, 2)
  GROUP BY 1
)"""
    body = f"""  SELECT CAST({m} AS BIGINT) AS m_sub,
         CAST({m * 3} AS BIGINT) AS bits_per_vec,
         CAST(COUNT(*) AS BIGINT) AS n_vectors,
         {_rrh("COALESCE(SUM(CAST(dist AS HUGEINT)), 0)",
               "GREATEST(COUNT(*), 1)", 0)} AS mean_distortion_pico,
         CAST(COALESCE(MAX(dist), 0) AS BIGINT) AS max_distortion_pico
  FROM dist_{m}"""
    return cte, body


_PDS_CTES, _PDS_BODIES = zip(*[_pds_m_sql(m) for m in PQ_M_GRID])

# Twin of operators/similarity.py:pq_distortion_sweep — the knn_pq
# codebook/pico-distance spelling, per-vector min distortion per m.
ORACLES["pq_distortion_sweep"] = f"""
WITH pds_seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) AS c,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {PQ_K})
),
{",".join(_PDS_CTES)}
{chr(10).join(f"{'' if i == 0 else 'UNION ALL' + chr(10)}{b}" for i, b in enumerate(_PDS_BODIES))}
ORDER BY m_sub
"""

from inde1_spark.operators.scoring import LM_SWEEP_TRAIN_PCT  # noqa: E402


def _lms_rollup_sql(order: int, held: str, n_train: str) -> str:
    return f"""  SELECT CAST({order} AS BIGINT) AS "order",
         ({n_train}) AS n_train_grams,
         CAST(COALESCE(SUM(hf), 0) AS BIGINT) AS n_held_grams,
         {_rr("COALESCE(SUM(CASE WHEN oov THEN hf ELSE 0 END), 0)" + " * 100",
              "GREATEST(COALESCE(SUM(hf), 0), 1)", 2)} AS oov_pct,
         ({_rrh("0 - COALESCE(SUM(CAST(hf AS HUGEINT) * lp), 0)",
                "GREATEST(COALESCE(SUM(hf), 0), 1)", 0)})
           * -1.0 / 1e9 AS avg_logprob
  FROM {held}"""


# Twin of operators/scoring.py:lm_order_sweep — one token pass, per-order
# (split, gram) counts, add-1 smoothing with the train unigram vocabulary,
# ln snapped to nano longs, HUGEINT accumulation.
ORACLES["lm_order_sweep"] = f"""
WITH base AS (
  SELECT ({_hash_bucket_sql('doc_id', 100)} < {LM_SWEEP_TRAIN_PCT}) AS tr,
         list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
uni AS (
  SELECT tr, g, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT tr, UNNEST(toks) AS g FROM base) GROUP BY 1, 2
),
bi AS (
  SELECT tr, g, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT tr, toks[i] || ' ' || toks[i + 1] AS g
        FROM base, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
        WHERE len(toks) >= 2)
  GROUP BY 1, 2
),
tr_uni AS (SELECT g, c AS c_tr FROM uni WHERE tr),
stats AS (
  SELECT CAST(COALESCE(SUM(c_tr), 0) AS BIGINT) AS n_train,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM tr_uni
),
tr_bi AS (SELECT g, c AS c_tr FROM bi WHERE tr),
ctx AS (
  SELECT split_part(g, ' ', 1) AS w1, CAST(SUM(c_tr) AS BIGINT) AS c_a
  FROM tr_bi GROUP BY 1
),
n_train_bi AS (
  SELECT CAST(COALESCE(SUM(c_tr), 0) AS BIGINT) AS n_train FROM tr_bi
),
held_uni AS (
  SELECT u.c AS hf, (t.c_tr IS NULL) AS oov,
         CAST(round(ln(CAST(COALESCE(t.c_tr, 0) + 1 AS DOUBLE)
                       / CAST(GREATEST(s.n_train + s.v, 1) AS DOUBLE))
                    * {LOG_SCALE}.0, 0) AS BIGINT) AS lp
  FROM uni u LEFT JOIN tr_uni t USING (g), stats s
  WHERE NOT u.tr
),
held_bi AS (
  SELECT b.c AS hf, (t.c_tr IS NULL) AS oov,
         CAST(round(ln(CAST(COALESCE(t.c_tr, 0) + 1 AS DOUBLE)
                       / CAST(GREATEST(COALESCE(x.c_a, 0) + s.v, 1)
                              AS DOUBLE))
                    * {LOG_SCALE}.0, 0) AS BIGINT) AS lp
  FROM bi b
  LEFT JOIN tr_bi t USING (g)
  LEFT JOIN ctx x ON x.w1 = split_part(b.g, ' ', 1), stats s
  WHERE NOT b.tr
)
{_lms_rollup_sql(1, "held_uni", "(SELECT n_train FROM stats)")}
UNION ALL
{_lms_rollup_sql(2, "held_bi", "(SELECT n_train FROM n_train_bi)")}
ORDER BY "order"
"""

# Twin of operators/dedup.py:keep_policy_audit — the dedup_clusters oracle
# nests as a subquery; keepers via min-struct-equivalent argmin orderings.


def _kpa_policy_sql(policy: str, keeper: str) -> str:
    kept = f"(doc_id = {keeper})"
    return f"""  SELECT '{policy}' AS policy,
         CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(SUM(CASE WHEN {kept} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         CAST(COALESCE(SUM(CASE WHEN {kept} THEN n_tokens END), 0) AS BIGINT)
           AS kept_tokens,
         {_rr(f"COALESCE(SUM(CASE WHEN {kept} THEN q_micro END), 0)",
              f"GREATEST(SUM(CASE WHEN {kept} THEN 1 ELSE 0 END), 1)", 0)}
           AS mean_kept_quality_micro,
         CAST(SUM(CASE WHEN {kept} AND doc_id <> k_min_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_differs_from_min_id
  FROM joined"""


ORACLES["keep_policy_audit"] = f"""
WITH {_QUALITY_CTES.format(stop=_STOP_LIST).strip()},
qv AS (
  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(floor(
           {_rr("capped_chars * gnt + 500 * (gnt - n_stop)", "1000 * gnt", 4)}
           * 1e6 + 0.5) AS BIGINT) AS q_micro
  FROM qm
),
members AS (
  SELECT c.cluster_id, c.doc_id, qv.n_tokens, qv.q_micro
  FROM ({ORACLES["dedup_clusters"]}) c JOIN qv USING (doc_id)
),
keepers AS (
  SELECT cluster_id,
         MIN(doc_id) AS k_min_id,
         (ARRAY_AGG(doc_id ORDER BY q_micro DESC, doc_id ASC))[1]
           AS k_best_quality,
         (ARRAY_AGG(doc_id ORDER BY n_tokens DESC, doc_id ASC))[1]
           AS k_longest
  FROM members GROUP BY 1
),
joined AS (
  SELECT m.*, k.k_min_id, k.k_best_quality, k.k_longest
  FROM members m JOIN keepers k USING (cluster_id)
)
{_kpa_policy_sql("best_quality", "k_best_quality")}
UNION ALL
{_kpa_policy_sql("longest", "k_longest")}
UNION ALL
{_kpa_policy_sql("min_id", "k_min_id")}
ORDER BY policy
"""

from inde1_spark.operators.dedup import HASH_WIDTH_BITS  # noqa: E402


def _hwa_row_sql(w: int) -> str:
    return f"""  SELECT CAST({w} AS BIGINT) AS bits, n_keys,
         nh_{w} AS n_hashes,
         CAST(n_keys - nh_{w} AS BIGINT) AS n_collisions,
         CAST((CAST(n_keys AS HUGEINT) * (n_keys - 1) * 1000000 * 2
               + {2 ** (w + 1)})
              // (2 * CAST({2 ** (w + 1)} AS HUGEINT)) AS BIGINT)
           AS expected_collisions_micro
  FROM agg"""


# Twin of operators/dedup.py:hash_width_audit — distinct md5 pass, prefix
# distinct counts, HUGEINT birthday expectation.
ORACLES["hash_width_audit"] = f"""
WITH full_h AS (SELECT DISTINCT md5(text) AS h FROM documents),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         {", ".join(f"CAST(COUNT(DISTINCT CAST(concat('0x', substr(h, 1, {w // 4})) AS BIGINT)) AS BIGINT) AS nh_{w}" for w in HASH_WIDTH_BITS)}
  FROM full_h
)
{chr(10).join(f"{'' if i == 0 else 'UNION ALL' + chr(10)}{_hwa_row_sql(w)}" for i, w in enumerate(HASH_WIDTH_BITS))}
ORDER BY bits
"""

from inde1_spark.operators.corpus import CORPUS_SHARDS  # noqa: E402

# Twin of operators/corpus.py:corpus_shard_plan — single-window cumulative
# sum (numerically identical to the engine's two-level spelling), HUGEINT
# shard division, exact fill percents.
ORACLES["corpus_shard_plan"] = f"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
              AS BIGINT) AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_before
  FROM toks
),
total AS (SELECT CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS total FROM toks),
assigned AS (
  SELECT LEAST(CAST((CAST(cum_before AS HUGEINT) * {CORPUS_SHARDS})
                    // GREATEST(t.total, 1) AS BIGINT),
               {CORPUS_SHARDS - 1}) AS shard,
         doc_id, n_tokens, t.total
  FROM cum, total t
)
SELECT CAST(shard AS BIGINT) AS shard,
       MIN(doc_id) AS lo_doc_id,
       MAX(doc_id) AS hi_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       {_rr(f"SUM(n_tokens) * {CORPUS_SHARDS} * 100", "GREATEST(MAX(total), 1)", 2)}
         AS fill_pct
FROM assigned GROUP BY shard ORDER BY shard
"""

from inde1_spark.operators.analytics import STATE_BYTES_PER_KEY  # noqa: E402

# Twin of operators/analytics.py:state_size_profile — one per-day aggregate
# with tz-free in-day offsets (the restart_cost_audit convention).
ORACLES["state_size_profile"] = f"""
WITH per_day AS (
  SELECT {_DAY} AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active_keys,
         CAST(COUNT(DISTINCT CASE
                WHEN hour(ts) * 3600 + minute(ts) * 60
                     + date_part('second', ts)
                     >= 86400 - {RESTART_STATE_GAP_S}
                THEN user_id END) AS BIGINT) AS n_open_eod
  FROM events GROUP BY 1
)
SELECT day, n_events, n_active_keys, n_open_eod,
       {_rr("n_open_eod * 100", "GREATEST(n_active_keys, 1)", 2)}
         AS open_share_pct,
       {_rr("n_events * 100", "GREATEST(n_active_keys, 1)", 2)}
         AS events_per_key_x100,
       CAST(n_open_eod * {STATE_BYTES_PER_KEY} AS BIGINT) AS state_bytes_est
FROM per_day ORDER BY day
"""

# ===========================================================================
# r14 batch, first tranche (staged in r11): cache sizing, watermark pricing,
# linkage blocking. Wide-integer arithmetic in HUGEINT where the Spark side
# runs DECIMAL(38,0); truncated-second epochs via floor(epoch(ts)).
# ===========================================================================

from inde1_spark.operators.analytics import (  # noqa: E402
    CACHE_PCTS,
    LATENESS_DELAYS_S,
)

# Twin of operators/analytics.py:cache_hit_curve — identical rank order
# (n DESC, user_id), cumulative frame, grid floor-div sizing, HUGEINT
# round-half-up percents.
ORACLES["cache_hit_curve"] = f"""
WITH freq AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1
),
ranked AS (
  SELECT CAST(row_number() OVER (ORDER BY n DESC, user_id) AS BIGINT)
           AS rank,
         CAST(SUM(n) OVER (ORDER BY n DESC, user_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_events
  FROM freq
),
totals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_events
  FROM freq
),
grid AS (
  SELECT CAST(p AS BIGINT) AS cache_pct, n_keys, n_events,
         GREATEST((n_keys * CAST(p AS BIGINT)) // 100, 1) AS keys_cached
  FROM totals, UNNEST([{', '.join(str(p) for p in CACHE_PCTS)}]) AS u(p)
)
SELECT cache_pct, keys_cached, cum_events AS events_covered,
       n_keys, n_events,
       {_rrh("(cum_events - keys_cached) * 100", "GREATEST(n_events, 1)", 2)}
         AS hit_pct,
       {_rrh("cum_events * 100", "GREATEST(n_events, 1)", 2)}
         AS coverage_pct
FROM grid JOIN ranked ON ranked.rank = grid.keys_cached
ORDER BY cache_pct
"""

# Twin of operators/analytics.py:allowed_lateness_sweep — per-key running
# max in (event_id, ts) order over truncated-second epochs, literal delay
# grid, HUGEINT drop shares.
ORACLES["allowed_lateness_sweep"] = f"""
WITH lat AS (
  SELECT MAX(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
           PARTITION BY user_id ORDER BY event_id, ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         - CAST(floor(epoch(ts)) AS BIGINT) AS lateness_s
  FROM events
),
x AS (
  SELECT lateness_s, CAST(d AS BIGINT) AS delay_s
  FROM lat, UNNEST([{', '.join(str(d) for d in LATENESS_DELAYS_S)}]) AS u(d)
)
SELECT delay_s,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN lateness_s > delay_s THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       CAST(MAX(lateness_s) AS BIGINT) AS max_lateness_s,
       {_rrh("SUM(CASE WHEN lateness_s > delay_s THEN 1 ELSE 0 END) * 100",
             "GREATEST(COUNT(*), 1)", 4)} AS drop_pct
FROM x GROUP BY 1 ORDER BY 1
"""

from inde1_spark.operators.dedup import FS_LEN_BAND  # noqa: E402

# Twin of operators/dedup.py:blocking_key_sweep — identical candidate keys,
# fellegi_sunter pair space + ground-truth labels, HUGEINT pair bills with
# exact-string + digit-split-double emission.
def _blocking_key_sweep_sql() -> str:
    meta = f"""
meta AS (
  SELECT doc_id,
         CAST(lang AS VARCHAR) AS k_lang,
         CAST(source AS VARCHAR) AS k_source,
         CAST(CAST(n_chars AS BIGINT) // {FS_LEN_BAND} AS VARCHAR)
           AS k_len_band,
         concat_ws('|', lang, source) AS k_lang_source
  FROM documents
)"""
    feats = [
        ("lang", "k_lang"),
        ("lang_source", "k_lang_source"),
        ("len_band", "k_len_band"),
        ("source", "k_source"),
    ]
    kv_union = "\n  UNION ALL\n".join(
        f"  SELECT '{name}' AS feature, {c} AS val FROM meta"
        for name, c in feats
    )
    # basep carries both sides' meta columns; melt to per-feature agreement
    tp_union = "\n  UNION ALL\n".join(
        f"  SELECT '{name}' AS feature,"
        f" CAST(a_{c} = b_{c} AS BIGINT) AS co FROM basep"
        for name, c in feats
    )
    cand = "(pairs2 - (pairs2 % 2)) // 2"
    total2 = "CAST(n_docs AS HUGEINT) * (n_docs - 1)"
    return f"""
WITH {_SHINGLES},
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS ({_jaccard_from_inter(JACCARD_THRESHOLD)}),
{meta},
kv AS (
{kv_union}
),
blocks AS (
  SELECT feature, val, CAST(COUNT(*) AS BIGINT) AS c FROM kv GROUP BY 1, 2
),
per_key AS (
  SELECT feature,
         CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(MAX(c) AS BIGINT) AS max_block,
         SUM(CAST(c AS HUGEINT) * (c - 1)) AS pairs2,
         CAST(SUM(c) AS BIGINT) AS n_docs
  FROM blocks GROUP BY 1
),
basep AS MATERIALIZED (
  SELECT m1.k_lang AS a_k_lang, m2.k_lang AS b_k_lang,
         m1.k_source AS a_k_source, m2.k_source AS b_k_source,
         m1.k_len_band AS a_k_len_band, m2.k_len_band AS b_k_len_band,
         m1.k_lang_source AS a_k_lang_source,
         m2.k_lang_source AS b_k_lang_source
  FROM truth t
  JOIN meta m1 ON m1.doc_id = t.doc_a
  JOIN meta m2 ON m2.doc_id = t.doc_b
),
tp AS (
{tp_union}
),
comp AS (
  SELECT feature,
         CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
         CAST(COALESCE(SUM(co), 0) AS BIGINT) AS n_coblocked
  FROM tp GROUP BY 1
)
SELECT p.feature, p.n_blocks, p.max_block,
       CAST({cand} AS VARCHAR) AS cand_pairs,
       {_dec2d(cand)} AS cand_pairs_approx,
       {_rrh(f"({total2} - pairs2) * 100", f"GREATEST({total2}, 1)", 4)}
         AS reduction_pct,
       CAST(COALESCE(c.n_true_pairs, 0) AS BIGINT) AS n_true_pairs,
       CAST(COALESCE(c.n_coblocked, 0) AS BIGINT) AS n_coblocked,
       CASE WHEN COALESCE(c.n_true_pairs, 0) > 0 THEN
         {_rr("COALESCE(c.n_coblocked, 0) * 100", "c.n_true_pairs", 2)}
       END AS completeness_pct
FROM per_key p LEFT JOIN comp c ON c.feature = p.feature
ORDER BY p.feature
"""


ORACLES["blocking_key_sweep"] = _blocking_key_sweep_sql()

# ===========================================================================
# r14 batch, second tranche (staged in r11): TTL pricing, trigger sizing,
# context-length pricing. Same conventions: HUGEINT where Spark runs
# DECIMAL(38,0), truncated-second epochs for differences, tz-free day-index
# plus field extraction for bucket boundaries (offsets do NOT cancel there).
# ===========================================================================

from inde1_spark.operators.analytics import (  # noqa: E402
    TRIGGER_INTERVALS_S,
    TTL_DELAYS_S,
)
from inde1_spark.operators.corpus import SEQ_LEN_GRID  # noqa: E402

# Twin of operators/analytics.py:ttl_staleness_sweep — per-key lag in
# (truncated-second ts, event_id) order, literal TTL grid, HUGEINT shares.
ORACLES["ttl_staleness_sweep"] = f"""
WITH g AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT)
         - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
             PARTITION BY user_id
             ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
         AS gap_s
  FROM events
),
x AS (
  SELECT gap_s, CAST(t AS BIGINT) AS ttl_s
  FROM g, UNNEST([{', '.join(str(t) for t in TTL_DELAYS_S)}]) AS u(t)
),
agg AS (
  SELECT ttl_s,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN gap_s IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_keys,
         CAST(SUM(CASE WHEN gap_s > ttl_s THEN 1 ELSE 0 END) AS BIGINT)
           AS n_refetch,
         CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
  FROM x GROUP BY 1
)
SELECT ttl_s, n_events, n_keys, n_refetch,
       n_keys + n_refetch AS n_miss, max_gap_s,
       {_rrh("(n_keys + n_refetch) * 100", "GREATEST(n_events, 1)", 4)}
         AS miss_pct,
       {_rrh("n_refetch * 100", "GREATEST(n_events, 1)", 4)}
         AS refetch_pct
FROM agg ORDER BY ttl_s
"""

# Twin of operators/analytics.py:trigger_interval_sweep — tz-free absolute
# second (day index * 86400 + extracted in-day seconds), floor-div buckets,
# HUGEINT-promoted peak product.
ORACLES["trigger_interval_sweep"] = f"""
WITH s AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) * 86400
         + CAST(extract(hour FROM ts) AS BIGINT) * 3600
         + CAST(extract(minute FROM ts) AS BIGINT) * 60
         + CAST(extract(second FROM ts) AS BIGINT) AS abs_s
  FROM events
),
x AS (
  SELECT abs_s, CAST(t AS BIGINT) AS trigger_s
  FROM s, UNNEST([{', '.join(str(t) for t in TRIGGER_INTERVALS_S)}]) AS u(t)
),
b AS (
  SELECT trigger_s, abs_s // trigger_s AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM x GROUP BY 1, 2
),
p AS (
  SELECT trigger_s,
         CAST(SUM(n) AS BIGINT) AS n_events,
         CAST(COUNT(*) AS BIGINT) AS n_batches,
         CAST(MAX(n) AS BIGINT) AS max_batch,
         CAST(MAX(bucket) - MIN(bucket) + 1 AS BIGINT) AS n_slots
  FROM b GROUP BY 1
)
SELECT trigger_s, n_events, n_batches, n_slots,
       n_slots - n_batches AS n_empty, max_batch,
       {_rrh("n_events", "GREATEST(n_batches, 1)", 2)} AS mean_batch,
       {_rrh("CAST(max_batch AS HUGEINT) * n_batches * 100",
             "GREATEST(n_events, 1)", 2)} AS peak_to_mean_pct,
       {_rrh("n_batches * 100", "GREATEST(n_slots, 1)", 2)} AS duty_pct
FROM p ORDER BY trigger_s
"""

# Twin of operators/corpus.py:truncation_loss_sweep — whitespace token
# counts (string_split + list_filter, the tokens() convention), literal
# length grid, HUGEINT shares.
ORACLES["truncation_loss_sweep"] = f"""
WITH d AS (
  SELECT CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
              AS BIGINT) AS n_tok
  FROM documents
),
x AS (
  SELECT n_tok, CAST(l AS BIGINT) AS max_len
  FROM d, UNNEST([{', '.join(str(n) for n in SEQ_LEN_GRID)}]) AS u(l)
),
a AS (
  SELECT max_len,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN n_tok > max_len THEN 1 ELSE 0 END) AS BIGINT)
           AS n_docs_truncated,
         CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         CAST(SUM(GREATEST(n_tok - max_len, 0)) AS BIGINT) AS tokens_lost,
         CAST(MAX(n_tok) AS BIGINT) AS max_doc_tokens
  FROM x GROUP BY 1
)
SELECT max_len, n_docs, n_docs_truncated, n_tokens, tokens_lost,
       max_doc_tokens,
       {_rrh("n_docs_truncated * 100", "GREATEST(n_docs, 1)", 4)}
         AS trunc_doc_pct,
       {_rrh("tokens_lost * 100", "GREATEST(n_tokens, 1)", 4)}
         AS token_loss_pct
FROM a ORDER BY max_len
"""

# ===========================================================================
# r14 batch, third tranche (staged in r11): LSH bucket balance, shuffle
# width pricing, retention policy pricing.
# ===========================================================================

from inde1_spark.operators.analytics import (  # noqa: E402
    RETENTION_HORIZONS_D,
    SHUFFLE_WIDTHS,
)
from inde1_spark.operators.dedup import N_BANDS, N_PERM  # noqa: E402


# Twin of operators/dedup.py:lsh_bucket_balance_audit — md5 shingle ids,
# the dictionary variant's affine perms, per-(band, sig) bucket counts,
# HUGEINT pair bills with exact-string + digit-split-double emission.
def _lsh_bucket_balance_sql() -> str:
    p = MINHASH_PRIME
    mins = ",\n         ".join(
        f"CAST(MIN(({a} * sid + {b}) % {p}) AS BIGINT) AS m{i}"
        for i, a, b in PERMS
    )
    rpb = N_PERM // N_BANDS
    band_selects = "\n  UNION ALL ".join(
        f"SELECT {j} AS band, concat_ws(',', "
        + ", ".join(f"m{j * rpb + k}" for k in range(rpb))
        + ") AS sig FROM mh"
        for j in range(N_BANDS)
    )
    cand = "(pairs2 - (pairs2 % 2)) // 2"
    top = "(CAST(max_bucket AS HUGEINT) * (max_bucket - 1)) // 2"
    return f"""
WITH {_SHINGLES.strip().rstrip()},
sids AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(shingle), 1, 8)) AS BIGINT) % {p} AS sid
  FROM sh
),
mh AS MATERIALIZED (
  SELECT doc_id,
         {mins}
  FROM sids GROUP BY doc_id
),
bands AS (
  {band_selects}
),
buckets AS (
  SELECT band, sig, CAST(COUNT(*) AS BIGINT) AS c
  FROM bands GROUP BY 1, 2
),
per_band AS (
  SELECT band,
         CAST(COUNT(*) AS BIGINT) AS n_buckets,
         CAST(SUM(c) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS buckets_multi,
         CAST(MAX(c) AS BIGINT) AS max_bucket,
         SUM(CAST(c AS HUGEINT) * (c - 1)) AS pairs2
  FROM buckets GROUP BY 1
)
SELECT CAST(band AS BIGINT) AS band, n_buckets, n_docs, buckets_multi,
       max_bucket,
       CAST({cand} AS VARCHAR) AS cand_pairs,
       {_dec2d(cand)} AS cand_pairs_approx,
       CASE WHEN pairs2 > 0 THEN
         {_rrh(f"({top}) * 100", f"GREATEST({cand}, 1)", 2)}
       END AS top_bucket_share_pct
FROM per_band ORDER BY band
"""


ORACLES["lsh_bucket_balance_audit"] = _lsh_bucket_balance_sql()

# Twin of operators/analytics.py:shuffle_width_sweep — md5-prefix reducer
# assignment with the width grid as a column modulus, HUGEINT-promoted
# peak product.
ORACLES["shuffle_width_sweep"] = f"""
WITH counts AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1
),
loads AS (
  SELECT CAST(w AS BIGINT) AS width,
         (CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
               AS BIGINT) % CAST(w AS BIGINT)) AS reducer,
         CAST(SUM(n) AS BIGINT) AS load,
         CAST(COUNT(*) AS BIGINT) AS n_keys_r
  FROM counts, UNNEST([{', '.join(str(w) for w in SHUFFLE_WIDTHS)}]) AS u(w)
  GROUP BY 1, 2
),
per_w AS (
  SELECT width,
         CAST(SUM(load) AS BIGINT) AS n_events,
         CAST(SUM(n_keys_r) AS BIGINT) AS n_keys,
         CAST(COUNT(*) AS BIGINT) AS reducers_used,
         CAST(MAX(load) AS BIGINT) AS max_load
  FROM loads GROUP BY 1
)
SELECT width, n_events, n_keys, reducers_used,
       width - reducers_used AS n_idle, max_load,
       {_rrh("n_events", "GREATEST(reducers_used, 1)", 2)} AS mean_load,
       {_rrh("CAST(max_load AS HUGEINT) * reducers_used * 100",
             "GREATEST(n_events, 1)", 2)} AS peak_to_mean_pct
FROM per_w ORDER BY width
"""

# Twin of operators/analytics.py:retention_policy_sweep — tz-free day
# index, 1-row frontier cross join, conditional distincts, HUGEINT shares.
ORACLES["retention_policy_sweep"] = f"""
WITH days AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
              AS BIGINT) AS d,
         user_id
  FROM events
),
frontier AS (SELECT MAX(d) AS d_max FROM days),
x AS (
  SELECT d, user_id, d_max, CAST(h AS BIGINT) AS horizon_d
  FROM days, frontier,
       UNNEST([{', '.join(str(h) for h in RETENTION_HORIZONS_D)}]) AS u(h)
),
agg AS (
  SELECT horizon_d,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN d > d_max - horizon_d THEN 1 ELSE 0 END)
              AS BIGINT) AS n_events_kept,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys,
         CAST(COUNT(DISTINCT CASE WHEN d > d_max - horizon_d
                                  THEN user_id END) AS BIGINT)
           AS n_keys_kept,
         CAST(COUNT(DISTINCT CASE WHEN d > d_max - horizon_d THEN d END)
              AS BIGINT) AS n_days_kept
  FROM x GROUP BY 1
)
SELECT horizon_d, n_events, n_events_kept, n_keys, n_keys_kept, n_days_kept,
       {_rrh("n_events_kept * 100", "GREATEST(n_events, 1)", 4)}
         AS kept_pct,
       {_rrh("(n_keys - n_keys_kept) * 100", "GREATEST(n_keys, 1)", 4)}
         AS keys_lost_pct
FROM agg ORDER BY horizon_d
"""

# ===========================================================================
# r14 batch, fourth tranche (staged in r11): column hygiene, scan split
# pricing, ingest backpressure (Lindley recursion in closed form).
# ===========================================================================

from inde1_spark.operators.analytics import (  # noqa: E402
    COMPACT_ROW_BYTES,
    COMPLETENESS_COLS,
    RATE_PCTS,
    SCAN_SPLIT_BYTES,
)


# Twin of operators/analytics.py:column_completeness_audit — one branch per
# column, NULL n_empty for non-strings ("not applicable", not zero).
def _column_completeness_sql() -> str:
    branches = []
    for name, is_str in COMPLETENESS_COLS:
        ne = (
            f"CAST(SUM(CASE WHEN {name} = '' THEN 1 ELSE 0 END) AS BIGINT)"
            if is_str
            else "CAST(NULL AS BIGINT)"
        )
        branches.append(
            f"  SELECT '{name}' AS col_name,"
            f" CAST(COUNT(*) AS BIGINT) AS n_rows,"
            f" CAST(SUM(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS n_null,"
            f" {ne} AS n_empty FROM events"
        )
    union = "\n  UNION ALL\n".join(branches)
    return f"""
WITH cols AS (
{union}
)
SELECT col_name, n_rows, n_null,
       {_rrh("n_null * 100", "GREATEST(n_rows, 1)", 4)} AS null_pct,
       n_empty,
       CASE WHEN n_empty IS NOT NULL THEN
         {_rrh("COALESCE(n_empty, 0) * 100", "GREATEST(n_rows, 1)", 4)}
       END AS empty_pct
FROM cols ORDER BY col_name
"""


ORACLES["column_completeness_audit"] = _column_completeness_sql()

# Twin of operators/analytics.py:scan_split_sweep — per-day modeled bytes,
# exact integer ceil/remainder split math, literal split grid.
ORACLES["scan_split_sweep"] = f"""
WITH per_day AS (
  SELECT {_DAY} AS day,
         CAST(COUNT(*) * {COMPACT_ROW_BYTES} AS BIGINT) AS day_bytes
  FROM events GROUP BY 1
),
x AS (
  SELECT CAST(s AS BIGINT) AS split_bytes, day_bytes,
         (day_bytes + CAST(s AS BIGINT) - 1) // CAST(s AS BIGINT) AS tasks_d
  FROM per_day,
       UNNEST([{', '.join(str(s) for s in SCAN_SPLIT_BYTES)}]) AS u(s)
),
y AS (
  SELECT split_bytes, day_bytes, tasks_d,
         day_bytes - (tasks_d - 1) * split_bytes AS rem_bytes
  FROM x
),
agg AS (
  SELECT split_bytes,
         CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(day_bytes) AS BIGINT) AS total_bytes,
         CAST(SUM(tasks_d) AS BIGINT) AS n_tasks,
         CAST(SUM(CASE WHEN rem_bytes * 2 < split_bytes THEN 1 ELSE 0 END)
              AS BIGINT) AS runt_tasks,
         CAST(MAX(LEAST(day_bytes, split_bytes)) AS BIGINT)
           AS max_task_bytes
  FROM y GROUP BY 1
)
SELECT split_bytes, n_days, total_bytes, n_tasks, max_task_bytes,
       {_rrh("total_bytes", "GREATEST(n_tasks, 1)", 0)} AS mean_task_bytes,
       runt_tasks,
       {_rrh("runt_tasks * 100", "GREATEST(n_tasks, 1)", 2)} AS runt_pct
FROM agg ORDER BY split_bytes
"""

# Twin of operators/analytics.py:rate_limit_sweep — tz-free minute index,
# per-rate ceil of the scale-free mean-rate grid, Lindley backlog via
# cumulative-sum and running-min windows over the bounded minute series.
ORACLES["rate_limit_sweep"] = f"""
WITH arr AS (
  SELECT (CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
               AS BIGINT) * 86400
          + CAST(extract(hour FROM ts) AS BIGINT) * 3600
          + CAST(extract(minute FROM ts) AS BIGINT) * 60
          + CAST(extract(second FROM ts) AS BIGINT)) // 60 AS m,
         CAST(COUNT(*) AS BIGINT) AS a
  FROM events GROUP BY 1
),
totals AS (
  SELECT CAST(SUM(a) AS BIGINT) AS total,
         CAST(MIN(m) AS BIGINT) AS m_min,
         CAST(MAX(m) AS BIGINT) AS m_max,
         CAST(COUNT(*) AS BIGINT) AS n_minutes
  FROM arr
),
grid AS (
  SELECT CAST(p AS BIGINT) AS rate_pct, total, m_min, m_max, n_minutes,
         m_max - m_min + 1 AS span_min,
         (total * CAST(p AS BIGINT) + (m_max - m_min + 1) * 100 - 1)
           // ((m_max - m_min + 1) * 100) AS rate_per_min
  FROM totals, UNNEST([{', '.join(str(p) for p in RATE_PCTS)}]) AS u(p)
),
ser AS (
  SELECT g.*, r.m, r.a,
         r.m - g.m_min + 1 AS t,
         CAST(SUM(r.a) OVER (PARTITION BY g.rate_pct ORDER BY r.m
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum
  FROM arr r, grid g
),
ser2 AS (
  SELECT *, cum - rate_per_min * t AS c_t,
         (cum - a) - rate_per_min * (t - 1) AS p_t
  FROM ser
),
ser3 AS (
  SELECT *,
         LEAST(CAST(0 AS BIGINT),
               MIN(p_t) OVER (PARTITION BY rate_pct ORDER BY m
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
           AS min_c
  FROM ser2
),
ser4 AS (
  SELECT *, GREATEST(CAST(0 AS BIGINT), c_t - min_c) AS backlog
  FROM ser3
),
agg AS (
  SELECT rate_pct,
         CAST(MAX(total) AS BIGINT) AS n_events,
         CAST(MAX(n_minutes) AS BIGINT) AS n_minutes,
         CAST(MAX(span_min) AS BIGINT) AS span_min,
         CAST(MAX(rate_per_min) AS BIGINT) AS rate_per_min,
         CAST(MAX(backlog) AS BIGINT) AS peak_backlog,
         CAST(SUM(CASE WHEN backlog > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS backlogged_minutes,
         CAST(MAX(CASE WHEN m = m_max THEN backlog END) AS BIGINT)
           AS end_backlog
  FROM ser4 GROUP BY 1
)
SELECT rate_pct, n_events, n_minutes, span_min, rate_per_min, peak_backlog,
       backlogged_minutes,
       {_rrh("backlogged_minutes * 100", "GREATEST(n_minutes, 1)", 2)}
         AS backlogged_pct,
       (end_backlog + rate_per_min - 1) // rate_per_min AS drain_min
FROM agg ORDER BY rate_pct
"""

# ===========================================================================
# r15 batch, first tranche (staged in r11): watermark state pricing, key
# churn ledger.
# ===========================================================================

from inde1_spark.operators.analytics import STATE_BYTES_PER_KEY  # noqa: E402


# Twin of operators/analytics.py:watermark_state_tradeoff — distinct
# (key, minute) cells, one RANGE frame per grid delay over the bounded
# per-minute series (delay 0 degenerates to the row itself).
def _watermark_state_sql() -> str:
    abs_s = (
        "CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))"
        " AS BIGINT) * 86400"
        " + CAST(extract(hour FROM ts) AS BIGINT) * 3600"
        " + CAST(extract(minute FROM ts) AS BIGINT) * 60"
        " + CAST(extract(second FROM ts) AS BIGINT)"
    )
    branches = []
    for d in LATENESS_DELAYS_S:
        d_min = int(d) // 60
        frame = (
            f"RANGE BETWEEN {d_min} PRECEDING AND CURRENT ROW"
            if d_min > 0
            else "ROWS BETWEEN CURRENT ROW AND CURRENT ROW"
        )
        branches.append(
            f"  SELECT CAST({int(d)} AS BIGINT) AS delay_s,"
            f" CAST({d_min} AS BIGINT) AS window_min, c_m,"
            f" CAST(SUM(c_m) OVER (ORDER BY m {frame}) AS BIGINT) AS live"
            f" FROM per_min"
        )
    union = "\n  UNION ALL\n".join(branches)
    return f"""
WITH cells AS (
  SELECT DISTINCT user_id, ({abs_s}) // 60 AS m FROM events
),
per_min AS (
  SELECT m, CAST(COUNT(*) AS BIGINT) AS c_m FROM cells GROUP BY 1
),
b AS (
{union}
),
agg AS (
  SELECT delay_s,
         CAST(MAX(window_min) AS BIGINT) AS window_min,
         CAST(SUM(c_m) AS BIGINT) AS n_cells,
         CAST(COUNT(*) AS BIGINT) AS n_minutes,
         CAST(MAX(live) AS BIGINT) AS peak_state_rows
  FROM b GROUP BY 1
)
SELECT delay_s, window_min, n_cells, n_minutes, peak_state_rows,
       CAST(peak_state_rows * {STATE_BYTES_PER_KEY} AS BIGINT)
         AS peak_state_bytes,
       {_rrh("peak_state_rows * 100", "GREATEST(n_cells, 1)", 2)}
         AS peak_share_pct
FROM agg ORDER BY delay_s
"""


ORACLES["watermark_state_tradeoff"] = _watermark_state_sql()

# Twin of operators/analytics.py:key_churn_audit — distinct (key, day)
# activity, per-key first/last days, per-day outer joins, running universe.
ORACLES["key_churn_audit"] = f"""
WITH activity AS (
  SELECT DISTINCT user_id, {_DAY} AS day FROM events
),
actives AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_active FROM activity GROUP BY 1
),
firstlast AS (
  SELECT user_id, MIN(day) AS first_day, MAX(day) AS last_day
  FROM activity GROUP BY 1
),
news AS (
  SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS n_new
  FROM firstlast GROUP BY 1
),
retires AS (
  SELECT last_day AS day, CAST(COUNT(*) AS BIGINT) AS n_retired
  FROM firstlast GROUP BY 1
),
per_day AS (
  SELECT a.day, a.n_active,
         CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new,
         CAST(COALESCE(r.n_retired, 0) AS BIGINT) AS n_retired
  FROM actives a
  LEFT JOIN news n ON n.day = a.day
  LEFT JOIN retires r ON r.day = a.day
),
u AS (
  SELECT *,
         CAST(SUM(n_new) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS universe_size
  FROM per_day
)
SELECT day, n_active, n_new, n_retired, universe_size,
       {_rrh("n_new * 100", "GREATEST(n_active, 1)", 2)} AS new_pct,
       {_rrh("n_retired * 100", "GREATEST(n_active, 1)", 2)} AS retired_pct,
       {_rrh("n_active * 100", "GREATEST(universe_size, 1)", 2)}
         AS active_share_pct
FROM u ORDER BY day
"""

# ===========================================================================
# r15 batch, second tranche (staged in r11): lateness attribution, IVF
# list balance.
# ===========================================================================

from inde1_spark.operators.analytics import LATENESS_PROD_DELAY_S  # noqa: E402

# Twin of operators/analytics.py:lateness_attribution_audit — per-key
# running max in (event_id, ts) arrival order, per-day rollup at the
# deployed delay.
ORACLES["lateness_attribution_audit"] = f"""
WITH lat AS (
  SELECT {_DAY} AS day,
         MAX(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
           PARTITION BY user_id ORDER BY event_id, ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         - CAST(floor(epoch(ts)) AS BIGINT) AS lateness_s
  FROM events
),
agg AS (
  SELECT day,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN lateness_s > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_late,
         CAST(SUM(CASE WHEN lateness_s > {LATENESS_PROD_DELAY_S}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         CAST(MAX(lateness_s) AS BIGINT) AS max_lateness_s
  FROM lat GROUP BY 1
)
SELECT day, n_events, n_late, n_dropped, max_lateness_s,
       {_rrh("n_late * 100", "GREATEST(n_events, 1)", 4)} AS late_pct,
       {_rrh("n_dropped * 100", "GREATEST(n_events, 1)", 4)} AS drop_pct
FROM agg ORDER BY day
"""

# Twin of operators/similarity.py:ivf_list_balance_audit — per-label
# counts, 1-row totals, HUGEINT-promoted balance product.
ORACLES["ivf_list_balance_audit"] = f"""
WITH lists AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs
  FROM embeddings GROUP BY 1
),
totals AS (
  SELECT CAST(SUM(n_vecs) AS BIGINT) AS total,
         CAST(COUNT(*) AS BIGINT) AS n_lists
  FROM lists
)
SELECT CAST(label AS BIGINT) AS label, n_vecs, n_lists, total,
       {_rrh("n_vecs * 100", "GREATEST(total, 1)", 4)} AS list_share_pct,
       {_rrh("CAST(n_vecs AS HUGEINT) * n_lists * 100",
             "GREATEST(total, 1)", 2)} AS balance_pct
FROM lists, totals ORDER BY label
"""

# Twin of operators/corpus.py:pack_budget_sweep — md5 lane assignment,
# exact ceil shard bills per lane, per-doc over-budget counts, 4-row join.
from inde1_spark.operators.corpus import PACK_BUDGET_GRID, PACK_PACKERS  # noqa: E402

ORACLES["pack_budget_sweep"] = f"""
WITH base AS (
  SELECT CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
              AS BIGINT) AS n_tok,
         {_hash_bucket_sql('doc_id', PACK_PACKERS)} AS packer
  FROM documents
),
lanes AS (
  SELECT packer, CAST(SUM(n_tok) AS BIGINT) AS lane_tokens
  FROM base GROUP BY 1
),
per_budget AS (
  SELECT CAST(b AS BIGINT) AS budget,
         CAST(COUNT(*) AS BIGINT) AS n_lanes,
         CAST(SUM(lane_tokens) AS BIGINT) AS total_tokens,
         CAST(SUM((lane_tokens + CAST(b AS BIGINT) - 1) // CAST(b AS BIGINT))
              AS BIGINT) AS n_shards
  FROM lanes, UNNEST([{', '.join(str(b) for b in PACK_BUDGET_GRID)}]) AS u(b)
  GROUP BY 1
),
overs AS (
  SELECT CAST(b AS BIGINT) AS budget,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN n_tok > CAST(b AS BIGINT) THEN 1 ELSE 0 END)
              AS BIGINT) AS n_docs_over
  FROM base, UNNEST([{', '.join(str(b) for b in PACK_BUDGET_GRID)}]) AS u(b)
  GROUP BY 1
)
SELECT p.budget, p.n_lanes, o.n_docs, p.total_tokens, p.n_shards,
       p.n_shards * p.budget - p.total_tokens AS slack_tokens,
       {_rrh("p.total_tokens * 100", "GREATEST(p.n_shards * p.budget, 1)", 2)}
         AS fill_pct,
       o.n_docs_over,
       {_rrh("o.n_docs_over * 100", "GREATEST(o.n_docs, 1)", 4)}
         AS over_doc_pct
FROM per_budget p JOIN overs o ON o.budget = p.budget
ORDER BY p.budget
"""
