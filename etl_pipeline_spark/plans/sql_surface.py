"""Pure-SQL query surface — one SQL text, two engines.

The DataFrame plans elsewhere prove the programmatic API; this module
proves the `spark.sql(...)` path a reference user migrating ad-hoc SQL
would take: the star schema registers as temp views and the SAME ANSI SQL
string is both the Spark query and the DuckDB oracle — text-identical
differential testing, the strongest parity statement the contract allows.

Each query here also pins a plan shape the DataFrame modules don't:
- NOT IN over a subquery → Spark's null-aware anti join (the three-valued
  NULL semantics that a plain left-anti join gets wrong);
- correlated scalar subquery in the SELECT list → decorrelated to an
  outer-joined aggregate by Catalyst (reference analog: per-row lookup
  loops, etl/mapping.py:128-170).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from etl_pipeline_spark.plans.registry import register
from etl_pipeline_spark.sources.star import TABLES, load_table

# A star table is referenced when its name appears as a word of the SQL
# text. Over-matching (a name in a comment) only registers a spare view.
_TABLE_WORD = re.compile(r"\b(?:" + "|".join(TABLES) + r")\b", re.IGNORECASE)


def register_views(spark: SparkSession, sf_dir: str, sql: str) -> None:
    """Point a temp view at ``sf_dir`` for each star table ``sql`` names.

    Registered on every call: a caller may have replaced any of these views
    with its own frame since the last query, and ``load_table`` is memoized.
    """
    for name in sorted({w.lower() for w in _TABLE_WORD.findall(sql)}):
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def _sql_query(name: str, sql: str, doc: str, tags: tuple[str, ...]):
    @register(name, oracle=sql, doc=doc, tags=tags)
    def fn(spark: SparkSession, sf_dir: str, _sql: str = sql) -> DataFrame:
        register_views(spark, sf_dir, _sql)
        return spark.sql(_sql)

    return fn


# Null-aware anti join: NOT IN must treat a NULL in the subquery result as
# "unknown" (empty result), which Spark plans as NullAwareAntiJoin — a
# different (and costlier) operator than the left-anti of NOT EXISTS. The
# subquery column here is non-null in practice, but the PLAN must still be
# null-safe because the schema allows nulls.
_sql_query(
    "sql_not_in_null_aware",
    """
        SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM customer
        WHERE c_custkey NOT IN (
            SELECT o_custkey FROM orders WHERE o_totalprice > 400000
        )
        GROUP BY c_mktsegment
    """,
    doc="customers with no jumbo order, per segment (null-aware anti join)",
    tags=("sql", "anti", "subquery"),
)

# Correlated scalar subquery in the projection — decorrelates to a
# left-outer-joined count aggregate; COALESCE supplies the zero row.
_sql_query(
    "sql_correlated_scalar_count",
    """
        SELECT c_custkey,
               COALESCE((SELECT CAST(COUNT(*) AS BIGINT) FROM orders
                         WHERE o_custkey = c_custkey
                           AND o_orderstatus = 'O'), 0) AS n_open_orders
        FROM customer
        WHERE c_custkey < 100
    """,
    doc="per-customer open-order count via correlated scalar subquery",
    tags=("sql", "subquery"),
)

# Derived table + windowed dedup in one SQL text — keep-first-per-key, the
# relational statement of the reference's "first file wins" staging rule.
_sql_query(
    "sql_keep_first_per_key",
    """
        SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS totalprice
        FROM (
            -- explicit NULLS LAST (r11 nulls probe): Spark defaults ASC to
            -- NULLS FIRST, DuckDB to NULLS LAST — an undated order would be
            -- "first" in one engine and last in the other. Convention: an
            -- undated order is never first unless the key has no dated one.
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate NULLS LAST, o_orderkey) AS rn
            FROM orders
        )
        WHERE rn = 1 AND o_custkey < 300
    """,
    doc="first order per customer (windowed keep-first dedup), pure SQL",
    tags=("sql", "window", "dedupe"),
)


# Equal-width histogram as portable arithmetic (floor(v/w)) — width_bucket
# exists in neither engine identically, floor-division exists in both. At
# scale this is one map-side-combinable agg; no row explosion.
_sql_query(
    "sql_histogram_event_values",
    """
        -- lo_edge's INT * 25.0 runs in DECIMAL on the Spark side — exempt
        -- from the decimal-drift class because int × 25.0 at 2 dp is EXACT
        -- in both decimal and double for any |bin| < 2^45, so the engines
        -- cannot diverge (pinned by the decimal-arithmetic lint's exemption
        -- list in tests/test_random_fixture_sweep.py)
        SELECT CAST(floor(value / 25.0) AS INT) AS bin,
               ROUND(CAST(floor(value / 25.0) AS INT) * 25.0, 2) AS lo_edge,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               ROUND(SUM(value), 2) AS sum_value
        -- value IS NOT NULL (r11 nulls probe): a missing value has no bin —
        -- the NULL-bin row's lo_edge surfaces as DECIMAL None on the Spark
        -- side vs double NaN on DuckDB's; a histogram excludes missing values
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2
    """,
    doc="equal-width value histogram (20 x 25.0 bins) over events",
    tags=("sql", "agg", "histogram"),
)

# Bag-semantics set ops: INTERSECT ALL / EXCEPT ALL preserve multiplicity
# (a customer ordering twice in 1996 and once in 1997 appears once in the
# intersection, once in the difference) — different operators than the
# set-semantics UNION/EXCEPT already covered in relational.py.
_sql_query(
    "sql_intersect_except_all",
    """
        SELECT 'both_years' AS op, o_custkey FROM (
          SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
          INTERSECT ALL
          SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        )
        UNION ALL
        SELECT 'only_1996' AS op, o_custkey FROM (
          SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
          EXCEPT ALL
          SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        )
    """,
    doc="bag-multiplicity INTERSECT ALL / EXCEPT ALL over order years",
    tags=("sql", "setops"),
)

# Standard-SQL UNPIVOT (wide -> long), the inverse of the PIVOT query in
# relational.py; both engines accept the SQL-standard clause.
_sql_query(
    "sql_unpivot_status_totals",
    """
        WITH wide AS (
          SELECT o_custkey,
                 ROUND(SUM(CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END), 2) AS open_total,
                 ROUND(SUM(CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END), 2) AS finished_total,
                 ROUND(SUM(CASE WHEN o_orderstatus = 'P' THEN o_totalprice ELSE 0 END), 2) AS partial_total
          FROM orders WHERE o_custkey < 200 GROUP BY o_custkey
        )
        SELECT o_custkey, status_metric, amount
        FROM wide UNPIVOT (amount FOR status_metric IN (open_total, finished_total, partial_total))
    """,
    doc="UNPIVOT wide per-status totals back to long form",
    tags=("sql", "unpivot"),
)

# LAST_VALUE ... IGNORE NULLS carry-forward — the one surface where the
# engines' SQL dialects diverge (Spark: IGNORE NULLS after the call;
# DuckDB: inside the argument list), so the texts are separate but the
# semantics are identical: carry each user's last purchase value forward
# onto every subsequent event.
_IGN_SELECT = """
        SELECT event_id, user_id,
               COALESCE(ROUND(LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END{spark_mark}){duck_mark}
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2), -1.0)
                   AS last_purchase_value
        -- ts IS NOT NULL (r11 nulls probe): an untimestamped event cannot
        -- sit on the carry-forward timeline — Spark would order it first,
        -- DuckDB last, shifting every subsequent carry for that user
        FROM events WHERE user_id < 50 AND ts IS NOT NULL
"""


@register(
    "sql_last_value_ignore_nulls",
    oracle=_IGN_SELECT.format(spark_mark=" IGNORE NULLS", duck_mark=""),
    doc="per-user last-purchase carry-forward via LAST_VALUE IGNORE NULLS",
    tags=("sql", "window"),
)
def sql_last_value_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    sql = _IGN_SELECT.format(spark_mark="", duck_mark=" IGNORE NULLS")
    register_views(spark, sf_dir, sql)
    return spark.sql(sql)


# Arg-max aggregate (max_by): deterministic even under balance ties via an
# exact integer composite ordering key (2-dp money scaled + key) — struct
# ordering inside max_by isn't portable across engines.
_sql_query(
    "sql_top_customer_per_segment",
    """
        SELECT c_mktsegment,
               max_by(c_custkey,
                      CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) * 100000000 + c_custkey)
                   AS top_custkey,
               ROUND(MAX(c_acctbal), 2) AS top_balance
        FROM customer GROUP BY c_mktsegment
    """,
    doc="arg-max per group: highest-balance customer per market segment",
    tags=("sql", "agg", "argmax"),
)

# Calendar rollup + trailing moving average: months as portable yyyymm ints
# (date_trunc would emit timestamps — LTZ-hazardous in Spark, and the
# contract bans LTZ output).
_sql_query(
    "sql_monthly_revenue_ma3",
    """
        WITH monthly AS (
          -- o_orderdate IS NOT NULL (r11 nulls probe): an undated order has
          -- no month — the NULL ym group would lead the trailing window in
          -- Spark (NULLS FIRST) and trail it in DuckDB (NULLS LAST)
          SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
                 ROUND(SUM(o_totalprice), 2) AS revenue
          FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
        )
        SELECT ym, revenue,
               -- exact-cents windowed mean (the q1 device): the trailing
               -- 3-month mean of 2-dp revenues is a cents/(100·k) rational
               -- that can land ON a 2-dp midpoint, where the engines'
               -- native ROUND conventions disagree; the FLOOR half-up
               -- chain over the exact BIGINT window sum is bit-identical
               FLOOR(SUM(CAST(ROUND(revenue * 100, 0) AS BIGINT)) OVER (
                         ORDER BY ym ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                     * 1.0e0
                     / COUNT(*) OVER (
                         ORDER BY ym ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                     + 0.5e0) / 100.0e0
                   AS revenue_ma3
        FROM monthly
    """,
    doc="monthly revenue with 3-month trailing moving average",
    tags=("sql", "window", "timeseries"),
)


# Funnel analysis (view -> click -> purchase): first-touch timestamps per
# user via conditional MIN, strict ordering between stages. One shuffle
# (groupBy user), counts map-side-combinable — the standard event-funnel
# shape at any scale.
_sql_query(
    "sql_funnel_view_click_purchase",
    """
        SELECT
          CAST(COUNT(*) AS BIGINT) AS n_users,
          CAST(SUM(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS viewed,
          CAST(SUM(CASE WHEN first_click > first_view THEN 1 ELSE 0 END) AS BIGINT) AS clicked_after_view,
          CAST(SUM(CASE WHEN first_purchase > first_click AND first_click > first_view THEN 1 ELSE 0 END) AS BIGINT) AS purchased_after_both
        FROM (
          SELECT user_id,
                 MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
                 MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
                 MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
          FROM events GROUP BY user_id
        )
    """,
    doc="three-stage first-touch funnel with strict stage ordering",
    tags=("sql", "funnel", "events"),
)

# EWMA per user — a RECURSIVE accumulator no window frame expresses; both
# engines fold an ordered array with a lambda (Spark `aggregate`, DuckDB
# `list_reduce`), seeded with the first observation so the fold sequence —
# and therefore every floating-point operation — is identical. The texts
# differ only in list-building dialect.
_EWMA_DUCK = """
        WITH arrs AS (
          -- ts IS NOT NULL (r11 nulls probe): an untimestamped event has
          -- no fold position — DuckDB's list ORDER BY seats the NULL last
          -- while Spark's array_sort over the (ts, ...) struct seats it
          -- first, reordering the whole recursive fold
          SELECT user_id, list(value ORDER BY ts, event_id) AS vals
          FROM events
          WHERE user_id < 100 AND ts IS NOT NULL
          GROUP BY user_id
        )
        SELECT user_id,
               CAST(len(vals) AS BIGINT) AS n_events,
               ROUND(list_reduce(vals, (acc, x) -> acc * 0.9 + x * 0.1), 6) AS ewma_value
        FROM arrs
"""

_EWMA_SPARK = """
        WITH ordered AS (
          -- ts IS NOT NULL: mirror of the oracle's fold-position rule
          SELECT user_id, array_sort(collect_list(struct(ts, event_id, value))) AS evs
          FROM events
          WHERE user_id < 100 AND ts IS NOT NULL
          GROUP BY user_id
        ),
        arrs AS (SELECT user_id, transform(evs, e -> e.value) AS vals FROM ordered)
        SELECT user_id,
               CAST(size(vals) AS BIGINT) AS n_events,
               ROUND(aggregate(slice(vals, 2, size(vals) - 1), element_at(vals, 1),
                               (acc, x) -> acc * 0.9D + x * 0.1D), 6) AS ewma_value
        FROM arrs
"""


@register(
    "sql_ewma_user_values",
    oracle=_EWMA_DUCK,
    doc="per-user EWMA (alpha=0.1) as an ordered array fold",
    tags=("sql", "timeseries", "lambda"),
)
def sql_ewma_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, _EWMA_SPARK)
    return spark.sql(_EWMA_SPARK)


# Equi-depth histogram — the quantile-boundary partner to the equal-width
# one above: ntile over a total order. NOTE the single-partition window is
# intentional here (exact global quantiles need a total order); the
# approximate, scalable form is approx_percentile/percentile_event_values
# elsewhere in the registry.
_sql_query(
    "sql_equidepth_value_deciles",
    """
        SELECT bucket,
               ROUND(MIN(value), 2) AS lo,
               ROUND(MAX(value), 2) AS hi,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM (
          -- value IS NOT NULL (r11 nulls probe): a missing value has no
          -- rank — Spark's NULLS FIRST would push it into bucket 1 and
          -- DuckDB's NULLS LAST into bucket 10, shifting every boundary
          SELECT value, ntile(10) OVER (ORDER BY value, event_id) AS bucket
          FROM events WHERE value IS NOT NULL
        )
        GROUP BY bucket
    """,
    doc="exact decile boundaries of event values via ntile",
    tags=("sql", "histogram", "window"),
)


# PII redaction — the compliance pass every training corpus needs before
# sharding. Patterns stay in the backslash-free regex subset both engines
# parse identically (Spark treats backslashes in string literals as
# escapes; DuckDB doesn't — `[.]` sidesteps the divergence). Dialect split
# is mechanical: extract-all arity and DuckDB's 'g' flag. Verified to the
# md5 of the redacted text, not just match counts.
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
_PII_URL = "https?://[^ ]+"


def _pii_sql(engine: str) -> str:
    extract = (
        "len(regexp_extract_all(t, '{p}'))"
        if engine == "duck"
        else "size(regexp_extract_all(t, '{p}', 0))"
    )
    g = ", 'g'" if engine == "duck" else ""
    return f"""
        WITH enriched AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS STRING) ||
                 '@example.com or https://site.example/' || CAST(doc_id AS STRING) AS t
          FROM documents WHERE doc_id < 50
        )
        SELECT doc_id,
               CAST({extract.format(p=_PII_EMAIL)} AS BIGINT) AS n_emails,
               CAST({extract.format(p=_PII_URL)} AS BIGINT) AS n_urls,
               md5(regexp_replace(regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>'{g}),
                                  '{_PII_URL}', '<URL>'{g})) AS redacted_hash
        FROM enriched
    """


@register(
    "sql_pii_redaction",
    oracle=_pii_sql("duck"),
    doc="email/URL redaction with injected PII, verified to the redacted md5",
    tags=("sql", "text", "pii"),
)
def sql_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    sql = _pii_sql("spark")
    register_views(spark, sf_dir, sql)
    return spark.sql(sql)


# Exact-interpolation percentile fences (percentile_cont WITHIN GROUP is
# the same ANSI text in both engines): per-priority Q1/Q3 from a 5-row
# aggregate, broadcast back against orders, outliers above Q3 + 0.5·IQR.
# The fence table is group-count-sized — the join never shuffles orders.
_sql_query(
    "sql_outlier_iqr_fences",
    """
        WITH fences AS (
            SELECT o_orderpriority,
                   percentile_cont(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS q1,
                   percentile_cont(0.75) WITHIN GROUP (ORDER BY o_totalprice) AS q3
            FROM orders GROUP BY o_orderpriority
        )
        SELECT f.o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_outliers,
               -- the fence 1.5*q3 - 0.5*q1 is a DYADIC rational on the
               -- eighth-cent lattice (quarter-cent percentiles * 0.5)
               -- that can land exactly ON a .5-cent midpoint, where the
               -- engines' native ROUND conventions disagree (probe-seed
               -- find, the quantile_sketch_values class) — portable
               -- FLOOR half-up instead, identical doubles in both
               FLOOR((f.q3 + 0.5 * (f.q3 - f.q1)) * 100.0e0 + 0.5e0)
                   / 100.0e0 AS upper_fence,
               ROUND(MAX(o.o_totalprice), 2) AS max_outlier
        FROM fences f JOIN orders o ON o.o_orderpriority = f.o_orderpriority
        WHERE o.o_totalprice > f.q3 + 0.5 * (f.q3 - f.q1)
        GROUP BY f.o_orderpriority, f.q3, f.q1
    """,
    doc="per-priority IQR outlier fences via exact interpolated percentiles",
    tags=("sql", "percentile", "outliers"),
)

# NTILE bucketing — equal-frequency quartile assignment with a total
# deterministic order (tiebreak on the key).
_sql_query(
    "sql_ntile_balance_quartiles",
    """
        -- c_acctbal IS NOT NULL (r11 nulls probe): a missing balance has
        -- no quartile — Spark's NULLS FIRST would seat it in quartile 1,
        -- DuckDB's NULLS LAST in quartile 4, shifting every boundary
        SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal,
               CAST(NTILE(4) OVER (ORDER BY c_acctbal, c_custkey) AS BIGINT) AS quartile
        FROM customer
        WHERE c_mktsegment = 'BUILDING' AND c_acctbal IS NOT NULL
    """,
    doc="equal-frequency account-balance quartiles (NTILE)",
    tags=("sql", "window"),
)

# Order-insensitive table fingerprint: SUM over a per-row 32-bit hash
# (md5 hex decoded via the shared instr chain — no engine-specific hash
# builtin). Verifies replica/migration equality of a 100 TB table with one
# commutative aggregate — no sort, no pairwise compare; any single-row
# difference shifts the checksum.
_CHECKSUM_HEX = " + ".join(
    "CAST(instr('0123456789abcdef', substr(h, %d, 1)) - 1 AS BIGINT) * %d"
    % (i + 1, 16 ** (7 - i))
    for i in range(8)
)
_sql_query(
    "sql_table_checksum_orders",
    f"""
        WITH hashed AS (
            SELECT md5(o_orderkey || '|' || o_custkey || '|' ||
                       o_orderstatus || '|' || o_orderdate) AS h
            FROM orders
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM({_CHECKSUM_HEX}) AS BIGINT) AS checksum
        FROM hashed
    """,
    doc="order-insensitive row-hash fingerprint of the orders table",
    tags=("sql", "checksum", "agg"),
)


# Correlated LATERAL subquery with ORDER BY + LIMIT — per-customer top-2
# orders, the "top-N per group" stated as a lateral join rather than a
# window. Catalyst decorrelates the LIMIT subquery (DomainJoin → ranked
# window under the hood) instead of executing it per outer row as the
# reference's per-row lookup loops would (etl/mapping.py:128-170).
_sql_query(
    "sql_lateral_top2_orders",
    """
        SELECT n.n_name, t.o_orderkey, ROUND(t.o_totalprice, 2) AS totalprice
        FROM nation n
        JOIN customer c ON c.c_nationkey = n.n_nationkey,
        LATERAL (
            SELECT o_orderkey, o_totalprice
            FROM orders
            WHERE o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 2
        ) t
        WHERE n.n_name IN ('NATION_3', 'NATION_7')
    """,
    doc="top-2 orders per customer via correlated LATERAL LIMIT subquery",
    tags=("sql", "lateral", "subquery", "topk"),
)


# Conditional aggregation with the ANSI FILTER clause — one scan computes
# per-status counts and a conditional average (the SQL statement of the
# reference's per-status Counter rollups, etl/utils/run_summary.py:12-31).
_sql_query(
    "sql_conditional_agg_filter",
    """
        SELECT o_orderpriority,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_finished,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_open,
               -- exact-cents conditional mean (the q1 device); NULLIF
               -- keeps a no-'F' group NULL like AVG FILTER did, instead
               -- of an ANSI zero-divide
               FLOOR(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                         FILTER (WHERE o_orderstatus = 'F') * 1.0e0
                     / NULLIF(COUNT(*) FILTER (WHERE o_orderstatus = 'F'), 0)
                     + 0.5e0) / 100.0e0
                   AS avg_finished_price
        FROM orders GROUP BY o_orderpriority
    """,
    doc="per-priority conditional aggregates via ANSI FILTER clause",
    tags=("sql", "agg"),
)

# Fuzzy string reconciliation — the generalized form of the reference's
# T6 fuzzy source↔FC matching (substring heuristics, etl/models.py:144-237)
# with an edit-distance predicate. Scale shape: project to DISTINCT names
# BEFORE the quadratic comparison — the vocabulary (64 names here) is what
# gets squared, never the table; at 100 TB the distinct-project is the
# shuffle and the pair join is a broadcast nested loop over KBs.
_sql_query(
    "sql_fuzzy_name_pairs",
    """
        WITH names AS (SELECT DISTINCT p_name FROM part)
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
        FROM names a JOIN names b ON a.p_name < b.p_name
        WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 3
    """,
    doc="near-identical part-name pairs by edit distance over the distinct vocabulary",
    tags=("sql", "fuzzy", "dedup"),
)

# Per-group z-score normalization — the feature-scaling primitive for
# training-data prep: a group-count-sized stats aggregate broadcast back
# against the fact table (no second shuffle of events).
_sql_query(
    "sql_zscore_normalize_events",
    """
        WITH stats AS (
            SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sigma
            FROM events GROUP BY event_type
        )
        SELECT e.event_id, e.event_type,
               -- NULLIF: a constant-valued group has sigma 0 (n>1) — ANSI
               -- Spark raises where DuckDB fabricates inf; z is undefined,
               -- NULL in both (r11 probe tiny877). + 0.0e0 normalizes IEEE
               -- -0.0 at the zero-z boundary (the crosscorr bug-42 class).
               ROUND((e.value - s.mu) / NULLIF(s.sigma, 0), 6) + 0.0e0 AS value_z
        FROM events e JOIN stats s ON e.event_type = s.event_type
    """,
    doc="per-event-type z-score normalization (broadcast stats join)",
    tags=("sql", "agg", "feature-prep"),
)


# Regression aggregates — distributed least squares from one pass of
# commutative moments (regr_slope/intercept = the normal equations over
# Σx, Σy, Σxy, Σx²; partial agg makes this a single map-side-combined
# shuffle at any scale).
_sql_query(
    "sql_regression_price_trend",
    """
        WITH m AS (
            -- moment aggregates only (regr_sxx/sxy/syy/avgx/avgy never
            -- divide); the native regr_slope/corr aggregates divide
            -- INSIDE the aggregation, so a zero-variance group (one
            -- order, or all-equal custkeys) is an ANSI crash in Spark
            -- that no outer CASE can guard (probe-found on a truncated
            -- tiny corpus). Degenerate groups are NULL via NULLIF in
            -- both engines.
            SELECT o_orderpriority,
                   regr_sxx(o_totalprice, o_custkey) AS sxx,
                   regr_sxy(o_totalprice, o_custkey) AS sxy,
                   regr_syy(o_totalprice, o_custkey) AS syy,
                   regr_avgx(o_totalprice, o_custkey) AS ax,
                   regr_avgy(o_totalprice, o_custkey) AS ay
            FROM orders GROUP BY o_orderpriority
        )
        SELECT o_orderpriority,
               -- + 0.0e0 normalizes IEEE -0.0: a zero covariance reaches
               -- the round as ±1e-18 depending on engine fp association
               -- (the crosscorr bug-42 class)
               ROUND(sxy / NULLIF(sxx, 0), 6) + 0.0e0 AS slope,
               ROUND(ay - (sxy / NULLIF(sxx, 0)) * ax, 6) + 0.0e0 AS intercept,
               ROUND(sxy / NULLIF(SQRT(sxx * syy), 0), 6) + 0.0e0 AS r
        FROM m
    """,
    doc="per-priority least-squares fit via regr_* moment aggregates",
    tags=("sql", "stats", "agg"),
)

# Deterministic mode per group: engines break mode() ties arbitrarily, so
# the most frequent value is stated as count-then-value arg-max (ties go
# to the smallest value) — reproducible on any engine, any partitioning.
_sql_query(
    "sql_mode_priority_by_status",
    """
        WITH c AS (
            SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
            FROM orders GROUP BY 1, 2
        ),
        r AS (
            -- NULLS LAST tiebreak (r11 nulls probe): a missing priority
            -- stays a countable category, but on a count tie Spark's
            -- NULLS-FIRST default would crown it the mode while DuckDB's
            -- NULLS-LAST crowns the smallest real value
            SELECT o_orderstatus, o_orderpriority, cnt,
                   ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                      ORDER BY cnt DESC,
                                               o_orderpriority NULLS LAST) AS rn,
                   SUM(cnt) OVER (PARTITION BY o_orderstatus) AS n_total
            FROM c
        )
        SELECT o_orderstatus, o_orderpriority AS top_priority,
               CAST(n_total AS BIGINT) AS n
        FROM r WHERE rn = 1
    """,
    doc="deterministic most-frequent priority per status (tie-break: smallest value)",
    tags=("sql", "stats", "agg"),
)

# Shannon entropy of a categorical distribution — the column-level
# information content signal for profiling/drift dashboards.
_sql_query(
    "sql_entropy_event_types",
    """
        WITH p AS (
            SELECT event_type,
                   -- 1.0e0 (DOUBLE): a bare 1.0 keeps Spark's COUNT(*)
                   -- chain in DECIMAL through the division (the PSI
                   -- decimal-drift class, ~1e-22 here but type-divergent)
                   COUNT(*) * 1.0e0 / (SELECT COUNT(*) FROM events) AS prob
            FROM events GROUP BY event_type
        )
        SELECT ROUND(SUM(-prob * LN(prob)), 6) AS shannon_entropy FROM p
    """,
    doc="Shannon entropy of the event-type distribution",
    tags=("sql", "stats", "quality"),
)

# Population-stability-index drift detection: equal-width bins over the
# global value range, reference vs current split (deterministic id
# parity stands in for two time slices), Laplace-smoothed probabilities
# so empty bins stay finite. Everything is count aggregates + arithmetic:
# two shuffles total ((type, bin) then type), volume = distinct bins, not
# rows — drift over 100 TB costs two tiny aggregates per monitored column.
_sql_query(
    "sql_drift_psi_event_values",
    """
        WITH stats AS (
            SELECT MIN(value) AS lo, MAX(value) AS hi FROM events
        ),
        binned AS (
            SELECT event_type,
                   -- NULLIF + COALESCE: a constant-valued (or single-row)
                   -- corpus has hi = lo, so the bin width is 0 — every
                   -- row lands in bin 0 instead of an ANSI 0-divide
                   -- (one-row probe, r11)
                   LEAST(9, GREATEST(0, COALESCE(
                       CAST(FLOOR((value - lo)
                                  / NULLIF((hi - lo) / 10, 0)) AS INT),
                       0))) AS bin,
                   event_id % 2 AS half
            FROM events, stats
        ),
        counts AS (
            SELECT event_type, bin,
                   COUNT(*) FILTER (WHERE half = 0) AS n_ref,
                   COUNT(*) FILTER (WHERE half = 1) AS n_cur
            FROM binned GROUP BY 1, 2
        ),
        tot AS (
            SELECT event_type,
                   SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur, COUNT(*) AS nbins
            FROM counts GROUP BY 1
        )
        SELECT c.event_type,
               -- 0.5e0 (DOUBLE), NOT 0.5: a bare decimal literal over these
               -- all-integer columns keeps Spark in truncating DECIMAL
               -- arithmetic through the division while DuckDB computes
               -- doubles — a 1e-8-level drift that flips the 6th rounded
               -- decimal on some corpora (found by the randomized-fixture
               -- sweep; the seed-42 corpus happened to round identically)
               ROUND(SUM(
                   ((c.n_ref + 0.5e0) / (t.t_ref + 0.5e0 * t.nbins)
                    - (c.n_cur + 0.5e0) / (t.t_cur + 0.5e0 * t.nbins))
                   * LN(((c.n_ref + 0.5e0) / (t.t_ref + 0.5e0 * t.nbins))
                        / ((c.n_cur + 0.5e0) / (t.t_cur + 0.5e0 * t.nbins)))
               ), 6) AS psi,
               CAST(MAX(t.nbins) AS BIGINT) AS n_bins
        FROM counts c JOIN tot t ON c.event_type = t.event_type
        GROUP BY c.event_type
    """,
    doc="population-stability-index drift per event type (smoothed equal-width bins)",
    tags=("sql", "stats", "drift", "quality"),
)
