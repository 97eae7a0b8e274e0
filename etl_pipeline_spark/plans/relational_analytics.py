"""Round-4 relational/graph/timeseries analytics wave: link prediction,
entity resolution, gaps-and-islands interval merging, seasonal baselines,
deterministic Poisson bootstrap, windowed HLL distinct, salted skew joins,
k-anonymity auditing, and association rules.

Beyond-reference components (the reference pipeline has none of these);
each is the Spark-first relational expression of a standard warehouse /
data-science primitive:

- Adamic–Adar link prediction (Adamic & Adar 2003) — common-neighbor
  scoring over the top-k-sparsified co-supplier graph;
- multi-rule entity resolution — union of match-rule edge sets closed by
  distributed connected components, canonical = min id;
- interval merge (gaps-and-islands) — overlapping activity intervals
  coalesced per user with two window passes;
- seasonal baseline — hour-of-day seasonal index per event type, the
  deseasonalization every ops dashboard needs;
- Poisson bootstrap CI (Chamandy et al. 2012, "Estimating uncertainty
  for massive data streams") — B replicates in ONE pass: per-row
  Poisson(1) weights from the deterministic portable hash, no
  resampling shuffle; CI from order statistics (no interpolation — the
  only quantile form two engines reproduce bit-for-bit);
- windowed distinct via HLL register cells — per-window cardinality
  whose 24h rollup MERGES the 6h cells (max per register) instead of
  re-scanning: the mergeability that makes sketch state reusable;
- salted skew join — the explicit skew-mitigation pattern
  (operators/skew.py), value-checked against the plain join it replaces;
- k-anonymity audit — equivalence-class sizes over quasi-identifiers,
  the governance gate before any data release;
- association rules (support/confidence/lift) over per-user event-type
  baskets — market-basket co-occurrence with a support floor.

Floats round 6 dp (money 2 dp, bootstrap 4 dp) on identical
parenthesization; every query carries a complete-output DuckDB oracle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_pipeline_spark.operators.packing import range_bucketed_rank
from etl_pipeline_spark.plans.registry import register
from etl_pipeline_spark.sources.star import load_table
from etl_pipeline_spark.utils.parallelism import fan_out_scan
from etl_pipeline_spark.utils.session_cache import session_memo

# ---------------------------------------------------------------------------
# Adamic–Adar link prediction over the top-3 co-supplier graph: for every
# non-edge pair (u, v) with ≥1 common neighbor, score = Σ_z 1/ln(deg z).
# The wedge join is the same degree-bounded self-join triangle counting
# uses (|E| ≤ 3·|V| after sparsification); existing edges drop via one
# anti-join; top-50 by (rounded score DESC, u, v) via orderBy+limit =
# TakeOrderedAndProject. Common neighbors always have deg ≥ 2, so
# ln(deg) > 0 — the deg ≥ 2 filter makes that explicit.
# ---------------------------------------------------------------------------
_AA_TOPK = 50


def _aa_oracle() -> str:
    from etl_pipeline_spark.plans.corpus_quality import COSUPPLIER_EDGE_CTES

    return f"""
        WITH {COSUPPLIER_EDGE_CTES},
        sym AS (
            SELECT src, dst FROM edges
            UNION ALL
            SELECT dst AS src, src AS dst FROM edges
        ),
        deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
                FROM sym GROUP BY 1),
        wedges AS (
            SELECT s1.src AS node_a, s2.src AS node_b, s1.dst AS z
            FROM sym s1 JOIN sym s2
              ON s1.dst = s2.dst AND s1.src < s2.src
            WHERE NOT EXISTS (
                SELECT 1 FROM edges e
                WHERE e.src = s1.src AND e.dst = s2.src
            )
        )
        SELECT w.node_a, w.node_b,
               CAST(COUNT(*) AS BIGINT) AS n_common,
               ROUND(SUM(1.0 / LN(d.deg)), 6) AS aa_score
        FROM wedges w JOIN deg d ON d.node = w.z AND d.deg >= 2
        GROUP BY 1, 2
        ORDER BY aa_score DESC, node_a ASC, node_b ASC
        LIMIT {_AA_TOPK}
    """


@register(
    "adamic_adar_link_prediction",
    oracle=_aa_oracle(),
    tags=("graph", "similarity"),
)
def adamic_adar_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_spark.operators.graph import symmetrize
    from etl_pipeline_spark.plans.corpus_quality import cosupplier_edges

    edges = cosupplier_edges(spark, sf_dir)
    sym = symmetrize(edges)
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    a = sym.select(F.col("src").alias("node_a"), F.col("dst").alias("z"))
    b = sym.select(F.col("src").alias("node_b"), F.col("dst").alias("z"))
    wedges = a.join(b, ["z"]).filter(F.col("node_a") < F.col("node_b"))
    non_edges = wedges.join(
        edges,
        (edges["src"] == wedges["node_a"]) & (edges["dst"] == wedges["node_b"]),
        "anti",
    )
    return (
        non_edges.join(deg, non_edges["z"] == deg["node"])
        .filter(F.col("deg") >= 2)
        .groupBy("node_a", "node_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.round(F.sum(1.0 / F.log("deg")), 6).alias("aa_score"),
        )
        .orderBy(F.desc("aa_score"), F.asc("node_a"), F.asc("node_b"))
        .limit(_AA_TOPK)
    )


# ---------------------------------------------------------------------------
# Multi-rule entity resolution over customers + injected variant copies
# (every third customer reappears with an upper-cased name and shifted
# id — the raw table has no duplicates to resolve). Match rules:
#   r1: case-insensitive exact name;
#   r2: same (nationkey, acctbal) — the "same account" heuristic.
# Edge sets union (any rule links) and close under distributed connected
# components; canonical entity = min id. The oracle closes the same
# edges with a recursive CTE (the dedup_cluster_assign device).
# Unmatched singletons carry no edge and are not emitted — the report
# lists only entities that RESOLVED to something.
# ---------------------------------------------------------------------------
_ER_SHIFT = 1_000_000


# the WITH RECURSIVE body shared by entity_resolution_customers and its
# precision/recall eval (er_precision_recall) — one definition so the
# two oracles can never drift apart
# corpus + blocking-rule candidate pairs only (no closure) — shared with
# blocking_quality_er, which grades the candidate set itself
_ER_PAIR_CTES = f"""
        corpus AS (
            SELECT c_custkey AS id, c_name, c_nationkey, c_acctbal
            FROM customer
            UNION ALL
            SELECT c_custkey + {_ER_SHIFT} AS id, upper(c_name) AS c_name,
                   c_nationkey, c_acctbal
            FROM customer WHERE c_custkey % 3 = 0
        ),
        e1 AS (
            SELECT a.id AS src, b.id AS dst
            FROM corpus a JOIN corpus b
              ON lower(a.c_name) = lower(b.c_name) AND a.id < b.id
        ),
        e2 AS (
            SELECT a.id AS src, b.id AS dst
            FROM corpus a JOIN corpus b
              ON a.c_nationkey = b.c_nationkey
             AND a.c_acctbal = b.c_acctbal AND a.id < b.id
        ),
        cand AS (
            SELECT src, dst FROM e1 UNION SELECT src, dst FROM e2
        )"""

_ER_COMP_CTES = f"""{_ER_PAIR_CTES},
        edges AS (
            SELECT src, dst FROM cand
            UNION
            SELECT dst AS src, src AS dst FROM cand
        ),
        reach(node, peer) AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.peer
        ),
        comp AS (
            SELECT node, LEAST(node, MIN(peer)) AS component
            FROM reach GROUP BY node
        )"""


def _er_oracle() -> str:
    return f"""
        WITH RECURSIVE
        {_ER_COMP_CTES}
        SELECT node                          AS entity_id,
               component                     AS canonical_id,
               CAST(node = component AS INT) AS is_canonical,
               CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT)
                                             AS cluster_size
        FROM comp
    """


@register(
    "entity_resolution_customers",
    oracle=_er_oracle(),
    tags=("dedup", "graph", "er"),
)
def entity_resolution_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _er_clusters(spark, sf_dir).select(
        F.col("doc_id").alias("entity_id"),
        F.col("cluster_id").alias("canonical_id"),
        "is_canonical",
        "cluster_size",
    )


@session_memo
def _er_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id, is_canonical, cluster_size) for the shared
    two-rule ER corpus — used by the resolver and its eval.

    Memoized + persisted per (session, sf_dir) like the edge relations:
    both consumers (entity_resolution_customers, er_precision_recall)
    otherwise re-run the candidate-pair build AND the iterative
    connected-components rounds; build() is pure in (spark, sf_dir), so
    reuse is semantically invisible."""
    from etl_pipeline_spark.operators.graph import cluster_assignments

    return cluster_assignments(_er_candidate_pairs(spark, sf_dir), "id_a", "id_b")


def _er_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (id_a < id_b) candidate pairs from the two blocking rules
    (case-folded name; (nationkey, acctbal)) over the shared ER corpus —
    exposed separately so blocking_quality_er can grade the candidate set
    itself (reduction ratio / pairs completeness) without re-stating the
    rules."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    # NOTE (r12, measured and REJECTED): rewriting the two blocking
    # self-joins with the grouped-pair device (and checkpointing the
    # corpus) measured WORSE (blocking_quality_er executor 0.83→1.70 s)
    # — same reason as cooccurrence_pairs (operators/graph.py): cheap
    # equality keys + tiny blocks make the sort-merge legs cheaper than
    # collect_list's ObjectHashAggregate. Kept as-is.
    corpus = cust.select(
        F.col("c_custkey").alias("id"), "c_name", "c_nationkey", "c_acctbal"
    ).unionByName(
        cust.filter(F.col("c_custkey") % 3 == 0).select(
            (F.col("c_custkey") + _ER_SHIFT).alias("id"),
            F.upper("c_name").alias("c_name"),
            "c_nationkey",
            "c_acctbal",
        )
    )
    a = corpus.select(
        F.col("id").alias("id_a"),
        F.lower("c_name").alias("name_a"),
        F.col("c_nationkey").alias("nk_a"),
        F.col("c_acctbal").alias("bal_a"),
    )
    b = corpus.select(
        F.col("id").alias("id_b"),
        F.lower("c_name").alias("name_b"),
        F.col("c_nationkey").alias("nk_b"),
        F.col("c_acctbal").alias("bal_b"),
    )
    e1 = a.join(
        b, (F.col("name_a") == F.col("name_b")) & (F.col("id_a") < F.col("id_b"))
    ).select("id_a", "id_b")
    e2 = a.join(
        b,
        (F.col("nk_a") == F.col("nk_b"))
        & (F.col("bal_a") == F.col("bal_b"))
        & (F.col("id_a") < F.col("id_b")),
    ).select("id_a", "id_b")
    return e1.unionByName(e2).distinct()


# ---------------------------------------------------------------------------
# Interval merge (gaps-and-islands): each event opens a 30-minute
# activity interval; overlapping/touching-from-inside intervals per user
# coalesce into islands. Island break = this event starts at/after the
# running max end of all previous intervals (two window passes over one
# user-keyed shuffle — the canonical sessionize-by-overlap, distinct
# from the gap-based sessionize which keys on inter-event spacing).
# Epoch-ns integer arithmetic throughout (timezone-proof).
# ---------------------------------------------------------------------------
_IV_NS = 30 * 60 * 1_000_000_000  # 30-minute interval per event


@register(
    "interval_merge_sessions",
    oracle=f"""
        WITH iv AS (
            -- ts IS NOT NULL (r11 nulls probe): an untimestamped event
            -- carries no interval — the engines seat its NULL ordering key
            -- at opposite ends of the island chain
            SELECT user_id, event_id, epoch_ns(ts) AS t
            FROM events WHERE ts IS NOT NULL
        ),
        flagged AS (
            SELECT user_id, event_id, t,
                   CASE WHEN MAX(t + {_IV_NS}) OVER (
                            PARTITION BY user_id ORDER BY t, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ) IS NULL
                        OR t >= MAX(t + {_IV_NS}) OVER (
                            PARTITION BY user_id ORDER BY t, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                        ) THEN 1 ELSE 0 END AS is_new
            FROM iv
        ),
        islands AS (
            SELECT user_id, t,
                   CAST(SUM(is_new) OVER (
                       PARTITION BY user_id ORDER BY t, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS island
            FROM flagged
        )
        SELECT user_id, island,
               MIN(t) // 1000000000 AS island_start_epoch,
               (MAX(t) + {_IV_NS}) // 1000000000 AS island_end_epoch,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM islands
        GROUP BY user_id, island
    """,
    tags=("timeseries", "window", "sessionize"),
)
def interval_merge_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts")
        .filter(F.col("ts").isNotNull())
    )
    order = [F.col("ts"), F.col("event_id")]
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_end = F.max(F.col("ts") + _IV_NS).over(w_prev)
    flagged = ev.withColumn(
        "is_new",
        F.when(prev_end.isNull() | (F.col("ts") >= prev_end), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island", F.sum("is_new").over(w_run).cast("bigint")
    )
    return islands.groupBy("user_id", "island").agg(
        F.expr("MIN(ts) DIV 1000000000").alias("island_start_epoch"),
        F.expr(f"(MAX(ts) + {_IV_NS}) DIV 1000000000").alias("island_end_epoch"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# Seasonal baseline: mean value per (event_type, hour-of-day) and the
# seasonal index vs the type's overall mean — the deseasonalization
# table every anomaly detector consults before flagging a "spike" that
# is just 9am. Hour from integer epoch arithmetic (UTC, tz-proof); two
# tiny grouped aggregates (types × 24 cells), broadcast re-join.
# ---------------------------------------------------------------------------
_HOUR_NS = 3_600_000_000_000


@register(
    "seasonal_baseline_events",
    oracle=f"""
        WITH hod AS (
            SELECT event_type,
                   (epoch_ns(ts) // {_HOUR_NS}) % 24 AS hour_of_day,
                   value
            FROM events
        ),
        cell AS (
            SELECT event_type, hour_of_day,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   SUM(value) AS s
            FROM hod GROUP BY 1, 2
        ),
        tot AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t, SUM(value) AS s_t
            FROM hod GROUP BY 1
        )
        SELECT c.event_type, c.hour_of_day, c.n_events,
               ROUND(c.s / c.n_events, 6) AS mean_value,
               ROUND((c.s / c.n_events) / (t.s_t / t.n_t), 6) AS seasonal_idx
        FROM cell c JOIN tot t ON t.event_type = c.event_type
    """,
    tags=("timeseries", "agg", "quality"),
)
def seasonal_baseline_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"(ts DIV {_HOUR_NS}) % 24").alias("hour_of_day"),
        "value",
    )
    cell = ev.groupBy("event_type", "hour_of_day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("value").alias("s"),
    )
    tot = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_t"),
        F.sum("value").alias("s_t"),
    )
    return cell.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "hour_of_day",
        "n_events",
        F.round(F.col("s") / F.col("n_events"), 6).alias("mean_value"),
        F.round(
            (F.col("s") / F.col("n_events")) / (F.col("s_t") / F.col("n_t")), 6
        ).alias("seasonal_idx"),
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap CI for mean order value — B = 32 replicates in ONE
# pass over the data: each (row, replicate) gets a Poisson(1) weight
# drawn deterministically by inverting the Poisson CDF at a uniform from
# the chunked md5 family (the CMS/MinHash device: 32 independent 32-bit
# hashes cost 8 md5 evaluations per row — digests projected once, chunks
# decoded from the projection; the first version hashed per (row,
# replicate) and spent 4× the digests plus the portable instr decode,
# 8.3 s → this shape). No resampling shuffle — the exchange after the
# narrow explode carries 32 partial sums per partition. The CI uses
# ORDER STATISTICS (2nd smallest / 2nd largest replicate mean ≈ the
# 3.1/96.9 band for B = 32) — no interpolation, the only quantile form
# two engines reproduce exactly. Replicate means are rounded to 4 dp
# before ranking so ties break identically.
# ---------------------------------------------------------------------------
_BOOT_B = 32


def _poisson_w_sql(u_sql: str) -> str:
    """Poisson(1) inverse-CDF of a uniform, as a shared CASE expression."""
    cdf, cum, fact = [], 0.0, 1.0
    for k in range(7):
        if k:
            fact *= k
        cum += math.exp(-1.0) / fact
        cdf.append(f"WHEN {u_sql} < {cum!r} THEN {k}")
    return f"CASE {' '.join(cdf)} ELSE 7 END"


def _boot_u_from_hash(h_sql: str) -> str:
    return f"((CAST({h_sql} AS DOUBLE) + 0.5) / 4294967296.0)"


def _boot_oracle() -> str:
    from etl_pipeline_spark.operators.sketch import hex8_at_expr

    weight_rows = "\n            UNION ALL ".join(
        f"SELECT o_orderkey, o_totalprice, {b} AS b, "
        + _poisson_w_sql(
            _boot_u_from_hash(hex8_at_expr("CAST(o_orderkey AS VARCHAR)", b))
        )
        + " AS w FROM orders"
        for b in range(_BOOT_B)
    )
    return f"""
        WITH rep AS (
            {weight_rows}
        ),
        reps AS (
            -- exact weighted replicate mean on the cents lattice, kept
            -- FAST: the inner pass groups by (b, w) — w has only the 7
            -- Poisson CASE values — so the hot aggregation stays plain
            -- BIGINT cents sums (each (b,w) cell bounded ~total/7, inside
            -- BIGINT through ~50 TB); only the 224-row outer sum widens
            -- to 128-bit (HUGEINT here, DECIMAL(38,0) on the Spark side)
            -- for the w·sc products that would overflow BIGINT. The FLOOR
            -- half-up chain then sees identical doubles in both engines,
            -- instead of ROUND over a jittered double sum that can tie
            -- at 1e-4 (the q1 product-sum class).
            SELECT b, FLOOR(CAST(SUM(CAST(w AS HUGEINT) * sc) AS DOUBLE)
                            * 100.0e0 / SUM(w * nw) + 0.5e0)
                      / 10000.0e0 AS m
            FROM (
                SELECT b, w,
                       SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS sc,
                       CAST(COUNT(*) AS BIGINT) AS nw
                FROM rep GROUP BY b, w
            ) g
            GROUP BY b
            -- drop zero-weight replicates: a tiny corpus can draw w = 0
            -- for EVERY row of a replicate (empty resample — no defined
            -- mean; an ANSI 0-divide on the Spark side pre-fix, and NULL
            -- means would rank differently across engines). One-row
            -- probe, r11.
            HAVING SUM(w * nw) > 0
        ),
        ranked AS (
            SELECT b, m,
                   ROW_NUMBER() OVER (ORDER BY m ASC, b ASC) AS r_asc,
                   ROW_NUMBER() OVER (ORDER BY m DESC, b DESC) AS r_desc
            FROM reps
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_replicates,
               -- exact-lattice mean over the B 4-dp replicate means: the
               -- 1e-4-unit SUM is an exact order-free BIGINT, so the
               -- FLOOR half-up chain can't flip on a ROUND(AVG(double))
               -- midpoint (the forecast-mae class); NULLIF keeps the
               -- empty-orders degenerate NULL-safe under ANSI
               FLOOR(SUM(CAST(ROUND(m * 1.0e4, 0) AS BIGINT)) * 1.0e0
                     / NULLIF(COUNT(*), 0) + 0.5e0) / 1.0e4 AS boot_mean,
               MAX(CASE WHEN r_asc = 2 THEN m END) AS ci_lo,
               MAX(CASE WHEN r_desc = 2 THEN m END) AS ci_hi
        FROM ranked
    """


@register(
    "bootstrap_revenue_ci",
    oracle=_boot_oracle(),
    tags=("stats", "sampling", "agg"),
)
def bootstrap_revenue_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_spark.operators.sketch import _CHUNKS_PER_MD5, _digest_sql

    # fan the two-column projection out before the digest family: the
    # replicate pass (8 md5 + 32-way explode + Poisson CASE per order) is
    # the scan stage's compute and an unsplittable input would run it on
    # one core (guide §2.5; measured 2.5 s single-task at sf0.1)
    o = fan_out_scan(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    )
    key_sql = "CAST(o_orderkey AS STRING)"
    n_groups = (_BOOT_B + _CHUNKS_PER_MD5 - 1) // _CHUNKS_PER_MD5
    # cents decode ABOVE the explode: once per order, not once per
    # (order, replicate) — measured 0.7 s of the replicate pass at sf0.1
    hashed = o.select(
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("cents"),
        *[F.expr(_digest_sql(key_sql, g)).alias(f"m{g}") for g in range(n_groups)],
    )

    def u_from_digest(b: int) -> str:
        g, c = divmod(b, _CHUNKS_PER_MD5)
        h = f"CAST(conv(substr(m{g}, {8 * c + 1}, 8), 16, 10) AS BIGINT)"
        return _boot_u_from_hash(h)

    # posexplode the 32-element uniform array (each u decoded exactly
    # once inside the array constructor), then apply the 7-branch Poisson
    # CASE to the SCALAR u below the Generate. Measured shapes: inlining
    # the u-decode inside each CASE branch re-evaluates it per branch
    # (4.3 s); a struct-array explode re-evaluates element expressions
    # past the Generate (10.2 s); this explode-then-CASE shape is 2.8 s.
    rep = hashed.select(
        "cents",
        F.posexplode(
            F.array(*[F.expr(u_from_digest(b)) for b in range(_BOOT_B)])
        ).alias("b", "u"),
    ).select("cents", "b", F.expr(_poisson_w_sql("u")).alias("w"))
    # exact weighted mean (see the oracle note): hot pass is plain BIGINT
    # cents sums per (b, w) — 7 weight values — and only the 224-row
    # outer sum widens to DECIMAL(38,0) (mirrors DuckDB's HUGEINT); the
    # FLOOR half-up replaces the tie-prone ROUND over a jittered double
    # sum. Measured at sf0.1 (warm): per-(row,b) 128-bit accumulation
    # 4.1 s, flat BIGINT 3.2 s, this two-level + hoisted decode 2.5 s —
    # at parity with the old jitter-prone double sum (2.4 s).
    cells = rep.groupBy("b", "w").agg(
        F.sum("cents").alias("sc"),
        F.count(F.lit(1)).cast("bigint").alias("nw"),
    )
    # NULLIF + isNotNull = the oracle's HAVING SUM(w·nw) > 0: an empty
    # resample (all-zero Poisson weights on a tiny corpus) has no defined
    # mean and leaves the replicate set (one-row probe, r11)
    reps = cells.groupBy("b").agg(
        F.expr(
            "FLOOR(CAST(SUM(CAST(w AS DECIMAL(38,0)) * sc) AS DOUBLE)"
            " * 100.0e0 / NULLIF(SUM(w * nw), 0) + 0.5e0) / 10000.0e0"
        ).alias("m")
    ).where(F.col("m").isNotNull())
    # 32 rows from here down — the global windows are bounded by B, and
    # the CI band comes out of ONE conditional aggregate over the ranked
    # rows so the whole query scans orders exactly once (a crossJoin of
    # separately-derived stats/lo/hi would recompute the replicate pass
    # per branch — three full scans at 100 TB; plan-guarded)
    ranked = reps.withColumn(
        "r_asc", F.row_number().over(Window.orderBy(F.asc("m"), F.asc("b")))
    ).withColumn(
        "r_desc", F.row_number().over(Window.orderBy(F.desc("m"), F.desc("b")))
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_replicates"),
        F.expr(
            "FLOOR(SUM(CAST(ROUND(m * 1.0e4, 0) AS BIGINT)) * 1.0e0"
            " / NULLIF(COUNT(*), 0) + 0.5e0) / 1.0e4"
        ).alias("boot_mean"),
        F.max(F.when(F.col("r_asc") == 2, F.col("m"))).alias("ci_lo"),
        F.max(F.when(F.col("r_desc") == 2, F.col("m"))).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Windowed distinct users via HLL register cells — and the point of
# sketches: the 24h estimate MERGES the four 6h register relations (max
# per register) instead of re-scanning events. Both grains carry the
# exact distinct count beside the estimate (the eval column); the
# corrected estimator (linear counting in the low band) is hll_est_sql,
# identical SQL text in both engines.
# ---------------------------------------------------------------------------
_H6_NS = 6 * 3_600_000_000_000
_WD_P = 8


def _wd_oracle() -> str:
    from etl_pipeline_spark.operators.sketch import hll_cell_sql, hll_est_sql

    idx, rho = hll_cell_sql("CAST(user_id AS STRING)", _WD_P)
    est = hll_est_sql("SUM(pow(2.0, -rho_max))", "COUNT(*)", _WD_P)
    return f"""
        WITH cells AS (
            SELECT (epoch_ns(ts) // {_H6_NS}) * 21600 AS win6,
                   user_id, {idx} AS idx, {rho} AS rho
            FROM events
        ),
        regs6 AS (
            SELECT win6, idx, MAX(rho) AS rho_max FROM cells GROUP BY 1, 2
        ),
        regs24 AS (
            SELECT (win6 // 86400) * 86400 AS win24, idx,
                   MAX(rho_max) AS rho_max
            FROM regs6 GROUP BY 1, 2
        ),
        est6 AS (
            SELECT win6 AS win_start_epoch, {est} AS est
            FROM regs6 GROUP BY win6
        ),
        est24 AS (
            SELECT win24 AS win_start_epoch, {est} AS est
            FROM regs24 GROUP BY win24
        ),
        ex6 AS (
            SELECT (epoch_ns(ts) // {_H6_NS}) * 21600 AS win_start_epoch,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
            FROM events GROUP BY 1
        ),
        ex24 AS (
            SELECT (epoch_ns(ts) // {4 * _H6_NS}) * 86400 AS win_start_epoch,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
            FROM events GROUP BY 1
        )
        SELECT '6h' AS grain, e.win_start_epoch, e.est, x.n_exact
        FROM est6 e JOIN ex6 x USING (win_start_epoch)
        UNION ALL
        SELECT '24h' AS grain, e.win_start_epoch, e.est, x.n_exact
        FROM est24 e JOIN ex24 x USING (win_start_epoch)
    """


@register(
    "windowed_distinct_users",
    oracle=_wd_oracle(),
    tags=("streaming", "sketch", "cardinality", "window"),
)
def windowed_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_spark.operators.sketch import (
        hll_build_grouped,
        hll_est_sql,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.expr(f"(ts DIV {_H6_NS}) * 21600").alias("win6"), "user_id"
    )
    regs6 = hll_build_grouped(ev, ["win6"], "user_id", p=_WD_P)
    regs24 = regs6.groupBy(
        F.expr("(win6 DIV 86400) * 86400").alias("win24"), F.col("idx")
    ).agg(F.max("rho_max").alias("rho_max"))

    def estimate(regs: DataFrame, win_col: str) -> DataFrame:
        agg = regs.groupBy(win_col).agg(
            F.sum(F.expr("pow(2.0, -rho_max)")).alias("sum_set"),
            F.count(F.lit(1)).cast("bigint").alias("n_set"),
        )
        return agg.select(
            F.col(win_col).alias("win_start_epoch"),
            F.expr(hll_est_sql("sum_set", "n_set", _WD_P)).alias("est"),
        )

    ex6 = ev.groupBy(F.col("win6").alias("win_start_epoch")).agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    ex24 = ev.groupBy(
        F.expr("(win6 DIV 86400) * 86400").alias("win_start_epoch")
    ).agg(F.countDistinct("user_id").cast("bigint").alias("n_exact"))
    six = (
        estimate(regs6, "win6")
        .join(ex6, "win_start_epoch")
        .select(F.lit("6h").alias("grain"), "win_start_epoch", "est", "n_exact")
    )
    day = (
        estimate(regs24, "win24")
        .join(ex24, "win_start_epoch")
        .select(F.lit("24h").alias("grain"), "win_start_epoch", "est", "n_exact")
    )
    return six.unionByName(day)


# ---------------------------------------------------------------------------
# Salted skew join (operators/skew.py): revenue per brand through a
# lineitem⋈part join whose fact side is salted across 8 buckets and
# whose dim side is exploded ×8 — the explicit skew-mitigation pattern
# for when AQE's runtime splitting isn't available (streaming) or one
# key dominates past what splitting fixes. Value-checked against the
# plain join (the oracle): salting must be invisible in the result.
# ---------------------------------------------------------------------------
_SALTS = 8


@register(
    "skew_salted_join",
    oracle="""
        SELECT p.p_brand,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               -- exact-cents device (q1 sum_disc_price): probe seed
               -- tiny541 landed a brand's revenue sum exactly on a .005
               -- tie, where ROUND(SUM(double)) split the engines
               FLOOR(CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
                              * CAST(100 - ROUND(l.l_discount * 100, 0) AS BIGINT))
                          AS DOUBLE)
                     / 100.0e0 + 0.5e0) / 100.0e0 AS revenue
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY p.p_brand
    """,
    tags=("join", "skew", "agg"),
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"),
        "l_orderkey",
        "l_extendedprice",
        "l_discount",
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_join(li, part, "p_partkey", n_salts=_SALTS, tiebreak="l_orderkey")
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.expr(
            "FLOOR(CAST(SUM(CAST("
            "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)"
            " * CAST(100 - ROUND(l_discount * 100, 0) AS BIGINT)"
            " AS DECIMAL(38,0))) AS DOUBLE)"
            " / 100.0e0 + 0.5e0) / 100.0e0"
        ).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# k-anonymity audit: equivalence-class sizes over the quasi-identifier
# tuple (segment, nation, acctbal-kilobucket). Classes below k = 5 are
# re-identification risks the release gate must suppress or generalize.
# One grouped count at scan speed — the governance primitive is cheap;
# acting on it isn't.
# ---------------------------------------------------------------------------
_K_ANON = 5


@register(
    "k_anonymity_audit",
    oracle=f"""
        SELECT c_mktsegment, c_nationkey,
               CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) < {_K_ANON} AS INT) AS is_violation
        FROM customer
        GROUP BY 1, 2, 3
    """,
    tags=("governance", "agg", "privacy"),
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.groupBy(
            "c_mktsegment",
            "c_nationkey",
            F.expr("CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)").alias(
                "bal_bucket"
            ),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .withColumn("is_violation", (F.col("n_rows") < _K_ANON).cast("int"))
    )


# ---------------------------------------------------------------------------
# Association rules over per-user event-type baskets: support,
# confidence and lift for every type pair above the support floor.
# Baskets are the DISTINCT (user, type) relation; the pair count is a
# user-keyed self-join (bounded: ≤ T² pairs per user, T = event-type
# cardinality); totals broadcast. Lift > 1 = genuinely co-occurring.
# ---------------------------------------------------------------------------
_AR_MIN_SUPPORT = 20


@register(
    "assoc_rules_events",
    oracle=f"""
        WITH u AS (SELECT DISTINCT user_id, event_type FROM events),
        n AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n FROM u),
        tc AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c FROM u GROUP BY 1
        ),
        pc AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(COUNT(*) AS BIGINT) AS n_ab
            FROM u a JOIN u b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY 1, 2
        )
        SELECT p.type_a, p.type_b, ta.c AS n_a, tb.c AS n_b, p.n_ab,
               ROUND(p.n_ab * 1.0 / ta.c, 6) AS confidence,
               ROUND(((p.n_ab * 1.0) * n.n) / ((ta.c * 1.0) * tb.c), 6) AS lift
        FROM pc p
        JOIN tc ta ON ta.event_type = p.type_a
        JOIN tc tb ON tb.event_type = p.type_b
        CROSS JOIN n
        WHERE p.n_ab >= {_AR_MIN_SUPPORT}
    """,
    tags=("agg", "join", "basket"),
)
def assoc_rules_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the distinct (user, type) basket relation is consumed by FOUR
    # lineages (n, tc, both self-join sides): checkpoint it once instead
    # of 4× scan+distinct over the fact table (guide §5). Entity-sized:
    # |users| × |event types ≤ 5|.
    u = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = u.agg(F.countDistinct("user_id").cast("bigint").alias("n"))
    tc = u.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    a = u.select("user_id", F.col("event_type").alias("type_a"))
    b = u.select("user_id", F.col("event_type").alias("type_b"))
    pc = (
        a.join(b, ["user_id"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= _AR_MIN_SUPPORT)
    )
    ta = tc.select(F.col("event_type").alias("type_a"), F.col("c").alias("n_a"))
    tb = tc.select(F.col("event_type").alias("type_b"), F.col("c").alias("n_b"))
    return (
        pc.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .crossJoin(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_ab",
            F.round(F.col("n_ab") * 1.0 / F.col("n_a"), 6).alias("confidence"),
            F.round(
                ((F.col("n_ab") * 1.0) * F.col("n"))
                / ((F.col("n_a") * 1.0) * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Kaplan–Meier retention curve (Kaplan & Meier 1958) over user lifetimes:
# duration = days between a user's first and last event; users still
# active in the final 3 days of the observation window are right-censored
# (their lifetime is a lower bound, the standard churn-analysis setup).
# S(t) = Π_{t_i <= t} (1 - d_i / n_i) over the per-distinct-duration
# relation — d_i churns, n_i at risk. The product is exp of a cumulative
# sum of per-row logs accumulated in one deterministic sorted order, so
# both engines add the identical float sequence; a zero factor (everyone
# at risk churns) is handled by a cumulative flag, not ln(0) (Spark's LN
# returns NULL at 0 where DuckDB returns -inf). All windows below run
# over the duration-domain-sized grouped relation (days, not users) —
# the bounded-histogram discipline of funnel_latency_quantiles.
# ---------------------------------------------------------------------------
_KM_DAY_NS = 86_400_000_000_000
_KM_CENSOR_DAYS = 3


@register(
    "kaplan_meier_retention",
    oracle=f"""
        WITH u AS (
            SELECT user_id, MIN(epoch_ns(ts)) AS first_ts,
                   MAX(epoch_ns(ts)) AS last_ts
            FROM events GROUP BY user_id
        ),
        mx AS (SELECT MAX(epoch_ns(ts)) AS max_ts FROM events),
        lif AS (
            SELECT (last_ts - first_ts) // {_KM_DAY_NS} AS duration_days,
                   CASE WHEN m.max_ts - last_ts < {_KM_CENSOR_DAYS} * {_KM_DAY_NS}
                        THEN 1 ELSE 0 END AS is_censored
            FROM u CROSS JOIN mx m
        ),
        g AS (
            SELECT duration_days,
                   CAST(SUM(1 - is_censored) AS BIGINT) AS d,
                   CAST(SUM(is_censored) AS BIGINT) AS c
            FROM lif GROUP BY 1
        ),
        k AS (
            SELECT duration_days, d, c,
                   CAST(SUM(d + c) OVER () AS BIGINT)
                   - CAST(COALESCE(SUM(d + c) OVER (
                         ORDER BY duration_days
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS n_at_risk
            FROM g
        ),
        s AS (
            SELECT duration_days, d, c, n_at_risk,
                   SUM(CASE WHEN d < n_at_risk
                            THEN LN(1.0 - CAST(d AS DOUBLE) / n_at_risk)
                            ELSE 0.0 END) OVER w AS lnsum,
                   MAX(CASE WHEN d >= n_at_risk THEN 1 ELSE 0 END) OVER w AS dead
            FROM k
            WINDOW w AS (ORDER BY duration_days
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT duration_days, n_at_risk, d AS n_churned, c AS n_censored,
               CASE WHEN dead = 1 THEN 0.0
                    ELSE ROUND(EXP(lnsum), 6) END AS km_survival
        FROM s
    """,
    tags=("stats", "survival", "retention"),
)
def kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KM survival of user lifetimes with right-censoring at the window
    edge. One user-keyed aggregate; everything after runs on the
    duration-day domain."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    mx = ev.agg(F.max("ts").alias("max_ts"))
    lif = u.crossJoin(F.broadcast(mx)).select(
        F.expr(f"(last_ts - first_ts) DIV {_KM_DAY_NS}").alias("duration_days"),
        F.when(
            F.col("max_ts") - F.col("last_ts") < _KM_CENSOR_DAYS * _KM_DAY_NS, 1
        )
        .otherwise(0)
        .alias("is_censored"),
    )
    g = lif.groupBy("duration_days").agg(
        F.sum(1 - F.col("is_censored")).cast("bigint").alias("d"),
        F.sum("is_censored").cast("bigint").alias("c"),
    )
    ord_w = Window.orderBy("duration_days")
    all_w = ord_w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    prev_w = ord_w.rowsBetween(Window.unboundedPreceding, -1)
    cur_w = ord_w.rowsBetween(Window.unboundedPreceding, 0)
    k = g.select(
        "duration_days",
        "d",
        "c",
        (
            F.sum(F.col("d") + F.col("c")).over(all_w)
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(prev_w), F.lit(0))
        )
        .cast("bigint")
        .alias("n_at_risk"),
    )
    s = k.select(
        "duration_days",
        "d",
        "c",
        "n_at_risk",
        F.sum(
            F.when(
                F.col("d") < F.col("n_at_risk"),
                F.log(1.0 - F.col("d").cast("double") / F.col("n_at_risk")),
            ).otherwise(0.0)
        )
        .over(cur_w)
        .alias("lnsum"),
        F.max(F.when(F.col("d") >= F.col("n_at_risk"), 1).otherwise(0))
        .over(cur_w)
        .alias("dead"),
    )
    return s.select(
        "duration_days",
        "n_at_risk",
        F.col("d").alias("n_churned"),
        F.col("c").alias("n_censored"),
        F.when(F.col("dead") == 1, 0.0)
        .otherwise(F.round(F.exp("lnsum"), 6))
        .alias("km_survival"),
    )


# ---------------------------------------------------------------------------
# Item–item co-occurrence similarity (the item2item collaborative-
# filtering primitive, Linden et al. 2003): parts that ship in the same
# order, scored by cosine over order-occurrence vectors
# n_ab / sqrt(n_a · n_b). The pair build is a self-equi-join on the
# ORDER key, so candidates are per-basket quadratic BOUNDED BY BASKET
# SIZE (TPC-H baskets are <= 7 lines / <= 13 distinct parts; a retail
# basket is O(10²)) — never all-pairs over the catalog. Part occurrence
# counts are a dimension-sized relation joined back broadcast. Counts
# are exact ints; cosine is one sqrt + one division (IEEE-deterministic
# both engines), ordered before the top-k cut with a total (a, b)
# tiebreak.
# ---------------------------------------------------------------------------
_COOC_TOPK = 25


@register(
    "item_cooccurrence_topk",
    oracle=f"""
        WITH basket AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ),
        occ AS (
            SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_occ
            FROM basket GROUP BY 1
        ),
        co AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   CAST(COUNT(*) AS BIGINT) AS n_ab
            FROM basket a
            JOIN basket b ON b.l_orderkey = a.l_orderkey
                         AND b.l_partkey > a.l_partkey
            GROUP BY 1, 2
        )
        SELECT part_a, part_b, n_ab, oa.n_occ AS n_a, ob.n_occ AS n_b,
               ROUND(n_ab / SQRT(CAST(oa.n_occ * ob.n_occ AS DOUBLE)), 6)
                   AS cosine
        FROM co
        JOIN occ oa ON oa.l_partkey = part_a
        JOIN occ ob ON ob.l_partkey = part_b
        ORDER BY n_ab / SQRT(CAST(oa.n_occ * ob.n_occ AS DOUBLE)) DESC,
                 part_a ASC, part_b ASC
        LIMIT {_COOC_TOPK}
    """,
    tags=("recsys", "join", "topk"),
)
def item_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one groupBy materializes each basket as a sorted distinct array;
    # the (a < b) pairs then expand MAP-SIDE inside the array expression
    # — the pair build has ZERO joins and ONE fact shuffle (the r5 v1
    # self-joined a distinct relation: 3 fact-sized shuffles, measured
    # 50.1 s / 21.5× at 64×; this shape: 21.7 s / 8.2×)
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
        # order-domain; consumed by the occurrence counts AND the pair
        # explode — one materialization, not two lineitem scans
    ).localCheckpoint(eager=False)
    # occurrence counts come from the SAME basket relation (including
    # single-part baskets — they count toward n_occ, just emit no pairs)
    occ = (
        baskets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occ"))
    )
    pair = F.explode(
        F.expr(
            "flatten(transform(parts, (a, i) ->"
            " transform(slice(parts, i + 2, size(parts) - i - 1),"
            " b -> struct(a AS part_a, b AS part_b))))"
        )
    ).alias("p")
    co = (
        baskets.filter(F.size("parts") >= 2)
        .select(pair)
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
    )
    oa = F.broadcast(occ.select(F.col("l_partkey").alias("part_a"),
                                F.col("n_occ").alias("n_a")))
    ob = F.broadcast(occ.select(F.col("l_partkey").alias("part_b"),
                                F.col("n_occ").alias("n_b")))
    cos = F.col("n_ab") / F.sqrt((F.col("n_a") * F.col("n_b")).cast("double"))
    return (
        co.join(oa, "part_a")
        .join(ob, "part_b")
        .select(
            "part_a", "part_b", "n_ab", "n_a", "n_b",
            F.round(cos, 6).alias("cosine"),
            cos.alias("_sort"),
        )
        .orderBy(F.desc("_sort"), F.asc("part_a"), F.asc("part_b"))
        .limit(_COOC_TOPK)
        .drop("_sort")
    )


# ---------------------------------------------------------------------------
# Nelson–Aalen cumulative hazard — the counting-process companion to
# kaplan_meier_retention (same lifetimes relation: first-to-last event
# span per user, right-censored within 3 days of the window edge):
# H(t) = Σ_{t_i <= t} d_i / n_i, and the Breslow survival estimate
# exp(−H). The cumulative sum runs in ONE deterministic sorted order
# over the duration-day domain (both engines add the identical float
# sequence — the kaplan_meier discipline); d_i/n_i is IEEE-exact.
# Everything below the per-user aggregate is duration-domain-sized.
# ---------------------------------------------------------------------------
@register(
    "nelson_aalen_hazard",
    oracle=f"""
        WITH u AS (
            SELECT user_id, MIN(epoch_ns(ts)) AS first_ts,
                   MAX(epoch_ns(ts)) AS last_ts
            FROM events GROUP BY user_id
        ),
        mx AS (SELECT MAX(epoch_ns(ts)) AS max_ts FROM events),
        lif AS (
            SELECT (last_ts - first_ts) // {_KM_DAY_NS} AS duration_days,
                   CASE WHEN m.max_ts - last_ts < {_KM_CENSOR_DAYS} * {_KM_DAY_NS}
                        THEN 1 ELSE 0 END AS is_censored
            FROM u CROSS JOIN mx m
        ),
        g AS (
            SELECT duration_days,
                   CAST(SUM(1 - is_censored) AS BIGINT) AS d,
                   CAST(SUM(is_censored) AS BIGINT) AS c
            FROM lif GROUP BY 1
        ),
        k AS (
            SELECT duration_days, d, c,
                   CAST(SUM(d + c) OVER () AS BIGINT)
                   - CAST(COALESCE(SUM(d + c) OVER (
                         ORDER BY duration_days
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS n_at_risk
            FROM g
        )
        SELECT duration_days, n_at_risk, d AS n_churned,
               ROUND(SUM(CAST(d AS DOUBLE) / n_at_risk) OVER w, 6)
                   AS cum_hazard,
               ROUND(EXP(-SUM(CAST(d AS DOUBLE) / n_at_risk) OVER w), 6)
                   AS breslow_survival
        FROM k
        WINDOW w AS (ORDER BY duration_days
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    tags=("stats", "survival", "retention"),
)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    mx = ev.agg(F.max("ts").alias("max_ts"))
    lif = u.crossJoin(F.broadcast(mx)).select(
        F.expr(f"(last_ts - first_ts) DIV {_KM_DAY_NS}").alias("duration_days"),
        F.when(
            F.col("max_ts") - F.col("last_ts") < _KM_CENSOR_DAYS * _KM_DAY_NS, 1
        )
        .otherwise(0)
        .alias("is_censored"),
    )
    g = lif.groupBy("duration_days").agg(
        F.sum(1 - F.col("is_censored")).cast("bigint").alias("d"),
        F.sum("is_censored").cast("bigint").alias("c"),
    )
    ord_w = Window.orderBy("duration_days")
    all_w = ord_w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    prev_w = ord_w.rowsBetween(Window.unboundedPreceding, -1)
    cur_w = ord_w.rowsBetween(Window.unboundedPreceding, 0)
    k = g.select(
        "duration_days",
        "d",
        "c",
        (
            F.sum(F.col("d") + F.col("c")).over(all_w)
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(prev_w), F.lit(0))
        )
        .cast("bigint")
        .alias("n_at_risk"),
    )
    haz = F.sum(F.col("d").cast("double") / F.col("n_at_risk")).over(cur_w)
    return k.select(
        "duration_days",
        "n_at_risk",
        F.col("d").alias("n_churned"),
        F.round(haz, 6).alias("cum_hazard"),
        F.round(F.exp(-haz), 6).alias("breslow_survival"),
    )


# ---------------------------------------------------------------------------
# Laspeyres / Paasche / Fisher price indices per ship-year against the
# base (first) year — the standard BI inflation readout over a sales
# fact. Unit prices are EXACT INTEGER CENTS (floor(Σcents/Σqty + 0.5),
# the pattern_vshape device), quantities exact ints, so all four index
# sums are exact BIGINT and the indices are single IEEE divisions —
# no partial-agg float jitter anywhere. The base-year relation is
# part-dimension-sized and broadcasts; only parts present in both
# years contribute (the matched-basket convention).
# ---------------------------------------------------------------------------
@register(
    "price_index_laspeyres",
    oracle="""
        WITH ypc AS (
            SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS yr,
                   l_partkey,
                   SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS sc,
                   SUM(CAST(l_quantity AS BIGINT)) AS sq
            FROM lineitem GROUP BY 1, 2
        ),
        yp AS (
            -- zero-total-quantity cells have no unit price (the
            -- pattern_vshape convention — probe-found ANSI 0-divide via
            -- the planted free-item line); they drop from the basket
            SELECT yr, l_partkey,
                   CAST(FLOOR(sc * 1.0e0 / sq + 0.5) AS BIGINT) AS p,
                   CAST(sq AS BIGINT) AS q
            FROM ypc WHERE sq > 0
        ),
        base AS (
            SELECT l_partkey, p AS p0, q AS q0 FROM yp
            WHERE yr = (SELECT MIN(yr) FROM yp)
        ),
        m AS (
            SELECT yp.yr,
                   CAST(COUNT(*) AS BIGINT) AS n_parts,
                   CAST(SUM(yp.p * base.q0) AS BIGINT) AS l_num,
                   CAST(SUM(base.p0 * base.q0) AS BIGINT) AS l_den,
                   CAST(SUM(yp.p * yp.q) AS BIGINT) AS p_num,
                   CAST(SUM(base.p0 * yp.q) AS BIGINT) AS p_den
            FROM yp JOIN base ON base.l_partkey = yp.l_partkey
            GROUP BY 1
        )
        SELECT yr, n_parts,
               -- NULLIF: an all-zero-price base basket has no defined
               -- index — NULL, not an ANSI 0-divide
               ROUND(CAST(l_num AS DOUBLE) / NULLIF(l_den, 0), 6) AS laspeyres,
               ROUND(CAST(p_num AS DOUBLE) / NULLIF(p_den, 0), 6) AS paasche,
               ROUND(SQRT((CAST(l_num AS DOUBLE) / NULLIF(l_den, 0))
                          * (CAST(p_num AS DOUBLE) / NULLIF(p_den, 0))), 6)
                   AS fisher
        FROM m
    """,
    tags=("relational", "index", "revenue"),
)
def price_index_laspeyres(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    yp = (
        li.select(
            F.year("l_shipdate").cast("bigint").alias("yr"),
            "l_partkey",
            F.expr("CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)").alias(
                "cents"
            ),
            F.expr("CAST(l_quantity AS BIGINT)").alias("qty"),
        )
        .groupBy("yr", "l_partkey")
        .agg(F.sum("cents").alias("sc"), F.sum("qty").alias("sq"))
        # zero-qty cells drop BEFORE the unit-price division — see oracle
        .filter(F.col("sq") > 0)
        .select(
            "yr",
            "l_partkey",
            F.expr("CAST(FLOOR(sc * 1.0e0 / sq + 0.5) AS BIGINT)").alias("p"),
            F.col("sq").cast("bigint").alias("q"),
        )
    )
    min_yr = yp.agg(F.min("yr").alias("base_yr"))
    base = (
        yp.crossJoin(F.broadcast(min_yr))
        .filter(F.col("yr") == F.col("base_yr"))
        .select(
            "l_partkey", F.col("p").alias("p0"), F.col("q").alias("q0")
        )
    )
    m = (
        yp.join(F.broadcast(base), "l_partkey")
        .groupBy("yr")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum(F.col("p") * F.col("q0")).cast("bigint").alias("l_num"),
            F.sum(F.col("p0") * F.col("q0")).cast("bigint").alias("l_den"),
            F.sum(F.col("p") * F.col("q")).cast("bigint").alias("p_num"),
            F.sum(F.col("p0") * F.col("q")).cast("bigint").alias("p_den"),
        )
    )
    lasp = F.col("l_num").cast("double") / F.nullif(F.col("l_den"), F.lit(0))
    paas = F.col("p_num").cast("double") / F.nullif(F.col("p_den"), F.lit(0))
    return m.select(
        "yr",
        "n_parts",
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
    )


# ---------------------------------------------------------------------------
# Herfindahl–Hirschman concentration per market segment — the antitrust
# companion to gini_revenue_concentration (Gini measures inequality of
# the whole distribution; HHI measures top-end concentration and is the
# regulator's threshold metric, 0–10000 scale). Customer revenues are
# exact cents; each share is one IEEE division of exact ints; the Σ of
# per-customer share² carries ~1e-16 relative jitter against the 6-dp
# round. The orders→customer join shuffles on the customer key (both
# sides fact/dimension-sized at 100 TB — no broadcast assumption);
# everything after the per-customer aggregate is segment-sized.
# ---------------------------------------------------------------------------
@register(
    "hhi_segment_concentration",
    oracle="""
        WITH cr AS (
            SELECT c.c_mktsegment,
                   o.o_custkey,
                   SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT))
                       AS cents
            FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
            GROUP BY 1, 2
        ),
        seg AS (
            SELECT c_mktsegment, CAST(SUM(cents) AS BIGINT) AS seg_cents
            FROM cr GROUP BY 1
        )
        SELECT cr.c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_customers,
               -- NULLIF: a zero-total segment (refund/zero orders only)
               -- has no defined shares — NULL, not an ANSI 0-divide
               -- (probe-found on a truncated corpus; Spark 4 ANSI throws
               -- on DOUBLE/0 too)
               ROUND(SUM((CAST(cr.cents AS DOUBLE) / NULLIF(seg.seg_cents, 0))
                         * (CAST(cr.cents AS DOUBLE) / NULLIF(seg.seg_cents, 0)))
                     * 10000, 6) AS hhi,
               ROUND(MAX(CAST(cr.cents AS DOUBLE) / NULLIF(seg.seg_cents, 0)), 6)
                   AS top_share
        FROM cr JOIN seg ON seg.c_mktsegment = cr.c_mktsegment
        GROUP BY 1
    """,
    tags=("relational", "concentration", "revenue"),
)
def hhi_segment_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("c100"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    cr = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment", "o_custkey")
        .agg(F.sum("c100").alias("cents"))
    )
    seg = cr.groupBy("c_mktsegment").agg(
        F.sum("cents").cast("bigint").alias("seg_cents")
    )
    share = F.col("cents").cast("double") / F.nullif(
        F.col("seg_cents"), F.lit(0)
    )  # zero-total segment -> NULL shares (see oracle)
    return (
        cr.join(F.broadcast(seg), "c_mktsegment")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.round(F.sum(share * share) * 10000, 6).alias("hhi"),
            F.round(F.max(share), 6).alias("top_share"),
        )
    )


# ---------------------------------------------------------------------------
# ER pair-level precision/recall — the eval that closes the entity-
# resolution loop (the ann_recall_eval discipline: every approximate
# operator ships with its quality measurement). Ground truth is the
# injected variant pair set (c, c+SHIFT for c % 3 = 0 — constructed, so
# truth is exact); predicted-pair COUNTS come from cluster sizes
# (Σ s(s−1)/2 — no pair enumeration anywhere), true positives from two
# node→component lookups. A same-name/same-account collision that
# merges unrelated customers shows up as precision < 1, which is the
# point. All counts exact ints; P/R/F1 are fixed-paren IEEE ratios.
# ---------------------------------------------------------------------------
@register(
    "er_precision_recall",
    oracle=f"""
        WITH RECURSIVE
        {{_ER_COMP_CTES}}
        ,
        sizes AS (
            SELECT component, CAST(COUNT(*) AS BIGINT) AS s
            FROM comp GROUP BY 1
        ),
        pred AS (
            SELECT CAST(COALESCE(SUM(s * (s - 1) // 2), 0) AS BIGINT)
                   AS n_pred
            FROM sizes
        ),
        truth AS (
            SELECT c_custkey AS a, c_custkey + {{_ER_SHIFT}} AS b
            FROM customer WHERE c_custkey % 3 = 0
        ),
        tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
        tp AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_tp
            FROM truth t
            JOIN comp ca ON ca.node = t.a
            JOIN comp cb ON cb.node = t.b
            WHERE ca.component = cb.component
        )
        SELECT pred.n_pred, tt.n_truth, tp.n_tp,
               CASE WHEN pred.n_pred = 0 THEN NULL
                    ELSE ROUND(CAST(tp.n_tp AS DOUBLE) / pred.n_pred, 6)
               END AS precision,
               CASE WHEN tt.n_truth = 0 THEN NULL
                    ELSE ROUND(CAST(tp.n_tp AS DOUBLE) / tt.n_truth, 6)
               END AS recall,
               CASE WHEN tp.n_tp = 0 THEN 0.0
                    ELSE ROUND(
                        2 * (CAST(tp.n_tp AS DOUBLE) / pred.n_pred)
                          * (CAST(tp.n_tp AS DOUBLE) / tt.n_truth)
                        / (CAST(tp.n_tp AS DOUBLE) / pred.n_pred
                           + CAST(tp.n_tp AS DOUBLE) / tt.n_truth), 6)
               END AS f1
        FROM pred CROSS JOIN tt CROSS JOIN tp
    """.format(_ER_COMP_CTES=_ER_COMP_CTES, _ER_SHIFT=_ER_SHIFT),
    tags=("dedup", "er", "eval"),
)
def er_precision_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = _er_clusters(spark, sf_dir).select(
        F.col("doc_id").alias("node"), F.col("cluster_id").alias("component")
    )
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("s")
    )
    pred = sizes.agg(
        F.coalesce(
            F.sum(F.expr("s * (s - 1) DIV 2")), F.lit(0)
        )
        .cast("bigint")
        .alias("n_pred")
    )
    truth = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 3 == 0)
        .select(
            F.col("c_custkey").alias("a"),
            (F.col("c_custkey") + _ER_SHIFT).alias("b"),
        )
    )
    tt = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    ca = comp.select(F.col("node").alias("a"), F.col("component").alias("comp_a"))
    cb = comp.select(F.col("node").alias("b"), F.col("component").alias("comp_b"))
    tp = (
        truth.join(ca, "a")
        .join(cb, "b")
        .filter(F.col("comp_a") == F.col("comp_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tp"))
    )
    p = F.col("n_tp").cast("double") / F.col("n_pred")
    r = F.col("n_tp").cast("double") / F.col("n_truth")
    return (
        pred.crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(tp))
        .select(
            "n_pred",
            "n_truth",
            "n_tp",
            F.when(F.col("n_pred") == 0, F.lit(None).cast("double"))
            .otherwise(F.round(p, 6))
            .alias("precision"),
            F.when(F.col("n_truth") == 0, F.lit(None).cast("double"))
            .otherwise(F.round(r, 6))
            .alias("recall"),
            F.when(F.col("n_tp") == 0, 0.0)
            .otherwise(F.round(2 * p * r / (p + r), 6))
            .alias("f1"),
        )
    )


# ---------------------------------------------------------------------------
# ABC × XYZ inventory matrix — the supply-chain segmentation standard:
# parts classed by cumulative revenue share (A ≤ 80%, B ≤ 95%, C) AND
# by demand variability (CV of monthly quantity: X < 0.5, Y < 1.0, Z).
# Both class boundaries compare ROUNDED values (the pareto
# round-before-compare rule — an unrounded share rides partial-agg
# ulps). The revenue cumsum runs over the PART AGGREGATE in one
# deterministic (rev DESC, partkey) order — the pareto single-partition
# local form, bounded by the part dimension, with the two-level prefix
# sum as the documented 10⁹-part substitute. CV comes from exact-int
# monthly moments with the GREATEST(var, 0) sqrt guard; the output is
# the ≤ 9-cell matrix.
# ---------------------------------------------------------------------------
@register(
    "abc_xyz_inventory_matrix",
    oracle="""
        WITH pm AS (
            SELECT l_partkey,
                   CAST(EXTRACT(year FROM l_shipdate) * 12
                        + EXTRACT(month FROM l_shipdate) - 1 AS BIGINT) AS m,
                   CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                        AS BIGINT) AS cents,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
            FROM lineitem GROUP BY 1, 2
        ),
        p AS (
            SELECT l_partkey,
                   CAST(SUM(cents) AS BIGINT) AS cents,
                   CAST(COUNT(*) AS BIGINT) AS n_m,
                   CAST(SUM(qty) AS BIGINT) AS s1,
                   CAST(SUM(qty * qty) AS BIGINT) AS s2
            FROM pm GROUP BY 1
        ),
        tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total FROM p),
        abc AS (
            -- NULLIF: an all-zero-revenue corpus has no defined shares;
            -- NULL falls through to 'C' identically in both engines
            -- (Spark 4 ANSI throws on DOUBLE/0 too — probe-found)
            SELECT l_partkey, cents, n_m, s1, s2,
                   CASE WHEN ROUND(CAST(SUM(cents) OVER w AS DOUBLE)
                                   / NULLIF(tot.total, 0), 6) <= 0.80 THEN 'A'
                        WHEN ROUND(CAST(SUM(cents) OVER w AS DOUBLE)
                                   / NULLIF(tot.total, 0), 6) <= 0.95 THEN 'B'
                        ELSE 'C' END AS abc_class
            FROM p CROSS JOIN tot
            WINDOW w AS (ORDER BY cents DESC, l_partkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        xyz AS (
            -- NULLIF mean: a part with ZERO total demand (free-item
            -- lines only) has an undefined CV — NULL falls through to
            -- 'Z' (most irregular), the side DuckDB's inf already took
            SELECT l_partkey, cents, abc_class,
                   CASE WHEN ROUND(SQRT(GREATEST(
                                 CAST(s2 AS DOUBLE) / n_m
                                 - (CAST(s1 AS DOUBLE) / n_m)
                                   * (CAST(s1 AS DOUBLE) / n_m), 0.0))
                             / NULLIF(CAST(s1 AS DOUBLE) / n_m, 0.0e0), 6)
                             < 0.5 THEN 'X'
                        WHEN ROUND(SQRT(GREATEST(
                                 CAST(s2 AS DOUBLE) / n_m
                                 - (CAST(s1 AS DOUBLE) / n_m)
                                   * (CAST(s1 AS DOUBLE) / n_m), 0.0))
                             / NULLIF(CAST(s1 AS DOUBLE) / n_m, 0.0e0), 6)
                             < 1.0 THEN 'Y'
                        ELSE 'Z' END AS xyz_class
            FROM abc
        )
        SELECT abc_class, xyz_class,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(cents) AS BIGINT) / 100.0 AS revenue
        FROM xyz GROUP BY 1, 2
    """,
    tags=("relational", "segmentation", "inventory"),
)
def abc_xyz_inventory_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pm = (
        li.select(
            "l_partkey",
            (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1)
            .cast("bigint")
            .alias("m"),
            F.expr("CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)").alias(
                "c100"
            ),
            F.expr("CAST(l_quantity AS BIGINT)").alias("q"),
        )
        .groupBy("l_partkey", "m")
        .agg(
            F.sum("c100").cast("bigint").alias("cents"),
            F.sum("q").cast("bigint").alias("qty"),
        )
    )
    p = pm.groupBy("l_partkey").agg(
        F.sum("cents").cast("bigint").alias("cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_m"),
        F.sum("qty").cast("bigint").alias("s1"),
        F.sum(F.col("qty") * F.col("qty")).cast("bigint").alias("s2"),
    )
    # p is consumed by tot AND (three times) inside range_bucketed_rank,
    # and each consumption re-ran the lineitem scan + two-level aggregate
    # (profiler: two full lineitem scans per execution). One caller-level
    # lazy checkpoint of this PART-cardinality relation lets all four
    # lineages share the materialized blocks (guide §5) — which is also
    # why the operator call below does not need dedupe_input=True.
    p = p.localCheckpoint(eager=False)
    tot = p.agg(F.sum("cents").cast("bigint").alias("total"))
    # integer cents make the cumsum order-free, so the two-level
    # range-bucketed prefix sum (operators/packing.py) is bit-identical
    # to the oracle's sequential window — and never sorts the part
    # relation in one task (10⁹ parts at 100 TB)
    p = range_bucketed_rank(
        p,
        "cents",
        ascending=False,
        tiebreak=("l_partkey",),
        value_col="cents",
    )
    share = F.round(
        F.col("cum").cast("double") / F.nullif(F.col("total"), F.lit(0)), 6
    )  # all-zero corpus → NULL share → 'C' (see oracle)
    abc = p.crossJoin(F.broadcast(tot)).select(
        "l_partkey",
        "cents",
        "n_m",
        "s1",
        "s2",
        F.when(share <= 0.80, "A").when(share <= 0.95, "B").otherwise("C")
        .alias("abc_class"),
    )
    mean = F.col("s1").cast("double") / F.col("n_m")
    cv = F.round(
        F.sqrt(
            F.greatest(
                F.col("s2").cast("double") / F.col("n_m") - mean * mean,
                F.lit(0.0),
            )
        )
        / F.nullif(mean, F.lit(0.0)),  # zero-demand part → 'Z' (oracle)
        6,
    )
    xyz = abc.select(
        "cents",
        "abc_class",
        F.when(cv < 0.5, "X").when(cv < 1.0, "Y").otherwise("Z").alias(
            "xyz_class"
        ),
    )
    return xyz.groupBy("abc_class", "xyz_class").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        (F.sum("cents").cast("bigint") / 100.0).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Two-group log-rank test (Mantel 1966) — the hypothesis-test companion
# to kaplan_meier_retention: does cohort A (user_id % 2 = 0) churn at a
# different rate than cohort B? Same lifetime/censoring definitions as
# the KM curve (duration = first-to-last event days; users active in
# the final 3 days are right-censored). At each distinct duration t:
# observed churns d1t vs expectation E1t = dt*n1t/nt under H0, variance
# V1t = dt*(n1t/nt)*(1-n1t/nt)*(nt-dt)/(nt-1); chi2 = (O1-E1)^2 / V,
# df = 1, alpha = .05 critical value 3.841.
#
# Scale shape: one user-keyed aggregate, then EVERYTHING runs on the
# duration-day domain (per-group at-risk counts via the same
# total-minus-prefix device as KM). Sums of exact-integer ratios — the
# only floats are correctly-rounded IEEE ops, rounded at 6 dp after the
# final aggregate.
# ---------------------------------------------------------------------------
_LR_CRIT_05 = 3.841


@register(
    "logrank_test_retention",
    oracle=f"""
        WITH u AS (
            SELECT user_id, user_id % 2 AS grp,
                   MIN(epoch_ns(ts)) AS first_ts,
                   MAX(epoch_ns(ts)) AS last_ts
            FROM events GROUP BY 1, 2
        ),
        mx AS (SELECT MAX(epoch_ns(ts)) AS max_ts FROM events),
        lif AS (
            SELECT grp,
                   (last_ts - first_ts) // {_KM_DAY_NS} AS duration_days,
                   CASE WHEN m.max_ts - last_ts
                             < {_KM_CENSOR_DAYS} * {_KM_DAY_NS}
                        THEN 1 ELSE 0 END AS is_censored
            FROM u CROSS JOIN mx m
        ),
        g AS (
            SELECT duration_days,
                   CAST(SUM(CASE WHEN grp = 0 AND is_censored = 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
                   CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS t1,
                   CAST(SUM(CASE WHEN grp = 1 AND is_censored = 0
                                 THEN 1 ELSE 0 END) AS BIGINT) AS d2,
                   CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS t2
            FROM lif GROUP BY 1
        ),
        k AS (
            SELECT duration_days, d1, d2,
                   CAST(SUM(t1) OVER () - COALESCE(SUM(t1) OVER (
                            ORDER BY duration_days ROWS BETWEEN UNBOUNDED
                            PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n1,
                   CAST(SUM(t2) OVER () - COALESCE(SUM(t2) OVER (
                            ORDER BY duration_days ROWS BETWEEN UNBOUNDED
                            PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n2
            FROM g
        ),
        terms AS (
            SELECT SUM(CAST(d1 AS DOUBLE)
                       - CAST(d1 + d2 AS DOUBLE) * n1 / (n1 + n2))
                       AS o_minus_e,
                   SUM(CASE WHEN n1 + n2 > 1 THEN
                           CAST(d1 + d2 AS DOUBLE)
                           * (CAST(n1 AS DOUBLE) / (n1 + n2))
                           * (1.0 - CAST(n1 AS DOUBLE) / (n1 + n2))
                           * (n1 + n2 - d1 - d2) / (n1 + n2 - 1)
                           ELSE 0.0 END) AS var_sum,
                   CAST(SUM(d1) AS BIGINT) AS o1,
                   CAST(SUM(d2) AS BIGINT) AS o2
            FROM k
        )
        SELECT o1 AS churns_a, o2 AS churns_b,
               ROUND(o_minus_e, 6) AS o_minus_e,
               ROUND(var_sum, 6) AS variance,
               CASE WHEN var_sum <= 0 THEN NULL
                    ELSE ROUND(o_minus_e * o_minus_e / var_sum, 6) END
                   AS chi2,
               -- COALESCE: an EMPTY event table leaves var_sum NULL (not
               -- 0), which fell through to a NULL reject while the engine
               -- said 0 — no data means no rejection (empty-input probe)
               CASE WHEN COALESCE(var_sum, 0) <= 0 THEN 0
                    ELSE CAST(o_minus_e * o_minus_e / var_sum
                              > {_LR_CRIT_05} AS INT) END AS reject_05
        FROM terms
    """,
    tags=("stats", "survival", "hypothesis"),
)
def logrank_test_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id", (F.col("user_id") % 2).alias("grp")).agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    mx = ev.agg(F.max("ts").alias("max_ts"))
    lif = u.crossJoin(F.broadcast(mx)).select(  # one-row max side
        "grp",
        F.expr(f"(last_ts - first_ts) DIV {_KM_DAY_NS}").alias("duration_days"),
        F.when(
            F.col("max_ts") - F.col("last_ts")
            < _KM_CENSOR_DAYS * _KM_DAY_NS,
            1,
        )
        .otherwise(0)
        .alias("is_censored"),
    )
    g = lif.groupBy("duration_days").agg(
        F.sum(F.when((F.col("grp") == 0) & (F.col("is_censored") == 0), 1)
              .otherwise(0)).cast("bigint").alias("d1"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("t1"),
        F.sum(F.when((F.col("grp") == 1) & (F.col("is_censored") == 0), 1)
              .otherwise(0)).cast("bigint").alias("d2"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("t2"),
    )
    # duration-DOMAIN windows (the KM discipline): at-risk = total − prefix
    ord_w = Window.orderBy("duration_days")
    all_w = ord_w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    prev_w = ord_w.rowsBetween(Window.unboundedPreceding, -1)
    k = g.select(
        "duration_days",
        "d1",
        "d2",
        (
            F.sum("t1").over(all_w)
            - F.coalesce(F.sum("t1").over(prev_w), F.lit(0))
        ).cast("bigint").alias("n1"),
        (
            F.sum("t2").over(all_w)
            - F.coalesce(F.sum("t2").over(prev_w), F.lit(0))
        ).cast("bigint").alias("n2"),
    )
    nt = F.col("n1") + F.col("n2")
    dt = (F.col("d1") + F.col("d2")).cast("double")
    p1 = F.col("n1").cast("double") / nt
    terms = k.agg(
        F.sum(F.col("d1").cast("double") - dt * F.col("n1") / nt).alias(
            "o_minus_e"
        ),
        F.sum(
            F.when(
                nt > 1,
                dt * p1 * (1.0 - p1) * (nt - F.col("d1") - F.col("d2"))
                / (nt - 1),
            ).otherwise(0.0)
        ).alias("var_sum"),
        F.sum("d1").cast("bigint").alias("o1"),
        F.sum("d2").cast("bigint").alias("o2"),
    )
    # degenerate guard: an all-censored window (possible at tiny SFs) has
    # zero churn events -> V = 0 and no test statistic
    chi2 = F.when(
        F.col("var_sum") > 0,
        F.col("o_minus_e") * F.col("o_minus_e") / F.col("var_sum"),
    )
    return terms.select(
        F.col("o1").alias("churns_a"),
        F.col("o2").alias("churns_b"),
        F.round("o_minus_e", 6).alias("o_minus_e"),
        F.round("var_sum", 6).alias("variance"),
        F.round(chi2, 6).alias("chi2"),
        F.coalesce((chi2 > _LR_CRIT_05).cast("int"), F.lit(0)).alias(
            "reject_05"
        ),
    )


# ---------------------------------------------------------------------------
# Simpson's-paradox audit (Simpson 1951; the aggregation-reversal trap
# every metrics warehouse should screen for): the OLS slope of quantity
# on discount computed POOLED and within each l_returnflag stratum, with
# a flag marking strata whose slope sign CONTRADICTS the pooled sign —
# the signature of a lurking stratification variable. ONE fact pass:
# GROUPING SETS ((stratum), ()) — Spark's cube over one column — emits
# the per-stratum AND pooled moment rows from a single aggregate
# (plan-guarded: exactly one parquet scan); the pooled slope then rides
# an unpartitioned window over the 4-row grouped relation. Slopes use
# the fixed-parenthesis moment form; the zero-variance guard is
# MIN(x) = MAX(x) within the row's own scope (a stratum can be
# degenerate while the pool is not, and vice versa).
# ---------------------------------------------------------------------------
_SIMPSON_SLOPE = (
    "(sxy / n - (sx / n) * (sy / n)) / (sxx / n - (sx / n) * (sx / n))"
)


@register(
    "simpson_paradox_check",
    oracle=f"""
        WITH m AS (
            SELECT l_returnflag AS stratum,
                   GROUPING(l_returnflag) AS gid,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(l_discount) AS sx, SUM(l_quantity) AS sy,
                   SUM(l_discount * l_quantity) AS sxy,
                   SUM(l_discount * l_discount) AS sxx,
                   CAST(MIN(l_discount) = MAX(l_discount) AS INT) AS xc
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag), ())
        ),
        sl AS (
            SELECT stratum, gid, n,
                   CASE WHEN xc = 1 THEN NULL
                        -- + 0.0e0 normalizes IEEE -0.0 (bug-42 class)
                        ELSE ROUND({_SIMPSON_SLOPE}, 6) + 0.0e0 END AS slope
            FROM m
        ),
        w AS (
            SELECT *, MAX(CASE WHEN gid = 1 THEN slope END) OVER ()
                          AS pooled_slope
            FROM sl
        )
        SELECT stratum, n, slope, pooled_slope,
               CASE WHEN slope IS NULL OR pooled_slope IS NULL THEN 0
                    WHEN SIGN(slope) * SIGN(pooled_slope) < 0 THEN 1
                    ELSE 0 END AS sign_flip
        FROM w WHERE gid = 0
    """,
    tags=("stats", "audit", "regression"),
)
def simpson_paradox_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("stratum"), "l_discount", "l_quantity"
    )
    m = li.cube("stratum").agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("l_discount").alias("sx"),
        F.sum("l_quantity").alias("sy"),
        F.sum(F.col("l_discount") * F.col("l_quantity")).alias("sxy"),
        F.sum(F.col("l_discount") * F.col("l_discount")).alias("sxx"),
        (F.min("l_discount") == F.max("l_discount")).cast("int").alias("xc"),
    )
    sl = m.select(
        "stratum",
        "gid",
        "n",
        F.when(F.col("xc") == 1, F.lit(None))
        .otherwise(F.round(F.expr(_SIMPSON_SLOPE), 6) + F.lit(0.0))
        .alias("slope"),
    )
    # unpartitioned window over the 4-row grouped relation (group domain)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w = sl.select(
        "stratum",
        "gid",
        "n",
        "slope",
        F.max(F.when(F.col("gid") == 1, F.col("slope"))).over(w_all).alias(
            "pooled_slope"
        ),
    )
    flip = (
        F.when(F.col("slope").isNull() | F.col("pooled_slope").isNull(), 0)
        .when(F.signum("slope") * F.signum("pooled_slope") < 0, 1)
        .otherwise(0)
    )
    return w.where(F.col("gid") == 0).select(
        "stratum", "n", "slope", "pooled_slope", flip.alias("sign_flip")
    )


# ---------------------------------------------------------------------------
# Jaccard neighbor-overlap link prediction (Liben-Nowell & Kleinberg
# 2003) — the set-overlap member of the link-prediction family next to
# adamic_adar_link_prediction (same degree-bounded wedge join, different
# normalization): for every non-edge pair with >= 1 common neighbor,
# J = |N(a) n N(b)| / (deg a + deg b - |N(a) n N(b)|). Pure integer
# ratio -> IEEE-exact in both engines before the 6-dp round; top-50 by
# (score DESC, a, b) via TakeOrdered.
# ---------------------------------------------------------------------------
_JN_TOPK = 50


def _jaccard_link_oracle() -> str:
    from etl_pipeline_spark.plans.corpus_quality import COSUPPLIER_EDGE_CTES

    return f"""
        WITH {COSUPPLIER_EDGE_CTES},
        sym AS (
            SELECT src, dst FROM edges
            UNION ALL
            SELECT dst AS src, src AS dst FROM edges
        ),
        deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
                FROM sym GROUP BY 1),
        common AS (
            SELECT s1.src AS node_a, s2.src AS node_b,
                   CAST(COUNT(*) AS BIGINT) AS n_common
            FROM sym s1 JOIN sym s2
              ON s1.dst = s2.dst AND s1.src < s2.src
            WHERE NOT EXISTS (
                SELECT 1 FROM edges e
                WHERE e.src = s1.src AND e.dst = s2.src
            )
            GROUP BY 1, 2
        )
        SELECT c.node_a, c.node_b, c.n_common,
               ROUND(c.n_common * 1.0 / (da.deg + db.deg - c.n_common), 6)
                   AS jaccard
        FROM common c
        JOIN deg da ON da.node = c.node_a
        JOIN deg db ON db.node = c.node_b
        ORDER BY jaccard DESC, node_a ASC, node_b ASC
        LIMIT {_JN_TOPK}
    """


@register(
    "jaccard_link_prediction",
    oracle=_jaccard_link_oracle(),
    tags=("graph", "similarity"),
)
def jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_spark.operators.graph import symmetrize
    from etl_pipeline_spark.plans.corpus_quality import cosupplier_edges

    edges = cosupplier_edges(spark, sf_dir)
    sym = symmetrize(edges)
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    a = sym.select(F.col("src").alias("node_a"), F.col("dst").alias("z"))
    b = sym.select(F.col("src").alias("node_b"), F.col("dst").alias("z"))
    common = (
        a.join(b, ["z"])
        .filter(F.col("node_a") < F.col("node_b"))
        .join(
            edges,
            (edges["src"] == F.col("node_a"))
            & (edges["dst"] == F.col("node_b")),
            "anti",
        )
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    da = deg.select(F.col("node").alias("node_a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("node_b"), F.col("deg").alias("db"))
    return (
        common.join(da, "node_a")
        .join(db, "node_b")
        .select(
            "node_a",
            "node_b",
            "n_common",
            F.round(
                F.col("n_common")
                * 1.0
                / (F.col("da") + F.col("db") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), F.asc("node_a"), F.asc("node_b"))
        .limit(_JN_TOPK)
    )


# ---------------------------------------------------------------------------
# Allen interval-algebra profile of consecutive customer orders (Allen
# 1983, "Maintaining knowledge about temporal intervals"): each order's
# lifetime is [orderdate, last shipdate]; consecutive orders of the
# same customer (by orderdate, then orderkey) classify into the 13
# Allen relations (before/meets/overlaps/starts/during/finishes/equal
# + inverses). The profile is the temporal-reasoning summary a
# fulfilment warehouse reads to see how much order lifetimes interleave.
# One orders⋈lineitem aggregate for interval ends, one customer-keyed
# LEAD window, one grouped count. Epoch-integer endpoints — every
# comparison exact; the CASE ladder is textually identical in both
# engines (first match wins, so ordering ties like equals/starts are
# decided identically). NOTE on reachability: pairs come from LEAD
# ordered by (s, ok), so a_s <= b_s always holds — only the 8 relations
# possible under that constraint (equal, before, meets, starts,
# started_by, finished_by, contains, overlaps) can be emitted; the
# inverse relations (after, during, overlapped_by, met_by, finishes
# with a_s > b_s) cannot occur for start-ordered consecutive pairs and
# their branches exist solely to keep the ladder total.
# ---------------------------------------------------------------------------
_ALLEN_CASE = """
    CASE WHEN a_s = b_s AND a_e = b_e THEN 'equal'
         WHEN a_e < b_s THEN 'before'
         WHEN a_e = b_s THEN 'meets'
         WHEN a_s = b_s AND a_e < b_e THEN 'starts'
         WHEN a_s = b_s THEN 'started_by'
         WHEN a_e = b_e AND a_s < b_s THEN 'finished_by'
         WHEN a_e = b_e THEN 'finishes'
         WHEN a_s < b_s AND a_e > b_e THEN 'contains'
         WHEN a_s > b_s AND a_e < b_e THEN 'during'
         WHEN a_s < b_s AND a_e > b_s AND a_e < b_e THEN 'overlaps'
         WHEN a_s > b_s AND a_s < b_e AND a_e > b_e THEN 'overlapped_by'
         WHEN a_s >= b_e THEN 'after'
         ELSE 'other' END
"""


@register(
    "allen_interval_profile",
    oracle=f"""
        WITH iv AS (
            SELECT o.o_custkey AS ck,
                   CAST(date_diff('day', TIMESTAMP '1970-01-01 00:00:00',
                                  o.o_orderdate) AS BIGINT) AS s,
                   MAX(CAST(date_diff('day',
                                      TIMESTAMP '1970-01-01 00:00:00',
                                      l.l_shipdate) AS BIGINT)) AS e,
                   o.o_orderkey AS ok
            -- endpoint NULL guards (r11 nulls probe): an interval needs
            -- both endpoints — an undated order (s NULL) sits at opposite
            -- ends of the engines' start ordering and its ladder
            -- comparisons all fall through to 'other'; e is NULL only when
            -- every lineitem of the order has a NULL shipdate
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderdate IS NOT NULL AND l.l_shipdate IS NOT NULL
            GROUP BY 1, 2, 4
        ),
        pairs AS (
            SELECT s AS a_s, e AS a_e,
                   LEAD(s) OVER w AS b_s, LEAD(e) OVER w AS b_e
            FROM iv
            WINDOW w AS (PARTITION BY ck ORDER BY s, ok)
        )
        SELECT {_ALLEN_CASE} AS relation,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM pairs WHERE b_s IS NOT NULL
        GROUP BY 1
    """,
    tags=("relational", "temporal", "intervals"),
)
def allen_interval_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .filter(F.col("o_orderdate").isNotNull())
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_shipdate")
        .filter(F.col("l_shipdate").isNotNull())
    )
    epoch0 = F.lit("1970-01-01").cast("timestamp_ntz")
    iv = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("ck"),
            F.datediff(F.col("o_orderdate"), epoch0)
            .cast("bigint")
            .alias("s"),
            F.col("o_orderkey").alias("ok"),
        )
        .agg(
            F.max(F.datediff(F.col("l_shipdate"), epoch0).cast("bigint"))
            .alias("e")
        )
    )
    w = Window.partitionBy("ck").orderBy("s", "ok")
    pairs = iv.select(
        F.col("s").alias("a_s"),
        F.col("e").alias("a_e"),
        F.lead("s").over(w).alias("b_s"),
        F.lead("e").over(w).alias("b_e"),
    ).where(F.col("b_s").isNotNull())
    return pairs.groupBy(
        F.expr(_ALLEN_CASE).alias("relation")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
