"""Round-4 wave-3: TextRank keyword extraction, Theil–Sen robust trend,
multi-touch attribution, DAU/MAU stickiness, and funnel latency
quantiles.

Beyond-reference components; Spark-first expressions of standard
analytics primitives:

- TextRank (Mihalcea & Tarau 2004) — PageRank over the word
  co-occurrence graph (window ≤ 2 positions) extracts corpus keywords;
  REUSES the distributed `operators/graph.py::pagerank` (persisted
  degree-weighted edges, state-sized rounds) on word nodes, and the
  unrolled-CTE oracle device proves every rank cell;
- Theil–Sen estimator — median of pairwise slopes over monthly revenue
  means: robust to outlier months where OLS is not; the pair set is
  bounded (months², not rows²), and the median is an ORDER-STATISTIC
  (rank-selected, no interpolation — exactly reproducible across
  engines); the OLS slope is emitted beside it for contrast;
- multi-touch attribution — position-based (40/20/40) credit of each
  purchase to the user's view/click touches in the preceding 30 min:
  the marketing-attribution kernel; per-conversion windows over a
  user-keyed range join;
- DAU/MAU stickiness — daily distinct over monthly distinct, the
  engagement ratio every product dashboard tracks;
- funnel latency quantiles — view→purchase time-to-convert p50/p90 as
  rank-selected order statistics (type-1 quantiles, integer seconds —
  exact in both engines).

Floats round 6 dp on identical parenthesization; ranks 8 dp (the
PageRank convention); every query carries a complete-output oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_pipeline_spark.plans.registry import register
from etl_pipeline_spark.sources.star import load_table
from etl_pipeline_spark.utils.local_rows import values_df
from etl_pipeline_spark.utils.session_cache import session_memo

# ---------------------------------------------------------------------------
# TextRank keywords. Word nodes are frequency-pruned (count ≥ _TR_MIN_C
# — rare words carry no graph signal and bloat the node set); candidate
# edges are co-occurrences within 2 positions, weighted by count, then
# TOP-K SPARSIFIED per node (each word keeps its _TR_TOPK strongest
# co-occurrence partners — the same |E| ≤ k·|V| bound the co-supplier
# graph uses). Without it the word-soup corpus yields average degree
# ~400 and each PageRank round joins a million-edge relation (measured
# 14 s); sparsified rounds are state-sized (≈3 s). Every node has
# out-edges by construction (symmetry), so no dangling-mass term.
# ---------------------------------------------------------------------------
_TR_MIN_C = 10
_TR_TOPK = 8
_TR_ITER = 5
_TR_D = 0.85


def _textrank_oracle(n_iter: int = _TR_ITER, damping: float = _TR_D) -> str:
    rounds = []
    for i in range(1, n_iter + 1):
        rounds.append(f"""
        c{i} AS (
            SELECT e.dst AS node, SUM(r.rank / e.out_deg) AS contrib
            FROM ew e JOIN r{i - 1} r ON r.node = e.src
            GROUP BY 1
        ),
        r{i} AS (
            SELECT nodes.node,
                   (1.0 - {damping}) / nn.n + {damping} * COALESCE(c{i}.contrib, 0.0)
                       AS rank
            FROM nodes CROSS JOIN nn
            LEFT JOIN c{i} ON c{i}.node = nodes.node
        )""")
    chain = ",".join(rounds)
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ),
        kept AS (
            SELECT term FROM toks GROUP BY term
            HAVING COUNT(*) >= {_TR_MIN_C}
        ),
        prs AS (
            SELECT string_split(text, ' ')[i] AS wa,
                   string_split(text, ' ')[i + d] AS wb
            FROM (
                SELECT text,
                       unnest(generate_series(1, len(string_split(text, ' ')) - 1)) AS i
                FROM documents
            ), (SELECT unnest(generate_series(1, 2)) AS d)
            WHERE i + d <= len(string_split(text, ' '))
        ),
        weighted AS (
            SELECT LEAST(p.wa, p.wb) AS item_a,
                   GREATEST(p.wa, p.wb) AS item_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM prs p
            JOIN kept ka ON ka.term = p.wa
            JOIN kept kb ON kb.term = p.wb
            WHERE p.wa <> p.wb
            GROUP BY 1, 2
        ),
        directed AS (
            SELECT item_a, item_b, n_shared FROM weighted
            UNION ALL
            SELECT item_b AS item_a, item_a AS item_b, n_shared FROM weighted
        ),
        top AS (
            SELECT item_a, item_b FROM (
                SELECT item_a, item_b,
                       ROW_NUMBER() OVER (PARTITION BY item_a
                           ORDER BY n_shared DESC, item_b ASC) AS rnk
                FROM directed
            ) WHERE rnk <= {_TR_TOPK}
        ),
        rel AS (
            SELECT DISTINCT LEAST(item_a, item_b) AS wa,
                            GREATEST(item_a, item_b) AS wb
            FROM top
        ),
        edges AS (
            SELECT wa AS src, wb AS dst FROM rel
            UNION ALL
            SELECT wb AS src, wa AS dst FROM rel
        ),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS out_deg
                FROM edges GROUP BY 1),
        ew AS (SELECT edges.src, edges.dst, deg.out_deg
               FROM edges JOIN deg USING (src)),
        r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
        {chain}
        SELECT node AS keyword, ROUND(rank, 8) AS rank
        FROM r{n_iter}
        ORDER BY rank DESC, keyword
        LIMIT 20
    """


@register(
    "textrank_keywords",
    oracle=_textrank_oracle(),
    tags=("graph", "iterative", "text"),
)
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_spark.operators.graph import pagerank

    # The sparsified word graph (corpus-linear to build: token-pair
    # explode + top-k per node) is a written-once relation — memoized
    # per (session, sf_dir) like the co-supplier edges, so repeated
    # executions and future word-graph consumers pay the build once.
    rel = _textrank_word_graph(spark, sf_dir)
    edges = rel.unionByName(
        rel.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ranks = pagerank(edges, n_iter=_TR_ITER, damping=_TR_D)
    return (
        ranks.select(
            F.col("node").alias("keyword"), F.round("rank", 8).alias("rank")
        )
        .orderBy(F.desc("rank"), F.asc("keyword"))
        .limit(20)
    )


@session_memo
def _textrank_word_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k sparsified word co-occurrence graph (src < dst, distinct)."""
    from etl_pipeline_spark.plans.text_analytics import _doc_terms

    kept = (
        _doc_terms(spark, sf_dir)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _TR_MIN_C)
        .select("term")
    )
    # bind the token array ONCE: inlining split(text,' ') into every
    # lambda element access re-splits the string per access — O(n²)
    # splitting per document, measured 7.8 s for this extraction alone
    docs = (
        load_table(spark, sf_dir, "documents")
        .select(F.split("text", " ").alias("toks"))
        .filter(F.size("toks") >= 2)
    )
    # size >= 2 filter + CASE on the distance-2 arm: Spark's
    # sequence(1, 0) is a DESCENDING [1, 0] (spurious pairs / ANSI index
    # error on short docs) where DuckDB's generate_series(1, 0) is empty
    prs = docs.select(
        F.explode(
            F.expr(
                "concat("
                " transform(sequence(1, size(toks) - 1),"
                "   i -> struct(toks[i-1] AS wa, toks[i] AS wb)),"
                " CASE WHEN size(toks) >= 3 THEN"
                "   transform(sequence(1, size(toks) - 2),"
                "     i -> struct(toks[i-1] AS wa, toks[i+1] AS wb))"
                " ELSE CAST(array() AS array<struct<wa:string,wb:string>>) END)"
            )
        ).alias("p")
    ).select("p.wa", "p.wb")
    ka = kept.select(F.col("term").alias("wa"))
    kb = kept.select(F.col("term").alias("wb"))
    weighted = (
        prs.filter(F.col("wa") != F.col("wb"))
        .join(ka, "wa")
        .join(kb, "wb")
        .groupBy(
            F.least("wa", "wb").alias("item_a"),
            F.greatest("wa", "wb").alias("item_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    from etl_pipeline_spark.operators.graph import topk_neighbor_edges

    return topk_neighbor_edges(weighted, k=_TR_TOPK)  # (src<dst distinct)


# ---------------------------------------------------------------------------
# Theil–Sen robust trend over monthly revenue means. The slope estimate
# is the LOWER MEDIAN of all pairwise slopes — rank-selected, never
# interpolated, so both engines pick the identical pair. Slopes are
# rounded to 6 dp before ranking (tie-break by the month pair) so the
# selection order is identical too. Pair count is months² — bounded by
# the calendar, not the data. OLS slope from moment sums for contrast.
#
# Float determinism (scan-found on a fresh random seed): the OLS ratio
# over double monthly means sat exactly ON a 6-dp rounding midpoint and
# the engines' different SUM accumulation orders picked different
# sides. The monthly mean is now an exact BIGINT in micro-dollars
# (portable half-up over exact integer cents: one division, +0.5,
# FLOOR — no accumulation), and the OLS moments are exact integer SUMs
# over (m − min(m), vm): per-term products are ~span·5e11 and the sums
# ~span²·5e11/2 — inside BIGINT through multi-century spans. The final
# COUNT(*)·SUM cross-multiplications, however, grow ~span³·vm and would
# exceed BIGINT near a ~260-month span (ANSI overflow crash in Spark
# while DuckDB silently widens to HUGEINT — advisor-found), so each
# exact SUM is cast to DOUBLE before them: every post-SUM op is then
# the same correctly-rounded IEEE chain in both engines — still
# order-free and bit-identical, and total at any span.
# ---------------------------------------------------------------------------
@register(
    "theil_sen_price_trend",
    oracle="""
        WITH monthly AS (
            -- o_orderdate/o_totalprice IS NOT NULL (r11 nulls probe): the
            -- trend is over dated, priced orders — an all-NULL-price
            -- month's NULL slope would lead Spark's median-rank order and
            -- trail DuckDB's
            SELECT (EXTRACT(year FROM o_orderdate) * 12
                    + EXTRACT(month FROM o_orderdate) - 1) AS m,
                   CAST(FLOOR(
                       CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                            AS BIGINT) * 10000.0e0 / COUNT(*) + 0.5)
                       AS BIGINT) AS vm
            FROM orders
            WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
            GROUP BY 1
        ),
        mv AS (SELECT m, vm, vm / 1000000.0e0 AS v FROM monthly),
        prs AS (
            SELECT a.m AS ma, b.m AS mb,
                   ROUND((b.v - a.v) / (b.m - a.m), 6) AS slope
            FROM mv a JOIN mv b ON a.m < b.m
        ),
        ranked AS (
            SELECT slope,
                   ROW_NUMBER() OVER (ORDER BY slope ASC, ma ASC, mb ASC) AS r,
                   COUNT(*) OVER () AS k
            FROM prs
        ),
        ts AS (
            SELECT slope AS theil_sen_slope FROM ranked
            WHERE r = CAST(CEIL(k / 2.0e0) AS BIGINT)
        ),
        mn AS (SELECT MIN(m) AS m0 FROM monthly),
        ols AS (
            -- NULLIF: a single-month corpus has zero x-variance — the OLS
            -- slope is undefined (the row is dropped by the empty ts
            -- cross join anyway, but ANSI Spark would error before that;
            -- one-row probe, r11)
            SELECT ROUND(
                (COUNT(*) * CAST(SUM((m - m0) * vm) AS DOUBLE)
                 - CAST(SUM(m - m0) AS DOUBLE) * CAST(SUM(vm) AS DOUBLE))
                / NULLIF(COUNT(*) * CAST(SUM((m - m0) * (m - m0)) AS DOUBLE)
                   - CAST(SUM(m - m0) AS DOUBLE) * CAST(SUM(m - m0) AS DOUBLE),
                   0)
                / 1000000.0e0, 6) + 0.0e0 AS ols_slope,
                   CAST(COUNT(*) AS BIGINT) AS n_months
            FROM monthly CROSS JOIN mn
        )
        SELECT o.n_months,
               CAST(o.n_months * (o.n_months - 1) / 2 AS BIGINT) AS n_pairs,
               t.theil_sen_slope, o.ols_slope
        FROM ols o CROSS JOIN ts t
    """,
    tags=("stats", "timeseries", "robust"),
)
def theil_sen_price_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    monthly = (
        orders.select(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("m"),
            F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("cents"),
        )
        .groupBy("m")
        .agg(
            F.expr(
                "CAST(FLOOR(SUM(cents) * 10000.0e0 / COUNT(*) + 0.5) AS BIGINT)"
            ).alias("vm")
        )
    )
    mv = monthly.withColumn("v", F.expr("vm / 1000000.0e0"))
    a = mv.select(F.col("m").alias("ma"), F.col("v").alias("va"))
    b = mv.select(F.col("m").alias("mb"), F.col("v").alias("vb"))
    prs = a.join(b, F.col("ma") < F.col("mb")).select(
        "ma",
        "mb",
        F.round((F.col("vb") - F.col("va")) / (F.col("mb") - F.col("ma")), 6).alias(
            "slope"
        ),
    )
    wr = Window.orderBy(F.asc("slope"), F.asc("ma"), F.asc("mb"))  # months² rows
    ranked = prs.withColumn("r", F.row_number().over(wr)).withColumn(
        "k", F.count(F.lit(1)).over(Window.partitionBy())
    )
    ts = ranked.filter(
        F.col("r") == F.expr("CAST(CEIL(k / 2.0e0) AS BIGINT)")
    ).select(F.col("slope").alias("theil_sen_slope"))
    mn = monthly.agg(F.min("m").alias("m0"))
    ols = monthly.crossJoin(F.broadcast(mn)).agg(
        # NULLIF mirrors the oracle: single-month → undefined OLS slope
        # instead of an ANSI 0-divide (one-row probe, r11)
        F.expr(
            "ROUND((COUNT(*) * CAST(SUM((m - m0) * vm) AS DOUBLE)"
            " - CAST(SUM(m - m0) AS DOUBLE) * CAST(SUM(vm) AS DOUBLE))"
            " / NULLIF(COUNT(*) * CAST(SUM((m - m0) * (m - m0)) AS DOUBLE)"
            " - CAST(SUM(m - m0) AS DOUBLE) * CAST(SUM(m - m0) AS DOUBLE), 0)"
            " / 1000000.0e0, 6) + 0.0e0"  # -0.0 normalization (bug-42 class)
        ).alias("ols_slope"),
        F.count(F.lit(1)).cast("bigint").alias("n_months"),
    )
    return ols.crossJoin(ts).select(
        "n_months",
        (F.col("n_months") * (F.col("n_months") - 1) / 2)
        .cast("bigint")
        .alias("n_pairs"),
        "theil_sen_slope",
        "ols_slope",
    )


# ---------------------------------------------------------------------------
# Position-based (40/20/40) multi-touch attribution: each purchase
# credits the user's view/click touches in the preceding 30 minutes —
# first touch 0.4, last touch 0.4, middles share 0.2 evenly (single
# touch gets 1.0; two touches 0.5/0.5 — the standard U-shape
# degeneration). The touch↔conversion pairing goes through
# operators/rangejoin.py::bucketed_interval_join — a hash equi-join on
# (user, 30-min time-bin) with the exact range as residual, the same
# device as range_join_click_attribution (a bare user-keyed theta join
# would materialize V·P candidate pairs per power user before the
# residual filter) — and the per-conversion position window is bounded
# by the 30-minute horizon.
# ---------------------------------------------------------------------------
_ATTR_NS = 30 * 60 * 1_000_000_000


@register(
    "attribution_credit_events",
    oracle=f"""
        WITH purchases AS (
            SELECT event_id AS p_id, user_id, epoch_ns(ts) AS tp
            FROM events WHERE event_type = 'purchase'
        ),
        touches AS (
            SELECT event_id AS t_id, user_id, event_type, epoch_ns(ts) AS tt
            FROM events WHERE event_type IN ('view', 'click')
        ),
        paired AS (
            SELECT p.p_id, t.t_id, t.event_type,
                   ROW_NUMBER() OVER (PARTITION BY p.p_id
                       ORDER BY t.tt, t.t_id) AS pos,
                   COUNT(*) OVER (PARTITION BY p.p_id) AS n_t
            FROM purchases p JOIN touches t
              ON t.user_id = p.user_id
             AND t.tt < p.tp AND t.tt >= p.tp - {_ATTR_NS}
        ),
        credited AS (
            SELECT event_type,
                   CASE WHEN n_t = 1 THEN 1.0
                        WHEN pos = 1 OR pos = n_t THEN
                            CASE WHEN n_t = 2 THEN 0.5 ELSE 0.4 END
                        ELSE 0.2 / (n_t - 2) END AS credit
            FROM paired
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_touches,
               ROUND(SUM(credit), 6) AS credit
        FROM credited GROUP BY event_type
    """,
    tags=("timeseries", "join", "attribution"),
)
def attribution_credit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_spark.operators.rangejoin import bucketed_interval_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("tp"),
    )
    touches = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("t_id"),
        F.col("user_id").alias("t_user"),
        "event_type",
        F.col("ts").alias("tt"),
    )
    # hash equi-join on (user, 30-min time-bin) with the exact range as
    # residual — tt ∈ [tp - Δ, tp - 1] ns ⇔ tp - Δ <= tt < tp
    paired = bucketed_interval_join(
        purchases,
        touches,
        left_ts="tp",
        right_ts="tt",
        lower_offset=-_ATTR_NS,
        upper_offset=-1,
        bucket_width=_ATTR_NS,
        equi_keys=[("p_user", "t_user")],
    )
    w = Window.partitionBy("p_id").orderBy("tt", "t_id")
    wc = Window.partitionBy("p_id")
    pos = paired.select(
        "p_id",
        "event_type",
        F.row_number().over(w).alias("pos"),
        F.count(F.lit(1)).over(wc).alias("n_t"),
    )
    credit = (
        F.when(F.col("n_t") == 1, 1.0)
        .when(
            (F.col("pos") == 1) | (F.col("pos") == F.col("n_t")),
            F.when(F.col("n_t") == 2, 0.5).otherwise(0.4),
        )
        .otherwise(0.2 / (F.col("n_t") - 2))
    )
    return (
        pos.select("event_type", credit.alias("credit"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.round(F.sum("credit"), 6).alias("credit"),
        )
    )


# ---------------------------------------------------------------------------
# DAU/MAU stickiness: daily distinct users over the month's distinct
# users — the engagement ratio. Two grouped distinct aggregates (the
# HLL register path is the approximate swap at unbounded user counts —
# see windowed_distinct_users); the month total broadcasts back over
# the 30 daily rows.
# ---------------------------------------------------------------------------
_DAY_NS = 86_400_000_000_000


@register(
    "stickiness_dau_mau",
    oracle=f"""
        WITH dau AS (
            SELECT (epoch_ns(ts) // {_DAY_NS}) * 86400 AS day_epoch,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
            FROM events GROUP BY 1
        ),
        mau AS (
            SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau FROM events
        )
        SELECT d.day_epoch, d.dau, m.mau,
               ROUND(d.dau * 1.0 / m.mau, 6) AS stickiness
        FROM dau d CROSS JOIN mau m
    """,
    tags=("agg", "engagement", "cardinality"),
)
def stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.expr(f"(ts DIV {_DAY_NS}) * 86400").alias("day_epoch"), "user_id"
    )
    dau = ev.groupBy("day_epoch").agg(
        F.countDistinct("user_id").cast("bigint").alias("dau")
    )
    mau = ev.agg(F.countDistinct("user_id").cast("bigint").alias("mau"))
    return dau.crossJoin(F.broadcast(mau)).select(
        "day_epoch",
        "dau",
        "mau",
        F.round(F.col("dau") * 1.0 / F.col("mau"), 6).alias("stickiness"),
    )


# ---------------------------------------------------------------------------
# Funnel latency quantiles: view→purchase time-to-convert per user (the
# latest view before each purchase, as-of style), p50/p90 as TYPE-1
# (rank-selected) quantiles in integer seconds — exact and identical in
# both engines, no interpolation. The as-of pairing is ONE user-keyed
# RANGE window (the asof_purchase_last_view device,
# plans/streaming_batch.py — no join at all: a purchases×views theta
# join is per-user quadratic under a power user/bot at 100×), and the
# rank selection runs over the latency HISTOGRAM — state bounded by the
# distinct-latency domain (the time range in seconds), never the
# conversion count, so no single-partition sort of a fact-sized
# relation. The oracle keeps the naive theta-join + global ROW_NUMBER
# spelling (DuckDB at sf0.01): rank-at-ceil(k·q) over (latency, p_id)
# equals the smallest latency whose cumulative count reaches the rank,
# so both forms pick the identical value by construction.
# ---------------------------------------------------------------------------
@register(
    "funnel_latency_quantiles",
    oracle="""
        WITH purchases AS (
            SELECT event_id AS p_id, user_id, epoch_ns(ts) AS tp
            FROM events WHERE event_type = 'purchase'
        ),
        views AS (
            SELECT user_id, epoch_ns(ts) AS tv
            FROM events WHERE event_type = 'view'
        ),
        conv AS (
            SELECT p.p_id, (p.tp - MAX(v.tv)) // 1000000000 AS latency_sec
            FROM purchases p JOIN views v
              ON v.user_id = p.user_id AND v.tv < p.tp
            GROUP BY p.p_id, p.tp
        ),
        ranked AS (
            SELECT latency_sec,
                   ROW_NUMBER() OVER (ORDER BY latency_sec ASC, p_id ASC) AS r,
                   COUNT(*) OVER () AS k
            FROM conv
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_conversions,
               MAX(CASE WHEN r = CAST(CEIL(k * 0.5e0) AS BIGINT)
                        THEN latency_sec END) AS p50_latency_sec,
               MAX(CASE WHEN r = CAST(CEIL(k * 0.9e0) AS BIGINT)
                        THEN latency_sec END) AS p90_latency_sec
        FROM ranked
    """,
    tags=("timeseries", "join", "funnel"),
)
def funnel_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    # as-of pairing with ONE user-keyed window: ts is int64 ns, so the
    # RANGE frame ending at -1 is exactly the strict tv < tp bound
    w_asof = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    last_view = F.max(F.when(F.col("event_type") == "view", F.col("ts"))).over(w_asof)
    conv = (
        ev.select("event_type", "ts", last_view.alias("tv"))
        .filter((F.col("event_type") == "purchase") & F.col("tv").isNotNull())
        .select(F.expr("(ts - tv) DIV 1000000000").alias("latency_sec"))
    )
    # histogram cells: the only unpartitioned windows below run over the
    # per-distinct-latency aggregate (bounded by the value domain)
    hist = conv.groupBy("latency_sec").agg(F.count(F.lit(1)).alias("cnt"))
    cum_w = Window.orderBy("latency_sec").rowsBetween(Window.unboundedPreceding, 0)
    all_w = Window.orderBy("latency_sec").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cells = hist.select(
        "latency_sec",
        F.sum("cnt").over(cum_w).alias("cum"),
        F.sum("cnt").over(all_w).alias("k"),
    )
    # the rank-ceil(k·q) order statistic = smallest latency whose
    # cumulative count reaches the rank; coalesce: an empty conversion
    # relation must report 0, matching the oracle's COUNT(*)
    return cells.agg(
        F.coalesce(F.max("k"), F.lit(0)).cast("bigint").alias("n_conversions"),
        F.min(
            F.when(
                F.col("cum") >= F.expr("CAST(CEIL(k * 0.5e0) AS BIGINT)"),
                F.col("latency_sec"),
            )
        ).alias("p50_latency_sec"),
        F.min(
            F.when(
                F.col("cum") >= F.expr("CAST(CEIL(k * 0.9e0) AS BIGINT)"),
                F.col("latency_sec"),
            )
        ).alias("p90_latency_sec"),
    )


# ---------------------------------------------------------------------------
# Top session paths: sessionize (30-min gap), take each session's first
# 5 event types in order, count path strings, top-20. The product-
# analytics "what do users actually do" report. Path assembly sorts the
# bounded (rn, type) structs INSIDE the aggregate (array_sort on ≤5
# elements) — collect_list order is partition-dependent, the sort makes
# it deterministic; DuckDB's ordered string_agg is the same contract.
# One user-keyed window shuffle + one path-keyed count;
# TakeOrderedAndProject for the top-k.
# ---------------------------------------------------------------------------
_SP_GAP_NS = 30 * 60 * 1_000_000_000
_SP_LEN = 5
_SP_TOPK = 20


@register(
    "session_path_topk",
    oracle=f"""
        WITH seq AS (
            SELECT user_id, event_type, epoch_ns(ts) AS t, event_id,
                   CASE WHEN epoch_ns(ts) - LAG(epoch_ns(ts)) OVER w > {_SP_GAP_NS}
                        OR LAG(epoch_ns(ts)) OVER w IS NULL
                        THEN 1 ELSE 0 END AS new_session
            -- ts/event_type IS NOT NULL (r11 nulls probe): the chain
            -- convention — untimestamped events have no place on the gap
            -- timeline, typeless events contribute no path step (DuckDB's
            -- string_agg would skip them while the step count still moved)
            FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
        ),
        tagged AS (
            SELECT user_id, event_type, t, event_id,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY t, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_nr
            FROM seq
        ),
        numbered AS (
            SELECT user_id, session_nr, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id, session_nr
                       ORDER BY t, event_id) AS rn
            FROM tagged
        ),
        paths AS (
            SELECT user_id, session_nr,
                   string_agg(event_type, '>' ORDER BY rn) AS path
            FROM numbered WHERE rn <= {_SP_LEN}
            GROUP BY user_id, session_nr
        )
        SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
        FROM paths GROUP BY path
        ORDER BY n_sessions DESC, path ASC
        LIMIT {_SP_TOPK}
    """,
    tags=("timeseries", "session", "funnel"),
)
def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
    )
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(order_w)
    new_session = F.when(
        prev.isNull() | ((F.col("ts") - prev) > _SP_GAP_NS), 1
    ).otherwise(0)
    cum_w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tagged = ev.withColumn(
        "session_nr", F.sum(new_session).over(cum_w)
    )
    rn_w = Window.partitionBy("user_id", "session_nr").orderBy("ts", "event_id")
    numbered = tagged.withColumn("rn", F.row_number().over(rn_w)).filter(
        F.col("rn") <= _SP_LEN
    )
    paths = numbered.groupBy("user_id", "session_nr").agg(
        F.expr(
            "concat_ws('>', transform(array_sort(collect_list("
            "struct(rn, event_type))), s -> s.event_type))"
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(_SP_TOPK)
    )


# ---------------------------------------------------------------------------
# Row-pattern matching (SQL:2016 MATCH_RECOGNIZE-style, which Spark has
# no builtin for): detect V-shaped price patterns — a run of >= 2
# consecutive monthly declines immediately followed by a run of >= 2
# consecutive rises — per part over its monthly average unit price.
# The classic PATTERN (DOWN{2,} UP{2,}) example, re-expressed as
# gaps-and-islands: per-part LAG direction → run ids via change-flag
# cumsum → per-run aggregates (min_by/arg_min carries the pre-decline
# peak price) → LEAD pairs adjacent runs. Every window partitions by
# part (the natural key); runs are a change-count-sized relation.
# Months are row-adjacent in the part's observed series (gaps collapse,
# like acf_daily_revenue's row-lags); prices round to 2 dp before the
# direction sign so both engines see identical comparisons.
# ---------------------------------------------------------------------------
@register(
    "pattern_vshape_prices",
    oracle="""
        WITH cells AS (
            SELECT l_partkey,
                   CAST(EXTRACT(year FROM l_shipdate) * 12
                        + EXTRACT(month FROM l_shipdate) - 1 AS BIGINT) AS m,
                   SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS sc,
                   SUM(CAST(l_quantity AS BIGINT)) AS sq
            FROM lineitem GROUP BY 1, 2
        ),
        monthly AS (
            -- a (part, month) cell whose lines carry ZERO total quantity
            -- has no unit price: 0-division is an ANSI crash in Spark
            -- and NaN in DuckDB (probe-found via a planted zero-quantity
            -- free-item line) — such months drop out of the series, the
            -- Benford out-of-domain convention
            SELECT l_partkey, m,
                   CAST(FLOOR(sc * 1.0e0 / sq + 0.5) AS BIGINT) AS p
            FROM cells WHERE sq > 0
        ),
        dirs AS (
            SELECT l_partkey, m, p,
                   LAG(p) OVER w AS prev_p,
                   CASE WHEN p > LAG(p) OVER w THEN 1
                        WHEN p < LAG(p) OVER w THEN -1 ELSE 0 END AS d
            FROM monthly
            WINDOW w AS (PARTITION BY l_partkey ORDER BY m)
        ),
        flagged AS (
            SELECT l_partkey, m, p, prev_p, d,
                   CASE WHEN LAG(d) OVER w IS DISTINCT FROM d
                        THEN 1 ELSE 0 END AS new_run
            FROM dirs WHERE prev_p IS NOT NULL
            WINDOW w AS (PARTITION BY l_partkey ORDER BY m)
        ),
        runs AS (
            SELECT l_partkey, run_id,
                   MIN(d) AS d, CAST(COUNT(*) AS BIGINT) AS len,
                   MIN(m) AS first_m,
                   arg_min(prev_p, m) AS start_p,
                   arg_max(p, m) AS end_p
            FROM (
                SELECT *, SUM(new_run) OVER (
                    PARTITION BY l_partkey ORDER BY m
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
                FROM flagged
            ) GROUP BY 1, 2
        ),
        vshapes AS (
            SELECT l_partkey, first_m,
                   start_p - end_p AS depth_cents
            FROM (
                SELECT l_partkey, d, len, first_m, start_p, end_p,
                       LEAD(d) OVER w AS next_d,
                       LEAD(len) OVER w AS next_len
                FROM runs
                WINDOW w AS (PARTITION BY l_partkey ORDER BY run_id)
            )
            WHERE d = -1 AND len >= 2 AND next_d = 1 AND next_len >= 2
        )
        SELECT l_partkey,
               CAST(COUNT(*) AS BIGINT) AS n_vshapes,
               MAX(depth_cents) / 100.0 AS max_drop,
               MIN(first_m) AS first_v_month
        FROM vshapes GROUP BY 1
    """,
    tags=("timeseries", "pattern", "window"),
)
def pattern_vshape_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # monthly price stays in EXACT INTEGER CENTS end-to-end: p =
    # floor(total_cents / total_qty + 0.5). Two prior forms both failed
    # parity on ~0.5% of cells (measured): ROUND(AVG(float-div), 2)
    # rides partial-agg ulps, and even ROUND(exact_ratio, 2) diverges on
    # representational halves (Spark rounds the double's SHORTEST
    # DECIMAL string — 37700.215 → .22 — where DuckDB rounds its binary
    # value 37700.21499… → .21). Integer cents make every comparison,
    # run split, and depth subtraction exact in both engines; the only
    # float is the final /100.0 of an exact integer.
    monthly = (
        li.select(
            "l_partkey",
            (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1)
            .cast("bigint")
            .alias("m"),
            F.expr("CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)").alias(
                "cents"
            ),
            F.expr("CAST(l_quantity AS BIGINT)").alias("qty"),
        )
        .groupBy("l_partkey", "m")
        .agg(F.sum("cents").alias("sc"), F.sum("qty").alias("sq"))
        # zero-total-quantity cells have no unit price — dropped BEFORE
        # the division so Spark's ANSI 0-divide can't fire (see oracle)
        .filter(F.col("sq") > 0)
        .select(
            "l_partkey",
            "m",
            F.expr("CAST(FLOOR(sc * 1.0e0 / sq + 0.5) AS BIGINT)").alias("p"),
        )
    )
    w = Window.partitionBy("l_partkey").orderBy("m")
    dirs = monthly.select(
        "l_partkey",
        "m",
        "p",
        F.lag("p").over(w).alias("prev_p"),
        F.when(F.col("p") > F.lag("p").over(w), 1)
        .when(F.col("p") < F.lag("p").over(w), -1)
        .otherwise(0)
        .alias("d"),
    ).filter(F.col("prev_p").isNotNull())
    flagged = dirs.select(
        "l_partkey",
        "m",
        "p",
        "prev_p",
        "d",
        F.when(
            ~F.lag("d").over(w).eqNullSafe(F.col("d")), 1
        )
        .otherwise(0)
        .alias("new_run"),
    )
    cum_w = w.rowsBetween(Window.unboundedPreceding, 0)
    runs = (
        flagged.withColumn("run_id", F.sum("new_run").over(cum_w))
        .groupBy("l_partkey", "run_id")
        .agg(
            F.min("d").alias("d"),
            F.count(F.lit(1)).cast("bigint").alias("len"),
            F.min("m").alias("first_m"),
            F.min_by("prev_p", "m").alias("start_p"),
            F.max_by("p", "m").alias("end_p"),
        )
    )
    rw = Window.partitionBy("l_partkey").orderBy("run_id")
    vshapes = (
        runs.select(
            "l_partkey",
            "d",
            "len",
            "first_m",
            "start_p",
            "end_p",
            F.lead("d").over(rw).alias("next_d"),
            F.lead("len").over(rw).alias("next_len"),
        )
        .filter(
            (F.col("d") == -1)
            & (F.col("len") >= 2)
            & (F.col("next_d") == 1)
            & (F.col("next_len") >= 2)
        )
        .select(
            "l_partkey",
            "first_m",
            (F.col("start_p") - F.col("end_p")).alias("depth_cents"),
        )
    )
    return vshapes.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vshapes"),
        (F.max("depth_cents") / 100.0).alias("max_drop"),
        F.min("first_m").alias("first_v_month"),
    )


# ---------------------------------------------------------------------------
# Markov removal-effect attribution (round-6 wave; Anderl et al. 2014,
# "Mapping the customer journey"): credit each touch channel by how much
# total conversion probability DISAPPEARS when that channel is removed
# from the first-order journey chain. States: start, the four touch
# types, and two absorbers (purchase, null). Journeys segment at
# purchases (the next touch restarts at `start`); a user's trailing
# unconverted touch transitions to `null`. Removing channel c redirects
# every s→c edge to null.
#
# The chain solve is K=30 synchronous probability-mass iterations
# v_{k+1} = vP. The ONLY fact-sized work is the transition-count
# aggregate (one per-user window + one groupBy) — that stays
# distributed. The transition matrix itself is a CHANNEL-DOMAIN
# artifact (≤7×7 rows at any data volume), so the solve collects it to
# the driver and runs the 30×|removals|×49 scalar recursion in plain
# Python — the k-means-seed pattern (bounded-domain collect + broadcast
# of the result), NOT a data-sized collect. A previous revision ran the
# 30 rounds as Spark jobs over the ≤35-row state relation; that was
# MEASURED at 42 s of pure per-round scheduling overhead at sf0.1
# (SCALING.md "The markov chain-solve round-trip tax") against ~2 s for
# the identical arithmetic on the driver — at 100 TB the matrix is the
# same ≤49 rows, so the driver solve is the scale-correct plan, not a
# shortcut. The oracle unrolls the same 30 steps as chained CTEs; both
# engines' per-step sums differ only in addend order (jitter ~1e-15,
# far under the 6-dp round).
# ---------------------------------------------------------------------------
_MRK_K = 30
_MRK_CHANNELS = ("click", "error", "signup", "view")


def _markov_oracle() -> str:
    removals = ", ".join(f"('{c}')" for c in ("none", *_MRK_CHANNELS))
    # AS MATERIALIZED: DuckDB inlines plain CTEs, which would expand the
    # 30-step chain into an exponentially nested join tree — materializing
    # each tiny step keeps planning linear (the SQL analogue of the
    # localCheckpoint below)
    steps = "\n".join(
        f"""        v{k + 1} AS MATERIALIZED (
            SELECT p.removed, p.dst AS state, SUM(v{k}.p * p.pr) AS p
            FROM v{k} JOIN pmat p
              ON p.removed = v{k}.removed AND p.src = v{k}.state
            GROUP BY 1, 2
        ),"""
        for k in range(_MRK_K)
    )
    return f"""
        WITH seq AS (
            -- ts/event_type IS NOT NULL (r11 nulls probe): the chain
            -- convention — a NULL channel is no state (it crashed the
            -- driver-side edge sort) and an untimestamped touch has no
            -- position in the path
            SELECT user_id, event_type,
                   LAG(event_type) OVER w AS prev,
                   LEAD(event_type) OVER w AS nxt
            FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        trans AS (
            SELECT CASE WHEN prev IS NULL OR prev = 'purchase'
                        THEN 'start' ELSE prev END AS src,
                   event_type AS dst
            FROM seq
            UNION ALL
            SELECT event_type AS src, 'null' AS dst
            FROM seq WHERE nxt IS NULL AND event_type <> 'purchase'
        ),
        cnt AS (SELECT src, dst, COUNT(*) AS c FROM trans GROUP BY 1, 2),
        tot AS (SELECT src, SUM(c) AS t FROM cnt GROUP BY 1),
        base AS (
            SELECT cnt.src, cnt.dst, cnt.c * 1.0 / tot.t AS pr
            FROM cnt JOIN tot ON tot.src = cnt.src
        ),
        rems AS (SELECT * FROM (VALUES {removals}) AS r(removed)),
        pmat0 AS (
            SELECT r.removed, b.src,
                   CASE WHEN b.dst = r.removed THEN 'null' ELSE b.dst END
                       AS dst,
                   b.pr
            FROM base b CROSS JOIN rems r
        ),
        redge AS (
            SELECT removed, src, dst, SUM(pr) AS pr
            FROM pmat0 GROUP BY 1, 2, 3
        ),
        pmat AS MATERIALIZED (
            SELECT removed, src, dst, pr FROM redge
            UNION ALL
            SELECT removed, a.s, a.s, 1.0
            FROM rems, (VALUES ('purchase'), ('null')) AS a(s)
        ),
        v0 AS (SELECT removed, 'start' AS state, 1.0 AS p FROM rems),
{steps}
        conv AS (
            SELECT removed, SUM(p) AS cp FROM v{_MRK_K}
            WHERE state = 'purchase' GROUP BY 1
        ),
        b2 AS (SELECT cp AS base_cp FROM conv WHERE removed = 'none'),
        eff AS (
            SELECT c.removed AS channel,
                   GREATEST(1.0 - c.cp / b.base_cp, 0.0) AS effect
            FROM conv c CROSS JOIN b2 b WHERE c.removed <> 'none'
        ),
        se AS (SELECT SUM(effect) AS s FROM eff)
        SELECT e.channel,
               ROUND(e.effect, 6) AS removal_effect,
               CASE WHEN se.s <= 0 THEN NULL
                    ELSE ROUND(e.effect / se.s, 6) END AS attribution_share
        FROM eff e CROSS JOIN se
    """


@register(
    "markov_attribution_removal",
    oracle=_markov_oracle(),
    tags=("events", "attribution", "graph"),
)
def markov_attribution_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_type", "ts", "event_id")
        .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type").over(w).alias("prev"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    fwd = seq.select(
        F.when(
            F.col("prev").isNull() | (F.col("prev") == "purchase"), "start"
        )
        .otherwise(F.col("prev"))
        .alias("src"),
        F.col("event_type").alias("dst"),
    )
    tail = seq.where(
        F.col("nxt").isNull() & (F.col("event_type") != "purchase")
    ).select(F.col("event_type").alias("src"), F.lit("null").alias("dst"))
    cnt = fwd.unionByName(tail).groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = cnt.groupBy("src").agg(F.sum("c").alias("t"))
    base = cnt.join(tot, "src").select(
        "src", "dst", (F.col("c") * 1.0 / F.col("t")).alias("pr")
    )
    # CHANNEL-DOMAIN collect (≤7×7 rows at ANY volume — the k-means-seed
    # pattern): the fact-sized work ended at the `cnt` aggregate above.
    edges = sorted(
        ((r["src"], r["dst"], r["pr"]) for r in base.collect()),
        key=lambda e: (e[0], e[1]),
    )

    def _solve(removed: str) -> float:
        # redirect s→removed onto null, add absorber self-loops, run K
        # synchronous v·P steps; summation in sorted edge order (both
        # engines' own orders differ only in the ~1e-15 tail).
        mat: dict[tuple[str, str], float] = {}
        for s, d, pr in edges:
            dd = "null" if d == removed else d
            mat[(s, dd)] = mat.get((s, dd), 0.0) + pr
        for a in ("purchase", "null"):
            mat[(a, a)] = 1.0
        v = {"start": 1.0}
        for _ in range(_MRK_K):
            nxt: dict[str, float] = {}
            for (s, d), pr in sorted(mat.items()):
                if s in v:
                    nxt[d] = nxt.get(d, 0.0) + v[s] * pr
            v = nxt
        return v.get("purchase", 0.0)

    base_cp = _solve("none")
    if base_cp == 0.0:
        # No purchase mass (degenerate/filtered data): the oracle's
        # b2/eff CTEs are empty in this case — return empty, don't
        # divide by zero.
        return values_df(
            spark, [], "channel string, removal_effect double, attribution_share double"
        )
    effects = [
        (c, max(1.0 - _solve(c) / base_cp, 0.0)) for c in _MRK_CHANNELS
    ]
    s = sum(e for _, e in effects)
    # HALF_UP like the oracle's ROUND — Python round() is half-to-even
    # and diverges on exact 6-dp midpoints (the advisor-flagged class)
    from etl_pipeline_spark.utils.rounding import round6_half_up

    rows = [
        (c, round6_half_up(e), round6_half_up(e / s) if s > 0 else None)
        for c, e in effects
    ]
    return values_df(
        spark, rows, "channel string, removal_effect double, attribution_share double"
    )
