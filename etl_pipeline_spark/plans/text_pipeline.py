"""Text-pipeline and profiling queries: chunking, BM25 search, profiling.

Training-data preparation shapes beyond the reference's surface
(SURVEY.md §7 north star), each oracle-checked cell-for-cell against
DuckDB: overlapping token chunking (context-window splitting), BM25
keyword scoring (corpus curation / retrieval), and single-pass table
profiling (the generalized form of the reference's scattered validation
checks, `etl/pipeline.py:633-651`, `etl/mapping.py:242-268`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_spark.operators.profile import profile
from etl_pipeline_spark.operators.textprep import (
    bm25_scores,
    chunk_tokens,
    eval_contamination,
    repetition_metrics,
)
from etl_pipeline_spark.plans.registry import register
from etl_pipeline_spark.sources.star import load_table
from etl_pipeline_spark.utils.session_cache import session_memo

# --------------------------------------------------------------------------
# Overlapping token chunking: chunk_size=20, stride=15 (5-token overlap).
# Narrow op (zero shuffle): each doc locally explodes into
# ceil(n_tokens/15) rows. At 100 TB the output is ~4/3× the token volume
# and partitioning follows the scan — nothing to re-plan.
# --------------------------------------------------------------------------
@register(
    "doc_chunk_overlap",
    oracle=r"""
        WITH toks AS (
            -- COALESCE: NULL bodies follow the empty-doc convention
            -- (one chunk, zero tokens) — see chunk_tokens
            SELECT doc_id,
                   regexp_split_to_array(TRIM(COALESCE(text, '')), '\s+') AS toks
            FROM documents
        ),
        starts AS (
            SELECT doc_id, toks,
                   UNNEST(generate_series(1, GREATEST(len(toks), 1), 15)) AS start
            FROM toks
        )
        SELECT doc_id,
               CAST((start - 1) // 15 AS BIGINT) AS chunk_id,
               CAST(LEAST(20, len(toks) - start + 1) AS BIGINT) AS n_tokens,
               array_to_string(toks[start : start + 19], ' ') AS chunk_text
        FROM starts
    """,
    tags=("text", "chunking", "narrow"),
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return chunk_tokens(docs, chunk_size=20, stride=15)


# --------------------------------------------------------------------------
# BM25 keyword scoring, top-10 docs for a 3-term query. The tf shuffle
# carries only tokens matching the query terms (filter before aggregate);
# df and corpus stats are term-count-sized → broadcast. Scores rounded to
# 6 dp before the ORDER BY so the sort key is bit-identical across engines.
# --------------------------------------------------------------------------
@register(
    "bm25_keyword_topk",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id,
                   UNNEST(regexp_split_to_array(TRIM(text), '\s+')) AS tok
            FROM documents
        ),
        dl AS (
            SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl
            FROM toks GROUP BY doc_id
        ),
        stats AS (
            SELECT (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents) AS n_docs,
                   (SELECT AVG(dl) FROM dl) AS avgdl
        ),
        tf AS (
            SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
            FROM toks WHERE tok IN ('hash', 'join', 'filter')
            GROUP BY doc_id, tok
        ),
        dfreq AS (
            SELECT tok, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
            FROM toks WHERE tok IN ('hash', 'join', 'filter')
            GROUP BY tok
        )
        SELECT tf.doc_id AS doc_id,
               ROUND(SUM(
                   LN((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                   * tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
               ), 6) AS bm25
        FROM tf
        JOIN dfreq USING (tok)
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats
        GROUP BY tf.doc_id
        ORDER BY bm25 DESC, tf.doc_id
        LIMIT 10
    """,
    tags=("text", "search", "agg", "broadcast"),
)
def bm25_keyword_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = bm25_scores(docs, ["hash", "join", "filter"], k1=1.2, b=0.75)
    return (
        scored.select("doc_id", F.round("score", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# Single-pass profiling of the orders table: every per-column statistic
# from ONE aggregation (Expand-based multi-distinct), unpivoted by a single
# stack generator — the table is scanned once however many columns it has
# (test-asserted in test_textprep_profile.py).
# --------------------------------------------------------------------------
@register(
    "profile_orders",
    oracle="""
        SELECT 'o_orderkey' AS col_name,
               CAST(COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
               CAST(MIN(o_orderkey) AS DOUBLE) AS min_num,
               CAST(MAX(o_orderkey) AS DOUBLE) AS max_num,
               CAST(NULL AS DOUBLE) AS min_len, CAST(NULL AS DOUBLE) AS max_len
        FROM orders
        UNION ALL
        SELECT 'o_custkey',
               CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT),
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
               CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus',
               CAST(COUNT(*) FILTER (WHERE o_orderstatus IS NULL) AS BIGINT),
               CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
               CAST(MIN(LENGTH(o_orderstatus)) AS DOUBLE),
               CAST(MAX(LENGTH(o_orderstatus)) AS DOUBLE)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice',
               CAST(COUNT(*) FILTER (WHERE o_totalprice IS NULL) AS BIGINT),
               CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
               CAST(MIN(o_totalprice) AS DOUBLE), CAST(MAX(o_totalprice) AS DOUBLE),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        FROM orders
        UNION ALL
        SELECT 'o_orderdate',
               CAST(COUNT(*) FILTER (WHERE o_orderdate IS NULL) AS BIGINT),
               CAST(COUNT(DISTINCT o_orderdate) AS BIGINT),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority',
               CAST(COUNT(*) FILTER (WHERE o_orderpriority IS NULL) AS BIGINT),
               CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
               CAST(MIN(LENGTH(o_orderpriority)) AS DOUBLE),
               CAST(MAX(LENGTH(o_orderpriority)) AS DOUBLE)
        FROM orders
    """,
    tags=("profiling", "agg", "quality"),
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Inverted-index AND-search: documents containing ALL query terms.
# The posting-list intersection is expressed as filter → groupBy(doc)
# HAVING COUNT(DISTINCT term) = |terms| — one shuffle that carries only
# matching (doc, term) pairs (at 100 TB: proportional to posting-list
# sizes, not corpus size), then a semi-join back for the payload columns.
# --------------------------------------------------------------------------
@register(
    "keyword_and_search",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id,
                   UNNEST(regexp_split_to_array(TRIM(text), '\s+')) AS tok
            FROM documents
        ),
        hits AS (
            SELECT doc_id FROM toks
            WHERE tok IN ('hash', 'join', 'batch')
            GROUP BY doc_id
            HAVING COUNT(DISTINCT tok) = 3
        )
        SELECT d.doc_id, d.lang, d.n_chars
        FROM documents d JOIN hits USING (doc_id)
    """,
    tags=("text", "search", "semi", "agg"),
)
def keyword_and_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_spark.operators.textprep import tokenize

    docs = load_table(spark, sf_dir, "documents")
    terms = ["hash", "join", "batch"]
    hits = (
        tokenize(docs)
        .select("doc_id", F.explode("toks").alias("tok"))
        .filter(F.col("tok").isin(*terms))
        .groupBy("doc_id")
        .agg(F.count_distinct("tok").alias("n_terms"))
        .filter(F.col("n_terms") == len(terms))
        .select("doc_id")
    )
    return docs.join(hits, "doc_id", "leftsemi").select("doc_id", "lang", "n_chars")


# --------------------------------------------------------------------------
# Deterministic weighted sampling (Efraimidis–Spirakis): 50 docs sampled
# without replacement, probability ∝ n_chars, reproducible two years later
# from the same inputs (no rand()). The key is a narrow md5-derived
# expression; top-k by smallest key is TakeOrdered — no shuffle, no full
# sort. The oracle evaluates the IDENTICAL key SQL, so selection parity is
# checked end-to-end.
# --------------------------------------------------------------------------
from etl_pipeline_spark.operators.sampling import (  # noqa: E402
    weighted_sample,
    weighted_sample_key_sql,
)

_WKEY = weighted_sample_key_sql("doc_id", "n_chars", "wsample")


@register(
    "weighted_sample_docs",
    oracle=f"""
        SELECT doc_id, lang, n_chars
        FROM documents
        ORDER BY {_WKEY}, doc_id
        LIMIT 50
    """,
    tags=("sampling", "topk", "narrow"),
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return weighted_sample(docs, "doc_id", "n_chars", k=50, seed="wsample")


# --------------------------------------------------------------------------
# PageRank over the bipartite part↔supplier graph derived from lineitem
# (node ids: 2*partkey for parts, 2*suppkey+1 for suppliers; edges
# symmetrized). Iterative with a FIXED iteration count — which makes it
# SQL-expressible after all: the oracle unrolls the 5 synchronous rounds
# as chained CTEs (r0 → c1/r1 → … → r5) with the same arithmetic shape
# ((1.0 − d)/n + d·contrib, left join + COALESCE for no-inbound nodes).
# The symmetrized graph has no dangling nodes (every edge contributes
# both directions), so the dangling-mass term is exactly 0.0 in both
# engines. Ranks are rounded to 8 dp before the final ordering; exactness
# vs numpy power iteration is separately pinned by test_graph.py.
# Each Spark round is one degree-weighted join + one groupBy shuffle with
# lineage truncated per round (operators/graph.py::pagerank).
# --------------------------------------------------------------------------
def _pagerank_oracle(n_iter: int = 5, damping: float = 0.85) -> str:
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
        WITH rel AS (
            SELECT DISTINCT l_partkey * 2 AS part_node,
                            l_suppkey * 2 + 1 AS supp_node
            FROM lineitem
        ),
        edges AS (
            SELECT part_node AS src, supp_node AS dst FROM rel
            UNION ALL
            SELECT supp_node AS src, part_node AS dst FROM rel
        ),
        nodes AS (SELECT DISTINCT src AS node FROM edges),
        nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS out_deg
                FROM edges GROUP BY 1),
        ew AS (SELECT edges.src, edges.dst, deg.out_deg
               FROM edges JOIN deg USING (src)),
        r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),
        {chain}
        SELECT node, ROUND(rank, 8) AS rank
        FROM r{n_iter}
        ORDER BY rank DESC, node
        LIMIT 20
    """


# Written-once edge table, built by the first execution of the session
# and reused after, like the co-supplier edges.
@session_memo
def _part_supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fact-linear: one lineitem scan + distinct; the symmetrized union
    # doubles rows but not the scan
    rel = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            (F.col("l_partkey") * 2).alias("part_node"),
            (F.col("l_suppkey") * 2 + 1).alias("supp_node"),
        )
        .distinct()
    )
    return rel.select(
        F.col("part_node").alias("src"), F.col("supp_node").alias("dst")
    ).unionByName(
        rel.select(F.col("supp_node").alias("src"), F.col("part_node").alias("dst"))
    )


@register(
    "pagerank_part_supplier",
    oracle=_pagerank_oracle(5),
    tags=("graph", "iterative"),
)
def pagerank_part_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_spark.operators.graph import pagerank

    edges = _part_supplier_edges(spark, sf_dir)
    # caller_cached=True: `edges` IS the memoized persisted relation, so
    # pagerank must not persist/unpersist it (the unpersist would evict
    # this session memo — the operator no longer has to infer that from
    # storageLevel internals)
    ranks = pagerank(edges, n_iter=5, caller_cached=True)
    return (
        ranks.select("node", F.round("rank", 8).alias("rank"))
        .orderBy(F.desc("rank"), F.asc("node"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Benchmark decontamination: n-gram overlap of training docs against a
# held-out eval split (doc_id % 97 = 0 stands in for a benchmark suite).
# The eval shingle relation is broadcast (a benchmark is KBs against a
# 100 TB corpus), so the train-side shingle scan joins map-side with no
# shuffle; only matching (train, eval) pairs reach the count aggregate.
# --------------------------------------------------------------------------
@register(
    "decontaminate_eval_overlap",
    oracle="""
        WITH sh AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                       generate_series(1, len(string_split(text, ' ')) - 2),
                       i -> string_split(text, ' ')[i] || ' ' ||
                            string_split(text, ' ')[i+1] || ' ' ||
                            string_split(text, ' ')[i+2]))) AS shingle
            FROM documents
        ),
        ev AS (SELECT * FROM sh WHERE doc_id % 97 = 0),
        tr AS (SELECT * FROM sh WHERE doc_id % 97 <> 0),
        sizes AS (SELECT doc_id AS eval_doc, COUNT(*) AS n FROM ev GROUP BY 1),
        inter AS (
            SELECT tr.doc_id AS train_doc, ev.doc_id AS eval_doc,
                   COUNT(*) AS n_common
            FROM tr JOIN ev ON tr.shingle = ev.shingle
            GROUP BY 1, 2
        )
        SELECT train_doc, eval_doc, n_common,
               ROUND(n_common * 1.0 / s.n, 6) AS contamination
        FROM inter JOIN sizes s USING (eval_doc)
        WHERE n_common >= 2
    """,
    tags=("llm", "dedup", "decontamination"),
)
def decontaminate_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return eval_contamination(docs, F.col("doc_id") % 97 == 0, min_common=2)


# --------------------------------------------------------------------------
# Gopher-style repetition quality: most-frequent-token share, top-bigram
# token share, distinct-token ratio per document — the standard degenerate-
# text filters for pretraining corpora. Shuffle volume is distinct grams
# per doc (partial agg absorbs the repetition being measured).
# --------------------------------------------------------------------------
@register(
    "repetition_quality",
    oracle="""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        ts AS (SELECT doc_id, MAX(c) AS top_tok, COUNT(*) AS n_distinct
               FROM tc GROUP BY 1),
        sz AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t),
        bgs AS (
            SELECT doc_id, unnest(list_transform(
                       generate_series(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1])) AS bg
            FROM t WHERE len(toks) >= 2
        ),
        bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bgs GROUP BY 1, 2),
        bs AS (SELECT doc_id, MAX(c) AS top_bg FROM bc GROUP BY 1)
        SELECT ts.doc_id, n_tokens,
               ROUND(top_tok * 1.0 / n_tokens, 6) AS top_token_frac,
               ROUND(2.0 * top_bg / n_tokens, 6) AS top_bigram_frac,
               ROUND(n_distinct * 1.0 / n_tokens, 6) AS distinct_ratio
        FROM ts
        JOIN sz ON sz.doc_id = ts.doc_id
        JOIN bs ON bs.doc_id = ts.doc_id
    """,
    tags=("llm", "text", "quality"),
)
def repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return repetition_metrics(docs)


# --------------------------------------------------------------------------
# Count-min sketch frequency estimation (operators/sketch.py): fixed
# depth×width state replaces the unbounded distinct-key shuffle — the
# heavy-hitter primitive for unbounded key spaces (URLs, n-grams) at
# 100 TB. Seeded-md5 bucketing makes build + probe exactly reproducible,
# so the oracle recomputes the identical sketch in SQL and the driver
# value-checks estimates cell-for-cell; the overestimate guarantee is
# asserted as a column.
# --------------------------------------------------------------------------
_CMS_DEPTH, _CMS_WIDTH = 4, 4096

# the lineitem-partkey CMS sketch, memoized per (session, sf_dir): a CMS
# is a build-once-probe-many artifact (the streaming twin maintains it
# incrementally; batch consumers probe the same summary), and both
# registered consumers (cms_partkey_estimates, cms_heavy_hitters) build
# the IDENTICAL ≤ depth×width-row relation with a full md5 pass over the
# fact table — the most expensive shared subtree in the sketch family.
@session_memo
def _cms_partkey_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_spark.operators.sketch import cms_build

    return cms_build(
        load_table(spark, sf_dir, "lineitem").select("l_partkey"),
        "l_partkey",
        _CMS_DEPTH,
        _CMS_WIDTH,
    )


def _cms_oracle() -> str:
    from etl_pipeline_spark.operators.sketch import hex8_at_expr

    def bucket(d: int) -> str:
        return f"{hex8_at_expr('CAST(l_partkey AS VARCHAR)', d)} % {_CMS_WIDTH}"

    cell_rows = "\n            UNION ALL ".join(
        f"SELECT {d} AS d, {bucket(d)} AS bucket FROM lineitem"
        for d in range(_CMS_DEPTH)
    )
    probe_rows = "\n            UNION ALL ".join(
        f"SELECT l_partkey, {d} AS d, {bucket(d)} AS bucket FROM probes"
        for d in range(_CMS_DEPTH)
    )
    return f"""
        WITH cells AS (
            SELECT d, bucket, COUNT(*) AS cnt FROM (
            {cell_rows}
            ) GROUP BY 1, 2
        ),
        probes AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_partkey < 20),
        probe_cells AS (
            {probe_rows}
        ),
        est AS (
            SELECT p.l_partkey, MIN(COALESCE(c.cnt, 0)) AS est
            FROM probe_cells p
            LEFT JOIN cells c ON c.d = p.d AND c.bucket = p.bucket
            GROUP BY 1
        ),
        ex AS (
            SELECT l_partkey, COUNT(*) AS n_exact
            FROM lineitem WHERE l_partkey < 20 GROUP BY 1
        )
        SELECT e.l_partkey, CAST(e.est AS BIGINT) AS est,
               CAST(x.n_exact AS BIGINT) AS n_exact,
               CAST(e.est >= x.n_exact AS INT) AS is_overestimate
        FROM est e JOIN ex x ON e.l_partkey = x.l_partkey
    """


@register(
    "cms_partkey_estimates",
    oracle=_cms_oracle(),
    tags=("sketch", "agg", "heavy-hitters"),
)
def cms_partkey_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_spark.operators.sketch import cms_estimate

    li = load_table(spark, sf_dir, "lineitem")
    sketch = _cms_partkey_sketch(spark, sf_dir)
    probes = li.filter(F.col("l_partkey") < 20).select("l_partkey").distinct()
    est = cms_estimate(sketch, probes, "l_partkey", _CMS_DEPTH, _CMS_WIDTH)
    exact = (
        li.filter(F.col("l_partkey") < 20)
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return est.join(exact, "l_partkey").select(
        "l_partkey",
        F.col("est").cast("bigint").alias("est"),
        F.col("n_exact").cast("bigint").alias("n_exact"),
        (F.col("est") >= F.col("n_exact")).cast("int").alias("is_overestimate"),
    )


# --------------------------------------------------------------------------
# Bloom-filter join pruning (operators/sketch.py): the explicit relation
# form of what engines do as a runtime filter — build a bloom over the
# selective build side (high-balance suppliers), broadcast it, and
# annotate every probe key with `maybe_member` before the real join.
# At 100 TB the bloom is ≤ m rows regardless of build cardinality, the
# probe check is a map-side broadcast join, and the guarantee that no
# true key is ever dropped (`no_false_negative`) is asserted as a
# column the oracle value-checks row-for-row.
# --------------------------------------------------------------------------
_BLOOM_M, _BLOOM_K = 4096, 3


def _bloom_oracle() -> str:
    from etl_pipeline_spark.operators.sketch import bloom_position_sql

    build_rows = "\n            UNION ALL ".join(
        f"SELECT {bloom_position_sql('CAST(s_suppkey AS VARCHAR)', i, _BLOOM_M)} AS pos FROM sel"
        for i in range(_BLOOM_K)
    )
    probe_rows = "\n            UNION ALL ".join(
        f"SELECT l_suppkey, {bloom_position_sql('CAST(l_suppkey AS VARCHAR)', i, _BLOOM_M)} AS pos"
        " FROM probes"
        for i in range(_BLOOM_K)
    )
    return f"""
        WITH sel AS (SELECT s_suppkey FROM supplier WHERE s_acctbal > 9000),
        bloom AS (
            SELECT DISTINCT pos FROM (
            {build_rows}
            )
        ),
        probes AS (SELECT DISTINCT l_suppkey FROM lineitem),
        cells AS (
            {probe_rows}
        ),
        hits AS (
            SELECT c.l_suppkey,
                   CAST(SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END)
                        = {_BLOOM_K} AS INT) AS maybe_member
            FROM cells c LEFT JOIN bloom b ON b.pos = c.pos
            GROUP BY 1
        ),
        ex AS (SELECT DISTINCT s_suppkey FROM sel)
        SELECT h.l_suppkey, h.maybe_member,
               CAST(e.s_suppkey IS NOT NULL AS INT) AS is_member,
               CAST(h.maybe_member >=
                    CAST(e.s_suppkey IS NOT NULL AS INT) AS INT)
                   AS no_false_negative
        FROM hits h LEFT JOIN ex e ON e.s_suppkey = h.l_suppkey
    """


@register(
    "bloom_supplier_prune",
    oracle=_bloom_oracle(),
    tags=("sketch", "join-pruning"),
)
def bloom_supplier_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_spark.operators.sketch import bloom_build, bloom_check

    sel = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 9000)
        .select("s_suppkey")
    )
    bloom = bloom_build(sel, "s_suppkey", _BLOOM_M, _BLOOM_K)
    probes = load_table(spark, sf_dir, "lineitem").select("l_suppkey").distinct()
    checked = bloom_check(probes, bloom, "l_suppkey", _BLOOM_M, _BLOOM_K)
    exact = sel.distinct().withColumn("is_member", F.lit(1))
    return (
        checked.join(
            exact, checked["l_suppkey"] == exact["s_suppkey"], "left"
        )
        .select(
            "l_suppkey",
            F.col("maybe_member").cast("int").alias("maybe_member"),
            F.coalesce("is_member", F.lit(0)).cast("int").alias("is_member"),
        )
        .withColumn(
            "no_false_negative",
            (F.col("maybe_member") >= F.col("is_member")).cast("int"),
        )
    )


# --------------------------------------------------------------------------
# HyperLogLog cardinality (operators/sketch.py): ≤ 2^p register rows of
# state however many keys stream in; merge = max-per-register, so
# per-shard/per-day register relations combine without re-scanning —
# the COUNT(DISTINCT) replacement when the key space is unbounded at
# 100 TB. rho comes from exact binary length (no float log2) and every
# 2^-rho is an exact dyadic, so the raw estimator is engine-bit-
# identical and the whole pipeline (registers AND estimate) value-
# hashes against the SQL recomputation. Accuracy vs exact distinct is
# asserted as a column (within the ~6.5% standard-error band for p=8).
# --------------------------------------------------------------------------
_HLL_P = 8


def _hll_oracle() -> str:
    from etl_pipeline_spark.operators.sketch import hll_alpha, hll_cell_sql

    m = 1 << _HLL_P
    alpha_m2 = repr(hll_alpha(m) * m * m)
    idx, rho = hll_cell_sql("CAST(o_orderkey AS STRING)", _HLL_P)
    return f"""
        WITH cells AS (
            SELECT {idx} AS idx, {rho} AS rho FROM orders
        ),
        regs AS (SELECT idx, MAX(rho) AS rho_max FROM cells GROUP BY 1),
        s AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_set,
                   {alpha_m2} / (SUM(pow(2.0, -rho_max))
                                 + ({m} - COUNT(*))) AS est
            FROM regs
        ),
        ex AS (
            SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_exact
            FROM orders
        )
        SELECT n_set, est, n_exact,
               CAST(ABS(est - n_exact) <= 0.2 * n_exact AS INT)
                   AS within_20pct
        FROM s CROSS JOIN ex
    """


@register(
    "hll_orderkey_cardinality",
    oracle=_hll_oracle(),
    tags=("sketch", "agg", "cardinality"),
)
def hll_orderkey_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_spark.operators.sketch import hll_build, hll_estimate

    orders = load_table(spark, sf_dir, "orders")
    regs = hll_build(orders.select("o_orderkey"), "o_orderkey", _HLL_P)
    est = hll_estimate(regs, _HLL_P)
    exact = orders.agg(
        F.count_distinct("o_orderkey").cast("bigint").alias("n_exact")
    )
    return est.crossJoin(exact).withColumn(
        "within_20pct",
        (F.abs(F.col("est") - F.col("n_exact")) <= 0.2 * F.col("n_exact")).cast(
            "int"
        ),
    )


def _hll_grouped_oracle() -> str:
    from etl_pipeline_spark.operators.sketch import hll_alpha, hll_cell_sql

    m = 1 << _HLL_P
    alpha_m2 = repr(hll_alpha(m) * m * m)
    idx, rho = hll_cell_sql("CAST(l_orderkey AS STRING)", _HLL_P)
    return f"""
        WITH cells AS (
            SELECT l_returnflag, {idx} AS idx, {rho} AS rho FROM lineitem
        ),
        regs AS (
            SELECT l_returnflag, idx, MAX(rho) AS rho_max
            FROM cells GROUP BY 1, 2
        ),
        s AS (
            SELECT l_returnflag,
                   CAST(COUNT(*) AS BIGINT) AS n_set,
                   {alpha_m2} / (SUM(pow(2.0, -rho_max))
                                 + ({m} - COUNT(*))) AS est
            FROM regs GROUP BY 1
        ),
        ex AS (
            SELECT l_returnflag,
                   CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_exact
            FROM lineitem GROUP BY 1
        )
        SELECT s.l_returnflag, n_set, est, n_exact,
               CAST(ABS(est - n_exact) <= 0.2 * n_exact AS INT)
                   AS within_20pct
        FROM s JOIN ex ON ex.l_returnflag = s.l_returnflag
    """


@register(
    "hll_orders_by_flag",
    oracle=_hll_grouped_oracle(),
    tags=("sketch", "agg", "cardinality"),
)
def hll_orders_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY approximate COUNT(DISTINCT): per-group HLL registers
    (≤ 2^p rows per group however many keys), raw estimate + exactness
    band as value-checked columns."""
    from etl_pipeline_spark.operators.sketch import (
        hll_build_grouped,
        hll_estimate_grouped,
    )

    li = load_table(spark, sf_dir, "lineitem")
    regs = hll_build_grouped(
        li.select("l_returnflag", "l_orderkey"),
        ["l_returnflag"],
        "l_orderkey",
        _HLL_P,
    )
    est = hll_estimate_grouped(regs, ["l_returnflag"], _HLL_P)
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_orderkey").cast("bigint").alias("n_exact")
    )
    return est.join(exact, "l_returnflag").withColumn(
        "within_20pct",
        (F.abs(F.col("est") - F.col("n_exact")) <= 0.2 * F.col("n_exact")).cast(
            "int"
        ),
    )


# --------------------------------------------------------------------------
# Approximate single-pass profiling: per-column distinct-count via HLL.
# The exact profile (`profile_orders`) pays an Expand-based multi-
# distinct — fine at sf0.1, quadratic pain at 100 TB. This variant
# hashes every profiled column in ONE scan (explode = narrow), and the
# only shuffle carries ≤ ncols × 2^p register cells. Linear-counting
# correction makes it accurate from 3-value status columns up to key
# columns; estimates land within 20% of exact on every column (value-
# checked). The one-line scale story: profiling cost is O(scan), state
# is KBs, for any table width or cardinality.
# --------------------------------------------------------------------------
_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


def _hll_profile_oracle() -> str:
    from etl_pipeline_spark.operators.sketch import hll_cell_sql, hll_est_sql

    cells = "\n            UNION ALL ".join(
        f"SELECT '{c}' AS col_name, {hll_cell_sql(f'CAST({c} AS STRING)', _HLL_P)[0]} AS idx,"
        f" {hll_cell_sql(f'CAST({c} AS STRING)', _HLL_P)[1]} AS rho"
        f" FROM orders WHERE {c} IS NOT NULL"
        for c in _PROFILE_COLS
    )
    exacts = "\n            UNION ALL ".join(
        f"SELECT '{c}' AS col_name, CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_exact"
        f" FROM orders"
        for c in _PROFILE_COLS
    )
    est = hll_est_sql("SUM(pow(2.0, -rho_max))", "CAST(COUNT(*) AS BIGINT)", _HLL_P)
    return f"""
        WITH cells AS (
            {cells}
        ),
        regs AS (
            SELECT col_name, idx, MAX(rho) AS rho_max
            FROM cells GROUP BY 1, 2
        ),
        s AS (
            SELECT col_name,
                   CAST(COUNT(*) AS BIGINT) AS n_set,
                   {est} AS est
            FROM regs GROUP BY col_name
        ),
        ex AS (
            {exacts}
        )
        SELECT s.col_name, n_set, est, n_exact,
               CAST(ABS(est - n_exact) <= 0.2 * n_exact AS INT)
                   AS within_20pct
        FROM s JOIN ex ON ex.col_name = s.col_name
    """


@register(
    "profile_approx_orders",
    oracle=_hll_profile_oracle(),
    tags=("profiling", "sketch", "cardinality"),
)
def profile_approx_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_spark.operators.sketch import (
        hex8_expr,
        hll_cell_from_h,
        hll_estimate_corrected_grouped,
    )

    orders = load_table(spark, sf_dir, "orders")
    # One md5 per (row, column): hashes are projected once below the
    # Generate, then each struct decodes idx/rho from its projected hash
    # (under explode Spark does no subexpression elimination — embedding
    # the hash in both coordinates would cost 16 md5 per column).
    hashed = orders.select(
        *[
            F.expr(hex8_expr(f"CAST({c} AS STRING)", fast=True)).alias(f"h_{i}")
            for i, c in enumerate(_PROFILE_COLS)
        ]
    )
    cols = []
    for i, c in enumerate(_PROFILE_COLS):
        idx, rho = hll_cell_from_h(f"h_{i}", _HLL_P)
        cols.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.expr(idx).alias("idx"),
                F.expr(rho).alias("rho"),
            )
        )
    regs = (
        hashed.select(F.explode(F.array(*cols)).alias("cell"))
        .select("cell.col_name", "cell.idx", "cell.rho")
        .filter(F.col("idx").isNotNull())
        .groupBy("col_name", "idx")
        .agg(F.max("rho").alias("rho_max"))
    )
    est = hll_estimate_corrected_grouped(regs, ["col_name"], _HLL_P)
    # all exact distinct counts in ONE scan (multi-count_distinct expands
    # to one Expand-based aggregate), then unpivoted — the previous
    # one-agg-per-column union paid a full orders pass per column
    wide = orders.agg(
        *[
            F.count_distinct(F.col(c)).cast("bigint").alias(f"cd_{i}")
            for i, c in enumerate(_PROFILE_COLS)
        ]
    )
    stack_args = ", ".join(
        f"'{c}', cd_{i}" for i, c in enumerate(_PROFILE_COLS)
    )
    exact = wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args})"
            " AS (col_name, n_exact)"
        )
    )
    return est.join(exact, "col_name").withColumn(
        "within_20pct",
        (F.abs(F.col("est") - F.col("n_exact")) <= 0.2 * F.col("n_exact")).cast(
            "int"
        ),
    )


# --------------------------------------------------------------------------
# Sketch set algebra: estimated intersection cardinality by inclusion-
# exclusion over mergeable HLL registers — |A∩B| ≈ est(A) + est(B) −
# est(A∪B), where est(A∪B) is FREE (max-merge of the two register
# relations, no data re-scan). This is the "how many users did both X
# and Y" shape at 100 TB: each cohort keeps 2^p rows of state, the
# answer is arithmetic. Error compounds across three estimates
# (~√3·1.04/√m relative), hence the 30% assertion band.
# --------------------------------------------------------------------------


def _hll_intersect_oracle() -> str:
    from etl_pipeline_spark.operators.sketch import hll_cell_sql, hll_est_sql

    idx, rho = hll_cell_sql("CAST(o_custkey AS STRING)", _HLL_P)
    est = hll_est_sql(
        "SUM(pow(2.0, -rho_max))", "CAST(COUNT(*) AS BIGINT)", _HLL_P
    )
    return f"""
        WITH regs_a AS (
            SELECT {idx} AS idx, MAX({rho}) AS rho_max
            FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1
        ),
        regs_b AS (
            SELECT {idx} AS idx, MAX({rho}) AS rho_max
            FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1
        ),
        regs_u AS (
            SELECT idx, MAX(rho_max) AS rho_max FROM (
                SELECT * FROM regs_a UNION ALL SELECT * FROM regs_b
            ) GROUP BY 1
        ),
        ea AS (SELECT {est} AS est_a FROM regs_a),
        eb AS (SELECT {est} AS est_b FROM regs_b),
        eu AS (SELECT {est} AS est_union FROM regs_u),
        ex AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_intersection FROM (
                SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
                INTERSECT
                SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
            )
        )
        SELECT est_a, est_b, est_union,
               ROUND(est_a + est_b - est_union, 4) AS est_intersection,
               n_exact_intersection,
               CAST(ABS(est_a + est_b - est_union - n_exact_intersection)
                    <= 0.3 * n_exact_intersection AS INT) AS within_30pct
        FROM ea CROSS JOIN eb CROSS JOIN eu CROSS JOIN ex
    """


@register(
    "hll_intersect_cohorts",
    oracle=_hll_intersect_oracle(),
    tags=("sketch", "set-ops", "cardinality"),
)
def hll_intersect_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_spark.operators.sketch import (
        hll_build,
        hll_estimate_corrected,
        hll_merge,
    )

    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.expr("year(o_orderdate) = 1995")).select("o_custkey")
    b = orders.filter(F.expr("year(o_orderdate) = 1996")).select("o_custkey")
    ra = hll_build(a, "o_custkey", _HLL_P)
    rb = hll_build(b, "o_custkey", _HLL_P)
    ru = hll_merge(ra, rb)
    ea = hll_estimate_corrected(ra, _HLL_P).select(F.col("est").alias("est_a"))
    eb = hll_estimate_corrected(rb, _HLL_P).select(F.col("est").alias("est_b"))
    eu = hll_estimate_corrected(ru, _HLL_P).select(
        F.col("est").alias("est_union")
    )
    exact = (
        a.distinct()
        .join(b.distinct(), "o_custkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact_intersection"))
    )
    return (
        ea.crossJoin(eb)
        .crossJoin(eu)
        .crossJoin(exact)
        .withColumn(
            "est_intersection",
            F.round(F.col("est_a") + F.col("est_b") - F.col("est_union"), 4),
        )
        .withColumn(
            "within_30pct",
            (
                F.abs(
                    F.col("est_a") + F.col("est_b") - F.col("est_union")
                    - F.col("n_exact_intersection")
                )
                <= 0.3 * F.col("n_exact_intersection")
            ).cast("int"),
        )
        .select(
            "est_a", "est_b", "est_union", "est_intersection",
            "n_exact_intersection", "within_30pct",
        )
    )


# --------------------------------------------------------------------------
# Unigram surprisal quality score: per-doc average −ln p(token) under the
# corpus's own unigram distribution — the classic cheap LM-quality signal
# (low surprisal ≈ repetitive/boilerplate, high ≈ noise/OOV-heavy; both
# tails are filter candidates for training data). Fully relational: one
# groupBy builds the vocabulary relation (vocab-sized state, not
# corpus-sized), one join scores tokens, one agg per doc. At 100 TB the
# vocab relation broadcasts when it fits, else it's a shuffle keyed on the
# token — either way no Python and no per-doc loops. ROUND(.., 4) absorbs
# last-ulp libm LN differences across engines (hll_est_sql discipline).
# --------------------------------------------------------------------------


@register(
    "unigram_surprisal_quality",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
        total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t),
        vocab AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1
        )
        SELECT d.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               ROUND(AVG(-LN(v.c / CAST(total.n AS DOUBLE))), 4) AS avg_surprisal
        FROM t d
        JOIN vocab v ON v.tok = d.tok
        CROSS JOIN total
        GROUP BY d.doc_id
    """,
    tags=("llm", "text-quality", "language-model"),
)
def unigram_surprisal_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    total = t.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    vocab = t.groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return (
        t.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(
                F.avg(-F.log(F.col("c") / F.col("n").cast("double"))), 4
            ).alias("avg_surprisal"),
        )
    )


# --------------------------------------------------------------------------
# Heavy hitters from the sketch: at 100 TB you cannot enumerate distinct
# keys to find the top ones — the standard composition is (a) candidate
# keys from a cheap deterministic sample (here: keys on the first
# lineitems by orderkey — a bounded TakeOrdered scan), (b) frequency
# ESTIMATES for the candidates from the CMS (broadcast probe, min over
# depth rows), (c) keep candidates whose estimate clears the support
# threshold. The sketch was built in one pass with bounded state; no
# second full scan is keyed on the full distinct-key space. Oracle
# recomputes sample, sketch, and estimates cell-for-cell, plus the CMS
# overestimate guarantee as a checked column.
# --------------------------------------------------------------------------
_HH_SAMPLE_ORDERS = 2000  # candidate source: lineitems of the first orders
_HH_SUPPORT = 200  # estimated-frequency support threshold


def _heavy_hitters_oracle() -> str:
    from etl_pipeline_spark.operators.sketch import hex8_at_expr

    def bucket(d: int) -> str:
        return f"{hex8_at_expr('CAST(l_partkey AS VARCHAR)', d)} % {_CMS_WIDTH}"

    cell_rows = "\n            UNION ALL ".join(
        f"SELECT {d} AS d, {bucket(d)} AS bucket FROM lineitem"
        for d in range(_CMS_DEPTH)
    )
    probe_rows = "\n            UNION ALL ".join(
        f"SELECT l_partkey, {d} AS d, {bucket(d)} AS bucket FROM cand"
        for d in range(_CMS_DEPTH)
    )
    return f"""
        WITH cells AS (
            SELECT d, bucket, COUNT(*) AS cnt FROM (
            {cell_rows}
            ) GROUP BY 1, 2
        ),
        cand AS (
            SELECT DISTINCT l_partkey FROM lineitem
            WHERE l_orderkey <= {_HH_SAMPLE_ORDERS}
        ),
        probe_cells AS (
            {probe_rows}
        ),
        est AS (
            SELECT p.l_partkey, MIN(COALESCE(c.cnt, 0)) AS est
            FROM probe_cells p
            LEFT JOIN cells c ON c.d = p.d AND c.bucket = p.bucket
            GROUP BY 1
        ),
        ex AS (
            SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_exact
            FROM lineitem GROUP BY 1
        )
        SELECT e.l_partkey, CAST(e.est AS BIGINT) AS est,
               x.n_exact,
               CAST(e.est >= x.n_exact AS INT) AS is_overestimate
        FROM est e JOIN ex x ON x.l_partkey = e.l_partkey
        WHERE e.est >= {_HH_SUPPORT}
    """


@register(
    "cms_heavy_hitters",
    oracle=_heavy_hitters_oracle(),
    tags=("sketch", "heavy-hitters", "agg"),
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_spark.operators.sketch import cms_estimate

    li = load_table(spark, sf_dir, "lineitem")
    sketch = _cms_partkey_sketch(spark, sf_dir)
    cand = (
        li.filter(F.col("l_orderkey") <= _HH_SAMPLE_ORDERS)
        .select("l_partkey")
        .distinct()
    )
    est = cms_estimate(sketch, cand, "l_partkey", _CMS_DEPTH, _CMS_WIDTH)
    # Exact counts ONLY for the bounded candidate set: semi-join the fact
    # table against the candidates BEFORE the groupBy, so the exact side
    # aggregates a pruned scan instead of the full key space (the unbounded
    # distinct-key shuffle the CMS exists to avoid). The downstream inner
    # join already filtered to candidates, so the result is unchanged.
    exact = (
        li.join(F.broadcast(cand), "l_partkey", "semi")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    )
    return (
        est.filter(F.col("est") >= _HH_SUPPORT)
        .join(exact, "l_partkey")
        .select(
            "l_partkey",
            F.col("est").cast("bigint").alias("est"),
            "n_exact",
            (F.col("est") >= F.col("n_exact")).cast("int").alias("is_overestimate"),
        )
    )


# --------------------------------------------------------------------------
# Histogram-quantile sketch (operators/sketch.py::histogram_sketch) — the
# quantile member of the sketch family: exact percentiles buffer every
# value per group (percentile_event_values is that baseline); the
# equal-width histogram is the bounded-state alternative — ≤ bins cells
# whatever the row count, mergeable by summing — and the estimate is
# linear interpolation inside the covering bin. Deterministic end-to-end,
# so the oracle recomputes cells AND estimates cell-for-cell; the exact
# quantile rides along with the absolute error as value-checked columns.
# --------------------------------------------------------------------------
_QS_BINS = 128
_QS_QS = (0.5, 0.9, 0.99)


def _quantile_sketch_oracle() -> str:
    from etl_pipeline_spark.operators.sketch import _bin_sql

    q_list = ", ".join(f"CAST({q} AS DOUBLE)" for q in _QS_QS)
    ex_rows = "\n            UNION ALL ".join(
        f"SELECT CAST({q} AS DOUBLE) AS q, quantile_cont(value, {q}) AS e FROM events"
        for q in _QS_QS
    )
    return f"""
        WITH stats AS (
            SELECT MIN(value) AS mn, MAX(value) AS mx,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events
        ),
        cells AS (
            SELECT bin, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
                SELECT {_bin_sql("value", _QS_BINS)} AS bin
                FROM events CROSS JOIN stats
            ) GROUP BY 1
        ),
        cum AS (
            SELECT bin, cnt, SUM(cnt) OVER (ORDER BY bin) AS cum FROM cells
        ),
        qs AS (SELECT UNNEST([{q_list}]) AS q),
        covering AS (
            SELECT q, bin, cnt, cum, mn, mx, n,
                   ROW_NUMBER() OVER (PARTITION BY q ORDER BY bin) AS r
            FROM qs CROSS JOIN cum CROSS JOIN stats
            WHERE cum >= q * n
        ),
        est AS (
            SELECT q,
                   FLOOR((CASE WHEN mx = mn THEN mn ELSE
                          mn + ((mx - mn) / {_QS_BINS})
                             * (bin + (q * n - (cum - cnt)) / cnt) END)
                         * 1e6 + 0.5) / 1e6 AS est
            FROM covering WHERE r = 1
        ),
        ex AS (
            {ex_rows}
        )
        SELECT e.q, e.est, FLOOR(x.e * 1e6 + 0.5) / 1e6 AS exact,
               FLOOR(ABS(e.est - FLOOR(x.e * 1e6 + 0.5) / 1e6) * 1e6 + 0.5)
                   / 1e6 AS abs_err
        FROM est e JOIN ex x ON x.q = e.q
    """


@register(
    "quantile_sketch_values",
    oracle=_quantile_sketch_oracle(),
    tags=("sketch", "quantile", "agg"),
)
def quantile_sketch_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_spark.operators.sketch import (
        histogram_quantiles,
        histogram_sketch,
    )

    ev = load_table(spark, sf_dir, "events")
    cells, stats = histogram_sketch(ev, "value", bins=_QS_BINS)
    est = histogram_quantiles(cells, stats, list(_QS_QS), bins=_QS_BINS)
    stack_args = ", ".join(f"CAST({q} AS DOUBLE), e{i}" for i, q in enumerate(_QS_QS))
    exact = ev.agg(
        *[
            F.expr(f"percentile(value, {q})").alias(f"e{i}")
            for i, q in enumerate(_QS_QS)
        ]
    ).select(F.expr(f"stack({len(_QS_QS)}, {stack_args}) AS (q, e)"))
    # portable half-up throughout (see the operator note): the exact
    # quantile is also a dyadic interpolation over the cents lattice
    return (
        est.join(F.broadcast(exact), "q")
        .withColumn("exact", F.expr("FLOOR(e * 1e6 + 0.5) / 1e6"))
        .select(
            "q",
            "est",
            "exact",
            F.expr("FLOOR(ABS(est - exact) * 1e6 + 0.5) / 1e6").alias("abs_err"),
        )
    )
