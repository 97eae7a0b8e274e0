"""Round-4 text/corpus analytics wave: TF-IDF, collocations, bigram-LM
quality, inverted indexing, canonical dedup, curriculum budgeting,
random-projection dimensionality reduction, and stratified k-fold CV.

Beyond-reference components from the LLM-training-pipeline mandate (the
reference pipeline has no text analytics at all); each is the Spark-first
relational expression of a standard corpus primitive:

- TF-IDF top terms (Spärck Jones 1972) — per-document keyword extraction;
- bigram PMI collocations (Church & Hanks 1990) — the corpus-statistics
  phrase detector;
- bigram-LM cross-entropy (Laplace smoothing) — the language-model
  quality score that upgrades the unigram surprisal filter;
- inverted-index posting lists — the retrieval build step (df-capped, the
  stop/hapax prune every index applies);
- canonical pick per near-dup cluster — dedup's KEEP decision: the
  highest-quality member survives, the rest are the drop set;
- token-budget allocation by largest remainder (Hamilton apportionment) —
  exact integer curriculum mixing: quotas sum to the budget by
  construction;
- Johnson–Lindenstrauss sign random projection + distortion audit
  (Achlioptas 2003: ±1 entries suffice) — embedding compression with the
  measured quality gate;
- deterministic stratified k-fold assignment — exact per-stratum balance
  (fold sizes differ by ≤1 inside every stratum).

All corpus-sized relations stay in shuffle joins keyed on token/doc (a
vocabulary is unbounded at crawl scale — broadcast would OOM); 1-row
totals cross-join broadcast. Floats round 6 dp on identical
parenthesization; every query carries a complete-output DuckDB oracle.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_pipeline_spark.plans.registry import register
from etl_pipeline_spark.sources.embeddings import EMB_VALID_ORACLE, load_embeddings
from etl_pipeline_spark.sources.star import load_table
from etl_pipeline_spark.utils.session_cache import session_memo

# ---------------------------------------------------------------------------
# Shared token / bigram extraction. Documents are whitespace-tokenized.
# Short docs are guarded explicitly (size >= 2 filter): Spark's
# sequence(1, 0) yields a DESCENDING [1, 0] — spurious null-bearing
# bigram rows (and an ANSI index error) on any sub-2-token doc — while
# DuckDB's generate_series(1, 0) is empty. The testdata corpus contract
# is ≥10 words, but the guard makes the operator total, not contractual.
# Spark arrays are 0-indexed, DuckDB lists 1-indexed: the Spark transform
# runs i in 1..n-1 over toks[i-1],toks[i]; DuckDB runs i in 1..n-1 over
# [i],[i+1] — the same bigrams in the same order.
# ---------------------------------------------------------------------------
_TOKS_DUCK = """
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
"""

_BIGRAMS_DUCK = """
        SELECT doc_id,
               string_split(text, ' ')[i]     AS w1,
               string_split(text, ' ')[i + 1] AS w2
        FROM (
            SELECT doc_id, text,
                   unnest(generate_series(1, len(string_split(text, ' ')) - 1)) AS i
            FROM documents
        )
"""


# Memoized per (session, sf_dir) like the shingle relation in plans/llm.py:
# TF-IDF, PMI, the bigram LM and the inverted index all re-tokenize the
# same corpus (PMI alone references the token relation three times).
# One materialization replaces ~7 re-tokenizations; at true scale you'd
# checkpoint the tokenized relation to parquet once — the standard
# tokenize-once corpus layout — and these queries would read it.
@session_memo
def _doc_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))


@session_memo
def _doc_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bind the token array ONCE (inlining split() into the lambda
    # re-splits per element access — the O(n²) trap named in
    # advanced_analytics' textrank extraction), and filter out
    # sub-2-token docs so sequence(1, size-1) never hits the
    # descending sequence(1, 0) edge
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .filter(F.size("toks") >= 2)
    )
    pair = F.explode(
        F.expr(
            "transform(sequence(1, size(toks) - 1),"
            " i -> struct(toks[i-1] AS w1, toks[i] AS w2))"
        )
    ).alias("bg")
    return docs.select("doc_id", pair).select("doc_id", "bg.w1", "bg.w2")


# ---------------------------------------------------------------------------
# TF-IDF top terms per document. tf from one grouped count; df is a
# second grouped count OVER the tf relation (a (doc, term) row is one
# containing doc); idf = ln((N+1)/(df+1)) + 1 (the smoothed form —
# defined even for df = N). Ranking happens on the ROUNDED score so both
# engines break near-ties identically (then term ASC). The tf→df join
# shuffles on term — the vocabulary is unbounded at crawl scale, so no
# broadcast; N is a 1-row broadcast cross join.
# ---------------------------------------------------------------------------
_TFIDF_K = 5


@register(
    "tfidf_top_terms",
    oracle=f"""
        WITH toks AS ({_TOKS_DUCK}),
        tf AS (
            SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM toks GROUP BY 1, 2
        ),
        df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        scored AS (
            SELECT t.doc_id, t.term, t.tf, d.df,
                   ROUND(t.tf * (LN((n.n + 1.0) / (d.df + 1.0)) + 1.0), 6)
                       AS tfidf
            FROM tf t JOIN df d USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, tf, df, tfidf, rank FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
            FROM scored
        ) WHERE rank <= {_TFIDF_K}
    """,
    tags=("llm", "text", "tfidf"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _doc_terms(spark, sf_dir)
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    n = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * (F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TFIDF_K)
        .select("doc_id", "term", "tf", "df", "tfidf", "rank")
    )


# ---------------------------------------------------------------------------
# Bigram PMI collocations: pmi = ln(p(ab) / (p(a)·p(b))) with p(ab) over
# bigram count T2 and unigram probabilities over token count T. Support
# floor (c_ab ≥ 5) kills the hapax noise PMI is notorious for; top-20 by
# (rounded pmi DESC, w1, w2) via orderBy+limit = TakeOrderedAndProject —
# never a global window. Counts join on the word columns (shuffle;
# vocabulary unbounded), totals broadcast.
# ---------------------------------------------------------------------------
_PMI_MIN_COUNT = 5
_PMI_TOPK = 20


@register(
    "bigram_pmi_top",
    oracle=f"""
        WITH bg AS ({_BIGRAMS_DUCK}),
        cab AS (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_ab
            FROM bg GROUP BY 1, 2
        ),
        uni AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM ({_TOKS_DUCK})
            GROUP BY 1
        ),
        tot AS (
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ({_TOKS_DUCK})) AS t,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM bg) AS t2
        )
        SELECT p.w1, p.w2, p.n_ab,
               ROUND(LN((p.n_ab * 1.0 / tot.t2)
                        / ((a.c * 1.0 / tot.t) * (b.c * 1.0 / tot.t))), 6)
                   AS pmi
        FROM cab p
        JOIN uni a ON a.term = p.w1
        JOIN uni b ON b.term = p.w2
        CROSS JOIN tot
        WHERE p.n_ab >= {_PMI_MIN_COUNT}
        ORDER BY pmi DESC, p.w1 ASC, p.w2 ASC
        LIMIT {_PMI_TOPK}
    """,
    tags=("llm", "text", "collocation"),
)
def bigram_pmi_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    bg = _doc_bigrams(spark, sf_dir)
    cab = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ab")
    )
    uni = _doc_terms(spark, sf_dir).groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = (
        _doc_terms(spark, sf_dir)
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .crossJoin(bg.agg(F.count(F.lit(1)).cast("bigint").alias("t2")))
    )
    a = uni.select(F.col("term").alias("w1"), F.col("c").alias("ca"))
    b = uni.select(F.col("term").alias("w2"), F.col("c").alias("cb"))
    return (
        cab.filter(F.col("n_ab") >= _PMI_MIN_COUNT)
        .join(a, "w1")
        .join(b, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n_ab",
            F.round(
                F.log(
                    (F.col("n_ab") * 1.0 / F.col("t2"))
                    / ((F.col("ca") * 1.0 / F.col("t")) * (F.col("cb") * 1.0 / F.col("t")))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(_PMI_TOPK)
    )


# ---------------------------------------------------------------------------
# Bigram-LM quality: per-document cross-entropy under the corpus bigram
# model with Laplace smoothing — p(w2|w1) = (c(w1,w2)+1) / (c(w1)+V).
# The LM-score upgrade of unigram surprisal (context-aware: word salad
# with plausible unigrams scores poorly). Perplexity = exp(H) computed
# from the ROUNDED H so the exp sees identical input in both engines.
# Doc bigrams join the corpus counts on (w1, w2) — shuffle, vocabulary
# unbounded; V is a 1-row broadcast.
# ---------------------------------------------------------------------------
# shared CTE chain ending in perdoc(doc_id, n_bigrams, cross_entropy) —
# also consumed by the CCNet-style bucket query (plans/curation.py)
_PERDOC_CE_DUCK = f"""bg AS ({_BIGRAMS_DUCK}),
        cab AS (
            SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_ab
            FROM bg GROUP BY 1, 2
        ),
        cw AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS n_w FROM bg GROUP BY 1),
        v AS (
            SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v FROM ({_TOKS_DUCK})
        ),
        perdoc AS (
            SELECT b.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   ROUND(-SUM(LN((c.n_ab + 1.0) / (w.n_w + v.v)))
                         / COUNT(*), 6) AS cross_entropy
            FROM bg b
            JOIN cab c ON c.w1 = b.w1 AND c.w2 = b.w2
            JOIN cw w ON w.w1 = b.w1
            CROSS JOIN v
            GROUP BY b.doc_id
        )"""


@register(
    "bigram_perplexity_quality",
    oracle=f"""
        WITH {_PERDOC_CE_DUCK}
        SELECT doc_id, n_bigrams, cross_entropy,
               ROUND(EXP(cross_entropy), 6) AS perplexity
        FROM perdoc
    """,
    tags=("llm", "text", "quality", "lm"),
)
def bigram_perplexity_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    bg = _doc_bigrams(spark, sf_dir)
    cab = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ab")
    )
    cw = bg.groupBy("w1").agg(F.count(F.lit(1)).cast("bigint").alias("n_w"))
    v = _doc_terms(spark, sf_dir).agg(
        F.countDistinct("term").cast("bigint").alias("v")
    )
    perdoc = (
        bg.join(cab, ["w1", "w2"])
        .join(cw, "w1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(
                -F.sum(F.log((F.col("n_ab") + 1.0) / (F.col("n_w") + F.col("v"))))
                / F.count(F.lit(1)),
                6,
            ).alias("cross_entropy"),
        )
    )
    return perdoc.select(
        "doc_id",
        "n_bigrams",
        "cross_entropy",
        F.round(F.exp("cross_entropy"), 6).alias("perplexity"),
    )


# ---------------------------------------------------------------------------
# Inverted-index posting lists, df-capped: terms in <2 docs are useless
# for retrieval (hapax), terms in >100 are stopwords (posting list too
# hot) — the standard index prune. Postings emit as a sorted
# comma-joined string so the value hash is representation-independent
# across engines (the collect_order_years device). At scale the posting
# list per surviving term is bounded by the df cap itself.
# ---------------------------------------------------------------------------
_IDX_MIN_DF, _IDX_MAX_DF = 2, 100


@register(
    "inverted_index_postings",
    oracle=f"""
        WITH tf AS (
            SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS n
            FROM ({_TOKS_DUCK}) GROUP BY 1, 2
        )
        SELECT term,
               CAST(COUNT(*) AS BIGINT) AS df,
               CAST(SUM(n) AS BIGINT) AS cf,
               array_to_string(list_sort(list(doc_id)), ',') AS postings
        FROM tf
        GROUP BY term
        HAVING COUNT(*) BETWEEN {_IDX_MIN_DF} AND {_IDX_MAX_DF}
    """,
    tags=("llm", "text", "index", "array"),
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf = _doc_terms(spark, sf_dir).groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df"),
            F.sum("n").cast("bigint").alias("cf"),
            F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias(
                "postings"
            ),
        )
        .filter(F.col("df").between(_IDX_MIN_DF, _IDX_MAX_DF))
    )


# ---------------------------------------------------------------------------
# Canonical pick per near-dup cluster — the KEEP decision dedup must
# make: within each connected component of the exact-Jaccard pair graph,
# keep the doc with the most distinct words (ties → smallest doc_id);
# everything else is the drop set. Clusters via the same distributed
# connected components as dedup_cluster_assign; the oracle reuses its
# recursive-CTE closure. Quality join is doc-keyed (cluster membership
# is a tiny relation vs the corpus).
# ---------------------------------------------------------------------------
def _canonical_pick_oracle() -> str:
    from etl_pipeline_spark.plans.llm import _JACCARD_PAIRS_DUCK

    return f"""
        WITH RECURSIVE
        pairs AS ({_JACCARD_PAIRS_DUCK}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        reach(node, peer) AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.peer
        ),
        comp AS (
            SELECT node, LEAST(node, MIN(peer)) AS component
            FROM reach GROUP BY node
        ),
        quality AS (
            SELECT doc_id,
                   CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                       AS quality
            FROM documents
        ),
        ranked AS (
            SELECT c.component AS cluster_id, c.node AS doc_id, q.quality,
                   ROW_NUMBER() OVER (PARTITION BY c.component
                       ORDER BY q.quality DESC, c.node ASC) AS r,
                   CAST(COUNT(*) OVER (PARTITION BY c.component) AS BIGINT)
                       AS n_members
            FROM comp c JOIN quality q ON q.doc_id = c.node
        )
        SELECT cluster_id, doc_id AS kept_doc_id, quality AS kept_quality,
               n_members, n_members - 1 AS n_dropped
        FROM ranked WHERE r = 1
    """


@register(
    "dedup_canonical_pick",
    oracle=_canonical_pick_oracle(),
    tags=("llm", "dedup", "graph"),
)
def dedup_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_spark.plans.llm import _dedup_clusters

    members = _dedup_clusters(spark, sf_dir, threshold=0.5)
    quality = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.array_distinct(F.split("text", " ")))
        .cast("bigint")
        .alias("quality"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        members.join(quality, "doc_id")
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("kept_doc_id"),
            F.col("quality").alias("kept_quality"),
            F.col("cluster_size").alias("n_members"),
            (F.col("cluster_size") - 1).alias("n_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# Token-budget allocation by largest remainder (Hamilton apportionment):
# integer per-language quotas proportional to token supply that sum to
# the budget EXACTLY — floor(B·c/C) plus one extra token-share for the
# largest remainders (ties → lang ASC). Everything past the one grouped
# token count runs on a #languages-sized relation (the window is bounded
# by stratum count, not data size). Pure integer arithmetic — no float
# division anywhere, so parity is exact by construction.
# ---------------------------------------------------------------------------
_BUDGET = 100_000


@register(
    "token_budget_allocation",
    oracle=f"""
        WITH c AS (
            SELECT lang,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS c_tokens
            FROM documents GROUP BY lang
        ),
        tot AS (SELECT CAST(SUM(c_tokens) AS BIGINT) AS total FROM c),
        base AS (
            SELECT c.lang, c.c_tokens,
                   ({_BUDGET} * c.c_tokens) // tot.total AS base_quota,
                   ({_BUDGET} * c.c_tokens) % tot.total AS remainder
            FROM c CROSS JOIN tot
        ),
        short AS (
            SELECT {_BUDGET} - CAST(SUM(base_quota) AS BIGINT) AS n_extra
            FROM base
        )
        SELECT lang, c_tokens, base_quota, remainder,
               CAST(rk <= s.n_extra AS INT) AS extra,
               base_quota + CAST(rk <= s.n_extra AS INT) AS quota
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                ORDER BY remainder DESC, lang ASC) AS rk
            FROM base
        ) CROSS JOIN short s
    """,
    tags=("llm", "sampling", "curriculum"),
)
def token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    # lang-sized relation consumed by FOUR downstream lineages (tot, base,
    # short-via-base, final projection): without the checkpoint each one
    # re-runs the corpus scan + tokenize + groupBy — 4 fact passes for a
    # #langs-row table (guide §5; the within-query dedup discipline)
    c = (
        docs.groupBy("lang")
        .agg(F.sum(F.size(F.split("text", " "))).cast("bigint").alias("c_tokens"))
        .localCheckpoint(eager=False)
    )
    tot = c.agg(F.sum("c_tokens").cast("bigint").alias("total"))
    base = c.crossJoin(F.broadcast(tot)).select(
        "lang",
        "c_tokens",
        F.expr(f"({_BUDGET} * c_tokens) DIV total").alias("base_quota"),
        F.expr(f"({_BUDGET} * c_tokens) % total").alias("remainder"),
    )
    short = base.agg(
        (F.lit(_BUDGET) - F.sum("base_quota")).cast("bigint").alias("n_extra")
    )
    w = Window.orderBy(F.desc("remainder"), F.asc("lang"))  # #langs rows
    return (
        base.withColumn("rk", F.row_number().over(w))
        .crossJoin(F.broadcast(short))
        .select(
            "lang",
            "c_tokens",
            "base_quota",
            "remainder",
            (F.col("rk") <= F.col("n_extra")).cast("int").alias("extra"),
            (F.col("base_quota") + (F.col("rk") <= F.col("n_extra")).cast("int")).alias(
                "quota"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss sign projection + distortion audit. The sign
# matrix is DETERMINISTIC — s(i,j) = ±1 from the parity of the shared
# md5 hash family (the same md5(seed:id) construction the sampling
# module uses), so Spark inlines the matrix as literals in a NARROW
# zip_with/aggregate projection (zero exchange over the corpus — the
# scale path), while the oracle rebuilds the identical matrix
# relationally from generate_series + the portable hash SQL. Distortion
# is measured on the bounded first-50 pair sample: ratio of projected to
# original squared L2, the JL quality gate.
# ---------------------------------------------------------------------------
_JL_IN, _JL_OUT = 64, 16
_JL_SAMPLE = 50  # vec_id < 50 → 1225 audit pairs


def _jl_sign(i: int, j: int) -> int:
    """+1/-1 from md5('jl:i_j') parity — must equal the oracle's SQL hash."""
    h = int(hashlib.md5(f"jl:{i}_{j}".encode()).hexdigest()[:8], 16)
    return 1 if h % 2 == 0 else -1


def _jl_oracle() -> str:
    from etl_pipeline_spark.operators.sampling import hash_u32_sql

    ij = "concat(CAST(i AS STRING), '_', CAST(j AS STRING))"
    sign = (
        f"CASE WHEN ({hash_u32_sql(ij, 'jl')}"
        f" % 2) = 0 THEN 1.0 ELSE -1.0 END"
    )
    return f"""
        WITH signs AS (
            SELECT j, i, {sign} AS s
            FROM (SELECT unnest(generate_series(0, {_JL_OUT - 1})) AS j)
            CROSS JOIN (SELECT unnest(generate_series(0, {_JL_IN - 1})) AS i)
        ),
        sample AS (
            SELECT vec_id, embedding FROM {EMB_VALID_ORACLE} embeddings WHERE vec_id < {_JL_SAMPLE}
        ),
        vx AS (
            SELECT vec_id,
                   unnest(generate_series(0, {_JL_IN - 1})) AS i,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM sample
        ),
        proj AS (
            SELECT v.vec_id, s.j, SUM(v.x * s.s) * 0.25 AS p
            FROM vx v JOIN signs s ON s.i = v.i
            GROUP BY 1, 2
        ),
        prs AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM sample a JOIN sample b ON a.vec_id < b.vec_id
        ),
        d2o AS (
            SELECT p.vec_a, p.vec_b,
                   SUM((xa.x - xb.x) * (xa.x - xb.x)) AS d2_orig
            FROM prs p
            JOIN vx xa ON xa.vec_id = p.vec_a
            JOIN vx xb ON xb.vec_id = p.vec_b AND xb.i = xa.i
            GROUP BY 1, 2
        ),
        d2p AS (
            SELECT p.vec_a, p.vec_b,
                   SUM((pa.p - pb.p) * (pa.p - pb.p)) AS d2_proj
            FROM prs p
            JOIN proj pa ON pa.vec_id = p.vec_a
            JOIN proj pb ON pb.vec_id = p.vec_b AND pb.j = pa.j
            GROUP BY 1, 2
        )
        SELECT o.vec_a, o.vec_b,
               ROUND(o.d2_orig, 6) AS d2_orig,
               ROUND(j.d2_proj, 6) AS d2_proj,
               ROUND(j.d2_proj / NULLIF(o.d2_orig, 0.0e0), 6) AS distortion
        FROM d2o o JOIN d2p j ON j.vec_a = o.vec_a AND j.vec_b = o.vec_b
    """


def jl_project(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, proj array<double>) — narrow sign projection, zero exchange.

    Each output dim j folds zip_with(vec, ±1-literal array) left-to-right
    and scales by 1/sqrt(m) = 0.25 (m = 16). The whole projection is one
    Project over the scan — the shape that runs at scan speed on 100 TB.
    """
    cols = []
    for j in range(_JL_OUT):
        lits = ", ".join(
            "1.0D" if _jl_sign(i, j) == 1 else "-1.0D" for i in range(_JL_IN)
        )
        cols.append(
            F.expr(
                f"aggregate(zip_with({vec_col}, array({lits}),"
                f" (x, s) -> CAST(x AS DOUBLE) * s),"
                f" CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) * 0.25"
            )
        )
    return corpus.select(F.col(id_col), F.array(*cols).alias("proj"))


@register(
    "jl_projection_distortion",
    oracle=_jl_oracle(),
    tags=("similarity", "embedding", "narrow"),
)
def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir).filter(
        F.col("vec_id") < _JL_SAMPLE
    )
    proj = jl_project(emb)
    both = emb.select("vec_id", "embedding").join(proj, "vec_id")
    a = both.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("proj").alias("pa"),
    )
    b = both.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("proj").alias("pb"),
    )
    d2 = (
        "aggregate(zip_with({u}, {v}, (x, y) ->"
        " (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
        " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
        " CAST(0.0 AS DOUBLE), (acc, w) -> acc + w)"
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.expr(d2.format(u="ea", v="eb")).alias("o"),
            F.expr(d2.format(u="pa", v="pb")).alias("p"),
        )
        .select(
            "vec_a",
            "vec_b",
            F.round("o", 6).alias("d2_orig"),
            F.round("p", 6).alias("d2_proj"),
            # nullif: an exact-duplicate pair has d2_orig == 0.0 exactly —
            # distortion is undefined (0/0 throws under ANSI, NaN in
            # DuckDB); NULL in both engines, the zero-denominator
            # convention everywhere else in the package (sweep-found on a
            # fixture with a planted duplicate embedding)
            F.round(F.col("p") / F.nullif(F.col("o"), F.lit(0.0)), 6).alias(
                "distortion"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic stratified k-fold assignment: within each stratum (lang)
# docs are ranked by the portable md5 hash (ties → doc_id) and folds
# dealt round-robin — EXACT balance (fold sizes differ by ≤1 per
# stratum), unlike hash-mod assignment which only balances in
# expectation. One shuffle keyed on the stratum; at crawl scale strata
# are languages (bounded) but members are huge — the rank window is the
# price of exactness, and the hash-mod fallback (assign_splits) is the
# zero-shuffle approximate path. The balance guarantee is asserted as an
# output column both engines must agree on.
# ---------------------------------------------------------------------------
_KFOLD = 5


def _kfold_oracle() -> str:
    from etl_pipeline_spark.operators.sampling import hash_u32_sql

    h = hash_u32_sql("doc_id", "cv")
    return f"""
        WITH ranked AS (
            SELECT doc_id, lang,
                   ROW_NUMBER() OVER (PARTITION BY lang
                       ORDER BY {h} ASC, doc_id ASC) AS rn
            FROM documents
        ),
        folds AS (
            SELECT lang, (rn - 1) % {_KFOLD} AS fold,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   MIN(doc_id) AS min_doc
            FROM ranked GROUP BY 1, 2
        )
        SELECT lang, fold, n_docs, min_doc,
               CAST(MAX(n_docs) OVER (PARTITION BY lang)
                    - MIN(n_docs) OVER (PARTITION BY lang) <= 1 AS INT)
                   AS is_balanced
        FROM folds
    """


@register(
    "stratified_kfold_assign",
    oracle=_kfold_oracle(),
    tags=("ml", "sampling", "splits"),
)
def stratified_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_spark.operators.sampling import hash_u32_sql

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    h = F.expr(hash_u32_sql("doc_id", "cv"))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    folds = (
        docs.withColumn("rn", F.row_number().over(w))
        .select(
            "lang", ((F.col("rn") - 1) % _KFOLD).alias("fold"), "doc_id"
        )
        .groupBy("lang", "fold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
        )
    )
    wl = Window.partitionBy("lang")
    return folds.select(
        "lang",
        "fold",
        "n_docs",
        "min_doc",
        ((F.max("n_docs").over(wl) - F.min("n_docs").over(wl)) <= 1)
        .cast("int")
        .alias("is_balanced"),
    )


# ---------------------------------------------------------------------------
# Zipf / power-law fit of the term-frequency distribution: the discrete
# MLE alpha = 1 + n / Σ ln(f_i / (fmin − 0.5)) (Clauset, Shalizi &
# Newman 2009) over terms with f ≥ fmin — the standard corpus-health
# diagnostic (a crawl whose alpha drifts far from ~2 is boilerplate- or
# spam-heavy). One term-keyed grouped count (the shared tokenized
# relation) and one aggregate; the Σ ln term is a float sum whose
# partial-agg-order jitter is ~1e-15 relative, far below the 6-dp round
# (the ANOVA/stat_tests convention).
# ---------------------------------------------------------------------------
_ZIPF_FMIN = 5


@register(
    "zipf_alpha_terms",
    oracle=f"""
        WITH toks AS ({_TOKS_DUCK}),
        tf AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS f
            FROM toks GROUP BY term
        ),
        sel AS (SELECT f FROM tf WHERE f >= {_ZIPF_FMIN})
        SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
               CAST(SUM(f) AS BIGINT) AS n_tokens,
               CAST({_ZIPF_FMIN} AS BIGINT) AS fmin,
               ROUND(1.0 + COUNT(*)
                     / SUM(LN(CAST(f AS DOUBLE) / ({_ZIPF_FMIN} - 0.5e0))), 6)
                   AS alpha
        FROM sel
    """,
    tags=("llm", "text", "stats"),
)
def zipf_alpha_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete power-law MLE alpha over term frequencies >= fmin."""
    tf = (
        _doc_terms(spark, sf_dir)
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
        .filter(F.col("f") >= _ZIPF_FMIN)
    )
    return tf.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum("f").cast("bigint").alias("n_tokens"),
        F.lit(_ZIPF_FMIN).cast("bigint").alias("fmin"),
        F.expr(
            f"ROUND(1.0 + COUNT(*)"
            f" / SUM(LN(CAST(f AS DOUBLE) / ({_ZIPF_FMIN} - 0.5e0))), 6)"
        ).alias("alpha"),
    )


# ---------------------------------------------------------------------------
# Cross-document n-gram duplication mass — the corpus-HEALTH number the
# dedup family acts on (RefinedWeb/Gopher report it as "fraction of
# text in duplicated spans"): the share of 8-gram INSTANCES whose
# n-gram occurs more than once corpus-wide. Within-doc repetition is
# repetition_quality; pairs are winnow_fingerprint_pairs; this is the
# single scalar that says how much duplicated mass exists at all.
# N-grams group by their MD5 (fixed 32-byte shuffle keys instead of
# ~50-byte strings — the minhash-family discipline); after the grouped
# count everything is one aggregate. The mass ratio is one exact-int
# division.
# ---------------------------------------------------------------------------
_DUPMASS_N = 8


@register(
    "crossdoc_ngram_dup_mass",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
            WHERE len(string_split(text, ' ')) >= {_DUPMASS_N}
        ),
        grams AS (
            SELECT md5(array_to_string(t[i:i + {_DUPMASS_N - 1}], ' ')) AS h
            FROM (
                SELECT t, unnest(generate_series(1, len(t) - {_DUPMASS_N - 1}))
                       AS i
                FROM toks
            )
        ),
        g AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS cnt FROM grams GROUP BY 1)
        SELECT CAST(SUM(cnt) AS BIGINT) AS n_instances,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
                   AS dup_instances,
               ROUND(CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)
                          AS DOUBLE) / SUM(cnt), 6) AS dup_mass
        FROM g
    """,
    tags=("text", "dedup", "corpus-health"),
)
def crossdoc_ngram_dup_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("t"))
        .filter(F.size("t") >= _DUPMASS_N)
    )
    # bind the array once (the O(n²) re-split trap), hash each 8-gram
    grams = docs.select(
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {_DUPMASS_N - 1}),"
                f" i -> md5(array_join(slice(t, i, {_DUPMASS_N}), ' ')))"
            )
        ).alias("h")
    )
    g = grams.groupBy("h").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    dup = F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)).cast(
        "bigint"
    )
    return g.agg(
        F.sum("cnt").cast("bigint").alias("n_instances"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        dup.alias("dup_instances"),
        F.round(dup.cast("double") / F.sum("cnt"), 6).alias("dup_mass"),
    )


# ---------------------------------------------------------------------------
# Flesch reading-ease per language band (round-6 wave). Syllables are
# approximated by vowel-run count (the standard regex proxy), words by
# letter runs, sentences by terminal-punctuation runs — all INTEGER
# counts from one regexp pass, so the Flesch formula runs on
# integer-ratio doubles whose +,−,×,÷ are IEEE-exact in both engines
# (no libm anywhere). Narrow scan → per-doc counts → lang×band grouped
# summary; zero joins, zero windows.
# ---------------------------------------------------------------------------
@register(
    "readability_flesch_docs",
    oracle="""
        WITH c AS (
            SELECT lang,
                   len(regexp_extract_all(text, '[A-Za-z]+')) AS w,
                   GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
                   len(regexp_extract_all(lower(text), '[aeiouy]+')) AS v
            FROM documents
        ),
        f AS (
            SELECT lang,
                   ROUND(206.835 - 1.015 * (w * 1.0 / s)
                         - 84.6 * (v * 1.0 / w), 4) AS score
            FROM c WHERE w > 0
        ),
        b AS (
            SELECT lang, score,
                   CASE WHEN score >= 90 THEN 'very_easy'
                        WHEN score >= 60 THEN 'easy'
                        WHEN score >= 30 THEN 'hard'
                        ELSE 'very_hard' END AS band
            FROM f
        )
        SELECT lang, band,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               ROUND(SUM(score) / COUNT(*), 4) AS mean_score
        FROM b GROUP BY 1, 2
    """,
    tags=("text", "quality", "readability"),
)
def readability_flesch_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    c = docs.select(
        "lang",
        F.expr("regexp_count(text, '[A-Za-z]+')").alias("w"),
        F.greatest(F.expr("regexp_count(text, '[.!?]+')"), F.lit(1)).alias("s"),
        F.expr("regexp_count(lower(text), '[aeiouy]+')").alias("v"),
    )
    score = F.round(
        F.lit(206.835)
        - 1.015 * (F.col("w") * 1.0 / F.col("s"))
        - 84.6 * (F.col("v") * 1.0 / F.col("w")),
        4,
    )
    f = c.where(F.col("w") > 0).select("lang", score.alias("score"))
    band = (
        F.when(F.col("score") >= 90, "very_easy")
        .when(F.col("score") >= 60, "easy")
        .when(F.col("score") >= 30, "hard")
        .otherwise("very_hard")
    )
    return (
        f.select("lang", "score", band.alias("band"))
        .groupBy("lang", "band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.sum("score") / F.count(F.lit(1)), 4).alias("mean_score"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility per language (round-6 wave): BPE-ish regex tokens
# (letter runs | digit runs | single other non-space) per whitespace
# word — the tokens-per-word ratio that decides how expensive a language
# is to train on and flags scripts the tokenizer fragments. Two integer
# regexp counts per doc, one grouped sum; fertility is an exact-integer
# ratio rounded at the end.
# ---------------------------------------------------------------------------
@register(
    "tokenizer_fertility_by_lang",
    oracle=r"""
        WITH c AS (
            SELECT lang,
                   len(regexp_extract_all(text, '\S+')) AS words,
                   len(regexp_extract_all(
                       text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS toks
            FROM documents
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(words) AS BIGINT) AS n_words,
               CAST(SUM(toks) AS BIGINT) AS n_tokens,
               ROUND(SUM(toks) * 1.0 / SUM(words), 6) AS fertility
        FROM c WHERE words > 0 GROUP BY 1
    """,
    tags=("text", "llm", "tokenizer"),
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    c = docs.select(
        "lang",
        F.expr(r"regexp_count(text, '\\S+')").alias("words"),
        F.expr(r"regexp_count(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')").alias(
            "toks"
        ),
    )
    return (
        c.where(F.col("words") > 0)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("words").cast("bigint").alias("n_words"),
            F.sum("toks").cast("bigint").alias("n_tokens"),
            F.round(F.sum("toks") * 1.0 / F.sum("words"), 6).alias("fertility"),
        )
    )


# ---------------------------------------------------------------------------
# Document-length log₂ histogram per language (round-6 wave): the
# length-distribution view every corpus intake dashboard leads with.
# The bucket is floor(log₂ n_chars) computed EXACTLY as
# length(bin(n_chars)) − 1 — integer bit-width, never libm log2, whose
# power-of-two boundaries differ between engines by one ulp. One grouped
# count over a two-column scan.
# ---------------------------------------------------------------------------
@register(
    "doclen_log_histogram",
    oracle="""
        SELECT lang,
               CAST(length(bin(CAST(n_chars AS BIGINT))) - 1 AS BIGINT)
                   AS log2_bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(MIN(n_chars) AS BIGINT) AS min_chars,
               CAST(MAX(n_chars) AS BIGINT) AS max_chars
        FROM documents WHERE n_chars >= 1
        GROUP BY 1, 2
    """,
    tags=("text", "profile", "histogram"),
)
def doclen_log_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("lang", "n_chars")
    return (
        docs.where(F.col("n_chars") >= 1)
        .groupBy(
            "lang",
            (F.length(F.bin(F.col("n_chars"))) - 1)
            .cast("bigint")
            .alias("log2_bucket"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage & unseen-mass estimates per language (round-6
# wave): Good–Turing coverage (Good 1953 — the probability mass of the
# NEXT token being an already-seen type is ~ 1 − f1/N) and the
# bias-corrected Chao1 richness floor (Chao 1984: V + f1(f1−1)/(2(f2+1))
# — how many types the corpus is still missing). The pair tells a
# crawl/curation loop when a language's corpus has stopped buying new
# vocabulary. One term-keyed count (the TF-IDF cost), then everything is
# a language-domain aggregate of exact integers; ratios round at 6 dp.
# ---------------------------------------------------------------------------
@register(
    "vocab_coverage_estimates",
    oracle="""
        WITH tc AS (
            SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS c
            FROM (
                SELECT lang, unnest(string_split(text, ' ')) AS term
                FROM documents
            ) GROUP BY 1, 2
        )
        SELECT lang,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
               CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
               ROUND(1.0 - SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0
                           / SUM(c), 6) AS gt_coverage,
               ROUND(COUNT(*)
                     + SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0
                       * (SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1)
                       / (2.0 * (SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1)),
                     6) AS chao1_richness
        FROM tc GROUP BY 1
    """,
    tags=("text", "corpus", "coverage"),
)
def vocab_coverage_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    tc = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    f1 = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    f2 = F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
    v = F.count(F.lit(1))
    return tc.groupBy("lang").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        v.cast("bigint").alias("n_types"),
        f1.cast("bigint").alias("f1"),
        f2.cast("bigint").alias("f2"),
        F.round(1.0 - f1 * 1.0 / F.sum("c"), 6).alias("gt_coverage"),
        F.round(v + f1 * 1.0 * (f1 - 1) / (2.0 * (f2 + 1)), 6).alias(
            "chao1_richness"
        ),
    )
