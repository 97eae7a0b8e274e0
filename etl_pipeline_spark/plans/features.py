"""Feature-engineering and community-detection queries.

ML-adjacent primitives a training-data pipeline runs between raw tables
and model input (no reference analog — beyond-reference components from
the LLM-pipeline mandate):

- rolling window features — per-entity lag / delta / trailing mean & std,
  the bread-and-butter temporal feature block. One window shuffle keyed
  on the entity; variance uses the explicit sum-of-squares form with
  identical parenthesization in both engines (engine-internal Welford
  variants would not hash-match);
- leave-one-out target encoding — category → mean(target) with the row's
  own target excluded (the standard leakage guard) plus an m-estimate
  smoothed variant. One tiny grouped aggregate broadcast back over the
  fact table: the encode itself is a narrow projection;
- label-propagation communities (Raghavan et al. 2007) over the top-3
  co-supplier graph — deterministic tie-breaking, fixed rounds, DuckDB
  oracle unrolls the rounds as chained CTEs (the PageRank-oracle device).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_spark.operators.graph import label_propagation
from etl_pipeline_spark.plans.corpus_quality import COSUPPLIER_EDGE_CTES
from etl_pipeline_spark.plans.registry import register
from etl_pipeline_spark.sources.embeddings import EMB_VALID_ORACLE, load_embeddings
from etl_pipeline_spark.sources.star import load_table
from etl_pipeline_spark.utils.session_cache import session_memo


# deterministic LPA labels over the co-supplier graph, memoized per
# (session, sf_dir, n_iter): lpa_cosupplier_communities and
# modularity_cosupplier run the IDENTICAL fixed-round propagation
# (same edges, same tie rule, same round count) — one materialization
# instead of two. label_propagation eagerly localCheckpoints its rounds,
# so the memo entry is an already-materialized node-sized relation.
@session_memo
def _lpa_labels(spark: SparkSession, sf_dir: str, n_iter: int) -> DataFrame:
    from etl_pipeline_spark.plans.corpus_quality import cosupplier_edges

    return label_propagation(cosupplier_edges(spark, sf_dir), n_iter=n_iter)


# ---------------------------------------------------------------------------
# Rolling features per user: lag-1 value, delta, trailing 3-event mean and
# sample std. Only rows with a FULL 3-event history are emitted, so every
# output cell is non-null (engines disagree on null stringification, and a
# warm-up row's features are garbage anyway). At 150 users the window
# partitioning is coarse; at real scale the entity key is high-cardinality
# and this is the canonical one-shuffle feature block.
# ---------------------------------------------------------------------------
@register(
    "feature_rolling_events",
    oracle="""
        WITH w AS (
            SELECT event_id, user_id, value,
                   ROW_NUMBER() OVER win AS rn,
                   LAG(value, 1) OVER win AS lag1,
                   SUM(value) OVER win3 AS s3,
                   SUM(value * value) OVER win3 AS ss3
            -- ts IS NOT NULL (r11 nulls probe): an untimestamped event has
            -- no place in the rolling order — the engines seat it at
            -- opposite partition ends, shifting every lag/rolling frame
            FROM events WHERE ts IS NOT NULL
            WINDOW win AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id),
                   win3 AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
                            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        )
        SELECT event_id, user_id, value,
               lag1,
               ROUND(value - lag1, 6) AS delta,
               ROUND(s3 / 3.0, 6) AS roll_mean,
               ROUND(SQRT(GREATEST((ss3 - s3 * s3 / 3.0) / 2.0, 0.0)), 6)
                   AS roll_std
        FROM w WHERE rn >= 3
    """,
    tags=("features", "window"),
)
def feature_rolling_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "ts", "value")
        .filter(F.col("ts").isNotNull())
    )
    win = Window.partitionBy("user_id").orderBy("ts", "event_id")
    win3 = win.rowsBetween(-2, 0)
    w = ev.select(
        "event_id",
        "user_id",
        "value",
        F.row_number().over(win).alias("rn"),
        F.lag("value", 1).over(win).alias("lag1"),
        F.sum("value").over(win3).alias("s3"),
        F.sum(F.col("value") * F.col("value")).over(win3).alias("ss3"),
    )
    return w.filter(F.col("rn") >= 3).select(
        "event_id",
        "user_id",
        "value",
        "lag1",
        F.round(F.col("value") - F.col("lag1"), 6).alias("delta"),
        F.round(F.col("s3") / 3.0, 6).alias("roll_mean"),
        F.round(
            F.sqrt(
                F.greatest(
                    (F.col("ss3") - F.col("s3") * F.col("s3") / 3.0) / 2.0,
                    F.lit(0.0),
                )
            ),
            6,
        ).alias("roll_std"),
    )


# ---------------------------------------------------------------------------
# Leave-one-out target encoding of order priority against order value,
# with an m-estimate smoothed variant (m=10 pseudo-observations of the
# global mean). The grouped sums are a 5-row relation broadcast back over
# the fact scan — the encoding itself never shuffles the facts.
# ---------------------------------------------------------------------------
_TE_M = 10


@register(
    "target_encode_priority",
    oracle=f"""
        WITH g AS (
            SELECT o_orderpriority,
                   SUM(o_totalprice) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM orders GROUP BY o_orderpriority
        ),
        gm AS (SELECT SUM(o_totalprice) / COUNT(*) AS gmean FROM orders)
        SELECT o.o_orderkey, o.o_orderpriority,
               -- NULLIF: a singleton group has no leave-one-out peers —
               -- NULL, not an ANSI 0-divide (probe-found on a truncated
               -- tiny corpus); the smoothed variant's denominator never
               -- vanishes
               ROUND((g.s - o.o_totalprice) / NULLIF(g.n - 1, 0), 6) AS te_loo,
               ROUND((g.s - o.o_totalprice + {_TE_M} * gm.gmean)
                     / (g.n - 1 + {_TE_M}), 6) AS te_smoothed
        FROM orders o JOIN g USING (o_orderpriority) CROSS JOIN gm
    """,
    tags=("features", "narrow"),
)
def target_encode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    g = o.groupBy("o_orderpriority").agg(
        F.sum("o_totalprice").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    glob = o.agg(
        (F.sum("o_totalprice") / F.count(F.lit(1))).alias("gmean")
    )
    return (
        o.join(F.broadcast(g), "o_orderpriority")
        .crossJoin(F.broadcast(glob))
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(
                (F.col("s") - F.col("o_totalprice"))
                / F.nullif(F.col("n") - 1, F.lit(0)),
                6,
            ).alias("te_loo"),  # singleton group → NULL, see oracle
            F.round(
                (F.col("s") - F.col("o_totalprice") + _TE_M * F.col("gmean"))
                / (F.col("n") - 1 + _TE_M),
                6,
            ).alias("te_smoothed"),
        )
    )


# ---------------------------------------------------------------------------
# Label-propagation communities over the top-3 co-supplier graph.
# Deterministic LPA (ties -> smallest label), 3 synchronous rounds; the
# oracle unrolls each round as a counts-CTE + argmax-CTE pair using the
# same cnt·2³² + (2³²−1−label) encoding the Spark operator aggregates.
# Output: the 20 largest communities (size DESC, community ASC).
# ---------------------------------------------------------------------------
_LPA_ITER = 3
_ENC = 4294967296  # 2^32


def _lpa_oracle(n_iter: int = _LPA_ITER) -> str:
    rounds = []
    prev = "l0"
    for i in range(1, n_iter + 1):
        rounds.append(
            f"""
        c{i} AS (
            SELECT s.dst AS node, l.label, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM sym s JOIN {prev} l ON l.node = s.src
            GROUP BY s.dst, l.label
        ),
        l{i} AS (
            SELECT node,
                   {_ENC - 1} - (MAX(cnt * {_ENC} + ({_ENC - 1} - label))
                                 % {_ENC}) AS label
            FROM c{i} GROUP BY node
        )"""
        )
        prev = f"l{i}"
    return f"""
        WITH {COSUPPLIER_EDGE_CTES},
        sym AS (
            SELECT src, dst FROM edges
            UNION ALL
            SELECT dst AS src, src AS dst FROM edges
        ),
        l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
        {",".join(rounds)}
        SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members
        FROM {prev}
        GROUP BY label
        ORDER BY n_members DESC, community ASC
        LIMIT 20
    """


@register(
    "lpa_cosupplier_communities",
    oracle=_lpa_oracle(),
    tags=("graph", "iterative"),
)
def lpa_cosupplier_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = _lpa_labels(spark, sf_dir, _LPA_ITER)
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .orderBy(F.desc("n_members"), F.asc("community"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Join-size estimation — the cost-based-optimizer primitive: predict the
# row count of a key-equi self-join (Σ cnt(k)²) from a deterministic 1/16
# hash-sample of the KEY SPACE, scaled by 1/p. Key-space sampling (not
# row sampling) keeps per-key counts exact inside the sample, which is
# what makes Σ cnt² estimable at all — row sampling biases cnt² by p².
# One grouped count + one aggregate; the estimate costs a fraction of the
# join it predicts.
# ---------------------------------------------------------------------------
_JSE_P_INV = 16  # sample 1/16 of keys
_JSE_THRESH = 4294967296 // _JSE_P_INV


def _jse_sums() -> tuple[str, str]:
    from etl_pipeline_spark.operators.sampling import hash_u32_sql

    exact = "SUM(cnt * cnt)"
    est = (
        f"SUM(CASE WHEN {hash_u32_sql('k', 'jse')} < {_JSE_THRESH} "
        f"THEN cnt * cnt * {_JSE_P_INV} ELSE 0 END)"
    )
    return exact, est


def _jse_oracle() -> str:
    ex, es = _jse_sums()
    return f"""
        WITH c AS (
            SELECT l_partkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM lineitem GROUP BY l_partkey
        )
        SELECT CAST({ex} AS BIGINT) AS exact_pairs,
               CAST({es} AS BIGINT) AS est_pairs,
               ROUND(ABS(CAST({es} AS BIGINT) * 1.0e0
                         - CAST({ex} AS BIGINT))
                     / CAST({ex} AS BIGINT), 6) AS rel_err
        FROM c
    """


@register(
    "join_size_estimate",
    oracle=_jse_oracle(),
    tags=("optimizer", "sketch"),
)
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex, es = _jse_sums()
    li = load_table(spark, sf_dir, "lineitem")
    c = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    return c.agg(
        F.expr(f"CAST({ex} AS BIGINT)").alias("exact_pairs"),
        F.expr(f"CAST({es} AS BIGINT)").alias("est_pairs"),
        # 1.0e0, not 1.0: a bare decimal literal keeps Spark in truncating
        # DECIMAL arithmetic through the division while DuckDB computes
        # doubles — the sql_drift_psi_event_values incident class,
        # sweep-found here on a random corpus (exact/est match; only the
        # derived ratio drifted)
        F.expr(
            f"ROUND(ABS(CAST({es} AS BIGINT) * 1.0e0"
            f" - CAST({ex} AS BIGINT))"
            f" / CAST({ex} AS BIGINT), 6)"
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# Relational k-means (Lloyd's, fixed 3 rounds, k=4) over the embedding
# corpus — the classic iterative-ML primitive with the full engine
# treatment: zero-exchange assignment over a one-row broadcast centroid
# array, k·dim-cell update shuffles, per-round 6-dp centroid rounding
# that absorbs the final-ulp differences between engines' partial-agg
# orders (parity is stable away from rounding boundaries — see the
# operators/clustering.py docstring for the exact caveat), and a DuckDB
# oracle that unrolls the rounds as chained CTEs. Output: cluster sizes
# + the smallest member id.
# ---------------------------------------------------------------------------
_KM_K = 4
_KM_ITER = 3


def kmeans_assign_ctes(k: int, n_iter: int) -> str:
    """The unrolled-CTE k-means assignment chain, reusable by any oracle
    that needs cluster ids (``a{n_iter}`` is the final (vec_id, cluster)
    relation). Kept in lockstep with ``operators/clustering.py``."""
    parts = [
        f"""
        px AS (
            SELECT vec_id, i.i AS pos,
                   CAST(embedding[i.i + 1] AS DOUBLE) AS v
            FROM {EMB_VALID_ORACLE} embeddings,
                 LATERAL (SELECT unnest(generate_series(0, 63)) AS i) i
        ),
        init AS (SELECT vec_id FROM {EMB_VALID_ORACLE} embeddings ORDER BY vec_id LIMIT {k}),
        c0 AS (
            SELECT r.j, p.pos, FLOOR(p.v * 1e6 + 0.5) / 1e6 AS c
            FROM (SELECT vec_id,
                         CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS j
                  FROM init) r
            JOIN px p USING (vec_id)
        )"""
    ]
    for t in range(1, n_iter + 1):
        parts.append(
            f"""
        a{t} AS (
            SELECT vec_id, j AS cluster FROM (
                SELECT p.vec_id, c.j,
                       ROW_NUMBER() OVER (PARTITION BY p.vec_id
                           ORDER BY FLOOR(SUM((p.v - c.c) * (p.v - c.c))
                                          * 1e6 + 0.5), c.j) AS r
                FROM px p JOIN c{t - 1} c USING (pos)
                GROUP BY p.vec_id, c.j
            ) WHERE r = 1
        )"""
        )
        if t < n_iter:
            parts.append(
                f"""
        c{t} AS (
            SELECT a.cluster AS j, p.pos,
                   FLOOR((SUM(p.v) / COUNT(*)) * 1e6 + 0.5) / 1e6 AS c
            FROM a{t} a JOIN px p USING (vec_id)
            GROUP BY a.cluster, p.pos
        )"""
            )
    return ",".join(parts)


def _kmeans_oracle(k: int = _KM_K, n_iter: int = _KM_ITER) -> str:
    return f"""
        WITH {kmeans_assign_ctes(k, n_iter)}
        SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
               MIN(vec_id) AS min_vec
        FROM a{n_iter} GROUP BY cluster
    """


@register(
    "kmeans_embedding_clusters",
    oracle=_kmeans_oracle(),
    tags=("ml", "iterative", "similarity"),
)
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_spark.operators.clustering import kmeans_fit_assign

    emb = load_embeddings(spark, sf_dir)
    assigned = kmeans_fit_assign(emb, k=_KM_K, n_iter=_KM_ITER)
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.min("vec_id").alias("min_vec"),
    )


# ---------------------------------------------------------------------------
# Multinomial Naive Bayes language classifier — train on even doc_ids,
# score the odd half, report the confusion matrix. The learned
# counterpart of the heuristic lang_id_confusion: per-(token, lang)
# Laplace-smoothed log-likelihoods + log priors, argmax over languages.
# The model relation is vocab × langs (broadcast — a model IS a small
# relation); scoring joins each test token against it map-side, so the
# only shuffle is the per-(doc, lang) score sum, test-volume-sized.
#
# Scale rule (the unbounded-vocab fix): raw crawl vocabulary is
# unbounded (10^7+ tokens × langs exceeds broadcast limits), so the
# vocabulary is HARD-BOUNDED before the model is built — min-df >= 2
# drops hapax legomena (by Zipf's law roughly half of any real corpus's
# distinct tokens), then an exact top-``_NB_MAX_VOCAB`` by total count
# (ties broken by token) caps the rest. The top-k is orderBy+limit =
# TakeOrderedAndProject (per-partition heaps, driver merges k rows) —
# NOT a global row_number window, which would collapse the vocabulary
# relation to one partition. At the cap the model broadcast is a few MB
# regardless of corpus size; raising the cap past the broadcast
# threshold degrades gracefully — drop the two F.broadcast hints and the
# joins become shuffle joins. Out-of-vocabulary test tokens score the
# Laplace floor 1/(n_tok+v), standard NB practice; priors stay computed
# over the FULL training split (pruning token features must not change
# class priors).
# Scores are scaled to integers (FLOOR(score·1e6 + 0.5)) before the
# argmax so both engines break near-ties identically (ties -> smaller
# lang). The synthetic corpus shares one vocabulary across languages
# (only marker-token densities differ), so accuracy sits near the prior
# — as with lang_id_confusion, the point is the operator shape
# (train relation -> broadcast model -> score -> argmax -> confusion),
# not model quality on word-soup fixtures.
# ---------------------------------------------------------------------------
_NB_MIN_DF = 2
_NB_MAX_VOCAB = 20_000


@register(
    "nb_lang_classifier_eval",
    oracle=f"""
        WITH train AS (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
            FROM documents WHERE doc_id % 2 = 0
        ),
        test_toks AS (
            SELECT doc_id, lang AS true_lang,
                   unnest(string_split(text, ' ')) AS tok
            FROM documents WHERE doc_id % 2 = 1
        ),
        kept AS (
            SELECT tok FROM (
                SELECT tok, CAST(COUNT(*) AS BIGINT) AS s,
                       COUNT(DISTINCT doc_id) AS df
                FROM train GROUP BY tok
            ) WHERE df >= {_NB_MIN_DF}
            ORDER BY s DESC, tok ASC LIMIT {_NB_MAX_VOCAB}
        ),
        cnt AS (
            SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
            FROM train JOIN kept USING (tok) GROUP BY lang, tok
        ),
        lang_tot AS (
            SELECT p.lang, k.n_tok, p.n_docs FROM
            (SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
             FROM train GROUP BY lang) p
            JOIN
            (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tok
             FROM train JOIN kept USING (tok) GROUP BY lang) k
            USING (lang)
        ),
        vocab AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM kept),
        total AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d FROM train),
        scored AS (
            SELECT t.doc_id, t.true_lang, lt.lang,
                   FLOOR((LN(CAST(lt.n_docs AS DOUBLE) / tot.d)
                          + SUM(LN((COALESCE(c.c, 0) + 1.0e0)
                                   / (lt.n_tok + vb.v))))
                         * 1e6 + 0.5) AS s
            FROM test_toks t
            CROSS JOIN lang_tot lt
            CROSS JOIN vocab vb
            CROSS JOIN total tot
            LEFT JOIN cnt c ON c.lang = lt.lang AND c.tok = t.tok
            GROUP BY t.doc_id, t.true_lang, lt.lang, lt.n_docs, lt.n_tok,
                     vb.v, tot.d
        ),
        pred AS (
            SELECT doc_id, true_lang, lang AS predicted FROM (
                SELECT doc_id, true_lang, lang,
                       ROW_NUMBER() OVER (PARTITION BY doc_id
                           ORDER BY s DESC, lang ASC) AS r
                FROM scored
            ) WHERE r = 1
        )
        SELECT true_lang, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM pred GROUP BY true_lang, predicted
    """,
    tags=("ml", "text", "nb"),
)
def nb_lang_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    test_toks = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        F.explode(F.split("text", " ")).alias("tok"),
    )
    # min-df + exact top-k prune: TakeOrderedAndProject, never a global
    # row_number window (see the scale rule in the block comment above)
    kept = (
        train.groupBy("tok")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("s"),
            F.countDistinct("doc_id").alias("df"),
        )
        .filter(F.col("df") >= _NB_MIN_DF)
        .orderBy(F.desc("s"), F.asc("tok"))
        .limit(_NB_MAX_VOCAB)
        .select("tok")
        # NOT checkpointed: the top-k prune must stay plan-visible
        # (test_nb_vocab_prune_is_topk_and_model_broadcasts); the reused
        # aggregates below are checkpointed instead
    )
    train_kept = train.join(F.broadcast(kept), "tok")
    # (lang x vocab)-bounded; feeds the per-lang token totals AND the
    # scored broadcast below
    cnt = train_kept.groupBy("lang", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).localCheckpoint(eager=False)
    # lang-sized doc counts; n_tok per lang == SUM of cnt.c per lang and
    # the corpus doc total == SUM of per-lang distinct-doc counts (every
    # doc carries exactly one lang value) — exact integer identities that
    # replace two more tokenize-the-corpus passes with aggregates over
    # the bounded relations above
    ld = (
        train.groupBy("lang")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
        .localCheckpoint(eager=False)
    )
    lang_tot = (
        ld.join(
            cnt.groupBy("lang").agg(F.sum("c").cast("bigint").alias("n_tok")),
            "lang",
        )
        .select("lang", "n_tok", "n_docs")
    )
    vocab = kept.agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    total = ld.agg(F.sum("n_docs").cast("bigint").alias("d"))
    scored = (
        test_toks.crossJoin(F.broadcast(lang_tot))
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(total))
        .join(
            F.broadcast(cnt).withColumnRenamed("lang", "c_lang"),
            (F.col("c_lang") == F.col("lang")) & (cnt["tok"] == test_toks["tok"]),
            "left",
        )
        .groupBy("doc_id", "true_lang", "lang", "n_docs", "n_tok", "v", "d")
        .agg(
            F.expr(
                "FLOOR((LN(CAST(n_docs AS DOUBLE) / d)"
                " + SUM(LN((COALESCE(c, 0) + 1.0e0) / (n_tok + v))))"
                " * 1e6 + 0.5)"
            ).alias("s")
        )
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("doc_id").orderBy(F.desc("s"), F.asc("lang"))
    pred = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("doc_id", "true_lang", F.col("lang").alias("predicted"))
    )
    return pred.groupBy("true_lang", "predicted").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# BPE merge training, in-engine: the first 3 byte-pair-encoding merges
# learned from the corpus (Sennrich et al., arXiv:1508.07909) — the
# tokenizer-training primitive. The state is the (word, freq) VOCABULARY
# relation, not the corpus: the corpus appears only in the initial word
# count (exactly how production BPE trainers work), so every round's pair
# count and merge application run on vocab-sized data. Each round:
# adjacent-symbol pair counts weighted by word frequency → argmax pair
# (count DESC, pair ASC) → merge applied as left-to-right non-overlapping
# replacement iterated to fixpoint (6 nested replace() calls — both
# engines share Java/C++ replace semantics, and fixpoint equals BPE's
# greedy application; corpus words are <= 12 symbols). Rounds compose
# into ONE lazy plan — no driver actions between merges.
# ---------------------------------------------------------------------------
_BPE_STEPS = 3
_BPE_REP_DEPTH = 6


def _bpe_rep(seq: str, x: str, y: str) -> str:
    """Nested replace-to-fixpoint of ' x y ' -> ' xy ' in `seq`."""
    out = seq
    for _ in range(_BPE_REP_DEPTH):
        out = (
            f"replace({out}, ' ' || {x} || ' ' || {y} || ' ',"
            f" ' ' || {x} || {y} || ' ')"
        )
    return out


def _bpe_oracle(steps: int = _BPE_STEPS) -> str:
    parts = [
        """
        v0 AS (
            SELECT ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS seq,
                   CAST(COUNT(*) AS BIGINT) AS freq
            FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
            GROUP BY word
        )"""
    ]
    for t in range(1, steps + 1):
        prev = f"v{t - 1}"
        parts.append(
            f"""
        p{t} AS (
            SELECT pr.x, pr.y, CAST(SUM(freq) AS BIGINT) AS cnt
            FROM (
                SELECT freq,
                       unnest(list_transform(
                           generate_series(1, len(string_split(trim(seq), ' ')) - 1),
                           i -> struct_pack(
                               x := string_split(trim(seq), ' ')[i],
                               y := string_split(trim(seq), ' ')[i + 1])
                       )) AS pr
                FROM {prev}
            )
            GROUP BY pr.x, pr.y
        ),
        b{t} AS (
            SELECT x, y, cnt FROM p{t} ORDER BY cnt DESC, x ASC, y ASC LIMIT 1
        ),
        v{t} AS (
            SELECT {_bpe_rep("v.seq", "b.x", "b.y")} AS seq, v.freq
            FROM {prev} v CROSS JOIN b{t} b
        )"""
        )
    selects = " UNION ALL ".join(
        f"SELECT {t} AS step, x AS left_sym, y AS right_sym, cnt AS pair_count FROM b{t}"
        for t in range(1, steps + 1)
    )
    return f"WITH {','.join(parts)} {selects}"


@register(
    "bpe_top_merges",
    oracle=_bpe_oracle(),
    tags=("ml", "text", "tokenizer", "iterative"),
)
def bpe_top_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    v = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .select(
            F.expr(
                "' ' || array_join(split(word, ''), ' ') || ' '"
            ).alias("seq"),
            "freq",
        )
    )
    # NB sequence(1, 0) DESCENDS in Spark — the 1-symbol case needs an
    # explicit empty array, not a greatest() clamp
    pair_expr = (
        "explode(CASE WHEN size(split(trim(seq), ' ')) < 2"
        " THEN CAST(array() AS array<struct<x: string, y: string>>)"
        " ELSE transform("
        " sequence(1, size(split(trim(seq), ' ')) - 1),"
        " i -> struct(element_at(split(trim(seq), ' '), i) AS x,"
        "             element_at(split(trim(seq), ' '), i + 1) AS y))"
        " END)"
    )
    bests = []
    for _t in range(1, _BPE_STEPS + 1):
        pairs = (
            v.select("freq", F.expr(pair_expr).alias("pr"))
            .groupBy(F.col("pr.x").alias("x"), F.col("pr.y").alias("y"))
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
        )
        best = pairs.orderBy(F.desc("cnt"), F.asc("x"), F.asc("y")).limit(1)
        bests.append(best)
        v = v.crossJoin(F.broadcast(best.select("x", "y"))).select(
            F.expr(_bpe_rep("seq", "x", "y")).alias("seq"), "freq"
        )
    out = None
    for t, b in enumerate(bests, start=1):
        row = b.select(
            F.lit(t).alias("step"),
            F.col("x").alias("left_sym"),
            F.col("y").alias("right_sym"),
            F.col("cnt").alias("pair_count"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# Newman modularity of the LPA communities — the quality score for the
# community detection above (Newman & Girvan 2004):
#     Q = Σ_c [ e_c/m − (d_c/2m)² ]
# (e_c = intra-community edges, d_c = community degree sum, m = edges).
# The oracle re-unrolls the SAME deterministic 3-round LPA CTE chain,
# then scores it. Every count is an exact BIGINT; each community's q_c
# is two IEEE divisions; the final Σ over the community-sized relation
# carries ~1e-16 jitter against a 6-dp round. Labels are a node-sized
# relation (supplier dimension) and broadcast into both edge-endpoint
# lookups; nothing fact-sized shuffles after the shared edge build.
# ---------------------------------------------------------------------------
def _modularity_oracle(n_iter: int = _LPA_ITER) -> str:
    rounds = []
    prev = "l0"
    for i in range(1, n_iter + 1):
        rounds.append(
            f"""
        c{i} AS (
            SELECT s.dst AS node, l.label, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM sym s JOIN {prev} l ON l.node = s.src
            GROUP BY s.dst, l.label
        ),
        l{i} AS (
            SELECT node,
                   {_ENC - 1} - (MAX(cnt * {_ENC} + ({_ENC - 1} - label))
                                 % {_ENC}) AS label
            FROM c{i} GROUP BY node
        )"""
        )
        prev = f"l{i}"
    return f"""
        WITH {COSUPPLIER_EDGE_CTES},
        sym AS (
            SELECT src, dst FROM edges
            UNION ALL
            SELECT dst AS src, src AS dst FROM edges
        ),
        l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
        {",".join(rounds)},
        mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
        e_in AS (
            SELECT la.label AS community, CAST(COUNT(*) AS BIGINT) AS e_c
            FROM edges e
            JOIN {prev} la ON la.node = e.src
            JOIN {prev} lb ON lb.node = e.dst
            WHERE la.label = lb.label
            GROUP BY 1
        ),
        deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
                FROM sym GROUP BY 1),
        dc AS (
            SELECT l.label AS community, CAST(SUM(deg.d) AS BIGINT) AS d_c
            FROM deg JOIN {prev} l ON l.node = deg.node
            GROUP BY 1
        ),
        contrib AS (
            SELECT dc.community,
                   CAST(COALESCE(e_in.e_c, 0) AS DOUBLE) / mm.m
                   - (CAST(dc.d_c AS DOUBLE) / (2 * mm.m))
                     * (CAST(dc.d_c AS DOUBLE) / (2 * mm.m)) AS q_c
            FROM dc
            LEFT JOIN e_in ON e_in.community = dc.community
            CROSS JOIN mm
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
               (SELECT m FROM mm) AS m_edges,
               ROUND(SUM(q_c), 6) AS modularity_q
        FROM contrib
    """


@register(
    "modularity_cosupplier",
    oracle=_modularity_oracle(),
    tags=("graph", "iterative", "quality"),
)
def modularity_cosupplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_spark.operators.graph import symmetrize
    from etl_pipeline_spark.plans.corpus_quality import cosupplier_edges

    edges = cosupplier_edges(spark, sf_dir)
    labels = _lpa_labels(spark, sf_dir, _LPA_ITER)
    sym = symmetrize(edges)
    mm = edges.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    la = F.broadcast(labels.select(F.col("node").alias("src"),
                                   F.col("label").alias("c_src")))
    lb = F.broadcast(labels.select(F.col("node").alias("dst"),
                                   F.col("label").alias("c_dst")))
    e_in = (
        edges.join(la, "src")
        .join(lb, "dst")
        .filter(F.col("c_src") == F.col("c_dst"))
        .groupBy(F.col("c_src").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_c"))
    )
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    dc = (
        deg.join(
            F.broadcast(labels), "node"
        )
        .groupBy(F.col("label").alias("community"))
        .agg(F.sum("d").cast("bigint").alias("d_c"))
    )
    contrib = (
        dc.join(e_in, "community", "left")
        .crossJoin(F.broadcast(mm))
        .select(
            (
                F.coalesce(F.col("e_c"), F.lit(0)).cast("double") / F.col("m")
                - (F.col("d_c").cast("double") / (2 * F.col("m")))
                * (F.col("d_c").cast("double") / (2 * F.col("m")))
            ).alias("q_c")
        )
    )
    return (
        contrib.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_communities"),
            F.round(F.sum("q_c"), 6).alias("modularity_q"),
        )
        .crossJoin(F.broadcast(mm))
        .select("n_communities", F.col("m").alias("m_edges"), "modularity_q")
    )


# ---------------------------------------------------------------------------
# Degree assortativity (Newman 2002): the Pearson correlation of the
# degrees at the two ends of every (directed/symmetrized) edge —
# positive = hubs attach to hubs, negative = hub-and-spoke. All five
# moments are exact BIGINT sums over the symmetrized edge list (degree
# joins are broadcast node-sized lookups); r is one fixed-parenthesis
# expression of IEEE divisions and a sqrt.
# ---------------------------------------------------------------------------
_ASSORT_R_DUCK = """
    (CAST(sxy AS DOUBLE) / m
     - (CAST(sx AS DOUBLE) / m) * (CAST(sy AS DOUBLE) / m))
    / SQRT((CAST(sxx AS DOUBLE) / m
            - (CAST(sx AS DOUBLE) / m) * (CAST(sx AS DOUBLE) / m))
           * (CAST(syy AS DOUBLE) / m
              - (CAST(sy AS DOUBLE) / m) * (CAST(sy AS DOUBLE) / m)))
"""


@register(
    "assortativity_cosupplier",
    oracle=f"""
        WITH {COSUPPLIER_EDGE_CTES},
        sym AS (
            SELECT src, dst FROM edges
            UNION ALL
            SELECT dst AS src, src AS dst FROM edges
        ),
        deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
                FROM sym GROUP BY 1),
        xy AS (
            SELECT da.d AS x, db.d AS y
            FROM sym s
            JOIN deg da ON da.node = s.src
            JOIN deg db ON db.node = s.dst
        ),
        mom AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS m,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx,
                   CAST(SUM(y * y) AS BIGINT) AS syy
            FROM xy
        )
        SELECT m AS m_sym_edges,
               ROUND(CAST(sx AS DOUBLE) / m, 6) AS mean_deg,
               CASE WHEN sxx * m = sx * sx OR syy * m = sy * sy THEN NULL
                    ELSE ROUND({_ASSORT_R_DUCK}, 6) END AS assortativity
        FROM mom
    """,
    tags=("graph", "stats"),
)
def assortativity_cosupplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_spark.operators.graph import symmetrize
    from etl_pipeline_spark.plans.corpus_quality import cosupplier_edges

    sym = symmetrize(cosupplier_edges(spark, sf_dir))
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    xy = (
        sym.join(
            F.broadcast(deg.select(F.col("node").alias("src"),
                                   F.col("d").alias("x"))),
            "src",
        )
        .join(
            F.broadcast(deg.select(F.col("node").alias("dst"),
                                   F.col("d").alias("y"))),
            "dst",
        )
        .select("x", "y")
    )
    mom = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    r = F.expr(_ASSORT_R_DUCK.replace("\n", " "))
    return mom.select(
        F.col("m").alias("m_sym_edges"),
        F.round(F.expr("CAST(sx AS DOUBLE) / m"), 6).alias("mean_deg"),
        F.when(
            (F.col("sxx") * F.col("m") == F.col("sx") * F.col("sx"))
            | (F.col("syy") * F.col("m") == F.col("sy") * F.col("sy")),
            F.lit(None).cast("double"),
        )
        .otherwise(F.round(r, 6))
        .alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# Distributed Gini split finder — the gradient-boosted-tree primitive
# (the histogram split search inside XGBoost/LightGBM, Chen & Guestrin
# 2016 §4.1): the single best threshold on o_totalprice for predicting
# order priority, scored by weighted Gini impurity. Candidate
# thresholds are HISTOGRAM BIN boundaries (10k-wide → ≤ 50 candidates
# whatever the row count — the approximate-split discipline that makes
# the search one grouped count + bin-domain arithmetic). Class counts
# pivot to five fixed columns, cumulate over the bounded bin domain,
# and the impurity expression is written out per class — no grouped
# float sum anywhere, so every candidate's score is bit-identical in
# both engines and the argmin cannot flip.
# ---------------------------------------------------------------------------
_GSF_BIN = 10_000
_GSF_CLASSES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _gsf_gini_duck(prefix: str, n: str) -> str:
    terms = " + ".join(
        f"(CAST({prefix}{i} AS DOUBLE) / {n}) * (CAST({prefix}{i} AS DOUBLE) / {n})"
        for i in range(len(_GSF_CLASSES))
    )
    return f"(1.0 - ({terms}))"


@register(
    "gini_split_finder_price",
    oracle=f"""
        WITH cells AS (
            SELECT CAST(FLOOR(o_totalprice / {_GSF_BIN}) AS BIGINT) AS bin,
                   {", ".join(
                       f"CAST(SUM(CASE WHEN o_orderpriority = '{c}' THEN 1"
                       f" ELSE 0 END) AS BIGINT) AS c{i}"
                       for i, c in enumerate(_GSF_CLASSES)
                   )}
            -- o_totalprice IS NOT NULL (r11 nulls probe): a split on price
            -- needs a price — the NULL bin would lead Spark's cumulative
            -- class counts and trail DuckDB's
            FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1
        ),
        cum AS (
            SELECT bin,
                   {", ".join(
                       f"CAST(SUM(c{i}) OVER w AS BIGINT) AS l{i}"
                       for i in range(len(_GSF_CLASSES))
                   )}
            FROM cells
            WINDOW w AS (ORDER BY bin
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ),
        tot AS (
            SELECT {", ".join(
                f"CAST(SUM(c{i}) AS BIGINT) AS t{i}"
                for i in range(len(_GSF_CLASSES))
            )},
            CAST(COUNT(*) AS BIGINT) AS n_bins
            FROM cells
        ),
        scored AS (
            SELECT (cum.bin + 1) * {_GSF_BIN} AS threshold,
                   ({" + ".join(f"cum.l{i}" for i in range(len(_GSF_CLASSES)))})
                       AS n_left,
                   ({" + ".join(f"tot.t{i}" for i in range(len(_GSF_CLASSES)))})
                     - ({" + ".join(f"cum.l{i}" for i in range(len(_GSF_CLASSES)))})
                       AS n_right,
                   {", ".join(
                       f"cum.l{i} AS l{i}, tot.t{i} - cum.l{i} AS r{i}"
                       for i in range(len(_GSF_CLASSES))
                   )},
                   ({" + ".join(f"tot.t{i}" for i in range(len(_GSF_CLASSES)))})
                       AS n_all
            FROM cum CROSS JOIN tot
        )
        SELECT threshold, n_left, n_right,
               ROUND((CAST(n_left AS DOUBLE) / n_all)
                         * {_gsf_gini_duck("l", "n_left")}
                     + (CAST(n_right AS DOUBLE) / n_all)
                         * {_gsf_gini_duck("r", "n_right")}, 6)
                   AS weighted_gini,
               ROUND({_gsf_gini_duck("t", "n_all")}
                     - ((CAST(n_left AS DOUBLE) / n_all)
                            * {_gsf_gini_duck("l", "n_left")}
                        + (CAST(n_right AS DOUBLE) / n_all)
                            * {_gsf_gini_duck("r", "n_right")}), 6)
                   AS gini_gain
        FROM scored CROSS JOIN tot
        WHERE n_left > 0 AND n_right > 0
        ORDER BY (CAST(n_left AS DOUBLE) / n_all)
                     * {_gsf_gini_duck("l", "n_left")}
                 + (CAST(n_right AS DOUBLE) / n_all)
                     * {_gsf_gini_duck("r", "n_right")} ASC,
                 threshold ASC
        LIMIT 1
    """,
    tags=("features", "ml", "tree"),
)
def gini_split_finder_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_cls = len(_GSF_CLASSES)
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    cells = orders.groupBy(
        F.expr(f"CAST(FLOOR(o_totalprice / {_GSF_BIN}) AS BIGINT)").alias("bin")
    ).agg(
        *[
            F.sum(
                F.when(F.col("o_orderpriority") == c, 1).otherwise(0)
            )
            .cast("bigint")
            .alias(f"c{i}")
            for i, c in enumerate(_GSF_CLASSES)
        ]
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = cells.select(
        "bin",
        *[
            F.sum(f"c{i}").over(w).cast("bigint").alias(f"l{i}")
            for i in range(n_cls)
        ],
    )
    tot = cells.agg(
        *[F.sum(f"c{i}").cast("bigint").alias(f"t{i}") for i in range(n_cls)]
    )
    scored = cum.crossJoin(F.broadcast(tot)).select(
        ((F.col("bin") + 1) * _GSF_BIN).alias("threshold"),
        sum((F.col(f"l{i}") for i in range(n_cls)), F.lit(0)).alias("n_left"),
        *[F.col(f"l{i}") for i in range(n_cls)],
        *[(F.col(f"t{i}") - F.col(f"l{i}")).alias(f"r{i}") for i in range(n_cls)],
        sum((F.col(f"t{i}") for i in range(n_cls)), F.lit(0)).alias("n_all"),
        *[F.col(f"t{i}") for i in range(n_cls)],
    ).withColumn("n_right", F.col("n_all") - F.col("n_left"))

    def _gini(prefix: str, n: str):
        acc = F.lit(0.0)
        for i in range(n_cls):
            share = F.col(f"{prefix}{i}").cast("double") / F.col(n)
            acc = acc + share * share
        return 1.0 - acc

    wg = (F.col("n_left").cast("double") / F.col("n_all")) * _gini(
        "l", "n_left"
    ) + (F.col("n_right").cast("double") / F.col("n_all")) * _gini(
        "r", "n_right"
    )
    base = _gini("t", "n_all")
    return (
        scored.filter((F.col("n_left") > 0) & (F.col("n_right") > 0))
        .select(
            "threshold",
            "n_left",
            "n_right",
            F.round(wg, 6).alias("weighted_gini"),
            F.round(base - wg, 6).alias("gini_gain"),
            wg.alias("_sort"),
        )
        .orderBy(F.asc("_sort"), F.asc("threshold"))
        .limit(1)
        .drop("_sort")
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities (Kleinberg 1999) on the bipartite
# customer -> supplier purchase graph (distinct (o_custkey, l_suppkey)
# pairs): authority = suppliers bought by strong hub customers, hub =
# customers buying from strong authorities. FIXED K=6 synchronous
# rounds, each a state-sized equi-join + grouped sum with L2
# normalization (one-row scalar, broadcast), lineage truncated per
# round with localCheckpoint (the PageRank discipline). Scores round at
# 6 dp BEFORE the top-10 rank (tie-break: node id) so cross-engine
# partial-agg jitter (~1e-12 relative) cannot flip an ordering; the
# oracle unrolls the rounds as MATERIALIZED CTEs.
# ---------------------------------------------------------------------------
_HITS_ROUNDS = 6
_HITS_TOPK = 10


def _hits_oracle() -> str:
    rounds = []
    prev_h = "h0"
    for k in range(1, _HITS_ROUNDS + 1):
        rounds.append(f"""        ar{k} AS MATERIALIZED (
            SELECT e.auth, SUM(h.s) AS s
            FROM e JOIN {prev_h} h ON h.hub = e.hub GROUP BY 1
        ),
        an{k} AS (SELECT SQRT(SUM(s * s)) AS n FROM ar{k}),
        a{k} AS MATERIALIZED (
            SELECT auth, s / (SELECT n FROM an{k}) AS s FROM ar{k}
        ),
        hr{k} AS MATERIALIZED (
            SELECT e.hub, SUM(a.s) AS s
            FROM e JOIN a{k} a ON a.auth = e.auth GROUP BY 1
        ),
        hn{k} AS (SELECT SQRT(SUM(s * s)) AS n FROM hr{k}),
        h{k} AS MATERIALIZED (
            SELECT hub, s / (SELECT n FROM hn{k}) AS s FROM hr{k}
        ),""")
        prev_h = f"h{k}"
    return f"""
        WITH e AS MATERIALIZED (
            SELECT DISTINCT o.o_custkey AS hub, l.l_suppkey AS auth
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        ),
        h0 AS (SELECT DISTINCT hub, 1.0 AS s FROM e),
{chr(10).join(rounds)}
        ranked AS (
            SELECT 'authority' AS side, CAST(auth AS BIGINT) AS node_id,
                   ROUND(s, 6) AS score,
                   CAST(ROW_NUMBER() OVER (ORDER BY ROUND(s, 6) DESC,
                                           auth ASC) AS BIGINT) AS rank
            FROM a{_HITS_ROUNDS}
            UNION ALL
            SELECT 'hub' AS side, CAST(hub AS BIGINT) AS node_id,
                   ROUND(s, 6) AS score,
                   CAST(ROW_NUMBER() OVER (ORDER BY ROUND(s, 6) DESC,
                                           hub ASC) AS BIGINT) AS rank
            FROM h{_HITS_ROUNDS}
        )
        SELECT side, node_id, score, rank FROM ranked
        WHERE rank <= {_HITS_TOPK}
    """


# customer→supplier bipartite HITS edges, memoized per (session, sf_dir)
@session_memo
def _hits_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("hub"), F.col("l_suppkey").alias("auth"))
        .distinct()
    )


@register(
    "hits_hub_authority",
    oracle=_hits_oracle(),
    tags=("graph", "iterative", "ranking"),
)
def hits_hub_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The customer→supplier bipartite relation is the fact-linear part of
    # this query (orders⋈lineitem + distinct); the HITS rounds below are
    # state-sized. Memoize + persist it per (session, sf_dir) like the
    # co-supplier edge cache, then anchor the rounds on a localCheckpoint
    # OF THE CACHED relation: the rounds reference e twenty times, and
    # scanning a concrete checkpointed RDD there measures ~1.7x faster
    # than twenty InMemoryTableScans; materializing the checkpoint from
    # cache is a cheap cache scan on warm executions instead of the full
    # orders⋈lineitem build.
    e = _hits_edges(spark, sf_dir)
    e = e.localCheckpoint(eager=False)
    h = e.select("hub").distinct().select("hub", F.lit(1.0).alias("s"))

    # Intermediate L2 normalizations are scalar multiples and every round
    # is a LINEAR operator (sum over neighbors), so the DIRECTION of the
    # score vector is invariant to when the normalization happens:
    # a_k ∝ (AᵀA)^(k-1)Aᵀ1 whether or not each round divides by the norm.
    # Run the first K-1 rounds UNNORMALIZED — each round is then exactly
    # two state-keyed join+sum stages instead of four stages plus two
    # one-row broadcasts — and normalize once entering the final round.
    # Magnitudes grow like (Σdeg)^K: ~1e21 here, and even a 1e5-degree
    # graph stays < 1e60 over 6 rounds, far inside double range (1e308).
    # The final scores differ from the per-round-normalized trajectory
    # only by float re-association (~1e-14 relative) — the same order as
    # the cross-engine partial-agg jitter the 6-dp pre-rank rounding
    # already absorbs (oracle parity proven at sf0.001/0.01/0.1).
    def _l2norm(df: DataFrame, node: str) -> DataFrame:
        nrm = df.agg(F.sqrt(F.sum(F.col("s") * F.col("s"))).alias("n"))
        return df.crossJoin(F.broadcast(nrm)).select(
            node, (F.col("s") / F.col("n")).alias("s")
        )

    a = None
    for k in range(_HITS_ROUNDS):
        ar = (
            e.join(h.withColumnRenamed("s", "hs"), "hub")
            .groupBy("auth")
            .agg(F.sum("hs").alias("s"))
        )
        if k < _HITS_ROUNDS - 1:
            a = ar
        else:
            # final round: normalized authority feeds the final hub sum,
            # mirroring the oracle's last-round float order
            a = _l2norm(ar, "auth").localCheckpoint(eager=False)
        hr = (
            e.join(a.withColumnRenamed("s", "as_"), "auth")
            .groupBy("hub")
            .agg(F.sum("as_").alias("s"))
        )
        h = (
            hr if k < _HITS_ROUNDS - 1 else _l2norm(hr, "hub")
        ).localCheckpoint(eager=False)
    # top-k read-out as TakeOrderedAndProject (orderBy().limit(k)), not a
    # global row_number window: the window form funnels the whole node
    # relation through ONE partition before truncating, while TakeOrdered
    # keeps per-partition heaps of k and merges on the driver — the
    # pagerank_part_supplier read-out shape. The (score desc, id asc)
    # ordering is total, so the first k of it are deterministic and the
    # rank column re-derived over the k-row result is hash-identical.
    def _topk(df: DataFrame, node: str, side: str) -> DataFrame:
        top = (
            df.orderBy(F.round("s", 6).desc(), F.col(node).asc())
            .limit(_HITS_TOPK)
            .select(
                F.lit(side).alias("side"),
                F.col(node).cast("bigint").alias("node_id"),
                F.round("s", 6).alias("score"),
            )
        )
        w = Window.orderBy(F.col("score").desc(), F.col("node_id").asc())
        return top.select(
            "side",
            "node_id",
            "score",
            F.row_number().over(w).cast("bigint").alias("rank"),  # k rows
        )

    return _topk(a, "auth", "authority").unionByName(_topk(h, "hub", "hub"))
