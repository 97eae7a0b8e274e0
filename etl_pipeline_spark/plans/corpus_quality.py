"""Round-3 wave-2 operators: rule-based quality filtering, robust anomaly
detection, sequence packing, temperature-mixed sampling, dedup recall
evaluation, and graph triangle statistics.

Each query is the Spark-first expression of a standard large-corpus /
observability primitive (the reference pipeline has no analog for any of
them — all are beyond-reference components from the LLM-training-pipeline
mandate):

- Gopher-style quality rules (Rae et al., arXiv:2112.11446 §A1.1) — the
  composite document filter every pretraining pipeline runs first;
- MAD anomaly detection — the robust (median/median-absolute-deviation)
  outlier flag for event streams, immune to the outliers it hunts;
- sequence packing — concatenate-and-chunk token-budget packing via a
  DISTRIBUTED prefix sum (operators/packing.py; the naive global-window
  cumsum is a single-partition plan that cannot run at 100 TB);
- temperature-scaled multilingual sampling (Conneau & Lample, XLM,
  arXiv:1901.07291 §3.1) — upweight low-resource languages with
  p_l^alpha; deterministic hash-threshold selection, zero shuffle on the
  corpus side;
- LSH recall eval — precision/recall of the MinHash-LSH candidate set
  against exact-Jaccard ground truth, in-engine (the "measure, don't
  guess" harness for the dedup family);
- co-occurrence triangle stats — top-k sparsified co-supplier graph +
  triangle count / global clustering coefficient (degree-bounded joins).

Every query carries a complete-output DuckDB oracle; floats are rounded
(6 dp) on identical parenthesization so values hash-match cell-for-cell.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_spark.operators.graph import (
    cooccurrence_pairs,
    topk_neighbor_edges,
    triangle_stats,
)
from etl_pipeline_spark.operators.packing import pack_sequences
from etl_pipeline_spark.operators.sampling import hash_u32_sql
from etl_pipeline_spark.utils.session_cache import session_memo
from etl_pipeline_spark.plans.registry import register
from etl_pipeline_spark.sources.star import load_table

# ---------------------------------------------------------------------------
# Gopher-style rule filter. Thresholds are tuned to the synthetic corpus
# (words 10-99, median 56; TTR median ~0.5) so every rule actually
# discriminates; the operator shape — N cheap column-expression rules, a
# conjunctive keep flag, per-rule flags kept for auditability — is the
# production shape. All rules are narrow projections: the filter runs at
# scan speed with zero exchange.
# ---------------------------------------------------------------------------
_STOPS_SQL = "'the','a','of','value','data'"

# rule thresholds — the single source for BOTH the gopher oracle below
# and the curation funnel's stage-1 oracle (plans/curation.py); a tweak
# here updates every oracle (the Spark side flows through
# quality_filter_gopher, which the funnel calls)
G_WORDS_LO, G_WORDS_HI = 20, 90
G_WLEN_LO, G_WLEN_HI = 4.0, 7.0
G_TTR_MIN = 0.35
G_STOPS_MIN = 1
G_SYMBOL_MAX = 0.1

_G_RULES_DUCK = f"""n_words BETWEEN {G_WORDS_LO} AND {G_WORDS_HI}
                    AND mean_word_len BETWEEN {G_WLEN_LO} AND {G_WLEN_HI}
                    AND ttr >= {G_TTR_MIN}
                    AND n_stop_kinds >= {G_STOPS_MIN}
                    AND symbol_ratio <= {G_SYMBOL_MAX}"""


def gopher_keep_predicate_duck(table: str = "documents") -> str:
    """DuckDB predicate over raw `text` — true iff all five rules pass.
    Formula-identical to the oracle's per-column form below."""
    return f"""
            len(string_split(text, ' '))
                BETWEEN {G_WORDS_LO} AND {G_WORDS_HI}
        AND len(replace(text, ' ', '')) * 1.0
                / len(string_split(text, ' '))
                BETWEEN {G_WLEN_LO} AND {G_WLEN_HI}
        AND len(list_distinct(string_split(text, ' '))) * 1.0
                / len(string_split(text, ' ')) >= {G_TTR_MIN}
        AND len(list_intersect(string_split(text, ' '),
                               [{_STOPS_SQL}])) >= {G_STOPS_MIN}
        AND len(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 1.0
                / greatest(len(text), 1) <= {G_SYMBOL_MAX}
    """


@register(
    "quality_filter_gopher",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_words,
                   len(replace(text, ' ', '')) * 1.0
                       / len(string_split(text, ' ')) AS mean_word_len,
                   len(list_distinct(string_split(text, ' '))) * 1.0
                       / len(string_split(text, ' ')) AS ttr,
                   len(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 1.0
                       / greatest(len(text), 1) AS symbol_ratio,
                   len(list_intersect(string_split(text, ' '),
                                      [{_STOPS_SQL}])) AS n_stop_kinds
            FROM documents
        )
        SELECT doc_id, n_words,
               ROUND(mean_word_len, 6) AS mean_word_len,
               ROUND(ttr, 6) AS ttr,
               ROUND(symbol_ratio, 6) AS symbol_ratio,
               CAST(n_words BETWEEN {G_WORDS_LO} AND {G_WORDS_HI} AS INT)
                   AS r_nwords,
               CAST(mean_word_len BETWEEN {G_WLEN_LO} AND {G_WLEN_HI} AS INT)
                   AS r_wordlen,
               CAST(ttr >= {G_TTR_MIN} AS INT) AS r_ttr,
               CAST(n_stop_kinds >= {G_STOPS_MIN} AS INT) AS r_stop,
               CAST(symbol_ratio <= {G_SYMBOL_MAX} AS INT) AS r_symbol,
               CAST({_G_RULES_DUCK} AS INT) AS keep
        FROM t
    """,
    tags=("llm", "text", "quality", "narrow"),
)
def quality_filter_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_words = F.size(toks)
    mean_word_len = F.length(F.expr("replace(text, ' ', '')")) * 1.0 / n_words
    ttr = F.size(F.array_distinct(toks)) * 1.0 / n_words
    symbol_ratio = (
        F.length(F.regexp_replace(F.col("text"), "[a-z0-9 ]", ""))
        * 1.0
        / F.greatest(F.length("text"), F.lit(1))
    )
    n_stop_kinds = F.expr(
        f"size(array_intersect(split(text, ' '), array({_STOPS_SQL})))"
    )
    t = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        ttr.alias("ttr"),
        symbol_ratio.alias("symbol_ratio"),
        n_stop_kinds.alias("n_stop_kinds"),
    )
    r_nwords = F.col("n_words").between(G_WORDS_LO, G_WORDS_HI)
    r_wordlen = F.col("mean_word_len").between(G_WLEN_LO, G_WLEN_HI)
    r_ttr = F.col("ttr") >= G_TTR_MIN
    r_stop = F.col("n_stop_kinds") >= G_STOPS_MIN
    r_symbol = F.col("symbol_ratio") <= G_SYMBOL_MAX
    return t.select(
        "doc_id",
        "n_words",
        F.round("mean_word_len", 6).alias("mean_word_len"),
        F.round("ttr", 6).alias("ttr"),
        F.round("symbol_ratio", 6).alias("symbol_ratio"),
        r_nwords.cast("int").alias("r_nwords"),
        r_wordlen.cast("int").alias("r_wordlen"),
        r_ttr.cast("int").alias("r_ttr"),
        r_stop.cast("int").alias("r_stop"),
        r_symbol.cast("int").alias("r_symbol"),
        (r_nwords & r_wordlen & r_ttr & r_stop & r_symbol)
        .cast("int")
        .alias("keep"),
    )


# ---------------------------------------------------------------------------
# MAD anomaly detection per event type. Median and MAD are robust to the
# outliers being hunted (mean/stddev are not — a single large spike drags
# the z-score baseline). Two grouped exact-percentile aggregates + one
# counted filter; group count is bounded (event types), so every shuffle
# is tiny. The 3·1.4826 factor scales MAD to the σ-equivalent for normal
# data (1/Φ⁻¹(3/4)).
# ---------------------------------------------------------------------------
@register(
    "anomaly_mad_events",
    oracle="""
        WITH med AS (
            SELECT event_type, quantile_cont(value, 0.5) AS med
            FROM events GROUP BY event_type
        ),
        dev AS (
            SELECT e.event_type, ABS(e.value - m.med) AS adev, m.med
            FROM events e JOIN med m USING (event_type)
        ),
        stats AS (
            SELECT event_type, MIN(med) AS med,
                   quantile_cont(adev, 0.5) AS mad,
                   COUNT(*) AS n_events
            FROM dev GROUP BY event_type
        )
        SELECT s.event_type,
               s.n_events,
               ROUND(s.med, 6) AS med,
               ROUND(s.mad, 6) AS mad,
               CAST(SUM(CASE WHEN d.adev > 3.0 * 1.4826 * s.mad
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM dev d JOIN stats s USING (event_type)
        GROUP BY s.event_type, s.n_events, s.med, s.mad
    """,
    tags=("timeseries", "quality"),
)
def anomaly_mad_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("adev"), "med"
    )
    stats = dev.groupBy("event_type").agg(
        F.min("med").alias("med"),
        F.expr("percentile(adev, 0.5)").alias("mad"),
        F.count(F.lit(1)).alias("n_events"),
    )
    flagged = dev.join(F.broadcast(stats.select("event_type", "mad", "n_events",
                                                F.col("med").alias("smed"))),
                       "event_type")
    return (
        flagged.groupBy("event_type", "n_events", "smed", "mad")
        .agg(
            F.sum(
                F.when(F.col("adev") > 3.0 * 1.4826 * F.col("mad"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers")
        )
        .select(
            "event_type",
            "n_events",
            F.round("smed", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            "n_outliers",
        )
    )


# ---------------------------------------------------------------------------
# Sequence packing: concatenate-and-chunk at a 256-token budget over the
# deterministic doc_id order. The Spark side uses the two-level
# distributed prefix sum (operators/packing.py); the oracle states the
# same quantity as one global window cumsum — fine for DuckDB, fatal for
# a cluster, which is exactly the point of the operator.
# ---------------------------------------------------------------------------
_PACK_BUDGET = 256


@register(
    "pack_sequences_budget",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents
        ),
        c AS (
            SELECT doc_id, n_tok,
                   COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS cum_excl
            FROM t
        )
        SELECT CAST(FLOOR(cum_excl / {_PACK_BUDGET}.0) AS BIGINT) AS seq_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               MIN(doc_id) AS first_doc,
               MAX(doc_id) AS last_doc
        FROM c GROUP BY 1
    """,
    tags=("llm", "packing"),
)
def pack_sequences_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_tok")
    )
    packed = pack_sequences(docs, "doc_id", "n_tok", budget=_PACK_BUDGET)
    return packed.groupBy("seq_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# Temperature-scaled multilingual sampling: sampling probability per
# language q_l ∝ p_l^0.5, so low-resource languages are upweighted
# relative to their corpus share. Selection is a deterministic hash
# threshold (keep iff u32(doc_id) < keep_prob·2³²) — a NARROW filter over
# the corpus (the per-language plan is a tiny aggregate + broadcast),
# reproducible across engines and runs; no per-language ordered rank, no
# shuffle of the corpus.
# ---------------------------------------------------------------------------
_TMIX_ALPHA_SQL = "SQRT(CAST(n_total AS DOUBLE))"  # p^0.5 temperature
_TMIX_FRACTION = 0.5  # sample ~half the corpus overall


@register(
    "temperature_sampled_mix",
    oracle=f"""
        WITH counts AS (
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_total
            FROM documents GROUP BY lang
        ),
        tot AS (
            SELECT CAST(SUM(n_total) AS BIGINT) AS corpus_n,
                   SUM({_TMIX_ALPHA_SQL}) AS wsum
            FROM counts
        ),
        probs AS (
            SELECT lang, n_total,
                   LEAST(1.0e0, {_TMIX_FRACTION}e0 * corpus_n
                              * ({_TMIX_ALPHA_SQL} / wsum)
                              / CAST(n_total AS DOUBLE)) AS keep_prob
            FROM counts, tot
        ),
        sampled AS (
            SELECT d.lang, COUNT(*) AS n_sampled
            FROM documents d JOIN probs p USING (lang)
            WHERE CAST({hash_u32_sql('d.doc_id', 'tmix')} AS DOUBLE)
                  < p.keep_prob * 4294967296.0
            GROUP BY d.lang
        )
        SELECT p.lang, p.n_total,
               CAST(COALESCE(s.n_sampled, 0) AS BIGINT) AS n_sampled,
               ROUND(p.keep_prob, 6) AS keep_prob
        FROM probs p LEFT JOIN sampled s USING (lang)
    """,
    tags=("llm", "sampling"),
)
def temperature_sampled_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total")
    )
    tot = counts.agg(
        F.sum("n_total").cast("bigint").alias("corpus_n"),
        F.sum(F.expr(_TMIX_ALPHA_SQL)).alias("wsum"),
    )
    probs = counts.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_total",
        F.expr(
            f"LEAST(1.0e0, {_TMIX_FRACTION}e0 * corpus_n"
            f" * ({_TMIX_ALPHA_SQL} / wsum)"
            f" / CAST(n_total AS DOUBLE))"
        ).alias("keep_prob"),
    )
    sampled = (
        docs.join(F.broadcast(probs.select("lang", "keep_prob")), "lang")
        .filter(
            F.expr(f"CAST({hash_u32_sql('doc_id', 'tmix')} AS DOUBLE)")
            < F.col("keep_prob") * 4294967296.0
        )
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sampled"))
    )
    return (
        probs.join(F.broadcast(sampled), "lang", "left")
        .select(
            "lang",
            "n_total",
            F.coalesce("n_sampled", F.lit(0)).cast("bigint").alias("n_sampled"),
            F.round("keep_prob", 6).alias("keep_prob"),
        )
    )


# ---------------------------------------------------------------------------
# LSH recall evaluation: how much of the exact-Jaccard>=0.5 truth set do
# the MinHash-LSH band candidates recover, and at what precision? The
# in-engine eval harness for the dedup family — band/row settings are a
# recall/cost dial and this query is its gauge. Both sides reuse the
# shared shingle relation; the truth side is the DF_CAP-capped exact
# verifier (bounded per-key fan-out in both engines — dedup.py::DF_CAP).
# ---------------------------------------------------------------------------
def _lsh_recall_oracle() -> str:
    from etl_pipeline_spark.operators.dedup import DF_CAP
    from etl_pipeline_spark.plans.llm import (
        _BANDS_DUCK,
        _MINHASH_AGGS_DUCK,
        _SHINGLES_DUCK,
    )

    # sigs/bands run on the raw shingles (minhash is df-agnostic); the
    # truth side mirrors jaccard_pairs' DF_CAP-capped relation exactly.
    return f"""
        WITH sh AS ({_SHINGLES_DUCK}),
        sigs AS (
            SELECT doc_id,
            {_MINHASH_AGGS_DUCK}
            FROM sh GROUP BY doc_id
        ),
        bands AS (
            SELECT doc_id, band_id, band_key
            FROM sigs, LATERAL (VALUES {_BANDS_DUCK}) AS t(band_id, band_key)
        ),
        candidates AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band_id = b.band_id AND a.band_key = b.band_key
                        AND a.doc_id < b.doc_id
        ),
        shc AS (
            SELECT doc_id, shingle FROM (
                SELECT doc_id, shingle,
                       COUNT(*) OVER (PARTITION BY shingle) AS df
                FROM sh
            ) WHERE df <= {DF_CAP}
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM shc GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        truth AS (
            SELECT doc_a, doc_b
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.5
        ),
        hits AS (
            SELECT doc_a, doc_b FROM candidates
            INTERSECT
            SELECT doc_a, doc_b FROM truth
        )
        SELECT
            CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
            CAST((SELECT COUNT(*) FROM candidates) AS BIGINT) AS n_candidates,
            CAST((SELECT COUNT(*) FROM hits) AS BIGINT) AS n_hits,
            ROUND(CASE WHEN (SELECT COUNT(*) FROM candidates) > 0
                       THEN (SELECT COUNT(*) FROM hits) * 1.0
                            / (SELECT COUNT(*) FROM candidates)
                       ELSE 0.0 END, 6) AS precision,
            ROUND(CASE WHEN (SELECT COUNT(*) FROM truth) > 0
                       THEN (SELECT COUNT(*) FROM hits) * 1.0
                            / (SELECT COUNT(*) FROM truth)
                       ELSE 0.0 END, 6) AS recall
    """


@register(
    "dedup_lsh_recall_eval",
    oracle=_lsh_recall_oracle(),
    tags=("llm", "dedup", "eval"),
)
def dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate precision/recall against the exact-Jaccard truth
    set. KNOWN ASYMMETRY (by design, identical in the oracle): the
    truth side runs on the DF_CAP-capped shingle relation while LSH
    candidates run on raw minhash signatures, so a genuine duplicate
    clique whose shared shingles all exceed DF_CAP docs is a candidate
    but not truth — it deflates `precision` as a false positive.
    Precision here therefore means "fraction of candidates confirmed
    by the CAP-VISIBLE truth set"; recall (the metric LSH tuning
    actually targets) is unaffected because truth is the denominator.
    Exact-duplicate mega-cliques are the exact_dedup operator's job,
    not this verifier's (operators/dedup.py:DF_CAP rationale)."""
    from etl_pipeline_spark.plans.llm import _jaccard_pairs, _lsh_candidate_pairs

    # the memoized banded-LSH candidate relation — identical build in
    # dedup_minhash_lsh (same hashes, bands, band keys)
    cands = _lsh_candidate_pairs(spark, sf_dir)
    # the truth side IS the memoized exact-Jaccard pair relation
    # (identical function, input and threshold) — rebuilding it here
    # re-ran the most expensive shared dedup subtree per execution
    truth = _jaccard_pairs(spark, sf_dir, 0.5).select("doc_a", "doc_b")
    hits = cands.join(truth, ["doc_a", "doc_b"], "left_semi")

    n_cand = cands.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    n_truth = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    n_hits = hits.agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    out = (
        n_truth.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_hits))
        .select(
            "n_truth",
            "n_candidates",
            "n_hits",
            F.round(
                F.when(
                    F.col("n_candidates") > 0,
                    F.col("n_hits") * 1.0 / F.col("n_candidates"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("precision"),
            F.round(
                F.when(
                    F.col("n_truth") > 0,
                    F.col("n_hits") * 1.0 / F.col("n_truth"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("recall"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# Triangle statistics over the top-3 co-supplier graph. Raw co-occurrence
# over shared orders is asymptotically dense (every supplier eventually
# pairs with every other), so the graph is first sparsified to each
# node's 3 strongest neighbors — degree <= 6, making the wedge join
# linear in |nodes| instead of Σ deg². See operators/graph.py for the
# degree-ordered-orientation note on skewed graphs.
# ---------------------------------------------------------------------------
# Shared CTE prefix: the top-3 co-supplier edge set (used by the triangle
# stats here and the label-propagation communities in plans/features.py).
COSUPPLIER_EDGE_CTES = """
        li AS (
            SELECT DISTINCT l_orderkey AS g, l_suppkey AS item FROM lineitem
        ),
        pairs AS (
            SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_shared
            FROM li a JOIN li b ON a.g = b.g AND a.item < b.item
            GROUP BY 1, 2
        ),
        directed AS (
            SELECT item_a, item_b, n_shared FROM pairs
            UNION ALL
            SELECT item_b AS item_a, item_a AS item_b, n_shared FROM pairs
        ),
        top AS (
            SELECT item_a, item_b FROM (
                SELECT item_a, item_b,
                       ROW_NUMBER() OVER (PARTITION BY item_a
                           ORDER BY n_shared DESC, item_b ASC) AS rnk
                FROM directed
            ) WHERE rnk <= 3
        ),
        edges AS (
            SELECT DISTINCT LEAST(item_a, item_b) AS src,
                            GREATEST(item_a, item_b) AS dst
            FROM top
        )
"""


@register(
    "triangle_cosupplier_stats",
    oracle=f"""
        WITH {COSUPPLIER_EDGE_CTES},
        deg AS (
            SELECT node, COUNT(*) AS deg FROM (
                SELECT src AS node FROM edges
                UNION ALL
                SELECT dst AS node FROM edges
            ) GROUP BY node
        ),
        agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                   CAST(SUM(deg * (deg - 1)) / 2 AS BIGINT) AS n_wedges
            FROM deg
        ),
        ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges),
        tri AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
            FROM edges e1
            JOIN edges e2 ON e1.dst = e2.src
            JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
        )
        SELECT n_nodes, n_edges, n_wedges, n_triangles,
               ROUND(CASE WHEN n_wedges > 0
                          THEN 3.0 * n_triangles / n_wedges
                          ELSE 0.0 END, 6) AS gcc
        FROM agg, ne, tri
    """,
    tags=("graph",),
)
def triangle_cosupplier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return triangle_stats(cosupplier_edges(spark, sf_dir))


# Memoized per (session, sf_dir): the triangle stats above and the
# label-propagation communities (plans/features.py) both consume this
# edge set, and triangle_stats alone references it four times (degree
# union sides + three join aliases) — one materialization instead of ~7
# recomputes of the order-pair self-join. Same discipline as the shingle
# cache in plans/llm.py; at scale this is a written-once edge table.
@session_memo
def cosupplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = cooccurrence_pairs(li, "l_orderkey", "l_suppkey")
    return topk_neighbor_edges(pairs, k=3)


# ---------------------------------------------------------------------------
# Split-leakage check: near-duplicate pairs that CROSS the train/valid/
# test boundary are evaluation leakage — a test doc whose near-dup sits
# in train inflates every benchmark number. The canonical pre-training
# audit: near-dup pairs (exact Jaccard >= 0.5, LSH-gated at scale) with
# both endpoints' deterministic split labels, counted per (split_a,
# split_b) cell. Off-diagonal cells are the leakage report.
#
# Scale shape: the split label is a PURE HASH EXPRESSION of the id
# (operators/sampling.py::split_label_sql), so it is computed as a
# narrow projection directly on the pair endpoints — zero joins, zero
# broadcast. (The previous revision joined two corpus-sized broadcast
# relations of per-doc labels; at 100 TB that broadcast is a driver OOM.
# The oracle keeps its DuckDB-side join — same hash either way.)
# ---------------------------------------------------------------------------
def _leakage_oracle() -> str:
    from etl_pipeline_spark.operators.sampling import split_label_sql
    from etl_pipeline_spark.plans.llm import _JACCARD_PAIRS_DUCK, _SPLIT_WEIGHTS

    split = split_label_sql("doc_id", "r1", _SPLIT_WEIGHTS)
    return f"""
        WITH pairs AS ({_JACCARD_PAIRS_DUCK}),
        splits AS (SELECT doc_id, {split} AS split FROM documents)
        SELECT sa.split AS split_a, sb.split AS split_b,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(sa.split <> sb.split AS INT) AS is_leakage
        FROM pairs p
        JOIN splits sa ON sa.doc_id = p.doc_a
        JOIN splits sb ON sb.doc_id = p.doc_b
        GROUP BY sa.split, sb.split
    """


@register(
    "split_leakage_check",
    oracle=_leakage_oracle(),
    tags=("llm", "dedup", "eval", "splits"),
)
def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_spark.operators.sampling import split_label_sql
    from etl_pipeline_spark.plans.llm import (
        _SPLIT_WEIGHTS,
        _jaccard_pairs,
    )

    pairs = _jaccard_pairs(spark, sf_dir, threshold=0.5)
    return (
        pairs.withColumn(
            "split_a", F.expr(split_label_sql("doc_a", "r1", _SPLIT_WEIGHTS))
        )
        .withColumn(
            "split_b", F.expr(split_label_sql("doc_b", "r1", _SPLIT_WEIGHTS))
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .withColumn(
            "is_leakage", (F.col("split_a") != F.col("split_b")).cast("int")
        )
    )


# ---------------------------------------------------------------------------
# Novelty rate: the fraction of each document's 16-token chunks that no
# EARLIER document (smaller doc_id = earlier ingest) already contains —
# the freshness metric an incremental pretraining pipeline tracks per
# batch (a crawl whose novelty collapses is re-crawling what it has).
# First-seen owner per chunk is one min-aggregate on the chunk hash; the
# per-doc ratio is a second grouped aggregate. Distinct chunks per doc
# (a doc repeating its own chunk is not "seen elsewhere").
# ---------------------------------------------------------------------------
@register(
    "novelty_rate_docs",
    oracle="""
        WITH chunks AS (
            SELECT DISTINCT doc_id,
                   md5(array_to_string(
                       list_slice(string_split(text, ' '), c * 16 + 1, c * 16 + 16),
                       ' ')) AS chash
            FROM (
                SELECT doc_id, text,
                       unnest(generate_series(
                           0, CAST(ceil(len(string_split(text, ' ')) / 16.0e0) AS BIGINT) - 1
                       )) AS c
                FROM documents
            )
        ),
        firstseen AS (
            SELECT chash, MIN(doc_id) AS first_doc FROM chunks GROUP BY chash
        )
        SELECT c.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN f.first_doc = c.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               ROUND(SUM(CASE WHEN f.first_doc = c.doc_id THEN 1 ELSE 0 END)
                     * 1.0 / COUNT(*), 6) AS novelty
        FROM chunks c JOIN firstseen f USING (chash)
        GROUP BY c.doc_id
    """,
    tags=("llm", "dedup", "quality"),
)
def novelty_rate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(transform("
                " sequence(0, CAST(ceil(size(split(text, ' ')) / 16.0e0) AS INT) - 1),"
                " c -> md5(concat_ws(' ', slice(split(text, ' '), c * 16 + 1, 16)))))"
            )
        ).alias("chash"),
    )
    firstseen = chunks.groupBy("chash").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        chunks.join(firstseen, "chash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(novel).cast("bigint").alias("n_novel"),
            F.round(F.sum(novel) * 1.0 / F.count(F.lit(1)), 6).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# k-core decomposition of the co-supplier graph (round-6 wave;
# Seidman 1983): iteratively peel nodes with degree < k until the
# 4-core remains — the standard "dense backbone" extraction before any
# community or influence analysis. FIXED R=6 peel rounds (deterministic
# in both engines whether or not the peel has converged; on this graph
# it converges in <6); each round is one degree aggregate + two
# semi-join filters over the EDGE relation (state-sized — the fact scan
# happened once, in the shared co-supplier edge cache). Output is the
# per-round (n_nodes, n_edges) trajectory — 6 rows built as a union of
# one-row aggregates, zero driver collects. Spark truncates the round
# lineage with localCheckpoint (the PageRank discipline); the oracle
# unrolls rounds as MATERIALIZED CTEs (the markov_attribution lesson:
# plain CTE inlining goes exponential).
# ---------------------------------------------------------------------------
_KCORE_K = 4
_KCORE_ROUNDS = 6


def _kcore_oracle() -> str:
    rounds = []
    for r in range(_KCORE_ROUNDS):
        rounds.append(f"""        d{r} AS MATERIALIZED (
            SELECT node, COUNT(*) AS deg FROM (
                SELECT src AS node FROM e{r}
                UNION ALL SELECT dst AS node FROM e{r}
            ) GROUP BY 1
        ),
        keep{r} AS MATERIALIZED (
            SELECT node FROM d{r} WHERE deg >= {_KCORE_K}
        ),
        e{r + 1} AS MATERIALIZED (
            SELECT e.src, e.dst FROM e{r} e
            JOIN keep{r} a ON a.node = e.src
            JOIN keep{r} b ON b.node = e.dst
        ),""")
    stats = "\n            UNION ALL ".join(
        f"""SELECT {r + 1} AS round,
                   (SELECT CAST(COUNT(DISTINCT node) AS BIGINT) FROM (
                       SELECT src AS node FROM e{r + 1}
                       UNION ALL SELECT dst AS node FROM e{r + 1})) AS n_nodes,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM e{r + 1}) AS n_edges"""
        for r in range(_KCORE_ROUNDS)
    )
    return f"""
        WITH {COSUPPLIER_EDGE_CTES},
        e0 AS MATERIALIZED (SELECT src, dst FROM edges),
{chr(10).join(rounds)}
        stats AS ({stats})
        SELECT round, n_nodes, n_edges FROM stats
    """


@register(
    "kcore_cosupplier_peel",
    oracle=_kcore_oracle(),
    tags=("graph", "iterative"),
)
def kcore_cosupplier_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = cosupplier_edges(spark, sf_dir).select("src", "dst")
    stats = []
    e = edges
    for r in range(_KCORE_ROUNDS):
        deg = (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        # keep-set is node-sized: checkpoint it once (both join sides
        # consume it — without the checkpoint each broadcast build would
        # re-run the degree aggregate), then BROADCAST it into both
        # semi-filters so the edge relation is never shuffled inside a
        # peel round (guide §2.4/§3.1: two sort-merge exchanges of e per
        # round → two broadcast hash joins; only the degree aggregate
        # still exchanges, keyed on node).
        keep = (
            deg.where(F.col("deg") >= _KCORE_K)
            .select("node")
            .localCheckpoint(eager=False)
        )
        e = (
            e.join(F.broadcast(keep.withColumnRenamed("node", "src")), "src")
            .join(F.broadcast(keep.withColumnRenamed("node", "dst")), "dst")
            .select("src", "dst")
            .localCheckpoint(eager=False)
        )
        nodes = e.select(F.col("src").alias("node")).unionByName(
            e.select(F.col("dst").alias("node"))
        )
        stats.append(
            nodes.agg(
                F.countDistinct("node").cast("bigint").alias("n_nodes"),
                (F.count(F.lit(1)) / 2).cast("bigint").alias("n_edges"),
            ).select(
                F.lit(r + 1).cast("int").alias("round"), "n_nodes", "n_edges"
            )
        )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out


# ---------------------------------------------------------------------------
# Multi-round BFS from the graph hub (round-6 wave): hop distribution
# from the highest-degree supplier over the co-supplier graph — the
# reachability / closeness profile that complements the density (k-core)
# and community (LPA/modularity) views. FIXED R=6 frontier expansions
# (deterministic whether or not converged); each round is one
# state-sized equi-join (frontier x symmetric edges) + a MIN(hop)
# aggregate, lineage truncated per round with localCheckpoint (the
# PageRank discipline). Hub choice ties break to the smallest node id.
# Output: (hop, n_nodes) for hops 0..R plus a hop = -1 row counting
# nodes NOT reached within R — the no-silent-caps rule as data.
# The oracle unrolls rounds as MATERIALIZED CTEs (markov lesson).
# ---------------------------------------------------------------------------
_BFS_ROUNDS = 6


def _bfs_oracle() -> str:
    rounds = []
    for r in range(1, _BFS_ROUNDS + 1):
        rounds.append(f"""        v{r} AS MATERIALIZED (
            SELECT node, MIN(hop) AS hop FROM (
                SELECT node, hop FROM v{r - 1}
                UNION ALL
                SELECT s.dst AS node, {r} AS hop
                FROM sym s JOIN v{r - 1} p ON p.node = s.src
            ) GROUP BY 1
        ),""")
    return f"""
        WITH {COSUPPLIER_EDGE_CTES},
        sym AS (
            SELECT src, dst FROM edges
            UNION ALL SELECT dst AS src, src AS dst FROM edges
        ),
        deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
                FROM sym GROUP BY 1),
        hub AS (SELECT node FROM deg ORDER BY d DESC, node ASC LIMIT 1),
        v0 AS MATERIALIZED (SELECT node, 0 AS hop FROM hub),
{chr(10).join(rounds)}
        reached AS (
            SELECT CAST(hop AS BIGINT) AS hop,
                   CAST(COUNT(*) AS BIGINT) AS n_nodes
            FROM v{_BFS_ROUNDS} GROUP BY 1
        )
        SELECT hop, n_nodes FROM reached
        UNION ALL
        SELECT CAST(-1 AS BIGINT) AS hop,
               CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM deg WHERE node NOT IN (SELECT node FROM v{_BFS_ROUNDS})
    """


@register(
    "bfs_hops_from_hub",
    oracle=_bfs_oracle(),
    tags=("graph", "iterative"),
)
def bfs_hops_from_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_spark.operators.graph import symmetrize

    edges = cosupplier_edges(spark, sf_dir).select("src", "dst")
    sym = symmetrize(edges)
    deg = sym.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    hub = deg.orderBy(F.col("d").desc(), F.col("node").asc()).limit(1)
    v = hub.select("node", F.lit(0).alias("hop"))
    for r in range(1, _BFS_ROUNDS + 1):
        expanded = sym.join(
            v.withColumnRenamed("node", "src").select("src"), "src"
        ).select(F.col("dst").alias("node"), F.lit(r).alias("hop"))
        v = (
            v.unionByName(expanded)
            .groupBy("node")
            .agg(F.min("hop").alias("hop"))
            .localCheckpoint(eager=False)
        )
    reached = v.groupBy(F.col("hop").cast("bigint").alias("hop")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    unreached = deg.join(v, "node", "left_anti").agg(
        F.lit(-1).cast("bigint").alias("hop"),
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
    )
    return reached.unionByName(unreached)
