"""Training-data pipeline operators: dedup, similarity search, text analysis.

Beyond the reference's surface (SURVEY.md §7 north star): the operators a
100 TB LLM-data pipeline needs, expressed so the heavy lifting is built-in
Spark (explode → hash-join → agg), never a Python loop:

- exact dedup: hash-groupBy (one shuffle on the text hash);
- MinHash + LSH near-dup: shingle → k min-hashes → banded bucket join —
  candidate generation is an equi-join on (band, key), so cost scales with
  collisions, not with |docs|²;
- n-gram Jaccard: the exact verifier (shingle equi-join), used standalone at
  small scale and as the verify stage after LSH at large scale;
- SimHash: 32-bit sign-vote fingerprints + Hamming-distance pairing;
- ANN similarity search: brute-force cosine top-k baseline and a
  sign-quantization bucketed variant (the scale path: search only within a
  bucket);
- text analysis: token stats, quality scoring, stopword language ID,
  bag-of-tokens fingerprinting.

MinHash uses string-min over seeded md5 — a valid min-wise hash family that
evaluates identically in Spark and DuckDB, making the whole pipeline
oracle-checkable cell-for-cell.

The planted near-duplicates in the synthetic corpus (25 pairs ≥ 0.5 Jaccard;
all other pairs < 0.1) make thresholds at 0.5 a sharp, stable target.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_pipeline_spark.operators.graph import cluster_assignments
from etl_pipeline_spark.operators.dedup import (
    DF_CAP,
    containment_pairs,
    exact_dedup,
    jaccard_pairs,
    jaccard_verify,
    lsh_candidates,
    minhash_signatures,
    shingles,
)
from etl_pipeline_spark.operators.similarity import (
    cosine_pairs,
    cosine_topk,
    ivf_topk_relational,
    ivfpq_topk_relational,
    pq_topk_relational,
    sign_lsh_topk,
)
from etl_pipeline_spark.utils.session_cache import session_memo
from etl_pipeline_spark.plans.registry import register
from etl_pipeline_spark.sources.embeddings import (
    EMB_LABELED_ORACLE,
    EMB_VALID_ORACLE,
    load_embeddings,
    load_labeled_embeddings,
)
from etl_pipeline_spark.sources.star import load_table
from etl_pipeline_spark.utils.parallelism import fan_out_scan

# ---------------------------------------------------------------------------
# shared shingle helpers (word 3-grams, distinct per doc)
# ---------------------------------------------------------------------------

_SHINGLE_SPARK = (
    "transform(sequence(1, greatest(size(toks) - 2, 0)), "
    "i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))"
)

_SHINGLES_DUCK = """
        SELECT doc_id, unnest(list_distinct(list_transform(
                   generate_series(1, len(string_split(text, ' ')) - 2),
                   i -> string_split(text, ' ')[i] || ' ' ||
                        string_split(text, ' ')[i+1] || ' ' ||
                        string_split(text, ' ')[i+2]))) AS shingle
        FROM documents
"""


# banded-LSH candidate pairs over the shared shingle relation, memoized
# per (session, sf_dir): a candidate table is a build-once artifact (two
# seeded-md5 passes over every shingle + the band self-join), and BOTH
# registered consumers (dedup_minhash_lsh, dedup_lsh_recall_eval) build
# the identical relation — same hashes, bands, and band keys.
@session_memo
def _lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_candidates(
        minhash_signatures(_doc_shingles(spark, sf_dir), _N_HASHES),
        _N_HASHES,
        _BAND_SIZE,
    )


# near-dup cluster assignments (connected components over the jaccard
# pair relation), memoized per (session, sf_dir, threshold):
# dedup_cluster_assign and dedup_canonical_pick run the IDENTICAL
# iterative min-label closure over the identical memoized pair relation
# — the same transparent-reuse shape as the ER cluster memo
# (relational_analytics._er_clusters). cluster_assignments eagerly
# localCheckpoints its rounds, so the entry is already materialized and
# cluster-count-sized.
@session_memo
def _dedup_clusters(spark: SparkSession, sf_dir: str, threshold: float = 0.5) -> DataFrame:
    return cluster_assignments(
        _jaccard_pairs(spark, sf_dir, threshold).select("doc_a", "doc_b"),
        "doc_a",
        "doc_b",
    )


@session_memo
def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) — distinct word-3-shingles per document.

    Persisted and memoized per (session, sf_dir): the Jaccard/MinHash plans
    each reference this relation 3-4 times (sides of the self-join + size
    table) and both queries share it — one materialization instead of ~7
    recomputes. At true 100 TB scale you'd checkpoint shingles to parquet
    instead of memory-persisting; the plan shape is identical.
    """
    docs = load_table(spark, sf_dir, "documents")
    return shingles(docs, "doc_id", "text", 3)


# The jaccard runs on the DF_CAP-capped shingle relation (boilerplate
# shingles held by > DF_CAP docs dropped before the self-join, sizes
# included) — identical to operators/dedup.py::jaccard_pairs, which
# applies the same cap so the candidate stage has bounded per-key
# fan-out at any corpus size.
_JACCARD_PAIRS_DUCK = f"""
        WITH sh0 AS ({_SHINGLES_DUCK}),
        sh AS (
            SELECT doc_id, shingle FROM (
                SELECT doc_id, shingle,
                       COUNT(*) OVER (PARTITION BY shingle) AS df
                FROM sh0
            ) WHERE df <= {DF_CAP}
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               ROUND(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.5
"""


@session_memo
def _jaccard_pairs(spark: SparkSession, sf_dir: str, threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard near-dup pairs over the DF_CAP-capped shingle
    relation (operators/dedup.py:DF_CAP). CAP SEMANTICS apply to every
    downstream consumer (dedup_cluster_assign, dedup_canonical_pick,
    split_leakage_check, cross-doc dup mass, curation e2e): a clique of
    more than DF_CAP near-identical documents shares only >cap shingles
    and emits ZERO pairs here — such exact-duplicate mega-cliques are
    exact_dedup's job (hash-groupBy, uncapped), and the curation
    pipeline runs exact_dedup BEFORE this verifier for that reason.
    The DuckDB oracles apply the identical cap filter.

    Memoized + persisted per (session, sf_dir, threshold) like the graph
    waves' edge relations: five registered queries consume this exact
    pair relation, and the shingle self-join that builds it is the
    single most expensive shared subtree in the dedup family (profiler:
    ~4 s of executor time per execution). The pair relation itself is
    near-dup-sized (tiny next to the corpus); build() is pure in
    (spark, sf_dir, threshold), so reuse is semantically invisible."""
    return jaccard_pairs(_doc_shingles(spark, sf_dir), threshold)


# --------------------------------------------------------------------------
# Exact dedup: hash-groupBy. Input is the corpus self-unioned with shifted
# ids (deterministic duplicate injection — the raw corpus has no exact
# dups), so keep-first / copy-count semantics are actually exercised.
# One shuffle on md5(text); at 100 TB this is the cheapest possible exact
# dedup (no text comparison, 16-byte keys).
# --------------------------------------------------------------------------
@register(
    "dedup_exact_hash",
    oracle="""
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 100000 AS doc_id, text FROM documents
        )
        SELECT
            md5(text)       AS text_hash,
            MIN(doc_id)     AS canonical_id,
            COUNT(*)        AS n_copies
        FROM corpus
        GROUP BY md5(text)
    """,
    tags=("llm", "dedup"),
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    return exact_dedup(corpus, "doc_id", "text")


# --------------------------------------------------------------------------
# Exact n-gram Jaccard near-dup pairs over the DF_CAP-capped shingle
# relation: boilerplate shingles (df > DF_CAP) are dropped in BOTH engines
# before the equi-join, so per-key fan-out is bounded (≤ DF_CAP² pairs per
# shingle) and total candidate cost is DF_CAP·|shingles| — linear in corpus
# size. For threshold-recall guarantees use the LSH pipeline below; this is
# the exact verifier.
# --------------------------------------------------------------------------
@register(
    "dedup_ngram_jaccard",
    oracle=_JACCARD_PAIRS_DUCK,
    tags=("llm", "dedup"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jaccard_pairs(spark, sf_dir, threshold=0.5)


# --------------------------------------------------------------------------
# MinHash + LSH near-dup: k=8 seeded min-hashes per doc, 4 bands × 2 rows;
# docs sharing any band key become candidates; candidates are verified with
# exact Jaccard. Candidate generation is an equi-join on (band, band_key) —
# the 100 TB path: no all-pairs anything, shuffle keyed on band buckets.
# --------------------------------------------------------------------------
_N_HASHES = 8
_BAND_SIZE = 2  # → 4 bands

# mirrors operators/dedup.py::minhash_signatures — disjoint 8-hex-char
# chunks of seeded md5 digests as the min-wise family
_MINHASH_AGGS_DUCK = ",\n            ".join(
    f"MIN(substr(md5('{i // 4}:' || shingle), {(i % 4) * 8 + 1}, 8)) AS h{i}"
    for i in range(_N_HASHES)
)
_BANDS_DUCK = ", ".join(
    f"(  {b}, md5(h{_BAND_SIZE*b} || h{_BAND_SIZE*b+1}))" for b in range(_N_HASHES // _BAND_SIZE)
)


@register(
    "dedup_minhash_lsh",
    oracle=f"""
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
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        verified AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
            FROM candidates c
            JOIN sh a ON a.doc_id = c.doc_a
            JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               ROUND(n_common * 1.0 / (sa.n + sb.n - n_common), 6) AS jaccard
        FROM verified
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common * 1.0 / (sa.n + sb.n - n_common) >= 0.5
    """,
    tags=("llm", "dedup", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir)
    return jaccard_verify(_lsh_candidate_pairs(spark, sf_dir), sh, 0.5)


# --------------------------------------------------------------------------
# SimHash: 32-bit sign-vote fingerprint over token hashes. The bit loop is
# an explode(0..31) + two-level aggregation — pure column expressions that
# evaluate identically in both engines (instr-based hex decode; no engine
# hash builtin is shared, so we derive integers from md5 hex).
# --------------------------------------------------------------------------

# integer value of the first 8 hex chars of md5(token): Σ (digit × 16^pos).
# The oracle keeps this portable instr-chain form; the Spark plan decodes
# with conv() — one md5 + one builtin per token instead of 8 digit probes
# (value equality pinned by test_sketch.py::test_hex8_fast_decode_*).
_HEX_DECODE = " + ".join(
    f"CAST(instr('0123456789abcdef', substr(md5(tok), {i+1}, 1)) - 1 AS BIGINT) * {16 ** (7 - i)}"
    for i in range(8)
)
_HEX_DECODE_FAST = "CAST(conv(substr(md5(tok), 1, 8), 16, 10) AS BIGINT)"

# the (doc_id, simhash) fingerprint relation, memoized + persisted per
# (session, sf_dir): a fingerprint table is a build-once artifact (the
# reference pipeline would land it next to the corpus), and BOTH
# registered consumers (simhash_fingerprints, dedup_simhash_hamming)
# otherwise re-run the md5-per-token vote build — the most expensive
# subtree in the simhash family (~12 s executor per build at sf0.1)
@session_memo
def _simhash_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    hv = toks.select("doc_id", F.expr(_HEX_DECODE_FAST).alias("v"))
    # One groupBy(doc_id) with 32 conditional ±1 sums instead of
    # explode(0..31) → groupBy(doc_id, bit) → groupBy(doc_id): the
    # explode amplified every token row 32× BEFORE the first
    # exchange (guide §2.3 "aggregate before you shuffle") and paid
    # a second doc-keyed shuffle for the re-fold. Each vote_b is the
    # identical integer sum of +1/−1 per token (same values, exact
    # arithmetic), evaluated map-side over un-amplified rows; the
    # final projection folds the 32 votes into the fingerprint
    # (A/B numbers in OPTIMIZATION_r12.md).
    votes = hv.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.expr(f"(v div {1 << b}L) % 2") == 1, F.lit(1)
                ).otherwise(F.lit(-1))
            ).alias(f"vote{b}")
            for b in range(32)
        ]
    )
    return votes.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"vote{b}") > 0, F.lit(1 << b)).otherwise(
                    F.lit(0)
                )
                for b in range(32)
            ],
            F.lit(0),
        )
        .cast("bigint")
        .alias("simhash"),
    )


@register(
    "simhash_fingerprints",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        hv AS (SELECT doc_id, {_HEX_DECODE} AS v FROM toks),
        votes AS (
            SELECT doc_id, bit,
                   SUM(CASE WHEN (v // (CAST(1 AS BIGINT) << bit)) % 2 = 1 THEN 1 ELSE -1 END) AS vote
            FROM hv, (SELECT unnest(generate_series(0, 31)) AS bit)
            GROUP BY doc_id, bit
        )
        SELECT doc_id,
               CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
        FROM votes GROUP BY doc_id
    """,
    tags=("llm", "dedup", "simhash"),
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_relation(spark, sf_dir)


# --------------------------------------------------------------------------
# SimHash near-dup PAIRS: banded LSH over the 32-bit fingerprint.
# 4 bands x 8 bits; candidates = equi-join on (band, byte) — pigeonhole
# guarantees 100% recall for hamming distance <= 3 (3 flipped bits touch
# at most 3 of the 4 bands, so one band always matches). Verify =
# bit_count(xor) <= 3 on candidates only; the all-pairs hamming matrix is
# never materialized. This closes the dedup family: exact hash / MinHash
# Jaccard / SimHash hamming / embedding cosine all share the same
# bucket-join-then-verify scale shape.
# --------------------------------------------------------------------------
_SH_BANDS, _SH_BITS = 4, 8


@register(
    "dedup_simhash_hamming",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        hv AS (SELECT doc_id, {_HEX_DECODE} AS v FROM toks),
        votes AS (
            SELECT doc_id, bit,
                   SUM(CASE WHEN (v // (CAST(1 AS BIGINT) << bit)) % 2 = 1 THEN 1 ELSE -1 END) AS vote
            FROM hv, (SELECT unnest(generate_series(0, 31)) AS bit)
            GROUP BY doc_id, bit
        ),
        sh AS (
            SELECT doc_id,
                   CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
            FROM votes GROUP BY doc_id
        ),
        banded AS (
            SELECT doc_id, simhash, band,
                   (simhash // (CAST(1 AS BIGINT) << (band * {_SH_BITS}))) % {1 << _SH_BITS} AS bucket
            FROM sh, (SELECT unnest(generate_series(0, {_SH_BANDS - 1})) AS band)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.simhash AS ha, b.simhash AS hb
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
        FROM cand
        WHERE bit_count(xor(ha, hb)) <= 3
    """,
    tags=("llm", "dedup", "simhash", "lsh"),
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same fingerprint relation as simhash_fingerprints — memoized, so
    # the md5-per-token vote build is paid once per session
    sh = _simhash_relation(spark, sf_dir)
    banded = sh.select(
        "doc_id",
        "simhash",
        F.explode(F.expr(f"sequence(0, {_SH_BANDS - 1})")).alias("band"),
    ).withColumn(
        "bucket",
        F.expr(f"(simhash div shiftleft(CAST(1 AS BIGINT), band * {_SH_BITS})) % {1 << _SH_BITS}"),
    )
    a = banded.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"), "band", "bucket"
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"), "band", "bucket"
    )
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
        .distinct()
    )
    return cand.filter(F.expr("bit_count(ha ^ hb) <= 3")).select(
        "doc_a", "doc_b", F.expr("CAST(bit_count(ha ^ hb) AS INT)").alias("hamming")
    )


# --------------------------------------------------------------------------
# ANN, brute-force baseline: cosine top-k for a query set. Dot products run
# as zip_with/aggregate column expressions in double precision (identical
# left-to-right fold in both engines). At scale the candidate side stays
# partitioned; the query set broadcasts.
# --------------------------------------------------------------------------
_COS_DUCK = (
    "list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) / "
    "(sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[]))) * "
    " sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))))"
)


@register(
    "ann_cosine_topk",
    oracle=f"""
        SELECT query_id, neighbor_id, rank, ROUND(cosine, 6) AS cosine
        FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_COS_DUCK} AS cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_COS_DUCK} DESC, c.vec_id) AS rank
            FROM {EMB_VALID_ORACLE} q
            JOIN {EMB_VALID_ORACLE} c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
        )
        WHERE rank <= 5
    """,
    tags=("llm", "similarity"),
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


# --------------------------------------------------------------------------
# ANN, bucketed (scale path): sign-quantization LSH — bucket = sign bits of
# 4 fixed dimensions (16 buckets); search only inside the query's bucket.
# Trades recall for turning the cross join into an equi-join on bucket —
# at 100 TB the bucket key is the shuffle/partition key.
# --------------------------------------------------------------------------
_BUCKET_DIMS = (1, 17, 33, 49)  # 1-indexed positions used by both engines
_BUCKET_DUCK = " + ".join(
    f"(CASE WHEN embedding[{d}] > 0 THEN {1 << i} ELSE 0 END)"
    for i, d in enumerate(_BUCKET_DIMS)
)


@register(
    "ann_bucketed_sign_lsh",
    oracle=f"""
        WITH b AS (
            SELECT vec_id, embedding, {_BUCKET_DUCK} AS bucket FROM {EMB_VALID_ORACLE} embeddings
        )
        SELECT query_id, neighbor_id, bucket, rank, ROUND(cosine, 6) AS cosine
        FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.bucket AS bucket,
                   {_COS_DUCK} AS cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_COS_DUCK} DESC, c.vec_id) AS rank
            FROM b q
            JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id AND q.vec_id < 10
        )
        WHERE rank <= 3
    """,
    tags=("llm", "similarity", "lsh"),
)
def ann_bucketed_sign_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    return sign_lsh_topk(emb, F.col("vec_id") < 10, dims=_BUCKET_DIMS, k=3)


# --------------------------------------------------------------------------
# ANN, IVF / PQ / IVF-PQ — driver-checked RELATIONAL variants
# (operators/similarity.py::*_topk_relational). Same index architectures
# as the k-means-trained operators (cell pruning, code compression,
# composed IVFADC) with a SQL-expressible quantizer: pivots / codebook
# centers are linspace-positioned rows of the bounded ordered sample —
# exactly the k-means INIT, 0 Lloyd iterations. That makes the COMPLETE
# output (neighbors, ranks, scores) recomputable in DuckDB, so all three
# queries below are value-hash-checked end-to-end instead of rows-only.
# The trained variants stay the quality path, pinned by recall tests
# (tests/test_similarity_ivf.py, tests/test_similarity_pq.py).
#
# Cross-engine determinism: every ranking key is ROUNDED (6 dp) before
# ROW_NUMBER with id/code tie-breaks, and pivot positions use integer
# arithmetic only — last-ulp float divergence can never flip a rank.
# --------------------------------------------------------------------------
_ANN_SAMPLE = 4096


def _duck_cos(a: str, b: str) -> str:
    return (
        f"list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])) / "
        f"(sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))) * "
        f" sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
    )


def _duck_ivf_ctes(ncells: int, nprobe: int) -> str:
    """Shared CTE block: sample → pivots → cell assignment → query probes."""
    return f"""
        s AS (
            -- zero-norm vectors are excluded from index TRAINING (a
            -- zero-norm pivot scores 0/0 against everything) — mirrors
            -- operators/similarity._ordered_sample
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS rn, embedding AS v
            -- norm check in TOTAL form (list_sum skips NULLs instead of
            -- raising like list_dot_product): DuckDB may conjoin this
            -- predicate with the validity filter and evaluate it FIRST,
            -- so it must not crash on raw invalid rows (r11 bug 45)
            FROM (SELECT vec_id, embedding FROM {EMB_VALID_ORACLE} embeddings
                  WHERE coalesce(list_sum(list_transform(
                            CAST(embedding AS DOUBLE[]), x -> x * x)), 0) > 0
                  ORDER BY vec_id LIMIT {_ANN_SAMPLE})
        ),
        mx AS (SELECT MAX(rn) AS mx FROM s),
        piv AS (
            SELECT g.cell, s.v AS pe
            FROM (SELECT UNNEST(generate_series(0, {ncells - 1})) AS cell) g
            CROSS JOIN mx
            JOIN s ON s.rn = (g.cell * mx.mx) // {ncells - 1}
        ),
        csc AS (
            SELECT e.vec_id AS nid, e.embedding AS ce, p.cell,
                   ROUND({_duck_cos("e.embedding", "p.pe")}, 6) AS cs
            FROM {EMB_VALID_ORACLE} e CROSS JOIN piv p
        ),
        cells AS (
            SELECT nid, ce, cell FROM (
                SELECT nid, ce, cell,
                       ROW_NUMBER() OVER (PARTITION BY nid
                                          ORDER BY cs DESC, cell) AS r
                FROM csc
            ) WHERE r = 1
        ),
        probes AS (
            SELECT query_id, qe, cell FROM (
                SELECT nid AS query_id, ce AS qe, cell,
                       ROW_NUMBER() OVER (PARTITION BY nid
                                          ORDER BY cs DESC, cell) AS r
                FROM csc WHERE nid < 10
            ) WHERE r <= {nprobe}
        )"""


def _duck_pq_ctes(m: int, ksub: int) -> str:
    """Shared CTE block: normalize → codebook → codes → query dist table."""
    dsub = f"(len(cn.ne) // {m})"
    a_enc = f"list_slice(cn.ne, b.sub * (len(cn.ne) // {m}) + 1, (b.sub + 1) * (len(cn.ne) // {m}))"
    return f"""
        nrm0 AS (
            -- norm in TOTAL form: sn's `WHERE nr > 0` gets inlined by the
            -- optimizer into a predicate that may evaluate before the
            -- validity filter; list_sum skips NULLs where
            -- list_dot_product raises (r11 bug 45)
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                   sqrt(coalesce(list_sum(list_transform(
                       CAST(embedding AS DOUBLE[]), x -> x * x)), 0)) AS nr
            FROM {EMB_VALID_ORACLE} embeddings
        ),
        cn AS (
            -- whole-list NULL for zero-norm vectors: x / 0 would yield a
            -- list of NULL elements, which list_dot_product REJECTS in
            -- DuckDB; a NULL list propagates NULL scores instead, which
            -- both engines tie-break identically (code asc)
            SELECT vec_id,
                   CASE WHEN nr > 0 THEN list_transform(e, x -> x / nr)
                        ELSE NULL END AS ne,
                   nr
            FROM nrm0
        ),
        sn AS (
            -- codebook TRAINING excludes zero-norm vectors (mirrors
            -- operators/similarity._ordered_sample; see the IVF CTE note)
            SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS rn, ne AS v
            FROM (SELECT vec_id, ne FROM cn WHERE nr > 0
                  ORDER BY vec_id LIMIT {_ANN_SAMPLE})
        ),
        mxn AS (SELECT MAX(rn) AS mx FROM sn),
        cb AS (
            SELECT sc.sub, sc.code,
                   list_slice(sn.v, sc.sub * (len(sn.v) // {m}) + 1,
                              (sc.sub + 1) * (len(sn.v) // {m})) AS center
            FROM (SELECT g1.sub, g2.code
                  FROM (SELECT UNNEST(generate_series(0, {m - 1})) AS sub) g1
                  CROSS JOIN (SELECT UNNEST(generate_series(0, {ksub - 1})) AS code) g2) sc
            CROSS JOIN mxn
            JOIN sn ON sn.rn = (sc.code * mxn.mx) // {ksub - 1}
        ),
        encsc AS (
            SELECT cn.vec_id, b.sub, b.code,
                   ROUND(list_dot_product(b.center, b.center)
                         - 2 * list_dot_product({a_enc}, b.center), 6) AS s6
            FROM cn CROSS JOIN cb b
        ),
        codes AS (
            SELECT vec_id, sub, code FROM (
                SELECT vec_id, sub, code,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                          ORDER BY s6 ASC, code) AS r
                FROM encsc
            ) WHERE r = 1
        ),
        dt AS (
            SELECT cn.vec_id AS query_id, b.sub, b.code,
                   list_dot_product({a_enc}, {a_enc})
                   + list_dot_product(b.center, b.center)
                   - 2 * list_dot_product({a_enc}, b.center) AS d2
            FROM cn CROSS JOIN cb b WHERE cn.vec_id < 10
        )"""


def _ivf_oracle() -> str:
    return f"""
        WITH {_duck_ivf_ctes(8, 2)},
        cand AS (
            SELECT p.query_id, c.nid AS neighbor_id,
                   ROUND({_duck_cos("p.qe", "c.ce")}, 6) AS cosine
            FROM probes p JOIN cells c
              ON c.cell = p.cell AND c.nid <> p.query_id
        )
        SELECT query_id, neighbor_id, rank, cosine FROM (
            SELECT query_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rank
            FROM cand
        ) WHERE rank <= 3
    """


@register(
    "ann_ivf_topk",
    oracle=_ivf_oracle(),
    doc="IVF cell-pruned ANN, pivot quantizer — full output value-checked",
    tags=("llm", "similarity", "ivf"),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    return ivf_topk_relational(
        emb, F.col("vec_id") < 10, ncells=8, nprobe=2, k=3, sample_limit=_ANN_SAMPLE,
        index_cache_key=sf_dir,
    )


def _pq_oracle() -> str:
    return f"""
        WITH {_duck_pq_ctes(8, 16)},
        summed AS (
            SELECT d.query_id, c.vec_id AS neighbor_id,
                   ROUND(1.0 - SUM(d.d2) / 2, 6) AS approx_cosine
            FROM codes c JOIN dt d ON d.sub = c.sub AND d.code = c.code
            WHERE c.vec_id <> d.query_id
            GROUP BY 1, 2
        )
        SELECT query_id, neighbor_id, rank, approx_cosine FROM (
            SELECT query_id, neighbor_id, approx_cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY approx_cosine DESC, neighbor_id) AS rank
            FROM summed
        ) WHERE rank <= 3
    """


@register(
    "ann_pq_topk",
    oracle=_pq_oracle(),
    doc="PQ asymmetric-distance ANN, relational codebooks — value-checked",
    tags=("llm", "similarity", "pq"),
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    return pq_topk_relational(
        emb, F.col("vec_id") < 10, m=8, ksub=16, k=3, sample_limit=_ANN_SAMPLE,
        index_cache_key=sf_dir,
    )


def _ivfpq_oracle() -> str:
    return f"""
        WITH {_duck_ivf_ctes(8, 2)},
        {_duck_pq_ctes(8, 16).lstrip()},
        cand AS (
            SELECT p.query_id, c.nid AS neighbor_id
            FROM probes p JOIN cells c
              ON c.cell = p.cell AND c.nid <> p.query_id
        ),
        summed AS (
            SELECT d.query_id, ca.neighbor_id,
                   ROUND(1.0 - SUM(d.d2) / 2, 6) AS approx_cosine
            FROM cand ca
            JOIN codes c ON c.vec_id = ca.neighbor_id
            JOIN dt d ON d.query_id = ca.query_id
                     AND d.sub = c.sub AND d.code = c.code
            GROUP BY 1, 2
        )
        SELECT query_id, neighbor_id, rank, approx_cosine FROM (
            SELECT query_id, neighbor_id, approx_cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY approx_cosine DESC, neighbor_id) AS rank
            FROM summed
        ) WHERE rank <= 3
    """


@register(
    "ann_ivfpq_topk",
    oracle=_ivfpq_oracle(),
    doc="IVF-PQ composed (FAISS IVFADC layout) relational — value-checked",
    tags=("llm", "similarity", "ivf", "pq"),
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    return ivfpq_topk_relational(
        emb, F.col("vec_id") < 10, ncells=8, nprobe=2, m=8, ksub=16, k=3,
        sample_limit=_ANN_SAMPLE, index_cache_key=sf_dir,
    )


# --------------------------------------------------------------------------
# Text quality scoring: token count, lexical diversity, stopword ratio →
# composite score. Pure column expressions over split/filter lambdas.
# --------------------------------------------------------------------------
_STOPWORDS = ("the", "a", "of", "and", "to")
_STOP_DUCK = "[" + ", ".join(f"'{s}'" for s in _STOPWORDS) + "]"
_STOP_SPARK = "array(" + ", ".join(f"'{s}'" for s in _STOPWORDS) + ")"


@register(
    "text_quality_scores",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang, n_chars, string_split(text, ' ') AS toks FROM documents
        ),
        m AS (
            SELECT doc_id, lang, n_chars,
                   len(toks) AS n_tokens,
                   len(list_distinct(toks)) AS n_distinct,
                   len(list_filter(toks, x -> list_contains({_STOP_DUCK}, x))) AS n_stop
            FROM t
        )
        SELECT doc_id, lang, n_tokens,
               ROUND(n_distinct * 1.0 / n_tokens, 6) AS type_token_ratio,
               ROUND(n_stop * 1.0 / n_tokens, 6)     AS stopword_ratio,
               ROUND(n_chars * 1.0 / n_tokens, 6)    AS avg_token_len,
               ROUND(0.5 * LEAST(n_tokens / 50.0, 1.0)
                     + 0.3 * (n_distinct * 1.0 / n_tokens)
                     + 0.2 * LEAST(n_stop * 4.0 / n_tokens, 1.0), 6) AS quality_score
        FROM m
    """,
    tags=("llm", "text"),
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "lang", "n_chars", F.split(F.col("text"), " ").alias("toks"))
    m = t.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        F.expr(f"size(filter(toks, x -> array_contains({_STOP_SPARK}, x)))").alias("n_stop"),
    )
    ttr = F.col("n_distinct") / F.col("n_tokens")
    stop_ratio = F.col("n_stop") / F.col("n_tokens")
    return m.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.round(ttr, 6).alias("type_token_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(F.col("n_chars") / F.col("n_tokens"), 6).alias("avg_token_len"),
        F.round(
            0.5 * F.least(F.col("n_tokens") / 50.0, F.lit(1.0))
            + 0.3 * ttr
            + 0.2 * F.least(F.col("n_stop") * 4.0 / F.col("n_tokens"), F.lit(1.0)),
            6,
        ).alias("quality_score"),
    )


# --------------------------------------------------------------------------
# Language ID (n-gram/stopword heuristic) + confusion matrix against the
# labeled lang column. The synthetic corpus shares one vocabulary across
# langs, so the heuristic's verdict is driven by marker-token density —
# the point is the operator shape (score → argmax → evaluate), not the
# model quality.
# --------------------------------------------------------------------------
@register(
    "lang_id_confusion",
    oracle="""
        WITH scored AS (
            SELECT lang,
                   CASE
                       WHEN len(list_filter(string_split(text, ' '),
                                x -> list_contains(['the', 'a'], x))) * 10
                            >= len(string_split(text, ' ')) THEN 'en'
                       WHEN len(list_filter(string_split(text, ' '),
                                x -> list_contains(['customer', 'data'], x))) * 10
                            >= len(string_split(text, ' ')) THEN 'de'
                       ELSE 'und'
                   END AS predicted
            FROM documents
        )
        SELECT lang, predicted, COUNT(*) AS n_docs
        FROM scored GROUP BY lang, predicted
    """,
    tags=("llm", "text"),
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.col("text"), " "))
    en_hits = F.expr("size(filter(split(text, ' '), x -> array_contains(array('the','a'), x)))")
    de_hits = F.expr(
        "size(filter(split(text, ' '), x -> array_contains(array('customer','data'), x)))"
    )
    predicted = (
        F.when(en_hits * 10 >= n_tok, F.lit("en"))
        .when(de_hits * 10 >= n_tok, F.lit("de"))
        .otherwise(F.lit("und"))
    )
    return docs.select("lang", predicted.alias("predicted")).groupBy("lang", "predicted").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# --------------------------------------------------------------------------
# Token counting: whitespace tokens plus a BPE-ish regex segmentation
# (letter runs / digit runs / single other chars) — the pre-tokenizer shape
# real BPE pipelines use for cost estimation.
# --------------------------------------------------------------------------
@register(
    "token_stats",
    oracle="""
        SELECT doc_id,
               len(string_split(text, ' ')) AS ws_tokens,
               len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_ish_tokens,
               n_chars
        FROM documents
    """,
    tags=("llm", "text"),
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("ws_tokens"),
        F.size(F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).alias(
            "bpe_ish_tokens"
        ),
        "n_chars",
    )


# --------------------------------------------------------------------------
# Document fingerprinting: order-insensitive bag-of-tokens fingerprint
# (md5 over the sorted distinct token list) — robust to token reordering,
# the cheap canonical-form dedup key.
# --------------------------------------------------------------------------
@register(
    "doc_fingerprints",
    oracle="""
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), '|'))
                   AS bag_fingerprint,
               len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens
        FROM documents
    """,
    tags=("llm", "text", "dedup"),
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.array_distinct(F.split(F.col("text"), " "))
    return docs.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(toks), "|")).alias("bag_fingerprint"),
        F.size(toks).alias("n_distinct_tokens"),
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-dup pairs — the vector-space dedup criterion
# (semantic near-duplicates). All-pairs here (the corpus is small and the
# synthetic vectors are near-orthogonal: exactly one pair clears 0.5); at
# scale the same predicate runs after the sign-LSH bucket join above.
# --------------------------------------------------------------------------
@register(
    "dedup_embedding_cosine",
    oracle=f"""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ROUND({_COS_DUCK.replace('q.embedding', 'a.embedding').replace('c.embedding', 'b.embedding')}, 6)
                   AS cosine
        FROM {EMB_VALID_ORACLE} a
        JOIN {EMB_VALID_ORACLE} b ON a.vec_id < b.vec_id
        WHERE {_COS_DUCK.replace('q.embedding', 'a.embedding').replace('c.embedding', 'b.embedding')} >= 0.5
    """,
    tags=("llm", "dedup", "similarity"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    return cosine_pairs(emb, threshold=0.5)


# --------------------------------------------------------------------------
# Top-k tokens per language — explode → count → ranked window, the
# vocabulary-inspection query every corpus pipeline runs.
# --------------------------------------------------------------------------
@register(
    "top_tokens_per_lang",
    oracle="""
        SELECT lang, tok, n_occurrences, rank
        FROM (
            SELECT lang, tok, n_occurrences,
                   ROW_NUMBER() OVER (PARTITION BY lang
                                      ORDER BY n_occurrences DESC, tok) AS rank
            FROM (
                SELECT lang, tok, COUNT(*) AS n_occurrences
                FROM (
                    SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
                )
                GROUP BY lang, tok
            )
        )
        WHERE rank <= 3
    """,
    tags=("llm", "text", "topk"),
)
def top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("lang", F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("n_occurrences"), F.asc("tok"))
    return (
        counts.select("lang", "tok", "n_occurrences", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= 3)
    )


# --------------------------------------------------------------------------
# Dedup cluster assignment: near-dup pairs -> transitive closure ->
# canonical-per-cluster. The Spark side is iterative min-label propagation
# (operators/graph.py — one shuffle per round, rounds = cluster diameter);
# the oracle computes the same closure with a recursive CTE. Pair source is
# the exact-Jaccard verifier at the planted 0.5 threshold.
# --------------------------------------------------------------------------
@register(
    "dedup_cluster_assign",
    oracle=f"""
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
        )
        SELECT node                                            AS doc_id,
               component                                       AS cluster_id,
               CAST(node = component AS INT)                   AS is_canonical,
               CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT)
                                                               AS cluster_size
        FROM comp
    """,
    tags=("llm", "dedup", "graph"),
)
def dedup_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster ids via distributed connected components."""
    return _dedup_clusters(spark, sf_dir, threshold=0.5)


# --------------------------------------------------------------------------
# Deterministic splits / sampling (operators/sampling.py): bucket = first
# 32 bits of md5(seed:id) — a narrow, shuffle-free, engine-portable column
# expression, so the oracle runs the IDENTICAL SQL text. Split labels are
# stable under corpus growth; stratified keep-rates downsample dominant
# strata reproducibly.
# --------------------------------------------------------------------------
from etl_pipeline_spark.operators.sampling import (  # noqa: E402
    assign_splits,
    hash_bucket_sql,
    split_label_sql,
    stratified_sample,
)

_SPLIT_WEIGHTS = {"train": 0.8, "valid": 0.1, "test": 0.1}
_STRAT_RATES = {"en": 0.5, "zh": 0.25}


@register(
    "train_test_split_assign",
    oracle=f"""
        SELECT doc_id, lang,
               CAST({hash_bucket_sql("doc_id", "r1")} AS INT) AS bucket,
               {split_label_sql("doc_id", "r1", _SPLIT_WEIGHTS)} AS split
        FROM documents
    """,
    tags=("llm", "sampling"),
)
def train_test_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return assign_splits(docs, "doc_id", _SPLIT_WEIGHTS, seed="r1")


@register(
    "stratified_sample_langs",
    oracle=f"""
        SELECT doc_id, lang FROM documents
        WHERE {hash_bucket_sql("doc_id", "s1")} <
              CASE lang WHEN 'en' THEN 5000 WHEN 'zh' THEN 2500 ELSE 1000 END
    """,
    tags=("llm", "sampling"),
)
def stratified_sample_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(
        docs, "doc_id", "lang", _STRAT_RATES, default_rate=0.1, seed="s1"
    )


# --------------------------------------------------------------------------
# NDCG@10 of label-relevance rankings — the graded ranking-quality metric
# that completes the similarity-eval pair (ann_recall_eval measures set
# overlap; NDCG measures ORDER quality). Relevance is binary label match;
# DCG = Σ rel_i / log2(i+1) over the exact cosine top-10 (rank ties
# broken by vec_id in both engines); IDCG truncates at min(10, #relevant
# in corpus); label-unique queries score 0 by convention. Scale: the
# exact brute-force ranking is the bounded-query-set truth discipline of
# ann_recall_eval — the production path swaps in the IVF-PQ index
# (ann_ivfpq_topk) and this metric then QUANTIFIES what that
# approximation costs in ranking order, not just recall.
# --------------------------------------------------------------------------
_NDCG_K = 10


@register(
    "ndcg_label_ranking",
    oracle=f"""
        WITH q AS (
            -- labeled convention (r11 nulls probe): an unlabeled vector
            -- can neither vote nor be scored
            SELECT vec_id AS query_id, embedding, label AS q_label
            FROM {EMB_LABELED_ORACLE} embeddings WHERE vec_id < 10
        ),
        topk AS (
            SELECT query_id, q_label, n_label, rank FROM (
                SELECT q.query_id, q.q_label, c.label AS n_label,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_COS_DUCK} DESC, c.vec_id) AS rank
                FROM q JOIN {EMB_LABELED_ORACLE} c ON c.vec_id <> q.query_id
            ) WHERE rank <= {_NDCG_K}
        ),
        dcg AS (
            SELECT query_id, q_label,
                   SUM(CASE WHEN n_label = q_label
                            THEN 1.0 / log2(rank + 1) ELSE 0 END) AS dcg_raw
            FROM topk GROUP BY 1, 2
        ),
        lc AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_lab
               FROM {EMB_LABELED_ORACLE} embeddings GROUP BY 1),
        nrel AS (
            SELECT d.query_id, d.dcg_raw, lc.n_lab - 1 AS n_rel
            FROM dcg d JOIN lc ON lc.label = d.q_label
        ),
        idcg AS (
            SELECT query_id, SUM(1.0 / log2(i + 1)) AS idcg_raw
            FROM (
                SELECT query_id,
                       unnest(generate_series(1, LEAST({_NDCG_K}, n_rel))) AS i
                FROM nrel WHERE n_rel >= 1
            ) GROUP BY 1
        )
        SELECT n.query_id,
               CAST(n.n_rel AS BIGINT) AS n_rel,
               ROUND(n.dcg_raw, 6) AS dcg,
               ROUND(COALESCE(i.idcg_raw, 0), 6) AS idcg,
               CASE WHEN COALESCE(i.idcg_raw, 0) > 0
                    THEN ROUND(n.dcg_raw / i.idcg_raw, 6) ELSE 0.0 END AS ndcg
        FROM nrel n LEFT JOIN idcg i USING (query_id)
    """,
    tags=("llm", "similarity", "ml-eval", "ranking"),
)
def ndcg_label_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_spark.operators.similarity import cosine_topk

    emb = load_labeled_embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    topk = cosine_topk(emb, queries, k=_NDCG_K)
    qlab = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    nlab = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    dcg = (
        topk.join(F.broadcast(qlab), "query_id")
        .join(nlab, "neighbor_id")
        .groupBy("query_id", "q_label")
        .agg(
            F.sum(
                F.when(
                    F.col("n_label") == F.col("q_label"),
                    1.0 / F.log2(F.col("rank") + 1),
                ).otherwise(0.0)
            ).alias("dcg_raw")
        )
    )
    lc = emb.groupBy("label").agg(F.count(F.lit(1)).cast("bigint").alias("n_lab"))
    nrel = dcg.join(
        F.broadcast(lc), dcg.q_label == lc.label
    ).select("query_id", "dcg_raw", (F.col("n_lab") - 1).alias("n_rel"))
    # sequence(1, 0) is DESCENDING in Spark — guard n_rel >= 1 explicitly
    idcg = (
        nrel.filter(F.col("n_rel") >= 1)
        .select(
            "query_id",
            F.explode(
                F.expr(f"sequence(1, LEAST({_NDCG_K}, n_rel))")
            ).alias("i"),
        )
        .groupBy("query_id")
        .agg(F.sum(1.0 / F.log2(F.col("i") + 1)).alias("idcg_raw"))
    )
    return (
        nrel.join(idcg, "query_id", "left")
        .select(
            "query_id",
            F.col("n_rel").cast("bigint").alias("n_rel"),
            F.round("dcg_raw", 6).alias("dcg"),
            F.round(F.coalesce("idcg_raw", F.lit(0.0)), 6).alias("idcg"),
            F.when(
                F.coalesce("idcg_raw", F.lit(0.0)) > 0,
                F.round(F.col("dcg_raw") / F.col("idcg_raw"), 6),
            )
            .otherwise(0.0)
            .alias("ndcg"),
        )
    )


# ---------------------------------------------------------------------------
# k-NN label accuracy — the third leg of the similarity-eval family
# (recall measures set overlap, NDCG ranking order; this measures what
# the neighbors are actually FOR): leave-one-out majority vote of the
# exact cosine top-10's labels against each query's own label. Vote
# ties break to the smallest label (deterministic in both engines).
# Bounded-query truth discipline as ann_recall_eval/ndcg: the exact
# all-corpus scan is the eval's truth side, not a production path.
# ---------------------------------------------------------------------------
_KNN_K = 10


@register(
    "knn_label_accuracy",
    oracle=f"""
        WITH q AS (
            -- labeled convention (r11 nulls probe): an unlabeled vector
            -- can neither vote nor be scored
            SELECT vec_id AS query_id, embedding, label AS q_label
            FROM {EMB_LABELED_ORACLE} embeddings WHERE vec_id < 10
        ),
        topk AS (
            SELECT query_id, q_label, n_label FROM (
                SELECT q.query_id, q.q_label, c.label AS n_label,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.query_id
                           ORDER BY {_COS_DUCK} DESC, c.vec_id) AS rank
                FROM q JOIN {EMB_LABELED_ORACLE} c ON c.vec_id <> q.query_id
            ) WHERE rank <= {_KNN_K}
        ),
        votes AS (
            SELECT query_id, q_label, n_label,
                   CAST(COUNT(*) AS BIGINT) AS n_votes
            FROM topk GROUP BY 1, 2, 3
        ),
        pred AS (
            SELECT query_id, q_label, n_label AS pred_label, n_votes
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY query_id
                    ORDER BY n_votes DESC, n_label ASC) AS r
                FROM votes
            ) WHERE r = 1
        )
        SELECT query_id, CAST(q_label AS BIGINT) AS true_label,
               CAST(pred_label AS BIGINT) AS pred_label, n_votes,
               CAST(pred_label = q_label AS INT) AS correct
        FROM pred
    """,
    tags=("llm", "similarity", "ml-eval", "classification"),
)
def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_pipeline_spark.operators.similarity import cosine_topk

    emb = load_labeled_embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    topk = cosine_topk(emb, queries, k=_KNN_K)
    qlab = queries.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    nlab = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    votes = (
        topk.join(F.broadcast(qlab), "query_id")
        .join(nlab, "neighbor_id")
        .groupBy("query_id", "q_label", "n_label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("n_label")
    )
    return (
        votes.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(
            "query_id",
            F.col("q_label").cast("bigint").alias("true_label"),
            F.col("n_label").cast("bigint").alias("pred_label"),
            "n_votes",
            (F.col("n_label") == F.col("q_label")).cast("int").alias("correct"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding centroid drift between corpus halves (round-6 wave): the
# train/serve distribution-shift monitor — cosine between the mean
# vectors of the even- and odd-id halves, plus the centroid L2 gap. Per
# (split, dim) means come from ONE posexplode pass (the
# embedding_outliers_topk idiom) and round to 6 dp BEFORE the cosine so
# both engines fold bit-identical centroids; everything after the
# grouped aggregate runs on 2×64 rows. At any corpus size the shuffle
# is splits × dims.
# ---------------------------------------------------------------------------
@register(
    "embedding_centroid_drift",
    oracle=f"""
        WITH px AS (
            SELECT vec_id % 2 AS split, i.i AS pos,
                   CAST(embedding[i.i + 1] AS DOUBLE) AS v
            FROM {EMB_VALID_ORACLE} embeddings,
                 LATERAL (SELECT unnest(generate_series(0, 63)) AS i) i
        ),
        cen AS (
            SELECT split, pos,
                   FLOOR((SUM(v) / COUNT(*)) * 1e6 + 0.5) / 1e6 AS c
            FROM px GROUP BY 1, 2
        ),
        pair AS (
            SELECT a.pos, a.c AS ca, b.c AS cb
            FROM cen a JOIN cen b ON b.pos = a.pos
            WHERE a.split = 0 AND b.split = 1
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_dims,
               ROUND(SUM(ca * cb)
                     / (SQRT(SUM(ca * ca)) * SQRT(SUM(cb * cb))), 6)
                   AS centroid_cosine,
               ROUND(SQRT(SUM((ca - cb) * (ca - cb))), 6) AS centroid_l2
        FROM pair
    """,
    tags=("llm", "similarity", "drift"),
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_embeddings(spark, sf_dir)
    px = emb.select(
        (F.col("vec_id") % 2).alias("split"),
        F.posexplode(F.col("embedding")).alias("pos", "v0"),
    ).select("split", "pos", F.col("v0").cast("double").alias("v"))
    cen = px.groupBy("split", "pos").agg(
        F.expr("FLOOR((SUM(v) / COUNT(*)) * 1e6 + 0.5) / 1e6").alias("c")
    )
    a = cen.where(F.col("split") == 0).select("pos", F.col("c").alias("ca"))
    b = cen.where(F.col("split") == 1).select("pos", F.col("c").alias("cb"))
    pair = a.join(b, "pos")
    return pair.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dims"),
        F.round(
            F.sum(F.col("ca") * F.col("cb"))
            / (
                F.sqrt(F.sum(F.col("ca") * F.col("ca")))
                * F.sqrt(F.sum(F.col("cb") * F.col("cb")))
            ),
            6,
        ).alias("centroid_cosine"),
        F.round(
            F.sqrt(F.sum((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")))),
            6,
        ).alias("centroid_l2"),
    )


# ---------------------------------------------------------------------------
# Containment near-dup (round-6 wave): the asymmetric twin of the
# Jaccard verifier — containment = |A∩B| / min(|A|, |B|) catches a doc
# EMBEDDED in a longer one (prefix/quote/boilerplate duplication), which
# resemblance dilutes to ~0.5 and every LSH band misses. The corpus is
# augmented with deterministic half-docs (first ⌈w/2⌉ words, id+200000,
# docs with ≥7 words) so subset semantics are actually exercised: each
# injected half has containment 1.0 against its source. LSH can't gate
# containment (bands hash resemblance — what these pairs lack), so the
# candidate stage runs on the DF_CAP-capped shingle relation (both
# engines): bounded per-key fan-out, linear total cost, the winnowing
# stop-fingerprint device.
# ---------------------------------------------------------------------------
@register(
    "dedup_containment_pairs",
    oracle=f"""
        WITH half AS (
            SELECT doc_id + 200000 AS doc_id,
                   array_to_string(list_slice(string_split(text, ' '), 1,
                       (len(string_split(text, ' ')) + 1) // 2), ' ') AS text
            FROM documents
            WHERE len(string_split(text, ' ')) >= 7
        ),
        corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL SELECT doc_id, text FROM half
        ),
        sh0 AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                       generate_series(1, len(string_split(text, ' ')) - 2),
                       i -> string_split(text, ' ')[i] || ' ' ||
                            string_split(text, ' ')[i+1] || ' ' ||
                            string_split(text, ' ')[i+2]))) AS shingle
            FROM corpus
        ),
        sh AS (
            SELECT doc_id, shingle FROM (
                SELECT doc_id, shingle,
                       COUNT(*) OVER (PARTITION BY shingle) AS df
                FROM sh0
            ) WHERE df <= {DF_CAP}
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(COUNT(*) AS BIGINT) AS n_common
            FROM sh a JOIN sh b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, n_common,
               ROUND(n_common * 1.0 / LEAST(sa.n, sb.n), 6) AS containment
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common * 1.0 / LEAST(sa.n, sb.n) >= 0.9
    """,
    tags=("llm", "dedup"),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r12: the operator's grouped-pair rewrite consumes its input through
    # ONE groupBy(shingle) (pair generation and size lookups both descend
    # from the same exchange, which the planner reuses), so the r11-era
    # memoized pre-capped relation — added when the self-join shape
    # referenced the capped relation four times — no longer buys anything:
    # hand the raw augmented shingle relation straight to the operator,
    # which applies the identical DF_CAP row-count filter inside its
    # grouped aggregate (no df-cap Window pass at all).
    return containment_pairs(
        _containment_shingles(spark, sf_dir), 0.9, df_cap=DF_CAP
    )


def _containment_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    half = docs.where(F.size(toks) >= 7).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.array_join(
            F.slice(toks, 1, F.expr("(size(split(text, ' ')) + 1) DIV 2")),
            " ",
        ).alias("text"),
    )
    corpus = docs.unionByName(half)
    return shingles(corpus, "doc_id", "text", 3)
