"""Product quantization: code validity/determinism, approximation quality
against exact cosine, and planted-pair recall on the real embeddings."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipeline_spark.operators.similarity import (
    cosine_topk,
    pq_encode,
    pq_topk,
    train_pq_codebooks,
)
from etl_pipeline_spark.sources.star import load_table
from tests.conftest import assert_fires_no_job

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").persist()


def test_codes_valid_and_deterministic(spark, emb):
    books = train_pq_codebooks(emb, m=8, ksub=16)
    assert len(books) == 8 and all(len(b) <= 16 for b in books)
    a = {r.vec_id: list(r.pq_code) for r in pq_encode(emb, books).collect()}
    b = {r.vec_id: list(r.pq_code) for r in pq_encode(emb, books).collect()}
    assert a == b
    assert all(len(c) == 8 and max(c) < 16 and min(c) >= 0 for c in a.values())


def test_approximation_error_bounded(spark, emb):
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id): r.approx_cosine
        for r in pq_topk(emb, F.col("vec_id") < 10, k=200).collect()
    }
    # every exact top-5 pair is scored by PQ and the score is close
    errs = [abs(approx[p] - c) for p, c in exact.items() if p in approx]
    assert len(errs) >= len(exact) * 0.8
    assert sum(errs) / len(errs) < 0.2


def test_planted_pair_recovered(spark, emb):
    # the corpus plants exactly one pair with cosine >= 0.5 (the rest tail
    # off below it) — PQ as candidate generator must surface the partner
    # in the top-3 for its query, both directions
    top1 = cosine_topk(emb, emb, k=1).filter(F.col("cosine") >= 0.5)
    planted = [(r.query_id, r.neighbor_id) for r in top1.collect()]
    assert len(planted) == 2  # both directions of the one pair
    for qid, partner in planted:
        got = pq_topk(emb, F.col("vec_id") == qid, k=3).collect()
        assert partner in [r.neighbor_id for r in got]


def test_ivfpq_full_probe_equals_pq(spark, emb):
    from etl_pipeline_spark.operators.similarity import ivfpq_topk

    pq = [(r.query_id, r.neighbor_id, r.rank) for r in
          pq_topk(emb, F.col("vec_id") < 5, k=3).collect()]
    full = [(r.query_id, r.neighbor_id, r.rank) for r in
            ivfpq_topk(emb, F.col("vec_id") < 5, ncells=8, nprobe=8, k=3).collect()]
    assert sorted(pq) == sorted(full)


def test_ivfpq_planted_pair(spark, emb):
    from etl_pipeline_spark.operators.similarity import cosine_topk as _ct, ivfpq_topk

    top1 = _ct(emb, emb, k=1).filter(F.col("cosine") >= 0.5)
    planted = [(r.query_id, r.neighbor_id) for r in top1.collect()]
    assert len(planted) == 2
    for qid, partner in planted:
        got = ivfpq_topk(emb, F.col("vec_id") == qid, ncells=8, nprobe=2, k=3).collect()
        assert partner in [r.neighbor_id for r in got]


def test_relational_ann_misuse_raises_clear_errors(spark):
    """Degenerate index parameters fail with a ValueError at build time —
    not an opaque SQL divide-by-zero (or a None TypeError on an empty
    corpus) at execution time."""
    import pytest

    from etl_pipeline_spark.operators.similarity import (
        _codebook_entries,
        _ordered_sample,
        _pivot_rows,
    )

    with pytest.raises(ValueError, match="ncells"):
        _pivot_rows([[1.0, 2.0]], ncells=1)
    with pytest.raises(ValueError, match="ksub"):
        _codebook_entries([[1.0] * 64], m=8, ksub=1)
    with pytest.raises(ValueError, match="divisible"):
        _codebook_entries([[1.0] * 10], m=3, ksub=4)
    # r11 empty-input convention: empty / all-zero-norm corpora sample to
    # [] (inline top-k queries return empty frames); only the PERSISTED
    # index build stays loud
    from etl_pipeline_spark.operators.similarity import build_ivfpq_index

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    assert _ordered_sample(empty, "vec_id", "embedding", 16) == []
    # an all-zero corpus is untrainable too (zero-norm vectors are
    # excluded from index training, round-9 sweep fix)
    zeros = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.0, 0.0])], "vec_id bigint, embedding array<float>"
    )
    assert _ordered_sample(zeros, "vec_id", "embedding", 16) == []
    with pytest.raises(ValueError, match="no non-zero-norm rows"):
        build_ivfpq_index(zeros, "/tmp/never-written-ivfpq")


def test_persisted_ivfpq_index_roundtrip_and_pruning(spark, emb, tmp_path):
    """build_ivfpq_index + query_ivfpq_index must return exactly what the
    inline ivfpq_topk_relational plan returns (same quantizer artifacts,
    same ADC arithmetic), and the code-table scan must read only the
    probed cell partitions (partition pruning at the file level — the
    write-once / pruned-read layout the 100 TB claims rest on)."""
    from etl_pipeline_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_topk_relational,
        query_ivfpq_index,
    )

    path = str(tmp_path / "ivfpq_index")
    build_ivfpq_index(emb, path, ncells=8, m=8, ksub=16, sample_limit=4096)

    queries = emb.filter(F.col("vec_id") < 5)
    got = query_ivfpq_index(spark, path, queries, nprobe=2, k=3)
    want = ivfpq_topk_relational(
        emb, F.col("vec_id") < 5, ncells=8, nprobe=2, m=8, ksub=16, k=3,
        sample_limit=4096,
    )
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w and len(g) > 0

    plan = got._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters: [cell" in plan  # probed-cells IN filter pushed to listing


def test_persisted_index_quantizer_reads_fire_no_job(spark, emb, tmp_path):
    """The pivots and codebook of a saved IVF-PQ index load with their
    footer schemas: neither read fires a schema-inference job."""
    from etl_pipeline_spark.operators.similarity import _read_index_part, build_ivfpq_index

    path = str(tmp_path / "ivfpq_index")
    build_ivfpq_index(emb, path, ncells=4, m=4, ksub=8, sample_limit=512)
    assert_fires_no_job(
        spark,
        lambda: [_read_index_part(spark, path, p) for p in ("pivots", "codebook")],
    )
    for p in ("pivots", "codebook"):
        assert _read_index_part(spark, path, p).schema == spark.read.parquet(f"{path}/{p}").schema


def test_ivfpq_encode_survives_zero_norm_corpus_vector(spark, tmp_path):
    """A zero-norm corpus vector must not crash the IVF-PQ encode (round-9
    sweep found an unguarded ce[i]/_nrm DIVIDE_BY_ZERO in BOTH the inline
    build and build_ivfpq_index — the sibling IVF/PQ paths carried the
    nullif guard, these two were missed). The zero-norm row lands in
    cell 0 with all-zero codes (NULL scores tie-break to code 0), the
    same convention as the DuckDB oracle, and the persisted index stays
    bit-identical to the inline plan."""
    from etl_pipeline_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_topk_relational,
        query_ivfpq_index,
    )

    rows = [(i, [float((i * 7 + j * 3) % 5 - 2) for j in range(8)]) for i in range(1, 12)]
    rows.append((12, [0.0] * 8))  # the hostile row
    corpus = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    inline = ivfpq_topk_relational(
        corpus, F.col("vec_id") <= 2, ncells=2, nprobe=2, m=4, ksub=4, k=3
    )
    got = sorted(map(tuple, inline.collect()))
    assert len(got) > 0  # no ANSI DIVIDE_BY_ZERO

    path = str(tmp_path / "znorm_index")
    build_ivfpq_index(corpus, path, ncells=2, m=4, ksub=4, sample_limit=4096)
    queries = corpus.filter(F.col("vec_id") <= 2)
    persisted = sorted(
        map(tuple, query_ivfpq_index(spark, path, queries, nprobe=2, k=3).collect())
    )
    assert persisted == got

    codes = spark.read.parquet(f"{path}/codes")
    zrow = codes.filter(F.col("nid") == 12).collect()
    assert len(zrow) == 1
    r = zrow[0].asDict()
    assert r["cell"] == 0 and all(r[f"_c{j}"] == 0 for j in range(4))
