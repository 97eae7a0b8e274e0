"""Driver-side JSON schema inference, ``sources/geojson.py::json_schema``:
the schema equals Spark's own inference (``multiLine``, default options)
on generated documents and on every GeoJSON payload the tests stage, and
staging a GeoJSON file fires no Spark job."""

from __future__ import annotations

import json
import uuid

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.errors import AnalysisException
from pyspark.sql.types import StructType

from etl_pipeline_spark.sources.fetchers import RestApiFetcher
from etl_pipeline_spark.sources.geojson import json_schema, load_feature_collection
from tests.conftest import assert_fires_no_job
from tests.test_parser_fuzz import (
    GEOJSON_EMPTY_FC,
    GEOJSON_NULL_GEOMETRY_FC,
    GEOJSON_STRING_CRS_FC,
    GEOJSON_TOPOLOGY,
)
from tests.test_pipeline_e2e import FakeTransport, _feature_collection
from tests.test_sources import SAMPLE_FC


def _spark_schema(spark, path: str) -> StructType:
    return spark.read.option("multiLine", "true").json(path).schema


def _write(tmp_path, payload: bytes) -> str:
    p = tmp_path / f"{uuid.uuid4().hex}.json"
    p.write_bytes(payload)
    return str(p)


def _rest_landing_file(tmp_path) -> str:
    fetcher = RestApiFetcher(FakeTransport(), "https://x/FeatureServer")
    (path,) = fetcher.fetch_all(str(tmp_path / "landing"), "vagar").values()
    return str(path)


# Keys have no two characters that differ only in case: Spark refuses a
# schema with case-insensitively equal names at read time (pinned below).
# U+FFE5 against the astral characters tells UTF-16 order from code points.
_KEYS = st.text(
    alphabet=["a", "b", "z", "_", " ", "é", "中", "￥", "\U0001f600", "\U0001d11e"],
    max_size=3,
)
_INT64 = 2**63
_INTS = st.one_of(
    st.integers(-5, 5),
    st.sampled_from([_INT64 - 1, _INT64, -_INT64, -_INT64 - 1, 10**37, 10**38, -(10**38)]),
    st.integers(-(10**40), 10**40),
)
_LEAVES = st.one_of(
    st.none(),
    st.booleans(),
    _INTS,
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(alphabet="a中", max_size=2),  # "" infers as null in Spark
)
_VALUES = st.recursive(
    _LEAVES,
    lambda kids: st.one_of(st.lists(kids, max_size=3), st.dictionaries(_KEYS, kids, max_size=3)),
    max_leaves=12,
)
_FEATURES = st.fixed_dictionaries({
    "type": st.just("Feature"),
    "properties": st.one_of(st.none(), st.dictionaries(_KEYS, _VALUES, max_size=4)),
    "geometry": st.one_of(st.none(), st.fixed_dictionaries({
        "type": st.sampled_from(["Point", "LineString", "Polygon"]),
        "coordinates": _VALUES,
    })),
})
_DOCUMENTS = st.one_of(
    st.fixed_dictionaries({
        "type": st.just("FeatureCollection"),
        "features": st.lists(_FEATURES, max_size=4),
    }),
    st.dictionaries(_KEYS, _VALUES, max_size=4),
    _VALUES,
)


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(doc=_DOCUMENTS, ascii_only=st.booleans())
def test_json_schema_equals_spark_inference(spark, tmp_path, doc, ascii_only):
    p = _write(tmp_path, json.dumps(doc, ensure_ascii=ascii_only).encode("utf-8"))
    assert json_schema(p) == _spark_schema(spark, p)


_EDGE_DOCUMENTS = {
    "empty_string_is_null": b'{"x": [{"a": ""}, {"a": 1}], "y": ""}',
    "int64_edges": b'{"a": 9223372036854775807, "b": 9223372036854775808,'
    b' "c": -9223372036854775808, "d": -9223372036854775809}',
    "decimals_widen": b'{"a": [1, 12345678901234567890123], "b": [1.5, 12345678901234567890],'
    b' "c": [12345678901234567890, 1234567890123456789012345678901234567],'
    b' "d": 123456789012345678901234567890123456789}',
    "utf16_key_order": '{"\\uffe5": 1, "\\ud83d\\ude00": 2, "z": 3}'.encode(),
    "dropped_fields": b'{"": 4, "e": {}, "f": [], "g": [{}], "h": [[]], "i": null, "j": {"": 1}}',
    "mixed_depth_coordinates": b'{"coordinates": [[1.0, 2.0], [[1, 2]], 3]}',
    "non_numeric_numbers": b'{"a": NaN, "b": Infinity, "c": -Infinity, "d": 1e400}',
    "case_pairs_by_position": b'{"f": [{"p": {"A": 1, "b": 2}}, {"p": {"a": 2.5, "b": 1}}]}',
    "top_level_array": b'[{"a": 1}, {"b": 2.0}, null]',
    "top_level_scalar": b"5",
    "top_level_null": b"null",
    "utf16_document": json.dumps(SAMPLE_FC, ensure_ascii=False).encode("utf-16"),
    "sample_fc": json.dumps(SAMPLE_FC).encode(),
    "pipeline_fc": _feature_collection(4).encode(),
    "topology": GEOJSON_TOPOLOGY,
    "empty_fc": GEOJSON_EMPTY_FC,
    "null_geometry_fc": GEOJSON_NULL_GEOMETRY_FC,
    "string_crs_fc": GEOJSON_STRING_CRS_FC,
}


@pytest.mark.parametrize("name", sorted(_EDGE_DOCUMENTS))
def test_json_schema_equals_spark_inference_on_fixtures(spark, tmp_path, name):
    p = _write(tmp_path, _EDGE_DOCUMENTS[name])
    assert json_schema(p) == _spark_schema(spark, p)


def test_json_schema_equals_spark_inference_on_rest_landing_file(spark, tmp_path):
    p = _rest_landing_file(tmp_path)
    assert json_schema(p) == _spark_schema(spark, p)


@pytest.mark.parametrize(
    "payload", [b"this is not json {{{", b"[" * 100_000], ids=["garbage", "deep_nesting"]
)
def test_json_schema_rejects_what_is_not_json(spark, tmp_path, payload):
    p = _write(tmp_path, payload)
    with pytest.raises(ValueError):
        json_schema(p)
    assert _spark_schema(spark, p).names == ["_corrupt_record"]


@pytest.mark.parametrize(
    "payload",
    [b'{"a": 1, "a": "x"}', b'{"f": [{"p": {"A": 1}}, {"p": {"a": true}}]}'],
    ids=["duplicate_key", "case_colliding_keys"],
)
def test_colliding_names_fail_the_read_as_spark_does(spark, tmp_path, payload):
    p = _write(tmp_path, payload)
    reader = spark.read.option("multiLine", "true")
    with pytest.raises(AnalysisException, match="COLUMN_ALREADY_EXISTS"):
        reader.json(p)
    with pytest.raises(AnalysisException, match="COLUMN_ALREADY_EXISTS"):
        reader.schema(json_schema(p)).json(p)


@pytest.mark.parametrize("source", ["rest_landing_file", "local_file", "empty_collection"])
def test_staging_a_feature_collection_fires_no_job(spark, tmp_path, source):
    if source == "rest_landing_file":
        p = _rest_landing_file(tmp_path)
    elif source == "local_file":
        p = _write(tmp_path, json.dumps(SAMPLE_FC).encode())
    else:
        p = _write(tmp_path, GEOJSON_EMPTY_FC)
    staged = []
    assert_fires_no_job(spark, lambda: staged.append(load_feature_collection(spark, p)))
    assert staged[0].count() == {"rest_landing_file": 7, "local_file": 2}.get(source, 0)
