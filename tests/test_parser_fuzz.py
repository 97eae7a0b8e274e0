"""Malformed-input fuzz pins for the driver-side binary parsers
(round-11 verdict item #7).

The randomized parity sweep hammers the query surface, but the
pure-Python staging parsers — the `.shp`/`.dbf` reader
(sources/shapefile.py) and the GeoPackage reader (sources/gpkg.py) —
previously only saw well-formed fixtures. These tests pin the
malformed-input CONTRACT the fixes introduced:

- shapefile/DBF: every structural violation raises ``ValueError`` (never
  a raw ``struct.error``), overclaimed counts cannot hang (the
  pre-fix parser looped forever on a non-positive record length and
  iterated a u32 record count off a 15-byte file), junk numeric DBF
  fields degrade to NULL;
- GeoPackage: non-SQLite bytes raise ``ValueError`` (not a raw
  ``sqlite3.DatabaseError``), and a MISSING path raises
  ``FileNotFoundError`` — plain ``sqlite3.connect`` silently created an
  empty database file in the staging area and returned zero feature
  classes.

Each targeted test reproduces a crash/hang found by probing the
pre-fix parser; the hypothesis sweeps then assert the closed contract
over arbitrary byte blobs.
"""

from __future__ import annotations

import sqlite3
import struct

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_pipeline_spark.sources.gpkg import (
    list_feature_classes,
    select_feature_classes,
)
from etl_pipeline_spark.sources.shapefile import _read_dbf, _read_shp

# --------------------------------------------------------------------------
# builders (spec-conformant envelopes we then corrupt)
# --------------------------------------------------------------------------


def _shp_header(total_bytes: int, shape_type: int = 1) -> bytes:
    hdr = struct.pack(">iiiiiii", 9994, 0, 0, 0, 0, 0, total_bytes // 2)
    hdr += struct.pack("<ii", 1000, shape_type)
    hdr += struct.pack("<8d", *([0.0] * 8))
    return hdr


def _shp_file(records: list[bytes]) -> bytes:
    body = b""
    for i, content in enumerate(records, start=1):
        body += struct.pack(">ii", i, len(content) // 2) + content
    return _shp_header(100 + len(body)) + body


def _dbf_file(fields: list[tuple[str, str, int]], raw_records: list[bytes],
              n_records: int | None = None) -> bytes:
    header_size = 32 + 32 * len(fields) + 1
    record_size = 1 + sum(l for _, _, l in fields)
    out = struct.pack(
        "<B3BIHH20x", 3, 24, 1, 1,
        len(raw_records) if n_records is None else n_records,
        header_size, record_size,
    )
    for name, ftype, length in fields:
        out += name.encode().ljust(11, b"\x00") + ftype.encode()
        out += b"\x00" * 4 + bytes([length]) + b"\x00" * 15
    out += b"\x0d"
    return out + b"".join(raw_records)


# --------------------------------------------------------------------------
# .shp targeted pins (each failed pre-fix: struct.error or a hang)
# --------------------------------------------------------------------------


def test_shp_truncated_header_raises_valueerror(tmp_path):
    p = tmp_path / "t.shp"
    p.write_bytes(b"\x00\x00\x27\x0a\x00")  # 5 bytes — pre-fix: struct.error
    with pytest.raises(ValueError, match="truncated shapefile header"):
        _read_shp(p)


def test_shp_header_overclaims_file_length(tmp_path):
    p = tmp_path / "t.shp"
    p.write_bytes(_shp_header(10_000) + struct.pack(">ii", 1, 10))
    with pytest.raises(ValueError, match="truncated shapefile"):
        _read_shp(p)


def test_shp_negative_content_length_terminates(tmp_path):
    # pre-fix: off += content_len * 2 with content_len = -4 never
    # advances → infinite loop; the fix rejects content_len < 2
    rec = struct.pack(">ii", 1, -4) + struct.pack("<i", 0)
    p = tmp_path / "t.shp"
    p.write_bytes(_shp_header(100 + len(rec)) + rec)
    with pytest.raises(ValueError, match="malformed record"):
        _read_shp(p)


def test_shp_point_counts_exceeding_record(tmp_path):
    # num_points = 2^28 with 4 bytes of coordinate data — pre-fix:
    # struct.error asking for a 4 GiB buffer
    content = (
        struct.pack("<i", 3)
        + struct.pack("<4d", 0, 0, 1, 1)
        + struct.pack("<ii", 1, 2**28)
        + struct.pack("<i", 0)
    )
    p = tmp_path / "t.shp"
    p.write_bytes(_shp_file([content]))
    with pytest.raises(ValueError, match="exceed record"):
        _read_shp(p)


def test_shp_zero_point_geometries_parse(tmp_path):
    # degenerate but legal: polyline with 0 parts / 0 points, polygon
    # with 1 part / 0 points, empty multipoint — rows with NULL x/y
    polyline0 = struct.pack("<i", 3) + struct.pack("<4d", 0, 0, 0, 0) + struct.pack("<ii", 0, 0)
    polygon0 = (
        struct.pack("<i", 5)
        + struct.pack("<4d", 0, 0, 0, 0)
        + struct.pack("<ii", 1, 0)
        + struct.pack("<i", 0)
    )
    multipoint0 = struct.pack("<i", 8) + struct.pack("<4d", 0, 0, 0, 0) + struct.pack("<i", 0)
    p = tmp_path / "t.shp"
    p.write_bytes(_shp_file([polyline0, polygon0, multipoint0]))
    shapes = _read_shp(p)
    assert [s["geom_type"] for s in shapes] == ["LineString", "Polygon", "MultiPoint"]
    assert all(s["x"] is None and s["y"] is None for s in shapes)


def test_shp_record_header_past_end(tmp_path):
    # file_len admits 4 trailing bytes — not enough for a record header
    tail = b"\x00\x00\x00\x01"
    p = tmp_path / "t.shp"
    p.write_bytes(_shp_header(100 + len(tail)) + tail)
    with pytest.raises(ValueError, match="truncated record header"):
        _read_shp(p)


# --------------------------------------------------------------------------
# .dbf targeted pins
# --------------------------------------------------------------------------


def test_dbf_truncated_header_raises_valueerror(tmp_path):
    p = tmp_path / "t.dbf"
    p.write_bytes(b"\x03\x18\x01")  # pre-fix: struct.error
    with pytest.raises(ValueError, match="truncated DBF header"):
        _read_dbf(p)


def test_dbf_overclaimed_record_count_is_capped(tmp_path):
    # header claims 2^31 records over 15 bytes of payload — pre-fix: a
    # two-billion-iteration loop. Must return promptly with the records
    # that actually fit.
    data = _dbf_file([("VAL", "N", 4)], [b" 1234", b" 5678", b" 9"], n_records=2**31)
    p = tmp_path / "t.dbf"
    p.write_bytes(data)
    rows = _read_dbf(p)
    assert [r["VAL"] for r in rows[:2]] == [1234, 5678]
    assert len(rows) <= 3


def test_dbf_junk_numeric_field_degrades_to_null(tmp_path):
    data = _dbf_file([("VAL", "N", 8)], [b" " + b"  1a2b3c"])
    p = tmp_path / "t.dbf"
    p.write_bytes(data)
    assert _read_dbf(p) == [{"VAL": None}]


def test_dbf_overlength_field_descriptors(tmp_path):
    # field widths total far past record_size: missing bytes decode as
    # empty → NULL, present prefix still parses
    header_size = 32 + 64 + 1
    out = struct.pack("<B3BIHH20x", 3, 24, 1, 1, 1, header_size, 1 + 4)
    out += b"A".ljust(11, b"\x00") + b"N" + b"\x00" * 4 + bytes([20]) + b"\x00" * 15
    out += b"B".ljust(11, b"\x00") + b"C" + b"\x00" * 4 + bytes([20]) + b"\x00" * 15
    out += b"\x0d" + b" 1234"
    p = tmp_path / "t.dbf"
    p.write_bytes(out)
    assert _read_dbf(p) == [{"A": 1234, "B": None}]


def test_dbf_truncated_field_descriptor(tmp_path):
    # header_size promises descriptors the file doesn't contain
    out = struct.pack("<B3BIHH20x", 3, 24, 1, 1, 0, 32 + 64 + 1, 5)
    out += b"A".ljust(11, b"\x00") + b"N"  # descriptor cut mid-way
    p = tmp_path / "t.dbf"
    p.write_bytes(out)
    with pytest.raises(ValueError, match="truncated DBF field descriptor"):
        _read_dbf(p)


# --------------------------------------------------------------------------
# GeoPackage targeted pins
# --------------------------------------------------------------------------


def test_gpkg_junk_bytes_raise_valueerror(tmp_path):
    p = tmp_path / "junk.gpkg"
    p.write_bytes(b"definitely not a sqlite database " * 8)
    with pytest.raises(ValueError, match="not a SQLite/GeoPackage"):
        list_feature_classes(str(p))


def test_gpkg_valid_magic_truncated_body(tmp_path):
    p = tmp_path / "trunc.gpkg"
    p.write_bytes(b"SQLite format 3\x00" + b"\x00" * 48)
    with pytest.raises(ValueError, match="not a SQLite/GeoPackage"):
        list_feature_classes(str(p))


def test_gpkg_missing_path_raises_and_creates_nothing(tmp_path):
    # pre-fix: sqlite3.connect CREATED an empty db file at the missing
    # path and returned [] — a silent corrupt artifact in staging
    missing = tmp_path / "nope.gpkg"
    with pytest.raises(FileNotFoundError):
        list_feature_classes(str(missing))
    assert not missing.exists()


def test_gpkg_loader_cannot_mutate_source(tmp_path):
    # mode=ro end-to-end: a valid file's bytes are identical after a
    # full listing + include-filter pass
    p = tmp_path / "ok.gpkg"
    with sqlite3.connect(str(p)) as con:
        con.execute("CREATE TABLE gpkg_contents (table_name TEXT, data_type TEXT)")
        con.execute("INSERT INTO gpkg_contents VALUES ('roads', 'features')")
        con.execute("CREATE TABLE roads (fid INTEGER, namn TEXT)")
    before = p.read_bytes()
    assert list_feature_classes(str(p)) == ["roads"]
    assert select_feature_classes(str(p), ("ROADS", "missing"))[0] == ["roads"]
    assert p.read_bytes() == before


# --------------------------------------------------------------------------
# GeoJSON loader degenerates (spark.read.json tolerates raw bytes, so the
# pre-fix failures surfaced as AnalysisExceptions off the inferred schema)
# --------------------------------------------------------------------------

_FC_COLS = ["geom_type", "coordinates_json", "x", "y", "crs_name"]

# the JSON payloads the loader tests stage; tests/test_geojson_schema.py
# checks the driver-side schema inference against Spark's on each
GEOJSON_TOPOLOGY = b'{"type": "Topology", "objects": {}}'
GEOJSON_EMPTY_FC = b'{"type": "FeatureCollection", "features": []}'
GEOJSON_NULL_GEOMETRY_FC = (
    b'{"type": "FeatureCollection", "features": ['
    b'{"type": "Feature", "properties": {"a": 1}, "geometry": null}]}'
)
GEOJSON_STRING_CRS_FC = (
    b'{"type": "FeatureCollection", "crs": "EPSG:4326", "features": ['
    b'{"type": "Feature", "geometry": {"type": "Point", "coordinates": [1.5, 2.5]}}]}'
)


def _write_geojson(tmp_path, payload: bytes) -> str:
    p = tmp_path / "f.geojson"
    p.write_bytes(payload)
    return str(p)


def test_geojson_non_json_raises_valueerror(spark, tmp_path):
    from etl_pipeline_spark.sources.geojson import load_feature_collection

    p = _write_geojson(tmp_path, b"this is not json {{{")
    with pytest.raises(ValueError, match="not a GeoJSON FeatureCollection"):
        load_feature_collection(spark, p)


def test_geojson_json_without_features_raises(spark, tmp_path):
    from etl_pipeline_spark.sources.geojson import load_feature_collection

    p = _write_geojson(tmp_path, GEOJSON_TOPOLOGY)
    with pytest.raises(ValueError, match="not a GeoJSON FeatureCollection"):
        load_feature_collection(spark, p)


def test_geojson_empty_feature_collection_is_legal(spark, tmp_path):
    # spec-legal: zero features ([] infers array<string> — no element
    # struct). Pre-fix: AnalysisException from feature.geometry extraction.
    from etl_pipeline_spark.sources.geojson import load_feature_collection

    p = _write_geojson(tmp_path, GEOJSON_EMPTY_FC)
    df = load_feature_collection(spark, p)
    assert df.columns == _FC_COLS
    assert df.count() == 0


def test_geojson_all_null_geometry_is_legal(spark, tmp_path):
    # spec-legal: unlocated features (geometry: null) — NULL geom columns
    from etl_pipeline_spark.sources.geojson import load_feature_collection

    p = _write_geojson(tmp_path, GEOJSON_NULL_GEOMETRY_FC)
    row = load_feature_collection(spark, p).collect()[0]
    assert row["a"] == 1
    assert row["geom_type"] is None and row["x"] is None and row["y"] is None


def test_geojson_missing_properties_and_string_crs(spark, tmp_path):
    # features without a properties object, plus a non-struct crs value —
    # both degraded pre-fix to AnalysisException
    from etl_pipeline_spark.sources.geojson import load_feature_collection

    p = _write_geojson(tmp_path, GEOJSON_STRING_CRS_FC)
    df = load_feature_collection(spark, p)
    assert df.columns == _FC_COLS
    row = df.collect()[0]
    assert row["geom_type"] == "Point" and row["x"] == 1.5 and row["y"] == 2.5
    assert row["crs_name"] is None


@pytest.mark.parametrize(
    "x, y", [(0.0001, 51.5), (-0.00005, 51.5), (500000.0, 12345678.5)],
    ids=["small_x", "small_negative_x", "large_y"],
)
def test_geojson_exponent_coordinates(spark, tmp_path, x, y):
    # to_json writes |v| < 1e-3 and |v| >= 1e7 in exponent notation
    # (1.0E-4, 1.23456785E7); the x/y pair must read the whole number
    from etl_pipeline_spark.sources.geojson import load_feature_collection

    p = _write_geojson(
        tmp_path,
        b'{"type": "FeatureCollection", "features": [{"type": "Feature", "properties": {},'
        b' "geometry": {"type": "Point", "coordinates": [%r, %r]}}]}' % (x, y),
    )
    row = load_feature_collection(spark, p).collect()[0]
    assert (row["x"], row["y"]) == (x, y), row["coordinates_json"]


# --------------------------------------------------------------------------
# Fetcher parsing of hostile SERVER responses (the canned-server tests
# cover well-formed payloads; these pin the malformed ones)
# --------------------------------------------------------------------------


class _JunkTransport:
    """Always returns the same canned value, whatever the URL."""

    def __init__(self, payload):
        self.payload = payload

    def get_json(self, url, params=None):
        return self.payload

    def head_headers(self, url):
        return {}


def test_rest_top_level_json_array_raises():
    from etl_pipeline_spark.sources.fetchers import RestApiFetcher

    f = RestApiFetcher(_JunkTransport([1, 2, 3]), "http://svc/FeatureServer")
    with pytest.raises(ValueError, match="expected a JSON object"):
        f.resolve_layers()


def test_rest_malformed_layer_entry_raises():
    from etl_pipeline_spark.sources.fetchers import RestApiFetcher

    f = RestApiFetcher(
        _JunkTransport({"layers": [{"id": "not-an-int-x"}]}), "http://svc/FeatureServer"
    )
    with pytest.raises(ValueError, match="malformed layer entry"):
        f.resolve_layers()


def test_rest_features_as_string_raises_not_extends():
    # pre-fix: features.extend("abc") silently appended the CHARACTERS
    # of the string as "features" — corruption, not even a crash
    from etl_pipeline_spark.sources.fetchers import RestApiFetcher

    f = RestApiFetcher(
        _JunkTransport({"features": "abc", "maxRecordCount": 10}),
        "http://svc/FeatureServer",
        layer_ids=(0,),
    )
    with pytest.raises(ValueError, match="'features' is str"):
        f.fetch_layer(0)


def test_ogc_malformed_collection_entry_raises():
    from etl_pipeline_spark.sources.fetchers import OgcApiFetcher

    f = OgcApiFetcher(_JunkTransport({"collections": [{"title": "no id"}]}), "http://ogc")
    with pytest.raises(ValueError, match="malformed collection entry"):
        f.discover_collections()


def test_ogc_next_link_without_href_terminates():
    # a rel="next" link missing href must end pagination, not KeyError
    from etl_pipeline_spark.sources.fetchers import OgcApiFetcher

    page = {"features": [{"type": "Feature"}], "links": [{"rel": "next"}]}
    f = OgcApiFetcher(_JunkTransport(page), "http://ogc")
    assert len(f.fetch_collection("roads")) == 1


def test_atom_malformed_xml_raises_valueerror():
    from etl_pipeline_spark.sources.fetchers import atom_resource_urls

    with pytest.raises(ValueError, match="malformed Atom feed"):
        atom_resource_urls(b"<feed><entry></feed>")  # mismatched tags


@settings(max_examples=150, deadline=None)
@given(blob=st.binary(min_size=0, max_size=256))
def test_fuzz_atom_feed_valueerror_or_list(blob):
    from etl_pipeline_spark.sources.fetchers import atom_resource_urls

    try:
        urls = atom_resource_urls(blob)
    except ValueError:
        return
    assert isinstance(urls, list)


# --------------------------------------------------------------------------
# hypothesis sweeps: arbitrary bytes never escape the contract
# --------------------------------------------------------------------------

_BLOBS = st.binary(min_size=0, max_size=512)


@settings(max_examples=200, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(blob=_BLOBS)
def test_fuzz_shp_valueerror_or_rows(blob, tmp_path):
    p = tmp_path / "f.shp"
    p.write_bytes(blob)
    try:
        shapes = _read_shp(p)
    except ValueError:
        return
    assert isinstance(shapes, list)


@settings(max_examples=200, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(blob=_BLOBS)
def test_fuzz_shp_with_valid_envelope(blob, tmp_path):
    # harder corpus: a correct header + magic, arbitrary record body
    p = tmp_path / "f.shp"
    p.write_bytes(_shp_header(100 + len(blob)) + blob)
    try:
        shapes = _read_shp(p)
    except ValueError:
        return
    assert isinstance(shapes, list)


@settings(max_examples=200, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(blob=_BLOBS)
def test_fuzz_dbf_valueerror_or_rows(blob, tmp_path):
    p = tmp_path / "f.dbf"
    p.write_bytes(blob)
    try:
        rows = _read_dbf(p)
    except ValueError:
        return
    assert isinstance(rows, list)


@settings(max_examples=100, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(blob=_BLOBS)
def test_fuzz_gpkg_valueerror_or_list(blob, tmp_path):
    p = tmp_path / "f.gpkg"
    p.write_bytes(blob)
    try:
        fcs = list_feature_classes(str(p))
    except ValueError:
        return
    assert isinstance(fcs, list)
