"""GeoJSON normalizer + source registry tests (L2/S10, §1.4 config model)."""

from __future__ import annotations

import ast
import json
from pathlib import Path

import pytest

from etl_pipeline_spark.sources.geojson import (
    dominant_geometry_type,
    geometry_type_histogram,
    load_feature_collection,
    wgs84_plausible,
)
from etl_pipeline_spark.sources.registry import (
    SourceConfig,
    load_sources,
    parse_include,
    sources_dimension,
)

SAMPLE_FC = {
    "type": "FeatureCollection",
    "crs": {"type": "name", "properties": {"name": "EPSG:4326"}},
    "features": [
        {
            "type": "Feature",
            "properties": {"id": 1, "name": "Åkersberga väg", "category": "A"},
            "geometry": {"type": "Point", "coordinates": [18.3, 59.5]},
        },
        {
            "type": "Feature",
            "properties": {"id": 2, "name": "Ö-vik data!", "category": "B"},
            "geometry": {
                "type": "Polygon",
                "coordinates": [[[17.0, 59.0], [17.1, 59.0], [17.1, 59.1], [17.0, 59.0]]],
            },
        },
    ],
}


@pytest.fixture(scope="module")
def fc_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("geojson") / "sample.geojson"
    p.write_text(json.dumps(SAMPLE_FC), encoding="utf-8")
    return str(p)


def test_load_feature_collection(spark, fc_path):
    df = load_feature_collection(spark, fc_path)
    rows = {r["id"]: r.asDict() for r in df.collect()}
    assert rows[1]["geom_type"] == "Point"
    assert rows[1]["x"] == pytest.approx(18.3)
    assert rows[1]["y"] == pytest.approx(59.5)
    assert rows[1]["name"] == "Åkersberga väg"
    assert rows[2]["geom_type"] == "Polygon"
    assert rows[1]["crs_name"] == "EPSG:4326"


def test_geometry_histogram_all_rows(spark, fc_path):
    df = load_feature_collection(spark, fc_path)
    hist = {r.geom_type: r.n_features for r in geometry_type_histogram(df).collect()}
    assert hist == {"Point": 1, "Polygon": 1}
    staged, mixed = dominant_geometry_type(df)
    assert staged == "POLYGON" and mixed is True  # mixed file → POLYGON + explicit flag


def test_wgs84_sniff(spark, fc_path):
    df = load_feature_collection(spark, fc_path)
    assert wgs84_plausible(df) is True


def test_parse_include_variants():
    assert parse_include(None) == ()
    assert parse_include("a; b;c") == ("a", "b", "c")
    assert parse_include(["x", " y "]) == ("x", "y")


def test_source_validation():
    with pytest.raises(ValueError, match="type"):
        SourceConfig(name="s", authority="A", type="ftp")
    with pytest.raises(ValueError, match="priority"):
        SourceConfig(name="s", authority="A", type="file", priority=0)


def test_load_sources_ordering_and_dimension(spark):
    srcs = load_sources(
        [
            {"name": "low", "authority": "A", "type": "file", "priority": 10},
            {"name": "off", "authority": "A", "type": "file", "enabled": False, "priority": 99},
            {"name": "high", "authority": "B", "type": "rest_api", "priority": 90,
             "include": "lay1;lay2"},
        ]
    )
    assert [s.name for s in srcs] == ["high", "low", "off"]
    dim = sources_dimension(spark, srcs)
    row = {r.name: r for r in dim.collect()}
    assert row["high"].include == ["lay1", "lay2"]
    assert row["off"].enabled is False


_SOURCES = Path(__file__).resolve().parent.parent / "etl_pipeline_spark" / "sources"


def _chain(node: ast.AST) -> list[str]:
    """Attribute names along a call chain, outermost first:
    ``spark.read.schema(s).json(p)`` → json, schema, read, spark."""
    names = []
    while True:
        if isinstance(node, ast.Call):
            node = node.func
        elif isinstance(node, ast.Attribute):
            names.append(node.attr)
            node = node.value
        else:
            if isinstance(node, ast.Name):
                names.append(node.id)
            return names


def test_source_reads_carry_a_schema():
    """No module under ``sources/`` reads JSON, parquet or CSV without
    ``.schema(...)``: an inferring read fires a job (``star.parquet_schema``
    and ``geojson.json_schema`` infer on the driver instead)."""
    reads, offenders = 0, []
    for path in sorted(_SOURCES.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            chain = _chain(node)
            if chain[0] in ("json", "parquet", "csv") and {"read", "readStream"} & set(chain):
                reads += 1
                if "schema" not in chain:
                    offenders.append(f"{path.name}:{node.lineno}")
    assert reads > 0  # the walk sees the readers it polices
    assert offenders == []
