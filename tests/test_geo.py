"""Geometry kernel validation (T1/T2).

The TM projection is validated without pyproj by (a) round-trip closure to
sub-micrometer, (b) the central-meridian invariant E == false easting, and
(c) comparing the central-meridian northing against a *numerically
integrated* GRS80 meridian arc (independent of the Krüger series).
"""

from __future__ import annotations

import json

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from etl_pipeline_spark.functions.geo import (
    bbox_filter,
    clip_polygons,
    clip_ring_bbox,
    reproject,
    ring_area,
    tm_forward,
    tm_inverse,
)


def test_roundtrip_closure():
    rng = np.random.default_rng(7)
    lon = rng.uniform(11.0, 24.0, 500)  # Sweden-ish extent
    lat = rng.uniform(55.0, 69.0, 500)
    for epsg in (3006, 3010):
        e, n = tm_forward(lon, lat, epsg)
        lon2, lat2 = tm_inverse(e, n, epsg)
        assert np.max(np.abs(lon2 - lon)) < 1e-9  # ~0.1 µm
        assert np.max(np.abs(lat2 - lat)) < 1e-9


def test_central_meridian_invariants():
    # On the central meridian the easting equals the false easting exactly
    e, n = tm_forward(np.array([15.0]), np.array([60.0]), 3006)
    assert abs(e[0] - 500_000.0) < 1e-6

    # Northing = k0 × meridian arc, checked against numerical integration of
    # the meridian-curvature radius M(φ) = a(1-e²)/(1-e²sin²φ)^(3/2)
    a, f = 6378137.0, 1 / 298.257222101
    e2 = f * (2 - f)
    phi = np.linspace(0.0, np.radians(60.0), 2_000_001)
    m = a * (1 - e2) / np.power(1 - e2 * np.sin(phi) ** 2, 1.5)
    arc = getattr(np, "trapezoid", np.trapz)(m, phi)
    assert abs(n[0] - 0.9996 * arc) < 1e-3  # < 1 mm


def test_known_offsets_direction():
    # East of the central meridian → E > FE; north increases with latitude
    e1, n1 = tm_forward(np.array([18.06]), np.array([59.33]), 3006)  # Stockholm
    e2, n2 = tm_forward(np.array([18.06]), np.array([63.0]), 3006)
    assert e1[0] > 500_000.0
    assert n2[0] > n1[0]
    # Sanity envelope for Stockholm's SWEREF99 TM coordinates
    assert 600_000 < e1[0] < 700_000
    assert 6_500_000 < n1[0] < 6_650_000


def test_reproject_dataframe(spark):
    df = spark.createDataFrame(
        [(1, 18.06, 59.33), (2, 15.0, 60.0)], "id bigint, lon double, lat double"
    )
    out = reproject(df, "lon", "lat", "EPSG:4326", "EPSG:3006").orderBy("id").collect()
    e, n = tm_forward(np.array([18.06]), np.array([59.33]), 3006)
    assert out[0].x_out == pytest.approx(e[0], abs=1e-6)
    assert out[0].y_out == pytest.approx(n[0], abs=1e-6)
    assert out[1].x_out == pytest.approx(500_000.0, abs=1e-6)
    # TM → TM goes through geographic
    df2 = spark.createDataFrame([(1, float(e[0]), float(n[0]))], "id bigint, e double, n double")
    back = reproject(df2, "e", "n", 3006, 3010).collect()[0]
    e10, n10 = tm_forward(np.array([18.06]), np.array([59.33]), 3010)
    assert back.x_out == pytest.approx(e10[0], abs=1e-5)
    assert back.y_out == pytest.approx(n10[0], abs=1e-5)


def test_reproject_takes_backtick_and_space_names(spark):
    """The projections are SQL text: input and output names are quoted,
    a backtick inside a name escaped."""
    df = spark.createDataFrame([(18.06, 59.33)], "`lo``n` double, `la t` double")
    row = reproject(df, "lo`n", "la t", 4326, 3006, out_x="e`x", out_y="n y").collect()[0]
    e, n = tm_forward(np.array([18.06]), np.array([59.33]), 3006)
    assert df.columns == ["lo`n", "la t"]
    assert (row["e`x"], row["n y"]) == (pytest.approx(e[0], abs=1e-6), pytest.approx(n[0], abs=1e-6))


def test_unsupported_crs_refused(spark):
    df = spark.createDataFrame([(1.0, 2.0)], "x double, y double")
    with pytest.raises(ValueError, match="unsupported CRS"):
        reproject(df, "x", "y", 4326, 9999)


def test_clip_ring_square():
    # unit square clipped by half-overlapping bbox → quarter square
    ring = [[0, 0], [2, 0], [2, 2], [0, 2]]
    clipped = clip_ring_bbox(np.array(ring), (1.0, 1.0, 3.0, 3.0))
    assert ring_area(clipped) == pytest.approx(1.0)
    # disjoint bbox → empty
    assert len(clip_ring_bbox(np.array(ring), (5.0, 5.0, 6.0, 6.0))) == 0
    # fully inside → unchanged area
    inner = clip_ring_bbox(np.array(ring), (-1.0, -1.0, 9.0, 9.0))
    assert ring_area(inner) == pytest.approx(4.0)


def test_clip_polygons_dataframe(spark):
    rows = [
        (1, json.dumps([[0, 0], [2, 0], [2, 2], [0, 2]])),   # overlaps AOI
        (2, json.dumps([[10, 10], [11, 10], [11, 11], [10, 11]])),  # outside
        (3, None),                                            # null geometry
    ]
    df = spark.createDataFrame(rows, "id bigint, ring string")
    out = {r.id: r for r in clip_polygons(df, "ring", (1.0, 1.0, 3.0, 3.0)).collect()}
    assert out[1].clipped_area == pytest.approx(1.0)
    assert json.loads(out[1].clipped_json)  # valid ring back
    assert out[2].clipped_json is None and out[2].clipped_area == 0.0
    assert out[3].clipped_json is None


def test_point_clip_is_pushed_down(spark):
    from etl_pipeline_spark.sources.star import load_table
    from tests.conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem")
    clipped = bbox_filter(li, "l_quantity", "l_extendedprice", (10, 1000, 20, 40000))
    plan = clipped._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PushedFilters" in plan and "GreaterThanOrEqual(l_quantity,10.0" in plan


def test_point_in_polygon_concave(spark):
    from pyspark.sql import Row
    from etl_pipeline_spark.functions.geo import points_in_polygon

    # concave pentagon with a notch at the top: (2,3) sits in the notch
    ring = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (2.0, 2.0), (0.0, 4.0)]
    pts = spark.createDataFrame(
        [
            Row(pid=1, x=1.0, y=0.5),   # inside
            Row(pid=2, x=2.0, y=3.0),   # in the notch → outside
            Row(pid=3, x=0.5, y=3.4),   # inside the left arm
            Row(pid=4, x=0.5, y=3.6),   # above the left arm → outside
            Row(pid=5, x=5.0, y=1.0),   # right of everything
            Row(pid=6, x=3.9, y=3.0),   # inside the right arm
        ]
    )
    got = sorted(r.pid for r in points_in_polygon(pts, "x", "y", ring).collect())
    assert got == [1, 3, 6]


def test_pip_sql_predicate_agrees_with_udf(spark):
    from pyspark.sql import Row
    from etl_pipeline_spark.functions.geo import pip_sql_predicate, points_in_polygon

    ring = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (2.0, 2.0), (0.0, 4.0)]
    rows = [
        Row(pid=i, x=float(xi) / 3.0, y=float(yi) / 7.0)
        for i, (xi, yi) in enumerate((a, b) for a in range(-3, 16) for b in range(-3, 31))
    ]
    pts = spark.createDataFrame(rows)
    pts.createOrReplaceTempView("pip_pts")
    via_udf = sorted(r.pid for r in points_in_polygon(pts, "x", "y", ring).collect())
    via_sql = sorted(
        r.pid
        for r in spark.sql(
            f"SELECT pid FROM pip_pts WHERE {pip_sql_predicate('x', 'y', ring)}"
        ).collect()
    )
    assert via_udf == via_sql and len(via_udf) > 50


# reproject (Spark SQL) against the NumPy kernel. The JVM and libm round
# transcendental functions differently, so parity is a tolerance, not bit
# equality: 1e-6 m on eastings/northings, 1e-9° on degrees.
_PAIRS = ((4326, 3006), (4326, 3010), (4326, 3011), (3006, 4326), (3006, 3010))


def _numpy_reproject(xs, ys, src, dst):
    if src != 4326:
        xs, ys = tm_inverse(xs, ys, src)
    if dst != 4326:
        xs, ys = tm_forward(xs, ys, dst)
    return xs, ys


def _assert_parity(spark, lon, lat):
    """Every pair of ``_PAIRS`` through ``reproject`` against the NumPy
    kernel, on the given geographic points (their EPSG:3006 images for the
    TM sources): NULL exactly where NumPy gives NaN, else within tolerance."""
    lon, lat = np.asarray(lon, dtype=np.float64), np.asarray(lat, dtype=np.float64)
    e, n = tm_forward(lon, lat, 3006)
    df = spark.createDataFrame(
        [(i, *map(float, r)) for i, r in enumerate(zip(lon, lat, e, n))],
        "id bigint, lon double, lat double, e double, n double",
    )
    for k, (src, dst) in enumerate(_PAIRS):
        df = reproject(df, *(("lon", "lat") if src == 4326 else ("e", "n")), src, dst,
                       out_x=f"x{k}", out_y=f"y{k}")
    got = df.orderBy("id").toPandas()
    for k, (src, dst) in enumerate(_PAIRS):
        want = _numpy_reproject(*((lon, lat) if src == 4326 else (e, n)), src, dst)
        tol = 1e-9 if dst == 4326 else 1e-6
        for col, w in zip((f"x{k}", f"y{k}"), want):
            have = got[col].to_numpy(dtype=np.float64)
            assert np.array_equal(np.isnan(have), np.isnan(w)), (src, dst, col)
            err = np.abs(have - w)[~np.isnan(w)]
            assert np.max(err, initial=0.0) <= tol, (src, dst, col, np.max(err))


def test_reproject_matches_numpy_kernel_on_sweden_grid(spark):
    lon, lat = np.meshgrid(np.linspace(10.5, 24.5, 15), np.linspace(55.0, 69.5, 12))
    _assert_parity(spark, lon.ravel(), lat.ravel())


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=-180.0, max_value=180.0, allow_nan=False),
            st.floats(min_value=-89.9, max_value=89.9, allow_nan=False),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_reproject_matches_numpy_kernel_on_world_points(spark, pts):
    _assert_parity(spark, *zip(*pts))


def test_reproject_null_in_both_outputs(spark):
    """A NULL coordinate, or a point outside the series' domain — the
    (104.9°, 0°) probe forward, an easting 50,000 km off the central
    meridian inverse — gives NULL in both outputs."""
    df = spark.createDataFrame(
        [(1, None, 60.0), (2, 15.0, None), (3, 104.9, 0.0), (4, 5e7, 6.5e6), (5, 18.0, 59.0)],
        "id bigint, x double, y double",
    )
    for src, dst in _PAIRS:
        rows = reproject(df, "x", "y", src, dst).orderBy("id").collect()
        nulls = [r.id for r in rows if r.x_out is None and r.y_out is None]
        half = [r.id for r in rows if (r.x_out is None) != (r.y_out is None)]
        assert half == [], (src, dst)
        assert nulls == ([1, 2, 3] if src == 4326 else [1, 2, 4]), (src, dst)


def test_point_load_plan_runs_no_python(spark, tmp_path):
    """Clip and reprojection of a staged point source plan as JVM
    expressions: no Python evaluation node in the plan the sink runs."""
    from etl_pipeline_spark.pipeline import Pipeline, PipelineConfig
    from etl_pipeline_spark.sources.registry import SourceConfig
    from etl_pipeline_spark.sources.staging import stage_path

    path = tmp_path / "pts.geojson"
    path.write_text(json.dumps({"type": "FeatureCollection", "features": [
        {"type": "Feature", "properties": {"fid": i},
         "geometry": {"type": "Point", "coordinates": [14.0 + i, 59.0]}}
        for i in range(4)
    ]}))
    (name, df), = stage_path(spark, str(path)).items()
    pipe = Pipeline(spark, PipelineConfig(landing_dir=str(tmp_path),
                                          aoi_bbox=(14.5, 58.0, 25.0, 61.0)))
    _, out = pipe.transform(SourceConfig(name="p", authority="A", type="file", url=str(path)),
                            name, df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert out.count() == 3
