"""Geospatial kernel (SURVEY.md §2.3 T1/T2): reprojection as Spark SQL
math, clipping as a range predicate or an Arrow-vectorized pandas UDF.

The reference delegates clip + reprojection to ArcGIS
(PairwiseClip/Project, etl/handlers/geoprocess.py:13-98). Neither Sedona nor
pyproj/shapely is available in this container, so the kernel is implemented
from the public Gauss–Krüger series (Krüger 1912; series form as in Karney,
"Transverse Mercator with an accuracy of a few nanometers", J. Geod. 2011).

Reprojection (T2): the series is written once, over a small math namespace,
and evaluated two ways. `reproject` renders it as Spark SQL text — one
expression per output column and per shared intermediate (`sin`, `atanh`,
`sinh`, `atan2`, …, constants as exact double literals) — so a load runs
entirely in the JVM: no Python worker, no Arrow round trip.
`tm_forward`/`tm_inverse` evaluate the same formula over NumPy arrays; tests
pin the two evaluators equal to within the rounding of the JVM's and libm's
transcendental functions.

Supported CRS: geographic SWEREF99/WGS84-like (EPSG:4326 semantics) and any
transverse-Mercator projection of GRS80, preconfigured for the reference's
first-class SRIDs (SURVEY §1.2): EPSG:3006 (SWEREF99 TM, cm 15°, k0 0.9996,
FE 500 000) and EPSG:3010 (SWEREF99 16 30, cm 16.5°, k0 1, FE 150 000).
Third-order series ⇒ sub-millimeter accuracy within the zones' extent
(verified in tests by round-trip and by comparing the central-meridian
northing to a numerically integrated meridian arc).

Clip (T1): point clip against a bbox is a pure range predicate — JVM-side,
pushed down, no UDF (`bbox_filter`). Exact polygon∩bbox uses
Sutherland–Hodgman (the clip window is a rectangle, i.e. convex, which is
the algorithm's requirement) in a pandas UDF over the polygon ring.

Scale: both kernels are per-row independent — embarrassingly parallel, no
shuffle; the AOI bbox broadcasts as four scalars.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from etl_pipeline_spark.utils.udfpickle import pickle_module_by_value

# the clip and point-in-polygon kernels below run inside pandas UDFs on
# executors — ship them by value so workers never need this package importable
pickle_module_by_value(__name__)

# GRS80 ellipsoid
_A = 6378137.0
_F = 1.0 / 298.257222101

# EPSG code → (central meridian °, scale k0, false easting, false northing)
TM_PARAMS: dict[int, tuple[float, float, float, float]] = {
    3006: (15.0, 0.9996, 500_000.0, 0.0),  # SWEREF99 TM
    3010: (16.5, 1.0, 150_000.0, 0.0),  # SWEREF99 16 30
    3011: (18.0, 1.0, 150_000.0, 0.0),  # SWEREF99 18 00
}


def _series_constants():
    n = _F / (2.0 - _F)
    big_a = _A / (1.0 + n) * (1.0 + n**2 / 4.0 + n**4 / 64.0)
    alpha = (
        n / 2.0 - 2.0 * n**2 / 3.0 + 5.0 * n**3 / 16.0,
        13.0 * n**2 / 48.0 - 3.0 * n**3 / 5.0,
        61.0 * n**3 / 240.0,
    )
    beta = (
        n / 2.0 - 2.0 * n**2 / 3.0 + 37.0 * n**3 / 96.0,
        n**2 / 48.0 + n**3 / 15.0,
        17.0 * n**3 / 480.0,
    )
    return n, big_a, alpha, beta


# Conformal-longitude domain bound. η grows without bound approaching the
# two TM singular points (λ=±90°, φ=0); past |η|≈2.5 the 3rd-order series
# returns plausible-looking but degree-level-wrong coordinates (measured:
# η=2.0 → 2e-4°, η=3.1 → 1.6°, η=4.7 → astronomically-large finite
# eastings that don't round-trip at all). Outputs there are undefined
# (NaN in NumPy, NULL in SQL) — explicitly undefined beats silently
# wrong. Every configured zone sits at |η| < 0.2; fuzz-pinned in
# tests/test_engine_fuzz.py.
_ETA_MAX = 2.5
_RAD = math.pi / 180.0
_DEG = 180.0 / math.pi


def _tm_forward_series(m, lon, lat, epsg: int):
    """Geographic → TM, written over the math namespace ``m`` (a
    ``_NumpyMath`` or a ``_SqlMath``): Python arithmetic on the operands is
    the series' arithmetic in both evaluators, in the same order."""
    lon0, k0, fe, fn_ = TM_PARAMS[epsg]
    n, big_a, alpha, _ = _series_constants()
    s = 2.0 * math.sqrt(n) / (1.0 + n)
    lam = (lon - lon0) * _RAD
    sin_phi = m.sin(lat * _RAD)
    t = m.sinh(m.atanh(sin_phi) - s * m.atanh(s * sin_phi))
    xi, eta = m.bind(m.atan2(t, m.cos(lam)), m.atanh(m.sin(lam) / m.sqrt(1.0 + t * t)))
    x, y = eta, xi
    for j, a_j in enumerate(alpha, start=1):
        y = y + a_j * m.sin(2.0 * j * xi) * m.cosh(2.0 * j * eta)
        x = x + a_j * m.cos(2.0 * j * xi) * m.sinh(2.0 * j * eta)
    # NaN η (exactly at the singular points) fails the test too
    ok = m.abs(eta) <= _ETA_MAX
    return m.where(ok, fe + k0 * big_a * x), m.where(ok, fn_ + k0 * big_a * y)


def _tm_inverse_series(m, e, n_coord, epsg: int):
    """TM → geographic over the math namespace ``m``; see
    ``_tm_forward_series``."""
    lon0, k0, fe, fn_ = TM_PARAMS[epsg]
    n, big_a, _, beta = _series_constants()
    s = 2.0 * math.sqrt(n) / (1.0 + n)
    xi = (n_coord - fn_) / (k0 * big_a)
    eta = (e - fe) / (k0 * big_a)
    xi_p, eta_p = xi, eta
    for j, b_j in enumerate(beta, start=1):
        xi_p = xi_p - b_j * m.sin(2.0 * j * xi) * m.cosh(2.0 * j * eta)
        eta_p = eta_p - b_j * m.cos(2.0 * j * xi) * m.sinh(2.0 * j * eta)
    xi_p, eta_p = m.bind(xi_p, eta_p)
    # sin χ of the conformal latitude χ; |sin ξ'| ≤ 1 ≤ cosh η', so the
    # rounded quotient needs no clamping into [-1, 1]
    sin_chi = m.sin(xi_p) / m.cosh(eta_p)
    # conformal → geodetic latitude by fixed-point iteration on
    # atanh(sinφ) = atanh(sinχ) + s·atanh(s·sinφ) — converges to machine
    # precision (the truncated δ-series left ~6e-9° of error)
    sin_phi = sin_chi
    for _ in range(8):
        sin_phi = m.tanh(m.atanh(sin_chi) + s * m.atanh(s * sin_phi))
    phi = m.asin(sin_phi)  # |tanh| ≤ 1
    lam = m.atan2(m.sinh(eta_p), m.cos(xi_p))
    # forward x = η + Σ αj·sinh(2jη)·cos(2jξ) ≤ η + 0.07 at η = 2.5, so
    # 2.6 keeps every in-domain forward output invertible
    ok = m.abs(eta) <= _ETA_MAX + 0.1
    return m.where(ok, lon0 + lam * _DEG), m.where(ok, phi * _DEG)


class _NumpyMath:
    """The series' math namespace over float64 arrays; masked → NaN."""

    sin, cos, sinh, cosh, tanh = np.sin, np.cos, np.sinh, np.cosh, np.tanh
    atanh, asin, atan2, sqrt, abs = np.arctanh, np.arcsin, np.arctan2, np.sqrt, np.abs

    @staticmethod
    def bind(*values):
        return values

    @staticmethod
    def where(ok, v):
        return np.where(ok, v, np.nan)


class _Sql:
    """Spark SQL text of a DOUBLE expression. Python arithmetic and ``<=``
    on it build SQL; a float operand becomes an exact double literal."""

    __slots__ = ("text",)

    def __init__(self, text: str):
        self.text = text

    @staticmethod
    def lit(v) -> str:
        return v.text if isinstance(v, _Sql) else repr(float(v)) + "D"

    def _op(self, op: str, other, reflected: bool = False) -> _Sql:
        a, b = (_Sql.lit(other), self.text) if reflected else (self.text, _Sql.lit(other))
        return _Sql(f"({a} {op} {b})")

    def __add__(self, o): return self._op("+", o)
    def __radd__(self, o): return self._op("+", o, True)
    def __sub__(self, o): return self._op("-", o)
    def __rsub__(self, o): return self._op("-", o, True)
    def __mul__(self, o): return self._op("*", o)
    def __rmul__(self, o): return self._op("*", o, True)
    def __truediv__(self, o): return self._op("/", o)
    def __rtruediv__(self, o): return self._op("/", o, True)
    def __le__(self, o): return self._op("<=", o)


def _sql_fn(name: str):
    return staticmethod(lambda *args: _Sql(f"{name}({', '.join(map(_Sql.lit, args))})"))


class _SqlMath:
    """The series' math namespace as Spark SQL; masked → NULL.

    ``bind`` turns values the series uses many times into columns of their
    own projection (``stages``, in order), so each output column's text
    names them instead of repeating their text: smaller trees for Catalyst
    to analyze and optimize, and no copy of a value hidden from
    common-subexpression elimination."""

    sin, cos, sinh, cosh, tanh = map(_sql_fn, ("sin", "cos", "sinh", "cosh", "tanh"))
    atanh, asin, atan2, sqrt, abs = map(_sql_fn, ("atanh", "asin", "atan2", "sqrt", "abs"))

    def __init__(self):
        self.stages: list[list[tuple[str, str]]] = []

    def bind(self, *values: _Sql) -> tuple[_Sql, ...]:
        stage = [(f"__tm_{len(self.stages)}_{i}", v.text) for i, v in enumerate(values)]
        self.stages.append(stage)
        return tuple(_Sql(f"`{name}`") for name, _ in stage)

    @staticmethod
    def where(ok: _Sql, v: _Sql) -> _Sql:
        # v × (1 or NULL), not CASE … THEN v: common-subexpression
        # elimination skips conditional branches, and v shares its terms
        # with the test and the other output column
        return _Sql(f"({v.text} * CASE WHEN {ok.text} THEN 1.0D END)")


def tm_forward(lon_deg: np.ndarray, lat_deg: np.ndarray, epsg: int):
    """Geographic (GRS80) → transverse Mercator easting/northing.

    Defined for |η(λ, φ)| ≤ 2.5 (~±60° of longitude from the central
    meridian at the equator, wider at higher latitude, poles included);
    outside that, both outputs are NaN (see ``_ETA_MAX``)."""
    with np.errstate(all="ignore"):
        return _tm_forward_series(
            _NumpyMath, np.asarray(lon_deg, dtype=np.float64),
            np.asarray(lat_deg, dtype=np.float64), epsg,
        )


def tm_inverse(e: np.ndarray, n_coord: np.ndarray, epsg: int):
    """Transverse Mercator easting/northing → geographic lon/lat (GRS80).

    Eastings beyond the forward map's domain image (scaled |η| > ~2.6,
    i.e. ≳16,600 km from the central meridian — nothing tm_forward can
    emit) → NaN, mirroring the forward-side domain mask."""
    with np.errstate(all="ignore"):
        return _tm_inverse_series(
            _NumpyMath, np.asarray(e, dtype=np.float64),
            np.asarray(n_coord, dtype=np.float64), epsg,
        )


def _parse_epsg(crs: str | int) -> int:
    if isinstance(crs, int):
        return crs
    m = crs.upper().replace("EPSG:", "").strip()
    return int(m)


def _quoted(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _sql_column(name: str) -> _Sql:
    return _Sql(f"CAST({_quoted(name)} AS DOUBLE)")


def _aliased(text: str, name: str) -> str:
    return f"{text} AS {_quoted(name)}"


def reproject(df: DataFrame, x: str, y: str, src: str | int, dst: str | int,
              out_x: str = "x_out", out_y: str = "y_out") -> DataFrame:
    """T2: add reprojected coordinate columns. 4326↔{3006,3010,3011} and
    TM↔TM (via geographic), as Spark SQL math evaluated in the JVM: one
    projection per ``_SqlMath.bind`` stage, then one for the outputs.

    A NULL input, a point outside the series' domain (``_ETA_MAX``) or a
    NaN result gives NULL in the output."""
    s, d = _parse_epsg(src), _parse_epsg(dst)
    if s == d:
        return df.withColumn(out_x, F.col(x)).withColumn(out_y, F.col(y))
    for code in (s, d):
        if code != 4326 and code not in TM_PARAMS:
            raise ValueError(f"unsupported CRS EPSG:{code}; known: 4326, {sorted(TM_PARAMS)}")

    m = _SqlMath()
    vx, vy = _sql_column(x), _sql_column(y)
    if s != 4326:
        vx, vy = _tm_inverse_series(m, vx, vy, s)
    if d != 4326:
        vx, vy = _tm_forward_series(m, vx, vy, d)
    # selectExpr, not F.expr: SQL text resolves no py4j ``functions`` view
    out = df
    for stage in m.stages:
        out = out.selectExpr("*", *(_aliased(text, name) for name, text in stage))
    out = out.selectExpr(
        "*",
        _aliased(f"nanvl({vx.text}, CAST(NULL AS DOUBLE))", out_x),
        _aliased(f"nanvl({vy.text}, CAST(NULL AS DOUBLE))", out_y),
    )
    return out.drop(*(name for stage in m.stages for name, _ in stage))


def bbox_filter(df: DataFrame, x: str, y: str,
                bounds: tuple[float, float, float, float]) -> DataFrame:
    """T1 for points: the clip IS a range predicate — stays JVM-side and is
    pushed into the scan (the Spark-native analog of the server-side bbox
    param, S6/S9)."""
    xmin, ymin, xmax, ymax = bounds
    return df.filter(
        F.col(x).between(xmin, xmax) & F.col(y).between(ymin, ymax)
    )


def clip_ring_bbox(ring: np.ndarray, bounds: tuple[float, float, float, float]) -> np.ndarray:
    """Sutherland–Hodgman clip of one polygon ring against an axis-aligned
    rectangle (convex clip window — the algorithm's precondition)."""
    xmin, ymin, xmax, ymax = bounds
    edges = (
        lambda p: p[0] >= xmin,
        lambda p: p[0] <= xmax,
        lambda p: p[1] >= ymin,
        lambda p: p[1] <= ymax,
    )
    inters = (
        lambda a, b: (xmin, a[1] + (b[1] - a[1]) * (xmin - a[0]) / (b[0] - a[0])),
        lambda a, b: (xmax, a[1] + (b[1] - a[1]) * (xmax - a[0]) / (b[0] - a[0])),
        lambda a, b: (a[0] + (b[0] - a[0]) * (ymin - a[1]) / (b[1] - a[1]), ymin),
        lambda a, b: (a[0] + (b[0] - a[0]) * (ymax - a[1]) / (b[1] - a[1]), ymax),
    )
    pts = [tuple(p) for p in np.asarray(ring, dtype=np.float64)]
    if pts and pts[0] == pts[-1]:
        pts = pts[:-1]
    for inside, isect in zip(edges, inters):
        if not pts:
            break
        out = []
        for i, cur in enumerate(pts):
            prev = pts[i - 1]
            if inside(cur):
                if not inside(prev):
                    out.append(isect(prev, cur))
                out.append(cur)
            elif inside(prev):
                out.append(isect(prev, cur))
        pts = out
    return np.asarray(pts, dtype=np.float64)


def ring_area(ring: np.ndarray) -> float:
    """Shoelace area (absolute) of a ring given as [[x, y], ...]."""
    r = np.asarray(ring, dtype=np.float64)
    if len(r) < 3:
        return 0.0
    x, y = r[:, 0], r[:, 1]
    return float(abs(np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))) / 2.0)


def clip_polygons(df: DataFrame, ring_json: str,
                  bounds: tuple[float, float, float, float],
                  out_col: str = "clipped_json") -> DataFrame:
    """T1 exact: clip each polygon ring (JSON `[[x,y],...]`) to the AOI bbox;
    adds the clipped ring JSON + its area. Empty intersection → NULL ring,
    area 0 (the rows a PairwiseClip would drop — filter on area > 0)."""
    schema = StructType(
        [StructField(out_col, StringType()), StructField("clipped_area", DoubleType())]
    )

    def _make_kernel(bounds_, clip_fn, area_fn):
        def _clip(col: pd.Series) -> pd.DataFrame:
            import json as _json

            rings, areas = [], []
            for raw in col:
                try:
                    ring = _json.loads(raw) if raw else []
                except ValueError:
                    ring = []
                clipped = clip_fn(ring, bounds_) if len(ring) >= 3 else np.empty((0, 2))
                if len(clipped) >= 3:
                    rings.append(_json.dumps([[float(a), float(b)] for a, b in clipped]))
                    areas.append(area_fn(clipped))
                else:
                    rings.append(None)
                    areas.append(0.0)
            return pd.DataFrame({out_col: rings, "clipped_area": areas})

        return _clip

    kernel = F.pandas_udf(_make_kernel(bounds, clip_ring_bbox, ring_area), schema)
    packed = df.withColumn("_clip", kernel(F.col(ring_json)))
    return packed.select("*", f"_clip.{out_col}", "_clip.clipped_area").drop("_clip")


def points_in_polygon(
    df: DataFrame,
    x: str,
    y: str,
    ring: list[tuple[float, float]],
) -> DataFrame:
    """Exact point-in-polygon AOI filter — the point analog of the
    reference's PairwiseClip (etl/handlers/geoprocess.py:63-98), upgrading
    the pushed bbox prefilter to true polygon membership.

    Even-odd ray cast, vectorized over Arrow batches: the (tiny) ring is a
    closure constant; per edge the crossing test is one NumPy expression
    over the whole batch. At scale, run `bbox_filter` first so row-group
    pruning discards everything outside the AOI envelope, then this exact
    test touches only the survivors. The per-edge intersection formula is
    written identically to its SQL unrolling (`pip_sql_predicate`) so the
    UDF is oracle-checkable bit-for-bit in IEEE double.
    """
    pts = np.asarray(ring, dtype=np.float64)
    if not np.array_equal(pts[0], pts[-1]):
        pts = np.vstack([pts, pts[:1]])
    edges = [
        (float(ax), float(ay), float(bx), float(by))
        for (ax, ay), (bx, by) in zip(pts[:-1], pts[1:])
        if ay != by  # horizontal edges never satisfy the crossing test
    ]

    @F.pandas_udf("boolean")
    def _inside(xs: pd.Series, ys: pd.Series) -> pd.Series:
        px = xs.to_numpy(dtype=np.float64)
        py = ys.to_numpy(dtype=np.float64)
        inside = np.zeros(len(px), dtype=bool)
        for ax, ay, bx, by in edges:
            cond = (ay > py) != (by > py)
            xint = ax + (py - ay) * (bx - ax) / (by - ay)
            inside ^= cond & (px < xint)
        return pd.Series(inside)

    return df.filter(_inside(F.col(x), F.col(y)))


def pip_sql_predicate(x: str, y: str, ring: list[tuple[float, float]]) -> str:
    """ANSI-SQL unrolling of the same even-odd ray cast (for oracles and
    engines without the UDF): parity of per-edge crossing counts, with the
    intersection expression formula-identical to the UDF's. Every ring
    literal is CAST(... AS DOUBLE): bare `1.9` parses as DECIMAL(2,1) in
    both Spark and DuckDB, and decimal sub-expressions (exact `1.0-1.9`)
    diverge from the UDF's IEEE-double arithmetic by one ULP — enough to
    flip the crossing test for points landing exactly on a vertex/edge
    (fuzz-found: ring [(0,0),(1,1.9),(0,1)], point (0,1))."""
    pts = list(ring)
    if pts[0] != pts[-1]:
        pts = pts + [pts[0]]

    def d(v: float) -> str:
        return f"CAST({v!r} AS DOUBLE)"

    terms = []
    for (ax, ay), (bx, by) in zip(pts[:-1], pts[1:]):
        if ay == by:
            continue
        terms.append(
            f"(CASE WHEN (({d(ay)} > {y}) <> ({d(by)} > {y})) AND "
            f"{x} < {d(ax)} + ({y} - {d(ay)}) * ({d(bx)} - {d(ax)}) / ({d(by)} - {d(ay)}) "
            f"THEN 1 ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ") % 2 = 1"
