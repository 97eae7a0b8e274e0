"""GeoJSON FeatureCollection normalizer (SURVEY.md §2.2 L2).

The reference converts GeoJSON files via ArcPy with the geometry type
*sampled from the first 10 features* (etl/loaders/geojson_loader.py:37-43) —
a confirmed correctness hole for mixed-type files (§2.9 bug 5). Here:

- `json_schema` infers the file's schema on the driver, as the file
  parses, exactly as Spark's `JsonInferSchema` would; `spark.read.json`
  then parses the FeatureCollection on executors under that schema, so
  staging a file fires no Spark job (an inferring read fires one per file);
- features explode into rows: properties struct + geometry (type kept as a
  column, coordinates kept as a raw JSON string — arbitrary nesting depth
  doesn't fit a fixed Spark type, and downstream geometry kernels parse it
  lazily);
- geometry-type detection aggregates over ALL rows
  (`groupBy(geom_type).count()`), and `dominant_geometry_type` implements
  the reference's POLYGON-default-with-warning rule deterministically;
- representative x/y are extracted from the first coordinate pair so bbox
  predicates (S9) and the WGS84 sniff rule (S10) run as plain range
  predicates, pushed down by Catalyst.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DecimalType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# GeoJSON type → staging geometry class, the reference's hard mapping table
# (etl/loaders/geojson_loader.py:59-66).
GEOJSON_TO_STAGED_TYPE = {
    "Point": "POINT",
    "MultiPoint": "MULTIPOINT",
    "LineString": "POLYLINE",
    "MultiLineString": "POLYLINE",
    "Polygon": "POLYGON",
    "MultiPolygon": "POLYGON",
}


_EMPTY_FC_SCHEMA = (
    "geom_type string, coordinates_json string, x double, y double, crs_name string"
)


# --------------------------------------------------------------------------
# Driver-side JSON schema inference. Types are interned tuples while a file
# parses — ("bigint",), ("decimal", digits), ("array", element),
# ("struct", ((name, type), ...)) with fields in Java string order — and
# become Spark types once, at the end. The rules are Spark's
# JsonInferSchema (inferField, compatibleType, canonicalizeType) at default
# options, so the schema equals what an inferring read of the file gives.
# --------------------------------------------------------------------------

_NULL = ("null",)
_STRING = ("string",)
_BOOLEAN = ("boolean",)
_LONG = ("bigint",)
_DOUBLE = ("double",)
_MAX_PRECISION = 38
_EMPTY_STRUCT = ("struct", ())
_CORRUPT_ONLY = ("struct", (("_corrupt_record", _STRING),))
_LONG_LIMITS = {False: "9223372036854775807", True: "9223372036854775808"}
_SCALARS = {
    "string": StringType(), "boolean": BooleanType(), "bigint": LongType(),
    "double": DoubleType(),
}


def _int_type(text: str) -> tuple:
    """Jackson's number type for an integer literal: int64 → bigint, else
    BigInteger → decimal(digits, 0) up to 38 digits, else double."""
    negative = text.startswith("-")
    digits = text[1:] if negative else text
    if len(digits) < 19 or (len(digits) == 19 and digits <= _LONG_LIMITS[negative]):
        return _LONG
    return ("decimal", len(digits)) if len(digits) <= _MAX_PRECISION else _DOUBLE


def _digits(t: tuple) -> int:
    """Digits of an integral type: JSON decimals are integers (scale 0),
    and a bigint widens as decimal(20, 0)."""
    return t[1] if t[0] == "decimal" else 20


def _java_order(name: str) -> bytes:
    """Sort key of Java's ``String.compareTo``: UTF-16 code units, so an
    astral-plane character sorts before U+E000..U+FFFF."""
    return name.encode("utf-16-be", "surrogatepass")


def _equals_ignore_case(a: str, b: str) -> bool:
    """Java's ``String.equalsIgnoreCase`` (Spark's default resolver),
    character by character."""
    def fold(c: str) -> str:
        up = c.upper()
        return (up if len(up) == 1 else c).lower()

    return len(a) == len(b) and all(x == y or fold(x) == fold(y) for x, y in zip(a, b))


class _Inference:
    """One file's inference: interns every type it builds, so the features
    of a file, which mostly share one type, merge by identity."""

    def __init__(self) -> None:
        self._interned: dict[tuple, tuple] = {}
        self._objects: dict[tuple, tuple] = {}
        self._merged: dict[tuple, tuple] = {}

    def intern(self, t: tuple) -> tuple:
        return self._interned.setdefault(t, t)

    def type_of(self, value) -> tuple:
        """inferField for a decoded value: numbers, objects and constants
        arrive as types from the decoder hooks."""
        if value.__class__ is tuple:
            return value
        if value.__class__ is str:
            return _STRING if value else _NULL  # "" infers as null in Spark
        if value is None:
            return _NULL
        if value is True or value is False:
            return _BOOLEAN
        element = _NULL
        for item in value:  # a list: its element types fold left
            element = self.compatible(element, self.type_of(item))
        return self.intern(("array", element))

    def object_type(self, pairs: list) -> tuple:
        fields = tuple((name, self.type_of(v)) for name, v in pairs)
        t = self._objects.get(fields)
        if t is None:
            ordered = tuple(sorted(fields, key=lambda f: _java_order(f[0])))
            t = self._objects[fields] = self.intern(("struct", ordered))
        return t

    def compatible(self, a: tuple, b: tuple) -> tuple:
        if a is b:
            return a
        key = (a, b)
        t = self._merged.get(key)
        if t is None:
            t = self._merged[key] = self.intern(self._tightest(a, b) or self._widest(a, b))
        return t

    def _tightest(self, a: tuple, b: tuple) -> tuple | None:
        """TypeCoercion.findTightestCommonType, which compatibleType tries
        first; its struct case pairs fields by position, case-insensitively."""
        if a == b or b == _NULL:
            return a
        if a == _NULL:
            return b
        kinds = {a[0], b[0]}
        if kinds == {"bigint", "double"}:
            return _DOUBLE
        if kinds == {"bigint", "decimal"}:
            decimal = a if a[0] == "decimal" else b
            return decimal if decimal[1] >= 20 else None  # int64 needs 20 digits
        if kinds == {"array"}:
            element = self._tightest(a[1], b[1])
            return None if element is None else ("array", element)
        if kinds == {"struct"} and len(a[1]) == len(b[1]):
            fields = []
            for (name, ta), (other, tb) in zip(a[1], b[1]):
                t = self._tightest(ta, tb) if _equals_ignore_case(name, other) else None
                if t is None:
                    return None
                fields.append((name, self.intern(t)))
            return ("struct", tuple(fields))
        return None

    def _widest(self, a: tuple, b: tuple) -> tuple:
        """The rest of JsonInferSchema.compatibleType."""
        kinds = {a[0], b[0]}
        if kinds == {"double", "decimal"}:
            return _DOUBLE
        if kinds <= {"bigint", "decimal"}:  # at most 38 digits: never past decimal(38, 0)
            return ("decimal", max(_digits(a), _digits(b)))
        if kinds == {"struct"}:
            return ("struct", self._merge_fields(a[1], b[1]))
        if kinds == {"array"}:
            return ("array", self.compatible(a[1], b[1]))
        return _STRING  # every other conflict, e.g. mixed-depth coordinates

    def _merge_fields(self, left: tuple, right: tuple) -> tuple:
        """Merge two name-sorted field lists as Spark does: equal names
        merge their types, the rest interleave in order."""
        out, i, j = [], 0, 0
        while i < len(left) and j < len(right):
            (ln, lt), (rn, rt) = left[i], right[j]
            lk, rk = _java_order(ln), _java_order(rn)
            if lk == rk:
                out.append((ln, self.compatible(lt, rt)))
                i, j = i + 1, j + 1
            elif lk < rk:
                out.append(left[i])
                i += 1
            else:
                out.append(right[j])
                j += 1
        return tuple(out) + left[i:] + right[j:]


def _root_struct(t: tuple) -> tuple:
    """compatibleRootType folded from an empty struct: a top-level array
    stands for its elements, null for no row, any other scalar for a
    corrupt record."""
    while t[0] == "array":
        t = t[1]
    if t[0] == "struct":
        return t
    return _EMPTY_STRUCT if t == _NULL else _CORRUPT_ONLY


def _spark_type(t: tuple) -> DataType | None:
    """canonicalizeType: null → string, empty structs and empty field names
    dropped (with any array of them), every field nullable."""
    kind = t[0]
    if kind == "struct":
        fields = [
            StructField(name, dt, True)
            for name, ft in t[1]
            if name and (dt := _spark_type(ft)) is not None
        ]
        return StructType(fields) if fields else None
    if kind == "array":
        element = _spark_type(t[1])
        return None if element is None else ArrayType(element, True)
    if kind == "decimal":
        return DecimalType(t[1], 0)
    return StringType() if kind == "null" else _SCALARS[kind]


def json_schema(path: str) -> StructType:
    """The schema ``spark.read.option("multiLine", "true").json(path)``
    infers, computed on the driver without a Spark job.

    The file must be RFC 8259 JSON (which GeoJSON is, RFC 7946 §2); its
    encoding (UTF-8, -16 or -32) is detected as Jackson detects it. Every
    object becomes its type as soon as it closes, so the driver holds the
    file's bytes and one reference per array element, never the
    features. Raises ``ValueError`` on anything that is not JSON.
    """
    inference = _Inference()
    with open(path, "rb") as fh:
        data = fh.read()
    try:
        doc = json.loads(
            data,
            object_pairs_hook=inference.object_type,
            parse_int=_int_type,
            parse_float=lambda _: _DOUBLE,
            parse_constant=lambda _: _DOUBLE,  # NaN and ±Infinity
        )
    except RecursionError as e:
        raise ValueError(f"{path}: JSON nested too deeply") from e
    root = _spark_type(_root_struct(inference.type_of(doc)))
    return root if root is not None else StructType([])


def _struct_field(struct: StructType, name: str) -> StructType | None:
    """The field's type if it exists AND is a struct, else None — inferred
    JSON schemas degrade absent/all-null objects to StringType."""
    if name in struct.names and isinstance(struct[name].dataType, StructType):
        return struct[name].dataType
    return None


def load_feature_collection(spark: SparkSession, path: str) -> DataFrame:
    """Read a GeoJSON FeatureCollection file into one row per feature.

    The read carries the schema ``json_schema`` infers on the driver, so
    staging fires no Spark job; the rows are parsed by the job that
    consumes them.

    Degenerate-input contract (fuzz-pinned, tests/test_parser_fuzz.py):
    non-JSON bytes or JSON without a ``features`` array raise
    ``ValueError``; SPEC-LEGAL degenerates parse instead of crashing — an
    empty ``features`` array (inferred as array<string>, no element
    struct) returns an empty frame with the canonical geometry columns,
    and files whose features all carry ``null`` geometry / no properties
    yield NULL geom_type/x/y rows.
    """
    try:
        schema = json_schema(path)
    except ValueError as e:
        raise ValueError(f"{path}: not a GeoJSON FeatureCollection ({e})") from e
    ftype = schema["features"].dataType if "features" in schema.names else None
    if ftype is None:
        raise ValueError(f"{path}: not a GeoJSON FeatureCollection (no 'features' array)")
    elem = ftype.elementType if isinstance(ftype, ArrayType) else None
    if not isinstance(elem, StructType):
        # legal empty collection: [] infers as array<string>
        return spark.createDataFrame([], _EMPTY_FC_SCHEMA)
    raw = spark.read.schema(schema).option("multiLine", "true").json(path)

    crs_props = None
    crs = _struct_field(schema, "crs")
    if crs is not None:
        crs_props = _struct_field(crs, "properties")
    crs_col = (
        F.coalesce(F.col("crs.properties.name"), F.lit(None).cast("string"))
        if crs_props is not None and "name" in crs_props.names
        else F.lit(None).cast("string")
    )
    feats = raw.select(crs_col.alias("crs_name"), F.explode("features").alias("feature"))

    geom = _struct_field(elem, "geometry")  # None when absent or all-null
    props = _struct_field(elem, "properties")
    null_str = F.lit(None).cast("string")
    geom_type = (
        F.col("feature.geometry.type")
        if geom is not None and "type" in geom.names
        else null_str
    )
    coords_json = (
        F.to_json(F.col("feature.geometry.coordinates"))
        if geom is not None and "coordinates" in geom.names
        else null_str
    )
    # coordinates survive schema merge as strings (mixed nesting depths), so
    # the first numeric pair may be wrapped in quotes/brackets — tolerate them.
    # to_json writes |v| < 1e-3 and |v| >= 1e7 in exponent notation.
    num = "(-?[0-9.]+(?:[eE][+-]?[0-9]+)?)"
    pair_re = num + '["\\\\s]*,["\\\\s\\\\[]*' + num
    # nullif('') + try_cast: a feature with no numeric pair (or a null
    # geometry) yields NULL x/y instead of an ANSI cast error.
    x = F.expr("try_cast(nullif(regexp_extract(_cj, '" + pair_re + "', 1), '') AS double)")
    y = F.expr("try_cast(nullif(regexp_extract(_cj, '" + pair_re + "', 2), '') AS double)")
    cols = [F.col("feature.properties.*")] if props is not None else []
    return (
        feats.withColumn("_cj", coords_json)
        .select(
            *cols,
            geom_type.alias("geom_type"),
            F.col("_cj").alias("coordinates_json"),
            x.alias("x"),
            y.alias("y"),
            F.col("crs_name"),
        )
    )


def geometry_type_histogram(features: DataFrame) -> DataFrame:
    """Geometry types over ALL rows — replaces the 10-feature sample."""
    return features.groupBy("geom_type").agg(F.count(F.lit(1)).alias("n_features"))


def dominant_geometry_type(features: DataFrame) -> tuple[str, bool]:
    """Returns (staged_type, is_mixed). Mixed files resolve to POLYGON —
    the reference's documented fallback — but report mixedness explicitly
    instead of a log warning."""
    hist = {r["geom_type"]: r["n_features"] for r in geometry_type_histogram(features).collect()}
    staged = {GEOJSON_TO_STAGED_TYPE.get(t, "POLYGON") for t in hist}
    if len(staged) == 1:
        return next(iter(staged)), False
    return "POLYGON", True


def wgs84_plausible(features: DataFrame) -> bool:
    """S10 sniff over all rows: every coordinate within lon/lat bounds."""
    out = features.agg(
        F.min((F.abs(F.col("x")) <= 180) & (F.abs(F.col("y")) <= 90)).alias("all_in_range")
    ).collect()[0]
    return bool(out["all_in_range"])
