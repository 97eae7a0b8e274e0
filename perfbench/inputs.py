"""Seeded input generation: the star-schema tables the query workloads read
and the feature sources the ``etl_load`` workload ingests.

Everything here is a pure function of ``seed`` (and the scale). The program
under test only ever sees the files and transport this module produces.

The star tables follow the column types and value domains of the repo's
fixture corpus (TPC-H-like keys, uniform attributes, an ``events`` stream,
near-duplicate ``documents`` and unit-norm ``embeddings``), so every
registered query has the same shape of input it was written against.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_DAY_US = 86_400 * 1_000_000


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema | None = None) -> int:
    tbl = pa.table(cols, schema=schema)
    pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return tbl.num_rows


def write_star(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten star-schema tables for scale ``sf`` into ``out_dir``;
    returns row counts per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, round(150_000 * sf))
    n_supp = max(5, round(10_000 * sf))
    n_part = max(20, round(200_000 * sf))
    n_ord = max(100, round(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(100, round(1_000_000 * sf))
    n_users = max(5, round(15_000 * sf))
    n_doc = max(500, round(50_000 * sf))
    n_vec = max(500, round(20_000 * sf))
    rows = {}

    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(
            _EPOCH_1995 + rng.integers(0, 2400, n_ord) * _DAY_US, pa.timestamp("us")
        ),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": pa.array(
            _EPOCH_1995 + rng.integers(1, 2500, n_li) * _DAY_US, pa.timestamp("us")
        ),
    })
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    rows["events"] = _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(_EPOCH_2024 + ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate plant: an earlier document with its last token
            # replaced, the shape the dedup and LSH queries look for
            base = texts[int(rng.integers(0, i))].split(" ")
            texts.append(" ".join(base[:-1] + ["dup"]))
        else:
            texts.append(" ".join(_pick(rng, WORDS, int(rng.integers(10, 100)))))
    rows["documents"] = _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.normal(size=(n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows["embeddings"] = _write(
        out_dir,
        "embeddings",
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": [v.tolist() for v in vecs],
            "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
        },
        schema=pa.schema([
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]),
    )
    return rows


# --------------------------------------------------------------------------
# etl_load: sources behind an in-process transport
# --------------------------------------------------------------------------
AUTHORITIES = ["FM", "NVV", "LST", "LSTD", "MSB", "RAA", "SGI", "SGU", "SJV", "SKS", "SVK", "TRV"]
# Area of interest in EPSG:4326 (lon/lat): central Sweden. Features are drawn
# over a wider box, so the clip drops a share of every source.
AOI = (14.0, 57.5, 19.0, 61.0)
_DRAW_BOX = (11.0, 55.5, 21.0, 63.5)
# A prototype run of the pipeline over 53 REST sources moved 38.7k features;
# its largest source, the reference run's 18,581-feature layer, held 48% of
# them. The reference log's typical layer has 1 to 2,783 features.
REF_SOURCES, REF_FEATURES, REF_LARGEST = 53, 38_700, 18_581
PAGE_SIZE = 2000
_PLACE = ["Väg", "Sjö", "Å", "Skog", "Gård", "Ö", "Hage", "Bro"]


@dataclass
class Source:
    """One generated source: its config fields, features and expected
    post-clip count."""
    name: str
    authority: str
    type: str  # "rest_api" | "file"
    url: str
    features: list[dict]
    expected_rows: int


def source_sizes(n_sources: int) -> list[int]:
    """Fixed skewed size ladder for ``n_sources`` sources, scaled from the
    prototype run: the mean source size is 38.7k / 53 features and the
    largest source holds 48% of all features. The other sources are
    log-spaced from 1 feature up, summing to the remaining 52%. The seed
    only decides which source gets which size, so every seed moves the same
    number of features and throughput is comparable across seeds."""
    total = n_sources * REF_FEATURES / REF_SOURCES
    largest = total * REF_LARGEST / REF_FEATURES
    rest, k = total - largest, n_sources - 1

    def ladder(top: float) -> list[float]:
        return [top ** (i / (k - 1)) for i in range(k)]

    lo, hi = 1.0, rest  # bisect for the top of the ladder on its sum
    for _ in range(100):
        mid = (lo + hi) / 2
        lo, hi = (mid, hi) if sum(ladder(mid)) < rest else (lo, mid)
    return [round(x) for x in ladder(lo)] + [round(largest)]


def make_sources(seed: int, n_sources: int, file_dir: str) -> list[Source]:
    """Generate ``n_sources`` sources; every third is a local GeoJSON file
    (written under ``file_dir``), the rest are paginated REST services."""
    rng = np.random.default_rng(seed)
    sizes = source_sizes(n_sources)
    rng.shuffle(sizes)
    os.makedirs(file_dir, exist_ok=True)
    out = []
    x0, y0, x1, y1 = _DRAW_BOX
    for i, n in enumerate(sizes):
        xs = np.round(rng.uniform(x0, x1, n), 6)
        ys = np.round(rng.uniform(y0, y1, n), 6)
        names = _pick(rng, _PLACE, n)
        feats = [
            {
                "type": "Feature",
                "properties": {"fid": j, "namn": f"{names[j]} {j}", "klass": int(j % 7)},
                "geometry": {"type": "Point", "coordinates": [float(xs[j]), float(ys[j])]},
            }
            for j in range(n)
        ]
        ax0, ay0, ax1, ay1 = AOI
        expected = int(np.sum((xs >= ax0) & (xs <= ax1) & (ys >= ay0) & (ys <= ay1)))
        authority = AUTHORITIES[i % len(AUTHORITIES)]
        name = f"Källa {i:02d} {authority}"
        if i % 3 == 2:
            path = os.path.join(file_dir, f"kalla_{i:02d}.geojson")
            with open(path, "w", encoding="utf-8") as fh:
                json.dump({"type": "FeatureCollection", "features": feats}, fh, ensure_ascii=False)
            out.append(Source(name, authority, "file", path, feats, expected))
        else:
            url = f"https://gis.example/{i:02d}/FeatureServer"
            out.append(Source(name, authority, "rest_api", url, feats, expected))
    return out


class FakeTransport:
    """In-process Esri-REST server over the generated sources: layer
    discovery, layer metadata with ``maxRecordCount`` and offset pages.
    ``pages`` counts feature pages served."""

    def __init__(self, sources: list[Source]):
        self._by_url = {s.url: s for s in sources if s.type == "rest_api"}
        self.pages = 0

    def get_json(self, url: str, params: dict | None = None) -> dict:
        params = params or {}
        if url in self._by_url:
            return {"layers": [{"id": 0}]}
        base, _, tail = url.rpartition("/")
        if tail == "0" and base in self._by_url:
            return {"maxRecordCount": PAGE_SIZE}
        if tail == "query":
            src = self._by_url[base.rpartition("/")[0]]
            off = int(params.get("resultOffset", 0))
            cnt = int(params.get("resultRecordCount", PAGE_SIZE))
            page = src.features[off:off + cnt]
            self.pages += 1
            return {"features": page, "exceededTransferLimit": off + len(page) < len(src.features)}
        raise KeyError(f"unknown url {url}")

    def head_headers(self, url: str) -> dict[str, str]:
        return {}

    def get_stream(self, url: str):
        raise KeyError(f"no binary payloads are served: {url}")
