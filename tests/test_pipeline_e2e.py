"""End-to-end pipeline test: fake-transport fetch → landing → stage →
clip/reproject/name → catalog load → summary — the analog of the
reference's e2e suite (tests/e2e/test_full_workflow.py there)."""

from __future__ import annotations

import sqlite3

import pytest

from etl_pipeline_spark.pipeline import Pipeline, PipelineConfig
from etl_pipeline_spark.sources.gpkg import stage_gpkg
from etl_pipeline_spark.sources.registry import SourceConfig
from etl_pipeline_spark.sources.staging import extract_zip, glob_stageable_files, infer_staged_type
from etl_pipeline_spark.utils.metrics import RunSummary
from tests.conftest import jobs_fired


class FakeTransport:
    def get_json(self, url, params=None):
        params = params or {}
        if url.endswith("/FeatureServer"):
            return {"layers": [{"id": 0}]}
        if url.endswith("/FeatureServer/0"):
            return {"maxRecordCount": 3}
        off = params.get("resultOffset", 0)
        feats = [
            {
                "type": "Feature",
                "properties": {"fid": i, "namn": f"Väg {i}"},
                # lon spread so the AOI bbox drops some rows
                "geometry": {"type": "Point", "coordinates": [14.0 + i, 59.0]},
            }
            for i in range(off, min(off + 3, 7))
        ]
        return {"features": feats, "exceededTransferLimit": off + len(feats) < 7}

    def head_headers(self, url):
        return {}


@pytest.fixture()
def prod_db(spark):
    yield "prod_e2e"
    spark.sql("DROP DATABASE IF EXISTS prod_e2e CASCADE")


def test_pipeline_end_to_end(spark, tmp_path, prod_db):
    cfg = PipelineConfig(
        landing_dir=str(tmp_path / "landing"),
        production_db=prod_db,
        aoi_bbox=(15.5, 58.0, 25.0, 61.0),  # drops lon 14.0 and 15.0
        target_epsg=3006,
    )
    pipe = Pipeline(spark, cfg, transport=FakeTransport())
    src = SourceConfig(name="Vägar Källa", authority="TRV", type="rest_api",
                       url="https://x/FeatureServer")
    summary = pipe.run([src])

    # counters: download done + one load done
    assert summary.counters("download")["done"] == 1
    assert summary.counters("load")["done"] == 1

    # the production table landed under the generated fc name
    tables = [t.name for t in spark.catalog.listTables(prod_db) if not t.isTemporary]
    assert tables == ["trv_vagar_kalla_layer0"]
    out = spark.table(f"{prod_db}.trv_vagar_kalla_layer0")
    rows = out.orderBy("fid").collect()
    assert [r.fid for r in rows] == [2, 3, 4, 5, 6]  # AOI clip applied
    # reprojected coordinates present and plausible (SWEREF99 TM)
    assert all(100_000 < r.x_out < 1_000_000 for r in rows)
    assert all(6_000_000 < r.y_out < 8_000_000 for r in rows)

    # failure containment: a broken source records an error, run continues
    bad = SourceConfig(name="bad", authority="X", type="rest_api", url="https://x/FeatureServer")
    pipe2 = Pipeline(spark, cfg, transport=None)  # no transport → fetch raises
    s2 = pipe2.run([bad, SourceConfig(name="off", authority="X", type="file",
                                      url="nope", enabled=False)])
    assert s2.counters("download")["error"] == 1
    assert s2.counters("download")["skip"] == 1
    assert "❌ error: 1" in s2.dump()


def test_gpkg_staging(spark, tmp_path):
    gpkg = str(tmp_path / "data.gpkg")
    with sqlite3.connect(gpkg) as con:
        con.execute("CREATE TABLE gpkg_contents (table_name TEXT, data_type TEXT)")
        con.execute("INSERT INTO gpkg_contents VALUES ('main.lakes', 'features')")
        con.execute("INSERT INTO gpkg_contents VALUES ('roads', 'features')")
        con.execute("INSERT INTO gpkg_contents VALUES ('tiles', 'tiles')")
        con.execute("CREATE TABLE lakes (fid INTEGER, namn TEXT, geom BLOB)")
        con.executemany(
            "INSERT INTO lakes VALUES (?, ?, ?)",
            [(i, f"Sjö {i}", b"\x00GP\x01" + bytes([i])) for i in range(5)],
        )
        con.execute("CREATE TABLE roads (fid INTEGER, namn TEXT)")
        con.execute("INSERT INTO roads VALUES (1, 'E4')")

    staged, missing = stage_gpkg(spark, gpkg, include=("LAKES", "rivers"))
    assert list(staged) == ["lakes"] and missing == ["rivers"]
    rows = staged["lakes"].orderBy("fid").collect()
    assert rows[0].namn == "Sjö 0"
    assert bytes(rows[0].geom).startswith(b"\x00GP\x01")  # blob survives

    # no include → all feature classes, tiles excluded, main. stripped
    all_staged, _ = stage_gpkg(spark, gpkg)
    assert sorted(all_staged) == ["lakes", "roads"]


def test_gpkg_distributed_read_matches(spark, tmp_path):
    from etl_pipeline_spark.sources.gpkg import load_table, load_table_distributed

    gpkg = str(tmp_path / "big.gpkg")
    with sqlite3.connect(gpkg) as con:
        con.execute("CREATE TABLE gpkg_contents (table_name TEXT, data_type TEXT)")
        con.execute("INSERT INTO gpkg_contents VALUES ('pts', 'features')")
        con.execute("CREATE TABLE pts (fid INTEGER, v REAL)")
        con.executemany("INSERT INTO pts VALUES (?, ?)", [(i, i * 0.5) for i in range(1000)])
    a = load_table(spark, gpkg, "pts").orderBy("fid").collect()
    b = load_table_distributed(spark, gpkg, "pts", num_partitions=7).orderBy("fid").collect()
    assert a == b and len(a) == 1000


def test_zip_and_inference(tmp_path):
    import zipfile

    archive = tmp_path / "data.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("a/b.geojson", "{}")
        zf.writestr("c.gpkg", "x")
    out = extract_zip(str(archive), str(tmp_path / "out"))
    assert len(out) == 2
    files = glob_stageable_files(str(tmp_path / "out"))
    assert [f.split("/")[-1] for f in files] == ["b.geojson", "c.gpkg"]

    assert infer_staged_type("x.gpkg") == "gpkg"
    assert infer_staged_type("x.json") == "geojson"
    assert infer_staged_type("x.zip") == "shapefile_collection"
    assert infer_staged_type("whatever", "gpkg") == "gpkg"


def test_zip_slip_guard(tmp_path):
    import zipfile

    evil = tmp_path / "evil.zip"
    with zipfile.ZipFile(evil, "w") as zf:
        zf.writestr("../escape.txt", "x")
    with pytest.raises(ValueError, match="unsafe zip member"):
        extract_zip(str(evil), str(tmp_path / "out"))


def test_run_summary_dump():
    s = RunSummary()
    s.log("download", "a", "done", 1.0)
    s.log("download", "b", "error", 0.1)
    s.log("load", "a/fc", "done", 2.0)
    assert s.counters()["done"] == 2
    assert s.errors() == [("download", "b")]
    dump = s.dump()
    assert "✅ done: 2" in dump and "❌ error: 1" in dump
    with pytest.raises(ValueError):
        s.log("x", "y", "weird")


class FakeOgcTransport:
    def get_json(self, url, params=None):
        base = "https://api/ogc"
        if url == f"{base}/collections":
            return {"collections": [{"id": "lakes"}, {"id": "roads"}]}
        if "/collections/lakes/items" in url:
            if "next" in url:
                return {"features": [
                    {"type": "Feature", "properties": {"fid": 2, "namn": "Östersjön"},
                     "geometry": {"type": "Point", "coordinates": [18.5, 59.4]}}], "links": []}
            return {
                "features": [
                    {"type": "Feature", "properties": {"fid": 1, "namn": "Vänern"},
                     "geometry": {"type": "Point", "coordinates": [13.2, 58.9]}}],
                "links": [{"rel": "next", "href": "items?next=1"}],
            }
        raise AssertionError(url)

    def head_headers(self, url):
        return {}


def test_pipeline_ogc_source(spark, tmp_path):
    spark.sql("CREATE DATABASE IF NOT EXISTS prod_ogc")
    try:
        cfg = PipelineConfig(landing_dir=str(tmp_path / "landing"), production_db="prod_ogc",
                             target_epsg=3006)
        pipe = Pipeline(spark, cfg, transport=FakeOgcTransport())
        src = SourceConfig(name="Sjöar", authority="NVV", type="ogc_api",
                           url="https://api/ogc", include=("lakes",))
        summary = pipe.run([src])
        assert summary.counters("load")["done"] == 1
        out = spark.table("prod_ogc.nvv_sjoar_lakes")
        rows = {r.fid: r for r in out.collect()}
        assert set(rows) == {1, 2}  # link-rel pagination followed
        assert rows[1].namn == "Vänern"
        assert 100_000 < rows[1].x_out < 1_000_000  # reprojected to SWEREF99 TM
    finally:
        spark.sql("DROP DATABASE IF EXISTS prod_ogc CASCADE")


# --------------------------------------------------------------------------
# S1 proper (streamed binary download) + S11 wiring (atom feed dispatch)
# --------------------------------------------------------------------------
class BinaryTransport:
    """Serves named binary bodies; counts stream opens for idempotence
    assertions; chunks at 10 bytes to prove chunked assembly."""

    def __init__(self, bodies: dict[str, bytes], texts: dict[str, str] | None = None):
        self.bodies = dict(bodies)
        for u, t in (texts or {}).items():
            self.bodies[u] = t.encode()
        self.stream_calls: list[str] = []

    def get_stream(self, url):
        self.stream_calls.append(url)
        body = self.bodies[url]
        for i in range(0, len(body), 10):
            yield body[i : i + 10]

    def head_headers(self, url):
        return {}

    def get_json(self, url, params=None):
        raise AssertionError("not used")


def test_download_file_chunked_idempotent(tmp_path):
    from etl_pipeline_spark.sources.fetchers import download_file

    body = b"x" * 12345
    t = BinaryTransport({"https://h/data.bin": body})
    p1 = download_file(t, "https://h/data.bin", str(tmp_path))
    assert p1.name == "data.bin" and p1.read_bytes() == body
    p2 = download_file(t, "https://h/data.bin", str(tmp_path))
    assert p2 == p1 and t.stream_calls == ["https://h/data.bin"]  # skip-if-exists
    assert not list(tmp_path.rglob("*.part"))


def test_download_file_no_partial_on_failure(tmp_path):
    from etl_pipeline_spark.sources.fetchers import download_file

    class Failing(BinaryTransport):
        def get_stream(self, url):
            yield b"partial-bytes"
            raise OSError("connection dropped")

    t = Failing({})
    import pytest as _pytest

    with _pytest.raises(OSError):
        download_file(t, "https://h/big.zip", str(tmp_path))
    assert [p for p in tmp_path.rglob("*") if p.is_file()] == []  # no dest, no .part


def _feature_collection(n: int) -> str:
    import json as _json

    return _json.dumps(
        {
            "type": "FeatureCollection",
            "features": [
                {
                    "type": "Feature",
                    "properties": {"fid": i, "namn": f"Plats {i}"},
                    "geometry": {"type": "Point", "coordinates": [15.0 + i, 59.0]},
                }
                for i in range(n)
            ],
        }
    )


def test_pipeline_remote_file_source_downloads_then_stages(spark, tmp_path):
    cfg = PipelineConfig(
        landing_dir=str(tmp_path / "landing"), production_db="prod_dl", target_epsg=None
    )
    t = BinaryTransport({}, texts={"https://h/pts.geojson": _feature_collection(4)})
    pipe = Pipeline(spark, cfg, transport=t)
    src = SourceConfig(
        name="Punkter", authority="LST", type="file",
        url="https://h/pts.geojson", staged_data_type="geojson",
    )
    try:
        summary = pipe.run([src])
        assert summary.counters("download")["done"] == 1
        out = spark.table("prod_dl.lst_pts")
        assert out.count() == 4
        # re-run: landing hit, no second stream open
        pipe.run([src])
        assert t.stream_calls == ["https://h/pts.geojson"]
    finally:
        spark.sql("DROP DATABASE IF EXISTS prod_dl CASCADE")


_ATOM_FEED = """<?xml version="1.0"?>
<feed xmlns="http://www.w3.org/2005/Atom">
  <entry><link rel="enclosure" href="https://h/a.geojson"/></entry>
  <entry><link rel="enclosure" href="https://h/b.geojson"/>
         <link href="https://h/ignored.html"/></entry>
  <entry><link rel="enclosure" href="https://h/a.geojson"/></entry>
</feed>"""


def test_pipeline_atom_feed_source_e2e(spark, tmp_path):
    cfg = PipelineConfig(
        landing_dir=str(tmp_path / "landing"), production_db="prod_atom", target_epsg=None
    )
    t = BinaryTransport(
        {},
        texts={
            "https://h/feed.xml": _ATOM_FEED,
            "https://h/a.geojson": _feature_collection(2),
            "https://h/b.geojson": _feature_collection(3),
        },
    )
    pipe = Pipeline(spark, cfg, transport=t)
    src = SourceConfig(
        name="Atomkälla", authority="SGU", type="atom_feed",
        url="https://h/feed.xml", staged_data_type="geojson",
    )
    try:
        summary = pipe.run([src])
        assert summary.counters("download")["done"] == 1
        # deduped enclosure URLs → exactly one download per unique resource
        assert sorted(t.stream_calls) == [
            "https://h/a.geojson", "https://h/b.geojson", "https://h/feed.xml",
        ]
        tables = sorted(
            x.name for x in spark.catalog.listTables("prod_atom") if not x.isTemporary
        )
        assert tables == ["sgu_a", "sgu_b"]
        assert spark.table("prod_atom.sgu_a").count() == 2
        assert spark.table("prod_atom.sgu_b").count() == 3
    finally:
        spark.sql("DROP DATABASE IF EXISTS prod_atom CASCADE")


def test_download_file_clamps_server_supplied_filename(tmp_path):
    """Content-Disposition is server-controlled: traversal and absolute
    paths must be clamped to a basename inside the landing zone."""
    from etl_pipeline_spark.sources.fetchers import download_file

    class Hostile(BinaryTransport):
        def head_headers(self, url):
            return {"Content-Disposition": "filename*=UTF-8\'\'..%2F..%2Fevil.sh"}

    t = Hostile({"https://h/x": b"payload"})
    p = download_file(t, "https://h/x", str(tmp_path))
    assert p.name == "evil.sh"
    assert p.resolve().is_relative_to(tmp_path.resolve())
    assert (tmp_path.parent / "evil.sh").exists() is False


def test_download_file_same_basename_different_urls_no_collision(tmp_path):
    from etl_pipeline_spark.sources.fetchers import download_file

    t = BinaryTransport(
        {"https://h/2024/data.bin": b"year-2024", "https://h/2025/data.bin": b"year-2025"}
    )
    p1 = download_file(t, "https://h/2024/data.bin", str(tmp_path))
    p2 = download_file(t, "https://h/2025/data.bin", str(tmp_path))
    assert p1 != p2
    assert p1.read_bytes() == b"year-2024" and p2.read_bytes() == b"year-2025"


def test_pipeline_atom_feed_relative_hrefs(spark, tmp_path):
    """Relative enclosure hrefs (RFC 4287) resolve against the feed URL."""
    cfg = PipelineConfig(
        landing_dir=str(tmp_path / "landing"), production_db="prod_atom_rel", target_epsg=None
    )
    feed = """<?xml version="1.0"?>
    <feed xmlns="http://www.w3.org/2005/Atom">
      <entry><link rel="enclosure" href="data/rel.geojson"/></entry>
    </feed>"""
    t = BinaryTransport(
        {},
        texts={
            "https://h/feeds/feed.xml": feed,
            "https://h/feeds/data/rel.geojson": _feature_collection(2),
        },
    )
    pipe = Pipeline(spark, cfg, transport=t)
    src = SourceConfig(
        name="Rel", authority="X", type="atom_feed",
        url="https://h/feeds/feed.xml", staged_data_type="geojson",
    )
    try:
        summary = pipe.run([src])
        assert summary.counters("download")["done"] == 1
        assert spark.table("prod_atom_rel.x_rel").count() == 2
    finally:
        spark.sql("DROP DATABASE IF EXISTS prod_atom_rel CASCADE")


@pytest.mark.parametrize(
    "aoi, kept",
    [((15.5, 58.0, 25.0, 61.0), 5), ((100.0, 0.0, 101.0, 1.0), 0)],
    ids=["clips_some", "clips_all"],
)
def test_pipeline_run_is_one_job_and_records_rows_out(spark, tmp_path, prod_db, aoi, kept):
    """One REST source is one Spark job, the write, which also counts the
    rows for ``RunSummary.rows_out`` — on the run that creates the table
    and on the rerun that overwrites it. Staging infers the landing
    file's schema on the driver and fires no job."""
    src = SourceConfig(name="Vägar Källa", authority="TRV", type="rest_api",
                       url="https://x/FeatureServer")
    table = f"{prod_db}.trv_vagar_kalla_layer0"
    for run in range(2):
        cfg = PipelineConfig(landing_dir=str(tmp_path / f"landing{run}"),
                             production_db=prod_db, aoi_bbox=aoi, target_epsg=3006)
        pipe = Pipeline(spark, cfg, transport=FakeTransport())
        summaries = []
        jobs = jobs_fired(spark, lambda: summaries.append(pipe.run([src])))
        assert len(jobs) == 1, (run, jobs)
        assert summaries[0].rows_out == {("Vägar Källa", "trv_vagar_kalla_layer0"): kept}
        assert spark.table(table).count() == kept
