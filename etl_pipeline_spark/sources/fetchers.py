"""Driver-side ingest fetchers (SURVEY.md §2.1, S1-S11) — Spark-first shape.

The reference's handlers (REST: etl/handlers/rest_api.py, OGC:
etl/handlers/ogc_api.py, Atom: etl/handlers/atom_feed.py, files:
etl/handlers/file.py) interleave HTTP, pagination, retry, and file writing in
~2.2k LoC. Here the *protocol semantics* are isolated, deterministic and
transport-injected; the output is a landing zone of JSON files that
`geojson.load_feature_collection` stages: the driver infers each file's
schema (`geojson.json_schema`, no Spark job) and `spark.read.json` parses
it on executors under that schema, making executor-side scale-out (one
partition per layer/collection) a driver-side partition-planning concern.

Kept semantics, each with the reference site:

- server-side predicate/projection/bbox pushdown params
  (rest_api.py:189-209) — the manual twin of Catalyst pushdown;
- maxRecordCount resolution: config → service metadata → 5000 default /
  2000 fallback (rest_api.py:513-573);
- offset pagination with `exceededTransferLimit` handling
  (rest_api.py:575-637);
- layer resolution: explicit ids → discover-all → single-FeatureServer
  fallback (rest_api.py:361-431);
- OGC collection discovery with include filter and configured∖found
  anti-set (ogc_api.py:299-346), link-rel="next" paging (:732-816), bbox
  param injection + CRS URI normalization (:63-138);
- Atom enclosure-link extraction with set-dedupe (atom_feed.py:83-103);
- Content-Disposition true-filename parsing incl. RFC 5987
  `filename*=UTF-8''…` (http.py:51-130);
- landing-zone idempotence: skip when the landing file already exists
  (io.py:28-30).

HTTP transport is a 2-method protocol so tests inject a fake; production
wraps `requests` with RetryPolicy + CircuitBreaker from utils.resilience.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import tempfile
import urllib.parse
import xml.etree.ElementTree as ET
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Protocol

DEFAULT_MAX_RECORDS = 5000
FALLBACK_MAX_RECORDS = 2000
DOWNLOAD_CHUNK = 8192  # streamed-download chunk size (io.py:25 CHUNK)


class Transport(Protocol):
    def get_json(self, url: str, params: dict[str, Any] | None = None) -> dict: ...

    def head_headers(self, url: str) -> dict[str, str]: ...

    def get_stream(self, url: str) -> "Iterator[bytes]":
        """Yield the response body in bounded chunks (binary downloads)."""
        ...


def _as_dict(value: Any, ctx: str) -> dict:
    """Server responses are UNTRUSTED input: a top-level JSON array or
    scalar where an object is required must be a clean ValueError naming
    the endpoint, not an AttributeError off ``.get`` (fuzz-pinned,
    tests/test_parser_fuzz.py)."""
    if not isinstance(value, dict):
        raise ValueError(f"{ctx}: expected a JSON object, got {type(value).__name__}")
    return value


def _feature_list(page: dict, ctx: str) -> list:
    """A non-list ``features`` value would silently .extend() its
    characters/keys into the feature set — corruption, not a crash."""
    got = page.get("features", [])
    if not isinstance(got, list):
        raise ValueError(f"{ctx}: 'features' is {type(got).__name__}, expected a list")
    return got


def _link_list(doc: dict, ctx: str) -> list[dict]:
    """``links`` tolerant-read: non-list → error; non-object entries are
    dropped (they cannot carry rel/href)."""
    links = doc.get("links") or []
    if not isinstance(links, list):
        raise ValueError(f"{ctx}: 'links' is not a list")
    return [l for l in links if isinstance(l, dict)]


# --------------------------------------------------------------------------
# S3: true-filename resolution from Content-Disposition
# --------------------------------------------------------------------------
_FN_STAR_RE = re.compile(r"filename\*\s*=\s*([^']*)''([^;]+)", re.IGNORECASE)
_FN_RE = re.compile(r'filename\s*=\s*"?([^";]+)"?', re.IGNORECASE)


def true_filename(transport: Transport, url: str) -> str:
    """HEAD the URL; prefer RFC 5987 filename*, then filename, then the
    unquoted URL basename."""
    headers = {k.lower(): v for k, v in transport.head_headers(url).items()}
    cd = headers.get("content-disposition", "")
    m = _FN_STAR_RE.search(cd)
    if m:
        return urllib.parse.unquote(m.group(2).strip())
    m = _FN_RE.search(cd)
    if m:
        return m.group(1).strip()
    path = urllib.parse.urlparse(url).path
    return urllib.parse.unquote(path.rsplit("/", 1)[-1]) or "download"


# --------------------------------------------------------------------------
# landing zone (S1 idempotence)
# --------------------------------------------------------------------------
def write_landing_json(landing_dir: str, name: str, payload: dict, overwrite: bool = False) -> Path:
    """Write one JSON document into the landing zone; existing files are
    skipped (idempotent re-runs) unless overwrite is requested."""
    p = Path(landing_dir) / f"{name}.json"
    p.parent.mkdir(parents=True, exist_ok=True)
    if p.exists() and not overwrite:
        return p
    p.write_text(json.dumps(payload, ensure_ascii=False), encoding="utf-8")
    return p


def _safe_landing_name(name: str) -> str:
    """Basename only — Content-Disposition is SERVER-SUPPLIED: a
    traversal ('../../x') or absolute ('/etc/x') filename must never
    escape the landing zone (the same attack class extract_zip guards
    against in staging.py)."""
    base = Path(name.replace("\\", "/")).name
    return base if base not in ("", ".", "..") else "download"


def download_file(
    transport: Transport,
    url: str,
    landing_dir: str,
    filename: str | None = None,
    overwrite: bool = False,
) -> Path:
    """S1 proper: streamed binary download into the landing zone.

    Chunked writes (DOWNLOAD_CHUNK, never whole-body buffering) +
    skip-if-exists idempotence — the semantics of the reference's
    download() (etl/utils/io.py:25-84) with the true filename resolved
    from Content-Disposition when the caller doesn't pin one. Safety on
    top of the reference: the filename is clamped to a basename (no
    server-driven path traversal), and derived names land in a per-URL
    subdirectory so two URLs sharing a basename can never serve each
    other's cached bytes. A partial download never lands: chunks stream
    to a per-invocation unique temp file (mkstemp in the destination
    directory — two concurrent downloads of the same URL can never
    interleave writes or unlink each other's in-progress temp), atomically
    renamed only on success."""
    if filename is not None:
        dest = Path(landing_dir) / _safe_landing_name(filename)
    else:
        name = _safe_landing_name(true_filename(transport, url))
        url_key = hashlib.md5(url.encode("utf-8")).hexdigest()[:8]
        dest = Path(landing_dir) / url_key / name
    dest.parent.mkdir(parents=True, exist_ok=True)
    if dest.exists() and not overwrite:
        return dest
    fd, tmp_name = tempfile.mkstemp(
        prefix=dest.name + ".", suffix=".part", dir=dest.parent
    )
    tmp = Path(tmp_name)
    try:
        with os.fdopen(fd, "wb") as fh:
            for chunk in transport.get_stream(url):
                if chunk:
                    fh.write(chunk)
        tmp.replace(dest)
    finally:
        tmp.unlink(missing_ok=True)
    return dest


def fetch_bytes(transport: Transport, url: str) -> bytes:
    """Small payload (feed XML) via the same streamed path. Returned as
    bytes so XML parsing can honor the encoding declared in the prolog."""
    return b"".join(transport.get_stream(url))


# --------------------------------------------------------------------------
# S5/S6/S7: Esri REST API fetcher
# --------------------------------------------------------------------------
@dataclass
class RestApiFetcher:
    transport: Transport
    service_url: str
    where: str = "1=1"
    out_fields: str = "*"
    bbox: tuple[float, float, float, float] | None = None
    layer_ids: tuple[int, ...] = ()
    max_record_count: int | None = None  # explicit config override
    pages_fetched: int = field(default=0, init=False)

    def service_metadata(self) -> dict:
        return _as_dict(
            self.transport.get_json(self.service_url, {"f": "json"}), self.service_url
        )

    def resolve_layers(self) -> list[int]:
        """Explicit ids → discover-all → single-FeatureServer fallback.
        Malformed layer entries (non-object, missing/junk id) raise
        ValueError — a wrong silently-skipped layer is missing data."""
        if self.layer_ids:
            return list(self.layer_ids)
        meta = self.service_metadata()
        entries = meta.get("layers") or []
        if not isinstance(entries, list):
            raise ValueError(f"{self.service_url}: 'layers' is not a list")
        layers = []
        for entry in entries:
            try:
                layers.append(int(entry["id"]))
            except (TypeError, KeyError, ValueError) as exc:
                raise ValueError(
                    f"{self.service_url}: malformed layer entry {entry!r}"
                ) from exc
        if layers:
            return layers
        # FeatureServer with no layer list → layer 0
        return [0]

    def resolve_max_records(self, meta: dict) -> int:
        """config → service metadata → default; non-positive metadata values
        fall back to the conservative page size."""
        if self.max_record_count:
            return self.max_record_count
        mrc = meta.get("maxRecordCount")
        if isinstance(mrc, int) and mrc > 0:
            return min(mrc, DEFAULT_MAX_RECORDS)
        return FALLBACK_MAX_RECORDS

    def query_params(self, offset: int, count: int) -> dict[str, Any]:
        """The server-side pushdown params — predicate (`where`), projection
        (`outFields`), spatial (`geometry` + intersects), page slice."""
        params: dict[str, Any] = {
            "where": self.where,
            "outFields": self.out_fields,
            "f": "geojson",
            "resultOffset": offset,
            "resultRecordCount": count,
        }
        if self.bbox:
            xmin, ymin, xmax, ymax = self.bbox
            params["geometry"] = f"{xmin},{ymin},{xmax},{ymax}"
            params["geometryType"] = "esriGeometryEnvelope"
            params["spatialRel"] = "esriSpatialRelIntersects"
        return params

    def fetch_layer(self, layer_id: int) -> list[dict]:
        """Offset-pagination loop with exceededTransferLimit handling."""
        layer_url = f"{self.service_url.rstrip('/')}/{layer_id}/query"
        meta = _as_dict(
            self.transport.get_json(
                f"{self.service_url.rstrip('/')}/{layer_id}", {"f": "json"}
            ),
            layer_url,
        )
        page_size = self.resolve_max_records(meta)
        features: list[dict] = []
        offset = 0
        while True:
            page = _as_dict(
                self.transport.get_json(layer_url, self.query_params(offset, page_size)),
                layer_url,
            )
            self.pages_fetched += 1
            got = _feature_list(page, layer_url)
            features.extend(got)
            more = page.get("exceededTransferLimit", False) or len(got) == page_size
            if not got or not more:
                break
            offset += len(got)
        return features

    def fetch_all(self, landing_dir: str, name: str) -> dict[int, Path]:
        out = {}
        for lid in self.resolve_layers():
            feats = self.fetch_layer(lid)
            out[lid] = write_landing_json(
                landing_dir,
                f"{name}_layer{lid}",
                {"type": "FeatureCollection", "features": feats},
            )
        return out


# --------------------------------------------------------------------------
# S8/S9: OGC API Features fetcher
# --------------------------------------------------------------------------
def normalize_crs_uri(crs: str) -> str:
    """CRS84 / numeric EPSG / urn forms → canonical URI
    (ogc_api.py:129-138)."""
    c = crs.strip()
    if c.upper() in ("CRS84", "OGC:CRS84", "HTTP://WWW.OPENGIS.NET/DEF/CRS/OGC/1.3/CRS84"):
        return "http://www.opengis.net/def/crs/OGC/1.3/CRS84"
    m = re.search(r"(?:EPSG[:/]+|/def/crs/EPSG/[0-9.]*/)(\d+)$", c, re.IGNORECASE)
    if m:
        return f"http://www.opengis.net/def/crs/EPSG/0/{m.group(1)}"
    if c.isdigit():
        return f"http://www.opengis.net/def/crs/EPSG/0/{c}"
    return c


@dataclass
class OgcApiFetcher:
    transport: Transport
    base_url: str
    include: tuple[str, ...] = ()
    bbox: tuple[float, float, float, float] | None = None
    bbox_crs: str | None = None
    limit: int = 1000
    pages_fetched: int = field(default=0, init=False)

    def discover_collections(self) -> list[str]:
        """Collection discovery; follows a rel="data" link from the landing
        page when /collections isn't directly present. Malformed collection
        entries raise ValueError (missing data must be loud, not skipped)."""
        url = f"{self.base_url.rstrip('/')}/collections"
        doc = _as_dict(self.transport.get_json(url), url)
        if "collections" not in doc:
            landing = _as_dict(self.transport.get_json(self.base_url), self.base_url)
            data_link = next(
                (l.get("href") for l in _link_list(landing, self.base_url)
                 if l.get("rel") == "data" and l.get("href")),
                None,
            )
            if data_link:
                url = urllib.parse.urljoin(self.base_url + "/", data_link)
                doc = _as_dict(self.transport.get_json(url), url)
        entries = doc.get("collections") or []
        if not isinstance(entries, list):
            raise ValueError(f"{url}: 'collections' is not a list")
        ids = []
        for entry in entries:
            if not isinstance(entry, dict) or not isinstance(entry.get("id"), str):
                raise ValueError(f"{url}: malformed collection entry {entry!r}")
            ids.append(entry["id"])
        return ids

    def select_collections(self) -> tuple[list[str], list[str]]:
        """Include-filter (case-insensitive) + the configured∖found anti-set
        the reference reports as `missing` (ogc_api.py:329-338)."""
        found = self.discover_collections()
        if not self.include:
            return found, []
        lower = {f.lower(): f for f in found}
        selected = [lower[i.lower()] for i in self.include if i.lower() in lower]
        missing = [i for i in self.include if i.lower() not in lower]
        return selected, missing

    def _items_url(self, collection_id: str) -> str:
        url = f"{self.base_url.rstrip('/')}/collections/{collection_id}/items?limit={self.limit}"
        if self.bbox:
            url += "&bbox=" + ",".join(str(v) for v in self.bbox)
            if self.bbox_crs:
                url += "&bbox-crs=" + urllib.parse.quote(normalize_crs_uri(self.bbox_crs), safe="")
        return url

    def fetch_collection(self, collection_id: str) -> list[dict]:
        """Link-rel="next" pagination with relative-URL resolution."""
        url = self._items_url(collection_id)
        features: list[dict] = []
        while url:
            page = _as_dict(self.transport.get_json(url), url)
            self.pages_fetched += 1
            features.extend(_feature_list(page, url))
            nxt = next(
                (l.get("href") for l in _link_list(page, url)
                 if l.get("rel") == "next" and l.get("href")),
                None,
            )
            url = urllib.parse.urljoin(url, nxt) if nxt else None
        return features

    def fetch_all(self, landing_dir: str, name: str) -> tuple[dict[str, Path], list[str]]:
        selected, missing = self.select_collections()
        out = {}
        for cid in selected:
            feats = self.fetch_collection(cid)
            out[cid] = write_landing_json(
                landing_dir,
                f"{name}_{cid}",
                {"type": "FeatureCollection", "features": feats},
            )
        return out, missing


# --------------------------------------------------------------------------
# S11: Atom feed link extraction with URL dedupe
# --------------------------------------------------------------------------
_ATOM_NS = "{http://www.w3.org/2005/Atom}"


def atom_resource_urls(feed_xml: str | bytes) -> list[str]:
    """Enclosure (preferred) or plain href links from all entries, deduped
    order-preserving — the set-dedupe at atom_feed.py:83-103 made
    deterministic. Pass bytes to let the parser honor a non-UTF-8
    encoding declared in the XML prolog. Malformed XML raises ValueError
    (not a raw ET.ParseError — feed bytes are untrusted input)."""
    try:
        root = ET.fromstring(feed_xml)
    except ET.ParseError as exc:
        raise ValueError(f"malformed Atom feed: {exc}") from exc
    seen: dict[str, None] = {}
    for entry in root.iter(f"{_ATOM_NS}entry"):
        links = list(entry.iter(f"{_ATOM_NS}link"))
        enclosures = [l for l in links if l.get("rel") == "enclosure"]
        for link in enclosures or links:
            href = link.get("href")
            if href:
                seen.setdefault(href)
    return list(seen)


def requests_transport(
    session_factory: Callable[[], Any] | None = None,
    retry_policy: Any | None = None,
    breaker: Any | None = None,
):
    """Production Transport over `requests` wrapped with resilience; built
    lazily so the engine imports without the dependency."""
    import requests  # deferred: optional at import time

    from etl_pipeline_spark.utils.resilience import RetryPolicy, retry_call

    session = (session_factory or requests.Session)()
    policy = retry_policy or RetryPolicy()

    class _RequestsTransport:
        def get_json(self, url: str, params: dict | None = None) -> dict:
            def _do():
                r = session.get(url, params=params, timeout=30)
                r.raise_for_status()
                return r.json()

            call = (lambda: breaker.call(_do)) if breaker else _do
            return retry_call(call, policy, recoverable=(requests.RequestException,))

        def head_headers(self, url: str) -> dict[str, str]:
            r = session.head(url, timeout=30, allow_redirects=True)
            return dict(r.headers)

        def get_stream(self, url: str):
            def _open():
                r = session.get(url, stream=True, timeout=60)
                r.raise_for_status()
                return r

            call = (lambda: breaker.call(_open)) if breaker else _open
            resp = retry_call(call, policy, recoverable=(requests.RequestException,))
            with resp:
                yield from resp.iter_content(DOWNLOAD_CHUNK)

    return _RequestsTransport()
