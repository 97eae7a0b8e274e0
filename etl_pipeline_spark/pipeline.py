"""The four-phase pipeline orchestrator — the `run_etl.py` analog
(SURVEY.md §3.1), Spark-first.

Reference lifecycle: cleanup → download → stage → geoprocess → SDE load
(etl/pipeline.py:34-406). Here:

- **fetch** stays driver-side (network-bound; S-operators with
  retry/breaker), writing an idempotent JSON landing zone;
- **stage / transform / load** are one lazy DataFrame DAG per source —
  read → normalize → (clip/reproject) → sanitize names → write-mode sink —
  planned by Catalyst, parallelized by executors. No per-phase
  materialization: the "phases" are plan stages, not disk round-trips
  (the reference's FileGDB hop disappears).
- per-source failures are contained (continue_on_failure semantics of the
  recovery manager, etl/utils/recovery.py:70-200) and recorded in the
  RunSummary, which is itself queryable as a DataFrame.

The transform phase applies, when configured: bbox clip (points: pushed
range predicate; polygons: exact Sutherland–Hodgman), reprojection
(EPSG:4326→3006 by default, Spark SQL math), and fc-name generation via the
naming kernel. Staging a GeoJSON source fires no job (its schema is
inferred on the driver), so a point source's run is one job, its write,
which runs only in the JVM; the sink counts the rows it writes inside that
job, and the run records them per feature class in ``RunSummary.rows_out``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_spark.functions.geo import bbox_filter, reproject
from etl_pipeline_spark.functions.naming import generate_fc_name_py
from etl_pipeline_spark.sinks.writers import LoadReport, append, replace, truncate_and_load
import urllib.parse

from etl_pipeline_spark.sources.fetchers import (
    OgcApiFetcher,
    RestApiFetcher,
    Transport,
    atom_resource_urls,
    download_file,
    fetch_bytes,
)
from etl_pipeline_spark.sources.registry import SourceConfig
from etl_pipeline_spark.sources.staging import stage_path
from etl_pipeline_spark.utils.metrics import PhaseTimer, RunSummary


@dataclass
class PipelineConfig:
    landing_dir: str
    staging_db: str = "staging"
    production_db: str = "prod"
    aoi_bbox: tuple[float, float, float, float] | None = None  # in source CRS
    target_epsg: int | None = 3006
    load_strategy: str = "truncate_and_load"  # | replace | append


@dataclass
class Pipeline:
    spark: SparkSession
    config: PipelineConfig
    transport: Transport | None = None
    summary: RunSummary = field(default_factory=RunSummary)

    # ---------------------------------------------------------------- fetch
    def fetch(self, source: SourceConfig) -> list[str]:
        """Phase 1: driver-side fetch into the landing zone; returns staged
        file paths. Every member of sources.registry.VALID_TYPES dispatches:
        remote file sources stream through the chunked idempotent download
        (S1); atom feeds resolve enclosure URLs then download each resource
        (S11, reference etl/handlers/atom_feed.py:34-263)."""
        if source.type == "rest_api":
            fetcher = RestApiFetcher(self.transport, source.url)
            out = fetcher.fetch_all(self.config.landing_dir, source.name)
            return [str(p) for p in out.values()]
        if source.type == "ogc_api":
            fetcher = OgcApiFetcher(self.transport, source.url, include=source.include)
            out, _missing = fetcher.fetch_all(self.config.landing_dir, source.name)
            return [str(p) for p in out.values()]
        if source.type == "file":
            if source.url.startswith(("http://", "https://")):
                return [str(download_file(self.transport, source.url, self.config.landing_dir))]
            return [source.url]  # already local
        if source.type == "atom_feed":
            feed_xml = fetch_bytes(self.transport, source.url)
            return [
                # resolve relative enclosure hrefs against the feed URL
                # (legal per RFC 4287) before downloading
                str(
                    download_file(
                        self.transport,
                        urllib.parse.urljoin(source.url, u),
                        self.config.landing_dir,
                    )
                )
                for u in atom_resource_urls(feed_xml)
            ]
        raise ValueError(f"unsupported source type {source.type!r}")

    # ---------------------------------------------------------------- stage
    def stage(self, source: SourceConfig, paths: list[str]) -> dict[str, DataFrame]:
        """Phase 2: payloads → named DataFrames (format dispatch)."""
        staged: dict[str, DataFrame] = {}
        for p in paths:
            staged.update(
                stage_path(self.spark, p, source.staged_data_type, source.include)
            )
        return staged

    # ------------------------------------------------------------ transform
    def transform(self, source: SourceConfig, name: str, df: DataFrame) -> tuple[str, DataFrame]:
        """Phase 3: clip + reproject (when x/y present) and fc-name the
        output — all column expressions, one plan with staging."""
        out = df
        if self.config.aoi_bbox and "x" in out.columns and "y" in out.columns:
            out = bbox_filter(out, "x", "y", self.config.aoi_bbox)
        if self.config.target_epsg and "x" in out.columns and "y" in out.columns:
            out = reproject(out, "x", "y", 4326, self.config.target_epsg)
        # config-sized value → driver-side pure-Python twin of the naming
        # kernel (property-tested equal to the Column version); no Spark
        # job is scheduled for name generation
        return generate_fc_name_py(source.authority, name), out

    # ----------------------------------------------------------------- load
    def load(self, fc_name: str, df: DataFrame) -> LoadReport:
        """Phase 4: write-mode dispatch into the production namespace."""
        table = f"{self.config.production_db}.{fc_name}"
        strategy = {
            "truncate_and_load": truncate_and_load,
            "replace": replace,
            "append": append,
        }[self.config.load_strategy]
        return strategy(df, table)

    # ------------------------------------------------------------------ run
    def run(self, sources: list[SourceConfig]) -> RunSummary:
        """Run every enabled source through fetch → stage → transform → load.

        Teardown contract: on exit this releases every relation the run's
        session memoized via ``utils.session_cache`` (shingle tables, graph
        edge sets, ANN index artifacts). A long-lived service embedding the
        package gets bounded executor storage and a bounded driver-side
        registry for free; short-lived bench/driver processes are unchanged
        (their blocks die with the session anyway). Callers that want to
        keep the memos warm across runs should call the plan functions
        directly rather than going through ``run``.
        """
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {self.config.production_db}")
        try:
            self._run_sources(sources)
        finally:
            from etl_pipeline_spark.utils.session_cache import clear_caches

            clear_caches(self.spark)
        return self.summary

    def _run_sources(self, sources: list[SourceConfig]) -> None:
        for src in sources:
            if not src.enabled:
                self.summary.log("download", src.name, "skip")
                continue
            try:
                with PhaseTimer(self.summary, "download", src.name):
                    paths = self.fetch(src)
                staged = self.stage(src, paths)
                for name, df in staged.items():
                    try:
                        with PhaseTimer(self.summary, "load", f"{src.name}/{name}"):
                            fc, out = self.transform(src, name, df)
                            report = self.load(fc, out)
                        self.summary.rows_out[(src.name, fc)] = report.rows
                    except Exception:
                        # per-FC containment: one bad feature class doesn't
                        # kill the source (recovery-manager semantics)
                        continue
            except Exception:
                # PhaseTimer already recorded the error; continue_on_failure
                continue
