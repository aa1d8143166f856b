"""LabelMakerJob — the reference's one entry point (main.py:66-111), rebuilt
as a lazy Spark plan builder.

Reference three-call protocol -> Spark mapping (SURVEY.md section 3):

- ``build_job()``   : constructed the Dask delayed graph eagerly on the driver
                      (main.py:87-99).  Here it assembles one lazy DataFrame
                      plan — tile generator -> per-tile scan (features +
                      image) -> per-row label — and returns it.
                      ``explain()`` replaces ``dask.visualize``.
- ``n_tiles()``     : len of the driver-side tile list (main.py:101-107).
                      Here: exact arithmetic, no scan, no driver list.
- ``execute_job()`` : ``dask.compute`` gathering all results into client RAM
                      (main.py:109-111) — the reference's scalability cliff.
                      Here: ``execute(path=…)`` writes distributed parquet;
                      ``execute()`` with no path collects (small jobs only,
                      kept for reference parity).

The label⋈image pairing (reference main.py:50-63) needs no join: one
source scan (``sources/tile_scan.py``) fetches each tile's label features
and its image in the same task and emits them as one row, and the label
operators reduce that row's ``features`` array in place (``labels.py``,
per-tile shape).  Like the reference's one Dask task per tile, each tile's
fetch, label and image stay in one Spark task: the plan has no exchange,
no join and no grouped map (segmentation adds a second ``mapInPandas``
over the same rows).
"""

from __future__ import annotations

from typing import Any, Callable, Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from label_maker_dask_spark import labels as L
from label_maker_dask_spark import tiles as T
from label_maker_dask_spark.sources.imagery import image_fetcher_factory
from label_maker_dask_spark.sources.tile_scan import scan_tiles
from label_maker_dask_spark.sources.vector_tiles import tile_fetcher_factory

ML_TYPES = ("classification", "object-detection", "segmentation")


class LabelMakerJob:
    """Parameter-object "query" (reference main.py:69-85) + plan builder."""

    def __init__(
        self,
        spark: SparkSession,
        zoom: int,
        bounds: Sequence[float],
        classes: List[Dict[str, Any]],
        imagery: Optional[str] = None,
        label_source: Optional[str] = None,
        ml_type: str = "classification",
        tile_fetcher: Optional[Callable] = None,
        image_fetcher: Optional[Callable] = None,
    ):
        if ml_type not in ML_TYPES:
            raise ValueError(f"ml_type must be one of {ML_TYPES}, got {ml_type!r}")
        if label_source is None and tile_fetcher is None:
            raise ValueError("provide label_source or tile_fetcher")
        self.spark = spark
        self.zoom = zoom
        self.bounds = list(bounds)
        self.classes = classes
        self.imagery = imagery
        self.label_source = label_source
        self.ml_type = ml_type
        self.tile_fetcher = tile_fetcher
        self.image_fetcher = image_fetcher
        self.plan: Optional[DataFrame] = None
        self.results = None
        self.metrics: Optional[Dict[str, Any]] = None

    # -- plan construction ----------------------------------------------------

    def tiles(self) -> DataFrame:
        return T.tiles_df(self.spark, self.bounds, self.zoom)

    def scan(self) -> DataFrame:
        """One row per tile: ``(z, x, y, features[, image])``."""
        fetch_image = None
        if self.imagery is not None or self.image_fetcher is not None:
            fetch_image = image_fetcher_factory(self.imagery, self.image_fetcher)
        return scan_tiles(
            self.tiles(),
            fetch_labels=tile_fetcher_factory(self.label_source, self.tile_fetcher),
            fetch_image=fetch_image,
        )

    def build_job(self) -> DataFrame:
        """Assemble the full lazy plan: the per-tile scan, labelled row by
        row — ``(z, x, y, label[, image])``."""
        label = {
            "classification": L.classification_labels,
            "object-detection": L.detection_labels,
            "segmentation": L.segmentation_labels,
        }[self.ml_type]
        self.plan = label(self.scan(), self.classes)
        return self.plan

    def explain(self, mode: str = "formatted") -> None:
        """Plan display — the analogue of ``dask.visualize`` (main.py:98-99)."""
        if self.plan is None:
            self.build_job()
        self.plan.explain(mode)

    def n_tiles(self) -> int:
        """Exact tile count from arithmetic (contrast main.py:101-107, which
        needs ``build_job`` to have materialized a list first)."""
        return T.n_tiles(self.bounds, self.zoom)

    # -- execution ------------------------------------------------------------

    def execute_job(self, path: Optional[str] = None, mode: str = "overwrite"):
        """Run the plan.  With ``path``: distributed parquet write (the scale
        path).  Without: collect to the driver (reference-parity convenience
        for small jobs; the reference always gathered, main.py:111).

        Either way, the run records row-level metrics via ``observe``
        (Spark's accumulator-backed observation API — collected DURING
        the action, no second scan): ``self.metrics`` holds
        ``rows_written`` plus, when an imagery column exists,
        ``tiles_with_image`` — the at-a-glance check that a fetcher
        didn't silently return empties for half the job."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        if self.plan is None:
            self.build_job()
        obs = Observation()
        metrics = [F.count(F.lit(1)).alias("rows_written")]
        if "image" in self.plan.columns:
            metrics.append(
                F.count(F.col("image")).alias("tiles_with_image")
            )
        observed = self.plan.observe(obs, *metrics)
        if path is not None:
            observed.write.mode(mode).parquet(path)
            self.metrics = obs.get
            return None
        self.results = observed.collect()
        self.metrics = obs.get
        return self.results
