"""Pipeline orchestrator (SURVEY §3.1) — the reference's
``run_full_etl_pipeline`` skeleton (main_etl_pipeline.py:947-976) with the
eager pandas stages replaced by lazy DataFrame DAGs materialized per
output table at load time.

Stage map:
  extract  → sources/fitness.extract_all          (:956-959)
  transform→ resolution + dimensions + bridges + facts (:961-962)
  load     → load.load_warehouse (parquet ≙ MySQL) (:964-966)
  validate → validation.validate_warehouse         (:968-969)
  report   → report.write_report                   (:970)

transform() pins user resolution (staging and mapping) as flat
``localCheckpoint`` pins before it declares any dimension, bridge or
fact, so those are declared over ``LogicalRDD`` leaves, a resolution
failure raises before any builder runs, and the builders' plans run
inside load's writes. Resolution's own pins under staging and mapping
are released as soon as those two are pinned. Only the dimensions are
cached.

Release contract: ``run()`` is a one-shot batch job. When it returns, or
raises, it has released everything it cached or pinned: the dimensions'
cache entries, the staging and mapping pins, and the pins of the sources
it extracted itself. Sources a caller passed in stay pinned and usable.
Afterwards ``staging``/``mapping`` are None and ``warehouse`` is empty,
so no frame over a released pin is handed out; the written tables and
the report are the run's results. If the release itself fails after a
failed run, that failure is logged and the run's own error is raised.
The stage methods (``extract()``, ``transform()``, ``load()``) release
nothing they hand out: a caller that drives them one by one owns what
they pin. Only resolution's intermediates under staging and mapping
are dropped on the way.
"""

from __future__ import annotations

import logging

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from fitness_nutrition_data_pipeline_spark.config import PipelineConfig
from fitness_nutrition_data_pipeline_spark.load import load_warehouse
from fitness_nutrition_data_pipeline_spark.operators.resolution import resolve_users
from fitness_nutrition_data_pipeline_spark.parallel import declare_parallel
from fitness_nutrition_data_pipeline_spark.pins import unpin
from fitness_nutrition_data_pipeline_spark.plans.bridges import build_bridges
from fitness_nutrition_data_pipeline_spark.plans.dimensions import build_dimensions
from fitness_nutrition_data_pipeline_spark.plans.facts import build_facts
from fitness_nutrition_data_pipeline_spark.report import build_report, write_report
from fitness_nutrition_data_pipeline_spark.sources.fitness import extract_all
from fitness_nutrition_data_pipeline_spark.validation import validate_warehouse

logger = logging.getLogger(__name__)


class FitnessWarehousePipeline:
    def __init__(self, spark: SparkSession, cfg: PipelineConfig | None = None):
        self.spark = spark
        self.cfg = cfg or PipelineConfig()
        self.sources: dict[str, object] = {}
        self.staging: DataFrame | None = None
        self.mapping: DataFrame | None = None
        self.warehouse: dict[str, DataFrame] = {}
        self._cached: list[DataFrame] = []  # the dims this object cached

    # -- stages ------------------------------------------------------------

    def extract(self, sources: dict[str, object] | None = None) -> dict[str, object]:
        self.sources = sources if sources is not None else extract_all(self.spark, self.cfg)
        return self.sources

    def transform(self) -> dict[str, DataFrame]:
        fitbit = self.sources.get("fitbit") or {}
        fitbit_ids: DataFrame | None = None
        for df in fitbit.values():
            if "Id" in df.columns:
                ids = df.select("Id")
                fitbit_ids = ids if fitbit_ids is None else fitbit_ids.unionByName(ids)

        staging, mapping = resolve_users(
            self.sources.get("mendeley_health"),
            self.sources.get("gym_members"),
            fitbit_ids,
            self.cfg,
        )
        pins = declare_parallel(
            [("staging", staging.localCheckpoint), ("mapping", mapping.localCheckpoint)]
        )
        self.staging, self.mapping = pins["staging"], pins["mapping"]
        unpin([staging, mapping], keep=_frames(self.sources))
        dims = build_dimensions(
            self.spark, self.staging, self.sources.get("nutrition"), self.cfg
        )
        # Cache every dimension (each has 2-4 consumers: its own write,
        # bridges, fact key-resolution joins, the nutrition-log count) but
        # do not prime them: a dim is one short job over the pinned
        # staging, so load()'s concurrent writes build it. Over a flat
        # staging each .cache() call returns in under 0.1 s. A dim whose
        # plan is already cached (Dim_WorkoutType shares Dim_FitnessType's;
        # Dim_Date's is the same in every run) uses that entry and is not
        # this run's to release.
        for df in dims.values():
            if df.storageLevel == StorageLevel.NONE:
                df.cache()
                self._cached.append(df)
        # bridges and facts both consume dims but not each other
        built = declare_parallel(
            [
                ("bridges", lambda: build_bridges(self.staging, dims)),
                ("facts", lambda: build_facts(
                    self.spark, self.sources, self.staging, self.mapping, dims, self.cfg
                )),
            ]
        )
        self.warehouse = {**dims, **built["bridges"], **built["facts"]}
        return self.warehouse

    def load(self) -> dict[str, str]:
        return load_warehouse(self.spark, self.warehouse, self.cfg.warehouse_dir)

    def validate(self):
        return validate_warehouse(self.spark)

    # -- end-to-end --------------------------------------------------------

    def run(self, sources: dict[str, object] | None = None) -> dict:
        try:
            self.extract(sources)
            self.transform()
            self.load()
            results = self.validate()
            n_mapped = self.mapping.count() if self.mapping is not None else 0
            report = build_report(results, list(self.sources.keys()), n_mapped)
            write_report(report, self.cfg.output_dir)
        except BaseException:
            # a release error (e.g. py4j after a JVM failure) must not
            # replace the run's own
            try:
                self._release(sources)
            except Exception:  # noqa: BLE001
                logger.warning("release after a failed run failed", exc_info=True)
            raise
        self._release(sources)
        logger.info(
            "ETL complete | records: %s | score: %.1f/100",
            report["total_records"],
            report["validation"]["quality_score"],
        )
        return report

    def _release(self, caller_sources: dict[str, object] | None) -> None:
        """Drop what this object cached and pinned, except the pins of
        ``caller_sources`` (module docstring: release contract)."""
        for df in self._cached:
            df.unpersist(blocking=True)
        frames = [self.staging, self.mapping, *self.warehouse.values()]
        unpin(
            [df for df in frames if df is not None] + _frames(self.sources),
            keep=_frames(caller_sources or {}),
        )
        self._cached = []
        self.staging = self.mapping = None
        self.warehouse = {}
        if caller_sources is None:
            self.sources = {}


def _frames(sources: dict[str, object]) -> list[DataFrame]:
    """Every frame of a sources dict (the Fitbit entry is a dict)."""
    out: list[DataFrame] = []
    for src in sources.values():
        out.extend(src.values() if isinstance(src, dict) else [src])
    return out
