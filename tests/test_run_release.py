"""``FitnessWarehousePipeline.run()`` gives back what it holds.

A run caches the dimensions and pins its sources, resolution, staging and
mapping (``localCheckpoint``). When ``run()`` returns, or raises, every
one of those is released, except the pins of sources the caller passed
in. Inputs are the fixture's xlsx-only variant, so the sources are pinned
sheets too.

The persisted-RDD checks compare sets of RDD ids, not counts: in a shared
test session the context cleaner may unpersist another test's garbage
while a run is in flight, which lowers the count without any fault here.
"""

import pytest

from fitness_nutrition_data_pipeline_spark import pipeline as P
from fitness_nutrition_data_pipeline_spark.config import PipelineConfig
from fitness_nutrition_data_pipeline_spark.pins import pinned_rdds
from fitness_nutrition_data_pipeline_spark.sources.fitness import extract_all

from tests.test_extract_xlsx import _fixture_dir


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    return _fixture_dir(str(tmp_path_factory.mktemp("release")), as_xlsx=True)


def _cfg(data_dir, tmp_path, tag):
    return PipelineConfig(
        data_dir=data_dir,
        fitbit_dir=f"{data_dir}/fitbit",
        warehouse_dir=str(tmp_path / f"wh_{tag}"),
        output_dir=str(tmp_path / f"out_{tag}"),
    )


def _persisted(spark) -> set[int]:
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in rdds.keySet().toArray()}


def _cached(spark, df) -> bool:
    cache = spark._jsparkSession.sharedState().cacheManager()
    return cache.lookupCachedData(df._jdf).isDefined()


@pytest.fixture()
def spy(spark, monkeypatch):
    """The dimensions each run builds, the names of those whose plan
    another user had cached already (Dim_Date's plan is the same in
    every run), and the persisted RDDs seen when each run's load
    starts."""
    seen = {"dims": [], "foreign": [], "at_load": []}
    build = P.build_dimensions

    def build_dimensions(*a):
        dims = build(*a)
        seen["dims"].append(dims)
        seen["foreign"].append({n for n, df in dims.items() if _cached(spark, df)})
        return dims

    load = P.load_warehouse

    def load_warehouse(*a):
        seen["at_load"].append(_persisted(spark))
        return load(*a)

    monkeypatch.setattr(P, "build_dimensions", build_dimensions)
    monkeypatch.setattr(P, "load_warehouse", load_warehouse)
    return seen


def _assert_cache_released(spark, spy, i):
    """The run's dims left no cache entry; entries it found stay."""
    dims, foreign = spy["dims"][i], spy["foreign"][i]
    assert len(dims) == 11
    assert "Dim_User" not in foreign  # over this run's staging
    assert {n for n, df in dims.items() if _cached(spark, df)} == foreign


def test_two_runs_release_everything(spark, data_dir, tmp_path, spy):
    for i in range(2):
        before = _persisted(spark)
        pipe = P.FitnessWarehousePipeline(spark, _cfg(data_dir, tmp_path, i))
        report = pipe.run()
        assert report["validation"]["quality_score"] == 100.0
        # the run did pin: sheets, staging, mapping
        assert spy["at_load"][i] - before
        assert _persisted(spark) <= before
        _assert_cache_released(spark, spy, i)
        # nothing over a released pin is handed out
        assert pipe.staging is None and pipe.mapping is None
        assert pipe.warehouse == {} and pipe.sources == {}


def test_caller_sources_stay_pinned(spark, data_dir, tmp_path, spy):
    sources = extract_all(spark, _cfg(data_dir, tmp_path, "src"))
    frames = [df for name, df in sources.items() if name != "fitbit"]
    source_pins = set(pinned_rdds(frames))
    assert len(source_pins) == 2  # the two sheets
    rows = {name: sorted(map(tuple, sources[name].collect()), key=repr)
            for name in ("mendeley_health", "nutrition")}

    before = _persisted(spark)
    pipe = P.FitnessWarehousePipeline(spark, _cfg(data_dir, tmp_path, "run"))
    pipe.run(sources)

    after = _persisted(spark)
    assert after <= before
    assert source_pins <= after
    assert pipe.sources is sources
    for name, expect in rows.items():
        assert sorted(map(tuple, sources[name].collect()), key=repr) == expect


def test_failed_run_releases(spark, data_dir, tmp_path, spy, monkeypatch):
    def boom(*a):
        raise RuntimeError("validate boom")

    monkeypatch.setattr(P, "validate_warehouse", boom)
    before = _persisted(spark)
    pipe = P.FitnessWarehousePipeline(spark, _cfg(data_dir, tmp_path, "fail"))
    with pytest.raises(RuntimeError, match="validate boom"):
        pipe.run()
    assert spy["at_load"][0] - before
    assert _persisted(spark) <= before
    _assert_cache_released(spark, spy, 0)
    assert pipe.staging is None and pipe.warehouse == {}


def test_release_failure_keeps_the_run_error(spark, data_dir, tmp_path, monkeypatch):
    """A release that raises after a failed run is logged; the caller
    sees the run's own error."""
    def boom(*a):
        raise RuntimeError("resolve boom")

    def release(_):
        raise RuntimeError("release boom")

    monkeypatch.setattr(P, "resolve_users", boom)
    pipe = P.FitnessWarehousePipeline(spark, _cfg(data_dir, tmp_path, "relfail"))
    monkeypatch.setattr(pipe, "_release", release)
    with pytest.raises(RuntimeError, match="resolve boom"):
        pipe.run()
    # drop the sheets this run pinned, so later tests start clean
    P.FitnessWarehousePipeline._release(pipe, None)
