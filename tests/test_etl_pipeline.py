"""End-to-end warehouse tests on the FIXTURES.md-shaped synthetic inputs.

Goldens are hand-derived in tests/fixtures.py; quirk assertions pin the
reference's silent behaviors (SURVEY §1.3) that the engine must reproduce
in quirks mode.
"""

import glob
import hashlib
import os

import pytest
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.config import PipelineConfig
from fitness_nutrition_data_pipeline_spark.pipeline import FitnessWarehousePipeline

from tests import fixtures as FX


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("etl"))
    data_dir = FX.write_fixtures(base)
    cfg = PipelineConfig(
        data_dir=data_dir,
        fitbit_dir=f"{data_dir}/fitbit",
        warehouse_dir=f"{base}/warehouse",
        output_dir=f"{base}/output",
    )
    p = FitnessWarehousePipeline(spark, cfg)
    p.extract()
    p.transform()
    paths = p.load()
    # rebind the warehouse dict to the parquet load() just wrote: the
    # transform() DataFrames are lazy DAG declarations, so every test
    # that collects from them would otherwise re-run the whole lineage
    # (resolution + dims + facts) per assertion — the written tables
    # hold the identical rows and read back in milliseconds. load()
    # appends write-time surrogate keys to the facts; drop them so the
    # rebound frames keep the transform() schema the tests assert on.
    from fitness_nutrition_data_pipeline_spark.load import FACT_SURROGATES

    for name, path in paths.items():
        df = spark.read.parquet(path)
        if name in FACT_SURROGATES:
            df = df.drop(FACT_SURROGATES[name])
        p.warehouse[name] = df
    return p


def _content_digest(df) -> str:
    """Order-insensitive digest of a table: its column names and the
    sorted ``repr`` of every row."""
    rows = sorted(repr(tuple(r)) for r in df.collect())
    text = "\n".join([",".join(df.columns), *rows])
    return hashlib.sha256(text.encode()).hexdigest()[:16]


# Content of every fixture warehouse table, write-time surrogate keys
# dropped. A refactor of resolution, the builders or the load must leave
# this map unchanged; update it only with a deliberate change of output.
WAREHOUSE_DIGESTS = {
    "Dim_Date": "54ab24938b1a76a6",
    "Dim_User": "c09370b8827b7b09",
    "Dim_FitnessGoal": "d507b5cf67a9a8d9",
    "Dim_FitnessType": "03fb26938fa33147",
    "Dim_HealthCondition": "64595aabf542db6a",
    "Dim_Exercise": "ae47fa6b2a97d970",
    "Dim_Diet": "dc2f9c9d09f17ff5",
    "Dim_FoodItem": "d17bad8b90b051dc",
    "Dim_WorkoutType": "5623ff167ddbdebd",
    "Dim_MetricType": "7e8b5e34636379e0",
    "Dim_MealType": "7fdbe44e24a66bfe",
    "Bridge_User_HealthCondition": "1a555abf48472491",
    "Bridge_User_WorkoutPreference": "778159fe9e3fc933",
    "Bridge_User_DietPreference": "16d32ef4857a712e",
    "Fact_UserSnapshot": "603cda17cb091d7b",
    "Fact_HealthMetric": "c2d382c5d01ac6d8",
    "Fact_WorkoutSession": "008d6e2ca39ff0f8",
    "Fact_NutritionLog": "4f07f2f3cfcc7560",
}


def test_warehouse_content_digests(pipeline):
    got = {name: _content_digest(df) for name, df in pipeline.warehouse.items()}
    assert len(got) == 18
    assert got == WAREHOUSE_DIGESTS


@pytest.mark.parametrize("table", ["Dim_User", "Fact_UserSnapshot"])
def test_user_tables_written_as_one_file(pipeline, table):
    path = os.path.join(pipeline.cfg.warehouse_dir, table.lower())
    assert len(glob.glob(os.path.join(path, "part-*.parquet"))) == 1


def test_sources_extracted(pipeline):
    assert set(pipeline.sources) == {"fitbit", "gym_members", "mendeley_health", "nutrition"}
    assert set(pipeline.sources["fitbit"]) == {
        "daily_activity", "heartrate", "hourly_calories", "weight_log", "sleep_minutes"
    }


def test_resolution_goldens(pipeline):
    assert pipeline.staging.count() == FX.EXPECTED_USERS
    assert pipeline.mapping.count() == FX.EXPECTED_MAPPING
    # dense keys 1..N
    keys = sorted(r.UserKey for r in pipeline.staging.select("UserKey").collect())
    assert keys == list(range(1, FX.EXPECTED_USERS + 1))
    # priority order: mendeley block first, then gym, then fitbit
    by_key = {r.UserKey: r.Source for r in pipeline.staging.collect()}
    assert [by_key[k] for k in keys] == ["mendeley"] * 4 + ["gym"] * 2 + ["fitbit"] * 2


def test_cross_source_match(pipeline):
    """Gym row 0 (25/male/1.68/47.5) must link to the mendeley user, not
    create a new one (main_etl_pipeline.py:253-257)."""
    m = pipeline.mapping
    mendeley_first = m.where((F.col("source") == "mendeley") & (F.col("original_id") == "0"))
    gym_first = m.where((F.col("source") == "gym") & (F.col("original_id") == "0"))
    assert mendeley_first.first().user_key == gym_first.first().user_key
    # in-source duplicate: mendeley idx2 == idx0
    dup = m.where((F.col("source") == "mendeley") & (F.col("original_id") == "2"))
    assert dup.first().user_key == mendeley_first.first().user_key


def test_mendeley_bmi_nullout(pipeline):
    u3 = pipeline.staging.where(
        (F.col("Source") == "mendeley") & (F.col("Age") == 40)
    ).first()
    assert u3.BMI is None  # 70.0 outside (10,60)
    assert u3.HealthConditions == "hypertension"


def test_quirk_mendeley_goal_defaults(pipeline):
    """Reference reads row['fitness_goals'] which doesn't exist → every
    mendeley user gets maintain_health (main_etl_pipeline.py:221)."""
    goals = (
        pipeline.staging.where(F.col("Source") == "mendeley")
        .select("FitnessGoal").distinct().collect()
    )
    assert [g.FitnessGoal for g in goals] == ["maintain_health"]
    # and WorkoutPreference is NULL → mendeley exercises never reach Dim_Exercise
    prefs = pipeline.staging.where(
        (F.col("Source") == "mendeley") & F.col("WorkoutPreference").isNotNull()
    )
    assert prefs.count() == 0


def test_dim_counts(pipeline):
    wh = pipeline.warehouse
    assert wh["Dim_Date"].count() == 3653  # 2016-01-01..2025-12-31
    assert wh["Dim_User"].count() == FX.EXPECTED_USERS
    assert wh["Dim_FoodItem"].count() == FX.EXPECTED_FOOD_ITEMS
    # quirk: Dim_FoodItem materializes ONLY FoodName/calories/protein/fiber
    assert wh["Dim_FoodItem"].columns == ["FoodKey", "FoodName", "calories", "protein", "fiber"]
    # goals in first-seen order: maintain_health, endurance, build_muscle
    goals = {r.GoalName: r.GoalKey for r in wh["Dim_FitnessGoal"].collect()}
    assert goals == {"maintain_health": 1, "endurance": 2, "build_muscle": 3}
    assert wh["Dim_MetricType"].count() == 4
    assert wh["Dim_MealType"].count() == 4
    # blob dim from gym only (quirks): cardio + strength
    assert {r.ExerciseName for r in wh["Dim_Exercise"].collect()} == {"cardio", "strength"}


def test_food_item_coercion(pipeline):
    foods = {r.FoodName: r for r in pipeline.warehouse["Dim_FoodItem"].collect()}
    assert foods["Cornstarch"].protein == 0.26
    assert foods["Rice"].calories == 130.0  # first occurrence wins
    assert foods["Mystery"].calories is None  # coerce failure → NULL


def test_fact_workout_session(pipeline):
    ws = pipeline.warehouse["Fact_WorkoutSession"]
    rows = ws.collect()
    assert len(rows) == FX.EXPECTED_WORKOUT_SESSIONS
    # quirk: WorkoutTypeKey = lookup('mixed') → NULL
    assert all(r.WorkoutTypeKey is None for r in rows)
    first = ws.where(F.col("DateKey") == 20160325).first()
    assert first.ActiveMinutes == 45 and first.CaloriesBurned == 1819
    assert abs(first.DurationHours - 0.75) < 1e-9


def test_fact_health_metric(pipeline):
    hm = pipeline.warehouse["Fact_HealthMetric"]
    by_type = {r.MetricTypeKey: r.cnt for r in hm.groupBy("MetricTypeKey").agg(F.count("*").alias("cnt")).collect()}
    assert by_type[2] == FX.EXPECTED_SLEEP_METRICS
    assert by_type[1] == FX.EXPECTED_HR_METRICS
    assert by_type[3] + by_type[4] == FX.EXPECTED_WEIGHT_METRICS
    # sleep sum: 3 minutes / 60
    sleep = hm.where((F.col("MetricTypeKey") == 2) & (F.col("DateKey") == 20160313)).first()
    assert abs(sleep.Value - 0.05) < 1e-9 and sleep.Unit == "hours"
    # heart-rate daily mean
    hr = hm.where((F.col("MetricTypeKey") == 1) & (F.col("DateKey") == 20160401)).first()
    assert hr.Value == 95.0 and hr.Unit == "bpm"
    # out-of-range BMI row (70.0) → NULL value, row kept
    bmis = {r.DateKey: r.Value for r in hm.where(F.col("MetricTypeKey") == 4).collect()}
    assert bmis[20160405] == 22.97 and bmis[20160406] is None


def test_fact_nutrition_log_deterministic(pipeline, spark):
    nl = pipeline.warehouse["Fact_NutritionLog"]
    rows1 = sorted(map(tuple, nl.collect()))
    assert len(rows1) > 0
    # re-derive → identical (seeded; the reference is np.random-unseeded)
    from fitness_nutrition_data_pipeline_spark.plans.facts import build_fact_nutrition_log

    nl2 = build_fact_nutrition_log(
        spark, pipeline.staging, pipeline.warehouse, pipeline.cfg
    )
    assert sorted(map(tuple, nl2.collect())) == rows1
    # totals: carbs/fats columns absent → always 0 (quirk, main_etl_pipeline.py:690-691)
    assert nl.where((F.col("TotalCarbs") != 0) | (F.col("TotalFats") != 0)).count() == 0


def test_validation_score_100(pipeline):
    results = pipeline.validate()
    assert results.table_counts["Dim_User"] == FX.EXPECTED_USERS
    assert results.issues == []
    assert results.quality_score == 100.0
    assert results.checks_run >= 40  # inventory of the corpus


def test_full_run_report(pipeline, spark, tmp_path_factory):
    # fresh warehouse/output dirs: re-running .run() against the fixture's
    # cfg would OVERWRITE the warehouse the rebound fixture frames read
    # from, invalidating their cached file listings for later tests
    import dataclasses

    base = str(tmp_path_factory.mktemp("rerun"))
    cfg = dataclasses.replace(
        pipeline.cfg,
        warehouse_dir=f"{base}/warehouse",
        output_dir=f"{base}/output",
    )
    report = FitnessWarehousePipeline(spark, cfg).run(pipeline.sources)
    assert report["total_users_mapped"] == FX.EXPECTED_MAPPING
    assert report["validation"]["quality_score"] == 100.0
    assert report["table_counts"]["Dim_Date"] == 3653


def test_registered_views_keep_inferred_schema(pipeline, spark, tmp_path_factory):
    """load() registers each view with the schema it wrote instead of
    inferring it back from the files; the two must agree."""
    from fitness_nutrition_data_pipeline_spark.load import load_warehouse

    base = str(tmp_path_factory.mktemp("viewwh"))
    paths = load_warehouse(spark, pipeline.warehouse, base)
    assert len(paths) == 18
    for name, path in paths.items():
        assert spark.table(name).schema == spark.read.parquet(path).schema, name


def test_storage_layout_inventory(pipeline, spark, tmp_path_factory):
    """The layout-inventory validation family (≙ validation.sql:397-404's
    index inventory): the warehouse writes every table unpartitioned, and
    the inventory must report each one that way."""
    base = str(tmp_path_factory.mktemp("layoutwh"))
    from fitness_nutrition_data_pipeline_spark.load import load_warehouse
    from fitness_nutrition_data_pipeline_spark.validation import (
        storage_layout_inventory,
    )

    paths = load_warehouse(spark, pipeline.warehouse, base)
    inv = {r["table"]: r for r in storage_layout_inventory(spark, paths)}
    for t in paths:
        assert inv[t]["layout"] == "unpartitioned", t
        assert inv[t]["layout_columns"] == "", t


def test_load_failure_drops_registered_views(spark, tmp_path):
    """ADVICE r12 #3: temp views register on load_warehouse's writer
    threads, so one failing write must not leave a caller that catches
    the exception with a partially-populated catalog — the error path
    drops every view this call could have registered."""
    import pytest as _pytest

    from fitness_nutrition_data_pipeline_spark.load import load_warehouse

    good = spark.range(3).toDF("DateKey")
    # fails at ACTION time (after sibling writes may have registered)
    bad = spark.range(1).select(
        F.assert_true(F.col("id") > 100).alias("x"), F.col("id")
    )
    with _pytest.raises(Exception):
        load_warehouse(
            spark,
            {"Dim_Date": good, "Dim_User": bad},
            str(tmp_path / "wh"),
        )
    assert not spark.catalog.tableExists("Dim_Date")
    assert not spark.catalog.tableExists("Dim_User")

    # and a clean retry on the same session repopulates normally
    paths = load_warehouse(
        spark,
        {"Dim_Date": good, "Dim_User": spark.range(2).toDF("UserKey")},
        str(tmp_path / "wh2"),
    )
    assert set(paths) == {"Dim_Date", "Dim_User"}
    assert spark.table("Dim_Date").count() == 3


def test_load_failure_cleanup_waits_for_inflight_writers(spark, tmp_path):
    """ADVICE r13 #1: pool.map raises as soon as the FAILING table's
    result is consumed, while a slower sibling writer may still be
    running — the cleanup must join all in-flight writers before
    sweeping the catalog, or the sibling re-registers its view AFTER
    the sweep and a catching-and-retrying caller observes the
    partially-populated catalog anyway. The failing table comes FIRST
    in LOAD_ORDER here (the r12 regression test had it last, which
    masked the race)."""
    import time

    import pytest as _pytest

    from fitness_nutrition_data_pipeline_spark.load import load_warehouse

    # Dim_Date precedes Dim_User in LOAD_ORDER, so pool.map consumes the
    # failing result first — while the slow sibling is still asleep
    bad = spark.range(1).select(
        F.assert_true(F.col("id") > 100).alias("x"), F.col("id")
    ).toDF("DateKey", "id")

    def _slow(batches):
        time.sleep(1.5)
        yield from batches

    slow_good = spark.range(3).toDF("UserKey").mapInPandas(
        _slow, "UserKey long"
    )
    with _pytest.raises(Exception):
        load_warehouse(
            spark,
            {"Dim_Date": bad, "Dim_User": slow_good},
            str(tmp_path / "wh"),
        )
    # the slow writer finished (and registered) BEFORE the sweep — both
    # views must be gone, with no straggler re-registration to come
    time.sleep(0.2)
    assert not spark.catalog.tableExists("Dim_Date")
    assert not spark.catalog.tableExists("Dim_User")


def _leaves(df) -> list[str]:
    """Node names of the leaves of ``df``'s analyzed plan (before any
    cache substitution: the fixture pipeline has cached equal plans)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.size())]


def test_literal_frames_are_local_relations(pipeline, spark):
    """The ETL's literal frames (the two static dims, the meal-log spec)
    are local relations, planned as ``LocalTableScan``. A Python list, or
    Arrow's silent fallback to the Python path, would be a ``LogicalRDD``
    (``Scan ExistingRDD``): a parallelized RDD whose first scan forks
    Python workers."""
    from fitness_nutrition_data_pipeline_spark.plans.dimensions import build_static_dims
    from fitness_nutrition_data_pipeline_spark.plans.facts import build_fact_nutrition_log

    for df in build_static_dims(spark).values():
        assert _leaves(df) == ["LocalRelation"]
    log = build_fact_nutrition_log(spark, pipeline.staging, pipeline.warehouse, pipeline.cfg)
    leaves = _leaves(log)
    assert "LocalRelation" in leaves
    assert "LogicalRDD" not in leaves
