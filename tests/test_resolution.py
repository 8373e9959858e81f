"""``resolve_users`` over every combination of present sources, built
from the fixture rows (tests/fixtures.py): mendeley yields 4 profiles
from 5 parseable rows, gym 2 new profiles from 4 rows (row 0 matches
mendeley row 0) or 3 when mendeley is absent, Fitbit 2 device ids."""

import itertools

import pytest
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.config import PipelineConfig
from fitness_nutrition_data_pipeline_spark.operators.resolution import (
    PROFILE_COLUMNS,
    resolve_users,
)
from fitness_nutrition_data_pipeline_spark.sources.fitness import extract_all

from tests import fixtures as FX

SOURCES = ("mendeley", "gym", "fitbit")
MAPPED_ROWS = {"mendeley": 5, "gym": 4, "fitbit": 2}


@pytest.fixture(scope="module")
def inputs(spark, tmp_path_factory):
    data_dir = FX.write_fixtures(str(tmp_path_factory.mktemp("resolution")))
    cfg = PipelineConfig(data_dir=data_dir, fitbit_dir=f"{data_dir}/fitbit")
    sources = extract_all(spark, cfg)
    ids = [df.select("Id") for df in sources["fitbit"].values() if "Id" in df.columns]
    fitbit_ids = ids[0]
    for df in ids[1:]:
        fitbit_ids = fitbit_ids.unionByName(df)
    return {
        "mendeley": sources["mendeley_health"],
        "gym": sources["gym_members"],
        "fitbit": fitbit_ids,
    }


def _users(present: set[str]) -> dict[str, int]:
    gym = 2 if "mendeley" in present else 3
    return {
        s: n
        for s, n in (("mendeley", 4), ("gym", gym), ("fitbit", 2))
        if s in present
    }


@pytest.mark.parametrize(
    "present",
    [
        set(c)
        for r in range(1, 4)
        for c in itertools.combinations(SOURCES, r)
    ],
    ids=lambda p: "+".join(s for s in SOURCES if s in p),
)
def test_source_combinations(inputs, present):
    staging, mapping = resolve_users(
        *(inputs[s] if s in present else None for s in SOURCES)
    )
    users = _users(present)
    rows = sorted(staging.select("UserKey", "Source").collect())
    assert [r.UserKey for r in rows] == list(range(1, sum(users.values()) + 1))
    assert [r.Source for r in rows] == [s for s, n in users.items() for _ in range(n)]

    keys = {(r.source, r.original_id): r.user_key for r in mapping.collect()}
    assert mapping.count() == len(keys) == sum(MAPPED_ROWS[s] for s in present)
    source_of = dict(rows)
    if "gym" in present:
        gym_first = keys[("gym", "0")]
        if "mendeley" in present:
            assert gym_first == keys[("mendeley", "0")]
        else:
            assert source_of[gym_first] == "gym"


def test_no_sources(spark):
    staging, mapping = resolve_users(None, None, None)
    assert staging.columns == PROFILE_COLUMNS
    assert mapping.columns == ["source", "original_id", "user_key"]
    assert staging.count() == 0 and mapping.count() == 0
