"""extract_all over xlsx-only inputs: the fixture's mendeley and nutrition
tables written as xlsx with no CSV sibling, so both sheets go through the
native parser and the pooled DataFrame builds."""

import csv
import logging
import os
import threading
import zipfile
from xml.sax.saxutils import escape

import pytest

from fitness_nutrition_data_pipeline_spark.config import PipelineConfig
from fitness_nutrition_data_pipeline_spark.sources import fitness, xlsx

from tests import fixtures as FX

XLSX_SOURCES = {
    "mendeley_health": "gym_recommendation",
    "nutrition": "nutrition",
}


def _write_xlsx(path: str, rows: list[list[str]]) -> None:
    """Minimal one-sheet workbook: every cell an inline string, written
    in column order without r= refs (blank text reads back as NULL)."""
    body = "".join(
        "<row>"
        + "".join(f'<c t="inlineStr"><is><t>{escape(v)}</t></is></c>' for v in row)
        + "</row>"
        for row in rows
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("xl/workbook.xml", "<workbook/>")
        z.writestr(
            "xl/worksheets/sheet1.xml",
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            f"<sheetData>{body}</sheetData></worksheet>",
        )


def _fixture_dir(base: str, *, as_xlsx: bool) -> str:
    data_dir = FX.write_fixtures(base)
    if as_xlsx:
        for stem in XLSX_SOURCES.values():
            csv_path = os.path.join(data_dir, stem + ".csv")
            with open(csv_path, newline="") as f:
                _write_xlsx(os.path.join(data_dir, stem + ".xlsx"), list(csv.reader(f)))
            os.remove(csv_path)
    return data_dir


def _extract(spark, data_dir: str) -> dict:
    cfg = PipelineConfig(data_dir=data_dir, fitbit_dir=f"{data_dir}/fitbit")
    return fitness.extract_all(spark, cfg)


def _table(df):
    return df.columns, sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.fixture()
def parse_calls(monkeypatch):
    """Every sheet parse, as (file name, parsed on the main thread)."""
    calls = []
    orig = xlsx._load_shared_and_sheet

    def counting(path):
        on_main = threading.current_thread() is threading.main_thread()
        calls.append((os.path.basename(path), on_main))
        return orig(path)

    monkeypatch.setattr(xlsx, "_load_shared_and_sheet", counting)
    return calls


def test_xlsx_only_extract_matches_csv_siblings(spark, tmp_path, parse_calls):
    from_csv = _extract(spark, _fixture_dir(str(tmp_path / "csv"), as_xlsx=False))
    assert parse_calls == []
    from_xlsx = _extract(spark, _fixture_dir(str(tmp_path / "xlsx"), as_xlsx=True))

    assert list(from_xlsx) == list(from_csv)
    for name in XLSX_SOURCES:
        assert _table(from_xlsx[name]) == _table(from_csv[name])
    # each sheet parsed once, on the calling thread; the pooled tasks
    # received the rows instead of parsing again
    assert sorted(parse_calls) == [
        ("gym_recommendation.xlsx", True),
        ("nutrition.xlsx", True),
    ]


def test_unreadable_sheet_drops_only_its_source(spark, tmp_path, parse_calls, caplog):
    data_dir = _fixture_dir(str(tmp_path / "bad"), as_xlsx=True)
    with open(os.path.join(data_dir, "gym_recommendation.xlsx"), "wb") as f:
        f.write(b"not a zip archive")

    with caplog.at_level(logging.WARNING):
        got = _extract(spark, data_dir)

    assert "mendeley_health" not in got
    assert {"fitbit", "gym_members", "nutrition"} <= set(got)
    assert got["nutrition"].count() == 5
    assert sorted(name for name, _ in parse_calls) == [
        "gym_recommendation.xlsx",
        "nutrition.xlsx",
    ]
    tracebacks = [r for r in caplog.records if r.exc_info]
    assert len(tracebacks) == 1
    assert "gym_recommendation.xlsx" in tracebacks[0].getMessage()
