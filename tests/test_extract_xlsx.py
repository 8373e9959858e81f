"""extract_all over xlsx-only inputs: the fixture's mendeley and nutrition
tables written as xlsx with no CSV sibling, so both sheets go through the
native parser and the pooled DataFrame builds."""

import csv
import json
import logging
import os
import signal
import tempfile
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
def parse_calls(monkeypatch, tmp_path):
    """Reads back every sheet parse, as (file name, parsed on a main
    thread, pid). The parse runs in a forked child, which inherits the
    patch: each call appends one line to a log file."""
    log = tmp_path / "parse_calls.jsonl"
    orig = xlsx._load_shared_and_sheet

    def counting(path):
        on_main = threading.current_thread() is threading.main_thread()
        with open(log, "a") as f:
            f.write(json.dumps([os.path.basename(path), on_main, os.getpid()]) + "\n")
        return orig(path)

    monkeypatch.setattr(xlsx, "_load_shared_and_sheet", counting)

    def read():
        if not log.exists():
            return []
        return [tuple(json.loads(line)) for line in log.read_text().splitlines()]

    return read


@pytest.fixture()
def temp_root(monkeypatch, tmp_path):
    """An empty directory that tempfile uses for the duration of a test."""
    root = tmp_path / "tmp"
    root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(root))
    return root


def _in_one_child(calls) -> bool:
    pids = {pid for _, _, pid in calls}
    return len(pids) == 1 and os.getpid() not in pids


def test_xlsx_only_extract_matches_csv_siblings(spark, tmp_path, parse_calls):
    from_csv = _extract(spark, _fixture_dir(str(tmp_path / "csv"), as_xlsx=False))
    assert parse_calls() == []
    from_xlsx = _extract(spark, _fixture_dir(str(tmp_path / "xlsx"), as_xlsx=True))

    assert list(from_xlsx) == list(from_csv)
    for name in XLSX_SOURCES:
        assert _table(from_xlsx[name]) == _table(from_csv[name])
    # each sheet parsed once, on the main thread of one child process;
    # the pooled tasks scanned the files it wrote instead of parsing
    calls = parse_calls()
    assert sorted((name, on_main) for name, on_main, _ in calls) == [
        ("gym_recommendation.xlsx", True),
        ("nutrition.xlsx", True),
    ]
    assert _in_one_child(calls)


def test_unreadable_sheet_drops_only_its_source(spark, tmp_path, parse_calls, caplog):
    data_dir = _fixture_dir(str(tmp_path / "bad"), as_xlsx=True)
    with open(os.path.join(data_dir, "gym_recommendation.xlsx"), "wb") as f:
        f.write(b"not a zip archive")

    with caplog.at_level(logging.WARNING):
        got = _extract(spark, data_dir)

    assert "mendeley_health" not in got
    assert {"fitbit", "gym_members", "nutrition"} <= set(got)
    assert got["nutrition"].count() == 5
    calls = parse_calls()
    assert sorted(name for name, _, _ in calls) == [
        "gym_recommendation.xlsx",
        "nutrition.xlsx",
    ]
    assert all(on_main for _, on_main, _ in calls)
    assert _in_one_child(calls)
    tracebacks = [r for r in caplog.records if r.exc_info]
    assert len(tracebacks) == 1
    assert "gym_recommendation.xlsx" in tracebacks[0].getMessage()
    # the child's traceback travels with the error
    assert "BadZipFile" in str(tracebacks[0].exc_info[1])


def test_sheet_files_removed_once_pinned(spark, tmp_path, temp_root):
    got = _extract(spark, _fixture_dir(str(tmp_path / "x"), as_xlsx=True))

    assert list(temp_root.iterdir()) == []
    # the pins hold the rows; the files they were scanned from are gone
    assert len(got["mendeley_health"].collect()) == 6
    assert len(got["nutrition"].collect()) == 5


def test_dead_parse_child_skips_both_sheets(spark, tmp_path, monkeypatch, temp_root, caplog):
    data_dir = _fixture_dir(str(tmp_path / "dead"), as_xlsx=True)
    driver = os.getpid()

    def dying(path):
        if os.getpid() == driver:
            raise AssertionError("sheet parsed in the driver process")
        os._exit(3)

    def hung(signum, frame):
        raise TimeoutError("extract_all did not return after its parse child died")

    monkeypatch.setattr(xlsx, "_load_shared_and_sheet", dying)
    previous = signal.signal(signal.SIGALRM, hung)
    signal.alarm(120)
    try:
        with caplog.at_level(logging.WARNING):
            got = _extract(spark, data_dir)
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, previous)

    assert set(got) == {"fitbit", "gym_members"}
    failed = sorted(r.getMessage() for r in caplog.records if r.exc_info)
    assert len(failed) == 2
    assert "gym_recommendation.xlsx" in failed[0] and "nutrition.xlsx" in failed[1]
    assert all("status 3" in str(r.exc_info[1]) for r in caplog.records if r.exc_info)
    assert list(temp_root.iterdir()) == []


def test_failed_fork_parses_in_driver(spark, tmp_path, monkeypatch, temp_root, parse_calls):
    """A parse child that cannot be forked (EAGAIN, ENOMEM) costs the
    driver the sheets' memory, not the sheets: they parse in-process."""
    import errno

    data_dir = _fixture_dir(str(tmp_path / "nofork"), as_xlsx=True)

    def no_fork():
        raise OSError(errno.EAGAIN, "Resource temporarily unavailable")

    monkeypatch.setattr(os, "fork", no_fork)
    got = _extract(spark, data_dir)

    assert {"mendeley_health", "nutrition"} <= set(got)
    assert len(got["mendeley_health"].collect()) == 6
    assert len(got["nutrition"].collect()) == 5
    assert sorted(parse_calls()) == [
        ("gym_recommendation.xlsx", True, os.getpid()),
        ("nutrition.xlsx", True, os.getpid()),
    ]
    assert list(temp_root.iterdir()) == []
