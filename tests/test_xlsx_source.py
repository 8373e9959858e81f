"""Native stdlib xlsx source: parser behaviors pinned on a synthetic
sheet, and parity against the reference's real xlsx inputs when the
reference tree is present."""

import os
import zipfile

import pytest

from fitness_nutrition_data_pipeline_spark.sources import xlsx
from fitness_nutrition_data_pipeline_spark.sources.xlsx import (
    prewarm_rows_many,
    read_xlsx,
    read_xlsx_rows,
)

_CT = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
<Default Extension="xml" ContentType="application/xml"/>
<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>
</Types>"""

_SHARED = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3" uniqueCount="3">
<si><t>name</t></si><si><t>kcal</t></si><si><r><t>split </t></r><r><t>run</t></r></si>
</sst>"""

# row 2 leaves B2 missing (gap → pad); row 3 uses an inline string and a
# shared string built from multiple runs
_SHEET = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
<sheetData>
<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>
<row r="2"><c r="A2" t="inlineStr"><is><t>banana</t></is></c></row>
<row r="3"><c r="A3" t="s"><v>2</v></c><c r="B3"><v>105</v></c></row>
</sheetData>
</worksheet>"""


@pytest.fixture()
def synthetic_xlsx(tmp_path):
    path = str(tmp_path / "mini.xlsx")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", _CT)
        z.writestr("xl/workbook.xml", "<workbook/>")
        z.writestr("xl/sharedStrings.xml", _SHARED)
        z.writestr("xl/worksheets/sheet1.xml", _SHEET)
    return path


def test_rows_resolve_shared_inline_and_gaps(synthetic_xlsx):
    rows = read_xlsx_rows(synthetic_xlsx)
    assert rows == [
        ["name", "kcal"],
        ["banana", ""],       # missing B2 padded
        ["split run", "105"],  # multi-run shared string concatenated
    ]


def test_first_sheet_resolved_via_workbook_rels(tmp_path):
    """Sheet order lives in workbook.xml + rels — sheet1.xml is only a
    convention. A workbook whose first sheet part is data7.xml (and with
    a decoy sheet1.xml) must read data7 (ADVICE r6)."""
    wb = """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
 xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
<sheets><sheet name="Main" sheetId="1" r:id="rId9"/></sheets></workbook>"""
    rels = """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
<Relationship Id="rId9" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/data7.xml"/>
</Relationships>"""
    decoy = _SHEET.replace("banana", "DECOY")
    path = str(tmp_path / "odd.xlsx")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", _CT)
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", rels)
        z.writestr("xl/sharedStrings.xml", _SHARED)
        z.writestr("xl/worksheets/sheet1.xml", decoy)
        z.writestr("xl/worksheets/data7.xml", _SHEET)
    rows = read_xlsx_rows(path)
    assert rows[1][0] == "banana"  # real first sheet, not the decoy


def test_cells_without_ref_take_running_position(tmp_path):
    """Cells missing the optional r= attribute occupy the position after
    the previous cell — not A1 (ADVICE r6: the old default silently
    overwrote column 0)."""
    sheet = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
<sheetData>
<row><c t="inlineStr"><is><t>h1</t></is></c><c t="inlineStr"><is><t>h2</t></is></c></row>
<row><c r="B2" t="inlineStr"><is><t>b</t></is></c><c t="inlineStr"><is><t>c</t></is></c></row>
</sheetData>
</worksheet>"""
    path = str(tmp_path / "noref.xlsx")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", _CT)
        z.writestr("xl/workbook.xml", "<workbook/>")
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    rows = read_xlsx_rows(path)
    assert rows == [
        ["h1", "h2", ""],       # both unreffed cells kept, in order
        ["", "b", "c"],         # unreffed cell follows B2 → column C
    ]


def test_read_xlsx_dataframe_contract(spark, synthetic_xlsx):
    df = read_xlsx(spark, synthetic_xlsx)
    assert df.columns == ["name", "kcal"]
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["string", "string"]
    got = {tuple(r) for r in df.collect()}
    # blank → NULL (CSV-path parity: casts stay explicit downstream)
    assert got == {("banana", None), ("split run", "105")}


def test_worker_thread_parses_in_process(spark, synthetic_xlsx, tmp_path, monkeypatch):
    """Only the main thread forks the parse child: from a worker thread
    the sheet parses in this process and still reaches Spark as a file."""
    from concurrent.futures import ThreadPoolExecutor

    pids = []
    orig = xlsx._load_shared_and_sheet
    monkeypatch.setattr(
        xlsx, "_load_shared_and_sheet", lambda p: pids.append(os.getpid()) or orig(p)
    )
    with ThreadPoolExecutor(max_workers=1) as pool:
        parsed = pool.submit(prewarm_rows_many, [synthetic_xlsx], str(tmp_path)).result()
    sheet = parsed[synthetic_xlsx]
    assert pids == [os.getpid()]
    assert os.path.dirname(sheet.path) == str(tmp_path)
    df = read_xlsx(spark, synthetic_xlsx, sheet)
    assert df.columns == ["name", "kcal"]
    assert {tuple(r) for r in df.collect()} == {("banana", None), ("split run", "105")}


def test_row_file_keeps_strings_byte_exact(spark, tmp_path):
    """Every string reaches Spark through the row file byte-exact, a
    blank cell as NULL, the rows in sheet order."""
    from xml.sax.saxutils import escape

    values = ["a\r\nb", "a\rb", "a\nb", "  lead", "trail ", '"q"', ",", "\\",
              "é", "😀", "null", " ", "\t", "x\u2028y", "{}"]
    rows = [["v", "k"], *([v, str(i)] for i, v in enumerate(values)), ["", ""], ["", "z"]]
    cell = '<c t="inlineStr"><is><t xml:space="preserve">{}</t></is></c>'
    body = "".join(
        # a literal CR would be normalized away by any XML parser
        "<row>" + "".join(cell.format(escape(v).replace("\r", "&#13;")) for v in r) + "</row>"
        for r in rows
    )
    path = str(tmp_path / "edge.xlsx")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", _CT)
        z.writestr("xl/workbook.xml", "<workbook/>")
        z.writestr(
            "xl/worksheets/sheet1.xml",
            '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
            f"<sheetData>{body}</sheetData></worksheet>",
        )
    assert read_xlsx_rows(path) == rows
    got = [tuple(r) for r in read_xlsx(spark, path).collect()]
    assert got == [tuple(v or None for v in r) for r in rows[1:]]


@pytest.mark.skipif(
    not os.path.isdir("/root/reference/data"), reason="reference data absent"
)
def test_native_read_matches_converted_csv(spark):
    """The engine's native xlsx read must agree with the pre-convert
    tool (same parser, but this pins the DataFrame header/NULL wrapping)
    on the reference's real nutrition sheet."""
    path = "/root/reference/data/nutrition.xlsx"
    rows = read_xlsx_rows(path)
    df = read_xlsx(spark, path)
    expect = [str(h) if h != "" else f"_c{i}" for i, h in enumerate(rows[0])]
    assert df.columns == expect
    assert df.count() == len(rows) - 1


def test_read_tabular_prefers_siblings_then_native_xlsx(spark, tmp_path, synthetic_xlsx):
    """Source resolution order: parquet sibling > csv sibling > native
    xlsx parse. The xlsx-only case must flow through sources/xlsx.py
    (no openpyxl in this container)."""
    import shutil

    from fitness_nutrition_data_pipeline_spark.sources.fitness import read_tabular

    # xlsx only → native parser
    x = str(tmp_path / "only.xlsx")
    shutil.copy(synthetic_xlsx, x)
    df = read_tabular(spark, x)
    assert df is not None and df.columns == ["name", "kcal"]
    assert df.count() == 2

    # csv sibling wins over the xlsx
    with open(str(tmp_path / "only.csv"), "w") as f:
        f.write("name,kcal\ncsvrow,1\n")
    df2 = read_tabular(spark, x)
    assert [r.name for r in df2.collect()] == ["csvrow"]

    # parquet sibling wins over both
    spark.createDataFrame([("pqrow", "2")], "name string, kcal string").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "only.parquet"))
    df3 = read_tabular(spark, x)
    assert [r.name for r in df3.collect()] == ["pqrow"]


def _big_sheet_xml(n_rows: int) -> str:
    """A sheetData region big enough to split into several chunks,
    mixing r=-addressed cells, address-less cells (running position),
    gaps, inline strings and shared strings — every lane the chunked
    byte-level parser must keep identical to the sequential parse."""
    rows = []
    for i in range(1, n_rows + 1):
        if i % 4 == 0:
            # address-less cells: position is running order
            rows.append(
                f"<row><c t=\"s\"><v>0</v></c><c><v>{i}</v></c></row>"
            )
        elif i % 4 == 1:
            # gap: skips column B, lands on C
            rows.append(
                f"<row r=\"{i}\"><c r=\"A{i}\"><v>{i}</v></c>"
                f"<c r=\"C{i}\" t=\"inlineStr\"><is><t>x{i}</t></is></c></row>"
            )
        elif i % 4 == 2:
            rows.append(
                f"<row r=\"{i}\"><c r=\"A{i}\" t=\"s\"><v>1</v></c>"
                f"<c r=\"B{i}\"><v>{i * 7}</v></c></row>"
            )
        else:
            rows.append(f"<row r=\"{i}\"><c r=\"B{i}\" t=\"s\"><v>2</v></c></row>")
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/'
        'spreadsheetml/2006/main"><sheetData>'
        + "".join(rows)
        + "</sheetData></worksheet>"
    )


def _parse_parallel(sheet_bytes: bytes, shared: list[str], columns=None):
    """Run _start_parallel_parse to completion; None when it declines."""
    from fitness_nutrition_data_pipeline_spark.sources.xlsx import (
        _start_parallel_parse,
    )

    started = _start_parallel_parse(sheet_bytes, shared, columns)
    if started is None:
        return None
    pool, res = started
    with pool:
        return [r for part in res.get(timeout=120) for r in part]


def test_parallel_parse_matches_sequential():
    """Every fixture sits under the 4 MB fork threshold, so the chunked
    parse is driven directly here: byte-chunked parity against the
    sequential ElementTree parse."""
    import xml.etree.ElementTree as ET

    from fitness_nutrition_data_pipeline_spark.sources.xlsx import _parse_row_elements

    shared = ["name", "kcal", "split run"]
    sheet_bytes = _big_sheet_xml(500).encode()
    seq = _parse_row_elements(ET.fromstring(sheet_bytes), shared)
    par = _parse_parallel(sheet_bytes, shared)
    assert par is not None
    assert par == seq


def test_parallel_parse_refuses_worker_threads():
    """extract_all runs its source tasks on a thread pool; forking from
    a worker thread while siblings hold py4j/logging locks is a deadlock
    hazard. The process pool is therefore MAIN-THREAD-ONLY: from a
    worker thread _start_parallel_parse must decline (None → caller's
    sequential fallback), never fork."""
    from concurrent.futures import ThreadPoolExecutor

    shared = ["name", "kcal", "split run"]
    sheet_bytes = _big_sheet_xml(200).encode()
    with ThreadPoolExecutor(max_workers=2) as pool:
        par = pool.submit(_parse_parallel, sheet_bytes, shared).result(timeout=120)
    assert par is None


# -- declared columns -----------------------------------------------------

# "Name" and "name" normalize to the same name; category, protein, carbs
# and fats are declared but absent, and stay absent
_WIDE_HEADER = ["Name", "Calories", "serving size", "name", "Fiber", "Total Fat"]


def _wide_sheet_xml(n_rows: int) -> str:
    """A header row plus data rows that exercise every cell lane the
    pruned parse must agree on: shared and inline strings, r=-addressed
    cells with gaps, address-less cells (running position), rows shorter
    than the header and cells beyond it."""
    cell = '<c r="{ref}" t="inlineStr"><is><t>{v}</t></is></c>'
    rows = [
        '<row r="1">' + "".join(
            cell.format(ref=f"{chr(65 + j)}1", v=h) for j, h in enumerate(_WIDE_HEADER)
        ) + "</row>"
    ]
    for i in range(2, n_rows + 2):
        if i % 3 == 0:
            # address-less cells fill A.. in order; the row stops at C
            rows.append(
                f'<row><c t="s"><v>0</v></c><c><v>{i}</v></c>'
                f'<c t="inlineStr"><is><t>g{i}</t></is></c></row>'
            )
        elif i % 3 == 1:
            # gaps: B and D missing; G lies beyond the header
            rows.append(
                f'<row r="{i}"><c r="A{i}" t="s"><v>2</v></c>'
                f'<c r="C{i}"><v>{i}</v></c><c r="E{i}"><v>{i * 3}</v></c>'
                f'<c r="G{i}" t="s"><v>1</v></c></row>'
            )
        else:
            rows.append(
                f'<row r="{i}"><c r="B{i}"><v>{i * 7}</v></c>'
                f'<c r="D{i}" t="inlineStr"><is><t>d{i}</t></is></c></row>'
            )
    return (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<worksheet xmlns="http://schemas.openxmlformats.org/'
        'spreadsheetml/2006/main"><sheetData>'
        + "".join(rows)
        + "</sheetData></worksheet>"
    )


def _projected(rows: list[list[str]], columns) -> list[list[str]]:
    """The full parse cut down to the columns whose header cell
    normalizes to a declared name."""
    from fitness_nutrition_data_pipeline_spark.functions.cleaning import normalize_name

    keep = [i for i, h in enumerate(rows[0]) if normalize_name(h) in columns]
    return [[r[i] for i in keep] for r in rows]


def test_declared_columns_parse_sequential(spark, tmp_path):
    """Pruning as the ETL runs it: the parse child keeps the declared
    columns, writes them to the row file, and Spark scans that file."""
    from fitness_nutrition_data_pipeline_spark.config import NUTRITION_COLUMNS

    path = str(tmp_path / "wide.xlsx")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", _CT)
        z.writestr("xl/workbook.xml", "<workbook/>")
        z.writestr("xl/sharedStrings.xml", _SHARED)
        z.writestr("xl/worksheets/sheet1.xml", _wide_sheet_xml(40))
    full = read_xlsx_rows(path)
    expect = _projected(full, NUTRITION_COLUMNS)
    sheet = prewarm_rows_many([path], str(tmp_path), {path: NUTRITION_COLUMNS})[path]
    assert sheet.columns == ("Name", "Calories", "name", "Fiber")
    df = read_xlsx(spark, path, sheet)
    assert df.columns == expect[0]
    assert [list(r) for r in df.collect()] == [[v or None for v in r] for r in expect[1:]]
    # a header without any declared column keeps no cell
    (tmp_path / "none").mkdir()
    sheet = prewarm_rows_many([path], str(tmp_path / "none"), {path: ("protein",)})[path]
    assert sheet.columns == ()
    with open(sheet.path) as f:
        assert f.read().splitlines() == ["{}"] * (len(full) - 1)


def test_declared_columns_parse_parallel():
    """The fork-parallel path keeps the same cells as the sequential
    one: the header is read before the fork and every worker parses its
    byte range of the inherited sheet with the same column indices."""
    import xml.etree.ElementTree as ET

    from fitness_nutrition_data_pipeline_spark.config import NUTRITION_COLUMNS
    from fitness_nutrition_data_pipeline_spark.sources.xlsx import (
        _pad,
        _parse_row_elements,
    )

    shared = ["name", "kcal", "split run"]
    sheet_bytes = _wide_sheet_xml(600).encode()
    full = _pad(_parse_row_elements(ET.fromstring(sheet_bytes), shared))
    par = _parse_parallel(sheet_bytes, shared, NUTRITION_COLUMNS)
    assert par is not None
    assert par == _projected(full, NUTRITION_COLUMNS)
    assert _pad(_parse_parallel(sheet_bytes, shared)) == full
