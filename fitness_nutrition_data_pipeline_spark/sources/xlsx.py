"""Native xlsx source — stdlib-only (zipfile + ElementTree), no openpyxl.

Covers the reference's S3 surface (main_etl_pipeline.py:104-122 reads
gym_recommendation.xlsx / nutrition.xlsx via pandas+openpyxl): xlsx is a
zip of XML — shared strings in xl/sharedStrings.xml, the first worksheet
resolved through xl/workbook.xml and its rels. Sufficient for the
reference's plain tabular sheets (text + numbers; no formulas or date
serials).

Contract:
- ``prewarm_rows_many(paths)`` parses sheets on the calling thread and
  returns ``{path: rows}`` (or ``{path: exception}`` for a sheet whose
  parse raised). Big sheets parse fork-parallel, which is allowed only
  on the main thread; callers that fan reads out to a thread pool parse
  first and hand each task its rows.
- ``read_xlsx_rows(path)`` is the one-path form, raising on failure.
- ``read_xlsx(spark, path, rows=None)`` builds the all-string DataFrame,
  parsing the file itself when no rows are given.

Scale posture: xlsx is not a splittable format and only ever carries
dimension-sized inputs (the reference's sheets are <100k rows), so the
parse is DRIVER-SIDE into ``spark.createDataFrame`` — the same posture
as every small-dim source here. Bulk data never arrives as xlsx; if it
did, the answer is a one-time convert to parquet, not a distributed
xlsx reader.

All values surface as strings (blank → NULL) for parity with the CSV
path — every cast stays explicit downstream (the coerce semantics the
transform layer owns).
"""

from __future__ import annotations

import os
import xml.etree.ElementTree as ET
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

NS = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
_REL_ATTR = (
    "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
)


def _first_sheet_path(z: zipfile.ZipFile) -> str:
    """Resolve the FIRST worksheet (workbook order) to its zip path.

    Sheet order lives in xl/workbook.xml (<sheets> children) and the
    r:id → part mapping in xl/_rels/workbook.xml.rels — sheet1.xml is
    merely a convention and may be absent or not first (ADVICE r6).
    Falls back to the conventional path if either part is missing."""
    try:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        sheet = wb.find("m:sheets/m:sheet", NS)
        rid = sheet.get(_REL_ATTR) if sheet is not None else None
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
        for rel in rels:
            if rid and rel.get("Id") == rid:
                target = rel.get("Target", "")
                return target.lstrip("/") if target.startswith("/") else f"xl/{target}"
    except (KeyError, ET.ParseError):
        pass
    return "xl/worksheets/sheet1.xml"


def _col_index(cell_ref: str) -> int:
    # bare char loop, no regex: this runs once per CELL (675k times on
    # the reference's nutrition sheet) — the regex version was ~2.7s of
    # the 7.5s profiled parse
    idx = 0
    for ch in cell_ref:
        o = ord(ch)
        if 65 <= o <= 90:  # 'A'..'Z'
            idx = idx * 26 + o - 64
        else:
            break
    return idx - 1


def _parse_row_elements(root: "ET.Element", shared: list[str]) -> list[list[str]]:
    """The per-row cell loop over any element tree containing <row>s.

    Iterates element children directly with pre-bound qualified tag
    names instead of per-cell namespaced ``find``/``findall`` — a
    measured ~3× on wide sheets (the reference's nutrition sheet is
    ~675k cells). Rows come back dense per-row (right-padded later)."""
    m = NS["m"]
    ROW, C, V, IS, T_ = (f"{{{m}}}{t}" for t in ("row", "c", "v", "is", "t"))
    rows: list[list[str]] = []
    for row in root.iter(ROW):
        cells: dict[int, str] = {}
        next_idx = 0  # implicit position for cells without r= (ADVICE r6)
        for c in row:
            if c.tag != C:
                continue
            ctype = c.get("t", "n")
            val = ""
            for ch in c:
                if ch.tag == V:
                    val = ch.text or ""
                    break
                if ch.tag == IS:
                    val = "".join(t.text or "" for t in ch.iter(T_))
                    break
            if ctype == "s" and val != "":
                val = shared[int(val)]
            ref = c.get("r")
            idx = _col_index(ref) if ref else next_idx
            next_idx = idx + 1
            cells[idx] = val
        width = max(cells) + 1 if cells else 0
        rows.append([cells.get(i, "") for i in range(width)])
    return rows


_MP_SHARED: list[str] = []  # worker-process shared-string table (fork init)
_MP_OPEN: bytes = b""  # worksheet root open tag (carries ALL xmlns decls)
_MP_CLOSE: bytes = b""


def _mp_init(shared: list[str], open_tag: bytes, close_tag: bytes) -> None:
    global _MP_SHARED, _MP_OPEN, _MP_CLOSE
    _MP_SHARED, _MP_OPEN, _MP_CLOSE = shared, open_tag, close_tag


def _mp_parse_chunk(chunk: bytes) -> list[list[str]]:
    # wrap with the ORIGINAL root open tag so every namespace prefix the
    # document binds (r:, mc:, x14ac:, xr: ... on row/cell attributes)
    # stays bound inside the fragment
    return _parse_row_elements(
        ET.fromstring(_MP_OPEN + chunk + _MP_CLOSE), _MP_SHARED
    )


def _root_open_tag(sheet_bytes: bytes) -> bytes | None:
    """The document root element's open tag (with its xmlns decls), or
    None if it can't be located / is self-closing."""
    pos = 0
    while True:
        pos = sheet_bytes.find(b"<", pos)
        if pos < 0:
            return None
        nxt = sheet_bytes[pos + 1 : pos + 2]
        if nxt not in (b"?", b"!"):
            break
        pos += 1
    end = sheet_bytes.find(b">", pos)
    if end < 0 or sheet_bytes[end - 1 : end] == b"/":
        return None
    return sheet_bytes[pos : end + 1]


# sheets whose row region is smaller than this parse in-process; above it
# the parse forks a small process pool (fixed fork+pickle overhead only
# pays off on the reference's ~26 MB nutrition sheet, not on dim sheets)
_PARALLEL_MIN_BYTES = 4 << 20


def _start_parallel_parse(sheet_bytes: bytes, shared: list[str]):
    """Begin a fork-parallel parse of <sheetData>: split the row region
    at <row boundaries into one chunk per worker and submit the chunks
    to a fresh process pool WITHOUT blocking (map_async). Returns
    (pool, async_result) — the caller collects with ``res.get()`` and
    must close the pool — or None when the layout doesn't match
    expectations or fork isn't available (caller falls back to the
    sequential parse). Escaped text cannot contain a literal '<row', so
    byte-level splits are always element-aligned. Non-blocking start is
    what lets prewarm_rows_many parse SEVERAL files' sheets
    concurrently, one pool each."""
    import multiprocessing as mp
    import threading

    lo = sheet_bytes.find(b"<row")
    hi = sheet_bytes.rfind(b"</sheetData>")
    open_tag = _root_open_tag(sheet_bytes)
    if lo < 0 or hi < lo or open_tag is None:
        return None
    name = open_tag[1:].split(None, 1)[0].rstrip(b">")
    close_tag = b"</" + name + b">"
    # fork() from a WORKER thread while sibling threads hold py4j/
    # logging locks mid-acquire can deadlock the child (fork-in-threads
    # is deprecated in CPython 3.12+), so the process pool is
    # main-thread-only: worker-thread callers get None and parse
    # sequentially. A thread-count guard can't do this — pyspark always
    # keeps py4j daemon threads alive, and what matters is who is
    # forking, not who exists. (forkserver is no way out: its per-worker
    # spawn prep re-imports the caller's __main__ — re-running pyspark
    # imports per pool, and crashing outright under stdin/embedded
    # mains.)
    if threading.current_thread() is not threading.main_thread():
        return None
    try:
        ctx = mp.get_context("fork")
    except ValueError:  # pragma: no cover — non-POSIX
        return None
    region = sheet_bytes[lo:hi]
    n = max(2, min(8, os.cpu_count() or 2))
    target = len(region) // n
    bounds = [0]
    for i in range(1, n):
        pos = region.find(b"<row", i * target)
        if pos <= bounds[-1]:
            continue
        bounds.append(pos)
    bounds.append(len(region))
    chunks = [region[a:b] for a, b in zip(bounds, bounds[1:])]
    pool = ctx.Pool(
        len(chunks), initializer=_mp_init,
        initargs=(shared, open_tag, close_tag),
    )
    return pool, pool.map_async(_mp_parse_chunk, chunks)


def prewarm_rows_many(
    paths: list[str],
) -> dict[str, list[list[str]] | Exception]:
    """Parse several xlsx files on the calling thread → ``{path: rows}``.

    Big sheets' fork-parallel parses are all started before any is
    collected (one pool per sheet, non-blocking), so two ~1 s sheets
    cost ~max(tA, tB), not tA+tB; small sheets parse inline. A failed
    parallel parse falls back to the sequential parser, same results.
    Failures are per path: a sheet whose parse raises maps to its
    exception instead of rows, so one bad sheet never costs the others
    their parse."""
    out: dict[str, list[list[str]] | Exception] = {}
    pending = []
    for path in paths:
        try:
            shared, sheet_bytes = _load_shared_and_sheet(path)
            started = (
                _start_parallel_parse(sheet_bytes, shared)
                if len(sheet_bytes) >= _PARALLEL_MIN_BYTES
                else None
            )
            if started is None:
                out[path] = _pad(
                    _parse_row_elements(ET.fromstring(sheet_bytes), shared)
                )
            else:
                pending.append((path, sheet_bytes, shared, started))
        except Exception as e:  # noqa: BLE001 — reported per path
            out[path] = e
    for path, sheet_bytes, shared, (pool, res) in pending:
        with pool:
            try:
                rows = [r for part in res.get() for r in part]
            except Exception:  # noqa: BLE001 — sequential fallback below
                rows = None
        try:
            if rows is None:
                rows = _parse_row_elements(ET.fromstring(sheet_bytes), shared)
            out[path] = _pad(rows)
        except Exception as e:  # noqa: BLE001 — reported per path
            out[path] = e
    return out


def read_xlsx_rows(path: str) -> list[list[str]]:
    """First worksheet of an xlsx as a dense list of string rows
    (shared-string and inline-string cells resolved, gaps padded); the
    one-path form of prewarm_rows_many, raising the parse's error.

    Large sheets parse fork-parallel on the main thread (the reference's
    26 MB nutrition sheet: ~3.2 s sequential → sub-second on 8 cores);
    small sheets, worker threads and non-POSIX platforms take the
    sequential path with identical results."""
    rows = prewarm_rows_many([path])[path]
    if isinstance(rows, Exception):
        raise rows
    return rows


def _load_shared_and_sheet(path: str) -> tuple[list[str], bytes]:
    """Shared-string table + first worksheet bytes (the zip I/O half of
    a read, split out so prewarm_rows_many can overlap parses)."""
    z = zipfile.ZipFile(path)
    m = NS["m"]
    T_ = f"{{{m}}}t"
    shared: list[str] = []
    if "xl/sharedStrings.xml" in z.namelist():
        root = ET.fromstring(z.read("xl/sharedStrings.xml"))
        for si in root.findall("m:si", NS):
            shared.append("".join(t.text or "" for t in si.iter(T_)))
    return shared, z.read(_first_sheet_path(z))


def _pad(rows: list[list[str]]) -> list[list[str]]:
    width = max((len(r) for r in rows), default=0)
    return [r + [""] * (width - len(r)) for r in rows]


def read_xlsx(
    spark: SparkSession, path: str, rows: list[list[str]] | None = None
) -> DataFrame:
    """xlsx → DataFrame: first row is the header, every column string,
    blank cells NULL (CSV-path parity). ``rows`` are the sheet's already
    parsed rows (prewarm_rows_many); without them the file is parsed
    here.

    Ships rows through a pandas frame so the session's Arrow path does
    the Python→JVM conversion in columnar batches (measured ~2× vs the
    row-list path on the reference's 77-column nutrition sheet)."""
    import pandas as pd

    if rows is None:
        rows = read_xlsx_rows(path)
    if not rows:
        return spark.createDataFrame([], T.StructType([]))
    header = [str(h) if h != "" else f"_c{i}" for i, h in enumerate(rows[0])]
    schema = T.StructType([T.StructField(h, T.StringType()) for h in header])
    pdf = pd.DataFrame(rows[1:], columns=header, dtype=object)
    pdf = pdf.where(pdf != "", None)
    return spark.createDataFrame(pdf, schema=schema)
