"""Native xlsx source — stdlib-only (zipfile + ElementTree), no openpyxl.

Covers the reference's S3 surface (main_etl_pipeline.py:104-122 reads
gym_recommendation.xlsx / nutrition.xlsx via pandas+openpyxl): xlsx is a
zip of XML — shared strings in xl/sharedStrings.xml, the first worksheet
resolved through xl/workbook.xml and its rels. Sufficient for the
reference's plain tabular sheets (text + numbers; no formulas or date
serials).

Contract:
- ``prewarm_rows_many(paths, out_dir, columns=None)`` parses sheets
  and writes each one's data rows to a file under ``out_dir``,
  returning ``{path: SheetFile}`` (or ``{path: exception}`` for a sheet
  whose parse failed). On the main thread the parse runs in one forked
  child process, so no byte, string or row of a sheet enters the
  caller's process; big sheets parse fork-parallel inside that child.
  Only the main thread forks: a caller on a worker thread parses in its
  own process, with the same files as the result.
- ``columns`` maps a path to the header names (normalized as
  ``normalize_columns`` does: lower case, spaces → ``_``) that its parse
  keeps; every other column is dropped cell by cell, so its values never
  become Python strings. A declared name the header lacks stays absent.
  Paths it does not name keep every column.
- ``read_xlsx(spark, path, sheet=None)`` scans a parsed sheet's file
  with Spark's JSON reader into the all-string DataFrame and pins it, so
  that the file may go once it returns; without a sheet it parses the
  file itself into a temp dir of its own.
- ``read_xlsx_rows(path)`` parses one sheet in this process and
  returns its rows, raising on failure (the pre-convert tool and the
  parity tests read rows through it).

Row files: one JSON object per data row, keyed by column position
(``c0``…), with a blank cell left out so that it scans as NULL. JSON
keeps every string byte-exact (CR, LF, quotes, U+2028), where a CSV
reader normalizes line ends inside quoted values.

Scale posture: xlsx is not a splittable format and only ever carries
dimension-sized inputs (the reference's sheets are <100k rows), so one
child process parses a sheet and Spark scans the file it writes: the
driver plans, and the rows go from the file to the JVM without passing
through the driver. Bulk data never arrives as xlsx; if it did, the
answer is a one-time convert to parquet, not a distributed xlsx reader.

All values surface as strings (blank → NULL) for parity with the CSV
path — every cast stays explicit downstream (the coerce semantics the
transform layer owns).
"""

from __future__ import annotations

import gc
import json
import os
import tempfile
import threading
import traceback
import xml.etree.ElementTree as ET
import zipfile
from collections.abc import Collection, Mapping
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from fitness_nutrition_data_pipeline_spark.functions.cleaning import normalize_name

NS = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
_REL_ATTR = (
    "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
)


def _first_sheet_path(z: zipfile.ZipFile) -> str:
    """Resolve the FIRST worksheet (workbook order) to its zip path.

    Sheet order lives in xl/workbook.xml (<sheets> children) and the
    r:id → part mapping in xl/_rels/workbook.xml.rels — sheet1.xml is
    merely a convention and may be absent or not first.
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


def _parse_row_elements(
    root: "ET.Element", shared: list[str], keep: list[int] | None = None
) -> list[list[str]]:
    """The per-row cell loop over any element tree containing <row>s.

    Iterates element children directly with pre-bound qualified tag
    names instead of per-cell namespaced ``find``/``findall`` — a
    measured ~3× on wide sheets (the reference's nutrition sheet is
    ~675k cells). Without ``keep`` rows come back dense per-row
    (right-padded later); with it, each row holds exactly the cells at
    the ``keep`` column indices, in that order ("" where absent)."""
    m = NS["m"]
    ROW, C, V, IS, T_ = (f"{{{m}}}{t}" for t in ("row", "c", "v", "is", "t"))
    wanted = None if keep is None else set(keep)
    rows: list[list[str]] = []
    for row in root.iter(ROW):
        cells: dict[int, str] = {}
        next_idx = 0  # implicit position for cells without r=
        for c in row:
            if c.tag != C:
                continue
            ref = c.get("r")
            idx = _col_index(ref) if ref else next_idx
            next_idx = idx + 1
            if wanted is not None and idx not in wanted:
                continue
            val = ""
            for ch in c:
                if ch.tag == V:
                    val = ch.text or ""
                    break
                if ch.tag == IS:
                    val = "".join(t.text or "" for t in ch.iter(T_))
                    break
            if c.get("t", "n") == "s" and val != "":
                val = shared[int(val)]
            cells[idx] = val
        if keep is None:
            width = max(cells) + 1 if cells else 0
            rows.append([cells.get(i, "") for i in range(width)])
        else:
            rows.append([cells.get(i, "") for i in keep])
    return rows


def _kept_columns(root: "ET.Element", shared: list[str], columns: Collection[str]) -> list[int]:
    """Indices of the first row's (the header's) cells whose normalized
    text is one of ``columns``, in sheet order."""
    first = next(root.iter(f"{{{NS['m']}}}row"), None)
    if first is None:
        return []
    header = _parse_row_elements(first, shared)[0]
    return [i for i, h in enumerate(header) if normalize_name(h) in columns]


def _parse_sheet(
    sheet_bytes: bytes, shared: list[str], columns: Collection[str] | None
) -> list[list[str]]:
    """The sequential parse: the whole sheet in one tree."""
    root = ET.fromstring(sheet_bytes)
    keep = None if columns is None else _kept_columns(root, shared, columns)
    return _parse_row_elements(root, shared, keep)


# Worker-process state, set by the pool initializer. Fork hands the
# initializer's arguments to each worker as they are in the parent's
# memory: the sheet bytes are shared copy-on-write, never pickled.
_MP_SHEET: bytes = b""
_MP_SHARED: list[str] = []
_MP_OPEN: bytes = b""  # worksheet root open tag (carries ALL xmlns decls)
_MP_CLOSE: bytes = b""
_MP_KEEP: list[int] | None = None


def _mp_init(
    sheet: bytes, shared: list[str], open_tag: bytes, close_tag: bytes,
    keep: list[int] | None,
) -> None:
    global _MP_SHEET, _MP_SHARED, _MP_OPEN, _MP_CLOSE, _MP_KEEP
    _MP_SHEET, _MP_SHARED, _MP_OPEN, _MP_CLOSE, _MP_KEEP = (
        sheet, shared, open_tag, close_tag, keep
    )


def _mp_parse_chunk(bounds: tuple[int, int]) -> list[list[str]]:
    # wrap with the ORIGINAL root open tag so every namespace prefix the
    # document binds (r:, mc:, x14ac:, xr: ... on row/cell attributes)
    # stays bound inside the fragment
    start, end = bounds
    return _parse_row_elements(
        ET.fromstring(_MP_OPEN + _MP_SHEET[start:end] + _MP_CLOSE),
        _MP_SHARED,
        _MP_KEEP,
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


def _start_parallel_parse(
    sheet_bytes: bytes, shared: list[str], columns: Collection[str] | None = None
):
    """Begin a fork-parallel parse of <sheetData>: split the row region
    at <row boundaries into one byte range per worker and submit the
    ranges to a fresh process pool WITHOUT blocking (map_async). Each
    worker inherits the sheet bytes through the fork and parses its
    ``(start, end)`` slice, so only offsets cross the task pipe. With
    ``columns``, the header row is parsed here first and every worker
    keeps the same column indices. Returns (pool, async_result) — the
    caller collects with ``res.get()`` and must close the pool — or None
    when the layout doesn't match expectations or fork isn't available
    (caller falls back to the sequential parse). Escaped text cannot
    contain a literal '<row', so byte-level splits are always
    element-aligned. Non-blocking start is what lets _parse_many
    parse SEVERAL files' sheets concurrently, one pool each."""
    import multiprocessing as mp

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
    n = max(2, min(8, os.cpu_count() or 2))
    target = (hi - lo) // n
    bounds = [lo]
    for i in range(1, n):
        pos = sheet_bytes.find(b"<row", lo + i * target, hi)
        if pos <= bounds[-1]:
            continue
        bounds.append(pos)
    bounds.append(hi)
    keep = None
    if columns is not None:
        second = sheet_bytes.find(b"<row", lo + 1, hi)
        header = sheet_bytes[lo : second if second >= 0 else hi]
        keep = _kept_columns(
            ET.fromstring(open_tag + header + close_tag), shared, columns
        )
    ranges = list(zip(bounds, bounds[1:]))
    pool = ctx.Pool(
        len(ranges), initializer=_mp_init,
        initargs=(sheet_bytes, shared, open_tag, close_tag, keep),
    )
    return pool, pool.map_async(_mp_parse_chunk, ranges)


def _parse_many(
    paths: list[str], columns: Mapping[str, Collection[str]]
) -> dict[str, list[list[str]] | Exception]:
    """Parse several xlsx files in this process → ``{path: rows}``
    (rows not padded).

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
        cols = columns.get(path)
        try:
            shared, sheet_bytes = _load_shared_and_sheet(path)
            started = (
                _start_parallel_parse(sheet_bytes, shared, cols)
                if len(sheet_bytes) >= _PARALLEL_MIN_BYTES
                else None
            )
            if started is None:
                out[path] = _parse_sheet(sheet_bytes, shared, cols)
            else:
                pending.append((path, sheet_bytes, shared, cols, started))
        except Exception as e:  # noqa: BLE001 — reported per path
            out[path] = e
    for path, sheet_bytes, shared, cols, (pool, res) in pending:
        with pool:
            try:
                rows = [r for part in res.get() for r in part]
            except Exception:  # noqa: BLE001 — sequential fallback below
                rows = None
        try:
            out[path] = rows if rows is not None else _parse_sheet(sheet_bytes, shared, cols)
        except Exception as e:  # noqa: BLE001 — reported per path
            out[path] = e
    return out


def read_xlsx_rows(path: str) -> list[list[str]]:
    """First worksheet of an xlsx as a dense list of string rows
    (shared-string and inline-string cells resolved, gaps padded),
    parsed in this process and raising the parse's error.

    Large sheets parse fork-parallel on the main thread (the reference's
    26 MB nutrition sheet: ~3.2 s sequential → sub-second on 8 cores);
    small sheets, worker threads and non-POSIX platforms take the
    sequential path with identical results."""
    rows = _parse_many([path], {})[path]
    if isinstance(rows, Exception):
        raise rows
    return _pad(rows)


def _load_shared_and_sheet(path: str) -> tuple[list[str], bytes]:
    """Shared-string table + first worksheet bytes (the zip I/O half of
    a read, split out so _parse_many can overlap parses)."""
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


@dataclass(frozen=True)
class SheetFile:
    """A parsed sheet on disk: the frame's column names (the header row;
    a blank header cell is named ``_c{i}``) and the JSON Lines file of
    its data rows, in sheet order."""

    columns: tuple[str, ...]
    path: str


class SheetParseError(Exception):
    """A sheet the parse child could not parse; the message carries the
    child's traceback, or the child's exit status if it died."""


def _write_rows(rows: list[list[str]], path: str) -> tuple[str, ...]:
    """Write every row after the header as one JSON object keyed by
    column position (``c0``…), a blank cell left out so that it scans
    as NULL; return the column names."""
    width = max((len(r) for r in rows), default=0)
    header = rows[0] if rows else []
    names = tuple(
        header[i] if i < len(header) and header[i] != "" else f"_c{i}"
        for i in range(width)
    )
    keys = [f"c{i}" for i in range(width)]
    encode = json.JSONEncoder(ensure_ascii=False, separators=(",", ":")).encode
    with open(path, "w", encoding="utf-8") as f:
        f.writelines(
            encode({k: v for k, v in zip(keys, r) if v != ""}) + "\n" for r in rows[1:]
        )
    return names


def _write_sheets(
    paths: list[str], out_dir: str, columns: Mapping[str, Collection[str]]
) -> dict[str, SheetFile | Exception]:
    """Parse ``paths`` in this process and write each sheet to
    ``out_dir/sheet{i}.jsonl``, ``i`` its position in ``paths``."""
    out: dict[str, SheetFile | Exception] = {}
    for path, rows in _parse_many(paths, columns).items():
        if isinstance(rows, Exception):
            out[path] = rows
            continue
        target = os.path.join(out_dir, f"sheet{paths.index(path)}.jsonl")
        try:
            out[path] = SheetFile(_write_rows(rows, target), target)
        except Exception as e:  # noqa: BLE001 — reported per path
            out[path] = e
    return out


def prewarm_rows_many(
    paths: list[str],
    out_dir: str,
    columns: Mapping[str, Collection[str]] | None = None,
) -> dict[str, SheetFile | Exception]:
    """Parse several xlsx files into row files under ``out_dir`` →
    ``{path: SheetFile}``, or ``{path: exception}`` for a sheet whose
    parse failed.

    On the main thread the parse runs in one forked child, which writes
    the files and a manifest of their names and columns, then exits;
    nothing of a sheet enters this process. A child that dies fails
    every sheet it was given, with its exit status. Off the main thread,
    or when the fork itself fails, the same parse and write run in this
    process (module docstring). ``columns`` names, per path, the
    normalized header names its parse keeps."""
    columns = columns or {}
    if not paths:
        return {}
    if threading.current_thread() is not threading.main_thread() or not hasattr(os, "fork"):
        return _write_sheets(paths, out_dir, columns)
    manifest = os.path.join(out_dir, "sheets.json")
    try:
        pid = os.fork()
    except OSError:  # e.g. EAGAIN/ENOMEM: the sheets still parse, here
        return _write_sheets(paths, out_dir, columns)
    if pid == 0:  # the parse child: it never returns
        # no collection here may finalize an inherited object: a py4j
        # proxy's finalizer would talk to the JVM on the parent's socket
        gc.freeze()
        status = 1
        try:
            sheets = _write_sheets(paths, out_dir, columns)
            with open(manifest, "w", encoding="utf-8") as f:
                json.dump({
                    path: {"error": "".join(traceback.format_exception(s))}
                    if isinstance(s, Exception)
                    else {"columns": s.columns, "path": s.path}
                    for path, s in sheets.items()
                }, f)
            status = 0
        finally:
            os._exit(status)
    status = os.waitstatus_to_exitcode(os.waitpid(pid, 0)[1])
    if status != 0:
        return {
            path: SheetParseError(f"xlsx parse child exited with status {status}")
            for path in paths
        }
    with open(manifest, encoding="utf-8") as f:
        sheets = json.load(f)
    return {
        path: SheetParseError(s["error"]) if "error" in s
        else SheetFile(tuple(s["columns"]), s["path"])
        for path, s in sheets.items()
    }


def read_xlsx(
    spark: SparkSession, path: str, sheet: SheetFile | None = None
) -> DataFrame:
    """xlsx → DataFrame: first row is the header, every column string,
    blank cells NULL (CSV-path parity). ``sheet`` is the sheet already
    parsed (prewarm_rows_many); without it the file is parsed here into
    a temp dir that is gone when this returns.

    Spark's JSON reader scans the row file under the all-string schema,
    FAILFAST so that a malformed line raises instead of reading as
    NULLs, and the frame comes back pinned as ONE executor block: the
    scan would otherwise re-run in every job that touches the source
    (the warehouse DAG touches each source many times), and a dim-sized
    sheet needs no scan parallelism (it is broadcast downstream anyway).
    The row file may be deleted once this returns."""
    if sheet is None:
        with tempfile.TemporaryDirectory(prefix="xlsx_sheet_") as out_dir:
            sheet = prewarm_rows_many([path], out_dir)[path]
            if isinstance(sheet, Exception):
                raise sheet
            return read_xlsx(spark, path, sheet)
    schema = T.StructType(
        [T.StructField(f"c{i}", T.StringType()) for i in range(len(sheet.columns))]
    )
    df = spark.read.schema(schema).option("mode", "FAILFAST").json(sheet.path)
    return df.toDF(*sheet.columns).coalesce(1).localCheckpoint()
