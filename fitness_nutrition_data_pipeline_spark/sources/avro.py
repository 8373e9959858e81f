"""Native Avro object-container source/sink (Apache Avro 1.11 spec —
public format documentation; no Avro library involved).

Spark ships avro-core jars but NOT the spark-avro SQL module, so
``.format("avro")`` is unavailable in this container. Rather than gate
the format away, this module implements the container format directly —
the sources/xlsx.py posture applied to a binary format:

- a distributed WRITER: one Avro file per input partition, encoded
  executor-side from the partition's rows (binary varint/zigzag
  encoding is pure Python over plain row objects, so longs round-trip
  exactly — never through a float-coercing pandas frame);
- a distributed READER: Spark's ``binaryFile`` source lists and ships
  the files, an Arrow-batched ``mapInPandas`` stage decodes blocks.

Supported surface: ``null`` codec; record schemas over long / double /
string / boolean / bytes and nullable unions ``["null", T]`` (ints
widen to long, floats to double — Spark types them that way anyway).

Scale: ``read_avro`` parallelizes per FILE and the writer emits one
file per partition, so read parallelism mirrors write parallelism.
``read_avro_splits`` is the 100 TB ingest path for files we did NOT
write: it splits one large container file into per-block-range tasks
using Avro's 16-byte sync marker (which exists precisely so a reader
can start at any block boundary — the Hadoop input-split contract: a
task owns the blocks that START inside its byte range).

The writer targets a filesystem shared between driver and executors
(plain ``open()`` executor-side); it REFUSES non-local masters rather
than silently producing a partial directory.
"""

from __future__ import annotations

import io
import json
import os
import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_MAGIC = b"Obj\x01"
_SYNC = bytes(range(16))  # fixed, deterministic sync marker


# ---------------------------------------------------------------- encoding

def zigzag_encode(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def zigzag_decode(u: int) -> int:
    return (u >> 1) ^ -(u & 1)


def write_long(buf: bytearray, n: int) -> None:
    u = zigzag_encode(n) & 0xFFFFFFFFFFFFFFFF
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def read_long(view: memoryview, pos: int) -> tuple[int, int]:
    u = 0
    shift = 0
    while True:
        b = view[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            return zigzag_decode(u), pos
        shift += 7


def _write_bytes(buf: bytearray, b: bytes) -> None:
    write_long(buf, len(b))
    buf += b


_SPARK_TO_AVRO = {
    T.LongType: "long",
    T.IntegerType: "long",
    T.ShortType: "long",
    T.DoubleType: "double",
    T.FloatType: "double",
    T.StringType: "string",
    T.BooleanType: "boolean",
    T.BinaryType: "bytes",
}


def avro_schema_of(schema: T.StructType, name: str = "row") -> dict:
    """Spark struct → Avro record schema (every field a nullable union,
    matching Spark's nullable-by-default columns)."""
    fields = []
    for f in schema.fields:
        t = _SPARK_TO_AVRO.get(type(f.dataType))
        if t is None:
            raise ValueError(
                f"unsupported Spark type for native Avro: {f.dataType} "
                f"(field {f.name!r}); cast to long/double/string first"
            )
        fields.append({"name": f.name, "type": ["null", t]})
    return {"type": "record", "name": name, "fields": fields}


def _encode_value(buf: bytearray, v, avro_type: str) -> None:
    if avro_type == "long":
        write_long(buf, int(v))
    elif avro_type == "double":
        buf += struct.pack("<d", float(v))
    elif avro_type == "string":
        _write_bytes(buf, v.encode("utf-8"))
    elif avro_type == "boolean":
        buf.append(1 if v else 0)
    elif avro_type == "bytes":
        _write_bytes(buf, bytes(v))
    else:  # pragma: no cover
        raise ValueError(f"unsupported avro type {avro_type}")


def encode_file(rows, field_types: list[tuple[str, str]],
                schema_json: str, rows_per_block: int = 4096) -> bytes:
    """Whole Avro container file for an iterable of row tuples."""
    out = bytearray()
    out += _MAGIC
    # file metadata map: one block of 2 entries, then end-of-map
    meta = bytearray()
    write_long(meta, 2)
    _write_bytes(meta, b"avro.schema")
    _write_bytes(meta, schema_json.encode("utf-8"))
    _write_bytes(meta, b"avro.codec")
    _write_bytes(meta, b"null")
    write_long(meta, 0)
    out += meta
    out += _SYNC

    block = bytearray()
    n_in_block = 0

    def flush() -> None:
        nonlocal block, n_in_block
        if not n_in_block:
            return
        write_long(out, n_in_block)
        write_long(out, len(block))
        out.extend(block)
        out.extend(_SYNC)
        block = bytearray()
        n_in_block = 0

    for row in rows:
        for v, (_, t) in zip(row, field_types):
            if v is None:
                write_long(block, 0)  # union branch 0 = null
            else:
                write_long(block, 1)  # union branch 1 = value
                _encode_value(block, v, t)
        n_in_block += 1
        if n_in_block >= rows_per_block:
            flush()
    flush()
    return bytes(out)


# ---------------------------------------------------------------- decoding

def _decode_value(view: memoryview, pos: int, avro_type: str):
    if avro_type == "long":
        return read_long(view, pos)
    if avro_type == "double":
        return struct.unpack_from("<d", view, pos)[0], pos + 8
    if avro_type == "string":
        n, pos = read_long(view, pos)
        return str(view[pos : pos + n], "utf-8"), pos + n
    if avro_type == "boolean":
        return bool(view[pos]), pos + 1
    if avro_type == "bytes":
        n, pos = read_long(view, pos)
        return bytes(view[pos : pos + n]), pos + n
    raise ValueError(f"unsupported avro type {avro_type}")  # pragma: no cover


def _skip_meta_map(view: memoryview, pos: int) -> tuple[dict, int]:
    meta: dict[str, bytes] = {}
    while True:
        count, pos = read_long(view, pos)
        if count == 0:
            return meta, pos
        if count < 0:  # negative count: byte size follows (spec)
            _, pos = read_long(view, pos)
            count = -count
        for _ in range(count):
            kn, pos = read_long(view, pos)
            key = str(view[pos : pos + kn], "utf-8")
            pos += kn
            vn, pos = read_long(view, pos)
            meta[key] = bytes(view[pos : pos + vn])
            pos += vn


def _field_types_from_schema(schema: dict) -> list[tuple[str, str]]:
    out = []
    for f in schema["fields"]:
        t = f["type"]
        if isinstance(t, list):
            non_null = [x for x in t if x != "null"]
            if len(non_null) != 1 or not isinstance(non_null[0], str):
                raise ValueError(f"unsupported union {t} in field {f['name']}")
            out.append((f["name"], non_null[0], True))
        elif isinstance(t, str):
            out.append((f["name"], t, False))
        else:
            raise ValueError(f"unsupported type {t} in field {f['name']}")
    return out


def _read_header_bytes(head: bytes) -> tuple[dict, int, bytes]:
    """(metadata map, data-start offset, sync marker) from the leading
    bytes of a container file — the single header-parsing contract,
    shared by the whole-file and block-splitting readers."""
    view = memoryview(head)
    if bytes(view[:4]) != _MAGIC:
        raise ValueError("not an Avro object container file")
    meta, pos = _skip_meta_map(view, 4)
    codec = meta.get("avro.codec", b"null")
    if codec != b"null":
        raise ValueError(f"unsupported avro codec {codec!r} (null only)")
    sync = bytes(view[pos : pos + 16])
    if len(sync) != 16:
        raise ValueError("truncated Avro header")
    return meta, pos + 16, sync


def decode_file(data: bytes) -> tuple[list[str], list[list]]:
    """(column names, column-major values) of one Avro container file."""
    meta, pos, sync = _read_header_bytes(data)
    view = memoryview(data)
    schema = json.loads(meta["avro.schema"])
    fts = _field_types_from_schema(schema)
    names = [n for n, _, _ in fts]
    cols: list[list] = [[] for _ in fts]
    total = len(data)
    while pos < total:
        count, pos = read_long(view, pos)
        size, pos = read_long(view, pos)
        end = pos + size
        for _ in range(count):
            for i, (_, t, nullable) in enumerate(fts):
                if nullable:
                    branch, pos = read_long(view, pos)
                    if branch == 0:
                        cols[i].append(None)
                        continue
                v, pos = _decode_value(view, pos, t)
                cols[i].append(v)
        if pos != end:
            raise ValueError(f"block size mismatch: {pos} != {end}")
        if bytes(view[pos : pos + 16]) != sync:
            raise ValueError("sync marker mismatch (corrupt block)")
        pos += 16
    return names, cols


# ------------------------------------------------------------- Spark-level

def write_avro(df: DataFrame, path: str, rows_per_block: int = 4096) -> int:
    """Write ``df`` as a directory of Avro container files, one per
    partition, encoded executor-side. Returns the number of files.

    Rows travel as plain Row objects (mapPartitions, not pandas): the
    per-partition imperative IO is exactly the legitimate RDD use, and
    object rows keep int64 exact where a pandas frame would coerce
    nullable longs to float64.

    Executors write with plain ``open()``, which is only correct when
    they share the driver's filesystem — true for ``local[*]`` (this
    container) and shared-NFS clusters. On any other master the write
    would SILENTLY land on executor-local disks the subsequent
    ``read_avro`` listing never sees, so refuse loudly instead."""
    master = df.sparkSession.sparkContext.master
    if not master.startswith("local"):
        raise RuntimeError(
            f"write_avro requires a driver-shared filesystem (master "
            f"{master!r}); on a cluster, write through a Hadoop-FS-backed "
            f"sink (parquet/ORC) or run the encode via foreachPartition "
            f"against a shared store"
        )
    schema = avro_schema_of(df.schema)
    schema_json = json.dumps(schema)
    fts = [(f["name"], f["type"][1]) for f in schema["fields"]]
    os.makedirs(path, exist_ok=True)

    def write_partition(idx: int, rows):
        data = encode_file(
            (tuple(r) for r in rows), fts, schema_json,
            rows_per_block=rows_per_block,
        )
        fname = os.path.join(path, f"part-{idx:05d}.avro")
        with open(fname, "wb") as f:
            f.write(data)
        yield (fname, 1)

    manifest = df.rdd.mapPartitionsWithIndex(write_partition).collect()
    return len(manifest)


def read_avro(spark: SparkSession, path: str, ddl: str) -> DataFrame:
    """Distributed Avro read: binaryFile listing → Arrow-batched
    mapInPandas block decode. ``ddl`` declares the expected schema
    (never inference — the CSV/JSONL house rule); field names are
    validated against each file's embedded schema at decode time."""
    expected = T._parse_datatype_string(ddl)
    names = [f.name for f in expected.fields]

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            for content in pdf["content"]:
                got, cols = decode_file(bytes(content))
                if got != names:
                    raise ValueError(
                        f"avro schema mismatch: file has {got}, "
                        f"reader declared {names}"
                    )
                yield pd.DataFrame(
                    {n: pd.Series(c, dtype=object) for n, c in zip(got, cols)}
                )

    # a glob in the load path makes Spark probe ``*.avro/_spark_metadata``
    # and log a FileNotFoundException per read; filter the listing instead
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.avro")
        .load(path)
    )
    return files.select("content").mapInPandas(decode, expected)


# ------------------------------------------------- block-splitting reader

def plan_avro_splits(
    path: str, split_bytes: int = 32 << 20
) -> tuple[list[tuple[str, int, int, bytes]], list[tuple[str, str, bool]]]:
    """Driver-side split plan for one file or a directory of ``*.avro``:
    returns (splits, field_types) where each split is
    ``(file, start, end, sync)``. A split owns exactly the blocks whose
    start offset p satisfies ``start <= p < end`` — the Hadoop
    input-split ownership rule, so contiguous ranges cover every block
    once. Only each file's HEADER is read here (one small driver read
    per file); block scanning happens executor-side."""
    import glob

    files = (
        sorted(glob.glob(os.path.join(path, "*.avro")))
        if os.path.isdir(path)
        else [path]
    )
    if not files:
        raise FileNotFoundError(f"no .avro files under {path}")
    splits: list[tuple[str, int, int, bytes]] = []
    fts0: list[tuple[str, str, bool]] | None = None
    for fname in files:
        size = os.path.getsize(fname)
        # headers are typically a few hundred bytes (schema JSON + codec);
        # start with one small read and grow only if the metadata map
        # actually runs past it — N sequential 4 MiB driver reads for an
        # N-file directory would be real I/O before any executor work
        chunk = 64 << 10
        while True:
            with open(fname, "rb") as fh:
                head = fh.read(min(size, chunk))
            try:
                meta, data_start, sync = _read_header_bytes(head)
                break
            except (IndexError, ValueError):
                if chunk >= size:
                    raise
                chunk *= 8
        fts = _field_types_from_schema(json.loads(meta["avro.schema"]))
        if fts0 is None:
            fts0 = fts
        elif fts != fts0:
            raise ValueError(
                f"avro schema mismatch across files: {fname} has {fts}, "
                f"expected {fts0}"
            )
        s = data_start
        while s < size:
            e = min(size, s + split_bytes)
            splits.append((fname, s, e, sync))
            s = e
    assert fts0 is not None
    return splits, fts0


def _decode_split(fname: str, start: int, end: int, sync: bytes,
                  fts: list[tuple[str, str, bool]]) -> list[list]:
    """Column-major rows of the blocks owned by one byte-range split.

    Scans for the 16-byte sync marker from ``start`` (a block starts
    immediately after each sync; the header's trailing sync makes the
    first data block uniform with the rest), then decodes consecutive
    blocks while their start offset stays inside the range — the last
    owned block may RUN PAST ``end``; mmap random access pages in only
    the bytes actually touched. A data coincidence matching the sync
    pattern fails block validation and scanning resumes one byte on."""
    import mmap

    cols: list[list] = [[] for _ in fts]
    with open(fname, "rb") as fh:
        with mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_READ) as mm:
            n = len(mm)
            view = memoryview(mm)
            try:
                return _scan_blocks(mm, view, n, start, end, sync, fts, cols)
            finally:
                # an exported view blocks mmap.close()
                view.release()


def _scan_blocks(mm, view, n, start, end, sync, fts, cols):
            search = max(0, start - 16)
            while True:
                idx = mm.find(sync, search, min(n, end))
                if idx < 0 or idx + 16 >= end:
                    return cols  # no block starts inside this range
                pos = idx + 16
                if pos < start:
                    search = idx + 1
                    continue
                # try to decode consecutive blocks from this candidate
                try:
                    got: list[list] = [[] for _ in fts]
                    first = True
                    while pos < end and pos < n:
                        count, p2 = read_long(view, pos)
                        size, p2 = read_long(view, p2)
                        blk_end = p2 + size
                        if count <= 0 or size < 0 or blk_end + 16 > n:
                            raise ValueError("implausible block header")
                        for _ in range(count):
                            for i, (_, t, nullable) in enumerate(fts):
                                if nullable:
                                    branch, p2 = read_long(view, p2)
                                    if branch == 0:
                                        got[i].append(None)
                                        continue
                                v, p2 = _decode_value(view, p2, t)
                                got[i].append(v)
                        if p2 != blk_end:
                            raise ValueError("block size mismatch")
                        if bytes(view[blk_end : blk_end + 16]) != sync:
                            raise ValueError("sync mismatch after block")
                        first = False
                        pos = blk_end + 16
                    return got
                except (ValueError, IndexError, struct.error):
                    if not first:
                        raise  # real corruption past a verified block
                    search = idx + 1  # false-positive sync in data


def read_avro_splits(
    spark: SparkSession, path: str, ddl: str, *, split_bytes: int = 32 << 20
) -> DataFrame:
    """Block-splitting Avro read: the 100 TB path for LARGE container
    files (``read_avro`` is one task per file). The driver reads only
    headers and plans byte-range splits; each task mmap-scans its range
    for the sync marker and decodes the blocks that start inside it.
    Parallelism is ``ceil(file_bytes / split_bytes)`` per file instead
    of 1."""
    expected = T._parse_datatype_string(ddl)
    names = [f.name for f in expected.fields]
    splits, fts = plan_avro_splits(path, split_bytes)
    if [n for n, _, _ in fts] != names:
        raise ValueError(
            f"avro schema mismatch: files have {[n for n, _, _ in fts]}, "
            f"reader declared {names}"
        )

    split_df = spark.createDataFrame(
        splits, "file string, start long, end long, sync binary"
    ).repartition(max(1, len(splits)))

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            for file, s, e, sync in zip(
                pdf["file"], pdf["start"], pdf["end"], pdf["sync"]
            ):
                cols = _decode_split(file, int(s), int(e), bytes(sync), fts)
                yield pd.DataFrame(
                    {
                        nm: pd.Series(c, dtype=object)
                        for (nm, _, _), c in zip(fts, cols)
                    }
                )

    return split_df.mapInPandas(decode, expected)
