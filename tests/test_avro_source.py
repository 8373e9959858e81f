"""Native Avro source (sources/avro.py): spec known-vectors for the
varint/zigzag layer, container-file golden bytes, and the distributed
writer/reader roundtrip including nulls, negatives, unicode, empty
partitions and byte-range splits. ``decode_file`` is a whole-file
reference decoder the split reader is checked against."""

import json

from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.sources.avro import (
    _decode_value,
    _field_types_from_schema,
    _read_header_bytes,
    encode_file,
    read_avro,
    read_long,
    write_avro,
    write_long,
    zigzag_decode,
    zigzag_encode,
)


def decode_file(data: bytes) -> tuple[list[str], list[list]]:
    """(column names, column-major values) of one whole Avro container
    file, decoded block by block from the header on."""
    meta, pos, sync = _read_header_bytes(data)
    view = memoryview(data)
    fts = _field_types_from_schema(json.loads(meta["avro.schema"]))
    cols: list[list] = [[] for _ in fts]
    while pos < len(data):
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
        assert pos == end, f"block size mismatch: {pos} != {end}"
        assert bytes(view[pos : pos + 16]) == sync, "sync marker mismatch"
        pos += 16
    return [n for n, _, _ in fts], cols

# Avro spec / protobuf varint examples: value -> zigzag
_ZIGZAG_VECTORS = [(0, 0), (-1, 1), (1, 2), (-2, 3), (2, 4),
                   (2147483647, 4294967294), (-2147483648, 4294967295)]


def test_zigzag_known_vectors():
    for n, z in _ZIGZAG_VECTORS:
        assert zigzag_encode(n) == z, n
        assert zigzag_decode(z) == n, z


def test_varint_roundtrip_and_spec_bytes():
    # spec: value 1 encodes as 0x02, value -64 as 0x7f, 64 as 0x80 0x01
    for val, expect in [(1, b"\x02"), (-64, b"\x7f"), (64, b"\x80\x01")]:
        buf = bytearray()
        write_long(buf, val)
        assert bytes(buf) == expect, val
    for val in [0, 1, -1, 63, -64, 64, 2**40, -(2**40), 2**62, -(2**62)]:
        buf = bytearray()
        write_long(buf, val)
        got, pos = read_long(memoryview(bytes(buf)), 0)
        assert (got, pos) == (val, len(buf)), val


def test_container_file_roundtrip_pure_python():
    fts = [("id", "long"), ("name", "string"), ("score", "double"),
           ("ok", "boolean"), ("blob", "bytes")]
    schema = {
        "type": "record", "name": "row",
        "fields": [{"name": n, "type": ["null", t]} for n, t in fts],
    }
    rows = [
        (1, "héllo wörld", 1.5, True, b"\x00\xff"),
        (-7, None, None, False, b""),
        (None, "", 0.0, None, None),
    ]
    data = encode_file(rows, fts, json.dumps(schema), rows_per_block=2)
    names, cols = decode_file(data)
    assert names == [n for n, _ in fts]
    got = list(zip(*cols))
    assert got == rows
    # header sanity: magic + parsable by a fresh decode
    assert data[:4] == b"Obj\x01"


def test_spark_roundtrip_with_nulls_and_empty_partitions(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, None), (3, "ü", -2.25),
         (-(2**53 + 1), "big", 0.0)],
        "id long, s string, x double",
    ).repartition(6)  # more partitions than rows -> empty partitions
    path = str(tmp_path / "avro_rt")
    n_files = write_avro(df, path)
    assert n_files == 6
    back = read_avro(spark, path, "id long, s string, x double")
    assert back.schema.simpleString() == df.schema.simpleString()
    rows = {tuple(r) for r in back.collect()}
    assert rows == {tuple(r) for r in df.collect()}
    # int64 exactness beyond float53 — the pandas-coercion trap avoided
    assert (-(2**53 + 1),) in {(r["id"],) for r in back.collect()}


def test_reader_rejects_schema_mismatch(spark, tmp_path):
    import pytest

    df = spark.createDataFrame([(1, "a")], "id long, s string")
    path = str(tmp_path / "avro_mm")
    write_avro(df, path)
    with pytest.raises(ValueError, match="schema mismatch"):
        read_avro(spark, path, "wrong long, s string")


def test_documents_roundtrip_aggregate(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    path = str(tmp_path / "avro_docs")
    write_avro(docs.select("doc_id", "text", "lang", "n_chars"), path)
    back = read_avro(
        spark, path, "doc_id long, text string, lang string, n_chars long"
    )
    want = docs.agg(
        F.count("*").alias("n"), F.sum("n_chars").alias("c"),
        F.sum(F.md5("text").substr(1, 4).cast("string").startswith("0").cast("int")).alias("h"),
    ).first()
    got = back.agg(
        F.count("*").alias("n"), F.sum("n_chars").alias("c"),
        F.sum(F.md5("text").substr(1, 4).cast("string").startswith("0").cast("int")).alias("h"),
    ).first()
    assert tuple(got) == tuple(want)


def _big_multiblock_file(tmp_path, n_rows=5000, rows_per_block=100):
    """One container file with many small blocks (50 here), written via
    the spec encoder directly so the reader splits a SINGLE file into
    several byte ranges."""
    import os

    fts = [("id", "long"), ("s", "string"), ("x", "double")]
    schema = {
        "type": "record",
        "name": "row",
        "fields": [{"name": n, "type": ["null", t]} for n, t in fts],
    }
    rows = [
        (i, f"doc-{i}" if i % 7 else None, i * 0.5 if i % 5 else None)
        for i in range(n_rows)
    ]
    data = encode_file(rows, fts, json.dumps(schema), rows_per_block=rows_per_block)
    path = os.path.join(str(tmp_path), "big.avro")
    with open(path, "wb") as f:
        f.write(data)
    return path, rows


def test_split_reader_multiblock_roundtrip(spark, tmp_path):
    """A single multi-block file must read with >1 task under small
    splits and round-trip equal to the whole-file reference decode."""
    from fitness_nutrition_data_pipeline_spark.sources.avro import plan_avro_splits

    path, rows = _big_multiblock_file(tmp_path)
    # small split size so the plan genuinely fans out
    splits, fts = plan_avro_splits(path, split_bytes=16 << 10)
    assert len(splits) > 1, "file must split into multiple byte ranges"
    starts = [s for _, s, _, _ in splits]
    ends = [e for _, _, e, _ in splits]
    assert starts[1:] == ends[:-1], "ranges must be contiguous"

    back = read_avro(spark, path, "id long, s string, x double",
                     split_bytes=16 << 10)
    assert back.rdd.getNumPartitions() > 1
    got = sorted((r["id"], r["s"], r["x"]) for r in back.collect())
    assert got == sorted(rows)

    # whole-file reference decode agrees
    with open(path, "rb") as f:
        names, cols = decode_file(f.read())
    whole = sorted(zip(*cols))
    assert got == whole


def test_directory_read_matches_source_rows(spark, tmp_path):
    """Directory of writer-emitted files, each cut into several splits:
    the rows read back are the source rows, each exactly once."""
    from fitness_nutrition_data_pipeline_spark.sources.avro import plan_avro_splits

    df = spark.range(0, 997).select(
        F.col("id"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
        (F.col("id") * 1.5).alias("x"),
    ).repartition(4)
    path = str(tmp_path / "dirsplit")
    write_avro(df, path, rows_per_block=50)
    splits, _ = plan_avro_splits(path, split_bytes=2 << 10)
    assert len(splits) > 4, "every file must split into several ranges"
    back = read_avro(spark, path, "id long, s string, x double",
                     split_bytes=2 << 10)
    got = sorted(tuple(r) for r in back.collect())
    assert got == sorted(tuple(r) for r in df.collect()) and len(got) == 997


def test_split_reader_survives_sync_collision(spark, tmp_path):
    """A payload containing the exact 16-byte sync pattern must not
    derail the scan: the false candidate fails block validation and the
    reader resumes one byte on."""
    import os

    from fitness_nutrition_data_pipeline_spark.sources.avro import _SYNC

    fts = [("id", "long"), ("b", "bytes")]
    schema = {
        "type": "record",
        "name": "row",
        "fields": [{"name": n, "type": ["null", t]} for n, t in fts],
    }
    rows = [(i, bytes(_SYNC) + b"tail" if i % 3 == 0 else b"x") for i in range(600)]
    data = encode_file(rows, fts, json.dumps(schema), rows_per_block=50)
    path = os.path.join(str(tmp_path), "collide.avro")
    with open(path, "wb") as f:
        f.write(data)
    back = read_avro(spark, path, "id long, b binary", split_bytes=4 << 10)
    got = sorted((r["id"], bytes(r["b"])) for r in back.collect())
    assert got == sorted(rows)
