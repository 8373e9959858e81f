"""JSONL / ORC round-trips (sources/formats.py): value-identical to the
parquet source, schema-stable, pushdown-capable (ORC)."""

import contextlib
import io
import os

from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.sources.formats import (
    read_jsonl,
    read_orc,
    write_jsonl,
    write_orc,
)
from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table


def test_jsonl_roundtrip(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("jsonl"))
    docs = load_table(spark, sf_dir, "documents")
    write_jsonl(docs, os.path.join(d, "docs"))
    schema = docs.schema
    back = read_jsonl(spark, os.path.join(d, "docs"), schema)
    assert back.schema == schema
    a = sorted(map(tuple, docs.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_jsonl_corrupt_record_capture(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("jsonl_bad"))
    with open(os.path.join(d, "part-0.json"), "w") as f:
        f.write('{"doc_id": 1, "text": "ok"}\n')
        f.write("this is not json\n")
        f.write('{"doc_id": 2, "text": "also ok"}\n')
    back = read_jsonl(
        spark, d, "doc_id long, text string, _corrupt_record string"
    )
    rows = back.collect()
    assert len(rows) == 3
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(bad) == 1 and bad[0].doc_id is None


def test_orc_roundtrip_and_pushdown(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("orc"))
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    write_orc(li, os.path.join(d, "li"))
    back = read_orc(spark, os.path.join(d, "li"))
    assert back.count() == li.count()
    # predicate pushdown reaches the ORC scan like parquet
    q = back.where(F.col("l_quantity") > 30).select("l_extendedprice")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain(mode="formatted")
    plan = buf.getvalue()
    assert "PushedFilters:" in plan and "l_quantity" in plan


def test_scratch_path_managed(spark, monkeypatch, tmp_path):
    """ADVICE r10: query scratch must live under ONE per-application
    root (atexit-cleaned), never ad-hoc /tmp trees that accumulate."""
    import fitness_nutrition_data_pipeline_spark.scratch as S

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    p = S.scratch_path(spark, "tag", "csv_customer")
    app = spark.sparkContext.applicationId
    root = os.path.join(str(tmp_path), f"spark_graft_scratch_{app}")
    assert p == os.path.join(root, "tag", "csv_customer")
    assert root in S._CLEANUP_REGISTERED  # atexit rmtree registered
