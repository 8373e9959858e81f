"""Streaming hygiene: the batch PII redaction (operators/text.pii_scan)
and the contamination alerts on a file-source stream, drained with
availableNow triggers."""

import pytest

from fitness_nutrition_data_pipeline_spark.operators.text import pii_scan
from fitness_nutrition_data_pipeline_spark.streaming import contamination_alerts, drain

PATTERNS = {"email": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"}


@pytest.fixture
def doc_stream_dir(tmp_path_factory):
    base = str(tmp_path_factory.mktemp("hygiene_stream"))
    with open(f"{base}/batch1.csv", "w") as f:
        f.write("doc_id,ts,text\n")
        f.write('1,2016-04-01 10:00:00,"contact bob@example.com for alpha beta gamma delta epsilon"\n')
        f.write('2,2016-04-01 10:01:00,"clean text one two three four five six"\n')
    with open(f"{base}/batch2.csv", "w") as f:
        f.write("doc_id,ts,text\n")
        f.write('3,2016-04-01 10:02:00,"alpha beta gamma delta epsilon zeta"\n')
    return base


def _read_stream(spark, path):
    return (
        spark.readStream.schema("doc_id LONG, ts TIMESTAMP, text STRING")
        .option("header", True)
        .option("escape", '"')
        .option("maxFilesPerTrigger", 1)
        .csv(path)
    )


def test_redact_pii_stream(spark, doc_stream_dir):
    out = drain(
        pii_scan(_read_stream(spark, doc_stream_dir), "text", PATTERNS),
        "pii_stream_out",
    )
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].n_email == 1 and "[EMAIL]" in rows[1].redacted
    assert "@" not in rows[1].redacted
    assert rows[2].n_email == 0 and rows[3].n_email == 0


def test_contamination_alerts_stream(spark, doc_stream_dir):
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    out = drain(
        contamination_alerts(
            _read_stream(spark, doc_stream_dir), bench, "doc_id", "text", n=5
        ),
        "contamination_alerts_out",
    )
    rows = out.collect()
    # doc 1 ends with the full benchmark 5-gram once; doc 3 contains two
    # 5-grams of which both hit ("alpha..epsilon", "beta..zeta" → only the
    # first is in the benchmark); doc 2 never alerts
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.gram)
    assert set(by_doc) == {1, 3}
    assert by_doc[1] == ["alpha beta gamma delta epsilon"]
    assert by_doc[3] == ["alpha beta gamma delta epsilon"]
