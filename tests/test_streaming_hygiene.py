"""Contamination alerts (streaming/hygiene.py): one row per (doc,
matched benchmark gram)."""

from fitness_nutrition_data_pipeline_spark.streaming.hygiene import contamination_alerts


def test_contamination_alerts(spark):
    docs = spark.createDataFrame(
        [
            (1, "contact bob@example.com for alpha beta gamma delta epsilon"),
            (2, "clean text one two three four five six"),
            (3, "alpha beta gamma delta epsilon zeta"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    rows = contamination_alerts(docs, bench, "doc_id", "text", n=5).collect()
    # doc 1 ends with the full benchmark 5-gram once; doc 3 contains two
    # 5-grams ("alpha..epsilon", "beta..zeta") of which only the first is
    # in the benchmark; doc 2 never alerts
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.gram)
    assert set(by_doc) == {1, 3}
    assert by_doc[1] == ["alpha beta gamma delta epsilon"]
    assert by_doc[3] == ["alpha beta gamma delta epsilon"]
