"""``sources/testdata.load_table`` on sessions the repository did not
configure: a bare session (no ``nanosAsLong`` conf) still reads
``events.parquet`` as plain TIMESTAMP, and a non-UTC session is pinned to
UTC so calendar dates match the DuckDB oracle."""

from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table


def test_load_table_events_on_bare_session(spark, sf_dir):
    """Simulate the driver's harness: a session WITHOUT
    spark.sql.legacy.parquet.nanosAsLong must still read events.parquet.
    newSession() gives an isolated SQLConf; unset drops the conf to its
    default (false), which is what a bare builder.getOrCreate() has."""
    bare = spark.newSession()
    try:
        bare.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    except Exception:
        pass
    assert bare.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "false"
    df = load_table(bare, sf_dir, "events")
    # must be exactly TIMESTAMP (LTZ): Spark 4.1+ scans TIMESTAMP(NANOS)
    # as TIMESTAMP_NTZ, which unix_micros/epoch functions reject — the
    # round-3 bench and two driver queries died on exactly that. "timestamp"
    # (not "timestamp_ntz") proves load_table normalized it.
    ts_type = dict(df.dtypes)["ts"]
    assert ts_type == "timestamp", ts_type
    n = df.where(F.unix_micros("ts").isNotNull()).count()
    assert n > 0


def test_load_table_pins_utc_on_non_utc_session(spark, sf_dir):
    """A harness session running in a non-UTC machine timezone must still
    produce the same calendar dates the (timezone-naive) DuckDB oracle
    sees: load_table pins spark.sql.session.timeZone to UTC."""
    bare = spark.newSession()
    bare.conf.set("spark.sql.session.timeZone", "America/New_York")
    df = load_table(bare, sf_dir, "events")
    assert bare.conf.get("spark.sql.session.timeZone") == "UTC"
    # a midnight-adjacent timestamp must not shift its date
    import duckdb

    want = duckdb.sql(
        f"SELECT CAST(min(CAST(ts AS DATE)) AS VARCHAR) "
        f"FROM '{sf_dir}/events.parquet'"
    ).fetchone()[0]
    got = df.select(F.min(F.to_date("ts")).cast("string")).first()[0]
    assert got == want
