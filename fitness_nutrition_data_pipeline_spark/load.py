"""Warehouse load layer (SURVEY §2.1 S4-S5).

The reference DDL-replays db_schema.sql into MySQL and appends via to_sql
in dependency order (main_etl_pipeline.py:714-794). Spark-natively the
warehouse is parquet: overwrite ≙ DROP/CREATE (db_schema.sql:10-27), the
same Dims→Bridges→Facts order, each table registered as a view for the
validation corpus / downstream SQL. An optional JDBC mirror keeps MySQL
parity where a server exists.

Scale notes (100 TB posture, encoded here even though local data is tiny):
- facts support partitionBy (DateKey) so date-window queries prune
  partitions at the scan;
- fact surrogate keys are ``monotonically_increasing_id`` — unique without
  any coordination or shuffle (the AUTO_INCREMENT equivalent; dense 1..N
  would force a global ordering for no analytical benefit).
"""

from __future__ import annotations

import functools
import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.parallel import declare_parallel

logger = logging.getLogger(__name__)

LOAD_ORDER = [
    "Dim_Date", "Dim_User", "Dim_FitnessGoal", "Dim_FitnessType",
    "Dim_HealthCondition", "Dim_Exercise", "Dim_Diet", "Dim_FoodItem",
    "Dim_MetricType", "Dim_WorkoutType", "Dim_MealType",
    "Bridge_User_HealthCondition", "Bridge_User_WorkoutPreference",
    "Bridge_User_DietPreference",
    "Fact_UserSnapshot", "Fact_WorkoutSession", "Fact_HealthMetric",
    "Fact_NutritionLog",
]

FACT_SURROGATES = {
    "Fact_UserSnapshot": "SnapshotKey",
    "Fact_WorkoutSession": "SessionKey",
    "Fact_HealthMetric": "MetricKey",
    "Fact_NutritionLog": "LogKey",
}

PARTITIONED_FACTS = ("Fact_WorkoutSession", "Fact_HealthMetric", "Fact_NutritionLog")


def load_warehouse(
    spark: SparkSession,
    warehouse: dict[str, DataFrame],
    warehouse_dir: str,
    *,
    partition_facts: bool = False,
) -> dict[str, str]:
    """Write all tables and register each as a temp view; returns
    table → path in dependency order.

    The reference's Dims→Bridges→Facts ordering exists for MySQL FK
    checks (main_etl_pipeline.py:757-764); parquet tables have no write
    dependencies, so the writes run CONCURRENTLY, one thread per table —
    Spark schedules independent jobs in parallel and each tiny table's
    job-submission overhead overlaps instead of serializing. (An actual
    JDBC mirror with FK checks must keep the sequential order — see
    ``mirror_to_jdbc``.) Returned paths preserve LOAD_ORDER.
    """
    present = [n for n in LOAD_ORDER if n in warehouse]
    for name in LOAD_ORDER:
        if name not in warehouse:
            logger.warning("table %s not found in transformed data, skipping", name)
            # drop any stale view from a previous run in this session —
            # overwrite ≙ DROP/CREATE applies to absent tables too
            spark.catalog.dropTempView(name)

    def write_one(name: str) -> str:
        df = warehouse[name]
        if name in FACT_SURROGATES:
            df = df.withColumn(FACT_SURROGATES[name], F.monotonically_increasing_id())
        path = os.path.join(warehouse_dir, name.lower())
        writer = df.write.mode("overwrite")
        if partition_facts and name in PARTITIONED_FACTS:
            writer = writer.partitionBy("DateKey")
        writer.parquet(path)
        # register on the writer thread: each registration is a py4j
        # round trip + parquet footer read (~0.1 s), and a sequential
        # post-pass of 18 of them was ~1.5 s of driver wall-clock; the
        # catalog is concurrent and names are distinct
        spark.read.parquet(path).createOrReplaceTempView(name)
        return path

    try:
        return declare_parallel(
            [(n, functools.partial(write_one, n)) for n in present],
            max_workers=len(present),
        )
    except Exception:
        # views register on the writer threads, so by the time one write
        # fails, siblings may already have registered theirs — a caller
        # that catches and retries must not observe a partially-populated
        # catalog. declare_parallel joins every writer before the error
        # leaves it, so no sibling can re-register after this sweep.
        for name in present:
            try:
                spark.catalog.dropTempView(name)
            except Exception:  # noqa: BLE001
                logger.warning("cleanup: could not drop temp view %s", name)
        raise


def write_bucketed(
    df: DataFrame, table_name: str, key: str, n_buckets: int
) -> None:
    """Persist a table bucketed + sorted on its join key. Joins between
    tables bucketed the same way need NO shuffle — the disk-layout
    equivalent of the reference's fact-FK B-tree indexes
    (db_schema.sql:211-218), paid once at write time."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # an in-memory catalog forgets the table between sessions but the
    # managed location survives — clear it or saveAsTable refuses
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(os.path.join(wh, table_name.lower()), ignore_errors=True)
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table_name)  # managed table in spark.sql.warehouse.dir
    )


def write_zordered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    *,
    bits: int = 8,
    n_files: int = 8,
    bands: int | None = None,
) -> None:
    """Z-order-clustered parquet write: the lakehouse clustering
    primitive as an actual writer (operators/layout.py provides the
    curve key; zorder_locality_stats measures the effect; this applies
    it to storage).

    Quantizes (x, y) onto the Morton grid using their global min/max
    (one tiny aggregate, broadcast back — no collect), range-partitions
    by the interleaved key into ``n_files`` disjoint key bands, sorts
    within each, writes. Every output file then spans a NARROW min/max
    band on BOTH dimensions, so parquet footer pruning skips files for
    filters on either column — single-column sorting gives perfect
    pruning on one dimension and none on the other. At 100 TB this is
    the layout that makes selective two-dimensional scans cheap; the
    write itself is one range shuffle, the same cost class as any
    sorted write."""
    from fitness_nutrition_data_pipeline_spark.operators.layout import quantize, zvalue

    bounds = df.agg(
        F.min(x_col).alias("_xlo"),
        F.max(x_col).alias("_xhi"),
        F.min(y_col).alias("_ylo"),
        F.max(y_col).alias("_yhi"),
    )
    keyed = df.crossJoin(F.broadcast(bounds)).withColumn(
        "_z",
        zvalue(
            quantize(F.col(x_col), F.col("_xlo"), F.col("_xhi"), bits),
            quantize(F.col(y_col), F.col("_ylo"), F.col("_yhi"), bits),
            bits,
        ),
    ).drop("_xlo", "_xhi", "_ylo", "_yhi")
    if bands is not None:
        # Deterministic band mode: file boundaries are the TOP bits of
        # the z-key (band = z >> (2*bits - log2(bands))), not sampled
        # range bounds — same clustering quality class, but the band of
        # every row is a pure function of its values, so an external
        # oracle can recompute the banding from the source relation and
        # hash-check what the writer actually put on disk
        # (zorder_write_band_spans). Sampled repartitionByRange can't
        # make that promise (bounds vary run to run).
        if bands < 1 or bands > 4**bits or bands & (bands - 1):
            raise ValueError(
                f"bands must be a power of two in [1, 4**bits={4**bits}]"
            )
        shift = 2 * bits - (bands.bit_length() - 1)
        banded = keyed.withColumn(
            "_zband", F.shiftright("_z", shift).cast("int")
        )
        (
            banded.repartition(bands, "_zband")
            .sortWithinPartitions("_zband", "_z")
            .drop("_z")
            .write.mode("overwrite")
            .partitionBy("_zband")
            .parquet(path)
        )
        return
    (
        keyed.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def mirror_to_jdbc(
    warehouse: dict[str, DataFrame], url: str, properties: dict[str, str]
) -> None:
    """Optional MySQL-parity sink (S4): append in dependency order via JDBC
    (reference main_etl_pipeline.py:752-794)."""
    for name in LOAD_ORDER:
        if name in warehouse:
            warehouse[name].write.format("jdbc").option("url", url).option(
                "dbtable", name.lower()
            ).options(**properties).mode("append").save()


def _jdbc_connection(spark: SparkSession, url: str, properties: dict[str, str]):
    """Driver-side JDBC connection (for the DDL the Spark writer cannot
    express: renames, existence checks). Uses the same driver class AND
    the same credentials the writer uses — user/password/etc. from the
    properties dict are forwarded via java.util.Properties, so the swap
    works against authenticated targets (the reference mirrors to
    credentialed MySQL, config.py:7-12), not only credential-less
    embedded DBs like the Derby test harness."""
    jvm = spark._jvm
    if "driver" in properties:
        jvm.java.lang.Class.forName(properties["driver"])
    props = jvm.java.util.Properties()
    for k, v in properties.items():
        if k != "driver":
            props.setProperty(k, str(v))
    return jvm.java.sql.DriverManager.getConnection(url, props)


def _jdbc_table_exists(conn, table: str) -> bool:
    """Existence check that respects the engine's identifier folding.

    Unquoted identifiers are stored upper-cased on Derby/Oracle,
    lower-cased on Postgres, and as-written on MySQL-on-Linux —
    DatabaseMetaData.stores{Upper,Lower}CaseIdentifiers() says which.
    Probe the folded casing first, then the other two as a fallback for
    engines that report neither (mixed-case / case-sensitive stores).

    getTables takes a PATTERN, where '_' matches any one char — so
    ``fact_workoutsession`` could false-positive against another table
    and send the swap's RENAME at a live table that doesn't exist
    (ADVICE r11). Escaping with getSearchStringEscape is NOT sufficient:
    Derby (at least) declares an EMPTY escape string, so the decisive
    check is an EXACT compare of each returned TABLE_NAME against the
    probed casing — the escape, when the driver has one, merely narrows
    the candidate set."""
    md = conn.getMetaData()
    esc = md.getSearchStringEscape() or ""

    def _pat(name: str) -> str:
        if not esc:
            return name
        return (
            name.replace(esc, esc + esc)
            .replace("_", esc + "_")
            .replace("%", esc + "%")
        )

    if md.storesUpperCaseIdentifiers():
        casings = (table.upper(), table, table.lower())
    elif md.storesLowerCaseIdentifiers():
        casings = (table.lower(), table, table.upper())
    else:
        casings = (table, table.lower(), table.upper())
    seen = set()
    for cased in casings:
        if cased in seen:
            continue
        seen.add(cased)
        rs = md.getTables(None, None, _pat(cased), None)
        try:
            while rs.next():
                if rs.getString(3) == cased:  # TABLE_NAME, exact
                    return True
        finally:
            rs.close()
    return False


def _jdbc_exec(conn, sql: str) -> None:
    st = conn.createStatement()
    try:
        st.executeUpdate(sql)
    finally:
        st.close()


def mirror_to_jdbc_idempotent(
    warehouse: dict[str, DataFrame], url: str, properties: dict[str, str]
) -> None:
    """Exactly-once JDBC mirror: write-staging-then-rename-swap, so a
    RETRIED load converges to the same table contents instead of
    appending duplicates (``mirror_to_jdbc``'s append mode is
    at-least-once — a crashed-and-retried orchestration doubles rows).

    Per table, in dependency order: (1) repair any crashed swap — a
    missing live table with a ``_old`` sidecar rolls back; a stale
    ``_old`` next to a live table is superseded garbage; (2) overwrite
    ``{table}_stg`` via the Spark JDBC writer (partition-parallel);
    (3) swap with two renames on a driver connection. Every step is
    idempotent or repairable, the streaming/ivm.py swap protocol
    re-expressed in DDL; a crash in any window either rolls back (the
    retry rewrites staging) or rolls forward (the retry's overwrite of
    staging is the only repeated work).

    Dialect note (the ``RENAME TABLE`` syntax is MySQL/Derby): on
    ``jdbc:mysql:`` URLs the swap is emitted as ONE multi-table
    ``RENAME TABLE live TO old, stg TO live`` statement — atomic in
    MySQL, so concurrent readers never observe a missing live table.
    Derby (the test harness) lacks multi-table rename and keeps the
    two-step form, which is retry-safe (the contract) but not atomic
    for concurrent readers — nightly-mirror semantics there, not
    online schema migration. Other dialects (Postgres spells it
    ``ALTER TABLE RENAME``) are out of scope and rejected loudly by
    their own engines rather than silently mangled here.
    """
    spark = next(iter(warehouse.values())).sparkSession
    atomic = _is_mysql_url(url)
    conn = _jdbc_connection(spark, url, properties)
    try:
        for name in LOAD_ORDER:
            if name not in warehouse:
                continue
            live, stg, old = name.lower(), f"{name.lower()}_stg", f"{name.lower()}_old"
            # (1) repair a crashed swap
            if not _jdbc_table_exists(conn, live) and _jdbc_table_exists(conn, old):
                _jdbc_exec(conn, f"RENAME TABLE {old} TO {live}")
            if _jdbc_table_exists(conn, old):
                _jdbc_exec(conn, f"DROP TABLE {old}")
            # (2) stage (overwrite drops + recreates — itself idempotent)
            (
                warehouse[name]
                .write.format("jdbc")
                .option("url", url)
                .option("dbtable", stg)
                .options(**properties)
                .mode("overwrite")
                .save()
            )
            # (3) swap
            for stmt in _swap_statements(live, stg, old, _jdbc_table_exists(conn, live), atomic):
                _jdbc_exec(conn, stmt)
            if _jdbc_table_exists(conn, old):
                _jdbc_exec(conn, f"DROP TABLE {old}")
    finally:
        conn.close()


def _is_mysql_url(url: str) -> bool:
    return url.lower().startswith(("jdbc:mysql:", "jdbc:mariadb:"))


def _swap_statements(
    live: str, stg: str, old: str, live_exists: bool, atomic: bool
) -> list[str]:
    """DDL for the staging→live swap. MySQL/MariaDB get the atomic
    single-statement multi-table rename (readers never see a missing
    ``live``); engines without it (Derby) get the two-step form."""
    if not live_exists:
        return [f"RENAME TABLE {stg} TO {live}"]
    if atomic:
        return [f"RENAME TABLE {live} TO {old}, {stg} TO {live}"]
    return [f"RENAME TABLE {live} TO {old}", f"RENAME TABLE {stg} TO {live}"]


def upsert_partitions(
    df: DataFrame, path: str, partition_col: str = "DateKey"
) -> None:
    """Idempotent partition-level upsert: dynamic partition overwrite
    replaces exactly the partitions present in ``df`` and leaves the rest
    of the table untouched — re-running a day's load is a no-op, late data
    for a day replaces that day only. The incremental-load primitive the
    reference lacks (it DROP/CREATEs the world every run,
    main_etl_pipeline.py:714-750)."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def split_quarantine(
    df: DataFrame, rules: dict[str, "F.Column"]
) -> tuple[DataFrame, DataFrame]:
    """Quality gate at load time: rows violating any rule go to a
    quarantine DataFrame annotated with the failed rule names; clean rows
    pass through. One pass, no Python predicates.

    rules: name → boolean Column that is True when the row VIOLATES.
    """
    flags = [F.when(cond, F.lit(name)) for name, cond in rules.items()]
    annotated = df.withColumn(
        "_violations", F.array_compact(F.array(*flags))
    )
    clean = annotated.where(F.array_size("_violations") == 0).drop("_violations")
    quarantined = annotated.where(F.array_size("_violations") > 0).withColumn(
        "violated_rules", F.concat_ws(",", "_violations")
    ).drop("_violations")
    return clean, quarantined
