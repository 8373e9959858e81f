"""Loaders for the driver's synthetic parquet tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under an sf directory.

Scans are ``spark.read.parquet`` so Catalyst keeps full predicate
pushdown / column pruning; at cluster scale the same call reads a
partitioned directory tree and prunes partitions for free.

Schema registry: Spark runs one schema-inference job per bare
``spark.read.parquet`` call, even on a single file. The first
``load_table`` of a file infers as usual and records the schema; later
reads pass it back through ``spark.read.schema(...)``, which starts no job
and yields the same plan, pushdown and rows. The key is the resolved path,
the file's size and ``st_mtime_ns`` (what Spark's file index records per
file), the session's application id, and the confs that change what
parquet inference returns (``_SCHEMA_CONFS``). A rewritten file, a new
session or a changed conf therefore misses and is re-inferred, never
trusted stale. Paths that are not a regular file (a directory of parts)
or cannot be ``stat``-ed are always inferred. Only the current
application's entries are kept.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Scan parallelism: each testdata table is ONE parquet file with ONE row
# group, so every scan stage — and with it ALL pre-shuffle map work
# (explode, md5, filters, projections) — executes as a single task no
# matter how many cores the session has. The guide's prescription for
# unsplittable input is to repartition immediately after the read.
# Measured at sf0.1/local[32]
# (quiet host, bracketing probes): this pays ONLY for the two tables
# whose per-row map work is genuinely heavy — documents (shingle
# explode + md5 MinHash, regex tokenization: ngram_jaccard_pairs
# 1.28→0.53 s, minhash_lsh_buckets 1.32→0.84 s, simhash_signatures
# 1.12→0.82 s) and embeddings (512-dim array math:
# embedding_knn_bruteforce 0.61→0.51 s). For orders/lineitem/events the
# same change was a measured REGRESSION (star_join_topk 0.53→0.93 s,
# recent_window_topk 0.33→0.82 s, tpch_q1 0.52→0.77 s): their map work
# is cheap column arithmetic, so the added exchange is pure cost and is
# NOT reliably reused downstream (different grouping keys) — so they are
# deliberately absent. The key is the table's canonical join/agg key so
# the one exchange IS reused where downstream keys match (guide §2.4:
# minhash's groupBy(doc_id) becomes exchange-free). HASH repartition,
# not round-robin: deterministic row→partition mapping (safe under task
# retry, SPARK-38388) and no sort-before-repartition pass. The partition
# count comes from spark.sql.shuffle.partitions (cluster-adaptive,
# local[CPUS] default = CPUS). The gate self-disables at scale: a table
# already scanned with >= that many splits (any real multi-file table at
# cluster scale) is returned untouched.
_PARALLELIZE_KEYS = {
    "documents": "doc_id",
    "embeddings": "vec_id",
}

_SCHEMA_CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)
# application id -> {(path, size, mtime_ns, *conf values) -> schema}. A
# module-level registry because every caller reaches it through
# ``load_table``'s fixed signature; only the current application is kept.
_schemas: dict[str, dict[tuple, T.StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only on the
    first read of a file in a session (module docstring)."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    app = spark.sparkContext.applicationId
    known = _schemas.get(app)
    if known is None:
        _schemas.clear()
        known = _schemas.setdefault(app, {})
    key = (
        os.path.realpath(path), st.st_size, st.st_mtime_ns,
        *(spark.conf.get(c) for c in _SCHEMA_CONFS),
    )
    schema = known.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    known[key] = df.schema
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, *, parallelize: bool = True
) -> DataFrame:
    # events.ts is parquet TIMESTAMP(NANOS). What the scan yields depends on
    # the Spark version and session confs of whoever built the session:
    #   - long nanos   (spark.sql.legacy.parquet.nanosAsLong=true, Spark ≤4.0)
    #   - TIMESTAMP_NTZ (Spark 4.1+ reads NANOS natively, micro-truncated)
    #   - error         (Spark ≤4.0 without the legacy conf)
    # load_table must work on ANY caller-provided session (e.g. a bare
    # SparkSession.builder.getOrCreate()), so set the legacy conf (harmless
    # where it's inert) and normalize whatever type comes back to a plain
    # session-TZ TIMESTAMP at microsecond precision.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Timestamp arithmetic / date extraction must agree with the DuckDB
    # oracle (which is timezone-naive): pin the session to UTC so results
    # don't depend on the machine timezone of whatever harness calls us.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # integer division — float division loses precision (epoch-nanos
            # exceed double's 2^53 exact-integer range)
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            # NTZ → LTZ cast interprets the wall-clock in the session TZ;
            # pinned to UTC above, so the epoch matches DuckDB's naive view.
            # LTZ is required downstream (unix_micros rejects TIMESTAMP_NTZ).
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    # ``parallelize=False`` opts a query out of the gate below: for
    # aggregate-pushdown shapes whose FIRST
    # operation collapses rows map-side (vocab_inventory's tokenize →
    # partial-agg), the exchange ships the full text payload to buy map
    # parallelism the partial aggregate doesn't need — a measured −34%
    # (0.585→0.883 s driver). Such queries keep the raw single-task scan
    # locally; at cluster scale their multi-file scans are parallel anyway.
    key = _PARALLELIZE_KEYS.get(name) if parallelize else None
    if key is not None:
        n_target = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        # .rdd only plans (no job); its partition count is the scan's
        # split count. Under-parallelized (single-file) input → spread
        # the map work; already-parallel input (real multi-file tables
        # at scale) → leave the scan alone.
        if df.rdd.getNumPartitions() < n_target:
            df = df.repartition(n_target, F.col(key))
    return df

