"""Generic format connectors beyond the reference's CSV/XLSX/MySQL surface
(main_etl_pipeline.py:95-160 reads CSV + XLSX; db_schema.sql is the MySQL
sink): JSON-lines and ORC round-trips on Spark's native readers. Avro, whose
Spark module is optional, is written and read natively by sources/avro.py.

Scale notes: both are splittable columnar/row formats Spark reads
in parallel per file-split. JSONL carries its schema per record —
`read_jsonl` takes an explicit schema to keep the scan single-pass
(schema inference reads the data TWICE and samples types unstably;
never let it near 100 TB). ORC gets the same predicate
pushdown/column-pruning treatment as parquet. For event feeds, prefer
parquet/ORC; JSONL is the interchange/fallback format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def write_jsonl(df: DataFrame, path: str, *, compression: str | None = None) -> None:
    """One JSON object per line, split across files by partition — the
    interchange format most external corpora arrive in."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_jsonl(
    spark: SparkSession, path: str, schema: T.StructType | str
) -> DataFrame:
    """Schema-EXPLICIT JSONL scan: a declared schema keeps the read
    single-pass and the column types stable (inference double-reads and
    type-guesses per sample). Corrupt lines land in the standard
    `_corrupt_record` column when it is declared in the schema."""
    return spark.read.schema(schema).json(path)


def write_orc(df: DataFrame, path: str) -> None:
    """Columnar ORC sink (native, zlib by default) — same pushdown and
    pruning story as parquet; useful when downstream consumers are
    Hive/Trino-side."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)

