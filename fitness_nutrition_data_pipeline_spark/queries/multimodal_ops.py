"""Driver-visible multimodal surface.

The testdata has no binary table, so these queries make the mapInPandas
plumbing of the binary operators (operators/multimodal.py) driver-visible:
they synthesize a deterministic media table FROM the documents parquet
(utf-8 payload bytes behind a real container magic number chosen by
doc_id), then run the actual production path — JVM-side magic-number
sniffing at scan time, Arrow-batched byte-histogram feature extraction in
``mapInPandas`` — and reduce to per-format summaries.

Every payload byte is a pure function of the
source row, so even the HISTOGRAM stage is oracle-checkable — the
normalized float32 shares invert to exact integer bin counts
(round(share × size)), and DuckDB recomputes those counts from the magic
constants plus regexp char-class counts over the text. A hash match
therefore proves the Arrow-batch Python stage byte-for-byte, not just
the metadata path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.operators.multimodal import (
    attach_metadata,
    byte_histogram_features,
)
from fitness_nutrition_data_pipeline_spark.queries import register
from fitness_nutrition_data_pipeline_spark.sources.testdata import load_table

# real container magics (png / jpeg / gif / wav-riff), cycled by doc_id
_MAGIC_BYTES = (
    b"\x89PNG\r\n\x1a\n",
    b"\xff\xd8\xff\xe0",
    b"GIF89a",
    b"RIFF",
)


def _synthesize_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (media_id, payload) with a deterministic container
    magic prefixed to the utf-8 text bytes. Stands in for a real binary
    column; every byte is a pure function of the source row."""
    d = load_table(spark, sf_dir, "documents")
    magic = None
    for i, m in enumerate(_MAGIC_BYTES):
        cond = F.pmod(F.col("doc_id"), F.lit(len(_MAGIC_BYTES))) == i
        lit = F.lit(bytearray(m))
        magic = F.when(cond, lit) if magic is None else magic.when(cond, lit)
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.concat(magic, F.encode("text", "UTF-8")).alias("payload"),
    )


@register(
    "multimodal_format_profile",
    """
    WITH media AS (
      SELECT doc_id % 4 AS fmt_idx,
             CASE doc_id % 4
               WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 6 ELSE 4
             END + octet_length(encode(text)) AS size_bytes,
             CASE doc_id % 4 WHEN 0 THEN 3 ELSE 0 END
               + (length(text)
                  - length(regexp_replace(text, '[\\x00-\\x0f]', '', 'g')))
               AS bin0,
             CASE doc_id % 4 WHEN 2 THEN 1 ELSE 0 END
               + (length(text)
                  - length(regexp_replace(text, '[\\x60-\\x6f]', '', 'g')))
               AS bin6
      FROM documents WHERE text IS NOT NULL
    )
    SELECT CASE fmt_idx WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                        WHEN 2 THEN 'gif' ELSE 'riff' END AS format,
           count(*) AS n_media,
           CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
           CAST(sum(bin0) AS BIGINT) AS bin0_bytes,
           CAST(sum(bin6) AS BIGINT) AS alpha_lo_bytes
    FROM media GROUP BY fmt_idx
    ORDER BY format
    """,
    doc="Multimodal ingest profile: synthesized binary payloads → "
    "scan-time magic-number sniff (pure Column expr — metadata filters "
    "never wake Python) → 16-bin byte-histogram features via Arrow-"
    "batched mapInPandas → per-format counts, byte mass, and two "
    "histogram bins recovered as EXACT integers (round(share × size) "
    "inverts the float32 normalization losslessly while sizes stay "
    "under 2^23 bytes). The bin counts are derivable ONLY from the "
    "Python feature stage's output, yet the oracle recomputes them in "
    "SQL — bin0 (bytes 0x00-0x0f) is 3 per png magic and whatever "
    "control chars the text carries; bin6 (0x60-0x6f) is the "
    "backtick..'o' mass of the text plus the 'a' in GIF89a — closing "
    "what would otherwise be a rows-only check. The real "
    "100 TB shape: blobs stay in their parquet row groups, one Arrow "
    "batch of payloads per task, histogram swaps for a model forward "
    "pass without touching the plumbing.",
    sort=("format",),
)
def multimodal_format_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _synthesize_media(spark, sf_dir).where(F.col("payload").isNotNull())
    meta = attach_metadata(media)
    feats = byte_histogram_features(media)

    def bin_count(idx: int) -> F.Column:
        # features holds float32 shares; share × size round-trips the
        # integer count exactly for sizes ≪ 2^23 (documents are ≤ ~10 KB)
        return F.round(
            F.element_at("features", idx).cast("double") * F.col("size_bytes")
        ).cast("long")

    return (
        meta.join(feats, "media_id")
        .groupBy("format")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("size_bytes").cast("long").alias("total_bytes"),
            F.sum(bin_count(1)).cast("long").alias("bin0_bytes"),
            F.sum(bin_count(7)).cast("long").alias("alpha_lo_bytes"),
        )
    )


@register(
    "multimodal_meta_profile",
    """
    WITH media AS (
      SELECT doc_id % 4 AS fmt_idx,
             CASE doc_id % 4
               WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 6 ELSE 4
             END + octet_length(encode(text)) AS size_bytes
      FROM documents WHERE text IS NOT NULL
    )
    SELECT CASE fmt_idx WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                        WHEN 2 THEN 'gif' ELSE 'riff' END AS format,
           count(*) AS n_media,
           CAST(sum(size_bytes) AS BIGINT) AS total_bytes,
           CAST(CAST(round(avg(size_bytes), 2) AS DECIMAL(18,2)) AS DOUBLE)
             AS avg_bytes
    FROM media GROUP BY fmt_idx
    ORDER BY format
    """,
    doc="Oracle-checked companion to multimodal_format_profile: the SAME "
    "synthesized media table and the SAME production metadata path "
    "(JVM-side magic-number sniff + byte length at scan time — "
    "operators/multimodal.py::attach_metadata), minus the Arrow-batched "
    "histogram stage that has no SQL analogue. The format and size of "
    "each payload are pure functions of doc_id % 4 and the utf-8 byte "
    "length of text, so DuckDB recomputes them exactly — giving the "
    "multimodal family a hard hash-checked signal while the histogram "
    "column stays in the rows-only entry. avg_bytes is canonicalized "
    "through DECIMAL(18,2) (the decimal_money_totals treatment).",
    sort=("format",),
)
def multimodal_meta_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    magic = None
    for i, m in enumerate(_MAGIC_BYTES):
        cond = F.pmod(F.col("doc_id"), F.lit(len(_MAGIC_BYTES))) == i
        lit = F.lit(bytearray(m))
        magic = F.when(cond, lit) if magic is None else magic.when(cond, lit)
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.concat(magic, F.encode("text", "UTF-8")).alias("payload"),
    )
    meta = attach_metadata(media)
    return (
        meta.groupBy("format")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("size_bytes").alias("total_bytes"),
            F.round(F.avg("size_bytes"), 2)
            .cast("decimal(18,2)")
            .cast("double")
            .alias("avg_bytes"),
        )
    )


@register(
    "multimodal_payload_dedup",
    r"""
    WITH media AS (
      SELECT doc_id AS media_id,
             CASE doc_id % 4
               WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
               WHEN 2 THEN 'gif' ELSE 'riff' END AS format,
             md5(hex(
               CASE doc_id % 4
                 WHEN 0 THEN '\x89PNG\x0D\x0A\x1A\x0A'::BLOB
                 WHEN 1 THEN '\xFF\xD8\xFF\xE0'::BLOB
                 WHEN 2 THEN 'GIF89a'::BLOB
                 ELSE 'RIFF'::BLOB END || encode(text))) AS digest
      FROM documents
    ),
    groups AS (
      SELECT format, digest, count(*) AS grp FROM media
      GROUP BY format, digest
    )
    SELECT format,
           CAST(sum(grp) AS BIGINT) AS n_payloads,
           CAST(count(*) AS BIGINT) AS n_distinct_payloads,
           CAST(sum(grp) - count(*) AS BIGINT) AS n_dup_payloads,
           CAST(max(grp) AS BIGINT) AS max_dup_group
    FROM groups
    GROUP BY format
    ORDER BY format
    """,
    sort=("format",),
    doc="Exact BINARY-payload dedup per container format — the "
    "content-addressable-storage readout a multimodal ingest runs "
    "before re-encoding anything twice: digest every blob "
    "(md5 over the hex image of the bytes — the one digest recipe "
    "both engines compute identically over BINARY; the magic prefix "
    "is part of the digest, so the same content in two containers "
    "correctly does NOT collapse), group by (format, digest), and "
    "report payload/dedup counts and the biggest duplicate group. "
    "The format column comes from the production magic-number sniff "
    "(operators/multimodal.py — pure JVM Column, no Python), run on "
    "the actual bytes, while the oracle derives it from the "
    "synthesis rule — so a sniffing regression ALSO hash-fails. One "
    "digest-grain shuffle with map-side partials; blobs never leave "
    "their scan tasks (only 32-char digests cross the wire — the "
    "property that makes CAS dedup feasible at 100 TB of media).",
)
def multimodal_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _synthesize_media(spark, sf_dir)
    meta = attach_metadata(media)
    digested = meta.select(
        "format", F.md5(F.hex(F.col("payload"))).alias("digest")
    )
    groups = digested.groupBy("format", "digest").agg(
        F.count(F.lit(1)).alias("grp")
    )
    return (
        groups.groupBy("format")
        .agg(
            F.sum("grp").cast("long").alias("n_payloads"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_payloads"),
            (F.sum("grp") - F.count(F.lit(1)))
            .cast("long")
            .alias("n_dup_payloads"),
            F.max("grp").cast("long").alias("max_dup_group"),
        )
        .orderBy("format")
    )


# storage-tier thresholds (bytes). Sized to the testdata's 48-553 B
# payload range so all three tiers are populated; at production scale
# the same plan runs with inline<4KB (fits the metadata row),
# packed<1MB (many per file), external>=1MB (one CAS object each).
_TIER_INLINE = 256
_TIER_PACKED = 448


@register(
    "multimodal_storage_tiering",
    f"""
    WITH p AS (
      SELECT CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                             WHEN 2 THEN 'gif' ELSE 'riff' END AS format,
             CAST(CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                                  WHEN 2 THEN 6 ELSE 4 END
                  + octet_length(encode(text)) AS BIGINT) AS n_bytes
      FROM documents WHERE text IS NOT NULL
    ),
    t AS (SELECT CAST(sum(n_bytes) AS BIGINT) AS tot FROM p),
    g AS (
      SELECT format,
             CASE WHEN n_bytes < {_TIER_INLINE} THEN 'inline'
                  WHEN n_bytes < {_TIER_PACKED} THEN 'packed'
                  ELSE 'external' END AS tier,
             CAST(count(*) AS BIGINT) AS n_payloads,
             CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
             CAST(max(n_bytes) AS BIGINT) AS max_bytes
      FROM p GROUP BY 1, 2
    )
    SELECT g.format, g.tier, g.n_payloads, g.total_bytes, g.max_bytes,
           CAST(g.total_bytes * 1000000 // t.tot AS BIGINT)
             AS bytes_share_ppm
    FROM g CROSS JOIN t
    ORDER BY format, tier
    """,
    sort=("format", "tier"),
    doc="Binary-payload storage-tier placement plan — the inline/packed/"
    "external decision every multimodal lakehouse makes: payloads small "
    "enough to ride in the metadata row stay INLINE, mid-sized ones "
    "PACK many-per-file, large ones go to one content-addressed object "
    "each (EXTERNAL — where multimodal_payload_dedup's digests become "
    "the keys). Grouped by sniffed container format x tier with exact "
    "byte totals and an integer-ppm share of total bytes (1-row grand "
    "total broadcast). Payload bytes are measured with F.length on the "
    "BINARY column (octet semantics) — the payload itself never "
    "shuffles; only (format, n_bytes) pairs do. Thresholds are module "
    "constants sized to the testdata range; production uses 4KB/1MB "
    "with the identical plan.",
)
def multimodal_storage_tiering(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = _synthesize_media(spark, sf_dir).where(
        F.col("payload").isNotNull()
    )
    fmt = (
        F.when(F.pmod(F.col("media_id"), F.lit(4)) == 0, "png")
        .when(F.pmod(F.col("media_id"), F.lit(4)) == 1, "jpeg")
        .when(F.pmod(F.col("media_id"), F.lit(4)) == 2, "gif")
        .otherwise("riff")
    )
    p = media.select(
        fmt.alias("format"),
        F.length("payload").cast("long").alias("n_bytes"),
    )
    tier = (
        F.when(F.col("n_bytes") < _TIER_INLINE, "inline")
        .when(F.col("n_bytes") < _TIER_PACKED, "packed")
        .otherwise("external")
    )
    g = p.groupBy("format", tier.alias("tier")).agg(
        F.count(F.lit(1)).cast("long").alias("n_payloads"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
        F.max("n_bytes").cast("long").alias("max_bytes"),
    )
    tot = p.agg(F.sum("n_bytes").cast("long").alias("tot"))
    return g.crossJoin(F.broadcast(tot)).select(
        "format",
        "tier",
        "n_payloads",
        "total_bytes",
        "max_bytes",
        F.expr("total_bytes * 1000000L div tot")
        .cast("long")
        .alias("bytes_share_ppm"),
    )
