"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata (BASELINE.json north star).

The operators work on the container bytes, never on decoded pixels or
samples: format sniffing from magic numbers and size metadata are Column
expressions, and the byte-level feature extraction is Arrow-batched
pandas processing via ``mapInPandas``.

Scale notes: binary payloads ride in the same parquet row-groups as their
metadata (no small-file problem); `mapInPandas` streams Arrow batches so
peak memory is one batch of blobs per task, and all filtering on metadata
(format, size) happens before Python ever sees a byte.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# magic-number prefixes, hex-encoded
_MAGICS = {
    "89504E47": "png",
    "FFD8FF": "jpeg",
    "47494638": "gif",
    "52494646": "riff",  # wav/avi container
    "494433": "mp3",
    "664C6143": "flac",
    "00000018": "mp4",
    "00000020": "mp4",
    "1A45DFA3": "webm",
}

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("media_type", T.StringType(), True),  # image|audio|video
        T.StructField("format", T.StringType(), True),
        T.StructField("size_bytes", T.LongType(), True),
    ]
)

FEATURE_DIM = 16  # byte-histogram bins


def sniff_format(binary_col) -> F.Column:
    """Container format from magic numbers — pure Column expression (the
    scan stays JVM-side; no Python for metadata)."""
    c = F.col(binary_col) if isinstance(binary_col, str) else binary_col
    head = F.hex(F.substring(c, 1, 4))
    expr = None
    for magic, fmt in _MAGICS.items():
        cond = head.startswith(magic)
        expr = F.when(cond, fmt) if expr is None else expr.when(cond, fmt)
    return expr.otherwise(F.lit("unknown"))


def attach_metadata(df: DataFrame, binary_col: str = "payload") -> DataFrame:
    """size + sniffed format, computed at scan time (prunable columns)."""
    return df.withColumn("size_bytes", F.length(F.col(binary_col)).cast("long")).withColumn(
        "format", sniff_format(binary_col)
    )


def byte_histogram_features(df: DataFrame, binary_col: str = "payload") -> DataFrame:
    """Deterministic FEATURE_DIM-dim feature vector per blob: normalized
    16-bin byte histogram via an Arrow-batched ``mapInPandas``. This is the
    real feature-extraction plumbing (batch iteration, schema contract);
    swap the histogram for a model forward-pass on a GPU cluster and
    nothing else changes."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("features", T.ArrayType(T.FloatType()), True),
        ]
    )

    def extract(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import numpy as np
        import pandas as pd

        for pdf in batches:
            feats = []
            for blob in pdf[binary_col]:
                if blob is None or len(blob) == 0:
                    feats.append(None)
                    continue
                arr = np.frombuffer(blob, dtype=np.uint8)
                hist = np.bincount(arr >> 4, minlength=FEATURE_DIM).astype("float32")
                feats.append((hist / hist.sum()).tolist())
            yield pd.DataFrame({"media_id": pdf["media_id"], "features": feats})

    return df.select("media_id", binary_col).mapInPandas(extract, out_schema)
