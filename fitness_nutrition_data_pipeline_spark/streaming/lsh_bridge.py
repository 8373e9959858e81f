"""Incremental near-dup detection: LSH band buckets maintained across
batches, the batch-at-a-time form of the dedup ladder
(operators/dedup.py: minhash_signatures → lsh_bands).

The batch dedup ladder answers "which docs in THIS corpus are near-dups
of each other"; an ingest pipeline needs the incremental form — "is this
arriving doc a near-dup of anything seen before" — without rescanning
history per batch. The bridge keeps the (doc_id, band_id, band_key)
relation of every document seen so far as its state; a new batch's
bands join that state (plus themselves) on the band key, so per batch
the work is |batch bands| + matching state rows, never |history|².
PAIR OUTPUT, though, is inherently cluster-quadratic (a doc joining a
k-member bucket emits k candidates — 1,141 pairs at sf0.01 vs 87,641
at sf0.1 on the dup-heavy synthetic corpus): an ingest pipeline runs the
bridge AFTER the exact-dedup stage (operators/dedup.py::
exact_dedup_summary's hash-distinct), which collapses identical
payloads so near-dup clusters stay small — the same stage ordering the
batch ladder documents.

Each pair is emitted exactly once: the state is append-only and keyed
by doc identity, so

- new bands are anti-joined against the state before anything else, so
  a batch processed twice contributes ZERO new bands the second time,
  emits ZERO pairs, and leaves the state fixed;
- a pair (a, b) is emitted exactly when the LATER of its two docs first
  arrives: cross pairs need one state side and one genuinely-new side,
  within-batch pairs need both new.

Replay contract: processing a corpus in ANY batch split emits the same
pair SET as one global batch computation, with each pair tagged by the
batch where its later doc arrived. tests/test_lsh_bridge_property.py
pins this against drawn splits; the registered
queries/llm_ops.py::lsh_dedup_batch_replay runs it under the DuckDB
value oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.operators.dedup import (
    lsh_bands,
    minhash_signatures,
)


class LshDedupBridge:
    """Incremental near-dup candidate detector over a sequence of
    document batches.

    ``process_batch`` returns the NEW candidate pairs this batch
    surfaced: (doc_id_a < doc_id_b, n_shared_bands), where
    n_shared_bands counts the distinct LSH bands in which the two docs
    collide (1..n_bands; higher ≈ more similar, the band-collision
    probability curve). The returned DataFrame is already materialized
    (localCheckpoint) so it stays valid after the state advances.
    ``state`` holds (doc_id, band_id, band_key) of every document seen
    so far.
    """

    def __init__(
        self,
        spark: SparkSession,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_hashes: int = 8,
        n_bands: int = 4,
    ) -> None:
        self.id_col = id_col
        self.text_col = text_col
        self.n_hashes = n_hashes
        self.n_bands = n_bands
        self.state = spark.createDataFrame(
            [], "doc_id long, band_id int, band_key string"
        )

    def bands_of(self, docs: DataFrame) -> DataFrame:
        sigs = minhash_signatures(
            docs.where(F.col(self.text_col).isNotNull()),
            self.id_col,
            self.text_col,
            n_hashes=self.n_hashes,
        )
        return lsh_bands(sigs, self.id_col, n_bands=self.n_bands).select(
            F.col(self.id_col).cast("long").alias("doc_id"),
            F.col("band_id").cast("int").alias("band_id"),
            "band_key",
        )

    def process_batch(self, docs: DataFrame) -> DataFrame:
        """Fold one batch in; return its NEW candidate pairs."""
        state = self.state
        # anti-join by doc identity: already-seen docs contribute nothing
        seen = state.select("doc_id").distinct()
        new_bands = self.bands_of(docs).join(seen, "doc_id", "left_anti")
        # pin: consumed by BOTH pair branches and the state merge, and
        # the pair result must outlive the state advance (diamond
        # policy; band-grain = batch-sized, never history-sized)
        new_bands = new_bands.localCheckpoint()

        cross = (
            new_bands.alias("n")
            .join(state.alias("o"), ["band_id", "band_key"])
            .select(
                "band_id",
                F.least(F.col("n.doc_id"), F.col("o.doc_id")).alias("doc_id_a"),
                F.greatest(F.col("n.doc_id"), F.col("o.doc_id")).alias("doc_id_b"),
            )
        )
        within = (
            new_bands.alias("x")
            .join(new_bands.alias("y"), ["band_id", "band_key"])
            .where(F.col("x.doc_id") < F.col("y.doc_id"))
            .select(
                "band_id",
                F.col("x.doc_id").alias("doc_id_a"),
                F.col("y.doc_id").alias("doc_id_b"),
            )
        )
        pairs = (
            cross.unionByName(within)
            .groupBy("doc_id_a", "doc_id_b")
            .agg(F.countDistinct("band_id").cast("long").alias("n_shared_bands"))
            .localCheckpoint()
        )
        # pin so the next batch's joins do not re-derive every prior
        # batch's signatures (state is band-grain, bounded by corpus bands)
        self.state = state.unionByName(new_bands).localCheckpoint()
        return pairs
