"""Streaming-ingest NEAR-dup bridge: LSH band buckets maintained
incrementally across micro-batches, marrying the dedup ladder
(operators/dedup.py: minhash_signatures → lsh_bands) to the IVM family
(streaming/ivm.py's foreachBatch state protocol).

The batch dedup ladder answers "which docs in THIS corpus are near-dups
of each other"; an ingest pipeline needs the ONLINE form — "is this
arriving doc a near-dup of anything seen before" — without rescanning
history per batch. The bridge keeps the (doc_id, band_id, band_key)
relation of every document seen so far as its state; a new batch's
bands join that state (plus themselves) on the band key, so per batch
the work is |batch bands| + matching state rows, never |history|².
PAIR OUTPUT, though, is inherently cluster-quadratic (a doc joining a
k-member bucket emits k candidates — 1,141 pairs at sf0.01 vs 87,641
at sf0.1 on the dup-heavy synthetic corpus): at ingest scale the
bridge sits AFTER the exact-dedup stage (operators/dedup.py::
exact_dedup_summary's hash-distinct), which collapses identical
payloads so near-dup clusters stay small — the same stage ordering the
batch ladder documents.

Exactly-once WITHOUT a batch-id watermark (contrast
streaming/ivm.py::IncrementalAggMaintainer, which needs one): the state
here is APPEND-ONLY and keyed by doc identity, so idempotence falls out
of the algebra —

- new bands are anti-joined against the state before anything else, so
  a redelivered batch (foreachBatch is at-least-once) contributes ZERO
  new bands, emits ZERO pairs, and leaves the state fixed;
- a pair (a, b) is emitted exactly when the LATER of its two docs first
  arrives: cross pairs need one state side and one genuinely-new side,
  within-batch pairs need both new. No pair can be emitted twice
  because after its batch commits, both docs are state-side forever.

Crash windows: the pair SINK must run BEFORE the state swap — once the
swap lands, a redelivered batch is algebraically a no-op and its pairs
can never be recomputed. ``process_batch`` therefore takes the sink as
a callback and invokes it on the materialized pairs before advancing
the state: a crash inside (or before) the sink re-delivers the batch
against the OLD state and recomputes the identical pairs (the sink
must be idempotent per batch_id — overwrite-by-batch-id parquet, the
standard foreachBatch discipline); a crash after the swap re-delivers
a batch whose docs are all state-side, whose pairs the sink already
durably holds. Collecting the RETURNED pairs instead of passing a sink
is only exactly-once for the in-memory tier (where state dies with the
process anyway) — the durable tier should always pass ``sink``.

Replay contract (the §2.8 streaming-family discipline): processing a
corpus in ANY batch split emits the same pair SET as one global batch
computation, with each pair tagged by the batch where its later doc
arrived. tests/test_lsh_bridge_property.py pins this against drawn
splits; the registered queries/llm_ops.py::lsh_dedup_batch_replay runs
the REAL engine under the DuckDB value oracle.

State durability mirrors operators/kcore.py::_pin's two-tier rule: in
memory (localCheckpoint) for bounded/test corpora, a parquet state dir
where state must survive executor loss and restarts. The state dir is
swapped by ivm.py's write-new-then-swap protocol (``_swap_in``,
``_recover``); append-only state needs no applied-batch sidecar, so
parquet's ``_SUCCESS`` is its completeness marker.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.operators.dedup import (
    lsh_bands,
    minhash_signatures,
)
from fitness_nutrition_data_pipeline_spark.streaming.ivm import _recover, _swap_in

_BAND_SCHEMA = "doc_id long, band_id int, band_key string"


def _empty_bands(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], _BAND_SCHEMA)


class LshDedupBridge:
    """foreachBatch-shaped incremental near-dup candidate detector.

    Usage (batch replay or inside ``writeStream.foreachBatch``)::

        bridge = LshDedupBridge(spark, state_dir="/state")
        bridge.process_batch(
            batch_df, batch_id,
            sink=lambda p: p.write.mode("overwrite")
                            .parquet(f"/pairs/batch={batch_id}"),
        )
        # the sink runs BEFORE the state swap — see the crash-window
        # note above; in-memory/replay callers may skip `sink` and use
        # the returned DataFrame instead.

    ``process_batch`` returns the NEW candidate pairs this batch
    surfaced: (doc_id_a < doc_id_b, n_shared_bands), where
    n_shared_bands counts the distinct LSH bands in which the two docs
    collide (1..n_bands; higher ≈ more similar, the band-collision
    probability curve). The returned DataFrame is already materialized
    (localCheckpoint) so it stays valid after the state advances.
    """

    def __init__(
        self,
        spark: SparkSession,
        *,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_hashes: int = 8,
        n_bands: int = 4,
        state_dir: str | None = None,
    ) -> None:
        if state_dir is not None and "://" in state_dir:
            # same loud refusal as IncrementalAggMaintainer: the swap
            # protocol is POSIX renames; a scheme'd URI would silently
            # resume from empty state (every doc re-reported as novel)
            raise ValueError(
                "LshDedupBridge state_dir must be a local filesystem "
                f"path (got URI {state_dir!r})"
            )
        self.spark = spark
        self.id_col = id_col
        self.text_col = text_col
        self.n_hashes = n_hashes
        self.n_bands = n_bands
        self.state_dir = state_dir
        self._mem_state: DataFrame | None = None

    # ---- state tier ----------------------------------------------------
    def read_state(self) -> DataFrame:
        """(doc_id, band_id, band_key) of every document seen so far."""
        if self.state_dir is None:
            return (
                self._mem_state
                if self._mem_state is not None
                else _empty_bands(self.spark)
            )
        _recover(self.state_dir, "_SUCCESS")
        if os.path.isdir(self.state_dir):
            return self.spark.read.parquet(self.state_dir)
        return _empty_bands(self.spark)

    def _write_state(self, merged: DataFrame) -> None:
        if self.state_dir is None:
            # memory tier: pin so the lineage does not re-derive every
            # prior batch's signatures on the next join (the iterative-
            # loop lineage rule; state is band-grain, bounded by corpus
            # bands, and the test/bounded tier by contract)
            self._mem_state = merged.localCheckpoint()
            return
        _swap_in(self.state_dir, merged.write.mode("overwrite").parquet)

    # ---- the operator ---------------------------------------------------
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

    def process_batch(
        self,
        docs: DataFrame,
        batch_id: int = -1,
        *,
        sink=None,
    ) -> DataFrame:
        """Fold one micro-batch in; return its NEW candidate pairs.

        ``batch_id`` is accepted for foreachBatch signature parity but
        unused — idempotence is algebraic (see module docstring), not
        watermark-based. ``sink`` (callable taking the pairs DataFrame)
        runs on the materialized pairs BEFORE the state swap — the
        ordering that makes the durable tier exactly-once (module
        docstring, crash windows); if it raises, the state does not
        advance and the batch re-delivers cleanly.
        """
        state = self.read_state()
        # anti-join by doc identity: redelivered docs contribute nothing
        seen = state.select("doc_id").distinct()
        new_bands = self.bands_of(docs).join(seen, "doc_id", "left_anti")
        # pin: consumed by BOTH pair branches and the state merge, and
        # the pair result must outlive the state swap (diamond policy;
        # band-grain = batch-sized, never history-sized)
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
        if sink is not None:
            sink(pairs)
        self._write_state(state.unionByName(new_bands))
        return pairs


def run_lsh_bridge_stream(
    spark: SparkSession,
    input_dir: str,
    *,
    schema: str = "doc_id long, text string",
    state_dir: str | None = None,
    max_files_per_trigger: int | None = 1,
    **bridge_kwargs,
) -> DataFrame:
    """Drive the bridge through a REAL Structured Streaming query (file
    source → foreachBatch → availableNow drain) and return every pair
    it emitted, tagged with the micro-batch id that surfaced it — the
    §2.8 discipline of proving the engine under the actual streaming
    runtime, not just direct process_batch calls.

    The driver-side pair collection is the test/bounded tier (pairs are
    answer-sized candidate output, the heavyhitters-drain precedent); a
    production sink writes each batch's pairs to parquet keyed by
    batch_id (idempotent overwrite — see the crash-window note in the
    module docstring) and never collects.
    """
    bridge = LshDedupBridge(spark, state_dir=state_dir, **bridge_kwargs)
    emitted: list = []

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        def emit(pairs: DataFrame) -> None:
            for r in pairs.collect():
                emitted.append(
                    (r["doc_id_a"], r["doc_id_b"], r["n_shared_bands"],
                     batch_id)
                )

        # pair sink passed INTO process_batch so it runs before the
        # state swap (the exactly-once ordering the module documents)
        bridge.process_batch(batch_df, batch_id, sink=emit)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    q = (
        reader.parquet(input_dir)
        .writeStream.foreachBatch(_sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out_schema = (
        "doc_id_a long, doc_id_b long, n_shared_bands long, batch_id long"
    )
    return spark.createDataFrame(emitted, out_schema)
