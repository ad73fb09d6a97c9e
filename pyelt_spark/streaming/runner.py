"""Microbatch tail runner — the engine's `Pipeline.run` loop.

Two execution modes over the transcript vault's one pipe:

* **replay(events)** — batch mode: partition a bounded change stream by
  ``batch_id`` and apply batches in order through ``Pipe.replay`` (one
  bucket probe, per-table lanes, window-coalesced catch-up). This is the
  reference's run-per-day model (pyelt/pipeline.py:106-197) and the mode
  used by the correctness suite and the benchmark.

* **tail(input_dir)** — Structured Streaming: ``readStream`` over a
  parquet directory of change events, ``foreachBatch`` into the same
  vault merge. Spark's checkpoint gives at-least-once redelivery; the
  vault's idempotent batch commits upgrade that to exactly-once
  (redelivered batch ids are skipped before any write).

Resume semantics: each LakeTable's commit log records every applied
batch_id, so a crashed replay restarted from the top skips committed
batches and continues — the checkpoint carries per-bucket row counts and
merge metrics for every commit.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from pyelt_spark.plans.pipeline import TranscriptVault


class MicrobatchRunner:
    def __init__(self, vault: TranscriptVault):
        self.vault = vault

    # ------------------------------------------------------------ batch mode

    def replay(self, events: DataFrame, batch_col: str = "batch_id") -> list[dict[str, Any]]:
        """Apply all batches in ``batch_col`` order through ``Pipe.replay``,
        skipping batches the vault has already committed (crash-resume /
        exactly-once). A batch counts as done only when EVERY table has it
        (or provably gets nothing from it): a crash can land with some
        tables committed and others not, and re-applying such a torn batch
        completes exactly the missing tables. Per-batch results carry the
        vault's ``hub``/``sat``/``link`` keys."""
        v = self.vault
        return [v._table_keys(o) for o in v._pipe_for(events).replay(events, batch_col)]

    # -------------------------------------------------------- streaming mode

    def tail(
        self,
        input_dir: str,
        checkpoint_dir: str,
        schema=None,
        trigger_once: bool = True,
    ):
        """Tail a growing parquet directory of change events.

        Batch ids are Spark's epoch ids offset into a distinct namespace so
        they never collide with replay batch ids; exactly-once comes from
        the vault's idempotent commits, not from the sink.
        """
        spark = self.vault.spark
        reader = spark.readStream
        if schema is not None:
            reader = reader.schema(schema)
        else:
            # mergeSchema: the directory may mix files from before and after
            # an additive evolution — the stream schema must be the union
            # (a single arbitrary footer would randomly drop late columns)
            static = spark.read.option("mergeSchema", "true").parquet(input_dir)
            reader = reader.schema(static.schema)
        stream = reader.option("maxFilesPerTrigger", 64).parquet(input_dir)

        def _sink(df: DataFrame, epoch_id: int):
            if df.isEmpty():
                return
            self.vault.apply_batch(df, 1_000_000_000 + int(epoch_id))

        writer = stream.writeStream.foreachBatch(_sink).option(
            "checkpointLocation", checkpoint_dir
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()
