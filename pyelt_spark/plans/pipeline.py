"""The transcript vault pipeline — Pipeline/Pipe analog.

Declares the transcript domain and runs it through the generic ``Pipe``
(plans/pipe.py, the reference's ``Pipe.run``, pyelt/pipeline.py:657-744):
staging → hubs → sats → links, re-expressed as three independent merges
off ONE batch (hash surrogate keys remove the reference's sequential
FK-writeback, SURVEY §3 entry point 2):

* ``conversation_hub``  — insert-only distinct conv_id (dv.py:48-51)
* ``conversation_sat_turn`` — SCD2 history of (conv_id, turn_idx) payload
                          (role, text, tool), hashdiff change detection,
                          delete tombstones (dv.py:55-62, ddl.py:334-348)
* ``conversation_tool_link`` — insert-only (conv_id, tool) association
                          (dv.py:88-96)

plus the pipe's ``_runs/`` registry (sys.runs analog, dwh.py:115-147) and
each table's commit manifests.
"""

from __future__ import annotations

import copy
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyelt_spark.plans.domain import Col, HubEntity, Link, LinkEntity, LinkReference, Sat
from pyelt_spark.plans.pipe import Pipe, SorToEntityMapping, SorToLinkMapping

PAYLOAD_COLS = ["role", "text", "tool"]
BUSINESS_KEYS = ["conv_id", "turn_idx"]


# --------------------------------------------------------------------------
# the transcript DOMAIN — declared, not wired (dv_metaclasses.py analog);
# table names, key sets, payload order and the merge set all derive from
# these classes through plans/domain.py + plans/pipe.py
# --------------------------------------------------------------------------


class Conversation(HubEntity):
    __bk__ = ["conv_id"]

    class Turn(Sat):
        turn_idx = Col("int", key=True)   # sat grain below the hub key
        role = Col()
        text = Col()
        tool = Col()


class Tool(HubEntity):
    """Key-only leg entity: the tool leg of the link is a bare business key
    (the reference models this as a hub the link FKs into; here the hash FK
    needs no materialized hub table — none is mapped)."""

    __bk__ = ["tool"]


class ConversationToolLink(LinkEntity):
    class Link(Link):
        conversation = LinkReference(Conversation)
        tool = LinkReference(Tool)


class TranscriptVault:
    """Hub/sat/link vault over a transcript change-event stream.

    The tables and merges are COMPILED from the declared domain above by
    the generic ``Pipe`` (one SorToEntityMapping + one SorToLinkMapping),
    which also runs every commit and replay; this class only adds the
    transcript-specific batch policy (additive payload evolution from
    unseen event columns, ``_pipe_for``) and reports results under the
    ``hub``/``sat``/``link`` keys."""

    def __init__(self, spark: SparkSession, root: str, num_buckets: int = 32):
        self.spark = spark
        self.root = root
        self.pipe = Pipe(
            spark,
            root,
            mappings=[
                SorToEntityMapping(entity=Conversation),
                SorToLinkMapping(
                    link=ConversationToolLink, filter="tool IS NOT NULL"
                ),
            ],
            num_buckets=num_buckets,
        )
        self.hub = self.pipe.hub_table(Conversation)
        self.sat = self.pipe.sat_table(Conversation.Turn)
        self.link = self.pipe.link_table(ConversationToolLink)
        self.sat_merge = self.pipe.sat_merges[Conversation.Turn.__dbname__]
        self.hub_merge = self.pipe.hub_merges[Conversation]
        self.link_merge = self.pipe.link_merges[ConversationToolLink]

    # ----------------------------------------------------------------- apply

    def batch_sat_merge(self, events: DataFrame):
        """Per-batch sat-merge config: declared payload cols present in the
        batch plus any new (additive-evolution) cols. Built per batch —
        mutating the shared self.sat_merge would make the vault
        non-reentrant and column-order-dependent (ADVICE r1)."""
        from dataclasses import replace

        base = self.sat_merge.payload_cols
        payload_cols = [c for c in base if c in events.columns] + [
            c
            for c in events.columns
            if c not in base
            and c not in BUSINESS_KEYS
            and c not in ("seq", "op", "batch_id", "ts")
        ]
        return replace(self.sat_merge, payload_cols=payload_cols)

    def _pipe_for(self, events: DataFrame) -> Pipe:
        """Per-call view of the pipe whose turn-sat merge is
        ``batch_sat_merge(events)``; the shared pipe is never mutated."""
        pipe = copy.copy(self.pipe)
        pipe.sat_merges = {
            **self.pipe.sat_merges,
            Conversation.Turn.__dbname__: self.batch_sat_merge(events),
        }
        return pipe

    def _table_keys(self, out: dict[str, Any]) -> dict[str, Any]:
        """Pipe output with the vault's table names as ``hub``/``sat``/``link``."""
        names = {
            Conversation.__hub_name__: "hub",
            Conversation.Turn.__dbname__: "sat",
            ConversationToolLink.__dbname__: "link",
        }
        return {names.get(k, k): v for k, v in out.items()}

    def apply_batch(self, events: DataFrame, batch_id: int) -> dict[str, Any]:
        """One microbatch through ``Pipe.run``, a laned replay of one batch:
        the hub, sat and link lanes run concurrently and each compacts its
        own table after its merge. Idempotent per batch_id on every table
        (exactly-once replay)."""
        return self._table_keys(self._pipe_for(events).run(events, batch_id))

    def maintain(self, max_dirs_per_bucket: int = 16) -> None:
        """Small-file maintenance of the hub, link and sat (``Pipe.maintain``)."""
        self.pipe.maintain(max_dirs_per_bucket)

    # ----------------------------------------------------------------- views

    def current_turns(self) -> DataFrame:
        """Current-state view: active, non-deleted turn versions in stable
        (conv_id, turn_idx) order — the per-turn text-equality invariant's
        subject (ensemble-view analog, ddl.py:505-531)."""
        s = self.sat_merge.sys
        return (
            self.sat.current()
            .select("conv_id", "turn_idx", "role", "text", "tool", s.revision, s.runid)
            .orderBy("conv_id", "turn_idx")
        )

    def conversation_view(self, conv_id: str) -> DataFrame:
        """Hub LEFT JOIN active sat for one conversation (pruned read)."""
        s = self.sat_merge.sys
        hub = self.hub.read().filter(F.col("conv_id") == conv_id)
        sat = self.sat.current().filter(F.col("conv_id") == conv_id)
        return hub.select("_key", "bk", "conv_id").join(
            sat.select(
                "conv_id", "turn_idx", "role", "text", "tool", s.revision
            ),
            "conv_id",
            "left",
        ).orderBy("turn_idx")

    def record_status(self) -> DataFrame:
        """RecordStatusSat analog (dv.py:85-86, etl.py:495-505): one row per
        currently-deleted key with the run that deleted it — the head's
        tombstones, no extra table needed."""
        s = self.sat_merge.sys
        return (
            self.sat.head.read()
            .filter(~F.col(s.active) & F.col(s.deleted_runid).isNotNull())
            .select(
                "conv_id",
                "turn_idx",
                F.col(s.deleted_runid).alias("deleted_runid"),
                F.col(s.finish_ts).alias("deleted_ts"),
                F.col(s.revision).alias("last_revision"),
            )
        )
