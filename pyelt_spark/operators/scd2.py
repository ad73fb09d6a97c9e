"""SCD2 merge-apply: hashdiff change detection + valid-from/valid-to upsert.

One microbatch of change events is applied to a key-bucketed satellite in a
single pass that reproduces, functionally, the reference's per-table load
cycle (docs/source/05etl_proces.rst "Pipe.Run Detail stappen"):

reference step (file:line)                     → here
-------------------------------------------------------------------------
insert-new-or-changed via EXCEPT active
  (pyelt/process/etl.py:156-163)               → hashdiff comparison against
                                                 the head row
revision bump self-join (etl.py:168-171)       → head row's revision + 1
                                                 (no self-join, no agg)
close-out UPDATE _active/_finish_date
  (etl.py:174-177)                             → closed head rows move to the
                                                 append-only history table
delete detection (etl.py:180-183)              → 'D' tombstones close the head
                                                 row in place (_deleted_runid)
latest-per-key DISTINCT ON (etl.py:576)        → operators.dedup.latest_per_key
first-load fast path (etl.py:233-278)          → empty-head bootstrap branch

Storage layout — the 100 TB shape
---------------------------------
An ``Scd2Table`` is a **head / history split**:

* ``head``  — exactly ONE row per business key: the active version, or a
  delete tombstone (closed row carrying the delete's seq + the key's max
  revision). This is the ONLY data a merge reads and rewrites, and it is
  bucket-pruned to the batch's keys. State I/O per batch is proportional
  to touched keys, never to accumulated history.
* ``hist``  — append-only closed versions. Written once per close, never
  read by merges. Full SCD2 history = ``hist ∪ head``.

The tombstone-carries-the-delete-seq design is also what makes the
out-of-order guard airtight: a late pre-delete update (seq between the
last content seq and the delete's seq) is detected as stale against the
tombstone and cannot resurrect a deleted key.

The head is copy-on-write only: a merge rewrites each touched bucket in
one write job (``_apply_cow`` per batch, ``apply_batches`` per window).
There is no merge-on-read head (append deltas, collapse at read time): on
the bench stream it lost every time it was measured (README decision 6).

Everything is JVM column expressions — no per-row Python.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyelt_spark.functions.hashing import HashRecipe, hash_key
from pyelt_spark.operators.dedup import latest_per_key
from pyelt_spark.storage.lake import BUCKET_COL, LakeTable, bucket_expr


@dataclass
class ScdColumns:
    """System-column contract, mirroring the reference's CDC sextet
    (pyelt/process/ddl.py:334-348 and pyelt/datalayers/dv.py:38-62)."""

    key: str = "_key"                    # SHA-256 business-key hash (replaces _id SERIAL)
    runid: str = "_runid"                # batch / commit id
    active: str = "_active"
    insert_ts: str = "_insert_ts"        # _insert_date
    finish_ts: str = "_finish_ts"        # _finish_date
    deleted_runid: str = "_deleted_runid"
    revision: str = "_revision"
    load_seq: str = "_seq"               # max applied event seq (stale guard)
    hashdiff: str = "_hashdiff"
    hd_version: str = "_hd_version"      # hashdiff recipe version (schema evolution)
    source: str = "_source_system"

    def all(self) -> list[str]:
        return [
            self.key, self.runid, self.active, self.insert_ts, self.finish_ts,
            self.deleted_runid, self.revision, self.load_seq, self.hashdiff,
            self.hd_version, self.source,
        ]


class Scd2Table:
    """Head/history split SCD2 satellite (see module docstring).

    The head is copy-on-write: every merge rewrites each touched bucket as
    ONE new data dir, so a head bucket never references more than one dir
    and a read needs no collapse. This is the reference's one load shape —
    the active row is closed in place (etl.py:174-177)."""

    def __init__(self, spark: SparkSession, path: str, num_buckets: int = 32):
        self.spark = spark
        self.path = path
        self.num_buckets = num_buckets
        self.head = LakeTable(spark, os.path.join(path, "head"), num_buckets)
        self.hist = LakeTable(spark, os.path.join(path, "hist"), num_buckets)

    # bookkeeping delegates to head (the authoritative commit log)
    def committed_batch_ids(self) -> set[int]:
        return self.head.committed_batch_ids()

    def last_commit(self):
        return self.head.last_commit()

    def commits(self):
        return self.head.commits()

    def recipe(self) -> HashRecipe | None:
        return self.head.recipe()

    def current(self) -> DataFrame:
        """Active (non-deleted) current versions: the head minus tombstones."""
        return self.head.read().filter(F.col("_active"))

    def read(self) -> DataFrame:
        """Full SCD2 history: closed versions ∪ head rows."""
        head = self.head.read()
        if self.hist.last_commit() is None or not self.hist.last_commit().buckets:
            return head
        hist = self.hist.read()
        return hist.unionByName(head, allowMissingColumns=True).select(head.columns)

    def compact_head(self, max_dirs_per_bucket: int = 16) -> None:
        """Head small-file maintenance: a manifest check only, since a
        copy-on-write head holds one dir per bucket by construction."""
        self.head.compact_if_crowded(max_dirs_per_bucket)


@dataclass
class Scd2Merge:
    """Merge a change-event batch into an Scd2Table.

    ``business_keys``: natural-key columns (e.g. conv_id, turn_idx).
    ``payload_cols``: attribute columns under hashdiff change detection.
    ``order_by``: event-order columns for latest-per-key (first must be a
    monotone sequence number; it becomes the stored ``_seq``).
    ``op_col``: 'I'/'U'/'D' change-event op column (absent → all upserts).
    """

    business_keys: list[str]
    payload_cols: list[str]
    order_by: list[str]
    op_col: str | None = "op"
    ts_col: str = "ts"
    source_system: str = "events"
    sys: ScdColumns = field(default_factory=ScdColumns)

    # ------------------------------------------------------------------ hash

    def _with_keys_and_hashdiff(self, df: DataFrame, recipe: HashRecipe) -> DataFrame:
        cur = recipe.current_version
        if self.sys.key not in df.columns:  # don't recompute (and don't break
            # the aggregate's output partitioning on the key)
            df = df.withColumn(self.sys.key, hash_key(*self.business_keys))
        df = df.withColumn(self.sys.hashdiff, recipe.hashdiff_for(cur))
        df = df.withColumn(self.sys.hd_version, F.lit(cur))
        # hashdiffs under every older recipe version too, so a batch row can
        # be compared against a head row stored before a schema evolution
        # without re-versioning it (SURVEY §7.6).
        for v in sorted(recipe.versions):
            if v != cur:
                df = df.withColumn(f"{self.sys.hashdiff}_v{v}", recipe.hashdiff_for(v))
        return df

    def _evolved_recipe(self, batch: DataFrame, table: Scd2Table) -> HashRecipe:
        recipe = table.recipe()
        batch_payload = [c for c in self.payload_cols if c in batch.columns]
        if recipe is None:
            return HashRecipe.initial(batch_payload)
        recipe.evolve(batch_payload)
        return recipe

    # ----------------------------------------------------------------- merge

    def _build_batch(
        self, table: Scd2Table, events: DataFrame, recipe: HashRecipe,
        do_persist: bool = False,
    ) -> DataFrame:
        """Batch-side frame of a merge: latest-per-key dedup, hash key,
        versioned hashdiffs, bucket, op column — PERSISTED (caller
        unpersists). Depends on nothing but the event stream and the
        recipe, so a replay lane can prefetch batch N+1's frame while
        batch N is still writing (see ``prepare_batch``).

        Dedup groups on the SHA-256 hash key itself: the aggregate's
        output is then already hash-partitioned on the join key, so the
        state join in ``apply_batch`` needs NO second exchange of the
        batch — one shuffle total for dedup + merge. (Costs a sha2 per raw
        event instead of per winner; at scale a saved shuffle beats
        recomputed hashes.)"""
        s = self.sys
        keyed = events.withColumn(s.key, hash_key(*self.business_keys))
        batch = latest_per_key(
            keyed,
            [s.key],
            self.order_by,
            # tiebreak over the ORIGINAL event columns so fork winners match
            # any dedup of the raw stream (the engine-added _key must not
            # influence which duplicate survives)
            tiebreak_cols=[c for c in events.columns if c not in self.order_by],
        )
        batch = self._with_keys_and_hashdiff(batch, recipe)
        batch = batch.withColumn(BUCKET_COL, bucket_expr(s.key, table.num_buckets))
        op = (
            F.col(self.op_col)
            if self.op_col and self.op_col in batch.columns
            else F.lit("U")
        )
        out = batch.withColumn("_op", op)
        # persist only when the caller materializes the frame ahead of its
        # merge (prefetch): there the cache IS the hand-off. The inline path
        # skips it — the frame's one consumer is the merge's full-outer
        # join, and a columnar cache fill costs ~2-3x the aggregate
        # it would save (measured at sf1.0: ~15 CPU-s fill vs ~6 CPU-s
        # reduce-side recompute; guide §5: cache only when recompute is
        # dearer than the memory pressure).
        return out.persist() if do_persist else out

    def prepare_batch(
        self, table: Scd2Table, events: DataFrame
    ) -> dict[str, Any]:
        """Build and MATERIALIZE the batch-side frame ahead of its merge.

        The frame is the only part of a merge that reads no table state,
        so a replay lane can run batch N+1's dedup shuffle concurrently
        with batch N's head/hist writes (pipelining the lane: the shuffle
        leaves the per-batch critical path). Returns a handle for
        ``apply_batch(prepared=...)``, which adopts the frame when the
        recipe version still matches (schema evolution between prefetch
        and merge rebuilds instead) and unpersists it either way."""
        recipe = self._evolved_recipe(events, table)
        batch = self._build_batch(table, events, recipe, do_persist=True)
        # the materializing action doubles as the per-bucket key census
        # (the manifest's batch_keys_per_bucket) — same one job a bare
        # count() would be
        rows = batch.groupBy(BUCKET_COL).agg(F.count("*").alias("n")).collect()
        return {
            "batch": batch,
            "bucket_counts": {str(int(r[0])): int(r["n"]) for r in rows},
            "recipe_version": recipe.current_version,
            # adoption requires the COLUMN LIST too: two distinct evolutions
            # can collide on the integer version (e.g. a concurrent commit
            # adding a different column set), and adopting then would mean
            # hashdiffs computed over the wrong columns (ADVICE r5)
            "recipe_cols": list(recipe.current_cols),
        }

    def apply_batch(
        self,
        table: Scd2Table,
        events: DataFrame,
        batch_id: int,
        affected_buckets: list[int] | None = None,
        prepared: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """Apply one microbatch; returns merge metrics. Idempotent: an
        already-committed batch_id is skipped (exactly-once).

        ``affected_buckets``: optional precomputed bucket list (any SUPERSET
        of the batch's true buckets is correct — it only widens the pruned
        head read). A replay loop computes every batch's buckets in one job
        up front (``Pipe.replay``), removing a per-batch blocking collect
        from the merge critical path.

        ``prepared``: optional prefetched batch frame from
        ``prepare_batch`` (same events slice); adopted only if the recipe
        version still matches."""
        if batch_id in table.committed_batch_ids():
            if prepared is not None:
                prepared["batch"].unpersist()
            return {"skipped_duplicate_batch": batch_id}

        recipe = self._evolved_recipe(events, table)

        # 1. batch-side frame: adopt the prefetched one when its recipe is
        #    still current (the stream's schema didn't evolve between
        #    prefetch and merge), else build inline
        if (
            prepared is not None
            and prepared["recipe_version"] == recipe.current_version
            and prepared.get("recipe_cols", recipe.current_cols) == recipe.current_cols
        ):
            batch = prepared["batch"]
        else:
            if prepared is not None:
                prepared["batch"].unpersist()
            batch = self._build_batch(table, events, recipe)

        # 2. affected-bucket discovery → pruned HEAD read (one row per key).
        #    When the discovery action runs anyway (no precomputed superset)
        #    it returns the manifest's per-bucket key counts;
        #    prefetched frames carry the same counts from their own
        #    materializing action (prepare_batch).
        bucket_counts: dict[str, int] = {}
        if affected_buckets is not None:
            affected = [int(b) for b in affected_buckets]
            if prepared is not None and batch is prepared.get("batch"):
                bucket_counts = prepared.get("bucket_counts", {})
        else:
            rows = batch.groupBy(BUCKET_COL).agg(F.count("*").alias("n")).collect()
            affected = [int(r[0]) for r in rows]
            bucket_counts = {str(int(r[0])): int(r["n"]) for r in rows}
        first_load = table.last_commit() is None or not table.last_commit().buckets

        # 3. single-pass copy-on-write merge: ONE full-outer join of batch
        #    and head classified once, exploded into head + history rows,
        #    staged in ONE write job with observe()-collected metrics —
        #    no per-merge cache fills, no separate metrics action, no
        #    second head scan, no head-rewrite join (guide §1.2: remove
        #    passes before tuning inside them)
        try:
            return self._apply_cow(
                table, batch, batch_id, affected, recipe, first_load, bucket_counts,
            )
        finally:
            batch.unpersist()

    def _apply_cow(
        self,
        table: Scd2Table,
        batch: DataFrame,
        batch_id: int,
        affected: list[int],
        recipe: HashRecipe,
        first_load: bool,
        bucket_counts: dict[str, int],
    ) -> dict[str, Any]:
        """Single-pass copy-on-write merge.

        ``batch FULL OUTER JOIN head`` yields every row the merge must
        reason about exactly once (batch is deduped to one row per key,
        the head holds one row per key): batch-only rows are inserts,
        both-sides rows classify by hashdiff/stale/op, head-only rows are
        untouched carry-forwards. Each joined row then emits its outputs
        directly — at most one new-or-kept HEAD row and at most one
        closed HISTORY row — through one explode, and one tagged write
        job stages both tables (lake.stage_tagged). Merge metrics ride
        the same job as ``observe()`` aggregates, so the whole merge is
        ONE Spark action (plus the prefetched batch build): the previous
        shape paid a verdict-join cache fill, a metrics collect, a second
        head scan and a head-rewrite join per batch — pure overhead at
        microbatch sizes, measured at 2-3x this path's CPU at sf1.0."""
        from pyspark.sql import Observation

        s = self.sys
        payload = recipe.current_cols
        seq_expr = F.col(self.order_by[0]).cast("long")
        hist_needed = batch_id not in table.hist.committed_batch_ids()
        bcols = set(batch.columns)
        batch_types = dict(batch.dtypes)

        if first_load:
            head_types: dict[str, str] = {}
            fo = batch.withColumn("_in_batch", F.lit(True))
        else:
            head_state = table.head.read(buckets=affected)
            head_types = dict(head_state.dtypes)
            h = head_state.select(
                *[F.col(c).alias(f"_h_{c}") for c in head_state.columns]
            )
            fo = batch.withColumn("_in_batch", F.lit(True)).join(
                h, F.col(s.key) == F.col(f"_h_{s.key}"), "full"
            )

        def h_(c: str, t: str):
            """Head-side column, typed-null when the head predates it."""
            if c in head_types:
                return F.col(f"_h_{c}")
            return F.lit(None).cast(t)

        def pay_t(c: str) -> str:
            return batch_types.get(c) or head_types.get(c) or "string"

        # classify each joined row ('untouched' for head-only rows).
        # Hashdiffs compare under the HEAD row's recipe version (schema
        # evolution): equal old-recipe hashes count as unchanged ONLY if
        # every column added since is still null.
        cmp_hd = F.col(s.hashdiff)
        new_info = F.lit(False)
        st_hdv = h_(s.hd_version, "int")
        for v in sorted(recipe.versions):
            if v != recipe.current_version:
                cmp_hd = F.when(st_hdv == v, F.col(f"{s.hashdiff}_v{v}")).otherwise(cmp_hd)
                added = [c for c in recipe.current_cols if c not in recipe.versions[v]]
                if added:
                    any_nonnull = None
                    for c in added:
                        e = (F.col(c) if c in bcols else F.lit(None)).isNotNull()
                        any_nonnull = e if any_nonnull is None else (any_nonnull | e)
                    new_info = F.when(st_hdv == v, any_nonnull).otherwise(new_info)

        in_batch = F.col("_in_batch").isNotNull()
        is_delete = F.col("_op") == F.lit("D")
        st_active = h_(s.active, "boolean")
        has_row = st_active.isNotNull()
        is_active = st_active == F.lit(True)
        st_seq = h_(s.load_seq, "long")
        stale = has_row & (seq_expr < st_seq)
        unchanged = is_active & ~is_delete & (cmp_hd == h_(s.hashdiff, "string")) & ~new_info
        bump = unchanged & (seq_expr > st_seq)
        fo = fo.withColumn(
            "_verdict",
            F.when(~in_batch, F.lit("untouched"))
            .when(stale, F.lit("stale"))
            .when(is_delete & is_active, F.lit("delete"))
            .when(is_delete, F.lit("noop"))
            .when(bump, F.lit("bump"))
            .when(unchanged, F.lit("noop"))
            .when(is_active, F.lit("update"))
            .when(has_row, F.lit("reinsert"))  # tombstone: revision keeps counting
            .otherwise(F.lit("insert")),
        )

        vd = F.col("_verdict")
        is_del, is_bump, is_upd = vd == "delete", vd == "bump", vd == "update"
        ts_expr = F.col(self.ts_col).cast("timestamp")

        # (name, new-version expr, kept/modified-head expr, history expr)
        fields = [
            (s.key, F.col(s.key), h_(s.key, "string"), h_(s.key, "string")),
            *[
                (c, F.col(c).cast(pay_t(c)), h_(c, pay_t(c)), h_(c, pay_t(c)))
                for c in self.business_keys
            ],
            *[
                (
                    c,
                    (F.col(c) if c in bcols else F.lit(None)).cast(pay_t(c)),
                    h_(c, pay_t(c)),
                    h_(c, pay_t(c)),
                )
                for c in payload
            ],
            (s.runid, F.lit(batch_id).cast("long"), h_(s.runid, "long"), h_(s.runid, "long")),
            (
                s.active,
                F.lit(True),
                F.when(is_del, F.lit(False)).otherwise(h_(s.active, "boolean")),
                F.when(is_upd, F.lit(False)).otherwise(h_(s.active, "boolean")),
            ),
            (
                s.insert_ts,
                ts_expr,
                h_(s.insert_ts, "timestamp"),
                h_(s.insert_ts, "timestamp"),
            ),
            (
                s.finish_ts,
                F.lit(None).cast("timestamp"),
                F.when(is_del, ts_expr).otherwise(h_(s.finish_ts, "timestamp")),
                F.when(is_upd, ts_expr).otherwise(h_(s.finish_ts, "timestamp")),
            ),
            (
                s.deleted_runid,
                F.lit(None).cast("long"),
                F.when(is_del, F.lit(batch_id).cast("long")).otherwise(
                    h_(s.deleted_runid, "long")
                ),
                h_(s.deleted_runid, "long"),
            ),
            (
                s.revision,
                F.coalesce(h_(s.revision, "long") + 1, F.lit(0)).cast("long"),
                h_(s.revision, "long"),
                h_(s.revision, "long"),
            ),
            (
                s.load_seq,
                seq_expr,
                F.when(is_del | is_bump, seq_expr).otherwise(h_(s.load_seq, "long")),
                h_(s.load_seq, "long"),
            ),
            (s.hashdiff, F.col(s.hashdiff), h_(s.hashdiff, "string"), h_(s.hashdiff, "string")),
            (s.hd_version, F.col(s.hd_version), h_(s.hd_version, "int"), h_(s.hd_version, "int")),
            (
                s.source,
                F.lit(self.source_system),
                h_(s.source, "string"),
                h_(s.source, "string"),
            ),
            (BUCKET_COL, F.col(BUCKET_COL), h_(BUCKET_COL, "int"), h_(BUCKET_COL, "int")),
        ]
        newset = vd.isin("insert", "update", "reinsert")
        head_struct = F.when(
            newset,
            F.struct(F.lit("a").alias("_dest"), *[e.alias(n) for n, e, _, _ in fields]),
        ).when(
            has_row,
            F.struct(F.lit("a").alias("_dest"), *[e.alias(n) for n, _, e, _ in fields]),
        )
        hist_struct = F.when(
            vd.isin("update", "reinsert"),
            F.struct(F.lit("b").alias("_dest"), *[e.alias(n) for n, _, _, e in fields]),
        )

        # the pre-write exchange runs HERE, before explode and observe: it
        # moves each joined row once (not its two exploded outputs), and it
        # keeps the CollectMetrics node inside the RESULT stage — observed
        # metrics from a pre-exchange AQE stage are dropped (measured:
        # Observation.getRow returns an empty row when the observe sits
        # upstream of the write's repartition). A head row and its history
        # row share the key's bucket, so bucket-keyed partitioning still
        # yields one file per (dest, bucket) dir.
        fo = fo.repartition(
            max(len(affected), 1), F.coalesce(F.col(BUCKET_COL), h_(BUCKET_COL, "int"))
        )
        obs = Observation()
        fo = fo.observe(
            obs,
            *[
                F.sum(F.when(vd == v, 1).otherwise(0)).alias(v)
                for v in ("insert", "update", "reinsert", "delete", "bump", "noop", "stale")
            ],
            F.sum(F.when(in_batch, 1).otherwise(0)).alias("deduped"),
        )
        branches = [head_struct] + ([hist_struct] if hist_needed else [])
        tagged = (
            fo.select(F.explode(F.array(*branches)).alias("_r"))
            .filter(F.col("_r").isNotNull())
            .select("_r.*")
        )
        out_schema = json.loads(
            tagged.drop("_dest").schema.json()
        )
        staged_head, staged_hist = table.head.stage_tagged(
            table.hist, tagged, affected, out_schema
        )
        m = obs.get
        metrics = {
            "batch_id": batch_id,
            "deduped_keys": int(m["deduped"] or 0),
            "inserted": int((m["insert"] or 0) + (m["reinsert"] or 0)),
            "updated": int(m["update"] or 0),
            "deleted": int(m["delete"] or 0),
            "unchanged": int((m["noop"] or 0) + (m["bump"] or 0)),
            "stale": int(m["stale"] or 0),
            "buckets_read": sorted(affected),
            "buckets_written": sorted(staged_head["written_buckets"]),
            "batch_keys_per_bucket": bucket_counts,
        }
        if hist_needed and staged_hist["written_buckets"]:
            table.hist.commit(
                None,
                sorted(staged_hist["written_buckets"]),
                batch_id,
                metrics={"closed_rows_appended": True},
                mode="append",
                staged=staged_hist,
            )
        table.head.commit(
            None,
            affected,
            batch_id,
            recipe=recipe,
            metrics=metrics,
            mode="overwrite",
            staged=staged_head,
        )
        return metrics

    def apply_batches(
        self,
        table: Scd2Table,
        events: DataFrame,
        batch_col: str = "batch_id",
        batch_ids: list[int] | None = None,
        affected_buckets: list[int] | None = None,
    ) -> dict[int, dict[str, Any]] | None:
        """Window-coalesced merge: apply EVERY pending batch of a bounded
        stream in one closed-form pass, byte-identical to applying them
        sequentially with :meth:`apply_batch` (the catch-up mode of a
        streaming engine — Structured Streaming's availableNow processes
        its backlog the same way). Returns per-batch metrics keyed by
        batch id, or ``None`` when the closed form does not apply and the
        caller must fall back to the per-batch loop.

        Semantics (the per-key state machine of apply_batch, unrolled):
        dedup one winner per (key, batch); order winners by batch; a
        winner is a NEW VERSION iff it is an upsert whose content differs
        from the previous effective content (a delete's content is NULL —
        exactly the oracle's lag-chain form); the first comparison runs
        against the head row under ITS recipe version; deletes close the
        currently-active version (first delete per version group);
        unchanged upserts with a later seq bump the head's _seq. Closed
        versions land in history with the closing event's timestamp; the
        final version (or tombstone) lands in the head; untouched head
        rows carry forward. Commits publish once per table with the whole
        id window (`Commit.batch_ids`) — crash-resume granularity becomes
        the window, exactly-once is preserved.

        Precondition (checked; else ``None``): per key the winners' seqs
        are non-decreasing in batch order and ≥ the head row's _seq — the
        sequential stale guard then provably never fires, so the chain
        form is exact. Out-of-order tails fall back to the per-batch path,
        which handles them row by row."""
        from pyspark.sql import Window

        from pyelt_spark.operators.dedup import _tiebreak

        s = self.sys
        done = table.committed_batch_ids()
        all_ids = [int(b) for b in (batch_ids or [])]
        out: dict[int, dict[str, Any]] = {
            b: {"skipped_duplicate_batch": b} for b in all_ids if b in done
        }
        pending = sorted(b for b in all_ids if b not in done)
        if not pending:
            return out
        if len(pending) == 1:
            out[pending[0]] = self.apply_batch(
                table,
                events.filter(F.col(batch_col) == pending[0]),
                pending[0],
                affected_buckets=affected_buckets,
            )
            return out

        ev = events.filter(F.col(batch_col).isin(pending))
        recipe = self._evolved_recipe(ev, table)
        payload = recipe.current_cols
        seq_expr = F.col(self.order_by[0]).cast("long")
        keyed = ev.withColumn(s.key, hash_key(*self.business_keys))
        keyed = keyed.withColumn(BUCKET_COL, bucket_expr(s.key, table.num_buckets))
        op = (
            F.col(self.op_col)
            if self.op_col and self.op_col in keyed.columns
            else F.lit("U")
        )
        keyed = (
            keyed.withColumn("_op", op)
            .withColumn("_b", F.col(batch_col).cast("long"))
            .withColumn("_seql", seq_expr)
            .withColumn(
                "_tb", _tiebreak(ev, self.order_by, [c for c in ev.columns if c not in self.order_by])
            )
        )
        bcols = set(ev.columns)
        batch_types = dict(ev.dtypes)

        # one winner per (key, batch): last row of its batch segment under
        # the per-key (batch, seq, tiebreak) sort — identical winner to
        # latest_per_key's max_by within each batch slice. This window's
        # exchange is the pass's ONE data shuffle; every later window and
        # group-by reuses the hash(_key) partitioning and the sort. The
        # versioned hashdiffs are computed AFTER winner selection (same
        # order as the per-batch path): losers never get hashed and the
        # 64-char digests never cross the exchange (guide §2.3).
        wsort = Window.partitionBy(s.key).orderBy(
            "_b", *[F.col(c) for c in self.order_by], "_tb"
        )
        nxt_b = F.lead("_b").over(wsort)
        win = keyed.withColumn(
            "_is_w", nxt_b.isNull() | (nxt_b != F.col("_b"))
        ).filter(F.col("_is_w"))
        win = self._with_keys_and_hashdiff(win, recipe)

        if affected_buckets is not None:
            affected = [int(b) for b in affected_buckets]
        else:
            affected = [
                int(r[0]) for r in win.select(BUCKET_COL).distinct().collect()
            ]
        first_load = table.last_commit() is None or not table.last_commit().buckets
        head_state = (
            None if first_load else table.head.read(buckets=affected)
        )
        head_types = dict(head_state.dtypes) if head_state is not None else {}

        def h_(c: str, t: str):
            if c in head_types:
                return F.col(f"_h_{c}")
            return F.lit(None).cast(t)

        def pay_t(c: str) -> str:
            return batch_types.get(c) or head_types.get(c) or "string"

        if head_state is not None:
            h = head_state.select(
                *[F.col(c).alias(f"_h_{c}") for c in head_state.columns]
            )
            fo = win.join(h, F.col(s.key) == F.col(f"_h_{s.key}"), "full")
        else:
            fo = win

        # the WRITE's bucket exchange runs here, right after the join: a
        # bucket is a function of the key, so hash(bucket) partitioning
        # clusters keys, and every later window/group-by keyed
        # (bucket, key) is exchange-free — the whole chain, the
        # version-group aggregation, the output structs and the write all
        # live in ONE post-exchange stage. That is also what makes the
        # observe()-collected metrics safe (observed metrics from a
        # pre-exchange AQE stage come back empty — see _apply_cow).
        fo = fo.withColumn(
            "_bkt", F.coalesce(F.col(BUCKET_COL), h_(BUCKET_COL, "int"))
        ).repartition(max(len(affected), 1), F.col("_bkt"))

        kcol = F.coalesce(F.col(s.key), h_(s.key, "string"))
        wk = Window.partitionBy("_bkt", kcol).orderBy("_b")
        wku = wk.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        wkp = wk.rowsBetween(Window.unboundedPreceding, -1)
        wka = Window.partitionBy("_bkt", kcol)

        h0_exists = h_(s.active, "boolean").isNotNull()
        h0_active = h_(s.active, "boolean") == F.lit(True)
        is_D = F.col("_op") == F.lit("D")
        is_first = F.lag("_b").over(wk).isNull()

        # content chain (oracle form): a delete's effective content is NULL
        e = F.when(is_D, F.lit(None).cast("string")).otherwise(F.col(s.hashdiff))
        # first comparison vs h0 under the HEAD row's recipe version
        cmp_first = F.col(s.hashdiff)
        new_info_first = F.lit(False)
        st_hdv = h_(s.hd_version, "int")
        for v in sorted(recipe.versions):
            if v != recipe.current_version:
                cmp_first = F.when(
                    st_hdv == v, F.col(f"{s.hashdiff}_v{v}")
                ).otherwise(cmp_first)
                added = [c for c in recipe.current_cols if c not in recipe.versions[v]]
                if added:
                    any_nonnull = None
                    for c in added:
                        x = (F.col(c) if c in bcols else F.lit(None)).isNotNull()
                        any_nonnull = x if any_nonnull is None else (any_nonnull | x)
                    new_info_first = F.when(st_hdv == v, any_nonnull).otherwise(new_info_first)
        first_unchanged = (
            h0_active
            & ~is_D
            & (cmp_first == h_(s.hashdiff, "string"))
            & ~new_info_first
        )
        later_unchanged = ~is_D & F.col(s.hashdiff).eqNullSafe(F.lag(e).over(wk))
        unchanged = F.when(is_first, first_unchanged).otherwise(later_unchanged)
        applied = (~is_D) & ~F.coalesce(unchanged, F.lit(False))

        c1 = fo.withColumn("_app", applied).withColumn("_unch", F.coalesce(unchanged, F.lit(False)))
        gid = F.sum(F.col("_app").cast("int")).over(wku)
        rmax = F.max("_seql").over(wku)
        c2 = c1.withColumn("_gid", gid).withColumn("_rmax", rmax)
        state_seq_before = F.greatest(F.lag("_rmax").over(wk), h_(s.load_seq, "long"))
        runningD = F.sum(is_D.cast("int")).over(wku)
        c3 = (
            c2.withColumn("_ssb", state_seq_before)
            .withColumn("_rd", runningD)
            .withColumn(
                "_lard", F.max(F.when(F.col("_app"), runningD)).over(wku)
            )
        )
        bump = F.col("_unch") & (F.col("_seql") > F.col("_ssb"))
        first_D = is_D & (F.col("_rd") == F.coalesce(F.col("_lard"), F.lit(0)) + 1)
        closing_D = first_D & F.when(F.col("_gid") > 0, F.lit(True)).otherwise(h0_active)
        c4 = c3.withColumn("_bump", bump).withColumn("_cd", closing_D)
        runningCD = F.sum(F.col("_cd").cast("int")).over(wku)
        c5 = c4.withColumn("_rcd", runningCD).withColumn(
            "_pacd", F.max(F.when(F.col("_app"), F.col("_rcd"))).over(wkp)
        )
        gap_closed = (F.col("_rcd") - F.coalesce(F.col("_pacd"), F.lit(0))) >= 1
        prior_exists = (F.col("_gid") > 1) | h0_exists
        prior_active = F.when(F.col("_gid") > 1, ~gap_closed).otherwise(
            h0_exists & h0_active & ~gap_closed
        )
        verdict = (
            F.when(
                F.col("_app"),
                F.when(~prior_exists, F.lit("insert"))
                .when(prior_active, F.lit("update"))
                .otherwise(F.lit("reinsert")),
            )
            .when(F.col("_cd"), F.lit("delete"))
            .when(is_D, F.lit("noop"))
            .when(F.col("_bump"), F.lit("bump"))
            .otherwise(F.lit("noop"))
        )
        stale_like = (
            (F.col("_seql") < F.lag("_seql").over(wk))
            | (is_first & h0_exists & (F.col("_seql") < h_(s.load_seq, "long")))
        )
        c6 = c5.withColumn("_verdict", verdict).withColumn(
            "_viol", F.coalesce(stale_like, F.lit(False)).cast("int")
        )

        # Per-batch verdict census + monotonicity check. Small windows ride
        # the WRITE job itself as observe() aggregates (7 x |pending| sums —
        # zero extra jobs; the staged files are discarded un-published if a
        # violation shows up). Large windows (many small batches — the
        # aggregate-expression count would bloat codegen) pay one explicit
        # check job instead, which the write's shuffle reuse then builds on.
        _VERDS = ("insert", "update", "reinsert", "delete", "bump", "noop")
        use_obs = len(pending) <= 16
        vmap: dict[int, dict[str, int]] = {b: {} for b in pending}
        if not use_obs:
            chk = (
                c6.filter(F.col("_b").isNotNull())
                .groupBy("_b", "_verdict")
                .agg(F.count("*").alias("n"), F.sum("_viol").alias("v"))
                .collect()
            )
            if sum(r["v"] for r in chk) > 0:
                return None
            for r in chk:
                vmap[int(r["_b"])][r["_verdict"]] = r["n"]

        # group-0 closing-delete / bump info as per-key constants (the h0
        # closure may have to be emitted from the v==1 row when no gid-0
        # group row exists)
        cd0 = F.min(
            F.when(
                F.col("_cd") & (F.col("_gid") == 0),
                F.struct(F.col("_b").alias("b"), F.col(self.ts_col).cast("timestamp").alias("ts"), F.col("_seql").alias("seq")),
            )
        ).over(wka)
        t0bump = F.max(
            F.when((F.col("_gid") == 0) & F.col("_bump"), F.col("_seql"))
        ).over(wka)
        c7 = c6.withColumn("_cd0", cd0).withColumn("_t0b", t0bump)
        obs = None
        if use_obs:
            from pyspark.sql import Observation

            obs = Observation()
            c7 = c7.observe(
                obs,
                *[
                    F.sum(
                        F.when(
                            (F.col("_b") == b) & (F.col("_verdict") == v), 1
                        ).otherwise(0)
                    ).alias(f"m_{b}_{v}")
                    for b in pending
                    for v in _VERDS
                ],
                F.sum("_viol").alias("viol_total"),
            )

        ver_struct = F.when(
            F.col("_app"),
            F.struct(
                F.col("_b").alias("b"),
                F.col(self.ts_col).cast("timestamp").alias("ts"),
                *[
                    (F.col(c) if c in bcols else F.lit(None)).cast(pay_t(c)).alias(f"p_{i}")
                    for i, c in enumerate(payload)
                ],
                *[F.col(c).cast(pay_t(c)).alias(f"k_{i}") for i, c in enumerate(self.business_keys)],
                F.col(s.hashdiff).alias("hd"),
                F.col(s.hd_version).alias("hdv"),
                F.col(BUCKET_COL).alias("bkt"),
            ),
        )
        grp_cd = F.when(
            F.col("_cd"),
            F.struct(F.col("_b").alias("b"), F.col(self.ts_col).cast("timestamp").alias("ts"), F.col("_seql").alias("seq")),
        )
        trans_seq = F.when(
            F.col("_app") | F.col("_bump") | F.col("_cd"), F.col("_seql")
        )
        key_expr = F.coalesce(F.col(s.key), h_(s.key, "string"))
        hcols = list(head_types)
        vrows = (
            c7.groupBy(
                F.col("_bkt"), key_expr.alias("_k"), F.col("_gid").alias("_g")
            )
            .agg(
                F.min(ver_struct).alias("_ver"),
                F.min(grp_cd).alias("_gcd"),
                F.max(trans_seq).alias("_tseq"),
                F.min(F.struct(*[h_(c, "string").alias(f"h_{i}") for i, c in enumerate(hcols)])).alias("_h")
                if hcols
                else F.min(F.lit(None).cast("int")).alias("_h"),
                F.min("_cd0").alias("_c0"),
                F.max("_t0b").alias("_b0"),
            )
        )
        wv = Window.partitionBy("_bkt", "_k")
        wvo = Window.partitionBy("_bkt", "_k").orderBy("_g")
        vr = (
            vrows.withColumn("_m", F.max("_g").over(wv))
            .withColumn("_nxt_ts", F.lead(F.col("_ver.ts")).over(wvo))
        )

        def hv(c: str, t: str):
            if c in head_types:
                return F.col(f"_h.h_{hcols.index(c)}").cast(head_types[c])
            return F.lit(None).cast(t)

        base_rev = F.when(hv(s.active, "boolean").isNotNull(), hv(s.revision, "long")).otherwise(F.lit(-1))
        h0x = hv(s.active, "boolean").isNotNull()
        h0a = hv(s.active, "boolean") == F.lit(True)

        def out_struct(dest: str, fields: dict):
            ordered = [
                (s.key, "string"),
                *[(c, pay_t(c)) for c in self.business_keys],
                *[(c, pay_t(c)) for c in payload],
                (s.runid, "long"),
                (s.active, "boolean"),
                (s.insert_ts, "timestamp"),
                (s.finish_ts, "timestamp"),
                (s.deleted_runid, "long"),
                (s.revision, "long"),
                (s.load_seq, "long"),
                (s.hashdiff, "string"),
                (s.hd_version, "int"),
                (s.source, "string"),
                (BUCKET_COL, "int"),
            ]
            return F.struct(
                F.lit(dest).alias("_dest"),
                *[fields[n].cast(t).alias(n) for n, t in ordered],
            )

        # field maps: version-derived row (head or hist variant) and
        # h0-derived row (kept head / closed hist)
        vts, vb = F.col("_ver.ts"), F.col("_ver.b")
        gcd = F.col("_gcd")
        ver_fields = lambda active, fin, delr, seq, rev: {  # noqa: E731
            s.key: F.col("_k"),
            **{c: F.col(f"_ver.k_{i}") for i, c in enumerate(self.business_keys)},
            **{c: F.col(f"_ver.p_{i}") for i, c in enumerate(payload)},
            s.runid: vb,
            s.active: active,
            s.insert_ts: vts,
            s.finish_ts: fin,
            s.deleted_runid: delr,
            s.revision: rev,
            s.load_seq: seq,
            s.hashdiff: F.col("_ver.hd"),
            s.hd_version: F.col("_ver.hdv"),
            s.source: F.lit(self.source_system),
            BUCKET_COL: F.col("_ver.bkt"),
        }
        h0_fields = lambda active, fin, delr, seq: {  # noqa: E731
            s.key: F.col("_k"),
            **{c: hv(c, pay_t(c)) for c in self.business_keys},
            **{c: hv(c, pay_t(c)) for c in payload},
            s.runid: hv(s.runid, "long"),
            s.active: active,
            s.insert_ts: hv(s.insert_ts, "timestamp"),
            s.finish_ts: fin,
            s.deleted_runid: delr,
            s.revision: hv(s.revision, "long"),
            s.load_seq: seq,
            s.hashdiff: hv(s.hashdiff, "string"),
            s.hd_version: hv(s.hd_version, "int"),
            s.source: hv(s.source, "string"),
            BUCKET_COL: hv(BUCKET_COL, "int"),
        }

        rev = base_rev + F.col("_g")
        closed = gcd.isNotNull()
        ver_head = out_struct(
            "a",
            ver_fields(
                F.when(closed, F.lit(False)).otherwise(F.lit(True)),
                F.when(closed, gcd["ts"]),
                F.when(closed, gcd["b"]),
                F.col("_tseq"),
                rev,
            ),
        )
        ver_hist = out_struct(
            "b",
            ver_fields(
                F.lit(False),
                F.when(closed, gcd["ts"]).otherwise(F.col("_nxt_ts")),
                F.when(closed, gcd["b"]),
                F.col("_tseq"),
                rev,
            ),
        )
        c0 = F.col("_c0")
        h0_closed = c0.isNotNull()
        h0_seq_kept = F.greatest(hv(s.load_seq, "long"), F.col("_b0"))
        # h0 emitted as HIST from the v==1 row (active h0 closed by v1 or by
        # a group-0 delete; tombstone h0 moved as-is)
        h0_hist = out_struct(
            "b",
            h0_fields(
                F.lit(False),
                F.when(~h0a, hv(s.finish_ts, "timestamp"))
                .when(h0_closed, c0["ts"])
                .otherwise(F.col("_ver.ts")),
                F.when(~h0a, hv(s.deleted_runid, "long")).when(h0_closed, c0["b"]),
                F.when(~h0a, hv(s.load_seq, "long"))
                .when(h0_closed, c0["seq"])
                .otherwise(h0_seq_kept),
            ),
        )
        # h0 kept in HEAD when no version applied (m==0): group-0 deletes /
        # bumps still mutate it
        h0_head = out_struct(
            "a",
            h0_fields(
                F.when(h0_closed, F.lit(False)).otherwise(hv(s.active, "boolean")),
                F.when(h0_closed & h0a, c0["ts"]).otherwise(hv(s.finish_ts, "timestamp")),
                F.when(h0_closed & h0a, c0["b"]).otherwise(hv(s.deleted_runid, "long")),
                F.when(h0_closed & h0a, c0["seq"]).otherwise(h0_seq_kept),
            ),
        )
        untouched = out_struct(
            "a",
            h0_fields(
                hv(s.active, "boolean"),
                hv(s.finish_ts, "timestamp"),
                hv(s.deleted_runid, "long"),
                hv(s.load_seq, "long"),
            ),
        )

        g = F.col("_g")
        m = F.col("_m")
        head_or_hist = (
            F.when(g.isNull(), untouched)
            .when((g == 0) & (m == 0) & h0x, h0_head)
            .when((g >= 1) & (g == m), ver_head)
            .when((g >= 1), ver_hist)
        )
        second = F.when((g == 1) & h0x, h0_hist)
        hist_committed = set()
        for b in pending:
            if b in table.hist.committed_batch_ids():
                hist_committed.add(b)
        hist_needed = len(hist_committed) < len(pending)
        # no write-side exchange: the frame has been bucket-partitioned
        # since right after the join, so each (dest, bucket) dir receives
        # exactly one task's file
        tagged = (
            vr.select(F.explode(F.array(head_or_hist, second)).alias("_r"))
            .filter(F.col("_r").isNotNull())
        )
        if not hist_needed:
            tagged = tagged.filter(F.col("_r._dest") == "a")
        tagged = tagged.select("_r.*")
        out_schema = json.loads(tagged.drop("_dest").schema.json())
        staged_head, staged_hist = table.head.stage_tagged(
            table.hist, tagged, affected, out_schema
        )
        if obs is not None:
            mrow = obs.get
            if int(mrow.get("viol_total") or 0) > 0:
                # out-of-order tail detected AFTER staging: the staged dirs
                # were never published (manifests are the source of truth) —
                # drop them and hand the window back for per-batch replay
                import shutil

                for t_, st_ in ((table.head, staged_head), (table.hist, staged_hist)):
                    shutil.rmtree(
                        os.path.join(t_.path, st_["rel_dir"]), ignore_errors=True
                    )
                return None
            for b in pending:
                for v in _VERDS:
                    n = mrow.get(f"m_{b}_{v}") or 0
                    if n:
                        vmap[b][v] = int(n)

        metrics_by_batch: dict[int, dict[str, Any]] = {}
        for b in pending:
            vm = vmap.get(b, {})
            metrics_by_batch[b] = {
                "batch_id": b,
                "deduped_keys": sum(vm.values()),
                "inserted": vm.get("insert", 0) + vm.get("reinsert", 0),
                "updated": vm.get("update", 0),
                "deleted": vm.get("delete", 0),
                "unchanged": vm.get("noop", 0) + vm.get("bump", 0),
                "stale": 0,
                "buckets_read": sorted(affected),
                "buckets_written": sorted(staged_head["written_buckets"]),
                "batch_keys_per_bucket": {},
                "window": [pending[0], pending[-1]],
            }
        if hist_needed and staged_hist["written_buckets"]:
            table.hist.commit(
                None,
                sorted(staged_hist["written_buckets"]),
                pending[-1],
                metrics={"closed_rows_appended": True},
                mode="append",
                staged=staged_hist,
                batch_ids=pending,
            )
        table.head.commit(
            None,
            affected,
            pending[-1],
            recipe=recipe,
            metrics={"window": [pending[0], pending[-1]],
                     "batches": {str(b): metrics_by_batch[b] for b in pending}},
            mode="overwrite",
            staged=staged_head,
            batch_ids=pending,
        )
        out.update(metrics_by_batch)
        return out


def snapshot_delete_events(
    table: Scd2Table,
    snapshot: DataFrame,
    merge: "Scd2Merge",
    seq_value: int,
) -> DataFrame:
    """Full-snapshot delete detection (pyelt/process/etl.py:180-183): keys
    ACTIVE in state but absent from the snapshot become tombstone events.

    Unlike the CDC path this necessarily scans the whole head (the snapshot
    claims completeness), but only the head — one row per live key, never
    the history. Returns D-events shaped like the snapshot's rows; union
    them with the snapshot upserts and run the normal merge.
    """
    s = merge.sys
    alive = table.current().select(*merge.business_keys, F.col(s.insert_ts))
    present = snapshot.select(*merge.business_keys).distinct()
    missing = alive.join(present, merge.business_keys, "left_anti")
    # null payload literals carry the snapshot's REAL column types: a string
    # literal would make apply_snapshot's union widen the stored column to
    # string, retyping it in the persisted schema (violates the additive-only
    # never-retyped contract, reference ddl.py:122-144)
    snap_types = dict(snapshot.dtypes)
    d = missing.select(
        *[F.col(c) for c in merge.business_keys],
        *[
            F.lit(None).cast(snap_types.get(c, "string")).alias(c)
            for c in merge.payload_cols
        ],
        F.col(s.insert_ts).cast("timestamp").alias(merge.ts_col),
    )
    d = d.withColumn(merge.order_by[0], F.lit(seq_value).cast("long"))
    if merge.op_col:
        d = d.withColumn(merge.op_col, F.lit("D"))
    return d


def apply_snapshot(
    table: Scd2Table,
    merge: "Scd2Merge",
    snapshot: DataFrame,
    batch_id: int,
) -> dict:
    """Apply a FULL-snapshot batch (the reference's file-load path,
    etl.py:108-187): rows become upsert events at seq=batch_id; keys
    missing from the snapshot become deletes. EXCEPT-vs-active semantics
    (etl.py:156-163) fall out of the hashdiff comparison."""
    ev = snapshot
    seq_col = merge.order_by[0]
    if seq_col not in ev.columns:
        ev = ev.withColumn(seq_col, F.lit(batch_id).cast("long"))
    if merge.op_col and merge.op_col not in ev.columns:
        ev = ev.withColumn(merge.op_col, F.lit("U"))
    first_load = table.last_commit() is None or not table.last_commit().buckets
    if not first_load:
        dels = snapshot_delete_events(table, snapshot, merge, seq_value=batch_id)
        ev = ev.select(sorted(ev.columns)).unionByName(
            dels.select(sorted(dels.columns)), allowMissingColumns=True
        )
    return merge.apply_batch(table, ev, batch_id)


def expire_history(table: Scd2Table, before_runid: int) -> dict:
    """Retention: physically drop CLOSED history versions loaded before
    ``before_runid`` (the lakehouse expire-snapshots / GDPR-erasure analog;
    the reference never deletes — this is a deliberate extension). Head
    rows — active versions and tombstones — are never touched, so current
    state and delete bookkeeping survive any retention horizon.

    Metadata-pruned (no full-table scan): a hist data dir appended by the
    commit of batch B holds only versions inserted strictly before B, so
    dirs with ``B <= before_runid`` are dropped whole by manifest reference
    (zero data I/O). Surviving dirs are kept untouched when their parquet
    footer ``min(_runid) >= before_runid``; only buckets with genuinely
    mixed-age dirs are filter-rewritten, and expired counts come from the
    footers, not extra count() scans."""
    hist = table.hist
    last = hist.last_commit()
    if last is None or not last.buckets:
        return {"expired_rows": 0}

    import pyarrow.parquet as pq

    ver_batch = {c.version: c.batch_id for c in hist.commits()}

    def _dir_version(d: str) -> int:
        # "data/v7/_bucket_p=3" -> 7
        return int(d.split(os.sep)[1][1:])

    def _footer_stats(d: str) -> tuple[int, int | None]:
        """(row_count, min _runid or None if stats are unavailable)."""
        p = os.path.join(hist.path, d)
        rows, mn = 0, None
        for fname in os.listdir(p):
            if not fname.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(p, fname)).metadata
            rows += md.num_rows
            try:
                idx = next(
                    i for i in range(md.num_columns)
                    if md.row_group(0).column(i).path_in_schema == "_runid"
                )
            except StopIteration:
                return rows, None
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx).statistics
                if st is None or st.min is None:
                    return rows, None
                mn = st.min if mn is None else min(mn, st.min)
        return rows, mn

    expired = 0
    overrides: dict[str, list[str]] = {}
    rewrite: list[int] = []
    for b, dirs in last.buckets.items():
        kept: list[str] = []
        dropped = False
        needs_rewrite = False
        for d in dirs:
            bid = ver_batch.get(_dir_version(d))
            if bid is not None and bid <= before_runid:
                expired += _footer_stats(d)[0]
                dropped = True
                continue
            kept.append(d)
            _, mn = _footer_stats(d)
            if mn is None or mn < before_runid:
                needs_rewrite = True
        if needs_rewrite:
            rewrite.append(int(b))
            if dropped:
                # rewrite reads the post-drop dir set, so publish the drop
                # first via override; the data commit then overwrites
                overrides[b] = kept
        elif dropped:
            overrides[b] = kept

    kept_rows = None
    if rewrite:
        # publish the whole-dir drops, then filter-rewrite ONLY mixed buckets
        if overrides:
            hist.commit(
                None, [], batch_id=None, bucket_overrides=overrides,
                metrics={"retention_dir_drops": True, "before_runid": before_runid},
            )
        df = hist.read(buckets=rewrite)
        keep = df.filter(F.col("_runid") >= before_runid).persist()
        n_keep = keep.count()
        n_before = sum(
            _footer_stats(d)[0]
            for b in rewrite
            for d in hist.last_commit().buckets.get(str(b), [])
        )
        expired += n_before - n_keep
        kept_rows = n_keep
        hist.commit(
            keep,
            affected_buckets=rewrite,
            batch_id=None,
            metrics={"retention_before_runid": before_runid, "expired_rows": expired},
        )
        keep.unpersist()
    elif overrides:
        hist.commit(
            None, [], batch_id=None, bucket_overrides=overrides,
            metrics={"retention_before_runid": before_runid, "expired_rows": expired},
        )
    hist.vacuum()
    out = {"expired_rows": expired, "rewritten_buckets": rewrite}
    if kept_rows is not None:
        out["kept_rows"] = kept_rows
    return out
