"""SCD2 merge-apply: hashdiff change detection + valid-from/valid-to upsert.

A window of change-event batches (one batch is a window of one) is applied
to a key-bucketed satellite in a single pass that reproduces, functionally,
the reference's per-table load cycle run once per batch
(docs/source/05etl_proces.rst "Pipe.Run Detail stappen"):

reference step (file:line)                     → here
-------------------------------------------------------------------------
insert-new-or-changed via EXCEPT active
  (pyelt/process/etl.py:156-163)               → hashdiff comparison against
                                                 the key's current row
revision bump self-join (etl.py:168-171)       → current row's revision + 1
                                                 (no self-join, no agg)
close-out UPDATE _active/_finish_date
  (etl.py:174-177)                             → closed rows move to the
                                                 append-only history table
delete detection (etl.py:180-183)              → 'D' tombstones close the
                                                 current row in place
                                                 (_deleted_runid)
latest-per-key DISTINCT ON (etl.py:576)        → operators.dedup.latest_per_key,
                                                 one winner per (key, batch)
first-load fast path (etl.py:233-278)          → empty-head bootstrap branch

Storage layout — the 100 TB shape
---------------------------------
An ``Scd2Table`` is a **head / history split**:

* ``head``  — exactly ONE row per business key: the active version, or a
  delete tombstone (closed row carrying the delete's seq + the key's max
  revision). This is the ONLY data a merge reads and rewrites, and it is
  bucket-pruned to the window's keys. State I/O per window is proportional
  to touched keys, never to accumulated history.
* ``hist``  — append-only closed versions. Written once per close, never
  read by merges. Full SCD2 history = ``hist ∪ head``.

The tombstone-carries-the-delete-seq design is also what makes the
out-of-order guard airtight: a late pre-delete update (seq between the
last content seq and the delete's seq) is detected as stale against the
tombstone and cannot resurrect a deleted key.

One merge algorithm
-------------------
``Scd2Merge.apply_batches`` is the only merge; ``apply_batch`` is a window
of one. Per key, the merge is a left fold of the per-batch verdict table
over the key's batch-ordered winners, seeded by its head row — run by a
JVM higher-order ``aggregate``, so it is exact for any input order (late,
out-of-order and stale events included) and no path refuses a window.
The head is copy-on-write only: a merge rewrites each touched bucket in
one write job. There is no merge-on-read head (append deltas, collapse at
read time): on the bench stream it lost every time it was measured
(README decision 6).

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

# the per-batch verdict table, in fold-code order (a winner's code is its
# index here)
VERDICTS = ("insert", "update", "reinsert", "delete", "bump", "noop", "stale")
# the batch-id column ``apply_batch`` adds to make its events a window of one
_ONE = "__batch"


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
        if self.sys.key not in df.columns:
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

    def prepare_batch(
        self, table: Scd2Table, events: DataFrame, recipe: HashRecipe, batch_col: str
    ) -> DataFrame:
        """Batch side of a merge: one winner per (key, batch) — the
        ``max_by`` aggregate of ``latest_per_key``, whose map-side partial
        aggregation collapses hot keys before the exchange (README decision
        1) — then the versioned hashdiffs and the bucket, computed on
        winners only. Reads no table state and persists nothing.

        The tiebreak runs over the caller's ORIGINAL event columns, so fork
        winners match any dedup of the raw stream (neither the engine-added
        ``_key`` nor ``apply_batch``'s batch column may influence which
        duplicate survives)."""
        s = self.sys
        win = latest_per_key(
            events.withColumn(s.key, hash_key(*self.business_keys)),
            [s.key, batch_col],
            self.order_by,
            tiebreak_cols=[c for c in events.columns if c not in self.order_by and c != _ONE],
        )
        win = self._with_keys_and_hashdiff(win, recipe)
        return win.withColumn(BUCKET_COL, bucket_expr(s.key, table.num_buckets))

    def apply_batch(
        self,
        table: Scd2Table,
        events: DataFrame,
        batch_id: int,
        affected_buckets: list[int] | None = None,
    ) -> dict[str, Any]:
        """Apply one microbatch: a window of one (see ``apply_batches``).
        Idempotent: an already-committed batch_id is skipped.

        ``affected_buckets``: optional precomputed bucket list (any SUPERSET
        of the batch's true buckets is correct — it only widens the pruned
        head read); a replay probe computes them for every batch in one job."""
        one = events.withColumn(_ONE, F.lit(batch_id).cast("long"))
        return self.apply_batches(table, one, _ONE, [batch_id], affected_buckets)[batch_id]

    def apply_batches(
        self,
        table: Scd2Table,
        events: DataFrame,
        batch_col: str = "batch_id",
        batch_ids: list[int] | None = None,
        affected_buckets: list[int] | None = None,
    ) -> dict[int, dict[str, Any]]:
        """Apply every pending batch of ``batch_ids`` in one pass, exactly
        as applying them one by one in batch order; returns per-batch
        metrics keyed by batch id. Committed ids are skipped (exactly-once);
        the pending ones publish as ONE window commit per table
        (``Commit.batch_ids``), so crash-resume granularity is the window.

        Per key the merge is a left fold of the per-batch verdict table
        over the key's batch-ordered winners, seeded by its head row:

        =========  ====================================  ==================
        verdict    when (first match)                    effect
        =========  ====================================  ==================
        stale      seq < current row's ``_seq``          none
        delete     'D' against an active row             close in place
        noop       'D' against a tombstone / no row      none (``_seq`` kept)
        bump       unchanged content, newer seq          ``_seq`` = seq
        noop       unchanged content, same seq           none
        update     changed content, active row           close → hist, new
        reinsert   upsert against a tombstone            tombstone → hist, new
        insert     no row                                new, revision 0
        =========  ====================================  ==================

        "Unchanged" compares under the current row's recipe version (schema
        evolution): equal old-recipe hashes count as unchanged only if every
        column added since is null. A closed row's ``_finish_ts`` is its
        closing event's timestamp.

        Shape: winners (``prepare_batch``) and the pruned head rows are
        unioned and bucket-partitioned in ONE exchange; each key's winners
        are collected and folded (``F.aggregate``) into its new head row,
        its closed history rows and one verdict per winner; one tagged
        write job stages head and history, and the per-batch verdict census
        rides that job as ``observe()`` aggregates."""
        from pyspark.sql import Observation

        s = self.sys
        done = table.committed_batch_ids()
        all_ids = [int(b) for b in (batch_ids or [])]
        out: dict[int, dict[str, Any]] = {
            b: {"skipped_duplicate_batch": b} for b in all_ids if b in done
        }
        pending = sorted(b for b in all_ids if b not in done)
        if not pending:
            return out

        ev = events.filter(F.col(batch_col).isin(pending))
        recipe = self._evolved_recipe(ev, table)
        win = self.prepare_batch(table, ev, recipe, batch_col)
        if affected_buckets is not None:
            affected = sorted(int(b) for b in affected_buckets)
        else:
            bucket = bucket_expr(hash_key(*self.business_keys), table.num_buckets)
            affected = sorted(int(r[0]) for r in ev.select(bucket).distinct().collect())
        first_load = table.last_commit() is None or not table.last_commit().buckets
        head = None if first_load else table.head.read(buckets=affected)
        head_types = dict(head.dtypes) if head is not None else {}
        batch_types = dict(ev.dtypes)
        bcols = set(ev.columns)
        payload = recipe.current_cols
        cur = recipe.current_version
        old = [v for v in sorted(recipe.versions) if v != cur]

        def pay_t(c: str) -> str:
            return batch_types.get(c) or head_types.get(c) or "string"

        # The fold is built as ONE SQL expression string: as Column objects
        # it took ~8k py4j round trips per merge (measured: ~1 s of Python-
        # side time per 2k-event commit), as text it is one parse in the JVM.
        def q(name: str) -> str:
            return "`" + name.replace("`", "``") + "`"

        def bat(c: str) -> str:
            return q(c) if c in bcols else "NULL"

        # one row layout for the fold state, its outputs and the write:
        # the stored columns between a destination tag ('a' head, 'b' hist,
        # 'c' verdict-only marker) and the winner's batch + verdict code
        stored = [
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
        layout = [("_dest", "string"), *stored, ("_cb", "long"), ("_vc", "int")]
        row_t = "struct<" + ",".join(f"{q(n)}:{t}" for n, t in layout) + ">"

        def row(vals: dict[str, str]) -> str:
            """A layout row from SQL expressions; unnamed fields are NULL."""
            return "named_struct(" + ", ".join(
                f"'{n}', CAST({vals.get(n, 'NULL')} AS {t})" for n, t in layout
            ) + ")"

        # batch side: one struct per winner, the fields the fold reads
        is_d = f"{q(self.op_col)} = 'D'" if self.op_col and self.op_col in bcols else "false"
        w = {
            "b": f"CAST({q(batch_col)} AS long)",
            "sq": f"CAST({q(self.order_by[0])} AS long)",
            "ts": f"CAST({q(self.ts_col)} AS timestamp)",
            "d": f"coalesce({is_d}, false)",
            **{f"k{i}": f"CAST({q(c)} AS {pay_t(c)})" for i, c in enumerate(self.business_keys)},
            **{f"p{i}": f"CAST({bat(c)} AS {pay_t(c)})" for i, c in enumerate(payload)},
            "hd": q(s.hashdiff),
            "bkt": q(BUCKET_COL),
        }
        for v in old:
            added = [c for c in payload if c not in recipe.versions[v]]
            w[f"hd{v}"] = q(f"{s.hashdiff}_v{v}")
            w[f"ni{v}"] = " OR ".join([f"{bat(c)} IS NOT NULL" for c in added] or ["false"])
        w_struct = "named_struct(" + ", ".join(f"'{k}', {e}" for k, e in w.items()) + ")"
        keyed = [F.col(BUCKET_COL).alias("_bkt"), F.col(s.key).alias("_k")]
        u = win.select(*keyed, F.expr(w_struct).alias("_w"))
        if head is not None:
            hrow = row({"_dest": "'a'", **{n: q(n) for n, _ in stored if n in head_types}})
            u = u.unionByName(
                head.select(*keyed, F.expr(hrow).alias("_h")), allowMissingColumns=True
            )
        # the pass's one exchange after the dedup: head and winner rows of a
        # bucket meet in one task, so the per-key grouping below needs no
        # further shuffle and each (dest, bucket) dir gets one file. The
        # observe() sits downstream of it, in the result stage — observed
        # metrics from a pre-exchange AQE stage come back empty.
        u = u.repartition(max(len(affected), 1), "_bkt")
        grouped = u.groupBy("_bkt", "_k").agg(
            F.array_sort(F.collect_list("_w")).alias("_ws"),
            (F.first("_h", ignorenulls=True) if head is not None else F.lit(None).cast(row_t))
            .alias("_h0"),
        )

        # the fold step (acc = the key's current row ``h`` + its emitted
        # rows ``o``; w = the next winner): the verdict table, first match
        cur_row = {n: f"acc.h.{q(n)}" for n, _ in layout}

        def h(n: str) -> str:
            return cur_row[n]

        def to(head_row: str, verdict: str, emit: str | None = None) -> str:
            vc = VERDICTS.index(verdict)
            if emit is None:  # a verdict-only marker
                emit = row({"_dest": "'c'", "_cb": "w.b", "_vc": str(vc)})
            return f"named_struct('h', {head_row}, 'o', concat(acc.o, array({emit})))"

        def closed(verdict: str, **vals: str) -> str:
            vc = VERDICTS.index(verdict)
            return row({**cur_row, "_dest": "'b'", "_cb": "w.b", "_vc": str(vc), **vals})

        act = f"coalesce({h(s.active)}, false)"
        cmp_hd, new_info = "w.hd", "false"
        for v in old:
            cmp_hd = f"CASE WHEN {h(s.hd_version)} = {v} THEN w.hd{v} ELSE {cmp_hd} END"
            new_info = f"CASE WHEN {h(s.hd_version)} = {v} THEN w.ni{v} ELSE {new_info} END"
        unchanged = f"{act} AND NOT w.d AND {cmp_hd} = {h(s.hashdiff)} AND NOT ({new_info})"
        source = "'" + self.source_system.replace("\\", "\\\\").replace("'", "\\'") + "'"
        new = row({
            "_dest": "'a'",
            s.key: "_k",
            **{c: f"w.k{i}" for i, c in enumerate(self.business_keys)},
            **{c: f"w.p{i}" for i, c in enumerate(payload)},
            s.runid: "w.b",
            s.active: "true",
            s.insert_ts: "w.ts",
            s.revision: f"coalesce({h(s.revision)} + 1, 0)",
            s.load_seq: "w.sq",
            s.hashdiff: "w.hd",
            s.hd_version: str(cur),
            s.source: source,
            BUCKET_COL: "w.bkt",
        })
        deleted = row({
            **cur_row, s.active: "false", s.finish_ts: "w.ts",
            s.deleted_runid: "w.b", s.load_seq: "w.sq",
        })
        step = " ".join([
            f"CASE WHEN {h(s.active)} IS NOT NULL AND w.sq < {h(s.load_seq)}",
            f"THEN {to('acc.h', 'stale')}",
            f"WHEN w.d AND {act} THEN {to(deleted, 'delete')}",
            f"WHEN w.d THEN {to('acc.h', 'noop')}",
            f"WHEN {unchanged} AND w.sq > {h(s.load_seq)}",
            f"THEN {to(row({**cur_row, s.load_seq: 'w.sq'}), 'bump')}",
            f"WHEN {unchanged} THEN {to('acc.h', 'noop')}",
            f"WHEN {act} THEN",
            to(new, "update", closed("update", **{s.active: "false", s.finish_ts: "w.ts"})),
            f"WHEN {h(s.active)} IS NOT NULL THEN {to(new, 'reinsert', closed('reinsert'))}",
            f"ELSE {to(new, 'insert')} END",
        ])
        folded = F.expr(
            f"aggregate(_ws, named_struct('h', _h0, 'o', CAST(array() AS array<{row_t}>)), "
            f"(acc, w) -> {step}, acc -> concat(acc.o, array(acc.h)))"
        )
        rows = grouped.select(F.explode(folded).alias("_r")).filter(F.col("_r").isNotNull())
        rows = rows.select("_r.*")
        obs = Observation()
        rows = rows.observe(
            obs,
            *[
                F.expr(f"count_if(_cb = {b} AND _vc = {i}) AS `{b}_{v}`")
                for b in pending
                for i, v in enumerate(VERDICTS)
            ],
        )
        # history rows tagged with a closing batch the history log already
        # holds were appended before a crash cut the window short of its
        # head commit: a resumed window must not append them twice
        hist_done = sorted(set(pending) & table.hist.committed_batch_ids())
        keep = F.col("_dest") != "c"
        if hist_done:
            keep = keep & ~((F.col("_dest") == "b") & F.col("_cb").isin(hist_done))
        tagged = rows.filter(keep).drop("_cb", "_vc")
        out_schema = json.loads(tagged.drop("_dest").schema.json())
        staged_head, staged_hist = table.head.stage_tagged(
            table.hist, tagged, affected, out_schema
        )
        m = obs.get
        window = [pending[0], pending[-1]]
        written = sorted(staged_head["written_buckets"])
        for b in pending:
            n = {v: int(m.get(f"{b}_{v}") or 0) for v in VERDICTS}
            out[b] = {
                "batch_id": b,
                "deduped_keys": sum(n.values()),
                "inserted": n["insert"] + n["reinsert"],
                "updated": n["update"],
                "deleted": n["delete"],
                "unchanged": n["noop"] + n["bump"],
                "stale": n["stale"],
                "buckets_read": affected,
                "buckets_written": written,
                "window": window,
            }
        if staged_hist["written_buckets"]:
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
            metrics={
                "window": window,
                "buckets_read": affected,
                "buckets_written": written,
                "batches": {str(b): out[b] for b in pending},
            },
            mode="overwrite",
            staged=staged_head,
            batch_ids=pending,
        )
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
