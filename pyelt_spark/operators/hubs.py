"""Hub and link merges: insert-only registries of business keys.

Reference semantics: a hub holds one row per distinct business key,
insert-only, loaded via ``SELECT DISTINCT bk ... WHERE NOT EXISTS (SELECT 1
FROM hub WHERE bk = ...)`` (pyelt/process/etl.py:433-439); a link is the
same pattern over a composite of hub keys with null-safe FK comparison
(etl.py:711-716, :796-809).

Spark shape: one first-batch-wins aggregate over a window of batches →
anti-join against the pruned state read → append only the new keys. Because
surrogate keys are SHA-256 hashes of the business key (not serials), hub,
sat and link merges all run independently from the same deduped batch — no
sequential ``UPDATE sor SET fk_hub = hub._id`` writeback round-trip
(etl.py:447-450) is needed.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyelt_spark.functions.hashing import business_key, hash_key
from pyelt_spark.storage.lake import BUCKET_COL, LakeTable, bucket_expr

_ONE = "__batch"  # the literal batch column of a window of one


@dataclass
class HubMerge:
    """Insert-only hub of distinct business keys.

    Hub row shape mirrors dv.py:48-51: hash key, type, bk text, plus
    ``_runid`` / ``_insert_ts`` / ``_source_system`` system columns.
    """

    business_keys: list[str]
    hub_type: str = "hub"
    ts_col: str = "ts"
    source_system: str = "events"
    key_col: str = "_key"
    # non-key attribute columns carried onto the registry row (min() over the
    # key group — valueset descriptions, display labels); insert-only like
    # the keys themselves
    carry_cols: list[str] = field(default_factory=list)

    def _extra_cols(self) -> list[Column]:
        """Deterministic derived columns (functions of the business keys)."""
        return []

    def apply_batch(
        self,
        table: LakeTable,
        batch: DataFrame,
        batch_id: int,
        affected_buckets: list[int] | None = None,
    ) -> dict[str, Any]:
        """Apply one microbatch: a window of one (see ``apply_batches``).
        Idempotent: an already-committed batch_id is skipped."""
        one = batch.withColumn(_ONE, F.lit(batch_id).cast("long"))
        return self.apply_batches(table, one, _ONE, [batch_id], affected_buckets)[batch_id]

    def apply_batches(
        self,
        table: LakeTable,
        batch: DataFrame,
        batch_col: str = "batch_id",
        batch_ids: list[int] | None = None,
        affected_buckets: list[int] | None = None,
    ) -> dict[int, dict[str, Any]]:
        """Register every pending batch's new keys in ONE pass, exactly as
        applying them one by one in batch order; returns per-batch metrics
        keyed by batch id. Committed ids are skipped (exactly-once); the
        pending ones publish as ONE append commit (``Commit.batch_ids``).

        First batch wins: a key first seen in batch b gets ``_runid`` = b
        and, per column (``_insert_ts``, business keys, carry columns), the
        least non-null value among b's rows of the key — one ``groupBy``
        taking ``min(struct(batch, isnull(v), v)).v``, partially aggregated
        below its one exchange, whose key partitioning feeds the anti-join
        against the pruned state read. The per-batch ``new_keys`` are read
        from the staged files' ``_runid`` column (no count job).
        ``affected_buckets``: as in ``Scd2Merge.apply_batches``."""
        done = table.committed_batch_ids()
        all_ids = [int(b) for b in (batch_ids or [])]
        out: dict[int, dict[str, Any]] = {
            b: {"skipped_duplicate_batch": b} for b in all_ids if b in done
        }
        pending = sorted(b for b in all_ids if b not in done)
        if not pending:
            return out

        ev = (
            batch.filter(F.col(batch_col).isin(pending))
            .filter(
                F.coalesce(*[F.col(c).cast("string") for c in self.business_keys]).isNotNull()
            )
            .withColumns({
                self.key_col: hash_key(*self.business_keys),
                "_first_ts": F.col(self.ts_col).cast("timestamp"),
            })
        )
        # `_hub_type` input column: a per-row discriminator injected by the
        # caller (subtype entities sharing one hub — HubEntityMetaClass
        # subtype branch, dv_metaclasses.py:116 + etl.py:414-417 where the
        # mapping's target type overrides the static hub type)
        has_row_type = "_hub_type" in ev.columns
        folded = [
            "_first_ts",
            *self.business_keys,
            *self.carry_cols,
            *(["_hub_type"] if has_row_type else []),
        ]
        bc = F.col(batch_col).cast("long")
        keys = (
            ev.groupBy(self.key_col)
            .agg(
                F.min(bc).alias("_runid"),
                *[
                    F.min(F.struct(bc.alias("b"), F.isnull(c).alias("n"), F.col(c).alias("v")))
                    .getField("v")
                    .alias(c)
                    for c in folded
                ],
            )
            .select(
                F.col(self.key_col),
                # dv.py:48/:93 — the `type` column is the static hub/link
                # type, EXCEPT when the key itself carries a discriminator
                # (HybridLink, dv.py:99-111): then the row's type IS the key
                # part and the static name would collide with it
                (
                    F.col("type")
                    if "type" in self.business_keys
                    else (
                        F.coalesce(F.col("_hub_type"), F.lit(self.hub_type))
                        if has_row_type
                        else F.lit(self.hub_type)
                    )
                ).alias("type"),
                business_key(*self.business_keys).alias("bk"),
                *[F.col(c) for c in self.business_keys if c != "type"],
                *[F.col(c) for c in self.carry_cols],
                *self._extra_cols(),
                F.col("_runid"),
                F.col("_first_ts").alias("_insert_ts"),
                F.lit(self.source_system).alias("_source_system"),
            )
            .withColumn(BUCKET_COL, bucket_expr(self.key_col, table.num_buckets))
        )
        if affected_buckets is not None:
            affected = sorted(int(k) for k in affected_buckets)
        else:
            bucket = bucket_expr(self.key_col, table.num_buckets)
            affected = sorted(int(r[0]) for r in ev.select(bucket).distinct().collect())
        first_load = table.last_commit() is None or not table.last_commit().buckets
        if first_load:
            fresh = keys
        else:
            # anti-join against the pruned state read; APPEND only the new
            # keys — existing bucket files are never rewritten (insert-only)
            state = table.read(buckets=affected)
            fresh = keys.join(state.select(F.col(self.key_col)), self.key_col, "left_anti")
        staged = table.stage(fresh, affected, count_by="_runid")
        per_batch = staged["rows_by"]
        window = [pending[0], pending[-1]]
        written = sorted(staged["written_buckets"])
        for b in pending:
            out[b] = {
                "batch_id": b,
                "new_keys": per_batch.get(b, 0),
                "buckets_read": affected,
                "buckets_written": written,
                "window": window,
            }
        table.commit(
            None,
            affected_buckets=affected,
            batch_id=pending[-1],
            metrics={
                "window": window,
                "new_keys": sum(per_batch.values()),
                "new_keys_per_batch": {str(b): per_batch.get(b, 0) for b in pending},
                "buckets_read": affected,
                "buckets_written": written,
            },
            mode="append",
            staged=staged,
            batch_ids=pending,
        )
        return out


@dataclass
class LinkMerge(HubMerge):
    """Insert-only n-ary link: one row per distinct combination of leg keys.

    ``leg_keys`` maps leg name → that leg's business-key columns (each a
    subset of the link's ``business_keys``); the link row carries one
    SHA-256 hash FK per leg (``fk_<leg>``), computed in place — dv.py:88-130
    semantics with no FK writeback.
    """

    hub_type: str = "link"
    leg_keys: dict[str, list[str]] = field(default_factory=dict)

    def _extra_cols(self) -> list[Column]:
        return [
            hash_key(*cols).alias(f"fk_{leg}") for leg, cols in self.leg_keys.items()
        ]
