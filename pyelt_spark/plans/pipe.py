"""Generic multi-entity pipeline orchestration — ``Pipe.run(parts)`` analog.

The reference sequences one load run as
sor → valuesets → hubs → views → links → viewlinks over a declared list of
mappings (pyelt/pipeline.py:657-744); each mapping type selects its ETL
routine (SourceToSorMapping → source_to_sor, SorToEntityMapping →
sor_to_entity, EntityViewToEntityMapping → view_to_entity,
SorToLinkMapping → sor_to_link, EntityViewToLinkMapping → view_to_link,
pyelt/mappings/*.py).

Here a ``Pipe`` compiles a declared domain (plans/domain.py) into the
engine's bucket-pruned lake tables and runs the same part order per
microbatch. Differences are Spark-first, not semantic:

* "sor staging" is the incoming microbatch DataFrame plus declarative
  field mappings (no staging tables — Catalyst fuses the projection into
  every downstream merge).
* hub / sat / link merges for one part run CONCURRENTLY (disjoint tables,
  one shared deduped batch) — the reference's serial FK-writeback loop
  does not exist because surrogate keys are hashes. Without hooks,
  validations or view promotions no part boundary is observable, so
  every sor-fed table runs its own lane.
* every merge is idempotent per (table, batch_id), so a crash anywhere
  inside ``run`` resumes exactly-once by re-running the batch (tested by
  the torn-vault tests).

``Pipe.replay`` (a bounded stream) and ``Pipe.run`` (one batch — on a
laneable pipe a replay of one batch) share one probe, one skip rule and
one lane loop (``_replay_laned``); the transcript vault's ``apply_batch``
and ``MicrobatchRunner.replay`` delegate to them.
"""

from __future__ import annotations

import os
from collections import OrderedDict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Callable, NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pyelt_spark.operators.hubs import HubMerge, LinkMerge
from pyelt_spark.operators.scd2 import _ONE, Scd2Merge, Scd2Table
from pyelt_spark.plans.domain import (
    DynamicLinkReference,
    HubEntity,
    HybridLink,
    HybridSat,
    LinkEntity,
    Sat,
)
from pyelt_spark.storage.lake import LakeTable

ALL_PARTS = ["sor", "valuesets", "hubs", "views", "links", "viewlinks"]

# the window volume gate's input-row budget per core of session parallelism
WINDOW_ROW_BUDGET_PER_CORE = 200_000


def _windows(spark, ids: list[int], rows: dict[int, int]) -> list[list[int]]:
    """The volume gate: ``ids`` (batch order) cut into consecutive windows
    whose input rows (``rows[b]``, the probe's count) fit
    ``WINDOW_ROW_BUDGET_PER_CORE`` rows per core of session parallelism; a
    batch over the budget is a window of one. A window trades per-batch
    fixed costs for one per-key pass, which wins until its sort tasks
    spill (measured on the earlier window-function merge: 16M events on 8
    pinned cores ran 202 s as one window vs 135 s per batch, 1M events on
    32 cores 13 s vs 20 s)."""
    budget = WINDOW_ROW_BUDGET_PER_CORE * max(spark.sparkContext.defaultParallelism, 1)
    out: list[list[int]] = []
    total = 0
    for b in ids:
        n = rows.get(b, 0)
        if not out or total + n > budget:
            out.append([])
            total = 0
        out[-1].append(b)
        total += n
    return out


def _where(df: DataFrame, conds: list[str]) -> DataFrame:
    """``df`` filtered on all of the SQL predicates ``conds`` in ONE filter:
    every DataFrame op and every Column built is a py4j round trip (a
    filter also an analysis pass), which a tail commit pays per target."""
    return df.filter(" AND ".join(f"({c})" for c in conds)) if conds else df


def _not_null(col: str) -> str:
    return f"`{col}` IS NOT NULL"


def _union(frames: list[DataFrame], allow_missing: bool = True) -> DataFrame:
    """Fold per-mapping frames into one (multiple mappings targeting one
    table write through a single job — single-writer commit protocol).
    ``allow_missing=False`` where the frames are built to a fixed shape
    (valuesets) so a drifting mapping fails loudly instead of null-filling."""
    u = frames[0]
    for f in frames[1:]:
        u = u.unionByName(f, allowMissingColumns=allow_missing)
    return u


class _Feed(NamedTuple):
    """One mapping's rows into one target: the mapping's projection plus
    ``cols`` (name → column, added in order), kept where every SQL
    predicate in ``conds`` holds. The replay probe evaluates the same feed
    over the raw stream (``Pipe._probe``)."""

    mapping: Any
    cols: tuple[tuple[str, Column], ...] = ()
    conds: tuple[str, ...] = ()

    def frame(self, ev: DataFrame) -> DataFrame:
        for name, c in self.cols:
            ev = ev.withColumn(name, c)
        return _where(ev, list(self.conds))


class _Target(NamedTuple):
    """One merge of a run: a table, its merge and the frame feeding it (the
    union of every mapping that targets the table, one ``_Feed`` each)."""

    name: str
    table: Any  # LakeTable | Scd2Table
    merge: Any  # HubMerge | LinkMerge | Scd2Merge
    frame: DataFrame
    feeds: tuple[_Feed, ...] = ()  # empty: not bucket-probed by replay
    snapshot: bool = False  # snapshot sat: never skipped, never windowed


# --------------------------------------------------------------------------
# mapping declarations (pyelt/mappings/sor_to_dv_mappings.py analogs)
# --------------------------------------------------------------------------


@dataclass
class SorToEntityMapping:
    """Batch → one entity's hub + sats (sor_to_entity, etl.py:410-520).

    ``field_map``: target column → source SQL expression (auto-map by name
    when omitted); ``filter``: SQL predicate applied first; ``sats``
    restricts to the named sats (default: all of the entity's sats)."""

    entity: type[HubEntity]
    field_map: dict[str, str] = field(default_factory=dict)
    filter: str | None = None
    sats: list[str] | None = None
    # snapshot=True: the batch is a FULL snapshot, not a change stream —
    # rows become upserts at seq=batch_id and active keys missing from the
    # snapshot become deletes (the reference's file-load path,
    # etl.py:108-187, via operators.scd2.apply_snapshot)
    snapshot: bool = False


@dataclass
class SorToLinkMapping:
    """Batch → link rows (sor_to_link, etl.py:680-830). For HybridLink,
    ``type_expr`` supplies the discriminator (constant or SQL expr)."""

    link: type[LinkEntity]
    field_map: dict[str, str] = field(default_factory=dict)
    filter: str | None = None
    type_expr: str | None = None


@dataclass
class SorToValueSetMapping:
    """Batch → valueset registry (sor_to_valuesets, etl.py:370-408):
    insert-only distinct (valueset_name, code, omschrijving)."""

    valueset_name: str
    code: str
    descr: str
    filter: str | None = None


@dataclass
class EntityViewToEntityMapping:
    """DV view → entity promotion (view_to_entity, pipeline.py:710-717 +
    etl.py view_to_entity): the view is a DataFrame-valued function of the
    pipe (a query over already-loaded vault tables); its rows upsert into
    the target entity like a source batch (no delete detection — a view
    promotion only ever adds or revises)."""

    view: Callable[["Pipe"], DataFrame]
    entity: type[HubEntity]
    sats: list[str] | None = None


@dataclass
class EntityViewToLinkMapping:
    """DV view → link promotion (view_to_link, pipeline.py:731-737)."""

    view: Callable[["Pipe"], DataFrame]
    link: type[LinkEntity]
    type_expr: str | None = None


# the mapping type that feeds each merge part (valuesets: SorToValueSetMapping)
_PART_MAPPINGS = {
    "hubs": SorToEntityMapping,
    "views": EntityViewToEntityMapping,
    "links": SorToLinkMapping,
    "viewlinks": EntityViewToLinkMapping,
}


# --------------------------------------------------------------------------
# pipe
# --------------------------------------------------------------------------


class Pipe:
    """Compile a mapping list into tables + merges; run parts per batch."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        mappings: list[Any],
        num_buckets: int = 32,
        order_by: list[str] | None = None,
        op_col: str | None = "op",
        ts_col: str = "ts",
        source_system: str = "events",
        validations: list[Any] | None = None,
    ):
        self.spark = spark
        self.root = root
        self.mappings = mappings
        self.num_buckets = num_buckets
        self.order_by = order_by or ["seq"]
        self.op_col = op_col
        self.ts_col = ts_col
        self.source_system = source_system
        # declared row validations (RowCondition / DuplicateKeys), run as a
        # pipeline stage before any merge — pipe.validations analog
        # (reference pipeline.py:675-679; invalid rows quarantined and
        # excluded from the DV, test04_validations.py:47-53)
        self.validations: list[Any] = list(validations or [])
        self._exceptions: LakeTable | None = None
        # run_before_* / run_after_* hooks (reference pipeline.py:554-555,
        # :663-664, :680-683): callables (pipe, batch, batch_id) fired at
        # each part boundary. Keys: "before_sor", "after_hubs", ...
        self.hooks: dict[str, list[Callable[["Pipe", DataFrame | None, int], None]]] = {}

        self.hubs: "OrderedDict[type[HubEntity], LakeTable]" = OrderedDict()
        self.hub_merges: dict[type[HubEntity], HubMerge] = {}
        self.sats: "OrderedDict[str, Scd2Table]" = OrderedDict()
        self.sat_merges: dict[str, Scd2Merge] = {}
        self.links: "OrderedDict[type[LinkEntity], LakeTable]" = OrderedDict()
        self.link_merges: dict[type[LinkEntity], LinkMerge] = {}
        self.valuesets: dict[str, LakeTable] = {}
        self.valueset_merges: dict[str, HubMerge] = {}

        for m in mappings:
            if isinstance(m, (SorToEntityMapping, EntityViewToEntityMapping)):
                self._ensure_entity(m.entity)
            elif isinstance(m, (SorToLinkMapping, EntityViewToLinkMapping)):
                self._ensure_link(m.link)
            elif isinstance(m, SorToValueSetMapping):
                self._ensure_valueset(m.valueset_name)

    # ------------------------------------------------------------- compile

    def _ensure_entity(self, entity: type[HubEntity]) -> None:
        owner = entity.__entity_owner__
        if owner not in self.hubs:
            self.hubs[owner] = LakeTable(
                self.spark, os.path.join(self.root, owner.__hub_name__), self.num_buckets
            )
            self.hub_merges[owner] = HubMerge(
                business_keys=list(owner.__bk__),
                hub_type=owner.__dbname__,
                ts_col=self.ts_col,
                source_system=self.source_system,
            )
        for name, sat in entity.__sats__.items():
            if name in self.sats:
                continue
            self.sats[name] = Scd2Table(
                self.spark, os.path.join(self.root, name), self.num_buckets
            )
            self.sat_merges[name] = Scd2Merge(
                business_keys=list(owner.__bk__) + sat.grain_cols(),
                payload_cols=sat.payload_cols(),
                order_by=list(self.order_by),
                op_col=self.op_col,
                ts_col=self.ts_col,
                source_system=self.source_system,
            )

    def _ensure_link(self, link_entity: type[LinkEntity]) -> None:
        if link_entity in self.links:
            return
        link = link_entity.__link__
        refs = link.cls_get_link_refs()
        dyns = link.cls_get_dynamic_refs()
        bk: list[str] = []
        leg_keys: dict[str, list[str]] = {}
        for ref in refs.values():
            for c in ref.key_cols:
                if c not in bk:
                    bk.append(c)
            leg_keys[ref.name] = list(ref.key_cols)
        for dyn in dyns.values():
            for c in (dyn.type_col, dyn.key_col):
                if c not in bk:
                    bk.append(c)
            leg_keys[dyn.name] = [dyn.type_col, dyn.key_col]
        if issubclass(link, HybridLink) and "type" not in bk:
            bk = ["type"] + bk
        self.links[link_entity] = LakeTable(
            self.spark, os.path.join(self.root, link_entity.__dbname__), self.num_buckets
        )
        # the static `type` value on plain-link rows is the association name
        # without the table suffix (reference Link.type, dv.py:93)
        link_type = link_entity.__dbname__
        if link_type.endswith("_link"):
            link_type = link_type[: -len("_link")]
        self.link_merges[link_entity] = LinkMerge(
            business_keys=bk,
            hub_type=link_type,
            ts_col=self.ts_col,
            source_system=self.source_system,
            leg_keys=leg_keys,
        )

    def _ensure_valueset(self, name: str) -> None:
        if name not in self.valuesets:
            self.valuesets[name] = LakeTable(
                self.spark, os.path.join(self.root, f"valueset_{name}"), self.num_buckets
            )
            self.valueset_merges[name] = HubMerge(
                business_keys=["valueset_naam", "code"],
                hub_type=f"valueset_{name}",
                ts_col=self.ts_col,
                source_system=self.source_system,
                carry_cols=["omschrijving"],
            )

    # ---------------------------------------------------------------- hooks

    def add_hook(self, point: str, func: Callable) -> None:
        """Register a part-boundary hook: ``point`` is ``before_<part>`` or
        ``after_<part>`` (parts: sor valuesets hubs views links viewlinks).
        Reference: register via run_before_sor/run_after_sor lists
        (pipeline.py:616-625); here every part has both boundaries."""
        part = point.split("_", 1)[-1]
        if not point.split("_", 1)[0] in ("before", "after") or part not in ALL_PARTS:
            raise ValueError(f"unknown hook point {point!r}")
        self.hooks.setdefault(point, []).append(func)

    def _fire(self, point: str, batch: DataFrame | None, batch_id: int) -> None:
        for fn in self.hooks.get(point, []):
            fn(self, batch, batch_id)

    # ------------------------------------------------------------ runs log

    def _runs_dir(self) -> str:
        d = os.path.join(self.root, "_runs")
        os.makedirs(d, exist_ok=True)
        return d

    def _runs_start(self, batch_id: int, parts: list[str]) -> str:
        """Single-pane run registry — the reference's one ``sys.runs`` row
        per run spanning ALL tables (pipeline.py:259-285, dwh.py:115-147).
        A 'running' record is written BEFORE any part; ``_runs_finish``
        rewrites it with the per-table metrics rollup. A crash mid-run
        leaves the record status='running' — torn-run forensics in one
        file instead of N table manifests. Re-running a batch appends a
        new attempt (reference: same-day runid +0.01) only when some table
        still needs it: the laned path skips a fully committed or provably
        empty batch whole, while the serial part loop records every run.
        Attempts are numbered by probing this batch id's record names
        upward, so the cost does not grow with the registry."""
        import datetime as _dt
        import json as _json

        from pyelt_spark import __version__

        d = self._runs_dir()
        attempt = 0
        while os.path.exists(path := os.path.join(d, f"{batch_id:012d}_{attempt:03d}.json")):
            attempt += 1
        rec = {
            "run_id": batch_id,
            "attempt": attempt,
            "parts": list(parts),
            "status": "running",
            "started": _dt.datetime.now(_dt.timezone.utc).isoformat(),
            "finished": None,
            "engine_version": __version__,
            "tables": {},
        }
        with open(path, "w") as f:
            _json.dump(rec, f)
        return path

    def _runs_finish(self, path: str, out: dict[str, Any]) -> None:
        import datetime as _dt
        import json as _json

        with open(path) as f:
            rec = _json.load(f)
        rec["status"] = "finished"
        rec["finished"] = _dt.datetime.now(_dt.timezone.utc).isoformat()
        rec["tables"] = {k: v for k, v in out.items() if isinstance(v, dict)}
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            _json.dump(rec, f)
        os.replace(tmp, path)

    def runs_log(self) -> list[dict]:
        """All run records, oldest first (sys.runs SELECT analog)."""
        import json as _json

        d = self._runs_dir()
        out = []
        for n in sorted(os.listdir(d)):
            if n.endswith(".json"):
                with open(os.path.join(d, n)) as f:
                    out.append(_json.load(f))
        return out

    # ----------------------------------------------------------- validation

    def exceptions_table(self) -> LakeTable:
        """Quarantine table for invalid rows (reference ``_exceptions``,
        ddl.py:235-260) — one per pipe, lazily created."""
        if self._exceptions is None:
            self._exceptions = LakeTable(
                self.spark, os.path.join(self.root, "_exceptions"), self.num_buckets
            )
        return self._exceptions

    def _validate_sor(
        self, batch: DataFrame, batch_id: int, out: dict[str, Any]
    ) -> DataFrame:
        """Run declared row validations as a pipeline stage: invalid rows
        are quarantined into the exceptions table and EXCLUDED from every
        merge (reference etl.py:326-336 auto-invoke + the test04 contract
        that invalid rows never reach the DV)."""
        from pyelt_spark.operators.validate import (
            MSG_COL,
            VALID_COL,
            RowRule,
            apply_rules,
            mark_duplicate_keys,
            quarantine_exceptions,
            split_valid,
        )
        from pyelt_spark.plans.validations import DuplicateKeys, RowCondition

        rules = [
            RowRule(F.expr(v.condition), v.message)
            for v in self.validations
            if isinstance(v, RowCondition)
        ]
        staged = apply_rules(batch, rules)
        for v in self.validations:
            if isinstance(v, DuplicateKeys):
                staged = mark_duplicate_keys(staged, list(v.keys))
        valid, invalid = split_valid(staged)
        key_cols = []
        for m in self.mappings:
            if isinstance(m, SorToEntityMapping):
                key_cols = list(m.entity.__entity_owner__.__bk__)
                break
        out["exceptions"] = quarantine_exceptions(
            self.exceptions_table(), invalid, batch_id, key_cols
        )
        return valid.drop(VALID_COL, MSG_COL)

    # ---------------------------------------------------------------- parts

    def _project(self, batch: DataFrame, field_map: dict[str, str], flt: str | None) -> DataFrame:
        if flt:
            batch = batch.filter(F.expr(flt))
        for tgt, expr in field_map.items():
            batch = batch.withColumn(tgt, F.expr(expr))
        return batch

    def _upsert_conds(self, cols: list[str]) -> list[str]:
        return [f"`{self.op_col}` <> 'D'"] if self.op_col and self.op_col in cols else []

    def run(
        self,
        batch: DataFrame | None,
        batch_id: int,
        parts: list[str] | None = None,
    ) -> dict[str, Any]:
        """Apply one microbatch through the part sequence (pipeline.py:657:
        ``run(parts=['sor','valuesets','hubs','links','views','viewlinks'])``).
        ``batch`` may be None when only view parts run.

        Where lanes apply (``_laneable``) a batch is a replay of one batch:
        it gets a literal batch column, ONE ``_probe`` lists every sor-fed
        table's buckets (``[]``: the batch feeds the table nothing), and
        ``_replay_laned`` applies it — the same skip rule, run record and
        per-table maintenance as a catch-up. Each table reports
        ``skipped_duplicate_batch`` or ``skipped_empty_batch`` where it has
        nothing to do. ``batch=None`` and non-laneable pipes (hooks,
        validations, views) run the serial part loop (``_run_parts``)."""
        parts = ALL_PARTS if parts is None else parts
        if batch is None or not self._laneable(parts):
            return self._run_parts(batch, batch_id, parts, {})
        # each merge re-scans the batch: caching it for all merges to share
        # measured a LOSS at 16M events on pinned local[8] (153 s → 174 s
        # replay) — columnar re-scans are cheap, a deserialized cache costs
        # fill time and GC pressure
        ev = batch.withColumn(_ONE, F.lit(batch_id).cast("long"))
        targets = self._sor_targets(ev, parts, _ONE)
        _, affected, rows_per = self._probe(ev, _ONE, targets, [batch_id])
        return self._replay_laned(_ONE, targets, [batch_id], affected, rows_per, parts)[0]

    def _run_parts(
        self,
        batch: DataFrame | None,
        batch_id: int,
        parts: list[str],
        affected: dict[str, list[int]],
    ) -> dict[str, Any]:
        """The serial part loop: one run record, then each part's merges
        (run concurrently within the part) between its hooks. ``affected``
        maps sor-fed table name → the replay probe's bucket list (``[]``
        skips a provably empty merge; a missing name discovers its own)."""
        out: dict[str, Any] = {"batch_id": batch_id, "parts": list(parts)}
        run_rec = self._runs_start(batch_id, parts)
        staged = batch
        if "sor" in parts and batch is not None:
            self._fire("before_sor", batch, batch_id)
            # staging is declarative: mappings project/filter lazily off the
            # one batch; nothing materializes until a merge runs. Declared
            # row validations ARE a stage here: invalid rows are quarantined
            # and the merges below only ever see the valid remainder.
            if self.validations:
                staged = self._validate_sor(staged, batch_id, out)
            self._fire("after_sor", staged, batch_id)

        for part in ALL_PARTS[1:]:
            view = part in ("views", "viewlinks")
            if part not in parts or (staged is None and not view):
                continue
            self._fire(f"before_{part}", staged, batch_id)
            # precomputed buckets describe the SOR batch, not view output —
            # view promotions always discover their own buckets
            aff = {} if view else affected
            out.update(self._run_jobs([
                (t.name, self._job(t, batch_id, aff.get(t.name)))
                for t in self._part_targets(part, staged, batch_id)
            ]))
            self._fire(f"after_{part}", staged, batch_id)

        self._runs_finish(run_rec, out)
        return out

    # -------------------------------------------------------------- targets

    def _sor_targets(
        self, frame: DataFrame, parts: list[str], batch_col: str | None = None
    ) -> list[_Target]:
        """Every sor-fed merge target of ``parts``, in part order."""
        return [
            t
            for part in ("valuesets", "hubs", "links")
            if part in parts
            for t in self._part_targets(part, frame, None, batch_col)
        ]

    def _part_targets(
        self,
        part: str,
        staged: DataFrame | None,
        batch_id: int | None,
        batch_col: str | None = None,
    ) -> list[_Target]:
        """The merge targets one part feeds. N mappings may feed ONE table
        (two source shapes into one entity, subtype entities sharing a hub,
        two mappings into one valueset): their frames are UNIONED per target
        table — tables are single-writer and idempotent per batch_id, so two
        merges of one table and batch would race or drop the second."""
        if part == "valuesets":
            return self._valueset_targets(staged, batch_col)
        feeds = [m for m in self.mappings if isinstance(m, _PART_MAPPINGS[part])]
        if part in ("hubs", "views"):
            return self._entity_targets(
                [(m, self._mapping_frame(m, staged, batch_id)) for m in feeds]
            )
        link_evs: "OrderedDict[type[LinkEntity], list[tuple[_Feed, DataFrame]]]" = OrderedDict()
        for m in feeds:
            ev = self._mapping_frame(m, staged, batch_id)
            f = self._link_feed(m, ev.columns)
            link_evs.setdefault(m.link, []).append((f, f.frame(ev)))
        return [
            _Target(
                le.__dbname__, self.links[le], self.link_merges[le],
                _union([fr for _, fr in fed]), feeds=tuple(f for f, _ in fed),
            )
            for le, fed in link_evs.items()
        ]

    def _mapping_frame(self, m: Any, staged: DataFrame | None, batch_id: int | None) -> DataFrame:
        if isinstance(m, (EntityViewToEntityMapping, EntityViewToLinkMapping)):
            return self._as_upsert_events(m.view(self), batch_id)
        return self._project(staged, m.field_map, m.filter)

    def _entity_feeds(
        self, m: Any, cols: list[str]
    ) -> tuple[_Feed, list[tuple[str, _Feed]]]:
        """One entity mapping's contribution, given its projected columns:
        the hub's upsert feed plus per-sat (name, keyed feed)."""
        entity = m.entity
        # subtype entity sharing the owner's hub: its rows register in
        # the SHARED hub with type=<subtype> so downstream queries can
        # tell subtypes apart (HubEntityMetaClass subtype branch,
        # dv_metaclasses.py:116; hub insert etl.py:414-417 where the
        # mapping's target type overrides the static hub type)
        hub_cols = (("_hub_type", F.lit(entity.__subtype__)),) if entity.__subtype__ else ()
        hub_feed = _Feed(m, hub_cols, tuple(self._upsert_conds(cols)))
        sat_feeds: list[tuple[str, _Feed]] = []
        wanted = entity.__sats__ if m.sats is None else {
            n: s for n, s in entity.__sats__.items() if n in m.sats
        }
        for name, sat in wanted.items():
            need = self.sat_merges[name].business_keys
            # a mapping loads only the sats its source can key: a batch
            # without a sat's grain columns skips that sat entirely
            # (reference: per-sat field mappings, sor_to_entity)
            if any(c not in cols for c in need):
                continue
            # rows missing any grain column can't key this sat — skip them
            conds = [_not_null(c) for c in need]
            if isinstance(sat, type) and issubclass(sat, HybridSat):
                conds.insert(0, _not_null("type"))
            sat_feeds.append((name, _Feed(m, (), tuple(conds))))
        return hub_feed, sat_feeds

    def _entity_targets(self, inputs: list[tuple[Any, DataFrame]]) -> list[_Target]:
        hub_evs: "OrderedDict[type[HubEntity], list[tuple[_Feed, DataFrame]]]" = OrderedDict()
        sat_evs: "OrderedDict[str, list[tuple[_Feed, DataFrame]]]" = OrderedDict()
        sat_snap: dict[str, set[bool]] = {}
        for m, ev in inputs:
            hub_feed, sat_feeds = self._entity_feeds(m, ev.columns)
            hub_evs.setdefault(m.entity.__entity_owner__, []).append(
                (hub_feed, hub_feed.frame(ev))
            )
            for name, f in sat_feeds:
                sat_evs.setdefault(name, []).append((f, f.frame(ev)))
                sat_snap.setdefault(name, set()).add(getattr(m, "snapshot", False))
        targets = [
            _Target(
                o.__hub_name__, self.hubs[o], self.hub_merges[o],
                _union([fr for _, fr in fed]), feeds=tuple(f for f, _ in fed),
            )
            for o, fed in hub_evs.items()
        ]
        for name, fed in sat_evs.items():
            if len(sat_snap[name]) > 1:
                raise ValueError(
                    f"sat {name}: mixing snapshot and change-stream mappings "
                    "in one run is ambiguous (snapshot claims completeness)"
                )
            snapshot = sat_snap[name] == {True}
            targets.append(
                _Target(
                    name, self.sats[name], self.sat_merges[name],
                    _union([fr for _, fr in fed]),
                    feeds=() if snapshot else tuple(f for f, _ in fed),
                    snapshot=snapshot,
                )
            )
        return targets

    def _valueset_targets(
        self, staged: DataFrame, batch_col: str | None = None
    ) -> list[_Target]:
        by_name: "OrderedDict[str, list[DataFrame]]" = OrderedDict()
        for m in self.mappings:
            if not isinstance(m, SorToValueSetMapping):
                continue
            vs = (
                self._project(staged, {}, m.filter)
                .select(
                    F.lit(m.valueset_name).alias("valueset_naam"),
                    F.expr(m.code).cast("string").alias("code"),
                    F.expr(m.descr).cast("string").alias("omschrijving"),
                    F.col(self.ts_col),
                    *([F.col(batch_col)] if batch_col else []),
                )
                .filter(F.col("code").isNotNull())
            )
            by_name.setdefault(m.valueset_name, []).append(vs)
        # valuesets are never probed (no feeds): an unfed registry still
        # commits every batch, so it always has a manifest (and schema)
        return [
            _Target(
                f"valueset_{name}", self.valuesets[name], self.valueset_merges[name],
                _union(frames, allow_missing=False),
            )
            for name, frames in by_name.items()
        ]

    def _link_feed(self, m: Any, cols: list[str]) -> _Feed:
        """A link mapping's feed, given its projected columns."""
        link = m.link.__link__
        extra: tuple[tuple[str, Column], ...] = ()
        if issubclass(link, HybridLink):
            extra = (("type", F.expr(m.type_expr or "'default'")),)
            cols = cols + ["type"]
        # a link row needs every TYPED leg key present (null-legged
        # associations are not associations; reference links FK-join through
        # hub ids) — dynamic legs are optional per row (dv.py:136-137)
        required = [
            c for r in link.cls_get_link_refs().values() for c in r.key_cols if c in cols
        ]
        return _Feed(m, extra, tuple(self._upsert_conds(cols) + [_not_null(c) for c in required]))

    # ----------------------------------------------------------------- jobs

    def _job(self, t: _Target, batch_id: int, aff: list[int] | None) -> Callable[[], dict]:
        """One target's merge of one batch on the serial part loop, and a
        snapshot sat's per-batch merge in a lane. ``aff == []``: the replay
        probe proved the batch feeds the table no rows, so the merge is
        skipped with zero Spark jobs (None = unknown → the merge discovers
        its own buckets)."""
        if t.snapshot:
            # NEVER skip a snapshot sat on an empty batch: an empty
            # snapshot claims completeness and closes every row
            from pyelt_spark.operators.scd2 import apply_snapshot

            return lambda: apply_snapshot(t.table, t.merge, t.frame, batch_id)
        if aff == []:
            return lambda: {"skipped_empty_batch": batch_id}
        return lambda: t.merge.apply_batch(t.table, t.frame, batch_id, aff)

    def _run_jobs(self, jobs: list[tuple[str, Callable[[], dict]]]) -> dict[str, Any]:
        if not jobs:
            return {}
        with ThreadPoolExecutor(max_workers=min(len(jobs), 16)) as pool:
            futs = [(name, pool.submit(fn)) for name, fn in jobs]
            return {name: f.result() for name, f in futs}

    def _as_upsert_events(self, view_df: DataFrame, batch_id: int) -> DataFrame:
        """View rows become plain upsert events at seq=batch_id (a view
        promotion revises/extends the target, never deletes)."""
        seq = self.order_by[0]
        ev = view_df
        if seq not in ev.columns:
            ev = ev.withColumn(seq, F.lit(batch_id).cast("long"))
        if self.op_col and self.op_col not in ev.columns:
            ev = ev.withColumn(self.op_col, F.lit("U"))
        if self.ts_col not in ev.columns:
            ev = ev.withColumn(self.ts_col, F.lit("1970-01-01").cast("timestamp"))
        return ev

    # ---------------------------------------------------------------- state

    def sat_table(self, sat: type[Sat] | str) -> Scd2Table:
        return self.sats[sat if isinstance(sat, str) else sat.__dbname__]

    def hub_table(self, entity: type[HubEntity]) -> LakeTable:
        return self.hubs[entity.__entity_owner__]

    def link_table(self, link_entity: type[LinkEntity]) -> LakeTable:
        return self.links[link_entity]

    @staticmethod
    def _compact(table: LakeTable | Scd2Table, max_dirs_per_bucket: int = 16) -> None:
        """Small-file maintenance of ONE table: append-mode tables (hubs,
        links, valuesets, sat histories) gain one dir per touched bucket
        per batch; compact any bucket whose manifest references more than
        ``max_dirs_per_bucket`` dirs. A sat's copy-on-write head holds one
        dir per bucket, so its check never compacts. Manifest inspection is
        in-memory — zero cost when nothing is fragmented."""
        if isinstance(table, Scd2Table):
            table.hist.compact_if_crowded(max_dirs_per_bucket)
            table.compact_head(max_dirs_per_bucket=max_dirs_per_bucket)
        else:
            table.compact_if_crowded(max_dirs_per_bucket)

    def maintain(self, max_dirs_per_bucket: int = 16) -> None:
        """``_compact`` across every compiled table."""
        for t in (
            *self.hubs.values(),
            *self.links.values(),
            *self.valuesets.values(),
            *self.sats.values(),
        ):
            self._compact(t, max_dirs_per_bucket)

    def replay(
        self,
        events: DataFrame,
        batch_col: str = "batch_id",
        parts: list[str] | None = None,
    ) -> list[dict]:
        """Replay a change stream batch-by-batch in batch order.

        ONE up-front probe job (``_probe``) finds every batch id and, per
        sor-fed table, the buckets each batch touches, so the merges skip
        their bucket-discovery collects — and a probed table with no hits
        in a batch provably gets no input rows there, so its merge is
        skipped outright with zero Spark jobs. In a real CDC fan-out most
        tables are untouched by most microbatches, so this is the
        steady-state fast path, not an edge case.

        Where lanes apply (``_laneable``) the replay runs per-table lanes
        (``_replay_laned``); otherwise it falls back to the serial
        per-batch part loop (``_run_parts``), compacting after every
        batch. ``events`` is not persisted on either path: on the serial
        path, which re-reads it once per batch per mapping, a persisted
        stream was slower in 4 of 4 interleaved pairs (sf0.01 domain
        replay, ``local[4]``: median 12.6 s persisted against 12.1 s
        re-read)."""
        parts = ALL_PARTS if parts is None else parts
        targets = self._sor_targets(events, parts, batch_col)
        ids, affected, rows_per = self._probe(events, batch_col, targets)
        if self._laneable(parts):
            return self._replay_laned(batch_col, targets, ids, affected, rows_per, parts)
        out = []
        for b in ids:
            out.append(self._run_parts(events.filter(F.col(batch_col) == b), b, parts, affected[b]))
            self.maintain()
        return out

    def _probe(
        self,
        events: DataFrame,
        batch_col: str,
        targets: list[_Target],
        ids: list[int] | None = None,
    ) -> tuple[list[int], dict[int, dict[str, list[int]]], dict[tuple[int, str], int]]:
        """One aggregation over ONE scan of the stream: the batch ids (or
        the caller's ``ids``, so an empty batch still reports), each
        batch's bucket list per probed table (``affected[b][table]``; ``[]``
        proves an empty input) and each (batch, table)'s input row count
        for the window volume gate. Each feed of a probed table becomes one
        ``when(<mapping filter AND feed predicates>, bucket)`` column over
        the raw stream, so the buckets are exactly the merge input's.
        Snapshot sats and valuesets have no feeds and are not probed."""
        from pyelt_spark.functions.hashing import hash_key
        from pyelt_spark.storage.lake import bucket_expr

        probed = [
            t for t in targets
            if t.feeds and all(c in t.frame.columns for c in t.merge.business_keys)
        ]
        raw = events.columns
        df, kcols = events, []
        for m in self.mappings:
            feeds = [(t, f) for t in probed for f in t.feeds if f.mapping is m]
            if not feeds:
                continue
            # evaluate the mapping's feeds under its projected column names
            # (a mapping's feeds add at most the hub's ``_hub_type`` or the
            # link's ``type``), then restore the raw columns it overwrote
            extra = {n: c for _, f in feeds for n, c in f.cols}
            over = [c for c in raw if c in m.field_map or c in extra]
            ev = df.select(
                "*",
                *[F.col(f"`{c}`").alias(f"__raw_{c}") for c in over],
                (F.expr(m.filter) if m.filter else F.lit(True)).alias("__keep"),
            )
            ev = self._project(ev, m.field_map, None)
            if extra:
                ev = ev.withColumns(extra)
            cols = set(ev.columns)
            names = [f"__k{len(kcols) + i}" for i in range(len(feeds))]
            new = []
            for name, (t, f) in zip(names, feeds):
                keys = [
                    F.col(f"`{c}`") if c in cols else F.lit(None)
                    for c in t.merge.business_keys
                ]
                hit = F.expr(" AND ".join(f"({c})" for c in ["__keep", *f.conds]))
                bucket = bucket_expr(hash_key(*keys), t.table.num_buckets)
                new.append(
                    F.struct(F.lit(t.name).alias("t"), F.when(hit, bucket).alias("k")).alias(name)
                )
            # by-name drop/rename: a per-column select costs py4j round trips
            df = (
                ev.select("*", *new)
                .drop("__keep", *m.field_map, *extra)
                .withColumnsRenamed({f"__raw_{c}": c for c in over})
            )
            kcols += names
        # the raw row itself rides along (table null): batch-id discovery
        # shares the probe job
        rows = (
            df.select(
                F.col(f"`{batch_col}`").alias("_b"),
                F.explode(
                    F.array(
                        F.struct(
                            F.lit(None).cast("string").alias("t"),
                            F.lit(None).cast("int").alias("k"),
                        ),
                        *kcols,
                    )
                ).alias("s"),
            )
            .select("_b", "s.t", "s.k")
            .filter("t IS NULL OR k IS NOT NULL")
            .groupBy("_b", "t", "k")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        if ids is None:
            ids = sorted({int(r["_b"]) for r in rows})
        affected = {b: {t.name: [] for t in probed} for b in ids}
        rows_per: dict[tuple[int, str], int] = {}
        for r in rows:
            if r["t"] is not None:
                b = int(r["_b"])
                affected[b][r["t"]].append(int(r["k"]))
                rows_per[(b, r["t"])] = rows_per.get((b, r["t"]), 0) + int(r["n"])
        return ids, affected, rows_per

    def _laneable(self, parts: list[str] | None) -> bool:
        """Laned replay applies when every target table's batch chain is
        independent of every other table: sor-fed hub/sat/link/valueset
        merges read only the staged batch and their OWN table's state
        (hash surrogate keys — no cross-table FK lookups). View promotions
        read OTHER tables' post-batch state, hooks observe part
        boundaries, and validations thread a quarantine stage through the
        batch — all three force the per-batch part order, so their
        presence falls back to the serial per-batch part loop (``_run_parts``)."""
        wanted = set(ALL_PARTS if parts is None else parts)
        has_views = any(
            isinstance(m, (EntityViewToEntityMapping, EntityViewToLinkMapping))
            for m in self.mappings
        )
        return (
            not self.hooks
            and not self.validations
            and not (has_views and ("views" in wanted or "viewlinks" in wanted))
        )

    def _replay_laned(
        self,
        batch_col: str,
        targets: list[_Target],
        ids: list[int],
        affected: dict[int, dict[str, list[int]]],
        rows_per: dict[tuple[int, str], int],
        parts: list[str],
    ) -> list[dict]:
        """Per-TABLE lanes over the batch sequence: each table applies its
        batches in order on its own sequential chain, and all chains run
        concurrently. Correctness needs only per-table batch order (batch
        N+1's merge reads the state batch N committed — on the same
        table), so the per-batch cross-table barrier of the serial loop is
        pure wasted wall-clock; dropping it takes the replay from
        Σ_batches max_tables(latency) to max_tables Σ_batches(latency).

        Resume: a batch that some table has committed and every other
        table has committed or provably gets nothing from is skipped
        whole — no lane work, no run record; its result still carries one
        ``skipped_duplicate_batch`` or ``skipped_empty_batch`` entry per
        table. A batch no table committed runs, so a batch that feeds
        nothing still leaves its run record (the pipe-wide batch-id
        high-water mark, ``EntityData``). Each merge stays individually
        idempotent per (table, batch_id), so a crash — which can leave
        DIFFERENT tables at different batches — still resumes
        exactly-once by re-running the replay. Run-registry
        records are started per pending batch up front and finished as
        the outputs assemble; a crash leaves every unfinished batch
        'running' (torn-run forensics unchanged)."""
        committed = {t.name: t.table.committed_batch_ids() for t in targets}
        outs: dict[int, dict[str, Any]] = {}
        for b in ids:
            done = {
                t.name: {"skipped_duplicate_batch": b} if b in committed[t.name]
                else {"skipped_empty_batch": b}
                for t in targets
                if b in committed[t.name] or affected[b].get(t.name) == []
            }
            if len(done) == len(targets) and any(b in c for c in committed.values()):
                outs[b] = {"batch_id": b, "skipped_duplicate_batch": b, **done}
        pending = [b for b in ids if b not in outs]
        if not pending:
            return [outs[b] for b in ids]
        run_recs = {}
        for b in pending:
            outs[b] = {"batch_id": b, "parts": list(parts)}
            run_recs[b] = self._runs_start(b, parts)

        def lane(t: _Target) -> None:
            # lane-scoped maintenance after every merge: a lane compacts
            # only ITS table (a cross-lane compaction would violate the
            # tables' single-writer commit protocol mid-replay). Snapshot
            # sats claim completeness per batch and never window
            if t.snapshot:
                for b in pending:
                    frame = t.frame.filter(F.col(batch_col) == b)
                    outs[b][t.name] = self._job(t._replace(frame=frame), b, None)()
                    self._compact(t.table)
                return
            # the mapping projections are batch-independent, so a window
            # merge slicing the full stream by batch id is identical to the
            # per-batch frames. Unprobed tables have no bucket evidence:
            # one window, and None lets the merge discover its own buckets
            # ([] would wrongly publish an empty manifest)
            probed = t.name in affected[pending[0]]
            ids_t = [b for b in pending if affected[b].get(t.name) != []]
            rows_t = {b: rows_per.get((b, t.name), 0) for b in ids_t}
            for w in _windows(self.spark, ids_t, rows_t) if probed else [ids_t]:
                aff_t = sorted({k for b in w for k in affected[b][t.name]}) if probed else None
                res = t.merge.apply_batches(t.table, t.frame, batch_col, w, affected_buckets=aff_t)
                for b in w:
                    outs[b][t.name] = res[b]
                self._compact(t.table)
            for b in pending:
                outs[b].setdefault(t.name, {"skipped_empty_batch": b})

        self._run_jobs([(t.name, lambda t=t: lane(t)) for t in targets])
        for b in pending:
            self._runs_finish(run_recs[b], outs[b])
        return [outs[b] for b in ids]
