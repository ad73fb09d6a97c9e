"""Bucket-partitioned copy-on-write lake table with an atomic commit log.

The north rule targets Iceberg ``MERGE INTO``; this sandbox ships no
Iceberg/Delta jars, so the engine provides its own minimal table format
with the same three properties a 10^10-event merge-apply loop needs —
the API is deliberately shaped so each call maps 1:1 onto an Iceberg
catalog call when one is available:

1. **Partition-pruned merges.** Rows are hash-bucketed on the business key
   (``bucket(N, key)`` in Iceberg terms). A microbatch first computes its
   affected buckets (cheap: distinct over the deduped batch), reads ONLY
   those buckets' files, and rewrites ONLY those buckets. Untouched
   buckets are carried forward by manifest reference — zero I/O. At 100 TB
   with 4096 buckets, a batch touching 1% of conversations reads/writes
   ~1% of the state instead of all of it.

2. **Exactly-once via idempotent commits.** A commit is a JSON manifest
   written to a temp name then atomically renamed to
   ``_commits/{version}.json``; it records the ``batch_id`` it applied.
   Re-applying an already-committed batch_id is a no-op (the runner
   checks ``committed_batch_ids()``), so crash-replay from any point is
   safe — the reference gets the same property from its EXCEPT/NOT EXISTS
   set-difference loads (pyelt/process/etl.py:156-163) and sys.runs
   bookkeeping (pyelt/pipeline.py:259-285).

3. **Resumable checkpoint + lineage.** The commit log IS the checkpoint:
   each manifest carries per-bucket row counts, merge metrics
   (inserted/updated/closed/deleted/unchanged) and the source lineage of
   the batch, replacing the reference's ``sys.runs`` table
   (pyelt/datalayers/dwh.py:115-147).

Schema evolution is additive-only (reference contract:
pyelt/process/ddl.py:122-144): new columns append to the stored schema and
the hashdiff recipe gains a version; old data files are read with
``mergeSchema`` so missing columns surface as NULL.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid
from collections import Counter
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyelt_spark.functions.hashing import HashRecipe

BUCKET_COL = "_bucket"
_PART_COL = "_bucket_p"  # duplicated partition dir column (partitionBy drops it)


def _scan_staged(d: str, count_by: str | None = None) -> dict:
    """The ``_bucket_p=`` dirs of a staged write under ``d``: the written
    buckets and the row count from the parquet footers — metadata only,
    no data read. This is how post-write merge metrics are derived
    without a pre-write driver aggregation (the Iceberg analog is the
    write job's per-file stats recorded in the snapshot summary).
    ``count_by``: also the row count per value of that column
    (``rows_by``, empty without it), reading that one column of the
    staged files."""
    import pyarrow.parquet as pq

    written: set[int] = set()
    rows = 0
    rows_by: Counter = Counter()
    for name in os.listdir(d) if os.path.isdir(d) else []:
        if not name.startswith(f"{_PART_COL}="):
            continue
        written.add(int(name.split("=", 1)[1]))
        for f in os.listdir(os.path.join(d, name)):
            if not f.endswith(".parquet"):
                continue
            pf = pq.ParquetFile(os.path.join(d, name, f))
            rows += pf.metadata.num_rows
            if count_by is not None:
                rows_by.update(pf.read(columns=[count_by]).column(0).to_pylist())
    return {"written_buckets": written, "rows": rows, "rows_by": dict(rows_by)}


def bucket_expr(key_col, num_buckets: int):
    """Deterministic bucket id for a key column (name or Column):
    pmod(murmur3, N) — the same shape as Iceberg's bucket transform.
    Stable across runs and cluster sizes."""
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    return F.pmod(F.hash(c), F.lit(num_buckets)).cast("int")


@dataclass
class Commit:
    version: int
    batch_id: int | None
    buckets: dict[str, list[str]]  # bucket id (str) -> data dirs (rel paths)
    schema: dict
    recipe: dict | None
    metrics: dict[str, Any]
    # a window commit applies SEVERAL batch ids atomically (the
    # catch-up/window-coalesced replay — one snapshot covers the whole
    # window, like one Iceberg snapshot per multi-batch commit); batch_id
    # stays the window's last id for ordering
    batch_ids: list[int] | None = None

    def to_json(self) -> dict:
        out = {
            "version": self.version,
            "batch_id": self.batch_id,
            "buckets": self.buckets,
            "schema": self.schema,
            "recipe": self.recipe,
            "metrics": self.metrics,
        }
        if self.batch_ids is not None:
            out["batch_ids"] = list(self.batch_ids)
        return out

    @classmethod
    def from_json(cls, d: dict) -> "Commit":
        return cls(
            version=d["version"],
            batch_id=d.get("batch_id"),
            buckets={str(k): list(v) for k, v in d["buckets"].items()},
            schema=d["schema"],
            recipe=d.get("recipe"),
            metrics=d.get("metrics", {}),
            batch_ids=d.get("batch_ids"),
        )


class LakeTable:
    """A key-bucketed SCD2 state table under a directory.

    Layout::

        {path}/_commits/000000000001.json   commit manifests (atomic rename)
        {path}/data/v1/_bucket_p=0/*.parquet
        {path}/data/v2/_bucket_p=7/*.parquet   (only rewritten buckets)
    """

    def __init__(self, spark: SparkSession, path: str, num_buckets: int = 32):
        self.spark = spark
        self.path = path
        self.num_buckets = num_buckets
        os.makedirs(os.path.join(path, "_commits"), exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        # in-process commit-log cache: loaded once, appended on commit.
        # Single-writer assumption (one driver owns a table), matching the
        # commit protocol; reopen the table to see another writer's commits.
        # The lock serializes cache population against the commit append:
        # no engine thread reads a table another thread commits (each lane
        # owns its tables), but a reader thread — a concurrent view query,
        # a caller's monitor — may, and an unsynchronized first read could
        # capture a pre-commit disk listing and assign it AFTER the commit
        # appended, silently dropping that commit from the cache (the next
        # version number would then be reused and os.rename would overwrite
        # a published manifest).
        self._commits_cache: list[Commit] | None = None
        self._commits_lock = threading.Lock()

    # ---------------------------------------------------------------- commits

    def _commit_dir(self) -> str:
        return os.path.join(self.path, "_commits")

    def commits(self) -> list[Commit]:
        with self._commits_lock:
            if self._commits_cache is None:
                out = []
                for name in sorted(os.listdir(self._commit_dir())):
                    if name.endswith(".json"):
                        with open(os.path.join(self._commit_dir(), name)) as f:
                            out.append(Commit.from_json(json.load(f)))
                self._commits_cache = out
            return self._commits_cache

    def last_commit(self) -> Commit | None:
        cs = self.commits()
        return cs[-1] if cs else None

    def committed_batch_ids(self) -> set[int]:
        out = {c.batch_id for c in self.commits() if c.batch_id is not None}
        for c in self.commits():
            if c.batch_ids:
                out.update(c.batch_ids)
        return out

    def recipe(self) -> HashRecipe | None:
        last = self.last_commit()
        if last and last.recipe:
            return HashRecipe.from_json(last.recipe)
        return None

    # ---------------------------------------------------------------- reading

    def _schema(self) -> T.StructType | None:
        last = self.last_commit()
        if last is None:
            return None
        return T.StructType.fromJson(last.schema)

    def read_version(self, version: int, buckets: list[int] | None = None) -> DataFrame:
        """Time travel: read the table as of commit ``version`` (snapshot
        isolation — every commit is immutable). Versions whose data dirs
        were removed by ``vacuum`` are no longer readable."""
        for c in self.commits():
            if c.version == version:
                return self._read_commit(c, buckets)
        raise ValueError(f"no commit version {version} at {self.path}")

    def read(self, buckets: list[int] | None = None) -> DataFrame:
        """Read current state; ``buckets`` prunes to the listed buckets only
        (file-level pruning — unlisted buckets are never opened)."""
        return self._read_commit(self.last_commit(), buckets)

    def _read_commit(self, last: Commit | None, buckets: list[int] | None = None) -> DataFrame:
        schema = T.StructType.fromJson(last.schema) if last else None
        if last is None or not last.buckets:
            if schema is None:
                raise ValueError(f"empty table with no schema at {self.path}")
            return self.spark.createDataFrame([], schema)
        wanted = (
            last.buckets
            if buckets is None
            else {str(b): last.buckets[str(b)] for b in buckets if str(b) in last.buckets}
        )
        dirs = sorted({d for ds in wanted.values() for d in ds})
        if not dirs:
            return self.spark.createDataFrame([], schema)
        paths = [os.path.join(self.path, d) for d in dirs]
        # explicit stored schema: no per-file footer merging, and files that
        # predate an additive evolution surface the new columns as NULL
        return self.spark.read.schema(schema).parquet(*paths)

    # ---------------------------------------------------------------- writing

    def stage(
        self, new_data: DataFrame, affected_buckets: list[int], count_by: str | None = None
    ) -> dict:
        """Write the NEXT version's data files without publishing a manifest.

        Returns a staging handle for ``commit(..., staged=...)``. Lets a
        caller overlap two tables' data writes (e.g. hist + head in one
        merge) while still publishing their manifests in crash-safe order —
        an unpublished stage dir is invisible (manifests are the source of
        truth) and simply overwritten on retry. Single-writer assumption,
        same as commit.

        The pre-write exchange is deliberate and MEASURED: skipping it
        (writing straight from the merge's key-hash partitioning) looks
        like a saved shuffle but was 12.3 → 15.2 s on the sf0.1 replay in
        a warm-vs-warm interleaved A/B — the multi-file bucket dirs it
        leaves behind (3-5 files/bucket after 8 batches) make every
        subsequent pruned head read slower, which compounds across
        batches. One exchange per write keeps one file per bucket and the
        read path flat. An AQE REBALANCE hint instead of the fixed
        ``repartition(len(affected))`` was also A/B-measured (r5) and LOST
        on the laned sf0.1 replay (16.2/18.7 vs 15.6/16.3 s interleaved):
        the extra adaptive stage barrier costs more than the small tasks
        it coalesces away when many concurrent microbatch jobs share the
        scheduler. ``count_by``: see ``_scan_staged``."""
        last = self.last_commit()
        version = (last.version + 1) if last else 1
        rel_dir = os.path.join("data", f"v{version}")
        out_dir = os.path.join(self.path, rel_dir)
        df = new_data.withColumn(_PART_COL, F.col(BUCKET_COL)).repartition(
            max(len(affected_buckets), 1), F.col(BUCKET_COL)
        )
        df.write.partitionBy(_PART_COL).mode("overwrite").parquet(out_dir)
        return {
            "version": version,
            "rel_dir": rel_dir,
            **_scan_staged(out_dir, count_by),
            "schema_json": json.loads(new_data.schema.json()),
        }

    def stage_tagged(
        self,
        other: "LakeTable",
        tagged: DataFrame,
        affected_buckets: list[int],
        schema_json: dict,
    ) -> tuple[dict, dict]:
        """Stage this table's AND ``other``'s next-version data files in ONE
        Spark job (one exchange, one write), returning ``(own_staged,
        other_staged)`` handles shaped exactly like :meth:`stage`'s.
        ``tagged`` carries a ``_dest`` column ('a' = this table, 'b' =
        ``other``) plus the shared data columns; ``schema_json`` is the
        stored schema for both tables (identical by the caller's
        alignment).

        Motivation (guide §2.4/§2.6): an SCD2 merge stages a head rewrite
        and a history append from one classified frame; as two write jobs
        they each pay an exchange, a scheduler round-trip and — under a
        laned replay — contention with every other lane's jobs. Fused,
        one hash exchange on (dest, bucket) partitions the tagged frame,
        ``partitionBy`` splits the output per destination, and the staged
        dirs are renamed into each table's own ``data/v{N}`` (same
        filesystem by construction — both tables live under one Scd2Table
        root). Nothing is published: manifests still commit separately,
        in the caller's crash-safe order, so the protocol is unchanged.
        """
        own_last, other_last = self.last_commit(), other.last_commit()
        own_ver = (own_last.version + 1) if own_last else 1
        other_ver = (other_last.version + 1) if other_last else 1
        own_rel = os.path.join("data", f"v{own_ver}")
        other_rel = os.path.join("data", f"v{other_ver}")
        tmp = os.path.join(self.path, "data", f".pair-{uuid.uuid4().hex}")
        dest = "_dest_p"
        # no exchange here: the caller pre-partitions the frame by bucket
        # (one file per (dest, bucket) dir falls out of partitionBy because
        # a bucket's rows — both destinations — live in one task)
        (
            tagged.withColumnRenamed("_dest", dest)
            .withColumn(_PART_COL, F.col(BUCKET_COL))
            .write.partitionBy(dest, _PART_COL)
            .mode("overwrite")
            .parquet(tmp)
        )

        def _adopt(tag: str, table: "LakeTable", version: int, rel_dir: str) -> dict:
            out_dir = os.path.join(table.path, rel_dir)
            src = os.path.join(tmp, f"{dest}={tag}")
            scan = _scan_staged(src)
            if scan["written_buckets"]:
                os.makedirs(out_dir, exist_ok=True)
            for b in scan["written_buckets"]:
                name = f"{_PART_COL}={b}"
                tgt = os.path.join(out_dir, name)
                shutil.rmtree(tgt, ignore_errors=True)  # retry overwrite
                os.rename(os.path.join(src, name), tgt)
            return {
                "version": version,
                "rel_dir": rel_dir,
                **scan,
                "schema_json": schema_json,
            }

        try:
            own_staged = _adopt("a", self, own_ver, own_rel)
            other_staged = _adopt("b", other, other_ver, other_rel)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return own_staged, other_staged

    def commit(
        self,
        new_data: DataFrame | None,
        affected_buckets: list[int],
        batch_id: int | None,
        recipe: HashRecipe | None = None,
        metrics: dict[str, Any] | None = None,
        mode: str = "overwrite",
        bucket_overrides: dict[str, list[str]] | None = None,
        staged: dict | None = None,
        batch_ids: list[int] | None = None,
    ) -> Commit:
        """Publish a new table version.

        ``mode='overwrite'``: ``new_data`` is the complete new contents of
        the affected buckets (copy-on-write merge path).
        ``mode='append'``: ``new_data`` holds only NEW rows; affected
        buckets keep their existing files and gain one more dir (the
        insert-only hub/link path — no read-modify-write).
        Unaffected buckets are carried forward by reference either way.
        ``bucket_overrides``: manifest-only dir-list replacements applied on
        top of the carry-forward (retention drops whole expired dirs by
        reference — zero data I/O; an empty list removes the bucket)."""
        if staged is None and new_data is not None:
            staged = self.stage(new_data, affected_buckets)
        last = self.last_commit()
        version = (last.version + 1) if last else 1
        if staged is not None:
            if staged["version"] != version:
                raise ValueError(
                    f"stale stage: staged v{staged['version']}, next is v{version}"
                )
            rel_dir = staged["rel_dir"]
            written_buckets: set[int] = staged["written_buckets"]
        else:
            rel_dir = os.path.join("data", f"v{version}")
            written_buckets = set()

        buckets = dict(last.buckets) if last else {}
        for b in affected_buckets:
            new_dir = os.path.join(rel_dir, f"{_PART_COL}={b}")
            if b in written_buckets:
                if mode == "append":
                    buckets[str(b)] = buckets.get(str(b), []) + [new_dir]
                else:
                    buckets[str(b)] = [new_dir]
            elif mode != "append":
                buckets.pop(str(b), None)  # bucket emptied by this commit
        for b, ds in (bucket_overrides or {}).items():
            if ds:
                buckets[str(b)] = list(ds)
            else:
                buckets.pop(str(b), None)

        if staged is not None:
            schema_json = staged["schema_json"]
        else:
            schema_json = last.schema if last else None
        if schema_json is None:
            raise ValueError("first commit must carry data to define a schema")

        commit = Commit(
            version=version,
            batch_id=batch_id,
            buckets=buckets,
            schema=schema_json,
            recipe=recipe.to_json() if recipe else (last.recipe if last else None),
            metrics=metrics or {},
            batch_ids=batch_ids,
        )
        tmp = os.path.join(self._commit_dir(), f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump(commit.to_json(), f)
        os.rename(tmp, os.path.join(self._commit_dir(), f"{version:012d}.json"))
        with self._commits_lock:
            # version guard: a concurrent commits() population may have run
            # between the rename above and this append, already listing the
            # new manifest from disk — appending again would duplicate it
            if self._commits_cache is not None and (
                not self._commits_cache
                or self._commits_cache[-1].version < commit.version
            ):
                self._commits_cache.append(commit)
        return commit

    # ------------------------------------------------------------ maintenance

    def compact_if_crowded(self, max_dirs_per_bucket: int = 16) -> None:
        """Compact only when some bucket's manifest references more than
        ``max_dirs_per_bucket`` data dirs. Manifest inspection is in-memory
        — zero cost when nothing is fragmented. The shared idiom for every
        append-mode table's post-batch maintenance (hub/link/sat-history)."""
        last = self.last_commit()
        if last and any(
            len(d) > max_dirs_per_bucket for d in last.buckets.values()
        ):
            self.compact(max_versions_per_bucket=max_dirs_per_bucket)

    def compact(self, max_versions_per_bucket: int = 4) -> None:
        """Rewrite buckets whose data spans many commit versions (small-file
        compaction — Iceberg's rewrite_data_files analog)."""
        last = self.last_commit()
        if last is None:
            return
        crowded = [int(b) for b, dirs in last.buckets.items() if len(dirs) > max_versions_per_bucket]
        if not crowded:
            return
        df = self.read(buckets=crowded)
        self.commit(df, affected_buckets=crowded, batch_id=None, metrics={"compaction": True})

    def vacuum(self) -> None:
        """Delete data dirs no longer referenced by the latest manifest."""
        last = self.last_commit()
        if last is None:
            return
        live = {d.split(os.sep)[1] for ds in last.buckets.values() for d in ds}
        data_root = os.path.join(self.path, "data")
        for vdir in os.listdir(data_root):
            if vdir not in live and vdir != f"v{last.version}":
                shutil.rmtree(os.path.join(data_root, vdir), ignore_errors=True)
