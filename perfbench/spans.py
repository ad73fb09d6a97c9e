"""Per-layer trace for the benchmark's traced run (``--trace 1``).

Spans are recorded from outside the engine: ``Tracer.install`` wraps the
public entry points of each layer module, and each wrapper sets
``spark.job.description`` to its span name in the calling thread for the
duration of the call. Spark local properties are per thread, so jobs
launched by replay lanes and by the sat lane's prefetch thread carry the
innermost span of their own thread. The span name also goes into the
``perfbench.span`` property, which Spark's own listing jobs keep. The
session writes an uncompressed, non-rolling event log; ``layer_metrics``
joins its job and stage events to those span names.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field

DESC = "spark.job.description"
# Spark replaces the description of jobs it launches itself (parallel file
# listing), so attribution reads this property, which it leaves alone.
SPAN = "perfbench.span"


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _targets():
    """(owner class, method, span) for every wrapped layer entry point."""
    from pyelt_spark.operators.hubs import HubMerge
    from pyelt_spark.operators.scd2 import Scd2Merge, Scd2Table
    from pyelt_spark.plans.pipe import Pipe
    from pyelt_spark.plans.pipeline import TranscriptVault
    from pyelt_spark.storage.lake import LakeTable
    from pyelt_spark.streaming.runner import MicrobatchRunner

    return [
        (MicrobatchRunner, "replay", "runner.replay"),
        (Pipe, "replay", "pipe.replay"),
        (Scd2Merge, "apply_batches", "scd2.apply_batches"),
        (Scd2Merge, "apply_batch", "scd2.apply_batch"),
        (Scd2Merge, "prepare_batch", "scd2.prepare_batch"),
        (Scd2Table, "compact_head", "scd2.compact_head"),
        (HubMerge, "apply_batch", "hubs.apply"),
        (HubMerge, "apply_batches", "hubs.apply"),
        (LakeTable, "stage", "lake.stage"),
        (LakeTable, "stage_tagged", "lake.stage"),
        (LakeTable, "commit", "lake.commit"),
        (LakeTable, "compact_if_crowded", "lake.compact"),
        (TranscriptVault, "apply_batch", "pipeline.apply_batch"),
        (TranscriptVault, "maintain", "pipeline.maintain"),
    ]


SPANS = [
    "runner.replay",
    "pipe.replay",
    "scd2.apply_batches",
    "scd2.apply_batch",
    "scd2.prepare_batch",
    "scd2.compact_head",
    "hubs.apply",
    "lake.stage",
    "lake.commit",
    "lake.compact",
    "pipeline.apply_batch",
    "pipeline.maintain",
    "read.current",
    "read.history",
    "read.lookup",
]


@dataclass
class Tracer:
    spark: object
    intervals: list = field(default_factory=list)  # (span, start, end)
    window_calls: int = 0
    window_fallbacks: int = 0
    _saved: list = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def span(self, name: str):
        return _Span(self, name)

    def install(self) -> None:
        for owner, attr, name in _targets():
            orig = owner.__dict__[attr]
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name, name == "scd2.apply_batches"))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def _wrap(self, fn, name: str, counts_windows: bool):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if counts_windows:
                # a window attempt that returns None fell back to per-batch
                with tracer._lock:
                    tracer.window_calls += 1
                    tracer.window_fallbacks += out is None
            return out

        return wrapped

    def _record(self, name: str, start: float, end: float) -> None:
        with self._lock:
            self.intervals.append((name, start, end))


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        sc = self.tracer.spark.sparkContext
        self.prev = [(k, sc.getLocalProperty(k)) for k in (DESC, SPAN)]
        for k, _ in self.prev:
            sc.setLocalProperty(k, self.name)
        self.start = time.time()
        return self

    def __exit__(self, *exc):
        end = time.time()
        sc = self.tracer.spark.sparkContext
        for k, v in self.prev:
            sc.setLocalProperty(k, v)
        self.tracer._record(self.name, self.start, end)
        return False


def _read_event_log(log_dir: str) -> list[dict]:
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    with open(files[0]) as f:
        return [json.loads(line) for line in f if line.strip()]


def _stage_metrics(info: dict) -> dict:
    acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}

    def num(name: str) -> float:
        try:
            return float(acc.get(name) or 0)
        except (TypeError, ValueError):
            return 0.0

    return {
        "executor_cpu_s": num("internal.metrics.executorCpuTime") / 1e9,
        "shuffle_write_bytes": num("internal.metrics.shuffle.write.bytesWritten"),
        "spill_bytes": num("internal.metrics.diskBytesSpilled"),
    }


def _self_time(intervals: list, parent: str) -> float:
    """Parent span wall minus the part of it that child spans cover."""
    total = 0.0
    children = [(s, e) for n, s, e in intervals if n != parent]
    for n, ps, pe in intervals:
        if n != parent:
            continue
        cut = sorted((max(s, ps), min(e, pe)) for s, e in children if s < pe and e > ps)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in cut:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        total += (pe - ps) - covered
    return total


def layer_metrics(tracer: Tracer, log_dir: str, t_start: float, t_end: float) -> dict:
    """Per-span counters for jobs submitted inside ``[t_start, t_end]``."""
    jobs: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    stage_vals: dict[int, dict] = {}
    for ev in _read_event_log(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            sub = ev.get("Submission Time", 0) / 1000.0
            if not (t_start <= sub <= t_end):
                continue
            jid = ev["Job ID"]
            jobs[jid] = (ev.get("Properties") or {}).get(SPAN)
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            vals = _stage_metrics(info)
            acc = stage_vals.setdefault(info["Stage ID"], dict.fromkeys(vals, 0.0))
            for k, v in vals.items():
                acc[k] += v

    names = set(SPANS)
    out: dict[str, float] = {}
    for span in SPANS:
        ivs = [(s, e) for n, s, e in tracer.intervals if n == span]
        out[f"{span}.wall_s"] = sum(e - s for s, e in ivs)
        out[f"{span}.calls"] = len(ivs)
        for k in ("jobs", "executor_cpu_s", "shuffle_write_bytes", "spill_bytes"):
            out[f"{span}.{k}"] = 0
    for k in ("jobs", "executor_cpu_s", "shuffle_write_bytes", "spill_bytes"):
        out[f"untagged.{k}"] = 0
    for desc in jobs.values():
        out[f"{desc if desc in names else 'untagged'}.jobs"] += 1
    for sid, vals in stage_vals.items():
        jid = stage_job.get(sid)
        if jid is None:
            continue
        desc = jobs[jid]
        prefix = desc if desc in names else "untagged"
        for k, v in vals.items():
            out[f"{prefix}.{k}"] += v
    out["trace.jobs_total"] = len(jobs)
    # orchestrator self time: its probe job plus waiting between lane calls
    out["runner.self_s"] = _self_time(tracer.intervals, "runner.replay")
    out["pipe.self_s"] = _self_time(tracer.intervals, "pipe.replay")
    out["scd2.window_fallbacks"] = tracer.window_fallbacks
    out["scd2.window_hit_ratio"] = (
        (tracer.window_calls - tracer.window_fallbacks) / tracer.window_calls
        if tracer.window_calls
        else 0.0
    )
    return out


def disk_metrics(vault_root: str, sat_head_path: str, events_absorbed: int) -> dict:
    """Head files per bucket (latest sat head manifest), bytes every write
    left under the vault per event the vault absorbed, and live state bytes
    (every table's latest manifest)."""
    def files(d: str) -> list[str]:
        return [os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")]

    written = 0
    tables = []
    for dirpath, dirnames, filenames in os.walk(vault_root):
        written += sum(os.path.getsize(os.path.join(dirpath, f)) for f in filenames)
        if "_commits" in dirnames:
            tables.append(dirpath)
    state = 0
    head_files, head_buckets = 0, 0
    for path in tables:
        commits = sorted(
            f for f in os.listdir(os.path.join(path, "_commits")) if f.endswith(".json")
        )
        if not commits:
            continue
        with open(os.path.join(path, "_commits", commits[-1])) as f:
            buckets = json.load(f)["buckets"]
        for dirs in buckets.values():
            live = [p for d in dirs for p in files(os.path.join(path, d))]
            state += sum(os.path.getsize(p) for p in live)
            if os.path.abspath(path) == os.path.abspath(sat_head_path):
                head_files += len(live)
                head_buckets += 1
    return {
        "lake.head_files_per_bucket": head_files / max(head_buckets, 1),
        "lake.bytes_written_per_event": written / max(events_absorbed, 1),
        "lake.state_bytes": state,
    }
