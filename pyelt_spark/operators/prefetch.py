"""One-ahead lane prefetch: run a lane's ordered jobs, building the NEXT
prefetchable job's batch frame (its dedup + hashdiff shuffle — the merge's
one full-table exchange, which reads no table state) on a side thread
while the current job's head/hist writes run. Driven by the per-batch
lane chain of ``Pipe._replay_laned`` (plans/pipe.py), the one replay
orchestrator; the invariant lives here: at most one extra cached frame is
alive, and a failed merge never leaks the in-flight prefetched frame.

A job is *prefetchable* when its callable exposes ``prepare`` (build +
persist the batch frame; safe on a side thread because it touches no
single-writer table state) and ``apply_prepared`` (run the merge adopting
that frame). Jobs without the attributes — empty-batch skips, hub/link
merges, valueset merges — run inline; the prefetch chain links across
them so an interleaved skip does not break the pipeline.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable, Sequence


def run_lane_one_ahead(
    jobs: Sequence[tuple[Any, Callable[[], dict]]],
    emit: Callable[[Any, dict], None],
) -> None:
    """Execute ``jobs`` (ordered ``(key, fn)`` pairs) in order, calling
    ``emit(key, result)`` after each. ``fn.prepare``/``fn.apply_prepared``
    mark a job prefetchable (see module docstring); ``max_workers=1`` plus
    pop-on-use bounds the extra cached frames to one."""
    nxt: dict[int, int] = {}
    prev: int | None = None
    for i, (_k, fn) in enumerate(jobs):
        if hasattr(fn, "prepare"):
            if prev is not None:
                nxt[prev] = i
            prev = i
    if not nxt:
        for k, fn in jobs:
            emit(k, fn())
        return
    with ThreadPoolExecutor(max_workers=1) as pf_pool:
        futs: dict[int, Any] = {}
        try:
            for i, (k, fn) in enumerate(jobs):
                if i in nxt and nxt[i] not in futs:
                    futs[nxt[i]] = pf_pool.submit(jobs[nxt[i]][1].prepare)
                if i in futs:
                    emit(k, fn.apply_prepared(futs.pop(i).result()))
                else:
                    emit(k, fn())
        finally:
            for f in futs.values():  # a failed merge must not leak the
                try:  # in-flight prefetched frame from the cache
                    f.result()["batch"].unpersist()
                except Exception:
                    pass
