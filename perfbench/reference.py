"""Reference results the benchmark checks the engine's output against.

Two independent formulations of the transcript sat's final state:

* ``latest_per_key`` — DuckDB ``row_number()`` latest event per key over
  the generated input. Exact for in-order streams, where the last event
  of a key decides its current state (a delete removes it, an upsert
  leaves its content).
* ``fold`` — the per-key stale-guard spec applied batch by batch in pure
  Python (the verdict lattice of ``Scd2Merge.apply_batch``: stale, delete,
  delete-of-tombstone noop, unchanged bump, new version). Exact for any
  batch order, so it is the reference for late-arriving streams, and the
  only one that also yields the SCD2 history row count.

Both break duplicate ``(key, seq)`` forks on the input's ``_tb`` column
(see ``inputs.py``).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

@dataclass
class State:
    # (conv_id, turn_idx) -> (role, text, tool) of every active, non-deleted turn
    current: dict
    history_rows: int  # rows of the full SCD2 history (hist ∪ head)

    def digest(self) -> str:
        return digest(self.current)

    def conversation(self, conv_id: str) -> set:
        return {(k[1], c[1]) for k, c in self.current.items() if k[0] == conv_id}


def digest(current: dict) -> str:
    """Order-insensitive digest of a current-state mapping."""
    h = hashlib.sha256()
    for k, c in sorted(current.items(), key=lambda kv: (kv[0][0], kv[0][1])):
        h.update(repr((k, c)).encode())
    return h.hexdigest()


def _oracle_glob(input_dir: str) -> str:
    return os.path.join(input_dir, "*.parquet")


def latest_per_key(input_dir: str, max_batch: int | None = None) -> dict:
    """DuckDB: current state of an in-order stream over batches < max_batch."""
    import duckdb

    where = "" if max_batch is None else f"WHERE batch_id < {int(max_batch)}"
    sql = f"""
        SELECT conv_id, turn_idx, role, text, tool FROM (
          SELECT *, row_number() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY seq DESC, _tb DESC) AS rn
          FROM read_parquet('{_oracle_glob(input_dir)}') {where}
        ) WHERE rn = 1 AND op <> 'D'
    """
    with duckdb.connect() as con:
        rows = con.execute(sql).fetchall()
    return {(r[0], int(r[1])): (r[2], r[3], r[4]) for r in rows}


def load_events(input_dir: str, max_batch: int | None = None) -> list[tuple]:
    import duckdb

    where = "" if max_batch is None else f"WHERE batch_id < {int(max_batch)}"
    sql = f"""
        SELECT batch_id, conv_id, turn_idx, seq, _tb, op, role, text, tool
        FROM read_parquet('{_oracle_glob(input_dir)}') {where}
    """
    with duckdb.connect() as con:
        return con.execute(sql).fetchall()


def fold(events: list[tuple]) -> State:
    """Apply the stale-guard spec batch by batch.

    ``events``: ``(batch_id, conv_id, turn_idx, seq, _tb, op, role, text,
    tool)`` rows in any order. Mirrors ``_simulate`` in
    ``tests/test_random_differential.py`` plus the ``_tb`` fork tiebreak."""
    by_batch: dict = {}
    for e in events:
        by_batch.setdefault(int(e[0]), []).append(e)
    # head: (conv_id, turn_idx) -> [active, content, seq]
    head: dict = {}
    hist_rows = 0
    for b in sorted(by_batch):
        winners: dict = {}
        for e in by_batch[b]:
            k = (e[1], int(e[2]))
            w = winners.get(k)
            if w is None or (e[3], e[4]) > (w[3], w[4]):
                winners[k] = e
        for k, e in winners.items():
            seq, op, content = e[3], e[5], (e[6], e[7], e[8])
            row = head.get(k)
            if row is not None and seq < row[2]:
                continue  # stale
            if op == "D":
                if row is not None and row[0]:
                    row[0], row[2] = False, seq
                continue  # delete of a tombstone or unknown key: noop
            if row is not None and row[0] and row[1] == content:
                row[2] = max(row[2], seq)  # unchanged: bump _seq
                continue
            if row is not None:
                hist_rows += 1  # closed version (or tombstone) moves to hist
            head[k] = [True, content, seq]
    current = {k: r[1] for k, r in head.items() if r[0]}
    return State(current=current, history_rows=hist_rows + len(head))


def engine_current(vault) -> dict:
    """The engine's current state, read through its public view."""
    rows = vault.current_turns().select("conv_id", "turn_idx", "role", "text", "tool").collect()
    return {(r[0], int(r[1])): (r[2], r[3], r[4]) for r in rows}


def check_vault(vault, expected: State) -> str | None:
    """None when the vault's current state matches ``expected``, else why not."""
    got = engine_current(vault)
    if digest(got) == expected.digest():
        return None
    missing = expected.current.keys() - got.keys()
    extra = got.keys() - expected.current.keys()
    changed = sum(got[k] != expected.current[k] for k in got.keys() & expected.current.keys())
    return (
        f"current state of {vault.root} differs from the reference: "
        f"{len(missing)} missing, {len(extra)} extra, {changed} changed keys"
    )
