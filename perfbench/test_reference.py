"""The benchmark's output check must pass on the engine's result and fail
on a corrupted one.

    python3 -m pytest perfbench/test_reference.py -q
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import reference
from inputs import ORACLE_COL, StreamShape, write_input

SHAPE = StreamShape(n_events=3_000, batch_size=750, n_convs=30)


@pytest.fixture(scope="module")
def spark():
    from pyelt_spark.session import get_session

    s = get_session("perfbench_test", master="local[2]", shuffle_partitions=4)
    yield s
    s.stop()


def _replay(spark, input_dir: str, root: str, workload: str):
    from pyelt_spark.plans.pipeline import TranscriptVault

    from run import _replay as replay

    vault = TranscriptVault(spark, root, num_buckets=4)
    replay(workload, vault, spark.read.parquet(input_dir).drop(ORACLE_COL))
    return vault


def _corrupt_one_current_row(vault) -> None:
    """Rewrite one active head row's text in place, as a faulty merge would."""
    head = vault.sat.head
    for dirs in head.last_commit().buckets.values():
        for f in (p for d in dirs for p in glob.glob(os.path.join(head.path, d, "*.parquet"))):
            t = pq.read_table(f)
            active = t.column("_active").to_pylist()
            if True not in active:
                continue
            text = t.column("text").to_pylist()
            text[active.index(True)] += " [corrupted]"
            i = t.schema.get_field_index("text")
            pq.write_table(t.set_column(i, t.schema.field(i), pa.array(text, pa.string())), f)
            return
    raise AssertionError("no active head row to corrupt")


@pytest.mark.parametrize(
    "late_pct,workload", [(0, "catchup_late"), (5, "catchup_late"), (5, "pipe_late")]
)
def test_check_passes_then_fails_on_corruption(spark, tmp_path, late_pct, workload):
    shape = StreamShape(SHAPE.n_events, SHAPE.batch_size, SHAPE.n_convs, late_pct)
    inp = write_input(spark, str(tmp_path / "input"), 3, shape)
    expected = reference.fold(reference.load_events(inp))
    if not late_pct:
        assert reference.latest_per_key(inp) == expected.current
    vault = _replay(spark, inp, str(tmp_path / "vault"), workload)
    assert reference.check_vault(vault, expected) is None
    assert vault.sat.read().count() == expected.history_rows

    _corrupt_one_current_row(vault)
    problem = reference.check_vault(vault, expected)
    assert problem is not None and "1 changed" in problem


def test_fold_stale_guard():
    # (batch_id, conv_id, turn_idx, seq, _tb, op, role, text, tool)
    ev = [
        (0, "c", 0, 10, 0, "I", "user", "a", None),
        (1, "c", 0, 5, 0, "U", "user", "stale", None),  # late: below head seq
        (1, "c", 1, 7, 0, "I", "user", "x", None),
        (1, "c", 1, 7, 9, "I", "user", "fork", None),  # same seq, larger _tb wins
        (2, "c", 1, 8, 0, "D", "user", "fork", None),
        (3, "c", 1, 6, 0, "D", "user", "fork", None),  # delete of a tombstone: noop
    ]
    state = reference.fold(ev)
    assert state.current == {("c", 0): ("user", "a", None)}
    assert state.history_rows == 2
