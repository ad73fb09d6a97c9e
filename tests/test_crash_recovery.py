"""Exactly-once under a crash in the worst window: AFTER the history
append commits but BEFORE the head commit marks the batch applied.
On restart the batch re-applies: history append is skipped (its batch id
is already committed), the head merge recomputes from unchanged head
state — no duplicate history rows, no lost updates."""

import datetime as dt

import pytest

from pyelt_spark.operators.scd2 import Scd2Merge, Scd2Table

TS = dt.datetime(2024, 1, 1)
SCHEMA = (
    "seq long, conv_id string, turn_idx int, role string, text string, "
    "tool string, op string, ts timestamp"
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _merge():
    return Scd2Merge(
        business_keys=["conv_id", "turn_idx"],
        payload_cols=["role", "text", "tool"],
        order_by=["seq"],
    )


def test_crash_between_hist_and_head_commit(spark, tmp_path):
    path = str(tmp_path / "sat")
    t = Scd2Table(spark, path, num_buckets=4)
    m = _merge()
    m.apply_batch(t, _mk(spark, [
        (1, "c1", 0, "user", "v1", None, "U", TS),
        (2, "c1", 1, "user", "w1", None, "U", TS),
    ]), 1)

    b2 = _mk(spark, [
        (10, "c1", 0, "user", "v2", None, "U", TS),   # update → closes v1 into hist
        (11, "c1", 1, "user", "w1", None, "U", TS),   # no-op
    ])

    # inject the crash: head commit raises AFTER hist has committed
    orig_commit = t.head.commit
    def boom(*a, **k):
        raise RuntimeError("injected crash before head commit")
    t.head.commit = boom
    with pytest.raises(RuntimeError, match="injected crash"):
        m.apply_batch(t, b2, 2)
    t.head.commit = orig_commit

    # the torn state: hist recorded batch 2, head did not
    assert 2 in t.hist.committed_batch_ids()
    assert 2 not in t.head.committed_batch_ids()

    # process restart: fresh table handles, re-apply the same batch
    t2 = Scd2Table(spark, path, num_buckets=4)
    met = _merge().apply_batch(t2, b2, 2)
    assert met["updated"] == 1 and met["unchanged"] == 1

    # exactly the expected rows — the closed v1 appears ONCE in history
    hist = t2.read().orderBy("conv_id", "turn_idx", "_revision").collect()
    assert len(hist) == 3
    closed = [r for r in hist if not r["_active"]]
    assert len(closed) == 1 and closed[0]["text"] == "v1"
    cur = {(r["conv_id"], r["turn_idx"]): r["text"] for r in t2.current().collect()}
    assert cur == {("c1", 0): "v2", ("c1", 1): "w1"}

    # and a further re-apply is a pure no-op (both logs have batch 2)
    met = _merge().apply_batch(t2, b2, 2)
    assert met == {"skipped_duplicate_batch": 2}


def test_window_crash_between_hist_and_head_resumes_in_a_longer_window(spark, tmp_path):
    """A window [2, 3] crashes after its history commit and before its head
    commit, then resumes as the longer window [2, 3, 4]: the rows closed by
    batches 2-3 are already in the history log and must not be appended
    again, while batch 4's closed row is new."""
    def ev(seq, text, b):
        return (seq, "c1", 0, "user", text, None, "U", TS + dt.timedelta(seconds=seq), b)

    stream = spark.createDataFrame(
        [ev(1, "v1", 1), ev(2, "v2", 2), ev(3, "v3", 3), ev(4, "v4", 4)],
        SCHEMA + ", batch_id long",
    )
    path = str(tmp_path / "sat")
    t = Scd2Table(spark, path, num_buckets=4)
    _merge().apply_batches(t, stream, "batch_id", [1])

    def boom(*a, **k):
        raise RuntimeError("injected crash before head commit")

    t.head.commit = boom
    with pytest.raises(RuntimeError, match="injected crash"):
        _merge().apply_batches(t, stream, "batch_id", [2, 3])
    assert {2, 3} <= t.hist.committed_batch_ids()
    assert not {2, 3} & t.head.committed_batch_ids()

    t2 = Scd2Table(spark, path, num_buckets=4)
    res = _merge().apply_batches(t2, stream, "batch_id", [2, 3, 4])
    assert [res[b]["updated"] for b in (2, 3, 4)] == [1, 1, 1]

    clean = Scd2Table(spark, str(tmp_path / "clean"), num_buckets=4)
    _merge().apply_batches(clean, stream, "batch_id", [1, 2, 3, 4])
    rows = sorted((r["text"], r["_active"]) for r in t2.read().collect())
    assert rows == [("v1", False), ("v2", False), ("v3", False), ("v4", True)]
    a, b = t2.read().drop("_bucket"), clean.read().drop("_bucket")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_vault_crash_with_partial_table_commits(spark, tmp_path):
    """The hub/sat/link merges run concurrently; a crash can leave SOME
    tables committed for a batch and others not. Resume must re-apply the
    batch (each merge is individually idempotent) — a batch is 'done' only
    when every table's log has it."""
    from pyelt_spark.plans.pipeline import TranscriptVault
    from pyelt_spark.sources.events import transcript_change_events
    from pyelt_spark.streaming.runner import MicrobatchRunner

    ev = transcript_change_events(spark, 1200, batch_size=400, seed=31).persist()
    vault = TranscriptVault(spark, str(tmp_path / "v"), num_buckets=4)
    runner = MicrobatchRunner(vault)
    runner.replay(ev.filter("batch_id = 0"))

    # crash during batch 1: link merge dies AFTER hub+sat committed (a
    # commit runs the link lane's window call, ``apply_batches``)
    def boom(*a, **k):
        raise RuntimeError("injected link crash")
    vault.link_merge.apply_batches = boom
    vault.link_merge.apply_batch = boom
    with pytest.raises(Exception):
        vault.apply_batch(ev.filter("batch_id = 1"), 1)
    del vault.link_merge.apply_batches, vault.link_merge.apply_batch
    assert 1 in vault.sat.committed_batch_ids()
    assert 1 not in vault.link.committed_batch_ids()

    # resume over the full stream: batch 1 re-applies (completing the
    # link), batch 2 applies fresh; nothing double-applies
    vault2 = TranscriptVault(spark, str(tmp_path / "v"), num_buckets=4)
    out = MicrobatchRunner(vault2).replay(ev)
    assert out[0].get("skipped_duplicate_batch") == 0
    assert out[1]["sat"] == {"skipped_duplicate_batch": 1}   # sat already has it
    assert "new_keys" in out[1]["link"]                       # link completed now

    # end state identical to a clean replay
    clean = TranscriptVault(spark, str(tmp_path / "clean"), num_buckets=4)
    MicrobatchRunner(clean).replay(ev)
    for tbl in ("hub", "link"):
        a = getattr(vault2, tbl).read()
        b = getattr(clean, tbl).read()
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    a = vault2.sat.read().drop("_bucket")
    b = clean.sat.read().drop("_bucket")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    ev.unpersist()
