"""SCD2 merge-apply scenario tests — the transcript-domain analog of the
reference's golden-count suite (test03_run_proces.py:29-64,
test07_deletes.py:42-56)."""

import datetime as dt

from pyspark.sql import functions as F

from pyelt_spark.operators.scd2 import Scd2Merge, Scd2Table

TS = dt.datetime(2024, 1, 1)


def _ev(seq, conv, turn, text, op="U", role="user", tool=None, **extra):
    return {
        "seq": seq, "conv_id": conv, "turn_idx": turn, "role": role,
        "text": text, "tool": tool, "op": op,
        "ts": TS + dt.timedelta(seconds=seq), **extra,
    }


def _merge():
    return Scd2Merge(
        business_keys=["conv_id", "turn_idx"],
        payload_cols=["role", "text", "tool"],
        order_by=["seq"],
    )


_SCHEMA = (
    "seq long, conv_id string, turn_idx int, role string, text string, "
    "tool string, op string, ts timestamp"
)


def _mk(spark, rows, cols=("seq", "conv_id", "turn_idx", "role", "text", "tool", "op", "ts")):
    schema = _SCHEMA if cols == ("seq", "conv_id", "turn_idx", "role", "text", "tool", "op", "ts") else list(cols)
    return spark.createDataFrame([tuple(r[c] for c in cols) for r in rows], schema)


def test_scd2_full_lifecycle(spark, tmp_path):
    t = Scd2Table(spark, str(tmp_path / "sat"), num_buckets=4)
    m = _merge()

    # batch 1: first load — 2 keys (one via two in-batch versions: latest wins)
    b1 = _mk(spark, [
        _ev(1, "c1", 0, "hello v1"),
        _ev(2, "c1", 0, "hello v2"),       # same key, later seq → only this lands
        _ev(3, "c1", 1, "second turn"),
    ])
    met1 = m.apply_batch(t, b1, batch_id=1)
    assert met1["inserted"] == 2 and met1["updated"] == 0
    st = t.read()
    assert st.count() == 2
    assert st.filter("conv_id='c1' and turn_idx=0").first()["text"] == "hello v2"
    assert [r["_revision"] for r in st.collect()] == [0, 0]

    # batch 2: one real change, one no-op update (hashdiff must NOT fire)
    b2 = _mk(spark, [
        _ev(10, "c1", 0, "hello v3"),
        _ev(11, "c1", 1, "second turn"),   # identical payload → unchanged
    ])
    met2 = m.apply_batch(t, b2, batch_id=2)
    assert met2["updated"] == 1 and met2["inserted"] == 0 and met2["unchanged"] == 1
    st = t.read()
    assert st.count() == 3  # history kept
    cur = st.filter("_active and conv_id='c1' and turn_idx=0").first()
    assert cur["text"] == "hello v3" and cur["_revision"] == 1 and cur["_runid"] == 2
    old = st.filter("not _active").first()
    assert old["text"] == "hello v2" and old["_finish_ts"] is not None
    # unchanged row untouched: still _runid 1
    untouched = st.filter("_active and turn_idx=1").first()
    assert untouched["_runid"] == 1

    # batch 3: delete c1/0
    b3 = _mk(spark, [_ev(20, "c1", 0, "whatever", op="D")])
    met3 = m.apply_batch(t, b3, batch_id=3)
    assert met3["deleted"] == 1
    st = t.read()
    assert st.filter("_active and turn_idx=0").count() == 0
    closed = st.filter("conv_id='c1' and turn_idx=0 and _deleted_runid is not null").first()
    assert closed["_deleted_runid"] == 3 and not closed["_active"]

    # batch 4: re-insert after delete → revision keeps counting
    b4 = _mk(spark, [_ev(30, "c1", 0, "hello again")])
    met4 = m.apply_batch(t, b4, batch_id=4)
    assert met4["inserted"] == 1
    cur = t.read().filter("_active and turn_idx=0").first()
    assert cur["text"] == "hello again" and cur["_revision"] == 2


def test_scd2_idempotent_replay(spark, tmp_path):
    t = Scd2Table(spark, str(tmp_path / "sat"), num_buckets=4)
    m = _merge()
    b1 = _mk(spark, [_ev(1, "c1", 0, "x"), _ev(2, "c2", 0, "y")])
    m.apply_batch(t, b1, batch_id=1)

    # exactly-once: same batch_id → skipped, no new commit
    n_commits = len(t.commits())
    met = m.apply_batch(t, b1, batch_id=1)
    assert met == {"skipped_duplicate_batch": 1}
    assert len(t.commits()) == n_commits

    # semantic idempotence: same CONTENT under a fresh batch_id → all no-ops
    met = m.apply_batch(t, b1, batch_id=2)
    assert met["inserted"] == 0 and met["updated"] == 0 and met["unchanged"] == 2
    assert t.read().count() == 2


def test_delete_then_nothing(spark, tmp_path):
    t = Scd2Table(spark, str(tmp_path / "sat"), num_buckets=4)
    m = _merge()
    m.apply_batch(t, _mk(spark, [_ev(1, "c1", 0, "x")]), 1)
    # delete of a key that was never loaded → no-op
    met = m.apply_batch(t, _mk(spark, [_ev(2, "zz", 9, "?", op="D")]), 2)
    assert met["deleted"] == 0 and met["unchanged"] == 1
    assert t.read().count() == 1


def test_schema_evolution_no_spurious_reversion(spark, tmp_path):
    t = Scd2Table(spark, str(tmp_path / "sat"), num_buckets=4)
    m = _merge()
    m.apply_batch(t, _mk(spark, [_ev(1, "c1", 0, "x"), _ev(2, "c1", 1, "y")]), 1)

    # batch 2 carries a NEW column `meta`, null everywhere, same payload:
    # comparison runs under the state rows' recipe v1 → nothing re-versions
    m2 = Scd2Merge(
        business_keys=["conv_id", "turn_idx"],
        payload_cols=["role", "text", "tool", "meta"],
        order_by=["seq"],
    )
    cols = ("seq", "conv_id", "turn_idx", "role", "text", "tool", "op", "ts", "meta")
    schema = (
        "seq long, conv_id string, turn_idx int, role string, text string, "
        "tool string, op string, ts timestamp, meta string"
    )
    b2 = spark.createDataFrame(
        [tuple(r[c] for c in cols) for r in [
            _ev(10, "c1", 0, "x", meta=None), _ev(11, "c1", 1, "y", meta=None),
        ]],
        schema,
    )
    met2 = m2.apply_batch(t, b2, batch_id=2)
    assert met2["unchanged"] == 2 and met2["updated"] == 0

    # batch 3: meta now populated for one key → exactly that key re-versions
    b3 = spark.createDataFrame(
        [tuple(r[c] for c in cols) for r in [
            _ev(20, "c1", 0, "x", meta="m1"), _ev(21, "c1", 1, "y", meta=None),
        ]],
        schema,
    )
    met3 = m2.apply_batch(t, b3, batch_id=3)
    assert met3["updated"] == 1 and met3["unchanged"] == 1
    st = t.read()
    cur = st.filter("_active and turn_idx=0").first()
    assert cur["meta"] == "m1" and cur["_revision"] == 1
    # old rows read back with meta as NULL (additive evolution)
    assert st.filter("not _active").first()["meta"] is None
    assert t.recipe().current_version == 2


def test_stale_events_cannot_regress_state(spark, tmp_path):
    """Out-of-order delivery ACROSS batches: late events older than the
    applied state are stale and must not regress it."""
    t = Scd2Table(spark, str(tmp_path / "sat"), num_buckets=4)
    m = _merge()
    m.apply_batch(t, _mk(spark, [_ev(10, "c1", 0, "v10")]), 1)

    # late batch with an OLDER event for the same key → stale, ignored
    met = m.apply_batch(t, _mk(spark, [_ev(5, "c1", 0, "v5-late")]), 2)
    assert met["stale"] == 1 and met["updated"] == 0
    assert t.current().first()["text"] == "v10"

    # content-equal but newer event bumps the stored seq...
    met = m.apply_batch(t, _mk(spark, [_ev(20, "c1", 0, "v10")]), 3)
    assert met["unchanged"] == 1
    # ...so an in-between straggler (seq 15) is now stale too
    met = m.apply_batch(t, _mk(spark, [_ev(15, "c1", 0, "v15-late")]), 4)
    assert met["stale"] == 1
    assert t.current().first()["text"] == "v10"


def test_late_predelete_update_cannot_resurrect(spark, tmp_path):
    """The tombstone carries the DELETE's seq: a late update with a seq
    between the last content seq and the delete seq must stay dead."""
    t = Scd2Table(spark, str(tmp_path / "sat"), num_buckets=4)
    m = _merge()
    m.apply_batch(t, _mk(spark, [_ev(5, "c1", 0, "alive")]), 1)
    m.apply_batch(t, _mk(spark, [_ev(9, "c1", 0, "x", op="D")]), 2)
    assert t.current().count() == 0

    # straggler between content seq (5) and delete seq (9)
    met = m.apply_batch(t, _mk(spark, [_ev(7, "c1", 0, "zombie")]), 3)
    assert met["stale"] == 1 and met["inserted"] == 0
    assert t.current().count() == 0

    # genuinely newer upsert after the delete DOES reinsert
    met = m.apply_batch(t, _mk(spark, [_ev(12, "c1", 0, "back")]), 4)
    assert met["inserted"] == 1
    cur = t.current().first()
    assert cur["text"] == "back" and cur["_revision"] == 1


def test_head_is_one_row_per_key(spark, tmp_path):
    """The merge-facing head table holds exactly one row per key no matter
    how many versions accumulate (the 100 TB state-I/O invariant)."""
    t = Scd2Table(spark, str(tmp_path / "sat"), num_buckets=4)
    m = _merge()
    for b in range(5):
        m.apply_batch(t, _mk(spark, [_ev(10 * b + 1, "c1", 0, f"v{b}")]), b + 1)
    assert t.head.read().count() == 1
    assert t.read().count() == 5          # full history preserved
    assert t.current().first()["text"] == "v4"
    assert t.current().first()["_revision"] == 4


def test_cow_head_holds_one_dir_per_bucket(spark, tmp_path):
    """Every merge rewrites each touched head bucket as ONE data dir, after
    per-batch commits and after a window commit alike — so head
    compaction is a manifest check that never publishes a version."""
    from pyelt_spark.sources.events import transcript_change_events

    ev = transcript_change_events(spark, 800, batch_size=200, seed=5).persist()
    try:
        t = Scd2Table(spark, str(tmp_path / "sat"), num_buckets=4)
        m = _merge()

        def assert_one_dir_per_bucket():
            buckets = t.head.last_commit().buckets
            assert buckets and all(len(d) == 1 for d in buckets.values()), buckets

        for b in (0, 1):
            m.apply_batch(t, ev.filter(F.col("batch_id") == b), b)
            assert_one_dir_per_bucket()
        res = m.apply_batches(t, ev, "batch_id", [2, 3])
        assert res[3]["window"] == [2, 3]
        assert_one_dir_per_bucket()

        version = t.head.last_commit().version
        t.compact_head()
        t.compact_head(max_dirs_per_bucket=1)
        assert t.head.last_commit().version == version
    finally:
        ev.unpersist()


def test_expire_history_retention(spark, tmp_path):
    from pyelt_spark.operators.scd2 import expire_history

    t = Scd2Table(spark, str(tmp_path / "sat"), num_buckets=4)
    m = _merge()
    for b in range(1, 5):
        m.apply_batch(t, _mk(spark, [_ev(10 * b, "c1", 0, f"v{b}")]), b)
    assert t.read().count() == 4       # 1 active + 3 closed

    out = expire_history(t, before_runid=3)
    assert out["expired_rows"] == 2    # versions from runs 1 and 2
    hist_runs = {r["_runid"] for r in t.hist.read().collect()}
    assert hist_runs == {3}
    # head untouched: current version still v4 with full revision chain
    cur = t.current().first()
    assert cur["text"] == "v4" and cur["_revision"] == 3
    assert t.read().count() == 2


def test_empty_batch_is_bookkeeping_only(spark, tmp_path):
    t = Scd2Table(spark, str(tmp_path / "sat"), num_buckets=4)
    m = _merge()
    m.apply_batch(t, _mk(spark, [_ev(1, "c1", 0, "x")]), 1)
    empty = spark.createDataFrame([], _SCHEMA)
    met = m.apply_batch(t, empty, 2)
    assert met["deduped_keys"] == 0 and met["inserted"] == 0
    assert 2 in t.committed_batch_ids()      # batch id still recorded
    assert t.read().count() == 1              # state untouched


def test_first_batch_all_deletes_bootstraps_schema(spark, tmp_path):
    """A FIRST batch with nothing writable (all 'D' events on an empty
    table) must commit bookkeeping + pin the head schema instead of
    raising — in streaming-tail mode that raise was a permanent crash loop
    (the same batch redelivers forever)."""
    t = Scd2Table(spark, str(tmp_path / "sat"), num_buckets=4)
    m = _merge()
    out = m.apply_batch(t, _mk(spark, [_ev(1, "c1", 0, None, op="D")]), 1)
    assert out["deleted"] == 0 and out["inserted"] == 0
    assert 1 in t.committed_batch_ids()          # exactly-once marker exists
    assert t.head.read().count() == 0            # schema pinned, no rows
    # redelivery is a skip, and real data afterwards lands normally
    assert m.apply_batch(t, _mk(spark, [_ev(1, "c1", 0, None, op="D")]), 1) == {
        "skipped_duplicate_batch": 1
    }
    m.apply_batch(t, _mk(spark, [_ev(2, "c1", 0, "hello")]), 2)
    assert t.current().first()["text"] == "hello"
