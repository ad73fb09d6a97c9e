"""Window-coalesced merges (Scd2Merge.apply_batches / HubMerge.apply_batches):
a multi-batch application must be BYTE-IDENTICAL to applying the same
batches one at a time — state (head, hist, hub, link) and per-batch
metrics alike — and must skip committed ids on resume. ``apply_batch`` is
itself a window of one on both merges, so the window is also checked
against independent references: for sats the pure-Python simulators of
tests/test_random_differential.py, on adversarial (late, out-of-order,
tombstone-churning) streams; for hubs the first-batch-wins fold
``_hub_fold``."""

import datetime as dt
import random

import pytest

from pyspark.sql import functions as F

from pyelt_spark.operators.hubs import HubMerge, LinkMerge
from pyelt_spark.operators.scd2 import Scd2Merge, Scd2Table
from pyelt_spark.sources.events import transcript_change_events
from pyelt_spark.storage.lake import LakeTable


def _merge():
    return Scd2Merge(
        business_keys=["conv_id", "turn_idx"],
        payload_cols=["role", "text", "tool"],
        order_by=["seq"],
    )


def _assert_same(a, b, label):
    d1, d2 = a.exceptAll(b).count(), b.exceptAll(a).count()
    assert d1 == 0 and d2 == 0, f"{label}: {d1}/{d2} differing rows"


def test_window_sat_matches_sequential_with_seeded_head(spark, tmp_path):
    """Four batches applied per-batch seed both tables (tombstones,
    revisions, bumps in the stream); the remaining batches apply
    sequentially on one side and as ONE window on the other — head, hist
    and the per-batch merge metrics must be identical."""
    ev = transcript_change_events(spark, 4000, batch_size=250, seed=13).persist()
    try:
        ids = sorted(int(r[0]) for r in ev.select("batch_id").distinct().collect())
        pre, post = ids[:4], ids[4:]
        m = _merge()
        t_seq = Scd2Table(spark, str(tmp_path / "seq"), num_buckets=4)
        t_win = Scd2Table(spark, str(tmp_path / "win"), num_buckets=4)
        for b in pre:
            m.apply_batch(t_seq, ev.filter(F.col("batch_id") == b), b)
            m.apply_batch(t_win, ev.filter(F.col("batch_id") == b), b)
        seq_metrics = {
            b: m.apply_batch(t_seq, ev.filter(F.col("batch_id") == b), b)
            for b in post
        }
        win_metrics = m.apply_batches(t_win, ev, "batch_id", post)
        _assert_same(t_seq.head.read(), t_win.head.read(), "head")
        _assert_same(t_seq.hist.read(), t_win.hist.read(), "hist")
        for b in post:
            for k in ("inserted", "updated", "deleted", "unchanged", "deduped_keys"):
                assert seq_metrics[b][k] == win_metrics[b][k], (b, k)
        # the whole window is committed atomically and exactly-once
        assert set(post) <= t_win.committed_batch_ids()
    finally:
        ev.unpersist()


def test_window_sat_resume_skips_committed_prefix(spark, tmp_path):
    ev = transcript_change_events(spark, 2000, batch_size=250, seed=7).persist()
    try:
        ids = sorted(int(r[0]) for r in ev.select("batch_id").distinct().collect())
        m = _merge()
        t_seq = Scd2Table(spark, str(tmp_path / "seq"), num_buckets=4)
        t_win = Scd2Table(spark, str(tmp_path / "win"), num_buckets=4)
        for b in ids:
            m.apply_batch(t_seq, ev.filter(F.col("batch_id") == b), b)
        for b in ids[:2]:
            m.apply_batch(t_win, ev.filter(F.col("batch_id") == b), b)
        res = m.apply_batches(t_win, ev, "batch_id", ids)
        assert res[ids[0]] == {"skipped_duplicate_batch": ids[0]}
        assert res[ids[1]] == {"skipped_duplicate_batch": ids[1]}
        _assert_same(t_seq.head.read(), t_win.head.read(), "head")
        _assert_same(t_seq.hist.read(), t_win.hist.read(), "hist")
    finally:
        ev.unpersist()


_SIM_SCHEMA = (
    "seq long, conv_id string, turn_idx int, role string, text string, "
    "tool string, op string, ts timestamp, batch_id long"
)
_SIM_COLS = ["seq", "conv_id", "turn_idx", "role", "text", "tool", "op", "ts", "batch_id"]


def _sim_rows(t, meta=False):
    """Engine state in the simulators' row shape (hist ∪ head)."""
    return sorted(
        (
            r["conv_id"], r["turn_idx"], r["text"],
            *((r["meta"],) if meta else ()),
            r["_runid"], r["_revision"], bool(r["_active"]), r["_seq"],
            r["_deleted_runid"] if r["_deleted_runid"] is not None else -1,
        )
        for r in t.read().collect()
    )


def test_window_sat_applies_out_of_order_seqs(spark, tmp_path):
    """A later batch carrying an OLDER seq for a key (the stale guard's
    territory) is applied in the window itself: the stale event is
    ignored, exactly as the simulator's batch-by-batch fold ignores it."""
    from tests.test_random_differential import _simulate

    ts = dt.datetime(2024, 1, 1)
    events = [
        {"seq": 5, "conv_id": "c1", "turn_idx": 0, "role": "user", "text": "x",
         "tool": None, "op": "U", "ts": ts, "batch_id": 0},
        {"seq": 3, "conv_id": "c1", "turn_idx": 0, "role": "user", "text": "y",
         "tool": None, "op": "U", "ts": ts, "batch_id": 1},
    ]
    adv = spark.createDataFrame([tuple(e[c] for c in _SIM_COLS) for e in events], _SIM_SCHEMA)
    t = Scd2Table(spark, str(tmp_path / "t"), num_buckets=2)
    res = _merge().apply_batches(t, adv, "batch_id", [0, 1])
    assert res[0]["inserted"] == 1 and res[1]["stale"] == 1
    assert t.committed_batch_ids() == {0, 1}
    assert _sim_rows(t) == _simulate(events)


def test_window_sat_matches_simulator_on_adversarial_stream(spark, tmp_path):
    """The whole adversarial stream (duplicates, cross-batch stale seqs,
    deletes, reinserts) as ONE window, from an empty head."""
    from tests.test_random_differential import _gen_stream, _simulate

    events = _gen_stream(random.Random(20240817), n_events=240, n_keys=25, n_batches=4)
    df = spark.createDataFrame([tuple(e[c] for c in _SIM_COLS) for e in events], _SIM_SCHEMA)
    t = Scd2Table(spark, str(tmp_path / "sat"), num_buckets=8)
    ids = sorted({e["batch_id"] for e in events})
    res = _merge().apply_batches(t, df, "batch_id", ids)
    assert sum(res[b]["stale"] for b in ids) > 0  # the stream really is late
    assert _sim_rows(t) == _simulate(events)


def test_window_sat_matches_simulator_under_schema_evolution(spark, tmp_path):
    """Two windows under two recipes: batches 0-1 without ``meta``, then
    batches 2-3 with it as one window whose first comparisons run against
    head rows stored under the old recipe."""
    from tests.test_random_differential import _gen_stream, _simulate_evolved

    rng = random.Random(99)
    evolve_at = 2
    events = _gen_stream(rng, n_events=200, n_keys=20, n_batches=4)
    for e in events:
        e["meta"] = (
            f"m{rng.randrange(3)}" if e["batch_id"] >= evolve_at and rng.random() < 0.4
            else None
        )
    t = Scd2Table(spark, str(tmp_path / "sat"), num_buckets=8)
    m3 = _merge()
    m4 = Scd2Merge(
        business_keys=["conv_id", "turn_idx"],
        payload_cols=["role", "text", "tool", "meta"],
        order_by=["seq"],
    )
    old = [e for e in events if e["batch_id"] < evolve_at]
    new = [e for e in events if e["batch_id"] >= evolve_at]
    df3 = spark.createDataFrame([tuple(e[c] for c in _SIM_COLS) for e in old], _SIM_SCHEMA)
    df4 = spark.createDataFrame(
        [tuple(e[c] for c in _SIM_COLS + ["meta"]) for e in new], _SIM_SCHEMA + ", meta string"
    )
    m3.apply_batches(t, df3, "batch_id", sorted({e["batch_id"] for e in old}))
    m4.apply_batches(t, df4, "batch_id", sorted({e["batch_id"] for e in new}))
    assert _sim_rows(t, meta=True) == _simulate_evolved(events, evolve_at)


@pytest.mark.parametrize("windows", [[[1, 2, 3, 4]], [[1, 2], [3, 4]]])
def test_window_sat_delete_of_tombstone_keeps_seq(spark, tmp_path, windows):
    """alive@5, D@9, D@12, U@10: the second delete hits a tombstone — a
    noop that must NOT advance ``_seq`` past the first delete's 9 — so the
    upsert at seq 10 is not stale and reinserts the key. In one window and
    split across two."""
    from tests.test_random_differential import _simulate

    ts = dt.datetime(2024, 1, 1)
    spec = [(5, "U", "alive", 1), (9, "D", None, 2), (12, "D", None, 3), (10, "U", "back", 4)]
    events = [
        {"seq": q, "conv_id": "c1", "turn_idx": 0, "role": "user", "text": txt,
         "tool": None, "op": op, "ts": ts + dt.timedelta(seconds=q), "batch_id": b}
        for q, op, txt, b in spec
    ]
    df = spark.createDataFrame([tuple(e[c] for c in _SIM_COLS) for e in events], _SIM_SCHEMA)
    t = Scd2Table(spark, str(tmp_path / "sat"), num_buckets=2)
    res = {}
    for ids in windows:
        res.update(_merge().apply_batches(t, df, "batch_id", ids))
    assert res[3]["unchanged"] == 1 and res[3]["deleted"] == 0
    assert res[4]["inserted"] == 1 and res[4]["stale"] == 0
    head = t.head.read().collect()
    assert [(r["text"], r["_active"], r["_seq"], r["_revision"]) for r in head] == [
        ("back", True, 10, 1)
    ]
    assert _sim_rows(t) == _simulate(events)


def test_window_hub_and_link_match_sequential(spark, tmp_path):
    ev = transcript_change_events(spark, 4000, batch_size=250, seed=13).persist()
    try:
        ups = ev.filter(F.col("op") != "D")
        ids = sorted(int(r[0]) for r in ev.select("batch_id").distinct().collect())
        hm = HubMerge(business_keys=["conv_id"], hub_type="conversation")
        lm = LinkMerge(
            business_keys=["conv_id", "tool"],
            hub_type="conversation_tool",
            leg_keys={"conversation": ["conv_id"], "tool": ["tool"]},
        )
        h_seq = LakeTable(spark, str(tmp_path / "h1"), 4)
        h_win = LakeTable(spark, str(tmp_path / "h2"), 4)
        l_seq = LakeTable(spark, str(tmp_path / "l1"), 4)
        l_win = LakeTable(spark, str(tmp_path / "l2"), 4)
        seq_new = {}
        for b in ids:
            seq_new[b] = hm.apply_batch(h_seq, ups.filter(F.col("batch_id") == b), b)
            lm.apply_batch(
                l_seq,
                ups.filter((F.col("batch_id") == b) & F.col("tool").isNotNull()),
                b,
            )
        win_new = hm.apply_batches(h_win, ups, "batch_id", ids)
        lm.apply_batches(l_win, ups.filter(F.col("tool").isNotNull()), "batch_id", ids)
        _assert_same(h_seq.read(), h_win.read(), "hub")
        _assert_same(l_seq.read(), l_win.read(), "link")
        for b in ids:
            assert seq_new[b]["new_keys"] == win_new[b]["new_keys"], b
    finally:
        ev.unpersist()


def _hub_fold(rows, batch_ids, hub_type, state=None):
    """Pure-Python first-batch-wins reference for an insert-only hub with
    a ``label`` carry column and a ``_hub_type`` subtype column: batch by
    batch, a key not registered yet takes from that batch's rows of the
    key the least non-null ``ts``/``label``/``_hub_type``. Returns the
    registry ``{k: (type, label, _insert_ts, _runid)}`` and the new keys
    per batch."""
    state = dict(state or {})
    new = {b: 0 for b in batch_ids}
    for b in batch_ids:
        mine = [r for r in rows if r["batch_id"] == b and r["k"] is not None]
        for k in sorted({r["k"] for r in mine} - set(state)):
            rs = [r for r in mine if r["k"] == k]

            def least(c):
                return min((r[c] for r in rs if r[c] is not None), default=None)

            state[k] = (least("_hub_type") or hub_type, least("label"), least("ts"), b)
            new[b] += 1
    return state, new


def _hub_rows(t):
    return {
        r["k"]: (r["type"], r["label"], r["_insert_ts"], r["_runid"])
        for r in t.read().collect()
    }


def test_window_hub_matches_first_batch_wins_fold(spark, tmp_path):
    """The one hub merge against an independent reference (``_hub_fold``)
    on a multi-batch stream with null ``ts`` and carry values, subtype
    rows and null business keys — first as a window whose first two
    batches were already committed (the resumed window must skip them and
    register only what they left new), then batch by batch."""
    rng = random.Random(7)
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        {
            "k": None if rng.random() < 0.05 else f"k{rng.randrange(60)}",
            "ts": None if rng.random() < 0.2 else t0 + dt.timedelta(minutes=rng.randrange(500)),
            "label": None if rng.random() < 0.3 else rng.choice("abcde"),
            "_hub_type": rng.choice([None, None, "sub_a", "sub_b"]),
            "batch_id": rng.randrange(5),
        }
        for _ in range(400)
    ]
    df = spark.createDataFrame(
        rows, "k string, ts timestamp, label string, _hub_type string, batch_id int"
    )
    hm = HubMerge(business_keys=["k"], hub_type="thing", carry_cols=["label"])
    ids = [0, 1, 2, 3, 4]
    want, want_new = _hub_fold(rows, ids, "thing")

    t_win = LakeTable(spark, str(tmp_path / "win"), 4)
    first = hm.apply_batches(t_win, df, "batch_id", [0, 1])
    res = hm.apply_batches(t_win, df, "batch_id", ids)
    assert res[0] == {"skipped_duplicate_batch": 0}
    assert res[1] == {"skipped_duplicate_batch": 1}
    for b in (0, 1):
        assert first[b]["new_keys"] == want_new[b] and first[b]["window"] == [0, 1]
    for b in (2, 3, 4):
        assert res[b]["new_keys"] == want_new[b] and res[b]["window"] == [2, 4]
    assert _hub_rows(t_win) == want

    t_seq = LakeTable(spark, str(tmp_path / "seq"), 4)
    for b in ids:
        out = hm.apply_batch(t_seq, df.filter(F.col("batch_id") == b).drop("batch_id"), b)
        assert out["new_keys"] == want_new[b] and out["window"] == [b, b]
    assert _hub_rows(t_seq) == want


def test_window_hub_counts_zero_new_keys(spark, tmp_path):
    """A batch whose keys all exist already (the anti-join empties at
    runtime) and a batch that is empty at runtime (every business key
    null) each register 0 new keys without error, alone and in one
    window, on a loaded and on an empty hub."""
    ts = dt.datetime(2024, 1, 1)

    def batch(keys, b):
        return spark.createDataFrame(
            [(k, ts, b) for k in keys], "k string, ts timestamp, batch_id int"
        )

    hm = HubMerge(business_keys=["k"], hub_type="thing")
    empty_first = LakeTable(spark, str(tmp_path / "e"), 4)
    assert hm.apply_batch(empty_first, batch([None], 0), 0)["new_keys"] == 0
    t = LakeTable(spark, str(tmp_path / "h"), 4)
    assert hm.apply_batch(t, batch(["k1", "k2"], 0), 0)["new_keys"] == 2
    assert hm.apply_batch(t, batch(["k2", "k1", "k1"], 1), 1)["new_keys"] == 0
    assert hm.apply_batch(t, batch([None, None], 2), 2)["new_keys"] == 0
    res = hm.apply_batches(
        t, batch(["k1"], 3).unionByName(batch([None], 4)), "batch_id", [3, 4]
    )
    assert [res[b]["new_keys"] for b in (3, 4)] == [0, 0]
    assert t.committed_batch_ids() == {0, 1, 2, 3, 4}
    assert sorted(r["k"] for r in t.read().collect()) == ["k1", "k2"]


def test_window_matches_sequential_across_schema_evolution(spark, tmp_path):
    """Head rows seeded under an OLD hash recipe, then a window whose
    batches carry an evolved payload column: the chain's first comparison
    must run under the head row's recipe version (no spurious reversions),
    rows with real new-column information must re-version, and deletes /
    bumps / inserts inside the window must all match sequential
    application — state and per-batch metrics alike."""
    import datetime

    from pyspark.sql import functions as F

    TS = datetime.datetime(2020, 1, 1)

    def mk(rows, with_meta):
        schema = (
            "seq long, conv_id string, turn_idx int, role string, text string, "
            "tool string, op string, ts timestamp"
            + (", meta string" if with_meta else "")
            + ", batch_id int"
        )
        return spark.createDataFrame(rows, schema)

    m3 = Scd2Merge(
        business_keys=["conv_id", "turn_idx"],
        payload_cols=["role", "text", "tool"],
        order_by=["seq"],
    )
    m4 = Scd2Merge(
        business_keys=["conv_id", "turn_idx"],
        payload_cols=["role", "text", "tool", "meta"],
        order_by=["seq"],
    )
    seed = [(1, "c1", 0, "user", "x", None, "U", TS, 0),
            (2, "c2", 0, "user", "y", None, "U", TS, 0)]
    evo = [
        (10, "c1", 0, "user", "x", None, "U", TS, None, 1),   # unchanged (old recipe)
        (11, "c2", 0, "user", "y2", None, "U", TS, None, 1),  # update
        (20, "c1", 0, "user", "x", None, "U", TS, None, 2),   # unchanged → bump
        (21, "c3", 0, "user", "z", None, "U", TS, "M3", 2),   # insert w/ meta
        (30, "c2", 0, None, None, None, "D", TS, None, 3),    # delete
        (31, "c1", 0, "user", "x", "tool1", "U", TS, None, 3),  # update
    ]
    t_seq = Scd2Table(spark, str(tmp_path / "seq"), num_buckets=4)
    t_win = Scd2Table(spark, str(tmp_path / "win"), num_buckets=4)
    for t in (t_seq, t_win):
        m3.apply_batch(t, mk(seed, False), 0)
    ev = mk(evo, True)
    sm = {
        b: m4.apply_batch(t_seq, ev.filter(F.col("batch_id") == b), b)
        for b in (1, 2, 3)
    }
    wm = m4.apply_batches(t_win, ev, "batch_id", [1, 2, 3])
    _assert_same(t_seq.head.read(), t_win.head.read(), "head")
    _assert_same(t_seq.hist.read(), t_win.hist.read(), "hist")
    for b in (1, 2, 3):
        for k in ("inserted", "updated", "deleted", "unchanged", "deduped_keys"):
            assert sm[b][k] == wm[b][k], (b, k)


def test_window_runner_replay_matches_serial_vault(spark, tmp_path):
    """End-to-end: the windowed laned runner vs the serial per-batch vault
    loop — bit-identical hub/sat/link state (the equivalence the bench's
    replay path rides on)."""
    from pyelt_spark.plans.pipeline import TranscriptVault
    from pyelt_spark.streaming.runner import MicrobatchRunner

    ev = transcript_change_events(spark, 3000, batch_size=200, seed=29).persist()
    try:
        laned = TranscriptVault(spark, str(tmp_path / "laned"), num_buckets=4)
        MicrobatchRunner(laned).replay(ev)
        serial = TranscriptVault(spark, str(tmp_path / "serial"), num_buckets=4)
        for b in sorted(int(r[0]) for r in ev.select("batch_id").distinct().collect()):
            serial.apply_batch(ev.filter(F.col("batch_id") == b), b)
        _assert_same(laned.hub.read(), serial.hub.read(), "hub")
        _assert_same(laned.link.read(), serial.link.read(), "link")
        _assert_same(
            laned.sat.read().drop("_bucket"),
            serial.sat.read().drop("_bucket"),
            "sat",
        )
    finally:
        ev.unpersist()
