"""Laned replay: each table's batch chain runs as its own sequential lane,
lanes concurrent. These tests pin the two properties the restructure must
preserve: (1) a crash can now leave DIFFERENT tables at DIFFERENT batch
positions and resume still completes exactly-once; (2) the laned path
produces bit-identical table state to the serial per-batch loop, and the
lane gate falls back to serial whenever hooks/validations/views observe
cross-table part boundaries (reference run-order contract
pyelt/pipeline.py:657-744)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from pyelt_spark.plans.pipe import (
    Pipe,
    SorToEntityMapping,
    SorToLinkMapping,
    SorToValueSetMapping,
)
from pyelt_spark.plans.pipeline import TranscriptVault
from pyelt_spark.sources.events import transcript_change_events
from pyelt_spark.streaming.runner import MicrobatchRunner

from tests.test_domain import (  # declared test domain + event helpers
    _SCHEMA,
    _ev,
    _mappings,
    Patient,
    PatientHandelingLink,
)


def test_laned_crash_lanes_at_different_batches(spark, tmp_path):
    """Crash the link lane mid-replay while the hub/sat lanes run to the
    end of the stream — the torn state has tables at DIFFERENT batch
    positions. Resume must complete exactly the missing (table, batch)
    cells and converge to the clean-replay state. (The lanes now apply
    their pending ids as one coalesced window, so the link crash is
    injected into its window call and leaves the link with NO commits —
    a strictly more torn state than the per-batch architecture's.)"""
    ev = transcript_change_events(spark, 1200, batch_size=400, seed=47).persist()
    vault = TranscriptVault(spark, str(tmp_path / "v"), num_buckets=4)

    def boom(*a, **k):
        raise RuntimeError("injected link-lane crash")

    vault.link_merge.apply_batches = boom
    vault.link_merge.apply_batch = boom
    with pytest.raises(RuntimeError, match="injected link-lane crash"):
        MicrobatchRunner(vault).replay(ev)

    # torn ACROSS batches: link never committed; sat/hub lanes ran 0..2
    assert vault.link.committed_batch_ids() == set()
    assert vault.sat.committed_batch_ids() >= {0, 1, 2}
    assert vault.hub.committed_batch_ids() >= {0, 1, 2}

    # restart: fresh handles, same stream — only the missing cells apply
    vault2 = TranscriptVault(spark, str(tmp_path / "v"), num_buckets=4)
    out = MicrobatchRunner(vault2).replay(ev)
    assert out[0]["sat"] == {"skipped_duplicate_batch": 0}
    assert out[1]["sat"] == {"skipped_duplicate_batch": 1}
    assert out[1]["hub"] == {"skipped_duplicate_batch": 1}
    assert "new_keys" in out[1]["link"]  # the crashed cell completed now

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


def test_laned_sat_history_compaction_matches_serial(spark, tmp_path, monkeypatch):
    """Over the volume gate a lane runs one window per batch and compacts
    after each. That laned replay must compact the sat history at the
    SAME threshold as the serial ``apply_batch`` loop (16 dirs/bucket,
    ``TranscriptVault.maintain``) and land identical sat state: 20 batches
    over 2 buckets take each history bucket past 16 appended dirs. Under
    the real budget the same late stream is one window."""
    import pyelt_spark.plans.pipe as pipe_mod

    ev = transcript_change_events(spark, 400, batch_size=20, seed=11)
    # late event: a key's first event re-delivered in the batch after the
    # key's last one, so its seq is older than the key's head row
    rows = ev.select("conv_id", "turn_idx", "seq", "batch_id").collect()
    by_key: dict = {}
    for r in rows:
        by_key.setdefault((r["conv_id"], r["turn_idx"]), []).append(r)
    first, last_batch = next(
        (min(rs, key=lambda r: r["seq"]), max(r["batch_id"] for r in rs))
        for rs in by_key.values()
        if len({r["batch_id"] for r in rs}) > 1 and max(r["batch_id"] for r in rs) < 19
    )
    late = ev.filter(f"seq = {first['seq']}").limit(1).withColumn(
        "batch_id", F.lit(last_batch + 1).cast(dict(ev.dtypes)["batch_id"])
    )
    ev = ev.unionByName(late).persist()
    try:
        windowed = TranscriptVault(spark, str(tmp_path / "windowed"), num_buckets=2)
        out = MicrobatchRunner(windowed).replay(ev)
        assert all(o["sat"]["window"] == [0, 19] for o in out), "late stream did not window"
        assert sum(o["sat"]["stale"] for o in out) == 1

        monkeypatch.setattr(pipe_mod, "WINDOW_ROW_BUDGET_PER_CORE", 0)
        laned = TranscriptVault(spark, str(tmp_path / "laned"), num_buckets=2)
        out = MicrobatchRunner(laned).replay(ev)
        assert all(o["sat"]["window"] == [o["batch_id"]] * 2 for o in out)

        serial = TranscriptVault(spark, str(tmp_path / "serial"), num_buckets=2)
        for b in range(20):
            serial.apply_batch(ev.filter(f"batch_id = {b}"), b)

        def n_compactions(vault):
            return sum(
                1
                for t in (vault.sat.head, vault.sat.hist)
                for c in t.commits()
                if c.metrics.get("compaction")
            )

        assert n_compactions(laned) == n_compactions(serial) >= 1
        b = serial.sat.read().drop("_bucket")
        for vault in (laned, windowed):
            a = vault.sat.read().drop("_bucket")
            assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    finally:
        ev.unpersist()


def test_laned_replay_cuts_chunked_windows(spark, tmp_path, monkeypatch):
    """Over the row budget the volume gate cuts each lane's batches, in
    order, into consecutive windows whose probed input rows fit it: with
    a budget of about 2.5 batches the sat and hub lanes (one input row per
    event) run windows of two, the sparser link lane longer ones. Every
    batch reports its own window, and hub, sat and link state equal the
    serial ``apply_batch`` loop."""
    import math

    import pyelt_spark.plans.pipe as pipe_mod

    ev = transcript_change_events(spark, 800, batch_size=100, seed=5).persist()
    try:
        counts = dict(sorted((int(r[0]), r[1]) for r in ev.groupBy("batch_id").count().collect()))
        cores = spark.sparkContext.defaultParallelism
        per_core = math.ceil(250 / cores)
        monkeypatch.setattr(pipe_mod, "WINDOW_ROW_BUDGET_PER_CORE", per_core)
        # the sat's expected cut: greedy over the per-batch event counts
        want, total = [], 0
        for b, n in counts.items():
            if want and total + n <= per_core * cores:
                want[-1].append(b)
                total += n
            else:
                want.append([b])
                total = n
        assert len(want) > 1 and all(len(w) > 1 for w in want)

        chunked = TranscriptVault(spark, str(tmp_path / "chunked"), num_buckets=4)
        out = {o["batch_id"]: o for o in MicrobatchRunner(chunked).replay(ev)}
        for w in want:
            for b in w:
                # the hub, like the sat, takes one input row per event
                assert out[b]["sat"]["window"] == out[b]["hub"]["window"] == [w[0], w[-1]], b
        # the link's windows: consecutive, tiling the batch ids, each batch
        # in its own, and no more of them than the sat's
        wins = sorted({tuple(o["link"]["window"]) for o in out.values()})
        assert [b for lo, hi in wins for b in range(lo, hi + 1)] == list(counts)
        assert all(lo <= b <= hi for b, o in out.items() for lo, hi in [o["link"]["window"]])
        assert len(wins) <= len(want)

        serial = TranscriptVault(spark, str(tmp_path / "serial"), num_buckets=4)
        for b in counts:
            serial.apply_batch(ev.filter(f"batch_id = {b}"), b)
        for tbl in ("hub", "link"):
            a, b = getattr(chunked, tbl).read(), getattr(serial, tbl).read()
            assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, tbl
        a = chunked.sat.read().drop("_bucket")
        b = serial.sat.read().drop("_bucket")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    finally:
        ev.unpersist()


def _pipe_events(spark):
    rows = [
        # batch 0: two patients, one handeling+link, one valueset code
        _ev(1, "p1", "Jan", straat="Dam 1", adres_type="postadres") + (0,),
        _ev(2, "p2", "Piet", handeling="h1", dyn_type="locatie", dyn_key="l9") + (0,),
        # batch 1: update p1, new patient+handeling, second valueset code
        _ev(3, "p1", "Jan B", straat="Dam 2", adres_type="bezoekadres") + (1,),
        _ev(4, "p3", "Kees", handeling="h2") + (1,),
        # batch 2: delete p2, re-link p1
        _ev(5, "p2", "Piet", op="D") + (2,),
        _ev(6, "p1", "Jan B", handeling="h1", dyn_type="locatie", dyn_key="l9") + (2,),
    ]
    return spark.createDataFrame(rows, _SCHEMA + ", batch_id int")


def test_laned_pipe_matches_serial(spark, tmp_path):
    """The laned Pipe.replay and the serial per-batch loop (forced via a
    no-op hook) must land bit-identical state on every table."""
    ev = _pipe_events(spark)

    laned = Pipe(spark, str(tmp_path / "laned"), _mappings(), num_buckets=4)
    assert laned._laneable(None)
    laned.replay(ev)

    serial = Pipe(spark, str(tmp_path / "serial"), _mappings(), num_buckets=4)
    serial.add_hook("before_hubs", lambda p, df, b: None)
    assert not serial._laneable(None)
    serial.replay(ev)

    pairs = [
        (laned.hubs[Patient], serial.hubs[Patient]),
        (laned.sats["patient_sat"], serial.sats["patient_sat"]),
        (laned.sats["patient_sat_adres"], serial.sats["patient_sat_adres"]),
        (laned.links[PatientHandelingLink], serial.links[PatientHandelingLink]),
        (laned.valuesets["adres_type"], serial.valuesets["adres_type"]),
    ]
    for ta, tb in pairs:
        a = ta.read().drop("_bucket")
        b = tb.read().drop("_bucket")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, ta


def test_laned_pipe_crash_resume(spark, tmp_path):
    """Torn laned Pipe replay: the link lane dies at batch 1, the
    hub/sat/valueset lanes finish the stream; a fresh Pipe resumes and
    matches a clean serial replay."""
    from pyelt_spark.operators.hubs import LinkMerge

    ev = _pipe_events(spark)
    pipe = Pipe(spark, str(tmp_path / "dv"), _mappings(), num_buckets=4)

    def boom(self, *a, **k):
        raise RuntimeError("injected link-lane crash")

    LinkMerge.apply_batch = boom
    LinkMerge.apply_batches = boom
    try:
        with pytest.raises(RuntimeError, match="injected link-lane crash"):
            pipe.replay(ev)
    finally:
        del LinkMerge.apply_batch  # restore the HubMerge-inherited methods
        del LinkMerge.apply_batches

    link_t = pipe.links[PatientHandelingLink]
    assert 1 not in link_t.committed_batch_ids()
    assert {1, 2} <= pipe.sats["patient_sat"].committed_batch_ids()

    pipe2 = Pipe(spark, str(tmp_path / "dv"), _mappings(), num_buckets=4)
    pipe2.replay(ev)

    clean = Pipe(spark, str(tmp_path / "clean"), _mappings(), num_buckets=4)
    for b in (0, 1, 2):
        clean.run(ev.filter(f"batch_id = {b}").drop("batch_id"), batch_id=b)

    for name in ("patient_sat", "patient_sat_adres"):
        a = pipe2.sats[name].read().drop("_bucket")
        b = clean.sats[name].read().drop("_bucket")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, name
    a = pipe2.links[PatientHandelingLink].read()
    b = clean.links[PatientHandelingLink].read()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
