import os

from pyspark.sql import functions as F

from pyelt_spark.storage.lake import BUCKET_COL, LakeTable, bucket_expr


def _df(spark, ids):
    return (
        spark.range(0, 0)
        .sparkSession.createDataFrame([(i, f"v{i}") for i in ids], "k long, v string")
        .withColumn(BUCKET_COL, bucket_expr("k", 8))
    )


def test_commit_read_prune(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), num_buckets=8)
    df = _df(spark, range(100))
    buckets = [r[0] for r in df.select(BUCKET_COL).distinct().collect()]
    t.commit(df, affected_buckets=buckets, batch_id=1)
    assert t.read().count() == 100
    one = buckets[0]
    pruned = t.read(buckets=[one])
    assert pruned.count() == df.filter(F.col(BUCKET_COL) == one).count()
    assert t.committed_batch_ids() == {1}


def test_partial_rewrite_carries_forward(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), num_buckets=8)
    df = _df(spark, range(100))
    all_buckets = [r[0] for r in df.select(BUCKET_COL).distinct().collect()]
    t.commit(df, affected_buckets=all_buckets, batch_id=1)

    # rewrite only bucket b with new contents
    b = all_buckets[0]
    rewritten = _df(spark, range(1000, 1010)).withColumn(BUCKET_COL, F.lit(b))
    t.commit(rewritten, affected_buckets=[b], batch_id=2)

    out = t.read()
    n_b_before = df.filter(F.col(BUCKET_COL) == b).count()
    assert out.count() == 100 - n_b_before + 10
    # untouched buckets still reference v1 dirs; bucket b references v2
    last = t.last_commit()
    assert last.buckets[str(b)][0].startswith(os.path.join("data", "v2"))
    other = [k for k in last.buckets if k != str(b)][0]
    assert last.buckets[other][0].startswith(os.path.join("data", "v1"))


def test_compact_and_vacuum(spark, tmp_path):
    t = LakeTable(spark, str(tmp_path / "t"), num_buckets=2)
    for i in range(6):
        df = _df(spark, [i]).withColumn(BUCKET_COL, F.lit(0))
        prev = t.read(buckets=[0]) if t.last_commit() else None
        data = prev.unionByName(df) if prev is not None else df
        t.commit(data, affected_buckets=[0], batch_id=i)
    assert len(t.last_commit().buckets["0"]) == 1  # full rewrite each commit
    t.compact(max_versions_per_bucket=0)
    t.vacuum()
    assert t.read().count() == 6
    # vacuumed: only the latest data version dir remains referenced
    data_dirs = os.listdir(tmp_path / "t" / "data")
    live = {d.split(os.sep)[1] for ds in t.last_commit().buckets.values() for d in ds}
    assert set(data_dirs) >= live


def test_vault_maintain_compacts_append_tables(spark, tmp_path):
    from pyelt_spark.plans.pipeline import TranscriptVault
    from pyelt_spark.sources.events import transcript_change_events
    from pyelt_spark.streaming.runner import MicrobatchRunner

    # many conversations relative to events → every batch registers NEW hub
    # keys, so the append-mode hub gains a dir per touched bucket per batch.
    # Applied per batch (the steady-state arrival path) — a windowed replay
    # appends once per window and would leave nothing to compact.
    ev = transcript_change_events(spark, 2000, batch_size=500, seed=13, n_convs=1500)
    vault = TranscriptVault(spark, str(tmp_path / "v"), num_buckets=4)
    for b in sorted(r[0] for r in ev.select("batch_id").distinct().collect()):
        vault.apply_batch(ev.filter(ev.batch_id == b), int(b))
    before = vault.hub.read().count()
    # hub appended one dir per touched bucket per batch — force-compact
    assert any(len(d) > 1 for d in vault.hub.last_commit().buckets.values())
    vault.maintain(max_dirs_per_bucket=1)
    assert all(len(d) == 1 for d in vault.hub.last_commit().buckets.values())
    assert vault.hub.read().count() == before  # contents unchanged


def test_time_travel_read_version(spark, tmp_path):
    import pytest

    t = LakeTable(spark, str(tmp_path / "tt"), num_buckets=4)
    d1 = _df(spark, range(10))
    b1 = [r[0] for r in d1.select(BUCKET_COL).distinct().collect()]
    t.commit(d1, b1, batch_id=1)
    d2 = _df(spark, range(10, 15))
    b2 = [r[0] for r in d2.select(BUCKET_COL).distinct().collect()]
    t.commit(d2, b2, batch_id=2, mode="append")

    assert t.read().count() == 15
    assert t.read_version(1).count() == 10          # snapshot isolation
    assert t.read_version(2).count() == 15
    with pytest.raises(ValueError, match="no commit version"):
        t.read_version(99)


def test_commits_cache_population_race_with_commit(spark, tmp_path):
    """A reader thread populating the commits cache concurrently with a
    writer thread committing must not lose the new commit (a concurrent
    reader of a table a replay lane commits to — an unsynchronized
    population could capture a
    pre-commit disk listing and assign it AFTER the append, dropping the
    commit from the cache and letting the next version overwrite a
    published manifest). Deterministically forces the worst interleaving
    by blocking the reader's directory listing until the writer has
    committed."""
    import threading

    t = LakeTable(spark, str(tmp_path / "race"), num_buckets=4)
    d1 = _df(spark, range(6))
    b1 = [r[0] for r in d1.select(BUCKET_COL).distinct().collect()]
    t.commit(d1, b1, batch_id=1)
    t._commits_cache = None  # fresh handle state: next commits() re-lists

    writer_done = threading.Event()
    reader_listing = threading.Event()
    real_listdir = os.listdir

    def slow_listdir(path):
        out = real_listdir(path)
        if path.endswith("_commits") and not writer_done.is_set():
            reader_listing.set()
            # hold the pre-commit listing. Unfixed, the writer commits
            # within this window and the reader then assigns its stale
            # listing over the appended cache (the bug). Fixed, the writer
            # blocks on the commits lock until the reader releases it, so
            # this wait just times out and both orders serialize correctly.
            writer_done.wait(timeout=2.5)
        return out

    d2 = _df(spark, range(6, 9))
    b2 = [r[0] for r in d2.select(BUCKET_COL).distinct().collect()]

    def writer():
        reader_listing.wait(timeout=30)
        t.commit(d2, b2, batch_id=2, mode="append")
        writer_done.set()

    import pyelt_spark.storage.lake as lake_mod

    errs = []

    def reader():
        try:
            lake_mod.os.listdir = slow_listdir
            t.commits()
        except Exception as e:  # pragma: no cover
            errs.append(e)
        finally:
            lake_mod.os.listdir = real_listdir

    rt = threading.Thread(target=reader)
    wt = threading.Thread(target=writer)
    rt.start()
    wt.start()
    rt.join(timeout=60)
    wt.join(timeout=60)
    assert not errs
    # the cache must contain batch 2's commit exactly once, and the next
    # version number must not reuse/overwrite a published manifest
    versions = [c.version for c in t.commits()]
    assert sorted(versions) == sorted(set(versions))
    assert t.last_commit().batch_id == 2
    assert t.read().count() == 9
