from pyspark.sql import Window
from pyspark.sql import functions as F

from pyelt_spark.operators.dedup import _tiebreak, latest_per_key
from pyelt_spark.sources.events import transcript_change_events


def latest_per_key_window(df, keys, order_by):
    """The textbook ``row_number() == 1`` window with ``latest_per_key``'s
    tiebreak: correct but skew-prone (every event of a hot key lands in
    one task), so it is the cross-check, not the engine's path."""
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc() for c in order_by], _tiebreak(df, order_by, None).desc()
    )
    return df.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


def test_latest_per_key_agrees_with_window(spark):
    ev = transcript_change_events(spark, 3000, batch_size=1000, seed=7)
    a = latest_per_key(ev, ["conv_id", "turn_idx"], ["seq"])
    b = latest_per_key_window(ev, ["conv_id", "turn_idx"], ["seq"])
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_latest_per_key_deterministic_under_reshuffle(spark):
    ev = transcript_change_events(spark, 2000, seed=11)
    a = latest_per_key(ev, ["conv_id", "turn_idx"], ["seq"])
    b = latest_per_key(ev.repartition(13), ["conv_id", "turn_idx"], ["seq"])
    assert a.exceptAll(b).count() == 0


def test_duplicate_seq_tiebreak_is_stable(spark):
    # two rows with identical (key, seq) but diverging payload: winner must
    # be the same regardless of input order
    rows = [("c1", 0, 5, "alpha"), ("c1", 0, 5, "beta")]
    df1 = spark.createDataFrame(rows, ["conv_id", "turn_idx", "seq", "text"])
    df2 = spark.createDataFrame(list(reversed(rows)), df1.columns)
    w1 = latest_per_key(df1, ["conv_id", "turn_idx"], ["seq"]).first()["text"]
    w2 = latest_per_key(df2, ["conv_id", "turn_idx"], ["seq"]).first()["text"]
    assert w1 == w2


def test_generator_has_required_awkwardness(spark):
    ev = transcript_change_events(spark, 5000, seed=42).persist()
    ops = {r[0] for r in ev.select("op").distinct().collect()}
    assert ops == {"I", "U", "D"}
    # duplicate (key, seq) rows exist
    dups = (
        ev.groupBy("conv_id", "turn_idx", "seq").count().filter(F.col("count") > 1)
    )
    assert dups.count() > 0
    # skew: hottest conversation holds >3% of events
    top = ev.groupBy("conv_id").count().orderBy(F.desc("count")).first()
    assert top["count"] > 0.03 * ev.count()
    ev.unpersist()
