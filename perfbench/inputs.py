"""Seeded benchmark inputs.

Every run writes its input afresh, outside every timed region. It is not
cached across runs: generating it is the first Spark work in the run's
JVM and warms it, so a cached input would make the set-up time that
follows depend on the cache. Every stream comes from ``sources.events.transcript_change_events``. Each
input is one parquet directory of change events plus one extra column,
``_tb``: the duplicate-fork tiebreak the engine applies, computed by the
engine's own ``operators.dedup._tiebreak``, so the reference checks pick
the same winner among diverging duplicates. The engine reads
the directory with ``_tb`` dropped.
"""

from __future__ import annotations

from dataclasses import dataclass

# the column only the reference checks read
ORACLE_COL = "_tb"


@dataclass(frozen=True)
class StreamShape:
    n_events: int
    batch_size: int
    n_convs: int
    # share of events moved 1-3 batches later, in percent (0 = in order)
    late_pct: int = 0

    @property
    def n_batches(self) -> int:
        return -(-self.n_events // self.batch_size)


def write_input(spark, out: str, seed: int, shape: StreamShape) -> str:
    """Write the stream for ``seed`` and ``shape`` to the new directory ``out``."""
    from pyspark.sql import functions as F

    from pyelt_spark.sources.events import transcript_change_events

    ev = transcript_change_events(
        spark,
        shape.n_events,
        n_convs=shape.n_convs,
        batch_size=shape.batch_size,
        seed=seed,
        partitions=4,
    )
    if shape.late_pct:
        # a late event keeps its seq but lands 1-3 batches after its
        # in-order batch; the shift is a function of seq, so both forks of
        # a duplicated (key, seq) move together
        last = shape.n_batches - 1
        pick = F.pmod(F.xxhash64(F.lit(seed + 101), "seq"), F.lit(100))
        lag = F.lit(1) + F.pmod(F.xxhash64(F.lit(seed + 102), "seq"), F.lit(3))
        ev = ev.withColumn(
            "batch_id",
            F.when(
                pick < shape.late_pct, F.least(F.col("batch_id") + lag, F.lit(last))
            ).otherwise(F.col("batch_id")),
        )
    from pyelt_spark.operators.dedup import _tiebreak

    ev.withColumn(ORACLE_COL, _tiebreak(ev, ["seq"], None)).coalesce(4).write.parquet(out)
    return out
