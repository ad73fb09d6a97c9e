"""Latest-per-key deduplication — the engine's `DISTINCT ON` analog.

Semantics of the reference's ``SELECT DISTINCT ON (fk) ... ORDER BY seq``
(reference: pyelt/process/etl.py:546, :576, :1024) generalized to a
change-event tail: one surviving row per business key, picked by the
highest sequence number.

Scale design — this is the operator that meets hot-key skew head on
(SURVEY §4.1): ``groupBy(keys).agg(max_by(payload, ord))``. ``max_by`` is
an ordinary aggregate, so Spark applies a *partial (map-side)
aggregation* before the shuffle: a conversation with 10^7 events in one
scan partition is collapsed to one row per key **before** any byte
crosses the network. No window, no skewed partition, no salt needed —
the salt+two-phase trick is what this construction subsumes (a partial
agg IS phase one on a free "salt" = input partition id). The textbook
``row_number`` window, whose ``partitionBy(keys)`` places every event of
a hot key in one task, lives in tests/test_dedup.py as a cross-check.

Determinism: ties on the ordering columns (duplicate ``(key, seq)`` events
are a required test case, FIXTURES §1) are broken by an xxhash64 digest of
the canonicalized payload, so replay always picks the same winner
regardless of partitioning or input order. (xxhash64, not SHA: it runs on
every pre-dedup row, and a 2^-64 collision between two DIVERGING duplicate
payloads — which the fixtures never produce and real CDC streams make
astronomically unlikely — is the accepted trade for hashing speed.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _tiebreak(df: DataFrame, order_by: list[str], tiebreak_cols: list[str] | None) -> Column:
    # xxhash64 (not sha) — this runs on EVERY input row pre-dedup, and only
    # has to order duplicate (key, seq) forks deterministically. The column
    # set is canonical (sorted, order_by excluded) so the winner does not
    # depend on engine-added columns; callers that enrich the frame first
    # pass the ORIGINAL column list via tiebreak_cols.
    payload = tiebreak_cols or [c for c in df.columns if c not in order_by]
    return F.xxhash64(*[F.col(c) for c in sorted(payload)])


def latest_per_key(
    df: DataFrame,
    keys: list[str],
    order_by: list[str],
    deterministic: bool = True,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """One row per ``keys``, the maximal ``order_by`` tuple winning.

    Shuffle-efficient: map-side partial aggregation collapses hot keys
    before the exchange (see module docstring). Output columns == input
    columns, original order preserved.
    """
    ord_cols = [F.col(c) for c in order_by]
    if deterministic:
        ord_cols.append(_tiebreak(df, order_by, tiebreak_cols))
    winner = F.max_by(F.struct(*[F.col(c) for c in df.columns]), F.struct(*ord_cols))
    out = df.groupBy(*[F.col(k) for k in keys]).agg(winner.alias("_w"))
    return out.select(*[F.col(f"_w.{c}").alias(c) for c in df.columns])
