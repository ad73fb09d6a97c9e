"""Row validation + exceptions quarantine.

Reference parity:
* duplicate-key validation — ``(_runid, keys) IN (GROUP BY _runid, keys
  HAVING count(*) > 1)`` sets ``_valid = FALSE``
  (pyelt/process/etl.py:349-371, auto-invoked per mapping :326-336)
* row-rule validation — ``UPDATE ... SET _valid = FALSE,
  _validation_msg = msg WHERE condition`` (etl.py:373-388 for SOR,
  :1083-1098 for DV)
* exceptions copy — invalid rows stringified into an ``_exceptions``
  table, anti-joined on already-reported rows (etl.py:19-56; DDL
  ddl.py:235-260)

Spark shape: validations are pure column rewrites (``_valid`` /
``_validation_msg`` accumulate across rules, messages joined with '; ');
invalid rows never reach the DV merges (filter at the pipeline seam —
reference test: invalid rows excluded from DV, test04_validations.py:47-53).
The exceptions quarantine appends only newly-seen invalid rows to a
LakeTable keyed by the row's content hash.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pyelt_spark.functions.hashing import hashdiff
from pyelt_spark.storage.lake import BUCKET_COL, LakeTable, bucket_expr

VALID_COL = "_valid"
MSG_COL = "_validation_msg"


@dataclass
class RowRule:
    """A validation rule: rows where ``condition`` holds are INVALID."""

    condition: Column
    message: str


def with_validation_columns(df: DataFrame) -> DataFrame:
    if VALID_COL not in df.columns:
        df = df.withColumn(VALID_COL, F.lit(True))
    if MSG_COL not in df.columns:
        df = df.withColumn(MSG_COL, F.lit(None).cast("string"))
    return df


def apply_rules(df: DataFrame, rules: list[RowRule]) -> DataFrame:
    """Evaluate all rules in one projection; messages accumulate."""
    df = with_validation_columns(df)
    valid = F.col(VALID_COL)
    msg = F.col(MSG_COL)
    for r in rules:
        valid = valid & ~F.coalesce(r.condition, F.lit(False))
        msg = F.when(
            F.coalesce(r.condition, F.lit(False)),
            F.concat_ws("; ", msg, F.lit(r.message)),
        ).otherwise(msg)
    return df.withColumn(VALID_COL, valid).withColumn(MSG_COL, msg)


def mark_duplicate_keys(
    df: DataFrame, keys: list[str], batch_col: str | None = None
) -> DataFrame:
    """Duplicate-key validation (etl.py:349-371): more than one row for
    (batch, keys) → every row of the group marked invalid."""
    df = with_validation_columns(df)
    parts = ([batch_col] if batch_col else []) + keys
    n = F.count("*").over(Window.partitionBy(*parts))
    dup = n > 1
    return df.withColumn(
        MSG_COL,
        F.when(dup, F.concat_ws("; ", F.col(MSG_COL), F.lit("duplicate key"))).otherwise(
            F.col(MSG_COL)
        ),
    ).withColumn(VALID_COL, F.col(VALID_COL) & ~dup)


def split_valid(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid, invalid) — invalid rows must not reach the DV merges."""
    df = with_validation_columns(df)
    return df.filter(F.col(VALID_COL)), df.filter(~F.col(VALID_COL))


def quarantine_exceptions(
    table: LakeTable, invalid: DataFrame, batch_id: int, key_cols: list[str]
) -> dict:
    """Append newly-seen invalid rows to the exceptions table (etl.py:19-56):
    rows are identified by a content hash; already-reported rows are
    anti-joined away so reruns add nothing."""
    if batch_id in table.committed_batch_ids():
        return {"skipped_duplicate_batch": batch_id}
    payload = [c for c in invalid.columns if c not in (VALID_COL, MSG_COL)]
    rows = invalid.select(
        hashdiff(sorted(payload)).alias("_exc_key"),
        F.concat_ws(".", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in key_cols]).alias("_exc_bk"),
        F.to_json(F.struct(*[F.col(c) for c in payload])).alias("_row_json"),
        F.col(MSG_COL).alias("_validation_msg"),
        F.lit(batch_id).cast("long").alias("_runid"),
    ).withColumn(BUCKET_COL, bucket_expr("_exc_key", table.num_buckets))
    first = table.last_commit() is None or not table.last_commit().buckets
    if not first:
        seen = table.read().select("_exc_key")
        rows = rows.join(seen, "_exc_key", "left_anti")
    # ONE Spark job: stage, then derive the count from staged footers —
    # no pre-write collect (same shape as HubMerge.apply_batch)
    staged = table.stage(rows, list(range(table.num_buckets)))
    metrics = {
        "batch_id": batch_id,
        "new_exceptions": staged["rows"],
    }
    table.commit(
        None,
        affected_buckets=sorted(staged["written_buckets"]),
        batch_id=batch_id,
        metrics=metrics,
        mode="append",
        staged=staged,
    )
    return metrics
