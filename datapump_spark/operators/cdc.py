"""CDC changelog apply: collapse an upsert/delete stream to table state.

The ingest side of the lakehouse pattern (Delta MERGE from a Debezium
feed, Hudi upserts): given a changelog of (key, sequence, op, payload),
produce the current state — the latest surviving row per key, with
delete tombstones removing keys. Complements the SCD2 operator
(operators/intervals.py), which keeps the full history; this keeps the
head.

Plan shape: ONE hash aggregate — ``max_by(payload_struct, seq_struct)``
per key (sortless argmax, the q_latest_event pattern: no window, no
sort, map-side partial argmax does most of the work) — then a filter on
the winning row's op. At 100 TB this shuffles one row per key per
partial, never the full changelog, and has no skew cliff beyond the
keys' own distribution. ``ParquetMergeSink.apply_cdc`` merges the same
per-key winners (:func:`latest_changes`) into a stored table.

Determinism: callers must make ``seq_cols`` a total order per key
(e.g. (ts, event_id)); ties would otherwise make the winner
partial-order-dependent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datapump_spark.functions.sqltext import sql_ident

# Winner flag of :func:`latest_changes`: the key's latest change is a
# delete (``ParquetMergeSink.apply_cdc`` stores such rows as markers).
TOMBSTONE_COL = "__tombstone"


def latest_changes(changes: DataFrame, keys: list[str], seq_cols: list[str],
                   op_col: str = "op", delete_op: str = "D",
                   payload_cols: list[str] | None = None) -> DataFrame:
    """One row per key: its latest change (by ``seq_cols``
    lexicographic) as ``keys…, seq_cols…, payload_cols…,
    TOMBSTONE_COL``, the flag true when that change is a delete.
    ``payload_cols`` defaults to every other column but ``op_col``."""
    if payload_cols is None:
        payload_cols = [c for c in changes.columns
                        if c not in set(keys) | set(seq_cols) | {op_col}]

    def cols(names: list[str]) -> list:
        return [F.col(sql_ident(c)) for c in names]

    win = F.max_by(
        F.struct(*cols(seq_cols + payload_cols),
                 (F.col(sql_ident(op_col)) == delete_op).alias(TOMBSTONE_COL)),
        F.struct(*cols(seq_cols)))
    out = seq_cols + payload_cols + [TOMBSTONE_COL]
    return (changes.groupBy(*cols(keys)).agg(win.alias("__w"))
            .select(*cols(keys),
                    *[F.col("__w").getField(c).alias(c) for c in out]))


def apply_changes(changes: DataFrame, keys: list[str], seq_cols: list[str],
                  op_col: str = "op", delete_op: str = "D",
                  payload_cols: list[str] | None = None) -> DataFrame:
    """Current state: :func:`latest_changes` without the keys whose
    latest change is a delete, and without the flag column."""
    return (latest_changes(changes, keys, seq_cols, op_col, delete_op,
                           payload_cols)
            .where(~F.col(TOMBSTONE_COL)).drop(TOMBSTONE_COL))
