"""Fail-record quarantine — park malformed events instead of failing the
batch.

The reference persists failed replay statements for manual inspection and
re-apply (``sink/replay/table/TableReplayTask.java:61,98,612`` fail-SQL
ledger). Here the same role is played by a validity split ahead of the
merge: rows that cannot be applied (unknown op, null key columns, null
offset — e.g. a wire-JSON payload that failed to parse) divert to a
``quarantine/`` area under the table root, serialized as wire JSON with a
reason column, and the batch commits without them — the fence still
advances, so one poison record never wedges the stream.

Idempotence: the quarantine parquet for a batch is written to a
deterministic per-batch path with overwrite mode, so crash-replay of the
batch rewrites the same files instead of duplicating them (the same
argument as the engine's data-file commits).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: every reference op code (Envelope.java:34-98 incl. the fork additions:
#: 'tc' truncate-cascade, 'p' CSV-slice pointer, 'm' message, 'i' index,
#: 'ts' table-snapshot)
KNOWN_OPS = ["r", "c", "u", "d", "t", "l", "tc", "p", "m", "i", "ts"]

#: ops that legitimately carry no payload: barriers + control rows
_PAYLOAD_FREE = ["t", "l", "tc", "p", "m", "i", "ts"]


def validity_reason(op, pos, after, before, key_null, file=None) -> "F.Column":
    """THE validity rule set, shared by every probe site (the quarantine
    split and the multi-table fused pre-pass — one definition, no drift).
    Null when the row is valid, else the first failed check's name.
    Barrier/control rows (truncate, DDL, message, index, slice pointer,
    table-snapshot) carry no payload key and are exempt.
    ``key_null`` is caller-built (key columns live in typed structs here,
    in parsed wire JSON in the multi-table path).

    ``file`` participates in ``null_offset``: under the file-major offset
    contract (schema.py ``offset_key``) a null file sorts BEFORE every real
    file, so a null-file row can never pass a fence once one exists — it
    must quarantine here, not silently fence-skip (review r5: a null-file
    barrier otherwise poisoned its segment's fence and dropped the
    segment's valid rows)."""
    data_op = ~op.isin(_PAYLOAD_FREE)
    offset_null = pos.isNull() if file is None else pos.isNull() | file.isNull()
    return (
        # null-safe: op IS NULL must flag, not three-value-logic its way
        # past every check (a wire doc missing "op" would otherwise apply
        # as an upsert via compute_changes's otherwise('u') — review r4)
        F.when(~F.coalesce(op.isin(KNOWN_OPS), F.lit(False)), F.lit("unknown_op"))
        .when(offset_null, F.lit("null_offset"))
        .when(data_op & (after.isNull() & before.isNull()), F.lit("null_payload"))
        .when(data_op & key_null, F.lit("null_key"))
    )


def reason_col(key_cols: list[str]) -> "F.Column":
    """``validity_reason`` over a typed envelope (key columns are read from
    ``after``, falling back to ``before``)."""
    key_null = F.lit(False)
    for k in key_cols:
        key_null = key_null | F.coalesce(F.col(f"after.{k}"), F.col(f"before.{k}")).isNull()
    return validity_reason(
        F.col("op"), F.col("source.pos"), F.col("after"), F.col("before"),
        key_null, file=F.col("source.file"),
    )


def split_valid(env: DataFrame, exprs) -> tuple[DataFrame, DataFrame]:
    """(good, bad): ``bad`` carries a ``_reason`` column; ``good`` has the
    original envelope schema. One pass of cheap Catalyst predicates, taken
    from the table's expression set (``plans.exprs.TableExprs``)."""
    valid, invalid = exprs.reason_split
    tagged = env.withColumn("_reason", exprs.reason)
    return tagged.filter(valid).drop("_reason"), tagged.filter(invalid)


def write_quarantine(bad: DataFrame, table_root: str, batch_id: str) -> str:
    """Serialize rejected rows (reason + full record as wire JSON + offset)
    to the table's quarantine area; returns the directory written."""
    safe = batch_id.replace("/", "_").replace(".", "_")
    out_dir = os.path.join(table_root, "quarantine", safe)
    (
        bad.select(
            F.col("source.pos").alias("pos"),
            F.col("source.file").alias("file"),
            F.col("op"),
            F.col("_reason").alias("reason"),
            F.to_json(F.struct("before", "after", "op", "ts_ms", "source", "transaction")).alias(
                "record_json"
            ),
            F.lit(batch_id).alias("batch_id"),
        )
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    return out_dir


def read_quarantine(spark: SparkSession, table_root: str) -> DataFrame:
    """All quarantined records for a table (empty DataFrame if none)."""
    qdir = os.path.join(table_root, "quarantine")
    schema = "pos long, file string, op string, reason string, record_json string, batch_id string"
    if not os.path.exists(qdir) or not os.listdir(qdir):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(os.path.join(qdir, "*"))
