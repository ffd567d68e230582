"""Envelope → change-set operators: PK-change split and last-writer-wins
dedupe. These two are what make batch MERGE equivalent to the reference's
sequential per-key apply.

PK-change split re-creates ``RecordMakers.java:282-312`` in the reference
(an UPDATE whose key changed is emitted as DELETE(old key) + CREATE(new
key); expected ordering asserted by ``MySqlConnectorIT.java:1530-1536``) —
here as a single ``explode`` over an array of envelope structs, pure
Catalyst.

Last-writer-wins dedupe replaces the reference's per-key total order from
Kafka partitioning + single-writer sink threads: within a micro-batch, for
every key we keep only the event with the greatest ``(source.pos,
_sub_order)``. Because each key's final state under sequential apply depends
only on its own last event (insert/update ⇒ that payload; delete ⇒ absent),
batch(last event per key) ∘ MERGE ≡ sequential apply — the equivalence the
engine relies on to parallelize freely.

Implemented with ``groupBy(key).agg(max_by(...))`` rather than a window
``row_number``: max_by is a partial-aggregatable function, so Spark performs
map-side combine before the shuffle — at 10^10 events with hot keys this
collapses each hot key to one row per map task *before* the exchange, where
a window would sort the full partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from debezium_spark.plans.merge import OP_COL


def _env_struct(before, after, op, tomb=None):
    """Rebuild a full envelope struct column (used by the split)."""
    cols = [
        before.alias("before"),
        after.alias("after"),
        op.alias("op"),
        F.col("ts_ms").alias("ts_ms"),
        F.col("source").alias("source"),
        F.col("transaction").alias("transaction"),
    ]
    if tomb is not None:
        cols.append(F.lit(tomb).alias("_tombstone"))
    return F.struct(*cols)


def pk_split_cols(key_cols: list[str], tombstones_on_delete: bool = False) -> list:
    """The PK-change split's projection (see ``split_pk_changes``): one
    ``posexplode`` over the array of envelope structs each row expands to.
    Independent of the payload type — the null payload is
    ``CASE WHEN false THEN after END``, which the optimizer folds to a null
    literal of ``after``'s type — so a table builds it once
    (``plans.exprs.TableExprs.pk_split``)."""
    bkey = F.struct(*[F.col(f"before.{c}") for c in key_cols])
    akey = F.struct(*[F.col(f"after.{c}") for c in key_cols])
    is_pk_change = (
        (F.col("op") == "u")
        & F.col("before").isNotNull()
        & F.col("after").isNotNull()
        & (bkey != akey)
    )

    null_payload = F.when(F.lit(False), F.col("after"))
    tomb = False if tombstones_on_delete else None
    delete_env = _env_struct(F.col("before"), null_payload, F.lit("d"), tomb=tomb)
    insert_env = _env_struct(null_payload, F.col("after"), F.lit("c"), tomb=tomb)
    ident_env = _env_struct(F.col("before"), F.col("after"), F.col("op"), tomb=tomb)

    if tombstones_on_delete:
        tomb_env = _env_struct(F.col("before"), null_payload, F.lit("d"), tomb=True)
        arr = F.when(is_pk_change, F.array(delete_env, tomb_env, insert_env)).otherwise(
            F.array(ident_env)
        )
    else:
        arr = F.when(is_pk_change, F.array(delete_env, insert_env)).otherwise(F.array(ident_env))
    return [F.posexplode(arr).alias("_sub", "_e")]


def split_pk_changes(
    env: DataFrame,
    key_cols: list[str],
    tombstones_on_delete: bool = False,
    cols: list | None = None,
) -> DataFrame:
    """Expand UPDATEs whose key changed into DELETE(old)+CREATE(new).

    Adds ``_sub`` so downstream ordering is (source.pos, _sub) — the insert
    logically follows the delete, mirroring the record ordering the
    reference emits (RecordMakers.java:282-312). Rows without a key change
    pass through with _sub=0.

    ``tombstones_on_delete=True`` inserts the tombstone between them —
    DELETE(old) + tombstone(old key, null value) + CREATE(new), _sub 0/1/2,
    with a ``_tombstone`` marker column — the full wire-format parity shape
    (RecordMakers.java:282-312; ordering asserted by
    MySqlConnectorIT.java:1530-1536). Tombstones carry op='d' and a null
    ``after``, so sinks that ignore the marker still converge to the same
    state (the delete already removed the key); wire consumers see parity.

    ``cols``: the prebuilt ``pk_split_cols(key_cols, tombstones_on_delete)``
    (the engine passes its table's cached copy).
    """
    if cols is None:
        cols = pk_split_cols(key_cols, tombstones_on_delete)
    return env.select(*cols).select("_e.*", "_sub")


def resolution_pos() -> "F.Column":
    """Cross-batch resolution order, encoded into one long:
    ``pos*2 + (1 if incremental-snapshot chunk row else 0)``.

    The sub-bit settles the DBLog tie (reference
    ``AbstractIncrementalSnapshotChangeEventSource.java:136-146``, where the
    window buffer lets stream events evict chunk rows): a chunk row stamped
    at the fence position beats every real event at pos <= fence (the state
    it re-read already includes them) and strictly loses to the first
    not-yet-applied real event at pos = fence+1 — no nondeterministic max_by
    tie, no fence advance past an unapplied offset."""
    incr = (F.col("source.snapshot") == "incremental").cast("long")
    return F.col("source.pos") * 2 + F.coalesce(incr, F.lit(0))


def dedupe_cols(key_cols: list[str], payload_fields: list[str]) -> tuple:
    """The last-wins dedupe's expressions (see ``compute_changes``): the
    pre-aggregation projection (keys, order struct, row struct), the
    grouping keys, the ``max_by`` aggregate, and the output projection
    (keys, non-key payload, ``_op``, encoded ``_pos``)."""
    key_exprs = [
        F.coalesce(F.col(f"after.{c}"), F.col(f"before.{c}")).alias(c) for c in key_cols
    ]
    rpos = resolution_pos()
    ord_struct = F.struct(rpos.alias("rpos"), F.col("_sub"))
    row_struct = F.struct(F.col("op"), F.col("after"), rpos.alias("pos"))
    pre = [*key_exprs, ord_struct.alias("_ord"), row_struct.alias("_row")]
    agg = F.max_by("_row", "_ord").alias("_row")
    keys = [F.col(c) for c in key_cols]
    non_key = [c for c in payload_fields if c not in key_cols]
    out = [
        *keys,
        *[F.col(f"_row.after.{c}").alias(c) for c in non_key],
        F.when(F.col("_row.op") == "d", F.lit("d")).otherwise(F.lit("u")).alias(OP_COL),
        F.col("_row.pos").alias("_pos"),  # encoded resolution order for MoR deltas
    ]
    return pre, keys, agg, out


def compute_changes(
    env: DataFrame, key_cols: list[str], cols: tuple | None = None
) -> DataFrame:
    """Envelope batch → one change row per key: key cols + payload + _op.

    Input must already be PK-split. Output feeds ``plans.merge``.
    ``cols``: the prebuilt ``dedupe_cols`` for this payload (the engine
    passes its table's cached copy; the input then must carry ``_sub``).

    Shape note (round 6): fusing this dedupe exchange with the merge's
    write-layout repartition (repartition on (bucket, salt) first, then
    groupBy(bucket, salt, keys) — a single exchange) was measured at only
    ~0.25 s/2M-event batch faster, because the second exchange moves
    already-deduped rows; it was rejected because pre-repartitioning by a
    pure key function ships EVERY duplicate of a hot key to one task,
    losing the map-side partial-agg collapse that makes hot keys safe
    (test_skew property 1, guide §2.5)."""
    if cols is None:
        if "_sub" not in env.columns:
            env = env.withColumn("_sub", F.lit(0))
        cols = dedupe_cols(key_cols, [f.name for f in env.schema["after"].dataType.fields])
    pre, keys, agg, out = cols
    return env.select(*pre).groupBy(*keys).agg(agg).select(*out)
