"""SQL Server CDC-table source — change-table rows → Debezium envelope.

Re-creates the semantics of the reference's SQL Server connector
(`debezium-connector-sqlserver`), which polls the server-maintained
``cdc.<capture_instance>_CT`` change tables by LSN range:

- the poll query orders by ``(__$start_lsn, __$seqval, __$operation)``
  (``SqlServerConnection.java:72`` GET_ALL_CHANGES_FOR_TABLE);
- operation codes are 1=DELETE, 2=INSERT, 3=UPDATE(before image),
  4=UPDATE(after image) (``SqlServerChangeRecordEmitter.java:22-25``);
- an update is TWO adjacent change-table rows sharing the same
  ``(__$start_lsn, __$seqval)`` — the streaming loop reads the op-3 row,
  asserts the very next row is its op-4 partner, and emits ONE update
  event with before=op-3 row, after=op-4 row
  (``SqlServerStreamingChangeEventSource.java:267-296``; an unpaired
  before row is an IllegalStateException at :274-277);
- op→envelope mapping: 1→d (before only), 2→c (after only), 3+4→u
  (``SqlServerChangeRecordEmitter.java:40-75`` getOperation /
  getOld/NewColumnValues).

Spark-first: the hand-rolled cursor walk becomes ONE ``groupBy(start_lsn,
seqval)`` — each group is a single change event (1 row for insert/delete,
2 for the update pair), so conditional ``max`` aggregates pull the before
image from ops {1,3} and the after image from ops {2,4} with map-side
partial aggregation (at most 2 rows per group; no window sort, no
shuffle-then-pair). Pairing violations (an op-3 row with no op-4 partner
or vice versa) surface as ``pair_error=true`` rows for quarantine instead
of the reference's hard stop — the engine's quarantine path
(``operators/quarantine.py``) owns dead-lettering.

Offset contract: SQL Server LSNs are 10-byte binaries that increase
totally across the log; the envelope's stream-monotone ``source.pos``
(schema.py OFFSET-ORDER CONTRACT) is ``start_lsn * 2^20 + seqval`` with
``source.file`` fixed to the capture-instance label, preserving
``(__$start_lsn, __$seqval)`` order exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# __$operation codes — SqlServerChangeRecordEmitter.java:22-25
OP_DELETE = 1
OP_INSERT = 2
OP_UPDATE_BEFORE = 3
OP_UPDATE_AFTER = 4

#: seqval occupies the low bits of the synthetic stream position; one LSN
#: (= one source transaction) holds < 2^20 statements. High-bit budget
#: (ADVICE r5): pos is a signed 64-bit long, so the numeric start_lsn must
#: stay below 2^43. Under Spark's default ANSI mode a larger product does
#: not wrap — it raises ARITHMETIC_OVERFLOW and fails the whole batch —
#: so a row outside the budget (start_lsn outside [0, 2^43) or seqval
#: outside [0, 2^20)) gets a NULL pos instead, and the engine's validity
#: split quarantines it as a null offset while the rest of the batch
#: applies. SQL Server's 10-byte LSNs need pos widened to decimal(38,0)
#: before this source is usable near that ceiling.
_SEQVAL_BITS = 20


def cdc_table_to_envelope(
    ct: DataFrame,
    payload_cols: list[str],
    db: str = "server1",
    table: str = "dbo.t",
    capture_instance: str | None = None,
) -> DataFrame:
    """Change-table rows → envelope rows (before/after/op/ts_ms/source).

    ``ct`` must carry ``start_lsn`` (long), ``seqval`` (long), ``operation``
    (int, the ``__$operation`` code), ``commit_ts_ms`` (long — the
    ``cdc.lsn_time_mapping`` commit time the reference stamps as
    ``source.ts_ms``) plus ``payload_cols``. Output adds ``pair_error``:
    true when the (start_lsn, seqval) group violates the update-pair
    protocol (unpaired op 3/4, or conflicting singleton ops) — those rows
    keep their offsets (the fence must advance past them) but carry null
    images, exactly the quarantine contract used for null-op rows.
    """
    # Per-COLUMN conditional max_by: the ordering key is null for rows
    # outside the side (which max_by skips), and at most one row per group
    # matches each side, so the result is exactly that row's image. Plan
    # shape: ONE Exchange with map-side partial_max_by. String-valued
    # aggregation buffers are not hash-mutable in Spark, so this runs as a
    # SortAggregate — acceptable here because the sort key is the group key
    # (start_lsn, seqval) and change-table input arrives already ordered by
    # it (the reference's poll query ORDER BY), making the per-partition
    # sort a near-no-op on sorted runs; the join-based alternative would
    # shuffle twice.
    def img(side_ops: list[int], tag: str):
        key = F.when(F.col("operation").isin(side_ops), F.col("operation"))
        return [F.max_by(F.col(c), key).alias(f"{tag}_{c}") for c in payload_cols]

    g = ct.groupBy("start_lsn", "seqval").agg(
        *img([OP_DELETE, OP_UPDATE_BEFORE], "b"),
        *img([OP_INSERT, OP_UPDATE_AFTER], "a"),
        F.min("operation").alias("min_op"),
        F.max("operation").alias("max_op"),
        F.count("*").alias("n_rows"),
        F.max("commit_ts_ms").alias("ts_ms"),
    )
    g = g.withColumns(
        {
            "before": F.struct(*[F.col(f"b_{c}").alias(c) for c in payload_cols]),
            "after": F.struct(*[F.col(f"a_{c}").alias(c) for c in payload_cols]),
        }
    )

    # Valid shapes: {1}, {2}, {3,4}. Anything else breaks the protocol the
    # reference asserts at SqlServerStreamingChangeEventSource.java:274-277.
    singleton = (F.col("n_rows") == 1) & F.col("min_op").isin(OP_DELETE, OP_INSERT)
    update_pair = (
        (F.col("n_rows") == 2)
        & (F.col("min_op") == OP_UPDATE_BEFORE)
        & (F.col("max_op") == OP_UPDATE_AFTER)
    )
    # null-safe (review r5): a null operation code makes both predicates
    # three-value to null, and a null `ok` would drop the group from BOTH
    # sides of the pair_error split — coalesce pins it to a quarantine row
    # whose offset still advances the fence, as documented.
    ok = F.coalesce(singleton | update_pair, F.lit(False))

    op = (
        F.when(F.col("min_op") == OP_DELETE, F.lit("d"))
        .when(F.col("min_op") == OP_INSERT, F.lit("c"))
        .otherwise(F.lit("u"))
    )
    file_label = capture_instance or table.replace(".", "_")
    lsn, seqval = F.col("start_lsn"), F.col("seqval")
    pos = F.when(
        lsn.between(0, (1 << 43) - 1) & seqval.between(0, (1 << _SEQVAL_BITS) - 1),
        lsn * F.lit(1 << _SEQVAL_BITS) + seqval,
    )

    return g.select(
        F.when(ok & op.isin("d", "u"), F.col("before")).alias("before"),
        F.when(ok & op.isin("c", "u"), F.col("after")).alias("after"),
        F.when(ok, op).alias("op"),
        F.col("ts_ms"),
        F.struct(
            F.lit(file_label).alias("file"),
            pos.alias("pos"),
            F.lit(None).cast("string").alias("gtid"),
            F.lit(None).cast("string").alias("snapshot"),
            F.lit(db).alias("db"),
            F.lit(table).alias("table"),
            F.col("ts_ms").alias("ts_ms"),
        ).alias("source"),
        # the envelope contract (serde ENVELOPE_COLS) includes a transaction
        # block; SQL Server's poll has no per-event tx metadata, so null —
        # exactly like the wire/slice sources
        F.lit(None)
        .cast("struct<id:string,total_order:bigint,data_collection_order:bigint>")
        .alias("transaction"),
        (~ok).alias("pair_error"),
    )
