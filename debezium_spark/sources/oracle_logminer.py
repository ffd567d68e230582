"""Oracle LogMiner source — redo rows → commit-ordered Debezium envelope.

Re-creates the semantics of the reference's Oracle connector
(`debezium-connector-oracle`), whose LogMiner adapter mines
``V$LOGMNR_CONTENTS`` by SCN range and buffers events per transaction:

- operation codes (``logminer/events/EventType.java:13-26``):
  1=INSERT, 2=DELETE, 3=UPDATE, 5=DDL, 6=START, 7=COMMIT, 36=ROLLBACK
  (LOB codes 9/10/11/29 and 255=UNSUPPORTED are recognized and skipped);
- DML events BUFFER per transaction and are dispatched only when the
  transaction's COMMIT row arrives; a ROLLBACK row discards the whole
  buffer (``logminer/processor/AbstractLogMinerEventProcessor.java:266``
  switch, commit/rollback finalizers :539-549);
- a DML row mined with ``ROLLBACK=1`` is a *partial* (statement-level)
  rollback: it is not an event itself, and it removes the prior event with
  the same row id from the transaction buffer
  (``AbstractLogMinerEventProcessor.java:755-765`` — "with a rollback flag
  to indicate that the prior event should be omitted");
- dispatch order is commit order: all events of an earlier-committing
  transaction precede all events of a later one, intra-transaction order
  is mining (SCN) order.

Spark-first: the per-transaction in-memory buffer (the reference offers
heap and Infinispan implementations) is unnecessary under batch replay —
set algebra over the whole SCN window replaces it:

- commits/rollbacks are plain filters; "buffer until commit" is an
  equi-JOIN of DML rows to committed transactions (uncommitted and
  rolled-back transactions drop out by the inner join — no state);
- partial rollback is a ``lead()`` window over ``(tx, table, row_id)`` in
  SCN order: a DML row is cancelled iff the next row for the same row id
  is its compensating ROLLBACK=1 row — the "prior event" contract above.
  The window partitions by row id, so no global sort and no skew beyond a
  genuinely hot row;
- commit-ordered emission is ``(commit_scn, scn)`` ordering, carried in
  the envelope as the stream-monotone position
  ``commit_scn * 2^20 + row_number-within-tx`` (schema.py OFFSET-ORDER
  CONTRACT: replay order must be encoded in ``source.pos``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# EventType.java:13-26
OP_INSERT = 1
OP_DELETE = 2
OP_UPDATE = 3
OP_DDL = 5
OP_START = 6
OP_COMMIT = 7
OP_ROLLBACK = 36

_DML = [OP_INSERT, OP_DELETE, OP_UPDATE]

#: intra-commit sequence occupies the low bits of source.pos; one commit
#: group holds < 2^20 change rows per mining window. High-bit budget
#: (ADVICE r5): pos is a signed 64-bit long, so commit SCNs must stay
#: below 2^43. Under Spark's default ANSI mode a larger product does not
#: wrap — it raises ARITHMETIC_OVERFLOW and fails the whole batch — so
#: a row outside the budget (SCN outside [0, 2^43) or sequence >= 2^20)
#: gets a NULL pos instead, and the engine's validity split quarantines
#: it as a null offset while the rest of the batch applies. Oracle SCNs
#: are 48-bit quantities, so a deployment near that ceiling must widen
#: pos to decimal(38,0) (same exact-arithmetic move as packing.py's
#: prefix sums) before this source is usable there.
_SEQ_BITS = 20


def _payload(cols: list[str], prefix: str) -> Column:
    return F.struct(*[F.col(f"{prefix}_{c}").alias(c) for c in cols])


def redo_to_envelope(
    redo: DataFrame,
    payload_cols: list[str],
    db: str = "ORCLPDB1",
) -> DataFrame:
    """Redo-log rows → commit-ordered envelope rows.

    ``redo`` must carry ``scn`` (long, mining order), ``tx_id`` (string XID),
    ``event_type`` (int code), ``tbl`` (string table name), ``row_id``
    (string ROWID), ``rollback_flag`` (int — 1 marks a partial-rollback
    compensating row), ``ts_ms`` (long change time), plus before/after
    images as ``before_<c>`` / ``after_<c>`` for each payload column
    (LogMiner's SQL_REDO/SQL_UNDO parsed into columns; this sandbox's
    synthetic redo is already columnar so the DML parser is out of scope).

    Only DML of COMMITTED transactions is emitted; uncommitted transactions
    stay unemitted (they belong to a later mining window), rolled-back
    transactions and partial-rollback pairs vanish entirely.
    """
    commits = redo.filter(F.col("event_type") == OP_COMMIT).select(
        F.col("tx_id"), F.col("scn").alias("commit_scn")
    )

    dml = redo.filter(F.col("event_type").isin(_DML))

    # Partial rollback: within (tx, table, row_id) in SCN order, a DML row
    # is removed iff the NEXT row for the same row id carries ROLLBACK=1 —
    # and the compensating row itself is never an event.
    w = Window.partitionBy("tx_id", "tbl", "row_id").orderBy("scn")
    dml = (
        dml.withColumn("_next_rb", F.lead("rollback_flag").over(w))
        # null-safe on BOTH operands (review r5): a nullable rollback_flag
        # (null = normal row) must not three-value committed DML away.
        .filter(
            (F.coalesce(F.col("rollback_flag"), F.lit(0)) != 1)
            & (F.coalesce(F.col("_next_rb"), F.lit(0)) != 1)
        )
        .drop("_next_rb")
    )

    # Buffer-until-commit == inner join on committed transactions.
    out = dml.join(F.broadcast(commits), "tx_id", "inner")

    # Sequence within the COMMIT SCN, not the transaction: Oracle can
    # commit two transactions at the same SCN, and a per-tx sequence would
    # then collide in pos (both txs would emit commit_scn*2^20 + 1). One
    # commit group interleaves its transactions' events by (scn, tx_id) —
    # still commit-major, mining-order-minor, and pos stays unique as the
    # OFFSET-ORDER CONTRACT requires.
    seq = F.row_number().over(Window.partitionBy("commit_scn").orderBy("scn", "tx_id"))
    # The TRANSACTION block counts per transaction, not per commit group
    # (TransactionMonitor: total_order is the event's 1..N rank within its
    # own tx, data_collection_order within (tx, table)) — under group
    # commit the commit-SCN seq above would interleave two transactions'
    # counters (review r5). The tx_id window runs first so the (tx_id, tbl)
    # window reuses its exchange (subset clustering).
    tx_total = F.row_number().over(Window.partitionBy("tx_id").orderBy("scn"))
    tx_coll = F.row_number().over(Window.partitionBy("tx_id", "tbl").orderBy("scn"))
    op = (
        F.when(F.col("event_type") == OP_INSERT, "c")
        .when(F.col("event_type") == OP_DELETE, "d")
        .otherwise("u")
    )
    before = _payload(payload_cols, "before")
    after = _payload(payload_cols, "after")
    scn = F.col("commit_scn")
    pos = F.when(
        scn.between(0, (1 << 43) - 1) & (seq < 1 << _SEQ_BITS),
        scn * F.lit(1 << _SEQ_BITS) + seq,
    )

    return out.select(
        F.when(op != "c", before).alias("before"),
        F.when(op != "d", after).alias("after"),
        op.alias("op"),
        F.col("ts_ms"),
        F.struct(
            F.lit("redo").alias("file"),
            pos.alias("pos"),
            F.col("tx_id").alias("gtid"),
            F.lit(None).cast("string").alias("snapshot"),
            F.lit(db).alias("db"),
            F.col("tbl").alias("table"),
            F.col("ts_ms").alias("ts_ms"),
        ).alias("source"),
        # LogMiner is the one new source with real per-event tx metadata
        F.struct(
            F.col("tx_id").alias("id"),
            tx_total.cast("bigint").alias("total_order"),
            tx_coll.cast("bigint").alias("data_collection_order"),
        ).alias("transaction"),
        F.col("scn"),
        F.col("commit_scn"),
    )
