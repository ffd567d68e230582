"""Sink replay: one batch of envelopes → ordered SQL statement streams.

The reference's sink tasks turn each polled batch into per-transaction
statement lists and apply them in source order
(``debezium-connector-mysql/sink/replay/transaction/TransactionReplayTask.java:347-420``
constructDml groups statements per gtid;
``TransactionDispatcher`` applies whole transactions in order; DDL events
interleave at their offsets via ``ReplayTask.constructDdl``). There is no
JDBC target in this engine, so the transport analog is an ordered statement
FILE stream — the same role the CSV slice files play for full migration.

Spark-first shape:

* statement TEXT is the narrow per-row map from :mod:`sqlgen` (DML) and the
  Arrow-batched control-plane translators (DDL) — no shuffle;
* a *channel* is one order-safe statement stream: a name, the wire rows it
  reads and the specs whose DML it carries. The reference's two replay
  modes are two channel layouts over one statement-row source
  (:func:`channel_statements`): table-parallel (``TableReplayTask``, its
  default and the config behind its published throughput number) has one
  channel per registered table over that table's rows; transaction-
  parallel (``TransactionReplayTask``) has one channel over the whole
  batch;
* ``begin;``/``commit;`` wrappers are O(transactions) rows produced by ONE
  partial aggregation over (channel, transaction id) — not a global
  window — so transactions wrap like the reference's whole-tx dispatch
  within each channel, and untagged rows stay autocommit;
* replay order is materialized exactly once, at the writer
  (:func:`write_statement_streams`), by a range repartition on (channel,
  offset) — part files are range-ordered, so a channel's concatenation IS
  its total order. Offset-range part files apply SEQUENTIALLY (two updates
  to one row may land in different ranges, so ranges are not mutually
  order-safe); order-safe PARALLEL apply comes from the table-parallel
  channels, one session each.
"""

from __future__ import annotations

import json
import os
from functools import reduce
from typing import Mapping, NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from debezium_spark.sink.ddl_translate import iter_translations
from debezium_spark.sink.metadata import TableMeta
from debezium_spark.sink.sqlgen import dml_statements

#: sub-position ordering inside one offset: tx BEGIN < statement < tx COMMIT
_SUB_BEGIN, _SUB_STMT, _SUB_COMMIT = 0, 1, 2

#: statement-row shape shared by the DML map, the DDL translator, and the
#: tx-wrapper rows — uniform so multi-table streams union cleanly.
_STMT_SCHEMA = "file string, pos long, sub int, seq int, stmt string, _tx string"


def _dml_stmt_rows(
    env_df: DataFrame, table: TableMeta, dialect: str
) -> DataFrame:
    """Typed-envelope DML rows → (file, pos, sub, seq, stmt, _tx)."""
    has_tx = "transaction" in env_df.columns
    tx_id = (
        F.col("transaction.id") if has_tx else F.lit(None).cast("string")
    )
    dml = dml_statements(env_df, table, dialect=dialect, extra={"_tx": tx_id})
    return dml.select(
        F.col("source.file").alias("file"),
        F.col("source.pos").alias("pos"),
        F.lit(_SUB_STMT).alias("sub"),
        F.lit(0).alias("seq"),
        F.col("sql").alias("stmt"),
        F.col("_tx"),
    )


def _ddl_stmt_rows(
    env_df: DataFrame, text_col, mapping: dict[str, str]
) -> DataFrame:
    """op='l' rows → translated DDL statement rows at their offset.

    ``seq`` orders a multi-statement translation (current_schema prelude
    before the DDL body, ReplayTask.constructDdl) within one offset."""
    ddl_rows = env_df.where(F.col("op") == "l").select(
        F.col("source.file").alias("file"),
        F.col("source.pos").alias("pos"),
        text_col.alias("ddl"),
        F.col("source.db").alias("db"),
        F.col("source.table").alias("tbl"),
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            out = {"file": [], "pos": [], "sub": [], "seq": [], "stmt": [], "_tx": []}
            for i, seq, s in iter_translations(
                pdf["ddl"], pdf["db"], pdf["tbl"], mapping
            ):
                out["file"].append(pdf["file"].iloc[i])
                out["pos"].append(pdf["pos"].iloc[i])
                out["sub"].append(_SUB_STMT)
                out["seq"].append(seq)
                # line-oriented transport: a multi-line source DDL must stay
                # one statement line; newline → space is SQL-whitespace-
                # preserving (known edge: a newline INSIDE a DDL string
                # literal, e.g. COMMENT '...', flattens to a space)
                out["stmt"].append(s.replace("\r\n", " ").replace("\n", " ").replace("\r", " "))
                out["_tx"].append(None)
            yield pd.DataFrame(out)

    return ddl_rows.mapInPandas(gen, _STMT_SCHEMA)


def _wrap_tx(stmts: DataFrame) -> DataFrame:
    """Add begin;/commit; rows at each transaction's first/last offset.

    ONE partial aggregation over (channel, transaction id) → two rows per
    transaction and channel, at any channel count. A transaction wraps
    once per channel it touches: once per table fragment in table-parallel
    mode, once in the transaction-parallel channel, which carries every
    table (whole-transaction dispatch, ``TransactionReplayTask.java``).
    A typed single-table stream has no channel column and groups by
    transaction alone."""
    by = [c for c in ("channel", "_tx") if c in stmts.columns]
    bounds = (
        stmts.where(F.col("_tx").isNotNull())
        .groupBy(*by)
        .agg(
            F.min(F.struct("file", "pos")).alias("lo"),
            F.max(F.struct("file", "pos")).alias("hi"),
        )
    )

    def edge(end: str, sub: int, stmt: str) -> DataFrame:
        return bounds.select(
            *by[:-1], F.col(f"{end}.file").alias("file"),
            F.col(f"{end}.pos").alias("pos"),
            F.lit(sub).alias("sub"), F.lit(0).alias("seq"),
            F.lit(stmt).alias("stmt"), F.col("_tx"),
        )

    return (
        stmts.unionByName(edge("lo", _SUB_BEGIN, "begin;"))
        .unionByName(edge("hi", _SUB_COMMIT, "commit;"))
        .drop("_tx")
    )


def statement_stream(
    env_df: DataFrame,
    table: TableMeta,
    schema_mapping: Mapping[str, str] | None = None,
    dialect: str = "opengauss",
) -> DataFrame:
    """Envelope batch → (file, pos, sub, seq, stmt) statement rows.

    DML rows come from :func:`sqlgen.dml_statements`; DDL rows (op ``l``)
    translate through :func:`ddl_translate.translate_ddl` at their stream
    offset (``seq`` orders the prelude before the DDL); transaction-tagged
    rows gain ``begin;``/``commit;`` wrappers at the transaction's first and
    last offset. Sorting by (file, pos, sub, seq) reproduces the reference's
    apply order; the sort itself happens at the writer.
    """
    mapping = dict(schema_mapping or {})
    env_df = env_df.select(
        "op", "before", "after", "source",
        *(["transaction"] if "transaction" in env_df.columns else []),
        *(["_ddl_text"] if "_ddl_text" in env_df.columns else []),
    )

    stmts = _dml_stmt_rows(env_df, table, dialect)
    # DDL rows: text rides `_ddl_text` on the wire path, else after.content
    # (streaming/engine.py barrier extraction uses the same two sources).
    # A payload schema without a content field can't carry DDL text — fall
    # back to null, which iter_translations skips, instead of failing plan
    # analysis on a missing struct field for batches with zero op='l' rows.
    after_fields = {f.name for f in env_df.schema["after"].dataType.fields}
    if "_ddl_text" in env_df.columns:
        text_col = F.col("_ddl_text")
    elif "content" in after_fields:
        text_col = F.col("after.content")
    else:
        text_col = F.lit(None).cast("string")
    ddl_stmts = _ddl_stmt_rows(env_df, text_col, mapping)
    return _wrap_tx(stmts.unionByName(ddl_stmts))


class _Channel(NamedTuple):
    """One order-safe statement stream: its name (the ``channel`` value and
    its directory under the writer's root), the filter picking its wire
    rows (None: the whole batch) and the specs whose DML it carries."""

    name: str
    rows: Column | None
    specs: tuple


def _channels(specs, tx_parallel: bool) -> dict[tuple[str, str], _Channel]:
    """The replay mode's channels, keyed as the writer reports them.

    Transaction-parallel (``provide.transaction.metadata=true``): one
    channel ``all``, keyed ``("", "")``, over the whole batch and carrying
    every spec — DDL for any table translates once and a cross-table
    transaction wraps once. Table-parallel (the default): one channel
    ``db.table`` per registered table over that table's rows, in key
    order — DDL routes to its own table's channel, and a transaction
    touching several tables is re-wrapped per fragment, exactly like the
    reference (``TableReplayTask.java``, one work thread per table).
    DML of unregistered tables is dropped (include-list semantics,
    ``relational/Selectors.java``); so is their DDL in table-parallel mode,
    while the transaction-parallel channel translates DDL for any table
    (the reference forwards DDL for the include list's databases)."""
    if tx_parallel:
        return {("", ""): _Channel("all", None, tuple(specs))}
    by_key = {(s.db, s.table): s for s in specs}
    return {
        k: _Channel(
            f"{k[0]}.{k[1]}",
            (F.col("source.db") == k[0]) & (F.col("source.table") == k[1]),
            (by_key[k],),
        )
        for k in sorted(by_key)
    }


def _spec_dml_rows(
    wire_df: DataFrame, spec, mapping: dict, dialect: str, metas: dict
) -> DataFrame:
    """One registered TableSpec's wire rows → its DML statement rows: its
    own ``from_json`` parse and its own pure-Catalyst statement map, so a
    channel's plan is a union of per-table narrow maps — no shuffle, no
    Python on the DML path. ``metas`` overrides the derived
    :class:`TableMeta` where target types differ from what the Spark
    schema implies (information_schema facts: json/enum/point columns)."""
    from debezium_spark.sink.metadata import table_meta_from_schema
    from debezium_spark.streaming.multi import wire_to_envelope

    meta = metas.get((spec.db, spec.table)) or table_meta_from_schema(
        mapping.get(spec.db, spec.db),
        spec.table,
        spec.payload_schema,
        spec.key_cols,
        dialect=dialect,
    )
    rows = wire_df.where(
        (F.col("source.db") == spec.db)
        & (F.col("source.table") == spec.table)
        & F.col("op").isin("c", "u", "d")
    )
    env = wire_to_envelope(rows, spec.payload_schema)
    return _dml_stmt_rows(env, meta, dialect)


def _wire_ddl_rows(wire_df: DataFrame, mapping: dict) -> DataFrame:
    """Wire-format op='l' rows → translated DDL statement rows (DDL text
    rides ``after_json``'s ``content`` field on the wire path)."""
    return _ddl_stmt_rows(
        wire_df.select(
            "op", "source",
            F.get_json_object(F.col("after_json"), "$.content").alias("_ddl"),
        ),
        F.col("_ddl"),
        mapping,
    )


def _channel_rows(
    wire_df: DataFrame, channels, schema_mapping, dialect: str, metas
) -> DataFrame:
    """Every wire batch's statement rows come from here: for each channel,
    the DML of each of its specs plus the DDL over its rows, tagged with
    its name, then every channel's transactions wrapped in one
    aggregation."""
    mapping = dict(schema_mapping or {})
    metas = dict(metas or {})

    def part(ch: _Channel) -> DataFrame:
        rows = wire_df if ch.rows is None else wire_df.where(ch.rows)
        stmts = [_spec_dml_rows(rows, s, mapping, dialect, metas) for s in ch.specs]
        return reduce(
            DataFrame.unionByName, [*stmts, _wire_ddl_rows(rows, mapping)]
        ).select(F.lit(ch.name).alias("channel"), "*")

    return _wrap_tx(reduce(DataFrame.unionByName, map(part, channels)))


def channel_statements(
    wire_df: DataFrame,
    specs,
    schema_mapping: Mapping[str, str] | None = None,
    dialect: str = "opengauss",
    metas: Mapping[tuple[str, str], TableMeta] | None = None,
    tx_parallel: bool = False,
) -> DataFrame:
    """Mixed-table WIRE batch → ``(channel, file, pos, sub, seq, stmt)``
    statement rows for either replay mode (see :func:`_channels`).

    The reference sink routes replay by fully-qualified table name
    (``sink/replay/table/TableReplayTask.java:401-426``); ``specs`` is the
    engine's own registry (:class:`debezium_spark.streaming.multi.TableSpec`
    — db, table, payload_schema, key_cols). Sorting one channel's rows by
    (file, pos, sub, seq) reproduces the reference's apply order; the sort
    itself happens at the writer (:func:`write_statement_streams`)."""
    return _channel_rows(
        wire_df, _channels(specs, tx_parallel).values(), schema_mapping,
        dialect, metas,
    )


def write_statement_streams(
    wire_df: DataFrame,
    specs,
    out_root: str,
    batch_id: int,
    schema_mapping: Mapping[str, str] | None = None,
    dialect: str = "opengauss",
    metas: Mapping[tuple[str, str], TableMeta] | None = None,
    files_per_channel: int = 1,
    tx_parallel: bool = False,
) -> dict[tuple[str, str], int]:
    """Write one wire batch's statements for every channel of the replay
    mode with O(1) Spark jobs, under ``<out_root>/<channel>/batch-NNNNNN/``
    (``db.table`` per table, or ``all`` in transaction-parallel mode).

    Returns ``{key: statement_count}`` keyed ``(db, table)``, or ``("",
    "")`` for the transaction-parallel channel (0 for skipped
    redeliveries). See :func:`_write_channels` for the write itself."""
    channels = _channels(specs, tx_parallel)
    return _write_channels(
        lambda keys: _channel_rows(
            wire_df, [channels[k] for k in keys], schema_mapping, dialect,
            metas,
        ),
        {k: ch.name for k, ch in channels.items()},
        out_root, batch_id, files_per_channel,
    )


def write_statement_stream(
    stmt_df: DataFrame, out_dir: str, batch_id: int, files_per_channel: int = 1
) -> int:
    """Write one statement stream (:func:`statement_stream`) as
    ``<out_dir>/batch-NNNNNN/`` — the writer's one-channel call: the
    channel is ``out_dir``'s last path component under its parent.

    Returns the statement count (0 for a skipped redelivery)."""
    out_root, name = os.path.split(os.path.normpath(out_dir))
    return _write_channels(
        lambda _: stmt_df.select(F.lit(name).alias("channel"), "*"),
        {name: name}, out_root, batch_id, files_per_channel,
    )[name]


def _write_channels(
    build, names: dict, out_root: str, batch_id: int, files_per_channel: int
) -> dict:
    """THE statement writer: every pending channel's range-ordered part
    files in ONE write action, then one ``_done`` receipt per channel.

    ``names`` maps each channel key to its name; ``build(keys)`` returns
    the listed channels' statement rows, tagged by a ``channel`` column.
    A channel whose receipt already exists is EXCLUDED from the job
    (idempotent redelivery per channel — the statement-file analog of the
    offset fence, JdbcDbWriter's breakpoint table). The rows are
    range-partitioned by (channel, offset) and ONE dynamic-partitioned text
    write emits every channel's part files; its injected sort is satisfied
    by the explicit (channel, offset) sort, so each channel's part files
    are range-ordered and their concatenation is its total replay order.
    Per-channel statement counts and the one-statement-per-line guard ride
    the write as O(channels) fixed-width conditional sums on one
    Observation. An empty channel gets an empty directory with a
    0-statement receipt.

    Looping a per-channel writer instead would cost jobs LINEAR in the
    channel count — one write action plus one AQE stage materialization
    per channel's tx-wrapper aggregation; at the reference's 50-table
    config that is ~100 serially planned and scheduled jobs per batch.

    Returns ``{key: statement_count}`` (0 for skipped redeliveries)."""
    from pyspark.sql import Observation

    batch_name = f"batch-{batch_id:06d}"
    pending = [
        k for k in names
        if not os.path.exists(
            os.path.join(out_root, names[k], batch_name, "_done")
        )
    ]
    counts = {k: 0 for k in names}
    if not pending:
        return counts
    union = build(pending)

    obs = Observation(f"stmt-streams-{batch_id}")
    metrics = [
        F.sum(
            F.when(F.col("channel") == names[k], 1).otherwise(0)
        ).alias(f"n_{i}")
        for i, k in enumerate(pending)
    ]
    metrics.append(
        # transport invariant: one statement per line. The literal/DDL
        # escape rules (sqlgen, _ddl_stmt_rows) make this structural; this
        # guard rides the SAME observation (no extra job) and fails loudly
        # if a future statement source regresses it.
        F.sum(
            F.when(F.col("stmt").rlike("[\\n\\r]"), 1).otherwise(0)
        ).alias("multiline")
    )
    n_parts = max(len(pending) * files_per_channel, 1)
    ordered = (
        union.repartitionByRange(
            n_parts, "channel", "file", "pos", "sub", "seq"
        )
        .sortWithinPartitions("channel", "file", "pos", "sub", "seq")
        .observe(obs, *metrics)
        .select("channel", "stmt")
    )
    tmp_root = os.path.join(out_root, f"_tmp-{batch_name}")
    ordered.write.mode("overwrite").partitionBy("channel").text(tmp_root)
    vals = obs.get
    if int(vals["multiline"] or 0):
        raise ValueError(
            f"statement stream batch {batch_id}: {int(vals['multiline'])} "
            "statement(s) contain raw newlines and would split across "
            "part-file lines — NO channel is committed (_done withheld)"
        )
    import shutil as _shutil
    from urllib.parse import unquote as _unquote

    # Spark percent-escapes special characters in dynamic-partition path
    # values (Hive escapePathName: a channel 'db:1.t' lands as
    # 'channel=db%3A1.t'), so the output dir CANNOT be looked up by the
    # raw channel string — an escaped channel would be misread as empty,
    # its receipt written with the nonzero observed count, and the real
    # part files deleted with tmp_root (final review r5). List the actual
    # dirs and decode: Spark's escaping is %XX per escaped byte with '%'
    # itself escaped, so unquote is a faithful inverse.
    part_dirs: dict[str, str] = {}
    if os.path.isdir(tmp_root):
        for name in os.listdir(tmp_root):
            if name.startswith("channel="):
                part_dirs[_unquote(name[len("channel="):])] = name

    for i, k in enumerate(pending):
        counts[k] = int(vals[f"n_{i}"] or 0)
        dst = os.path.join(out_root, names[k], batch_name)
        if os.path.exists(dst):  # partial leftovers from a crashed write
            _shutil.rmtree(dst)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        src_name = part_dirs.get(names[k])
        if src_name is not None:
            os.replace(os.path.join(tmp_root, src_name), dst)
        elif counts[k]:
            # statements were observed but no partition dir exists — a
            # receipt here would lie and the statements would be lost;
            # withhold _done so the batch is retried, and keep tmp_root
            # for inspection
            raise RuntimeError(
                f"statement stream batch {batch_id}: channel {names[k]!r} "
                f"observed {counts[k]} statement(s) but no partition "
                f"directory was written under {tmp_root!r} — receipt "
                "withheld"
            )
        else:  # empty channel: no rows, still a committed (empty) batch
            os.makedirs(dst)
        tmp = os.path.join(dst, "_done.tmp")
        with open(tmp, "w") as f:
            json.dump({"batch_id": batch_id, "statements": counts[k]}, f)
        os.replace(tmp, os.path.join(dst, "_done"))
    _shutil.rmtree(tmp_root, ignore_errors=True)
    return counts


def _iter_batch_lines(batch_dir: str):
    """One committed batch directory → its statement lines in replay order.

    Part files are range-ordered by the writer (``write_statement_stream``),
    so reading them in filename order IS the total order."""
    parts = sorted(
        p for p in os.listdir(batch_dir)
        if p.startswith("part-") and not p.endswith(".crc")
    )
    for p in parts:
        with open(os.path.join(batch_dir, p), encoding="utf-8") as f:
            for line in f:
                line = line.rstrip("\n")
                if line:
                    yield line


def _units(lines):
    """Statement lines → apply units: ``(body, explicit_tx)``, lazily.

    ``begin;`` … ``commit;`` spans group into one unit (body excludes the
    wrappers — the reference's ``txn.getSqlList()`` likewise carries only
    the statements, ``WorkThread.java:148-156`` re-issues BEGIN/COMMIT at
    apply time); everything else is a single-statement autocommit unit. An
    unterminated ``begin;`` is a corrupt stream and raises — the writer
    computes both transaction bounds inside the batch, so a missing
    ``commit;`` can only mean truncated part files. A generator so a large
    batch streams: only one transaction's body is ever held in memory."""
    body: list[str] | None = None
    for line in lines:
        if line == "begin;":
            if body is not None:
                raise ValueError("corrupt statement stream: nested begin;")
            body = []
        elif line == "commit;":
            if body is None:
                raise ValueError("corrupt statement stream: commit; without begin;")
            yield body, True
            body = None
        elif body is not None:
            body.append(line)
        else:
            yield [line], False
    if body is not None:
        raise ValueError(
            "corrupt statement stream: begin; without a matching commit; "
            "(truncated part files?)"
        )


def apply_statement_stream(
    batch_dir: str,
    execute,
    fail_sql_path: str | None = None,
    locator: str | None = None,
    now=None,
    progress_every: int = 1,
    require_receipt: bool = True,
    breakpoint_table: str | None = None,
) -> tuple[int, int]:
    """Apply one written batch's ordered statements through ``execute``.

    The reference's sink apply loop
    (``sink/replay/transaction/WorkThread.java:148-216``
    ``replayTransaction``/``executeTxnSql``): each transaction applies
    whole — BEGIN, statements, COMMIT; the first failing statement stops
    the transaction, rolls it back, and diverts the WHOLE transaction to a
    fail-SQL file (``fail.sql.path``, ``README.md:321``) as a timestamped
    comment block + the statements, then replay continues with the next
    transaction. Success/failure are counted per transaction — the
    ``successCount``/``failCount`` pair the progress report publishes
    (feed them to ``ProcessCommitter.record_sink_batch``).

    ``execute`` is any ``Callable[[str], None]`` that runs one SQL
    statement on the target session (a DB-API cursor's ``execute``, a JDBC
    bridge, DuckDB in the tests) and raises on failure. The session must be
    transaction-free at entry — after a crash, resume with a FRESH
    connection (the reference's work thread likewise reconnects): the
    database discards the crashed unit's uncommitted prefix, and a reused
    session stuck inside the dead transaction would poison every
    subsequent unit. Statements within
    one call share one session, sequentially — parallelism comes from
    applying different TABLES' batch directories on different sessions
    (the table-parallel channels of :func:`write_statement_streams`),
    exactly the reference's per-table work threads; this function is one
    ordered channel.

    Idempotent on redelivery: a batch directory already applied (its
    ``_applied`` marker exists) is skipped and the recorded counts are
    returned — the breakpoint-table analog (``BreakPointRecord.java``), so
    a crash between apply and the caller's own fence never double-applies.
    Within a batch, a ``_progress`` breakpoint persists after every
    ``progress_every`` applied units (default: every unit, the reference's
    per-transaction breakpoint cadence), so a crash MID-batch resumes at
    the first unapplied unit instead of re-executing the whole prefix —
    without it, re-applied plain INSERTs would collide on their PKs and
    divert already-committed transactions to fail.sql. The re-apply window
    on crash is at most ``progress_every`` units (raise it to trade that
    window for fewer marker writes on huge batches). Honest limitation of
    the FILE breakpoint: it is not atomic with the database commit — a
    crash between a unit's ``commit;`` and the breakpoint write re-applies
    that unit on resume, and where PK-keyed DML re-raises visibly (the
    diverted-to-fail.sql case above), a non-idempotent statement on a
    PK-less target (``update t set n = n + 1``, bare INSERT) duplicates
    silently.

    ``breakpoint_table`` closes that window the way the reference does
    (``BreakPointRecord.java`` — the breakpoint row commits INSIDE the
    target database in the same transaction): pass a table name (created
    ``if not exists`` with columns ``batch varchar, unit bigint, ok int``)
    and every unit — autocommit units are upgraded to explicit
    transactions — commits its own ``(batch, unit, 1)`` marker row
    atomically with its statements; diverted units record ``(batch, unit,
    0)`` in their own autocommit after the rollback. On (re)entry the
    resume point and the success/fail counts are reconstructed FROM the
    database, so exactly-once holds across any crash point, including for
    non-idempotent DML. Requires ``execute`` to return a DB-API-style
    result (``fetchone``) for SELECTs — cursors and DuckDB connections
    both do. The file ``_progress`` is still written as a cheap
    observability mirror but the database is authoritative.

    The writer's ``_done`` receipt is required BEFORE anything executes
    (``require_receipt=False`` opts out, for hand-built statement
    directories): a directory without it was never committed — a crash
    mid-write, or the multiline invariant guard withheld it — so applying
    it could execute split statement fragments. When the receipt is
    present, the part files' line count is verified against its recorded
    statement count up front, also before anything executes; a mismatch
    means lost or truncated part files — and because the check runs
    BEFORE the apply loop, a missing MIDDLE part file can never cause
    post-gap statements to execute out of order or the positional
    ``_progress`` index to fence the wrong units. This catches truncation
    at unit boundaries that the unterminated-``begin;`` check cannot see.

    If the rollback itself fails the session is in an unknown state and the
    error propagates (the reference's dead-connection path likewise stops
    the thread, ``WorkThread.java:196-204``).

    Returns ``(success_count, fail_count)`` in transaction units.
    """
    import datetime as _dt

    marker = os.path.join(batch_dir, "_applied")
    if os.path.exists(marker):
        with open(marker, encoding="utf-8") as f:
            rec = json.load(f)
        return rec["success"], rec["fail"]
    if fail_sql_path is None:
        fail_sql_path = os.path.join(
            os.path.dirname(os.path.abspath(batch_dir)), "fail.sql"
        )
    if now is None:
        now = lambda: _dt.datetime.now().strftime("%Y-%m-%d %H:%M:%S")
    where = locator or batch_dir

    expected = None
    done = os.path.join(batch_dir, "_done")
    if os.path.exists(done):
        with open(done, encoding="utf-8") as f:
            expected = json.load(f).get("statements")
    elif require_receipt:
        raise ValueError(
            f"batch at {batch_dir} has no _done receipt — the writer never "
            "committed it (crash mid-write, or the one-statement-per-line "
            "guard withheld it); refusing to apply possibly-partial part "
            "files (pass require_receipt=False for hand-built directories)"
        )
    if expected is not None:
        # verify BEFORE anything executes: a lost part file (tail OR middle)
        # must not let post-gap statements run out of order, nor let the
        # positional _progress index fence the wrong units
        actual = sum(1 for _ in _iter_batch_lines(batch_dir))
        if actual != expected:
            raise ValueError(
                f"statement stream batch at {batch_dir}: part files carry "
                f"{actual} statement line(s) but the _done receipt records "
                f"{expected} — lost or truncated part files; nothing was "
                "applied this call (_applied withheld)"
            )

    batch_key = (locator or os.path.basename(batch_dir)).replace("'", "''")

    progress = os.path.join(batch_dir, "_progress")
    start_unit = 0
    success = fail = 0
    if breakpoint_table is not None:
        # the reference's posture: the breakpoint lives in the target, so
        # resume state survives any crash point exactly (BreakPointRecord)
        execute(
            f"create table if not exists {breakpoint_table} "
            "(batch varchar, unit bigint, ok int)"
        )
        row = execute(
            f"select max(unit), "
            f"coalesce(sum(case when ok = 1 then 1 else 0 end), 0), "
            f"coalesce(sum(case when ok = 0 then 1 else 0 end), 0) "
            f"from {breakpoint_table} where batch = '{batch_key}'"
        ).fetchone()
        if row is not None and row[0] is not None:
            start_unit, success, fail = int(row[0]) + 1, int(row[1]), int(row[2])
    elif os.path.exists(progress):
        with open(progress, encoding="utf-8") as f:
            rec = json.load(f)
        start_unit, success, fail = rec["next_unit"], rec["success"], rec["fail"]

    def _mark(i: int, ok: int) -> str:
        return (
            f"insert into {breakpoint_table} values ('{batch_key}', {i}, {ok});"
        )

    def _save_progress(next_unit: int) -> None:
        tmp = progress + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(
                {"next_unit": next_unit, "success": success, "fail": fail}, f
            )
        os.replace(tmp, progress)

    for i, (body, explicit) in enumerate(_units(_iter_batch_lines(batch_dir))):
        if i < start_unit:  # breakpoint-resume: already applied pre-crash
            continue
        err = None
        if explicit or breakpoint_table is not None:
            # with a breakpoint table even autocommit units run as explicit
            # transactions so the marker row commits atomically with them
            began = False
            try:
                execute("begin;")
                began = True
                for stmt in body:
                    execute(stmt)
                if breakpoint_table is not None:
                    execute(_mark(i, 1))
                execute("commit;")
            except Exception as e:
                err = e
                if began:  # a failed begin; left no transaction to roll back
                    execute("rollback;")  # propagation on failure is deliberate
        else:
            try:
                execute(body[0])
            except Exception as e:
                err = e
        if err is None:
            success += 1
        else:
            fail += 1
            block = [
                f"-- {now()}: {where} unit {i} ({len(body)} statements)",
                f"-- {err}",
                *body,
                "",
            ]
            with open(fail_sql_path, "a", encoding="utf-8") as f:
                f.write("\n".join(block) + "\n")
            if breakpoint_table is not None:
                # the diverted unit is PROCESSED: record it (own autocommit,
                # after the rollback) so resume never re-diverts it
                execute(_mark(i, 0))
        if (i + 1 - start_unit) % progress_every == 0:
            _save_progress(i + 1)
    tmp = marker + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump({"success": success, "fail": fail}, f)
    os.replace(tmp, marker)
    if os.path.exists(progress):
        os.remove(progress)
    return success, fail
