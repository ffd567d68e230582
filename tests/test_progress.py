"""Migration-progress reporting (the fork's 迁移进度上报 headline feature).

File mechanics, counter formulas and JSON field order are asserted against
the reference sources cited in ``streaming/progress.py``
(``BaseProcessCommitter.java``, ``BaseSourceProcessInfo.java:217-228``,
``MysqlSinkProcessInfo.java:89-102``, ``MysqlProcessCommitter.java:35-37``).
"""

from __future__ import annotations

import json
import os
import time

import pytest

from debezium_spark.streaming.progress import (
    CREATE_COUNT_INFO_NAME,
    ProcessCommitter,
    SinkProcessInfo,
    SourceProcessInfo,
    SINK_PREFIX,
    SOURCE_PREFIX,
)


# ---------------------------------------------------------------------------
# pure counter / serialization semantics (no Spark)
# ---------------------------------------------------------------------------


def test_source_json_field_order_matches_reference():
    info = SourceProcessInfo(
        createCount=100, skippedExcludeCount=5, convertCount=95, pollCount=90
    )
    line = info.to_json(timestamp_ms=1234, speed=7)
    # byte-order parity with BaseSourceProcessInfo.toString
    assert line == (
        '{"timestamp":1234,"createCount":100,"skippedExcludeCount":5,'
        '"convertCount":95,"pollCount":90,"speed":7,"rest":5}'
    )
    # rest = create - poll - skippedExclude (java:121-123)
    assert info.rest == 100 - 90 - 5


def test_sink_json_field_order_and_formulas_match_reference():
    info = SinkProcessInfo(
        extractCount=50, skippedExcludeEventCount=3, skippedCount=10,
        successCount=30, failCount=2,
    )
    # replayed = attempted = success + fail (the reference invariant)
    assert info.replayedCount == 32
    # rest = extract - replayed - skippedExclude - skipped (java:159)
    assert info.rest == 50 - 32 - 3 - 10
    # overallPipe = createCount - replayed - skipped - skippedExclude,
    # clamped at 0 (MysqlSinkProcessInfo.java:69-72)
    assert info.overall_pipe(100) == 100 - 32 - 10 - 3
    assert info.overall_pipe(1) == 0
    line = info.to_json(timestamp_ms=9, speed=4, overall_pipe=55)
    assert line == (
        '{"timestamp":9,"extractCount":50,"skippedExcludeEventCount":3,'
        '"skippedCount":10,"replayedCount":32,"successCount":30,'
        '"failCount":2,"speed":4,"rest":5,"overallPipe":55}'
    )
    # and it parses as one JSON object per line, like the reference's
    assert json.loads(line)["overallPipe"] == 55


def test_commit_writes_rotating_prefixed_files(tmp_path):
    c = ProcessCommitter(
        str(tmp_path), "sink", commit_time_interval=0, file_size_limit=0,
        file_count_limit=3,
    )
    # size limit 0 MB → every commit after the first rotates to a new file
    for i in range(6):
        c.record_sink_batch(extracted=10, success=10)
        time.sleep(0.01)  # distinct mtimes for the retention sweep
    files = [f for f in os.listdir(tmp_path) if f.startswith(SINK_PREFIX)]
    # retention keeps at most file_count_limit files, oldest deleted first
    assert 1 <= len(files) <= 3
    newest = max(
        (os.path.join(tmp_path, f) for f in files), key=os.path.getmtime
    )
    with open(newest) as f:
        last = json.loads(f.readlines()[-1])
    assert last["extractCount"] == 60 and last["successCount"] == 60
    assert last["rest"] == 0


def test_non_append_mode_keeps_single_latest_line(tmp_path):
    c = ProcessCommitter(
        str(tmp_path), "sink", commit_time_interval=0, append_write=False
    )
    c.record_sink_batch(extracted=5, success=5)
    c.record_sink_batch(extracted=5, success=5)
    cur = c.current_file()
    with open(cur) as f:
        lines = f.readlines()
    # overwrite mode: one (the newest) line only, like the reference
    assert len(lines) == 1
    assert json.loads(lines[0])["extractCount"] == 10


def test_rotation_within_one_second_respects_size_cap(tmp_path):
    """Second-resolution timestamps must not resolve two rotations in the
    same second back to the same (already-full) file (review r5)."""
    c = ProcessCommitter(
        str(tmp_path), "sink", commit_time_interval=0, file_size_limit=0,
        file_count_limit=100,
    )
    for _ in range(5):  # no sleeps: same wall-clock second on purpose
        c.record_sink_batch(extracted=1, success=1)
    files = [f for f in os.listdir(tmp_path) if f.startswith(SINK_PREFIX)]
    assert len(files) == 5  # every over-cap commit rotated to a NEW file


def test_retention_keeps_exactly_the_configured_count(tmp_path):
    """process.file.count.limit keeps AT MOST that many files — not one
    fewer (review r5 off-by-one)."""
    c = ProcessCommitter(
        str(tmp_path), "sink", commit_time_interval=0, file_size_limit=0,
        file_count_limit=3,
    )
    for _ in range(6):
        c.record_sink_batch(extracted=1, success=1)
        time.sleep(0.02)
    files = [f for f in os.listdir(tmp_path) if f.startswith(SINK_PREFIX)]
    assert len(files) == 3


def _counter_only_committer():
    c = ProcessCommitter.__new__(ProcessCommitter)  # counters only
    c.sink = SinkProcessInfo()
    c.source = SourceProcessInfo()
    c.commit_time_interval = 3600
    c._last_emit_ts = time.time()  # pace out file IO
    c._last_progress = 0
    c._parked = 0
    return c


def test_carry_rows_park_then_drain_exactly():
    """A deferred transaction's rows park (exact count from the fused
    probe) and surface as the reference's `rest` — in the pipe — then
    drain when they apply; genuine exclude drops are NEVER stolen by the
    drain (review r5: residual-inferred parking confounded the two)."""
    c = _counter_only_committer()
    # batch 0: 100 rows — 3 genuine SMT drops, 20-row open tail deferred
    c.record_sink_batch(extracted=100, success=77, deferred=20)
    assert c.sink.skippedExcludeEventCount == 3
    assert c.sink.rest == 20  # parked rows ARE the pipe
    # batch 1: 50 rows + the 20 carried apply, plus one PK-split (+1)
    c.record_sink_batch(extracted=50, success=71, drained_carry=True)
    assert c.sink.extractCount == 151  # 150 + the split expansion only
    assert c.sink.skippedExcludeEventCount == 3  # drops survive the drain
    assert c.sink.successCount == 148 and c.sink.rest == 0


def test_flush_settles_parked_rows():
    c = _counter_only_committer()
    c.record_sink_batch(extracted=30, success=0, deferred=30)
    assert c.sink.rest == 30
    c.record_sink_flush(success=30)
    assert c.sink.rest == 0 and c.sink.extractCount == 30
    assert c.sink.successCount == 30


def test_replay_books_exact_for_straddling_tx(spark, tmp_path):
    """End-to-end books with a transaction straddling two batch files and
    no collapses/splits: extract equals the true event count and nothing
    is attributed to excludes."""
    from pyspark.sql import functions as F

    from debezium_spark import CdcEngine, LakeTable

    env = spark.range(300).selectExpr(
        "CAST(NULL AS struct<repo: string, path: string, commit: string,"
        " lang: string, content: string>) AS before",
        "named_struct('repo', concat('r', id), 'path', concat('p', id),"
        " 'commit', 'c0', 'lang', 'py', 'content', concat('x', id)) AS after",
        "'c' AS op", "CAST(0 AS LONG) AS ts_ms",
        "named_struct('file', 'binlog.000001', 'pos', CAST(id AS LONG),"
        " 'gtid', CAST(NULL AS STRING), 'snapshot', CAST(NULL AS STRING),"
        " 'db', 'inventory', 'table', 'repo_files',"
        " 'ts_ms', CAST(0 AS LONG)) AS source",
        "named_struct('id', concat('t', CAST(CAST(id/100 AS LONG) AS STRING)),"
        " 'total_order', CAST(0 AS LONG),"
        " 'data_collection_order', CAST(0 AS LONG)) AS transaction",
    )
    bdir = tmp_path / "batches"
    env.where(F.col("source.pos") <= 150).write.parquet(
        str(bdir / "batch_00000.parquet"))  # ends mid-tx t1
    env.where(F.col("source.pos") > 150).write.parquet(
        str(bdir / "batch_00001.parquet"))
    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=4)
    c = ProcessCommitter(
        str(tmp_path / "progress"), "sink", commit_time_interval=0
    )
    CdcEngine(spark, table, committer=c).replay(str(bdir))
    assert c.sink.extractCount == 300
    assert c.sink.successCount == 300
    assert c.sink.skippedExcludeEventCount == 0
    assert c.sink.rest == 0
    # the terminal force-line carries the FINAL totals even under pacing
    cur = c.current_file()
    with open(cur) as f:
        last = json.loads(f.readlines()[-1])
    assert last["successCount"] == 300


def test_replay_emits_terminal_line_despite_pacing(spark, tmp_path):
    """Per-batch lines are paced by commit.time.interval; replay must
    force one terminal line so a fast replay's final totals reach the
    progress file (review r5)."""
    from debezium_spark import ChangeLogGenerator, CdcEngine, LakeTable

    gen = ChangeLogGenerator(spark, seed=3, n_repos=5)
    gen.write_batches(str(tmp_path / "binlog"), 400, n_batches=4)
    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=4)
    c = ProcessCommitter(
        str(tmp_path / "progress"), "sink", commit_time_interval=3600
    )
    CdcEngine(spark, table, committer=c).replay(str(tmp_path / "binlog"))
    with open(c.current_file()) as f:
        last = json.loads(f.readlines()[-1])
    assert last["extractCount"] == c.sink.extractCount  # totals, not batch 1
    assert last["extractCount"] >= 400


def test_commit_time_interval_paces_lines(tmp_path):
    c = ProcessCommitter(str(tmp_path), "sink", commit_time_interval=3600)
    c.record_sink_batch(extracted=1, success=1)
    assert c.commit() is None  # paced out
    line = c.commit(force=True)
    assert line is not None


def test_create_count_file_feeds_overall_pipe(tmp_path):
    src = ProcessCommitter(
        str(tmp_path), "source", commit_time_interval=0,
        create_count_info_path=str(tmp_path),
    )
    src.record_source_batch(created=100, skipped_exclude=10)
    # published as <millis>:<effective-count> (create - skippedExclude,
    # MysqlProcessCommitter.java:265) under start-event-index.txt
    with open(tmp_path / CREATE_COUNT_INFO_NAME) as f:
        ts, count = f.read().split(":")
    assert int(count) == 90 and int(ts) > 0
    snk = ProcessCommitter(
        str(tmp_path), "sink", commit_time_interval=0,
        create_count_info_path=str(tmp_path),
    )
    snk.record_sink_batch(extracted=40, success=40)
    line = json.loads(snk.commit(force=True))
    assert line["overallPipe"] == 90 - 40
    assert [f for f in os.listdir(tmp_path) if f.startswith(SOURCE_PREFIX)]


def test_missing_create_count_degrades_to_zero_pipe(tmp_path):
    snk = ProcessCommitter(str(tmp_path), "sink", commit_time_interval=0)
    snk.record_sink_batch(extracted=5, success=5)
    assert json.loads(snk.commit(force=True))["overallPipe"] == 0


def test_sink_books_invariant_under_arbitrary_sequences(tmp_path):
    """Property: for ANY sequence of batch/flush records with non-negative
    inputs, the books stay consistent — rest == the parked (deferred)
    pool at all times, every counter ≥ 0, replayed == success + fail.
    The park/drain/adjust logic has enough branches to be worth fuzzing."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    nn = st.integers(min_value=0, max_value=10**6)

    @given(st.lists(
        st.one_of(
            st.tuples(st.just("batch"), nn, nn, nn, nn, nn),
            st.tuples(st.just("flush"), nn, nn),
        ),
        max_size=30,
    ))
    @settings(max_examples=200, deadline=None)
    def run(seq):
        c = _counter_only_committer()
        for op in seq:
            if op[0] == "batch":
                _, e, s, f, k, d = op
                c.record_sink_batch(extracted=e, success=s, failed=f,
                                    skipped=k, deferred=d)
            else:
                _, s, f = op
                c.record_sink_flush(success=s, failed=f)
            assert c.sink.rest == c._parked >= 0
            assert c.sink.extractCount >= 0
            assert c.sink.skippedExcludeEventCount >= 0
            assert c.sink.skippedCount >= 0
            assert c.sink.replayedCount == c.sink.successCount + c.sink.failCount

    run()


def test_unknown_role_rejected(tmp_path):
    with pytest.raises(ValueError, match="role"):
        ProcessCommitter(str(tmp_path), "both")


# ---------------------------------------------------------------------------
# config wiring
# ---------------------------------------------------------------------------


def test_properties_wire_the_committer(tmp_path):
    from debezium_spark import EngineConfig

    cfg = EngineConfig.from_properties({
        "commit.process.while.running": "true",
        "sink.process.file.path": str(tmp_path / "progress"),
        "source.process.file.path": str(tmp_path / "progress"),
        "commit.time.interval": "2",
        "create.count.info.path": str(tmp_path / "progress"),
        "process.file.count.limit": "5",
        "process.file.time.limit": "24",
        "append.write": "false",
        "file.size.limit": "3",
    })
    snk = cfg.build_committer("sink")
    assert snk is not None and snk.commit_time_interval == 2
    assert snk.file_count_limit == 5 and snk.file_time_limit == 24
    assert snk.append_write is False and snk.file_size_limit == 3
    src = cfg.build_committer("source")
    assert src is not None and src.prefix == SOURCE_PREFIX
    # off by default: without the flag (or without a path) → None
    assert EngineConfig().build_committer("sink") is None
    assert EngineConfig.from_properties(
        {"commit.process.while.running": "true"}
    ).build_committer("sink") is None


# ---------------------------------------------------------------------------
# end-to-end: the replay loop feeds the committer
# ---------------------------------------------------------------------------


def test_replay_reports_progress_and_skips_on_rereplay(spark, tmp_path):
    from debezium_spark import ChangeLogGenerator, CdcEngine, LakeTable

    gen = ChangeLogGenerator(spark, seed=42, n_repos=10)
    gen.write_batches(str(tmp_path / "binlog"), 2000, n_batches=4)
    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=4)
    c = ProcessCommitter(
        str(tmp_path / "progress"), "sink", commit_time_interval=0,
        create_count_info_path=str(tmp_path / "progress"),
    )
    engine = CdcEngine(spark, table, committer=c)
    engine.replay(str(tmp_path / "binlog"))
    # extract ≥ the 2000 log events (PK-change updates expand to
    # delete+create sink-side; extract adjusts to the post-split count,
    # matching the reference source's pre-split emission)
    extracted1 = c.sink.extractCount
    assert extracted1 >= 2000
    # generator events are well-formed: everything replays, nothing fails
    assert c.sink.failCount == 0 and c.sink.skippedCount == 0
    assert c.sink.successCount > 0
    assert c.sink.rest == 0  # synchronous batch engine: pipe empty
    # a second replay of the same dir is fence-skipped — the breakpoint
    # skip shows up as skippedCount, and the table does not change
    engine2 = CdcEngine(spark, table, committer=c)
    assert engine2.replay(str(tmp_path / "binlog")) == []
    assert c.sink.skippedCount == 2000
    assert c.sink.extractCount == extracted1 + 2000
    assert c.sink.rest == 0
    line = json.loads(c.commit(force=True))
    assert line["replayedCount"] == line["successCount"] + line["failCount"]
    # files landed under the sink prefix
    assert [
        f for f in os.listdir(tmp_path / "progress")
        if f.startswith(SINK_PREFIX)
    ]


def _tx_events(spark):
    """300 generated events in transactions of 100 positions each (t0, t1,
    t2); seed 13 has 16 PK changes, 7 of them in t0."""
    from pyspark.sql import functions as F

    from debezium_spark import ChangeLogGenerator

    gen = ChangeLogGenerator(spark, seed=13, n_repos=6)
    return gen.events(300).withColumn(
        "transaction",
        F.struct(
            F.concat(F.lit("t"), (F.col("source.pos") / 100).cast("long")
                     .cast("string")).alias("id"),
            F.lit(0).cast("long").alias("total_order"),
            F.lit(0).cast("long").alias("data_collection_order"),
        ),
    )


def test_deferring_batch_books_pk_split_expansion_exactly(spark, tmp_path):
    """A batch that defers its open tail AND expands PK changes books the
    expansion as extracted rows: the parked pool keeps exactly the
    deferred rows (the expansion used to be taken out of it)."""
    from debezium_spark import CdcEngine, LakeTable

    env = _tx_events(spark)
    bdir = tmp_path / "b"
    env.where("source.pos < 150").write.parquet(str(bdir / "batch_00000.parquet"))
    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=4)
    c = ProcessCommitter(str(tmp_path / "progress"), "sink")
    CdcEngine(spark, table, committer=c).replay(str(bdir), final=False)
    # 100 closed rows (t0) apply as 107 (7 PK-change splits); t1's 50 defer
    applied = sum(e.get("events", 0) for e in table.lineage())
    assert applied == c.sink.successCount == 107
    assert c.sink.rest == c._parked == 50
    assert c.sink.extractCount == 157
    assert c.sink.skippedExcludeEventCount == 0


def test_stream_epochs_and_flush_report_with_balanced_books(spark, tmp_path):
    """Stream epochs book exactly like replayed files (the same batch
    step): the fused probe's row count is extracted, an epoch's open tail
    parks as ``rest`` until the epoch that closes it, and the flush drains
    the last carry — at the end extract == success == the events the table
    applied."""
    from debezium_spark import CdcEngine, LakeTable

    env = _tx_events(spark)
    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=4)
    c = ProcessCommitter(
        str(tmp_path / "progress"), "sink", commit_time_interval=0
    )
    engine = CdcEngine(spark, table, committer=c)
    # epoch 1 ends mid-tx t1 → its tail defers; epoch 2 closes t1 and
    # ends mid-tx t2; the flush drains the rest
    engine.apply_stream_batch(env.where("source.pos < 150"), "epoch-1")
    assert c.sink.rest == 50  # t1's rows so far, parked
    engine.apply_stream_batch(
        env.where("source.pos >= 150 AND source.pos < 250"), "epoch-2"
    )
    engine.apply_stream_batch(env.where("source.pos >= 250"), "epoch-3")
    engine.flush_tx_carry()
    assert c.sink.rest == 0 and c.sink.failCount == 0
    applied = sum(e.get("events", 0) for e in table.lineage())
    assert c.sink.extractCount == c.sink.successCount == applied == 316
    assert c.sink.skippedExcludeEventCount == 0


def test_multi_table_sink_reports_one_progress_stream(spark, tmp_path):
    """ONE committer for the whole multi-table sink (the reference
    connector's shape): extract counts every wire row, include-list drops
    (unregistered tables) land in skippedExcludeEventCount, a replayed
    batch's rows land in skippedCount, and the books stay balanced."""
    from pyspark.sql.types import StructType

    from debezium_spark.streaming.multi import (
        WIRE_SCHEMA,
        MultiTableEngine,
        TableSpec,
    )

    def row(pos, table, op, after):
        return {"before_json": None, "after_json": after, "op": op,
                "ts_ms": 1000 + pos,
                "source": {"file": "binlog.000001", "pos": pos, "gtid": None,
                           "snapshot": None, "db": "app", "table": table,
                           "ts_ms": 1000 + pos},
                "transaction": None}

    c = ProcessCommitter(
        str(tmp_path / "progress"), "sink", commit_time_interval=0
    )
    mte = MultiTableEngine(
        spark, str(tmp_path / "lake"),
        [TableSpec("app", "users", StructType.fromDDL("uid long, name string"),
                   ["uid"], n_buckets=2)],
        default_buckets=2, auto_register=False, committer=c,
    )
    batch = [
        row(1, "users", "c", '{"uid": 1, "name": "ada"}'),
        row(2, "users", "c", '{"uid": 2, "name": "bob"}'),
        row(3, "ghost", "c", '{"x": 9}'),  # unregistered → include-list drop
    ]
    wire = spark.createDataFrame(batch, WIRE_SCHEMA)
    mte.apply_wire_batch(wire, "b0")
    assert c.sink.extractCount == 3
    assert c.sink.successCount == 2
    assert c.sink.skippedExcludeEventCount == 1  # the ghost-table row
    assert c.sink.failCount == 0 and c.sink.rest == 0
    # replaying the same batch: per-table fence skips its rows
    mte.apply_wire_batch(wire, "b0-again")
    assert c.sink.extractCount == 6
    assert c.sink.successCount == 2
    assert c.sink.skippedCount == 2
    assert c.sink.skippedExcludeEventCount == 2
    assert c.sink.rest == 0
    line = json.loads(c.commit(force=True))
    assert line["replayedCount"] == 2 and line["rest"] == 0


def test_multi_flush_preserves_include_list_drop_counts(spark, tmp_path):
    """The multi pre-pass runs on the carry-STRIPPED batch, so deferred
    rows were never extract-counted — the flush must extract them fresh
    and NOT settle them out of genuine include-list drops (review r5)."""
    from pyspark.sql.types import StructType

    from debezium_spark.streaming.multi import (
        WIRE_SCHEMA,
        MultiTableEngine,
        TableSpec,
    )

    def row(pos, table, op, after, tx):
        return {"before_json": None, "after_json": after, "op": op,
                "ts_ms": pos,
                "source": {"file": "binlog.000001", "pos": pos, "gtid": None,
                           "snapshot": None, "db": "app", "table": table,
                           "ts_ms": pos},
                "transaction": {"id": tx, "total_order": 0,
                                "data_collection_order": 0}}

    c = ProcessCommitter(
        str(tmp_path / "progress"), "sink", commit_time_interval=0
    )
    mte = MultiTableEngine(
        spark, str(tmp_path / "lake"),
        [TableSpec("app", "users", StructType.fromDDL("uid long, name string"),
                   ["uid"], n_buckets=2)],
        default_buckets=2, auto_register=False, committer=c, tx_aligned=True,
    )
    # closed tx t0 (2 rows, one a ghost-table include-list drop) + an open
    # tail tx t1 (2 registered rows) that defers to the carry
    batch = [
        row(1, "users", "c", '{"uid": 1, "name": "ada"}', "t0"),
        row(2, "ghost", "c", '{"x": 9}', "t0"),
        row(3, "users", "c", '{"uid": 2, "name": "bob"}', "t1"),
        row(4, "users", "c", '{"uid": 3, "name": "cy"}', "t1"),
    ]
    mte.apply_wire_batch(spark.createDataFrame(batch, WIRE_SCHEMA), "b0")
    assert c.sink.extractCount == 2  # closed part only (t1 deferred)
    assert c.sink.skippedExcludeEventCount == 1  # the ghost row
    mte.flush_tx_carry()
    # the flushed rows extract for the FIRST time; the ghost drop count
    # survives untouched
    assert c.sink.extractCount == 4
    assert c.sink.successCount == 3
    assert c.sink.skippedExcludeEventCount == 1
    assert c.sink.rest == 0


def test_build_engine_with_explicit_committer_has_no_side_effects(spark, tmp_path):
    """Passing an explicit committer must not eagerly construct (and
    mkdir for) a second one from the properties (review r5: setdefault
    evaluated build_committer unconditionally)."""
    from debezium_spark import EngineConfig, LakeTable

    cfg = EngineConfig.from_properties({
        "commit.process.while.running": "true",
        "sink.process.file.path": str(tmp_path / "should_not_exist"),
    })
    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=2)
    mine = ProcessCommitter(str(tmp_path / "mine"), "sink")
    engine = cfg.build_engine(spark, table, committer=mine)
    assert engine.committer is mine
    assert not (tmp_path / "should_not_exist").exists()
    # and without one, the properties wire it in
    engine2 = cfg.build_engine(spark, table)
    assert engine2.committer is not None
    assert (tmp_path / "should_not_exist").exists()


def test_replay_counts_quarantined_rows_as_failed(spark, tmp_path):
    from pyspark.sql import functions as F

    from debezium_spark import ChangeLogGenerator, CdcEngine, LakeTable

    gen = ChangeLogGenerator(spark, seed=7, n_repos=5)
    env = gen.events(200)
    # poison 1 row: unknown op (quarantine reason) but valid offsets
    env = env.withColumn(
        "op",
        F.when(F.col("source.pos") == 5, F.lit("zz")).otherwise(F.col("op")),
    )
    env.write.parquet(str(tmp_path / "binlog" / "batch_00000.parquet"))
    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=4)
    c = ProcessCommitter(
        str(tmp_path / "progress"), "sink", commit_time_interval=0
    )
    engine = CdcEngine(spark, table, committer=c)
    engine.replay(str(tmp_path / "binlog"))
    assert c.sink.extractCount >= 200  # post-split count
    assert c.sink.failCount == 1  # the quarantined row
    assert c.sink.extractCount == c.sink.successCount + 1  # books balance
    assert c.sink.rest == 0
    assert engine.read_quarantine().count() == 1


def test_carry_drain_and_collapse_attribute_separately(tmp_path):
    """Final review r5: a batch that BOTH drains the previous parked carry
    AND collapses same-key events confounded the two in one residual —
    the parked pool stayed inflated forever and the collapse never hit
    skippedExcludeEventCount. With drained_carry explicit, each batch's
    attribution is exact."""
    c = ProcessCommitter(
        str(tmp_path), "sink", commit_time_interval=0, file_size_limit=0,
    )
    # batch 1: 10 extracted, 6 applied, 4-event open tail parks
    c.record_sink_batch(extracted=10, success=6, deferred=4)
    assert c._parked == 4
    # batch 2: 10 extracted, 2 defer; closed part = 4 carry + 8 new = 12
    # rows of which 3 collapse last-wins → 9 lineage rows
    c.record_sink_batch(
        extracted=10, success=9, deferred=2, drained_carry=True
    )
    assert c._parked == 2, "true open tail is 2 (was 5 under the residual heuristic)"
    assert c.sink.skippedExcludeEventCount == 3, "collapse must be attributed"
    # flush settles the remaining carry exactly
    c.record_sink_flush(success=2)
    assert c._parked == 0
    assert c.sink.extractCount == 20
    assert c.sink.successCount == 17
    # reference rest formula closes to zero: nothing left in the pipe
    assert c.sink.rest == 20 - 17 - 3 - 0
