"""Transaction-aligned batch segmentation: a transaction straddling two
batch files must never commit as two fenced commits (reference applies
whole transactions — TransactionReplayTask.java; the fork's parse patch
switches queues only on XID boundaries)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from debezium_spark import CdcEngine, LakeTable

ENV_DDL = (
    "before struct<repo:string,path:string,content:string>, "
    "after struct<repo:string,path:string,content:string>, "
    "op string, ts_ms long, "
    "source struct<file:string,pos:bigint,gtid:string,snapshot:string,"
    "db:string,table:string,ts_ms:bigint>, "
    "transaction struct<id:string,total_order:bigint,data_collection_order:bigint>"
)


def _env(spark, rows):
    """rows: (pos, op, path, content, tx_id|None)."""
    data = []
    for pos, op, path, content, tx in rows:
        pay = {"repo": "r0", "path": path, "content": content}
        data.append({
            "before": pay if op in ("u", "d") else None,
            "after": pay if op != "d" else None,
            "op": op,
            "ts_ms": 1000 + pos,
            "source": {"file": "binlog.000001", "pos": pos, "gtid": None,
                       "snapshot": None, "db": "app", "table": "t",
                       "ts_ms": 1000 + pos},
            "transaction": None if tx is None else
                {"id": tx, "total_order": pos, "data_collection_order": pos},
        })
    return spark.createDataFrame(data, ENV_DDL)


def _write_batch(spark, d, i, rows):
    _env(spark, rows).write.mode("overwrite").parquet(
        os.path.join(d, f"batch_{i:05d}.parquet")
    )


def test_straddling_transaction_never_commits_partially(spark, tmp_path):
    bdir = str(tmp_path / "b")
    os.makedirs(bdir)
    # tx1 = pos 1-3 (closed in batch0); tx2 = pos 4-7 (straddles batches)
    _write_batch(spark, bdir, 0, [
        (1, "c", "a", "v1", "tx1"),
        (2, "c", "b", "v1", "tx1"),
        (3, "c", "c", "v1", "tx1"),
        (4, "c", "d", "v1", "tx2"),
        (5, "u", "a", "v2", "tx2"),
    ])
    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=2)
    engine = CdcEngine(spark, table)

    # crash point: only batch0 exists and the caller has NOT declared the
    # log final — tx2 must be entirely deferred
    engine.replay(bdir, final=False)
    state = {r["path"]: r["content"] for r in table.read().collect()}
    assert state == {"a": "v1", "b": "v1", "c": "v1"}  # no partial tx2
    assert table.fence() == ("binlog.000001", 3)

    # batch1 arrives with tx2's end (+ tx3, itself the new open tail)
    _write_batch(spark, bdir, 1, [
        (6, "u", "b", "v2", "tx2"),
        (7, "d", "c", None, "tx2"),
        (8, "c", "e", "v1", "tx3"),
        (9, "u", "e", "v2", "tx3"),
    ])
    engine.replay(bdir)  # log complete (default final): tx3 flushes at the end
    state = {r["path"]: r["content"] for r in table.read().collect()}
    assert state == {"a": "v2", "b": "v2", "d": "v1", "e": "v2"}
    assert table.fence() == ("binlog.000001", 9)

    # idempotent re-replay
    assert engine.replay(bdir) == []
    assert {r["path"]: r["content"] for r in table.read().collect()} == state


def test_whole_batch_single_open_tx_defers_until_closed(spark, tmp_path):
    bdir = str(tmp_path / "b")
    os.makedirs(bdir)
    _write_batch(spark, bdir, 0, [
        (1, "c", "a", "v1", "big"),
        (2, "c", "b", "v1", "big"),
    ])
    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=2)
    engine = CdcEngine(spark, table)
    engine.replay(bdir, final=False)
    # not final: the lone open transaction stays deferred
    assert table.read().count() == 0 and table.fence() is None
    engine.flush_tx_carry()
    assert table.read().count() == 2
    assert table.fence() == ("binlog.000001", 2)


def test_null_tx_rows_are_autocommit_and_never_deferred(spark, tmp_path):
    bdir = str(tmp_path / "b")
    os.makedirs(bdir)
    _write_batch(spark, bdir, 0, [
        (1, "c", "a", "v1", None),
        (2, "c", "b", "v1", None),
    ])
    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=2)
    engine = CdcEngine(spark, table)
    engine.replay(bdir)
    assert table.read().count() == 2
    assert table.fence() == ("binlog.000001", 2)


def test_null_pos_rows_survive_tx_split_into_quarantine(spark, tmp_path):
    """Review regression: a null-pos poison row in a tx-bearing batch fell
    through BOTH sides of the split (pos<=b and pos>b are NULL for it) and
    vanished before any validity probe."""
    import json
    from pyspark.sql.types import StructType
    from debezium_spark.operators.quarantine import read_quarantine
    from debezium_spark.streaming.multi import (
        MultiTableEngine, TableSpec, WIRE_SCHEMA,
    )

    nullable_wire = StructType.fromJson(
        json.loads(
            json.dumps(WIRE_SCHEMA.jsonValue()).replace('"nullable": false', '"nullable": true')
        )
    )
    spec = TableSpec("app", "t", StructType.fromDDL("k long, v string"), ["k"],
                     n_buckets=2)
    mte = MultiTableEngine(spark, str(tmp_path / "lake"), [spec])

    def row(pos, k, tx):
        return {
            "before_json": None, "after_json": f'{{"k": {k}, "v": "x"}}',
            "op": "c", "ts_ms": 0,
            "source": {"file": "f", "pos": pos, "gtid": None, "snapshot": None,
                       "db": "app", "table": "t", "ts_ms": 0},
            "transaction": None if tx is None else
                {"id": tx, "total_order": 0, "data_collection_order": 0},
        }

    wire = spark.createDataFrame(
        [row(1, 1, "tx1"), row(2, 2, "tx2"), row(None, 9, None)], nullable_wire
    )
    mte.apply_wire_batch(wire, "b0")  # tx2 deferred; poison row must land
    q = read_quarantine(spark, mte.table("app", "t").root)
    assert q.count() == 1
    assert {r["k"] for r in mte.table("app", "t").read().collect()} == {1}


def test_tx_carry_survives_engine_restart(spark, tmp_path):
    """Review regression: the carry lived only in driver memory — a
    streaming restart (checkpoint already past the epoch) permanently lost
    the deferred transaction head. It is now persisted under the lake root
    and reloaded by a fresh engine."""
    from pyspark.sql.types import StructType
    from debezium_spark.streaming.multi import (
        MultiTableEngine, TableSpec, WIRE_SCHEMA,
    )

    def row(pos, k, tx):
        return {
            "before_json": None, "after_json": f'{{"k": {k}, "v": "x"}}',
            "op": "c", "ts_ms": 0,
            "source": {"file": "f", "pos": pos, "gtid": None, "snapshot": None,
                       "db": "app", "table": "t", "ts_ms": 0},
            "transaction": {"id": tx, "total_order": 0, "data_collection_order": 0},
        }

    spec = lambda: [TableSpec("app", "t", StructType.fromDDL("k long, v string"),  # noqa: E731
                              ["k"], n_buckets=2)]
    m1 = MultiTableEngine(spark, str(tmp_path / "lake"), spec())
    m1.apply_wire_batch(
        spark.createDataFrame([row(1, 1, "tx1"), row(2, 2, "tx2")], WIRE_SCHEMA), "b0"
    )
    assert {r["k"] for r in m1.table("app", "t").read().collect()} == {1}

    # "restart": brand-new engine instance on the same root
    m2 = MultiTableEngine(spark, str(tmp_path / "lake"), spec())
    m2.apply_wire_batch(
        spark.createDataFrame([row(3, 3, "tx2"), row(4, 4, "tx3")], WIRE_SCHEMA), "b1"
    )
    # tx2's head (k=2, deferred by m1) + its tail (k=3) both applied
    assert {r["k"] for r in m2.table("app", "t").read().collect()} == {1, 2, 3}
    m2.flush_tx_carry()
    assert {r["k"] for r in m2.table("app", "t").read().collect()} == {1, 2, 3, 4}


def test_multi_table_tx_carry(spark, tmp_path):
    """The multi-table dispatcher defers the open tail transaction across
    apply_wire_batch calls; flush_tx_carry applies it at end of stream."""
    from pyspark.sql.types import StructType
    from debezium_spark.streaming.multi import (
        MultiTableEngine, TableSpec, WIRE_SCHEMA,
    )

    spec = TableSpec("app", "t", StructType.fromDDL("k long, v string"), ["k"],
                     n_buckets=2)
    mte = MultiTableEngine(spark, str(tmp_path / "lake"), [spec])

    def row(pos, k, v, tx):
        return {
            "before_json": None, "after_json": f'{{"k": {k}, "v": "{v}"}}',
            "op": "c", "ts_ms": pos,
            "source": {"file": "f", "pos": pos, "gtid": None, "snapshot": None,
                       "db": "app", "table": "t", "ts_ms": pos},
            "transaction": {"id": tx, "total_order": pos,
                            "data_collection_order": pos},
        }

    b0 = spark.createDataFrame([row(1, 1, "a", "tx1"), row(2, 2, "a", "tx2")],
                               WIRE_SCHEMA)
    mte.apply_wire_batch(b0, "b0")
    # tx2 is the open tail: only tx1 committed
    assert {r["k"] for r in mte.table("app", "t").read().collect()} == {1}
    b1 = spark.createDataFrame([row(3, 3, "a", "tx2"), row(4, 4, "a", "tx3")],
                               WIRE_SCHEMA)
    mte.apply_wire_batch(b1, "b1")
    assert {r["k"] for r in mte.table("app", "t").read().collect()} == {1, 2, 3}
    mte.flush_tx_carry()
    assert {r["k"] for r in mte.table("app", "t").read().collect()} == {1, 2, 3, 4}
    assert mte.table("app", "t").fence()[1] == 4


def test_replay_probe_is_one_job_per_batch(spark, tmp_path):
    """VERDICT r3 item 5: the tail-tx boundary rides the SAME fused
    aggregation as fence/ddl/bad — exactly ONE driver aggregation action
    (.first) per applied batch on the tx-aligned path, including batches
    prefixed by a carried transaction (the carry meta makes the split a
    zero-job plan transform). Stream epochs run the same step: an empty
    epoch and a redelivered one (behind the fence, nothing carried) are
    one probe each and skip, the redelivered rows booked as skipped."""
    from debezium_spark.streaming.progress import ProcessCommitter

    bdir = str(tmp_path / "b")
    os.makedirs(bdir)
    # every batch ends with an open tx, so batches 1 and 2 are carry-prefixed
    _write_batch(spark, bdir, 0, [
        (1, "c", "a", "v1", "tx1"), (2, "c", "b", "v1", "tx1"),
        (3, "c", "c", "v1", "tx2"),
    ])
    _write_batch(spark, bdir, 1, [
        (4, "u", "c", "v2", "tx2"), (5, "u", "a", "v2", "tx3"),
        (6, "u", "b", "v2", "tx3"),
    ])
    _write_batch(spark, bdir, 2, [
        (7, "u", "c", "v3", "tx3"), (8, "c", "d", "v1", "tx4"),
    ])
    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=2)
    c = ProcessCommitter(str(tmp_path / "progress"), "sink")
    engine = CdcEngine(spark, table, committer=c)

    calls = {"first": 0}
    cls = type(spark.range(1))  # the concrete (classic) DataFrame class
    orig_first = cls.first

    def counting_first(self):
        calls["first"] += 1
        return orig_first(self)

    cls.first = counting_first
    try:
        engine.replay(bdir, final=False)
    finally:
        cls.first = orig_first
    assert calls["first"] == 3, f"expected 1 probe job per batch, got {calls['first']}"

    # and the result is still the correct tx-aligned state: tx4 deferred
    state = {r["path"]: r["content"] for r in table.read().collect()}
    assert state == {"a": "v2", "b": "v2", "c": "v3"}
    assert table.fence() == ("binlog.000001", 7)
    engine.flush_tx_carry()
    assert {r["path"]: r["content"] for r in table.read().collect()}["d"] == "v1"

    # the stream path runs the same protocol: a carry-prefixed epoch is one
    # probe too (the carry's meta comes from the epoch that deferred it)
    engine.apply_stream_batch(
        _env(spark, [(9, "c", "e", "v1", "tx5"), (10, "c", "f", "v1", "tx6")]),
        batch_id="epoch_00000",
    )
    cls.first = counting_first
    try:
        calls["first"] = 0
        engine.apply_stream_batch(
            _env(spark, [(11, "u", "f", "v2", "tx6"), (12, "c", "g", "v1", "tx7")]),
            batch_id="epoch_00001",
        )
    finally:
        cls.first = orig_first
    assert calls["first"] == 1, f"carry-prefixed epoch: {calls['first']} probes"
    state = {r["path"]: r["content"] for r in table.read().collect()}
    assert state["f"] == "v2" and "g" not in state

    engine.flush_tx_carry()  # tx7 commits: nothing is carried any more
    assert c.sink.skippedCount == 0
    redelivered = _env(spark, [(11, "u", "f", "v2", "tx6"),
                               (12, "c", "g", "v1", "tx7")])
    cls.first = counting_first
    try:
        for epoch, batch_id in ((_env(spark, []), "epoch_00002"),
                                (redelivered, "epoch_00001")):
            calls["first"] = 0
            assert engine.apply_stream_batch(epoch, batch_id) is None
            assert calls["first"] == 1, f"{batch_id}: {calls['first']} probes"
    finally:
        cls.first = orig_first
    assert c.sink.skippedCount == 2 and c.sink.rest == 0
    assert table.fence() == ("binlog.000001", 12)


def test_carry_meta_survives_restart(spark, tmp_path):
    """The persisted carry's meta reloads on restart, so a restarted engine
    keeps the single-probe path AND the same split semantics."""
    from debezium_spark.streaming.engine import load_tx_carry_meta

    bdir = str(tmp_path / "b")
    os.makedirs(bdir)
    _write_batch(spark, bdir, 0, [
        (1, "c", "a", "v1", "tx1"), (2, "c", "b", "v1", "tx2"),
    ])
    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=2)
    CdcEngine(spark, table).replay(bdir, final=False)
    meta = load_tx_carry_meta(str(tmp_path / "t"))
    assert meta == {"tx": "tx2", "p": 2, "nd": False, "nb": False}

    # fresh engine (restart): batch1 closes tx2, opens tx3
    _write_batch(spark, bdir, 1, [
        (3, "u", "b", "v2", "tx2"), (4, "c", "c", "v1", "tx3"),
    ])
    e2 = CdcEngine(spark, LakeTable(spark, str(tmp_path / "t"), ["repo", "path"]))
    e2.replay(bdir, final=False)
    state = {r["path"]: r["content"] for r in table.read().collect()}
    assert state == {"a": "v1", "b": "v2"}  # tx3 deferred
    meta = load_tx_carry_meta(str(tmp_path / "t"))
    assert meta["tx"] == "tx3" and meta["p"] == 4

    # a carry written by the STREAM path has the same meta, and a replay on
    # the same root resumes from it with one probe per batch (no re-probe of
    # the carry to find its split)
    root = str(tmp_path / "s")
    CdcEngine(spark, LakeTable(spark, root, ["repo", "path"], n_buckets=2)) \
        .apply_stream_batch(_env(spark, [(1, "c", "a", "v1", "tx1"),
                                         (2, "c", "b", "v1", "tx2")]), "epoch_00000")
    assert load_tx_carry_meta(root) == {"tx": "tx2", "p": 2, "nd": False, "nb": False}
    sdir = str(tmp_path / "sb")
    os.makedirs(sdir)
    _write_batch(spark, sdir, 1, [
        (3, "u", "b", "v2", "tx2"), (4, "c", "c", "v1", "tx3"),
    ])
    t3 = LakeTable(spark, root, ["repo", "path"])
    calls = {"first": 0}
    cls = type(spark.range(1))
    orig_first = cls.first

    def counting_first(self):
        calls["first"] += 1
        return orig_first(self)

    cls.first = counting_first
    try:
        CdcEngine(spark, t3).replay(sdir, final=False)
    finally:
        cls.first = orig_first
    assert calls["first"] == 1, calls
    assert {r["path"]: r["content"] for r in t3.read().collect()} == {"a": "v1", "b": "v2"}
    assert load_tx_carry_meta(root) == {"tx": "tx3", "p": 4, "nd": False, "nb": False}


def test_carry_without_meta_file_converges(spark, tmp_path):
    """A carry on disk whose ``_carry_meta.json`` is gone is probed once on
    load to rebuild its meta, and the replay converges to the same state
    as a run that kept it."""
    from debezium_spark.streaming.engine import load_tx_carry_meta

    bdir = str(tmp_path / "b")
    os.makedirs(bdir)
    _write_batch(spark, bdir, 0, [
        (1, "c", "a", "v1", "tx1"), (2, "c", "b", "v1", "tx2"),
        (3, "c", "c", "v1", "tx2"),
    ])

    def run(name, drop_meta):
        t = LakeTable(spark, str(tmp_path / name), ["repo", "path"], n_buckets=2)
        CdcEngine(spark, t).replay(bdir, final=False)
        if drop_meta:
            carry = os.path.join(t.root, "_tx_carry")
            (ver,) = os.listdir(carry)
            os.remove(os.path.join(carry, ver, "_carry_meta.json"))
            assert load_tx_carry_meta(t.root) is None
        return t

    kept, lost = run("kept", False), run("lost", True)
    _write_batch(spark, bdir, 1, [
        (4, "u", "b", "v2", "tx2"), (5, "c", "d", "v1", "tx3"),
        (6, "u", "a", "v2", "tx3"),
    ])
    for t in (kept, lost):
        CdcEngine(spark, LakeTable(spark, t.root, ["repo", "path"])).replay(bdir, final=False)
    assert load_tx_carry_meta(lost.root) == load_tx_carry_meta(kept.root) == {
        "tx": "tx3", "p": 6, "nd": False, "nb": False}
    for t in (kept, lost):
        CdcEngine(spark, LakeTable(spark, t.root, ["repo", "path"])).flush_tx_carry()
    want = {r["path"]: r["content"] for r in kept.read().collect()}
    assert want == {"a": "v2", "b": "v2", "c": "v1", "d": "v1"}
    assert {r["path"]: r["content"] for r in lost.read().collect()} == want
    assert lost.fence() == kept.fence() == ("binlog.000001", 6)


def test_unaligned_replay_flushes_preexisting_carry_first(spark, tmp_path):
    """Review r4 deep-pass: replay(tx_aligned=False) over a table with a
    previously persisted carry must flush the carried transaction BEFORE
    applying new batches — applying first would advance the fence past the
    carry and the end-of-loop flush would fence-skip it into oblivion."""
    bdir = str(tmp_path / "b")
    os.makedirs(bdir)
    _write_batch(spark, bdir, 0, [
        (1, "c", "a", "v1", "tx1"), (2, "c", "b", "v1", "tx2"),
    ])
    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=2)
    CdcEngine(spark, table).replay(bdir, final=False)  # tx2 deferred to carry
    assert table.read().count() == 1

    bdir2 = str(tmp_path / "b2")
    os.makedirs(bdir2)
    _write_batch(spark, bdir2, 0, [(3, "c", "c", "v1", None)])
    # fresh engine, alignment OFF: the carried tx2 row must still land
    e2 = CdcEngine(spark, LakeTable(spark, str(tmp_path / "t"), ["repo", "path"]))
    e2.replay(bdir2, tx_aligned=False)
    state = {r["path"]: r["content"] for r in table.read().collect()}
    assert state == {"a": "v1", "b": "v1", "c": "v1"}, state


def test_unaligned_stream_batch_commits_preexisting_carry_first(spark, tmp_path):
    """``apply_stream_batch(..., tx_aligned=False)`` on a root holding a
    carry deferred by an aligned epoch commits the carry before the epoch
    — applying the epoch first advanced the fence past the carry, and the
    later flush fence-skipped the carried transaction away."""
    from debezium_spark.streaming.engine import load_tx_carry_meta

    root = str(tmp_path / "t")
    e1 = CdcEngine(spark, LakeTable(spark, root, ["repo", "path"], n_buckets=2))
    e1.apply_stream_batch(
        _env(spark, [(1, "c", "a", "v1", "tx1"), (2, "c", "b", "v1", "tx2")]), "epoch_00000"
    )
    assert load_tx_carry_meta(root) == {"tx": "tx2", "p": 2, "nd": False, "nb": False}

    table = LakeTable(spark, root, ["repo", "path"])
    e2 = CdcEngine(spark, table)  # restart, alignment off
    e2.apply_stream_batch(_env(spark, [(3, "c", "c", "v1", None)]), "epoch_00001",
                          tx_aligned=False)
    e2.flush_tx_carry()
    assert sorted(r["path"] for r in table.read().collect()) == ["a", "b", "c"]
    assert table.fence() == ("binlog.000001", 3)


def test_unaligned_multi_restart_commits_preexisting_carry_first(spark, tmp_path):
    """A ``MultiTableEngine(tx_aligned=False)`` restarted on a root holding
    a carry commits the carried transaction before the new batch. The carry
    meta holds the flags the probe measured, not placeholders."""
    from pyspark.sql.types import StructType
    from debezium_spark.streaming.engine import load_tx_carry_meta
    from debezium_spark.streaming.multi import (
        MultiTableEngine, TableSpec, WIRE_SCHEMA,
    )

    def row(pos, k, tx):
        return {
            "before_json": None, "after_json": f'{{"k": {k}, "v": "x"}}',
            "op": "c", "ts_ms": 0,
            "source": {"file": "f", "pos": pos, "gtid": None, "snapshot": None,
                       "db": "app", "table": "t", "ts_ms": 0},
            "transaction": None if tx is None else
                {"id": tx, "total_order": 0, "data_collection_order": 0},
        }

    def spec():
        return [TableSpec("app", "t", StructType.fromDDL("k long, v string"), ["k"],
                          n_buckets=2)]

    lake = str(tmp_path / "lake")
    m1 = MultiTableEngine(spark, lake, spec())
    m1.apply_wire_batch(
        spark.createDataFrame([row(1, 1, "tx1"), row(2, 2, "tx2")], WIRE_SCHEMA), "b0"
    )
    assert load_tx_carry_meta(lake) == {"tx": "tx2", "p": 2, "nd": False, "nb": False}

    m2 = MultiTableEngine(spark, lake, spec(), tx_aligned=False)  # restart
    m2.apply_wire_batch(spark.createDataFrame([row(3, 3, None)], WIRE_SCHEMA), "b1")
    m2.flush_tx_carry()
    assert sorted(r["k"] for r in m2.table("app", "t").read().collect()) == [1, 2, 3]
    assert m2.table("app", "t").fence() == ("f", 3)


def test_replay_batch_ids_follow_file_names(spark, tmp_path):
    """Replay names each batch after its FILE: with ``batch_00001`` absent,
    a malformed row in ``batch_00002`` quarantines under ``batch_00002``
    (an id from the loop index would have said ``batch_00001``)."""
    bdir = str(tmp_path / "b")
    os.makedirs(bdir)
    _write_batch(spark, bdir, 0, [(1, "c", "a", "v1", None)])
    _write_batch(spark, bdir, 2, [(2, "c", "b", "v1", None), (3, "zz", "c", "v1", None)])
    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=2)
    engine = CdcEngine(spark, table)
    engine.replay(bdir)
    q = engine.read_quarantine().collect()
    assert [(r["batch_id"], r["reason"]) for r in q] == [("batch_00002", "unknown_op")]
    assert sorted(r["path"] for r in table.read().collect()) == ["a", "b"]


def test_all_null_pos_batch_quarantines_in_replay(spark, tmp_path):
    """Review r4 deep-pass: a batch file whose every row has a null offset
    must route through quarantine in the replay loop, not silently skip."""
    bdir = str(tmp_path / "b")
    os.makedirs(bdir)
    import json as _json
    from pyspark.sql import Row
    rows = [
        {"before": None, "after": {"repo": "r0", "path": "x", "content": "v"},
         "op": "c", "ts_ms": 1,
         "source": {"file": "binlog.000001", "pos": None, "gtid": None,
                    "snapshot": None, "db": "app", "table": "t", "ts_ms": 1},
         "transaction": None},
    ]
    nullable = ENV_DDL  # pos is bigint nullable in this DDL
    spark.createDataFrame(rows, nullable).write.mode("overwrite").parquet(
        os.path.join(bdir, "batch_00000.parquet"))
    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=2)
    engine = CdcEngine(spark, table)
    engine.replay(bdir)
    assert table.read().count() == 0
    q = engine.read_quarantine()
    assert q.count() == 1 and q.first()["reason"] == "null_offset"


def test_multi_dispatch_probe_is_one_job_per_batch(spark, tmp_path):
    """The multi-table dispatcher splits tx-carrying batches with ONE
    .first() probe per batch (fused_tail_probe + carry meta), mirroring the
    single-table replay contract."""
    from pyspark.sql.types import StructType
    from debezium_spark.streaming.multi import (
        MultiTableEngine, TableSpec, WIRE_SCHEMA,
    )

    def row(pos, k, tx):
        return {
            "before_json": None, "after_json": f'{{"k": {k}, "v": "x"}}',
            "op": "c", "ts_ms": 0,
            "source": {"file": "f", "pos": pos, "gtid": None, "snapshot": None,
                       "db": "app", "table": "t", "ts_ms": 0},
            "transaction": {"id": tx, "total_order": 0, "data_collection_order": 0},
        }

    spec = TableSpec("app", "t", StructType.fromDDL("k string, v string"),
                     ["k"], n_buckets=2)
    mte = MultiTableEngine(spark, str(tmp_path / "lake"), [spec],
                           auto_register=False, max_parallel_tables=1)
    b0 = spark.createDataFrame([row(1, '"a"', "tx1"), row(2, '"b"', "tx2")], WIRE_SCHEMA)
    b1 = spark.createDataFrame([row(3, '"b2"', "tx2"), row(4, '"c"', "tx3")], WIRE_SCHEMA)

    calls = {"first": 0}
    cls = type(spark.range(1))
    orig = cls.first

    def counting(self):
        calls["first"] += 1
        return orig(self)

    cls.first = counting
    try:
        mte.apply_wire_batch(b0, "b0")   # no carry yet
        n0 = calls["first"]
        mte.apply_wire_batch(b1, "b1")   # carry-prefixed
        n1 = calls["first"] - n0
    finally:
        cls.first = orig
    assert n0 == 1, f"fresh batch: expected 1 probe, got {n0}"
    assert n1 == 1, f"carry-prefixed batch: expected 1 probe, got {n1}"
    state = {r["k"]: r["v"] for r in mte.table("app", "t").read().collect()}
    # tx1+tx2 committed (tx2 closed by tx3's appearance); tx3 deferred
    assert state == {"a": "x", "b": "x", "b2": "x"}


@pytest.mark.parametrize("path", ["replay", "stream", "multi"])
def test_tail_split_halves_are_complements_at_the_boundary(spark, tmp_path, path):
    """The tail split's closed and deferred halves are exact complements
    around the boundary on every entry path: rows at ``boundary - 1`` and
    ``boundary`` commit, ``boundary + 1`` defers, and a null-pos row rides
    with the closed part into quarantine. Here tx2 opens at pos 3, so the
    boundary is 2."""
    from debezium_spark.operators.quarantine import read_quarantine
    from debezium_spark.streaming.engine import load_tx_carry_meta
    from debezium_spark.streaming.multi import (
        MultiTableEngine, TableSpec, envelope_to_wire,
    )
    from debezium_spark.schema import REPO_PAYLOAD_SCHEMA

    null_pos = {
        "before": None, "after": {"repo": "r0", "path": "q", "content": "v1"},
        "op": "c", "ts_ms": 1000,
        "source": {"file": "binlog.000001", "pos": None, "gtid": None,
                   "snapshot": None, "db": "app", "table": "t", "ts_ms": 1000},
        "transaction": None,
    }
    env = _env(spark, [(1, "c", "a", "v1", "tx1"), (2, "c", "b", "v1", "tx1"),
                       (3, "c", "c", "v1", "tx2")]
               ).unionByName(spark.createDataFrame([null_pos], ENV_DDL))
    root = str(tmp_path / "t")  # the carry lives here on every path
    if path == "multi":
        spec = TableSpec("app", "t", REPO_PAYLOAD_SCHEMA, ["repo", "path"], n_buckets=2)
        mte = MultiTableEngine(spark, root, [spec])
        table = mte.table("app", "t")
        mte.apply_wire_batch(envelope_to_wire(env), "b0")
        flush = mte.flush_tx_carry
    else:
        table = LakeTable(spark, root, ["repo", "path"], n_buckets=2)
        engine = CdcEngine(spark, table)
        if path == "replay":
            bdir = str(tmp_path / "b")
            env.write.parquet(os.path.join(bdir, "batch_00000.parquet"))
            engine.replay(bdir, final=False)
        else:
            engine.apply_stream_batch(env, "epoch_00000")
        flush = engine.flush_tx_carry
    assert sorted(r["path"] for r in table.read().collect()) == ["a", "b"]
    assert [r["reason"] for r in read_quarantine(spark, table.root).collect()] == ["null_offset"]
    assert load_tx_carry_meta(root)["p"] == 3
    (carried,) = spark.read.parquet(os.path.join(root, "_tx_carry", "v1")).collect()
    assert carried["source"]["pos"] == 3
    flush()
    assert sorted(r["path"] for r in table.read().collect()) == ["a", "b", "c"]
