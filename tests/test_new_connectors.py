"""Tests for the round-5 connector-shape sources and server-sink consumers:

- SQL Server CDC-table source (``sources/sqlserver.py``) — update-pair
  fusion, op mapping, pair-protocol violations;
- MongoDB change-stream source (``sources/mongodb.py``) — document
  envelope fields + ExtractNewDocumentState;
- Oracle LogMiner source (``sources/oracle_logminer.py``) — buffer-until-
  commit, rollback discard, partial rollback, commit ordering;
- ActivateTracingSpan (``operators/tracing.py``) — span parents, context
  propagation, tombstone pass-through;
- debezium-server consumers (``sink/server.py``) — per-key order,
  partitioning, sink dialect shapes.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


# ---------------------------------------------------------------- sqlserver


def _ct(spark):
    rows = [
        # (start_lsn, seqval, operation, commit_ts_ms, k, v)
        (10, 1, 2, 1000, "a", "a0"),       # insert a
        (20, 1, 3, 2000, "a", "a0"),       # update a: before
        (20, 1, 4, 2000, "a", "a1"),       #           after
        (20, 2, 2, 2000, "b", "b0"),       # insert b (same lsn, next seqval)
        (30, 1, 1, 3000, "a", "a1"),       # delete a
        (40, 1, 3, 4000, "b", "b0"),       # BROKEN: update-before w/o after
    ]
    return spark.createDataFrame(
        rows, "start_lsn long, seqval long, operation int, commit_ts_ms long, k string, v string"
    )


def test_sqlserver_update_pair_fuses_to_one_event(spark):
    from debezium_spark.sources.sqlserver import cdc_table_to_envelope

    env = cdc_table_to_envelope(_ct(spark), ["k", "v"], db="server1", table="dbo.t")
    rows = {(r["source"]["pos"]): r for r in env.collect()}
    assert len(rows) == 5  # 6 CT rows -> 5 events (pair fused)
    upd = rows[(20 << 20) + 1]
    assert upd["op"] == "u" and not upd["pair_error"]
    assert upd["before"]["v"] == "a0" and upd["after"]["v"] == "a1"


def test_sqlserver_op_mapping_and_images(spark):
    from debezium_spark.sources.sqlserver import cdc_table_to_envelope

    env = cdc_table_to_envelope(_ct(spark), ["k", "v"])
    ins = env.filter("op = 'c'").orderBy("source.pos").collect()
    assert [r["after"]["k"] for r in ins] == ["a", "b"]
    assert all(r["before"] is None for r in ins)
    dele = env.filter("op = 'd'").collect()
    assert len(dele) == 1 and dele[0]["before"]["k"] == "a" and dele[0]["after"] is None


def test_sqlserver_unpaired_update_goes_to_pair_error(spark):
    from debezium_spark.sources.sqlserver import cdc_table_to_envelope

    env = cdc_table_to_envelope(_ct(spark), ["k", "v"])
    bad = env.filter("pair_error").collect()
    assert len(bad) == 1
    r = bad[0]
    # offsets still advance past the broken group; images/op are nulled
    assert r["source"]["pos"] == (40 << 20) + 1
    assert r["op"] is None and r["before"] is None and r["after"] is None


def test_sqlserver_order_is_lsn_then_seqval(spark):
    from debezium_spark.sources.sqlserver import cdc_table_to_envelope

    env = cdc_table_to_envelope(_ct(spark), ["k", "v"])
    ordered = [r["op"] for r in env.orderBy("source.pos").collect()]
    assert ordered == ["c", "u", "c", "d", None]


# ------------------------------------------------------------------ mongodb


def _cs(spark):
    rows = [
        ("insert", '{"_id": 1}', '{"_id": 1, "name": "n1", "qty": 5}', None, None, 1, 100),
        ("update", '{"_id": 1}', None, '{"qty": 7}', ["name"], 2, 200),
        ("replace", '{"_id": 1}', '{"_id": 1, "name": "n2", "qty": 9}', None, None, 3, 300),
        ("delete", '{"_id": 1}', None, None, None, 4, 400),
        ("drop", '{"_id": 0}', None, None, None, 5, 500),  # control event
    ]
    return spark.createDataFrame(
        rows,
        "op_type string, doc_key string, full_doc string, updated_fields string,"
        " removed_fields array<string>, ord long, ts_ms long",
    )


def test_mongodb_envelope_fields(spark):
    from debezium_spark.sources.mongodb import change_stream_to_envelope

    env = change_stream_to_envelope(_cs(spark)).orderBy("source.pos")
    rows = env.collect()
    assert [r["op"] for r in rows] == ["c", "u", "u", "d", None]
    ins, upd, rep, dele, ctrl = rows
    assert ins["after"] is not None and ins["updateDescription"] is None
    # update without full-document lookup: no after, updateDescription set
    assert upd["after"] is None
    assert upd["updateDescription"]["updatedFields"] == '{"qty": 7}'
    assert upd["updateDescription"]["removedFields"] == ["name"]
    assert rep["after"] is not None  # replace carries the full doc
    assert dele["after"] is None and dele["updateDescription"] is None
    assert ctrl["op"] is None  # drop/rename/invalidate → quarantine path
    assert ins["id"] == "1"  # documentKey JSON → key


def test_mongodb_extract_new_document_state(spark):
    from debezium_spark.sources.mongodb import (
        change_stream_to_envelope,
        extract_new_document_state,
    )

    env = change_stream_to_envelope(_cs(spark)).filter(F.col("op").isNotNull())
    flat = extract_new_document_state(env, "name string, qty int").orderBy("source.pos")
    rows = flat.collect()
    assert rows[0]["name"] == "n1" and rows[0]["qty"] == 5
    # partial update: only updatedFields materialize, rest null
    assert rows[1]["name"] is None and rows[1]["qty"] == 7
    assert rows[2]["name"] == "n2" and rows[2]["qty"] == 9
    # string 'true'/'false' — type parity with the relational ENS rewrite
    assert rows[3]["__deleted"] == "true" and rows[3]["name"] is None
    assert rows[0]["__deleted"] == "false"

    dropped = extract_new_document_state(env, "name string, qty int", delete_handling="drop")
    assert dropped.count() == 3
    with pytest.raises(ValueError):
        extract_new_document_state(env, "name string", delete_handling="bogus")


# ----------------------------------------------------------- oracle logminer


def _redo(spark):
    rows = [
        # scn, tx_id, event_type, tbl, row_id, rollback_flag, ts_ms, b_k, b_v, a_k, a_v
        (100, "tx1", 6, None, None, 0, 1000, None, None, None, None),       # START tx1
        (101, "tx1", 1, "t", "r1", 0, 1001, None, None, "k1", "v1"),        # insert
        (102, "tx1", 3, "t", "r1", 0, 1002, "k1", "v1", "k1", "v2"),        # update
        (110, "tx2", 1, "t", "r2", 0, 1010, None, None, "k2", "w1"),        # insert (tx2)
        (111, "tx2", 36, None, None, 0, 1011, None, None, None, None),      # ROLLBACK tx2
        (120, "tx3", 1, "t", "r3", 0, 1020, None, None, "k3", "x1"),        # insert
        (121, "tx3", 1, "t", "r3", 1, 1021, None, None, "k3", "x1"),        # partial rollback of 120
        (122, "tx3", 1, "t", "r4", 0, 1022, None, None, "k4", "y1"),        # survives
        (130, "tx4", 1, "t", "r5", 0, 1030, None, None, "k5", "z1"),        # uncommitted
        # commits: tx3 commits BEFORE tx1 → commit order tx3 then tx1
        (140, "tx3", 7, None, None, 0, 1040, None, None, None, None),
        (150, "tx1", 7, None, None, 0, 1050, None, None, None, None),
    ]
    return spark.createDataFrame(
        rows,
        "scn long, tx_id string, event_type int, tbl string, row_id string,"
        " rollback_flag int, ts_ms long, before_k string, before_v string,"
        " after_k string, after_v string",
    )


def test_logminer_commit_gating_and_rollback_discard(spark):
    from debezium_spark.sources.oracle_logminer import redo_to_envelope

    env = redo_to_envelope(_redo(spark), ["k", "v"])
    rows = env.orderBy("source.pos").collect()
    # tx2 rolled back, tx4 uncommitted, tx3's first insert partially rolled
    # back → events: tx3 r4 insert, then tx1 insert+update (commit order!)
    assert [(r["source"]["gtid"], r["op"]) for r in rows] == [
        ("tx3", "c"), ("tx1", "c"), ("tx1", "u"),
    ]


def test_logminer_partial_rollback_removes_prior_event_only(spark):
    from debezium_spark.sources.oracle_logminer import redo_to_envelope

    env = redo_to_envelope(_redo(spark), ["k", "v"])
    tx3 = env.filter("source.gtid = 'tx3'").collect()
    assert len(tx3) == 1 and tx3[0]["after"]["k"] == "k4"


def test_logminer_commit_order_is_stream_order(spark):
    from debezium_spark.sources.oracle_logminer import redo_to_envelope

    env = redo_to_envelope(_redo(spark), ["k", "v"])
    rows = env.orderBy("source.pos").collect()
    pos = [r["source"]["pos"] for r in rows]
    assert pos == sorted(pos)
    # intra-tx order follows scn
    tx1 = [r for r in rows if r["source"]["gtid"] == "tx1"]
    assert [r["scn"] for r in tx1] == [101, 102]
    assert [r["op"] for r in tx1] == ["c", "u"]


def test_logminer_envelope_images(spark):
    from debezium_spark.sources.oracle_logminer import redo_to_envelope

    env = redo_to_envelope(_redo(spark), ["k", "v"])
    upd = env.filter("op = 'u'").collect()[0]
    assert upd["before"]["v"] == "v1" and upd["after"]["v"] == "v2"
    ins = env.filter("op = 'c'").collect()
    assert all(r["before"] is None for r in ins)


# ------------------------------------------------------------------ tracing


def _traced_env(spark):
    rows = [
        # op, ts_ms, k, ctx, file, pos, src_ts
        ("c", 2000, "k1", "traceparent=00-" + "ab" * 16 + "-" + "12" * 8 + "-01", "f1", 1, 1000),
        ("u", 2001, "k2", None, "f1", 2, 1001),
        (None, 2002, "k3", None, "f1", 3, 1002),  # tombstone
    ]
    df = spark.createDataFrame(
        rows, "op string, ts_ms long, k string, tracingspancontext string,"
        " file string, pos long, src_ts long"
    )
    return df.select(
        F.when(F.col("op").isNotNull(), F.struct("k", "tracingspancontext")).alias("after"),
        F.lit(None).cast("struct<k:string,tracingspancontext:string>").alias("before"),
        "op",
        "ts_ms",
        F.struct(
            F.col("file"), F.col("pos"),
            F.lit(None).cast("string").alias("gtid"),
            F.lit(None).cast("string").alias("snapshot"),
            F.lit("db1").alias("db"), F.lit("t1").alias("table"),
            F.col("src_ts").alias("ts_ms"),
        ).alias("source"),
    )


def test_tracing_span_parentage_and_propagation(spark):
    from debezium_spark.operators.tracing import activate_tracing_span

    out = activate_tracing_span(_traced_env(spark)).orderBy("source.pos").collect()
    with_ctx, without_ctx, tomb = out

    spans = {s["operation_name"]: s for s in with_ctx["spans"]}
    txlog, read = spans["db-log-write"], spans["debezium-read"]
    # propagated trace id + parent span; read span is child of txlog span
    assert txlog["trace_id"] == "ab" * 16
    assert txlog["parent_span_id"] == "12" * 8
    assert read["trace_id"] == "ab" * 16
    assert read["parent_span_id"] == txlog["span_id"]
    # start times: txlog at DB event time, read at processing time (micros)
    assert txlog["start_ts_micros"] == 1000 * 1000
    assert read["start_ts_micros"] == 2000 * 1000
    assert txlog["tags"]["component"] == "debezium"
    assert txlog["tags"]["db.table"] == "t1"
    assert read["tags"]["op"] == "c"
    # header carries the READ span's context for downstream continuation
    assert with_ctx["headers"]["traceparent"] == f"00-{'ab'*16}-{read['span_id']}-01"

    # no propagated context → offset-derived trace id, no parent
    s2 = {s["operation_name"]: s for s in without_ctx["spans"]}
    assert s2["db-log-write"]["parent_span_id"] is None
    assert len(s2["db-log-write"]["trace_id"]) == 32

    # tombstone passes through untraced
    assert tomb["spans"] is None and tomb["headers"] is None


def test_tracing_is_deterministic_and_context_gate(spark):
    from debezium_spark.operators.tracing import activate_tracing_span

    a = activate_tracing_span(_traced_env(spark)).orderBy("source.pos").collect()
    b = activate_tracing_span(_traced_env(spark)).orderBy("source.pos").collect()
    assert [r["spans"] for r in a] == [r["spans"] for r in b]

    gated = (
        activate_tracing_span(_traced_env(spark), require_context_field=True)
        .orderBy("source.pos")
        .collect()
    )
    assert gated[0]["spans"] is not None
    assert gated[1]["spans"] is None  # valid envelope but no context field


# ------------------------------------------------------------- server sinks


def _sink_env(spark):
    rows = [
        ("c", "r1", "p1", "c1", 1),
        ("u", "r1", "p1", "c2", 2),
        ("d", "r1", "p1", None, 3),
        ("c", "r2", "p9", "c3", 4),
        (None, None, None, None, 5),  # tombstone: null key sentinel path
    ]
    df = spark.createDataFrame(rows, "op string, repo string, path string, c string, pos long")
    pay = F.struct("repo", "path", F.col("c").alias("commit"),
                   F.lit("py").alias("lang"), F.col("c").alias("content"))
    return df.select(
        F.when(F.col("op").isin("u", "d"), pay).alias("before"),
        F.when(F.col("op").isin("c", "u"), pay).alias("after"),
        "op",
        (F.col("pos") * 10).alias("ts_ms"),
        F.struct(
            F.lit("f1").alias("file"), F.col("pos"),
            F.lit(None).cast("string").alias("gtid"),
            F.lit(None).cast("string").alias("snapshot"),
            F.lit("db1").alias("db"), F.lit("t1").alias("table"),
            (F.col("pos") * 10).alias("ts_ms"),
        ).alias("source"),
        F.lit(None).cast("struct<id:string,total_order:bigint,data_collection_order:bigint>")
        .alias("transaction"),
    )


def test_change_records_per_key_order_and_null_key(spark):
    from debezium_spark.sink.server import NULL_KEY, to_change_records

    rec = to_change_records(_sink_env(spark), n_partitions=4)
    rows = rec.collect()
    assert all(r["destination"] == "dbserver1.db1.t1" for r in rows)
    # same key → same partition, offsets strictly increasing in replay order
    r1 = sorted(
        [r for r in rows if '"repo":"r1"' in r["key"]], key=lambda r: r["offset"]
    )
    assert len({r["partition"] for r in r1}) == 1
    ops = [None if r["value"] is None else r["value"] for r in r1]
    assert len(r1) == 3 and ops[0] is not None
    # tombstone: null key → sentinel, null value
    tomb = [r for r in rows if r["key"] == NULL_KEY]
    assert len(tomb) == 1 and tomb[0]["value"] is None


def test_sink_dialect_shapes(spark):
    from debezium_spark.sink.server import (
        to_kinesis_records,
        to_pubsub_messages,
        to_redis_stream_entries,
    )

    env = _sink_env(spark)
    kin = to_kinesis_records(env, stream_prefix="s1")
    assert kin.columns == ["stream_name", "partition_key", "data", "sequence_number", "shard"]
    assert kin.filter("stream_name = 's1.db1.t1'").count() == 5
    assert dict(kin.dtypes)["data"] == "binary"

    red = to_redis_stream_entries(env).orderBy("entry_id")
    rows = red.collect()
    # one shard: entry ids dense from 0-1 (XADD rejects ids not > 0-0)
    assert rows[0]["entry_id"] == "0-1" and len(rows) == 5
    assert all(r["value"] is not None for r in rows)  # null value → sentinel

    pub = to_pubsub_messages(env)
    assert {"topic", "ordering_key", "data", "offset", "partition"} == set(pub.columns)


def test_logminer_shared_commit_scn_keeps_pos_unique(spark):
    from debezium_spark.sources.oracle_logminer import redo_to_envelope

    rows = [
        (1, "txA", 1, "t", "a1", 0, 10, None, None, "ka", "va"),
        (2, "txB", 1, "t", "b1", 0, 10, None, None, "kb", "vb"),
        (3, "txA", 1, "t", "a2", 0, 10, None, None, "ka2", "va2"),
        # Oracle group commit: both transactions commit at SCN 500
        (500, "txA", 7, None, None, 0, 11, None, None, None, None),
        (500, "txB", 7, None, None, 0, 11, None, None, None, None),
    ]
    redo = spark.createDataFrame(
        rows,
        "scn long, tx_id string, event_type int, tbl string, row_id string,"
        " rollback_flag int, ts_ms long, before_k string, before_v string,"
        " after_k string, after_v string",
    )
    env = redo_to_envelope(redo, ["k", "v"])
    pos = [r[0] for r in env.select("source.pos").collect()]
    assert len(pos) == 3 and len(set(pos)) == 3
    # interleave is (scn, tx_id) within the commit group: txA, txB, txA
    ordered = env.orderBy("source.pos").select("source.gtid", "scn").collect()
    assert [(r[0], r[1]) for r in ordered] == [("txA", 1), ("txB", 2), ("txA", 3)]


def test_mongodb_drop_mode_keeps_control_events(spark):
    from debezium_spark.sources.mongodb import (
        change_stream_to_envelope,
        extract_new_document_state,
    )

    env = change_stream_to_envelope(_cs(spark))  # includes the op=null 'drop'
    out = extract_new_document_state(env, "name string, qty int", delete_handling="drop")
    ops = [r["op"] for r in out.collect()]
    assert None in ops and "d" not in ops  # control survives, deletes don't


def test_tracing_passes_through_document_envelope(spark):
    from debezium_spark.operators.tracing import activate_tracing_span
    from debezium_spark.sources.mongodb import change_stream_to_envelope

    env = change_stream_to_envelope(_cs(spark))  # after is a JSON STRING
    out = activate_tracing_span(env)
    rows = out.filter(F.col("op").isNotNull()).collect()
    # non-struct after → no propagated context, but spans still derive
    assert all(r["spans"] is not None for r in rows)
    assert all(s["parent_span_id"] is None
               for r in rows for s in r["spans"] if s["operation_name"] == "db-log-write")


def test_change_records_tombstone_marker_and_sub_order(spark):
    from debezium_spark.operators.tombstones import with_tombstones
    from debezium_spark.sink.server import to_change_records

    env = with_tombstones(_sink_env(spark).filter(F.col("op").isNotNull()))
    rec = to_change_records(env, n_partitions=1)
    rows = rec.collect()
    # engine tombstone (op='d', key in before, _tombstone) → null value
    tombs = [r for r in rows if r["value"] is None]
    assert len(tombs) == 1 and '"repo":"r1"' in tombs[0]["key"]
    # the delete (non-null value) sorts BEFORE its tombstone via _sub
    r1 = sorted([r for r in rows if '"repo":"r1"' in r["key"]], key=lambda r: r["offset"])
    assert r1[-1]["value"] is None and r1[-2]["value"] is not None


def test_logminer_matches_bruteforce_model(spark):
    """Randomized redo stream vs a sequential python model of the same
    spec: adjacent-next partial-rollback cancellation, commit gating,
    rollback discard, commit-major/(scn, tx)-minor ordering with unique
    positions — the brute-force-equivalence idiom the suite uses for
    packing/line-dedup/decontaminate."""
    import random as _random

    from debezium_spark.sources.oracle_logminer import redo_to_envelope

    rng = _random.Random(20260820)
    rows, next_scn = [], 1
    tx_fate = {}
    for t in range(40):
        tx = f"tx{t:02d}"
        tx_fate[tx] = rng.choice(["commit", "commit", "commit", "rollback", "open"])
        for _ in range(rng.randint(1, 8)):
            et = rng.choice([1, 1, 2, 3])
            rid = f"r{rng.randint(0, 5)}"
            rb = 1 if rng.random() < 0.2 else 0
            rows.append((next_scn, tx, et, "t", rid, rb, next_scn,
                         f"bk{next_scn}", f"bv{next_scn}", f"ak{next_scn}", f"av{next_scn}"))
            next_scn += 1
    # group-committed pairs: every two committing txs share a commit scn
    committing = [tx for tx, f in tx_fate.items() if f == "commit"]
    for i in range(0, len(committing) - 1, 2):
        scn = 100000 + i
        rows.append((scn, committing[i], 7, None, None, 0, 0, None, None, None, None))
        rows.append((scn, committing[i + 1], 7, None, None, 0, 0, None, None, None, None))
    if len(committing) % 2:
        rows.append((200000, committing[-1], 7, None, None, 0, 0, None, None, None, None))
    for tx, f in tx_fate.items():
        if f == "rollback":
            rows.append((300000 + len(rows), tx, 36, None, None, 0, 0,
                         None, None, None, None))

    # ---- sequential model --------------------------------------------------
    commit_scn = {}
    for r in rows:
        if r[2] == 7:
            commit_scn[r[1]] = r[0]
    groups: dict[tuple, list] = {}
    for r in sorted(rows, key=lambda r: r[0]):
        if r[2] in (1, 2, 3):
            groups.setdefault((r[1], r[3], r[4]), []).append(r)
    alive = []
    for grp in groups.values():
        for i, r in enumerate(grp):
            nxt = grp[i + 1] if i + 1 < len(grp) else None
            if r[5] != 1 and not (nxt is not None and nxt[5] == 1):
                alive.append(r)
    expected = sorted(
        (r for r in alive if r[1] in commit_scn),
        key=lambda r: (commit_scn[r[1]], r[0], r[1]),
    )

    redo = spark.createDataFrame(
        rows,
        "scn long, tx_id string, event_type int, tbl string, row_id string,"
        " rollback_flag int, ts_ms long, before_k string, before_v string,"
        " after_k string, after_v string",
    )
    got = redo_to_envelope(redo, ["k", "v"]).orderBy("source.pos").collect()
    assert [(g["source"]["gtid"], g["scn"]) for g in got] == [
        (r[1], r[0]) for r in expected
    ]
    pos = [g["source"]["pos"] for g in got]
    assert len(set(pos)) == len(pos) and pos == sorted(pos)


def test_sqlserver_matches_bruteforce_model(spark):
    """Randomized change-table stream (including protocol violations) vs a
    per-group python model of the pairing spec."""
    import random as _random

    from debezium_spark.sources.sqlserver import cdc_table_to_envelope

    rng = _random.Random(42)
    rows = []
    expected = {}
    for lsn in range(1, 120):
        for seqval in range(1, rng.randint(2, 4)):
            shape = rng.choice(["ins", "del", "upd", "bad3", "bad34x"])
            k = f"k{lsn}_{seqval}"
            key = (lsn << 20) + seqval
            if shape == "ins":
                rows.append((lsn, seqval, 2, lsn, k, f"v{key}"))
                expected[key] = ("c", None, f"v{key}", False)
            elif shape == "del":
                rows.append((lsn, seqval, 1, lsn, k, f"v{key}"))
                expected[key] = ("d", f"v{key}", None, False)
            elif shape == "upd":
                rows.append((lsn, seqval, 3, lsn, k, f"old{key}"))
                rows.append((lsn, seqval, 4, lsn, k, f"new{key}"))
                expected[key] = ("u", f"old{key}", f"new{key}", False)
            elif shape == "bad3":
                rows.append((lsn, seqval, 3, lsn, k, f"o{key}"))
                expected[key] = (None, None, None, True)
            else:  # op-4 rows with no op-3 partner
                rows.append((lsn, seqval, 4, lsn, k, f"n{key}"))
                rows.append((lsn, seqval, 4, lsn, k, f"n2{key}"))
                expected[key] = (None, None, None, True)
    ct = spark.createDataFrame(
        rows, "start_lsn long, seqval long, operation int, commit_ts_ms long,"
        " k string, v string"
    )
    env = cdc_table_to_envelope(ct, ["k", "v"])
    got = {
        r["source"]["pos"]: (
            r["op"],
            r["before"]["v"] if r["before"] else None,
            r["after"]["v"] if r["after"] else None,
            r["pair_error"],
        )
        for r in env.collect()
    }
    assert got == expected


def test_new_sources_compose_with_envelope_serde(spark):
    from debezium_spark.functions.serde import envelope_to_json
    from debezium_spark.sources.mongodb import change_stream_to_envelope
    from debezium_spark.sources.oracle_logminer import redo_to_envelope
    from debezium_spark.sources.sqlserver import cdc_table_to_envelope

    ss = cdc_table_to_envelope(_ct(spark), ["k", "v"]).filter(~F.col("pair_error"))
    assert envelope_to_json(ss, key_cols=["k"]).count() == 4
    ora = redo_to_envelope(_redo(spark), ["k", "v"])
    assert envelope_to_json(ora, key_cols=["k"]).count() == 3
    mg = change_stream_to_envelope(_cs(spark))
    assert "transaction" in mg.columns


def test_sqlserver_envelope_replays_through_engine(spark, tmp_path):
    """The connector-shape envelope feeds the REAL engine: CT rows →
    envelope → LakeTable fenced MERGE; final state matches the sequential
    model and a re-replay is exactly-once."""
    from debezium_spark import CdcEngine, LakeTable
    from debezium_spark.sources.sqlserver import cdc_table_to_envelope

    env = cdc_table_to_envelope(_ct(spark), ["k", "v"]).filter(~F.col("pair_error"))

    def pad(side):
        return F.when(
            F.col(side).isNotNull(),
            F.struct(
                F.col(f"{side}.k").alias("repo"),
                F.lit("p").alias("path"),
                F.lit("c").alias("commit"),
                F.lit("sql").alias("lang"),
                F.col(f"{side}.v").alias("content"),
            ),
        )

    full = env.select(
        pad("before").alias("before"), pad("after").alias("after"),
        "op", "ts_ms", "source", "transaction",
    )
    binlog = tmp_path / "binlog"
    binlog.mkdir()
    full.coalesce(1).write.parquet(str(binlog / "batch_00000.parquet"))
    table = LakeTable(spark, str(tmp_path / "table"), ["repo", "path"], n_buckets=4)
    engine = CdcEngine(spark, table)
    assert engine.replay(str(binlog)) != []
    assert engine.replay(str(binlog)) == []  # exactly-once
    state = {(r["repo"], r["content"]) for r in table.read().collect()}
    # sequential model over _ct: a inserted→updated(a1)→deleted; b inserted
    assert state == {("b", "b0")}


def test_server_sink_streams_per_epoch(spark, tmp_path):
    """debezium-server consumers under Structured Streaming: readStream
    over the batch directory → foreachBatch ships each epoch's record
    stream (the deployment shape BaseChangeConsumer.handleBatch runs in);
    the union of epochs equals the batch-mode record set and per-key order
    is preserved across epoch boundaries."""
    from debezium_spark import ChangeLogGenerator
    from debezium_spark.sink.server import to_change_records, write_change_records

    gen = ChangeLogGenerator(spark, seed=7, n_repos=5)
    bdir = str(tmp_path / "batches")
    # single-part batch files: the transport contract is *ordered batches*
    # (FIXTURES.md F2 — replay order = file order), so one stream file must
    # be one batch; multi-part dirs would let maxFilesPerTrigger=1 split a
    # batch across epochs in arbitrary part order.
    for b in range(3):
        gen.events(200, start_pos=b * 200).coalesce(1).write.parquet(
            f"{bdir}/batch_{b:05d}.parquet"
        )
    out_root = tmp_path / "epochs"

    def ship(df, epoch_id):
        if df.isEmpty():
            return
        write_change_records(to_change_records(df), str(out_root / f"e{epoch_id:03d}"))

    glob = f"{bdir}/batch_*"  # batch "files" are parquet directories
    q = (
        spark.readStream.schema(spark.read.parquet(glob).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(glob)
        .writeStream.foreachBatch(ship)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    epoch_dirs = sorted(out_root.iterdir())
    shipped = sum(spark.read.parquet(str(d)).count() for d in epoch_dirs)
    batch_rec = to_change_records(spark.read.parquet(glob))
    assert shipped == 600 == batch_rec.count()
    # per-key history order survives the epoch split: reading epochs in
    # order, each key's records appear in replay (offset-monotone) order
    import json

    per_key: dict[str, list[int]] = {}
    for edir in epoch_dirs:
        for r in (
            spark.read.parquet(str(edir))
            .orderBy("partition", "offset")
            .select("key", "value")
            .collect()
        ):
            pos = json.loads(r["value"])["source"]["pos"]
            per_key.setdefault(r["key"], []).append(pos)
    assert all(v == sorted(v) for v in per_key.values())


def test_write_change_records_partitions_by_destination(spark, tmp_path):
    from debezium_spark.operators.routing import by_logical_table_router
    from debezium_spark.sink.server import to_change_records, write_change_records

    env = _sink_env(spark)
    # two destinations via a router rewrite on half the rows
    env2 = by_logical_table_router(env, "^t1$", "t_all")
    rec = to_change_records(env2)
    out = str(tmp_path / "recs")
    write_change_records(rec, out)
    back = spark.read.parquet(out)
    assert back.count() == 5
    assert [r["destination"] for r in back.select("destination").distinct().collect()] == [
        "dbserver1.db1.t_all"
    ]


# ---- review-r5 regression tests: three-valued logic, identity, contracts ----


def test_mongodb_key_distinguishes_id_types(spark):
    """{_id: 1} and {_id: "1"} are DISTINCT MongoDB documents; the key must
    keep the _id's JSON type (JsonSerialization canonical form — review r5:
    get_json_object strips string quoting and collapsed them)."""
    from debezium_spark.sources.mongodb import change_stream_to_envelope

    rows = [
        ("insert", '{"_id": 1}', '{"_id": 1}', None, None, 1, 100),
        ("insert", '{"_id": "1"}', '{"_id": "1"}', None, None, 2, 200),
        ("insert", None, "{}", None, None, 3, 300),  # absent documentKey
        ("insert", '{"_id": {"n": 1, "t": "x"}}', "{}", None, None, 4, 400),
    ]
    cs = spark.createDataFrame(
        rows,
        "op_type string, doc_key string, full_doc string, updated_fields string,"
        " removed_fields array<string>, ord long, ts_ms long",
    )
    ids = [r["id"] for r in change_stream_to_envelope(cs).orderBy("source.pos").collect()]
    assert ids[0] == "1" and ids[1] == '"1"' and ids[0] != ids[1]
    assert ids[2] is None  # null/malformed documentKey → null key, no error
    assert ids[3] == '{"n":1,"t":"x"}'  # composite _id stays canonical JSON


def test_sqlserver_null_operation_is_pair_error_not_dropped(spark):
    """A null __$operation code must land in quarantine (pair_error=TRUE),
    not three-value out of BOTH sides of the pair_error split (review r5)."""
    from debezium_spark.sources.sqlserver import cdc_table_to_envelope

    extra = spark.createDataFrame(
        [(50, 1, None, 5000, "z", "z0")],
        "start_lsn long, seqval long, operation int, commit_ts_ms long, k string, v string",
    )
    env = cdc_table_to_envelope(_ct(spark).unionByName(extra), ["k", "v"])
    good = env.filter(~F.col("pair_error"))
    bad = env.filter(F.col("pair_error"))
    assert good.count() + bad.count() == env.count()  # nothing vanishes
    null_op = bad.filter(F.col("source.pos") == (50 << 20) + 1).collect()
    assert len(null_op) == 1 and null_op[0]["op"] is None


def test_logminer_null_rollback_flag_is_normal_row(spark):
    """A nullable rollback_flag (null = normal DML) must not three-value a
    committed event away (review r5 — the _next_rb side was already
    coalesced; the row's own flag was not)."""
    from debezium_spark.sources.oracle_logminer import redo_to_envelope

    rows = [
        (1, "tx1", 1, "t", "r1", None, 10, None, None, "k1", "v1"),
        (2, "tx1", 7, None, None, None, 11, None, None, None, None),
    ]
    redo = spark.createDataFrame(
        rows,
        "scn long, tx_id string, event_type int, tbl string, row_id string,"
        " rollback_flag int, ts_ms long, before_k string, before_v string,"
        " after_k string, after_v string",
    )
    env = redo_to_envelope(redo, ["k", "v"])
    assert env.count() == 1 and env.first()["op"] == "c"


def test_logminer_transaction_orders_are_per_transaction(spark):
    """transaction.total_order counts 1..N within the TRANSACTION, not the
    commit group (TransactionMonitor contract) — under group commit the
    commit-SCN sequence would interleave two transactions' counters
    (review r5). source.pos keeps the commit-group sequence for uniqueness."""
    from debezium_spark.sources.oracle_logminer import redo_to_envelope

    rows = [
        (1, "txA", 1, "t", "a1", 0, 10, None, None, "ka", "va"),
        (2, "txB", 1, "t", "b1", 0, 10, None, None, "kb", "vb"),
        (3, "txA", 1, "u", "a2", 0, 10, None, None, "ka2", "va2"),
        (500, "txA", 7, None, None, 0, 11, None, None, None, None),
        (500, "txB", 7, None, None, 0, 11, None, None, None, None),
    ]
    redo = spark.createDataFrame(
        rows,
        "scn long, tx_id string, event_type int, tbl string, row_id string,"
        " rollback_flag int, ts_ms long, before_k string, before_v string,"
        " after_k string, after_v string",
    )
    env = redo_to_envelope(redo, ["k", "v"])
    got = {
        (r["transaction"]["id"], r["scn"]): (
            r["transaction"]["total_order"],
            r["transaction"]["data_collection_order"],
        )
        for r in env.collect()
    }
    # txA's two events (different tables) count 1,2 in tx order, each table 1
    assert got[("txA", 1)] == (1, 1) and got[("txA", 3)] == (2, 1)
    assert got[("txB", 2)] == (1, 1)  # txB starts at 1, not 2
    # pos stays unique across the shared commit SCN
    pos = [r["source"]["pos"] for r in env.collect()]
    assert len(set(pos)) == 3


def test_tracing_skips_engine_tombstones(spark):
    """Engine tombstones carry op='d' + the _tombstone marker; the SMT must
    pass them through untraced (ActivateTracingSpan.java:118) instead of
    duplicating their delete's span ids (review r5)."""
    from debezium_spark.operators.tombstones import with_tombstones
    from debezium_spark.operators.tracing import activate_tracing_span

    env = with_tombstones(_sink_env(spark).filter(F.col("op").isNotNull()))
    out = activate_tracing_span(env)
    tombs = out.filter(F.coalesce(F.col("_tombstone"), F.lit(False))).collect()
    assert len(tombs) == 1 and tombs[0]["spans"] is None and tombs[0]["headers"] is None
    live = out.filter(~F.coalesce(F.col("_tombstone"), F.lit(False)))
    assert all(r["spans"] is not None for r in live.filter(F.col("op").isNotNull()).collect())


def test_tracing_sub_records_get_distinct_span_ids(spark):
    """PK-change splits share one source.pos distinguished by _sub; their
    spans must not collapse into one identity (review r5)."""
    from debezium_spark.operators.tracing import activate_tracing_span

    base = _sink_env(spark).filter(F.col("op").isNotNull()).limit(1)
    env = base.withColumn("_sub", F.lit(0)).unionByName(
        base.withColumn("_sub", F.lit(1))
    )
    out = activate_tracing_span(env).collect()
    ids = {(s["trace_id"], s["span_id"]) for r in out for s in r["spans"]}
    assert len(ids) == 4  # 2 records × 2 spans, all distinct


def test_change_records_null_marker_is_live(spark):
    """A null _tombstone marker (marker-less stream unioned into a marked
    one) is a LIVE record — a bare F.col three-values its value to null,
    shipping it as a deletion to compacting sinks (review r5)."""
    from debezium_spark.operators.tombstones import with_tombstones
    from debezium_spark.sink.server import to_change_records

    marked = with_tombstones(_sink_env(spark).filter(F.col("op") == "d"))
    plain = _sink_env(spark).filter(F.col("op") == "c")
    env = marked.unionByName(plain, allowMissingColumns=True)
    rec = to_change_records(env, n_partitions=1)
    live = rec.filter(F.col("value").isNotNull()).count()
    assert live == 3  # 1 delete + 2 creates; only the tombstone has null value
    assert rec.count() == 4


def test_change_records_consumes_document_envelope(spark):
    """debezium-server sinks consume the MongoDB connector too: the document
    envelope (no before/after structs, canonical-JSON id key) must flow
    through to_change_records (review r5 — it previously threw on the
    missing 'before' column)."""
    from debezium_spark.sink.server import to_change_records
    from debezium_spark.sources.mongodb import change_stream_to_envelope

    import json

    env = change_stream_to_envelope(_cs(spark))
    rec = to_change_records(env)
    # key struct {"id": <canonical json>}; the drop control event keys on
    # its own documentKey (_id 0)
    keys = {r["key"] for r in rec.collect()}
    assert keys == {'{"id":"1"}', '{"id":"0"}'}
    # all four _id=1 events share the key → one partition, offsets 0..3
    recs = sorted(
        rec.filter(F.col("key") == '{"id":"1"}').collect(), key=lambda r: r["offset"]
    )
    assert [r["offset"] for r in recs] == [0, 1, 2, 3]
    val = json.loads(recs[0]["value"])
    assert val["op"] == "c" and json.loads(val["after"])["name"] == "n1"
    assert "id" not in val  # the key rides the key, not the value
    # the control event (op=null) still ships with a non-null value
    ctrl = rec.filter(F.col("key") == '{"id":"0"}').collect()
    assert len(ctrl) == 1 and ctrl[0]["value"] is not None
    # a null documentKey takes the null-key sentinel
    nk = to_change_records(
        env.withColumn("id", F.lit(None).cast("string"))
    ).select("key").distinct().collect()
    assert [r["key"] for r in nk] == ["default"]


def test_sink_dialect_kwarg_guards(spark):
    from debezium_spark.sink.server import to_kinesis_records, to_redis_stream_entries

    env = _sink_env(spark)
    with pytest.raises(ValueError, match="stream_prefix"):
        to_kinesis_records(env, topic_prefix="x")
    with pytest.raises(ValueError, match="single shard"):
        to_redis_stream_entries(env, n_partitions=2)


def _replay_kv_envelope(spark, env, tmp_path):
    """Replay a (k, v)-payload connector envelope through the real engine
    (k → repo, v → content); returns the engine."""
    from debezium_spark import CdcEngine, LakeTable

    def pad(side):
        return F.when(
            F.col(side).isNotNull(),
            F.struct(
                F.col(f"{side}.k").alias("repo"), F.lit("p").alias("path"),
                F.lit("c").alias("commit"), F.lit("sql").alias("lang"),
                F.col(f"{side}.v").alias("content"),
            ),
        )

    binlog = tmp_path / "binlog"
    env.select(
        pad("before").alias("before"), pad("after").alias("after"),
        "op", "ts_ms", "source", "transaction",
    ).coalesce(1).write.parquet(str(binlog / "batch_00000.parquet"))
    table = LakeTable(spark, str(tmp_path / "table"), ["repo", "path"], n_buckets=2)
    engine = CdcEngine(spark, table)
    assert engine.replay(str(binlog)) != []
    return engine


def test_sqlserver_over_budget_lsn_quarantines_not_fails(spark, tmp_path):
    """An LSN at 2^43 overflows the long pos (start_lsn * 2^20 + seqval);
    under ANSI that raised ARITHMETIC_OVERFLOW and failed the whole batch,
    so one poison row wedged the stream. The row must get a null pos and
    quarantine as a null offset while the rest of the batch applies."""
    from debezium_spark.sources.sqlserver import cdc_table_to_envelope

    ct = spark.createDataFrame(
        [(1 << 43, 1, 2, 1000, "x", "x0"), (10, 1, 2, 1000, "a", "a0")],
        "start_lsn long, seqval long, operation int, commit_ts_ms long,"
        " k string, v string",
    )
    env = cdc_table_to_envelope(ct, ["k", "v"]).filter(~F.col("pair_error"))
    pos = {r["after"]["k"]: r["source"]["pos"] for r in env.collect()}
    assert pos == {"x": None, "a": (10 << 20) + 1}
    engine = _replay_kv_envelope(spark, env, tmp_path)
    assert [(r["repo"], r["content"]) for r in engine.table.read().collect()] == [("a", "a0")]
    assert [r["reason"] for r in engine.read_quarantine().collect()] == ["null_offset"]


def test_logminer_over_budget_scn_quarantines_not_fails(spark, tmp_path):
    """A commit SCN at 2^43 overflows the long pos (commit_scn * 2^20 +
    seq): the row gets a null pos and quarantines as a null offset instead
    of failing the batch with ARITHMETIC_OVERFLOW."""
    from debezium_spark.sources.oracle_logminer import redo_to_envelope

    big = 1 << 43
    redo = spark.createDataFrame(
        [
            (101, "tx1", 1, "t", "r1", 0, 1001, None, None, "a", "a0"),
            (150, "tx1", 7, None, None, 0, 1050, None, None, None, None),
            (big - 5, "txB", 1, "t", "r2", 0, 1100, None, None, "x", "x0"),
            (big, "txB", 7, None, None, 0, 1101, None, None, None, None),
        ],
        "scn long, tx_id string, event_type int, tbl string, row_id string,"
        " rollback_flag int, ts_ms long, before_k string, before_v string,"
        " after_k string, after_v string",
    )
    env = redo_to_envelope(redo, ["k", "v"])
    pos = {r["after"]["k"]: r["source"]["pos"] for r in env.collect()}
    assert pos == {"x": None, "a": (150 << 20) + 1}
    engine = _replay_kv_envelope(spark, env, tmp_path)
    assert [(r["repo"], r["content"]) for r in engine.table.read().collect()] == [("a", "a0")]
    assert [r["reason"] for r in engine.read_quarantine().collect()] == ["null_offset"]
