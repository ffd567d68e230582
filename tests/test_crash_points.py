"""Crash-point sweep: kill the driver at EVERY manifest-publish boundary
during a replay, restart, and require byte-identical convergence.

The engine's exactly-once story is fence-in-commit: ``LakeTable._publish``
is the single atomic commit point (numbered manifest + LATEST pointer
swap), so the complete space of crash outcomes is "crashed before the
k-th publish, for every k" — data files may exist unreferenced, the carry
may be stale, a multi-segment DDL batch may be half-committed, but a
restart must converge to the uncrashed run's exact state. The reference
argues the same property batch-wise via its breakpoint ledger
(``BreakPointRecord.java``); this sweep proves it at every commit
boundary rather than sampling one mid-stream restart.
"""

from __future__ import annotations

import hashlib
import os

import pytest

from debezium_spark import ChangeLogGenerator, CdcEngine, LakeTable
from debezium_spark.plans.table import LakeTable as _LT

N_EVENTS = 1200
N_BATCHES = 4


def _sha_state(table):
    return {
        (r["repo"], r["path"]): hashlib.sha256(r["content"].encode()).hexdigest()
        for r in table.read().collect()
    }


class _Boom(RuntimeError):
    pass


def _run_with_crash(spark, root, batch_dir, crash_after: int, monkeypatch, mode="mor"):
    """Replay with a crash injected before the (crash_after+1)-th publish;
    returns the table (possibly mid-stream). crash_after=None → no crash."""
    table = LakeTable(spark, root, ["repo", "path"], n_buckets=4, mode=mode)
    engine = CdcEngine(spark, table)
    calls = {"n": 0}
    real = _LT._publish

    def wedge(self, man):
        if calls["n"] >= crash_after:
            raise _Boom(f"crash before publish #{calls['n']}")
        calls["n"] += 1
        return real(self, man)

    monkeypatch.setattr(_LT, "_publish", wedge)
    try:
        with pytest.raises(_Boom):
            engine.replay(batch_dir)
    finally:
        monkeypatch.setattr(_LT, "_publish", real)
    return table


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_crash_at_every_publish_point_converges(spark, tmp_path, monkeypatch, mode):
    """Swept per write mode: a copy-on-write commit folds the touched
    buckets before its publish, so a crash there leaves the fold's output
    and the staged delta as orphans."""
    gen = ChangeLogGenerator(spark, seed=23, n_repos=10)
    batch_dir = str(tmp_path / "batches")
    gen.write_batches(batch_dir, N_EVENTS, n_batches=N_BATCHES)

    # ground truth: one uncrashed replay
    clean = LakeTable(spark, str(tmp_path / "clean"), ["repo", "path"], n_buckets=4,
                      mode=mode)
    CdcEngine(spark, clean).replay(batch_dir)
    want = _sha_state(clean)
    want_fence = clean.fence()

    # count the REPLAY-time publish points (v0 is the pre-replay create,
    # done before the crash patch engages): versions v1..vN
    n_publishes = clean.manifest()["version"]
    assert n_publishes >= N_BATCHES

    for k in range(n_publishes):
        root = str(tmp_path / f"crash_{k}")
        table = _run_with_crash(spark, root, batch_dir, k, monkeypatch, mode)
        # restart: fresh engine on the same table root, replay to the end
        engine2 = CdcEngine(spark, table)
        engine2.replay(batch_dir)
        assert _sha_state(table) == want, f"diverged after crash at publish {k}"
        assert table.fence() == want_fence, f"fence diverged at publish {k}"
        # and a further replay is a no-op (exactly-once held through the
        # crash-resume cycle)
        assert engine2.replay(batch_dir) == []


@pytest.mark.parametrize("path", ["replay", "stream", "multi"])
def test_crash_during_tx_carry_persistence_converges(spark, tmp_path, monkeypatch, path):
    """The carry write is NOT a manifest publish: it runs on the carry
    writer thread while the closed part commits, and its pending directory
    becomes the next carry version only after the commits. Two crash
    points: inside the write (nothing written), and after the write
    finished but before the publish (a complete pending directory left on
    disk). Either way the restart resumes from the carry as it was before
    the step: stale pending directories are removed, the re-read batch
    regenerates the identical carry (deterministic split) and the fence
    dedupes the re-applied closed part. Swept over every path the
    tail-transaction planner serves: ``replay`` re-reads its batch files; a
    stream epoch (``apply_stream_batch``) and a multi-table wire batch
    (``apply_wire_batch``) are redelivered after the restart, as a
    checkpoint that never committed the epoch would."""
    import pyspark.sql.functions as F

    from debezium_spark import MultiTableEngine
    from debezium_spark.schema import REPO_PAYLOAD_SCHEMA
    from debezium_spark.streaming.multi import TableSpec, envelope_to_wire

    gen = ChangeLogGenerator(spark, seed=31, n_repos=8)
    env = gen.events(600)
    # stamp transaction ids so the tail-tx split engages: 50-event txs
    env = env.withColumn(
        "transaction",
        F.struct(
            F.concat(F.lit("tx-"), (F.col("source.pos") / 50).cast("long").cast("string")).alias("id"),
            F.lit(0).cast("long").alias("total_order"),
            F.lit(0).cast("long").alias("data_collection_order"),
        ),
    )
    bdir = tmp_path / "batches"
    # split mid-tx: batch 0 ends inside tx-5 (pos 275), so its tail defers
    env.where(F.col("source.pos") <= 275).write.parquet(str(bdir / "batch_00000.parquet"))
    env.where(F.col("source.pos") > 275).write.parquet(str(bdir / "batch_00001.parquet"))
    epochs = [spark.read.parquet(str(bdir / f"batch_{i:05d}.parquet")) for i in (0, 1)]

    def start(root):
        """(engine, its table, one run over the input → commit results)."""
        if path == "multi":
            spec = TableSpec("inventory", "repo_files", REPO_PAYLOAD_SCHEMA,
                             ["repo", "path"], n_buckets=4)
            mte = MultiTableEngine(spark, root, [spec], max_parallel_tables=1)

            def run():
                out = [mte.apply_wire_batch(envelope_to_wire(e), f"e{i}")
                       for i, e in enumerate(epochs)]
                return [v for d in out + [mte.flush_tx_carry()] for v in d.values()]
            return mte, mte.table("inventory", "repo_files"), run
        table = LakeTable(spark, root, ["repo", "path"], n_buckets=4)
        engine = CdcEngine(spark, table)
        if path == "replay":
            return engine, table, lambda: engine.replay(str(bdir))

        def run():
            out = [engine.apply_stream_batch(e, f"epoch_{i:05d}")
                   for i, e in enumerate(epochs)]
            return out + [engine.flush_tx_carry()]
        return engine, table, run

    _, clean, run = start(str(tmp_path / "clean"))
    run()
    want = _sha_state(clean)

    from debezium_spark.streaming import engine as eng_mod

    real = eng_mod.persist_tx_carry
    for crash in ("write", "publish"):
        root = str(tmp_path / crash)
        _, table, run = start(root)
        calls = {"n": 0}

        def wedge(*args, **kwargs):
            if calls["n"]:
                return real(*args, **kwargs)
            calls["n"] += 1  # first carry write = during batch 0's commit
            if crash == "publish":
                real(*args, **kwargs)
            raise _Boom(f"crash before the carry {crash}")

        monkeypatch.setattr(eng_mod, "persist_tx_carry", wedge)
        try:
            with pytest.raises(_Boom):
                run()
        finally:
            monkeypatch.setattr(eng_mod, "persist_tx_carry", real)
        assert calls["n"] == 1
        # the carry of every path lives under the root it was started on
        carry_dir = os.path.join(root, "_tx_carry")
        left = os.listdir(carry_dir) if os.path.isdir(carry_dir) else []
        assert not any(n.startswith("v") for n in left), (crash, left)
        assert any(n.startswith(eng_mod.PENDING) for n in left) == (crash == "publish")

        _, table, run = start(root)  # restart; the input is redelivered
        run()
        assert _sha_state(table) == want, crash
        # a second run commits nothing (exactly-once held through the crash)
        assert [v for v in run() if v is not None] == [], crash
        assert _sha_state(table) == want, crash
        left = os.listdir(carry_dir) if os.path.isdir(carry_dir) else []
        assert not any(n.startswith(eng_mod.PENDING) for n in left), (crash, left)


def test_crash_before_each_catalog_append_converges(spark, tmp_path, monkeypatch):
    """Catalog-ledger crash sweep: ``_catalog.jsonl`` is the multi-table
    engine's other commit point (append before apply). Crash before EACH
    catalog append of one DDL-bearing wire batch — CREATE with a DEFAULT,
    RENAME, RENAME into a new database then CREATE there, DROP, and a
    same-batch DROP;CREATE — restart with the original static specs and
    redeliver the batch: the registry (specs, roots, retired and
    ledger-derived sets), every table's rows and the set of table
    directories on disk must equal the uncrashed run's, and a second
    redelivery must commit nothing."""
    import json
    import os

    from pyspark.sql.types import StructType

    from debezium_spark import MultiTableEngine
    from debezium_spark.operators.schema_evolution import ledger_read
    from debezium_spark.streaming import multi as multi_mod
    from debezium_spark.streaming.multi import WIRE_SCHEMA, TableSpec

    statics = [
        TableSpec("app", t, StructType.fromDDL(ddl), [k], n_buckets=2)
        for t, ddl, k in [("users", "uid long, name string", "uid"),
                          ("audit", "aid long, msg string", "aid"),
                          ("logs", "lid long", "lid"),
                          ("sess", "sid long, v string", "sid")]
    ]

    def row(pos, db, table, op, after):
        return {"before_json": None, "after_json": after, "op": op,
                "ts_ms": 1000 + pos,
                "source": {"file": "binlog.000001", "pos": pos, "gtid": None,
                           "snapshot": None, "db": db, "table": table,
                           "ts_ms": 1000 + pos},
                "transaction": None}

    def ddl(pos, db, table, sql):
        return row(pos, db, table, "l", json.dumps({"content": sql}))

    batch = spark.createDataFrame([
        row(1, "app", "users", "c", '{"uid": 1, "name": "ada"}'),
        ddl(2, "app", "orders", "CREATE TABLE app.orders (order_no BIGINT,"
            " v VARCHAR(10) DEFAULT 'n', PRIMARY KEY (order_no))"),
        row(3, "app", "orders", "c", '{"order_no": 7, "v": "a"}'),
        ddl(4, "app", "users", "RENAME TABLE app.users TO app.accounts"),
        row(5, "app", "audit", "c", '{"aid": 10, "msg": "boot"}'),
        ddl(6, "app", "audit", "RENAME TABLE app.audit TO newdb.audit2"),
        ddl(7, "newdb", "items",
            "CREATE TABLE newdb.items (iid BIGINT, PRIMARY KEY (iid))"),
        row(8, "newdb", "items", "c", '{"iid": 3}'),
        row(9, "app", "logs", "c", '{"lid": 1}'),
        ddl(10, "app", "logs", "DROP TABLE app.logs"),
        row(11, "app", "sess", "c", '{"sid": 1, "v": "old"}'),
        ddl(12, "app", "sess", "DROP TABLE app.sess;"
            " CREATE TABLE app.sess (sid BIGINT, w INT, PRIMARY KEY (sid))"),
        row(13, "app", "sess", "c", '{"sid": 2, "w": 5}'),
    ], WIRE_SCHEMA)

    def start(lake):
        return MultiTableEngine(spark, lake, statics, default_buckets=2)

    def registry(mte, lake):
        return {
            "specs": {k: (s.payload_schema.json(), s.key_cols, s.n_buckets, s.mode)
                      for k, s in mte.specs.items()},
            "roots": {k: os.path.relpath(e.table.root, lake)
                      for k, e in mte.engines.items()},
            "retired": set(mte.retired),
            "ledgered": set(mte._ledgered),
        }

    def state(mte, lake):
        return {**registry(mte, lake),
                "rows": {fqn: sorted(repr(tuple(r)) for r in df.collect())
                         for fqn, df in mte.read_all().items()}}

    def committed(out):
        return [v for v in out.values() if v is not None]

    def table_dirs(lake):
        # every lake table directory, archived (@dropped.N) and fresh
        # (@gen.N) incarnations included
        return {os.path.relpath(d, lake)
                for d, subdirs, _ in os.walk(lake) if "_manifests" in subdirs}

    lake = str(tmp_path / "clean")
    mte = start(lake)
    mte.apply_wire_batch(batch, "b0")
    want = state(mte, lake)
    want_registry = registry(mte, lake)
    assert set(want["specs"]) == {("app", "orders"), ("app", "accounts"),
                                  ("newdb", "audit2"), ("newdb", "items"),
                                  ("app", "sess")}
    assert want["rows"]["app.accounts"] == [repr((1, "ada"))]
    assert want["rows"]["app.sess"] == [repr((1, None)), repr((2, 5))]
    assert want["retired"] == {("app", "logs")}
    n_appends = len(ledger_read(os.path.join(lake, "_catalog.jsonl"))[1])
    assert n_appends == 7
    assert committed(mte.apply_wire_batch(batch, "b0")) == []
    want_dirs = table_dirs(lake)

    real = multi_mod.ledger_append
    for k in range(n_appends):
        lake = str(tmp_path / f"crash_{k}")
        calls = {"n": 0}

        def wedge(path, entry):
            if calls["n"] == k:
                raise _Boom(f"crash before catalog append #{k}")
            calls["n"] += 1
            return real(path, entry)

        monkeypatch.setattr(multi_mod, "ledger_append", wedge)
        try:
            with pytest.raises(_Boom):
                start(lake).apply_wire_batch(batch, "b0")
        finally:
            monkeypatch.setattr(multi_mod, "ledger_append", real)
        mte = start(lake)  # restart; the batch is redelivered
        mte.apply_wire_batch(batch, "b0")
        assert state(mte, lake) == want, f"diverged after crash before append {k}"
        # a second redelivery commits nothing, so the rows stay as checked
        assert committed(mte.apply_wire_batch(batch, "b0")) == [], k
        assert registry(mte, lake) == want_registry, k
        # a restart creates no table the catalog has retired or re-keyed
        assert table_dirs(lake) == want_dirs, k
