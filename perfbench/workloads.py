"""The workloads. Each one generates its inputs from the seed (before any
clock starts), constructs its engine several times and then once more for
the run, warms it up through the same public calls it times (set-up), runs
a fixed amount of timed work sized by ``--seconds``, scans its tables, and
checks them against the oracle.

Why each workload exists, and which layer metric should move which
end-to-end metric on which workload, is recorded in ``perfbench/DESIGN.md``.
"""

from __future__ import annotations

import os
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

from perfbench import harness, inputs, oracle, stats

#: payload shape of trickle_stream
SHAPE = dict(n_repos=200, dirs=50, files=100, content_words=16)
KEY_COLS = ["repo", "path"]
#: engine/table constructions timed per run; set-up reports their median
CONSTRUCTIONS = 3
#: untimed scans before the timed ones: on multi_table_sink the first scan
#: after the one that takes the first read of the final files was still up
#: to 50% slower than the next two
SCAN_WARM = 2
SCAN_REPEATS = 3


class Workload:
    name = ""

    def __init__(self, seed: int, seconds: int, work: str) -> None:
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.ledger = stats.FailureLedger()
        self.samples: dict[str, object] = {}
        self.input_bytes = 0
        self.stored_bytes = 0
        self.tracer = None
        #: per-layer figures that belong to no span
        self.extra: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # ---- the steps run.py calls, in order ----------------------------------

    def generate(self, con) -> None:
        raise NotImplementedError

    def construct(self, spark, root: str):
        """A fresh engine (and its tables) under ``root``."""
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """Build the engine the timed work uses and warm it up through
        every public call the timed work makes (the rest of set-up)."""
        raise NotImplementedError

    def timed(self, spark) -> dict:
        raise NotImplementedError

    def tables(self) -> dict:
        """{oracle table name: LakeTable} of the timed run."""
        raise NotImplementedError

    def envelope_paths(self) -> list[str]:
        raise NotImplementedError

    def sink_digests(self, spark) -> dict:
        return {}

    def end_window(self) -> None:
        """Close the timed window: record the bytes the tables hold on disk,
        then commit the open tail transaction waiting in the carry.

        The flush is a shutdown step: its few events touch a seed-dependent
        subset of buckets, which shifts which compacted bases the last
        versions keep (up to 15% of ``trickle_stream``'s bytes). So the
        space metric is taken from the state a running stream keeps."""
        self.stored_bytes = sum(harness.dir_bytes(t.root) for t in self.tables().values())
        self.engine.flush_tx_carry()

    def close(self) -> None:
        """Release what the workload holds outside Spark."""

    # ---- shared helpers ------------------------------------------------

    def scan(self) -> dict[str, tuple[int, int, int]]:
        """Full read of every table plus the hash aggregate."""
        out = {}
        for name, table in self.tables().items():
            if self.tracer is not None:
                with self.tracer.span("plans.table.read"):
                    out[name] = oracle.digest(table.read())
            else:
                out[name] = oracle.digest(table.read())
        return out

    def timed_scans(self) -> dict[str, tuple[int, int, int]]:
        """``SCAN_WARM`` untimed scans (the first reads the final files),
        then ``SCAN_REPEATS`` back-to-back timed scans; each time is kept."""
        for _ in range(SCAN_WARM):
            self.scan()
        times = []
        for _ in range(SCAN_REPEATS):
            t0 = time.perf_counter()
            result = self.scan()
            times.append(time.perf_counter() - t0)
        self.samples["scan_s"] = times
        return result

    def check(self, spark, con, lake: dict, sink: dict) -> bool:
        """Compare every lake table and sink target with the oracle."""
        opath = self.path("oracle.parquet")
        oracle.write_oracle(con, self.envelope_paths(), opath)
        want = oracle.oracle_digests(spark, opath)
        got = {f"lake:{k}": v for k, v in lake.items()}
        got.update({f"sink:{k}": v for k, v in sink.items()})
        bad = []
        for target, digest in sorted(got.items()):
            expect = want.get(target.split(":", 1)[1], (0, 0, 0))
            if digest != expect:
                bad.append(f"{target}: got {digest}, oracle {expect}")
        self.ledger.add("table", len(got), len(bad))
        for line in bad:
            print(f"perfbench: MISMATCH {line}", file=sys.stderr)
        self.samples["digests"] = {k: list(v) for k, v in sorted(got.items())}
        return not bad

    def count_quarantined(self) -> int:
        import pyarrow.parquet as pq

        n = 0
        for table in self.tables().values():
            for r, _dirs, files in os.walk(os.path.join(table.root, "quarantine")):
                n += sum(pq.ParquetFile(os.path.join(r, f)).metadata.num_rows
                         for f in files if f.endswith(".parquet"))
        return n

    def apply_guarded(self, fn, *args, **kwargs):
        """Run one batch apply, counting it; a raised error is a failure."""
        try:
            out = fn(*args, **kwargs)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.ledger.add("batch_apply", 1, 1)
            return None
        self.ledger.add("batch_apply", 1, 0)
        return out

    def latency_metrics(self, latencies: list[float]) -> dict:
        t = stats.tail(latencies, 90.0)
        self.samples["commit_latency_s"] = latencies
        self.samples["commit_tail"] = t
        return {"commit_p50_s": stats.median(latencies), "commit_p90_s": t["value"]}


# ---- trickle_stream ---------------------------------------------------------------


class TrickleStream(Workload):
    """Freshness: one long-lived MoR table with history, tailed by Structured
    Streaming one small file per epoch."""

    name = "trickle_stream"
    #: not a multiple of the 10-event transactions: every epoch defers an
    #: open tail transaction through the carry
    BATCH_EVENTS = 2_005
    #: the table's history, replayed as one batch during set-up
    HISTORY_EVENTS = 10_000
    WARM_EPOCHS = 2
    N_BUCKETS = 4
    COMPACT_DEPTH = 4
    EXPIRE_KEEP = 4

    def generate(self, con) -> None:
        # 5 epochs at --seconds 10 (~3 s per epoch on a 4-CPU host)
        self.n_epochs = max(3, round(self.seconds * 0.5))
        self.history_dir = self.path("in", "history")
        self.history = inputs.write_envelope_batches(
            con, self.history_dir, self.seed, 0, [self.HISTORY_EVENTS], SHAPE,
            parts=harness.SLOTS)
        sizes = [self.BATCH_EVENTS] * (self.WARM_EPOCHS + self.n_epochs)
        self.files = inputs.write_envelope_batches(
            con, self.path("in", "stream"), self.seed, self.HISTORY_EVENTS, sizes, SHAPE)
        self.stream_dir = self.path("stream")
        os.makedirs(self.stream_dir)
        self.input_bytes = sum(harness.dir_bytes(os.path.dirname(p))
                               for p in (self.history[0], self.files[0]))

    def construct(self, spark, root: str):
        from debezium_spark import CdcEngine, LakeTable

        table = LakeTable(spark, root, KEY_COLS, n_buckets=self.N_BUCKETS, mode="mor")
        return CdcEngine(spark, table, compact_depth=self.COMPACT_DEPTH,
                         expire_keep=self.EXPIRE_KEEP)

    def tables(self):
        return {"repo_files": self.engine.table}

    def _publish(self, files: list[str]) -> None:
        """Files appear in the tailed directory whole and in offset order."""
        for f in files:
            os.replace(f, os.path.join(self.stream_dir, os.path.basename(f)))

    def _stream(self, spark):
        from debezium_spark.streaming.structured import stream_replay

        query = stream_replay(spark, self.engine, self.stream_dir, self.path("ckpt"),
                              max_files_per_trigger=1)
        query.awaitTermination()
        return query

    def prepare(self, spark) -> None:
        """The long-lived table: history, then a few warm-up epochs."""
        self.engine = self.construct(spark, harness.fresh_dir(self.path("table")))
        self.engine.replay(self.history_dir, final=False)
        self._publish(self.files[:self.WARM_EPOCHS])
        self._stream(spark)
        oracle.digest(self.engine.table.read())
        self._publish(self.files[self.WARM_EPOCHS:])

    def timed(self, spark) -> dict:
        query = self.apply_guarded(self._stream, spark)
        epochs = [p for p in (query.recentProgress if query is not None else [])
                  if p["numInputRows"] > 0]
        lat = [p["durationMs"]["triggerExecution"] / 1000.0 for p in epochs]
        overhead = [(p["durationMs"]["triggerExecution"]
                     - p["durationMs"].get("addBatch", 0)) / 1000.0 for p in epochs]
        window = sum(lat)
        self.samples["apply_window_s"] = [window]
        self.samples["epoch_overhead_s"] = overhead
        self.extra["streaming.structured.epoch_overhead_s"] = (
            stats.median(overhead) if overhead else 0.0)
        if len(epochs) != self.n_epochs:
            print(f"perfbench: {len(epochs)} epochs for {self.n_epochs} files",
                  file=sys.stderr)
            self.ledger.add("batch_apply", 1, 1)
        # every epoch commits up to the start of its last transaction, which
        # waits in the carry for the next epoch
        end = self.HISTORY_EVENTS + self.BATCH_EVENTS * (self.WARM_EPOCHS + self.n_epochs)
        warm_end = end - self.BATCH_EVENTS * self.n_epochs
        committed = inputs.tail_tx_start(end) - inputs.tail_tx_start(warm_end)
        self.end_window()
        self.ledger.add("event", end, self.count_quarantined())
        return {"apply_events_per_s": committed / window if window else 0.0,
                **self.latency_metrics(lat)}

    def envelope_paths(self):
        return ([os.path.join(self.history[0], "*.parquet")]
                + [os.path.join(self.stream_dir, os.path.basename(f)) for f in self.files])


# ---- multi_table_sink -------------------------------------------------------------


class MultiTableSink(Workload):
    """Migration: binary frames decoded by ``sources.wire``, routed by
    ``MultiTableEngine`` into one CoW and one MoR table, and the same batches
    turned into per-table SQL statement streams applied to DuckDB."""

    name = "multi_table_sink"
    N_TABLES = 2
    BATCH_EVENTS = 505
    WARM_EVENTS = 205
    N_BUCKETS = 4
    COMPACT_DEPTH = 2
    MAX_PARALLEL_TABLES = 3

    def generate(self, con) -> None:
        # 3 batches at --seconds 10 (~4.5 s of decode and routed apply per
        # batch on a 4-CPU host, then ~10 s of sink generation and apply
        # for all three)
        self.n_batches = max(3, round(self.seconds * 0.3))
        stream = inputs.ConsistentStream(self.seed, self.N_TABLES)
        os.makedirs(self.path("in"))
        self.batches = []
        for i in range(1 + self.n_batches):
            env = self.path("in", f"env_{i:05d}.parquet")
            frames = self.path("in", f"frames_{i:05d}")
            n = self.WARM_EVENTS if i == 0 else self.BATCH_EVENTS
            self.input_bytes += inputs.write_stream_batch(
                stream.events(n), env, frames, harness.SLOTS)
            self.batches.append((env, frames))
        # batch 0 warms up every timed call during set-up
        self.warm, self.batches = self.batches[0], self.batches[1:]

    def _specs(self):
        from debezium_spark.schema import REPO_PAYLOAD_SCHEMA
        from debezium_spark.streaming.multi import TableSpec

        half = self.N_TABLES // 2
        return [TableSpec("app", f"t{k}", REPO_PAYLOAD_SCHEMA, KEY_COLS,
                          n_buckets=self.N_BUCKETS, mode="cow" if k < half else "mor")
                for k in range(self.N_TABLES)]

    def construct(self, spark, root: str):
        from debezium_spark import MultiTableEngine

        return MultiTableEngine(spark, root, self._specs(),
                                compact_depth=self.COMPACT_DEPTH,
                                max_parallel_tables=self.MAX_PARALLEL_TABLES,
                                auto_register=False)

    def _decode(self, spark, frames_dir: str):
        """Decoded once per batch: the lake engine and the sink both read it."""
        from debezium_spark.schema import REPO_PAYLOAD_SCHEMA
        from debezium_spark.sources.wire import decode_binary_wire

        env = decode_binary_wire(spark.read.parquet(frames_dir), REPO_PAYLOAD_SCHEMA)
        env = env.persist()
        env.count()
        return env

    def _targets(self, con) -> None:
        con.execute("create schema sink")
        for k in range(self.N_TABLES):
            con.execute(f'create table sink.t{k} (repo varchar, path varchar, '
                        '"commit" varchar, lang varchar, content varchar)')

    def _sink(self, con, env, batch_id: int) -> tuple[int, int, int]:
        """One statement batch per table channel, each applied on its own
        DuckDB session (at most nproc at once). Returns (statements,
        transactions applied, transactions diverted to fail.sql)."""
        import debezium_spark.sink.replay as sink_replay
        from debezium_spark.streaming.multi import envelope_to_wire

        out_root = self.path("stmts")
        t0 = time.perf_counter()
        # the sink's wire input, cached in one partition per task slot
        # however many batches ``env`` unions: each of the sink's
        # per-channel branches costs a task per input partition, and its
        # plan grows with the plan of its input
        wire = envelope_to_wire(env).coalesce(harness.SLOTS).persist()
        try:
            wire.count()
            counts = sink_replay.write_statement_streams(
                wire, self._specs(), out_root, batch_id,
                schema_mapping={"app": "sink"})
        finally:
            wire.unpersist()
        self.samples.setdefault("sink_generate_s", []).append(time.perf_counter() - t0)
        dirs = [os.path.join(out_root, f"{db}.{t}", f"batch-{batch_id:06d}")
                for (db, t) in sorted(counts)]

        def apply(d: str):
            cur = con.cursor()
            try:
                return sink_replay.apply_statement_stream(d, cur.execute,
                                                          progress_every=1000)
            finally:
                cur.close()

        with ThreadPoolExecutor(max_workers=min(os.cpu_count() or 1, len(dirs))) as pool:
            results = list(pool.map(apply, dirs))
        return (sum(counts.values()), sum(r[0] for r in results),
                sum(r[1] for r in results))

    def prepare(self, spark) -> None:
        """Engine and sink targets, warmed up on the stream's first batch."""
        import duckdb

        self.engine = self.construct(spark, harness.fresh_dir(self.path("lake")))
        self.con = duckdb.connect()
        self._targets(self.con)
        env = self._decode(spark, self.warm[1])
        try:
            self.apply_guarded(self.engine.apply_envelope_batch, env, "warm")
            self._sink_checked(env, 0)
        finally:
            env.unpersist()
        for t in self.tables().values():
            oracle.digest(t.read())

    def _sink_checked(self, env, batch_id: int) -> int:
        n, ok, failed = self._sink(self.con, env, batch_id)
        self.ledger.add("sink_tx", ok + failed, failed)
        return n

    def timed(self, spark) -> dict:
        apply_lat, envs = [], []
        try:
            for i, (_env, frames) in enumerate(self.batches):
                t0 = time.perf_counter()
                env = self._decode(spark, frames)
                envs.append(env)
                self.apply_guarded(self.engine.apply_envelope_batch, env, f"b{i:05d}")
                apply_lat.append(time.perf_counter() - t0)
            # the sink replays the same batches as one statement batch
            t0 = time.perf_counter()
            union = envs[0]
            for env in envs[1:]:
                union = union.unionByName(env)
            n = self._sink_checked(union, 1)
            sink_s = time.perf_counter() - t0
        finally:
            for env in envs:
                env.unpersist()
        # the engine is tx-aligned: each batch commits up to the start of
        # its last transaction, which waits in the carry for the next batch
        end = self.WARM_EVENTS + self.BATCH_EVENTS * self.n_batches
        committed = inputs.tail_tx_start(end) - inputs.tail_tx_start(self.WARM_EVENTS)
        self.end_window()
        self.ledger.add("event", end, self.count_quarantined())
        self.samples["apply_window_s"] = [sum(apply_lat)]
        self.samples["sink_s"] = [sink_s]
        self.sink_stmts_per_s = n / sink_s
        self.extra["sink.statements"] = n
        self.extra["sink.tx_failed"] = self.ledger.failed["sink_tx"]
        return {"apply_events_per_s": committed / sum(apply_lat),
                **self.latency_metrics(apply_lat)}

    def tables(self):
        return {t: self.engine.table("app", t) for (_db, t) in sorted(self.engine.engines)}

    def envelope_paths(self):
        return [env for env, _ in [self.warm] + self.batches]

    def sink_digests(self, spark) -> dict:
        out = {}
        for k in range(self.N_TABLES):
            p = self.path(f"sink_t{k}.parquet")
            self.con.execute(f"COPY sink.t{k} TO '{p}' (FORMAT parquet)")
            out[f"t{k}"] = oracle.digest(spark.read.parquet(p))
        return out

    def decode_pass(self, spark) -> float:
        """Isolated decode of every timed batch into a no-op sink."""
        from debezium_spark.schema import REPO_PAYLOAD_SCHEMA
        from debezium_spark.sources.wire import decode_binary_wire

        t0 = time.perf_counter()
        for _env, frames in self.batches:
            decode_binary_wire(spark.read.parquet(frames), REPO_PAYLOAD_SCHEMA) \
                .write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def close(self) -> None:
        if getattr(self, "con", None) is not None:
            self.con.close()


WORKLOADS = {w.name: w for w in (TrickleStream, MultiTableSink)}
