"""Sink apply-rate bench: table-parallel statement replay into a real SQL
engine, at the reference's own published config.

The reference's headline sink number is ~30k tps measured in TABLE-PARALLEL
replay mode at 50 tables / 50 work threads on a 2-socket Kunpeng-920
(``/root/reference/README.md:407,691``). This experiment reproduces that
shape end-to-end: a mixed 50-table wire batch → ``write_statement_streams``
in table-parallel mode (one order-safe channel per table, ``TableReplayTask``
analog, every channel's range-ordered statement files in one write action)
→ ``apply_statement_stream`` on N concurrent DuckDB sessions
(one per table channel, ``duckdb.Connection.cursor()`` per thread — the
documented multi-thread pattern).

Reported per thread-count: statements/sec and events/sec through the FULL
apply loop (unit grouping, per-tx begin/commit, breakpoint persistence,
counts). Running the same apply at 1 thread and N threads on the same files
is the two-parallelism scaling point for the sink path (north-rule shape).

Usage: python tools/bench_sink_apply.py [--events 100000] [--tables 50]
                                        [--threads 32]
Prints one JSON line per phase plus a summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from concurrent.futures import ProcessPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from tools.bench_multi50 import make_wire


def write_channels(spark, work: str, n_events: int, n_tables: int) -> dict:
    """Mixed wire batch → one written statement batch dir per table."""
    from debezium_spark.schema import REPO_PAYLOAD_SCHEMA
    from debezium_spark.sink import write_statement_streams
    from debezium_spark.streaming.multi import TableSpec

    # materialize the wire batch once, then ONE write action emits every
    # channel (job count O(1) in the table width — write_statement_streams)
    wire_dir = os.path.join(work, "wire.parquet")
    make_wire(spark, n_events, n_tables).write.mode(
        "overwrite"
    ).parquet(wire_dir)
    wire = spark.read.parquet(wire_dir)
    specs = [
        TableSpec("app", f"t{i:02d}", REPO_PAYLOAD_SCHEMA, ["repo", "path"])
        for i in range(n_tables)
    ]
    t0 = time.perf_counter()
    counts = write_statement_streams(
        wire, specs, os.path.join(work, "stmts"), batch_id=0,
        schema_mapping={"app": "sink"},
    )
    gen_sec = time.perf_counter() - t0
    dirs = {
        tbl: os.path.join(work, "stmts", f"{db}.{tbl}", "batch-000000")
        for (db, tbl) in counts
    }
    return {
        "dirs": dirs,
        "statements": sum(counts.values()),
        "gen_sec": round(gen_sec, 3),
    }


def _apply_one(args: tuple[str, str, str]) -> tuple[tuple[int, int], int]:
    """One table channel → its own DuckDB database in its own process.

    The reference's work threads are real JVM threads; a Python thread
    pool would serialize the apply loop's per-statement driver work on the
    GIL, so each channel gets a worker PROCESS — one session, one target
    database (channels are disjoint by construction; a real server commits
    N sessions concurrently, a single shared DuckDB file would serialize
    every transaction on its one writer lock and measure DuckDB, not the
    apply loop)."""
    batch_dir, db_path, tbl = args
    import duckdb

    from debezium_spark.sink import apply_statement_stream

    con = duckdb.connect(db_path)
    try:
        con.execute("create schema if not exists sink")
        con.execute(
            f'create table if not exists sink."{tbl}" (repo varchar, '
            'path varchar, "commit" varchar, lang varchar, content varchar)'
        )
        counts = apply_statement_stream(
            batch_dir, con.execute, locator=tbl, progress_every=100
        )
        rows = con.execute(f'select count(*) from sink."{tbl}"').fetchone()[0]
        return counts, rows
    finally:
        con.close()


def apply_phase(channels: dict, target_dir: str, threads: int) -> dict:
    """Apply every table channel on `threads` concurrent worker processes."""
    tables = sorted(channels["dirs"])
    shutil.rmtree(target_dir, ignore_errors=True)
    os.makedirs(target_dir)
    # clear redelivery fences from any prior phase on the same files
    for d in channels["dirs"].values():
        for m in ("_applied", "_progress"):
            p = os.path.join(d, m)
            if os.path.exists(p):
                os.remove(p)

    tasks = [
        (channels["dirs"][t], os.path.join(target_dir, f"{t}.db"), t)
        for t in tables
    ]
    t0 = time.perf_counter()
    with ProcessPoolExecutor(max_workers=threads) as pool:
        results = list(pool.map(_apply_one, tasks))
    sec = time.perf_counter() - t0
    success = sum(c[0] for c, _ in results)
    fail = sum(c[1] for c, _ in results)
    return {
        "threads": threads,
        "sec": round(sec, 3),
        "statements_per_sec": round(channels["statements"] / sec, 1),
        "units_applied": success,
        "units_failed": fail,
        "total_rows": sum(r for _, r in results),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=100_000)
    ap.add_argument("--tables", type=int, default=50)
    ap.add_argument("--threads", type=int, default=32)
    args = ap.parse_args()

    spark = bench.make_spark(
        int(os.environ.get("SPARK_GRAFT_CPUS", "32")), "bench-sink-apply"
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="sinkapply_", dir="/dev/shm")
    try:
        channels = write_channels(spark, work, args.events, args.tables)
        spark.stop()
        print(json.dumps({
            "phase": "generate+write", "events": args.events,
            "tables": args.tables, "statements": channels["statements"],
            "gen_sec": channels["gen_sec"],
            "gen_stmts_per_sec": round(
                channels["statements"] / channels["gen_sec"], 1
            ),
        }), flush=True)
        results = {}
        for threads in (1, args.threads, 1, args.threads):  # interleaved pairs
            r = apply_phase(
                channels, os.path.join(work, f"target_{threads}"), threads
            )
            print(json.dumps(r), flush=True)
            results.setdefault(threads, []).append(r)
        best = {t: max(rs, key=lambda r: r["statements_per_sec"])
                for t, rs in results.items()}
        seq, par = best[1], best[args.threads]
        print(json.dumps({
            "summary": "sink_apply",
            "events": args.events,
            "tables": args.tables,
            "statements": channels["statements"],
            "stmts_per_sec_1_thread": seq["statements_per_sec"],
            f"stmts_per_sec_{args.threads}_threads": par["statements_per_sec"],
            "parallel_speedup": round(
                par["statements_per_sec"] / seq["statements_per_sec"], 2
            ),
            "events_per_sec_parallel": round(
                args.events / par["sec"], 1
            ),
            "reference_tps": 30000,
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
