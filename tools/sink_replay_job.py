"""spark-submit entrypoint for the sink replay job (statement transport).

The source job (``tools/run_replay_job.py``) tails wire batches into the
lake; THIS job is the reference's sink task analog
(``debezium-connector-mysql/sink/replay/ReplayTask.java``): wire batches →
ordered SQL statement files per the configured replay mode, optionally
applied straight into a DuckDB target per channel.

Usage (cluster):
  zip -r debezium_spark.zip debezium_spark
  spark-submit --master <cluster> --py-files debezium_spark.zip \
      tools/sink_replay_job.py --wire-dir <dir> --out <stmt root> \
      [--properties sink.properties] [--db app] [--tables t0,t1,...] \
      [--apply-duckdb <target dir>]

``--properties`` accepts the reference's sink property keys
(``schema.mappings``, ``provide.transaction.metadata``, ``fail.sql.path``,
``max.thread.count``, ``record.breakpoint.table`` — see
``debezium_spark.sink.config``). ``provide.transaction.metadata=true``
emits ONE whole-transaction stream under ``<out>/all/``; the default emits
one order-safe channel per table under ``<out>/<db.table>/`` (the
reference's table-parallel mode). One writer call serves both modes.

Idempotent like the source job: a batch directory already carrying its
``_done`` receipt is skipped by the writer; an applied channel batch is
skipped via its ``_applied`` marker (and ``record.breakpoint.table``
resumes a mid-batch crash exactly).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--wire-dir", required=True,
                    help="directory of wire-format parquet batch files")
    ap.add_argument("--out", required=True, help="statement-stream root")
    ap.add_argument("--properties", default=None,
                    help="sink property file (key=value lines)")
    ap.add_argument("--db", default=None,
                    help="restrict to one source db (default: discovered "
                         "from the wire batches' source.db)")
    ap.add_argument("--tables", default=None,
                    help="comma-separated table names (default: discovered "
                         "from the wire batches' source.table)")
    ap.add_argument("--apply-duckdb", default=None,
                    help="apply each channel into <dir>/<table>.db")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("debezium-spark-sink").getOrCreate()

    from debezium_spark.schema import REPO_KEY_COLS, REPO_PAYLOAD_SCHEMA
    from debezium_spark.sink import (
        SinkConfig,
        apply_statement_stream,
        write_statement_streams,
    )
    from debezium_spark.streaming.multi import TableSpec

    cfg = SinkConfig()
    if args.properties:
        from debezium_spark.config import parse_properties

        cfg = SinkConfig.from_properties(parse_properties(args.properties))

    batches = sorted(
        p for p in os.listdir(args.wire_dir) if p.endswith(".parquet")
    )
    # include-list discovery from the stream itself (one narrow scan) —
    # the spec db MUST come from the stream too: the routing filter
    # matches on (source.db, source.table), so a pinned default db
    # silently drops every row of a stream written under another db name
    # (final review r5). --db / --tables narrow the discovered set; both
    # together skip the scan entirely.
    if args.db and args.tables:
        pairs = [
            (args.db, t.strip())
            for t in args.tables.split(",") if t.strip()
        ]
    else:
        wire_all = spark.read.parquet(
            *(os.path.join(args.wire_dir, b) for b in batches)
        )
        pairs = sorted(
            (r[0], r[1])
            for r in wire_all.select("source.db", "source.table")
            .distinct().collect()
            if r[0] is not None and r[1] is not None
        )
        if args.db:
            pairs = [p for p in pairs if p[0] == args.db]
        if args.tables:
            want = {t.strip() for t in args.tables.split(",") if t.strip()}
            pairs = [p for p in pairs if p[1] in want]
    if not pairs:
        raise SystemExit(
            "no (db, table) pairs to replay — the wire stream is empty or "
            "the --db/--tables filters matched nothing"
        )
    specs = [
        TableSpec(db, t, REPO_PAYLOAD_SCHEMA, list(REPO_KEY_COLS))
        for db, t in pairs
    ]

    total_stmts = 0
    t0 = time.perf_counter()
    for bid, batch in enumerate(batches):
        # every channel of the configured mode in ONE write action (job
        # count O(1) in the table width — see write_statement_streams)
        total_stmts += sum(
            write_statement_streams(
                spark.read.parquet(os.path.join(args.wire_dir, batch)),
                specs, args.out, batch_id=bid,
                schema_mapping=cfg.schema_mappings, dialect=cfg.dialect,
                tx_parallel=cfg.tx_parallel,
            ).values()
        )
    gen_sec = time.perf_counter() - t0

    # keyed on Spark simpleString() names: LongType → "bigint",
    # IntegerType → "int" (NOT "long"/"integer", which never occur — a
    # miss here silently bootstraps the column as varchar); decimal(p,s)
    # passes through verbatim (valid DuckDB syntax)
    _DUCK_TYPES = {
        "string": "varchar", "bigint": "bigint", "int": "integer",
        "smallint": "smallint", "tinyint": "tinyint",
        "double": "double", "float": "float",
        "boolean": "boolean", "timestamp": "timestamp", "date": "date",
        "binary": "blob",
    }

    def _duck_type(dt) -> str:
        s = dt.simpleString()
        if s.startswith("decimal"):
            return s
        return _DUCK_TYPES.get(s, "varchar")

    def bootstrap_target(con) -> None:
        # the reference presumes full migration created the target objects
        # (migration-tool); for the DuckDB convenience target, create them
        # from the specs so statements have somewhere to land
        for spec in specs:
            tgt = cfg.schema_mappings.get(spec.db, spec.db)
            con.execute(f'create schema if not exists "{tgt}"')
            cols = ", ".join(
                f'"{f.name}" '
                f"{_duck_type(f.dataType)}"
                for f in spec.payload_schema.fields
            )
            con.execute(
                f'create table if not exists "{tgt}"."{spec.table}" ({cols})'
            )

    applied = {"success": 0, "fail": 0}
    apply_sec = None
    if args.apply_duckdb:
        import duckdb

        os.makedirs(args.apply_duckdb, exist_ok=True)
        t0 = time.perf_counter()
        for channel in sorted(os.listdir(args.out)):
            if channel.startswith("_"):  # a crashed writer's _tmp-* scratch
                continue
            # DuckDB names the attached catalog after the file basename's
            # first dot-component, so 'inventory.repo_files.db' creates a
            # catalog 'inventory' that collides with the target schema of
            # the same name ("ambiguous reference"); underscore the
            # channel separator in the file name to keep catalog and
            # schema namespaces disjoint
            con = duckdb.connect(
                os.path.join(
                    args.apply_duckdb, f"{channel.replace('.', '_')}.db"
                )
            )
            try:
                bootstrap_target(con)
                for bdir in sorted(os.listdir(os.path.join(args.out, channel))):
                    s, f_ = apply_statement_stream(
                        os.path.join(args.out, channel, bdir),
                        con.execute,
                        fail_sql_path=cfg.fail_sql_path,
                        locator=f"{channel}/{bdir}",
                        breakpoint_table=cfg.breakpoint_table,
                    )
                    applied["success"] += s
                    applied["fail"] += f_
            finally:
                con.close()
        apply_sec = round(time.perf_counter() - t0, 3)

    print(json.dumps({
        "mode": "tx-parallel" if cfg.tx_parallel else "table-parallel",
        "batches": len(batches),
        "channels": 1 if cfg.tx_parallel else len(specs),
        "statements": total_stmts,
        "gen_sec": round(gen_sec, 3),
        "applied_units": applied if args.apply_duckdb else None,
        "apply_sec": apply_sec,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
