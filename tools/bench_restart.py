"""Restart-cost microbenchmark for the control ledgers (VERDICT r4 #1).

The two append-only control ledgers — a table's ``_schema_history.jsonl``
and a lake's ``_catalog.jsonl`` — replay in full on restart. This tool
quantifies what checkpoint-and-truncate compaction buys at the
10^4–10^5-mutation design point, on the engine's REAL code paths:

- schema history: ``apply_ddl`` K times (the driver-side barrier path the
  replay loop calls), then time (a) the per-batch ledger read
  (``schema_history_split`` — paid on every barrier-carrying batch),
  (b) lost-schema recovery onto a fresh incarnation
  (``CdcEngine.recover_schema``), with and without the engine's
  compaction trigger.
- catalog: K rename mutations through the engine's own append-then-apply
  step (``_record``: ``ledger_append`` + the catalog applier
  ``_apply_catalog_entry`` — exactly what ``apply_wire_batch`` does per
  catalog DDL), then time a full ``MultiTableEngine`` restart before and
  after ``compact_catalog()``.

Mutation counts, not event counts, drive the cost — so the bench
synthesizes mutations directly instead of pushing 10^5 micro-batches
through Spark (the per-batch engine trigger itself is covered by
``tests/test_ledger_compaction.py``).

Usage: python tools/bench_restart.py [--k 20000] [--threshold 64]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--k", type=int, default=None,
                    help="sets both --k-history and --k-catalog")
    ap.add_argument("--k-history", type=int, default=3000,
                    help="the UNBOUNDED apply path re-scans the ledger per "
                         "barrier (that quadratic term is the finding), so "
                         "keep this moderate")
    ap.add_argument("--k-catalog", type=int, default=50000)
    ap.add_argument("--threshold", type=int, default=64)
    args = ap.parse_args()
    if args.k is not None:
        args.k_history = args.k_catalog = args.k

    from pyspark.sql import SparkSession
    from pyspark.sql.types import StructType

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from debezium_spark import CdcEngine, LakeTable, MultiTableEngine, TableSpec
    from debezium_spark.operators.schema_evolution import (
        apply_ddl,
        compact_schema_history,
        schema_history,
        schema_history_split,
    )

    work = tempfile.mkdtemp(prefix="bench_restart_")
    out: dict = {"k_history": args.k_history, "k_catalog": args.k_catalog,
                 "threshold": args.threshold}
    try:
        # ---- schema-history ledger ----------------------------------------
        for mode in ("unbounded", "compacted"):
            root = os.path.join(work, f"hist_{mode}")
            t = LakeTable(spark, root, ["k"], n_buckets=2)
            t.create(StructType.fromDDL("k string, v int"))
            t0 = time.perf_counter()
            for i in range(args.k_history):
                apply_ddl(
                    t, f"ALTER TABLE t ALTER COLUMN v SET DEFAULT {i % 7}",
                    ("binlog.000001", i),
                )
                if mode == "compacted" and len(schema_history(t)) > args.threshold:
                    compact_schema_history(t)
            apply_s = time.perf_counter() - t0
            ledger = os.path.join(root, "_schema_history.jsonl")
            size = os.path.getsize(ledger)
            t0 = time.perf_counter()
            schema_history_split(t)  # the per-barrier-batch ledger read
            read_s = time.perf_counter() - t0
            # lost-schema recovery onto a fresh incarnation
            root2 = os.path.join(work, f"hist_{mode}_fresh")
            t2 = LakeTable(spark, root2, ["k"], n_buckets=2)
            t2.create(StructType.fromDDL("k string, v int"))
            shutil.copy(ledger, os.path.join(root2, "_schema_history.jsonl"))
            t0 = time.perf_counter()
            CdcEngine(spark, t2).recover_schema()
            recover_s = time.perf_counter() - t0
            out[f"history_{mode}"] = {
                "apply_total_s": round(apply_s, 3),
                "ledger_bytes": size,
                "ledger_read_s": round(read_s, 4),
                "recover_s": round(recover_s, 4),
            }

        # ---- catalog ledger -----------------------------------------------
        lake = os.path.join(work, "lake")
        users = TableSpec(
            "app", "users", StructType.fromDDL("uid long, name string"),
            ["uid"], n_buckets=2,
        )
        mte = MultiTableEngine(spark, lake, [users], default_buckets=2)
        live_root = mte.engines[("app", "users")].table.root
        names = [("app", "users"), ("app", "accounts")]
        t0 = time.perf_counter()
        for i in range(args.k_catalog):
            old, new = names[i % 2], names[(i + 1) % 2]
            mte._record({
                "op": "rename", "from": list(old),
                **mte.specs[old].record(live_root),
                "db": new[0], "table": new[1], "at": ["", 0, i],
            })
        append_s = time.perf_counter() - t0
        cat = os.path.join(lake, "_catalog.jsonl")
        size_unbounded = os.path.getsize(cat)
        t0 = time.perf_counter()
        mte2 = MultiTableEngine(spark, lake, [users], default_buckets=2)
        restart_unbounded_s = time.perf_counter() - t0
        folded = mte2.compact_catalog()
        size_compacted = os.path.getsize(cat)
        t0 = time.perf_counter()
        mte3 = MultiTableEngine(spark, lake, [users], default_buckets=2)
        restart_compacted_s = time.perf_counter() - t0
        assert set(mte3.specs) == set(mte2.specs)
        out["catalog"] = {
            "append_total_s": round(append_s, 3),
            "ledger_bytes_unbounded": size_unbounded,
            "restart_unbounded_s": round(restart_unbounded_s, 4),
            "folded": folded,
            "ledger_bytes_compacted": size_compacted,
            "restart_compacted_s": round(restart_compacted_s, 4),
        }
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
