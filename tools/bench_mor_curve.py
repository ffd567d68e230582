"""100×-scale rehearsal: MoR apply cost vs table size (VERDICT r3 item 7).

The 10^10-event claim rests on one asymptotic property: merge-on-read apply
cost is O(batch), independent of table size, while copy-on-write rewrite
cost grows toward O(table) as batches touch every bucket. This experiment
measures exactly that curve: bootstrap base tables of growing size (×4
steps), then apply the SAME fixed update batch to each and time it —
MoR should stay flat as the table grows 16×, CoW should grow.

Evidence beyond wall time (host capacity wobbles ±50%):
- lineage: the measured commit's per-bucket event counts must sum to the
  applied batch (the merge never re-processed table data);
- bytes: the data written by the MoR commit is O(batch) — compared with
  the CoW commit's write bytes (its staged delta plus the folded bases of
  the touched buckets), which track table size.

Usage: python tools/bench_mor_curve.py [--sizes 1000000,4000000,16000000]
                                       [--batch 200000] [--buckets 32]
Prints one JSON line per (size, mode) plus a summary line.
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

import bench


_dir_bytes = bench.dir_bytes


def _data_dirs(table) -> set[str]:
    dirs = set()
    for val in table.manifest()["buckets"].values():
        base, delta = table._bucket_dirs(val)
        dirs.update(base)
        dirs.update(delta)
    return dirs


def _data_bytes(table) -> int:
    return sum(_dir_bytes(d) for d in _data_dirs(table))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="1000000,4000000,16000000")
    ap.add_argument("--batch", type=int, default=200_000)
    ap.add_argument("--buckets", type=int, default=32)
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]

    from debezium_spark import ChangeLogGenerator, CdcEngine, LakeTable
    from debezium_spark.schema import REPO_KEY_COLS

    # a CoW commit stages its change-set as a delta dir, folds it into the
    # touched buckets and removes it after the publish: count its bytes
    # as the fold reads them
    folded_delta_bytes = [0]
    real_fold = LakeTable._fold

    def fold(self, x, todo):
        folded_delta_bytes[0] += sum(
            _dir_bytes(d) for val in todo.values() for d in val["delta"]
        )
        return real_fold(self, x, todo)

    LakeTable._fold = fold

    spark = bench.make_spark(int(os.environ.get("SPARK_GRAFT_CPUS", "32")), "mor-curve")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="cdc_morcurve_", dir="/dev/shm")
    results = []
    try:
        # keyspace ≫ max size so the base tables hold ~size distinct keys;
        # the update batch draws from the same keyspace (mostly-existing
        # keys, spread over every bucket — the worst case for CoW)
        gen = ChangeLogGenerator(
            spark, seed=42, n_repos=5000, dirs_per_repo=100, files_per_dir=100,
            content_words=64,
        )
        update_env = gen.events(args.batch).persist()
        update_env.count()

        # JIT warm-up (small, separate)
        warm = LakeTable(spark, os.path.join(work, "warm"), list(REPO_KEY_COLS), n_buckets=8)
        CdcEngine(spark, warm).bootstrap(gen.snapshot(100_000), fence=("binlog.000001", -1))
        CdcEngine(spark, warm).apply_envelope_batch(
            gen.events(50_000), batch_id="warm")

        for size in sizes:
            snap = gen.snapshot(size)
            row = {"base_rows_requested": size}
            for mode in ("mor", "cow"):
                root = os.path.join(work, f"t_{mode}_{size}")
                table = LakeTable(
                    spark, root, list(REPO_KEY_COLS),
                    n_buckets=args.buckets, mode=mode,
                )
                engine = CdcEngine(spark, table, compact_depth=0)
                engine.bootstrap(snap, fence=("binlog.000001", -1))
                base_rows = table.read().count()
                dirs_before = _data_dirs(table)
                base_bytes = _data_bytes(table)
                folded_delta_bytes[0] = 0

                t0 = time.perf_counter()
                engine.apply_envelope_batch(update_env, batch_id="measured")
                apply_s = time.perf_counter() - t0

                # lineage proof: the measured commit touched O(batch) events
                lin = [r for r in table.lineage() if r.get("batch", "").startswith("measured")]
                lineage_events = sum(r.get("events", 0) for r in lin)
                # the commit's write volume: the dirs it added to the
                # manifest (MoR: the delta; CoW: the touched buckets' new
                # bases) plus, for CoW, the staged delta the fold consumed
                commit_bytes = folded_delta_bytes[0] + sum(
                    _dir_bytes(d) for d in _data_dirs(table) - dirs_before
                )
                r = {
                    "mode": mode,
                    "base_rows": base_rows,
                    "base_gb": round(base_bytes / 2**30, 3),
                    "apply_sec": round(apply_s, 3),
                    "batch_events": args.batch,
                    "events_per_sec": round(args.batch / apply_s, 1),
                    "lineage_events": lineage_events,
                    "commit_write_gb": round(commit_bytes / 2**30, 3),
                }
                row[mode] = r
                print(json.dumps({"base": size, **r}), flush=True)
                shutil.rmtree(root, ignore_errors=True)
            results.append(row)

        mor_times = [r["mor"]["apply_sec"] for r in results]
        cow_times = [r["cow"]["apply_sec"] for r in results]
        print(json.dumps({
            "summary": results,
            "table_growth": round(results[-1]["mor"]["base_rows"]
                                  / max(results[0]["mor"]["base_rows"], 1), 1),
            "mor_apply_growth": round(mor_times[-1] / mor_times[0], 2),
            "cow_apply_growth": round(cow_times[-1] / cow_times[0], 2),
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
