"""Round-6 replay phase profiler (guide §1): run bench.py's exact MoR/CoW
replay workload (4M generated events, 2 batches) with wall-time accounting
per engine phase — fused probe, dedupe+write merge, compaction, carry
persistence, manifest I/O — so the optimization targets the real cost.

The carry write (``persist_tx_carry``) runs on the carry writer thread
while the batch's merge commits, so its phase overlaps the merge's and the
phase walls no longer add up to the total. ``merge_changes`` is the delta
write plus, on a CoW table, the fold of the touched buckets; ``_fold`` is
also timed on its own, and runs inside ``merge_changes`` (CoW) or
``compact`` (MoR), so its wall is counted twice in the phase sum. Each trial also prints the
JVM's Janino compilations and their compile time (``CodegenMetrics`` and
``CodeGenerator.compileTime``): a count that host noise cannot move, and
the cost of any per-batch value that reaches the generated source.

Usage: python tools/profile_replay.py [mor|cow|both] [n_events]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PHASES: dict[str, list[float]] = defaultdict(list)


def wrap(mod, name, label=None):
    fn = getattr(mod, name)
    lab = label or name

    def timed(*a, **kw):
        t0 = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            PHASES[lab].append(time.perf_counter() - t0)

    setattr(mod, name, timed)
    return fn


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "mor"
    n_events = int(sys.argv[2]) if len(sys.argv) > 2 else 4_000_000
    os.environ.setdefault("SPARK_GRAFT_AQE", os.environ.get("PROFILE_AQE", "true"))

    from bench import gen_binlog, make_spark, run_replay

    import debezium_spark.plans.table as table_mod
    import debezium_spark.streaming.engine as eng_mod

    wrap(eng_mod, "fused_tail_probe")
    wrap(eng_mod, "persist_tx_carry")
    # the engine module imports merge_changes by name
    wrap(eng_mod, "merge_changes")
    wrap(table_mod.LakeTable, "compact")
    wrap(table_mod.LakeTable, "_fold")

    spark = make_spark(int(os.environ.get("SPARK_GRAFT_CPUS", "32")), "profile-replay")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="profile_replay_", dir="/dev/shm")
    try:
        t0 = time.perf_counter()
        gen_binlog(spark, os.path.join(work, "binlog"), n_events, 2)
        print(f"gen: {time.perf_counter() - t0:.2f}s", flush=True)
        modes = ["mor", "cow"] if mode == "both" else [mode]
        jvm = spark._jvm
        compilations = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        for m in modes:
            for trial in range(2):
                PHASES.clear()
                n0, ns0 = compilations.getCount(), codegen.compileTime()
                sec = run_replay(
                    spark, os.path.join(work, "binlog"),
                    os.path.join(work, f"t_{m}_{trial}"),
                    warmup=(trial == 0 and m == modes[0]), mode=m,
                )
                print(f"\n=== {m} trial {trial}: total {sec:.2f}s ===")
                acc = 0.0
                for k, v in sorted(PHASES.items()):
                    print(f"  {k:22s} n={len(v):3d} sum={sum(v):7.2f}s  {[round(x,2) for x in v[:8]]}")
                    acc += sum(v)
                print(f"  [phases sum {acc:.2f}s of {sec:.2f}s; the carry phase overlaps the "
                      "merge, and _fold nests inside merge_changes or compact]")
                print(f"  janino: {compilations.getCount() - n0} compilations, "
                      f"{(codegen.compileTime() - ns0) / 1e9:.2f}s compile time", flush=True)
                shutil.rmtree(os.path.join(work, f"t_{m}_{trial}"), ignore_errors=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
