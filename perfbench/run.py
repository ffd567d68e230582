"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <trickle_stream|multi_table_sink>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Inputs are generated from ``--seed``;
``--seconds`` sizes the timed work (about that long on a 4-CPU host).
With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced run. Every
raw sample is written to ``.perfbench_results/``. The command exits 1 when
a table differs from the oracle and 2 when the package is missing.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))

#: the end-to-end metrics of the result line (those BENCHMARK.json bounds)
END_TO_END = [
    ("setup_s", "s"),
    ("apply_events_per_s", "1/s"),
    ("commit_p50_s", "s"),
    ("scan_s", "s"),
    ("stored_bytes_per_input_byte", "ratio"),
    ("peak_rss_mb", "MB"),
]
#: printed on the summary line only: a p90 over a few batches has no ten
#: samples beyond it, and only one workload runs a sink
SUMMARY_ONLY = [("commit_p90_s", "s"), ("sink_stmts_per_s", "1/s")]


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    sys.path[:0] = [ROOT, os.path.dirname(HERE)]
    try:
        import debezium_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine package from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench import harness, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("perfbench: --seconds must be at least 1", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, harness.WORK_DIR, f"{args.workload}-{os.getpid()}")
    harness.fresh_dir(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    import duckdb

    from perfbench import harness, stats, trace, workloads

    harness.prepare_env(ROOT, work)
    wl = workloads.WORKLOADS[args.workload](args.seed, args.seconds, work)

    # inputs: generated from the seed, outside every clock
    t0 = time.perf_counter()
    con = duckdb.connect()
    con.execute(f"set threads={harness.SLOTS}")
    con.execute(f"set temp_directory='{os.path.join(work, 'tmp', 'duckdb')}'")
    wl.generate(con)
    gen_s = time.perf_counter() - t0

    cpu0 = harness.cpu_snapshot()
    spark = harness.start_spark(work, bool(args.trace))
    tracer = None
    try:
        spark_s = time.perf_counter() - PROCESS_START - gen_s
        jvm = harness.jvm_pid(spark)
        c = harness.Clock()
        constructions = []
        for k in range(workloads.CONSTRUCTIONS):
            wl.construct(spark, harness.fresh_dir(os.path.join(work, f"construct{k}")))
            constructions.append(c.lap())
        if args.trace:
            tracer = trace.Tracer(spark.sparkContext)
            trace.install(tracer)
            wl.tracer = tracer
        try:
            c.lap()
            wl.prepare(spark)
            prepare_s = c.lap()
            cpu1 = harness.cpu_snapshot(jvm)
            metrics = wl.timed(spark)
            timed_s = c.lap()
            lake = wl.timed_scans()
            scans_s = c.lap()
            cpu2 = harness.cpu_snapshot(jvm)
        finally:
            if tracer is not None:
                tracer.unpatch()
        metrics["setup_s"] = spark_s + stats.median(constructions) + prepare_s
        metrics["scan_s"] = sum(wl.samples["scan_s"])
        correct = wl.check(spark, con, lake, wl.sink_digests(spark))
        check_s = c.lap()
        wl.samples["phases_s"] = {
            "generate": gen_s, "spark": spark_s, "construct": constructions,
            "prepare": prepare_s, "timed": timed_s, "scans": scans_s, "check": check_s}
        if args.trace and hasattr(wl, "decode_pass"):
            wl.extra["sources.wire.decode_s"] = wl.decode_pass(spark)
        metrics["stored_bytes_per_input_byte"] = wl.stored_bytes / wl.input_bytes
        rss = harness.peak_rss_mb(spark)
        wl.samples["peak_rss_mb"] = rss
        metrics["peak_rss_mb"] = sum(rss.values())
        # CPU use, the host's steal time included, so that a run slowed by
        # other guests on the same machine shows as such
        cpu3 = harness.cpu_snapshot(jvm)
        wl.samples["cpu_s"] = {
            "setup": harness.cpu_delta(cpu0, cpu1),
            "timed_and_scans": harness.cpu_delta(cpu1, cpu2),
            "run": harness.cpu_delta(cpu0, cpu3)}
    finally:
        harness.stop_spark(spark)
        con.close()
        wl.close()
    wl.samples["gc"] = harness.gc_pauses(work)

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "correct": correct, "host": harness.host_record(),
        "spark_conf": harness.spark_conf("<work>", bool(args.trace)),
        "end_to_end": metrics, "ledger": wl.ledger.as_dict(), "samples": wl.samples,
    }
    if hasattr(wl, "sink_stmts_per_s"):
        metrics["sink_stmts_per_s"] = wl.sink_stmts_per_s
    if args.trace:
        report["per_layer"] = per_layer(tracer, wl, work)
        report["tracing"] = tracing_overhead(args, wl)
    results = os.path.join(ROOT, harness.RESULTS_DIR)
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w", encoding="utf-8") as f:
        json.dump(report, f, indent=1, default=str)

    print(summary_line(report))
    if args.trace:
        shown = {k: {"value": v, "unit": u} for k, (v, u) in report["per_layer"].items()}
    else:
        units = dict(END_TO_END)
        shown = {k: {"value": metrics[k], "unit": units[k]} for k, _ in END_TO_END}
    print(json.dumps({
        "correct": correct,
        "attempted": wl.ledger.total_attempted,
        "failed": wl.ledger.total_failed,
        "metrics": shown,
    }))
    return 0 if correct and wl.ledger.total_failed == 0 else 1


def per_layer(tracer, wl, work: str) -> dict[str, tuple[float, str]]:
    """{metric: (value, unit)} for every per-layer metric of a traced run."""
    from perfbench import trace

    counters: dict[str, dict] = {}
    for r, _dirs, files in os.walk(os.path.join(work, "eventlog")):
        for name in sorted(files):
            if not name.startswith("appstatus"):
                counters.update(trace.fold_event_log(os.path.join(r, name)))
    rows = tracer.report(counters)
    out: dict[str, tuple[float, str]] = {}
    for span in trace.SPANS:
        for field, unit in trace.FIELDS:
            out[f"{span}.{field}"] = (rows[span][field], unit)

    kids = tracer.children()
    by_sid = {s.sid: s for s in tracer.spans}

    def outermost(prefix: str):
        """Spans named ``prefix*`` with no ``prefix*`` ancestor."""
        for s in tracer.spans:
            if not s.name.startswith(prefix):
                continue
            p = by_sid.get(s.parent)
            while p is not None and not p.name.startswith(prefix):
                p = by_sid.get(p.parent)
            if p is None:
                yield s

    batches = rows["streaming.engine.apply_envelope_batch"]["calls"]
    engine_jobs = sum(tracer.inclusive_jobs(counters, s, kids) for s in outermost("streaming.engine."))
    multi_calls = rows["streaming.multi.apply_wire_batch"]["calls"]
    multi_jobs = sum(tracer.inclusive_jobs(counters, s, kids) for s in outermost("streaming.multi."))
    out.update({
        "streaming.structured.epoch_overhead_s": (wl.extra.get("streaming.structured.epoch_overhead_s", 0.0), "s"),
        "sources.wire.decode_s": (wl.extra.get("sources.wire.decode_s", 0.0), "s"),
        "streaming.engine.jobs_per_batch": (engine_jobs / batches if batches else 0.0, "count"),
        "streaming.multi.jobs_per_batch": (multi_jobs / multi_calls if multi_calls else 0.0, "count"),
        "plans.table.manifest_reads": (tracer.counts["plans.table.manifest_reads"], "count"),
        "plans.table.delta_depth_max": (tracer.counts["plans.table.delta_depth_max"], "count"),
        "plans.table.compact_bytes_rewritten": (tracer.counts["plans.table.compact_bytes_rewritten"], "B"),
        "sink.statements": (wl.extra.get("sink.statements", 0), "count"),
        "sink.tx_failed": (wl.extra.get("sink.tx_failed", 0), "count"),
        "operators.quarantined_rows": (wl.ledger.failed["event"], "count"),
    })
    wl.samples["unattributed_jobs"] = counters.get("", {}).get("jobs", 0)
    return out


def tracing_overhead(args, wl) -> dict:
    """Traced minus untraced apply window, against the untraced run of the
    same workload and seed when its result file exists."""
    from perfbench import harness

    traced = sum(wl.samples["apply_window_s"])
    path = os.path.join(ROOT, harness.RESULTS_DIR,
                        f"{args.workload}-seed{args.seed}-trace0.json")
    out = {"traced_apply_window_s": traced}
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            base = json.load(f)["samples"]
        untraced = sum(base["apply_window_s"])
        out.update(untraced_apply_window_s=untraced, overhead_s=traced - untraced,
                   overhead_share=(traced - untraced) / untraced)
    return out


def summary_line(report: dict) -> str:
    """One human-readable line: every end-to-end metric with its unit (the
    summary-only ones too), the failure share, and the tail-percentile
    sample count."""
    m = report["end_to_end"]
    parts = [f"{k}={m[k]:.6g} {u}" for k, u in END_TO_END + SUMMARY_ONLY if k in m]
    parts.append(f"failed_share={report['ledger']['failed_share']:.6g}")
    t = report["samples"].get("commit_tail", {})
    parts.append(f"commit_samples={t.get('n')} p90_supported={t.get('supported')}")
    if "tracing" in report:
        parts.append("tracing=" + json.dumps(report["tracing"]))
    return f"perfbench {report['workload']} seed={report['seed']} " + " ".join(parts)


if __name__ == "__main__":
    sys.exit(main())
