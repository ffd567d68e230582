"""Traced runs: spans around the engine's public functions, from outside.

A span is recorded by wrapping a function where the engine looks it up
(``debezium_spark.streaming.engine.merge_changes``, not only where it is
defined), so no engine file changes. Each span instance tags the Spark jobs
its thread submits with its own job group; the event log written by the
traced run then folds per-job counters (jobs, tasks, executor CPU, shuffle
bytes) into the span that submitted them. Tagging happens inside the
wrapper, so the per-table merges that ``MultiTableEngine`` runs on pool
threads are attributed too, although pool threads do not inherit job
groups.

Counters are exclusive: a job belongs to the innermost span open in the
submitting thread. Self time is a span's wall time minus the union of its
children's intervals, so parallel children are not subtracted twice.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

from perfbench import harness

GROUP_PROP = "spark.jobGroup.id"

#: the spans every traced run reports, in output order
SPANS = [
    "streaming.engine.replay",
    "streaming.engine.apply_stream_batch",
    "streaming.engine.apply_envelope_batch",
    "streaming.engine.fused_tail_probe",
    "streaming.engine.persist_tx_carry",
    "streaming.multi.apply_wire_batch",
    "plans.merge.merge_changes",
    "plans.table.commit_buckets",
    "plans.table.compact",
    "plans.table.expire_versions",
    "plans.table.read",
    "sink.write_statement_streams",
    "sink.apply_statement_stream",
]
FIELDS = [
    ("calls", "count"),
    ("wall_s", "s"),
    ("self_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("executor_cpu_s", "s"),
    ("shuffle_read_bytes", "B"),
    ("shuffle_write_bytes", "B"),
]
COUNTER_FIELDS = ("jobs", "tasks", "executor_cpu_s",
                  "shuffle_read_bytes", "shuffle_write_bytes")


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    thread: int
    start: float
    end: float | None = None
    prev_group: str | None = None


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """Wall time of ``span`` not covered by any child, children clipped to
    the parent's interval."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    ]
    return (span.end - span.start) - union_length(clipped)


class Tracer:
    """Records spans and patches the engine's lookup points with them."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stacks: dict[int, list[Span]] = {}
        self._patches: list[tuple[object, str, object]] = []
        self._main = threading.get_ident()
        self.counts: dict[str, int] = defaultdict(int)

    # ---- spans -------------------------------------------------------

    def _fallback_parent(self, me: int) -> str | None:
        """Parent for a span opened on a thread with no open span: the
        innermost open span of the thread that created the tracer. Pool
        threads (MultiTableEngine's per-table merges) work for the call the
        main thread has open; spans opened while the main thread has none
        open (streaming callbacks, the sink's apply threads) are roots."""
        stack = self._stacks.get(self._main)
        return stack[-1].sid if stack and me != self._main else None

    def begin(self, name: str) -> Span:
        me = threading.get_ident()
        with self._lock:
            stack = self._stacks.setdefault(me, [])
            parent = stack[-1].sid if stack else self._fallback_parent(me)
            span = Span(f"perfbench-{next(self._ids)}", name, parent, me,
                        time.perf_counter())
            stack.append(span)
            self.spans.append(span)
        if self.sc is not None:
            span.prev_group = self.sc.getLocalProperty(GROUP_PROP)
            self.sc.setLocalProperty(GROUP_PROP, span.sid)
        return span

    def finish(self, span: Span) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(GROUP_PROP, span.prev_group)
        span.end = time.perf_counter()
        with self._lock:
            stack = self._stacks[span.thread]
            stack.remove(span)
            if not stack:
                del self._stacks[span.thread]

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield s
        finally:
            self.finish(s)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # ---- patching ----------------------------------------------------

    def patch(self, owner, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, self.wrap(original, name))

    def patch_hook(self, owner, attr: str, hook) -> None:
        """Replace ``owner.attr`` with ``hook(original)``."""
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, hook(original))

    def count(self, owner, attr: str, counter: str) -> None:
        def hook(fn):
            @functools.wraps(fn)
            def counted(*args, **kwargs):
                with self._lock:
                    self.counts[counter] += 1
                return fn(*args, **kwargs)

            return counted

        self.patch_hook(owner, attr, hook)

    def unpatch(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # ---- reporting ---------------------------------------------------

    def children(self) -> dict[str | None, list[Span]]:
        out: dict[str | None, list[Span]] = defaultdict(list)
        for s in self.spans:
            out[s.parent].append(s)
        return out

    def inclusive_jobs(self, counters: dict[str, dict], span: Span,
                       kids: dict[str | None, list[Span]]) -> int:
        """Jobs of ``span`` plus those of all its descendants."""
        total = counters.get(span.sid, {}).get("jobs", 0)
        for c in kids.get(span.sid, []):
            total += self.inclusive_jobs(counters, c, kids)
        return total

    def report(self, counters: dict[str, dict]) -> dict[str, dict]:
        """Per span name: calls, wall, self time and exclusive counters."""
        kids = self.children()
        out = {n: {f: 0 for f, _ in FIELDS} for n in SPANS}
        for s in self.spans:
            if s.end is None:
                continue
            row = out.setdefault(s.name, {f: 0 for f, _ in FIELDS})
            row["calls"] += 1
            row["wall_s"] += s.end - s.start
            row["self_s"] += self_time(s, [c for c in kids.get(s.sid, []) if c.end is not None])
            for f in COUNTER_FIELDS:
                row[f] += counters.get(s.sid, {}).get(f, 0)
        return out


def fold_event_log(path: str) -> dict[str, dict]:
    """Spark event log → {job group: jobs, tasks, executor CPU seconds,
    shuffle read/write bytes}. Stages take the group of the job that
    submitted them; tasks take their stage's group."""
    out: dict[str, dict] = defaultdict(lambda: {f: 0 for f in COUNTER_FIELDS})
    stage_group: dict[int, str | None] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(GROUP_PROP)
                out[group or ""]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                group = (ev.get("Properties") or {}).get(GROUP_PROP)
                if group is not None:
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID")) or ""
                row = out[group]
                row["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                row["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                sr = m.get("Shuffle Read Metrics") or {}
                row["shuffle_read_bytes"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                )
                sw = m.get("Shuffle Write Metrics") or {}
                row["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return dict(out)


def install(tracer: Tracer) -> None:
    """Patch every span's lookup point and the manifest-read counter."""
    import debezium_spark.sink as sink_pkg
    import debezium_spark.sink.replay as sink_replay
    import debezium_spark.streaming.engine as engine_mod
    import debezium_spark.streaming.multi as multi_mod
    from debezium_spark.plans.table import LakeTable

    tracer.patch(engine_mod.CdcEngine, "replay", "streaming.engine.replay")
    tracer.patch(engine_mod.CdcEngine, "apply_stream_batch",
                 "streaming.engine.apply_stream_batch")
    tracer.patch(engine_mod.CdcEngine, "apply_envelope_batch",
                 "streaming.engine.apply_envelope_batch")
    # the engine and MultiTableEngine look these up in the engine module
    tracer.patch(engine_mod, "fused_tail_probe", "streaming.engine.fused_tail_probe")
    tracer.patch(engine_mod, "persist_tx_carry", "streaming.engine.persist_tx_carry")
    tracer.patch(multi_mod.MultiTableEngine, "apply_wire_batch",
                 "streaming.multi.apply_wire_batch")
    # streaming/engine.py imports merge_changes by name
    tracer.patch(engine_mod, "merge_changes", "plans.merge.merge_changes")
    tracer.patch_hook(LakeTable, "commit_buckets", _depth_hook(tracer))
    tracer.patch(LakeTable, "commit_buckets", "plans.table.commit_buckets")
    tracer.patch_hook(LakeTable, "compact", _compact_bytes_hook(tracer))
    tracer.patch(LakeTable, "compact", "plans.table.compact")
    tracer.patch(LakeTable, "expire_versions", "plans.table.expire_versions")
    for mod in (sink_pkg, sink_replay):
        tracer.patch(mod, "write_statement_streams", "sink.write_statement_streams")
        tracer.patch(mod, "apply_statement_stream", "sink.apply_statement_stream")
    tracer.count(LakeTable, "manifest", "plans.table.manifest_reads")


def _depth_hook(tracer: Tracer):
    """After each commit, the deepest bucket's delta count (read from the
    published manifest file, so the manifest-read counter is untouched)."""
    def hook(fn):
        @functools.wraps(fn)
        def commit(table, *args, **kwargs):
            version = fn(table, *args, **kwargs)
            path = os.path.join(table.root, "_manifests", f"v{version:06d}.json")
            with open(path, encoding="utf-8") as f:
                buckets = json.load(f)["buckets"]
            depth = max(
                (len(v.get("delta", [])) for v in buckets.values() if isinstance(v, dict)),
                default=0,
            )
            with tracer._lock:
                key = "plans.table.delta_depth_max"
                tracer.counts[key] = max(tracer.counts[key], depth)
            return version

        return commit

    return hook


def _compact_bytes_hook(tracer: Tracer):
    """Bytes of the base files each compaction writes."""
    def hook(fn):
        @functools.wraps(fn)
        def compact(table, *args, **kwargs):
            data = os.path.join(table.root, "data")
            before = set(os.listdir(data)) if os.path.isdir(data) else set()
            out = fn(table, *args, **kwargs)
            new = [d for d in os.listdir(data) if d not in before]
            written = sum(harness.dir_bytes(os.path.join(data, d)) for d in new)
            with tracer._lock:
                tracer.counts["plans.table.compact_bytes_rewritten"] += written
            return out

        return compact

    return hook

