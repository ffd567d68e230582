"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import inputs, oracle, stats, trace  # noqa: E402

# ---- self time ------------------------------------------------------------------


def _span(sid, start, end, parent=None, name="x"):
    return trace.Span(sid, name, parent, 0, start, end)


def test_self_time_subtracts_union_of_overlapping_parallel_children():
    parent = _span("p", 0.0, 10.0)
    kids = [
        _span("a", 1.0, 4.0, "p"),   # pool thread 1
        _span("b", 2.0, 6.0, "p"),   # pool thread 2, overlaps a
        _span("c", 8.0, 9.0, "p"),
    ]
    # covered: [1, 6] and [8, 9] → 6 s; self = 10 - 6
    assert trace.self_time(parent, kids) == pytest.approx(4.0)


def test_self_time_clips_children_to_the_parent_interval():
    parent = _span("p", 0.0, 5.0)
    kids = [_span("a", -1.0, 2.0, "p"), _span("b", 4.0, 7.0, "p"),
            _span("c", 6.0, 8.0, "p")]
    assert trace.self_time(parent, kids) == pytest.approx(2.0)


def test_union_length_of_nested_and_disjoint_intervals():
    assert trace.union_length([(0, 10), (2, 3), (12, 13)]) == pytest.approx(11.0)
    assert trace.union_length([]) == 0.0


def test_tracer_parents_pool_thread_spans_to_the_submitting_call():
    import threading

    tracer = trace.Tracer()
    with tracer.span("outer") as outer:
        box = {}

        def work():
            with tracer.span("inner") as s:
                box["s"] = s

        t = threading.Thread(target=work)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    assert box["s"].parent == outer.sid
    rows = tracer.report({})
    assert rows["inner"]["calls"] == 1 and rows["outer"]["calls"] == 1
    assert rows["outer"]["self_s"] <= rows["outer"]["wall_s"]


def test_tracer_keeps_spans_of_sibling_threads_apart():
    import threading

    tracer = trace.Tracer()
    started, release = threading.Barrier(2), threading.Event()
    spans = []

    def work():
        with tracer.span("apply") as s:
            spans.append(s)
            started.wait(timeout=10)
            release.wait(timeout=10)

    threads = [threading.Thread(target=work) for _ in range(2)]
    for t in threads:
        t.start()
    while len(spans) < 2:
        pass
    release.set()
    for t in threads:
        t.join(timeout=10)
        assert not t.is_alive()
    # the main thread had no span open: both are roots, neither parents the other
    assert [s.parent for s in spans] == [None, None]


def test_fold_event_log_attributes_jobs_and_tasks_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {trace.GROUP_PROP: "perfbench-1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {trace.GROUP_PROP: "perfbench-1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000,
            "Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 7},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 11}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {}},
    ]
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    got = trace.fold_event_log(str(log))
    assert got["perfbench-1"] == {"jobs": 1, "tasks": 2, "executor_cpu_s": 2.0,
                                  "shuffle_read_bytes": 12, "shuffle_write_bytes": 11}
    assert got[""]["jobs"] == 1 and got[""]["tasks"] == 1


# ---- percentile rule ------------------------------------------------------------


def test_p90_needs_ten_samples_beyond_it():
    assert stats.supported_percentile(100) == pytest.approx(90.0)
    assert stats.supported_percentile(99) < 90.0
    assert stats.supported_percentile(9) is None
    assert stats.tail(list(range(100)), 90.0)["supported"]
    assert not stats.tail(list(range(99)), 90.0)["supported"]


def test_median_is_supported_from_twenty_samples():
    assert stats.supported_percentile(20) == pytest.approx(50.0)
    assert not stats.tail(list(range(19)), 50.0)["supported"]


def test_nearest_rank_percentile():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(values, 50) == 3.0
    assert stats.percentile(values, 90) == 5.0
    assert stats.percentile(values, 20) == 1.0
    assert stats.percentile(list(range(1, 101)), 90) == 90


def test_quartile_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 12.0, 13.0, 14.0]
    q1, _, q3 = __import__("statistics").quantiles(vals, n=4)
    assert stats.quartile_spread(vals) == pytest.approx((q3 - q1) / 12.0)


# ---- failed_share ---------------------------------------------------------------


def test_failed_share_counts_every_kind_against_its_attempts():
    ledger = stats.FailureLedger()
    ledger.add("batch_apply", 8, 1)
    ledger.add("event", 1000, 3)
    ledger.add("sink_tx", 190, 2)
    ledger.add("table", 2, 0)
    assert ledger.total_attempted == 1200
    assert ledger.total_failed == 6
    assert ledger.share == pytest.approx(6 / 1200)
    assert ledger.as_dict()["failed"]["sink_tx"] == 2


def test_failed_share_rejects_unknown_kinds_and_impossible_counts():
    ledger = stats.FailureLedger()
    with pytest.raises(KeyError):
        ledger.add("bogus", 1)
    with pytest.raises(ValueError):
        ledger.add("event", 1, 2)
    assert ledger.share == 0.0


# ---- oracle -----------------------------------------------------------------------


def _ev(pos, op, before=None, after=None, table="t0"):
    def img(key, v):
        return None if key is None else {
            "repo": key[0], "path": key[1], "commit": f"c{v}", "lang": "py",
            "content": f"v{v}"}
    return {
        "before": img(before, pos - 1) if before else None,
        "after": img(after, pos) if after else None,
        "op": op, "ts_ms": pos,
        "source": {"file": "binlog.000001", "pos": pos, "gtid": None,
                   "snapshot": None, "db": "app", "table": table, "ts_ms": pos},
        "transaction": None,
    }


def _oracle_rows(tmp_path, rows):
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    # write out of order: the oracle must order by source.pos itself
    path = tmp_path / "log.parquet"
    pq.write_table(pa.Table.from_pylist(list(reversed(rows)),
                                        schema=inputs.envelope_arrow_schema()), str(path))
    con = duckdb.connect()
    try:
        return sorted(con.execute(oracle.oracle_sql([str(path)])).fetchall())
    finally:
        con.close()


def test_oracle_last_write_wins_through_c_u_d_c_and_pk_change(tmp_path):
    a, b, b2, c = ("r1", "a.py"), ("r1", "b.py"), ("r1", "b2.py"), ("r2", "c.py")
    log = [
        _ev(0, "c", after=a),
        _ev(1, "u", before=a, after=a),
        _ev(2, "d", before=a),
        _ev(3, "c", after=a),               # re-created after the delete
        _ev(4, "c", after=b),
        _ev(5, "u", before=b, after=b2),    # PK change: delete b, insert b2
        _ev(6, "u", before=c, after=c),     # update of a never-seen key: upsert
        _ev(7, "c", after=c, table="t1"),   # same key, other table
        _ev(8, "d", before=c, table="t1"),
    ]
    got = _oracle_rows(tmp_path, log)
    assert got == [
        ("t0", "r1", "a.py", "c3", "py", "v3"),
        ("t0", "r1", "b2.py", "c5", "py", "v5"),
        ("t0", "r2", "c.py", "c6", "py", "v6"),
    ]


def test_oracle_pk_change_then_back_keeps_only_the_latest_key(tmp_path):
    a, a2 = ("r1", "a.py"), ("r1", "a2.py")
    log = [
        _ev(0, "c", after=a),
        _ev(1, "u", before=a, after=a2),
        _ev(2, "u", before=a2, after=a),
    ]
    assert _oracle_rows(tmp_path, log) == [("t0", "r1", "a.py", "c2", "py", "v2")]


# ---- inputs -----------------------------------------------------------------------


def test_frames_decode_with_the_engine_codec():
    pytest.importorskip("pyspark")
    from debezium_spark.sources.wire import _COLUMNS, _unpack_one

    rows = inputs.ConsistentStream(seed=3, n_tables=2).events(50)
    for row in rows:
        got = dict(zip(_COLUMNS, _unpack_one(inputs.encode_frame(row))))
        assert got["pos"] == row["source"]["pos"]
        assert got["op"] == row["op"] and got["table"] == row["source"]["table"]
        assert got["tx_id"] == row["transaction"]["id"]
        for side in ("before", "after"):
            want = row[side]
            assert (json.loads(got[f"{side}_json"]) if want else None) == want


def test_consistent_stream_is_replayable_by_a_plain_sql_sink():
    stream = inputs.ConsistentStream(seed=11, n_tables=3)
    state: dict = {}
    for ev in stream.events(3000):
        key = lambda img: (img["repo"], img["path"])  # noqa: E731
        table = ev["source"]["table"]
        if ev["op"] == "c":
            assert (table, key(ev["after"])) not in state
            state[(table, key(ev["after"]))] = ev["after"]
        elif ev["op"] == "u":
            assert state.pop((table, key(ev["before"]))) == ev["before"]
            assert (table, key(ev["after"])) not in state
            state[(table, key(ev["after"]))] = ev["after"]
        else:
            assert state.pop((table, key(ev["before"]))) == ev["before"]
        assert table == stream.table_of((ev["after"] or ev["before"])["repo"])
    assert {k[1]: v for k, v in state.items()} == stream.live


def test_each_table_keeps_its_share_of_events_across_seeds():
    for seed in range(1, 11):
        events = inputs.ConsistentStream(seed=seed, n_tables=2).events(4000)
        share = sum(ev["source"]["table"] == "t0" for ev in events) / len(events)
        assert abs(share - 0.5) < 0.03, (seed, share)


def test_same_seed_same_inputs():
    a = inputs.ConsistentStream(seed=5, n_tables=2).events(200)
    b = inputs.ConsistentStream(seed=5, n_tables=2).events(200)
    c = inputs.ConsistentStream(seed=6, n_tables=2).events(200)
    assert a == b and a != c


def test_tail_transaction_start():
    assert inputs.tail_tx_start(10) == 0
    assert inputs.tail_tx_start(11) == 10
    assert inputs.tail_tx_start(16015) == 16010
