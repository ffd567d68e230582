"""Merge-on-read mode: delta-append apply + read-time resolution +
compaction must produce byte-identical final state to CoW and to the
sequential oracle, across resume and compaction at any point."""

from __future__ import annotations

import hashlib

from debezium_spark import ChangeLogGenerator, CdcEngine, LakeTable
from tests.conftest import sequential_oracle

N_EVENTS = 4000


def _state(table):
    return {
        (r["repo"], r["path"]): hashlib.sha256(r["content"].encode()).hexdigest()
        for r in table.read().collect()
    }


def _oracle(gen, n):
    events = [r.asDict(recursive=True) for r in gen.events(n).collect()]
    return {
        k: hashlib.sha256(v["content"].encode()).hexdigest()
        for k, v in sequential_oracle(events).items()
    }


def test_mor_replay_matches_oracle_and_cow(spark, tmp_path):
    gen = ChangeLogGenerator(spark, seed=42, n_repos=20)
    batch_dir = str(tmp_path / "b")
    gen.write_batches(batch_dir, N_EVENTS, n_batches=4)
    want = _oracle(gen, N_EVENTS)

    mor = LakeTable(spark, str(tmp_path / "mor"), ["repo", "path"], n_buckets=8, mode="mor")
    CdcEngine(spark, mor, compact_depth=0).replay(batch_dir)
    assert _state(mor) == want

    cow = LakeTable(spark, str(tmp_path / "cow"), ["repo", "path"], n_buckets=8, mode="cow")
    CdcEngine(spark, cow).replay(batch_dir)
    assert _state(cow) == want

    # MoR wrote 4 delta layers, no base
    assert mor.delta_depth() == 4


def test_mor_compaction_preserves_state_and_fence(spark, tmp_path):
    gen = ChangeLogGenerator(spark, seed=7, n_repos=10)
    batch_dir = str(tmp_path / "b")
    gen.write_batches(batch_dir, 2000, n_batches=4)

    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=4, mode="mor")
    engine = CdcEngine(spark, table, compact_depth=0)
    engine.replay(batch_dir)
    before = _state(table)
    fence = table.fence()

    v = table.compact()
    assert v is not None
    assert table.delta_depth() == 0
    assert table.fence() == fence  # maintenance commit, fence untouched
    assert _state(table) == before
    # deltas after compaction still resolve correctly
    engine2 = CdcEngine(spark, table, compact_depth=0)
    more = str(tmp_path / "b2")
    gen.write_batches(more, 1000, n_batches=1, start_pos=2000)
    engine2.replay(more)
    want = _oracle(gen, 3000)
    assert _state(table) == want


def test_mor_auto_compaction_and_resume(spark, tmp_path):
    gen = ChangeLogGenerator(spark, seed=3, n_repos=8)
    batch_dir = str(tmp_path / "b")
    gen.write_batches(batch_dir, 3000, n_batches=6)

    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=4, mode="mor")
    engine = CdcEngine(spark, table, compact_depth=3)
    engine.replay(batch_dir)
    assert table.delta_depth() < 3  # auto-compaction kicked in

    # exactly-once across restart, compaction notwithstanding
    engine2 = CdcEngine(spark, table, compact_depth=3)
    assert engine2.replay(batch_dir) == []
    assert _state(table) == _oracle(gen, 3000)


def test_selective_compaction_targets_deep_buckets_only(spark, tmp_path):
    """Auto-compaction folds only buckets at/over the depth threshold; a
    shallow bucket keeps its delta files (its base is not rewritten)."""
    from pyspark.sql import functions as F

    gen = ChangeLogGenerator(spark, seed=21, n_repos=10)
    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=4, mode="mor")
    engine = CdcEngine(spark, table, compact_depth=0)  # manual control
    bdir = str(tmp_path / "b")
    gen.write_batches(bdir, 2000, 4)
    engine.replay(bdir)
    assert table.delta_depth() == 4

    # every bucket is depth 4 here; compact only a subset explicitly
    deep = table.deep_buckets(4)
    assert deep == [0, 1, 2, 3]
    table.compact(buckets=[0, 1])
    man = table.manifest()
    assert len(table._bucket_dirs(man["buckets"]["0"])[1]) == 0
    assert len(table._bucket_dirs(man["buckets"]["3"])[1]) == 4
    assert table.deep_buckets(4) == [2, 3]
    # state unchanged by partial compaction
    total = table.read().count()
    table.compact()
    assert table.read().count() == total


def test_time_travel_reads(spark, tmp_path):
    """read(version=N) reproduces any unexpired historical state (Iceberg
    snapshot reads), in both modes."""
    gen = ChangeLogGenerator(spark, seed=4, n_repos=5)
    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=4)
    engine = CdcEngine(spark, table, compact_depth=0)
    v1 = engine.apply_envelope_batch(gen.events(300), batch_id="b0")
    state_v1 = {(r["repo"], r["path"]): r["content"] for r in table.read().collect()}
    v2 = engine.apply_envelope_batch(gen.events(300, start_pos=300), batch_id="b1")
    assert v2 > v1
    # historical read reproduces v1 exactly; current read differs
    old = {(r["repo"], r["path"]): r["content"] for r in table.read(version=v1).collect()}
    assert old == state_v1
    now = {(r["repo"], r["path"]): r["content"] for r in table.read().collect()}
    assert now != state_v1


def test_compaction_cadence_spreads_across_batches(spark, tmp_path):
    """Round-6 cadence: under uniform traffic every bucket crosses the
    depth threshold in the same batch; auto-compaction must fold at most
    K = ceil(n_buckets / compact_depth) buckets per batch (deepest first)
    instead of cliffing on all of them at once, while depth stays bounded
    and the final state still matches the sequential oracle."""
    gen = ChangeLogGenerator(spark, seed=9, n_repos=12)
    batch_dir = str(tmp_path / "b")
    n_batches = 10
    gen.write_batches(batch_dir, 5000, n_batches=n_batches)

    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=8, mode="mor")
    compact_depth = 2
    engine = CdcEngine(spark, table, compact_depth=compact_depth)
    engine.replay(batch_dir)

    k = -(-table.n_buckets // compact_depth)  # ceil
    per_batch: dict[str, set[int]] = {}
    for e in table.lineage():
        if "compacted_deltas" in e:
            per_batch.setdefault(e["batch"], set()).add(e["bucket"])
    assert per_batch, "auto-compaction never ran"
    for batch, buckets in per_batch.items():
        assert len(buckets) <= k, (
            f"batch {batch} compacted {len(buckets)} buckets > cap {k}"
        )
    # cadence keeps depth bounded near the threshold (<= ~2x transient)
    assert table.delta_depth() <= 2 * compact_depth + 1
    assert _state(table) == _oracle(gen, 5000)


def test_expire_versions_removes_what_the_prefix_rule_removed(spark, tmp_path):
    """``expire_versions`` keeps the top-level ``data/`` directories the
    kept versions reference — one set lookup per directory — and removes
    exactly the set the earlier O(dirs × referenced) prefix scan removed,
    on a MoR table holding delta, compaction and expired directories."""
    import json
    import os

    gen = ChangeLogGenerator(spark, seed=5, n_repos=6)
    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=2, mode="mor")
    engine = CdcEngine(spark, table, compact_depth=2)
    for b in range(4):
        engine.apply_envelope_batch(gen.events(120, start_pos=b * 120), batch_id=f"b{b}")
    state = _state(table)
    data_root = os.path.join(table.root, "data")
    before = set(os.listdir(data_root))
    kinds = {d.split("-")[0] for d in before}
    assert {"d", "compact"} <= kinds, kinds

    # the prefix rule, evaluated on the same manifests
    names = sorted(n for n in os.listdir(table._mdir) if n.startswith("v") and n.endswith(".json"))
    referenced = set()
    for fn in names[-2:]:
        with open(os.path.join(table._mdir, fn)) as f:
            for val in json.load(f)["buckets"].values():
                base, delta = table._bucket_dirs(val)
                referenced.update(base + delta)
    want_removed = {
        d for d in before
        if not any(r.startswith(os.path.join(data_root, d)) for r in referenced)
    }
    assert want_removed and want_removed != before

    table.expire_versions(keep_last=2)
    assert before - set(os.listdir(data_root)) == want_removed
    assert _state(table) == state
