"""CdcEngine — the micro-batch replay loop.

Plays the role of the reference's coordinator + embedded engine run loop
(``pipeline/ChangeEventSourceCoordinator.java:96-165`` snapshot→stream
handoff; ``debezium-embedded/.../EmbeddedEngine.java:770-860`` poll →
transform → handle → offset-commit loop) and of the fork's sink replay task
(``sink/replay/table/TableReplayTask.java``), collapsed into one driver loop:

    for each ordered batch beyond the fence:
        SMT chain (Catalyst projections)
        DDL barrier segmentation (op='l')
        PK-change split  →  last-writer-wins dedupe  →  MERGE commit
        (fence + per-bucket lineage ride the same commit)

Exactly-once: the fence check in ``merge_changes`` skips any batch whose max
offset <= the committed fence, and the commit is atomic, so re-running any
prefix after a crash is a no-op (FIXTURES.md F4 idempotency).

Every single-table entry path — a replayed batch file (``replay``), a
Structured Streaming epoch (``apply_stream_batch``) and the carry flush
(``flush_tx_carry``) — is one batch step, ``CdcEngine._step``: plan (the
fused probe) → skip (empty or fence-behind) → apply → book (one progress
record). Direct callers (``apply_envelope_batch``, ``bootstrap``,
``backfill``) apply without a carry.

Transaction alignment is ONE protocol for that step and for
``MultiTableEngine.apply_wire_batch`` and its flush: the pure planner
``plan_tail`` turns the batch's ``fused_tail_probe`` row, the carry's meta
and end-of-log into a fence, a tail boundary and the next carry's meta; the
carry owner ``TxCarry`` loads, unions, splits, persists and clears
``<root>/_tx_carry/vN`` together with its ``_carry_meta.json``. The deferred
rows are written on a carry writer thread while the step commits, into a
pending directory that becomes ``vN+1`` only after the commits, so a crash
anywhere in the step resumes from ``vN`` (``TxCarry.step``).
"""

from __future__ import annotations

import json
import os
import shutil
import time as _time
import uuid
from collections.abc import Callable
from concurrent.futures import Future, ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from debezium_spark.operators.apply import compute_changes, split_pk_changes
from debezium_spark.operators.quarantine import split_valid, write_quarantine
from debezium_spark.operators.schema_evolution import (
    apply_ddl,
    compact_schema_history,
    parse_ddl,
    replay_schema_history,
)
from debezium_spark.plans.exprs import TableExprs, TailProbe, at_most
from debezium_spark.plans.merge import _heartbeat_lineage, merge_changes
from debezium_spark.plans.table import LakeTable
from debezium_spark.schema import BARRIER_OPS, offset_key
from debezium_spark.schema import OP_PATH as PATH_OP
from debezium_spark.schema import OP_TRUNCATE as TRUNCATE_OP
from debezium_spark.schema import OP_TRUNCATE_CASCADE as TRUNCATE_CASCADE_OP
from debezium_spark.schema import REPO_PAYLOAD_SCHEMA
from debezium_spark.sources.batches import list_batches, read_batch

Smt = Callable[[DataFrame], DataFrame]


def split_open_tail_tx(
    env: DataFrame, tail: TailProbe, boundary: int
) -> tuple[DataFrame, DataFrame]:
    """Transaction-aligned batch segmentation (reference: whole transactions
    are assembled before apply, ``sink/replay/transaction/
    TransactionReplayTask.java``; the fork's binlog patch switches parse
    queues only on XID boundaries, ``mysql-binlog-connector-java-0.25.4.
    patch:230-330``).

    Returns (closed, deferred): the rows with pos <= ``boundary`` and the
    open tail run beyond it (``plan_tail`` finds the boundary). A pure plan
    transform, no Spark job. ``tail``: the caller's ``TailProbe``, whose
    column reference the split filters reuse (only the boundary is per
    batch).

    The two halves are exact complements: the closed filter is ``at_most``
    and the deferred one its negation, so neither puts the boundary into
    generated code. ``at_most`` is TRUE for null-pos poison records, which
    therefore ride with the CLOSED part into quarantine — a bare
    ``pos <= b`` is NULL for them and they would vanish ('one bad row never
    wedges OR vanishes')."""
    closed = at_most(tail.pos, boundary)
    return env.filter(closed), env.filter(~closed)


def fused_tail_probe(env: DataFrame, probe: TailProbe) -> dict:
    """ONE driver job answering the tail-transaction questions for a batch:
    ``{"p": max pos, "tt": tail tx id, "pmin": tail run start, "ng": number
    of tx groups holding real offsets, "ngrp": total tx groups (>0 ⇔ the
    batch has rows, even if every offset is null), "n": total row count
    (feeds the progress committer's extract/skip counters)}``. Per-tx partial
    aggregate (tiny shuffle: one row per transaction) + global fold — THE
    per-batch probe of every path (``TxCarry.plan``).

    ``probe`` holds the aggregates, built once per table or engine
    (``plans.exprs.TailProbe``): its optional named flags (e.g. barrier
    presence, malformed-row presence) fold into the SAME job — each yields a
    global max under its name plus the tail group's own value under
    ``tail_<name>`` (the deferred run's flags feed the carry meta); its
    ``with_file`` adds the global max source file as ``f``."""
    group, aggs = probe.per_tx
    row = env.groupBy(group).agg(*aggs).select(*probe.fold).first()
    tail = row["tail"]
    out = {
        "p": row["p"],
        "tt": tail["tx"] if tail is not None else None,
        "pmin": tail["pmin"] if tail is not None else None,
        "ng": row["ng"],
        "ngrp": row["ngrp"],
        "n": row["n"] or 0,
        # the tail tx group's own row count — the progress committer's
        # deferred-row figure when the tail is carried to the next batch
        "tail_n": (tail["nrows"] or 0) if tail is not None else 0,
    }
    if probe.with_file:
        out["f"] = row["f"]
    for name in probe.names:
        out[name] = row[name]
        out[f"tail_{name}"] = tail[name] if tail is not None else None
    return out


@dataclass(frozen=True)
class TailPlan:
    """One step's tail-transaction decision (``plan_tail``)."""

    #: fence of the part that commits now; None = the apply derives it (a
    #: flush, or a batch without one fully positioned row)
    fence: tuple[str, int] | None
    #: the committed part is pos <= boundary, the rest defers; None = no split
    boundary: int | None
    #: nothing commits: carry + batch are one still-open transaction
    defer_all: bool
    #: barrier / malformed-row presence in what commits (True may
    #: over-approximate: it costs one empty control-plane pass)
    nd: bool
    nb: bool
    #: the carried rows join this step (False: no carry, or the batch
    #: cannot touch it)
    with_carry: bool
    #: the meta of the carry this step leaves; None = nothing carried
    carry: dict | None


def plan_tail(mm: dict | None, cm: dict | None, final: bool) -> TailPlan:
    """THE tail-transaction planner, shared by every entry path and flush.
    Pure: it runs no Spark job.

    ``mm``: the batch's ``fused_tail_probe`` row (with ``f`` and the
    ``nd``/``nb`` flags), or None for a flush (the log ended, no new
    batch). ``cm``: the carry's meta ``{"tx", "p", "nd", "nb"}``, None when
    nothing is carried. ``final``: the log ends at this batch, so its tail
    transaction is closed (an unaligned apply is final too).

    In an ordered change log transactions are contiguous pos runs and every
    carried pos precedes every batch pos. The only transaction a batch can
    leave OPEN is the one owning its max-pos row — every earlier one is
    proven closed by a later event; null-tx rows (autocommit) are closed
    by definition. So the tail run starts at the tail group's own ``pmin``
    when the batch holds other positioned groups; a batch that is one
    transaction over a DIFFERENT carried one proves the carry closed at its
    max pos; the same transaction (or no carry) stays open end to end.

    A batch without one fully positioned row (null pos or, under the
    file-major key, null file) can neither close nor open a transaction:
    it applies alone, so its rows reach quarantine, and the carry stays."""
    has = cm is not None
    carry_nd, carry_nb = has and bool(cm["nd"]), has and bool(cm["nb"])
    if mm is None:
        return TailPlan(None, None, False, carry_nd, carry_nb, has, None)
    if mm["p"] is None or mm["f"] is None:
        return TailPlan(None, None, False, bool(mm["nd"]), bool(mm["nb"]), False, cm)
    nd, nb = bool(mm["nd"]) or carry_nd, bool(mm["nb"]) or carry_nb
    tt = mm["tt"]
    if final or tt is None:
        return TailPlan((mm["f"], mm["p"]), None, False, nd, nb, has, None)
    if mm["ng"] > 1:
        boundary = mm["pmin"] - 1
    elif has and cm["tx"] != tt:
        boundary = cm["p"]
    else:
        meta = {"tx": tt, "p": mm["p"], "nd": nd, "nb": nb}
        return TailPlan(None, None, True, nd, nb, has, meta)
    # the deferred run is the batch's tail group (plus a carry of the same
    # transaction, conservatively)
    same = has and cm["tx"] == tt
    meta = {"tx": tt, "p": mm["p"],
            "nd": bool(mm["tail_nd"]) or (same and carry_nd),
            "nb": bool(mm["tail_nb"]) or (same and carry_nb)}
    return TailPlan((mm["f"], boundary), boundary, False, nd, nb, has, meta)


#: prefix of a staged carry write under ``_tx_carry/`` (never a version)
PENDING = "pending-"


def _carry_versions(root: str) -> list[tuple[int, str]]:
    base = os.path.join(root, "_tx_carry")
    out = []
    if os.path.isdir(base):
        for n in os.listdir(base):
            if n.startswith("v"):
                try:
                    out.append((int(n[1:]), os.path.join(base, n)))
                except ValueError:
                    pass
    return sorted(out)


def persist_tx_carry(carry: DataFrame, path: str) -> None:
    """Write the open-tail-transaction carry's rows to ``path`` — one Spark
    job, run on the carry writer thread while the step commits
    (``TxCarry.split``). ``path`` is a pending directory that
    ``TxCarry.settle`` publishes as the next version."""
    carry.write.mode("overwrite").parquet(path)


def load_tx_carry(spark: SparkSession, root: str) -> DataFrame | None:
    """Reload the latest persisted open-tail-transaction carry (restart)."""
    versions = _carry_versions(root)
    if versions:
        return spark.read.parquet(versions[-1][1])
    return None


def load_tx_carry_meta(root: str) -> dict | None:
    """The persisted carry's meta (see ``TxCarry``), or None when there is
    no carry or it was written without one."""
    versions = _carry_versions(root)
    if not versions:
        return None
    path = os.path.join(versions[-1][1], "_carry_meta.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


class TxCarry:
    """THE owner of one engine's open-tail-transaction carry: the rows and
    meta held between batches, and ``<root>/_tx_carry/vN`` with its
    ``_carry_meta.json`` on disk. Every entry path runs the same protocol
    through it: ``plan`` (probe → ``plan_tail``), then ``step`` — ``split``
    (carry union → tail split, and the deferred rows' write starts), the
    caller's commit, ``settle`` (publish the carry the step leaves).

    Why persist at all: (1) lineage truncation — without it each batch
    nests another union+filter over every earlier batch's source (O(N)
    plan depth, O(N²) cumulative re-reads on a long stream); (2) crash
    recovery for callers whose source will NOT redeliver the batch (a
    streaming checkpoint advances past the epoch even though the carry
    rows were never committed — batch-file replay can re-split
    deterministically, streaming cannot).

    Staged write, publish after the commits: the deferred rows are written
    by ``persist_tx_carry`` on one worker thread into
    ``_tx_carry/pending-*`` while the step's commits run, so the write no
    longer adds its time to the step. ``settle`` joins the writer
    (re-raising its error), writes ``_carry_meta.json``, renames the
    pending directory to ``vN+1``, deletes older versions and re-reads the
    carry under the schema it wrote (inferring it would cost a job). Never
    overwrite-in-place: both the commit's plan and the staged write read
    ``vN``, and a crash anywhere before the rename resumes from ``vN``,
    the carry as it was before the step. A drained carry clears the disk
    (a stale one would re-merge old events over newer table state on
    restart); a flush stages nothing. Pending directories left by a crash
    are removed on ``load``.

    The meta ``{"tx", "p", "nd", "nb"}`` (``plan_tail``) — the carry's
    transaction id, max pos, and barrier/bad flags — lets the NEXT batch
    plan its split without probing the carry (underscore-prefixed files
    are invisible to the parquet reader)."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        self.df: DataFrame | None = None
        self.meta: dict | None = None
        self._loaded = False
        #: (pending dir, writer future) of the step in flight
        self._staged: tuple[str, Future] | None = None

    def load(self, tail: TailProbe) -> dict | None:
        """The carry's meta, reloading a persisted carry on first use (a
        restart). A carry on disk without ``_carry_meta.json`` is probed
        once, one job, to rebuild it."""
        if not self._loaded:
            self._loaded = True
            base = os.path.join(self.root, "_tx_carry")
            if os.path.isdir(base):
                for n in os.listdir(base):
                    if n.startswith(PENDING):  # a crash before its publish
                        shutil.rmtree(os.path.join(base, n), ignore_errors=True)
            self.df = load_tx_carry(self.spark, self.root)
            if self.df is not None:
                self.meta = load_tx_carry_meta(self.root)
                if self.meta is None:
                    mm = fused_tail_probe(self.df, tail)
                    self.meta = {"tx": mm["tt"], "p": mm["p"],
                                 "nd": bool(mm["nd"]), "nb": bool(mm["nb"])}
        return self.meta

    def plan(
        self, env: DataFrame | None, tail: TailProbe, final: bool
    ) -> tuple[dict | None, TailPlan]:
        """Probe the batch (ONE job; none for a flush, ``env=None``) and
        plan it against the carry. Returns (probe row, plan)."""
        mm = fused_tail_probe(env, tail) if env is not None else None
        return mm, plan_tail(mm, self.load(tail), final)

    def split(
        self, env: DataFrame | None, plan: TailPlan, tail: TailProbe
    ) -> tuple[DataFrame | None, DataFrame | None]:
        """(commit now, defer): the carry joins the batch when the plan
        says so, then the tail run splits off and its write starts on the
        carry writer thread. No Spark job on the calling thread."""
        if plan.with_carry:
            env = self.df if env is None else self.df.unionByName(env)
        if plan.defer_all:
            closed, deferred = None, env
        elif plan.boundary is None:
            return env, None
        else:
            closed, deferred = split_open_tail_tx(env, tail, plan.boundary)
        path = os.path.join(self.root, "_tx_carry", f"{PENDING}{uuid.uuid4().hex}")
        writer = ThreadPoolExecutor(1, thread_name_prefix="tx-carry-writer")
        self._staged = (path, writer.submit(persist_tx_carry, deferred, path))
        writer.shutdown(wait=False)
        return closed, deferred

    def settle(self, deferred: DataFrame | None, plan: TailPlan) -> None:
        """Publish the carry the step leaves — AFTER its commits (see the
        class docstring)."""
        if deferred is None and not plan.with_carry:
            return
        versions = _carry_versions(self.root)
        df = None
        if deferred is not None:
            path, written = self._staged
            self._staged = None
            written.result()
            with open(os.path.join(path, "_carry_meta.json"), "w") as f:
                json.dump(plan.carry, f)
            d = os.path.join(self.root, "_tx_carry",
                             f"v{versions[-1][0] + 1 if versions else 1}")
            os.replace(path, d)
            df = self.spark.read.schema(deferred.schema).parquet(d)
        for _, p in versions:
            shutil.rmtree(p, ignore_errors=True)
        self.df, self.meta = df, (plan.carry if df is not None else None)

    def _abandon(self) -> None:
        """A step whose commit failed: wait for its staged write, whatever
        its outcome, and drop it; the carry stays at ``vN``."""
        if self._staged is not None:
            path, written = self._staged
            self._staged = None
            written.exception()
            shutil.rmtree(path, ignore_errors=True)

    @contextmanager
    def step(self, env: DataFrame | None, plan: TailPlan, tail: TailProbe):
        """``split``, then the caller's commit of the yielded part (None:
        nothing commits), then ``settle``; a failed commit drops the staged
        write."""
        closed, deferred = self.split(env, plan, tail)
        try:
            yield closed
        except BaseException:
            self._abandon()
            raise
        self.settle(deferred, plan)


class CdcEngine:
    def __init__(
        self,
        spark: SparkSession,
        table: LakeTable,
        smt_chain: list[Smt] | None = None,
        salt_factor: int = 4,
        compact_depth: int = 8,
        quarantine: bool = True,
        tombstones_on_delete: bool = False,
        history_compact_threshold: int = 256,
        expire_keep: int | None = None,
        committer=None,
    ) -> None:
        """``compact_depth``: in MoR mode, fold deltas into the base once any
        bucket accumulates this many delta files (read cost grows with delta
        depth; compaction restores it). 0 disables auto-compaction.

        ``quarantine``: divert malformed rows (unknown op, null key/offset)
        to the table's quarantine area instead of merging garbage or
        failing the batch — the reference's fail-SQL ledger
        (TableReplayTask.java:61,98,612). The fence still advances past
        quarantined offsets. False = strict mode: a malformed row FAILS
        the batch with a ValueError naming the validity reason (Kafka
        Connect ``errors.tolerance=none`` semantics — letting the row
        continue would silently drop it in the three-valued segment
        filters, not merge it).

        ``tombstones_on_delete``: emit the wire-format tombstone between the
        DELETE and CREATE of a PK-change split (tombstones.on.delete config;
        RecordMakers.java:282-312). Tombstones are dropped before the merge
        dedupe, so the final table state is identical either way — the flag
        exists for wire-format consumers tapping the split stream.

        ``committer``: optional ``streaming.progress.ProcessCommitter``
        (role='sink') — the fork's migration-progress reporting
        (README.md:113; BaseProcessCommitter.java). The batch step
        (``_step``) feeds it counts it already has (the fused probe's row
        count, the commit's lineage rows, the quarantine write), so
        reporting adds no Spark jobs to the hot path."""
        self.spark = spark
        self.table = table
        self.smt_chain = smt_chain or []
        self.salt_factor = salt_factor
        self.compact_depth = compact_depth
        self.quarantine = quarantine
        self.tombstones_on_delete = tombstones_on_delete
        self.committer = committer
        #: fold the schema-history ledger into one checkpoint line once it
        #: accumulates this many op entries (VERDICT r4 #1 — the ledger and
        #: its restart replay stay O(threshold) instead of growing with
        #: stream lifetime; the reference's breakpoint ledger likewise
        #: expires applied offsets, BreakPointRecord.java:116). 0 disables.
        self.history_compact_threshold = history_compact_threshold
        #: auto-expire table versions down to this many after each committed
        #: batch (Iceberg snapshot expiration) — bounds manifest count and
        #: the per-version lineage with it. None (default) keeps every
        #: version for time travel; long-running streams should set it.
        self.expire_keep = expire_keep
        #: the open tail transaction deferred across batches and calls
        self._carry = TxCarry(spark, table.root)
        if not table.exists():
            table.create(REPO_PAYLOAD_SCHEMA)

    def _lineage_events_since(self, v0: int) -> int:
        """Rows the versions after ``v0`` committed (upserts + deletes,
        from their manifests' own lineage — driver-side file reads, no
        Spark job). Compaction/heartbeat entries carry zero events, so a
        multi-segment DDL batch sums its segments and nothing else."""
        total = 0
        for v in range(v0 + 1, self.table.manifest()["version"] + 1):
            try:
                entries = self.table.manifest(v).get("lineage", [])
            except FileNotFoundError:  # expired under expire_keep
                continue
            # "events" is the bucket's total applied rows (upserts AND
            # deletes — "deletes"/"upserts" are its breakdown)
            total += sum(e.get("events", 0) for e in entries)
        return total

    def _quarantine_rows(self, batch_id: str, since: float | None = None) -> int:
        """Row count of this batch's quarantine dir via parquet footers
        (pyarrow, driver-side — no Spark job); 0 when nothing was
        quarantined (the common case: the dir doesn't exist).

        ``since``: wall-clock taken just before the apply — a dir OLDER
        than it predates this apply (a reused batch id, e.g. a second
        carry flush on the same root; the write is mode=overwrite so a
        fresh quarantine always refreshes the dir mtime) and must not be
        re-counted as this batch's failures (review r5 finding)."""
        safe = batch_id.replace("/", "_").replace(".", "_")
        qdir = os.path.join(self.table.root, "quarantine", safe)
        if not os.path.isdir(qdir):
            return 0
        if since is not None and os.path.getmtime(qdir) < since:
            return 0
        import pyarrow.parquet as pq

        return sum(
            pq.read_metadata(os.path.join(qdir, fn)).num_rows
            for fn in os.listdir(qdir)
            if fn.endswith(".parquet")
        )

    def read_quarantine(self):
        from debezium_spark.operators.quarantine import read_quarantine

        return read_quarantine(self.spark, self.table.root)

    # ---- snapshot-then-stream handoff (SURVEY §2.2 / §3) -----------------

    def bootstrap(self, snapshot_env: DataFrame, fence: tuple[str, int]) -> int | None:
        """Apply the initial snapshot (op='r' events) pinned at ``fence``.

        The reference needs global read locks + SHOW MASTER STATUS to pin
        the handoff point (MySqlSnapshotChangeEventSource.java:167-222);
        here the snapshot rows and their fence commit atomically, giving the
        same consistent handoff lock-free."""
        return self.apply_envelope_batch(snapshot_env, batch_id="snapshot", fence=fence)

    def backfill(self, chunk_env: DataFrame, batch_id: str = "backfill") -> int | None:
        """Incremental-snapshot backfill (DBLog, SURVEY §2.2): re-read a
        chunk of the source mid-stream without stopping the stream.

        The reference interleaves chunk reads with streaming via
        open/close-window signals and a key-dedupe buffer
        (``AbstractIncrementalSnapshotChangeEventSource.java:73,136-146``).
        Under ordered micro-batches the same semantics need no signals: the
        chunk is stamped *at* the committed fence with
        ``source.snapshot='incremental'``, and ``resolution_pos`` gives
        chunk rows a sub-position strictly above every applied event at
        pos <= fence and strictly below the first unapplied real event at
        fence+1 — exactly the DBLog outcome (chunk overwrites stale state,
        stream events after the window win). The fence itself does NOT
        advance: source.pos is a dense event index, so the event at fence+1
        is real and not yet applied; advancing past it would drop it on the
        next fence skip. The backfill commit instead bypasses the
        fence-equality skip (``fence_check=False``) — re-running it after a
        crash is idempotent (same rows, same encoded positions)."""
        cur = self.table.fence()
        file = cur[0] if cur else "binlog.000000"
        # -1 = "nothing applied yet" (the snapshot-fence convention: events
        # start at pos 0) — a 0 here would claim event 0 as applied and the
        # fence skip would silently drop it on the next replay
        pos = cur[1] if cur else -1
        chunk = chunk_env.withColumn(
            "source",
            F.col("source")
            .withField("pos", F.lit(pos).cast("long"))
            .withField("file", F.lit(file))
            .withField("snapshot", F.lit("incremental")),
        )
        return self.apply_envelope_batch(
            chunk, batch_id=batch_id, fence=(file, pos), fence_check=False
        )

    # ---- one micro-batch --------------------------------------------------

    #: hard cap on barrier rows collected to the driver per batch — DDL is a
    #: control-plane trickle; a batch carrying more than this is malformed
    #: (protects driver memory: the collect pulls `after.content` rows in).
    MAX_BARRIERS_PER_BATCH = 1024

    def apply_envelope_batch(
        self,
        env: DataFrame,
        batch_id: str,
        fence: tuple[str, int] | None = None,
        has_ddl: bool | None = None,
        fence_check: bool = True,
        has_bad: bool | None = None,
    ) -> int | None:
        # Fence from the *pre-SMT* batch: SMTs may drop every row (e.g.
        # skipped-operations on an all-delete batch) but the source offsets
        # are still consumed — the fence must advance anyway (offset-bearing
        # heartbeat, reference heartbeat/Heartbeat.java:27-79; without this
        # a quiet table's fence goes stale, the slot-retention failure).
        # One manifest read serves the table's expression set and the
        # resume-skip fence below (nothing commits in between).
        man = self.table.manifest()
        x = self.table.exprs(man)
        if fence is None:
            # Direct callers (and a step whose batch has no fully
            # positioned row) land here without the step's fence. When no
            # SMT chain separates the pre-SMT fence view from the post-SMT
            # validity view, ONE flat aggregation also answers the has_bad
            # and has_ddl probes below (per-batch serial driver time is the
            # scaling bottleneck).
            fuse_flags = not self.smt_chain and (has_bad is None or has_ddl is None)
            mm = env.select(*x.fence_probe[: 4 if fuse_flags else 2]).first()
            if fuse_flags:
                if has_bad is None:
                    has_bad = bool(mm["nb"])
                if has_ddl is None:
                    has_ddl = bool(mm["nd"])
            if mm["p"] is None or mm["f"] is None:
                # Every row is missing part of its offset (pos, or — under
                # the file-major key — file): there is nothing to fence,
                # but the rows themselves are poison records, not silence:
                # they reach quarantine (or fail the batch) before it is
                # declared a no-op — one bad row never wedges OR vanishes.
                self._divert_bad(env, x, batch_id, has_bad, "offset-less batch")
                return None
            fence = (mm["f"], mm["p"])

        for smt in self.smt_chain:
            env = smt(env)
        env = self._divert_bad(env, x, batch_id, has_bad)

        # Barrier segmentation: DDL ('l') and TRUNCATE ('t') rows split the
        # batch — events before a barrier merge under the old table state,
        # events after under the new. Barriers are rare, so detection must
        # not decode the (wide) content column for the whole batch: first a
        # cheap op-column-only probe (or the hint the batch step's fused probe
        # computed), and only if non-zero the content collect
        # (parquet column pruning makes the probe read just `op`).
        if has_ddl is None:
            has_ddl = env.filter(x.barrier).limit(1).count() > 0
        if has_ddl:
            # DDL text source: the wire path carries it in a `_ddl_text`
            # side column (arbitrary payload schemas have no `content`
            # field); the native envelope path reads after.content; a
            # payload with neither yields text-less barriers (segmentation
            # still splits, nothing to apply)
            if "_ddl_text" in env.columns:
                text_col = F.col("_ddl_text").alias("content")
            elif "content" in env.schema["after"].dataType.fieldNames():
                text_col = F.col("after.content").alias("content")
            else:
                text_col = F.lit(None).cast("string").alias("content")
            # bounded collect: barriers are control-plane rows; cap protects
            # the driver from a malformed batch full of op='l' rows
            ddls = (
                # null-file barriers are excluded: their segment fence
                # (file-major) would sort below EVERY real fence and
                # silently fence-skip the preceding segment's valid rows
                # (review r5). With quarantine on they were already split
                # out as null_offset; this guards the quarantine-off path.
                env.filter(
                    F.col("op").isin(BARRIER_OPS)
                    & F.col("source.file").isNotNull()
                    & F.col("source.pos").isNotNull()
                )
                .select("source.file", "source.pos", "op", "ts_ms",
                        F.col("source.db").alias("db"),
                        F.col("source.table").alias("tbl"), text_col)
                .orderBy(F.coalesce(F.col("file"), F.lit("")), "pos")
                .limit(self.MAX_BARRIERS_PER_BATCH + 1)
                .collect()
            )
            if len(ddls) > self.MAX_BARRIERS_PER_BATCH:
                raise ValueError(
                    f"batch {batch_id} carries >{self.MAX_BARRIERS_PER_BATCH} "
                    "DDL/TRUNCATE barrier rows — refusing unbounded driver collect"
                )
            dml = env.filter(~x.barrier)
        else:
            ddls = []
            dml = env
        # payload-free control rows ('m' message, 'i' index, 'ts' snapshot
        # marker, 'p' slice pointer): their offsets are consumed (the fence
        # already covers them) but they carry no row data — drop them from
        # the merge instead of letting null payloads reach the dedupe
        dml = dml.filter(x.not_control)
        if "_ddl_text" in dml.columns:
            dml = dml.drop("_ddl_text")

        cur = self.table.fence(man)
        # every fence comparison is file-major via offset_key (schema.py
        # offset-order contract); the intra-batch SEGMENT filters below stay
        # on the long pos — contract-equivalent, cheaper per row
        if fence_check and cur is not None and offset_key(*fence) <= offset_key(*cur):
            return None  # whole batch already applied (resume skip)

        version = None
        seg_start, last_end = TableExprs.OPEN
        for i, d in enumerate(list(ddls) + [None]):
            seg_end = d["pos"] if d is not None else last_end
            seg = dml.filter(
                x.open_segment if (seg_start, seg_end) == TableExprs.OPEN
                else x.segment(seg_start, seg_end)
            )
            # the segment's fence is the offset just below its closing
            # barrier — in the BARRIER's file, not the batch-max file (a
            # multi-file batch would otherwise record a (later-file,
            # earlier-pos) pair that breaks file-major ordering)
            seg_fence = (d["file"], d["pos"] - 1) if d is not None else fence
            version = (
                self._merge_segment(seg, f"{batch_id}/s{i}", seg_fence, fence_check, x)
                or version
            )
            if d is not None:
                cur = self.table.fence()
                if cur is None or offset_key(d["file"], d["pos"]) > offset_key(*cur):
                    if d["op"] in (TRUNCATE_OP, TRUNCATE_CASCADE_OP):
                        version = self.table.truncate(
                            (d["file"], d["pos"]), batch_id=f"{batch_id}/t{i}"
                        )
                    elif d["op"] == PATH_OP:
                        # fork PATH record: content = location of a slice
                        # set exported by the full-migration tool; load it
                        # as op='r' snapshot rows pinned AT this position
                        # (RelationalChangeRecordEmitter.java:89-101 PATH
                        # emit; OpengaussSnapshotChangeEventSource slice
                        # export). Missing content = plain control row.
                        if d["content"]:
                            from debezium_spark.sources.slices import (
                                load_csv_slices,
                                snapshot_envelope,
                            )

                            rows = load_csv_slices(
                                self.spark.read.parquet(d["content"])
                            )
                            version = self._merge_segment(
                                snapshot_envelope(rows, d["file"], d["pos"]),
                                f"{batch_id}/p{i}",
                                (d["file"], d["pos"]),
                                fence_check,
                                x,
                            ) or version
                    else:
                        # TRUNCATE TABLE arriving as SQL *text* (op='l')
                        # routes to the same truncate barrier as op='t' —
                        # but only when the statement names THIS capture
                        # (the row's source identity): a multi-statement
                        # script may truncate some OTHER table, which must
                        # stay history-only here. apply_ddl handles column
                        # evolution + the history ledger (table-level ops
                        # are history-only there).
                        if d["content"] is not None:
                            def _targets_self(op_) -> bool:
                                _, op_db, op_tbl = op_[0], op_[1], op_[2]
                                if d["tbl"] is not None and op_tbl != d["tbl"]:
                                    return False
                                if (op_db is not None and d["db"] is not None
                                        and op_db != d["db"]):
                                    return False
                                return True
                            if any(
                                o[0] == "truncate_table" and _targets_self(o)
                                for o in parse_ddl(d["content"])
                            ):
                                version = self.table.truncate(
                                    (d["file"], d["pos"]), batch_id=f"{batch_id}/t{i}"
                                )
                            # barrier ts_ms resolves CURRENT_TIMESTAMP-class
                            # defaults deterministically (schema_evolution.
                            # resolve_default_marker)
                            apply_ddl(self.table, d["content"],
                                      (d["file"], d["pos"]), ts_ms=d["ts_ms"])
            seg_start = seg_end
        self._maintain_ledgers(applied_ddl=bool(ddls), committed=version is not None)
        return version

    def _divert_bad(
        self, env: DataFrame, x: TableExprs, batch_id: str,
        has_bad: bool | None, reason: str | None = None,
    ) -> DataFrame:
        """THE malformed-row decision (unknown op, null key/offset): with
        ``quarantine`` the rows go to the batch's quarantine dir and the
        good rows return; in strict mode one FAILS the batch (Kafka Connect
        errors.tolerance=none — the three-valued segment and control-op
        filters would silently DROP a null-offset or null-op row).

        ``has_bad``: the caller's probe answer; None runs a narrow probe.
        ``reason``: what the strict error names; None reads the first bad
        row's. A fused probe's flag covers the whole batch, so the row may
        sit in the deferred carry instead (it fails when the carry
        applies)."""
        good, bad = split_valid(env, x)
        if has_bad is None:
            has_bad = bad.limit(1).count() > 0
        if not has_bad:
            return good if self.quarantine else env
        if self.quarantine:
            write_quarantine(bad, self.table.root, batch_id)
            return good
        if reason is None:
            row = bad.select("_reason").first()
            reason = (row["_reason"] if row is not None
                      else "deferred with the open-transaction carry")
        raise ValueError(
            f"batch {batch_id}: malformed record ({reason}) in strict mode — "
            "construct the engine with quarantine=True to divert such rows "
            "instead"
        )

    def _maintain_ledgers(self, applied_ddl: bool, committed: bool) -> None:
        """Post-batch ledger upkeep (VERDICT r4 #1 — bounded control state
        at the 10^5+-batch design point): fold the schema-history ledger
        into its checkpoint once it exceeds ``history_compact_threshold``
        op entries (checked only on batches that carried DDL — the ledger
        grows only then), and expire old table versions down to
        ``expire_keep`` after a committed batch. Both are driver-local file
        operations, O(threshold) and O(n_versions) — no Spark jobs."""
        if applied_ddl and self.history_compact_threshold:
            # threshold check and fold share ONE ledger read (review r5)
            compact_schema_history(
                self.table, min_entries=self.history_compact_threshold
            )
        if committed and self.expire_keep is not None:
            self.table.expire_versions(keep_last=self.expire_keep)

    def heartbeat(self, fence: tuple[str, int]) -> int | None:
        """Offset-bearing heartbeat (reference ``heartbeat/Heartbeat.java:
        27-79``): advance the fence with an empty commit when the source
        reports progress but no rows reach the sink (idle table, or every
        row SMT-filtered). Keeps the fence fresh so upstream log/slot
        retention can truncate. No-op if the fence would not advance."""
        cur = self.table.fence()
        if cur is not None and offset_key(*fence) <= offset_key(*cur):
            return None
        self.table.commit_buckets({}, [], fence, _heartbeat_lineage("heartbeat", fence))
        if self.committer:
            # liveness line: counters unchanged, timestamp fresh — the
            # reference's idle reporter keeps emitting so controllers can
            # distinguish "idle" from "dead" (paced by the interval)
            self.committer.commit()
        return self.table.manifest()["version"]

    def _merge_segment(
        self,
        env: DataFrame,
        batch_id: str,
        fence: tuple[str, int],
        fence_check: bool,
        x: TableExprs,
    ) -> int | None:
        """PK split → last-wins dedupe → merge → cadenced compaction. The
        split and dedupe expressions depend on the key columns only, so the
        batch's expression set ``x`` serves every segment, even after a
        DDL barrier changed the schema mid-batch."""
        keys = self.table.key_cols
        tomb = self.tombstones_on_delete
        payload_fields = env.schema["after"].dataType.fieldNames()
        split = split_pk_changes(env, keys, tomb, cols=x.pk_split(tomb))
        if tomb:
            # tombstones are wire-format markers; the merge consumes the
            # delete itself (same final state, asserted in tests)
            split = split.filter(x.not_tombstone).drop("_tombstone")
        changes = compute_changes(split, keys, cols=x.dedupe(payload_fields))
        v = merge_changes(
            self.table, changes, fence, batch_id,
            salt_factor=self.salt_factor, fence_check=fence_check,
        )
        if self.compact_depth:
            # Selective AND spread (VERDICT r5 #2): fold only buckets that
            # actually got deep, and at most K of them per batch, deepest
            # first. Under uniform traffic every bucket crosses the depth
            # threshold in the SAME batch — the r5 sf1 run paid a 123.7 s
            # end-of-log batch when all 64 buckets compacted at once. With
            # K = ceil(n_buckets / compact_depth) the steady-state cadence
            # compacts the whole table once per compact_depth batches (same
            # amortized work) while bounding any one batch's compaction to
            # K bucket rewrites; transient depth stays <= ~2x the threshold
            # during the first cycle, then buckets stagger naturally.
            depths = self.table.bucket_depths(self.compact_depth)
            if depths:
                k = max(1, -(-self.table.n_buckets // self.compact_depth))
                deep = sorted(depths, key=lambda b: (-depths[b], b))[:k]
                v = self.table.compact(
                    buckets=sorted(deep), batch_id=f"{batch_id}/compact"
                ) or v
        return v

    #: auto-sizing floor/shape for incremental-snapshot chunks: each chunk is
    #: one fence commit, so the commit count must stay bounded at any table
    #: size — chunks auto-size to rows/(defaultParallelism × MULT), floored
    #: (at 10^10 rows on 1000 executors×8 slots that is ~4×8000 commits of
    #: ~300k rows each, vs 10^5 serial commits at a fixed 100k chunk_size)
    CHUNK_SIZE_FLOOR = 100_000
    CHUNK_PAR_MULT = 4

    def incremental_snapshot(
        self,
        source_rows: DataFrame,
        chunk_size: int | None = None,
        batch_id: str = "incr-snap",
    ) -> int:
        """DBLog-style chunked re-snapshot of a live table, mid-stream: the
        orchestration loop the reference drives from an execute-snapshot
        signal (``signal/ExecuteSnapshot.java`` →
        ``AbstractIncrementalSnapshotChangeEventSource.java``). The source
        is split into chunks; each chunk goes through ``backfill``
        (fence-pinned, sub-positioned — stream events newer than the window
        still win). Returns the number of chunks.

        ``chunk_size=None`` (default) auto-sizes: ``max(CHUNK_SIZE_FLOOR,
        rows / (defaultParallelism × CHUNK_PAR_MULT))`` — the chunk count
        (= serial fence-commit count, the scaling bottleneck of this loop)
        is then bounded by parallelism × CHUNK_PAR_MULT at ANY table size,
        while small tables keep full-floor chunks. An explicit chunk_size
        is honored verbatim (the reference's incremental.snapshot.chunk.size
        knob).

        ``source_rows`` is an op='r' envelope DataFrame (same shape as
        ``bootstrap``'s input). Chunks are assigned by *key hash*, not a
        key-range sort: assignment is then a deterministic pure function of
        the row (no global single-task sort, no window re-evaluation per
        chunk, no tie-break nondeterminism), every chunk is a consistent
        key subset, and the scan parallelizes fully. The source is cached
        for the loop (each chunk filter re-scans it otherwise)."""
        n = source_rows.count()
        if n == 0:
            return 0
        if chunk_size is None:
            par = max(1, self.spark.sparkContext.defaultParallelism)
            chunk_size = max(self.CHUNK_SIZE_FLOOR,
                             -(-n // (par * self.CHUNK_PAR_MULT)))
        n_chunks = max(1, (n + chunk_size - 1) // chunk_size)
        key_hash = F.xxhash64(*[F.col(f"after.{c}") for c in self.table.key_cols])
        chunked = source_rows.withColumn(
            "_chunk", F.pmod(key_hash, F.lit(n_chunks))
        ).persist()
        try:
            for c in range(n_chunks):
                chunk = chunked.filter(F.col("_chunk") == c).drop("_chunk")
                self.backfill(chunk, batch_id=f"{batch_id}/c{c:04d}")
        finally:
            chunked.unpersist()
        return n_chunks

    # ---- coordinator: snapshot-mode selection + replay ---------------------

    def run(
        self,
        batch_dir: str,
        snapshot_env: DataFrame | None = None,
        snapshot_mode: str = "initial",
        snapshot_fence: tuple[str, int] = ("binlog.000001", -1),
    ) -> list[int]:
        """Snapshot-then-stream coordinator with mode selection — the
        reference's snapshot.mode config (``MySqlConnectorConfig``
        SnapshotMode; coordinator ordering
        ``ChangeEventSourceCoordinator.java:96-165``):

        - ``initial``: bootstrap the snapshot, then stream (default);
        - ``initial_only``: bootstrap the snapshot, then STOP — no
          streaming (``MySqlConnectorConfig.java:131-167`` INITIAL_ONLY);
        - ``when_needed``: bootstrap only if this table has no committed
          fence yet (fresh table or lost offsets) — otherwise stream only;
        - ``never``: stream only;
        - ``schema_only``: commit the snapshot *fence* (so streaming starts
          from "now") but none of its rows — the reference's
          schema_only/no-data mode;
        - ``schema_only_recovery``: rebuild the table schema by replaying
          the ``_schema_history.jsonl`` ledger (idempotent alters), then
          stream — the reference's recovery mode for a lost/corrupted
          schema history topic.
        """
        modes = ("initial", "initial_only", "when_needed", "never",
                 "schema_only", "schema_only_recovery")
        if snapshot_mode not in modes:
            raise ValueError(f"unknown snapshot_mode {snapshot_mode!r}")
        need = (
            snapshot_mode in ("initial", "initial_only")
            or (snapshot_mode == "when_needed" and self.table.fence() is None)
        )
        if need:
            if snapshot_env is None:
                raise ValueError(f"snapshot_mode={snapshot_mode!r} requires snapshot_env")
            self.bootstrap(snapshot_env, fence=snapshot_fence)
            if snapshot_mode == "initial_only":
                return []  # snapshot-and-stop: the stream is never opened
        elif snapshot_mode == "schema_only" and self.table.fence() is None:
            self.heartbeat(snapshot_fence)  # fence-only commit, zero rows
        elif snapshot_mode == "schema_only_recovery":
            self.recover_schema()
        return self.replay(batch_dir)

    def recover_schema(self) -> int:
        """Replay the ``_schema_history.jsonl`` ledger onto the table
        (``AbstractDatabaseHistory.java`` recovery; reference mode
        SCHEMA_ONLY_RECOVERY) through the same op applier live DDL uses —
        see ``schema_evolution.replay_schema_history``. Converges to the
        pre-loss schema from any starting incarnation, compacted ledgers
        included; returns the number of ledger entries replayed."""
        return replay_schema_history(self.table)

    # ---- the batch step: replay, stream epochs and carry flushes ----------

    def replay(self, batch_dir: str, tx_aligned: bool = True, final: bool = True) -> list[int]:
        """Replay all batches beyond the committed fence, in order: one
        ``_step`` per batch file.

        Skip: a batch whose max offset is at or behind the committed fence
        (and nothing is carried) is booked as skipped without touching the
        data again — its offsets come from the step's fused probe, the
        analog of the breakpoint filter at TableReplayTask.java:132-144.

        ``tx_aligned``: a transaction whose events straddle two batch files
        must not commit as two fenced commits (a crash between them would
        expose a half-applied transaction — the reference applies whole
        transactions, TransactionReplayTask.java). The batch's open tail
        transaction (see ``plan_tail``) is deferred into the next
        batch; the split is a pure function of the batch content, so a
        crash-resume recomputes the identical segmentation and the
        fence-check keeps everything idempotent. After the last batch the
        remaining carry is flushed (end of log closes the transaction).
        Zero extra cost for streams without transaction metadata (the probe
        rides the existing fused aggregation).

        The carry lives on the engine across ``replay`` calls; only the
        CALLER knows whether the log is complete. One-shot replays of a
        finished log (the default, ``final=True``) flush the last open
        transaction at the end — a binlog only contains committed
        transactions, so end-of-log closes it. A caller that re-replays a
        GROWING directory as files arrive passes ``final=False`` and calls
        ``flush_tx_carry`` at true end-of-stream. On
        crash-resume the carry is reconstructed deterministically from the
        re-read batch (its max pos is beyond the committed fence, and
        re-carried duplicate rows collapse in the merge's last-wins
        dedupe)."""
        versions = []
        if not tx_aligned:
            # a carry deferred by an earlier aligned run predates every
            # batch here (ordered log) — commit it FIRST: applying the new
            # batches would advance the fence past the carry's offsets and a
            # later flush would fence-skip it into oblivion (review r4)
            versions.append(self.flush_tx_carry())
        paths = list_batches(batch_dir)
        for path in paths:
            # the id names the batch FILE (a missing file must not shift
            # the quarantine dirs of every later batch)
            versions.append(self._step(
                read_batch(self.spark, path),
                os.path.basename(path).removesuffix(".parquet"),
                final=not tx_aligned or (final and path == paths[-1]),
            ))
        if final and self._carry.df is not None:
            # only reachable when the directory was empty, every batch was
            # skipped or the last one had no offsets — flush whatever was
            # carried in from before
            versions.append(self.flush_tx_carry())
        if self.committer:
            # terminal force-line: per-batch lines are paced by
            # commit.time.interval, so a replay faster than the interval
            # would otherwise leave the progress file showing only the
            # first batch forever (review r5 finding)
            self.committer.commit(force=True)
        return [v for v in versions if v is not None]

    def apply_stream_batch(
        self, env: DataFrame, batch_id: str, tx_aligned: bool = True
    ) -> int | None:
        """One streaming micro-batch (foreachBatch epoch) through the same
        ``_step`` as a replayed file: the epoch's open tail transaction
        defers (persisted carry — a checkpoint will not redeliver this
        epoch) and rejoins when its END arrives; an empty or redelivered
        epoch is skipped. Call ``flush_tx_carry`` at end of stream.
        ``tx_aligned=False`` commits a carry left by earlier aligned epochs
        first, then the whole epoch."""
        if not tx_aligned:
            self.flush_tx_carry()
        return self._step(env, batch_id, final=not tx_aligned)

    def flush_tx_carry(self, batch_id: str = "batch_txflush") -> int | None:
        """Apply the deferred open-tail transaction — call when the log is
        known complete (a binlog only ever contains committed transactions,
        so end-of-log closes it). No-op if nothing is carried."""
        return self._step(None, batch_id, final=True)

    def _step(self, env: DataFrame | None, batch_id: str, final: bool) -> int | None:
        """THE batch step of every single-table entry path — a replayed
        file, a stream epoch, or a carry flush (``env=None``):

        1. one manifest read (the probe's expressions, the skip's fence,
           the version the books count from);
        2. ``TxCarry.plan``: the fused probe (ONE job; none for a flush)
           and ``plan_tail`` against the carry;
        3. skip an empty batch, or one at or behind the fence while nothing
           is carried (booked as skipped — the reference's breakpoint
           skip); a flush with no carry is a no-op;
        4. apply the closing part under ``TxCarry.step`` with the plan's
           fence and flags (with SMTs installed the apply re-probes for
           malformed rows: the fused probe sees pre-SMT rows);
        5. one progress record: the probe's row count (0 for a flush), the
           commit's lineage events, the quarantine write, the deferred
           tail's exact row count, whether the whole carry drained; a flush
           also writes the end-of-stream line."""
        man = self.table.manifest()
        tail = self.table.exprs(man).probe
        mm, plan = self._carry.plan(env, tail, final)
        if mm is None:
            if not plan.with_carry:
                return None
        elif not mm["ngrp"]:
            return None
        else:
            cur = self.table.fence(man)
            if (
                self._carry.df is None
                and None not in (mm["f"], mm["p"], cur)
                and offset_key(mm["f"], mm["p"]) <= offset_key(*cur)
            ):
                if self.committer:
                    self.committer.record_sink_batch(
                        extracted=mm["n"], success=0, skipped=mm["n"]
                    )
                return None
        t0 = _time.time()
        v = None
        with self._carry.step(env, plan, tail) as closed:
            if closed is not None:
                v = self.apply_envelope_batch(
                    closed, batch_id=batch_id, fence=plan.fence,
                    has_ddl=plan.nd,
                    has_bad=None if self.smt_chain else plan.nb,
                )
        if self.committer:
            self.committer.record_sink_batch(
                extracted=mm["n"] if mm else 0,
                success=self._lineage_events_since(man["version"]),
                failed=self._quarantine_rows(batch_id, since=t0),
                deferred=(
                    mm["n"] if plan.defer_all
                    else mm["tail_n"] if plan.boundary is not None else 0
                ),
                drained_carry=plan.with_carry and not plan.defer_all,
            )
            if env is None:
                self.committer.commit(force=True)  # end-of-stream line
        return v
