"""LakeTable — bucketed, versioned parquet table with atomic offset-fenced
commits.

This is the engine's sink. It implements the subset of Iceberg semantics the
CDC apply path needs — atomic snapshot commits, hash-bucket layout
(``bucket(N, key)``), snapshot-summary offset fence, schema evolution, and
commit-time lineage — over plain parquet + JSON manifests, because no Iceberg
runtime jar ships in this sandbox. On a real cluster the merge in
``plans.merge`` swaps to Iceberg ``MERGE INTO`` and this class becomes a thin
catalog wrapper; nothing else in the engine changes.

Why it is exactly-once (replaces the reference's Kafka breakpoint ledger +
read-back probes, ``debezium-core/.../connector/breakpoint/
BreakPointRecord.java:58-120`` and ``TableReplayTask.java:351-399``): data
files are written first, then a single JSON manifest naming them is published
with an atomic ``os.replace`` of the LATEST pointer. The manifest carries the
source offset fence ``(file, pos)`` *in the same commit* as the data, so a
crash between data write and manifest publish leaves only invisible orphan
files, and on resume any batch whose max offset <= fence is skipped — no
read-back probes needed.

Scale notes (100 TB / 10^10 events):
- Bucket count is the unit of rewrite: a fold (compaction, or a
  copy-on-write merge) rewrites only the buckets it targets, so its cost is
  O(batch ∪ touched-bucket data), not O(table).
- Readers get bucket-pruned scans for key lookups; the bucket function is
  ``pmod(xxhash64(key...), n_buckets)`` computed in the JVM.
- Manifests are O(n_buckets) JSON — tiny; old versions expire like Iceberg
  snapshots (``expire_versions``).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

if TYPE_CHECKING:
    from debezium_spark.plans.exprs import TableExprs

LATEST = "LATEST"


def bucket_expr(key_cols: list[str], n_buckets: int) -> "F.Column":
    """Iceberg-style bucket transform: pmod(hash(keys), N)."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets))


#: column names the engine synthesizes alongside the payload — a payload
#: field with one of these names would duplicate the internal column in
#: the merge projection and crash the batch mid-stream (final review r5);
#: ``create`` rejects them up front with a clear error instead
RESERVED_COLS = frozenset({"_op", "_pos", "_bucket", "_sub", "_tombstone"})


def iter_bucket_subdirs(out_dir: str):
    """Yield ``(bucket, path)`` for every ``_bucket=N`` partition dir a
    write produced — the ONE place the output-dir parse lives (it was
    inlined at three merge/compact sites; final review r5)."""
    if not os.path.exists(out_dir):
        return
    for sub in os.listdir(out_dir):
        if sub.startswith("_bucket="):
            yield int(sub.split("=")[1]), os.path.join(out_dir, sub)


class DefaultEvaluationError(ValueError):
    """A DDL DEFAULT literal failed Spark evaluation against its declared
    type. Distinct from the structural ValueErrors (burned name, re-key)
    so ``apply_ddl`` can catch it specifically and DEGRADE to
    no-default-with-history instead of crash-looping the stream on one
    malformed DDL event (ADVICE r4), while direct programmatic callers of
    ``alter_add_columns`` still get the loud raise."""


class LakeTable:
    """A versioned parquet table keyed by ``key_cols``.

    Every merge appends the deduped change-set as *delta* files (payload +
    ``_op`` + ``_pos``), and one fold (``_fold``: per key the
    ``TableExprs.last_wins`` winner, deletes dropped) turns a bucket's
    base ∪ deltas into a new base. The write mode decides when that fold
    runs (the Iceberg copy-on-write vs merge-on-read trade):

    - ``mode="mor"`` (default): later. Merge cost is **O(batch)**
      regardless of table size; reads resolve base ∪ deltas with the same
      last-wins aggregate; ``compact()`` folds deltas back into the base.
      At 10^10 events / 100 TB where table ≫ batch, MoR is the apply path
      and compaction is the amortized background job (Iceberg's
      positional-delete compaction analog) — which is why it is the
      default: CoW rewrite cost grows toward O(table) as batches touch
      every bucket.
    - ``mode="cow"`` (opt-in): now. Each merge folds the touched buckets in
      the same commit, so the table never holds deltas — reads are plain
      scans, merge cost is O(batch ∪ touched-bucket data). Right for
      read-heavy tables that compact would otherwise chase.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_cols: list[str],
        n_buckets: int = 16,
        mode: str = "mor",
    ):
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown table mode {mode!r} (expected 'cow' or 'mor')")
        self.spark = spark
        self.root = root.rstrip("/")
        self.key_cols = key_cols
        self.n_buckets = n_buckets
        self.mode = mode
        self._mdir = os.path.join(self.root, "_manifests")
        #: (state key, TableExprs) — see ``exprs``
        self._exprs: tuple | None = None
        # Reopening an existing table: the MANIFEST is authoritative for the
        # physical table properties. A caller that forgot the original
        # n_buckets would otherwise hash keys with the wrong modulus — the
        # bucket-pruned fold and compaction then silently miss/drop
        # rows. key_cols/n_buckets/mode were not recorded before round 3;
        # legacy manifests fall back to the constructor args.
        if self.exists():
            meta = self.manifest().get("table_meta")
            if meta:
                self.key_cols = meta["key_cols"]
                self.n_buckets = meta["n_buckets"]
                self.mode = meta["mode"]

    # ---- manifest bookkeeping -------------------------------------------

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self._mdir, LATEST))

    def create(self, schema: StructType) -> None:
        bad = RESERVED_COLS.intersection(f.name for f in schema.fields)
        if bad:
            raise ValueError(
                f"payload schema uses engine-reserved column name(s) "
                f"{sorted(bad)} — rename the source column(s); the merge "
                "pipeline synthesizes these alongside the payload"
            )
        os.makedirs(self._mdir, exist_ok=True)
        os.makedirs(os.path.join(self.root, "data"), exist_ok=True)
        self._publish(
            {
                "version": 0,
                "schema": schema.json(),
                "buckets": {},
                "fence": None,
                "lineage": [],
                "parent": None,
                "table_meta": {
                    "key_cols": list(self.key_cols),
                    "n_buckets": self.n_buckets,
                    "mode": self.mode,
                },
            }
        )

    def manifest(self, version: int | None = None) -> dict:
        """Current manifest, or a historical one (time travel — Iceberg
        snapshot reads; old versions remain readable until expired)."""
        if version is None:
            with open(os.path.join(self._mdir, LATEST)) as f:
                version = int(f.read().strip())
        with open(os.path.join(self._mdir, f"v{version:06d}.json")) as f:
            return json.load(f)

    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self.manifest()["schema"]))

    def fence(self, man: dict | None = None) -> tuple[str, int] | None:
        """The committed offset fence (of ``man``, default: current)."""
        fe = (man if man is not None else self.manifest())["fence"]
        return (fe["file"], fe["pos"]) if fe else None

    def exprs(self, man: dict | None = None) -> "TableExprs":
        """The table's per-batch Column expressions
        (``plans.exprs.TableExprs``) for manifest state ``man`` (default:
        the current one). One slot per table, kept while the schema JSON,
        rename ledger, key columns and bucket count stay the same, and
        rebuilt when any of them changes (e.g. after DDL)."""
        from debezium_spark.plans.exprs import TableExprs

        if man is None:
            man = self.manifest()
        renames = man.get("renames", {})
        key = (man["schema"], json.dumps(renames, sort_keys=True),
               tuple(self.key_cols), self.n_buckets)
        slot = self._exprs
        if slot is None or slot[0] != key:
            payload = StructType.fromJson(json.loads(man["schema"]))
            slot = (key, TableExprs(payload, renames, self.key_cols, self.n_buckets))
            self._exprs = slot
        return slot[1]

    def _publish(self, man: dict) -> None:
        """Atomic commit: write the numbered manifest, then os.replace the
        LATEST pointer (atomic on POSIX). Single-writer protocol (the driver
        replay loop), like an Iceberg catalog pointer swap."""
        v = man["version"]
        path = os.path.join(self._mdir, f"v{v:06d}.json")
        tmp = path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(man, f)
        os.replace(tmp, path)
        ptr_tmp = os.path.join(self._mdir, f".latest-{uuid.uuid4().hex}")
        with open(ptr_tmp, "w") as f:
            f.write(str(v))
        os.replace(ptr_tmp, os.path.join(self._mdir, LATEST))

    # ---- reads -----------------------------------------------------------

    @staticmethod
    def _bucket_dirs(val) -> tuple[list[str], list[str]]:
        """Normalize a manifest bucket value → (base_dirs, delta_dirs).
        Values are {"base": [...], "delta": [...]}; copy-on-write tables
        written before CoW merges became folds hold a plain list of base
        dirs whose files carry the payload only (no ``_op``/``_pos``)."""
        if isinstance(val, dict):
            return list(val.get("base", [])), list(val.get("delta", []))
        return list(val), []

    def _read_with_aliases(
        self, dirs: list[str], x: "TableExprs", with_delta_cols: bool = False
    ) -> DataFrame:
        """Read data dirs under the *current* schema, resolving renamed and
        widened columns across file generations (Iceberg does this with
        column IDs; here name-based + a manifest rename ledger):

        - files written before a RENAME carry the old name → the read schema
          includes each old name as an alias column and the projection
          coalesces alias → current name (``TableExprs._read_projection``);
        - files written before a WIDEN carry the narrower physical type →
          the parquet reader's widening promotion (int→long, float→double,
          int→double) upcasts them under the current read schema;
        - files written before an ADD simply surface the column as null,
          and columns DROPped from the schema are never read (pruned)."""
        schema_to_read, cols = x.read_delta if with_delta_cols else x.read_payload
        return self.spark.read.schema(schema_to_read).parquet(*dirs).select(*cols)

    def read(self, buckets: list[int] | None = None, version: int | None = None) -> DataFrame:
        """Current table state (or a historical ``version`` — time travel);
        optionally pruned to a bucket subset.

        Reads with the manifest schema so files written before an
        ALTER ADD COLUMN surface the new column as null, renamed columns
        resolve through the manifest rename ledger, and widened columns
        upcast in the parquet reader (schema evolution, same contract as
        Iceberg's name/ID-based projection).

        Buckets with deltas resolve base ∪ delta files at read time — last
        writer per key by ``_pos`` (a partial-aggregatable max_by, one
        shuffle), deletes filtered. The resolve is exactly the engine's
        last-wins dedupe applied at read instead of write."""
        man = self.manifest(version)
        x = self.exprs(man)
        dirs: list[str] = []
        any_delta = False
        for b, val in man["buckets"].items():
            if buckets is None or int(b) in buckets:
                base, delta = self._bucket_dirs(val)
                dirs.extend(base)
                dirs.extend(delta)
                any_delta = any_delta or bool(delta)
        if not dirs:
            return self.spark.createDataFrame([], x.payload)
        raw = self._read_with_aliases(dirs, x, with_delta_cols=True)
        if not any_delta:
            # pure-base read (a copy-on-write table, or a merge-on-read one
            # after compaction): base files are already one-row-per-key with
            # deletes dropped — skip the resolve shuffle
            return raw.select(*x.payload_cols)
        return self._resolve(raw, x)

    def _resolve(self, raw: DataFrame, x: "TableExprs") -> DataFrame:
        """Last-wins per key over base+delta rows; drop deletes. The
        aggregate is ``TableExprs.last_wins`` — the same one compaction
        persists, ordered by ``(_pos, row-hash)`` so an equal-``_pos`` tie
        resolves to the same DETERMINISTIC winner on every read (final
        review r5); the next real stream event (strictly higher ``_pos``)
        supersedes it either way. The winner's ``_pos`` is dropped here."""
        return raw.groupBy(*x.keys).agg(x.last_wins).filter(x.live).select(*x.resolved)

    # ---- commit (called by plans.merge) ----------------------------------

    def _publish_next(
        self, man: dict, fence: tuple[str, int] | None = None, **fields
    ) -> int:
        """Publish the version that follows ``man``; returns its number.

        ``fields`` replace and a given ``fence`` advances; every other field
        carries over, so the schema-evolution ledgers (``renames``,
        ``dropped``, ``table_meta``) survive data commits. The lineage is
        the new version's own (empty unless given): ``lineage()``
        concatenates versions, so a copied parent lineage would count its
        batch twice."""
        nxt = {
            "renames": {}, "dropped": [], "table_meta": None, **man,
            "lineage": [], **fields,
            "version": man["version"] + 1, "parent": man["version"],
        }
        if fence:
            nxt["fence"] = {"file": fence[0], "pos": fence[1]}
        self._publish(nxt)
        return nxt["version"]

    def commit_buckets(
        self,
        new_bucket_dirs: dict[int, list[str]],
        touched: list[int],
        fence: tuple[str, int] | None,
        lineage: list[dict],
    ) -> int:
        """Publish a new version: touched buckets point at the new dirs,
        untouched buckets carry over; fence + lineage ride the same commit."""
        man = self.manifest()
        buckets = dict(man["buckets"])
        for b in touched:
            buckets[str(b)] = new_bucket_dirs.get(b, [])
        return self._publish_next(man, fence, buckets=buckets, lineage=lineage)

    def delta_depth(self, bucket: int | None = None) -> int:
        """Max number of delta dirs on any (or one) bucket — the compaction
        trigger metric (read cost grows with it)."""
        man = self.manifest()
        depths = []
        for b, val in man["buckets"].items():
            if bucket is None or int(b) == bucket:
                depths.append(len(self._bucket_dirs(val)[1]))
        return max(depths, default=0)

    def deep_buckets(self, min_depth: int) -> list[int]:
        """Buckets whose delta depth reached ``min_depth`` — the selective
        compaction target set (compacting shallow buckets rewrites their
        base for nothing; at 10^10 events only the hot buckets are deep)."""
        return sorted(self.bucket_depths(min_depth))

    def bucket_depths(self, min_depth: int = 1) -> dict[int, int]:
        """{bucket: delta depth} for buckets at ``min_depth`` or deeper —
        lets the engine's compaction cadence rank buckets deepest-first
        (one manifest read, driver-side)."""
        man = self.manifest()
        out: dict[int, int] = {}
        for b, val in man["buckets"].items():
            d = len(self._bucket_dirs(val)[1])
            if d >= min_depth:
                out[int(b)] = d
        return out

    def compact(self, buckets: list[int] | None = None, batch_id: str = "compact") -> int | None:
        """Fold each bucket's deltas into a new base (``_fold``). A
        maintenance commit — the fence is untouched, so it can run any
        time, including between a crash and a resume. Iceberg analog:
        rewrite_data_files + positional-delete compaction. A copy-on-write
        table folds in every merge and has no deltas to compact."""
        man = self.manifest()
        todo: dict[int, dict] = {}
        for b, val in man["buckets"].items():
            bi = int(b)
            if buckets is not None and bi not in buckets:
                continue
            base, delta = self._bucket_dirs(val)
            if delta:
                todo[bi] = {"base": base, "delta": delta}
        if not todo:
            return None
        lineage = [
            {"batch": batch_id, "bucket": b, "events": 0, "deletes": 0,
             "upserts": 0, "compacted_deltas": len(todo[b]["delta"])}
            for b in todo
        ]
        return self.commit_buckets(self._fold(self.exprs(man), todo), list(todo), None, lineage)

    def _fold(self, x: "TableExprs", todo: dict[int, dict]) -> dict[int, dict]:
        """Write each bucket's base ∪ delta dirs in ``todo`` (manifest bucket
        values, ``{"base": [...], "delta": [...]}``) as one new base: per key the ``TableExprs.last_wins`` winner, deletes dropped,
        winners keeping their ``_pos`` so future deltas still order
        correctly. Returns the buckets' new manifest values (a bucket whose
        keys were all deleted gets an empty base). Shared by compaction
        and the copy-on-write commit, so every fold elects the winner every
        read elects (final review r5).

        One exchange: ``_bucket`` is a function of the keys, so the rows
        are hash-partitioned by ``_bucket`` once and the per-key aggregate
        (grouped by ``_bucket`` and the keys) runs inside those partitions;
        the ``partitionBy("_bucket")`` write needs no further shuffle.
        Skew stays bounded: base rows are unique per key, each delta dir is
        deduped per batch and a bucket holds at most ``compact_depth`` of
        them, and the write already ran one task per bucket."""
        from debezium_spark.plans.exprs import one_of

        dirs = [d for val in todo.values() for d in val["base"] + val["delta"]]
        raw = self._read_with_aliases(dirs, x, with_delta_cols=True)
        resolved = (
            raw.withColumn("_bucket", x.bucket)
            .filter(one_of(x.bucket_col, sorted(todo)))
            .repartition(x.bucket_col)
            .groupBy(x.bucket_col, *x.keys)
            .agg(x.last_wins)
            .filter(x.live)
            .select(*x.compacted, x.bucket_col)
        )
        out_dir = os.path.join(self.root, "data", f"compact-{uuid.uuid4().hex}")
        resolved.write.partitionBy("_bucket").mode("overwrite").parquet(out_dir)

        new_vals: dict[int, dict] = {b: {"base": [], "delta": []} for b in todo}
        for b, path in iter_bucket_subdirs(out_dir):
            new_vals[b] = {"base": [path], "delta": []}
        return new_vals

    def truncate(self, fence: tuple[str, int] | None = None, batch_id: str = "truncate") -> int:
        """TRUNCATE barrier (Envelope op 't', reference Envelope.java:498-505;
        sink-side replay analog in the fork's DML path): publish a version
        with every bucket empty. O(1) — no data files touched; old versions
        remain time-travelable until expired."""
        return self._publish_next(
            self.manifest(),
            fence,
            buckets={},
            lineage=[
                {"batch": batch_id, "bucket": -1, "events": 1, "deletes": 0,
                 "upserts": 0, "truncate": True,
                 "fence_pos": fence[1] if fence else None}
            ],
        )

    def restore_schema(
        self,
        schema_json: str,
        renames: dict | None = None,
        dropped: list[str] | None = None,
    ) -> None:
        """Publish a manifest whose schema state (schema + rename aliases +
        burned drop names) is restored wholesale from a schema-history
        checkpoint — the recovery path for a table incarnation that predates
        the checkpoint (``CdcEngine.recover_schema``; the pre-checkpoint
        per-op ledger entries no longer exist to replay). Data files are
        untouched; reads resolve through the restored aliases exactly as if
        the folded alters had replayed one by one. No-op when the state
        already matches (idempotent recovery replay)."""
        man = self.manifest()
        schema = StructType.fromJson(json.loads(schema_json))
        renames = renames or {}
        dropped = dropped or []
        if (
            man["schema"] == schema.json()
            and man.get("renames", {}) == renames
            and man.get("dropped", []) == dropped
        ):
            return
        self._publish_next(
            man, schema=schema.json(), renames=renames, dropped=dropped
        )

    def _burned_names(self, man: dict) -> set[str]:
        """Names that may still exist in old data files under a *previous*
        meaning: rename aliases and dropped columns. Re-adding one of these
        would resurrect stale bytes through name-based projection (Iceberg
        avoids this with column IDs; we reject instead)."""
        burned = set(man.get("dropped", []))
        for new, olds in man.get("renames", {}).items():
            burned.update(olds)
        return burned

    def alter_add_columns(self, cols: list[tuple]) -> None:
        """Schema evolution barrier — Iceberg ``ALTER TABLE ADD COLUMN``
        equivalent (SURVEY §2.8). Idempotent: re-adding an existing column is
        a no-op, so DDL replay after crash is safe. Re-adding a name that was
        previously dropped or renamed away is rejected — old files still
        carry bytes under that name and name-based projection would
        resurrect them.

        Each entry is ``(name, spark_ddl_type[, default_sql])``. A default
        (the reference's ``defaultValueExpression``, relational/
        Column.java:136) is recorded as ``EXISTS_DEFAULT`` field metadata —
        Spark's parquet reader then fills the column with the default for
        files written BEFORE the ADD, while post-ADD files keep their
        explicit values including nulls: exactly Iceberg's initial-default
        semantics, at zero read-path cost (the fill happens in the
        vectorized reader for absent columns only)."""
        man = self.manifest()
        schema = StructType.fromJson(json.loads(man["schema"]))
        existing = {f.name for f in schema.fields}
        burned = self._burned_names(man)
        changed = False
        for col in cols:
            name, dtype = col[0], col[1]
            default = col[2] if len(col) > 2 else None
            if name not in existing and name in burned:
                raise ValueError(
                    f"cannot re-add column {name!r}: the name was previously "
                    "dropped or renamed away (name-based projection would "
                    "resurrect old data); pick a fresh name"
                )
            if name not in existing:
                from pyspark.sql.types import _parse_datatype_string

                meta = None
                if default is not None:
                    # fail fast on an unevaluable default: the read path
                    # would otherwise error on every scan of a pre-ADD
                    # file. Evaluated driver-side with ZERO input columns
                    # (spark.sql over no relation), so a stray column
                    # reference can never spuriously resolve against a
                    # probe column (review r4 finding)
                    try:
                        self.spark.sql(
                            f"SELECT CAST({default} AS {dtype})"
                        ).first()
                    except Exception as e:
                        raise DefaultEvaluationError(
                            f"DEFAULT {default!r} for column {name!r} does "
                            f"not evaluate as {dtype}: {e}"
                        ) from e
                    meta = {"EXISTS_DEFAULT": default, "CURRENT_DEFAULT": default}
                schema = StructType(
                    list(schema.fields)
                    + [StructField(name, _parse_datatype_string(dtype), True,
                                   metadata=meta)]
                )
                changed = True
        if not changed:
            return
        self._publish_next(man, schema=schema.json())

    def alter_drop_columns(self, cols: list[str]) -> None:
        """``ALTER TABLE DROP COLUMN`` — removes the field from the schema;
        existing files keep the bytes but readers never project it
        (Iceberg drop semantics). Idempotent: dropping a missing column is a
        no-op. Key columns cannot be dropped. The dropped name — and any
        rename aliases that pointed at it — are recorded as burned so a
        later ADD COLUMN of the same name cannot resurrect stale bytes."""
        man = self.manifest()
        schema = StructType.fromJson(json.loads(man["schema"]))
        for c in cols:
            if c in self.key_cols:
                raise ValueError(f"cannot drop key column {c!r}")
        keep = [f for f in schema.fields if f.name not in set(cols)]
        if len(keep) == len(schema.fields):
            return
        renames = dict(man.get("renames", {}))
        dropped = set(man.get("dropped", []))
        for c in cols:
            dropped.add(c)
            dropped.update(renames.pop(c, []))  # aliases of a dropped column burn too
        self._publish_next(
            man, schema=StructType(keep).json(), renames=renames,
            dropped=sorted(dropped),
        )

    def alter_rename_column(self, old: str, new: str) -> None:
        """``ALTER TABLE RENAME COLUMN old TO new`` — schema-only commit;
        files written under the old name resolve through the rename ledger
        at read time (coalesce over alias columns). Idempotent: if ``old``
        is already gone and ``new`` exists, the rename was applied (crash
        replay). Renaming key columns is rejected (it would re-key the
        table)."""
        man = self.manifest()
        schema = StructType.fromJson(json.loads(man["schema"]))
        names = [f.name for f in schema.fields]
        if old in self.key_cols:
            raise ValueError(f"cannot rename key column {old!r}")
        if old not in names:
            if new in names:
                return  # already applied — idempotent DDL replay
            raise ValueError(f"rename: column {old!r} not found")
        if new in names:
            raise ValueError(f"rename: target column {new!r} already exists")
        if new in self._burned_names(man):
            raise ValueError(
                f"rename: target name {new!r} was previously dropped or renamed "
                "away — old files still carry bytes under it and the alias "
                "coalesce would resurrect them; pick a fresh name"
            )
        fields = [
            StructField(new, f.dataType, f.nullable, metadata=f.metadata)
            if f.name == old else f
            for f in schema.fields
        ]
        renames = {k: list(v) for k, v in man.get("renames", {}).items()}
        aliases = renames.pop(old, [])  # chain renames: a→b→c keeps alias a
        renames[new] = aliases + [old]
        self._publish_next(man, schema=StructType(fields).json(), renames=renames)

    def alter_reorder_column(self, name: str, after: str | None) -> None:
        """MySQL ``ALTER ... <col> ... FIRST`` / ``AFTER <anchor>``
        placement (the reference parses these via
        ``MySqlAntlrDdlParser``'s column-position listeners) — reorders
        the manifest's schema field list only. Reads resolve columns by
        name, so no data file is touched; the visible effect is the
        ``read()`` / ``SELECT *`` column order, exactly MySQL's semantics.
        ``after=None`` places the column first. Idempotent: replaying a
        placement the schema already satisfies publishes nothing. Unknown
        column or anchor raises ValueError (``apply_ddl`` degrades that to
        history-only — placement is cosmetic and must not wedge the
        stream)."""
        man = self.manifest()
        schema = StructType.fromJson(json.loads(man["schema"]))
        names = [f.name for f in schema.fields]
        if name not in names:
            raise ValueError(f"reorder: column {name!r} not found")
        if after is not None and after not in names:
            raise ValueError(f"reorder: anchor column {after!r} not found")
        if after == name:
            return
        moved = schema[name]
        fields = [f for f in schema.fields if f.name != name]
        if after is None:
            fields.insert(0, moved)
        else:
            fields.insert([f.name for f in fields].index(after) + 1, moved)
        reordered = StructType(fields)
        if reordered.json() == man["schema"]:
            return  # already in place — idempotent DDL replay
        self._publish_next(man, schema=reordered.json())

    def alter_set_default(self, name: str, default_sql: str | None) -> None:
        """``ALTER COLUMN x SET DEFAULT <lit>`` / ``DROP DEFAULT`` —
        mutates only the column's CURRENT default (``CURRENT_DEFAULT``
        metadata, informational for writers that omit the column). The
        ``EXISTS_DEFAULT`` (initial default) is immutable by design: files
        written before the column existed must keep surfacing the default
        in force AT ADD TIME, exactly Iceberg/Spark initial-default
        semantics — retroactively changing it would rewrite history.
        Idempotent; unknown column raises."""
        man = self.manifest()
        schema = StructType.fromJson(json.loads(man["schema"]))
        if name not in [f.name for f in schema.fields]:
            raise ValueError(f"set_default: column {name!r} not found")
        fields = []
        changed = False
        for f in schema.fields:
            if f.name == name:
                meta = dict(f.metadata or {})
                if default_sql is None:
                    changed = meta.pop("CURRENT_DEFAULT", None) is not None
                else:
                    changed = meta.get("CURRENT_DEFAULT") != default_sql
                    meta["CURRENT_DEFAULT"] = default_sql
                fields.append(StructField(f.name, f.dataType, f.nullable, metadata=meta))
            else:
                fields.append(f)
        if changed:
            self._publish_next(man, schema=StructType(fields).json())

    #: widening promotions the parquet reader performs across old files
    #: (Spark 4 type-widening; anything else would corrupt or fail reads)
    _WIDENINGS = {
        ("integer", "long"),
        ("integer", "double"),
        ("short", "integer"),
        ("short", "long"),
        ("float", "double"),
    }

    def alter_widen_column(self, name: str, new_type_ddl: str) -> None:
        """``ALTER TABLE ... MODIFY/TYPE`` restricted to safe widenings
        (int→long/double, float→double). Old files upcast in the reader;
        narrowing or incompatible changes are rejected. Idempotent when the
        column already has the target type."""
        from pyspark.sql.types import _parse_datatype_string

        man = self.manifest()
        schema = StructType.fromJson(json.loads(man["schema"]))
        if name not in [f.name for f in schema.fields]:
            raise ValueError(f"widen: column {name!r} not found")
        new_t = _parse_datatype_string(new_type_ddl)
        cur_t = schema[name].dataType
        if cur_t == new_t:
            return  # idempotent replay
        if (cur_t.typeName(), new_t.typeName()) not in self._WIDENINGS:
            raise ValueError(
                f"unsupported type change {cur_t.simpleString()} → "
                f"{new_t.simpleString()} for column {name!r} (safe widenings only)"
            )
        fields = [
            StructField(f.name, new_t if f.name == name else f.dataType, f.nullable,
                        metadata=f.metadata)
            for f in schema.fields
        ]
        self._publish_next(man, schema=StructType(fields).json())

    # ---- maintenance -----------------------------------------------------

    def lineage(self) -> list[dict]:
        """All lineage rows across versions (per-batch per-bucket metrics —
        the analog of the reference's progress committer,
        ``BaseSinkProcessInfo.java:103-158``)."""
        out = []
        for fn in sorted(os.listdir(self._mdir)):
            if fn.startswith("v") and fn.endswith(".json"):
                with open(os.path.join(self._mdir, fn)) as f:
                    out.extend(json.load(f).get("lineage", []))
        return out

    def expire_versions(self, keep_last: int = 2) -> None:
        """Drop old manifests and data dirs unreferenced by kept versions
        (Iceberg snapshot expiration; reference analog: breakpoint ledger
        compaction, README.md:332). O(dirs + referenced): the kept
        versions' bucket paths fold into one set of the top-level ``data/``
        directories they live in (a write's ``_bucket=N`` subdirectories
        share one), and every other directory goes."""
        names = sorted(
            fn for fn in os.listdir(self._mdir) if fn.startswith("v") and fn.endswith(".json")
        )
        if len(names) <= keep_last:
            return
        keep = names[-keep_last:]
        data_root = os.path.join(self.root, "data")
        live: set[str] = set()
        for fn in keep:
            with open(os.path.join(self._mdir, fn)) as f:
                for val in json.load(f)["buckets"].values():
                    base, delta = self._bucket_dirs(val)
                    for path in base + delta:
                        live.add(os.path.relpath(path, data_root).split(os.sep, 1)[0])
        for vdir in os.listdir(data_root):
            if vdir not in live:
                shutil.rmtree(os.path.join(data_root, vdir), ignore_errors=True)
        for fn in names[:-keep_last]:
            os.remove(os.path.join(self._mdir, fn))
