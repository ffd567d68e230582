"""Per-table batch expressions, built once and reused by every batch.

In PySpark 4.1 classic every ``pyspark.sql.functions`` call and every Column
method goes through ``_with_origin`` (``pyspark/errors/utils.py``). On top of
the call itself that wrapper costs about ten Python→JVM round trips: the
active session, ``spark.sql.stackTracesInDataFrameContext``,
``PySparkCurrentOrigin.set``/``clear`` and py4j's reflection lookups.
Rebuilding a batch's probe, validity, PK-split, dedupe, delta, read and
resolve expressions from scratch made a small stream epoch pay ~4,500 round
trips, more driver time than the epoch's Spark jobs took. Those expressions
depend on the table's state only, not on the batch, so each ``LakeTable``
keeps one ``TableExprs`` (``LakeTable.exprs``) and replaces it when the
state it was built from changes:

- the manifest's schema JSON and rename ledger (any ALTER, e.g. an
  ADD COLUMN or a RENAME);
- the table's ``key_cols`` and ``n_buckets``.

Sections that also depend on an engine setting or on the batch's shape —
``salt_factor``, ``tombstones_on_delete``, the envelope's payload fields, the
change-set's columns — keep one entry each, keyed on that input, and are
rebuilt when it changes. Filters that carry a per-batch value (the
tail-transaction boundary, compaction's bucket set, DDL segment bounds)
stay per batch.

Per-batch values stay out of generated code. ``Literal.doGenCode`` writes
int and long literals into the Java source, and Spark's codegen cache is
keyed on that source, so a filter such as ``pos <= 16009`` compiles fresh
whole-stage classes for every batch that moves the value. On a 5-epoch
``trickle_stream`` window (4-CPU host) Janino compiled 64 classes, 52 of
them because of three such filters: the tail split's two halves and
compaction's bucket number, each class compiled twice. ``at_most`` and
``one_of`` build those filters over a struct or array literal instead: the
optimizer folds either into one ``Literal`` that the generated class holds
in its ``references`` array, so the source, and with it the compiled class,
is the same for every batch (20 compilations in the same window). The rare
DDL segment bounds stay plain.

Columns belong to the JVM of the session that built them, and
``MultiTableEngine`` applies its tables from pool threads, which is why the
holder hangs off a table (and the multi-table dispatcher's expressions off
its engine) rather than living in one process-wide cache that would also
grow with every schema version.
"""

from __future__ import annotations

from functools import cached_property

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, MapType, StringType, StructType

from debezium_spark.functions.core import salted_key
from debezium_spark.operators.apply import dedupe_cols, pk_split_cols
from debezium_spark.operators.quarantine import reason_col
from debezium_spark.plans.table import bucket_expr
from debezium_spark.schema import BARRIER_OPS, CONTROL_OPS


def at_most(col: Column, bound: int) -> Column:
    """``col <= bound`` for a long ``col``, with ``bound`` kept out of the
    generated source (see the module docstring). Also TRUE where ``col`` is
    null: ``struct(NULL)`` sorts before every struct of a value."""
    return F.struct(col.alias("v")) <= F.struct(F.lit(bound).cast("long").alias("v"))


def one_of(col: Column, values: list[int]) -> Column:
    """``col IN (values)`` with the values kept out of the generated source:
    ``In`` inlines each element, an array literal is one reference."""
    return F.array_contains(F.array(*[F.lit(v) for v in values]), col)


def _tie_hash_inputs(payload: StructType, cols: list[str]) -> list[Column]:
    """Hash inputs for the deterministic last-wins tie-break: raw columns,
    except fields whose type CONTAINS a map anywhere — ``xxhash64``
    prohibits hashing maps (same map, different hashcodes), so those
    render through ``to_json`` first (deterministic per stored row)."""

    def has_map(dt) -> bool:
        if isinstance(dt, MapType):
            return True
        if isinstance(dt, ArrayType):
            return has_map(dt.elementType)
        if isinstance(dt, StructType):
            return any(has_map(f.dataType) for f in dt.fields)
        return False

    return [
        F.to_json(F.col(c)) if has_map(payload[c].dataType) else F.col(c)
        for c in cols
    ] + [F.col("_op")]


class TailProbe:
    """The fused per-batch probe's aggregates (``streaming.engine.
    fused_tail_probe``) and the tail-run split's column reference.

    ``flags``: named boolean columns folded into the same job — each yields
    a global max under its name plus the tail group's own value under
    ``tail_<name>``. ``with_file=True`` adds the global max source file as
    ``f``. Built lazily: the split-only fallback never builds the
    aggregates."""

    def __init__(self, flags: dict[str, Column] | None = None, with_file: bool = False):
        self._flags = flags or {}
        self.names = list(self._flags)
        self.with_file = with_file

    @cached_property
    def pos(self) -> Column:
        return F.col("source.pos")

    @cached_property
    def per_tx(self) -> tuple[Column, list[Column]]:
        """Per-transaction partial aggregate: (group column, aggregates)."""
        aggs = [
            F.max(self.pos).alias("p"),
            F.min(self.pos).alias("pmin"),
            F.count(F.lit(1)).alias("nrows"),
        ]
        if self.with_file:
            aggs.append(F.max("source.file").alias("f"))
        for name, c in self._flags.items():
            aggs.append(F.max(c.cast("int")).alias(name))
        return F.col("transaction.id").alias("_tx"), aggs

    @cached_property
    def fold(self) -> list[Column]:
        """Global fold over the per-transaction rows."""
        tail_struct = F.struct(
            F.col("_tx").alias("tx"), F.col("pmin").alias("pmin"),
            F.col("nrows").alias("nrows"),
            *[F.col(n).alias(n) for n in self.names],
        )
        sel = [
            F.max("p").alias("p"),
            F.max_by(tail_struct, F.col("p")).alias("tail"),
            F.count(F.when(F.col("p").isNotNull(), 1)).alias("ng"),
            F.count(F.lit(1)).alias("ngrp"),
            F.sum("nrows").alias("n"),
        ]
        if self.with_file:
            sel.append(F.max("f").alias("f"))
        for name in self.names:
            sel.append(F.max(name).alias(name))
        return sel


class TableExprs:
    """One table's per-batch Column expressions (see the module docstring
    for what they depend on and when they are rebuilt). Obtain it through
    ``LakeTable.exprs``; sections build on first use."""

    def __init__(self, payload: StructType, renames: dict, key_cols: list[str],
                 n_buckets: int) -> None:
        self.payload = payload
        self.renames = renames
        self.key_cols = list(key_cols)
        self.n_buckets = n_buckets
        self.fields = [f.name for f in payload.fields]
        #: section -> (input key, built value): one entry per keyed section
        self._keyed: dict[str, tuple] = {}

    def _section(self, name: str, key, build):
        hit = self._keyed.get(name)
        if hit is None or hit[0] != key:
            hit = (key, build())
            self._keyed[name] = hit
        return hit[1]

    # ---- bucket layout ----------------------------------------------------

    @cached_property
    def keys(self) -> list[Column]:
        return [F.col(c) for c in self.key_cols]

    @cached_property
    def bucket(self) -> Column:
        """Iceberg-style bucket transform: pmod(xxhash64(keys), N)."""
        return bucket_expr(self.key_cols, self.n_buckets)

    @cached_property
    def bucket_col(self) -> Column:
        return F.col("_bucket")

    def write_keys(self, salt_factor: int) -> list[Column]:
        """Repartition keys of a bucketed write: bucket, then the salt that
        spreads a hot bucket's distinct keys (``functions.core.salted_key``)."""
        return self._section(
            "write_keys", salt_factor,
            lambda: [self.bucket_col, salted_key(self.key_cols, salt_factor)],
        )

    # ---- reads (``LakeTable._read_with_aliases``) -------------------------

    @cached_property
    def delta_schema(self) -> StructType:
        s = StructType(list(self.payload.fields))
        return s.add("_op", StringType(), True).add("_pos", LongType(), True)

    def _read_projection(self, with_delta_cols: bool) -> tuple[StructType, list[Column]]:
        """(schema to read, projection): each old name of a renamed column
        joins the read schema as an alias column, and the projection
        coalesces alias → current name. Aliases come FIRST in the coalesce:
        each file physically carries at most one of the names (so the order
        is neutral for plain renames), but a column with an EXISTS_DEFAULT
        gets default-FILLED under its current name whenever the file lacks
        it — including pre-rename files whose real value sits under the old
        name; alias-first lets the stored value win. (Residual corner: an
        EXPLICIT null stored under an old name of a defaulted column
        surfaces the default — name-based projection cannot distinguish it
        from column-absent; Iceberg resolves this with column IDs.)"""
        out = self.delta_schema if with_delta_cols else self.payload
        schema_to_read = StructType(list(out.fields))
        current = set(schema_to_read.fieldNames())
        alias_of: dict[str, list[str]] = {}
        for new, olds in self.renames.items():
            if new not in self.fields:
                continue  # renamed column was later dropped
            t = self.payload[new].dataType
            for old in olds:
                if old not in current:
                    schema_to_read = schema_to_read.add(old, t, True)
                    alias_of.setdefault(new, []).append(old)
        cols = [
            F.coalesce(*[F.col(o) for o in alias_of[f.name]], F.col(f.name)).alias(f.name)
            if f.name in alias_of
            else F.col(f.name)
            for f in out.fields
        ]
        return schema_to_read, cols

    @cached_property
    def read_payload(self) -> tuple[StructType, list[Column]]:
        return self._read_projection(False)

    @cached_property
    def read_delta(self) -> tuple[StructType, list[Column]]:
        return self._read_projection(True)

    @cached_property
    def payload_cols(self) -> list[Column]:
        return [F.col(c) for c in self.fields]

    # ---- last-wins resolve (``LakeTable._resolve`` and ``_fold``) ---------

    @cached_property
    def last_wins(self) -> Column:
        """THE last-wins aggregate over base ∪ delta rows, shared by read
        resolution and every fold (compaction and the copy-on-write
        commit) so they cannot elect different winners: per key, the row
        with the greatest ``(_pos, row-hash)``; a row without ``_pos`` (a
        base file written before CoW merges became folds) loses to any
        row with one.
        Rows with EQUAL ``_pos`` but different payloads exist when two
        incremental-snapshot runs at an unadvanced fence observed different
        source states (both chunk rows encode ``2·fence+1`` —
        ``resolution_pos``); the hash picks an arbitrary but DETERMINISTIC
        winner, and compaction persists that same winner."""
        row = F.struct(*self.payload_cols, F.col("_op"), F.col("_pos"))
        order = F.struct(
            F.col("_pos"), F.xxhash64(*_tie_hash_inputs(self.payload, self.fields))
        )
        return F.max_by(row, order).alias("_r")

    @cached_property
    def live(self) -> Column:
        """The winner is not a delete. A null ``_op`` counts as live: only
        base files written before CoW merges became folds lack the column
        (the validity split quarantines a null op before it reaches a
        delta)."""
        return F.coalesce(F.col("_r._op") != "d", F.lit(True))

    @cached_property
    def resolved(self) -> list[Column]:
        """Read output: key columns, then the winner's other fields."""
        return self.keys + [
            F.col(f"_r.{c}").alias(c) for c in self.fields if c not in self.key_cols
        ]

    @cached_property
    def compacted(self) -> list[Column]:
        """Compaction output: the winner's payload, ``_op='u'``, and its
        ``_pos`` (future deltas still order correctly against it)."""
        return [F.col(f"_r.{c}").alias(c) for c in self.fields] + [
            F.lit("u").alias("_op"),
            F.col("_r._pos").alias("_pos"),
        ]

    # ---- merge projections (``plans.merge``) ------------------------------

    def aligned(self, columns: list[str]) -> list[Column]:
        """The table's payload projected from a change-set with
        ``columns``: fields the change-set lacks (the table gained them
        after these events were written) are null-filled."""
        return self._section("aligned", tuple(columns), lambda: [
            F.col(f.name) if f.name in columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in self.payload.fields
        ])

    def delta(self, columns: list[str]) -> list[Column]:
        """MoR delta file projection: aligned payload + ``_op``, ``_pos``
        and ``_bucket``."""
        return self._section("delta", tuple(columns), lambda: self.aligned(columns) + [
            F.col("_op"), F.col("_pos"), self.bucket.alias("_bucket"),
        ])

    # ---- the engine's batch path (``streaming.engine``) -------------------

    @cached_property
    def reason(self) -> Column:
        """The validity reason (``operators.quarantine.validity_reason``)."""
        return reason_col(self.key_cols)

    @cached_property
    def reason_split(self) -> tuple[Column, Column]:
        """(valid, invalid) filters over the tagged ``_reason`` column."""
        r = F.col("_reason")
        return r.isNull(), r.isNotNull()

    @cached_property
    def probe(self) -> TailProbe:
        """The replay/stream fused probe: barrier and malformed-row flags,
        plus the batch's max file."""
        return TailProbe(
            {"nd": self.barrier, "nb": self.reason.isNotNull()}, with_file=True
        )

    @cached_property
    def fence_probe(self) -> list[Column]:
        """Flat fence aggregate (max pos, max file) + barrier/malformed
        flags, for callers without the fused probe."""
        return [
            F.max("source.pos").alias("p"),
            F.max("source.file").alias("f"),
            F.max(self.barrier.cast("int")).alias("nd"),
            F.max(self.reason.isNotNull().cast("int")).alias("nb"),
        ]

    @cached_property
    def barrier(self) -> Column:
        return F.col("op").isin(BARRIER_OPS)

    @cached_property
    def not_control(self) -> Column:
        return ~F.col("op").isin(CONTROL_OPS)

    @staticmethod
    def segment(start: int, end: int) -> Column:
        """Rows strictly between two barrier positions (per-batch bounds)."""
        pos = F.col("source.pos")
        return (pos > start) & (pos < end)

    #: segment bounds of a batch without barriers
    OPEN = (-(1 << 62), 1 << 62)

    @cached_property
    def open_segment(self) -> Column:
        return self.segment(*self.OPEN)

    def pk_split(self, tombstones_on_delete: bool) -> list[Column]:
        """The PK-change split projection (``operators.apply.pk_split_cols``)."""
        return self._section(
            "pk_split", tombstones_on_delete,
            lambda: pk_split_cols(self.key_cols, tombstones_on_delete),
        )

    @cached_property
    def not_tombstone(self) -> Column:
        return ~F.col("_tombstone")

    def dedupe(self, payload_fields: list[str]) -> tuple:
        """Last-writer-wins dedupe of an envelope whose payload has
        ``payload_fields`` (``operators.apply.dedupe_cols``)."""
        return self._section(
            "dedupe", tuple(payload_fields),
            lambda: dedupe_cols(self.key_cols, payload_fields),
        )
