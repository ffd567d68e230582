"""Sink-side connector properties → statement-replay configuration.

The reference's sink tasks are configured by the same property file as the
source (``README.md:199,314-321,1427``); the keys that select replay
BEHAVIOR (rather than JDBC/Kafka transport, which this engine replaces
with statement files) are:

* ``schema.mappings`` — ``src1:tgt1;src2:tgt2`` source-schema → sink-schema
  pairs (``README.md:316``, mirroring the full-migration tool's
  schema_mappings yaml);
* ``provide.transaction.metadata`` — ``true`` replays TRANSACTION-parallel
  (whole transactions in source order, one stream), ``false`` (the
  reference's default) replays TABLE-parallel (one order-safe channel per
  table, cross-table transactions split per fragment) — ``README.md:199``;
  ``tx_parallel`` is the mode argument of
  :func:`debezium_spark.sink.replay.write_statement_streams`;
* ``fail.sql.path`` — where failed units divert (``README.md:321``);
* ``max.thread.count`` / ``parallel.replay.thread.num`` — table-parallel
  worker cap (``README.md:314,1427``; the reference defaults to 30);
* ``record.breakpoint.table`` — this engine's analog of the reference's
  ``record.breakpoint.kafka.*`` family: the breakpoint is recorded in the
  TARGET database, one marker row committed inside each unit's own
  transaction (``BreakPointRecord.java``; the kafka-transport variants are
  accepted and kept in ``extras`` for compatibility, but the engine's
  breakpoint rides the target, which is both simpler and atomic).

Unknown keys are kept in ``extras`` rather than rejected — property files
are shared with the source side, whose keys ``EngineConfig`` owns.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Mapping


@dataclass
class SinkConfig:
    schema_mappings: dict[str, str] = field(default_factory=dict)
    tx_parallel: bool = False  # provide.transaction.metadata
    fail_sql_path: str | None = None
    max_threads: int = 30
    breakpoint_table: str | None = None
    dialect: str = "opengauss"
    extras: dict[str, str] = field(default_factory=dict)

    @classmethod
    def from_properties(cls, props: Mapping[str, str]) -> "SinkConfig":
        cfg = cls()
        for key, val in props.items():
            k, v = key.strip(), val.strip()
            if k == "schema.mappings":
                for pair in v.split(";"):
                    if not pair.strip():
                        continue
                    if ":" not in pair:
                        raise ValueError(
                            f"malformed schema.mappings entry {pair!r} "
                            "(want src:tgt;src:tgt)"
                        )
                    src, tgt = pair.split(":", 1)
                    cfg.schema_mappings[src.strip()] = tgt.strip()
            elif k == "provide.transaction.metadata":
                cfg.tx_parallel = v.lower() in ("true", "1", "yes")
            elif k == "fail.sql.path":
                cfg.fail_sql_path = v
            elif k in ("max.thread.count", "parallel.replay.thread.num"):
                n = int(v)
                if n <= 0:  # the reference forbids 0 (README.md:1427)
                    raise ValueError(f"{k} must be positive, got {v!r}")
                cfg.max_threads = n
            elif k == "record.breakpoint.table":
                cfg.breakpoint_table = v
            else:
                cfg.extras[k] = val
        return cfg
