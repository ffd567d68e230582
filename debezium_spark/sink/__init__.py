"""Sink-side replay: envelope rows → target-database SQL statement streams.

The reference fork's migration sinks re-materialize the change stream as SQL
against the opposite database: the MySQL connector's sink replays into
openGauss (forward migration,
``debezium-connector-mysql/sink/replay/ReplayTask.java``,
``sink/util/SqlTools.java``) and the openGauss connector's sink replays into
MySQL/PostgreSQL (reverse migration,
``debezium-connector-opengauss/sink/replay/JdbcDbWriter.java``,
``sink/utils/MysqlSqlTools.java``, ``sink/ddl/OpengaussDdlParser.java``).

Spark-first re-expression: statement TEXT generation is an embarrassingly
parallel per-row string map, so it runs as pure Catalyst expressions
(``sqlgen``) — no Python in the hot path, no shuffle; per-table replay order
is restored exactly once at the writer (``replay``). DDL translation and the
PostgreSQL ``ddl_deparse`` JSON expansion are control-plane (one event per
DDL, not per row) and run as deterministic pure functions with an
Arrow-batched bulk path.
"""

from debezium_spark.sink.config import SinkConfig
from debezium_spark.sink.ddl_translate import translate_ddl, translate_ddl_batch
from debezium_spark.sink.metadata import ColumnMeta, TableMeta, table_meta_from_schema
from debezium_spark.sink.pg_deparse import expand_ddl_json, expand_ddl_json_batch
from debezium_spark.sink.replay import (
    apply_statement_stream,
    channel_statements,
    statement_stream,
    write_statement_stream,
    write_statement_streams,
)
from debezium_spark.sink.sqlgen import dml_statements

__all__ = [
    "SinkConfig",
    "ColumnMeta",
    "TableMeta",
    "table_meta_from_schema",
    "dml_statements",
    "translate_ddl",
    "translate_ddl_batch",
    "expand_ddl_json",
    "expand_ddl_json_batch",
    "statement_stream",
    "apply_statement_stream",
    "channel_statements",
    "write_statement_stream",
    "write_statement_streams",
]
