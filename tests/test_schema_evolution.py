"""SQL-text DDL parsing + mid-stream rename/drop/widen schema evolution
(reference: MySqlAntlrDdlParser ALTER matrix, TableChanges ledger)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from debezium_spark import ChangeLogGenerator, CdcEngine, LakeTable
from debezium_spark.operators.schema_evolution import (
    parse_ddl,
    parse_ddl_sql,
    schema_history,
    sql_type_to_spark,
)


def test_sql_type_mapping():
    assert sql_type_to_spark("VARCHAR(255)") == "string"
    assert sql_type_to_spark("BIGINT") == "long"
    assert sql_type_to_spark("int unsigned") == "int"
    assert sql_type_to_spark("DECIMAL(12, 2)") == "decimal(12,2)"
    assert sql_type_to_spark("NUMERIC(8)") == "decimal(8,0)"
    assert sql_type_to_spark("double precision") == "double"
    assert sql_type_to_spark("BYTEA") == "binary"
    with pytest.raises(ValueError):
        sql_type_to_spark("GEOGRAPHY")


def test_parse_alter_variants():
    assert parse_ddl_sql("ALTER TABLE db.t ADD COLUMN license VARCHAR(64)") == [
        ("add", "license", "string", None)
    ]
    assert parse_ddl_sql("alter table t add (a INT, b TEXT)") == [
        ("add", "a", "int", None),
        ("add", "b", "string", None),
    ]
    assert parse_ddl_sql("ALTER TABLE t DROP COLUMN old_col;") == [("drop", "old_col")]
    assert parse_ddl_sql("ALTER TABLE t RENAME COLUMN a TO b") == [("rename", "a", "b")]
    # MySQL CHANGE = rename + retype; backquoted identifiers
    assert parse_ddl_sql("ALTER TABLE `t` CHANGE `a` `b` BIGINT") == [
        ("rename", "a", "b"),
        ("widen", "b", "long"),
    ]
    assert parse_ddl_sql("ALTER TABLE t MODIFY COLUMN c BIGINT") == [("widen", "c", "long")]
    # PG form
    assert parse_ddl_sql("ALTER TABLE ONLY s.t ALTER COLUMN c SET DATA TYPE DOUBLE PRECISION") == [
        ("widen", "c", "double")
    ]
    # multi-clause, nested parens in types
    assert parse_ddl_sql(
        "ALTER TABLE t ADD COLUMN d DECIMAL(10,2), DROP COLUMN e, RENAME COLUMN f TO g"
    ) == [("add", "d", "decimal(10,2)", None), ("drop", "e"), ("rename", "f", "g")]
    # PK mutations now parse explicitly (silent skip was the dangerous case)
    assert parse_ddl_sql("ALTER TABLE t ADD CONSTRAINT pk PRIMARY KEY (a)") == [
        ("set_pk", ["a"])
    ]
    assert parse_ddl_sql("ALTER TABLE t ADD PRIMARY KEY (a, b)") == [("set_pk", ["a", "b"])]
    assert parse_ddl_sql("ALTER TABLE t DROP PRIMARY KEY") == [("drop_pk",)]
    # non-PK constraints stay history-only
    assert parse_ddl_sql("ALTER TABLE t ADD CONSTRAINT fk FOREIGN KEY (a) REFERENCES r(id)") == []
    assert parse_ddl_sql("ALTER TABLE t ADD UNIQUE (a)") == []
    # generated columns parse as plain adds (payloads carry the computed value)
    assert parse_ddl_sql(
        "ALTER TABLE t ADD COLUMN g INT GENERATED ALWAYS AS (a + b) STORED"
    ) == [("add", "g", "int", None)]
    assert parse_ddl_sql("INSERT INTO t VALUES (1)") == []


def test_ddl_crash_replay_of_self_undoing_script_is_idempotent(spark, tmp_path):
    """Review regression: re-running apply_ddl after a crash wedged forever
    on self-undoing scripts ('ADD c; DROP c' / chained renames) — the
    burned-name guard raised on replay. An exact ledger entry (same offset
    + raw text) now short-circuits the whole op list."""
    from debezium_spark import LakeTable
    from debezium_spark.operators.schema_evolution import apply_ddl
    from pyspark.sql.types import StructType

    table = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=2)
    table.create(StructType.fromDDL("k long, v string"))
    script = "ALTER TABLE t ADD COLUMN c INT; ALTER TABLE t DROP COLUMN c"
    apply_ddl(table, script, ("binlog.000001", 10))
    cols_after = [f.name for f in table.schema().fields]
    v_after = table.manifest()["version"]

    # crash-resume re-applies the SAME barrier: must be a no-op, not a raise
    apply_ddl(table, script, ("binlog.000001", 10))
    assert [f.name for f in table.schema().fields] == cols_after
    assert table.manifest()["version"] == v_after

    # chained rename variant
    apply_ddl(table, "ALTER TABLE t RENAME COLUMN v TO v2;"
                     " ALTER TABLE t RENAME COLUMN v2 TO v3", ("binlog.000001", 11))
    apply_ddl(table, "ALTER TABLE t RENAME COLUMN v TO v2;"
                     " ALTER TABLE t RENAME COLUMN v2 TO v3", ("binlog.000001", 11))
    assert "v3" in [f.name for f in table.schema().fields]

    # a DIFFERENT statement re-adding a burned name must still be rejected
    import pytest as _pytest
    with _pytest.raises(ValueError):
        apply_ddl(table, "ALTER TABLE t ADD COLUMN c INT", ("binlog.000001", 12))


def test_reopen_adopts_manifest_table_meta(spark, tmp_path):
    """Review regression: reopening an existing table with different
    n_buckets/key_cols silently corrupted bucketing (pruned reads missed
    rows). The manifest is now authoritative on reopen."""
    from debezium_spark import ChangeLogGenerator, CdcEngine, LakeTable

    gen = ChangeLogGenerator(spark, seed=41, n_repos=6)
    t1 = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=32, mode="cow")
    CdcEngine(spark, t1).apply_envelope_batch(gen.events(400), batch_id="b0")
    state = {(r["repo"], r["path"]): r["content"] for r in t1.read().collect()}

    # "operator forgot the original parameters"
    t2 = LakeTable(spark, str(tmp_path / "t"), ["repo"], n_buckets=4, mode="mor")
    assert t2.n_buckets == 32 and t2.key_cols == ["repo", "path"] and t2.mode == "cow"
    CdcEngine(spark, t2).apply_envelope_batch(
        gen.events(400, start_pos=400), batch_id="b1"
    )
    # correct continued state (no duplicate keys from modulus mismatch)
    t3 = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"])
    keys = [(r["repo"], r["path"]) for r in t3.read().collect()]
    assert len(keys) == len(set(keys))
    assert len(keys) >= len(state)


def test_parse_table_level_statements():
    """CREATE/DROP/TRUNCATE TABLE + multi-statement scripts — the
    MySqlAntlrDdlParserTest create/drop variants the regex grammar covers
    (catalog mutations consumed by MultiTableEngine)."""
    ops = parse_ddl_sql(
        "CREATE TABLE inventory.orders ("
        " order_no BIGINT NOT NULL AUTO_INCREMENT,"
        " region VARCHAR(8) DEFAULT 'eu',"
        " amount DECIMAL(10,2),"
        " KEY idx_r (region),"
        " CONSTRAINT fk1 FOREIGN KEY (region) REFERENCES r(id),"
        " PRIMARY KEY (order_no, region)"
        ") ENGINE=InnoDB DEFAULT CHARSET=utf8mb4"
    )
    assert ops == [(
        "create_table", "inventory", "orders",
        [("order_no", "long", None), ("region", "string", "'eu'"),
         ("amount", "decimal(10,2)", None)],
        ["order_no", "region"],
    )]
    # inline PRIMARY KEY; quoted identifiers; IF NOT EXISTS
    assert parse_ddl_sql(
        "CREATE TABLE IF NOT EXISTS `db1`.`t1` (`id` INT PRIMARY KEY, v TEXT)"
    ) == [("create_table", "db1", "t1",
           [("id", "int", None), ("v", "string", None)], ["id"])]
    # unqualified name → db resolved by the caller from source.db
    assert parse_ddl_sql("CREATE TABLE t (a INT)") == [
        ("create_table", None, "t", [("a", "int", None)], [])
    ]
    # DROP TABLE: IF EXISTS, multi-name, qualified + bare
    assert parse_ddl_sql("DROP TABLE IF EXISTS a.b, c") == [
        ("drop_table", "a", "b"), ("drop_table", None, "c")
    ]
    assert parse_ddl_sql("TRUNCATE TABLE app.users") == [("truncate_table", "app", "users")]
    assert parse_ddl_sql("TRUNCATE users") == [("truncate_table", None, "users")]
    # ;-separated scripts split quote-aware (';' inside a literal stays put)
    assert parse_ddl_sql(
        "CREATE TABLE t (v VARCHAR(10) DEFAULT 'a;b', id INT, PRIMARY KEY (id));"
        " ALTER TABLE t ADD COLUMN c TEXT; DROP TABLE old_t;"
    ) == [
        ("create_table", None, "t", [("v", "string", "'a;b'"), ("id", "int", None)], ["id"]),
        ("add", "c", "string", None),
        ("drop_table", None, "old_t"),
    ]
    # CREATE ... LIKE / AS SELECT have no parseable column list: history-only
    assert parse_ddl_sql("CREATE TABLE t2 LIKE t1") == []
    # review regression: commas/parens inside string DEFAULTs must not
    # fabricate phantom columns or close the body early
    assert parse_ddl_sql(
        "CREATE TABLE t (note VARCHAR(100) DEFAULT 'a, b INT', id INT,"
        " par VARCHAR(10) DEFAULT ')', PRIMARY KEY(id))"
    ) == [("create_table", None, "t",
           [("note", "string", "'a, b INT'"), ("id", "int", None),
            ("par", "string", "')'")], ["id"])]
    # table RENAME (both MySQL forms)
    assert parse_ddl_sql("ALTER TABLE app.orders RENAME TO app.orders_v2") == [
        ("rename_table", "app", "orders", "app", "orders_v2")
    ]
    assert parse_ddl_sql("RENAME TABLE a.x TO a.y, b TO c") == [
        ("rename_table", "a", "x", "a", "y"), ("rename_table", None, "b", None, "c")
    ]
    # RENAME COLUMN still parses as a column op, not a table op
    assert parse_ddl_sql("ALTER TABLE t RENAME COLUMN a TO b") == [("rename", "a", "b")]
    # MySQL/PG type extras map (enum/set/year/blob variants/national/uuid)
    assert parse_ddl_sql(
        "CREATE TABLE t (s ENUM('a','b') NOT NULL, y YEAR, b MEDIUMBLOB,"
        " n NATIONAL VARCHAR(20), u UUID, m MONEY, PRIMARY KEY(s))"
    ) == [("create_table", None, "t",
           [("s", "string", None), ("y", "int", None), ("b", "binary", None),
            ("n", "string", None), ("u", "string", None),
            ("m", "decimal(19,2)", None)], ["s"])]
    assert parse_ddl_sql("ALTER TABLE t ADD COLUMN tags SET('x','y') DEFAULT 'x'") == [
        ("add", "tags", "string", "'x'")
    ]


def test_parse_dispatches_json_and_sql():
    assert parse_ddl('{"type": "ALTER", "add_columns": [{"name": "x", "type": "int"}]}') == [
        ("add", "x", "int", None)
    ]
    assert parse_ddl(
        '{"type": "ALTER", "rename_columns": [{"from": "a", "to": "b"}],'
        ' "drop_columns": ["c"], "modify_columns": [{"name": "b", "type": "long"}]}'
    ) == [("drop", "c"), ("rename", "a", "b"), ("widen", "b", "long")]
    assert parse_ddl("ALTER TABLE t DROP COLUMN x") == [("drop", "x")]


def _ddl_row(spark, env_schema, pos, sql, ts_ms=0):
    payload_t = env_schema["after"].dataType
    after_ddl = F.struct(
        *[
            F.lit(sql).alias("content") if f.name == "content"
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in payload_t.fields
        ]
    )
    return spark.range(1).select(
        F.lit(None).cast(payload_t).alias("before"),
        after_ddl.alias("after"),
        F.lit("l").alias("op"),
        F.lit(ts_ms).cast("long").alias("ts_ms"),
        F.struct(
            F.lit("binlog.000001").alias("file"),
            F.lit(pos).cast("long").alias("pos"),
            F.lit(None).cast("string").alias("gtid"),
            F.lit(None).cast("string").alias("snapshot"),
            F.lit("inventory").alias("db"),
            F.lit("repo_files").alias("table"),
            F.lit(0).cast("long").alias("ts_ms"),
        ).alias("source"),
        F.lit(None).cast(env_schema["transaction"].dataType).alias("transaction"),
    )


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_mid_stream_rename_widen_drop_e2e(spark, tmp_path, mode):
    """Rename + widen + drop arriving as SQL-text barriers mid-stream: final
    state resolves old-name/narrow-type files through the rename ledger and
    reader widening; replaying the same batches after the DDL is a no-op."""
    from pyspark.sql.types import StructType

    gen = ChangeLogGenerator(spark, seed=19, n_repos=6)
    base = gen.events(400)
    env_a = base.filter(F.col("source.pos") < 200).select(
        "*"
    ).withColumn(
        "after",
        F.when(F.col("after").isNotNull(),
               F.struct(F.col("after.repo").alias("repo"), F.col("after.path").alias("path"),
                        F.col("after.content").alias("content"),
                        F.col("source.pos").cast("int").alias("val"))),
    ).withColumn(
        "before",
        F.when(F.col("before").isNotNull(),
               F.struct(F.col("before.repo").alias("repo"), F.col("before.path").alias("path"),
                        F.col("before.content").alias("content"),
                        F.col("source.pos").cast("int").alias("val"))),
    )
    env_b = base.filter(F.col("source.pos") >= 200).select("*").withColumn(
        "after",
        F.when(F.col("after").isNotNull(),
               F.struct(F.col("after.repo").alias("repo"), F.col("after.path").alias("path"),
                        F.col("after.content").alias("content"),
                        (F.col("source.pos") + 1000000000000).alias("score"))),
    ).withColumn(
        "before",
        F.when(F.col("before").isNotNull(),
               F.struct(F.col("before.repo").alias("repo"), F.col("before.path").alias("path"),
                        F.col("before.content").alias("content"),
                        (F.col("source.pos") + 1000000000000).alias("score"))),
    )

    table = LakeTable(
        spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=4, mode=mode
    )
    table.create(StructType.fromDDL("repo string, path string, content string, val int"))
    engine = CdcEngine(spark, table, compact_depth=0)

    engine.apply_envelope_batch(env_a, batch_id="a")
    ddl = _ddl_row(spark, env_a.schema, 200,
                   "ALTER TABLE inventory.repo_files CHANGE val score BIGINT")
    engine.apply_envelope_batch(ddl, batch_id="ddl")
    engine.apply_envelope_batch(env_b, batch_id="b")

    out = table.read()
    assert "score" in out.columns and "val" not in out.columns
    assert dict(out.dtypes)["score"] == "bigint"
    # keys last touched in phase A resolve via the val alias (int upcast);
    # phase B keys carry the wide value (> 2^31, proving the widen matters)
    a_side = out.filter(F.col("score") < 200)
    b_side = out.filter(F.col("score") >= 1000000000000)
    assert a_side.count() > 0 and b_side.count() > 0
    assert a_side.count() + b_side.count() == out.count()

    hist = schema_history(table)
    assert [tuple(o) for h in hist for o in h["ops"]] == [
        ("rename", "val", "score"), ("widen", "score", "long")
    ]

    # drop a column; re-apply the same DDL (crash replay) — idempotent
    drop = _ddl_row(spark, env_b.schema, 500, "ALTER TABLE inventory.repo_files DROP COLUMN content")
    engine.apply_envelope_batch(drop, batch_id="ddl2")
    assert "content" not in table.read().columns
    v_before = table.manifest()["version"]
    engine.apply_envelope_batch(drop, batch_id="ddl2-replay")  # behind fence -> skip
    assert table.manifest()["version"] == v_before

    # replaying an old data batch is still a no-op after evolution
    assert engine.apply_envelope_batch(env_a, batch_id="a-replay") is None


def test_rename_guards(spark, tmp_path):
    from pyspark.sql.types import StructType

    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=2)
    t.create(StructType.fromDDL("k string, a int, b int"))
    with pytest.raises(ValueError):
        t.alter_rename_column("k", "k2")  # key columns are immutable
    with pytest.raises(ValueError):
        t.alter_rename_column("a", "b")  # target exists
    t.alter_rename_column("a", "c")
    t.alter_rename_column("a", "c")  # idempotent replay: old gone, new present
    with pytest.raises(ValueError):
        t.alter_add_columns([("a", "int")])  # 'a' is an active alias
    with pytest.raises(ValueError):
        t.alter_widen_column("c", "string")  # not a safe widening
    with pytest.raises(ValueError):
        t.alter_drop_columns(["k"])


def test_parse_constraints_not_swallowed():
    """Review regression: the type regex must stop before column
    constraints — 'INT NOT NULL' wedged the stream with an unmapped-type
    ValueError inside apply_ddl."""
    assert parse_ddl_sql("ALTER TABLE t ADD COLUMN c INT NOT NULL") == [
        ("add", "c", "int", None)
    ]
    assert parse_ddl_sql("ALTER TABLE t ADD COLUMN c BIGINT UNSIGNED NOT NULL DEFAULT 0") == [
        ("add", "c", "long", "0")
    ]
    assert parse_ddl_sql("ALTER TABLE t ADD COLUMN c VARCHAR(64) DEFAULT NULL COMMENT 'x'") == [
        ("add", "c", "string", None)
    ]
    assert parse_ddl_sql("ALTER TABLE t CHANGE a b BIGINT UNSIGNED NOT NULL") == [
        ("rename", "a", "b"), ("widen", "b", "long")
    ]
    assert parse_ddl_sql("ALTER TABLE t MODIFY COLUMN c DOUBLE PRECISION NOT NULL") == [
        ("widen", "c", "double")
    ]
    assert parse_ddl_sql("ALTER TABLE t DROP COLUMN x CASCADE") == [("drop", "x")]


def test_drop_then_readd_is_rejected(spark, tmp_path):
    """Review regression: re-adding a dropped (or renamed-away-then-dropped)
    name would resurrect stale bytes via name-based projection."""
    from pyspark.sql.types import StructType
    from debezium_spark import LakeTable

    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=2)
    t.create(StructType.fromDDL("k string, note string, val int"))
    t.alter_drop_columns(["note"])
    with pytest.raises(ValueError, match="previously dropped or renamed"):
        t.alter_add_columns([("note", "string")])
    # rename val->score then drop score: BOTH names burn
    t.alter_rename_column("val", "score")
    t.alter_drop_columns(["score"])
    with pytest.raises(ValueError):
        t.alter_add_columns([("val", "int")])
    with pytest.raises(ValueError):
        t.alter_add_columns([("score", "int")])
    # the burned set survives data commits
    t.commit_buckets({}, [], ("f", 1), [])
    with pytest.raises(ValueError):
        t.alter_add_columns([("note", "string")])
    # fresh names still fine
    t.alter_add_columns([("note2", "string")])
    assert "note2" in [f.name for f in t.schema().fields]


def test_rename_onto_burned_name_is_rejected(spark, tmp_path):
    """Review regression: RENAME onto a dropped/renamed-away name would
    resurrect stale bytes through the alias coalesce."""
    from pyspark.sql.types import StructType

    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=2)
    t.create(StructType.fromDDL("k string, note string, val int"))
    t.alter_drop_columns(["note"])
    with pytest.raises(ValueError, match="previously dropped or renamed"):
        t.alter_rename_column("val", "note")
    # rename a->b burns 'a'; renaming c onto 'a' must also be rejected
    t.alter_add_columns([("c", "int")])
    t.alter_rename_column("val", "val2")
    with pytest.raises(ValueError):
        t.alter_rename_column("c", "val")


def test_parse_default_literals():
    """DEFAULT literal capture (reference DefaultValueParserListener /
    Column.defaultValueExpression): numbers, strings with '' escapes,
    booleans, NULL (=no default), non-literal expressions (=no default)."""
    assert parse_ddl_sql("ALTER TABLE t ADD COLUMN n INT DEFAULT 5") == [
        ("add", "n", "int", "5")
    ]
    assert parse_ddl_sql("ALTER TABLE t ADD COLUMN n INT DEFAULT -3") == [
        ("add", "n", "int", "-3")
    ]
    assert parse_ddl_sql("ALTER TABLE t ADD COLUMN r DOUBLE DEFAULT 2.5e2") == [
        ("add", "r", "double", "2.5e2")
    ]
    # string literals re-encode canonically for Spark SQL (quotes
    # backslash-escaped — source '' doubling decoded first)
    assert parse_ddl_sql("ALTER TABLE t ADD COLUMN s VARCHAR(20) DEFAULT 'it''s'") == [
        ("add", "s", "string", r"'it\'s'")
    ]
    assert parse_ddl_sql("ALTER TABLE t ADD COLUMN b BOOLEAN DEFAULT true") == [
        ("add", "b", "boolean", "TRUE")
    ]
    # parenthesized add list carries per-column defaults
    assert parse_ddl_sql("ALTER TABLE t ADD (a INT DEFAULT 1, b TEXT DEFAULT 'x')") == [
        ("add", "a", "int", "1"), ("add", "b", "string", "'x'")
    ]
    # now-function defaults parse to the marker (resolved at apply time to
    # the barrier's ts_ms); other non-literal expressions stay no-default
    from debezium_spark.operators.schema_evolution import CURRENT_TS_MARKER

    for expr in ("CURRENT_TIMESTAMP", "CURRENT_TIMESTAMP(6)", "now()",
                 "NOW ( )", "LOCALTIMESTAMP", "CURRENT_DATE"):
        assert parse_ddl_sql(
            f"ALTER TABLE t ADD COLUMN ts TIMESTAMP DEFAULT {expr}"
        ) == [("add", "ts", "timestamp", CURRENT_TS_MARKER)], expr
    assert parse_ddl_sql(
        "ALTER TABLE t ADD COLUMN ts TIMESTAMP DEFAULT uuid()"
    ) == [("add", "ts", "timestamp", None)]


def test_parse_zero_date_defaults_follow_mysql_nullability_rule():
    """MySQL zero-date DEFAULTs (MySqlDefaultValueConverter.java:158-212):
    on a nullable date/timestamp column → null (no default); NOT NULL →
    the epoch equivalent. Non-temporal columns keep the literal."""
    assert parse_ddl_sql(
        "ALTER TABLE t ADD COLUMN d DATE DEFAULT '0000-00-00'"
    ) == [("add", "d", "date", None)]
    assert parse_ddl_sql(
        "ALTER TABLE t ADD COLUMN d DATE NOT NULL DEFAULT '0000-00-00'"
    ) == [("add", "d", "date", "'1970-01-01'")]
    assert parse_ddl_sql(
        "ALTER TABLE t ADD COLUMN ts DATETIME NOT NULL"
        " DEFAULT '0000-00-00 00:00:00'"
    ) == [("add", "ts", "timestamp", "'1970-01-01 00:00:00'")]
    assert parse_ddl_sql(
        "ALTER TABLE t ADD COLUMN ts TIMESTAMP DEFAULT '0000-00-00 00:00:00.000'"
    ) == [("add", "ts", "timestamp", None)]
    # bare 0 follows the same rule on temporal columns only
    assert parse_ddl_sql(
        "ALTER TABLE t ADD COLUMN d DATE NOT NULL DEFAULT 0"
    ) == [("add", "d", "date", "'1970-01-01'")]
    assert parse_ddl_sql(
        "ALTER TABLE t ADD COLUMN n INT NOT NULL DEFAULT 0"
    ) == [("add", "n", "int", "0")]
    # a quoted zero-date COMMENT never triggers the rule (quote-aware)
    assert parse_ddl_sql(
        "ALTER TABLE t ADD COLUMN d DATE DEFAULT '0000-00-00'"
        " COMMENT 'NOT NULL soon'"
    ) == [("add", "d", "date", None)]
    # CREATE TABLE columns follow the same rule
    ops = parse_ddl_sql(
        "CREATE TABLE db.t2 (k BIGINT, d DATE NOT NULL DEFAULT '0000-00-00',"
        " PRIMARY KEY (k))"
    )
    assert ops[0][3] == [("k", "long", None), ("d", "date", "'1970-01-01'")]
    # the TableChanges-JSON wire form applies the SAME rule (nullability
    # from `optional`) — review r5: it bypassed the normalization
    import json as _json

    from debezium_spark.operators.schema_evolution import parse_table_changes

    tc = lambda opt: _json.dumps({"type": "ALTER", "add_columns": [
        {"name": "d", "type": "date", "default": "'0000-00-00'",
         "optional": opt}]})
    assert parse_table_changes(tc(False)) == [("add", "d", "date", "'1970-01-01'")]
    assert parse_table_changes(tc(True)) == [("add", "d", "date", None)]


def test_set_default_zero_date_applies_as_drop(spark, tmp_path):
    """SET DEFAULT '0000-00-00' on a temporal column: the statement has no
    nullability, lake columns are nullable → default-null, i.e. the
    recorded default clears (review r5: the raw literal reached the
    metadata and CAST-nulled silently)."""
    from pyspark.sql.types import StructType

    from debezium_spark.operators.schema_evolution import apply_ddl
    from debezium_spark.plans.table import LakeTable

    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=2)
    t.create(StructType.fromDDL("k string, d date"))
    apply_ddl(t, "ALTER TABLE t ALTER COLUMN d SET DEFAULT '2020-01-01'",
              ("binlog.000001", 1))
    assert t.schema()["d"].metadata.get("CURRENT_DEFAULT") == "'2020-01-01'"
    apply_ddl(t, "ALTER TABLE t ALTER COLUMN d SET DEFAULT '0000-00-00'",
              ("binlog.000001", 2))
    assert "CURRENT_DEFAULT" not in t.schema()["d"].metadata
    # non-temporal columns keep zero-ish literals verbatim
    apply_ddl(t, "ALTER TABLE t ADD COLUMN n INT", ("binlog.000001", 3))
    apply_ddl(t, "ALTER TABLE t ALTER COLUMN n SET DEFAULT 0",
              ("binlog.000001", 4))
    assert t.schema()["n"].metadata.get("CURRENT_DEFAULT") == "0"


def test_parse_default_backslash_normalization():
    """ADVICE r4: source-dialect (standard-conforming) string literals with
    backslashes must re-encode for Spark's backslash-escaped literals —
    DEFAULT 'C:\\dir' must not silently become 'C:dir', and a trailing
    backslash ('a\\', valid PG) must not be a Spark ParseException."""
    assert parse_ddl_sql(r"ALTER TABLE t ADD COLUMN p TEXT DEFAULT 'C:\dir'") == [
        ("add", "p", "string", r"'C:\\dir'")
    ]
    assert parse_ddl_sql("ALTER TABLE t ADD COLUMN p TEXT DEFAULT 'a\\'") == [
        ("add", "p", "string", "'a\\\\'")
    ]


def test_add_column_default_fills_pre_add_files(spark, tmp_path):
    """Iceberg initial-default semantics via EXISTS_DEFAULT metadata: rows
    written BEFORE the ADD surface the default; rows written after keep
    their explicit values including null.

    Also the table's expression set (``LakeTable.exprs``): two batches on
    an unchanged table reuse the same expression objects; the mid-stream
    ADD COLUMN rebuilds them, and so does a RENAME (the rename ledger feeds
    the read aliases), after which old-name files still read back as the
    oracle says."""
    from pyspark.sql.types import StructType

    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=2, mode="mor")
    t.create(StructType.fromDDL("k string, content string"))
    eng = CdcEngine(spark, t, compact_depth=0)
    gen = ChangeLogGenerator(spark, seed=7, n_repos=4)

    def env(df, with_score, score_col):
        pay = lambda side: F.when(
            F.col(side).isNotNull(),
            F.struct(
                F.col(f"{side}.path").alias("k"),
                F.col(f"{side}.content").alias("content"),
                *( [score_col.alias("score")] if with_score else [] ),
            ),
        )
        return df.withColumn("after", pay("after")).withColumn("before", pay("before"))

    base = gen.events(200)
    pos = F.col("source.pos")
    eng.apply_envelope_batch(env(base.filter(pos < 50), False, None), batch_id="a1")
    x_a = t.exprs()
    split_a, dedupe_a = x_a.pk_split(False), x_a.dedupe(["k", "content"])
    eng.apply_envelope_batch(env(base.filter((pos >= 50) & (pos < 100)), False, None),
                             batch_id="a2")
    # unchanged table: the second batch reused the first batch's objects
    assert t.exprs() is x_a
    assert x_a.pk_split(False) is split_a and x_a.dedupe(["k", "content"]) is dedupe_a
    eng.apply_envelope_batch(
        _ddl_row(spark, env(base, False, None).schema, 100,
                 "ALTER TABLE inventory.repo_files ADD COLUMN score BIGINT DEFAULT 42"),
        batch_id="ddl")
    x_add = t.exprs()
    assert x_add is not x_a and "score" in x_add.fields  # ADD COLUMN rebuilt it
    # post-ADD rows: score = pos, except pos % 10 == 0 carries EXPLICIT null
    score = F.when(F.pmod(F.col("source.pos"), F.lit(10)) == 0,
                   F.lit(None).cast("long")).otherwise(F.col("source.pos"))
    eng.apply_envelope_batch(env(base.filter(F.col("source.pos") >= 100), True, score),
                             batch_id="b")

    out = t.read().collect()
    assert len(out) > 0
    # build expected last-touch per key from the raw envelope
    last = {
        r["k"]: r
        for r in env(base, True, score)
        .filter(F.col("op") != "d")
        .select(F.coalesce("after.k", "before.k").alias("k"),
                F.col("source.pos").alias("pos"),
                F.col("after.content").alias("content"),
                F.col("after.score").alias("score"))
        .withColumn("rn", F.expr(
            "row_number() over (partition by k order by pos desc)"))
        .filter("rn = 1").collect()
    }
    phase_a_keys = phase_b_keys = explicit_null_keys = 0
    for r in out:
        exp = last.get(r["k"])
        if exp is None:
            continue
        if exp["pos"] < 100:
            assert r["score"] == 42, f"pre-ADD row must default: {r}"
            phase_a_keys += 1
        elif exp["pos"] % 10 == 0:
            assert r["score"] is None, f"explicit null must survive: {r}"
            explicit_null_keys += 1
        else:
            assert r["score"] == exp["pos"], r
            phase_b_keys += 1
    assert phase_a_keys > 0 and phase_b_keys > 0 and explicit_null_keys > 0
    assert t.exprs() is x_add  # data batches keep the post-ADD set

    # RENAME: the rename ledger changes the read aliases, so the set is
    # rebuilt, and every file written under the old name reads back through
    # the alias exactly as the oracle says
    eng.apply_envelope_batch(
        _ddl_row(spark, env(base, True, score).schema, 200,
                 "ALTER TABLE inventory.repo_files RENAME COLUMN content TO body"),
        batch_id="ddl-rename")
    x_ren = t.exprs()
    assert x_ren is not x_add and x_ren.renames == {"body": ["content"]}
    renamed = {r["k"]: r for r in t.read().collect()}
    assert renamed.keys() == {r["k"] for r in out}
    for k, r in renamed.items():
        exp = last.get(k)
        if exp is None:
            continue
        assert r["body"] == exp["content"], r
        assert r["score"] == (42 if exp["pos"] < 100 else exp["score"]), r
    # the default survives the manifest round-trip and a reopen
    t2 = LakeTable(spark, str(tmp_path / "t"), ["k"])
    assert t2.schema()["score"].metadata["EXISTS_DEFAULT"] == "42"


def test_add_default_bad_literal_rejected(spark, tmp_path):
    from pyspark.sql.types import StructType

    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=2)
    t.create(StructType.fromDDL("k string"))
    with pytest.raises(ValueError, match="does not evaluate"):
        t.alter_add_columns([("c", "int", "not_a_function(")])


def test_apply_ddl_degrades_unevaluable_default(spark, tmp_path):
    """ADVICE r4: an unevaluable DEFAULT literal reached via apply_ddl must
    DEGRADE (column added, no default, raw ledgered) instead of raising —
    the raise happens BEFORE the ledger write, so one malformed DDL event
    would crash-loop the stream forever. Direct alter_add_columns callers
    still get the loud DefaultEvaluationError (previous test)."""
    from pyspark.sql.types import StructType
    from debezium_spark.operators.schema_evolution import apply_ddl, schema_history

    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=2)
    t.create(StructType.fromDDL("k string"))
    # 9999999999999 parses as a numeric literal but overflows INT under
    # ANSI cast — the evaluation-failure class
    apply_ddl(t, "ALTER TABLE t ADD COLUMN c SMALLINT DEFAULT 9999999999999", ("f", 1))
    f = t.schema()["c"]
    assert f.dataType.typeName() == "integer"
    assert "EXISTS_DEFAULT" not in (f.metadata or {})
    # ledger records the DEGRADED op (replay-stable) and keeps the raw text
    hist = schema_history(t)
    assert hist[-1]["ops"] == [["add", "c", "int", None]]
    assert "9999999999999" in hist[-1]["raw"]


def test_current_timestamp_default_resolves_to_barrier_ts(spark, tmp_path):
    """VERDICT r4 item 6: CURRENT_TIMESTAMP-class defaults fill pre-ADD
    rows with the DDL barrier's own ts_ms — deterministic and
    replay-stable — instead of degrading to null. Without a barrier ts
    (programmatic apply) the marker still degrades to no-default."""
    from pyspark.sql.types import StructType
    from debezium_spark.operators.schema_evolution import (
        CURRENT_TS_MARKER,
        apply_ddl,
        resolve_default_marker,
        schema_history,
    )

    assert resolve_default_marker(CURRENT_TS_MARKER, None) is None
    assert resolve_default_marker("'x'", 123) == "'x'"
    lit = resolve_default_marker(CURRENT_TS_MARKER, 1700000000123)
    assert lit == "TIMESTAMP '2023-11-14 22:13:20.123+00:00'"

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=2, mode="mor")
    t.create(StructType.fromDDL("k string, content string"))
    eng = CdcEngine(spark, t, compact_depth=0)
    gen = ChangeLogGenerator(spark, seed=11, n_repos=4)
    base = gen.events(120)

    def env(df):
        pay = lambda side: F.when(
            F.col(side).isNotNull(),
            F.struct(F.col(f"{side}.path").alias("k"),
                     F.col(f"{side}.content").alias("content")),
        )
        return df.withColumn("after", pay("after")).withColumn("before", pay("before"))

    eng.apply_envelope_batch(env(base.filter(F.col("source.pos") < 60)), batch_id="a")
    eng.apply_envelope_batch(
        _ddl_row(spark, env(base).schema, 60,
                 "ALTER TABLE inventory.repo_files ADD COLUMN seen TIMESTAMP"
                 " DEFAULT CURRENT_TIMESTAMP",
                 ts_ms=1700000000123),
        batch_id="ddl")
    rows = t.read().select(F.col("seen").cast("string").alias("s")).distinct().collect()
    assert [r["s"] for r in rows] == ["2023-11-14 22:13:20.123"]
    # ledger carries the RESOLVED literal — recover_schema replays without ts
    hist = schema_history(t)
    assert hist[-1]["ops"][-1][3] == "TIMESTAMP '2023-11-14 22:13:20.123+00:00'"


def test_pk_mutation_guard(spark, tmp_path):
    """ADD PRIMARY KEY matching the capture key is an idempotent no-op;
    a RE-KEY raises loudly (the silent skip was the dangerous case)."""
    from pyspark.sql.types import StructType
    from debezium_spark.operators.schema_evolution import apply_ddl

    t = LakeTable(spark, str(tmp_path / "t"), ["k1", "k2"], n_buckets=2)
    t.create(StructType.fromDDL("k1 string, k2 string, v string"))
    v0 = t.manifest()["version"]
    # same PK (any order) — fine; DROP-then-re-ADD pair — fine
    apply_ddl(t, "ALTER TABLE t ADD PRIMARY KEY (k2, k1)", ("f", 1))
    apply_ddl(t, "ALTER TABLE t DROP PRIMARY KEY, ADD PRIMARY KEY (k1, k2)", ("f", 2))
    assert t.manifest()["version"] == v0  # schema untouched
    with pytest.raises(ValueError, match="re-keying"):
        apply_ddl(t, "ALTER TABLE t ADD CONSTRAINT pk PRIMARY KEY (v)", ("f", 3))
    # bare DROP PRIMARY KEY alone: capture key stays in force (history-only)
    apply_ddl(t, "ALTER TABLE t DROP PRIMARY KEY", ("f", 4))


def test_set_drop_default_mutates_current_only(spark, tmp_path):
    """SET DEFAULT / DROP DEFAULT mutate the CURRENT default only — the
    initial (EXISTS) default stays frozen so pre-ADD files keep surfacing
    the default in force at ADD time (Iceberg initial-default rule)."""
    from pyspark.sql.types import StructType
    from debezium_spark.operators.schema_evolution import apply_ddl

    assert parse_ddl_sql("ALTER TABLE t ALTER COLUMN c SET DEFAULT 9") == [
        ("set_default", "c", "9")
    ]
    assert parse_ddl_sql("ALTER TABLE t ALTER c SET DEFAULT 'x'") == [
        ("set_default", "c", "'x'")
    ]
    assert parse_ddl_sql("ALTER TABLE t ALTER COLUMN c DROP DEFAULT") == [
        ("set_default", "c", None)
    ]

    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=2)
    t.create(StructType.fromDDL("k string, content string"))
    apply_ddl(t, "ALTER TABLE t ADD COLUMN c INT DEFAULT 5", ("f", 1))
    apply_ddl(t, "ALTER TABLE t ALTER COLUMN c SET DEFAULT 9", ("f", 2))
    m = t.schema()["c"].metadata
    assert m["EXISTS_DEFAULT"] == "5" and m["CURRENT_DEFAULT"] == "9"
    apply_ddl(t, "ALTER TABLE t ALTER COLUMN c DROP DEFAULT", ("f", 3))
    m = t.schema()["c"].metadata
    assert m["EXISTS_DEFAULT"] == "5" and "CURRENT_DEFAULT" not in m
    with pytest.raises(ValueError, match="not found"):
        t.alter_set_default("ghost", "1")


def test_default_not_extracted_from_quoted_text():
    """Review r4 #2: the word DEFAULT inside a quoted COMMENT (or any
    string) must not fabricate a column default."""
    assert parse_ddl_sql(
        "ALTER TABLE t ADD COLUMN note VARCHAR(100) COMMENT 'DEFAULT 7 means auto'"
    ) == [("add", "note", "string", None)]
    assert parse_ddl_sql(
        "ALTER TABLE t ADD COLUMN note VARCHAR(100) COMMENT 'x DEFAULT 1' DEFAULT 'real'"
    ) == [("add", "note", "string", "'real'")]
    # CREATE TABLE path shares the extractor
    assert parse_ddl_sql(
        "CREATE TABLE t (n VARCHAR(10) COMMENT 'DEFAULT 9', id INT, PRIMARY KEY(id))"
    ) == [("create_table", None, "t",
           [("n", "string", None), ("id", "int", None)], ["id"])]


def test_set_default_non_literal_is_history_only(spark, tmp_path):
    """Review r4 #6: SET DEFAULT <non-literal> must not execute as DROP
    DEFAULT — a recorded literal default survives. r5: now-functions parse
    to the marker; WITHOUT a barrier ts they stay history-only, WITH one
    they resolve to the barrier instant."""
    from pyspark.sql.types import StructType
    from debezium_spark.operators.schema_evolution import CURRENT_TS_MARKER, apply_ddl

    assert parse_ddl_sql("ALTER TABLE t ALTER COLUMN c SET DEFAULT CURRENT_TIMESTAMP") == [
        ("set_default", "c", CURRENT_TS_MARKER)
    ]
    assert parse_ddl_sql("ALTER TABLE t ALTER COLUMN c SET DEFAULT uuid()") == []
    assert parse_ddl_sql("ALTER TABLE t ALTER COLUMN c SET DEFAULT NULL") == [
        ("set_default", "c", None)
    ]
    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=2)
    t.create(StructType.fromDDL("k string"))
    apply_ddl(t, "ALTER TABLE t ADD COLUMN c INT DEFAULT 5", ("f", 1))
    apply_ddl(t, "ALTER TABLE t ALTER COLUMN c SET DEFAULT now()", ("f", 2))
    assert t.schema()["c"].metadata["CURRENT_DEFAULT"] == "5"  # untouched
    apply_ddl(t, "ALTER TABLE t ALTER COLUMN c SET DEFAULT now()", ("f", 3),
              ts_ms=1700000000123)
    assert t.schema()["c"].metadata["CURRENT_DEFAULT"] == (
        "TIMESTAMP '2023-11-14 22:13:20.123+00:00'"
    )
    # EXISTS_DEFAULT (initial default) stays frozen throughout
    assert t.schema()["c"].metadata["EXISTS_DEFAULT"] == "5"
    # final-sweep r5: the UNAPPLIED history-only op (no barrier ts) must not
    # be recorded in the ledger's ops — it would replay the NUL marker into
    # field metadata and re-emit it through the schema-changes signal
    import json as _json

    with open(tmp_path / "t" / "_schema_history.jsonl") as fh:
        entries = [_json.loads(line) for line in fh]
    e2 = next(e for e in entries if e["offset_pos"] == 2)
    assert e2["ops"] == [] and "now()" in e2["raw"]
    assert not any(
        CURRENT_TS_MARKER in _json.dumps(e["ops"]) for e in entries
    )


def test_table_changes_json_default_gated_to_literals(spark, tmp_path):
    """Review r4 #4: a TableChanges JSON default is raw defaultValueExpression
    text — non-literals must not reach EXISTS_DEFAULT (they'd poison every
    pre-ADD scan with an unresolved reference)."""
    from debezium_spark.operators.schema_evolution import parse_table_changes

    assert parse_table_changes(
        '{"type": "ALTER", "add_columns": [{"name": "c", "type": "int", "default": "5"}]}'
    ) == [("add", "c", "int", "5")]
    assert parse_table_changes(
        '{"type": "ALTER", "add_columns": [{"name": "c", "type": "int", "default": "x"}]}'
    ) == [("add", "c", "int", None)]
    # a quoted string literal passes the gate verbatim
    assert parse_table_changes(
        '{"type": "ALTER", "add_columns": [{"name": "c", "type": "string",'
        ' "default": "\'eu\'"}]}'
    ) == [("add", "c", "string", "\'eu\'")]


def test_schema_commit_does_not_duplicate_lineage(spark, tmp_path):
    """Review r4 deep-pass: a schema-only commit must publish EMPTY lineage
    — copying the parent's rows double-counted every batch metric after an
    ALTER."""
    gen = ChangeLogGenerator(spark, seed=3, n_repos=4)
    table = LakeTable(spark, str(tmp_path / "t"), ["repo", "path"], n_buckets=2)
    CdcEngine(spark, table).apply_envelope_batch(gen.events(100), batch_id="b0")
    events_before = sum(r.get("events", 0) for r in table.lineage())
    table.alter_add_columns([("extra", "int")])
    table.alter_rename_column("extra", "extra2")
    assert sum(r.get("events", 0) for r in table.lineage()) == events_before


def test_unmapped_alter_type_degrades_instead_of_wedging():
    """Review r4 deep-pass: an exotic type in ALTER crash-looped the stream
    (parse raised before the ledger write). ADD carries the column as text;
    retypes to unmapped types stay history-only."""
    assert parse_ddl_sql("ALTER TABLE t ADD COLUMN g GEOMETRY") == [
        ("add", "g", "string", None)
    ]
    assert parse_ddl_sql("ALTER TABLE t MODIFY COLUMN c GEOMETRY") == []
    assert parse_ddl_sql("ALTER TABLE t CHANGE a b GEOMETRY") == [("rename", "a", "b")]
    assert parse_ddl_sql("ALTER TABLE t ALTER COLUMN c TYPE GEOGRAPHY") == []


def test_inline_primary_key_not_matched_in_strings():
    """Review r4 deep-pass: PRIMARY KEY inside a COMMENT string fabricated
    a wrong key column for CREATE TABLE."""
    ops = parse_ddl_sql(
        "CREATE TABLE t (id INT PRIMARY KEY,"
        " note VARCHAR(20) COMMENT 'the PRIMARY KEY surrogate')"
    )
    assert ops[0][4] == ["id"]


def test_parse_first_after_placement():
    """MySQL FIRST / AFTER col placement suffixes parse to reorder ops
    (MySqlAntlrDdlParserTest's column-position matrix — VERDICT r4
    "residual DDL depth")."""
    assert parse_ddl_sql("ALTER TABLE t ADD COLUMN c INT AFTER a") == [
        ("add", "c", "int", None), ("reorder", "c", "a")
    ]
    assert parse_ddl_sql("ALTER TABLE t ADD COLUMN c INT FIRST") == [
        ("add", "c", "int", None), ("reorder", "c", None)
    ]
    # placement composes with constraints + quoted anchor
    assert parse_ddl_sql(
        "ALTER TABLE t ADD COLUMN c INT NOT NULL DEFAULT 7 AFTER `a`"
    ) == [("add", "c", "int", "7"), ("reorder", "c", "a")]
    assert parse_ddl_sql("ALTER TABLE t MODIFY COLUMN c BIGINT AFTER b") == [
        ("widen", "c", "long"), ("reorder", "c", "b")
    ]
    # CHANGE reorders under the NEW name; MODIFY-same-type is position-only
    assert parse_ddl_sql("ALTER TABLE t CHANGE a b BIGINT FIRST") == [
        ("rename", "a", "b"), ("widen", "b", "long"), ("reorder", "b", None)
    ]
    assert parse_ddl_sql("ALTER TABLE t ADD (a INT AFTER x, b TEXT FIRST)") == [
        ("add", "a", "int", None), ("reorder", "a", "x"),
        ("add", "b", "string", None), ("reorder", "b", None),
    ]
    # quoted text can never fabricate a placement (_strip_quoted class)
    assert parse_ddl_sql("ALTER TABLE t ADD COLUMN c INT COMMENT 'goes AFTER x'") == [
        ("add", "c", "int", None)
    ]
    assert parse_ddl_sql("ALTER TABLE t ADD COLUMN c INT COMMENT 'me FIRST'") == [
        ("add", "c", "int", None)
    ]


def test_partition_and_charset_maintenance_history_only():
    """Partition maintenance and table charset conversion don't change the
    lake schema — they must parse to zero ops (history-only), never
    fabricate column mutations."""
    assert parse_ddl_sql(
        "ALTER TABLE t ADD PARTITION (PARTITION p1 VALUES LESS THAN (100))"
    ) == []
    assert parse_ddl_sql("ALTER TABLE t DROP PARTITION p0") == []
    assert parse_ddl_sql(
        "ALTER TABLE t REORGANIZE PARTITION p0 INTO"
        " (PARTITION p1 VALUES LESS THAN (50))"
    ) == []
    assert parse_ddl_sql("ALTER TABLE t TRUNCATE PARTITION p0") == []
    assert parse_ddl_sql(
        "ALTER TABLE t CONVERT TO CHARACTER SET utf8mb4 COLLATE utf8mb4_unicode_ci"
    ) == []
    assert parse_ddl_sql("ALTER TABLE t COALESCE PARTITION 2") == []
    assert parse_ddl_sql("ALTER TABLE t EXCHANGE PARTITION p0 WITH TABLE t2") == []
    assert parse_ddl_sql("ALTER TABLE t DROP PARTITION p0, p1") == []
    assert parse_ddl_sql("ALTER TABLE t CHARACTER SET = utf8mb4") == []
    assert parse_ddl_sql("ALTER TABLE t ROW_FORMAT=DYNAMIC, KEY_BLOCK_SIZE=8") == []
    # MySQL online-DDL hints ride as sibling clauses of a REAL mutation —
    # the hint clauses must drop while the column op still parses
    assert parse_ddl_sql(
        "ALTER TABLE t ADD COLUMN c INT, ALGORITHM=INPLACE, LOCK=NONE"
    ) == [("add", "c", "int", None)]
    # ENUM/SET column types land as string; the allowed-values list stays
    # in the raw DDL on the history ledger (io.debezium.data.Enum/EnumSet
    # are string-schema annotations, data/Enum.java:20, EnumSet.java:20)
    assert parse_ddl_sql("ALTER TABLE t ADD flavor ENUM('a','b') DEFAULT 'a'") == [
        ("add", "flavor", "string", "'a'")
    ]
    assert parse_ddl_sql("ALTER TABLE t ADD tags SET('x','y','z')") == [
        ("add", "tags", "string", None)
    ]


def test_alter_reorder_column(spark, tmp_path):
    from pyspark.sql.types import StructType

    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=2)
    t.create(StructType.fromDDL("k string, a int, b int, c int"))
    t.alter_reorder_column("c", None)  # FIRST
    assert [f.name for f in t.read().schema.fields] == ["c", "k", "a", "b"]
    t.alter_reorder_column("c", "a")  # AFTER a
    assert [f.name for f in t.read().schema.fields] == ["k", "a", "c", "b"]
    v1 = t.manifest()["version"]
    t.alter_reorder_column("c", "a")  # already in place: publishes nothing
    assert t.manifest()["version"] == v1
    t.alter_reorder_column("c", "c")  # self-anchor: no-op
    assert t.manifest()["version"] == v1
    with pytest.raises(ValueError):
        t.alter_reorder_column("zz", None)
    with pytest.raises(ValueError):
        t.alter_reorder_column("c", "zz")


def test_apply_ddl_reorder_e2e(spark, tmp_path):
    """Reorder through the apply_ddl barrier path: values still resolve by
    name after the move; a missing anchor degrades to history-only instead
    of wedging the stream (placement is cosmetic)."""
    from pyspark.sql.types import StructType
    from debezium_spark.operators.schema_evolution import apply_ddl, schema_history
    from debezium_spark.plans.merge import merge_changes

    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=2)
    t.create(StructType.fromDDL("k string, a int, b int"))
    merge_changes(
        t,
        spark.createDataFrame([("k1", 1, 2, "c", 0)],
                              "k string, a int, b int, _op string, _pos long"),
        fence=("f", 0), batch_id="b0",
    )
    apply_ddl(t, "ALTER TABLE t ADD COLUMN c INT DEFAULT 9 AFTER k", ("f", 1))
    assert [f.name for f in t.read().schema.fields] == ["k", "c", "a", "b"]
    row = t.read().first()
    assert (row["k"], row["a"], row["b"], row["c"]) == ("k1", 1, 2, 9)
    # missing anchor: column op applies where possible, reorder degrades
    apply_ddl(t, "ALTER TABLE t MODIFY COLUMN a INT AFTER nosuch", ("f", 2))
    assert [f.name for f in t.read().schema.fields] == ["k", "c", "a", "b"]
    assert len(schema_history(t)) == 2  # both barriers ledgered (raw kept)


def test_recover_schema_replays_reorder(spark, tmp_path):
    """Ledger replay (schema_only_recovery) reproduces column placement;
    a reorder whose anchor was dropped LATER in history must not wedge
    recovery (degrades — placement is cosmetic)."""
    import shutil as _sh

    from pyspark.sql.types import StructType
    from debezium_spark.operators.schema_evolution import apply_ddl

    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=2)
    t.create(StructType.fromDDL("k string, a int, b int"))
    apply_ddl(t, "ALTER TABLE t ADD COLUMN c INT AFTER k", ("f", 1))
    apply_ddl(t, "ALTER TABLE t ADD COLUMN d INT AFTER a", ("f", 2))
    apply_ddl(t, "ALTER TABLE t DROP COLUMN a", ("f", 3))  # burns d's anchor
    want = [f.name for f in t.schema().fields]

    rest = LakeTable(spark, str(tmp_path / "rest"), ["k"], n_buckets=2)
    rest.create(StructType.fromDDL("k string, a int, b int"))
    _sh.copy(str(tmp_path / "t" / "_schema_history.jsonl"),
             str(tmp_path / "rest" / "_schema_history.jsonl"))
    assert CdcEngine(spark, rest).recover_schema() == 3
    got = [f.name for f in rest.schema().fields]
    # 'c' lands AFTER k in both; 'd' keeps its add-position in the restored
    # table (its reorder anchor is gone by replay time — degraded, not a
    # wedge) while the original applied it live: positions may differ for
    # exactly that column, but the column SET must match and recovery ends
    assert set(got) == set(want)
    assert got[:2] == ["k", "c"]


def test_parse_default_signed_and_bitstring():
    """The reference's DefaultValueParserListener evaluated subset beyond
    plain literals: unary sign (DefaultValueParserListener.java:40) and
    BIT_STRING (:50, unquoteBinary → binary text; we normalize to decimal
    so it casts into any integral lake type)."""
    assert parse_ddl_sql("ALTER TABLE t ADD COLUMN c INT DEFAULT -1") == [
        ("add", "c", "int", "-1")
    ]
    assert parse_ddl_sql("ALTER TABLE t ADD COLUMN c INT DEFAULT +1") == [
        ("add", "c", "int", "1")
    ]
    assert parse_ddl_sql("ALTER TABLE t ADD COLUMN c DOUBLE DEFAULT - 2.5e3") == [
        ("add", "c", "double", "-2.5e3")
    ]
    assert parse_ddl_sql("ALTER TABLE t ADD COLUMN f BIGINT DEFAULT b'1010'") == [
        ("add", "f", "long", "10")
    ]
    assert parse_ddl_sql("ALTER TABLE t ADD COLUMN f BIGINT DEFAULT B'0'") == [
        ("add", "f", "long", "0")
    ]
    # sign on a non-numeric stays non-literal (history-only default)
    assert parse_ddl_sql("ALTER TABLE t ADD COLUMN c INT DEFAULT -foo()") == [
        ("add", "c", "int", None)
    ]


def test_parse_default_now_with_fsp():
    """Review r5: DEFAULT NOW(6) (MySQL fractional-seconds form) used to
    degrade to no-default while CURRENT_TIMESTAMP(6) resolved — the two
    spellings are the same function and must parse identically."""
    from debezium_spark.operators.schema_evolution import CURRENT_TS_MARKER

    for spelling in ("NOW(6)", "NOW()", "NOW(  3 )", "CURRENT_TIMESTAMP(6)"):
        assert parse_ddl_sql(
            f"ALTER TABLE t ADD COLUMN seen DATETIME(6) DEFAULT {spelling}"
        ) == [("add", "seen", "timestamp", CURRENT_TS_MARKER)], spelling


def test_parse_schema_neutral_dialect_surface_is_inert():
    """The MySQL dialect surface beyond column evolution — charset
    conversion, partition maintenance, index DDL, ALGORITHM/LOCK hints,
    table options (MySqlAntlrDdlParserTest's residual matrix) — must
    parse to ZERO ops (history-only) without mis-firing any column rule
    (e.g. RENAME INDEX a TO b must not read as a column or table rename,
    DROP INDEX i must not drop a column), while clauses mixed with real
    column DDL still extract the column ops."""
    neutral = [
        "ALTER TABLE db.t CONVERT TO CHARACTER SET utf8mb4 COLLATE utf8mb4_general_ci",
        "ALTER TABLE t DEFAULT CHARACTER SET = utf8mb4",
        "ALTER TABLE t ADD PARTITION (PARTITION p1 VALUES LESS THAN (10))",
        "ALTER TABLE t DROP PARTITION p0, p1",
        "ALTER TABLE t TRUNCATE PARTITION p2",
        "ALTER TABLE t REORGANIZE PARTITION p0 INTO "
        "(PARTITION p1 VALUES LESS THAN (10), PARTITION p2 VALUES LESS THAN MAXVALUE)",
        "ALTER TABLE t COALESCE PARTITION 2",
        "ALTER TABLE t RENAME INDEX idx_a TO idx_b",
        "ALTER TABLE t ADD INDEX idx_c (c)",
        "ALTER TABLE t DROP INDEX idx_c",
        "ALTER TABLE t ADD FULLTEXT INDEX ft (text_col)",
        "ALTER TABLE t ROW_FORMAT=DYNAMIC, ENGINE=InnoDB",
        "ALTER TABLE t AUTO_INCREMENT = 100",
    ]
    for stmt in neutral:
        assert parse_ddl_sql(stmt) == [], stmt
    # mixed: the column ops surface, the neutral clauses stay silent
    assert parse_ddl_sql(
        "ALTER TABLE t ADD COLUMN c INT, ALGORITHM=INPLACE, LOCK=NONE"
    ) == [("add", "c", "int", None)]
    assert parse_ddl_sql(
        "ALTER TABLE t MODIFY c BIGINT AFTER b, CONVERT TO CHARACTER SET latin1"
    ) == [("widen", "c", "long"), ("reorder", "c", "b")]


def test_apply_ddl_degrades_incompatible_retype(spark, tmp_path):
    """Final review r5: a MAPPED-but-incompatible MODIFY/CHANGE retype
    (int → string is not a safe widening) raised from alter_widen_column
    BEFORE the ledger write — one DDL event crash-looped the stream
    forever, the exact class _type_or_none bans for unmapped types. It
    must degrade to history-only: column keeps its type, raw ledgered,
    stream continues. Direct alter_widen_column callers still get the
    loud ValueError."""
    import pytest
    from pyspark.sql.types import StructType
    from debezium_spark.operators.schema_evolution import apply_ddl, schema_history

    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=2)
    t.create(StructType.fromDDL("k string, c int"))
    apply_ddl(t, "ALTER TABLE t MODIFY c TEXT", ("f", 1))  # must not raise
    assert t.schema()["c"].dataType.typeName() == "integer"
    hist = schema_history(t)
    assert "TEXT" in hist[-1]["raw"] and hist[-1]["ops"] == []
    # retype of a column that never existed degrades the same way
    apply_ddl(t, "ALTER TABLE t MODIFY ghost BIGINT", ("f", 2))
    assert schema_history(t)[-1]["ops"] == []
    # direct callers keep the loud failure
    with pytest.raises(ValueError, match="safe widenings"):
        t.alter_widen_column("c", "string")


@pytest.mark.parametrize("script", [
    pytest.param([
        "ALTER TABLE t ADD COLUMN x INT",
        "ALTER TABLE t RENAME COLUMN x TO y",
        "ALTER TABLE t RENAME COLUMN y TO z",
    ], id="add_then_rename"),
    pytest.param([
        "ALTER TABLE t ADD COLUMN d1 INT DEFAULT 7",
        # unevaluable under ANSI cast: degrades to no default
        "ALTER TABLE t ADD COLUMN d2 SMALLINT DEFAULT 9999999999999",
        # no barrier ts_ms to resolve against: history-only
        "ALTER TABLE t ALTER COLUMN d1 SET DEFAULT CURRENT_TIMESTAMP",
        "ALTER TABLE t DROP COLUMN gone",
        "ALTER TABLE t RENAME COLUMN r1 TO r2",
        "ALTER TABLE t RENAME COLUMN r2 TO r3",
        "ALTER TABLE t MODIFY COLUMN w BIGINT",
        # string -> int is not a safe widening: history-only
        "ALTER TABLE t MODIFY COLUMN s INT",
        "ALTER TABLE t MODIFY COLUMN d1 INT FIRST",
        "ALTER TABLE t ADD COLUMN z INT DEFAULT 3 AFTER k",
        "ALTER TABLE t ADD PRIMARY KEY (k)",
    ], id="every_op_kind"),
])
def test_recover_schema_converges_on_add_then_rename(spark, tmp_path, script):
    """Final review r5: the NO-checkpoint recovery path replays per-op
    onto the live table, and replaying 'add x' after x was renamed to y
    hit the burned-name guard (and a rename chain a→b→c wedged on its
    first hop) — recovery crashed on a healthy table where the contract
    is convergence. Ledgered ops were each applied once, so a replay
    raise can only mean already-applied-in-evolved-form: skip.

    Live apply and recovery share one op applier, so recovery must
    reproduce live apply's exact schema state — manifest schema JSON
    (field metadata included), renames and dropped names — for every
    recorded op kind, three ways: on the live table, on a fresh
    incarnation, and from the compacted ledger."""
    import shutil as _sh

    from pyspark.sql.types import StructType
    from debezium_spark.operators.schema_evolution import (
        apply_ddl,
        compact_schema_history,
    )

    base = "k string, a int, gone int, r1 int, w int, s string"
    t = LakeTable(spark, str(tmp_path / "t"), ["k"], n_buckets=2)
    t.create(StructType.fromDDL(base))
    for i, sql in enumerate(script, 1):
        apply_ddl(t, sql, ("f", i))

    def state(tbl):
        man = tbl.manifest()
        return man["schema"], man.get("renames", {}), man.get("dropped", [])

    want = state(t)

    # recovery on the CURRENT table (healthy restart) must no-op cleanly
    assert CdcEngine(spark, t).recover_schema() == len(script)
    assert state(t) == want

    def fresh(name):
        rest = LakeTable(spark, str(tmp_path / name), ["k"], n_buckets=2)
        rest.create(StructType.fromDDL(base))
        _sh.copy(str(tmp_path / "t" / "_schema_history.jsonl"),
                 str(tmp_path / name / "_schema_history.jsonl"))
        return rest

    # recovery onto a fresh table from the copied ledger converges too
    rest = fresh("rest")
    assert CdcEngine(spark, rest).recover_schema() == len(script)
    assert state(rest) == want

    # ...and so does recovery from the compacted ledger
    assert compact_schema_history(t) == len(script)
    rest = fresh("rest_cp")
    assert CdcEngine(spark, rest).recover_schema() == 0
    assert state(rest) == want
