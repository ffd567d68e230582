"""Sink-side replay tests: DML statement generation, forward DDL
translation, PG deparse-JSON expansion, and the ordered statement stream.

Expected strings are hand-derived from the reference rules:
``debezium-connector-mysql/sink/util/SqlTools.java:242-330`` +
``DebeziumValueConverters.java`` (openGauss target),
``debezium-connector-opengauss/sink/utils/MysqlSqlTools.java:141-190``
(MySQL target), ``ReplayTask.java:274-380`` (DDL rectification),
``OpengaussDdlParser.java`` (deparse expansion).
"""

from __future__ import annotations

import datetime
import glob
import json
import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from debezium_spark.sink import (
    dml_statements,
    expand_ddl_json,
    expand_ddl_json_batch,
    statement_stream,
    table_meta_from_schema,
    translate_ddl,
    translate_ddl_batch,
    write_statement_stream,
)
from debezium_spark.sink.metadata import ColumnMeta, TableMeta

PAYLOAD = StructType(
    [
        StructField("id", IntegerType()),
        StructField("name", StringType()),
        StructField("blob", BinaryType()),
        StructField("amt", DecimalType(10, 2)),
        StructField("d", DateType()),
        StructField("ts", TimestampType()),
    ]
)

SOURCE = StructType(
    [
        StructField("file", StringType()),
        StructField("pos", LongType()),
        StructField("db", StringType()),
        StructField("table", StringType()),
    ]
)

ENV = StructType(
    [
        StructField("op", StringType()),
        StructField("before", PAYLOAD),
        StructField("after", PAYLOAD),
        StructField("source", SOURCE),
    ]
)


def _env(spark, rows):
    return spark.createDataFrame(rows, ENV)


ROW_C = (
    "c",
    None,
    (1, "O'Hara", bytearray(b"\xab\x01"), None, datetime.date(2024, 1, 2),
     datetime.datetime(2024, 1, 2, 3, 4, 5, 123456)),
    ("f1", 10, "db1", "widgets"),
)
ROW_U = (
    "u",
    (1, "x", None, None, None, None),
    (1, "y", None, Decimal("2.50"), None, None),
    ("f1", 20, "db1", "widgets"),
)
ROW_D = ("d", (1, "y", None, None, None, None), None, ("f1", 30, "db1", "widgets"))


def _sqls(df):
    return [r.sql for r in df.orderBy("source.pos").collect()]


class TestDmlSqlgen:
    def test_opengauss_dialect_exact_statements(self, spark):
        meta = table_meta_from_schema("src", "widgets", PAYLOAD, ["id"], "opengauss")
        got = _sqls(dml_statements(_env(spark, [ROW_C, ROW_U, ROW_D]), meta))
        assert got == [
            # strings '' doubled, binary '\x<lower hex>', null token, date +
            # microsecond timestamp formats — DebeziumValueConverters
            'insert into "src"."widgets" values (1, \'O\'\'Hara\', \'\\xab01\','
            " null, '2024-01-02', '2024-01-02 03:04:05.123456');",
            # SET covers ALL columns from after; WHERE from before by PK
            'update "src"."widgets" set "id" = 1, "name" = \'y\', "blob" = null,'
            ' "amt" = 2.50, "d" = null, "ts" = null where "id" = 1;',
            'delete from "src"."widgets" where "id" = 1;',
        ]

    def test_mysql_dialect_exact_statements(self, spark):
        meta = table_meta_from_schema("src", "widgets", PAYLOAD, ["id"], "mysql")
        got = _sqls(
            dml_statements(_env(spark, [ROW_C, ROW_D]), meta, dialect="mysql")
        )
        # backquotes, "values(" without the space (MysqlSqlTools:143), x'hex'
        assert got == [
            "insert into `src`.`widgets` values(1, 'O''Hara', x'ab01', null,"
            " '2024-01-02', '2024-01-02 03:04:05.123456');",
            "delete from `src`.`widgets` where `id` = 1;",
        ]

    def test_null_pk_renders_is_null(self, spark):
        meta = table_meta_from_schema("src", "widgets", PAYLOAD, ["id"])
        row = ("d", (None, "y", None, None, None, None), None, ("f1", 1, "db1", "widgets"))
        assert _sqls(dml_statements(_env(spark, [row]), meta)) == [
            'delete from "src"."widgets" where "id" is null;'
        ]

    def test_no_pk_falls_back_to_all_columns(self, spark):
        meta = table_meta_from_schema("src", "widgets", PAYLOAD, [])
        got = _sqls(dml_statements(_env(spark, [ROW_D]), meta))
        assert got == [
            'delete from "src"."widgets" where "id" = 1 and "name" = \'y\' and'
            ' "blob" is null and "amt" is null and "d" is null and "ts" is null;'
        ]

    def test_json_and_point_where_operators(self, spark):
        # SqlTools.getValueList DELETE branch: json → col::jsonb=v,
        # point/polygon → col~=v
        schema = StructType(
            [
                StructField("j", StringType()),
                StructField(
                    "p",
                    StructType(
                        [StructField("x", DoubleType()), StructField("y", DoubleType())]
                    ),
                ),
            ]
        )
        meta = TableMeta(
            "src", "geo",
            (ColumnMeta("j", "json", True), ColumnMeta("p", "point", True)),
        )
        env = spark.createDataFrame(
            [("d", ('{"a": 1}', (1.5, -2.0)), None, ("f1", 1, "db1", "geo"))],
            StructType(
                [
                    StructField("op", StringType()),
                    StructField("before", schema),
                    StructField("after", schema),
                    StructField("source", SOURCE),
                ]
            ),
        )
        assert _sqls(dml_statements(env, meta)) == [
            'delete from "src"."geo" where "j"::jsonb=\'{"a": 1}\' and'
            ' "p"~=\'(1.5,-2.0)\';'
        ]

    def test_numeric_scale_rounds_half_up(self, spark):
        # convertNumeric: more decimals than the target scale → HALF_UP
        schema = StructType([StructField("v", DoubleType())])
        meta = TableMeta("s", "t", (ColumnMeta("v", "numeric", True, scale=2),))
        env = spark.createDataFrame(
            [("c", None, (2.005,), ("f1", 1, "db", "t"))],
            StructType(
                [
                    StructField("op", StringType()),
                    StructField("before", schema),
                    StructField("after", schema),
                    StructField("source", SOURCE),
                ]
            ),
        )
        assert _sqls(dml_statements(env, meta)) == ['insert into "s"."t" values (2.01);']

    def test_mysql_backslashes_and_control_chars_escape(self, spark):
        # MySQL's default mode interprets backslash escapes inside every
        # literal; raw payload backslashes/newlines must encode or the
        # literal swallows the closing quote / splits the statement line
        meta = table_meta_from_schema("src", "widgets", PAYLOAD, ["id"], "mysql")
        row = (
            "c", None,
            (1, "C:\\dir\nnext", None, None, None, None),
            ("f1", 1, "db1", "widgets"),
        )
        got = _sqls(dml_statements(_env(spark, [row]), meta, dialect="mysql"))
        assert got == [
            "insert into `src`.`widgets` values(1, 'C:\\\\dir\\nnext', null,"
            " null, null, null);"
        ]

    def test_opengauss_newline_switches_to_escape_string_form(self, spark):
        meta = table_meta_from_schema("src", "widgets", PAYLOAD, ["id"])
        rows = [
            # newline → E'...' with \n and doubled backslashes
            ("c", None, (1, "a\nb\\c", None, None, None, None),
             ("f1", 1, "db1", "widgets")),
            # backslash WITHOUT newline → plain parity form (literal \ under
            # standard_conforming_strings)
            ("c", None, (2, "C:\\dir", None, None, None, None),
             ("f1", 2, "db1", "widgets")),
        ]
        got = _sqls(dml_statements(_env(spark, rows), meta))
        assert got == [
            'insert into "src"."widgets" values (1, E\'a\\nb\\\\c\', null,'
            " null, null, null);",
            'insert into "src"."widgets" values (2, \'C:\\dir\', null,'
            " null, null, null);",
        ]

    def test_identifier_quote_symbol_doubles(self, spark):
        # a quote symbol embedded in an identifier doubles inside the wrap
        payload = StructType([StructField('we"ird', IntegerType())])
        env_schema = StructType(
            [
                StructField("op", StringType()),
                StructField("before", payload),
                StructField("after", payload),
                StructField("source", SOURCE),
            ]
        )
        meta = table_meta_from_schema('s"1', 't', payload, ['we"ird'])
        df = spark.createDataFrame(
            [("c", None, (7,), ("f1", 1, "db1", "t"))], env_schema
        )
        got = _sqls(dml_statements(df, meta))
        assert got == ['insert into "s""1"."t" values (7);']

    def test_bit_boolean_renders_bare(self, spark):
        # boolean-schema bit columns render bare true/false like the
        # reference's convertBit boolean branch
        payload = StructType(
            [StructField("id", IntegerType()), StructField("flag", BooleanType())]
        )
        env_schema = StructType(
            [
                StructField("op", StringType()),
                StructField("before", payload),
                StructField("after", payload),
                StructField("source", SOURCE),
            ]
        )
        meta = table_meta_from_schema("src", "flags", payload, ["id"], "mysql")
        assert meta.columns[1].type_name == "bit"
        df = spark.createDataFrame(
            [("c", None, (1, True), ("f1", 1, "db1", "flags"))], env_schema
        )
        got = _sqls(dml_statements(df, meta, dialect="mysql"))
        assert got == ["insert into `src`.`flags` values(1, true);"]

    def test_snapshot_and_control_ops_excluded(self, spark):
        meta = table_meta_from_schema("src", "widgets", PAYLOAD, ["id"])
        rows = [
            ("r", None, ROW_C[2], ("f1", 1, "db1", "widgets")),
            ("t", None, None, ("f1", 2, "db1", "widgets")),
            ROW_C,
        ]
        got = dml_statements(_env(spark, rows), meta)
        assert got.count() == 1 and got.first().op == "c"

    def test_plan_is_pure_catalyst_no_shuffle(self, spark):
        meta = table_meta_from_schema("src", "widgets", PAYLOAD, ["id"])
        plan = dml_statements(_env(spark, [ROW_C]), meta)._jdf.queryExecution().executedPlan().toString()
        for marker in ("BatchEvalPython", "ArrowEvalPython", "Exchange"):
            assert marker not in plan, plan


class TestDdlTranslate:
    MAP = {"db1": "sink1", "other": "o2"}

    def test_prelude_and_qualifier_strip(self):
        got = translate_ddl(
            "alter table `db1`.`widgets` add column c int", "db1", "widgets", self.MAP
        )
        assert got == [
            "set current_schema to sink1;",
            "alter table `widgets` add column c int",
        ]

    @pytest.mark.parametrize(
        "qualifier",
        ["db1.widgets", "`db1`.widgets", "db1.`widgets`", "`db1`.`widgets`"],
    )
    def test_all_four_quote_combinations(self, qualifier):
        got = translate_ddl(
            f"alter table {qualifier} add c int", "db1", "widgets", self.MAP
        )
        assert got[1] == "alter table `widgets` add c int"

    def test_only_first_occurrence_replaced(self):
        got = translate_ddl(
            "alter table db1.widgets comment 'db1.widgets'", "db1", "widgets", self.MAP
        )
        assert got[1] == "alter table `widgets` comment 'db1.widgets'"

    def test_rename_to_strips_old_schema(self):
        got = translate_ddl(
            "alter table db1.widgets rename to gadgets", "db1", "widgets", self.MAP
        )
        assert got[1] == "alter table widgets rename to gadgets"

    def test_drop_table_strips_backquoted_schema(self):
        got = translate_ddl(
            "drop table `db1`.`widgets`", "db1", "widgets", self.MAP
        )
        assert got[1] == "drop table `widgets`"

    def test_foreign_key_schema_remaps_and_requotes(self):
        ddl = (
            "alter table `db1`.`orders` add constraint fk foreign key (cid)"
            " references `other`.`customers` (id)"
        )
        got = translate_ddl(ddl, "db1", "orders", self.MAP)
        # only the table reference right after REFERENCES is remapped and
        # re-quoted; everything around it survives verbatim, and the main
        # table's qualifier then strips as usual
        assert got[1] == (
            "alter table `orders` add constraint fk foreign key (cid)"
            ' references "o2"."customers" (id)'
        )

    def test_foreign_key_dot_later_in_statement_is_not_a_qualifier(self):
        # a '.' after REFERENCES that is NOT part of the table reference (a
        # decimal default here) must not trigger the qualified-schema branch
        ddl = (
            "create table `db1`.`t` (a int, foreign key (a) references"
            " `parent` (id), b double default 1.5)"
        )
        got = translate_ddl(ddl, "db1", "t", self.MAP)
        assert got[1] == (
            "create table `t` (a int, foreign key (a) references"
            ' "parent" (id), b double default 1.5)'
        )

    def test_foreign_key_mid_statement_requotes_only_the_reference(self):
        # inline FK is not the final element: the trailing column list must
        # survive untouched (the old rindex('(') grab corrupted it)
        ddl = (
            "create table `db1`.`t` (a int, foreign key (a) references"
            " `other`.`c` (id), b numeric(10,2))"
        )
        got = translate_ddl(ddl, "db1", "t", self.MAP)
        assert got[1] == (
            "create table `t` (a int, foreign key (a) references"
            ' "o2"."c" (id), b numeric(10,2))'
        )

    def test_foreign_key_without_column_list(self):
        # MySQL-legal REFERENCES with no explicit column list: no crash
        got = translate_ddl(
            "alter table db1.t add foreign key (a) references parent",
            "db1", "t", self.MAP,
        )
        assert got[1] == 'alter table `t` add foreign key (a) references "parent"'

    def test_references_inside_identifier_is_not_the_keyword(self):
        # 'references' embedded in a column name must not anchor the clause
        ddl = (
            "create table `db1`.`t` (preferences int, foreign key"
            " (preferences) references `other`.`prefs` (id))"
        )
        got = translate_ddl(ddl, "db1", "t", self.MAP)
        assert got[1] == (
            "create table `t` (preferences int, foreign key"
            ' (preferences) references "o2"."prefs" (id))'
        )

    def test_quoted_identifier_named_references_does_not_block_translation(
        self,
    ):
        # a column literally named `references` sits BEFORE the real
        # keyword; quote masking keeps the anchor on the unquoted keyword
        # so the clause still translates (and unmapped schemas still skip)
        ddl = (
            "create table `db1`.`t` (`references` int, foreign key"
            " (`references`) references `other`.`prefs` (id))"
        )
        got = translate_ddl(ddl, "db1", "t", self.MAP)
        assert got[1] == (
            "create table `t` (`references` int, foreign key"
            ' (`references`) references "o2"."prefs" (id))'
        )
        unmapped = (
            "create table `db1`.`t` (`references` int, foreign key"
            " (`references`) references `mystery`.`prefs` (id))"
        )
        assert translate_ddl(unmapped, "db1", "t", self.MAP) == []

    def test_references_inside_string_literal_is_not_the_keyword(self):
        # a DEFAULT string containing both keywords must not anchor an FK
        ddl = (
            "create table `db1`.`t` (a varchar(40) default"
            " 'foreign key references nothing')"
        )
        got = translate_ddl(ddl, "db1", "t", self.MAP)
        assert got[1] == (
            "create table `t` (a varchar(40) default"
            " 'foreign key references nothing')"
        )

    def test_drop_table_strips_unquoted_schema(self):
        got = translate_ddl("drop table db1.widgets", "db1", "widgets", self.MAP)
        assert got == ["set current_schema to sink1;", "drop table widgets"]

    def test_foreign_key_unmapped_schema_skips_statement(self):
        ddl = (
            "alter table `db1`.`orders` add foreign key (cid)"
            " references `mystery`.`customers` (id)"
        )
        assert translate_ddl(ddl, "db1", "orders", self.MAP) == []

    def test_schema_scoped_ddl_passes_through(self):
        got = translate_ddl("create database db1", "db1", None, self.MAP)
        assert got == ["set current_schema to sink1;", "create database db1"]

    def test_batch_path_matches_scalar(self, spark):
        rows = [
            ("alter table `db1`.`widgets` add c int", "db1", "widgets"),
            ("drop table `db1`.`gone`", "db1", "gone"),
            ("create database db1", "db1", None),
        ]
        df = spark.createDataFrame(rows, "ddl string, db string, tbl string")
        got = {
            (r.ddl, r.seq): r.stmt
            for r in translate_ddl_batch(df, self.MAP).collect()
        }
        for ddl, db, tbl in rows:
            expected = translate_ddl(ddl, db, tbl, self.MAP)
            for i, s in enumerate(expected):
                assert got[(ddl, i)] == s


class TestPgDeparse:
    def test_create_table_with_array_and_suppressed_node(self):
        j = json.dumps(
            {
                "fmt": "CREATE %{persistence}s TABLE %{if_not_exists}s %{identity}D"
                       " (%{table_elements:, }s)",
                "persistence": "",
                "if_not_exists": {"fmt": "IF NOT EXISTS", "present": False},
                "identity": {"schemaname": "s1", "objname": "t"},
                "table_elements": [
                    {
                        "fmt": "%{name}I %{coltype}T",
                        "name": "id",
                        "coltype": {
                            "typarray": False, "schemaname": "",
                            "typename": "int4", "typmod": "",
                        },
                    },
                    {
                        "fmt": "%{name}I %{coltype}T",
                        "name": "v",
                        "coltype": {
                            "typarray": False, "schemaname": "",
                            "typename": "varchar", "typmod": "(20)",
                        },
                    },
                ],
            }
        )
        sql, info = expand_ddl_json(j, {"s1": "m1"})
        assert sql == 'CREATE  TABLE  "m1"."t" ("id" int4, "v" varchar(20));'
        assert info["identifier"] == "m1.t"

    def test_array_separator_skips_suppressed_elements(self):
        j = json.dumps(
            {
                "fmt": "X %{items:, }s",
                "items": [
                    {"fmt": "a"},
                    {"fmt": "skipped", "present": False},
                    {"fmt": "b"},
                ],
            }
        )
        assert expand_ddl_json(j)[0] == "X a, b;"

    def test_percent_escape_number_literal_and_identifier_escaping(self):
        j = json.dumps(
            {
                "fmt": "%% %{n}n %{lit}L %{ident}I",
                "n": "42.50",
                "lit": "it's",
                "ident": 'a"b\\c',
            }
        )
        # L literals are NOT escaped (OpengaussDdlParser:expandJsonToStringLiteral);
        # identifiers backslash-escape " and \
        assert expand_ddl_json(j)[0] == '% 42.50 \'it\'s\' "a\\"b\\\\c";'

    def test_typarray_decorator_and_schema_remap_in_types(self):
        j = json.dumps(
            {
                "fmt": "%{t}T",
                "t": {
                    "typarray": True, "schemaname": "s1",
                    "typename": "mood", "typmod": "",
                },
            }
        )
        assert expand_ddl_json(j, {"s1": "m1"})[0] == "m1.mood[];"

    def test_function_adjuster_remaps_and_strips_fencing(self):
        body = (
            "CREATE OR REPLACE FUNCTION s1.f(i int) RETURNS int"
            " NOT FENCED NOT SHIPPABLE AS $$ select 1 $$"
        )
        j = json.dumps({"fmt": "%{function}s", "function": body})
        sql, _ = expand_ddl_json(j, {"s1": "m1"})
        assert "m1.f(i int)" in sql and "NOT FENCED" not in sql

    def test_trigger_objidentity_remap(self):
        j = json.dumps({"fmt": "%{objidentity}s", "objidentity": "trg on s1.t"})
        assert expand_ddl_json(j, {"s1": "m1"})[0] == "trg on m1.t;"

    def test_nextval_default_remaps_via_identity_schema(self):
        j = json.dumps(
            {
                "fmt": "%{identity}D %{default}s",
                "identity": {"schemaname": "s1", "objname": "t"},
                "default": "pg_catalog.nextval('s1.t_id_seq')",
            }
        )
        sql, _ = expand_ddl_json(j, {"s1": "m1"})
        assert sql == '"m1"."t" pg_catalog.nextval(\'m1.t_id_seq\');'

    def test_view_query_remap_and_empty_with_removed(self):
        j = json.dumps(
            {
                "fmt": "CREATE VIEW v  WITH () AS %{query}s",
                "query": "select * from s1.t",
            }
        )
        assert expand_ddl_json(j, {"s1": "m1"})[0] == "CREATE VIEW v AS select * from m1.t;"

    def test_view_query_remap_is_token_anchored_and_covers_all_schemas(self):
        j = json.dumps(
            {
                "fmt": "CREATE VIEW v AS %{query}s",
                # 'app.' must not match inside 'myapp.', nor after a '.'
                # (t.app would be a column qualifier); both mapped schemas
                # remap, not just the first found
                "query": "select * from myapp.t join app.u on t.x = u.x"
                " join s2.w on u.y = w.y",
            }
        )
        got = expand_ddl_json(j, {"app": "sink_app", "s2": "m2"})[0]
        assert got == (
            "CREATE VIEW v AS select * from myapp.t join sink_app.u"
            " on t.x = u.x join m2.w on u.y = w.y;"
        )

    def test_literal_null_parameter_renders_null_token(self):
        # %L prints NULL unquoted for a null/absent parameter, not 'None'
        j = json.dumps(
            {"fmt": "ALTER TABLE t ALTER COLUMN c SET DEFAULT %{definition}L"}
        )
        assert expand_ddl_json(j)[0] == (
            "ALTER TABLE t ALTER COLUMN c SET DEFAULT NULL;"
        )

    def test_invalid_json_returns_empty(self):
        assert expand_ddl_json("not json at all") == ("", {})

    def test_objtype_table_marks_refresh(self):
        j = json.dumps({"fmt": "REFRESH %{objtype}s x", "objtype": "TABLE"})
        _, info = expand_ddl_json(j)
        assert info["is_table_refreshed"] is True

    def test_batch_path_matches_scalar(self, spark):
        j = json.dumps(
            {
                "fmt": "DROP TABLE %{identity}D",
                "identity": {"schemaname": "s1", "objname": "t"},
            }
        )
        df = spark.createDataFrame([(j,)], "ddl_json string")
        row = expand_ddl_json_batch(df, {"s1": "m1"}).first()
        assert row.sql == 'DROP TABLE "m1"."t";'
        assert row.identifier == "m1.t"


ENV_TX = StructType(
    [
        StructField("op", StringType()),
        StructField("before", PAYLOAD),
        StructField("after", PAYLOAD),
        StructField("source", SOURCE),
        StructField(
            "transaction", StructType([StructField("id", StringType())])
        ),
        StructField("_ddl_text", StringType()),
    ]
)


class TestStatementStream:
    def _stream_df(self, spark):
        rows = [
            ("c", None, (1, "a", None, None, None, None), ("f1", 10, "db1", "widgets"), ("tx1",), None),
            ("u", (1, "a", None, None, None, None), (1, "b", None, None, None, None),
             ("f1", 11, "db1", "widgets"), ("tx1",), None),
            ("l", None, None, ("f1", 12, "db1", "widgets"), (None,),
             "alter table `db1`.`widgets` add c int"),
            ("d", (1, "b", None, None, None, None), None, ("f1", 13, "db1", "widgets"), ("tx2",), None),
        ]
        return spark.createDataFrame(rows, ENV_TX)

    def test_order_tx_wrappers_and_ddl_interleave(self, spark):
        meta = table_meta_from_schema("sink1", "widgets", PAYLOAD, ["id"])
        out = statement_stream(
            self._stream_df(spark), meta, {"db1": "sink1"}
        ).orderBy("file", "pos", "sub", "seq")
        stmts = [r.stmt for r in out.collect()]
        assert stmts == [
            "begin;",
            'insert into "sink1"."widgets" values (1, \'a\', null, null, null, null);',
            'update "sink1"."widgets" set "id" = 1, "name" = \'b\', "blob" = null,'
            ' "amt" = null, "d" = null, "ts" = null where "id" = 1;',
            "commit;",
            "set current_schema to sink1;",
            "alter table `widgets` add c int",
            "begin;",
            'delete from "sink1"."widgets" where "id" = 1;',
            "commit;",
        ]

    def test_write_is_ordered_and_idempotent(self, spark, tmp_path):
        meta = table_meta_from_schema("sink1", "widgets", PAYLOAD, ["id"])
        stream = statement_stream(self._stream_df(spark), meta, {"db1": "sink1"})
        out_dir = str(tmp_path / "stmts")
        n = write_statement_stream(stream, out_dir, batch_id=7, files_per_channel=3)
        assert n == 9
        parts = sorted(glob.glob(os.path.join(out_dir, "batch-000007", "part-*")))
        lines = []
        for p in parts:
            with open(p) as f:
                lines.extend(f.read().splitlines())
        expected = [
            r.stmt
            for r in stream.orderBy("file", "pos", "sub", "seq").collect()
        ]
        assert lines == expected
        # redelivery: the committed batch dir is fenced
        assert write_statement_stream(stream, out_dir, batch_id=7) == 0

    def test_typed_path_without_content_field_or_ddl_text(self, spark):
        # PAYLOAD has no 'content' field and ENV carries no _ddl_text: the
        # DDL fallback must not fail analysis; DML rows still stream
        meta = table_meta_from_schema("sink1", "widgets", PAYLOAD, ["id"])
        env = _env(spark, [ROW_C, ROW_D])
        rows = statement_stream(env, meta).collect()
        assert len(rows) == 2
        assert all(r.sub == 1 for r in rows)

    def test_newline_payload_stays_one_statement_per_line(self, spark, tmp_path):
        # the transport is line-oriented: a payload string with embedded
        # newlines must not split its statement across part-file lines, and
        # a multi-line DDL must flatten to one line
        rows = [
            ("c", None, (1, "line1\nline2", None, None, None, None),
             ("f1", 10, "db1", "widgets"), ("tx1",), None),
            ("l", None, None, ("f1", 11, "db1", "widgets"), (None,),
             "alter table `db1`.`widgets`\n  add c int"),
        ]
        env = spark.createDataFrame(rows, ENV_TX)
        meta = table_meta_from_schema("sink1", "widgets", PAYLOAD, ["id"])
        stream = statement_stream(env, meta, {"db1": "sink1"})
        out_dir = str(tmp_path / "stmts")
        n = write_statement_stream(stream, out_dir, batch_id=1, files_per_channel=2)
        lines = []
        for p in sorted(glob.glob(os.path.join(out_dir, "batch-000001", "part-*"))):
            with open(p) as f:
                lines.extend(f.read().splitlines())
        assert len(lines) == n  # one line per statement, none split
        insert = next(l for l in lines if l.startswith("insert"))
        assert insert == (
            'insert into "sink1"."widgets" values (1, E\'line1\\nline2\','
            " null, null, null, null);"
        )
        ddl = next(l for l in lines if l.startswith("alter"))
        assert ddl == "alter table `widgets`   add c int"
        # the writer's own invariant guard: a raw-newline statement refuses
        # to commit (fence withheld) instead of silently splitting
        bad = spark.createDataFrame(
            [("f1", 1, 1, 0, "select\n1;")],
            "file string, pos long, sub int, seq int, stmt string",
        )
        with pytest.raises(ValueError, match="raw newlines"):
            write_statement_stream(bad, str(tmp_path / "bad"), batch_id=2)
        # the escaped literal round-trips through a real SQL engine
        import duckdb

        con = duckdb.connect()
        assert con.execute("select E'line1\\nline2'").fetchone()[0] == "line1\nline2"


class TestDuckDbReplayE2E:
    """Cross-engine proof of the sink contract: the generated statement
    stream, applied sequentially by an INDEPENDENT SQL engine (DuckDB),
    reproduces exactly the final state the CDC engine computes with its
    distributed MERGE — the reference's sink integration tests replay the
    statement lists into a live openGauss and diff tables the same way
    (``debezium-connector-mysql/sink/replay/transaction/TransactionReplayTask.java``).

    The history is binlog-valid (inserts only on absent keys, u/d only on
    present keys) because literal INSERT replay — unlike the engine's
    upsert MERGE — inherits the source database's PK discipline.
    """

    #: payload tuple: (repo, path, commit, lang, content)
    def _events(self):
        def p(repo, path, ver):
            return (repo, path, f"sha-{repo}-{path}-{ver}", "py", f"body {ver}")

        rows = [
            # tx-1: three inserts
            ("c", None, p("r1", "a.py", 1), ("f1", 1, "inventory", "repo_files"), ("tx-1",), None),
            ("c", None, p("r1", "b.py", 1), ("f1", 2, "inventory", "repo_files"), ("tx-1",), None),
            ("c", None, p("r2", "a.py", 1), ("f1", 3, "inventory", "repo_files"), ("tx-1",), None),
            # tx-2: plain update + PK-change update (path rename b.py -> c.py)
            ("u", p("r1", "a.py", 1), p("r1", "a.py", 2), ("f1", 4, "inventory", "repo_files"), ("tx-2",), None),
            ("u", p("r1", "b.py", 1), p("r1", "c.py", 2), ("f1", 5, "inventory", "repo_files"), ("tx-2",), None),
            # tx-3: delete
            ("d", p("r2", "a.py", 1), None, ("f1", 6, "inventory", "repo_files"), ("tx-3",), None),
            # autocommit insert (no transaction tag)
            ("c", None, p("r2", "new.py", 1), ("f1", 7, "inventory", "repo_files"), (None,), None),
            # tx-4: update the renamed row, delete another
            ("u", p("r1", "c.py", 2), p("r1", "c.py", 3), ("f1", 8, "inventory", "repo_files"), ("tx-4",), None),
            ("d", p("r1", "a.py", 2), None, ("f1", 9, "inventory", "repo_files"), ("tx-4",), None),
        ]
        return rows

    def _payload_schema(self):
        return StructType(
            [
                StructField("repo", StringType()),
                StructField("path", StringType()),
                StructField("commit", StringType()),
                StructField("lang", StringType()),
                StructField("content", StringType()),
            ]
        )

    def test_duckdb_apply_matches_engine_merge(self, spark, tmp_path):
        import duckdb

        from debezium_spark import CdcEngine, LakeTable

        payload = self._payload_schema()
        env_schema = StructType(
            [
                StructField("op", StringType()),
                StructField("before", payload),
                StructField("after", payload),
                StructField("source", SOURCE),
                StructField(
                    "transaction",
                    StructType([StructField("id", StringType())]),
                ),
                StructField("_ddl_text", StringType()),
            ]
        )
        env = spark.createDataFrame(self._events(), env_schema)

        # --- engine path: distributed MERGE over the lake table ------------
        # the engine's envelope carries the full generator source struct;
        # widen the statement-stream envelope with the extra fields.
        batch_dir = tmp_path / "batches"
        env.drop("_ddl_text").withColumn(
            "source",
            F.col("source")
            .withField("gtid", F.concat(F.lit("gtid:"), F.col("source.pos")))
            .withField("snapshot", F.lit(None).cast("string"))
            .withField("ts_ms", F.col("source.pos") * 10),
        ).withColumn("ts_ms", F.col("source.pos") * 10).write.parquet(
            str(batch_dir / "batch_00000.parquet")
        )
        table = LakeTable(
            spark, str(tmp_path / "lake"), ["repo", "path"], n_buckets=2
        )
        CdcEngine(spark, table).replay(str(batch_dir))
        engine_state = {
            (r["repo"], r["path"]): (r["commit"], r["lang"], r["content"])
            for r in table.read().collect()
        }

        # --- sink path: ordered statement files applied by DuckDB ----------
        meta = table_meta_from_schema(
            "inventory", "repo_files", payload, ["repo", "path"]
        )
        stream = statement_stream(env, meta)
        out_dir = str(tmp_path / "stmts")
        n = write_statement_stream(stream, out_dir, batch_id=0, files_per_channel=4)
        assert n == len(self._events()) + 2 * 4  # 9 DML + begin/commit × 4 txs
        parts = sorted(glob.glob(os.path.join(out_dir, "batch-000000", "part-*")))
        lines = []
        for part in parts:
            with open(part) as f:
                lines.extend(f.read().splitlines())

        con = duckdb.connect()
        con.execute("create schema inventory")
        con.execute(
            'create table inventory.repo_files '
            '(repo varchar, path varchar, "commit" varchar, '
            "lang varchar, content varchar)"
        )
        for stmt in lines:
            con.execute(stmt)
        duck_state = {
            (repo, path): (commit, lang, content)
            for repo, path, commit, lang, content in con.execute(
                "select repo, path, \"commit\", lang, content from inventory.repo_files"
            ).fetchall()
        }

        # --- the sequential oracle agrees with both ------------------------
        from tests.conftest import sequential_oracle

        events = [r.asDict(recursive=True) for r in env.collect()]
        want = {
            k: (v["commit"], v["lang"], v["content"])
            for k, v in sequential_oracle(events).items()
        }
        assert duck_state == want
        assert engine_state == want
        assert duck_state == engine_state


class TestLiteralRoundtrip:
    """Adversarial-payload roundtrip proof for the literal escape rules:
    every generated INSERT, parsed back by an independent SQL engine (or by
    MySQL's documented unescape rules for the mysql dialect), must yield the
    original string byte-for-byte — the property the line-oriented statement
    transport depends on."""

    # quotes, doubled quotes, backslashes (incl. trailing), newlines, CR,
    # tabs, escape-rule collision shapes, unicode, and empty
    CORPUS = [
        "plain",
        "",
        "O'Hara",
        "''already''",
        "C:\\dir\\sub",
        "trailing backslash\\",
        "\\",
        "\\n not a newline",
        "line1\nline2",
        "line1\r\nline2",
        "\n",
        "tab\there",
        "mix 'q' \\ and\nnewline\\'",
        "unicode: каждый 事件 ✓",
        "percent % and _ wildcard",
        "E'looks like escape string'",
        "a\\'b",
        "\\\\server\\share\nUNC",
    ]

    def _insert_values(self, spark, dialect):
        payload = StructType(
            [StructField("id", IntegerType()), StructField("v", StringType())]
        )
        env_schema = StructType(
            [
                StructField("op", StringType()),
                StructField("before", payload),
                StructField("after", payload),
                StructField("source", SOURCE),
            ]
        )
        rows = [
            ("c", None, (i, v), ("f1", i, "db1", "t"))
            for i, v in enumerate(self.CORPUS)
        ]
        meta = table_meta_from_schema("s", "t", payload, ["id"], dialect)
        df = dml_statements(
            spark.createDataFrame(rows, env_schema), meta, dialect=dialect
        )
        return [r.sql for r in df.orderBy("source.pos").collect()]

    def test_opengauss_literals_roundtrip_through_sql_engine(self, spark):
        import duckdb

        stmts = self._insert_values(spark, "opengauss")
        con = duckdb.connect()
        con.execute('create schema s; create table s."t" (id int, v text)')
        for s in stmts:
            assert "\n" not in s and "\r" not in s  # single-line transport
            con.execute(s)
        got = dict(con.execute('select id, v from s."t"').fetchall())
        assert got == dict(enumerate(self.CORPUS))

    @staticmethod
    def _mysql_unescape(literal: str) -> str:
        """MySQL's default-mode string literal decoding (the server side of
        the contract; backslash escape table from the public manual)."""
        assert literal[0] == "'" and literal[-1] == "'"
        body = literal[1:-1]
        out, i = [], 0
        table = {"n": "\n", "r": "\r", "t": "\t", "0": "\x00", "Z": "\x1a",
                 "\\": "\\", "'": "'", '"': '"', "b": "\b"}
        while i < len(body):
            ch = body[i]
            if ch == "\\" and i + 1 < len(body):
                nxt = body[i + 1]
                out.append(table.get(nxt, nxt))
                i += 2
            elif ch == "'" and i + 1 < len(body) and body[i + 1] == "'":
                out.append("'")
                i += 2
            else:
                assert ch != "'", f"unescaped quote inside literal: {literal!r}"
                out.append(ch)
                i += 1
        return "".join(out)

    def test_mysql_literals_roundtrip_through_unescape_rules(self, spark):
        stmts = self._insert_values(spark, "mysql")
        corpus = self.CORPUS + ["nul\x00byte", "ctrl-Z\x1a"]
        stmts += self._insert_values_extra_mysql(spark, corpus[len(self.CORPUS):])
        for s, original in zip(stmts, corpus):
            assert "\n" not in s and "\r" not in s
            prefix = "insert into `s`.`t` values("
            assert s.startswith(prefix) and s.endswith(");")
            literal = s[len(prefix):-2].split(", ", 1)[1]
            assert self._mysql_unescape(literal) == original

    def _insert_values_extra_mysql(self, spark, values):
        payload = StructType(
            [StructField("id", IntegerType()), StructField("v", StringType())]
        )
        env_schema = StructType(
            [
                StructField("op", StringType()),
                StructField("before", payload),
                StructField("after", payload),
                StructField("source", SOURCE),
            ]
        )
        rows = [
            ("c", None, (i, v), ("f1", i, "db1", "t"))
            for i, v in enumerate(values)
        ]
        meta = table_meta_from_schema("s", "t", payload, ["id"], "mysql")
        df = dml_statements(
            spark.createDataFrame(rows, env_schema), meta, dialect="mysql"
        )
        return [r.sql for r in df.orderBy("source.pos").collect()]


class TestStatementStreamMulti:
    """Mixed-table wire batch → one statement stream: per-table routing
    (TableReplayTask.java:401-426), include-list drops, cross-table
    transactions wrapping ONCE, and a DuckDB apply across both tables."""

    def _wire(self, spark):
        from debezium_spark.streaming.multi import WIRE_SCHEMA

        def src(pos, db, tbl):
            return ("f1", pos, f"gtid:{pos}", None, db, tbl, pos * 10)

        rows = [
            # tx-a spans BOTH tables: wrappers must bound pos 1..3
            ('{"repo":null}', '{"repo":"r1","path":"a.py","commit":"c1","lang":"py","content":"v1"}',
             "c", 10, src(1, "db1", "files"), ("tx-a", 0, 0)),
            ('{"id":null}', '{"id":7,"label":"x"}',
             "c", 20, src(2, "db1", "tags"), ("tx-a", 1, 0)),
            (None, '{"repo":"r2","path":"b.py","commit":"c2","lang":"py","content":"v2"}',
             "c", 30, src(3, "db1", "files"), ("tx-a", 2, 0)),
            # DDL at its offset (translated once, any table)
            (None, '{"content":"alter table `db1`.`files` add note int"}',
             "l", 40, src(4, "db1", "files"), None),
            # unregistered table: dropped (include-list semantics)
            (None, '{"k":1}', "c", 50, src(5, "db1", "ghost"), ("tx-b", 0, 0)),
            # tx-b continues on a registered table
            ('{"id":7,"label":"x"}', '{"id":7,"label":"y"}',
             "u", 60, src(6, "db1", "tags"), ("tx-b", 1, 0)),
            # autocommit delete on files
            ('{"repo":"r1","path":"a.py","commit":"c1","lang":"py","content":"v1"}',
             None, "d", 70, src(7, "db1", "files"), None),
        ]
        return spark.createDataFrame(rows, WIRE_SCHEMA)

    def _specs(self):
        from debezium_spark.streaming.multi import TableSpec

        files_schema = StructType(
            [
                StructField("repo", StringType()),
                StructField("path", StringType()),
                StructField("commit", StringType()),
                StructField("lang", StringType()),
                StructField("content", StringType()),
            ]
        )
        tags_schema = StructType(
            [
                StructField("id", IntegerType()),
                StructField("label", StringType()),
            ]
        )
        return [
            TableSpec("db1", "files", files_schema, ["repo", "path"]),
            TableSpec("db1", "tags", tags_schema, ["id"]),
        ]

    #: the transaction-parallel channel's statements in replay order
    TX_PARALLEL_STMTS = [
        "begin;",
        'insert into "sink1"."files" values (\'r1\', \'a.py\', \'c1\', \'py\', \'v1\');',
        'insert into "sink1"."tags" values (7, \'x\');',
        'insert into "sink1"."files" values (\'r2\', \'b.py\', \'c2\', \'py\', \'v2\');',
        "commit;",
        "set current_schema to sink1;",
        "alter table `files` add note int",
        # tx-b: the ghost-table row is dropped, so the wrapper bounds
        # shrink to the surviving statement at pos 6
        "begin;",
        'update "sink1"."tags" set "id" = 7, "label" = \'y\' where "id" = 7;',
        "commit;",
        'delete from "sink1"."files" where "repo" = \'r1\' and "path" = \'a.py\';',
    ]

    def _tx_parallel(self, spark):
        from debezium_spark.sink import channel_statements

        return channel_statements(
            self._wire(spark), self._specs(), {"db1": "sink1"},
            tx_parallel=True,
        ).orderBy("file", "pos", "sub", "seq")

    def test_routing_order_and_cross_table_tx(self, spark):
        rows = self._tx_parallel(spark).collect()
        assert {r.channel for r in rows} == {"all"}
        stmts = [r.stmt for r in rows]
        assert stmts == self.TX_PARALLEL_STMTS
        # cross-table tx-a wraps exactly once
        assert stmts.count("begin;") == 2

    def test_duckdb_apply_two_tables(self, spark):
        import duckdb

        stmts = [r.stmt for r in self._tx_parallel(spark).collect()]

        con = duckdb.connect()
        con.execute("create schema sink1")
        con.execute(
            'create table sink1.files (repo varchar, path varchar, '
            '"commit" varchar, lang varchar, content varchar)'
        )
        con.execute("create table sink1.tags (id int, label varchar)")
        for s in stmts:
            if s.startswith("set current_schema") or s.startswith("alter table `"):
                continue  # openGauss-dialect DDL; DML is the contract here
            con.execute(s)
        assert con.execute(
            "select repo, path from sink1.files order by repo"
        ).fetchall() == [("r2", "b.py")]
        assert con.execute("select id, label from sink1.tags").fetchall() == [(7, "y")]


class TestWriteStatementStreams:
    """The single-job multi-channel writer: each channel's part files equal
    the rows channel_statements builds for that channel in replay order,
    O(1) Spark jobs in the channel count, per-channel idempotent
    redelivery, empty-channel receipts."""

    @staticmethod
    def _channel_lines(root, cid, batch="batch-000000"):
        import os as _os

        d = _os.path.join(root, cid, batch)
        parts = sorted(
            p for p in _os.listdir(d)
            if p.startswith("part-") and not p.endswith(".crc")
        )
        out = []
        for p in parts:
            with open(_os.path.join(d, p)) as f:
                out += [ln.rstrip("\n") for ln in f if ln.strip()]
        return out

    def test_matches_per_channel_writer_and_uses_one_write_job(
        self, spark, tmp_path
    ):
        import json as _json
        import os as _os

        from debezium_spark.sink import (
            channel_statements,
            write_statement_streams,
        )

        multi = TestStatementStreamMulti()
        wire, specs = multi._wire(spark), multi._specs()
        # reference output: channel_statements' rows per channel in order
        ref: dict[str, list[str]] = {}
        for r in sorted(
            channel_statements(wire, specs, {"db1": "sink1"}).collect(),
            key=lambda r: (r.file, r.pos, r.sub, r.seq),
        ):
            ref.setdefault(r.channel, []).append(r.stmt)

        # single-action writer: job count must not grow with channel width
        # (AQE stage materialization + range sampling cost a few fixed jobs)
        from debezium_spark.streaming.multi import TableSpec

        num_jobs = lambda: spark._jsc.sc().dagScheduler().numTotalJobs()  # noqa: E731
        got_root = str(tmp_path / "got")
        j0 = num_jobs()
        counts = write_statement_streams(
            wire, specs, got_root, batch_id=0, schema_mapping={"db1": "sink1"}
        )
        jobs_2ch = num_jobs() - j0

        wide_specs = specs + [
            TableSpec("db1", f"w{i}", specs[1].payload_schema, ["id"])
            for i in range(10)
        ]
        j0 = num_jobs()
        write_statement_streams(
            wire, wide_specs, str(tmp_path / "wide"), batch_id=0,
            schema_mapping={"db1": "sink1"},
        )
        jobs_12ch = num_jobs() - j0
        assert jobs_12ch <= jobs_2ch + 2, (
            f"write jobs grew with channels: {jobs_2ch} @2ch → {jobs_12ch} "
            "@12ch (want O(1) in channel count)"
        )

        assert set(counts) == {(s.db, s.table) for s in specs}
        for (db, tbl) in counts:
            cid = f"{db}.{tbl}"
            want = ref[cid]
            got = self._channel_lines(got_root, cid)
            assert got == want, f"channel {cid} diverged"
            with open(_os.path.join(got_root, cid, "batch-000000", "_done")) as f:
                receipt = _json.load(f)
            assert receipt["statements"] == len(want)
            assert counts[(db, tbl)] == len(want)

        # redelivery: every receipt present → nothing rewritten, zeros back
        again = write_statement_streams(
            wire, specs, got_root, batch_id=0, schema_mapping={"db1": "sink1"}
        )
        assert set(again.values()) == {0}

    def test_empty_channel_gets_a_zero_receipt_and_applies_cleanly(
        self, spark, tmp_path
    ):
        import os as _os

        from debezium_spark.sink import (
            apply_statement_stream,
            write_statement_streams,
        )
        from debezium_spark.streaming.multi import TableSpec

        multi = TestStatementStreamMulti()
        specs = multi._specs() + [
            TableSpec("db1", "silent", multi._specs()[1].payload_schema, ["id"])
        ]
        root = str(tmp_path / "out")
        counts = write_statement_streams(
            multi._wire(spark), specs, root, batch_id=0,
            schema_mapping={"db1": "sink1"},
        )
        assert counts[("db1", "silent")] == 0
        batch = _os.path.join(root, "db1.silent", "batch-000000")
        assert _os.path.exists(_os.path.join(batch, "_done"))
        executed = []
        assert apply_statement_stream(batch, executed.append) == (0, 0)
        assert executed == []


class TestSinkConfig:
    """Property-file boundary for the sink: schema.mappings format
    (README.md:316), provide.transaction.metadata mode selection
    (README.md:199 — true = tx-parallel whole-tx stream, false = the
    table-parallel default), fail.sql.path, thread caps, breakpoint."""

    def test_from_properties_parses_the_reference_keys(self):
        from debezium_spark.sink import SinkConfig

        cfg = SinkConfig.from_properties({
            "schema.mappings": "mysql_db1:og_schema1;mysql_db2:og_schema2",
            "provide.transaction.metadata": "true",
            "fail.sql.path": "/var/log/fail.sql",
            "max.thread.count": "50",
            "record.breakpoint.table": "sink_breakpoint",
            "record.breakpoint.kafka.topic": "bp-topic",  # transport key
        })
        assert cfg.schema_mappings == {
            "mysql_db1": "og_schema1", "mysql_db2": "og_schema2"
        }
        assert cfg.tx_parallel is True
        assert cfg.fail_sql_path == "/var/log/fail.sql"
        assert cfg.max_threads == 50
        assert cfg.breakpoint_table == "sink_breakpoint"
        # unknown / transport keys survive in extras, never rejected
        assert cfg.extras == {"record.breakpoint.kafka.topic": "bp-topic"}

    def test_malformed_mapping_and_zero_threads_raise(self):
        import pytest as _pytest

        from debezium_spark.sink import SinkConfig

        with _pytest.raises(ValueError, match="schema.mappings"):
            SinkConfig.from_properties({"schema.mappings": "no-colon-here"})
        with _pytest.raises(ValueError, match="positive"):
            SinkConfig.from_properties({"max.thread.count": "0"})

    def test_mode_selection_routes_to_the_matching_stream_builder(
        self, spark, tmp_path
    ):
        from debezium_spark.sink import SinkConfig, write_statement_streams

        multi = TestStatementStreamMulti()
        wire, specs = multi._wire(spark), multi._specs()
        props = {"schema.mappings": "db1:sink1"}

        def write(cfg, root):
            return write_statement_streams(
                wire, specs, str(root), batch_id=0,
                schema_mapping=cfg.schema_mappings, dialect=cfg.dialect,
                tx_parallel=cfg.tx_parallel,
            )

        # default: table-parallel (provide.transaction.metadata=false)
        table_mode = write(SinkConfig.from_properties(props), tmp_path / "t")
        assert set(table_mode) == {("db1", "files"), ("db1", "tags")}

        # tx-parallel: one whole-tx channel under all/, identical to the
        # transaction-parallel stream
        tx_mode = write(
            SinkConfig.from_properties(
                {**props, "provide.transaction.metadata": "true"}
            ),
            tmp_path / "x",
        )
        assert set(tx_mode) == {("", "")}
        got = TestWriteStatementStreams._channel_lines(
            str(tmp_path / "x"), "all"
        )
        assert got == TestStatementStreamMulti.TX_PARALLEL_STMTS
        assert tx_mode[("", "")] == len(got)


class TestApplyStatementStream:
    """The sink apply loop — ``WorkThread.replayTransaction`` /
    ``executeTxnSql`` (``sink/replay/transaction/WorkThread.java:148-216``):
    whole-transaction apply, rollback + fail-SQL diversion on first failure,
    per-transaction success/fail counts, breakpoint-skip on redelivery."""

    @staticmethod
    def _write_batch(tmp_path, lines, name="batch-000000", receipt=True):
        import json as _json

        batch = tmp_path / name
        batch.mkdir(parents=True)
        (batch / "part-00000").write_text("\n".join(lines) + "\n")
        if receipt:  # the writer's commit receipt, required by the apply loop
            (batch / "_done").write_text(
                _json.dumps({"batch_id": 0, "statements": len(lines)})
            )
        return str(batch)

    @staticmethod
    def _target():
        import duckdb

        con = duckdb.connect()
        con.execute("create table t (id integer primary key, v varchar)")
        return con

    def test_failing_tx_rolls_back_diverts_and_replay_continues(self, tmp_path):
        from debezium_spark.sink import apply_statement_stream

        con = self._target()
        batch = self._write_batch(
            tmp_path,
            [
                "begin;",
                "insert into t values (1, 'a');",
                "insert into t values (2, 'b');",
                "commit;",
                "begin;",
                "insert into t values (3, 'c');",
                "insert into t values (1, 'dup');",  # PK violation
                "insert into t values (4, 'd');",
                "commit;",
                "insert into t values (5, 'e');",
            ],
        )
        fail_sql = str(tmp_path / "fail.sql")
        success, fail = apply_statement_stream(
            batch, con.execute, fail_sql_path=fail_sql,
            locator="mysql-sink", now=lambda: "2026-01-01 00:00:00",
        )
        assert (success, fail) == (2, 1)
        # the failed transaction is WHOLE: row 3 rolled back with the dup
        assert con.execute("select id from t order by id").fetchall() == [
            (1,), (2,), (5,)
        ]
        block = open(fail_sql).read().splitlines()
        assert block[0] == "-- 2026-01-01 00:00:00: mysql-sink unit 1 (3 statements)"
        assert block[1].startswith("--")  # the engine's error message
        assert block[2:5] == [
            "insert into t values (3, 'c');",
            "insert into t values (1, 'dup');",
            "insert into t values (4, 'd');",
        ]
        assert block[5] == ""

    def test_autocommit_failure_diverts_and_continues(self, tmp_path):
        from debezium_spark.sink import apply_statement_stream

        con = self._target()
        batch = self._write_batch(
            tmp_path,
            [
                "insert into t values (1, 'a');",
                "insert into t values (1, 'dup');",
                "insert into t values (2, 'b');",
            ],
        )
        success, fail = apply_statement_stream(batch, con.execute)
        assert (success, fail) == (2, 1)
        assert con.execute("select count(*) from t").fetchone() == (2,)
        # default fail.sql lands next to the batch dir (fail.sql.path default)
        assert "dup" in open(tmp_path / "fail.sql").read()

    def test_redelivery_skips_via_applied_marker(self, tmp_path):
        from debezium_spark.sink import apply_statement_stream

        con = self._target()
        batch = self._write_batch(tmp_path, ["insert into t values (1, 'a');"])
        assert apply_statement_stream(batch, con.execute) == (1, 0)
        # second delivery: recorded counts, no re-execution
        assert apply_statement_stream(batch, con.execute) == (1, 0)
        assert con.execute("select count(*) from t").fetchone() == (1,)

    def test_truncated_stream_raises_and_withholds_marker(self, tmp_path):
        import os as _os

        import pytest as _pytest

        from debezium_spark.sink import apply_statement_stream

        con = self._target()
        batch = self._write_batch(
            tmp_path, ["begin;", "insert into t values (1, 'a');"]
        )
        with _pytest.raises(ValueError, match="without a matching commit"):
            apply_statement_stream(batch, con.execute)
        assert not _os.path.exists(_os.path.join(batch, "_applied"))

    def test_failed_begin_does_not_issue_rollback(self, tmp_path):
        from debezium_spark.sink import apply_statement_stream

        issued = []

        def execute(sql):
            issued.append(sql)
            if sql == "begin;":
                raise RuntimeError("session gone")

        batch = self._write_batch(
            tmp_path, ["begin;", "insert into t values (1, 'a');", "commit;"]
        )
        success, fail = apply_statement_stream(batch, execute)
        assert (success, fail) == (0, 1)
        assert issued == ["begin;"]  # no statements, no rollback on a dead begin

    def test_engine_written_batch_applies_end_to_end(self, spark, tmp_path):
        """write_statement_stream output → apply_statement_stream → DuckDB:
        the full generate→write→apply pipeline on a real stream, with the
        tx wrappers produced by the writer itself."""
        import duckdb

        from debezium_spark.sink import apply_statement_stream

        meta = table_meta_from_schema("sink1", "widgets", PAYLOAD, ["id"])
        env = TestStatementStream()._stream_df(spark)
        stream = statement_stream(env, meta, {"db1": "sink1"})
        out_dir = str(tmp_path / "stmts")
        write_statement_stream(stream, out_dir, batch_id=0, files_per_channel=2)

        con = duckdb.connect()
        con.execute("create schema sink1")
        con.execute(
            "create table sink1.widgets (id integer, name varchar, "
            "blob blob, amt decimal(12,3), d date, ts timestamp)"
        )
        # the mid-stream DDL lines target openGauss; shim the two
        # dialect-specific statements for the DuckDB harness
        def execute(sql):
            if sql.startswith("set current_schema"):
                return con.execute("set schema = 'sink1'")
            return con.execute(sql.replace("`", '"'))

        batch = os.path.join(out_dir, "batch-000000")
        success, fail = apply_statement_stream(batch, execute)
        assert (success, fail) == (4, 0)  # tx1, ddl prelude, ddl, tx2
        assert con.execute(
            "select count(*) from sink1.widgets"
        ).fetchone() == (0,)  # create+update then delete → empty
        assert [r[0] for r in con.execute(
            "select column_name from information_schema.columns "
            "where table_name = 'widgets' order by ordinal_position"
        ).fetchall()] == ["id", "name", "blob", "amt", "d", "ts", "c"]

    def test_per_table_streams_route_wrap_and_match_unified_state(
        self, spark, tmp_path
    ):
        """Table-parallel mode (TableReplayTask, provide.transaction.
        metadata=false — the reference's published-throughput config): one
        order-safe channel per table, cross-table transactions re-wrapped
        per fragment, DDL routed to its own table's channel, and the final
        DuckDB state identical to the unified whole-tx stream."""
        import duckdb

        from debezium_spark.sink import (
            apply_statement_stream,
            write_statement_streams,
        )

        multi = TestStatementStreamMulti()
        root = str(tmp_path / "out")
        counts = write_statement_streams(
            multi._wire(spark), multi._specs(), root, batch_id=0,
            schema_mapping={"db1": "sink1"}, files_per_channel=2,
        )
        assert set(counts) == {("db1", "files"), ("db1", "tags")}

        files = TestWriteStatementStreams._channel_lines(root, "db1.files")
        # tx-a's files fragment wraps pos 1..3; the tags insert at pos 2 is
        # NOT in this channel (per-table fragment, not the whole tx)
        assert files == [
            "begin;",
            'insert into "sink1"."files" values (\'r1\', \'a.py\', \'c1\', \'py\', \'v1\');',
            'insert into "sink1"."files" values (\'r2\', \'b.py\', \'c2\', \'py\', \'v2\');',
            "commit;",
            "set current_schema to sink1;",
            "alter table `files` add note int",
            'delete from "sink1"."files" where "repo" = \'r1\' and "path" = \'a.py\';',
        ]
        tags = TestWriteStatementStreams._channel_lines(root, "db1.tags")
        assert tags == [
            "begin;",
            'insert into "sink1"."tags" values (7, \'x\');',
            "commit;",
            "begin;",
            'update "sink1"."tags" set "id" = 7, "label" = \'y\' where "id" = 7;',
            "commit;",
        ]

        # apply each channel's batch — the final state matches the
        # unified stream's DuckDB apply
        con = duckdb.connect()
        con.execute("create schema sink1")
        con.execute(
            'create table sink1.files (repo varchar, path varchar, '
            '"commit" varchar, lang varchar, content varchar)'
        )
        con.execute("create table sink1.tags (id int, label varchar)")

        def execute(sql):
            if sql.startswith("set current_schema"):
                return con.execute("set schema = 'sink1'")
            return con.execute(sql.replace("`", '"'))

        for db, tbl in sorted(counts):
            s, f = apply_statement_stream(
                os.path.join(root, f"{db}.{tbl}", "batch-000000"), execute
            )
            assert f == 0
        assert con.execute(
            "select repo, path from sink1.files order by repo"
        ).fetchall() == [("r2", "b.py")]
        assert con.execute("select id, label from sink1.tags").fetchall() == [
            (7, "y")
        ]

    def test_mid_batch_crash_resumes_from_progress_breakpoint(self, tmp_path):
        """A crash mid-apply must NOT re-execute the applied prefix on
        redelivery: re-applied plain INSERTs would collide on their PKs and
        divert already-committed transactions to fail.sql. The ``_progress``
        breakpoint (``BreakPointRecord.java`` per-transaction cadence)
        resumes at the first unapplied unit."""
        import os as _os

        import pytest as _pytest

        from debezium_spark.sink import apply_statement_stream

        con = self._target()
        batch = self._write_batch(
            tmp_path,
            [
                "begin;",
                "insert into t values (1, 'a');",
                "commit;",
                "insert into t values (2, 'b');",
                "insert into t values (3, 'c');",
            ],
        )

        class Crash(BaseException):  # escapes the `except Exception` net
            pass

        applied = []

        def crashy(sql):
            if "values (3" in sql:
                raise Crash("power cut")
            applied.append(sql)
            return con.execute(sql)

        with _pytest.raises(Crash):
            apply_statement_stream(batch, crashy)
        assert not _os.path.exists(_os.path.join(batch, "_applied"))
        with open(_os.path.join(batch, "_progress")) as f:
            import json as _json

            rec = _json.load(f)
        assert rec == {"next_unit": 2, "success": 2, "fail": 0}

        # redelivery with a healthy session: units 0–1 are NOT re-executed
        # (no PK collisions, nothing lands in fail.sql), unit 2 applies
        executed = []

        def healthy(sql):
            executed.append(sql)
            return con.execute(sql)

        success, fail = apply_statement_stream(batch, healthy)
        assert (success, fail) == (3, 0)
        assert executed == ["insert into t values (3, 'c');"]
        assert con.execute("select id from t order by id").fetchall() == [
            (1,), (2,), (3,)
        ]
        assert not (tmp_path / "fail.sql").exists()
        # the breakpoint retires into the _applied marker
        assert not _os.path.exists(_os.path.join(batch, "_progress"))
        assert apply_statement_stream(batch, healthy) == (3, 0)
        assert executed == ["insert into t values (3, 'c');"]

    def test_done_receipt_catches_lost_part_file_before_any_apply(
        self, tmp_path
    ):
        """A lost part file (tail OR middle) is invisible to the
        begin;/commit; pairing check — the writer's ``_done`` statement
        count catches it BEFORE anything executes, so post-gap statements
        never run out of order and the positional ``_progress`` fence never
        indexes the wrong units."""
        import json as _json
        import os as _os

        import pytest as _pytest

        from debezium_spark.sink import apply_statement_stream

        con = self._target()
        batch = self._write_batch(
            tmp_path,
            ["insert into t values (1, 'a');", "insert into t values (2, 'b');"],
            receipt=False,
        )
        # the writer recorded 3 statements; one part-file line was lost
        with open(_os.path.join(batch, "_done"), "w") as f:
            _json.dump({"batch_id": 0, "statements": 3}, f)

        with _pytest.raises(ValueError, match="lost or truncated"):
            apply_statement_stream(batch, con.execute)
        # NOTHING was applied or fenced — the check precedes the loop
        assert not _os.path.exists(_os.path.join(batch, "_applied"))
        assert not _os.path.exists(_os.path.join(batch, "_progress"))
        assert con.execute("select count(*) from t").fetchone() == (0,)

        # repair: restore the lost line, redelivery applies the whole batch
        with open(_os.path.join(batch, "part-00001"), "w") as f:
            f.write("insert into t values (9, 'z');\n")
        assert apply_statement_stream(batch, con.execute) == (3, 0)
        assert con.execute("select count(*) from t").fetchone() == (3,)

    def test_breakpoint_table_is_atomic_with_the_unit_commit(self, tmp_path):
        """The FILE breakpoint's documented window: a crash after a unit's
        ``commit;`` but before the progress write silently re-applies
        non-idempotent DML on a PK-less table. ``breakpoint_table`` commits
        the marker row INSIDE the same transaction (BreakPointRecord), so
        resume skips exactly the committed units — n increments once per
        unit regardless of where the crash lands."""
        import duckdb as _duckdb
        import pytest as _pytest

        from debezium_spark.sink import apply_statement_stream

        db = str(tmp_path / "t.db")
        con = _duckdb.connect(db)
        con.execute("create table t (n int)")  # no PK: duplication is silent
        con.execute("insert into t values (0)")

        batch = self._write_batch(
            tmp_path, ["update t set n = n + 1;"] * 3
        )

        class Crash(BaseException):
            pass

        state = {"commits": 0}

        def crashy(sql):
            r = con.execute(sql)  # the statement REALLY runs first
            if sql == "commit;":
                state["commits"] += 1
                if state["commits"] == 2:  # crash right after unit 1 commits
                    raise Crash("power cut after commit, before any marker")
            return r

        with _pytest.raises(Crash):
            apply_statement_stream(batch, crashy, breakpoint_table="bp")
        con.close()

        # the process died; resume on a fresh session — units 0 and 1 are
        # fenced IN the database, so only unit 2 applies
        con = _duckdb.connect(db)
        assert apply_statement_stream(
            batch, con.execute, breakpoint_table="bp"
        ) == (3, 0)
        assert con.execute("select n from t").fetchone() == (3,)
        # the marker rows are exactly one per unit
        assert con.execute(
            "select unit, ok from bp order by unit"
        ).fetchall() == [(0, 1), (1, 1), (2, 1)]
        con.close()

    def test_breakpoint_table_records_diverted_units(self, tmp_path):
        """A diverted (failed) unit records ok=0 in its own autocommit
        after the rollback; resume reconstructs BOTH counts from the
        database and never re-diverts (one fail.sql block total)."""
        import duckdb as _duckdb
        import pytest as _pytest

        from debezium_spark.sink import apply_statement_stream

        db = str(tmp_path / "t.db")
        con = _duckdb.connect(db)
        con.execute("create table t (id integer primary key, v varchar)")

        batch = self._write_batch(
            tmp_path,
            [
                "insert into t values (1, 'a');",
                "insert into nowhere values (1);",  # diverted unit 1
                "insert into t values (2, 'b');",
                "insert into t values (3, 'c');",
            ],
        )

        class Crash(BaseException):
            pass

        state = {"commits": 0}

        def crashy(sql):
            r = con.execute(sql)
            if sql == "commit;":
                state["commits"] += 1
                if state["commits"] == 2:  # right after unit 2 commits
                    raise Crash("gone")
            return r

        fail_sql = str(tmp_path / "fail.sql")
        with _pytest.raises(Crash):
            apply_statement_stream(
                batch, crashy, fail_sql_path=fail_sql, breakpoint_table="bp"
            )
        con.close()

        con = _duckdb.connect(db)
        assert apply_statement_stream(
            batch, con.execute, fail_sql_path=fail_sql, breakpoint_table="bp"
        ) == (3, 1)
        assert con.execute("select id from t order by id").fetchall() == [
            (1,), (2,), (3,)
        ]
        # the diverted unit was NOT retried on resume: one statement line
        # in fail.sql (the error message also names the table, so count the
        # exact statement, not the substring)
        assert open(fail_sql).read().count("insert into nowhere values (1);") == 1
        assert con.execute(
            "select unit, ok from bp order by unit"
        ).fetchall() == [(0, 1), (1, 0), (2, 1), (3, 1)]
        con.close()

    def test_missing_receipt_refuses_to_apply(self, tmp_path):
        """A batch directory without the writer's ``_done`` receipt was
        never committed (crash mid-write, or the one-statement-per-line
        guard withheld it) — the apply loop refuses it by default;
        ``require_receipt=False`` opts hand-built directories back in."""
        import os as _os

        import pytest as _pytest

        from debezium_spark.sink import apply_statement_stream

        con = self._target()
        batch = self._write_batch(
            tmp_path, ["insert into t values (1, 'a');"], receipt=False
        )
        with _pytest.raises(ValueError, match="no _done receipt"):
            apply_statement_stream(batch, con.execute)
        assert con.execute("select count(*) from t").fetchone() == (0,)
        assert not _os.path.exists(_os.path.join(batch, "_applied"))

        assert apply_statement_stream(
            batch, con.execute, require_receipt=False
        ) == (1, 0)
        assert con.execute("select count(*) from t").fetchone() == (1,)


class TestFinalReviewRegressions:
    """Final review r5: destructive-WHERE on a missing before image,
    multi-FK REFERENCES remap, identifier-embedded RENAME anchor, and the
    Spark partition-value escaping of statement-stream channel dirs."""

    MAP = {"db1": "sink1", "src1": "tgt1"}

    def test_update_without_before_image_keys_on_after(self, spark):
        # logical decoding without REPLICA IDENTITY FULL: before is null.
        # WHERE must come from the after image (PK invariant — PK-change
        # updates split into d+c upstream), NOT render '"id" is null and …'
        meta = table_meta_from_schema("src", "widgets", PAYLOAD, ["id"])
        row = (
            "u", None, (1, "y", None, None, None, None),
            ("f1", 1, "db1", "widgets"),
        )
        assert _sqls(dml_statements(_env(spark, [row]), meta)) == [
            'update "src"."widgets" set "id" = 1, "name" = \'y\','
            ' "blob" = null, "amt" = null, "d" = null, "ts" = null'
            ' where "id" = 1;'
        ]

    def test_update_and_delete_with_no_image_at_all_are_excluded(self, spark):
        # both images null: no identifying image exists — emitting the
        # template would target unrelated rows ('"id" is null and …');
        # such rows are excluded (the engine path quarantines them as
        # null_payload before statement generation)
        meta = table_meta_from_schema("src", "widgets", PAYLOAD, ["id"])
        rows = [
            ("u", None, None, ("f1", 1, "db1", "widgets")),
            ("d", None, None, ("f1", 2, "db1", "widgets")),
            ROW_C,
        ]
        got = _sqls(dml_statements(_env(spark, rows), meta))
        assert len(got) == 1 and got[0].startswith("insert into")

    def test_delete_without_before_image_keys_on_after(self, spark):
        meta = table_meta_from_schema("src", "widgets", PAYLOAD, ["id"])
        row = (
            "d", None, (3, None, None, None, None, None),
            ("f1", 1, "db1", "widgets"),
        )
        assert _sqls(dml_statements(_env(spark, [row]), meta)) == [
            'delete from "src"."widgets" where "id" = 3;'
        ]

    def test_every_foreign_key_clause_remaps(self):
        ddl = (
            "create table t (a int, b int, "
            "foreign key (a) references src1.p1(id), "
            "foreign key (b) references src1.p2(id))"
        )
        got = translate_ddl(ddl, "src1", "t", self.MAP)
        assert got == [
            "set current_schema to tgt1;",
            'create table t (a int, b int, '
            'foreign key (a) references "tgt1"."p1"(id), '
            'foreign key (b) references "tgt1"."p2"(id))',
        ]

    def test_second_foreign_key_unmapped_schema_skips_statement(self):
        ddl = (
            "create table t (a int, b int, "
            "foreign key (a) references src1.p1(id), "
            "foreign key (b) references nowhere.p2(id))"
        )
        assert translate_ddl(ddl, "src1", "t", self.MAP) == []

    def test_rename_with_schema_name_containing_rename(self):
        # low.index("rename") used to hit the identifier, leaving the
        # schema qualifier unstripped
        got = translate_ddl(
            "alter table renamedb.t rename to t2", "renamedb", "t",
            {"renamedb": "tgt"},
        )
        assert got == ["set current_schema to tgt;", "alter table t rename to t2"]

    def test_escaped_channel_name_survives_stream_writer(self, spark, tmp_path):
        # Spark percent-escapes partition-path values ('db:1' →
        # 'channel=db%3A1.…'); the writer must find the escaped dir, not
        # misread the channel as empty and delete the statements
        import os as _os

        from debezium_spark.sink import (
            apply_statement_stream,
            write_statement_streams,
        )
        from debezium_spark.streaming.multi import WIRE_SCHEMA, TableSpec

        rows = [
            (None, '{"id":1,"label":"x"}', "c", 10,
             ("f1", 1, None, None, "db:1", "tags", 10), None),
        ]
        wire = spark.createDataFrame(rows, WIRE_SCHEMA)
        schema = StructType(
            [StructField("id", IntegerType()), StructField("label", StringType())]
        )
        specs = [TableSpec("db:1", "tags", schema, ["id"])]
        root = str(tmp_path / "out")
        counts = write_statement_streams(
            wire, specs, root, batch_id=0, schema_mapping={"db:1": "sink1"}
        )
        assert counts[("db:1", "tags")] == 1
        batch = _os.path.join(root, "db:1.tags", "batch-000000")
        executed = []
        assert apply_statement_stream(batch, executed.append) == (1, 0)
        assert executed == [
            'insert into "sink1"."tags" values (1, \'x\');'
        ]
