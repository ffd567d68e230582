"""The correctness gate: an oracle computed without the engine.

DuckDB SQL over the generated envelope files takes the last write per key
by ``source.pos``, treats a PK-changing update as a delete of the old key
plus an insert of the new one, and drops deleted keys. Lake tables and
DuckDB sink targets are compared with it by row count plus two
order-independent hashes of every row (``bit_xor`` and a sum modulo a
prime; a plain ``sum(xxhash64)`` overflows under ANSI mode).
"""

from __future__ import annotations

PAYLOAD_COLS = ["repo", "path", "commit", "lang", "content"]
#: 2^31 - 1: a sum of up to 2^32 residues fits in a signed 64-bit long
PRIME = 2147483647


def oracle_sql(envelope_paths: list[str]) -> str:
    """Final state per (table, key) as rows ``tbl, repo, path, commit, lang,
    content``."""
    files = "[" + ", ".join(f"'{p}'" for p in envelope_paths) + "]"
    return f"""
    WITH ev AS (SELECT * FROM read_parquet({files})),
    writes AS (
      SELECT source."table" AS tbl, after.repo AS repo, after.path AS path,
             source.pos AS pos, 1 AS sub, FALSE AS del,
             after."commit" AS "commit", after.lang AS lang,
             after.content AS content
      FROM ev WHERE op IN ('c', 'u', 'r') AND after IS NOT NULL
      UNION ALL
      SELECT source."table", before.repo, before.path, source.pos, 0, TRUE,
             NULL, NULL, NULL
      FROM ev
      WHERE before IS NOT NULL AND (
        op = 'd' OR (op = 'u' AND (before.repo IS DISTINCT FROM after.repo
                                   OR before.path IS DISTINCT FROM after.path)))
    ),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY tbl, repo, path ORDER BY pos DESC, sub DESC) AS rn
      FROM writes
    )
    SELECT tbl, repo, path, "commit", lang, content
    FROM ranked WHERE rn = 1 AND NOT del
    """


def write_oracle(con, envelope_paths: list[str], out_path: str) -> None:
    con.execute(f"COPY ({oracle_sql(envelope_paths)}) TO '{out_path}' (FORMAT parquet)")


def digest_columns():
    """Spark aggregate columns: row count, xor of row hashes, sum of row
    hashes modulo ``PRIME``."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in PAYLOAD_COLS])
    return [
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(h).alias("xor"),
        F.sum(F.pmod(h, F.lit(PRIME))).alias("summod"),
    ]


def digest(df) -> tuple[int, int, int]:
    """(rows, xor, summod) of a DataFrame with the payload columns."""
    row = df.select(*PAYLOAD_COLS).agg(*digest_columns()).first()
    return int(row["rows"]), int(row["xor"] or 0), int(row["summod"] or 0)


def oracle_digests(spark, oracle_path: str) -> dict[str, tuple[int, int, int]]:
    """{table: digest} of the oracle's final state."""
    rows = (
        spark.read.parquet(oracle_path).groupBy("tbl").agg(*digest_columns())
        .collect()
    )
    return {r["tbl"]: (int(r["rows"]), int(r["xor"] or 0), int(r["summod"] or 0))
            for r in rows}
