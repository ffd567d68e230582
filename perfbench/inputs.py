"""Deterministic workload inputs, made from the seed outside the clock.

Two generators, neither of which uses the engine:

- ``write_envelope_batches`` (DuckDB SQL): Debezium-envelope change events
  over the repo-file payload with log-uniform (zipf-like) hot repos, the
  op mix c 60% / u 25% / d 10% / u-with-PK-change 5%, and 10-event
  transactions. Like the package's own generator, ops are drawn per event,
  so an update may target a key that was never created (the lake upserts
  it) — the last-writer-wins oracle covers that.
- ``ConsistentStream`` (numpy): a mixed multi-table stream with a fixed
  share per table, whose every update and delete targets a live row and
  whose every insert targets an absent key, so a plain INSERT/UPDATE/DELETE
  sink applies it without conflicts. Its batches are written both as envelope parquet (for the
  oracle) and as binary wire frames encoded here, independently of
  ``debezium_spark.sources.wire``.
"""

from __future__ import annotations

import json
import os
import struct

import numpy as np

WORDS = [
    "def", "return", "class", "import", "for", "while", "if", "else",
    "merge", "spark", "batch", "stream", "offset", "commit", "table", "fence",
]
LANGS = ["py", "java", "c", "go", "rs", "md"]
TX_SIZE = 10


def tail_tx_start(n_events: int) -> int:
    """First event of the transaction that holds event ``n_events - 1``:
    an ordered-log consumer can commit everything before it."""
    return (n_events - 1) // TX_SIZE * TX_SIZE


# ---- envelope batches (DuckDB) -----------------------------------------------


def _envelope_sql(seed: int, start: int, n: int, shape: dict) -> str:
    """SELECT producing ``n`` envelope rows for global event ids
    ``start .. start+n-1``; every column is a hash of (seed, id, tag)."""
    def h(tag: str) -> str:
        return f"hash({int(seed)}::BIGINT, i, '{tag}')"

    def u01(tag: str) -> str:
        return f"(({h(tag)} % 1000000)::DOUBLE / 1000000.0)"

    n_repos = int(shape["n_repos"])
    words = "[" + ", ".join(f"'{w}'" for w in WORDS) + "]"
    langs = "[" + ", ".join(f"'{w}'" for w in LANGS) + "]"
    k = int(shape["content_words"])
    parts = []
    for w in range(k):
        word_hash = h(f"c{w // 16}")
        parts.append(f"{words}[(({word_hash} >> {4 * (w % 16)}) & 15)::INT + 1]")
    body = " || ' ' || ".join(parts)

    def path(tag: str) -> str:
        return (
            f"'src/d' || ({h(tag + '.dir')} % {int(shape['dirs'])})::VARCHAR"
            f" || '/f' || ({h(tag + '.file')} % {int(shape['files'])})::VARCHAR"
            f" || '.' || lang"
        )

    def payload(path_col: str, prev: bool) -> str:
        mark = "#v-prev" if prev else "#v"
        tag = ":prev:" if prev else ":"
        return (
            f"struct_pack(repo := repo, path := {path_col},"
            f" \"commit\" := md5('{int(seed)}{tag}' || i::VARCHAR),"
            f" lang := lang, content := body || ' {mark}' || i::VARCHAR)"
        )

    return f"""
    WITH base AS (
      SELECT i,
        {u01('op')} AS u_op,
        'repo_' || lpad(least(floor(pow({n_repos + 1}.0, {u01('repo')})),
                              {n_repos})::BIGINT::VARCHAR, 4, '0') AS repo,
        {langs}[({h('lang')} % 6)::INT + 1] AS lang,
        {body} AS body
      FROM range({int(start)}, {int(start) + int(n)}) t(i)
    ), ev AS (
      SELECT *,
        CASE WHEN u_op < 0.60 THEN 'c' WHEN u_op < 0.85 THEN 'u'
             WHEN u_op < 0.95 THEN 'd' ELSE 'u' END AS op,
        {path('a')} AS path_a,
        CASE WHEN u_op >= 0.95 THEN {path('b')} ELSE {path('a')} END AS path_b
      FROM base
    )
    SELECT
      CASE WHEN op <> 'c' THEN {payload('path_b', True)} END AS before,
      CASE WHEN op <> 'd' THEN {payload('path_a', False)} END AS after,
      op,
      1700000000000 + i * 10 AS ts_ms,
      struct_pack(file := 'binlog.000001', pos := i, gtid := 'gtid:' || i::VARCHAR,
                  snapshot := NULL::VARCHAR, db := 'inventory',
                  "table" := 'repo_files', ts_ms := 1700000000000 + i * 10) AS source,
      struct_pack(id := 'tx-' || (i // {TX_SIZE})::VARCHAR,
                  total_order := i % {TX_SIZE},
                  data_collection_order := i % {TX_SIZE}) AS transaction
    FROM ev ORDER BY i
    """


def write_envelope_batches(con, out_dir: str, seed: int, start: int,
                           sizes: list[int], shape: dict, parts: int = 1) -> list[str]:
    """Write consecutive batches ``batch_NNNNN.parquet`` (one file, or a
    directory of ``parts`` files when ``parts > 1``) and return their paths.
    Batch ``j`` holds events ``start + sum(sizes[:j]) ..``."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    pos = start
    for j, n in enumerate(sizes):
        path = os.path.join(out_dir, f"batch_{j:05d}.parquet")
        if parts == 1:
            con.execute(f"COPY ({_envelope_sql(seed, pos, n, shape)}) TO '{path}' (FORMAT parquet)")
        else:
            os.makedirs(path)
            per = -(-n // parts)
            for p in range(parts):
                lo, hi = pos + p * per, min(pos + n, pos + (p + 1) * per)
                if lo < hi:
                    part = os.path.join(path, f"part-{p:05d}.parquet")
                    con.execute(
                        f"COPY ({_envelope_sql(seed, lo, hi - lo, shape)}) TO '{part}' (FORMAT parquet)"
                    )
        paths.append(path)
        pos += n
    return paths


# ---- consistent multi-table stream (numpy) -----------------------------------------

#: frame layout of debezium_spark.sources.wire (v2), restated here
_MAGIC, _VERSION = ord("D"), 2
_NULL_I64 = -(1 << 63)
_NULL_U16, _NULL_U32 = 0xFFFF, 0xFFFFFFFF


def encode_frame(row: dict) -> bytes:
    """One envelope row → one v2 binary wire frame."""
    src, tx = row["source"], row["transaction"]
    longs = (src["pos"], row["ts_ms"], src["ts_ms"],
             tx["total_order"] if tx else None,
             tx["data_collection_order"] if tx else None)
    out = [struct.pack(">BB5q", _MAGIC, _VERSION,
                       *[_NULL_I64 if v is None else v for v in longs])]
    for s in (row["op"], src["file"], src["db"], src["table"], src["gtid"],
              src["snapshot"], tx["id"] if tx else None):
        if s is None:
            out.append(struct.pack(">H", _NULL_U16))
        else:
            b = s.encode("utf-8")
            out.append(struct.pack(">H", len(b)) + b)
    for img in (row["before"], row["after"]):
        if img is None:
            out.append(struct.pack(">I", _NULL_U32))
        else:
            b = json.dumps(img, separators=(",", ":")).encode("utf-8")
            out.append(struct.pack(">I", len(b)) + b)
    return b"".join(out)


class ConsistentStream:
    """Seeded multi-table change stream replayable by a plain SQL sink.

    Every event first picks its table uniformly, so each table's share of
    the stream is the same for every seed. Keys are (repo, path) and each
    table draws its repos from its own zipf-ranked set (``t<k>_repo_<rank>``),
    so a PK change (new path, same repo) never moves a key between tables
    and every table's history stays in one sink channel."""

    DB = "app"
    N_REPOS = 100
    CONTENT_WORDS = 16

    def __init__(self, seed: int, n_tables: int) -> None:
        self.rng = np.random.Generator(np.random.PCG64(seed))
        self.n_tables = n_tables
        self.live: dict[tuple[str, str], dict] = {}
        #: per table: its live keys, for uniform draws
        self.keys: list[list[tuple[str, str]]] = [[] for _ in range(n_tables)]
        self.slot: dict[tuple[str, str], int] = {}
        self.pos = 0

    @staticmethod
    def table_of(repo: str) -> str:
        return repo.split("_", 1)[0]

    def _new_key(self, table: int, repo: str | None = None) -> tuple[str, str]:
        while True:
            if repo is None:
                rank = min(int((self.N_REPOS + 1) ** self.rng.random()), self.N_REPOS)
                r = f"t{table}_repo_{rank:04d}"
            else:
                r = repo
            path = (f"src/d{self.rng.integers(50)}/f{self.rng.integers(100)}"
                    f".{LANGS[self.rng.integers(len(LANGS))]}")
            if (r, path) not in self.live:
                return r, path

    def _row(self, key: tuple[str, str]) -> dict:
        words = self.rng.integers(len(WORDS), size=self.CONTENT_WORDS)
        return {
            "repo": key[0], "path": key[1],
            "commit": f"{self.rng.integers(1 << 62):016x}{self.pos:08x}",
            "lang": key[1].rsplit(".", 1)[1],
            "content": " ".join(WORDS[w] for w in words) + f" #v{self.pos}",
        }

    def _add(self, table: int, key, row) -> None:
        self.live[key] = row
        self.slot[key] = len(self.keys[table])
        self.keys[table].append(key)

    def _remove(self, table: int, key) -> None:
        keys = self.keys[table]
        i = self.slot.pop(key)
        last = keys.pop()
        if last != key:
            keys[i] = last
            self.slot[last] = i
        del self.live[key]

    def events(self, n: int) -> list[dict]:
        out = []
        for _ in range(n):
            t = int(self.rng.integers(self.n_tables))
            keys = self.keys[t]
            u = self.rng.random()
            if not keys or u < 0.45:
                op, key = "c", self._new_key(t)
                before, after = None, self._row(key)
                self._add(t, key, after)
            else:
                key = keys[self.rng.integers(len(keys))]
                before = self.live[key]
                if u < 0.80:
                    op, after = "u", self._row(key)
                    self.live[key] = after
                elif u < 0.95:
                    op, after = "d", None
                    self._remove(t, key)
                else:  # PK change: same repo, new path
                    op = "u"
                    new_key = self._new_key(t, repo=key[0])
                    after = self._row(new_key)
                    self._remove(t, key)
                    self._add(t, new_key, after)
            ts = 1700000000000 + self.pos * 10
            out.append({
                "before": before, "after": after, "op": op, "ts_ms": ts,
                "source": {"file": "binlog.000001", "pos": self.pos,
                           "gtid": f"gtid:{self.pos}", "snapshot": None,
                           "db": self.DB, "table": f"t{t}", "ts_ms": ts},
                "transaction": {"id": f"tx-{self.pos // TX_SIZE}",
                                "total_order": self.pos % TX_SIZE,
                                "data_collection_order": self.pos % TX_SIZE},
            })
            self.pos += 1
        return out


def envelope_arrow_schema():
    import pyarrow as pa

    payload = pa.struct([(f, pa.string()) for f in
                         ("repo", "path", "commit", "lang", "content")])
    return pa.schema([
        ("before", payload), ("after", payload), ("op", pa.string()),
        ("ts_ms", pa.int64()),
        ("source", pa.struct([("file", pa.string()), ("pos", pa.int64()),
                              ("gtid", pa.string()), ("snapshot", pa.string()),
                              ("db", pa.string()), ("table", pa.string()),
                              ("ts_ms", pa.int64())])),
        ("transaction", pa.struct([("id", pa.string()),
                                   ("total_order", pa.int64()),
                                   ("data_collection_order", pa.int64())])),
    ])


def write_stream_batch(rows: list[dict], envelope_path: str, frames_dir: str,
                       parts: int) -> int:
    """Write one batch as envelope parquet (oracle input) and as a directory
    of ``parts`` frame files (engine and sink input); returns frame bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pylist(rows, schema=envelope_arrow_schema()),
                   envelope_path)
    os.makedirs(frames_dir)
    frames = [encode_frame(r) for r in rows]
    per = -(-len(frames) // parts)
    for p in range(parts):
        chunk = frames[p * per:(p + 1) * per]
        if chunk:
            pq.write_table(pa.table({"frame": pa.array(chunk, pa.binary())}),
                           os.path.join(frames_dir, f"part-{p:05d}.parquet"))
    return sum(len(f) for f in frames)
