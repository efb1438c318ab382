"""Benchmark inputs: derived table sets and the DuckDB oracle answers.

Both are benchmark preparation. They run before set-up starts and are
not counted in any metric. The base tables are only read, never
modified.
"""

from __future__ import annotations

from pathlib import Path

import duckdb

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Key columns shifted per copy, grouped by the key space they share.
#: Copy i adds i × (max key + 1) of the key space, so the copies never
#: collide and every foreign key still finds its row in the same copy.
KEY_SPACES = {
    "orderkey": ("orders", "o_orderkey", ("orders.o_orderkey", "lineitem.l_orderkey")),
    "custkey": ("customer", "c_custkey", ("customer.c_custkey", "orders.o_custkey")),
    "partkey": ("part", "p_partkey", ("part.p_partkey", "lineitem.l_partkey")),
    "suppkey": ("supplier", "s_suppkey", ("supplier.s_suppkey", "lineitem.l_suppkey")),
    "event_id": ("events", "event_id", ("events.event_id",)),
    "user_id": ("events", "user_id", ("events.user_id",)),
}

#: Small dimension tables and the corpus tables are copied unchanged:
#: duplicating documents or vectors would change what the dedup and
#: vector-search queries find, not only how much they scan.
UNCHANGED = ("region", "nation", "documents", "embeddings")


def derive(base: Path, out: Path, copies: int, seed: int) -> None:
    """Write ``copies`` key-shifted copies of every base table to ``out``,
    rows ordered by a hash seeded with ``seed``."""
    out.mkdir(parents=True)
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        src = {t: f"read_parquet('{base / f'{t}.parquet'}')" for t in TABLES}
        shift: dict[str, str] = {}
        for table, col, users in KEY_SPACES.values():
            span = con.execute(f"SELECT max({col}) + 1 FROM {src[table]}").fetchone()[0]
            for user in users:
                shift[user] = str(span)
        for t in TABLES:
            cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src[t]}").fetchall()]
            if t in UNCHANGED:
                select, order = f"SELECT * FROM {src[t]}", ""
            else:
                exprs = [
                    f"{c} + k.i * {shift[f'{t}.{c}']} AS {c}" if f"{t}.{c}" in shift else c
                    for c in cols
                ]
                select = f"SELECT {', '.join(exprs)} FROM {src[t]}, range({copies}) AS k(i)"
                order = f" ORDER BY hash({', '.join(cols)}, k.i, {seed})"
            con.execute(f"COPY ({select}{order}) TO '{out / f'{t}.parquet'}' (FORMAT parquet)")
    finally:
        con.close()


def oracle_answers(sf_dir: Path, oracles: dict[str, str]) -> dict[str, tuple[list, list]]:
    """Run each query's DuckDB oracle on ``sf_dir``; returns
    ``{name: (columns, rows)}``, fetched through Arrow as
    ``tools/verify_local.py`` fetches them."""
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        for t in TABLES:
            p = sf_dir / f"{t}.parquet"
            if p.exists():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        out = {}
        for name, sql in oracles.items():
            at = con.execute(sql).arrow()
            cols = list(at.column_names)
            out[name] = (cols, [tuple(d[c] for c in cols) for d in at.to_pylist()])
        return out
    finally:
        con.close()
