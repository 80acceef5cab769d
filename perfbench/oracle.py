"""Correctness checks that do not trust the program under test.

The import oracle replays the CLI's semantics in DuckDB over the same
generated CSV and target: coercion to the target types (a non-empty cell
that does not parse makes its row invalid), last-in-file wins per key
with NULLs overwriting (the default duplicate mode, UPDATE_ALL_JOIN), then
UPSERT (update matched keys, insert the rest) or a keyless INSERT (append
every valid row).  Tables are compared by row count and an
order-insensitive hash.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from gen import LINEITEM_COLUMNS, LINEITEM_KEYS

_DUCK_TYPES = {
    "int64": "BIGINT",
    "int32": "INTEGER",
    "double": "DOUBLE",
    "string": "VARCHAR",
    "date32[day]": "DATE",
}
_COLS = [(n, _DUCK_TYPES[str(t)]) for n, t in LINEITEM_COLUMNS]


def _digest_sql(relation: str) -> str:
    cast = ", ".join(f"CAST({n} AS {t})" for n, t in _COLS)
    return f"SELECT count(*), sum(hash({cast})) FROM {relation}"


def table_digest(con: duckdb.DuckDBPyConnection, parquet_dir: str) -> tuple[int, int]:
    """(rows, hash) of a parquet table directory."""
    count, h = con.execute(_digest_sql(f"read_parquet('{parquet_dir}/*.parquet')")).fetchone()
    return int(count), int(h or 0)


def expected_import_digest(target_dir: str, csv_path: str, keyed: bool) -> tuple[int, int]:
    """(rows, hash) the imported table must have."""
    con = duckdb.connect()
    try:
        src = pd.read_csv(csv_path, sep=";", dtype=str, keep_default_na=False)
        src["__ord"] = range(len(src))
        con.register("src_raw", src)
        typed, bad = [], []
        for n, t in _COLS:
            cell = f"NULLIF({n}, '')"
            typed.append(f"TRY_CAST({cell} AS {t}) AS {n}")
            if t != "VARCHAR":
                bad.append(f"({cell} IS NOT NULL AND TRY_CAST({cell} AS {t}) IS NULL)")
        con.execute(
            f"CREATE TABLE src AS SELECT __ord, {', '.join(typed)} FROM src_raw "
            f"WHERE NOT ({' OR '.join(bad)})"
        )
        con.execute(f"CREATE TABLE tgt AS SELECT * FROM read_parquet('{target_dir}/*.parquet')")
        names = ", ".join(n for n, _ in _COLS)
        if keyed:
            keys = ", ".join(LINEITEM_KEYS)
            on = " AND ".join(f"t.{k} = s.{k}" for k in LINEITEM_KEYS)
            con.execute(
                f"""CREATE TABLE result AS
                WITH last AS (
                  SELECT * EXCLUDE (__rn) FROM (
                    SELECT *, row_number() OVER (PARTITION BY {keys} ORDER BY __ord DESC) AS __rn
                    FROM src) WHERE __rn = 1)
                SELECT {', '.join(f'CASE WHEN s.__ord IS NULL THEN t.{n} ELSE s.{n} END AS {n}' for n, _ in _COLS)}
                FROM tgt t LEFT JOIN last s ON {on}
                UNION ALL
                SELECT {names} FROM last s WHERE NOT EXISTS (SELECT 1 FROM tgt t WHERE {on})"""
            )
        else:
            con.execute(
                f"CREATE TABLE result AS SELECT {names} FROM tgt UNION ALL SELECT {names} FROM src"
            )
        count, h = con.execute(_digest_sql("result")).fetchone()
        return int(count), int(h or 0)
    finally:
        con.close()

