"""Order-insensitive result hashing and the DuckDB oracle.

A result is normalised by the engine's oracle sweep
(``tools/oracle_sweep.norm``: columns sorted by name, each cell
``repr``'d, rows sorted). Two results match when the SHA-256 of that
normal form is equal.
"""

from __future__ import annotations

import hashlib

from oracle_sweep import TABLES, norm


def result_hash(rows, cols) -> str:
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for row in norm(rows, cols):
        h.update(repr(row).encode())
    return h.hexdigest()


class Oracle:
    """DuckDB views over one generated table directory."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def hash(self, sql: str) -> tuple[str, int]:
        rel = self.con.sql(sql)
        cols = [c[0] for c in rel.description]
        rows = rel.fetchall()
        return result_hash(rows, cols), len(rows)

    def close(self) -> None:
        self.con.close()
