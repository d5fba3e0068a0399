"""DuckDB oracle check for batch_iter results.

Each op's result (parquet written by the JVM) is compared with its
`SparkEntry.oracleSql` query replayed in DuckDB over the generated
tables: same columns, same column type classes, same row count and the
same value hash. The normalisation (cell formatting, type classes, hash)
is imported from `scripts/check.py`, which applies it to the engine's
Verify dumps.
"""
import os
import sys

import duckdb

# The normalisation is the one scripts/check.py applies, imported so that
# the two cannot drift apart.
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))
from check import TABLES, frame_hash, type_class  # noqa: E402


def _signature(rel):
    cols = [c.lower() for c in rel.columns]
    types = dict(zip(cols, (type_class(t) for t in rel.types)))
    rows = rel.fetchall()
    return sorted(types.items()), len(rows), frame_hash(rows, cols)


class Oracle:
    """Expected signatures, one DuckDB replay per query name."""

    def __init__(self, data_dir, oracle_sql):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self.sql = oracle_sql
        self.expected = {}

    def check(self, name, result_dir):
        """None when the result in `result_dir` matches; else a reason."""
        try:
            if name not in self.expected:
                self.expected[name] = _signature(self.con.sql(self.sql[name]))
            got = _signature(self.con.sql(
                f"SELECT * FROM '{result_dir}/*.parquet'"))
        except Exception as e:  # a broken result or oracle is a failed check
            return f"{name}: {e}"
        want = self.expected[name]
        if got[0] != want[0]:
            return f"{name}: columns {got[0]} != oracle {want[0]}"
        if got[1] != want[1]:
            return f"{name}: {got[1]} rows != oracle {want[1]}"
        if got[2] != want[2]:
            return f"{name}: value hash differs from the oracle"
        return None
