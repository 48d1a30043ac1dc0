"""Expected answers from DuckDB over the benchmark's source parquet.

Answers are canonicalized the way the engine's oracle gate
(`tools/check_oracle.py`) does it: columns sorted by name, every value
stringified as pandas does, rows sorted.
"""
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem"]


def _s(v):
    # Negative zero equals zero; the two engines round tiny negatives to
    # different signs of zero.
    s = str(v)
    return "0.0" if s == "-0.0" else s


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_s(row[i]) for i in order) for row in rows)


def canon_df(df):
    df = df[sorted(df.columns)].astype(str)
    return sorted(tuple(_s(v) for v in r) for r in df.itertuples(index=False))


class Oracle:
    def __init__(self, data_dir, views):
        self.data_dir = data_dir
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            self._view(t, t)
        for name, src in views.items():
            self._view(name, src)

    def _view(self, name, src):
        path = os.path.join(self.data_dir, f"{src}.parquet")
        if os.path.exists(path):
            self.con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{path}'")

    def answer(self, sql):
        return canon_df(self.con.sql(sql).df())

    def base_totals(self, table, col):
        return self.con.sql(
            f"SELECT count(*), CAST(sum(CAST(round({col} * 100) AS BIGINT)) "
            f"AS BIGINT) FROM {table}").fetchone()
