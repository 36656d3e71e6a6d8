"""Output checks for one run.

Three kinds, matching the three sources of truth:
- oracle statements: the engine's result (dumped as parquet by the harness)
  against DuckDB on the same parquet files, with the comparison rules of the
  engine's correctness gate (columns sorted by name, rows sorted, cells
  compared as pandas renders them);
- battery statements: the declared (rows, cols) shape, where rows -1 means
  "at least one" and 0 means "none";
- ingest statements: the exact rows the harness's own writes must yield.

Every failure is returned by statement id; none is dropped.
"""
import hashlib
import json
import os

import duckdb
import pandas as pd

from datagen import TABLES


def canon(df):
    """Columns sorted by name, then rows sorted by every column."""
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def fingerprint(df):
    s = df.astype(str)
    s = s.mask(df.isna(), "<null>")
    return [list(row) for row in s.itertuples(index=False)]


class Oracle:
    """DuckDB over the benchmark tables. Answers are cached on disk, keyed
    by the data set's stamp and the statement text."""

    def __init__(self, data_dir, cache_dir):
        self.data_dir, self.cache_dir = data_dir, cache_dir
        with open(os.path.join(data_dir, "_GENERATED")) as f:
            self.stamp = f.read()
        self.con = None

    def answer(self, sql):
        key = hashlib.sha256(f"{self.stamp}\n{sql}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        if self.con is None:
            self.con = duckdb.connect()
            self.con.execute("SET threads TO 2")
            for t in TABLES:
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                 f"'{self.data_dir}/{t}.parquet'")
        w = canon(self.con.execute(sql).df())
        ans = {"columns": list(w.columns), "rows": fingerprint(w)}
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(ans, f)
        os.replace(path + ".tmp", path)
        return ans


def compare_dump(dump_dir, want):
    """None when the dumped engine result equals the oracle answer, else why."""
    parts = sorted(p for p in os.listdir(dump_dir) if p.endswith(".parquet"))
    g = pd.concat([pd.read_parquet(os.path.join(dump_dir, p)) for p in parts],
                  ignore_index=True)
    g = canon(g)
    if list(g.columns) != want["columns"]:
        return f"columns {list(g.columns)} != oracle {want['columns']}"
    got = fingerprint(g)
    if len(got) != len(want["rows"]):
        return f"{len(got)} rows != oracle {len(want['rows'])}"
    for a, b in zip(got, want["rows"]):
        if a != b:
            return f"row {a} != oracle {b}"
    return None


def check_shape(rec, shape):
    rows, cols = shape
    if rec["cols"] != cols:
        return f"{rec['cols']} columns, declared {cols}"
    n = rec["rows"]
    if (rows == -1 and n < 1) or (rows >= 0 and n != rows):
        return f"{n} rows, declared {'>=1' if rows == -1 else rows}"
    return None


def check_expect(rec, expect):
    if rec.get("values") != expect:
        return f"rows {rec.get('values')} != written {expect}"
    return None
