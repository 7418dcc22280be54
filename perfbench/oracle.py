"""Checks program results against the DuckDB oracle.

The expected result of a query is its `SparkEntry.oracleSql` statement
run in DuckDB over the same fixture. The comparison follows the rules of
tools/check.py: columns sorted by name, equal shape, no cross-family
dtype split (int vs float, numeric vs text), and exact values, floats
included, row by row in order.
"""
import concurrent.futures
import glob
import os

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


class Oracle:
    def __init__(self, fixture):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        for t in TABLES:
            path = os.path.join(fixture, f"{t}.parquet", "*.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.expected = {}

    def prefetch(self, sqls):
        """Runs the statements of {name: sql} side by side, one cursor each."""
        def run(item):
            return item[0], self.con.cursor().execute(item[1]).df()
        todo = {n: q for n, q in sqls.items() if n not in self.expected}
        with concurrent.futures.ThreadPoolExecutor(4) as pool:
            self.expected.update(pool.map(run, todo.items()))

    def expect(self, name, sql):
        if name not in self.expected:
            self.expected[name] = self.con.execute(sql).df()
        return self.expected[name]


def read_result(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files])


def mismatches(got, exp):
    """Reasons `got` differs from `exp`; empty when they match."""
    if got is None:
        return ["no result written"]
    got = got[sorted(got.columns)].reset_index(drop=True)
    exp = exp[sorted(exp.columns)].reset_index(drop=True)
    if list(got.columns) != list(exp.columns):
        return [f"columns {list(got.columns)} != {list(exp.columns)}"]
    if got.shape != exp.shape:
        return [f"shape {got.shape} != {exp.shape}"]
    bad = []
    ints, nums = {"i", "u"}, {"i", "u", "f"}
    for c in got.columns:
        g, e = got[c], exp[c]
        gk = getattr(g.dtype, "kind", "O")
        ek = getattr(e.dtype, "kind", "O")
        if gk != ek and ((gk in ints) != (ek in ints)
                         or (gk in nums) != (ek in nums)):
            bad.append(f"{c}: dtype {g.dtype} != {e.dtype}")
            if (gk in nums) != (ek in nums):
                continue
        if gk == "f" or ek == "f":
            ga, ea = g.to_numpy(dtype=float), e.to_numpy(dtype=float)
            eq = (ga == ea) | (np.isnan(ga) & np.isnan(ea))
            if not eq.all():
                bad.append(f"{c}: {(~eq).sum()} float mismatches")
        else:
            eq = (g.astype(str) == e.astype(str)) | (g.isna() & e.isna())
            if not eq.all():
                i = int(np.argmax(~eq.to_numpy()))
                bad.append(f"{c}: {(~eq).sum()} mismatches, row {i}: "
                           f"{g.iloc[i]!r} != {e.iloc[i]!r}")
    return bad
