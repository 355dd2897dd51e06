#!/usr/bin/env python3
"""DuckDB oracle answers for the corpus queries, with a committed cache.

Each corpus query's answer is checked against its
``__spark_entry__.oracle_sql()`` answer on DuckDB over the same
tables. Some oracles are slow (the near-dup cluster oracle's
recursive reachability takes over a minute on four cores), and they
depend only on the table contents, which the seed never changes (it
moves row order and file layout only). So answers are cached in
``data/oracle/``, keyed by a hash of the oracle SQL and the committed
table files; a key that does not match falls back to running DuckDB.

Refresh the cache after changing the corpus data or an oracle:

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
CACHE = os.path.join(DATA, "oracle")
TABLES = ("documents", "embeddings")


def _key(sql: str) -> str:
    h = hashlib.sha256(sql.encode())
    for t in TABLES:
        with open(os.path.join(DATA, f"{t}.parquet"), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_oracle(sql: str, table_globs: dict[str, str]) -> pd.DataFrame:
    import duckdb
    con = duckdb.connect()
    try:
        for t, files in table_globs.items():
            con.execute(f"create view {t} as select * from "
                        f"read_parquet('{files}')")
        return con.sql(sql).df()
    finally:
        con.close()


def answer(name: str, sql: str, table_globs: dict[str, str]) -> pd.DataFrame:
    """The oracle's answer for query ``name``: cached when the cache
    key matches, else computed on DuckDB over ``table_globs``."""
    index_path = os.path.join(CACHE, "index.json")
    if os.path.exists(index_path):
        with open(index_path) as fh:
            index = json.load(fh)
        if index.get(name) == _key(sql):
            return pd.read_parquet(os.path.join(CACHE, f"{name}.parquet"))
    return run_oracle(sql, table_globs)


def refresh(names) -> None:
    import __spark_entry__ as entry
    sqls = entry.oracle_sql()
    globs = {t: os.path.join(DATA, f"{t}.parquet") for t in TABLES}
    os.makedirs(CACHE, exist_ok=True)
    index = {}
    for name in names:
        run_oracle(sqls[name], globs).to_parquet(
            os.path.join(CACHE, f"{name}.parquet"), index=False)
        index[name] = _key(sqls[name])
        print(f"cached {name}", file=sys.stderr)
    with open(os.path.join(CACHE, "index.json"), "w") as fh:
        json.dump(index, fh, indent=1, sort_keys=True)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    from perfbench.workloads import CORPUS_QUERIES
    refresh(CORPUS_QUERIES)
