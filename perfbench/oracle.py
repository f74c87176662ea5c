"""Output check for the query mixes.

Each query's result, written once by the driver as parquet, is reduced to
its row count and an order-insensitive hash (columns sorted by name, each
row rendered cell by cell, rows sorted, md5), and compared with the same
reduction of the query's DuckDB twin (`SparkEntry.oracleSql`) run on the
same tables. Twin results are cached per table set and SQL text, so a
checkout runs each twin once.
"""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if isinstance(v, float):
            return repr(round(v, 9))
        if isinstance(v, (list, tuple)) or str(type(v)).endswith("ndarray'>"):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return repr(v)
    rows = sorted("|".join(cell(v) for v in row) for row in df.itertuples(index=False, name=None))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def digest(df):
    return {"rows": len(df), "cols": sorted(df.columns), "hash": canon(df)}


def _file_key(paths):
    h = hashlib.sha1()
    for p in sorted(paths):
        for f in sorted(glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True)) or [p]:
            if os.path.isfile(f):
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def check(data_dir, check_dir, cache_dir, queries):
    """Returns {query: problem} for every query whose output is missing or
    differs from its twin."""
    twins = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    tables_key = _file_key([data_dir])
    problems = {}
    for q in queries:
        files = sorted(glob.glob(os.path.join(check_dir, q, "*.parquet")))
        if not files:
            problems[q] = "no output"
            continue
        if q not in twins:
            problems[q] = "no DuckDB twin"
            continue
        sql = twins[q]
        # a twin may read a table the run itself exported (learned cells)
        run_paths = [p for p in sql.split("'") if p.startswith(os.path.abspath(check_dir + "/.."))]
        key = hashlib.sha1("\n".join([tables_key, _file_key(run_paths) if run_paths else "",
                                      sql.replace(os.path.dirname(os.path.abspath(check_dir)), "")])
                           .encode()).hexdigest()
        cached = os.path.join(cache_dir, f"{q}-{key}.json")
        if os.path.exists(cached):
            want = json.load(open(cached))
        else:
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads TO 4")
                con.execute(f"SET temp_directory = '{os.path.join(cache_dir, 'tmp')}'")
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
            want = digest(con.execute(sql).df())
            with open(cached, "w") as f:
                json.dump(want, f)
        got = digest(pd.concat([pd.read_parquet(f) for f in files]))
        if got != want:
            problems[q] = (f"rows {got['rows']} vs {want['rows']}" if got["rows"] != want["rows"]
                           else "columns differ" if got["cols"] != want["cols"] else "hash differs")
    return problems
