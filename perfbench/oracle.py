"""DuckDB side of the benchmark's output check.

Registered queries: the harness writes each query's full output as
parquet and its `SparkEntry.oracleSql` text; both sides are hashed with
`norm` and `dfhash` from `tools/check_oracle.py` (columns sorted by name,
rows sorted, cells joined with `|`, sha256). Triangle enumerations: the
harness reports row count and arithmetic checksums of the triangle list,
which a DuckDB triangle query over the same edge file reproduces.

DuckDB results are cached under `<cache dir>` by the sha256 of the input
files and the query text, so a repeated seed pays for them once.
"""
import glob
import hashlib
import json
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import dfhash, norm  # noqa: E402  the repository's hash protocol

TABLES = ("lineitem", "documents")

TRIANGLE_SQL = """
WITH e AS (SELECT column0 AS s, column1 AS d FROM read_csv('{path}', delim=' ',
             header=false, columns={{'column0': 'BIGINT', 'column1': 'BIGINT'}})),
canon AS (SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v FROM e WHERE s <> d),
t AS (SELECT t1.u AS a, t1.v AS b, t2.v AS c
      FROM canon t1
      JOIN canon t2 ON t1.u = t2.u AND t1.v < t2.v
      JOIN canon t3 ON t3.u = t1.v AND t3.v = t2.v)
SELECT count(*), sum(a), sum(b), sum(c), sum((a * 7919 + b * 104729 + c) % 1000000007)
FROM t
"""


def frame_hash(df):
    """(sorted column names, row count, sha256) of a result frame."""
    df = norm(df)
    return list(df.columns), len(df), dfhash(df)


def _file_digest(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


class Oracle:
    def __init__(self, cache_dir, threads=4):
        self.cache_dir = cache_dir
        self.threads = threads
        os.makedirs(cache_dir, exist_ok=True)

    def _cached(self, key_parts, compute):
        key = hashlib.sha256("\0".join(key_parts).encode()).hexdigest()[:32]
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        value = compute()
        with open(path + ".tmp", "w") as f:
            json.dump(value, f)
        os.replace(path + ".tmp", path)
        return value

    def _connect(self):
        con = duckdb.connect()
        con.execute(f"SET threads = {self.threads}")
        con.execute(f"SET temp_directory = '{os.path.join(self.cache_dir, 'spill')}'")
        return con

    def query_expected(self, table_dir, sql):
        """(columns, rows, sha256) of `sql` over the parquet tables in `table_dir`."""
        files = sorted(glob.glob(os.path.join(table_dir, "*.parquet")))

        def compute():
            con = self._connect()
            for t in TABLES:
                p = os.path.join(table_dir, f"{t}.parquet")
                if os.path.exists(p):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{p}')")
            cols, n, h = frame_hash(con.execute(sql).df())
            con.close()
            return [cols, n, h]

        return self._cached([sql] + [_file_digest(f) for f in files], compute)

    def triangles_expected(self, edge_file):
        """[count, sum a, sum b, sum c, checksum] of the unique triangles."""
        def compute():
            con = self._connect()
            row = con.execute(TRIANGLE_SQL.format(path=edge_file)).fetchone()
            con.close()
            return [int(v or 0) for v in row]

        return self._cached(["triangles-v1", _file_digest(edge_file)], compute)


def check_query(oracle, table_dir, sql, spark_dir):
    """Empty string when the Spark parquet output equals the DuckDB result."""
    files = sorted(glob.glob(os.path.join(spark_dir, "*.parquet")))
    if not files:
        return "no spark output"
    spark = frame_hash(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
    cols, n, h = oracle.query_expected(table_dir, sql)
    if spark[0] != cols:
        return f"columns spark={spark[0]} duckdb={cols}"
    if spark[1] != n:
        return f"rows spark={spark[1]} duckdb={n}"
    return "" if spark[2] == h else f"hash mismatch over {n} rows"


def check_triangles(oracle, edge_file, reported):
    """Empty string when the harness's checksums equal DuckDB's."""
    got = [int(v) for v in reported.split()]
    want = oracle.triangles_expected(edge_file)
    return "" if got == want else f"checksums spark={got} duckdb={want}"
