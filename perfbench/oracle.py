#!/usr/bin/env python3
"""Evaluate registered DuckDB oracle queries over one documents corpus.

Usage: oracle.py [--registered] DOCUMENTS_PARQUET SQL_DIR

Each SQL_DIR/<query>.sql is run with a `documents` view over the given
parquet and its result written to SQL_DIR/<query>.parquet.

The registered dedup oracles spend minutes, at a few thousand
documents, in two common table expressions. Unless --registered is
given, both are computed another way, with the same result:

- `pairs` compares the 3-shingle lists of all n^2/2 document pairs with
  LIST_INTERSECT. Pairs that share no shingle have Jaccard 0 and cannot
  reach the 0.9 threshold, and for the others the shared-shingle count
  of a join equals the list intersection (the lists are distinct), so
  a shingle join yields the same pairs with the same exact Jaccard.
- `edges`/`reach`/`comp` label every node of the pair graph with the
  smallest id it reaches, through a recursive CTE that DuckDB expands
  once per reference. A union-find over the same pairs gives the same
  labels; they are passed in as a table.

The rest of each query runs as registered. The benchmark's own test
runs both forms on a small corpus and compares their results.
"""
import os
import re
import sys

import duckdb

PAIRS_BY_SHINGLE_JOIN = """pairs AS (
  SELECT a.doc_id AS u, b.doc_id AS v
  FROM (SELECT doc_id, UNNEST(s) AS g FROM sh) a
  JOIN (SELECT doc_id, UNNEST(s) AS g FROM sh) b
    ON a.g = b.g AND a.doc_id < b.doc_id
  JOIN (SELECT doc_id, LEN(s) AS n FROM sh) na ON na.doc_id = a.doc_id
  JOIN (SELECT doc_id, LEN(s) AS n FROM sh) nb ON nb.doc_id = b.doc_id
  GROUP BY a.doc_id, b.doc_id, na.n, nb.n
  HAVING COUNT(*) / (na.n + nb.n - COUNT(*)) >= 0.9),
"""

# the registered forms this script knows how to replace
REGISTERED_PAIRS = re.compile(
    r"pairs AS \(\s*SELECT a\.doc_id AS u, b\.doc_id AS v\s*FROM sh a, sh b\s*"
    r"WHERE a\.doc_id < b\.doc_id\s*AND LEN\(LIST_INTERSECT\(a\.s, b\.s\)\)\s*"
    r"/ \(LEN\(a\.s\) \+ LEN\(b\.s\) - LEN\(LIST_INTERSECT\(a\.s, b\.s\)\)\) "
    r">= 0\.9\),\s*")
REGISTERED_CLOSURE = re.compile(
    r"edges AS \(SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs\),"
    r"\s*reach\(id, r\) AS \(.*?\),"
    r"\s*comp AS \(SELECT id, MIN\(r\) AS cluster_id FROM reach GROUP BY id\)",
    re.S)


def substitute(pattern, replacement, sql):
    out, n = pattern.subn(lambda _: replacement, sql)
    if n != 1:
        raise SystemExit("oracle.py: a registered oracle changed shape; "
                         "update its substitute in oracle.py to match")
    return out


def components(pairs):
    """Smallest reachable id for every node of the undirected pair graph."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in pairs:
        a, b = find(u), find(v)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return [(x, find(x)) for x in list(parent)]


def fast(con, sql, name):
    sql = substitute(REGISTERED_PAIRS, PAIRS_BY_SHINGLE_JOIN, sql)
    # the pair relation, computed by the query's own d/sh definitions
    prefix = sql[:sql.index("edges AS (")].rstrip().rstrip(",")
    pairs = con.execute(prefix + "\nSELECT u, v FROM pairs").fetchall()
    table = f"comp_{name}"
    con.execute(f"CREATE OR REPLACE TABLE {table} (id BIGINT, cluster_id BIGINT)")
    labels = components(pairs)
    if labels:
        con.executemany(f"INSERT INTO {table} VALUES (?, ?)", labels)
    return substitute(REGISTERED_CLOSURE,
                      f"comp AS (SELECT id, cluster_id FROM {table})", sql)


def main(argv):
    registered = "--registered" in argv
    args = [a for a in argv if a != "--registered"]
    if len(args) != 2:
        raise SystemExit(__doc__)
    docs, sql_dir = args
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{sql_dir}/duckdb.tmp'")
    if os.path.isdir(docs):
        docs = os.path.join(docs, "*.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    for fname in sorted(os.listdir(sql_dir)):
        if not fname.endswith(".sql"):
            continue
        name = fname[:-4]
        with open(os.path.join(sql_dir, fname)) as f:
            sql = f.read()
        if not registered:
            sql = fast(con, sql, name)
        out = os.path.join(sql_dir, name + ".parquet")
        con.execute(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET)")


if __name__ == "__main__":
    main(sys.argv[1:])
