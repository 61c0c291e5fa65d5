#!/usr/bin/env python3
"""Reference results for the benchmark's output checks.

    python3 perfbench/oracle.py <tables_dir> <queries.json> <out_dir> [--save]

Runs each query's DuckDB oracle SQL (the `SparkEntry.oracleSql` twin of
a registry query, given as a JSON object name -> SQL) over the parquet
tables in <tables_dir> (each `<name>.parquet` file or Spark output
directory becomes a view `<name>`), and writes `<out_dir>/<name>.rows`:
the column names sorted, on the first line, then one line per result
row with its values in that column order. Values are written in the
canonical text form the benchmark's JVM side uses too (see `Oracle`
in the Scala sources), so the two engines' results can be compared as
order-independent row sets. Exits non-zero if any query fails.

Some twins take longer than a run (the HNSW graph build in SQL, about a
minute). A result is therefore first looked up in `perfbench/expected/`
under a key that hashes the SQL text and the full content of every
table the SQL names; only a miss runs the SQL. `--save` also stores the
results it computed there: run it on a run's tables (kept by
`run.py --keep`) to add or refresh a committed result.
"""
import hashlib
import json
import os
import re
import shutil
import sys
from decimal import Decimal

import duckdb

SEP = "\x1f"
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected")


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, Decimal)):
        return "%.9e" % float(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def table_digest(con, table):
    """sha256 of a table's rows in canonical form, in sorted order."""
    rows = sorted(SEP.join(canon(x) for x in r) for r in con.execute(f"SELECT * FROM {table}").fetchall())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def main():
    args = [a for a in sys.argv[1:] if a != "--save"]
    save = "--save" in sys.argv[1:]
    tables, queries, out = args
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    names = []
    for entry in sorted(os.listdir(tables)):
        if not entry.endswith(".parquet"):
            continue
        path = os.path.join(tables, entry)
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        names.append(entry[:-len(".parquet")])
        con.execute(f"CREATE VIEW {names[-1]} AS SELECT * FROM read_parquet('{src}')")
    with open(queries) as f:
        sqls = json.load(f)
    os.makedirs(out, exist_ok=True)
    digests = {}
    for name, sql in sqls.items():
        key = hashlib.sha256(sql.encode())
        for t in names:
            if re.search(rf"\b{t}\b", sql):
                if t not in digests:
                    digests[t] = table_digest(con, t)
                key.update(f"\0{t}\0{digests[t]}".encode())
        cached = os.path.join(EXPECTED, f"{name}-{key.hexdigest()[:16]}.rows")
        target = os.path.join(out, name + ".rows")
        if os.path.exists(cached):
            shutil.copyfile(cached, target)
            continue
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        with open(target, "w") as f:
            f.write(SEP.join(cols[i] for i in order) + "\n")
            for row in cur.fetchall():
                f.write(SEP.join(canon(row[i]) for i in order) + "\n")
        if save:
            os.makedirs(EXPECTED, exist_ok=True)
            shutil.copyfile(target, cached)


if __name__ == "__main__":
    main()
