#!/usr/bin/env python3
"""Regenerates the catalog workload's query list and expected row counts.

    python3 perfbench/tools/expected_rows.py

1. Builds the harness and dumps every library query's DuckDB oracle SQL
   (``SparkEntry.oracleSql``).
2. Picks the catalog slice: the queries are grouped by reporting family
   (``q<digits>_*`` is one family "q", every other query's family is its
   name up to the first ``_``), and the first ``PER_FAMILY`` queries of
   each family in name order are taken.  The first builds the family's
   shared relations; the next ones can reuse what ``CachePool`` holds
   until the family's release.
3. Runs each picked query's oracle SQL in DuckDB over ``perfbench/corpus``
   and stores the row counts.

Writes ``perfbench/catalog/queries.txt`` and
``perfbench/catalog/expected_rows.json``.  Needs the ``duckdb`` Python
package; the benchmark run itself does not.
"""

import json
import os
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import build  # noqa: E402

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
PER_FAMILY = 2


def family(name):
    fam = name.split("_", 1)[0]
    if len(fam) > 1 and fam[0] == "q" and fam[1:].isdigit():
        return "q"
    return fam


def pick(names, per_family=PER_FAMILY):
    taken = {}
    for n in sorted(names):
        fam = taken.setdefault(family(n), [])
        if len(fam) < per_family:
            fam.append(n)
    return sorted(n for fam in taken.values() for n in fam)


def oracle_sql():
    classes = build.build()
    with tempfile.TemporaryDirectory() as tmp:
        out = os.path.join(tmp, "oracle.json")
        subprocess.run(["java", "-cp", os.pathsep.join([classes, build.classpath()]),
                        "perfbench.OracleSql", out], check=True)
        with open(out) as fh:
            return json.load(fh)


def main():
    import duckdb
    corpus = os.path.join(BENCH, "corpus")
    sql = oracle_sql()
    names = pick(sql)
    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s'"
                    % (t, os.path.join(corpus, t + ".parquet")))
    rows = {}
    for n in names:
        t0 = time.time()
        rows[n] = con.execute("SELECT count(*) FROM (%s) AS q" % sql[n]).fetchone()[0]
        print("%-45s %8d rows  %.1f s" % (n, rows[n], time.time() - t0), flush=True)
    cat = os.path.join(BENCH, "catalog")
    with open(os.path.join(cat, "queries.txt"), "w") as fh:
        fh.write("\n".join(names) + "\n")
    with open(os.path.join(cat, "expected_rows.json"), "w") as fh:
        json.dump({"corpus": "perfbench/corpus",
                   "slice": "the first %d queries of each reporting family" % PER_FAMILY,
                   "source": "DuckDB over SparkEntry.oracleSql",
                   "rows": rows}, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
