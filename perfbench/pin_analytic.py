#!/usr/bin/env python3
"""Pin the expected answers of the analytic workload's statements.

Runs every parameter variant of the statements in
src/main/scala/perfbench/Analytic.scala in DuckDB over the same parquet
files and writes pins/analytic.json. The benchmark compares each reply
with these answers. Regenerate only when the statements or the test data
change:

    python3 perfbench/pin_analytic.py SF_DIR   # the sf0.1 directory TESTDATA.md lists
"""
import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))

# DuckDB spellings of Analytic.scala's statements; `?` are the parameters
Q01 = """SELECT l_returnflag, l_linestatus, SUM(l_quantity), SUM(l_extendedprice),
  SUM(l_extendedprice * (1 - l_discount)), AVG(l_discount), COUNT(*)
FROM lineitem WHERE l_shipdate <= CAST(? AS TIMESTAMP)
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"""
Q03 = """SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS revenue,
  strftime(o_orderdate, '%Y-%m-%d')
FROM customer JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = ? AND o_orderdate < CAST(? AS TIMESTAMP)
  AND l_shipdate > CAST(? AS TIMESTAMP)
GROUP BY l_orderkey, o_orderdate ORDER BY revenue DESC, l_orderkey LIMIT 10"""
Q06 = """SELECT SUM(l_extendedprice * l_discount) FROM lineitem
WHERE l_shipdate >= CAST(? AS TIMESTAMP) AND l_shipdate < CAST(? AS TIMESTAMP)
  AND l_discount BETWEEN ? AND ? AND l_quantity < ?"""
STREAM = """SELECT COUNT(*), SUM(l_orderkey), SUM(l_linenumber), SUM(l_quantity)
FROM lineitem WHERE l_orderkey >= ? AND l_orderkey < ?"""

# Parameter variants the seed picks from. Variants of one statement do the
# same amount of work, so the seed moves answers, not costs.
VARIANTS = {
    "q01": [["2001-06-01"], ["2001-03-01"], ["2000-12-01"], ["2000-09-01"]],
    # one date, four market segments of near-equal size: the variants
    # differ in answer, not in how much they join
    "q03": [["BUILDING", "1998-03-15", "1998-03-15"],
            ["AUTOMOBILE", "1998-03-15", "1998-03-15"],
            ["MACHINERY", "1998-03-15", "1998-03-15"],
            ["HOUSEHOLD", "1998-03-15", "1998-03-15"]],
    "q06": [["1996-01-01", "1997-01-01", 0.05, 0.07, 24],
            ["1997-01-01", "1998-01-01", 0.05, 0.07, 24],
            ["1998-01-01", "1999-01-01", 0.05, 0.07, 24],
            ["1999-01-01", "2000-01-01", 0.05, 0.07, 24]],
    "stream": [[0, 12500], [37500, 50000], [75000, 87500], [112500, 125000]],
}
SQL = {"q01": Q01, "q03": Q03, "q06": Q06, "stream": STREAM}


def main():
    sf = sys.argv[1]
    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    pins = {}
    for name, variants in VARIANTS.items():
        pins[name] = [{"params": p, "rows": [list(r) for r in con.execute(SQL[name], p).fetchall()]}
                      for p in variants]
    with open(os.path.join(HERE, "pins", "analytic.json"), "w") as f:
        json.dump(pins, f, indent=1, default=float)
        f.write("\n")


if __name__ == "__main__":
    main()
