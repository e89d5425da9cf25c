"""Inputs and the DuckDB reference answers of the `sql_etl` workload.

The tables are the repository's TPC-H-ish test data at scale factor 0.01,
copied unchanged into data/sf0.01 (orders 15000, lineitem 60000 rows).
`script` builds the seeded statement list of one pass; `reference` runs that
pass in DuckDB over the same parquet files the engine reads and records what
every statement returns. The engine never sees the reference answers: run.py
compares them with the engine's own output after the run.
"""

import datetime
import json
import os
import random

import duckdb

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

# The two EXPLAIN statements. Their text and their target table do not
# depend on the seed: the engine fails both at planning on every pass
# (see README.md, "Failed operations").
EXPLAIN_SETUP = ("CREATE OR REPLACE TEMP TABLE explain_target AS "
                 "SELECT * FROM (VALUES (1, 'a', 10.0), (2, 'b', 20.0), (3, 'c', 30.0)) "
                 "AS v(k, s, amount)")
EXPLAIN_UPDATE = "EXPLAIN UPDATE explain_target SET amount = amount * 2 WHERE k = 2"
EXPLAIN_DELETE = "EXPLAIN DELETE FROM explain_target WHERE k = 3"


def script(seed):
    """The statements of one sql_etl pass: a list of (kind, sql) where kind is
    'write' (temp-table DDL/DML), 'read' (a query) or 'explain'."""
    r = random.Random(seed * 7919 + 17)
    # Order dates run from 1995-01-01 over about 2400 days.
    day = lambda lo, hi: (datetime.date(1995, 1, 1) + datetime.timedelta(days=r.randint(lo, hi))).isoformat()
    d_from = day(600, 1200)
    d_ship = day(1400, 2000)
    d_q1 = day(1800, 2300)
    prio = r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    status = r.choice(["F", "O", "P"])
    factor = r.choice([1.05, 1.1, 1.25, 0.9])
    cut = r.randint(20000, 90000)
    modulus = r.randint(5, 13)
    seg = r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    flag = r.choice(["A", "N", "R"])
    return [
        ("write", f"""CREATE OR REPLACE TEMP TABLE t_orders AS
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM orders WHERE o_orderdate >= DATE '{d_from}'"""),
        ("read", """SELECT o_orderpriority, o_orderstatus, count(*) AS n, sum(o_totalprice) AS total
            FROM t_orders GROUP BY ALL ORDER BY ALL"""),
        ("write", f"UPDATE t_orders SET o_totalprice = o_totalprice * {factor} "
                  f"WHERE o_orderpriority = '{prio}'"),
        ("write", f"DELETE FROM t_orders WHERE o_orderstatus = '{status}' AND o_totalprice < {cut}"),
        ("write", f"""INSERT INTO t_orders
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM orders WHERE o_orderdate < DATE '{d_from}' AND o_custkey % {modulus} = 0"""),
        ("read", """SELECT * EXCLUDE (o_orderdate, o_orderpriority) FROM t_orders
            QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) = 1
            ORDER BY o_custkey LIMIT 40"""),
        ("write", """CREATE OR REPLACE TEMP TABLE cust_rev
            (custkey BIGINT PRIMARY KEY, revenue DOUBLE, n_orders BIGINT)"""),
        ("write", """INSERT INTO cust_rev
            SELECT o_custkey, sum(o_totalprice), count(*) FROM t_orders GROUP BY ALL"""),
        ("write", f"""INSERT OR REPLACE INTO cust_rev
            SELECT o_custkey, sum(l_extendedprice * (1 - l_discount)), count(*)
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= DATE '{d_ship}' GROUP BY ALL"""),
        # A second upsert of the same weight: with the two making up 2 of the
        # 13 statements that do not fail, the 90th percentile falls among
        # their latencies rather than on the slowest of all the others.
        ("write", f"""INSERT OR REPLACE INTO cust_rev
            SELECT o_custkey, sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), count(*)
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_returnflag = '{flag}' AND l_shipdate < DATE '{d_ship}' GROUP BY ALL"""),
        ("read", f"""SELECT n_name, count(*) AS customers, sum(revenue) AS revenue, max(n_orders) AS max_orders
            FROM cust_rev JOIN customer ON c_custkey = custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE c_mktsegment = '{seg}' GROUP BY ALL ORDER BY ALL"""),
        ("read", f"""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
                   sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
                   avg(l_discount) AS avg_disc, count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= DATE '{d_q1}' GROUP BY ALL ORDER BY ALL"""),
        ("explain", EXPLAIN_UPDATE),
        ("explain", EXPLAIN_DELETE),
        ("read", """SELECT count(*) AS n, sum(o_totalprice) AS total, count(DISTINCT o_custkey) AS customers,
                   (SELECT sum(revenue) FROM cust_rev) AS revenue, (SELECT sum(n_orders) FROM cust_rev) AS orders
            FROM t_orders"""),
    ]


def _plain(v):
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()[:10] if type(v) is datetime.date else v.isoformat()
    if hasattr(v, "__float__") and not isinstance(v, (int, float, bool)):
        return float(v)
    return v


def reference(seed, out_path):
    """Run one pass in DuckDB; write {"results": [rows or null per statement]}.
    DML statements record their row count as [[count]]; EXPLAIN records null."""
    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{os.path.join(DATA_DIR, name + '.parquet')}')")
    con.execute(EXPLAIN_SETUP)
    results = []
    for kind, sql in script(seed):
        rel = con.execute(sql)
        rows = rel.fetchall() if rel.description else []
        results.append(None if kind == "explain" else [[_plain(v) for v in row] for row in rows])
    con.close()
    with open(out_path, "w") as f:
        json.dump({"seed": seed, "results": results}, f)


def _same(a, b):
    if isinstance(a, bool) or isinstance(b, bool) or a is None or b is None:
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def check_rows(want, got):
    """Errors between DuckDB's rows (want) and the engine's (got), or []."""
    if len(want) != len(got):
        return [f"{len(got)} rows, DuckDB gives {len(want)}: {got[:3]} vs {want[:3]}"]
    for k, (w, g) in enumerate(zip(want, got)):
        if len(w) != len(g) or not all(_same(a, b) for a, b in zip(w, g)):
            return [f"row {k} is {g}, DuckDB gives {w}"]
    return []
