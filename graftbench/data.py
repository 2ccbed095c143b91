"""Seeded TPC-H-shaped input tables for the graft benchmark.

Every column is a pure function of (seed, table, row id) through DuckDB's
`hash`, so the same seed and sizes give byte-identical parquet files. The
schemas match the fixture tables graft's `GraphModel` and
`LdbcQueries.catalog` read: region, nation, customer, supplier, part,
orders, lineitem (same column names and types).
"""
import os

import duckdb

# Row counts (a TPC-H sf0.002 shape), the same for both workloads. Query
# and algorithm latencies at this size are dominated by per-job and
# per-round overhead, not by data volume; the size keeps a run within the
# benchmark's time budget.
SIZES = dict(customer=300, supplier=20, part=400, orders=1500,
             lines_per_order=3)

_BRANDS = [f"Brand#{i}" for i in range(1, 26)]
_TYPES = [f"{a} {b} {c}"
          for a in ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
          for b in ["ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"]
          for c in ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"]]
_NOUNS = ["almond", "antique", "aquamarine", "azure", "beige", "bisque",
          "black", "blanched", "blue", "blush", "brown", "burlywood"]


def _lst(xs):
    return "[" + ", ".join("'" + x + "'" for x in xs) + "]"


def generate(out_dir, seed, sizes=SIZES):
    """Write the seven tables as `<out_dir>/<table>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    s = int(seed)
    nc, ns, np_, no = (sizes["customer"], sizes["supplier"], sizes["part"],
                       sizes["orders"])
    lpo = sizes["lines_per_order"]
    con = duckdb.connect()
    con.execute("SET threads TO 1")

    def h(k):
        return f"hash(range, {s}, {k})"

    def out(name, sql):
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")

    out("region", "SELECT CAST(range AS INTEGER) AS r_regionkey, "
        "(['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'])[range + 1] "
        "AS r_name FROM range(5)")
    out("nation", "SELECT CAST(range AS INTEGER) AS n_nationkey, "
        "'NATION_' || range AS n_name, "
        "CAST(range % 5 AS INTEGER) AS n_regionkey FROM range(25)")
    out("customer", f"""
        SELECT CAST(range AS BIGINT) AS c_custkey,
          'Customer#' || range AS c_name,
          CAST({h(1)} % 25 AS INTEGER) AS c_nationkey,
          round(CAST({h(2)} % 1099999 AS DOUBLE) / 100.0 - 999.99, 2)
            AS c_acctbal,
          (['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'])
            [CAST({h(3)} % 5 AS INTEGER) + 1] AS c_mktsegment
        FROM range({nc})""")
    out("supplier", f"""
        SELECT CAST(range AS BIGINT) AS s_suppkey,
          'Supplier#' || range AS s_name,
          CAST({h(4)} % 25 AS INTEGER) AS s_nationkey,
          round(CAST({h(5)} % 1099999 AS DOUBLE) / 100.0 - 999.99, 2)
            AS s_acctbal
        FROM range({ns})""")
    nn = len(_NOUNS)
    out("part", f"""
        SELECT CAST(range AS BIGINT) AS p_partkey,
          ({_lst(_NOUNS)})[CAST({h(6)} % {nn} AS INTEGER) + 1] || ' ' ||
          ({_lst(_NOUNS)})[CAST({h(7)} % {nn} AS INTEGER) + 1] AS p_name,
          ({_lst(_BRANDS)})[CAST({h(8)} % 25 AS INTEGER) + 1] AS p_brand,
          ({_lst(_TYPES)})[CAST({h(9)} % {len(_TYPES)} AS INTEGER) + 1]
            AS p_type,
          CAST({h(10)} % 50 + 1 AS INTEGER) AS p_size,
          round(900.0 + CAST({h(11)} % 120000 AS DOUBLE) / 100.0, 2)
            AS p_retailprice
        FROM range({np_})""")
    # order dates span 1992-01-01 .. 1998-08-02, the TPC-H window the
    # LDBC date cut-offs are written against
    out("orders", f"""
        SELECT CAST(range AS BIGINT) AS o_orderkey,
          CAST({h(12)} % {nc} AS BIGINT) AS o_custkey,
          (['F','O','P'])[CAST({h(13)} % 3 AS INTEGER) + 1] AS o_orderstatus,
          round(CAST({h(14)} % 45000000 AS DOUBLE) / 100.0 + 857.71, 2)
            AS o_totalprice,
          TIMESTAMP '1992-01-01 00:00:00' +
            to_seconds(CAST({h(15)} % 207705600 AS BIGINT)) AS o_orderdate,
          (['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'])
            [CAST({h(16)} % 5 AS INTEGER) + 1] AS o_orderpriority
        FROM range({no})""")
    out("lineitem", f"""
        SELECT CAST(range // {lpo} AS BIGINT) AS l_orderkey,
          CAST({h(17)} % {np_} AS BIGINT) AS l_partkey,
          CAST({h(18)} % {ns} AS BIGINT) AS l_suppkey,
          CAST(range % {lpo} + 1 AS INTEGER) AS l_linenumber,
          CAST({h(19)} % 50 + 1 AS DOUBLE) AS l_quantity,
          round(CAST({h(20)} % 10000000 AS DOUBLE) / 100.0 + 900.0, 2)
            AS l_extendedprice,
          CAST({h(21)} % 11 AS DOUBLE) / 100.0 AS l_discount,
          CAST({h(22)} % 9 AS DOUBLE) / 100.0 AS l_tax,
          (['A','N','R'])[CAST({h(23)} % 3 AS INTEGER) + 1] AS l_returnflag,
          (['F','O'])[CAST({h(24)} % 2 AS INTEGER) + 1] AS l_linestatus,
          TIMESTAMP '1992-01-01 00:00:00' +
            to_seconds(CAST({h(25)} % 207705600 AS BIGINT)) AS l_shipdate
        FROM range({no * lpo})""")
    con.close()
