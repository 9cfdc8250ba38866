#!/usr/bin/env python3
"""Writes TPC-H-shaped parquet tables for the tpch_batch workload.

    python3 perfbench/gen_tpch.py <out_dir> <scale>

Same schema and value domains as the registry's test tables (FIXTURES.md):
lineitem has 6,000,000 x scale rows, orders 1,500,000 x scale, customer
150,000 x scale, part 200,000 x scale, supplier 10,000 x scale, plus the 25
nations and 5 regions. Values come from DuckDB's hash of (row, column), so the
tables are the same on every run and every machine.
"""
import os
import sys

import duckdb


def u(col, salt):
    """Uniform [0, 1) from a deterministic hash of (row, salt)."""
    return f"((hash({col}, {salt}) % 1000003)::DOUBLE / 1000003.0)"


def pick(col, salt, values):
    arr = "[" + ", ".join(f"'{v}'" for v in values) + "]"
    return f"{arr}[1 + (hash({col}, {salt}) % {len(values)})::INTEGER]"


def main(out_dir, scale):
    n_line = int(6_000_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_cust = max(1, int(150_000 * scale))
    n_part = max(1, int(200_000 * scale))
    n_supp = max(1, int(10_000 * scale))
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    con = duckdb.connect()
    con.sql("SET threads TO 2")

    def write(name, sql):
        con.sql(f"COPY ({sql}) TO '{tmp}/{name}.parquet' (FORMAT PARQUET)")

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write("region", "SELECT i::INTEGER AS r_regionkey, "
          f"{'[' + ', '.join(repr(r) for r in regions) + ']'}[i + 1] AS r_name FROM range(5) t(i)")
    write("nation", "SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name, "
          "(i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)")
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    write("customer", f"""
        SELECT i::BIGINT AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
               (hash(i, 11) % 25)::INTEGER AS c_nationkey,
               round(-999.99 + {u('i', 12)} * 10999.98, 2) AS c_acctbal,
               {pick('i', 13, segments)} AS c_mktsegment
        FROM range({n_cust}) t(i)""")
    write("supplier", f"""
        SELECT i::BIGINT AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
               (hash(i, 21) % 25)::INTEGER AS s_nationkey,
               round(-999.99 + {u('i', 22)} * 10999.98, 2) AS s_acctbal
        FROM range({n_supp}) t(i)""")
    adjs = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
    nouns = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    write("part", f"""
        SELECT i::BIGINT AS p_partkey,
               {pick('i', 31, adjs)} || ' ' || {pick('i', 32, nouns)} AS p_name,
               'Brand#' || (1 + hash(i, 33) % 25) AS p_brand,
               {pick('i', 34, types)} AS p_type,
               (1 + hash(i, 35) % 50)::INTEGER AS p_size,
               900.0 + (hash(i, 36) % 1000)::DOUBLE / 10.0 AS p_retailprice
        FROM range({n_part}) t(i)""")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    write("orders", f"""
        SELECT i::BIGINT AS o_orderkey, (hash(i, 41) % {n_cust})::BIGINT AS o_custkey,
               {pick('i', 42, ['F', 'O', 'P'])} AS o_orderstatus,
               round(1000.0 + {u('i', 43)} * 499000.0, 2) AS o_totalprice,
               TIMESTAMP '1995-01-01' + to_days((hash(i, 44) % 2404)::INTEGER) AS o_orderdate,
               {pick('i', 45, prios)} AS o_orderpriority
        FROM range({n_ord}) t(i)""")
    write("lineitem", f"""
        SELECT (hash(i, 51) % {n_ord})::BIGINT AS l_orderkey,
               (hash(i, 52) % {n_part})::BIGINT AS l_partkey,
               (hash(i, 53) % {n_supp})::BIGINT AS l_suppkey,
               (1 + hash(i, 54) % 7)::INTEGER AS l_linenumber,
               (1 + hash(i, 55) % 50)::DOUBLE AS l_quantity,
               round(900.0 + {u('i', 56)} * 104100.0, 2) AS l_extendedprice,
               (hash(i, 57) % 11)::DOUBLE / 100.0 AS l_discount,
               (hash(i, 58) % 9)::DOUBLE / 100.0 AS l_tax,
               {pick('i', 59, ['A', 'N', 'R'])} AS l_returnflag,
               {pick('i', 60, ['F', 'O'])} AS l_linestatus,
               TIMESTAMP '1995-01-02' + to_days((hash(i, 61) % 2499)::INTEGER) AS l_shipdate
        FROM range({n_line}) t(i)""")
    con.close()
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write(f"scale {scale}\n")
    os.rename(tmp, out_dir)


if __name__ == "__main__":
    main(sys.argv[1], float(sys.argv[2]))
