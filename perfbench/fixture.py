"""Seeded TPC-H-ish tables for the query workloads.

The tables have the names, columns and types of the engine's query fixture
(one parquet file per table) and value domains like it: uniform keys,
prices and dates, with the same small sets of flags, segments and names.
The same seed always gives the same tables.
"""
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem"]

# SQL types of each table's columns, in order
SCHEMA = {
    "region": "r_regionkey INTEGER, r_name VARCHAR",
    "nation": "n_nationkey INTEGER, n_name VARCHAR, n_regionkey INTEGER",
    "customer": "c_custkey BIGINT, c_name VARCHAR, c_nationkey INTEGER, "
                "c_acctbal DOUBLE, c_mktsegment VARCHAR",
    "supplier": "s_suppkey BIGINT, s_name VARCHAR, s_nationkey INTEGER, "
                "s_acctbal DOUBLE",
    "part": "p_partkey BIGINT, p_name VARCHAR, p_brand VARCHAR, "
            "p_type VARCHAR, p_size INTEGER, p_retailprice DOUBLE",
    "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus VARCHAR, "
              "o_totalprice DOUBLE, o_orderdate TIMESTAMP, "
              "o_orderpriority VARCHAR",
    "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
                "l_linenumber INTEGER, l_quantity DOUBLE, "
                "l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
                "l_returnflag VARCHAR, l_linestatus VARCHAR, "
                "l_shipdate TIMESTAMP",
}


def _frames(sf: float, seed: int) -> dict:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)

    def pick(values, n):
        return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, span, n):
        return (pd.Timestamp(start)
                + pd.to_timedelta(rng.integers(0, span, n), unit="D")).values

    colors = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    return {
        "region": pd.DataFrame({
            "r_regionkey": range(5),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pd.DataFrame({
            "n_nationkey": range(25),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": [i % 5 for i in range(25)]}),
        "customer": pd.DataFrame({
            "c_custkey": range(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust)}),
        "supplier": pd.DataFrame({
            "s_suppkey": range(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp),
            "s_acctbal": money(-999.99, 9999.99, n_supp)}),
        "part": pd.DataFrame({
            "p_partkey": range(n_part),
            "p_name": pick(colors, n_part) + " " + pick(nouns, n_part),
            "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], n_part),
            "p_size": rng.integers(1, 51, n_part),
            "p_retailprice": [900 + (i % 1000) / 10 for i in range(n_part)]}),
        "orders": pd.DataFrame({
            "o_orderkey": range(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": days("1995-01-01", 2400, n_ord),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li),
            "l_quantity": rng.integers(1, 51, n_li).astype(float),
            "l_extendedprice": money(900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["F", "O"], n_li),
            "l_shipdate": days("1995-01-02", 2500, n_li)}),
    }


def write(out: Path, sf: float, seed: int) -> int:
    """Writes one `<table>.parquet` file per table; returns the bytes written."""
    out.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    for name, df in _frames(sf, seed).items():
        cols = ", ".join(
            f"CAST({c.split()[0]} AS {c.split()[1]}) AS {c.split()[0]}"
            for c in SCHEMA[name].split(", "))
        con.register("df", df)
        con.execute(f"COPY (SELECT {cols} FROM df) TO "
                    f"'{out / (name + '.parquet')}' (FORMAT parquet)")
        con.unregister("df")
    con.close()
    return sum(p.stat().st_size for p in out.glob("*.parquet"))
