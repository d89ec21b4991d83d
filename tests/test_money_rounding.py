"""Money sums that land exactly on a half cent.

A revenue sum whose exact value is ``x.xx5`` is a rounding tie: summed
in double precision it sits a hair above or below the tie, and Spark
and DuckDB round that double differently (Spark through its decimal
rendering, DuckDB through ``round(x * 100) / 100``), so the query and
its oracle can disagree by a cent. The queries and their oracles sum in
DECIMAL(18,6), round, then cast to double; both then give the exact
half-up cent.
"""

from __future__ import annotations

import datetime as dt
import os
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as entrymod

# (price, discount) pairs whose exact revenue price * (1 - discount)
# ends on a half cent: 29396.115 and 7748.685
_Q3_TIE = (32662.35, 0.10)
_Q10_TIE = (8609.65, 0.10)


def _write(sf_dir: str, name: str, cols: dict, schema: pa.Schema) -> None:
    path = os.path.join(sf_dir, f"{name}.parquet")
    pq.write_table(pa.table(cols, schema=schema), path)


def _tables(sf_dir: str) -> None:
    """Customer 1 (BUILDING) has q3's tie (order 100) beside a plain
    order; customer 2 has q10's tie (order 200, returned in 1997) beside
    an order q10 does not count."""
    ts = pa.timestamp("us")
    _write(
        sf_dir,
        "nation",
        {"n_nationkey": [0, 1], "n_name": ["ALGERIA", "BRAZIL"], "n_regionkey": [0, 1]},
        pa.schema(
            [
                ("n_nationkey", pa.int32()),
                ("n_name", pa.string()),
                ("n_regionkey", pa.int32()),
            ]
        ),
    )
    _write(
        sf_dir,
        "customer",
        {
            "c_custkey": [1, 2],
            "c_name": ["Customer#1", "Customer#2"],
            "c_nationkey": [0, 1],
            "c_acctbal": [100.0, 200.0],
            "c_mktsegment": ["BUILDING", "AUTOMOBILE"],
        },
        pa.schema(
            [
                ("c_custkey", pa.int64()),
                ("c_name", pa.string()),
                ("c_nationkey", pa.int32()),
                ("c_acctbal", pa.float64()),
                ("c_mktsegment", pa.string()),
            ]
        ),
    )
    _write(
        sf_dir,
        "orders",
        {
            "o_orderkey": [100, 101, 200, 201],
            "o_custkey": [1, 1, 2, 2],
            "o_orderstatus": ["O"] * 4,
            "o_totalprice": [0.0] * 4,
            "o_orderdate": [
                dt.datetime(1996, 6, 1),
                dt.datetime(1996, 7, 1),
                dt.datetime(1997, 6, 1),
                dt.datetime(1997, 7, 1),
            ],
            "o_orderpriority": ["1-URGENT"] * 4,
        },
        pa.schema(
            [
                ("o_orderkey", pa.int64()),
                ("o_custkey", pa.int64()),
                ("o_orderstatus", pa.string()),
                ("o_totalprice", pa.float64()),
                ("o_orderdate", ts),
                ("o_orderpriority", pa.string()),
            ]
        ),
    )
    _write(
        sf_dir,
        "lineitem",
        {
            "l_orderkey": [100, 101, 200, 201],
            "l_partkey": [1, 2, 3, 4],
            "l_suppkey": [1, 1, 1, 1],
            "l_linenumber": [1, 1, 1, 1],
            "l_quantity": [1.0] * 4,
            "l_extendedprice": [_Q3_TIE[0], 1000.0, _Q10_TIE[0], 500.0],
            "l_discount": [_Q3_TIE[1], 0.05, _Q10_TIE[1], 0.02],
            "l_tax": [0.0] * 4,
            "l_returnflag": ["N", "N", "R", "N"],
            "l_linestatus": ["O"] * 4,
            "l_shipdate": [dt.datetime(1997, 3, 1)] * 2 + [dt.datetime(1997, 8, 1)] * 2,
        },
        pa.schema(
            [
                ("l_orderkey", pa.int64()),
                ("l_partkey", pa.int64()),
                ("l_suppkey", pa.int64()),
                ("l_linenumber", pa.int32()),
                ("l_quantity", pa.float64()),
                ("l_extendedprice", pa.float64()),
                ("l_discount", pa.float64()),
                ("l_tax", pa.float64()),
                ("l_returnflag", pa.string()),
                ("l_linestatus", pa.string()),
                ("l_shipdate", ts),
            ]
        ),
    )


def _half_up(price: float, discount: float) -> float:
    exact = Decimal(repr(price)) * (1 - Decimal(repr(discount)))
    return float(exact.quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def test_half_cent_revenue_ties_round_half_up(spark, tmp_path):
    sf_dir = str(tmp_path)
    _tables(sf_dir)
    con = duckdb.connect()
    for t in ("nation", "customer", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    expected = {
        "q3_shipping_priority": ("l_orderkey", {100: _half_up(*_Q3_TIE), 101: 950.0}),
        "q10_returned_items": ("c_custkey", {2: _half_up(*_Q10_TIE)}),
    }
    for name, (key, want) in expected.items():
        got = {r[key]: r["revenue"] for r in queries[name](spark, sf_dir).collect()}
        oracle = con.execute(oracles[name]).df()
        assert got == dict(zip(oracle[key], oracle["revenue"])) == want, name
    con.close()
