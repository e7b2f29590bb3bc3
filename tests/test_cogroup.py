"""cogroup_custkey on keys present on one side only: the per-key
function must see an empty table for the missing side and still emit
the row the DuckDB oracle's full outer join produces."""

from __future__ import annotations

import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from flink_1_20_spark.registry import get_oracles, get_queries

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)

from verify_local import compare  # noqa: E402


def test_cogroup_one_sided_keys(spark, tmp_path):
    # 1, 2: both sides (2 has two customer rows); 3, 5: customers only
    # (5's balance is NULL); 4, 6: orders only
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([1, 2, 2, 3, 5], pa.int64()),
                "c_acctbal": pa.array([120.5, -3.25, 7.75, 99.0, None], pa.float64()),
            }
        ),
        tmp_path / "customer.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "o_custkey": pa.array([1, 1, 2, 4, 6, 6, 6], pa.int64()),
                "o_totalprice": pa.array(
                    [10.0, 20.25, 5.5, 300.0, 1.0, 2.0, 3.5], pa.float64()
                ),
            }
        ),
        tmp_path / "orders.parquet",
    )
    sf_dir = str(tmp_path)
    df = get_queries()["cogroup_custkey"](spark, sf_dir)
    got = df.collect()

    con = duckdb.connect()
    try:
        for t in ("customer", "orders"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        rel = con.sql(get_oracles()["cogroup_custkey"])
        want_cols, want = rel.columns, rel.fetchall()
    finally:
        con.close()

    ok, msg = compare(got, df.columns, want, want_cols)
    assert ok, msg
    by_key = {r.custkey: r for r in got}
    assert sorted(by_key) == [1, 2, 3, 4, 5, 6]
    assert (by_key[3].n_orders, by_key[3].total_price) == (0, 0.0)
    assert (by_key[4].n_cust, by_key[4].acctbal) == (0, None)
    assert (by_key[5].n_cust, by_key[5].acctbal) == (1, None)
    assert (by_key[2].n_cust, by_key[2].acctbal) == (2, 7.75)
