"""TPC-H rewrites vs the join form they replace, on adversarial fixtures
the generated testdata never holds."""

from __future__ import annotations

import datetime as dt

import duckdb
import pandas as pd

import label_maker_dask_spark.queries as Q

Q21 = "q21_suppliers_who_shipped_last"


def _write_q21_fixture(root, lines):
    """lineitem rows ``(order, supp, ship date or None)``; every order is
    finished ('F'); supplier ``s`` is named ``S<s>``."""
    pd.DataFrame(
        {
            "l_orderkey": pd.Series([o for o, _, _ in lines], dtype="int64"),
            "l_suppkey": pd.Series([s for _, s, _ in lines], dtype="int64"),
            "l_shipdate": pd.Series(
                [d for _, _, d in lines], dtype="datetime64[us]"
            ),
        }
    ).to_parquet(f"{root}/lineitem.parquet")
    orders = sorted({o for o, _, _ in lines})
    pd.DataFrame(
        {"o_orderkey": pd.Series(orders, dtype="int64"), "o_orderstatus": "F"}
    ).to_parquet(f"{root}/orders.parquet")
    supps = sorted({s for _, s, _ in lines})
    pd.DataFrame(
        {
            "s_suppkey": pd.Series(supps, dtype="int64"),
            "s_name": [f"S{s}" for s in supps],
        }
    ).to_parquet(f"{root}/supplier.parquet")


def _join_form_spark(spark, root) -> dict:
    for t in ("lineitem", "orders", "supplier"):
        spark.read.parquet(f"{root}/{t}.parquet").createOrReplaceTempView(t)
    return {r[0]: r[1] for r in spark.sql(Q.ORACLES[Q21]).collect()}


def _join_form_duckdb(root) -> dict:
    con = duckdb.connect()
    for t in ("lineitem", "orders", "supplier"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{root}/{t}.parquet')"
        )
    return dict(con.execute(Q.ORACLES[Q21]).fetchall())


def test_q21_window_form_keeps_rows_when_a_competitor_ship_date_is_null(
    spark, tmp_path
):
    """Order 1: supplier 10 ships on 2020-01-05, supplier 20's date is
    NULL.  NULL is never later than anything, so both suppliers shipped
    last in the join form; the window form must agree."""
    root = str(tmp_path)
    _write_q21_fixture(
        root, [(1, 10, dt.datetime(2020, 1, 5)), (1, 20, None)]
    )
    window = {
        r["s_name"]: r["numwait"]
        for r in Q.QUERIES[Q21](spark, root).collect()
    }
    assert window == {"S10": 1, "S20": 1}
    assert window == _join_form_spark(spark, root)
    assert window == _join_form_duckdb(root)
