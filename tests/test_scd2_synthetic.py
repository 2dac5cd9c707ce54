"""SCD2 multi-version defect probes the reference CSV can't exercise
(no product there ever changes price): version flags/status, as-of price
resolution in the fact, and the dense cube keyed on (product, price).
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest

from sales_data_warehouse_spark.etl import _drop_key, run_etl
from sales_data_warehouse_spark.operators.fact import dense_fact

CSV = """Order ID,Product,Quantity Ordered,Price Each,Order Date,Purchase Address
1,Widget,1,5.00,01/05/19 10:00,"1 Main St, Boston, MA 02215"
2,Widget,2,5.00,01/10/19 11:30,"9 Elm St, Austin, TX 73301"
3,Widget,1,6.00,01/20/19 09:15,"1 Main St, Boston, MA 02215"
4,Widget,3,6.00,01/25/19 17:45,"9 Elm St, Austin, TX 73301"
5,Gadget,4,3.00,01/08/19 13:00,"9 Elm St, Austin, TX 73301"
"""


@pytest.fixture(scope="module")
def etl(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("scd2") / "sales.csv"
    p.write_text(CSV)
    res = run_etl(spark, str(p))
    yield res
    res.cleansed.unpersist()


def test_two_versions_with_flags(etl):
    pd = {
        (r["product_name"], str(r["price_each"])): r
        for r in etl.product_dimension.collect()
    }
    assert len(pd) == 3
    v1 = pd[("Widget", "5.00")]
    v2 = pd[("Widget", "6.00")]
    g = pd[("Gadget", "3.00")]
    # version effective dates = first sale at that price
    assert v1["last_update_date"] == dt.date(2019, 1, 5)
    assert v2["last_update_date"] == dt.date(2019, 1, 20)
    # only the latest version is active; first version flags I, later U
    assert (v1["active_status"], v1["action_flag"]) == ("N", "I")
    assert (v2["active_status"], v2["action_flag"]) == ("Y", "U")
    assert (g["active_status"], g["action_flag"]) == ("Y", "I")
    # same surrogate id across versions of one product
    assert v1["product_id"] == v2["product_id"]
    assert v1["product_id"] != g["product_id"]


def test_fact_resolves_asof_price(etl):
    rows = {
        (r["product"], r["order_date"]): r["price_each"]
        for r in etl.fact.collect()
    }
    assert rows[("Widget", dt.date(2019, 1, 5))] == Decimal("5.00")
    assert rows[("Widget", dt.date(2019, 1, 10))] == Decimal("5.00")
    assert rows[("Widget", dt.date(2019, 1, 20))] == Decimal("6.00")
    assert rows[("Widget", dt.date(2019, 1, 25))] == Decimal("6.00")
    assert rows[("Gadget", dt.date(2019, 1, 8))] == Decimal("3.00")


def test_dense_cube_keys_on_price_version(etl):
    dense = dense_fact(
        etl.fact,
        etl.product_dimension,
        etl.location_dimension,
        etl.time_dimension,
    )
    # 21 days (01-05..01-25) x 3 product-versions x 2 locations
    assert etl.time_dimension.count() == 21
    assert etl.location_dimension.count() == 2
    assert dense.count() == 21 * 3 * 2
    # each sale lands on its as-of version's cube row only
    sold = dense.filter("quantity_ordered > 0").collect()
    assert len(sold) == 5
    for r in sold:
        if r["product_name"] == "Widget" and str(r["price_each"]) == "5.00":
            assert r["time_desc"] in (dt.date(2019, 1, 5), dt.date(2019, 1, 10))
    # conservation: dense cube preserves total quantity
    total = sum(r["quantity_ordered"] for r in dense.collect())
    assert total == 1 + 2 + 1 + 3 + 4


def test_written_dense_fact_is_the_cube(spark, etl, tmp_path):
    csv = tmp_path / "sales.csv"
    csv.write_text(CSV)
    wh = str(tmp_path / "wh")
    run_etl(spark, str(csv), output_dir=wh, dense=True)
    key = _drop_key(spark, str(csv))
    fact = spark.read.parquet(f"{wh}/fact/batch_id={key}")
    # 21 days x 3 product-versions x 2 locations
    assert fact.count() == 21 * 3 * 2
    qty = "sum(quantity_ordered)"
    assert fact.agg({"quantity_ordered": "sum"}).first()[qty] == (
        etl.fact.agg({"quantity_ordered": "sum"}).first()[qty]
    )
