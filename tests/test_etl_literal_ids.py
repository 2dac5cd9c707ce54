"""Literal surrogate ids of a full ``run_etl`` over an inline month.

The reference-CSV goldens pin counts; this pins the ids themselves, with
no file outside the test. The month has two zips of one state (quirk Q8
keys the state level on the zip too), one city name in two states, a
state that sorts before another whose zip sorts after it, a price change
(two SCD2 versions) and one invalid row.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest

from sales_data_warehouse_spark.etl import run_etl

MONTH = """Order ID,Product,Quantity Ordered,Price Each,Order Date,Purchase Address
1,Widget,1,5.00,01/05/19 10:00,"1 Main St, Boston, MA 02215"
2,Widget,2,5.00,01/06/19 11:30,"9 Elm St, Austin, TX 73301"
3,Gadget,4,3.00,01/07/19 13:00,"9 Elm St, Austin, TX 73301"
4,Gizmo,1,9.50,01/08/19 09:00,"5 Oak St, San Francisco, CA 94016"
5,Gadget,1,3.00,01/10/19 12:00,"7 Pine St, Dallas, TX 75001"
6,Gizmo,x,9.50,01/10/19 12:30,"7 Pine St, Dallas, TX 75001"
7,Widget,3,6.00,01/09/19 08:00,"2 Bay St, Portland, ME 04101"
8,Gizmo,2,9.50,01/09/19 17:00,"8 Ash St, Portland, OR 97035"
"""

D = dt.date
P = Decimal

LOCATIONS = [
    ("L000001", "S000001", "1 Main St", "C002", "Boston", "SA002", "MA",
     "02215", "1 Main St, Boston, MA 02215"),
    ("L000002", "S000002", "2 Bay St", "C004", "Portland", "SA003", "ME",
     "04101", "2 Bay St, Portland, ME 04101"),
    ("L000003", "S000003", "5 Oak St", "C006", "San Francisco", "SA001", "CA",
     "94016", "5 Oak St, San Francisco, CA 94016"),
    ("L000004", "S000004", "7 Pine St", "C003", "Dallas", "SA006", "TX",
     "75001", "7 Pine St, Dallas, TX 75001"),
    ("L000005", "S000005", "8 Ash St", "C005", "Portland", "SA004", "OR",
     "97035", "8 Ash St, Portland, OR 97035"),
    ("L000006", "S000006", "9 Elm St", "C001", "Austin", "SA005", "TX",
     "73301", "9 Elm St, Austin, TX 73301"),
]

PRODUCTS = [
    ("P000001", "Gadget", P("3.00"), D(2019, 1, 7), "Y", "I"),
    ("P000002", "Gizmo", P("9.50"), D(2019, 1, 8), "Y", "I"),
    ("P000003", "Widget", P("5.00"), D(2019, 1, 5), "N", "I"),
    ("P000003", "Widget", P("6.00"), D(2019, 1, 9), "Y", "U"),
]

TIMES = [
    ("D20190105", D(2019, 1, 5), "W0119", "Week 01 2019"),
    ("D20190106", D(2019, 1, 6), "W0119", "Week 01 2019"),
    ("D20190107", D(2019, 1, 7), "W0219", "Week 02 2019"),
    ("D20190108", D(2019, 1, 8), "W0219", "Week 02 2019"),
    ("D20190109", D(2019, 1, 9), "W0219", "Week 02 2019"),
    ("D20190110", D(2019, 1, 10), "W0219", "Week 02 2019"),
]
# every day of the month shares its coarser levels
MONTH_LEVELS = ("M0119", "January 2019", "Q119", "Q1 2019", "H12019",
                "H1 2019", "Y2019", "2019")

FACT_IDS = ["time_id", "product_id", "location_id", "street_id", "city_id",
            "state_id", "week_id", "month_id", "quarter_id", "half_year_id",
            "year_id"]
# (order_date, product, price_each, quantity_ordered, *FACT_IDS)
FACT = [
    (D(2019, 1, 5), "Widget", P("5.00"), 1, "D20190105", "P000003",
     "L000001", "S000001", "C002", "SA002", "W0119"),
    (D(2019, 1, 6), "Widget", P("5.00"), 2, "D20190106", "P000003",
     "L000006", "S000006", "C001", "SA005", "W0119"),
    (D(2019, 1, 7), "Gadget", P("3.00"), 4, "D20190107", "P000001",
     "L000006", "S000006", "C001", "SA005", "W0219"),
    (D(2019, 1, 8), "Gizmo", P("9.50"), 1, "D20190108", "P000002",
     "L000003", "S000003", "C006", "SA001", "W0219"),
    (D(2019, 1, 9), "Gizmo", P("9.50"), 2, "D20190109", "P000002",
     "L000005", "S000005", "C005", "SA004", "W0219"),
    (D(2019, 1, 9), "Widget", P("6.00"), 3, "D20190109", "P000003",
     "L000002", "S000002", "C004", "SA003", "W0219"),
    (D(2019, 1, 10), "Gadget", P("3.00"), 1, "D20190110", "P000001",
     "L000004", "S000004", "C003", "SA006", "W0219"),
]


def _rows(df, cols=None):
    return sorted(map(tuple, (df.select(*cols) if cols else df).collect()))


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("literal_ids")
    csv = d / "month.csv"
    csv.write_text(MONTH)
    return run_etl(spark, str(csv), output_dir=str(d / "wh"))


def test_location_rows(warehouse):
    assert _rows(warehouse.location_dimension) == LOCATIONS


def test_product_rows(warehouse):
    assert _rows(warehouse.product_dimension) == PRODUCTS


def test_time_rows(warehouse):
    got = _rows(warehouse.time_dimension)
    assert [r[:4] for r in got] == TIMES
    assert {r[4:] for r in got} == {MONTH_LEVELS}


def test_fact_ids(warehouse):
    cols = ["order_date", "product", "price_each", "quantity_ordered"]
    fact = _rows(warehouse.fact, cols + FACT_IDS)
    assert [r[:-4] for r in fact] == FACT
    assert {r[-4:] for r in fact} == {("M0119", "Q119", "H12019", "Y2019")}
    assert warehouse.invalid.count() == 1
