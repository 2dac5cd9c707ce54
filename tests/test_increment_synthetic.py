"""run_etl_increment on inline CSVs: a base month, then drops that bring
an unseen (state, postal), a new street in a known city, a price change
and a date past a calendar gap. The folded warehouse must agree with
``run_etl`` over the same rows — the time dimension bit for bit, the
location/product natural keys and the fact's natural keys + measures —
while keeping every old surrogate id verbatim and numbering new ones
from the old maximum + 1 at each level. Also pinned here: an all-invalid
drop, the empty calendar, the job group every increment job runs
under, plan builds that submit no job, and the crash-safe dimension
replace.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from sales_data_warehouse_spark.etl import run_etl, run_etl_increment
from sales_data_warehouse_spark.operators.cleansing import cleanse
from sales_data_warehouse_spark.operators.location_dimension import (
    merge_location_dimension,
)
from sales_data_warehouse_spark.operators.product_dimension import (
    merge_product_dimension,
)
from sales_data_warehouse_spark.operators.time_dimension import (
    build_time_dimension,
    merge_time_dimension,
)
from sales_data_warehouse_spark.sources.csv_ingest import ingest_csv

HEADER = (
    "Order ID,Product,Quantity Ordered,Price Each,Order Date,Purchase Address"
)

BASE = """1,Widget,1,5.00,01/05/19 10:00,"1 Main St, Boston, MA 02215"
2,Widget,2,5.00,01/06/19 11:30,"9 Elm St, Austin, TX 73301"
3,Gadget,4,3.00,01/07/19 13:00,"9 Elm St, Austin, TX 73301"
4,Gizmo,1,9.50,01/08/19 09:00,"5 Oak St, Boston, MA 02215"
5,Gadget,1,3.00,01/10/19 12:00,"7 Pine St, Dallas, TX 75001"
6,Gizmo,x,9.50,01/10/19 12:30,"7 Pine St, Dallas, TX 75001"
"""

DROPS = [
    # a new street in a known city; an unseen (state, postal) of a known
    # state (quirk Q8: the state level is keyed on the zip too); a new
    # state altogether
    """7,Widget,1,5.00,01/11/19 08:00,"3 Birch St, Boston, MA 02215"
8,Gadget,2,3.00,01/11/19 09:00,"4 Bay St, Cambridge, MA 02139"
9,Gizmo,1,9.50,01/11/19 10:00,"2 Lake St, Seattle, WA 98101"
10,Widget,1,5.00,01/11/19 11:00,"1 Main St, Boston, MA 02215"
""",
    # a price change, and a new product that sorts before every old one
    """11,Widget,3,6.00,01/12/19 08:00,"9 Elm St, Austin, TX 73301"
12,Adapter,2,1.25,01/12/19 09:00,"3 Birch St, Boston, MA 02215"
13,Widget,,6.00,01/12/19 10:00,"9 Elm St, Austin, TX 73301"
""",
    # past a calendar gap, into a new month
    """14,Gadget,1,3.00,01/20/19 08:00,"2 Lake St, Seattle, WA 98101"
15,Widget,2,6.00,02/02/19 09:00,"6 Ash St, Austin, TX 73301"
""",
]

LOCATION_KEY = ["street_name", "city_name", "state_name", "postal"]
LEVELS = [("state_id", 2), ("city_id", 1), ("street_id", 1), ("location_id", 1)]
FACT_KEY = [
    "product",
    "order_date",
    "price_each",
    "quantity_ordered",
    "time_id",
    "month_id",
    "street_name",
    "city_name",
    "state_name",
    "postal",
]


def _csv(path, *bodies) -> str:
    path.write_text(HEADER + "\n" + "".join(bodies))
    return str(path)


def _rows(df, cols=None):
    return sorted(map(tuple, (df.select(*cols) if cols else df).collect()))


def _table(spark, wh, name, cols=None):
    return _rows(spark.read.parquet(f"{wh}/{name}"), cols)


def _suffix(id_: str, prefix_len: int) -> int:
    return int(id_[prefix_len:])


@pytest.fixture(scope="module")
def base_wh(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("inc_base")
    wh = str(d / "wh")
    run_etl(spark, _csv(d / "base.csv", BASE), output_dir=wh)
    return wh


@pytest.fixture
def wh(base_wh, tmp_path):
    """A private copy of the base warehouse for a test to fold into."""
    return shutil.copytree(base_wh, str(tmp_path / "wh"))


@pytest.fixture(scope="module")
def warehouses(spark, base_wh, tmp_path_factory):
    d = tmp_path_factory.mktemp("inc_synth")
    inc_dir = shutil.copytree(base_wh, str(d / "inc"))
    full_dir = str(d / "full")
    base = {
        name: spark.read.parquet(f"{inc_dir}/{name}").collect()
        for name in ("location_dimension", "product_dimension")
    }
    for i, body in enumerate(DROPS):
        run_etl_increment(spark, _csv(d / f"drop_{i}.csv", body), inc_dir)
    run_etl(spark, _csv(d / "all.csv", BASE, *DROPS), output_dir=full_dir)
    return inc_dir, full_dir, base


def test_time_dimension_bit_for_bit(spark, warehouses):
    inc, full, _ = warehouses
    rows = _table(spark, inc, "time_dimension")
    assert rows == _table(spark, full, "time_dimension")
    # 01-05 .. 02-02, the gap days included
    assert len(rows) == 29


def test_natural_keys_match_full_build(spark, warehouses):
    inc, full, _ = warehouses
    loc = LOCATION_KEY + ["full_address"]
    assert _table(spark, inc, "location_dimension", loc) == _table(
        spark, full, "location_dimension", loc
    )
    prod = [
        "product_name",
        "price_each",
        "last_update_date",
        "active_status",
        "action_flag",
    ]
    assert _table(spark, inc, "product_dimension", prod) == _table(
        spark, full, "product_dimension", prod
    )
    assert _table(spark, inc, "fact", FACT_KEY) == _table(
        spark, full, "fact", FACT_KEY
    )
    assert _table(spark, inc, "cleansed") == _table(spark, full, "cleansed")
    assert len(_table(spark, inc, "invalid")) == 2


def test_old_ids_kept_and_new_ids_follow_the_maximum(spark, warehouses):
    inc, _, base = warehouses
    loc = spark.read.parquet(f"{inc}/location_dimension").collect()
    # every base row survives verbatim, ids included
    assert set(base["location_dimension"]) <= set(loc)
    for col, prefix_len in LEVELS:
        old = {r[col] for r in base["location_dimension"]}
        new = sorted(
            _suffix(i, prefix_len) for i in {r[col] for r in loc} - old
        )
        top = max(_suffix(i, prefix_len) for i in old)
        assert new == list(range(top + 1, top + 1 + len(new))), col
    # 3 Birch St / 4 Bay St / 2 Lake St / 6 Ash St are new streets;
    # Boston is a known city and keeps its city id
    assert len(loc) == len(base["location_dimension"]) + 4
    by_street = {r["street_name"]: r for r in loc}
    main = by_street["1 Main St"]
    assert by_street["3 Birch St"]["city_id"] == main["city_id"]
    assert by_street["3 Birch St"]["state_id"] == main["state_id"]
    assert by_street["4 Bay St"]["state_id"] != main["state_id"]

    prod = spark.read.parquet(f"{inc}/product_dimension").collect()
    old_ids = {r["product_name"]: r["product_id"] for r in base["product_dimension"]}
    ids = {r["product_name"]: r["product_id"] for r in prod}
    assert {n: ids[n] for n in old_ids} == old_ids
    # Adapter sorts first but is numbered past the old products
    assert _suffix(ids["Adapter"], 1) == len(old_ids) + 1
    widget = sorted(
        (r["last_update_date"], str(r["price_each"]), r["active_status"])
        for r in prod
        if r["product_name"] == "Widget"
    )
    assert [(p, s) for _, p, s in widget] == [("5.00", "N"), ("6.00", "Y")]


def test_all_invalid_drop_changes_only_invalid(spark, wh, tmp_path):
    tables = ("cleansed", "time_dimension", "location_dimension",
              "product_dimension", "fact")
    before = {t: _table(spark, wh, t) for t in tables}
    n_invalid = len(_table(spark, wh, "invalid"))
    bad = """20,Widget,x,5.00,01/15/19 10:00,"1 Main St, Boston, MA 02215"
21,Widget,1,5.00,not a date,"1 Main St, Boston, MA 02215"
"""
    res = run_etl_increment(spark, _csv(tmp_path / "bad.csv", bad), wh)
    assert {t: _table(spark, wh, t) for t in tables} == before
    assert len(_table(spark, wh, "invalid")) == n_invalid + 2
    assert res.time_dimension.count() == len(before["time_dimension"])


def test_time_dimension_of_no_rows_is_empty(spark, tmp_path):
    cleansed, _ = cleanse(
        ingest_csv(spark, _csv(tmp_path / "base.csv", BASE))
    )
    empty = build_time_dimension(cleansed.limit(0))
    assert empty.count() == 0
    assert empty.columns == build_time_dimension(cleansed).columns


def _wait_for_listener(spark) -> None:
    # the status tracker is fed by the asynchronous listener bus
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _clear_job_group(spark) -> None:
    spark.sparkContext._jsc.clearJobGroup()


def test_increment_jobs_inherit_the_callers_job_group(spark, wh, tmp_path):
    tracker = spark.sparkContext.statusTracker()
    _wait_for_listener(spark)
    ungrouped = set(tracker.getJobIdsForGroup(None))
    spark.sparkContext.setJobGroup("inc", "one increment")
    try:
        run_etl_increment(spark, _csv(tmp_path / "d.csv", DROPS[0]), wh)
    finally:
        _clear_job_group(spark)
    _wait_for_listener(spark)
    grouped = tracker.getJobIdsForGroup("inc")
    # the merges, the appends, the replaces and the fact append at least
    assert len(grouped) >= 8
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


def test_building_the_merges_submits_no_job(spark, base_wh, tmp_path):
    prior = {
        name: spark.read.parquet(f"{base_wh}/{name}")
        for name in ("location_dimension", "product_dimension",
                     "time_dimension")
    }
    cleansed, _ = cleanse(
        ingest_csv(spark, _csv(tmp_path / "d.csv", DROPS[0]))
    )
    spark.sparkContext.setJobGroup("plan", "plan build only")
    try:
        merge_location_dimension(prior["location_dimension"], cleansed)
        merge_product_dimension(prior["product_dimension"], cleansed)
        merge_time_dimension(prior["time_dimension"], cleansed)
        build_time_dimension(cleansed)
    finally:
        _clear_job_group(spark)
    _wait_for_listener(spark)
    assert spark.sparkContext.statusTracker().getJobIdsForGroup("plan") == []


def test_failed_dimension_write_keeps_the_previous_dimension(
    spark, wh, tmp_path, monkeypatch
):
    before = _table(spark, wh, "product_dimension")
    real_parquet = DataFrameWriter.parquet

    def failing_parquet(self, path, *args, **kwargs):
        # fail inside the write job, after a plain overwrite would
        # already have deleted the old directory
        if "product_dimension" in path:
            poisoned = self._df.withColumn(
                "boom", F.raise_error(F.lit("injected write failure"))
            )
            return real_parquet(poisoned.write.mode("overwrite"), path)
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
    with pytest.raises(Exception, match="injected write failure"):
        run_etl_increment(spark, _csv(tmp_path / "d.csv", DROPS[1]), wh)
    monkeypatch.undo()
    assert _table(spark, wh, "product_dimension") == before
