"""The as-of plans must agree with each other and with an independent
pandas ``merge_asof`` oracle on the same inputs (all directions)."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sales_data_warehouse_spark.operators.asof import (
    _warn_mixed_numeric_keys,
    asof_join,
    asof_join_grouped,
)

SF_DIR = "/root/testdata/sf0.01"


def cogroup_asof(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    *,
    direction: str = "backward",
    tolerance=None,
    allow_exact_matches: bool = True,
) -> DataFrame:
    """Test oracle for the as-of plans: cogroup both sides by the ``on``
    keys and run ``pandas.merge_asof`` per key group in Arrow batches.
    pandas implements direction, ``tolerance`` and
    ``allow_exact_matches`` natively, so it checks the plans' semantics
    independently. It costs a flat ~26 s on the pricing oracle at both
    600 k and 6 M facts (BENCH_full_r06): the cost is per-group Python
    over the ~20 k keys, not data volume.

    Requires the ``on`` + ts columns to have distinct names across
    sides and errors on NULL merge keys (the plans drop them). Arrow
    hands ``TimestampType`` over as session-LOCAL naive timestamps; the
    suite pins ``spark.sql.session.timeZone=UTC``, under which it
    agrees with the plans in all three directions. ``DateType`` is
    exact day arithmetic everywhere."""
    import pandas as pd

    _warn_mixed_numeric_keys(
        left.schema[left_ts].dataType, right.schema[right_ts].dataType
    )
    right_cols = [c for c in right.columns if c not in on]
    out_schema = T.StructType(
        list(left.schema.fields) + [right.schema[c] for c in right_cols]
    )
    left_names = list(left.columns)
    l_is_date = isinstance(left.schema[left_ts].dataType, T.DateType)
    r_is_date = isinstance(right.schema[right_ts].dataType, T.DateType)

    def merge(l_pdf: pd.DataFrame, r_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(l_pdf) or not len(r_pdf):
            return pd.DataFrame(columns=left_names + right_cols)
        ls = l_pdf.copy()
        rs = r_pdf[
            [right_ts] + [c for c in right_cols if c != right_ts]
        ].copy()
        # DateType arrives as object-dtype datetime.date; merge_asof
        # needs an ordered numeric/datetime64 key
        if l_is_date:
            ls[left_ts] = pd.to_datetime(ls[left_ts])
        if r_is_date:
            rs[right_ts] = pd.to_datetime(rs[right_ts])
        ls = ls.sort_values(left_ts, kind="mergesort")
        rs = rs.sort_values(right_ts, kind="mergesort")
        merged = pd.merge_asof(
            ls,
            rs,
            left_on=left_ts,
            right_on=right_ts,
            direction=direction,
            suffixes=("", "__r"),
            # a date key was promoted to datetime64 above, so a
            # timedelta tolerance applies to both temporal families
            tolerance=tolerance,
            allow_exact_matches=allow_exact_matches,
        )
        # inner semantics: drop left rows with no qualifying version
        r_ts_out = right_ts if right_ts != left_ts else f"{right_ts}__r"
        merged = merged[merged[r_ts_out].notna()]
        if l_is_date:
            merged[left_ts] = merged[left_ts].dt.date
        if r_is_date:
            merged[r_ts_out] = merged[r_ts_out].dt.date
        return merged[left_names + right_cols]

    return (
        left.groupBy(*on)
        .cogroup(right.groupBy(*on))
        .applyInPandas(merge, schema=out_schema)
    )


@pytest.fixture(scope="module")
def sides(spark):
    l = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_partkey").alias("p_partkey"),
            F.col("l_shipdate").cast("date").alias("ship_date"),
        )
        .limit(5000)
    )
    p = spark.read.parquet(f"{SF_DIR}/part.parquet")
    v1 = p.select(
        "p_partkey",
        F.col("p_retailprice").alias("eff_price"),
        F.lit("1995-01-01").cast("date").alias("eff_date"),
    )
    v2 = p.select(
        "p_partkey",
        (F.col("p_retailprice") * 1.2).alias("eff_price"),
        F.lit("1998-01-01").cast("date").alias("eff_date"),
    )
    return l, v1.unionByName(v2)


def _key_rows(df):
    return sorted(
        (
            r["l_orderkey"],
            r["l_linenumber"],
            r["p_partkey"],
            str(r["ship_date"]),
            str(r["eff_date"]),
            round(float(r["eff_price"]), 2),
        )
        for r in df.collect()
    )


GROUPED = {"union": asof_join_grouped, "cogroup": cogroup_asof}


@pytest.mark.parametrize("engine", ["union", "cogroup"])
@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_grouped_matches_broadcast(spark, sides, direction, engine):
    l, ph = sides
    want = asof_join(
        l, ph, on=["p_partkey"], left_ts="ship_date", right_ts="eff_date",
        direction=direction,
    )
    got = GROUPED[engine](
        l, ph, on=["p_partkey"], left_ts="ship_date", right_ts="eff_date",
        direction=direction,
    )
    assert sorted(got.columns) == sorted(want.columns)
    assert _key_rows(got) == _key_rows(want)


def test_nearest_tie_prefers_backward_and_never_drops(spark):
    """direction='nearest': equidistant ties pick the BACKWARD version
    (pandas merge_asof's rule), and every left row matches — no inner
    drop — as long as its key has any version at all."""
    left = spark.createDataFrame(
        [
            (1, "2020-06-15"),  # equidistant: 14d to both versions
            (1, "2020-06-02"),  # nearer the 06-01 version
            (1, "2020-06-28"),  # nearer the 06-29 version
            (2, "1990-01-01"),  # only a far-future version: still kept
        ],
        "k int, ts string",
    ).selectExpr("k", "CAST(ts AS DATE) AS ts")
    right = spark.createDataFrame(
        [
            (1, "2020-06-01", 10.0),
            (1, "2020-06-29", 20.0),
            (2, "2030-01-01", 30.0),
        ],
        "k int, vts string, price double",
    ).selectExpr("k", "CAST(vts AS DATE) AS vts", "price")
    plans = {"broadcast": asof_join, **GROUPED}
    for name, fn in plans.items():
        got = {
            (r.k, str(r.ts)): r.price
            for r in fn(
                left, right, ["k"], "ts", "vts", direction="nearest"
            ).collect()
        }
        assert got == {
            (1, "2020-06-15"): 10.0,  # tie -> backward
            (1, "2020-06-02"): 10.0,
            (1, "2020-06-28"): 20.0,
            (2, "1990-01-01"): 30.0,  # forward-only key kept
        }, name


def test_union_engine_drops_null_ts_and_keeps_duplicates(spark):
    """The union plan matches asof_join's inner contract where the
    cogroup oracle errors: NULL-ts facts drop, NULL-ts versions never
    match, and duplicate left rows each produce their own output row."""
    import datetime as dt

    left = spark.createDataFrame(
        [
            (1, dt.date(2024, 1, 10)),
            (1, dt.date(2024, 1, 10)),  # exact duplicate fact row
            (1, None),
            (2, dt.date(2024, 1, 5)),
        ],
        "k long, ts date",
    )
    right = spark.createDataFrame(
        [(1, dt.date(2024, 1, 1), "v1"), (2, None, "bad")],
        "k long, vts date, tag string",
    )
    for direction in ("backward", "nearest"):
        out = asof_join_grouped(
            left, right, ["k"], "ts", "vts",
            direction=direction,
        )
        rows = sorted((r.k, str(r.ts), r.tag) for r in out.collect())
        assert rows == [
            (1, "2024-01-10", "v1"),
            (1, "2024-01-10", "v1"),
        ], direction


def test_union_engine_ntz_micros_are_session_tz_independent(spark):
    """TimestampNTZ distances must come from the naive wall clock, not
    an implicit NTZ->LTZ cast through the session timezone (r6 ADVICE
    #1): a sub-second nearest tie must resolve identically under UTC
    and a DST zone, in both the broadcast and union plans."""
    import datetime as dt

    base = dt.datetime(2024, 3, 10, 1, 59, 59)  # inside US spring-forward
    left = spark.createDataFrame(
        [(1, base + dt.timedelta(microseconds=500_001))],
        "k long, ts timestamp_ntz",
    )
    right = spark.createDataFrame(
        [(1, base, "back"), (1, base + dt.timedelta(seconds=1), "fwd")],
        "k long, vts timestamp_ntz, tag string",
    )
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for zone in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", zone)
            b = asof_join(
                left, right, ["k"], "ts", "vts", direction="nearest"
            )
            u = asof_join_grouped(
                left, right, ["k"], "ts", "vts",
                direction="nearest",
            )
            # 500_001 us back vs 499_999 us forward -> fwd, in any zone
            assert [r.tag for r in b.collect()] == ["fwd"], zone
            assert [r.tag for r in u.collect()] == ["fwd"], zone
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def _tol_sides(spark):
    import datetime as dt

    left = spark.createDataFrame(
        [
            (1, dt.date(2020, 6, 10)),  # same-instant as version B
            (1, dt.date(2020, 6, 15)),
            (1, dt.date(2020, 9, 1)),   # backward gap 83d; forward 9d
        ],
        "k long, ts date",
    )
    right = spark.createDataFrame(
        [
            (1, dt.date(2020, 6, 1), "A"),
            (1, dt.date(2020, 6, 10), "B"),
            (1, dt.date(2020, 9, 10), "C"),
        ],
        "k long, vts date, tag string",
    )
    return left, right


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
@pytest.mark.parametrize("exact", [True, False])
@pytest.mark.parametrize("tol_days", [None, 20])
def test_tolerance_and_strictness_all_plans_agree(
    spark, direction, exact, tol_days
):
    """tolerance + allow_exact_matches must be honored bit-identically
    by the broadcast plan, the pure-JVM union plan, and the pandas
    cogroup oracle (whose merge_asof implements both knobs natively)."""
    import datetime as dt

    left, right = _tol_sides(spark)
    tol = dt.timedelta(days=tol_days) if tol_days else None
    kw = dict(direction=direction, tolerance=tol, allow_exact_matches=exact)
    outs = {
        "broadcast": asof_join(left, right, ["k"], "ts", "vts", **kw),
        "union": asof_join_grouped(left, right, ["k"], "ts", "vts", **kw),
        "cogroup": cogroup_asof(left, right, ["k"], "ts", "vts", **kw),
    }
    rows = {
        name: sorted((r.k, str(r.ts), r.tag) for r in df.collect())
        for name, df in outs.items()
    }
    assert rows["broadcast"] == rows["union"] == rows["cogroup"], rows


def test_tolerance_strict_semantics_pinned(spark):
    """Pin the concrete contract, not just cross-plan agreement:
    strictness FALLS BACK to the previous version (not a drop), and an
    out-of-tolerance nearest-qualifying version drops the row."""
    import datetime as dt

    left, right = _tol_sides(spark)
    got = {
        str(r.ts): r.tag
        for r in asof_join(
            left, right, ["k"], "ts", "vts",
            direction="backward",
            tolerance=dt.timedelta(days=20),
            allow_exact_matches=False,
        ).collect()
    }
    # 06-10: same-instant B excluded (strict) -> falls back to A (9d);
    # 06-15: B at 5d; 09-01: closest strict-backward is B at 83d > 20d
    # tolerance -> row drops
    assert got == {"2020-06-10": "A", "2020-06-15": "B"}


def test_auto_routes_by_right_side_size(spark, sides):
    """asof_join_auto: a broadcast-sized versioned side takes the
    broadcast+max_by plan; with broadcast disabled (threshold -1) it
    falls over to the pure-JVM union plan — with identical results
    either way."""
    from sales_data_warehouse_spark.operators.asof import asof_join_auto

    l, ph = sides
    kw = dict(on=["p_partkey"], left_ts="ship_date", right_ts="eff_date")
    small = asof_join_auto(l, ph, **kw)  # default threshold: broadcast
    small_plan = small._jdf.queryExecution().executedPlan().toString()
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        big = asof_join_auto(l, ph, **kw)  # union
        big_plan = big._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert "Window" not in small_plan
    assert "Window" in big_plan and "Python" not in big_plan
    assert _key_rows(small) == _key_rows(big)


def test_composite_key_asof_all_plans_agree(spark):
    """Multi-column ``on`` keys: the window/union plan partitions on
    all of them; every plan must agree with the broadcast baseline."""
    import datetime as dt

    left = spark.createDataFrame(
        [
            (1, "eu", dt.date(2024, 2, 1)),
            (1, "us", dt.date(2024, 2, 1)),
            (2, "eu", dt.date(2024, 2, 1)),
        ],
        "k long, region string, ts date",
    )
    right = spark.createDataFrame(
        [
            (1, "eu", dt.date(2024, 1, 1), 10.0),
            (1, "us", dt.date(2024, 1, 15), 20.0),
            (2, "us", dt.date(2024, 1, 1), 99.0),  # region mismatch
        ],
        "k long, region string, vts date, price double",
    )
    want = sorted(
        (r.k, r.region, str(r.ts), r.price)
        for r in asof_join(
            left, right, ["k", "region"], "ts", "vts"
        ).collect()
    )
    assert want == [(1, "eu", "2024-02-01", 10.0), (1, "us", "2024-02-01", 20.0)]
    for engine, fn in GROUPED.items():
        got = sorted(
            (r.k, r.region, str(r.ts), r.price)
            for r in fn(left, right, ["k", "region"], "ts", "vts").collect()
        )
        assert got == want, engine


def test_union_engine_empty_sides(spark):
    """Empty versioned side -> every left row drops (inner); empty left
    -> empty output; schemas intact in both cases."""
    import datetime as dt

    left = spark.createDataFrame(
        [(1, dt.date(2024, 1, 1))], "k long, ts date"
    )
    right = spark.createDataFrame(
        [(1, dt.date(2023, 1, 1), "v")], "k long, vts date, tag string"
    )
    no_right = asof_join_grouped(left, right.limit(0), ["k"], "ts", "vts")
    assert no_right.count() == 0
    assert no_right.columns == ["k", "ts", "vts", "tag"]
    no_left = asof_join_grouped(left.limit(0), right, ["k"], "ts", "vts")
    assert no_left.count() == 0


def test_tolerance_type_validation(spark):
    import datetime as dt

    left, right = _tol_sides(spark)
    with pytest.raises(TypeError, match="timedelta"):
        asof_join(left, right, ["k"], "ts", "vts", tolerance=20)
    with pytest.raises(ValueError, match=">= 0"):
        asof_join(
            left, right, ["k"], "ts", "vts",
            tolerance=dt.timedelta(days=-1),
        )

