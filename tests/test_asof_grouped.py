"""The cogroup/merge_asof as-of variant must agree with the broadcast
join+max_by variant on the same inputs (both directions)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sales_data_warehouse_spark.operators.asof import (
    asof_join,
    asof_join_grouped,
)

SF_DIR = "/root/testdata/sf0.01"


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


@pytest.mark.parametrize("engine", ["union", "cogroup"])
@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
def test_grouped_matches_broadcast(spark, sides, direction, engine):
    l, ph = sides
    want = asof_join(
        l, ph, on=["p_partkey"], left_ts="ship_date", right_ts="eff_date",
        direction=direction,
    )
    got = asof_join_grouped(
        l, ph, on=["p_partkey"], left_ts="ship_date", right_ts="eff_date",
        direction=direction, engine=engine,
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
    plans = [
        ("broadcast", lambda *a, **k: asof_join(*a, **k)),
        ("union", lambda *a, **k: asof_join_grouped(*a, **k, engine="union")),
        (
            "cogroup",
            lambda *a, **k: asof_join_grouped(*a, **k, engine="cogroup"),
        ),
    ]
    for name, fn in plans:
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
    """The union engine matches asof_join's inner contract where the
    cogroup engine errors: NULL-ts facts drop, NULL-ts versions never
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
            direction=direction, engine="union",
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
                direction="nearest", engine="union",
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
    by the broadcast plan, the pure-JVM union engine, and the pandas
    cogroup engine (whose merge_asof implements both knobs natively —
    an independent oracle)."""
    import datetime as dt

    left, right = _tol_sides(spark)
    tol = dt.timedelta(days=tol_days) if tol_days else None
    kw = dict(direction=direction, tolerance=tol, allow_exact_matches=exact)
    outs = {
        "broadcast": asof_join(left, right, ["k"], "ts", "vts", **kw),
        "union": asof_join_grouped(
            left, right, ["k"], "ts", "vts", engine="union", **kw
        ),
        "cogroup": asof_join_grouped(
            left, right, ["k"], "ts", "vts", engine="cogroup", **kw
        ),
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
    falls over to the pure-JVM union engine — with identical results
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
    """Multi-column ``on`` keys: the window/union engine partitions on
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
    for engine in ("union", "cogroup"):
        got = sorted(
            (r.k, r.region, str(r.ts), r.price)
            for r in asof_join_grouped(
                left, right, ["k", "region"], "ts", "vts", engine=engine
            ).collect()
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
    no_right = asof_join_grouped(
        left, right.limit(0), ["k"], "ts", "vts", engine="union"
    )
    assert no_right.count() == 0
    assert no_right.columns == ["k", "ts", "vts", "tag"]
    no_left = asof_join_grouped(
        left.limit(0), right, ["k"], "ts", "vts", engine="union"
    )
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


def test_nearest_rejects_envelope_prefilter(spark):
    df = spark.createDataFrame([(1, 1)], "k int, ts int")
    with pytest.raises(ValueError, match="envelope_prefilter"):
        asof_join(
            df, df, ["k"], "ts", "ts",
            direction="nearest", envelope_prefilter=True,
        )


def test_envelope_prefilter_preserves_results(spark):
    """envelope_prefilter prunes right-side versions outside the left's
    reachable time range without changing any result row."""
    from sales_data_warehouse_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "2020-06-01"), (1, "2020-07-01"), (2, "2020-06-15")],
        "k int, ts string",
    ).selectExpr("k", "CAST(ts AS DATE) AS ts")
    # versions include ones AFTER every left ts (prunable backward) and
    # ancient ones (never prunable backward)
    right = spark.createDataFrame(
        [
            (1, "2019-01-01", 10.0), (1, "2020-06-20", 11.0),
            (1, "2021-01-01", 12.0),   # future: prunable
            (2, "2020-01-01", 20.0), (2, "2022-01-01", 21.0),  # future
        ],
        "k int, vts string, price double",
    ).selectExpr("k", "CAST(vts AS DATE) AS vts", "price")

    plain = asof_join(left, right, ["k"], "ts", "vts").collect()
    pruned = asof_join(
        left, right, ["k"], "ts", "vts", envelope_prefilter=True
    ).collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, pruned))
    # and forward direction prunes from below, same results
    fplain = asof_join(
        left, right, ["k"], "ts", "vts", direction="forward"
    ).collect()
    fpruned = asof_join(
        left, right, ["k"], "ts", "vts",
        direction="forward", envelope_prefilter=True,
    ).collect()
    assert sorted(map(tuple, fplain)) == sorted(map(tuple, fpruned))
