"""Property-based as-of join checks: for random event/version sets, the
joined version must be the latest one at-or-before the event (backward)
— verified against a brute-force python oracle — and both plans
(broadcast max_by, union window) and the cogroup merge_asof oracle must
agree."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from test_asof_grouped import cogroup_asof

from sales_data_warehouse_spark.operators.asof import (
    asof_join,
    asof_join_grouped,
)

BASE = dt.date(2020, 1, 1)

events = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 60)),  # (key, day offset)
    min_size=1,
    max_size=25,
)
versions = st.lists(
    st.tuples(st.integers(0, 3), st.integers(0, 60), st.integers(1, 999)),
    min_size=1,
    max_size=12,
    unique_by=lambda t: (t[0], t[1]),  # one version per (key, day)
)


def _oracle(evts, vers):
    out = []
    for i, (k, d) in enumerate(evts):
        cands = [(vd, price) for vk, vd, price in vers if vk == k and vd <= d]
        if cands:
            vd, price = max(cands)
            out.append((i, k, d, vd, price))
    return sorted(out)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(evts=events, vers=versions)
def test_asof_matches_bruteforce_oracle(spark, evts, vers):
    left = spark.createDataFrame(
        [
            (i, k, BASE + dt.timedelta(days=d))
            for i, (k, d) in enumerate(evts)
        ],
        "event_id int, key int, ts date",
    )
    right = spark.createDataFrame(
        [
            (k, BASE + dt.timedelta(days=d), p)
            for k, d, p in vers
        ],
        "key int, vts date, price int",
    )
    want = _oracle(evts, vers)

    for impl in (asof_join, asof_join_grouped):
        got = impl(left, right, on=["key"], left_ts="ts", right_ts="vts")
        rows = sorted(
            (
                r["event_id"],
                r["key"],
                (r["ts"] - BASE).days,
                (r["vts"] - BASE).days,
                r["price"],
            )
            for r in got.collect()
        )
        assert rows == want, impl.__name__


def _oracle_tol(evts, vers, tol_days, exact):
    """Brute force with bounded staleness and optional strict bound."""
    out = []
    for i, (k, d) in enumerate(evts):
        cands = [
            (vd, price)
            for vk, vd, price in vers
            if vk == k
            and (vd <= d if exact else vd < d)
            and d - vd <= tol_days
        ]
        if cands:
            vd, price = max(cands)
            out.append((i, k, d, vd, price))
    return sorted(out)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    evts=events,
    vers=versions,
    tol_days=st.integers(0, 30),
    exact=st.booleans(),
)
def test_asof_tolerance_matches_bruteforce_oracle(
    spark, evts, vers, tol_days, exact
):
    """Random tolerance + strictness: both physical plans and the
    cogroup oracle must equal the brute-force python oracle."""
    left = spark.createDataFrame(
        [
            (i, k, BASE + dt.timedelta(days=d))
            for i, (k, d) in enumerate(evts)
        ],
        "event_id int, key int, ts date",
    )
    right = spark.createDataFrame(
        [(k, BASE + dt.timedelta(days=d), p) for k, d, p in vers],
        "key int, vts date, price int",
    )
    want = _oracle_tol(evts, vers, tol_days, exact)
    kw = dict(
        on=["key"], left_ts="ts", right_ts="vts",
        tolerance=dt.timedelta(days=tol_days), allow_exact_matches=exact,
    )
    impls = [
        ("broadcast", lambda: asof_join(left, right, **kw)),
        ("union", lambda: asof_join_grouped(left, right, **kw)),
        ("cogroup", lambda: cogroup_asof(left, right, **kw)),
    ]
    for name, make in impls:
        rows = sorted(
            (
                r["event_id"],
                r["key"],
                (r["ts"] - BASE).days,
                (r["vts"] - BASE).days,
                r["price"],
            )
            for r in make().collect()
        )
        assert rows == want, name


def test_asof_auto_routes_huge_right_to_union(spark):
    # asof_join_auto must not broadcast a versioned side past the
    # threshold: the decompression margin applies, so a side whose raw
    # estimate fits but whose margined estimate does not takes the
    # union engine, with the broadcast plan's rows
    from sales_data_warehouse_spark.operators.asof import asof_join_auto
    from sales_data_warehouse_spark.session import BROADCAST_SIZE_MARGIN

    left = spark.createDataFrame([(1, 1), (3, 250)], "key int, ts int")
    right = spark.range(0, 500).selectExpr(
        "CAST(id % 5 AS INT) AS key", "CAST(id AS INT) AS vts"
    )
    est = int(str(right._jdf.queryExecution().optimizedPlan().stats()
                  .sizeInBytes()))

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    kw = dict(on=["key"], left_ts="ts", right_ts="vts")
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, str(est * BROADCAST_SIZE_MARGIN - 1))
        over = asof_join_auto(left, right, **kw)
        p_over = plan(over)
        spark.conf.set(key, str(est * BROADCAST_SIZE_MARGIN))
        under = asof_join_auto(left, right, **kw)
        p_under = plan(under)
    finally:
        spark.conf.set(key, old)
    assert "Window" in p_over and "Join" not in p_over
    assert "Join" in p_under and "Window" not in p_under
    truth = sorted(map(tuple, asof_join(left, right, **kw).collect()))
    assert len(truth) == 2
    for df in (over, under):
        assert sorted(map(tuple, df.collect())) == truth


def test_asof_unique_left_groups_by_real_keys(spark):
    # unique_left=True: same semantics when (on, left_ts) is unique.
    left = spark.createDataFrame(
        [(1, 10), (1, 20), (2, 15)], "key int, ts int"
    )
    right = spark.createDataFrame(
        [(1, 5, 100), (1, 15, 110), (2, 10, 200)],
        "key int, vts int, price int",
    )
    for flag in (False, True):
        got = sorted(
            (r["key"], r["ts"], r["vts"], r["price"])
            for r in asof_join(
                left, right, on=["key"], left_ts="ts", right_ts="vts",
                unique_left=flag,
            ).collect()
        )
        assert got == [(1, 10, 5, 100), (1, 20, 15, 110), (2, 15, 10, 200)]
