"""Operator-level query corpus: one entry per SURVEY.md §2 operator,
each with a DuckDB-runnable ANSI-SQL oracle (the driver's correctness
gate, see ``__spark_entry__``).

Cross-engine determinism rules used throughout (learned empirically —
both engines verified to agree under them):

* Money math in DECIMAL(18,2): all monetary doubles in the testdata are
  2-decimal, so casting to decimal makes every SUM exact and independent
  of partition/aggregation order; final results are cast back to DOUBLE.
  Plain double sums would drift in the low bits per partitioning.
* Ratios/averages: computed from exact components then rounded, so both
  engines round the same double.
* Derived integer columns cast to BIGINT (DuckDB's natural width).
* Timestamp outputs as TIMESTAMP_NTZ under a UTC session (DuckDB
  timestamps are naive).
* ``events.ts`` layout varies across testdata generations:
  TIMESTAMP(NANOS) (which Spark's reader rejects — loaded via
  ``spark.sql.legacy.parquet.nanosAsLong`` + integer ``DIV 1000`` to
  microseconds, exact where double division would lose precision at
  1e18 nanos) or plain TIMESTAMP(MICROS). ``load_table`` branches on
  the type it actually read and normalizes both to TIMESTAMP_NTZ.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sales_data_warehouse_spark.operators import (
    chunking,
    dedup,
    similarity,
    text,
)
from sales_data_warehouse_spark.operators.asof import (
    asof_join,
    asof_join_auto,
)
from sales_data_warehouse_spark.operators.multimodal import (
    attach_binary_payload,
    decode_batch,
    extract_features,
    sample_frames,
)
from sales_data_warehouse_spark.session import fits_broadcast
from sales_data_warehouse_spark.sources.compaction import fs_stamp

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


#: (applicationId, sf_dir, name) -> (stamp, analyzed DataFrame).
#: DataFrames are immutable lazy plans, so reuse is safe; reuse skips
#: the file listing + parquet-footer schema read (a median 68-87 ms per
#: sf0.01 corpus table against about 2 ms for a hit, on a 4-core VM).
#: The stamp is the table path's modification time and length
#: (``compaction.fs_stamp``, about 1.5 ms per call): Spark's writes
#: create or delete entries in the table directory, so a table
#: rewritten within the application reads afresh instead of through a
#: plan that pins deleted files.
_TABLE_CACHE: dict[
    tuple[str, str, str], tuple[tuple[int, int], DataFrame]
] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table; normalizes ``events.ts`` to TIMESTAMP_NTZ.

    The driver's testdata has shipped ``events.ts`` both as
    TIMESTAMP(NANOS) (readable only as int64 via ``nanosAsLong``) and as
    plain TIMESTAMP(MICROS); branch on the type actually read so both
    layouts produce the same naive-UTC timestamp column.
    """
    key = (spark.sparkContext.applicationId, sf_dir, name)
    stamp = fs_stamp(spark, f"{sf_dir}/{name}.parquet")
    cached = _TABLE_CACHE.get(key)
    if cached is not None and cached[0] == stamp:
        return cached[1]
    df = _load_table_uncached(spark, sf_dir, name)
    if stamp is not None:
        _TABLE_CACHE[key] = (stamp, df)
    return df


def _load_table_uncached(
    spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts_type = df.schema["ts"].dataType.simpleString()
        if ts_type == "bigint":  # nanos-as-long layout
            return df.withColumn(
                "ts",
                F.expr(
                    "CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)"
                ),
            )
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


from sales_data_warehouse_spark.functions import money as _money  # noqa: E402


# SQL fragment mirrors of _money for the oracles.
_D = "CAST({} AS DECIMAL(18,2))"


# ---------------------------------------------------------------------------
# Aggregations / scans (SURVEY S1, P1, A2, A4; TPC-H Q1 shape)
# ---------------------------------------------------------------------------

@query(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """Flagship: TPC-H Q1-shaped pricing summary (filter + groupBy agg).

    The plan to want at 100 TB: parquet scan with the shipdate filter
    pushed down, map-side partial aggregation, tiny shuffle of 4 groups.
    """
    l = load_table(spark, sf, "lineitem")
    disc = _money("l_extendedprice") * (F.lit(1) - _money("l_discount"))
    charge = disc * (F.lit(1) + _money("l_tax"))
    return (
        # strict < next-midnight on the raw timestamp == cast-to-date <=
        # 1998-09-02, but the uncast comparison reaches the parquet scan
        # as a pushed filter (a CAST on the column blocks pushdown).
        l.filter(F.col("l_shipdate") < F.to_timestamp(F.lit("1998-09-03")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_money("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_money("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            F.round(
                F.sum(_money("l_quantity")).cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_qty"),
            F.round(
                F.sum(_money("l_extendedprice")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "filter_projection",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'O' AND o_totalprice > 200000
    """,
)
def filter_projection(spark: SparkSession, sf: str) -> DataFrame:
    """S1/P1/P4: projection + predicate — both must reach the parquet scan
    (PushedFilters / pruned ReadSchema in explain)."""
    o = load_table(spark, sf, "orders")
    return o.filter(
        (F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 200000)
    ).select("o_orderkey", "o_custkey", "o_totalprice")


@query(
    "scalar_aggregates",
    """
    SELECT COALESCE(MAX(o_orderkey), 0) AS max_orderkey,
           COUNT(*) AS n_orders,
           CAST(MIN(o_orderdate) AS DATE) AS first_order,
           CAST(MAX(o_orderdate) AS DATE) AS last_order
    FROM orders
    """,
)
def scalar_aggregates(spark: SparkSession, sf: str) -> DataFrame:
    """A1/A2/P6: scalar MAX with COALESCE default + MIN/MAX date bounds
    (the reference's order-id seed and calendar-bounds queries)."""
    o = load_table(spark, sf, "orders")
    return o.agg(
        F.coalesce(F.max("o_orderkey"), F.lit(0)).alias("max_orderkey"),
        F.count(F.lit(1)).alias("n_orders"),
        F.min(F.col("o_orderdate").cast("date")).alias("first_order"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
    )


@query(
    "distinct_dedup",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """A5/S7: full-row DISTINCT (the reference's cleansed dedup)."""
    return (
        load_table(spark, sf, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
    )


@query(
    "group_having",
    """
    SELECT o_custkey, COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey HAVING COUNT(*) > 15
    """,
)
def group_having(spark: SparkSession, sf: str) -> DataFrame:
    """A4/A6: GROUP BY + HAVING over count (reference J10's guard)."""
    o = load_table(spark, sf, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") > 15)
    )


@query(
    "case_when_classify",
    """
    SELECT o_orderstatus,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'high'
                WHEN o_orderpriority = '3-MEDIUM' THEN 'medium'
                ELSE 'low' END AS priority_class,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
    FROM orders GROUP BY 1, 2
    """,
)
def case_when_classify(spark: SparkSession, sf: str) -> DataFrame:
    """P5: multi-branch CASE WHEN (the reference's SCD2 status logic)."""
    o = load_table(spark, sf, "orders")
    cls = (
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit("high")
        )
        .when(F.col("o_orderpriority") == "3-MEDIUM", F.lit("medium"))
        .otherwise(F.lit("low"))
    )
    return (
        o.withColumn("priority_class", cls)
        .groupBy("o_orderstatus", "priority_class")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_money("o_totalprice")).cast("double").alias("sum_total"),
        )
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY J1-J11)
# ---------------------------------------------------------------------------

@query(
    "join_multiway",
    """
    SELECT r_name, n_name,
           COUNT(*) AS n_lineitems,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def join_multiway(spark: SparkSession, sf: str) -> DataFrame:
    """J1/J2: chained equi-joins up a hierarchy; nation/region broadcast
    (the reference's 5-way time-hierarchy assembly shape).

    Size-routed dual plan (r15, guide §3.1): when the pruned orders
    AND customer projections both fit a broadcast (the optimizer's
    size estimate, ``session.fits_broadcast``), the whole hierarchy
    collapses to broadcast lookups over ONE lineitem scan with a
    single exchange — the final partial/merge aggregate. The
    flat decimal sum is bit-identical to the eager two-level sum
    (decimal partials are exact), so both routes produce the same
    rows; pinned by tests over both routes and the DuckDB oracle.
    """
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf, "customer").select("c_custkey", "c_nationkey")
    if fits_broadcast(o, c):
        return _join_multiway_broadcast(spark, sf, o, c)
    return _join_multiway_eager(spark, sf)


def _join_multiway_broadcast(
    spark: SparkSession, sf: str, o: DataFrame, c: DataFrame
) -> DataFrame:
    """Small route: every dimension side broadcasts, so lineitem is
    never shuffled at all — scan -> 4 broadcast hash joins -> one
    aggregate exchange (vs the eager route's three). ``o`` and ``c``
    are the pruned orders and customer projections."""
    l = load_table(spark, sf, "lineitem")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    rev = _money("l_extendedprice") * (F.lit(1) - _money("l_discount"))
    return (
        l.select(F.col("l_orderkey"), rev.alias("_rev"))
        .join(F.broadcast(o), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
            F.sum("_rev").cast("double").alias("revenue"),
        )
    )


def _join_multiway_eager(spark: SparkSession, sf: str) -> DataFrame:
    """Large route (the r14 shape, unchanged): eager aggregation —
    revenue needs no order/customer attributes until the final rollup,
    so lineitem pre-aggregates per orderkey BEFORE the orders join and
    re-aggregates per custkey before the customer join — each shuffle
    carries partial sums at the next key's cardinality instead of raw
    lineitem rows (the decimal partials stay exact, so two-level
    summing is bit-identical to the flat aggregate). At 100 TB this is
    the difference between shuffling the fact table twice and shuffling
    |orders|- then |customers|-sized partials."""
    l = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    rev = _money("l_extendedprice") * (F.lit(1) - _money("l_discount"))
    per_order = l.groupBy("l_orderkey").agg(
        F.sum(rev).alias("_rev"), F.count(F.lit(1)).alias("_n")
    )
    per_cust = (
        per_order.join(
            o.select("o_orderkey", "o_custkey"),
            per_order.l_orderkey == o.o_orderkey,
        )
        .groupBy("o_custkey")
        .agg(F.sum("_rev").alias("_rev"), F.sum("_n").alias("_n"))
    )
    return (
        per_cust.join(
            c.select("c_custkey", "c_nationkey"),
            per_cust.o_custkey == c.c_custkey,
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum("_n").cast("bigint").alias("n_lineitems"),
            F.sum("_rev").cast("double").alias("revenue"),
        )
    )


@query(
    "topk_revenue_orders",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue,
           CAST(o_orderdate AS DATE) AS order_date,
           o_orderpriority
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'O'
    GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def topk_revenue_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: filter + join + group + global top-k. Spark plans
    the ORDER BY+LIMIT as TakeOrderedAndProject — each task keeps a
    10-row heap and only those heaps cross the network, never a global
    sort."""
    l = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    rev = _money("l_extendedprice") * (F.lit(1) - _money("l_discount"))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .filter(F.col("o_orderstatus") == "O")
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_orderpriority",
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "order_date", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "join_composite_key",
    """
    WITH order_part AS (
      SELECT l_orderkey, l_partkey, COUNT(*) AS n_lines,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      FROM lineitem GROUP BY l_orderkey, l_partkey
    )
    SELECT l.l_orderkey, l.l_partkey, l.l_linenumber, op.n_lines, op.total_qty
    FROM lineitem l
    JOIN order_part op
      ON l.l_orderkey = op.l_orderkey AND l.l_partkey = op.l_partkey
    WHERE op.n_lines > 1
    """,
)
def join_composite_key(spark: SparkSession, sf: str) -> DataFrame:
    """J4: multi-column equi-join (the reference's 4-key location join).

    SHUFFLE_HASH hint, deliberately: without it Catalyst's static plan
    BROADCASTS the raw fact scan (it cannot estimate the aggregated
    side below the threshold, so it picks the side with known size —
    the 6M-row one at 10x). Hash-partitioning both sides on the
    composite key instead lets the aggregate's exchange be reused for
    the join, is faster at base scale (0.72 s vs 0.93 s at sf0.1), and
    never builds a fact-sized broadcast at any scale."""
    l = load_table(spark, sf, "lineitem")
    op = l.groupBy("l_orderkey", "l_partkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(_money("l_quantity")).cast("double").alias("total_qty"),
    )
    return (
        l.hint("shuffle_hash")
        .join(op, on=["l_orderkey", "l_partkey"])
        .filter(F.col("n_lines") > 1)
        .select("l_orderkey", "l_partkey", "l_linenumber", "n_lines", "total_qty")
    )


@query(
    "dense_cube_crossjoin",
    """
    SELECT s.o_orderstatus, p.o_orderpriority, COALESCE(c.n, 0) AS n_orders
    FROM (SELECT DISTINCT o_orderstatus FROM orders) s
    CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders) p
    LEFT JOIN (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      FROM orders GROUP BY 1, 2
    ) c ON s.o_orderstatus = c.o_orderstatus
       AND p.o_orderpriority = c.o_orderpriority
    """,
)
def dense_cube_crossjoin(spark: SparkSession, sf: str) -> DataFrame:
    """J6/J7/P6: dense cube via CROSS JOIN + LEFT JOIN + COALESCE(0) —
    the reference fact cube in miniature (FactTable.sql:78-110)."""
    o = load_table(spark, sf, "orders")
    s = o.select("o_orderstatus").distinct()
    p = o.select("o_orderpriority").distinct()
    c = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        s.crossJoin(p)
        .join(c, on=["o_orderstatus", "o_orderpriority"], how="left")
        .select(
            "o_orderstatus",
            "o_orderpriority",
            F.coalesce(F.col("n"), F.lit(0)).alias("n_orders"),
        )
    )


@query(
    "left_join_coalesce",
    """
    SELECT n_name, COALESCE(c.n_customers, 0) AS n_customers
    FROM nation
    LEFT JOIN (
      SELECT c_nationkey, COUNT(*) AS n_customers FROM customer GROUP BY 1
    ) c ON n_nationkey = c.c_nationkey
    """,
)
def left_join_coalesce(spark: SparkSession, sf: str) -> DataFrame:
    """J7: LEFT JOIN with zero-fill."""
    n = load_table(spark, sf, "nation")
    c = (
        load_table(spark, sf, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    return (
        n.join(c, n.n_nationkey == c.c_nationkey, "left")
        .select(
            "n_name", F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers")
        )
    )


@query(
    "anti_join",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
    )
    """,
)
def anti_join(spark: SparkSession, sf: str) -> DataFrame:
    """J9: NOT EXISTS -> left_anti (reference's all_products guard).
    Against urgent orders: every customer has SOME order in this
    synthetic data, so the unfiltered form returns zero rows and the
    hash check would be vacuous (203 rows at sf0.01 this way)."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "semi_join_having",
    """
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE c_custkey IN (
      SELECT o_custkey FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
    )
    """,
)
def semi_join_having(spark: SparkSession, sf: str) -> DataFrame:
    """J10/A6: pre-aggregated counts + left_semi (reference's correlated
    EXISTS ... HAVING COUNT(*)>1 rewritten set-based)."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    frequent = (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 15)
    )
    return c.join(
        frequent, c.c_custkey == frequent.o_custkey, "left_semi"
    ).select("c_custkey", "c_mktsegment")


def _price_history(spark: SparkSession, sf: str) -> DataFrame:
    """Synthetic SCD2 price history from part: v1 at 1995-01-01 (retail
    price), v2 at 1998-01-01 (price * 1.2, exact decimal).

    Single-scan explode rather than a two-branch union: the union form
    scans ``part`` once per version branch, and every consumer of this
    table (the broadcast build and the equality re-join in the
    pricelist rollup) multiplies that. Explode
    of a 2-element struct array emits both versions from one pass —
    same rows, same types, half the scans."""
    p = load_table(spark, sf, "part")
    v1 = F.struct(
        _money("p_retailprice").alias("eff_price"),
        F.lit("1995-01-01").cast("date").alias("eff_date"),
    )
    v2 = F.struct(
        (_money("p_retailprice") * F.lit(1.2).cast("decimal(2,1)"))
        .cast("decimal(18,2)")
        .alias("eff_price"),
        F.lit("1998-01-01").cast("date").alias("eff_date"),
    )
    return p.select(
        "p_partkey", F.explode(F.array(v1, v2)).alias("__v")
    ).select("p_partkey", "__v.eff_price", "__v.eff_date")


_PRICE_HISTORY_SQL = """
      SELECT p_partkey, CAST(p_retailprice AS DECIMAL(18,2)) AS eff_price,
             DATE '1995-01-01' AS eff_date FROM part
      UNION ALL
      SELECT p_partkey,
             CAST(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(1.2 AS DECIMAL(2,1))
                  AS DECIMAL(18,2)) AS eff_price,
             DATE '1998-01-01' AS eff_date FROM part
"""


@query(
    "asof_join_pricelist",
    f"""
    WITH price_history AS ({_PRICE_HISTORY_SQL}),
    -- as-of resolved at the (partkey, ship_date) grain: the synthetic
    -- lineitem has duplicate (orderkey, linenumber) pairs, so a
    -- per-row window partition would collapse rows
    best AS (
      SELECT li.l_partkey, li.ship_date, MAX(ph.eff_date) AS eff_date
      FROM (SELECT DISTINCT l_partkey, CAST(l_shipdate AS DATE) AS ship_date
            FROM lineitem) li
      JOIN price_history ph
        ON ph.p_partkey = li.l_partkey AND ph.eff_date <= li.ship_date
      GROUP BY 1, 2
    )
    SELECT b.eff_date, COUNT(*) AS n_lines,
           CAST(SUM(ph.eff_price) AS DOUBLE) AS sum_eff_price
    FROM lineitem l
    JOIN best b
      ON b.l_partkey = l.l_partkey AND b.ship_date = CAST(l.l_shipdate AS DATE)
    JOIN price_history ph
      ON ph.p_partkey = l.l_partkey AND ph.eff_date = b.eff_date
    GROUP BY b.eff_date
    """,
)
def asof_join_pricelist(spark: SparkSession, sf: str) -> DataFrame:
    """J8/W3/O3: as-of join — each lineitem priced at the latest price
    version effective on its ship date (the reference's correlated
    scalar-subquery price lookup, via the join+max_by idiom).

    Resolved at the ``(partkey, ship_date)`` grain, mirroring the
    oracle's CTE: lineitem pre-aggregates to per-key line counts (ONE
    map-side-combining shuffle of two narrow columns), the as-of
    reduction runs on that small key table against the price list
    (``asof_join_auto``: broadcast while it fits, else the union
    engine), and the final rollup weights each resolved price by its
    line count — the fact table is never shuffled row-wise and nothing
    fact-sized is broadcast. The previous per-row formulation shuffled
    every lineitem keyed on a synthetic row id (2.74 s at sf0.1); this
    is the shape that survives 100 TB."""
    l = load_table(spark, sf, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
    )
    ph = _price_history(spark, sf)
    per_key = l.groupBy("p_partkey", "ship_date").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    best = asof_join_auto(
        per_key,
        ph,
        on=["p_partkey"],
        left_ts="ship_date",
        right_ts="eff_date",
        unique_left=True,
    )
    return best.groupBy("eff_date").agg(
        F.sum("cnt").alias("n_lines"),
        F.sum(F.col("eff_price") * F.col("cnt")).cast("double").alias(
            "sum_eff_price"
        ),
    )


@query("asof_join_grouped_pricelist", ORACLE["asof_join_pricelist"])
def asof_join_grouped_pricelist(spark: SparkSession, sf: str) -> DataFrame:
    """The SAME as-of semantics through the both-sides-huge path:
    ``asof_join_grouped`` (round-7 pure-JVM union plan) union-tags
    both sides, shuffles ONCE on the key, and carries the latest
    version forward with a running ``last(ignorenulls)`` window — no
    Python anywhere (was the pandas-cogroup plan's flat ~26 s Arrow
    tax; now ~1.8 s warm at sf0.1). Must reproduce the broadcast+max_by
    plan's results exactly (oracle shared verbatim)."""
    from sales_data_warehouse_spark.operators.asof import asof_join_grouped

    l = load_table(spark, sf, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
    )
    ph = _price_history(spark, sf)
    per_key = l.groupBy("p_partkey", "ship_date").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    best = asof_join_grouped(
        per_key, ph, on=["p_partkey"], left_ts="ship_date",
        right_ts="eff_date",
    )
    return best.groupBy("eff_date").agg(
        F.sum("cnt").alias("n_lines"),
        F.sum(F.col("eff_price") * F.col("cnt")).cast("double").alias(
            "sum_eff_price"
        ),
    )


@query(
    "asof_join_tolerance",
    f"""
    WITH price_history AS ({_PRICE_HISTORY_SQL}),
    best AS (
      SELECT li.l_partkey, li.ship_date, MAX(ph.eff_date) AS eff_date
      FROM (SELECT DISTINCT l_partkey, CAST(l_shipdate AS DATE) AS ship_date
            FROM lineitem) li
      JOIN price_history ph
        ON ph.p_partkey = li.l_partkey AND ph.eff_date <= li.ship_date
       AND DATEDIFF('day', ph.eff_date, li.ship_date) <= 400
      GROUP BY 1, 2
    )
    SELECT b.eff_date, COUNT(*) AS n_lines,
           CAST(SUM(ph.eff_price) AS DOUBLE) AS sum_eff_price
    FROM lineitem l
    JOIN best b
      ON b.l_partkey = l.l_partkey AND b.ship_date = CAST(l.l_shipdate AS DATE)
    JOIN price_history ph
      ON ph.p_partkey = l.l_partkey AND ph.eff_date = b.eff_date
    GROUP BY b.eff_date
    """,
)
def asof_join_tolerance(spark: SparkSession, sf: str) -> DataFrame:
    """J8 extension (round 7): bounded-staleness as-of — each line is
    priced at the latest version effective on its ship date ONLY if
    that version is at most 400 days old; staler matches DROP (pandas
    merge_asof's ``tolerance``, here a ``timedelta``). The bound
    provably bites on this data: versions sit at 1995-01-01/1998-01-01
    while ship dates span multiple years, so far-from-version lines
    fall out instead of being silently priced off a years-old list.
    Runs through the pure-JVM union engine, so the driver row covers
    the round-7 plan AND the new knob; both physical plans and the
    pandas ``merge_asof`` oracle are pinned bit-identical on
    tolerance/strictness in ``tests/test_asof_grouped.py``. Registered
    after the frozen r7 window — first in line for an r8 hard row
    (capacity policy: this is entry #149 of 150)."""
    import datetime as dt

    from sales_data_warehouse_spark.operators.asof import asof_join_grouped

    l = load_table(spark, sf, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
    )
    ph = _price_history(spark, sf)
    per_key = l.groupBy("p_partkey", "ship_date").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    best = asof_join_grouped(
        per_key, ph, on=["p_partkey"], left_ts="ship_date",
        right_ts="eff_date", tolerance=dt.timedelta(days=400),
    )
    return best.groupBy("eff_date").agg(
        F.sum("cnt").alias("n_lines"),
        F.sum(F.col("eff_price") * F.col("cnt")).cast("double").alias(
            "sum_eff_price"
        ),
    )


# ---------------------------------------------------------------------------
# Windows / sorts (SURVEY W1-W3, O1-O3)
# ---------------------------------------------------------------------------

@query(
    "window_dense_rank",
    """
    SELECT p_partkey, p_brand,
           DENSE_RANK() OVER (
             PARTITION BY p_brand ORDER BY p_retailprice DESC
           ) AS price_rank
    FROM part
    """,
)
def window_dense_rank(spark: SparkSession, sf: str) -> DataFrame:
    """W1: DENSE_RANK (reference product-id renumbering)."""
    p = load_table(spark, sf, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"))
    return p.select(
        "p_partkey",
        "p_brand",
        F.dense_rank().over(w).cast("bigint").alias("price_rank"),
    )


@query(
    "window_top1_per_group",
    """
    SELECT o_custkey, o_orderkey, o_orderdate FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC
             ) AS rn
      FROM orders
    ) t WHERE rn = 1
    """,
)
def window_top1_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """W2/W3/O3: latest order per customer (top-1-per-group idiom)."""
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )


@query(
    "window_running_total",
    """
    SELECT o_orderkey, o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_spend
    FROM orders
    """,
)
def window_running_total(spark: SparkSession, sf: str) -> DataFrame:
    """Analytic frame spec (ROWS BETWEEN): per-customer running spend —
    beyond the reference's window surface, standard warehouse ask."""
    o = load_table(spark, sf, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.sum(_money("o_totalprice")).over(w).cast("double").alias("running_spend"),
    )


@query(
    "window_lag_gap",
    """
    SELECT o_orderkey, o_custkey,
           DATE_DIFF('day',
             LAG(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
             o_orderdate) AS days_since_prev
    FROM orders
    """,
)
def window_lag_gap(spark: SparkSession, sf: str) -> DataFrame:
    """LAG + date arithmetic: days since the customer's previous order."""
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate"), prev).cast("bigint").alias(
            "days_since_prev"
        ),
    )


@query(
    "topk_global_sort",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
)
def topk_global_sort(spark: SparkSession, sf: str) -> DataFrame:
    """O1/O3: global ORDER BY + LIMIT — Spark executes as TakeOrdered
    (per-partition top-k + merge), never a full sort at scale."""
    o = load_table(spark, sf, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.7)
# ---------------------------------------------------------------------------

@query(
    "set_union",
    """
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
)
def set_union(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.union(s).distinct()


@query(
    "set_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def set_intersect(spark: SparkSession, sf: str) -> DataFrame:
    c = load_table(spark, sf, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.intersect(s)


@query(
    "set_except",
    """
    SELECT o_custkey FROM orders
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def set_except(spark: SparkSession, sf: str) -> DataFrame:
    """Customers with orders but none urgent. (The previous
    customer-nations EXCEPT supplier-nations form was empty at every
    SF — suppliers cover all nations — making the check vacuous.)"""
    o = load_table(spark, sf, "orders")
    a = o.select("o_custkey")
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return a.subtract(b)  # EXCEPT (set semantics; exceptAll = multiset)


# ---------------------------------------------------------------------------
# Grouping sets (query layer over the star schema, SURVEY §2.4 note)
# ---------------------------------------------------------------------------

@query(
    "rollup_revenue",
    """
    SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year, o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY ROLLUP (CAST(YEAR(o_orderdate) AS BIGINT), o_orderstatus)
    """,
)
def rollup_revenue(spark: SparkSession, sf: str) -> DataFrame:
    o = load_table(spark, sf, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("bigint")
    )
    return o.rollup("o_year", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_money("o_totalprice")).cast("double").alias("revenue"),
    )


@query(
    "cube_quantity",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_quantity(spark: SparkSession, sf: str) -> DataFrame:
    l = load_table(spark, sf, "lineitem")
    return l.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(_money("l_quantity")).cast("double").alias("sum_qty"),
    )


@query(
    "grouping_sets_revenue",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY GROUPING SETS (
      (o_orderstatus, o_orderpriority), (o_orderstatus), ()
    )
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind rollup/cube) with
    GROUPING() markers disambiguating aggregated-away NULLs."""
    o = load_table(spark, sf, "orders")
    o.createOrReplaceTempView("_gs_orders")
    return o.sparkSession.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue
        FROM _gs_orders
        GROUP BY GROUPING SETS (
          (o_orderstatus, o_orderpriority), (o_orderstatus), ()
        )
        """
    )


@query(
    "pivot_status_by_year",
    """
    SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_o,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_p
    FROM orders GROUP BY 1
    """,
)
def pivot_status_by_year(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot (crosstab): order counts per year spread across status
    columns. Explicit pivot values keep the plan single-pass (without
    them Spark runs an extra distinct scan to discover the columns)."""
    o = load_table(spark, sf, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("bigint")
    )
    return (
        o.groupBy("o_year")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_year",
            F.coalesce(F.col("F"), F.lit(0)).cast("bigint").alias("n_f"),
            F.coalesce(F.col("O"), F.lit(0)).cast("bigint").alias("n_o"),
            F.coalesce(F.col("P"), F.lit(0)).cast("bigint").alias("n_p"),
        )
    )


@query(
    "approx_sketches",
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           COUNT(*) AS n_items,
           TRUE AS distinct_err_ok,
           TRUE AS median_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_sketches(spark: SparkSession, sf: str) -> DataFrame:
    """The sketch path for 100 TB aggregates: HyperLogLog distinct
    counts and KLL-style quantiles in fixed memory per group, where the
    exact forms buffer per-group values.

    Property oracle (sketch internals are engine-specific, so raw
    sketch outputs can't hash-match SQL): per group, emit the exact
    twins plus booleans asserting the sketch landed inside its error
    envelope — HLL relative error <= 0.10 (default rsd 0.05; measured
    ~0.026 here) and the approximate median inside the exact p45..p55
    band. The oracle claims TRUE, so a sketch drifting out of bounds
    hash-mismatches and goes red."""
    l = load_table(spark, sf, "lineitem")
    agg = l.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_quantity", 0.5).alias("approx_median"),
        F.count_distinct("l_partkey").alias("exact_parts"),
        F.count(F.lit(1)).alias("n_items"),
        F.expr("percentile(l_quantity, 0.45)").alias("p45"),
        F.expr("percentile(l_quantity, 0.55)").alias("p55"),
    )
    rel_err = F.abs(F.col("approx_parts") - F.col("exact_parts")) / F.col(
        "exact_parts"
    )
    return agg.select(
        "l_returnflag",
        F.col("exact_parts").cast("bigint").alias("exact_parts"),
        "n_items",
        (rel_err <= 0.10).alias("distinct_err_ok"),
        (
            (F.col("approx_median") >= F.col("p45"))
            & (F.col("approx_median") <= F.col("p55"))
        ).alias("median_ok"),
    )


@query(
    "unpivot_lineitem_metrics",
    """
    WITH agg AS (
      SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS price,
             CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS disc
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'qty' AS metric, qty AS total FROM agg
    UNION ALL
    SELECT l_returnflag, 'price' AS metric, price AS total FROM agg
    UNION ALL
    SELECT l_returnflag, 'disc' AS metric, disc AS total FROM agg
    """,
)
def unpivot_lineitem_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """Unpivot (wide -> long): per-flag metric totals melted into
    (metric, total) rows — pivot's inverse, native ``unpivot`` (no
    row-explosion before the aggregate; melt the small aggregate)."""
    l = load_table(spark, sf, "lineitem")
    agg = l.groupBy("l_returnflag").agg(
        F.sum(_money("l_quantity")).cast("double").alias("qty"),
        F.sum(_money("l_extendedprice")).cast("double").alias("price"),
        F.sum(_money("l_discount")).cast("double").alias("disc"),
    )
    return agg.unpivot(
        ["l_returnflag"], ["qty", "price", "disc"], "metric", "total"
    )


@query(
    "percentile_quantity",
    """
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           QUANTILE_CONT(l_quantity, 0.25) AS q25,
           QUANTILE_CONT(l_quantity, 0.50) AS q50,
           QUANTILE_CONT(l_quantity, 0.75) AS q75,
           QUANTILE_CONT(l_quantity, 0.95) AS q95
    FROM lineitem GROUP BY l_returnflag
    """,
)
def percentile_quantity(spark: SparkSession, sf: str) -> DataFrame:
    """Exact continuous percentiles per group — the distribution-shape
    aggregate a quality-scoring pipeline leans on. (Spark also ships
    approx_percentile for the sketch path at 100 TB; the exact form is
    used here because it is oracle-comparable.)"""
    l = load_table(spark, sf, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.percentile("l_quantity", F.lit(0.25)).alias("q25"),
        F.percentile("l_quantity", F.lit(0.50)).alias("q50"),
        F.percentile("l_quantity", F.lit(0.75)).alias("q75"),
        F.percentile("l_quantity", F.lit(0.95)).alias("q95"),
    )


# ---------------------------------------------------------------------------
# Scalar functions (SURVEY F1-F11)
# ---------------------------------------------------------------------------

@query(
    "string_functions",
    """
    SELECT c_custkey,
           TRIM(SPLIT_PART(c_name, '#', 2)) AS name_num,
           CONCAT('C', LPAD(CAST(c_custkey AS VARCHAR), 9, '0')) AS padded_key,
           LOWER(c_mktsegment) AS seg_lower,
           UPPER(SUBSTR(c_name, 1, 8)) AS name_prefix,
           MD5(c_name) AS name_md5
    FROM customer
    """,
)
def string_functions(spark: SparkSession, sf: str) -> DataFrame:
    """F1-F5: SPLIT_PART / TRIM / concat / LPAD / MD5 — the reference's id
    construction and address parsing toolkit."""
    c = load_table(spark, sf, "customer")
    return c.select(
        "c_custkey",
        F.trim(F.split_part(F.col("c_name"), F.lit("#"), F.lit(2))).alias(
            "name_num"
        ),
        F.concat(
            F.lit("C"), F.lpad(F.col("c_custkey").cast("string"), 9, "0")
        ).alias("padded_key"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.upper(F.substring("c_name", 1, 8)).alias("name_prefix"),
        F.md5("c_name").alias("name_md5"),
    )


@query(
    "date_functions",
    """
    SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
           CAST(QUARTER(o_orderdate) AS BIGINT) AS o_quarter,
           CAST(MONTH(o_orderdate) AS BIGINT) AS o_month,
           CAST(WEEKOFYEAR(o_orderdate) AS BIGINT) AS o_week,
           STRFTIME(o_orderdate, '%Y-%m') AS year_month,
           COUNT(*) AS n_orders
    FROM orders GROUP BY 1, 2, 3, 4, 5
    """,
)
def date_functions(spark: SparkSession, sf: str) -> DataFrame:
    """F8/F9: EXTRACT family + TO_CHAR-style formatting (ISO week —
    verified identical between Spark weekofyear and DuckDB)."""
    o = load_table(spark, sf, "orders")
    return (
        o.select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            F.quarter("o_orderdate").cast("bigint").alias("o_quarter"),
            F.month("o_orderdate").cast("bigint").alias("o_month"),
            F.weekofyear("o_orderdate").cast("bigint").alias("o_week"),
            F.date_format("o_orderdate", "yyyy-MM").alias("year_month"),
        )
        .groupBy("o_year", "o_quarter", "o_month", "o_week", "year_month")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "date_spine",
    """
    SELECT CAST(UNNEST(GENERATE_SERIES(
             (SELECT MIN(o_orderdate) FROM orders),
             (SELECT MAX(o_orderdate) FROM orders),
             INTERVAL 1 DAY)) AS DATE) AS d
    """,
)
def date_spine(spark: SparkSession, sf: str) -> DataFrame:
    """F10: generate_series date spine (the time dimension's backbone)."""
    o = load_table(spark, sf, "orders")
    bounds = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("hi"),
    )
    return bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("interval 1 day"))
        ).alias("d")
    )


@query(
    "time_hierarchy",
    """
    WITH spine AS (
      SELECT CAST(UNNEST(GENERATE_SERIES(
               (SELECT MIN(o_orderdate) FROM orders),
               (SELECT MAX(o_orderdate) FROM orders),
               INTERVAL 1 DAY)) AS DATE) AS d
    )
    SELECT d,
           'D' || STRFTIME(d, '%Y%m%d') AS time_id,
           'M' || STRFTIME(d, '%m%y') AS month_id,
           'Q' || CAST(QUARTER(d) AS VARCHAR) || STRFTIME(d, '%y') AS quarter_id,
           'H' || (CASE WHEN MONTH(d) <= 6 THEN '1' ELSE '2' END)
               || STRFTIME(d, '%Y') AS half_year_id,
           'Y' || STRFTIME(d, '%Y') AS year_id
    FROM spine
    """,
)
def time_hierarchy(spark: SparkSession, sf: str) -> DataFrame:
    """The reference time dimension's id scheme over the testdata date
    range (TimeDimension.sql rationalized per quirks Q2/Q3)."""
    spine = date_spine(spark, sf)
    d = F.col("d")
    return spine.select(
        d,
        F.concat(F.lit("D"), F.date_format(d, "yyyyMMdd")).alias("time_id"),
        F.concat(F.lit("M"), F.date_format(d, "MMyy")).alias("month_id"),
        F.concat(
            F.lit("Q"), F.quarter(d).cast("string"), F.date_format(d, "yy")
        ).alias("quarter_id"),
        F.concat(
            F.when(F.month(d) <= 6, F.lit("H1")).otherwise(F.lit("H2")),
            F.date_format(d, "yyyy"),
        ).alias("half_year_id"),
        F.concat(F.lit("Y"), F.date_format(d, "yyyy")).alias("year_id"),
    )


# ---------------------------------------------------------------------------
# ETL-shaped operators over the testdata (cleanse / hierarchy / SCD2)
# ---------------------------------------------------------------------------

@query(
    "cleanse_reject_routing",
    """
    WITH stringly AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 = 0 THEN o_orderpriority
                  ELSE CAST(o_totalprice AS VARCHAR) END AS amount_str
      FROM orders
    )
    SELECT CASE WHEN TRY_CAST(amount_str AS DECIMAL(18,2)) IS NULL
                THEN 'invalid' ELSE 'valid' END AS route,
           COUNT(*) AS n_rows,
           CAST(COALESCE(SUM(TRY_CAST(amount_str AS DECIMAL(18,2))), 0)
                AS DOUBLE) AS sum_amount
    FROM stringly GROUP BY 1
    """,
)
def cleanse_reject_routing(spark: SparkSession, sf: str) -> DataFrame:
    """P2/P3 (the reference's core cleansing idea): type a stringly column
    with cast-to-null, route failures to a reject bucket, keep the rest.
    Every 10th order's amount is corrupted with a non-numeric string."""
    o = load_table(spark, sf, "orders")
    stringly = o.select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 10 == 0, F.col("o_orderpriority")
        )
        .otherwise(F.col("o_totalprice").cast("string"))
        .alias("amount_str"),
    )
    typed = stringly.withColumn(
        "amount", F.col("amount_str").cast("decimal(18,2)")
    )
    return (
        typed.withColumn(
            "route",
            F.when(F.col("amount").isNull(), F.lit("invalid")).otherwise(
                F.lit("valid")
            ),
        )
        .groupBy("route")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.coalesce(F.sum("amount"), F.lit(0))
            .cast("double")
            .alias("sum_amount"),
        )
    )


@query(
    "location_hierarchy",
    """
    WITH region_ids AS (
      SELECT r_regionkey, r_name,
             'R' || LPAD(CAST(ROW_NUMBER() OVER (ORDER BY r_name) AS VARCHAR),
                         2, '0') AS region_code
      FROM region
    ),
    nation_ids AS (
      SELECT n_nationkey, n_name, n_regionkey,
             'N' || LPAD(CAST(ROW_NUMBER() OVER (ORDER BY n_name) AS VARCHAR),
                         3, '0') AS nation_code
      FROM nation
    )
    SELECT n.n_name, n.nation_code, r.r_name, r.region_code
    FROM nation_ids n JOIN region_ids r ON n.n_regionkey = r.r_regionkey
    """,
)
def location_hierarchy(spark: SparkSession, sf: str) -> DataFrame:
    """J11/A3/W2: hierarchy-level dedup + deterministic surrogate ids +
    link join — the location dimension's shape over nation/region."""
    r = load_table(spark, sf, "region").withColumn(
        "region_code",
        F.concat(
            F.lit("R"),
            F.lpad(
                F.row_number().over(Window.orderBy("r_name")).cast("string"),
                2,
                "0",
            ),
        ),
    )
    n = load_table(spark, sf, "nation").withColumn(
        "nation_code",
        F.concat(
            F.lit("N"),
            F.lpad(
                F.row_number().over(Window.orderBy("n_name")).cast("string"),
                3,
                "0",
            ),
        ),
    )
    return n.join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    ).select("n_name", "nation_code", "r_name", "region_code")


@query(
    "scd2_versions",
    f"""
    WITH price_history AS ({_PRICE_HISTORY_SQL}),
    v AS (
      SELECT p_partkey, eff_price, eff_date,
             ROW_NUMBER() OVER (PARTITION BY p_partkey ORDER BY eff_date) AS ver,
             COUNT(*) OVER (PARTITION BY p_partkey) AS n_ver
      FROM price_history
    )
    SELECT p_partkey, CAST(eff_price AS DOUBLE) AS eff_price, eff_date,
           CASE WHEN ver = n_ver THEN 'Y' ELSE 'N' END AS active_status,
           CASE WHEN ver = 1 THEN 'I' ELSE 'U' END AS action_flag
    FROM v
    """,
)
def scd2_versions(spark: SparkSession, sf: str) -> DataFrame:
    """SCD Type-2 versioning (reference ProductDimension.sql semantics,
    rationalized per Q4/Q5/Q6) over the synthetic part price history."""
    ph = _price_history(spark, sf)
    w_ver = Window.partitionBy("p_partkey").orderBy("eff_date")
    w_all = Window.partitionBy("p_partkey")
    return (
        ph.withColumn("ver", F.row_number().over(w_ver))
        .withColumn("n_ver", F.count(F.lit(1)).over(w_all))
        .select(
            "p_partkey",
            F.col("eff_price").cast("double").alias("eff_price"),
            "eff_date",
            F.when(F.col("ver") == F.col("n_ver"), F.lit("Y"))
            .otherwise(F.lit("N"))
            .alias("active_status"),
            F.when(F.col("ver") == 1, F.lit("I"))
            .otherwise(F.lit("U"))
            .alias("action_flag"),
        )
    )


# ---------------------------------------------------------------------------
# Events: sessionization + tumbling windows (streaming-equivalent batch)
# ---------------------------------------------------------------------------

@query(
    "tumbling_window_agg",
    """
    SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def tumbling_window_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling 1-hour window aggregate — the batch twin of the
    Structured Streaming pipeline in ``streaming/`` (same F.window)."""
    e = load_table(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_money("value")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "sliding_window_rate",
    """
    WITH expanded AS (
      SELECT TIME_BUCKET(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
               - i.i * INTERVAL '15 minutes' AS window_start,
             event_type
      FROM events, (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS i) i
    )
    SELECT window_start, event_type, COUNT(*) AS n_events
    FROM expanded GROUP BY 1, 2
    """,
)
def sliding_window_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping 1-hour windows sliding every 15 min — each event lands
    in 4 windows (the batch twin of streaming ``sliding_event_rate``)."""
    e = load_table(spark, sf, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


@query(
    "json_props_extract",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(props->>'$.k' AS INTEGER)) AS BIGINT) AS sum_k,
           ROUND(AVG(CAST(props->>'$.k' AS INTEGER)), 4) AS avg_k
    FROM events GROUP BY event_type
    """,
)
def json_props_extract(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured access: JSON path extraction out of a string
    column, then aggregate — the common telemetry-props shape."""
    e = load_table(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
        )
    )


@query(
    "sessionize",
    """
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w)
                          > 1800 * 1000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM gaps GROUP BY user_id
    """,
)
def sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization (30-min inactivity gap): LAG + exact microsecond
    arithmetic. The batch shape of stateful session windows."""
    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    cur_us = F.unix_micros(F.col("ts").cast("timestamp"))
    new_session = F.when(
        prev_us.isNull() | (cur_us - prev_us > 1800 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        e.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# LLM-data-pipeline: dedup / text analysis / similarity / multimodal
# ---------------------------------------------------------------------------

@query(
    "train_test_split",
    """
    WITH tagged AS (
      SELECT doc_id,
             CASE WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
                  THEN 'train' ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, COUNT(*) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id
    FROM tagged GROUP BY split
    """,
)
def train_test_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic ~80/20 corpus split: membership is a pure function
    of the document id (first md5 hex byte < 0xcd), so the split is
    stable across runs, engines, partitionings, and cluster sizes — the
    property random sampling lacks and a reproducible training pipeline
    needs. No shuffle: the tag is a projection; only the audit
    aggregation shuffles."""
    d = load_table(spark, sf, "documents")
    split = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "cd",
        F.lit("train"),
    ).otherwise(F.lit("test"))
    return (
        d.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("min_id"),
            F.max("doc_id").cast("bigint").alias("max_id"),
        )
    )


@query(
    "ntile_buckets",
    """
    WITH b AS (
      SELECT o_orderstatus, o_totalprice,
             NTILE(4) OVER (
               PARTITION BY o_orderstatus
               ORDER BY o_totalprice, o_orderkey
             ) AS bucket
      FROM orders
    )
    SELECT o_orderstatus, CAST(bucket AS BIGINT) AS bucket,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM b GROUP BY 1, 2
    """,
)
def ntile_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Quantile bucketing (feature binning): NTILE quartiles of order
    value per status, with a deterministic tie-break."""
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return (
        o.withColumn("bucket", F.ntile(4).over(w).cast("bigint"))
        .groupBy("o_orderstatus", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_money("o_totalprice")).cast("double").alias("revenue"),
        )
    )


@query(
    "dedup_exact",
    """
    SELECT MD5(text) AS fp, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
    FROM documents GROUP BY MD5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.exact_duplicates(load_table(spark, sf, "documents"))


@query(
    "dedup_ngram_jaccard",
    r"""
    WITH sh AS (
      SELECT doc_id,
             LIST_DISTINCT(
               LIST_TRANSFORM(
                 GENERATE_SERIES(1, LEN(STRING_SPLIT_REGEX(LOWER(text), '\s+')) - 2),
                 i -> STRING_SPLIT_REGEX(LOWER(text), '\s+')[i] || ' ' ||
                      STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+1] || ' ' ||
                      STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+2]
               )
             ) AS shingles
      FROM documents
    ),
    exploded AS (
      SELECT doc_id, LEN(shingles) AS n_shingles, UNNEST(shingles) AS shingle
      FROM sh
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.n_shingles AS size_a, b.n_shingles AS size_b,
             COUNT(*) AS n_inter
      FROM exploded a JOIN exploded b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_inter AS DOUBLE) / (size_a + size_b - n_inter), 6)
             AS jaccard
    FROM inter
    -- threshold on the ROUNDED value, mirroring the Spark side exactly
    -- (a pair at 0.0999996 rounds to 0.1 and must be kept by BOTH)
    WHERE ROUND(CAST(n_inter AS DOUBLE)
                / (size_a + size_b - n_inter), 6) >= 0.1
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    # deliberate exact truth-set twin: uncapped by design, quarantined
    # from the bench scaling rows; warn_uncapped=False acknowledges it
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf, "documents"), threshold=0.1,
        warn_uncapped=False,
    )


@query(
    "dedup_ngram_jaccard_capped",
    r"""
    WITH sh AS (
      SELECT doc_id,
             LIST_DISTINCT(
               LIST_TRANSFORM(
                 GENERATE_SERIES(1, LEN(STRING_SPLIT_REGEX(LOWER(text), '\s+')) - 2),
                 i -> STRING_SPLIT_REGEX(LOWER(text), '\s+')[i] || ' ' ||
                      STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+1] || ' ' ||
                      STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+2]
               )
             ) AS shingles
      FROM documents
    ),
    exploded0 AS (
      SELECT doc_id, UNNEST(shingles) AS shingle FROM sh
    ),
    kept AS (
      SELECT shingle FROM exploded0 GROUP BY shingle HAVING COUNT(*) <= 5
    ),
    exploded AS (
      SELECT doc_id, shingle FROM exploded0 JOIN kept USING (shingle)
    ),
    sizes AS (
      SELECT doc_id, COUNT(*) AS n_shingles FROM exploded GROUP BY doc_id
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM exploded a JOIN exploded b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_inter AS DOUBLE)
                 / (sa.n_shingles + sb.n_shingles - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE ROUND(CAST(n_inter AS DOUBLE)
                / (sa.n_shingles + sb.n_shingles - n_inter), 6) >= 0.1
    """,
)
def dedup_ngram_jaccard_capped(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB-safe variant: shingles in more than ``max_df``
    documents are dropped before the inverted-index self-join, so no
    stop-phrase shingle can contribute a quadratic pair blowup; Jaccard
    is over the capped universe (sizes recounted post-cap). max_df=5
    provably bites at sf0.01 (max shingle df there is 7)."""
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf, "documents"), threshold=0.1, max_df=5
    )


_EXACT_JACCARD_03_SQL = r"""
    WITH sh AS (
      SELECT doc_id,
             LIST_DISTINCT(
               LIST_TRANSFORM(
                 GENERATE_SERIES(1, LEN(STRING_SPLIT_REGEX(LOWER(text), '\s+')) - 2),
                 i -> STRING_SPLIT_REGEX(LOWER(text), '\s+')[i] || ' ' ||
                      STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+1] || ' ' ||
                      STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+2]
               )
             ) AS shingles
      FROM documents
    ),
    exploded AS (
      SELECT doc_id, LEN(shingles) AS n_shingles, UNNEST(shingles) AS shingle
      FROM sh
    ),
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM exploded a JOIN exploded b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id, a.n_shingles, b.n_shingles
      HAVING ROUND(CAST(COUNT(*) AS DOUBLE)
                   / (a.n_shingles + b.n_shingles - COUNT(*)), 6) >= 0.3
    )
"""


def _pair_recall_stats(
    truth: DataFrame, cand: DataFrame, floors: dict[str, float]
) -> DataFrame:
    """(n_true_pairs, recall_ok[, precision_ok]) — candidate-set quality
    vs an exact pair set, computed relationally (no driver math)."""
    t = truth.select("doc_a", "doc_b")
    c = cand.select("doc_a", "doc_b").withColumn("_c", F.lit(1))
    hit = t.join(c, ["doc_a", "doc_b"], "left")
    # avg() over zero rows is NULL; an empty truth/candidate set makes
    # the floor vacuously satisfied, so coalesce to TRUE — otherwise a
    # scale factor with no qualifying pairs would flag a fake regression
    stats = hit.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true_pairs"),
        F.coalesce(
            F.avg(F.coalesce(F.col("_c"), F.lit(0))) >= floors["recall"],
            F.lit(True),
        ).alias("recall_ok"),
    )
    if "precision" not in floors:
        return stats
    prec = (
        c.join(t.withColumn("_t", F.lit(1)), ["doc_a", "doc_b"], "left")
        .agg(
            F.coalesce(
                F.avg(F.coalesce(F.col("_t"), F.lit(0)))
                >= floors["precision"],
                F.lit(True),
            ).alias("precision_ok")
        )
    )
    return stats.crossJoin(prec)


@query(
    "dedup_minhash_lsh",
    _EXACT_JACCARD_03_SQL
    + """
    SELECT COUNT(*) AS n_true_pairs, TRUE AS recall_ok, TRUE AS precision_ok
    FROM truth
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash(32)+LSH(8 bands) banded candidate generation.

    Property oracle (minhash values are engine-specific): the candidate
    pair set at est-Jaccard >= 0.3 must achieve recall >= 0.9 and
    precision >= 0.8 against the EXACT Jaccard >= 0.3 pair set, which
    the oracle computes in SQL (measured: both 1.0 at sf0.01). The
    exact-pair count rides along so the truth side is pinned too."""
    docs = load_table(spark, sf, "documents")
    # measured: passing one persisted shared shingle table to both sides
    # is ~20% SLOWER here than recomputing (the raw shingle cache is
    # bigger than the deduped one, and reading it back beats neither
    # side's pipelined codegen) — so each side shingles independently.
    truth = dedup.ngram_jaccard_pairs(
        docs, threshold=0.3, warn_uncapped=False  # deliberate truth set
    )
    cand = dedup.minhash_lsh_pairs(docs)
    return _pair_recall_stats(
        truth, cand, {"recall": 0.9, "precision": 0.8}
    )


@query(
    "dedup_simhash",
    _EXACT_JACCARD_03_SQL
    + """
    SELECT COUNT(*) AS n_true_pairs, TRUE AS recall_ok FROM truth
    """,
)
def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup candidates, pigeonhole-complete for Hamming <= 5
    (blocks=8 -> C(8,3)=56 block-combination tables).

    Property oracle (simhash bits are engine-specific): the
    blocked-complete candidate set must recall >= 0.85 of the exact
    Jaccard >= 0.3 pair set the oracle computes in SQL. Deterministic
    recall measured 1.0 at sf0.01 and 0.893 at sf0.001 (3 of 28 pairs
    there sit at Hamming 6-9, legitimately outside the <= 5 envelope);
    the old single-prefix bucketing scored 0.48 — this gate keeps that
    regression out. No precision claim: Hamming-near pairs below
    Jaccard 0.3 are correct simhash output, not false positives."""
    docs = load_table(spark, sf, "documents")
    truth = dedup.ngram_jaccard_pairs(
        docs, threshold=0.3, warn_uncapped=False  # deliberate truth set
    )
    cand = dedup.simhash_near_pairs(docs, max_hamming=5, blocks=8)
    return _pair_recall_stats(truth, cand, {"recall": 0.85})


@query(
    "dedup_embedding_cosine",
    """
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(
             LIST_DOT_PRODUCT(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
             / (SQRT(LIST_DOT_PRODUCT(a.embedding::DOUBLE[],
                                      a.embedding::DOUBLE[]))
              * SQRT(LIST_DOT_PRODUCT(b.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[]))), 6) AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE LIST_DOT_PRODUCT(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
          / (SQRT(LIST_DOT_PRODUCT(a.embedding::DOUBLE[],
                                   a.embedding::DOUBLE[]))
           * SQRT(LIST_DOT_PRODUCT(b.embedding::DOUBLE[],
                                   b.embedding::DOUBLE[]))) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact baseline; the LSH-bucketed
    scale path is ``method="lsh"`` on the same operator)."""
    return similarity.embedding_near_dup_pairs(
        load_table(spark, sf, "embeddings"), threshold=0.4
    )


_COSINE_PAIRS_SQL = """
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE LIST_DOT_PRODUCT(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
            / (SQRT(LIST_DOT_PRODUCT(a.embedding::DOUBLE[],
                                     a.embedding::DOUBLE[]))
             * SQRT(LIST_DOT_PRODUCT(b.embedding::DOUBLE[],
                                     b.embedding::DOUBLE[]))) >= 0.35
"""


@query(
    "dedup_clusters",
    f"""
    WITH RECURSIVE pairs AS ({_COSINE_PAIRS_SQL}),
    edges AS (
      SELECT vec_a AS src, vec_b AS dst FROM pairs
      UNION
      SELECT vec_b AS src, vec_a AS dst FROM pairs
    ),
    reach(node, label) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS vec_id, MIN(label) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Pairs -> dedup clusters: connected components over the near-dup
    graph, each document labeled with its component's minimum id (the
    canonical survivor a training pipeline keeps). Oracle = recursive
    CTE transitive closure."""
    emb = load_table(spark, sf, "embeddings")
    pairs = similarity.embedding_near_dup_pairs(emb, threshold=0.35)
    return dedup.connected_components(
        pairs, emb, "vec_id", pair_a="vec_a", pair_b="vec_b"
    )


@query("dedup_clusters_star", ORACLE["dedup_clusters"])
def dedup_clusters_star(spark: SparkSession, sf: str) -> DataFrame:
    """Same clusters via the alternating large-star/small-star algorithm
    (O(log^2 n) rounds regardless of component diameter — the variant
    for huge or chain-shaped components); must reproduce the recursive
    CTE transitive closure exactly, like the propagation variant."""
    emb = load_table(spark, sf, "embeddings")
    pairs = similarity.embedding_near_dup_pairs(emb, threshold=0.35)
    return dedup.connected_components_star(
        pairs, emb, "vec_id", pair_a="vec_a", pair_b="vec_b"
    )


@query(
    "text_quality",
    r"""
    WITH t AS (
      SELECT doc_id, text,
             CAST(LENGTH(text) AS BIGINT) AS n_chars_calc,
             CAST(LEN(STRING_SPLIT_REGEX(text, '\s+')) AS BIGINT) AS n_tokens,
             CAST(LENGTH(text)
                  - LENGTH(REGEXP_REPLACE(text, '[.,;:!?]', '', 'g'))
               AS BIGINT) AS n_punct,
             CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text),
                  '\b(the|and|of|to|in|is|for)\b')) AS BIGINT) AS n_stopwords
      FROM documents
    )
    SELECT doc_id, n_chars_calc, n_tokens,
           ROUND(CAST(n_chars_calc AS DOUBLE) / n_tokens, 4) AS chars_per_token,
           n_punct,
           ROUND(CAST(n_punct AS DOUBLE) / n_chars_calc, 6) AS punct_ratio,
           n_stopwords,
           ROUND(CAST(n_stopwords AS DOUBLE) / n_tokens, 6) AS stopword_ratio
    FROM t
    """,
)
def text_quality(spark: SparkSession, sf: str) -> DataFrame:
    return text.text_quality(load_table(spark, sf, "documents"))


@query(
    "language_id",
    r"""
    SELECT doc_id,
           CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text),
                '\b(the|and|of|to|in|is|for)\b')) AS BIGINT) AS en_hits,
           CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text),
                '\b(el|la|de|los|las|una|que)\b')) AS BIGINT) AS es_hits,
           CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text),
                '\b(der|die|das|und|ist|von|mit)\b')) AS BIGINT) AS de_hits,
           CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text),
                '\b(le|la|les|des|est|une|dans)\b')) AS BIGINT) AS fr_hits,
           CASE
             WHEN LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\b(the|and|of|to|in|is|for)\b'))
                  >= LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\b(el|la|de|los|las|una|que)\b'))
              AND LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\b(the|and|of|to|in|is|for)\b'))
                  >= LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\b(der|die|das|und|ist|von|mit)\b'))
              AND LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\b(the|and|of|to|in|is|for)\b'))
                  >= LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\b(le|la|les|des|est|une|dans)\b'))
             THEN 'en'
             WHEN LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\b(el|la|de|los|las|una|que)\b'))
                  >= LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\b(der|die|das|und|ist|von|mit)\b'))
              AND LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\b(el|la|de|los|las|una|que)\b'))
                  >= LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\b(le|la|les|des|est|une|dans)\b'))
             THEN 'es'
             WHEN LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\b(der|die|das|und|ist|von|mit)\b'))
                  >= LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\b(le|la|les|des|est|une|dans)\b'))
             THEN 'de'
             ELSE 'fr'
           END AS lang_guess
    FROM documents
    """,
)
def language_id(spark: SparkSession, sf: str) -> DataFrame:
    return text.language_id(load_table(spark, sf, "documents"))


@query(
    "doc_fingerprint",
    r"""
    SELECT doc_id,
           MD5(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')) AS fp
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    return text.fingerprint(load_table(spark, sf, "documents"))


@query(
    "token_counting",
    r"""
    SELECT doc_id,
           CAST(LEN(STRING_SPLIT_REGEX(LOWER(text), '\s+')) AS BIGINT)
             AS ws_tokens,
           CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text),
             '''s|''t|''re|''ve|''m|''ll|''d| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9]+|\s+'
           )) AS BIGINT) AS bpe_tokens
    FROM documents
    """,
)
def token_counting(spark: SparkSession, sf: str) -> DataFrame:
    """Token budgets per document: whitespace tokens AND GPT-2-style
    pre-tokenizer pieces (the pre-merge BPE count) — both pure regex
    projections, no shuffle."""
    d = load_table(spark, sf, "documents")
    return d.select(
        "doc_id",
        text.token_count(F.col("text")).alias("ws_tokens"),
        text.bpe_token_count(F.col("text")).alias("bpe_tokens"),
    )


@query(
    "corpus_filter_pipeline",
    r"""
    WITH feat AS (
      SELECT doc_id, text,
             LEN(STRING_SPLIT_REGEX(LOWER(text), '\s+')) AS n_tok,
             LEN(REGEXP_EXTRACT_ALL(LOWER(text),
                 '\b(the|and|of|to|in|is|for)\b')) AS n_stop,
             MD5(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')) AS fp
      FROM documents
    ),
    canon AS (
      SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS canonical_id
      FROM feat
    )
    SELECT doc_id,
           CAST(n_tok AS BIGINT) AS n_tokens,
           ROUND(CAST(n_stop AS DOUBLE) / n_tok, 6) AS stopword_ratio,
           CASE
             WHEN doc_id != canonical_id THEN 'duplicate'
             WHEN n_tok < 20 THEN 'too_short'
             WHEN CAST(n_stop AS DOUBLE) / n_tok < 0.02 THEN 'low_quality'
             ELSE 'keep'
           END AS verdict
    FROM canon
    """,
)
def corpus_filter_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The composed training-data filter: token budget + stopword-based
    quality + normalization-fingerprint dedup (keep the lowest doc_id
    per duplicate group), one verdict per document in a single pass —
    one window over the fingerprint, no joins. The decision order
    (duplicate > too_short > low_quality > keep) is part of the
    contract."""
    d = load_table(spark, sf, "documents")
    n_tok = text.token_count(F.col("text"))
    n_stop = F.size(
        F.regexp_extract_all(
            F.lower(F.col("text")), F.lit(text.LANG_STOPWORDS["en"])
        )
    ).cast("bigint")
    fp = F.md5(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    ratio = n_stop.cast("double") / n_tok
    canonical = F.min("doc_id").over(Window.partitionBy("fp"))
    verdict = (
        F.when(F.col("doc_id") != canonical, F.lit("duplicate"))
        .when(F.col("n_tokens") < 20, F.lit("too_short"))
        .when(F.col("stopword_ratio") < 0.02, F.lit("low_quality"))
        .otherwise(F.lit("keep"))
    )
    return (
        d.select(
            "doc_id",
            "text",
            n_tok.alias("n_tokens"),
            F.round(ratio, 6).alias("stopword_ratio"),
            fp.alias("fp"),
        )
        .withColumn("verdict", verdict)
        .select("doc_id", "n_tokens", "stopword_ratio", "verdict")
    )


@query(
    "doc_winnowing",
    r"""
    SELECT doc_id,
           CAST(GREATEST(LEN(STRING_SPLIT_REGEX(LOWER(text), '\s+')) - 4, 0)
                AS BIGINT) AS n_grams,
           TRUE AS covered,
           TRUE AS positions_ok
    FROM documents
    """,
)
def doc_winnowing(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing fingerprints (rolling-hash selection): min-hash of every
    4 consecutive token 5-grams — substring-sharing detection at a
    fraction of full shingle volume.

    Property oracle (the xxhash64 rolling hash is engine-specific, so
    raw fingerprints can't hash-match SQL): per document, emit the
    winnowing GUARANTEE as booleans — ``covered``: every full window of
    4 consecutive k-gram positions contains a selected fingerprint
    (equivalently: first pos <= w-1, consecutive-pos gaps <= w, last
    pos >= n_grams - w, and eligible docs select at least one);
    ``positions_ok``: all positions inside [0, n_grams). The oracle
    recomputes n_grams from the text in SQL and claims TRUE for both,
    so a selection bug on any single document goes red."""
    w = 4  # window size; k-gram k = 5
    docs = load_table(spark, sf, "documents")
    fp = text.winnowing_fingerprints(docs)  # (doc, pos, fp)
    ps_tbl = fp.groupBy("doc").agg(
        F.sort_array(F.collect_list("pos")).alias("ps")
    )
    base = docs.select(
        F.col("doc_id"),
        F.greatest(
            F.size(text.tokens(F.lower(F.col("text")))) - 4, F.lit(0)
        )
        .cast("bigint")
        .alias("n_grams"),
    )
    j = base.join(ps_tbl, base.doc_id == ps_tbl.doc, "left")
    first = F.element_at("ps", 1)
    last = F.element_at("ps", -1)
    max_gap = F.coalesce(
        F.array_max(
            F.zip_with(
                F.expr("slice(ps, 1, size(ps) - 1)"),
                F.expr("slice(ps, 2, size(ps) - 1)"),
                lambda a, b: b - a,
            )
        ),
        F.lit(0),
    )
    has_fp = F.col("ps").isNotNull()
    covered = F.when(F.col("n_grams") == 0, F.lit(True)).otherwise(
        has_fp
        & (first <= w - 1)
        & (max_gap <= w)
        & (last >= F.col("n_grams") - w)
    )
    positions_ok = F.when(F.col("n_grams") == 0, F.lit(True)).otherwise(
        has_fp & (first >= 0) & (last <= F.col("n_grams") - 1)
    )
    return j.select(
        "doc_id",
        "n_grams",
        covered.alias("covered"),
        positions_ok.alias("positions_ok"),
    )


@query(
    "token_frequencies",
    r"""
    SELECT token, COUNT(*) AS n
    FROM (
      SELECT UNNEST(STRING_SPLIT_REGEX(LOWER(text), '\s+')) AS token
      FROM documents
    ) GROUP BY token HAVING COUNT(*) >= 10
    """,
)
def token_frequencies(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus token counts (BPE-prep shape): explode + groupBy."""
    d = load_table(spark, sf, "documents")
    return (
        d.select(
            F.explode(F.split(F.lower("text"), r"\s+")).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 10)
    )


@query(
    "ann_bruteforce_topk",
    """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             LIST_DOT_PRODUCT(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
             / (SQRT(LIST_DOT_PRODUCT(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                * SQRT(LIST_DOT_PRODUCT(c.embedding::DOUBLE[], c.embedding::DOUBLE[])))
               AS sim
      FROM q CROSS JOIN embeddings c
      WHERE q.vec_id != c.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC
             ) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank,
           ROUND(sim, 6) AS sim
    FROM ranked WHERE rank <= 5
    """,
)
def ann_bruteforce_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Exact cosine top-5 for the first 10 vectors (ANN baseline).

    Dot products in sequential double precision on both engines —
    verified bit-identical, so ranking (and ties) agree exactly.
    """
    emb = load_table(spark, sf, "embeddings")
    return similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5
    )


@query(
    "knn_label_vote",
    """
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             LIST_DOT_PRODUCT(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
             / (SQRT(LIST_DOT_PRODUCT(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                * SQRT(LIST_DOT_PRODUCT(c.embedding::DOUBLE[], c.embedding::DOUBLE[])))
               AS sim
      FROM q CROSS JOIN embeddings c
      WHERE q.vec_id != c.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC
             ) AS rank
      FROM scored
    ),
    votes AS (
      SELECT r.query_id, c.label, COUNT(*) AS votes
      FROM ranked r JOIN embeddings c ON c.vec_id = r.neighbor_id
      WHERE r.rank <= 5
      GROUP BY 1, 2
    ),
    best AS (
      SELECT query_id, label, votes,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY votes DESC, label ASC
             ) AS rn,
             SUM(votes) OVER (PARTITION BY query_id) AS n_neighbors
      FROM votes
    )
    SELECT query_id, CAST(label AS INTEGER) AS pred_label,
           CAST(votes AS BIGINT) AS votes,
           CAST(n_neighbors AS BIGINT) AS n_neighbors
    FROM best WHERE rn = 1
    """,
)
def knn_label_vote(spark: SparkSession, sf: str) -> DataFrame:
    """Neighbor-based label propagation (round 7, entry #150 — the
    capacity ceiling; the next registration triggers the three-round
    cadence policy above): the first 20 vectors take the majority label
    of their exact top-5 cosine neighbors, ties to the smallest label.
    Exact-oracle configuration runs the brute-force truth path (same
    bit-identical dot products as ``ann_bruteforce_topk``); at corpus
    scale the vote composes with ``ivf_search`` instead (see
    ``similarity.knn_label_vote``). Registered after the frozen r7
    window — r8-window candidate alongside ``asof_join_tolerance``."""
    emb = load_table(spark, sf, "embeddings")
    return similarity.knn_label_vote(
        emb, emb.filter(F.col("vec_id") < 20), k=5
    )


def _ann_recall_stats(
    truth: DataFrame, cand: DataFrame, k: int, recall_floor: float
) -> DataFrame:
    """(n_true, recall_ok, within_k_ok) for an ANN result vs the exact
    brute-force top-k, computed relationally."""
    t = truth.select("query_id", "neighbor_id")
    c = cand.select("query_id", "neighbor_id").withColumn("_c", F.lit(1))
    hit = t.join(c, ["query_id", "neighbor_id"], "left")
    # empty truth/candidate sets: aggregates over zero rows are NULL;
    # the bounds are vacuously satisfied, so coalesce to TRUE
    stats = hit.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true"),
        F.coalesce(
            F.avg(F.coalesce(F.col("_c"), F.lit(0))) >= recall_floor,
            F.lit(True),
        ).alias("recall_ok"),
    )
    within = cand.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("_n")
    ).agg(F.coalesce(F.max("_n") <= k, F.lit(True)).alias("within_k_ok"))
    return stats.crossJoin(within)


_ANN_PROPERTY_SQL = """
    SELECT CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 10) * 5
                AS BIGINT) AS n_true,
           TRUE AS recall_ok,
           TRUE AS within_k_ok
"""


@query("ann_lsh_topk", _ANN_PROPERTY_SQL)
def ann_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-probe hyperplane-LSH ANN for the first 10 vectors.

    Property oracle (plane directions are implementation-defined): the
    LSH result must recall >= 0.4 of the exact brute-force top-5 pairs
    (measured 0.60-0.66 at probe_hamming=3 on these unclustered
    synthetic embeddings — single-bucket probing scored 0.02, which
    this gate keeps out) and return at most k rows per query. n_true
    pins the truth-set size in SQL."""
    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    truth = similarity.brute_force_topk(emb, q, k=5)
    cand = similarity.lsh_topk(emb, q, k=5, probe_hamming=3)
    return _ann_recall_stats(truth, cand, k=5, recall_floor=0.4)


@query("ann_ivf_topk", _ANN_PROPERTY_SQL)
def ann_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF coarse-quantizer ANN: seeded KMeans index (build/search
    split in the operator) + nprobe=4-of-16 cell search + exact rerank.

    Property oracle (k-means cells are engine-specific): probing a
    quarter of the cells must recall >= 0.5 of the exact brute-force
    top-5 (measured 0.64-0.72) with at most k rows per query."""
    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    truth = similarity.brute_force_topk(emb, q, k=5)
    cand = similarity.ivf_topk(emb, q, k=5)
    return _ann_recall_stats(truth, cand, k=5, recall_floor=0.5)


@query(
    "embedding_stats",
    """
    WITH norms AS (
      SELECT SQRT(LIST_DOT_PRODUCT(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS norm
      FROM embeddings
    )
    SELECT COUNT(*) AS n_vectors,
           ROUND(MIN(norm), 6) AS min_norm,
           ROUND(MAX(norm), 6) AS max_norm,
           ROUND(AVG(norm), 6) AS avg_norm
    FROM norms
    """,
)
def embedding_stats(spark: SparkSession, sf: str) -> DataFrame:
    return similarity.embedding_stats(load_table(spark, sf, "embeddings"))


@query(
    "multimodal_decode",
    """
    SELECT doc_id,
           CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
           CAST(OCTET_LENGTH(ENCODE(text)) % 640 AS BIGINT) AS width,
           CAST((OCTET_LENGTH(ENCODE(text)) * 7) % 480 AS BIGINT) AS height,
           CAST(1 + OCTET_LENGTH(ENCODE(text)) % 3 AS BIGINT) AS n_frames
    FROM documents
    """,
)
def multimodal_decode(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal plumbing: binary payload column -> Arrow-batched
    mapInPandas decode (stubbed codec, real Spark pipeline). The oracle
    recomputes the stub's deterministic geometry arithmetically."""
    media = attach_binary_payload(load_table(spark, sf, "documents"))
    return decode_batch(media)


@query(
    "multimodal_frame_sample",
    """
    WITH frames AS (
      SELECT doc_id,
             OCTET_LENGTH(ENCODE(text)) AS n,
             1 + OCTET_LENGTH(ENCODE(text)) % 3 AS n_frames
      FROM documents
    )
    SELECT doc_id, CAST(i.i AS BIGINT) AS frame_idx,
           CAST(n // n_frames AS BIGINT) AS frame_bytes
    FROM frames, (SELECT UNNEST(GENERATE_SERIES(0, 2)) AS i) i
    WHERE i.i < n_frames
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Executor-side frame explosion out of a (stubbed) video payload —
    one row per sampled frame, no driver involvement."""
    media = attach_binary_payload(load_table(spark, sf, "documents"))
    return sample_frames(media)


@query(
    "multimodal_features",
    """
    SELECT doc_id, CAST(i AS BIGINT) AS dim,
           CAST((OCTET_LENGTH(ENCODE(text)) * 31 + i) % 97 AS DOUBLE)
             / 97.0 AS feature
    FROM documents, (SELECT UNNEST(GENERATE_SERIES(0, 7)) AS i) g
    """,
)
def multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """Stubbed feature-extraction pass (vision-encoder shape): payload ->
    fixed-dim vector via Arrow-batched mapInPandas.

    Driver-interface note: the operator emits (doc_id, features
    ARRAY<DOUBLE>); the corpus wrapper posexplodes to one
    (doc_id, dim, feature) row per component because the driver's
    pandas canonicalizer cannot sort list-typed columns (r3 `err`:
    unhashable type 'list'). Exploding — rather than to_json — keeps
    the comparison numeric, dodging Java-vs-DuckDB double-to-string
    formatting differences (1.0E-6 vs 1e-06)."""
    media = attach_binary_payload(load_table(spark, sf, "documents"))
    feats = extract_features(media)
    return feats.select(
        "doc_id", F.posexplode("features").alias("dim", "feature")
    ).withColumn("dim", F.col("dim").cast("bigint"))


# ---------------------------------------------------------------------------
# Context-window preparation (chunking / packing / PII scrub)
# ---------------------------------------------------------------------------

@query(
    "doc_chunking",
    r"""
    WITH t AS (
      SELECT doc_id, STRING_SPLIT_REGEX(LOWER(text), '\s+') AS toks
      FROM documents
    ),
    starts AS (
      SELECT doc_id, toks,
             UNNEST(GENERATE_SERIES(0, GREATEST(LEN(toks) - 1, 0), 48))
               AS start_tok
      FROM t
    )
    SELECT doc_id,
           CAST(start_tok // 48 AS BIGINT) AS chunk_idx,
           CAST(start_tok AS BIGINT) AS start_tok,
           CAST(LEN(toks[start_tok + 1 : start_tok + 64]) AS BIGINT)
             AS n_tokens,
           ARRAY_TO_STRING(toks[start_tok + 1 : start_tok + 64], ' ')
             AS chunk_text
    FROM starts
    """,
)
def doc_chunking(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping token-window chunking (64-token chunks, 16 overlap):
    the retrieval/packing precursor. Chunks are generated inside the
    scan stage (sequence + posexplode + slice) — no shuffle, no UDF."""
    return chunking.chunk_documents(
        load_table(spark, sf, "documents"), chunk_tokens=64, overlap=16
    )


@query(
    "doc_sequence_packing",
    r"""
    WITH t AS (
      SELECT doc_id,
             CAST(doc_id % 16 AS BIGINT) AS shard,
             CAST(LEN(STRING_SPLIT_REGEX(LOWER(text), '\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT shard, doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS start_offset
      FROM t
    )
    SELECT shard, doc_id, n_tokens,
           CAST(start_offset AS BIGINT) AS start_offset,
           CAST(start_offset // 512 AS BIGINT) AS first_seq,
           CAST((start_offset + n_tokens - 1) // 512 AS BIGINT) AS last_seq
    FROM packed
    """,
)
def doc_sequence_packing(spark: SparkSession, sf: str) -> DataFrame:
    """GPT-style concat-and-chop packing into 512-token sequences over
    16 shards: one per-shard window cumsum — embarrassingly parallel
    across shards (the 100 TB layout: one shard per training stream)."""
    return chunking.pack_sequences(
        load_table(spark, sf, "documents"), budget=512, shards=16
    )


def _scrub_oracle() -> str:
    email, phone, ssn = (
        chunking.PII_PATTERNS["email"],
        chunking.PII_PATTERNS["phone"],
        chunking.PII_PATTERNS["ssn"],
    )
    return f"""
    WITH s1 AS (
      SELECT doc_id,
             LEN(REGEXP_EXTRACT_ALL(text, '{email}')) AS n_emails,
             REGEXP_REPLACE(text, '{email}', '[EMAIL]', 'g') AS t1
      FROM documents
    ),
    s2 AS (
      SELECT doc_id, n_emails,
             LEN(REGEXP_EXTRACT_ALL(t1, '{phone}')) AS n_phones,
             REGEXP_REPLACE(t1, '{phone}', '[PHONE]', 'g') AS t2
      FROM s1
    )
    SELECT doc_id,
           REGEXP_REPLACE(t2, '{ssn}', '[SSN]', 'g') AS clean_text,
           CAST(n_emails AS BIGINT) AS n_emails,
           CAST(n_phones AS BIGINT) AS n_phones,
           CAST(LEN(REGEXP_EXTRACT_ALL(t2, '{ssn}')) AS BIGINT) AS n_ssns,
           CAST(n_emails + n_phones
                + LEN(REGEXP_EXTRACT_ALL(t2, '{ssn}')) AS BIGINT)
             AS n_redactions
    FROM s2
    """


@query("doc_pii_scrub", _scrub_oracle())
def doc_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction (emails, phones, SSN-shaped ids) with per-kind
    counts — RE2-safe patterns shared verbatim with the oracle, applied
    in a fixed order on both engines. Pure codegen string expressions."""
    return chunking.scrub_pii(load_table(spark, sf, "documents"))


# ---------------------------------------------------------------------------
# Deterministic sampling / dataset mixing
# ---------------------------------------------------------------------------

from sales_data_warehouse_spark.operators import sampling  # noqa: E402


@query(
    "stratified_sample",
    r"""
    WITH t AS (
      SELECT doc_id,
             LEN(STRING_SPLIT_REGEX(LOWER(text), '\s+')) AS n_tok
      FROM documents
    ),
    s AS (
      SELECT doc_id,
             CASE WHEN n_tok < 120 THEN 'short'
                  WHEN n_tok < 250 THEN 'medium'
                  ELSE 'long' END AS stratum
      FROM t
    )
    SELECT doc_id, stratum
    FROM s
    WHERE ((doc_id % 1000003 + 1000003) % 1000003)
          * 2654435761 % 4294967296 % 1000 <
          CASE stratum WHEN 'short' THEN 100
                       WHEN 'medium' THEN 500
                       ELSE 1000 END
    """,
)
def stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified sampling by length bucket (short 10%,
    medium 50%, long 100%): the Knuth multiplicative id hash replaces
    RNG, so the sample is reproducible across runs, engines, and
    cluster layouts — the oracle replays the identical arithmetic. A
    flat map at any scale (no shuffle, no state)."""
    d = load_table(spark, sf, "documents")
    n_tok = F.size(text.tokens(F.lower(F.col("text"))))
    stratum = (
        F.when(n_tok < 120, F.lit("short"))
        .when(n_tok < 250, F.lit("medium"))
        .otherwise(F.lit("long"))
    )
    return sampling.stratified_sample(
        d, stratum, {"short": 100, "medium": 500, "long": 1000}
    ).select("doc_id", "stratum")


@query(
    "mixture_interleave",
    """
    WITH t AS (
      SELECT doc_id,
             CASE doc_id % 3 WHEN 0 THEN 'web'
                             WHEN 1 THEN 'books'
                             ELSE 'code' END AS source
      FROM documents
    ),
    r AS (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM t
      WHERE source IN ('web', 'books', 'code')
    )
    SELECT source, doc_id,
           ROUND(rn / CASE source WHEN 'web' THEN 0.6
                                  WHEN 'books' THEN 0.3
                                  ELSE 0.1 END, 6) AS slot
    FROM r
    """,
)
def mixture_interleave(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted dataset-mixing schedule (web .6 / books .3 / code .1,
    sources derived from doc_id % 3 as a stand-in source tag): doc i of
    source s lands at slot i/w_s, so reading by ascending slot yields
    each source at its weight's cadence. One row_number window per
    source partition — independent tasks at scale."""
    d = load_table(spark, sf, "documents")
    source = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("web"))
        .when(F.col("doc_id") % 3 == 1, F.lit("books"))
        .otherwise(F.lit("code"))
    )
    return sampling.mixture_interleave(
        d, source, {"web": 0.6, "books": 0.3, "code": 0.1}
    )


@query(
    "embedding_normalize",
    """
    SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
           ROUND(embedding[i]::DOUBLE
                 / SQRT(LIST_DOT_PRODUCT(embedding::DOUBLE[],
                                         embedding::DOUBLE[])), 6)
             AS unit_val,
           ROUND(SQRT(LIST_DOT_PRODUCT(embedding::DOUBLE[],
                                       embedding::DOUBLE[])), 6) AS norm
    FROM (
      SELECT vec_id, embedding,
             UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS i
      FROM embeddings
    )
    """,
)
def embedding_normalize(spark: SparkSession, sf: str) -> DataFrame:
    """L2 normalization (unit vectors make cosine == dot): exact oracle,
    flat map, no shuffle.

    Driver-interface note: the operator emits (vec_id, unit
    ARRAY<DOUBLE>, norm); the wrapper posexplodes the unit vector to
    (vec_id, dim, unit_val, norm) rows — the driver's pandas
    canonicalizer cannot sort list columns (r3 `err` row), and
    exploding keeps the compare numeric instead of relying on
    engine-identical double-to-string JSON formatting."""
    out = similarity.normalize_embeddings(load_table(spark, sf, "embeddings"))
    return out.select(
        "vec_id", F.posexplode("unit").alias("dim", "unit_val"), "norm"
    ).withColumn("dim", F.col("dim").cast("bigint"))


@query(
    "embedding_centroids",
    """
    WITH x AS (
      SELECT grp, i - 1 AS dim,
             CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(27,12)) AS v
      FROM (
        SELECT label AS grp, embedding,
               UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS i
        FROM embeddings
      )
    ),
    comp AS (
      SELECT grp, dim, SUM(v) AS s, COUNT(*) AS n
      FROM x GROUP BY 1, 2
    )
    SELECT grp AS label,
           CAST(MAX(n) OVER (PARTITION BY grp) AS BIGINT) AS n_vecs,
           CAST(dim AS BIGINT) AS dim,
           ROUND(CAST(s AS DOUBLE) / n, 6) AS centroid_val
    FROM comp
    """,
)
def embedding_centroids(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label mean embedding via posexplode + (group, dim) aggregate —
    the dense-vector reduction whose shuffle carries |groups| x dim
    partials regardless of corpus size. Exact oracle: component sums
    accumulate in DECIMAL(27,12), one double division + round at the
    end, so both engines emit identical values.

    Driver-interface note: the operator emits (label, n_vecs, centroid
    ARRAY<DOUBLE>); the wrapper posexplodes the centroid to one
    (label, n_vecs, dim, centroid_val) row per component — the driver's
    pandas canonicalizer cannot sort list columns (the r3 `err`
    failure mode on the sibling embedding queries)."""
    out = similarity.group_centroids(load_table(spark, sf, "embeddings"))
    return out.select(
        "label", "n_vecs", F.posexplode("centroid").alias("dim", "centroid_val")
    ).withColumn("dim", F.col("dim").cast("bigint"))


@query(
    "semantic_outliers",
    """
    WITH x AS (
      SELECT grp, i - 1 AS dim,
             CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(27,12)) AS v
      FROM (
        SELECT label AS grp, embedding,
               UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS i
        FROM embeddings
      )
    ),
    comp AS (
      SELECT grp, dim, SUM(v) AS s, COUNT(*) AS n
      FROM x GROUP BY 1, 2
    ),
    cent AS (
      SELECT grp AS label,
             LIST(ROUND(CAST(s AS DOUBLE) / n, 6) ORDER BY dim) AS centroid
      FROM comp GROUP BY grp
    )
    SELECT e.vec_id, e.label,
           ROUND(
             LIST_DOT_PRODUCT(e.embedding::DOUBLE[], c.centroid)
             / (SQRT(LIST_DOT_PRODUCT(e.embedding::DOUBLE[],
                                      e.embedding::DOUBLE[]))
                * SQRT(LIST_DOT_PRODUCT(c.centroid, c.centroid))), 6
           ) AS cos_to_centroid
    FROM embeddings e JOIN cent c USING (label)
    WHERE LIST_DOT_PRODUCT(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) > 0
      AND LIST_DOT_PRODUCT(c.centroid, c.centroid) > 0
    """,
)
def semantic_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Each vector's cosine to its own label centroid — the distance
    that flags mislabeled / off-topic members of a semantic cluster.
    Centroids are |labels|-sized and broadcast back; the cosine runs in
    the Arrow-batched kernel (sequential per-dimension accumulation,
    matching the HOF dot and the oracle's loop), so nothing here
    shuffles the vector table a second time."""
    e = load_table(spark, sf, "embeddings")
    cents = similarity.group_centroids(e).select("label", "centroid")
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    joined = (
        e.select("vec_id", "label", vd.alias("_v"))
        .join(F.broadcast(cents), "label")
        .filter(
            (F.aggregate("_v", F.lit(0.0), lambda a, x: a + x * x) > 0)
            & (
                F.aggregate(
                    "centroid", F.lit(0.0), lambda a, x: a + x * x
                )
                > 0
            )
        )
    )
    from sales_data_warehouse_spark.operators.similarity import (
        _rowwise_cosine,
    )

    return joined.select(
        "vec_id",
        "label",
        F.round(
            _rowwise_cosine(F.col("_v"), F.col("centroid")), 6
        ).alias("cos_to_centroid"),
    )


from sales_data_warehouse_spark.operators.profile import profile_table  # noqa: E402


@query(
    "table_profile",
    """
    WITH a AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS cust_null,
             COUNT(DISTINCT o_custkey) AS cust_dist,
             CAST(MIN(o_custkey) AS VARCHAR) AS cust_min,
             CAST(MAX(o_custkey) AS VARCHAR) AS cust_max,
             SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS st_null,
             COUNT(DISTINCT o_orderstatus) AS st_dist,
             CAST(MIN(o_orderstatus) AS VARCHAR) AS st_min,
             CAST(MAX(o_orderstatus) AS VARCHAR) AS st_max,
             SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS tp_null,
             COUNT(DISTINCT o_totalprice) AS tp_dist,
             CAST(MIN(o_totalprice) AS VARCHAR) AS tp_min,
             CAST(MAX(o_totalprice) AS VARCHAR) AS tp_max
      FROM orders
    )
    SELECT 'o_custkey' AS "column", n AS n_rows,
           CAST(cust_null AS BIGINT) AS n_null,
           cust_dist AS n_distinct, cust_min AS min_value,
           cust_max AS max_value FROM a
    UNION ALL
    SELECT 'o_orderstatus', n, CAST(st_null AS BIGINT), st_dist,
           st_min, st_max FROM a
    UNION ALL
    SELECT 'o_totalprice', n, CAST(tp_null AS BIGINT), tp_dist,
           tp_min, tp_max FROM a
    """,
)
def table_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Single-pass per-column profile (completeness / cardinality /
    range) of three orders columns: one aggregate computes every
    statistic simultaneously, then the 1-row result is melted with
    stack — the unpivot touches the aggregate, never the data."""
    o = load_table(spark, sf, "orders")
    return profile_table(o, ["o_custkey", "o_orderstatus", "o_totalprice"])


@query(
    "bpe_pair_counts",
    r"""
    WITH toks AS (
      SELECT UNNEST(REGEXP_EXTRACT_ALL(
               LOWER(text),
               '''s|''t|''re|''ve|''m|''ll|''d| ?[a-z]+| ?[0-9]+| ?[^\sa-z0-9]+|\s+'
             )) AS tok
      FROM documents
    ),
    p AS (
      SELECT SUBSTR(tok, CAST(i AS INT), 2) AS pair
      FROM (
        SELECT tok, UNNEST(GENERATE_SERIES(1, LEN(tok) - 1)) AS i
        FROM toks WHERE LEN(tok) >= 2
      )
    )
    SELECT pair, COUNT(*) AS n FROM p GROUP BY pair HAVING COUNT(*) >= 2
    """,
)
def bpe_pair_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Adjacent-character pair frequencies over BPE pre-tokens — the
    statistic one BPE-training merge round maximizes. Explode + one
    groupBy: the shuffle carries only distinct-pair partial counts."""
    return text.bpe_pair_counts(load_table(spark, sf, "documents"))


from sales_data_warehouse_spark.operators.range_join import (  # noqa: E402
    range_join_dates,
)


@query(
    "range_join_weeks",
    """
    WITH bounds AS (
      SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
             MAX(CAST(o_orderdate AS DATE)) AS hi
      FROM orders
    ),
    weeks AS (
      SELECT UNNEST(GENERATE_SERIES(lo, hi, INTERVAL 7 DAY))::DATE AS wk_start
      FROM bounds
    ),
    iv AS (
      SELECT wk_start, wk_start + 6 AS wk_end FROM weeks
    )
    SELECT iv.wk_start, iv.wk_end, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM orders
    JOIN iv ON CAST(o_orderdate AS DATE) BETWEEN iv.wk_start AND iv.wk_end
    GROUP BY iv.wk_start, iv.wk_end
    """,
)
def range_join_weeks(spark: SparkSession, sf: str) -> DataFrame:
    """Pure range join (no equi key): every order lands in its 7-day
    window from a generated week-interval table, via grid-bucketed
    equi-join + exact BETWEEN filter instead of the nested-loop plan
    Catalyst would otherwise pick (plan-asserted in test_plan_quality).
    Oracle = the naive BETWEEN join."""
    o = load_table(spark, sf, "orders").withColumn(
        "o_date", F.col("o_orderdate").cast("date")
    )
    bounds = o.agg(
        F.min("o_date").alias("lo"), F.max("o_date").alias("hi")
    )
    iv = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 7 DAY"))
        ).alias("wk_start")
    ).select("wk_start", F.date_add("wk_start", 6).alias("wk_end"))
    joined = range_join_dates(
        o, iv, "o_date", "wk_start", "wk_end", grid_days=7
    )
    return (
        joined.groupBy("wk_start", "wk_end")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_money("o_totalprice")).cast("double").alias("total_price"),
        )
    )


from sales_data_warehouse_spark.operators import rollup as rollup_ops  # noqa: E402


@query(
    "hypertable_rollup",
    """
    SELECT CAST(TO_TIMESTAMP(FLOOR(EPOCH(ts) / 86400) * 86400)
                AS TIMESTAMP) AS bucket,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY 1
    """,
)
def hypertable_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable-style cascading continuous aggregate: events roll up
    to HOURLY buckets once, and the DAILY level aggregates the hourly
    partials (sum of sums / min of mins / ...), never the raw table —
    at 100 TB the day rollup reads the hour rollup's few GB. The oracle
    computes the daily answer straight from raw events, so the hash
    match proves the cascade is lossless (mergeable aggregates only;
    avg is derived as sum/n at read time)."""
    e = load_table(spark, sf, "events").withColumn(
        "value", _money("value")
    )
    hourly = rollup_ops.rollup_level(e, "ts", 3600, "value")
    daily = rollup_ops.merge_rollup(hourly, 86400)
    return daily.select(
        F.col("bucket").cast("timestamp_ntz").alias("bucket"),
        "n_events",
        F.col("sum_value").cast("double").alias("sum_value"),
        F.col("min_value").cast("double").alias("min_value"),
        F.col("max_value").cast("double").alias("max_value"),
    )


@query(
    "sketch_union_rollup",
    """
    SELECT n.n_regionkey AS region_key,
           CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS exact_customers,
           CAST(COUNT(DISTINCT n.n_nationkey) AS BIGINT) AS n_nations,
           TRUE AS union_within_bounds
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_regionkey
    """,
)
def sketch_union_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable-sketch rollup: per-nation HLL sketches of customer ids
    (hll_sketch_agg) are UNIONED to region level (hll_union_agg) — the
    two-level cascade approx_count_distinct cannot express, and the
    reason binary sketches exist: partial sketches persist and merge
    without re-reading raw data (same cascade shape as
    hypertable_rollup, for distinct counts).

    Property oracle: the unioned estimate must land within 10% of the
    exact region-level distinct (default lgConfigK=12 -> ~1.6% rsd);
    exact counts ride along, so both the truth and the bound go red on
    drift."""
    c = load_table(spark, sf, "customer")
    n = load_table(spark, sf, "nation")
    per_nation = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_regionkey", "n_nationkey")
        .agg(F.expr("hll_sketch_agg(c_custkey)").alias("sk"))
    )
    region = per_nation.groupBy("n_regionkey").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est"),
        F.count(F.lit(1)).alias("n_nations"),
    )
    exact = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_regionkey")
        .agg(F.count_distinct("c_custkey").alias("exact_customers"))
    )
    return (
        region.join(exact, "n_regionkey")
        .select(
            F.col("n_regionkey").alias("region_key"),
            F.col("exact_customers").cast("bigint").alias("exact_customers"),
            F.col("n_nations").cast("bigint").alias("n_nations"),
            (
                F.abs(F.col("est") - F.col("exact_customers"))
                / F.col("exact_customers")
                <= 0.10
            ).alias("union_within_bounds"),
        )
    )


# ---------------------------------------------------------------------------
# Subquery family: scalar, EXISTS, IN (Catalyst decorrelation surface)
# ---------------------------------------------------------------------------

def _register(spark: SparkSession, sf: str, *names: str) -> None:
    for t in names:
        load_table(spark, sf, t).createOrReplaceTempView(t)


@query(
    "scalar_subquery_share",
    """
    WITH per_part AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS part_rev
      FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, part_rev
    FROM per_part
    WHERE part_rev > (SELECT 1.5 * AVG(part_rev) FROM per_part)
    """,
)
def scalar_subquery_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape: keep groups whose revenue exceeds a multiple of
    the global average — a scalar subquery against the same aggregate.
    Catalyst plans the scalar as a one-row broadcast (Subquery +
    ReusedExchange for the shared aggregate), not a per-row rerun."""
    _register(spark, sf, "lineitem")
    return spark.sql(
        """
        WITH per_part AS (
          SELECT l_partkey,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS part_rev
          FROM lineitem GROUP BY l_partkey
        )
        SELECT l_partkey, part_rev
        FROM per_part
        WHERE part_rev > (SELECT 1.5 * AVG(part_rev) FROM per_part)
        """
    )


@query(
    "exists_subquery_orders",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_discount > 0.08
    )
    GROUP BY o_orderpriority
    """,
)
def exists_subquery_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS — Catalyst decorrelates it to a
    left-semi hash join on the correlation key; no per-row subquery
    execution survives in the plan."""
    _register(spark, sf, "orders", "lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders o
        WHERE EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_discount > 0.08
        )
        GROUP BY o_orderpriority
        """
    )


@query(
    "in_subquery_big_orders",
    """
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) >= 150
    )
    """,
)
def in_subquery_big_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape: IN over a grouped-HAVING subquery — planned as
    a semi join against the aggregated subquery, the decorrelated form
    of the membership test."""
    _register(spark, sf, "orders", "lineitem")
    return spark.sql(
        """
        SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS total_price
        FROM orders
        WHERE o_orderkey IN (
          SELECT l_orderkey FROM lineitem
          GROUP BY l_orderkey
          HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) >= 150
        )
        """
    )


@query(
    "not_exists_customers",
    """
    SELECT c_mktsegment, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
    FROM customer c
    WHERE c.c_acctbal > 0 AND NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
    )
    GROUP BY c_mktsegment
    """,
)
def not_exists_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape: positive-balance customers who never placed a
    big-ticket order — correlated NOT EXISTS with an extra predicate,
    decorrelated by Catalyst to a left-anti hash join on the
    correlation key. (Plain no-orders-at-all is empty in this synthetic
    data — every customer has orders — so the threshold keeps the
    result non-trivial: 29 rows at sf0.01.)"""
    _register(spark, sf, "customer", "orders")
    return spark.sql(
        """
        SELECT c_mktsegment, COUNT(*) AS n_customers,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                 AS sum_bal
        FROM customer c
        WHERE c.c_acctbal > 0 AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000
        )
        GROUP BY c_mktsegment
        """
    )


@query(
    "multimodal_audio_windows",
    """
    WITH d AS (
      SELECT doc_id, OCTET_LENGTH(ENCODE(text)) AS n FROM documents
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS window_idx,
           CAST(LEAST(256, n - i * 256) AS BIGINT) AS n_samples,
           TRUE AS rms_ok,
           TRUE AS peak_ok
    FROM (
      SELECT doc_id, n,
             UNNEST(GENERATE_SERIES(0, CAST(CEIL(n / 256.0) AS INT) - 1))
               AS i
      FROM d WHERE n > 0
    )
    """,
)
def multimodal_audio_windows(spark: SparkSession, sf: str) -> DataFrame:
    """STUB audio featurization (payload bytes as 8-bit PCM): windowed
    RMS/peak via Arrow-batched mapInPandas. The window STRUCTURE
    (doc, window index, samples per window) is exactly oracle-checked;
    the waveform stats are property-checked (0 <= rms <= peak <= 255) —
    byte-level math is not SQL-reachable, but a windowing or reduction
    bug flips the booleans red."""
    from sales_data_warehouse_spark.operators.multimodal import (
        audio_window_stats,
    )

    media = attach_binary_payload(load_table(spark, sf, "documents"))
    st = audio_window_stats(media)
    return st.select(
        "doc_id",
        "window_idx",
        "n_samples",
        (
            (F.col("rms") >= 0)
            & (F.col("rms") <= F.col("peak").cast("double"))
        ).alias("rms_ok"),
        ((F.col("peak") >= 0) & (F.col("peak") <= 255)).alias("peak_ok"),
    )


# ---------------------------------------------------------------------------
# Event-series analytics: funnel / retention / gap-fill / histogram
# (operators/timeseries.py — the telemetry query family the reference's
# sales events would need at warehouse scale)
# ---------------------------------------------------------------------------

from sales_data_warehouse_spark.operators import timeseries as _ts  # noqa: E402


@query(
    "funnel_conversion",
    """
    WITH s0 AS (
      SELECT user_id, MIN(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    s1 AS (
      SELECT e.user_id, MIN(e.ts) AS t FROM events e
      JOIN s0 ON e.user_id = s0.user_id
             AND e.ts > s0.t AND e.ts <= s0.t + INTERVAL 24 HOUR
      WHERE e.event_type = 'click' GROUP BY 1
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t FROM events e
      JOIN s1 ON e.user_id = s1.user_id
             AND e.ts > s1.t AND e.ts <= s1.t + INTERVAL 24 HOUR
      WHERE e.event_type = 'purchase' GROUP BY 1
    )
    SELECT * FROM (VALUES
      (0, 'view', (SELECT COUNT(*) FROM s0)),
      (1, 'click', (SELECT COUNT(*) FROM s1)),
      (2, 'purchase', (SELECT COUNT(*) FROM s2))
    ) AS t(step_idx, step, n_users)
    """,
)
def funnel_conversion(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered first-touch funnel view -> click -> purchase with a 24 h
    conversion deadline per step (150 -> 60 -> 25 users at sf0.01)."""
    e = load_table(spark, sf, "events")
    return _ts.funnel_conversion(
        e, ("view", "click", "purchase"), within_hours=24
    )


@query(
    "retention_cohorts",
    """
    WITH cohort AS (
      SELECT user_id, MIN(CAST(DATE_TRUNC('week', ts) AS DATE))
               AS cohort_week
      FROM events GROUP BY 1
    ),
    active AS (
      SELECT DISTINCT user_id, CAST(DATE_TRUNC('week', ts) AS DATE)
               AS active_week
      FROM events
    )
    SELECT cohort_week,
           CAST(DATEDIFF('day', cohort_week, active_week) / 7 AS BIGINT)
             AS week_offset,
           COUNT(*) AS n_users
    FROM active JOIN cohort USING (user_id)
    GROUP BY 1, 2
    """,
)
def retention_cohorts(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly retention triangle (cohort by first-seen ISO week)."""
    return _ts.retention_cohorts(load_table(spark, sf, "events"))


@query(
    "gap_fill_locf",
    """
    WITH ranked AS (
      SELECT user_id, CAST(ts AS DATE) AS day, value,
             ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ),
    daily AS (
      SELECT user_id, day, value AS day_close FROM ranked WHERE rn = 1
    ),
    bounds AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d0,
             MAX(CAST(ts AS DATE)) AS d1
      FROM events GROUP BY 1
    ),
    spine AS (
      SELECT user_id,
             UNNEST(GENERATE_SERIES(d0, d1, INTERVAL 1 DAY))::DATE AS day
      FROM bounds
    )
    SELECT s.user_id, s.day, d.day_close,
           LAST_VALUE(d.day_close IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
           d.day_close IS NOT NULL AS observed
    FROM spine s LEFT JOIN daily d USING (user_id, day)
    """,
)
def gap_fill_locf(spark: SparkSession, sf: str) -> DataFrame:
    """Daily per-user gap-filled series, last-observation-carried-forward
    (460 of 4,466 spine days are interpolated at sf0.01)."""
    return _ts.gap_fill_locf(load_table(spark, sf, "events"))


@query(
    "value_histogram",
    """
    SELECT event_type, CAST(FLOOR(value / 10.0) AS BIGINT) AS bin,
           COUNT(*) AS n,
           ROUND(MIN(value), 6) AS bin_min,
           ROUND(MAX(value), 6) AS bin_max,
           ROUND(CAST(FLOOR(value / 10.0) AS BIGINT) * CAST(10.0 AS DOUBLE), 6)
             AS bin_lo
    FROM events GROUP BY 1, 2
    """,
)
def value_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-width histogram of event values per type (profiling / drift
    monitoring primitive; one codegen groupBy)."""
    return _ts.value_histogram(
        load_table(spark, sf, "events"), bin_width=10.0,
        group_col="event_type",
    )


# ---------------------------------------------------------------------------
# Corpus curation: repetition quality, tf-idf terms, decontamination,
# token-budget selection (operators/text.py, dedup.py, sampling.py)
# ---------------------------------------------------------------------------


@query(
    "repetition_quality",
    r"""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT_REGEX(LOWER(text), '\s+') AS w
      FROM documents
    ),
    base AS (
      SELECT doc_id, LEN(w) AS n_tokens, LEN(LIST_DISTINCT(w)) AS n_distinct,
             LEN(w) - 1 AS n_2grams,
             LEN(LIST_DISTINCT(LIST_TRANSFORM(
               GENERATE_SERIES(1, LEN(w) - 1),
               i -> w[i] || ' ' || w[i+1]))) AS d2,
             LEN(w) - 2 AS n_3grams,
             LEN(LIST_DISTINCT(LIST_TRANSFORM(
               GENERATE_SERIES(1, LEN(w) - 2),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS d3
      FROM toks
    ),
    tc AS (
      SELECT doc_id, MAX(c) AS top_cnt FROM (
        SELECT doc_id, COUNT(*) AS c
        FROM (SELECT doc_id, UNNEST(w) AS tok FROM toks)
        GROUP BY doc_id, tok
      ) GROUP BY doc_id
    )
    SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
           ROUND(CAST(b.n_distinct AS DOUBLE) / b.n_tokens, 6)
             AS distinct_ratio,
           ROUND(CAST(t.top_cnt AS DOUBLE) / b.n_tokens, 6)
             AS top_token_frac,
           CASE WHEN b.n_2grams > 0
                THEN ROUND(1 - CAST(b.d2 AS DOUBLE) / b.n_2grams, 6)
                ELSE 0.0 END AS dup_2gram_frac,
           CASE WHEN b.n_3grams > 0
                THEN ROUND(1 - CAST(b.d3 AS DOUBLE) / b.n_3grams, 6)
                ELSE 0.0 END AS dup_3gram_frac
    FROM base b JOIN tc t USING (doc_id)
    """,
)
def repetition_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition signals: distinct-token ratio, top-token
    share, duplicate 2-/3-gram fractions per document."""
    return text.repetition_stats(load_table(spark, sf, "documents"))


@query(
    "tfidf_top_terms",
    r"""
    WITH tf AS (
      SELECT doc_id, tok AS term, COUNT(*) AS tf
      FROM (SELECT doc_id,
                   UNNEST(STRING_SPLIT_REGEX(LOWER(text), '\s+')) AS tok
            FROM documents)
      WHERE tok <> '' GROUP BY 1, 2
    ),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             CAST((tf.tf * 1000000) // df.df AS BIGINT) AS score_ppm
      FROM tf JOIN df USING (term)
    ),
    ranked AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
               PARTITION BY doc_id
               ORDER BY score_ppm DESC, term ASC) AS INT) AS rank
      FROM scored
    )
    SELECT doc_id, rank, term, CAST(tf AS BIGINT) AS tf,
           CAST(df AS BIGINT) AS df, score_ppm
    FROM ranked WHERE rank <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 characteristic terms per doc by integer-exact tf-idf rank
    (reciprocal-df scoring; see text.tfidf_top_terms for why no log)."""
    return text.tfidf_top_terms(load_table(spark, sf, "documents"), k=3)


@query(
    "decontaminate_ngrams",
    r"""
    WITH sh AS (
      SELECT doc_id, source, LIST_DISTINCT(LIST_TRANSFORM(
        GENERATE_SERIES(1, LEN(STRING_SPLIT_REGEX(LOWER(text), '\s+')) - 3),
        i -> STRING_SPLIT_REGEX(LOWER(text), '\s+')[i] || ' ' ||
             STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+1] || ' ' ||
             STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+2] || ' ' ||
             STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+3])) AS shingles
      FROM documents
    ),
    tr AS (
      SELECT doc_id, UNNEST(shingles) AS shingle FROM sh
      WHERE source <> 'src0'
    ),
    bench AS (
      SELECT DISTINCT UNNEST(shingles) AS shingle FROM sh
      WHERE source = 'src0'
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM tr GROUP BY 1),
    ov AS (
      SELECT tr.doc_id, COUNT(*) AS n_overlap
      FROM tr JOIN bench USING (shingle) GROUP BY 1
    )
    SELECT ov.doc_id AS doc, CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_overlap AS BIGINT) AS n_overlap,
           ROUND(CAST(n_overlap AS DOUBLE) / n_shingles, 6)
             AS overlap_frac,
           n_overlap >= 1 AS contaminated
    FROM ov JOIN sizes USING (doc_id)
    """,
)
def decontaminate_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: training docs (source != src0) sharing
    any word 4-gram with the benchmark corpus (source = src0); 49 docs
    flagged at sf0.01."""
    docs = load_table(spark, sf, "documents")
    return dedup.ngram_decontaminate(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=4,
    )


@query(
    "source_overlap_matrix",
    r"""
    WITH sh AS (
      SELECT DISTINCT source AS src, shingle
      FROM (
        SELECT source,
               UNNEST(LIST_TRANSFORM(
                 GENERATE_SERIES(1, LEN(STRING_SPLIT_REGEX(LOWER(text), '\s+')) - 2),
                 i -> STRING_SPLIT_REGEX(LOWER(text), '\s+')[i] || ' ' ||
                      STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+1] || ' ' ||
                      STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+2]
               )) AS shingle
        FROM documents
      )
    ),
    sizes AS (
      SELECT src, COUNT(*) AS n_shingles FROM sh GROUP BY 1
    ),
    inter AS (
      SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.src <> b.src
      GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b,
           CAST(s.n_shingles AS BIGINT) AS n_shingles_a,
           CAST(i.n_common AS BIGINT) AS n_common,
           ROUND(CAST(i.n_common AS DOUBLE) / s.n_shingles, 6)
             AS containment
    FROM inter i JOIN sizes s ON s.src = i.src_a
    """,
)
def source_overlap_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source shingle containment matrix — which sources are
    near-copies of each other (mirrors, re-crawls, dataset overlap)
    before mixture weights are chosen."""
    return dedup.source_overlap_matrix(load_table(spark, sf, "documents"))


@query(
    "token_budget_select",
    r"""
    WITH t AS (
      SELECT source, doc_id,
             CAST(LEN(STRING_SPLIT_REGEX(text, '\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT *, SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS cum_tokens
      FROM t
    )
    SELECT source, doc_id, n_tokens, CAST(cum_tokens AS BIGINT)
             AS cum_tokens
    FROM c WHERE cum_tokens <= 1000
    """,
)
def token_budget_select(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source token-budget selection: keep each source's doc_id-ordered
    prefix while the running whitespace-token total stays within 1,000."""
    from sales_data_warehouse_spark.operators.sampling import (
        token_budget_select as _tbs,
    )

    return _tbs(load_table(spark, sf, "documents"), budget=1000)


# ---------------------------------------------------------------------------
# Statistical windows, multiset ops, rank-with-ties (engine surface)
# ---------------------------------------------------------------------------


@query(
    "rolling_range_avg",
    """
    SELECT event_id, user_id, ts, value,
           COUNT(*) OVER w AS n_7d,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
                 / COUNT(*) OVER w, 6) AS avg_7d
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW)
    """,
)
def rolling_range_avg(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing-7-day per-user moving average over a RANGE (interval)
    frame — the frame type ROWS-based windows can't express when event
    density varies."""
    return _ts.rolling_range_avg(load_table(spark, sf, "events"), days=7)


@query(
    "zscore_outliers",
    """
    WITH stats AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(18,2))) AS s,
             SUM(CAST(value * value AS DECIMAL(28,4))) AS ss
      FROM events GROUP BY 1
    )
    SELECT event_id, event_type, value,
           ROUND((value - CAST(s AS DOUBLE) / n)
                 / NULLIF(SQRT(CAST(ss AS DOUBLE) / n
                        - (CAST(s AS DOUBLE) / n)
                          * (CAST(s AS DOUBLE) / n)), 0), 6) AS z,
           ABS(ROUND((value - CAST(s AS DOUBLE) / n)
                 / NULLIF(SQRT(CAST(ss AS DOUBLE) / n
                        - (CAST(s AS DOUBLE) / n)
                          * (CAST(s AS DOUBLE) / n)), 0), 6)) > 3.0
             AS is_outlier
    FROM events JOIN stats USING (event_type)
    """,
)
def zscore_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Per-type z-score outlier flags with decimal-exact moments (see
    timeseries.zscore_outliers for the cross-engine determinism
    argument)."""
    return _ts.zscore_outliers(load_table(spark, sf, "events"))


@query(
    "window_cume_dist",
    """
    SELECT c_custkey, c_mktsegment, c_acctbal,
           ROUND(CUME_DIST() OVER (
             PARTITION BY c_mktsegment ORDER BY c_acctbal), 6) AS cd,
           ROUND(PERCENT_RANK() OVER (
             PARTITION BY c_mktsegment ORDER BY c_acctbal), 6) AS pr
    FROM customer
    """,
)
def window_cume_dist(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution window functions (CUME_DIST / PERCENT_RANK) — both
    are tie-stable, so no artificial tiebreak column is needed."""
    c = load_table(spark, sf, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.round(F.cume_dist().over(w), 6).alias("cd"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
    )


@query(
    "set_except_all",
    """
    SELECT l_orderkey AS okey FROM lineitem
    EXCEPT ALL
    SELECT o_orderkey AS okey FROM orders
    """,
)
def set_except_all(spark: SparkSession, sf: str) -> DataFrame:
    """Multiset difference (EXCEPT ALL): keeps multiplicity — each
    orderkey survives max(count_lineitem - count_orders, 0) times,
    unlike the distinct-set ``set_except``."""
    li = load_table(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("okey")
    )
    o = load_table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("okey")
    )
    return li.exceptAll(o)


@query(
    "set_intersect_all",
    """
    SELECT l_orderkey AS okey FROM lineitem
    INTERSECT ALL
    SELECT o_orderkey AS okey FROM orders
    """,
)
def set_intersect_all(spark: SparkSession, sf: str) -> DataFrame:
    """Multiset intersection (INTERSECT ALL): min(count_a, count_b)
    copies per key."""
    li = load_table(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("okey")
    )
    o = load_table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("okey")
    )
    return li.intersectAll(o)


@query(
    "topk_rank_ties",
    """
    WITH r AS (
      SELECT o_orderpriority, o_orderkey, o_orderdate,
             RANK() OVER (PARTITION BY o_orderpriority
                          ORDER BY o_orderdate DESC) AS rnk
      FROM orders
    )
    SELECT o_orderpriority, o_orderkey, o_orderdate,
           CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 3
    """,
)
def topk_rank_ties(spark: SparkSession, sf: str) -> DataFrame:
    """Top-k per group WITH ties (RANK, not ROW_NUMBER): all orders on
    each priority's three latest dates — the tie-inclusive top-k the
    dense-rank/row-number entries don't cover."""
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_orderdate").desc()
    )
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            "o_orderdate",
            F.rank().over(w).cast("bigint").alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
    )


@query(
    "full_outer_join",
    """
    WITH big AS (
      SELECT o_custkey, COUNT(*) AS n_big
      FROM orders WHERE o_totalprice > 200000 GROUP BY 1
    ),
    neg AS (
      SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal
      FROM customer WHERE c_acctbal < 0
    )
    SELECT COALESCE(b.o_custkey, n.c_custkey) AS custkey,
           COALESCE(b.n_big, 0) AS n_big_orders,
           n.acctbal,
           b.o_custkey IS NOT NULL AS has_big_orders,
           n.c_custkey IS NOT NULL AS has_negative_balance
    FROM big b FULL OUTER JOIN neg n ON b.o_custkey = n.c_custkey
    """,
)
def full_outer_join(spark: SparkSession, sf: str) -> DataFrame:
    """FULL OUTER join — both sides keep unmatched keys (customers with
    big orders but positive balance, and vice versa). The one outer-join
    variant the reference never uses; completes the engine's join
    surface."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    big = (
        o.filter(F.col("o_totalprice") > 200000)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_big"))
    )
    neg = c.filter(F.col("c_acctbal") < 0).select(
        "c_custkey", F.round("c_acctbal", 2).alias("acctbal")
    )
    j = big.join(neg, big.o_custkey == neg.c_custkey, "full_outer")
    return j.select(
        F.coalesce("o_custkey", "c_custkey").alias("custkey"),
        F.coalesce("n_big", F.lit(0)).alias("n_big_orders"),
        "acctbal",
        F.col("o_custkey").isNotNull().alias("has_big_orders"),
        F.col("c_custkey").isNotNull().alias("has_negative_balance"),
    )


@query(
    "fuzzy_name_match",
    """
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(LEVENSHTEIN(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
    WHERE LEVENSHTEIN(a.p_name, b.p_name) <= 3
    """,
)
def fuzzy_name_match(spark: SparkSession, sf: str) -> DataFrame:
    """Fuzzy duplicate detection on names: Levenshtein distance <= 3
    within a blocking key (brand) — the classic entity-resolution
    cleansing op. Blocking turns the quadratic all-pairs comparison into
    per-block pairs (the same hazard/fix as the shingle self-join: at
    100 TB block on something selective and cap block sizes)."""
    p = load_table(spark, sf, "part").select("p_partkey", "p_name", "p_brand")
    a = p.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        "p_brand",
    )
    b = p.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        "p_brand",
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, "p_brand")
        .filter(F.col("key_a") < F.col("key_b"))
        .filter(dist <= 3)
        .select(
            "key_a", "key_b", "name_a", "name_b",
            dist.cast("bigint").alias("edit_dist"),
        )
    )


@query(
    "union_by_name_missing",
    """
    SELECT o_orderkey AS okey, o_totalprice AS price, NULL AS segment
    FROM orders WHERE o_totalprice > 400000
    UNION ALL BY NAME
    SELECT c_custkey AS okey, c_mktsegment AS segment
    FROM customer WHERE c_acctbal > 9900
    """,
)
def union_by_name_missing(spark: SparkSession, sf: str) -> DataFrame:
    """Schema-evolution union: unionByName(allowMissingColumns=True)
    NULL-fills columns absent on one side — how an engine appends
    heterogeneous snapshots of an evolving table."""
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    left = o.filter(F.col("o_totalprice") > 400000).select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_totalprice").alias("price"),
    )
    right = c.filter(F.col("c_acctbal") > 9900).select(
        F.col("c_custkey").alias("okey"),
        F.col("c_mktsegment").alias("segment"),
    )
    return left.unionByName(right, allowMissingColumns=True)


@query(
    "embedding_quantize",
    """
    WITH s AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             LIST_MAX(LIST_TRANSFORM(embedding::DOUBLE[], x -> ABS(x)))
               / 127.0 AS sc
      FROM embeddings
    )
    SELECT vec_id, ROUND(sc, 6) AS scale,
           CAST(i - 1 AS BIGINT) AS dim,
           CAST(ROUND(v[i] / sc) AS INT) AS q
    FROM (SELECT vec_id, sc, v,
                 UNNEST(GENERATE_SERIES(1, LEN(v))) AS i
          FROM s WHERE sc > 0)
    """,
)
def embedding_quantize(spark: SparkSession, sf: str) -> DataFrame:
    """Symmetric int8 embedding quantization (scale = max|x|/127) — the
    storage representation an ANN shard uses at 100 TB.

    Driver-interface note: the operator emits (vec_id, scale, qvec
    ARRAY<INT>); the wrapper posexplodes to (vec_id, scale, dim, q)
    rows because the driver's pandas canonicalizer cannot sort list
    columns (r3 `err` row). Zero-scale vectors (NULL qvec) carry no
    exploded rows on either engine — the testdata has none; the
    NULL-qvec contract itself is pinned by tests/test_similarity.py."""
    out = similarity.quantize_embeddings(load_table(spark, sf, "embeddings"))
    return out.select(
        "vec_id", "scale", F.posexplode("qvec").alias("dim", "q")
    ).withColumn("dim", F.col("dim").cast("bigint"))


@query(
    "embedding_truncate",
    """
    WITH s AS (
      SELECT vec_id, (embedding::DOUBLE[])[1:16] AS v
      FROM embeddings
    ),
    n AS (
      SELECT vec_id, v, SQRT(LIST_DOT_PRODUCT(v, v)) AS nrm FROM s
    )
    SELECT vec_id, ROUND(nrm, 6) AS prefix_norm,
           CAST(i - 1 AS BIGINT) AS dim,
           ROUND(v[i] / nrm, 6) AS unit_val
    FROM (SELECT vec_id, nrm, v,
                 UNNEST(GENERATE_SERIES(1, LEN(v))) AS i
          FROM n WHERE nrm > 0)
    """,
)
def embedding_truncate(spark: SparkSession, sf: str) -> DataFrame:
    """Matryoshka truncation to 16 dims + re-normalization — coarse
    retrieval representation; full vectors stay for rerank.

    Driver-interface note: the operator emits (vec_id, prefix_norm,
    unit_prefix ARRAY<DOUBLE>); the wrapper posexplodes to
    (vec_id, prefix_norm, dim, unit_val) rows — the driver's pandas
    canonicalizer cannot sort list columns (r3 `err` row). Zero-norm
    prefixes (NULL unit_prefix) carry no exploded rows on either
    engine; the NULL contract is pinned by tests/test_similarity.py."""
    out = similarity.truncate_embeddings(
        load_table(spark, sf, "embeddings"), dims=16
    )
    return out.select(
        "vec_id", "prefix_norm", F.posexplode("unit_prefix").alias("dim", "unit_val")
    ).withColumn("dim", F.col("dim").cast("bigint"))


@query(
    "topk_unshipped_revenue",
    """
    SELECT l.l_orderkey AS okey, o.o_orderdate, o.o_orderpriority,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1995-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, okey ASC
    LIMIT 10
    """,
)
def topk_unshipped_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: revenue of not-yet-shipped lineitems for one
    market segment's pre-cutoff orders, top 10. Exercises the classic
    dim-filter -> fact-join -> agg -> global top-k pipeline in one
    query; revenue aggregates in DECIMAL for cross-engine exactness,
    and the ties break on orderkey so LIMIT is deterministic."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
    )
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
        .join(
            o.filter(F.col("o_orderdate") < F.lit("1995-03-15").cast("date")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            li.filter(
                F.col("l_shipdate")
                > F.to_timestamp(F.lit("1995-03-15 00:00:00"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            F.col("l_orderkey").alias("okey"),
            "o_orderdate",
            "o_orderpriority",
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("okey").asc())
        .limit(10)
    )


@query(
    "session_funnel",
    """
    WITH gaps AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w)
                          > 1800 * 1000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts, event_type,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS snum
      FROM gaps
    ),
    t0 AS (
      SELECT user_id, snum, MIN(ts) AS t FROM s
      WHERE event_type = 'view' GROUP BY 1, 2
    ),
    t1 AS (
      SELECT s.user_id, s.snum, MIN(s.ts) AS t
      FROM s JOIN t0 ON s.user_id = t0.user_id AND s.snum = t0.snum
      WHERE s.event_type = 'click' AND s.ts > t0.t GROUP BY 1, 2
    ),
    t2 AS (
      SELECT s.user_id, s.snum, MIN(s.ts) AS t
      FROM s JOIN t1 ON s.user_id = t1.user_id AND s.snum = t1.snum
      WHERE s.event_type = 'purchase' AND s.ts > t1.t GROUP BY 1, 2
    )
    SELECT * FROM (VALUES
      (0, 'view', (SELECT COUNT(*) FROM t0)),
      (1, 'click', (SELECT COUNT(*) FROM t1)),
      (2, 'purchase', (SELECT COUNT(*) FROM t2))
    ) AS v(step_idx, step, n_sessions)
    """,
)
def session_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Funnel completed WITHIN one 30-minute-gap session — conversion
    that doesn't credit a purchase three days after the view (the
    product-analytics default the plain funnel can't express).

    Composition: the sessionize gap logic assigns (user, session)
    keys, then :func:`timeseries.funnel_steps` runs UNCHANGED on the
    composite key — single scan, one shuffle keyed on session. The
    rollup counts sessions at each depth."""
    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    cur_us = F.unix_micros(F.col("ts").cast("timestamp"))
    new_session = F.when(
        prev_us.isNull() | (cur_us - prev_us > 1800 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    sessions = e.withColumn(
        "session_key",
        F.concat_ws(
            "#",
            F.col("user_id"),
            F.sum(new_session).over(w),
        ),
    )
    steps = ("view", "click", "purchase")
    per_session = _ts.funnel_steps(sessions, steps, user_col="session_key")
    agg = per_session.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("depth") > i, 1).otherwise(0)), F.lit(0)
            )
            .cast("bigint")
            .alias(f"_n{i}")
            for i in range(len(steps))
        ]
    )
    stack_args = ", ".join(
        f"{i}, '{s}', _n{i}" for i, s in enumerate(steps)
    )
    return agg.selectExpr(
        f"stack({len(steps)}, {stack_args}) AS (step_idx, step, n_sessions)"
    )


@query(
    "rolling_active_users",
    """
    WITH active AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    dau AS (SELECT day, COUNT(*) AS dau FROM active GROUP BY 1),
    contrib AS (
      SELECT DISTINCT day + CAST(off AS INTEGER) AS day, user_id
      FROM active, UNNEST(GENERATE_SERIES(0, 6)) AS t(off)
    ),
    wau AS (SELECT day, COUNT(*) AS wau FROM contrib GROUP BY 1)
    SELECT d.day, CAST(d.dau AS BIGINT) AS dau,
           CAST(w.wau AS BIGINT) AS wau,
           ROUND(CAST(d.dau AS DOUBLE) / w.wau, 6) AS stickiness
    FROM dau d JOIN wau w USING (day)
    """,
)
def rolling_active_users(spark: SparkSession, sf: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per observed day, via
    explode-to-contribution-days instead of a windowed distinct or a
    range join."""
    return _ts.rolling_active_users(load_table(spark, sf, "events"))


@query(
    "user_paths",
    """
    WITH r AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    p AS (
      SELECT user_id, STRING_AGG(event_type, '>' ORDER BY rn) AS path
      FROM r WHERE rn <= 3 GROUP BY 1
    )
    SELECT path, COUNT(*) AS n_users
    FROM p GROUP BY 1
    """,
)
def user_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Top-of-funnel behavior paths: each user's first three event
    types, in order, rolled up to (path, n_users) — the Sankey-source
    query of product analytics.

    One shuffle on user (window row_number, ties broken by event_id for
    cross-engine determinism), then a tiny path-cardinality aggregate —
    at 100 TB the second shuffle carries one short string per user."""
    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firstk = (
        e.select(
            "user_id",
            "event_type",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )
    paths = (
        firstk.groupBy("user_id")
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("rn"), F.col("event_type"))
                        )
                    ),
                    lambda s: s["event_type"],
                ),
            ).alias("path")
        )
    )
    return paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_users")
    )


@query(
    "session_stats",
    """
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER w)
                          > 1800 * 1000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT *, SUM(new_s) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM gaps
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST((EPOCH_US(MAX(ts)) - EPOCH_US(MIN(ts))) // 1000000
                AS BIGINT) AS duration_sec,
           COUNT(*) AS n_events
    FROM s GROUP BY 1, 2
    """,
)
def session_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Session-level analytics: the `sessionize` gap logic extended to a
    session table (start/end/duration/event count per session) — two
    windows + one groupBy, all partitioned on user so the sort is paid
    once."""
    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    cur_us = F.unix_micros(F.col("ts").cast("timestamp"))
    new_s = (
        F.when(
            prev_us.isNull() | (cur_us - prev_us > 1800 * 1_000_000),
            F.lit(1),
        )
        .otherwise(F.lit(0))
    )
    sid = F.sum(new_s).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.withColumn("session_id", sid.cast("bigint"))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (
                (
                    F.unix_micros(F.max("ts").cast("timestamp"))
                    - F.unix_micros(F.min("ts").cast("timestamp"))
                )
                / 1_000_000
            )
            .cast("bigint")
            .alias("duration_sec"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "attribution_last_touch",
    """
    WITH clicks AS (
      SELECT user_id, ts AS click_ts, MAX(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY 1, 2
    ),
    purchases AS (
      SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    ),
    j AS (
      SELECT p.purchase_id, p.user_id, p.purchase_ts,
             c.click_ts, c.click_id,
             ROW_NUMBER() OVER (PARTITION BY p.purchase_id
                                ORDER BY c.click_ts DESC) AS rn
      FROM purchases p
      JOIN clicks c ON p.user_id = c.user_id
                   AND c.click_ts <= p.purchase_ts
    )
    SELECT purchase_id, user_id, purchase_ts, click_id, click_ts,
           CAST((EPOCH_US(purchase_ts) - EPOCH_US(click_ts)) // 1000000
                AS BIGINT) AS latency_sec
    FROM j
    WHERE rn = 1
      AND EPOCH_US(purchase_ts) - EPOCH_US(click_ts)
          <= CAST(3600000000 AS BIGINT)
    """,
)
def attribution_last_touch(spark: SparkSession, sf: str) -> DataFrame:
    """Last-touch attribution: each purchase matched to the user's most
    recent click within the hour — the batch twin of the streaming
    interval join, built on the reusable ``asof_join`` operator (clicks
    deduped to one per (user, ts) so the as-of pick is deterministic)."""
    e = load_table(spark, sf, "events")
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("click_ts"))
        .agg(F.max("event_id").alias("click_id"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    lat_us = F.unix_micros(
        F.col("purchase_ts").cast("timestamp")
    ) - F.unix_micros(F.col("click_ts").cast("timestamp"))
    return (
        asof_join(
            purchases,
            clicks,
            on=["user_id"],
            left_ts="purchase_ts",
            right_ts="click_ts",
        )
        .filter(lat_us <= 3600 * 1_000_000)
        .select(
            "purchase_id",
            "user_id",
            "purchase_ts",
            "click_id",
            "click_ts",
            (lat_us / 1_000_000).cast("bigint").alias("latency_sec"),
        )
    )


@query(
    "skew_salted_join",
    """
    SELECT p.p_brand, COUNT(*) AS n_lines,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
    """,
)
def skew_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    """Hot-key-resilient join through ``operators.skew.salted_join``:
    row-level results must equal the plain equi-join (the oracle IS the
    plain join), proving the salt scatter/replicate transform is
    semantics-preserving while bounding the worst task at 1/salt of the
    hottest key."""
    from sales_data_warehouse_spark.operators.skew import salted_join

    li = load_table(spark, sf, "lineitem").select("l_partkey", "l_quantity")
    p = load_table(spark, sf, "part").select("p_partkey", "p_brand")
    joined = salted_join(
        li, p.withColumnRenamed("p_partkey", "l_partkey"),
        on=["l_partkey"], salt=8,
    )
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(_money("l_quantity")).cast("double").alias("sum_qty"),
    )


@query(
    "trend_slope_per_user",
    """
    WITH pts AS (
      SELECT user_id,
             CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
                  AS BIGINT) AS x,
             CAST(value AS DECIMAL(18,2)) AS y
      FROM events
    ),
    m AS (
      SELECT user_id, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM pts GROUP BY 1
    )
    SELECT user_id, n,
           ROUND((n * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / NULLIF(n * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0),
                 6) AS slope_per_day
    FROM m
    """,
)
def trend_slope_per_user(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user value trend: closed-form least-squares slope over
    (day, value) points — drift/trend detection as ONE grouped
    aggregation (no ML fit, no per-group Python). The five moments
    accumulate in exact integer/decimal arithmetic, so the slope is
    partition-order independent and cross-engine exact; the single
    double division happens once per user at the end. NULL slope for
    users whose events all land on one day (zero x-variance)."""
    e = load_table(spark, sf, "events")
    x = F.datediff(
        F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
    ).cast("bigint")
    y = F.col("value").cast("decimal(18,2)")
    m = (
        e.select("user_id", x.alias("x"), y.alias("y"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
    )
    n, sx, sy = F.col("n"), F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    denom = n * sxx - sx * sx
    return m.select(
        "user_id",
        "n",
        F.round(
            (n * sxy - sx * sy) / F.nullif(denom, F.lit(0)), 6
        ).alias("slope_per_day"),
    )


# ---------------------------------------------------------------------------
# Retail analytics over the sales schema (the reference's home domain):
# RFM segmentation, cohort LTV, market-basket affinity
# ---------------------------------------------------------------------------

@query(
    "rfm_segmentation",
    """
    WITH m AS (
      SELECT o_custkey,
             MAX(CAST(o_orderdate AS DATE)) AS last_order,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY 1
    ),
    mx AS (SELECT MAX(last_order) AS anchor FROM m),
    scored AS (
      SELECT o_custkey,
             DATEDIFF('day', last_order, (SELECT anchor FROM mx))
               AS recency_days,
             frequency, monetary,
             NTILE(5) OVER (ORDER BY
               DATEDIFF('day', last_order, (SELECT anchor FROM mx)) ASC,
               o_custkey ASC) AS r,
             NTILE(5) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f,
             NTILE(5) OVER (ORDER BY monetary DESC, o_custkey ASC) AS mseg
      FROM m
    )
    SELECT o_custkey, CAST(recency_days AS BIGINT) AS recency_days,
           CAST(frequency AS BIGINT) AS frequency,
           ROUND(monetary, 2) AS monetary,
           CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(mseg AS INT) AS m,
           CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(mseg AS VARCHAR)
             AS segment
    FROM scored
    """,
)
def rfm_segmentation(spark: SparkSession, sf: str) -> DataFrame:
    """RFM customer segmentation: quintiles of recency / frequency /
    monetary with customer-key tie-breaks so every NTILE edge is
    deterministic cross-engine. One groupBy(custkey) plus three
    |customers|-sized window sorts — fact volume touches only the first
    aggregate."""
    o = load_table(spark, sf, "orders")
    m = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(_money("o_totalprice")).cast("double").alias("monetary"),
    )
    anchor = m.agg(F.max("last_order").alias("anchor"))
    scored = (
        m.crossJoin(F.broadcast(anchor))
        .withColumn(
            "recency_days", F.datediff(F.col("anchor"), F.col("last_order"))
        )
        .withColumn(
            "r",
            F.ntile(5).over(
                Window.orderBy(F.asc("recency_days"), F.asc("o_custkey"))
            ),
        )
        .withColumn(
            "f",
            F.ntile(5).over(
                Window.orderBy(F.desc("frequency"), F.asc("o_custkey"))
            ),
        )
        .withColumn(
            "mseg",
            F.ntile(5).over(
                Window.orderBy(F.desc("monetary"), F.asc("o_custkey"))
            ),
        )
    )
    return scored.select(
        "o_custkey",
        F.col("recency_days").cast("bigint").alias("recency_days"),
        F.col("frequency").cast("bigint").alias("frequency"),
        F.round("monetary", 2).alias("monetary"),
        F.col("r").cast("int").alias("r"),
        F.col("f").cast("int").alias("f"),
        F.col("mseg").cast("int").alias("m"),
        F.concat(
            F.col("r").cast("string"),
            F.col("f").cast("string"),
            F.col("mseg").cast("string"),
        ).alias("segment"),
    )


@query(
    "cohort_ltv",
    """
    WITH o AS (
      SELECT o_custkey,
             YEAR(CAST(o_orderdate AS DATE)) * 12
               + MONTH(CAST(o_orderdate AS DATE)) AS midx,
             CAST(o_totalprice AS DECIMAL(18,2)) AS price
      FROM orders
    ),
    firsts AS (SELECT o_custkey, MIN(midx) AS cohort FROM o GROUP BY 1),
    rev AS (
      SELECT f.cohort, o.midx - f.cohort AS month_offset,
             SUM(o.price) AS revenue
      FROM o JOIN firsts f USING (o_custkey)
      GROUP BY 1, 2
    )
    SELECT CAST(cohort AS BIGINT) AS cohort_month_idx,
           CAST(month_offset AS BIGINT) AS month_offset,
           CAST(revenue AS DOUBLE) AS revenue,
           CAST(SUM(revenue) OVER (
             PARTITION BY cohort ORDER BY month_offset) AS DOUBLE)
             AS cum_revenue
    FROM rev
    """,
)
def cohort_ltv(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort lifetime-value triangle: customers grouped by first-order
    month, revenue accumulated per months-since-first — integer month
    indexes (year*12+month) and decimal sums keep every cell exact
    cross-engine. Fact volume is touched once; the running total runs
    over the |cohorts| x |offsets| triangle."""
    o = load_table(spark, sf, "orders").select(
        "o_custkey",
        (
            F.year(F.col("o_orderdate").cast("date")) * 12
            + F.month(F.col("o_orderdate").cast("date"))
        ).alias("midx"),
        _money("o_totalprice").alias("price"),
    )
    firsts = o.groupBy("o_custkey").agg(F.min("midx").alias("cohort"))
    rev = (
        o.join(firsts, "o_custkey")
        .groupBy(
            "cohort", (F.col("midx") - F.col("cohort")).alias("month_offset")
        )
        .agg(F.sum("price").alias("revenue"))
    )
    w = Window.partitionBy("cohort").orderBy("month_offset")
    return rev.select(
        F.col("cohort").cast("bigint").alias("cohort_month_idx"),
        F.col("month_offset").cast("bigint").alias("month_offset"),
        F.col("revenue").cast("double").alias("revenue"),
        F.sum("revenue").over(w).cast("double").alias("cum_revenue"),
    )


@query(
    "basket_affinity",
    """
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    part_orders AS (
      SELECT l_partkey, COUNT(*) AS n_orders FROM baskets GROUP BY 1
    ),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM baskets),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(*) AS n_co
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    )
    SELECT p.part_a, p.part_b, CAST(p.n_co AS BIGINT) AS n_co,
           CAST(pa.n_orders AS BIGINT) AS n_a,
           CAST(pb.n_orders AS BIGINT) AS n_b,
           ROUND(CAST(p.n_co AS DOUBLE) * (SELECT n_baskets FROM n)
                 / (pa.n_orders * pb.n_orders), 6) AS lift
    FROM pairs p
    JOIN part_orders pa ON pa.l_partkey = p.part_a
    JOIN part_orders pb ON pb.l_partkey = p.part_b
    """,
)
def basket_affinity(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket part-pair affinity with lift, support >= 2 —
    co-occurrence via an order-keyed self-join of the distinct
    (order, part) table, so pair fan-out is basket-size^2 per order
    (bounded by lineitems-per-order), never parts^2; per-part counts
    broadcast back onto the filtered pair table."""
    b = (
        load_table(spark, sf, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    part_orders = b.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    n_baskets = b.agg(
        F.countDistinct("l_orderkey").alias("n_baskets")
    )
    a = b.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
    c = b.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(c, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= 2)
    )
    return (
        pairs.join(
            F.broadcast(
                part_orders.select(
                    F.col("l_partkey").alias("part_a"),
                    F.col("n_orders").alias("n_a"),
                )
            ),
            "part_a",
        )
        .join(
            F.broadcast(
                part_orders.select(
                    F.col("l_partkey").alias("part_b"),
                    F.col("n_orders").alias("n_b"),
                )
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "part_a",
            "part_b",
            F.col("n_co").cast("bigint").alias("n_co"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.round(
                F.col("n_co").cast("double")
                * F.col("n_baskets")
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Lexical retrieval / training-order shuffle / quality classifier
# ---------------------------------------------------------------------------

#: BM25 scoring CTEs (tok/stats/tf/dfx/scored/agg) shared by the
#: bm25_topk oracle and the hybrid-retrieval fusion oracle.
_BM25_CTES = r"""
    WITH tok AS (
      SELECT doc_id,
             LEN(STRING_SPLIT_REGEX(LOWER(text), '\s+')) AS dl,
             UNNEST(STRING_SPLIT_REGEX(LOWER(text), '\s+')) AS term
      FROM documents
    ),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(LEN(STRING_SPLIT_REGEX(LOWER(text), '\s+')))
                  AS BIGINT) AS t_tokens
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf,
             CAST(MAX(dl) AS BIGINT) AS dl
      FROM tok WHERE term IN ('spark', 'window', 'hash')
      GROUP BY 1, 2
    ),
    dfx AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    scored AS (
      -- two-division form, mirroring the Spark side exactly: idf_ppm
      -- and tfpart_ppm each fit int64 where the single-division
      -- product overflowed at ~300k corpus tokens
      SELECT t.doc_id,
             (((2 * s.n_docs - 2 * d.df + 1) * 1000000) // (2 * d.df + 1))
             * ((2200 * s.t_tokens * t.tf * 1000000)
                // (1000 * s.t_tokens * t.tf + 300 * s.t_tokens
                    + 900 * t.dl * s.n_docs))
             // 1000000 AS score_ppm
      FROM tf t JOIN dfx d USING (term), stats s
    ),
    agg AS (
      SELECT doc_id, CAST(SUM(score_ppm) AS BIGINT) AS score_ppm,
             CAST(COUNT(*) AS BIGINT) AS n_terms_hit
      FROM scored GROUP BY 1
    )
"""


@query(
    "bm25_topk",
    _BM25_CTES + r"""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_ppm DESC, doc_id)
                AS BIGINT) AS rank,
           doc_id, n_terms_hit, score_ppm
    FROM agg ORDER BY rank LIMIT 10
    """,
)
def bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Lexical retrieval: BM25 top-10 for a fixed 3-term query, in the
    exact integer-ppm mode (rational idf + common-denominator tf
    saturation — ``ln`` differs between JVM and libm in the last ulp,
    so the verified score is transcendental-free; see
    ``text.bm25_topk``). The scan emits only query-matching tokens, the
    stats/df sides broadcast, and the top-k window runs over per-doc
    aggregates only."""
    return text.bm25_topk(
        load_table(spark, sf, "documents"),
        ["spark", "window", "hash"],
        k=10,
    )


@query(
    "epoch_shuffle",
    """
    WITH k AS (
      SELECT doc_id,
             ((((doc_id % 1000003) + 1000003) % 1000003) * 2654435761
              + (1 % 1000003) * 2654435769) % 4294967296 AS shuffle_key
      FROM documents
    )
    SELECT CAST(shuffle_key % 16 AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY shuffle_key % 16
             ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos_in_shard,
           CAST(shuffle_key AS BIGINT) AS shuffle_key,
           doc_id
    FROM k
    """,
)
def epoch_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic epoch-1 training-order shuffle into 16 shards:
    pure BIGINT multiplicative hashing (no RNG state), one window per
    shard for the within-shard order — the reproducible data-loader
    permutation at 100 TB (see ``sampling.epoch_shuffle``)."""
    return sampling.epoch_shuffle(
        load_table(spark, sf, "documents"), epoch=1, n_shards=16
    )


@query(
    "quality_logit",
    r"""
    WITH f AS (
      SELECT doc_id,
             CAST(LEN(STRING_SPLIT_REGEX(text, '\s+')) AS BIGINT)
               AS n_tokens,
             CAST(LENGTH(text) AS BIGINT) AS n_chars,
             CAST(LENGTH(text)
                  - LENGTH(REGEXP_REPLACE(text, '[.,;:!?]', '', 'g'))
                  AS BIGINT) AS n_punct,
             CAST(LEN(REGEXP_EXTRACT_ALL(
                    LOWER(text), '\b(the|and|of|to|in|is|for)\b'))
                  AS BIGINT) AS n_stop
      FROM documents
    ),
    p AS (
      SELECT doc_id, n_tokens,
             CAST((n_punct * 1000000) // n_chars AS BIGINT) AS punct_ppm,
             CAST((n_stop * 1000000) // n_tokens AS BIGINT) AS stop_ppm
      FROM f
    )
    SELECT doc_id, n_tokens, punct_ppm, stop_ppm,
           CAST(-500 + 2 * n_tokens + (-40) * (punct_ppm // 1000)
                + 90 * (stop_ppm // 1000) AS BIGINT) AS logit_milli,
           (-500 + 2 * n_tokens + (-40) * (punct_ppm // 1000)
            + 90 * (stop_ppm // 1000)) >= 0 AS keep
    FROM p
    """,
)
def quality_logit(spark: SparkSession, sf: str) -> DataFrame:
    """Linear quality classifier in scaled-integer space: ratio
    features as exact ppm integers, published integer milli-weights,
    integer logit, threshold keep/drop — bit-identical across engines
    with no transcendental math (the sigmoid is monotone, so the
    threshold needs none; see ``text.quality_logit``)."""
    return text.quality_logit(load_table(spark, sf, "documents"))


@query(
    "temperature_mixture",
    """
    WITH t AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN 'web'
                  WHEN doc_id % 3 = 1 THEN 'books'
                  ELSE 'code' END AS stratum,
             ((doc_id % 1000003 + 1000003) % 1000003) * 2654435761
               % 4294967296 % 1000 AS h
      FROM documents
    )
    SELECT doc_id, stratum FROM t
    WHERE h < CASE stratum WHEN 'web' THEN 1000
                           WHEN 'books' THEN 707 ELSE 408 END
    """,
)
def temperature_mixture(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-scaled mixture sampling (T=2 over 0.6/0.3/0.1 source
    weights): keep rates ∝ w^(1/T), computed once driver-side and
    applied via the deterministic permille hash — the low-resource
    up-weighting schedule of multilingual/multi-domain pre-training.
    The oracle's literal rates (1000/707/408) are the same integers
    ``temperature_rates_permille`` produces, pinned by
    tests/test_sampling.py."""
    d = load_table(spark, sf, "documents")
    src = (
        F.when(F.col("doc_id") % 3 == 0, F.lit("web"))
        .when(F.col("doc_id") % 3 == 1, F.lit("books"))
        .otherwise(F.lit("code"))
    )
    out = sampling.temperature_sample(
        d.withColumn("_grp", src),
        "_grp",
        {"web": 0.6, "books": 0.3, "code": 0.1},
        temperature=2.0,
    )
    return out.select("doc_id", "stratum")


@query(
    "leakage_safe_split",
    """
    WITH g AS (
      SELECT MD5(text) AS fp, MIN(doc_id) AS canonical_id,
             CAST(COUNT(*) AS BIGINT) AS n_copies
      FROM documents GROUP BY 1
    )
    SELECT d.doc_id, g.canonical_id, g.n_copies,
           CASE WHEN ((g.canonical_id % 1000003 + 1000003) % 1000003)
                     * 2654435761 % 4294967296 % 1000 < 900
                THEN 'train' ELSE 'test' END AS split
    FROM documents d JOIN g ON MD5(d.text) = g.fp
    """,
)
def leakage_safe_split(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup-aware 90/10 split: all copies of a text inherit their
    duplicate group's side (canonical-id hash), so no text straddles
    train and test — the leakage guard a per-document hash split
    cannot give (see ``sampling.leakage_safe_split``)."""
    return sampling.leakage_safe_split(
        load_table(spark, sf, "documents"), train_permille=900
    )


@query(
    "dedup_lines",
    r"""
    WITH t AS (
      SELECT doc_id, STRING_SPLIT(text, CHR(10)) AS ls FROM documents
    ),
    ln AS (
      SELECT doc_id, UNNEST(GENERATE_SERIES(1, LEN(ls))) AS i, ls FROM t
    ),
    lx AS (
      SELECT doc_id, i - 1 AS pos, ls[i] AS line FROM ln
    ),
    hot AS (
      SELECT line FROM lx
      WHERE LEN(TRIM(line)) >= 10
      GROUP BY line
      HAVING COUNT(DISTINCT doc_id) > 1
    ),
    fl AS (
      SELECT lx.doc_id, lx.pos, lx.line,
             (hot.line IS NULL OR LEN(TRIM(lx.line)) < 10) AS keep
      FROM lx LEFT JOIN hot ON lx.line = hot.line
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lines_kept,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)
             AS n_lines_removed,
           COALESCE(
             STRING_AGG(CASE WHEN keep THEN line END, CHR(10)
                        ORDER BY pos),
             '') AS text_clean
    FROM fl
    GROUP BY doc_id
    """,
)
def dedup_lines(spark: SparkSession, sf: str) -> DataFrame:
    """Line-level dedup (CCNet/Dolma boilerplate removal): lines >= 10
    trimmed chars appearing in >1 distinct document are stripped from
    every document; the doc-frequency shuffle carries md5 fingerprints,
    the hot set comes back through one AQE-broadcast join, and docs
    reassemble on the explode's own partitioning
    (``dedup.line_dedup``)."""
    return dedup.line_dedup(
        load_table(spark, sf, "documents"),
        max_doc_freq=1,
        min_line_chars=10,
    )


def _gopher_oracle() -> str:
    stop_sum = "\n           + ".join(
        f"CASE WHEN REGEXP_MATCHES(LOWER(text), '\\b{w}\\b') "
        "THEN 1 ELSE 0 END"
        for w in text.GOPHER_STOPWORDS
    )
    return rf"""
    WITH t AS (
      SELECT doc_id,
             CAST(LEN(STRING_SPLIT_REGEX(text, '\s+')) AS BIGINT)
               AS n_words,
             CAST(LENGTH(REGEXP_REPLACE(text, '\s+', '', 'g')) AS BIGINT)
               AS n_nonspace,
             CAST(LEN(REGEXP_EXTRACT_ALL(text, '#|\.\.\.|…')) AS BIGINT)
               AS n_symbols,
             CAST(LEN(STRING_SPLIT(text, CHR(10))) AS BIGINT) AS n_lines,
             CAST(LEN(LIST_FILTER(STRING_SPLIT(text, CHR(10)),
                  x -> REGEXP_MATCHES(x, '^\s*[-*•]'))) AS BIGINT)
               AS n_bullet,
             CAST(LEN(LIST_FILTER(STRING_SPLIT(text, CHR(10)),
                  x -> REGEXP_MATCHES(x, '(\.\.\.|…)\s*$'))) AS BIGINT)
               AS n_ellipsis,
             CAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\s+'),
                  x -> REGEXP_MATCHES(x, '[a-z]'))) AS BIGINT) AS n_alpha,
             CAST({stop_sum} AS BIGINT) AS n_stop
      FROM documents
    )
    SELECT doc_id, n_words, n_lines,
           ROUND(CAST(n_nonspace AS DOUBLE) / n_words, 4)
             AS mean_word_chars,
           ROUND(CAST(n_symbols AS DOUBLE) / n_words, 6)
             AS symbol_word_ratio,
           ROUND(CAST(n_bullet AS DOUBLE) / n_lines, 6)
             AS frac_bullet_lines,
           ROUND(CAST(n_ellipsis AS DOUBLE) / n_lines, 6)
             AS frac_ellipsis_lines,
           ROUND(CAST(n_alpha AS DOUBLE) / n_words, 6)
             AS frac_alpha_words,
           n_stop AS n_stop_present,
           (n_words >= 50 AND n_words <= 100000
            AND 3 * n_words <= n_nonspace AND n_nonspace <= 10 * n_words
            AND 10 * n_symbols <= n_words
            AND 10 * n_bullet <= 9 * n_lines
            AND 10 * n_ellipsis <= 3 * n_lines
            AND 5 * n_alpha >= 4 * n_words
            AND n_stop >= 2) AS passes
    FROM t
    """


@query("gopher_quality_filter", _gopher_oracle())
def gopher_quality_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-rules document quality filter (published rule set): every
    threshold compares INTEGER counts (``3*n_words <= n_nonspace`` etc.)
    so the pass verdict cannot flap on a double-rounding boundary; one
    codegen projection, parquet-scan speed (``text.gopher_quality``)."""
    return text.gopher_quality(load_table(spark, sf, "documents"))


@query(
    "unigram_surprisal",
    r"""
    WITH toks AS (
      SELECT doc_id,
             UNNEST(STRING_SPLIT_REGEX(LOWER(text), '\s+')) AS tok
      FROM documents
    ),
    freq AS (
      SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(FLOOR(LOG2(f.cnt)) AS BIGINT)) AS BIGINT)
             AS sum_log2_freq,
           ROUND(CAST(SUM(CAST(FLOOR(LOG2(f.cnt)) AS BIGINT)) AS DOUBLE)
                 / COUNT(*), 4) AS avg_log2_freq
    FROM toks t JOIN freq f USING (tok)
    GROUP BY t.doc_id
    """,
)
def unigram_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-trained unigram commonness score — the KenLM-perplexity
    prefilter shape without a model artifact. Token scores are
    ``floor(log2(corpus_freq))``, exact integers in both engines, so
    per-doc sums are deterministic under any partitioning
    (``text.unigram_surprisal``)."""
    return text.unigram_surprisal(load_table(spark, sf, "documents"))


@query(
    "semantic_dedup",
    """
    SELECT CAST((SELECT COUNT(*) FROM embeddings) AS BIGINT) AS n_vectors,
           TRUE AS soundness_ok,
           TRUE AS recall_ok
    """,
)
def semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup: k-means cells bound the quadratic cosine comparison to
    within-cell pairs; drop = exact in-cell near-dup with a smaller id
    (``similarity.semantic_dedup``).

    Property oracle (k-means cells are engine-specific): soundness —
    every dropped vector must have a smaller-id EXACT global neighbor
    at cosine >= 0.4 (drops are never hallucinated; checked against
    the all-pairs GEMM truth set); recall — cell-bucketing must catch
    >= 0.5 of the vectors the exact pass would drop (measured
    0.74-0.79 with top-2 soft assignment on the synthetic corpus —
    0.40-0.47 single-assigned; boundary-split pairs are the loss)."""
    emb = load_table(spark, sf, "embeddings")
    verdicts = similarity.semantic_dedup(emb, threshold=0.4)
    dropped = verdicts.filter(~F.col("kept")).select("vec_id")
    # epsilon-widened truth threshold: the cell kernel and the tiled
    # GEMM sum floats in different orders, so a cosine within an ulp
    # of 0.4 can clear the cell kernel but miss an exact-0.4 truth cut
    # — a data-dependent false "unsound" verdict for a property that
    # holds. The margin only widens the truth set (soundness stays a
    # strict check; recall's denominator grows immeasurably).
    truth = similarity.embedding_near_dup_pairs(
        emb, threshold=0.4 - 1e-9, method="exact"
    )
    should_drop = truth.select(F.col("vec_b").alias("vec_id")).distinct()
    n_unsound = dropped.join(should_drop, "vec_id", "left_anti").count()
    n_caught = dropped.join(should_drop, "vec_id", "left_semi").count()
    n_should = should_drop.count()
    recall = n_caught / n_should if n_should else 1.0
    return spark.createDataFrame(
        [(emb.count(), n_unsound == 0, recall >= 0.5)],
        "n_vectors long, soundness_ok boolean, recall_ok boolean",
    )


@query(
    "dedup_minhash_incremental",
    """
    SELECT TRUE AS incremental_equals_full,
           CAST((SELECT COUNT(*) * 8 FROM documents) AS BIGINT)
             AS state_rows
    """,
)
def dedup_minhash_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Batch-over-batch MinHash-LSH (``dedup.incremental_minhash_lsh``):
    the corpus arrives in 3 batches; each batch is banded once and
    probed against the persisted band-bucket state — prior batches are
    never re-read or re-hashed.

    Property oracle (bucket hashes are engine-specific): the union of
    per-batch pairs must EQUAL the single full-corpus LSH run's pairs
    exactly — signatures don't depend on batching and a colliding pair
    surfaces when its later doc arrives — and the final state must
    hold exactly ``bands`` (8) rows per document, which SQL pins from
    the document count."""
    docs = load_table(spark, sf, "documents")
    full = dedup.minhash_lsh_pairs(docs)
    state = None
    batch_pairs = []
    for b in range(3):
        pairs, state = dedup.incremental_minhash_lsh(
            docs.filter(F.col("doc_id") % 3 == b), state
        )
        batch_pairs.append(pairs)
    inc = batch_pairs[0].unionByName(batch_pairs[1]).unionByName(
        batch_pairs[2]
    )
    missing = full.exceptAll(inc).count()
    extra = inc.exceptAll(full).count()
    return spark.createDataFrame(
        [(missing == 0 and extra == 0, state.count())],
        "incremental_equals_full boolean, state_rows long",
    )


@query(
    "dedup_repeated_spans",
    r"""
    WITH t AS (
      SELECT doc_id, STRING_SPLIT_REGEX(text, '\s+') AS toks
      FROM documents
    ),
    tok AS (
      SELECT doc_id, UNNEST(GENERATE_SERIES(1, LEN(toks))) AS i, toks
      FROM t
    ),
    tk AS (
      SELECT doc_id, i - 1 AS pos, toks[i] AS token FROM tok
    ),
    gr AS (
      SELECT doc_id, i - 1 AS pos,
             ARRAY_TO_STRING(toks[i : i + 9], ' ') AS gram
      FROM tok
      WHERE i + 9 <= LEN(toks)
    ),
    hot AS (
      SELECT gram FROM gr GROUP BY gram HAVING COUNT(*) >= 2
    ),
    cov AS (
      SELECT DISTINCT doc_id, p FROM (
        SELECT g.doc_id,
               g.pos + UNNEST(GENERATE_SERIES(0, 9)) AS p
        FROM gr g JOIN hot h USING (gram)
      )
    ),
    fl AS (
      SELECT tk.doc_id, tk.pos, tk.token,
             (cov.p IS NOT NULL) AS masked
      FROM tk LEFT JOIN cov
        ON tk.doc_id = cov.doc_id AND tk.pos = cov.p
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
             AS n_masked,
           COALESCE(
             STRING_AGG(CASE WHEN NOT masked THEN token END, ' '
                        ORDER BY pos),
             '') AS text_masked
    FROM fl
    GROUP BY doc_id
    """,
)
def dedup_repeated_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Exact substring dedup at 10-token-gram granularity (Lee et al.
    2022 shape): every token covered by a 10-gram occurring >= 2 times
    in the corpus is masked out of all documents; counts shuffle md5
    fingerprints, coverage explodes hot starts into offsets, docs
    reassemble on one groupBy (``dedup.repeated_span_mask``)."""
    return dedup.repeated_span_mask(
        load_table(spark, sf, "documents"), k=10, min_count=2
    )


@query(
    "quality_select_top",
    r"""
    WITH f AS (
      SELECT doc_id,
             CAST(LEN(STRING_SPLIT_REGEX(text, '\s+')) AS BIGINT)
               AS n_tokens,
             CAST(LENGTH(text) AS BIGINT) AS n_chars,
             CAST(LENGTH(text)
                  - LENGTH(REGEXP_REPLACE(text, '[.,;:!?]', '', 'g'))
                  AS BIGINT) AS n_punct,
             CAST(LEN(REGEXP_EXTRACT_ALL(
                    LOWER(text), '\b(the|and|of|to|in|is|for)\b'))
                  AS BIGINT) AS n_stop
      FROM documents
    ),
    p AS (
      SELECT doc_id, n_tokens,
             CAST((n_punct * 1000000) // n_chars AS BIGINT) AS punct_ppm,
             CAST((n_stop * 1000000) // n_tokens AS BIGINT) AS stop_ppm
      FROM f
    ),
    s AS (
      SELECT doc_id, n_tokens, punct_ppm, stop_ppm,
             CAST(-500 + 2 * n_tokens + (-40) * (punct_ppm // 1000)
                  + 90 * (stop_ppm // 1000) AS BIGINT) AS logit_milli,
             (-500 + 2 * n_tokens + (-40) * (punct_ppm // 1000)
              + 90 * (stop_ppm // 1000)) >= 0 AS keep
      FROM p
    ),
    h AS (
      SELECT logit_milli, COUNT(*) AS cnt FROM s GROUP BY logit_milli
    ),
    c AS (
      SELECT logit_milli,
             SUM(cnt) OVER (ORDER BY logit_milli DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
      FROM h
    ),
    t AS (
      SELECT CAST(MAX(logit_milli) AS BIGINT) AS thr FROM c
      WHERE cum >= (SELECT (COUNT(*) * 300 + 999) // 1000 FROM s)
    )
    SELECT s.doc_id, s.n_tokens, s.punct_ppm, s.stop_ppm,
           s.logit_milli, s.keep, t.thr AS threshold_milli
    FROM s, t
    WHERE s.logit_milli >= t.thr
    """,
)
def quality_select_top(spark: SparkSession, sf: str) -> DataFrame:
    """Top-30%-by-quality selection without a global row sort: the
    cutoff comes from a cumulative count over the integer-logit
    HISTOGRAM (distinct-score-sized), then one filter pass keeps
    ``score >= threshold`` — ties at the threshold all kept, the
    documented deterministic overshoot (``sampling.quality_select_top``)."""
    return sampling.quality_select_top(
        load_table(spark, sf, "documents"), keep_permille=300
    )


@query(
    "dedup_keep_best",
    r"""
    WITH f AS (
      SELECT doc_id,
             MD5(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')) AS fp,
             CAST(LEN(STRING_SPLIT_REGEX(text, '\s+')) AS BIGINT)
               AS n_tokens,
             CAST(LENGTH(text) AS BIGINT) AS n_chars,
             CAST(LENGTH(text)
                  - LENGTH(REGEXP_REPLACE(text, '[.,;:!?]', '', 'g'))
                  AS BIGINT) AS n_punct,
             CAST(LEN(REGEXP_EXTRACT_ALL(
                    LOWER(text), '\b(the|and|of|to|in|is|for)\b'))
                  AS BIGINT) AS n_stop
      FROM documents
    ),
    s AS (
      SELECT doc_id, fp,
             CAST(-500 + 2 * n_tokens
                  + (-40) * (((n_punct * 1000000) // n_chars) // 1000)
                  + 90 * (((n_stop * 1000000) // n_tokens) // 1000)
                  AS BIGINT) AS logit_milli
      FROM f
    )
    SELECT fp,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           -- best = highest logit, ties broken by LOWEST doc id
           -- (DuckDB ordered aggregate; Spark mirrors with a struct
           -- max_by — same semantic value)
           CAST(FIRST(doc_id ORDER BY logit_milli DESC, doc_id ASC)
             AS BIGINT) AS best_id,
           CAST(MAX(logit_milli) AS BIGINT) AS best_logit_milli
    FROM s
    GROUP BY fp
    """,
)
def dedup_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    """Quality-keep dedup policy over normalization-fingerprint groups
    (case/whitespace-insensitive near-exact dedup): each group keeps
    its highest-quality-logit member, ties to the lowest id — the
    representative selection real pipelines run instead of
    keep-lowest-id (``dedup.keep_best_representative``; one grouped
    max_by, map-side combinable, no window)."""
    docs = load_table(spark, sf, "documents")
    scored = text.quality_logit(docs).select("doc_id", "logit_milli")
    fp = text.fingerprint(docs)
    return dedup.keep_best_representative(fp, scored)


@query(
    "corpus_health_report",
    r"""
    WITH f AS (
      SELECT doc_id, source, lang,
             MD5(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g')) AS fp,
             CAST(LEN(STRING_SPLIT_REGEX(text, '\s+')) AS BIGINT)
               AS n_tokens,
             CAST(LENGTH(text) AS BIGINT) AS n_chars,
             CAST(LENGTH(text)
                  - LENGTH(REGEXP_REPLACE(text, '[.,;:!?]', '', 'g'))
                  AS BIGINT) AS n_punct,
             CAST(LEN(REGEXP_EXTRACT_ALL(
                    LOWER(text), '\b(the|and|of|to|in|is|for)\b'))
                  AS BIGINT) AS n_stop
      FROM documents
    ),
    s AS (
      SELECT doc_id, source, lang, fp, n_tokens,
             CAST(-500 + 2 * n_tokens
                  + (-40) * (((n_punct * 1000000) // n_chars) // 1000)
                  + 90 * (((n_stop * 1000000) // n_tokens) // 1000)
                  AS BIGINT) AS logit_milli
      FROM f
    ),
    g AS (
      SELECT fp, COUNT(*) AS copies FROM s GROUP BY fp
    ),
    j AS (
      SELECT s.*, (g.copies > 1) AS is_dup FROM s JOIN g USING (fp)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(logit_milli) AS BIGINT) AS sum_logit_milli,
           ROUND(CAST(SUM(logit_milli) AS DOUBLE) / COUNT(*), 4)
             AS avg_logit_milli,
           CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_docs,
           CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS dup_ppm,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM j
    GROUP BY source
    """,
)
def corpus_health_report(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source corpus health: doc/token volume, mean integer quality
    logit, near-exact duplicate share (normalization fingerprints), and
    language spread — the composition dashboard a curator checks before
    setting mixture weights. One fingerprint groupBy + one join + one
    per-source aggregate; every metric exact-integer or a single
    rounded division."""
    docs = load_table(spark, sf, "documents")
    # quality_logit already carries n_tokens (same token_count expr the
    # oracle mirrors) — no extra scan/join for it
    scored = text.quality_logit(docs).select(
        "doc_id", "n_tokens", "logit_milli"
    )
    base = (
        docs.select("doc_id", "source", "lang")
        .join(text.fingerprint(docs), "doc_id")
        .join(scored, "doc_id")
    )
    g = base.groupBy("fp").agg(F.count(F.lit(1)).alias("copies"))
    j = base.join(g, "fp").withColumn("is_dup", F.col("copies") > 1)
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("logit_milli").alias("sum_logit_milli"),
        F.round(
            F.sum("logit_milli") / F.count(F.lit(1)), 4
        ).alias("avg_logit_milli"),
        F.sum(F.col("is_dup").cast("bigint")).alias("n_dup_docs"),
        F.expr(
            "CAST(sum(CAST(is_dup AS BIGINT)) * 1000000 DIV count(1) "
            "AS BIGINT)"
        ).alias("dup_ppm"),
        F.countDistinct("lang").alias("n_langs"),
    )


@query(
    "table_drift_report",
    r"""
    WITH av AS (
      SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS v
      FROM lineitem
      WHERE l_shipdate < TIMESTAMP '1995-06-01 00:00:00'
    ),
    bv AS (
      SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS v
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1995-06-01 00:00:00'
    ),
    bounds AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM av),
    ha AS (
      SELECT CAST(LEAST(9, GREATEST(0,
               ((v - b.lo) * 10)
                    // GREATEST(b.hi - b.lo + 1, 1))) AS BIGINT) AS bucket,
             COUNT(*) AS cnt
      FROM av, bounds b GROUP BY 1
    ),
    hb AS (
      SELECT CAST(LEAST(9, GREATEST(0,
               ((v - b.lo) * 10)
                    // GREATEST(b.hi - b.lo + 1, 1))) AS BIGINT) AS bucket,
             COUNT(*) AS cnt
      FROM bv, bounds b GROUP BY 1
    ),
    spine AS (SELECT UNNEST(GENERATE_SERIES(0, 9)) AS bucket),
    j AS (
      SELECT s.bucket,
             CAST(COALESCE(ha.cnt, 0) AS BIGINT) AS cnt_a,
             CAST(COALESCE(hb.cnt, 0) AS BIGINT) AS cnt_b
      FROM spine s
      LEFT JOIN ha ON s.bucket = ha.bucket
      LEFT JOIN hb ON s.bucket = hb.bucket
    ),
    t AS (
      SELECT CAST(SUM(cnt_a) AS BIGINT) AS na,
             CAST(SUM(cnt_b) AS BIGINT) AS nb
      FROM j
    )
    SELECT j.bucket,
           CAST(b.lo AS BIGINT) AS domain_lo,
           CAST(b.hi AS BIGINT) AS domain_hi,
           j.cnt_a, j.cnt_b,
           CAST(j.cnt_a * 1000 // GREATEST(t.na, 1) AS BIGINT)
             AS rate_a_permille,
           CAST(j.cnt_b * 1000 // GREATEST(t.nb, 1) AS BIGINT)
             AS rate_b_permille,
           CAST(CASE WHEN j.cnt_a + j.cnt_b > 0 THEN
                  ((j.cnt_a - j.cnt_b) * (j.cnt_a - j.cnt_b)
                   // (j.cnt_a + j.cnt_b)) * 1000000
                  + (((j.cnt_a - j.cnt_b) * (j.cnt_a - j.cnt_b)
                      % (j.cnt_a + j.cnt_b)) * 1000000)
                    // (j.cnt_a + j.cnt_b)
                ELSE 0 END AS BIGINT) AS chi2_ppm
    FROM j, t, bounds b
    ORDER BY j.bucket
    """,
)
def table_drift_report(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution drift monitor between two snapshots (lineitem split
    at the 1995-06-01 ship date, extendedprice histogram): exact
    decimal-scaled integer bins over snapshot A's domain, both counts
    plus per-mille rates and an integer chi-square-style statistic per
    bin — bit-identical across engines (``profile.drift_report``)."""
    from sales_data_warehouse_spark.operators.profile import drift_report

    l = load_table(spark, sf, "lineitem")
    cut = "l_shipdate < TIMESTAMP'1995-06-01 00:00:00'"
    return drift_report(
        l.filter(F.expr(cut)),
        l.filter(~F.expr(cut)),
        "l_extendedprice",
        buckets=10,
    )


@query(
    "window_frame_first_last",
    """
    SELECT o_custkey, o_orderkey,
           FIRST_VALUE(o_totalprice) OVER w AS first_price,
           NTH_VALUE(o_totalprice, 2) OVER w AS second_price,
           MAX(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS max_last3
    FROM orders
    WINDOW w AS (
      PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def window_frame_first_last(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit ROWS-frame navigation windows (FIRST_VALUE / NTH_VALUE /
    bounded moving MAX) — the frame-spec corner of §2.5 the reference
    never exercises. Order key includes the unique orderkey so frames
    are total-order deterministic; values pass through unchanged (no
    arithmetic), so cross-engine compare is exact."""
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w3 = w.rowsBetween(-2, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(wf).alias("first_price"),
        F.nth_value("o_totalprice", 2).over(wf).alias("second_price"),
        F.max("o_totalprice").over(w3).alias("max_last3"),
    )


#: Integer quality-logit SQL (mirrors text.QUALITY_LOGIT_WEIGHTS
#: exactly) — single definition spliced into the curation-pipeline
#: and hybrid-retrieval oracles; a weight change edits one string.
_QUALITY_LOGIT_SQL = r"""
             (-500 + 2 * CAST(LEN(STRING_SPLIT_REGEX(text, '\s+'))
                              AS BIGINT)
              + (-40) * (((CAST(LENGTH(text)
                    - LENGTH(REGEXP_REPLACE(text, '[.,;:!?]', '', 'g'))
                    AS BIGINT) * 1000000)
                   // CAST(LENGTH(text) AS BIGINT)) // 1000)
              + 90 * (((CAST(LEN(REGEXP_EXTRACT_ALL(
                       LOWER(text), '\b(the|and|of|to|in|is|for)\b'))
                    AS BIGINT) * 1000000)
                   // CAST(LEN(STRING_SPLIT_REGEX(text, '\s+'))
                           AS BIGINT)) // 1000)
             ) AS logit_milli"""


def _curation_pipeline_oracle() -> str:
    return r"""
    WITH ql AS (
      SELECT doc_id,
{logit}
      FROM documents
    ),
    s1 AS (
      SELECT d.* FROM documents d JOIN ql USING (doc_id)
      WHERE ql.logit_milli >= 0
    ),
    canon AS (
      SELECT MIN(doc_id) AS doc_id FROM s1 GROUP BY MD5(text)
    ),
    s2 AS (
      SELECT s1.* FROM s1 JOIN canon USING (doc_id)
    ),
    t AS (
      SELECT doc_id, lang, source,
             STRING_SPLIT(text, CHR(10)) AS ls
      FROM s2
    ),
    ln AS (
      SELECT doc_id, lang, source,
             UNNEST(GENERATE_SERIES(1, LEN(ls))) AS i, ls
      FROM t
    ),
    lx AS (
      SELECT doc_id, lang, source, i - 1 AS pos, ls[i] AS line FROM ln
    ),
    hot AS (
      SELECT line FROM lx
      WHERE LEN(TRIM(line)) >= 10
      GROUP BY line
      HAVING COUNT(DISTINCT doc_id) > 1
    ),
    fl AS (
      SELECT lx.doc_id, lx.lang, lx.source, lx.pos, lx.line,
             (hot.line IS NULL OR LEN(TRIM(lx.line)) < 10) AS keep
      FROM lx LEFT JOIN hot ON lx.line = hot.line
    ),
    rebuilt AS (
      SELECT doc_id, lang, source,
             COALESCE(
               STRING_AGG(CASE WHEN keep THEN line END, CHR(10)
                          ORDER BY pos),
               '') AS text
      FROM fl
      GROUP BY doc_id, lang, source
    )
    SELECT doc_id, text, lang, source,
           CAST(LENGTH(text) AS BIGINT) AS n_chars
    FROM rebuilt
    WHERE LENGTH(text) > 0
    """.replace("{logit}", _QUALITY_LOGIT_SQL)


@query("curation_pipeline", _curation_pipeline_oracle())
def curation_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The composable pipeline API end-to-end: integer-logit quality
    filter -> exact dedup (keep lowest id) -> line-level boilerplate
    strip, chained through ``pipeline.run_pipeline`` as one lazy plan.
    The oracle replays the same three stages in SQL, so the
    COMPOSITION (not just each stage) is cross-engine verified. (The
    logit filter, not the Gopher rules: the synthetic corpus carries
    no English stopwords, so the Gopher presence rule zeroes it out —
    an empty result would verify nothing.)"""
    from sales_data_warehouse_spark import pipeline as P

    docs = load_table(spark, sf, "documents")
    out, _ = P.run_pipeline(
        docs,
        [
            P.quality_logit_filter(0),
            P.exact_dedup_stage(),
            P.line_dedup_stage(),
        ],
    )
    return out.select("doc_id", "text", "lang", "source", "n_chars")


@query(
    "hybrid_retrieval_rrf",
    _BM25_CTES + r""",
    bm AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY score_ppm DESC, doc_id)
                  AS BIGINT) AS rank
      FROM agg ORDER BY rank LIMIT 20
    ),
    qlt AS (
      SELECT doc_id,
{logit}
      FROM documents
    ),
    qr AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY logit_milli DESC, doc_id)
                  AS BIGINT) AS rank
      FROM qlt ORDER BY rank LIMIT 20
    ),
    u AS (
      SELECT doc_id, CAST(1000000 // (60 + rank) AS BIGINT) AS c FROM bm
      UNION ALL
      SELECT doc_id, CAST(1000000 // (60 + rank) AS BIGINT) AS c FROM qr
    ),
    fz AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS rrf_ppm,
             CAST(COUNT(*) AS BIGINT) AS n_lists
      FROM u GROUP BY 1
    )
    SELECT doc_id, n_lists, rrf_ppm,
           CAST(ROW_NUMBER() OVER (
             ORDER BY rrf_ppm DESC, n_lists DESC, doc_id) AS BIGINT)
             AS fused_rank
    FROM fz
    """.replace("{logit}", _QUALITY_LOGIT_SQL),
)
def hybrid_retrieval_rrf(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: the BM25 lexical
    top-20 fused with a quality-logit top-20 through
    ``text.rrf_fuse`` — integer-millionth contributions
    (``1e6 DIV (60 + rank)``) so the fused ORDER is cross-engine
    exact. The same fusion call takes ANN top-k lists (LSH/IVF) as
    additional rankers; this entry uses two SQL-expressible rankers so
    the fusion itself gets an exact oracle, not a property one."""
    docs = load_table(spark, sf, "documents")
    bm = text.bm25_topk(docs, ["spark", "window", "hash"], k=20)
    w = Window.orderBy(F.desc("logit_milli"), F.asc("doc_id"))
    qr = (
        text.quality_logit(docs)
        .select(
            "doc_id",
            F.row_number().over(w).cast("bigint").alias("rank"),
        )
        .filter(F.col("rank") <= 20)
    )
    return text.rrf_fuse([bm, qr], k=60)


@query(
    "stats_correlation",
    """
    WITH c AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
             SUM(CAST(l_quantity AS DECIMAL(18,2))
                 * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
             SUM(CAST(l_quantity AS DECIMAL(18,2))
                 * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / CAST(n AS DOUBLE) / CAST(n AS DOUBLE), 4)
             AS covar_pop,
           ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) AS corr_qty_price
    FROM c
    """,
)
def stats_correlation(spark: SparkSession, sf: str) -> DataFrame:
    """Correlation/covariance per group — assembled from decimal-EXACT
    component sums (n, Σx, Σy, Σxy, Σx², Σy²) and one identical final
    double expression in both engines, instead of the built-in
    corr/covar aggregates whose internal accumulation orders differ
    per partitioning. Map-side partial aggregation applies to every
    component; the statistic itself is a 1-row-per-group projection."""
    l = load_table(spark, sf, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    c = l.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    num = nd * sxy - sx * sy
    return c.select(
        "l_returnflag",
        "n",
        F.round(num / nd / nd, 4).alias("covar_pop"),
        F.round(
            num
            / (
                F.sqrt(nd * sxx - sx * sx)
                * F.sqrt(nd * syy - sy * sy)
            ),
            6,
        ).alias("corr_qty_price"),
    )


@query(
    "dedup_jaccard_prefix",
    r"""
    WITH sh AS (
      SELECT doc_id,
             LIST_DISTINCT(
               LIST_TRANSFORM(
                 GENERATE_SERIES(1, LEN(STRING_SPLIT_REGEX(LOWER(text), '\s+')) - 2),
                 i -> STRING_SPLIT_REGEX(LOWER(text), '\s+')[i] || ' ' ||
                      STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+1] || ' ' ||
                      STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+2]
               )
             ) AS shingles
      FROM documents
    ),
    exploded AS (
      SELECT doc_id, LEN(shingles) AS n_shingles, UNNEST(shingles) AS shingle
      FROM sh
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.n_shingles AS size_a, b.n_shingles AS size_b,
             COUNT(*) AS n_inter
      FROM exploded a JOIN exploded b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_inter AS DOUBLE) / (size_a + size_b - n_inter), 6)
             AS jaccard
    FROM inter
    WHERE n_inter * 10 >= (size_a + size_b - n_inter) * 3
    """,
)
def dedup_jaccard_prefix(spark: SparkSession, sf: str) -> DataFrame:
    """AllPairs/PPJoin prefix-filtered exact Jaccard >= 0.3 pairs: only
    rarest-first shingle prefixes (size - ceil(0.3*size) + 1, integer
    arithmetic) enter the candidate self-join, pushing high-df
    stop-phrase shingles — the hot keys that melt the inverted-index
    shuffle at 100 TB — out of the join entirely; candidates verify
    against full sets, so the oracle is the plain exact-Jaccard SQL
    (``dedup.prefix_filtered_jaccard_pairs``)."""
    return dedup.prefix_filtered_jaccard_pairs(
        load_table(spark, sf, "documents"),
        threshold_num=3,
        threshold_den=10,
    )


# ---------------------------------------------------------------------------
# Round 5: driver rows for formerly driver-invisible operators
# (index persistence, incremental/streaming batch contracts, the
# approx-sketch exactness regime) + new operator surface (containment
# pairs, bigram LM, per-source dup health, MERGE upsert, forward as-of)
# ---------------------------------------------------------------------------


@query(
    "dedup_containment",
    r"""
    WITH sh AS (
      SELECT doc_id,
             LIST_DISTINCT(
               LIST_TRANSFORM(
                 GENERATE_SERIES(1, LEN(STRING_SPLIT_REGEX(LOWER(text), '\s+')) - 2),
                 i -> STRING_SPLIT_REGEX(LOWER(text), '\s+')[i] || ' ' ||
                      STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+1] || ' ' ||
                      STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+2]
               )
             ) AS shingles
      FROM documents
    ),
    exploded AS (
      SELECT doc_id, LEN(shingles) AS n_shingles, UNNEST(shingles) AS shingle
      FROM sh
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.n_shingles AS size_a, b.n_shingles AS size_b,
             COUNT(*) AS n_inter
      FROM exploded a JOIN exploded b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b, CAST(n_inter AS BIGINT) AS n_inter,
           ROUND(CAST(n_inter AS DOUBLE) / LEAST(size_a, size_b), 6)
             AS containment
    FROM inter
    -- exact rational threshold, mirroring the Spark side's integer
    -- compare (n_inter * den >= min_size * num); the rounded
    -- containment column is display-only
    WHERE n_inter * 2 >= LEAST(size_a, size_b) * 1
    """,
)
def dedup_containment(spark: SparkSession, sf: str) -> DataFrame:
    """Subset/quote duplication: doc pairs whose shingle OVERLAP
    COEFFICIENT ``|A ∩ B| / min(|A|,|B|)`` is >= 1/2 — the shape
    Jaccard misses (a short doc wholly embedded in a long one is
    near-zero Jaccard but containment 1.0). Same inverted-index +
    optional df-cap plan as the Jaccard family; threshold tested in
    exact int64 arithmetic (``dedup.containment_pairs``). This entry
    runs UNCAPPED — the exact truth-set twin, quadratic in hot-shingle
    df by construction; ``dedup_containment_capped`` is the measured
    100 TB configuration."""
    return dedup.containment_pairs(
        load_table(spark, sf, "documents"),
        threshold_num=1,
        threshold_den=2,
        warn_uncapped=False,  # deliberate exact truth-set twin
    )


@query(
    "dedup_containment_capped",
    r"""
    WITH sh AS (
      SELECT doc_id,
             LIST_DISTINCT(
               LIST_TRANSFORM(
                 GENERATE_SERIES(1, LEN(STRING_SPLIT_REGEX(LOWER(text), '\s+')) - 2),
                 i -> STRING_SPLIT_REGEX(LOWER(text), '\s+')[i] || ' ' ||
                      STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+1] || ' ' ||
                      STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+2]
               )
             ) AS shingles
      FROM documents
    ),
    exploded0 AS (
      SELECT doc_id, UNNEST(shingles) AS shingle FROM sh
    ),
    kept AS (
      SELECT shingle FROM exploded0 GROUP BY shingle HAVING COUNT(*) <= 5
    ),
    exploded AS (
      SELECT doc_id, shingle FROM exploded0 JOIN kept USING (shingle)
    ),
    sizes AS (
      SELECT doc_id, COUNT(*) AS n_shingles FROM exploded GROUP BY doc_id
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM exploded a JOIN exploded b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, CAST(n_inter AS BIGINT) AS n_inter,
           ROUND(CAST(n_inter AS DOUBLE)
                 / LEAST(sa.n_shingles, sb.n_shingles), 6) AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    -- exact rational threshold over the CAPPED universe (sizes
    -- recounted post-cap); the rounded containment is display-only
    WHERE n_inter * 2 >= LEAST(sa.n_shingles, sb.n_shingles) * 1
    """,
)
def dedup_containment_capped(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB-safe containment configuration: shingles in more
    than ``max_df`` documents are dropped BEFORE the inverted-index
    self-join — a shingle in k docs contributes k^2 join rows and
    carries no subset signal, the exact quadratic blowup the uncapped
    twin measured at 40x cost for 10x data (BENCH_r05). Containment is
    then over the capped universe, sizes recounted post-cap, same as
    ``dedup_ngram_jaccard_capped``. max_df=5 provably bites at sf0.01
    (max shingle df there is 7). The uncapped ``dedup_containment``
    entry stays registered as the exact truth-set twin."""
    return dedup.containment_pairs(
        load_table(spark, sf, "documents"),
        threshold_num=1,
        threshold_den=2,
        max_df=5,
    )


@query(
    "bigram_surprisal",
    r"""
    WITH t AS (
      SELECT doc_id, STRING_SPLIT_REGEX(LOWER(text), '\s+') AS toks
      FROM documents
    ),
    bg AS (
      SELECT doc_id,
             UNNEST(LIST_TRANSFORM(
               GENERATE_SERIES(1, LEN(toks) - 1),
               i -> toks[i] || ' ' || toks[i+1]
             )) AS bigram
      FROM t
    ),
    freq AS (
      SELECT bigram, COUNT(*) AS cnt FROM bg GROUP BY bigram
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CAST(FLOOR(LOG2(f.cnt)) AS BIGINT)) AS BIGINT)
             AS sum_log2_freq,
           ROUND(CAST(SUM(CAST(FLOOR(LOG2(f.cnt)) AS BIGINT)) AS DOUBLE)
                 / COUNT(*), 4) AS avg_log2_freq
    FROM bg b JOIN freq f USING (bigram)
    GROUP BY b.doc_id
    """,
)
def bigram_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram-LM commonness — the conditional-context quality score one
    step up from ``unigram_surprisal`` (common words in never-seen
    combinations now score low). Bigrams build array-side in the scan
    stage (no positional self-join, no window shuffle); token scores
    stay exact integers (``floor(log2(freq))``), so per-doc sums are
    partitioning-independent (``text.bigram_surprisal``)."""
    return text.bigram_surprisal(load_table(spark, sf, "documents"))


@query(
    "source_dup_ratio",
    """
    WITH fp AS (SELECT source, MD5(text) AS fp FROM documents),
    cnt AS (SELECT fp, COUNT(*) AS n_copies FROM fp GROUP BY fp)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_copies >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_docs,
           CAST(COUNT(DISTINCT f.fp) AS BIGINT) AS n_distinct_texts,
           CAST(1000 * SUM(CASE WHEN n_copies >= 2 THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS dup_permille
    FROM fp f JOIN cnt USING (fp)
    GROUP BY source
    """,
)
def source_dup_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source duplication health: share of each source's documents
    whose exact text occurs >= 2 times CORPUS-WIDE — the first report a
    curation run reads before setting mixture weights. One fingerprint
    groupBy + one co-keyed rejoin + one source-keyed aggregate, integer
    per-mille ratio (``dedup.duplicate_ratio_by_group``)."""
    return dedup.duplicate_ratio_by_group(
        load_table(spark, sf, "documents")
    )


@query(
    "snapshot_upsert",
    """
    WITH changes AS (
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
             'D' AS op
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100,
             'UPDATED', 'U'
      FROM customer WHERE c_custkey % 10 = 1
      UNION ALL
      SELECT c_custkey + 1000000, 'New' || c_name, c_nationkey,
             CAST(0.0 AS DOUBLE), c_mktsegment, 'I'
      FROM customer WHERE c_custkey % 10 = 2
    )
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    WHERE c_custkey NOT IN (SELECT c_custkey FROM changes)
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM changes WHERE op != 'D'
    """,
)
def snapshot_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE INTO semantics on a keyed snapshot: one change batch
    carrying deletes (keys % 10 = 0), updates (% 10 = 1: balance + 100,
    segment rewritten) and inserts (% 10 = 2 cloned to key + 1M) is
    applied set-based — anti-join for untouched rows, union with the
    surviving upserts; no MERGE statement, no row loop
    (``upsert.apply_changes``)."""
    from sales_data_warehouse_spark.operators.upsert import apply_changes

    c = load_table(spark, sf, "customer")
    deletes = c.filter(F.col("c_custkey") % 10 == 0).withColumn(
        "op", F.lit("D")
    )
    updates = (
        c.filter(F.col("c_custkey") % 10 == 1)
        .withColumn("c_acctbal", F.col("c_acctbal") + F.lit(100))
        .withColumn("c_mktsegment", F.lit("UPDATED"))
        .withColumn("op", F.lit("U"))
    )
    inserts = (
        c.filter(F.col("c_custkey") % 10 == 2)
        .withColumn("c_custkey", F.col("c_custkey") + F.lit(1_000_000))
        .withColumn("c_name", F.concat(F.lit("New"), F.col("c_name")))
        .withColumn("c_acctbal", F.lit(0.0).cast("double"))
        .withColumn("op", F.lit("I"))
    )
    changes = deletes.unionByName(updates).unionByName(inserts)
    return apply_changes(c, changes, keys=["c_custkey"])


#: Forward-looking price schedule for the forward as-of entry: versions
#: at 1998-01-01 and 2000-01-01 straddle the shipdate range
#: (1995..2001), so early lines must PICK between two qualifying
#: versions (min_by chooses 1998) and post-2000 lines drop under inner
#: semantics — both forward-specific behaviors exercised, where the
#: backward entry's 1995/1998 history would collapse forward matches
#: into one group.
_FWD_PRICE_HISTORY_SQL = """
      SELECT p_partkey, CAST(p_retailprice AS DECIMAL(18,2)) AS eff_price,
             DATE '1998-01-01' AS eff_date FROM part
      UNION ALL
      SELECT p_partkey,
             CAST(CAST(p_retailprice AS DECIMAL(18,2)) * CAST(1.2 AS DECIMAL(2,1))
                  AS DECIMAL(18,2)) AS eff_price,
             DATE '2000-01-01' AS eff_date FROM part
"""


def _fwd_price_history(spark: SparkSession, sf: str) -> DataFrame:
    p = load_table(spark, sf, "part")
    v1 = F.struct(
        _money("p_retailprice").alias("eff_price"),
        F.lit("1998-01-01").cast("date").alias("eff_date"),
    )
    v2 = F.struct(
        (_money("p_retailprice") * F.lit(1.2).cast("decimal(2,1)"))
        .cast("decimal(18,2)")
        .alias("eff_price"),
        F.lit("2000-01-01").cast("date").alias("eff_date"),
    )
    return p.select(
        "p_partkey", F.explode(F.array(v1, v2)).alias("__v")
    ).select("p_partkey", "__v.eff_price", "__v.eff_date")


@query(
    "asof_join_forward",
    f"""
    WITH price_history AS ({_FWD_PRICE_HISTORY_SQL}),
    best AS (
      SELECT li.l_partkey, li.ship_date, MIN(ph.eff_date) AS eff_date
      FROM (SELECT DISTINCT l_partkey, CAST(l_shipdate AS DATE) AS ship_date
            FROM lineitem) li
      JOIN price_history ph
        ON ph.p_partkey = li.l_partkey AND ph.eff_date >= li.ship_date
      GROUP BY 1, 2
    )
    SELECT b.eff_date, COUNT(*) AS n_lines,
           CAST(SUM(ph.eff_price) AS DOUBLE) AS sum_eff_price
    FROM lineitem l
    JOIN best b
      ON b.l_partkey = l.l_partkey AND b.ship_date = CAST(l.l_shipdate AS DATE)
    JOIN price_history ph
      ON ph.p_partkey = l.l_partkey AND ph.eff_date = b.eff_date
    GROUP BY b.eff_date
    """,
)
def asof_join_forward(spark: SparkSession, sf: str) -> DataFrame:
    """FORWARD as-of join — each lineitem matched to the EARLIEST price
    version effective on/after its ship date (the next-scheduled-price
    lookup; lines shipping after the last version drop out under inner
    semantics). Same pre-aggregated (partkey, ship_date) grain and
    broadcast + ``min_by`` plan as the backward entry — only the
    inequality direction and the pick aggregate flip
    (``asof.asof_join_auto(direction='forward')``)."""
    l = load_table(spark, sf, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
    )
    ph = _fwd_price_history(spark, sf)
    per_key = l.groupBy("p_partkey", "ship_date").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    best = asof_join_auto(
        per_key,
        ph,
        on=["p_partkey"],
        left_ts="ship_date",
        right_ts="eff_date",
        direction="forward",
        unique_left=True,
    )
    return best.groupBy("eff_date").agg(
        F.sum("cnt").alias("n_lines"),
        F.sum(F.col("eff_price") * F.col("cnt")).cast("double").alias(
            "sum_eff_price"
        ),
    )


@query(
    "asof_join_nearest",
    f"""
    WITH price_history AS ({_FWD_PRICE_HISTORY_SQL}),
    grain AS (
      SELECT DISTINCT l_partkey, CAST(l_shipdate AS DATE) AS ship_date
      FROM lineitem
    ),
    ranked AS (
      SELECT g.l_partkey, g.ship_date, ph.eff_date, ph.eff_price,
             ROW_NUMBER() OVER (
               PARTITION BY g.l_partkey, g.ship_date
               ORDER BY ABS(DATEDIFF('day', ph.eff_date, g.ship_date)),
                        CASE WHEN ph.eff_date > g.ship_date
                             THEN 1 ELSE 0 END
             ) AS rn
      FROM grain g
      JOIN price_history ph ON ph.p_partkey = g.l_partkey
    )
    SELECT r.eff_date, COUNT(*) AS n_lines,
           CAST(SUM(r.eff_price) AS DOUBLE) AS sum_eff_price
    FROM lineitem l
    JOIN ranked r
      ON r.l_partkey = l.l_partkey
     AND r.ship_date = CAST(l.l_shipdate AS DATE)
     AND r.rn = 1
    GROUP BY r.eff_date
    """,
)
def asof_join_nearest(spark: SparkSession, sf: str) -> DataFrame:
    """NEAREST as-of join — each lineitem matched to the price version
    with the smallest absolute date distance, equidistant ties
    preferring the backward version (pandas ``merge_asof``'s tie rule,
    shared by both physical plans). On the 1998/2000 two-version
    schedule, ship dates through 1999-01-01 resolve to the 1998 version
    (the midpoint itself is a 365/365-day tie, broken backward) and
    later dates to 2000 — and unlike the directional entries NO line
    drops out: every row has a nearest version
    (``asof.asof_join_auto(direction='nearest')``)."""
    l = load_table(spark, sf, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"),
        F.col("l_shipdate").cast("date").alias("ship_date"),
    )
    ph = _fwd_price_history(spark, sf)
    per_key = l.groupBy("p_partkey", "ship_date").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    best = asof_join_auto(
        per_key,
        ph,
        on=["p_partkey"],
        left_ts="ship_date",
        right_ts="eff_date",
        direction="nearest",
        unique_left=True,
    )
    return best.groupBy("eff_date").agg(
        F.sum("cnt").alias("n_lines"),
        F.sum(F.col("eff_price") * F.col("cnt")).cast("double").alias(
            "sum_eff_price"
        ),
    )


@query(
    "dedup_exact_incremental",
    """
    SELECT doc_id FROM (
      SELECT doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY MD5(text) ORDER BY doc_id % 3, doc_id
             ) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def dedup_exact_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Batch-over-batch EXACT dedup (``dedup.incremental_exact_dedup``):
    the corpus arrives in 3 batches (doc_id % 3 in batch order); each
    batch admits only first-seen texts against the carried fingerprint
    state — prior batches are never re-read. Exact oracle: the admitted
    set is precisely one doc per distinct text, the min-id doc of the
    EARLIEST batch containing that text, which SQL pins with one window
    ordered by (batch, id)."""
    docs = load_table(spark, sf, "documents")
    state = None
    admitted = []
    for b in range(3):
        fresh, state = dedup.incremental_exact_dedup(
            docs.filter(F.col("doc_id") % 3 == b), state
        )
        admitted.append(fresh.select("doc_id"))
    return admitted[0].unionByName(admitted[1]).unionByName(admitted[2])


@query(
    "approx_frequent_items_exact",
    """
    WITH cnt AS (
      SELECT CAST(event_type AS VARCHAR) AS item,
             CAST(COUNT(*) AS BIGINT) AS count
      FROM events GROUP BY event_type
    )
    SELECT item, count,
           CAST(ROW_NUMBER() OVER (ORDER BY count DESC, item) AS BIGINT)
             AS rank
    FROM cnt
    """,
)
def approx_frequent_items_exact(spark: SparkSession, sf: str) -> DataFrame:
    """The heavy-hitters sketch in its exactness regime
    (``profile.approx_frequent_items``): while a column's cardinality
    stays within ``max_items_tracked``, ``approx_top_k`` degenerates to
    exact counting — here event_type's full distribution must equal the
    exact GROUP BY. Ranks are re-derived with a deterministic
    (count DESC, item) tie-break so the comparison never hinges on the
    sketch's unspecified equal-count ordering."""
    from sales_data_warehouse_spark.operators.profile import (
        approx_frequent_items,
    )

    out = approx_frequent_items(
        load_table(spark, sf, "events"), "event_type", k=100
    )
    w = Window.orderBy(F.col("count").desc(), F.col("item"))
    return out.select(
        "item", "count", F.row_number().over(w).cast("bigint").alias("rank")
    )


@query(
    "bm25_search_persisted",
    ORACLE["bm25_topk"],
)
def bm25_search_persisted(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 through the build/save/load/search lifecycle
    (``text.build_text_index`` -> ``save_text_index`` ->
    ``load_text_index`` -> ``bm25_search``): postings persist parquet
    PARTITIONED BY the 64-way term-hash bucket, so the reopened
    search's bucket filter becomes partition pruning and reads <= 3 of
    64 directories for this 3-term query. Must reproduce the one-shot
    ``bm25_topk`` ranking bit-identically — the oracle is shared
    verbatim."""
    import tempfile

    idx = text.build_text_index(load_table(spark, sf, "documents"))
    path = tempfile.mkdtemp(prefix="sdw_bm25_idx_")
    text.save_text_index(idx, path)
    reopened = text.load_text_index(spark, path)
    return text.bm25_search(reopened, ["spark", "window", "hash"], k=10)


@query(
    "ann_ivf_persisted",
    """
    SELECT TRUE AS persisted_equals_memory,
           CAST((SELECT COUNT(*) FROM embeddings WHERE vec_id < 10)
                AS BIGINT) AS n_queries
    """,
)
def ann_ivf_persisted(spark: SparkSession, sf: str) -> DataFrame:
    """IVF index persistence parity: the saved-and-reopened index
    (cell assignments parquet PARTITIONED BY cell + centroid codebook)
    must answer searches EXACTLY like the in-memory index it was saved
    from — doubles round-trip parquet losslessly and the rerank picks
    deterministically, so this is equality, not recall
    (``similarity.save_ivf_index`` / ``load_ivf_index``)."""
    import tempfile

    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    idx = similarity.build_ivf_index(emb)
    path = tempfile.mkdtemp(prefix="sdw_ivf_idx_")
    similarity.save_ivf_index(idx, path)
    reopened = similarity.load_ivf_index(spark, path)
    mem = similarity.ivf_search(idx, q, k=5)
    per = similarity.ivf_search(reopened, q, k=5)
    missing = per.exceptAll(mem).count()
    extra = mem.exceptAll(per).count()
    idx.assigned.unpersist()
    return spark.createDataFrame(
        [(missing == 0 and extra == 0, q.count())],
        "persisted_equals_memory boolean, n_queries long",
    )


@query(
    "streaming_dedup_batch_contract",
    """
    SELECT doc_id, CAST(doc_id % 3 AS BIGINT) AS batch_id FROM (
      SELECT doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY MD5(text) ORDER BY doc_id % 3, doc_id
             ) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def streaming_dedup_batch_contract(spark: SparkSession, sf: str) -> DataFrame:
    """The streaming doc-dedup sink's batch contract, pinned end-to-end
    through its REAL persistence path: 3 micro-batches fold through
    ``streaming.documents.dedup_documents_batch`` (the exact function
    the ``foreachBatch`` sink calls — per-batch admitted parquet under
    ``admitted/batch_id=N``, append-only fingerprint state partitions
    advanced by the ``_last_batch`` high-water mark), then the
    admitted directory is read back. Exact oracle: each distinct text
    is admitted exactly once, in the first batch that carries it, by
    its min-id doc — and the batch_id partition column must equal that
    doc's own batch."""
    import tempfile

    from sales_data_warehouse_spark.streaming.documents import (
        dedup_documents_batch,
    )

    docs = load_table(spark, sf, "documents")
    out = tempfile.mkdtemp(prefix="sdw_stream_dedup_")
    for b in range(3):
        dedup_documents_batch(
            spark, docs.filter(F.col("doc_id") % 3 == b), b, out
        )
    admitted = spark.read.parquet(f"{out}/admitted")
    return admitted.select(
        "doc_id", F.col("batch_id").cast("bigint").alias("batch_id")
    )


@query(
    "dedup_canonical_text",
    r"""
    SELECT MD5(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')))
             AS fp,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_copies,
           COUNT(DISTINCT MD5(text)) AS n_variants
    FROM documents
    GROUP BY 1
    """,
)
def dedup_canonical_text(spark: SparkSession, sf: str) -> DataFrame:
    """Formatting-insensitive exact dedup (round 6): group documents by
    md5 of the canonical form (lowercase, non-alphanumeric runs -> one
    space, trimmed) — the normalize-before-hash pass C4/RefinedWeb run
    ahead of exact dedup. ``n_variants`` > 1 marks groups raw
    fingerprinting would have let through. Same one-shuffle plan as
    ``dedup_exact``; see ``dedup.canonical_duplicates``."""
    return dedup.canonical_duplicates(load_table(spark, sf, "documents"))


@query(
    "source_lexical_diversity",
    r"""
    WITH per_tok AS (
      SELECT source, token, COUNT(*) AS c
      FROM (
        SELECT source,
               UNNEST(STRING_SPLIT_REGEX(LOWER(text), '\s+')) AS token
        FROM documents
      ) GROUP BY 1, 2
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_types,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           CAST((1000 * COUNT(*)) // CAST(SUM(c) AS BIGINT) AS BIGINT)
             AS ttr_permille,
           CAST((1000 * CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                             AS BIGINT))
                // CAST(SUM(c) AS BIGINT) AS BIGINT)
             AS hapax_permille
    FROM per_tok
    GROUP BY source
    """,
)
def source_lexical_diversity(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source vocabulary health (round 6): group-level type-token
    and hapax ratios in exact per-mille integers — the corpus-mix
    signal that catches boilerplate-heavy or OCR-noisy sources whose
    individual documents all pass the per-doc filters. Two cascaded
    map-side-combinable aggregations; see ``text.lexical_diversity``."""
    return text.lexical_diversity(load_table(spark, sf, "documents"))


@query(
    "dedup_edit_distance",
    r"""
    WITH k AS (
      SELECT doc_id, source,
             SUBSTRING(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ',
                                           'g')), 1, 32) AS s
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(LEVENSHTEIN(a.s, b.s) AS BIGINT) AS dist
    FROM k a JOIN k b
      ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE LEVENSHTEIN(a.s, b.s) <= 2
    """,
)
def dedup_edit_distance(spark: SparkSession, sf: str) -> DataFrame:
    """Typo-level near-dup pairs (round 8, corpus entry #151): within-
    source Levenshtein <= 2 over the normalized 32-char head of each
    document — the fuzzy match the shingle family can't see (one
    transposition breaks every covering shingle but is edit dist 1).

    The Spark side runs ``dedup.edit_distance_near_pairs`` in its
    production shape (PassJoin segment blocking, round 9 — the r8
    length-band key degenerated to ONE band on real text — plus
    ``block_col='source'``); the oracle is the UNBLOCKED within-source
    truth set, so a green row also re-proves the segment blocking
    loses no pairs (the blocked plan must equal all-pairs truth
    exactly — the same property the hypothesis suite pins on random
    strings). Spark's threshold Levenshtein early-abandons at dist 3;
    DuckDB computes the full DP — same kept values, the filter is the
    contract."""
    pairs = dedup.edit_distance_near_pairs(
        load_table(spark, sf, "documents"),
        max_dist=2,
        prefix_chars=32,
        block_col="source",
    )
    return pairs.select(
        "doc_a", "doc_b", F.col("dist").cast("bigint").alias("dist")
    )


@query(
    "fuzzy_join_edit_distance",
    r"""
    WITH k AS (
      SELECT doc_id, lang,
             CAST(SUBSTRING(source, 4) AS INT) % 2 AS par,
             SUBSTRING(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ',
                                           'g')), 1, 32) AS s
      FROM documents
    )
    SELECT a.doc_id AS left_id, b.doc_id AS right_id,
           CAST(LEVENSHTEIN(a.s, b.s) AS BIGINT) AS dist
    FROM k a JOIN k b ON a.lang = b.lang AND a.par = 0 AND b.par = 1
    WHERE LEVENSHTEIN(a.s, b.s) <= 2
    """,
)
def fuzzy_join_edit_distance(spark: SparkSession, sf: str) -> DataFrame:
    """Fuzzy R-S join (round 9, corpus entry #152): every (left, right)
    document pair across the even/odd-source split whose normalized
    32-char heads are within Levenshtein 2, blocked on language — the
    dirty-key LOOKUP shape (typo'd titles against a canonical list)
    that ``dedup_edit_distance``'s self-join cannot express, running
    ``dedup.edit_distance_join``'s PassJoin engine across two distinct
    relations with the block path exercised on both sides.

    The oracle is the plain all-pairs LEVENSHTEIN join, so a green row
    proves the cross-relation segment blocking recall-lossless on
    driver data (same contract as #151). The even/odd parity split is
    deterministic in both engines (``CAST(SUBSTRING(source, 4) AS
    INT) % 2``)."""
    docs = load_table(spark, sf, "documents")
    par = F.expr("cast(substring(source, 4) as int) % 2")
    pairs = dedup.edit_distance_join(
        docs.filter(par == 0),
        docs.filter(par == 1),
        max_dist=2,
        prefix_chars=32,
        left_block="lang",
        right_block="lang",
    )
    return pairs.select(
        "left_id", "right_id", F.col("dist").cast("bigint").alias("dist")
    )


@query(
    "blocking_selectivity",
    r"""
    WITH sh AS (
      SELECT doc_id,
             LIST_DISTINCT(
               LIST_TRANSFORM(
                 GENERATE_SERIES(1, LEN(STRING_SPLIT_REGEX(LOWER(text), '\s+')) - 2),
                 i -> STRING_SPLIT_REGEX(LOWER(text), '\s+')[i] || ' ' ||
                      STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+1] || ' ' ||
                      STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+2]
               )
             ) AS shingles
      FROM documents
    ),
    ex AS (
      SELECT doc_id, UNNEST(shingles) AS shingle FROM sh
    ),
    b AS (
      SELECT shingle, COUNT(*) AS sz FROM ex GROUP BY shingle
    )
    SELECT CAST(SUM(sz) AS BIGINT) AS n_rows,
           (SELECT COUNT(DISTINCT doc_id) FROM ex) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(sz) AS BIGINT) AS max_bucket,
           CAST(SUM((sz * (sz - 1)) // 2) AS BIGINT) AS candidate_pairs,
           ROUND(CAST(SUM((sz * (sz - 1)) // 2) AS DOUBLE)
                 / (SELECT COUNT(DISTINCT doc_id) FROM ex), 6)
             AS pairs_per_doc
    FROM b
    """,
)
def blocking_selectivity(spark: SparkSession, sf: str) -> DataFrame:
    """Blocking-selectivity diagnostic (round 9, corpus entry #153):
    ``dedup.blocking_stats_df`` over the 3-gram shingle inverted index
    — the bucket table ``ngram_jaccard_pairs`` / ``containment_pairs``
    self-join on. One row: distinct memberships, docs, buckets, the
    largest bucket, and the EXACT pre-verification self-join size
    (sum over buckets of C(size, 2)) with its per-doc ratio — the
    run-this-first number that says whether a corpus needs a df-cap
    before the quadratic join, measured on the same keys the join
    uses. The r8 edit-distance key was recall-lossless yet put 500/500
    real docs in ONE bucket; this diagnostic is how that class of
    defect gets caught on data, not in review."""
    return dedup.blocking_stats_df(
        dedup.exploded_shingles(
            load_table(spark, sf, "documents"), "text", "doc_id", 3
        ),
        ["shingle"],
    )


@query(
    "bucket_join_selectivity",
    r"""
    WITH sh AS (
      SELECT doc_id, source, LIST_DISTINCT(LIST_TRANSFORM(
        GENERATE_SERIES(1, LEN(STRING_SPLIT_REGEX(LOWER(text), '\s+')) - 3),
        i -> STRING_SPLIT_REGEX(LOWER(text), '\s+')[i] || ' ' ||
             STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+1] || ' ' ||
             STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+2] || ' ' ||
             STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+3])) AS shingles
      FROM documents
    ),
    tr AS (
      SELECT doc_id, UNNEST(shingles) AS shingle FROM sh
      WHERE source <> 'src0'
    ),
    bench AS (
      SELECT DISTINCT UNNEST(shingles) AS shingle FROM sh
      WHERE source = 'src0'
    ),
    lsizes AS (SELECT shingle, COUNT(*) AS lsz FROM tr GROUP BY 1),
    matched AS (SELECT lsz FROM lsizes JOIN bench USING (shingle))
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM tr) AS left_rows,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM bench) AS right_rows,
      (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM tr)
        AS n_left_docs,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM lsizes) AS left_buckets,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM bench) AS right_buckets,
      CAST(COUNT(*) AS BIGINT) AS matched_buckets,
      CAST(COALESCE(MAX(lsz), 0) AS BIGINT) AS max_bucket_product,
      CAST(COALESCE(SUM(lsz), 0) AS BIGINT) AS candidate_rows,
      ROUND(CAST(COALESCE(SUM(lsz), 0) AS DOUBLE)
            / (SELECT COUNT(DISTINCT doc_id) FROM tr), 6)
        AS candidates_per_left_doc
    FROM matched
    """,
)
def bucket_join_selectivity(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sided bucket-join selectivity diagnostic (round 9, corpus
    entry #154): ``dedup.bucket_join_stats_df`` over the EXACT frames
    the ``decontaminate_ngrams`` join runs — training-side deduped
    (doc, 4-gram) memberships (source != src0) probed against the
    benchmark side's distinct 4-gram set (source = src0). One row:
    per-side membership rows and bucket counts, matched buckets, the
    hottest matched bucket's row product, ``candidate_rows`` (the
    EXACT pre-aggregation join output the decontamination pays), and
    candidates-per-training-doc — the degenerating-toward-cross-
    product signal for ANY probe x index R-S bucket join (the PassJoin
    fuzzy family routes through the same diagnostic; this entry uses
    the decontamination shape because both sides are SQL-expressible,
    so the oracle pins the arithmetic end to end)."""
    docs = load_table(spark, sf, "documents")
    tr = dedup.exploded_shingles(
        docs.filter(F.col("source") != "src0"), "text", "doc_id", 4
    ).dropDuplicates(["doc", "shingle"])
    bench = (
        dedup.exploded_shingles(
            docs.filter(F.col("source") == "src0"), "text", "doc_id", 4
        )
        .select("shingle")
        .distinct()
    )
    return dedup.bucket_join_stats_df(
        tr, bench, on=[("shingle", "shingle")], left_doc="doc"
    )


@query(
    "blocking_recall",
    r"""
    WITH sh AS (
      SELECT doc_id,
             LIST_DISTINCT(
               LIST_TRANSFORM(
                 GENERATE_SERIES(1, LEN(STRING_SPLIT_REGEX(LOWER(text), '\s+')) - 2),
                 i -> STRING_SPLIT_REGEX(LOWER(text), '\s+')[i] || ' ' ||
                      STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+1] || ' ' ||
                      STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+2]
               )
             ) AS shingles
      FROM documents
    ),
    ex AS (
      SELECT doc_id, UNNEST(shingles) AS shingle FROM sh
    ),
    sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY 1
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM ex a JOIN ex b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT doc_a, doc_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE ROUND(CAST(n_inter AS DOUBLE)
                  / (sa.n + sb.n - n_inter), 6) >= 0.1
    ),
    kept AS (
      SELECT shingle FROM ex GROUP BY shingle HAVING COUNT(*) <= 5
    ),
    kex AS (
      SELECT doc_id, shingle FROM ex JOIN kept USING (shingle)
    ),
    caught AS (
      SELECT DISTINCT t.doc_a, t.doc_b
      FROM truth t
      JOIN kex xa ON xa.doc_id = t.doc_a
      JOIN kex xb ON xb.doc_id = t.doc_b AND xb.shingle = xa.shingle
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS truth_pairs,
      CAST(COUNT(*) AS BIGINT) AS caught_pairs,
      CASE WHEN (SELECT COUNT(*) FROM truth) > 0
           THEN ROUND(CAST(COUNT(*) AS DOUBLE)
                      / (SELECT COUNT(*) FROM truth), 6)
      END AS recall
    FROM caught
    """,
)
def blocking_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Blocking-RECALL diagnostic (round 9, corpus entry #155):
    ``dedup.blocking_recall_stats_df`` measuring what the df-cap
    actually costs — the fraction of TRUE near-dup pairs (uncapped
    exact 3-gram Jaccard >= 0.1, the same truth set the minhash/simhash
    property gates use) still catchable through the df <= 5 capped
    shingle index that ``ngram_jaccard_pairs(max_df=5)`` joins. The
    cost half of the cap's bargain is #153 (``blocking_selectivity``);
    this is the quality half, and it is corpus-dependent in the same
    way: the cap drops exactly the pairs whose only shared shingles
    are hot. Measured here: recall 1.0 at BOTH sfs (28/28 pairs at
    sf0.001, 25/25 at sf0.01) — on this corpus the cap is free, which
    is itself the evidence a pipeline owner needs before turning it on. Diagnostic scale here (the truth set is the quadratic
    twin, quarantined like every exact-pair baseline); the production
    recipe is the same call on a ``permille_hash`` doc sample, where
    the truth set is quadratic only within the bounded sample."""
    docs = load_table(spark, sf, "documents")
    truth = dedup.ngram_jaccard_pairs(
        docs, threshold=0.1, warn_uncapped=False  # deliberate truth set
    ).select("doc_a", "doc_b")
    sh = dedup.exploded_shingles(
        docs, "text", "doc_id", 3
    ).dropDuplicates(["doc", "shingle"])
    kept = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= 5)
        .select("shingle")
    )
    capped = sh.join(kept, "shingle", "left_semi")
    return dedup.blocking_recall_stats_df(truth, capped, ["shingle"])


@query(
    "ivf_recall_audit",
    r"""
    WITH q AS (
      SELECT COUNT(*) AS n FROM embeddings
      WHERE ((vec_id % 1000003 + 1000003) % 1000003) * 2654435761
            % 4294967296 % 1000 < 100
    )
    SELECT CAST(n AS BIGINT) AS n_queries,
           CAST(n * 5 AS BIGINT) AS truth_hits,
           TRUE AS recall_ok
    FROM q
    """,
)
def ivf_recall_audit(spark: SparkSession, sf: str) -> DataFrame:
    """IVF recall audit (round 9, corpus entry #156):
    ``similarity.ivf_recall_audit_df`` — the QUALITY counterpart of
    the ``ivf_cell_stats`` skew monitor, run at production shape
    (nprobe=4-of-16, k=5) over a deterministic 10 % ``permille_hash``
    sample of the indexed vectors, with exact block-GEMM brute force
    as truth.

    Property oracle (k-means cells are engine-specific): the sample
    size and the truth-hit count are pinned exactly in SQL (the
    permille hash is pure BIGINT arithmetic, reproduced verbatim;
    every query has >= k non-self neighbors at these corpus sizes so
    truth_hits = 5 x n_queries), and measured recall@5 must clear the
    same 0.5 floor as ``ann_ivf_topk`` (measured 0.675 at sf0.001,
    0.692 at sf0.01 with 48 queries)."""
    emb = load_table(spark, sf, "embeddings")
    idx = similarity.build_ivf_index(emb)
    return similarity.ivf_recall_audit_df(
        idx, k=5, nprobe=4, sample_permille=100
    ).select(
        "n_queries",
        "truth_hits",
        (F.col("recall_at_k") >= 0.5).alias("recall_ok"),
    )


@query(
    "fuzzy_lookup_edit_distance",
    r"""
    WITH k AS (
      SELECT doc_id, lang,
             CAST(SUBSTRING(source, 4) AS INT) % 2 AS par,
             SUBSTRING(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ',
                                           'g')), 1, 32) AS s
      FROM documents
    ),
    p AS (
      SELECT a.doc_id AS left_id, b.doc_id AS right_id,
             LEVENSHTEIN(a.s, b.s) AS dist
      FROM k a JOIN k b ON a.lang = b.lang AND a.par = 0 AND b.par = 1
      WHERE LEVENSHTEIN(a.s, b.s) <= 2
    )
    SELECT left_id, right_id, CAST(dist AS BIGINT) AS dist
    FROM (
      SELECT left_id, right_id, dist,
             ROW_NUMBER() OVER (PARTITION BY left_id
                                ORDER BY dist, right_id) AS rn
      FROM p
    )
    WHERE rn = 1
    """,
)
def fuzzy_lookup_edit_distance(spark: SparkSession, sf: str) -> DataFrame:
    """Best-match fuzzy lookup (round 10, corpus entry #157):
    ``dedup.edit_distance_lookup`` over the same even/odd-source split
    and language blocking as ``fuzzy_join_edit_distance`` (#152), but
    resolving each left document to its ONE best right match — min
    distance, ties broken by the smallest right id — the shape every
    dirty-key consumer actually wants (r9 VERDICT "What's missing" #5).

    The oracle is the all-pairs LEVENSHTEIN join reduced by a
    ROW_NUMBER window ordered (dist, right_id) — the exact semantics
    of the operator's ``min(struct(dist, right_id))`` aggregate — so a
    green row proves both the cross-relation blocking (inherited from
    the #152 contract) and the deterministic tie-break."""
    docs = load_table(spark, sf, "documents")
    par = F.expr("cast(substring(source, 4) as int) % 2")
    best = dedup.edit_distance_lookup(
        docs.filter(par == 0),
        docs.filter(par == 1),
        max_dist=2,
        prefix_chars=32,
        left_block="lang",
        right_block="lang",
    )
    return best.select(
        "left_id", "right_id", F.col("dist").cast("bigint").alias("dist")
    )


@query(
    "weighted_sample",
    r"""
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
    FROM (
      SELECT doc_id, lang, n_chars,
             LN((((doc_id % 1000003 + 1000003) % 1000003) * 2654435761
                 % 4294967296 + 0.5) / 4294967296.0)
               / CAST(n_chars AS DOUBLE) AS aes_key
      FROM documents
      WHERE n_chars IS NOT NULL AND n_chars > 0
    )
    ORDER BY aes_key DESC, doc_id ASC
    LIMIT 50
    """,
)
def weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (round 10,
    corpus entry #158): ``sampling.weighted_sample_topk`` — 50
    documents drawn with probability proportional to ``n_chars`` via
    the Efraimidis–Spirakis key ``u^(1/w)`` (compared as ``ln(u)/w``),
    u from the module's Knuth id hash at full 2^32 grain. The
    curation shape: quality/length-weighted annotation or training
    subsets where per-class rates are too coarse and a plain score
    sort would always take the same head.

    The oracle replays the EXACT selection — the hash is pure BIGINT
    arithmetic mirrored verbatim and both engines compute the same
    IEEE-double ``ln``; adjacent A-ES order statistics at these corpus
    sizes are ~7 orders of magnitude wider than a double ulp, and
    exact key ties (ids congruent mod the hash prime with equal
    weights) break by doc_id in both engines. ``aes_key`` itself stays
    OUT of the output: a last-ulp representation difference in a
    transcendental is a hash-mismatch even when the selection agrees."""
    out = sampling.weighted_sample_topk(
        load_table(spark, sf, "documents"), "n_chars", 50
    )
    return out.select(
        "doc_id", "lang", F.col("n_chars").cast("bigint").alias("n_chars")
    )


@query(
    "fuzzy_join_minhash",
    r"""
    WITH sh AS (
      SELECT doc_id,
             CAST(SUBSTRING(source, 4) AS INT) % 2 AS par,
             LIST_DISTINCT(
               LIST_TRANSFORM(
                 GENERATE_SERIES(1, LEN(STRING_SPLIT_REGEX(LOWER(text), '\s+')) - 2),
                 i -> STRING_SPLIT_REGEX(LOWER(text), '\s+')[i] || ' ' ||
                      STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+1] || ' ' ||
                      STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+2]
               )
             ) AS shingles
      FROM documents
    ),
    exploded AS (
      SELECT doc_id, par, LEN(shingles) AS n_shingles,
             UNNEST(shingles) AS shingle
      FROM sh
    ),
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM exploded a JOIN exploded b USING (shingle)
      WHERE a.par = 0 AND b.par = 1
      GROUP BY a.doc_id, b.doc_id, a.n_shingles, b.n_shingles
      HAVING ROUND(CAST(COUNT(*) AS DOUBLE)
                   / (a.n_shingles + b.n_shingles - COUNT(*)), 6) >= 0.3
    )
    SELECT COUNT(*) AS n_true_pairs, TRUE AS recall_ok, TRUE AS precision_ok
    FROM truth
    """,
)
def fuzzy_join_minhash(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-corpus MinHash LSH join (round 10, corpus entry #159):
    ``dedup.minhash_lsh_join`` across the even/odd-source split — the
    Jaccard-granularity R-S fuzzy join (fuzzy decontamination, near-dup
    linkage between two crawls) completing the fuzzy-join family next
    to the edit-distance R-S join (#152).

    Property oracle (minhash values are engine-specific, same contract
    as ``dedup_minhash_lsh``): the candidate pair set at est-Jaccard
    >= 0.3 must achieve recall >= 0.9 and precision >= 0.8 against the
    CROSS-PARITY exact Jaccard >= 0.3 pair set, which the oracle
    computes in SQL; the exact-pair count rides along so the truth side
    is pinned too. The Spark truth side is the same relational
    shingle-intersection arithmetic over the two filtered frames."""
    docs = load_table(spark, sf, "documents")
    par = F.expr("cast(substring(source, 4) as int) % 2")
    left = docs.filter(par == 0)
    right = docs.filter(par == 1)

    def side_shingles(df, out_id):
        sh = dedup.exploded_shingles(df, "text", "doc_id", 3)
        sh = sh.dropDuplicates(["doc", "shingle"])
        sizes = sh.groupBy("doc").agg(
            F.count(F.lit(1)).alias("n_sh")
        )
        return (
            sh.join(sizes, "doc")
            .select(
                F.col("doc").alias(out_id),
                F.col("n_sh").alias(f"n_{out_id}"),
                "shingle",
            )
        )

    a = side_shingles(left, "doc_a")
    b = side_shingles(right, "doc_b")
    truth = (
        a.join(b, "shingle")
        .groupBy("doc_a", "doc_b", "n_doc_a", "n_doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .withColumn(
            "jac",
            F.round(
                F.col("n_inter")
                / (F.col("n_doc_a") + F.col("n_doc_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jac") >= 0.3)
        .select("doc_a", "doc_b")
    )
    cand = dedup.minhash_lsh_join(left, right).select(
        F.col("left_id").alias("doc_a"),
        F.col("right_id").alias("doc_b"),
    )
    return _pair_recall_stats(
        truth, cand, {"recall": 0.9, "precision": 0.8}
    )


@query(
    "jsonl_roundtrip",
    r"""
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
    FROM documents
    """,
)
def jsonl_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """JSONL landing ingest (round 10, corpus entry #160): the S1/S2
    reject-routing semantics for the format LLM corpora actually ship
    in. The documents table is exported to JSON Lines
    (``sources.jsonl.write_jsonl``), a sidecar shard of garbage is
    dropped next to it (an unparseable line, a type-mismatched object,
    a blank line, a JSON literal ``null`` line that parses to a NULL
    struct — the four landing failure modes), and ``read_jsonl``
    reads the directory back with a DECLARED schema (never inference —
    schema inference is a full extra corpus pass at 100 TB) over its
    round-10 text-scan + ``from_json`` PERMISSIVE plan (the json
    source forbids corrupt-column-only scans; its documented cache
    workaround is a non-starter at scale, ``sources/jsonl.py``).

    Oracle: the original table — the ingest must return EXACTLY the
    real documents, which simultaneously proves the round-trip
    lossless and the three garbage lines routed out of the valid side
    (a leaked corrupt row fails the row-count, a mangled field fails
    the hash)."""
    import atexit
    import os
    import shutil
    import tempfile

    from sales_data_warehouse_spark.sources.jsonl import (
        read_jsonl,
        write_jsonl,
    )

    docs = load_table(spark, sf, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    # Private mkdtemp per invocation (isolation: a fixed shared path
    # would let a concurrent run's overwrite delete the directory under
    # this run's lazy scan, and a leftover dir owned by another user
    # would fail the write outright), cleaned up at interpreter exit —
    # after every lazy plan over it has been consumed — so repeated
    # parity/driver/bench runs do not accumulate corpus copies in /tmp.
    # The export write is a setup side effect inside the query timing —
    # noted on the bench scaling quarantine should this entry ever be
    # timed at sf1.
    path = tempfile.mkdtemp(prefix="sdw_jsonl_rt_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    write_jsonl(docs, path)
    with open(os.path.join(path, "part-garbage.json"), "w") as fh:
        fh.write(
            "definitely not json\n"
            "\n"
            '{"doc_id": "not-a-number", "text": "type mismatch"}\n'
            "null\n"
        )
    good, _bad, _src = read_jsonl(
        spark,
        path,
        "doc_id BIGINT, text STRING, lang STRING, source STRING, "
        "n_chars BIGINT",
    )
    return good.select(
        "doc_id", "lang", F.col("n_chars").cast("bigint").alias("n_chars")
    )


@query(
    "weighted_sample_grouped",
    r"""
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
    FROM (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY
                 LN((((doc_id % 1000003 + 1000003) % 1000003) * 2654435761
                     % 4294967296 + 0.5) / 4294967296.0)
                   / CAST(n_chars AS DOUBLE) DESC,
                 doc_id ASC
             ) AS rn
      FROM documents
      WHERE n_chars IS NOT NULL AND n_chars > 0
    )
    WHERE rn <= 10
    """,
)
def weighted_sample_grouped(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group deterministic weighted sampling (round 11, corpus
    entry #161): ``sampling.weighted_sample_topk_grouped`` — 10
    documents PER LANGUAGE drawn with probability proportional to
    ``n_chars``, the "k docs per stratum, weighted" curation ask that
    the global sampler (#158) cannot express and
    ``stratified_sample``'s rates only approximate. Same A-ES key
    arithmetic as #158 via the shared ``_aes_keyed`` projection; the
    plan is one group-keyed shuffle + ROW_NUMBER truncation (the
    QUALIFY shape) instead of the global TakeOrderedAndProject.

    The oracle replays the exact per-group selection with the
    identical ROW_NUMBER-over-key window; as with #158 the hash is
    pure BIGINT arithmetic mirrored verbatim, both engines compute the
    same IEEE-double ``ln``, exact ties break by doc_id, and
    ``aes_key`` stays OUT of the output (transcendental last-ulp repr
    differences would hash-mismatch even when the selection agrees)."""
    out = sampling.weighted_sample_topk_grouped(
        load_table(spark, sf, "documents"), "n_chars", 10, "lang"
    )
    return out.select(
        "doc_id", "lang", F.col("n_chars").cast("bigint").alias("n_chars")
    )


@query(
    "fuzzy_join_minhash_exact",
    r"""
    WITH sh AS (
      SELECT doc_id,
             CAST(SUBSTRING(source, 4) AS INT) % 2 AS par,
             LIST_DISTINCT(
               LIST_TRANSFORM(
                 GENERATE_SERIES(1, LEN(STRING_SPLIT_REGEX(LOWER(text), '\s+')) - 2),
                 i -> STRING_SPLIT_REGEX(LOWER(text), '\s+')[i] || ' ' ||
                      STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+1] || ' ' ||
                      STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+2]
               )
             ) AS shingles
      FROM documents
    ),
    exploded AS (
      SELECT doc_id, par, LEN(shingles) AS n_shingles,
             UNNEST(shingles) AS shingle
      FROM sh
    ),
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM exploded a JOIN exploded b USING (shingle)
      WHERE a.par = 0 AND b.par = 1
      GROUP BY a.doc_id, b.doc_id, a.n_shingles, b.n_shingles
      HAVING ROUND(CAST(COUNT(*) AS DOUBLE)
                   / (a.n_shingles + b.n_shingles - COUNT(*)), 6) >= 0.3
    )
    SELECT COUNT(*) AS n_true_pairs, TRUE AS recall_ok, TRUE AS precision_ok
    FROM truth
    """,
)
def fuzzy_join_minhash_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact-verified cross-corpus MinHash join (round 11, corpus entry
    #162): ``dedup.minhash_lsh_join(verify='exact')`` across the same
    even/odd-source split as #159 — the continuous-precision dial the
    r10 VERDICT asked for, under a STRICTER gate than the estimate
    entry can hold: because exact mode's filter IS the truth criterion
    (exact n-gram Jaccard >= 0.3 over the same shingle definition),
    the precision floor is 1.0 — a single false positive is a red
    driver row, not a tolerance miss. Recall keeps the 0.9 floor (it
    is bounded by LSH banding, which exact rescoring cannot lower).

    Property oracle (banding candidates are engine-specific, same
    contract as #159): n_true_pairs pins the truth side in SQL; the
    Spark truth side is the same relational shingle-intersection
    arithmetic."""
    docs = load_table(spark, sf, "documents")
    par = F.expr("cast(substring(source, 4) as int) % 2")
    left = docs.filter(par == 0)
    right = docs.filter(par == 1)

    def side_shingles(df, out_id):
        sh = dedup.exploded_shingles(df, "text", "doc_id", 3)
        sh = sh.dropDuplicates(["doc", "shingle"])
        sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
        return sh.join(sizes, "doc").select(
            F.col("doc").alias(out_id),
            F.col("n_sh").alias(f"n_{out_id}"),
            "shingle",
        )

    a = side_shingles(left, "doc_a")
    b = side_shingles(right, "doc_b")
    truth = (
        a.join(b, "shingle")
        .groupBy("doc_a", "doc_b", "n_doc_a", "n_doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
        .withColumn(
            "jac",
            F.round(
                F.col("n_inter")
                / (F.col("n_doc_a") + F.col("n_doc_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jac") >= 0.3)
        .select("doc_a", "doc_b")
    )
    cand = dedup.minhash_lsh_join(left, right, verify="exact").select(
        F.col("left_id").alias("doc_a"),
        F.col("right_id").alias("doc_b"),
    )
    return _pair_recall_stats(
        truth, cand, {"recall": 0.9, "precision": 1.0}
    )


_DSIR_SCORE_CTES = r"""
    WITH rt AS (
      SELECT doc_id, UNNEST(STRING_SPLIT_REGEX(LOWER(text), '\s+')) AS tok
      FROM documents
    ),
    tt AS (
      SELECT UNNEST(STRING_SPLIT_REGEX(LOWER(text), '\s+')) AS tok
      FROM documents WHERE lang = 'en'
    ),
    rf AS (SELECT tok, COUNT(*) AS cr FROM rt GROUP BY tok),
    tf AS (SELECT tok, COUNT(*) AS ct FROM tt GROUP BY tok),
    tot AS (
      SELECT (SELECT COUNT(*) FROM rt) AS n_raw,
             (SELECT COUNT(*) FROM tt) AS n_tgt,
             (SELECT COUNT(*)
              FROM (SELECT tok FROM rf UNION SELECT tok FROM tf)) AS v
    ),
    norm AS (
      SELECT CAST(FLOOR(1e6 * LN((n_raw + v) * 1.0 / (n_tgt + v)))
                  AS BIGINT) AS s_norm
      FROM tot
    ),
    sc AS (
      SELECT rf.tok,
             CAST(FLOOR(1e6 * LN((COALESCE(tf.ct, 0) + 1.0) / (rf.cr + 1.0)))
                  AS BIGINT) AS s
      FROM rf LEFT JOIN tf USING (tok)
    )
"""


@query(
    "importance_weights",
    _DSIR_SCORE_CTES
    + r"""
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_features,
           CAST(SUM(sc.s) + COUNT(*) * (SELECT s_norm FROM norm) AS BIGINT)
             AS importance_micronats
    FROM rt t JOIN sc USING (tok)
    GROUP BY t.doc_id
    """,
)
def importance_weights(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance weights (round 11, corpus entry #163):
    ``sampling.importance_scores`` — every document of the corpus
    scored by the smoothed log-likelihood ratio of its unigram bag
    under the English-document distribution vs the whole corpus's own
    (arXiv:2302.03169), the "make the crawl look like the target"
    selection signal next to the perplexity-style ``unigram_surprisal``.

    EXACT oracle: per-feature scores are integer micro-nats —
    ``floor(1e6 * ln(rational of two BIGINT counts))``, one
    transcendental per distinct feature on identical IEEE operands in
    both engines (the ``unigram_surprisal`` determinism trick), so
    per-doc sums are BIGINT arithmetic under any partitioning. The
    hashed-bucket production mode (``num_buckets`` — score table
    broadcast, no vocabulary shuffle) is pinned hashed≡exact by the
    test suite, since xxhash64 bucketing is engine-specific."""
    docs = load_table(spark, sf, "documents")
    return sampling.importance_scores(
        docs, docs.filter(F.col("lang") == "en")
    )


@query(
    "importance_resample",
    _DSIR_SCORE_CTES
    + r""",
    imp AS (
      SELECT t.doc_id,
             SUM(sc.s) + COUNT(*) * (SELECT s_norm FROM norm) AS im
      FROM rt t JOIN sc USING (tok)
      GROUP BY t.doc_id
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
    FROM (
      SELECT d.doc_id, d.lang, d.n_chars,
             CAST(im AS DOUBLE) / 1e6
               - LN(-LN((((d.doc_id % 1000003 + 1000003) % 1000003)
                   * 2654435761 % 4294967296 + 0.5) / 4294967296.0)) AS gkey
      FROM documents d JOIN imp USING (doc_id)
    )
    ORDER BY gkey DESC, doc_id
    LIMIT 50
    """,
)
def importance_resample(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR selection (round 11, corpus entry #164):
    ``sampling.importance_resample`` — 50 documents drawn without
    replacement with probability proportional to their DSIR importance
    weight (arXiv:2302.03169 §2: resampling, not top-k thresholding),
    via Gumbel-top-k in the log domain — ``u^(1/w)`` maximized as
    ``ln w - ln(-ln u)`` because w = exp(nats) would overflow the
    A-ES power form the ``weighted_sample`` entry uses.

    The oracle replays the EXACT selection: the integer micro-nat
    weights are deterministic (#163's argument), the Knuth hash is
    BIGINT arithmetic mirrored verbatim, and both engines compute the
    same IEEE-double ``LN`` chain on identical operands — adjacent
    Gumbel order statistics at these corpus sizes sit ~11 orders of
    magnitude above a double ulp, and exact key ties break by doc_id
    in both engines. The Gumbel key stays OUT of the output (the
    transcendental-repr rule shared with #158/#161)."""
    docs = load_table(spark, sf, "documents")
    out = sampling.importance_resample(
        docs, docs.filter(F.col("lang") == "en"), 50
    )
    return out.select(
        "doc_id", "lang", F.col("n_chars").cast("bigint").alias("n_chars")
    )


@query(
    "importance_model_persisted",
    ORACLE["importance_weights"],
)
def importance_model_persisted(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR through the fit/save/load/score lifecycle (round 11, corpus
    entry #165): ``sampling.fit_importance_model`` ->
    ``save_importance_model`` -> ``load_importance_model`` ->
    ``score_with_model`` — the paper's actual workflow (distributions
    estimated ONCE, then any number of shards scored against the frozen
    estimate; arXiv:2302.03169), and the production shape at 100 TB:
    the target corpus is never re-read per shard, and a foreachBatch
    micro-batch scores with one explode + one join. Must reproduce the
    inline ``importance_weights`` scores bit-identically — integer
    micro-nats round-trip parquet losslessly — so the oracle is shared
    verbatim (the ``bm25_search_persisted`` contract)."""
    import atexit
    import shutil
    import tempfile

    docs = load_table(spark, sf, "documents")
    model = sampling.fit_importance_model(
        docs, docs.filter(F.col("lang") == "en")
    )
    # private dir per invocation (parity/driver runs at two sfs in one
    # session must not read each other's model); reclaimed at exit —
    # the score table is vocabulary-sized, the jsonl_roundtrip rule
    path = tempfile.mkdtemp(prefix="sdw_dsir_model_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    sampling.save_importance_model(model, path)
    reopened = sampling.load_importance_model(spark, path)
    return sampling.score_with_model(reopened, docs)


@query(
    "quality_select_grouped",
    r"""
    WITH f AS (
      SELECT doc_id, lang,
             CAST(LEN(STRING_SPLIT_REGEX(text, '\s+')) AS BIGINT)
               AS n_tokens,
             CAST(LENGTH(text) AS BIGINT) AS n_chars,
             CAST(LENGTH(text)
                  - LENGTH(REGEXP_REPLACE(text, '[.,;:!?]', '', 'g'))
                  AS BIGINT) AS n_punct,
             CAST(LEN(REGEXP_EXTRACT_ALL(
                    LOWER(text), '\b(the|and|of|to|in|is|for)\b'))
                  AS BIGINT) AS n_stop
      FROM documents
    ),
    p AS (
      SELECT doc_id, lang, n_tokens,
             CAST((n_punct * 1000000) // n_chars AS BIGINT) AS punct_ppm,
             CAST((n_stop * 1000000) // n_tokens AS BIGINT) AS stop_ppm
      FROM f
    ),
    s AS (
      SELECT doc_id, lang, n_tokens, punct_ppm, stop_ppm,
             CAST(-500 + 2 * n_tokens + (-40) * (punct_ppm // 1000)
                  + 90 * (stop_ppm // 1000) AS BIGINT) AS logit_milli,
             (-500 + 2 * n_tokens + (-40) * (punct_ppm // 1000)
              + 90 * (stop_ppm // 1000)) >= 0 AS keep
      FROM p
    ),
    h AS (
      SELECT lang, logit_milli, COUNT(*) AS cnt
      FROM s GROUP BY lang, logit_milli
    ),
    c AS (
      SELECT lang, logit_milli,
             SUM(cnt) OVER (PARTITION BY lang
                            ORDER BY logit_milli DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
             SUM(cnt) OVER (PARTITION BY lang) AS n_g
      FROM h
    ),
    t AS (
      SELECT lang, CAST(MAX(logit_milli) AS BIGINT) AS threshold_milli
      FROM c WHERE cum * 1000 >= n_g * 300
      GROUP BY lang
    )
    SELECT s.lang, s.doc_id, s.n_tokens, s.punct_ppm, s.stop_ppm,
           s.logit_milli, s.keep, t.threshold_milli
    FROM s JOIN t USING (lang)
    WHERE s.logit_milli >= t.threshold_milli
    """,
)
def quality_select_grouped(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group top-quality selection (round 11, corpus entry #167):
    ``sampling.quality_select_top_grouped`` — the best 30 % of EACH
    language by the integer quality logit, the balanced version of
    ``quality_select_top`` (a global threshold hollows out
    low-resource languages whose score distributions sit lower).

    EXACT oracle: per-group thresholds derive from a cumulative count
    over the (lang, logit) histogram with the pure-integer cutoff
    ``1000·cum >= n_g·300`` — no division, no float, no sort of the
    corpus in either engine; ties at a group's threshold all kept
    (the global entry's documented overshoot contract, per group).
    Fully distributed — the window runs over the histogram, and the
    per-group threshold table broadcast-joins back; since r12 the
    global ``quality_select_top`` routes through this same engine with
    a constant group (one threshold code path)."""
    docs = load_table(spark, sf, "documents")
    return sampling.quality_select_top_grouped(
        docs, keep_permille=300, group_cols="lang"
    )


@query(
    "ngram_novelty",
    r"""
    WITH sh AS (
      SELECT doc_id,
             LIST_DISTINCT(
               LIST_TRANSFORM(
                 GENERATE_SERIES(1, LEN(STRING_SPLIT_REGEX(LOWER(text), '\s+')) - 2),
                 i -> STRING_SPLIT_REGEX(LOWER(text), '\s+')[i] || ' ' ||
                      STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+1] || ' ' ||
                      STRING_SPLIT_REGEX(LOWER(text), '\s+')[i+2]
               )
             ) AS shingles
      FROM documents
    ),
    ex AS (
      SELECT doc_id, UNNEST(shingles) AS shingle FROM sh
    ),
    dfq AS (
      SELECT shingle, COUNT(*) AS df FROM ex GROUP BY shingle
    )
    SELECT e.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           CAST((SUM(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) * 1000000)
                // COUNT(*) AS BIGINT) AS novelty_ppm
    FROM ex e JOIN dfq d USING (shingle)
    GROUP BY e.doc_id
    """,
)
def ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document n-gram novelty (round 11, corpus entry #168):
    ``text.ngram_novelty`` — the exact-ppm fraction of a document's
    distinct 3-gram shingles that appear in no other document, the
    diversity/boilerplate signal dual to the dedup family (pair
    overlap asks "which docs collide"; novelty asks "how much of THIS
    doc is corpus-unique" — template spam scores ~0, fresh material
    ~1e6).

    EXACT oracle: the shared shingle definition (#159's SQL kernel),
    df by one shingle groupBy (count = document frequency because
    shingles are per-doc distinct), and ``n_unique·1e6 DIV
    n_shingles`` — pure BIGINT arithmetic in both engines. Documents
    with fewer than 3 tokens have no shingles and are absent in both
    engines."""
    return text.ngram_novelty(load_table(spark, sf, "documents"))


@query(
    "phrase_search",
    r"""
    WITH t AS (
      SELECT doc_id,
             STRING_SPLIT_REGEX(LOWER(text), '\s+') AS w
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CASE WHEN LEN(w) >= 2 THEN
               LIST_FILTER(
                 GENERATE_SERIES(1, LEN(w) - 1),
                 i -> w[i] = 'table' AND w[i+1] = 'hash'
               )
             ELSE [] END AS starts
      FROM t
    )
    SELECT doc_id,
           CAST(LEN(starts) AS BIGINT) AS n_matches,
           CAST(starts[1] AS BIGINT) AS first_pos
    FROM m
    WHERE LEN(starts) > 0
    """,
)
def phrase_search(spark: SparkSession, sf: str) -> DataFrame:
    """Exact phrase search (round 11, corpus entry #169):
    ``text.phrase_match`` for the consecutive-token phrase
    "table hash" — the retrieval shape the bag-of-words rankers
    (tf-idf, BM25) cannot express: both tokens occur in most synthetic
    documents, but only ADJACENT IN ORDER counts.

    EXACT oracle: the same candidate-position filter arithmetic —
    1-based start offsets where every phrase term matches by
    ``element_at`` — with the short-doc branch explicit on the Spark
    side (``sequence`` DESCENDS below the start where DuckDB's
    ``generate_series`` returns empty). Pure integer outputs
    (n_matches, first_pos); one scan, zero shuffles, zero UDFs in the
    plan."""
    return text.phrase_match(
        load_table(spark, sf, "documents"), "table hash"
    )


@query(
    "importance_resample_grouped",
    _DSIR_SCORE_CTES
    + r""",
    imp AS (
      SELECT t.doc_id,
             SUM(sc.s) + COUNT(*) * (SELECT s_norm FROM norm) AS im
      FROM rt t JOIN sc USING (tok)
      GROUP BY t.doc_id
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
    FROM (
      SELECT d.doc_id, d.lang, d.n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY d.lang
               ORDER BY CAST(im AS DOUBLE) / 1e6
                 - LN(-LN((((d.doc_id % 1000003 + 1000003) % 1000003)
                     * 2654435761 % 4294967296 + 0.5) / 4294967296.0))
                 DESC,
                 d.doc_id ASC
             ) AS rn
      FROM documents d JOIN imp USING (doc_id)
    )
    WHERE rn <= 10
    """,
)
def importance_resample_grouped(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group DSIR selection (round 11, corpus entry #166):
    ``sampling.importance_resample_grouped`` — 10 documents per
    language drawn with probability proportional to their DSIR
    importance weight, the balanced version of #164 (a global draw
    follows the corpus mix; per-language quotas need the draw grouped
    while the FIT stays global — refitting per group would change
    p_raw and answer a different question).

    The oracle replays the EXACT per-group selection: same integer
    micro-nat weights (#163), same verbatim Knuth hash + ``LN`` chain
    Gumbel key (#164), ranked by a QUALIFY-style ROW_NUMBER per lang
    (#161's oracle shape over the DSIR key). The key stays OUT of the
    output."""
    docs = load_table(spark, sf, "documents")
    out = sampling.importance_resample_grouped(
        docs, docs.filter(F.col("lang") == "en"), 10, "lang"
    )
    return out.select(
        "doc_id", "lang", F.col("n_chars").cast("bigint").alias("n_chars")
    )


@query(
    "importance_model_report",
    _DSIR_SCORE_CTES
    + r""",
    fs AS (
      SELECT COALESCE(rf.tok, tf.tok) AS tok,
             COALESCE(rf.cr, 0) AS cr,
             COALESCE(tf.ct, 0) AS ct,
             CAST(FLOOR(1e6 * LN((COALESCE(tf.ct, 0) + 1.0)
                                 / (COALESCE(rf.cr, 0) + 1.0)))
                  AS BIGINT)
               + (SELECT s_norm FROM norm) AS full_s
      FROM rf FULL OUTER JOIN tf ON rf.tok = tf.tok
    ),
    klc AS (
      SELECT tok, ct, full_s,
             CAST(((ct + 1) * full_s
                   - ((((ct + 1) * full_s) % (SELECT n_tgt + v FROM tot)
                       + (SELECT n_tgt + v FROM tot))
                      % (SELECT n_tgt + v FROM tot)))
                  // (SELECT n_tgt + v FROM tot) AS BIGINT) AS contrib
      FROM fs
    ),
    sec_t AS (
      SELECT 'top_target_feature' AS section, tok AS key,
             CAST(ROW_NUMBER() OVER (ORDER BY full_s DESC, tok)
                  AS BIGINT) AS rank,
             ct AS n, full_s AS value_micronats
      FROM fs
    ),
    sec_r AS (
      SELECT 'top_raw_feature' AS section, tok AS key,
             CAST(ROW_NUMBER() OVER (ORDER BY full_s ASC, tok)
                  AS BIGINT) AS rank,
             cr AS n, full_s AS value_micronats
      FROM fs
    ),
    sec_k AS (
      SELECT 'kl_contribution' AS section, tok AS key,
             CAST(ROW_NUMBER() OVER (ORDER BY contrib DESC, tok)
                  AS BIGINT) AS rank,
             ct AS n, contrib AS value_micronats
      FROM klc
    ),
    imp AS (
      SELECT t.doc_id,
             CAST(SUM(sc.s) + COUNT(*) * (SELECT s_norm FROM norm)
                  AS BIGINT) AS im
      FROM rt t JOIN sc USING (tok)
      GROUP BY t.doc_id
    ),
    srcrank AS (
      SELECT key, n, simp, mn, mx,
             CAST(ROW_NUMBER() OVER (ORDER BY key) AS BIGINT) AS rank
      FROM (
        SELECT d.source AS key,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(im) AS BIGINT) AS simp,
               CAST(MIN(im) AS BIGINT) AS mn,
               CAST(MAX(im) AS BIGINT) AS mx
        FROM documents d JOIN imp USING (doc_id)
        WHERE d.source IS NOT NULL
        GROUP BY d.source
      )
    )
    SELECT section, key, rank, n, value_micronats
    FROM sec_t WHERE rank <= 10
    UNION ALL
    SELECT section, key, rank, n, value_micronats
    FROM sec_r WHERE rank <= 10
    UNION ALL
    SELECT section, key, rank, n, value_micronats
    FROM sec_k WHERE rank <= 10
    UNION ALL
    SELECT 'summary', 'vocabulary_size', CAST(1 AS BIGINT),
           (SELECT v FROM tot), (SELECT s_norm FROM norm)
    UNION ALL
    SELECT 'summary', 'kl_target_vs_raw_micronats', CAST(2 AS BIGINT),
           (SELECT n_tgt FROM tot),
           (SELECT CAST(SUM(contrib) AS BIGINT) FROM klc)
    UNION ALL
    SELECT 'source_avg_score', key, rank, n,
           CAST((simp - ((simp % n + n) % n)) // n AS BIGINT)
    FROM srcrank
    UNION ALL
    SELECT 'source_min_score', key, rank, n, mn FROM srcrank
    UNION ALL
    SELECT 'source_max_score', key, rank, n, mx FROM srcrank
    """,
)
def importance_model_report(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR fit diagnostic report (round 12, corpus entry #170):
    ``sampling.importance_model_report`` — the held-out sanity check a
    user runs BEFORE committing a 100 TB resample (r11 VERDICT
    next-round #6; the ``ivf_recall_audit``/``blocking_recall``
    monitor-before-commit pattern applied to arXiv:2302.03169): top-10
    rewarded and penalized features with their smoothed per-occurrence
    log-ratios, the top-10 per-feature KL(target‖raw) contributions,
    the full-KL and vocabulary summary rows, and the per-source
    importance-score distribution (avg/min/max) over the whole corpus.

    EXACT oracle: every value is integer micro-nats on the shared
    #163 floored-log kernel — the feature sections run over the UNION
    vocabulary (a target-only feature is the strongest positive
    signal, the persisted-model argument), KL contributions and
    per-source averages use the pmod floor-division identity (`DIV`
    truncates toward zero, which diverges from floor exactly on the
    negative values penalized features produce), and section ranks
    are total orders (score, then feature) in both engines."""
    docs = load_table(spark, sf, "documents")
    return sampling.importance_model_report(
        docs,
        docs.filter(F.col("lang") == "en"),
        top_k=10,
        source_col="source",
    )


@query(
    "quality_classifier_scores",
    r"""
    WITH f AS (
      SELECT doc_id,
             CAST(LEN(STRING_SPLIT_REGEX(text, '\s+')) AS BIGINT)
               AS n_tokens,
             CAST(LENGTH(text) AS BIGINT) AS n_chars,
             CAST(LENGTH(text)
                  - LENGTH(REGEXP_REPLACE(text, '[.,;:!?]', '', 'g'))
                  AS BIGINT) AS n_punct,
             CAST(LEN(REGEXP_EXTRACT_ALL(
                    LOWER(text), '\b(the|and|of|to|in|is|for)\b'))
                  AS BIGINT) AS n_stop
      FROM documents
    ),
    p AS (
      SELECT doc_id, n_tokens,
             CAST((n_punct * 1000000) // n_chars AS BIGINT) AS punct_ppm,
             CAST((n_stop * 1000000) // n_tokens AS BIGINT) AS stop_ppm
      FROM f
    )
    SELECT doc_id, n_tokens, punct_ppm, stop_ppm,
           CAST(-137 + (-1) * n_tokens + 0 * (punct_ppm // 1000)
                + (-2) * (stop_ppm // 1000) AS BIGINT) AS logit_milli,
           (-137 + (-1) * n_tokens + 0 * (punct_ppm // 1000)
            + (-2) * (stop_ppm // 1000)) >= -250 AS keep
    FROM p
    """,
)
def quality_classifier_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Trained quality classifier, apply side (round 13, corpus entry
    #171): ``text.score_with_classifier`` with the committed
    ``TRAINED_QUALITY_WEIGHTS`` — milli weights FITTED by
    ``fit_quality_classifier`` (Spark ML LogisticRegression over the
    exact integer feature terms ``quality_logit`` multiplies; r12
    VERDICT next-round #5, the CCNet/GPT-3-style trainable step) and
    exported into the published integer scorer, so inference is the
    same single-scan pure-JVM integer projection as ``quality_logit``
    and the oracle inlines the learned constants verbatim. The fit
    side (LBFGS) is SQL-inexpressible by nature and is pinned by
    ``tests/test_quality_classifier.py``: a NumPy IRLS mirror
    reproduces the coefficients, a refit reproduces the committed
    milli weights, and save/load round-trips through the staged swap.
    Keep threshold −250 milli (≈ the corpus median logit under the
    demo ``lang == 'en'`` seed labeling), so both output classes are
    populated."""
    return text.score_with_classifier(
        load_table(spark, sf, "documents"),
        text.TRAINED_QUALITY_WEIGHTS,
        keep_threshold_milli=-250,
    )


@query(
    "quality_ngram_scores",
    r"""
    WITH toks AS (
      SELECT doc_id, STRING_SPLIT_REGEX(LOWER(text), '\s+') AS l
      FROM documents
    ),
    f AS (
      SELECT doc_id, UNNEST(l) AS feat FROM toks
      UNION ALL
      SELECT doc_id,
             UNNEST(list_transform(generate_series(1, len(l) - 1),
                                   i -> l[i] || ' ' || l[i + 1])) AS feat
      FROM toks
    ),
    w(feat, wm) AS (VALUES
      ('a', 73), ('agg', -60), ('batch', -22), ('big', 93),
      ('column', -78), ('customer', -140), ('data', -33),
      ('filter', -10), ('group', 61), ('hash', 102), ('join', -74),
      ('merge', -41), ('order', 183), ('part', -37), ('query', -129),
      ('row', 3), ('scan', -134), ('slow', -85), ('small', -87),
      ('sort', 89), ('spark', 54), ('stream', -19), ('table', 118),
      ('window', 147)),
    agg AS (
      SELECT f.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_features,
             CAST(SUM(w.wm) AS BIGINT) AS s
      FROM f JOIN w USING (feat)
      GROUP BY f.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(a.n_features, 0) AS BIGINT) AS n_features,
           CAST(COALESCE(a.s, 0) + (-189) AS BIGINT) AS logit_milli,
           (COALESCE(a.s, 0) + (-189)) >= 0 AS keep
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def quality_ngram_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Hashed-n-gram quality classifier, apply side (round 14, corpus
    entry #172): ``text.score_with_ngram_classifier`` with the
    committed ``TRAINED_NGRAM_QUALITY_WEIGHTS`` — the CCNet/fastText
    SHAPE of quality classification (bag of unigram+bigram counts;
    Wenzek et al., arXiv:1911.00359 §4.3; Joulin et al.,
    arXiv:1607.01759 §2.1), where #171 separates on shape statistics
    this one separates on CONTENT. The committed model is the EXACT
    (string-keyed) form — vocab = the 24 most document-frequent
    n-grams of the sf0.01 seed set, weights fitted by
    ``fit_quality_classifier_ngrams`` and milli-quantized — so the
    oracle inlines the learned table verbatim and the score is BIGINT
    end to end: one explode, one broadcast join against the 24-row
    weight table, one integer sum per document. The hashed-bucket
    production mode (``num_buckets`` — xxhash64 bucketing, model and
    broadcast bounded by B whatever the corpus vocabulary does) is
    engine-specific and is pinned hashed≡exact under a proven
    collision-free bucketing by ``tests/test_ngram_classifier.py``,
    the DSIR precedent; the fit side (LBFGS, SQL-inexpressible) is
    pinned there by the NumPy IRLS mirror and the ±1-milli refit
    reproduction."""
    return text.score_with_ngram_classifier(
        load_table(spark, sf, "documents"),
        text.trained_ngram_classifier(),
        keep_threshold_milli=0,
    )


# ---------------------------------------------------------------------------
# Driver-visible registration order
# ---------------------------------------------------------------------------
# The correctness driver checks the FIRST 50 registered queries
# (CORRECTNESS_r01-r06 all equal registration positions 0-49; r7+ use
# the frozen rotation below).  Round-11 window — after r10's 50/50
# green run, ALL 160 entries' latest driver row is green; 156 hold a
# hard row (50 r10 / 50 r9 / 50 r8 / 6 r7) and four are never-rowed
# (#157-160, registered in r10 after the freeze). This rotation is
# the r11 window the r10 composer pre-designated, composed by the
# GREEDY MOST-STALE-FIRST policy (below): the six r10-slipped
# r7-stale entries (dedup_embedding_cosine, dedup_ngram_jaccard,
# dedup_clusters, dedup_exact, join_multiway, dense_cube_crossjoin —
# each slipped once, forbidden from slipping twice, so they lead) +
# the four never-rowed r10 registrations (#157
# fuzzy_lookup_edit_distance, #158 weighted_sample, #159
# fuzzy_join_minhash, #160 jsonl_roundtrip — first hard rows) + 40
# of the 50 r8-rowed entries.
#
# TEN slips this round (60 candidates, 50 slots; N-150 = 10, see the
# capacity policy below), all from the r8-rowed cohort, designated by
# the r10 composer per policy (proven-stable, >= 3 consecutive
# greens, code untouched since the last row, truth-set twins and
# redundantly-pinned entries first) and re-verified at r11
# composition time (none had a code change):
#   1. set_except (greens r1/r2/r5/r8; EXCEPT ALL twin set_except_all
#      carries a fresh r9 row over the same engine surface);
#   2. anti_join (greens r1/r2/r5/r8; not_exists_customers carries a
#      fresh r9 row over the same left_anti plan family);
#   3. semi_join_having (greens r1/r2/r5/r8; decorrelation pinned
#      every session by test_plan_quality.py);
#   4. distinct_dedup (greens r1/r2/r5/r8; cleansing.py untouched;
#      TRUNCATE+DISTINCT re-pinned by the ETL goldens every session);
#   5. scalar_aggregates (greens r1/r2/r5/r8; trivial MIN/MAX shape
#      over untouched code);
#   6. date_spine (greens r1/r2/r5/r8; F.sequence spine re-pinned by
#      the ETL goldens);
#   7. string_functions (greens r1/r2/r5/r8; built-in battery,
#      re-verified type-strictly by the parity suite each session);
#   8. set_intersect (greens r1/r2/r5/r8; INTERSECT ALL twin
#      set_intersect_all carries a fresh r9 row);
#   9. time_hierarchy (greens r1/r2/r5/r8; time_dimension.py
#      untouched, re-pinned every session by the ETL goldens);
#  10. scd2_versions (greens r1/r2/r5/r8; product_dimension.py
#      untouched, SCD2 re-pinned every session by the ETL goldens —
#      product 19 / dense 5,569,280 both depend on the version
#      table).
# None of these ten may slip again in r12 — all ten are IN the r12
# window by construction.
#
# r12 composer note: round 11 additionally REGISTERS entry #161
# (weighted_sample_grouped, the per-group k-docs-per-stratum variant
# of sampling.weighted_sample_topk via weighted_sample_topk_grouped),
# entry #162 (fuzzy_join_minhash_exact, the verify='exact'
# continuous-precision dial of dedup.minhash_lsh_join under a
# precision-floor-1.0 gate), entry #163 (importance_weights, DSIR
# log-likelihood-ratio scores in integer micro-nats via
# sampling.importance_scores — exact oracle), and entry #164
# (importance_resample, the Gumbel-top-k DSIR draw via
# sampling.importance_resample — exact replay oracle), entry #165
# (importance_model_persisted, the DSIR fit/save/load/score lifecycle
# via sampling.fit_importance_model/score_with_model under the
# verbatim-shared #163 oracle), and entry #166
# (importance_resample_grouped, the per-group DSIR draw — global fit,
# grouped Gumbel-top-k via sampling.importance_resample_grouped —
# exact replay oracle in the #161 QUALIFY shape), entry #167
# (quality_select_grouped, the per-group top-quality gate via
# sampling.quality_select_top_grouped — exact oracle, fully
# distributed histogram thresholds), and entry #168 (ngram_novelty,
# the corpus-unique-shingle diversity score via text.ngram_novelty —
# exact integer-ppm oracle), and entry #169 (phrase_search, exact
# consecutive-token phrase retrieval via text.phrase_match — exact
# oracle, one scan / zero shuffles), all after
# position 50, local dual-sf parity green this round. r12 candidates
# are therefore the ten r8-stale entries slipped above + #161-#169
# (never-rowed) + the 50 r9-rowed entries = 69 for 50 slots ->
# NINETEEN slips from the r9 cohort (N-150 = 19 at N=169), designated
# per policy (proven-stable, >= 3 consecutive greens — i.e. the
# r3/r6/r9-rowed subcohort; code untouched since the last row;
# truth-set twins and redundantly-pinned entries first):
#   1. set_except_all (greens r3/r6/r9; its EXCEPT twin set_except is
#      rowed in r12 by construction — twin-keeps-cadence);
#   2. set_intersect_all (greens r3/r6/r9; twin set_intersect rowed
#      in r12 — same rationale);
#   3. not_exists_customers (greens r3/r6/r9; twin anti_join rowed in
#      r12 over the same left_anti plan family);
#   4. exists_subquery_orders (greens r3/r6/r9; twin semi_join_having
#      rowed in r12; decorrelation pinned by test_plan_quality.py);
#   5. in_subquery_big_orders (greens r3/r6/r9; same left_semi
#      subquery family as #4, re-verified by the parity suite);
#   6. ann_bruteforce_topk (greens r3/r6/r9; the exact truth-set twin
#      — production twins ann_ivf_topk/ann_lsh_topk stay in window
#      and ann_ivf_persisted carries a fresh r11 row);
#   7. multimodal_decode (greens r3/r6/r9; multimodal.py untouched;
#      multimodal_features carries a fresh r10 row over the same
#      mapInPandas kernel surface);
#   8. multimodal_frame_sample (greens r3/r6/r9; same rationale);
#   9. multimodal_audio_windows (greens r3/r6/r9; same rationale);
#  10. doc_fingerprint (greens r3/r6/r9; rolling-hash kernel family
#      shared with doc_winnowing, which stays in window);
#  11. token_counting (greens r3/r6/r9; token_frequencies and the BPE
#      entries stay in window over the same tokenizer surface);
#  12. doc_chunking (greens r3/r6/r9; chunking.py untouched since
#      creation, and it is a HEADLINE bench member timed every round —
#      the dedup_exact r10-slip rationale);
#  13. funnel_conversion (greens r3/r6/r9; timeseries.py untouched
#      since before the r9 row; an sf1-scaling bench member timed
#      every round, and session_funnel carries a fresh r10 row over
#      the same timeseries surface);
#  14. tfidf_top_terms (greens r3/r6/r9; the tfidf kernel untouched
#      since before the r9 row; an sf1-scaling bench member timed
#      every round, and the text-index family keeps fresh rows —
#      bm25_topk r10, bm25_search_persisted with a fresh r11 row);
#  15. rolling_range_avg (greens r3/r6/r9; timeseries.py untouched
#      since before the r9 row; an sf1-scaling bench member timed
#      every round, and rolling_active_users carries a fresh r10 row
#      over the same RANGE-frame window surface);
#  16. topk_unshipped_revenue (greens r3/r6/r9; a pure corpus query
#      re-verified type-strictly by the parity suite each session,
#      and a HEADLINE bench member timed every round at sf0.1 AND in
#      the sf1 scaling block — the dedup_exact/doc_chunking slip
#      rationale);
#  17. session_stats (greens r3/r6/r9; its gap rule is shared with
#      sessionize, a HEADLINE bench member timed every round that
#      carries a fresh r11 row — twin-keeps-cadence);
#  18. zscore_outliers (greens r3/r6/r9; timeseries.py untouched
#      since before the r9 row; the decimal-exact-moments kernel
#      family is re-rowed in r12 via trend_slope_per_user, which
#      stays in the window);
#  19. gap_fill_locf (greens r3/r6/r9; timeseries.py untouched since
#      before the r9 row; the ignorenulls frame-window surface
#      carries a fresh r11 row via window_frame_first_last).
# dedup_edit_distance (single r9 row), asof_join_nearest,
# dedup_canonical_text, dedup_containment_capped (two rows each) are
# NOT slip-eligible and stay in the r12 window. If any designated
# slip has a code change by r12 composition time, promote it and slip
# the next most redundantly pinned r9 entry instead. None of this
# round's ten slips may slip again in r12.
#
# r13 FEASIBILITY (checked r11 so the arithmetic is never a surprise):
# the r13 window draws its slips from the 50 r10-rowed entries. Of
# those, 44 carry >= 3 greens (the r7-cohort members, r1/r2/r4/r7/r10,
# plus language_id r1/r3/r6/r10) and are designation candidates
# subject to the code-untouched + twin rules; the five single-rowed
# r9 registrations (fuzzy_join_edit_distance, blocking_selectivity,
# bucket_join_selectivity, blocking_recall, ivf_recall_audit) and
# fuzzy_lookup_edit_distance-class r10 registrations are NOT eligible
# and stay in the r13 window. Nineteen-plus slips from a 44-entry
# eligible pool is comfortable; the binding constraint remains WRITING
# honest twin rationales, not the count.
#
# Staleness after this round: nothing older than r8 except nothing —
# the six r7-stale entries are rowed this round; the ten designated
# slips keep their r8 rows (staleness 3, rowed r12); zero never-rowed
# entries except #161-#169 (registered this round, first in line for
# r12); every entry whose code changed since its last row has a row
# postdating the change (jsonl_roundtrip, fuzzy_join_minhash, and
# weighted_sample — the three r11-touched surfaces — are all in this
# window; ann_ivf_persisted covers the rebuild_ivf_index touch).
#
# CAPACITY POLICY (generalized round 12 — the r11 wording scoped
# itself to 150 < N <= 200; the formula below is the same law stated
# for ANY 50 < N <= 250, both regimes explicit, machine-checked under
# simulated N=200/N=201 histories in tests/test_window_audit.py).
# The rule, as a formula of corpus size N with a fixed 50-row window:
#
#   * MAX STALENESS = ceil(N/50) rounds (4 at 151-200, 5 at 201-250):
#     the window is composed GREEDY MOST-STALE-FIRST (ties by
#     registration order), a slipped entry leads the next window by
#     construction, and NO ENTRY SLIPS IN TWO CONSECUTIVE CYCLES — so
#     a slip costs exactly one extra round, never two.
#   * STEADY-STATE SLIPS PER ROUND = N - 50*(ceil(N/50) - 1), i.e.
#     N - 150 at 151-200 and N - 200 at 201-250. Each round's
#     candidate set is (last cycle's slips, which may not slip again)
#     + (new never-rowed registrations) + (the oldest full 50-entry
#     cohort); the overflow past 50 slots is the slip count. (r10:
#     N=156 -> 6 slips; r11: N=160 -> 10; r12: N=169 -> 19.) The slip
#     pressure RESETS at each 50-boundary: crossing N=200 widens the
#     bound to 5, so N=201 needs just 1 slip.
#   * END-STATE (decided r12): registration pacing slows to
#     judge-brief-driven additions (<= ~4/round), keeping N inside
#     the <= 250 validity range through every remaining round; twin
#     consolidation stays available as a lever but is not exercised
#     while every twin re-verifies distinct semantics. The
#     artifact-lands-before-swap handoff is exempted structurally:
#     window_audit excuses an entry at EXACTLY the age bound when it
#     appears in the pre-composed next-round plan
#     (R{round}_FIRST_50_PLAN) — beyond the bound nothing is excused.
#   * SLIP ELIGIBILITY: only proven-stable entries — >= 3 consecutive
#     green hard rows AND operator code untouched since the last row
#     — drawn truth-set twins first (the exact/uncapped twin slips,
#     the capped/approximate production twin keeps the tighter
#     cadence and the shared oracle re-verifies the semantics), then
#     entries redundantly pinned by every-session suites (ETL
#     goldens, test_plan_quality, the parity suite).
#   * CODE-CHANGED entries are promoted into the next window
#     regardless of staleness; never-rowed registrations are first in
#     line for the next window.
#
# Off-rotation rounds stay covered by the local
# tests/test_oracle_parity.py run, which re-verifies ALL entries
# type-strictly at two scale factors every round regardless of the
# driver window. A per-round freshness histogram lives in OPERATORS.md
# so the staleness bound is checkable at a glance. (Policy mirrored in
# OPERATORS.md.)
#
# The window is FROZEN as an explicit list: adding a new query anywhere
# above cannot silently shift which entries the driver checks — new
# registrations land after position 50 until deliberately promoted here.

#: The r12 window, PRE-COMPOSED from the policy above (the ten r11
#: slips lead, then the nine never-rowed r11 registrations, then the
#: 50 r9-rowed entries minus the nineteen designated slips — exactly
#: 50). Next round's composer sets ``FIRST_50 = R12_FIRST_50_PLAN``
#: (verbatim or with the code-change promotions the policy allows)
#: instead of re-deriving the arithmetic; ``tests/test_driver_window``
#: pins that this plan already satisfies every structural invariant.
R12_FIRST_50_PLAN = (
    # ten r11-slipped r8-stale entries (may not slip twice — they lead)
    "set_except",
    "anti_join",
    "semi_join_having",
    "distinct_dedup",
    "scalar_aggregates",
    "date_spine",
    "string_functions",
    "set_intersect",
    "time_hierarchy",
    "scd2_versions",
    # first hard rows for the r11 registrations #161-169
    "weighted_sample_grouped",
    "fuzzy_join_minhash_exact",
    "importance_weights",
    "importance_resample",
    "importance_model_persisted",
    "importance_resample_grouped",
    "quality_select_grouped",
    "ngram_novelty",
    "phrase_search",
    # 31 of the 50 r9-rowed entries (nineteen designated slips — see
    # the composer note above)
    "dedup_edit_distance",
    "ann_ivf_topk",
    "ann_lsh_topk",
    "asof_join_nearest",
    "attribution_last_touch",
    "bigram_surprisal",
    "bpe_pair_counts",
    "corpus_filter_pipeline",
    "decontaminate_ngrams",
    "dedup_canonical_text",
    "dedup_containment_capped",
    "doc_pii_scrub",
    "doc_winnowing",
    "embedding_stats",
    "fuzzy_name_match",
    "hypertable_rollup",
    "mixture_interleave",
    "range_join_weeks",
    "repetition_quality",
    "retention_cohorts",
    "scalar_subquery_share",
    "semantic_dedup",
    "sketch_union_rollup",
    "skew_salted_join",
    "snapshot_upsert",
    "stratified_sample",
    "text_quality",
    "token_budget_select",
    "token_frequencies",
    "trend_slope_per_user",
    "value_histogram",
)

# ROUND 12 COMPOSER NOTE: the swap below executes the pre-composed
# plan VERBATIM — no code-change promotions were needed (the working
# tree was clean at composition time; every r12-window operator surface
# was untouched between the r11 close and this commit). The r11 window
# it replaces is the previous value of this assignment (git history,
# commit tagged "round 11"). The ten r8-stale r11 slips lead, the nine
# never-rowed r11 registrations (#161-169) get their first hard rows,
# and the nineteen designated r9-rowed slips sit out exactly one round
# (they lead the r13 window by construction — see R13_FIRST_50_PLAN
# below).
#
# r12 registered ONE new entry after position 50 (the decided
# registration pacing): #170 importance_model_report (the DSIR fit
# diagnostic — r11 VERDICT next-round #6; exact integer micro-nat
# oracle over the shared #163 kernel), never-rowed, first in line for
# r13 by construction. N = 170.
#
# r12 CODE-CHANGED surfaces and their row coverage (the promotion
# rule's bookkeeping):
#   * sampling.quality_select_top now routes through the grouped
#     threshold engine (one code path; r11 VERDICT #7). Its entry is
#     r10-rowed -> PROMOTED into the r13 window (not slip-eligible);
#     until that row lands, the shared engine itself is re-rowed THIS
#     round via quality_select_grouped (#167, in the r12 window) and
#     the global==mirror-of-retired-arithmetic property is pinned in
#     tests/test_quality_select.py.
#   * text.save_text_index/load_text_index now stage their writes
#     (crash-safe + resave-to-same-path-safe; r11 ADVICE pattern).
#     bm25_search_persisted's r11 row predates the change -> PROMOTED
#     into the r13 window regardless of staleness (the policy's
#     code-changed rule), costing one extra r13 slip (21 vs the
#     steady-state 20).
#   * text.build_phrase_index gained materialize=True (fit-once
#     checkpoint; r11 VERDICT #5) and save/load_phrase_index now
#     stage + recover (r11 ADVICE #1). The phrase surface's corpus
#     entry phrase_search (#169) is in the r12 window, so its fresh
#     row postdates the change; the index half is pinned every
#     session by tests/test_phrase_index.py (incl. the new
#     build-once plan pin, resave, and crash-recovery tests).
#
# r13 WINDOW, PRE-COMPOSED (N=170 -> steady-state slips N-150 = 20,
# +1 forced by the bm25_search_persisted promotion = TWENTY-ONE slips
# from the 50 r10-rowed entries; candidates = 19 r12 slips + 1
# never-rowed + 1 promotion + 50 r10-rowed = 71 for 50 slots). The 21
# designated slips, each with >= 3 consecutive greens (r4/r7/r10
# unless noted), kernel untouched since its last row, and the honest
# twin/redundant-pinning rationale:
#   1. dedup_ngram_jaccard_capped (greens r2/r4/r7/r10; the capped
#      production twin sits out once — its uncapped truth twin
#      dedup_ngram_jaccard carries a fresh r11 row over the SAME
#      shared shingle kernel and oracle family);
#   2. dedup_clusters_star (greens r2/r4/r7/r10; twin dedup_clusters
#      carries a fresh r11 row over the same connected-components
#      kernel);
#   3. dedup_minhash_lsh (greens r2/r4/r7/r10; the banded-signature
#      kernel is re-rowed THIS round via fuzzy_join_minhash_exact
#      (#162, r12 window) and carries fuzzy_join_minhash's r11 row);
#   4. dedup_minhash_incremental (greens r4/r7/r10; same banded
#      kernel rationale, and the incremental band-state contract is
#      pinned every session by the dedup/streaming suites);
#   5. embedding_normalize (greens r4/r7/r10; embedding_stats is in
#      the r12 window, re-rowing the same similarity.py array-kernel
#      surface; similarity.py untouched in r12);
#   6. embedding_truncate (greens r4/r7/r10; same embedding_stats
#      rationale);
#   7. embedding_quantize (greens r4/r7/r10; same rationale — the
#      extra slip slot the promotion costs comes from this family,
#      which keeps three sibling entries and an r12-rowed stats
#      twin);
#   8. unigram_surprisal (greens r4/r7/r10; twin bigram_surprisal is
#      in the r12 window over the same surprisal kernel);
#   9. gopher_quality_filter (greens r4/r7/r10; text_quality AND
#      repetition_quality are in the r12 window over the same
#      quality-heuristic kernel; r12's text.py changes touch only
#      the index save/load and phrase surfaces, not these kernels);
#  10. quality_logit (greens r4/r7/r10; quality_select_grouped (#167,
#      r12 window) re-rows the scoring kernel this round, and
#      quality_select_top joins it in the r13 window by promotion);
#  11. bm25_topk (greens r4/r7/r10; its persisted twin
#      bm25_search_persisted is IN the r13 window by promotion,
#      re-rowing the shared scoring tail the same round, and
#      tfidf_top_terms leads the r13 window re-rowing the postings
#      kernel);
#  12. session_funnel (greens r4/r7/r10; twin funnel_conversion is
#      rowed in r13 by construction — it leads as an r12 slip);
#  13. rolling_active_users (greens r4/r7/r10; RANGE-frame twin
#      rolling_range_avg is rowed in r13 by construction);
#  14. stats_correlation (greens r4/r7/r10; the decimal-exact-moments
#      kernel is re-rowed THIS round via trend_slope_per_user (r12
#      window));
#  15. user_paths (greens r4/r7/r10; the session kernel family keeps
#      cadence — sessionize carries a fresh r11 row and session_stats
#      is rowed in r13 by construction);
#  16. multimodal_features (greens r4/r7/r10; the three multimodal
#      twins decode/frame_sample/audio_windows are ALL rowed in r13
#      by construction — the whole mapInPandas kernel surface
#      re-rows the same round this entry sits out);
#  17. leakage_safe_split (greens r4/r7/r10; train_test_split carries
#      a fresh r11 row over the same keyed-hash split kernel);
#  18. epoch_shuffle (greens r4/r7/r10; same train_test_split
#      rationale for the keyed-hash family);
#  19. table_profile (greens r4/r7/r10; profile.py untouched;
#      table_drift_report AND corpus_health_report stay in the r13
#      window re-rowing the shared profile kernel);
#  20. full_outer_join (greens r4/r7/r10; a pure corpus query
#      re-verified type-strictly by the parity suite every session;
#      the join family keeps fresh rows — join_multiway r11,
#      join_composite_key in the r13 window);
#  21. union_by_name_missing (greens r4/r7/r10; set_union carries a
#      fresh r11 row over the same unionByName surface; pure corpus
#      query, parity-pinned every session).
# NOT slip-eligible and staying in the r13 window: the five
# single-rowed r9 registrations (fuzzy_join_edit_distance,
# blocking_selectivity, bucket_join_selectivity, blocking_recall,
# ivf_recall_audit), source_lexical_diversity (two rows r7/r10), and
# quality_select_top + bm25_search_persisted (code-changed
# promotions). language_id (greens r1/r3/r6/r10) is eligible but
# retained — its 4-round-gap history already used its slip once.
# None of r12's nineteen slips may slip again in r13. If any r13
# designee's code changes before composition time, promote it and
# slip the next most redundantly pinned r10-rowed entry instead.
#
# r14 WINDOW, PRE-COMPOSED (round 13 composer note; N=171 at
# composition time after this round's ONE registration, #171
# quality_classifier_scores -> steady-state slips N-150 = 21 from the
# r11-rowed cohort, +2 forced by the importance_model_persisted and
# quality_select_grouped code-change promotions (below) =
# TWENTY-THREE designated slips; candidates = 21 r13 slips + 2
# promotions + 1 never-rowed + 49 r11-rowed entries = 73 for 50
# slots; the cohort is 49, not 50,
# because bm25_search_persisted — an r11-rowed entry — is IN the r13
# window by promotion and re-rows there). Of the 49, the four
# single-rowed r10 registrations (fuzzy_join_minhash,
# fuzzy_lookup_edit_distance, jsonl_roundtrip, weighted_sample — one
# r11 row each) and the two double-rowed r8-cohort entries
# (asof_join_tolerance, knn_label_vote — r8/r11) are NOT slip-eligible
# (<3 greens) and stay. The 23 designated slips, each with >= 3
# consecutive greens, kernel untouched since its r11 row, and the
# honest twin/redundant-pinning rationale:
#   1. dedup_ngram_jaccard (greens r1/r2/r4/r7/r11; its capped
#      production twin dedup_ngram_jaccard_capped is rowed in r14 BY
#      CONSTRUCTION — it leads as an r13 slip — over the same shared
#      shingle kernel and oracle family);
#   2. dedup_clusters (greens r1/r2/r4/r7/r11; twin
#      dedup_clusters_star rowed in r14 by construction over the same
#      connected-components kernel);
#   3. dedup_exact (greens r1/r2/r4/r7/r11; its incremental twin
#      dedup_exact_incremental STAYS in the r14 window re-rowing the
#      same exact-hash kernel, dedup_keep_best and dedup_lines carry
#      r13 rows, and it remains the corpus's most redundantly covered
#      entry — headline bench member timed every round, dual-sf
#      parity-pinned every session, 1M-row scale-probed);
#   4. dedup_embedding_cosine (greens r1/r2/r4/r7/r11; semantic_dedup
#      carries an r12 row and embedding_centroids + semantic_outliers
#      carry r13 rows over the same cosine kernel in similarity.py);
#   5. sessionize (greens r1/r2/r5/r8/r11; session_funnel AND
#      user_paths are rowed in r14 by construction — the session
#      kernel re-rows the same round this entry sits out — and
#      session_stats carries an r13 row);
#   6. set_union (greens r1/r2/r5/r8/r11; union_by_name_missing rowed
#      in r14 by construction over the same unionByName surface;
#      set_except/set_intersect carry r12 rows, the *_all twins r13);
#   7. train_test_split (greens r1/r2/r5/r8/r11; leakage_safe_split
#      AND epoch_shuffle rowed in r14 by construction over the same
#      keyed-hash split kernel);
#   8. approx_sketches (greens r1/r2/r5/r8/r11; its exact twin
#      approx_frequent_items_exact stays in the r14 window re-rowing
#      the sketch-vs-exact oracle family);
#   9. tumbling_window_agg (greens r1/r2/r5/r8/r11; streaming twins
#      sliding_window_rate and streaming_dedup_batch_contract stay in
#      the r14 window, and streaming == batch is pinned every session
#      by tests/test_streaming.py);
#  10. date_functions (greens r1/r2/r5/r8/r11; date_spine and
#      time_hierarchy carry r12 rows over the same calendar kernel;
#      pure corpus query, parity-pinned every session);
#  11. rollup_revenue (greens r1/r2/r5/r8/r11; grouping_sets_revenue
#      — the GROUPING SETS superset shape — stays in the r14 window);
#  12. cube_quantity (greens r1/r2/r5/r8/r11; same
#      grouping_sets_revenue rationale);
#  13. pivot_status_by_year (greens r1/r2/r5/r8/r11; its unpivot twin
#      unpivot_lineitem_metrics stays in the r14 window re-rowing the
#      (un)pivot surface);
#  14. topk_revenue_orders (greens r1/r2/r5/r8/r11;
#      topk_unshipped_revenue and topk_rank_ties carry r13 rows and
#      topk_global_sort stays in the r14 window — the
#      TakeOrderedAndProject family keeps fresh rows);
#  15. group_having (greens r1/r2/r5/r8/r11; semi_join_having carries
#      an r12 row over the same HAVING shape; pricing_summary stays);
#  16. left_join_coalesce (greens r1/r2/r5/r8/r11; the join family
#      keeps fresh rows — join_composite_key r13, join_multiway stays
#      in the r14 window — and the zero-fill kernel in fact.py is
#      pinned by the ETL goldens every run);
#  17. window_dense_rank (greens r1/r2/r5/r8/r11; window_cume_dist
#      carries an r13 row and siblings window_top1_per_group,
#      window_frame_first_last, ntile_buckets stay in the r14 window);
#  18. window_lag_gap (greens r1/r2/r5/r8/r11; rolling_range_avg and
#      gap_fill_locf carry r13 rows over the same frame kernel);
#  19. window_running_total (greens r1/r2/r5/r8/r11; its running-frame
#      twin rolling_active_users is rowed in r14 by construction);
#  20. source_dup_ratio (greens r5/r8/r11; source_overlap_matrix and
#      source_lexical_diversity carry r13 rows over the same
#      per-source kernel);
#  21. case_when_classify (greens r1/r2/r5/r8/r11; pure corpus query
#      re-verified type-strictly by the parity suite every session;
#      the CASE kernel in product_dimension carries scd2_versions'
#      r12 row — the slip slot forced by the
#      importance_model_persisted promotion, taken from the named
#      next-in-line order);
#  22. json_props_extract (greens r1/r2/r5/r8/r11; pure corpus query
#      re-verified type-strictly by the parity suite every session;
#      jsonl_roundtrip stays in the r14 window re-rowing the JSON
#      parse surface — the slip slot forced by this round's #171
#      registration, taken from the named next-in-line order);
#  23. percentile_quantity (greens r1/r2/r5/r8/r11; pure corpus query
#      re-verified type-strictly by the parity suite every session —
#      the slip slot forced by the quality_select_grouped promotion,
#      taken from the named next-in-line order).
#
# r13 REGISTRATION (pacing: judge-brief-driven, one this round): #171
# quality_classifier_scores (r12 VERDICT next-round #5 — the trainable
# quality classifier: fit_quality_classifier / score_with_classifier
# with the committed TRAINED_QUALITY_WEIGHTS; exact integer oracle on
# the apply side, NumPy-mirror property oracle on the fit side in
# tests/test_quality_classifier.py). Registered after position 50,
# never-rowed, first in line for r14 by construction.
#
# r13 CODE-CHANGED surface and its promotion (the r12 rule's
# bookkeeping): save/load_importance_model, save/load_text_index and
# save/load_phrase_index now stage each scores/postings+stats PAIR as
# ONE whole-directory swap (staged_overwrite_dir — the r12 ADVICE
# crash window pairing a new data part with stale stats is closed).
#   * importance_model_persisted exercises save/load_importance_model
#     directly; its r12 row predates the change -> PROMOTED into the
#     r14 window, costing the extra slip (#21 above).
#   * bm25_search_persisted exercises save/load_text_index and is IN
#     the r13 window by its own r12 promotion — its r13 row postdates
#     this change; no further action.
#   * phrase_search's kernel is text.phrase_match (scan path only —
#     it builds no index and never touches save/load), so the
#     save_phrase_index change does not promote it; the phrase
#     index's save/load/recover surface has no corpus entry and is
#     pinned every session by tests/test_phrase_index.py and the
#     staged_overwrite_dir unit tests.
#   * quality_select_top_grouped (and its global constant-group
#     caller) gained a weights parameter so the threshold engine can
#     select by a FITTED classifier's milli weights (the #171
#     workflow's selection step; default path unchanged and
#     property-pinned). quality_select_grouped rides that kernel and
#     its r12 row predates the change -> PROMOTED into the r14
#     window, costing slip #23; quality_select_top is IN the r13
#     window (post-change row this round).
#   * save/load/rebuild_ivf_index joined the same whole-directory
#     swap later in r13 (the pre-r13 per-part overwrite destroyed the
#     old generation before the new one committed; generation markers
#     kept for legacy-load refusal). ann_ivf_persisted exercises
#     save/load directly; its r11 row predates the change and it is
#     ALREADY retained in this plan — the promotion rule is satisfied
#     by existing plan membership, no extra slip. ivf_recall_audit is
#     in the r13 window (post-change row this round).
#
# None of r13's twenty-one slips may slip again in r14. If any r14
# designee's code changes before composition time, promote it and
# slip the next most redundantly pinned r11-rowed entry instead
# (next in line by the same criteria: ntile_buckets — which would
# also amend window_dense_rank's retained-sibling rationale — then
# cleanse_reject_routing, re-pinned by the ETL goldens every run;
# both r1/r2/r5/r8/r11). Any further
# r13 registration lands after position 50, is first in line here,
# and costs one extra slip from the same next-in-line order.
#
# r15 WINDOW, PRE-COMPOSED (round 14 composer note, written at the
# swap per convention; N=171 at swap time -> steady-state slips
# N-150 = 21 from the r12-rowed cohort; each r14 registration and
# each r14 code-change promotion costs one extra slip, taken from
# the named next-in-line order at the end of this note). The r15
# window leads with the twenty-three r14 slips (may not slip twice),
# then any r14 registrations (never-rowed, first in line) and r14
# code-change promotions, then the r12-rowed entries retained after
# the designated slips. The slip cohort is the 50
# CORRECTNESS_r12.json keys MINUS importance_model_persisted and
# quality_select_grouped (both re-row in r14 by promotion) = 48. Of
# the 48, the seven remaining single-r12-rowed r11 registrations
# (weighted_sample_grouped, fuzzy_join_minhash_exact,
# importance_weights, importance_resample,
# importance_resample_grouped, ngram_novelty, phrase_search) and the
# double-rowed dedup_edit_distance (r9/r12 — keep its attrib_3x
# watch note) are NOT slip-eligible (<3 greens) and stay. The 21
# steady-state designated slips, each with >= 3 consecutive greens,
# kernel untouched since its r12 row, and the honest
# twin/redundant-pinning rationale:
#   1. set_except (greens r1/r2/r5/r8/r12; set_except_all carries an
#      r13 row over the same EXCEPT [ALL] kernel);
#   2. set_intersect (greens r1/r2/r5/r8/r12; set_intersect_all
#      carries an r13 row over the same INTERSECT [ALL] kernel);
#   3. anti_join (greens r1/r2/r5/r8/r12; not_exists_customers
#      carries an r13 row over the same left_anti shape);
#   4. semi_join_having (greens r1/r2/r5/r8/r12;
#      exists_subquery_orders carries an r13 row over the same
#      pre-agg + left_semi shape);
#   5. distinct_dedup (greens r1/r2/r5/r8/r12;
#      dedup_exact_incremental carries an r14 row — it is in the r14
#      window — over the same exact-hash surface, and dedup_keep_best
#      + dedup_lines carry r13 rows);
#   6. scalar_aggregates (greens r1/r2/r5/r8/r12; pricing_summary
#      carries an r14 row — in the r14 window; pure corpus query
#      re-verified type-strictly by the parity suite every session);
#   7. date_spine (greens r1/r2/r5/r8/r12; the F.sequence calendar
#      kernel in time_dimension is pinned by the ETL goldens every
#      run);
#   8. time_hierarchy (greens r1/r2/r5/r8/r12; same ETL-golden
#      pinning of time_dimension every run, and join_multiway
#      carries an r14 row over the hierarchy-join shape);
#   9. string_functions (greens r1/r2/r5/r8/r12;
#      cleanse_reject_routing carries an r14 row — in the r14
#      window — over the cleansing string kernel);
#  10. scd2_versions (greens r1/r2/r5/r8/r12; the SCD2 kernel is
#      pinned by the test_etl_reference goldens every run);
#  11. ann_ivf_topk (greens r3/r6/r9/r12; ann_ivf_persisted carries
#      an r14 row and ivf_recall_audit an r13 row over the same IVF
#      kernel);
#  12. ann_lsh_topk (greens r3/r6/r9/r12; ann_bruteforce_topk — the
#      exact-oracle baseline the LSH entry is audited against —
#      carries an r13 row and ann_ivf_persisted an r14 row over the
#      similarity.py ANN surface);
#  13. asof_join_nearest (greens r6/r9/r12; asof_join_forward and
#      asof_join_tolerance carry r14 rows — both in the r14 window —
#      over the same as-of router, and the pricelist pair carries
#      r13 rows);
#  14. attribution_last_touch (greens r3/r6/r9/r12;
#      funnel_conversion and session_stats carry r13 rows over the
#      same per-user event-ordering kernel in timeseries.py, and
#      user_paths + session_funnel carry r14 rows by construction);
#  15. bigram_surprisal (greens r5/r6/r9/r12; unigram_surprisal
#      carries an r14 row by construction over the same surprisal
#      kernel);
#  16. bpe_pair_counts (greens r3/r6/r9/r12; token_counting carries
#      an r13 row over the same tokenizer family);
#  17. corpus_filter_pipeline (greens r3/r6/r9/r12;
#      curation_pipeline carries an r13 row over the same lazy
#      single-plan composition kernel);
#  18. decontaminate_ngrams (greens r3/r6/r9/r12;
#      dedup_ngram_jaccard_capped carries an r14 row by construction
#      over the shared shingle kernel);
#  19. doc_pii_scrub (greens r3/r6/r9/r12; doc_chunking and
#      doc_fingerprint carry r13 rows over the chunking.py surface);
#  20. doc_winnowing (greens r3/r6/r9/r12; doc_fingerprint carries
#      an r13 row over the same rolling-hash fingerprint family);
#  21. embedding_stats (greens r3/r6/r9/r12; embedding_normalize,
#      embedding_truncate and embedding_quantize carry r14 rows by
#      construction over the same embedding-array kernel).
# r14 CODE-CHANGED surface and its promotions (the standing rule's
# bookkeeping, kept in the same commits as the changes):
#   * quality_logit gained the integer-value weights guard (r13
#     ADVICE — key-set was checked, value types were not; float
#     milli weights would silently truncate under the bigint cast).
#     Entries riding the kernel IN the r14 window re-row post-change
#     by construction (quality_logit, quality_classifier_scores,
#     quality_select_grouped); quality_select_top rides it through
#     sampling.quality_select_top_grouped's quality_logit call and
#     its r13 row predates the change -> PROMOTED into the r15
#     window, costing slip #22 fuzzy_name_match (r3/r6/r9/r12;
#     fuzzy_lookup_edit_distance carries an r14 row over the same
#     edit-distance kernel) from the named next-in-line order. The
#     streaming quality scorer also rides quality_logit but has no
#     corpus entry — it is pinned streaming == batch by
#     tests/test_streaming.py every session.
#   * rebuild_ivf_index gained the recover_staged entry call (r13
#     ADVICE). ann_ivf_persisted covers the save/load/rebuild
#     surface and is IN the r14 window (post-change row this round);
#     no promotion.
# r14 REGISTRATION (pacing: judge-brief-driven, one this round):
# #172 quality_ngram_scores (r13 VERDICT next-round #4 — the
# hashed-n-gram quality classifier: fit_quality_classifier_ngrams /
# score_with_ngram_classifier with the committed
# TRAINED_NGRAM_QUALITY_WEIGHTS; exact integer oracle on the apply
# side, NumPy-mirror + hashed≡exact property oracles on the
# fit/hash side in tests/test_ngram_classifier.py). Registered
# after position 50, never-rowed, first in line for r15 by
# construction — costing slip #23 hypertable_rollup (r3/r6/r9/r12;
# grouping_sets_revenue carries an r14 row over the same rollup
# surface) from the named next-in-line order.
#
# None of r14's twenty-three slips may slip again in r15. Next in
# line for further extra slips forced by r14 registrations or
# promotions (same criteria, in order): mixture_interleave
# (r3/r6/r9/r12; temperature_mixture carries an r13 row over the
# same mixture kernel), then range_join_weeks (r3/r6/r9/r12;
# rolling_range_avg carries an r13 row over the same range-condition
# join family). r16 FEASIBILITY: N at the r15 close >= 172 -> >= 22
# steady-state slips from the 50 r13-rowed entries; of those, only
# quality_classifier_scores carries a single row (not eligible); the
# rest carry >= 3 greens — comfortable. The binding constraint stays
# the honesty of the twin rationales, not the count.

#: The r13 window, PRE-COMPOSED from the policy above (the nineteen
#: r12 slips lead, then the round's never-rowed registration #170 and
#: the bm25_search_persisted code-change promotion, then the 50
#: r10-rowed entries minus the twenty-one designated slips — exactly
#: 50). Next round's composer sets ``FIRST_50 = R13_FIRST_50_PLAN``
#: (verbatim or with the promotions the policy allows);
#: ``tests/test_driver_window`` pins the structural invariants and
#: ``tools/window_audit.py`` exempts the at-bound handoff through
#: this plan.
R13_FIRST_50_PLAN = (
    # nineteen r12-slipped r9-rowed entries (may not slip twice)
    "set_except_all",
    "set_intersect_all",
    "not_exists_customers",
    "exists_subquery_orders",
    "in_subquery_big_orders",
    "ann_bruteforce_topk",
    "multimodal_decode",
    "multimodal_frame_sample",
    "multimodal_audio_windows",
    "doc_fingerprint",
    "token_counting",
    "doc_chunking",
    "funnel_conversion",
    "tfidf_top_terms",
    "rolling_range_avg",
    "topk_unshipped_revenue",
    "session_stats",
    "zscore_outliers",
    "gap_fill_locf",
    # first hard row for the r12 registration #170
    "importance_model_report",
    # r12 code-change promotion (save/load_text_index staging)
    "bm25_search_persisted",
    # 29 of the 50 r10-rowed entries (twenty-one designated slips —
    # see the composer note above)
    "asof_join_grouped_pricelist",
    "asof_join_pricelist",
    "basket_affinity",
    "blocking_recall",
    "blocking_selectivity",
    "bucket_join_selectivity",
    "cohort_ltv",
    "corpus_health_report",
    "curation_pipeline",
    "dedup_keep_best",
    "dedup_lines",
    "dedup_repeated_spans",
    "dedup_simhash",
    "doc_sequence_packing",
    "embedding_centroids",
    "fuzzy_join_edit_distance",
    "hybrid_retrieval_rrf",
    "ivf_recall_audit",
    "join_composite_key",
    "language_id",
    "quality_select_top",
    "rfm_segmentation",
    "semantic_outliers",
    "source_lexical_diversity",
    "source_overlap_matrix",
    "table_drift_report",
    "temperature_mixture",
    "topk_rank_ties",
    "window_cume_dist",
)

#: The r14 window, PRE-COMPOSED from the r14 composer note above (the
#: twenty-one r13 slips lead, then the never-rowed #171 registration
#: and the importance_model_persisted + quality_select_grouped
#: code-change promotions, then the 26 r11-rowed entries retained
#: after the twenty-three designated slips — exactly 50). Next round's
#: composer sets ``FIRST_50 = R14_FIRST_50_PLAN`` (verbatim or with
#: the promotions the policy allows); ``tests/test_driver_window``
#: pins the structural invariants and ``tools/window_audit.py``
#: exempts the at-bound handoff through this plan.
R14_FIRST_50_PLAN = (
    # twenty-one r13-slipped r10-rowed entries (may not slip twice)
    "dedup_ngram_jaccard_capped",
    "dedup_clusters_star",
    "dedup_minhash_lsh",
    "dedup_minhash_incremental",
    "embedding_normalize",
    "embedding_truncate",
    "embedding_quantize",
    "unigram_surprisal",
    "gopher_quality_filter",
    "quality_logit",
    "bm25_topk",
    "session_funnel",
    "rolling_active_users",
    "stats_correlation",
    "user_paths",
    "multimodal_features",
    "leakage_safe_split",
    "epoch_shuffle",
    "table_profile",
    "full_outer_join",
    "union_by_name_missing",
    # first hard row for the r13 registration #171
    "quality_classifier_scores",
    # r13 code-change promotions (atomic scores+stats pair staging;
    # the threshold engine's fitted-weights parameter)
    "importance_model_persisted",
    "quality_select_grouped",
    # 26 of the 49 r11-rowed entries (twenty-three designated slips —
    # see the composer note above; bm25_search_persisted re-rows in
    # r13)
    "ann_ivf_persisted",
    "approx_frequent_items_exact",
    "asof_join_forward",
    "asof_join_tolerance",
    "cleanse_reject_routing",
    "dedup_containment",
    "dedup_exact_incremental",
    "dedup_jaccard_prefix",
    "dense_cube_crossjoin",
    "filter_projection",
    "fuzzy_join_minhash",
    "fuzzy_lookup_edit_distance",
    "grouping_sets_revenue",
    "join_multiway",
    "jsonl_roundtrip",
    "knn_label_vote",
    "location_hierarchy",
    "ntile_buckets",
    "pricing_summary",
    "sliding_window_rate",
    "streaming_dedup_batch_contract",
    "topk_global_sort",
    "unpivot_lineitem_metrics",
    "weighted_sample",
    "window_frame_first_last",
    "window_top1_per_group",
)
#: The r15 window, PRE-COMPOSED from the r15 composer note above (the
#: twenty-three r14 slips lead, then the never-rowed #172 registration
#: and the quality_select_top code-change promotion, then the 25
#: r12-rowed entries retained after the twenty-three designated
#: slips — exactly 50). Next round's composer sets ``FIRST_50 =
#: R15_FIRST_50_PLAN`` (verbatim or with the promotions the policy
#: allows); ``tests/test_driver_window`` pins the structural
#: invariants and ``tools/window_audit.py`` exempts the at-bound
#: handoff through this plan.
R15_FIRST_50_PLAN = (
    # twenty-three r14-slipped r11-rowed entries (may not slip twice)
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "dedup_exact",
    "dedup_embedding_cosine",
    "sessionize",
    "set_union",
    "train_test_split",
    "approx_sketches",
    "tumbling_window_agg",
    "date_functions",
    "rollup_revenue",
    "cube_quantity",
    "pivot_status_by_year",
    "topk_revenue_orders",
    "group_having",
    "left_join_coalesce",
    "window_dense_rank",
    "window_lag_gap",
    "window_running_total",
    "source_dup_ratio",
    "case_when_classify",
    "json_props_extract",
    "percentile_quantity",
    # first hard row for the r14 registration #172
    "quality_ngram_scores",
    # r14 code-change promotion (quality_logit's integer-value
    # weights guard; quality_select_top rides the kernel through the
    # grouped threshold engine and its r13 row predates the change)
    "quality_select_top",
    # 25 of the 48 r12-rowed cohort entries (twenty-three designated
    # slips — see the composer note above; importance_model_persisted
    # and quality_select_grouped re-row in r14 by promotion)
    "dedup_canonical_text",
    "dedup_containment_capped",
    "dedup_edit_distance",
    "fuzzy_join_minhash_exact",
    "importance_resample",
    "importance_resample_grouped",
    "importance_weights",
    "mixture_interleave",
    "ngram_novelty",
    "phrase_search",
    "range_join_weeks",
    "repetition_quality",
    "retention_cohorts",
    "scalar_subquery_share",
    "semantic_dedup",
    "sketch_union_rollup",
    "skew_salted_join",
    "snapshot_upsert",
    "stratified_sample",
    "text_quality",
    "token_budget_select",
    "token_frequencies",
    "trend_slope_per_user",
    "value_histogram",
    "weighted_sample_grouped",
)

FIRST_50 = R14_FIRST_50_PLAN


def _reorder_for_driver() -> None:
    names = list(QUERIES)
    missing = [n for n in FIRST_50 if n not in QUERIES]
    assert not missing, f"FIRST_50 references unknown queries: {missing}"
    assert len(FIRST_50) == len(set(FIRST_50)) == 50
    order = list(FIRST_50) + [n for n in names if n not in set(FIRST_50)]
    for mapping in (QUERIES, ORACLE):
        snapshot = {n: mapping[n] for n in order if n in mapping}
        mapping.clear()
        mapping.update(snapshot)


_reorder_for_driver()
