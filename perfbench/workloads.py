"""The benchmark's workloads: closed loops of one client that call only
the package's public API and check every operation's output.

Each workload has a ``setup`` (inputs, warm-up), a ``step`` (one timed
operation plus the reads that follow it) and a ``layers`` summary for
the traced run. Output checks run outside the timed spans; a failed
check or an exception counts one failed operation.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
import statistics
import sys
import threading
import time
import traceback
from decimal import Decimal

from corpusgen import write_corpus
from salesgen import Expected, SalesGenerator, write_csv
from tracing import Span, SpanLayers, Tracer, rollup, union_s

from sales_data_warehouse_spark import (
    register_views,
    run_etl,
    run_etl_increment,
)
from sales_data_warehouse_spark.queries.corpus import ORACLE, QUERIES


class Ops:
    """Operations attempted and failed, with what went wrong."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, problems: list[str], what: str) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems += [f"{what}: {p}" for p in problems]

    def crashed(self, what: str) -> None:
        self.record([traceback.format_exc(limit=3)], what)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def _cents(value) -> int:
    return int(Decimal(value) * 100)


def check_etl(res, exp: Expected) -> list[str]:
    """Compare a ``run_etl`` result with the generator's expectations."""
    from pyspark.sql import functions as F

    got = {
        "landing": res.landing.count(),
        "invalid": dict(res.invalid.groupBy("reject_reason").count().collect()),
        "cleansed": res.cleansed.count(),
        "days": res.time_dimension.count(),
        "locations": res.location_dimension.count(),
        "products": res.product_dimension.count(),
    }
    fact = res.fact.agg(
        F.count(F.lit(1)), F.sum("quantity_ordered"),
        F.sum(F.col("quantity_ordered") * F.col("price_each")),
    ).first()
    got["fact"], got["quantity"], revenue = fact[0], fact[1], fact[2]
    got["revenue_cents"] = _cents(revenue or 0)
    want = {
        "landing": exp.landing, "invalid": exp.invalid,
        "cleansed": exp.cleansed, "days": exp.days,
        "locations": exp.locations, "products": exp.products,
        "fact": exp.cleansed, "quantity": exp.quantity,
        "revenue_cents": exp.revenue_cents,
    }
    return [f"{k} {got[k]} != {v}" for k, v in want.items() if got[k] != v]


#: The star-schema reads that follow every drop, READ_ROUNDS times over
#: (a read takes a tenth of a drop; one round alone times it too coarsely).
READ_ROUNDS = 2
READS = {
    "state_rollup": """
        SELECT state_name, COUNT(*) AS lines, SUM(quantity_ordered) AS qty,
               SUM(quantity_ordered * price_each) AS revenue
        FROM fact_table GROUP BY state_name""",
    "latest_day_revenue": """
        SELECT f.product, SUM(f.quantity_ordered * f.price_each) AS revenue
        FROM fact_table f JOIN time_dimension t ON f.time_id = t.time_id
        WHERE t.time_desc = (SELECT MAX(time_desc) FROM time_dimension)
        GROUP BY f.product""",
    "active_price_list": """
        SELECT product_name, price_each FROM product_dimension
        WHERE active_status = 'Y'""",
    "top_cities": """
        SELECT l.city_name, l.state_name, SUM(f.quantity_ordered) AS qty
        FROM fact_table f JOIN location_dimension l
          ON f.location_id = l.location_id
        GROUP BY l.city_name, l.state_name ORDER BY qty DESC LIMIT 5""",
}


class LiveWarehouse:
    """A warehouse built once, then fed day-sized drops, each followed by
    rounds of the four reads. The timed operation is one drop: from
    ``run_etl_increment`` until its views are registered."""

    name = "live_warehouse"
    #: the base build warms ingest and cleanse; the merges are still cold
    warmup_steps = 1
    #: a timed loop takes at least this many steps (a step is ~10 s)
    min_steps = 2

    def __init__(self, work: str, seed: int, scale: float, ops: Ops):
        self.work, self.seed, self.ops = work, seed, ops
        # the base build is set-up, not the timed operation: with a
        # 200k-row base set-up took 43-57 s, and a 50k-row base took
        # 18.5 s to build against 14 s for a drop-sized one, time a
        # run's budget cannot spare; drops stay day-sized (16k rows),
        # as smaller ones time less steadily
        self.base_rows = max(400, int(16_000 * scale))
        self.drop_rows = max(100, int(16_000 * scale))
        self.new_addresses = max(2, int(100 * scale))
        self.gen = SalesGenerator(seed, addresses=max(40, int(9_000 * scale)))
        self.wh = os.path.join(work, "warehouse")
        self.drops = 0
        self.input_bytes = 0
        self.lines = self.qty = self.revenue_cents = 0
        self.base_span: Span | None = None
        self.fact_files = 0

    def describe(self) -> str:
        return (f"base {self.base_rows} rows, drops of {self.drop_rows} rows "
                f"+{self.new_addresses} addresses, price change every 3rd")

    def setup(self, spark, tracer: Tracer) -> None:
        with tracer.span("setup.generate"):
            lines, exp = self.gen.month(self.base_rows, dt.date(2019, 1, 1))
            self.base_csv = os.path.join(self.work, "base.csv")
            self.input_bytes += write_csv(self.base_csv, lines)
        self.base_exp = exp
        self.day = exp.last_day + dt.timedelta(days=1)
        with tracer.span("etl.run_etl") as self.base_span:
            res = run_etl(spark, self.base_csv, output_dir=self.wh)
        with tracer.span("check"):
            self.ops.record(check_etl(res, exp), "run_etl base")
            register_views(spark, res)
        self.lines, self.qty = exp.cleansed, exp.quantity
        self.revenue_cents = exp.revenue_cents

    def resume(self, spark) -> None:
        """Re-register the warehouse's views in a new session."""
        for table in ("time_dimension", "location_dimension",
                      "product_dimension"):
            spark.read.parquet(f"{self.wh}/{table}") \
                .createOrReplaceTempView(table)
        spark.read.parquet(f"{self.wh}/fact").createOrReplaceTempView(
            "fact_table")

    def step(self, spark, tracer: Tracer) -> tuple[Span | None, dict[str, list[Span]]]:
        i = self.drops
        self.drops += 1
        lines, exp = self.gen.drop(self.drop_rows, self.day,
                                   self.new_addresses, i % 3 == 0)
        path = os.path.join(self.work, f"drop_{i:04d}.csv")
        self.input_bytes += write_csv(path, lines)
        self.day += dt.timedelta(days=1)
        self.lines += exp.cleansed
        self.qty += exp.quantity
        self.revenue_cents += exp.revenue_cents
        op = None
        try:
            with tracer.span("etl.run_etl_increment") as op:
                res = run_etl_increment(spark, path, self.wh)
                register_views(spark, res)
            self.ops.record([], f"increment {i}")
        except Exception:  # noqa: BLE001 — one failed op, keep the loop
            self.ops.crashed(f"increment {i}")
            op = None
        self.fact_files = sum(
            f.endswith(".parquet")
            for _, _, files in os.walk(f"{self.wh}/fact") for f in files)
        reads: dict[str, list[Span]] = {}
        for _ in range(READ_ROUNDS):
            for name, sql in READS.items():
                try:
                    with tracer.span(f"queries.read.{name}") as s:
                        rows = spark.sql(sql).collect()
                    reads.setdefault(name, []).append(s)
                    self.ops.record(self._check_read(name, rows, exp),
                                    f"read {name} after drop {i}")
                except Exception:  # noqa: BLE001
                    self.ops.crashed(f"read {name} after drop {i}")
        return op, reads

    def _check_read(self, name: str, rows, exp: Expected) -> list[str]:
        if name == "state_rollup":
            got = (sum(r["lines"] for r in rows), sum(r["qty"] for r in rows),
                   sum(_cents(r["revenue"]) for r in rows))
            want = (self.lines, self.qty, self.revenue_cents)
        elif name == "latest_day_revenue":
            got = sum(_cents(r["revenue"]) for r in rows)
            want = exp.revenue_cents
        elif name == "active_price_list":
            got = {r["product_name"]: _cents(r["price_each"]) for r in rows}
            want = self.gen.active_prices()
        else:
            qty = [r["qty"] for r in rows]
            got = (len(qty), qty == sorted(qty, reverse=True))
            want = (5, True)
        return [] if got == want else [f"got {got}, want {want}"]

    def stored_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(self.wh) for f in files
            if f.endswith(".parquet"))

    def operator_pass(self, spark) -> dict[str, float]:
        """Driver-side build time of each ETL operator, called layer by
        layer over the base month (median of three passes), plus the
        cleanse's reject ratio and the dense cube's fill ratio; the cube
        is checked to hold days x product versions x locations rows and
        the month's quantity."""
        from pyspark.sql import functions as F

        from sales_data_warehouse_spark.operators.cleansing import cleanse
        from sales_data_warehouse_spark.operators.fact import (
            build_fact, dense_fact)
        from sales_data_warehouse_spark.operators.location_dimension import (
            build_location_dimension)
        from sales_data_warehouse_spark.operators.product_dimension import (
            build_product_dimension)
        from sales_data_warehouse_spark.operators.time_dimension import (
            build_time_dimension)
        from sales_data_warehouse_spark.sources.csv_ingest import ingest_csv

        times: dict[str, list[float]] = {}

        def timed(name, fn, *args):
            t0 = time.perf_counter()
            out = fn(*args)
            times.setdefault(name, []).append(time.perf_counter() - t0)
            return out

        for _ in range(3):
            landing = timed("ingest_csv", ingest_csv, spark, self.base_csv)
            cleansed, invalid = timed("cleanse", cleanse, landing)
            td = timed("build_time_dimension", build_time_dimension, cleansed)
            ld = timed("build_location_dimension", build_location_dimension,
                       cleansed)
            pd = timed("build_product_dimension", build_product_dimension,
                       cleansed)
            fact = timed("build_fact", build_fact, cleansed, pd, ld, td)
            dense = timed("dense_fact", dense_fact, fact, pd, ld, td)
        out = {f"operators.{k}.build_ms": median(v) * 1000
               for k, v in times.items()}
        out["operators.cleanse.reject_ratio"] = invalid.count() / landing.count()
        cells, filled, qty = dense.agg(
            F.count(F.lit(1)),
            F.count(F.when(F.col("quantity_ordered") > 0, 1)),
            F.sum("quantity_ordered")).first()
        want = (self.base_exp.dense, self.base_exp.quantity)
        self.ops.record([] if (cells, qty) == want else
                        [f"{cells} rows, quantity {qty}; want {want}"],
                        "dense_fact")
        out["operators.dense_fact.fill_ratio"] = filled / cells
        return out

    def layers(self, tracer: Tracer, layers: dict[int, SpanLayers],
               cores: int) -> dict[str, float]:
        spans = tracer.spans
        out: dict[str, float] = {}
        base = rollup(spans, layers, self.base_span)
        t = base.totals
        wall = self.base_span.wall_s
        out.update({
            "etl.run_etl.wall_s": wall,
            "etl.run_etl.jobs": len(base.jobs),
            "etl.run_etl.tasks": t.tasks,
            "etl.run_etl.gc_ms": t.gc_ms,
            "etl.run_etl.spill_bytes": t.spill_bytes,
            "etl.run_etl.slot_idle_frac": 1 - t.run_ms / 1000 / (wall * cores),
        })
        stage_wall = 0.0
        for table in ("cleansed", "invalid", "time_dimension",
                      "location_dimension", "product_dimension", "fact"):
            jobs = [j for j in base.jobs
                    if j.description == f"etl: write {table}"]
            w = union_s([(j.submit_ms / 1000, j.end_ms / 1000) for j in jobs],
                         float("-inf"), float("inf"))
            stage_wall += w
            p = f"etl.stage.{table}."
            out[p + "wall_s"] = w
            out[p + "executor_cpu_ms"] = sum(j.totals.cpu_ms for j in jobs)
            out[p + "shuffle_write_bytes"] = sum(
                j.totals.shuffle_write_bytes for j in jobs)
            out[p + "bytes_written"] = sum(j.totals.bytes_written for j in jobs)
        out["etl.run_etl.overlap"] = stage_wall / wall

        incs = [s for s in spans if s.name == "etl.run_etl_increment"
                and s.id >= tracer.timed_from]
        per_inc = [(s, rollup(spans, layers, s)) for s in incs]
        if per_inc:
            def med(f):
                return median([f(s, r) for s, r in per_inc])
            p = "etl.run_etl_increment."
            out[p + "wall_s"] = med(lambda s, r: s.wall_s)
            out[p + "jobs"] = med(lambda s, r: len(r.jobs))
            out[p + "tasks"] = med(lambda s, r: r.totals.tasks)
            out[p + "executor_cpu_ms"] = med(lambda s, r: r.totals.cpu_ms)
            out[p + "slot_idle_frac"] = med(
                lambda s, r: 1 - r.totals.run_ms / 1000 / (s.wall_s * cores))
            out[p + "driver_gap_ms"] = med(
                lambda s, r: (s.wall_s - r.job_union_s) * 1000)
        for name in READS:
            rs = [s for s in spans if s.name == f"queries.read.{name}"
                  and s.id >= tracer.timed_from]
            if rs:
                out[f"queries.read.{name}.wall_ms"] = median(
                    [s.wall_s for s in rs]) * 1000
                out[f"queries.read.{name}.jobs"] = median(
                    [len(rollup(spans, layers, s).jobs) for s in rs])
        out["sources.fact_files"] = self.fact_files
        out["sources.stored_bytes_per_input_byte"] = (
            self.stored_bytes() / self.input_bytes)
        return out


#: The corpus queries a pass runs: the targets of the as-of, join-routing
#: and n-gram work on the roadmap, plus a scan-aggregate and a window.
CORPUS = [
    "asof_join_pricelist", "join_multiway", "dedup_ngram_jaccard",
    "decontaminate_ngrams", "tfidf_top_terms", "sessionize",
    "pricing_summary", "window_top1_per_group",
]


def _norm(v) -> str:
    # type-tagged, so a DECIMAL and a DOUBLE printing alike still differ
    if v is None:
        return "\0NULL"
    if isinstance(v, float):
        return "float:NaN" if math.isnan(v) else f"float:{v!r}"
    if isinstance(v, dt.datetime):
        return f"ts:{v.replace(tzinfo=None).isoformat()}"
    if isinstance(v, dt.date):
        return f"date:{v.isoformat()}"
    return f"{type(v).__name__}:{v}"


def canonical(cols: list[str], rows) -> list[tuple]:
    """Rows as a sorted multiset of normalized values, columns by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


class CorpusQueries:
    """Passes of eight corpus queries over generated TPC-H-ish tables,
    each written to the noop sink. The timed operation is one pass."""

    name = "corpus_queries"
    #: after the oracle-checked collect pass the noop writes are cold
    #: (a second warm-up pass steadied the timed ones a little, but a run
    #: cannot spare its time)
    warmup_steps = 1
    #: a timed loop takes at least this many passes (a pass is ~5 s)
    min_steps = 3

    def __init__(self, work: str, seed: int, scale: float, ops: Ops):
        self.work, self.seed, self.ops = work, seed, ops
        self.sf = 0.02 * scale
        self.dir = os.path.join(work, "corpus")
        self.rng = random.Random(seed)

    def describe(self) -> str:
        return f"sf {self.sf:g} ({int(6_000_000 * self.sf)} lineitems)"

    def setup(self, spark, tracer: Tracer) -> None:
        with tracer.span("setup.generate"):
            self.rows = write_corpus(self.dir, self.seed, self.sf)
        oracle: dict[str, tuple] = {}
        worker = threading.Thread(target=self._oracle, args=(oracle,))
        worker.start()
        got = {}
        try:
            for q in self._order():
                with tracer.span(f"queries.{q}"):
                    df = QUERIES[q](spark, self.dir)
                    got[q] = (df.columns, df.collect())
        finally:
            worker.join()
        for q in CORPUS:
            if q not in oracle or q not in got:
                self.ops.record([f"no result ({oracle.get(q, 'spark failed')})"],
                                f"oracle {q}")
                continue
            want_cols, want_rows = oracle[q]
            problems = []
            if sorted(got[q][0]) != sorted(want_cols):
                problems.append(f"columns {got[q][0]} != {want_cols}")
            elif canonical(*got[q]) != canonical(want_cols, want_rows):
                problems.append(
                    f"{len(got[q][1])} rows differ from the oracle's "
                    f"{len(want_rows)}")
            self.ops.record(problems, f"oracle {q}")

    def _oracle(self, out: dict) -> None:
        """DuckDB answers for every query, on one thread so the Spark
        warm-up beside it keeps the other cores."""
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET threads = 1")
            for t in self.rows:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.dir}/{t}.parquet'")
            for q in CORPUS:
                res = con.execute(ORACLE[q])
                out[q] = ([d[0] for d in res.description], res.fetchall())
        except Exception as exc:  # noqa: BLE001 — reported per query
            print(f"oracle failed: {exc!r}", file=sys.stderr)
        finally:
            con.close()

    def _order(self) -> list[str]:
        order = list(CORPUS)
        self.rng.shuffle(order)
        return order

    def resume(self, spark) -> None:
        pass

    def step(self, spark, tracer: Tracer) -> tuple[Span | None, dict[str, list[Span]]]:
        lat = {}
        with tracer.span("pass") as p:
            for q in self._order():
                try:
                    with tracer.span(f"queries.{q}") as s:
                        with tracer.span("build"):
                            df = QUERIES[q](spark, self.dir)
                        with tracer.span("exec"):
                            df.write.format("noop").mode("overwrite").save()
                    lat[q] = [s]
                    # the rows were checked against the oracle in setup
                    self.ops.record([], f"query {q}")
                except Exception:  # noqa: BLE001
                    self.ops.crashed(f"query {q}")
        return p, lat

    def layers(self, tracer: Tracer, layers: dict[int, SpanLayers],
               cores: int) -> dict[str, float]:
        spans = tracer.spans
        passes = {s.id for s in spans
                  if s.name == "pass" and s.id >= tracer.timed_from}
        out: dict[str, float] = {}
        for q in CORPUS:
            runs = [s for s in spans
                    if s.name == f"queries.{q}" and s.parent in passes]
            build, exe, jobs, cpu, shuffle = [], [], [], [], []
            for s in runs:
                parts = {k.name: k for k in spans if k.parent == s.id}
                build.append(parts["build"].wall_s * 1000)
                exe.append(parts["exec"].wall_s * 1000)
                r = rollup(spans, layers, s)
                jobs.append(len(r.jobs))
                cpu.append(r.totals.cpu_ms)
                shuffle.append(r.totals.shuffle_write_bytes)
            p = f"queries.{q}."
            out[p + "build_ms"] = median(build)
            out[p + "exec_ms"] = median(exe)
            out[p + "jobs"] = median(jobs)
            out[p + "executor_cpu_ms"] = median(cpu)
            out[p + "shuffle_write_bytes"] = median(shuffle)
        return out


WORKLOADS = {w.name: w for w in (LiveWarehouse, CorpusQueries)}
