"""``dashboard_mix``: one closed-loop client requesting dashboard tiles
over a star loaded once — catalog OLAP/MOLAP/join-study/index-study
entries and seeded DAX-measure tiles (``operators.measures.evaluate``).

Each cycle is a seeded permutation of every catalog tile plus one
measure tile per shape in ``SHAPES`` with freshly drawn filter values,
so every run sees the same tile mix and the seed moves only the order,
the filter values and the data.
"""

from __future__ import annotations

from common import Op
import gen
import oracle

from pyspark.sql import functions as F

from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.operators import measures
from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.plans import get_catalog
from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.sources.star import (
    STAR_CTE_SQL,
    StarSchema,
)

SIZES = gen.StarSizes(customers=1500, suppliers=100, parts=2000, orders=15000)

#: catalog tiles: OLAP, MOLAP, join-algorithm study, index study
TILES = (
    "olap_monthly_revenue_by_country",
    "molap_month_country",
    "join_study_broadcast_hash",
    "range_filter_sum",
)
MEASURES = list(measures.SCALAR_MEASURES)
#: one measure tile per shape per cycle: (group-by set, category filter?);
#: the seed draws the filter values, never the shape, so every seed
#: runs the same plan shapes
SHAPES = (([], True), (["country"], False), (["year", "month"], True), (["category"], False))
WINDOW_MONTHS = 24

_MEASURE_SQL = {
    "total_revenue": "CAST(ROUND(SUM(totalamount), 2) AS DOUBLE)",
    "total_orders": "COUNT(DISTINCT invoiceid)",
    "arpo": "CASE WHEN COUNT(DISTINCT invoiceid) <> 0 THEN "
            "CAST(ROUND(SUM(totalamount), 2) AS DOUBLE) / COUNT(DISTINCT invoiceid) END",
    "total_quantity": "CAST(SUM(quantity) AS BIGINT)",
    "arpu": "CASE WHEN CAST(SUM(quantity) AS BIGINT) <> 0 THEN "
            "CAST(ROUND(SUM(totalamount), 2) AS DOUBLE) / CAST(SUM(quantity) AS BIGINT) END",
    "revenue_per_customer": "CASE WHEN COUNT(DISTINCT customer_key) <> 0 THEN "
            "CAST(ROUND(SUM(totalamount), 2) AS DOUBLE) / COUNT(DISTINCT customer_key) END",
    "high_value_sales": "COUNT(CASE WHEN totalamount > 1000 THEN 1 END)",
    "avg_order_size_per_customer": "CASE WHEN COUNT(DISTINCT customer_key) <> 0 THEN "
            "CAST(SUM(quantity) AS DOUBLE) / COUNT(DISTINCT customer_key) END",
}


class Dashboard:
    NAME = "dashboard_mix"

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.t = ctx.tracer
        self.expected: dict[str, tuple] = {}

    # -- setup ---------------------------------------------------------------
    def setup(self) -> None:
        ctx = self.ctx
        rows = gen.write_star(ctx.seed, SIZES, ctx.data_dir)
        ctx.sizes[self.NAME] = {"input_rows": rows, "catalog_tiles": len(TILES),
                               "measure_tiles_per_cycle": len(SHAPES)}
        star = StarSchema(self.spark, ctx.data_dir)
        with self.t.span("sources.star_load"):
            for name in ("dim_customer", "dim_product", "dim_date", "fact_sales"):
                getattr(star, name).write.format("noop").mode("overwrite").save()
        self.catalog = get_catalog()
        self.base = (
            star.fact_sales
            .join(F.broadcast(star.dim_customer.select("customer_key", "country")), "customer_key")
            .join(F.broadcast(star.dim_product.select("product_key", "category")), "product_key")
            .join(F.broadcast(star.dim_date.select("date_key", "year", "month")), "date_key")
        )
        self.con = oracle.connect(ctx.data_dir)
        self.countries = [r[0] for r in self.con.execute("SELECT n_name FROM nation").fetchall()]
        self.categories = sorted(gen.PART_TYPES)
        # warm pass: every catalog tile once (plan caches, codegen), its
        # rows checked against the entry's DuckDB oracle
        for name in TILES:
            cols, rows = self._tile(name)
            q = self.catalog[name]
            du_cols, du_rows = oracle.run_sql(self.con, q.oracle)
            diff = oracle.compare(cols, rows, du_cols, du_rows)
            if ctx.check(f"oracle:{name}", diff is None and len(rows) > 0,
                         diff or "0 rows (vacuous)"):
                self.expected[name] = oracle.canonical(cols, rows)
        c = self._context(gen.rng(ctx.seed, 101), SHAPES[0])
        diff = oracle.compare(*self._measure(c), *self._measure_oracle(c))
        ctx.check("oracle:measures", diff is None, diff or "")

    # -- operations ----------------------------------------------------------
    def _tile(self, name: str):
        with self.t.span("plans.build"):
            df = self.catalog[name].fn(self.spark, self.ctx.data_dir)
        with self.t.span("plans.exec"):
            rows = df.collect()
        return df.columns, rows

    def _context(self, r, shape) -> dict:
        group, by_category = shape
        start = int(r.integers(0, 78 - WINDOW_MONTHS))
        ym = lambda m: (1995 + m // 12) * 100 + m % 12 + 1  # noqa: E731
        return {
            "countries": sorted(r.choice(self.countries, 3, replace=False).tolist()),
            "ym": (ym(start), ym(start + WINDOW_MONTHS - 1)),
            "category": str(r.choice(self.categories)) if by_category else None,
            "group": group,
        }

    def _measure(self, c: dict):
        filters = [(F.col("year") * 100 + F.col("month")).between(*c["ym"])]
        if c["countries"]:
            filters.append(F.col("country").isin(c["countries"]))
        if c["category"]:
            filters.append(F.col("category") == c["category"])
        with self.t.span("measures.evaluate"):
            df = measures.evaluate(self.base, MEASURES, c["group"], filters)
            rows = df.collect()
        return df.columns, rows

    def _measure_oracle(self, c: dict):
        where = [f"d.year * 100 + d.month BETWEEN {c['ym'][0]} AND {c['ym'][1]}"]
        if c["countries"]:
            where.append("c.country IN (" + ", ".join(f"'{x}'" for x in c["countries"]) + ")")
        if c["category"]:
            where.append(f"p.category = '{c['category']}'")
        group = [{"country": "c.country", "year": "d.year", "month": "d.month",
                  "category": "p.category"}[g] for g in c["group"]]
        sel = [f"{g} AS {g.split('.')[1]}" for g in group] + [
            f"{_MEASURE_SQL[m]} AS {m}" for m in MEASURES
        ]
        sql = (
            f"WITH {STAR_CTE_SQL}\nSELECT {', '.join(sel)} FROM fact_sales f "
            "JOIN dim_customer c USING (customer_key) "
            "JOIN dim_product p USING (product_key) "
            "JOIN dim_date d USING (date_key) "
            f"WHERE {' AND '.join(where)}"
            + (f" GROUP BY {', '.join(group)}" if group else "")
        )
        return oracle.run_sql(self.con, sql)

    def cycle(self, k: int) -> list[Op]:
        r = gen.rng(self.ctx.seed, 100, k)
        ops = []
        for name in TILES:
            ops.append(Op(f"tile:{name}", "query", self._tile_op(name),
                          self._tile_check(name)))
        for j, shape in enumerate(SHAPES):
            c = self._context(gen.rng(self.ctx.seed, 101, k, j), shape)
            ops.append(Op("tile:measures", "query", self._measure_op(c),
                          self._measure_check(c)))
        return [ops[i] for i in r.permutation(len(ops))]

    def _tile_op(self, name):
        def fn():
            self._last = self._tile(name)
            return 0
        return fn

    def _tile_check(self, name):
        def check(_):
            cols, rows = self._last
            if name in self.expected and oracle.canonical(cols, rows) != self.expected[name]:
                raise AssertionError(f"{name} result changed between executions")
        return check

    def _measure_op(self, c):
        def fn():
            self._last = self._measure(c)
            return 0
        return fn

    def _measure_check(self, c):
        def check(_):
            cols, rows = self._last
            diff = oracle.compare(cols, rows, *self._measure_oracle(c))
            if diff:
                raise AssertionError(f"measures {c}: {diff}")
        return check

    # -- end of run ----------------------------------------------------------
    def finish(self) -> None:
        self.con.close()

    def layer_metrics(self) -> dict:
        t = self.t
        return {
            "sources.star_load_s": t.layer("sources.star_load", timed_only=False)[0],
            "plans.build_ms": t.mean_ms("plans.build"),
            "plans.exec_ms": t.mean_ms("plans.exec"),
            "measures.evaluate_ms": t.mean_ms("measures.evaluate"),
        }
