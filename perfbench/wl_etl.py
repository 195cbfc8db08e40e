"""``etl_ingest``: one closed-loop client loading dirty staging drops
through the cleaning pipeline — ``sources.ingest.read_staging_csv`` →
``operators.cleaning`` (products, sales, dim_date, fact + reject log) →
parquet writes of the conformed fact, the reject log and dim_date.

Drops are generated in setup from the seeded star inputs; each timed
operation loads the next one into a fresh output directory. Outputs are
checked against a DuckDB twin of the pipeline over the same CSV files
and against the generator's own count of the dirt it injected.
"""

from __future__ import annotations

import os
import shutil
from decimal import Decimal

import pyarrow.compute as pc
import pyarrow.parquet as pq

from common import Op, du
import gen
import oracle

from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.operators import cleaning
from e_commerce_data_warehouse_power_bi_analytics_dashboard_spark.sources import ingest

SIZES = gen.StarSizes(customers=1500, suppliers=100, parts=2000, orders=15000)
DROPS = 2
DROP_ROWS = 10000
WARM_ROWS = 1000

_MONEY = "regexp_replace(trim({c}), '[^0-9.-]', '', 'g')"
_PRICE = (
    f"CASE WHEN regexp_full_match({_MONEY}, '^-?[0-9]+([.][0-9]+)?$') "
    f"THEN TRY_CAST({_MONEY} AS DECIMAL(12,2)) END"
)
_INT = "regexp_replace(trim(quantity), '[^0-9-]', '', 'g')"

#: the cleaning pipeline re-derived in DuckDB SQL from the reference
#: semantics (no shared code with operators/cleaning.py)
TWIN_SQL = """
WITH stg_p AS (SELECT * FROM read_csv('{d}/products.csv', header=true, all_varchar=true,
                                       nullstr='\\N', quote='"', escape='"', delim=',')),
stg_s AS (SELECT * FROM read_csv('{d}/sales.csv', header=true, all_varchar=true,
                                  nullstr='\\N', quote='"', escape='"', delim=',')),
p0 AS (
  SELECT DISTINCT trim(stockcode) AS stockcode,
         lower(NULLIF(trim(description), '')) AS description,
         lower(NULLIF(trim(category), '')) AS category,
         lower(NULLIF(trim(brand), '')) AS brand,
         {price} AS price_raw
  FROM stg_p WHERE coalesce(trim(stockcode), '') <> ''
),
med AS (SELECT floor(quantile_cont(CAST(price_raw AS DOUBLE), 0.5) * 100) / 100.0 AS m FROM p0),
p AS (SELECT stockcode, coalesce(CAST(price_raw AS DOUBLE), (SELECT m FROM med)) AS p_price FROM p0),
s0 AS (
  SELECT trim(invoiceid) AS invoiceid, trim(stockcode) AS stockcode,
    CASE WHEN regexp_full_match(trim(date),
              '^[0-9]{{4}}-[0-9]{{2}}-[0-9]{{2}}( [0-9]{{2}}:[0-9]{{2}}(:[0-9]{{2}})?)?$')
           THEN TRY_CAST(trim(date) AS TIMESTAMP)
         WHEN regexp_full_match(trim(date),
              '^[0-9]{{2}}/[0-9]{{2}}/[0-9]{{4}}( [0-9]{{2}}:[0-9]{{2}}(:[0-9]{{2}})?)?$')
           THEN try_strptime(trim(date), '%d/%m/%Y %H:%M:%S') END AS ts,
    CASE WHEN regexp_full_match({int_q}, '^-?[0-9]+$') THEN TRY_CAST({int_q} AS INTEGER) END AS qty,
    CAST({price} AS DOUBLE) AS price,
    CAST({total} AS DECIMAL(18,2)) AS total
  FROM stg_s
  WHERE coalesce(trim(invoiceid), '') <> '' AND coalesce(trim(stockcode), '') <> ''
),
s AS (
  SELECT s0.*, p.stockcode IS NOT NULL AS hit,
    CASE WHEN s0.price IS NULL OR s0.price <= 0 THEN p.p_price ELSE s0.price END AS price_fixed
  FROM s0 LEFT JOIN p ON s0.stockcode = p.stockcode
),
f AS (
  SELECT *, CASE WHEN (total IS NULL OR total = 0) AND qty IS NOT NULL AND price_fixed IS NOT NULL
                 THEN CAST(round(qty * price_fixed, 2) AS DECIMAL(18,2)) ELSE total END AS amount
  FROM s
)
SELECT count(*) FILTER (WHERE hit) AS fact_rows,
       sum(amount) FILTER (WHERE hit) AS revenue,
       count(*) FILTER (WHERE NOT hit OR ts IS NULL OR qty IS NULL) AS rejects
FROM f
"""


def twin(con, drop_dir: str) -> tuple[int, Decimal, int]:
    sql = TWIN_SQL.format(
        d=drop_dir,
        price=_PRICE.format(c="unitprice"),
        total=_PRICE.format(c="totalamount"),
        int_q=_INT,
    )
    fact_rows, revenue, rejects = con.execute(sql).fetchone()
    return int(fact_rows), revenue or Decimal(0), int(rejects)


class EtlIngest:
    NAME = "etl_ingest"

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.t = ctx.tracer
        self.n_loads = 0
        self.bytes_in = 0
        self.bytes_out = 0
        self.rejects = 0
        self.staged = 0

    def setup(self) -> None:
        ctx = self.ctx
        star = gen.star_tables(ctx.seed, SIZES)
        con = oracle.connect(ctx.data_dir, tables=())
        self.drops, self.expect = [], []
        for i in range(DROPS):
            d = gen.write_drop(ctx.seed, i, star, DROP_ROWS, os.path.join(ctx.data_dir, f"drop{i}"))
            self.drops.append(d)
            fact_rows, revenue, rejects = twin(con, d.path)
            ctx.check(f"twin:drop{i}:rejects_vs_injected", rejects == d.expected_rejects,
                      f"duckdb {rejects} != injected {d.expected_rejects}")
            ctx.check(f"twin:drop{i}:fact_vs_injected", fact_rows == d.expected_fact_rows,
                      f"duckdb {fact_rows} != injected {d.expected_fact_rows}")
            self.expect.append((fact_rows, revenue, rejects))
        ctx.sizes[self.NAME] = {
            "drops": DROPS, "staged_rows_per_drop": [d.staged_rows for d in self.drops],
            "csv_bytes_per_drop": [d.bytes for d in self.drops],
            "dirt_rates": [{k: round(v, 4) for k, v in d.rates.items()} for d in self.drops],
        }
        # one small load before timing: plan caches and codegen warm
        warm = gen.write_drop(ctx.seed, DROPS, star, WARM_ROWS, os.path.join(ctx.data_dir, "warm"))
        exp = twin(con, warm.path)
        con.close()
        out = self._load(warm, "warm")
        got = self._outputs(out)
        ctx.check("load:warm", got == exp, f"spark {got} != duckdb {exp}")
        shutil.rmtree(out)

    def _load(self, drop: gen.Drop, tag: str) -> str:
        t, spark = self.t, self.spark
        with t.span("sources.staging_read"):
            stg_p = ingest.read_staging_csv(spark, os.path.join(drop.path, "products.csv"), gen.PRODUCT_COLS)
            stg_s = ingest.read_staging_csv(spark, os.path.join(drop.path, "sales.csv"), gen.SALES_COLS)
            stg_d = ingest.read_staging_csv(spark, os.path.join(drop.path, "date.csv"), gen.DATE_COLS)
            for df in (stg_p, stg_s, stg_d):
                t.materialize(df)
        with t.span("cleaning.clean_products"):
            products = cleaning.clean_products(stg_p)
            t.materialize(products)
        with t.span("cleaning.clean_sales"):
            sales = cleaning.clean_sales(stg_s, products)
            t.materialize(sales)
        with t.span("cleaning.build_dim_date"):
            dim_date = cleaning.build_dim_date(stg_d, sales)
            t.materialize(dim_date)
        with t.span("cleaning.build_fact"):
            fact, rejects = cleaning.build_fact_with_rejects(sales, products)
            t.materialize(fact)
            t.materialize(rejects)
        out = os.path.join(self.ctx.out_dir, f"load_{tag}")
        with t.span("etl.write"):
            fact.write.mode("error").parquet(os.path.join(out, "fact_sales"))
            rejects.write.mode("error").parquet(os.path.join(out, "load_errors"))
            dim_date.write.mode("error").parquet(os.path.join(out, "dim_date"))
        return out

    def cycle(self, k: int) -> list[Op]:
        return [self._load_op(k % DROPS, str(k))]

    def _load_op(self, i: int, tag: str) -> Op:
        drop = self.drops[i]
        state = {}

        def fn():
            state["out"] = self._load(drop, tag)

        def check(_):
            out = state["out"]
            got = self._outputs(out)
            self.n_loads += 1
            self.bytes_in += drop.bytes
            self.bytes_out += du(out)
            self.rejects += got[2]
            self.staged += drop.staged_rows
            shutil.rmtree(out)
            if got != self.expect[i]:
                raise AssertionError(f"drop{i}: spark {got} != duckdb {self.expect[i]}")
            return got[0]

        return Op("etl.load_drop", "commit", fn, check)

    def _outputs(self, out: str):
        """(fact rows, revenue, rejects) read back from the written files."""
        fact = pq.read_table(os.path.join(out, "fact_sales"), columns=["totalamount"])
        rejects = pq.read_table(os.path.join(out, "load_errors"), columns=["invoiceid"])
        revenue = pc.sum(fact.column("totalamount")).as_py() or Decimal(0)
        return fact.num_rows, revenue, rejects.num_rows

    def finish(self) -> None:
        if self.n_loads:
            self.ctx.counters[f"{self.NAME}.write_amp"] = self.bytes_out / self.bytes_in

    def layer_metrics(self) -> dict:
        t = self.t
        return {
            "sources.staging_read_ms": t.mean_ms("sources.staging_read"),
            "cleaning.clean_products_ms": t.mean_ms("cleaning.clean_products"),
            "cleaning.clean_sales_ms": t.mean_ms("cleaning.clean_sales"),
            "cleaning.build_dim_date_ms": t.mean_ms("cleaning.build_dim_date"),
            "cleaning.build_fact_ms": t.mean_ms("cleaning.build_fact"),
            "cleaning.reject_ratio": self.rejects / self.staged if self.staged else 0.0,
            "etl.write_ms": t.mean_ms("etl.write"),
        }
