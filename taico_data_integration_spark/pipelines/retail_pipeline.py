"""Entry point C (SURVEY.md §3.3): retail star-schema pipeline.

Reference flow: CSV -> GCS -> BQ raw_invoices -> soda check -> dbt transform
group -> soda check -> dbt report group -> soda check (dags/retail.py:16-95).
Here the same groups are ModelDAG models over one versioned TableStore: the
raw_invoices staging table, then 3 dims + fact, then 3 reports. Each model
is written once, checked over its written version, and read from the store
by its consumers; a failing suite stops everything downstream of it.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..checks.engine import Check
from ..checks.suites import (
    MIN_ROWS,
    retail_dim_datetime_suite,
    retail_dim_product_suite,
    retail_fct_suite,
)
from ..ops.incremental import TableStore
from ..ops.retail import (
    country_from_fixtures,
    dim_customer,
    dim_datetime,
    dim_product,
    fct_invoices,
    raw_invoices_from_fixtures,
    report_customer_invoices,
    report_product_invoices,
    report_year_invoices,
)
from .model_dag import Model, ModelDAG

RAW_SUITE = [
    Check("min_rows", "raw_min_rows", {"n": MIN_ROWS}),
    Check("not_null", "raw_invoiceno_not_null", {"column": "InvoiceNo"}),
]
CHECKED_MODELS = ("raw_invoices", "dim_product", "dim_datetime", "fct_invoices")


def _model(fn, deps: list[str], checks: list[Check] | None = None) -> Model:
    """A model named after its transform, which takes its deps in order."""
    return Model(fn.__name__, lambda d: fn(*[d[x] for x in deps]), deps, checks or [])


def run_retail_pipeline(spark: SparkSession, sf_dir: str, store_root: str) -> dict:
    models = [
        Model("raw_invoices", lambda d: raw_invoices_from_fixtures(spark, sf_dir), checks=RAW_SUITE),
        _model(dim_customer, ["raw_invoices", "country"]),
        _model(dim_product, ["raw_invoices"], retail_dim_product_suite()),
        _model(dim_datetime, ["raw_invoices"], retail_dim_datetime_suite()),
        _model(fct_invoices, ["raw_invoices"], retail_fct_suite()),
        _model(report_customer_invoices, ["fct_invoices", "dim_customer"]),
        _model(report_product_invoices, ["fct_invoices", "dim_product"]),
        _model(report_year_invoices, ["fct_invoices", "dim_datetime"]),
    ]
    country = country_from_fixtures(spark, sf_dir)
    out = ModelDAG(models).run({"country": country}, TableStore(spark, store_root))
    checks = {m: out[m]["checks"] for m in CHECKED_MODELS if m in out}
    return {"ok": "_failed" not in out, "checks": checks}
