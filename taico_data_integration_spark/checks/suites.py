"""Ported check suites: the reference's SodaCL YAML + dbt tests + pandas
validators unified as Check lists (SURVEY.md §5). MIN_ROWS=100 per
include/scripts/config.py:115."""

from __future__ import annotations

from .engine import Check

MIN_ROWS = 100

# include/scripts/config.py:30-53: (name, company_id) non-null and unique.
def dimension_suite() -> list[Check]:
    return [
        Check("not_null", "dim_name_not_null", {"column": "name"}),
        Check("not_null", "dim_company_not_null", {"column": "company_id"}),
        Check("unique", "dim_name_company_unique", {"columns": ["name", "company_id"]}),
        Check("unique", "dim_id_unique", {"columns": ["id"]}),
    ]


# include/soda/checks/transform/*.yml (retail star).
def retail_dim_product_suite() -> list[Check]:
    return [
        Check("not_null", "product_id_not_null", {"column": "product_id"}),
        Check("unique", "product_id_unique", {"columns": ["product_id"]}),
        Check("cross_column", "price_positive", {"predicate": "price > 0"}),
    ]


def retail_dim_datetime_suite() -> list[Check]:
    return [
        Check("not_null", "datetime_id_not_null", {"column": "datetime_id"}),
        Check("unique", "datetime_id_unique", {"columns": ["datetime_id"]}),
        Check("in_range", "weekday_range", {"column": "weekday", "lo": 1, "hi": 7}),
        Check("in_range", "month_range", {"column": "month", "lo": 1, "hi": 12}),
    ]


def retail_fct_suite() -> list[Check]:
    return [
        Check("not_null", "invoice_id_not_null", {"column": "invoice_id"}),
        Check("cross_column", "quantity_positive", {"predicate": "quantity > 0"}),
        Check("cross_column", "total_positive", {"predicate": "total > 0"}),
    ]
