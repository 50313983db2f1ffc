"""Scalar/row-level transform building blocks.

Expression ports of the reference's dbt-SQL idioms (SURVEY.md §2.8):
comma-decimal parsing, dbt_utils surrogate keys, normalized-key fuzzy joins,
canonical-name mapping, dual-format datetime parsing. Column builders, plus
``*_sql`` string builders for selectExpr call sites — JVM-side,
whole-stage-codegen friendly; no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..sqlquote import sql_ident, sql_str

# dbt_utils 1.1.1 generate_surrogate_key null placeholder (SURVEY.md §1.3).
SURROGATE_NULL = "_dbt_utils_surrogate_key_null_"


def comma_decimal_sql(expr: str) -> str:
    """European comma-decimal string expression -> DOUBLE; garbage -> NULL.

    Reference: ``cast(replace(spend, ',', '.') as float64)``
    (include/dbt/models/taico/meta/fb_meta_ads_transformed.sql:11-14).
    """
    return f"CAST(replace({expr}, ',', '.') AS DOUBLE)"


def surrogate_key_sql(*cols: str) -> str:
    """dbt_utils.generate_surrogate_key parity: md5 of '-'-joined,
    null-coalesced string casts of the named columns
    (include/dbt/models/transform/dim_customer.sql:6).

    concat_ws would *skip* nulls (wrong); dbt coalesces each field to the
    placeholder, so we do too.
    """
    null = sql_str(SURROGATE_NULL)
    parts = ", ".join(f"coalesce(CAST({sql_ident(c)} AS STRING), {null})" for c in cols)
    return f"md5(concat_ws('-', {parts}))"


def normalize_name(col: Column | str) -> Column:
    """Alphanumeric-strip + lowercase normalization used by the reference's
    performance<->cost fuzzy join
    (include/dbt/models/mms/google_sheets/staging/staging_performance_cost_combined.sql:40-50).

    Precomputing this as a column turns the 'fuzzy' join into a plain
    hash-joinable equi-key (SURVEY.md J5).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.regexp_replace(c, "[^a-zA-Z0-9]", ""))


def canonical_map(col: Column | str, mapping: dict[str, str]) -> Column:
    """J6 value standardization: CASE WHEN chain
    (include/dbt/models/mms/google_sheets/staging/normalized_costs.sql:4-12)."""
    c = F.col(col) if isinstance(col, str) else col
    expr = None
    for raw, canonical in mapping.items():
        cond = c == F.lit(raw)
        expr = F.when(cond, F.lit(canonical)) if expr is None else expr.when(cond, F.lit(canonical))
    return c if expr is None else expr.otherwise(c)


def dual_format_timestamp(col: Column | str, long_fmt: str = "M/d/yyyy H:mm", short_fmt: str = "M/d/yy H:mm", length_threshold: int = 16) -> Column:
    """Ambiguous datetime strings parsed by length
    (include/dbt/models/transform/dim_datetime.sql:7-16): 16-char strings are
    '%m/%d/%Y %H:%M', shorter are '%m/%d/%y %H:%M'. try_to_timestamp keeps
    NULL-on-garbage under ANSI (SURVEY.md §7.4 hazard 5)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.length(c) >= length_threshold, F.try_to_timestamp(c, F.lit(long_fmt))).otherwise(
        F.try_to_timestamp(c, F.lit(short_fmt))
    )


def block_code_reformat(col: Column | str) -> Column:
    """Behavioral port of the reference's block-code regexp
    (include/dbt/models/mms/google_sheets/staging/mms_lb_staged.sql:16):
    BQ ``r'(\\d{2})(\\d{2})\\(\\d{2})\\(\\d{2})' -> r'\\1-\\2-\\3-\\4'``.
    Capture-group refs translate to ``$1`` in Spark (SURVEY.md §7.4 hazard 6);
    8 consecutive digits -> 'aa-bb-cc-dd'.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r"(\d{2})(\d{2})(\d{2})(\d{2})", r"$1-$2-$3-$4")

