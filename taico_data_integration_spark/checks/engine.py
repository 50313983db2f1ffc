"""Declarative data-quality check engine.

Unifies the reference's three validation layers (SURVEY.md §5) — SodaCL YAML
(include/soda/checks/**), dbt schema tests
(include/dbt/models/taico/meta/schema.yml:9-28) and hand-written pandas
validators (include/scripts/data_quality_checks.py,
validate_extracted_data.py, validate_staging_data.py) — into ONE aggregate
pass per table. The reference pulls entire tables to the driver for null/dup
checks (validate_extracted_data.py:63-64,:88-89); here every metric is a
distributed conditional aggregate, so a 100 TB table costs one scan.

Check types:
  schema(columns=...)                -- name-set equality (+types optional, stronger)
  not_null(column)                   -- missing_count == 0
  unique(columns)                    -- duplicate_count == 0
  min_rows(n)                        -- row_count >= n   (MIN_ROWS=100, config.py:115)
  accepted_values(column, values)    -- invalid_count == 0
  non_negative(column)               -- negative_count == 0
  in_range(column, lo, hi)           -- out_of_range_count == 0
  cross_column(sql_predicate)        -- failed-rows predicate count == 0
                                       (e.g. 'revenue >= media_cost_eur',
                                        validate_staging_data.py:51-59)
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class Check:
    kind: str
    name: str
    params: dict[str, Any] = field(default_factory=dict)


def schema_check(df: DataFrame, expected_cols: set[str], expected_types: dict[str, str] | None = None) -> dict:
    """Name-set equality (data_quality_checks.py:18-28) plus optional dtype
    equality (stronger than the reference, per SURVEY.md §1.2)."""
    actual = set(df.columns)
    result = {
        "missing_columns": sorted(expected_cols - actual),
        "unexpected_columns": sorted(actual - expected_cols),
        "ok": actual == expected_cols,
    }
    if expected_types:
        actual_types = dict(df.dtypes)
        mismatched = {
            c: (actual_types.get(c), t)
            for c, t in expected_types.items()
            if actual_types.get(c) != t
        }
        result["type_mismatches"] = mismatched
        result["ok"] = result["ok"] and not mismatched
    return result


def _count_if(cond: Column) -> Column:
    return F.sum(F.when(cond, 1).otherwise(0))


def compile_metrics(df: DataFrame, checks: list[Check]) -> tuple[list[Column], list[Check]]:
    """Compile every row-level check into one aggregate expression list."""
    aggs: list[Column] = [F.count(F.lit(1)).alias("__row_count")]
    compiled: list[Check] = []
    for i, ch in enumerate(checks):
        alias = f"__m{i}"
        p = ch.params
        if ch.kind == "not_null":
            aggs.append(_count_if(F.col(p["column"]).isNull()).alias(alias))
        elif ch.kind == "unique":
            cols = p["columns"]
            # Null-safe struct key: no string concat, so no separator
            # collisions ('1|2' vs columns '1','2') and no NULL-vs-sentinel
            # collisions. DISTINCT over struct treats NULL fields null-safely
            # in both Spark and DuckDB (verified: COUNT(DISTINCT (a,b))).
            key = F.struct(*[F.col(c) for c in cols])
            aggs.append((F.count(F.lit(1)) - F.countDistinct(key)).alias(alias))
        elif ch.kind == "min_rows":
            aggs.append(F.count(F.lit(1)).alias(alias))
        elif ch.kind == "accepted_values":
            col = F.col(p["column"])
            aggs.append(_count_if(~col.isin(*p["values"]) & col.isNotNull()).alias(alias))
        elif ch.kind == "non_negative":
            aggs.append(_count_if(F.col(p["column"]) < 0).alias(alias))
        elif ch.kind == "in_range":
            col = F.col(p["column"])
            aggs.append(_count_if(col.isNotNull() & ~col.between(p["lo"], p["hi"])).alias(alias))
        elif ch.kind == "cross_column":
            aggs.append(_count_if(~F.expr(p["predicate"])).alias(alias))
        else:
            raise ValueError(f"unknown check kind: {ch.kind}")
        compiled.append(ch)
    return aggs, compiled


def suite_from_spec(spec: list[dict]) -> list[Check]:
    """Declarative suite loader — the engine's analog of the reference's
    SodaCL YAML files (include/soda/checks/**). Each entry:
    ``{"kind": ..., "name": ..., <params>}``; JSON/YAML-parseable.

    >>> suite_from_spec([{"kind": "not_null", "name": "n", "column": "c"}])
    """
    out = []
    for entry in spec:
        e = dict(entry)
        kind = e.pop("kind")
        name = e.pop("name")
        out.append(Check(kind, name, e))
    return out


def _verdicts(row, compiled: list[Check]) -> list[dict]:
    """Per-check results from one row of compiled metrics: ``min_rows``
    passes at ``metric >= n``, every other kind at ``metric == 0``."""
    results = []
    for i, ch in enumerate(compiled):
        metric = row[f"__m{i}"]
        ok = metric >= ch.params["n"] if ch.kind == "min_rows" else metric == 0
        results.append({"name": ch.name, "kind": ch.kind, "metric": metric, "ok": bool(ok)})
    return results


def run_checks(df: DataFrame, checks: list[Check]) -> list[dict]:
    """Execute all row-level checks in ONE job; returns per-check results."""
    aggs, compiled = compile_metrics(df, checks)
    return _verdicts(df.agg(*aggs).collect()[0].asDict(), compiled)


def attach_observed_checks(df: DataFrame, checks: list[Check], name: str = "quality"):
    """Validation as a FREE RIDER on the caller's own action: the same
    compiled metrics run through Spark's Observation API, so a pipeline
    that writes a 100 TB table gets its quality metrics from that one
    write — no second scan (run_checks costs one extra pass; this costs
    zero). Returns (observed_df, evaluate): run any action on observed_df,
    then evaluate() yields the same per-check results run_checks would.

    Limitation (Spark's, not ours): observed metrics must be accumulable
    per-row, so `unique` (COUNT DISTINCT) checks are rejected here — keep
    those on the run_checks pass."""
    from pyspark.sql import Observation

    for ch in checks:
        if ch.kind == "unique":
            raise ValueError(
                "unique checks need COUNT DISTINCT, which Observation cannot "
                "accumulate — run them via run_checks"
            )
    aggs, compiled = compile_metrics(df, checks)
    obs = Observation(name)
    observed = df.observe(obs, *aggs)

    def evaluate() -> list[dict]:
        return _verdicts(obs.get, compiled)

    return observed, evaluate


def checks_dataframe(df: DataFrame, checks: list[Check]) -> DataFrame:
    """Same metrics as run_checks but returned AS a DataFrame (one row per
    check) so the quality report itself is oracle-checkable."""
    aggs, compiled = compile_metrics(df, checks)
    wide = df.agg(*aggs)
    # Pivot the single-row aggregate into (check, metric) rows via one
    # explode — keeps it one scan, not one union branch per check.
    pairs = [
        F.struct(
            F.lit(ch.name).alias("check_name"),
            F.lit(ch.kind).alias("check_kind"),
            F.col(f"__m{i}").cast("long").alias("metric"),
        )
        for i, ch in enumerate(compiled)
    ]
    return wide.select(F.explode(F.array(*pairs)).alias("c")).select("c.*")
