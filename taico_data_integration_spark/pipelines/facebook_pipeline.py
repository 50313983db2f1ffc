"""Entry point B (SURVEY.md §3.2): connector extract -> validate raw ->
transform -> validate transformed -> incremental staging merge -> promote to
production with rollback-on-failure (M5 + M6,
dags/taico/meta/taico_facebook_data_etl_dag.py:40-234).

The Airbyte connector is out-of-engine; the fixture adapter stands in for
its output (SURVEY.md §2.1 S14). The transform and the staging merge are
ModelDAG models: each is written to the versioned TableStore once and the
transformed suite checks the written table. Promotion uses the same store:
the old production version IS the backup; rollback repoints (Delta RESTORE
analog).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..checks.engine import Check, run_checks, schema_check
from ..checks.suites import MIN_ROWS
from ..ops.facebook import ads_insights_from_fixtures, campaigns_from_fixtures, fb_ads_transform
from ..ops.incremental import TableStore, merge_upsert
from .model_dag import Model, ModelDAG

RAW_REQUIRED_COLS = {
    "ad_id",
    "campaign_id",
    "date_start",
    "objective",
    "clicks",
    "impressions",
    "unique_clicks",
    "spend",
    "conversion_values",
    "created_time",
    "account_name",
    "account_id",
    "optimization_goal",
}

TRANSFORMED_SUITE = [
    Check("min_rows", "transformed_min_rows", {"n": MIN_ROWS}),
    Check("unique", "transformed_id_unique", {"columns": ["id"]}),
    Check("not_null", "transformed_date_not_null", {"column": "date"}),
    Check("non_negative", "clicks_non_negative", {"column": "clicks"}),
    Check(
        "accepted_values",
        "media_cluster_domain",
        {"column": "media_cluster", "values": ["Classical", "CRM", "Digital", "Other"]},
    ),
]


def run_facebook_pipeline(spark: SparkSession, sf_dir: str, store_root: str) -> dict:
    store = TableStore(spark, store_root)

    # 1. extract (connector stand-in)
    ads = ads_insights_from_fixtures(spark, sf_dir)

    # 2. validate raw: schema presence (validate_extracted_data.py:17-37)
    raw_schema = schema_check(ads, RAW_REQUIRED_COLS)
    if not raw_schema["ok"]:
        return {"ok": False, "stage": "validate_raw", "detail": raw_schema}

    # 3. transform (dbt model restated), validated over its written table
    #    (validate_extracted_data.py:39-100); 4. incremental staging merge
    #    (M5: unique_key semantics) over the staging version read here
    prev = store.read("fb_staging") if store.exists("fb_staging") else None

    def stage(d):
        new = d["fb_transformed"]
        return new if prev is None else merge_upsert(prev, new, ["id", "date", "campaign"])

    transform = Model(
        "fb_transformed",
        lambda d: fb_ads_transform(d["ads"], d["campaigns"]),
        ["ads", "campaigns"],
        TRANSFORMED_SUITE,
    )
    dag = ModelDAG([transform, Model("fb_staging", stage, ["fb_transformed"])])
    out = dag.run({"ads": ads, "campaigns": campaigns_from_fixtures(spark, sf_dir)}, store)
    checks = out["fb_transformed"]["checks"]
    if "_failed" in out:
        return {"ok": False, "stage": "validate_transformed", "detail": checks}

    # 5. promote with validation + rollback (M6)
    promoted = store.promote_with_validation(
        "fb_production",
        out["_frames"]["fb_staging"],
        lambda df: all(c["ok"] for c in run_checks(df, TRANSFORMED_SUITE)),
    )
    return {"ok": promoted, "stage": "done" if promoted else "promote_rollback", "checks": checks}
