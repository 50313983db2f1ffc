"""Entry point A (SURVEY.md §3.1): the hourly dimension-sync pipeline.

Reference flow (dags/etl.py:118-190): per dimension column — staging table
rebuild, distinct extract from the warehouse, row-at-a-time NOT-EXISTS
insert + delete-missing sweep into Postgres, validation, then the
media-combinations bridge rebuild. Here: per dimension — distinct extract
-> mirror sync against the stored dim (one anti-join each way, id-stable);
each synced dim and then the bridge (M7) is a ModelDAG model, written once
to the versioned store and checked and validated over its written version.
Zero driver-side loops over rows; the only Python loop is over the handful
of dimension NAMES.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checks.suites import dimension_suite
from ..ops.dims import distinct_extract, mint_ids, mirror_sync, validate_sync
from ..ops.formats import TableFormat
from ..ops.incremental import TableStore
from ..ops.relations import rebuild_relations
from .model_dag import Model, ModelDAG


def sync_dimension(
    store: TableFormat,
    table: str,
    incoming_names: DataFrame,
    company_id: int,
) -> DataFrame:
    """M2 mirror sync with stable ids: keep matching rows, mint new ids above
    the current max for new names, drop names absent from the source.
    Returns the synced frame; the caller writes it."""
    if not store.exists(table):
        return mint_ids(incoming_names.select("name"), ["name"]).withColumn(
            "company_id", F.lit(company_id)
        ).select("id", "name", "company_id")
    existing = store.read(table)
    kept, added = mirror_sync(existing, incoming_names, ["name"])
    start = (existing.agg(F.max("id")).collect()[0][0] or 0) + 1
    minted = mint_ids(added.select("name"), ["name"], start_at=start).withColumn(
        "company_id", F.lit(company_id)
    )
    return kept.unionByName(minted.select("id", "name", "company_id"))


def run_etl_pipeline(
    spark: SparkSession,
    fact: DataFrame,
    dim_columns: list[str],
    store_root: str,
    company_id: int = 1,
    bridge_keep_cols: list[str] | None = None,
    callbacks=None,
) -> dict:
    """Sync every dimension column of `fact`, validate, rebuild the bridge.

    ``callbacks`` (pipelines.callbacks.PipelineCallbacks) receives the run
    summary via on_success/on_failure — the S15 notification seam."""
    store = TableStore(spark, store_root)
    incoming = {col: distinct_extract(fact, col) for col in dim_columns}
    # branch-on-empty (dags/etl.py:53-61)
    synced = [col for col in dim_columns if not incoming[col].isEmpty()]
    models = [
        Model(
            f"dim_{col}",
            lambda d, col=col: sync_dimension(store, f"dim_{col}", incoming[col], company_id),
            checks=dimension_suite(),
        )
        for col in synced
    ]
    models.append(
        Model(
            "media_relations",
            lambda d: rebuild_relations(
                d["fact"],
                {col: d[f"dim_{col}"] for col in synced},
                keep_cols=bridge_keep_cols or [],
            ).withColumn("company_id", F.lit(company_id)),
            ["fact", *[f"dim_{col}" for col in synced]],
        )
    )
    out = ModelDAG(models).run({"fact": fact}, store)
    frames = out["_frames"]

    results: dict = {c: {"status": "skipped_empty"} for c in dim_columns if c not in synced}
    for col in synced:
        name = f"dim_{col}"
        if name in out:
            missing = validate_sync(incoming[col], frames[name], ["name"]).agg(F.sum("missing_count"))
            in_sync = missing.collect()[0][0] == 0
            results[col] = {"status": "synced", "checks": out[name]["checks"], "in_sync": in_sync}
    if "media_relations" in frames:
        results["bridge_rows"] = frames["media_relations"].count()
    all_in_sync = all(r.get("in_sync", True) for r in results.values() if isinstance(r, dict))
    summary = {"ok": "_failed" not in out and all_in_sync, "results": results}
    if callbacks is not None:
        callbacks.report("etl_pipeline", summary)
    return summary
