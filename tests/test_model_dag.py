"""Model-DAG runner tests: retail star as a declared model graph; every
model written to the store and checked over its written version; cycle and
failure handling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from taico_data_integration_spark.checks.engine import Check
from taico_data_integration_spark.ops.incremental import TableStore
from taico_data_integration_spark.ops.retail import (
    dim_datetime,
    dim_product,
    fct_invoices,
    raw_invoices_from_fixtures,
    report_year_invoices,
)
from taico_data_integration_spark.pipelines.model_dag import Model, ModelDAG

SF_DIR = "/root/testdata/sf0.001"


def _retail_dag() -> ModelDAG:
    return ModelDAG(
        [
            Model(
                "dim_product",
                lambda d: dim_product(d["raw_invoices"]),
                deps=["raw_invoices"],
                checks=[Check("unique", "pid_unique", {"columns": ["product_id"]})],
            ),
            Model(
                "dim_datetime",
                lambda d: dim_datetime(d["raw_invoices"]),
                deps=["raw_invoices"],
                checks=[Check("in_range", "weekday", {"column": "weekday", "lo": 1, "hi": 7})],
            ),
            Model(
                "fct_invoices",
                lambda d: fct_invoices(d["raw_invoices"]),
                deps=["raw_invoices"],
                checks=[Check("min_rows", "fct_rows", {"n": 100})],
            ),
            Model(
                "report_year_invoices",
                lambda d: report_year_invoices(d["fct_invoices"], d["dim_datetime"]),
                deps=["fct_invoices", "dim_datetime"],
                checks=[Check("not_null", "year_nn", {"column": "year"})],
            ),
        ]
    )


def test_retail_dag_runs_in_dependency_order(spark, tmp_path):
    dag = _retail_dag()
    order = dag.execution_order({"raw_invoices"})
    assert order.index("fct_invoices") < order.index("report_year_invoices")
    assert order.index("dim_datetime") < order.index("report_year_invoices")
    raw = raw_invoices_from_fixtures(spark, SF_DIR)
    store = TableStore(spark, str(tmp_path))
    out = dag.run({"raw_invoices": raw}, store)
    assert all(out[m]["ok"] for m in ("dim_product", "dim_datetime", "fct_invoices", "report_year_invoices"))
    assert "_failed" not in out
    # every model landed in the store, and the frames handed on are the
    # written versions
    for m in order:
        assert store.exists(m)
    assert out["_frames"]["report_year_invoices"].count() == store.read("report_year_invoices").count() > 0


class _MarkingStore:
    """A minimal store whose read() marks the frame it returns, so a test
    can tell the written version from the model's lineage."""

    def __init__(self):
        self.tables: dict = {}
        self.writes: list[str] = []

    def write(self, table, df):
        self.writes.append(table)
        self.tables[table] = df

    def read(self, table):
        return self.tables[table].withColumn("__read_back", F.lit(1))


def test_dag_checks_and_downstream_see_the_written_version(spark):
    seen = {}

    def downstream(d):
        seen["columns"] = d["up"].columns
        return d["up"].select("id")

    dag = ModelDAG(
        [
            Model(
                "up",
                lambda d: d["src"],
                deps=["src"],
                # the lineage has no such column: only the read-back version
                # can pass this check
                checks=[Check("not_null", "read_back", {"column": "__read_back"})],
            ),
            Model("down", downstream, deps=["up"]),
        ]
    )
    store = _MarkingStore()
    out = dag.run({"src": spark.range(5)}, store)
    assert out["up"]["ok"] and out["up"]["checks"][0]["metric"] == 0
    assert "__read_back" in seen["columns"]
    assert store.writes == ["up", "down"]
    assert out["down"] == {"ok": True, "checks": []}


def test_dag_fail_fast_stops_downstream(spark, tmp_path):
    raw = raw_invoices_from_fixtures(spark, SF_DIR)
    dag = ModelDAG(
        [
            Model(
                "bad",
                lambda d: d["raw_invoices"],
                deps=["raw_invoices"],
                checks=[Check("min_rows", "impossible", {"n": 10**12})],
            ),
            Model("downstream", lambda d: d["bad"].limit(1), deps=["bad"]),
        ]
    )
    store = TableStore(spark, str(tmp_path))
    out = dag.run({"raw_invoices": raw}, store)
    assert out["_failed"] == "bad"
    assert out["bad"]["ok"] is False
    assert "downstream" not in out
    # the failing model's version stays written; its downstream never is
    assert store.exists("bad")
    assert not store.exists("downstream")
    assert "downstream" not in out["_frames"]


def test_dag_cycle_detected():
    dag = ModelDAG(
        [
            Model("a", lambda d: None, deps=["b"]),
            Model("b", lambda d: None, deps=["a"]),
        ]
    )
    with pytest.raises(ValueError, match="cycle"):
        dag.execution_order(set())


def test_dag_unknown_dep_rejected():
    dag = ModelDAG([Model("a", lambda d: None, deps=["nope"])])
    with pytest.raises(ValueError, match="unknown deps"):
        dag.execution_order(set())
