"""End-to-end pipeline tests for the three reference entry points
(SURVEY.md §3.1-§3.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from taico_data_integration_spark.catalog import load_table
from taico_data_integration_spark.ops.incremental import TableStore
from taico_data_integration_spark.pipelines.etl_pipeline import run_etl_pipeline
from taico_data_integration_spark.pipelines.facebook_pipeline import run_facebook_pipeline
from taico_data_integration_spark.pipelines.retail_pipeline import run_retail_pipeline

SF_DIR = "/root/testdata/sf0.001"


def test_retail_pipeline_end_to_end(spark, tmp_path):
    out = run_retail_pipeline(spark, SF_DIR, str(tmp_path))
    assert out["ok"], out
    store = TableStore(spark, str(tmp_path))
    assert store.read("fct_invoices").count() > 0
    assert store.read("report_year_invoices").count() > 0


def test_facebook_pipeline_promotes_and_is_incremental(spark, tmp_path):
    out = run_facebook_pipeline(spark, SF_DIR, str(tmp_path))
    assert out["ok"], out
    store = TableStore(spark, str(tmp_path))
    n1 = store.read("fb_production").count()
    assert n1 >= 100
    # second run merges the same keys: no duplicate growth (M5 semantics)
    out2 = run_facebook_pipeline(spark, SF_DIR, str(tmp_path))
    assert out2["ok"]
    assert store.read("fb_production").count() == n1


def test_etl_pipeline_syncs_dims_and_bridge(spark, tmp_path):
    o = load_table(spark, SF_DIR, "orders")
    fact = o.select(
        F.col("o_orderstatus").alias("status"), F.col("o_orderpriority").alias("priority")
    )
    out = run_etl_pipeline(spark, fact, ["status", "priority"], str(tmp_path))
    assert out["ok"], out
    store = TableStore(spark, str(tmp_path))
    assert store.read("dim_status").count() == 3
    assert store.read("dim_priority").count() == 5
    assert out["results"]["bridge_rows"] == 15
    # re-run with a shrunk fact: mirror sync drops missing names, keeps ids
    fact2 = fact.where(F.col("status") != "P")
    out2 = run_etl_pipeline(spark, fact2, ["status", "priority"], str(tmp_path))
    assert out2["ok"], out2
    dim = {r.name: r.id for r in store.read("dim_status").collect()}
    assert "P" not in dim and len(dim) == 2


def test_pipeline_callbacks_fire(spark, tmp_path):
    """S15 seam: on_success receives the run summary; on_failure receives
    a failing summary or exception payload; exceptions are never swallowed."""
    from pyspark.sql import Row

    from taico_data_integration_spark.pipelines.callbacks import (
        PipelineCallbacks,
        summary_text,
    )
    from taico_data_integration_spark.pipelines.etl_pipeline import run_etl_pipeline

    seen = []
    cb = PipelineCallbacks(
        on_success=lambda name, s: seen.append(("ok", name, s["ok"])),
        on_failure=lambda name, s: seen.append(("fail", name, s.get("ok"))),
    )
    fact = spark.createDataFrame(
        [Row(channel="tv", region="n"), Row(channel="web", region="s")]
    )
    summary = run_etl_pipeline(
        spark, fact, ["channel", "region"], str(tmp_path / "store"), callbacks=cb
    )
    assert summary["ok"]
    assert seen == [("ok", "etl_pipeline", True)]
    assert cb.fired == [("etl_pipeline", "success")]
    assert "etl_pipeline: OK" in summary_text("etl_pipeline", summary)

    # failure + exception routing
    def boom():
        raise RuntimeError("stage exploded")

    import pytest

    with pytest.raises(RuntimeError):
        cb.guard("etl_pipeline", boom)
    assert seen[-1][0] == "fail"
    cb.report("etl_pipeline", {"ok": False, "results": {}})
    assert cb.fired[-1] == ("etl_pipeline", "failure")


def test_ingestion_pipeline_end_to_end(spark, tmp_path):
    """Two-batch ingestion: batch 1 seeds the corpus; batch 2 re-sends one
    exact copy, one near-dup (small edit), and fresh docs. The stored band
    index must reject both repeats while the fresh English docs land, and
    re-ingesting batch 2 verbatim must accept nothing (idempotence)."""
    from taico_data_integration_spark.ops.incremental import TableStore
    from taico_data_integration_spark.pipelines.callbacks import PipelineCallbacks
    from taico_data_integration_spark.pipelines.ingestion_pipeline import ingest_batch

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far away "
        "into the green hills where many other animals live together happily "
        "and the seasons pass with sun and rain and the fields grow tall "
    )
    def doc(i, text):
        return (i, text, "en", "unit", len(text))

    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    b1 = spark.createDataFrame(
        [
            doc(1, base * 2),
            # genuinely different story: shares no text with doc 1, so the
            # within-batch near-dup pass (which now also runs on the seeding
            # batch) must keep both
            doc(2, "A completely different second story about ships and oceans. "
                   "The sailors cross the wide water under tall white sails all day. "
                   "Their captain charts a course by the bright evening stars above. "
                   "The waves keep rolling past the hull through the long salt night. "
                   "In the morning the crew hauls in the nets and counts the catch. "
                   "There is always work to be done on the deck and below in the hold. "
                   "When the storm finally comes they take down the sails and wait. "
                   "After it passes the sea is calm again and the voyage continues on. "
                   "At the port the cargo is unloaded and the sailors rest for a while. "
                   "Then the tide turns and the ship sets out once more for the horizon."),
        ],
        cols,
    )
    store = TableStore(spark, str(tmp_path / "corpus"))
    cb = PipelineCallbacks()
    s1 = ingest_batch(spark, store, b1, cb)
    assert s1["n_accepted"] == 2 and s1["corpus_rows"] == 2
    # quality metrics rode the corpus write (Observation), no extra scan
    assert {r["name"]: r["ok"] for r in s1["quality"]} == {
        "doc_id_not_null": True,
        "text_not_null": True,
        "accepted_nonempty": True,
    }

    b2 = spark.createDataFrame(
        [
            doc(10, base * 2),  # exact copy of doc 1
            doc(11, base * 2 + "one extra tail sentence appended here today"),  # near-dup
            doc(12, "A genuinely new long document about the mountain weather patterns. "
                    "It keeps describing the clouds, the wind, the snow and the valleys. "
                    "The writing passes the minimum token and quality thresholds easily. "
                    "Varied words keep appearing throughout the whole of the text body."),
        ],
        cols,
    )
    s2 = ingest_batch(spark, store, b2, cb)
    assert s2["n_exact_dup"] == 1
    assert s2["n_near_dup"] == 1
    assert s2["n_accepted"] == 1 and s2["corpus_rows"] == 3

    # idempotence: the whole of batch 2 is now in/near the corpus
    s3 = ingest_batch(spark, store, b2, cb)
    assert s3["n_accepted"] == 0 and s3["corpus_rows"] == 3
    assert [p for p, kind in cb.fired] == ["ingestion"] * 3


def test_ingestion_pipeline_is_format_portable(spark, tmp_path):
    """The ingestion pipeline takes any TableFormat: the same two-batch flow
    (seed, then idempotent re-ingest) runs against SqlWarehouseFormat —
    catalog tables + view repoint — with no pipeline changes."""
    from taico_data_integration_spark.ops.formats import SqlWarehouseFormat
    from taico_data_integration_spark.pipelines.ingestion_pipeline import ingest_batch

    fmt = SqlWarehouseFormat(
        spark, f"ing_{abs(hash(str(tmp_path))) % 10**8}", str(tmp_path / "wh")
    )
    base = (
        "the quick brown fox jumps over the lazy dog and then runs far away "
        "into the green hills where many other animals live together happily "
        "and the seasons pass with sun and rain and the fields grow tall "
    )
    b1 = spark.createDataFrame(
        [(1, base * 2, "en", "unit", len(base * 2))],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    try:
        s1 = ingest_batch(spark, fmt, b1)
        assert s1["n_accepted"] == 1 and s1["corpus_rows"] == 1
        s2 = ingest_batch(spark, fmt, b1)  # exact re-ingest accepts nothing
        assert s2["n_accepted"] == 0 and s2["corpus_rows"] == 1
    finally:
        fmt.drop_namespace()


def test_ingestion_within_batch_near_dups(spark, tmp_path):
    """Two near-duplicates arriving in the SAME batch must not both enter
    the corpus — including in the corpus-seeding first batch, where there is
    no stored band index to probe. Min-id survivorship keeps the smaller."""
    from taico_data_integration_spark.ops.incremental import TableStore
    from taico_data_integration_spark.pipelines.ingestion_pipeline import (
        CORPUS_TABLE,
        ingest_batch,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far away "
        "into the green hills where many other animals live together happily "
        "and the seasons pass with sun and rain and the fields grow tall "
    )
    cols = ["doc_id", "text", "lang", "source", "n_chars"]

    def doc(i, text):
        return (i, text, "en", "unit", len(text))

    # seeding batch: 5 and 6 are near-dups of each other; 7 is fresh
    b1 = spark.createDataFrame(
        [
            doc(5, base * 2),
            doc(6, base * 2 + "one extra tail sentence appended here today"),
            doc(7, "A genuinely new long document about the mountain weather patterns. "
                   "It keeps describing the clouds, the wind, the snow and the valleys. "
                   "The writing passes the minimum token and quality thresholds easily. "
                   "Varied words keep appearing throughout the whole of the text body."),
        ],
        cols,
    )
    store = TableStore(spark, str(tmp_path / "corpus"))
    s1 = ingest_batch(spark, store, b1)
    assert s1["n_near_dup"] == 1 and s1["n_accepted"] == 2
    kept = {r.doc_id for r in store.read(CORPUS_TABLE).select("doc_id").collect()}
    assert kept == {5, 7}  # min-id survivor of the 5/6 pair

    # later batch: 20 and 21 near-dup each other AND doc 5 in the corpus
    b2 = spark.createDataFrame(
        [doc(20, base * 2 + " small change"), doc(21, base * 2 + " small change two")],
        cols,
    )
    s2 = ingest_batch(spark, store, b2)
    assert s2["n_near_dup"] == 2 and s2["n_accepted"] == 0


@pytest.mark.parametrize("kernel", ["fold", "blas"])
def test_ingestion_embedding_neardup_stage_both_kernels(spark, tmp_path, kernel):
    """VERDICT r5 #4: the embedding near-dup stage of ingest_batch, e2e on
    BOTH kernels (HOF fold and the BLAS gram-matrix twin). Three genuinely
    different stories — only their EMBEDDINGS collide — so any drop here is
    the embedding stage's doing, not text LSH. Within-batch min-id
    survivorship, corpus-probe rejection on the next batch, idempotent
    re-ingest; both kernels must produce identical accounting and corpus."""
    from taico_data_integration_spark.ops.incremental import TableStore
    from taico_data_integration_spark.pipelines.ingestion_pipeline import (
        CORPUS_TABLE,
        ingest_batch,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far away "
        "into the green hills where many other animals live together happily "
        "and the seasons pass with sun and rain and the fields grow tall "
    )
    stories = {
        1: base * 2,
        2: "A completely different second story about ships and oceans. "
           "The sailors cross the wide water under tall white sails all day. "
           "Their captain charts a course by the bright evening stars above. "
           "The waves keep rolling past the hull through the long salt night. "
           "In the morning the crew hauls in the nets and counts the catch. "
           "There is always work to be done on the deck and below in the hold. "
           "When the storm finally comes they take down the sails and wait. "
           "After it passes the sea is calm again and the voyage continues on.",
        3: "A genuinely new long document about the mountain weather patterns. "
           "It keeps describing the clouds, the wind, the snow and the valleys. "
           "The writing passes the minimum token and quality thresholds easily. "
           "Varied words keep appearing throughout the whole of the text body.",
        10: "A fourth tale about the desert caravans and their camels walking slowly over the red dunes. "
            "The traders travel for many days and they talk about the price of salt and silk on the way. "
            "At night they make camp near the rocks and they watch the stars while the fires burn low. "
            "In the morning they load the animals again and they set out before the heat of the day. "
            "When they finally reach the oasis there is water and shade and the people rest for a while. "
            "Then the caravan moves on toward the far city where the goods will be sold in the market.",
        11: "A fifth account of the city markets in the early morning before the sun has fully risen. "
            "The vendors arrange their fruit and bread on the long tables while the first customers arrive. "
            "There is the smell of coffee and baking and the sound of carts rolling over the old stones. "
            "By the middle of the day the streets are full of people and the stalls are busy with trade. "
            "In the evening the sellers pack away what is left and they count the coins they have earned. "
            "Then the square is quiet again until the next morning when it all begins once more.",
    }
    e_a = [1.0, 0.01, 0.01, 0.01]   # docs 1, 2 and 10 share this embedding
    e_b = [0.0, 1.0, 0.0, 0.01]     # doc 3
    e_c = [0.0, 0.0, 1.0, 0.01]     # doc 11

    cols = ["doc_id", "text", "lang", "source", "n_chars", "embedding"]

    def doc(i, emb):
        return (i, stories[i], "en", "unit", len(stories[i]), emb)

    store = TableStore(spark, str(tmp_path / "corpus"))
    b1 = spark.createDataFrame([doc(1, e_a), doc(2, e_a), doc(3, e_b)], cols)
    s1 = ingest_batch(
        spark, store, b1, embedding_col="embedding", neardup_kernel=kernel
    )
    assert s1["n_near_dup"] == 0  # text LSH saw three distinct stories
    assert s1["n_embed_near_dup"] == 1  # doc 2 lost to smaller-id doc 1
    assert s1["n_accepted"] == 2
    kept = {r.doc_id for r in store.read(CORPUS_TABLE).select("doc_id").collect()}
    assert kept == {1, 3}

    # next batch: doc 10's embedding collides with corpus doc 1; 11 is fresh
    b2 = spark.createDataFrame([doc(10, e_a), doc(11, e_c)], cols)
    s2 = ingest_batch(
        spark, store, b2, embedding_col="embedding", neardup_kernel=kernel
    )
    assert s2["n_embed_near_dup"] == 1 and s2["n_accepted"] == 1
    kept = {r.doc_id for r in store.read(CORPUS_TABLE).select("doc_id").collect()}
    assert kept == {1, 3, 11}

    # idempotence: re-sending batch 2 accepts nothing (10 by embedding
    # probe again, 11 by exact text dedup before the embedding stage)
    s3 = ingest_batch(
        spark, store, b2, embedding_col="embedding", neardup_kernel=kernel
    )
    assert s3["n_accepted"] == 0 and s3["corpus_rows"] == 3

    # regression (review finding): re-ingesting a batch whose docs ALL drop
    # BEFORE stage 2b leaves the embedding stage an empty frame — the dim
    # probe must not crash on first()==None, and accounting stays zero
    s4 = ingest_batch(
        spark, store, b1, embedding_col="embedding", neardup_kernel=kernel
    )
    assert s4["n_accepted"] == 0 and s4["n_embed_near_dup"] in (0, 1)
    assert s4["corpus_rows"] == 3


def test_ingestion_embedding_stage_guards(spark, tmp_path):
    """Review-finding guards: blas rejects non-integral doc ids driver-side
    with a clear error; a corpus lacking the caller's block column degrades
    to within-batch dedup instead of an AnalysisException."""
    import pytest as _pt

    from taico_data_integration_spark.ops.incremental import TableStore
    from taico_data_integration_spark.pipelines.ingestion_pipeline import (
        CORPUS_TABLE,
        _embedding_near_dups,
        ingest_batch,
    )

    store = TableStore(spark, str(tmp_path / "c"))
    sb = spark.createDataFrame(
        [("doc-1", "text one", [1.0, 0.0]), ("doc-2", "text two", [1.0, 0.0])],
        "doc_id string, text string, embedding array<double>",
    )
    with _pt.raises(ValueError, match="integral doc_id"):
        _embedding_near_dups(sb, None, "embedding", None, 0.98, "blas")

    # corpus WITH embeddings but WITHOUT the caller's block column is a
    # misconfiguration: silently skipping corpus dedup would admit
    # near-duplicates of corpus docs forever — must raise, loudly
    corpus = spark.createDataFrame(
        [(100, "old", [0.0, 1.0])], "doc_id long, text string, embedding array<double>"
    )
    nb = spark.createDataFrame(
        [(1, "a", [1.0, 0.0], "blk"), (2, "b", [1.0, 0.0], "blk")],
        "doc_id long, text string, embedding array<double>, cluster string",
    )
    with _pt.raises(ValueError, match="lacks block column"):
        _embedding_near_dups(nb, corpus, "embedding", "cluster", 0.98, "fold")

    # corpus WITHOUT embeddings predates the stage: within-batch dedup only
    legacy = spark.createDataFrame([(100, "old")], "doc_id long, text string")
    dropped = {
        r.doc_id
        for r in _embedding_near_dups(nb, legacy, "embedding", "cluster", 0.98, "fold").collect()
    }
    assert dropped == {2}

    # empty batch with caller-provided blocks: no probe job, no crash
    empty = nb.where("1=0")
    assert _embedding_near_dups(empty, None, "embedding", "cluster", 0.98, "fold").count() == 0

    # ADVICE r6: a typo'd embedding_col must fail fast in ingest_batch, not
    # silently skip the stage (n_embed_near_dup=0 with no signal admits
    # near-duplicates into the corpus permanently)
    with _pt.raises(ValueError, match="embedding_colx"):
        ingest_batch(spark, store, sb, embedding_col="embedding_colx")


RETAIL_MODELS = ("raw_invoices", "dim_customer", "dim_product", "dim_datetime", "fct_invoices")
RETAIL_REPORTS = ("report_customer_invoices", "report_product_invoices", "report_year_invoices")
# One retail run on the sf0.001 fixtures takes 43 Spark jobs on a warm
# session (49 cold) now that every model is written once and checked over
# its written table; checking each lineage, writing it again and re-running
# the fact and dim lineages for the reports took 84 (90 cold).
RETAIL_MAX_JOBS = 60


def _metrics(checks: list[dict]) -> dict:
    return {c["name"]: c["metric"] for c in checks}


def test_pipeline_check_metrics_and_retail_jobs_pinned(spark, tmp_path):
    """Check metrics, verdicts and stages of retail, facebook x2 and etl x2
    on the fixtures, pinned at the figures of the pipelines that checked each
    lineage before writing it: checking the written tables changes none.
    The retail run's Spark job count is pinned below that of the old flow."""
    root = str(tmp_path)
    sc = spark.sparkContext
    sc.setJobGroup("retail-pin", "retail job count")
    try:
        retail = run_retail_pipeline(spark, SF_DIR, f"{root}/retail")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert retail["ok"] is True
    assert {m: _metrics(c) for m, c in retail["checks"].items()} == {
        "raw_invoices": {"raw_min_rows": 6000, "raw_invoiceno_not_null": 0},
        "dim_product": {"product_id_not_null": 0, "product_id_unique": 0, "price_positive": 0},
        "dim_datetime": {
            "datetime_id_not_null": 0,
            "datetime_id_unique": 0,
            "weekday_range": 0,
            "month_range": 0,
        },
        "fct_invoices": {"invoice_id_not_null": 0, "quantity_positive": 0, "total_positive": 0},
    }
    jobs = sc.statusTracker().getJobIdsForGroup("retail-pin")
    assert 0 < len(jobs) <= RETAIL_MAX_JOBS, len(jobs)

    for _ in range(2):  # first run, then the incremental merge
        fb = run_facebook_pipeline(spark, SF_DIR, f"{root}/fb")
        assert (fb["ok"], fb["stage"]) == (True, "done")
        assert _metrics(fb["checks"]) == {
            "transformed_min_rows": 1000,
            "transformed_id_unique": 0,
            "transformed_date_not_null": 0,
            "clicks_non_negative": 0,
            "media_cluster_domain": 0,
        }

    o = load_table(spark, SF_DIR, "orders")
    fact = o.select(
        F.col("o_orderstatus").alias("status"), F.col("o_orderpriority").alias("priority")
    )
    dim_metrics = {
        "dim_name_not_null": 0,
        "dim_company_not_null": 0,
        "dim_name_company_unique": 0,
        "dim_id_unique": 0,
    }
    for f, bridge_rows in ((fact, 15), (fact.where(F.col("status") != "P"), 10)):
        out = run_etl_pipeline(spark, f, ["status", "priority"], f"{root}/etl")
        assert out["ok"] is True
        assert out["results"]["bridge_rows"] == bridge_rows
        for col in ("status", "priority"):
            r = out["results"][col]
            assert (r["status"], r["in_sync"]) == ("synced", True)
            assert _metrics(r["checks"]) == dim_metrics


def test_retail_failing_suite_stops_downstream(spark, tmp_path, monkeypatch):
    """A failing suite fails the run and stops its downstream models: the
    failing model and everything upstream of it are written, the reports
    that read the fact never are."""
    from taico_data_integration_spark.checks.engine import Check
    from taico_data_integration_spark.pipelines import retail_pipeline

    monkeypatch.setattr(
        retail_pipeline,
        "retail_fct_suite",
        lambda: [Check("min_rows", "fct_impossible_rows", {"n": 10**12})],
    )
    out = run_retail_pipeline(spark, SF_DIR, str(tmp_path))
    assert out["ok"] is False
    assert [c["ok"] for c in out["checks"]["fct_invoices"]] == [False]
    assert all(c["ok"] for m in ("raw_invoices", "dim_product", "dim_datetime")
               for c in out["checks"][m])
    store = TableStore(spark, str(tmp_path))
    assert all(store.exists(t) for t in RETAIL_MODELS)
    assert not any(store.exists(t) for t in RETAIL_REPORTS)
