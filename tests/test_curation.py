"""Curation operators: planted-case tests for PII redaction, repetition,
contamination, dataset splitting, and the composite filter pass."""

from __future__ import annotations

from pyspark.sql import functions as F

from taico_data_integration_spark.llm.curation import (
    contamination_hits,
    count_pii,
    curation_flags,
    dataset_split,
    redact_pii,
    repetition_ratio_sql,
    split_bucket,
)
from taico_data_integration_spark.llm.text import tokens_sql


def test_redact_pii_planted(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at alice.smith+x@corp.example.org today"),
            (2, "server 192.168.001.42 and phone 555-123-4567"),
            (3, "no pii here at all"),
        ],
        ["id", "t"],
    )
    out = df.select(
        "id",
        redact_pii("t").alias("red"),
        count_pii("t")["n_emails"].alias("ne"),
        count_pii("t")["n_phones"].alias("np"),
        count_pii("t")["n_ips"].alias("ni"),
    ).collect()
    rows = {r["id"]: r for r in out}
    assert rows[1]["red"] == "mail me at <EMAIL> today"
    assert (rows[1]["ne"], rows[1]["np"], rows[1]["ni"]) == (1, 0, 0)
    assert rows[2]["red"] == "server <IP> and phone <PHONE>"
    assert (rows[2]["ne"], rows[2]["np"], rows[2]["ni"]) == (0, 1, 1)
    assert rows[3]["red"] == "no pii here at all"


def test_repetition_ratio_bounds(spark):
    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d"), (3, "x")], ["id", "t"]
    )
    toks = tokens_sql("t")
    rep = repetition_ratio_sql(f"size({toks})", f"size(array_distinct({toks}))")
    rows = {r["id"]: r["rep"] for r in df.selectExpr("id", f"{rep} AS rep").collect()}
    assert rows[1] == 0.75  # 1 distinct of 4
    assert rows[2] == 0.0
    assert rows[3] == 0.0


def test_dataset_split_deterministic_and_proportional(spark):
    df = spark.range(0, 5000).select(F.col("id"))
    a = df.select("id", dataset_split("id").alias("s"))
    b = df.repartition(13).select("id", dataset_split("id").alias("s"))
    assert a.exceptAll(b).count() == 0  # stable under repartition
    counts = {r["s"]: r["n"] for r in a.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert 0.75 < counts["train"] / 5000 < 0.85
    assert 0.07 < counts["valid"] / 5000 < 0.13
    assert 0.07 < counts["test"] / 5000 < 0.13
    assert df.select(split_bucket("id").alias("b")).where(
        (F.col("b") < 0) | (F.col("b") >= 100)
    ).count() == 0


def test_contamination_planted(spark):
    bench_text = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        [
            (1, bench_text, "bench"),
            (2, "prefix alpha beta gamma delta suffix words here", "corpus"),  # shares 4-gram
            (3, "totally different words with no overlap at all", "corpus"),
        ],
        ["doc_id", "text", "source"],
    )
    hits = contamination_hits(df, F.col("source") == "bench", k=4).collect()
    got = {r["doc_id"]: r["n_shared_ngrams"] for r in hits}
    assert got == {2: 1}  # only 'alpha beta gamma delta' is shared; doc 3 clean


def test_pack_into_shards_budget_and_order(spark):
    from taico_data_integration_spark.llm.curation import pack_into_shards

    df = spark.createDataFrame(
        [(i, "train", "s0", 700) for i in range(10)],
        ["doc_id", "split", "source", "n_tokens"],
    )
    out = pack_into_shards(df, budget=2000).collect()
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard_id"], []).append(r["n_tokens"])
    # 700-token docs, 2000 budget -> ceil-packed 3 per shard (starts 0,700,1400 < 2000)
    sizes = sorted(len(v) for v in by_shard.values())
    assert sizes == [1, 3, 3, 3]
    assert min(by_shard) == 0 and max(by_shard) == 3  # contiguous shard ids
    # deterministic across repartition
    again = pack_into_shards(df.repartition(7), budget=2000)
    assert pack_into_shards(df, budget=2000).exceptAll(again).count() == 0


def test_quality_quota_sample(spark):
    from taico_data_integration_spark.llm.curation import quality_quota_sample

    df = spark.createDataFrame(
        [(i, f"src{i % 3}", float(i % 7)) for i in range(60)],
        ["doc_id", "source", "quality"],
    )
    out = quality_quota_sample(df, quota=5)
    counts = out.groupBy("source").count().collect()
    assert all(r["count"] == 5 for r in counts)
    # top-quality rows selected, rank 1 is the best (ties broken by doc_id)
    best = {r["source"]: r for r in out.where(F.col("qrank") == 1).collect()}
    assert all(r["quality"] == 6.0 for r in best.values())


def test_cascade_rollup_matches_direct(spark):
    from taico_data_integration_spark.ops.rollup import cascade_rollup
    from taico_data_integration_spark.catalog import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "events")
    _m, _h, day = cascade_rollup(e)
    direct = (
        e.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("event_date"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
        )
    )
    joined = day.select("event_date", "event_type", "n_events", "total_value").join(
        direct, ["event_date", "event_type"], "full"
    )
    assert day.count() == direct.count()
    mismatch = joined.where(
        (day["n_events"] != direct["n_events"])
        | (day["total_value"] != direct["total_value"])
    )
    assert mismatch.count() == 0


def test_merge_rollup_equals_full_recompute(spark):
    """Incremental maintenance invariant: folding a time-sliced delta into
    the stored rollup reproduces the full recompute exactly (exact DECIMAL
    sums — no drift, any split point)."""
    from taico_data_integration_spark.catalog import load_table
    from taico_data_integration_spark.ops.rollup import cascade_rollup, merge_rollup

    e = load_table(spark, "/root/testdata/sf0.001", "events")
    cut = "2024-01-15"
    old = e.where(F.col("ts") < F.to_timestamp(F.lit(cut)))
    new = e.where(F.col("ts") >= F.to_timestamp(F.lit(cut)))
    _m, _h, full = cascade_rollup(e)
    _m, _h, d_old = cascade_rollup(old)
    _m, _h, d_new = cascade_rollup(new)
    keys = ["event_date", "event_type"]
    sums = ["n_events", "total_value"]
    merged = merge_rollup(
        d_old.select(*keys, *sums), d_new.select(*keys, *sums), keys, sums
    )
    full_sel = full.select(*keys, *sums)
    # n_active_hours intentionally excluded: it is NOT additive across a
    # split that cuts through an hour — only pure sums merge.
    assert merged.exceptAll(full_sel).count() == 0
    assert full_sel.exceptAll(merged).count() == 0


def test_curation_flags_consistency(spark):
    df = spark.createDataFrame(
        [(1, "the a of and to in is it that for " * 10), (2, "zz zz zz zz zz")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in curation_flags(df).collect()}
    # doc 1: long, english, but pure stopword repetition -> dropped for repetition
    assert rows[1]["detected_lang"] == "en" and not rows[1]["too_short"]
    assert rows[1]["high_repetition"] and not rows[1]["keep"]
    # doc 2: short, non-english, repetitious -> multiple reasons, dropped
    r2 = rows[2]
    assert r2["too_short"] and r2["non_en"] and not r2["keep"]
    # keep == NOT(any flag) invariant on the fixture corpus
    prof = curation_flags(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    )
    bad = prof.where(
        F.col("keep")
        != ~(
            F.col("too_short")
            | F.col("high_repetition")
            | F.col("low_quality")
            | F.col("non_en")
        )
    )
    assert bad.count() == 0
