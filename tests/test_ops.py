"""Unit tests for the sync/dimension/incremental operator library against
small in-memory frames (reference semantics per SURVEY.md §2.3/§2.9)."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from taico_data_integration_spark.ops.dims import (
    distinct_extract,
    insert_if_not_exists,
    mint_ids,
    mint_ids_distributed,
    mirror_sync,
    missing_values,
    new_values,
    validate_sync,
)
from taico_data_integration_spark.ops.incremental import (
    TableStore,
    incremental_new_rows,
    merge_upsert,
    promote_tenant,
)


def _dim(spark, rows):
    return spark.createDataFrame([Row(id=i, name=n, company_id=c) for i, n, c in rows])


def test_distinct_extract_drops_nulls(spark):
    df = spark.createDataFrame(
        [Row(channel="tv"), Row(channel=None), Row(channel="tv"), Row(channel="web")]
    )
    got = {r.name for r in distinct_extract(df, "channel").collect()}
    assert got == {"tv", "web"}


def test_insert_if_not_exists_appends_only_new(spark):
    existing = _dim(spark, [(1, "tv", 10), (2, "web", 10)])
    incoming = _dim(spark, [(99, "web", 10), (98, "radio", 10)])
    out = insert_if_not_exists(incoming, existing, ["name", "company_id"])
    rows = {(r.id, r.name) for r in out.collect()}
    assert rows == {(1, "tv"), (2, "web"), (98, "radio")}  # web kept with old id


def test_new_and_missing_values(spark):
    existing = _dim(spark, [(1, "tv", 10), (2, "web", 10)])
    incoming = _dim(spark, [(0, "web", 10), (0, "radio", 10)])
    assert {r.name for r in new_values(incoming, existing, ["name"]).collect()} == {"radio"}
    assert {r.name for r in missing_values(existing, incoming, ["name"]).collect()} == {"tv"}


def test_mirror_sync_keeps_ids_and_drops_absent(spark):
    existing = _dim(spark, [(1, "tv", 10), (2, "web", 10), (3, "print", 10)])
    incoming = spark.createDataFrame([Row(name="web"), Row(name="radio")])
    kept, added = mirror_sync(existing, incoming, ["name"])
    assert {(r.id, r.name) for r in kept.collect()} == {(2, "web")}
    assert {r.name for r in added.collect()} == {"radio"}


def test_mint_ids_deterministic(spark):
    df = spark.createDataFrame([Row(name=n) for n in ["c", "a", "b"]])
    got = [(r.id, r.name) for r in mint_ids(df, ["name"], start_at=5).orderBy("id").collect()]
    assert got == [(5, "a"), (6, "b"), (7, "c")]


def test_validate_sync_directions(spark):
    extracted = spark.createDataFrame([Row(name="a"), Row(name="b"), Row(name="c")])
    stored = spark.createDataFrame([Row(name="b"), Row(name="z")])
    res = {r.direction: r.missing_count for r in validate_sync(extracted, stored, ["name"]).collect()}
    assert res == {"extracted_not_stored": 2, "stored_not_extracted": 1}


def test_incremental_new_rows_watermark(spark):
    target = spark.createDataFrame([Row(k=1, ts=10), Row(k=2, ts=20)])
    source = spark.createDataFrame([Row(k=3, ts=20), Row(k=4, ts=21), Row(k=5, ts=30)])
    got = {r.k for r in incremental_new_rows(source, target, "ts").collect()}
    assert got == {4, 5}


def test_merge_upsert_schema_evolution(spark):
    """mergeSchema analog: a new column in updates joins the result with
    NULL on pre-existing rows; updates still win on shared columns; the
    strict default keeps rejecting unknown columns by selecting them away."""
    target = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    updates = spark.createDataFrame([(2, "B", 9.0), (3, "c", 7.0)], "k long, v string, extra double")
    got = {
        (r.k): (r.v, r.extra)
        for r in merge_upsert(target, updates, ["k"], evolve_schema=True).collect()
    }
    assert got == {1: ("a", None), 2: ("B", 9.0), 3: ("c", 7.0)}
    # default path: output schema stays the target's
    assert merge_upsert(target, updates, ["k"]).columns == ["k", "v"]


def test_merge_upsert_updates_win(spark):
    target = spark.createDataFrame([Row(k=1, v="old"), Row(k=2, v="keep")])
    updates = spark.createDataFrame([Row(k=1, v="new"), Row(k=3, v="ins")])
    got = {(r.k, r.v) for r in merge_upsert(target, updates, ["k"]).collect()}
    assert got == {(1, "new"), (2, "keep"), (3, "ins")}


def test_promote_tenant_swaps_scope_only(spark):
    prod = spark.createDataFrame([Row(company_id=1, v="p1"), Row(company_id=2, v="p2")])
    staging = spark.createDataFrame([Row(company_id=1, v="s1"), Row(company_id=2, v="s2")])
    got = {(r.company_id, r.v) for r in promote_tenant(prod, staging, F.col("company_id") == 1).collect()}
    assert got == {(1, "s1"), (2, "p2")}


def test_partitioned_table_dynamic_overwrite(spark, tmp_path):
    from taico_data_integration_spark.ops.incremental import PartitionedTable

    t = PartitionedTable(spark, str(tmp_path / "pt"), ["company_id"])
    full = spark.createDataFrame(
        [Row(company_id=c, v=f"old{c}-{i}") for c in (1, 2, 3) for i in range(3)]
    )
    t.write_full(full)
    # M4: replace ONLY company 2's scope
    t.overwrite_partitions(
        spark.createDataFrame([Row(company_id=2, v="new2-0")])
    )
    got = {(r.company_id, r.v) for r in t.read().collect()}
    assert (2, "new2-0") in got
    assert sum(1 for c, _ in got if c == 2) == 1  # old company-2 rows gone
    assert sum(1 for c, _ in got if c == 1) == 3  # other tenants untouched


def test_erase_subjects_across_tables(spark, tmp_path):
    from taico_data_integration_spark.ops.deletion import erase_subjects
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    store.write("events_t", spark.createDataFrame([Row(user_id=u, v=i) for i, u in enumerate([1, 1, 2, 3])]))
    store.write("profile_t", spark.createDataFrame([Row(uid=u, name=f"u{u}") for u in (1, 2, 3)]))
    subjects = spark.createDataFrame([Row(subject=1)])
    report = erase_subjects(
        store,
        subjects,
        {"events_t": {"user_id": "subject"}, "profile_t": {"uid": "subject"}},
    )
    assert report["events_t"]["deleted"] == 2
    assert report["profile_t"]["deleted"] == 1
    assert store.read("events_t").where("user_id = 1").count() == 0
    # audit trail: pre-erasure version still addressable until vacuumed
    assert store.read("events_t", version=0).where("user_id = 1").count() == 2
    removed = store.vacuum("events_t", keep_latest=1)
    assert removed == [0]
    assert store.read("events_t").where("user_id = 1").count() == 0
    import pytest as _pt

    with _pt.raises(ValueError, match="vacuumed"):
        store.read("events_t", version=0)


def test_erase_subjects_routes_through_cow_fast_path(spark, tmp_path):
    """Round 9: GDPR erasure on a COW-capable store takes the file-level
    fast path automatically — composite keys and tenant-partitioned
    layouts included — hard-linking every file the subjects don't live
    in; an oversized subject set falls back to the full rewrite with
    identical results."""
    from taico_data_integration_spark.ops.deletion import erase_subjects
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(6_000).selectExpr(
        "id AS user_id",
        "CAST(id % 3 AS INT) AS tenant",
        "CAST(id % 17 AS INT) AS region",
        "CAST(id AS DOUBLE) AS v",
    )
    store.write("events_p", df.repartitionByRange(3, "user_id"), partition_by=["tenant"])
    store.write("profile_c", df.repartition(3))
    store.optimize_layout("profile_c", ["user_id"], num_files=6)

    subjects = spark.createDataFrame(
        [(7, 7 % 17), (8, 8 % 17), (9, 9 % 17)], "subject bigint, sregion int"
    )
    report = erase_subjects(
        store,
        subjects,
        {
            "events_p": {"user_id": "subject"},  # partitioned, single key
            "profile_c": {"user_id": "subject", "region": "sregion"},  # composite
        },
    )
    for t in ("events_p", "profile_c"):
        assert report[t]["path"] == "cow-fast", report[t]
        assert report[t]["deleted"] == 3
        assert report[t]["files_linked"] >= 1, report[t]
        assert store.read(t).where(F.col("user_id").isin([7, 8, 9])).count() == 0
    # pre-erasure version stays addressable (audit contract unchanged)
    assert store.read("profile_c", version=0).where("user_id = 7").count() == 1

    # oversized subject set: transparent full-rewrite fallback, same result
    store.write("t_small", df.limit(100))
    report2 = erase_subjects(
        store, subjects, {"t_small": {"user_id": "subject"}}, max_fast_keys=1
    )
    assert report2["t_small"]["path"] == "full-rewrite"
    assert report2["t_small"]["deleted"] == 3

    # the full-rewrite fallback PRESERVES a partitioned layout (round 9 —
    # it used to silently flatten, losing partition pruning)
    more = spark.createDataFrame([(100, 100 % 17), (101, 101 % 17)], "subject bigint, sregion int")
    report_p = erase_subjects(
        store, more, {"events_p": {"user_id": "subject"}}, max_fast_keys=1
    )
    assert report_p["events_p"]["path"] == "full-rewrite"
    assert store.current_partition_columns("events_p") == ["tenant"]
    assert store.read("events_p").where("tenant = 0").count() > 0
    # all-NULL subject keys: version-free no-op on the fast path
    nulls = spark.createDataFrame([(None,)], "subject bigint")
    v_before = store._read_meta("t_small")["current"]
    report3 = erase_subjects(store, nulls, {"t_small": {"user_id": "subject"}})
    assert report3["t_small"]["path"] == "noop"
    assert store._read_meta("t_small")["current"] == v_before


def test_erase_subjects_contract_miss_vs_misuse(spark, tmp_path):
    """ADVICE r9: the fast path's fallback catches ONLY documented
    contract misses (CowContractError: an uncastable key) —
    a wrong column name in table_key_cols is a programming error and
    propagates instead of silently paying a full rewrite per call."""
    import pytest as _pt

    from taico_data_integration_spark.ops.deletion import erase_subjects
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    store.write("t", spark.createDataFrame([Row(uid=u, v=u * 2) for u in range(20)]))
    # misuse: column not in the table -> propagates
    with _pt.raises(ValueError, match="column nope not in t"):
        erase_subjects(
            store,
            spark.createDataFrame([Row(subject=3)]),
            {"t": {"nope": "subject"}},
        )
    # contract miss: key value uncastable to the column type -> transparent
    # full-rewrite fallback, castable keys still erased via the anti-join
    report = erase_subjects(
        store,
        spark.createDataFrame([Row(subject="not-a-number"), Row(subject="3")]),
        {"t": {"uid": "subject"}},
    )
    assert report["t"]["path"] == "full-rewrite"
    assert report["t"]["deleted"] == 1
    assert store.read("t").where("uid = 3").count() == 0


def test_erase_subjects_non_cow_store_falls_back(spark, tmp_path):
    """A store WITHOUT the cow-mutations capability (SqlWarehouseFormat)
    takes the anti-join full rewrite — same rows out, path recorded."""
    from taico_data_integration_spark.ops.deletion import erase_subjects
    from taico_data_integration_spark.ops.formats import SqlWarehouseFormat

    fmt = SqlWarehouseFormat(
        spark, f"erase_{abs(hash(str(tmp_path))) % 10**8}", str(tmp_path / "wh")
    )
    try:
        fmt.write("t", spark.createDataFrame(
            [Row(uid=u, v=u * 2) for u in range(20)]
        ))
        report = erase_subjects(
            fmt,
            spark.createDataFrame([Row(subject=3), Row(subject=7)]),
            {"t": {"uid": "subject"}},
        )
        assert report["t"]["path"] == "full-rewrite"
        assert report["t"]["deleted"] == 2
        assert fmt.read("t").where("uid IN (3, 7)").count() == 0
    finally:
        fmt.drop_namespace()


def test_zscore_grouped_map_matches_window(spark):
    from taico_data_integration_spark.ops.grouped import zscore_apply_in_pandas, zscore_window

    df = spark.createDataFrame(
        [Row(g=g, id=i, v=float(i * (g + 1) % 7)) for g in (0, 1) for i in range(20)]
    )
    win = {(r.g, r.id): r.zscore for r in zscore_window(df, "g", "v").collect()}
    pan = {(r.g, r.id): r.zscore for r in zscore_apply_in_pandas(df, "g", "v").collect()}
    assert win.keys() == pan.keys()
    for k in win:
        assert abs(win[k] - pan[k]) < 1e-6


def test_suite_from_spec_roundtrip(spark):
    from taico_data_integration_spark.checks.engine import run_checks, suite_from_spec

    df = spark.createDataFrame([Row(id=1, name="a"), Row(id=1, name=None)])
    suite = suite_from_spec(
        [
            {"kind": "not_null", "name": "name_nn", "column": "name"},
            {"kind": "unique", "name": "id_uq", "columns": ["id"]},
            {"kind": "min_rows", "name": "mr", "n": 1},
        ]
    )
    res = {r["name"]: r for r in run_checks(df, suite)}
    assert res["name_nn"]["metric"] == 1
    assert res["id_uq"]["metric"] == 1
    assert res["mr"]["ok"]


def test_tablestore_promote_and_rollback(spark, tmp_path):
    store = TableStore(spark, str(tmp_path))
    good = spark.createDataFrame([Row(id=i) for i in range(5)])
    bad = spark.createDataFrame([Row(id=-1)])
    store.write("t", good)
    assert store.read("t").count() == 5
    # M6: failed validation rolls back to the previous version
    ok = store.promote_with_validation("t", bad, validate=lambda df: df.where("id < 0").count() == 0)
    assert not ok
    assert store.read("t").count() == 5
    ok = store.promote_with_validation("t", good.union(good), validate=lambda df: df.count() >= 5)
    assert ok
    assert store.read("t").count() == 10


@pytest.fixture(params=["versioned_parquet", "sql_warehouse"])
def table_format(request, spark, tmp_path):
    """Both TableFormat implementations behind the lakehouse seam
    (VERDICT r2 'Next round' #3): the lifecycle conformance suite below must
    pass identically against each."""
    if request.param == "versioned_parquet":
        yield TableStore(spark, str(tmp_path / "store"))
    else:
        from taico_data_integration_spark.ops.formats import SqlWarehouseFormat

        fmt = SqlWarehouseFormat(
            spark, f"conf_{abs(hash(str(tmp_path))) % 10**8}", str(tmp_path / "wh")
        )
        yield fmt
        fmt.drop_namespace()


def test_format_lifecycle_conformance(spark, table_format):
    """M2-M6 lifecycle against the TableFormat seam: versioned write/read,
    merge, failed-promotion rollback, history, version diff, vacuum —
    format-portable by construction."""
    fmt = table_format
    good = spark.createDataFrame([Row(id=i, s=chr(97 + i)) for i in range(5)])
    bad = spark.createDataFrame([Row(id=-1, s="x")])

    assert not fmt.exists("t")
    v0 = fmt.write("t", good)
    assert v0 == 0 and fmt.exists("t") and fmt.read("t").count() == 5

    # M5 merge written back as a new version
    updates = spark.createDataFrame([Row(id=4, s="Z"), Row(id=9, s="new")])
    merged = merge_upsert(fmt.read("t"), updates, ["id"])
    v1 = fmt.write("t", merged)
    assert v1 == 1
    assert {(r.id, r.s) for r in fmt.read("t").collect()} == {
        (0, "a"), (1, "b"), (2, "c"), (3, "d"), (4, "Z"), (9, "new"),
    }

    # M6: failed validation rolls back; the pinned old version stays readable
    ok = fmt.promote_with_validation(
        "t", bad, validate=lambda df: df.where("id < 0").count() == 0
    )
    assert not ok and fmt.read("t").count() == 6
    assert fmt.read("t", version=0).count() == 5

    # history: v2 (the failed write) exists but v1 is current
    hist = fmt.history("t")
    assert [h["v"] for h in hist] == [2, 1, 0]
    assert [h["is_current"] for h in hist] == [False, True, False]

    # version diff between v0 and v1
    d = {(r["id"], r["s"], r["__change"]) for r in fmt.diff("t", 0, 1).collect()}
    assert d == {(4, "Z", "added"), (9, "new", "added"), (4, "e", "removed")}

    # successful promotion then vacuum old versions
    ok = fmt.promote_with_validation("t", good, validate=lambda df: df.count() == 5)
    assert ok and fmt.read("t").count() == 5
    removed = fmt.vacuum("t", keep_latest=1)
    assert removed and fmt.read("t").count() == 5


def test_format_capability_matrix(spark, table_format):
    """VERDICT r8 #6: the extended-surface asymmetry between the two
    TableFormat implementations is DECLARED (CAPABILITIES) and the
    declaration must match the code in both directions — a declared
    capability with a missing method fails, and an implemented method
    whose capability is undeclared fails too, so the matrix can never
    silently drift."""
    from taico_data_integration_spark.ops.formats import CAPABILITY_METHODS

    fmt = table_format
    unknown = fmt.CAPABILITIES - set(CAPABILITY_METHODS)
    assert not unknown, f"undeclared capability keys: {unknown}"
    for cap, methods in CAPABILITY_METHODS.items():
        for m in methods:
            if cap in fmt.CAPABILITIES:
                assert callable(getattr(fmt, m, None)), (
                    f"{type(fmt).__name__} declares {cap} but lacks {m}"
                )
            else:
                assert not hasattr(fmt, m), (
                    f"{type(fmt).__name__} implements {m} without declaring {cap}"
                )


def test_format_vacuum_retention_conformance(spark, table_format):
    """VERDICT r7 #4: vacuum semantics must be format-portable too —
    keep_latest=0 means 'keep only current' (the naive [-0:] slice keeps
    everything), and min_age_seconds is the reader-retention horizon
    measured from the SUPERSEDING version's commit time, on BOTH formats."""
    import time as _time

    fmt = table_format
    df = lambda n: spark.range(n).selectExpr("id", "id * 2 AS v")
    fmt.write("t", df(3))  # v0
    fmt.write("t", df(4))  # v1: supersedes v0 NOW
    _time.sleep(1.2)
    fmt.write("t", df(5))  # v2 (current): supersedes v1 NOW

    # a generous retention window protects every superseded version
    assert fmt.vacuum("t", keep_latest=0, min_age_seconds=3600.0) == []
    assert [h["v"] for h in fmt.history("t")] == [2, 1, 0]

    # a window strictly between the two supersession ages (derived from
    # the committed timestamps, so no wall-clock assumptions) reclaims v0
    # — superseded at v1's commit, long enough ago — but still shields v1,
    # superseded only at v2's commit
    ts = {h["v"]: h["ts"] for h in fmt.history("t")}
    now = _time.time()
    mid_age = ((now - ts[1]) + (now - ts[2])) / 2
    assert now - ts[1] > mid_age > now - ts[2] > 0
    assert fmt.vacuum("t", keep_latest=0, min_age_seconds=mid_age) == [0]
    assert [h["v"] for h in fmt.history("t")] == [2, 1]

    # keep_latest=0 with no retention window keeps ONLY current (the
    # TableStore slice bug r7 caught — the formats twin lacked the audit)
    assert fmt.vacuum("t", keep_latest=0) == [1]
    assert [h["v"] for h in fmt.history("t")] == [2]
    assert fmt.read("t").count() == 5
    # the reclaimed version is gone loudly, not readable stale
    with pytest.raises(Exception):
        fmt.read("t", version=1).collect()


def test_format_read_as_of_time_travel_both_formats(spark, tmp_path):
    """TIMESTAMP AS OF from the seam: a timestamp between two commits reads
    the older version, after the last commit reads current, before the
    first raises — identical on both formats (the method lives on the ABC)."""
    import time as _time

    from taico_data_integration_spark.ops.formats import SqlWarehouseFormat

    fmts = {
        "store": TableStore(spark, str(tmp_path / "aostore")),
        "wh": SqlWarehouseFormat(
            spark, f"ao_{abs(hash(str(tmp_path))) % 10**8}", str(tmp_path / "aowh")
        ),
    }
    v0 = spark.createDataFrame([Row(id=1)])
    v1 = spark.createDataFrame([Row(id=1), Row(id=2)])
    try:
        for name, fmt in fmts.items():
            t_before = _time.time() - 1.0
            fmt.write("t", v0)
            _time.sleep(1.1)  # getmtime granularity on some filesystems
            t_mid = _time.time()
            _time.sleep(1.1)
            fmt.write("t", v1)
            assert fmt.read_as_of("t", t_mid).count() == 1, name
            assert fmt.read_as_of("t", _time.time()).count() == 2, name
            import datetime as dt

            assert fmt.read_as_of("t", dt.datetime.fromtimestamp(t_mid)).count() == 1
            with pytest.raises(ValueError):
                fmt.read_as_of("t", t_before)
    finally:
        fmts["wh"].drop_namespace()


@pytest.mark.parametrize("seed", [2, 9])
def test_table_changes_roundtrip_and_model(spark, tmp_path, seed):
    """Key-based change feed (Delta CDF analog), two oracles at once:
    (a) fuzz vs a pure-Python diff of the two keyed states — including
    NULL→value flips, which must be updates under null-safe equality;
    (b) the gold invariant: cdc_apply(v_old, table_changes) == v_new."""
    import random

    from taico_data_integration_spark.ops.cdc import cdc_apply

    rng = random.Random(seed)

    def state():
        return {
            k: rng.choice([None, float(rng.randint(0, 5))])
            for k in rng.sample(range(12), rng.randint(1, 10))
        }

    s_old, s_new = state(), state()
    store = TableStore(spark, str(tmp_path))
    to_df = lambda s: spark.createDataFrame(list(s.items()), "id long, v double")
    store.write("t", to_df(s_old))
    store.write("t", to_df(s_new))
    ch = store.table_changes("t", 0, 1, ["id"])
    got = {(r.id): (r.v, r._change_type) for r in ch.collect()}

    expected = {}
    for k in set(s_old) | set(s_new):
        if k not in s_old:
            expected[k] = (s_new[k], "insert")
        elif k not in s_new:
            expected[k] = (s_old[k], "delete")
        elif s_old[k] != s_new[k]:
            expected[k] = (s_new[k], "update_postimage")
    assert got == expected, f"seed {seed}"

    # replayability: the feed applied onto v0 reconstructs v1 exactly
    log = ch.select(
        "id",
        "v",
        F.when(F.col("_change_type") == "delete", "D")
        .when(F.col("_change_type") == "insert", "I")
        .otherwise("U")
        .alias("op"),
        F.lit(0).alias("seq"),
    )
    replayed = {
        (r.id, r.v) for r in cdc_apply(store.read("t", 0), log, ["id"]).collect()
    }
    assert replayed == {(k, v) for k, v in s_new.items()}


def test_format_history_and_diff_parity_across_formats(spark, tmp_path):
    """VERDICT r5 #6: the conformance suite grades each format in its own
    test run; this runs ONE promote+rollback script through BOTH formats in
    lockstep and asserts the observable outputs are IDENTICAL — history
    shape (version sequence + current flag) and row-level diffs after every
    step — pinning TableFormat as a real contract rather than two parallel
    implementations that each merely pass their own run."""
    from taico_data_integration_spark.ops.formats import SqlWarehouseFormat

    fmts = {
        "store": TableStore(spark, str(tmp_path / "store")),
        "wh": SqlWarehouseFormat(
            spark, f"par_{abs(hash(str(tmp_path))) % 10**8}", str(tmp_path / "wh")
        ),
    }
    base = spark.createDataFrame([Row(id=i, s=chr(97 + i)) for i in range(4)])
    upd = spark.createDataFrame([Row(id=3, s="Z"), Row(id=7, s="new")])
    bad = spark.createDataFrame([Row(id=-1, s="x")])

    def hist_shape(fmt):
        return [(h["v"], h["is_current"]) for h in fmt.history("t")]

    def diff_set(fmt, a, b):
        return {(r["id"], r["s"], r["__change"]) for r in fmt.diff("t", a, b).collect()}

    try:
        # identical script, step by step; compare after EVERY step
        script = [
            lambda f: f.write("t", base),
            lambda f: f.write("t", merge_upsert(f.read("t"), upd, ["id"])),
            lambda f: f.promote_with_validation(
                "t", bad, validate=lambda d: d.where("id < 0").count() == 0
            ),
            lambda f: f.rollback("t", to_version=0),
        ]
        for i, step in enumerate(script):
            rets = {k: step(f) for k, f in fmts.items()}
            assert rets["store"] == rets["wh"], f"step {i} return values diverge"
            assert hist_shape(fmts["store"]) == hist_shape(fmts["wh"]), f"step {i}"
            cur = {
                k: {(r.id, r.s) for r in f.read("t").collect()} for k, f in fmts.items()
            }
            assert cur["store"] == cur["wh"], f"step {i} current rows diverge"
        # full pairwise diff parity over the committed versions
        versions = [h["v"] for h in fmts["store"].history("t")]
        for a in versions:
            for b in versions:
                if a < b:
                    assert diff_set(fmts["store"], a, b) == diff_set(fmts["wh"], a, b)
    finally:
        fmts["wh"].drop_namespace()


def test_format_rollback_rejects_uncommitted_target(spark, table_format):
    """Contract pin (found by the fuzz below): rollback to a version that
    was never committed — or was vacuumed — must raise ValueError on BOTH
    formats, never a raw catalog error or a silent repoint.
    SqlWarehouseFormat previously skipped this validation."""
    fmt = table_format
    fmt.write("t", spark.createDataFrame([Row(id=1, s="a")]))
    with pytest.raises(ValueError, match="not committed"):
        fmt.rollback("t", to_version=99)
    assert [h["v"] for h in fmt.history("t") if h["is_current"]] == [0]


@pytest.mark.parametrize("seed", [11, 23, 47, 83])
def test_format_contract_fuzz_parity(spark, tmp_path, seed):
    """Randomized extension of the fixed-script parity test above: a seeded
    random sequence of write / upsert / good-promote / bad-promote /
    rollback (implicit, explicit, and invalid-target) / vacuum ops is run
    through TableStore AND SqlWarehouseFormat in lockstep, asserting after
    EVERY step that return values (or exception types), history shapes, and
    current rows agree — and at the end that pairwise diffs over every
    surviving version pair agree. Deterministic seeds, no shrinking needed:
    a divergence pinpoints the step and op in the assertion message."""
    import random

    from taico_data_integration_spark.ops.formats import SqlWarehouseFormat

    rng = random.Random(seed)
    fmts = {
        "store": TableStore(spark, str(tmp_path / "store")),
        "wh": SqlWarehouseFormat(
            spark, f"fuzz_{seed}_{abs(hash(str(tmp_path))) % 10**8}", str(tmp_path / "wh")
        ),
    }

    def rand_df(n_lo=2, n_hi=6):
        ids = rng.sample(range(12), rng.randint(n_lo, n_hi))
        return spark.createDataFrame(
            [Row(id=i, s=rng.choice("abcxyz")) for i in sorted(ids)]
        )

    def hist_shape(fmt):
        return [(h["v"], h["is_current"]) for h in fmt.history("t")]

    def apply(fmt, op, arg):
        """Run one op; exceptions are data — return ('raised', type name)."""
        try:
            if op == "write":
                return fmt.write("t", arg)
            if op == "upsert":
                return fmt.write("t", merge_upsert(fmt.read("t"), arg, ["id"]))
            if op == "promote":
                df, _intent = arg  # intent only labels the step; validate decides
                return fmt.promote_with_validation(
                    "t", df, validate=lambda d: d.where("id < 0").count() == 0
                )
            if op == "rollback":
                return fmt.rollback("t", to_version=arg)
            if op == "vacuum":
                return fmt.vacuum("t", keep_latest=arg)
            raise AssertionError(op)
        except Exception as e:  # noqa: BLE001 — parity on the exception type
            return ("raised", type(e).__name__)

    try:
        # first op is always a write so the table exists
        steps = [("write", rand_df())]
        for _ in range(9):
            steps.append(rng.choice(["write", "upsert", "promote", "rollback",
                                     "rollback_to", "bad_rollback", "vacuum"]))
        for i, step in enumerate(steps):
            if isinstance(step, tuple):
                op, arg = step
            else:
                op = step
                if op == "write" or op == "upsert":
                    arg = rand_df()
                elif op == "promote":
                    bad = rng.random() < 0.4
                    df = rand_df()
                    if bad:
                        df = df.union(spark.createDataFrame([Row(id=-1, s="x")]))
                    arg = (df, not bad)
                elif op == "rollback":
                    arg = None
                elif op == "rollback_to":
                    op = "rollback"
                    versions = [h["v"] for h in fmts["store"].history("t")]
                    arg = rng.choice(versions)
                elif op == "bad_rollback":
                    op = "rollback"
                    committed = {h["v"] for h in fmts["store"].history("t")}
                    arg = max(committed, default=-1) + 100  # never committed
                else:  # vacuum
                    arg = rng.randint(1, 3)
            # randomized frames are actions with side effects — build once,
            # hand the SAME frame to both formats
            rets = {k: apply(f, op, arg) for k, f in fmts.items()}
            ctx = f"seed={seed} step={i} op={op} arg={arg}"
            assert rets["store"] == rets["wh"], f"{ctx}: returns diverge {rets}"
            assert hist_shape(fmts["store"]) == hist_shape(fmts["wh"]), ctx
            cur = {
                k: {(r.id, r.s) for r in f.read("t").collect()}
                for k, f in fmts.items()
            }
            assert cur["store"] == cur["wh"], f"{ctx}: current rows diverge"
        versions = [h["v"] for h in fmts["store"].history("t")]
        for a in versions:
            for b in versions:
                if a < b:
                    da = {
                        (r["id"], r["s"], r["__change"])
                        for r in fmts["store"].diff("t", a, b).collect()
                    }
                    db = {
                        (r["id"], r["s"], r["__change"])
                        for r in fmts["wh"].diff("t", a, b).collect()
                    }
                    assert da == db, f"seed={seed} diff({a},{b}) diverges"
    finally:
        fmts["wh"].drop_namespace()


def test_format_concurrent_promotes_one_table(spark, table_format):
    """VERDICT r4 #6: two writers promoting the SAME table concurrently.
    Optimistic contract: both commit DISTINCT versions (TableStore: CAS
    claim files; SqlWarehouseFormat: per-namespace lock), history stays
    complete and clean (no lost rows, no duplicate version numbers), and
    exactly one version is current at the end."""
    import threading

    fmt = table_format
    fmt.write("t", spark.createDataFrame([Row(id=0, s="base")]))

    frames = {
        "a": spark.createDataFrame([Row(id=i, s="a") for i in range(1, 4)]),
        "b": spark.createDataFrame([Row(id=i, s="b") for i in range(1, 5)]),
    }
    results: dict[str, bool] = {}
    errors: list[BaseException] = []
    barrier = threading.Barrier(2)

    def promote(key):
        try:
            barrier.wait(timeout=30)
            results[key] = fmt.promote_with_validation(
                "t", frames[key], validate=lambda df: df.count() > 0
            )
        except BaseException as e:  # noqa: BLE001 - surface to the main thread
            errors.append(e)

    threads = [threading.Thread(target=promote, args=(k,)) for k in frames]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not errors, errors
    assert results == {"a": True, "b": True}

    hist = fmt.history("t")
    assert sorted(h["v"] for h in hist) == [0, 1, 2]  # no lost/duplicate versions
    assert sum(h["is_current"] for h in hist) == 1
    # current is one of the two promoted frames, intact
    got = {(r.id, r.s) for r in fmt.read("t").collect()}
    assert got in (
        {(r.id, r.s) for r in frames["a"].collect()},
        {(r.id, r.s) for r in frames["b"].collect()},
    )
    # and BOTH committed versions are readable by pin, whichever won
    sizes = {fmt.read("t", version=v).count() for v in (1, 2)}
    assert sizes == {3, 4}


def test_tablestore_killed_writer_leaves_no_ghost_version(spark, tmp_path):
    """A writer hard-killed between the version-dir claim and the commit
    marker must be invisible: history/read skip the uncommitted directory,
    the next writer claims a FRESH version number (never reuses the dead
    claim), and vacuum sweeps the orphan directory."""
    import os

    store = TableStore(spark, str(tmp_path / "store"))
    store.write("t", spark.createDataFrame([Row(id=1)]))

    # simulate the kill: claim exists, data dir exists, no _SUCCESS marker
    tdir = str(tmp_path / "store" / "t")
    open(os.path.join(tdir, "_claims", "v0001"), "w").close()
    os.makedirs(os.path.join(tdir, "v0001"))
    open(os.path.join(tdir, "v0001", "part-zombie.parquet"), "w").close()

    assert [h["v"] for h in store.history("t")] == [0]
    v = store.write("t", spark.createDataFrame([Row(id=2)]))
    assert v == 2  # dead claim's number is never reused
    assert [h["v"] for h in store.history("t")] == [2, 0]
    # ttl=0: the default 1h grace protects a LIVE direct-publish writer's
    # marker-less in-flight dir (round 10); this writer is provably dead
    store.vacuum("t", keep_latest=2, stage_ttl_seconds=0.0)
    assert not os.path.isdir(os.path.join(tdir, "v0001"))  # orphan swept
    assert store.read("t").count() == 1


def test_tablestore_cross_process_promote_race(spark, tmp_path):
    """VERDICT r5 #2: the r5 race test ran threads in ONE interpreter; this
    one runs two REAL OS processes, each with its own SparkSession/JVM,
    promoting the same table of one shared TableStore root concurrently.
    The O_CREAT|O_EXCL claim, the marker-last _SUCCESS commit gate and
    the O_EXCL pointer-log swap are OS-level primitives — this is the boundary they were designed
    for. Same assertions as the thread test: both promotes succeed with
    DISTINCT versions, history complete and clean, exactly one current,
    both versions readable by pin."""
    import subprocess
    import sys

    root = str(tmp_path / "store")
    store = TableStore(spark, root)
    store.write("t", spark.createDataFrame([Row(id=0, s="base")]))

    worker = os.path.join(os.path.dirname(__file__), "_tablestore_worker.py")
    env = dict(os.environ, PYTHONPATH=os.path.dirname(os.path.dirname(worker)))
    go = str(tmp_path / "go")
    procs, readies, results = [], {}, {}
    for key in ("a", "b"):
        readies[key] = str(tmp_path / f"ready_{key}")
        results[key] = str(tmp_path / f"result_{key}.json")
        procs.append(
            subprocess.Popen(
                [sys.executable, worker, "promote", root, key, readies[key], go, results[key]],
                env=env,
            )
        )
    try:
        deadline = time.time() + 180
        while not all(os.path.exists(r) for r in readies.values()):
            assert time.time() < deadline, "workers never came up"
            assert all(p.poll() is None for p in procs), "a worker died before ready"
            time.sleep(0.1)
        open(go, "w").close()  # barrier release: both promote at once
        for p in procs:
            assert p.wait(timeout=180) == 0
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
    for key in ("a", "b"):
        with open(results[key]) as f:
            assert json.load(f) == {"ok": True}, key

    hist = store.history("t")
    assert sorted(h["v"] for h in hist) == [0, 1, 2]  # no lost/duplicate versions
    assert sum(h["is_current"] for h in hist) == 1
    got = {(r.id, r.s) for r in store.read("t").collect()}
    assert got in (
        {(i, "a") for i in range(1, 4)},
        {(i, "b") for i in range(1, 5)},
    )
    assert {store.read("t", version=v).count() for v in (1, 2)} == {3, 4}


def test_tablestore_sigkilled_process_ghost_swept(spark, tmp_path):
    """VERDICT r5 #2, second half: a real writer PROCESS hard-killed
    (SIGKILL — no cleanup code runs) between the version claim and the
    commit marker. The ghost must be invisible to history/read, its version
    number never reused, and vacuum must reclaim the directory."""
    import signal
    import subprocess
    import sys

    root = str(tmp_path / "store")
    store = TableStore(spark, root)
    store.write("t", spark.createDataFrame([Row(id=1)]))

    worker = os.path.join(os.path.dirname(__file__), "_tablestore_worker.py")
    env = dict(os.environ, PYTHONPATH=os.path.dirname(os.path.dirname(worker)))
    sentinel = str(tmp_path / "claimed")
    p = subprocess.Popen([sys.executable, worker, "hang", root, sentinel], env=env)
    try:
        deadline = time.time() + 60
        while not os.path.exists(sentinel):
            assert time.time() < deadline, "hang worker never claimed"
            assert p.poll() is None, "hang worker exited early"
            time.sleep(0.05)
        os.kill(p.pid, signal.SIGKILL)
        p.wait(timeout=30)
    finally:
        if p.poll() is None:
            p.kill()

    ghost = os.path.join(root, "t", "v0001")
    assert os.path.isdir(ghost)  # the orphan directory is really there...
    assert [h["v"] for h in store.history("t")] == [0]  # ...but invisible
    v = store.write("t", spark.createDataFrame([Row(id=2)]))
    assert v == 2  # dead process's claim number never reused
    assert [h["v"] for h in store.history("t")] == [2, 0]
    store.vacuum("t", keep_latest=2, stage_ttl_seconds=0.0)
    assert not os.path.isdir(ghost)
    assert store.read("t").count() == 1


def test_posix_commit_writes_final_prefix_marker_last(spark, tmp_path):
    """The default PosixCommit publishes like every commit impl: Spark
    writes under the final vNNNN prefix, which stays marker-less and out
    of history() until the listing is verified and the marker written —
    no dot-named staging dir exists at any point, for a full write or a
    COW rewrite."""
    seen = []

    class Spy(TableStore):
        def _verified_direct_rels(self, final, expected_rows):
            tdir = os.path.dirname(final)
            seen.append((
                os.path.basename(final),
                sorted(n for n in os.listdir(tdir) if n.startswith((".", "v"))),
                os.path.exists(os.path.join(final, "_SUCCESS")),
                [h["v"] for h in self.history("t")],
            ))
            return super()._verified_direct_rels(final, expected_rows)

    store = Spy(spark, str(tmp_path))
    store.write("t", spark.range(0, 1000).repartition(2))
    store.delete_in("t", "id", [7])
    assert seen == [
        ("v0000", ["v0000"], False, []),
        ("v0001", ["v0000", "v0001"], False, [0]),
    ]
    assert [h["v"] for h in store.history("t")] == [1, 0]
    assert store.read("t").count() == 999


def test_sqlwarehouse_drop_namespace_sweeps_orphans(spark, tmp_path):
    """ADVICE r4: a version table whose writer died before _write_meta is
    unknown to meta; drop_namespace's strict-pattern sweep must remove it
    while leaving non-matching and sibling tables alone."""
    import uuid

    from taico_data_integration_spark.ops.formats import SqlWarehouseFormat

    ns = f"nso{uuid.uuid4().hex[:8]}"
    fmt = SqlWarehouseFormat(spark, ns, str(tmp_path / "wh"))
    keeper = f"unrelated_{ns}"
    try:
        fmt.write("t", spark.range(2).toDF("n"))
        # orphan: correct version-table name, absent from meta
        spark.range(1).toDF("n").write.option(
            "path", str(tmp_path / "orphan")
        ).format("parquet").saveAsTable(f"{ns}_t_v0099")
        # non-matching neighbor must survive the sweep
        spark.range(1).toDF("n").write.option(
            "path", str(tmp_path / "keeper")
        ).format("parquet").saveAsTable(keeper)
        fmt.drop_namespace()
        assert not spark.catalog.tableExists(f"{ns}_t_v0099")
        assert not spark.catalog.tableExists(f"{ns}_t_v0000")
        assert spark.catalog.tableExists(keeper)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {keeper}")
        spark.sql(f"DROP TABLE IF EXISTS {ns}_t_v0099")


def test_tablestore_check_constraints(spark, tmp_path):
    """Delta CHECK analog: a registered constraint gates every future
    write — violation aborts BEFORE any version commits (no directory, no
    pointer change, history unchanged), NULL results count as violations,
    and dropping the constraint re-opens the gate."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    store.write("t", spark.createDataFrame([(1, 5.0)], "id long, v double"))
    store.set_constraint("t", "v_nonneg", "v >= 0")
    store.set_constraint("t", "id_notnull", "id IS NOT NULL")

    ok = spark.createDataFrame([(2, 1.0)], "id long, v double")
    assert store.write("t", ok) == 1

    bad = spark.createDataFrame([(3, -2.0), (None, 4.0)], "id long, v double")
    with pytest.raises(ValueError, match="constraint violation"):
        store.write("t", bad)
    assert len(store.history("t")) == 2  # nothing committed
    assert store.read("t").count() == 1  # current still the ok version

    # NULL check result is a violation (CHECK must HOLD), not a pass
    nullv = spark.createDataFrame([(4, None)], "id long, v double")
    with pytest.raises(ValueError, match="v_nonneg"):
        store.write("t", nullv)

    store.drop_constraint("t", "v_nonneg")
    # the two violating writes BURNED claims 2 and 3 (claim numbers are
    # never reused — same contract as a killed writer), so this lands at 4
    assert store.write("t", nullv) == 4  # id_notnull still holds; v gate gone
    assert [h["v"] for h in store.history("t")] == [4, 1, 0]

    # Delta semantics at ADD time: existing data is validated, so a
    # constraint the table already violates is rejected here — maintenance
    # rewrites (compact/optimize/erase) can never be dead-locked later
    with pytest.raises(ValueError, match="existing data"):
        store.set_constraint("t", "late_gate", "v IS NOT NULL")
    # ...and a typo'd expression fails HERE with a clear error, not on the
    # next write with a burned claim
    with pytest.raises(ValueError, match="invalid"):
        store.set_constraint("t", "typo", "vv >= 0")
    with pytest.raises(ValueError, match="non-existent"):
        store.set_constraint("never_written", "x", "1 = 1")
    store.drop_constraint("t", "never_was")  # absent constraint: no-op
    # maintenance rewrite passes the surviving gate (id_notnull)
    assert store.compact("t", rows_per_file=10)["rows"] == 1


def test_tablestore_sidecar_names_injective(spark, tmp_path):
    """Regression (ADVICE r6): constraint names / txn app_ids that differ
    only in sanitized characters ('a b' vs 'a:b') must NOT share a sidecar
    file — a bare re.sub collides them, so set_constraint overwrites an
    unrelated constraint and drop_constraint('a b') removes 'a:b'."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    store.write("t", spark.createDataFrame([(1, 5.0)], "id long, v double"))
    store.set_constraint("t", "a b", "v >= 0")
    store.set_constraint("t", "a:b", "id IS NOT NULL")
    cons = store.constraints("t")
    assert cons == {"a b": "v >= 0", "a:b": "id IS NOT NULL"}
    store.drop_constraint("t", "a b")
    assert store.constraints("t") == {"a:b": "id IS NOT NULL"}
    # clean names keep their pre-fix filenames (back-compat with existing
    # stores); only names that CHANGE under sanitization get the digest
    store.set_constraint("t", "plain_name", "v IS NOT NULL OR v IS NULL")
    import os

    assert os.path.exists(
        os.path.join(str(tmp_path), "t", "_constraints", "plain_name.json")
    )
    # txn app_ids: same injectivity — two apps, separate watermarks
    df = spark.createDataFrame([(2, 1.0)], "id long, v double")
    store.write_with_txn("t", df, "app 1", 7)
    assert store.last_txn("t", "app:1") is None
    assert store.last_txn("t", "app 1") == 7


def test_vacuum_markerless_sweep_ages_by_deep_mtime(spark, tmp_path):
    """ADVICE r10: Spark's in-flight direct-publish writes touch DEEP
    task paths (_temporary/0/task_.../part-...), not the version dir's
    top level — the marker-less sweep must age a candidate by the newest
    mtime over the RECURSIVE listing, or a job running longer than
    stage_ttl_seconds loses its live output mid-write."""
    import os as _os
    import time as _time

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    store.write("t", spark.range(3))
    store.write("t", spark.range(4))
    # a marker-less version dir: top level + shallow child aged stale,
    # but one DEEP task file still fresh — a live long-running writer
    orphan = _os.path.join(str(tmp_path), "t", "v0099")
    deep = _os.path.join(orphan, "_temporary", "0", "task_202608_0001_m_000000")
    _os.makedirs(deep)
    fresh = _os.path.join(deep, "part-00000.parquet")
    with open(fresh, "wb") as f:
        f.write(b"inflight")
    old = _time.time() - 7200
    for p in (orphan, _os.path.join(orphan, "_temporary"), deep):
        _os.utime(p, (old, old))
    store.vacuum("t", keep_latest=1, stage_ttl_seconds=3600.0)
    assert _os.path.exists(fresh), "live deep-writing job's output was reaped"
    # once the deep file is stale too, the residue is a dead writer's
    _os.utime(fresh, (old, old))
    store.vacuum("t", keep_latest=1, stage_ttl_seconds=3600.0)
    assert not _os.path.exists(orphan), "expired orphan survived"


def test_tablestore_vacuum_retention_window(spark, tmp_path):
    """VERDICT r6 #4: min_age_seconds is the reader-retention horizon —
    a version superseded more recently than the window survives vacuum
    (a pinned reader may be mid-scan), and a read racing a zero-retention
    vacuum fails with the documented contract error, never silently."""
    import os
    import time as _time

    import pytest as _pt

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    store.write("t", spark.range(5))  # v0
    store.write("t", spark.range(6))  # v1 supersedes v0 "now"
    # superseded just now: a 1h retention window keeps v0 (and its files)
    assert store.vacuum("t", keep_latest=1, min_age_seconds=3600.0) == []
    assert store.read("t", version=0).count() == 5
    # age the SUPERSEDING commit past the window: v0 becomes removable
    v1_path = [e for e in store._read_meta("t")["versions"] if e["v"] == 1][0]["path"]
    old = _time.time() - 7200
    os.utime(v1_path, (old, old))
    pinned = store.read("t", version=0)  # planned before the vacuum
    assert store.vacuum("t", keep_latest=1, min_age_seconds=3600.0) == [0]
    # pinned re-read: the documented ValueError (vacuumed version)
    with _pt.raises(ValueError, match="not committed"):
        store.read("t", version=0)
    # the already-planned DataFrame either completes (listing already
    # materialized) or surfaces Spark's missing-file error — never a
    # silent wrong answer
    try:
        assert pinned.count() == 5
    except Exception:
        pass  # loud failure is the documented race outcome
    assert store.read("t").count() == 6  # current untouched throughout


def test_tablestore_compact(spark, tmp_path):
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 10_000).selectExpr("id", "id % 7 AS grp")
    store.write("frag", df.repartition(40))  # 40 small files
    report = store.compact("frag", rows_per_file=1_000_000)
    assert report["files_before"] >= 40
    assert report["files_after"] == 1
    assert report["rows"] == 10_000
    # compaction changed layout, not content; old version still readable
    assert store.read("frag").exceptAll(df).count() == 0
    assert store.read("frag", version=0).count() == 10_000


def test_optimize_layout_preserves_partition_layout(spark, tmp_path):
    """Round 9: optimize_layout on a Hive-partitioned store used to
    silently FLATTEN it. It now leads the range partitioning with the
    partition columns: dirs survive, and within each partition the files
    have disjoint footer ranges on the cluster key, so a point probe on a
    tenant reads one file."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 24_000).selectExpr(
        "id AS k", "CAST(id % 3 AS INT) AS tenant", "CAST(id AS DOUBLE) AS v"
    )
    store.write("t", df.repartition(6), partition_by=["tenant"])
    v = store.optimize_layout("t", ["k"], num_files=12)
    entry = next(e for e in store._read_meta("t")["versions"] if e["v"] == v)
    by_tenant: dict[str, list[tuple]] = {}
    for p in _glob.glob(_os.path.join(entry["path"], "**", "*.parquet"), recursive=True):
        rel = _os.path.relpath(p, entry["path"])
        assert rel.startswith("tenant="), rel  # layout preserved
        md = _pq.read_metadata(p)
        idx = [md.schema.column(i).path for i in range(md.num_columns)].index("k")
        s = md.row_group(0).column(idx).statistics
        lo = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
        by_tenant.setdefault(rel.split(_os.sep)[0], []).append((lo, hi))
    assert set(by_tenant) == {"tenant=0", "tenant=1", "tenant=2"}
    for t, ranges in by_tenant.items():
        ranges.sort()
        for (alo, ahi), (blo, bhi) in zip(ranges, ranges[1:]):
            assert ahi < blo, (t, ranges)  # disjoint within the partition
    # content unchanged, pruning works
    got = store.read("t")
    assert got.count() == 24_000
    assert got.where("tenant = 1 AND k BETWEEN 100 AND 200").count() == df.where(
        "tenant = 1 AND k BETWEEN 100 AND 200"
    ).count()


def test_tablestore_compact_preserves_partition_layout(spark, tmp_path):
    """Round 9: compact() with no partition_by detects a Hive-partitioned
    layout from the dir names and preserves it — the shape a long-running
    COW-merge stream needs (per-partition rewrite files pile up; the
    compaction puts each partition back to ~one file without the caller
    re-stating the layout). An explicit [] flattens."""
    import glob as _glob
    import os as _os

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 12_000).selectExpr(
        "id AS k", "CAST(id % 3 AS INT) AS tenant", "CAST(id AS DOUBLE) AS v"
    )
    store.write("t", df.repartition(8), partition_by=["tenant"])  # 24 files
    # a couple of COW merges scatter more rewrite files into the partitions
    for lo in (0, 40):
        ups = df.where(f"k >= {lo} AND k < {lo + 20}").withColumn(
            "v", F.col("v") * -1.0
        )
        store.merge_in("t", ups, "k")
    rep = store.compact("t", rows_per_file=1_000_000)
    assert rep["files_after"] < rep["files_before"], rep
    new_entry = next(
        e for e in store._read_meta("t")["versions"] if e["v"] == rep["version"]
    )
    files = _glob.glob(
        _os.path.join(new_entry["path"], "**", "*.parquet"), recursive=True
    )
    # layout preserved: every file under a tenant= dir, one file per tenant
    rels = [_os.path.relpath(f, new_entry["path"]) for f in files]
    assert all(r.startswith("tenant=") for r in rels), rels
    assert len(rels) == 3, rels
    # content identical to the merged state (partition col order differs)
    expect = store.read("t", version=rep["version"] - 1)
    got = store.read("t")
    assert got.exceptAll(expect.select(*got.columns)).count() == 0
    assert expect.select(*got.columns).exceptAll(got).count() == 0
    # partition pruning still applies after compaction
    assert store.read("t").where("tenant = 1").count() == 4_000

    # explicit [] flattens the layout
    rep2 = store.compact("t", rows_per_file=1_000_000, partition_by=[])
    e2 = next(
        e for e in store._read_meta("t")["versions"] if e["v"] == rep2["version"]
    )
    rels2 = [
        _os.path.relpath(f, e2["path"])
        for f in _glob.glob(_os.path.join(e2["path"], "**", "*.parquet"), recursive=True)
    ]
    assert all(_os.sep not in r for r in rels2), rels2


def test_tablestore_optimize_layout_disjoint_ranges(spark, tmp_path):
    """After optimize_layout, parquet footers must show pairwise-disjoint
    [min, max] ranges on the cluster key — the property file-skipping
    readers rely on."""
    import glob

    import pyarrow.parquet as pq

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    # write deliberately interleaved values so every file spans ~full range
    df = spark.range(0, 20_000).selectExpr("id % 1000 AS key", "id AS payload")
    store.write("t", df.repartition(8))
    v = store.optimize_layout("t", ["key"], num_files=4)

    path = [e for e in store._read_meta("t")["versions"] if e["v"] == v][0]["path"]
    ranges = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.read_metadata(f)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)  # key is the first column
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        if mins:
            ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 2
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: ({lo1},{hi1}) vs ({lo2},{hi2})"
    # content unchanged
    assert store.read("t").exceptAll(df).count() == 0


def test_tablestore_read_pruned_skips_files_after_optimize(spark, tmp_path):
    """End-to-end data skipping: after optimize_layout, a selective range
    read must touch only the 1-2 files whose range matches — and return
    exactly what a full-scan filter returns."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 20_000).selectExpr("id % 1000 AS key", "id AS payload")
    store.write("t", df.repartition(8))

    # BEFORE clustering every file spans ~the full key range: pruning must
    # be a no-op (correct, zero false skips) on the interleaved layout
    got, rep = store.read_pruned("t", "key", lo=100, hi=120)
    want = df.where("key BETWEEN 100 AND 120")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert rep["files_read"] == rep["files_total"] >= 8

    store.optimize_layout("t", ["key"], num_files=8)
    got, rep = store.read_pruned("t", "key", lo=100, hi=120)
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert rep["files_total"] >= 8 and rep["files_read"] <= 2, rep

    # open bounds + out-of-range selections
    got, rep = store.read_pruned("t", "key", lo=990)
    want_hi = df.where("key >= 990")
    assert got.exceptAll(want_hi).count() == 0 and want_hi.exceptAll(got).count() == 0
    assert rep["files_read"] <= 2
    got, rep = store.read_pruned("t", "key", lo=5000)
    assert got.count() == 0 and rep["files_read"] == 0


def test_tablestore_read_pruned_string_keys(spark, tmp_path):
    """String-typed skipping: parquet binary min/max stats must prune
    lexicographic ranges exactly like numeric ones (short keys — footer
    stats are exact; the conservative no-stats path covers anything the
    writer declines to record)."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 5200).selectExpr(
        "CHAR(65 + CAST(id % 26 AS INT)) AS key", "id AS payload"
    )
    store.write("t", df.repartition(8))
    store.optimize_layout("t", ["key"], num_files=6)
    got, rep = store.read_pruned("t", "key", lo="C", hi="F")
    want = df.where("key BETWEEN 'C' AND 'F'")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert rep["files_read"] < rep["files_total"], rep


def test_tablestore_read_pruned_timestamp_keys(spark, tmp_path):
    """Timestamp skipping — the #1 real-world pruning column. Footer stats
    arrive as datetime objects; they are stored as fixed-width ISO strings
    whose lexicographic order equals chronological order, and datetime
    bounds go through the same normalization."""
    import datetime as dt

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 20_000).selectExpr(
        "timestampadd(HOUR, CAST(id % 8760 AS INT), TIMESTAMP'2024-01-01 00:00:00') AS ts",
        "id AS payload",
    )
    store.write("t", df.repartition(8))
    store.optimize_layout("t", ["ts"], num_files=8)
    lo, hi = dt.datetime(2024, 3, 1), dt.datetime(2024, 3, 15)
    got, rep = store.read_pruned("t", "ts", lo=lo, hi=hi)
    want = df.where("ts BETWEEN TIMESTAMP'2024-03-01' AND TIMESTAMP'2024-03-15'")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert rep["files_total"] >= 8 and rep["files_read"] <= 2, rep


def test_tablestore_stats_aggregate_metadata_only(spark, tmp_path, monkeypatch):
    """count/min/max/null_count answered from the manifest alone — matches
    the scan answers, runs zero Spark jobs once cached (footer poison), and
    refuses (omits) a column any file lacks stats for."""
    import pyarrow.parquet as pq

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 5000).selectExpr(
        "id AS k", "IF(id % 7 = 0, NULL, CAST(id AS DOUBLE)) AS v"
    )
    store.write("t", df.repartition(6))
    got = store.stats_aggregate("t", ["k", "v"])
    row = df.selectExpr(
        "count(*) AS n", "min(k) AS kmin", "max(k) AS kmax",
        "min(v) AS vmin", "max(v) AS vmax", "count_if(v IS NULL) AS vnulls",
    ).collect()[0]
    assert got["count"] == row.n
    assert (got["k"]["min"], got["k"]["max"], got["k"]["null_count"]) == (row.kmin, row.kmax, 0)
    assert (got["v"]["min"], got["v"]["max"], got["v"]["null_count"]) == (
        row.vmin, row.vmax, row.vnulls,
    )

    # cached manifest answers without touching parquet metadata
    def boom(*a, **kw):
        raise AssertionError("footer read on cached stats_aggregate")

    monkeypatch.setattr(pq, "read_metadata", boom)
    assert store.stats_aggregate("t", ["k", "v"]) == got


def test_tablestore_read_since_strict_and_pruned(spark, tmp_path):
    """Incremental catch-up: ts > watermark exactly (boundary row excluded
    even though the file-level test is >=), and old files skipped when the
    layout is time-clustered."""
    import datetime as dt

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 10_000).selectExpr(
        "timestampadd(MINUTE, CAST(id AS INT), TIMESTAMP'2024-01-01 00:00:00') AS ts",
        "id AS payload",
    )
    store.write("t", df.repartition(4))
    store.optimize_layout("t", ["ts"], num_files=8)
    wm = dt.datetime(2024, 1, 7)  # minute 8640 of 10000
    got, rep = store.read_since("t", "ts", wm)
    want = df.where("ts > TIMESTAMP'2024-01-07'")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert got.where(F.col("ts") == F.lit(wm)).count() == 0  # strict boundary
    assert rep["files_read"] <= 2 < rep["files_total"], rep


def test_tablestore_read_pruned_box_after_zorder(spark, tmp_path):
    """Multi-dim data skipping: after Z-ordering, a small 2-D query box
    must touch only the curve cells it overlaps — pruning on BOTH columns'
    footer stats at once (a 1-D sort could only prune the leading column)."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 65536).selectExpr(
        "CAST(id % 256 AS DOUBLE) AS x", "CAST(id DIV 256 AS DOUBLE) AS y", "id AS payload"
    )
    store.write("t", df.repartition(8))
    store.optimize_layout_zorder("t", {"x": (0.0, 256.0), "y": (0.0, 256.0)}, bits=8, num_files=16)

    got, rep = store.read_pruned("t", bounds={"x": (10.0, 30.0), "y": (40.0, 60.0)})
    want = df.where("x BETWEEN 10 AND 30 AND y BETWEEN 40 AND 60")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert rep["files_total"] == 16 and rep["files_read"] <= 6, rep

    # half-open box on one dim still prunes on the other
    got, rep = store.read_pruned("t", bounds={"x": (None, 20.0), "y": (200.0, None)})
    want = df.where("x <= 20 AND y >= 200")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert rep["files_read"] < rep["files_total"]


def test_tablestore_read_pruned_partitioned_version(spark, tmp_path):
    """Pruned reads over a PARTITIONED version: files sit under partition
    dirs, so the manifest keys nested relpaths and the basePath option must
    reconstruct the partition column in the pruned frame. Stats pruning on
    the data column still applies within each partition's files."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 8_000).selectExpr(
        "id % 4 AS region", "id AS k", "CAST(id AS DOUBLE) AS v"
    )
    store.write("t", df.repartitionByRange(8, "k"), partition_by=["region"])
    got, rep = store.read_pruned("t", "k", lo=100, hi=300)
    want = df.where("k BETWEEN 100 AND 300")
    assert set(got.columns) == {"region", "k", "v"}  # partition col restored
    assert {tuple(sorted(r.asDict().items())) for r in got.collect()} == {
        tuple(sorted(r.asDict().items())) for r in want.collect()
    }
    assert 0 < rep["files_read"] < rep["files_total"], rep
    # pruning on the PARTITION column itself (round 9): no footer stats,
    # but the Hive dir name IS the stat (min = max = value) — the manifest
    # walk prunes to exactly the matching partition's files
    got2, rep2 = store.read_pruned("t", "region", lo=2, hi=2)
    assert got2.count() == df.where("region = 2").count()
    assert rep2["files_read"] == rep2["files_total"] // 4, rep2


def test_tablestore_bloom_point_lookup(spark, tmp_path):
    """Per-file bloom index: a point lookup on a column the layout is NOT
    clustered on (min/max stats span the full domain in every file and
    prune nothing) must still skip almost every file via the bloom — with
    results identical to the full-scan equality filter."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    # cluster on k; probe on u, which is uniformly interleaved across k-files
    df = spark.range(0, 40_000).selectExpr(
        "id % 100 AS k",
        "CONCAT('user_', CAST(xxhash64(id) % 30000 AS STRING)) AS u",
        "id AS payload",
    )
    store.write("t", df.repartition(4))
    store.optimize_layout("t", ["k"], num_files=8)

    # pick an existing MID-DOMAIN value: every file's [min,max] on u covers
    # it (stats can't prune — only the domain extremes fall outside some
    # file's range), so any skipping below is the bloom's work alone
    val = df.where("id = 12345").first().u
    got, rep = store.read_point("t", "u", val)
    want = store.read("t").where(F.col("u") == val)
    assert sorted(r.payload for r in got.collect()) == sorted(
        r.payload for r in want.collect()
    )
    assert got.count() > 0
    assert rep["files_total"] == 8
    # each u value lives in few files; bloom must do real skipping where
    # stats cannot (u spans the whole domain in every k-clustered file)
    assert rep["skipped_by_bloom"] > 0
    assert rep["files_read"] < rep["files_total"]

    # absent value: bloom (no false negatives, ~1% fp) skips everything or
    # nearly everything, and the residual guarantees zero rows regardless
    got2, rep2 = store.read_point("t", "u", "user_never_was")
    assert got2.count() == 0
    assert rep2["files_read"] <= 1

    # point lookup ON the clustered column: stats alone already prune;
    # bloom composes (skips come from either stage, result exact)
    got3, rep3 = store.read_point("t", "k", 17)
    assert got3.count() == store.read("t").where("k = 17").count() > 0
    assert rep3["files_read"] < rep3["files_total"]

    # NULL probe is a contract error
    with pytest.raises(ValueError, match="NULL"):
        store.read_point("t", "u", None)

    # manifest caching: second call reads no parquet (manifest mtime stable)
    import os as _os

    bp = store._bloom_path("t", store._read_meta("t")["current"])
    mtime = _os.path.getmtime(bp)
    store.read_point("t", "u", val)
    assert _os.path.getmtime(bp) == mtime
    # sizing mismatch against the cached manifest is rejected loudly
    with pytest.raises(ValueError, match="already built"):
        store.collect_file_blooms("t", ["u"], num_bits=1 << 10)
    # vacuum drops the bloom manifest with the version's files
    store.write("t", df.where("id < 100"))
    store.vacuum("t", keep_latest=1)
    assert not _os.path.exists(bp)


def test_tablestore_bloom_type_sensitivity_and_nulls(spark, tmp_path):
    """xxhash64 is type-sensitive: the probe must hash the lit cast to the
    column's OWN type (an int-typed probe against a bigint column would
    false-negative everywhere — silent row loss). Also: all-null files
    carry no bloom entry and are dropped by the null-count stats rule, and
    a column with nulls indexes only its non-null values."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 5_000).selectExpr(
        "CAST(id AS BIGINT) AS big",
        "IF(id % 3 = 0, NULL, CAST(id % 40 AS INT)) AS small",
        "id AS payload",
    )
    store.write("t", df.repartition(5))
    # bigint probe with a plain Python int must still find its rows
    got, _ = store.read_point("t", "big", 4321)
    assert [r.payload for r in got.collect()] == [4321]
    # int column with nulls: equality never matches NULL, rows exact
    got2, _ = store.read_point("t", "small", 7)
    want2 = df.where("small = 7")
    assert got2.count() == want2.count() > 0
    # fuzz a handful of existing and absent values for exactness
    for probe in (0, 1, 39, 40, -5):
        g, _ = store.read_point("t", "small", probe)
        assert g.count() == df.where(F.col("small") == probe).count()


@pytest.mark.parametrize("seed", [1, 8, 21])
def test_tablestore_read_pruned_fuzz_equals_full_scan(spark, tmp_path, seed):
    """THE data-skipping invariant, fuzzed: for random data (ints with
    nulls, strings, timestamps), random layout (raw / clustered on a
    random column / random file count) and random bounds (open, closed,
    empty-range, out-of-domain), read_pruned == full-scan filter, always.
    Any future manifest bug that breaks conservativeness fails here."""
    import datetime as dt
    import random

    from taico_data_integration_spark.ops.incremental import TableStore

    rng = random.Random(seed)
    store = TableStore(spark, str(tmp_path))
    n = rng.randint(200, 3000)
    df = spark.range(0, n).selectExpr(
        f"IF(id % {rng.randint(3, 9)} = 0, NULL, id % {rng.randint(10, 500)}) AS a",
        "CHAR(65 + CAST(id % 26 AS INT)) AS s",
        "timestampadd(MINUTE, CAST(id % 50000 AS INT), TIMESTAMP'2020-01-01') AS ts",
        # a TEMPORAL-LOOKING plain string column: the ADVICE r6 hazard class
        # (datetime bound vs raw string stats and vice versa) stays fuzzed
        "date_format(timestampadd(MINUTE, CAST(id % 50000 AS INT), "
        "TIMESTAMP'2020-01-01'), 'yyyy-MM-dd HH:mm:ss') AS ds",
        "id AS payload",
    )
    store.write("t", df.repartition(rng.randint(2, 6)))
    if rng.random() < 0.7:
        store.optimize_layout(
            "t", [rng.choice(["a", "s", "ts", "ds"])], num_files=rng.randint(2, 10)
        )

    for _ in range(8):
        col = rng.choice(["a", "s", "ts", "ds"])
        if col == "a":
            b1, b2 = rng.randint(-50, 600), rng.randint(-50, 600)
        elif col == "s":
            b1, b2 = chr(rng.randint(60, 95)), chr(rng.randint(60, 95))
        else:
            b1 = dt.datetime(2020, 1, 1) + dt.timedelta(minutes=rng.randint(-10, 60000))
            b2 = dt.datetime(2020, 1, 1) + dt.timedelta(minutes=rng.randint(-10, 60000))
            # cross the bound/stat type combinations both ways: temporal
            # column with string bounds, string column with temporal bounds
            if rng.random() < 0.5:
                b1 = b1.strftime("%Y-%m-%d %H:%M:%S")
            if rng.random() < 0.5:
                b2 = b2.strftime("%Y-%m-%d %H:%M:%S")
            if isinstance(b1, str) != isinstance(b2, str):
                # keep min/max well-defined for the bounds shuffle below
                # (str(datetime) is the same space-separated form)
                b1, b2 = str(b1), str(b2)
        lo, hi = rng.choice(
            [(min(b1, b2), max(b1, b2)), (b1, None), (None, b2), (max(b1, b2), min(b1, b2))]
        )
        got, rep = store.read_pruned("t", col, lo=lo, hi=hi)
        want = df
        if lo is not None:
            want = want.where(F.col(col) >= F.lit(lo))
        if hi is not None:
            want = want.where(F.col(col) <= F.lit(hi))
        g = sorted(r.payload for r in got.select("payload").collect())
        w = sorted(r.payload for r in want.select("payload").collect())
        assert g == w, f"seed {seed} col {col} bounds ({lo},{hi}) rep {rep}"


def test_tablestore_read_pruned_nested_columns_no_misalignment(spark, tmp_path):
    """Regression (review finding): column chunks must be located by the
    parquet LEAF schema path. With a struct column ahead of the pruning
    column, a top-level-name index would record a struct FIELD's bounds as
    the pruning column's stats and silently mis-prune."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 4_000).selectExpr(
        "named_struct('a', id % 3, 'b', id % 5) AS meta",  # leaves meta.a, meta.b
        "id AS k",
        "CAST(id AS DOUBLE) AS v",
    )
    store.write("t", df.repartition(4))
    store.optimize_layout("t", ["k"], num_files=4)
    got, rep = store.read_pruned("t", "k", lo=3000, hi=3999)
    want = df.where("k >= 3000")
    assert got.count() == want.count() == 1000
    assert got.exceptAll(want).count() == 0
    # stats were genuinely usable (pruning happened on k's real bounds,
    # which a meta.a/meta.b misalignment — values 0-4 — could never allow)
    assert rep["files_read"] <= 2 < rep["files_total"], rep
    # the struct column itself has no leaf stats under its own name:
    # conservative keep-all, results still correct via the residual filter
    m = store.collect_file_stats("t", ["meta"])
    assert all(rec["cols"]["meta"]["min"] is None for rec in m["files"].values())


def test_tablestore_read_pruned_string_bound_on_timestamp(spark, tmp_path):
    """Regression (review finding): a space-separated string bound against
    a timestamp column must not mis-prune the boundary file — raw string
    comparison against the stored 'T'-separated ISO form sorts wrongly, so
    string bounds are parsed before comparing."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 5_000).selectExpr(
        "timestampadd(HOUR, CAST(id AS INT), TIMESTAMP'1998-01-01 00:00:00') AS ts",
        "id AS payload",
    )
    store.write("t", df.repartition(4))
    store.optimize_layout("t", ["ts"], num_files=8)
    # hi lands exactly on a row's timestamp, lo exactly on another's
    got, rep = store.read_pruned(
        "t", "ts", lo="1998-03-01 00:00:00", hi="1998-04-01 00:00:00"
    )
    want = df.where("ts BETWEEN TIMESTAMP'1998-03-01' AND TIMESTAMP'1998-04-01'")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert got.count() == want.count() > 0
    assert rep["files_read"] < rep["files_total"]


def test_tablestore_read_pruned_datetime_bound_on_string_column(spark, tmp_path):
    """Regression (ADVICE r6, reverse of the string-bound case): a
    datetime/date BOUND normalizes to a 'T'-separated ISO string, but a
    plain STRING column's stats keep their raw space-separated form —
    'T' sorts after every digit and space, so lexicographic comparison
    would prune a boundary file whose rows satisfy the Spark residual
    (string cast to timestamp). Plain string stats must be treated as
    unusable against a temporal bound: conservative keep, residual decides."""
    import datetime as dt

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 5_000).selectExpr(
        "date_format(timestampadd(HOUR, CAST(id AS INT), "
        "TIMESTAMP'1998-01-01 00:00:00'), 'yyyy-MM-dd HH:mm:ss') AS ts_str",
        "id AS payload",
    )
    store.write("t", df.repartition(4))
    store.optimize_layout("t", ["ts_str"], num_files=8)
    m = store.collect_file_stats("t", ["ts_str"])
    assert all(rec["cols"]["ts_str"]["kind"] == "plain" for rec in m["files"].values())
    got, rep = store.read_pruned(
        "t", "ts_str", lo=dt.datetime(1998, 3, 1), hi=dt.datetime(1998, 4, 1)
    )
    want = df.where(
        "ts_str >= '1998-03-01 00:00:00' AND ts_str <= '1998-04-01 00:00:00'"
    )
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # no usable stats for this (column, bound-type) pair: nothing pruned
    assert rep["files_read"] == rep["files_total"]
    # sanity: the same range as raw strings still prunes (stats ARE usable)
    _, rep2 = store.read_pruned(
        "t", "ts_str", lo="1998-03-01 00:00:00", hi="1998-04-01 00:00:00"
    )
    assert rep2["files_read"] < rep2["files_total"]


def test_table_changes_across_schema_evolution(spark, tmp_path):
    """Regression (review finding): the change feed must survive the
    mergeSchema boundary this same surface introduces — new columns join
    the payload union, and a row differing ONLY in a dropped column still
    surfaces as an update."""
    from taico_data_integration_spark.ops.incremental import TableStore, merge_upsert

    store = TableStore(spark, str(tmp_path))
    v0 = spark.createDataFrame([(1, "a", 5.0), (2, "b", 6.0)], "k long, v string, gone double")
    store.write("t", v0)
    updates = spark.createDataFrame([(2, "B", 9.0)], "k long, v string, extra double")
    store.write(
        "t",
        merge_upsert(v0.drop("gone"), updates, ["k"], evolve_schema=True),
    )
    ch = {
        r.k: (r.v, r.gone, r.extra, r._change_type)
        for r in store.table_changes("t", 0, 1, ["k"]).collect()
    }
    # k=1: only change is losing `gone` (5.0 -> NULL) — must surface
    # k=2: v updated, gone dropped, extra added
    assert ch == {
        1: ("a", None, None, "update_postimage"),
        2: ("B", None, 9.0, "update_postimage"),
    }


def test_tablestore_txn_survives_pointer_clobber(spark, tmp_path):
    """Regression (review finding): a pointer record that lost its txn
    map (since r10 no live race can cause this — the CAS log merges —
    but a hand-edited or corrupted log entry still can) must not
    resurrect a replayed batch — the per-app sidecar still remembers
    it."""
    import glob as _glob
    import json as _json

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(5)
    assert store.write_with_txn("t", df, "app", 0) == 0
    # simulate the lost txn map: rewrite the LATEST pointer-log entry
    # without it
    mp = sorted(_glob.glob(str(tmp_path / "t" / "_ptr" / "ptr-*.json")))[-1]
    meta = _json.load(open(mp))
    meta["txns"] = {}
    _json.dump(meta, open(mp, "w"))
    assert store.last_txn("t", "app") == 0  # sidecar carries it
    assert store.write_with_txn("t", df, "app", 0) is None  # replay still skipped


def test_tablestore_read_pruned_nulls_and_manifest_cache(spark, tmp_path, monkeypatch):
    """NULL keys never match a range predicate (all-null files are skipped,
    null rows never returned), and the second pruned read must be served
    entirely from the cached manifest — no parquet footer is opened."""
    import pyarrow.parquet as pq

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    with_nulls = spark.range(0, 1000).selectExpr(
        "IF(id < 500, NULL, id) AS key", "id AS payload"
    )
    # partition 0 all-null keys, partition 1 real keys
    store.write("t", with_nulls.repartitionByRange(2, "key"))
    got, rep = store.read_pruned("t", "key", lo=0, hi=2000)
    assert got.where("key IS NULL").count() == 0
    assert got.count() == 500
    assert rep["files_skipped"] >= 1, f"all-null file not pruned: {rep}"

    # cache proof: poison footer reads; the manifest alone must suffice
    def boom(*a, **k):
        raise AssertionError("footer read after manifest was cached")

    monkeypatch.setattr(pq, "read_metadata", boom)
    got2, rep2 = store.read_pruned("t", "key", lo=0, hi=2000)
    assert got2.count() == 500 and rep2 == rep


def test_tablestore_vacuum_drops_stats_manifest(spark, tmp_path):
    import os

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    store.write("t", spark.range(10).selectExpr("id AS key"))
    store.read_pruned("t", "key", lo=0)  # builds v0 manifest
    assert os.path.exists(store._stats_path("t", 0))
    store.write("t", spark.range(20).selectExpr("id AS key"))
    store.vacuum("t", keep_latest=1)
    assert not os.path.exists(store._stats_path("t", 0))


def test_tablestore_history_and_diff(spark, tmp_path):
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    v0 = spark.createDataFrame([(1, "a"), (2, "b"), (2, "b")], "id long, s string")
    v1 = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, s string")
    store.write("t", v0)
    store.write("t", v1)
    hist = store.history("t")
    assert [h["v"] for h in hist] == [1, 0]
    assert hist[0]["is_current"] and not hist[1]["is_current"]
    d = {(r["id"], r["s"], r["__change"]) for r in store.diff("t", 0, 1).collect()}
    # multiset diff: one duplicate (2,b) removed, (3,c) added
    assert d == {(3, "c", "added"), (2, "b", "removed")}


def test_tablestore_schema_evolution_across_versions(spark, tmp_path):
    """A new version may add columns; old versions stay readable with their
    own schema (the versioned-dir layout gives free schema evolution)."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    store.write("t", spark.createDataFrame([(1,)], "id long"))
    store.write("t", spark.createDataFrame([(1, "x")], "id long, extra string"))
    assert store.read("t").columns == ["id", "extra"]
    assert store.read("t", version=0).columns == ["id"]


def _file_ranges(path, col_idx):
    import glob

    import pyarrow.parquet as pq

    out = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.read_metadata(f)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        if mins:
            out.append((min(mins), max(maxs)))
    return out


def test_tablestore_zorder_tightens_both_dims(spark, tmp_path):
    """True Z-order: every file's bounding box must be tight in BOTH
    clustered dims; a 1-D sort leaves the second dim spanning ~the full
    range in every file."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    # 256x256 grid, shuffled layout
    df = spark.range(0, 65536).selectExpr(
        "CAST(id % 256 AS DOUBLE) AS x", "CAST(id DIV 256 AS DOUBLE) AS y", "id AS payload"
    )
    store.write("t", df.repartition(8))
    v = store.optimize_layout_zorder(
        "t", {"x": (0.0, 256.0), "y": (0.0, 256.0)}, bits=8, num_files=16
    )
    path = [e for e in store._read_meta("t")["versions"] if e["v"] == v][0]["path"]
    # columns in written schema: x=0, y=1
    spans_x = sorted(hi - lo for lo, hi in _file_ranges(path, 0))
    spans_y = sorted(hi - lo for lo, hi in _file_ranges(path, 1))
    assert len(spans_x) >= 8
    # Z-curve cells, not stripes: the typical file covers a fraction of BOTH
    # dims (a 1-D sort leaves every file spanning ~255 in the other dim).
    # Files straddling a high-order curve boundary are legitimately wide, so
    # assert on the median and the straddler count, not the max.
    # repartitionByRange SAMPLES its boundaries, so spans vary run to run;
    # thresholds must hold for any plausible sampling while still damning a
    # 1-D sort (which leaves EVERY file spanning ~255 in the other dim:
    # median 255, straddlers = all files).
    n = len(spans_x)
    assert spans_x[n // 2] <= 128 and spans_y[n // 2] <= 128
    assert sum(s > 128 for s in spans_x) <= 4 and sum(s > 128 for s in spans_y) <= 4
    assert store.read("t").exceptAll(df).count() == 0


def test_incremental_new_rows_empty_target_passes_all(spark):
    """First load: max(ts) over an empty target is NULL; every source row
    must pass through (dbt only filters when the target exists)."""
    target = spark.createDataFrame([], "k int, ts int")
    source = spark.createDataFrame([Row(k=1, ts=10), Row(k=2, ts=20)])
    got = {r.k for r in incremental_new_rows(source, target, "ts").collect()}
    assert got == {1, 2}


def test_mint_ids_size_guard_raises(spark):
    df = spark.range(50).select(F.col("id").alias("name"))
    import pytest

    with pytest.raises(ValueError, match="mint_ids_distributed"):
        mint_ids(df, ["name"], max_rows=10)
    # opt-out works
    assert mint_ids(df, ["name"], max_rows=None).count() == 50


def test_guarded_dimension_frame_contract(spark):
    """The shared global-window size guard (VERDICT r2 'What's wrong' #1):
    raises on oversized frames, passes rows through untouched when small,
    and max_rows=None opts out without materializing."""
    import pytest

    from taico_data_integration_spark.ops.dims import guarded_dimension_frame

    df = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    with pytest.raises(ValueError, match="single-partition"):
        guarded_dimension_frame(df, max_rows=10, label="unit")
    ok = guarded_dimension_frame(df, max_rows=1000, label="unit")
    assert {(r.id, r.v) for r in ok.collect()} == {(i, 2 * i) for i in range(100)}
    assert guarded_dimension_frame(df, max_rows=None) is df


def test_mint_ids_distributed_matches_global(spark):
    df = spark.range(0, 1000).select(
        F.concat(F.lit("k"), F.lpad(F.col("id").cast("string"), 5, "0")).alias("name")
    ).repartition(8)
    dist = {
        (r.id, r.name)
        for r in mint_ids_distributed(df, ["name"], start_at=7, num_partitions=6).collect()
    }
    glob = {
        (r.id, r.name)
        for r in mint_ids(df, ["name"], start_at=7, max_rows=None).collect()
    }
    assert dist == glob  # dense, same deterministic order, same start offset


def test_mint_fast_path_matches_distributed(spark):
    """The r13 small-input fast path (global window) must be value-identical
    to the forced distributed path (range partition + offsets) — including
    duplicate order-key inputs? No: the contract requires a unique key, so
    the pin uses unique keys, a desc() expression entry, and an offset."""
    df = spark.range(0, 500).select(
        F.concat(F.lit("k"), F.lpad((F.col("id") * 7 % 500).cast("string"), 4, "0")).alias("name"),
        (F.col("id") % 3).alias("grp"),
    )
    for order in (["name"], [F.col("name").desc()]):
        fast = mint_ids_distributed(df, order, start_at=11)
        dist = mint_ids_distributed(df, order, start_at=11, small_input_max_rows=0)
        assert [f.name for f in fast.schema.fields] == [f.name for f in dist.schema.fields]
        assert dict(fast.dtypes)["id"] == dict(dist.dtypes)["id"] == "bigint"
        assert sorted((r.id, r.name, r.grp) for r in fast.collect()) == sorted(
            (r.id, r.name, r.grp) for r in dist.collect()
        )
    # the fast path must NOT fire when the exact count exceeds the cap, even
    # though the planner estimate is tiny: ids still dense and correct
    over = mint_ids_distributed(df, ["name"], small_input_max_rows=100)
    got = sorted(r.id for r in over.collect())
    assert got == list(range(1, 501))
    # with_total returns the same n on both paths
    _, n_fast = mint_ids_distributed(df, ["name"], with_total=True)
    _, n_dist = mint_ids_distributed(df, ["name"], with_total=True, small_input_max_rows=0)
    assert n_fast == n_dist == 500


def test_salted_join_equals_plain_join(spark):
    """Salting must be result-invariant: same rows as the plain join, for
    inner and left, on data with one dominating hot key."""
    from taico_data_integration_spark.ops.skew import salted_join

    big = spark.createDataFrame(
        [Row(k="hot", v=i) for i in range(500)]
        + [Row(k=f"cold{i % 7}", v=i) for i in range(100)]
        + [Row(k="orphan", v=-1)]
    )
    small = spark.createDataFrame(
        [Row(k="hot", name="H"), Row(k="cold3", name="C3"), Row(k="unused", name="U")]
    )
    for how in ("inner", "left"):
        plain = {(r.k, r.v, r.name) for r in big.join(small, "k", how).collect()}
        salted = {(r.k, r.v, r.name) for r in salted_join(big, small, ["k"], how).collect()}
        assert salted == plain and len(plain) > 0


def test_salted_join_spreads_hot_key(spark):
    """The hot key's rows must occupy multiple salt buckets (the whole
    point: no single reducer owns the key)."""
    from pyspark.sql import functions as F

    from taico_data_integration_spark.ops.skew import SALT_COL, salted_join

    big = spark.createDataFrame([Row(k="hot", v=i) for i in range(2000)]).repartition(8)
    small = spark.createDataFrame([Row(k="hot", name="H")])
    salted = big.withColumn(
        SALT_COL, F.pmod(F.monotonically_increasing_id(), F.lit(16)).cast("int")
    )
    n_buckets = salted.select(SALT_COL).distinct().count()
    assert n_buckets >= 8
    assert salted_join(big, small, ["k"], salt_buckets=16).count() == 2000


def test_text_source_roundtrip(spark, tmp_path):
    from taico_data_integration_spark.sources import read_text, write_text

    df = spark.createDataFrame([Row(value=f"line {i}") for i in range(10)])
    write_text(df, str(tmp_path / "txt"))
    back = read_text(spark, str(tmp_path / "txt"))
    assert {r.value for r in back.collect()} == {f"line {i}" for i in range(10)}


def test_asof_join_cogroup_matches_local_pandas(spark):
    """Distributed cogroup as-of == single-process pandas merge_asof per
    key, on the real events fixture (purchases matched to last prior
    click)."""
    import pandas as pd

    from taico_data_integration_spark.catalog import load_table
    from taico_data_integration_spark.ops.grouped import asof_join_cogroup

    # both sides from ONE shared plan — the shape that trips Spark's cogroup
    # attribute de-duplication (regression: right pdf lost all non-key cols)
    e = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    purchases = e.where(F.col("event_type") == "purchase").drop("event_type")
    clicks = e.where(F.col("event_type") == "click").drop("event_type")

    got = {
        (r.event_id, r.event_id_right)
        for r in asof_join_cogroup(
            purchases, clicks, "user_id", "ts", ["event_id"]
        ).collect()
    }

    lp = purchases.toPandas()
    cp = clicks.toPandas()
    expect = set()
    for uid, grp in lp.groupby("user_id"):
        rg = cp[cp.user_id == uid].sort_values("ts")
        m = pd.merge_asof(
            grp.sort_values("ts"),
            rg[["ts", "event_id"]].rename(columns={"event_id": "event_id_right"}),
            on="ts",
            direction="backward",
            allow_exact_matches=False,
        )
        for _, row in m.iterrows():
            rid = row["event_id_right"]
            expect.add((row["event_id"], None if pd.isna(rid) else int(rid)))
    assert got == expect and len(got) > 100


def test_maintain_additive_rollup_equals_direct(spark, tmp_path):
    """Three delta batches folded into the stored rollup must equal the
    direct aggregate over all facts — history is never rescanned."""
    from taico_data_integration_spark.ops.incremental import (
        TableStore,
        maintain_additive_rollup,
    )
    from taico_data_integration_spark.queries._util import dec2

    store = TableStore(spark, str(tmp_path))
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    sums = lambda: {
        "n_orders": F.count(F.lit(1)).cast("bigint"),
        "revenue": F.sum(dec2("o_totalprice")),
    }
    batches = [
        o.where(F.year("o_orderdate") < 1995),
        o.where((F.year("o_orderdate") >= 1995) & (F.year("o_orderdate") < 1997)),
        o.where(F.year("o_orderdate") >= 1997),
    ]
    for b in batches:
        result = maintain_additive_rollup(store, "rollup", b, ["o_orderpriority"], sums())
    direct = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(dec2("o_totalprice")).alias("revenue"),
    )
    got = {(r.o_orderpriority): (r.n_orders, r.revenue) for r in result.collect()}
    want = {(r.o_orderpriority): (r.n_orders, r.revenue) for r in direct.collect()}
    assert got == want
    # three maintenance generations were persisted (versioned writes)
    assert len(store.history("rollup")) == 3


@pytest.mark.parametrize("seed", [11, 17])
def test_maintain_additive_rollup_fuzz_matches_model(spark, tmp_path, seed):
    """Random delta batches (skewed keys, negative deltas = retractions,
    repeated keys across batches, an empty batch) folded through the stored
    rollup must equal a pure-Python accumulator after every batch — not
    just at the end, so a mid-stream combine bug can't cancel out."""
    import random

    from taico_data_integration_spark.ops.incremental import (
        TableStore,
        maintain_additive_rollup,
    )

    rng = random.Random(seed)
    store = TableStore(spark, str(tmp_path))
    model: dict[str, list] = {}
    sums = lambda: {
        "n": F.count(F.lit(1)).cast("bigint"),
        "total": F.sum("v").cast("bigint"),
    }
    keys = [f"k{i}" for i in range(rng.randint(2, 6))]
    for batch_no in range(4):
        n_rows = 0 if batch_no == 2 else rng.randint(1, 60)
        rows = [
            (rng.choice(keys), rng.randint(-100, 100)) for _ in range(n_rows)
        ]
        for k, v in rows:
            acc = model.setdefault(k, [0, 0])
            acc[0] += 1
            acc[1] += v
        delta = spark.createDataFrame(rows or [("x", 0)], "k string, v long").where(
            F.lit(bool(rows))
        )
        result = maintain_additive_rollup(store, "r", delta, ["k"], sums())
        got = {r.k: (r.n, r.total) for r in result.collect()}
        assert got == {k: tuple(a) for k, a in model.items()}, f"batch {batch_no}"


def test_sqlwarehouse_identifier_validation(spark, tmp_path):
    """Namespace AND table names must be SQL identifiers — anything else
    would break or inject into the interpolated DDL (ADVICE r3)."""
    import uuid

    import pytest as _pytest

    from taico_data_integration_spark.ops.formats import SqlWarehouseFormat

    with _pytest.raises(ValueError, match="identifier"):
        SqlWarehouseFormat(spark, "bad ns")
    fmt = SqlWarehouseFormat(spark, f"idv{uuid.uuid4().hex[:8]}", str(tmp_path / "wh"))
    try:
        with _pytest.raises(ValueError, match="identifier"):
            fmt.write("bad table; drop", spark.range(3).toDF("n"))
        with _pytest.raises(ValueError, match="identifier"):
            fmt.read('x"; DROP TABLE y; --')
    finally:
        fmt.drop_namespace()


def test_sqlwarehouse_drop_namespace_is_exact(spark, tmp_path):
    """drop_namespace resolves objects from the meta table by exact name;
    a sibling namespace sharing a name prefix survives (ADVICE r3: the old
    startswith match would have dropped it)."""
    import uuid

    from taico_data_integration_spark.ops.formats import SqlWarehouseFormat

    base = f"nsx{uuid.uuid4().hex[:8]}"
    a = SqlWarehouseFormat(spark, base, str(tmp_path / "a"))
    b = SqlWarehouseFormat(spark, f"{base}_1", str(tmp_path / "b"))
    try:
        a.write("t", spark.range(2).toDF("n"))
        b.write("t", spark.range(3).toDF("n"))
        a.drop_namespace()
        # sibling (prefix-sharing) namespace untouched, own objects gone
        assert b.read("t").count() == 3
        assert not spark.catalog.tableExists(f"{base}_t")
        assert not spark.catalog.tableExists(f"{base}_t_v0000")
    finally:
        b.drop_namespace()
    assert not spark.catalog.tableExists(f"{base}_1_t")


def test_lifecycle_gate_entries_leave_nothing_behind(spark):
    """The gate-hygiene promise from queries/lifecycle_gate.py and
    queries/streaming_gate.py: after a gated invocation, no taico_* temp
    work dirs remain in /tmp and no gate-created tables/views remain in
    the session catalog — while the returned (localCheckpoint'ed) result
    is still fully collectable."""
    import glob
    import tempfile

    from taico_data_integration_spark.queries.lifecycle_gate import (
        lifecycle_sqlwarehouse_promote,
        lifecycle_tablestore_promote,
    )
    from taico_data_integration_spark.queries.streaming_gate import (
        stream_interval_join_events,
    )

    tmp = tempfile.gettempdir()

    def leftovers():
        pats = ("taico_lcg_*", "taico_stream_ivj_*")
        return [p for pat in pats for p in glob.glob(f"{tmp}/{pat}")]

    before = set(leftovers())
    dfs = [
        lifecycle_tablestore_promote(spark, "/root/testdata/sf0.001"),
        lifecycle_sqlwarehouse_promote(spark, "/root/testdata/sf0.001"),
        stream_interval_join_events(spark, "/root/testdata/sf0.001"),
    ]
    assert set(leftovers()) == before, "gate entries leaked temp dirs"
    for t in spark.catalog.listTables():
        assert not t.name.startswith("lcg_"), f"leaked catalog object {t.name}"
        assert not t.name.startswith("stream_ivj_"), f"leaked view {t.name}"
    # results survive the cleanup (materialized before rmtree)
    for df in dfs:
        assert df.count() > 0


def test_lifecycle_gate_concurrent_invocations_isolated(spark):
    """The driver may execute gate entries concurrently in one session;
    the uuid-namespaced catalog objects and per-invocation temp dirs must
    keep parallel lifecycle promotions fully isolated (identical results,
    no cross-talk, nothing left behind)."""
    from concurrent.futures import ThreadPoolExecutor

    from taico_data_integration_spark.queries.lifecycle_gate import (
        lifecycle_sqlwarehouse_promote,
    )

    sf = "/root/testdata/sf0.001"
    with ThreadPoolExecutor(max_workers=3) as ex:
        dfs = list(ex.map(lambda _: lifecycle_sqlwarehouse_promote(spark, sf), range(3)))
    rows = [frozenset(tuple(r) for r in df.collect()) for df in dfs]
    assert rows[0] == rows[1] == rows[2] and len(rows[0]) > 0
    assert not [t.name for t in spark.catalog.listTables() if t.name.startswith("lcg_")]


def test_bloom_sizing_meets_fpp():
    """bloom_sizing must deliver AT MOST the requested false-positive rate
    (power-of-two round-up can only improve it) and reject nonsense."""
    import math

    import pytest as _pt

    from taico_data_integration_spark.ops.incremental import TableStore

    for n, p in [(1, 0.01), (100, 0.01), (10_000, 0.05), (625_000, 0.01), (10**7, 0.001)]:
        m, k = TableStore.bloom_sizing(n, p)
        assert m & (m - 1) == 0 and m >= 64  # power of two, sane floor
        assert 1 <= k <= 16
        fpr = (1 - math.exp(-k * n / m)) ** k
        assert fpr <= p, (n, p, m, k, fpr)
    with _pt.raises(ValueError):
        TableStore.bloom_sizing(0, 0.01)
    with _pt.raises(ValueError):
        TableStore.bloom_sizing(10, 1.5)


def test_hll_rollup_incremental_equals_full(spark):
    """Sketch-based distinct-count rollup. The CONTRACT is accuracy: the
    incremental fold and the direct sketch agree within the lg_k error
    envelope of each other and of the exact distinct; NULLs contribute
    nothing. At this scale (25k distinct >> 2^12 buckets, dense regime)
    the fold is additionally byte-identical to the direct sketch on this
    build — pinned as an empirical observation; near the sparse/dense
    mode boundary the estimates can differ by a fraction of a percent
    (measured at ~1.3k distinct, covered by the gated entry)."""
    from taico_data_integration_spark.ops.rollup import (
        hll_estimate,
        hll_rollup,
        merge_hll_rollup,
    )

    df = spark.range(120_000).selectExpr(
        "id % 4 AS g",
        "IF(id % 11 = 0, NULL, CAST(xxhash64(id) % 25000 AS STRING)) AS u",
    )
    gens = [df.where("id < 40000"), df.where("id >= 40000 AND id < 90000"), df.where("id >= 90000")]
    full = hll_rollup(df, ["g"], "u")
    inc = hll_rollup(gens[0], ["g"], "u")
    for d in gens[1:]:
        inc = merge_hll_rollup(inc, hll_rollup(d, ["g"], "u"), ["g"])

    f = {r.g: bytes(r.hll) for r in full.collect()}
    i = {r.g: bytes(r.hll) for r in inc.collect()}
    assert f == i  # lossless: union of same-lg_k sketches == sketch of union

    est = {r.g: r.n_distinct for r in hll_estimate(inc).collect()}
    exact = {
        r.g: r.n
        for r in df.groupBy("g").agg(F.countDistinct("u").alias("n")).collect()
    }
    for g, n in exact.items():
        assert abs(est[g] - n) / n < 0.05, (g, est[g], n)

    # NULL-only group sketches to an empty estimate, never a phantom 1
    nulls = spark.range(10).selectExpr("99 AS g", "CAST(NULL AS STRING) AS u")
    e = hll_estimate(hll_rollup(nulls, ["g"], "u")).first()
    assert e.n_distinct == 0


@pytest.mark.parametrize("seed", [3, 14])
def test_tablestore_read_point_fuzz_equals_full_scan(spark, tmp_path, seed):
    """THE bloom invariant, fuzzed: for random data across types (ints
    with nulls, strings, timestamps, doubles), random layout, and probes
    drawn from both present and absent values, read_point == full-scan
    equality filter, always — bloom false positives may cost extra files,
    never rows; false negatives must not exist."""
    import datetime as dt
    import random

    from taico_data_integration_spark.ops.incremental import TableStore

    rng = random.Random(seed)
    store = TableStore(spark, str(tmp_path))
    n = rng.randint(500, 4000)
    df = spark.range(0, n).selectExpr(
        f"IF(id % {rng.randint(3, 9)} = 0, NULL, id % {rng.randint(20, 800)}) AS a",
        "CONCAT('v', CAST(xxhash64(id) % 500 AS STRING)) AS s",
        "timestampadd(MINUTE, CAST(id % 20000 AS INT), TIMESTAMP'2021-01-01') AS ts",
        "CAST(id % 97 AS DOUBLE) / 7.0 AS d",
        "id AS payload",
    )
    store.write("t", df.repartition(rng.randint(2, 6)))
    if rng.random() < 0.7:
        store.optimize_layout(
            "t", [rng.choice(["a", "s", "ts", "d"])], num_files=rng.randint(2, 8)
        )

    for _ in range(8):
        col = rng.choice(["a", "s", "ts", "d"])
        if rng.random() < 0.6:  # present value, sampled from the data
            row = df.where(F.col(col).isNotNull()).orderBy(F.rand(seed)).limit(1).first()
            probe = row[col]
        elif col == "a":
            probe = rng.randint(-100, 2000)
        elif col == "s":
            probe = f"v{rng.randint(-600, 600)}_missing" if rng.random() < 0.5 else f"v{rng.randint(-600, 600)}"
        elif col == "ts":
            probe = dt.datetime(2021, 1, 1) + dt.timedelta(minutes=rng.randint(-50, 25000))
        else:
            probe = rng.randint(0, 120) / 7.0
        got, rep = store.read_point("t", col, probe)
        want = df.where(F.col(col) == F.lit(probe))
        g = sorted(r.payload for r in got.collect())
        w = sorted(r.payload for r in want.collect())
        assert g == w, f"seed {seed} col {col} probe {probe!r} rep {rep}"
        # read_point is the one-value read_in: same probe, same rows
        got_in, rep_in = store.read_in("t", col, [probe])
        g_in = sorted(r.payload for r in got_in.collect())
        assert g_in == g, f"seed {seed} col {col} probe {probe!r} rep {rep_in}"


def test_read_point_cast_fidelity_guards(spark, tmp_path):
    """read_point hashes CAST(value AS coltype); a value the cast cannot
    faithfully represent must never match its truncation. Spark's own
    equality widens the COLUMN (bigint_col = 2.5 matches nothing), so:
    numeric value changed by the cast -> provably empty; non-midnight
    timestamp vs DATE column -> empty; uncastable -> loud ValueError."""
    import datetime as dt

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 1000).selectExpr(
        "id AS k", "to_date(timestampadd(DAY, CAST(id % 300 AS INT), DATE'2020-01-01')) AS d"
    )
    store.write("t", df.repartition(3))

    got, rep = store.read_point("t", "k", 2.5)  # would truncate to 2
    assert got.count() == 0 and rep["files_read"] == 0
    got2, _ = store.read_point("t", "k", 2.0)  # faithful float: matches id=2
    assert [r.k for r in got2.collect()] == [2]

    # DATE column: midnight timestamp matches its date, non-midnight never
    got3, _ = store.read_point("t", "d", dt.datetime(2020, 1, 11))
    assert got3.count() == df.where("d = DATE'2020-01-11'").count() > 0
    got4, rep4 = store.read_point("t", "d", dt.datetime(2020, 1, 11, 12, 30))
    assert got4.count() == 0 and rep4["files_read"] == 0

    with pytest.raises(ValueError, match="not castable"):
        store.read_point("t", "d", "definitely-not-a-date")


@pytest.mark.parametrize(
    "method, args",
    [
        ("compact", ()),
        ("optimize_layout", (["k"],)),
        ("optimize_layout_zorder", ({"k": (0.0, 1.0)},)),
        ("current_partition_columns", ()),
        ("add_columns", ({"c": "int"},)),
        ("drop_columns", (["k"],)),
        ("rename_columns", ({"k": "k2"},)),
        ("alter_column_type", ({"k": "bigint"},)),
        ("alter_partition_spec", (["k"],)),
    ],
)
def test_tablestore_missing_table_raises_value_error(spark, tmp_path, method, args):
    """Every method that resolves the current version raises the
    documented ValueError on a table with no current version — never a
    bare StopIteration from an unguarded version lookup."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    with pytest.raises(ValueError, match="no current version for nope"):
        getattr(store, method)("nope", *args)


def test_bloom_and_stats_manifests_across_version_lifecycle(spark, tmp_path):
    """Integration of the skipping surfaces with the versioning lifecycle:
    manifests are PER VERSION (a pinned read keeps its own filters after
    new writes), rollback repoints without touching them, and vacuum
    removes a reclaimed version's manifests while the surviving version's
    keep working."""
    import os as _os

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    v0_df = spark.range(0, 4_000).selectExpr("id AS k", "id % 13 AS grp")
    store.write("t", v0_df.repartition(4))
    g0, r0 = store.read_point("t", "k", 1234)
    assert [r.grp for r in g0.collect()] == [1234 % 13]

    # new version: the pinned v0 read still answers from v0's manifests
    store.write("t", spark.range(0, 50).selectExpr("id AS k", "id % 13 AS grp"))
    g0b, _ = store.read_point("t", "k", 1234, version=0)
    assert g0b.count() == 1
    gcur, _ = store.read_point("t", "k", 1234)  # current=v1: absent
    assert gcur.count() == 0
    assert _os.path.exists(store._bloom_path("t", 0))
    assert _os.path.exists(store._bloom_path("t", 1))

    # rollback repoints current; manifests untouched, lookups follow current
    store.rollback("t", 0)
    gback, _ = store.read_point("t", "k", 1234)
    assert gback.count() == 1

    # reclaim the rolled-back v1: keep_latest=0 = "keep only current"
    # (regression: versions[-0:] slices the whole list — a bare
    # vacuum(keep_latest=0) used to silently keep everything)
    assert store.vacuum("t", keep_latest=1) == []  # v1 IS the newest: kept
    assert store.vacuum("t", keep_latest=0) == [1]
    assert not _os.path.exists(store._bloom_path("t", 1))
    assert _os.path.exists(store._bloom_path("t", 0))
    gfinal, rep = store.read_point("t", "k", 1234)
    assert gfinal.count() == 1 and rep["files_total"] > 0


def test_read_point_matches_spark_numeric_coercion(spark, tmp_path):
    """ADVICE r7: read_point's lossy-cast guard must mirror Spark's OWN
    ``col = lit`` type coercion, empirically: NaN = NaN is TRUE in Spark,
    a bigint literal rounds to the column type on double/float columns,
    and a non-float-representable double against a FLOAT column matches
    nothing (the column widens to double)."""
    from taico_data_integration_spark.ops.incremental import TableStore

    nan = float("nan")
    store = TableStore(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(1, nan), (2, 0.0), (3, -0.0), (4, float(2**53)), (5, 1.5), (6, nan)],
        "id bigint, d double",
    ).withColumn("f", F.col("d").cast("float"))
    store.write("t", df.repartition(3))

    def _ids(got):
        return sorted(r.id for r in got.collect())

    # NaN probe on double and float columns: returns the NaN rows (stats
    # bypassed — parquet min/max exclude NaN — the bloom still indexes it)
    for c in ("d", "f"):
        got, rep = store.read_point("t", c, nan)
        assert _ids(got) == [1, 6], (c, rep)
        assert rep["skipped_by_stats"] == 0, rep

    # -0.0 and 0.0 are equal in Spark (and xxhash64 canonicalizes both):
    # probing either value finds BOTH rows
    for probe in (0.0, -0.0):
        got, _ = store.read_point("t", "d", probe)
        assert _ids(got) == [2, 3]

    # 2**53+1 is not a double: Spark rounds the literal to 2**53 on a
    # double column and matches the stored 2**53 — so must read_point
    got, _ = store.read_point("t", "d", 2**53 + 1)
    assert _ids(got) == [4]
    # float column + bigint literal: Spark's common type is FLOAT — the
    # literal is cast (rounds to 2**53) and matches
    got, _ = store.read_point("t", "f", 2**53 + 1)
    assert _ids(got) == [4]
    # float column + double literal the float cast changes: Spark widens
    # the COLUMN to double, nothing equals 0.1D -> provably empty
    got, rep = store.read_point("t", "f", 0.1)
    assert got.count() == 0 and rep["files_read"] == 0
    # ... while a faithful float literal matches normally
    got, _ = store.read_point("t", "f", 1.5)
    assert _ids(got) == [5]
    # integral column: truncating cast still short-circuits (unchanged)
    got, rep = store.read_point("t", "id", 2.5)
    assert got.count() == 0 and rep["files_read"] == 0
    # every case above equals the full-scan equality filter
    for c, probe in [("d", nan), ("f", nan), ("d", 0.0), ("d", 2**53 + 1),
                     ("f", 2**53 + 1), ("f", 0.1), ("f", 1.5)]:
        got, _ = store.read_point("t", c, probe)
        assert got.count() == store.read("t").where(F.col(c) == F.lit(probe)).count()


def test_bloom_build_is_distributed_and_sidecar_loads_per_column(spark, tmp_path):
    """VERDICT r7 #1: the bloom-manifest build must not materialize the
    packed filters on the driver — the grouped-map output is written
    straight to the parquet sidecar by executors. Pinned by failing ANY
    driver collect during the build. The sidecar is a parquet directory
    whose loader reads only the probed column's rows."""
    import os as _os

    import pyspark.sql.dataframe as _dfmod

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 20_000).selectExpr(
        "id AS k", "CAST(id % 500 AS INT) AS grp", "CONCAT('u', id % 3000) AS u"
    )
    store.write("t", df.repartition(4))

    real_collect = _dfmod.DataFrame.collect

    def _no_collect(self, *a, **kw):
        raise AssertionError("driver collect() inside the bloom build path")

    _dfmod.DataFrame.collect = _no_collect
    try:
        man = store.collect_file_blooms("t", ["u", "grp"])
    finally:
        _dfmod.DataFrame.collect = real_collect
    assert set(man["cols"]) == {"u", "grp"}
    assert all(rec["files"] for rec in man["cols"].values())

    # sidecar is a DIRECTORY of parquet part files (distributed write)
    bp = store._bloom_path("t", store._read_meta("t")["current"])
    assert _os.path.isdir(bp)
    # selective load: one column's rows only, and absent columns are None
    rec = store._bloom_load(bp, "u")
    assert rec is not None and rec["files"] and rec["m"] == man["cols"]["u"]["m"]
    assert store._bloom_load(bp, "never_indexed") is None
    # metadata-only listing never touches the blob column
    assert set(store._bloom_cols(bp)) == {"u", "grp"}

    # a SECOND build call for one old + one new column appends the new
    # column without rewriting (or losing) the existing rows
    man2 = store.collect_file_blooms("t", ["u", "k"])
    assert set(store._bloom_cols(bp)) == {"u", "grp", "k"}
    assert man2["cols"]["u"]["files"] == man["cols"]["u"]["files"]

    # end to end: lookups prune and match the full scan
    got, rep = store.read_point("t", "u", "u123")
    assert got.count() == store.read("t").where("u = 'u123'").count() > 0
    assert rep["files_read"] < rep["files_total"]


def test_bloom_mem_cache_is_bounded_lru(spark, tmp_path):
    """ADVICE r7: the in-process bloom cache must not grow without bound in
    a long-lived driver — it is an LRU over (table, version, col); evicted
    entries reload from the sidecar transparently."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    cols = [f"c{i}" for i in range(4)]
    df = spark.range(0, 2_000).selectExpr(
        "id AS k", *[f"CAST(id % {7 + i} AS INT) AS c{i}" for i in range(4)]
    )
    for tbl in ("t1", "t2", "t3", "t4", "t5"):
        store.write(tbl, df.repartition(2))
        store.collect_file_blooms(tbl, cols)
    # 5 tables x 4 cols = 20 built entries > the bound
    assert len(store._bloom_mem) <= store._BLOOM_MEM_MAX
    # an evicted early entry still probes correctly (reloaded from disk)
    got, _ = store.read_point("t1", "c0", 3)
    assert got.count() == df.where("c0 = 3").count() > 0
    assert len(store._bloom_mem) <= store._BLOOM_MEM_MAX


def test_detect_skew_advisor(spark):
    """VERDICT r7 #7: the sampling-based skew advisor reports top-key mass
    and recommends what the measured crossover supports — salting sized to
    the hot key's share for a pathological key, AQE alone otherwise."""
    from taico_data_integration_spark.ops.skew import detect_skew, salted_join

    # 30% hot key over 100k rows (the probe's shape, scaled down)
    hot = spark.range(100_000).selectExpr(
        "IF(id % 10 < 3, 7777, id) AS k", "id AS payload"
    )
    rep = detect_skew(hot, ["k"], hot_threshold=0.2, sample_fraction=0.2)
    assert rep["skewed"] and rep["recommendation"] == "salt"
    assert abs(rep["top_share"] - 0.3) < 0.02
    assert rep["top_keys"][0]["k"] == 7777
    # buckets = next pow2 >= ceil(top_share x shuffle partitions): at the
    # probe's 32 partitions this yields its measured x16 winner; the test
    # session runs fewer, so derive the expectation from the live conf
    import math as _math

    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    target = max(2, _math.ceil(rep["top_share"] * parts))
    assert rep["salt_buckets"] == min(256, 1 << (target - 1).bit_length())
    assert detect_skew.__doc__ and "salt_buckets" in detect_skew.__doc__
    # the recommendation feeds salted_join directly and preserves results
    small = spark.range(50).selectExpr("id AS k", "CAST(id AS STRING) AS name")
    plain = hot.join(small, "k").count()
    assert (
        salted_join(hot, small, ["k"], salt_buckets=rep["salt_buckets"]).count()
        == plain
    )

    # uniform keys: not skewed, leave it to AQE
    uni = spark.range(100_000).selectExpr("id % 1000 AS k")
    rep2 = detect_skew(uni, ["k"], sample_fraction=None)  # exact pass
    assert not rep2["skewed"] and rep2["recommendation"] == "aqe"
    assert rep2["salt_buckets"] == 0
    assert rep2["rows_sampled"] == 100_000

    # exact mode on the hot fixture agrees with the sampled estimate
    rep3 = detect_skew(hot, ["k"], sample_fraction=None)
    # (30001/100000: row id=7777 itself also lands on the hot key)
    assert rep3["skewed"] and abs(rep3["top_share"] - 0.3) < 1e-4

    with pytest.raises(ValueError):
        detect_skew(hot, ["k"], hot_threshold=1.5)
    with pytest.raises(ValueError):
        detect_skew(hot, ["k"], sample_fraction=0.0)

    # a key column literally named "count" must not collide with the tally
    named_count = hot.withColumnRenamed("k", "count")
    rep4 = detect_skew(named_count, ["count"], sample_fraction=None)
    assert rep4["skewed"] and rep4["top_keys"][0]["count"] == 7777


def test_manifest_compaction_story(spark, tmp_path):
    """VERDICT r7 #8: what bounds sidecar accumulation on a long-lived
    table with frequent small writes. Pinned here: (a) stats/bloom
    manifests are LAZY — only versions actually probed carry one, so N
    writes do not imply N sidecars; (b) vacuum reclaims a version's
    sidecars with its files; (c) compact()+vacuum() collapses the whole
    set to the single current version's manifests, after which point
    lookups still work (rebuilt against the compacted layout on first
    probe). Documented in SCALE.md's lakehouse section."""
    import os as _os

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = lambda n: spark.range(n).selectExpr("id AS k", "id * 3 AS v")
    for n in (100, 200, 300, 400, 500):  # five small versions, v0..v4
        store.write("t", df(n).repartition(4))

    sdir = _os.path.join(str(tmp_path), "t", "_stats")
    bdir = _os.path.join(str(tmp_path), "t", "_bloom")
    listing = lambda d: sorted(_os.listdir(d)) if _os.path.isdir(d) else []
    # (a) nothing probed yet -> no sidecars despite five versions
    assert listing(sdir) == [] and listing(bdir) == []
    # probe two pinned versions and current: exactly those carry manifests
    store.read_pruned("t", "k", lo=0, hi=50, version=1)
    store.read_point("t", "k", 7, version=3)
    store.read_point("t", "k", 7)
    assert listing(sdir) == ["v0001.json", "v0003.json", "v0004.json"]
    assert listing(bdir) == ["v0003.parquet", "v0004.parquet"]

    # (b) vacuum drops reclaimed versions' sidecars with their files
    store.vacuum("t", keep_latest=2)  # keeps v3, v4
    assert listing(sdir) == ["v0003.json", "v0004.json"]
    assert listing(bdir) == ["v0003.parquet", "v0004.parquet"]

    # (c) compact + vacuum: one version, one manifest set
    rep = store.compact("t", rows_per_file=250)
    assert rep["files_after"] <= rep["files_before"]
    store.vacuum("t", keep_latest=0)
    assert [h["v"] for h in store.history("t")] == [rep["version"]]
    assert listing(sdir) == [] and listing(bdir) == []  # lazy again
    got, probe_rep = store.read_point("t", "k", 7)
    assert got.count() == 1 and probe_rep["files_total"] > 0
    assert listing(bdir) == [f"v{rep['version']:04d}.parquet"]


def test_read_pruned_nan_bounds_match_spark_ordering(spark, tmp_path):
    """Companion to the read_point NaN fix: Spark orders NaN ABOVE every
    double, so a NaN bound is satisfiable (col <= NaN matches everything
    non-null; col >= NaN matches exactly the NaN rows) while parquet
    min/max EXCLUDE NaN. _stat_keeps must keep files conservatively on a
    NaN bound (no finite stat proves absence), leaving the residual to
    decide — pinned here so a future 'skip when value > max' refactor
    cannot reintroduce the blindspot."""
    from taico_data_integration_spark.ops.incremental import TableStore

    nan = float("nan")
    store = TableStore(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(1, nan), (2, 1.0), (3, 2.5), (4, nan), (5, None)],
        "id bigint, d double",
    )
    store.write("t", df.repartition(2))

    for lo, hi in ((nan, None), (None, nan), (nan, nan), (2.0, nan)):
        got, rep = store.read_pruned("t", "d", lo=lo, hi=hi)
        expect = store.read("t")
        if lo is not None:
            expect = expect.where(F.col("d") >= F.lit(lo))
        if hi is not None:
            expect = expect.where(F.col("d") <= F.lit(hi))
        assert got.exceptAll(expect).count() == 0
        assert expect.exceptAll(got).count() == 0
        assert got.count() == expect.count()
    # sanity on the semantics themselves: >= NaN selects exactly NaN rows
    got, _ = store.read_pruned("t", "d", lo=nan, hi=None)
    assert sorted(r.id for r in got.collect()) == [1, 4]
    # <= NaN selects every non-null row
    got2, _ = store.read_pruned("t", "d", lo=None, hi=nan)
    assert sorted(r.id for r in got2.collect()) == [1, 2, 3, 4]


@pytest.mark.parametrize("seed", [5, 17])
def test_tablestore_read_in_fuzz_equals_full_scan(spark, tmp_path, seed):
    """read_in (batched IN-list lookup) == full-scan isin, fuzzed across
    types, layouts, and mixed present/absent value lists — files may only
    be over-read (bloom fp), never under-read."""
    import datetime as dt
    import random

    from taico_data_integration_spark.ops.incremental import TableStore

    rng = random.Random(seed)
    store = TableStore(spark, str(tmp_path))
    n = rng.randint(800, 3000)
    df = spark.range(0, n).selectExpr(
        f"IF(id % {rng.randint(3, 9)} = 0, NULL, id % {rng.randint(30, 700)}) AS a",
        "CONCAT('v', CAST(xxhash64(id) % 400 AS STRING)) AS s",
        "timestampadd(MINUTE, CAST(id % 9000 AS INT), TIMESTAMP'2022-03-01') AS ts",
        "id AS payload",
    )
    store.write("t", df.repartition(rng.randint(2, 6)))
    if rng.random() < 0.7:
        store.optimize_layout("t", [rng.choice(["a", "s", "ts"])], num_files=rng.randint(3, 8))

    for _ in range(6):
        col = rng.choice(["a", "s", "ts"])
        nvals = rng.randint(1, 12)
        vals = []
        for _ in range(nvals):
            if rng.random() < 0.6:
                row = df.where(F.col(col).isNotNull()).orderBy(F.rand(seed)).limit(1).first()
                vals.append(row[col])
            elif col == "a":
                vals.append(rng.randint(-50, 1500))
            elif col == "s":
                vals.append(f"v{rng.randint(-500, 500)}")
            else:
                vals.append(dt.datetime(2022, 3, 1) + dt.timedelta(minutes=rng.randint(-99, 12000)))
        got, rep = store.read_in("t", col, vals)
        want = df.where(F.col(col).isin(vals))
        g = sorted(r.payload for r in got.collect())
        w = sorted(r.payload for r in want.collect())
        assert g == w, f"seed {seed} col {col} vals {vals!r} rep {rep}"
        assert rep["n_values"] == nvals


def test_read_in_edges(spark, tmp_path):
    """read_in contract edges: absent-only lists touch zero files, lossy
    values drop out (reported), NaN values match Spark's NaN semantics,
    and the loud-error contract (empty / None / mixed types / oversized)."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 20_000).selectExpr(
        "id % 100 AS k",
        "CONCAT('user_', CAST(xxhash64(id) % 15000 AS STRING)) AS u",
        "CAST(IF(id = 7, 'NaN', CAST(id AS STRING)) AS DOUBLE) AS d",
        "id AS payload",
    )
    store.write("t", df.repartition(4))
    store.optimize_layout("t", ["k"], num_files=8)

    # mixed present/absent on the unclustered column: rows exact, and the
    # absent-only list reads nothing
    present = [r.u for r in df.where("payload IN (11, 222, 3333)").collect()]
    got, rep = store.read_in("t", "u", present + ["user_never_a", "user_never_b"])
    assert got.count() == df.where(F.col("u").isin(present)).count() > 0
    assert rep["files_read"] < rep["files_total"]
    got0, rep0 = store.read_in("t", "u", ["user_never_a", "user_never_b"])
    assert got0.count() == 0 and rep0["files_read"] == 0

    # lossy values drop out of the probe set but exact values still match
    got2, rep2 = store.read_in("t", "k", [2.5, 3.0, 4.5])
    assert sorted(set(r.k for r in got2.collect())) == [3]
    assert rep2["values_pruned"] == 2
    # an all-lossy list is provably empty without touching files
    got3, rep3 = store.read_in("t", "k", [2.5, 4.5])
    assert got3.count() == 0 and rep3["files_read"] == 0

    # NaN inside a double IN-list: Spark treats NaN = NaN as true
    got4, _ = store.read_in("t", "d", [float("nan"), 100.0])
    assert sorted(r.payload for r in got4.collect()) == [7, 100]

    with pytest.raises(ValueError, match="at least one"):
        store.read_in("t", "k", [])
    with pytest.raises(ValueError, match="NULL"):
        store.read_in("t", "k", [1, None])
    with pytest.raises(ValueError, match="one Python type"):
        store.read_in("t", "k", [1, "x"])
    with pytest.raises(ValueError, match="broadcast semi-join"):
        store.read_in("t", "k", list(range(50)), max_values=10)
    with pytest.raises(ValueError, match="not castable"):
        store.read_in("t", "d", ["not-a-number"])


def test_delete_in_copy_on_write(spark, tmp_path):
    """File-level copy-on-write DELETE: only files that might hold a
    doomed key are rewritten; every other file is SHARED BY REFERENCE
    into the new version (round 10 — the manifest lists it against its
    physical holder; zero data movement AND zero copy requests), NULL
    keys survive, the old version stays pinned-readable, and vacuuming
    it leaves the referenced files alive for the new version."""
    import os as _os

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 40_000).selectExpr(
        "IF(id % 1000 = 999, NULL, id) AS k", "id AS payload", "id % 100 AS grp"
    )
    store.write("t", df.repartition(4))
    store.optimize_layout("t", ["k"], num_files=8)  # k-disjoint files
    n0 = store.read("t").count()
    v0 = store._read_meta("t")["current"]

    # keys clustered into ONE file's range: the other 7 link through
    doomed = [100, 101, 102, 250]
    v1, rep = store.delete_in("t", "k", doomed)
    assert rep["noop"] is False
    assert rep["rows_deleted"] == 4
    assert rep["files_rewritten"] < rep["files_total"]
    assert rep["files_linked"] == rep["files_total"] - rep["files_rewritten"]
    got = store.read("t")
    assert got.count() == n0 - 4
    assert got.where(F.col("k").isin(doomed)).count() == 0
    # NULL keys are never deleted by IN
    assert got.where("k IS NULL").count() == df.where("k IS NULL").count()
    # full content parity with the logical delete
    expect = df.where(F.col("k").isNull() | ~F.col("k").isin(doomed))
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0

    # share-by-reference: untouched files appear in v1's manifest against
    # their PHYSICAL version (v0), and v1's directory physically holds
    # ONLY the rewrite outputs — nothing was linked or copied
    v1_path = _os.path.join(str(tmp_path), "t", f"v{v1:04d}")
    fm1 = store._version_filemap("t", {"v": v1, "path": v1_path})
    shared = [rel for rel, vp in fm1.items() if vp == v0]
    assert len(shared) == rep["files_linked"] > 0
    phys = {
        _os.path.relpath(_os.path.join(dp, f), v1_path)
        for dp, _d, fs in _os.walk(v1_path)
        for f in fs
        if f.endswith(".parquet")
    }
    assert len(phys) == rep["rewrite_output_files"]
    # every physical file is one of v1's own manifest entries and vice
    # versa: no stray output, no unlisted file
    assert phys == {rel for rel, vp in fm1.items() if vp == v1}

    # old version still pinned-readable; vacuum it and the links survive
    assert store.read("t", version=v0).count() == n0
    removed = store.vacuum("t", keep_latest=0)  # drops v0 AND the raw pre-optimize version
    assert v0 in removed
    assert store.read("t").count() == n0 - 4

    # absent keys are a NO-OP: no new version, nothing burned
    cur = store._read_meta("t")["current"]
    v2, rep2 = store.delete_in("t", "k", [10**12, 10**12 + 1])
    assert v2 == cur and rep2["noop"] is True and rep2["rows_deleted"] == 0
    assert store._read_meta("t")["current"] == cur

    # Hive-partitioned layout is first-class (round 9): the delete lands
    # in partition dirs, untouched partition files link through
    store.write("p", df.withColumn("part", F.col("grp") % 3), partition_by=["part"])
    pv, prep = store.delete_in("p", "k", [7, 8])
    assert prep["rows_deleted"] == 2 and prep["files_linked"] >= 1
    assert store.read("p").where(F.col("k").isin([7, 8])).count() == 0


def test_delete_in_nan_and_versioning(spark, tmp_path):
    """delete_in honors Spark NaN semantics (a NaN value deletes the NaN
    rows) and composes with history/rollback like any other version."""
    from taico_data_integration_spark.ops.incremental import TableStore

    nan = float("nan")
    store = TableStore(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(1, nan), (2, 2.0), (3, 3.0), (4, nan), (5, None)],
        "id bigint, d double",
    )
    store.write("t", df.repartition(2))
    v1, rep = store.delete_in("t", "d", [nan, 3.0])
    assert rep["rows_deleted"] == 3
    assert sorted(r.id for r in store.read("t").collect()) == [2, 5]
    # rollback restores the pre-delete rows (versioned like any write)
    store.rollback("t", 0)
    assert store.read("t").count() == 5


def test_merge_in_copy_on_write(spark, tmp_path):
    """File-level copy-on-write MERGE: result rows exactly equal
    merge_upsert's anti-join form, only the key-bearing files rewrite,
    untouched files hard-link through, and an all-new-keys batch is a
    pure append (every old file linked)."""
    import os as _os

    from taico_data_integration_spark.ops.incremental import TableStore, merge_upsert

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 30_000).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS val", "id % 50 AS grp"
    )
    store.write("t", df.repartition(4))
    store.optimize_layout("t", ["k"], num_files=8)
    v0 = store._read_meta("t")["current"]

    # clustered update batch: 3 existing keys updated + 2 new keys inserted
    updates = spark.createDataFrame(
        [(10, -1.0, 99), (11, -2.0, 99), (12, -3.0, 99),
         (10**7, -4.0, 99), (10**7 + 1, -5.0, 99)],
        "k bigint, val double, grp bigint",
    )
    expect = merge_upsert(store.read("t"), updates, ["k"]).localCheckpoint()
    v1, rep = store.merge_in("t", updates, "k")
    got = store.read("t")
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0
    assert rep["rows_replaced"] == 3 and rep["rows_written"] == 5
    assert 0 < rep["files_rewritten"] < rep["files_total"]
    assert rep["files_linked"] == rep["files_total"] - rep["files_rewritten"]
    # references actually shared: v1's manifest lists untouched files
    # against v0, and v1's dir physically holds only rewrite outputs
    v1_dir = _os.path.join(str(tmp_path), "t", f"v{v1:04d}")
    fm1 = store._version_filemap("t", {"v": v1, "path": v1_dir})
    shared = sum(1 for vp in fm1.values() if vp == v0)
    assert shared == rep["files_linked"] > 0
    assert sum(1 for f in _os.listdir(v1_dir) if f.endswith(".parquet")) == rep[
        "rewrite_output_files"
    ]

    # all-new-keys batch: pure append — every old file links through
    fresh = spark.createDataFrame(
        [(10**8, 1.0, 1), (10**8 + 1, 2.0, 1)], "k bigint, val double, grp bigint"
    )
    n_before = store.read("t").count()
    v2, rep2 = store.merge_in("t", fresh, "k")
    assert rep2["files_rewritten"] == 0 or rep2["skipped_by_bloom"] >= 0  # fp tolerated
    assert rep2["files_linked"] + rep2["files_rewritten"] == rep2["files_total"]
    assert store.read("t").count() == n_before + 2
    assert rep2["rows_replaced"] == 0 and rep2["rows_written"] == 2

    # contract errors: NULL key, missing column, oversized batch
    with pytest.raises(ValueError, match="non-null"):
        store.merge_in("t", spark.createDataFrame(
            [(None, 0.0, 0)], "k bigint, val double, grp bigint"), "k")
    with pytest.raises(ValueError, match="schema"):
        store.merge_in("t", updates.drop("grp"), "k")
    with pytest.raises(ValueError, match="full rewrite"):
        store.merge_in("t", df.limit(50), "k", max_keys=10)


def test_merge_in_casts_updates_to_target_types(spark, tmp_path):
    """merge_in's new part files must carry the target's exact parquet
    types: an int-typed update batch against a bigint target is cast, so
    the mixed linked+rewritten version reads consistently."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 5_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS val")
    store.write("t", df.repartition(3))
    updates = spark.createDataFrame([(3, 99), (10**7, 77)], "k int, val int")
    v, rep = store.merge_in("t", updates, "k")
    got = store.read("t")
    assert dict(got.dtypes) == {"k": "bigint", "val": "double"}
    assert got.count() == 5_001
    assert got.where("k = 3").first().val == 99.0
    assert got.where("k = 10000000").first().val == 77.0


def test_merge_in_enforces_check_constraints(spark, tmp_path):
    """Regression (ADVICE r8 high): merge_in must evaluate the table's
    registered CHECK constraints on the rows it commits, exactly as
    write() does — otherwise the COW fast path lets violating update rows
    land in a committed version whenever the batch qualifies for it,
    while the same stream's fallback batches (full merge through write())
    abort. A violating batch aborts with no visible version, no uncommitted
    residue, and no txn record; a clean batch then commits normally."""
    import os as _os

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 5_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS val")
    store.write("t", df.repartition(3))
    store.set_constraint("t", "val_nonneg", "val >= 0")
    v0 = store._read_meta("t")["current"]
    before = store.read("t").localCheckpoint()

    bad = spark.createDataFrame([(3, -1.0), (10**7, 5.0)], "k bigint, val double")
    with pytest.raises(ValueError, match="constraint violation"):
        store.merge_in("t", bad, "k")
    # table unchanged, no new version visible, no uncommitted residue:
    # the aborted version's prefix was deleted, not left marker-less
    assert store._read_meta("t")["current"] == v0
    assert store.read("t").exceptAll(before).count() == 0
    assert {
        d for d in _os.listdir(_os.path.join(str(tmp_path), "t"))
        if d.startswith((".", "v"))
    } == {f"v{e['v']:04d}" for e in store.history("t")}

    # the txn path inherits the abort: the batch id is NOT recorded, so a
    # corrected redelivery of the same batch id is applied, not skipped
    with pytest.raises(ValueError, match="constraint violation"):
        store.merge_in_with_txn("t", bad, "k", app_id="s1", batch_id=0)
    assert store.last_txn("t", "s1") is None
    good = spark.createDataFrame([(3, 99.0), (10**7, 5.0)], "k bigint, val double")
    v = store.merge_in_with_txn("t", good, "k", app_id="s1", batch_id=0)
    assert v is not None and store.last_txn("t", "s1") == 0
    got = store.read("t")
    assert got.count() == 5_001
    assert got.where("k = 3").first().val == 99.0


@pytest.mark.parametrize("seed", [4, 23])
def test_delete_where_fuzz_equals_logical_delete(spark, tmp_path, seed):
    """delete_where == the logical NOT-BETWEEN filter, fuzzed across types
    (ints with nulls, timestamps, doubles WITH planted NaN), layouts, and
    open/closed/out-of-domain ranges; nulls always survive; NaN doubles
    always survive regardless of which file they land in (ADVICE r8:
    NaN-never-in-range, layout-independent); out-of-domain ranges are
    version-free no-ops."""
    import datetime as dt
    import random

    from taico_data_integration_spark.ops.incremental import TableStore

    rng = random.Random(seed)
    store = TableStore(spark, str(tmp_path))
    n = rng.randint(800, 3000)
    df = spark.range(0, n).selectExpr(
        f"IF(id % {rng.randint(3, 9)} = 0, NULL, id % {rng.randint(40, 600)}) AS a",
        "timestampadd(MINUTE, CAST(id % 8000 AS INT), TIMESTAMP'2023-01-01') AS ts",
        "IF(id % 13 = 0, CAST('NaN' AS DOUBLE), CAST(id % 89 AS DOUBLE) / 3.0) AS d",
        "id AS payload",
    ).localCheckpoint()
    store.write("t", df.repartition(rng.randint(2, 5)))
    if rng.random() < 0.7:
        store.optimize_layout("t", [rng.choice(["a", "ts", "d"])], num_files=rng.randint(3, 8))

    for _ in range(4):
        col = rng.choice(["a", "ts", "d"])
        if col == "a":
            b = sorted(rng.sample(range(-50, 700), 2))
        elif col == "ts":
            b = sorted(
                dt.datetime(2023, 1, 1) + dt.timedelta(minutes=rng.randint(-500, 9000))
                for _ in range(2)
            )
        else:
            b = sorted(rng.uniform(-5, 35) for _ in range(2))
        lo, hi = b
        if rng.random() < 0.3:
            lo = None
        elif rng.random() < 0.3:
            hi = None
        current = store.read("t").localCheckpoint()
        v, rep = store.delete_where("t", col, lo=lo, hi=hi)
        pred = F.lit(True)
        if lo is not None:
            pred = pred & (F.col(col) >= F.lit(lo))
        if hi is not None:
            pred = pred & (F.col(col) <= F.lit(hi))
        if col == "d":  # NaN-never-in-range contract
            pred = pred & ~F.isnan(F.col(col))
        expect = current.where(F.col(col).isNull() | ~pred)
        got = store.read("t")
        assert got.exceptAll(expect).count() == 0, (seed, col, lo, hi, rep)
        assert expect.exceptAll(got).count() == 0, (seed, col, lo, hi, rep)
        assert rep["rows_deleted"] == current.count() - expect.count()

    # out-of-domain range: no-op, no version burned
    cur = store._read_meta("t")["current"]
    v, rep = store.delete_where("t", "a", lo=10**9, hi=10**9 + 5)
    assert rep["noop"] and v == cur
    with pytest.raises(ValueError, match="truncate"):
        store.delete_where("t", "a")


def test_delete_where_nan_layout_independent(spark, tmp_path):
    """ADVICE r8: whether a NaN row survives delete_where must not depend
    on which file it lives in. Contract: NaN is never in [lo, hi] — NaN
    rows always survive, in linked and rewritten files alike — and a
    NaN-holding file's stats are unusable (Spark's writer contaminates
    bounds with NaN; the collector rejects them), so it is kept
    conservatively, never pruned."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    # k-clustered layout; NaN planted in BOTH the low-k and high-k files
    df = spark.range(0, 200).selectExpr(
        "id AS k",
        "IF(id IN (5, 105), CAST('NaN' AS DOUBLE), CAST(id AS DOUBLE)) AS d",
    )
    store.write("t", df.repartition(2))
    store.optimize_layout("t", ["k"], num_files=2)
    # NaN-holding files have unusable d-stats -> conservatively affected
    v, rep = store.delete_where("t", "d", lo=150.0, hi=None)
    got = store.read("t")
    assert rep["rows_deleted"] == 50  # finite d in [150, 199]; NaNs survive
    assert got.where("isnan(d)").count() == 2
    assert got.where("d >= 150 AND NOT isnan(d)").count() == 0
    # re-running is idempotent: all remaining NaN rows still survive
    v2, rep2 = store.delete_where("t", "d", lo=0.0, hi=None)
    assert store.read("t").where("isnan(d)").count() == 2


def test_delete_where_links_untouched_files(spark, tmp_path):
    """On a range-clustered layout, a narrow range rewrite touches only
    the overlapping files; the rest share by reference (manifest entries
    against their physical version — zero copies)."""
    import os as _os

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 30_000).selectExpr("id AS k", "id % 7 AS g")
    store.write("t", df.repartition(3))
    store.optimize_layout("t", ["k"], num_files=8)
    v0 = store._read_meta("t")["current"]
    v1, rep = store.delete_where("t", "k", lo=100, hi=200)
    assert rep["rows_deleted"] == 101
    assert 0 < rep["files_rewritten"] < rep["files_total"]
    d1 = _os.path.join(str(tmp_path), "t", f"v{v1:04d}")
    fm1 = store._version_filemap("t", {"v": v1, "path": d1})
    shared = sum(1 for vp in fm1.values() if vp == v0)
    assert shared == rep["files_linked"] > 0
    assert sum(1 for f in _os.listdir(d1) if f.endswith(".parquet")) == rep[
        "rewrite_output_files"
    ]


def test_delete_in_composite_key(spark, tmp_path):
    """Composite-key copy-on-write DELETE (VERDICT r8 #2 — the
    reference's sync keys are composite (name, company_id),
    sync_data.py:242-252): tuples prune with intersected per-column
    stats, doomed rows are found by a broadcast anti-join, NULL in any
    key component survives (IN never matches NULL), and the result
    equals the logical anti-join delete row-for-row."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 30_000).selectExpr(
        "IF(id % 997 = 0, NULL, id) AS k",
        "CAST(id % 40 AS INT) AS c",
        "CAST(id AS DOUBLE) AS val",
    )
    store.write("t", df.repartition(4))
    store.optimize_layout("t", ["k"], num_files=8)
    n0 = store.read("t").count()
    doomed = [(100, 20), (101, 21), (250, 10)]
    # (100, 99) exists as k but never with c=99: must delete nothing
    v1, rep = store.delete_in("t", ["k", "c"], doomed + [(102, 99)])
    assert rep["rows_deleted"] == 3
    assert rep["files_rewritten"] < rep["files_total"]
    got = store.read("t")
    assert got.count() == n0 - 3
    expect = df.join(
        spark.createDataFrame(doomed + [(102, 99)], "k bigint, c int"),
        on=["k", "c"],
        how="left_anti",
    )
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0
    # NULL key components always survive
    assert got.where("k IS NULL").count() == df.where("k IS NULL").count()
    # tuple of entirely-new keyspace: NO-OP, no version burned
    cur = store._read_meta("t")["current"]
    v2, rep2 = store.delete_in("t", ["k", "c"], [(10**12, 1)])
    assert v2 == cur and rep2["noop"] is True


def test_merge_in_composite_key_and_partitioned(spark, tmp_path):
    """Composite-key + Hive-partitioned copy-on-write MERGE: result rows
    exactly equal merge_upsert's anti-join form on the same key list,
    update rows land in their correct partition dirs, untouched
    partition files hard-link (same inode), and the report's
    linked+rewritten arithmetic holds across partition prefixes."""
    import os as _os

    from taico_data_integration_spark.ops.incremental import TableStore, merge_upsert

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 20_000).selectExpr(
        "id AS k",
        "CAST(id % 25 AS INT) AS c",
        "CAST(id % 4 AS INT) AS tenant",
        "CAST(id AS DOUBLE) AS val",
    )
    store.write("t", df, partition_by=["tenant"])
    v0 = store._read_meta("t")["current"]
    target_cols = store.read("t").columns
    updates = (
        df.where("k < 60")
        .withColumn("val", F.col("val") * -1.0)
        .unionByName(df.where("k < 15").withColumn("k", F.col("k") + 10**9))
    )
    expect = (
        merge_upsert(store.read("t"), updates, ["k", "c"])
        .select(*target_cols)
        .localCheckpoint()
    )
    v1, rep = store.merge_in("t", updates, ["k", "c"])
    assert rep["rows_replaced"] == 60 and rep["rows_written"] == 75
    assert rep["files_linked"] + rep["files_rewritten"] == rep["files_total"]
    got = store.read("t")
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0
    # updated rows are readable under their own partition dir (partition
    # pruning still applies to the rewritten files)
    assert got.where((F.col("tenant") == 1) & (F.col("val") < 0)).count() == 15
    # reference sharing across partition prefixes: untouched files keep
    # their exact partition-prefixed rel and point at v0 physically
    d0 = _os.path.join(str(tmp_path), "t", f"v{v0:04d}")
    d1 = _os.path.join(str(tmp_path), "t", f"v{v1:04d}")
    fm0 = store._version_filemap("t", {"v": v0, "path": d0})
    fm1 = store._version_filemap("t", {"v": v1, "path": d1})
    shared = {rel for rel, vp in fm1.items() if vp == v0}
    assert len(shared) == rep["files_linked"] > 0
    # a referenced file keeps its partition prefix AND its exact relative
    # path, and the physical file exists where the reference points
    assert all(
        rel in fm0 and _os.sep in rel and _os.path.exists(_os.path.join(d0, rel))
        for rel in shared
    )


def test_delete_where_partitioned_layout(spark, tmp_path):
    """delete_where on a Hive-partitioned layout (round 9): the range
    rewrite preserves partition dirs, links untouched partition files,
    and equals the logical range delete row-for-row."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 20_000).selectExpr(
        "id AS k", "CAST(id % 3 AS INT) AS part", "CAST(id AS DOUBLE) AS v"
    )
    store.write("t", df, partition_by=["part"])
    v1, rep = store.delete_where("t", "k", lo=500, hi=999)
    assert rep["rows_deleted"] == 500
    assert rep["files_linked"] >= 1
    got = store.read("t")
    # partition discovery returns the partition column LAST — align for
    # the positional exceptAll comparison
    expect = df.where("k < 500 OR k > 999").select(*got.columns)
    assert got.count() == 19_500
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0
    # per-partition counts still correct (rewrites landed in the right dirs)
    for p in range(3):
        assert (
            got.where(F.col("part") == p).count()
            == expect.where(F.col("part") == p).count()
        )


@pytest.mark.parametrize("seed", [7, 31])
def test_cow_composite_fuzz_equals_anti_join_forms(spark, tmp_path, seed):
    """Fuzz the composite-key COW surfaces against their logical anti-join
    twins (VERDICT r8 #2): random table sizes, layouts (clustered /
    random / Hive-partitioned), key arities (1-3, mixed int/string
    components), NULL-bearing key columns, and update/delete batches that
    mix present, absent, and duplicate-in-target keys. merge_in must
    equal merge_upsert and delete_in the anti-join filter, row-for-row,
    on every draw."""
    import random

    from taico_data_integration_spark.ops.incremental import TableStore, merge_upsert

    rng = random.Random(seed)
    store = TableStore(spark, str(tmp_path))
    for case in range(3):
        n = rng.randint(500, 4_000)
        df = spark.range(n).selectExpr(
            "id AS k",
            "IF(id % 97 = 0, NULL, CAST(id % 23 AS INT)) AS c",
            f"CONCAT('g', CAST(id % {rng.randint(3, 9)} AS STRING)) AS s",
            "CAST(id AS DOUBLE) AS val",
        )
        t = f"t{seed}_{case}"
        layout = rng.choice(["clustered", "random", "partitioned"])
        if layout == "clustered":
            store.write(t, df.repartition(rng.randint(2, 4)))
            store.optimize_layout(t, ["k"], num_files=rng.randint(3, 8))
        elif layout == "random":
            store.write(t, df.repartition(rng.randint(2, 6)))
        else:
            store.write(t, df.repartitionByRange(2, "k"), partition_by=["s"])
        key_cols = rng.choice([["k"], ["k", "c"], ["k", "s"], ["k", "c", "s"]])
        target = store.read(t)
        cols = target.columns

        # --- delete_in: present + absent + (for composite) mismatched tuples
        base_rows = df.where(f"id % {rng.randint(5, 20)} = 1").limit(30).collect()
        vals = []
        for r in base_rows:
            tup = tuple(r[c] for c in key_cols)
            if any(x is None for x in tup):
                continue
            vals.append(tup if len(key_cols) > 1 else tup[0])
        if not vals:
            vals = [(10**9,) * len(key_cols) if len(key_cols) > 1 else 10**9]
        if len(key_cols) > 1:
            vals.append(tuple([10**9] + list(vals[0])[1:]))  # absent composite
        expect_del = target.join(
            spark.createDataFrame(
                [v if isinstance(v, tuple) else (v,) for v in vals],
                target.select(*key_cols).schema,
            ),
            on=key_cols,
            how="left_anti",
        ).localCheckpoint()
        _, rep = store.delete_in(t, key_cols if len(key_cols) > 1 else key_cols[0], vals)
        got = store.read(t).select(*cols)
        assert got.exceptAll(expect_del.select(*cols)).count() == 0, (layout, key_cols)
        assert expect_del.select(*cols).exceptAll(got).count() == 0, (layout, key_cols)

        # --- merge_in: reprice a slice + insert an all-new keyspace
        cur = store.read(t)
        ups = (
            cur.where(f"k % {rng.randint(7, 13)} = 2")
            .limit(40)
            .withColumn("val", F.col("val") * -1.0)
            .unionByName(
                cur.orderBy("k").limit(5).withColumn("k", F.col("k") + 10**9)
            )
            # merge_in contract: no NULL key components, distinct tuples
            .na.drop(subset=key_cols)
            .dropDuplicates(key_cols)
            .localCheckpoint()
        )
        if ups.count() == 0:
            continue
        expect_m = (
            merge_upsert(cur, ups, key_cols).select(*cols).localCheckpoint()
        )
        store.merge_in(t, ups, key_cols if len(key_cols) > 1 else key_cols[0])
        got = store.read(t).select(*cols)
        assert got.exceptAll(expect_m).count() == 0, (layout, key_cols)
        assert expect_m.exceptAll(got).count() == 0, (layout, key_cols)


def test_partition_column_stats_from_dir_names(spark, tmp_path):
    """Round 9: partition columns have no footer stats, but the Hive
    ``name=value`` dir IS an exact stat (min = max = value). A COW delete
    keyed on the PARTITION column must rewrite only that partition's
    files — the tenant-scoped GDPR shape on a tenant-partitioned store —
    and the ``__HIVE_DEFAULT_PARTITION__`` dir must record the all-null
    shape (pruned by every range, its rows always surviving)."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(8_000).selectExpr(
        "id AS k",
        "IF(id % 100 = 0, NULL, CAST(id % 4 AS INT)) AS tenant",
        "CAST(id AS DOUBLE) AS v",
    )
    store.write("t", df.repartitionByRange(2, "k"), partition_by=["tenant"])
    stats = store.collect_file_stats("t", ["tenant"])
    for rel, rec in stats["files"].items():
        s = rec["cols"]["tenant"]
        if "__HIVE_DEFAULT_PARTITION__" in rel:
            assert s["min"] is None and s["null_count"] == rec["rows"]
        else:
            val = int(rel.split("=", 1)[1].split(os.sep)[0])
            assert s["min"] == val == s["max"] and s["null_count"] == 0

    n_null = df.where("tenant IS NULL").count()
    n_t2 = df.where("tenant = 2").count()
    # delete one tenant: that partition's 2 files are DROPPED without being
    # read (dir-name stats prove every row dies), 8 files link, 0 rewrites
    v, rep = store.delete_where("t", "tenant", lo=2, hi=2)
    assert rep["files_dropped"] == 2 and rep["files_rewritten"] == 0, rep
    assert rep["files_linked"] == 8 and rep["rows_deleted"] == n_t2, rep
    assert store.read("t").where("tenant = 2").count() == 0
    assert store.read("t").where("tenant IS NULL").count() == n_null

    # delete_in on partition values goes through the same exact stats —
    # and the same metadata-only drop
    v, rep = store.delete_in("t", "tenant", [0])
    assert rep["files_dropped"] == 2 and rep["files_rewritten"] == 0, rep
    assert rep["skipped_by_stats"] == 6, rep
    assert store.read("t").where("tenant = 0").count() == 0
    assert store.read("t").where("tenant IS NULL").count() == n_null


def test_cow_mutations_detect_concurrent_writer(spark, tmp_path):
    """Round 9: COW mutations and maintenance rewrites are
    conflict-checked (Delta's ConcurrentModificationException analog).
    Without the check, last-pointer-wins would let a delete that raced
    another delete silently RESURRECT the winner's deleted rows. A
    deterministic interleaving (a competing delete commits between the
    loser's probe and its pointer swap) must raise ConcurrentWriteError,
    leave the winner's result current, keep the loser's version
    unpointed, and succeed on retry."""
    from taico_data_integration_spark.ops.incremental import (
        ConcurrentWriteError,
        TableStore,
    )

    class Racer(TableStore):
        def __init__(self, *a, **k):
            super().__init__(*a, **k)
            self.raced = False

        def _cow_commit(self, table, *a, **k):
            if not self.raced:
                self.raced = True
                TableStore(self.spark, self.root).delete_in(table, "k", [5])
            return super()._cow_commit(table, *a, **k)

    store = Racer(spark, str(tmp_path))
    df = spark.range(0, 5_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    store.write("t", df.repartition(4))
    store.optimize_layout("t", ["k"], num_files=4)
    v_base = store._read_meta("t")["current"]

    with pytest.raises(ConcurrentWriteError, match="computed against"):
        store.delete_in("t", "k", [6])
    # the WINNER's delete is current; the loser's rows are untouched
    assert store.read("t").where("k = 5").count() == 0
    assert store.read("t").where("k = 6").count() == 1
    # the loser's version committed but never became current (it claimed
    # its number BEFORE the winner, so it sits below current, unpointed)
    meta = store._read_meta("t")
    cur = meta["current"]
    assert cur == v_base + 2  # the winner's version
    assert v_base + 1 in {e["v"] for e in meta["versions"]}  # loser, unpointed
    # loser still pinned-readable for forensics: its own delete applied
    # (k=6 gone) but the winner's is missing (k=5 present) — exactly why
    # pointing it would have been a lost update
    loser = store.read("t", version=v_base + 1)
    assert loser.where("k = 6").count() == 0
    assert loser.where("k = 5").count() == 1
    # retry against the new current applies cleanly
    v2, rep = store.delete_in("t", "k", [6])
    assert store.read("t").where("k IN (5, 6)").count() == 0
    assert store.read("t").count() == 4_998

    # a stale maintenance rewrite is rejected the same way: compact
    # computed against v_base must not swallow the deletes
    with pytest.raises(ConcurrentWriteError):
        store._write_pointer("t", v_base, expect_base=v_base)


def test_delete_metadata_only_drop_guard_rails(spark, tmp_path):
    """The metadata-only file drop (round 9) may fire ONLY when stats
    PROVE every row dies: a null-bearing file is never dropped (NULL
    survives any range), a floating column is never dropped (NaN rows
    must survive and stats can't see them), and results always equal the
    logical delete. On a range-clustered layout a covering range DROPS
    the interior files without reading them."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))

    # clustered ints: files fully inside the range are dropped, boundary
    # files rewrite, outside files link
    df = spark.range(0, 8_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    store.write("t", df.repartition(2))
    store.optimize_layout("t", ["k"], num_files=8)
    v1, rep = store.delete_where("t", "k", lo=1_500, hi=6_500)
    assert rep["files_dropped"] >= 1, rep
    assert rep["files_linked"] >= 1, rep
    got = store.read("t")
    expect = df.where("k < 1500 OR k > 6500")
    assert got.count() == expect.count() == 2_999  # [1500, 6500] inclusive
    assert got.exceptAll(expect).count() == 0

    # null-bearing files: never dropped, NULL rows survive (plain
    # repartition interleaves the NULLs into every file — a k-clustered
    # layout would legitimately isolate them instead)
    dfn = spark.range(0, 4_000).selectExpr(
        "IF(id % 10 = 0, NULL, id) AS k", "id AS payload"
    )
    store.write("tn", dfn.repartition(4))
    v2, rep2 = store.delete_where("tn", "k", lo=0, hi=10**9)
    assert rep2["files_dropped"] == 0, rep2  # every file holds NULLs
    assert store.read("tn").count() == dfn.where("k IS NULL").count()

    # floating key column: never dropped (NaN invisibility)
    dff = spark.createDataFrame(
        [(float(i), i) for i in range(100)], "d double, i bigint"
    )
    store.write("tf", dff.repartition(1))
    v3, rep3 = store.delete_where("tf", "d", lo=-1.0, hi=1e9)
    assert rep3["files_dropped"] == 0, rep3
    assert store.read("tf").count() == 0  # all rewritten away, correctly

    # delete_in on a single-valued (clustered) file: dropped without a
    # read. Hash-repartition ON g with AQE partition-coalescing off —
    # range sampling, AQE, and Catalyst's coalesce-through-union collapse
    # all happily merge g values into one file, which then legitimately
    # cannot drop (measured: 8 buckets separate g in {0,1,2}).
    dfe = spark.range(0, 3_000).selectExpr("CAST(id % 3 AS INT) AS g", "id AS p")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        store.write("te", dfe.repartition(8, F.col("g")))
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    v4, rep4 = store.delete_in("te", "g", [1])
    assert rep4["files_dropped"] >= 1 and rep4["rows_deleted"] == 1_000, rep4
    assert store.read("te").where("g = 1").count() == 0


def test_bloom_mixed_sizing_rows_never_false_negative(spark, tmp_path):
    """Regression (ADVICE r8): two processes concurrently building the
    SAME column with DIFFERENT sizings both pass the check-then-append
    existence test and land mixed m/k rows in one sidecar. The loader
    must not probe one sizing's bitmap with the other's m/k (a false
    negative = skipped file that HOLDS the value = missed rows / missed
    deletes): rows whose (m, k) differ from the column's first-seen
    sizing are dropped, their files fall back to conservative keeps, and
    every present-value probe still returns its rows."""
    import os as _os
    import shutil as _shutil

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 20_000).selectExpr("id AS k", "CAST(id % 777 AS INT) AS a")
    store.write("t", df.repartition(4))
    v = store._read_meta("t")["current"]
    bp = store._bloom_path("t", v)

    # build 1 (sizing A), stash its part files away
    TableStore(spark, str(tmp_path)).collect_file_blooms(
        "t", ["a"], num_bits=1 << 12, num_hashes=3
    )
    stash = str(tmp_path / "stash")
    _os.rename(bp, stash)
    # build 2 (sizing B) sees an empty sidecar — the race's second loser
    TableStore(spark, str(tmp_path)).collect_file_blooms(
        "t", ["a"], num_bits=1 << 15, num_hashes=7
    )
    # merge: the sidecar now holds BOTH builds' rows, mixed sizings
    for name in _os.listdir(stash):
        _os.rename(_os.path.join(stash, name), _os.path.join(bp, f"mix-{name}"))
    _shutil.rmtree(stash, ignore_errors=True)

    fresh = TableStore(spark, str(tmp_path))  # no in-process bloom cache
    loaded = fresh._bloom_load(bp, "a")
    assert all(len(b) == loaded["m"] // 8 for b in loaded["files"].values())
    # _bloom_cols (conflict check) and _bloom_load agree on the survivor
    assert fresh._bloom_cols(bp)["a"] == (loaded["m"], loaded["k"])
    # no false negatives: every probed present value returns its rows
    for probe in (0, 5, 123, 776):
        got, rep = fresh.read_point("t", "a", probe)
        assert got.count() == df.where(F.col("a") == probe).count() > 0, (probe, rep)


def test_bloom_concurrent_column_builds_both_land(spark, tmp_path):
    """The append-only sidecar's concurrency claim, pinned: two threads
    building DIFFERENT columns on the same version concurrently both land
    (the pre-r8 read-merge-replace could lose one side), and a duplicate
    same-column build collapses to identical bitmaps at load."""
    import threading

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 12_000).selectExpr(
        "id AS k", "CAST(id % 300 AS INT) AS a", "CONCAT('u', id % 900) AS b"
    )
    store.write("t", df.repartition(4))

    errs = []

    def build(col):
        try:
            # separate store instances: no shared in-process cache
            TableStore(spark, str(tmp_path)).collect_file_blooms("t", [col])
        except Exception as e:  # noqa: BLE001 - surfaced below
            errs.append((col, e))

    th = [threading.Thread(target=build, args=(c,)) for c in ("a", "b")]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert not errs, errs
    bp = store._bloom_path("t", store._read_meta("t")["current"])
    assert set(store._bloom_cols(bp)) >= {"a", "b"}
    # both columns probe correctly from the shared sidecar
    got_a, rep_a = store.read_point("t", "a", 17)
    assert got_a.count() == df.where("a = 17").count() > 0
    got_b, _ = store.read_point("t", "b", "u123")
    assert got_b.count() == df.where("b = 'u123'").count() > 0

    # duplicate same-column build: appends identical rows, load collapses
    rec_before = store._bloom_load(bp, "a")
    TableStore(spark, str(tmp_path)).collect_file_blooms("t", ["a", "k"])
    rec_after = store._bloom_load(bp, "a")
    assert rec_after["files"] == rec_before["files"]


def test_cow_all_dropped_version_stays_readable(spark, tmp_path):
    """ADVICE r9 (medium): a delete that dooms EVERY row used to publish
    a version holding only _SUCCESS — unreadable ('unable to infer
    schema'). The manifest now records the schema, so the empty version
    reads as an empty DataFrame with the right columns, and later
    mutations keep working."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 1000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    store.write("t", df.repartition(2))
    v1, rep = store.delete_where("t", "k", lo=0, hi=10**9)
    got = store.read("t")
    assert got.count() == 0
    assert got.columns == ["k", "v"]
    assert [f.dataType.simpleString() for f in got.schema.fields] == ["bigint", "double"]
    # the empty version behaves: merge inserts into it, stats aggregate
    up = spark.createDataFrame([(1, 1.0)], "k bigint, v double")
    store.merge_in("t", up, "k")
    assert store.read("t").count() == 1
    # same through delete_in's metadata-only path on a partitioned layout
    pdf = spark.range(0, 300).selectExpr("CAST(id % 2 AS INT) AS tenant", "id AS k")
    store.write("p", pdf, partition_by=["tenant"])
    store.delete_where("p", "tenant", lo=0, hi=1)
    assert store.read("p").count() == 0
    assert set(store.read("p").columns) == {"k", "tenant"}


def test_vacuum_reference_counting_and_tombstones(spark, tmp_path):
    """Share-by-reference vacuum (round 10): removing a version another
    live version still references TOMBSTONES it — it leaves history()
    but its referenced physical files survive until the last referencing
    version is vacuumed; unreferenced files reclaim immediately; the
    orphan sweep never mistakes a tombstone for a crashed writer's
    residue."""
    import os as _os

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 30_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    store.write("t", df.repartition(2))
    store.optimize_layout("t", ["k"], num_files=10)  # v1: 10 files
    v1 = store._read_meta("t")["current"]
    store.delete_in("t", "k", [3])  # v2: 9 refs -> v1 + 1 rewrite
    v2 = store._read_meta("t")["current"]
    n2 = store.read("t").count()

    removed = store.vacuum("t", keep_latest=1)
    assert v1 in removed and 0 in removed
    d0 = _os.path.join(str(tmp_path), "t", "v0000")
    d1 = _os.path.join(str(tmp_path), "t", f"v{v1:04d}")
    # v0: nothing references it -> fully reclaimed; v1: referenced -> tombstone
    assert not _os.path.exists(d0)
    assert _os.path.exists(_os.path.join(d1, "_VACUUMED"))
    assert not _os.path.exists(_os.path.join(d1, "_SUCCESS"))
    # history no longer lists v1, pinned read raises the documented error
    assert [e["v"] for e in store.history("t")] == [v2]
    with pytest.raises(ValueError, match="vacuumed"):
        store.read("t", version=v1)
    # the current version still reads completely through its references
    assert store.read("t").count() == n2
    # the rewritten file of v1 was NOT referenced by v2 -> reclaimed;
    # the 9 referenced files survive
    live = [
        f for _dp, _dirs, fs in _os.walk(d1) for f in fs if f.endswith(".parquet")
    ]
    assert len(live) == 9
    # a later vacuum (after compact rewrites everything physical)
    # reclaims the tombstone directory entirely
    store.compact("t")
    store.vacuum("t", keep_latest=1)
    assert not _os.path.exists(d1)
    assert store.read("t").count() == n2


def test_vacuum_tombstone_drops_checksum_siblings(spark, tmp_path):
    """A tombstone keeps only what survivors reference: the hidden
    ``.<part>.crc`` checksum of every deleted part file goes with it, so
    the tombstone dir holds no checksum without its parquet file."""
    import os as _os

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 8_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    store.write("t", df.repartition(2))
    store.optimize_layout("t", ["k"], num_files=4)  # v1: 4 files
    v1 = store._read_meta("t")["current"]
    store.delete_in("t", "k", [3])  # v2: 3 refs into v1 + 1 rewrite
    store.vacuum("t", keep_latest=1)
    d1 = _os.path.join(str(tmp_path), "t", f"v{v1:04d}")
    assert _os.path.exists(_os.path.join(d1, "_VACUUMED"))
    names = {f for _dp, _dirs, fs in _os.walk(d1) for f in fs}
    parts = {f for f in names if f.endswith(".parquet") and not f.startswith(".")}
    crcs = {f for f in names if f.endswith(".parquet.crc")}
    assert len(parts) == 3
    assert {c[1:-4] for c in crcs} <= parts


def test_cow_reference_chains_stay_depth_one(spark, tmp_path):
    """References always point at the PHYSICAL holder: stacking many COW
    mutations never builds ref->ref chains — every manifest entry's
    version directory physically contains the file."""
    import os as _os

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 20_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    store.write("t", df.repartition(2))
    store.optimize_layout("t", ["k"], num_files=8)
    for key in (5, 1005, 2005, 3005, 4005):
        store.merge_in(
            "t",
            spark.createDataFrame([(key, -1.0)], "k bigint, v double"),
            "k",
        )
    meta = store._read_meta("t")
    entry = next(e for e in meta["versions"] if e["v"] == meta["current"])
    fm = store._version_filemap("t", entry)
    assert len({vp for vp in fm.values()}) > 2  # genuinely chained history
    for rel, vp in fm.items():
        p = _os.path.join(str(tmp_path), "t", f"v{vp:04d}", rel)
        assert _os.path.exists(p), f"ref ({rel}, v{vp}) is not physical"
    # and the table still equals the logical result
    assert store.read("t").where("v = -1.0").count() == 5
    assert store.read("t").count() == 20_000


def test_chain_budget_bounds_read_plan_growth(spark, tmp_path):
    """VERDICT r10 #2: chain compaction is a store POLICY, not operator
    advice. With max_chain_branches set, an N-merge reference chain keeps
    the current version's scan-branch count bounded (inline compact after
    the offending COW commit), results stay byte-identical to the
    unbudgeted store, and chain_policy='warn' recommends loudly instead
    of rewriting."""
    import warnings as _warnings

    from taico_data_integration_spark.ops.incremental import TableStore

    def batch(i):
        return spark.createDataFrame(
            [(k, float(-i)) for k in (i * 7, i * 7 + 100_000)],
            "k bigint, v double",
        )

    df = spark.range(0, 30_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")

    free = TableStore(spark, str(tmp_path / "free"))
    free.write("t", df.repartition(2))
    free.optimize_layout("t", ["k"], num_files=8)
    capped = TableStore(
        spark,
        str(tmp_path / "capped"),
        max_chain_branches=4,
        chain_policy="compact",
    )
    capped.write("t", df.repartition(2))
    capped.optimize_layout("t", ["k"], num_files=8)

    n_merges = 10
    for i in range(1, n_merges + 1):
        free.merge_in("t", batch(i), "k")
        capped.merge_in("t", batch(i), "k")
        assert capped.chain_branches("t") <= 4, f"budget breached at merge {i}"
    # the unbudgeted chain genuinely grew past the budget — the policy did
    # real work above
    assert free.chain_branches("t") > 4
    got, want = capped.read("t"), free.read("t")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert got.count() == 30_000 + n_merges  # one genuinely-new key per batch

    # warn policy: loud recommendation, no rewrite
    warned = TableStore(
        spark, str(tmp_path / "warned"), max_chain_branches=1, chain_policy="warn"
    )
    warned.write("t", df.repartition(2))
    warned.optimize_layout("t", ["k"], num_files=8)
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        warned.merge_in("t", batch(1), "k")
    assert any("compact" in str(x.message) for x in w), "no loud recommendation"
    assert warned.chain_branches("t") > 1  # warn never rewrites

    with pytest.raises(ValueError, match="chain_policy"):
        TableStore(spark, str(tmp_path / "bad"), chain_policy="auto")


def test_vacuum_retention_survivor_pins_its_references(spark, tmp_path):
    """ADVICE r10 (high): a version outside the keep set that survives
    vacuum via the min_age_seconds retention gate must still pin the
    files its manifest references. v1 holds the physical files, v2 (COW)
    references most of them, v3 is a full rewrite. With keep_latest=1 and
    v2 inside the retention window, vacuum may reclaim v1's UNREFERENCED
    files but must tombstone — not delete — the ones v2 still needs;
    reading v2 afterwards must return its exact rows."""
    import os as _os
    import time as _time

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 20_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    store.write("t", df.repartition(2))  # v0
    store.optimize_layout("t", ["k"], num_files=4)  # v1: 4 physical files
    v1 = store._read_meta("t")["current"]
    store.delete_in("t", "k", [3])  # v2: refs 3 of v1's files + 1 rewrite
    v2 = store._read_meta("t")["current"]
    n2 = store.read("t", version=v2).count()
    store.write("t", df.selectExpr("k", "v + 1.0 AS v"))  # v3: no refs to v1
    v3 = store._read_meta("t")["current"]

    # age v1 and v2 dirs (commit ts = dir mtime): v0 and v1 become
    # removable; v2 — superseded by the FRESH v3 — stays inside the window
    old = _time.time() - 7200
    for v in (v1, v2):
        _os.utime(_os.path.join(str(tmp_path), "t", f"v{v:04d}"), (old, old))

    removed = store.vacuum("t", keep_latest=1, min_age_seconds=3600.0)
    assert v1 in removed and 0 in removed and v2 not in removed

    # v2 survived the pass — every file it references must still be
    # readable; the buggy single-pass kept_refs deleted v1's whole dir
    assert store.read("t", version=v2).count() == n2
    d1 = _os.path.join(str(tmp_path), "t", f"v{v1:04d}")
    assert _os.path.exists(_os.path.join(d1, "_VACUUMED")), "v1 not tombstoned"
    live = [
        f for _dp, _dirs, fs in _os.walk(d1) for f in fs if f.endswith(".parquet")
    ]
    assert len(live) == 3, "v2's referenced files were reclaimed"
    assert store.read("t").count() == 20_000  # v3 untouched

    # once v2 ages out too, a later vacuum reclaims it AND the tombstone
    _os.utime(_os.path.join(str(tmp_path), "t", f"v{v3:04d}"), (old, old))
    removed2 = store.vacuum("t", keep_latest=1, min_age_seconds=3600.0)
    assert v2 in removed2
    assert not _os.path.exists(d1), "tombstone survived its last referrer"


def test_committed_version_without_manifest_is_corrupt(spark, tmp_path):
    """Every committed version carries _MANIFEST.json — it is the only
    on-disk format. A committed version stripped of it is a corrupt
    store: read, compact and merge_in raise a ValueError naming the table
    and the version instead of guessing the file set from a glob."""
    import os as _os

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 1_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    store.write("t", df.repartition(2))
    v1, _ = store.delete_in("t", "k", [7])
    _os.remove(_os.path.join(str(tmp_path), "t", f"v{v1:04d}", "_MANIFEST.json"))
    pattern = rf"version {v1} of t .*_MANIFEST\.json"
    updates = spark.createDataFrame([(3, 30.0)], "k bigint, v double")
    for call in (
        lambda s: s.read("t"),
        lambda s: s.compact("t"),
        lambda s: s.merge_in("t", updates, "k"),
    ):
        with pytest.raises(ValueError, match=pattern):
            call(TableStore(spark, str(tmp_path)))
    # the intact base version still reads
    assert store.read("t", version=v1 - 1).count() == 1_000


def test_read_point_rejects_null_before_building_a_bloom(spark, tmp_path):
    """A NULL probe can only raise (equality never matches NULL), so
    read_point rejects it before its build-on-first-use bloom job: no
    table-sized Spark job, no sidecar written."""
    import os as _os

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    store.write("t", spark.range(0, 1_000).selectExpr("id AS k"))
    with pytest.raises(ValueError, match="NULL"):
        store.read_point("t", "k", None)
    assert not _os.path.exists(_os.path.join(str(tmp_path), "t", "_bloom"))


def test_bloom_copy_forward_across_referenced_versions(spark, tmp_path):
    """Round 10: after a COW commit, building a bloom on the new version
    COPIES the referenced files' rows from the base version's sidecar
    (same bytes, same deterministic hashes) and re-hashes only the
    rewrite outputs — probe cost O(changed files). Probes on the new
    version stay exact; a sizing mismatch falls back to a full build."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 40_000).selectExpr(
        "id AS k", "CAST(id % 1000 AS INT) AS u", "CAST(id AS DOUBLE) AS val"
    )
    store.write("t", df.repartition(2))
    store.optimize_layout("t", ["k"], num_files=8)
    v0 = store._read_meta("t")["current"]
    m0 = store.collect_file_blooms("t", ["u"], num_bits=1 << 14, num_hashes=5)
    assert m0["reused_files"] == {}  # nothing to reuse on a fresh build

    v1, rep = store.delete_in("t", "k", [5])
    m1 = store.collect_file_blooms("t", ["u"], num_bits=1 << 14, num_hashes=5)
    assert m1["reused_files"]["u"] == rep["files_linked"] > 0
    # copied + built rows cover every live file, and probes are exact
    assert set(m1["cols"]["u"]["files"]) == set(
        store._version_filemap("t", store._entry("t"))
    )
    got, prep = store.read_point(
        "t", "u", 123, num_bits=1 << 14, num_hashes=5
    )
    assert got.count() == df.where("u = 123 AND k <> 5").count()
    # the copied rows byte-match a from-scratch build of the same files
    for rel, blob in m0["cols"]["u"]["files"].items():
        if rel in m1["cols"]["u"]["files"] :
            assert m1["cols"]["u"]["files"][rel] == blob
    # sizing mismatch: no reuse, full rebuild, still correct
    v2, _ = store.delete_in("t", "k", [7])
    m2 = store.collect_file_blooms("t", ["u"], num_bits=1 << 15, num_hashes=6)
    assert m2["reused_files"] == {}
    got2, _ = store.read_point("t", "u", 321, num_bits=1 << 15, num_hashes=6)
    assert got2.count() == df.where("u = 321 AND k NOT IN (5, 7)").count()


def test_stats_reuse_across_chained_versions_refooters_only_changes(spark, tmp_path):
    """Round 10: collecting file stats on a COW-chained version copies
    records from ANY committed version's manifest whose filemap resolves
    the rel to the same physical file — the first probe re-reads only
    the new version's own rewrite outputs' footers."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 20_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    store.write("t", df.repartition(2))
    store.optimize_layout("t", ["k"], num_files=8)
    store.collect_file_stats("t", ["k"])
    store.delete_in("t", "k", [3])
    v2, rep2 = store.delete_in("t", "k", [5])

    opens: list[str] = []
    orig = store.commit.io_open_input

    def spy(p):
        opens.append(p)
        return orig(p)

    store.commit.io_open_input = spy
    try:
        st = store.collect_file_stats("t", ["k"], version=v2)
    finally:
        store.commit.io_open_input = orig
    footers = [p for p in opens if p.endswith(".parquet")]
    assert len(st["files"]) == 8
    assert len(footers) == rep2["rewrite_output_files"] <= 2, footers
    # and the copied stats still prune correctly
    got, rep = store.read_pruned("t", "k", lo=100, hi=110)
    assert got.count() == 11
    assert rep["files_skipped"] > 0


def test_materialize_version_exports_self_contained_snapshot(spark, tmp_path):
    """Round 10: a share-by-reference version is not a freestanding
    directory; materialize_version resolves the manifest and exports a
    plain-parquet snapshot (hard links on POSIX — zero bytes moved) that
    reads back identically with a bare spark.read.parquet, survives
    vacuuming the source, and refuses to clobber an existing dest."""
    import os as _os

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    df = spark.range(0, 10_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    store.write("t", df.repartition(3))
    store.optimize_layout("t", ["k"], num_files=4)
    store.delete_in("t", "k", [7])  # current version now holds references
    dest = str(tmp_path / "export")
    rep = store.materialize_version("t", dest)
    assert rep["files"] == 4 and rep["mode"] == "link"
    got = spark.read.parquet(dest)
    expect = store.read("t")
    assert got.count() == 9_999
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0
    with pytest.raises(ValueError, match="already exists"):
        store.materialize_version("t", dest)
    # the export is self-contained: vacuum the whole source history away
    # (compact first so the current version stops referencing it), and
    # the snapshot still reads — hard links keep the bytes alive
    store.compact("t")
    store.vacuum("t", keep_latest=1)
    assert spark.read.parquet(dest).count() == 9_999
    # partitioned layout keeps its partition dirs in the export
    pdf = spark.range(0, 3_000).selectExpr("id AS k", "CAST(id % 3 AS INT) AS p")
    store.write("pt", pdf, partition_by=["p"])
    store.delete_in("pt", "k", [5])
    dest2 = str(tmp_path / "export2")
    store.materialize_version("pt", dest2)
    g2 = spark.read.parquet(dest2)
    assert dict(g2.dtypes)["p"] == "int" and g2.count() == 2_999
    assert _os.path.isdir(_os.path.join(dest2, "p=1"))


def test_merge_in_schema_evolution_on_cow_fast_path(spark, tmp_path):
    """VERDICT r10 #7: schema evolution WITHOUT leaving the COW fast
    path. evolve_schema=True adds the batch's new columns to the table —
    only the rewrite outputs carry them physically, untouched files still
    share by reference and read NULL for the new columns; results equal
    merge_upsert(evolve_schema=True). Extra columns without the flag are
    a loud error (never silently dropped). Pruned reads of pre-evolution
    files, pinned old versions, follow-up merges and compaction all stay
    consistent."""
    from taico_data_integration_spark.ops.incremental import (
        TableStore,
        merge_upsert,
    )

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 20_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    store.write("t", df.repartition(2))
    store.optimize_layout("t", ["k"], num_files=8)
    v_pre = store._read_meta("t")["current"]

    wide = spark.createDataFrame(
        [(5, -1.0, "x"), (10**7, -2.0, "y")], "k bigint, v double, w string"
    )
    # loud contract without the flag — extras are never silently dropped
    with pytest.raises(ValueError, match="evolve_schema=True"):
        store.merge_in("t", wide, "k")

    version, rep = store.merge_in("t", wide, "k", evolve_schema=True)
    assert rep["files_linked"] > 0, "evolution left the COW fast path"
    got = store.read("t")
    assert got.columns == ["k", "v", "w"]
    expect = merge_upsert(store.read("t", version=v_pre), wide, ["k"], evolve_schema=True)
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0
    assert got.where("w IS NOT NULL").count() == 2
    assert got.count() == 20_001

    # pinned pre-evolution version is untouched — old schema, old rows
    old = store.read("t", version=v_pre)
    assert old.columns == ["k", "v"] and old.count() == 20_000

    # a pruned read that touches ONLY pre-evolution files still serves the
    # version's contract schema (w as NULL)
    pruned, _rep = store.read_pruned("t", "k", lo=15_000, hi=15_010)
    assert pruned.columns == ["k", "v", "w"]
    assert pruned.where("k = 15005").count() == 1

    # follow-up merge in the EVOLVED schema keeps working on the fast path
    more = spark.createDataFrame([(6, -3.0, "z")], "k bigint, v double, w string")
    store.merge_in("t", more, "k")
    assert store.read("t").where("w = 'z'").count() == 1

    # and a batch that misses the evolved column is now a missing-cols error
    with pytest.raises(ValueError, match="missing"):
        store.merge_in(
            "t", spark.createDataFrame([(7, -4.0)], "k bigint, v double"), "k"
        )

    # compact homogenizes the chain; nothing changes logically
    store.compact("t")
    got2 = store.read("t")
    assert got2.count() == 20_001 and got2.where("w IS NOT NULL").count() == 3


def test_metadata_only_schema_alterations(spark, tmp_path):
    """Round 11: ALTER TABLE ADD/DROP COLUMNS as METADATA-ONLY commits —
    the new version references every file unchanged and records the new
    schema; zero data movement (the version dir holds only manifest +
    marker). Existing rows read NULL for added columns; dropped columns
    vanish immediately and purge physically on the next rewrite. Guards:
    duplicate add, unknown/partition/constraint-referenced/total drop
    all refuse loudly."""
    import os as _os

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 20_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    store.write("t", df.repartition(2))
    store.optimize_layout("t", ["k"], num_files=8)
    v1 = store._read_meta("t")["current"]
    fm1 = store._version_filemap(
        "t", next(e for e in store._read_meta("t")["versions"] if e["v"] == v1)
    )

    v2 = store.add_columns("t", {"w": "string", "score": "double"})
    d2 = _os.path.join(str(tmp_path), "t", f"v{v2:04d}")
    # zero data movement: the version dir holds only manifest + marker
    assert sorted(_os.listdir(d2)) == ["_MANIFEST.json", "_SUCCESS"]
    entry2 = next(e for e in store._read_meta("t")["versions"] if e["v"] == v2)
    assert store._version_filemap("t", entry2) == fm1  # every file referenced
    got = store.read("t")
    assert got.columns == ["k", "v", "w", "score"]
    assert got.count() == 20_000
    assert got.where("w IS NOT NULL OR score IS NOT NULL").count() == 0
    assert dict(got.dtypes)["score"] == "double"
    # time travel: the pre-alter version keeps its schema
    assert store.read("t", version=v1).columns == ["k", "v"]
    # pruned reads serve the new contract too
    pruned, _ = store.read_pruned("t", "k", lo=100, hi=110)
    assert pruned.columns == ["k", "v", "w", "score"]

    with pytest.raises(ValueError, match="already exist"):
        store.add_columns("t", {"w": "string"})

    # the next merge covers the widened schema and materializes values
    up = spark.createDataFrame(
        [(5, -1.0, "x", 0.9)], "k bigint, v double, w string, score double"
    )
    store.merge_in("t", up, "k")
    assert store.read("t").where("w = 'x' AND score = 0.9").count() == 1

    # drop guards
    with pytest.raises(ValueError, match="not in"):
        store.drop_columns("t", ["nope"])
    store.set_constraint("t", "score_range", "score IS NULL OR score <= 1.0")
    with pytest.raises(ValueError, match="constraint"):
        store.drop_columns("t", ["score"])
    store.drop_constraint("t", "score_range")

    v4 = store.drop_columns("t", ["v", "score"])
    got2 = store.read("t")
    assert got2.columns == ["k", "w"]
    assert got2.count() == 20_000 and got2.where("w = 'x'").count() == 1
    with pytest.raises(ValueError, match="every column"):
        store.drop_columns("t", ["k", "w"])
    # physical purge on rewrite: compact writes files without the bytes
    store.compact("t")
    ventry = next(
        e
        for e in store._read_meta("t")["versions"]
        if e["v"] == store._read_meta("t")["current"]
    )
    vdir = ventry["path"]
    pf = next(
        _os.path.join(dp, n)
        for dp, _ds, ns in _os.walk(vdir)
        for n in ns
        if n.endswith(".parquet")
    )
    import pyarrow.parquet as pq

    assert set(pq.read_schema(pf).names) == {"k", "w"}
    assert store.read("t").columns == ["k", "w"]

    # partition-column drop refused on a partitioned layout
    pdf = spark.range(0, 3_000).selectExpr("id AS k", "CAST(id % 3 AS INT) AS p")
    store.write("pt", pdf, partition_by=["p"])
    with pytest.raises(ValueError, match="partition columns"):
        store.drop_columns("pt", ["p"])

    # the whole surface works identically on the conditional-put impl
    from taico_data_integration_spark.ops.storage_commit import (
        ConditionalPutCommit,
        LocalEmulatedBackend,
    )

    cstore = TableStore(
        spark,
        str(tmp_path / "cond"),
        commit=ConditionalPutCommit(LocalEmulatedBackend()),
    )
    cstore.write("t", df.repartition(2))
    cstore.add_columns("t", {"w": "string"})
    assert cstore.read("t").columns == ["k", "v", "w"]
    cstore.drop_columns("t", ["v"])
    assert cstore.read("t").columns == ["k", "w"]
    assert cstore.read("t").count() == 20_000


def test_rename_columns_metadata_only_column_mapping(spark, tmp_path):
    """Round 11: ALTER TABLE RENAME COLUMN as a metadata-only commit with
    a per-generation column MAPPING — generations written before the
    rename carry the old physical name and the read path re-labels them;
    COW rewrites progressively materialize the new name; compact purges
    it everywhere and resets the mapping. Guards: unknown source,
    existing target (incl. swaps), partition column."""
    import os as _os

    import pyarrow.parquet as pq

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 20_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    store.write("t", df.repartition(2))
    store.optimize_layout("t", ["k"], num_files=8)
    v_pre = store._read_meta("t")["current"]

    v_rn = store.rename_columns("t", {"v": "amount"})
    d_rn = _os.path.join(str(tmp_path), "t", f"v{v_rn:04d}")
    assert sorted(_os.listdir(d_rn)) == ["_MANIFEST.json", "_SUCCESS"]
    got = store.read("t")
    assert got.columns == ["k", "amount"]
    assert got.count() == 20_000
    assert got.where("amount < 100").count() == 100  # values under the new name
    assert store.read("t", version=v_pre).columns == ["k", "v"]  # time travel

    # COW merge keyed through the mapping: only affected files rewrite,
    # rewrite outputs physically carry the NEW name, untouched ones keep
    # the old name and still read renamed
    up = spark.createDataFrame([(5, -1.0)], "k bigint, amount double")
    v_m, rep = store.merge_in("t", up, "k")
    assert rep["files_linked"] > 0
    assert store.read("t").where("k = 5 AND amount = -1.0").count() == 1
    entry = next(e for e in store._read_meta("t")["versions"] if e["v"] == v_m)
    fm = store._version_filemap("t", entry)
    phys_names = set()
    for rel, vp in fm.items():
        pf = _os.path.join(str(tmp_path), "t", f"v{vp:04d}", rel)
        phys_names |= {(vp == v_m, n) for n in pq.read_schema(pf).names}
    assert (True, "amount") in phys_names  # rewrite output: new name
    assert (False, "v") in phys_names  # shared old generation: old name

    # chained rename: old generations get both relabels
    store.rename_columns("t", {"amount": "amt"})
    assert store.read("t").columns == ["k", "amt"]
    assert store.read("t").where("k = 5 AND amt = -1.0").count() == 1

    # re-adding a column under a RETIRED name: old physical 'v' bytes are
    # stale (mapped to amt); the fresh 'v' reads NULL everywhere
    store.add_columns("t", {"v": "string"})
    got2 = store.read("t")
    assert got2.columns == ["k", "amt", "v"]
    assert got2.where("v IS NOT NULL").count() == 0
    assert got2.where("k = 7 AND amt = 7.0").count() == 1
    store.drop_columns("t", ["v"])

    # guards
    with pytest.raises(ValueError, match="not in"):
        store.rename_columns("t", {"nope": "x"})
    with pytest.raises(ValueError, match="already exist"):
        store.rename_columns("t", {"amt": "k"})  # target taken (swap shape)
    pdf = spark.range(0, 3_000).selectExpr("id AS k", "CAST(id % 3 AS INT) AS p")
    store.write("pt", pdf, partition_by=["p"])
    with pytest.raises(ValueError, match="partition columns"):
        store.rename_columns("pt", {"p": "bucket"})

    # compact: the new name materializes physically everywhere, the
    # mapping resets, and stats skipping on the renamed column works
    store.compact("t")
    ventry = next(
        e
        for e in store._read_meta("t")["versions"]
        if e["v"] == store._read_meta("t")["current"]
    )
    assert (store._load_manifest("t", ventry) or {}).get("renames", []) == []
    for rel in store._version_filemap("t", ventry):
        pf = _os.path.join(ventry["path"], rel)
        assert set(pq.read_schema(pf).names) == {"k", "amt"}
    stats = store.collect_file_stats("t", ["amt"])
    assert all(
        rec["cols"]["amt"]["min"] is not None for rec in stats["files"].values()
    )
    assert store.read("t").count() == 20_000


def test_renamed_column_keeps_stats_and_bloom_skipping(spark, tmp_path):
    """Round 11: stats skipping survives a rename WITHOUT a rewrite — the
    footer reader translates the logical name to each generation's
    physical name through the column mapping, so read_pruned on the new
    name still prunes pre-rename files; blooms build through read() (the
    mapping applied) and read_point prunes too."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 40_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    store.write("t", df.repartition(2))
    store.optimize_layout("t", ["k"], num_files=8)
    store.rename_columns("t", {"k": "key_id"})

    stats = store.collect_file_stats("t", ["key_id"])
    assert all(
        rec["cols"]["key_id"]["min"] is not None
        for rec in stats["files"].values()
    ), "rename broke footer stats translation"
    pruned, rep = store.read_pruned("t", "key_id", lo=100, hi=200)
    assert rep["files_read"] < rep["files_total"], "no pruning after rename"
    assert pruned.count() == 101

    got, brep = store.read_point("t", "key_id", 12_345)
    assert got.count() == 1
    assert brep["files_read"] < brep["files_total"], "bloom did not prune"


def test_add_columns_with_default_backfill(spark, tmp_path):
    """Round 11: add_columns name -> (type, default) back-fills existing
    rows with the DEFAULT literal at read time (field metadata in the
    recorded schema) — still metadata-only; later rewrites materialize
    it physically; rows written after the add carry their own values."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 10_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    store.write("t", df.repartition(2))
    store.optimize_layout("t", ["k"], num_files=4)

    store.add_columns("t", {"lang": ("string", "en"), "weight": ("double", 1.0)})
    got = store.read("t")
    assert got.where("lang = 'en'").count() == 10_000
    assert got.where("weight = 1.0").count() == 10_000
    # predicate on the defaulted column works (constant-folded per branch)
    assert got.where("lang = 'de'").count() == 0

    # rows merged after the add carry their own values; old rows keep the
    # default
    up = spark.createDataFrame(
        [(5, -1.0, "de", 2.0)], "k bigint, v double, lang string, weight double"
    )
    store.merge_in("t", up, "k")
    got2 = store.read("t")
    assert got2.where("lang = 'de'").count() == 1
    assert got2.where("lang = 'en'").count() == 9_999

    # physical materialization on rewrite preserves the read-time values
    store.compact("t")
    got3 = store.read("t")
    assert got3.where("lang = 'en'").count() == 9_999
    assert got3.where("weight = 2.0 AND k = 5").count() == 1

    # non-literal defaults refused loudly
    with pytest.raises(ValueError, match="JSON-native"):
        store.add_columns("t", {"bad": ("array<int>", [1, 2])})


def test_default_survives_no_rewrite_cow_commit(spark, tmp_path):
    """Round 12 (found by the randomized ALTER model sweep, seeds
    205/215): a COW commit with NO rewrite job — a delete_where whose
    doomed files are dropped by stats alone and everything else links
    through — used to record the new manifest schema via
    _version_schema, which derives from a READ plan; the read's default
    back-fill is a metadata-stripping withColumn, so the taico.default
    annotation vanished from the recorded schema and every referenced
    pre-add generation padded NULL instead of the default from then on.
    The base recorded schema's field metadata must carry through BOTH
    _cow_commit branches."""
    import json as _json

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 1_000).selectExpr("id AS k", "CAST(id % 7 AS INT) AS n")
    store.write("t", df.repartition(2))
    store.optimize_layout("t", ["k"], num_files=4)
    store.add_columns("t", {"lang": ("string", "en")})
    # one merged file physically carries the column; its n is in range
    up = spark.createDataFrame([(5, -100, "xx")], "k bigint, n int, lang string")
    store.merge_in("t", up, "k")

    # n in [-100, -100] dooms ONLY the merged rewrite file (int stats
    # prove every row in range, zero nulls), links the rest: out=None,
    # zero rewrite jobs
    _v, rep = store.delete_where("t", "n", lo=-100, hi=-100)
    assert rep["files_rewritten"] == 0 and rep["files_dropped"] >= 1, rep

    # the recorded schema keeps the DEFAULT annotation...
    meta = store._read_meta("t")
    entry = next(e for e in meta["versions"] if e["v"] == meta["current"])
    man = store._load_manifest("t", entry)
    fields = {
        f["name"]: f for f in _json.loads(man["schema"])["fields"]
    }
    assert fields["lang"]["metadata"].get("taico.default") == "en"

    # ...and every linked pre-add row still reads the default
    got = store.read("t")
    assert got.where("lang = 'en'").count() == 999
    assert got.where("lang IS NULL").count() == 0


def test_vacuum_dry_run_reports_without_removing(spark, tmp_path):
    """Rounds 11+12: vacuum(dry_run=True) returns a STRUCTURED report of
    everything a real pass would do — version removals AND the residue
    sweep (tombstones, orphans), where the surprising deletions
    live (VERDICT r11 #6) — and touches nothing; the real pass executes
    exactly that plan."""
    import os as _os
    import time as _time

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    for i in range(4):
        store.write("t", spark.range(10 + i))
    # plant residue: an aged marker-less orphan version dir (a crashed
    # writer's output)
    orphan = str(tmp_path / "t" / "v0098")
    _os.makedirs(orphan)
    open(_os.path.join(orphan, "part-dead.parquet"), "wb").close()
    old = _time.time() - 7200
    for p in (orphan, _os.path.join(orphan, "part-dead.parquet")):
        _os.utime(p, (old, old))

    would = store.vacuum("t", keep_latest=1, dry_run=True)
    assert would["versions"] == [0, 1, 2]
    assert would["tombstoned"] == []  # full rewrites: nothing shared
    assert would["orphans"] == [orphan]
    assert would["tombstones_swept"] == []
    # dry run touched NOTHING
    assert [e["v"] for e in store.history("t")] == [3, 2, 1, 0]
    assert store.read("t", version=0).count() == 10  # still readable
    assert _os.path.exists(orphan)
    # the real pass executes exactly that plan
    assert store.vacuum("t", keep_latest=1) == would["versions"]
    assert not _os.path.exists(orphan)

    # share-by-reference store: a dry run reports the tombstoned subset
    store2 = TableStore(spark, str(tmp_path / "s2"))
    df = spark.range(0, 10_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    store2.write("t", df.repartition(4))
    store2.optimize_layout("t", ["k"], num_files=4)
    store2.merge_in("t", spark.createDataFrame([(5, -1.0)], "k bigint, v double"), "k")
    rep = store2.vacuum("t", keep_latest=1, dry_run=True)
    # the COW current version references the optimized version's files:
    # vacuuming it must tombstone, not delete
    assert rep["tombstoned"] != [] and set(rep["tombstoned"]) <= set(rep["versions"])
    got = store2.vacuum("t", keep_latest=1)
    assert got == rep["versions"]
    assert store2.read("t").count() == 10_000  # references intact


def test_table_changes_across_schema_alters(spark, tmp_path):
    """Round 11: the CDC feed across metadata-only ALTERs follows the
    documented union-payload contract — an added column surfaces rows as
    updates only where a value materialized; a rename reads as the
    column moving (old name NULL on the new side), never a silent wrong
    payload; diff() on schema-different versions fails loudly."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 1_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    store.write("t", df)
    v0 = store._read_meta("t")["current"]
    store.add_columns("t", {"w": "string"})
    up = spark.createDataFrame([(5, -1.0, "x")], "k bigint, v double, w string")
    v2, _ = store.merge_in("t", up, "k")

    feed = store.table_changes("t", v0, v2, ["k"])
    rows = {r.k: r for r in feed.collect()}
    # only the merged key changed: pre-add rows read w=NULL on BOTH sides
    assert set(rows) == {5}
    assert rows[5]._change_type == "update_postimage" and rows[5].w == "x"

    # rename: the feed surfaces the column move explicitly (old name on
    # one side only), it never silently equates v with amount
    store.rename_columns("t", {"v": "amount"})
    v3 = store._read_meta("t")["current"]
    feed2 = store.table_changes("t", v2, v3, ["k"])
    assert feed2.count() == 1_000  # every row: v -> NULL, amount <- value
    assert set(feed2.columns) >= {"k", "v", "amount", "_change_type"}

    with pytest.raises(Exception):  # loud, never a silent wrong diff
        store.diff("t", v0, v3).collect()

    # round 12: type widening and partition evolution are CDC-SILENT —
    # every value is identical (the widen is exact by construction, the
    # spec change moves no rows), so the feed across either commit is
    # empty; a post-evolution merge surfaces exactly its own change
    store.write(
        "t2",
        spark.range(0, 500).selectExpr(
            "CAST(id AS INT) AS k", "CAST(id % 5 AS INT) AS p",
            "CAST(id AS DOUBLE) AS v",
        ),
    )
    a = store._read_meta("t2")["current"]
    store.alter_column_type("t2", {"k": "bigint"})
    b = store._read_meta("t2")["current"]
    assert store.table_changes("t2", a, b, ["k"]).count() == 0
    store.alter_partition_spec("t2", ["p"])
    c = store._read_meta("t2")["current"]
    assert store.table_changes("t2", b, c, ["k"]).count() == 0
    store.merge_in(
        "t2",
        spark.createDataFrame([(7, 2, -1.0)], "k bigint, p int, v double"),
        "k",
    )
    d2 = store._read_meta("t2")["current"]
    ch = store.table_changes("t2", c, d2, ["k"]).collect()
    assert {r.k for r in ch} == {7}


def test_drop_then_readd_column_does_not_resurrect(spark, tmp_path):
    """Round 12 (ADVICE r11 high): drop_columns retires the column's
    PHYSICAL name in the manifest; a later add_columns of the same name
    reads NULL (or its declared DEFAULT) for every pre-drop generation —
    never the dropped bytes still shared in referenced files. The rename
    lineage (drop b; add a; rename a->b) is covered by the same retired
    mechanism, and stats skipping on the re-added column must not use
    pre-drop footer stats."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 10_000).selectExpr(
        "id AS k", "CAST(id + 100 AS DOUBLE) AS v"
    )
    store.write("t", df.repartition(4))

    store.drop_columns("t", ["v"])
    store.add_columns("t", {"v": "double"})
    got = store.read("t")
    assert got.columns == ["k", "v"]
    # every pre-drop row reads NULL — the dropped bytes stay dead
    assert got.where("v IS NOT NULL").count() == 0

    # (type, default) re-add serves the DEFAULT, not the stale bytes
    store.drop_columns("t", ["v"])
    store.add_columns("t", {"v": ("double", 5.0)})
    got2 = store.read("t")
    assert got2.where("v = 5.0").count() == 10_000
    assert got2.where("v >= 100.0").count() == 0

    # stats skipping on the re-added column must reflect the read-time
    # values (all 5.0), not the retired bytes (100..10099): a range
    # around the default keeps every row; the stale range finds none
    pruned, rep = store.read_pruned("t", "v", lo=4.0, hi=6.0)
    assert pruned.count() == 10_000
    pruned2, _ = store.read_pruned("t", "v", lo=200.0, hi=300.0)
    assert pruned2.count() == 0

    # rows written after the re-add carry their own physical values
    up = spark.createDataFrame([(3, 7.5)], "k bigint, v double")
    store.merge_in("t", up, "k")
    got3 = store.read("t")
    assert got3.where("k = 3 AND v = 7.5").count() == 1
    assert got3.where("v = 5.0").count() == 9_999

    # rewrite materializes and purges: post-compact behavior identical
    store.compact("t")
    got4 = store.read("t")
    assert got4.where("v = 5.0").count() == 9_999
    assert got4.where("v >= 100.0").count() == 0


def test_drop_add_rename_lineage_does_not_resurrect(spark, tmp_path):
    """Round 12 (ADVICE r11 medium): drop b; add a (metadata-only);
    rename a->b — a pre-drop generation physically carries b but not a,
    so the rename relabel alone cannot discard the stale bytes; the
    retired-name replay must. Events apply in commit (since) order, so
    the inverse case — drop b then rename c->b — serves c's REAL data
    under b, not a spurious drop."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 1_000).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS b", "CAST(-id AS DOUBLE) AS c"
    )
    store.write("t", df.repartition(2))

    store.drop_columns("t", ["b"])
    store.add_columns("t", {"a": "double"})
    store.rename_columns("t", {"a": "b"})
    got = store.read("t")
    assert set(got.columns) == {"k", "c", "b"}
    assert got.where("b IS NOT NULL").count() == 0
    assert got.count() == 1_000

    # inverse ordering: rename AFTER the drop re-uses the name with real
    # data — must survive, the retire fires before the rename in replay
    store2 = TableStore(spark, str(tmp_path / "s2"))
    store2.write("t", df.repartition(2))
    store2.drop_columns("t", ["b"])
    store2.rename_columns("t", {"c": "b"})
    got2 = store2.read("t")
    assert set(got2.columns) == {"k", "b"}
    assert got2.where("b = CAST(-k AS DOUBLE)").count() == 1_000


def test_chain_budget_default_warns_and_none_opts_out(spark, tmp_path):
    """Round 12 (VERDICT r11 #2): the budget defaults ON — a store built
    with no arguments carries max_chain_branches=32 / chain_policy='warn'
    so unbounded scan-branch growth can never be silent; the warning
    fires at budget+1 branches; None stays the explicit opt-out and
    silences it; a failed inline compact degrades to a warning, never to
    the (already durable) mutation's caller (ADVICE r11 low)."""
    import warnings as _warnings

    from taico_data_integration_spark.ops.incremental import TableStore

    dflt = TableStore(spark, str(tmp_path / "dflt"))
    assert dflt.max_chain_branches == 32 and dflt.chain_policy == "warn"

    df = spark.range(0, 5_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")

    def batch(i):
        return spark.createDataFrame([(i * 7, float(-i))], "k bigint, v double")

    # warn fires at budget+1 (budget 1 here so one merge trips it —
    # the default 32 shares the same code path, asserted above)
    warned = TableStore(spark, str(tmp_path / "warned"), max_chain_branches=1)
    warned.write("t", df.repartition(2))
    warned.optimize_layout("t", ["k"], num_files=4)
    with _warnings.catch_warnings(record=True) as w:
        _warnings.simplefilter("always")
        warned.merge_in("t", batch(1), "k")
    assert any("compact" in str(x.message) for x in w)

    # None = explicit opt-out: same shape, no warning
    off = TableStore(spark, str(tmp_path / "off"), max_chain_branches=None)
    off.write("t", df.repartition(2))
    off.optimize_layout("t", ["k"], num_files=4)
    with _warnings.catch_warnings(record=True) as w2:
        _warnings.simplefilter("always")
        off.merge_in("t", batch(1), "k")
    assert not [x for x in w2 if "compact" in str(x.message)]

    # a compact that BLOWS UP under policy='compact' downgrades to a
    # warning — the merge itself committed durably first
    boom = TableStore(
        spark,
        str(tmp_path / "boom"),
        max_chain_branches=1,
        chain_policy="compact",
    )
    boom.write("t", df.repartition(2))
    boom.optimize_layout("t", ["k"], num_files=4)
    orig = boom.compact
    boom.compact = lambda *a, **k: (_ for _ in ()).throw(OSError("disk full"))
    try:
        with _warnings.catch_warnings(record=True) as w3:
            _warnings.simplefilter("always")
            v, _ = boom.merge_in("t", batch(2), "k")
    finally:
        boom.compact = orig
    assert any("compaction failed" in str(x.message) for x in w3)
    assert boom._read_meta("t")["current"] == v  # mutation durably pointed
    assert boom.read("t").where("v = -2.0").count() == 1


def test_alter_column_type_widening_metadata_only(spark, tmp_path):
    """Round 12 (VERDICT r11 #5): ALTER COLUMN TYPE as a metadata-only
    commit with per-generation casts — int->bigint / float->double widen
    without touching a byte; reads are value-identical before and after;
    stats skipping still prunes on the widened column; point lookups
    (type-sensitive bloom hashes) stay correct; narrowing and lossy
    changes refuse loudly; rewrites materialize the widened type."""
    import os as _os

    import pyarrow.parquet as _pq

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 20_000).selectExpr(
        "CAST(id AS INT) AS k",
        "CAST(id AS FLOAT) AS v",
        "CAST(id % 100 AS INT) AS grp",
    )
    store.write("t", df.repartition(2))
    store.optimize_layout("t", ["k"], num_files=8)
    before = store.read("t").selectExpr("sum(k) s", "sum(v) sv").first()

    v = store.alter_column_type("t", {"k": "bigint", "v": "double"})
    # zero data movement: the new version holds only manifest + marker
    d = _os.path.join(str(tmp_path), "t", f"v{v:04d}")
    assert sorted(_os.listdir(d)) == ["_MANIFEST.json", "_SUCCESS"]
    got = store.read("t")
    assert dict(got.dtypes) == {"k": "bigint", "v": "double", "grp": "int"}
    after = got.selectExpr("sum(k) s", "sum(v) sv").first()
    assert after.s == before.s and after.sv == before.sv
    assert got.count() == 20_000
    # time travel: the pre-alter version keeps the narrow types
    assert dict(store.read("t", version=v - 1).dtypes)["k"] == "int"

    # stats skipping survives: a range read on the widened column still
    # prunes most files (values untouched, stats are type-agnostic)
    pruned, rep = store.read_pruned("t", "k", lo=100, hi=110)
    assert pruned.count() == 11
    assert rep["files_read"] < rep["files_total"]

    # point lookup on the widened column: bloom hashes are
    # type-sensitive, so the probe and (rebuilt) filters must agree
    hit, prep = store.read_point("t", "k", 12_345)
    assert hit.count() == 1
    assert prep["files_read"] < prep["files_total"]

    # refusals: narrowing, lossy, cross-family, unknown, partition col
    with pytest.raises(ValueError, match="not a safe widening"):
        store.alter_column_type("t", {"k": "int"})
    with pytest.raises(ValueError, match="not a safe widening"):
        store.alter_column_type("t", {"k": "double"})  # bigint->double lossy
    with pytest.raises(ValueError, match="not a safe widening"):
        store.alter_column_type("t", {"v": "string"})
    with pytest.raises(ValueError, match="not in"):
        store.alter_column_type("t", {"nope": "bigint"})
    with pytest.raises(ValueError, match="already"):
        store.alter_column_type("t", {"k": "bigint"})
    pdf = spark.range(0, 3_000).selectExpr("id AS k", "CAST(id % 3 AS INT) AS p")
    store.write("pt", pdf, partition_by=["p"])
    with pytest.raises(ValueError, match="partition columns"):
        store.alter_column_type("pt", {"p": "bigint"})

    # a COW merge after the widen: rewrite outputs carry the widened
    # type, referenced generations cast per branch — strict contract
    up = spark.createDataFrame([(5, -1.0, 5)], "k bigint, v double, grp int")
    store.merge_in("t", up, "k")
    got2 = store.read("t")
    assert dict(got2.dtypes)["k"] == "bigint"
    assert got2.where("k = 5 AND v = -1.0").count() == 1
    assert got2.count() == 20_000

    # widen composes with rename: the cast follows the column to its
    # NEW name for generations predating both alters
    store.rename_columns("t", {"grp": "bucket"})
    got3 = store.read("t")
    assert dict(got3.dtypes)["bucket"] == "int"
    store.alter_column_type("t", {"bucket": "bigint"})
    got4 = store.read("t")
    assert dict(got4.dtypes)["bucket"] == "bigint"
    assert got4.selectExpr("sum(bucket) s").first().s == sum(
        i % 100 for i in range(20_000)
    )

    # physical materialization on rewrite
    store.compact("t")
    ventry = next(
        e
        for e in store._read_meta("t")["versions"]
        if e["v"] == store._read_meta("t")["current"]
    )
    pf = next(
        _os.path.join(dp, n)
        for dp, _ds, ns in _os.walk(ventry["path"])
        for n in ns
        if n.endswith(".parquet")
    )
    sch = _pq.read_schema(pf)
    assert str(sch.field("k").type) == "int64"
    assert str(sch.field("v").type) == "double"
    assert store.read("t").count() == 20_000


def test_alter_partition_spec_evolves_metadata_only(spark, tmp_path):
    """Round 12 (VERDICT r11 #7): Iceberg-style partition evolution —
    the spec change is a metadata-only commit; old generations keep
    their directory layout and read through the per-generation union;
    new writes land under the new spec; pruning works across specs
    (footer stats for pre-evolution files, directory values after);
    compact() materializes the new layout in full."""
    import os as _os

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 20_000).selectExpr(
        "id AS k", "CAST(id % 4 AS INT) AS p", "CAST(id AS DOUBLE) AS v"
    )
    store.write("t", df.repartition(2))  # FLAT layout
    store.optimize_layout("t", ["k"], num_files=8)

    v = store.alter_partition_spec("t", ["p"])
    d = _os.path.join(str(tmp_path), "t", f"v{v:04d}")
    assert sorted(_os.listdir(d)) == ["_MANIFEST.json", "_SUCCESS"]  # 0 bytes moved
    assert store.current_partition_columns("t") == ["p"]
    got = store.read("t")
    assert got.count() == 20_000
    assert set(got.columns) == {"k", "p", "v"}

    # a COW merge writes its rewrite outputs under the NEW spec while the
    # untouched flat files stay referenced
    up = spark.createDataFrame([(5, 1, -1.0)], "k bigint, p int, v double")
    store.merge_in("t", up, "k")
    entry = next(
        e
        for e in store._read_meta("t")["versions"]
        if e["v"] == store._read_meta("t")["current"]
    )
    fm = store._version_filemap("t", entry)
    new_rels = [r for r, vp in fm.items() if vp == entry["v"]]
    assert new_rels and all(r.startswith("p=") for r in new_rels), new_rels
    assert any(vp != entry["v"] for vp in fm.values())  # old flat refs remain
    got2 = store.read("t")
    assert got2.count() == 20_000
    assert got2.where("k = 5 AND v = -1.0").count() == 1

    # pruning on the evolved spec column works across BOTH generations:
    # footer stats for the flat files, dir values for the new ones
    pruned, rep = store.read_pruned("t", "p", lo=2, hi=2)
    assert pruned.count() == 5_000
    # ... and on the original cluster column too
    pruned2, rep2 = store.read_pruned("t", "k", lo=100, hi=110)
    assert pruned2.count() == 11
    assert rep2["files_read"] < rep2["files_total"]

    # delete_where on the spec column: per-generation stats decide
    v3, drep = store.delete_where("t", "p", lo=3, hi=3)
    assert drep["rows_deleted"] == 5_000
    assert store.read("t").count() == 15_000
    assert store.read("t").where("p = 3").count() == 0

    # compact materializes the evolved layout in full
    store.compact("t")
    entry2 = next(
        e
        for e in store._read_meta("t")["versions"]
        if e["v"] == store._read_meta("t")["current"]
    )
    fm2 = store._version_filemap("t", entry2)
    assert all(r.startswith("p=") for r in fm2), list(fm2)[:3]
    assert store.read("t").count() == 15_000
    assert store.current_partition_columns("t") == ["p"]

    # evolve BACK to flat: old partitioned generations still read
    store.alter_partition_spec("t", [])
    store.merge_in("t", spark.createDataFrame(
        [(6, 2, -2.0)], "k bigint, p int, v double"), "k")
    got3 = store.read("t")
    assert got3.count() == 15_000 and got3.where("v = -2.0").count() == 1

    # guards
    with pytest.raises(ValueError, match="not in"):
        store.alter_partition_spec("t", ["nope"])
    with pytest.raises(ValueError, match="duplicate"):
        store.alter_partition_spec("t", ["p", "p"])
    with pytest.raises(ValueError, match="non-partition column"):
        store.alter_partition_spec("t", ["k", "p", "v"])
    with pytest.raises(ValueError, match="already has spec"):
        store.alter_partition_spec("t", [])


def test_schema_alter_racing_merge_is_conflict_checked(spark, tmp_path):
    """Round 12: metadata-only ALTERs ride the same conflict-checked
    pointer swap as COW mutations — an alter computed against a version
    a concurrent merge superseded must raise ConcurrentWriteError (its
    manifest would silently drop the merge's rewrite outputs from the
    reference list), leave the merge current, and succeed on retry."""
    from taico_data_integration_spark.ops.incremental import (
        ConcurrentWriteError,
        TableStore,
    )

    class Racer(TableStore):
        arm = False

        def _claim_version(self, table):
            v = super()._claim_version(table)
            if Racer.arm:
                Racer.arm = False
                other = TableStore(self.spark, self.root)
                other.merge_in(
                    table,
                    self.spark.createDataFrame(
                        [(5, -1.0)], "k bigint, v double"
                    ),
                    "k",
                )
            return v

    store = Racer(spark, str(tmp_path))
    df = spark.range(0, 5_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    store.write("t", df.repartition(4))
    store.optimize_layout("t", ["k"], num_files=4)

    Racer.arm = True
    with pytest.raises(ConcurrentWriteError):
        store.add_columns("t", {"w": "string"})
    # the merge won and is intact
    assert store.read("t").where("k = 5 AND v = -1.0").count() == 1
    assert "w" not in store.read("t").columns
    # retry applies against the merge's result
    store.add_columns("t", {"w": "string"})
    got = store.read("t")
    assert "w" in got.columns
    assert got.where("k = 5 AND v = -1.0").count() == 1
    assert got.count() == 5_000


def test_dir_read_detects_vacuum_race_loudly(spark, tmp_path):
    """Round 12: the whole-generation DIRECTORY read keeps the
    pinned-read-races-vacuum contract — a generation whose files were
    reclaimed between the manifest load and the directory listing is a
    LOUD ValueError, never a silently smaller result (the explicit-path
    form fails at scan; the dir form must check the listing)."""
    import glob as _glob
    import os as _os

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 8_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    store.write("t", df.repartition(4))
    assert store.read("t").count() == 8_000  # dir fast path, healthy

    entry = next(
        e
        for e in store._read_meta("t")["versions"]
        if e["v"] == store._read_meta("t")["current"]
    )
    victim = sorted(_glob.glob(_os.path.join(entry["path"], "*.parquet")))[0]
    _os.remove(victim)  # simulate a racing vacuum's reclamation
    with pytest.raises(ValueError, match="changed under a pinned read"):
        store.read("t").count()


def test_all_null_partition_column_keeps_recorded_type(spark, tmp_path):
    """Round 12 (found by the randomized ALTER model sweep): a partition
    column whose every row is NULL lands entirely in
    __HIVE_DEFAULT_PARTITION__ and Spark's directory inference types it
    VOID — silently losing the recorded type and breaking the next merge
    (CAST(string AS void)). The recorded schema is the contract: reads
    must restore the real type. Reachable by a plain partitioned write
    of an all-null column, and by add_columns -> alter_partition_spec ->
    compact."""
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path))
    df = spark.range(0, 2_000).selectExpr(
        "id AS k", "CAST(NULL AS STRING) AS tag", "CAST(id AS DOUBLE) AS v"
    )
    store.write("t", df, partition_by=["tag"])
    got = store.read("t")
    assert dict(got.dtypes)["tag"] == "string", got.dtypes
    assert got.count() == 2_000

    # the merge that used to blow up on CAST(... AS VOID)
    up = spark.createDataFrame([(5, "x", -1.0)], "k bigint, tag string, v double")
    store.merge_in("t", up, "k")
    got2 = store.read("t")
    assert got2.where("tag = 'x'").count() == 1
    assert dict(got2.dtypes)["tag"] == "string"

    # the evolution lineage: metadata-added column -> spec -> compact
    store2 = TableStore(spark, str(tmp_path / "s2"))
    store2.write("t", spark.range(0, 1_000).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"))
    store2.add_columns("t", {"c": "string"})
    store2.alter_partition_spec("t", ["c"])
    store2.compact("t")
    assert dict(store2.read("t").dtypes)["c"] == "string"
    up2 = spark.createDataFrame([(3, -2.0, "y")], "k bigint, v double, c string")
    store2.merge_in("t", up2, "k")
    assert store2.read("t").where("c = 'y'").count() == 1
