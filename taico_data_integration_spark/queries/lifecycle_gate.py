"""Driver-gated lifecycle/sink entries (VERDICT r3 'Next round' #3).

The sink/DDL/lifecycle surface (S4/S5/S9-S11, M3/M6) was pytest-verified
only: a row-hash oracle cannot see a side effect. These entries close that
evidence gap by the write-then-read-back pattern — each one executes the
REAL side-effectful path (TableStore versioned-parquet promote/rollback,
SqlWarehouseFormat catalog DDL promote/rollback, CSV and JSON sinks,
dynamic partition overwrite), then returns the final READ-BACK table for
the driver to hash against an ANSI-SQL oracle expressing the intended end
state. Protocol invariants that the hash cannot express (version counts,
current-pointer position, rollback actually happened) are hard RuntimeError
checks inside the entry, so a red row — not a silent pass — results if the
lifecycle misbehaves.

Reference surface covered (SURVEY.md §2.1/§2.9):
- M6 backup -> write -> validate -> rollback-on-failure:
  dags/taico/meta/taico_facebook_data_etl_dag.py:136-222
- M3 staging rebuild + S4/S5/S9 warehouse DDL sink:
  include/scripts/sync_data.py:281-309
- S10/S11 CSV scan/sink; JSON twin.
- M4/M8 partition-scoped swap at storage level (dynamic overwrite):
  include/scripts/sync_data.py:281-309 (tenant-scoped delete+insert).

Every entry works in a throwaway temp dir and cleans up in ``finally``
(result is localCheckpoint-materialized first, so the returned DataFrame
survives the cleanup); the SqlWarehouseFormat entry additionally drops its
uuid-suffixed catalog namespace.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ops.formats import SqlWarehouseFormat
from ..ops.incremental import PartitionedTable, TableStore
from ..sources import jdbc_sink, jdbc_source, read_csv, read_json, write_csv, write_json
from ._util import T


def _materialize(df: DataFrame) -> DataFrame:
    """Pin the result into executor storage so it outlives the temp-dir
    cleanup in the caller's ``finally`` (localCheckpoint is eager)."""
    return df.localCheckpoint()


def _enriched_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = T(spark, sf_dir, "nation")
    region = T(spark, sf_dir, "region")
    return nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name", "n_regionkey", F.col("r_name").alias("region_name"))


def lifecycle_tablestore_promote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3+M6 on the versioned-parquet TableStore: baseline write, a CHECK
    constraint that must abort a violating write with no visible version
    (VERDICT r6 #1 — the constraint surface under the driver's gate), a
    FAILING promotion (half the rows dropped — validation rejects, store
    rolls back), then a passing promotion of the enriched rebuild. Returns
    the final read-back; history/pointer invariants are hard-checked."""
    nation = T(spark, sf_dir, "nation")
    n_base = nation.count()
    work = tempfile.mkdtemp(prefix="taico_lcg_store_")
    try:
        store = TableStore(spark, os.path.join(work, "store"))
        store.write("dim_nation", nation)  # v0: M3 staging rebuild baseline
        # CHECK constraint: a violating staged batch must abort BEFORE any
        # version becomes visible — not even transiently (stage-then-rename)
        store.set_constraint("dim_nation", "regionkey_nonneg", "n_regionkey >= 0")
        violating = nation.withColumn("n_regionkey", F.lit(-1))
        try:
            store.write("dim_nation", violating)
            raise RuntimeError(
                "lifecycle_tablestore_promote: constraint-violating write accepted"
            )
        except ValueError:
            pass  # the contract: ValueError, version claim burned, nothing visible
        hist = store.history("dim_nation")
        if len(hist) != 1 or hist[0]["v"] != 0 or not hist[0]["is_current"]:
            raise RuntimeError(
                f"lifecycle_tablestore_promote: violating write left a trace {hist}"
            )
        if store.read("dim_nation").count() != n_base:
            raise RuntimeError("lifecycle_tablestore_promote: constraint abort lost v0")
        bad = nation.where(F.col("n_nationkey") < 5)  # truncated staged batch
        if store.promote_with_validation(
            "dim_nation", bad, lambda df: df.count() >= n_base
        ):
            raise RuntimeError("lifecycle_tablestore_promote: bad batch was accepted")
        if store.read("dim_nation").count() != n_base:
            raise RuntimeError("lifecycle_tablestore_promote: rollback did not restore v0")
        good = _enriched_nation(spark, sf_dir)
        if not store.promote_with_validation(
            "dim_nation", good, lambda df: df.count() >= n_base
        ):
            raise RuntimeError("lifecycle_tablestore_promote: good batch was rejected")
        # claim 1 was burned by the constraint abort (claims never reused),
        # so the rejected batch landed at v2 and the good rebuild at v3
        hist = store.history("dim_nation")
        if len(hist) != 3 or not hist[0]["is_current"] or hist[0]["v"] != 3:
            raise RuntimeError(f"lifecycle_tablestore_promote: bad history {hist}")
        return _materialize(store.read("dim_nation"))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def lifecycle_sqlwarehouse_promote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same M6 protocol through the catalog-DDL format (S5/S9: saveAsTable
    version tables + CREATE OR REPLACE VIEW pointer swaps): baseline write,
    rejected empty staged batch (rolled back), accepted enriched supplier
    rebuild. Namespace is uuid-suffixed and dropped in ``finally`` so gated
    runs never collide in the shared session catalog."""
    supplier = T(spark, sf_dir, "supplier")
    nation = T(spark, sf_dir, "nation")
    n_base = supplier.count()
    work = tempfile.mkdtemp(prefix="taico_lcg_wh_")
    ns = f"lcg_{uuid.uuid4().hex[:10]}"
    fmt = SqlWarehouseFormat(spark, ns, location=work)
    try:
        fmt.write("dim_supplier", supplier)  # v0 baseline
        bad = supplier.where(F.lit(False))  # empty staged batch
        if fmt.promote_with_validation(
            "dim_supplier", bad, lambda df: df.count() >= n_base
        ):
            raise RuntimeError("lifecycle_sqlwarehouse_promote: empty batch accepted")
        good = supplier.join(
            F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
        ).select("s_suppkey", "s_name", F.col("n_name").alias("nation_name"), "s_acctbal")
        if not fmt.promote_with_validation(
            "dim_supplier", good, lambda df: df.count() >= n_base
        ):
            raise RuntimeError("lifecycle_sqlwarehouse_promote: good batch rejected")
        hist = fmt.history("dim_supplier")
        if len(hist) != 3 or not hist[0]["is_current"] or hist[0]["v"] != 2:
            raise RuntimeError(f"lifecycle_sqlwarehouse_promote: bad history {hist}")
        return _materialize(fmt.read("dim_supplier"))
    finally:
        # cleanup must never mask a protocol failure from the body, and the
        # temp dir must go even if the catalog cleanup throws
        try:
            fmt.drop_namespace()
        except Exception:
            pass
        shutil.rmtree(work, ignore_errors=True)


def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/S11: distributed CSV sink then explicit-schema scan of the same
    files — the full write path (headers, type rendering) and read path
    (schema-pinned parse) under the hash gate."""
    orders = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.to_date("o_orderdate").alias("o_date"),
    )
    work = tempfile.mkdtemp(prefix="taico_lcg_csv_")
    try:
        path = os.path.join(work, "orders_csv")
        write_csv(orders, path)
        return _materialize(read_csv(spark, path, schema=orders.schema))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def sink_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON sink/scan twin of sink_csv_roundtrip (line-delimited JSON,
    explicit schema on read)."""
    customer = T(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    work = tempfile.mkdtemp(prefix="taico_lcg_json_")
    try:
        path = os.path.join(work, "customer_json")
        write_json(customer, path)
        return _materialize(read_json(spark, path, schema=customer.schema))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def lifecycle_partitioned_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4/M8 at the storage layer: full partitioned write, then a dynamic
    partition overwrite that rewrites ONLY the BUILDING segment (balances
    doubled) — the replaceWhere-style scoped swap. Read-back must show the
    doubled segment and the untouched rest."""
    customer = T(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    n_base = customer.count()
    work = tempfile.mkdtemp(prefix="taico_lcg_part_")
    try:
        table = PartitionedTable(spark, os.path.join(work, "customer"), ["c_mktsegment"])
        table.write_full(customer)
        patched = customer.where(F.col("c_mktsegment") == "BUILDING").withColumn(
            "c_acctbal", F.col("c_acctbal") * F.lit(2.0)
        )
        table.overwrite_partitions(patched)
        out = table.read().select("c_custkey", "c_acctbal", "c_mktsegment")
        if out.count() != n_base:
            raise RuntimeError(
                "lifecycle_partitioned_overwrite: dynamic overwrite changed row count"
            )
        return _materialize(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def sink_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6+S7+S8 under the hash gate against a REAL RDBMS (Apache Derby,
    embedded — ships inside Spark's own jars), VERDICT r4 #4. The protocol
    is the reference's Postgres sync restated set-based:

    - S8 bulk sink: initial load of half the suppliers via one distributed
      ``df.write.jdbc`` (vs the per-row INSERT loop,
      include/scripts/sync_data.py:250-252);
    - S7 insert-if-absent DML: the full batch arrives, existing keys are
      read back and anti-joined so only the missing half is appended
      (sync_data.py:185-187 semantics, one set-based write);
    - S6 tenant-filtered scan: final read-back uses predicate-partitioned
      parallel reads (3 disjoint s_nationkey ranges = 3 concurrent JDBC
      partitions, dags/etl.py:74-76) and a pushed filter.

    Hard invariants (red row, not silent pass): the balance filter is
    PUSHED into the JDBC scan, the parallel read has exactly 3 partitions,
    and the two-phase load produced no duplicates. Oracle: the same
    projection straight off the parquet supplier table."""
    supplier = T(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    n_base = supplier.count()
    work = tempfile.mkdtemp(prefix="taico_lcg_jdbc_")
    db = os.path.join(work, "gatedb")
    url = f"jdbc:derby:{db};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    # Keep derby.log out of the repo root: Derby writes its stream-error
    # file to CWD unless told otherwise; point it into the gate's tempdir
    # (first engine boot in the JVM latches the property — harmless later).
    spark._jvm.java.lang.System.setProperty(
        "derby.stream.error.file", os.path.join(work, "derby.log")
    )
    try:
        # S8: bulk initial load (half the rows — the "already synced" state)
        jdbc_sink(
            supplier.where(F.col("s_suppkey") % 2 == 0), url, "suppliers",
            mode="append", properties=props,
        )
        # S7: insert-if-absent — read existing keys, append only the delta
        existing = jdbc_source(spark, url, "suppliers", properties=props).select(
            "s_suppkey"
        )
        delta = supplier.join(existing, "s_suppkey", "left_anti")
        jdbc_sink(delta, url, "suppliers", mode="append", properties=props)

        # S6: predicate-partitioned parallel read + pushed tenant filter
        back = jdbc_source(
            spark, url, "suppliers",
            predicates=[
                '"s_nationkey" < 8',
                '"s_nationkey" >= 8 AND "s_nationkey" < 16',
                '"s_nationkey" >= 16',
            ],
            properties=props,
        )
        if back.rdd.getNumPartitions() != 3:
            raise RuntimeError("sink_jdbc_roundtrip: predicate partitioning lost")
        filtered = back.where(F.col("s_acctbal") > 0.0)
        plan = filtered._jdf.queryExecution().executedPlan().toString()
        if "PushedFilters" not in plan or "s_acctbal" not in plan.split("PushedFilters")[1][:200]:
            raise RuntimeError("sink_jdbc_roundtrip: filter not pushed into JDBC scan")
        if back.count() != n_base:
            raise RuntimeError("sink_jdbc_roundtrip: two-phase load row count drifted")
        return _materialize(
            filtered.select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        )
    finally:
        try:  # release Derby's file handles before removing the db dir
            spark._jvm.java.sql.DriverManager.getConnection(
                f"jdbc:derby:{db};shutdown=true"
            )
        except Exception:
            pass  # Derby signals successful shutdown via SQLException
        shutil.rmtree(work, ignore_errors=True)


def lifecycle_skipping_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data skipping under the driver's gate (VERDICT r6 #1): write orders
    into the TableStore, cluster on order date (optimize_layout →
    range-disjoint files + per-file stats manifest), then read a 7-month
    window via read_pruned. Hard invariants: the pruned read touched at
    most 3 of the 8 files (the I/O claim), the pruned result is EXACTLY the
    full-scan residual (row parity both directions — skipping must never
    change results), stats_aggregate answers the row count from the
    manifest alone (metadata-only aggregate), read_since (the incremental
    consumer read) file-prunes from the same manifest while agreeing
    exactly with the strict residual, and a BLOOM point lookup on the
    UNCLUSTERED key column (where min/max stats span the domain in every
    file) reads at most 2 files for a present key, zero for an absent one,
    with results exactly the equality residual; a batched IN-list probe
    (read_in, r8) over one present + two absent keys reads at most the
    present key's files and equals the full-scan IN residual, and an
    absent-only list reads nothing. Returns the pruned window for the
    hash gate."""
    import datetime as dt

    orders = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.to_date("o_orderdate").alias("o_date")
    )
    lo, hi = dt.date(1997, 6, 1), dt.date(1997, 12, 31)
    work = tempfile.mkdtemp(prefix="taico_lcg_skip_")
    try:
        store = TableStore(spark, os.path.join(work, "store"))
        store.write("orders_by_date", orders)
        n_total = store.read("orders_by_date").count()
        store.optimize_layout("orders_by_date", ["o_date"], num_files=8)
        pruned, report = store.read_pruned("orders_by_date", "o_date", lo=lo, hi=hi)
        if report["files_total"] < 8 or report["files_read"] > 3:
            raise RuntimeError(
                f"lifecycle_skipping_gate: pruning ineffective {report}"
            )
        full = store.read("orders_by_date").where(
            (F.col("o_date") >= F.lit(lo)) & (F.col("o_date") <= F.lit(hi))
        )
        if pruned.exceptAll(full).count() or full.exceptAll(pruned).count():
            raise RuntimeError(
                "lifecycle_skipping_gate: pruned read diverged from full scan"
            )
        agg = store.stats_aggregate("orders_by_date", ["o_date"])
        if agg["count"] != n_total or agg.get("o_date", {}).get("min") is None:
            raise RuntimeError(
                f"lifecycle_skipping_gate: metadata-only aggregate wrong {agg}"
            )
        # read_since (incremental consumer read) on the same clustered table:
        # a catch-up from a DATA-DERIVED watermark (70% into the date range,
        # so some clustered files are provably below it whatever date span a
        # regenerated fixture carries) must file-prune and agree with the
        # strict residual predicate exactly
        drange = store.read("orders_by_date").agg(
            F.min("o_date").alias("dlo"), F.max("o_date").alias("dhi")
        ).first()
        wm = drange.dlo + dt.timedelta(
            days=int((drange.dhi - drange.dlo).days * 0.7)
        )
        since, since_rep = store.read_since("orders_by_date", "o_date", wm)
        if since_rep["files_read"] >= since_rep["files_total"]:
            raise RuntimeError(
                f"lifecycle_skipping_gate: read_since did not prune {since_rep}"
            )
        expect_since = store.read("orders_by_date").where(F.col("o_date") > F.lit(wm))
        if since.exceptAll(expect_since).count() or expect_since.exceptAll(since).count():
            raise RuntimeError(
                "lifecycle_skipping_gate: read_since diverged from the residual"
            )
        # BLOOM point lookup on the key column: the o_date clustering
        # interleaves keys, so every file's [min,max] on o_orderkey covers a
        # mid-domain key and stats prune nothing — any skipping is the bloom
        kr = store.read("orders_by_date").agg(
            F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
        ).first()
        probe_key = (
            store.read("orders_by_date")
            .where(F.col("o_orderkey") >= (kr.lo + kr.hi) // 2)
            .agg(F.min("o_orderkey"))
            .first()[0]
        )
        # size the bloom from the table itself (ADVICE r7: the default
        # 2^17-bit filter saturates at sf>=1's ~190k distinct keys per
        # file — every probe positive, no skipping, gate fails on scale
        # alone; n_total/8 keys per clustered file keeps fpp honest at
        # ANY sf the driver runs)
        hit, hit_rep = store.read_point(
            "orders_by_date",
            "o_orderkey",
            probe_key,
            expected_items_per_file=max(1, n_total // 8),
        )
        if hit_rep["files_read"] > 2 or hit.count() != 1:
            raise RuntimeError(
                f"lifecycle_skipping_gate: bloom hit read {hit_rep} rows={hit.count()}"
            )
        # attribution: when stats pruned nothing (keys interleaved across
        # the date clustering — true of the current fixture), the skipping
        # must be the bloom's; if a regenerated fixture correlates keys
        # with dates, stats legitimately claim the skips instead
        if (
            hit_rep["skipped_by_stats"] == 0
            and hit_rep["skipped_by_bloom"] < hit_rep["files_total"] - 2
        ):
            raise RuntimeError(
                f"lifecycle_skipping_gate: bloom did not account for the skips {hit_rep}"
            )
        # absent key (above the domain): the lookup must touch NOTHING —
        # stats or bloom, either stage may claim the skip — and return 0 rows
        miss, miss_rep = store.read_point("orders_by_date", "o_orderkey", kr.hi + 1)
        if miss_rep["files_read"] != 0 or miss.count() != 0:
            raise RuntimeError(
                f"lifecycle_skipping_gate: absent-key lookup read {miss_rep}"
            )
        # batched IN-list probe (r8, read_in): one present + two absent
        # keys must read at most the present key's files and return
        # exactly the full-scan IN residual; an absent-only list reads 0
        in_hit, in_rep = store.read_in(
            "orders_by_date", "o_orderkey", [probe_key, kr.hi + 1, kr.hi + 2]
        )
        expect_in = store.read("orders_by_date").where(
            F.col("o_orderkey").isin([probe_key, kr.hi + 1, kr.hi + 2])
        )
        if (
            in_rep["files_read"] > 2
            or in_hit.exceptAll(expect_in).count()
            or expect_in.exceptAll(in_hit).count()
        ):
            raise RuntimeError(
                f"lifecycle_skipping_gate: IN-list probe wrong {in_rep}"
            )
        in_miss, in_miss_rep = store.read_in(
            "orders_by_date", "o_orderkey", [kr.hi + 1, kr.hi + 2]
        )
        if in_miss_rep["files_read"] != 0 or in_miss.count() != 0:
            raise RuntimeError(
                f"lifecycle_skipping_gate: absent-only IN-list read {in_miss_rep}"
            )
        return _materialize(pruned)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def lifecycle_cdc_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change feed + exactly-once txn under the driver's gate (VERDICT r6
    #1): v0 = customers, v1 = a deterministic edit script (every 10th key
    deleted, keys ≡1 mod 10 get +100 balance, keys ≡2 mod 10 re-inserted
    offset by 1M) committed via write_with_txn. Hard invariants: the replayed
    txn batch commits NOTHING (exactly-once — same app_id/batch_id returns
    None, history unchanged), and cdc_apply(v0, table_changes(0,1))
    reconstructs v1 exactly (the feed is complete and minimal). Returns the
    change feed itself for the hash gate."""
    customer = T(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    work = tempfile.mkdtemp(prefix="taico_lcg_cdc_")
    try:
        from ..ops.cdc import cdc_apply

        store = TableStore(spark, os.path.join(work, "store"))
        store.write("dim_customer", customer)  # v0
        mod = F.col("c_custkey") % 10
        v1 = (
            customer.where(mod != 0)
            .withColumn(
                "c_acctbal",
                F.when(mod == 1, F.col("c_acctbal") + F.lit(100.0)).otherwise(
                    F.col("c_acctbal")
                ),
            )
            .unionByName(
                customer.where(mod == 2).withColumn(
                    "c_custkey", F.col("c_custkey") + F.lit(1_000_000)
                )
            )
        )
        if store.write_with_txn("dim_customer", v1, "cdc_gate_app", 1) != 1:
            raise RuntimeError("lifecycle_cdc_gate: first txn write did not commit v1")
        if store.write_with_txn("dim_customer", v1, "cdc_gate_app", 1) is not None:
            raise RuntimeError("lifecycle_cdc_gate: replayed txn batch committed")
        if [h["v"] for h in store.history("dim_customer")] != [1, 0]:
            raise RuntimeError("lifecycle_cdc_gate: replay changed history")
        feed = store.table_changes("dim_customer", 0, 1, ["c_custkey"])
        changelog = feed.withColumn(
            "op",
            F.when(F.col("_change_type") == "delete", F.lit("D"))
            .when(F.col("_change_type") == "insert", F.lit("I"))
            .otherwise(F.lit("U")),
        ).withColumn("seq", F.lit(1)).drop("_change_type")
        rebuilt = cdc_apply(
            store.read("dim_customer", 0), changelog, ["c_custkey"]
        )
        v1_read = store.read("dim_customer", 1)
        if rebuilt.exceptAll(v1_read).count() or v1_read.exceptAll(rebuilt).count():
            raise RuntimeError(
                "lifecycle_cdc_gate: cdc_apply(v0, feed) did not reconstruct v1"
            )
        return _materialize(feed)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def lifecycle_timetravel_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel under the driver's gate (VERDICT r6 #1): three commits of
    a nation dim (raw → lowercased names → truncated), then TIMESTAMP AS OF
    between the v1 and v2 commits must pin EXACTLY v1. Hard invariants: the
    as-of read equals the version-pinned read row-for-row, a never-committed
    version raises ValueError, and an as-of before the first commit raises
    ValueError (the documented missing-version contract). Returns the as-of
    read (v1 state) for the hash gate."""
    nation = T(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    work = tempfile.mkdtemp(prefix="taico_lcg_tt_")
    try:
        import time as _time

        store = TableStore(spark, os.path.join(work, "store"))
        store.write("dim_nation", nation)  # v0
        _time.sleep(0.05)  # distinct commit mtimes (ties break by version)
        store.write("dim_nation", nation.withColumn("n_name", F.lower("n_name")))
        _time.sleep(0.05)
        store.write("dim_nation", nation.where(F.col("n_nationkey") < 10))
        ts = {h["v"]: h["ts"] for h in store.history("dim_nation")}
        if not ts[0] < ts[1] < ts[2]:
            raise RuntimeError(f"lifecycle_timetravel_gate: commit times not ordered {ts}")
        as_of = store.read_as_of("dim_nation", (ts[1] + ts[2]) / 2)
        pinned = store.read("dim_nation", version=1)
        if as_of.exceptAll(pinned).count() or pinned.exceptAll(as_of).count():
            raise RuntimeError(
                "lifecycle_timetravel_gate: as-of read is not the pinned v1"
            )
        try:
            store.read("dim_nation", version=57)
            raise RuntimeError(
                "lifecycle_timetravel_gate: uncommitted version read succeeded"
            )
        except ValueError:
            pass
        try:
            store.read_as_of("dim_nation", ts[0] - 100.0)
            raise RuntimeError(
                "lifecycle_timetravel_gate: pre-history as-of read succeeded"
            )
        except ValueError:
            pass
        return _materialize(as_of)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def hll_distinct_rollup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based incremental distinct-count rollup under the driver's
    gate. COUNT(DISTINCT) is not additive; the HLL rollup makes it so.
    Hard invariants: a 3-generation incremental fold (hll_rollup per slice,
    merge_hll_rollup to combine) agrees with one sketch over all the data
    to within 2% (near the sketch's sparse/dense mode boundary the union's
    estimate can differ SLIGHTLY from the direct sketch — measured at
    sf0.01, ~0.5% — while deep in the dense regime they are byte-identical;
    accuracy is the contract, identity is regime-specific), and every
    estimate lands within 5% of the exact distinct (lg_k=12 ⇒ ~1.6% rse).
    Returns the EXACT per-group distinct counts for the hash gate — the
    sketch math is validated in-entry, the values the driver hashes are
    deterministic."""
    from ..ops.rollup import hll_estimate, hll_rollup, merge_hll_rollup

    orders = T(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_custkey", "o_orderkey"
    )
    third = F.col("o_orderkey") % 3
    gens = [orders.where(third == i) for i in range(3)]
    full = hll_rollup(orders, ["o_orderpriority"], "o_custkey")
    inc = hll_rollup(gens[0], ["o_orderpriority"], "o_custkey")
    for g in gens[1:]:
        inc = merge_hll_rollup(inc, hll_rollup(g, ["o_orderpriority"], "o_custkey"), ["o_orderpriority"])
    est_full = {
        r.o_orderpriority: r.n_distinct for r in hll_estimate(full).collect()
    }
    est_inc = {r.o_orderpriority: r.n_distinct for r in hll_estimate(inc).collect()}
    exact = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_distinct")
    )
    for r in exact.collect():
        ei, ef = est_inc.get(r.o_orderpriority), est_full.get(r.o_orderpriority)
        if ei is None or ef is None or abs(ei - ef) / r.n_distinct > 0.02:
            raise RuntimeError(
                f"hll_distinct_rollup_gate: fold diverged from direct sketch "
                f"beyond the mode-boundary envelope: {ei} vs {ef} (exact {r.n_distinct})"
            )
        if abs(ei - r.n_distinct) / r.n_distinct > 0.05:
            raise RuntimeError(
                f"hll_distinct_rollup_gate: estimate {ei} off exact {r.n_distinct} "
                f"for {r.o_orderpriority}"
            )
    return _materialize(exact)


HLL_ROLLUP_GATE_SQL = """
SELECT o_orderpriority, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct
FROM orders GROUP BY o_orderpriority
"""

TABLESTORE_PROMOTE_SQL = """
SELECT n_nationkey, n_name, n_regionkey, r_name AS region_name
FROM nation JOIN region ON n_regionkey = r_regionkey
"""

SQLWAREHOUSE_PROMOTE_SQL = """
SELECT s_suppkey, s_name, n_name AS nation_name, s_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
"""

CSV_ROUNDTRIP_SQL = """
SELECT o_orderkey, o_orderstatus, o_totalprice, CAST(o_orderdate AS DATE) AS o_date
FROM orders
"""

JSON_ROUNDTRIP_SQL = """
SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
"""

JDBC_ROUNDTRIP_SQL = """
SELECT s_suppkey, s_name, s_nationkey, s_acctbal
FROM supplier
WHERE s_acctbal > CAST(0.0 AS DOUBLE)
"""

PARTITIONED_OVERWRITE_SQL = """
SELECT c_custkey,
       CASE WHEN c_mktsegment = 'BUILDING'
            THEN c_acctbal * CAST(2.0 AS DOUBLE) ELSE c_acctbal END AS c_acctbal,
       c_mktsegment
FROM customer
"""

SKIPPING_GATE_SQL = """
SELECT o_orderkey, o_totalprice, CAST(o_orderdate AS DATE) AS o_date
FROM orders
WHERE CAST(o_orderdate AS DATE)
      BETWEEN DATE '1997-06-01' AND DATE '1997-12-31'
"""

CDC_GATE_SQL = """
WITH base AS (
  SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
)
SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
       'delete' AS _change_type
FROM base WHERE c_custkey % 10 = 0
UNION ALL
SELECT c_custkey, c_name, c_acctbal + CAST(100.0 AS DOUBLE) AS c_acctbal,
       c_mktsegment, 'update_postimage' AS _change_type
FROM base WHERE c_custkey % 10 = 1
UNION ALL
SELECT c_custkey + 1000000 AS c_custkey, c_name, c_acctbal, c_mktsegment,
       'insert' AS _change_type
FROM base WHERE c_custkey % 10 = 2
"""

TIMETRAVEL_GATE_SQL = """
SELECT n_nationkey, lower(n_name) AS n_name, n_regionkey FROM nation
"""


def lifecycle_copy_on_write_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level copy-on-write DELETE under the driver's gate (round 8;
    share-by-reference since round 10): customers land in a TableStore
    clustered on c_custkey, then the five SMALLEST keys — all clustered
    into the first file's range — are deleted via ``delete_in``. Hard
    invariants: the delete REWRITES fewer files than the version holds
    and REFERENCES at least one untouched file (the manifest lists it
    against the previous version; the new dir physically holds only
    rewrite outputs — zero data movement, zero copy requests), exactly
    5 rows are deleted, the pre-delete version stays pinned-readable,
    and a second delete_in with an absent key is a NO-OP that burns no
    version. The surviving table is hashed against the plain anti-IN
    oracle."""
    import os as _os

    cust = T(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    work = tempfile.mkdtemp(prefix="taico_lcg_cow_")
    try:
        store = TableStore(spark, os.path.join(work, "store"))
        store.write("customers", cust.repartition(4))
        store.optimize_layout("customers", ["c_custkey"], num_files=8)
        v_before = store._read_meta("customers")["current"]
        n_before = store.read("customers").count()
        doomed = [int(r.c_custkey) for r in cust.orderBy("c_custkey").limit(5).collect()]
        v_after, rep = store.delete_in("customers", "c_custkey", doomed)
        if rep["noop"] or rep["rows_deleted"] != 5:
            raise RuntimeError(f"lifecycle_copy_on_write_delete: wrong delta {rep}")
        if (
            rep["files_rewritten"] >= rep["files_total"]
            or rep["files_linked"] < 1
            or rep["files_linked"] + rep["files_rewritten"] != rep["files_total"]
        ):
            raise RuntimeError(
                f"lifecycle_copy_on_write_delete: not copy-on-write {rep}"
            )
        # zero data movement AND zero copy requests (round 10): untouched
        # files appear in the new version's manifest BY REFERENCE to the
        # old version; the new dir physically holds only rewrite outputs
        new_dir = os.path.join(work, "store", "customers", f"v{v_after:04d}")
        fm_new = store._version_filemap(
            "customers", {"v": v_after, "path": new_dir}
        )
        n_linked = sum(1 for vp in fm_new.values() if vp == v_before)
        n_phys = sum(1 for f in _os.listdir(new_dir) if f.endswith(".parquet"))
        if n_linked != rep["files_linked"] or n_phys != rep["rewrite_output_files"]:
            raise RuntimeError(
                f"lifecycle_copy_on_write_delete: shared {n_linked} != "
                f"{rep['files_linked']} or physical {n_phys} != "
                f"{rep['rewrite_output_files']}"
            )
        if store.read("customers", version=v_before).count() != n_before:
            raise RuntimeError(
                "lifecycle_copy_on_write_delete: pre-delete version not pinned-readable"
            )
        # absent key: NO-OP, no version burned
        kmax = int(cust.agg(F.max("c_custkey")).first()[0])
        v_noop, rep_noop = store.delete_in("customers", "c_custkey", [kmax + 10**9])
        if not rep_noop["noop"] or v_noop != v_after:
            raise RuntimeError(
                f"lifecycle_copy_on_write_delete: absent-key delete burned {rep_noop}"
            )
        return _materialize(store.read("customers"))
    finally:
        shutil.rmtree(work, ignore_errors=True)


COW_DELETE_SQL = """
SELECT c_custkey, c_name, c_acctbal FROM customer
WHERE c_custkey NOT IN (SELECT c_custkey FROM customer ORDER BY c_custkey LIMIT 5)
"""


def lifecycle_cow_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level copy-on-write MERGE under the driver's gate (round 8):
    orders land clustered on o_orderkey; the update batch reprices the
    100 SMALLEST keys (clustered into the low files) and inserts the same
    keys offset by 10^9 (all-new keyspace). ``merge_in`` must rewrite
    fewer files than the version holds, keep at least one untouched file
    by manifest reference, replace exactly 100 target rows while writing all 200 update
    rows, and equal ``merge_upsert``'s anti-join form row-for-row
    (checked in-entry). The merged table hashes against the UNION oracle."""
    orders = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.col("o_totalprice").cast("double").alias("o_totalprice")
    )
    work = tempfile.mkdtemp(prefix="taico_lcg_cowm_")
    try:
        store = TableStore(spark, os.path.join(work, "store"))
        store.write("orders", orders.repartition(4))
        store.optimize_layout("orders", ["o_orderkey"], num_files=8)
        low = orders.orderBy("o_orderkey").limit(100).localCheckpoint()
        updates = low.withColumn(
            "o_totalprice", F.col("o_totalprice") * F.lit(1.1).cast("double")
        ).unionByName(
            low.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(10**9))
        )
        from ..ops.incremental import merge_upsert

        expect = merge_upsert(store.read("orders"), updates, ["o_orderkey"]).localCheckpoint()
        v, rep = store.merge_in("orders", updates, "o_orderkey")
        if rep["rows_replaced"] != 100 or rep["rows_written"] != 200:
            raise RuntimeError(f"lifecycle_cow_merge: wrong delta {rep}")
        if (
            rep["files_rewritten"] >= rep["files_total"]
            or rep["files_linked"] < 1
            or rep["files_linked"] + rep["files_rewritten"] != rep["files_total"]
        ):
            raise RuntimeError(f"lifecycle_cow_merge: not copy-on-write {rep}")
        got = store.read("orders")
        if got.exceptAll(expect).count() or expect.exceptAll(got).count():
            raise RuntimeError(
                "lifecycle_cow_merge: merge_in diverged from merge_upsert"
            )
        return _materialize(got)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def lifecycle_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-predicate copy-on-write DELETE under the driver's gate
    (round 8): orders land date-clustered, then a 7-month retention sweep
    (``delete_where`` on the order date) must rewrite ONLY the files whose
    stats interval intersects the window (fewer than the version holds,
    at least one kept by manifest reference), delete exactly the
    window's rows, and leave an out-of-domain sweep as a version-free
    no-op. Survivors hash against the NOT-BETWEEN oracle."""
    import datetime as dt
    import os as _os

    orders = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", F.to_date("o_orderdate").alias("o_date")
    )
    lo, hi = dt.date(1997, 6, 1), dt.date(1997, 12, 31)
    work = tempfile.mkdtemp(prefix="taico_lcg_delw_")
    try:
        store = TableStore(spark, os.path.join(work, "store"))
        store.write("orders_by_date", orders)
        store.optimize_layout("orders_by_date", ["o_date"], num_files=8)
        v0 = store._read_meta("orders_by_date")["current"]
        n0 = store.read("orders_by_date").count()
        in_window = store.read("orders_by_date").where(
            (F.col("o_date") >= F.lit(lo)) & (F.col("o_date") <= F.lit(hi))
        ).count()
        v1, rep = store.delete_where("orders_by_date", "o_date", lo=lo, hi=hi)
        if rep["noop"] or rep["rows_deleted"] != in_window:
            raise RuntimeError(f"lifecycle_delete_where: wrong delta {rep} vs {in_window}")
        if rep["files_rewritten"] >= rep["files_total"] or rep["files_linked"] < 1:
            raise RuntimeError(f"lifecycle_delete_where: not copy-on-write {rep}")
        d1 = os.path.join(work, "store", "orders_by_date", f"v{v1:04d}")
        fm1 = store._version_filemap("orders_by_date", {"v": v1, "path": d1})
        shared = sum(1 for vp in fm1.values() if vp == v0)
        if shared != rep["files_linked"]:
            raise RuntimeError(
                f"lifecycle_delete_where: shared {shared} != {rep['files_linked']}"
            )
        if store.read("orders_by_date").count() != n0 - in_window:
            raise RuntimeError("lifecycle_delete_where: survivor count wrong")
        # out-of-domain sweep: version-free no-op
        v2, rep2 = store.delete_where(
            "orders_by_date", "o_date", lo=dt.date(2150, 1, 1), hi=dt.date(2151, 1, 1)
        )
        if not rep2["noop"] or v2 != v1:
            raise RuntimeError(f"lifecycle_delete_where: no-op burned {rep2}")
        return _materialize(store.read("orders_by_date"))
    finally:
        shutil.rmtree(work, ignore_errors=True)


DELETE_WHERE_SQL = """
SELECT o_orderkey, o_totalprice, CAST(o_orderdate AS DATE) AS o_date
FROM orders
WHERE CAST(o_orderdate AS DATE) NOT BETWEEN DATE '1997-06-01' AND DATE '1997-12-31'
"""

COW_MERGE_SQL = """
WITH low AS (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 100)
SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) AS o_totalprice
FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM low)
UNION ALL
SELECT o_orderkey, o_orderstatus,
       CAST(o_totalprice AS DOUBLE) * CAST(1.1 AS DOUBLE) AS o_totalprice
FROM orders WHERE o_orderkey IN (SELECT o_orderkey FROM low)
UNION ALL
SELECT o_orderkey + 1000000000 AS o_orderkey, o_orderstatus,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice
FROM orders WHERE o_orderkey IN (SELECT o_orderkey FROM low)
"""

def lifecycle_cow_merge_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key copy-on-write MERGE under the driver's gate
    (round 9, VERDICT r8 #2): lineitem keyed on its NATURAL composite key
    ``(l_orderkey, l_linenumber)`` — the same shape as the reference's
    ``(name, company_id)`` sync keys (sync_data.py:242-252) — lands
    orderkey-clustered; the update batch reprices the 100 smallest
    (orderkey, linenumber) pairs and re-inserts them offset into an
    all-new keyspace. ``merge_in`` with a key LIST must prune with
    intersected per-column stats (rewriting fewer files than the version
    holds, keeping at least one by reference), replace exactly 100 target rows
    while writing all 200 update rows, and equal ``merge_upsert``'s
    anti-join form row-for-row. The merged table hashes against the
    EXISTS-split oracle."""
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("qty"),
        F.col("l_extendedprice").cast("double").alias("price"),
    )
    work = tempfile.mkdtemp(prefix="taico_lcg_cowmc_")
    try:
        store = TableStore(spark, os.path.join(work, "store"))
        store.write("lineitem", li.repartition(4))
        store.optimize_layout("lineitem", ["l_orderkey"], num_files=8)
        # the synthetic fixture's (l_orderkey, l_linenumber) is NOT unique
        # (measured: 100 smallest rows hold 82 distinct pairs) — the update
        # batch must carry DISTINCT key tuples (one update row per pair, a
        # merge contract), so aggregate the pair's values deterministically
        low = (
            li.groupBy("l_orderkey", "l_linenumber")
            .agg(F.max("qty").alias("qty"), F.max("price").alias("price"))
            .orderBy("l_orderkey", "l_linenumber")
            .limit(100)
            .localCheckpoint()
        )
        updates = low.withColumn(
            "qty", F.col("qty") + F.lit(100.0).cast("double")
        ).unionByName(
            low.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(10**9))
        )
        from ..ops.incremental import merge_upsert

        expect = (
            merge_upsert(store.read("lineitem"), updates, ["l_orderkey", "l_linenumber"])
            .select(*store.read("lineitem").columns)
            .localCheckpoint()
        )
        n_matched = (
            store.read("lineitem")
            .join(low.select("l_orderkey", "l_linenumber"), ["l_orderkey", "l_linenumber"], "left_semi")
            .count()
        )
        v, rep = store.merge_in("lineitem", updates, ["l_orderkey", "l_linenumber"])
        if rep["rows_replaced"] != n_matched or rep["rows_written"] != 200:
            raise RuntimeError(
                f"lifecycle_cow_merge_composite: wrong delta {rep} (matched {n_matched})"
            )
        if (
            rep["files_rewritten"] >= rep["files_total"]
            or rep["files_linked"] < 1
            or rep["files_linked"] + rep["files_rewritten"] != rep["files_total"]
        ):
            raise RuntimeError(
                f"lifecycle_cow_merge_composite: not copy-on-write {rep}"
            )
        got = store.read("lineitem")
        if got.exceptAll(expect).count() or expect.exceptAll(got).count():
            raise RuntimeError(
                "lifecycle_cow_merge_composite: merge_in diverged from merge_upsert"
            )
        return _materialize(got)
    finally:
        shutil.rmtree(work, ignore_errors=True)


COW_MERGE_COMPOSITE_SQL = """
WITH low AS (
  SELECT l_orderkey, l_linenumber,
         MAX(CAST(l_quantity AS DOUBLE)) AS qty,
         MAX(CAST(l_extendedprice AS DOUBLE)) AS price
  FROM lineitem
  GROUP BY l_orderkey, l_linenumber
  ORDER BY l_orderkey, l_linenumber LIMIT 100
)
SELECT l.l_orderkey, l.l_linenumber,
       CAST(l.l_quantity AS DOUBLE) AS qty,
       CAST(l.l_extendedprice AS DOUBLE) AS price
FROM lineitem l
WHERE NOT EXISTS (SELECT 1 FROM low w
                  WHERE w.l_orderkey = l.l_orderkey
                    AND w.l_linenumber = l.l_linenumber)
UNION ALL
SELECT l_orderkey, l_linenumber,
       qty + CAST(100 AS DOUBLE) AS qty, price
FROM low
UNION ALL
SELECT l_orderkey + 1000000000 AS l_orderkey, l_linenumber, qty, price
FROM low
"""


def lifecycle_cow_delete_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned-layout copy-on-write DELETE under the driver's gate
    (round 9, VERDICT r8 #3): customers land in a TableStore partitioned
    by ``c_mktsegment`` (the reference's tenant-partitioned shape,
    sync_data.py:159-164) with custkey-range-clustered files INSIDE each
    partition dir; the five smallest custkeys are deleted via
    ``delete_in``. Hard invariants: the delete rewrites only the files
    whose custkey range holds a doomed key (fewer than the version
    holds), every untouched PARTITION file is a manifest reference at
    its exact partition-prefixed relative path (checked against both
    versions' manifests), exactly 5 rows die, and the pre-delete version
    stays pinned-readable. Survivors hash against the anti-IN oracle."""
    import os as _os

    cust = T(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
        "c_mktsegment",
    )
    work = tempfile.mkdtemp(prefix="taico_lcg_cowp_")
    try:
        store = TableStore(spark, os.path.join(work, "store"))
        # 4 custkey ranges × 5 segments: each partition dir holds 4 files,
        # each spanning one custkey range — stats can isolate the low range
        store.write(
            "customers",
            cust.repartitionByRange(4, "c_custkey"),
            partition_by=["c_mktsegment"],
        )
        v0 = store._read_meta("customers")["current"]
        n0 = store.read("customers").count()
        doomed = [
            int(r.c_custkey)
            for r in cust.orderBy("c_custkey").limit(5).collect()
        ]
        v1, rep = store.delete_in("customers", "c_custkey", doomed)
        if rep["noop"] or rep["rows_deleted"] != 5:
            raise RuntimeError(
                f"lifecycle_cow_delete_partitioned: wrong delta {rep}"
            )
        if (
            rep["files_rewritten"] >= rep["files_total"]
            or rep["files_linked"] < 1
        ):
            raise RuntimeError(
                f"lifecycle_cow_delete_partitioned: not copy-on-write {rep}"
            )

        d0 = os.path.join(work, "store", "customers", f"v{v0:04d}")
        d1 = os.path.join(work, "store", "customers", f"v{v1:04d}")
        fm0 = store._version_filemap("customers", {"v": v0, "path": d0})
        fm1 = store._version_filemap("customers", {"v": v1, "path": d1})
        shared = {rel for rel, vp in fm1.items() if vp == v0}
        if len(shared) != rep["files_linked"]:
            raise RuntimeError(
                f"lifecycle_cow_delete_partitioned: shared {len(shared)} "
                f"!= {rep['files_linked']}"
            )
        if not all(
            rel in fm0
            and _os.sep in rel
            and _os.path.exists(os.path.join(d0, rel))
            for rel in shared
        ):
            raise RuntimeError(
                "lifecycle_cow_delete_partitioned: a referenced file lost "
                "its partition-prefixed relative path or its physical bytes"
            )
        if store.read("customers", version=v0).count() != n0:
            raise RuntimeError(
                "lifecycle_cow_delete_partitioned: pre-delete version not "
                "pinned-readable"
            )
        return _materialize(store.read("customers"))
    finally:
        shutil.rmtree(work, ignore_errors=True)


COW_DELETE_PARTITIONED_SQL = """
SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS c_acctbal, c_mktsegment
FROM customer
WHERE c_custkey NOT IN
      (SELECT c_custkey FROM customer ORDER BY c_custkey LIMIT 5)
"""


def lifecycle_metadata_delete_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only DELETE under the driver's gate (round 9): customers
    land partitioned by ``c_mktsegment``; a ``delete_where`` pinning the
    BUILDING segment must remove the whole partition WITHOUT reading or
    writing a single data byte — the partition dir-name stats prove every
    row dies, so its files are DROPPED from the new version
    (``files_dropped >= 1``, ``files_rewritten == 0``,
    ``rewrite_output_files == 0``) while every other partition file
    stays a manifest reference to its old version (checked against the
    manifests). Delta's partition-predicate metadata
    DELETE, grading the round-9 ``_stat_dooms`` path end-to-end. The
    pre-delete version stays pinned-readable; survivors hash against the
    ``<>`` oracle."""
    import os as _os

    cust = T(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
        "c_mktsegment",
    )
    work = tempfile.mkdtemp(prefix="taico_lcg_mdd_")
    try:
        store = TableStore(spark, os.path.join(work, "store"))
        store.write(
            "customers",
            cust.repartitionByRange(2, "c_custkey"),
            partition_by=["c_mktsegment"],
        )
        v0 = store._read_meta("customers")["current"]
        n0 = store.read("customers").count()
        n_doomed = store.read("customers").where(
            F.col("c_mktsegment") == "BUILDING"
        ).count()
        v1, rep = store.delete_where(
            "customers", "c_mktsegment", lo="BUILDING", hi="BUILDING"
        )
        if rep["rows_deleted"] != n_doomed or rep["noop"]:
            raise RuntimeError(f"lifecycle_metadata_delete_gate: wrong delta {rep}")
        if (
            rep["files_dropped"] < 1
            or rep["files_rewritten"] != 0
            or rep["rewrite_output_files"] != 0
        ):
            raise RuntimeError(
                f"lifecycle_metadata_delete_gate: not metadata-only {rep}"
            )

        d1 = os.path.join(work, "store", "customers", f"v{v1:04d}")
        fm1 = store._version_filemap("customers", {"v": v1, "path": d1})
        if sum(1 for vp in fm1.values() if vp == v0) != rep["files_linked"]:
            raise RuntimeError(
                "lifecycle_metadata_delete_gate: shared-reference count mismatch"
            )
        # a metadata-only delete must move ZERO bytes: the new version dir
        # physically holds no parquet at all (round 10 — even the survivor
        # files are references, not links)
        if any(
            f.endswith(".parquet")
            for _dp, _dirs, files in _os.walk(d1)
            for f in files
        ):
            raise RuntimeError(
                "lifecycle_metadata_delete_gate: bytes moved on a "
                "metadata-only delete"
            )
        if any("c_mktsegment=BUILDING" in rel for rel in fm1):
            raise RuntimeError(
                "lifecycle_metadata_delete_gate: a doomed partition file survived"
            )
        if store.read("customers", version=v0).count() != n0:
            raise RuntimeError(
                "lifecycle_metadata_delete_gate: pre-delete version not pinned"
            )
        return _materialize(store.read("customers"))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def lifecycle_sharedref_commit_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-by-reference commit ECONOMICS on object-store semantics
    (round 10, VERDICT r9 #1 'Done' criterion): the full COW lifecycle
    runs through ConditionalPutCommit on a request-counting backend, and
    every mutation is proven O(changed files) with 1x data movement:
    untouched files share by reference and rewrite outputs are written
    DIRECTLY under the final version prefix (marker-last), so a COW
    commit performs ZERO parquet COPY requests (the pre-r10 protocol
    server-side-COPYed every untouched file — N-1 requests and the
    table's full size in bytes per commit — and staged-then-copied the
    rewrite outputs on top). Also
    gated: vacuum under references tombstones the still-referenced base
    version (leaves history, keeps the shared bytes), and the surviving
    table hashes against the delete+merge oracle."""
    from ..ops.storage_commit import ConditionalPutCommit, LocalEmulatedBackend

    class _Counting(LocalEmulatedBackend):
        parquet_copies = 0
        parquet_bytes = 0

        def copy(self, src, dst):
            if src.endswith(".parquet"):
                _Counting.parquet_copies += 1
                _Counting.parquet_bytes += os.path.getsize(src)
            super().copy(src, dst)

    cust = T(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", F.col("c_acctbal").cast("double").alias("c_acctbal")
    )
    work = tempfile.mkdtemp(prefix="taico_lcg_sharedref_")
    try:
        backend = _Counting()
        _Counting.parquet_copies = _Counting.parquet_bytes = 0
        store = TableStore(
            spark, os.path.join(work, "store"), commit=ConditionalPutCommit(backend)
        )
        store.write("customers", cust.repartition(4))
        store.optimize_layout("customers", ["c_custkey"], num_files=8)
        v_base = store._read_meta("customers")["current"]
        low = [int(r.c_custkey) for r in cust.orderBy("c_custkey").limit(8).collect()]
        doomed, upd_keys = low[:5], low[5:8]

        _Counting.parquet_copies = _Counting.parquet_bytes = 0
        v1, rep = store.delete_in("customers", "c_custkey", doomed)
        if rep["rows_deleted"] != 5 or rep["files_linked"] < 1:
            raise RuntimeError(f"lifecycle_sharedref_commit_gate: bad delete {rep}")
        if _Counting.parquet_copies != 0:
            raise RuntimeError(
                "lifecycle_sharedref_commit_gate: delete commit copied "
                f"{_Counting.parquet_copies} parquet objects — untouched "
                "files must share by reference and rewrite outputs publish "
                "DIRECT-TO-FINAL (1x movement, zero copies)"
            )

        updates = (
            store.read("customers")
            .where(F.col("c_custkey").isin(upd_keys))
            .withColumn("c_acctbal", F.lit(-1.0))
        )
        _Counting.parquet_copies = 0
        v2, mrep = store.merge_in("customers", updates, "c_custkey")
        if _Counting.parquet_copies != 0:
            raise RuntimeError(
                "lifecycle_sharedref_commit_gate: merge commit copied "
                f"{_Counting.parquet_copies} parquet objects, expected 0 "
                "(direct-to-final publish)"
            )

        # vacuum under references: the base version is still referenced
        # by the current one — it must TOMBSTONE (leave history, keep
        # the shared bytes) and the current version must read complete
        n_now = store.read("customers").count()
        store.vacuum("customers", keep_latest=1)
        hist = [e["v"] for e in store.history("customers")]
        if v_base in hist or v1 in hist:
            raise RuntimeError(
                f"lifecycle_sharedref_commit_gate: vacuum left {hist}"
            )
        if store.read("customers").count() != n_now:
            raise RuntimeError(
                "lifecycle_sharedref_commit_gate: vacuum broke the live set"
            )
        return _materialize(store.read("customers"))
    finally:
        shutil.rmtree(work, ignore_errors=True)


SHAREDREF_COMMIT_SQL = """
WITH low8 AS (SELECT c_custkey FROM customer ORDER BY c_custkey LIMIT 8),
doomed AS (SELECT c_custkey FROM customer ORDER BY c_custkey LIMIT 5)
SELECT c_custkey, c_name,
       CAST(CASE WHEN c_custkey IN (SELECT c_custkey FROM low8)
                  AND c_custkey NOT IN (SELECT c_custkey FROM doomed)
                 THEN -1.0 ELSE c_acctbal END AS DOUBLE) AS c_acctbal
FROM customer
WHERE c_custkey NOT IN (SELECT c_custkey FROM doomed)
"""


METADATA_DELETE_SQL = """
SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS c_acctbal, c_mktsegment
FROM customer
WHERE c_mktsegment <> 'BUILDING'
"""


def lifecycle_chain_evolution_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 11 (VERDICT r10 #2 + #7) under the driver's gate: the COW
    reference-chain budget as an engine POLICY, plus schema evolution on
    the merge fast path. A clustered customer table takes three narrow
    merges (the chain grows one physical generation each) and then an
    ``evolve_schema=True`` merge that ADDS a column while still sharing
    untouched files by reference (files_linked > 0, asserted). The
    fourth commit breaks the ``max_chain_branches=4`` budget, so the
    store compacts INLINE — the chain collapses to one generation
    without any operator action (asserted). The final table — updated
    balances, new ``vip`` column NULL everywhere except the evolved
    batch — hashes against a plain CASE oracle."""
    cust = T(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        F.col("c_acctbal").cast("double").alias("acctbal"),
    )
    mx = cust.agg(F.max("c_custkey")).first()[0]
    # single-key merges at well-separated keyspace positions: each one
    # rewrites only the file its key lives in, so the chain grows exactly
    # one physical generation per merge regardless of scale factor
    k1, k2, k3, ke = mx // 6, mx // 2, 5 * mx // 6, mx // 3
    work = tempfile.mkdtemp(prefix="taico_lcg_chainevo_")
    try:
        store = TableStore(
            spark,
            os.path.join(work, "store"),
            max_chain_branches=4,
            chain_policy="compact",
        )
        store.write("cust", cust.repartition(4))
        store.optimize_layout("cust", ["c_custkey"], num_files=8)

        def batch(pred, bal):
            return store.read("cust").where(pred).withColumn(
                "acctbal", F.lit(bal).cast("double")
            )

        store.merge_in("cust", batch(F.col("c_custkey") == k1, 111.0), "c_custkey")
        store.merge_in("cust", batch(F.col("c_custkey") == k2, 222.0), "c_custkey")
        store.merge_in("cust", batch(F.col("c_custkey") == k3, 333.0), "c_custkey")
        branches_before = store.chain_branches("cust")
        if branches_before != 4:
            raise RuntimeError(
                f"lifecycle_chain_evolution_gate: expected a 4-generation "
                f"chain before the evolving merge, got {branches_before}"
            )
        evolve = batch(
            F.col("c_custkey").between(ke - 2, ke + 2), 444.0
        ).withColumn("vip", F.lit("Y"))
        v4, rep = store.merge_in("cust", evolve, "c_custkey", evolve_schema=True)
        if rep["files_linked"] < 1:
            raise RuntimeError(
                "lifecycle_chain_evolution_gate: the evolving merge left "
                f"the COW fast path {rep}"
            )
        after = store.chain_branches("cust")
        if after != 1:
            raise RuntimeError(
                "lifecycle_chain_evolution_gate: the budget policy did not "
                f"compact the over-budget chain (branches={after})"
            )
        hist = [e["v"] for e in store.history("cust")]
        if v4 not in hist or max(hist) == v4:
            raise RuntimeError(
                "lifecycle_chain_evolution_gate: no inline compact version "
                f"landed after the evolving merge (history={hist})"
            )
        got = store.read("cust")
        if got.columns != ["c_custkey", "c_name", "acctbal", "vip"]:
            raise RuntimeError(
                f"lifecycle_chain_evolution_gate: evolved schema wrong: {got.columns}"
            )
        return _materialize(got)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def lifecycle_schema_alter_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 11: metadata-only ALTER TABLE under the driver's gate. An
    ``add_columns`` commit and a ``drop_columns`` commit must each write
    ONLY manifest + marker (zero data objects — asserted on the version
    directories), reference every base file unchanged, and serve the new
    contract immediately: the added ``note`` column reads NULL except
    where a follow-up merge materialized it, the dropped
    ``c_mktsegment`` vanishes while its bytes stay in the referenced
    files, and the renamed ``acctbal`` -> ``balance`` serves old
    generations through the per-generation column mapping.

    Round 12 extensions: dropping ``note`` and RE-ADDING it with a
    DEFAULT must serve the default everywhere — never the dropped
    bytes still shared in the referenced files (the manifest's retired
    history, ADVICE r11 high), including the rows a pre-drop merge had
    materialized 'vip' into; and ``alter_column_type`` widens
    ``c_custkey`` int -> bigint metadata-only with per-generation casts
    (VERDICT r11 #5). Hashes against a plain projection oracle."""
    import os as _os

    cust = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("int").alias("c_custkey"),
        "c_name",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        "c_mktsegment",
    )
    work = tempfile.mkdtemp(prefix="taico_lcg_alter_")
    try:
        store = TableStore(spark, os.path.join(work, "store"))
        store.write("cust", cust.repartition(4))
        store.optimize_layout("cust", ["c_custkey"], num_files=8)

        v_add = store.add_columns("cust", {"note": "string"})
        d_add = _os.path.join(work, "store", "cust", f"v{v_add:04d}")
        if sorted(_os.listdir(d_add)) != ["_MANIFEST.json", "_SUCCESS"]:
            raise RuntimeError(
                "lifecycle_schema_alter_gate: add_columns moved data: "
                f"{sorted(_os.listdir(d_add))}"
            )
        batch = (
            store.read("cust")
            .where(F.col("c_custkey") <= 20)
            .withColumn("note", F.lit("vip"))
        )
        store.merge_in("cust", batch, "c_custkey")

        v_drop = store.drop_columns("cust", ["c_mktsegment"])
        d_drop = _os.path.join(work, "store", "cust", f"v{v_drop:04d}")
        if sorted(_os.listdir(d_drop)) != ["_MANIFEST.json", "_SUCCESS"]:
            raise RuntimeError(
                "lifecycle_schema_alter_gate: drop_columns moved data: "
                f"{sorted(_os.listdir(d_drop))}"
            )
        v_rn = store.rename_columns("cust", {"acctbal": "balance"})
        d_rn = _os.path.join(work, "store", "cust", f"v{v_rn:04d}")
        if sorted(_os.listdir(d_rn)) != ["_MANIFEST.json", "_SUCCESS"]:
            raise RuntimeError(
                "lifecycle_schema_alter_gate: rename_columns moved data: "
                f"{sorted(_os.listdir(d_rn))}"
            )
        got = store.read("cust")
        if got.columns != ["c_custkey", "c_name", "balance", "note"]:
            raise RuntimeError(
                f"lifecycle_schema_alter_gate: wrong contract {got.columns}"
            )
        # round 12: drop + re-add with DEFAULT — the retired history must
        # serve 'none' for EVERY row, including the keys <= 20 the merge
        # above physically materialized 'vip' into (resurrection bug)
        store.drop_columns("cust", ["note"])
        v_readd = store.add_columns("cust", {"note": ("string", "none")})
        d_readd = _os.path.join(work, "store", "cust", f"v{v_readd:04d}")
        if sorted(_os.listdir(d_readd)) != ["_MANIFEST.json", "_SUCCESS"]:
            raise RuntimeError(
                "lifecycle_schema_alter_gate: add_columns(default) moved "
                f"data: {sorted(_os.listdir(d_readd))}"
            )
        # round 12: type widening, metadata-only, value-identical
        v_widen = store.alter_column_type("cust", {"c_custkey": "bigint"})
        d_widen = _os.path.join(work, "store", "cust", f"v{v_widen:04d}")
        if sorted(_os.listdir(d_widen)) != ["_MANIFEST.json", "_SUCCESS"]:
            raise RuntimeError(
                "lifecycle_schema_alter_gate: alter_column_type moved "
                f"data: {sorted(_os.listdir(d_widen))}"
            )
        got = store.read("cust")
        if dict(got.dtypes)["c_custkey"] != "bigint":
            raise RuntimeError(
                "lifecycle_schema_alter_gate: widen did not take: "
                f"{got.dtypes}"
            )
        return _materialize(got)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def lifecycle_partition_evolution_gate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round 12 (VERDICT r11 #7): Iceberg-style partition evolution under
    the driver's gate. ``alter_partition_spec`` must be a metadata-only
    commit (manifest + marker, zero data objects — asserted on the
    version directory); a COW merge after the change must write its
    rewrite outputs under the NEW spec's directories while the old flat
    generations stay referenced (asserted on the filemap); a
    ``delete_where`` range delete must stay correct across the mixed
    specs (per-generation stats: footer values for pre-evolution files,
    directory values after); and the final read-back hashes against a
    plain SQL oracle expressing the end state."""
    import os as _os

    ord_ = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("total"),
    )
    work = tempfile.mkdtemp(prefix="taico_lcg_partevo_")
    try:
        store = TableStore(spark, os.path.join(work, "store"))
        store.write("ord", ord_.repartition(4))
        store.optimize_layout("ord", ["o_orderkey"], num_files=8)

        v = store.alter_partition_spec("ord", ["o_orderstatus"])
        d = _os.path.join(work, "store", "ord", f"v{v:04d}")
        if sorted(_os.listdir(d)) != ["_MANIFEST.json", "_SUCCESS"]:
            raise RuntimeError(
                "lifecycle_partition_evolution_gate: spec change moved "
                f"data: {sorted(_os.listdir(d))}"
            )
        if store.current_partition_columns("ord") != ["o_orderstatus"]:
            raise RuntimeError(
                "lifecycle_partition_evolution_gate: spec not recorded"
            )
        # single-key merge at the keyspace midpoint (an EXISTING key —
        # TPC-H orderkeys are sparse): the rewrite output must land
        # under the new spec while the flat generations stay referenced
        mx = ord_.agg(F.max("o_orderkey")).first()[0]
        km = (
            ord_.where(F.col("o_orderkey") <= mx // 2)
            .agg(F.max("o_orderkey"))
            .first()[0]
        )
        batch = (
            store.read("ord")
            .where(F.col("o_orderkey") == km)
            .withColumn("total", F.lit(1.5).cast("double"))
        )
        store.merge_in("ord", batch, "o_orderkey")
        entry = next(
            e
            for e in store._read_meta("ord")["versions"]
            if e["v"] == store._read_meta("ord")["current"]
        )
        fm = store._version_filemap("ord", entry)
        new_rels = [r for r, vp in fm.items() if vp == entry["v"]]
        if not new_rels or not all(
            r.startswith("o_orderstatus=") for r in new_rels
        ):
            raise RuntimeError(
                "lifecycle_partition_evolution_gate: rewrite did not land "
                f"under the new spec: {new_rels[:3]}"
            )
        if not any(vp != entry["v"] for vp in fm.values()):
            raise RuntimeError(
                "lifecycle_partition_evolution_gate: old generations were "
                "rewritten, not referenced"
            )
        # range delete across the mixed specs
        store.delete_where("ord", "total", lo=400000.0, hi=None)
        return _materialize(store.read("ord"))
    finally:
        shutil.rmtree(work, ignore_errors=True)


PARTITION_EVOLUTION_SQL = """
WITH km AS (
  SELECT MAX(o_orderkey) AS k FROM orders
  WHERE o_orderkey <= (SELECT MAX(o_orderkey) FROM orders) // 2
)
SELECT o.o_orderkey, o.o_orderstatus,
       CASE WHEN o.o_orderkey = km.k THEN CAST(1.5 AS DOUBLE)
            ELSE CAST(o.o_totalprice AS DOUBLE) END AS total
FROM orders o, km
WHERE CASE WHEN o.o_orderkey = km.k THEN CAST(1.5 AS DOUBLE)
           ELSE CAST(o.o_totalprice AS DOUBLE) END < CAST(400000.0 AS DOUBLE)
"""


SCHEMA_ALTER_SQL = """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
       CAST(c_acctbal AS DOUBLE) AS balance,
       'none' AS note
FROM customer
"""


CHAIN_EVOLUTION_SQL = """
WITH m AS (SELECT CAST(FLOOR(MAX(c_custkey) / 6.0) AS BIGINT) AS k1,
                  CAST(FLOOR(MAX(c_custkey) / 2.0) AS BIGINT) AS k2,
                  CAST(FLOOR(5 * MAX(c_custkey) / 6.0) AS BIGINT) AS k3,
                  CAST(FLOOR(MAX(c_custkey) / 3.0) AS BIGINT) AS ke
           FROM customer)
SELECT c.c_custkey, c.c_name,
       CAST(CASE WHEN c.c_custkey BETWEEN m.ke - 2 AND m.ke + 2 THEN 444.0
                 WHEN c.c_custkey = m.k3 THEN 333.0
                 WHEN c.c_custkey = m.k2 THEN 222.0
                 WHEN c.c_custkey = m.k1 THEN 111.0
                 ELSE c.c_acctbal END AS DOUBLE) AS acctbal,
       CASE WHEN c.c_custkey BETWEEN m.ke - 2 AND m.ke + 2 THEN 'Y'
            ELSE NULL END AS vip
FROM customer c, m
"""


def lifecycle_clone_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round 12: shallow clone under the driver's gate (Delta ``CREATE
    TABLE ... SHALLOW CLONE`` analog; the reference's staging copies are
    full re-syncs — include/scripts/sync_data.py — so zero-copy cloning
    is strictly stronger surface). Asserted in-entry: the clone is
    ZERO-COPY (no parquet object under its tree, O(1) objects written at
    any size); mutations are INDEPENDENT both ways (a merge on the clone
    never leaks to the source, a range delete on the source never leaks
    to the clone); source vacuum REFERENCE-COUNTS across the dependency
    (the dry run announces tombstoning — unlike Delta, where VACUUM on
    the source silently breaks shallow clones) and the clone reads
    identically afterwards. The hashed result is the clone's final
    state, which the oracle derives from the raw table."""
    import glob as _glob

    part = T(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.col("p_retailprice").cast("double").alias("price"),
    )
    work = tempfile.mkdtemp(prefix="taico_lcg_clone_")
    try:
        store = TableStore(spark, os.path.join(work, "store"))
        store.write("p", part.repartition(4))
        store.optimize_layout("p", ["p_partkey"], num_files=8)
        # a defaulted add BEFORE the clone: the annotation must ride the
        # clone's manifest so referenced pre-add generations back-fill
        store.add_columns("p", {"note": ("string", "none")})

        rep = store.clone("p", "p2")
        if rep["files"] == 0:
            raise RuntimeError("lifecycle_clone_gate: empty clone")
        own = _glob.glob(
            os.path.join(work, "store", "p2", "**", "*.parquet"),
            recursive=True,
        )
        if own:
            raise RuntimeError(
                f"lifecycle_clone_gate: clone moved data: {own[:3]}"
            )
        # single-key merge ON THE CLONE at the keyspace midpoint (an
        # existing key, layout-independent at every SF)
        mx = part.agg(F.max("p_partkey")).first()[0]
        km = (
            part.where(F.col("p_partkey") <= mx // 2)
            .agg(F.max("p_partkey"))
            .first()[0]
        )
        batch = (
            store.read("p2")
            .where(F.col("p_partkey") == km)
            .withColumn("price", F.lit(1.5).cast("double"))
            .withColumn("note", F.lit("clone"))
        )
        store.merge_in("p2", batch, "p_partkey")
        if store.read("p").where(F.col("p_partkey") == km).first()["note"] != "none":
            raise RuntimeError(
                "lifecycle_clone_gate: clone merge leaked into the source"
            )
        # source-side mutation + materialization, then vacuum: the old
        # source generations are now pinned ONLY by the clone — the
        # refcount must tombstone them, and the clone must read on
        store.delete_where("p", "price", lo=1000.0, hi=None)
        store.compact("p")
        plan = store.vacuum(
            "p", keep_latest=1, stage_ttl_seconds=3600.0, dry_run=True
        )
        if not plan["tombstoned"]:
            raise RuntimeError(
                "lifecycle_clone_gate: source vacuum plan does not pin "
                f"the clone's references: {plan}"
            )
        store.vacuum("p", keep_latest=1, stage_ttl_seconds=3600.0)
        if store.read("p").where(F.col("price") >= 1000.0).count() != 0:
            raise RuntimeError("lifecycle_clone_gate: source delete lost")
        return _materialize(store.read("p2"))
    finally:
        shutil.rmtree(work, ignore_errors=True)


CLONE_GATE_SQL = """
WITH km AS (
  SELECT MAX(p_partkey) AS k FROM part
  WHERE p_partkey <= (SELECT MAX(p_partkey) FROM part) // 2
)
SELECT p.p_partkey, p.p_name,
       CASE WHEN p.p_partkey = km.k THEN CAST(1.5 AS DOUBLE)
            ELSE CAST(p.p_retailprice AS DOUBLE) END AS price,
       CASE WHEN p.p_partkey = km.k THEN 'clone' ELSE 'none' END AS note
FROM part p, km
"""


QUERIES = {
    "lifecycle_clone_gate": lifecycle_clone_gate,
    "lifecycle_copy_on_write_delete": lifecycle_copy_on_write_delete,
    "lifecycle_cow_merge": lifecycle_cow_merge,
    "lifecycle_cow_merge_composite": lifecycle_cow_merge_composite,
    "lifecycle_cow_delete_partitioned": lifecycle_cow_delete_partitioned,
    "lifecycle_metadata_delete_gate": lifecycle_metadata_delete_gate,
    "lifecycle_sharedref_commit_gate": lifecycle_sharedref_commit_gate,
    "lifecycle_chain_evolution_gate": lifecycle_chain_evolution_gate,
    "lifecycle_schema_alter_gate": lifecycle_schema_alter_gate,
    "lifecycle_partition_evolution_gate": lifecycle_partition_evolution_gate,
    "lifecycle_delete_where": lifecycle_delete_where,
    "lifecycle_tablestore_promote": lifecycle_tablestore_promote,
    "lifecycle_sqlwarehouse_promote": lifecycle_sqlwarehouse_promote,
    "sink_csv_roundtrip": sink_csv_roundtrip,
    "sink_json_roundtrip": sink_json_roundtrip,
    "sink_jdbc_roundtrip": sink_jdbc_roundtrip,
    "lifecycle_partitioned_overwrite": lifecycle_partitioned_overwrite,
    "lifecycle_skipping_gate": lifecycle_skipping_gate,
    "lifecycle_cdc_gate": lifecycle_cdc_gate,
    "lifecycle_timetravel_gate": lifecycle_timetravel_gate,
    "hll_distinct_rollup_gate": hll_distinct_rollup_gate,
}

ORACLE = {
    "lifecycle_clone_gate": CLONE_GATE_SQL,
    "lifecycle_copy_on_write_delete": COW_DELETE_SQL,
    "lifecycle_cow_merge": COW_MERGE_SQL,
    "lifecycle_cow_merge_composite": COW_MERGE_COMPOSITE_SQL,
    "lifecycle_cow_delete_partitioned": COW_DELETE_PARTITIONED_SQL,
    "lifecycle_metadata_delete_gate": METADATA_DELETE_SQL,
    "lifecycle_sharedref_commit_gate": SHAREDREF_COMMIT_SQL,
    "lifecycle_chain_evolution_gate": CHAIN_EVOLUTION_SQL,
    "lifecycle_schema_alter_gate": SCHEMA_ALTER_SQL,
    "lifecycle_partition_evolution_gate": PARTITION_EVOLUTION_SQL,
    "lifecycle_delete_where": DELETE_WHERE_SQL,
    "lifecycle_tablestore_promote": TABLESTORE_PROMOTE_SQL,
    "lifecycle_sqlwarehouse_promote": SQLWAREHOUSE_PROMOTE_SQL,
    "sink_csv_roundtrip": CSV_ROUNDTRIP_SQL,
    "sink_json_roundtrip": JSON_ROUNDTRIP_SQL,
    "sink_jdbc_roundtrip": JDBC_ROUNDTRIP_SQL,
    "lifecycle_partitioned_overwrite": PARTITIONED_OVERWRITE_SQL,
    "lifecycle_skipping_gate": SKIPPING_GATE_SQL,
    "lifecycle_cdc_gate": CDC_GATE_SQL,
    "lifecycle_timetravel_gate": TIMETRAVEL_GATE_SQL,
    "hll_distinct_rollup_gate": HLL_ROLLUP_GATE_SQL,
}
