"""Source/sink surface tests (SURVEY.md §2.1): CSV/JSON/parquet roundtrips
preserve schema and content; SQL-string IR runs over registered views."""

from __future__ import annotations

from pyspark.sql import functions as F

from taico_data_integration_spark.catalog import load_table, register_views
from taico_data_integration_spark.sources import (
    fixture_source,
    read_csv,
    read_json,
    sql_source,
    write_csv,
    write_json,
    write_parquet,
)

SF_DIR = "/root/testdata/sf0.001"


def test_csv_roundtrip_with_schema(spark, tmp_path):
    nation = fixture_source(spark, SF_DIR, "nation")
    path = str(tmp_path / "nation_csv")
    write_csv(nation, path)
    back = read_csv(spark, path, schema=nation.schema)
    assert back.schema == nation.schema
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in nation.collect()}


def test_json_roundtrip(spark, tmp_path):
    region = fixture_source(spark, SF_DIR, "region")
    path = str(tmp_path / "region_json")
    write_json(region, path)
    back = read_json(spark, path, schema=region.schema)
    assert {r.r_name for r in back.collect()} == {r.r_name for r in region.collect()}


def test_partitioned_parquet_sink_prunes(spark, tmp_path):
    orders = fixture_source(spark, SF_DIR, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_part")
    write_parquet(orders, path, partition_by=["order_year"])
    back = spark.read.parquet(path).where(F.col("order_year") == 1998)
    # partition pruning: only the 1998 directory is in the scan
    plan = back._sc._jvm.PythonSQLUtils.explainString(back._jdf.queryExecution(), "formatted")
    assert back.count() == orders.where("year(o_orderdate) = 1998").count()
    assert "PartitionFilters" in plan


def test_sql_source_runs_reference_style_strings(spark):
    register_views(spark, SF_DIR)
    # P1-style extraction SQL, verbatim shape from sync_data.py:206-218
    df = sql_source(spark, "SELECT DISTINCT c_mktsegment AS name FROM customer WHERE c_mktsegment IS NOT NULL")
    assert df.count() == 5


def test_orc_roundtrip(spark, tmp_path):
    from taico_data_integration_spark.sources import read_orc, write_orc

    nation = fixture_source(spark, SF_DIR, "nation")
    path = str(tmp_path / "nation_orc")
    write_orc(nation, path)
    back = read_orc(spark, path)
    assert back.schema == nation.schema
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in nation.collect()}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_jdbc_roundtrip_derby_with_pushdown(spark, tmp_path):
    """S6-S8 end-to-end against a real RDBMS: Apache Derby (embedded, ships
    inside Spark's own jars — no external driver needed). Covers the write
    path (set-based df.write.jdbc, the reference's per-row INSERT loop
    rewrite: sync_data.py:250-252), the tenant-filtered read path
    (dags/etl.py:74-76), filter pushdown into the JDBC scan, and
    predicate-partitioned parallel reads."""
    from pyspark.sql import Row

    from taico_data_integration_spark.sources import jdbc_sink, jdbc_source

    spark._jvm.System.setProperty("derby.system.home", str(tmp_path))
    url = f"jdbc:derby:{tmp_path}/testdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    df = spark.createDataFrame(
        [Row(id=i, company_id=i % 3, amount=float(i)) for i in range(30)]
    )
    jdbc_sink(df, url, "items", mode="append", properties=props)

    # full readback
    back = jdbc_source(spark, url, "items", properties=props)
    assert back.count() == 30
    assert {r.id for r in back.collect()} == set(range(30))

    # tenant filter is PUSHED into the JDBC scan, not applied post-read
    tenant = back.where(back.company_id == 1)
    assert tenant.count() == 10
    plan = _plan(tenant)
    assert "PushedFilters" in plan and "company_id" in plan

    # predicate partitioning: each predicate becomes one parallel read
    parts = jdbc_source(
        spark, url, "items",
        # quoted: Derby folds unquoted identifiers to upper case
        predicates=['"company_id" = 0', '"company_id" = 1', '"company_id" = 2'],
        properties=props,
    )
    assert parts.rdd.getNumPartitions() == 3
    assert parts.count() == 30


def test_normalize_event_ts_all_physical_types(spark, tmp_path):
    """catalog.normalize_event_ts canonicalizes every fixture generation's
    ts physical type — epoch-nanos bigint, TIMESTAMP_NTZ, TIMESTAMP — to the
    same LTZ instants (UTC session)."""
    import datetime

    from pyspark.sql import functions as F

    from taico_data_integration_spark.catalog import normalize_event_ts

    wall = [
        datetime.datetime(2024, 3, 1, 12, 30, 45, 123456),
        datetime.datetime(2024, 3, 2, 0, 0, 0, 0),
    ]
    # bigint epoch-nanos
    nanos = [int(w.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000) * 1000 for w in wall]
    df_big = spark.createDataFrame([(n,) for n in nanos], "ts bigint")
    # NTZ and LTZ
    df_ntz = spark.createDataFrame([(w,) for w in wall], "ts timestamp_ntz")
    df_ltz = spark.createDataFrame([(w,) for w in wall], "ts timestamp")
    outs = []
    for df in (df_big, df_ntz, df_ltz):
        out = normalize_event_ts(df)
        assert dict(out.dtypes)["ts"] == "timestamp"
        outs.append(sorted(r.ts for r in out.collect()))
    assert outs[0] == outs[1] == outs[2] == sorted(wall)


def test_tenant_partition_pruning_and_scoped_swap(spark, tmp_path):
    """SURVEY §1.1 multi-tenancy / VERDICT r3 #7: with company_id-partitioned
    storage (ref dags/etl.py:75 tenant scoping), a tenant-scoped read must
    prune to that tenant's partition directory, and the tenant-scoped swap
    (dynamic partition overwrite, M4/M8) must rewrite ONLY that tenant's
    files — every other tenant's files stay byte-identical on disk."""
    import glob
    import os

    from taico_data_integration_spark.ops.incremental import PartitionedTable

    cust = fixture_source(spark, SF_DIR, "customer").withColumn(
        "company_id", (F.col("c_custkey") % 4).cast("int")
    )
    root = str(tmp_path / "cust_by_company")
    pt = PartitionedTable(spark, root, ["company_id"])
    pt.write_full(cust)

    scoped = pt.read().where(F.col("company_id") == 2)
    plan = scoped._sc._jvm.PythonSQLUtils.explainString(
        scoped._jdf.queryExecution(), "formatted"
    )
    # the tenant predicate must land in PartitionFilters (directory pruning),
    # not in the data filters
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "company_id" in pf, plan
    assert scoped.count() == cust.where("c_custkey % 4 = 2").count()

    def files(c):
        return {
            f: os.path.getmtime(f)
            for f in glob.glob(os.path.join(root, f"company_id={c}", "*.parquet"))
        }

    before = {c: files(c) for c in range(4)}
    patched = cust.where(F.col("company_id") == 2).withColumn(
        "c_acctbal", F.col("c_acctbal") + F.lit(1000.0)
    )
    pt.overwrite_partitions(patched)
    # other tenants' files untouched (same paths, same mtimes)...
    for c in (0, 1, 3):
        assert files(c) == before[c]
    # ...while tenant 2 was rewritten and carries the new balances
    assert set(files(2)) != set(before[2]) or files(2) != before[2]
    got = pt.read().where("company_id = 2").agg(F.min("c_acctbal")).collect()[0][0]
    want = (
        cust.where("company_id = 2").agg(F.min("c_acctbal")).collect()[0][0] + 1000.0
    )
    assert abs(got - want) < 1e-9


def test_runtime_conf_memo_retries_after_a_failed_set(spark, monkeypatch):
    """A session is memoized as conf-ensured only when every conf.set
    succeeded: a set that raised is retried on the next load_table."""
    from pyspark.sql.conf import RuntimeConfig

    from taico_data_integration_spark import catalog

    calls = []

    def flaky_set(self, key, value):
        calls.append(key)
        if len(calls) == 1:
            raise RuntimeError("transient conf failure")

    catalog._confs_ensured.discard(spark)
    monkeypatch.setattr(RuntimeConfig, "get", lambda self, key, default=None: None)
    monkeypatch.setattr(RuntimeConfig, "set", flaky_set)
    load_table(spark, SF_DIR, "nation")
    assert spark not in catalog._confs_ensured
    n_first = len(calls)
    load_table(spark, SF_DIR, "nation")
    assert len(calls) == 2 * n_first  # every conf retried
    assert spark in catalog._confs_ensured
    load_table(spark, SF_DIR, "nation")
    assert len(calls) == 2 * n_first  # memoized after a clean pass


def test_path_metadata_memos_hold_one_entry_per_path(spark, tmp_path):
    """The scan-stats and schema memos are keyed by path alone: a rewrite
    at the same path (new mtime) overwrites the entry instead of leaking
    one per generation, and the new generation is what they serve."""
    import os

    from taico_data_integration_spark import catalog

    path = str(tmp_path / "t.parquet")
    for gen in range(3):  # the first write plus two rewrites
        spark.range(0, 10 + gen).selectExpr(f"id AS c{gen}").write.mode(
            "overwrite"
        ).parquet(path)
        os.utime(path, ns=(10**18 + gen, 10**18 + gen))
        stats = catalog._local_scan_stats(path)
        schema = catalog._cached_schema(spark, path)
        assert stats is not None and stats[0] >= 1
        assert schema.names == [f"c{gen}"]
    for cache in (catalog._scan_stats_cache, catalog._schema_cache):
        entries = [k for k in cache if path in (k if isinstance(k, tuple) else (k,))]
        assert len(entries) == 1, entries
