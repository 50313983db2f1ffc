"""Source registry: table name -> DataFrame.

The reference's sources are BigQuery datasets, Postgres tables, CSV files,
Google Sheets and Airbyte connector outputs (SURVEY.md §2.1 S1-S16). Our
engine abstracts them behind a registry keyed by table name; the test
fixtures are the driver's parquet tables (TESTDATA.md). For real deployments
the same registry returns `spark.read.format("bigquery")` / `.jdbc(...)`
frames — the downstream operator code is identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


RUNTIME_CONFS = {
    # The driver smoke/correctness runs may hand us a vanilla SparkSession;
    # these are runtime-settable and required for semantic parity:
    # - nanosAsLong: events carries TIMESTAMP(NANOS) parquet Spark rejects
    # - ansi off: NULL-on-garbage casts (oracle uses TRY_CAST)
    # - UTC: timestamp rendering parity with the DuckDB oracle
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    # WITH RECURSIVE safety valve: Spark 4 aborts recursive CTEs at 1M total
    # rows by default — an order-chain closure over sf1's 1.5M orders trips
    # it (caught by the sf1 sweep, round 4). The level limit (100) stays as
    # the runaway guard; the row limit scales with data, not with bugs.
    "spark.sql.cteRecursionRowLimit": "1000000000",
    # Write timestamps as TIMESTAMP(MICROS), not the deprecated INT96:
    # INT96 columns get NO parquet min/max statistics, which silently
    # disables timestamp data skipping (TableStore.read_pruned) and
    # row-group pushdown for every engine reading our output.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


# Sessions already ensured, keyed by the py4j session object id. A session
# only needs the fix-up once: nothing in the engine or the driver toggles
# these confs mid-run (verified: only session.py sets them, at build time),
# and every load_table call was paying len(RUNTIME_CONFS) py4j conf-gets.
# WeakSet so a torn-down session does not pin the wrapper object.
import weakref

_confs_ensured: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def ensure_runtime_confs(spark: SparkSession) -> None:
    if spark in _confs_ensured:
        return
    ok = True
    for k, v in RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            ok = False
    # memoize only a clean pass: a failed set is retried on the next load
    if ok:
        _confs_ensured.add(spark)


def normalize_event_ts(df: DataFrame, col: str = "ts", dtype: str | None = None) -> DataFrame:
    """Normalize the events timestamp to TIMESTAMP (LTZ) whatever physical
    type the fixture generation produced:
    - bigint: TIMESTAMP(NANOS) parquet read under nanosAsLong — truncate to
      micros, the same semantics as DuckDB casting TIMESTAMP_NS -> TIMESTAMP;
    - timestamp_ntz: TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet under
      Spark 4's NTZ inference — reinterpret as an instant (sessions run UTC,
      so the wall clock is unchanged and oracle parity holds);
    - timestamp: already the canonical type.
    LTZ is required downstream by withWatermark / unix_* and keeps batch and
    streaming reads of the same fixture type-identical."""
    from pyspark.sql import functions as F

    # dtype hint avoids the per-call py4j schema fetch when the caller
    # already holds the (cached) schema — df.dtypes costs ~20 ms per load.
    t = dtype if dtype is not None else dict(df.dtypes).get(col)
    if t == "bigint":
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    elif t == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# --- small-input scan fan-out (guide §2.5 "input skew") -------------------
#
# A parquet file is splittable only at row-group boundaries, so a table
# written as one file with one row group scans as ONE task no matter how many
# cores the cluster has — and every narrow transform stacked on that scan
# (surrogate-key md5s, tokenization, HOF dot products) runs single-threaded.
# The classic fix is an explicit repartition right after the read, but it
# only pays where per-row compute is HEAVY: an interleaved A/B over all 34
# headline queries (5 passes each, same session) measured blanket-on at
# 48.1 s vs 35.2 s off — cheap aggregation queries lose more to the extra
# exchange + 32-task scheduling than they gain in map parallelism, while the
# expression-heavy ones win big (embedding_neardup 1.35->0.51 s,
# retail_fct_invoices 2.85->2.12 s, text_langid 0.89->0.48 s). So fan-out is
# OPT-IN per call site (``load_table(..., fan_out=True)``) and additionally
# guarded to small inputs: few files AND total bytes under
# (defaultParallelism x maxPartitionBytes) — i.e. exactly the inputs whose
# native split count cannot reach the cluster's parallelism. On a real
# multi-file/multi-row-group table the guard short-circuits on file count
# and the scan is untouched. Kill switch: SPARK_GRAFT_SMALL_SCAN_REPARTITION=0.

_SCAN_PARALLELIZE_MIN_BYTES = 256 * 1024  # below this, single-task compute is trivial

def _mtime_memo(cache: dict, path: str, compute):
    """Path-keyed metadata memo: ``cache[path] = (mtime, value)``, with
    ``compute(local_path)`` re-run and the entry OVERWRITTEN when the
    path's mtime changes — a fixture rewritten at the same path within one
    process re-derives (ADVICE r12 #3: stale scan stats could silently flip
    the fan-out decision in long-lived sessions) and the stale entry is
    dropped, not leaked. The mtime is the TOP-LEVEL one: parquet writers
    create/delete files directly in a table dir, which touches it, but an
    in-place rewrite of a SUBDIRECTORY (a partition dir) does not, and
    keeps serving the old value. None, uncached, when the path is not
    local-filesystem-resolvable."""
    p = path[7:] if path.startswith("file://") else path
    try:
        mtime = os.stat(p).st_mtime_ns
    except OSError:
        return None
    hit = cache.get(path)
    if hit is None or hit[0] != mtime:
        hit = cache[path] = (mtime, compute(p))
    return hit[1]


_scan_stats_cache: dict[str, tuple[int, tuple[int, int] | None]] = {}


def _scan_stats(p: str) -> tuple[int, int] | None:
    try:
        if os.path.isfile(p):
            return (1, os.path.getsize(p))
        if os.path.isdir(p):
            files = [
                os.path.join(root, f)
                for root, _dirs, fs in os.walk(p)
                for f in fs
                if not f.startswith((".", "_"))
            ]
            return (len(files), sum(os.path.getsize(f) for f in files))
    except OSError:
        pass
    return None


def _local_scan_stats(path: str) -> tuple[int, int] | None:
    """(n_files, total_bytes) for a local parquet file/dir; None when the
    path is not local-filesystem-resolvable (object stores: stay untouched,
    those deployments size their files at write time)."""
    return _mtime_memo(_scan_stats_cache, path, _scan_stats)


def _maybe_parallelize_scan(
    spark: SparkSession, df: DataFrame, path: str, key_cols: tuple[str, ...] | None = None
) -> DataFrame:
    if os.environ.get("SPARK_GRAFT_SMALL_SCAN_REPARTITION", "1") == "0":
        return df
    par = spark.sparkContext.defaultParallelism
    stats = _local_scan_stats(path)
    if stats is None:
        return df
    n_files, total_bytes = stats
    if n_files >= par or total_bytes < _SCAN_PARALLELIZE_MIN_BYTES:
        return df
    try:
        max_split = int(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728").rstrip("b"))
    except (ValueError, AttributeError):
        max_split = 128 * 1024 * 1024
    if total_bytes > par * max_split:
        return df  # native splits already reach full parallelism
    # Hash-partition on a deterministic content hash rather than round-robin:
    # keyless repartition(n) pays a local sort of the map side (sort-before-
    # repartition, needed for deterministic retries) which serializes in the
    # single scan task this helper exists to relieve; a deterministic hash
    # needs no sort and is retry-stable (guide §2.5: never derive a synthetic
    # key from rand()). Measured: retail invoice synthesis 2.0 s (round-
    # robin) -> 1.4 s (hash). Hash the caller-named KEY columns, not every
    # column: an all-column hash references the full schema and silently
    # disables column pruning for every downstream branch (measured on the
    # fb narrow-key mint: the one-column id pipeline re-read all 12 events
    # columns, +0.6 s).
    keys = key_cols or tuple(df.columns)
    return df.repartition(par, F.xxhash64(*[F.col(c) for c in keys]))


# unique-ish key per fixture table, used for the fan-out partitioner so
# downstream column pruning survives (hash only references the key)
_FAN_OUT_KEYS: dict[str, tuple[str, ...]] = {
    "lineitem": ("l_orderkey", "l_linenumber"),
    "orders": ("o_orderkey",),
    "customer": ("c_custkey",),
    "part": ("p_partkey",),
    "supplier": ("s_suppkey",),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


# Schema cache for repeated loads of the same path (see _mtime_memo): plain
# spark.read.parquet() re-infers the schema on EVERY call (footer read +
# file-index setup, measured 0.10-0.17 s per call on the driver even for a
# 4-row nation table), and a bench pass loads fixture tables dozens of
# times. Passing the once-inferred schema back via read.schema(...) skips
# inference (0.02 s) while still returning a FRESH relation per call (new
# attribute ids — no self-join ambiguity, unlike caching the DataFrame
# handle). This caches metadata only, exactly what a catalog/metastore
# does — every query still scans the parquet data. A fixture rewritten at
# the same path re-infers; a non-local path returns None and the reader
# infers.
_schema_cache: dict[str, tuple[int, object]] = {}


def _cached_schema(spark: SparkSession, path: str):
    return _mtime_memo(
        _schema_cache, path, lambda _p: spark.read.parquet(path).schema
    )


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool = False
) -> DataFrame:
    """Parquet scan. Filters/projections applied by callers reach the scan
    via Catalyst pushdown (verified in tests/test_plans.py — pushdown and
    pruning traverse the conditional small-input repartition).

    ``fan_out=True`` opts in to the small-input repartition above — use it
    ONLY where the per-row compute stacked on the scan is heavy enough to
    amortize an extra exchange (see the A/B numbers at the helper)."""
    ensure_runtime_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    sch = _cached_schema(spark, path)
    df = spark.read.schema(sch).parquet(path) if sch is not None else spark.read.parquet(path)
    if name == "events":
        hint = None
        if sch is not None:
            hints = [f.dataType.simpleString() for f in sch.fields if f.name == "ts"]
            hint = hints[0] if hints else None
        df = normalize_event_ts(df, dtype=hint)
    if fan_out:
        df = _maybe_parallelize_scan(spark, df, path, _FAN_OUT_KEYS.get(name))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in FIXTURE_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each fixture table as a temp view so spark.sql(...) works."""
    tables = load_all(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
