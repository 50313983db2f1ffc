"""Driver-gated streaming entries (VERDICT r2 #6, extended per VERDICT r3 #6).

The streaming operators were pytest-verified against batch twins but absent
from the oracle gate (DuckDB cannot run a stream). These entries close that
gap: each one executes a REAL Structured Streaming job (availableNow
trigger, bounded replay of the fixture) through the exact code paths in
``taico_data_integration_spark.streaming`` and returns the materialized
result, which the driver hash-compares against the same ANSI-SQL oracle as
the batch twin. The streaming plan, watermarking, memory/parquet/
foreachBatch sinks, checkpoint handling and the stateful
applyInPandasWithState operator all run under the correctness gate — not
just in unit tests.

Determinism notes:
- ``stream_tumbling_events`` runs in complete mode over one bounded replay,
  so the watermark never drops rows and the result equals the batch window
  aggregation bit-for-bit.
- ``stream_merge_orders`` replays two micro-batches (base load, then the
  update slice) through the SAME checkpoint — the second availableNow run
  picks up only the new file, exercising checkpoint recovery — and merges
  each batch into a versioned TableStore via foreachBatch (M5 streaming
  form). Batch order is deterministic by construction (the update file does
  not exist during the first run).
- ``stream_dedup_events`` projects only the dedup keys: WHICH physical row
  survives a streaming dropDuplicates depends on arrival order, but the
  surviving key set does not.
- ``stream_sessionize_events`` drives the applyInPandasWithState session
  operator with an event-time timeout: sessions only emit when the
  WATERMARK passes their close, so the replay appends two far-future
  sentinel batches (one excluded user) across three availableNow runs of
  one checkpoint — run 2 advances the watermark past most sessions, run 3
  past all of them — and the emitted session set then equals the batch
  window-function twin exactly.
- ``stream_interval_join_events`` is a watermarked stream-stream self-join
  (purchases matched to same-user clicks within the preceding hour). Inner
  joins emit matches eagerly (the watermark only bounds state), so a single
  bounded replay yields the full join.

Hygiene: every entry materializes its result with ``localCheckpoint`` and
then removes its temp working dir / memory-sink table in ``finally`` — gated
runs leave nothing behind in /tmp or the session catalog.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.incremental_stream import (
    run_to_memory,
    stream_events,
    stream_merge_into,
    tumbling_counts,
)
from ._util import T


def _mem_name(prefix: str) -> str:
    return f"{prefix}_{uuid.uuid4().hex[:10]}"


def _drain_memory_table(spark: SparkSession, name: str, cols: list[str] | None = None) -> DataFrame:
    """Materialize a memory-sink table and drop it from the session catalog
    so gated runs don't accumulate uuid-named tables."""
    df = spark.table(name)
    if cols:
        df = df.select(*cols)
    out = df.localCheckpoint()
    spark.catalog.dropTempView(name)
    return out


def _deliver(work: str, arrivals: str, df: DataFrame, label: str) -> None:
    """Land df's parquet files FLAT in the arrivals dir (the file stream
    source does not recurse into non-partition subdirectories)."""
    staging = os.path.join(work, f"stage_{label}")
    df.write.parquet(staging)
    for i, f_ in enumerate(sorted(glob.glob(os.path.join(staging, "*.parquet")))):
        shutil.move(f_, os.path.join(arrivals, f"{label}_{i:04d}.parquet"))
    shutil.rmtree(staging)


def stream_tumbling_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of queries.core.tumbling_events, executed as a real
    watermarked streaming aggregation (incremental_stream.tumbling_counts)
    into a memory sink."""
    name = _mem_name("stream_tumbling")
    run_to_memory(tumbling_counts(stream_events(spark, sf_dir)), name, output_mode="complete")
    return _drain_memory_table(spark, name)


def stream_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming M5: foreachBatch merge replayed over two micro-batches ==
    the merge_upsert_orders oracle. Micro-batch 1 loads the base orders,
    micro-batch 2 (a second availableNow run on the same checkpoint) merges
    the repriced 1999+ slice on o_orderkey via streaming.stream_merge_into."""
    from ..ops.incremental import TableStore

    o = T(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    base = o.where(F.col("o_orderdate") < F.to_timestamp(F.lit("2000-01-01"))).select(*cols)
    updates = (
        o.where(F.col("o_orderdate") >= F.to_timestamp(F.lit("1999-01-01")))
        .withColumn("o_totalprice", F.col("o_totalprice") * F.lit(1.1).cast("double"))
        .select(*cols)
    )

    work = tempfile.mkdtemp(prefix="taico_stream_merge_")
    try:
        arrivals = os.path.join(work, "arrivals")
        ckpt = os.path.join(work, "ckpt")
        os.makedirs(arrivals)
        store = TableStore(spark, os.path.join(work, "store"))

        def _run_pass() -> None:
            stream = (
                spark.readStream.schema(base.schema).format("parquet").load(arrivals)
            )
            stream_merge_into(stream, store, "orders_merged", ["o_orderkey"], ckpt)

        _deliver(work, arrivals, base, "batch0")
        _run_pass()
        _deliver(work, arrivals, updates, "batch1")
        _run_pass()
        # two micro-batches -> two versions in the store (base load + merge);
        # a hard check (not assert) so -O runs still validate the replay shape
        n_versions = len(store.history("orders_merged"))
        if n_versions != 2:
            raise RuntimeError(
                f"stream_merge_orders: expected 2 micro-batch versions, got {n_versions}"
            )
        return store.read("orders_merged").localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)


def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates (streaming.joins.stream_dedup) over the
    events replay; the surviving (user_id, event_type) key set equals
    batch DISTINCT."""
    from ..streaming.joins import stream_dedup

    name = _mem_name("stream_dedup")
    out = stream_dedup(stream_events(spark, sf_dir), ["user_id", "event_type"])
    run_to_memory(out, name, output_mode="append")
    return _drain_memory_table(spark, name, ["user_id", "event_type"])


def stream_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator under the gate: session windows
    via applyInPandasWithState (streaming.stateful.sessionize_stream,
    30-minute gap, 2-hour watermark) replayed bounded into a parquet sink.

    Event-time-timeout mechanics force a multi-run replay: a session emits
    only in a micro-batch that starts AFTER the watermark passed its
    close + gap. Run 1 processes all real events (watermark still 0, state
    built). Runs 2 and 3 each deliver one sentinel event for user -1 at
    +10/+20 days, on the same checkpoint: run 2 starts with the watermark
    at max(real ts) - 2h (flushes all but the trailing sessions), run 3
    starts with it at +10d - 2h (flushes the rest). The sentinel user keeps
    its own session open forever and is filtered out of the result."""
    from ..streaming.stateful import sessionize_stream

    ev = T(spark, sf_dir, "events").select("user_id", "ts")
    work = tempfile.mkdtemp(prefix="taico_stream_sess_")
    try:
        arrivals = os.path.join(work, "arrivals")
        ckpt = os.path.join(work, "ckpt")
        outdir = os.path.join(work, "out")
        os.makedirs(arrivals)

        def _run_pass() -> None:
            stream = spark.readStream.schema(ev.schema).format("parquet").load(arrivals)
            q = (
                sessionize_stream(stream, gap_seconds=1800, watermark="2 hours")
                .writeStream.format("parquet")
                .option("path", outdir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        _deliver(work, arrivals, ev, "batch0")
        _run_pass()
        for days, label in ((10, "flush1"), (20, "flush2")):
            sentinel = ev.agg(
                (F.max("ts") + F.expr(f"INTERVAL {days} DAYS")).alias("ts")
            ).select(F.lit(-1).cast("bigint").alias("user_id"), "ts")
            _deliver(work, arrivals, sentinel, label)
            _run_pass()

        out = (
            spark.read.parquet(outdir)
            .where(F.col("user_id") >= 0)
            .select(
                "user_id",
                F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
                F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
                "n_events",
            )
        )
        return out.localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)


def stream_interval_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join under the gate
    (streaming.joins.interval_join): purchases joined to same-user clicks
    in the preceding hour, both sides filtered off one bounded file-stream
    replay. Inner-join matches emit eagerly, so one availableNow pass
    yields the complete pair set; timestamps are formatted to seconds for
    hash stability."""
    from ..streaming.joins import interval_join

    ev = T(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "ts")
    work = tempfile.mkdtemp(prefix="taico_stream_ivj_")
    name = _mem_name("stream_ivj")
    try:
        arrivals = os.path.join(work, "arrivals")
        os.makedirs(arrivals)
        _deliver(work, arrivals, ev, "batch0")
        stream = spark.readStream.schema(ev.schema).format("parquet").load(arrivals)
        purchases = stream.where(F.col("event_type") == "purchase")
        clicks = stream.where(F.col("event_type") == "click")
        out = interval_join(purchases, clicks, "user_id", interval="1 hour", watermark="2 hours")
        run_to_memory(out, name, output_mode="append")
        return spark.table(name).select(
            "user_id",
            "left_event_id",
            F.date_format("left_ts", "yyyy-MM-dd HH:mm:ss").alias("left_ts"),
            "right_event_id",
            F.date_format("right_ts", "yyyy-MM-dd HH:mm:ss").alias("right_ts"),
        ).localCheckpoint()
    finally:
        # drop the uuid memory-sink view on EVERY exit path, not just success
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
        shutil.rmtree(work, ignore_errors=True)


STREAM_TUMBLING_SQL = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""

STREAM_MERGE_SQL = """
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
WHERE o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
  AND o_orderkey NOT IN (SELECT o_orderkey FROM orders
                         WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
UNION ALL
SELECT o_orderkey, o_orderstatus, o_totalprice * CAST(1.1 AS DOUBLE) AS o_totalprice
FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
"""

STREAM_DEDUP_SQL = """
SELECT DISTINCT user_id, event_type FROM events
"""

STREAM_SESSIONIZE_SQL = """
WITH x AS (
  SELECT user_id, event_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), y AS (
  SELECT user_id, ts,
    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM x
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*) AS n_events
FROM y GROUP BY user_id, session_id
"""

STREAM_INTERVAL_JOIN_SQL = """
SELECT l.user_id AS user_id, l.event_id AS left_event_id,
       strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS left_ts,
       r.event_id AS right_event_id,
       strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS right_ts
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts - INTERVAL 1 HOUR AND r.ts <= l.ts
WHERE l.event_type = 'purchase' AND r.event_type = 'click'
"""

def stream_txn_rollup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once txn commit under the driver's gate (VERDICT
    r7 #3): the batch HLL rollup is gated, but the STREAMING fold — each
    micro-batch sketched and merged into the TableStore through the Delta
    txnAppId/txnVersion pattern (``write_with_txn``) — had only pytest
    evidence. This entry runs the real thing:

    1. two availableNow micro-batches (orders split by key parity) fold
       through ``streaming.stream_hll_rollup`` with an app_id → exactly
       two store versions, ``last_txn == 1``;
    2. FULL REDELIVERY: a fresh checkpoint replays every arrival file from
       batch id 0 — the txn guard must commit NOTHING (zero new versions,
       the exactly-once claim, asserted hard);
    3. the folded sketches' estimates must land within 5% of the exact
       distincts (lg_k=12 ⇒ ~1.6% rse).

    Returns the EXACT per-priority distinct counts for the hash gate — the
    sketch math and the txn ledger are validated in-entry; the values the
    driver hashes are deterministic."""
    from ..ops.incremental import TableStore
    from ..ops.rollup import hll_estimate
    from ..streaming.incremental_stream import stream_hll_rollup

    orders = T(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_custkey", "o_orderkey"
    )
    halves = [orders.where(F.col("o_orderkey") % 2 == i) for i in range(2)]
    work = tempfile.mkdtemp(prefix="taico_stream_txn_")
    try:
        arrivals = os.path.join(work, "arrivals")
        os.makedirs(arrivals)
        store = TableStore(spark, os.path.join(work, "store"))

        def _run(ckpt: str) -> None:
            stream = (
                spark.readStream.schema(halves[0].schema)
                .format("parquet")
                .load(arrivals)
            )
            stream_hll_rollup(
                stream,
                store,
                "rollup",
                ["o_orderpriority"],
                "o_custkey",
                ckpt,
                app_id="stream_txn_rollup_gate",
            )

        ckpt = os.path.join(work, "ckpt")
        _deliver(work, arrivals, halves[0], "batch0")
        _run(ckpt)
        _deliver(work, arrivals, halves[1], "batch1")
        _run(ckpt)
        n_versions = len(store.history("rollup"))
        if n_versions != 2 or store.last_txn("rollup", "stream_txn_rollup_gate") != 1:
            raise RuntimeError(
                f"stream_txn_rollup_gate: fold shape wrong — {n_versions} versions, "
                f"last_txn {store.last_txn('rollup', 'stream_txn_rollup_gate')}"
            )
        # full redelivery from a FRESH checkpoint: every file re-arrives as
        # batch 0; the txn ledger (last committed batch id 1) must skip it
        # without burning a version — exactly-once at the version level
        _run(os.path.join(work, "ckpt_redelivery"))
        if len(store.history("rollup")) != 2:
            raise RuntimeError(
                "stream_txn_rollup_gate: redelivered batch committed a version "
                f"({len(store.history('rollup'))} != 2) — exactly-once broken"
            )
        est = {
            r.o_orderpriority: r.n_distinct
            for r in hll_estimate(store.read("rollup")).collect()
        }
        exact = orders.groupBy("o_orderpriority").agg(
            F.countDistinct("o_custkey").alias("n_distinct")
        )
        for r in exact.collect():
            e = est.get(r.o_orderpriority)
            if e is None or abs(e - r.n_distinct) / r.n_distinct > 0.05:
                raise RuntimeError(
                    f"stream_txn_rollup_gate: estimate {e} off exact "
                    f"{r.n_distinct} for {r.o_orderpriority}"
                )
        return exact.localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)


STREAM_TXN_ROLLUP_SQL = """
SELECT o_orderpriority, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct
FROM orders GROUP BY o_orderpriority
"""


def stream_cow_merge_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming copy-on-write MERGE sink under the driver's gate
    (round 9, VERDICT r8 #7): the batch twin ``lifecycle_cow_merge`` is
    gated, but ``stream_merge_into(cow_max_keys=N)`` — each micro-batch
    lands through ``merge_in_with_txn``, rewriting only the files its
    keys live in — had only pytest evidence. This entry runs the real
    streaming path end-to-end:

    1. orders seed a TableStore clustered on ``o_orderkey``; two
       availableNow micro-batches flow through the COW sink — batch 0
       reprices the 60 smallest keys (×1.1), batch 1 reprices the 30
       smallest (×2.0 of the ORIGINAL price — updates win, so batch 1's
       value is final for the overlap) and inserts the 10 smallest keys
       offset into an all-new keyspace;
    2. each batch must commit exactly one version, ``last_txn == 1``;
    3. COPY-ON-WRITE asserted physically: the two batch versions share at
       least one file with their predecessors by manifest reference —
       a silent fallback to the full-rewrite merge shares nothing and
       fails the gate;
    4. REPLAY: a fresh checkpoint redelivers every arrival as batch 0;
       the txn ledger must commit NOTHING (no new version).

    The final table hashes against the window-ranked CASE oracle."""
    import os as _os

    from ..ops.incremental import TableStore
    from ..streaming.incremental_stream import stream_merge_into

    orders = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    work = tempfile.mkdtemp(prefix="taico_stream_cowm_")
    try:
        arrivals = os.path.join(work, "arrivals")
        os.makedirs(arrivals)
        store = TableStore(spark, os.path.join(work, "store"))
        store.write("orders", orders.repartition(4))
        store.optimize_layout("orders", ["o_orderkey"], num_files=8)
        v_seed = store._read_meta("orders")["current"]

        ranked = orders.orderBy("o_orderkey")
        batch0 = (
            ranked.limit(60)
            .withColumn("o_totalprice", F.col("o_totalprice") * F.lit(1.1).cast("double"))
        )
        batch1 = (
            ranked.limit(30)
            .withColumn("o_totalprice", F.col("o_totalprice") * F.lit(2.0).cast("double"))
            .unionByName(
                ranked.limit(10).withColumn(
                    "o_orderkey", F.col("o_orderkey") + F.lit(10**9)
                )
            )
        )

        def _run(ckpt: str) -> None:
            stream = (
                spark.readStream.schema(orders.schema)
                .format("parquet")
                .load(arrivals)
            )
            stream_merge_into(
                stream,
                store,
                "orders",
                ["o_orderkey"],
                ckpt,
                app_id="stream_cow_merge_gate",
                cow_max_keys=10_000,
            )

        ckpt = os.path.join(work, "ckpt")
        _deliver(work, arrivals, batch0, "batch0")
        _run(ckpt)
        _deliver(work, arrivals, batch1, "batch1")
        _run(ckpt)
        versions = [e["v"] for e in store.history("orders")]
        if (
            len([v for v in versions if v > v_seed]) != 2
            or store.last_txn("orders", "stream_cow_merge_gate") != 1
        ):
            raise RuntimeError(
                f"stream_cow_merge_gate: sink shape wrong — versions {versions}, "
                f"last_txn {store.last_txn('orders', 'stream_cow_merge_gate')}"
            )

        def _physfiles(v: int) -> set:
            """(physical version, rel) pairs the version resolves to —
            share-by-reference form (round 10): consecutive COW batches
            must RESOLVE to overlapping physical files; a full rewrite
            would make every entry self-physical."""
            root = os.path.join(work, "store", "orders", f"v{v:04d}")
            return {
                (vp, rel)
                for rel, vp in store._version_filemap(
                    "orders", {"v": v, "path": root}
                ).items()
            }

        vs = sorted(v for v in versions if v >= v_seed)
        for prev, cur in zip(vs, vs[1:]):
            if not _physfiles(prev) & _physfiles(cur):
                raise RuntimeError(
                    f"stream_cow_merge_gate: v{cur} shares no file with v{prev} "
                    "— the COW fast path silently fell back to a full rewrite"
                )
        # full redelivery from a fresh checkpoint: txn ledger must skip it
        _run(os.path.join(work, "ckpt_redelivery"))
        if len(store.history("orders")) != len(versions):
            raise RuntimeError(
                "stream_cow_merge_gate: redelivered batch committed a version "
                "— exactly-once broken"
            )
        return store.read("orders").localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)


STREAM_COW_MERGE_SQL = """
WITH r AS (
  SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) AS p,
         ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rk
  FROM orders
)
SELECT o_orderkey, o_orderstatus,
       CASE WHEN rk <= 30 THEN p * CAST(2.0 AS DOUBLE)
            WHEN rk <= 60 THEN p * CAST(1.1 AS DOUBLE)
            ELSE p END AS o_totalprice
FROM r
UNION ALL
SELECT o_orderkey + 1000000000 AS o_orderkey, o_orderstatus, p AS o_totalprice
FROM r WHERE rk <= 10
"""


def stream_ivf_append_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming semantic-index maintenance under the driver's gate
    (round 11, VERDICT r10 #4): the batch twin ``ann_topk_ivf_append``
    is gated; this entry runs the STREAMING path —
    ``stream_index_append`` composes the exactly-once corpus sink with
    ``ivf_store.append`` per micro-batch. The index is built over the
    first half of the embeddings corpus and pinned; the second half
    arrives as two availableNow micro-batches:

    1. each batch commits the corpus under the txn ledger and the index
       catches up O(batch) against the pinned centroids — reported
       appends must sum to the second half exactly, pin == corpus
       current (asserted);
    2. FULL REDELIVERY from a fresh checkpoint: every batch reported
       replayed, zero appended, zero new versions on corpus AND index,
       pin unchanged (asserted hard);
    3. the post-stream probe must equal a FRESH full build bit-for-bit
       (asserted; the first-half split keeps the deterministic
       first-n_lists-ids quantizer identical).

    The probe result hashes against the same full-pipeline DuckDB IVF
    oracle as the batch gate."""
    from ..llm import ivf_store
    from ..llm.similarity import cosine_topk_ivf
    from ..ops.incremental import TableStore
    from ..streaming.incremental_stream import stream_index_append

    e = T(spark, sf_dir, "embeddings")
    max_id = e.agg(F.max("vec_id")).first()[0]
    mid, q3 = max_id // 2, (3 * max_id) // 4
    first = e.where(F.col("vec_id") <= mid)
    rest_n = e.where(F.col("vec_id") > mid).count()
    queries = e.where(F.col("vec_id") < 10)
    work = tempfile.mkdtemp(prefix="taico_stream_ivf_")
    try:
        arrivals = os.path.join(work, "arrivals")
        os.makedirs(arrivals)
        store = TableStore(spark, os.path.join(work, "store"))
        store.write("corpus", first)
        ivf_store.build(store, "corpus", "idx", n_lists=8)

        _deliver(work, arrivals, e.where(
            (F.col("vec_id") > mid) & (F.col("vec_id") <= q3)
        ), "b0")
        _deliver(work, arrivals, e.where(F.col("vec_id") > q3), "b1")

        def _run(ckpt: str):
            stream = (
                spark.readStream.schema(first.schema)
                .option("maxFilesPerTrigger", "1")
                .format("parquet")
                .load(arrivals)
            )
            return stream_index_append(
                stream, store, "idx", os.path.join(work, ckpt),
                app_id="stream_ivf_append_gate",
            )

        _q, reports = _run("c1")
        if sum(r["appended"] for r in reports) != rest_n or any(
            r["replayed"] for r in reports
        ):
            raise RuntimeError(f"stream_ivf_append_gate: bad first run {reports}")
        rec = ivf_store.pin_info(store, "idx")
        if rec["corpus_version"] != store._read_meta("corpus")["current"]:
            raise RuntimeError("stream_ivf_append_gate: pin trails the corpus")

        n_corpus = len(store.history("corpus"))
        n_idx = len(store.history("idx"))
        _q2, reports2 = _run("c_redeliver")
        if (
            not all(r["replayed"] for r in reports2)
            or any(r["appended"] for r in reports2)
            or len(store.history("corpus")) != n_corpus
            or len(store.history("idx")) != n_idx
            or ivf_store.pin_info(store, "idx")["corpus_version"]
            != rec["corpus_version"]
        ):
            raise RuntimeError(
                f"stream_ivf_append_gate: redelivery committed something "
                f"{reports2}"
            )

        got = ivf_store.probe(store, "idx", queries, k=5, nprobe=2)
        out = got.localCheckpoint()
        fresh = cosine_topk_ivf(
            store.read("corpus"), queries, k=5, n_lists=8, nprobe=2
        )
        if out.exceptAll(fresh).count() or fresh.exceptAll(out).count():
            raise RuntimeError(
                "stream_ivf_append_gate: streamed index diverged from a "
                "fresh full build"
            )
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


QUERIES = {
    "stream_tumbling_events": stream_tumbling_events,
    "stream_merge_orders": stream_merge_orders,
    "stream_dedup_events": stream_dedup_events,
    "stream_sessionize_events": stream_sessionize_events,
    "stream_interval_join_events": stream_interval_join_events,
    "stream_txn_rollup_gate": stream_txn_rollup_gate,
    "stream_cow_merge_gate": stream_cow_merge_gate,
    "stream_ivf_append_gate": stream_ivf_append_gate,
}


def _ann_ivf_sql() -> str:
    from .llm import ANN_IVF_SQL

    return ANN_IVF_SQL


ORACLE = {
    "stream_txn_rollup_gate": STREAM_TXN_ROLLUP_SQL,
    "stream_cow_merge_gate": STREAM_COW_MERGE_SQL,
    "stream_ivf_append_gate": _ann_ivf_sql(),
    "stream_tumbling_events": STREAM_TUMBLING_SQL,
    "stream_merge_orders": STREAM_MERGE_SQL,
    "stream_dedup_events": STREAM_DEDUP_SQL,
    "stream_sessionize_events": STREAM_SESSIONIZE_SQL,
    "stream_interval_join_events": STREAM_INTERVAL_JOIN_SQL,
}
