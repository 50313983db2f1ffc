"""Structured Streaming re-expression of the reference's incremental story
(SURVEY.md §2.10): the batch watermark merge (M5/A4,
main_taico_staging.sql:68-70) becomes readStream -> withWatermark ->
windowed aggregation / foreachBatch merge.

The reference has no true streaming — its 'real-time' is hourly Airflow
micro-batch; this module is the native-streaming upgrade path. At scale the
same code runs against Kafka/file-arrival sources; state lives in the
streaming state store, checkpointed.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import ensure_runtime_confs
from ..ops.formats import TableFormat
from ..ops.incremental import merge_upsert


def _symlink_arrival_dir(sf_dir: str, table: str, tag: str) -> str:
    """Expose a read-only fixture (single parquet file OR directory-parquet)
    as a flat arrival directory of symlinks — the file stream source needs
    a directory and does not recurse into non-partition subdirectories, so
    a directory fixture must be linked file-by-file (the sf1 derived
    fixture is directory-parquet; a bare symlink to the directory read as
    ZERO rows — caught by the sf1 sweep, round 4). The link set is
    reconciled on every call: stale links from a previous fixture layout
    are removed so re-generated fixtures never double-count."""
    import glob

    src = os.path.join(sf_dir, f"{table}.parquet")
    link_dir = os.path.join(
        tempfile.gettempdir(), tag, hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    )
    os.makedirs(link_dir, exist_ok=True)
    if os.path.isdir(src):
        parts = sorted(glob.glob(os.path.join(src, "*.parquet")))
    else:
        parts = [src]
    expected = {f"{table}_{i:05d}.parquet": p for i, p in enumerate(parts)}
    for name in os.listdir(link_dir):
        # dot-names are in-flight temp links (invisible to the stream
        # source, which skips hidden files) — never reconcile those away
        # from under a concurrent creator
        if name not in expected and not name.startswith("."):
            try:
                os.unlink(os.path.join(link_dir, name))
            except FileNotFoundError:
                pass  # a concurrent session reconciled first
    for name, target in expected.items():
        link = os.path.join(link_dir, name)
        # lexists/readlink, never exists(): a DANGLING link (fixture file
        # deleted after linking) must be replaced, not re-created on top of
        # itself (os.path.exists follows the link -> FileExistsError).
        # Creation is ATOMIC (ADVICE r4 TOCTOU): symlink under a unique temp
        # name, then os.replace over the final name — two concurrent
        # sessions on the same fixture can interleave freely and both end
        # with a correct link; neither ever sees FileExistsError or a
        # half-created entry. Links only ever point at the CURRENT expected
        # target set, so a concurrent replace is idempotent; only
        # regenerating the fixture itself mid-stream changes targets, which
        # no link scheme can make safe for a stream already running.
        if not os.path.islink(link) or os.readlink(link) != target:
            tmp = os.path.join(link_dir, f".{name}.{os.getpid()}.{time.time_ns()}.tmp")
            os.symlink(target, tmp)
            os.replace(tmp, link)
    return link_dir


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture. The parquet carries
    TIMESTAMP(NANOS) (read as long, converted to micros like the batch
    catalog), so batch and stream plans share dtypes."""
    ensure_runtime_confs(spark)
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    link_dir = _symlink_arrival_dir(sf_dir, "events", "taico_stream")
    stream = spark.readStream.schema(static.schema).format("parquet").load(link_dir)
    from ..catalog import normalize_event_ts

    return normalize_event_ts(stream)


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents fixture (same symlink-directory
    trick as stream_events) — stands in for the arrival feed of an
    ingestion pipeline."""
    ensure_runtime_confs(spark)
    static = spark.read.parquet(f"{sf_dir}/documents.parquet")
    link_dir = _symlink_arrival_dir(sf_dir, "documents", "taico_stream_docs")
    return spark.readStream.schema(static.schema).format("parquet").load(link_dir)


def tumbling_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window aggregation — the streaming twin of
    queries.core.tumbling_events; late rows beyond the watermark drop."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def sliding_counts(
    events: DataFrame,
    window: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "4 hours",
) -> DataFrame:
    """Watermarked sliding-window aggregation — the streaming twin of
    queries.core.sliding_events (every event lands in window/slide
    overlapping windows; state is bounded by the watermark)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "complete"):
    """Execute with availableNow (bounded) into a memory sink; returns the
    finished query. Test/demo harness for bounded replays."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_merge_into(
    events: DataFrame,
    store: TableFormat,
    table: str,
    keys: list[str],
    checkpoint_dir: str,
    app_id: str | None = None,
    cow_max_keys: int | None = None,
):
    """foreachBatch incremental merge: each micro-batch MERGEs into the
    versioned table store on `keys` — the streaming form of the dbt
    incremental model (M5). With Delta this is `MERGE INTO` per batch.

    With `app_id` (and a store that supports txn writes, i.e. TableStore),
    each batch commits through the Delta txnAppId/txnVersion pattern:
    a replayed batch — foreachBatch re-delivers the last batch when the
    driver dies between the sink write and the checkpoint commit — is
    detected by its batch id and skipped WITHOUT writing a version, making
    the sink exactly-once at the version level, not merely content-
    idempotent. Without app_id the merge stays content-idempotent (updates
    win deterministically) but a replay costs a duplicate version.

    ``cow_max_keys`` (round 8; composite keys + partitioned layouts since
    round 9) enables the copy-on-write fast path: each micro-batch merges
    via ``TableStore.merge_in`` — only the files the batch's keys live in
    are rewritten, the rest are kept by manifest reference — so per-batch
    sink cost is O(affected files + batch) instead of O(table). The very
    shape a long-running stream needs: without it every micro-batch
    rewrites the whole (growing) table. Batches that break merge_in's
    contract (too many distinct keys, NULL keys, an uncastable key)
    fall back to the full anti-join merge automatically; results are
    identical either way (merge_in == merge_upsert row-for-row, pinned in
    tests)."""
    txn_capable = app_id is not None and hasattr(store, "write_with_txn")
    cow_capable = cow_max_keys is not None and hasattr(store, "merge_in")

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if txn_capable:
            last = store.last_txn(table, app_id)
            if last is not None and batch_id <= last:
                return  # replayed batch — already committed
        if store.exists(table) and cow_capable:
            up = batch_df.select(*store.read(table).columns)
            try:
                if txn_capable:
                    store.merge_in_with_txn(
                        table, up, keys, app_id, batch_id, max_keys=cow_max_keys
                    )
                else:
                    store.merge_in(table, up, keys, max_keys=cow_max_keys)
                return
            except ValueError:
                pass  # contract miss (key count/NULLs/uncastable key): full merge below
        if not store.exists(table):
            merged = batch_df
            pby = None
        else:
            target = store.read(table)
            merged = merge_upsert(target, batch_df.select(*target.columns), keys)
            # a full-rewrite fallback must PRESERVE a partitioned layout —
            # writing without partition_by would silently flatten the
            # table and lose partition pruning for every later reader
            pby = (
                store.current_partition_columns(table) or None
                if hasattr(store, "current_partition_columns")
                else None
            )
        if txn_capable:
            store.write_with_txn(table, merged, app_id, batch_id, partition_by=pby)
        else:
            store.write(table, merged, pby)

    q = (
        events.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_index_append(
    vectors: DataFrame,
    store,
    index_table: str,
    checkpoint_dir: str,
    app_id: str,
    cow_max_keys: int = 10_000,
    verify_unchanged: bool = False,
):
    """Streaming semantic-index maintenance (VERDICT r10 #4): each
    micro-batch of vectors lands in the pinned IVF index's CORPUS table
    through the exactly-once txn ledger, then the index catches up via
    :func:`llm.ivf_store.append` — new vectors assign to the EXISTING
    centroids and merge as a pure insert (O(batch), share-by-reference),
    and the pin advances. The composition of :func:`stream_merge_into`'s
    sink discipline with the version-pinned index store; FAISS
    ``add()``-on-arrival, with Spark's recovery semantics.

    Exactly-once without a distributed transaction across the two
    tables: the corpus commit is guarded by (app_id, batch_id) — a
    redelivered batch writes NO corpus version — and the index catch-up
    runs on EVERY batch, replayed or not. When the pin already matches
    the corpus version the catch-up is one pointer read and a no-op
    (append returns without touching storage), so a full redelivery
    commits nothing on either table; when the previous batch crashed
    BETWEEN the corpus commit and the index append, the next batch's
    catch-up appends the stranded vectors — the index can trail the
    corpus by at most one commit, and probe() refuses to serve in that
    window (the staleness error is the gap's loud signal).

    ``verify_unchanged`` defaults False here (unlike ``append``'s
    standalone default): micro-batches through THIS sink are inserts by
    construction, and the O(corpus) embedding-equality join per batch is
    the wrong steady-state cost; deletions from any other writer still
    refuse loudly via the missing-id check. The index must exist before
    the stream starts (:func:`llm.ivf_store.build`) — pin metadata is
    the id/vec column contract. Returns ``(query, reports)``: one report
    per delivered batch ({batch_id, replayed, appended, fallback}).

    ``fallback=True`` in a report means that batch missed the COW fast
    path (key count over ``cow_max_keys``, NULL keys, or layout
    contract) and degraded to a FULL merge + table rewrite — correct,
    but O(corpus) instead of O(batch). A stream whose batches
    consistently exceed ``cow_max_keys`` pays that cliff every
    micro-batch, so the degradation also raises a ``UserWarning``
    (VERDICT r11 #4: the silent version read as 'covered everything'
    when each batch was rewriting the table)."""
    from ..llm import ivf_store

    rec = ivf_store.pin_info(store, index_table)
    corpus_table, id_col = rec["corpus_table"], rec["id_col"]
    reports: list[dict] = []

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        last = store.last_txn(corpus_table, app_id)
        replayed = last is not None and batch_id <= last
        fallback = False
        if not replayed:
            up = batch_df.select(*store.read(corpus_table).columns)
            try:
                store.merge_in_with_txn(
                    corpus_table, up, [id_col], app_id, batch_id,
                    max_keys=cow_max_keys,
                )
            except ValueError as exc:
                # contract miss (key count/NULLs/layout): full merge —
                # correct but O(corpus); say so (VERDICT r11 #4)
                fallback = True
                import warnings

                warnings.warn(
                    f"stream_index_append[{corpus_table}] batch {batch_id}: "
                    f"COW fast path missed ({exc}) — falling back to a FULL "
                    "merge + table rewrite; raise cow_max_keys or shrink "
                    "batches if this repeats",
                    stacklevel=2,
                )
                target = store.read(corpus_table)
                merged = merge_upsert(target, up, [id_col])
                store.write_with_txn(
                    corpus_table, merged, app_id, batch_id,
                    partition_by=store.current_partition_columns(corpus_table)
                    or None,
                )
        rep = ivf_store.append(
            store, index_table,
            verify_unchanged=verify_unchanged, max_keys=cow_max_keys,
        )
        reports.append(
            {
                "batch_id": batch_id,
                "replayed": replayed,
                "appended": int(rep.get("appended", 0)),
                "fallback": fallback,
            }
        )

    q = (
        vectors.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q, reports


def stream_hll_rollup(
    events: DataFrame,
    store: TableFormat,
    table: str,
    keys: list[str],
    distinct_col: str,
    checkpoint_dir: str,
    app_id: str | None = None,
    lg_k: int = 12,
):
    """foreachBatch continuous aggregate for COUNT(DISTINCT): each
    micro-batch is sketched (``ops.rollup.hll_rollup`` — one hash shuffle
    over the BATCH) and folded into the stored per-key HLL rollup
    (``merge_hll_rollup`` — O(rollup rows), the raw history is never
    re-read). The streaming twin of ``stream_merge_into`` for the one
    common metric that is not additive; with ``app_id`` the fold commits
    through the exactly-once txn path, so a redelivered batch is never
    double-counted into the sketches (an HLL union IS idempotent for the
    same values, but a replay interleaved with a DIFFERENT batch's fold
    would still burn a version — the txn guard keeps versions exact).
    Read the estimates with ``ops.rollup.hll_estimate``."""
    from ..ops.rollup import hll_rollup, merge_hll_rollup

    txn_capable = app_id is not None and hasattr(store, "write_with_txn")

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        if txn_capable:
            last = store.last_txn(table, app_id)
            if last is not None and batch_id <= last:
                return  # replayed batch — already folded
        batch_rollup = hll_rollup(batch_df, keys, distinct_col, lg_k=lg_k)
        if store.exists(table):
            merged = merge_hll_rollup(store.read(table), batch_rollup, keys)
        else:
            merged = batch_rollup
        if txn_capable:
            store.write_with_txn(table, merged, app_id, batch_id)
        else:
            store.write(table, merged)

    q = (
        events.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
