"""Subprocess workers for the TableStore cross-PROCESS concurrency tests
(VERDICT r5 #2). The r5 race tests ran threads in one interpreter; these
workers are launched as real OS processes so the O_CREAT|O_EXCL claim, the
marker-last _SUCCESS commit gate and the O_EXCL pointer-log swap are
exercised across process boundaries — the semantics they were designed for.

Modes (dispatched on argv[1]):

- ``promote <root> <key> <ready> <go> <result>`` — boot a PRIVATE
  SparkSession (own JVM), build the key's frame, touch <ready>, spin-wait
  for <go> (the parent's barrier), run promote_with_validation against the
  shared store root, dump {"ok": bool} JSON to <result>.
- ``hang <root> <sentinel>`` — claim the next version, create the version
  directory with a partial task file but NO _SUCCESS marker (the exact
  window a hard-killed writer dies in), touch <sentinel>, sleep until the
  parent SIGKILLs us.
- ``stream_merge <root> <input_dir> <ckpt> <mode> <sentinel>`` — run
  ``stream_merge_into`` (availableNow, exactly-once app_id) over a parquet
  file source. mode ``crash``: the store's write_with_txn is wrapped to
  COMMIT the sink version, touch <sentinel>, then block before foreachBatch
  returns — the exact window between sink write and checkpoint commit that
  write_with_txn exists for; the parent SIGKILLs the whole process group
  there (python driver AND its JVM). mode ``resume``: plain run to
  completion — a redelivered batch must be skipped by its txn id.
"""

import json
import os
import sys
import time


def promote_main(root: str, key: str, ready: str, go: str, result: str) -> int:
    from pyspark.sql import Row, SparkSession

    from taico_data_integration_spark.ops.incremental import TableStore

    spark = (
        SparkSession.builder.master("local[2]")
        .appName(f"tablestore-xproc-{key}")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "1500m")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    n = {"a": 3, "b": 4}[key]
    df = spark.createDataFrame([Row(id=i, s=key) for i in range(1, n + 1)])
    store = TableStore(spark, root)
    open(ready, "w").close()
    deadline = time.time() + 120
    while not os.path.exists(go):
        if time.time() > deadline:
            return 3
        time.sleep(0.05)
    ok = store.promote_with_validation("t", df, validate=lambda d: d.count() > 0)
    with open(result, "w") as f:
        json.dump({"ok": bool(ok)}, f)
    spark.stop()
    return 0


def hang_main(root: str, sentinel: str) -> int:
    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(None, root)  # claim path never touches the session
    v = store._claim_version("t")
    p = os.path.join(root, "t", f"v{v:04d}")
    os.makedirs(p)
    # partial task output, committer never reached _SUCCESS
    open(os.path.join(p, "part-00000-partial.parquet"), "w").close()
    open(sentinel, "w").close()
    time.sleep(3600)  # parent SIGKILLs us here
    return 0


def stream_merge_main(root: str, input_dir: str, ckpt: str, mode: str, sentinel: str) -> int:
    from pyspark.sql import SparkSession

    from taico_data_integration_spark.ops.incremental import TableStore
    from taico_data_integration_spark.streaming.incremental_stream import (
        stream_merge_into,
    )

    spark = (
        SparkSession.builder.master("local[2]")
        .appName(f"stream-merge-soak-{mode}")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "1500m")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    store = TableStore(spark, root)
    if mode == "crash":
        # commit the sink version, then freeze BEFORE foreachBatch returns:
        # the checkpoint offset is written but the batch COMMIT never is, so
        # a restart redelivers this exact batch — the duplicate-version
        # window the txn sidecar closes
        real = store.write_with_txn

        def crashing_write_with_txn(table, df, app_id, batch_id, partition_by=None):
            v = real(table, df, app_id, batch_id, partition_by)
            open(sentinel, "w").close()
            time.sleep(3600)  # parent SIGKILLs the process group here
            return v

        store.write_with_txn = crashing_write_with_txn
    events = spark.readStream.schema("id long, v string").parquet(input_dir)
    stream_merge_into(events, store, "t", ["id"], ckpt, app_id="soak_app")
    spark.stop()
    return 0


def cow_stress_main(root: str, worker_id: str, n_ops: str, result: str) -> int:
    """VERDICT r10 #5 worker: one real OS process hammering a SHARED
    conditional-put store with COW mutations and racing vacuums. Each
    worker owns a disjoint key range (wid*1M ..) and keeps a local ledger
    of every committed insert/delete; after EVERY op it reads the table
    back and compares its own live keyset against the ledger — any
    mismatch is a torn read or a lost update, recorded verbatim.
    ConcurrentWriteError is the one legitimate failure: the op retries
    against the new current. Dumps {ok, conflicts, ops, torn,
    final_keys} JSON to <result>."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from taico_data_integration_spark.ops.incremental import (
        ConcurrentWriteError,
        TableStore,
    )
    from taico_data_integration_spark.ops.storage_commit import (
        ConditionalPutCommit,
        LocalEmulatedBackend,
    )

    wid, ops = int(worker_id), int(n_ops)
    spark = (
        SparkSession.builder.master("local[2]")
        .appName(f"cow-stress-{wid}")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "1500m")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    store = TableStore(
        spark, root, commit=ConditionalPutCommit(LocalEmulatedBackend())
    )
    lo, hi = wid * 1_000_000, (wid + 1) * 1_000_000
    mine: set[int] = set()
    minted = 0
    conflicts = 0
    torn: list[dict] = []

    def commit_with_retry(op) -> bool:
        nonlocal conflicts
        for attempt in range(80):
            try:
                op()
                return True
            except ConcurrentWriteError:
                conflicts += 1
                time.sleep(0.02 * (attempt % 5 + 1))
        return False

    # round 12: schema ALTERs race the COW mutations and vacuums too —
    # each worker cycles add(int) -> widen(bigint) -> drop on its OWN
    # worker-scoped column name, so every manifest history (schema,
    # retired, widened) is contended across processes. A retry that
    # finds its alter already applied (the conflict hit AFTER the
    # pointer swap of a competing commit, ours re-evaluates) treats the
    # idempotent ValueError as success.
    alt_step = 0

    def alter_cycle() -> bool:
        nonlocal alt_step
        col = f"c{wid}_{alt_step // 3}"
        phase = alt_step % 3

        def op():
            try:
                if phase == 0:
                    store.add_columns("t", {col: "int"})
                elif phase == 1:
                    store.alter_column_type("t", {col: "bigint"})
                else:
                    store.drop_columns("t", [col])
            except ValueError as exc:
                msg = str(exc)
                if "already" in msg or (phase == 2 and "not in" in msg):
                    return  # applied by our own earlier retry
                raise

        done = commit_with_retry(op)
        if done:
            alt_step += 1
        return done

    ok = True
    for i in range(ops):
        if i % 4 == 3 and len(mine) >= 2:
            doomed = sorted(mine)[:2]
            if not commit_with_retry(lambda: store.delete_in("t", "k", doomed)):
                ok = False
                break
            mine -= set(doomed)
        else:
            batch = [(lo + minted + j, float(wid)) for j in range(3)]
            bdf = spark.createDataFrame(batch, "k bigint, v double")

            def merge_op(up=bdf):
                # pad to the CURRENT schema inside the retry loop: another
                # worker's ALTER between our read and the merge's own
                # schema check is a concurrent write, not a caller bug
                cur = store.read("t")
                d = up
                for fld in cur.schema.fields:
                    if fld.name not in d.columns:
                        d = d.withColumn(
                            fld.name, F.lit(None).cast(fld.dataType)
                        )
                d = d.select(*cur.columns)
                try:
                    store.merge_in("t", d, "k")
                except ValueError as exc:
                    msg = str(exc)
                    if "must cover" in msg or "not in" in msg:
                        raise ConcurrentWriteError(msg) from exc
                    raise

            if not commit_with_retry(merge_op):
                ok = False
                break
            mine |= {k for k, _ in batch}
            minted += 3
        if i % 5 == 1:
            if not alter_cycle():
                ok = False
                break
        if i % 6 == 4:
            # round 12: shallow clones race the mutations and vacuums.
            # Only THIS worker writes its key range and its ops are
            # sequential, so a clone taken between its own commits must
            # hold EXACTLY its ledger — any drift is a torn snapshot.
            # The documented clone-vs-vacuum refusal is a legitimate
            # retry (same contract as ConcurrentWriteError); everything
            # else propagates.
            cname = f"clone_w{wid}_{i}"

            def clone_op(name=cname):
                try:
                    store.clone("t", name)
                except ValueError as exc:
                    if "vacuumed during the clone" in str(exc):
                        raise ConcurrentWriteError(str(exc)) from exc
                    raise

            if commit_with_retry(clone_op):
                got_c = {
                    r.k
                    for r in store.read(cname)
                    .where((F.col("k") >= lo) & (F.col("k") < hi))
                    .select("k")
                    .collect()
                }
                if got_c != mine:
                    torn.append(
                        {
                            "op": i,
                            "clone": cname,
                            "missing": sorted(mine - got_c)[:10],
                            "phantom": sorted(got_c - mine)[:10],
                        }
                    )
            else:
                ok = False
                break
        if i % 3 == 2:
            # racing vacuum: keep_latest covers every version a racing
            # reader can still be planning against in this op cadence —
            # and (round 12) must refcount across every clone the
            # workers have spun up so far
            store.vacuum("t", keep_latest=8, stage_ttl_seconds=3600.0)
        got = {
            r.k
            for r in store.read("t")
            .where((F.col("k") >= lo) & (F.col("k") < hi))
            .select("k")
            .collect()
        }
        if got != mine:
            torn.append(
                {
                    "op": i,
                    "missing": sorted(mine - got)[:10],
                    "phantom": sorted(got - mine)[:10],
                }
            )
    with open(result, "w") as f:
        json.dump(
            {
                "ok": ok and not torn,
                "conflicts": conflicts,
                "ops": ops,
                "torn": torn,
                "final_keys": sorted(mine),
            },
            f,
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    mode = sys.argv[1]
    if mode == "promote":
        sys.exit(promote_main(*sys.argv[2:7]))
    elif mode == "hang":
        sys.exit(hang_main(*sys.argv[2:4]))
    elif mode == "stream_merge":
        sys.exit(stream_merge_main(*sys.argv[2:7]))
    elif mode == "cow_stress":
        sys.exit(cow_stress_main(*sys.argv[2:6]))
    sys.exit(2)
