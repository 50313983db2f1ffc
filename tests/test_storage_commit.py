"""Conformance suite for the storage-commit seam (VERDICT r8 #1).

Proves the SAME TableStore protocol holds on POSIX semantics and on
object-store (conditional-put) semantics:

- protocol-level races against the fault-injecting in-memory fake:
  duplicate claims, writer death before the commit marker, torn
  listings — no lost commit, no torn commit, ever;
- the full TableStore (real Spark writes) end-to-end through
  ConditionalPutCommit on the local emulated backend: versioned writes,
  COW merge/delete (untouched files shared BY REFERENCE, rewrite
  outputs published direct-to-final — zero copies), txn replay skip,
  vacuum — with NOT ONE directory rename, hard link, or O_EXCL claim
  outside the put-if-absent seam;
- commit ECONOMICS (round 10): request/byte accounting proving COW
  commit cost O(changed files), direct-publish failure modes (torn
  own-listing aborts; constraint violation discards the prefix), and
  the os-interception proof that the condput data plane never touches
  the filesystem API directly.
"""

import json
import os
import threading

import pytest

from taico_data_integration_spark.ops.storage_commit import (
    ConditionalPutCommit,
    FakeObjectStore,
    LocalEmulatedBackend,
    PosixCommit,
)


def _posix(tmp_path):
    return PosixCommit()


def _condput_local(tmp_path):
    return ConditionalPutCommit(LocalEmulatedBackend())


@pytest.fixture(params=[_posix, _condput_local], ids=["posix", "condput-local"])
def commit(request, tmp_path):
    return request.param(tmp_path)


def test_put_if_absent_exactly_one_winner(commit, tmp_path):
    """Duplicate claims: N threads race one claim file; exactly one wins —
    the mutual-exclusion primitive version numbering rests on."""
    target = str(tmp_path / "claims" / "v0001")
    wins = []

    def go(i):
        if commit.put_if_absent(target, f"writer-{i}".encode()):
            wins.append(i)

    th = [threading.Thread(target=go, args=(i,)) for i in range(16)]
    for t in th:
        t.start()
    for t in th:
        t.join()
    assert len(wins) == 1


def test_commit_direct_marker_last(commit, tmp_path):
    """The one publish protocol on both impls: data files are written
    straight under the final prefix and stay invisible (no marker) until
    ``commit_direct`` writes the manifest-carrying marker if-absent; a
    second commit of the same version is refused."""
    final = str(tmp_path / "v0001")
    rels = ["part-0.parquet", os.path.join("tenant=1", "part-1.parquet")]
    for rel in rels:
        os.makedirs(os.path.dirname(os.path.join(final, rel)), exist_ok=True)
        with open(os.path.join(final, rel), "wb") as f:
            f.write(rel.encode() * 100)
    with open(os.path.join(final, "_MANIFEST.json"), "wb") as f:
        f.write(b"{}")  # not a data file: never listed
    assert not os.path.exists(os.path.join(final, "_SUCCESS"))
    assert commit.list_data_files(final) == sorted(rels)
    commit.commit_direct(final, rels)
    with open(os.path.join(final, "_SUCCESS"), "rb") as f:
        marker = json.loads(f.read())
    assert marker == {"files": sorted(rels), "n": 2}
    for rel in rels:
        with open(os.path.join(final, rel), "rb") as f:
            assert f.read() == rel.encode() * 100
    with pytest.raises(FileExistsError, match="already committed"):
        commit.commit_direct(final, rels)
    with open(os.path.join(final, "_SUCCESS"), "rb") as f:
        assert json.loads(f.read()) == marker  # the first commit stands


def test_pointer_swap_and_txn_merge(commit, tmp_path):
    """Pointer swaps through the seam preserve the read-modify-merge
    contract on BOTH impls (round 10 — the CAS log is the one pointer
    implementation): concurrent swaps from different app_ids never lose
    each other's txn records."""
    tdir = str(tmp_path / "t")
    os.makedirs(tdir)
    assert commit.read_pointer(tdir) is None

    def swap(current, txn):
        def mutate(prev):
            txns = dict((prev or {}).get("txns", {}))
            txns.update(txn)
            return {"current": current, "txns": txns}

        commit.write_pointer(tdir, mutate)

    swap(0, {"a": 1})
    swap(1, {"b": 7})
    rec = commit.read_pointer(tdir)
    assert rec["current"] == 1 and rec["txns"] == {"a": 1, "b": 7}

    # 16 concurrent swaps, each recording its own app txn: the CAS log
    # must merge ALL of them — the same linearizable assertion on POSIX
    # and condput (pre-r10, POSIX was last-wins check-then-replace and
    # this branch was condput-only)
    th = [
        threading.Thread(target=swap, args=(2, {f"app{i}": i}))
        for i in range(16)
    ]
    for t in th:
        t.start()
    for t in th:
        t.join()
    rec = commit.read_pointer(tdir)
    assert all(rec["txns"].get(f"app{i}") == i for i in range(16))


def test_condput_pointer_log_pruned(tmp_path):
    """The pointer log doesn't grow without bound: after many swaps only
    the most recent keep_log entries remain, and reads still resolve.
    The prune bill is O(actually-stale entries) per swap, NOT O(table
    age) (ADVICE r10: the old loop re-issued a DELETE for every seq from
    0 on every swap — billable requests for keys already gone)."""

    class DeleteCountingBackend(LocalEmulatedBackend):
        def __init__(self):
            self.deletes = 0

        def delete(self, key):
            self.deletes += 1
            super().delete(key)

    be = DeleteCountingBackend()
    commit = ConditionalPutCommit(be, keep_log=4)
    tdir = str(tmp_path / "t")
    n = 40
    for i in range(n):
        commit.write_pointer(tdir, lambda prev, i=i: {"current": i, "txns": {}})
    assert commit.read_pointer(tdir)["current"] == n - 1
    live = be.list_tree(os.path.join(tdir, "_ptr"))
    assert len(live) <= 5
    # steady state: each swap retires exactly the one entry that fell out
    # of the window; the quadratic loop would have issued ~n^2/2 ≈ 800
    assert be.deletes <= n + commit.keep_log


# ---------- fault injection against the in-memory fake ----------


def _fake_commit():
    be = FakeObjectStore()
    return be, ConditionalPutCommit(be)


def test_fake_duplicate_claims_one_winner():
    be, commit = _fake_commit()
    wins = []

    def go(i):
        if commit.put_if_absent("/t/_claims/v0005", b""):
            wins.append(i)

    th = [threading.Thread(target=go, args=(i,)) for i in range(32)]
    for t in th:
        t.start()
    for t in th:
        t.join()
    assert len(wins) == 1


def _write_then_commit(be, commit, final, payloads):
    """The writer side of the publish protocol: data objects go straight
    under the final prefix, the marker is written last."""
    for i, data in enumerate(payloads):
        be.put(f"{final}/part-{i}.parquet", data)
    commit.commit_direct(final, commit.list_data_files(final))


def test_fake_writer_death_mid_publish_leaves_no_torn_commit():
    """A writer that dies mid-publish (injected, after 2 of its 3 data
    objects, before the marker) leaves data objects but NO commit
    marker: the version is invisible to the marker-is-visibility reader,
    and a retry under a fresh claim publishes cleanly — no torn
    commit."""
    be, commit = _fake_commit()
    be.die_after_puts = 2  # dies after putting 2 of 3 data objects
    with pytest.raises(RuntimeError, match="injected writer death"):
        _write_then_commit(be, commit, "/t/v0001", [b"x" * 64] * 3)
    assert be.get("/t/v0001/_SUCCESS") is None  # invisible: no marker
    assert len(commit.list_data_files("/t/v0001")) == 2  # residue only
    # the crashed writer's residue is sweepable; a NEW claim + publish
    # (vacuum would remove the residue; marker write is if-absent so the
    # retry must use a fresh version dir, exactly the claim protocol)
    be.die_after_puts = None
    _write_then_commit(be, commit, "/t/v0002", [b"y" * 64] * 3)
    marker = json.loads(be.get("/t/v0002/_SUCCESS"))
    assert marker["n"] == 3 and len(marker["files"]) == 3
    for rel in marker["files"]:
        assert be.get(f"/t/v0002/{rel}") == b"y" * 64


def test_fake_torn_list_never_tears_a_commit():
    """Eventual consistency: list_tree hides the newest keys. A committed
    version is still FULLY readable through its marker manifest
    (read-after-write GET), and the pointer resolves to a consistent —
    at worst stale, never torn — record."""
    be, commit = _fake_commit()
    _write_then_commit(
        be, commit, "/t/v0001", [f"data-{i}".encode() for i in range(4)]
    )
    commit.write_pointer("/t", lambda prev: {"current": 0, "txns": {}})
    commit.write_pointer("/t", lambda prev: {"current": 1, "txns": {"a": 3}})

    be.tear_listing = 2  # hide the 2 most recent puts from every listing
    # the commit is repaired from the manifest, never from the listing
    marker = json.loads(be.get("/t/v0001/_SUCCESS"))
    assert len(marker["files"]) == 4
    for i, rel in enumerate(sorted(marker["files"])):
        assert be.get(f"/t/v0001/{rel}") == f"data-{i}".encode()
    # pointer: stale-or-current, never torn. Hiding ONE entry shows the
    # previous complete record; hiding every entry reads as "no pointer
    # yet" (staleness to before-first-commit) — both are whole records
    be.tear_listing = 1
    rec = commit.read_pointer("/t")
    assert rec == {"current": 0, "txns": {}}
    be.tear_listing = 2
    assert commit.read_pointer("/t") is None
    be.tear_listing = 0
    assert commit.read_pointer("/t")["current"] == 1


def test_fake_torn_list_claim_loop_converges():
    """A stale claims listing must not livelock the claim loop: the
    put-if-absent CAS plus the caller's floor-bump converge on a fresh
    number even when list_tree never shows the latest claims."""
    be, commit = _fake_commit()
    for i in range(3):
        be.put(f"/t/_claims/v{i:04d}", b"")
    be.tear_listing = 3  # the listing never shows any of them

    # the TableStore claim loop shape: propose max(listed)+1 with a
    # local floor; losers bump past the collision
    floor = 0
    claimed = None
    for _ in range(16):
        import re as _re

        listed = [
            int(m.group(1))
            for m in (
                _re.search(r"v(\d{4})$", k) for k in be.list_tree("/t/_claims")
            )
            if m
        ]
        version = max(max(listed) + 1 if listed else 0, floor)
        if commit.put_if_absent(f"/t/_claims/v{version:04d}", b""):
            claimed = version
            break
        floor = version + 1
    assert claimed is not None and claimed >= 3


# ---------- full TableStore through the condput protocol ----------


def test_tablestore_lifecycle_on_conditional_put(spark, tmp_path):
    """The real engine end-to-end on object-store semantics: versioned
    writes, reads, rollback, COW merge + delete (untouched files shared
    BY REFERENCE — round 10: zero copies, zero links; asserted: the new
    version dir physically holds only rewrite outputs), exactly-once
    txn writes, and vacuum. Same data in, same rows out as the POSIX
    store."""
    import pyspark.sql.functions as F

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(
        spark, str(tmp_path), commit=ConditionalPutCommit(LocalEmulatedBackend())
    )
    df = spark.range(0, 20_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS val")
    v0 = store.write("t", df.repartition(4))
    assert store.read("t").count() == 20_000
    store.optimize_layout("t", ["k"], num_files=6)

    # COW merge: rewrites the key-bearing files, REFERENCES the rest —
    # the new version's directory physically holds ONLY rewrite outputs
    # (zero copy requests on the object store, VERDICT r9 #1)
    updates = spark.createDataFrame(
        [(10, -1.0), (10**7, -2.0)], "k bigint, val double"
    )
    v_before = store._read_meta("t")["current"]
    v1, rep = store.merge_in("t", updates, "k")
    assert rep["files_linked"] + rep["files_rewritten"] == rep["files_total"]
    assert store.read("t").count() == 20_001
    assert store.read("t").where("k = 10").first().val == -1.0
    d_new = [e for e in store._read_meta("t")["versions"] if e["v"] == v1][0]["path"]
    fm_new = store._version_filemap("t", {"v": v1, "path": d_new})
    assert sum(1 for vp in fm_new.values() if vp == v_before) == rep["files_linked"] > 0
    phys = [f for f in os.listdir(d_new) if f.endswith(".parquet")]
    assert len(phys) == rep["rewrite_output_files"], "condput COW must not copy"

    # COW delete through the same probe machinery
    v2, drep = store.delete_in("t", "k", [10, 11, 12])
    assert drep["rows_deleted"] == 3
    assert store.read("t").where("k IN (10, 11, 12)").count() == 0

    # exactly-once txn: replay burns nothing; the CAS pointer log carries it
    assert store.write_with_txn("t", store.read("t"), "app", 0) is not None
    assert store.write_with_txn("t", store.read("t"), "app", 0) is None
    assert store.last_txn("t", "app") == 0

    # history / rollback / vacuum
    hist = store.history("t")
    assert hist[0]["is_current"]
    store.rollback("t", v2)
    assert store._read_meta("t")["current"] == v2
    store.rollback("t", hist[0]["v"])
    removed = store.vacuum("t", keep_latest=1)
    assert v0 in removed
    with pytest.raises(ValueError, match="not committed"):
        store.read("t", version=v0)

    # constraints ride the same seam (put_object)
    store.set_constraint("t", "val_known", "val IS NOT NULL")
    with pytest.raises(ValueError, match="constraint violation"):
        store.write("t", spark.createDataFrame([(1, None)], "k bigint, val double"))
    assert store.read("t").where(F.col("val").isNull()).count() == 0

    # round 9: composite-key + partitioned COW through the SAME seam —
    # partition prefixes survive the server-side COPY share path, and the
    # dir-name partition stats isolate a tenant delete to its own files
    pdf = spark.range(0, 10_000).selectExpr(
        "id AS k",
        "CAST(id % 4 AS INT) AS tenant",
        "CAST(id % 9 AS INT) AS c",
        "CAST(id AS DOUBLE) AS val",
    )
    store.write("p", pdf.repartitionByRange(2, "k"), partition_by=["tenant"])
    v, rep = store.delete_in("p", ["k", "c"], [(5, 5), (6, 6)])
    assert rep["rows_deleted"] == 2 and rep["files_linked"] >= 1
    assert store.read("p").count() == 9_998
    v, rep = store.delete_where("p", "tenant", lo=2, hi=2)
    assert rep["files_dropped"] == 2 and rep["files_rewritten"] == 0, rep
    assert store.read("p").where("tenant = 2").count() == 0
    # tenant 1 lost exactly one row — (k=5, c=5) from the composite delete
    assert store.read("p").where("tenant = 1").count() == 2_499


def test_cow_conflict_detection_on_posix_default(spark, tmp_path):
    """ADVICE r9 (medium): on the DEFAULT PosixCommit the r9 conflict
    check was read-then-mutate-then-replace — two COW mutations computed
    from the same base could both pass ``expect_base`` and the last
    replace silently dropped the other's delete. Since r10 the POSIX
    pointer is the same put-if-absent CAS log (O_EXCL), so the loser's
    ``mutate`` re-runs against the winner's record and raises: the
    row-resurrection anomaly is impossible, same assertion as the
    condput twin below."""
    from taico_data_integration_spark.ops.incremental import (
        ConcurrentWriteError,
        TableStore,
    )

    class Racer(TableStore):
        raced = False

        def _cow_commit(self, table, *a, **k):
            if not self.raced:
                self.raced = True
                # a second, independent store instance sneaks its own
                # delete in AFTER this mutation picked its base version
                TableStore(self.spark, self.root).delete_in(table, "k", [5])
            return super()._cow_commit(table, *a, **k)

    store = Racer(spark, str(tmp_path))
    df = spark.range(0, 4_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    store.write("t", df.repartition(3))
    store.optimize_layout("t", ["k"], num_files=3)
    with pytest.raises(ConcurrentWriteError, match="computed against"):
        store.delete_in("t", "k", [6])
    assert store.read("t").where("k = 5").count() == 0  # winner's delete kept
    assert store.read("t").where("k = 6").count() == 1  # loser never pointed
    store.delete_in("t", "k", [6])  # retry applies cleanly
    assert store.read("t").where("k IN (5, 6)").count() == 0


def test_cow_conflict_detection_on_conditional_put(spark, tmp_path):
    """The round-9 conflict-checked pointer swap on OBJECT-STORE semantics:
    the check rides the pointer CAS loop, so a mutation that lost the race
    sees the winner's record when its CAS retries and raises —
    linearizable, no check-then-replace window. Winner's delete is
    current; retry applies cleanly."""
    import pyspark.sql.functions as F  # noqa: F401

    from taico_data_integration_spark.ops.incremental import (
        ConcurrentWriteError,
        TableStore,
    )

    backend = LocalEmulatedBackend()

    class Racer(TableStore):
        raced = False

        def _cow_commit(self, table, *a, **k):
            if not self.raced:
                self.raced = True
                TableStore(
                    self.spark, self.root, commit=ConditionalPutCommit(backend)
                ).delete_in(table, "k", [5])
            return super()._cow_commit(table, *a, **k)

    store = Racer(spark, str(tmp_path), commit=ConditionalPutCommit(backend))
    df = spark.range(0, 4_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    store.write("t", df.repartition(3))
    store.optimize_layout("t", ["k"], num_files=3)
    with pytest.raises(ConcurrentWriteError, match="computed against"):
        store.delete_in("t", "k", [6])
    assert store.read("t").where("k = 5").count() == 0
    assert store.read("t").where("k = 6").count() == 1
    store.delete_in("t", "k", [6])
    assert store.read("t").where("k IN (5, 6)").count() == 0


def test_tablestore_two_writers_on_conditional_put(spark, tmp_path):
    """Concurrent writers under the condput protocol: both commit
    distinct versions, one current, clean history — the POSIX two-writer
    invariant holds without O_EXCL-on-rename semantics."""
    from taico_data_integration_spark.ops.incremental import TableStore

    def mk():
        return TableStore(
            spark, str(tmp_path), commit=ConditionalPutCommit(LocalEmulatedBackend())
        )

    a, b = mk(), mk()
    base = spark.range(0, 1000).selectExpr("id AS k")
    errs, versions = [], []

    def write(store, lo):
        try:
            versions.append(
                store.write("t", spark.range(lo, lo + 1000).selectExpr("id AS k"))
            )
        except Exception as e:  # noqa: BLE001 - surfaced below
            errs.append(e)

    a.write("t", base)
    th = [
        threading.Thread(target=write, args=(a, 5000)),
        threading.Thread(target=write, args=(b, 9000)),
    ]
    for t in th:
        t.start()
    for t in th:
        t.join()
    assert not errs, errs
    assert len(set(versions)) == 2
    meta = mk()._read_meta("t")
    assert {e["v"] for e in meta["versions"]} == {0, *versions}
    assert meta["current"] in versions


class CountingBackend(LocalEmulatedBackend):
    """LocalEmulatedBackend that counts object-store REQUESTS and copied
    BYTES — the economics the share-by-reference manifests exist for."""

    def __init__(self):
        self.copies = 0
        self.copy_bytes = 0
        self.parquet_copies = 0
        self.parquet_bytes = 0
        self.puts = 0

    def copy(self, src, dst):
        self.copies += 1
        self.copy_bytes += os.path.getsize(src)
        if src.endswith(".parquet"):
            self.parquet_copies += 1
            self.parquet_bytes += os.path.getsize(src)
        super().copy(src, dst)

    def put(self, key, data):
        self.puts += 1
        super().put(key, data)

    def put_if_absent(self, key, data=b""):
        self.puts += 1
        return super().put_if_absent(key, data)


def test_cow_commit_cost_is_o_changed_files(spark, tmp_path):
    """VERDICT r9 #1 ('Done' criterion): a COW delete on an N-file table
    commits O(changed files) objects — the untouched files are listed by
    reference in the manifest, never COPYed. Pre-r10 the same delete on
    the conditional-put impl paid one server-side COPY per untouched
    file (N-1 requests and the table's full size in copy bytes)."""
    from taico_data_integration_spark.ops.incremental import TableStore

    be = CountingBackend()
    store = TableStore(spark, str(tmp_path), commit=ConditionalPutCommit(be))
    df = spark.range(0, 40_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    store.write("t", df.repartition(2))
    store.optimize_layout("t", ["k"], num_files=20)  # k-disjoint 20-file layout
    be.copies = be.copy_bytes = be.puts = 0

    v1, rep = store.delete_in("t", "k", [7])  # lives in exactly one file
    assert rep["files_rewritten"] == 1 and rep["files_linked"] == 19
    # direct-to-final publish (round 10): the rewrite output is WRITTEN
    # under the final prefix, untouched files are references — the commit
    # performs ZERO parquet copies and at most the manifest/marker puts
    assert be.parquet_copies == 0, f"COW commit copied {be.parquet_copies} parquet"
    assert be.copies <= 4, f"COW commit copied {be.copies} objects"
    table_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _d, fs in os.walk(os.path.join(str(tmp_path), "t", "v0001"))
        for f in fs
        if f.endswith(".parquet")
    )
    assert be.copy_bytes < table_bytes / 5, (
        f"COW commit moved {be.copy_bytes} bytes of a {table_bytes}-byte table"
    )
    assert store.read("t").count() == 39_999

    # metadata-only delete (tenant partition drop): ZERO parquet copies —
    # the publish moves only the manifest and the commit marker
    pdf = spark.range(0, 9_000).selectExpr(
        "id AS k", "CAST(id % 3 AS INT) AS tenant", "CAST(id AS DOUBLE) AS v"
    )
    store.write("p", pdf.repartition(2), partition_by=["tenant"])
    be.parquet_copies = be.parquet_bytes = 0
    v2, rep2 = store.delete_where("p", "tenant", lo=1, hi=1)
    assert rep2["files_dropped"] >= 1 and rep2["rewrite_output_files"] == 0
    assert be.parquet_bytes == 0, "metadata-only delete moved data bytes"
    assert store.read("p").where("tenant = 1").count() == 0


def test_direct_publish_aborts_on_torn_own_listing(spark, tmp_path):
    """Direct publish must never commit a manifest built from a torn
    listing: a backend whose LIST hides the newest object under-counts
    against the job's observed row count, and the commit ABORTS (no
    marker, version invisible, prior version intact) instead of
    silently losing a file's rows."""
    from taico_data_integration_spark.ops.incremental import TableStore

    class TornBackend(LocalEmulatedBackend):
        tear = False

        def list_tree(self, prefix):
            out = super().list_tree(prefix)
            if TornBackend.tear:
                pq = sorted(k for k in out if k.endswith(".parquet"))
                if pq:
                    out = [k for k in out if k != pq[-1]]
            return out

    be = TornBackend()
    store = TableStore(spark, str(tmp_path), commit=ConditionalPutCommit(be))
    df = spark.range(0, 1000).selectExpr("id AS k")
    store.write("t", df.repartition(3))
    TornBackend.tear = True
    try:
        with pytest.raises(RuntimeError, match="stale listing"):
            store.write("t", df.repartition(3))
    finally:
        TornBackend.tear = False
    # no torn version landed: one committed version, fully readable
    assert [e["v"] for e in store.history("t")] == [0]
    assert store.read("t").count() == 1000


def test_direct_publish_constraint_violation_discards_prefix(
    commit, spark, tmp_path
):
    """A constraint-violating write discards the final prefix entirely on
    both impls — marker-less residue never becomes visible and the
    claimed number is burned."""
    import os as _os

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path), commit=commit)
    store.write("t", spark.range(10).selectExpr("id AS k"))
    store.set_constraint("t", "k_small", "k < 100")
    with pytest.raises(ValueError, match="constraint violation"):
        store.write("t", spark.range(200).selectExpr("id AS k"))
    assert [e["v"] for e in store.history("t")] == [0]
    assert store.read("t").count() == 10
    # the aborted version's prefix is gone; the next write claims a new number
    leftovers = [
        n for n in _os.listdir(_os.path.join(str(tmp_path), "t"))
        if n.startswith("v") and n != "v0000"
    ]
    assert leftovers == []
    v = store.write("t", spark.range(20).selectExpr("id AS k"))
    assert v == 2


class _FsInterceptor:
    """Wrap the filesystem API; record every call ORIGINATING FROM one of
    ``caller_suffixes`` (module-name suffixes) on a path under ``root``
    as a seam escape. Spark's JVM I/O and the backend's own os usage are
    the legitimate implementations underneath and are excluded by call
    site."""

    def __init__(self, root: str, caller_suffixes: tuple[str, ...]):
        self.root = root
        self.caller_suffixes = caller_suffixes
        self.escapes: list[tuple[str, str]] = []
        self._originals: dict = {}

    def _guard(self, name, fn, pathpos=0):
        import sys

        def wrapper(*args, **kwargs):
            caller = sys._getframe(1).f_globals.get("__name__", "")
            if caller.endswith(self.caller_suffixes) and args:
                target = args[pathpos] if len(args) > pathpos else ""
                if isinstance(target, str) and target.startswith(self.root):
                    self.escapes.append((name, target))
            return fn(*args, **kwargs)

        return wrapper

    def __enter__(self):
        import builtins
        import glob as glob_mod
        import os as os_mod
        import shutil as shutil_mod

        self._originals = {
            (os_mod, "listdir"): os_mod.listdir,
            (os_mod, "walk"): os_mod.walk,
            (os_mod, "remove"): os_mod.remove,
            (os_mod, "makedirs"): os_mod.makedirs,
            (os_mod, "rename"): os_mod.rename,
            (os_mod.path, "exists"): os_mod.path.exists,
            (os_mod.path, "isdir"): os_mod.path.isdir,
            (os_mod.path, "isfile"): os_mod.path.isfile,
            (os_mod.path, "getmtime"): os_mod.path.getmtime,
            (os_mod.path, "getsize"): os_mod.path.getsize,
            (shutil_mod, "rmtree"): shutil_mod.rmtree,
            (glob_mod, "glob"): glob_mod.glob,
            (builtins, "open"): builtins.open,
        }
        for (mod, name), fn in self._originals.items():
            setattr(mod, name, self._guard(f"{mod.__name__}.{name}", fn))
        return self

    def __exit__(self, *exc):
        for (mod, name), fn in self._originals.items():
            setattr(mod, name, fn)
        return False


def test_condput_data_plane_never_touches_os_directly(spark, tmp_path):
    """VERDICT r9 #3 ('Done' criterion): with a ConditionalPutCommit
    store, the ENTIRE data plane — version discovery, claims, manifests,
    stats + bloom sidecars, COW mutations, constraints, txn sidecars,
    vacuum with tombstones — routes storage access through the commit
    seam. Proven by interception: every filesystem-API call is wrapped
    and any call ORIGINATING FROM the incremental module on a path under
    the store root is recorded as an escape; the lifecycle below must
    produce zero. (Spark's JVM I/O and the backend's own os usage are
    the legitimate implementations underneath and are excluded by call
    site.)"""
    from taico_data_integration_spark.ops.incremental import TableStore

    root = str(tmp_path / "store")
    with _FsInterceptor(root, ("ops.incremental",)) as icp:
        store = TableStore(
            spark, root, commit=ConditionalPutCommit(LocalEmulatedBackend())
        )
        df = spark.range(0, 8_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
        store.write("t", df.repartition(3))
        store.optimize_layout("t", ["k"], num_files=6)
        store.set_constraint("t", "k_nonneg", "k >= 0")
        store.collect_file_stats("t", ["k"])
        store.read_pruned("t", "k", lo=10, hi=20)
        store.read_point(
            "t", "k", 15, num_bits=1 << 12, num_hashes=4
        )  # builds the bloom sidecar
        store.delete_in("t", "k", [15])
        updates = spark.createDataFrame([(16, -1.0), (10**7, -2.0)], "k bigint, v double")
        store.merge_in("t", updates, "k")
        store.write_with_txn("t", store.read("t"), "app", 0)
        store.last_txn("t", "app")
        store.history("t")
        store.vacuum("t", keep_latest=1, stage_ttl_seconds=0.0)
        assert store.read("t").count() == 8_000
    assert icp.escapes == [], (
        f"data plane escaped the seam: {sorted(set(icp.escapes))[:10]}"
    )


def test_materialize_version_on_conditional_put(spark, tmp_path):
    """VERDICT r10 #6: materialize_version works on the object-store
    commit impl — the export lands through the backend (server-side
    COPY), byte accounting routes through the seam (io_size) instead of
    os.path.getsize (which reported 0), the mixed-transfer mode is
    summarized honestly, and the source version is untouched. The whole
    export runs under the fs interceptor: zero direct filesystem calls
    from the data plane on store paths."""
    from taico_data_integration_spark.ops.incremental import TableStore

    root = str(tmp_path / "store")
    with _FsInterceptor(root, ("ops.incremental",)) as icp:
        store = TableStore(
            spark, root, commit=ConditionalPutCommit(LocalEmulatedBackend())
        )
        df = spark.range(0, 10_000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
        store.write("t", df.repartition(3))
        store.optimize_layout("t", ["k"], num_files=4)
        store.delete_in("t", "k", [7])  # current version holds references
        dest = str(tmp_path / "export")
        rep = store.materialize_version("t", dest)
        assert rep["files"] == 4
        assert rep["mode"] == "copy" and rep["modes"] == {"copy": 4}
        assert rep["bytes"] > 0, "byte accounting bypassed the seam"
        got = spark.read.parquet(dest)  # bare engine read, no TableStore
        assert got.count() == 9_999
        assert store.read("t").count() == 9_999  # source untouched
    assert icp.escapes == [], (
        f"materialize escaped the seam: {sorted(set(icp.escapes))[:10]}"
    )


def test_condput_ivf_store_never_touches_os_directly(spark, tmp_path):
    """VERDICT r10 #1: the IVF index store is part of the data plane —
    its pin sidecar reads/writes must route through the commit seam too.
    The full build → corpus mutate → append → probe lifecycle on a
    ConditionalPutCommit store must produce zero filesystem-API calls
    originating from llm.ivf_store (or ops.incremental) on store paths.
    Before the r11 fix, pin_info read _ivf.json with plain open() — on a
    backend whose objects are not filesystem paths every probe/append
    would crash on a healthy index."""
    from pyspark.sql import functions as F

    from taico_data_integration_spark.llm import ivf_store
    from taico_data_integration_spark.llm.synth import synth_embeddings
    from taico_data_integration_spark.ops.incremental import TableStore

    full = synth_embeddings(spark, 400, n_clusters=8).localCheckpoint()
    first = full.where(F.col("vec_id") < 300)
    rest = full.where(F.col("vec_id") >= 300)
    queries = full.where(F.col("vec_id") < 6).localCheckpoint()

    root = str(tmp_path / "store")
    with _FsInterceptor(root, ("ops.incremental", "llm.ivf_store")) as icp:
        store = TableStore(
            spark, root, commit=ConditionalPutCommit(LocalEmulatedBackend())
        )
        store.write("corpus", first)
        ivf_store.build(store, "corpus", "idx", n_lists=4)
        assert ivf_store.probe(store, "idx", queries, k=3, nprobe=2).count() > 0
        store.merge_in("corpus", rest, "vec_id")  # append-shaped mutation
        out = ivf_store.append(store, "idx")
        assert out["appended"] == 100
        assert ivf_store.pin_info(store, "idx")["corpus_version"] == out[
            "corpus_version"
        ]
        assert ivf_store.probe(store, "idx", queries, k=3, nprobe=2).count() > 0
    assert icp.escapes == [], (
        f"ivf_store escaped the seam: {sorted(set(icp.escapes))[:10]}"
    )


def test_multiprocess_cow_stress_on_conditional_put(spark, tmp_path):
    """VERDICT r10 #5 (+r12): N real writer PROCESSES x COW mutations x
    racing vacuums x racing schema ALTERs (each worker cycles
    add(int) -> widen(bigint) -> drop on its own column, contending the
    manifest's schema/retired/widened histories) on ONE conditional-put
    store. Every worker keeps a ledger of its committed inserts/deletes
    over a private key range and verifies the table against it after
    every op — zero lost updates, zero torn reads; ConcurrentWriteError
    (retried) is the only legitimate failure, and a merge that trips on
    a mid-flight schema change retries the same way. The parent then
    checks the global final state: base rows untouched, each worker's
    range exactly its ledger, pointer/history consistent."""
    import subprocess
    import sys
    import time as _time

    from taico_data_integration_spark.ops.incremental import TableStore

    root = str(tmp_path / "store")
    store = TableStore(
        spark, root, commit=ConditionalPutCommit(LocalEmulatedBackend())
    )
    base = spark.range(0, 5_000).selectExpr("id AS k", "CAST(-1.0 AS DOUBLE) AS v")
    store.write("t", base.repartition(4))
    store.collect_file_stats("t", ["k"])

    worker = os.path.join(os.path.dirname(__file__), "_tablestore_worker.py")
    env = dict(os.environ, PYTHONPATH=os.path.dirname(os.path.dirname(worker)))
    n_workers, n_ops = 3, 8
    procs, results = [], {}
    t0 = _time.time()
    for wid in range(1, n_workers + 1):
        results[wid] = str(tmp_path / f"stress_{wid}.json")
        procs.append(
            subprocess.Popen(
                [sys.executable, worker, "cow_stress", root, str(wid), str(n_ops), results[wid]],
                env=env,
            )
        )
    try:
        for p in procs:
            assert p.wait(timeout=540) == 0
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
    elapsed = _time.time() - t0

    expected_keys = set(range(5_000))
    total_conflicts = 0
    for wid in range(1, n_workers + 1):
        with open(results[wid]) as f:
            rep = json.load(f)
        assert rep["torn"] == [], f"worker {wid} saw torn reads: {rep['torn'][:3]}"
        assert rep["ok"], f"worker {wid} starved or failed: {rep}"
        expected_keys |= set(rep["final_keys"])
        total_conflicts += rep["conflicts"]

    got = {r.k for r in store.read("t").select("k").collect()}
    assert got == expected_keys, (
        f"lost updates: missing {sorted(expected_keys - got)[:10]}, "
        f"phantom {sorted(got - expected_keys)[:10]}"
    )
    hist = store.history("t")
    assert sum(h["is_current"] for h in hist) == 1
    # the run genuinely contended (the retry path executed) on most runs;
    # don't flake when the interleaving happened to serialize
    print(
        f"cow-stress: {n_workers} procs x {n_ops} ops in {elapsed:.0f}s, "
        f"{total_conflicts} conflicts retried, {len(hist)} live versions"
    )


def test_io_size_without_head_reports_unknown_not_full_get(spark, tmp_path):
    """Round 12 (ADVICE r11 low): on a backend without a size() HEAD,
    io_size returns None (accounting is best-effort) instead of GETting
    the whole object — materialize_version must not double an export's
    data transfer just for the byte report."""
    backend = LocalEmulatedBackend()
    # key rooted under tmp_path: a bare relative key writes into the
    # repo checkout (r12 cleanup — "x/obj" debris was committed once)
    obj_key = str(tmp_path / "x" / "obj")
    backend.put_if_absent(obj_key, b"payload-bytes")

    class NoHead:
        def __init__(self, inner):
            self._inner = inner
            self.gets = 0

        def get(self, key):
            self.gets += 1
            return self._inner.get(key)

        def __getattr__(self, name):
            if name == "size":
                raise AttributeError(name)
            return getattr(self._inner, name)

    nh = NoHead(backend)
    commit = ConditionalPutCommit(nh)
    assert commit.io_size(obj_key) is None
    assert nh.gets == 0, "io_size paid a full GET for the report"

    from taico_data_integration_spark.ops.incremental import TableStore

    store = TableStore(spark, str(tmp_path / "s"), commit=ConditionalPutCommit(nh))
    store.write("t", spark.range(0, 100).selectExpr("id AS k"))
    rep = store.materialize_version("t", str(tmp_path / "exp"))
    assert rep["bytes"] is None  # honest unknown, never a partial sum
    assert rep["files"] >= 1
    assert spark.read.parquet(str(tmp_path / "exp")).count() == 100


def test_pointer_read_survives_stale_listing_under_prune_churn(tmp_path):
    """r12 race fix: _latest must never conclude "no pointer" from a stale
    listing whose every entry was pruned between the list and the gets —
    that made a racing writer CAS at a long-pruned low sequence, where the
    put_if_absent SUCCEEDS but every reader takes max(seq), silently losing
    the swap (the multi-process ALTER stress caught a committed add_columns
    vanishing this way). A stale-then-fresh listing must re-list and return
    the live record; an actually-empty log still reads as None."""
    commit = PosixCommit(keep_log=4)
    tdir = str(tmp_path / "t")
    for v in range(12):  # advances the log well past keep_log; prunes ran
        commit.write_pointer(tdir, lambda prev, v=v: {"current": v, "txns": {}})
    live = commit.read_pointer(tdir)
    assert live == {"current": 11, "txns": {}}

    # serve ONE stale listing: only sequence numbers that were pruned away
    ptr_dir = commit._ptr_dir(tdir)
    stale = [os.path.join(ptr_dir, f"ptr-{s:012d}.json") for s in range(0, 4)]
    real_list = commit._obj_list
    served = {"n": 0}

    def stale_once(prefix):
        if prefix == ptr_dir and served["n"] == 0:
            served["n"] += 1
            return stale
        return real_list(prefix)

    commit._obj_list = stale_once
    try:
        assert commit.read_pointer(tdir) == {"current": 11, "txns": {}}
        assert served["n"] == 1  # the stale listing was actually consumed
    finally:
        commit._obj_list = real_list

    # a CAS through the same window lands at the REAL head, not seq 3+1
    served["n"] = 0
    commit._obj_list = stale_once
    try:
        commit.write_pointer(tdir, lambda prev: {"current": 99, "txns": {}})
    finally:
        commit._obj_list = real_list
    assert commit.read_pointer(tdir) == {"current": 99, "txns": {}}

    # genuinely empty log still reads as no-pointer
    assert commit.read_pointer(str(tmp_path / "never")) is None


def test_merge_in_single_snapshot_cannot_erase_concurrent_alter(spark, tmp_path):
    """r12 race fix #2 (found by the multi-process ALTER stress): merge_in
    used to take its target schema from one meta read and its references +
    expect_base from a LATER read inside the candidate probe; an ALTER
    committed between the two passed the conflict check while the recorded
    output schema predated it — silently erasing the ALTER. This pins the
    fix deterministically: an add_columns injected exactly in that window
    must surface as ConcurrentWriteError (retryable), and after the retry
    the added column must still exist."""
    from taico_data_integration_spark.ops.incremental import (
        ConcurrentWriteError,
        TableStore,
    )

    store = TableStore(
        spark, str(tmp_path / "s"), commit=ConditionalPutCommit(LocalEmulatedBackend())
    )
    store.write("t", spark.range(0, 100).selectExpr("id AS k", "CAST(1.0 AS DOUBLE) AS v"))
    store.collect_file_stats("t", ["k"])

    real_probe = store._in_candidates_multi
    fired = {"n": 0}

    def probe_with_interleaved_alter(*args, **kwargs):
        if fired["n"] == 0:
            fired["n"] += 1
            store.add_columns("t", {"c_alter": "int"})  # the concurrent ALTER
        return real_probe(*args, **kwargs)

    store._in_candidates_multi = probe_with_interleaved_alter
    up = spark.createDataFrame([(5, 2.0)], "k bigint, v double")
    try:
        with pytest.raises(ConcurrentWriteError):
            store.merge_in("t", up, "k")
    finally:
        store._in_candidates_multi = real_probe

    assert fired["n"] == 1  # the alter really ran mid-merge
    assert "c_alter" in store.read("t").columns
    # the retry (fresh snapshot, schema now includes the column) succeeds
    up2 = spark.createDataFrame([(5, 2.0, None)], "k bigint, v double, c_alter int")
    store.merge_in("t", up2.selectExpr("k", "v", "CAST(c_alter AS INT) AS c_alter"), "k")
    got = store.read("t")
    assert "c_alter" in got.columns
    assert got.where("k = 5").select("v").collect()[0][0] == 2.0
