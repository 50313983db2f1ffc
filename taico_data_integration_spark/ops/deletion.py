"""Cross-table hard deletion (M8 generalized): remove every row belonging
to a set of subject keys from every table that carries them — the
GDPR-erasure shape of the reference's delete-by-predicate
(include/scripts/sync_data.py:159-164, :264-268).

Each erased table lands as a NEW store version, so the erasure is atomic
per table and auditable/rollbackable (pre-erasure versions stay
addressable until vacuumed — required by the retention contract).

Since round 9 the erasure routes through the file-level copy-on-write
fast path automatically: when the store declares ``cow-mutations`` (see
``formats.CAPABILITY_METHODS``) and the subject set is small enough to
collect, each table goes through ``TableStore.delete_in`` — composite
keys and Hive-partitioned layouts included — so only the files the
subjects actually live in rewrite and everything else is kept by
manifest reference in the new version. At 100 TB that is the difference between rewriting the
table and rewriting a handful of files. Oversized subject sets, stores
without the capability, and contract misses (uncastable keys) fall back transparently to the general path: one
left-anti join against the (small, broadcast) key set, full rewrite.
Results are identical either way (delete_in == the anti-join filter,
pinned by fuzz in test_ops); the per-table report records which path ran.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .formats import TableFormat
from .incremental import CowContractError


def delete_keys(df: DataFrame, keys: DataFrame, key_cols: dict[str, str]) -> DataFrame:
    """Rows of df whose key (df column -> keys column mapping) is absent
    from `keys`. key_cols maps df columns to keys-frame columns."""
    cond = None
    for df_col, key_col in key_cols.items():
        c = df[df_col] == keys[key_col]
        cond = c if cond is None else cond & c
    return df.join(F.broadcast(keys), cond, "left_anti")


def erase_subjects(
    store: TableFormat,
    subject_keys: DataFrame,
    table_key_cols: dict[str, dict[str, str]],
    max_fast_keys: int = 10_000,
) -> dict[str, dict]:
    """Erase subjects from every listed table. table_key_cols:
    {table: {df_col: keys_col}}. Returns per-table before/after counts
    plus the ``path`` each table took (``cow-fast`` / ``full-rewrite`` /
    ``noop``).

    With a ``cow-mutations``-capable store and at most ``max_fast_keys``
    subjects, each table is erased via ``delete_in`` (file-level COW —
    composite keys and partitioned layouts included); larger sets or
    contract misses take the broadcast anti-join full rewrite. Subject
    rows with a NULL key component are skipped on both paths (a
    null-unsafe equality never matches them anyway)."""
    report: dict[str, dict] = {}
    key_rows = None
    if "cow-mutations" in getattr(store, "CAPABILITIES", frozenset()):
        # bounded collect: max_fast_keys + 1 rows decides oversize without
        # materializing an unbounded subject set on the driver
        rows = subject_keys.distinct().limit(max_fast_keys + 1).collect()
        if len(rows) <= max_fast_keys:
            key_rows = rows
    for table, mapping in table_key_cols.items():
        df = store.read(table)
        before = df.count()
        if key_rows is not None:
            cols = list(mapping.keys())
            vals = list(
                dict.fromkeys(
                    t if len(cols) > 1 else t[0]
                    for r in key_rows
                    if None not in (t := tuple(r[mapping[c]] for c in cols))
                )
            )
            if not vals:
                # all-NULL subject keys match nothing: version-free no-op
                report[table] = {
                    "before": before, "after": before, "deleted": 0, "path": "noop",
                }
                continue
            try:
                _, rep = store.delete_in(
                    table,
                    cols if len(cols) > 1 else cols[0],
                    vals,
                    max_values=max_fast_keys,
                )
            except CowContractError:
                # documented contract miss (an uncastable key): full
                # rewrite below. Plain ValueErrors (wrong
                # column name in table_key_cols, arity mismatch) are
                # programming errors and PROPAGATE (ADVICE r9 — the old
                # blanket except masked them and leaked a claimed version
                # per swallow)
                pass
            else:
                after = store.read(table).count()
                report[table] = {
                    "before": before,
                    "after": after,
                    "deleted": before - after,
                    "path": "cow-fast",
                    "files_linked": rep.get("files_linked", 0),
                    "files_rewritten": rep.get("files_rewritten", 0),
                }
                continue
        cleaned = delete_keys(df, subject_keys, mapping)
        # the full rewrite must preserve a partitioned layout — writing
        # without partition_by would silently flatten the table
        pby = (
            store.current_partition_columns(table) or None
            if hasattr(store, "current_partition_columns")
            else None
        )
        store.write(table, cleaned, pby)
        after = store.read(table).count()
        report[table] = {
            "before": before,
            "after": after,
            "deleted": before - after,
            "path": "full-rewrite",
        }
    return report
