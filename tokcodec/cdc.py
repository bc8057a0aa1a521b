"""Changelog (CDC) reads over encoded tables — the Iceberg
``create_changelog_view`` analogue for the epoch lineage + equality-
delete log.

``changes_encoded(path, since_epoch=N)`` answers "what changed since
my checkpoint" as a NET change stream: one row per change with a
leading ``_change_type`` column —

  * ``insert`` — rows appended by epochs in ``(since, as_of]``, with
    every delete in force at ``as_of`` already applied (a row that
    was appended AND deleted inside the window nets to nothing, and a
    row born dead under the documented GLOBAL removal-list semantics
    never appears);
  * ``delete`` — the full content of rows that were VISIBLE at the
    ``since`` snapshot and are removed by a delete committed inside
    the window (read from the ``as_of_epoch=since`` snapshot, so
    already-gone rows are never re-deleted).

A consumer that applied the ``since`` snapshot replays the stream —
apply deletes by key, append inserts — and holds exactly the
``as_of`` snapshot; that invariant is what the tests pin. Without
``since_epoch`` the stream degenerates to the full net state (all
inserts, no deletes) — the bootstrap read.

Scale shape: inserts are the ordinary incremental read (explicit file
plan over the window's run manifests — O(window), not O(history));
the delete rows are one scan of the ``since`` snapshot whose slice
scan runs the readers' own removal step over the window's removal
lists, keeping the rows any of them matches instead of dropping them
(tokcodec.scan._decode_slice) — no Spark join; a row matched by lists
on two key columns is one delete row. Deviation from
Iceberg, documented: per-row change
ordering inside the window is not exposed (no ``_epoch`` column) —
the window is the granularity, matching the removal-list delete
model. Rewrites inside the window (compact_encoded, upsert_encoded's
copy-on-write buckets) inherit the incremental-read re-emission
caveat: rewritten rows re-appear as inserts without pre-image
deletes, so checkpoint BEFORE maintenance windows (the same advice
Iceberg gives for rewrite_data_files vs changelog scans).

Reference: Carpet has no table format, so no changelog; this is the
engine-side completion of delete_encoded/since_epoch (SURVEY §2.1
maintenance set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from tokcodec.io_tables import _active_deletes, _resolve_as_of, read_encoded
from tokcodec.scan import plan_snapshot

CHANGE_COL = "_change_type"


def changes_encoded(
    spark: SparkSession, path: str,
    since_epoch: int | None = None,
    as_of_epoch: int | None = None, as_of_ts=None,
    as_of_tag: str | None = None,
    columns: list[str] | None = None,
    encryption_key: bytes | None = None,
) -> DataFrame:
    """Net change stream of ``(since_epoch, as_of]`` — see module
    docstring. ``columns`` projects both the insert and delete rows
    (delete-key columns are decoded inside the scan and dropped there
    when not requested)."""
    as_of_epoch = _resolve_as_of(spark, path, as_of_epoch, as_of_ts,
                                 as_of_tag)
    ins = read_encoded(spark, path, columns=columns,
                       since_epoch=since_epoch,
                       as_of_epoch=as_of_epoch,
                       encryption_key=encryption_key)
    out = ins.select(F.lit("insert").alias(CHANGE_COL), "*")
    if since_epoch is None:
        return out
    win = [d for d in _active_deletes(spark, path,
                                      as_of_epoch=as_of_epoch)
           if d["epoch"] > int(since_epoch)]
    if win:  # a key the since snapshot predates matches no visible row
        snap_names = set(plan_snapshot(
            path, as_of_epoch=since_epoch).schema.fieldNames())
        win = [d for d in win if d["key_column"] in snap_names]
    if not win:
        return out
    # one read of the since snapshot keeps the rows any window list
    # matches; requested columns the snapshot predates come back NULL
    # on them (the pre-image had no value), via allowMissingColumns
    deleted = read_encoded(
        spark, path, columns=None if columns is None
        else [c for c in columns if c in snap_names],
        as_of_epoch=since_epoch, encryption_key=encryption_key,
        _deleted_by=win)
    return out.unionByName(
        deleted.select(F.lit("delete").alias(CHANGE_COL), "*"),
        allowMissingColumns=True)
