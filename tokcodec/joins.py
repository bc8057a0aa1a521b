"""Co-bucketed, shuffle-free joins between encoded tables.

Both tables bucket rows by ``pmod(xxhash64(*salt_cols), n_buckets)``
at write (tokcodec.encode.with_bucket), and the manifest records the
salt (``salt_cols``). Two tables with the SAME salt columns and the
SAME bucket count are therefore co-partitioned on the salt: every
pair of rows that can satisfy an equi-join whose keys cover the salt
lives in the same bucket id. ``join_encoded`` exploits that the way
Spark/Hive bucketed joins and Iceberg's bucket-partition joins do —
bucket by bucket, both sides' blocks decoded executor-side from the
driver's explicit file plan, joined locally with Arrow's hash join —
with NO shuffle at all. Tasks are fed bucket indexes by spark.range,
one contiguous slice of buckets per core (scan_frame's feed); each
task runs the readers' slice scan (tokcodec.scan._scan_slice) once
per side, so every block file is opened at most once, and joins the
two sides' decoded buckets in step. At 10^12 rows the exchange a
shuffled join would need (the whole table, twice) simply never
happens, and decoded task memory is bounded by bucket size
(``n_buckets`` at write controls it).

The reference's Carpet has no join machinery at all — joins happen in
whatever engine consumes the parquet (SURVEY §2.2 relational
category); this is the Spark-native answer with the encoded layout's
own partitioning doing the co-location.

Inside a task, the Acero hash join runs over (key columns, row
index) projections only — payload columns (token arrays, nested
types, which Acero cannot carry through a join) are gathered
afterwards by ``take`` on the matched indices, so the hash table
never holds a token array.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from tokcodec.decode import make_decode_fn
from tokcodec.io_tables import (
    _check_encryption_key,
    _direct_file_rows,
    _expand_uuid_cols,
    _load_table,
    _paths,
    _resolve_as_of,
)
from tokcodec.scan import (
    _bucket_feed,
    _scan_slice,
    _slice_files,
    fill_anchor,
    plan_snapshot,
    removal_plan,
)
from tokcodec.schema import manifest_schema

_ACERO_HOW = {
    "inner": "inner",
    "left": "left outer",
    "left_semi": "left semi",
    "left_anti": "left anti",
}


def _plan_side(spark: SparkSession, path: str, on: list[str],
               columns: list[str] | None, encryption_key: bytes | None,
               as_of_epoch: int | None = None, as_of_ts=None,
               as_of_tag: str | None = None):
    """Slice-scan plan for one join side: the accepted runs per
    bucket, the file rows each task's _slice_files lists its slice's
    files from, how to decode them, and its removal step
    (removal_plan). ``schema``: what the side's scan yields, its
    projection plus any join key outside it. Returns a dict. Time
    travel (``as_of_*``) snapshots the
    side independently — join "training set as of epoch 7" against
    "labels as of tag v2" for reproducible pipelines; bucketing is
    immutable across epochs (appends keep the recorded salt), so
    co-partitioning holds at ANY snapshot pair. No filters in the
    join reader — read through read_encoded for those."""
    as_of_epoch = _resolve_as_of(spark, path, as_of_epoch, as_of_ts,
                                 as_of_tag)
    snap = plan_snapshot(path, as_of_epoch=as_of_epoch)
    by_name = {f.name: f for f in snap.schema.fields}
    missing = [c for c in on if c not in by_name]
    if missing:
        raise ValueError(f"join keys {missing} not in table {path!r}")
    want = list(columns) if columns is not None else list(by_name)
    unknown = set(want) - set(by_name)
    if unknown:
        raise ValueError(
            f"columns not in encoded table: {sorted(unknown)}")
    names = want + [c for c in on if c not in want]
    _check_encryption_key(snap.manifest, names, encryption_key)
    removals, dkeys = removal_plan(snap, names)
    decoded = T.StructType([by_name[c] for c in names] + dkeys)
    fill_from = fill_anchor(snap.files, decoded.fieldNames(), [])
    return {
        "manifest": snap.manifest,
        "schema": T.StructType([by_name[c] for c in names]),
        "want": want,
        "accepted": snap.accepted,
        "file_rows": _direct_file_rows(
            snap.files, {*decoded.fieldNames(), fill_from} - {None},
            _paths(path)[0]),
        "decode": make_decode_fn(decoded, fill_from=fill_from,
                                 encryption_key=encryption_key),
        "removals": removals,
    }


def _salt_of(manifest: dict, path: str) -> list[str]:
    salt = manifest.get("salt_cols") or []
    if not salt:
        raise ValueError(
            f"table at {path!r} is not provably content-bucketed (no "
            "salt_cols in its manifest — written by an older build or "
            "through the DataSource partition-id path); run "
            "compact_encoded once to re-bucket and stamp the salt")
    return salt


def join_encoded(
    spark: SparkSession,
    left_path: str,
    right_path: str,
    on: str | list[str],
    how: str = "inner",
    left_columns: list[str] | None = None,
    right_columns: list[str] | None = None,
    encryption_key: bytes | None = None,
    right_encryption_key: bytes | None = None,
    left_as_of_epoch: int | None = None, left_as_of_ts=None,
    left_as_of_tag: str | None = None,
    right_as_of_epoch: int | None = None, right_as_of_ts=None,
    right_as_of_tag: str | None = None,
) -> DataFrame:
    """Equi-join two encoded tables WITHOUT shuffling either one.

    Requirements (validated against both manifests):
      * same ``n_buckets``
      * same recorded ``salt_cols`` on both tables
      * the salt columns are a subset of the join keys ``on`` (then
        equal keys => equal bucket, so a per-bucket local join is the
        whole join), with identical Spark types on both sides

    Each task scans its slice of buckets once per side
    (tokcodec.scan._scan_slice: every block file opened at most once)
    and joins bucket by bucket as the two scans yield them.

    ``how``: inner | left | left_semi | left_anti. Output columns =
    left side's (projected) columns, then the right side's non-key
    columns (semi/anti: left only). Each side snapshots independently
    via ``left_as_of_epoch/_ts/_tag`` and ``right_as_of_*`` (snapshot
    schema included) — "sequences as of epoch 7 joined to labels as
    of tag v2" for reproducible pipelines; bucketing is immutable
    across epochs, so co-partitioning holds at any snapshot pair.
    Pending equality deletes apply merge-on-read on both sides, under
    every ``how``: each side's slice scan removes its deleted rows
    before the join, so a deleted right row never matches.
    """
    on = [on] if isinstance(on, str) else list(on)
    if how not in _ACERO_HOW:
        raise ValueError(
            f"how={how!r}; supported: {sorted(_ACERO_HOW)}")
    lp = _plan_side(spark, left_path, on, left_columns, encryption_key,
                    as_of_epoch=left_as_of_epoch,
                    as_of_ts=left_as_of_ts, as_of_tag=left_as_of_tag)
    rp = _plan_side(spark, right_path, on, right_columns,
                    right_encryption_key,
                    as_of_epoch=right_as_of_epoch,
                    as_of_ts=right_as_of_ts,
                    as_of_tag=right_as_of_tag)
    lman, rman = lp["manifest"], rp["manifest"]
    lsalt = _salt_of(lman, left_path)
    rsalt = _salt_of(rman, right_path)
    if lsalt != rsalt:
        raise ValueError(
            f"tables are not co-bucketed: salt {lsalt} vs {rsalt}")
    if int(lman["n_buckets"]) != int(rman["n_buckets"]):
        raise ValueError(
            f"tables are not co-bucketed: n_buckets "
            f"{lman['n_buckets']} vs {rman['n_buckets']}")
    if not set(lsalt) <= set(on):
        raise ValueError(
            f"join keys {on} must cover the bucketing salt {lsalt} "
            "(otherwise matching rows may live in different buckets)")
    lby = {f.name: f for f in lp["schema"].fields}
    rby = {f.name: f for f in rp["schema"].fields}
    for k in on:
        if lby[k].dataType != rby[k].dataType:
            raise ValueError(
                f"join key {k!r} type mismatch: "
                f"{lby[k].dataType.simpleString()} vs "
                f"{rby[k].dataType.simpleString()} (the bucket hash "
                "is type-sensitive)")

    semi = how in ("left_semi", "left_anti")
    r_out = [] if semi else [c for c in rp["want"] if c not in on]
    # join keys outside the left projection ride along, dropped at the
    # end
    l_extra = [c for c in lp["schema"].fieldNames()
               if c not in lp["want"]]
    collide = (set(lp["want"] + l_extra) & set(r_out)) - set(on)
    if collide:
        raise ValueError(
            f"column name collision outside join keys: "
            f"{sorted(collide)} — project one side away "
            "(left_columns/right_columns)")
    out_fields = [lby[c] for c in lp["want"] + l_extra]
    if not semi:
        nullable = how == "left"
        out_fields += [
            T.StructField(f.name, f.dataType,
                          f.nullable or nullable)
            for f in (rby[c] for c in r_out)]
    out_schema = T.StructType(out_fields)

    acero_how = _ACERO_HOW[how]
    l_names = lp["schema"].fieldNames()
    # plans broadcast; decode closures ship via the mapInArrow
    # function itself (cloudpickle) — sc.broadcast can't pickle them
    lacc_b = spark.sparkContext.broadcast(lp["accepted"])
    racc_b = spark.sparkContext.broadcast(rp["accepted"])
    lfr_b = spark.sparkContext.broadcast(lp["file_rows"])
    rfr_b = spark.sparkContext.broadcast(rp["file_rows"])
    l_decode, r_decode = lp["decode"], rp["decode"]
    l_rm, r_rm = lp["removals"], rp["removals"]
    r_empty = to_arrow_schema(rp["schema"]).empty_table()

    def fn(batches):
        import numpy as np
        import pyarrow as pa

        all_b = bk_b.value
        bks = sorted(all_b[i] for batch in batches
                     for i in batch.column(0).to_pylist())
        # one slice scan per side; both yield buckets in ascending
        # order, so the right side advances in step with the left
        lacc, racc = lacc_b.value, racc_b.value
        rbks = [b for b in bks if b in racc]
        right = _scan_slice(rbks, _slice_files(rfr_b.value, racc, rbks),
                            (), r_decode, removals=r_rm)
        try:
            rnext = next(right, None)
            for bucket, lt in _scan_slice(
                    bks, _slice_files(lfr_b.value, lacc, bks), (),
                    l_decode, removals=l_rm):
                while rnext is not None and rnext[0] < bucket:
                    rnext = next(right, None)
                rt = rnext[1] if rnext is not None and rnext[0] == bucket \
                    else None
                if rt is None:
                    if how == "inner" or how == "left_semi":
                        continue
                    rt = r_empty
                # hash-join on (keys, row index); payloads gathered by
                # take afterwards (Acero can't carry nested payloads)
                lk = lt.select(on).append_column(
                    "__lidx", pa.array(np.arange(lt.num_rows), pa.int64()))
                rk = rt.select(on).append_column(
                    "__ridx", pa.array(np.arange(rt.num_rows), pa.int64()))
                j = lk.join(rk, keys=on, join_type=acero_how)
                if j.num_rows == 0:
                    continue
                cols = lt.select(l_names).take(j.column("__lidx")).columns
                if r_out:  # a semi or anti join has no __ridx
                    cols += rt.select(r_out).take(j.column("__ridx")).columns
                yield from pa.Table.from_arrays(
                    cols, names=l_names + r_out).to_batches()
        finally:
            right.close()  # its block files

    if how == "inner" or how == "left_semi":
        buckets = sorted(set(lp["accepted"]) & set(rp["accepted"]))
    else:
        buckets = sorted(lp["accepted"])
    bk_b = spark.sparkContext.broadcast(buckets)
    out = _bucket_feed(spark, len(buckets)).mapInArrow(
        fn, schema=out_schema)

    uuid_cols = sorted(
        (set(lman.get("uuid_columns", []))
         | set(rman.get("uuid_columns", [])))
        & set(out_schema.fieldNames()))
    return _expand_uuid_cols(out, uuid_cols).drop(*l_extra)


def join_runtime_filtered(
    spark: SparkSession,
    fact_path: str,
    dim_df: DataFrame,
    on,
    how: str = "inner",
    fact_columns: list[str] | None = None,
    max_keys: int = 65_536,
    bloom_max_keys: int = 4_096,
    encryption_key: bytes | None = None,
    as_of_epoch: int | None = None, as_of_ts=None,
    as_of_tag: str | None = None, since_epoch: int | None = None,
    stats_out: dict | None = None,
) -> DataFrame:
    """Runtime-filter join — the encoded layout's dynamic-partition-
    pruning analogue (Spark DPP / Iceberg runtime filtering): join a
    huge encoded FACT table to a small (usually pre-filtered)
    dimension DataFrame, where the dim side's surviving join keys
    prune fact CHUNKS before anything decodes.

    One tiny job collects the dim's distinct non-null keys (bounded
    by ``max_keys``); if they fit, the key set becomes the fact
    scan's pruning predicate — ``in_filter`` zone probes on int/date/
    timestamp/float/string lanes, plus ``eq_filter`` bloom probes
    (string/binary/uuid, when the key count is within
    ``bloom_max_keys`` — per-chunk probe cost is O(keys)) — then the
    pruned fact broadcast-joins the dim. At 100 TB, "events for the
    12 customers the dim filter kept" decodes ~12 key-clustered
    chunk runs, not the table. Past ``max_keys`` distinct keys the
    scan falls back to the plain read + broadcast join (the join is
    correct either way; only the pruning is best-effort).

    ``on``: fact key column name (same name on the dim), or a
    ``(fact_col, dim_col)`` pair. ``how``: ``inner`` or
    ``left_semi`` ONLY — pruning the fact side drops non-matching
    fact rows, which any outer/anti shape must keep.

    The reference has no join machinery (SURVEY §2.2); Spark's own
    DPP needs partition columns, which the encoded layout replaces
    with zone/bloom chunk pruning.
    """
    if how not in ("inner", "left_semi"):
        raise ValueError(
            f"how={how!r}: runtime-filter pruning drops fact rows "
            "without a dim match — only inner/left_semi are sound")
    fcol, dcol = (on, on) if isinstance(on, str) else tuple(on)
    manifest, _lin = _load_table(spark, fact_path,
                                 as_of_epoch=_resolve_as_of(
                                     spark, fact_path, as_of_epoch,
                                     as_of_ts, as_of_tag))
    schema = manifest_schema(manifest)
    by_name = {f.name: f.dataType for f in schema.fields}
    if fcol not in by_name:
        raise ValueError(f"fact key {fcol!r} not in encoded table")
    dt = by_name[fcol]
    # the join needs the key column even when the caller's projection
    # omits it — read it, join on it, drop it afterwards
    key_added = fact_columns is not None and fcol not in fact_columns
    read_cols = (list(fact_columns) + [fcol]) if key_added \
        else fact_columns
    read_kw = dict(columns=read_cols,
                   encryption_key=encryption_key,
                   as_of_epoch=as_of_epoch, as_of_ts=as_of_ts,
                   as_of_tag=as_of_tag, since_epoch=since_epoch)

    rows = (dim_df.select(F.col(dcol))
            .filter(F.col(dcol).isNotNull())
            .distinct().limit(max_keys + 1).collect())
    keys = [r[0] for r in rows]
    pruning = "none"
    if len(keys) == 0:
        # empty dim: an inner/semi join is empty — skip the scan
        from tokcodec.io_tables import read_encoded as _re

        fact = _re(spark, fact_path, **read_kw).limit(0)
    elif len(keys) > max_keys:
        from tokcodec.io_tables import read_encoded as _re

        fact = _re(spark, fact_path, **read_kw)
    else:
        from tokcodec.io_tables import read_encoded as _re

        is_uuid = fcol in manifest.get("uuid_columns", [])
        enc = fcol in manifest.get("encrypted_columns", [])
        kw = dict(read_kw)
        if is_uuid or enc:
            # uuid keys store as FIXED(16) (zone bounds are raw
            # bytes, not the hyphenated text) and encrypted columns'
            # stats live in the sealed envelope: bloom/envelope eq
            # probes only
            if len(keys) <= bloom_max_keys:
                kw["eq_filter"] = (fcol, keys)
                pruning = "bloom"
        elif isinstance(dt, (T.StringType, T.BinaryType)):
            kw["in_filter"] = (fcol, keys)
            pruning = "zone"
            if len(keys) <= bloom_max_keys:
                kw["eq_filter"] = (fcol, keys)
                pruning = "zone+bloom"
        elif isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                             T.LongType, T.DateType, T.TimestampType,
                             T.TimestampNTZType, T.TimeType,
                             T.FloatType, T.DoubleType)):
            kw["in_filter"] = (fcol, keys)
            pruning = "zone"
        # other lanes (decimal, nested): no pruning, plain scan
        fact = _re(spark, fact_path, **kw)
    if stats_out is not None:
        stats_out.update(keys=min(len(keys), max_keys + 1),
                         pruning=pruning)
    dim = dim_df
    if dcol != fcol:
        if fcol in dim.columns:
            raise ValueError(
                f"dim already has a column named {fcol!r}; project "
                "it away before joining")
        dim = dim.withColumnRenamed(dcol, fcol)
    out = fact.join(F.broadcast(dim), on=[fcol], how=how)
    return out.drop(fcol) if key_added else out
