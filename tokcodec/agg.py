"""Aggregate pushdown over encoded tables — COUNT / COUNT(col) /
SUM / MIN / MAX answered from per-chunk small materialized aggregates
(Moerkotte, VLDB'98; ≙ DuckDB/parquet answering min/max/count from
row-group stats) with NO decode of fully-covered chunks.

Every top-level scalar chunk's ``values`` block meta carries the zone
bounds [lo, hi] (since r1), the exact null count (``nulls``, r5) and
an overflow-guarded exact value sum (``sum``, r5 — int lanes only).
``aggregate_encoded`` plans like the readers do (lineage -> committed
chunk set) and runs the readers' own prune phase over the block
metadata (tokcodec.scan.chunk_index: _prune_block_table per slice of
buckets, on the driver or in one task per slice). Each slice then
splits its surviving chunks:

  * FULLY-COVERED chunks — every filter's zone proves every row
    passes (lo >= flo and hi <= fhi, and the filter column has zero
    nulls in the chunk) — are aggregated from METADATA alone:
    rows += n_rows, nonnull += n_rows - nulls, sum += sum,
    min/max fold lo/hi. No payload is read, nothing is decoded.
  * PARTIAL chunks (filter boundary, missing stats, all-null with
    unknown counts) are decoded in the same slice by chunk_index's
    decode fold (tokcodec.scan._decode_slice over exactly those
    chunks, with the readers' removal step and exact Arrow residual
    applied) and folded into the slice's partial — correctness never
    depends on the stats.

A slice returns O(1) (scalar) or O(groups) (grouped) partials, which
the driver merges; no Spark job runs on the driver placement. At
100 TB the fast path turns "SUM(x) WHERE day BETWEEN a AND b" into a
metadata pass plus a decode of the two boundary chunks per bucket;
the worst case (nothing covered) decodes what the plain filtered read
would have.

Soundness notes: with pending equality deletes (merge-on-read drops
rows the stats still count) or evolution null-fill on an involved
column (fill rows have no block rows), no chunk's stats are its
answer: every surviving chunk is partial and the decode covers every
chunk the slice keeps, with the readers' fill anchor (scan.fill_anchor)
and removal step. An encrypted column's stats are sealed in its
``emeta`` envelope, so its chunks are partial too and decode with the
key. Coverage is only claimed for int-lane range/in filters — float
filters (NaN rows fail the residual but are invisible to finite zone
bounds), string prefix bounds, disjunctions, bloom eq and contains
filters prune like the readers do and leave their survivors partial.
Decoded sums add the 32-bit halves apart, so they are exact where an
int64 sum could wrap; a chunk's stored sum exists only under
blocks.int_sum_stat's guard. The reference has no aggregate machinery
at all — parquet consumers get this from their engine's row-group
stats; this is the encoded layout's native answer.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from tokcodec.io_tables import (
    _check_encryption_key,
    _filter_list,
    _resolve_as_of,
    read_encoded,
)
from tokcodec.scan import (
    _chunk_key,
    _driver_scan,
    _lane_ints,
    chunk_index,
    fill_anchor,
    plan_snapshot,
    removal_plan,
)
from tokcodec.schema import manifest_schema

_INT_LANES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _values_meta(tbl, columns) -> dict:
    """{column: {(run_id, bucket, chunk): (n_rows, lo, hi, nulls,
    sum)}} for the ``values`` rows of ``columns`` among a slice's
    block rows — exact Python ints from the chunk metas (no float64
    round-trip: sums/bounds may exceed 2**53)."""
    import json

    import pyarrow as pa
    import pyarrow.compute as pc

    t = tbl.filter(pc.and_(
        pc.equal(tbl.column("component"), "values"),
        pc.is_in(tbl.column("column"),
                 value_set=pa.array(sorted(columns), pa.string()))))
    by_col: dict = {}
    for rid, b, c, col, n, meta in zip(*(
            t.column(k).to_pylist() for k in
            ("run_id", "bucket", "chunk", "column", "n_rows", "meta"))):
        m = json.loads(meta or "{}")
        by_col.setdefault(col, {})[(rid, b, c)] = (n, *(
            None if m.get(f) is None else int(m[f])
            for f in ("lo", "hi", "nulls", "sum")))
    return by_col


def _n_values(tbl, column: str) -> int:
    """How many ``values`` chunks of ``column`` a slice holds."""
    import pyarrow.compute as pc

    return tbl.filter(pc.and_(
        pc.equal(tbl.column("column"), column),
        pc.equal(tbl.column("component"), "values"))).num_rows


def _cover_filters(specs) -> list:
    """Per normalized filter (Snapshot.specs), the cover test's form:
    (col, storage-int bounds, in_exact) for an int-lane zone range/in —
    the only shapes a chunk's (lo, hi, nulls) can prove covered — else
    None (blooms, string/float zones, disjunctions: pruning only, their
    survivors are partial)."""
    return [(nf["col"], nf["bounds"], nf.get("in_exact", True))
            if nf["kind"] == "zone" and nf["lane"] == "int" else None
            for nf in specs]


def _chunk_covered(by_col, key, zf) -> bool:
    """Does every filter provably pass every row of one surviving
    chunk? THE cover decision of the scalar and grouped folds, so the
    rule can never diverge between them: each filter is an int-zone
    range/in whose column's zone in the chunk sits inside one gap-free
    bound (in_exact gates the hull case) with zero nulls. A chunk
    whose filter column has no stats is never covered."""
    for f in zf:
        if f is None:
            return False
        fcol, bounds, exact = f
        fr = by_col.get(fcol, {}).get(key)
        if fr is None or fr[1] is None or fr[2] is None or fr[3] != 0:
            return False
        if not (exact and any(fr[1] >= b_lo and fr[2] <= b_hi
                              for b_lo, b_hi in bounds)):
            return False
    return True


def _fold_group(acc: list, n, nonnull, s, lo, hi) -> None:
    """Fold a chunk's (or a group partial's) counts into a group
    accumulator [n_rows, nonnull, sum, min, max]; a None sum or bound
    adds nothing."""
    acc[0] += n
    acc[1] += nonnull
    if s is not None:
        acc[2] = s if acc[2] is None else acc[2] + s
    if lo is not None:
        acc[3] = lo if acc[3] is None or lo < acc[3] else acc[3]
        acc[4] = hi if acc[4] is None or hi > acc[4] else acc[4]


def _decoded_partials(tbl, column, group_col=None,
                      elements=False) -> list:
    """Exact (group, n_rows, nonnull, sum, min, max) of ``column``'s
    storage ints (scan._lane_ints) in one decoded bucket: one tuple per
    storage-int value of ``group_col`` (None: the NULL group), or one
    with group None without it. ``elements`` folds the elements of a
    flat array column (null arrays hold none). Sums add the 32-bit
    halves apart, so they are exact where an int64 sum could wrap."""
    import pyarrow as pa
    import pyarrow.compute as pc

    v = tbl.column(column).combine_chunks()
    v = _lane_ints(pc.list_flatten(v) if elements else v)
    cols = {"v": v, "hi": pc.shift_right(v, 32),
            "lo": pc.bit_wise_and(v, 0xFFFFFFFF)}
    if group_col is not None:
        cols["g"] = _lane_ints(tbl.column(group_col).combine_chunks())
    out = pa.table(cols).group_by(["g"] if group_col else []).aggregate(
        [([], "count_all"), ("v", "count"), ("hi", "sum"), ("lo", "sum"),
         ("v", "min"), ("v", "max")])
    return [(r.get("g"), r["count_all"], r["v_count"],
             None if r["hi_sum"] is None
             else (r["hi_sum"] << 32) + r["lo_sum"], r["v_min"], r["v_max"])
            for r in out.to_pylist()]


def _aggregate(spark, snap, column, group_col=None, elements=False,
               encryption_key: bytes | None = None):
    """THE aggregate pass of aggregate_encoded (``group_col`` None) and
    aggregate_encoded_grouped: one chunk_index over the plan, whose
    metadata fold answers each slice's covered chunks — and, grouped,
    single-group chunks (the group column's zone a point, zero nulls) —
    from their metas, and whose decode fold decodes the slice's other
    surviving chunks in the slice. Returns ({group storage int (None
    ungrouped): [n_rows, nonnull, sum, min, max]}, chunks_meta,
    chunks_decoded, chunks_total), in storage ints."""
    from tokcodec.decode import make_decode_fn

    agg_cols = [c for c in (group_col, column) if c]
    names = list(dict.fromkeys(agg_cols + snap.filter_columns))
    by_name = {f.name: f for f in snap.schema.fields}
    missing = [c for c in names if c not in by_name]
    if missing:
        raise ValueError(f"columns {missing} do not exist in the "
                         "snapshot's schema")
    _check_encryption_key(snap.manifest, names, encryption_key)
    removals, dkeys = removal_plan(snap, names)
    schema = T.StructType([by_name[c] for c in names] + dkeys)
    fill = fill_anchor(snap.files, schema.fieldNames(), snap.filter_columns,
                       snap.specs)
    # deletes and evolution fill: no chunk's stats are its answer, so
    # the decode takes every chunk the slice keeps (the anchor's too)
    whole = bool(removals) or fill is not None
    zf = _cover_filters(snap.specs)
    cover_cols = set(agg_cols) | {f[0] for f in zf if f is not None}

    def fold(blocks, kept):
        by_col = _values_meta(kept, cover_cols)
        gmeta = by_col.get(group_col, {})
        groups: dict = {}
        partial, n_meta = [], 0
        for key, (n, lo, hi, nulls, s) in by_col.get(column, {}).items():
            # grouped, only a chunk whose group zone is a point with no
            # nulls holds a single group
            g = gmeta.get(key, (0, None, None, None)) if group_col \
                else None
            single = g is None or (g[1] is not None and g[1] == g[2]
                                   and g[3] == 0)
            if not whole and single and _chunk_covered(by_col, key, zf) \
                    and nulls is not None and (s is not None or nulls == n):
                n_meta += 1
                _fold_group(groups.setdefault(
                    None if g is None else g[1], [0, 0, None, None, None]),
                    n, n - nulls, s, lo, hi)
            else:
                partial.append(key)
        return {"groups": groups, "n_total": _n_values(blocks, column),
                "n_meta": n_meta, "n_decoded": len(partial),
                "decode": partial if not whole
                else list(set(zip(*(kept.column(c).to_pylist() for c in
                                    ("run_id", "bucket", "chunk")))))}

    def dfold(part, tbl):
        for g, *acc in _decoded_partials(tbl, column, group_col, elements):
            _fold_group(part["groups"].setdefault(g, [0, 0, None, None,
                                                      None]), *acc)

    decode = make_decode_fn(schema, fill_from=fill,
                            encryption_key=encryption_key)
    groups: dict = {}
    n_meta = n_decoded = n_total = 0
    for p in chunk_index(spark, snap, {*schema.fieldNames(), fill} - {None},
                         fold, encryption_key=encryption_key,
                         decode=(decode, dfold, removals)):
        for g, acc in p["groups"].items():
            _fold_group(groups.setdefault(g, [0, 0, None, None, None]),
                        *acc)
        n_meta += p["n_meta"]
        n_decoded += p["n_decoded"]
        n_total += p["n_total"]
    return groups, n_meta, n_decoded, n_total


def aggregate_encoded(
    spark: SparkSession, path: str, column: str,
    range_filter=None, in_filter=None, eq_filter=None,
    contains_filter=None, or_filter=None,
    encryption_key: bytes | None = None,
    as_of_epoch: int | None = None, as_of_ts=None,
    as_of_tag: str | None = None, since_epoch: int | None = None,
    elements: bool = False,
) -> dict:
    """Exact ``{rows, nonnull, sum, min, max}`` of one int/decimal
    column under the readers' filter surface, plus telemetry
    ``{chunks_total, chunks_scanned, chunks_meta, chunks_decoded,
    path}`` (chunks_meta answered without decoding anything; path
    "meta", or "meta+decode" when some chunk was decoded). Filters
    take the same shapes read_encoded does. SQL alignment: ``rows`` is
    COUNT(*), ``nonnull`` is COUNT(column); ``sum``/``min``/``max``
    are NULL (None) when no non-null row passes.

    ``elements=True`` aggregates over the ELEMENTS of a flat
    ``array<int>`` column (the tokens lane): ``rows`` becomes the
    total element count, ``nonnull``/``sum``/``min``/``max`` fold the
    element values — "how many tokens, their checksum, the vocab
    range" at corpus scale from metadata alone. A flat list's element
    chunks carry the same stats a scalar's do (the element leaf IS a
    ``values`` component), and row-level filter coverage transfers:
    a chunk all of whose ROWS pass contributes all of its elements.
    """
    as_of_epoch = _resolve_as_of(spark, path, as_of_epoch, as_of_ts,
                                 as_of_tag)
    snap = plan_snapshot(path, as_of_epoch=as_of_epoch,
                         since_epoch=since_epoch,
                         filters=_filter_list(range_filter, in_filter,
                                              eq_filter, contains_filter,
                                              or_filter))
    by_name = {f.name: f for f in manifest_schema(snap.manifest).fields}
    if column not in by_name:
        raise ValueError(f"column {column!r} not in encoded table")
    dt = by_name[column].dataType
    if elements:
        if not (isinstance(dt, T.ArrayType)
                and isinstance(dt.elementType, _INT_LANES)):
            raise ValueError(
                f"elements=True needs a flat array<int> column; "
                f"{column!r} is {dt.simpleString()}")
        dt = dt.elementType
    scale = 0
    if isinstance(dt, T.DecimalType):
        if dt.precision > 18:
            raise ValueError(
                f"aggregate_encoded: decimal({dt.precision},{dt.scale})"
                " stores as opaque 16-byte binary — no sum stats; read"
                " + aggregate instead")
        scale = dt.scale
    elif not isinstance(dt, _INT_LANES):
        raise ValueError(
            f"aggregate_encoded supports int and decimal(<=18) "
            f"columns; {column!r} is {dt.simpleString()} — read + "
            "aggregate instead")

    def _to_logical(x):
        return Decimal(int(x)).scaleb(-scale) if scale else int(x)

    groups, n_meta, n_decoded, n_total = _aggregate(
        spark, snap, column, elements=elements,
        encryption_key=encryption_key)
    rows, nonnull, total, mn, mx = groups.get(None, [0, 0, None, None,
                                                     None])
    return {
        "rows": rows, "nonnull": nonnull,
        "sum": _to_logical(total) if nonnull else None,
        "min": _to_logical(mn) if nonnull else None,
        "max": _to_logical(mx) if nonnull else None,
        "chunks_total": n_total, "chunks_scanned": n_meta + n_decoded,
        "chunks_meta": n_meta, "chunks_decoded": n_decoded,
        "path": "meta+decode" if n_decoded else "meta",
    }


def aggregate_encoded_grouped(
    spark: SparkSession, path: str, group_col: str, column: str,
    range_filter=None, in_filter=None, eq_filter=None,
    contains_filter=None, or_filter=None,
    encryption_key: bytes | None = None,
    as_of_epoch: int | None = None, as_of_ts=None,
    as_of_tag: str | None = None, since_epoch: int | None = None,
    stats_out: dict | None = None,
) -> DataFrame:
    """GROUPED aggregate pushdown: one row per ``group_col`` value
    with ``n_rows`` (COUNT(*)), ``nonnull`` (COUNT(column)), ``sum``,
    ``min``, ``max`` of ``column`` — the "daily rollup" shape.

    Chunks that (a) every filter provably covers and (b) hold exactly
    ONE group value (the group column's zone is a point: lo == hi,
    zero nulls) contribute from METADATA alone; cluster the table by
    the group column at write (``cluster_by=group_col``) and interior
    chunks never decode — only group-boundary chunks do. Every other
    surviving chunk is decoded in the slice that pruned it, like
    aggregate_encoded's (deletes, evolution fill and encrypted columns
    included), and folded into the slice's per-group partial, O(groups)
    per slice; the driver merges the partials into a local relation,
    so no Spark job runs on the driver placement. At 100 TB a
    day-clustered events table answers "per-day event count + value
    sum" with a metadata pass plus a decode of ~one straddler chunk
    per day per bucket.

    ``group_col``: int-lane scalar (ints, DATE, TIMESTAMP — storage
    ints convert back to logical values). ``column``: plain int
    column (decimal/float: use read_encoded + groupBy). Rows whose
    group value is NULL form SQL's NULL group (only decoded chunks
    hold them — a chunk containing them is never single-group).
    ``stats_out`` (optional dict) receives {chunks_total, chunks_meta,
    chunks_decoded, path} telemetry.
    """
    import pyarrow as pa

    from tokcodec.schema import spark_type_to_arrow

    as_of_epoch = _resolve_as_of(spark, path, as_of_epoch, as_of_ts,
                                 as_of_tag)
    snap = plan_snapshot(path, as_of_epoch=as_of_epoch,
                         since_epoch=since_epoch,
                         filters=_filter_list(range_filter, in_filter,
                                              eq_filter, contains_filter,
                                              or_filter))
    by_name = {f.name: f for f in manifest_schema(snap.manifest).fields}
    for c in (group_col, column):
        if c not in by_name:
            raise ValueError(f"column {c!r} not in encoded table")
    gdt = by_name[group_col].dataType
    adt = by_name[column].dataType
    if not isinstance(gdt, (*_INT_LANES, T.DateType, T.TimestampType)):
        raise ValueError(
            f"group column must be int/date/timestamp; {group_col!r} "
            f"is {gdt.simpleString()}")
    if not isinstance(adt, _INT_LANES):
        raise ValueError(
            f"grouped pushdown aggregates plain int columns; "
            f"{column!r} is {adt.simpleString()} — read_encoded + "
            "groupBy instead")

    groups, n_meta, n_decoded, n_total = _aggregate(
        spark, snap, column, group_col=group_col,
        encryption_key=encryption_key)
    if stats_out is not None:
        stats_out.update(chunks_total=n_total, chunks_meta=n_meta,
                         chunks_decoded=n_decoded,
                         path="meta+decode" if n_decoded else "meta")
    # storage ints back to the group column's type (days -> date32,
    # epoch-µs -> timestamp: zero-copy views)
    gtype = spark_type_to_arrow(gdt)
    keys = pa.array(list(groups), pa.int64())
    keys = keys.cast(pa.int32()).view(gtype) if pa.types.is_date32(gtype) \
        else keys.view(gtype) if pa.types.is_temporal(gtype) \
        else keys.cast(gtype)
    accs = list(zip(*groups.values())) or [()] * 5
    out = pa.Table.from_arrays(
        [keys] + [pa.array(a, pa.int64()) for a in accs],
        [group_col, "n_rows", "nonnull", "sum", "min", "max"])
    return spark.createDataFrame(out, T.StructType(
        [T.StructField(group_col, gdt)]
        + [T.StructField(c, T.LongType())
           for c in ("n_rows", "nonnull", "sum", "min", "max")]))


def quantile_encoded(
    spark: SparkSession, path: str, column: str, q,
    encryption_key: bytes | None = None,
    as_of_epoch: int | None = None, as_of_ts=None,
    as_of_tag: str | None = None, since_epoch: int | None = None,
    stats_out: dict | None = None,
):
    """EXACT discrete quantile(s) of an int/date/timestamp/decimal
    column with bounded decode — zone maps turn "p99 over 10^12 rows"
    into a metadata pass plus a decode of the few chunks whose [lo,
    hi] window can contain the target rank.

    Semantics = SQL's discrete quantile (DuckDB ``quantile_disc``,
    Spark ``percentile_approx`` exact mode): the value at 1-based
    rank ``max(1, ceil(q * n_nonnull))`` in sorted order, nulls
    excluded. ``q`` is one float or a list; a list shares one plan
    and one decode (the candidate windows union).

    How: one metadata pass collects each chunk's (lo, hi, nonnull).
    For rank k, any chunk that could hold the k-th value satisfies
    "rows surely below it < k" and "rows surely above it < n - k + 1"
    (sure = chunks with hi < lo_c / lo > hi_c); those candidates span
    a VALUE window [A_k, B_k] that must contain the k-th value, and
    the decode set is every chunk overlapping any rank's window — so
    each undecoded chunk lies entirely below A_k (its rows counted)
    or entirely above B_k, keeping the arithmetic exact even under
    ties: answer = (k - rows_below_A_k)-th smallest of the decoded
    rows. Cluster the table by the column at write and the window is
    ~one chunk per bucket; an unclustered column degrades to decoding
    everything — the plain exact quantile the user would have
    computed anyway. Rows of runs that predate the column are NULL,
    so they never rank.

    The candidate chunks decode in the slice scan's own placement
    (scan._driver_scan): when their rows, at 17 bytes a row, total at
    most io_tables._DRIVER_MAX_BYTES, the driver decodes them and
    sorts the storage ints once for every rank, with zero Spark jobs;
    past the cap one Spark sort-limit job runs per rank. With pending
    deletes, or chunks whose stats are unknown (encrypted columns,
    pre-r5 chunks without null counts), no rank can be placed from
    metadata, so every chunk decodes the same way, with the readers'
    removal step, placed by the readers' own bound. Returns one value (or a list,
    matching ``q``); None when the table has no non-null rows.
    """
    import dataclasses
    import math

    import numpy as np

    from tokcodec.decode import make_decode_fn

    qs = [float(x) for x in (q if isinstance(q, (list, tuple)) else [q])]
    for x in qs:
        if not 0.0 <= x <= 1.0:
            raise ValueError(f"quantile out of [0, 1]: {x}")
    as_of_epoch = _resolve_as_of(spark, path, as_of_epoch, as_of_ts,
                                 as_of_tag)
    snap = plan_snapshot(path, as_of_epoch=as_of_epoch,
                         since_epoch=since_epoch)
    by_name = {f.name: f for f in manifest_schema(snap.manifest).fields}
    if column not in by_name:
        raise ValueError(f"column {column!r} not in encoded table")
    dt = by_name[column].dataType
    ok = isinstance(dt, (*_INT_LANES, T.DateType, T.TimestampType)) \
        or (isinstance(dt, T.DecimalType) and dt.precision <= 18)
    if not ok:
        raise ValueError(
            f"quantile_encoded needs an int-lane column; {column!r} "
            f"is {dt.simpleString()}")
    _check_encryption_key(snap.manifest, [column], encryption_key)

    def _one(x):
        return x[0] if not isinstance(q, (list, tuple)) else x

    def _logical(x):
        if isinstance(dt, T.DecimalType):
            return Decimal(x).scaleb(-dt.scale)
        return dt.fromInternal(x) if isinstance(
            dt, (T.DateType, T.TimestampType)) else x

    def _ranked(local, below: dict, n: int) -> list:
        """The values at the ranks of ``qs`` among ``n`` non-null rows,
        from the decoded tables ``local`` (sorted once) and the rows
        ``below`` each rank's window; mirrors sort-limit-max."""
        vals = np.sort(np.concatenate(
            [_lane_ints(t.column(column).combine_chunks()).drop_null()
             .to_numpy() for t in local] + [np.zeros(0, np.int64)]))
        out = []
        for x in qs:
            k = max(1, math.ceil(x * n))
            kk = k - below.get(k, 0)
            out.append(_logical(int(vals[min(kk, len(vals)) - 1]))
                       if len(vals) and kk >= 1 else None)
        return out

    read_kw = dict(encryption_key=encryption_key,
                   as_of_epoch=as_of_epoch, since_epoch=since_epoch)

    def _spark_ranks(df, below: dict, n: int) -> list:
        """Past the cap: one sort-limit job per rank over ``df``."""
        df = df.filter(F.col(column).isNotNull()).persist()
        try:
            n = df.count() if n is None else n
            out = {}
            for x in qs:
                k = max(1, math.ceil(x * n))
                out[k] = df.sort(column).limit(k - below.get(k, 0)) \
                    .agg(F.max(column)).collect()[0][0] if n else None
            return [out[max(1, math.ceil(x * n))] for x in qs]
        finally:
            df.unpersist()

    # one metadata pass over the column's chunk stats (chunk_index:
    # on the driver, or one task per slice past the cap)
    acol: dict = {}
    for p in chunk_index(spark, snap, {column}, lambda blocks, _kept:
                         _values_meta(blocks, {column}).get(column, {})):
        acol.update(p)
    if stats_out is not None:
        stats_out.update(chunks_total=len(acol))
    if snap.deletes or any(m[3] is None for m in acol.values()):
        # no rank can be placed from metadata: decode every chunk
        if stats_out is not None:
            stats_out.update(chunks_decoded=len(acol), path="meta+decode")
        removals, dkeys = removal_plan(snap, [column])
        schema = T.StructType([by_name[column]] + dkeys)
        fill = fill_anchor(snap.files, schema.fieldNames(), [])
        local = _driver_scan(
            spark, snap, make_decode_fn(schema, fill_from=fill,
                                        encryption_key=encryption_key),
            {*schema.fieldNames(), fill} - {None},
            encryption_key=encryption_key, removals=removals)
        if local is None:
            return _one(_spark_ranks(read_encoded(
                spark, path, columns=[column], **read_kw), {}, None))
        n = sum(t.num_rows - t.column(column).null_count for t in local)
        return _one(_ranked(local, {}, n) if n else [None] * len(qs))
    n = sum(m[0] - m[3] for m in acol.values())
    if stats_out is not None:
        stats_out.update(n_nonnull=n)
    if n == 0:
        if stats_out is not None:
            stats_out.update(chunks_decoded=0, path="meta")
        return _one([None] * len(qs))

    ks = sorted({max(1, math.ceil(x * n)) for x in qs})
    valued = [(k, m) for k, m in acol.items() if m[1] is not None]
    lo = np.array([m[1] for _k, m in valued], dtype=np.int64)
    hi = np.array([m[2] for _k, m in valued], dtype=np.int64)
    nn = np.array([m[0] - m[3] for _k, m in valued], dtype=np.int64)
    # rows surely below chunk c = sum nn over chunks with hi < lo_c;
    # surely above = sum nn over chunks with lo > hi_c. Sorted prefix
    # sums make this O(chunks log chunks) driver work — ~10^6 chunk
    # stats at 100 TB stay sub-second.
    hi_order = np.sort(hi)
    nn_by_hi = nn[np.argsort(hi, kind="stable")]
    csum_hi = np.concatenate([[0], np.cumsum(nn_by_hi)])
    below_c = csum_hi[np.searchsorted(hi_order, lo, side="left")]
    lo_order = np.sort(lo)
    nn_by_lo = nn[np.argsort(lo, kind="stable")]
    csum_lo = np.concatenate([[0], np.cumsum(nn_by_lo)])
    above_c = csum_lo[-1] - csum_lo[
        np.searchsorted(lo_order, hi, side="right")]
    # per-rank VALUE window [A_k, B_k] over the candidate chunks,
    # then decode every chunk overlapping any window (one pass — no
    # transitive closure, which on staggered multi-bucket boundaries
    # would chain across the whole value space). The k-th value lies
    # in [A_k, B_k]; every undecoded chunk sits entirely below A_k
    # (counted in below_k) or entirely above B_k, so ties stay exact.
    decode_set = np.zeros(len(valued), dtype=bool)
    windows = {}
    for k in ks:
        c_k = (below_c < k) & ((n - above_c) >= k)
        a_k, b_k = int(lo[c_k].min()), int(hi[c_k].max())
        windows[k] = (a_k, b_k)
        decode_set |= (hi >= a_k) & (lo <= b_k)
    below_k = {k: int(nn[~decode_set & (hi < windows[k][0])].sum())
               for k in ks}
    cand = sorted(valued[i][0] for i in np.flatnonzero(decode_set))
    if stats_out is not None:
        stats_out.update(chunks_decoded=len(cand), path="meta+decode")
    # only the candidates' (run, bucket)s enter the plan; their chunks
    # all hold the column, so no evolution fill is needed
    pairs = {(r, b) for r, b, _c in cand}
    local = _driver_scan(
        spark, dataclasses.replace(snap, accepted={
            b: kept for b, rs in snap.accepted.items()
            if (kept := [r for r in rs if (r, b) in pairs])}),
        make_decode_fn(T.StructType([by_name[column]]),
                       encryption_key=encryption_key),
        {column}, chunks={_chunk_key(*k) for k in cand},
        encryption_key=encryption_key,
        # an int lane decodes to at most 16 bytes a row (decimal128)
        # and a validity bit, so the candidates' rows bound the decode
        size=17 * sum(acol[k][0] for k in cand))
    if local is None:
        return _one(_spark_ranks(read_encoded(
            spark, path, columns=[column], _chunk_subset=cand,
            **read_kw), below_k, n))
    return _one(_ranked(local, below_k, n))
