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
    unknown counts) are decoded through read_encoded restricted to
    exactly that chunk set (a chunk allow-list in the scan task) with
    the exact residual applied — correctness never depends on the
    stats.

The driver merges the slices' partials. At 100 TB the fast path
turns "SUM(x) WHERE day BETWEEN a AND b" into a metadata pass plus a
decode of the two boundary chunks per bucket; the worst case (nothing
covered) degenerates to the plain filtered read the user would have
run anyway.

Soundness notes: the metadata path is disabled wholesale when the
table has pending equality deletes (merge-on-read would drop rows the
stats still count), when evolution null-fill is active for any
involved column (fill rows have no block rows), or when the agg or a
filter column is encrypted (stats live in the sealed emeta envelope);
those cases route through the ordinary exact read. Coverage is only
claimed for int-lane range/in filters — float filters (NaN rows fail
residuals but are invisible to finite zone bounds), string prefix
bounds, disjunctions, bloom eq and contains filters prune like the
readers do and mark all their survivors partial. The reference has no
aggregate machinery at all — parquet consumers get this from their
engine's row-group stats; this is the encoded layout's native answer.
"""

from __future__ import annotations

import posixpath
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from tokcodec.io_tables import (
    _evolution_fill_columns,
    _fan_out,
    _filter_list,
    _normalize_filter,
    _resolve_as_of,
    read_encoded,
)
from tokcodec.scan import chunk_index, plan_snapshot
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


def _restrict(by_col: dict, keys) -> dict:
    """``by_col`` (_values_meta) cut to the chunks ``keys``: the meta
    a slice hands the driver for its partial chunks."""
    return {c: {k: m[k] for k in keys if k in m}
            for c, m in by_col.items()}


# Driver-side decode cap for the partial-chunk fallback: past this
# many stored values the boundary decode is real data work and belongs
# in a Spark job; under it, the job's fixed scheduling latency (~0.3 s)
# dwarfs the decode itself, so the driver reads the handful of block
# payloads with pyarrow and runs the SAME codec decoders the executors
# would (the _commit_lineage_local argument applied to reads). The cap
# is sized against the metadata fan-out that reads those files
# (io_tables._fan_out): 2M int64 values are 16 MB decoded, which the
# _META_IO_THREADS reader threads fetch and decode in well under one
# job's latency; raise the cap only together with the thread count.
_DRIVER_DECODE_MAX_VALUES = 1 << 21


def _driver_chunk_values(path, files, columns, keys):
    """Driver-side decode of the ``values`` component of a SMALL chunk
    set for int-lane columns: {column: {key: int64 ndarray}} with key =
    (run_id, bucket, chunk). Caller guarantees (via the chunk metas)
    that every requested chunk has zero nulls — the null-fill defaults
    inside ``values`` are then real data and no validity component is
    needed. Returns None when any requested chunk's block row cannot
    be found (caller falls back to the distributed decode)."""
    import numpy as np
    import pyarrow.parquet as pq

    from tokcodec.blocks import decode_int_component
    from tokcodec.io_tables import _paths, _task_fs

    blocks_p, _, _ = _paths(path)
    by_run_bucket: dict[str, set[int]] = {}
    for rid, b, _c in keys:
        by_run_bucket.setdefault(rid, set()).add(int(b))
    want = {(c, k) for c in columns for k in keys}
    out: dict[str, dict] = {c: {} for c in columns}

    def _read_one(args):
        fp, buckets = args
        fs, root = _task_fs(posixpath.join(blocks_p, fp))
        with fs.open_input_file(root) as f:
            return pq.read_table(
                f, filters=[("bucket", "in", sorted(buckets)),
                            ("component", "=", "values")])

    plan = []
    for f in files:
        if f["column"] not in columns:
            continue
        buckets = {
            b for lo, hi in f["bucket_ranges"]
            for b in by_run_bucket.get(f["run_id"], ())
            if lo <= b <= hi
        }
        if buckets:
            plan.append((f["path"], buckets))
    keyset = set(keys)
    for t in _fan_out(_read_one, plan):
        for r in t.to_pylist():
            k = (r["run_id"], int(r["bucket"]), int(r["chunk"]))
            if k not in keyset or r["column"] not in columns:
                continue
            out[r["column"]][k] = decode_int_component(
                r, out_dtype=np.int64)
            want.discard((r["column"], k))
    if want:
        return None
    return out


def _driver_partial_keys_ok(by_col, involved, keys):
    """Can the driver decode these partial chunks exactly? Every
    involved column's chunk must be present in ``by_col`` (the partial
    chunks' metas, _values_meta) with a KNOWN ZERO null count (values
    are then null-fill-free), and the total stored values must stay
    under the driver cap. Returns the total row count, or None when
    ineligible."""
    total = 0
    for k in keys:
        for c in involved:
            r = by_col.get(c, {}).get(k)
            if r is None or r[3] != 0:
                return None
        total += by_col[next(iter(involved))][k][0]
    if total > _DRIVER_DECODE_MAX_VALUES:
        return None
    return total


def _driver_partial_agg(path, files, column, by_col, zf, keys):
    """Driver-side exact (rows, nonnull, sum, min, max) over the
    partial chunk set — the same residual-filtered aggregate the
    distributed _decode_path computes, minus the Spark job. Only for
    pure range-filter reads (the residual is then exactly the stored
    [lo, hi] window test); None -> caller uses the Spark path."""
    import numpy as np

    if not _pure_ranges(zf):
        return None
    involved = {column} | {c for _k, c, _b, _e in zf}
    total = _driver_partial_keys_ok(by_col, involved, keys)
    if total is None:
        return None
    # int64-sum overflow guard, same bound as blocks.int_sum_stat
    mag = 0
    for k in keys:
        _n, lo, hi, _nl, _s = by_col[column][k]
        if lo is not None:
            mag = max(mag, abs(int(lo)), abs(int(hi)))
    if mag and mag.bit_length() + max(total - 1, 1).bit_length() + 1 >= 63:
        return None
    vals = _driver_chunk_values(path, files, involved, keys)
    if vals is None:
        return None
    rows = nonnull = s = 0
    mn = mx = None
    for k in keys:
        mask = None
        for _kind, c, bounds, _e in zf:
            (flo, fhi), = bounds
            v = vals[c][k]
            m = (v >= flo) & (v <= fhi)
            mask = m if mask is None else (mask & m)
        av = vals[column][k]
        if mask is not None:
            av = av[mask]
        if not len(av):
            continue
        rows += len(av)
        nonnull += len(av)
        s += int(av.sum(dtype=np.int64))
        lo, hi = int(av.min()), int(av.max())
        mn = lo if mn is None or lo < mn else mn
        mx = hi if mx is None or hi > mx else mx
    return {"rows": rows, "nonnull": nonnull, "s": s, "mn": mn,
            "mx": mx}


def _pure_ranges(zf) -> bool:
    """Is every filter a single int-zone range? The driver decode of
    partial chunks then applies the exact residual itself (the stored
    [lo, hi] window test)."""
    return all(f is not None and f[0] == "range" and len(f[2]) == 1
               for f in zf)


def _cover_filters(schema, manifest, filts) -> list:
    """Per filter, the cover test's normalized form: (kind, col,
    storage-int bounds, in_exact) for an int-lane zone range/in — the
    only shapes a chunk's (lo, hi, nulls) can prove covered — else
    None (blooms, string/float zones, disjunctions: pruning only, their
    survivors are partial)."""
    out = []
    for kind, spec in filts:
        nf = None if kind not in ("range", "in") else _normalize_filter(
            schema, manifest, kind, spec, make_residual=False)
        out.append((kind, nf["col"],
                    [(int(a), int(b)) for a, b in nf["bounds"]],
                    nf.get("in_exact", True))
                   if nf is not None and nf["kind"] == "zone"
                   and nf["lane"] == "int" else None)
    return out


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
        _kind, fcol, bounds, exact = f
        fr = by_col.get(fcol, {}).get(key)
        if fr is None or fr[1] is None or fr[2] is None or fr[3] != 0:
            return False
        if not (exact and any(fr[1] >= b_lo and fr[2] <= b_hi
                              for b_lo, b_hi in bounds)):
            return False
    return True


def _agg_from_meta(by_col, column, zf) -> dict:
    """The covered/partial split of one slice's surviving chunks
    (``by_col``: their metas, _values_meta): meta-ok = covered
    (_chunk_covered) AND the agg column's nulls are known AND its sum
    is known or the chunk is all-null. Exact Python-int arithmetic
    throughout. Returns the meta-side totals, the partial chunk keys
    and their metas."""
    rows = nonnull = total_sum = n_meta = 0
    mn = mx = None
    partial = []
    for key, (n, lo, hi, nulls, s) in by_col.get(column, {}).items():
        if _chunk_covered(by_col, key, zf) and nulls is not None \
                and (s is not None or nulls == n):
            n_meta += 1
            rows += n
            nonnull += n - nulls
            if s is not None:
                total_sum += s
            if lo is not None:
                mn = lo if mn is None or lo < mn else mn
                mx = hi if mx is None or hi > mx else mx
        else:
            partial.append(key)
    return {"rows": rows, "nonnull": nonnull, "sum": total_sum,
            "min": mn, "max": mx, "n_meta": n_meta,
            "partial": partial, "meta": _restrict(by_col, partial)}


def _merge_agg(parts: list) -> dict:
    """The slices' _agg_from_meta partials (with ``n_total``) merged."""
    out = {"rows": 0, "nonnull": 0, "sum": 0, "min": None, "max": None,
           "n_meta": 0, "n_total": 0, "partial": [], "meta": {}}
    for p in parts:
        for k in ("rows", "nonnull", "sum", "n_meta", "n_total"):
            out[k] += p[k]
        for k, better in (("min", min), ("max", max)):
            if p[k] is not None:
                out[k] = p[k] if out[k] is None else better(out[k], p[k])
        out["partial"] += p["partial"]
        for c, m in p["meta"].items():
            out["meta"].setdefault(c, {}).update(m)
    return out


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


def _storage_to_logical(col, dt):
    """Zone-domain int -> the column's logical Spark value (the same
    storage mapping the int lane uses: dates are days, timestamps are
    epoch-µs)."""
    if isinstance(dt, T.DateType):
        return F.date_from_unix_date(col.cast("int"))
    if isinstance(dt, T.TimestampType):
        return F.timestamp_micros(col)
    return col.cast(dt)


def _decode_path(spark, path, column, filts_kw, scale,
                 elements=False) -> dict:
    """Exact fallback: ordinary filtered read + aggregate. In element
    mode the rows explode first (null/empty arrays contribute no
    elements — the same thing the stored lengths say)."""
    df = read_encoded(spark, path, columns=[column], **filts_kw)
    c = column
    if elements:
        df = df.select(F.explode(column).alias("__el"))
        c = "__el"
    r = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count(c).alias("nonnull"),
        F.sum(F.col(c).cast("decimal(38," + str(scale) + ")"))
        .alias("s"),
        F.min(c).alias("mn"),
        F.max(c).alias("mx"),
    ).collect()[0]
    return {"rows": int(r["rows"]), "nonnull": int(r["nonnull"]),
            "sum": r["s"], "min": r["mn"], "max": r["mx"]}


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
    ``{chunks_total, chunks_scanned, chunks_meta, chunks_decoded}``
    (chunks_meta answered without decoding anything). Filters take
    the same shapes read_encoded does. SQL alignment: ``rows`` is
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
    filts = _filter_list(range_filter, in_filter, eq_filter,
                         contains_filter, or_filter)
    snap = plan_snapshot(path, as_of_epoch=as_of_epoch,
                         since_epoch=since_epoch, filters=filts)
    manifest, fcols = snap.manifest, snap.filter_columns
    schema = manifest_schema(manifest)
    by_name = {f.name: f for f in schema.fields}
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

    filts_kw = dict(range_filter=range_filter, in_filter=in_filter,
                    eq_filter=eq_filter, contains_filter=contains_filter,
                    or_filter=or_filter,
                    encryption_key=encryption_key,
                    as_of_epoch=as_of_epoch, since_epoch=since_epoch)

    def _to_logical(x):
        if x is None:
            return None
        return (Decimal(int(x)).scaleb(-scale) if scale
                else int(x)) if isinstance(dt, T.DecimalType) \
            else int(x)

    files = snap.files
    involved = set([column] + fcols)
    enc_cols = set(manifest.get("encrypted_columns", []))
    if snap.deletes or (involved & enc_cols) \
            or _evolution_fill_columns(files, involved):
        out = _decode_path(spark, path, column, filts_kw, scale,
                           elements=elements)
        out["sum"] = None if out["sum"] is None else (
            out["sum"] if scale else int(out["sum"]))
        out.update(chunks_meta=0, chunks_decoded=None,
                   path="decode")
        return out

    # ---- one metadata pass: each slice prunes like the readers and
    # splits its survivors into covered and partial chunks
    zf = _cover_filters(schema, manifest, filts)
    cover_cols = {column} | {f[1] for f in zf if f is not None}

    def fold(blocks, kept):
        return dict(_agg_from_meta(_values_meta(kept, cover_cols),
                                   column, zf),
                    n_total=_n_values(blocks, column))

    r2 = _merge_agg(chunk_index(spark, snap, involved, fold))
    m = {"c": r2["n_meta"], "rows": r2["rows"], "nonnull": r2["nonnull"],
         "s": r2["sum"], "mn": r2["min"], "mx": r2["max"]}
    partial = sorted(r2["partial"])
    n_total, n_scanned = r2["n_total"], r2["n_meta"] + len(partial)
    if partial and not elements:
        # SMALL boundary sets decode driver-side: the same codec
        # decoders, pyarrow file reads, exact residual — zero Spark
        # jobs instead of a 2-stage decode job whose fixed latency
        # dwarfs the handful of chunks (size-capped; anything big
        # stays distributed)
        d = _driver_partial_agg(path, files, column, r2["meta"], zf,
                                partial)
        if d is not None:
            m = {"c": m["c"], "rows": m["rows"] + d["rows"],
                 "nonnull": m["nonnull"] + d["nonnull"],
                 "s": m["s"] + d["s"],
                 "mn": d["mn"] if m["mn"] is None or (
                     d["mn"] is not None and d["mn"] < m["mn"])
                 else m["mn"],
                 "mx": d["mx"] if m["mx"] is None or (
                     d["mx"] is not None and d["mx"] > m["mx"])
                 else m["mx"]}
            return _finish_scalar_agg(
                spark, path, column, filts_kw, scale, elements, m, 0,
                None, n_total, n_scanned, _to_logical,
                chunks_decoded=len(partial))
    return _finish_scalar_agg(
        spark, path, column, filts_kw, scale, elements, m, len(partial),
        partial or None, n_total, n_scanned, _to_logical)


def _finish_scalar_agg(spark, path, column, filts_kw, scale, elements,
                       m, n_partial, partial, n_total, n_scanned,
                       _to_logical, chunks_decoded=None):
    """Shared tail of aggregate_encoded: merge the meta side with the
    exact decode of the partial chunk set (if any) and assemble the
    result dict. ``m``: the merged meta-side totals.
    ``chunks_decoded``: already-merged driver-side decode count (the
    partial set was folded into ``m`` with zero Spark jobs; telemetry
    still reports those chunks as decoded)."""
    rows = int(m["rows"] or 0)
    nonnull = int(m["nonnull"] or 0)
    total_sum = int(m["s"]) if m["s"] is not None else 0
    mn = m["mn"]
    mx = m["mx"]
    if n_partial:
        d = _decode_path(spark, path, column,
                         dict(filts_kw, _chunk_subset=partial), scale,
                         elements=elements)
        rows += d["rows"]
        nonnull += d["nonnull"]
        if d["sum"] is not None:
            ds = d["sum"]
            total_sum += int(ds.scaleb(scale)) if scale else int(ds)
        for v, pick in ((d["min"], min), (d["max"], max)):
            if v is not None:
                sv = int(Decimal(v).scaleb(scale)) if scale else int(v)
                mn = sv if pick is min and (mn is None or sv < mn) \
                    else mn
                mx = sv if pick is max and (mx is None or sv > mx) \
                    else mx
    dec_n = n_partial if chunks_decoded is None else chunks_decoded
    return {
        "rows": rows, "nonnull": nonnull,
        "sum": _to_logical(total_sum) if nonnull else None,
        "min": _to_logical(mn) if nonnull else None,
        "max": _to_logical(mx) if nonnull else None,
        "chunks_total": n_total, "chunks_scanned": n_scanned,
        "chunks_meta": int(m["c"] or 0), "chunks_decoded": dec_n,
        "path": "meta+decode" if dec_n else "meta",
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
    chunks never decode — only group-boundary chunks do. Everything
    else routes through the exact read restricted to that chunk set,
    aggregated with Spark's own partial-agg groupBy. At 100 TB a
    day-clustered events table answers "per-day event count + value
    sum" with a metadata job plus a decode of ~one straddler chunk
    per day per bucket.

    ``group_col``: int-lane scalar (ints, DATE, TIMESTAMP — storage
    ints convert back to logical values). ``column``: plain int
    column (decimal/float: use read_encoded + groupBy). Rows whose
    group value is NULL form SQL's NULL group (they only ever travel
    the decode path — a chunk containing them is never single-group).
    Pending deletes / evolution fill / encrypted involved columns
    fall back wholesale to the exact read. ``stats_out`` (optional
    dict) receives {chunks_total, chunks_meta, chunks_decoded, path}
    telemetry.
    """
    as_of_epoch = _resolve_as_of(spark, path, as_of_epoch, as_of_ts,
                                 as_of_tag)
    filts = _filter_list(range_filter, in_filter, eq_filter,
                         contains_filter, or_filter)
    snap = plan_snapshot(path, as_of_epoch=as_of_epoch,
                         since_epoch=since_epoch, filters=filts)
    manifest, fcols = snap.manifest, snap.filter_columns
    schema = manifest_schema(manifest)
    by_name = {f.name: f for f in schema.fields}
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

    filts_kw = dict(range_filter=range_filter, in_filter=in_filter,
                    eq_filter=eq_filter,
                    contains_filter=contains_filter,
                    or_filter=or_filter,
                    encryption_key=encryption_key,
                    as_of_epoch=as_of_epoch, since_epoch=since_epoch)

    def _group_agg(df):
        return df.groupBy(group_col).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(column).alias("nonnull"),
            F.sum(F.col(column).cast("decimal(38,0)")).alias("sum"),
            F.min(column).cast("long").alias("min"),
            F.max(column).cast("long").alias("max"),
        )

    def _finish(df):
        return df.select(
            group_col, "n_rows", "nonnull",
            F.col("sum").cast("long").alias("sum"), "min", "max")

    files = snap.files
    involved = set([group_col, column] + fcols)
    enc_cols = set(manifest.get("encrypted_columns", []))
    if snap.deletes or (involved & enc_cols) \
            or _evolution_fill_columns(files, involved):
        if stats_out is not None:
            stats_out.update(path="decode")
        return _finish(_group_agg(read_encoded(
            spark, path, columns=[group_col, column], **filts_kw)))

    # ---- one metadata pass (as in aggregate_encoded): each slice
    # folds its covered single-group chunks into per-group totals; the
    # merged groups become a LocalRelation, and only straddler chunks
    # can cost a Spark job
    zf = _cover_filters(schema, manifest, filts)
    cover_cols = {group_col, column} | {f[1] for f in zf if f is not None}

    def fold(blocks, kept):
        by_col = _values_meta(kept, cover_cols)
        gmeta = by_col.get(group_col, {})
        groups: dict = {}  # g storage-int -> [n, nonnull, sum, mn, mx]
        partial = []
        n_meta = 0
        for key, (n, lo, hi, nulls, s) in by_col.get(column, {}).items():
            g = gmeta.get(key)
            g_ok = (g is not None and g[1] is not None
                    and g[1] == g[2] and g[3] == 0)
            if _chunk_covered(by_col, key, zf) and g_ok \
                    and nulls is not None and (s is not None or nulls == n):
                n_meta += 1
                _fold_group(groups.setdefault(g[1], [0, 0, None, None,
                                                     None]),
                            n, n - nulls, s, lo, hi)
            else:
                partial.append(key)
        return {"groups": groups, "partial": partial, "n_meta": n_meta,
                "n_total": _n_values(blocks, column),
                "meta": _restrict(by_col, partial)}

    groups: dict = {}
    partial_keys, meta = [], {}
    n_meta = n_total = 0
    for p in chunk_index(spark, snap, involved, fold):
        for g, a in p["groups"].items():
            _fold_group(groups.setdefault(g, [0, 0, None, None, None]), *a)
        partial_keys += p["partial"]
        n_meta += p["n_meta"]
        n_total += p["n_total"]
        for c, cm in p["meta"].items():
            meta.setdefault(c, {}).update(cm)
    if stats_out is not None:
        stats_out.update(
            chunks_total=n_total, chunks_meta=n_meta,
            chunks_decoded=len(partial_keys),
            path="meta+decode" if partial_keys else "meta")
    if partial_keys and _pure_ranges(zf):
        # SMALL straddler sets (the day-boundary chunks of a
        # clustered table) decode driver-side and fold straight into
        # the group map — zero Spark jobs instead of a decode job
        # plus a merge shuffle (size-capped; big straddler sets stay
        # distributed)
        pk = sorted(partial_keys)
        involved2 = {group_col, column} | {f[1] for f in zf}
        total = _driver_partial_keys_ok(meta, involved2, pk)
        mag = max((max(abs(int(r[1])), abs(int(r[2])))
                   for r in (meta[column][k] for k in pk)
                   if r[1] is not None), default=0)
        if total is not None and not (
                mag and mag.bit_length()
                + max(total - 1, 1).bit_length() + 1 >= 63):
            vals = _driver_chunk_values(path, files, involved2, pk)
            if vals is not None:
                import numpy as np
                for k in pk:
                    mask = None
                    for _kind, c, bounds, _e in zf:
                        (flo, fhi), = bounds
                        v = vals[c][k]
                        mm = (v >= flo) & (v <= fhi)
                        mask = mm if mask is None else (mask & mm)
                    gv = vals[group_col][k]
                    av = vals[column][k]
                    if mask is not None:
                        gv, av = gv[mask], av[mask]
                    for g in np.unique(gv):
                        sel = av[gv == g]
                        _fold_group(
                            groups.setdefault(int(g),
                                              [0, 0, None, None, None]),
                            len(sel), len(sel),
                            int(sel.sum(dtype=np.int64)),
                            int(sel.min()), int(sel.max()))
                partial_keys = []
    meta_g = spark.createDataFrame(
        [(g, a[0], a[1],
          None if a[2] is None else Decimal(a[2]), a[3], a[4])
         for g, a in sorted(groups.items())],
        "g_lo long, n_rows long, nonnull long, "
        "sum decimal(38,0), min long, max long",
    ).select(
        _storage_to_logical(F.col("g_lo"), gdt).alias(group_col),
        "n_rows", "nonnull", "sum", "min", "max")
    if not partial_keys:
        return _finish(meta_g)
    dec_g = _group_agg(read_encoded(
        spark, path, columns=[group_col, column],
        **dict(filts_kw, _chunk_subset=sorted(partial_keys))))
    merged = meta_g.unionByName(dec_g).groupBy(group_col).agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("nonnull").alias("nonnull"),
        F.sum("sum").alias("sum"),
        F.min("min").alias("min"), F.max("max").alias("max"),
    )
    return _finish(merged)


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
    rows, found with one sort-limit job per rank. Cluster the
    table by the column at write and the window is ~one chunk per
    bucket; an unclustered column degrades to decoding everything —
    the plain exact quantile the user would have computed anyway.
    Tables with pending deletes, evolution fill, encryption on the
    column, or pre-r5 chunks (no null counts) fall back wholesale to
    the exact read. Returns one value (or a list, matching ``q``);
    None when the table has no non-null rows.
    """
    import math

    qs = [float(x) for x in (q if isinstance(q, (list, tuple)) else [q])]
    for x in qs:
        if not 0.0 <= x <= 1.0:
            raise ValueError(f"quantile out of [0, 1]: {x}")
    as_of_epoch = _resolve_as_of(spark, path, as_of_epoch, as_of_ts,
                                 as_of_tag)
    snap = plan_snapshot(path, as_of_epoch=as_of_epoch,
                         since_epoch=since_epoch)
    manifest = snap.manifest
    schema = manifest_schema(manifest)
    by_name = {f.name: f for f in schema.fields}
    if column not in by_name:
        raise ValueError(f"column {column!r} not in encoded table")
    dt = by_name[column].dataType
    ok = isinstance(dt, (*_INT_LANES, T.DateType, T.TimestampType)) \
        or (isinstance(dt, T.DecimalType) and dt.precision <= 18)
    if not ok:
        raise ValueError(
            f"quantile_encoded needs an int-lane column; {column!r} "
            f"is {dt.simpleString()}")

    def _one(x):
        return x[0] if not isinstance(q, (list, tuple)) else x

    read_kw = dict(encryption_key=encryption_key,
                   as_of_epoch=as_of_epoch, since_epoch=since_epoch)

    def _fallback():
        if stats_out is not None:
            stats_out.update(path="decode")
        df = read_encoded(spark, path, columns=[column], **read_kw) \
            .filter(F.col(column).isNotNull()).persist()
        try:
            n = df.count()
            if n == 0:
                return _one([None] * len(qs))
            out = []
            for x in qs:
                k = max(1, math.ceil(x * n))
                out.append(df.sort(column).limit(k)
                           .agg(F.max(column)).collect()[0][0])
            return _one(out)
        finally:
            df.unpersist()

    files = snap.files
    if snap.deletes or column in manifest.get("encrypted_columns", []) \
            or _evolution_fill_columns(files, {column}):
        return _fallback()

    # one metadata pass over the column's chunk stats (chunk_index:
    # on the driver, or one task per slice past the cap)
    acol: dict = {}
    for p in chunk_index(spark, snap, {column}, lambda blocks, _kept:
                         _values_meta(blocks, {column}).get(column, {})):
        acol.update(p)
    by_col = {column: acol}
    stats = [
        {"run_id": k[0], "bucket": k[1], "chunk": k[2],
         "lo": lo, "hi": hi, "nn": None if nulls is None else n - nulls}
        for k, (n, lo, hi, nulls, _s) in acol.items()
    ]
    if any(r["nn"] is None for r in stats):
        return _fallback()  # pre-r5 chunks: null counts unknown
    n = sum(int(r["nn"]) for r in stats)
    if stats_out is not None:
        stats_out.update(chunks_total=len(stats), n_nonnull=n)
    if n == 0:
        if stats_out is not None:
            stats_out.update(chunks_decoded=0, path="meta")
        return _one([None] * len(qs))
    import numpy as np

    ks = sorted({max(1, math.ceil(x * n)) for x in qs})
    valued = [r for r in stats if r["lo"] is not None]
    lo = np.array([int(r["lo"]) for r in valued], dtype=np.int64)
    hi = np.array([int(r["hi"]) for r in valued], dtype=np.int64)
    nn = np.array([int(r["nn"]) for r in valued], dtype=np.int64)
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
    cand = {(valued[i]["run_id"], int(valued[i]["bucket"]),
             int(valued[i]["chunk"]))
            for i in np.flatnonzero(decode_set)}
    if isinstance(dt, _INT_LANES):
        # SMALL candidate windows of a plain int column decode
        # driver-side (same cap and decoders as aggregate_encoded's
        # boundary path): the whole rank search then costs zero Spark
        # jobs — sort the decoded values once and index every rank,
        # instead of one sort-limit job per rank. Date/timestamp/
        # decimal stay distributed (their storage ints need the
        # logical conversion the decode path provides).
        ck = sorted(cand)
        if _driver_partial_keys_ok(by_col, {column}, ck) is not None:
            vals = _driver_chunk_values(path, files, {column}, ck)
            if vals is not None:
                dec_v = (np.sort(np.concatenate(
                    [vals[column][k] for k in ck])) if ck
                    else np.zeros(0, dtype=np.int64))
                if stats_out is not None:
                    stats_out.update(chunks_decoded=len(cand),
                                     path="meta+decode")
                out = {}
                for k in ks:
                    kk = k - below_k[k]
                    # mirror of sort(column).limit(kk).agg(max)
                    out[k] = (int(dec_v[min(kk, len(dec_v)) - 1])
                              if len(dec_v) and kk >= 1 else None)
                return _one([out[max(1, math.ceil(x * n))] for x in qs])
    dec = read_encoded(spark, path, columns=[column],
                       _chunk_subset=sorted(cand), **read_kw) \
        .filter(F.col(column).isNotNull()).persist()
    try:
        if stats_out is not None:
            stats_out.update(chunks_decoded=len(cand),
                             path="meta+decode")
        out = {}
        for k in ks:
            kk = k - below_k[k]
            out[k] = dec.sort(column).limit(kk) \
                .agg(F.max(column)).collect()[0][0]
    finally:
        dec.unpersist()
    return _one([out[max(1, math.ceil(x * n))] for x in qs])
