"""Distributed encode stage (≙ reference write path, SURVEY.md §3.1).

The reference writes one record at a time through per-field closures
(CarpetWriter.java:99-114, CarpetRecordWriter.java:51-91). Here the
unit of work is a *bucket*: rows are salted into ``n_buckets`` groups
by ``xxhash64(source, doc_id)`` (defuses long-tail ``n_tok`` skew —
BASELINE.json north_star), each group is encoded column-at-a-time over
whole Arrow arrays inside ``applyInArrow`` — no per-row Python
anywhere. Within a bucket, rows are split into chunks capped by row
count *and* flattened-token count so encoder memory stays bounded at
any scale and a single giant document cannot blow up a task.
"""

from __future__ import annotations

import json
import time

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from tokcodec.blocks import (
    encode_float_component,
    encode_int_component,
    encode_str_component,
    int_sum_stat,
)
from tokcodec.schema import BLOCK_DDL, spark_type_to_arrow

BUCKET_COL = "__bucket"
CHUNK_MAX_ROWS = 1 << 16        # 65,536 rows per chunk
CHUNK_MAX_VALUES = 1 << 23      # 8M flattened list elements per chunk
METRICS_COLUMN = "__bucket_metrics__"

_INT_ITEMSIZE = {
    T.BooleanType: 1, T.ByteType: 1, T.ShortType: 2, T.IntegerType: 4,
    T.LongType: 8, T.DateType: 4, T.TimestampType: 8, T.TimestampNTZType: 8,
    T.TimeType: 8,  # nanos since midnight (time64[ns] over Arrow)
}


DEFAULT_SALT_COLS = ("source", "doc_id")


def effective_salt_cols(columns, salt_cols=None) -> list[str]:
    """The columns bucketing actually hashes: requested salt columns
    that exist, else the first column. Recorded in the table manifest
    so co-bucketed joins can prove two tables share a partitioning."""
    want = tuple(salt_cols) if salt_cols else DEFAULT_SALT_COLS
    return [c for c in want if c in columns] or [list(columns)[0]]


def with_bucket(df: DataFrame, n_buckets: int,
                salt_cols: tuple[str, ...] = DEFAULT_SALT_COLS) -> DataFrame:
    """Salted bucketing on a content hash — deterministic across runs
    (the resume key) and uniform regardless of input order/skew."""
    cols = effective_salt_cols(df.columns, salt_cols)
    return df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(*cols), F.lit(n_buckets)).cast("int")
    )


def _to_native_np(arr: pa.Array) -> np.ndarray:
    """Arrow -> numpy in the narrowest storage dtype (zero-copy for
    null-free fixed-width arrays — the tokens hot path)."""
    t = arr.type
    if pa.types.is_boolean(t):
        arr = arr.cast(pa.int8())
    elif pa.types.is_date32(t):
        arr = arr.cast(pa.int32())
    elif pa.types.is_timestamp(t) or pa.types.is_time(t):
        arr = arr.cast(pa.int64())
    if arr.null_count:
        arr = arr.fill_null(0)
    return arr.to_numpy(zero_copy_only=False)


def _map_as_list(dt: T.MapType) -> T.ArrayType:
    """Maps are stored as list<struct<key,value>> (Parquet's own
    key_value shaping — reference E4, CollectionsWriters map writers)."""
    return T.ArrayType(
        T.StructType(
            [
                T.StructField("key", dt.keyType, False),
                T.StructField("value", dt.valueType, dt.valueContainsNull),
            ]
        ),
        False,
    )


def _list_elements(arr: pa.Array, lengths: np.ndarray,
                   offs: np.ndarray) -> pa.Array:
    """Elements of a list/map array in row order, excluding null
    entries' ranges (pyarrow list_flatten semantics, but map-capable).
    Contiguous zero-copy slice when there are no nulls; vectorized
    gather otherwise."""
    child = arr.values  # full, unsliced; offsets are absolute
    if arr.null_count == 0:
        return child.slice(int(offs[0]), int(offs[-1] - offs[0]))
    counts = lengths.astype(np.int64)
    total = int(counts.sum())
    if total == 0:
        return child.slice(0, 0)
    excl = np.concatenate([[0], np.cumsum(counts)[:-1]])
    idx = np.repeat(offs[:-1] - excl, counts) + np.arange(total)
    return child.take(pa.array(idx))


def _surrogate_struct(dt: T.DataType) -> T.StructType | None:
    """Semi-structured Spark types whose Arrow layout is a tagged
    struct of primitive leaves (reference VariantWriter.java:34-42,
    GeometryWrite.java): encode/decode them AS that struct. Variant =
    struct<value:binary, metadata:binary> (the metadata dictionary is
    highly repetitive across rows of uniform JSON shape — the dict
    codec collapses it); geometry/geography = struct<srid:int32,
    wkb:binary> (WKB rides the binary codec path, srid bit-packs to
    ~nothing). Field order matches pyspark's to_arrow_type exactly."""
    if isinstance(dt, T.VariantType):
        return T.StructType([
            T.StructField("value", T.BinaryType(), False),
            T.StructField("metadata", T.BinaryType(), False),
        ])
    if isinstance(dt, (T.GeometryType, T.GeographyType)):
        return T.StructType([
            T.StructField("srid", T.IntegerType(), False),
            T.StructField("wkb", T.BinaryType(), False),
        ])
    return None


def _encode_node(bucket: int, name: str, prefix: str, arr: pa.Array,
                 dt: T.DataType, leaf_codec: str | None = None,
                 trial_lost: set | None = None) -> list[dict]:
    """Recursive component-path encoder. Component paths:
    scalar -> '<p>values'; list -> '<p>lengths' + element under
    '<p>values[/...]' (flat lists keep the legacy '<p>values' leaf);
    struct -> '<p>f:<field>/...'; map -> stored as list<struct>.
    Nullability at every level -> '<p>validity' (reference nested
    shaping E3/E4, repetition levels re-expressed as per-level
    lengths + validity bitmaps)."""
    if isinstance(dt, T.MapType):
        # A MapArray IS a list<struct<key,value>> physically: the list
        # branch below only needs list_value_length + flatten, both of
        # which work on maps directly. (An explicit cast to the list
        # type is a re-validating view that rejects legitimate nulls in
        # non-nullable struct fields under null map values.)
        return _encode_node(bucket, name, prefix, arr, _map_as_list(dt),
                            leaf_codec=leaf_codec, trial_lost=trial_lost)
    sur = _surrogate_struct(dt)
    if sur is not None:
        return _encode_node(bucket, name, prefix, arr, sur,
                            leaf_codec=leaf_codec, trial_lost=trial_lost)
    rows: list[dict] = []
    if arr.null_count:
        valid = arr.is_valid().to_numpy(zero_copy_only=False).astype(np.int8)
        rows.append(
            encode_int_component(bucket, name, prefix + "validity", valid, 1,
                                 codec="bitpack")
        )
    if isinstance(dt, T.ArrayType):
        # offsets-derived lengths + element gather — pyarrow's
        # list_value_length/list_flatten kernels don't cover MapArray,
        # and a MapArray is physically a list<struct<key,value>>. Null
        # entries count 0 and contribute no elements.
        offs = np.frombuffer(
            arr.buffers()[1], dtype=np.int32,
            count=len(arr) + 1 + arr.offset,
        )[arr.offset:].astype(np.int64)
        lengths = np.diff(offs)
        if arr.null_count:
            lengths = np.where(
                arr.is_valid().to_numpy(zero_copy_only=False), lengths, 0
            )
        rows.append(
            encode_int_component(bucket, name, prefix + "lengths", lengths, 4)
        )
        values = _list_elements(arr, lengths, offs)
        et = dt.elementType
        if (isinstance(et, (T.StructType, T.ArrayType, T.MapType))
                or _surrogate_struct(et) is not None):
            rows += _encode_node(bucket, name, prefix + "values/", values, et,
                                 leaf_codec=leaf_codec, trial_lost=trial_lost)
        else:
            # null elements INSIDE the list need their own validity —
            # _encode_leaf fills nulls with type defaults, so without
            # this [1, None, 3] would round-trip as [1, 0, 3]
            if values.null_count:
                evalid = values.is_valid().to_numpy(
                    zero_copy_only=False
                ).astype(np.int8)
                rows.append(
                    encode_int_component(bucket, name,
                                         prefix + "values/validity",
                                         evalid, 1, codec="bitpack")
                )
            rows += _encode_leaf(bucket, name, prefix + "values", values, et,
                                 codec=leaf_codec, trial_lost=trial_lost)
        return rows
    if isinstance(dt, T.StructType):
        children = arr.flatten()  # offset-correct on sliced arrays
        for f, child in zip(dt.fields, children):
            rows += _encode_node(bucket, name, f"{prefix}f:{f.name}/", child,
                                 f.dataType, leaf_codec=leaf_codec,
                                 trial_lost=trial_lost)
        return rows
    return rows + _encode_leaf(bucket, name, prefix + "values", arr, dt,
                               codec=leaf_codec, trial_lost=trial_lost)


def _decimal_unscaled(arr: pa.Array) -> np.ndarray:
    """decimal128 -> unscaled int64 (valid for precision <= 18 — the
    reference stores those as INT64 too, BigDecimalWrite.java:49-73).
    The 128-bit little-endian storage's low word carries the value."""
    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    if arr.null_count:
        arr = arr.fill_null(0)
    buf = arr.buffers()[1]
    words = np.frombuffer(buf, dtype=np.int64)
    return words[2 * arr.offset::2][: len(arr)].copy()


def _decimal_bytes(arr: pa.Array) -> pa.Array:
    """decimal128 (precision > 18) -> binary array of fixed 16-byte
    little-endian two's-complement values, zero-copy from the decimal
    storage buffer. The reference stores these as BINARY unscaled bytes
    (BigDecimalWrite.java:58-70, read DecimalConverter.java:28-80); the
    fixed-width binary rides the string/binary codec path (dict codec
    picks up repeated amounts)."""
    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    if arr.null_count:
        arr = arr.fill_null(0)
    raw = np.frombuffer(arr.buffers()[1], dtype=np.uint8)
    raw = raw[arr.offset * 16:(arr.offset + len(arr)) * 16]
    offs = np.arange(len(arr) + 1, dtype=np.int32) * 16
    return pa.Array.from_buffers(
        pa.binary(), len(arr),
        [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(raw.tobytes())],
    )


def _nn_zone_patch(rows: list[dict], arr: pa.Array, to_int) -> list[dict]:
    """Re-derive a nullable chunk's zone bounds from its NON-NULL
    values. Codec stats must cover the null-fill defaults (bitpack
    width, FOR reference), but zone [lo, hi] exists only for pruning
    and profiling — and range/eq residuals are null-false, so
    excluding nulls keeps pruning sound while making it TIGHTER (a
    nullable column's fill zeros no longer pin lo at 0) and makes
    profile_encoded's bounds exact. String bounds never had the
    problem (pc.min_max skips nulls)."""
    import json as _json

    nn = arr.drop_null()
    meta = _json.loads(rows[0]["meta"])
    if "lo" not in meta:
        return rows
    bounds = to_int(nn) if len(nn) else None
    if bounds is None:
        # all-null (or all-NaN) chunk: no stats, always survives
        meta.pop("lo", None)
        meta.pop("hi", None)
    else:
        meta["lo"], meta["hi"] = bounds
    rows[0]["meta"] = _json.dumps(meta, separators=(",", ":"))
    return rows


def _sma_patch(rows: list[dict], component: str, arr: pa.Array,
               to_np=None) -> list[dict]:
    """TOP-LEVEL scalar 'values' chunks additionally record the exact
    null count — and, for nullable int-lane chunks, re-derive the
    small-materialized-aggregate sum over NON-NULL values (the codec's
    sum covered the null-fill defaults). aggregate_encoded's metadata
    fast path requires 'nulls' to be present, so chunks from older
    writes (and nested component paths, which skip the bloat) fall to
    its exact decode path instead of silently miscounting."""
    if component != "values":
        return rows
    meta = json.loads(rows[0]["meta"])
    meta["nulls"] = int(arr.null_count)
    if arr.null_count and meta.pop("sum", None) is not None \
            and to_np is not None and "lo" in meta:
        meta.update(int_sum_stat(to_np(arr.drop_null()),
                                 meta["lo"], meta["hi"]))
    rows[0]["meta"] = json.dumps(meta, separators=(",", ":"))
    return rows


def _encode_leaf(bucket: int, name: str, component: str, arr: pa.Array,
                 dt: T.DataType, codec: str | None = None,
                 trial_lost: set | None = None) -> list[dict]:
    if isinstance(dt, T.DecimalType):
        if dt.precision > 18:
            return _sma_patch(
                [encode_str_component(bucket, name, component,
                                      _decimal_bytes(arr), codec=codec,
                                      trial_lost=trial_lost)],
                component, arr)
        v = _decimal_unscaled(arr)
        rows = [encode_int_component(bucket, name, component, v, 8,
                                     codec=codec)]
        if arr.null_count:
            rows = _nn_zone_patch(rows, arr, lambda nn: (
                int(_decimal_unscaled(nn).min()),
                int(_decimal_unscaled(nn).max())))
        return _sma_patch(rows, component, arr, to_np=_decimal_unscaled)
    if isinstance(dt, (T.StringType, T.BinaryType)):
        # binary (opaque multimodal blobs) shares the string layout
        return _sma_patch(
            [encode_str_component(bucket, name, component, arr,
                                  codec=codec, trial_lost=trial_lost)],
            component, arr)
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        had_nulls = bool(arr.null_count)
        nn_src = arr
        if had_nulls:
            arr = arr.fill_null(0.0)
        v = arr.to_numpy(zero_copy_only=False)
        rows = [encode_float_component(bucket, name, component, v,
                                       codec=codec)]
        if had_nulls:
            def _fbounds(nn):
                w = nn.to_numpy(zero_copy_only=False)
                w = w[np.isfinite(w)]
                if len(w) == 0:
                    return None  # all-NaN non-nulls: drop stats
                return float(w.min()), float(w.max())

            rows = _nn_zone_patch(rows, nn_src, _fbounds)
        return _sma_patch(rows, component, nn_src)
    if type(dt) in _INT_ITEMSIZE:
        v = _to_native_np(arr)
        rows = [encode_int_component(bucket, name, component, v,
                                     _INT_ITEMSIZE[type(dt)], codec=codec)]
        if arr.null_count:
            rows = _nn_zone_patch(rows, arr, lambda nn: (
                int(_to_native_np(nn).min()),
                int(_to_native_np(nn).max())))
        return _sma_patch(rows, component, arr, to_np=_to_native_np)
    raise NotImplementedError(f"column {name}: unsupported leaf type {dt}")


def _encode_column(bucket: int, name: str, arr: pa.Array, dt: T.DataType,
                   leaf_codec: str | None = None,
                   trial_lost: set | None = None) -> list[dict]:
    """One Arrow column chunk -> block rows (component tree)."""
    return _encode_node(bucket, name, "", arr, dt, leaf_codec=leaf_codec,
                        trial_lost=trial_lost)


def _chunk_bounds(n_rows: int, list_lengths: np.ndarray | None,
                  max_rows: int = CHUNK_MAX_ROWS,
                  max_values: int = CHUNK_MAX_VALUES) -> list[tuple[int, int]]:
    """Row slice boundaries honoring both row and flattened-value caps
    (≙ reference C2 row-group/page geometry knobs: withRowGroupSize /
    withPageRowCountLimit, CarpetWriter.java:246-317)."""
    if n_rows == 0:
        return []
    if list_lengths is None:
        cuts = list(range(0, n_rows, max_rows)) + [n_rows]
        return list(zip(cuts[:-1], cuts[1:]))
    csum = np.concatenate([[0], np.cumsum(list_lengths, dtype=np.int64)])
    bounds = []
    lo = 0
    while lo < n_rows:
        hi = min(lo + max_rows, n_rows)
        # shrink hi until the value budget fits (always keep >= 1 row)
        hi_budget = int(np.searchsorted(csum, csum[lo] + max_values, side="right")) - 1
        hi = max(lo + 1, min(hi, hi_budget))
        bounds.append((lo, hi))
        lo = hi
    return bounds


def _spread1(x: np.ndarray) -> np.ndarray:
    """Spread a 32-bit lane's bits to even positions of 64 (Morton)."""
    x = x.astype(np.uint64) & np.uint64(0xFFFFFFFF)
    x = (x | (x << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    x = (x | (x << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    x = (x | (x << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    x = (x | (x << np.uint64(2))) & np.uint64(0x3333333333333333)
    x = (x | (x << np.uint64(1))) & np.uint64(0x5555555555555555)
    return x


def _spread2(x: np.ndarray) -> np.ndarray:
    """Spread a 21-bit lane's bits to every 3rd position of 64."""
    x = x.astype(np.uint64) & np.uint64(0x1FFFFF)
    x = (x | (x << np.uint64(32))) & np.uint64(0x1F00000000FFFF)
    x = (x | (x << np.uint64(16))) & np.uint64(0x1F0000FF0000FF)
    x = (x | (x << np.uint64(8))) & np.uint64(0x100F00F00F00F00F)
    x = (x | (x << np.uint64(4))) & np.uint64(0x10C30C30C30C30C3)
    x = (x | (x << np.uint64(2))) & np.uint64(0x1249249249249249)
    return x


def _zorder_key(arrs) -> np.ndarray:
    """Morton code over 2 or 3 int-lane Arrow columns. Each column is
    offset to zero at its (bucket-local) min and right-shifted until
    it fits the per-dimension bit budget (32 bits for 2 dims, 21 for
    3) — rank-free normalization, one vectorized pass."""
    if not 2 <= len(arrs) <= 3:
        raise ValueError("z-order cluster_by supports 2 or 3 columns")
    bits = 32 if len(arrs) == 2 else 21
    lanes = []
    for a in arrs:
        v = _to_native_np(a.combine_chunks()
                          if isinstance(a, pa.ChunkedArray) else a)
        if not np.issubdtype(v.dtype, np.integer):
            raise ValueError(
                "z-order cluster_by requires int-lane columns "
                f"(got {v.dtype})")
        # offset-to-zero in uint64 space: int64 subtraction would wrap
        # when (max - min) exceeds int64 range (e.g. a column spanning
        # both int64 extremes), silently scrambling the Morton order —
        # results stay correct via residual filters, but clustering
        # would degrade. Two's-complement wraparound of the uint64 cast
        # makes (v - min) exact for ANY int64 span (ADVICE r4).
        v64 = v.astype(np.int64)
        u = v64.view(np.uint64) - np.int64(v64.min()).view(np.uint64)
        hi = int(u.max())
        shift = max(0, hi.bit_length() - bits)
        lanes.append((u >> np.uint64(shift)).astype(np.uint64))
    if len(lanes) == 2:
        return (_spread1(lanes[0]) << np.uint64(1)) | _spread1(lanes[1])
    return ((_spread2(lanes[0]) << np.uint64(2))
            | (_spread2(lanes[1]) << np.uint64(1)) | _spread2(lanes[2]))


def make_encode_fn(schema: T.StructType, run_id: str,
                   cluster_by: str | list[str] | None = None,
                   chunk_max_rows: int = CHUNK_MAX_ROWS,
                   chunk_max_values: int = CHUNK_MAX_VALUES,
                   bloom_columns: tuple[str, ...] = (),
                   sketch_columns: tuple[str, ...] = (),
                   enum_columns: dict[str, list[str]] | None = None,
                   codec_override: dict[str, str] | None = None,
                   encrypted_columns: tuple[str, ...] = (),
                   encryption_key: bytes | None = None,
                   encryption_salt: bytes | None = None):
    """Returns the applyInArrow function: (key, pa.Table) -> pa.Table
    of BLOCK_DDL rows for one bucket. Its keyword ``trial_memo`` maps a
    chunk index to the set of (column, component) string leaves whose
    FSST trial lost outright on that chunk index in an earlier bucket of
    the same task (see make_encode_sorted_fn); without it every chunk
    trials. Its keyword ``bloom_hashes``, a dict, receives under
    (bucket, column) the list of polyhash arrays of each bloom column's
    chunks (unencrypted columns only): the block writer builds its
    file blooms from them (_make_block_writer).

    ``encrypted_columns``/``encryption_key``: AES-GCM these columns'
    block payloads AND metadata (zone bounds, value-bearing codec
    params) AND bloom blocks, AAD-bound to block position (see
    tokcodec.crypto — the reference's parquet modular encryption
    passthrough, C6, with parquet's stats redaction for encrypted
    columns). ``encryption_salt``: per-run salt for deterministic
    nonce derivation.

    ``cluster_by``: sort the bucket's rows by this column before
    chunking — the SIGMOD 2020 column-permutation idea: clustering
    lengthens runs (RLE) and makes per-chunk zone maps selective
    (chunk skipping). Row order inside the encoded table is an
    implementation detail (decode output order is undefined anyway).

    ``codec_override``: {column: codec} — pin this column's leaf codec
    instead of the auto-selector (the reference's per-column encoding
    knobs, CarpetWriter.java:335-374). Validate with
    validate_codec_override before shipping to executors.
    """
    fields = [(f.name, f.dataType) for f in schema.fields if f.name != BUCKET_COL]
    list_col = next(
        (f.name for f in schema.fields if isinstance(f.dataType, T.ArrayType)), None
    )
    out_schema = pa.schema(
        [
            ("run_id", pa.string()), ("bucket", pa.int32()), ("chunk", pa.int32()),
            ("column", pa.string()), ("component", pa.string()),
            ("codec", pa.string()), ("n_rows", pa.int64()),
            ("payload", pa.binary()), ("meta", pa.string()),
            ("orig_bytes", pa.int64()), ("enc_bytes", pa.int64()),
            ("checksum", pa.int64()),
        ]
    )

    def fn(key: tuple, table: pa.Table, *,
           trial_memo: dict[int, set] | None = None,
           bloom_hashes: dict | None = None) -> pa.Table:
        import pyarrow.compute as pc

        t0 = time.monotonic()
        bucket = key[0]
        bucket = int(bucket.as_py() if hasattr(bucket, "as_py") else bucket)
        if cluster_by is not None and table.num_rows:
            if isinstance(cluster_by, (list, tuple)) and len(cluster_by) > 1:
                # Z-order (Morton) clustering: bit-interleave the
                # columns' normalized values so chunk zone maps are
                # tight in EVERY clustered dimension — range filters
                # on any of the columns prune chunks (multi-dim
                # layout, the Z-order option of Iceberg/Delta
                # rewrite_data_files)
                z = _zorder_key([table.column(c) for c in cluster_by])
                idx = pa.array(np.argsort(z, kind="stable"))
            else:
                key = (cluster_by[0]
                       if isinstance(cluster_by, (list, tuple))
                       else cluster_by)
                idx = pc.sort_indices(table,
                                      sort_keys=[(key, "ascending")])
            table = table.take(idx)
        n = table.num_rows
        lens = None
        if list_col is not None:
            la = table.column(list_col).combine_chunks()
            ll = pc.list_value_length(la)
            if ll.null_count:
                ll = ll.fill_null(0)
            lens = ll.to_numpy(zero_copy_only=False).astype(np.int64)
        rows: list[dict] = []
        codec_log: dict[str, str] = {}
        for ci, (lo, hi) in enumerate(
                _chunk_bounds(n, lens, chunk_max_rows, chunk_max_values)):
            sl = table.slice(lo, hi - lo)
            trial_lost = (None if trial_memo is None
                          else trial_memo.setdefault(ci, set()))
            for name, dt in fields:
                arr = sl.column(name).combine_chunks()
                for r in _encode_column(
                        bucket, name, arr, dt,
                        leaf_codec=(codec_override or {}).get(name),
                        trial_lost=trial_lost):
                    r["run_id"] = run_id
                    r["chunk"] = ci
                    if name in encrypted_columns:
                        # after run_id/chunk: both are in the AAD
                        from tokcodec.crypto import encrypt_block_row

                        encrypt_block_row(encryption_key, r,
                                          salt=encryption_salt)
                    rows.append(r)
                    if r["component"] == "values":
                        codec_log[name] = r["codec"]
                if name in bloom_columns:
                    from tokcodec.bloom import (
                        bloom_block_row,
                        bloom_block_row_elements,
                    )

                    hashes = None
                    if bloom_hashes is not None \
                            and name not in encrypted_columns:
                        hashes = bloom_hashes.setdefault((bucket, name), [])
                    if isinstance(dt, T.ArrayType):
                        # element bloom: membership of single values
                        # INSIDE the arrays (contains_filter pushdown)
                        br = bloom_block_row_elements(bucket, name, arr,
                                                      hashes=hashes)
                    else:
                        br = bloom_block_row(bucket, name,
                                             arr.fill_null("")
                                             if arr.null_count else arr,
                                             hashes=hashes)
                    br["run_id"] = run_id
                    br["chunk"] = ci
                    if name in encrypted_columns:
                        # a plaintext bloom of an encrypted column
                        # allows membership probes — encrypt it like
                        # parquet encrypts bloom filter modules
                        from tokcodec.crypto import encrypt_block_row

                        encrypt_block_row(encryption_key, br,
                                          salt=encryption_salt)
                    rows.append(br)
                if name in sketch_columns:
                    # 4 KB HLL per (column, chunk): mergeable distinct
                    # counts without a scan (see tokcodec.hll)
                    from tokcodec.hll import hll_block_row

                    sr = hll_block_row(bucket, name, arr)
                    sr["run_id"] = run_id
                    sr["chunk"] = ci
                    if name in encrypted_columns:
                        # a plaintext sketch of an encrypted column
                        # leaks its cardinality — encrypt like blooms
                        from tokcodec.crypto import encrypt_block_row

                        encrypt_block_row(encryption_key, sr,
                                          salt=encryption_salt)
                    rows.append(sr)
                if enum_columns and name in enum_columns:
                    # enum-as-type (reference EnumsValues.java:22-34):
                    # the dict codec already stores each symbol once;
                    # here we enforce the declared value set, per chunk,
                    # vectorized (nulls pass — nullability is separate)
                    import pyarrow.compute as pc2

                    ok = pc2.is_in(arr,
                                   value_set=pa.array(enum_columns[name]))
                    bad = pc2.any(
                        pc2.and_(pc2.invert(pc2.fill_null(ok, False)),
                                 arr.is_valid())
                    ).as_py()
                    if bad:
                        sample = arr.filter(
                            pc2.and_(pc2.invert(pc2.fill_null(ok, False)),
                                     arr.is_valid())
                        )[0].as_py()
                        raise ValueError(
                            f"column {name!r}: value {sample!r} not in "
                            f"declared enum {enum_columns[name]}"
                        )
        wall_ms = (time.monotonic() - t0) * 1000.0
        rows.append(
            {
                "run_id": run_id, "bucket": bucket, "chunk": -1,
                "column": METRICS_COLUMN, "component": "metrics",
                "codec": json.dumps(codec_log, separators=(",", ":")),
                "n_rows": n, "payload": b"",
                "meta": json.dumps({"wall_ms": wall_ms}),
                "orig_bytes": sum(r["orig_bytes"] for r in rows),
                "enc_bytes": sum(r["enc_bytes"] for r in rows),
                # bucket checksum = sum of block crc32s, so the commit
                # record is derivable from this one row
                "checksum": sum(r["checksum"] for r in rows),
            }
        )
        return pa.Table.from_pylist(rows, schema=out_schema)

    return fn


def make_encode_map_fn(schema: T.StructType, run_id: str,
                       cluster_by: str | list[str] | None = None,
                       chunk_max_rows: int = CHUNK_MAX_ROWS,
                       chunk_max_values: int = CHUNK_MAX_VALUES,
                       bloom_columns: tuple[str, ...] = (),
                       sketch_columns: tuple[str, ...] = (),
                       enum_columns: dict[str, list[str]] | None = None,
                       codec_override: dict[str, str] | None = None):
    """mapInArrow variant: group by bucket here instead of paying
    applyInArrow's JVM-side per-partition row sort — measurably the
    4N-level bottleneck on wide token rows. Buffers its whole
    partition, so it expects one bucket per partition
    (encode_bucketed places bucket b in partition b)."""
    inner = make_encode_fn(schema, run_id, cluster_by=cluster_by,
                           chunk_max_rows=chunk_max_rows,
                           chunk_max_values=chunk_max_values,
                           bloom_columns=bloom_columns,
                           sketch_columns=sketch_columns,
                           enum_columns=enum_columns,
                           codec_override=codec_override)

    def fn(batches):
        import pyarrow as pa

        batches = list(batches)
        if not batches:
            return  # a bucket with no rows
        tbl = pa.Table.from_batches(batches)
        if tbl.num_rows == 0:
            return
        buckets = tbl.column(BUCKET_COL)
        tbl = tbl.combine_chunks()
        import pyarrow.compute as pc

        for b in pc.unique(buckets).to_pylist():
            sub = tbl.filter(pc.equal(tbl.column(BUCKET_COL), b))
            out = inner((b,), sub.drop_columns([BUCKET_COL]))
            yield from out.to_batches()

    return fn


def make_encode_sorted_fn(schema: T.StructType, run_id: str,
                          cluster_by: str | list[str] | None = None,
                          chunk_max_rows: int = CHUNK_MAX_ROWS,
                          chunk_max_values: int = CHUNK_MAX_VALUES,
                          bloom_columns: tuple[str, ...] = (),
                          sketch_columns: tuple[str, ...] = (),
                          enum_columns: dict[str, list[str]] | None = None,
                          codec_override: dict[str, str] | None = None,
                          encrypted_columns: tuple[str, ...] = (),
                          encryption_key: bytes | None = None,
                          encryption_salt: bytes | None = None):
    """mapInArrow variant for input SORTED by bucket within each
    partition (repartitionById + sortWithinPartitions): buckets are
    processed one at a time as their rows stream in, so task memory is
    bounded by ONE bucket even when a task owns many (the write path
    runs one task per core over a contiguous slice of buckets;
    make_encode_map_fn buffers the whole partition, which is only safe
    at one bucket per task).

    Each call (one task) keeps one FSST trial memo across its buckets,
    keyed by chunk index: once FSST fails to shrink a string leaf's
    sample at all on chunk i of one bucket, chunk i of the task's later
    buckets goes straight to plain_str. This rests on the write path's
    hash bucketing: the task's buckets are xxhash64 salts of one row
    stream, kept in its arrival order, so chunk i of each covers about
    the same stretch of the input, whatever that input's order (near
    misses are not shared: bucket sizes differ a little, and a chunk
    at a boundary may flip). ``cluster_by`` re-sorts each bucket
    before chunking, so clustered writes keep no memo and trial every
    chunk; a task with a single bucket (the DataSource writer's) has
    nothing to share. Winning chunks always train their own table.
    ``bloom_hashes``: passed to every bucket's encode (make_encode_fn).
    """
    inner = make_encode_fn(schema, run_id, cluster_by=cluster_by,
                           chunk_max_rows=chunk_max_rows,
                           chunk_max_values=chunk_max_values,
                           bloom_columns=bloom_columns,
                           sketch_columns=sketch_columns,
                           enum_columns=enum_columns,
                           codec_override=codec_override,
                           encrypted_columns=encrypted_columns,
                           encryption_key=encryption_key,
                           encryption_salt=encryption_salt)

    def fn(batches, bloom_hashes: dict | None = None):
        import pyarrow as pa
        import pyarrow.compute as pc

        cur = None
        buf: list = []
        trial_memo = {} if cluster_by is None else None

        def emit():
            tbl = pa.Table.from_batches(buf).combine_chunks()
            if tbl.num_rows == 0:
                return []
            out = inner((cur,), tbl.drop_columns([BUCKET_COL]),
                        trial_memo=trial_memo, bloom_hashes=bloom_hashes)
            return out.to_batches()

        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            buckets = tbl.column(BUCKET_COL)
            # sorted within the partition: distinct values appear in
            # ascending contiguous runs
            for b in pc.unique(buckets).to_pylist():
                sub = tbl.filter(pc.equal(buckets, b))
                if cur is not None and b != cur and buf:
                    yield from emit()
                    buf = []
                cur = b
                buf.extend(sub.to_batches())
        if buf:
            yield from emit()

    return fn


def encode_table(df: DataFrame, n_buckets: int, run_id: str = "run0",
                 mode: str = "group", cluster_by: str | list[str] | None = None,
                 chunk_max_rows: int = CHUNK_MAX_ROWS,
                 chunk_max_values: int = CHUNK_MAX_VALUES) -> DataFrame:
    """DataFrame of SEQ-shaped rows -> DataFrame of encoded blocks.

    One shuffle (the salted repartition), then embarrassingly parallel
    per-bucket encode. At cluster scale, size ``n_buckets`` so a bucket
    is a few hundred MB (e.g. 100 TB -> ~400k buckets).

    mode 'group' (default): groupBy(bucket).applyInArrow. mode 'map':
    repartitionById(n_buckets, bucket) + mapInArrow — bucket b in
    partition b, so each task buffers exactly one bucket; same resume
    semantics, no JVM-side group sort; kept as an alternative (an A/B
    showed parity within run-to-run noise).
    """
    b = with_bucket(df, n_buckets)
    return encode_bucketed(b, df.schema, n_buckets, run_id, mode, cluster_by,
                           chunk_max_rows, chunk_max_values)


def validate_annotations(schema: T.StructType,
                         bloom_columns: tuple[str, ...] = (),
                         enum_columns: dict[str, list[str]] | None = None,
                         sketch_columns: tuple[str, ...] = (),
                         ) -> None:
    """Fail at plan time (driver) when a bloom/enum column is missing
    or of an unsupported type — not deep inside an executor task.
    Bloom columns: string/binary (value blooms) or arrays of
    int-lane/string/binary elements (element blooms for
    contains_filter). Sketch (HLL) columns: int/string/binary scalars
    or arrays of those. Enum columns: string/binary only."""
    _INT_ELEM = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    for c in tuple(bloom_columns):
        f = next((f for f in schema.fields if f.name == c), None)
        ok = f is not None and (
            isinstance(f.dataType, (T.StringType, T.BinaryType))
            or (isinstance(f.dataType, T.ArrayType)
                and isinstance(f.dataType.elementType,
                               _INT_ELEM + (T.StringType, T.BinaryType)))
        )
        if not ok:
            raise ValueError(
                f"bloom column {c!r} must be an existing string/binary "
                "column or an array of int/string/binary elements"
            )
    _SKETCHABLE = _INT_ELEM + (T.StringType, T.BinaryType)
    for c in tuple(sketch_columns or ()):
        f = next((f for f in schema.fields if f.name == c), None)
        ok = f is not None and (
            isinstance(f.dataType, _SKETCHABLE)
            or (isinstance(f.dataType, T.ArrayType)
                and isinstance(f.dataType.elementType, _SKETCHABLE))
        )
        if not ok:
            raise ValueError(
                f"sketch column {c!r} must be an existing int/string/"
                "binary column or an array of int/string/binary "
                "elements"
            )
    for c in tuple(enum_columns or ()):
        f = next((f for f in schema.fields if f.name == c), None)
        if f is None or not isinstance(f.dataType, (T.StringType,
                                                    T.BinaryType)):
            raise ValueError(
                f"enum column {c!r} must be an existing "
                "string/binary column"
            )


_LANE_CODECS = {
    "int": ("plain", "bitpack", "for", "delta", "rle", "dict"),
    "str": ("plain_str", "dict_str", "fsst"),
    "float": ("plain_f", "split", "alp"),
}


def _leaf_lane(dt: T.DataType) -> str | None:
    """Codec lane of a column's leaf values, descending through list
    nesting; None when the leaf is ambiguous (struct/map/variant —
    multiple leaves with possibly different lanes)."""
    while isinstance(dt, T.ArrayType):
        dt = dt.elementType
    if isinstance(dt, T.DecimalType):
        return "int" if dt.precision <= 18 else "str"
    if isinstance(dt, (T.StringType, T.BinaryType)):
        return "str"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if type(dt) in _INT_ITEMSIZE:
        return "int"
    return None


def validate_codec_override(schema: T.StructType,
                            codec_override: dict[str, str] | None) -> None:
    """Fail at plan time when an override names a missing column, a
    column whose leaf lane is ambiguous, or a codec outside the
    column's lane (reference C1 exposes exactly such per-column
    encoding knobs, CarpetWriter.java:335-374; the auto-selector
    remains the default)."""
    for c, codec in (codec_override or {}).items():
        f = next((f for f in schema.fields if f.name == c), None)
        if f is None:
            raise ValueError(f"codec_override column {c!r} not in schema")
        lane = _leaf_lane(f.dataType)
        if lane is None:
            raise ValueError(
                f"codec_override column {c!r}: leaf codec is ambiguous "
                f"for {f.dataType.simpleString()} (struct/map/variant "
                "columns have multiple leaves)")
        if codec not in _LANE_CODECS[lane]:
            raise ValueError(
                f"codec_override column {c!r}: {codec!r} is not a "
                f"{lane}-lane codec; choose from {_LANE_CODECS[lane]}")


def encode_bucketed(b: DataFrame, schema: T.StructType, n_buckets: int,
                    run_id: str, mode: str = "group",
                    cluster_by: str | list[str] | None = None,
                    chunk_max_rows: int = CHUNK_MAX_ROWS,
                    chunk_max_values: int = CHUNK_MAX_VALUES,
                    bloom_columns: tuple[str, ...] = (),
                    enum_columns: dict[str, list[str]] | None = None,
                    codec_override: dict[str, str] | None = None
                    ) -> DataFrame:
    """Encode an already-bucketed DataFrame (has BUCKET_COL).
    ``bloom_columns``: string/binary columns that get a per-chunk bloom
    filter block for equality pruning (reference C4).
    ``enum_columns``: {column: allowed values} — enum-as-type check,
    enforced per chunk during encode (reference E2 enum writer)."""
    validate_annotations(schema, bloom_columns, enum_columns)
    validate_codec_override(schema, codec_override)
    if mode == "group":
        fn = make_encode_fn(schema, run_id, cluster_by=cluster_by,
                            chunk_max_rows=chunk_max_rows,
                            chunk_max_values=chunk_max_values,
                            bloom_columns=bloom_columns,
                            enum_columns=enum_columns,
                            codec_override=codec_override)
        return b.groupBy(BUCKET_COL).applyInArrow(fn, schema=BLOCK_DDL)
    fn = make_encode_map_fn(schema, run_id, cluster_by=cluster_by,
                            chunk_max_rows=chunk_max_rows,
                            chunk_max_values=chunk_max_values,
                            bloom_columns=bloom_columns,
                            enum_columns=enum_columns,
                            codec_override=codec_override)
    # exact placement: make_encode_map_fn buffers its whole partition,
    # so each partition must hold exactly one bucket
    return b.repartitionById(n_buckets, F.col(BUCKET_COL)).mapInArrow(
        fn, schema=BLOCK_DDL
    )
