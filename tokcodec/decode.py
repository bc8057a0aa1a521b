"""Block decode (≙ reference read path, SURVEY.md §3.2): one bucket's
block rows -> Arrow columns. The table readers run it inside the scan
task (tokcodec.scan); decode_blocks runs it over an in-memory blocks
DataFrame (encode_table output).

Projection pushdown works like the reference's ``SchemaFilter.project``
(impl/read/SchemaFilter.java:56-156): only the requested columns'
blocks are read — the readers open only those columns' block files,
and decode_blocks filters the blocks table's ``column`` field; the
payload bytes of unrequested columns are never decoded.

Decode itself is dictionary-aware in the reference's sense
(StringConverter.java:39-55): dict codecs materialize the dictionary
once per block and ``take`` by index.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from tokcodec.blocks import (
    decode_float_component,
    decode_int_component,
    decode_str_component,
)
from tokcodec.encode import METRICS_COLUMN
from tokcodec.kernels import safe_offsets32
from tokcodec.schema import spark_type_to_arrow


_NP_DTYPE = {
    T.BooleanType: np.int8, T.ByteType: np.int8, T.ShortType: np.int16,
    T.IntegerType: np.int32, T.LongType: np.int64, T.DateType: np.int32,
    T.TimestampType: np.int64, T.TimestampNTZType: np.int64,
    T.TimeType: np.int64,
}


def _cast_ints(v: np.ndarray, dt: T.DataType, target: pa.DataType) -> pa.Array:
    # v is already in the narrowest numpy dtype for dt (decode stays in
    # narrow lanes); remaining casts are cheap metadata-level ones
    if isinstance(dt, T.DecimalType):
        # unscaled int64 -> decimal128 buffer (sign-extend to 128 bits)
        v = v.astype(np.int64, copy=False)
        words = np.empty((len(v), 2), dtype=np.int64)
        words[:, 0] = v
        words[:, 1] = np.where(v < 0, -1, 0)
        return pa.Array.from_buffers(
            target, len(v), [None, pa.py_buffer(words.tobytes())]
        )
    arr = pa.array(v)
    if isinstance(dt, T.BooleanType):
        return arr.cast(pa.bool_())
    return arr.cast(target)


def _ckey(r: dict) -> tuple:
    """Deterministic total chunk order shared by ALL components of a
    bucket. Multi-epoch appends give one bucket blocks from several
    run_ids with colliding chunk numbers; sorting by chunk alone left
    the tie to file-scan order, which could differ between columns
    (silent row misalignment)."""
    return (r["run_id"], r["chunk"])


def _column_row_count(rows: list[dict]) -> int:
    """Row count of a column from its block rows. A component is 1:1
    with rows iff its path never descends through a list's 'values/'
    segment (struct 'f:*' segments keep row cardinality). Validity is
    NOT a candidate: it is only emitted for chunks that contain nulls,
    so summing it undercounts."""
    comps = {r["component"] for r in rows}

    def counts_rows(c: str) -> bool:
        parts = c.split("/")
        if not all(p.startswith("f:") for p in parts[:-1]):
            return False  # below a list's values/: element cardinality
        if parts[-1] == "values":
            # a sibling 'lengths' means this is a list's element values
            return "/".join(parts[:-1] + ["lengths"]) not in comps
        return parts[-1] == "lengths"

    for c in sorted(comps):
        if counts_rows(c):
            return sum(r["n_rows"] for r in rows if r["component"] == c)
    return 0


def _anchor_rows(by_comp: dict[str, list[dict]], prefix: str,
                 dt: T.DataType) -> list[dict]:
    """Block rows of a component that exists in EVERY chunk at this
    node's cardinality (lengths for lists, values for scalars, first
    field's anchor for structs) — the per-chunk row counts validity
    expansion aligns against."""
    from tokcodec.encode import _map_as_list, _surrogate_struct

    if isinstance(dt, T.MapType):
        dt = _map_as_list(dt)
    dt = _surrogate_struct(dt) or dt
    if isinstance(dt, T.ArrayType):
        return by_comp.get(prefix + "lengths", [])
    if isinstance(dt, T.StructType):
        f = dt.fields[0]
        return _anchor_rows(by_comp, f"{prefix}f:{f.name}/", f.dataType)
    return by_comp.get(prefix + "values", [])


def _gather_validity(by_comp: dict[str, list[dict]], vpath: str,
                     anchor_rows: list[dict]) -> np.ndarray | None:
    """Assemble the validity mask across chunks. Validity is emitted
    per-chunk only when that chunk has nulls; chunks without a validity
    block are expanded with all-valid fill of the anchor's row count
    (round-1 ADVICE: naive concatenation misaligned or crashed when
    only some chunks contained nulls)."""
    vrows = by_comp.get(vpath)
    if not vrows:
        return None
    vby = {_ckey(r): r for r in vrows}
    parts = []
    for a in anchor_rows:
        r = vby.get(_ckey(a))
        if r is not None:
            parts.append(decode_int_component(r).astype(bool))
        else:
            parts.append(np.ones(a["n_rows"], dtype=bool))
    return np.concatenate(parts) if parts else np.zeros(0, dtype=bool)


def _apply_validity(out: pa.Array, valid: np.ndarray) -> pa.Array:
    """Null out rows where valid==False via take-with-null-indices —
    works uniformly for every type incl. nested."""
    idx = np.arange(len(out), dtype=np.int64)
    idx_arr = pa.array(idx, pa.int64(), mask=~valid)
    return out.take(idx_arr)


def _decode_node(by_comp: dict[str, list[dict]], prefix: str,
                 dt: T.DataType, n: int) -> pa.Array:
    """Recursive mirror of encode._encode_node over component paths."""
    from tokcodec.encode import _map_as_list

    def decode_numeric(comp_rows, inner_dt):
        inner_target = spark_type_to_arrow(inner_dt)
        if isinstance(inner_dt, (T.FloatType, T.DoubleType)):
            parts = [decode_float_component(r) for r in comp_rows]
            return pa.array(np.concatenate(parts) if parts else
                            np.zeros(0, dtype=np.float64)).cast(inner_target)
        nd = _NP_DTYPE.get(type(inner_dt), np.int64)
        parts = [decode_int_component(r, out_dtype=nd) for r in comp_rows]
        v = np.concatenate(parts) if parts else np.zeros(0, dtype=nd)
        return _cast_ints(v.astype(nd, copy=False), inner_dt, inner_target)

    def decode_leaf(component, inner_dt):
        comp_rows = by_comp.get(component, [])
        if isinstance(inner_dt, T.DecimalType) and inner_dt.precision > 18:
            # fixed 16-byte little-endian decimal128 storage through
            # the binary path (see encode._decimal_bytes)
            from tokcodec.codecs.strcodecs import arrow_to_strchunk

            data = b"".join(
                arrow_to_strchunk(decode_str_component(r, binary=True))[0]
                for r in comp_rows
            )
            return pa.Array.from_buffers(
                spark_type_to_arrow(inner_dt), len(data) // 16,
                [None, pa.py_buffer(data)],
            )
        if isinstance(inner_dt, (T.StringType, T.BinaryType)):
            binary = isinstance(inner_dt, T.BinaryType)
            vparts = [decode_str_component(r, binary=binary) for r in comp_rows]
            return (pa.concat_arrays(vparts) if vparts
                    else pa.array([], pa.binary() if binary else pa.string()))
        return decode_numeric(comp_rows, inner_dt)

    from tokcodec.encode import _surrogate_struct

    is_map = isinstance(dt, T.MapType)
    node_dt = _map_as_list(dt) if is_map else dt
    sur = _surrogate_struct(node_dt)
    if sur is not None:
        # variant/geometry: decoded AS the surrogate struct, but the
        # output StructArray is typed via spark_type_to_arrow(dt) so
        # it carries the field-metadata tags the JVM needs to map the
        # struct back to VariantType/GeometryType (dt stays original)
        node_dt = sur

    if isinstance(node_dt, T.ArrayType):
        lengths_parts = [decode_int_component(r)
                         for r in by_comp.get(prefix + "lengths", [])]
        lengths = (np.concatenate(lengths_parts) if lengths_parts
                   else np.zeros(0, dtype=np.int64))
        et = node_dt.elementType
        n_values = int(lengths.sum())
        if (isinstance(et, (T.StructType, T.ArrayType, T.MapType))
                or _surrogate_struct(et) is not None):
            values = _decode_node(by_comp, prefix + "values/", et, n_values)
        else:
            values = decode_leaf(prefix + "values", et)
            evalid = _gather_validity(
                by_comp, prefix + "values/validity",
                by_comp.get(prefix + "values", []),
            )
            if evalid is not None:
                values = _apply_validity(values, evalid)
        etgt = spark_type_to_arrow(et)
        if values.type != etgt:
            values = values.cast(etgt)
        # build the list/map with its declared (strict) type directly:
        # a cast to an equal type is a zero-copy "view" that RE-VALIDATES
        # nullability and rejects the legitimate nulls children carry
        # under null struct/list elements ("nulls in input cannot be
        # viewed as non-nullable") — Spark's verify_arrow_result, in
        # turn, demands the exact nullability-strict type
        offs_buf = pa.py_buffer(safe_offsets32(lengths).tobytes())
        out = pa.Array.from_buffers(
            spark_type_to_arrow(dt), len(lengths), [None, offs_buf],
            children=[values],
        )
    elif isinstance(node_dt, T.StructType):
        children = [
            _decode_node(by_comp, f"{prefix}f:{f.name}/", f.dataType, n)
            for f in node_dt.fields
        ]
        out = pa.StructArray.from_arrays(
            children,
            fields=list(spark_type_to_arrow(
                dt if sur is not None else node_dt
            )),
        )
    else:
        out = decode_leaf(prefix + "values", node_dt)

    valid = _gather_validity(by_comp, prefix + "validity",
                             _anchor_rows(by_comp, prefix, dt))
    if valid is not None:
        out = _apply_validity(out, valid)
    return out


def _decode_field(rows: list[dict], dt: T.DataType, target: pa.DataType,
                  fills: list[tuple[str, int]] | None = None) -> pa.Array:
    """rows: this column's block rows for one bucket, all chunks/components.

    ``fills``: schema evolution (Iceberg add-column semantics) — the
    bucket's committed runs as ordered ``(run_id, n_rows)``; runs
    written before this column existed have no block rows and are
    null-filled at their run position. Ordering matches the no-fill
    path exactly: both are run-major ascending (``_ckey`` sorts by
    (run_id, chunk)), so columns with and without fills stay
    row-aligned."""
    if fills is not None:
        by_run: dict[str, list[dict]] = {}
        for r in rows:
            by_run.setdefault(r["run_id"], []).append(r)
        unknown = set(by_run) - {rid for rid, _ in fills}
        if unknown:
            raise ValueError(
                f"block rows from runs outside the committed fill set: "
                f"{sorted(unknown)}"
            )
        parts = []
        for rid, nr in fills:
            rrows = by_run.get(rid)
            if rrows:
                parts.append(_decode_field(rrows, dt, target))
            elif nr:
                parts.append(pa.nulls(nr, spark_type_to_arrow(dt)))
        if not parts:
            return pa.nulls(0, spark_type_to_arrow(dt))
        return (parts[0] if len(parts) == 1
                else pa.concat_arrays([p.combine_chunks()
                                       if isinstance(p, pa.ChunkedArray)
                                       else p for p in parts]))
    by_comp: dict[str, list[dict]] = {}
    n = 0
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r)
    for comp, lst in by_comp.items():
        lst.sort(key=_ckey)
        if "/" not in comp:  # top-level component: rows per chunk sum to n
            n = max(n, sum(r["n_rows"] for r in lst))
    return _decode_node(by_comp, "", dt, n)


def make_decode_fn(schema: T.StructType, verify_checksums: bool = False,
                   fill_from: str | None = None,
                   encryption_key: bytes | None = None,
                   bucket_column: str | None = None):
    """Decode step of the slice scan task (tokcodec.scan._scan_slice),
    which calls it once per bucket of its slice, and of decode_blocks'
    grouped stage: (key, blocks pa.Table) -> decoded pa.Table for one
    bucket. It stays per bucket because the evolution fill counts and
    the ``bucket_column`` value are per bucket; decoded memory is one
    bucket's rows.

    ``fill_from`` activates schema-evolution decode (runs written
    before a column was added are null-filled at their run position):

    - ``"__bucket_metrics__"`` (METRICS_COLUMN): per-run row counts
      come from the metrics rows the planner added to the scan — the
      unpruned-read mode (every committed (run, bucket) has exactly
      one metrics row, so fill counts are exact and buckets whose
      scanned data columns are all-fill still appear).
    - any data column name: per-run counts are derived from that
      column's SCANNED rows (the filter column of a zone/bloom-pruned
      read — pruning drops whole (run, bucket, chunk)s across all
      columns, so the anchor's surviving counts are the right fill
      sizes; a fully-pruned run correctly fills zero rows).
    """
    fields = [(f.name, f.dataType) for f in schema.fields]
    out_schema = pa.schema(
        [(n, spark_type_to_arrow(dt)) for n, dt in fields]
        # provenance: the key IS the bucket — emitting it is a
        # constant column, no storage read (upsert uses it to rewrite
        # rows into their original buckets)
        + ([(bucket_column, pa.int32())] if bucket_column else [])
    )

    def fn(key: tuple, table: pa.Table) -> pa.Table:
        from tokcodec.blocks import verify_block_checksum
        from tokcodec.crypto import decrypt_block_row, is_encrypted

        recs = table.to_pylist()
        by_col: dict[str, list[dict]] = {}
        for r in recs:
            if verify_checksums and r["column"] != METRICS_COLUMN:
                # crc covers STORED bytes — verifiable before (and
                # without) decryption, like parquet page crcs
                verify_block_checksum(r)
            if is_encrypted(r):
                decrypt_block_row(encryption_key, r)
            by_col.setdefault(r["column"], []).append(r)
        fills = None
        if fill_from is not None:
            src = by_col.get(fill_from, [])
            per_run: dict[str, int] = {}
            if fill_from == METRICS_COLUMN:
                for r in src:
                    per_run[r["run_id"]] = (
                        per_run.get(r["run_id"], 0) + r["n_rows"]
                    )
            else:
                by_run: dict[str, list[dict]] = {}
                for r in src:
                    by_run.setdefault(r["run_id"], []).append(r)
                per_run = {rid: _column_row_count(rs)
                           for rid, rs in by_run.items()}
            fills = sorted(per_run.items())
        arrays = []
        for (name, dt), target in zip(fields, out_schema.types):
            rows = by_col[name] if fills is None else by_col.get(name, [])
            arrays.append(_decode_field(rows, dt, target, fills))
        if bucket_column:
            n_out = len(arrays[0]) if arrays else 0
            bkt = key[0].as_py() if hasattr(key[0], "as_py") else key[0]
            arrays.append(pa.array(
                np.full(n_out, int(bkt), dtype=np.int32)))
        return pa.Table.from_arrays(arrays, schema=out_schema)

    return fn


def decode_blocks(blocks: DataFrame, schema: T.StructType,
                  columns: list[str] | None = None,
                  verify_checksums: bool = False,
                  fill_from: str | None = None,
                  encryption_key: bytes | None = None,
                  bucket_column: str | None = None) -> DataFrame:
    """Blocks DataFrame -> decoded rows. ``columns`` = projection.
    ``verify_checksums`` recomputes each block's crc32 before decode
    (the reference's page-checksum knob, CarpetWriter.java:392-406,
    always recorded here and verified on demand). ``fill_from``:
    schema-evolution decode — see make_decode_fn."""
    if columns is not None:
        by_name = {f.name: f for f in schema.fields}
        missing = set(columns) - set(by_name)
        if missing:
            # reference behavior: fail on missing column by default
            # (SchemaValidation.java:63-69)
            raise ValueError(f"columns not in encoded table: {sorted(missing)}")
        schema = T.StructType([by_name[c] for c in columns])
    wanted = [f.name for f in schema.fields]
    if fill_from == METRICS_COLUMN:
        keep = F.col("column").isin(wanted + [METRICS_COLUMN])
    else:
        keep = (F.col("column") != METRICS_COLUMN) \
            & F.col("column").isin(wanted)
    b = blocks.filter(keep)
    fn = make_decode_fn(schema, verify_checksums=verify_checksums,
                        fill_from=fill_from, encryption_key=encryption_key,
                        bucket_column=bucket_column)
    out_schema = schema
    if bucket_column:
        out_schema = T.StructType(
            list(schema.fields)
            + [T.StructField(bucket_column, T.IntegerType(), False)])
    return b.groupBy("bucket").applyInArrow(fn, schema=out_schema)


def _default_array(dt: T.DataType, n: int, nullable: bool) -> pa.Array:
    """Reference null/missing policy: missing or null for a primitive
    becomes the type default 0/0.0/false/"" (ReadReflection.java:72-95,
    schema-mismatch docs); nullable fields get nulls."""
    target = spark_type_to_arrow(dt)
    if nullable:
        return pa.nulls(n, target)
    if isinstance(dt, T.StringType):
        return pa.array([""] * n, target)
    if isinstance(dt, T.ArrayType):
        offs = pa.array(np.zeros(n + 1, dtype=np.int32), pa.int32())
        return pa.ListArray.from_arrays(
            offs, pa.array([], spark_type_to_arrow(dt.elementType))
        ).cast(target)
    return pa.array(np.zeros(n, dtype=np.int64)).cast(target)


def make_read_as_fn(plan, fail_on_narrowing: bool = False):
    """Schema-on-read projection of one decoded bucket table (the scan
    task's ``project`` step for read_encoded_as). ``plan``: one
    (read field, stored field or None) pair per output column, in
    output order. Stored columns are renamed and cast to the read type
    (``safe=fail_on_narrowing``: an overflowing narrowing raises
    instead of truncating); missing ones get the reference default
    (see _default_array)."""
    out_schema = pa.schema(
        [(rf.name, spark_type_to_arrow(rf.dataType)) for rf, _ in plan])

    def project(table: pa.Table) -> pa.Table:
        arrays = []
        for (rf, ff), target in zip(plan, out_schema.types):
            if ff is None:
                arrays.append(_default_array(rf.dataType, table.num_rows,
                                             rf.nullable))
                continue
            arr = table.column(ff.name)
            if arr.type != target:
                arr = arr.cast(target, safe=bool(fail_on_narrowing))
            arrays.append(arr)
        return pa.Table.from_arrays(arrays, schema=out_schema)

    return project
