"""The read pipeline, written once: a Spark-free snapshot planner and
the slice scan every reader runs, in two placements.

    plan_snapshot  table manifest + lineage -> accepted {bucket:
                   [run_id]} -> run-manifest file rows -> read schema,
                   prune specs, pending deletes. Pure pyarrow-fs
                   metadata IO: no Spark job, no JVM gateway, so the
                   same planner serves read_encoded on the driver and
                   the Python DataSource in its planner worker.
    _scan_slice    one contiguous slice of buckets, each planned block
                   file opened at most once, in two phases:
                   _prune_slice (the filter columns' files read first
                   -> optional chunk allow-list / sample -> chunk
                   pruning over the whole slice, _prune_block_table)
                   and _decode_slice (the other columns' files read
                   only for surviving buckets -> decode one bucket at
                   a time -> removal lists -> optional Arrow-side
                   projection).
    scan_frame     the Spark wrapper read_encoded, read_encoded_as,
                   sample_encoded and the aggregate boundary decode
                   build on. One rule places the scan: a read whose
                   decoded size is bounded at or under
                   _DRIVER_SCAN_MAX_BYTES runs its slices on the
                   driver (_driver_scan) and becomes
                   spark.createDataFrame(table) — no Python task; any
                   other read runs one mapInArrow task per slice of
                   the accepted buckets, fed by spark.range. Neither
                   shuffles a payload or puts a block file in a Spark
                   scan.

The DataSource's batch and stream readers (one partition per slice)
and join_encoded call _scan_slice directly; explain_scan,
count_encoded and the aggregate entry points start from
plan_snapshot. Chunk pruning is decided from the same planned specs
on every path, and from metadata before any other column's data is
read (Global Range Encoding, EDBT 2018: elimination decided once,
from one metadata structure, before touching data); on the driver
placement the same pruning result also decides where the decode
runs.
"""

from __future__ import annotations

import posixpath
from dataclasses import dataclass, field

from pyspark.sql import types as T

from tokcodec.encode import METRICS_COLUMN
from tokcodec.io_tables import (
    LAYOUT_VERSION,
    _as_of_schema,
    _blocks_df,
    _chunk_keys,
    _committed_pandas,
    _deletes_in_force,
    _direct_file_rows,
    _evolution_fill_columns,
    _fan_out,
    _lineage_local,
    _normalize_filter,
    _paths,
    _prune_block_table,
    _read_json_fs,
    _run_files,
    _task_slots,
)
from tokcodec.schema import manifest_schema

# scan_frame's placement rule: a read whose decoded size is bounded at
# or under this many bytes is scanned on the driver (_driver_scan)
# instead of by a wave of Python tasks, which costs a fixed
# ~330-450 ms on a 4-core host. Full scans of 16-bucket synth tables
# there (4 slices, one driver thread each) crossed between 16 MB
# decoded (driver 425 ms, tasks 535 ms) and 28 MB (524 vs 491 ms);
# the cap sits below that, and it also bounds the driver's memory
# for one scan.
_DRIVER_SCAN_MAX_BYTES = 16 << 20


@dataclass
class Snapshot:
    """One planned read. ``accepted``: the winning run ids per bucket;
    ``files``: those runs' file-manifest rows; ``schema``: the read
    schema (the snapshot schema for as-of reads); ``filters``: the
    normalized filters, each with its exact residual Column;
    ``deletes``: removal lists in force;
    ``winners``: the winning lineage rows (pandas)."""

    path: str
    manifest: dict
    schema: T.StructType
    accepted: dict[int, list[str]]
    files: list[dict]
    deletes: list[dict]
    winners: object
    filters: list[dict] = field(default_factory=list)
    filter_columns: list[str] = field(default_factory=list)

    @property
    def specs(self) -> list[dict]:
        """Picklable prune specs for the scan task (no Columns)."""
        return [_strip(nf) for nf in self.filters]

    def lin_rows(self) -> list[tuple[int, str]]:
        return sorted((b, r) for b, rs in self.accepted.items()
                      for r in rs)

    def blocks_df(self, spark, columns_needed=None):
        """The plan's block rows as a DataFrame (explain_scan and the
        aggregate pivot evaluate _filter_survivors over it)."""
        lin = spark.createDataFrame(self.lin_rows(),
                                    "bucket int, run_id string")
        return _blocks_df(spark, self.path, lin,
                          columns_needed=columns_needed, files=self.files)


def _strip(nf: dict) -> dict:
    d = {k: v for k, v in nf.items() if k not in ("residual", "subs")}
    if "subs" in nf:
        d["subs"] = [_strip(s) for s in nf["subs"]]
    return d


def _normalize_filters(schema: T.StructType, manifest: dict,
                       filts: list[tuple[str, tuple]]) -> list[dict]:
    """(kind, spec) filters -> normalized filter dicts (see
    io_tables._normalize_filter). An ``or`` spec becomes one entry
    whose ``subs`` are its range branches: a chunk survives when any
    branch's zone hits, and its residual is the OR of theirs."""
    nfs = []
    for kind, spec in filts:
        if kind != "or":
            nfs.append(_normalize_filter(schema, manifest, kind, spec))
            continue
        subs = [_normalize_filter(schema, manifest, "range", tuple(rf))
                for rf in spec]
        res = subs[0]["residual"]
        for s in subs[1:]:
            res = res | s["residual"]
        nfs.append({"kind": "or", "col": subs[0]["col"], "lane": "or",
                    "residual": res, "subs": subs})
    return nfs


def plan_snapshot(path: str, as_of_epoch: int | None = None,
                  since_epoch: int | None = None,
                  buckets=None, filters=(),
                  with_files: bool = True) -> Snapshot:
    """Plan a read of the table at ``path`` from its metadata alone:
    the manifest, the lineage (winner per (bucket, epoch) in the
    (since_epoch, as_of_epoch] window), the winning runs' file
    manifests (overlapped on the metadata thread pool when there are
    many), the snapshot schema and the delete log.

    ``buckets`` restricts the plan to those storage buckets before any
    run manifest is read. ``filters`` are (kind, spec) pairs validated
    against the current schema and normalized into prune specs plus
    exact residual Columns (which need a live SparkContext; the
    DataSource passes none). ``with_files=False`` skips the run
    manifests (and
    with them the snapshot-schema projection) for metadata-only
    callers."""
    manifest = _read_json_fs(_paths(path)[2])
    if manifest.get("layout", 1) != LAYOUT_VERSION:
        raise ValueError(
            f"table at {path!r} has layout {manifest.get('layout', 1)}; "
            f"this build reads layout {LAYOUT_VERSION} — re-encode")
    full = manifest_schema(manifest)
    names = set(full.fieldNames())
    fcols: list[str] = []
    for kind, spec in filters:
        for c in ([rf[0] for rf in spec] if kind == "or" else [spec[0]]):
            if c not in names:
                raise ValueError(
                    f"filter column {c!r} not in encoded table")
            if c not in fcols:
                fcols.append(c)
    nfs = _normalize_filters(full, manifest, list(filters))

    lin = _lineage_local(path)
    win = lin
    if as_of_epoch is not None:
        win = win[win.epoch <= int(as_of_epoch)]
    if since_epoch is not None:
        # incremental (CDC-append) window: only epochs after the
        # consumer's checkpoint participate
        win = win[win.epoch > int(since_epoch)]
    win = _committed_pandas(win)
    if buckets is not None:
        win = win[win.bucket.isin([int(b) for b in buckets])]
    accepted: dict[int, list[str]] = {}
    for b, rid in zip(win.bucket, win.run_id):
        accepted.setdefault(int(b), []).append(rid)

    schema, files = full, []
    dels = _deletes_in_force(lin, as_of_epoch=as_of_epoch)
    if with_files:
        files, run_schemas = _run_files(
            path, {r for rs in accepted.values() for r in rs},
            with_schemas=True)
        if as_of_epoch is not None:
            # snapshot-schema time travel: the union of the
            # participating runs' stored schemas; a delete keyed on a
            # column absent from it cannot match a snapshot row
            schema = _as_of_schema(full, run_schemas)
            snap_names = set(schema.fieldNames())
            dels = [d for d in dels if d["key_column"] in snap_names]
    return Snapshot(path=path, manifest=manifest, schema=schema,
                    accepted=accepted, files=files, deletes=dels,
                    winners=win, filters=nfs, filter_columns=fcols)


def fill_anchor(files: list[dict], wanted, filter_columns) -> str | None:
    """Evolution null-fill source for a decode of ``wanted`` columns
    (see make_decode_fn): None when every run carries every wanted
    column; a pruned read anchors on its first filter column (its
    surviving rows give the fill counts); an unpruned one on the
    per-(run, bucket) metrics rows, which then join the scan."""
    if not _evolution_fill_columns(files, wanted):
        return None
    return filter_columns[0] if filter_columns else METRICS_COLUMN


def _sample_keep(key: str, frac: float, seed: int) -> bool:
    """Chunk-granular Bernoulli draw: a process-stable hash of the
    chunk's identity (its _chunk_key) and the seed (never Python's
    salted hash()), so the same (table, fraction, seed) keeps the same
    chunks in every task and every session."""
    import hashlib

    h = hashlib.blake2b(f"{key}/{seed}".encode(), digest_size=8).digest()
    return int.from_bytes(h, "little") % 1_000_000 < int(frac * 1_000_000)


def _keep_chunks(tbl, chunks, sample):
    """Rows of the chunks in the allow-list ``chunks`` (a set of
    _chunk_keys; None: all) that also pass the ``sample`` draw (None:
    all). The draw runs once per distinct chunk; the mask is one Arrow
    is_in."""
    import pyarrow as pa
    import pyarrow.compute as pc

    keys = _chunk_keys(tbl)
    keep = pc.unique(keys).to_pylist()
    if chunks is not None:
        keep = [k for k in keep if k in chunks]
    if sample is not None:
        keep = [k for k in keep if _sample_keep(k, *sample)]
    return tbl.filter(pc.is_in(keys, value_set=pa.array(keep, pa.string())))


def _spec_columns(specs) -> set:
    """The columns a list of prune specs reads (an ``or`` spec's
    branches may name several)."""
    return {s["col"] for nf in specs
            for s in (nf["subs"] if nf["kind"] == "or" else [nf])}


def _slice_files(rows, accepted, buckets) -> list[tuple[str, str, list]]:
    """The block files one slice task reads: (path, column, buckets it
    takes from the file) for every file of the plan's ``rows``
    (_direct_file_rows) that overlaps the sorted ``buckets``. A bucket
    is taken from a file only when the file's run is accepted for it
    (a file holds exactly one run), so the losing side of a re-encoded
    bucket is never read. One bisect per file range."""
    import bisect

    by_path: dict[str, tuple[str, list]] = {}
    for lo, hi, fp, col, rid in rows:
        for b in buckets[bisect.bisect_left(buckets, lo):
                         bisect.bisect_right(buckets, hi)]:
            if rid in accepted.get(b, ()):
                by_path.setdefault(fp, (col, []))[1].append(b)
    return [(fp, col, sorted(bs)) for fp, (col, bs) in by_path.items()]


def _open_block_file(path: str):
    """Open one block file (reads its footer): the scan task's only
    parquet open of table data."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(path)


class _BlockFile:
    """One planned block file of a slice task. It is opened on the
    first take() and at most once; its row groups are read in bucket
    order, only when a taken bucket lies in their footer's bucket
    range, and split by bucket. Rows of buckets the slice does not
    take from the file are dropped."""

    def __init__(self, path: str, buckets: list[int]):
        self.path = path
        self.buckets = buckets
        self.has = set(buckets)
        self._pf = None
        self._groups: list[tuple[int, int, int]] = []  # (lo, hi, index)
        self._held: dict = {}  # bucket -> rows read, not yet taken

    def _open(self):
        import math

        self._pf = _open_block_file(self.path)
        md = self._pf.metadata
        col = md.schema.to_arrow_schema().get_field_index("bucket")
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(col).statistics
            if st is not None and st.has_min_max:
                self._groups.append((st.min, st.max, i))
            else:
                self._groups.append((-math.inf, math.inf, i))
        self._groups.sort()

    def take(self, bucket: int):
        """This file's rows of ``bucket`` (None: none). Buckets are
        taken in ascending order; rows held for a lower bucket that was
        never taken are released."""
        import numpy as np

        if self._pf is None:
            self._open()
        self._held = {b: t for b, t in self._held.items() if b >= bucket}
        while self._groups and self._groups[0][0] <= bucket:
            lo, hi, i = self._groups.pop(0)
            if hi < bucket:
                continue  # only buckets this slice skipped
            t = self._pf.read_row_group(i)
            if lo == hi:  # lo == bucket
                self._held[lo] = t
                continue
            # the writer stores rows in bucket order, so each bucket is
            # one zero-copy slice
            bs = t.column("bucket").to_numpy()
            if (np.diff(bs) < 0).any():
                order = np.argsort(bs, kind="stable")
                t, bs = t.take(order), bs[order]
            want = [b for b in self.buckets if bucket <= b <= hi]
            starts = np.searchsorted(bs, want, "left")
            ends = np.searchsorted(bs, want, "right")
            for b, a, z in zip(want, starts, ends):
                if z > a:
                    self._held[b] = t.slice(a, z - a)
        return self._held.pop(bucket, None)

    def close(self):
        if self._pf is not None:
            self._pf.close()


def _removal_sets(removals) -> list:
    """(key column, keys) per removal list, each list read once. UUID
    keys are stored as 16-byte binary, so their canonical text is
    hex-decoded (vectorized) before matching."""
    import pyarrow.parquet as pq

    out = []
    for d in removals:
        kcol = pq.read_table(d["file"], columns=[d["key_column"]]) \
            .column(d["key_column"]).combine_chunks()
        out.append((d["key_column"],
                    _uuid_bytes(kcol) if d["uuid"] else kcol))
    return out


def _uuid_bytes(text):
    """Canonical UUID strings (dashes optional, either hex case) ->
    16-byte binary values; nulls are dropped. A malformed value
    raises."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    hexed = pc.replace_substring(text.drop_null(), "-", "").cast(pa.string())
    n = len(hexed)
    if n and not pc.all(pc.equal(pc.binary_length(hexed), 32)).as_py():
        raise ValueError("removal list holds a value that is not a UUID")
    offs = np.frombuffer(hexed.buffers()[1], np.int32,
                         count=n + 1, offset=4 * hexed.offset)
    chars = np.frombuffer(hexed.buffers()[2], np.uint8)[offs[0]:offs[-1]] \
        if n else np.zeros(0, np.uint8)
    lut = np.full(256, 255, np.uint8)  # hex digit -> nibble
    lut[np.frombuffer(b"0123456789abcdef", np.uint8)] = np.arange(16)
    lut[np.frombuffer(b"ABCDEF", np.uint8)] = np.arange(10, 16)
    nib = lut[chars]
    if (nib > 15).any():
        raise ValueError("removal list holds a value that is not a UUID")
    raw = (nib[0::2] << 4) | nib[1::2]
    return pa.Array.from_buffers(
        pa.binary(), n,
        [None, pa.py_buffer(np.arange(0, 16 * n + 1, 16, dtype=np.int32)),
         pa.py_buffer(raw.astype(np.uint8))])


def _prune_slice(buckets, files, specs, chunks=None, sample=None,
                 encryption_key: bytes | None = None):
    """Prune phase of the slice scan: {bucket: surviving filter-column
    block rows} for a filtered slice (empty: no chunk survives), None
    for an unfiltered one (``specs`` empty). The filter columns'
    files (``specs``) are opened once each, read for the slice's
    buckets, restricted to the allow-listed / sampled chunks
    (``chunks``: a set of _chunk_keys; ``sample``: (fraction, seed))
    and pruned in one pass (_prune_block_table); they are closed
    before this returns."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if not specs:
        return None
    fcols = _spec_columns(specs)
    opened = [_BlockFile(fp, bs) for fp, col, bs in files if col in fcols]
    try:
        parts = [t for f in opened for b in f.buckets
                 if (t := f.take(b)) is not None]
    finally:
        for f in opened:
            f.close()
    if not parts:
        return {}  # no filter-column rows: no chunk can match
    tbl = pa.concat_tables(parts)
    if chunks is not None or sample is not None:
        tbl = _keep_chunks(tbl, chunks, sample)
    tbl = _prune_block_table(tbl, specs, encryption_key=encryption_key)
    bcol = tbl.column("bucket")
    return {b: tbl.filter(pc.equal(bcol, b))
            for b in pc.unique(bcol).to_pylist()}


def _decode_slice(buckets, files, specs, pruned, decode, chunks=None,
                  sample=None, removals=(), project=None):
    """Decode phase of the slice scan, over the prune phase's result
    ``pruned`` (_prune_slice; consumed): yields (bucket, decoded
    pa.Table) for each bucket with rows, in order. The other columns'
    files are opened only if some chunk survives, and read only for
    the surviving buckets (of a filtered slice) and chunks. Decode
    runs one bucket at a time (its evolution fill and ``__bucket``
    column are per bucket), then drops rows on the removal lists
    (``removals``: dicts with key_column, file, uuid; each list is
    read once per slice) and applies the optional ``project``
    (pa.Table -> pa.Table)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    fcols = _spec_columns(specs)
    rest = [_BlockFile(fp, [b for b in bs if pruned is None or b in pruned])
            for fp, col, bs in files if col not in fcols]
    drops = None
    try:
        for b in buckets:
            if pruned is not None and b not in pruned:
                continue
            parts = [pruned.pop(b)] if pruned is not None else []
            alive = pc.unique(_chunk_keys(parts[0])) if parts else None
            for f in rest:
                if b not in f.has or (t := f.take(b)) is None:
                    continue
                if alive is not None:
                    t = t.filter(pc.is_in(_chunk_keys(t), value_set=alive))
                elif chunks is not None or sample is not None:
                    t = _keep_chunks(t, chunks, sample)
                parts.append(t)
            tbl = pa.concat_tables(parts) if parts else None
            if tbl is None or tbl.num_rows == 0:
                continue
            out = decode((b,), tbl)
            if removals and drops is None:
                drops = _removal_sets(removals)
            for kc, keys in drops or ():
                out = out.filter(pc.invert(pc.is_in(out.column(kc),
                                                    value_set=keys)))
            if project is not None:
                out = project(out)
            yield b, out
    finally:
        for f in rest:
            f.close()


def _scan_slice(buckets, files, specs, decode, chunks=None, sample=None,
                encryption_key: bytes | None = None, removals=(),
                project=None):
    """THE scan task body, for one slice of buckets (sorted): yields
    (bucket, decoded pa.Table) for each bucket with rows, in order.
    ``files``: the slice's planned block files (_slice_files); each is
    opened at most once. The prune phase (_prune_slice) reads the
    filter columns' files first and prunes the slice's chunks in one
    pass; the decode phase (_decode_slice) reads the other columns'
    files for the survivors only and decodes them. scan_frame's
    driver placement runs the two phases separately, so that it can
    bound a read's decoded size between them."""
    pruned = _prune_slice(buckets, files, specs, chunks=chunks,
                          sample=sample, encryption_key=encryption_key)
    yield from _decode_slice(buckets, files, specs, pruned, decode,
                             chunks=chunks, sample=sample,
                             removals=removals, project=project)


def scan_frame(spark, snap: Snapshot, decode, out_schema, scan_cols,
               chunks=None, sample=None,
               encryption_key: bytes | None = None, project=None):
    """DataFrame of _scan_slice over every accepted bucket of ``snap``,
    in one of two placements decided by one rule (_driver_scan): a
    read whose decoded size is bounded at or under
    _DRIVER_SCAN_MAX_BYTES runs its slices on the driver, now, and
    comes back as spark.createDataFrame(table) — no Python task, no
    MapInArrow; any other read, and any read of a type that cannot
    cross createDataFrame (_crosses_arrow), runs one mapInArrow task
    per slice, decoded when the frame is evaluated.

    The task input is spark.range over bucket indexes, sliced into
    one contiguous range per core (_bucket_feed; the same slices the
    write path gives its encode tasks, so a task's files hold just
    its own buckets): no rows are shuffled and no block file enters a
    Spark scan. The plan travels as one broadcast — the sorted bucket
    list, the accepted runs and one (lo, hi, path, column, run_id) row
    per file bucket-range (O(file ranges), never O(buckets x files));
    each task lists its slice's files with one bisect pass
    (_slice_files) and runs one _scan_slice over them, so each file is
    opened at most once per read. ``chunks``: optional allow-list, a
    set of _chunk_keys; chunks are pruned by the snapshot's filter
    specs."""
    buckets = sorted(snap.accepted)
    rows = _direct_file_rows(snap.files, scan_cols, _paths(snap.path)[0])
    specs = snap.specs
    local = _driver_scan(snap, rows, _slices(buckets, _task_slots(
        spark, len(buckets))), specs, decode, chunks=chunks, sample=sample,
        encryption_key=encryption_key, project=project) \
        if _crosses_arrow(out_schema) else None
    if local is not None:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        # an empty read too stays a local relation (a list would make
        # an RDD scan)
        return spark.createDataFrame(
            pa.concat_tables(local) if local
            else to_arrow_schema(out_schema).empty_table(), out_schema)
    plan = spark.sparkContext.broadcast((buckets, snap.accepted, rows,
                                         chunks))

    def fn(batches):
        all_b, accepted, rows, allow = plan.value
        bks = sorted(all_b[i] for batch in batches
                     for i in batch.column(0).to_pylist())
        for _b, out in _scan_slice(
                bks, _slice_files(rows, accepted, bks), specs, decode,
                chunks=allow, sample=sample,
                encryption_key=encryption_key, project=project):
            yield from out.to_batches()

    return _bucket_feed(spark, len(buckets)).mapInArrow(fn, out_schema)


def _crosses_arrow(schema: T.StructType) -> bool:
    """Can every row of ``schema`` go through
    spark.createDataFrame(arrow)? Not when a column holds a struct
    with a non-nullable field, or a variant, geometry or geography
    (whose Arrow form is such a struct, tokcodec.schema), at any
    depth: createDataFrame casts the decoded table to the schema's
    Arrow form, and that cast rejects a non-nullable struct field that
    the decoded struct declares nullable, or that holds nulls under a
    null parent. A read of such a column keeps the task placement."""

    def ok(dt) -> bool:
        if isinstance(dt, (T.VariantType, T.GeometryType,
                           T.GeographyType)):
            return False
        if isinstance(dt, T.StructType):
            return all(f.nullable and ok(f.dataType) for f in dt.fields)
        if isinstance(dt, T.ArrayType):
            return ok(dt.elementType)
        if isinstance(dt, T.MapType):
            return ok(dt.keyType) and ok(dt.valueType)
        return True

    return all(ok(f.dataType) for f in schema.fields)


def _slices(buckets: list, n: int) -> list[list]:
    """``buckets`` cut into ``n`` contiguous slices, exactly as
    spark.range(0, len(buckets), numPartitions=n) cuts its indexes
    (_bucket_feed): slice i takes [i*len//n, (i+1)*len//n)."""
    m = len(buckets)
    return [buckets[i * m // n:(i + 1) * m // n] for i in range(n)]


def _driver_scan(snap: Snapshot, rows, slices, specs, decode, chunks=None,
                 sample=None, encryption_key: bytes | None = None,
                 project=None):
    """The driver placement of scan_frame: the decoded pa.Tables of
    the read's slices, scanned on the driver in bucket order, or None
    when the read is over the cap and belongs to the tasks. The
    driver never holds more than _DRIVER_SCAN_MAX_BYTES in block rows
    or in decoded rows:

    - an unfiltered read is bounded by its (run, bucket) pairs'
      lineage ``orig_bytes`` (decoded bytes, every column), read from
      the plan with no IO;
    - a filtered read first needs its filter columns' files to total
      at most the cap (run-manifest ``bytes``; else no file is opened
      here); the prune phase (_prune_slice) then runs for every slice,
      and the read is bounded by the surviving (run, bucket) pairs'
      ``orig_bytes``.

    At or under the cap the decode phase (_decode_slice) runs on the
    survivors already held — no file is read twice."""
    import pyarrow.compute as pc

    cap = _DRIVER_SCAN_MAX_BYTES
    plans = [(bks, _slice_files(rows, snap.accepted, bks))
             for bks in slices if bks]
    if specs:
        fcols = _spec_columns(specs)
        blocks_p = _paths(snap.path)[0]
        size = {posixpath.join(blocks_p, f["path"]): f["bytes"]
                for f in snap.files if f["column"] in fcols}
        if sum(size[fp] for fp in {fp for _, files in plans
                                   for fp, col, _ in files
                                   if col in fcols}) > cap:
            return None
        pruned = _fan_out(lambda plan: _prune_slice(
            *plan, specs, chunks=chunks, sample=sample,
            encryption_key=encryption_key), plans, min_items=2)
        taken = {(r, b) for p in pruned for b, t in p.items()
                 for r in pc.unique(t.column("run_id")).to_pylist()}
    else:
        pruned = [None] * len(plans)
        taken = {(r, b) for b, rs in snap.accepted.items() for r in rs}
    win = snap.winners
    held = [(r, b) in taken for r, b in zip(win.run_id, win.bucket)]
    if int(win.orig_bytes[held].sum()) > cap:
        return None

    def decoded(job):
        (bks, files), p = job
        return [out for _b, out in _decode_slice(
            bks, files, specs, p, decode, chunks=chunks, sample=sample,
            project=project)]

    # one thread per slice: block-file reads and the decode kernels
    # release the GIL
    return [out for outs in _fan_out(decoded, zip(plans, pruned),
                                     min_items=2)
            for out in outs]


def _bucket_feed(spark, n: int):
    """spark.range over indexes 0..n-1 of a planned bucket list, one
    contiguous slice per Python task (_task_slots): the task input of
    every per-bucket stage on the read side — no Exchange."""
    return spark.range(0, n, numPartitions=_task_slots(spark, n))
