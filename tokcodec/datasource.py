"""tokcodec as a Spark DATA SOURCE (Spark 4 Python DataSource API):

    from tokcodec.datasource import TokcodecDataSource
    spark.dataSource.register(TokcodecDataSource)

    spark.read.format("tokcodec").load("/data/enc")          # batch
    spark.readStream.format("tokcodec").load("/data/enc")    # CDC
    df.write.format("tokcodec").mode("append").save(...)     # append
    df.write.format("tokcodec").mode("overwrite").save(...)  # replace
    df.writeStream.format("tokcodec").start("/data/enc")     # sink
    (Python data sources take explicit append/overwrite modes only)

This is the reference's "reads like any table" promise
(CarpetReader / parquet's DataSource integration) delivered through
Spark's own source API instead of a bespoke reader call. The read
side is read_encoded's pipeline, not a copy of it:

- planning is tokcodec.scan.plan_snapshot — Spark-free (pyarrow fs),
  which is what DataSource methods need, since they run without a
  SparkSession — and the declared schema is the planner's read
  schema (the snapshot schema under ``as_of_epoch``);
- batch and stream reads plan one InputPartition per slice of
  buckets (_slices: a connected component of the accepted files'
  bucket ranges, cut at the newest run's ranges), and read() runs
  the one scan task, tokcodec.scan._scan_slice, so each block file
  is opened once per slice; every partition is self-contained
  (buckets, files, prune specs, removal lists), so nothing depends
  on reader pickling order;
- WHERE predicates arrive via pushFilters and become the readers'
  normalized filters: the task prunes by them and applies their
  exact residual in Arrow, as read_encoded does, so only matching
  rows leave the task. A pushed filter becomes one only when it is
  the same or a wider predicate (a strict bound becomes inclusive),
  and every filter is also returned to Spark unhandled, so Spark
  re-applies the exact predicate;
- the STREAM reader turns the epoch lineage into a Structured
  Streaming source: each micro-batch covers the (start, end] epoch
  window (exactly ``read_encoded(since_epoch=...)``'s incremental
  semantics), so `readStream` tails a table that streaming ingest or
  upserts keep appending to;
- pending equality deletes are removed in the scan task by the
  readers' one removal step (tokcodec.scan.removal_plan; each task
  reads each removal list once and builds one lookup per key column).

- the WRITE path reuses write_encoded's exact task body (encode ->
  block files -> O(run) metadata commit), so DataSource-written and
  write_encoded-written runs co-exist in one table; each input
  partition becomes one bucket (repartition upstream to shape bucket
  sizes / defuse skew), appends land at a fresh epoch, overwrite
  supersedes atomically (tombstones + commits in ONE lineage append),
  and the streaming sink commits each micro-batch as epoch=batchId —
  idempotent under batch replay via latest-run-wins.

Read options: ``path`` (or load(path)), ``encryption_key_hex``,
``as_of_epoch``, ``since_epoch`` (batch: epoch window; stream:
starting offset), ``pushdown``. Write options: ``bloom_columns`` /
``sketch_columns`` / ``cluster_by`` / ``encrypted_columns`` (comma
lists), ``chunk_max_rows`` / ``chunk_max_values``, ``codec_override``
(JSON), ``encryption_key_hex``, ``run_id``. uuid/enum column
conversion and schema evolution go through write_encoded."""

from __future__ import annotations

import json
import posixpath

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from tokcodec.io_tables import (
    _read_json_if_exists,
    _task_fs,
    _write_json_fs,
)
from tokcodec.schema import LAYOUT_VERSION, manifest_schema


# ------------------------------------------------------------ read path

class _SlicePartition(InputPartition):
    """Self-contained task spec — everything read() needs, so nothing
    depends on which copy of the reader an executor unpickles (the
    stream reader plans its removal lists per micro-batch)."""

    def __init__(self, buckets: list[int], files: list[tuple],
                 specs: list[dict], removals: list[dict],
                 extra: list[T.StructField], fill: str | None):
        self.buckets = buckets  # one contiguous slice, sorted
        self.files = files  # _slice_files: (path, column, run, buckets)
        self.specs = specs
        self.removals = removals  # removal_plan dicts
        self.extra = extra  # delete key columns outside the projection
        self.fill = fill


def _slices(snap, rows) -> list[list[int]]:
    """The snapshot's accepted buckets cut into partition slices. A
    slice is a connected component of the accepted files' bucket
    ranges, so a file belongs to exactly one slice; a component that
    spans more than one of the newest run's bucket ranges is cut at
    those ranges' boundaries (the newest run's writer tasks set the
    table's current task slices). An older file that crosses a cut is
    read by each slice it overlaps."""
    import bisect

    from tokcodec.scan import _slice_files

    buckets = sorted(snap.accepted)
    spans = sorted((bs[0], bs[-1]) for _fp, _c, _r, bs
                   in _slice_files(rows, snap.accepted, buckets))
    comps: list[list[int]] = []
    for lo, hi in spans:
        if comps and lo <= comps[-1][1]:
            comps[-1][1] = max(comps[-1][1], hi)
        else:
            comps.append([lo, hi])
    w = snap.winners
    newest = w.run_id[w.epoch == w.epoch.max()].max() if len(w) else None
    cuts = sorted({c for lo, hi, _fp, _c, rid in rows if rid == newest
                   for c in (lo, hi + 1)})
    out = []
    for lo, hi in comps:
        edges = [lo] + [c for c in cuts if lo < c <= hi] + [hi + 1]
        for a, z in zip(edges, edges[1:]):
            piece = buckets[bisect.bisect_left(buckets, a):
                            bisect.bisect_left(buckets, z)]
            if piece:
                out.append(piece)
    return out


def _make_partitions(snap, schema: T.StructType, specs: list[dict]):
    """One partition per slice of the snapshot plan (_slices), with
    its exact file list (a file holds exactly one run, so accept/reject
    is decided here and read() never run-filters rows)."""
    from tokcodec.io_tables import _direct_file_rows, _paths
    from tokcodec.scan import _slice_files, fill_anchor, removal_plan

    removals, extra = removal_plan(snap, schema.fieldNames())
    wanted = [f.name for f in schema.fields] + [f.name for f in extra]
    # pruned reads anchor evolution fill on a pruned column (rows of
    # runs predating it cannot pass that filter anyway)
    fill = fill_anchor(snap.files, wanted, [s["col"] for s in specs])
    rows = _direct_file_rows(snap.files, {*wanted, fill} - {None},
                             _paths(snap.path)[0])
    parts = []
    for bks in _slices(snap, rows):
        files = _slice_files(rows, snap.accepted, bks)
        if files:
            parts.append(_SlicePartition(bks, files, specs, removals,
                                         extra, fill))
    return parts


def _read_partition(part: _SlicePartition, schema: T.StructType,
                    key_hex):
    """Executor side: read_encoded's scan task on one slice, with the
    removal lists applied in the task. Spark reads a plan without
    partitions (every file pruned, or none planned) as one None
    partition, which holds no rows."""
    from tokcodec.decode import make_decode_fn
    from tokcodec.scan import _scan_slice

    if part is None:
        return

    key = bytes.fromhex(key_hex) if key_hex else None
    decode = make_decode_fn(
        T.StructType(list(schema.fields) + list(part.extra)),
        encryption_key=key, fill_from=part.fill)
    for _b, out in _scan_slice(
            part.buckets, part.files, part.specs, decode,
            encryption_key=key, removals=part.removals):
        yield from out.to_batches()


def _filter_specs(schema: T.StructType, manifest: dict, filters):
    """Pushed Spark filters -> normalized filters (the pruning subset:
    each keeps every row its Spark filter keeps; every filter is ALSO
    re-applied by Spark).

    One-sided bounds on the SAME column are merged first, so a
    BETWEEN — which Catalyst hands over as two one-sided filters —
    prunes as ONE two-sided range. That merge is the only pruning
    possible on string/binary columns (truncated min/max bounds have
    no safe one-sided sentinel, so a lone `s > 'm'` stays unpruned
    and Spark applies it exactly), and on int/temporal lanes it
    halves the zone passes a BETWEEN would otherwise cost."""
    from tokcodec.io_tables import _normalize_filter

    lows: dict[str, list] = {}
    highs: dict[str, list] = {}
    rest = []
    for f in filters:
        one_sided = isinstance(
            f, (GreaterThan, GreaterThanOrEqual, LessThan,
                LessThanOrEqual))
        if one_sided and len(f.attribute) == 1 \
                and f.value is not None:
            side = lows if isinstance(
                f, (GreaterThan, GreaterThanOrEqual)) else highs
            side.setdefault(f.attribute[0], []).append(f.value)
        else:
            rest.append(f)

    specs = []

    def _push(kind, spec):
        try:
            specs.append(_normalize_filter(schema, manifest, kind, spec))
        except (ValueError, TypeError, OverflowError):
            pass  # unprunable shape, or a NaN — Spark still applies it

    for col in sorted(set(lows) | set(highs)):
        fld = next((x.dataType for x in schema.fields
                    if x.name == col), None)
        if fld is None:
            continue
        str_lane = isinstance(fld, (T.StringType, T.BinaryType))
        if str_lane and not (col in lows and col in highs):
            continue  # no safe one-sided string sentinel
        if isinstance(fld, (T.FloatType, T.DoubleType)) \
                and col not in highs:
            continue  # Spark's x >= lo keeps NaN rows, no range does
        try:
            # strict vs non-strict collapses to the inclusive
            # superset — zone pruning only ever over-keeps, and the
            # exact predicate is Spark's either way
            lo = max(lows[col]) if col in lows else _lane_min(fld)
            hi = min(highs[col]) if col in highs else _lane_max(fld)
        except TypeError:
            continue  # incomparable mixed literals
        _push("range", (col, lo, hi))

    for f in rest:
        if len(getattr(f, "attribute", ())) != 1:
            continue
        col = f.attribute[0]
        fld = next((x.dataType for x in schema.fields
                    if x.name == col), None)
        if fld is None:
            continue
        if isinstance(f, EqualTo):
            if isinstance(fld, T.StringType) and isinstance(
                    f.value, str):
                _push("eq", (col, f.value))
            else:
                _push("range", (col, f.value, f.value))
        elif isinstance(f, In):
            vals = [v for v in f.value if v is not None]
            if not vals:
                continue
            if isinstance(fld, T.StringType) and all(
                    isinstance(v, str) for v in vals):
                _push("eq", (col, vals))  # bloom ANY-of probe
            else:
                _push("in", (col, vals))
    return specs


def _lane_max(fld):
    """Type-correct upper sentinel for one-sided pushdown bounds, at or
    above every value of the lane (the range's residual applies in the
    task; a raw huge int would overflow the date/timestamp
    converters)."""
    import datetime as _dt

    if isinstance(fld, T.DateType):
        return _dt.date.max
    if isinstance(fld, (T.TimestampType, T.TimestampNTZType)):
        return _dt.datetime(9999, 12, 31, 23, 59, 59, 999999)
    if isinstance(fld, T.TimeType):
        return _dt.time(23, 59, 59, 999999)
    return (1 << 63) - 1


def _lane_min(fld):
    import datetime as _dt

    if isinstance(fld, (T.FloatType, T.DoubleType)):
        return float("-inf")
    if isinstance(fld, T.DateType):
        return _dt.date.min
    if isinstance(fld, (T.TimestampType, T.TimestampNTZType)):
        return _dt.datetime(1, 1, 1)
    if isinstance(fld, T.TimeType):
        return _dt.time(0)
    return -(1 << 63)


def _opt_int(options: dict, key: str) -> int | None:
    v = options.get(key)
    return int(v) if v is not None else None


def _source_path(options: dict) -> str:
    path = options.get("path") or options.get("paths")
    if not path:
        raise ValueError("tokcodec source needs a path: "
                         ".load('/table/path')")
    return path


class TokcodecBatchReader(DataSourceReader):
    def __init__(self, options: dict, schema: T.StructType):
        from tokcodec.scan import plan_snapshot

        self.path = _source_path(options)
        self.key_hex = options.get("encryption_key_hex")
        self.snap = plan_snapshot(
            self.path, as_of_epoch=_opt_int(options, "as_of_epoch"),
            since_epoch=_opt_int(options, "since_epoch"))
        self.schema = schema
        self.specs: list[dict] = []

    def partitions(self):
        return _make_partitions(self.snap, self.schema, self.specs)

    def read(self, partition: _SlicePartition):
        yield from _read_partition(partition, self.schema, self.key_hex)


class TokcodecPushdownBatchReader(TokcodecBatchReader):
    """Batch reader + WHERE-predicate file and chunk pruning. Spark
    refuses a reader that merely DEFINES pushFilters unless
    ``spark.sql.python.filterPushdown.enabled=true`` (off by default
    in Spark 4.1), so pruning is opt-in via
    ``.option("pushdown", "true")`` — tokcodec.session.get_spark
    enables the conf."""

    def pushFilters(self, filters):
        from tokcodec.scan import _prune_files

        manifest = self.snap.manifest
        self.specs = _filter_specs(manifest_schema(manifest), manifest,
                                   filters)
        if self.specs:
            # the planner's file pruning: partitions list only the
            # files of the (run, bucket) pairs whose summaries match
            _prune_files(self.snap, self.specs)
        # hand every filter back: pruning is ours, exactness is Spark's
        return filters


class TokcodecStreamReader(DataSourceStreamReader):
    """Epoch-tailing CDC source: offset = {"epoch": N}; each
    micro-batch decodes the runs committed in (start, end]."""

    def __init__(self, options: dict, schema: T.StructType):
        self.path = _source_path(options)
        self.key_hex = options.get("encryption_key_hex")
        self.start_epoch = int(options.get("since_epoch", -1))
        self.schema = schema

    def initialOffset(self) -> dict:
        return {"epoch": self.start_epoch}

    def latestOffset(self) -> dict:
        from tokcodec.io_tables import _committed_pandas, _lineage_local

        win = _committed_pandas(_lineage_local(self.path))
        top = int(win.epoch.max()) if len(win) else self.start_epoch
        return {"epoch": max(top, self.start_epoch)}

    def partitions(self, start: dict, end: dict):
        from tokcodec.scan import plan_snapshot

        lo, hi = int(start["epoch"]), int(end["epoch"])
        if hi <= lo:
            return []
        # decoded under the stream's schema: columns the window's runs
        # predate null-fill
        return _make_partitions(
            plan_snapshot(self.path, as_of_epoch=hi, since_epoch=lo),
            self.schema, [])

    def read(self, partition: _SlicePartition):
        yield from _read_partition(partition, self.schema, self.key_hex)

    def commit(self, end: dict) -> None:
        pass  # offsets are derived from the durable lineage


# --------------------------------------------------------- write path

def _csv_opt(options: dict, key: str) -> list[str]:
    v = options.get(key)
    return [s.strip() for s in str(v).split(",") if s.strip()] if v \
        else []


class _RunFilesMessage(WriterCommitMessage):
    """Per-task commit message: the file-manifest rows this task wrote
    (path, column, bucket_ranges, n_rows, bytes, and the file summary:
    zone, bloom) — O(files), never payload bytes. ``run_id`` matters
    for the streaming sink, where every task mints its own (see
    TokcodecStreamWriter)."""

    def __init__(self, files: list[dict], run_id: str):
        self.files = files
        self.run_id = run_id


class _WriterCore:
    """Shared executor-side body of the batch and stream writers.

    Each input partition becomes ONE bucket (bucket id = Spark
    partition id): the engine's salted-hash bucketing is an upstream
    concern here — repartition the DataFrame before the write to
    shape bucket sizes / defuse skew (``tokcodec.encode.with_bucket``
    is the library's own recipe). Encode + block persistence reuse
    write_encoded's exact task body (make_encode_sorted_fn ->
    _make_block_writer), so the on-disk layout, lineage metrics,
    blooms/sketches/encryption and O(run) commit are identical to a
    write_encoded table — the two writers are interchangeable and
    their runs co-exist in one table."""

    def __init__(self, schema: T.StructType, path: str, run_id: str,
                 options: dict):
        from tokcodec.crypto import new_run_salt, validate_key
        from tokcodec.encode import (
            validate_annotations,
            validate_codec_override,
        )

        self.schema = schema
        self.path = path
        self.run_id = run_id
        self.cluster_by = _csv_opt(options, "cluster_by") or None
        self.chunk_max_rows = int(options["chunk_max_rows"]) \
            if options.get("chunk_max_rows") else None
        self.chunk_max_values = int(options["chunk_max_values"]) \
            if options.get("chunk_max_values") else None
        self.bloom_columns = tuple(_csv_opt(options, "bloom_columns"))
        self.sketch_columns = tuple(_csv_opt(options, "sketch_columns"))
        self.codec_override = json.loads(options["codec_override"]) \
            if options.get("codec_override") else None
        key_hex = options.get("encryption_key_hex")
        self.encryption_key = bytes.fromhex(key_hex) if key_hex \
            else None
        enc_cols = _csv_opt(options, "encrypted_columns")
        if self.encryption_key is not None:
            validate_key(self.encryption_key)
            if not enc_cols:
                enc_cols = [f.name for f in schema.fields]
        elif enc_cols:
            raise ValueError(
                "encrypted_columns requires encryption_key_hex")
        self.encrypted_columns = tuple(sorted(enc_cols))
        self.encryption_salt = new_run_salt() \
            if self.encryption_key is not None else None
        validate_annotations(schema, self.bloom_columns, None,
                             sketch_columns=self.sketch_columns)
        validate_codec_override(schema, self.codec_override)

    def _write_partition(self, iterator):
        """Arrow batches of one partition -> block files on disk ->
        file-manifest rows (the only bytes that travel to commit)."""
        import numpy as np
        import pyarrow as pa
        from pyspark import TaskContext

        from tokcodec.encode import (
            BUCKET_COL,
            CHUNK_MAX_ROWS,
            CHUNK_MAX_VALUES,
            make_encode_sorted_fn,
        )
        from tokcodec.io_tables import _make_block_writer

        tc = TaskContext.get()
        bucket = tc.partitionId() if tc else 0
        enc = make_encode_sorted_fn(
            self.schema, self.run_id, cluster_by=self.cluster_by,
            chunk_max_rows=self.chunk_max_rows or CHUNK_MAX_ROWS,
            chunk_max_values=self.chunk_max_values or CHUNK_MAX_VALUES,
            bloom_columns=self.bloom_columns,
            sketch_columns=self.sketch_columns,
            codec_override=self.codec_override,
            encrypted_columns=self.encrypted_columns,
            encryption_key=self.encryption_key,
            encryption_salt=self.encryption_salt,
        )
        writer = _make_block_writer(
            posixpath.join(self.path, "blocks"), self.run_id)

        def with_bucket(batches):
            for b in batches:
                yield b.append_column(
                    BUCKET_COL,
                    pa.array(np.full(b.num_rows, bucket,
                                     dtype=np.int32)))

        files: list[dict] = []
        hashes: dict = {}
        for out in writer(enc(with_bucket(iterator), bloom_hashes=hashes),
                          bloom_hashes=hashes):
            files.extend(out.to_pylist())
        return _RunFilesMessage(files, self.run_id)

    def _write_run_manifest(self, run_id: str, files: list[dict],
                            epoch: int) -> None:
        """Durable file list for one run — must exist before the
        lineage append makes any of its rows visible."""
        from tokcodec.io_tables import _run_manifest_path, _write_run_manifest

        if _read_json_if_exists(_run_manifest_path(self.path, run_id)) \
                is not None:
            raise ValueError(
                f"run_id {run_id!r} already has a manifest at "
                f"{self.path!r} — duplicate commit refused")
        _write_run_manifest(self.path, run_id, epoch, self.schema, files)

    def _commit_files(self, files: list[dict], epoch: int,
                      tombstones=None, n_buckets_floor: int = 0,
                      manifest_extra: dict | None = None) -> None:
        """THE commit, Spark-free: ONE atomic lineage append (with any
        superseding tombstones in the same file — lineage rows carry
        their run_id from the metrics blocks, so files from several
        runs commit together) -> table manifest refresh."""
        from tokcodec.io_tables import _commit_lineage_local
        from tokcodec.schema import schema_manifest

        _commit_lineage_local(self.path, files, epoch,
                              extra=tombstones or ())
        n_buckets = max(
            [n_buckets_floor, 1] + [hi + 1 for f in files
                                    for _lo, hi in
                                    json.loads(f["bucket_ranges"])])
        extra = manifest_extra or {}
        _write_json_fs(
            posixpath.join(self.path, "_manifest.json"),
            schema_manifest(self.schema, n_buckets, self.run_id,
                            uuid_columns=extra.get("uuid_columns"),
                            enum_columns=extra.get("enum_columns"),
                            encrypted_columns=list(
                                self.encrypted_columns),
                            bloom_columns=list(self.bloom_columns),
                            sketch_columns=list(self.sketch_columns)))

    def _commit_run(self, messages, epoch: int,
                    tombstones=None, n_buckets_floor: int = 0,
                    manifest_extra: dict | None = None) -> None:
        """Batch commit: one run manifest, then the atomic lineage
        append + table manifest."""
        files = [f for m in messages if m is not None
                 for f in m.files]
        self._write_run_manifest(self.run_id, files, epoch)
        self._commit_files(files, epoch, tombstones=tombstones,
                           n_buckets_floor=n_buckets_floor,
                           manifest_extra=manifest_extra)

    def _abort_run(self, messages) -> None:
        fs, blocks_root = _task_fs(posixpath.join(self.path, "blocks"))
        for m in messages or ():
            for f in getattr(m, "files", None) or ():
                try:
                    fs.delete_file(
                        posixpath.join(blocks_root, f["path"]))
                except Exception:
                    pass  # best-effort: orphans are invisible anyway


def _plan_epoch_and_tombstones(path: str, run_id: str,
                               schema: T.StructType, overwrite: bool):
    """(epoch, tombstones, n_buckets_floor, manifest_extra) for a
    batch write. Appends land at max(existing epoch)+1 — true append
    semantics (a same-epoch run would WIN the per-(bucket, epoch)
    latest-run dedup and silently replace rows). Overwrite commits
    the new run plus tombstones for every prior (bucket, epoch) and
    active delete in ONE lineage append (compact_encoded's atomic
    supersede, Spark-free)."""
    from tokcodec.io_tables import (
        DELETE_BUCKET,
        _committed_pandas,
        _deletes_in_force,
        _lineage_local,
        _tombstones,
    )

    manifest = _read_json_if_exists(posixpath.join(path, "_manifest.json"))
    if manifest is None:
        return 0, [], 0, {}
    if manifest.get("layout", 1) != LAYOUT_VERSION:
        raise ValueError(
            f"table at {path!r} has layout {manifest.get('layout', 1)}")
    if manifest.get("uuid_columns") or manifest.get("enum_columns"):
        raise ValueError(
            "the DataSource writer does not handle uuid/enum column "
            "conversion — append to this table with write_encoded")
    lin = _lineage_local(path)
    live = lin[lin.status.isin(["committed", "delete"])]
    top = int(live.epoch.max()) if len(live) else -1
    epoch = top + 1
    if not overwrite:
        if manifest["ddl"] != schema.simpleString():
            raise ValueError(
                "schema mismatch on append: table has "
                f"{manifest['ddl']!r}, got {schema.simpleString()!r} "
                "(schema evolution goes through write_encoded)")
        return epoch, [], int(manifest.get("n_buckets", 0)), {
            "uuid_columns": manifest.get("uuid_columns"),
            "enum_columns": manifest.get("enum_columns")}
    win = _committed_pandas(lin)
    return epoch, _tombstones(
        run_id, list(zip(win.bucket, win.epoch))
        + [(DELETE_BUCKET, d["epoch"]) for d in _deletes_in_force(lin)]
    ), 0, {}


class TokcodecBatchWriter(DataSourceArrowWriter):
    """``df.write.format("tokcodec").save(path)`` — modes: append
    (default; lands at a fresh epoch) and overwrite (atomic
    tombstones + commit). DataSourceArrowWriter: payload stays in
    Arrow end-to-end."""

    def __init__(self, options: dict, schema: T.StructType,
                 overwrite: bool):
        import uuid as _uuid

        path = options.get("path") or options.get("paths")
        if not path:
            raise ValueError("tokcodec sink needs a path: "
                             ".save('/table/path')")
        run_id = options.get("run_id") or _uuid.uuid4().hex[:12]
        self.core = _WriterCore(schema, path, run_id, options)
        (self.epoch, self.tombstones, self.n_buckets_floor,
         self.manifest_extra) = _plan_epoch_and_tombstones(
            path, run_id, schema, overwrite)
        if self.core.encryption_key is None and not overwrite:
            enc = (_read_json_if_exists(
                posixpath.join(path, "_manifest.json")) or {}).get(
                "encrypted_columns", [])
            if enc:
                raise ValueError(
                    f"table at {path!r} has encrypted columns {enc} — "
                    "appending plaintext rows to them needs the key "
                    "(pass encryption_key_hex); overwrite replaces "
                    "the table and may change the encryption set")

    def write(self, iterator):
        return self.core._write_partition(iterator)

    def commit(self, messages):
        self.core._commit_run(messages, self.epoch,
                              tombstones=self.tombstones,
                              n_buckets_floor=self.n_buckets_floor,
                              manifest_extra=self.manifest_extra)

    def abort(self, messages):
        self.core._abort_run(messages)


class TokcodecStreamWriter(DataSourceStreamArrowWriter):
    """``df.writeStream.format("tokcodec")`` — each micro-batch
    commits as its OWN epoch (epoch = batchId), exactly the
    stream_encode/foreachBatch layout, so as_of_epoch time travel,
    since_epoch CDC reads and the readStream source all compose with
    this sink. A replayed batch (restart before the streaming commit
    log advanced) re-commits the same epoch under fresh run_ids and
    the per-(bucket, epoch) latest-run-wins dedup keeps the result
    exactly-once.

    Tasks don't know their batchId (only commit() receives it), so
    each task mints its OWN run_id and the commit groups messages by
    it: one run manifest per task, all committed at the batch's
    epoch. That keeps run manifests O(task files) and leaves the
    single-writer-per-run invariant intact."""

    def __init__(self, options: dict, schema: T.StructType,
                 overwrite: bool):
        if overwrite:
            raise ValueError(
                "tokcodec streaming sink supports append mode only")
        path = options.get("path") or options.get("paths")
        if not path:
            raise ValueError("tokcodec sink needs a path (.option("
                             "'path', ...) or .start(path))")
        self.options = dict(options)
        self.schema = schema
        self.path = path
        manifest = _read_json_if_exists(
            posixpath.join(path, "_manifest.json"))
        if manifest is not None:
            if manifest["ddl"] != schema.simpleString():
                raise ValueError(
                    "schema mismatch on streaming append: table has "
                    f"{manifest['ddl']!r}, got "
                    f"{schema.simpleString()!r}")
            if manifest.get("uuid_columns") or manifest.get(
                    "enum_columns"):
                raise ValueError(
                    "the DataSource sink does not handle uuid/enum "
                    "conversion — use stream_encode")
        # fail fast on bad options (driver-side), before any task runs
        _WriterCore(schema, path, "optioncheck", options)

    def write(self, iterator):
        import uuid as _uuid

        core = _WriterCore(self.schema, self.path,
                           f"s{_uuid.uuid4().hex[:12]}", self.options)
        return core._write_partition(iterator)

    def commit(self, messages, batchId: int):
        core = _WriterCore(self.schema, self.path, "commit",
                           self.options)
        by_run: dict[str, list[dict]] = {}
        for m in messages:
            if m is not None and m.files:
                by_run.setdefault(m.run_id, []).extend(m.files)
        if not by_run:
            return
        # all run manifests first, then ONE lineage append — the
        # micro-batch lands atomically across its tasks' runs
        for rid, files in sorted(by_run.items()):
            core._write_run_manifest(rid, files, int(batchId))
        core.run_id = sorted(by_run)[0]
        all_files = [f for _rid, fl in sorted(by_run.items())
                     for f in fl]
        floor = int((_read_json_if_exists(posixpath.join(
            self.path, "_manifest.json")) or {}).get("n_buckets", 0))
        core._commit_files(all_files, int(batchId),
                           n_buckets_floor=floor)

    def abort(self, messages, batchId: int):
        core = _WriterCore(self.schema, self.path, "abort",
                           self.options)
        core._abort_run(messages)


class TokcodecDataSource(DataSource):
    """Register once per session:
    ``spark.dataSource.register(TokcodecDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "tokcodec"

    def schema(self):
        from tokcodec.scan import plan_snapshot

        # the planner's read schema: the snapshot schema under
        # as_of_epoch, so a time-travel read projects the columns that
        # existed then (read_encoded's semantics). uuid columns surface
        # as 16-byte binary through this source (the stored
        # representation); use read_encoded for canonical strings
        as_of = _opt_int(self.options, "as_of_epoch")
        return plan_snapshot(_source_path(self.options), as_of_epoch=as_of,
                             with_files=as_of is not None).schema

    def reader(self, schema: T.StructType) -> TokcodecBatchReader:
        if str(self.options.get("pushdown", "")).lower() == "true":
            return TokcodecPushdownBatchReader(self.options, schema)
        return TokcodecBatchReader(self.options, schema)

    def streamReader(self, schema: T.StructType) -> TokcodecStreamReader:
        return TokcodecStreamReader(self.options, schema)

    def writer(self, schema: T.StructType,
               overwrite: bool) -> TokcodecBatchWriter:
        return TokcodecBatchWriter(self.options, schema, overwrite)

    def streamWriter(self, schema: T.StructType,
                     overwrite: bool) -> TokcodecStreamWriter:
        return TokcodecStreamWriter(self.options, schema, overwrite)
