"""The read pipeline, written once: a Spark-free snapshot planner and
the per-bucket scan task every reader runs.

    plan_snapshot  table manifest + lineage -> accepted {bucket:
                   [run_id]} -> run-manifest file rows -> read schema,
                   prune specs, pending deletes. Pure pyarrow-fs
                   metadata IO: no Spark job, no JVM gateway, so the
                   same planner serves read_encoded on the driver and
                   the Python DataSource in its planner worker.
    _scan_bucket   one bucket's block files -> optional chunk
                   allow-list / sample -> chunk pruning
                   (_prune_block_table) -> decode -> removal lists ->
                   optional Arrow-side projection.
    scan_frame     the Spark wrapper read_encoded and read_encoded_as
                   build on: one mapInArrow task per slice of the
                   accepted buckets, fed by spark.range — no payload
                   shuffle, no Spark scan of block files.

The DataSource's read() calls _scan_bucket directly; explain_scan,
count_encoded and the aggregate entry points start from
plan_snapshot. Chunk pruning is decided from the same planned specs
on every path (Global Range Encoding, EDBT 2018: elimination decided
once, from one metadata structure).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import types as T

from tokcodec.encode import METRICS_COLUMN
from tokcodec.io_tables import (
    LAYOUT_VERSION,
    _as_of_schema,
    _blocks_df,
    _committed_pandas,
    _deletes_in_force,
    _direct_file_rows,
    _evolution_fill_columns,
    _lineage_local,
    _normalize_filter,
    _paths,
    _prune_block_table,
    _read_json_fs,
    _run_files,
    _task_slots,
)
from tokcodec.schema import manifest_schema


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


def _sample_keep(run_id: str, bucket: int, chunk: int, frac: float,
                 seed: int) -> bool:
    """Chunk-granular Bernoulli draw: a process-stable hash of the
    chunk's identity and the seed (never Python's salted hash()), so
    the same (table, fraction, seed) keeps the same chunks in every
    task and every session."""
    import hashlib

    h = hashlib.blake2b(f"{run_id}/{bucket}/{chunk}/{seed}".encode(),
                        digest_size=8).digest()
    return int.from_bytes(h, "little") % 1_000_000 < int(frac * 1_000_000)


def _keep_chunks(tbl, bucket: int, chunks, sample):
    """Rows of the (run_id, chunk)s in the allow-list ``chunks`` (None:
    all) that also pass the ``sample`` draw (None: all)."""
    import pyarrow as pa

    keep: dict = {}
    mask = []
    for r, c in zip(tbl.column("run_id").to_pylist(),
                    tbl.column("chunk").to_pylist()):
        k = (r, c)
        if k not in keep:
            keep[k] = ((chunks is None or k in chunks)
                       and (sample is None
                            or _sample_keep(r, bucket, c, *sample)))
        mask.append(keep[k])
    return tbl.filter(pa.array(mask, pa.bool_()))


def _scan_bucket(bucket: int, paths, specs, decode, chunks=None,
                 sample=None, encryption_key: bytes | None = None,
                 removals=(), project=None):
    """THE scan task body, for one bucket: read its accepted block
    files (the bucket filter prunes row groups of multi-bucket files),
    keep only the allow-listed / sampled chunks, prune chunks by the
    filter specs from the bucket's own metas and blooms, decode, drop
    rows on the removal lists (``removals``: dicts with key_column,
    file, uuid — the DataSource's executor-side deletes) and apply the
    optional ``project`` (pa.Table -> pa.Table). Yields RecordBatches."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    parts = []
    for fp in paths:  # bounded: files per bucket
        t = pq.read_table(fp, filters=[("bucket", "=", bucket)])
        if t.num_rows:
            parts.append(t)
    if not parts:
        return
    tbl = pa.concat_tables(parts)
    if chunks is not None or sample is not None:
        tbl = _keep_chunks(tbl, bucket, chunks, sample)
    if specs:
        tbl = _prune_block_table(tbl, specs, encryption_key=encryption_key)
    if tbl.num_rows == 0:
        return
    out = decode((bucket,), tbl)
    for d in removals:
        kcol = pq.read_table(d["file"], columns=[d["key_column"]]) \
            .column(d["key_column"])
        if d["uuid"]:  # stored as 16-byte binary
            kcol = pa.array([bytes.fromhex(s.replace("-", ""))
                             for s in kcol.to_pylist()], pa.binary())
        out = out.filter(pc.invert(pc.is_in(out.column(d["key_column"]),
                                            value_set=kcol)))
    if project is not None:
        out = project(out)
    yield from out.to_batches()


def scan_frame(spark, snap: Snapshot, decode, out_schema, scan_cols,
               chunks=None, sample=None,
               encryption_key: bytes | None = None, project=None):
    """DataFrame of _scan_bucket over every accepted bucket of ``snap``.

    The task input is spark.range over bucket indexes, sliced into
    one contiguous range per core (_bucket_feed; the same slices the
    write path gives its encode tasks): no rows are shuffled and no
    block file enters a Spark scan. The plan travels as one broadcast
    — the sorted bucket list, the accepted runs and one (lo, hi, path,
    column, run_id) row per file bucket-range (O(file ranges), never
    O(buckets x files)); each task expands only its own buckets' file
    lists with one bisect pass. A file holds exactly one run, so run
    accept/reject is decided per (file, bucket) from the plan and the
    losing side of a re-encoded bucket is never opened. ``chunks``:
    optional {bucket: {(run_id, chunk)}} allow-list; chunks are pruned
    by the snapshot's filter specs."""
    blocks_p = _paths(snap.path)[0]
    buckets = sorted(snap.accepted)
    plan = spark.sparkContext.broadcast((
        buckets, snap.accepted,
        _direct_file_rows(snap.files, scan_cols, blocks_p), chunks))
    specs = snap.specs

    def fn(batches):
        import bisect

        all_b, accepted, rows, allow = plan.value
        for batch in batches:
            bks = sorted(all_b[i] for i in batch.column(0).to_pylist())
            local: dict[int, list[str]] = {}
            for lo, hi, fp, _col, rid in rows:
                for b in bks[bisect.bisect_left(bks, lo):
                             bisect.bisect_right(bks, hi)]:
                    if rid in accepted[b]:
                        local.setdefault(b, []).append(fp)
            for b in bks:
                yield from _scan_bucket(
                    b, local.get(b, ()), specs, decode,
                    chunks=None if allow is None else allow.get(b, set()),
                    sample=sample, encryption_key=encryption_key,
                    project=project)

    return _bucket_feed(spark, len(buckets)).mapInArrow(fn, out_schema)


def _bucket_feed(spark, n: int):
    """spark.range over indexes 0..n-1 of a planned bucket list, one
    contiguous slice per Python task (_task_slots): the task input of
    every per-bucket stage on the read side — no Exchange."""
    return spark.range(0, n, numPartitions=_task_slots(spark, n))
