"""The read pipeline, written once: a Spark-free snapshot planner, the
slice prune phase every block-metadata reader runs, and the slice scan
every reader runs, in two placements.

    plan_snapshot  table manifest + lineage -> accepted {bucket:
                   [run_id]} -> run-manifest file rows -> read schema,
                   prune specs, pending deletes -> file pruning: the
                   (run, bucket) pairs whose file summaries (zone
                   bounds, file blooms) rule out every row leave the
                   plan before any block file is opened
                   (_summary_dropped). Pure pyarrow-fs metadata IO:
                   no Spark job, no JVM gateway, so the same planner
                   serves read_encoded on the driver and the Python
                   DataSource in its planner worker.
    _index_slice   the prune phase, THE block-metadata reader: one
                   slice's block files, each opened once -> optional
                   chunk allow-list / sample -> chunk pruning over the
                   whole slice (_prune_block_table) -> a caller's fold
                   over the slice's rows and its survivors. Its callers:
                   _prune_slice (the scan's prune phase, payloads
                   kept) and chunk_index (payloads projected out).
    _scan_slice    one contiguous slice of buckets, each planned block
                   file opened at most once, in two phases:
                   _prune_slice (the filter columns' files read first
                   and pruned) and _decode_slice (the other columns'
                   files read only for the buckets and runs with a
                   surviving chunk -> decode one bucket at a time ->
                   the removal step, where every reader applies the
                   pending deletes -> optional Arrow-side projection).
    scan_frame     the Spark wrapper read_encoded, read_encoded_as,
                   sample_encoded and the aggregate boundary decode
                   build on. One rule places the scan: a read whose
                   decoded size is bounded at or under
                   io_tables._DRIVER_MAX_BYTES (the cap writes place
                   themselves by too) runs its slices on the
                   driver (_driver_scan) and becomes
                   spark.createDataFrame(table) — no Python task; any
                   other read runs one mapInArrow task per slice of
                   the accepted buckets, fed by spark.range. Neither
                   shuffles a payload or puts a block file in a Spark
                   scan.
    chunk_index    the metadata answers (explain_scan, the aggregates,
                   quantiles, HLL, profile): _index_slice with a
                   caller's fold over block metadata, payloads
                   projected out but for the probed blooms' files and
                   the sketched columns'; one small partial per slice,
                   merged on the driver. Same two placements, same
                   cap: on the driver when the files it reads are
                   small, else one mapInArrow task per slice.

The DataSource's batch and stream readers (one partition per slice)
and join_encoded call _scan_slice directly; count_encoded and every
metadata answer start from plan_snapshot. Pruning is decided from the
same planned specs by the same tests on every path, twice from
metadata before any data is read: by file, from the run manifests'
summaries, before any block file is opened (Global Range Encoding,
EDBT 2018: elimination decided once, from one metadata structure,
before touching a partition; Iceberg's per-file bounds), then by
chunk, from the filter columns' metas and blooms, before any other
column's file is read; on the driver placement the same pruning
result also decides where the decode runs.
"""

from __future__ import annotations

import posixpath
import threading
from dataclasses import dataclass, field

from pyspark.sql import types as T

from tokcodec import io_tables
from tokcodec.encode import METRICS_COLUMN
from tokcodec.io_tables import (
    LAYOUT_VERSION,
    _as_of_schema,
    _bloom_hit,
    _bloom_params,
    _chunk_keys,
    _committed_pandas,
    _crosses_arrow,
    _deletes_in_force,
    _direct_file_rows,
    _evolution_fill_columns,
    _fan_out,
    _lineage_local,
    _meta_zone_hit,
    _normalize_filter,
    _paths,
    _prune_block_table,
    _read_json_fs,
    _run_blooms_path,
    _run_files,
    _task_fs,
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
    ``winners``: the winning lineage rows (pandas), of every accepted
    run, before file pruning; ``dropped``: the (run_id, bucket) pairs
    the file summaries ruled out (_summary_dropped), gone from
    ``accepted`` and ``files`` once the plan is pruned."""

    path: str
    manifest: dict
    schema: T.StructType
    accepted: dict[int, list[str]]
    files: list[dict]
    deletes: list[dict]
    winners: object
    filters: list[dict] = field(default_factory=list)
    filter_columns: list[str] = field(default_factory=list)
    dropped: set = field(default_factory=set)

    @property
    def specs(self) -> list[dict]:
        """Picklable prune specs for the scan task (no Columns)."""
        return [_strip(nf) for nf in self.filters]


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
                  with_files: bool = True,
                  prune_files: bool = True) -> Snapshot:
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
    callers.

    A filtered plan is then pruned by file (_prune_files): each spec
    is tested against the file summaries the run manifests carry, with
    the chunk pruner's own zone and bloom tests, and a (run, bucket)
    pair none of whose files of a spec's column can match leaves
    ``accepted`` with all of its columns' files, so no reader lists,
    opens or bounds them. ``prune_files=False`` records the pairs in
    ``dropped`` but keeps them (explain_scan counts the whole plan)."""
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
    snap = Snapshot(path=path, manifest=manifest, schema=schema,
                    accepted=accepted, files=files, deletes=dels,
                    winners=win, filters=nfs, filter_columns=fcols)
    if files and nfs:
        _prune_files(snap, snap.specs, apply=prune_files)
    return snap


def _file_pairs(f: dict, accepted: dict, buckets: list) -> list:
    """The accepted (run_id, bucket) pairs block file ``f`` (a
    run-manifest entry) holds rows of; ``buckets``: sorted(accepted).
    One bisect per bucket range, as in _slice_files."""
    import bisect

    rid = f["run_id"]
    return [(rid, b) for lo, hi in f["bucket_ranges"]
            for b in buckets[bisect.bisect_left(buckets, lo):
                             bisect.bisect_right(buckets, hi)]
            if rid in accepted[b]]


def _summary_dropped(path: str, files: list[dict], accepted: dict,
                     specs: list[dict]) -> set:
    """The accepted (run_id, bucket) pairs that the file summaries in
    the run manifests rule out: for some spec, every block file of
    the spec's column holding the pair misses it (for an ``or`` spec,
    every branch's files miss). A file misses an eq or contains spec
    when its file bloom holds none of the probed values, and any
    other spec when its zone summary lies outside the spec's bounds;
    the tests are _prune_block_table's (_bloom_hit, _meta_zone_hit),
    and each summary covers all of the file's chunks, so no pair is
    dropped whose chunks the chunk pruner would keep. A file with no
    summary (encrypted columns, run manifests written before
    summaries) never misses, and a pair with no file of a spec's
    column is kept for the chunk pruner to decide. Only the probed
    columns' blooms are read, one range of each run's sidecar."""
    buckets = sorted(accepted)
    probed = {s["col"] for s in specs if s["kind"] in ("eq", "contains")}
    blooms = _file_blooms(path, [f for f in files
                                 if f["column"] in probed and "bloom" in f])
    by_col: dict = {}
    for f in files:
        by_col.setdefault(f["column"], []).append(f)
    dropped: set = set()
    for nf in specs:
        out = None
        for s in (nf["subs"] if nf["kind"] == "or" else [nf]):
            params = _bloom_params(s) \
                if s["kind"] in ("eq", "contains") else None
            hit, miss = set(), set()
            for f in by_col.get(s["col"], ()):
                if params is not None:
                    bits = blooms.get((f["run_id"], f["path"]))
                    ok = bits is None or _bloom_hit(bits, params)
                else:
                    ok = "zone" not in f or _meta_zone_hit(f["zone"], s)
                (hit if ok else miss).update(_file_pairs(f, accepted,
                                                         buckets))
            miss -= hit
            out = miss if out is None else out & miss
        dropped |= out
    return dropped


def _file_blooms(path: str, files: list[dict]) -> dict:
    """{(run_id, path): file bloom bytes} of ``files`` (run-manifest
    entries with a ``bloom`` [offset, length]): one read of each run's
    sidecar, over the range its files' blooms span (the sidecar keeps
    each column's blooms together), overlapped across runs on the
    metadata pool."""
    by_run: dict = {}
    for f in files:
        by_run.setdefault(f["run_id"], []).append(f)

    def read(item):
        rid, fl = item
        lo = min(f["bloom"][0] for f in fl)
        hi = max(f["bloom"][0] + f["bloom"][1] for f in fl)
        fs, p = _task_fs(_run_blooms_path(path, rid))
        with fs.open_input_file(p) as fh:
            buf = fh.read_at(hi - lo, lo)
        return {(rid, f["path"]): buf[f["bloom"][0] - lo:
                                      f["bloom"][0] - lo + f["bloom"][1]]
                for f in fl}

    out: dict = {}
    for part in _fan_out(read, by_run.items()):
        out.update(part)
    return out


def _prune_files(snap: Snapshot, specs: list[dict],
                 apply: bool = True) -> None:
    """File pruning of a planned read: record in ``snap.dropped`` the
    (run, bucket) pairs the file summaries rule out for ``specs``
    (_summary_dropped) and, with ``apply``, take them out of
    ``snap.accepted``, and take out of ``snap.files`` every file left
    with no accepted pair. Every column's files of a pair go
    together, so evolution fill and deletes see whole pairs."""
    snap.dropped = _summary_dropped(snap.path, snap.files, snap.accepted,
                                    specs)
    if not apply or not snap.dropped:
        return
    snap.accepted = {b: kept for b, rs in snap.accepted.items()
                     if (kept := [r for r in rs
                                  if (r, b) not in snap.dropped])}
    buckets = sorted(snap.accepted)
    live = {r for rs in snap.accepted.values() for r in rs}
    # only a run that lost some of its pairs has files to check
    part = {r for r, _b in snap.dropped} & live
    snap.files = [f for f in snap.files if f["run_id"] in live and (
        f["run_id"] not in part or _file_pairs(f, snap.accepted, buckets))]


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


def _slice_files(rows, accepted,
                 buckets) -> list[tuple[str, str, str, list]]:
    """The block files one slice task reads: (path, column, run id,
    buckets it takes from the file) for every file of the plan's
    ``rows`` (_direct_file_rows) that overlaps the sorted ``buckets``.
    A bucket is taken from a file only when the file's run is accepted
    for it (a file holds exactly one run), so the losing side of a
    re-encoded bucket is never read. One bisect per file range."""
    import bisect

    by_path: dict[str, tuple[str, str, list]] = {}
    for lo, hi, fp, col, rid in rows:
        for b in buckets[bisect.bisect_left(buckets, lo):
                         bisect.bisect_right(buckets, hi)]:
            if rid in accepted.get(b, ()):
                by_path.setdefault(fp, (col, rid, []))[2].append(b)
    return [(fp, col, rid, sorted(bs))
            for fp, (col, rid, bs) in by_path.items()]


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
    take from the file are dropped. ``payload=False`` reads every
    column but ``payload``."""

    def __init__(self, path: str, buckets: list[int],
                 payload: bool = True):
        self.path = path
        self.buckets = buckets
        self.has = set(buckets)
        self.payload = payload
        self._pf = None
        self._columns = None  # None: every column
        self._groups: list[tuple[int, int, int]] = []  # (lo, hi, index)
        self._held: dict = {}  # bucket -> rows read, not yet taken

    def _open(self):
        import math

        self._pf = _open_block_file(self.path)
        md = self._pf.metadata
        if not self.payload:
            self._columns = [n for n in self._pf.schema_arrow.names
                             if n != "payload"]
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
            t = self._pf.read_row_group(i, columns=self._columns)
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


def removal_plan(snap: Snapshot, names) -> tuple[list[dict], list]:
    """The removal step every reader's slice scan runs for ``snap``'s
    deletes: (removals, extra). A dict per removal list: key_column,
    file (full path), uuid (canonical text, matched as 16-byte
    binary), keep (changes_encoded's delete rows: keep the matches,
    drop the rest) and drop (the key is outside ``names``: decoded for
    the match, then projected away); ``extra``: those keys' fields."""
    uuids = set(snap.manifest.get("uuid_columns", []))
    by_name = {f.name: f for f in snap.schema.fields}
    removals = [{"key_column": d["key_column"],
                 "file": posixpath.join(snap.path, d["file"]),
                 "uuid": d["key_column"] in uuids,
                 "keep": bool(d.get("keep")),
                 "drop": d["key_column"] not in names} for d in snap.deletes]
    return removals, [by_name[c] for c in dict.fromkeys(
        r["key_column"] for r in removals if r["drop"])]


class _Removals:
    """The removal step of one read on the driver placement (its slices
    share it) or of one slice on the tasks. On first use each (key
    column, keep) group's lists are read, canonicalised, cast to the
    decoded type and sorted, once; every bucket then binary-searches
    them (pc.is_in would rebuild its set of a whole list per call)."""

    def __init__(self, removals=()):
        self.removals, self.lookups = list(removals), None
        self.lock = threading.Lock()

    def _build(self, schema) -> dict:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        parts: dict = {}
        for d in self.removals:
            kc = d["key_column"]
            fs, p = _task_fs(d["file"])
            keys = pq.read_table(p, filesystem=fs, columns=[kc]) \
                .column(kc).combine_chunks()
            parts.setdefault((kc, d["keep"]), []).append(
                (_uuid_bytes(keys) if d["uuid"] else keys)
                .cast(schema.field(kc).type))
        out = {}
        for g, arrs in parts.items():
            keys = pa.concat_arrays(arrs).drop_null()
            out[g] = keys.take(pc.sort_indices(keys))
        return out

    def apply(self, tbl):
        """Decoded bucket ``tbl`` without the rows a drop list matches
        and, given keep lists, without those none of them matches."""
        import numpy as np
        import pyarrow as pa

        if not self.removals:
            return tbl
        with self.lock:
            if self.lookups is None:
                self.lookups = self._build(tbl.schema)
        drop, keep = np.zeros(tbl.num_rows, bool), None
        for (kc, kept), keys in self.lookups.items():
            hit = _key_hits(keys, tbl.column(kc).combine_chunks())
            if kept:
                keep = hit if keep is None else keep | hit
            else:
                drop |= hit
        if keep is not None:
            drop |= ~keep
        return tbl.filter(pa.array(~drop)).drop_columns(sorted(
            {r["key_column"] for r in self.removals if r["drop"]}))


def _key_hits(keys, col):
    """numpy mask of the values of ``col`` in the sorted ``keys``: a
    vectorized lower-bound search, then an exact equality test, as
    Spark's join equality (NaN = NaN, -0.0 = 0.0, null matches none)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(keys)
    if not n:
        return np.zeros(len(col), bool)
    lo = np.zeros(len(col), np.int64)
    hi = np.full(len(col), n, np.int64)
    while (lo < hi).any():  # bounded: log2(n) + 1 rounds
        mid = (lo + hi) // 2
        below = (lo < hi) & pc.less(keys.take(np.minimum(mid, n - 1)), col) \
            .fill_null(False).to_numpy(zero_copy_only=False)
        lo = np.where(below, mid + 1, lo)
        hi = np.where(below, hi, np.minimum(hi, mid))
    hit = pc.equal(keys.take(np.minimum(lo, n - 1)), col).fill_null(False)
    if pa.types.is_floating(col.type) and pc.is_nan(keys[n - 1]).as_py():
        hit = pc.or_(hit, pc.is_nan(col).fill_null(False))  # NaNs sort last
    return hit.to_numpy(zero_copy_only=False)


def _uuid_bytes(text):
    """Canonical UUID strings (dashes optional, either hex case) ->
    16-byte binary values; nulls are dropped. A malformed value
    raises."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    hexed = pc.replace_substring(text.drop_null(), "-", "").cast(pa.string())
    n = len(hexed)
    offs = np.frombuffer(hexed.buffers()[1], np.int32,
                         count=n + 1, offset=4 * hexed.offset)
    try:  # every value 32 hex digits, so the data is 16 bytes each
        raw = bytes.fromhex(hexed.buffers()[2].to_pybytes()[
            offs[0]:offs[-1]].decode("ascii")) if n else b""
        ok = pc.all(pc.equal(pc.binary_length(hexed), 32)).as_py() \
            and len(raw) == 16 * n
    except ValueError:  # bytes.fromhex, or decode: not ASCII hex
        ok = False
    if n and not ok:
        raise ValueError("removal list holds a value that is not a UUID")
    return pa.Array.from_buffers(
        pa.binary(), n,
        [None, pa.py_buffer(np.arange(0, 16 * n + 1, 16, dtype=np.int32)),
         pa.py_buffer(raw)])


def _index_slice(files, specs, fold, payload_cols=None, chunks=None,
                 sample=None, encryption_key: bytes | None = None):
    """The one block-metadata reader, for one slice of buckets:
    ``fold(blocks, kept)`` over the slice's block rows, or None when
    the slice holds none. ``files``: the slice's planned block files
    of the columns to read (_slice_files rows), each opened once and
    read for the buckets it is taken for; ``blocks``: their rows,
    restricted to the allow-listed / sampled chunks (``chunks``: a set
    of _chunk_keys; ``sample``: (fraction, seed)); ``kept``: the rows
    of the chunks that survive every prune spec (_prune_block_table;
    ``blocks`` itself when ``specs`` is empty).

    ``payload_cols=None`` reads every payload: the scan's prune phase
    (_prune_slice), whose survivors are decoded. A set of columns is
    the metadata callers' projection: only the files of those columns
    and of the columns an eq/contains spec probes (their blooms) are
    read with the payload column; the other files' rows come with a
    null payload."""
    import pyarrow as pa

    probed = {s["col"] for s in specs if s["kind"] in ("eq", "contains")}
    opened = [_BlockFile(fp, bs, payload_cols is None or col in probed
                         or col in payload_cols)
              for fp, col, _r, bs in files]
    try:
        parts = [t for f in opened for b in f.buckets
                 if (t := f.take(b)) is not None]
    finally:
        for f in opened:
            f.close()
    if not parts:
        return None
    # a part read without its payload column gets a null one
    tbl = pa.concat_tables(parts, promote_options="default")
    if chunks is not None or sample is not None:
        tbl = _keep_chunks(tbl, chunks, sample)
    kept = _prune_block_table(tbl, specs, encryption_key=encryption_key) \
        if specs else tbl
    return fold(tbl, kept)


def _by_bucket(_blocks, kept) -> dict:
    """{bucket: surviving block rows}: the prune phase's fold."""
    import pyarrow.compute as pc

    bcol = kept.column("bucket")
    return {b: kept.filter(pc.equal(bcol, b))
            for b in pc.unique(bcol).to_pylist()}


def _prune_slice(buckets, files, specs, chunks=None, sample=None,
                 encryption_key: bytes | None = None):
    """Prune phase of the slice scan: {bucket: surviving filter-column
    block rows} for a filtered slice (empty: no chunk survives), None
    for an unfiltered one (``specs`` empty). _index_slice reads the
    filter columns' files, payloads kept (the decode phase decodes
    the survivors), and prunes the slice's chunks in one pass; the
    files are closed before this returns."""
    if not specs:
        return None
    fcols = _spec_columns(specs)
    return _index_slice([f for f in files if f[1] in fcols], specs,
                        _by_bucket, chunks=chunks, sample=sample,
                        encryption_key=encryption_key) or {}


def _decode_slice(buckets, files, specs, pruned, decode, removals,
                  chunks=None, sample=None, project=None):
    """Decode phase of the slice scan, over the prune phase's result
    ``pruned`` (_prune_slice; consumed): yields (bucket, decoded
    pa.Table) for each bucket with rows, in order. The other columns'
    files are opened only if some chunk survives, and read only for
    the surviving buckets (of a filtered slice) and chunks: a file
    (which holds one run) is read for a bucket only when a chunk of
    its run survives there, so a file whose run has no survivor in
    the slice is never opened. Decode runs one bucket at a time (its
    evolution fill and ``__bucket`` column are per bucket), then runs
    the removal step (``removals``: a _Removals) and the optional
    ``project`` (pa.Table -> pa.Table)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    fcols = _spec_columns(specs)
    runs = None if pruned is None else {
        b: set(pc.unique(t.column("run_id")).to_pylist())
        for b, t in pruned.items()}
    rest = [_BlockFile(fp, [b for b in bs
                            if runs is None or rid in runs.get(b, ())])
            for fp, col, rid, bs in files if col not in fcols]
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
            out = removals.apply(decode((b,), tbl))
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
    files for the survivors only, decodes them and removes the rows
    on ``removals`` (removal_plan). scan_frame's driver placement runs
    the two phases separately, so that it can bound a read's decoded
    size between them."""
    pruned = _prune_slice(buckets, files, specs, chunks=chunks,
                          sample=sample, encryption_key=encryption_key)
    yield from _decode_slice(buckets, files, specs, pruned, decode,
                             _Removals(removals), chunks=chunks,
                             sample=sample, project=project)


def scan_frame(spark, snap: Snapshot, decode, out_schema, scan_cols,
               chunks=None, sample=None,
               encryption_key: bytes | None = None, project=None,
               removals=()):
    """DataFrame of _scan_slice over every accepted bucket of ``snap``,
    in one of two placements decided by one rule (_driver_scan): a
    read whose decoded size is bounded at or under
    io_tables._DRIVER_MAX_BYTES runs its slices on the driver, now, and
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
    specs. ``removals``: removal_plan's, whose extra key columns
    ``decode`` decodes."""
    buckets = sorted(snap.accepted)
    rows = _direct_file_rows(snap.files, scan_cols, _paths(snap.path)[0])
    specs = snap.specs
    local = _driver_scan(snap, rows, _slices(buckets, _task_slots(
        spark, len(buckets))), specs, decode, chunks=chunks, sample=sample,
        encryption_key=encryption_key, project=project,
        removals=removals) if _crosses_arrow(out_schema) else None
    if local is not None:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        if not out_schema.fields:  # Arrow drops a 0-column row count
            return spark.range(sum(t.num_rows for t in local)).select()

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
                encryption_key=encryption_key, removals=removals,
                project=project):
            yield from out.to_batches()

    return _bucket_feed(spark, len(buckets)).mapInArrow(fn, out_schema)


def _slices(buckets: list, n: int) -> list[list]:
    """``buckets`` cut into ``n`` contiguous slices, exactly as
    spark.range(0, len(buckets), numPartitions=n) cuts its indexes
    (_bucket_feed): slice i takes [i*len//n, (i+1)*len//n)."""
    m = len(buckets)
    return [buckets[i * m // n:(i + 1) * m // n] for i in range(n)]


def _driver_scan(snap: Snapshot, rows, slices, specs, decode, chunks=None,
                 sample=None, encryption_key: bytes | None = None,
                 project=None, removals=()):
    """The driver placement of scan_frame: the decoded pa.Tables of
    the read's slices, scanned on the driver in bucket order, or None
    when the read is over the cap and belongs to the tasks. The
    driver never holds more than io_tables._DRIVER_MAX_BYTES in block
    rows or in decoded rows:

    - an unfiltered read is bounded by its (run, bucket) pairs'
      lineage ``orig_bytes`` (decoded bytes, every column), read from
      the plan with no IO;
    - a filtered read first needs its filter columns' planned files
      (those the file summaries kept, plan_snapshot) to total at most
      the cap (run-manifest ``bytes``; else no file is opened here);
      the prune phase (_prune_slice) then runs for every slice,
      and the read is bounded by the surviving (run, bucket) pairs'
      ``orig_bytes``.

    At or under the cap the decode phase (_decode_slice) runs on the
    survivors already held — no file is read twice — and every slice
    shares one removal step."""
    import pyarrow.compute as pc

    cap = io_tables._DRIVER_MAX_BYTES
    plans = [(bks, _slice_files(rows, snap.accepted, bks))
             for bks in slices if bks]
    if specs:
        fcols = _spec_columns(specs)
        blocks_p = _paths(snap.path)[0]
        size = {posixpath.join(blocks_p, f["path"]): f["bytes"]
                for f in snap.files if f["column"] in fcols}
        if sum(size[fp] for fp in {fp for _, files in plans
                                   for fp, col, _r, _b in files
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

    drops = _Removals(removals)

    def decoded(job):
        (bks, files), p = job
        return [out for _b, out in _decode_slice(
            bks, files, specs, p, decode, drops, chunks=chunks,
            sample=sample, project=project)]

    # one thread per slice: block-file reads and the decode kernels
    # release the GIL
    return [out for outs in _fan_out(decoded, zip(plans, pruned),
                                     min_items=2)
            for out in outs]


def chunk_index(spark, snap: Snapshot, columns, fold, payload_cols=(),
                encryption_key: bytes | None = None) -> list:
    """The block-metadata answer of ``snap`` (explain_scan, the
    aggregates, quantiles, HLL, profile): one partial per slice of the
    accepted buckets, ``fold(blocks, kept)`` over the slice's block
    rows of ``columns`` and its chunks that survive the snapshot's
    filter specs (_index_slice; payloads read only from the files of
    ``payload_cols`` and of the columns eq/contains pruning probes),
    slices without rows dropped. The caller merges the partials.

    scan_frame's two placements, by the same rule and cap: when the
    run-manifest ``bytes`` of the files the slices read total at most
    io_tables._DRIVER_MAX_BYTES the slices run on the driver, one
    _fan_out thread each, and no Spark job starts; otherwise one
    mapInArrow task per slice (_bucket_feed) returns its partial
    pickled."""
    import pickle

    buckets = sorted(snap.accepted)
    blocks_p = _paths(snap.path)[0]
    rows = _direct_file_rows(snap.files, columns, blocks_p)
    specs, pay = snap.specs, set(payload_cols)
    plans = [_slice_files(rows, snap.accepted, bks) for bks in _slices(
        buckets, _task_slots(spark, len(buckets))) if bks]
    size = {posixpath.join(blocks_p, f["path"]): f["bytes"]
            for f in snap.files}
    if sum(size[fp] for fp in {f[0] for files in plans for f in files}) \
            <= io_tables._DRIVER_MAX_BYTES:
        parts = _fan_out(lambda files: _index_slice(
            files, specs, fold, pay, encryption_key=encryption_key),
            plans, min_items=2)
        return [p for p in parts if p is not None]
    plan = spark.sparkContext.broadcast((buckets, snap.accepted, rows))

    def fn(batches):
        import pyarrow as pa

        all_b, accepted, file_rows = plan.value
        bks = sorted(all_b[i] for batch in batches
                     for i in batch.column(0).to_pylist())
        part = _index_slice(_slice_files(file_rows, accepted, bks), specs,
                            fold, pay, encryption_key=encryption_key)
        yield pa.RecordBatch.from_arrays(
            [pa.array([pickle.dumps(part)], pa.binary())],
            names=["partial"])

    parts = [pickle.loads(r.partial) for r in _bucket_feed(
        spark, len(buckets)).mapInArrow(fn, "partial binary").collect()]
    return [p for p in parts if p is not None]


def _bucket_feed(spark, n: int):
    """spark.range over indexes 0..n-1 of a planned bucket list, one
    contiguous slice per Python task (_task_slots): the task input of
    every per-bucket stage on the read side — no Exchange."""
    return spark.range(0, n, numPartitions=_task_slots(spark, n))
