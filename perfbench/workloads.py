"""The three closed-loop workloads, their seeded inputs and the answer oracle.

Every workload has one client that waits for each reply before it
sends the next operation (a closed loop). Rows and the schedule of
operations come from ``--seed`` only; the engine receives nothing but
the generated rows. Every answer is checked against numpy
expectations computed from the same generated Arrow tables.
"""

from __future__ import annotations

import functools
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# Rows per generated table, chosen so that a run with its set-up fits
# the benchmark's time budget on a 4-core host (see README.md).
SIZES = {
    "bulk_encode": {"rows": 24_000},
    "train_scan": {"rows": 24_000},
    "append_lookup": {"rows": 8_000, "append_tokens": 100_000},
}
SETUP_REPS = 3          # pre-builds per run; set-up reports their median
WARMUP_CYCLES = 1       # untimed cycles of the schedule before the loop
BUCKETS_PER_CORE = 4
PROJECTED = ["doc_id", "source", "n_tok"]


class Oracle:
    """Expected answers for the live contents of one table, computed in
    numpy from the Arrow tables handed to the engine."""

    def __init__(self):
        self.parts: list[pa.Table] = []
        self.rows = self.tokens = self.token_sum = 0
        self.n_tok_sum = self.str_len_sum = 0

    def add(self, tbl: pa.Table) -> None:
        flat = _flat_tokens(tbl)
        self.parts.append(tbl)
        self.rows += tbl.num_rows
        self.tokens += len(flat)
        self.token_sum += int(flat.sum(dtype=np.int64))
        self.n_tok_sum += int(pc.sum(tbl.column("n_tok")).as_py())
        self.str_len_sum += sum(
            int(pc.sum(pc.utf8_length(tbl.column(c))).as_py())
            for c in ("doc_id", "source"))

    def rows_with_token(self, token: int) -> int:
        n = 0
        for tbl in self.parts:
            toks = tbl.column("tokens").combine_chunks()
            offsets = toks.offsets.to_numpy()
            offsets = offsets - offsets[0]  # a sliced table keeps its offset
            hits = np.flatnonzero(_flat_tokens(tbl) == token)
            n += len(np.unique(np.searchsorted(offsets, hits, side="right")))
        return n

    def doc_id(self, i: int) -> str:
        for tbl in self.parts:
            if i < tbl.num_rows:
                return tbl.column("doc_id")[i].as_py()
            i -= tbl.num_rows
        raise IndexError(i)


def _flat_tokens(tbl: pa.Table) -> np.ndarray:
    toks = tbl.column("tokens").combine_chunks()
    return toks.flatten().to_numpy(zero_copy_only=False)


class Runner:
    """Times each operation, checks its answer, and records it as a span.

    With tracing on, each operation runs under its own Spark job group,
    so the event log's jobs attach to the benchmark's spans."""

    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.trace = trace
        self.spans: list[dict] = []
        self.phase = "setup"
        self.attempted = self.failed = 0

    def op(self, kind: str, fn, check=None, note=None, table=None,
           **attrs):
        """Run ``fn``; ``check(result)`` returns None when the answer is
        right, else a description of the mismatch. ``note(result)``
        adds attributes to the span. With tracing on, a ``table`` path
        records the bytes the operation left in that directory."""
        op_id = f"{kind}-{len(self.spans)}"
        if self.trace:
            self.spark.sparkContext.setJobGroup(op_id, kind)
            if table is not None:
                attrs["written_bytes"] = -dir_bytes(table)
        start = time.time()
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:  # an engine error is a failed operation
            traceback.print_exc(file=sys.stderr)
            out, err = None, "raised"
        else:
            err = None
        ms = (time.perf_counter() - t0) * 1e3
        if err is None and check is not None:
            err = check(out)
        if self.phase != "setup":
            self.attempted += 1
            self.failed += err is not None
        if err is not None:
            print(f"[perfbench] {op_id} failed: {err}", file=sys.stderr)
        elif note is not None:
            attrs.update(note(out))
        if "written_bytes" in attrs:
            attrs["written_bytes"] += dir_bytes(table)
        self.spans.append({"id": op_id, "kind": kind, "phase": self.phase,
                           "start_ms": start * 1e3, "ms": ms,
                           "ok": err is None, **attrs})
        return out

    def timed_ms(self, *kinds: str) -> list[float]:
        """Latencies of the timed operations of these kinds. Failed ones
        count too: a run with any failure is reported as not correct."""
        return [s["ms"] for s in self.spans
                if s["phase"] == "timed" and s["kind"] in kinds]


def telemetry(agg: dict) -> dict:
    """The chunk counts aggregate_encoded reports beside its answer."""
    return {k: agg[k] for k in ("chunks_total", "chunks_meta")}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def expect(got, want):
    return None if got == want else f"got {got!r}, expected {want!r}"


def median(xs):
    return statistics.median(xs) if xs else None


# ---------------------------------------------------------------- set-up
def make_input(spark, tbl: pa.Table, cores: int):
    from tokcodec.schema import SEQ_SCHEMA

    df = spark.createDataFrame(tbl, schema=SEQ_SCHEMA).repartition(cores * 2)
    df = df.cache()
    df.count()
    return df


class Workload:
    """Shared skeleton of one workload: set-up, warm-up, timed loop,
    verification. Subclasses define prebuild/warmup/schedule/metrics."""

    name = ""
    BLOOM: list[str] = []
    ENCODE_KINDS: tuple[str, ...] = ()  # op kinds whose jobs are encodes
    SCAN_KINDS: tuple[str, ...] = ()    # op kinds whose jobs decode

    def __init__(self, spark, runner: Runner, work: str, seed: int,
                 cores: int, sizes: dict):
        self.spark = spark
        self.r = runner
        self.work = work
        self.seed = seed
        self.cores = cores
        self.sizes = sizes
        self.n_buckets = BUCKETS_PER_CORE * cores
        self.rng = np.random.default_rng(seed)
        self.oracle = Oracle()
        self.inputs = []        # every DataFrame the client wrote
        self.path = None        # the table the workload keeps
        self.ref_bytes = None   # encoded bytes when the table was built

    def setup(self) -> dict:
        from tokcodec.synth import synth_arrow

        t0 = time.perf_counter()
        tbl = synth_arrow(self.sizes["rows"], seed=self.seed)
        self.oracle.add(tbl)
        self.df = make_input(self.spark, tbl, self.cores)
        self.inputs.append(self.df)
        input_s = time.perf_counter() - t0
        pre = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            path = os.path.join(self.work, f"{self.name}-setup{rep}")
            self.prebuild(path)
            pre.append(time.perf_counter() - t0)
            if self.path is not None:
                shutil.rmtree(self.path, ignore_errors=True)
            self.path = path
        from tokcodec import encoded_size_bytes

        self.ref_bytes = encoded_size_bytes(self.path)
        t0 = time.perf_counter()
        self.r.phase = "warmup"
        self.warmup()
        warm_s = time.perf_counter() - t0
        return {"input_s": input_s, "prebuild_s": pre, "warmup_s": warm_s}

    def prebuild(self, path: str) -> None:
        from tokcodec import write_encoded

        self.r.op("write", lambda: write_encoded(
            self.df, path, n_buckets=self.n_buckets),
            lambda out: expect(out["rows"], self.oracle.rows))

    def warmup(self) -> None:
        """Untimed whole cycles of the schedule. The first operations of
        each kind after start-up are the slowest (class loading, JIT
        compilation), and their latency keeps falling for several more."""
        cycles = 0
        for step in self.schedule():
            if step is None:
                cycles += 1
                if cycles == WARMUP_CYCLES:
                    return
            else:
                step()

    def schedule(self):
        """Endless generator of operations (callables); ``None`` ends a
        cycle."""
        raise NotImplementedError

    def loop(self, seconds: float) -> float:
        """Run the schedule until ``seconds`` have passed and at least one
        whole cycle (a ``None`` step) is done, so every kind of
        operation has a sample."""
        self.r.phase = "timed"
        t0 = time.perf_counter()
        deadline = t0 + seconds
        cycles = 0
        for step in self.schedule():
            if step is None:
                cycles += 1
            else:
                step()
            if cycles and time.perf_counter() >= deadline:
                break
        return time.perf_counter() - t0

    def maintain(self) -> None:
        """Untimed maintenance after the loop, in traced runs (none by
        default)."""

    def verify(self) -> None:
        """One full verify_roundtrip of the kept table, untimed."""
        import tokcodec as tc

        self.r.phase = "verify"
        want = functools.reduce(lambda a, b: a.union(b), self.inputs)
        self.r.op("roundtrip", lambda: tc.verify_roundtrip(
            want, tc.read_encoded(self.spark, self.path)),
            lambda out: expect((out["rows"], out["ok"]),
                               (self.oracle.rows, True)))

    def bytes_ratio(self) -> float:
        """Encoded bytes of the table as built, over Spark snappy
        Parquet bytes of the same rows."""
        from tokcodec import parquet_size_bytes

        ref = os.path.join(self.work, "snappy_ref")
        self.df.write.mode("overwrite").option(
            "compression", "snappy").parquet(ref)
        return self.ref_bytes / parquet_size_bytes(ref)

    def metrics(self) -> dict:
        """-> {name: value} under this workload's own metric names."""
        raise NotImplementedError

    # shared operations ---------------------------------------------
    def meta_verify(self, path: str) -> None:
        """count_encoded plus the element aggregate over tokens: answered
        from commit metadata, checked against the generator."""
        import tokcodec as tc

        o = self.oracle

        def run():
            return (tc.count_encoded(self.spark, path),
                    tc.aggregate_encoded(self.spark, path, "tokens",
                                         elements=True))

        def check(out):
            n, agg = out
            return expect((n, agg["rows"], agg["sum"]),
                          (o.rows, o.tokens, o.token_sum))

        self.r.op("verify", run, check, note=lambda out: telemetry(out[1]),
                  agg=True)


class BulkEncode(Workload):
    """Fresh write_encoded of the whole table, each followed by a
    metadata-only verify: the encode layers do almost all the work."""

    name = "bulk_encode"
    ENCODE_KINDS = ("write",)
    writes = 0

    def schedule(self):
        from tokcodec import write_encoded

        while True:
            self.writes += 1
            path = os.path.join(self.work, f"bulk{self.writes}")
            prev = self.path

            def write(path=path):
                self.r.op("write", lambda: write_encoded(
                    self.df, path, n_buckets=self.n_buckets),
                    lambda out: expect(out["rows"], self.oracle.rows),
                    table=path, tokens=self.oracle.tokens,
                    user_bytes=self.oracle.parts[0].nbytes)
                self.path = path

            yield write
            yield lambda: self.meta_verify(self.path)
            shutil.rmtree(prev, ignore_errors=True)
            yield None

    def metrics(self) -> dict:
        w = self.r.timed_ms("write")
        return {"write_mtok_s": self.oracle.tokens / median(w) / 1e3,
                "write_p50_ms": median(w),
                "agg_p50_ms": median(self.r.timed_ms("verify"))}


class TrainScan(Workload):
    """Alternating full decodes (a training-epoch checksum scan) and
    projected reads that skip the tokens decode."""

    name = "train_scan"
    SCAN_KINDS = ("full",)

    def full(self) -> None:
        from pyspark.sql import functions as F

        import tokcodec as tc

        o = self.oracle
        self.r.op("full", lambda: tuple(tc.read_encoded(self.spark, self.path).agg(
            F.count("*"), F.sum("n_tok"),
            F.sum(F.aggregate("tokens", F.lit(0).cast("long"),
                              lambda a, x: a + x))).collect()[0]),
            lambda out: expect(out, (o.rows, o.tokens, o.token_sum)),
            read=True)

    def projected(self) -> None:
        from pyspark.sql import functions as F

        import tokcodec as tc

        o = self.oracle
        self.r.op("proj", lambda: tuple(tc.read_encoded(
            self.spark, self.path, columns=PROJECTED).agg(
            F.count("*"), F.sum("n_tok"),
            F.sum(F.length("doc_id") + F.length("source"))).collect()[0]),
            lambda out: expect(out, (o.rows, o.n_tok_sum, o.str_len_sum)),
            read=True)

    def schedule(self):
        while True:
            yield self.full
            yield self.projected
            yield None

    def metrics(self) -> dict:
        return {"scan_mtok_s":
                self.oracle.tokens / median(self.r.timed_ms("full")) / 1e3,
                "proj_scan_p50_ms": median(self.r.timed_ms("proj"))}


class AppendLookup(Workload):
    """A bloom-indexed table under a fixed cycle of small appends, point
    lookups (half present, half absent), contamination probes (rare
    and absent tokens) and metadata aggregates, with compaction plus
    vacuum after the loop. Fixed per-operation cost dominates."""

    name = "append_lookup"
    ENCODE_KINDS = ("append",)
    SCAN_KINDS = ("lookup", "probe")
    BLOOM = ["doc_id", "tokens"]

    def prebuild(self, path: str) -> None:
        from tokcodec import write_encoded

        self.r.op("write", lambda: write_encoded(
            self.df, path, n_buckets=self.n_buckets, bloom_columns=self.BLOOM),
            lambda out: expect(out["rows"], self.oracle.rows))
        self.epoch = 0

    def append(self) -> None:
        from tokcodec import write_encoded
        from tokcodec.schema import SEQ_SCHEMA
        from tokcodec.synth import synth_arrow

        self.epoch += 1
        budget = self.sizes["append_tokens"]
        tbl = synth_arrow(budget // 50, seed=self.seed * 1000 + self.epoch)
        # every append carries about the same number of tokens, so its
        # cost does not vary with the seed's row lengths
        cum = np.cumsum(tbl.column("n_tok").to_numpy())
        tbl = tbl.slice(0, max(1, int(np.searchsorted(cum, budget, "right"))))
        # synth doc ids restart at 0 for every call; a prefix keeps
        # appended keys unique
        ids = pc.binary_join_element_wise(
            f"a{self.epoch}", tbl.column("doc_id"), "-")
        tbl = tbl.set_column(0, "doc_id", ids)
        adf = self.spark.createDataFrame(tbl, schema=SEQ_SCHEMA)
        self.inputs.append(adf)
        self.oracle.add(tbl)
        self.r.op("append", lambda: write_encoded(
            adf, self.path, n_buckets=self.n_buckets, epoch=self.epoch),
            lambda out: expect(out["rows"], self.oracle.rows),
            table=self.path, tokens=len(_flat_tokens(tbl)),
            user_bytes=tbl.nbytes)

    def lookup(self, present: bool) -> None:
        import tokcodec as tc

        if present:
            key = self.oracle.doc_id(int(self.rng.integers(self.oracle.rows)))
        else:
            key = f"absent-{self.seed}-{int(self.rng.integers(1 << 30))}"
        self.r.op("lookup", lambda: tc.read_encoded(
            self.spark, self.path, eq_filter=("doc_id", key)).count(),
            lambda n: expect(n, int(present)), read=True, key=key)

    def probe(self, rare: bool) -> None:
        import tokcodec as tc

        from tokcodec.synth import VOCAB

        # Zipf ids are rare far from 0; ids at or above VOCAB never come
        # from the generator's Zipf draw
        token = int(self.rng.integers(VOCAB // 2, VOCAB) if rare
                    else self.rng.integers(VOCAB, 1 << 30))
        want = self.oracle.rows_with_token(token)
        self.r.op("probe", lambda: tc.read_encoded(
            self.spark, self.path, columns=["doc_id"],
            contains_filter=("tokens", token)).count(),
            lambda n: expect(n, want), read=True, token=token)

    def count_agg(self) -> None:
        import tokcodec as tc

        o = self.oracle
        self.r.op("count", lambda: tc.count_encoded(self.spark, self.path),
                  lambda n: expect(n, o.rows))
        self.r.op("agg", lambda: tc.aggregate_encoded(
            self.spark, self.path, "n_tok"),
            lambda a: expect((a["rows"], a["sum"]), (o.rows, o.n_tok_sum)),
            note=telemetry, agg=True)

    def maintain(self) -> None:
        """Compaction and vacuum after the loop (inside it they would
        take most of a short run), then the lookup that pays for any
        stall they leave behind."""
        import tokcodec as tc

        self.r.phase = "maint"
        self.r.op("compact", lambda: tc.compact_encoded(self.spark, self.path),
                  lambda out: expect(out["rows"], self.oracle.rows),
                  table=self.path)
        self.r.op("vacuum", lambda: tc.vacuum_encoded(self.spark, self.path))
        self.lookup(True)

    def schedule(self):
        while True:
            yield self.append
            yield lambda: self.lookup(True)
            yield lambda: self.probe(True)
            yield self.append
            yield lambda: self.lookup(False)
            yield lambda: self.probe(False)
            yield self.count_agg
            yield None

    def metrics(self) -> dict:
        lk = self.r.timed_ms("lookup", "probe")
        rates = [s["tokens"] / s["ms"] / 1e3 for s in self.r.spans
                 if s["phase"] == "timed" and s["kind"] == "append"]
        return {"append_mtok_s": median(rates),
                "lookup_p50_ms": median(lk),
                "lookup_p90_ms": float(np.percentile(lk, 90)),
                "lookup_n": len(lk),
                "agg_p50_ms": median(self.r.timed_ms("count", "agg")),
                "append_p50_ms": median(self.r.timed_ms("append"))}


WORKLOADS = {w.name: w for w in (BulkEncode, TrainScan, AppendLookup)}

# The end-to-end metric each workload reports under the shared names
# in BENCHMARK.json: its bulk token rate and its latency-class median.
HEADLINE = {
    # bulk_encode's latency is its write: the metadata verify after it
    # kept getting faster for a dozen calls after warm-up (3.3 s, then
    # 0.9 s falling to 0.55 s), so its median followed how far a run
    # got and spread by a fifth between runs; it stays in the detail
    "bulk_encode": ("write_mtok_s", "write_p50_ms"),
    "train_scan": ("scan_mtok_s", "proj_scan_p50_ms"),
    "append_lookup": ("append_mtok_s", "lookup_p50_ms"),
}
