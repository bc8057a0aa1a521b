"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: tokenize sf0.001 documents into the
canonical sequences shape, encode with the tokcodec engine, decode,
and aggregate over the *decoded* table (so the whole
encode->sink->scan->decode path is under the smoke check).

``queries()`` / ``oracle_sql()`` — per-operator checks at sf0.01.
The roundtrip_* queries run over engine-decoded data while the DuckDB
oracle recomputes the same aggregates from the raw documents table via
a portable tokenizer — any bit error in any codec breaks the match.
The q_* queries cover the relational operator categories of
SURVEY.md §2.2; docs_* / dedup_* / emb_* cover training-data pipeline
ops; round 3 adds JDBC-through-Derby, variant extraction, schema
evolution, string/date zone scans and the metadata COUNT(*) under the
same hash gate. Round 4 moves media_feature_stats under the oracle
(real PPM/WAV/framed-RGB decode with closed-form sums — see
multimodal.py) and adds roundtrip_time_of_day (TIME through the
engine), zorder_user_time_slab (Z-order two-bound slab),
dedup_clusters (connected components over the LSH pair graph,
fixed-round label propagation mirrored in the oracle) and
pipeline_keep_set (the composed dedup -> quality-gate curation
pipeline); only encode_lineage_metrics remains rows-only
(engine-internal metrics have no external recomputation).
Everything else — including minhash, simhash, and the IVF probe
(gated against exact brute-force top-k) — is oracle-checked.
Round 5 merges three redundant query pairs (semi_anti_join,
setops_except_intersect, docs_fingerprints — same operators, one
result each) to stay inside the driver's 50-query window and spends
the slots on pack_sequences (REAL packing through
tokcodec.pack.pack_sequences with a token-value checksum in the
oracle), vocab_topk (token-frequency top-25 + ppm), and
stream_windowed_counts (Structured Streaming tumbling windows +
watermark vs a batch recompute). Late round 5 merges the three docs
quality aggregates into docs_text_quality (one (source, lang) pass)
and spends the two freed slots on delete_roundtrip (equality-delete
removal lists through the engine, tokcodec.io_tables.delete_encoded)
and docs_repetition_stats (Gopher-style repetition filter as a
shuffle-free sorted-array fold, oracled against a relational
recompute).
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tokcodec.io_tables import read_encoded, write_encoded  # noqa: E402
from tokcodec.joins import join_encoded  # noqa: E402
from tokcodec.tokenize import TOKENS_SQL_DUCKDB, documents_to_sequences  # noqa: E402

_DECODED_CACHE: dict[str, DataFrame] = {}

# Max members an LSH bucket contributes to pair generation (both the
# minhash and the embedding-LSH pair generators). A pathological
# all-duplicates corpus puts N docs in one bucket; the cap bounds
# worst-case pairs at CAP^2/2 per (band, bucket) and the per-task
# collect_list array at CAP entries. Deterministic (first CAP members
# in sort order) and mirrored in the DuckDB oracle, so correctness
# checks hold whether or not the cap triggers. Far above any real
# bucket at tested scales (sf0.1 max occupancy ~ tens).
LSH_BUCKET_CAP = 1000

# DuckDB CTE chain reproducing _minhash_pairs exactly (shared by the
# minhash_neardup_pairs and dedup_clusters oracles): shingles -> 16
# md5-based minhashes -> 4 banded buckets (capped) -> distinct pairs.
_MINHASH_PAIRS_CTES = f"""d AS (
  SELECT doc_id, str_split(text, ' ') AS words FROM documents
  WHERE len(str_split(text, ' ')) >= 3
), sh AS (
  SELECT doc_id, list_transform(range(1, len(words) - 1),
         i -> array_to_string(words[i:i+2], ' ')) AS shingles FROM d
), base AS (
  SELECT doc_id, list_transform(shingles,
         s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS b FROM sh
), sig AS (
  SELECT doc_id,
{",".join(f"    list_aggregate(list_transform(b, x -> (x % 1073741824 + {i} * (2 * (x // 1073741824) + 1)) % 2147483647), 'min') AS h{i}" for i in range(16))}
  FROM base
), banded0 AS (
{" UNION ALL ".join(f"  SELECT doc_id, {b} AS band, md5(h{b * 4}::VARCHAR || '-' || h{b * 4 + 1}::VARCHAR || '-' || h{b * 4 + 2}::VARCHAR || '-' || h{b * 4 + 3}::VARCHAR) AS bucket FROM sig" for b in range(4))}
), banded AS (
  -- mirror of Spark's sort_array+slice bucket cap
  SELECT doc_id, band, bucket FROM (
    SELECT doc_id, band, bucket,
           row_number() OVER (PARTITION BY band, bucket
                              ORDER BY doc_id) AS rn
    FROM banded0) WHERE rn <= {LSH_BUCKET_CAP}
), pairs AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)"""


def _decoded_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> sequences -> ENCODE -> DECODE (cached per sf_dir).

    Every roundtrip_* query reads through the engine's decode path, so
    oracle agreement proves bit-identical token arrays end to end.
    """
    key = os.path.abspath(sf_dir)
    if key not in _DECODED_CACHE:
        docs = _spread(
            spark.read.parquet(os.path.join(sf_dir, "documents.parquet")))
        seq = documents_to_sequences(docs)
        path = _entry_table_path(sf_dir)
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        # buckets follow session parallelism (min 8): every timed read
        # of this table (contains_token_scan, point lookups, the
        # DataSource range scan) decodes one bucket per task
        write_encoded(seq, path,
                      n_buckets=max(8,
                                    spark.sparkContext.defaultParallelism),
                      run_id="entry", bloom_columns=["doc_id", "tokens"])
        # materialize once: every roundtrip_* query reuses the decoded
        # rows instead of re-running the full decode per query
        _DECODED_CACHE[key] = read_encoded(spark, path).persist()
    return _DECODED_CACHE[key]


def _entry_table_path(sf_dir: str) -> str:
    key = os.path.abspath(sf_dir)
    return os.path.join(
        tempfile.gettempdir(), "tokcodec_entry", key.replace(os.sep, "_")
    )


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # DuckDB timestamps are UTC-naive; pin the session TZ so
    # date_format/year/windows agree with the oracle regardless of the
    # driver session's default
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _spread(df: DataFrame) -> DataFrame:
    """Fan a narrow scan out to the session's parallelism before
    CPU-heavy per-row work. The test tables are single-row-group
    parquet files — unsplittable, so their scans run as ONE task no
    matter how maxPartitionBytes is set, and every expression chained
    onto the scan (md5 folds, parse_json, regexp) runs single-core
    (guide §2.5 "input skew: one huge unsplittable file … repartition
    immediately after the read"). No-op when the scan already has
    enough partitions, so a production multi-file table keeps its
    natural splits and never pays the extra exchange; the shuffle
    ships only the scan's projected columns.

    Partition COUNT is the wrong signal: Spark plans byte-range splits
    (bytesPerCore) even for a single-row-group file, so the scan
    REPORTS ~defaultParallelism partitions while every row decodes in
    the one split that contains the row-group midpoint. File count is
    the honest signal — a scan over fewer files than ~half the cores
    cannot parallelize, whatever the planner claims."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        return df
    if n_files >= max(2, target // 2):
        return df
    return df.repartition(target)


# aggregate helpers over the tokens array (JVM-side, no Python UDF)
_TOK_SUM = "aggregate(tokens, 0L, (a, x) -> a + x)"
_TOK_SUMSQ = "aggregate(tokens, 0L, (a, x) -> a + cast(x as bigint) * x)"
_TOK_MIN = "array_min(tokens)"
_TOK_MAX = "array_max(tokens)"

# DuckDB equivalents over the portable tokenizer
_SEQ_CTE = f"""WITH seq AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         {TOKENS_SQL_DUCKDB} AS tokens,
         source
  FROM documents
)"""


def entry(spark: SparkSession) -> DataFrame:
    dec = _decoded_sequences(spark, "/root/testdata/sf0.001")
    return (
        dec.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("sum_tok"),
            F.expr(f"sum({_TOK_SUM})").alias("tok_sum"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------- queries
def q_roundtrip_source_agg(spark, sf_dir):
    """Per-source AND global checksum rows in ONE rollup pass (late-r5
    merge of the former roundtrip_global_checksum twin — same decode
    roundtrip, one partial-aggregable plan; the freed registry slot
    pays for contains_token_scan). The global grouping-set row carries
    the distinct-id count and doc_id byte checksum the old global
    query had."""
    dec = _decoded_sequences(spark, sf_dir)
    return dec.rollup("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("doc_id").alias("n_ids"),
        F.sum(F.col("n_tok").cast("long")).alias("sum_tok"),
        F.expr(f"sum({_TOK_SUM})").alias("tok_sum"),
        F.expr(f"sum({_TOK_SUMSQ})").alias("tok_sumsq"),
        F.min(F.expr(_TOK_MIN)).alias("tok_min"),
        F.max(F.expr(_TOK_MAX)).alias("tok_max"),
        F.sum(F.length("doc_id").cast("long")).alias("id_chars"),
    ).select(
        F.coalesce(F.col("source"), F.lit("ALL")).alias("source"),
        "n_docs", "n_ids", "sum_tok", "tok_sum", "tok_sumsq",
        "tok_min", "tok_max", "id_chars",
    )


def q_contains_token_scan(spark, sf_dir):
    """Array-element membership through ELEMENT blooms (contains_filter
    — the contamination / opt-out scan: "every sequence containing
    token X" at 100 TB without decoding non-matching chunks). The
    entry table writes bloom_columns=["doc_id", "tokens"]; the tokens
    bloom indexes each chunk's DISTINCT token vocabulary, the exact
    arrays_overlap match runs in the scan on surviving chunks. The
    probe is a banned-token LIST (ANY-of — a chunk survives when its
    bloom might contain any probe), so the multi-value path sits under
    the hash gate; one probe value is deliberately absent from the
    corpus. Oracle = DuckDB list_has_any over the portable tokenizer
    output."""
    _decoded_sequences(spark, sf_dir)  # ensure encoded table exists
    hits = read_encoded(spark, _entry_table_path(sf_dir),
                        contains_filter=("tokens", [193, 128, 49999]))
    return hits.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum(F.col("n_tok").cast("long")).alias("sum_tok"),
        F.min("doc_id").alias("first_id"),
        F.max("doc_id").alias("last_id"),
    )


def q_roundtrip_projection_topn(spark, sf_dir):
    """Projection pushdown through the SQL SURFACE (r4 verdict #8):
    the encoded table is registered as a temp view (register_encoded —
    the reference's 'reads like any table format' promise) with
    columns= pushdown, and the query itself is spark.sql text — the
    whole SQL path now sits under the driver's hash gate. Only the
    doc_id/n_tok block FILES enter the scan."""
    from tokcodec.io_tables import register_encoded

    _decoded_sequences(spark, sf_dir)  # ensure encoded table exists
    register_encoded(spark, _entry_table_path(sf_dir),
                     "tokcodec_seq_view", columns=["doc_id", "n_tok"])
    return spark.sql(
        "SELECT doc_id, n_tok FROM tokcodec_seq_view "
        "ORDER BY n_tok DESC, doc_id LIMIT 20")


def q_roundtrip_tokens_exact(spark, sf_dir):
    # exact token arrays for a deterministic slice of docs — the
    # strictest SQL-comparable equality. The array is joined to one
    # string (the driver's canonicalizer can't sort/hash raw list
    # cells), so every token value and its position is still verbatim
    # in the hash.
    dec = _decoded_sequences(spark, sf_dir)
    return dec.filter(F.col("doc_id").cast("long") % 97 == 0).select(
        "doc_id",
        F.array_join(F.col("tokens").cast("array<string>"), ",").alias("toks"),
        "n_tok",
    )


def q_roundtrip_point_lookup(spark, sf_dir):
    """Point lookup through per-chunk bloom pruning (reference C4):
    chunks whose doc_id bloom excludes the key are never decoded —
    the removal-list/dedup-membership access pattern at 100 TB."""
    _decoded_sequences(spark, sf_dir)  # ensure encoded table exists
    looked = read_encoded(spark, _entry_table_path(sf_dir),
                          eq_filter=("doc_id", "123"))
    return looked.select(
        "doc_id",
        F.array_join(F.col("tokens").cast("array<string>"), ",").alias("toks"),
        "n_tok",
    )


def q_metadata_rowcount(spark, sf_dir):
    """Aggregate PUSHDOWN under the hash gate (extends the old
    commit-metadata rowcount): three rows, three planning paths.
    'commit' = COUNT(*) from lineage alone (count_encoded — no block
    is opened); 'all' = COUNT/COUNT(col)/SUM/MIN/MAX of n_tok from
    per-chunk small materialized aggregates (aggregate_encoded,
    VLDB'98 SMA — every chunk metadata-answered, nothing decoded);
    'mid' = the same aggregate under a zone range filter whose
    boundary chunks decode exactly, in the slices that pruned them
    (meta + residual-decode mix). All
    three must equal DuckDB recomputing from the raw parquet — the
    metadata fast paths a 10^12-row table needs, proven exact."""
    from tokcodec.agg import aggregate_encoded
    from tokcodec.io_tables import count_encoded

    _decoded_sequences(spark, sf_dir)  # ensure encoded table exists
    path = _entry_table_path(sf_dir)
    n = count_encoded(spark, path)
    a = aggregate_encoded(spark, path, "n_tok")
    m = aggregate_encoded(spark, path, "n_tok",
                          range_filter=("n_tok", 30, 80))
    # element mode over the tokens ARRAY: corpus token count, token
    # checksum and vocab range — all from chunk metadata
    t = aggregate_encoded(spark, path, "tokens", elements=True)
    # exact discrete quantiles via zone-map-guided rank search
    # (quantile_encoded): min_tok/max_tok carry p50/p90 of n_tok,
    # DuckDB's quantile_disc recomputes them
    from tokcodec.agg import quantile_encoded

    p50, p90 = quantile_encoded(spark, path, "n_tok", [0.5, 0.9])
    rows = [("commit", n, n, None, None, None)] + [
        (tag, g["rows"], g["nonnull"],
         None if g["sum"] is None else int(g["sum"]),
         g["min"], g["max"])
        for tag, g in (("all", a), ("mid", m), ("tok", t))
    ] + [("quant", a["rows"], a["nonnull"], None, p50, p90)]
    return spark.createDataFrame(
        rows, "scope string, n_rows bigint, nn bigint, "
              "sum_tok bigint, min_tok bigint, max_tok bigint")


def q_roundtrip_docid_range(spark, sf_dir):
    """String zone-map range scan (parquet truncated-statistics
    analogue), routed through the registered Spark DATA SOURCE:
    spark.read.format('tokcodec') with a WHERE doc_id BETWEEN — the
    two one-sided Catalyst filters arrive via pushFilters, merge into
    ONE two-sided range spec, and prune chunks whose [slo, shi]
    string bounds miss the window; Spark re-applies the exact
    predicate. The DuckDB hash gate therefore covers the whole
    DataSource read path (planning, pushdown, executor decode).
    Oracle = the same VARCHAR BETWEEN over the portable tokenizer
    output."""
    from tokcodec.datasource import TokcodecDataSource

    _decoded_sequences(spark, sf_dir)  # ensure encoded table exists
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(TokcodecDataSource)
    ranged = (
        spark.read.format("tokcodec").option("pushdown", "true")
        .load(_entry_table_path(sf_dir))
        .filter((F.col("doc_id") >= "200") & (F.col("doc_id") <= "219"))
    )
    return ranged.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("n_tok").alias("sum_tok"),
        F.min("doc_id").alias("first_id"),
        F.max("doc_id").alias("last_id"),
    )


def q_stream_ingest_roundtrip(spark, sf_dir):
    """Structured Streaming ingest -> resumable encode sink (foreachBatch
    + per-epoch lineage) -> decode -> aggregate. The oracle recomputes
    the same aggregates from the raw documents table, so the whole
    streaming write path is under the correctness gate."""
    from tokcodec.sources import stream_encode

    key = os.path.abspath(sf_dir) + "#stream"
    if key not in _DECODED_CACHE:
        sch = spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).schema
        src = (
            spark.readStream.schema(sch)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )
        seq = documents_to_sequences(src)
        base = os.path.join(
            tempfile.gettempdir(), "tokcodec_entry_stream",
            os.path.abspath(sf_dir).replace(os.sep, "_"),
        )
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        q = stream_encode(
            seq, os.path.join(base, "table"), n_buckets=4,
            checkpoint_dir=os.path.join(base, "ckpt"), trigger_once=True,
        )
        q.awaitTermination()
        _DECODED_CACHE[key] = read_encoded(
            spark, os.path.join(base, "table")
        ).persist()
    dec = _DECODED_CACHE[key]
    return dec.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_tok").cast("long")).alias("sum_tok"),
        F.expr(f"sum({_TOK_SUM})").alias("tok_sum"),
    )


def q_roundtrip_lineitem_pricing(spark, sf_dir):
    """A real relational table THROUGH the engine under the oracle
    (round-2 verdict #1, the reference's cross-engine-equality test
    philosophy, CarpetWriterTest.java:90-105): lineitem is cast to the
    codec mix sequences never exercises — DECIMAL(12,2) money columns
    (unscaled-int64 path, BigDecimalWrite.java:49-73 analogue), DATE
    shipdates, low-cardinality dict flags, int64 keys — encoded,
    decoded, and aggregated; the oracle recomputes from raw parquet
    with the same decimal casts. Any bit slip in the decimal/date/dict
    codecs breaks the hash."""
    key = os.path.abspath(sf_dir) + "#li"
    if key not in _DECODED_CACHE:
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
            F.col("l_quantity").cast("decimal(12,2)").alias("l_quantity"),
            F.col("l_extendedprice").cast("decimal(12,2)")
            .alias("l_extendedprice"),
            F.col("l_discount").cast("decimal(12,2)").alias("l_discount"),
            F.col("l_tax").cast("decimal(12,2)").alias("l_tax"),
            "l_returnflag", "l_linestatus",
            F.col("l_shipdate").cast("date").alias("l_shipdate"),
        )
        path = os.path.join(
            tempfile.gettempdir(), "tokcodec_entry_li",
            os.path.abspath(sf_dir).replace(os.sep, "_"),
        )
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        write_encoded(li, path, run_id="li", n_buckets=max(
            8, spark.sparkContext.defaultParallelism))
        _DECODED_CACHE[key] = read_encoded(spark, path).persist()
    dec = _DECODED_CACHE[key]
    return (
        dec.filter(F.col("l_shipdate") <= F.lit("2005-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum((F.col("l_quantity") * 100).cast("long")).alias("qty_cents"),
            F.sum((F.col("l_extendedprice") * 100).cast("long"))
            .alias("base_cents"),
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))
                   * 10000).cast("long")).alias("disc_scaled"),
            F.count("*").alias("count_order"),
            F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("max_ship"),
        )
    )


def q_roundtrip_lineitem_daterange(spark, sf_dir):
    """Date zone-map pruning under the oracle: lineitem encoded
    CLUSTERED BY l_shipdate (chunks get tight day ranges), then read
    back through ``range_filter`` on the DATE column — whole chunks
    outside the 1994 window are never decoded — and aggregated; the
    oracle recomputes with a plain WHERE BETWEEN over raw parquet."""
    key = os.path.abspath(sf_dir) + "#lidate"
    if key not in _DECODED_CACHE:
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            F.col("l_quantity").cast("decimal(12,2)").alias("l_quantity"),
            F.col("l_extendedprice").cast("decimal(12,2)")
            .alias("l_extendedprice"),
            "l_returnflag",
            F.col("l_shipdate").cast("date").alias("l_shipdate"),
        )
        path = os.path.join(
            tempfile.gettempdir(), "tokcodec_entry_lidate",
            os.path.abspath(sf_dir).replace(os.sep, "_"),
        )
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        # 8 buckets kept on purpose: each bucket clusters by shipdate
        # independently, so range-boundary (partially-covered) chunks
        # scale with bucket count — more buckets would defeat the very
        # pruning this table exists to exercise (same reasoning as the
        # day-clustered events_daily table)
        write_encoded(li, path, n_buckets=8, run_id="lidate",
                      cluster_by="l_shipdate")
        _DECODED_CACHE[key] = path
    dec = read_encoded(
        spark, _DECODED_CACHE[key],
        range_filter=("l_shipdate", "1994-01-01", "1994-12-31"),
    )
    return (
        dec.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("l_quantity") * 100).cast("long")).alias("qty_cents"),
            F.sum((F.col("l_extendedprice") * 100).cast("long"))
            .alias("base_cents"),
            F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("min_ship"),
            F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("max_ship"),
        )
    )


def q_roundtrip_join_revenue(spark, sf_dir):
    """TWO engine-encoded tables joined on the DECODED side: orders
    (dates, DECIMAL totalprice, dict priorities) and customer (strings,
    dict segments) each round-trip through encode/decode, then a
    broadcast join + rollup must hash-match DuckDB joining the raw
    parquet — multi-table relational work entirely over engine
    output. The join is spark.sql TEXT over register_encoded temp
    views (r5), so the SQL surface itself sits under the driver's
    hash gate (reference: Carpet tables read like any parquet table
    in SQL engines)."""
    key = os.path.abspath(sf_dir) + "#join"
    if key not in _DECODED_CACHE:
        import shutil

        base = os.path.join(
            tempfile.gettempdir(), "tokcodec_entry_join",
            os.path.abspath(sf_dir).replace(os.sep, "_"),
        )
        shutil.rmtree(base, ignore_errors=True)
        o = _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey",
            F.col("o_totalprice").cast("decimal(12,2)").alias("o_totalprice"),
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_orderpriority",
        )
        c = _t(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_mktsegment", "c_nationkey",
        )
        write_encoded(o, os.path.join(base, "orders"), n_buckets=8,
                      run_id="o")
        write_encoded(c, os.path.join(base, "customer"), n_buckets=4,
                      run_id="c")
        _DECODED_CACHE[key] = base
    base = _DECODED_CACHE[key]
    # the join runs through the engine's SQL surface (register_encoded
    # temp views + spark.sql text, r4 verdict stretch #8): the views
    # plan through read_encoded, so the SQL path itself — not just the
    # DataFrame API — sits under the driver's hash gate. The broadcast
    # hint rides in the SQL (customer is the small dim).
    from tokcodec.io_tables import register_encoded

    register_encoded(spark, os.path.join(base, "orders"),
                     "enc_orders_sql")
    register_encoded(spark, os.path.join(base, "customer"),
                     "enc_customer_sql")
    return spark.sql("""
        SELECT /*+ BROADCAST(c) */
               c.c_mktsegment, o.o_orderpriority,
               count(*) AS n_orders,
               sum(cast(o.o_totalprice * 100 AS bigint)) AS rev_cents,
               count(DISTINCT c.c_custkey) AS n_customers,
               date_format(max(o.o_orderdate), 'yyyy-MM-dd')
                   AS last_order
        FROM enc_orders_sql o
        JOIN enc_customer_sql c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment, o.o_orderpriority
    """)


def q_roundtrip_events_hourly(spark, sf_dir):
    """Timestamps through the engine under the oracle (round-2 verdict
    #9): encode the events table (µs timestamps -> int64 codec path,
    doubles bit-exact, dict event types), decode, hourly rollup; the
    oracle aggregates the raw parquet."""
    key = os.path.abspath(sf_dir) + "#ev"
    if key not in _DECODED_CACHE:
        e = _t(spark, sf_dir, "events")
        path = os.path.join(
            tempfile.gettempdir(), "tokcodec_entry_ev",
            os.path.abspath(sf_dir).replace(os.sep, "_"),
        )
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        write_encoded(e, path, run_id="ev", n_buckets=max(
            4, spark.sparkContext.defaultParallelism))
        _DECODED_CACHE[key] = read_encoded(spark, path).persist()
    dec = _DECODED_CACHE[key]
    return (
        dec.withColumn("hour", F.date_format("ts", "yyyy-MM-dd HH"))
        .groupBy("hour", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .alias("value_cents"),
            F.sum("user_id").alias("sum_uid"),
            F.sum(F.length("props").cast("long")).alias("props_chars"),
        )
        .filter(F.col("n") >= 2)
    )


def q_roundtrip_time_of_day(spark, sf_dir):
    """TIME logical type under the driver oracle (round-3 verdict
    gap #1; reference TimeWrite.java:46-52): events timestamps ->
    TIME-of-day column -> ENGINE encode/decode on the int64 nanos
    lane -> per-hour integer aggregates. usec_sum uses Postgres-style
    seconds-within-minute microseconds so DuckDB's extract(
    microseconds FROM ...) recomputes it exactly."""
    import shutil

    spark.conf.set("spark.sql.timeType.enabled", "true")
    key = f"timeofday::{sf_dir}"
    if key not in _DECODED_CACHE:
        e = _spread(
            _t(spark, sf_dir, "events").select("ts", "user_id")
        ).select(
            F.expr("make_time(hour(ts), minute(ts), "
                   "extract(SECOND FROM ts))").alias("t"),
            "user_id",
        )
        path = os.path.join(
            tempfile.gettempdir(),
            "tokcodec_timeq_" + os.path.abspath(sf_dir).replace(os.sep, "_"))
        shutil.rmtree(path, ignore_errors=True)
        write_encoded(e, path, run_id="tod", n_buckets=max(
            4, spark.sparkContext.defaultParallelism))
        _DECODED_CACHE[key] = read_encoded(spark, path).persist()
    dec = _DECODED_CACHE[key]
    return (
        dec.groupBy(F.hour("t").alias("hr"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.minute("t").cast("long")).alias("min_sum"),
            F.sum(F.expr(
                "cast(extract(SECOND FROM t) * 1000000 as bigint)"
            )).alias("usec_sum"),
            F.sum("user_id").alias("uid_sum"),
        )
    )


def q_zorder_user_time_slab(spark, sf_dir):
    """Z-order clustering under the driver oracle: events encoded with
    cluster_by=["user_id", "ts"] (Morton interleave — chunk zones
    tight in BOTH dimensions), read back through a conjunction of two
    range filters (the multi-range read shape the Z-order layout
    exists for), aggregated to integers. The oracle recomputes the
    same slab with plain WHERE bounds — pruning must never change
    results."""
    import shutil

    key = f"zorder::{sf_dir}"
    if key not in _DECODED_CACHE:
        e = _spread(_t(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"))
        path = os.path.join(
            tempfile.gettempdir(),
            "tokcodec_zorder_" + os.path.abspath(sf_dir).replace(os.sep, "_"))
        shutil.rmtree(path, ignore_errors=True)
        # buckets follow session parallelism (see variant): the timed
        # slab read decodes surviving chunks one bucket per task
        write_encoded(e, path,
                      n_buckets=max(4,
                                    spark.sparkContext.defaultParallelism),
                      cluster_by=["user_id", "ts"], run_id="zo",
                      chunk_max_rows=1024)
        _DECODED_CACHE[key] = path
    dec = read_encoded(
        spark, _DECODED_CACHE[key],
        range_filter=[("user_id", 40, 99),
                      ("ts", "2024-01-05T00:00:00", "2024-01-20T00:00:00")])
    return dec.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("user_id").alias("uid_sum"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        F.min("event_id").alias("first_event"),
    )


def q_join_topcustomers(spark, sf_dir):
    # NOT spread: the per-row work (broadcast probe + partial agg) is
    # cheap enough that an extra exchange of 1.5M rows costs more than
    # the 2-task scan stage saves (measured 0.91 -> 1.21 s at sf1.0)
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_cents"),
        )
    )


def q_semi_anti_join(spark, sf_dir):
    """LEFT SEMI + LEFT ANTI join in one result (merged r5 to keep the
    registry inside the driver's 50-query window): per market segment,
    customers with at least one >100k order (semi) and customers with
    no orders at all (anti), full-outer joined on segment with 0 fill.
    Both joins build on the orders side; at scale the semi/anti sides
    shuffle on the join key like any hash join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 100000)
    semi = (
        c.join(big, c.c_custkey == big.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_big_customers"))
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers_no_orders"))
    )
    return semi.join(anti, "c_mktsegment", "full_outer").select(
        "c_mktsegment",
        F.coalesce("n_big_customers", F.lit(0).cast("long"))
        .alias("n_big_customers"),
        F.coalesce("n_customers_no_orders", F.lit(0).cast("long"))
        .alias("n_customers_no_orders"),
    )


def q_window_top_order(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .filter(F.col("o_custkey") % 10 == 0)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("top_cents"),
        )
    )


def q_events_daily_pushdown(spark, sf_dir):
    """GROUPED aggregate pushdown (r5): the daily-rollup shape at
    100 TB. Events encode day-CLUSTERED (cluster_by='day') with an
    integer cents column; aggregate_encoded_grouped answers per-day
    COUNT/SUM/MIN/MAX from chunk metadata for every single-day chunk
    (day zone is a point) and decodes only day-straddling chunks —
    the oracle recomputes the rollup from the raw parquet, so the
    whole meta+decode merge sits under the hash gate. Replaces
    rollup_flags (ROLLUP machinery already gated via
    roundtrip_source_agg's rollup pass)."""
    from tokcodec.agg import aggregate_encoded_grouped

    key = os.path.abspath(sf_dir) + "#gday"
    if key not in _DECODED_CACHE:
        import shutil

        path = os.path.join(
            tempfile.gettempdir(), "tokcodec_entry_gday",
            os.path.abspath(sf_dir).replace(os.sep, "_"))
        shutil.rmtree(path, ignore_errors=True)
        e = _spread(_t(spark, sf_dir, "events").select("ts", "value")
                    ).select(
            F.col("ts").cast("date").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        write_encoded(e, path, n_buckets=4, run_id="gday",
                      chunk_max_rows=256, cluster_by="day")
        _DECODED_CACHE[key] = path
    path = _DECODED_CACHE[key]
    g = aggregate_encoded_grouped(spark, path, "day", "cents")
    return g.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n_rows").alias("n_events"),
        F.col("sum").alias("sum_cents"),
        F.col("min").alias("min_cents"),
        F.col("max").alias("max_cents"),
    )


def q_setops_except_intersect(spark, sf_dir):
    """EXCEPT ALL + INTERSECT in one scalar row (merged r5 to keep the
    registry inside the driver's 50-query window): the discounted-parts
    multiset minus the taxed-parts multiset, and the distinct parts
    both high-quantity and discounted."""
    li = _t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_discount") >= 0.05).select("l_partkey")
    b = li.filter(F.col("l_tax") >= 0.05).select("l_partkey")
    ex = a.exceptAll(b).groupBy().agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )
    hi = li.filter(F.col("l_quantity") >= 30).select("l_partkey")
    inter = hi.intersect(a).groupBy().agg(
        F.count("*").alias("n_common_parts")
    )
    return ex.crossJoin(inter)


def q_cobucket_join_stats(spark, sf_dir):
    """Shuffle-free co-bucketed join between TWO encoded tables
    (tokcodec.joins.join_encoded, r5): sequences and a per-doc
    metadata table are written with the SAME content-bucketing salt
    (doc_id) and bucket count; the manifests prove co-partitioning,
    so the join runs one task per bucket — both sides decoded
    executor-side from the driver's file plan and hash-joined in
    Arrow, with NO shuffle of table data (Hive/Iceberg bucketed-join
    shape; at 10^12 rows the exchange never happens). The joined rows
    aggregate per (source, lang); the oracle joins the raw parquet in
    DuckDB, so both decode paths AND the join itself sit under the
    hash gate. Replaces sort_topk (raw orderBy/limit — top-k already
    covered by roundtrip_projection_topn / join_topcustomers /
    emb_cosine_topk)."""
    key = os.path.abspath(sf_dir) + "#cbj"
    if key not in _DECODED_CACHE:
        import shutil

        base = os.path.join(
            tempfile.gettempdir(), "tokcodec_entry_cbj",
            os.path.abspath(sf_dir).replace(os.sep, "_"))
        shutil.rmtree(base, ignore_errors=True)
        docs = _spread(_t(spark, sf_dir, "documents"))
        seq = documents_to_sequences(docs)
        meta = docs.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            "lang", F.col("n_chars").cast("long").alias("n_chars"))
        # 8 buckets kept on purpose: the per-bucket join work here is
        # small, so more buckets only add per-task fixed cost
        # (measured no win from parallelism-scaled buckets)
        write_encoded(seq, os.path.join(base, "seq"), n_buckets=8,
                      run_id="l", salt_cols=("doc_id",))
        write_encoded(meta, os.path.join(base, "meta"), n_buckets=8,
                      run_id="r", salt_cols=("doc_id",))
        _DECODED_CACHE[key] = base
    base = _DECODED_CACHE[key]
    j = join_encoded(spark, os.path.join(base, "seq"),
                     os.path.join(base, "meta"), on="doc_id")
    return j.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_tok").cast("long")).alias("sum_tok"),
        F.expr(f"sum({_TOK_SUM})").alias("tok_sum"),
        F.sum("n_chars").alias("sum_chars"),
    )


def q_string_date_funcs(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.withColumn("ym", F.date_format("o_orderdate", "yyyy-MM"))
        .withColumn("pfx", F.upper(F.substring("o_orderpriority", 1, 1)))
        .groupBy("ym", "pfx")
        .agg(F.count("*").alias("n"))
    )


def q_events_json_extract(spark, sf_dir):
    # NOT spread: the single anchored regexp per row is cheaper than
    # shuffling the 1M props strings (measured 0.40 -> 1.00 s at sf1.0)
    e = _t(spark, sf_dir, "events").select("event_type", "props")
    return (
        e.withColumn("k", F.regexp_extract("props", r'"k": (\d+)', 1).cast("long"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.max("k").alias("max_k"),
             F.count("*").alias("n"))
    )


def q_docs_text_quality(spark, sf_dir):
    """Text-quality scoring rolled into ONE pass (round 5 merges the
    former docs_lang_quality / docs_token_count / docs_stopword_quality
    — same operators, one (source, lang) result): word counting,
    length gating and stopword-ratio quality flags, all JVM array
    exprs, one shuffle on the grouping keys."""
    # one split per row (ws feeds both the word count and the stopword
    # filter) over a spread scan — same shape fix as
    # docs_repetition_stats
    d = _spread(
        _t(spark, sf_dir, "documents")
        .select("source", "lang", "n_chars", "text")
    ).withColumn("ws", F.split(F.col("text"), " "))
    return (
        d.withColumn("n_words", F.size("ws"))
        .withColumn("n_stop", F.size(F.expr(
            "filter(ws, w -> w in ('the','a','of','and','to'))")))
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("sum_chars"),
            F.sum(F.col("n_words").cast("long")).alias("sum_words"),
            F.max("n_words").alias("max_words"),
            F.sum(F.when(F.col("n_chars") > 300, 1).otherwise(0)).alias("n_long"),
            F.sum(F.col("n_stop").cast("long")).alias("sum_stop"),
            F.sum(F.when(F.col("n_stop") * 100 >= F.col("n_words") * 20, 1)
                  .otherwise(0)).alias("n_high_stop"),
        )
    )


def q_docs_repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality filter (Rae et al. 2021's
    repetition heuristics re-expressed): per doc the MOST-REPEATED
    word's count, the distinct-word count, and a 'repetitive' flag
    (top word >= 10% of all words). The per-doc histogram never
    exists: the top-word count is a single JVM fold over the SORTED
    word array (max run length), so there is NO explode and NO
    (doc, word) shuffle — at 100 TB the naive explode+groupBy ships
    one row per word occurrence, this ships one row per doc. The
    DuckDB oracle recomputes it relationally (unnest + two GROUP BYs),
    so the fold's semantics are pinned against an independent shape."""
    # split once per row (ws referenced 3x below — the baseline re-ran
    # the regex split for the fold, the word count AND the distinct
    # count), and spread the unsplittable single-file scan before the
    # sort/fold work (guide §1.2, §2.5)
    d = _spread(
        _t(spark, sf_dir, "documents").select("source", "text")
    ).select("source", F.split(F.col("text"), " ").alias("ws"))
    top_run = F.expr("""
        aggregate(sort_array(ws),
          named_struct('prev', cast(null as string),
                       'run', 0L, 'best', 0L),
          (a, x) -> named_struct(
            'prev', x,
            'run', if(a.prev <=> x, a.run + 1L, 1L),
            'best', greatest(a.best,
                             if(a.prev <=> x, a.run + 1L, 1L))),
          a -> a.best)""")
    return (
        d.withColumn("top_w", top_run)
        .withColumn("n_words", F.size("ws"))
        .withColumn("n_distinct", F.expr("size(array_distinct(ws))"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("top_w").alias("sum_top"),
            F.sum(F.col("n_distinct").cast("long")).alias("sum_distinct"),
            F.sum(F.col("n_words").cast("long")).alias("sum_words"),
            F.sum(F.when(F.col("top_w") * 10 >= F.col("n_words"), 1)
                  .otherwise(0)).alias("n_repetitive"),
        )
    )


def q_delete_roundtrip(spark, sf_dir):
    """Row-level delete (equality-delete removal list — the Iceberg
    maintenance op a training table needs for contamination/opt-out
    removal) under the hash gate: sequences encoded, every doc_id
    with id % 7 == 3 deleted via delete_encoded (keys written as a
    parquet removal list, ONE O(1) lineage commit), decoded with the
    keys removed inside the slice scan (merge-on-read, no join:
    plan-pinned in tests/test_deletes.py). The oracle recomputes the
    aggregates from the raw documents minus the same keys — a single
    surviving deleted row breaks the hash."""
    key = os.path.abspath(sf_dir) + "#del"
    if key not in _DECODED_CACHE:
        import shutil

        from tokcodec.io_tables import delete_encoded

        docs = _spread(
            spark.read.parquet(os.path.join(sf_dir, "documents.parquet")))
        seq = documents_to_sequences(docs)
        path = _entry_table_path(sf_dir) + "_del"
        shutil.rmtree(path, ignore_errors=True)
        write_encoded(seq, path, n_buckets=8, run_id="base")
        keys = seq.select("doc_id").filter(
            F.col("doc_id").cast("long") % 7 == 3)
        delete_encoded(spark, path, "doc_id", keys, delete_id="rm")
        _DECODED_CACHE[key] = read_encoded(spark, path).persist()
    dec = _DECODED_CACHE[key]
    return dec.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_tok").cast("long")).alias("sum_tok"),
        F.expr(f"sum({_TOK_SUM})").alias("tok_sum"),
    )


_LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "und", "das", "ist"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "les", "et", "des", "une"),
    "zh": ("de", "le0", "shi", "bu", "wo"),
}
_LANG_ORDER = ["en", "de", "es", "fr", "zh"]


def q_docs_langid(spark, sf_dir):
    """Language-ID by function-word profile scoring: per language a
    marker-word hit count, argmax with a fixed tie order, confusion
    counts vs the labeled lang. (The synthetic corpus shares one
    vocabulary across lang labels, so accuracy is data-limited — the
    operator shape, scoring + deterministic argmax + confusion matrix,
    is what's exercised and oracle-checked.)"""
    # one split per row shared by the five language scorers (the
    # baseline re-split the text once per language), spread scan
    d = _spread(
        _t(spark, sf_dir, "documents").select("lang", "text")
    ).withColumn("ws", F.split(F.col("text"), " "))
    for lg in _LANG_ORDER:
        marks = ",".join(f"'{m}'" for m in _LANG_MARKERS[lg])
        d = d.withColumn(
            f"s_{lg}",
            F.expr(f"size(filter(ws, w -> w in ({marks})))"),
        )
    best = "greatest(" + ",".join(f"s_{lg}" for lg in _LANG_ORDER) + ")"
    guess = "CASE "
    for lg in _LANG_ORDER:
        guess += f"WHEN s_{lg} > 0 AND s_{lg} = {best} THEN '{lg}' "
    guess += "ELSE 'unk' END"
    return (
        d.withColumn("guess", F.expr(guess))
        .groupBy("lang", "guess")
        .agg(F.count("*").alias("n"))
    )


def q_dedup_exact(spark, sf_dir):
    # NOT spread: one md5 per row is cheaper than exchanging the text
    # column (measured 0.32 -> 0.48 s at sf1.0 with the repartition)
    d = _t(spark, sf_dir, "documents").select("source", "text")
    return (
        d.withColumn("fp", F.md5("text"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("fp").alias("n_unique"),
            (F.count("*") - F.countDistinct("fp")).alias("n_dups"),
        )
    )


def q_docs_fingerprints(spark, sf_dir):
    """Document fingerprinting, both flavors in one result (merged r5
    to keep the registry inside the driver's 50-query window): the
    whole-document md5 (exact-dup key) plus a character-level rolling
    fingerprint — hash every 8-char window of the text (the
    rolling-hash shingle stream), keep the minimum under two salts — a
    2-element winnowing-style fingerprint stable under small edits
    elsewhere in the document. Pure JVM array exprs; no shuffle."""
    d = _spread(
        _t(spark, sf_dir, "documents").select("doc_id", "text").filter(
            F.col("doc_id").cast("long") % 13 == 0
        )
    )
    grams = ("transform(sequence(1, greatest(length(text) - 7, 1)), "
             "i -> substring(text, i, 8))")
    gdf = d.select(F.col("doc_id").cast("long").alias("doc_id"),
                   F.md5("text").alias("fingerprint"),
                   F.expr(grams).alias("g"))
    return gdf.select(
        "doc_id",
        "fingerprint",
        F.expr("array_min(transform(g, x -> md5(x)))").alias("fp1"),
        F.expr("array_min(transform(g, x -> md5(concat(x, '#2'))))")
        .alias("fp2"),
    )


def q_emb_cosine_topk(spark, sf_dir):
    e = _spread(_t(spark, sf_dir, "embeddings"))
    qv = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q")
    )
    dot = "aggregate(zip_with(embedding, q, (a, b) -> cast(a as double) * b), 0D, (s, x) -> s + x)"
    nrm = "sqrt(aggregate(embedding, 0D, (s, x) -> s + cast(x as double) * x))"
    qnrm = "sqrt(aggregate(q, 0D, (s, x) -> s + cast(x as double) * x))"
    return (
        e.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != 0)
        .withColumn("sim", F.expr(f"({dot}) / (({nrm}) * ({qnrm}))"))
        .orderBy(F.desc("sim"), "vec_id")
        .limit(10)
        .select("vec_id", "label")
    )


def q_emb_neardup_lsh(spark, sf_dir):
    """Embedding-cosine near-dup via BANDED sign-bit LSH: 4 bands x
    16 sign bits each (dims 1-16, 17-32, 33-48, 49-64), candidates =
    pairs sharing any band's 16-bit bucket, exact cosine verify >= 0.2
    on candidates. Round 2's single 8-bit bucket held only 256 buckets
    total (~N^2/256 pairs — quadratic at 100 TB); per-band occupancy is
    now ~N/2^16, and pair generation stays groupBy-per-bucket. Integer
    bit math keeps the DuckDB oracle expressible. (Axis-aligned sign
    bits stand in for seeded random hyperplanes so the oracle can
    recompute them; swap in a broadcast projection matrix at
    production.)"""
    e = _t(spark, sf_dir, "embeddings")
    banded = (
        e.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.explode(F.expr(
                "transform(sequence(0, 3), bd -> struct("
                "cast(bd as int) as band, "
                "aggregate(slice(embedding, bd * 16 + 1, 16), 0, "
                "(acc, x) -> acc * 2 + if(x > 0, 1, 0)) as bkt))"
            )).alias("bb"),
        )
        .select("vec_id", F.col("bb.band").alias("band"),
                F.col("bb.bkt").alias("bkt"))
    )
    # bucket cap (round-3 verdict #3): a pathological all-duplicate
    # corpus would put N vectors in one bucket — quadratic pairs AND
    # one giant array in one task. sort_array+slice keeps the first
    # LSH_BUCKET_CAP members deterministically (mirrored bit-for-bit
    # in the oracle via a row_number rank filter), bounding worst-case
    # work at CAP^2/2 pairs per bucket x n_buckets x bands.
    grp = (
        banded.groupBy("band", "bkt")
        .agg(F.slice(F.sort_array(F.collect_list("vec_id")),
                     1, LSH_BUCKET_CAP).alias("vs"))
        .filter(F.size("vs") >= 2)
    )
    pairs = (
        grp.select(
            F.explode(F.expr(
                "flatten(transform(vs, (x, i) -> "
                "transform(slice(vs, i + 2, size(vs)), "
                "y -> struct(least(x, y) as v1, greatest(x, y) as v2))))"
            )).alias("p")
        )
        .select("p.v1", "p.v2")
        .distinct()
    )
    ve = e.select(
        F.col("vec_id").cast("long").alias("vid"),
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    x = ve.alias("x")
    y = ve.alias("y")
    dot = "aggregate(zip_with(x.v, y.v, (a, b) -> a * b), 0D, (s, t) -> s + t)"
    n1 = "sqrt(aggregate(x.v, 0D, (s, t) -> s + t * t))"
    n2 = "sqrt(aggregate(y.v, 0D, (s, t) -> s + t * t))"
    return (
        pairs.join(x, F.col("v1") == F.col("x.vid"))
        .join(y, F.col("v2") == F.col("y.vid"))
        .withColumn("sim", F.expr(f"({dot}) / (({n1}) * ({n2}))"))
        .filter(F.col("sim") >= 0.2)
        .select("v1", "v2")
    )


def q_vocab_remap_roundtrip(spark, sf_dir):
    """Vocabulary surgery under the hash gate: a subset of the
    sequences table is encoded, every token id is remapped
    old -> 2*old + 1 through remap_tokens (compact_encoded's
    rewrite-time Arrow transform hook: broadcast dense numpy LUT,
    atomic tombstones+commit supersede, zone maps and codec choice
    re-derived from the NEW ids), decoded, and aggregated; the oracle
    recomputes the same aggregates from the raw documents with DuckDB
    list_transform — so a single wrong id anywhere in the rewrite
    breaks the hash. (Replaced emb_label_stats, a plain groupBy
    already covered by several other aggregate queries.)"""
    key = os.path.abspath(sf_dir) + "#remap"
    if key not in _DECODED_CACHE:
        import shutil

        from tokcodec.remap import remap_tokens

        docs = _spread(spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")))
        seq = documents_to_sequences(docs).filter(
            F.col("doc_id").cast("long") % 5 == 0)
        path = _entry_table_path(sf_dir) + "_remap"
        shutil.rmtree(path, ignore_errors=True)
        write_encoded(seq, path, n_buckets=4, run_id="pre")
        remap_tokens(spark, path, "tokens",
                     {i: 2 * i + 1 for i in range(1 << 16)})
        _DECODED_CACHE[key] = read_encoded(spark, path).persist()
    dec = _DECODED_CACHE[key]
    return dec.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum(F.expr(
            "aggregate(tokens, 0L, (a, x) -> a + x)")).alias("sum_tok"),
        F.min(F.expr("array_min(tokens)")).alias("tok_min"),
        F.max(F.expr("array_max(tokens)")).alias("tok_max"),
    )


def q_emb_quantized_roundtrip(spark, sf_dir):
    """Int8 embedding quantization — the 4x storage compression a
    training-data pipeline applies to embedding shards — THROUGH the
    engine under the hash gate: per-vector absmax scale, symmetric
    int8 codes (floor(x/s*127 + 0.5) — floor-based so Spark and DuckDB
    round identically in IEEE double), encoded (int lists ride the
    bitpack lane), decoded, and integer-only aggregates over the
    DECODED codes must match DuckDB recomputing the same quantization
    from the raw floats."""
    key = os.path.abspath(sf_dir) + "#q8"
    if key not in _DECODED_CACHE:
        import shutil

        e = _spread(_t(spark, sf_dir, "embeddings"))
        q = e.select(
            "vec_id", "label",
            F.expr(
                "transform(embedding, x -> cast(floor("
                "cast(x as double) / greatest(cast(array_max("
                "transform(embedding, v -> abs(v))) as double), 1e-30)"
                " * 127.0 + 0.5) as int))"
            ).alias("codes"),
        )
        path = os.path.join(
            tempfile.gettempdir(), "tokcodec_entry_q8",
            os.path.abspath(sf_dir).replace(os.sep, "_"),
        )
        shutil.rmtree(path, ignore_errors=True)
        write_encoded(q, path, n_buckets=4, run_id="q8")
        _DECODED_CACHE[key] = path
    dec = read_encoded(spark, _DECODED_CACHE[key])
    return (
        dec.groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.expr(
                "aggregate(codes, 0L, (a, c) -> a + c)")).alias("sum_q"),
            F.sum(F.expr(
                "aggregate(codes, 0L, (a, c) -> a + cast(c as bigint) * c)"
            )).alias("sumsq_q"),
            F.min(F.expr("array_min(codes)")).alias("min_q"),
            F.max(F.expr("array_max(codes)")).alias("max_q"),
        )
    )


def q_roundtrip_embeddings_topk(spark, sf_dir):
    """float-array round-trip under a real workload: encode the
    embeddings table through the engine, decode, brute-force cosine
    top-k over the DECODED vectors. Bit-identical floats <=> identical
    ranking vs the oracle over the raw table."""
    from tokcodec.io_tables import read_encoded, write_encoded

    key = os.path.abspath(sf_dir) + "#emb"
    if key not in _DECODED_CACHE:
        e = _t(spark, sf_dir, "embeddings")
        path = os.path.join(
            tempfile.gettempdir(), "tokcodec_entry_emb",
            os.path.abspath(sf_dir).replace(os.sep, "_"),
        )
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        write_encoded(e, path, n_buckets=4, run_id="emb")
        _DECODED_CACHE[key] = read_encoded(spark, path).persist()
    e = _DECODED_CACHE[key]
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    dot = "aggregate(zip_with(embedding, q, (a, b) -> cast(a as double) * b), 0D, (s, x) -> s + x)"
    nrm = "sqrt(aggregate(embedding, 0D, (s, x) -> s + cast(x as double) * x))"
    qnrm = "sqrt(aggregate(q, 0D, (s, x) -> s + cast(x as double) * x))"
    return (
        e.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != 0)
        .withColumn("sim", F.expr(f"({dot}) / (({nrm}) * ({qnrm}))"))
        .orderBy(F.desc("sim"), "vec_id")
        .limit(15)
        .select("vec_id", "label")
    )


def q_cube_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.withColumn("yr", F.year("o_orderdate"))
        .cube("o_orderpriority", "yr")
        .agg(F.count("*").alias("n"),
             F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    )


def q_pack_sequences(spark, sf_dir):
    """Training-data sequence packing (concat-and-chunk, the GPT-style
    pre-training layout), routed THROUGH the real packer
    (tokcodec.pack.pack_sequences — applyInArrow, numpy concat+reshape,
    no per-row Python): ENGINE-DECODED documents are laid end-to-end in
    doc_id order per source and cut into L=512-token context windows.
    The oracle recomputes the packer's aggregate bookkeeping — total
    tokens, window count, boundary straddlers, final-window padding,
    max docs beginning in one window, and the token-VALUE checksum of
    the packed windows (pad_id=0 contributes nothing) — from raw SQL,
    so a packer that drops, reorders into the wrong window, or corrupts
    a single token value breaks the hash. At 100 TB each
    (source, shard) packs independently (n_shards bounds task memory);
    sf0.01 uses one shard per source."""
    from tokcodec.pack import pack_sequences

    dec = _decoded_sequences(spark, sf_dir)
    L = 512
    packed = pack_sequences(
        dec.select(
            "source", F.col("doc_id").cast("long").alias("did"), "tokens"
        ),
        window=L,
        group_cols=("source",),
        id_col="did",
    )
    return packed.groupBy("source").agg(
        F.sum(F.col("n_tok_real").cast("long")).alias("total_tok"),
        F.count("*").alias("n_windows"),
        F.sum(F.col("straddlers").cast("long")).alias("n_straddlers"),
        (F.count("*") * L - F.sum(F.col("n_tok_real").cast("long")))
        .alias("pad_last"),
        F.max("docs_begin").alias("max_docs_begin"),
        F.sum("tok_sum").alias("tok_value_sum"),
    )


def q_vocab_topk(spark, sf_dir):
    """Token-vocabulary frequency over the ENGINE-DECODED token arrays:
    explode -> count per token id -> top-25 by count (token-id asc
    tiebreak) with each token's corpus share in ppm. Map-side partial
    aggregation absorbs the explode; the final top-k is a single
    per-partition top-25 + driver merge (TakeOrderedAndProject), so at
    100 TB nothing but 25-row partial results cross the wire after the
    token-count shuffle."""
    dec = _decoded_sequences(spark, sf_dir)
    t = dec.select(F.explode("tokens").alias("tok"))
    cnt = t.groupBy("tok").agg(F.count("*").alias("cnt"))
    tot = dec.agg(F.sum(F.col("n_tok").cast("long")).alias("tot"))
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            F.col("tok").cast("int").alias("tok"),
            "cnt",
            F.expr("cnt * 1000000L div tot").alias("ppm"),
        )
        .orderBy(F.desc("cnt"), F.asc("tok"))
        .limit(25)
    )


def q_stream_windowed_counts(spark, sf_dir):
    """Streaming windowed aggregation (SURVEY §2.2 streaming): events
    replayed through Structured Streaming, 1-hour tumbling event-time
    windows with a 1-hour watermark, complete-mode memory sink — the
    state-store path a live ingest pipeline exercises, under the hash
    gate against a batch recompute. Complete mode emits every window so
    the oracle parity is exact; append-mode late-row DROP semantics are
    deterministic only across >=2 micro-batches and are pinned in
    tests/test_streaming_window.py instead."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = os.path.abspath(sf_dir) + "#streamwin"
    # memory-sink name must be per-sf_dir and the result materialized
    # EAGERLY: a later call for another sf_dir replaces the temp view,
    # and a lazily-persisted plan would resolve the name to the wrong
    # stream's output
    import re as _re

    qname = "tokcodec_stream_win_" + _re.sub(r"\W", "_", key)
    if key not in _DECODED_CACHE:
        sch = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
        src = (
            spark.readStream.schema(sch)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
        # the parquet column is TIMESTAMP_NTZ; event-time watermarks
        # require TIMESTAMP — with the session TZ pinned to UTC the
        # cast is wall-clock-identical to the oracle's naive ts
        src = src.withColumn("ts", F.col("ts").cast("timestamp"))
        agg = (
            src.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("long"))
                .alias("val_cents"),
            )
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = (
            spark.table(qname)
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:00").alias("hour"),
                "event_type",
                "n",
                "val_cents",
            )
            .persist()
        )
        out.count()  # materialize before the view can be replaced
        _DECODED_CACHE[key] = out
    return _DECODED_CACHE[key]


def q_range_join_events(spark, sf_dir):
    """Range (non-equi) join: each error event matched to signups by
    the same user within the following hour."""
    e = _t(spark, sf_dir, "events")
    err = e.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("u"), F.col("ts").alias("t0")
    )
    sig = e.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("t1")
    )
    return (
        err.join(
            sig,
            (F.col("u") == F.col("user_id"))
            & (F.col("t1") > F.col("t0"))
            & (F.col("t1") <= F.col("t0") + F.expr("interval 1 hour")),
        )
        .groupBy("u")
        .agg(F.count("*").alias("n_pairs"))
    )


def q_asof_join_events(spark, sf_dir):
    """As-of join: each (user, error-time) matched to the MOST RECENT
    signup of the same user at or before that time. Spark lacks a
    native as-of join; composed as an equi+range join with a
    row_number window pick (the standard Spark realization). The
    oracle uses DuckDB's native ASOF JOIN — agreeing outputs prove the
    composition implements as-of semantics."""
    e = _t(spark, sf_dir, "events")
    # union-and-carry-forward: ONE shuffle on user_id, linear per
    # partition — never materializes the (error x all prior signups)
    # pairs a range join would (the shape that survives 100 TB).
    # pri orders a signup before an error at the same instant,
    # matching as-of's t1 <= t0.
    sig = e.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.lit(0).alias("pri")
    )
    err = e.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.lit(1).alias("pri")
    )
    w = (
        Window.partitionBy("user_id").orderBy("ts", "pri")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = sig.unionByName(err).withColumn(
        "t1",
        F.last(F.when(F.col("pri") == 0, F.col("ts")), ignorenulls=True)
        .over(w),
    )
    return (
        carried.filter(
            (F.col("pri") == 1) & F.col("t1").isNotNull()
            & (F.col("user_id") % 5 == 0)
        )
        .select(
            F.col("user_id").alias("u"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("t0s"),
            F.date_format("t1", "yyyy-MM-dd HH:mm:ss").alias("t1s"),
            # microsecond-exact: unix_timestamp floors EACH operand,
            # which disagrees with a truncated fractional difference.
            # (events ts is TIMESTAMP_NTZ; session TZ is pinned UTC so
            # the cast is the identity instant)
            (F.unix_micros(F.col("ts").cast("timestamp"))
             - F.unix_micros(F.col("t1").cast("timestamp"))).alias("lag_us"),
        )
        .distinct()
    )


def q_docs_ngram_overlap(spark, sf_dir):
    """n-gram Jaccard near-dup scoring between adjacent doc pairs
    (integer counts — hash-stable across engines)."""
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr("array_distinct(split(text, ' '))").alias("ws"),
    )
    a = d.alias("a")
    b = d.alias("b")
    return (
        a.join(b, F.col("a.doc_id") + 1 == F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.size(F.expr("array_intersect(a.ws, b.ws)")).alias("n_common"),
            F.size(F.expr("array_union(a.ws, b.ws)")).alias("n_union"),
        )
        .filter(F.col("doc_id") % 7 == 0)
    )


# ------------------------------------------- non-SQL (rows-only) queries
def q_media_feature_stats(spark, sf_dir):
    """Multimodal, REAL decode under the oracle (round-3 verdict #5):
    documents.doc_id -> real-format payloads (binary PPM / RIFF-WAV /
    framed-RGB video) -> ENGINE round-trip (binary + struct codecs) ->
    genuine header parse + pixel/sample summation -> integer per-kind
    stats. The byte patterns are chosen so the decoded sums have
    closed forms (see multimodal.py), which is what the DuckDB oracle
    recomputes — a bit error anywhere in the binary round-trip or the
    container parsing breaks the hash match."""
    import shutil

    from tokcodec.multimodal import decode_media, synth_media_real

    key = f"media::{sf_dir}"
    if key not in _DECODED_CACHE:
        media = synth_media_real(_spread(_t(spark, sf_dir, "documents")))
        path = os.path.join(
            tempfile.gettempdir(),
            "tokcodec_media_" + os.path.abspath(sf_dir).replace(os.sep, "_"))
        shutil.rmtree(path, ignore_errors=True)
        write_encoded(media, path, run_id="media", n_buckets=max(
            4, spark.sparkContext.defaultParallelism))
        _DECODED_CACHE[key] = read_encoded(spark, path).persist()
    feats = decode_media(_DECODED_CACHE[key])
    return feats.groupBy("kind").agg(
        F.count("*").alias("n"),
        F.sum("value_sum").alias("px_sum"),
        F.sum("units").alias("unit_n"),
        F.sum("width").cast("long").alias("w_sum"),
        F.sum("height").cast("long").alias("h_sum"),
    )



def _minhash_pairs(spark, sf_dir):
    """MinHash+LSH near-duplicate CANDIDATE PAIRS (d1 < d2, distinct)
    over documents — the shared pair generator behind
    q_minhash_neardup_pairs and q_dedup_clusters. 3-word shingles ->
    16 md5-based minhashes -> 4 bands -> bucket join; the whole
    signature is computed PER ROW with JVM array expressions — no
    explode, no shuffle of shingles. md5 (identical hex in DuckDB)
    makes the signature oracle-checkable."""
    d = _spread(
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    )
    # split ONCE per row, outside the lambda: a higher-order-function
    # lambda body is re-evaluated per element, so slice(split(text), i,
    # 3) re-ran the regex split once PER SHINGLE — O(words^2) per
    # document (guide §1.2: fix the per-task work). `ws` is referenced
    # twice below, which blocks projection collapse, so the split runs
    # once per row.
    ws = (
        d.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
        .filter(F.size("ws") >= 3)
    )
    # Indexed concat instead of concat_ws(' ', slice(ws, i, 3)): the
    # slice form allocates a 3-element array per shingle inside the
    # interpreted lambda and measured 0.93 s at sf1.0 — the dominant
    # cost of this query after the other round-6 fixes. ws[i] access
    # is 0-based, so sequence(0, size-3) makes shingle i = words
    # i, i+1, i+2 — byte-identical strings to the slice form (split
    # never yields null words, so concat == concat_ws here).
    sh = (
        "transform(sequence(0, size(ws) - 3),"
        " i -> concat(ws[i], ' ', ws[i + 1], ' ', ws[i + 2]))"
    )
    shdf = ws.select("doc_id", F.expr(sh).alias("sh"))
    # ONE md5 per shingle: 60 bits of the digest become the base hash
    # b; the 16 minhash functions are affine combos of b's two halves
    # (Carter-Wegman style). b is referenced 16x below, which blocks
    # projection collapse, so the md5 pass runs once — round 2's first
    # cut ran 16 md5s per shingle and was 2x SLOWER than the exploded
    # round-1 plan.
    bdf = shdf.select(
        "doc_id",
        F.expr(
            "transform(sh, s -> cast(conv(substring(md5(s), 1, 15), 16, 10)"
            " as bigint))"
        ).alias("b"),
    )
    # the 16 per-row minima as ONE vectorized numpy sweep over whole
    # Arrow batches (16 interpreted higher-order-function passes cost
    # ~3 s at sf0.1; this fold is ~50 ms). Same int64 math as the
    # DuckDB oracle: min_i = min over shingles of
    # (b % 2^30 + i * (2 * (b div 2^30) + 1)) % (2^31 - 1).
    def fold(batches):
        import numpy as np
        import pyarrow as pa

        P = 2147483647
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            barr = tbl.column("b").combine_chunks()
            flat = barr.flatten().to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            lens = pa.compute.list_value_length(barr).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            starts = np.concatenate([[0], np.cumsum(lens)])[:-1]
            lo = flat % 1073741824
            hi = 2 * (flat // 1073741824) + 1
            out = np.full((len(lens), 16), P, dtype=np.int64)
            if len(flat):
                idx = np.minimum(starts, len(flat) - 1)
                for i in range(16):
                    out[:, i] = np.minimum.reduceat((lo + i * hi) % P, idx)
                out[lens == 0] = P  # no empty rows (filtered >= 3 words)
            yield pa.RecordBatch.from_arrays(
                [tbl.column("doc_id").combine_chunks()]
                + [pa.array(out[:, i]) for i in range(16)],
                names=["doc_id"] + [f"h{i}" for i in range(16)],
            )

    sig = bdf.mapInArrow(
        fold, "doc_id long, " + ", ".join(f"h{i} long" for i in range(16))
    )
    # the 4 band buckets come out of ONE projection as an exploded
    # array — a union of 4 band branches physically re-scans and
    # re-hashes the documents once per branch (8 full pipelines with
    # the self-join; this shape runs 2)
    harr = ", ".join(f"cast(h{i} as string)" for i in range(16))
    banded = (
        sig.select(
            "doc_id",
            F.explode(F.expr(
                "transform(sequence(0, 3), bd -> struct("
                "cast(bd as int) as band, "
                f"md5(concat_ws('-', slice(array({harr}), bd * 4 + 1, 4)))"
                " as bucket))"
            )).alias("bb"),
        )
        .select("doc_id", F.col("bb.band").alias("band"),
                F.col("bb.bucket").alias("bucket"))
    )
    # pair generation per bucket via groupBy + in-bucket combinations:
    # a self-join would compute the whole signature pipeline once per
    # side. Bucket membership lists are tiny (LSH spreads docs across
    # 2^128 buckets); a pathological all-duplicates bucket is quadratic
    # in any LSH pair enumeration.
    # bucket cap (round-3 verdict #3): bounds a pathological
    # all-duplicates bucket to CAP^2/2 pairs and a CAP-sized array per
    # task; deterministic (first CAP doc_ids in sort order) and
    # mirrored in the oracle with a row_number rank filter
    grp = (
        banded.groupBy("band", "bucket")
        .agg(F.slice(F.sort_array(F.collect_list("doc_id")),
                     1, LSH_BUCKET_CAP).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    pairs = (
        grp.select(
            F.explode(F.expr(
                "flatten(transform(ds, (x, i) -> "
                "transform(slice(ds, i + 2, size(ds)), "
                "y -> struct(least(x, y) as d1, greatest(x, y) as d2))))"
            )).alias("p")
        )
        .select("p.d1", "p.d2")
        .distinct()
    )
    return pairs


def q_minhash_neardup_pairs(spark, sf_dir):
    """Candidate-pair statistics over the MinHash+LSH generator (see
    _minhash_pairs for the pipeline and its 100 TB shape)."""
    return _minhash_pairs(spark, sf_dir).agg(
        F.count("*").alias("n_candidate_pairs"),
        F.countDistinct("d1").alias("nd1"),
        F.countDistinct("d2").alias("nd2"),
    )


# Label-propagation iterations for near-dup clustering. Both the Spark
# query and the DuckDB oracle run EXACTLY this many rounds, so the
# hash match never depends on convergence — but the LSH pair graph is
# a union of in-bucket cliques (every bucket emits all its pairs), so
# component diameters are tiny and 5 rounds converge at tested scales
# (test_dedup_clusters asserts a 6th round changes nothing). At 100 TB
# swap the fixed loop for tokcodec.graph.connected_components — the
# large-star/small-star algorithm (Kiveris et al., SOCC 2014) with
# fixpoint detection and per-round localCheckpoint, verified against
# union-find in tests/test_graph.py (incl. a 64-node chain no fixed
# 5-round loop could finish).
DEDUP_CC_ROUNDS = 5

# one label-propagation round per CTE, mirroring the Spark loop:
# l_{k+1}(v) = min(l_k(v), min over neighbors u of l_k(u))
_CC_STEP_CTES = "".join(
    f""", l{k + 1} AS (
  SELECT n.doc_id,
         LEAST(n.label, COALESCE(MIN(l.label), n.label)) AS label
  FROM l{k} n
  LEFT JOIN e ON e.src = n.doc_id
  LEFT JOIN l{k} l ON l.doc_id = e.dst
  GROUP BY n.doc_id, n.label
)""" for k in range(DEDUP_CC_ROUNDS))


_DEDUP_LABELS_CACHE: dict[tuple, DataFrame] = {}


def _dedup_labels(spark, sf_dir):
    """(doc_id, label) after DEDUP_CC_ROUNDS rounds of min-label
    propagation over the LSH candidate-pair graph; label = the
    cluster's canonical (minimum) doc_id.

    Iteration hygiene (r4 verdict #3): each round references the
    previous labels twice (union + join), so without truncation the
    logical plan doubles per round (~2^ROUNDS subtrees) and the edge
    pipeline — whose lineage is the whole MinHash signature job —
    re-enters the plan every round. Here `edges` is persisted (the
    pair generator runs ONCE) and every round's labels are eagerly
    localCheckpoint-ed, so round k+1's plan is one join+groupBy over
    two materialized scans, constant-size regardless of round count.
    On a multi-executor cluster swap localCheckpoint for a reliable
    checkpoint dir (localCheckpoint blocks are executor-local and
    non-replicated). The final labels are checkpointed too, so both
    consumers (q_dedup_clusters, q_pipeline_keep_set) reuse the
    materialized result instead of re-running the propagation."""
    key = (sf_dir, DEDUP_CC_ROUNDS)
    if key in _DEDUP_LABELS_CACHE:
        return _DEDUP_LABELS_CACHE[key]
    pairs = _minhash_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("d1").alias("src"), F.col("d2").alias("dst")
    ).unionByName(pairs.select(F.col("d2").alias("src"),
                               F.col("d1").alias("dst"))).persist()
    labels = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("doc_id"))
        .withColumn("label", F.col("doc_id"))
    )
    for _ in range(DEDUP_CC_ROUNDS):
        nb = (
            edges.join(
                labels.select(F.col("doc_id").alias("dst"), "label"),
                "dst")
            .select(F.col("src").alias("doc_id"), "label")
        )
        labels = (
            labels.unionByName(nb)
            .groupBy("doc_id").agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
    edges.unpersist()
    _DEDUP_LABELS_CACHE[key] = labels
    return labels


def q_dedup_clusters(spark, sf_dir):
    """Transitive near-duplicate CLUSTERS — the step a real dedup
    pipeline runs after LSH pair generation: connected components over
    the candidate-pair graph via min-label propagation
    (label(v) <- min(label(v), min of neighbors' labels), repeated
    DEDUP_CC_ROUNDS times), then a one-row summary: every document
    keeps its cluster's minimum doc_id as the canonical
    representative; n_docs - n_clusters documents are droppable
    duplicates."""
    clusters = _dedup_labels(spark, sf_dir).groupBy("label").agg(
        F.count("*").alias("csize"))
    return clusters.agg(
        F.sum("csize").alias("n_docs"),
        F.count("*").alias("n_clusters"),
        F.sum(F.col("csize") - 1).alias("n_dupes_droppable"),
        F.max("csize").alias("max_cluster"),
        F.sum("label").alias("rep_id_sum"),
    )


def q_pipeline_keep_set(spark, sf_dir):
    """END-TO-END training-data curation — the composed pipeline a
    reference user actually runs over a crawl: near-dup clustering
    (LSH pairs -> canonical representative per cluster) THEN a quality
    gate (length + word count + stopword-ratio language-ish check) on
    the surviving representatives. Per lang: how many docs enter, how
    many drop as duplicates, how many reps fail quality, how many
    (and how many chars) make the training set. Every stage is the
    same oracle-checked machinery the standalone queries use."""
    d = _spread(_t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text", "lang", F.col("n_chars").cast("long").alias("n_chars"))
    ).withColumn("ws", F.split(F.col("text"), " "))
    labeled = d.join(_dedup_labels(spark, sf_dir), "doc_id")
    words = F.size("ws")
    stop = F.size(F.expr(
        "filter(ws, w -> w in ('the','a','of','and','to'))"
    ))
    quality = ((F.col("n_chars") >= 100) & (words >= 10)
               & (stop * 100 >= words * 2))
    cls = (F.when(F.col("doc_id") != F.col("label"), "dup")
           .when(~quality, "low_quality").otherwise("keep"))
    return (
        labeled.withColumn("cls", cls)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("cls") == "dup", 1).otherwise(0)
                  ).alias("n_dup_dropped"),
            F.sum(F.when(F.col("cls") == "low_quality", 1).otherwise(0)
                  ).alias("n_quality_dropped"),
            F.sum(F.when(F.col("cls") == "keep", 1).otherwise(0)
                  ).alias("n_kept"),
            F.sum(F.when(F.col("cls") == "keep",
                         F.col("n_chars")).otherwise(0)
                  ).alias("kept_chars"),
        )
    )


def q_simhash_hamming_hist(spark, sf_dir):
    """60-bit SimHash per document; histogram of hamming weight.
    Round 2 hashed words with xxhash64 (rows-only — DuckDB can't
    recompute it); the word hash is now the md5-derived 60-bit value
    minhash already uses, so the whole signature is oracle-checkable
    (round-2 verdict #5)."""
    d = _spread(
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    ).select(
        "doc_id",
        F.expr(
            "transform(split(text, ' '), "
            "w -> cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint))"
        ).alias("hs"),
    )
    # word hashes JVM-side; the 60-bit majority vote is a vectorized
    # numpy fold over whole Arrow batches (no explode, no shuffle,
    # no per-row Python)
    def fold(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            hs = tbl.column("hs").combine_chunks()
            flat = hs.flatten().to_numpy(zero_copy_only=False).view(np.uint64)
            lens = pa.compute.list_value_length(hs).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            offs = np.concatenate([[0], np.cumsum(lens)])
            shifts = np.arange(60, dtype=np.uint64)
            bits = ((flat[:, None] >> shifts) & np.uint64(1)).astype(np.int32)
            if len(flat):
                # reduceat needs indices < len; empty rows are zeroed after
                idx = np.minimum(offs[:-1], len(flat) - 1)
                votes = np.add.reduceat(bits * 2 - 1, idx)
            else:
                votes = np.zeros((len(lens), 60), dtype=np.int32)
            votes[lens == 0] = 0
            sim = ((votes > 0).astype(np.uint64) << shifts).sum(
                axis=1, dtype=np.uint64
            )
            yield pa.RecordBatch.from_arrays(
                [tbl.column("doc_id").combine_chunks(),
                 pa.array(sim.view(np.int64))],
                names=["doc_id", "simhash"],
            )

    sig = d.mapInArrow(fold, "doc_id long, simhash long")
    return (
        sig.withColumn("weight", F.bit_count("simhash"))
        .groupBy("weight")
        .agg(F.count("*").alias("n"))
        .orderBy("weight")
    )


_IVF_CACHE: dict[str, str] = {}

# coarse-quantizer cell: 3-bit sign code of the first three dims —
# deterministic and SQL-expressible, so the DuckDB oracle can recompute
# both the cells and the probe set. (The round-2 Lloyd/k-means
# quantizer could not be oracled, and these synthetic embeddings are
# isotropic noise — measured within-label cos ~= cross-label ~= 0 — so
# NO quantizer achieves exact top-10 recall with real pruning; the
# honest gate is "exact top-k WITHIN the probed cells", which pins the
# engine mechanics: cell assignment at encode, cluster_by zone maps,
# in_filter chunk skipping, bit-exact float decode, ranking. On real
# clustered data swap in k-means centroids broadcast to executors —
# the engine path is identical.)
_IVF_CELL = ("aggregate(slice(embedding, 1, 3), 0, "
             "(acc, x) -> acc * 2 + if(x > 0, 1, 0))")


def _ivf_table(spark, sf_dir) -> str:
    """Encode-time IVF: assign each vector a cell with JVM expressions
    and ENCODE with cluster_by='cell' so per-chunk zone maps are tight
    on the cell id. Probing then skips whole chunks (the 100 TB shape:
    the index cost is paid once at write time, queries read only
    probed cells' blocks). Returns the encoded path."""
    key = os.path.abspath(sf_dir)
    if key in _IVF_CACHE:
        return _IVF_CACHE[key]
    e = _t(spark, sf_dir, "embeddings")
    e2 = e.withColumn("cell", F.expr(_IVF_CELL).cast("int"))
    path = os.path.join(
        tempfile.gettempdir(), "tokcodec_entry_ivf", key.replace(os.sep, "_")
    )
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    # small chunks so zone pruning is visible at sandbox scale; at
    # 100 TB chunk counts are naturally high
    write_encoded(e2, path, n_buckets=4, run_id="ivf", cluster_by="cell",
                  chunk_max_rows=32)
    _IVF_CACHE[key] = path
    return path


def _ivf_probe_cells(qv_np):
    """The query's own cell plus its three hamming-1 neighbours —
    4 of 8 cells, a real ~50% prune."""
    qcell = 0
    for x in qv_np[:3]:
        qcell = qcell * 2 + (1 if x > 0 else 0)
    return [qcell, qcell ^ 4, qcell ^ 2, qcell ^ 1]


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN probe: decode ONLY the chunks whose cell zone overlaps
    the 4 cells nearest the query (in_filter chunk skipping over the
    cell-clustered encoded table), exact cosine within the survivors.
    Oracled (round-2 verdict #4) against exact brute-force top-10
    WITHIN the probed cells, with the probe set recomputed by the
    oracle from the query vector — any pruning false-negative, cell
    mis-assignment, or float decode slip breaks the hash. (Exact
    GLOBAL recall is impossible on these isotropic synthetic vectors —
    see _IVF_CELL.)"""
    import numpy as np

    path = _ivf_table(spark, sf_dir)
    qv_np = np.array(
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0).select("embedding").collect()[0][0],
        dtype=np.float64,
    )
    probe_cells = _ivf_probe_cells(qv_np)
    probed = read_encoded(spark, path, in_filter=("cell", probe_cells))
    q = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select(F.col("embedding").alias("qv"))
    )
    dot = "aggregate(zip_with(embedding, qv, (a, b) -> cast(a as double) * b), 0D, (s, x) -> s + x)"
    nrm = "sqrt(aggregate(embedding, 0D, (s, x) -> s + cast(x as double) * x))"
    qnrm = "sqrt(aggregate(qv, 0D, (s, x) -> s + cast(x as double) * x))"
    return (
        probed.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != 0)
        .withColumn("sim", F.expr(f"({dot}) / (({nrm}) * ({qnrm}))"))
        .orderBy(F.desc("sim"), "vec_id")
        .limit(10)
        .select("vec_id", "label")
    )


_VARIANT_CACHE: dict[str, str] = {}


def q_roundtrip_variant_extract(spark, sf_dir):
    """Reference VariantWriter.java:34-42 analogue, driver-oracled:
    events.props parsed to a native VariantType column, encoded
    (variant = surrogate struct<value,metadata>; the uniform JSON
    shape makes the metadata component collapse under the dict codec),
    decoded, then typed variant_get extraction over the DECODED
    variant must hash-match DuckDB's json_extract over the raw
    strings."""
    key = os.path.abspath(sf_dir)
    if key not in _VARIANT_CACHE:
        e = _spread(
            _t(spark, sf_dir, "events")
            .select("event_id", "event_type", "props")
        ).select(
            "event_id", "event_type",
            F.parse_json("props").alias("v"),
        )
        enc = os.path.join(
            tempfile.gettempdir(), "tokcodec_variant",
            key.replace(os.sep, "_"),
        )
        import shutil

        shutil.rmtree(enc, ignore_errors=True)
        # bucket count follows the session's parallelism (min 8): the
        # timed read decodes one bucket per task, so 8 buckets used
        # only a quarter of a 32-core session (guide §2: partitioning
        # must scale with the resources, not a constant)
        write_encoded(e, enc, n_buckets=max(
            8, spark.sparkContext.defaultParallelism), run_id="variant")
        _VARIANT_CACHE[key] = enc
    dec = read_encoded(spark, _VARIANT_CACHE[key])
    return (
        dec.withColumn("k", F.expr("variant_get(v, '$.k', 'long')"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.count("*").alias("n"),
            F.sum(F.length(F.expr("to_json(v)"))).alias("json_chars"),
        )
    )


_COMPACTED_CACHE: dict[str, str] = {}


def q_compaction_roundtrip(spark, sf_dir):
    """Maintenance (Iceberg rewrite_data_files analogue) under the
    oracle: two streaming-style epoch appends, then compact_encoded
    rewrites them into ONE run (tombstones + commits in a single
    atomic lineage append) and vacuum deletes the superseded files —
    and the aggregate over the compacted table must still hash-match
    DuckDB over the raw parquet."""
    from tokcodec.io_tables import compact_encoded, vacuum_encoded

    key = os.path.abspath(sf_dir)
    if key not in _COMPACTED_CACHE:
        import shutil

        docs = _t(spark, sf_dir, "documents").select(
            "doc_id", "source", "lang", "n_chars")
        enc = os.path.join(
            tempfile.gettempdir(), "tokcodec_compacted",
            key.replace(os.sep, "_"),
        )
        shutil.rmtree(enc, ignore_errors=True)
        half = docs.filter(F.col("doc_id").cast("bigint") % 2 == 0)
        rest = docs.filter(F.col("doc_id").cast("bigint") % 2 != 0)
        write_encoded(half, enc, n_buckets=4, run_id="c0", epoch=0)
        write_encoded(rest, enc, n_buckets=4, run_id="c1", epoch=1,
                      resume=True)
        compact_encoded(spark, enc, run_id="compacted")
        vacuum_encoded(spark, enc)
        _COMPACTED_CACHE[key] = enc
    dec = read_encoded(spark, _COMPACTED_CACHE[key])
    return (
        dec.groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("first_doc"),
        )
    )


_EVOLVED_CACHE: dict[str, str] = {}


def q_evolution_union_read(spark, sf_dir):
    """Iceberg-style schema evolution under the oracle: epoch 0
    ingests half the documents WITHOUT the lang column, epoch 1 adds
    it (write_encoded(schema_evolution=True)); the union read must
    surface epoch-0 rows with NULL lang — which DuckDB reproduces
    with a CASE over the same doc_id split."""
    key = os.path.abspath(sf_dir)
    if key not in _EVOLVED_CACHE:
        docs = _t(spark, sf_dir, "documents")
        # deterministic portable split: even ids ingested pre-evolution
        old = docs.filter(F.col("doc_id").cast("bigint") % 2 == 0) \
            .select("doc_id", "source", "n_chars")
        new = docs.filter(F.col("doc_id").cast("bigint") % 2 != 0) \
            .select("doc_id", "source", "n_chars", "lang")
        enc = os.path.join(
            tempfile.gettempdir(), "tokcodec_evolved",
            key.replace(os.sep, "_"),
        )
        import shutil

        shutil.rmtree(enc, ignore_errors=True)
        write_encoded(old, enc, n_buckets=8, run_id="e0", epoch=0)
        write_encoded(new, enc, n_buckets=8, run_id="e1", epoch=1,
                      resume=True, schema_evolution=True)
        _EVOLVED_CACHE[key] = enc
    dec = read_encoded(spark, _EVOLVED_CACHE[key])
    return (
        dec.groupBy(F.coalesce("lang", F.lit("__pre_evolution__"))
                    .alias("lang_or_missing"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("first_doc"),
        )
    )


_JDBC_CACHE: dict[str, str] = {}


def q_jdbc_ingest_roundtrip(spark, sf_dir):
    """Reference S3-S5 end-to-end, driver-oracled: nation rows go INTO
    a real embedded Derby database over JDBC, come back out through
    ``ingest_jdbc`` (range-partitioned, Spark's dialect type mapping =
    reference DynamicJdbcExporter.java:442-501), round-trip through the
    engine's encode/decode, and the aggregate over the DECODED table
    must hash-match DuckDB's aggregate over the original parquet."""
    from tokcodec.sources import ingest_jdbc

    key = os.path.abspath(sf_dir)
    if key not in _JDBC_CACHE:
        db = os.path.join(
            tempfile.gettempdir(), "tokcodec_derby",
            key.replace(os.sep, "_"), "db",
        )
        import shutil

        shutil.rmtree(os.path.dirname(db), ignore_errors=True)
        url = f"jdbc:derby:{db};create=true"
        nation = _t(spark, sf_dir, "nation")
        (
            nation.write.format("jdbc")
            .option("url", url)
            .option("dbtable", "nation_jdbc")
            .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
            .mode("overwrite")
            .save()
        )
        got = ingest_jdbc(
            spark, url, "SELECT * FROM nation_jdbc",
            properties={"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
            partition_column="n_nationkey", num_partitions=4,
            lower_bound=0, upper_bound=25,
        )
        enc = os.path.join(os.path.dirname(db), "enc")
        write_encoded(got, enc, n_buckets=4, run_id="jdbc")
        _JDBC_CACHE[key] = enc
    dec = read_encoded(spark, _JDBC_CACHE[key])
    return (
        dec.groupBy("n_regionkey")
        .agg(
            F.count("*").alias("n_nations"),
            F.sum("n_nationkey").alias("key_sum"),
            F.min("n_name").alias("first_name"),
            F.sum(F.length("n_name")).alias("name_chars"),
        )
        .orderBy("n_regionkey")
    )


def q_encode_lineage_metrics(spark, sf_dir):
    """Engine observability: per-codec selection frequencies + overall
    ratio from the lineage table (reference C5/C6 analogue)."""
    _decoded_sequences(spark, sf_dir)  # ensure encoded table exists
    lin = spark.read.parquet(
        os.path.join(_entry_table_path(sf_dir), "lineage")
    )
    return lin.agg(
        F.count("*").alias("n_buckets"),
        F.sum("n_rows").alias("rows"),
        F.sum("orig_bytes").alias("orig_bytes"),
        F.sum("enc_bytes").alias("enc_bytes"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "roundtrip_source_agg": q_roundtrip_source_agg,
        "contains_token_scan": q_contains_token_scan,
        "roundtrip_projection_topn": q_roundtrip_projection_topn,
        "roundtrip_tokens_exact": q_roundtrip_tokens_exact,
        "roundtrip_point_lookup": q_roundtrip_point_lookup,
        "roundtrip_docid_range": q_roundtrip_docid_range,
        "metadata_rowcount": q_metadata_rowcount,
        "stream_ingest_roundtrip": q_stream_ingest_roundtrip,
        "roundtrip_lineitem_pricing": q_roundtrip_lineitem_pricing,
        "roundtrip_lineitem_daterange": q_roundtrip_lineitem_daterange,
        "roundtrip_events_hourly": q_roundtrip_events_hourly,
        "roundtrip_join_revenue": q_roundtrip_join_revenue,
        "media_feature_stats": q_media_feature_stats,
        "compaction_roundtrip": q_compaction_roundtrip,
        "join_topcustomers": q_join_topcustomers,
        "semi_anti_join": q_semi_anti_join,
        "window_top_order": q_window_top_order,
        "events_daily_pushdown": q_events_daily_pushdown,
        "setops_except_intersect": q_setops_except_intersect,
        "cobucket_join_stats": q_cobucket_join_stats,
        "string_date_funcs": q_string_date_funcs,
        "roundtrip_time_of_day": q_roundtrip_time_of_day,
        "zorder_user_time_slab": q_zorder_user_time_slab,
        "events_json_extract": q_events_json_extract,
        "docs_text_quality": q_docs_text_quality,
        "delete_roundtrip": q_delete_roundtrip,
        "docs_langid": q_docs_langid,
        "dedup_exact": q_dedup_exact,
        "docs_fingerprints": q_docs_fingerprints,
        "emb_cosine_topk": q_emb_cosine_topk,
        "emb_neardup_lsh": q_emb_neardup_lsh,
        "vocab_remap_roundtrip": q_vocab_remap_roundtrip,
        "roundtrip_embeddings_topk": q_roundtrip_embeddings_topk,
        "emb_quantized_roundtrip": q_emb_quantized_roundtrip,
        "cube_orders": q_cube_orders,
        "docs_repetition_stats": q_docs_repetition_stats,
        "docs_ngram_overlap": q_docs_ngram_overlap,
        "range_join_events": q_range_join_events,
        "asof_join_events": q_asof_join_events,
        "minhash_neardup_pairs": q_minhash_neardup_pairs,
        "dedup_clusters": q_dedup_clusters,
        "pipeline_keep_set": q_pipeline_keep_set,
        "simhash_hamming_hist": q_simhash_hamming_hist,
        "ann_ivf_topk": q_ann_ivf_topk,
        "jdbc_ingest_roundtrip": q_jdbc_ingest_roundtrip,
        "roundtrip_variant_extract": q_roundtrip_variant_extract,
        "evolution_union_read": q_evolution_union_read,
        "pack_sequences": q_pack_sequences,
        "vocab_topk": q_vocab_topk,
        "stream_windowed_counts": q_stream_windowed_counts,
        # rows-only by nature (engine-internal metrics, no SQL
        # equivalent) — kept dead last so every ORACLED query sits
        # inside the driver's recorded 50-query window (r4 verdict #1)
        "encode_lineage_metrics": q_encode_lineage_metrics,
    }


def oracle_sql() -> dict[str, str]:
    tok_sum = "coalesce(list_aggregate(tokens, 'sum'), 0)"
    tok_sumsq = (
        "coalesce(list_aggregate(list_transform(tokens, "
        "t -> CAST(t AS BIGINT) * t), 'sum'), 0)"
    )
    return {
        "roundtrip_source_agg": f"""{_SEQ_CTE}
SELECT COALESCE(source, 'ALL') AS source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT doc_id) AS n_ids,
       CAST(SUM(len(tokens)) AS BIGINT) AS sum_tok,
       CAST(SUM({tok_sum}) AS BIGINT) AS tok_sum,
       CAST(SUM({tok_sumsq}) AS BIGINT) AS tok_sumsq,
       MIN(list_aggregate(tokens, 'min')) AS tok_min,
       MAX(list_aggregate(tokens, 'max')) AS tok_max,
       CAST(SUM(length(doc_id)) AS BIGINT) AS id_chars
FROM seq GROUP BY ROLLUP (source)""",
        "contains_token_scan": f"""{_SEQ_CTE}
SELECT source,
       COUNT(*) AS n,
       CAST(SUM(len(tokens)) AS BIGINT) AS sum_tok,
       MIN(doc_id) AS first_id,
       MAX(doc_id) AS last_id
FROM seq WHERE list_has_any(tokens, [193, 128, 49999])
GROUP BY source""",
        "roundtrip_projection_topn": f"""{_SEQ_CTE}
SELECT doc_id, CAST(len(tokens) AS INTEGER) AS n_tok
FROM seq ORDER BY n_tok DESC, doc_id LIMIT 20""",
        "roundtrip_tokens_exact": f"""{_SEQ_CTE}
SELECT doc_id, array_to_string(tokens, ',') AS toks,
       CAST(len(tokens) AS INTEGER) AS n_tok
FROM seq WHERE CAST(doc_id AS BIGINT) % 97 = 0""",
        "roundtrip_point_lookup": f"""{_SEQ_CTE}
SELECT doc_id, array_to_string(tokens, ',') AS toks,
       CAST(len(tokens) AS INTEGER) AS n_tok
FROM seq WHERE doc_id = '123'""",
        "roundtrip_docid_range": f"""{_SEQ_CTE}
SELECT source,
       COUNT(*) AS n,
       CAST(SUM(len(tokens)) AS BIGINT) AS sum_tok,
       MIN(doc_id) AS first_id,
       MAX(doc_id) AS last_id
FROM seq WHERE doc_id BETWEEN '200' AND '219'
GROUP BY source""",
        "metadata_rowcount": f"""{_SEQ_CTE},
nt AS (SELECT CAST(len(tokens) AS BIGINT) AS n FROM seq)
SELECT 'commit' AS scope, COUNT(*) AS n_rows, COUNT(*) AS nn,
       CAST(NULL AS BIGINT) AS sum_tok,
       CAST(NULL AS BIGINT) AS min_tok,
       CAST(NULL AS BIGINT) AS max_tok
FROM seq
UNION ALL
SELECT 'all', COUNT(*), COUNT(n), CAST(SUM(n) AS BIGINT),
       MIN(n), MAX(n) FROM nt
UNION ALL
SELECT 'mid', COUNT(*), COUNT(n), CAST(SUM(n) AS BIGINT),
       MIN(n), MAX(n) FROM nt WHERE n BETWEEN 30 AND 80
UNION ALL
SELECT 'tok', CAST(SUM(len(tokens)) AS BIGINT),
       CAST(SUM(len(tokens)) AS BIGINT),
       CAST(SUM(coalesce(list_aggregate(tokens, 'sum'), 0))
            AS BIGINT),
       CAST(MIN(list_aggregate(tokens, 'min')) AS BIGINT),
       CAST(MAX(list_aggregate(tokens, 'max')) AS BIGINT)
FROM seq
UNION ALL
SELECT 'quant', COUNT(*), COUNT(n), CAST(NULL AS BIGINT),
       CAST(quantile_disc(n, 0.5) AS BIGINT),
       CAST(quantile_disc(n, 0.9) AS BIGINT) FROM nt""",
        "stream_ingest_roundtrip": f"""{_SEQ_CTE}
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(tokens)) AS BIGINT) AS sum_tok,
       CAST(SUM({tok_sum}) AS BIGINT) AS tok_sum
FROM seq GROUP BY source""",
        "roundtrip_lineitem_pricing": """
WITH li AS (
  SELECT CAST(l_quantity AS DECIMAL(12,2)) AS q,
         CAST(l_extendedprice AS DECIMAL(12,2)) AS ep,
         CAST(l_discount AS DECIMAL(12,2)) AS dc,
         l_returnflag, l_linestatus,
         CAST(l_shipdate AS DATE) AS sd
  FROM lineitem
)
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(q * 100 AS BIGINT)) AS BIGINT) AS qty_cents,
       CAST(SUM(CAST(ep * 100 AS BIGINT)) AS BIGINT) AS base_cents,
       CAST(SUM(CAST(ep * (1 - dc) * 10000 AS BIGINT)) AS BIGINT)
         AS disc_scaled,
       COUNT(*) AS count_order,
       strftime(MAX(sd), '%Y-%m-%d') AS max_ship
FROM li WHERE sd <= DATE '2005-09-02'
GROUP BY l_returnflag, l_linestatus""",
        "roundtrip_lineitem_daterange": """
WITH li AS (
  SELECT l_returnflag,
         CAST(l_quantity AS DECIMAL(12,2)) AS q,
         CAST(l_extendedprice AS DECIMAL(12,2)) AS ep,
         CAST(l_shipdate AS DATE) AS sd
  FROM lineitem
)
SELECT l_returnflag,
       COUNT(*) AS n,
       CAST(SUM(CAST(q * 100 AS BIGINT)) AS BIGINT) AS qty_cents,
       CAST(SUM(CAST(ep * 100 AS BIGINT)) AS BIGINT) AS base_cents,
       strftime(MIN(sd), '%Y-%m-%d') AS min_ship,
       strftime(MAX(sd), '%Y-%m-%d') AS max_ship
FROM li
WHERE sd BETWEEN DATE '1994-01-01' AND DATE '1994-12-31'
GROUP BY l_returnflag""",
        "roundtrip_events_hourly": """
SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       CAST(SUM(user_id) AS BIGINT) AS sum_uid,
       CAST(SUM(length(props)) AS BIGINT) AS props_chars
FROM events GROUP BY hour, event_type HAVING COUNT(*) >= 2""",
        "roundtrip_join_revenue": """
SELECT c_mktsegment, o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT))
            AS BIGINT) AS rev_cents,
       CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_customers,
       strftime(MAX(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS last_order
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment, o_orderpriority""",
        "join_topcustomers": """
SELECT n_name, c_mktsegment,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS rev_cents
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name, c_mktsegment""",
        "semi_anti_join": """
WITH s AS (
  SELECT c_mktsegment, COUNT(*) AS n_big_customers
  FROM customer
  WHERE c_custkey IN (SELECT o_custkey FROM orders
                      WHERE o_totalprice > 100000)
  GROUP BY c_mktsegment),
a AS (
  SELECT c_mktsegment, COUNT(*) AS n_customers_no_orders
  FROM customer
  WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
  GROUP BY c_mktsegment)
SELECT COALESCE(s.c_mktsegment, a.c_mktsegment) AS c_mktsegment,
       COALESCE(n_big_customers, 0) AS n_big_customers,
       COALESCE(n_customers_no_orders, 0) AS n_customers_no_orders
FROM s FULL OUTER JOIN a ON s.c_mktsegment = a.c_mktsegment""",
        "window_top_order": """
SELECT o_custkey, o_orderkey,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS top_cents
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders)
WHERE rn = 1 AND o_custkey % 10 = 0""",
        "events_daily_pushdown": """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
           AS sum_cents,
       CAST(MIN(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
           AS min_cents,
       CAST(MAX(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
           AS max_cents
FROM events GROUP BY day""",
        "setops_except_intersect": """
WITH a AS (SELECT l_partkey FROM lineitem WHERE l_discount >= 0.05),
     b AS (SELECT l_partkey FROM lineitem WHERE l_tax >= 0.05),
     c AS (SELECT l_partkey FROM lineitem WHERE l_quantity >= 30),
     d AS (SELECT l_partkey FROM a EXCEPT ALL SELECT l_partkey FROM b),
     i AS (SELECT l_partkey FROM c INTERSECT SELECT l_partkey FROM a)
SELECT (SELECT COUNT(*) FROM d) AS n_rows,
       (SELECT COUNT(DISTINCT l_partkey) FROM d) AS n_parts,
       (SELECT COUNT(*) FROM i) AS n_common_parts""",
        "cobucket_join_stats": f"""{_SEQ_CTE}
SELECT s.source, d.lang,
       COUNT(*) AS n_docs,
       CAST(SUM(len(s.tokens)) AS BIGINT) AS sum_tok,
       CAST(SUM(coalesce(list_aggregate(s.tokens, 'sum'), 0))
            AS BIGINT) AS tok_sum,
       CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars
FROM seq s JOIN documents d ON s.doc_id = CAST(d.doc_id AS VARCHAR)
GROUP BY s.source, d.lang""",
        "string_date_funcs": """
SELECT strftime(o_orderdate, '%Y-%m') AS ym,
       UPPER(o_orderpriority[1]) AS pfx,
       COUNT(*) AS n
FROM orders GROUP BY ym, pfx""",
        "zorder_user_time_slab": """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(user_id) AS BIGINT) AS uid_sum,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents,
       CAST(MIN(event_id) AS BIGINT) AS first_event
FROM events
WHERE user_id BETWEEN 40 AND 99
  AND ts BETWEEN TIMESTAMP '2024-01-05 00:00:00'
             AND TIMESTAMP '2024-01-20 00:00:00'
GROUP BY event_type""",
        "roundtrip_time_of_day": """
SELECT CAST(extract(hour FROM CAST(ts AS TIME)) AS INTEGER) AS hr,
       COUNT(*) AS n,
       CAST(SUM(extract(minute FROM CAST(ts AS TIME))) AS BIGINT)
         AS min_sum,
       CAST(SUM(extract(microseconds FROM CAST(ts AS TIME))) AS BIGINT)
         AS usec_sum,
       CAST(SUM(user_id) AS BIGINT) AS uid_sum
FROM events GROUP BY hr""",
        "events_json_extract": """
SELECT event_type,
       CAST(SUM(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT))
            AS BIGINT) AS sum_k,
       MAX(CAST(regexp_extract(props, '"k": (\\d+)', 1) AS BIGINT)) AS max_k,
       COUNT(*) AS n
FROM events GROUP BY event_type""",
        "docs_text_quality": """
SELECT source, lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS sum_words,
       MAX(CAST(len(str_split(text, ' ')) AS INTEGER)) AS max_words,
       CAST(SUM(CASE WHEN n_chars > 300 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_long,
       CAST(SUM(len(list_filter(str_split(text, ' '),
               w -> w IN ('the','a','of','and','to')))) AS BIGINT)
         AS sum_stop,
       CAST(SUM(CASE WHEN len(list_filter(str_split(text, ' '),
                w -> w IN ('the','a','of','and','to'))) * 100
                >= len(str_split(text, ' ')) * 20 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_high_stop
FROM documents GROUP BY source, lang""",
        "delete_roundtrip": f"""{_SEQ_CTE.replace("FROM documents",
            "FROM documents WHERE CAST(doc_id AS BIGINT) % 7 <> 3")}
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(tokens)) AS BIGINT) AS sum_tok,
       CAST(SUM({tok_sum}) AS BIGINT) AS tok_sum
FROM seq GROUP BY source""",
        "docs_langid": (
            "WITH s AS (SELECT lang, "
            + ", ".join(
                "len(list_filter(str_split(text, ' '), w -> w IN ("
                + ",".join(f"'{m}'" for m in _LANG_MARKERS[lg])
                + f"))) AS s_{lg}"
                for lg in _LANG_ORDER
            )
            + " FROM documents) SELECT lang, CASE "
            + " ".join(
                f"WHEN s_{lg} > 0 AND s_{lg} = greatest("
                + ",".join(f"s_{x}" for x in _LANG_ORDER)
                + f") THEN '{lg}'"
                for lg in _LANG_ORDER
            )
            + " ELSE 'unk' END AS guess, COUNT(*) AS n "
            "FROM s GROUP BY lang, guess"
        ),
        "dedup_exact": """
SELECT source, COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(text)) AS n_unique,
       COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dups
FROM documents GROUP BY source""",
        "docs_fingerprints": """
WITH g AS (
  SELECT doc_id, md5(text) AS fingerprint,
         list_transform(range(1, greatest(length(text) - 7, 1) + 1),
         i -> substr(text, i, 8)) AS g
  FROM documents WHERE doc_id % 13 = 0
)
SELECT doc_id, fingerprint,
       list_aggregate(list_transform(g, x -> md5(x)), 'min') AS fp1,
       list_aggregate(list_transform(g, x -> md5(x || '#2')), 'min') AS fp2
FROM g""",
        "emb_cosine_topk": """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label
FROM embeddings, q
WHERE vec_id != 0
ORDER BY list_dot_product(
           list_transform(embedding, x -> CAST(x AS DOUBLE)),
           list_transform(qv, x -> CAST(x AS DOUBLE)))
         / (sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                  list_transform(embedding, x -> CAST(x AS DOUBLE))))
            * sqrt(list_dot_product(list_transform(qv, x -> CAST(x AS DOUBLE)),
                                    list_transform(qv, x -> CAST(x AS DOUBLE))))) DESC,
         vec_id
LIMIT 10""",
        "emb_neardup_lsh": f"""
WITH banded0 AS (
  SELECT vec_id, t.band AS band,
         CAST(list_sum(list_transform(range(1, 17),
              i -> (CASE WHEN embedding[t.band * 16 + i] > 0
                    THEN 1 ELSE 0 END) << (16 - i))) AS BIGINT) AS bkt
  FROM embeddings CROSS JOIN (SELECT UNNEST(range(0, 4)) AS band) t
), banded AS (
  -- mirror of Spark's sort_array+slice bucket cap: keep the first
  -- LSH_BUCKET_CAP members of each (band, bkt) in vec_id order
  SELECT vec_id, band, bkt FROM (
    SELECT vec_id, band, bkt,
           row_number() OVER (PARTITION BY band, bkt
                              ORDER BY vec_id) AS rn
    FROM banded0) WHERE rn <= {LSH_BUCKET_CAP}
), pairs AS (
  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bkt = b.bkt AND a.vec_id < b.vec_id
), ve AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
)
SELECT v1, v2
FROM pairs
JOIN ve x ON x.vec_id = v1
JOIN ve y ON y.vec_id = v2
WHERE list_dot_product(x.v, y.v)
      / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v)))
      >= 0.2""",
        "emb_quantized_roundtrip": """
WITH q AS (
  SELECT label,
         list_transform(embedding, x ->
           CAST(floor(CAST(x AS DOUBLE) / greatest(
             CAST(list_max(list_transform(embedding, v -> abs(v)))
                  AS DOUBLE), 1e-30) * 127.0 + 0.5) AS INT)) AS codes
  FROM embeddings
)
SELECT label, COUNT(*) AS n,
       CAST(SUM(list_aggregate(codes, 'sum')) AS BIGINT) AS sum_q,
       CAST(SUM(list_aggregate(list_transform(codes,
            c -> CAST(c AS BIGINT) * c), 'sum')) AS BIGINT) AS sumsq_q,
       MIN(list_aggregate(codes, 'min')) AS min_q,
       MAX(list_aggregate(codes, 'max')) AS max_q
FROM q GROUP BY label""",
        "vocab_remap_roundtrip": f"""{_SEQ_CTE}
SELECT source, COUNT(*) AS n,
       CAST(SUM(list_aggregate(list_transform(tokens,
            t -> 2 * CAST(t AS BIGINT) + 1), 'sum')) AS BIGINT)
         AS sum_tok,
       MIN(list_aggregate(list_transform(tokens, t -> 2 * t + 1),
           'min')) AS tok_min,
       MAX(list_aggregate(list_transform(tokens, t -> 2 * t + 1),
           'max')) AS tok_max
FROM seq WHERE CAST(doc_id AS BIGINT) % 5 = 0
GROUP BY source""",
        "roundtrip_embeddings_topk": """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label
FROM embeddings, q
WHERE vec_id != 0
ORDER BY list_dot_product(
           list_transform(embedding, x -> CAST(x AS DOUBLE)),
           list_transform(qv, x -> CAST(x AS DOUBLE)))
         / (sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                  list_transform(embedding, x -> CAST(x AS DOUBLE))))
            * sqrt(list_dot_product(list_transform(qv, x -> CAST(x AS DOUBLE)),
                                    list_transform(qv, x -> CAST(x AS DOUBLE))))) DESC,
         vec_id
LIMIT 15""",
        "cube_orders": """
SELECT o_orderpriority, CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM orders GROUP BY CUBE(o_orderpriority, yr)""",
        "pack_sequences": f"""{_SEQ_CTE},
e AS (
  SELECT source, CAST(doc_id AS BIGINT) AS did,
         CAST(len(tokens) AS BIGINT) AS n,
         CAST({tok_sum} AS BIGINT) AS tv,
         SUM(CAST(len(tokens) AS BIGINT)) OVER (
           PARTITION BY source ORDER BY CAST(doc_id AS BIGINT)
           ROWS UNBOUNDED PRECEDING) AS end_off
  FROM seq
), x AS (
  SELECT source, did, n, tv, end_off,
         (end_off - n) // 512 AS w_start,
         (end_off - 1) // 512 AS w_end
  FROM e
), per_win AS (
  SELECT source, CAST(MAX(docs_begin) AS BIGINT) AS max_docs_begin
  FROM (SELECT source, w_start, COUNT(*) AS docs_begin
        FROM x WHERE n > 0 GROUP BY source, w_start)
  GROUP BY source
), agg AS (
  SELECT source,
         CAST(SUM(n) AS BIGINT) AS total_tok,
         CAST((SUM(n) + 511) // 512 AS BIGINT) AS n_windows,
         CAST(SUM(CASE WHEN n > 0 AND w_end > w_start THEN 1 ELSE 0 END)
              AS BIGINT) AS n_straddlers,
         CAST((512 - SUM(n) % 512) % 512 AS BIGINT) AS pad_last,
         CAST(SUM(tv) AS BIGINT) AS tok_value_sum
  FROM x GROUP BY source
)
SELECT agg.source, total_tok, n_windows, n_straddlers, pad_last,
       max_docs_begin, tok_value_sum
FROM agg JOIN per_win ON agg.source = per_win.source""",
        "vocab_topk": f"""{_SEQ_CTE},
t AS (SELECT unnest(tokens) AS tok FROM seq),
c AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok),
tot AS (SELECT CAST(SUM(len(tokens)) AS BIGINT) AS tot FROM seq)
SELECT CAST(tok AS INTEGER) AS tok, cnt,
       CAST(cnt * 1000000 // tot AS BIGINT) AS ppm
FROM c, tot ORDER BY cnt DESC, tok LIMIT 25""",
        "stream_windowed_counts": """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
       event_type, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS val_cents
FROM events GROUP BY hour, event_type""",
        "docs_repetition_stats": """
WITH w AS (SELECT doc_id, source, unnest(str_split(text, ' ')) AS w
           FROM documents),
per AS (SELECT doc_id, source, w, COUNT(*) AS c
        FROM w GROUP BY doc_id, source, w),
agg AS (SELECT doc_id, source, MAX(c) AS top_w,
               COUNT(*) AS n_distinct, SUM(c) AS n_words
        FROM per GROUP BY doc_id, source)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(top_w) AS BIGINT) AS sum_top,
       CAST(SUM(n_distinct) AS BIGINT) AS sum_distinct,
       CAST(SUM(n_words) AS BIGINT) AS sum_words,
       CAST(SUM(CASE WHEN top_w * 10 >= n_words THEN 1 ELSE 0 END)
            AS BIGINT) AS n_repetitive
FROM agg GROUP BY source""",
        "range_join_events": """
WITH err AS (SELECT user_id AS u, ts AS t0 FROM events
             WHERE event_type = 'error'),
     sig AS (SELECT user_id, ts AS t1 FROM events
             WHERE event_type = 'signup')
SELECT u, COUNT(*) AS n_pairs
FROM err JOIN sig ON u = user_id
  AND t1 > t0 AND t1 <= t0 + INTERVAL 1 HOUR
GROUP BY u""",
        "asof_join_events": """
WITH err AS (SELECT DISTINCT user_id AS u, ts AS t0 FROM events
             WHERE event_type = 'error'),
     sig AS (SELECT user_id, ts AS t1 FROM events
             WHERE event_type = 'signup')
SELECT u,
       strftime(t0, '%Y-%m-%d %H:%M:%S') AS t0s,
       strftime(t1, '%Y-%m-%d %H:%M:%S') AS t1s,
       epoch_us(t0) - epoch_us(t1) AS lag_us
FROM err ASOF JOIN sig ON u = user_id AND t1 <= t0
WHERE u % 5 = 0""",
        "docs_ngram_overlap": """
WITH d AS (SELECT doc_id, list_distinct(str_split(text, ' ')) AS ws
           FROM documents)
SELECT a.doc_id AS doc_id,
       CAST(len(list_intersect(a.ws, b.ws)) AS INTEGER) AS n_common,
       CAST(len(list_distinct(list_concat(a.ws, b.ws))) AS INTEGER) AS n_union
FROM d a JOIN d b ON a.doc_id + 1 = b.doc_id
WHERE a.doc_id % 7 = 0""",
        "minhash_neardup_pairs": f"""
WITH {_MINHASH_PAIRS_CTES}
SELECT COUNT(*) AS n_candidate_pairs,
       COUNT(DISTINCT d1) AS nd1,
       COUNT(DISTINCT d2) AS nd2
FROM pairs""",
        # connected components over the SAME pair graph: fixed-round
        # min-label propagation mirrored step for step (the match
        # never depends on convergence — both sides run exactly
        # DEDUP_CC_ROUNDS rounds)
        "dedup_clusters": f"""
WITH {_MINHASH_PAIRS_CTES},
e AS (
  SELECT d1 AS src, d2 AS dst FROM pairs
  UNION ALL SELECT d2, d1 FROM pairs
), l0 AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(doc_id AS BIGINT) AS label
  FROM documents
){_CC_STEP_CTES}, cl AS (
  SELECT label, COUNT(*) AS csize
  FROM l{DEDUP_CC_ROUNDS} GROUP BY label
)
SELECT CAST(SUM(csize) AS BIGINT) AS n_docs,
       COUNT(*) AS n_clusters,
       CAST(SUM(csize - 1) AS BIGINT) AS n_dupes_droppable,
       CAST(MAX(csize) AS BIGINT) AS max_cluster,
       CAST(SUM(label) AS BIGINT) AS rep_id_sum
FROM cl""",
        # composed curation pipeline: dedup labels THEN quality gate
        # on the surviving representatives, same CTE machinery
        "pipeline_keep_set": f"""
WITH {_MINHASH_PAIRS_CTES},
e AS (
  SELECT d1 AS src, d2 AS dst FROM pairs
  UNION ALL SELECT d2, d1 FROM pairs
), l0 AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(doc_id AS BIGINT) AS label
  FROM documents
){_CC_STEP_CTES}, labeled AS (
  SELECT doc.doc_id, doc.lang, doc.n_chars,
         len(str_split(doc.text, ' ')) AS n_words,
         len(list_filter(str_split(doc.text, ' '),
             w -> w in ('the','a','of','and','to'))) AS n_stop,
         l.label
  FROM documents doc
  JOIN l{DEDUP_CC_ROUNDS} l ON l.doc_id = doc.doc_id
), cls AS (
  SELECT lang, n_chars,
         CASE WHEN doc_id != label THEN 'dup'
              WHEN NOT (n_chars >= 100 AND n_words >= 10
                        AND n_stop * 100 >= n_words * 2)
                   THEN 'low_quality'
              ELSE 'keep' END AS cls
  FROM labeled
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN cls = 'dup' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_dropped,
       CAST(SUM(CASE WHEN cls = 'low_quality' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_quality_dropped,
       CAST(SUM(CASE WHEN cls = 'keep' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN cls = 'keep' THEN n_chars ELSE 0 END)
            AS BIGINT) AS kept_chars
FROM cls GROUP BY lang""",
        # exact brute-force top-10 WITHIN the probed cells; the oracle
        # recomputes cells AND the probe set (query cell + hamming-1
        # ball) from raw vectors — gates pruning, cell assignment and
        # float round-trip together
        "ann_ivf_topk": """
WITH cells AS (
  SELECT vec_id, label, embedding,
         (CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END)
       + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
       + (CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) AS cell
  FROM embeddings
), q AS (
  SELECT embedding AS qv, cell AS qcell FROM cells WHERE vec_id = 0
)
SELECT vec_id, label
FROM cells, q
WHERE vec_id != 0
  AND cell IN (qcell, xor(qcell, 4), xor(qcell, 2), xor(qcell, 1))
ORDER BY list_dot_product(
           list_transform(embedding, x -> CAST(x AS DOUBLE)),
           list_transform(qv, x -> CAST(x AS DOUBLE)))
         / (sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                  list_transform(embedding, x -> CAST(x AS DOUBLE))))
            * sqrt(list_dot_product(list_transform(qv, x -> CAST(x AS DOUBLE)),
                                    list_transform(qv, x -> CAST(x AS DOUBLE))))) DESC,
         vec_id
LIMIT 10""",
        "jdbc_ingest_roundtrip": """
SELECT n_regionkey,
       COUNT(*) AS n_nations,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
       MIN(n_name) AS first_name,
       CAST(SUM(length(n_name)) AS BIGINT) AS name_chars
FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""",
        # real multimodal decode, closed-form mirror: payload content
        # is (a + step*j) mod 256 with body lengths that are multiples
        # of 256, so each decoded sum collapses to count-of-periods x
        # 32640 (= sum of residues 0..255); see multimodal.py
        "media_feature_stats": """
WITH s AS (
  SELECT
    CASE CAST(doc_id AS BIGINT) % 3 WHEN 0 THEN 'image'
         WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
    CASE CAST(doc_id AS BIGINT) % 3
      WHEN 0 THEN 97920 * (1 + doc_id % 3) * (1 + doc_id % 5)
      WHEN 1 THEN 32640 * (1 + doc_id % 4)
      ELSE 97920 * (1 + doc_id % 2) * (1 + doc_id % 2) * (1 + doc_id % 3)
    END AS value_sum,
    CASE CAST(doc_id AS BIGINT) % 3
      WHEN 0 THEN 768 * (1 + doc_id % 3) * (1 + doc_id % 5)
      WHEN 1 THEN 256 * (1 + doc_id % 4)
      ELSE 768 * (1 + doc_id % 2) * (1 + doc_id % 2) * (1 + doc_id % 3)
    END AS units,
    CASE CAST(doc_id AS BIGINT) % 3 WHEN 0 THEN 16 * (1 + doc_id % 3)
         WHEN 1 THEN 0 ELSE 16 * (1 + doc_id % 2) END AS width,
    CASE CAST(doc_id AS BIGINT) % 3 WHEN 0 THEN 16 * (1 + doc_id % 5)
         WHEN 1 THEN 0 ELSE 16 * (1 + doc_id % 3) END AS height
  FROM documents
)
SELECT kind, COUNT(*) AS n,
       CAST(SUM(value_sum) AS BIGINT) AS px_sum,
       CAST(SUM(units) AS BIGINT) AS unit_n,
       CAST(SUM(width) AS BIGINT) AS w_sum,
       CAST(SUM(height) AS BIGINT) AS h_sum
FROM s GROUP BY kind""",
        "roundtrip_variant_extract": """
SELECT event_type,
       CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
         AS max_k,
       COUNT(*) AS n,
       CAST(SUM(length(json(props))) AS BIGINT) AS json_chars
FROM events GROUP BY event_type""",
        "evolution_union_read": """
SELECT CASE WHEN CAST(doc_id AS BIGINT) % 2 = 0
            THEN '__pre_evolution__'
            ELSE COALESCE(lang, '__pre_evolution__') END AS lang_or_missing,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS first_doc
FROM documents GROUP BY lang_or_missing""",
        "compaction_roundtrip": """
SELECT source, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(doc_id) AS first_doc
FROM documents GROUP BY source, lang""",
        "simhash_hamming_hist": """
WITH h AS (
  SELECT doc_id,
         list_transform(str_split(text, ' '),
           w -> CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT)) AS hs,
         len(str_split(text, ' ')) AS nw
  FROM documents
), w AS (
  SELECT doc_id,
         len(list_filter(range(0, 60),
             i -> 2 * list_sum(list_transform(hs, h -> (h >> i) & 1)) > nw))
           AS weight
  FROM h
)
SELECT CAST(weight AS INTEGER) AS weight, COUNT(*) AS n
FROM w GROUP BY weight ORDER BY weight""",
    }
