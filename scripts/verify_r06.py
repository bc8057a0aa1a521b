#!/usr/bin/env python
"""Round-6 verify: (1) library package boundary, (2) driver contract
(entry + changed queries vs DuckDB oracle at sf0.01)."""
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = sys.argv[1:] or [
    "minhash_neardup_pairs", "simhash_hamming_hist",
    "docs_repetition_stats", "docs_text_quality", "docs_langid",
    "dedup_exact", "docs_fingerprints", "events_json_extract",
    "join_topcustomers", "emb_cosine_topk", "pipeline_keep_set",
    "dedup_clusters", "roundtrip_variant_extract",
    "roundtrip_time_of_day", "zorder_user_time_slab",
    "events_daily_pushdown", "media_feature_stats",
    "cobucket_join_stats", "delete_roundtrip", "vocab_remap_roundtrip",
    "emb_quantized_roundtrip", "roundtrip_source_agg",
    "contains_token_scan", "metadata_rowcount", "pack_sequences",
    "vocab_topk",
]
SF = os.environ.get("VERIFY_SF", "/root/testdata/sf0.01")

from tokcodec.session import get_spark, warm_python_workers

spark = get_spark(master="local[8]", shuffle_partitions=8,
                  driver_memory="6g")
spark.sparkContext.setLogLevel("ERROR")
warm_python_workers(spark)

# ---- 1. library boundary: encode partial -> resume -> decode -> probes
from pyspark.sql import functions as F

from tokcodec.io_tables import read_encoded, write_encoded
from tokcodec.tokenize import documents_to_sequences

docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
seq = documents_to_sequences(docs)
work = tempfile.mkdtemp(prefix="verify_r06_", dir="/dev/shm")
p = os.path.join(work, "t")
r1 = write_encoded(seq, p, n_buckets=4, run_id="a", fail_after_buckets=2)
r2 = write_encoded(seq, p, n_buckets=4, run_id="b", resume=True)
assert r2["rows"] == seq.count(), (r1, r2, seq.count())
dec = read_encoded(spark, p)
n = dec.count()
assert n == seq.count(), (n, seq.count())
proj = read_encoded(spark, p, columns=["doc_id", "n_tok"])
assert proj.columns == ["doc_id", "n_tok"]
s_new = dec.agg(F.sum(F.expr(
    "aggregate(tokens, 0L, (a, x) -> a + x)"))).collect()[0][0]
s_old = seq.agg(F.sum(F.expr(
    "aggregate(tokens, 0L, (a, x) -> a + x)"))).collect()[0][0]
assert s_new == s_old, (s_new, s_old)
try:
    read_encoded(spark, p, columns=["nope"])
    raise SystemExit("missing-column probe did not raise")
except ValueError:
    pass
try:
    read_encoded(spark, os.path.join(work, "missing"))
    raise SystemExit("missing-path probe did not raise")
except Exception:
    pass
print("library boundary OK", flush=True)
shutil.rmtree(work, ignore_errors=True)

# ---- 2. driver contract
import __spark_entry__ as E

rows = E.entry(spark).collect()
assert len(rows) > 0, "entry() returned no rows"
print(f"entry() OK ({len(rows)} rows)", flush=True)

import duckdb

con = duckdb.connect()
for t in ("documents", "events", "lineitem", "orders", "customer",
          "nation", "region", "part", "supplier", "embeddings"):
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

qs, osql = E.queries(), E.oracle_sql()
fails = []
for name in QUERIES:
    if name not in osql or osql[name] is None:
        print(f"{name}: no oracle (rows-only), skipped", flush=True)
        continue
    sdf = qs[name](spark, SF)
    srows = sdf.collect()
    scols = sdf.columns
    orows = con.execute(osql[name]).fetchall()
    ocols = [d[0] for d in con.description]
    # align DuckDB column order to Spark's
    idx = [ocols.index(c) for c in scols]
    orows = [tuple(r[i] for i in idx) for r in orows]

    def canon(rs):
        out = []
        for r in rs:
            row = []
            for v in r:
                if isinstance(v, float):
                    row.append(f"{v:.10g}")
                elif v is None:
                    row.append("\0N")
                else:
                    row.append(str(v))
            out.append(tuple(row))
        return sorted(out)

    ok = canon(srows) == canon(orows)
    print(f"{name:32s} oracle_match={ok} ({len(srows)} rows)", flush=True)
    if not ok:
        fails.append(name)
        a, b = canon(srows), canon(orows)
        for i in range(min(len(a), len(b))):
            if a[i] != b[i]:
                print(f"  diff@{i}: spark={a[i]}\n           duck ={b[i]}")
                break
print("VERIFY FAILED:" if fails else "VERIFY OK", fails, flush=True)
spark.stop()
sys.exit(1 if fails else 0)
