"""Encode-time IVF: probing must decode strictly fewer chunks than a
full scan and lose nothing within the probed cells."""

import json
import os
import sys

import numpy as np
from conftest import ROOT
from pyspark.sql import functions as F

sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.01"


def test_ivf_prunes_chunks_and_matches_full_decode(spark):
    import __spark_entry__ as entrymod
    from tokcodec.io_tables import read_encoded

    path = entrymod._ivf_table(spark, SF_DIR)
    qv = np.array(
        spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        .filter(F.col("vec_id") == 0).select("embedding").collect()[0][0],
        dtype=np.float64,
    )
    probes = entrymod._ivf_probe_cells(qv)
    assert len(probes) == 4 and all(0 <= p < 8 for p in probes)

    # 1) chunk skipping is real: surviving zone chunks < total chunks
    blocks = spark.read.option("recursiveFileLookup", "true").parquet(
        os.path.join(path, "blocks"))
    cell_vals = blocks.filter(
        (F.col("column") == "cell") & (F.col("component") == "values")
    ).select("run_id", "bucket", "chunk", "meta").collect()
    total = len(cell_vals)
    survive = 0
    for r in cell_vals:
        m = json.loads(r["meta"])
        if any(m["lo"] <= v <= m["hi"] for v in probes):
            survive += 1
    assert total > 8, total  # enough chunks for pruning to be meaningful
    assert survive < total, (survive, total)

    # 2) no false negatives: pruned read == full decode + exact filter
    pruned = read_encoded(spark, path, in_filter=("cell", probes))
    full = read_encoded(spark, path).filter(F.col("cell").isin(probes))
    assert pruned.count() == full.count()
    a = {r["vec_id"] for r in pruned.select("vec_id").collect()}
    b = {r["vec_id"] for r in full.select("vec_id").collect()}
    assert a == b

    # 3) ANN result == brute force restricted to the probed cells
    ann = [tuple(r) for r in entrymod.q_ann_ivf_topk(spark, SF_DIR).collect()]
    dot = ("aggregate(zip_with(embedding, qv, (a, b) -> "
           "cast(a as double) * b), 0D, (s, x) -> s + x)")
    nrm = ("sqrt(aggregate(embedding, 0D, (s, x) -> "
           "s + cast(x as double) * x))")
    qnrm = "sqrt(aggregate(qv, 0D, (s, x) -> s + cast(x as double) * x))"
    q = full.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    if q.count() == 0:
        q = (
            spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
            .filter(F.col("vec_id") == 0)
            .select(F.col("embedding").alias("qv"))
        )
    ref = [
        tuple(r)
        for r in full.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != 0)
        .withColumn("sim", F.expr(f"({dot}) / (({nrm}) * ({qnrm}))"))
        .orderBy(F.desc("sim"), "vec_id")
        .limit(10)
        .select("vec_id", "label")
        .collect()
    ]
    assert ann == ref
