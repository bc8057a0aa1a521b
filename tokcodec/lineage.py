"""Per-bucket lineage/metrics + resume logic.

BASELINE.json north_star: "encoded blocks plus per-partition
lineage/metrics (codec chosen, ratio, bytes in/out, checkpoint offset)
written back ... for resumable restarts". The lineage row is the
*commit record*: a bucket is durable iff a committed lineage row for
(bucket, run_id) exists. Blocks are written before lineage, so a crash
between the two leaves orphan blocks that decode ignores (it reads only
(bucket, run_id) pairs present in lineage) and resume re-encodes —
exactly-once without distributed transactions.

``epoch`` distinguishes dataset generations: batch (re-)encodes use
epoch 0 and the latest committed run wins per bucket; streaming appends
use the micro-batch id as epoch, so a redelivered batch is idempotent
(winner per (bucket, epoch)) while distinct batches union on read.

The reference's analogue is the file-level extra metadata + footer
commit of a Parquet file (CarpetWriter.java:606-621; footer written at
close, CarpetWriter.java:147-150).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def committed(lineage: DataFrame, epoch: int | None = None) -> DataFrame:
    """Winning (bucket, run_id) rows: per (bucket, epoch), the LATEST
    lineage row wins and is kept only if its status is 'committed' — a
    later 'tombstone' row hides the (bucket, epoch) entirely. This is
    the log-structured supersede primitive compaction uses: one atomic
    lineage append carrying {tombstones for every old epoch} +
    {commits for the compacted run} swaps the whole table state.
    ``epoch`` filters to one generation (resume); None returns winners
    across all epochs (decode reads their union)."""
    lin = lineage.filter(F.col("status").isin("committed", "tombstone"))
    if epoch is not None:
        lin = lin.filter(F.col("epoch") == int(epoch))
    # at equal ts (second resolution) a tombstone outranks a commit —
    # 'tombstone' > 'committed' lexicographically — so a compaction in
    # the same second as the batch it supersedes still wins
    w = Window.partitionBy("bucket", "epoch").orderBy(
        F.desc("ts"), F.desc("status"), F.desc("run_id")
    )
    return (
        lin.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("status") == "committed"))
        .drop("__rn")
    )
