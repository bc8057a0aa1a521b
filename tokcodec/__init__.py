"""tokcodec — PySpark-native per-column lightweight-compression engine.

Re-expresses the capabilities of bigfei/parquet-carpet (Java
record<->Parquet serialization; see /root/repo/SURVEY.md) as a
Spark-first columnar encode/decode engine: per-column codecs (dict,
RLE, FSST, bit-pack, frame-of-reference) with a statistics-driven
auto-selector, salted repartitioning, per-bucket lineage/metrics, and
resumable encode — all vectorized Arrow batch execution, no per-row
Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from tokcodec.datasource import TokcodecDataSource  # noqa: F401
from tokcodec.decode import decode_blocks  # noqa: F401
from tokcodec.encode import encode_table, with_bucket  # noqa: F401
from tokcodec.graph import connected_components  # noqa: F401
from tokcodec.remap import make_remap_transform, remap_tokens  # noqa: F401
from tokcodec.io_tables import (  # noqa: F401
    approx_count_distinct_encoded,
    compact_encoded,
    count_encoded,
    delete_encoded,
    describe_encoded,
    encoded_size_bytes,
    explain_scan,
    parquet_size_bytes,
    profile_encoded,
    read_encoded,
    read_encoded_as,
    read_encoded_direct,
    register_encoded,
    resolve_as_of_ts,
    sample_encoded,
    suggest_buckets,
    tag_encoded,
    tags_encoded,
    untag_encoded,
    upsert_encoded,
    vacuum_encoded,
    write_encoded,
)
from tokcodec.agg import (  # noqa: F401
    aggregate_encoded,
    aggregate_encoded_grouped,
    quantile_encoded,
)
from tokcodec.cdc import changes_encoded  # noqa: F401
from tokcodec.joins import join_encoded, join_runtime_filtered  # noqa: F401
from tokcodec.naming import camel_to_snake, map_fields, snake_to_camel  # noqa: F401
from tokcodec.pack import pack_sequences  # noqa: F401
from tokcodec.stateful import stream_source_cap  # noqa: F401
from tokcodec.schema import SEQ_SCHEMA  # noqa: F401
from tokcodec.synth import synth_df  # noqa: F401
from tokcodec.session import guard_worker_zip_imports

# a PySpark worker's tasks after its first tokcodec import skip
# re-reading pyspark.zip (a no-op in the driver and on CPython 3.13+)
guard_worker_zip_imports()


def verify_roundtrip(original: DataFrame, decoded: DataFrame,
                     key: str = "doc_id") -> dict:
    """Bit-identical round-trip check (the reference's record-equality
    round-trip tests, SURVEY.md §5.1, expressed as one join)."""
    from pyspark.sql import types as T

    cols = [c for c in original.columns if c != key]

    def comparable(df, c, alias):
        col = F.col(c)
        # maps aren't orderable for <=>; compare their entry arrays
        # (decode preserves entry order, so this is exact)
        if isinstance(df.schema[c].dataType, T.MapType):
            col = F.map_entries(col)
        return col.alias(alias)

    o = original.select(key, *[comparable(original, c, f"o_{c}") for c in cols])
    d = decoded.select(key, *[comparable(decoded, c, f"d_{c}") for c in cols])
    j = o.join(d, key, "full_outer")
    mismatch = None
    for c in cols:
        bad = ~F.col(f"o_{c}").eqNullSafe(F.col(f"d_{c}"))
        mismatch = bad if mismatch is None else (mismatch | bad)
    res = j.agg(
        F.count("*").alias("rows"),
        F.sum(F.when(mismatch, 1).otherwise(0)).alias("mismatches"),
    ).collect()[0]
    return {"rows": res.rows, "mismatches": res.mismatches,
            "ok": res.mismatches == 0}
