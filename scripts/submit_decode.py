#!/usr/bin/env python
"""spark-submit entry point for the decode/export job: read a tokcodec
encoded table (optionally a projection or a filtered slice) and write
it back out as plain parquet for downstream consumers.

    spark-submit --py-files tokcodec.zip scripts/submit_decode.py \
        --input /data/encoded --output /data/decoded \
        --columns doc_id,tokens --range-filter n_tok:100:5000
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="encoded table path")
    p.add_argument("--output", default=None,
                   help="output parquet path (required unless --explain)")
    p.add_argument("--columns", default="",
                   help="comma-separated projection (default: all)")
    p.add_argument("--range-filter", action="append", default=None,
                   help="col:lo:hi zone-map slice — int bounds, or "
                        "YYYY-MM-DD for date columns (timestamp "
                        "bounds contain ':'; use the library API). "
                        "Repeatable: several flags AND together "
                        "(Z-order multi-dimension reads)")
    p.add_argument("--contains-filter", default=None,
                   help="col:value array-element membership scan "
                        "(element-bloom pruned) — the contamination "
                        "/ opt-out token lookup. Int element lanes "
                        "parse the value as int and accept a "
                        "comma-separated ANY-of list (col:7,9,13)")
    p.add_argument("--eq-filter", default=None,
                   help="col:value bloom point lookup")
    p.add_argument("--as-of-epoch", type=int, default=None,
                   help="time travel: read the table as of this "
                        "ingest epoch")
    p.add_argument("--as-of-ts", default=None,
                   help="time travel by wall clock: unix seconds or "
                        "ISO-8601 (naive = UTC); resolves to the "
                        "greatest fully-committed epoch")
    p.add_argument("--as-of-tag", default=None,
                   help="time travel by snapshot tag (tag_encoded)")
    p.add_argument("--since-epoch", type=int, default=None,
                   help="incremental (CDC-append) read: only rows "
                        "committed at epochs AFTER this one")
    p.add_argument("--verify-checksums", action="store_true")
    p.add_argument("--explain", action="store_true",
                   help="print the pruning report (explain_scan: "
                        "chunks/rows/bytes scanned vs total, per "
                        "filter and combined) instead of decoding — "
                        "no --output write happens")
    p.add_argument("--aggregate", default=None, metavar="COLUMN",
                   help="print exact COUNT/COUNT(col)/SUM/MIN/MAX of "
                        "an int/decimal column (aggregate_encoded: "
                        "metadata for covered chunks, decode only at "
                        "filter boundaries) instead of decoding; "
                        "COLUMN[:elements] folds a flat array<int> "
                        "column's elements. No --output write")
    p.add_argument("--group-by", default=None, metavar="GCOL",
                   help="with --aggregate: per-group rollup "
                        "(aggregate_encoded_grouped) written to "
                        "--output as parquet")
    p.add_argument("--quantile", default=None,
                   metavar="COLUMN:Q[,Q...]",
                   help="print exact discrete quantile(s) of an "
                        "int-lane column (quantile_encoded: zone-map "
                        "rank search, bounded decode). No --output")
    p.add_argument("--sample", default=None, metavar="FRACTION[:SEED]",
                   help="chunk-granular deterministic sample of the "
                        "table (sample_encoded) — composes with "
                        "projection/filters/time travel")
    p.add_argument("--changes", action="store_true",
                   help="write the NET changelog of (--since-epoch, "
                        "--as-of-epoch] instead of a plain read: one "
                        "row per change with a _change_type column "
                        "(changes_encoded; without --since-epoch it "
                        "is the bootstrap full-state read)")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from tokcodec.io_tables import read_encoded

    spark = SparkSession.builder.appName("tokcodec-decode").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    columns = [c for c in args.columns.split(",") if c] or None
    rf = None
    if args.range_filter:
        # resolve each bound type from the table's manifest schema —
        # guessing from the literal would turn a digit-only slice on a
        # string column (e.g. doc_id:200:219) into int bounds
        from pyspark.sql import types as T

        from tokcodec.io_tables import _load_table
        from tokcodec.schema import manifest_schema

        manifest, _ = _load_table(spark, args.input)
        sch = manifest_schema(manifest)
        rf = []
        for spec in args.range_filter:
            c, lo, hi = spec.split(":")
            fld = next((f.dataType for f in sch.fields if f.name == c),
                       None)
            if isinstance(fld, (T.StringType, T.BinaryType)) or fld is None:
                rf.append((c, lo, hi))  # reader validates unknown cols
            elif isinstance(fld, (T.DateType, T.TimestampType,
                                  T.TimestampNTZType)):
                rf.append((c, lo, hi))  # ISO strings; reader converts
            elif isinstance(fld, (T.FloatType, T.DoubleType)):
                rf.append((c, float(lo), float(hi)))  # quality gates
            else:
                rf.append((c, int(lo), int(hi)))
    ef = None
    if args.eq_filter:
        c, v = args.eq_filter.split(":", 1)
        ef = (c, v)
    cf = None
    if args.contains_filter:
        from pyspark.sql import types as T

        from tokcodec.io_tables import _load_table
        from tokcodec.schema import manifest_schema

        c, v = args.contains_filter.split(":", 1)
        manifest, _ = _load_table(spark, args.input)
        sch = manifest_schema(manifest)
        fld = next((f.dataType for f in sch.fields if f.name == c), None)
        if (isinstance(fld, T.ArrayType)
                and not isinstance(fld.elementType,
                                   (T.StringType, T.BinaryType))):
            # int lanes: comma-separated -> ANY-of list
            ints = [int(x) for x in v.split(",")]
            cf = (c, ints if len(ints) > 1 else ints[0])
        else:
            cf = (c, v)  # string elements / reader validates the rest
    if args.explain:
        from tokcodec.io_tables import explain_scan

        print(json.dumps(explain_scan(
            spark, args.input, columns=columns,
            range_filter=rf, eq_filter=ef, contains_filter=cf,
            as_of_epoch=args.as_of_epoch, as_of_ts=args.as_of_ts,
            as_of_tag=args.as_of_tag, since_epoch=args.since_epoch)))
        spark.stop()
        return
    if args.aggregate:
        col, _, mode = args.aggregate.partition(":")
        if args.group_by:
            if not args.output:
                p.error("--group-by needs --output")
            from tokcodec.agg import aggregate_encoded_grouped

            st: dict = {}
            g = aggregate_encoded_grouped(
                spark, args.input, args.group_by, col,
                range_filter=rf, eq_filter=ef, contains_filter=cf,
                as_of_epoch=args.as_of_epoch, as_of_ts=args.as_of_ts,
                as_of_tag=args.as_of_tag,
                since_epoch=args.since_epoch, stats_out=st)
            g.write.mode("overwrite").parquet(args.output)
            print(json.dumps({**st, "output": args.output}))
            spark.stop()
            return
        from tokcodec.agg import aggregate_encoded

        out = aggregate_encoded(
            spark, args.input, col, elements=(mode == "elements"),
            range_filter=rf, eq_filter=ef, contains_filter=cf,
            as_of_epoch=args.as_of_epoch, as_of_ts=args.as_of_ts,
            as_of_tag=args.as_of_tag, since_epoch=args.since_epoch)
        print(json.dumps(out, default=str))
        spark.stop()
        return
    if args.quantile:
        from tokcodec.agg import quantile_encoded

        col, _, qspec = args.quantile.partition(":")
        qs = [float(x) for x in qspec.split(",")]
        st: dict = {}
        vals = quantile_encoded(
            spark, args.input, col, qs,
            as_of_epoch=args.as_of_epoch, as_of_ts=args.as_of_ts,
            as_of_tag=args.as_of_tag, since_epoch=args.since_epoch,
            stats_out=st)
        print(json.dumps({**st, "quantiles": dict(
            zip(map(str, qs), vals))}, default=str))
        spark.stop()
        return
    if not args.output:
        p.error("--output is required unless --explain")
    if args.changes:
        if rf or ef or cf:
            p.error("--changes takes no filters (a changelog window "
                    "is keyed by epochs; filter the written parquet "
                    "instead)")
        from pyspark.sql import functions as F

        from tokcodec.cdc import changes_encoded

        df = changes_encoded(spark, args.input, columns=columns,
                             since_epoch=args.since_epoch,
                             as_of_epoch=args.as_of_epoch,
                             as_of_ts=args.as_of_ts,
                             as_of_tag=args.as_of_tag)
        df.write.mode("overwrite").parquet(args.output)
        out = spark.read.parquet(args.output)
        counts = {r["_change_type"]: int(r["n"]) for r in
                  out.groupBy("_change_type")
                  .agg(F.count(F.lit(1)).alias("n")).collect()}
        print(json.dumps({"rows": sum(counts.values()),
                          "changes": counts,
                          "output": args.output}))
        spark.stop()
        return
    if args.sample:
        from tokcodec.io_tables import sample_encoded

        frac, _, seed = args.sample.partition(":")
        df = sample_encoded(spark, args.input, float(frac),
                            seed=int(seed or 0), columns=columns,
                            range_filter=rf, eq_filter=ef,
                            contains_filter=cf,
                            verify_checksums=args.verify_checksums,
                            as_of_epoch=args.as_of_epoch,
                            as_of_ts=args.as_of_ts,
                            as_of_tag=args.as_of_tag,
                            since_epoch=args.since_epoch)
    else:
        df = read_encoded(spark, args.input, columns=columns,
                          range_filter=rf, eq_filter=ef,
                          contains_filter=cf,
                          verify_checksums=args.verify_checksums,
                          as_of_epoch=args.as_of_epoch,
                          as_of_ts=args.as_of_ts,
                          as_of_tag=args.as_of_tag,
                          since_epoch=args.since_epoch)
    df.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(json.dumps({"rows": n, "output": args.output}))
    spark.stop()


if __name__ == "__main__":
    main()
