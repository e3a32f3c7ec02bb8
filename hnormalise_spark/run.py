"""spark-submit entry point.

Batch:      spark-submit --py-files hnormalise_spark.zip -m ... run.py \
                --input /data/raw_sequences --output /data/out
Streaming:  ... --streaming
Generate:   ... --generate 1000000 --output /data/raw_sequences

Designed for multi-executor clusters: parallelism comes from input
splits (maxPartitionBytes) — the parse has no shuffle; only the counts
aggregate shuffles (a handful of groups). ``--repartition`` is the
explicit lever when input files are too few/skewed for the cluster.
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list[str] | None = None) -> int:
    from hnormalise_spark import streaming

    ap = argparse.ArgumentParser(description="hnormalise-spark pipeline")
    ap.add_argument("--config", help="user config file (YAML/JSON, monoid-merged over --system-config then defaults)")
    ap.add_argument("--system-config", help="system config file")
    ap.add_argument("--input", help="input path, read as --input-format")
    ap.add_argument(
        "--input-format",
        choices=list(streaming.INPUTS),
        default=None,
        help="parquet = tokenized sequences (default); raw_parquet = "
        "parquet of (doc_id, source, raw) lines; text = raw syslog files, "
        "one line per row (the reference's native input); json = rsyslog "
        "%%jsonmesg%% lines. Batch and --streaming read every format.",
    )
    ap.add_argument("--output", help="output dir for sinks")
    ap.add_argument("--streaming", action=argparse.BooleanOptionalAction, default=None)
    ap.add_argument("--generate", type=int, default=0, help="generate N synthetic rows to --output")
    ap.add_argument("--master", default=None)
    ap.add_argument("--repartition", type=int, default=None, help="explicit salted repartition before parse (0 disables)")
    ap.add_argument("--salt", type=int, default=None, help="salt buckets per source key for skewed inputs (default 16)")
    ap.add_argument("--enrich", action=argparse.BooleanOptionalAction, default=None, help="broadcast-join host/cluster/user metadata")
    ap.add_argument("--no-json", action="store_true", help="skip reference-shaped JSON line in success sink")
    args = ap.parse_args(argv)

    from hnormalise_spark import get_spark
    from hnormalise_spark.config import load_config
    from hnormalise_spark.pipeline import salted_repartition
    from hnormalise_spark import sinks, datagen, enrich

    # CLI flags override the merged config chain (user ⊕ system ⊕
    # defaults). None means "not given on the CLI", so explicit falsy
    # values (--repartition 0, --no-streaming, --no-enrich) still win.
    try:
        cfg = load_config(args.config, args.system_config)
    except FileNotFoundError as e:
        ap.error(f"config file {e.filename!r} does not exist")
    args.input = args.input if args.input is not None else cfg.input.path
    args.input_format = args.input_format or cfg.input.format
    args.output = args.output if args.output is not None else cfg.sink.out_dir
    args.streaming = args.streaming if args.streaming is not None else cfg.run.streaming
    args.repartition = args.repartition if args.repartition is not None else cfg.run.repartition
    args.salt = args.salt if args.salt is not None else 16
    args.enrich = args.enrich if args.enrich is not None else cfg.run.enrich
    json_line = cfg.sink.json_line and not args.no_json
    if not args.output:
        ap.error("--output (or sink.out_dir in config) required")
    if args.input_format not in streaming.INPUTS:
        ap.error(f"input.format {args.input_format!r} is not one of {sorted(streaming.INPUTS)}")

    spark = get_spark(master=args.master, app_name="hnormalise-run")
    t0 = time.time()

    if args.generate:
        datagen.write_corpus(spark, args.output, args.generate)
        print(f"generated {args.generate} rows in {time.time()-t0:.1f}s -> {args.output}")
        return 0

    if not args.input:
        ap.error("--input required unless --generate")

    # one path for both modes: only the reader and the fan-out differ
    read_batch, read_stream, parse = streaming.INPUTS[args.input_format]
    df = (read_stream if args.streaming else read_batch)(spark, args.input)
    if args.repartition:
        df = salted_repartition(df, args.repartition, keys=("source",), salt=args.salt)
    parsed = sinks.with_lineage(parse(df))
    if args.enrich:
        hm, cm, um = enrich.synth_lookup_tables(spark)
        parsed = enrich.enrich(parsed, hm, cm, um)

    if args.streaming:
        streaming.stream_fanout(
            parsed, args.output, available_now=True, json_line=json_line, fields=cfg.fields
        ).awaitTermination()
        print(f"streaming drained in {time.time()-t0:.1f}s")
        return 0

    paths = sinks.run_batch(spark, parsed, args.output, json_line=json_line, fields=cfg.fields)
    n = spark.read.parquet(paths["counts"]).agg({"n": "sum"}).collect()[0][0] or 0
    dt = time.time() - t0
    print(f"normalised {n} lines in {dt:.1f}s ({n/dt:.0f} lines/s) -> {args.output}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
