"""spark-submit entry point.

    spark-submit --py-files dataqualityassistant_spark.zip \
        -m dataqualityassistant_spark.cli <command> ...
or locally:
    python -m dataqualityassistant_spark.cli <command> ...

Commands
--------
filter      run the web-text quality-filter pipeline
            --input PATH --output PATH [--metrics PATH] [--lineage PATH]
            [--checkpoint PATH] [--run-id ID] [--buckets N] [--waves N]
validate    run a rule suite from a rules JSON file against a table
            --input PATH --rules FILE [--table-name NAME] [--report PATH.md|.json]
profile     profile a table (schema, stats, relationships, suggestions)
            --input PATH [--suggest]
gen-pages   write the deterministic synthetic pages fixture
            --output PATH --rows N [--partitions N]
dedup       drop duplicate rows by exact text or canonical URL
            --input PATH --output PATH [--mode exact|url]
            [--text-col C] [--url-col C] [--id-col C]
sample      deterministic hash sampling (reproducible, repartition-stable)
            --input PATH --output PATH --fraction F
            [--stratify-col C --fractions JSON] [--id-col C] [--salt N]
decontaminate  drop docs sharing word n-grams with a benchmark table
            --input PATH --benchmark PATH --output PATH
            [--ngram N] [--min-hits H] [--text-col C] [--id-col C]
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="dataqualityassistant_spark")
    ap.add_argument("--cores", default=None, help="local[N] master when not under spark-submit")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("filter")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--metrics")
    p.add_argument("--lineage")
    p.add_argument("--checkpoint")
    p.add_argument("--run-id", default="run-0")
    p.add_argument("--run-ts", default="")
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--waves", type=int, default=1)

    p = sub.add_parser("validate")
    p.add_argument("--input", required=True)
    p.add_argument("--rules", required=True)
    p.add_argument("--table-name", default="")
    p.add_argument("--report")
    p.add_argument("--reference-parity", action="store_true")

    p = sub.add_parser("profile")
    p.add_argument("--input", required=True)
    p.add_argument("--suggest", action="store_true")

    p = sub.add_parser("gen-pages")
    p.add_argument("--output", required=True)
    p.add_argument("--rows", type=int, required=True)
    p.add_argument("--partitions", type=int, default=None)

    p = sub.add_parser("dedup")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--mode", choices=["exact", "url", "incremental"], default="exact")
    p.add_argument("--text-col", default="text")
    p.add_argument("--url-col", default="url")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--store", default=None,
                   help="signature store path (incremental mode: near-dup "
                        "the batch against all previously accepted batches)")
    p.add_argument("--batch-id", default=None,
                   help="idempotent batch key (incremental mode; replaying "
                        "a crashed batch replaces its own store partition)")
    p.add_argument("--threshold", type=float, default=0.8)

    p = sub.add_parser("compact-store",
                       help="merge an incremental-dedup signature store's "
                            "per-batch partitions into n bucketed files "
                            "(dedup results identical pre/post)")
    p.add_argument("--store", required=True)
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--id-col", default="doc_id")

    p = sub.add_parser("sample")
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--fraction", type=float, required=True)
    p.add_argument("--stratify-col", default=None)
    p.add_argument("--fractions", default=None,
                   help='per-stratum rates as JSON, e.g. {"en": 0.5}; --fraction is the default rate')
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--salt", type=int, default=42)

    p = sub.add_parser("decontaminate")
    p.add_argument("--input", required=True)
    p.add_argument("--benchmark", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--ngram", type=int, default=8)
    p.add_argument("--min-hits", type=int, default=1)
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")

    args = ap.parse_args(argv)
    if args.cmd == "sample" and args.fractions and not args.stratify_col:
        ap.error("--fractions requires --stratify-col (rates are per-stratum)")
    from pyspark.sql import SparkSession

    from dataqualityassistant_spark.session import stop_session_hard, tuned_session
    from dataqualityassistant_spark.sources import read_table

    # a caller's live session (main() called from Python) is reused and left
    # running; only a session this call started is stopped at the end
    owns_session = SparkSession.getActiveSession() is None
    # spark-submit usually supplies the master; local runs may not
    spark = tuned_session(f"dqa-{args.cmd}",
                          master=f"local[{args.cores}]" if args.cores else None)

    if args.cmd == "filter":
        from dataqualityassistant_spark.plans.quality_filter import QualityFilterPipeline

        pipe = QualityFilterPipeline(n_buckets=args.buckets)
        stats = pipe.run(
            spark, read_table(spark, args.input), args.output,
            metrics_path=args.metrics, lineage_path=args.lineage,
            checkpoint_path=args.checkpoint, run_id=args.run_id,
            run_ts=args.run_ts, waves=args.waves,
        )
        print(json.dumps({k: v for k, v in stats.items() if k != "metrics"}, default=str))

    elif args.cmd == "validate":
        from dataqualityassistant_spark.rules import Rule
        from dataqualityassistant_spark.operators.engine import run_suite
        from dataqualityassistant_spark import report as report_mod

        with open(args.rules) as f:
            rule_rows = json.load(f)
        if isinstance(rule_rows, dict) and "expectations" in rule_rows:
            # a Great-Expectations suite JSON: import it wholesale
            from dataqualityassistant_spark.rules import from_ge_suite

            rules = [from_ge_suite(rule_rows, rule_id=1, table_name=args.table_name)]
        else:
            rules = [Rule(id=r.get("id", i + 1), name=r.get("name", f"rule_{i+1}"),
                          table_name=r.get("table_name", args.table_name),
                          rule_config=r.get("rule_config"))
                     for i, r in enumerate(rule_rows)]
        suite = run_suite(read_table(spark, args.input), rules,
                          table_name=args.table_name,
                          reference_parity=args.reference_parity)
        if args.report and args.report.endswith(".md"):
            report_mod.to_markdown(suite, args.report)
        elif args.report:
            report_mod.to_json(suite, args.report)
        print(json.dumps({k: suite[k] for k in
                          ("table_name", "total_rules", "successful_rules",
                           "failed_rules", "success_rate")}, default=str))

    elif args.cmd == "profile":
        from dataqualityassistant_spark.profiling import (
            profile_table, suggest_range_rules, suggest_rules)

        df = read_table(spark, args.input)
        out = profile_table(df)
        if args.suggest:
            out["suggestions"] = suggest_rules(df) + suggest_range_rules(df)
        # structured trimming, NOT a byte-slice of the serialized JSON (a
        # slice can cut mid-string and emit unparseable output): cap the
        # sample rows and truncate long cell values, keeping the JSON valid
        if isinstance(out.get("sample_data"), list):
            out["sample_data"] = [
                {k: (v[:200] + "…" if isinstance(v, str) and len(v) > 200 else v)
                 for k, v in row.items()}
                for row in out["sample_data"][:10]
            ]
        print(json.dumps(out, default=str))

    elif args.cmd == "gen-pages":
        from dataqualityassistant_spark.fixtures import write_pages_fixture

        write_pages_fixture(spark, args.output, args.rows, partitions=args.partitions)
        print(json.dumps({"written": args.output, "rows": args.rows}))

    elif args.cmd == "dedup":
        from pyspark.sql import functions as F

        df = read_table(spark, args.input)
        n_in = df.count()
        # rows with a NULL dedup key pass through untouched: a missing
        # text/url is not evidence of duplication, and grouping NULLs
        # together would silently delete all but one such row
        key_col = args.url_col if args.mode == "url" else args.text_col
        keyless = df.where(F.col(key_col).isNull())
        keyed = df.where(F.col(key_col).isNotNull())
        if args.mode == "incremental":
            if not args.store or not args.batch_id:
                ap.error("--mode incremental requires --store and --batch-id")
            from dataqualityassistant_spark.ops.dedup import incremental_dedup

            survivors = incremental_dedup(
                keyed, args.store, args.batch_id,
                text_col=args.text_col, id_col=args.id_col,
                threshold=args.threshold)
        elif args.mode == "exact":
            from dataqualityassistant_spark.ops.dedup import exact_dedup

            survivors = exact_dedup(keyed, text_col=args.text_col, id_col=args.id_col)
        else:
            from dataqualityassistant_spark.ops.urltools import url_dedup

            keep = url_dedup(keyed, url_col=args.url_col, id_col=args.id_col).select(
                F.col("keep_id").alias(args.id_col))
            survivors = keyed.join(keep, args.id_col, "left_semi")
        survivors = survivors.unionByName(keyless)
        survivors.write.mode("overwrite").parquet(args.output)
        n_out = spark.read.parquet(args.output).count()
        print(json.dumps({"rows_in": n_in, "rows_out": n_out,
                          "dropped": n_in - n_out, "mode": args.mode}))

    elif args.cmd == "compact-store":
        from dataqualityassistant_spark.ops.dedup import compact_signature_store

        n = compact_signature_store(spark, args.store, n_buckets=args.buckets,
                                    id_col=args.id_col)
        print(json.dumps({"store": args.store, "rows": n,
                          "buckets": args.buckets}))

    elif args.cmd == "sample":
        from dataqualityassistant_spark.ops.sampling import (
            hash_sample, stratified_hash_sample)

        df = read_table(spark, args.input)
        n_in = df.count()
        if args.stratify_col:
            rates = json.loads(args.fractions) if args.fractions else {}
            out = stratified_hash_sample(
                df, rates, strata_col=args.stratify_col, id_col=args.id_col,
                salt=args.salt, default_fraction=args.fraction)
        else:
            out = hash_sample(df, args.fraction, id_col=args.id_col, salt=args.salt)
        out.write.mode("overwrite").parquet(args.output)
        n_out = spark.read.parquet(args.output).count()
        print(json.dumps({"rows_in": n_in, "rows_out": n_out,
                          "fraction": args.fraction}))

    elif args.cmd == "decontaminate":
        from dataqualityassistant_spark.ops.decontaminate import decontaminate

        df = read_table(spark, args.input)
        bench = read_table(spark, args.benchmark)
        n_in = df.count()
        clean = decontaminate(df, bench, n=args.ngram, min_hits=args.min_hits,
                              text_col=args.text_col, id_col=args.id_col)
        clean.write.mode("overwrite").parquet(args.output)
        n_out = spark.read.parquet(args.output).count()
        print(json.dumps({"rows_in": n_in, "rows_out": n_out,
                          "contaminated": n_in - n_out, "ngram": args.ngram}))

    # watchdogged stop: a lost py4j stop() reply must not wedge the CLI
    # after its output is already printed
    if owns_session:
        stop_session_hard(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
