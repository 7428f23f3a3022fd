"""spark-submit entrypoint for the filter+scrub pipeline.

Production invocation (north-star packaging requirement):

    zip -r pkg.zip social_media_pii_scrubber_spark
    spark-submit --py-files pkg.zip jobs/run_scrub.py \\
        --input  <iceberg table or parquet path> \\
        --output <output dir> \\
        --audit  <audit table path> \\
        --run-id r42 --buckets 256 --months-back 24 --last-date 2024-12-31

Sandbox smoke (generates its own corpus):

    python jobs/run_scrub.py --generate 100000 --output /tmp/scrub_out

The job makes one pass: each write batch scores only its own buckets
and is counted by an Observation on that write; the per-bucket audit
rows are aggregated from the committed output, not from a second run of
the pipeline.

The job is resumable: re-running with the same --output skips buckets
already marked done in the checkpoint manifest (idempotent via dynamic
partition overwrite), and rewrites the run's audit from every committed
bucket. The printed ``audit metrics`` count the rows THIS invocation
wrote; a fully resumed run writes none and prints zeros.
"""

from __future__ import annotations

import argparse
import sys
from datetime import datetime
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from social_media_pii_scrubber_spark.config import ScrubConfig
from social_media_pii_scrubber_spark.plans.audit import append_audit, bucket_lineage
from social_media_pii_scrubber_spark.plans.checkpoint import write_with_checkpoints
from social_media_pii_scrubber_spark.plans.pipeline import filter_scrub_pipeline
from social_media_pii_scrubber_spark.session import get_spark
from social_media_pii_scrubber_spark.sources.tables import load_iceberg_or_parquet
from social_media_pii_scrubber_spark.sources.webpages import generate_webpages


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="filter+scrub a web-page table")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="Iceberg table name or parquet path")
    src.add_argument("--generate", type=int, metavar="N",
                     help="generate a deterministic N-row corpus instead")
    p.add_argument("--output", required=True)
    p.add_argument("--audit", help="audit table path (default <output>/audit)")
    p.add_argument("--run-id", default="r0")
    p.add_argument("--buckets", type=int, default=256)
    p.add_argument("--months-back", type=int, default=24)
    p.add_argument("--last-date", default="2024-12-31")
    p.add_argument("--use-model-udfs", action="store_true", default=True)
    p.add_argument("--no-model-udfs", dest="use_model_udfs", action="store_false")
    p.add_argument("--from-html", action="store_true",
                   help="extract text from the html:binary column as "
                        "stage 0 (crawl front door; ignores any "
                        "pre-extracted text column)")
    p.add_argument("--ner", action="store_true",
                   help="apply the NER scrub stage (pandas UDF)")
    p.add_argument("--toxicity", action="store_true",
                   help="apply the toxicity score/keep/scrub stage")
    return p.parse_args(argv)


def main(argv=None) -> None:
    args = parse_args(argv)
    spark = get_spark(app_name=f"scrub-{args.run_id}")
    cfg = ScrubConfig(
        months_back=args.months_back,
        last_date=datetime.fromisoformat(args.last_date),
    )

    if args.generate is not None:
        pages = generate_webpages(spark, args.generate)
    else:
        pages = load_iceberg_or_parquet(spark, args.input)

    result = filter_scrub_pipeline(
        pages, cfg, use_model_udfs=args.use_model_udfs, use_ner=args.ner,
        use_toxicity=args.toxicity, from_html=args.from_html,
    )
    stats = write_with_checkpoints(
        result.df, args.output, n_buckets=args.buckets,
        metrics={
            "rows_in_window": F.count(F.lit(1)),
            "rows_kept": F.sum(F.col("keep").cast("long")),
            "rows_dropped": F.sum((~F.col("keep")).cast("long")),
        },
    )
    # lineage of every committed bucket (this run's and resumed ones),
    # overwrite-per-run_id, so a re-run rewrites the same rows
    append_audit(bucket_lineage(stats["data"], args.run_id),
                 args.audit or f"{args.output}/audit", args.run_id)
    print(f"run {args.run_id}: wrote buckets {len(stats['written_buckets'])}, "
          f"resumed past {len(stats['skipped_buckets'])}")
    print(f"audit metrics: {stats['metrics']}")
    spark.stop()


if __name__ == "__main__":
    main()
