"""Audit / lineage table: per-partition row counts + filter-stage metrics.

North-star requirement: "writes per-partition lineage and filter-stage
metrics to an Iceberg audit table". Both come from the one pass that
writes the output (reference analogue: the log-and-count completion
lines, SMParser/smparserbase.py:168-170):

- job-level stage counts are observed on each write batch by
  ``write_with_checkpoints`` (plans/checkpoint.py);
- per-bucket lineage rows are one aggregation over the COMMITTED
  output the writer reads back — rows in/kept/dropped per url-hash
  bucket, appended to a parquet (Iceberg in production) audit table
  keyed by run_id. Reading the committed rows, never re-running the
  pipeline, also covers buckets a resumed run skipped.

Both are deterministic and idempotent per (run_id, bucket).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

AUDIT_COLUMNS = [
    "run_id", "bucket", "rows_in", "rows_kept", "rows_dropped",
    "drop_n_words", "drop_symbol_ratio", "drop_stopword", "drop_distinct",
]


def bucket_lineage(scored: DataFrame, run_id: str) -> DataFrame:
    """Per-bucket lineage + per-rule drop attribution in ONE shuffle.

    Expects the flagship pipeline output (quality columns + keep) with
    its url-hash ``bucket`` column, as the checkpointed writer commits
    it. Rule attribution counts how often each heuristic family would
    have dropped the row on its own — the debugging signal quality
    pipelines need when a filter change shifts keep rates.
    """
    from ..functions import quality as Q

    return (
        scored.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("rows_in"),
            F.sum(F.col("keep").cast("long")).alias("rows_kept"),
            F.sum((~F.col("keep")).cast("long")).alias("rows_dropped"),
            F.sum((~F.col("n_words").between(Q.MIN_WORDS, Q.MAX_WORDS)).cast("long")
                  ).alias("drop_n_words"),
            F.sum((F.col("symbol_ratio") > Q.MAX_SYMBOL_RATIO).cast("long")
                  ).alias("drop_symbol_ratio"),
            F.sum((F.col("stopword_fraction") < Q.MIN_STOPWORD_FRACTION).cast("long")
                  ).alias("drop_stopword"),
            F.sum((F.col("distinct_ratio") < Q.MIN_DISTINCT_RATIO).cast("long")
                  ).alias("drop_distinct"),
        )
        .withColumn("run_id", F.lit(run_id))
        .select(AUDIT_COLUMNS)
    )


def append_audit(lineage: DataFrame, audit_path: str, run_id: str) -> None:
    """Write one run's lineage rows under run_id, idempotent per run_id.

    Dynamic partition overwrite on run_id: re-running the same run_id
    (checkpoint resume, retry) REPLACES that run's audit rows instead of
    appending duplicates; other run_ids are untouched.
    """
    (
        lineage.withColumn("run_id", F.lit(run_id))
        .repartition(1)  # audit rows are tiny: one file per run partition
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("run_id")
        .parquet(audit_path)
    )
