"""Audit/lineage table semantics."""

from pyspark.sql import functions as F

from social_media_pii_scrubber_spark.config import ScrubConfig
from social_media_pii_scrubber_spark.plans.audit import append_audit, bucket_lineage
from social_media_pii_scrubber_spark.plans.partitioning import url_bucket_expr
from social_media_pii_scrubber_spark.plans.pipeline import filter_scrub_pipeline
from social_media_pii_scrubber_spark.sources.webpages import webpages_from_documents


def _bucketed(spark, sf_dir, n_buckets):
    pages = webpages_from_documents(spark, sf_dir)
    scored = filter_scrub_pipeline(pages, ScrubConfig()).df
    return scored.withColumn("bucket", url_bucket_expr(F.col("url"), n_buckets))


def test_bucket_lineage_sums(spark, sf_dir):
    scored = _bucketed(spark, sf_dir, 8)
    lineage = bucket_lineage(scored, run_id="r1")
    rows = lineage.collect()
    assert all(r.rows_in == r.rows_kept + r.rows_dropped for r in rows)
    total = sum(r.rows_in for r in rows)
    assert total == scored.count()
    assert all(r.run_id == "r1" for r in rows)


def test_append_audit_idempotent_key(spark, sf_dir, tmp_path):
    scored = _bucketed(spark, sf_dir, 4)
    path = str(tmp_path / "audit")
    append_audit(bucket_lineage(scored, "r1"), path, run_id="r1")
    append_audit(bucket_lineage(scored, "r2"), path, run_id="r2")
    append_audit(bucket_lineage(scored, "r1"), path, run_id="r1")  # retry
    audit = spark.read.parquet(path)
    assert audit.select("run_id").distinct().count() == 2
    per_run = audit.groupBy("run_id").agg(F.sum("rows_in").alias("n")).collect()
    assert len({r.n for r in per_run}) == 1  # same corpus → same totals
    assert per_run[0].n == scored.count()  # the retry replaced, not appended
