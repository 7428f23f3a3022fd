"""jobs/run_scrub.main end to end: one write pass counted by its own
Observation, audit rows from the committed output, resume."""

import ast
import re
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from social_media_pii_scrubber_spark.config import ScrubConfig
from social_media_pii_scrubber_spark.plans.audit import AUDIT_COLUMNS, bucket_lineage
from social_media_pii_scrubber_spark.plans.partitioning import url_bucket_expr
from social_media_pii_scrubber_spark.plans.pipeline import filter_scrub_pipeline
from social_media_pii_scrubber_spark.sources.webpages import generate_webpages

N_DOCS = 400
BUCKETS = 8  # two write batches of four buckets


@pytest.fixture
def run(run_scrub_main):
    """Run the job on a generated corpus; returns what it reported:
    buckets written/resumed and the printed audit metrics."""
    def _run(out, n_docs=N_DOCS):
        printed = run_scrub_main(["--generate", str(n_docs), "--output",
                                  str(out), "--buckets", str(BUCKETS)])
        wrote, resumed = map(int, re.search(
            r"wrote buckets (\d+), resumed past (\d+)", printed).groups())
        metrics = ast.literal_eval(
            re.search(r"audit metrics: (\{.*\})", printed).group(1))
        return {"wrote": wrote, "resumed": resumed, "metrics": metrics}
    return _run


def _audit(spark, out):
    return sorted(spark.read.parquet(f"{out}/audit").select(AUDIT_COLUMNS).collect())


def test_fresh_run_counts_agree_and_rerun_is_noop(spark, run, tmp_path):
    out = tmp_path / "out"
    first = run(out)
    assert (first["wrote"], first["resumed"]) == (BUCKETS, 0)
    m = first["metrics"]
    rows = spark.read.parquet(f"{out}/data").count()
    audit = spark.read.parquet(f"{out}/audit").select(AUDIT_COLUMNS)
    # Spark's per-batch count = rows committed = audit rows_in
    assert m["rows_in_window"] == rows == audit.agg(F.sum("rows_in")).first()[0]
    assert m["rows_kept"] + m["rows_dropped"] == m["rows_in_window"]
    assert 0 < m["rows_kept"] < rows

    # audit from the committed rows = lineage of the scored pipeline frame
    cfg = ScrubConfig(months_back=24, last_date=datetime(2024, 12, 31))
    scored = filter_scrub_pipeline(generate_webpages(spark, N_DOCS), cfg,
                                   use_model_udfs=True).df
    expected = bucket_lineage(
        scored.withColumn("bucket", url_bucket_expr(F.col("url"), BUCKETS)), "r0")
    assert audit.dtypes == expected.dtypes
    before = _audit(spark, out)
    assert before == sorted(expected.collect())

    second = run(out)
    assert (second["wrote"], second["resumed"]) == (0, BUCKETS)
    assert second["metrics"] == {"rows_in_window": 0, "rows_kept": 0,
                                 "rows_dropped": 0}
    assert _audit(spark, out) == before


def test_empty_input_writes_empty_output(run, tmp_path):
    out = tmp_path / "out"
    res = run(out, n_docs=0)
    assert res["wrote"] == BUCKETS
    assert res["metrics"]["rows_in_window"] == 0
    assert not list((out / "data").rglob("*.parquet"))


def test_crash_before_mark_done_resumes_to_clean_output(
        spark, run, tmp_path, crash_before_mark_done):
    clean, crashed = tmp_path / "clean", tmp_path / "crashed"
    run(clean)
    with crash_before_mark_done(5):  # batch 2 written, none of it marked
        run(crashed)
    res = run(crashed)
    assert (res["wrote"], res["resumed"]) == (BUCKETS // 2, BUCKETS // 2)
    a = spark.read.parquet(f"{clean}/data")
    b = spark.read.parquet(f"{crashed}/data")
    # the rewritten batch replaced its buckets: no row counted twice
    assert b.count() == a.count()
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
    assert res["metrics"]["rows_in_window"] == b.filter(
        F.col("bucket") >= BUCKETS // 2).count()
    assert _audit(spark, crashed) == _audit(spark, clean)
