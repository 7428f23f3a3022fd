import contextlib
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from social_media_pii_scrubber_spark.session import get_spark

    s = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture
def run_scrub_main(spark, monkeypatch, capsys):
    """jobs/run_scrub.main(argv) on the test session (its closing
    spark.stop() is a no-op); returns what it printed."""
    from pyspark.sql import SparkSession

    import jobs.run_scrub as run_scrub

    monkeypatch.setattr(run_scrub, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)

    def _main(argv):
        run_scrub.main(argv)
        return capsys.readouterr().out
    return _main


@pytest.fixture
def crash_before_mark_done(monkeypatch):
    """``with crash_before_mark_done(n): job()`` makes the n-th
    CheckpointManifest.mark_done call raise — the crash point after a
    batch's data is written and before its bucket is marked done — and
    expects the job to fail with it."""
    from social_media_pii_scrubber_spark.plans.checkpoint import (
        CheckpointManifest,
    )

    mark_done = CheckpointManifest.mark_done

    @contextlib.contextmanager
    def crash(n):
        calls = []

        def failing(self, bucket):
            calls.append(bucket)
            if len(calls) == n:
                raise RuntimeError("crash before mark_done")
            mark_done(self, bucket)

        monkeypatch.setattr(CheckpointManifest, "mark_done", failing)
        try:
            with pytest.raises(RuntimeError, match="crash before mark_done"):
                yield
        finally:
            monkeypatch.setattr(CheckpointManifest, "mark_done", mark_done)
    return crash
