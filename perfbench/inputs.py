"""Seeded workload inputs: one generated corpus per size, sampled per seed.

    python3 -m perfbench.inputs --docs <n> --out <dir>

``generate_webpages`` has no seed, but it is deterministic. So the
corpus OVERSAMPLE times the target size is generated once per (size,
code), in a short-lived Spark process of its own, and a seed's input is
the 1-in-OVERSAMPLE sample of it keyed by a hash of (url, seed), taken
with DuckDB. The sample keeps the host0 skew, the planted junk classes
and the PII residues of the generator. Sampling starts no JVM, so the
measured JVM starts in the same state whether the input was cached or
not, and a new seed costs well under a second.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

import duckdb

OVERSAMPLE = 2
PARTS = 4  # parquet files per input: the generator's partitions at local[4]
WARM_DOCS = 1_000  # input rows of the warm-up run
# the child's session only generates a few tens of thousands of rows
CHILD_DRIVER_MEMORY = "2g"
# what a seed's input and its output checksum depend on
CODE_DIRS = ("jobs", "social_media_pii_scrubber_spark", "perfbench")


def code_digest(root: Path) -> str:
    """Hash of the program's and the benchmark's Python sources. It keys
    the input cache and the stored output checksums, so neither outlives
    a change to the code that produced it."""
    h = hashlib.sha1()
    for d in CODE_DIRS:
        for p in sorted((root / d).rglob("*.py")):
            if "tests" in p.relative_to(root).parts:
                continue
            h.update(str(p.relative_to(root)).encode() + b"\0")
            h.update(p.read_bytes() + b"\0")
    return h.hexdigest()[:12]


def ensure_input(root: Path, work: Path, seed: int,
                 docs: int) -> tuple[Path, int, Path]:
    """Parquet input for (seed, docs, code), sampled once from the
    generated corpus and then reused, plus a WARM_DOCS-row slice of it
    for the warm-up run. Returns (path, rows, warm-up path). ``page_id``
    (the numeric id the corpus build keys on, derived from the url as
    bench.py q16 does) rides along; run_scrub prunes it at the scan."""
    code = code_digest(root)
    corpus = work / "inputs" / f"corpus-docs={docs * OVERSAMPLE}-code={code}"
    if not (corpus / "_SUCCESS").exists():
        env = dict(os.environ, SPARK_DRIVER_MEMORY=CHILD_DRIVER_MEMORY)
        subprocess.run([sys.executable, "-m", "perfbench.inputs",
                        "--docs", str(docs * OVERSAMPLE), "--out", str(corpus)],
                       cwd=root, env=env, check=True, stdout=sys.stderr)
    path = work / "inputs" / f"seed={seed}-docs={docs}-code={code}"
    if not (path / "_rows").exists():
        sample(corpus, seed, path)
    return path / "data", int((path / "_rows").read_text()), path / "warm"


def generate(docs: int, path: Path) -> None:
    """Write ``generate_webpages(docs, with_labels=True)`` plus
    ``page_id`` as PARTS parquet files under ``path``."""
    from pyspark.sql import functions as F

    from perfbench.hostinfo import stop_spark
    from social_media_pii_scrubber_spark.session import get_spark
    from social_media_pii_scrubber_spark.sources.webpages import (
        generate_webpages,
    )

    tmp = path.with_name(f"{path.name}.{os.getpid()}")
    spark = get_spark()
    try:
        (generate_webpages(spark, docs, partitions=PARTS, with_labels=True)
         .withColumn("page_id",
                     F.regexp_extract("url", "/p/([0-9]+)$", 1).cast("bigint"))
         .write.parquet(str(tmp)))
    finally:
        stop_spark(spark)
    shutil.rmtree(path, ignore_errors=True)
    tmp.rename(path)


def sample(corpus: Path, seed: int, path: Path) -> None:
    """The seed's 1-in-OVERSAMPLE sample of ``corpus``, one output file
    per corpus file. ``warc_ts`` is written as a UTC-adjusted timestamp,
    which Spark reads back as TimestampType, as it reads the corpus's
    own INT96 column."""
    tmp = path.with_name(f"{path.name}.{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "data").mkdir(parents=True)
    (tmp / "warm").mkdir()
    with duckdb.connect() as con:
        con.execute("set TimeZone = 'UTC'")
        for k, f in enumerate(sorted(corpus.glob("*.parquet"))):
            con.execute(
                f"copy (select * replace (warc_ts::timestamptz as warc_ts)"
                f" from read_parquet('{f}')"
                # one string hash: DuckDB's hash(url, seed) combines the
                # two hashes so that its parity takes only two values
                f" where hash(url || '#{seed}') % {OVERSAMPLE} = 0)"
                f" to '{tmp}/data/part-{k}.parquet' (format parquet)")
        data = f"read_parquet('{tmp}/data/*.parquet')"
        rows = con.sql(f"select count(*) from {data}").fetchone()[0]
        con.execute(f"copy (select * from {data} order by url limit {WARM_DOCS})"
                    f" to '{tmp}/warm/part-0.parquet' (format parquet)")
    (tmp / "_rows").write_text(str(rows))
    shutil.rmtree(path, ignore_errors=True)
    tmp.rename(path)


if __name__ == "__main__":
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--docs", type=int, required=True)
    p.add_argument("--out", type=Path, required=True)
    args = p.parse_args()
    generate(args.docs, args.out)
