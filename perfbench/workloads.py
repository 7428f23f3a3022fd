"""Workload definitions: the production jobs driven through their public
entry points, and the output checks.

Every check reads the committed parquet with DuckDB, so checking issues
no Spark action and leaves the SQL status store to the jobs.
"""

from __future__ import annotations

import ast
import contextlib
import hashlib
import io
from dataclasses import dataclass
from pathlib import Path

import duckdb

# bench.py q16's classifier model: 4096 hash buckets, bias -0.1
CLASSIFIER_BUCKETS = 4096
CLASSIFIER_WEIGHTS = {b: ((b * 2654435761) % 1000) / 1000.0 - 0.5
                      for b in range(CLASSIFIER_BUCKETS)}
CLASSIFIER_BIAS = -0.1
# bench.py q16's token budgets at its 100k-page slice; scaled to the
# workload's size so the mix binds the same way
Q16_DOCS = 100_000
Q16_BUDGETS = {"en": 2_000_000, "de": 600_000, "fr": 600_000, "es": 600_000}

MIN_F1 = 0.99
BUCKETS_PER_BATCH = 4  # run_scrub's write_with_checkpoints default


@dataclass(frozen=True)
class Workload:
    name: str
    job: str                    # "scrub" (run_scrub.main) or "corpus"
    docs: int                   # input rows (before the 1-in-2 sample noise)
    buckets: int
    flags: tuple[str, ...] = ()
    oracle: bool = False        # compare with pipeline_oracle_sql in DuckDB

    @property
    def batches(self) -> int:
        return -(-self.buckets // BUCKETS_PER_BATCH)


WORKLOADS = {w.name: w for w in (
    # run_scrub with the model UDFs: 16 write batches of 4 buckets, every
    # batch re-scores the whole date window through ArrowEvalPython
    Workload("scrub_batched", "scrub", docs=8_000, buckets=64),
    # the crawl front door in pure codegen: html extraction + toxicity,
    # no Python UDF, one write batch, then the audit re-run
    Workload("scrub_html_single", "scrub", docs=24_000, buckets=4,
             flags=("--no-model-udfs", "--from-html", "--toxicity"),
             oracle=True),
    # the composed corpus build (q16 parameters): shuffle-heavy operators
    # with localCheckpoint stage boundaries, 16 buckets in 4 batches
    Workload("corpus_build", "corpus", docs=12_000, buckets=16),
)}


def corpus_budgets(docs: int) -> dict[str, int]:
    return {k: v * docs // Q16_DOCS for k, v in Q16_BUDGETS.items()}


# ---------------------------------------------------------------------------
# jobs
# ---------------------------------------------------------------------------

@contextlib.contextmanager
def _keep_session_alive():
    """run_scrub.main ends in spark.stop(); the benchmark's one session
    must outlive it, so stop is a no-op while the job runs."""
    from pyspark.sql import SparkSession
    stop = SparkSession.stop
    SparkSession.stop = lambda self: None
    try:
        yield
    finally:
        SparkSession.stop = stop


def run_job(spark, wl: Workload, input_path: Path, out: Path,
            buckets: int | None = None) -> dict:
    """Run the workload's job once into the (fresh) directory ``out``,
    with the workload's bucket count or ``buckets``.

    Returns what the job reports: run_scrub's printed Observation
    metrics, or {} for the corpus build."""
    buckets = buckets or wl.buckets
    if wl.job == "scrub":
        import jobs.run_scrub as run_scrub
        argv = ["--input", str(input_path), "--output", str(out / "job"),
                "--run-id", "bench", "--buckets", str(buckets), *wl.flags]
        printed = io.StringIO()
        with _keep_session_alive(), contextlib.redirect_stdout(printed):
            run_scrub.main(argv)
        for line in printed.getvalue().splitlines():
            if line.startswith("audit metrics: "):
                return ast.literal_eval(line[len("audit metrics: "):])
        return {}
    from jobs.build_corpus import run_build_corpus
    pages = spark.read.parquet(str(input_path))
    run_build_corpus(
        spark, pages, str(out / "job"), run_id="bench",
        audit_path=str(out / "audit"), n_buckets=buckets,
        buckets_per_batch=BUCKETS_PER_BATCH, id_col="page_id",
        classifier_model=(CLASSIFIER_WEIGHTS, CLASSIFIER_BIAS),
        classifier_buckets=CLASSIFIER_BUCKETS,
        budgets=corpus_budgets(wl.docs))
    return {}


def output_bytes(out: Path) -> int:
    """Committed bytes: data + audit parquet files (no .crc, no markers)."""
    return sum(p.stat().st_size for p in out.rglob("*.parquet"))


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------

def _pii_patterns() -> list[str]:
    from social_media_pii_scrubber_spark.functions.scrub import SCRUB_BANK
    return [pat for name, pat, _tok in SCRUB_BANK if name in ("email", "phone")]


def _pii_hits(con, table: str, col: str) -> int:
    cond = " or ".join(
        f"regexp_matches({col}, '{p.replace(chr(39), chr(39) * 2)}')"
        for p in _pii_patterns())
    return con.sql(f"select count(*) from {table} where {cond}").fetchone()[0]


# order-independent content checksums: DuckDB hashes every row's values
# (doubles rounded to 4 dp, timestamps as UTC microseconds, everything
# else exact) and sums the hashes
_SCRUB_SUM_COLS = (
    "url, epoch_us(warc_ts), lang, pred_lang, cast(n_chars as bigint),"
    " cast(n_words as bigint), round(mean_word_len, 4), round(symbol_ratio, 4),"
    " round(distinct_ratio, 4), round(stopword_fraction, 4), keep,"
    " scrubbed_text")
_CORPUS_SUM_COLS = (
    "page_id, canonical_url, lang, n_tok, cum_tokens, logit_fp, bucket, bin,"
    ' "offset", clean_text')


def _checksum(con, table: str, cols: str) -> str:
    n, s = con.sql(
        f"select count(*), sum(hash({cols})::hugeint) from {table}").fetchone()
    return f"{n}:{s}"


def _scrub_sum_cols(wl: Workload) -> str:
    extra = ""
    if "--no-model-udfs" not in wl.flags:
        extra += ", round(perplexity, 4)"
    if "--toxicity" in wl.flags:
        extra += ", round(tox_score, 4)"
    return _SCRUB_SUM_COLS + extra


def oracle_checksum(work: Path, wl: Workload, input_path: Path) -> str | None:
    """Checksum of pipeline_oracle_sql over the input in DuckDB, cached
    per (input, oracle SQL)."""
    if not wl.oracle:
        return None
    from social_media_pii_scrubber_spark.plans.pipeline import (
        pipeline_oracle_sql,
    )
    sql = pipeline_oracle_sql(
        f"select * from read_parquet('{input_path}/*.parquet')",
        use_toxicity="--toxicity" in wl.flags,
        from_html="--from-html" in wl.flags)
    key = hashlib.sha1(sql.encode()).hexdigest()[:16]
    cache = work / "oracle" / f"{key}.sum"
    if cache.exists():
        return cache.read_text()
    with duckdb.connect() as con:
        con.execute("set TimeZone = 'UTC'")  # the Spark session's zone
        value = _checksum(con, f"({sql})", _scrub_sum_cols(wl))
    cache.parent.mkdir(parents=True, exist_ok=True)
    cache.write_text(value)
    return value


def check_output(wl: Workload, input_path: Path, out: Path, reported: dict,
                 oracle: str | None) -> tuple[list[str], str]:
    """(failed check messages, content checksum) of one job run."""
    failures: list[str] = []
    data = f"read_parquet('{out}/job/data/*/*.parquet', hive_partitioning=true)"
    with duckdb.connect() as con:
        con.sql(f"create view data as select * from {data}")
        rows = con.sql("select count(*) from data").fetchone()[0]
        if wl.job == "scrub":
            audit = f"read_parquet('{out}/job/audit/*/*.parquet')"
            rows_in = con.sql(f"select sum(rows_in) from {audit}").fetchone()[0]
            window = reported.get("rows_in_window")
            if not (rows == rows_in == window):
                failures.append(f"audit rows_in {rows_in}, rows written {rows}, "
                                f"observed rows_in_window {window}")
            if (hits := _pii_hits(con, "data", "scrubbed_text")):
                failures.append(f"{hits} rows keep an email/phone match")
            tp, fp, fn = con.sql(
                f"select count(*) filter (d.keep and i.ref_keep),"
                f" count(*) filter (d.keep and not i.ref_keep),"
                f" count(*) filter (not d.keep and i.ref_keep)"
                f" from data d join read_parquet('{input_path}/*.parquet') i"
                f" using (url)").fetchone()
            f1 = 2 * tp / max(2 * tp + fp + fn, 1)
            if f1 < MIN_F1:
                failures.append(f"keep F1 {f1:.5f} < {MIN_F1}")
            checksum = _checksum(con, "data", _scrub_sum_cols(wl))
            if oracle is not None and checksum != oracle:
                failures.append(f"checksum {checksum} != DuckDB oracle {oracle}")
        else:
            audit = f"read_parquet('{out}/audit/*/*.parquet')"
            ids = con.sql("select count(distinct page_id) from data").fetchone()[0]
            if ids != rows:
                failures.append(f"{rows - ids} duplicate page_id rows")
            budgets = corpus_budgets(wl.docs)
            for lang, tokens in con.sql(
                    "select lang, sum(n_tok) from data group by lang").fetchall():
                if tokens > budgets.get(lang, 0):
                    failures.append(f"{lang}: {tokens} tokens > budget "
                                    f"{budgets.get(lang, 0)}")
            if (hits := _pii_hits(con, "data", "clean_text")):
                failures.append(f"{hits} rows keep an email/phone match")
            kept = con.sql(f"select sum(rows_kept) from {audit}").fetchone()[0]
            if kept != rows:
                failures.append(f"audit rows_kept {kept} != data rows {rows}")
            checksum = _checksum(con, "data", _CORPUS_SUM_COLS)
        if rows == 0:
            failures.append("no rows written")
    return failures, checksum
