"""Job-level benchmark for ``jobs/run_scrub.py`` and ``jobs/build_corpus.py``.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``. See ``perfbench/README.md``.
"""
