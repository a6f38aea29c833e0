"""Self-test of the extraction benchmark at tiny size (a few dozen pages,
sf0.001 lineitem rows). Run from the root of a checkout:

    python3 extraction_bench/selftest.py

It runs every workload untraced and traced and checks that each summary
line names exactly the metrics (and units) BENCHMARK.json lists, with every
output check passing; that the locally written pages equal the rows
`synth_pages` yields; and that a directory holding only the benchmark makes
it fail without printing a summary.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SUMMARY_KEYS = {"correct", "attempted", "failed", "metrics"}


def check(ok: bool, what: str) -> None:
    if not ok:
        raise SystemExit(f"selftest FAILED: {what}")
    print("ok:", what, flush=True)


def run_bench(cwd: str, workload: str, trace: int) -> tuple[int, list[str]]:
    cmd = [sys.executable, os.path.join("extraction_bench", "run.py"),
           "--workload", workload, "--seed", "1", "--seconds", "1",
           "--trace", str(trace), "--size", "tiny"]
    res = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE,
                         stderr=subprocess.DEVNULL, text=True, timeout=600)
    return res.returncode, res.stdout.splitlines()


def check_summaries(bench: dict) -> None:
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    for workload in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            rc, out = run_bench(ROOT, workload, trace)
            tag = f"{workload} --trace {trace}"
            check(rc == 0 and bool(out), f"{tag} exits 0 with output")
            summary = json.loads(out[-1])
            check(set(summary) == SUMMARY_KEYS, f"{tag} summary keys")
            got = {k: v["unit"] for k, v in summary["metrics"].items()}
            check(got == want[trace], f"{tag} metric names and units match BENCHMARK.json")
            check(all(math.isfinite(v["value"]) for v in summary["metrics"].values()),
                  f"{tag} metric values are finite numbers")
            check(summary["correct"] and summary["failed"] == 0
                  and summary["attempted"] > 0, f"{tag} outputs check out")


def check_bare_dir() -> None:
    bare = os.path.join(ROOT, ".extraction_bench_work", "selftest_bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "extraction_bench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, out = run_bench(bare, "html_extract", 0)
        check(rc != 0 and not any(line.startswith("{") for line in out),
              "a directory with only the benchmark fails without a summary")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def check_pages_match_synth_pages() -> None:
    sys.path.insert(0, ROOT)
    from extraction_bench.run import prepare_env, stop_spark

    work = os.path.join(ROOT, ".extraction_bench_work", "selftest_pages")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work, trace=False)
    try:
        import pandas as pd

        from extraction_bench.inputs import write_pages
        from pdf_plumber_util_spark.session import get_spark
        from pdf_plumber_util_spark.sources.pages import synth_pages

        write_pages(f"{work}/pages", 12, 5, 3)
        spark = get_spark(app_name="extraction_bench_selftest", cores=2, shuffle_partitions=2)
        try:
            cols = ["url", "html", "text", "lang"]
            ours = pd.read_parquet(f"{work}/pages")
            theirs = synth_pages(spark, 12, seed=5).toPandas()
            same = (ours[cols].reset_index(drop=True).equals(theirs[cols])
                    and (ours["warc_ts"].dt.tz_localize(None).to_numpy()
                         == theirs["warc_ts"].to_numpy()).all())
        finally:
            stop_spark(spark)
        check(bool(same), "written pages equal synth_pages(spark, n, seed) rows")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    check_bare_dir()
    check_pages_match_synth_pages()
    check_summaries(bench)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
