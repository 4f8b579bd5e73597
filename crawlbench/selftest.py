#!/usr/bin/env python3
"""Tiny-size self-test of the benchmark.

    python3 crawlbench/selftest.py

For every workload at ``--scale tiny`` (seed 1) it runs ``run.py`` once
untraced and once traced, and checks that:

- BENCHMARK.json names exactly the metrics and units the code prints;
- the untraced run prints every end-to-end metric with its unit, the traced
  run every per-layer metric with its unit;
- both runs are correct (output checks pass) and every hook attached;
- both runs report the same input and output fingerprints;
- in a directory holding only BENCHMARK.json and the benchmark, a run exits
  non-zero without printing a result;
- the frontier check passes a clean frontier chain and fails one where a
  merge commits a url_id the frontier already holds.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
sys.path.insert(0, str(ROOT))

from crawlbench.inputs import WORKLOADS  # noqa: E402
from crawlbench.run import E2E_UNITS  # noqa: E402
from crawlbench.spans import PER_LAYER_UNITS  # noqa: E402


def run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "crawlbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, text=True, timeout=600)


def check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def units(metrics: list[dict]) -> dict:
    return {m["name"]: m["unit"] for m in metrics}


def frontier_check_case() -> None:
    """``checks.frontier_unique`` on a tiny store: clean, then doubled."""
    from crawlbench.checks import frontier_unique
    from crawlbench.run import spark_session, stop_spark
    from europarl_crawler_spark.sources.epochstore import EpochStore

    work = ROOT / ".crawlbench" / f"selftest-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)  # the session sets paths the later runs must not inherit
    os.environ["TMPDIR"] = str(work / "tmp")
    spark = spark_session(1, work)
    try:
        def rows(ids):
            return spark.createDataFrame([(i, f"u{i}") for i in ids], "url_id long, url string")

        store = EpochStore(work / "store")
        store.overwrite("frontier", rows([1, 2, 3]), 0, keys=["url_id"])
        store.merge("frontier", rows([4, 5]), 1, keys=["url_id"])
        clean = frontier_unique(spark, store)
        store.merge("frontier", rows([5, 6]), 2, keys=["url_id"])
        doubled = frontier_unique(spark, store)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        os.environ.clear()
        os.environ.update(env)
    check(clean and not doubled, "frontier check passes a clean chain, fails a doubled merge")


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    check(units(spec["end_to_end"]) == E2E_UNITS, "BENCHMARK.json end_to_end matches run.py")
    check(units(spec["per_layer"]) == PER_LAYER_UNITS, "BENCHMARK.json per_layer matches spans.py")
    check({w["name"] for w in spec["workloads"]} <= set(WORKLOADS), "workloads are known")
    frontier_check_case()

    for workload in WORKLOADS:
        seen = []
        for trace, want in ((0, E2E_UNITS), (1, PER_LAYER_UNITS)):
            p = run(ROOT, workload, trace)
            check(p.returncode == 0, f"{workload} trace={trace} exits 0")
            detail = json.loads(p.stdout.splitlines()[-2])["detail"]
            res = json.loads(p.stdout.splitlines()[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{workload} trace={trace} prints every metric with its unit")
            check(res["correct"] and res["failed"] == 0, f"{workload} trace={trace} output checks pass")
            if trace:
                absent = [h for h, ok in detail["hooks"].items() if not ok]
                check(not absent, f"{workload} every hook attached {absent or ''}")
            seen.append((detail["input_fingerprint"], detail["output_fingerprint"]))
        check(seen[0] == seen[1], f"{workload} fingerprints repeat across runs")

    bare = ROOT / ".crawlbench" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(ROOT / "crawlbench", bare / "crawlbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    p = run(bare, WORKLOADS[0], 0)
    check(p.returncode != 0 and '"correct"' not in p.stdout,
          "without the program: non-zero exit, no result")
    shutil.rmtree(bare)
    return 0


if __name__ == "__main__":
    sys.exit(main())
