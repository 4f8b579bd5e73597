#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, and agreement of repeated sets.

    python3 crawlbench/spread.py --workload multihost-fetch --seeds 1-10 --sets 2

Runs ``run.py`` once per seed (sequentially, ``run_seconds`` from
BENCHMARK.json, untraced), ``--sets`` times over the same seeds. For each
set it prints, per metric, the median and the quartile distance as a share
of the median next to the metric's bound. For every later set it prints how
far each median moved from the first set's, in the metric's worse direction,
as a share of the first median, and whether every seed gave the same input
and output fingerprints as in the first set. Each run's result and detail
lines are appended to ``.crawlbench/out/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_set(spec: dict, workload: str, seeds: list[int], log: Path) -> tuple[dict, dict]:
    """({metric: [value per seed]}, {seed: (input, output) fingerprints})."""
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    prints = {}
    for seed in seeds:
        cmd = [*spec["command"], "--workload", workload, "--seed", str(seed),
               "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
        lines = out.strip().splitlines()
        with open(log, "a") as f:
            f.write("\n".join(lines[-2:]) + "\n")
        detail = json.loads(lines[-2])["detail"]
        res = json.loads(lines[-1])
        print(f"seed {seed}: correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k in values:
            values[k].append(res["metrics"][k]["value"])
        prints[seed] = (detail["input_fingerprint"], detail["output_fingerprint"])
    return values, prints


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    p.add_argument("--sets", type=int, default=1)
    args = p.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    log = ROOT / ".crawlbench" / "out" / f"spread-{args.workload}.jsonl"
    log.parent.mkdir(parents=True, exist_ok=True)

    sets = []
    for n in range(args.sets):
        print(f"set {n + 1}", flush=True)
        values, prints = run_set(spec, args.workload, args.seeds, log)
        for m in spec["end_to_end"]:
            v = values[m["name"]]
            med = statistics.median(v)
            q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (med, med, med)
            share = (q3 - q1) / med if med else float("inf")
            print(f"{m['name']:<22} median {med:<12.5g} spread {share:.4f}  bound {m['bound']}")
        sets.append((values, prints))

    first_values, first_prints = sets[0]
    for n, (values, prints) in enumerate(sets[1:], start=2):
        print(f"set {n} against set 1")
        for m in spec["end_to_end"]:
            m1 = statistics.median(first_values[m["name"]])
            m2 = statistics.median(values[m["name"]])
            worse = (m2 - m1) if m["better"] == "lower" else (m1 - m2)
            share = worse / m1 if m1 else 0.0
            print(f"{m['name']:<22} median {m1:<12.5g} -> {m2:<12.5g} worse by {share:+.4f}"
                  f"  bound {m['bound']}")
        same = [s for s in args.seeds if prints[s] == first_prints[s]]
        print(f"fingerprints identical for {len(same)}/{len(args.seeds)} seeds")
    return 0


if __name__ == "__main__":
    sys.exit(main())
