#!/usr/bin/env python3
"""Crawl-engine benchmark: one workload through ``CrawlEngine.run_epoch``.

    python3 crawlbench/run.py --workload europarl-steady --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. One process, one fresh Spark session at
``local[nproc]`` (capped at 8) with shuffle partitions = nproc. A closed
loop: the benchmark owns the simulated clock and calls ``run_epoch(now)``
back to back, untimed warm-up epoch first, then measured epochs until
``--seconds`` have passed. The engine runs its default ``EngineConfig``;
the benchmark passes only ``prefetch_limit``, ``epoch_secs`` and
``crawl_delays``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` traces the
measured epochs, prints the per-layer metrics, writes the spans under
``.crawlbench/out/`` and re-runs the first measured epoch at ``local[1]``
for the scaling baseline. The last stdout line is the result JSON; the line
before it carries the input and output fingerprints.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from datetime import timedelta
from pathlib import Path

ROOT = Path.cwd()
WORK_ROOT = ROOT / ".crawlbench"
WARMUP_EPOCHS = 1
CORES = min(len(os.sched_getaffinity(0)), 8)
SCALING_CORES = 1

E2E_UNITS = {
    "urls_per_s": "url/s",
    "epoch_s_p50": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "store_bytes_per_url": "B/url",
    "success_frac": "ratio",
}


def parse_args(argv=None):
    from crawlbench.inputs import SCALES, WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SCALES), default="full")
    return p.parse_args(argv)


def spark_session(cores: int, work: Path):
    """Fresh local session whose scratch files all stay under ``work``."""
    for sub in ("spark-local", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # the short-lived launcher JVM would write a perf-data file to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    from europarl_crawler_spark import get_spark

    spark = get_spark(
        "crawlbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": str(work / "spark-local"),
            # A fixed, pre-touched 2 GB heap in place of the program's
            # default (8 GB maximum, grown on demand): how far G1 grows the
            # heap is GC-timing noise, so peak RSS measures what sits beyond
            # the heap. Heap use itself is the traced run's jvm.heap_live_mb.
            # No perf-data file: the JVM would write it to /tmp.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
                " -Xms2g -XX:+AlwaysPreTouch"
            ),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def log(msg: str) -> None:
    print(f"[crawlbench] {msg}", file=sys.stderr, flush=True)


def decode_phash_us(sample: list[tuple]) -> float:
    """Mean per-payload decode + phash64 time in this process."""
    from europarl_crawler_spark.functions import imaging

    t = time.perf_counter()
    for body, w, h, fmt in sample:
        imaging.phash64(imaging.decode(body, w, h, fmt))
    return (time.perf_counter() - t) / len(sample) * 1e6


def single_core_urls_per_s(spark, inp, paths: dict, store_dir: Path, now,
                           deadline: float) -> float:
    """urls_per_s of one epoch at local[1]: a fresh engine on the copy of
    the store taken before the first measured epoch, run at that epoch's
    clock, so it repeats exactly the work that epoch did. ``spark`` is a new
    local[1] session in the same, JIT-warm JVM. 0.0 if the epoch fails or
    is not done by ``deadline``."""
    from crawlbench.inputs import EPOCH_SECS
    from crawlbench.probes import cpu_ticks, ran_share

    from europarl_crawler_spark.plans.epoch import CrawlEngine
    from europarl_crawler_spark.sources.epochstore import EpochStore

    left = deadline - time.perf_counter()
    if left <= 0:
        log("scaling baseline: no time left")
        return 0.0
    delays = paths.get("crawl_delays")
    eng = CrawlEngine(
        spark, EpochStore(store_dir), spark.read.parquet(*paths["web"]),
        prefetch_limit=inp.prefetch_limit, epoch_secs=EPOCH_SECS,
        crawl_delays=spark.read.parquet(*delays) if delays else None,
    )
    watchdog = threading.Timer(left, spark.sparkContext.cancelAllJobs)
    watchdog.start()
    try:
        k, t = cpu_ticks(), time.perf_counter()
        s = eng.run_epoch(now)
        wall = (time.perf_counter() - t) * ran_share(k, cpu_ticks())
    except Exception as exc:  # cancelled by the watchdog, or broken
        log(f"scaling baseline: {type(exc).__name__}")
        return 0.0
    finally:
        watchdog.cancel()
    log(f"scaling baseline: local[{SCALING_CORES}] epoch {wall:.2f}s, drained {s['drained']}")
    return s["drained"] / wall


def run(args, work: Path) -> tuple[dict, dict]:
    """(result, detail) of one run, with scratch files under ``work``."""
    from crawlbench import inputs
    from crawlbench.checks import run_all
    from crawlbench.probes import (
        PeakRss, ProcessTree, SparkCounters, cpu_ticks, dir_bytes, ran_share,
    )
    from crawlbench.spans import PER_LAYER_UNITS, Tracer, mean_metrics

    from europarl_crawler_spark.plans.epoch import CrawlEngine
    from europarl_crawler_spark.sources.epochstore import EpochStore

    t_begin, k_begin = time.perf_counter(), cpu_ticks()
    tree = ProcessTree()
    spark = spark_session(CORES, work)
    try:
        spark_s = time.perf_counter() - t_begin

        t = time.perf_counter()
        inp = inputs.build(
            spark, args.workload, args.scale, args.seed, work, WORK_ROOT / "cache", ROOT
        )
        inputs_s = time.perf_counter() - t
        log(f"spark {spark_s:.1f}s, inputs {inputs_s:.1f}s")

        def clock(done: int):
            return inp.start + timedelta(days=done)

        t = time.perf_counter()
        eng = CrawlEngine(
            spark, EpochStore(work / "store"), inp.web,
            prefetch_limit=inp.prefetch_limit, epoch_secs=inputs.EPOCH_SECS,
            crawl_delays=inp.crawl_delays,
        )
        eng.bootstrap(inp.days)
        if inp.frontier is not None:
            eng.store.overwrite("frontier", inp.frontier, 0, keys=["url_id"])
        for _ in range(WARMUP_EPOCHS):
            eng.run_epoch(clock(eng.current_epoch()))
        setup_raw = spark_s + time.perf_counter() - t
        # inputs ran in between; the share of stolen CPU time is taken over
        # the whole interval
        setup_s = setup_raw * ran_share(k_begin, cpu_ticks())
        log(f"setup {setup_raw:.1f}s ({setup_s:.1f}s unstolen)")
        if args.trace:
            # the scaling baseline re-runs the first measured epoch from here
            snapshot = work / "store-before-measured"
            shutil.copytree(eng.store.root, snapshot)

        tracer = None
        if args.trace:
            tracer = Tracer(SparkCounters(spark.sparkContext))
            tracer.install()
        stats, walls, shares, raised = [], [], [], False
        store_bytes0 = dir_bytes(eng.store.root)
        with PeakRss(tree) as rss:
            rss.reset()
            t_meas = time.perf_counter()
            while len(stats) < inp.max_epochs and (
                not stats or time.perf_counter() - t_meas < args.seconds
            ):
                e = eng.current_epoch() + 1
                cpu0, k0 = tree.cpu_s(), cpu_ticks()
                t = time.perf_counter()
                try:
                    if tracer is None:
                        s = eng.run_epoch(clock(e - 1))
                        wall = time.perf_counter() - t
                    else:
                        with tracer.epoch(e) as root:
                            s = eng.run_epoch(clock(e - 1))
                        wall = root.dur
                        root.attrs["cpu_s"] = tree.cpu_s() - cpu0
                        root.attrs["frontier_rows"] = sum(
                            m["rows"] for m in eng.store.manifests("frontier")
                        )
                except Exception:
                    traceback.print_exc()
                    raised = True
                    break
                shares.append(ran_share(k0, cpu_ticks()))
                stats.append(s)
                walls.append(wall)
                log(f"epoch {e}: {wall:.2f}s ({wall * shares[-1]:.2f}s unstolen), "
                    f"drained {s['drained']}")
            peak_rss = rss.peak
        if tracer is not None:
            tracer.uninstall()
            heap_live = tracer.counters.live_heap_bytes()
        store_bytes = dir_bytes(eng.store.root) - store_bytes0

        attempted = len(stats) + raised
        bad, out_fp = set(), {}
        t = time.perf_counter()
        if stats:
            bad, out_fp = run_all(
                spark, eng.store, stats, inp.expected_drain, WARMUP_EPOCHS + 1
            )
        log(f"checks {time.perf_counter() - t:.1f}s")
        failed = len(bad) + raised
        drained = sum(s["drained"] for s in stats)
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "scale": args.scale,
            "cores": CORES,
            "inputs_s": inputs_s,
            "setup_wall_s": setup_raw,
            "input_fingerprint": inp.fingerprint,
            "output_fingerprint": out_fp,
            "epochs": [
                dict(s, wall_s=w, ran_share=r) for s, w, r in zip(stats, walls, shares)
            ],
            "failed_epochs": sorted(bad),
        }

        # epoch times exclude the CPU time the hypervisor stole (see NOTES)
        unstolen = [w * r for w, r in zip(walls, shares)]
        if not args.trace:
            metrics = {
                "urls_per_s": drained / max(sum(unstolen), 1e-9),
                "epoch_s_p50": statistics.median(unstolen) if unstolen else 0.0,
                "setup_s": setup_s,
                "peak_rss_mb": peak_rss / 1e6,
                "store_bytes_per_url": store_bytes / max(drained, 1),
                "success_frac": 1.0 - failed / attempted,
            }
            units = E2E_UNITS
        else:
            roots = [i for i, sp in enumerate(tracer.spans) if sp.name == "epoch"]
            per_epoch = [
                tracer.epoch_metrics(i, s, inp.expected_drain, CORES)
                for i, s in zip(roots, stats)
            ]
            metrics = mean_metrics(per_epoch)
            metrics["imaging.decode_phash_us"] = decode_phash_us(inputs.payload_sample(inp.web, 128))
            metrics["inputs.s"] = inputs_s
            metrics["inputs.rows"] = sum(f["rows"] for f in inp.fingerprint.values())
            metrics["hooks.absent"] = sum(not ok for ok in tracer.hooks.values())
            metrics["jvm.heap_live_mb"] = heap_live / 1e6
            detail["hooks"] = tracer.hooks
            units = PER_LAYER_UNITS

            ups_1 = 0.0
            if stats:
                paths = {"web": inp.web.inputFiles()}
                if inp.crawl_delays is not None:
                    paths["crawl_delays"] = inp.crawl_delays.inputFiles()
                spark.stop()  # the JVM stays up for the local[1] session
                spark = spark_session(SCALING_CORES, work)
                ups_1 = single_core_urls_per_s(
                    spark, inp, paths, snapshot, clock(stats[0]["epoch"] - 1),
                    t_begin + 165.0,
                )
            # the first measured epoch against the same epoch at local[1]; the
            # tracer's own cost in it is trace.overhead_frac (well under 1%)
            metrics["scaling.eff_1to4"] = (
                stats[0]["drained"] / unstolen[0] / (CORES * ups_1) if ups_1 else 0.0
            )
            out_dir = WORK_ROOT / "out"
            out_dir.mkdir(parents=True, exist_ok=True)
            spans_path = out_dir / f"spans-{args.workload}-seed{args.seed}.json"
            spans_path.write_text(json.dumps(
                {"detail": detail, "metrics": metrics, "spans": tracer.to_json(t_begin)}
            ))
            detail["spans"] = str(spans_path.relative_to(ROOT))
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    result = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    return result, detail


def main(argv=None) -> int:
    sys.path.insert(0, str(ROOT))
    if importlib.util.find_spec("europarl_crawler_spark") is None:
        print("europarl_crawler_spark not found: run from the root of a checkout",
              file=sys.stderr)
        return 2
    # temp files of this process, its JVM and its workers stay in the checkout
    work = WORK_ROOT / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    args = parse_args(argv)
    result, detail = run(args, work)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
