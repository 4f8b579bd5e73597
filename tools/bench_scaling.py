"""N→4N scaling-efficiency evidence (BASELINE.json criterion).

No multi-node cluster is assumed, so the two-cluster-size criterion is
evidenced EXECUTOR-STYLE: the north_rule compares N vs 4N *executors*, and
the closest one-host equivalent is

    N  executors = 1 spark-submit process  × local[1]
    4N executors = 4 CONCURRENT spark-submit processes × local[1],
                   each crawling a disjoint host shard

Every process runs ``jobs/scale_bench.py``, which drives the production
crawl loop, ``CrawlEngine.run_epoch``, over its shard of a pre-seeded
multi-host frontier. Host-sharding is how a real cluster partitions a
per-host-politeness frontier (politeness state, budgets, and drain order are
all per-host, so shards never interact — the same reason the drain salts by
host). Total work is identical at both levels: the 4 shards partition the
same workload; 4N throughput = total URLs / max(shard wall time).

Per-trial protocol (ADVICE r2): ``SCALE_TRIALS`` PAIRED trials (default 4) —
each trial runs the 1N leg and the 4N leg back-to-back (symmetric leg
counts, adjacent in time), bracketed by a single-threaded CPU calibration
probe so host-throttle windows are detected from data: a pair is
"same-window" when its legs' probe times agree within PROBE_TOL. The
HEADLINE statistic is the median of per-pair efficiencies over all pairs
(same-window median and best-of-N reported as supplementary). JVM pools
pinned per process (ActiveProcessorCount); one BLAS thread per Python
worker. Writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

HOSTS = int(os.environ.get("SCALE_HOSTS", "30000"))
URLS_PER_HOST = int(os.environ.get("SCALE_URLS_PER_HOST", "300"))
IMG_PX = int(os.environ.get("SCALE_IMG_PX", "8"))
EPOCHS = int(os.environ.get("SCALE_EPOCHS", "1"))
TRIALS = int(os.environ.get("SCALE_TRIALS", "4"))
CORES_PER_PROC = int(os.environ.get("SCALE_CORES_PER_PROC", "1"))
PROBE_TOL = float(os.environ.get("SCALE_PROBE_TOL", "1.5"))

_PROBE_CODE = """
import time, numpy as np
rng = np.random.default_rng(0)
a = rng.random((512, 512))
t0 = time.perf_counter()
for _ in range(30):
    a = (a @ a) % 1.0 + 0.1
print(round(time.perf_counter() - t0, 3))
"""


def read_cpu() -> dict:
    """System-wide CPU accounting snapshot from /proc/stat (seconds).
    Deltas around a leg attribute its wall time to user cycles, kernel
    cycles, hypervisor steal, and idle — direct evidence for WHERE a slow
    leg's time went, which a single-threaded userland probe cannot see (the
    VM's >8-thread ceiling is kernel/scheduler-side: syscall-heavy Spark
    collapses while a 1-thread matmul stays fast)."""
    hz = os.sysconf("SC_CLK_TCK")
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) / hz for x in parts[1:11]]
    user, nice, system, idle, iowait, irq, softirq, steal = vals[:8]
    return {
        "user": user + nice,
        "system": system + irq + softirq,
        "idle": idle + iowait,
        "steal": steal,
    }


def cpu_delta(c0: dict, c1: dict) -> dict:
    return {k: round(c1[k] - c0[k], 1) for k in c0}


def cpu_probe() -> float:
    """Single-threaded fixed CPU workload (fresh subprocess, BLAS pinned to
    one thread) — a host-condition fingerprint. Throttle windows show up as
    2-4x slower probes; legs whose probes agree ran under comparable host
    conditions."""
    env = dict(
        os.environ,
        OMP_NUM_THREADS="1",
        OPENBLAS_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
    )
    out = subprocess.run(
        [sys.executable, "-c", _PROBE_CODE],
        capture_output=True, text=True, env=env, timeout=300,
    )
    return float(out.stdout.strip())


def build_pyfiles_zip(dest: Path) -> Path:
    zpath = dest / "europarl_crawler_spark.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        for p in sorted((REPO / "europarl_crawler_spark").rglob("*.py")):
            z.write(p, p.relative_to(REPO))
    return zpath


def launch(
    cores: int,
    pkg_zip: Path,
    web_dir: str,
    workdir: Path,
    shard: int = 0,
    shards: int = 1,
    epochs: int = EPOCHS,
    barrier_dir: str | None = None,
) -> tuple[subprocess.Popen, str]:
    driver = workdir / "driver.py"
    if not driver.exists():
        driver.write_text(
            "from europarl_crawler_spark.jobs.scale_bench import main\n"
            "import sys\nmain(sys.argv[1:])\n"
        )
    store = tempfile.mkdtemp(prefix=f"scale-store-{cores}-{shard}-")
    spark_submit = shutil.which("spark-submit") or str(
        Path(sys.executable).parent / "spark-submit"
    )
    cmd = [
        spark_submit,
        "--master", f"local[{cores}]",
        "--conf", "spark.sql.shuffle.partitions=%d" % (cores * 2),
        "--conf", "spark.driver.memory=3g",
        "--conf", "spark.ui.enabled=false",
        # pin JVM-internal pools (GC/ForkJoin/codegen) to this process's
        # core share instead of the whole host
        "--conf", f"spark.driver.extraJavaOptions=-XX:ActiveProcessorCount={cores}",
        # one BLAS thread per python worker — oversubscription poisons scaling
        "--conf", "spark.executorEnv.OMP_NUM_THREADS=1",
        "--conf", "spark.executorEnv.OPENBLAS_NUM_THREADS=1",
        "--conf", "spark.executorEnv.MKL_NUM_THREADS=1",
        "--py-files", str(pkg_zip),
        str(driver),
        "--hosts", str(HOSTS),
        "--urls-per-host", str(URLS_PER_HOST),
        "--img-px", str(IMG_PX),
        "--epochs", str(epochs),
        "--web", web_dir,
        "--store", store,
        "--host-shard", str(shard),
        "--host-shards", str(shards),
    ] + (["--barrier-dir", barrier_dir] if barrier_dir else [])
    env = dict(
        os.environ,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    proc = subprocess.Popen(
        cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, env=env
    )
    return proc, store


def finish(proc: subprocess.Popen, store: str) -> list[dict]:
    """Wait for a scale_bench process; the JSON lines it printed."""
    out, err = proc.communicate(timeout=3600)
    shutil.rmtree(store, ignore_errors=True)
    if proc.returncode:
        sys.stderr.write(out[-2000:] + "\n" + err[-4000:])
        raise RuntimeError(f"scale_bench exited with {proc.returncode}")
    return [json.loads(l) for l in out.splitlines() if l.startswith("{")]


def ensure_web(pkg_zip: Path, web_dir: str, workdir: Path) -> None:
    if not os.path.isdir(web_dir):
        finish(*launch(CORES_PER_PROC, pkg_zip, web_dir, workdir, epochs=0))


def run_cluster(n_procs: int, pkg_zip: Path, web_dir: str, workdir: Path) -> dict:
    """One leg: n_procs executor-processes over disjoint host shards.

    A file barrier aligns the timed windows: every process finishes JVM
    startup + JIT warm-up, reports ready, and the timed epochs start
    simultaneously on "go". The /proc/stat CPU delta is taken from the "go"
    instant to the last process exit, so user/system/steal attribution
    covers TIMED work only — identically at both parallelism levels (the
    previous whole-process window billed 4× JVM startup+JIT to the 4N leg's
    work-efficiency)."""
    import time as _time

    bdir = tempfile.mkdtemp(prefix=f"scale-barrier-{n_procs}-")
    procs = [
        launch(
            CORES_PER_PROC, pkg_zip, web_dir, workdir,
            shard=i, shards=n_procs, barrier_dir=bdir,
        )
        for i in range(n_procs)
    ]
    deadline = _time.time() + 1800
    while len(list(Path(bdir).glob("ready-*"))) < n_procs:
        if _time.time() > deadline:
            for p, _ in procs:
                p.kill()
            raise RuntimeError("scale bench barrier timed out")
        _time.sleep(0.2)
    cpu0 = read_cpu()
    (Path(bdir) / "go").write_text("go")
    runs = [finish(p, s)[-1] for p, s in procs]
    cpu = cpu_delta(cpu0, read_cpu())
    shutil.rmtree(bdir, ignore_errors=True)
    urls = sum(r["urls_fetched"] for r in runs)
    wall = max(r["wall_sec"] for r in runs)
    busy = cpu["user"] + cpu["system"]
    return {
        "executors": n_procs,
        "cores_per_executor": CORES_PER_PROC,
        "urls_fetched": urls,
        # per-leg politeness audit (plans/politeness.budget_audit run by
        # each shard over its own request log) — MUST be 0
        "politeness_violations": sum(
            r.get("politeness_violations", 0) for r in runs
        ),
        "wall_sec": round(wall, 3),
        "urls_per_sec": round(urls / wall, 2),
        "cpu": cpu,
        "sys_frac": round(cpu["system"] / busy, 3) if busy else None,
        "urls_per_user_cpu_sec": round(urls / cpu["user"], 1) if cpu["user"] else None,
        "shards": [
            {"shard": i, "urls": r["urls_fetched"], "wall_sec": r["wall_sec"]}
            for i, r in enumerate(runs)
        ],
    }


def main() -> None:
    workdir = Path(tempfile.mkdtemp(prefix="scale-bench-"))
    pkg_zip = build_pyfiles_zip(workdir)
    web_dir = os.environ.get("SCALE_WEB_DIR") or str(workdir / "web")
    ensure_web(pkg_zip, web_dir, workdir)

    levels = [1, 4]
    trials: dict[int, list[dict]] = {lvl: [] for lvl in levels}
    # SCALE_SEED_JSON: jsonl of prior raw trial rows (the "Raw JSON" block of
    # an earlier BENCH/BASELINE.md) — merged so the headline accumulates
    # trials across runs instead of discarding paid-for evidence. Legs must
    # stay symmetric (ADVICE r2).
    seed = os.environ.get("SCALE_SEED_JSON")
    if seed:
        for line in Path(seed).read_text().splitlines():
            line = line.strip()
            if line:
                r = json.loads(line)
                trials[r["executors"]].append(r)
        if len(trials[1]) != len(trials[4]):
            raise SystemExit("seed legs asymmetric: 1N vs 4N trial counts differ")
    base = len(trials[1])
    for t in range(TRIALS):
        for lvl in levels:  # legs back-to-back: paired, symmetric counts
            probe = cpu_probe()
            r = run_cluster(lvl, pkg_zip, web_dir, workdir)
            r["trial"] = base + t + 1
            r["probe_sec"] = probe
            trials[lvl].append(r)
            print(json.dumps(r), flush=True)

    pairs = []
    for r1, r4 in zip(trials[1], trials[4]):
        probe_ratio = max(r1["probe_sec"], r4["probe_sec"]) / min(
            r1["probe_sec"], r4["probe_sec"]
        )
        eff_work = None
        if r1["urls_per_user_cpu_sec"] and r4["urls_per_user_cpu_sec"]:
            # engine work-efficiency: user cycles consumed per URL, 4N vs 1N.
            # A value near 1.0 means 4x parallelism added no per-URL engine
            # work; any wall-efficiency gap below it is host scheduling
            # (kernel/steal), quantified by the cpu deltas alongside.
            eff_work = round(
                r4["urls_per_user_cpu_sec"] / r1["urls_per_user_cpu_sec"], 3
            )
        pairs.append(
            {
                "trial": r1["trial"],
                "eff": round((r4["urls_per_sec"] / r1["urls_per_sec"]) / 4, 3),
                "eff_work": eff_work,
                "sys_frac_1n": r1["sys_frac"],
                "sys_frac_4n": r4["sys_frac"],
                "probe_1n": r1["probe_sec"],
                "probe_4n": r4["probe_sec"],
                "probe_ratio": round(probe_ratio, 2),
                "same_window": probe_ratio <= PROBE_TOL,
            }
        )
        print(json.dumps(pairs[-1]), flush=True)

    med = {
        lvl: statistics.median(r["urls_per_sec"] for r in rs)
        for lvl, rs in trials.items()
    }
    best = {lvl: max(r["urls_per_sec"] for r in rs) for lvl, rs in trials.items()}
    # HEADLINE: median of per-pair efficiencies over ALL pairs — no window
    # selection (ADVICE r2: the probe filter can exclude a clean pair while
    # keeping one that degraded mid-leg; the median is already robust to
    # throttle outliers, and every pair's probe + /proc/stat steal is
    # published so degraded windows are visible rather than discarded).
    eff_paired_all = statistics.median(p["eff"] for p in pairs)
    valid = [p for p in pairs if p["same_window"]] or pairs
    eff_paired = statistics.median(p["eff"] for p in valid)  # supplementary
    eff_best = (best[4] / best[1]) / 4  # supplementary
    eff_med = (med[4] / med[1]) / 4

    eff_work_med = statistics.median(
        p["eff_work"] for p in pairs if p["eff_work"] is not None
    )
    sys1_med = statistics.median(r["sys_frac"] for r in trials[1])
    sys4_med = statistics.median(r["sys_frac"] for r in trials[4])
    steal = {
        lvl: round(
            statistics.median(
                r["cpu"]["steal"] / max(r["wall_sec"], 1e-9) for r in rs
            ),
            2,
        )
        for lvl, rs in trials.items()
    }

    def rows(lvl):
        return "\n".join(
            f"| {lvl}×local[{CORES_PER_PROC}] | {r['trial']} | "
            f"{r['urls_fetched']} | {r['wall_sec']} | {r['urls_per_sec']} | "
            f"{r['probe_sec']} | {r['cpu']['user']} | {r['cpu']['system']} | "
            f"{r['cpu']['steal']} | {r['urls_per_user_cpu_sec']} | "
            f"{r.get('politeness_violations', 'n/a')} |"
            for r in trials[lvl]
        )

    pair_rows = "\n".join(
        f"| {p['trial']} | {p['eff']} | {p['eff_work']} | {p['sys_frac_1n']} | "
        f"{p['sys_frac_4n']} | {p['probe_ratio']} | "
        f"{'yes' if p['same_window'] else 'NO'} |"
        for p in pairs
    )

    bench_dir = REPO / "BENCH"
    bench_dir.mkdir(exist_ok=True)
    md = f"""# BENCH/BASELINE — frontier-drain throughput & N→4N scaling

Job: `europarl_crawler_spark/jobs/scale_bench.py` via
`spark-submit --master local[{CORES_PER_PROC}] --py-files europarl_crawler_spark.zip`.

## Evidence protocol: N vs 4N *executors*

No multi-node cluster exists in this sandbox; the north_rule's two cluster
sizes are evidenced executor-style on one host:

- **N executors** = 1 spark-submit process × local[{CORES_PER_PROC}] over the
  full workload;
- **4N executors** = 4 CONCURRENT spark-submit processes × local[{CORES_PER_PROC}],
  each crawling a disjoint host shard (`pmod(host_hash, 4) == shard`).

Host-sharding is how a real cluster partitions a per-host-politeness
frontier: politeness state, budgets, and drain order are all per-host, so
shards never interact (the same property the salted drain exploits). Total
work is identical at both levels — the 4 shards partition the same workload;
4N throughput = total URLs / max(shard wall).

Workload: {HOSTS} politeness domains × {URLS_PER_HOST} URLs ({IMG_PX}px image
payloads, {HOSTS * URLS_PER_HOST} content-store rows), pre-seeded into each
process's frontier at epoch 0. Every process runs the production crawl loop,
`CrawlEngine.run_epoch` on the default `EngineConfig`: one untimed warm-up
epoch on the same store (pays JIT/codegen/Arrow-worker startup and the
seen-sketch build), then {EPOCHS} timed epoch(s). The engine's epoch length
is `scale_bench.EPOCH_SECS` = 2·10^7 s, more than 100 × the slowest bucket
interval (3 s × 2^16), so every host drains exactly the bucket cap of 100
URLs an epoch ({HOSTS * 100} URLs per epoch across the shards): frontier
growth + seen gate → pending from `url_state` → two-stage salted priority
drain → content-store fetch → `requests` and `url_state` commits → Arrow
decode+phash extract → `documents` merge → politeness update → ledger.

## Measurement protocol (paired same-window trials — ADVICE r2)

{len(pairs)} PAIRED trials (accumulated across harness runs on the same
workload when SCALE_SEED_JSON carries prior raw rows forward); each trial
runs the 1N leg then the 4N leg
back-to-back (symmetric leg counts, adjacent in time). Every leg is preceded
by a single-threaded fixed CPU probe (512² matmul ×30, BLAS pinned) — a
host-condition fingerprint: hypervisor-throttle windows show as 2-4× slower
probes. The statistic the target is judged on is the MEDIAN of per-pair
efficiencies over ALL pairs — no window selection: the median is robust to
throttle outliers, and each pair's probe ratio plus per-leg `/proc/stat`
user/system/steal deltas are published alongside so degraded windows are
visible rather than silently discarded (a pre-leg probe can pass while the
hypervisor throttles mid-leg, and vice versa). Pairs whose probes agree
within {PROBE_TOL}× are additionally marked **same-window**; that subset's
median, best-of-N, and unpaired medians are supplementary. JVM pools pinned
per process
(`-XX:ActiveProcessorCount`); one BLAS thread per Python worker.

**Start barrier.** Within a leg, every executor-process finishes JVM
startup + JIT warm-up (one untimed `run_epoch`), reports ready, and
the timed epochs start simultaneously on a file-barrier "go" — so the leg's
makespan is the true concurrent makespan and none of a process's startup
overlaps another's timed window.

Every leg records system-wide `/proc/stat` deltas from the barrier-release
instant to the last process exit (user / kernel / hypervisor-steal
CPU-seconds; nothing else runs on the host) — i.e. over TIMED work only,
identically at both levels. The single-threaded probe fingerprints userland
speed, but a host's concurrency ceiling can be KERNEL-side (syscall and
scheduler time rising with busy threads) — invisible to a 1-thread matmul.
The `/proc/stat` deltas see it directly: they attribute each leg's
wall time to engine work (user), host kernel overhead (system), and
hypervisor preemption (steal). From them, **work efficiency** = URLs per
user-CPU-second at 4N divided by the same at 1N — the engine-attributable
scaling number: 1.0 means 4× parallelism added zero engine work per URL, and
any wall-efficiency gap below it is host scheduling, quantified in the same
row.

**Politeness audit.** After its timed epochs, every executor-process runs
`plans/politeness.budget_audit` over the request log it wrote: the count of
(epoch, host) groups exceeding the budget of the `politeness` snapshot in
force at that epoch (must be 0 — the log-side proof that the throughput
above was earned under the north_rule's politeness budget, not by ignoring
it). The per-trial column is the sum across the leg's shards.

## Trials

| level | trial | URLs fetched+extracted | wall (s) | throughput (URLs/s) | probe (s) | user cpu (s) | sys cpu (s) | steal (s) | URLs/user-cpu-s | politeness violations |
|---|---|---|---|---|---|---|---|---|---|---|
{rows(1)}
{rows(4)}

## Paired efficiencies

| trial | wall eff (thpt_4N/thpt_1N)/4 | work eff (per-user-cpu) | sys frac 1N | sys frac 4N | probe ratio | same window? |
|---|---|---|---|---|---|---|
{pair_rows}

## Result

**Wall scaling efficiency = {eff_paired_all:.3f}** — median of per-pair
efficiencies over all {len(pairs)} paired trials, no window selection
(target ≥ 0.8).

**Work (engine-attributable) efficiency = {eff_work_med:.3f}** — median of
per-pair URLs-per-user-CPU-second ratios; 1.0 would mean the 4N leg spent no
more user CPU per URL than the 1N leg. The kernel-time fraction of busy CPU
is {sys1_med:.0%} (1N) and {sys4_med:.0%} (4N) (median across legs;
hypervisor steal medians {steal[1]} / {steal[4]} CPU-s per wall-s).

Supplementary statistics: median over the {len(valid)}/{len(pairs)}
same-window pairs {eff_paired:.3f};
best-of-N legs (thpt {best[4]:.0f} / {best[1]:.0f}) → {eff_best:.3f};
median-of-legs (unpaired) {eff_med:.3f}. Per-level throughput:
1N best {best[1]:.0f} / median {med[1]:.0f} URLs/s; 4N best {best[4]:.0f} /
median {med[4]:.0f} URLs/s.

## Why 1×local[{CORES_PER_PROC}] vs 4×local[{CORES_PER_PROC}]

Four single-core processes keep the 4N leg's busy threads within the host's
cores while still running true multi-process executor parallelism, which is
what a multi-executor deployment runs.

Raw JSON (all executor-style trials):

```json
{os.linesep.join(json.dumps(r) for lvl in levels for r in trials[lvl])}
```
"""
    (bench_dir / "BASELINE.md").write_text(md)
    print(
        f"wall_eff={eff_paired_all:.3f} work_eff={eff_work_med:.3f} "
        f"(median of all {len(pairs)} pairs; same-window subset "
        f"{eff_paired:.3f}, best {eff_best:.3f}; sys_frac "
        f"{sys1_med:.2f}->{sys4_med:.2f}) -> BENCH/BASELINE.md"
    )


if __name__ == "__main__":
    main()
