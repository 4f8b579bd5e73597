"""Spans around calls into the engine's layers, installed from outside.

The program carries no tracing of its own. ``Tracer.install`` wraps the
names the engine looks up:

- ``plans.epoch`` imports its plan builders by name, so the wrappers
  replace those names in that module;
- ``EpochStore`` write/read/manifest methods and the seen-sketch methods
  are patched on their classes.

A hook whose target no longer exists is reported absent, not raised.
Spans are recorded only inside an epoch root span and kept in memory; each
carries name, start, end, parent, epoch id and the job/stage id range it
covered. Stage metrics are read from the status store when the epoch's
root span closes.
"""

from __future__ import annotations

import functools
import importlib
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from .probes import SparkCounters, dir_bytes

TABLES = ("frontier", "requests", "url_state", "documents", "politeness", "metrics", "epochs")

# plan builders run_epoch looks up in its own module namespace, by layer
BUILDERS = {
    "frontier": ("session_day_probes", "todo_combos", "recrawl_candidates", "priority_drain"),
    "politeness": ("host_budgets", "politeness_update"),
    "fetch": ("simulate_requests", "extract_documents"),
}
STORE_WRITES = ("merge", "append", "overwrite", "delete", "compact")
SKETCHES = (
    ("functions.seen", "BloomShardStore", "build", "seen.build"),
    ("functions.cuckoo", "CuckooShardStore", "build", "seen.build"),
    ("functions.cuckoo", "CuckooShardStore", "add_many", "seen.add"),
    ("functions.cuckoo", "CuckooShardStore", "delete_many", "seen.delete"),
)
PKG = "europarl_crawler_spark"


@dataclass
class Span:
    name: str
    parent: int | None
    epoch: int
    start: float = 0.0
    end: float = 0.0
    ids0: tuple | None = None  # (next job id, next stage id) at entry
    ids1: tuple | None = None  # ... and at exit
    cost: float = 0.0  # the tracer's own work for this span, in seconds
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> int:
        return self.ids1[0] - self.ids0[0] if self.ids0 else 0


class Tracer:
    def __init__(self, counters: SparkCounters):
        self.counters = counters
        self.spans: list[Span] = []
        self.hooks: dict[str, bool] = {}
        self._stack: list[int] = []
        self._undo: list[tuple] = []

    # -- spans ---------------------------------------------------------------

    def _open(self, name, parent, epoch, count_jobs) -> Span:
        sp = Span(name, parent, epoch)
        t = time.perf_counter()
        if count_jobs:
            sp.ids0 = self.counters.ids()
        sp.start = time.perf_counter()
        sp.cost = sp.start - t
        self._stack.append(len(self.spans))
        self.spans.append(sp)
        return sp

    def _close(self, sp: Span, count_jobs) -> None:
        sp.end = time.perf_counter()
        if count_jobs:
            sp.ids1 = self.counters.ids()
            sp.cost += time.perf_counter() - sp.end
        self._stack.pop()

    @contextmanager
    def epoch(self, e: int):
        """Root span of one ``run_epoch`` call."""
        sp = self._open("epoch", None, e, True)
        try:
            yield sp
        finally:
            self._close(sp, True)
            self.counters.drain()
            self.counters.stages(sp.ids0[1], sp.ids1[1])  # read while retained

    @contextmanager
    def span(self, name: str, count_jobs: bool = True):
        """Child span of the innermost open span; a no-op outside an epoch."""
        if not self._stack:
            yield None
            return
        parent = self._stack[-1]
        sp = self._open(name, parent, self.spans[parent].epoch, count_jobs)
        try:
            yield sp
        finally:
            self._close(sp, count_jobs)

    # -- hooks ---------------------------------------------------------------

    def _wrap(self, fn, name_of, count_jobs=True, on_result=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name_of(args), count_jobs) as sp:
                out = fn(*args, **kwargs)
            if sp is not None and on_result is not None:
                t = time.perf_counter()
                on_result(sp, args, out)
                sp.cost += time.perf_counter() - t
            return out

        return traced

    def _patch(self, hook: str, owner, attr: str, make) -> None:
        orig = owner.__dict__.get(attr) if owner is not None else None
        self.hooks[hook] = orig is not None
        if orig is None:
            return
        if isinstance(orig, (classmethod, staticmethod)):
            new = type(orig)(make(orig.__func__))
        else:
            new = make(orig)
        setattr(owner, attr, new)
        self._undo.append((owner, attr, orig))

    def install(self) -> dict[str, bool]:
        """Attach every hook; returns {hook: attached}."""

        def load(mod, cls=None):
            try:
                m = importlib.import_module(f"{PKG}.{mod}")
            except ImportError:
                return None
            return getattr(m, cls, None) if cls else m

        epoch_mod = load("plans.epoch")
        for layer, names in BUILDERS.items():
            for n in names:
                self._patch(
                    f"plans.epoch.{n}", epoch_mod, n,
                    lambda f, s=f"{layer}.{n}": self._wrap(f, lambda a: s),
                )

        store_cls = load("sources.epochstore", "EpochStore")

        def commit_done(sp, args, manifest):
            store, table = args[0], args[1]
            sp.attrs["rows"] = manifest["rows"]
            sp.attrs["bytes"] = dir_bytes(store.root / table / f"epoch={manifest['epoch']}")

        for m in STORE_WRITES:
            prefix = "store.compact." if m == "compact" else "store."
            self._patch(
                f"EpochStore.{m}", store_cls, m,
                lambda f, p=prefix: self._wrap(f, lambda a: p + a[1], on_result=commit_done),
            )
        self._patch("EpochStore.read", store_cls, "read",
                    lambda f: self._wrap(f, lambda a: "store.read"))
        self._patch("EpochStore.manifests", store_cls, "manifests",
                    lambda f: self._wrap(f, lambda a: "store.manifests", count_jobs=False))
        for mod, cls, attr, name in SKETCHES:
            self._patch(f"{cls}.{attr}", load(mod, cls), attr,
                        lambda f, s=name: self._wrap(f, lambda a: s))
        return self.hooks

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # -- results ---------------------------------------------------------------

    def to_json(self, t0: float) -> list[dict]:
        out = []
        for sp in self.spans:
            d = asdict(sp)
            d["start"], d["end"] = round(sp.start - t0, 6), round(sp.end - t0, 6)
            out.append(d)
        return out

    def epoch_metrics(self, root: int, stats: dict, expected: int, cores: int) -> dict:
        """Per-layer numbers of one traced epoch (root = its span index)."""
        r = self.spans[root]
        mine = [i for i, s in enumerate(self.spans) if s.epoch == r.epoch and i != root]
        child_dur = {i: 0.0 for i in [root, *mine]}
        for i in mine:
            child_dur[self.spans[i].parent] += self.spans[i].dur

        def self_s(i):
            return self.spans[i].dur - child_dur[i]

        def named(pred):
            return [i for i in mine if pred(self.spans[i].name)]

        def total(idx, key):
            if key == "s":
                return sum(self.spans[i].dur for i in idx)
            if key == "jobs":
                return sum(self.spans[i].jobs for i in idx)
            if key in ("rows", "bytes"):
                return sum(self.spans[i].attrs.get(key, 0) for i in idx)
            return sum(
                self.counters.stages(self.spans[i].ids0[1], self.spans[i].ids1[1])[key]
                for i in idx
            )

        st = self.counters.stages(r.ids0[1], r.ids1[1])
        drained = stats["drained"]
        m = {
            "epoch.s": r.dur,
            "epoch.jobs": r.jobs,
            "epoch.stages": st["stages"],
            "epoch.tasks": st["tasks"],
            "epoch.task_s": st["task_s"],
            "epoch.shuffle_mb": st["shuffle_mb"],
            "epoch.cpu_util": r.attrs["cpu_s"] / (r.dur * cores),
            "epoch.untraced_s": self_s(root),
        }
        for t in TABLES:
            idx = named(lambda n, t=t: n == f"store.{t}")
            for key in ("s", "jobs", "task_s", "shuffle_mb", "bytes"):
                m[f"store.{t}.{key}"] = total(idx, key)
        for n in ("read", "manifests"):
            idx = named(lambda x, n=n: x == f"store.{n}")
            m[f"store.{n}.calls"] = len(idx)
            m[f"store.{n}.s"] = total(idx, "s")
        build = named(lambda n: n == "seen.build")
        m["seen.build.s"] = total(build, "s")
        m["seen.build.jobs"] = total(build, "jobs")
        m["seen.add.s"] = total(named(lambda n: n == "seen.add"), "s")
        for layer in BUILDERS:
            m[f"{layer}.plan_s"] = total(named(lambda n, p=layer + ".": n.startswith(p)), "s")
        m["frontier.new_rows"] = total(named(lambda n: n == "store.frontier"), "rows")
        m["frontier.rows"] = r.attrs["frontier_rows"]
        m["politeness.hosts"] = total(named(lambda n: n == "store.politeness"), "rows")
        m["politeness.budget_use"] = drained / expected
        m["fetch.urls"] = drained
        m["fetch.ok_frac"] = stats["fetched_ok"] / max(drained, 1)
        m["fetch.dead_letter_frac"] = stats["dead_letter"] / max(drained, 1)
        docs = total(named(lambda n: n == "store.documents"), "rows")
        m["fetch.docs_per_ok"] = docs / max(stats["fetched_ok"], 1)
        fetch_writes = named(lambda n: n in ("store.requests", "store.documents"))
        gate = named(lambda n: n in ("store.frontier", "store.read") or n.startswith("seen."))
        m["share.fetch_writes"] = sum(self_s(i) for i in fetch_writes) / r.dur
        m["share.frontier_seen_read"] = sum(self_s(i) for i in gate) / r.dur
        # child spans' bookkeeping is the only tracer work inside the epoch
        m["trace.overhead_frac"] = sum(self.spans[i].cost for i in mine) / r.dur
        return m


def mean_metrics(per_epoch: list[dict]) -> dict:
    """Per-epoch mean of each metric; zeros when no epoch was traced."""
    if not per_epoch:
        return dict.fromkeys(PER_LAYER_UNITS, 0.0)
    return {k: statistics.fmean(d[k] for d in per_epoch) for k in per_epoch[0]}


def _per_layer_units() -> dict[str, str]:
    u = {
        "epoch.s": "s", "epoch.jobs": "count", "epoch.stages": "count",
        "epoch.tasks": "count", "epoch.task_s": "s", "epoch.shuffle_mb": "MB",
        "epoch.cpu_util": "ratio", "epoch.untraced_s": "s",
    }
    for t in TABLES:
        u.update({f"store.{t}.s": "s", f"store.{t}.jobs": "count",
                  f"store.{t}.task_s": "s", f"store.{t}.shuffle_mb": "MB",
                  f"store.{t}.bytes": "B"})
    for n in ("read", "manifests"):
        u.update({f"store.{n}.calls": "count", f"store.{n}.s": "s"})
    u.update({
        "seen.build.s": "s", "seen.build.jobs": "count", "seen.add.s": "s",
        "frontier.plan_s": "s", "frontier.new_rows": "count", "frontier.rows": "count",
        "politeness.plan_s": "s", "politeness.hosts": "count",
        "politeness.budget_use": "ratio",
        "fetch.plan_s": "s", "fetch.urls": "count", "fetch.ok_frac": "ratio",
        "fetch.dead_letter_frac": "ratio", "fetch.docs_per_ok": "ratio",
        "share.fetch_writes": "ratio", "share.frontier_seen_read": "ratio",
        "imaging.decode_phash_us": "us", "trace.overhead_frac": "ratio",
        "inputs.s": "s", "inputs.rows": "count", "hooks.absent": "count",
        "scaling.eff_1to4": "ratio", "jvm.heap_live_mb": "MB",
    })
    return u


# every per-layer metric a traced run prints, with its unit
PER_LAYER_UNITS = _per_layer_units()
