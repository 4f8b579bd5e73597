"""Sharded cuckoo-filter URL-seen sketch — the crawl engine's one seen sketch.

north_rule: "sharded bloom-filter/cuckoo URL-seen set keyed by
canonicalized+hashed URLs". This module is the sketch (Fan, Andersen,
Kaminsky, Mitzenmacher: "Cuckoo Filter: Practically Better Than Bloom",
CoNEXT 2014 — public paper); ``functions/seen.py`` is the exact anti-join it
pre-filters. A cuckoo filter is chosen for DELETION: the reference evicts a URL
from its seen set by deleting the row under the UNIQUE(rule_id, url)
constraint (reference: europarl/db/url.py:45, delete paths
europarl/db/url.py:117-129). A cuckoo filter removes the fingerprint in place,
so recrawl eviction and shutdown compaction never force a rebuild, and the
per-epoch maintenance is O(new urls), not O(frontier).

The filter is strictly a *pre-filter* for the exact anti-join (SURVEY §4.2):
false positives only cost a recheck against the seen table; false negatives
are impossible for inserted keys, so correctness never depends on the sketch.
FPR is bounded by ~2·BUCKET_SLOTS/2^FP_BITS (= 8/65536 ≈ 0.012% at the
defaults here).

Scale design: one filter per *shard*, shard = pmod(url_hash, n_shards) — the
same arithmetic in Catalyst (`F.pmod`) and numpy (`np.mod`), so the build can
hash-partition rows by shard Spark-side (each shard's rows land in exactly one
partition; cuckoo tables cannot be merged) while the probe routes vectorized
numpy lookups shard-locally. :class:`CuckooShardStore` keeps each shard's
table in its own file; :func:`shard_count_policy` sizes the shard count from
the frontier's row count.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MASK = (1 << 64) - 1
# splitmix64 finalizer — cheap independent rehash of the already-uniform
# xxhash64 url_hash for the fingerprint, bucket and kick positions
_C1, _C2 = 0xBF58476D1CE4E5B9, 0x94D049BB133111EB


def _mix(h: np.ndarray, seed: int) -> np.ndarray:
    z = (h + np.uint64(seed * 0x9E3779B97F4A7C15 & _MASK)) & np.uint64(_MASK)
    z = ((z ^ (z >> np.uint64(30))) * np.uint64(_C1)) & np.uint64(_MASK)
    z = ((z ^ (z >> np.uint64(27))) * np.uint64(_C2)) & np.uint64(_MASK)
    return z ^ (z >> np.uint64(31))


# keys per shard the engine sizes for: at its build load 0.21 a shard of
# 2^21 keys needs 2^21 / (4 · 0.21) ≈ 2.5M buckets, rounded up to 2^22 —
# a 32 MB uint16 table, the unit one probe task loads
SHARD_KEYS = 1 << 21


def shard_count_policy(rows: int) -> int:
    """Frontier-size policy for the seen sketch's shard count:
    ``max(1, ceil(rows / 2^21))`` — one shard per ~2M frontier rows, so
    per-task probe memory stays ~32 MB whatever the frontier size. The
    engine recomputes it on every (re)build from the frontier's manifest
    row count, so a frontier that outgrew its shards re-shards itself at
    the rebuild that follows an overflow."""
    return max(1, math.ceil(rows / SHARD_KEYS))


_FP_SEED = 0xF1  # fingerprint rehash seed (independent of index seed)
_IX_SEED = 0x11  # primary-bucket rehash seed
BUCKET_SLOTS = 4
FP_BITS = 16
_MAX_KICKS = 500


def _fp_spread(fp: np.ndarray) -> np.ndarray:
    """Spread a 16-bit fingerprint over 64 bits for the partial-key XOR.

    alt(i, fp) = i XOR h(fp) must be an involution in i — any pure function
    of fp works; splitmix keeps the XOR offset uniform even though fp has
    only 16 bits of entropy.
    """
    return _mix(fp.astype(np.uint64), 0xC3)


class CuckooFilter:
    """b=4-slot, f=16-bit-fingerprint cuckoo filter over int64 keys.

    Table is a (n_buckets, 4) uint16 array; 0 marks an empty slot, so
    fingerprint 0 is remapped to 1 (doubles that one fingerprint's collision
    mass, FPR effect ~2^-16 — negligible). n_buckets is a power of two so the
    partial-key XOR stays in range.
    """

    def __init__(self, n_buckets: int, table: np.ndarray | None = None):
        assert n_buckets & (n_buckets - 1) == 0, "n_buckets must be a power of two"
        self.n_buckets = n_buckets
        self.table = (
            table
            if table is not None
            else np.zeros((n_buckets, BUCKET_SLOTS), dtype=np.uint16)
        )
        self.size = int(np.count_nonzero(self.table))
        self._kick_state = np.uint64(0x2545F4914F6CDD1D)

    @classmethod
    def sized(cls, expected: int, load: float = 0.84) -> "CuckooFilter":
        """Size for `expected` keys at a target load factor.

        b=4 cuckoo tables fill reliably to ~95% (Fan et al. §5); 0.84 leaves
        headroom so the bulk build's kick loop stays short. The 64-bucket
        floor (512 bytes) keeps tiny shards from thrashing through
        overflow→rebuild when maintained incrementally.
        """
        need = max(1, int(expected / (BUCKET_SLOTS * load)))
        n_buckets = 1 << max(6, (need - 1).bit_length())
        return cls(n_buckets)

    # -- key → (fingerprint, primary index) ---------------------------------
    def _fp_index(self, hashes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        h = hashes.astype(np.int64).view(np.uint64)
        fp = (_mix(h, _FP_SEED) & np.uint64(0xFFFF)).astype(np.uint16)
        fp[fp == 0] = 1
        i1 = (_mix(h, _IX_SEED) & np.uint64(self.n_buckets - 1)).astype(np.int64)
        return fp, i1

    def _alt(self, idx: np.ndarray, fp: np.ndarray) -> np.ndarray:
        return (
            idx.astype(np.uint64) ^ (_fp_spread(fp) & np.uint64(self.n_buckets - 1))
        ).astype(np.int64)

    # -- bulk insert ---------------------------------------------------------
    def add_many(self, hashes: np.ndarray) -> None:
        """Vectorized two-round bucket placement; kick loop only for the tail.

        Round 1 places each key in its primary bucket, round 2 survivors in
        their alternate bucket — both rounds are pure numpy group-assignments.
        Only keys whose both buckets filled (rare below ~0.9 load) take the
        classic per-item eviction walk.
        """
        if len(hashes) == 0:
            return
        fp, idx = self._fp_index(np.asarray(hashes))
        for _round in range(2):
            fp, idx = self._place_batch(fp, idx)
            if len(fp) == 0:
                return
            idx = self._alt(idx, fp)
        for f, i in zip(fp.tolist(), idx.tolist()):
            self._insert_one(np.uint16(f), int(i))

    def _place_batch(
        self, fps: np.ndarray, idx: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray]:
        """Place as many (fp, bucket) pairs as fit; return the overflow."""
        order = np.argsort(idx, kind="stable")
        si, sf = idx[order], fps[order]
        first = np.searchsorted(si, si)  # start offset of each bucket's group
        rank = np.arange(len(si)) - first
        occ = np.count_nonzero(self.table[si], axis=1)
        fits = rank < (BUCKET_SLOTS - occ)
        # scatter targets are unique: (bucket, occ+rank) differs within a
        # bucket by rank and across buckets by row
        self.table[si[fits], occ[fits] + rank[fits]] = sf[fits]
        self.size += int(fits.sum())
        return sf[~fits], si[~fits]

    def _insert_one(self, fp: np.uint16, i: int) -> None:
        for b in (i, int(self._alt(np.array([i]), np.array([fp], dtype=np.uint16))[0])):
            row = self.table[b]
            empty = np.flatnonzero(row == 0)
            if len(empty):
                row[empty[0]] = fp
                self.size += 1
                return
        b = i
        for _ in range(_MAX_KICKS):
            self._kick_state = _mix(
                np.array([self._kick_state], dtype=np.uint64), 0x9E
            )[0]
            slot = int(self._kick_state % np.uint64(BUCKET_SLOTS))
            fp, self.table[b, slot] = self.table[b, slot], fp
            b = int(self._alt(np.array([b]), np.array([fp], dtype=np.uint16))[0])
            row = self.table[b]
            empty = np.flatnonzero(row == 0)
            if len(empty):
                row[empty[0]] = fp
                self.size += 1
                return
        raise RuntimeError(
            f"cuckoo filter full after {_MAX_KICKS} kicks "
            f"(size={self.size}, buckets={self.n_buckets}) — resize the shard"
        )

    # -- probe / delete ------------------------------------------------------
    def might_contain(self, hashes: np.ndarray) -> np.ndarray:
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        fp, i1 = self._fp_index(np.asarray(hashes))
        i2 = self._alt(i1, fp)
        hit1 = (self.table[i1] == fp[:, None]).any(axis=1)
        hit2 = (self.table[i2] == fp[:, None]).any(axis=1)
        return hit1 | hit2

    def delete_many(self, hashes: np.ndarray) -> np.ndarray:
        """Remove one stored fingerprint per key; returns per-key success.

        Per-item loop on purpose: two deletes of the same fingerprint in one
        batch must consume two distinct slots, which a vectorized scatter
        cannot express. Deletion batches (recrawl evictions) are small
        relative to inserts.
        """
        if len(hashes) == 0:
            return np.zeros(0, dtype=bool)
        fp, i1 = self._fp_index(np.asarray(hashes))
        i2 = self._alt(i1, fp)
        out = np.zeros(len(fp), dtype=bool)
        for n in range(len(fp)):
            for b in (int(i1[n]), int(i2[n])):
                slots = np.flatnonzero(self.table[b] == fp[n])
                if len(slots):
                    # keep rows prefix-packed (the bulk-insert scatter writes
                    # at slot occ+rank): fill the hole with the row's last
                    # live fingerprint instead of leaving a gap
                    row = self.table[b]
                    live = np.flatnonzero(row)
                    last = live[-1]
                    row[slots[0]] = row[last]
                    row[last] = 0
                    self.size -= 1
                    out[n] = True
                    break
        return out


# ---------------------------------------------------------------------------
# Executor-resident shard store — the 10^10-URL residency fix
# ---------------------------------------------------------------------------

# Per-process probe cache: (shard file path, mtime_ns) -> uint16 table.
# mtime-keyed so a driver-side shard rewrite (delta maintenance) invalidates
# executor copies on the next probe; bounded LRU so a task that happens to
# own several shards never grows past _CACHE_MAX tables.
_SHARD_CACHE: dict[tuple, np.ndarray] = {}
_CACHE_MAX = 8


def _load_shard_table(path) -> np.ndarray:
    import os

    key = (str(path), os.stat(path).st_mtime_ns)
    t = _SHARD_CACHE.get(key)
    if t is None:
        t = np.load(path)
        stale = [k for k in _SHARD_CACHE if k[0] == key[0]]
        for k in stale:
            del _SHARD_CACHE[k]
        while len(_SHARD_CACHE) >= _CACHE_MAX:
            del _SHARD_CACHE[next(iter(_SHARD_CACHE))]
        _SHARD_CACHE[key] = t
    return t


class CuckooShardStore:
    """Sharded cuckoo seen-sketch whose shards live in FILES, not in any
    process: ``root/shard_{sid:05d}.npy`` (one uint16 table each) plus
    ``root/meta.json`` ({n_shards, stamp, load}).

    This is the scale-safe residency for the north_rule's 10^10-URL
    frontier, replacing the r4 design that concatenated every shard's
    table on the driver and broadcast the whole ~20-25 GB filter to every
    executor. Here:

    - **probe** (`tag_maybe`): candidates are repartitioned by
      ``pmod(url_hash, n_shards)`` and each ``mapInPandas`` task loads
      ONLY the shard tables its partition actually contains (mtime-keyed
      per-process LRU, cap ``_CACHE_MAX``). Peak memory per task is
      O(shards_in_partition x frontier/n_shards) — with one shard per
      partition, O(frontier/n_shards), ~25 GB/1024 ≈ 25 MB at 10^10 URLs
      and 1024 shards.
    - **maintain** (`add_many`/`delete_many`): the per-epoch delta is
      grouped by shard on the driver and each touched shard is
      load→modify→atomic-rename'd one at a time — driver peak is ONE
      shard table, never the filter.
    - **build** (`CuckooShardStore.build`): the distributed bulk build
      writes each shard's table to its file FROM THE EXECUTOR that built
      it; only (shard, n_buckets, n_keys) stats cross to the driver.

    ``root`` must be storage every task can reach — a local dir under
    local[*] (this sandbox), shared/object storage on a cluster (exactly
    where Iceberg manifests would live; the npy-per-shard layout maps 1:1
    onto object-store keys). The filter remains strictly a pre-filter for
    the exact anti-join: lost/corrupt shard files can only surface as
    extra maybe-seen rechecks, never wrong results.
    """

    def __init__(self, root):
        import json
        from pathlib import Path

        self.root = Path(root)
        with open(self.root / "meta.json") as fh:
            meta = json.load(fh)
        self.n_shards = int(meta["n_shards"])
        self.stamp = meta.get("stamp")
        # the build's target load; shards created later by add_many size
        # at it too, so a fresh shard gets the same per-epoch headroom
        self.load = float(meta.get("load", 0.84))

    # -- layout --------------------------------------------------------------

    def _shard_path(self, sid: int):
        return self.root / f"shard_{sid:05d}.npy"

    def _write_meta(self) -> None:
        import json
        import os

        tmp = self.root / "meta.json.tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {"n_shards": self.n_shards, "stamp": self.stamp, "load": self.load},
                fh,
            )
        os.replace(tmp, self.root / "meta.json")

    def set_stamp(self, stamp) -> None:
        self.stamp = stamp
        self._write_meta()

    def _filter(self, sid: int) -> CuckooFilter:
        p = self._shard_path(sid)
        if not p.exists():
            return CuckooFilter(64)
        t = _load_shard_table(p)
        return CuckooFilter(t.shape[0], t.copy())

    def _write_shard(self, sid: int, filt: CuckooFilter) -> None:
        import os

        p = self._shard_path(sid)
        tmp = str(p) + f".tmp-{os.getpid()}"
        np.save(tmp, filt.table)
        os.replace(tmp + ".npy", p)

    @property
    def size(self) -> int:
        """Total stored fingerprints — streams shard-at-a-time (tests/ops
        introspection; O(one shard) peak like every other driver path)."""
        total = 0
        for sid in range(self.n_shards):
            p = self._shard_path(sid)
            if p.exists():
                total += int(np.count_nonzero(_load_shard_table(p)))
        return total

    # -- distributed build ---------------------------------------------------

    @classmethod
    def build(
        cls,
        seen: DataFrame,
        root,
        hash_col: str = "url_hash",
        n_shards: int = 16,
        load: float = 0.84,
    ) -> "CuckooShardStore":
        """Bulk-build from a DataFrame of int64 hashes, executor-write.

        ``repartition(n_shards, pmod(hash, n_shards))`` sends each shard's
        rows to one partition; the partition builds its shards with the
        vectorized placement and writes each table STRAIGHT to
        ``root/shard_XXXXX.npy`` (tmp + atomic rename — idempotent under
        task retry: a re-run rewrites the same bytes). Only per-shard
        stats return to the driver."""
        import json
        import os
        from pathlib import Path

        rootp = Path(root)
        rootp.mkdir(parents=True, exist_ok=True)
        # no checkpoint until the new meta: a crash mid-build must not leave
        # an old stamp over missing shards (a missing shard reads all-new)
        (rootp / "meta.json").unlink(missing_ok=True)
        for old in rootp.glob("shard_*.npy"):
            old.unlink()
        root_s = str(rootp)

        rows = seen.select(
            F.col(hash_col).alias("h"),
            F.pmod(F.col(hash_col), F.lit(n_shards)).alias("s"),
        ).repartition(n_shards, "s")

        def part(it):
            import pandas as pd

            chunks: dict[int, list[np.ndarray]] = {}
            for pdf in it:
                sh = pdf["s"].to_numpy(dtype=np.int64)
                hv = pdf["h"].to_numpy(dtype=np.int64)
                for sid in np.unique(sh):
                    chunks.setdefault(int(sid), []).append(hv[sh == sid])
            for sid, parts_ in chunks.items():
                vals = np.concatenate(parts_)
                filt = CuckooFilter.sized(len(vals), load=load)
                filt.add_many(vals)
                p = os.path.join(root_s, f"shard_{sid:05d}.npy")
                tmp = p + f".tmp-{os.getpid()}"
                np.save(tmp, filt.table)
                os.replace(tmp + ".npy", p)
                yield pd.DataFrame(
                    {
                        "shard": [sid],
                        "n_buckets": [filt.n_buckets],
                        "n_keys": [len(vals)],
                    }
                )

        stats = rows.mapInPandas(
            part, schema="shard int, n_buckets long, n_keys long"
        ).collect()
        with open(rootp / "meta.json", "w") as fh:
            json.dump(
                {"n_shards": int(n_shards), "stamp": None, "load": float(load)},
                fh,
            )
        store = cls(rootp)
        store._built_stats = {int(r["shard"]): int(r["n_keys"]) for r in stats}
        return store

    # -- probe ---------------------------------------------------------------

    def tag_maybe(self, candidates: DataFrame, hash_col: str) -> DataFrame:
        """candidates + boolean ``_maybe`` column, shard-local probe.

        The one shuffle is the candidate repartition by shard — the price
        of never holding more than one shard per task; at 10^10 URLs that
        shuffle is O(candidates) while the r4 broadcast was O(filter) PER
        EXECUTOR. Row order within partitions is irrelevant downstream
        (the caller filters on _maybe and unions)."""
        import pandas as pd
        from pyspark.sql import types as T

        n_shards = self.n_shards
        root_s = str(self.root)
        out_schema = T.StructType(
            candidates.schema.fields
            + [T.StructField("_maybe", T.BooleanType())]
        )
        cols = candidates.columns

        def probe(it):
            import os

            for pdf in it:
                h = pdf[hash_col].to_numpy(dtype=np.int64)
                maybe = np.zeros(len(h), dtype=bool)
                s = np.mod(h, n_shards)
                for sid in np.unique(s):
                    p = os.path.join(root_s, f"shard_{int(sid):05d}.npy")
                    if not os.path.exists(p):
                        continue  # empty shard: nothing inserted => all new
                    t = _load_shard_table(p)
                    filt = CuckooFilter(t.shape[0], t)
                    m = s == sid
                    maybe[m] = filt.might_contain(h[m])
                out = pdf.copy()
                out["_maybe"] = pd.Series(maybe, index=pdf.index)
                yield out

        return (
            candidates.repartition(
                n_shards, F.pmod(F.col(hash_col), F.lit(n_shards))
            ).mapInPandas(probe, schema=out_schema)
        )

    # -- driver-side maintenance (delta-bounded) -----------------------------

    def _touched(self, hashes) -> "dict[int, np.ndarray]":
        h = np.asarray(hashes, dtype=np.int64)
        s = np.mod(h, self.n_shards)
        return {int(sid): h[s == sid] for sid in np.unique(s)}

    def add_many(self, hashes) -> None:
        """Insert an epoch's delta: one touched shard resident at a time.
        Raises RuntimeError on shard overflow (the caller drops the
        sketch and rebuilds)."""
        for sid, vals in self._touched(hashes).items():
            filt = self._filter(sid)
            if filt.n_buckets == 64 and not self._shard_path(sid).exists():
                filt = CuckooFilter.sized(max(len(vals), 64), load=self.load)
            filt.add_many(vals)
            self._write_shard(sid, filt)

    def delete_many(self, hashes) -> np.ndarray:
        h = np.asarray(hashes, dtype=np.int64)
        out = np.zeros(len(h), dtype=bool)
        s = np.mod(h, self.n_shards)
        for sid in np.unique(s):
            m = s == sid
            filt = self._filter(int(sid))
            out[m] = filt.delete_many(h[m])
            self._write_shard(int(sid), filt)
        return out

    def might_contain(self, hashes) -> np.ndarray:
        """Driver-side probe (tests / small arrays) — shard-at-a-time; the
        data-plane path is :meth:`tag_maybe`."""
        h = np.asarray(hashes, dtype=np.int64)
        out = np.zeros(len(h), dtype=bool)
        s = np.mod(h, self.n_shards)
        for sid in np.unique(s):
            p = self._shard_path(int(sid))
            if not p.exists():
                continue
            t = _load_shard_table(p)
            m = s == sid
            out[m] = CuckooFilter(t.shape[0], t).might_contain(h[m])
        return out
