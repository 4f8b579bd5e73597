"""Snapshot-isolated epoch tables over Parquet — the Iceberg stand-in.

The north_rule requires Iceberg tables with snapshot-isolated upserts per
crawl epoch, resumable from checkpoint. No Iceberg runtime jar exists in this
sandbox (verified: /opt/spark jars have none, no network), so this module
emulates the subset we need with a **merge-on-read** layout that is honest
about 10^10-row scale:

    {root}/{table}/epoch=N/part-*.parquet      ← per-epoch DELTA (only new /
                                                  changed / tombstoned rows)
    {root}/{table}/_manifests/{N:08d}.json     ← commit record (written LAST —
                                                  the atomic commit point)

- ``merge(table, df, epoch, keys)`` appends an upsert delta — the same
  merge-on-read strategy Iceberg v2 equality deletes use; a full-table
  rewrite per epoch would be O(table) per epoch and is what we avoid.
- one resolve rule: a ``base`` commit is key-unique and an ``append``
  commit never repeats a live key, so only ``delta`` commits (``merge``,
  ``delete``) can. ``read`` runs the latest-wins ``row_number() over
  (partition by keys order by _epoch desc)`` only when the live chain
  holds a delta; a base plus keyed appends reads as a plain scan.
- deletes are tombstone rows (``_deleted = true``) folded out at read time —
  used for the reference's shutdown ``drop_uncrawled_urls`` (reference:
  europarl/db/url.py:139-156, SURVEY D4).
- ``compact(table, epoch)`` collapses base+deltas into a new base snapshot so
  read amplification stays bounded (run every K epochs, like Iceberg
  rewrite_data_files); ``target_partitions`` bounds the small-file count.
- ``expire(table)`` physically drops epochs superseded by the newest base
  (Iceberg expire_snapshots) so the store footprint is bounded at 10^10-row
  scale; expired time travel / pre-watermark incremental reads raise.
- a data dir without its manifest is an aborted write: ignored on read,
  clobbered on retry. A commit is per table; where a crawl epoch ends is
  the caller's ledger: the crawl engine's ``epochs`` row is an epoch's
  commit point, and ``rollback`` drops whatever a crashed epoch committed
  above it (plans/epoch.py ``open_epoch``). That rollback cannot tell a
  crash from a writer in flight, so the crawl tables take one writer at a
  time. Equivalent to the reference's "only fully-processed work commits"
  shutdown protocol (SURVEY T7).

On a real cluster this module is swapped for Iceberg tables: the call sites
(plans/epoch.py) use only merge/append/overwrite/read/latest/rollback,
which map to ``MERGE INTO``, ``INSERT INTO``, ``INSERT OVERWRITE``,
snapshot reads and the ``rollback_to_snapshot`` procedure.
The crawl loop's writes keep the contracts above, so an Iceberg port needs
no change to the engine.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import local_df


def _stat_value(v):
    """Footer min/max → a JSON-able, ORDER-PRESERVING scalar: numbers and
    strings as-is, timestamps/dates as ISO strings (lexicographic ==
    chronological), undecodable bytes dropped (prune must stay sound)."""
    import datetime as _dt

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, _dt.datetime):
        # One convention for both sides of the compare: Spark writes
        # UTC-adjusted parquet timestamps, so pyarrow footer stats come
        # back tz-aware while caller predicates are usually naive UTC.
        # An aware ISO string ('…+00:00') sorts above the equal naive one
        # and would wrongly prune at exact boundary equality — convert
        # aware → UTC then strip tzinfo so every value stringifies naive.
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    return None


def _cmp_gt(a, b) -> bool:
    """a > b, but incomparable (mixed-type) bounds NEVER prune a file."""
    try:
        return a > b
    except TypeError:
        return False


def _latest_wins(df: DataFrame, chain: list[dict]) -> DataFrame:
    """The newest row per key of ``chain``'s rows, windowed only when the
    chain holds a ``delta`` (merge/delete): no other commit repeats a key."""
    if not any(m["kind"] == "delta" for m in chain):
        return df
    keys = next(m["keys"] for m in reversed(chain) if m["keys"])
    w = Window.partitionBy(*keys).orderBy(F.desc("_epoch"))
    return df.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


class CommitConflictError(RuntimeError):
    """Optimistic-concurrency failure: another writer advanced the table's
    manifest chain (or committed this exact epoch) between this commit's
    snapshot read and its commit point. The loser's data directory is left
    manifest-less — invisible to readers, clobbered on retry — exactly like
    a losing Iceberg commit's orphaned data files."""


class EpochStore:
    def __init__(self, root: str | os.PathLike):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    # -- manifest chain -----------------------------------------------------

    def _mdir(self, table: str) -> Path:
        return self.root / table / "_manifests"

    def manifests(self, table: str) -> list[dict]:
        mdir = self._mdir(table)
        if not mdir.is_dir():
            return []
        out = []
        for p in sorted(mdir.glob("*.json")):
            with open(p) as f:
                out.append(json.load(f))
        return out

    def latest(self, table: str) -> int | None:
        """The newest committed epoch, read from the manifest file names
        (``{epoch:08d}.json``) without parsing any manifest."""
        mdir = self._mdir(table)
        if not mdir.is_dir():
            return None
        return max((int(p.stem) for p in mdir.glob("*.json")), default=None)

    def rollback(self, table: str, to_epoch: int) -> None:
        """Drop every commit after ``to_epoch``, newest first (manifest, then
        data), found by manifest file name without parsing any manifest."""
        for p in sorted(self._mdir(table).glob("*.json"), reverse=True):
            if int(p.stem) > to_epoch:
                p.unlink()
                shutil.rmtree(self.root / table / f"epoch={int(p.stem)}", ignore_errors=True)

    # -- write paths ---------------------------------------------------------

    def _commit(self, table: str, df: DataFrame, epoch: int, kind: str, keys) -> dict:
        """Write a delta/base/append epoch with OPTIMISTIC CONCURRENCY
        (Iceberg-style parent-CAS): the parent snapshot is captured before
        the data write, re-validated at the commit point, and the manifest
        is published with an EXCLUSIVE create (hard link — atomic AND
        fails-if-exists), so two concurrent writers can never silently fork
        the chain or last-writer-win the same epoch: the stale one raises
        ``CommitConflictError`` and its data dir stays manifest-less
        (ignored by readers, clobbered on retry)."""
        epoch = int(epoch)
        expected_parent = self.latest(table)
        if expected_parent is not None and epoch <= expected_parent:
            raise CommitConflictError(
                f"{table}: epoch {epoch} does not advance the chain "
                f"(latest committed is {expected_parent})"
            )
        mpath = self._mdir(table) / f"{epoch:08d}.json"
        ddir = self.root / table / f"epoch={epoch}"
        if ddir.exists():  # manifest-less ⇒ aborted earlier attempt — clobber
            shutil.rmtree(ddir)
        out = df.withColumn("_epoch", F.lit(epoch))
        if "_deleted" not in out.columns:
            out = out.withColumn("_deleted", F.lit(False))
        out.write.mode("overwrite").parquet(str(ddir))
        # row count + per-file column min/max from parquet FOOTERS —
        # metadata-only, no Spark job. The stats ride in the manifest the
        # way Iceberg manifests carry per-data-file bounds, and are what
        # predicated reads prune with.
        import pyarrow.parquet as pq

        rows = 0
        file_stats: dict[str, dict[str, list]] = {}
        for p in sorted(ddir.glob("*.parquet")):
            md = pq.ParquetFile(p).metadata
            rows += md.num_rows
            fstat: dict[str, list] = {}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    if "." in col.path_in_schema:
                        continue  # nested field — no top-level bound
                    st = col.statistics
                    if st is None or not st.has_min_max:
                        continue
                    mn, mx = _stat_value(st.min), _stat_value(st.max)
                    if mn is None or mx is None:
                        continue
                    cur = fstat.get(col.path_in_schema)
                    if cur is None:
                        fstat[col.path_in_schema] = [mn, mx]
                    else:
                        cur[0], cur[1] = min(cur[0], mn), max(cur[1], mx)
            file_stats[p.name] = fstat
        manifest = {
            "table": table,
            "epoch": epoch,
            "parent": expected_parent,
            "kind": kind,
            "keys": list(keys) if keys else None,
            "rows": rows,
            "files": len(file_stats),
            "file_stats": file_stats,
        }
        self._mdir(table).mkdir(parents=True, exist_ok=True)
        # commit point: CAS on the parent...
        if self.latest(table) != expected_parent:
            raise CommitConflictError(
                f"{table}: concurrent commit detected — parent moved from "
                f"{expected_parent} to {self.latest(table)} during epoch "
                f"{epoch}'s write; retry against the new snapshot"
            )
        # ...then publish atomically AND exclusively: link(2) fails with
        # EEXIST if another writer won the race to this epoch number, and
        # the fully-written tmp file means readers never see a torn manifest
        tmp = mpath.with_suffix(f".json.tmp{os.getpid()}")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        try:
            os.link(tmp, mpath)
        except FileExistsError:
            raise CommitConflictError(
                f"{table}: epoch {epoch} was committed by a concurrent writer"
            ) from None
        finally:
            os.unlink(tmp)
        return manifest

    def merge(self, table: str, df: DataFrame, epoch: int, keys: list[str]) -> dict:
        """Upsert delta: latest row per key wins at read time (D1–D3 semantics:
        re-merging the same batch is idempotent — same keys, same values)."""
        return self._commit(table, df, epoch, "delta", keys)

    def delete(self, table: str, keys_df: DataFrame, epoch: int, keys: list[str]) -> dict:
        """Tombstone the given keys (reference DELETE, SURVEY D4)."""
        return self._commit(
            table, keys_df.select(*keys).withColumn("_deleted", F.lit(True)), epoch, "delta", keys
        )

    def append(
        self, table: str, df: DataFrame, epoch: int, keys: list[str] | None = None
    ) -> dict:
        """Insert rows (the requests crawl log, SURVEY D11). Without
        ``keys`` the table is a log and duplicates are kept. With ``keys``
        this is an insert-only commit to a keyed table: the caller
        guarantees that ``df`` is key-unique and repeats no live key, so
        ``read`` needs no latest-wins window for it. A repeated key is
        not hidden — both rows read back."""
        return self._commit(table, df, epoch, "append", keys)

    def overwrite(self, table: str, df: DataFrame, epoch: int, keys: list[str] | None = None) -> dict:
        """Full base snapshot (initial load / compaction output). With
        ``keys`` the caller guarantees that ``df`` is key-unique: ``read``
        runs no latest-wins window over a base."""
        return self._commit(table, df, epoch, "base", keys)

    def compact(
        self,
        table: str,
        spark: SparkSession,
        epoch: int,
        target_partitions: int | None = None,
    ) -> dict:
        """Fold base+deltas into a fresh base so read cost stays O(1) deltas.

        ``target_partitions`` also fixes the SMALL-FILE problem compaction
        exists for (Iceberg rewrite_data_files' target-file-size): per-epoch
        deltas write one file per task, so after K epochs a reader opens
        O(K·tasks) footers; the rewrite coalesces to a bounded file count."""
        resolved = self.read(table, spark)
        keys = self._keys(table)
        out = resolved.drop("_epoch", "_deleted")
        if target_partitions:
            if keys:
                # repartition(n, keys) alone can be ELIDED: when a delta is
                # live, the resolve's row_number window already
                # hash-partitions by the same keys, so
                # EnsureRequirements drops the "redundant" user exchange, and
                # AQE is then free to coalesce the window's internal exchange
                # below n (observed: 1 file at shuffle.partitions=2). The
                # extra constant expression changes the partitioning identity
                # — same key clustering, but the user-specified exchange (and
                # its exact partition count) survives.
                out = out.repartition(
                    target_partitions, *[F.col(k) for k in keys], F.lit(0)
                )
            else:
                out = out.repartition(target_partitions)
        return self.overwrite(table, out, epoch, keys)

    def rewrite_sorted(
        self,
        table: str,
        spark: SparkSession,
        epoch: int,
        x_col: str,
        x_bounds: tuple[int, int],
        y_col: str,
        y_bounds: tuple[int, int],
        n_files: int,
    ) -> dict:
        """Iceberg ``rewrite_data_files(strategy => 'sort', sort_order =>
        'zorder(x, y)')`` analog: compact the table into ``n_files`` files
        clustered by the Morton interleave of (x, y), so the per-file
        min/max bounds the commit records become a usable index on BOTH
        columns (consumed by predicated reads). Bounds are the layout's
        fixed grid spec, not data-sniffed — see operators/zorder.py."""
        from ..operators import zorder

        resolved = self.read(table, spark).drop("_epoch", "_deleted")
        laid = zorder.zorder_layout(
            resolved, x_col, x_bounds, y_col, y_bounds, shard_bits=1
        )
        out = (
            laid.repartitionByRange(int(n_files), "_z")
            .sortWithinPartitions("_z")
            .drop("_z", "_zshard")
        )
        return self.overwrite(table, out, epoch, self._keys(table))

    # -- stat-pruned reads ---------------------------------------------------

    def live_manifests(self, table: str, as_of: int | None = None) -> list[dict]:
        """The live chain at snapshot ``as_of`` (default: latest): the newest
        base and every commit after it, or every commit when there is no
        base. Its summed ``rows`` is the table's row count whenever the
        chain holds no delta. Parses only the live chain, newest first.
        Superseded commits stay on disk for time travel (``budget_audit``
        reads each epoch's ``politeness`` snapshot) until ``maintenance_job
        expire`` drops them."""
        live = []
        for p in sorted(self._mdir(table).glob("*.json"), reverse=True):
            if as_of is not None and int(p.stem) > as_of:
                continue
            with open(p) as f:
                live.append(json.load(f))
            if live[-1]["kind"] == "base":
                break
        return live[::-1]

    def _prune(self, table: str, live: list[dict], preds: list[tuple]) -> tuple[list[str], int]:
        preds = [(c, _stat_value(l), _stat_value(h)) for c, l, h in preds]
        kept, total = [], 0
        for m in live:
            ddir = self.root / table / f"epoch={m['epoch']}"
            stats = m.get("file_stats") or {}
            for p in sorted(ddir.glob("*.parquet")):
                total += 1
                fstat = stats.get(p.name, {})
                dropped = False
                for c, l, h in preds:
                    b = fstat.get(c)
                    if b is None:
                        continue
                    fmin, fmax = b
                    if (h is not None and _cmp_gt(fmin, h)) or (
                        l is not None and _cmp_gt(l, fmax)
                    ):
                        dropped = True
                        break
                if not dropped:
                    kept.append(str(p))
        return kept, total

    def prune_files(
        self,
        table: str,
        col: str,
        lo=None,
        hi=None,
        as_of: int | None = None,
        extra: list[tuple] | None = None,
    ) -> tuple[list[str], int]:
        """(surviving data-file paths, total live files) for the predicate
        ``lo <= col <= hi`` — conjoined with any ``extra`` (col, lo, hi)
        predicates — against the manifests' per-file bounds: the Iceberg
        manifest-pruning step as a visible number. A file is dropped if
        ANY conjunct's range misses its bounds (conjunction prunes the
        intersection — with a Z-ordered layout, an (x AND y) probe keeps
        only the files whose RECTANGLE overlaps both ranges, strictly
        fewer than either dimension alone). Files without a recorded
        bound for a column survive that conjunct (pruning must never be
        the component that drops a row)."""
        preds = [(col, lo, hi)] + [tuple(e) for e in (extra or [])]
        return self._prune(table, self.live_manifests(table, as_of), preds)

    def expire(self, table: str, as_of: int | None = None) -> dict:
        """Iceberg ``expire_snapshots`` analog: physically drop every epoch
        STRICTLY OLDER than the newest base snapshot at ``as_of`` (default:
        latest) — they are superseded for reads from that base on, so at
        10^10-row scale this is what bounds the store's footprint. A crawl
        table expires as of the ledger head, never past a base that the next
        epoch's rollback could remove (plans/epoch.py ``open_epoch``).

        The trade is the same one Iceberg makes: time travel to an expired
        snapshot and incremental reads from before the expiry watermark are
        gone — both now RAISE (watermark recorded in ``_expired.json``)
        instead of silently answering from missing data."""
        ms = [m for m in self.manifests(table) if as_of is None or m["epoch"] <= as_of]
        bases = [m for m in ms if m["kind"] == "base"]
        if not bases:
            return {"table": table, "expired": [], "watermark": None}
        wm = bases[-1]["epoch"]
        expired = []
        for m in ms:
            if m["epoch"] < wm:
                (self._mdir(table) / f"{m['epoch']:08d}.json").unlink()
                shutil.rmtree(
                    self.root / table / f"epoch={m['epoch']}", ignore_errors=True
                )
                expired.append(m["epoch"])
        wpath = self.root / table / "_expired.json"
        tmp = wpath.with_suffix(".json.tmp")
        with open(tmp, "w") as f:
            json.dump({"watermark": wm}, f)
        os.replace(tmp, wpath)
        return {"table": table, "expired": expired, "watermark": wm}

    def expiry_watermark(self, table: str) -> int | None:
        wpath = self.root / table / "_expired.json"
        if not wpath.is_file():
            return None
        with open(wpath) as f:
            return json.load(f)["watermark"]

    # -- read path ------------------------------------------------------------

    def _keys(self, table: str) -> list[str] | None:
        live = self.live_manifests(table)
        return next((m["keys"] for m in reversed(live) if m["keys"]), None)

    def read(
        self,
        table: str,
        spark: SparkSession,
        schema: T.StructType | str | None = None,
        as_of: int | None = None,
        predicates: list[tuple] | None = None,
    ) -> DataFrame:
        """Resolved view of the table at snapshot ``as_of`` (default: latest).

        Time travel = replay manifests up to as_of, exactly like reading an
        older Iceberg snapshot.

        ``predicates`` — optional conjuncts ``[(col, lo, hi), ...]``
        (either bound may be None) pushed into the read: the residual
        filter ALWAYS applies (exactness never depends on stats), and when
        the live chain holds no delta, files whose footer bounds exclude
        the range are never opened (the Iceberg manifest-pruning step in
        the ordinary read path). With a live delta the prune is skipped:
        dropping a file before latest-wins could resurrect a superseded
        row. Every predicated read records ``self.last_prune = {table,
        kept, total}`` so callers/tests can see the file skipping happen.

        One path: choose the files (the pruned files, or every live epoch
        directory), read them once, run the latest-wins window only if a
        keyed delta is live, drop tombstones, apply the residual filter.
        A given ``schema`` is pinned on the reader: no inference job."""
        wm = self.expiry_watermark(table)
        if as_of is not None and wm is not None and as_of < wm:
            raise ValueError(
                f"snapshot {as_of} of {table} was expired (watermark {wm})"
            )
        live = self.live_manifests(table, as_of)
        if not live:
            if schema is None:
                raise ValueError(f"table {table} is empty and no schema given")
            return local_df(spark, [], schema)
        paths = [str(self.root / table / f"epoch={m['epoch']}") for m in live]
        kept = total = None
        if predicates:
            if not any(m["kind"] == "delta" for m in live):
                kept, total = self._prune(table, live, predicates)
                paths = kept or paths  # nothing kept: the dirs give the schema
            self.last_prune = {
                "table": table,
                "kept": None if kept is None else len(kept),
                "total": total,
            }
        # tombstone deltas carry only key columns: a pinned schema reads the
        # rest as null, inference merges the per-epoch file schemas
        if schema is not None:
            if isinstance(schema, str):
                schema = T.StructType.fromDDL(schema)
            pinned = T.StructType([*schema.fields]).add("_epoch", T.IntegerType())
            reader = spark.read.schema(pinned.add("_deleted", T.BooleanType()))
        else:
            reader = spark.read.option("mergeSchema", "true")
        df = reader.parquet(*paths)
        if kept == []:
            df = df.limit(0)
        df = _latest_wins(df, live).filter(~F.col("_deleted"))
        for c, l, h in predicates or ():
            if l is not None:
                df = df.filter(F.col(c) >= F.lit(l))
            if h is not None:
                df = df.filter(F.col(c) <= F.lit(h))
        return df

    def snapshot_diff(
        self,
        table: str,
        spark: SparkSession,
        from_epoch: int,
        to_epoch: int,
    ) -> DataFrame:
        """STATE diff between two snapshots: key → 'added' | 'deleted' |
        'changed' (unchanged keys are absent). Unlike ``read_changes``
        (which replays delta files and therefore refuses to cross a
        compaction), this compares the two RESOLVED states — it works
        across base rewrites and answers the dataset-versioning question
        a training pipeline actually asks: "what moved between the
        snapshot I trained on and today's?"

        Plan shape: one full-outer join on the table keys, values packed
        into structs compared with null-safe equality — no window, no
        collect; cost is two snapshot reads + one key shuffle."""
        keys = self._keys(table)
        if not keys:
            raise ValueError(
                f"snapshot_diff({table}) needs a keyed table — append logs "
                "have no identity to diff on"
            )
        a = self.read(table, spark, as_of=from_epoch).drop("_epoch", "_deleted")
        b = self.read(table, spark, as_of=to_epoch).drop("_epoch", "_deleted")
        vals = [c for c in a.columns if c not in keys]
        a2 = a.select(*keys, F.struct(*vals).alias("_va"))
        b2 = b.select(*keys, F.struct(*vals).alias("_vb"))
        j = a2.join(b2, on=keys, how="full_outer")
        status = (
            F.when(F.col("_va").isNull(), F.lit("added"))
            .when(F.col("_vb").isNull(), F.lit("deleted"))
            .when(~F.col("_va").eqNullSafe(F.col("_vb")), F.lit("changed"))
        )
        return (
            j.withColumn("_diff", status)
            .where(F.col("_diff").isNotNull())
            .select(*keys, "_diff")
        )

    def read_changes(
        self,
        table: str,
        spark: SparkSession,
        since: int,
        until: int | None = None,
        schema: T.StructType | None = None,
    ) -> DataFrame:
        """Incremental scan (the Iceberg CDC / incremental-append analog):
        the NET row changes committed in epochs (since, until] — each key's
        latest version in the window, with ``_change`` = 'upsert' |
        'delete'. This is how a downstream training-data pipeline consumes
        the crawl without rescanning the table: process only what the new
        epochs wrote.

        Scale shape: reads ONLY the delta directories in the window
        (manifest-pruned — no scan of the base), latest-wins by the same
        rule as ``read``. Raises if the window crosses a ``base`` snapshot
        (compaction rewrites every row, so 'what changed' is no longer
        answerable from data files — the same rule Iceberg's incremental
        read enforces for overwrite snapshots).
        """
        wm = self.expiry_watermark(table)
        if wm is not None and since < wm:
            raise ValueError(
                f"incremental read of {table} since epoch {since} crosses the "
                f"expiry watermark {wm}: the change history was expired"
            )
        ms = [
            m for m in self.manifests(table)
            if m["epoch"] > since and (until is None or m["epoch"] <= until)
        ]
        if not ms:
            if schema is None:
                raise ValueError(f"no commits after epoch {since} and no schema given")
            return local_df(spark, [], schema).withColumn(
                "_change", F.lit("upsert")
            )
        if any(m["kind"] == "base" for m in ms):
            raise ValueError(
                "incremental read across a base snapshot (compaction) is "
                "not change-preserving; read from the compacted epoch instead"
            )
        parts = [str(self.root / table / f"epoch={m['epoch']}") for m in ms]
        df = _latest_wins(spark.read.option("mergeSchema", "true").parquet(*parts), ms)
        return df.withColumn(
            "_change",
            F.when(F.col("_deleted"), F.lit("delete")).otherwise(F.lit("upsert")),
        ).drop("_deleted")
