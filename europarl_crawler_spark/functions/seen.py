"""URL-seen set: exact anti-join behind an optional cuckoo shard-store pre-filter.

north_rule: "bloom/cuckoo URL-seen set keyed by canonicalized+hashed URLs".
The reference's seen set is the UNIQUE(rule_id, url) constraint on the urls
table (reference: europarl/db/url.py:45); here membership is EXACT via a
left_anti join against the frontier table on ``url_hash`` — the sketch
(:class:`~europarl_crawler_spark.functions.cuckoo.CuckooShardStore`) is
strictly a *pre-filter* that lets most provably-new candidates skip the
anti-join shuffle. False positives only cost a recheck; false negatives are
impossible, so correctness never depends on the sketch (SURVEY §4.2).
Without a sketch the gate is the plain anti-join. The crawl engine passes
none while its frontier is at most ``broadcast_threshold_rows`` rows (the
seen keys are then broadcast, so no candidate shuffles and there is nothing
for a pre-filter to skip), and none in the first epoch above it, after an
overflow, or when no sketch checkpoint is stamped with the frontier head.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from .cuckoo import CuckooShardStore


def anti_join_seen(
    candidates: DataFrame,
    seen: DataFrame,
    sketch: "CuckooShardStore | None" = None,
    hash_col: str = "url_hash",
    hint_broadcast: bool = False,
) -> DataFrame:
    """candidates not in seen — exact; the sketch only short-circuits the shuffle.

    The store's ``tag_maybe`` routes candidates to their shard's partition
    and each task loads ONLY its shards from files — no whole-filter
    broadcast, per-task memory O(frontier / n_shards). Provably-new rows
    (``_maybe`` false) bypass the anti-join entirely; only the maybe-seen
    slice shuffles. At a 10^10-row seen set with mostly-fresh candidates
    this cuts the anti-join input by ~(1 - fpp) and keeps the big shuffle
    proportional to the *revisit* rate, not the candidate rate.

    ``hint_broadcast`` broadcasts the seen keys, so no candidate shuffles;
    the engine sets it when the seen set fits the configured threshold.
    """
    keys = seen.select(hash_col)
    if hint_broadcast:
        keys = F.broadcast(keys)
    if sketch is None:
        return candidates.join(keys, hash_col, "left_anti")

    tagged = sketch.tag_maybe(candidates, hash_col)
    fresh = tagged.filter(~F.col("_maybe")).drop("_maybe")
    rechecked = (
        tagged.filter(F.col("_maybe"))
        .drop("_maybe")
        .join(keys, hash_col, "left_anti")
    )
    return fresh.unionByName(rechecked)
