"""Vectorized fetch-and-extract: the simulated HTTP stage + image extraction.

Reference analog: DocumentDownloader's GET + blob write + request log
(europarl/workers/documentdownloader.py:66-150, SURVEY S3/S5/D11/T6) and the
postprocessing extract stage (workers/postprocessingworker.py:37-65, F7/F8) —
collapsed into one pass because with a content-store join there is no I/O
boundary between "download" and "extract".

Physical shape — **the content store's payloads never shuffle**; only this
epoch's budget-bounded hit rows do, once for decode balance and once for
file sizing:

1. status join     : drained (thin) ⋈ web.select(url_hash, kind) — a
                     key+tag shuffle, bytes not involved.
2. store filter    : web LEFT SEMI broadcast(ok url_hashes) — a map-side
                     filter over the content store's own partitions (the
                     broadcast is 8 bytes/URL, budget-bounded). The keys
                     go in as fetched, with no ``distinct``: a left semi
                     join never duplicates a row.
3. extract         : the hit rows are hash-repartitioned on ``url_hash``
                     into ``defaultParallelism`` partitions, then Arrow
                     ``mapInPandas`` decodes + phashes them. An epoch's hits
                     are one contiguous id block, which can sit in a single
                     scan split: decoding on the scan's own partitions would
                     run on one core whatever the cluster size. The explicit
                     count keeps AQE from coalescing this shuffle back to
                     one task.
4. metadata attach : extract output ⋈ broadcast(thin crawl metadata), then
                     ``repartition("url_hash")`` with no count, which AQE
                     coalesces by bytes — one ``documents`` file on a toy
                     epoch, ~64 MB files at scale.

At 10^10-URL scale the drained side is politeness-budget-bounded
(n_hosts × ≤100), so the broadcasts and the hit-row shuffles stay small;
when a deployment exceeds broadcast comfort
(EngineConfig.broadcast_threshold_rows), the engine passes
``hint_broadcast=False`` and steps 2/4 degrade to thin-key shuffles with AQE
choosing the strategy, as the drain's politeness lookup does on the same
threshold (plans/politeness.py:host_budgets) — the payload-stationarity of
the STORE is what matters (a naive drained ⋈ web join shuffles the store's
binary columns and turns the epoch disk-bound; measured 2.3× slower at 32
cores on the scale bench).

Status codes are pure column expressions (epoch-dependent for flaky rows);
dead-letter lanes (408/429/460/5xx) stay in the request log and are re-drained
by the retry rule next epoch.
"""

from __future__ import annotations

from datetime import datetime
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import imaging
from ..sources.schema import DOCUMENTS
from ..sources.synthetic import status_expr

DEAD_LETTER = (408, 429, 460)  # + any 5xx; reference documentdownloader.py:132-150


def simulate_requests(
    drained: DataFrame, web: DataFrame, epoch: int, now: datetime
) -> DataFrame:
    """Thin status join: drained frontier batch + per-URL outcome.

    Output = drained columns + (status_code, redirected_url, requested_at,
    request_id, epoch). No payload columns — the content store contributes
    only its ``kind`` tag + the post-redirect final URL.

    ``redirected_url`` mirrors the reference's ``resp.url`` contract
    (documentdownloader.py:97,124: GET with allow_redirects=True, then the
    session's final URL is logged): the redirect target when one was
    followed, else the requested URL itself (the reference's timeout /
    exception lanes log the original URL, documentdownloader.py:139,148).
    """
    kinds = web.select("url_hash", "kind", "final_url")
    joined = drained.join(kinds, "url_hash", "left")
    status = F.when(
        F.col("kind").isNull(), F.lit(404)  # URL not on the simulated web
    ).otherwise(status_expr(F.col("kind"), F.col("url_hash"), epoch))
    redirected = F.when(
        (F.col("kind") == "redirect") & (status == 200), F.col("final_url")
    ).otherwise(F.col("url"))
    return (
        joined.withColumn("status_code", status)
        .withColumn("redirected_url", redirected)
        .drop("kind", "final_url")
        .withColumn("requested_at", F.lit(now))
        .withColumn("epoch", F.lit(int(epoch)))
        .withColumn("request_id", F.xxhash64("url_id", F.lit(int(epoch))))
    )


def requests_log(fetched: DataFrame) -> DataFrame:
    """Project the append-only crawl log rows (reference requests table)."""
    return fetched.select(
        "request_id",
        "url_id",
        "url_hash",
        "host_hash",
        "requested_at",
        "status_code",
        "redirected_url",
        "epoch",
        "drain_seq",
    )


_CORE = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
    ]
)


def _extract_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        n = len(pdf)
        phash = np.zeros(n, dtype=np.int64)
        ok = np.ones(n, dtype=bool)
        for i, (body, w, h, fmt) in enumerate(
            zip(pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"])
        ):
            try:
                px = imaging.decode(bytes(body), int(w), int(h), fmt)
                phash[i] = imaging.phash64(px)
            except Exception:
                ok[i] = False  # corrupt payload → drop row (the request row
                # already logged 200; the doc simply never lands)
        out = pdf.assign(phash=phash)
        yield out[ok]


def extract_documents(
    fetched: DataFrame, web: DataFrame, rules: DataFrame,
    hint_broadcast: bool = True,
) -> DataFrame:
    """200-status rows → documents rows. The store is filtered in place;
    only the epoch's hit rows shuffle, so decode+phash runs at the
    cluster's width whatever the store's file layout (module docstring).

    image_id = hex(xxhash64(url)) — content-addressed, so re-fetching the same
    URL merges idempotently (reference delete-then-index dedup, SURVEY T8).

    ``hint_broadcast`` gates the ok-keys and metadata broadcasts (steps 2/4);
    the rules dimension (≤ tens of rows) is always broadcast.
    """
    maybe_b = F.broadcast if hint_broadcast else (lambda df: df)
    ok = fetched.filter(F.col("status_code") == 200)
    hit = (
        web.join(maybe_b(ok.select("url_hash")), "url_hash", "left_semi")
        .filter(F.col("bytes").isNotNull())
        .select(
            "url_hash",
            # content id stays keyed to the REQUESTED url (idempotent
            # re-merge); the served ``url`` column is the post-redirect
            # final URL — what the reference indexes (db/documents.py:213
            # serves requests.redirected_url as the document's url)
            F.lower(F.hex(F.xxhash64("url"))).alias("image_id"),
            "bytes", "w", "h", "fmt", "caption",
            F.lit(0).cast("long").alias("phash"),
            F.coalesce("final_url", "url").alias("url"),
        )
    )
    width = web.sparkSession.sparkContext.defaultParallelism
    core = hit.repartition(width, "url_hash").mapInPandas(
        _extract_batches, schema=_CORE
    )
    meta = (
        ok.join(F.broadcast(rules.select("rule_id", "rulename")), "rule_id")
        .select(
            "url_hash",
            "url_id",
            "rule_id",
            "rulename",
            F.col("dates").alias("session_date"),
            F.col("requested_at").alias("downloaded_at"),
            "epoch",
        )
    )
    # several rules generate the SAME url string (reference UNIQUE(rule_id,url)
    # quirk: session_day ↔ protocol_en_pdf, named_voting_fr_pdf ↔ _xml) while
    # image_id is content-addressed by url: pick ONE owning rule
    # deterministically (latest fetch epoch, then lowest rule_id) so crawl
    # merges and reextract (plans/epoch.py) converge to identical rows.
    # Window is per-url_hash — group size ≤ #rules, uniform, never skewed.
    from pyspark.sql import Window

    w = Window.partitionBy("url_hash").orderBy(F.desc("epoch"), F.asc("rule_id"))
    meta = (
        meta.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "rule_id")
    )
    cols = [f.name for f in DOCUMENTS.fields]
    return (
        core.join(maybe_b(meta), "url_hash")
        .repartition("url_hash")
        .select(*cols)
    )
