"""The serving-sink pipeline — reference entry point #3 (`eurocli indexing`).

The reference bulk-indexes postprocessed documents into a versioned
Elasticsearch index with delete-then-index dedup and indexed/unindex state
bits (reference: europarl/workers/indexer.py:46-87, elasticinterface.py:70-158,
eurocli.py:198-266; logical output schema europarl/europarl_index.json).

Spark-first: the serving store is just another epoch table (`index_docs`)
whose MERGE key is ``image_id`` — delete-then-index collapses into idempotent
upsert (SURVEY T8/S7), the indexed/unindex bits into "not yet merged"
anti-joins (P5/P6), versioned indices into snapshot epochs (S10), and the
reset paths (D8–D10) into keyed tombstones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.rules import rules_df
from ..sources import schema as S
from ..sources.epochstore import EpochStore
from .epoch import commit_epoch, ledger_head, open_epoch

# logical twin of europarl_index.json (content:text → caption per input_hint)
INDEX_DOCS = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("rulename", T.StringType(), False),
        T.StructField("language", T.StringType(), True),
        T.StructField("filetype", T.StringType(), True),
        T.StructField("filesize", T.LongType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
        T.StructField("session_date", T.DateType(), False),
        T.StructField("downloaded_at", T.TimestampType(), False),
    ]
)


def build_index_rows(documents: DataFrame, rules: DataFrame) -> DataFrame:
    """Documents → serving rows (the J8 metadata-join output shape).

    filesize = length of the stored payload (reference F7 filesize(path) —
    rules/extraction.py:9-24 — with the blob inline, it's just length()).
    """
    dim = F.broadcast(rules.select("rulename", "language", "filetype"))
    return documents.join(dim, "rulename", "left").select(
        "image_id",
        "url",
        "rulename",
        "language",
        "filetype",
        F.length("bytes").cast("long").alias("filesize"),
        "caption",
        "phash",
        "session_date",
        "downloaded_at",
    )


def unindexed(documents: DataFrame, index_docs: DataFrame, limit: int | None = None) -> DataFrame:
    """P5+O6: documents not yet in the serving table, deterministic order
    (the reference's unordered LIMIT is nondeterministic; we order by
    image_id — SURVEY O6 note)."""
    pending = documents.join(index_docs.select("image_id"), "image_id", "left_anti")
    pending = pending.orderBy("image_id")
    return pending.limit(limit) if limit else pending


def index_epoch(
    store: EpochStore, spark: SparkSession, limit: int | None = None
) -> dict:
    """One indexing pass: batch of unindexed docs → MERGE into index_docs.

    Idempotent (T8): re-running after a partial failure re-merges the same
    keys with the same values. Reads ``documents`` as of the crawl ledger's
    head: an epoch in flight (or crashed) is never served.
    """
    docs = store.read("documents", spark, schema=S.DOCUMENTS, as_of=ledger_head(store))
    try:
        idx = store.read("index_docs", spark, schema=INDEX_DOCS)
    except ValueError:
        idx = S.local_df(spark, [], INDEX_DOCS)
    batch = unindexed(docs, idx, limit)
    rows = build_index_rows(batch, rules_df(spark))
    e = (store.latest("index_docs") or 0) + 1
    m = store.merge("index_docs", rows, e, keys=["image_id"])
    return {"epoch": e, "indexed": m["rows"]}


# image_ids queued for removal from the serving table — the Spark-first twin
# of the reference's per-document ``unindex`` flag (db/documents.py:322-334)
UNINDEX_QUEUE = T.StructType([T.StructField("image_id", T.StringType(), False)])


def reset_postprocessing(
    store: EpochStore, spark: SparkSession, rulename: str | None = None
) -> dict:
    """D9: drop extraction results (ALL docs, or one rule's) and mark the
    currently-served victims for unindexing.

    Reference: reset_all_postprocessing / reset_postprocessing_by_rule set
    ``data=NULL, enqueued=False, unindex=indexed`` (db/documents.py:287-320) —
    the "re-extract everything after a rule fix" workflow
    (docs/general/extending.rst). Spark-first: extraction results ARE the
    documents table, so "data=NULL" is a keyed tombstone; "unindex=indexed"
    is a semi-join of the victims against the serving table into the
    ``unindex_queue`` table. ``CrawlEngine.reextract`` is the re-run half.
    The tombstone is a maintenance epoch on the crawl clock (it ends with a
    ledger row); the queue, an index-side table, keeps its own chain.
    """
    de = open_epoch(store)
    docs = store.read("documents", spark, schema=S.DOCUMENTS)
    victims = docs if rulename is None else docs.filter(F.col("rulename") == rulename)
    try:
        idx = store.read("index_docs", spark, schema=INDEX_DOCS)
    except ValueError:
        idx = S.local_df(spark, [], INDEX_DOCS)
    queued = victims.join(idx.select("image_id"), "image_id", "left_semi").select(
        "image_id"
    )
    qe = (store.latest("unindex_queue") or 0) + 1
    mq = store.merge("unindex_queue", queued, qe, keys=["image_id"])
    md = store.delete("documents", victims, de, keys=["image_id"])
    commit_epoch(store, spark, de)
    return {"reset": md["rows"], "queued_unindex": mq["rows"]}


def process_unindex(store: EpochStore, spark: SparkSession) -> dict:
    """The indexer's delete pass + D10 reset_unindex: drop every queued id
    from the serving table, then clear the queue flags.

    Reference: get_documents_to_unidex → ES delete → reset_unindex
    (``unindex=False, indexed=False``) — db/documents.py:322-359,
    eurocli.py:165-181. Clearing the queue restores index eligibility:
    once the document is re-extracted, ``unindexed()`` re-serves it.
    """
    try:
        q = store.read("unindex_queue", spark, schema=UNINDEX_QUEUE)
    except ValueError:
        q = S.local_df(spark, [], UNINDEX_QUEUE)
    q = q.select("image_id")
    e = (store.latest("index_docs") or 0) + 1
    m = store.delete("index_docs", q, e, keys=["image_id"])
    qe = (store.latest("unindex_queue") or 0) + 1
    store.delete("unindex_queue", q, qe, keys=["image_id"])
    return {"unindexed": m["rows"]}


def text_features_epoch(store: EpochStore, spark: SparkSession) -> dict:
    """F8 closure — the text lane the crawl actually produces. The reference
    postprocessors run get_text()/PDF text over the payload
    (rules/extraction.py:27-52); this engine's extraction emits image+caption
    pairs (north_rule), so the caption IS the document's text: feed it
    through the fused textstats profile (token count, quality, language-ID —
    one projection, operators/textstats.py:text_profile) and merge the
    result keyed by image_id, from ``documents`` as of the crawl ledger's
    head."""
    from ..operators import textstats

    docs = store.read("documents", spark, schema=S.DOCUMENTS, as_of=ledger_head(store))
    feats = textstats.text_profile(docs, text_col="caption", id_col="image_id")
    e = (store.latest("doc_text_stats") or 0) + 1
    m = store.merge("doc_text_stats", feats, e, keys=["image_id"])
    return {"epoch": e, "rows": m["rows"]}


def unindex_by_rule(store: EpochStore, spark: SparkSession, rulename: str) -> dict:
    """D9-by-rule analog: drop a rule's rows from the serving table
    (reference reset_postprocessing_by_rule, db/documents.py:310-315)."""
    idx = store.read("index_docs", spark, schema=INDEX_DOCS)
    victims = idx.filter(F.col("rulename") == rulename)
    e = (store.latest("index_docs") or 0) + 1
    m = store.delete("index_docs", victims, e, keys=["image_id"])
    return {"epoch": e, "unindexed": m["rows"]}


def reindex(store: EpochStore, spark: SparkSession) -> dict:
    """S10 analog: materialize a fresh base snapshot (the versioned-index
    rollover europarl-00000 → -00001; readers of the previous epoch keep a
    consistent view via time travel)."""
    e = (store.latest("index_docs") or 0) + 1
    m = store.compact("index_docs", spark, e)
    return {"epoch": e, "rows": m["rows"]}
