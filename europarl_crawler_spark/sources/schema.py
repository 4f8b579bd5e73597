"""StructTypes for every engine table.

Mirrors the reference's five relational tables (reference: europarl/db/
rules.py:31-39, sessionDay.py:26-31, url.py:32-47, documents.py:33-43,
requests.py:25-39) re-keyed for Spark: SERIAL ids become content-derived
xxhash64 keys so merges are idempotent without sequence state (SURVEY §7.4.2),
and the documents table carries the image+caption payload of BASELINE.json's
``input_hint`` instead of a filesystem blob pointer.

``local_df`` is how the engine builds a frame from driver-side rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def local_df(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """``rows`` (tuples in ``schema``'s field order; ``schema`` a
    ``StructType`` or a DDL string) as a local relation.

    ``spark.createDataFrame(<python list>, schema)`` parallelizes the rows
    into an RDD that PySpark re-pickles through a ``PythonRDD``, so every
    scan of it starts Python workers. A ``pyarrow.Table`` goes to the JVM
    as one ``LocalTableScan`` instead: building it starts no job and
    scanning it starts no Python worker, whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says. Timestamps convert
    the way the list path converts them (an aware value by its instant, a
    naive one in local time), so both give the same rows.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    arrays = [
        pa.array([f.dataType.toInternal(v) for v in col], pa.int64()).cast(a.type)
        if isinstance(f.dataType, T.TimestampType)
        else pa.array(col, a.type)
        for f, a, col in zip(schema.fields, arrow, cols)
    ]
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), schema)


# the seed domain (reference session_days table)
SESSION_DAYS = T.StructType(
    [
        T.StructField("date_id", T.LongType(), False),  # xxhash64(dates)
        T.StructField("dates", T.DateType(), False),
    ]
)

# the frontier + URL-seen set (reference urls table; UNIQUE(rule_id,url) →
# merge key (rule_id, url_hash))
FRONTIER = T.StructType(
    [
        T.StructField("url_id", T.LongType(), False),  # xxhash64(rule_id, url)
        T.StructField("date_id", T.LongType(), False),
        T.StructField("rule_id", T.IntegerType(), False),
        T.StructField("dates", T.DateType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),  # xxhash64(canonical url)
        T.StructField("host_hash", T.LongType(), False),
        T.StructField("salt", T.IntegerType(), False),
        T.StructField("priority", T.LongType(), False),  # drain order key
        T.StructField("created_epoch", T.IntegerType(), False),
    ]
)

# append-only crawl log (reference requests table)
REQUESTS = T.StructType(
    [
        T.StructField("request_id", T.LongType(), False),
        T.StructField("url_id", T.LongType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host_hash", T.LongType(), False),
        T.StructField("requested_at", T.TimestampType(), False),
        T.StructField("status_code", T.IntegerType(), False),
        T.StructField("redirected_url", T.StringType(), True),
        T.StructField("epoch", T.IntegerType(), False),
        # position in the epoch's per-host drain order — the reproducible
        # crawl ordering the north_rule requires (SURVEY §7.4.1)
        T.StructField("drain_seq", T.IntegerType(), False),
    ]
)

# per-URL crawl-state summary: an unkeyed append log of each epoch's fetch
# delta, folded on read (max per url_id) and folded into a base once its
# live chain holds MAX_LIVE_COMMITS commits. The drain's one filter (pending
# and O8 recrawl rows) reads THIS O(urls) table instead of re-scanning the
# unbounded append-only requests log every epoch
URL_STATE = T.StructType(
    [
        T.StructField("url_id", T.LongType(), False),
        T.StructField("terminal", T.BooleanType(), False),  # ever 200/404
        T.StructField("has_ok", T.BooleanType(), False),  # ever 200
        T.StructField("last_ok_at", T.TimestampType(), True),
        T.StructField("last_ok_epoch", T.IntegerType(), True),
    ]
)

# the image+caption content table (input_hint schema, verbatim order)
IMAGES = T.StructType(
    [
        T.StructField("image_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("fmt", T.StringType(), False),
        T.StructField("caption", T.StringType(), False),
        T.StructField("phash", T.LongType(), False),
    ]
)

# fetch output = images + crawl metadata (reference documents table ⋈ J8
# metadata join, cf. europarl_index.json logical schema)
DOCUMENTS = T.StructType(
    list(IMAGES.fields)
    + [
        T.StructField("url_id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("rulename", T.StringType(), False),
        T.StructField("session_date", T.DateType(), False),
        T.StructField("downloaded_at", T.TimestampType(), False),
        T.StructField("epoch", T.IntegerType(), False),
    ]
)

# per-host politeness state checkpoint: one base per crawl epoch, dated by
# its commit epoch (the store's _epoch)
POLITENESS = T.StructType(
    [
        T.StructField("host_hash", T.LongType(), False),
        T.StructField("interval_secs", T.DoubleType(), False),
        T.StructField("last_check", T.DoubleType(), True),
        T.StructField("next_check", T.DoubleType(), True),
    ]
)

# the simulated-web content store the fetch stage reads (SURVEY §1.4: plays
# the role of the reference's HTTP origin; keyed by canonical url hash)
WEB = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        # ok | missing | flaky | redirect (follow to final_url, then 200)
        T.StructField("kind", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("w", T.IntegerType(), True),
        T.StructField("h", T.IntegerType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("caption", T.StringType(), True),
        # the URL the origin serves the resource AT (``resp.url`` after
        # following redirects — reference documentdownloader.py:124); equals
        # ``url`` for non-redirect rows
        T.StructField("final_url", T.StringType(), True),
    ]
)
