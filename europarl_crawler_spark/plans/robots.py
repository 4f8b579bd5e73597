"""robots.txt gating — new surface required by the north_rule.

The reference has no robots handling (its politeness is the token bucket);
the rebuild gates the frontier drain on RFC 9309 (the Robots Exclusion
Protocol as standardized in 2022): ``User-agent`` group selection with the
specific-token-beats-wildcard rule, ``Allow``/``Disallow`` path patterns
with the spec's ``*`` wildcard and ``$`` end anchor, longest-pattern
precedence with Allow winning length ties, and empty-Disallow = allow-all.

Gating is a broadcast join (the robots dimension is n_hosts × few rules —
tiny next to the frontier). Patterns compile ONCE (driver-side, per rule)
to regexes restricted to a dialect portable across Java regex (Spark
``regexp_like``) and RE2 (the DuckDB oracle): backslash escapes, ``.*``
and ``$`` only — evaluated JVM-side, no UDF, no shuffle of the frontier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.schema import local_df

ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("host_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("pattern", T.StringType(), False),
        T.StructField("regex", T.StringType(), False),
        T.StructField("allow", T.BooleanType(), False),
    ]
)


def pattern_regex(pattern: str) -> str:
    """RFC 9309 path pattern → anchored regex in the portable dialect
    (valid and identical in Java regex and RE2): ``*`` → ``.*``, a
    trailing ``$`` → end anchor, every other non-[A-Za-z0-9_/] octet
    backslash-escaped. No-wildcard patterns therefore become plain
    prefix matches (``^escaped``), bit-compatible with the pre-RFC
    ``startswith`` gate."""
    anchor_end = pattern.endswith("$")
    body = pattern[:-1] if anchor_end else pattern
    out = ["^"]
    for ch in body:
        if ch == "*":
            out.append(".*")
        elif ch.isalnum() or ch in "/_-":
            out.append(ch)
        else:
            out.append("\\" + ch)
    if anchor_end:
        out.append("$")
    return "".join(out)


def _groups(text: str) -> list[tuple[list[str], list[tuple[str, bool]]]]:
    """robots.txt → [(user-agent tokens, [(pattern, allow)])] groups.
    Consecutive User-agent lines share one group (RFC 9309 §2.1); an
    empty Allow/Disallow value is a no-op rule (allow-all), dropped."""
    groups: list[tuple[list[str], list[tuple[str, bool]]]] = []
    agents: list[str] = []
    rules: list[tuple[str, bool]] = []
    in_agents = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            if not in_agents and agents:
                groups.append((agents, rules))
                agents, rules = [], []
            agents.append(val.lower())
            in_agents = True
        elif key in ("disallow", "allow"):
            in_agents = False
            if val:
                rules.append((val, key == "allow"))
        else:
            in_agents = False  # crawl-delay/sitemap etc.: group continues
    if agents:
        groups.append((agents, rules))
    return groups


def parse_robots(text: str, agent: str | None = None) -> list[tuple[str, bool]]:
    """robots.txt → [(path pattern, allow)] for the applicable group.

    ``agent=None`` keeps the legacy behavior (the ``*`` group only).
    With a product token, RFC 9309 group selection applies: the group
    whose token exactly matches the agent case-insensitively wins; else
    the LONGEST token that is a prefix of the agent (the practical
    Googlebot-documented superset); else the ``*`` group. All groups
    with the winning token merge."""
    gs = _groups(text)
    if agent is None:
        return [r for agents, rules in gs for r in rules if "*" in agents]
    a = agent.lower()
    best: str | None = None
    for agents, _ in gs:
        for tok in agents:
            if tok == "*":
                continue
            if (tok == a or a.startswith(tok)) and (
                best is None or len(tok) > len(best)
            ):
                best = tok
    pick = best if best is not None else "*"
    return [r for agents, rules in gs for r in rules if pick in agents]


def parse_crawl_delay(text: str) -> float | None:
    """``Crawl-delay`` (seconds) for the ``*`` group — the de-facto
    robots.txt extension (not in RFC 9309, honored by Bing/Yandex).
    Invalid or negative values are ignored; the last valid value in the
    ``*`` group wins (directives later in a group override earlier ones
    under the common longest-read convention)."""
    delay: float | None = None
    applies = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            applies = val == "*"
        elif applies and key == "crawl-delay":
            try:
                v = float(val)
            except ValueError:
                continue
            if v >= 0:
                delay = v
    return delay


DELAY_SCHEMA = T.StructType(
    [
        T.StructField("host_hash", T.LongType(), False),
        T.StructField("crawl_delay", T.DoubleType(), False),
    ]
)


def crawl_delays_df(spark: SparkSession, robots_by_host: dict[str, str]) -> DataFrame:
    """Per-host Crawl-delay dimension (hosts without a valid delay omitted).
    ``host_budgets`` looks each drain candidate's delay up in it through a
    broadcast join — it is ≤ n_hosts rows of 16 bytes, the same class as
    the politeness state table."""
    rows = []
    for host, text in sorted(robots_by_host.items()):
        d = parse_crawl_delay(text)
        if d is not None:
            rows.append((_host_hash_py(spark, host), float(d)))
    return local_df(spark, rows, DELAY_SCHEMA)


def robots_df(
    spark: SparkSession,
    robots_by_host: dict[str, str],
    agent: str | None = None,
) -> DataFrame:
    """Build the robots dimension from {host: robots.txt text}: one row per
    applicable rule with its pattern compiled to the portable regex."""
    rows = []
    for host, text in sorted(robots_by_host.items()):
        hh = _host_hash_py(spark, host)
        for pattern, allow in parse_robots(text, agent):
            rows.append((hh, host, pattern, pattern_regex(pattern), allow))
    return local_df(spark, rows, ROBOTS_SCHEMA)


def _host_hash_py(spark: SparkSession, host: str) -> int:
    # one-row Spark eval keeps the hash bit-identical to the column expression
    from pyspark.sql import functions as F

    return spark.range(1).select(F.xxhash64(F.lit(host.lower()))).first()[0]


def path_expr(url_col) -> F.Column:
    u = F.col(url_col) if isinstance(url_col, str) else url_col
    return F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#?]*)", 1)


def apply_robots_gate(frontier_batch: DataFrame, robots: DataFrame) -> DataFrame:
    """Drop frontier rows whose URL path matches a disallow rule under
    RFC 9309 precedence: the longest matching PATTERN decides, with Allow
    overriding Disallow at equal length. Pattern matching runs JVM-side
    via ``regexp_like`` over the driver-compiled regexes (no-wildcard
    rules reduce to anchored prefix regexes — identical results to the
    old ``startswith`` gate)."""
    fb = frontier_batch.withColumn("_path", path_expr("url"))
    matched = fb.join(
        F.broadcast(robots),
        (fb["host_hash"] == robots["host_hash"])
        & F.regexp_like(fb["_path"], robots["regex"]),
        "left",
    ).select(
        fb["*"],
        robots["pattern"].alias("_pattern"),
        robots["allow"].alias("_allow"),
    )
    # longest matching rule per frontier row decides
    from pyspark.sql import Window

    # longest pattern first; at equal length Allow (true) sorts before
    # Disallow so Allow wins the tie (RFC 9309 §2.2.2)
    w = Window.partitionBy("url_id").orderBy(
        F.desc(F.length("_pattern")), F.desc("_allow")
    )
    decided = (
        matched.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .filter(F.col("_allow").isNull() | F.col("_allow"))
        .drop("_rn", "_pattern", "_allow", "_path")
    )
    return decided


def parse_sitemaps(text: str) -> list[str]:
    """``Sitemap:`` directives (RFC 9309 §2.3 allows them anywhere in the
    file, outside any group) — the discovery hand-off from robots.txt to
    the sitemap ingester (sources/sitemap.py). Order kept, duplicates
    dropped, relative values ignored (the spec requires absolute URLs)."""
    out: list[str] = []
    seen: set[str] = set()
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        key, _, val = line.partition(":")
        if key.strip().lower() != "sitemap":
            continue
        val = val.strip()
        if "://" not in val:
            continue
        if val not in seen:
            seen.add(val)
            out.append(val)
    return out
