"""The crawl-rule registry as *data* + URL generation as pure column expressions.

The reference implements 19 decorator-registered rule classes, each with a
``url(date)`` classmethod that string-concatenates
``BASE_URL + DOC - term - YYYY-MM-DD [-RCV|-VOT] _ LANG . fmt``
(reference: europarl/rules/rule.py:34-61 for get_term,
europarl/rules/protocol.py:26-47 / wordprotocol.py:10-31 / agenda.py:6-27 /
dailyAgenda.py:10-31 / votingNamed.py:10-33 / votingOverview.py:10-33 for the
templates; registry europarl/rules/rule.py:10-31).

Here each rule is a row in a broadcast-sized ``rules`` dimension table and URL
generation is a single Catalyst column expression — it runs JVM-side inside
WholeStageCodegen over the (session_day × rule) candidate frontier, so URL
materialization for a 10^10-row frontier never touches Python.

Golden parity: tests/test_rules_golden.py ports the reference's 22 exact URL
strings (reference: tests/rules/test_protocol.py:8-111) and the get_term
boundary table (reference: tests/rules/test_rule.py:10-27).
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.schema import local_df

BASE_URL = "https://europarl.europa.eu/doceo/document/"

# Parliament terms, strict '<' on BOTH ends (reference rule.py:46-61: out-of-range
# dates — including the exact boundary days — fall through to term "0").
TERMS: list[tuple[str, date, date]] = [
    ("1", date(1979, 7, 1), date(1984, 7, 31)),
    ("2", date(1984, 7, 1), date(1989, 7, 31)),
    ("3", date(1989, 7, 1), date(1994, 7, 31)),
    ("4", date(1994, 7, 1), date(1999, 7, 31)),
    ("5", date(1999, 7, 1), date(2004, 7, 31)),
    ("6", date(2004, 7, 1), date(2009, 7, 31)),
    ("7", date(2009, 7, 1), date(2014, 7, 31)),
    ("8", date(2014, 7, 1), date(2019, 7, 31)),
    ("9", date(2019, 7, 1), date(2024, 7, 31)),
]


@dataclass(frozen=True)
class CrawlRule:
    """One row of the rules dimension.

    doc_code ∈ {PV, CRE, OJ, OJQ}; infix ∈ {"", VOT, RCV} (the voting variants
    insert "-VOT"/"-RCV" between date and language).
    """

    name: str
    doc_code: str
    infix: str
    language: str
    filetype: str
    active: bool = True


# The 19 reference rules, including the reference's own quirks kept verbatim:
# named_voting_fr_pdf declares format ".xml" (reference votingNamed.py:58-60)
# and voting_overview_de_Html has a capital H (reference votingOverview.py:88-94).
RULES: list[CrawlRule] = [
    CrawlRule("session_day", "PV", "", "EN", ".pdf"),
    CrawlRule("protocol_en_pdf", "PV", "", "EN", ".pdf"),
    CrawlRule("protocol_en_html", "PV", "", "EN", ".html"),
    CrawlRule("protocol_de_pdf", "PV", "", "DE", ".pdf"),
    CrawlRule("protocol_de_html", "PV", "", "DE", ".html"),
    CrawlRule("word_protocol_en_pdf", "CRE", "", "EN", ".pdf"),
    CrawlRule("word_protocol_en_html", "CRE", "", "EN", ".html"),
    CrawlRule("word_protocol_de_pdf", "CRE", "", "DE", ".pdf"),
    CrawlRule("word_protocol_de_html", "CRE", "", "DE", ".html"),
    CrawlRule("agenda_en_pdf", "OJ", "", "EN", ".pdf"),
    CrawlRule("agenda_en_html", "OJ", "", "EN", ".html"),
    CrawlRule("agenda_de_pdf", "OJ", "", "DE", ".pdf"),
    CrawlRule("agenda_de_html", "OJ", "", "DE", ".html"),
    CrawlRule("daily_agenda_en_pdf", "OJQ", "", "EN", ".pdf"),
    CrawlRule("daily_agenda_en_html", "OJQ", "", "EN", ".html"),
    CrawlRule("daily_agenda_de_pdf", "OJQ", "", "DE", ".pdf"),
    CrawlRule("daily_agenda_de_html", "OJQ", "", "DE", ".html"),
    CrawlRule("voting_overview_en_pdf", "PV", "VOT", "EN", ".pdf"),
    CrawlRule("voting_overview_de_pdf", "PV", "VOT", "DE", ".pdf"),
    CrawlRule("voting_overview_en_html", "PV", "VOT", "EN", ".html"),
    CrawlRule("voting_overview_de_Html", "PV", "VOT", "DE", ".html"),
    CrawlRule("named_voting_fr_pdf", "PV", "RCV", "FR", ".xml"),
    CrawlRule("named_voting_fr_xml", "PV", "RCV", "FR", ".xml"),
]

RULES_BY_NAME = {r.name: r for r in RULES}

RULES_SCHEMA = T.StructType(
    [
        T.StructField("rule_id", T.IntegerType(), False),
        T.StructField("rulename", T.StringType(), False),
        T.StructField("doc_code", T.StringType(), False),
        T.StructField("infix", T.StringType(), False),
        T.StructField("language", T.StringType(), False),
        T.StructField("filetype", T.StringType(), False),
        T.StructField("active", T.BooleanType(), False),
    ]
)


def rules_df(spark: SparkSession, active_only: bool = False) -> DataFrame:
    """The rules dimension table. Tiny (19 rows) — always broadcast in joins.

    rule_id is positional and stable (reference upserts keep ids stable across
    re-registration, tests/db/test_rules.py:62-66; positional ids give the same
    stability without sequence state).
    """
    rows = [
        (i + 1, r.name, r.doc_code, r.infix, r.language, r.filetype, r.active)
        for i, r in enumerate(RULES)
        if (r.active or not active_only)
    ]
    return local_df(spark, rows, RULES_SCHEMA)


# ---------------------------------------------------------------------------
# Python-side golden reference (for the ported reference tests)
# ---------------------------------------------------------------------------


def get_term(day: date) -> str:
    """Exact port of reference get_term semantics (rule.py:34-61): strict <."""
    for key, start, end in TERMS:
        if start < day < end:
            return key
    return "0"


def build_url(rule: CrawlRule, day: date) -> str:
    """Python twin of url_expr — used only in golden tests and test fixtures."""
    infix = "-" + rule.infix if rule.infix else ""
    return (
        BASE_URL
        + rule.doc_code
        + "-"
        + get_term(day)
        + "-"
        + day.strftime("%Y-%m-%d")
        + infix
        + "_"
        + rule.language
        + rule.filetype
    )


# ---------------------------------------------------------------------------
# Spark column expressions (the data-plane path)
# ---------------------------------------------------------------------------


def term_expr(dates_col: Column | str) -> Column:
    """get_term as a when-cascade — constant-folded, codegen'd, no UDF."""
    c = F.col(dates_col) if isinstance(dates_col, str) else dates_col
    expr = F.lit("0")
    # Build the cascade in reverse so the first matching term wins, mirroring
    # the reference's dict-iteration order (terms don't overlap except at the
    # excluded boundary days, so order only matters for exact reproduction).
    for key, start, end in reversed(TERMS):
        expr = F.when((c > F.lit(start)) & (c < F.lit(end)), F.lit(key)).otherwise(expr)
    return expr


def url_expr(
    dates_col: Column | str = "dates",
    doc_code: Column | str = "doc_code",
    infix: Column | str = "infix",
    language: Column | str = "language",
    filetype: Column | str = "filetype",
) -> Column:
    """URL template as one concat expression over (date × rule-dim) columns."""
    d = F.col(dates_col) if isinstance(dates_col, str) else dates_col
    dc = F.col(doc_code) if isinstance(doc_code, str) else doc_code
    ix = F.col(infix) if isinstance(infix, str) else infix
    lg = F.col(language) if isinstance(language, str) else language
    ft = F.col(filetype) if isinstance(filetype, str) else filetype
    return F.concat(
        F.lit(BASE_URL),
        dc,
        F.lit("-"),
        term_expr(d),
        F.lit("-"),
        F.date_format(d, "yyyy-MM-dd"),
        F.when(ix != "", F.concat(F.lit("-"), ix)).otherwise(F.lit("")),
        F.lit("_"),
        lg,
        ft,
    )
