"""Domain metadata extraction — contract / tax / building-code /
financial regex extractors + document-type routing (F10-F14,
src/metadata/domain_schemas.py:89-733).

Keyword matching, NOT models (the reference is explicit about this,
domain_schemas.py:93) — every extractor is a regexp/contains column
expression, one projection over the scan."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rag_database_spark.sources.tables import local_frame

# F10 contract types (domain_schemas.py:97-135, representative keywords)
CONTRACT_TYPE_KEYWORDS: dict[str, tuple[str, ...]] = {
    "amendment": ("amendment", "addendum", "modification", "supplement to"),
    "employment": ("employment agreement", "employment contract",
                   "offer letter", "at-will employment"),
    "lease": ("lease agreement", "rental agreement", "landlord", "tenant"),
    "license": ("license agreement", "software license", "licensor",
                "licensee", "royalty"),
    "nda": ("non-disclosure", "confidentiality agreement", "nda",
            "confidential information"),
    "partnership": ("partnership agreement", "joint venture",
                    "operating agreement", "llc agreement"),
    "purchase": ("purchase agreement", "sale agreement", "asset purchase",
                 "acquisition agreement"),
    "service_agreement": ("services agreement", "consulting agreement",
                          "service contract", "professional services",
                          "master services"),
    "settlement": ("settlement agreement", "mutual release"),
}

# F20 party extraction (domain_schemas.py:144-148, first 5000 chars;
# \s spelled out as [ \t] for Java/RE2 parity)
PARTY_PATTERNS: tuple[str, ...] = (
    r"(?i)between[ \t]+([A-Z][A-Za-z \t,\.]+"
    r"(?:LLC|Inc|Corp|Corporation|Company|Ltd))",
    r'(?i)"([A-Z][A-Za-z \t]+)"[ \t]*\(',
    r"(?i)(?:Party|Parties):[ \t]*([A-Z][A-Za-z \t,]+)",
)
PARTY_HEAD_CHARS = 5000
PARTY_MIN_LEN = 3
PARTY_LIMIT = 10

EFFECTIVE_DATE_RE = (
    r"(?i)effective\s+(?:as\s+of\s+)?"
    r"(\w+\s+\d{1,2},?\s+\d{4}|\d{1,2}/\d{1,2}/\d{4})"
)
EXPIRY_DATE_RE = (
    r"(?i)(?:expires?|terminat(?:es?|ion))\s+(?:on\s+)?"
    r"(\w+\s+\d{1,2},?\s+\d{4}|\d{1,2}/\d{1,2}/\d{4})"
)
AMOUNT_RE = r"\$\s*([\d,]+(?:\.\d{2})?)"
GOVERNING_LAW_RE = (
    r"(?i)(?:governed by|governing law)[:\s]+(?:the\s+)?(?:laws?\s+of\s+)?"
    r"(?:the\s+)?(?:State\s+of\s+)?(\w+(?:\s+\w+)?)"
)

# clause flags (domain_schemas.py filter schema)
CLAUSE_FLAGS: dict[str, str] = {
    "has_indemnification": "indemnif",
    "has_confidentiality": "confidential",
    "has_arbitration": "arbitration",
    "has_termination_clause": "terminat",
}

# F11 IRC/tax (domain_schemas.py:294-393)
IRC_SECTION_RE = r"(?i)(?:IRC|I\.R\.C\.)\s*(?:§|Section)\s*(\d+(?:\([a-z]\))?)"
TAX_FORM_RE = r"(?i)Form\s+(\d{3,4}(?:-[A-Z]+)?)"

# F12 building code (domain_schemas.py:400-517)
CODE_TYPE_KEYWORDS: dict[str, tuple[str, ...]] = {
    "ada": ("americans with disabilities", "accessibility"),
    "ibc": ("international building code", "ibc"),
    "ifc": ("international fire code", "ifc"),
    "irc_building": ("international residential code",),
    "local": ("municipal code", "city code", "county code"),
    "nfpa": ("nfpa", "national fire protection"),
}
CODE_SECTION_RE = r"(?:Section|§)\s*(\d+(?:\.\d+)*)"
CODE_EDITION_RE = r"(?i)(\d{4})\s*(?:edition|version|ibc|irc)"
JURISDICTION_RE = r"(?:City|County|State)\s+of\s+([A-Z][a-z]+(?:\s+[A-Z][a-z]+)?)"

# F13 financial (domain_schemas.py:524-648)
FISCAL_PERIOD_RE = r"(?i)(Q[1-4]\s+\d{4}|FY\s*\d{4})"

# F14 doc-type routing keywords (domain_schemas.py:708-733: ≥2 hits)
DOC_TYPE_KEYWORDS: dict[str, tuple[str, ...]] = {
    "building_code": ("building code", "occupancy", "zoning", "ibc",
                      "construction", "dwelling"),
    "contract": ("agreement", "party", "parties", "whereas", "herein",
                 "executed"),
    "financial": ("revenue", "quarterly", "fiscal", "balance sheet",
                  "income statement", "earnings"),
    "tax": ("irc", "internal revenue", "deduction", "taxable", "irs",
            "tax year"),
}
DOC_TYPE_MIN_HITS = 2


def _keyword_hits(low: Column, words: tuple[str, ...]) -> Column:
    n = F.lit(0)
    for w in words:
        n = n + F.when(low.contains(w), 1).otherwise(0)
    return n


def _argmax_type(
    low: Column, keyword_map: dict[str, tuple[str, ...]],
    default: str, min_hits: int = 1,
) -> Column:
    scored = [
        F.struct(
            _keyword_hits(low, words).alias("hits"), F.lit(t).alias("t")
        )
        for t, words in sorted(keyword_map.items())
    ]
    best = F.array_sort(
        F.array(*scored),
        lambda l, r: F.when(l["hits"] > r["hits"], F.lit(-1))
        .when(l["hits"] < r["hits"], F.lit(1))
        .when(l["t"] < r["t"], F.lit(-1))
        .when(l["t"] > r["t"], F.lit(1))
        .otherwise(F.lit(0)),
    )[0]
    return F.when(best["hits"] >= min_hits, best["t"]).otherwise(
        F.lit(default)
    )


def contract_type(text: Column) -> Column:
    """F10: keyword-hit argmax over contract families, ties by type
    name ascending, no hits → 'other'."""
    return _argmax_type(F.lower(text), CONTRACT_TYPE_KEYWORDS, "other")


def doc_type(text: Column) -> Column:
    """F14: routing by keyword score, ≥2 hits required else 'general'
    (domain_schemas.py:708-733)."""
    return _argmax_type(
        F.lower(text), DOC_TYPE_KEYWORDS, "general", DOC_TYPE_MIN_HITS
    )


def extract_parties(text: Column) -> Column:
    """F20 (domain_schemas.py:215-223): party names from the document
    head — dedup + trim + min length + cap 10, sorted ascending (the
    reference's ``set()`` ordering is nondeterministic; the engine pins
    it)."""
    head = F.substring(text, 1, PARTY_HEAD_CHARS)
    arrs = [
        F.regexp_extract_all(head, F.lit(p), 1) for p in PARTY_PATTERNS
    ]
    merged = F.concat(*arrs) if len(arrs) > 1 else arrs[0]
    cleaned = F.filter(
        F.transform(merged, F.trim), lambda x: F.length(x) > PARTY_MIN_LEN
    )
    return F.slice(
        F.array_sort(F.array_distinct(cleaned)), 1, PARTY_LIMIT
    )


def max_amount(text: Column) -> Column:
    """F10 monetary values: max $ amount (commas stripped) or null."""
    amounts = F.transform(
        F.regexp_extract_all(text, F.lit(AMOUNT_RE), 1),
        lambda a: F.regexp_replace(a, ",", "").cast("double"),
    )
    return F.when(F.size(amounts) > 0, F.array_max(amounts))


def extract_metadata(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """F10-F14 in one projection."""
    t = F.col(text_col)
    low = F.lower(t)
    flags = [
        F.when(low.contains(kw), True).otherwise(False).alias(name)
        for name, kw in sorted(CLAUSE_FLAGS.items())
    ]
    return docs.select(
        F.col(id_col).alias("doc_id"),
        doc_type(t).alias("doc_type"),
        contract_type(t).alias("contract_type"),
        F.nullif(F.regexp_extract(t, EFFECTIVE_DATE_RE, 1), F.lit("")).alias(
            "effective_date"
        ),
        F.nullif(F.regexp_extract(t, EXPIRY_DATE_RE, 1), F.lit("")).alias(
            "expiry_date"
        ),
        F.nullif(F.regexp_extract(t, GOVERNING_LAW_RE, 1), F.lit("")).alias(
            "governing_law"
        ),
        F.round(max_amount(t), 2).alias("max_amount"),
        extract_parties(t).alias("parties"),
        *flags,
        F.array_sort(
            F.array_distinct(F.regexp_extract_all(t, F.lit(IRC_SECTION_RE), 1))
        ).alias("irc_sections"),
        F.array_sort(
            F.array_distinct(F.regexp_extract_all(t, F.lit(TAX_FORM_RE), 1))
        ).alias("tax_forms"),
        F.array_sort(
            F.array_distinct(
                F.transform(
                    F.regexp_extract_all(t, F.lit(FISCAL_PERIOD_RE), 1),
                    F.upper,
                )
            )
        ).alias("fiscal_periods"),
        _argmax_type(low, CODE_TYPE_KEYWORDS, "none").alias("code_type"),
        F.array_sort(
            F.array_distinct(F.regexp_extract_all(t, F.lit(CODE_SECTION_RE), 1))
        ).alias("code_sections"),
        F.nullif(F.regexp_extract(t, CODE_EDITION_RE, 1), F.lit("")).alias(
            "code_edition"
        ),
        F.nullif(F.regexp_extract(t, JURISDICTION_RE, 1), F.lit("")).alias(
            "jurisdiction"
        ),
    )


# fixture corpus for the oracle-checked entry (the driver's synthetic
# documents contain none of these domains); apostrophe-free so the
# texts embed in SQL VALUES literals unescaped
DOC_FIXTURES: tuple[tuple[int, str], ...] = (
    (1,
     "MASTER SERVICES AGREEMENT between Acme Services LLC and the "
     "client, effective as of "
     "January 15, 2024. This consulting agreement is governed by the "
     "laws of the State of Delaware. Fees of $12,500.00 per month are "
     "payable. The confidential information clause and arbitration "
     "clause survive. This agreement terminates on 12/31/2026. "
     "WHEREAS the parties executed this herein."),
    (2,
     "Under IRC Section 179 and IRC Section 1031(a) the taxpayer may "
     "claim a deduction for the tax year. File Form 4562 and Form "
     "1040-EZ with the IRS. Taxable income is computed accordingly."),
    (3,
     "Quarterly earnings report. Revenue grew in Q1 2024 and Q2 2024; "
     "guidance for FY2025 raised. The balance sheet and income "
     "statement show totals of $2,400,000.00."),
    (4, "plain note with no recognizable domain content at all"),
    (5,
     "Per the International Building Code 2021 edition, Section 1011.5 "
     "and Section 1207.3 govern egress and occupancy for construction "
     "of a dwelling in the City of Springfield. The building must meet "
     "ibc accessibility requirements."),
)


def fixtures_df(spark) -> DataFrame:
    return local_frame(spark, DOC_FIXTURES, "doc_id long, text string")


def fixtures_values_sql() -> str:
    rows = ", ".join(f"({i}, '{t}')" for i, t in DOC_FIXTURES)
    return f"(VALUES {rows}) AS fx(doc_id, text)"
