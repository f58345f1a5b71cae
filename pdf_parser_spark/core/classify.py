"""Per-document classifiers: report type, embedded-10-K start page, scanned check.

Semantics of reference detect.py and pdf_extract.py:253-266.  All are pure
predicates over the ordered page list of ONE document — in Spark they run
inside the extraction Arrow batch, never as separate shuffles.

The report-type markers go through the one required-literal gate of
core/litgate.py: each page is uppercased once, and a marker runs only when
every one of its literal groups occurs in it.
"""

from __future__ import annotations

import re
from typing import Sequence

from pdf_parser_spark.core import litgate

# --- report-type scoring (ref detect.py:10-24, 111-129) ---

# each marker with its required-literal groups (core/litgate.py)
SEC_MARKERS = (
    litgate.rule(r"FORM\s+10-[KQ]", (("10-",), ("FORM",)), re.IGNORECASE),
    litgate.rule(r"SECURITIES\s+AND\s+EXCHANGE\s+COMMISSION",
                 (("EXCHANGE",), ("COMMISSION",)), re.IGNORECASE),
    litgate.rule(r"Central\s+Index\s+Key", (("CENTRAL",), ("INDEX",)), re.IGNORECASE),
)

IFRS_MARKERS = (
    litgate.rule(r"(?:EUR|NOK|DKK|SEK|GBP)['’]?000",
                 (("000",), ("EUR", "NOK", "DKK", "SEK", "GBP")), re.IGNORECASE),
    litgate.rule(r"\bIFRS\b", (("IFRS",),)),
    litgate.rule(r"(?:CVR|Org\.?\s*(?:nr|no|number))[.\s:]+[\d\s]+",
                 (("CVR", "ORG"),), re.IGNORECASE),
    litgate.rule(r"Statement\s+of\s+Profit\s+or\s+Loss",
                 (("PROFIT",), ("STATEMENT",)), re.IGNORECASE),
    litgate.rule(r"Statement\s+of\s+Financial\s+Position",
                 (("POSITION",), ("STATEMENT",)), re.IGNORECASE),
    litgate.rule(r"Oslo\s+B.rs|Oslo\s+Stock\s+Exchange|Euronext",
                 (("OSLO", "EURONEXT"),), re.IGNORECASE),
)


def classify_report_type(page_texts: Sequence[str], scan_pages: int = 10) -> str:
    """'sec' or 'ifrs' by counting UNIQUE patterns matched over the first N
    pages; ties default to 'sec' (ref detect.py:111-129).

    Perf (hit sets unchanged): a pattern already in its hit set is never
    re-searched on later pages, and each remaining pattern runs only when
    the page passes its required-literal gate."""
    sec_hits: set[int] = set()
    ifrs_hits: set[int] = set()
    n_sec, n_ifrs = len(SEC_MARKERS), len(IFRS_MARKERS)
    for text in page_texts[:scan_pages]:
        if len(sec_hits) == n_sec and len(ifrs_hits) == n_ifrs:
            break
        key = litgate.page_key(text)
        for i, r in enumerate(SEC_MARKERS):
            if i not in sec_hits and litgate.search(r, text, key):
                sec_hits.add(i)
        for i, r in enumerate(IFRS_MARKERS):
            if i not in ifrs_hits and litgate.search(r, text, key):
                ifrs_hits.add(i)
    return "ifrs" if len(ifrs_hits) > len(sec_hits) else "sec"


# --- TOC predicate used by 10-K start detection (ref detect.py:27-41) ---

def is_toc_page_simple(text: str) -> bool:
    if "TABLE OF CONTENTS" not in text.upper():
        return False
    hits = 0
    for line in text.split("\n"):
        if re.search(r"\.{2,}\s*\d+\s*$", line) or re.search(r"\s{3,}\d+\s*$", line):
            hits += 1
    return hits >= 3


# --- embedded 10-K start page (ref detect.py:45-108) ---

_FORM_RE = re.compile(r"FORM\s+10-[KQ]", re.IGNORECASE)
_COMMISSION_RE = re.compile(
    r"UNITED\s+STATES\s+SECURITIES\s+AND\s+EXCHANGE\s+COMMISSION", re.IGNORECASE
)
_REGISTRANT_RE = re.compile(r"\(Exact\s+name\s+of\s+registrant", re.IGNORECASE)
_FORM_FOOTER_RE = re.compile(
    r"(?:^|\n)\s*(?:\d+\s+)?.{3,60}/\d{4}\s+Form\s+10-[KQ](?:\s+\d+)?\s*(?:$|\n)",
    re.IGNORECASE,
)


def find_filing_start_page(page_texts: Sequence[str]) -> int:
    """1-indexed page where the embedded 10-K/10-Q begins; 1 when the whole
    document is the filing (ref detect.py:62-108).  Priority: SEC cover page
    markers, registrant line, then Form-10-K footer (page > 1 only)."""
    for pg, text in enumerate(page_texts, start=1):
        if is_toc_page_simple(text):
            continue
        if _COMMISSION_RE.search(text) and _FORM_RE.search(text):
            return pg
        if _REGISTRANT_RE.search(text):
            return pg
    for pg, text in enumerate(page_texts, start=1):
        if _FORM_FOOTER_RE.search(text):
            if pg > 1:
                return pg
            break  # footer on page 1 => no prefix
    return 1


# --- scanned-document rejection (ref pdf_extract.py:253-266) ---

SCAN_MIN_CHARS = 50       # a page with fewer text chars smells image-only
SCAN_THRESHOLD_BP = 8000  # STRICTLY > 80% sparse pages -> scanned (ref rule)


def is_scanned(page_texts: Sequence[str]) -> bool:
    """True when STRICTLY more than SCAN_THRESHOLD_BP basis points of the
    pages have fewer than SCAN_MIN_CHARS of stripped text, compared exactly in integers (4 sparse pages of 5
    is not scanned).  Unlike the reference (which raises —
    pdf_extract.py:262), the engine routes these rows to the error sink
    via a status column (fail-soft per row)."""
    sparse = sum(1 for t in page_texts if len(t.strip()) < SCAN_MIN_CHARS)
    return 10000 * sparse > SCAN_THRESHOLD_BP * len(page_texts)
