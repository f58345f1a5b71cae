"""Section segmentation: SEC (14 keys) and IFRS (5 keys) page-range splitting.

Semantics of reference section_split.py and ifrs_section_split.py.  This is the
reference's "range partitioning" analog — but because one document is one Spark
row, the whole splitter is a per-row pure function (no shuffle; a naive
explode-pages/window design was rejected — SURVEY.md §2.3).

Every page-level heading regex (the 13 SEC keys, the TOC heading, the 5 IFRS
keys) goes through the one required-literal gate of core/litgate.py: each
page is uppercased once, and a pattern runs only when every one of its
literal groups occurs in it, so outputs are those of the ungated loop.
"""

from __future__ import annotations

import re
from typing import Sequence

from pdf_parser_spark.core import litgate
from pdf_parser_spark.core.model import Page, Section, Table

# --- SEC section keys ------------------------------------------------------

COVER_PAGE = "cover_page"
INCOME_STATEMENT = "income_statement"
BALANCE_SHEET = "balance_sheet"
CASH_FLOW = "cash_flow"
STOCKHOLDERS_EQUITY = "stockholders_equity"
COMPREHENSIVE_INCOME = "comprehensive_income"
NOTES = "notes"
MDA = "mda"
MARKET_RISK = "market_risk"
CONTROLS = "controls"
LEGAL_PROCEEDINGS = "legal_proceedings"
RISK_FACTORS = "risk_factors"
EXHIBITS = "exhibits"
SIGNATURES = "signatures"

SECTION_TITLES = {
    COVER_PAGE: "Cover Page",
    INCOME_STATEMENT: "Consolidated Statements of Income",
    BALANCE_SHEET: "Consolidated Balance Sheets",
    CASH_FLOW: "Consolidated Statements of Cash Flows",
    STOCKHOLDERS_EQUITY: "Consolidated Statements of Stockholders' Equity",
    COMPREHENSIVE_INCOME: "Consolidated Statements of Comprehensive Income",
    NOTES: "Notes to Financial Statements",
    MDA: "Management's Discussion and Analysis",
    MARKET_RISK: "Quantitative and Qualitative Disclosures About Market Risk",
    CONTROLS: "Controls and Procedures",
    LEGAL_PROCEEDINGS: "Legal Proceedings",
    RISK_FACTORS: "Risk Factors",
    EXHIBITS: "Exhibits",
    SIGNATURES: "Signatures",
}

# Ordered heading patterns (ref section_split.py:45-143) — order matters for
# boundary detection — each with its required-literal groups (core/litgate.py).
SECTION_PATTERNS: list[tuple[str, litgate.Rule]] = [
    (INCOME_STATEMENT, litgate.rule(
        r"(?:CONDENSED\s+)?CONSOLIDATED\s+STATEMENTS?\s+OF\s+(?:INCOME|OPERATIONS|EARNINGS)"
        r"(?:\s+AND\s+COMPREHENSIVE\s+(?:INCOME|LOSS)(?:\s*\(LOSS\))?)?",
        (("CONSOLIDATED",), ("STATEMENT",), ("INCOME", "OPERATIONS", "EARNINGS")),
        re.IGNORECASE)),
    (COMPREHENSIVE_INCOME, litgate.rule(
        r"(?:CONDENSED\s+)?CONSOLIDATED\s+STATEMENTS?\s+OF\s+COMPREHENSIVE\s+(?:INCOME|LOSS)(?:\s*\(LOSS\))?",
        (("CONSOLIDATED",), ("COMPREHENSIVE",), ("STATEMENT",)),
        re.IGNORECASE)),
    (BALANCE_SHEET, litgate.rule(
        r"(?:CONDENSED\s+)?CONSOLIDATED\s+(?:BALANCE\s+SHEETS?|STATEMENTS?\s+OF\s+FINANCIAL\s+CONDITION)",
        (("CONSOLIDATED",), ("SHEET", "CONDITION")),
        re.IGNORECASE)),
    (CASH_FLOW, litgate.rule(
        r"(?:CONDENSED\s+)?CONSOLIDATED\s+STATEMENTS?\s+OF\s+CASH\s+FLOWS?",
        (("CONSOLIDATED",), ("CASH",), ("FLOW",)),
        re.IGNORECASE)),
    (STOCKHOLDERS_EQUITY, litgate.rule(
        r"(?:CONDENSED\s+)?CONSOLIDATED\s+STATEMENTS?\s+OF\s+"
        r"(?:(?:STOCKHOLDERS|SHAREHOLDERS|CHANGES\s+IN\s+(?:STOCKHOLDERS|SHAREHOLDERS))['’]?\s*(?:EQUITY|DEFICIT)"
        r"|CHANGES\s+IN\s+EQUITY)",
        (("CONSOLIDATED",), ("EQUITY", "DEFICIT"), ("STATEMENT",)),
        re.IGNORECASE)),
    (NOTES, litgate.rule(
        r"NOTES\s+TO\s+(?:THE\s+)?(?:CONDENSED\s+)?(?:CONSOLIDATED\s+)?(?:CONDENSED\s+)?(?:INTERIM\s+)?FINANCIAL\s+STATEMENTS",
        (("NOTES",), ("FINANCIAL",)),
        re.IGNORECASE)),
    (MDA, litgate.rule(
        r"(?:Item\s+(?:2|7)[.\s]*)?MANAGEMENT['’]?S\s+DISCUSSION\s+AND\s+ANALYSIS"
        r"(?:\s+OF\s+FINANCIAL\s+CONDITION\s+AND\s+RESULTS\s+OF\s+OPERATIONS)?",
        (("MANAGEMENT",), ("DISCUSSION",)),
        re.IGNORECASE)),
    (MARKET_RISK, litgate.rule(
        r"QUANTITATIVE\s+AND\s+QUALITATIVE\s+DISCLOSURES?\s+ABOUT\s+MARKET\s+RISK",
        (("QUANTITATIVE",),),
        re.IGNORECASE)),
    (CONTROLS, litgate.rule(
        r"(?:Item\s+4[.\s]*)?CONTROLS\s+AND\s+PROCEDURES",
        (("CONTROLS",), ("PROCEDURES",)),
        re.IGNORECASE)),
    (LEGAL_PROCEEDINGS, litgate.rule(
        r"Item\s+(?:1|3)[.\s]+LEGAL\s+PROCEEDINGS",
        (("LEGAL",), ("ITEM",)),
        re.IGNORECASE)),
    (RISK_FACTORS, litgate.rule(
        r"Item\s+1A[.\s]+RISK\s+FACTORS",
        (("FACTORS",), ("RISK",), ("ITEM",)),
        re.IGNORECASE)),
    (EXHIBITS, litgate.rule(
        r"Item\s+(?:6|15|16)[.\s]+EXHIBITS",
        (("EXHIBITS",), ("ITEM",)),
        re.IGNORECASE)),
    (SIGNATURES, litgate.rule(
        r"^SIGNATURES?\s*$",
        (("SIGNATURE",),),
        re.IGNORECASE | re.MULTILINE)),
]
_RULE_BY_KEY = dict(SECTION_PATTERNS)

# Per-key page caps (ref section_split.py:428-435)
_MAX_PAGES = {
    INCOME_STATEMENT: 5,
    COMPREHENSIVE_INCOME: 5,
    BALANCE_SHEET: 5,
    CASH_FLOW: 5,
    STOCKHOLDERS_EQUITY: 5,
    RISK_FACTORS: 25,
}

# --- TOC detection (ref section_split.py:155-299) ---------------------------

_TOC_HEADING = litgate.rule(
    r"TABLE\s+OF\s+CONTENTS", (("CONTENTS",), ("TABLE",)), re.IGNORECASE)
_TRAILING_PAGE_NUM = re.compile(r"\s+\d{1,3}\s*$")
_LEADING_PAGE_NUM = re.compile(r"^\s*\d{1,3}\s+[A-Z]")
_DOTTED_LEADER = re.compile(r"\.{3,}\s*\d{1,3}\s*$")
_TOC_FINANCIAL = re.compile(
    r"(?:total\s+(?:assets|liabilities|revenue|equity|current)\s.*[\d,]+|"
    r"net\s+(?:income|loss|cash)\s.*[\d,]+|"
    r"operating\s+(?:income|loss|expenses)\s.*[\d,]+|"
    r"\$\s*[\d,]+)",
    re.IGNORECASE,
)


def _count_reaches(lines: list[str], pat: re.Pattern[str], k: int) -> bool:
    """True iff >= k lines match — stops scanning at the k-th hit (the
    count is only ever compared against the threshold)."""
    hits = 0
    for ln in lines:
        if pat.search(ln):
            hits += 1
            if hits >= k:
                return True
    return False


def _has_toc_entries(text: str) -> bool:
    """>=3 trailing-page-number lines, or >=5 leading-page-number lines
    (two-column TOC layout) — ref section_split.py:226-242."""
    lines = text.split("\n")
    if _count_reaches(lines, _TRAILING_PAGE_NUM, 3):
        return True
    return _count_reaches(lines, _LEADING_PAGE_NUM, 5)


def _admitted(key: str | None) -> list[tuple[str, re.Pattern[str]]]:
    """SECTION_PATTERNS in order, minus those the page's gate rules out."""
    return [(k, r.pattern) for k, r in SECTION_PATTERNS if litgate.admits(key, r.groups)]


def _toc_verdict(
    text: str, key: str | None, admitted: list[tuple[str, re.Pattern[str]]]
) -> tuple[bool, frozenset[str] | None]:
    """(is_toc, fallback_hits) — the is_toc half is exactly the reference
    predicate (ref section_split.py:245-299); fallback_hits is the set of
    SECTION_PATTERNS keys with >= 1 search hit, FREE when the fallback
    branch scanned to completion (a non-TOC page scans all patterns
    anyway), letting _find_starts skip finditer on the patterns that
    provably cannot match.  None when the fallback never completed a full
    scan (heading branch decided, or the >=4-hit early exit fired).
    `key`/`admitted` are the page's gate key and _admitted(key): a pattern
    the gate rules out cannot hit, so the fallback searches only the rest."""
    has_heading = litgate.search(_TOC_HEADING, text, key) is not None
    if has_heading and _has_toc_entries(text):
        lines = text.strip().splitlines()
        header_area = any(
            _TOC_HEADING.pattern.search(ln) and len(ln.strip()) < 60 for ln in lines[:3]
        )
        has_financial = bool(_TOC_FINANCIAL.search(text))
        if header_area and has_financial:
            return False, None  # financial page with a running TOC header
        if not header_area and has_financial:
            return False, None
        if _count_reaches(lines, _DOTTED_LEADER, 2):
            return True, None
        return True, None  # header-area TOC w/o financial data, or buried TOC
    # fallback: a page matching >=4 section patterns is likely a TOC
    hits: list[str] = []
    for k, pat in admitted:
        if pat.search(text):
            hits.append(k)
            if len(hits) >= 4:
                return True, None
    return False, frozenset(hits)


def is_toc_page(text: str) -> bool:
    """Rich TOC predicate with running-header and financial-data rescue
    (ref section_split.py:245-299)."""
    key = litgate.page_key(text)
    return _toc_verdict(text, key, _admitted(key))[0]


# --- heading validation (ref section_split.py:163-223) ----------------------

_ANALYSIS_TRAILER = re.compile(
    r"\b(?:ANALYSIS|DISCUSSION|SUMMARY|HIGHLIGHTS?|OVERVIEW|SELECTED|DATA)\b",
    re.IGNORECASE,
)
_REFERENCE_PREFIXES = frozenset(("and", "or", "the", "refer", "see", "selected"))


def is_heading_match(page_text: str, match: re.Match[str]) -> bool:
    """True when the regex match sits on a standalone heading line rather than
    a mid-sentence/TOC reference (ref section_split.py:163-223)."""
    line_start = page_text.rfind("\n", 0, match.start())
    line_start = 0 if line_start == -1 else line_start + 1
    line_end = page_text.find("\n", match.end())
    if line_end == -1:
        line_end = len(page_text)
    line = page_text[line_start:line_end]

    if len(line) > 120:
        return False
    if match.start() - line_start > 10:
        return False
    if _TRAILING_PAGE_NUM.search(line):
        return False
    body = line.lstrip()
    if body and body[0].islower():
        return False
    first_word = body.split()[0] if body.split() else ""
    if first_word.lower() in _REFERENCE_PREFIXES:
        return False
    trailing = page_text[match.end():line_end].strip()
    if len(trailing) > 50:
        return False
    if trailing and _ANALYSIS_TRAILER.search(trailing):
        return False
    if trailing and trailing[0] in ".;,":
        return False
    if trailing:
        tw = trailing.split()[0] if trailing.split() else ""
        if tw and tw[0].islower():
            return False
        if tw.lower() in ("at", "as"):
            return False
    return True


# --- section-start search + page-range assembly (ref section_split.py:302-496)

def _find_starts(pages: Sequence[Page]) -> list[tuple[str, int]]:
    found: list[tuple[str, int]] = []
    seen: set[str] = set()
    for page in pages:
        key = litgate.page_key(page.text)
        admitted = _admitted(key)
        if all(k in seen for k, _ in admitted):
            continue  # nothing left to find here; skips the TOC check too
            # (it only decides whether this page's matches count)
        is_toc, hits = _toc_verdict(page.text, key, admitted)
        if is_toc:
            continue  # the reference's "partition pruning" analog
        for k, pattern in admitted:
            if k in seen:
                continue
            if hits is not None and k not in hits:
                continue  # search already proved no match; finditer is a no-op
            for m in pattern.finditer(page.text):
                if is_heading_match(page.text, m):
                    found.append((k, page.page_number))
                    seen.add(k)
                    break
    found.sort(key=lambda kv: kv[1])
    return found


def _split_at_header(page_text: str, pattern: re.Pattern[str]) -> tuple[str, str]:
    """(before, from_header) split at the line containing the first match
    (ref section_split.py:354-371)."""
    m = pattern.search(page_text)
    if not m:
        return page_text, ""
    ls = page_text.rfind("\n", 0, m.start())
    ls = 0 if ls == -1 else ls + 1
    return page_text[:ls], page_text[ls:]


def _cover_section(pages: Sequence[Page], starts: list[tuple[str, int]]) -> Section | None:
    """Everything before the first detected section (ref section_split.py:324-351)."""
    if not starts or not pages:
        return None
    first_pg = starts[0][1]
    if first_pg <= pages[0].page_number:
        return None
    texts: list[str] = []
    tabs: list[Table] = []
    for page in pages:
        if page.page_number < first_pg:
            texts.append(page.text)
            tabs.extend(page.tables)
    if not texts:
        return None
    return Section(COVER_PAGE, pages[0].page_number, first_pg - 1, "\n\n".join(texts), tabs)


def split_sec_sections(pages: Sequence[Page]) -> dict[str, Section]:
    """SEC splitter (ref section_split.py:374-496): first valid heading per key,
    page ranges [start, next-1] with per-key caps, same-page boundary text
    splits, MDA forward-reference stub rebinding."""
    if not pages:
        return {}
    last_page = pages[-1].page_number
    starts = _find_starts(pages)

    # MDA stub fix (ref section_split.py:390-409): a <=1-page MDA span is a
    # forward reference — rebind to a later heading match when one exists.
    mda_i = next((i for i, (k, _) in enumerate(starts) if k == MDA), None)
    if mda_i is not None:
        mda_pg = starts[mda_i][1]
        nxt_pg = starts[mda_i + 1][1] if mda_i + 1 < len(starts) else last_page + 1
        if nxt_pg - mda_pg <= 1:
            pat, groups = _RULE_BY_KEY[MDA]
            done = False
            for page in pages:
                if done or page.page_number <= mda_pg:
                    continue
                key = litgate.page_key(page.text)
                if not litgate.admits(key, groups):
                    continue  # no MDA match here: finditer would find nothing
                if is_toc_page(page.text):
                    continue
                for m in pat.finditer(page.text):
                    if is_heading_match(page.text, m):
                        starts[mda_i] = (MDA, page.page_number)
                        starts.sort(key=lambda kv: kv[1])
                        done = True
                        break

    sections: dict[str, Section] = {}
    cover = _cover_section(pages, starts)
    if cover:
        sections[COVER_PAGE] = cover

    for i, (key, start_pg) in enumerate(starts):
        if i + 1 < len(starts):
            end_pg = max(start_pg, starts[i + 1][1] - 1)
        else:
            end_pg = last_page
        cap = _MAX_PAGES.get(key)
        if cap and end_pg - start_pg >= cap:
            end_pg = start_pg + cap - 1

        next_key = starts[i + 1][0] if i + 1 < len(starts) else None
        next_pg = starts[i + 1][1] if i + 1 < len(starts) else None

        texts: list[str] = []
        tabs: list[Table] = []
        for page in pages:
            if not (start_pg <= page.page_number <= end_pg):
                continue
            text = page.text
            # shared start page: trim text to begin at OUR header
            if page.page_number == start_pg and i > 0:
                prev_pg = starts[i - 1][1]
                if prev_pg <= start_pg:
                    _, from_hdr = _split_at_header(text, _RULE_BY_KEY[key].pattern)
                    if from_hdr:
                        text = from_hdr
            # shared end page: trim text to stop before the NEXT header
            if next_key and next_pg == page.page_number and next_pg == end_pg:
                before, _ = _split_at_header(text, _RULE_BY_KEY[next_key].pattern)
                if before.strip():
                    text = before
            texts.append(text)
            tabs.extend(page.tables)

        sections[key] = Section(key, start_pg, end_pg, "\n\n".join(texts), tabs)

    return sections


# --- IFRS splitter (ref ifrs_section_split.py) ------------------------------

IFRS_INCOME_STATEMENT = "ifrs_income_statement"
IFRS_BALANCE_SHEET = "ifrs_balance_sheet"
IFRS_CASH_FLOW = "ifrs_cash_flow"
IFRS_EQUITY_CHANGES = "ifrs_equity_changes"
IFRS_NOTES = "ifrs_notes"

IFRS_SECTION_TITLES = {
    IFRS_INCOME_STATEMENT: "Consolidated Statement of Profit or Loss and Other Comprehensive Income",
    IFRS_BALANCE_SHEET: "Consolidated Balance Sheet",
    IFRS_CASH_FLOW: "Consolidated Statement of Cash Flows",
    IFRS_EQUITY_CHANGES: "Consolidated Statement of Changes in Equity",
    IFRS_NOTES: "Notes to the Consolidated Financial Statements",
}

_IFRS_PREFIX = r"(?:(?:Interim\s+)?(?:Condensed\s+)?(?:Consolidated\s+)?)"

IFRS_SECTION_PATTERNS: list[tuple[str, litgate.Rule]] = [
    (IFRS_INCOME_STATEMENT, litgate.rule(
        _IFRS_PREFIX + r"Statement\s+of\s+Profit\s+or\s+Loss",
        (("PROFIT",), ("STATEMENT",)), re.IGNORECASE)),
    (IFRS_BALANCE_SHEET, litgate.rule(
        _IFRS_PREFIX + r"(?:Balance\s+Sheet|Statement\s+of\s+Financial\s+Position)",
        (("SHEET", "POSITION"),), re.IGNORECASE)),
    (IFRS_EQUITY_CHANGES, litgate.rule(
        _IFRS_PREFIX + r"Statement\s+of\s+Changes\s+in\s+Equity",
        (("EQUITY",), ("CHANGES",)), re.IGNORECASE)),
    (IFRS_CASH_FLOW, litgate.rule(
        _IFRS_PREFIX + r"Statement\s+of\s+Cash\s+Flows?",
        (("CASH",), ("FLOW",)), re.IGNORECASE)),
    (IFRS_NOTES, litgate.rule(
        r"Notes\s+to\s+(?:the\s+)?(?:Condensed\s+)?(?:Consolidated\s+)?Financial\s+Statements",
        (("NOTES",), ("FINANCIAL",)), re.IGNORECASE)),
]
_IFRS_RULE_BY_KEY = dict(IFRS_SECTION_PATTERNS)
_PARENT_COMPANY = re.compile(r"Parent\s+Company", re.IGNORECASE)


def _is_divider(page: Page) -> bool:
    return len(page.text.strip()) < 100  # ref ifrs_section_split.py:81-83


def _is_parent_company(page: Page) -> bool:
    return bool(_PARENT_COMPANY.search(page.text[:200]))  # ref :86-88


def split_ifrs_sections(pages: Sequence[Page]) -> dict[str, Section]:
    """IFRS splitter (ref ifrs_section_split.py:133-211): 5 patterns, divider
    and Parent-Company pages skipped, Notes range truncated at parent-company
    statements."""
    if not pages:
        return {}
    last_page = pages[-1].page_number

    starts: list[tuple[str, int]] = []
    seen: set[str] = set()
    for page in pages:
        if _is_divider(page) or _is_parent_company(page):
            continue
        page_key = litgate.page_key(page.text)
        for key, r in IFRS_SECTION_PATTERNS:
            if key in seen:
                continue
            if litgate.search(r, page.text, page_key):
                starts.append((key, page.page_number))
                seen.add(key)
    starts.sort(key=lambda kv: kv[1])

    sections: dict[str, Section] = {}
    for i, (key, start_pg) in enumerate(starts):
        if i + 1 < len(starts):
            end_pg = max(start_pg, starts[i + 1][1] - 1)
        else:
            end_pg = last_page
            for page in pages:
                if page.page_number > start_pg and _is_parent_company(page):
                    end_pg = page.page_number - 1
                    break

        next_key = starts[i + 1][0] if i + 1 < len(starts) else None
        next_pg = starts[i + 1][1] if i + 1 < len(starts) else None

        texts: list[str] = []
        tabs: list[Table] = []
        for page in pages:
            if not (start_pg <= page.page_number <= end_pg):
                continue
            text = page.text
            if _is_divider(page) and page.page_number != start_pg:
                continue
            if page.page_number == start_pg and i > 0 and starts[i - 1][1] == start_pg:
                _, from_hdr = _split_at_header(text, _IFRS_RULE_BY_KEY[key].pattern)
                if from_hdr:
                    text = from_hdr
            if next_key and next_pg == page.page_number and next_pg == end_pg:
                before, _ = _split_at_header(text, _IFRS_RULE_BY_KEY[next_key].pattern)
                if before.strip():
                    text = before
            texts.append(text)
            tabs.extend(page.tables)

        sections[key] = Section(key, start_pg, end_pg, "\n\n".join(texts), tabs)

    return sections
