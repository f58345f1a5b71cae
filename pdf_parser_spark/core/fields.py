"""Cover-page field extraction + scale-hint search (E1-E3 in SURVEY.md §2.6).

Semantics of reference programmatic.py:13-232 and pipeline.py:391-422.

The cover-field patterns go through the one required-literal gate of
core/litgate.py: the cover text is uppercased once, and a pattern runs only
when every one of its literal groups occurs in it.
"""

from __future__ import annotations

import re

from pdf_parser_spark.core import litgate

_TICKER_STOPWORDS = ("THE", "LLC", "INC", "NYSE", "EACH", "NAME")

# cover-field patterns, each with its required-literal groups (core/litgate.py)
_I, _M = re.IGNORECASE, re.MULTILINE
_FORM = litgate.rule(r"FORM\s+(10-[QK](?:/A)?)", (("10-",), ("FORM",)), _I)
_REGISTRANT = litgate.rule(
    r"^[ \t]*(.+)\n\s*\((?:Exact|exact)\s+name\s+of\s+(?:R|r)egistrant",
    (("EGISTRANT",), ("NAME",)), _M)
_NOT_A_NAME = re.compile(r"Commission|File\s+Number|\d+-\d+", _I)
_PERIOD = litgate.rule(
    r"(?:(?:quarterly|annual)\s+period\s+ended|(?:fiscal\s+)?year\s+ended|period\s+of\s+report)[:\s]+(\w+\s+\d{1,2},?\s+\d{4})",
    (("ENDED", "REPORT"), ("PERIOD", "YEAR")), _I)
_FILE_NUMBER = litgate.rule(
    r"Commission\s+File\s+Number[:\s]+([\d-]+)", (("COMMISSION",), ("NUMBER",)), _I)
_CIK = litgate.rule(r"(?:Central\s+Index\s+Key|CIK)[:\s]+(\d+)", (("CIK", "CENTRAL"),), _I)
_SHARES = litgate.rule(
    r"(\d[\d,]+)\s+shares\s+of\s+common\s+stock", (("SHARES",), ("COMMON",)), _I)
_TICKER_HEADER = litgate.rule(
    r"Title\s+of\s+(?:Each|each)\s+(?:Class|class)\s+(?:Trading\s+)?[Ss]ymbol",
    (("SYMBOL",), ("TITLE",)), _I)
_EXCHANGE_LINE = re.compile(r"^\s*(?:Name\s+of\s+)?(?:Each\s+)?Exchange", _I)
_TICKER_IN_LINE = re.compile(
    r"(?:par\s+value(?:\s+per\s+share)?|per\s+share|stock|warrant[s]?|unit[s]?|right[s]?|debenture[s]?|shares)\s+([A-Z]{1,5})\s"
)
_TRADING_SYMBOL = litgate.rule(
    r"Trading\s+Symbol\(?s?\)?[:\s]+([A-Za-z]{1,5})\b", (("SYMBOL",), ("TRADING",)), _I)
_EXCHANGE = litgate.rule(
    r"(?:Name\s+of\s+.*exchange|registered)[:\s]*((?:NYSE|NASDAQ|New\s+York\s+Stock\s+Exchange)[^\n]*)",
    (("NYSE", "NASDAQ", "STOCK"), ("EXCHANGE", "REGISTERED")), _I)
_STATE = litgate.rule(
    r"^(.+)\n\s*\((?:State|state)\s+or\s+other\s+jurisdiction\s+of\s+incorporat",
    (("JURISDICTION",),), _M)
_ADDRESS = litgate.rule(
    r"\((?:Address|address)\s+of\s+principal\s+executive\s+offic",
    (("EXECUTIVE",), ("PRINCIPAL",)))
_ADDRESS_STOP = re.compile(
    r"(?:Commission|File\s+Number|Form\s+10|UNITED\s+STATES|SECURITIES)", _I)
_ADDRESS_SKIP = re.compile(r"incorporation\b|Identification\s+N[ou]", _I)
_PHONE = litgate.rule(
    r"(?:telephone\s+number|phone)[^)]*?(\(?\d{3}\)?[\s.-]\d{3}[\s.-]\d{4})",
    (("PHONE",),), _I)
_PRESS_LISTING = litgate.rule(
    r"([A-Z][\w &.,'-]+?)\s*\((?:NYSE|NASDAQ|Nasdaq|TSX|LSE)[:\s]+([A-Z]{1,5})\)",
    (("NYSE", "NASDAQ", "TSX", "LSE"),))
_PRESS_TODAY = litgate.rule(
    r"((?:The\s+)?[A-Z][\w\s&.,'-]+?(?:Company|Inc\.|Corp(?:oration)?\.?|Ltd\.?|N\.V\.|plc|Group|LP))\s+today\s+(?:reported|announced)",
    (("TODAY",),))
_LISTING_TICKER = litgate.rule(
    r"(?:NYSE|NASDAQ|Nasdaq|TSX|LSE)[:\s]+([A-Z]{1,5})\b",
    (("NYSE", "NASDAQ", "TSX", "LSE"),))
_ENDED = litgate.rule(r"ended\s+(\w+\s+\d{1,2},?\s+\d{4})", (("ENDED",),), _I)


def extract_cover_fields(text: str) -> list[tuple[str, str]]:
    """Regex projections of SEC cover metadata -> ordered (label, value) pairs
    (ref programmatic.py:13-219).  Each text-level pattern runs only when the
    text passes its required-literal gate (core/litgate.py)."""
    fields: list[tuple[str, str]] = []
    key = litgate.page_key(text)

    def search(r: litgate.Rule) -> re.Match[str] | None:
        return litgate.search(r, text, key)

    m = search(_FORM)
    if m:
        fields.append(("Filing Type", m.group(1).upper()))

    m = search(_REGISTRANT)
    if m:
        name = m.group(1).strip()
        if not _NOT_A_NAME.match(name):
            fields.append(("Company", name))

    m = search(_PERIOD)
    if m:
        fields.append(("Period", m.group(1).strip()))

    m = search(_FILE_NUMBER)
    if m:
        fields.append(("Commission File Number", m.group(1).strip()))

    m = search(_CIK)
    if m:
        fields.append(("CIK", m.group(1).strip()))

    m = search(_SHARES)
    if m:
        fields.append(("Shares Outstanding", m.group(1).strip()))

    # SEC 12(b) registration table walk for the ticker
    ticker_found = False
    header = search(_TICKER_HEADER)
    if header:
        for line in text[header.end():].splitlines()[:10]:
            s = line.strip()
            if not s or "registered" in s.lower():
                continue
            if _EXCHANGE_LINE.match(s):
                continue
            if s.lower().startswith("indicate"):
                break
            tm = _TICKER_IN_LINE.search(s)
            if tm:
                tok = tm.group(1)
                if tok not in _TICKER_STOPWORDS:
                    fields.append(("Ticker", tok))
                    ticker_found = True
                    break
    if not ticker_found:
        m = search(_TRADING_SYMBOL)
        if m and m.group(1).upper() not in ("NAME", "THE", "OF", "EACH", "N", "A"):
            fields.append(("Ticker", m.group(1).strip().upper()))

    m = search(_EXCHANGE)
    if m:
        fields.append(("Exchange", m.group(1).strip().rstrip(".")))

    m = search(_STATE)
    if m:
        state = m.group(1).strip()
        if len(state) < 60:
            fields.append(("State of Incorporation", state))

    # multi-line address assembly above "(Address of principal executive offices"
    m = search(_ADDRESS)
    if m:
        before = [l.strip() for l in text[: m.start()].splitlines() if l.strip()]
        addr: list[str] = []
        for line in reversed(before[-3:]):
            if _ADDRESS_STOP.match(line):
                break
            if len(line) > 120 or line.startswith("("):
                break
            if _ADDRESS_SKIP.search(line):
                continue
            addr.insert(0, line)
        if addr:
            address = ", ".join(addr)
            if len(address) < 200:
                fields.append(("Address", address))

    m = search(_PHONE)
    if m:
        fields.append(("Phone", m.group(1).strip()))

    # press-release fallbacks (ref programmatic.py:172-218)
    labels = {label for label, _ in fields}
    if "Company" not in labels:
        m = search(_PRESS_LISTING)
        if m:
            fields.append(("Company", m.group(1).strip().rstrip(",")))
            if "Ticker" not in labels:
                fields.append(("Ticker", m.group(2).strip()))
                ticker_found = True
        else:
            m = search(_PRESS_TODAY)
            if m:
                fields.append(("Company", m.group(1).strip().rstrip(",")))

    if "Ticker" not in labels and not ticker_found:
        m = search(_LISTING_TICKER)
        if m and m.group(1) not in _TICKER_STOPWORDS:
            fields.append(("Ticker", m.group(1).strip()))

    if "Period" not in labels:
        m = search(_ENDED)
        if m:
            fields.append(("Period", m.group(1).strip()))

    return fields


def cover_fields_markdown(
    text: str, fields: list[tuple[str, str]] | None = None
) -> str:
    """Field/Value markdown table, raw text fallback (ref programmatic.py:222-232).
    `fields` is extract_cover_fields(text) when the caller already has it."""
    if fields is None:
        fields = extract_cover_fields(text)
    if not fields:
        return text
    lines = ["| Field | Value |", "|-------|-------|"]
    lines += [f"| {label} | {value} |" for label, value in fields]
    return "\n".join(lines)


# scale-hint patterns (ref pipeline.py:392-413)
SCALE_HINT_PATTERNS = (
    re.compile(r"\(in\s+(?:\w+\s+)?(?:thousands|millions|billions)[^)]*\)", re.IGNORECASE),
    re.compile(
        r"\bin\s+(?:(?:USD|U\.S\.\s*dollars?|CAD|EUR)\s*\$?\s*)?(?:thousands|millions|billions)\b",
        re.IGNORECASE,
    ),
    re.compile(
        r"(?:amounts?|tabular\s+amounts?)\s+in\s+(?:thousands|millions|billions)",
        re.IGNORECASE,
    ),
    re.compile(
        r"\((?:thousands|millions|billions)\s+of\s+(?:dollars|euros|pounds)\)",
        re.IGNORECASE,
    ),
)


def find_scale_hint(section_texts: list[str]) -> str | None:
    """First scale-indicator hit over financial-statement section texts
    (ref pipeline.py:414-422: per section, patterns in order, first hit wins)."""
    for text in section_texts:
        for pat in SCALE_HINT_PATTERNS:
            m = pat.search(text)
            if m:
                return m.group(0)
    return None
