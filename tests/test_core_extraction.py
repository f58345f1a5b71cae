"""Text repair, classification, segmentation, table collapse, prose, fields,
metadata, checks — unit semantics mirroring the reference test strategy
(SURVEY.md §5 level 1)."""

from pdf_parser_spark.core.classify import (
    classify_report_type,
    find_filing_start_page,
    is_scanned,
)
from pdf_parser_spark.core.checks import (
    check_balance_sheet,
    check_cash_flow,
    check_equality,
    check_income_statement,
    run_all_checks,
    statement_values,
)
from pdf_parser_spark.core.docmeta import (
    infer_period_type,
    infer_scale,
    parse_period_date,
)
from pdf_parser_spark.core.fields import extract_cover_fields, find_scale_hint
from pdf_parser_spark.core.model import Page
from pdf_parser_spark.core.prose import clean_prose, format_exhibits
from pdf_parser_spark.core.segment import split_sec_sections, is_toc_page
from pdf_parser_spark.core.tables import (
    collapse_row,
    is_prose_table,
    parse_text_as_table,
    split_single_col_row,
    strip_note_ref_columns,
    tables_to_markdown,
    truncate_after_grand_total,
)
from pdf_parser_spark.core.textrepair import (
    collapse_repeated_line,
    deinterleave,
)


# --- text repair (X1/X2) ---

def test_bold_overlay_collapse():
    assert collapse_repeated_line("YYYeeeaaarrr") == "Year"
    assert collapse_repeated_line("TToottaall") == "Total"


def test_collapse_leaves_normal_text():
    line = "Total revenues for the year"
    assert collapse_repeated_line(line) == line


def test_deinterleave_two_streams():
    # zip of "Common Stock" and "Prefed Stck"-like strands scores on terms
    a, b = "Common Stock", "Preferred St"
    garbled = "".join(x + y for x, y in zip(a, b))
    out = deinterleave(garbled)
    assert "Common Stock" in out


def test_deinterleave_skips_clean_text():
    assert deinterleave("Total stockholders equity") == "Total stockholders equity"


# --- classification ---

def test_report_type_sec_vs_ifrs():
    sec = ["UNITED STATES SECURITIES AND EXCHANGE COMMISSION\nFORM 10-Q"]
    ifrs = ["Statement of Profit or Loss\nNOK'000\nOrg. nr: 987 654 321"]
    assert classify_report_type(sec) == "sec"
    assert classify_report_type(ifrs) == "ifrs"


def test_report_type_tie_defaults_sec():
    assert classify_report_type(["nothing to see here"]) == "sec"


def test_filing_start_detection():
    pages = [
        "Dear shareholders, it was a great year." ,
        "More letter content here.",
        "UNITED STATES SECURITIES AND EXCHANGE COMMISSION\nFORM 10-K",
    ]
    assert find_filing_start_page(pages) == 3


def test_filing_start_defaults_to_1():
    assert find_filing_start_page(["plain page", "another"]) == 1


def test_scanned_detection():
    assert is_scanned(["", " ", "x", "", ""])
    assert not is_scanned(["long text " * 20] * 5)
    # exactly 80% sparse (4 of 5) is not scanned: the rule is STRICT
    assert not is_scanned(["long text " * 20] + [""] * 4)
    assert not is_scanned([])


# --- segmentation ---

def _page(num, text):
    return Page(page_number=num, text=text, tables=[])


def test_section_split_basic():
    pages = [
        _page(1, "FORM 10-Q\nCover stuff"),
        _page(2, "CONDENSED CONSOLIDATED BALANCE SHEETS\nCash and cash equivalents $ 1"),
        _page(3, "CONDENSED CONSOLIDATED STATEMENTS OF CASH FLOWS\nNet income $ 2"),
    ]
    sections = split_sec_sections(pages)
    assert sections["cover_page"].end_page == 1
    assert sections["balance_sheet"].start_page == 2
    assert sections["balance_sheet"].end_page == 2
    assert sections["cash_flow"].start_page == 3


def test_toc_page_excluded_from_section_starts():
    toc = "TABLE OF CONTENTS\n" + "\n".join(
        f"Item {i}. Something .......... {i*3}" for i in range(1, 6)
    )
    pages = [
        _page(1, toc),
        _page(2, "CONSOLIDATED BALANCE SHEETS\nTotal assets $ 5"),
    ]
    assert is_toc_page(toc)
    sections = split_sec_sections(pages)
    assert sections["balance_sheet"].start_page == 2


def test_heading_rejects_mid_sentence_reference():
    pages = [
        _page(1, "Refer to Consolidated Balance Sheets for details in this report."),
        _page(2, "CONSOLIDATED BALANCE SHEETS\nTotal assets $ 5"),
    ]
    sections = split_sec_sections(pages)
    assert sections["balance_sheet"].start_page == 2


def test_statement_page_cap():
    pages = [_page(1, "CONSOLIDATED BALANCE SHEETS\nTotal assets $ 5")]
    pages += [_page(i, f"filler page {i} with plenty of text") for i in range(2, 12)]
    sections = split_sec_sections(pages)
    bs = sections["balance_sheet"]
    assert bs.end_page - bs.start_page + 1 <= 5


# --- table collapse ---

def test_collapse_row_currency_merge():
    assert collapse_row(["Cash", "", "$", "854", "", "", "$", "1,212", ""]) == \
        ["Cash", "$ 854", "$ 1,212"]


def test_collapse_row_paren_rejoin():
    assert collapse_row(["Net loss", "", "$", "(13,756", ")", "", "$", "(28,486", ")"]) == \
        ["Net loss", "$ (13,756)", "$ (28,486)"]


def test_collapse_row_percent_merge():
    assert collapse_row(["Margin", "42", "%"]) == ["Margin", "42%"]


def test_collapse_row_label_fragments_midword():
    out = collapse_row(["Lending- and deposit-rela", "ted fees", "7,606"])
    assert out == ["Lending- and deposit-related fees", "7,606"]


def test_split_single_col_row():
    assert split_single_col_row("Revenue $ 130,497 $ 60,922 $ 26,974") == \
        ["Revenue", "$ 130,497", "$ 60,922", "$ 26,974"]


def test_split_single_col_row_masks_dates():
    out = split_single_col_row("Cash, beginning of period January 26, 2025 100")
    assert out[-1] == "100"
    assert "January" in out[0]


def test_prose_table_detection():
    prose = [["this", "is", "just", "a", "longer", "sentence", "split",
              "into", "many", "small", "word", "cells"]] * 6
    assert is_prose_table(prose)
    real = [["Revenue", "100", "90", "80", "70", "60"]] * 6
    assert not is_prose_table(real)


def test_note_ref_strip():
    table = [
        ["Revenue", "3", "100", "90"],
        ["Cost of sales", "8", "40", "35"],
        ["Gross profit", "12", "60", "55"],
        ["Other income", "25", "5", "4"],
    ]
    out = strip_note_ref_columns([table])[0]
    assert out[0] == ["Revenue", "100", "90"]


def test_grand_total_truncation():
    table = [
        ["Total assets", "100"],
        ["Total liabilities and stockholders' equity", "100"],
        ["VIE assets footnote", "55"],
    ]
    out = truncate_after_grand_total([table])[0]
    assert len(out) == 2


def test_tables_to_markdown_renders_pipe_table():
    text = "CONDENSED CONSOLIDATED BALANCE SHEETS\n(in thousands)\nJune 30,\n2025 2024"
    tables = [[
        ["Cash and cash equivalents", "$", "854", "", "$", "1,212"],
        ["Total assets", "$", "2,000", "", "$", "1,900"],
    ]]
    md = tables_to_markdown(text, tables)
    assert "| Cash and cash equivalents | $ 854 | $ 1,212 |" in md
    assert "---:" in md


def test_text_as_table_parser():
    text = "\n".join([
        "2025 2024",
        "Revenue 130,497 60,922",
        "Cost of revenue 40,000 22,000",
        "Net income 20,000 9,000",
    ])
    md = parse_text_as_table(text)
    assert md is not None
    assert "| Revenue | 130,497 | 60,922 |" in md


# --- prose / exhibits ---

def test_clean_prose_strips_page_artifacts():
    text = "\n".join([
        "Item 1A. Risk Factors",
        "42",
        "Our business faces material risks",
        "that could impact results.",
        "F-12",
    ])
    out = clean_prose(text)
    assert "42" not in out.split()
    assert "F-12" not in out
    assert "### Item 1A. Risk Factors" in out
    # mid-sentence rejoin
    assert "material risks that could impact" in out


def test_format_exhibits_list():
    text = "31.1 CEO certification\n32.1 Section 906 certification\n101.INS XBRL instance"
    out = format_exhibits(text)
    assert out.count("- ") == 3


# --- fields / metadata ---

COVER = """UNITED STATES
SECURITIES AND EXCHANGE COMMISSION
FORM 10-Q
For the quarterly period ended June 30, 2025
Commission File Number: 001-12345
Acme Robotics, Inc.
(Exact name of registrant as specified in its charter)
Delaware
(State or other jurisdiction of incorporation or organization)
100 Main Street
Springfield, MA 01101
(Address of principal executive offices)
Registrant's telephone number, including area code: (555) 123-4567
Central Index Key: 0001234567
Title of Each Class Trading Symbol Name of Each Exchange
Common stock, $0.01 par value ACME Nasdaq Global Market
1,234,567 shares of common stock outstanding.
"""


def test_cover_field_extraction():
    fields = dict(extract_cover_fields(COVER))
    assert fields["Filing Type"] == "10-Q"
    assert fields["Company"] == "Acme Robotics, Inc."
    assert fields["Period"] == "June 30, 2025"
    assert fields["Commission File Number"] == "001-12345"
    assert fields["CIK"] == "0001234567"
    assert fields["Ticker"] == "ACME"
    assert fields["State of Incorporation"] == "Delaware"
    assert fields["Phone"] == "(555) 123-4567"
    assert "100 Main Street" in fields["Address"]


def test_press_release_fallbacks():
    text = "The Keystone Beverage Company today reported results. (NYSE: KBC) for the quarter ended December 31, 2025."
    fields = dict(extract_cover_fields(text))
    assert fields["Ticker"] == "KBC"
    assert fields["Period"] == "December 31, 2025"


def test_scale_hint_and_inference():
    hint = find_scale_hint(["header\n(in thousands, except per share data)\nbody"])
    assert hint == "(in thousands, except per share data)"
    assert infer_scale(hint) == "thousands"
    assert infer_scale("in millions, except amounts in thousands") == "millions"
    assert infer_scale(None) == "units"


def test_period_parsing_and_type():
    assert parse_period_date("June 30, 2024") == ("2024-06-30", 2024)
    assert parse_period_date("garbled 2023") == ("", 2023)
    assert infer_period_type("10-K", "December 31, 2024") == "FY"
    assert infer_period_type("10-Q", "June 30, 2024") == "Q2"
    # fiscal offset: FY ends June -> September is Q1
    assert infer_period_type("10-Q", "September 27, 2024", fy_end_month=6) == "Q1"


# --- validation checks ---

def test_check_equality_bands():
    assert check_equality("t", 100.0, 100.0).status == "PASS"
    assert check_equality("t", 1000.0, 1005.0).status == "WARN"
    assert check_equality("t", 1000.0, 1050.0).status == "FAIL"


def test_balance_sheet_check_combined_line():
    data = {"Total Assets": [100.0], "Total Liabilities & Stockholders' Equity": [100.0]}
    assert check_balance_sheet(data)[0].status == "PASS"


def test_balance_sheet_check_sum():
    data = {
        "Total Assets": [100.0],
        "Total Liabilities": [60.0],
        "Total Stockholders' Equity": [40.0],
    }
    assert check_balance_sheet(data)[0].status == "PASS"


def test_income_statement_check():
    data = {"Revenue": [100.0], "Cost of Revenue": [40.0], "Gross Profit": [60.0],
            "Net Income": [10.0]}
    results = check_income_statement(data)
    assert [r.status for r in results] == ["PASS", "PASS"]


def test_cash_flow_check():
    data = {
        "Beginning Cash": [50.0], "Net Change in Cash": [10.0], "Ending Cash": [60.0],
        "Net Cash from Operations": [5.0], "Net Cash from Investing": [3.0],
        "Net Cash from Financing": [2.0],
    }
    results = check_cash_flow(data)
    assert [r.status for r in results] == ["PASS", "PASS"]


def test_cross_statement_via_run_all():
    statements = {
        "income_statement": {"Net Income": [10.0]},
        "cash_flow": {"Net Income": [10.0], "Ending Cash": [60.0]},
        "balance_sheet": {"Cash & Cash Equivalents": [60.0]},
    }
    results = run_all_checks(statements)
    cross = [r for r in results if r.check.startswith("Cross")]
    assert all(r.status == "PASS" for r in cross)


def test_statement_values_extraction():
    rows = [
        ["Net revenues", "Revenue", "$ 100", "$ 90"],
        ["Header row", "", "", ""],
        ["Mystery item", "", "5", "4"],
    ]
    data = statement_values(rows)
    assert data == {"Revenue": [100.0, 90.0]}


def test_fast_dom_equals_htmlparser():
    """_fast_dom (regex scanner) must produce identical extracted pages to the
    html.parser reference builder — over the synthetic corpus and a gallery of
    adversarial constructs (comments, CDATA scripts, quoted '>', bad nesting,
    entities, incomplete trailing tags)."""
    from pdf_parser_spark.core import html_extract as H
    from pdf_parser_spark.sources.corpus import generate_corpus

    def pages_via(dom_fn, html):
        if isinstance(html, bytes):
            html = html.decode("utf-8", errors="replace")
        return H._pages_from_root(dom_fn(html))

    for row in generate_corpus(150, 42):
        if not row["html"]:
            continue
        assert pages_via(H._fast_dom, row["html"]) == pages_via(
            H._reference_dom, row["html"]), row["url"]

    snippets = [
        "<p>a &amp; b &#39;c&#39;</p>",
        "<div class='page'>x<br/>y</div><div class=\"page\">z</div>",
        "<script>if (a<b) { document.write('<div>no</div>'); }</script><p>keep</p>",
        "<style>p > a { color: red }</style><p>t</p>",
        "<!-- <p>gone</p> --><p>here</p>",
        "<!DOCTYPE html><html><body><p>x</p></body></html>",
        "<p>unclosed <b>bold <i>ital</p><p>next</p>",
        "<table><tr><td>a</td><td>b>c</td></tr></table>",
        "<a href='x.html?a=1&amp;b=2' title=\"q>r\">link</a> 3 < 5 text",
        "<p>1 < 2 and <3 and < 4</p>",
        "<img src=x><input type='text'><hr><p>after voids</p>",
        "<P>UPPER <DIV CLASS='page'>MiXeD</DIV>",
        "<td nowrap>bare attr</td>",
        "text only, no tags at all & entities &lt;here&gt;",
        "<p>trailing open <",
        "<p>a <b",
        "<p>a <b attr='unclosed>",
        "</ x><p>after bogus</p>",
        "</><p>after empty end</p>",
        "<p>a</b></p><p>b</p>",
        "<script>never closed...",
        "<div  class = 'page'  id='x'>spaced attrs</div>",
        "<?xml version='1.0'?><p>pi</p>",
        "<p>a</p >\n<p>b</p>",
    ]
    for s in snippets:
        assert pages_via(H._fast_dom, s) == pages_via(H._reference_dom, s), repr(s)


# --- required-literal gate (core/litgate.py) ---

def _gate_modules():
    """Import every module that registers gated patterns; the rule list."""
    from pdf_parser_spark.core import classify, fields, litgate, segment  # noqa: F401

    return litgate.RULES


def test_gate_exception_set_matches_unicode():
    """(a) The characters that case-match a literal character under re.I but
    do not uppercase to it are exactly the hardcoded UNGATED_CHARS, and a
    page holding one of them is not gated."""
    import re
    import string
    import sys

    from pdf_parser_spark.core import litgate

    literal_chars = string.ascii_lowercase + string.digits + "-"
    cls = re.compile("[" + re.escape(literal_chars) + "]", re.IGNORECASE)
    derived = set()
    for cp in range(sys.maxunicode + 1):
        ch = chr(cp)
        if not cls.fullmatch(ch):
            continue
        partner = next(
            p for p in literal_chars if re.fullmatch(re.escape(p), ch, re.IGNORECASE)
        )
        if ch.upper() != partner.upper():
            derived.add(ch)
    assert derived == set(litgate.UNGATED_CHARS)
    for ch in derived:
        assert litgate.page_key(f"RIS{ch} FACTORS") is None
    nbsp_curly = "Management\u2019s\u00a0Discussion"
    assert litgate.page_key(nbsp_curly) == nbsp_curly.upper()
    for r in _gate_modules():
        for group in r.groups:
            assert group
            for lit in group:
                assert re.fullmatch(r"[A-Z0-9-]+", lit), (r.pattern.pattern, lit)


def test_gate_admits_every_match_in_corpus():
    """(b) Over every page of two generated corpora (html and text paths),
    a gated pattern that matches a page always passes the page's gate."""
    from pdf_parser_spark.core import litgate
    from pdf_parser_spark.core.document import pages_from_html, pages_from_text
    from pdf_parser_spark.sources.corpus import generate_corpus

    rules = _gate_modules()
    texts: set[str] = set()
    for seed in (42, 7):
        for row in generate_corpus(2000, seed):
            for pages in (pages_from_html(row["html"]), pages_from_text(row["text"])):
                texts.update(p.text for p in pages)
    hits = 0
    for text in texts:
        key = litgate.page_key(text)
        for r in rules:
            if r.pattern.search(text):
                hits += 1
                assert litgate.admits(key, r.groups), (r.pattern.pattern, text[:200])
    assert hits


def _ungated(monkeypatch):
    from pdf_parser_spark.core import litgate

    monkeypatch.setattr(litgate, "page_key", lambda text: None)


def test_gate_same_output_as_ungated_loop(monkeypatch):
    """(c) Pages with a Kelvin sign, a dotted capital I, a curly apostrophe
    or an NBSP in a heading give the same sections, report type and cover
    fields as the ungated loop over the patterns."""
    sec_pages = [
        _page(1, "UNITED STATES\nSECURITIES AND EXCHANGE COMMISSION\nFORM 10-\u212a\n"
                 "Acme Corp\n(Exact name of registrant as specified in its charter)\n"
                 "Central \u0130ndex Key: 0000123"),
        _page(2, "Item 1A. RIS\u212a FACTORS\nWe face risks."),
        _page(3, "\u0130TEM 7. MANAGEMENT\u2019S DISCUSSION AND ANALYSIS\nRevenue grew."),
        _page(4, "CONSOLIDATED\u00a0BALANCE\u00a0SHEETS\nTotal assets $ 5"),
        _page(5, "\u0130TEM 3. LEGAL PROCEEDINGS\nNone."),
    ]
    ifrs_pages = ["Consolidated Statement of Prof\u0130t or Loss\nRevenue 10",
                  "Statement of F\u0130nancial Pos\u0130tion\nAssets 5"]
    cover = sec_pages[0].text

    def run():
        return (split_sec_sections(sec_pages),
                classify_report_type([p.text for p in sec_pages]),
                classify_report_type(ifrs_pages),
                extract_cover_fields(cover))

    gated = run()
    with monkeypatch.context() as m:
        _ungated(m)
        ungated = run()
    assert set(ungated[0]) >= {"risk_factors", "mda", "balance_sheet", "legal_proceedings"}
    assert ungated[2] == "ifrs"
    assert ("CIK", "0000123") in ungated[3]
    assert gated == ungated
