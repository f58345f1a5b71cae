"""Per-document extraction orchestrator — the unit of work of the Arrow stage.

Semantics of reference pipeline.py:177-533 minus the two network boundaries
(EDGAR XBRL S4/S5 and the Gemini LLM tier), whose deterministic fallback paths
the reference itself defines (pipeline.py:366-372, normalize.py:222-223).

Input contract (BASELINE.json input_hint): one row
(url, warc_ts, html:binary, text:string, lang:string).  Pages come from the
HTML DOM splitter when html is present, else from the pre-extracted text
(form-feed page separator).  Fail-soft per document: never raises — errors
land in the status/error fields (replaces the reference's per-PDF try/except,
cli.py:104-111).
"""

from __future__ import annotations

from typing import Any

from pdf_parser_spark.core import classify, segment
from pdf_parser_spark.core.checks import (
    compute_confidence,
    render_checks_markdown,
    render_confidence_markdown,
    run_all_checks,
    statement_validation_status,
    statement_values,
)
from pdf_parser_spark.core.fields import (
    cover_fields_markdown,
    extract_cover_fields,
    find_scale_hint,
)
from pdf_parser_spark.core.html_extract import extract_html_pages
from pdf_parser_spark.core.docmeta import build_metadata
from pdf_parser_spark.core.model import Page
from pdf_parser_spark.core.prose import clean_prose, format_exhibits, notes_fallback
from pdf_parser_spark.core.render import (
    IFRS_REQUIRED_SECTIONS,
    IFRS_SECTION_ORDER,
    SectionSpan,
    assemble_markdown,
)
from pdf_parser_spark.core.tables import parse_text_as_table, extract_column_headers, tables_to_markdown
from pdf_parser_spark.core.textrepair import collapse_repeated_text, repair_cell

PAGE_SEP = "\f"  # form feed — the classic text page delimiter (pdftotext)

FINANCIAL_STATEMENTS = [
    segment.INCOME_STATEMENT, segment.BALANCE_SHEET, segment.CASH_FLOW,
    segment.STOCKHOLDERS_EQUITY, segment.COMPREHENSIVE_INCOME,
]
PROSE_SECTIONS = [
    segment.MDA, segment.MARKET_RISK, segment.CONTROLS,
    segment.LEGAL_PROCEEDINGS, segment.RISK_FACTORS,
]
PASSTHROUGH_SECTIONS = [segment.EXHIBITS, segment.SIGNATURES]
STATEMENT_TYPE_MAP = {
    segment.INCOME_STATEMENT: "income_statement",
    segment.BALANCE_SHEET: "balance_sheet",
    segment.CASH_FLOW: "cash_flow",
}
IFRS_FINANCIAL_STATEMENTS = [
    segment.IFRS_INCOME_STATEMENT, segment.IFRS_BALANCE_SHEET,
    segment.IFRS_CASH_FLOW, segment.IFRS_EQUITY_CHANGES,
]


def pages_from_text(text: str) -> list[Page]:
    """Pre-extracted page-stream text -> Pages (no grid tables).
    Page repair X1 applied per page (ref pdf_extract.py:228)."""
    chunks = text.split(PAGE_SEP) if PAGE_SEP in text else [text]
    return [
        Page(page_number=i, text=collapse_repeated_text(chunk), tables=[])
        for i, chunk in enumerate(chunks, start=1)
    ]


def pages_from_html(html: bytes | str) -> list[Page]:
    """HTML bytes -> boilerplate-stripped Pages with table grids; text gets the
    X1 repair, cells get X1+X2 (ref pdf_extract.py:228-236)."""
    raw_pages = extract_html_pages(html)
    out: list[Page] = []
    for page in raw_pages:
        text = collapse_repeated_text(page.text)
        tables = [
            [[repair_cell(cell) for cell in row] for row in table]
            for table in page.tables
        ]
        out.append(Page(page.page_number, text, tables))
    return out


def _empty_result(url: str, source: str) -> dict[str, Any]:
    return {
        "url": url,
        "status": "ok",
        "error": "",
        "report_type": "",
        "markdown": "",
        "mappings": {},
        "company": "",
        "ticker": "",
        "cik": "",
        "filing_type": "",
        "period_end": "",
        "period_type": "",
        "fiscal_year": "",
        "scale": "",
        "source": source,
        "statement_values": {},
        "spans": [],
        "n_pages": 0,
        "n_sections": 0,
        "n_tables": 0,
        "n_unmapped": 0,
        "n_checks_pass": 0,
        "n_checks_warn": 0,
        "n_checks_fail": 0,
        "avg_confidence": 0.0,
    }


def extract_document(
    url: str,
    html: bytes | None,
    text: str | None,
    parsed_at: str = "",
) -> dict[str, Any]:
    """One document in, one result record out.  Pure: output depends only on
    the arguments (parsed_at is the run-scoped timestamp literal)."""
    result = _empty_result(url, "html" if html else "text")
    try:
        if html:
            pages = pages_from_html(html)
        elif text:
            pages = pages_from_text(text)
        else:
            result["status"] = "error"
            result["error"] = "empty document: neither html nor text present"
            return result
        result["n_pages"] = len(pages)
        result["n_tables"] = sum(len(p.tables) for p in pages)

        page_texts = [p.text for p in pages]
        if classify.is_scanned(page_texts):
            result["status"] = "rejected_scanned"
            result["error"] = "document appears to be scanned/image-based"
            return result

        report_type = classify.classify_report_type(page_texts)
        result["report_type"] = report_type

        if report_type == "ifrs":
            return _extract_ifrs(result, url, pages)
        return _extract_sec(result, url, pages, parsed_at)
    except Exception as exc:  # fail-soft: the row carries its error
        result["status"] = "error"
        result["error"] = f"{type(exc).__name__}: {exc}"
        return result


def _extract_sec(
    result: dict[str, Any], url: str, pages: list[Page], parsed_at: str
) -> dict[str, Any]:
    """SEC branch (ref pipeline.py:208-533, --no-xbrl path)."""
    # combined annual-report handling (ref pipeline.py:211-225)
    start_pg = classify.find_filing_start_page([p.text for p in pages])
    pre_text = ""
    if start_pg > 1:
        acc: list[str] = []
        for p in pages:
            if p.page_number >= start_pg:
                break
            acc.append(p.text)
            if sum(len(t) for t in acc) > 5000:
                break
        pre_text = "\n".join(acc)[:5000]
        pages = [p for p in pages if p.page_number >= start_pg]

    sections = segment.split_sec_sections(pages)
    result["n_sections"] = len(sections)

    processed: dict[str, str] = {}
    cover_fields: list[tuple[str, str]] = []
    if segment.COVER_PAGE in sections:
        cover_text = sections[segment.COVER_PAGE].text
        cover_fields = extract_cover_fields(cover_text)
        processed[segment.COVER_PAGE] = cover_fields_markdown(cover_text, cover_fields)
    if pre_text:
        have = {label for label, _ in cover_fields}
        if "Company" not in have or "Ticker" not in have:
            for label, value in extract_cover_fields(pre_text):
                if label not in have:
                    cover_fields.append((label, value))
                    have.add(label)

    normalized_rows: dict[str, list[list[str]]] = {}
    for key in FINANCIAL_STATEMENTS:
        if key not in sections:
            continue
        section = sections[key]
        rows_out: list[list[str]] = []
        md = tables_to_markdown(
            section.text, section.tables, normalize=True, normalized_rows_out=rows_out
        )
        if "|" not in md:
            periods, years = extract_column_headers(section.text)
            text_table = parse_text_as_table(section.text, periods, years)
            if text_table:
                md = text_table
        processed[key] = md
        if key in STATEMENT_TYPE_MAP:
            normalized_rows[key] = rows_out

    if segment.NOTES in sections:
        processed[segment.NOTES] = notes_fallback(sections[segment.NOTES].text)
    for key in PROSE_SECTIONS:
        if key in sections:
            processed[key] = clean_prose(sections[key].text, sections[key].tables)
    for key in PASSTHROUGH_SECTIONS:
        if key in sections:
            if key == segment.EXHIBITS:
                processed[key] = format_exhibits(sections[key].text)
            else:
                processed[key] = clean_prose(sections[key].text)

    scale_hint = find_scale_hint(
        [sections[k].text for k in FINANCIAL_STATEMENTS if k in sections]
    )
    cover_text = sections[segment.COVER_PAGE].text if segment.COVER_PAGE in sections else ""
    metadata = build_metadata(cover_fields, scale_hint, url, cover_text, parsed_at)

    statements: dict[str, dict[str, list[float]]] = {}
    for key, stmt_type in STATEMENT_TYPE_MAP.items():
        if key in normalized_rows:
            vals = statement_values(normalized_rows[key])
            if vals:
                statements[stmt_type] = vals

    # flat canonical -> first numeric value, first statement wins on overlap
    # (e.g. Net Income appears in IS and CF; V6 already checks they agree).
    # Exported as a column so fleet-wide XBRL cross-validation (V8) can run
    # relationally against the facts dimension (ref pipeline.py:272-317).
    flat_values: dict[str, float] = {}
    for stmt in statements.values():
        for canonical, vals in stmt.items():
            if canonical not in flat_values and vals:
                flat_values[canonical] = vals[0]
    result["statement_values"] = flat_values

    checks = run_all_checks(statements) if statements else []
    validation_md = render_checks_markdown(checks)

    confidences = []
    for stmt_type in ("income_statement", "balance_sheet", "cash_flow",
                      "stockholders_equity", "comprehensive_income"):
        conf = compute_confidence(
            statements.get(stmt_type),
            stmt_type,
            statement_validation_status(checks, stmt_type) if checks else None,
        )
        if conf.pdf_available:
            confidences.append(conf)
    confidence_md = render_confidence_markdown(confidences)
    if confidences:
        metadata["confidence"] = {c.statement_type: c.confidence for c in confidences}

    mappings: dict[str, str] = {}
    n_unmapped = 0
    for rows in normalized_rows.values():
        for row in rows:
            if len(row) >= 2:
                label = row[0].strip()
                canonical = row[1].strip()
                if label and canonical:
                    mappings[label] = canonical
                elif label and not canonical:
                    n_unmapped += 1

    spans: list[SectionSpan] = []
    markdown = assemble_markdown(
        url, processed, metadata=metadata,
        validation_markdown=validation_md, confidence_markdown=confidence_md,
        spans_out=spans,
    )

    result.update(
        markdown=markdown,
        mappings=mappings,
        company=metadata.get("company", ""),
        ticker=metadata.get("ticker", ""),
        cik=metadata.get("cik", ""),
        filing_type=metadata.get("filing_type", ""),
        period_end=metadata.get("period_end", ""),
        period_type=metadata.get("period_type", ""),
        fiscal_year=str(metadata.get("fiscal_year", "")),
        scale=metadata.get("scale", ""),
        spans=[{"section": s.section, "start": s.start, "end": s.end} for s in spans],
        n_unmapped=n_unmapped,
        n_checks_pass=sum(1 for c in checks if c.status == "PASS"),
        n_checks_warn=sum(1 for c in checks if c.status == "WARN"),
        n_checks_fail=sum(1 for c in checks if c.status == "FAIL"),
        avg_confidence=(
            sum(c.confidence for c in confidences) / len(confidences)
            if confidences else 0.0
        ),
    )
    return result


def _extract_ifrs(result: dict[str, Any], url: str, pages: list[Page]) -> dict[str, Any]:
    """IFRS branch (ref pipeline.py:114-174): table collapse per statement,
    Notes raw text (LLM fallback path), IFRS ordering, no metadata block."""
    sections = segment.split_ifrs_sections(pages)
    result["n_sections"] = len(sections)

    processed: dict[str, str] = {}
    for key in IFRS_FINANCIAL_STATEMENTS:
        if key in sections:
            processed[key] = tables_to_markdown(sections[key].text, sections[key].tables)
    if segment.IFRS_NOTES in sections:
        # LLM unavailable -> reference keeps raw text (pipeline.py:149-158)
        processed[segment.IFRS_NOTES] = sections[segment.IFRS_NOTES].text

    spans: list[SectionSpan] = []
    markdown = assemble_markdown(
        url, processed,
        section_order=IFRS_SECTION_ORDER,
        section_titles=segment.IFRS_SECTION_TITLES,
        required_sections=IFRS_REQUIRED_SECTIONS,
        spans_out=spans,
    )
    result.update(
        markdown=markdown,
        spans=[{"section": s.section, "start": s.start, "end": s.end} for s in spans],
    )
    return result
