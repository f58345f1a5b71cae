"""Final markdown assembly (A1) — semantics of reference markdown_writer.py.

Also computes section spans (char offsets into the assembled markdown), the
north_rule's per-url span output.
"""

from __future__ import annotations

import functools
import re
from typing import NamedTuple

from pdf_parser_spark.core.docmeta import metadata_to_yaml
from pdf_parser_spark.core import segment as seg

SECTION_ORDER = [
    seg.COVER_PAGE, seg.BALANCE_SHEET, seg.INCOME_STATEMENT, seg.CASH_FLOW,
    seg.STOCKHOLDERS_EQUITY, seg.COMPREHENSIVE_INCOME, seg.NOTES, seg.MDA,
    seg.MARKET_RISK, seg.CONTROLS, seg.LEGAL_PROCEEDINGS, seg.RISK_FACTORS,
    seg.EXHIBITS, seg.SIGNATURES,
]

IFRS_SECTION_ORDER = [
    seg.IFRS_INCOME_STATEMENT, seg.IFRS_BALANCE_SHEET, seg.IFRS_EQUITY_CHANGES,
    seg.IFRS_CASH_FLOW, seg.IFRS_NOTES,
]

REQUIRED_SECTIONS = {
    seg.INCOME_STATEMENT, seg.BALANCE_SHEET, seg.CASH_FLOW,
    seg.STOCKHOLDERS_EQUITY, seg.NOTES,
}
IFRS_REQUIRED_SECTIONS = set(IFRS_SECTION_ORDER)

MISSING_PLACEHOLDER = "*Section not found in filing.*"


class SectionSpan(NamedTuple):
    section: str
    start: int  # char offset into the final markdown (inclusive)
    end: int  # exclusive


def doc_stem(source_name: str) -> str:
    """Filename stem for the H1 title (ref markdown_writer.py:106 uses
    Path.stem); urls use the last path segment without its extension."""
    base = source_name.rstrip("/").rsplit("/", 1)[-1]
    if "." in base:
        base = base.rsplit(".", 1)[0]
    return base or source_name


@functools.lru_cache(maxsize=None)
def _title_heading(title: str) -> re.Pattern[str]:
    """A leading copy of the section's own heading, stripped from its body."""
    return re.compile(r"\s*#{0,4}\s*" + re.escape(title) + r"\s*\n*", re.IGNORECASE)


def assemble_markdown(
    source_name: str,
    processed: dict[str, str],
    section_order: list[str] | None = None,
    section_titles: dict[str, str] | None = None,
    required_sections: set[str] | None = None,
    metadata: dict | None = None,
    validation_markdown: str = "",
    confidence_markdown: str = "",
    spans_out: list[SectionSpan] | None = None,
) -> str:
    """YAML front-matter + '# title' + ordered '## section' blocks with
    duplicate-heading strip and required-section placeholders
    (ref markdown_writer.py:75-142)."""
    order = section_order or SECTION_ORDER
    titles = section_titles or {**seg.SECTION_TITLES, **seg.IFRS_SECTION_TITLES}
    required = required_sections if required_sections is not None else REQUIRED_SECTIONS

    parts: list[str] = []
    part_sections: list[str | None] = []  # parallel: section key or None

    def push(text: str, section: str | None = None) -> None:
        parts.append(text)
        part_sections.append(section)

    if metadata:
        push(metadata_to_yaml(metadata))
    push(f"# {doc_stem(source_name)}\n")

    for key in order:
        content = processed.get(key)
        if content is None:
            if key in required:
                push(f"## {titles[key]}\n", key)
                push(MISSING_PLACEHOLDER, key)
                push("", key)
            continue
        title = titles[key]
        push(f"## {title}\n", key)
        dup = _title_heading(title).match(content)
        push((content[dup.end():] if dup else content).lstrip("\n"), key)
        push("", key)

    if validation_markdown:
        push("## Validation\n", "validation")
        push(validation_markdown, "validation")
        push("", "validation")
    if confidence_markdown:
        push("## Data Confidence\n", "confidence")
        push(confidence_markdown, "confidence")
        push("", "confidence")

    out = "\n".join(parts) + "\n"

    if spans_out is not None:
        # char offsets: each part occupies [offset, offset+len(part)], +1 for
        # the joining newline; contiguous same-section parts merge into a span
        offset = 0
        current: str | None = None
        start = 0
        for text, section in zip(parts, part_sections):
            end = offset + len(text)
            if section != current:
                if current is not None:
                    spans_out.append(SectionSpan(current, start, offset - 1))
                current = section
                start = offset
            offset = end + 1  # the join newline
        if current is not None:
            spans_out.append(SectionSpan(current, start, offset - 1))

    return out
