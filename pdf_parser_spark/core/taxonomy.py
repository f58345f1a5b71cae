"""Line-item normalization: exact alias lookup -> difflib fuzzy match.

Semantics of reference normalize.py:29-146 and consistency.py:6-33, re-expressed
for batch execution: the alias index is built ONCE per process (the reference
reloads its YAML per document — pipeline.py:245 — a known inefficiency we fix)
and captured in the Arrow-UDF closure; in Spark terms it is the broadcast side
of a dictionary join.  The LLM tier (normalize.py:164-223) is excluded: the
deterministic no-API-key fallback path defines byte-identity.
"""

from __future__ import annotations

import difflib
import re
from functools import lru_cache
from typing import NamedTuple

from pdf_parser_spark.core.numeric import is_numeric_cell
from pdf_parser_spark.core.taxonomy_data import TAXONOMY_ROWS

FUZZY_THRESHOLD = 0.85  # ref normalize.py:73


class MatchResult(NamedTuple):
    canonical: str | None
    confidence: float
    method: str  # "exact" | "fuzzy" | "none"


@lru_cache(maxsize=1)
def alias_index() -> dict[str, str]:
    """lowercase alias -> canonical, insertion order preserved.

    Order contract (ref normalize.py:29-46): per taxonomy item, the canonical
    name itself is inserted first, then its aliases, sections in document
    order.  Duplicate keys keep their FIRST insertion position (dict update
    semantics) — this drives fuzzy tie-breaking determinism.
    """
    index: dict[str, str] = {}
    for _section, _key, canonical, aliases in TAXONOMY_ROWS:
        index[canonical.lower()] = canonical
        for alias in aliases:
            index[alias.lower()] = canonical
    return index


def canonical_names() -> list[str]:
    """All canonical names in taxonomy order (deduplicated, first wins)."""
    seen: dict[str, None] = {}
    for _s, _k, canonical, _a in TAXONOMY_ROWS:
        seen.setdefault(canonical)
    return list(seen)


@lru_cache(maxsize=1)
def _alias_scan_cache() -> list[tuple[str, str, int, dict[str, int]]]:
    """Per-alias precomputed (alias, canonical, len, char-multiset) for the
    bound cascade in _fuzzy_canonical.  Built once per process from the frozen
    default index — the broadcast-dictionary side of the fuzzy theta-join."""
    out = []
    for alias, canonical in alias_index().items():
        counts: dict[str, int] = {}
        for ch in alias:
            counts[ch] = counts.get(ch, 0) + 1
        out.append((alias, canonical, len(alias), counts))
    return out


def _fuzzy_canonical(needle: str) -> str | None:
    """Accepted-match-only fuzzy scan: returns the canonical the reference
    scan (normalize.py:65-76) would accept at >= FUZZY_THRESHOLD, or None.

    Result-preserving prunes on top of _fuzzy_scan's: because only matches at
    or above the threshold are consumed here, any alias whose ratio upper
    bound sits BELOW the threshold is skipped outright.  The bounds
    (difflib's documented real_quick_ratio >= quick_ratio >= ratio chain) are
    computed from precomputed alias lengths / char multisets without
    constructing a SequenceMatcher, so most aliases cost two arithmetic ops.
    First-max tie-breaking is unchanged: every alias whose true ratio equals
    the global max (>= threshold) has bounds >= that max and is never pruned,
    and the strict > update keeps the first attainer — identical to the
    reference's running-best scan.
    """
    best_score = 0.0
    best: str | None = None
    ln = len(needle)
    ncounts: dict[str, int] = {}
    for ch in needle:
        ncounts[ch] = ncounts.get(ch, 0) + 1
    nget = ncounts.get
    for alias, canonical, la, acounts in _alias_scan_cache():
        tot = ln + la
        if not tot:
            continue
        # real_quick_ratio bound from lengths alone
        floor = best_score if best_score > FUZZY_THRESHOLD else FUZZY_THRESHOLD
        if 2.0 * (ln if ln < la else la) / tot < floor:
            continue
        # quick_ratio bound: char-multiset intersection
        inter = 0
        for ch, c in acounts.items():
            n = nget(ch, 0)
            inter += c if c < n else n
        if 2.0 * inter / tot < floor:
            continue
        score = difflib.SequenceMatcher(None, needle, alias).ratio()
        if score > best_score:
            best_score = score
            best = canonical
    return best if best_score >= FUZZY_THRESHOLD else None


def _fuzzy_scan(needle: str, idx: dict[str, str]) -> tuple[str | None, float]:
    """First-max fuzzy scan, reference semantics (normalize.py:65-76), with
    two result-preserving prunes: difflib's documented upper bounds
    (real_quick_ratio >= quick_ratio >= ratio) let us skip an alias whenever
    its bound cannot EXCEED the running best — the strict > update rule means
    such aliases could never change the outcome.  ~20x fewer full ratio()
    computations on financial label sets."""
    best_score = 0.0
    best: str | None = None
    for alias, canonical in idx.items():
        m = difflib.SequenceMatcher(None, needle, alias)
        if m.real_quick_ratio() <= best_score or m.quick_ratio() <= best_score:
            continue
        score = m.ratio()
        if score > best_score:
            best_score = score
            best = canonical
    return best, best_score


@lru_cache(maxsize=131072)
def _canonical_default_index(needle: str) -> str | None:
    """Memoized canonical-or-None against the process-global index — the hot
    path for normalize_rows, which consumes only the accepted canonical.
    Equals _match_default_index(needle).canonical by the _fuzzy_canonical
    equivalence argument (differentially tested in test_core_taxonomy)."""
    hit = alias_index().get(needle)
    if hit is not None:
        return hit
    return _fuzzy_canonical(needle)


@lru_cache(maxsize=131072)
def _match_default_index(needle: str) -> MatchResult:
    """Memoized match against the process-global alias index.  Pure function
    of the needle (the index is frozen at import); corpora repeat line-item
    labels across millions of documents, so the fuzzy tier amortizes to a
    dict hit per distinct label per executor."""
    idx = alias_index()
    hit = idx.get(needle)
    if hit is not None:
        return MatchResult(hit, 1.0, "exact")
    best, best_score = _fuzzy_scan(needle, idx)
    if best_score >= FUZZY_THRESHOLD:
        return MatchResult(best, best_score, "fuzzy")
    return MatchResult(None, best_score, "none")


def match_line_item(label: str, index: dict[str, str] | None = None) -> MatchResult:
    """Exact then fuzzy match of a display label (ref normalize.py:49-76).

    Fuzzy pass scans ALL aliases with difflib.SequenceMatcher; ties resolve to
    the first maximum in index iteration order — identical to the reference.
    """
    if not label or not label.strip():
        return MatchResult(None, 0.0, "none")
    needle = label.strip().lower()
    if index is None:
        return _match_default_index(needle)
    hit = index.get(needle)
    if hit is not None:
        return MatchResult(hit, 1.0, "exact")
    best, best_score = _fuzzy_scan(needle, index)
    if best_score >= FUZZY_THRESHOLD:
        return MatchResult(best, best_score, "fuzzy")
    return MatchResult(None, best_score, "none")


# Current / non-current context tracking (ref normalize.py:79-96)
_CTX_CURRENT = re.compile(r"(?:^|\b)current\s+(?:assets|liabilities)", re.IGNORECASE)
_CTX_NON_CURRENT = re.compile(
    r"(?:non[- ]?current|long[- ]?term)\s+(?:assets|liabilities)", re.IGNORECASE
)
_CTX_OVERRIDES: dict[str, dict[str, str]] = {
    "marketable securities": {
        "non-current": "Long-Term Investments",
        "current": "Short-Term Investments",
    },
    "other current liabilities": {"current": "Other Current Liabilities"},
    "other non-current liabilities": {"non-current": "Other Non-Current Liabilities"},
}


def normalize_rows(rows: list[list[str]]) -> list[list[str]]:
    """Insert a Canonical column at index 1 of every row (ref normalize.py:99-146).

    The current/non-current context is a stateful scan WITHIN one document's
    rows — it never crosses documents, so in Spark this stays inside the
    per-document Arrow batch (never a cross-row window).
    """
    out: list[list[str]] = []
    context = ""
    for row in rows:
        first = (row[0] if row else "").strip()
        if not first or is_numeric_cell(first):
            canonical = ""
        else:
            if _CTX_NON_CURRENT.search(first):
                context = "non-current"
            elif _CTX_CURRENT.search(first):
                context = "current"
            value_cells = row[1:]
            header_row = first.endswith(":") or (
                bool(value_cells) and all(not c.strip() for c in value_cells)
            )
            if header_row:
                canonical = ""
            else:
                override = _CTX_OVERRIDES.get(first.lower(), {})
                if context and context in override:
                    canonical = override[context]
                else:
                    # default-index path -> memoized (labels repeat massively);
                    # canonical-only scan skips sub-threshold ratio work
                    canonical = _canonical_default_index(first.lower()) or ""
        # ref normalize.py:144 indexes row[0] unguarded (its callers filter
        # empty rows); fail-soft here: an empty row passes through unchanged
        out.append([row[0], canonical] + row[1:] if row else [])
    return out


def unmapped_labels(normalized: list[list[str]]) -> list[str]:
    """Labels whose canonical came back empty (ref normalize.py:149-161)."""
    return [
        row[0]
        for row in normalized
        if len(row) >= 2 and row[0].strip() and not row[1].strip()
    ]


def first_wins_mappings(mappings_in_order: list[dict[str, str]]) -> dict[str, str]:
    """Global label->canonical map, first non-empty wins (ref consistency.py:17-23).

    The caller supplies filings in a DETERMINISTIC order — the engine contract
    is (period_end, url) ascending, replacing the reference's filesystem glob
    order.  The Spark expression of this is a groupBy(label) min_by aggregation
    over the same ordering (operators.consistency).
    """
    merged: dict[str, str] = {}
    for mapping in mappings_in_order:
        for label, canonical in mapping.items():
            if canonical and label not in merged:
                merged[label] = canonical
    return merged


def backfill_mappings(
    mappings_in_order: list[dict[str, str]],
) -> list[dict[str, str]]:
    """Apply the global first-wins map to empty slots (ref consistency.py:25-31)."""
    merged = first_wins_mappings(mappings_in_order)
    out: list[dict[str, str]] = []
    for mapping in mappings_in_order:
        updated = dict(mapping)
        for label, canonical in updated.items():
            if not canonical and label in merged:
                updated[label] = merged[label]
        out.append(updated)
    return out
