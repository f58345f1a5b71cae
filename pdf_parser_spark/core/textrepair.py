"""PDF-artifact text repair: bold-overlay collapse and rotated-header de-interleave.

Semantics of reference pdf_extract.py:36-206.  These run inside the first
Arrow extraction stage, applied to page text and every table cell.
"""

from __future__ import annotations

import math
import re
from functools import lru_cache

# Factors tried for repeated-character collapse (ref pdf_extract.py:65)
_MIN_FACTOR, _MAX_FACTOR = 2, 15
_ACCEPT_GROUP_RATIO = 0.7  # ref pdf_extract.py:128
_MIN_GROUPS = 3
# necessary multi-run floor implied by the two gates below (integer count
# >= ratio * MIN regardless of the group total)
_MIN_MULTI = math.ceil(_ACCEPT_GROUP_RATIO * _MIN_GROUPS)

# run-length gate regexes: a "group" is a maximal run of one non-space char
_RUN_RE = re.compile(r"([^ ])\1*")
_MULTI_RUN_RE = re.compile(r"([^ ])\1+")
_HAS_DIGIT = re.compile(r"\d")

# Financial vocabulary for de-interleave scoring (ref pdf_extract.py:134-145)
_FIN_TERMS = (
    "common", "stock", "preferred", "treasury", "retained", "earnings",
    "capital", "additional", "paid", "accumulated", "comprehensive",
    "total", "shares", "par", "value", "surplus",
)
_KNOWN_WORDS = frozenset(_FIN_TERMS) | frozenset((
    "in", "of", "the", "and", "for", "net", "loss", "income", "other",
    "equity", "debt", "assets", "cash", "from", "non", "per", "share",
    "changes", "statement", "balance", "sheet", "flow", "operating",
))


def _char_runs(line: str) -> list[tuple[str, int]]:
    """Run-length encoding of a line — factor-independent, computed once."""
    runs: list[tuple[str, int]] = []
    i = 0
    n = len(line)
    while i < n:
        ch = line[i]
        j = i + 1
        while j < n and line[j] == ch:
            j += 1
        runs.append((ch, j - i))
        i = j
    return runs


def _collapse_runs(runs: list[tuple[str, int]], factor: int) -> str | None:
    collapsed: list[str] = []
    matches = 0
    groups = 0
    for ch, run in runs:
        if ch == " ":
            collapsed.append(" ")  # space runs are lenient
            continue
        groups += 1
        if run % factor == 0:
            matches += 1
            collapsed.append(ch * (run // factor))
        else:
            collapsed.append(ch * run)
    if groups >= _MIN_GROUPS and matches / groups >= _ACCEPT_GROUP_RATIO:
        return "".join(collapsed)
    return None


def collapse_repeated_line(line: str) -> str:
    """Best-factor collapse of one line; identity when nothing fits
    (ref pdf_extract.py:54-79: pick the candidate with the lowest
    collapsed/original length ratio; ascending factor order, strict <,
    so the smallest winning factor takes ties).

    Fast path: the run-length structure is factor-independent, so it is
    computed ONCE; a factor-f match needs run % f == 0 (f >= 2), so any
    line where fewer than 70% of non-space runs have length >= 2 can never
    collapse — i.e., virtually all normal text skips the factor loop."""
    if len(line) < 6:
        return line
    # C-level gate: count multi-char runs FIRST — acceptance needs
    # multi >= ratio*groups with groups >= _MIN_GROUPS, so multi >=
    # ceil(ratio*_MIN_GROUPS) is necessary regardless of groups, and
    # normal text (0-2 doubled letters per line) exits after ONE regex
    # pass instead of two (counts equal _char_runs' tallies)
    multi = len(_MULTI_RUN_RE.findall(line))
    if multi < _MIN_MULTI:
        return line
    groups = len(_RUN_RE.findall(line))
    if groups < _MIN_GROUPS:
        return line
    if multi / groups < _ACCEPT_GROUP_RATIO:
        return line
    runs = _char_runs(line)
    n = len(line)
    best_ratio = None
    best_text = None
    for factor in range(_MIN_FACTOR, _MAX_FACTOR + 1):
        if n < factor * 3:
            continue
        candidate = _collapse_runs(runs, factor)
        if candidate is None:
            continue
        ratio = len(candidate) / n
        if best_ratio is None or ratio < best_ratio:
            best_ratio, best_text = ratio, candidate
    return best_text if best_text is not None else line


def collapse_repeated_text(text: str) -> str:
    """Apply the per-line collapse to a whole page (ref pdf_extract.py:36-51)."""
    return "\n".join(collapse_repeated_line(ln) for ln in text.split("\n"))


def deinterleave(text: str) -> str:
    """Undo interleaved rotated-header garble, e.g. 'CPoremfemrreond SSttcoockk'
    -> 'Common / Preferred Stock' (ref pdf_extract.py:148-206).

    Tries 2 and 3 strands over the raw and space-stripped variants, scores each
    candidate split by total length of financial-term hits, accepts at >=10.
    Skipped when the text already reads as known words (>=40% recognized).
    """
    stripped = text.strip()
    if len(stripped) < 10 or len(stripped) >= 60:
        return text
    # \d covers the ASCII case C-side; isdigit() additionally matches
    # superscript/No-category digits, so non-ASCII strings take the exact path
    if _HAS_DIGIT.search(stripped) or (
        not stripped.isascii() and any(c.isdigit() for c in stripped)
    ):
        return text
    words = stripped.lower().split()
    if words and sum(1 for w in words if w in _KNOWN_WORDS) / len(words) >= 0.4:
        return text

    best_score = 0
    best_out: str | None = None
    candidates = [stripped]
    squeezed = stripped.replace(" ", "")
    if squeezed != stripped:
        candidates.append(squeezed)
    for candidate in candidates:
        for n_strands in (2, 3):
            if len(candidate) < n_strands * 4:
                continue
            strands: list[list[str]] = [[] for _ in range(n_strands)]
            for pos, ch in enumerate(candidate):
                strands[pos % n_strands].append(ch)
            parts = ["".join(s).strip() for s in strands]
            score = 0
            for part in parts:
                low = part.lower()
                for term in _FIN_TERMS:
                    if term in low:
                        score += len(term)
            if score > best_score:
                best_score = score
                best_out = " / ".join(p for p in parts if p)
    if best_score >= 10 and best_out:
        return best_out
    return text


@lru_cache(maxsize=65536)
def repair_cell(cell: str) -> str:
    """Cell-level repair order used at extraction time (ref pdf_extract.py:233-236):
    factor-collapse first, then de-interleave.

    Memoized: pure function of the cell, and table cells repeat massively
    across a corpus ('Total', '$', year headers...) — the same broadcast-
    style amortization as the taxonomy matcher."""
    return deinterleave(collapse_repeated_line(cell))
