"""The required-literal gate: a page-level regex runs only on pages that can match it.

The rule.  A gated pattern declares required-literal groups next to it: every
string the pattern matches contains, uppercased, at least one literal of each
group.  A page is uppercased once (its gate key), and a pattern runs only when
every group has a literal in the key; otherwise ``search`` provably returns
None, so skipping it changes no output.

A literal is a single word of characters the pattern matches literally.  It
never spans a ``\\s``, which also matches Unicode spaces (NBSP), so the gate
never reads whitespace.

Exactness.  Under ``re.IGNORECASE`` on CPython 3.11, ``str.upper`` maps every
character that case-matches an ASCII letter to that letter, except the two in
UNGATED_CHARS: U+0130 (dotted capital I, matches ``i``) and U+212A (Kelvin
sign, matches ``k``).  A page holding either one has no key and admits every
pattern.  Checking for these two instead of ``str.isascii`` keeps real pages
with a curly apostrophe or an NBSP gated.  The set is hardcoded — deriving it
scans every code point, which would add to each worker's start-up — and
tests/test_core_extraction.py derives it to check it.

``RULES`` lists every gated pattern in the program, so that the tests can
check each one against a corpus.
"""

from __future__ import annotations

import re
from typing import NamedTuple

UNGATED_CHARS = "\u0130\u212a"

Groups = tuple[tuple[str, ...], ...]


class Rule(NamedTuple):
    pattern: re.Pattern[str]
    groups: Groups


RULES: list[Rule] = []


def rule(pattern: str, groups: Groups, flags: int = 0) -> Rule:
    """Compile `pattern` with its required-literal groups and register it."""
    r = Rule(re.compile(pattern, flags), groups)
    RULES.append(r)
    return r


def page_key(text: str) -> str | None:
    """The page uppercased once; None (admit everything) when it holds a
    character whose uppercase is not the ASCII letter it case-matches."""
    if "\u0130" in text or "\u212a" in text:
        return None
    return text.upper()


def admits(key: str | None, groups: Groups) -> bool:
    """True unless some group has no literal in the page key."""
    if key is None:
        return True
    for group in groups:
        for lit in group:
            if lit in key:
                break
        else:
            return False
    return True


def search(r: Rule, text: str, key: str | None) -> re.Match[str] | None:
    """``r.pattern.search(text)``, skipped when the gate proves no match."""
    return r.pattern.search(text) if admits(key, r.groups) else None
