"""Fuzzy column resolution (SURVEY §2.2 P1).

Schema resolution is driver metadata work over the parsed header — cheap,
identical semantics at any scale (/root/reference/src/etl.js:44-72):
normalize every header (NBSP→space, collapse whitespace, trim, lowercase)
into two lookup maps (normalized, and no-space normalized); walk the
candidate list in priority order; first hit wins. Later duplicate headers
overwrite earlier ones in the maps, matching the reference's Map.set.
"""

from __future__ import annotations

import re

_NBSP = " "


def norm(s: str | None) -> str:
    s = "" if s is None else str(s)
    s = s.replace(_NBSP, " ")
    s = re.sub(r"\s+", " ", s)
    return s.strip().lower()


def norm_nospace(s: str | None) -> str:
    return re.sub(r"\s+", "", norm(s))


def pick_col(columns: list[str], candidates: list[str]) -> int | None:
    """Return the position of the column matching the highest-priority
    candidate, or None. A position, not a name: two headers that differ
    only in case (`Status`, `status`) stay apart, where a name lookup in
    Spark's case-insensitive resolver would be ambiguous."""
    lookup: dict[str, int] = {}
    lookup_nospace: dict[str, int] = {}
    for i, c in enumerate(columns):
        lookup[norm(c)] = i
        lookup_nospace[norm_nospace(c)] = i
    for want in candidates:
        w, ws = norm(want), norm_nospace(want)
        if w in lookup:
            return lookup[w]
        if ws in lookup_nospace:
            return lookup_nospace[ws]
    return None

