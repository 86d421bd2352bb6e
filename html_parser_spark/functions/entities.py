"""Named/numeric character-reference tables for the tokenizer.

The reference engine ships a 2,221-entry named-character-reference map
(reference: src/entity.rs:11-2233).  That map was verified this session to be
*exactly* the public WHATWG HTML5 table as shipped in Python's stdlib
``html.entities.html5`` (2,231 entries, keys without the leading ``&``),
minus the ten entries listed in ``_MISSING_IN_REFERENCE`` below.  We therefore
derive the table from the stdlib at import time instead of shipping a copy —
provably identical, and the ten omissions reproduce the reference's behavior
(e.g. ``&nbsp`` without a semicolon stays literal).

Numeric-reference predicates mirror reference src/entity.rs:2236-2303,
including the *incomplete* C1-control remap table (``replace_control``): the
reference omits the WHATWG rows for 0x99, 0x9A, 0x9B, 0x9C, 0x9E and 0x9F, so
e.g. ``&#153;`` decodes to U+0099 rather than U+2122 — replicated here because
golden equality is defined against the reference, not against the spec.
"""

from __future__ import annotations

import html.entities

# Size limits used by the named-character-reference scan
# (reference: src/entity.rs:5-7).
MAX_WITHOUT_SEMICOLON = 6
MAX_POSSIBLE = 33
MIN_POSSIBLE = 3

# Entries present in the public WHATWG table but absent from the reference's
# map (diffed this session against src/entity.rs).  Keys carry the leading
# ``&`` like the reference's keys do.
_MISSING_IN_REFERENCE = frozenset(
    {
        "&lt",
        "&macr",
        "&micro",
        "&middot",
        "&nbsp",
        "&nsupseteq;",
        "&sup1",
        "&sup2",
        "&sup3",
        "&szlig",
    }
)

ENTITIES: dict[str, str] = {
    "&" + name: value
    for name, value in html.entities.html5.items()
    if "&" + name not in _MISSING_IN_REFERENCE
}

assert len(ENTITIES) == 2221, len(ENTITIES)


def is_numeric_surrogate(code: int) -> bool:
    # reference: src/entity.rs:2240-2242
    return 0xD800 <= code <= 0xDFFF


def is_numeric_control(code: int) -> bool:
    # reference: src/entity.rs:2244-2247
    return code <= 0x1F or (0x7F <= code <= 0x9F)


def is_numeric_whitespace(code: int) -> bool:
    # reference: src/entity.rs:2249-2255
    return code in (0x9, 0xA, 0xC, 0xD, 0x20)


def is_numeric_noncharacter(code: int) -> bool:
    # reference: src/entity.rs:2257-2276
    if 0xFDD0 <= code <= 0xFDEF:
        return True
    return (code & 0xFFFE) == 0xFFFE and 0xFFFE <= code <= 0x10FFFF


# Incomplete C1 remap table (reference: src/entity.rs:2278-2303).  The WHATWG
# rows 0x99→0x2122, 0x9A→0x0161, 0x9B→0x203A, 0x9C→0x0153, 0x9E→0x017E,
# 0x9F→0x0178 are deliberately absent — the reference omits them.
REPLACE_CONTROL: dict[int, int] = {
    0x80: 0x20AC,
    0x82: 0x201A,
    0x83: 0x0192,
    0x84: 0x201E,
    0x85: 0x2026,
    0x86: 0x2020,
    0x87: 0x2021,
    0x88: 0x02C6,
    0x89: 0x2030,
    0x8A: 0x0160,
    0x8B: 0x2039,
    0x8C: 0x0152,
    0x8E: 0x017D,
    0x91: 0x2018,
    0x92: 0x2019,
    0x93: 0x201C,
    0x94: 0x201D,
    0x95: 0x2022,
    0x96: 0x2013,
    0x97: 0x2014,
    0x98: 0x02DC,
}


def replace_control(code: int) -> int:
    return REPLACE_CONTROL.get(code, code)
