"""The one SQL lexer of the package.

Every question of the form "is this character inside a string literal,
a comment or a paren group?" is answered here, from one compiled-regex
tokenizer, instead of by a hand-rolled character loop at each call site
(the reference feeds every statement kind through one ZetaSQL lexer —
HybridSE's parser front end).

Literal rule (ZetaSQL): a string literal opens with ``'`` or ``"`` and
runs to the next unescaped copy of that quote; a backslash escapes the
character after it, so ``'it\\'s'`` is one literal. An unterminated
literal runs to the end of the text. ``''`` inside a literal is not an
escape: ``'a''b'`` lexes as two adjacent literals, which every consumer
here treats exactly like one.

Each token carries its paren depth: the number of parens open *outside*
it. Both parens of a group carry the depth outside the group, so the
depth-0 tokens of ``f(a, b), c`` are ``f``, ``(``, ``)``, ``,`` and
``c``. A stray ``)`` drives the depth negative (nothing after it is at
depth 0); balanced text never goes below 0.
"""

from __future__ import annotations

import bisect
import re
from typing import NamedTuple


class SqlUnsupported(Exception):
    """SQL outside the supported subset (with the offending fragment)."""


class Token(NamedTuple):
    kind: str   # str qid comment ws num id table param op paren bracket comma
    text: str
    start: int
    end: int
    depth: int


_TOKEN = re.compile(r"""
    (?P<ws>\s+)
  | (?P<id>[^\W\d]\w*)
  | (?P<str>'(?:[^'\\]+|\\.)*(?:'|\\?\Z)|"(?:[^"\\]+|\\.)*(?:"|\\?\Z))
  | (?P<qid>`[^`]*`)
  | (?P<comment>--[^\n]*|/\*(?:[^*]|\*(?!/))*(?:\*/)?)
  | (?P<num>(?:\d+(?:\.\d*)?|\.\d+)(?:[eE][+-]?\d+)?[A-Za-z]*)
  | (?P<table>\{\d+\})
  | (?P<param>\?)
  | (?P<paren>[()])
  | (?P<bracket>[\[\]])
  | (?P<comma>,)
  | (?P<op>==|!=|<>|<=|>=|->|&&|\|\||.)
""", re.X | re.S)   # the common kinds first: alternatives are tried in order

# tokens after which a '+'/'-'/'*'/'/'/'%' is a binary operator
_OPERAND = frozenset({"str", "qid", "num", "id"})
_NAME = frozenset({"id", "qid", "table"})


def tokenize(text: str) -> list[Token]:
    """The tokens of text; their texts concatenate back to it."""
    toks, depth, new = [], 0, tuple.__new__
    for m in _TOKEN.finditer(text):
        s = m.group()
        if s == ")":
            depth -= 1
        toks.append(new(Token, (m.lastgroup, s, *m.span(), depth)))
        if s == "(":
            depth += 1
    return toks


def join_dotted(toks: list[Token]) -> list[Token]:
    """Merge each dotted name (``t.c``, ``{0}.c``, ```t`.c``, ``t.*``)
    into one ``id`` token; a lone table ref or backquoted name becomes
    an ``id`` too."""
    out, i, n = [], 0, len(toks)
    while i < n:
        t = toks[i]
        if t.kind not in _NAME:
            out.append(t)
            i += 1
            continue
        j = i
        while j + 2 < n and toks[j + 1].text == "." and (
                toks[j + 2].kind in _NAME or toks[j + 2].text == "*"):
            j += 2
        out.append(Token("id", "".join(x.text for x in toks[i:j + 1]),
                         t.start, toks[j].end, t.depth))
        i = j + 1
    return out


def _masked(toks: list[Token]) -> str:
    return "".join(
        t.text[0] + " " * (len(t.text) - 2) + t.text[-1]
        if t.kind == "str" and len(t.text) > 1 else t.text for t in toks)


def mask_literals(text: str) -> str:
    """text with every string literal's contents blanked (quotes kept,
    same length), so regex sniffs cannot fire inside literals."""
    return _masked(tokenize(text))


def literal_spans(text: str) -> list[tuple[int, int]]:
    return [(t.start, t.end) for t in tokenize(text) if t.kind == "str"]


def map_code(text: str, fn) -> str:
    """Apply ``fn`` to every maximal stretch of text outside string
    literals; literals pass through untouched."""
    out, seg = [], []
    for t in tokenize(text):
        if t.kind != "str":
            seg.append(t.text)
            continue
        if seg:
            out.append(fn("".join(seg)))
            seg = []
        out.append(t.text)
    if seg:
        out.append(fn("".join(seg)))
    return "".join(out)


def sub_code(pattern, repl, text: str, flags=0) -> str:
    """``re.sub`` applied outside string literals only."""
    return map_code(text, lambda s: re.sub(pattern, repl, s, flags=flags))


def strip_comments(text: str) -> str:
    """Drop ``-- ...`` comments (their newline stays) and replace each
    ``/* ... */`` comment with one space."""
    out = []
    for t in tokenize(text):
        if t.kind != "comment":
            out.append(t.text)
        elif t.text.startswith("/*"):
            if len(t.text) < 4 or not t.text.endswith("*/"):
                raise SqlUnsupported("unterminated block comment")
            out.append(" ")
    return "".join(out)


def match_paren(text: str, pos: int) -> int:
    """Index of the bracket closing the ``(`` or ``[`` at text[pos]."""
    opener = text[pos]
    closer = ")" if opener == "(" else "]"
    level = 0
    for m in _TOKEN.finditer(text, pos):
        if m.group() == opener:
            level += 1
        elif m.group() == closer:
            level -= 1
            if not level:
                return m.start()
    raise SqlUnsupported(f"unbalanced parens in {text!r}")


def wrapped(text: str) -> bool:
    """True if the stripped text is one paren group — ``(a + b)`` but
    not ``(a) + (b)``."""
    t = text.strip()
    if not t.startswith("("):
        return False
    try:
        return match_paren(t, 0) == len(t) - 1
    except SqlUnsupported:
        return False


def split(text: str, sep: str = ",", *, case_end: bool = False,
          between: bool = False) -> list[str]:
    """The pieces of text between depth-0 separators, verbatim.

    ``sep`` is a punctuation token (``,`` ``;``) or a keyword; keywords
    match whole identifiers case-insensitively.
    ``case_end``: nothing inside a depth-0 CASE ... END splits.
    ``between``: the AND of a ``BETWEEN x AND y`` does not split."""
    sep = sep.lower()
    pieces, start, cases, pending_and = [], 0, 0, False
    for t in tokenize(text):
        if t.depth or t.kind not in ("id", "op", "comma"):
            continue
        word = t.text.lower()
        if case_end and word == "case":
            cases += 1
        elif case_end and word == "end" and cases:
            cases -= 1
        elif cases:
            continue
        elif between and word == "between":
            pending_and = True
        elif word == sep:
            if pending_and and word == "and":
                pending_and = False
                continue
            pieces.append(text[start:t.start])
            start = t.end
    pieces.append(text[start:])
    return pieces


def split_binary(text: str, ops: str) -> list[tuple[str, str]]:
    """[(op, operand)] at the top-level binary operators among the
    characters of ``ops``; the first op is ''. Paren groups are opaque
    (a stray ``)`` is an ordinary character) and an operator right after
    another operator (``a * -b``) is unary and does not split. Operands
    are stripped; empty ones are dropped."""
    toks = tokenize(text)
    parts, start, op, after_operand, floor = [], 0, "", False, 0
    for t in toks:
        closes = t.text == ")" and t.depth >= floor   # not a stray ')'
        floor = min(floor, t.depth)
        if t.depth > floor or t.kind in ("ws", "comment"):
            continue
        if t.kind == "op" and t.text in ops and after_operand:
            parts.append((op, text[start:t.start].strip()))
            op, start, after_operand = t.text, t.end, False
            continue
        after_operand = t.kind in _OPERAND or closes
    if toks and toks[-1].depth + (toks[-1].text == "(") > floor:
        raise SqlUnsupported(f"unbalanced parens in {text!r}")
    parts.append((op, text[start:].strip()))
    return [(o, p) for o, p in parts if p]


def depth0(text: str, pattern) -> list[re.Match]:
    """Matches of ``pattern`` over the literal-masked text that start
    at paren depth 0."""
    toks = tokenize(text)
    starts = [t.start for t in toks]
    return [m for m in re.finditer(pattern, _masked(toks))
            if toks[bisect.bisect_right(starts, m.start()) - 1].depth == 0]


def calls(text: str):
    """(start, name, open, close) for every outermost call ``name(...)``
    — an identifier or backquoted identifier followed by ``(`` — in
    text order; calls nested inside another call's arguments are not
    reported. ``open``/``close`` index the parens."""
    toks = tokenize(text)
    i, n = 0, len(toks)
    while i < n:
        t = toks[i]
        j = i + 1
        while j < n and toks[j].kind == "ws":
            j += 1
        if t.kind in ("id", "qid") and t.text.strip("`").isidentifier() \
                and j < n and toks[j].text == "(":
            k = next((k for k in range(j + 1, n) if toks[k].text == ")"
                      and toks[k].depth == toks[j].depth), None)
            if k is None:
                raise SqlUnsupported(f"unbalanced parens in {text!r}")
            yield t.start, t.text.strip("`"), toks[j].start, toks[k].start
            i = k + 1
            continue
        i += 1


def placeholders(text: str) -> int:
    """Number of ``?`` placeholders outside literals and comments."""
    return sum(t.kind == "param" for t in tokenize(text))


def fill_placeholders(text: str, literals) -> str:
    """Replace each ``?`` placeholder with the next of ``literals``."""
    it = iter(literals)
    return "".join(next(it) if t.kind == "param" else t.text
                   for t in tokenize(text))


def drop_calls(text: str, name: str) -> str:
    """Remove every balanced ``name(...)`` group (case-insensitive) and
    the whitespace before it — e.g. a trailing CONFIG(...) clause.
    Occurrences inside literals are untouched; an unbalanced group is
    kept."""
    toks = tokenize(text)
    out, pos = [], 0
    for i, t in enumerate(toks):
        if t.start < pos or t.kind != "id" or t.text.lower() != name:
            continue
        j = i + 1
        while j < len(toks) and toks[j].kind == "ws":
            j += 1
        if j == len(toks) or toks[j].text != "(":
            continue
        try:
            close = match_paren(text, toks[j].start)
        except SqlUnsupported:
            continue
        out.append(text[pos:t.start].rstrip())
        pos = close + 1
    out.append(text[pos:])
    return "".join(out)
