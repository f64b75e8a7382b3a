"""BigQuery lexing rules, held in one place.

Everything in BigQuery text that is not code is one token of
``TOKEN_RE``: a ``--`` / ``#`` / ``/* */`` comment, a ``/*+ */``
optimizer hint, a single-, double- or triple-quoted string literal
(backslash escapes) or a backtick identifier. An unterminated token
runs to the end of the text. Every scan over SQL text in the engine
builds on the helpers below, so the quoting rule cannot drift between
scans. A consumer that needs another view chooses by token kind (the
regex group name): the transpiler keeps hints, the table-name resolver
treats backtick identifiers as code.

Each helper is one C-level ``finditer`` / ``sub`` over the text; there
is no per-character Python walk and no memo of lexed text."""

from __future__ import annotations

import re
from collections.abc import Callable

TOKEN_RE = re.compile(
    r"(?P<hint>/\*\+.*?(?:\*/|\Z))"
    r"|(?P<comment>(?:--|\#)[^\n]*\n?|/\*.*?(?:\*/|\Z))"
    r"|(?P<string>'''(?:\\.|.)*?(?:'''|\Z)|\"\"\"(?:\\.|.)*?(?:\"\"\"|\Z)"
    r"|'(?:[^'\\]|\\.)*(?:'|\\?\Z)|\"(?:[^\"\\]|\\.)*(?:\"|\\?\Z))"
    r"|(?P<ident>`[^`]*(?:`|\Z))",
    re.S,
)

#: every token kind, in ``TOKEN_RE`` group order
KINDS = ("hint", "comment", "string", "ident")

_PAREN_RE = re.compile(TOKEN_RE.pattern + r"|[()]", re.S)
_ESCAPE_RE = re.compile(r"\\(.)", re.S)
_ESCAPES = {"n": "\n", "t": "\t", "r": "\r"}
_NOT_NL_RE = re.compile(r"[^\n]")


def _blank(text: str) -> str:
    return _NOT_NL_RE.sub(" ", text) if "\n" in text else " " * len(text)


def mask(sql: str, kinds: tuple[str, ...] = KINDS) -> str:
    """Same-length copy of ``sql`` with every token of ``kinds`` blanked
    to spaces (newlines kept): offsets found in the copy index the
    original, and no keyword inside a literal or comment can match."""
    return TOKEN_RE.sub(
        lambda m: _blank(m.group()) if m.lastgroup in kinds else m.group(), sql
    )


def string_value(text: str) -> str | None:
    """The value of ``text`` when it is exactly one terminated string
    literal (quotes off, backslash escapes resolved), else None."""
    m = TOKEN_RE.fullmatch(text)
    if m is None or m.lastgroup != "string":
        return None
    q = 3 if text[:3] in ("'''", '"""') else 1
    if len(text) < 2 * q or text[-q:] != text[:q]:
        return None
    return _ESCAPE_RE.sub(
        lambda e: _ESCAPES.get(e.group(1), e.group(1)), text[q:-q]
    )


def segments(
    sql: str, literal: tuple[str, ...] = ("string", "ident")
) -> list[tuple[str, str]]:
    """``sql`` as (code, literal) pairs: each code run together with the
    literal token of ``literal`` kinds that follows it; the final pair's
    literal is ``""``. Comments and hints stay inside the code runs, so
    an apostrophe in a comment never opens a literal."""
    out: list[tuple[str, str]] = []
    pos = 0
    for m in TOKEN_RE.finditer(sql):
        if m.lastgroup in literal:
            out.append((sql[pos : m.start()], m.group()))
            pos = m.end()
    out.append((sql[pos:], ""))
    return out


def sub_code(
    sql: str, fn: Callable[[str], str], literal: tuple[str, ...] = ("string", "ident")
) -> str:
    """Apply ``fn`` to every code run of ``segments(sql, literal)``,
    leaving the literal tokens as they are."""
    return "".join(fn(code) + lit for code, lit in segments(sql, literal))


def balanced_end(sql: str, open_idx: int) -> int:
    """Index just past the ``)`` matching the ``(`` at ``open_idx``
    (parens inside tokens do not count); -1 if unbalanced."""
    depth = 0
    for m in _PAREN_RE.finditer(sql, open_idx):
        if m.lastgroup:
            continue
        if m.group() == "(":
            depth += 1
        else:
            depth -= 1
            if depth == 0:
                return m.end()
    return -1


def split_top_level(sql: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` outside tokens and outside parens and brackets
    (``SET emb = [1.0, 2.0]`` is one assignment)."""
    pat = re.compile(TOKEN_RE.pattern + r"|[(\[)\]]|" + re.escape(sep), re.S)
    out: list[str] = []
    start = depth = 0
    for m in pat.finditer(sql):
        if m.lastgroup:
            continue
        ch = m.group()
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0:
            out.append(sql[start : m.start()])
            start = m.end()
    out.append(sql[start:])
    return out


def find_top_level(sql: str, pat: re.Pattern, start: int = 0) -> re.Match | None:
    """First match of ``pat`` that starts in code at paren depth 0,
    counting from ``start``. The match itself may run on into a token
    (a backtick table name after ``JOIN``)."""
    masked = mask(sql)
    depth, counted = 0, start
    m = pat.search(sql, start)
    while m:
        i = m.start()
        depth += masked.count("(", counted, i) - masked.count(")", counted, i)
        counted = i
        if depth == 0 and masked[i] == sql[i] and sql[i] not in "()":
            return m
        m = pat.search(sql, i + 1)
    return None


def iter_calls(sql: str, names: tuple[str, ...]):
    """Yield (start, open_paren, end, name_lower) for every call in code
    of a function in ``names`` (word-bounded, case-insensitive), left to
    right; the arguments of a yielded call are not searched."""
    alt = "|".join(names)
    if not re.search(rf"\b(?:{alt})", sql, re.IGNORECASE):
        return  # no name anywhere, so none in code: skip the masking
    pat = re.compile(rf"\b({alt})\s*\(", re.IGNORECASE)
    masked = mask(sql)
    m = pat.search(masked)
    while m:
        open_idx = m.end() - 1
        end = balanced_end(masked, open_idx)
        if end > 0:
            yield m.start(), open_idx, end, m.group(1).lower()
            m = pat.search(masked, end)
        else:
            m = pat.search(masked, m.start() + 1)
