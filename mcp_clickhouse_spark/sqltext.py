"""The one SQL lexer of the tool path.

Which characters of a statement are code, and which are quoted text or
comments, is decided here and nowhere else.  The read-only gate
(``readonly``), the ``system.*`` and table-function binders (``sources``)
and the ClickHouse dialect translator (``dialect``) all ask this module, so
they cannot disagree with each other about where a literal or a comment
ends.  A gate that ends a literal at a different quote than the engine
does checks a different statement from the one that runs.

The rules (ClickHouse syntax §comments and §string-literals):

- quoted spans: ``'…'`` and ``"…"`` take backslash escapes (``\\'``,
  ``\\\\``), except in Spark's raw literals ``r'…'`` / ``R"…"``; all three
  quote kinds (``'``, ``"``, backtick) take a doubled quote as an escape.
  An unterminated span runs to the end of the text;
- comments: ``--``, ``#!`` and ``#`` followed by whitespace run to the end
  of the line (the newline stays code); ``/* … */`` runs to its first
  ``*/``, or to the end of the text when unterminated.

Spark's lexer draws the same quoted spans.  It differs on comments in two
ways, both safe for a gate that reads this lexer: it nests ``/* */`` (so
this lexer sees more code than Spark, never less), and it has no ``#``
comment (a statement holding one fails Spark's parser before it runs).

:class:`Scan` reads a statement once and answers three questions about
any position: is it code, what is its bracket depth, and which bracket is
its partner.
"""

from __future__ import annotations

import re
from bisect import bisect_left, bisect_right
from functools import cached_property

QUOTE_CHARS = ("'", '"', "`")

# Every token that opens a quoted span or a comment, or changes depth.
_LEX = re.compile(r"['\"`()\[\]]|--|/\*|#(?=[!\s])")


def skip_quoted(s: str, i: int) -> int:
    """``s[i]`` is a quote char (``'``, ``"``, or a backtick): return the
    index just past the span's closing quote.  This is the quote rule of
    the module docstring; an unterminated span returns ``len(s)``, so a
    caller's balance check still fails loudly instead of mis-pairing."""
    q = s[i]
    n = len(s)
    escapes = q != "`" and not (
        i > 0
        and s[i - 1] in "rR"
        and (i == 1 or not (s[i - 2].isalnum() or s[i - 2] == "_"))
    )
    j = i + 1
    while j < n:
        ch = s[j]
        if ch == "\\" and escapes:
            j += 2
            continue
        if ch == q:
            if j + 1 < n and s[j + 1] == q:
                j += 2
                continue
            return j + 1
        j += 1
    return n


def _comment_end(s: str, i: int) -> int:
    """A comment opens at ``s[i]``: return the index just past it (a line
    comment stops before its newline)."""
    if s.startswith("/*", i):
        j = s.find("*/", i + 2)
        return len(s) if j == -1 else j + 2
    j = s.find("\n", i)
    return len(s) if j == -1 else j


class Scan:
    """One pass over ``sql``.

    ``quoted`` and ``comments`` list the ``(start, end)`` spans of each
    kind; every other character is code.  Brackets are ``(`` and ``[``;
    both count towards depth and pair on one stack.
    """

    def __init__(self, sql: str) -> None:
        self.sql = sql
        self.quoted: list[tuple[int, int]] = []
        self.comments: list[tuple[int, int]] = []
        self._starts: list[int] = []  # non-code span starts, ascending
        self._ends: list[int] = []
        self._marks: list[int] = []  # bracket positions, ascending
        self._depths: list[int] = []  # depth just after each bracket
        self._partner: dict[int, int] = {}
        stack: list[int] = []
        depth = 0
        i = 0
        while (m := _LEX.search(sql, i)) is not None:
            j = m.start()
            tok = m.group()
            if tok == "(" or tok == "[":
                stack.append(j)
                depth += 1
            elif tok == ")" or tok == "]":
                depth -= 1
                if stack:
                    o = stack.pop()
                    self._partner[o] = j
                    self._partner[j] = o
            else:
                if tok in QUOTE_CHARS:
                    end = skip_quoted(sql, j)
                    self.quoted.append((j, end))
                else:
                    end = _comment_end(sql, j)
                    self.comments.append((j, end))
                self._starts.append(j)
                self._ends.append(end)
                i = end
                continue
            self._marks.append(j)
            self._depths.append(depth)
            i = j + 1

    def code(self, pos: int) -> bool:
        """True unless ``pos`` lies in a quoted span (quotes included) or a
        comment."""
        k = bisect_right(self._starts, pos) - 1
        return k < 0 or pos >= self._ends[k]

    def depth(self, pos: int) -> int:
        """Brackets opened before ``pos`` minus brackets closed before it."""
        k = bisect_left(self._marks, pos)
        return self._depths[k - 1] if k else 0

    def partner(self, pos: int) -> int | None:
        """The bracket paired with the code bracket at ``pos``, else None."""
        return self._partner.get(pos)

    def top(self, pos: int) -> bool:
        """``pos`` is code at depth 0."""
        return self.code(pos) and self.depth(pos) == 0

    def end_of(self, pos: int) -> int:
        """``sql[pos]`` opens a bracket: the index just past its partner."""
        close = self._partner.get(pos)
        if close is None or close < pos:
            raise ValueError("unbalanced parentheses in SQL")
        return close + 1

    @cached_property
    def code_text(self) -> str:
        """``sql`` with every quoted span and comment blanked to spaces —
        the same length, so a regex match on it is a code match at the
        same position of ``sql``."""
        if not self._starts:
            return self.sql
        out: list[str] = []
        last = 0
        for s, e in zip(self._starts, self._ends):
            out.append(self.sql[last:s])
            out.append(" " * (e - s))
            last = e
        out.append(self.sql[last:])
        return "".join(out)


def strip_comments(sql: str) -> str:
    """Replace each comment with one space, so token boundaries survive
    (``a/*c*/b`` → ``a b``); quoted spans are left as they are."""
    comments = Scan(sql).comments
    if not comments:
        return sql
    out: list[str] = []
    last = 0
    for s, e in comments:
        out.append(sql[last:s])
        out.append(" ")
        last = e
    out.append(sql[last:])
    return "".join(out)


def find_balanced(sql: str, start: int) -> int:
    """``sql[start] == '('``: return the index just past its matching
    ``)``.  Quoted spans are opaque."""
    depth = 0
    i = start
    while i < len(sql):
        ch = sql[i]
        if ch in QUOTE_CHARS:
            i = skip_quoted(sql, i)
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    raise ValueError("unbalanced parentheses in SQL")


def split_args(argstr: str) -> list[str]:
    """Split a top-level argument list on commas; quoted spans and
    bracketed groups are opaque."""
    args: list[str] = []
    depth = 0
    cur: list[str] = []
    i, n = 0, len(argstr)
    while i < n:
        ch = argstr[i]
        if ch in QUOTE_CHARS:
            j = skip_quoted(argstr, i)
            cur.append(argstr[i:j])
            i = j
            continue
        if ch in "([":
            depth += 1
            cur.append(ch)
        elif ch in ")]":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    tail = "".join(cur).strip()
    if tail:
        args.append(tail)
    return args
