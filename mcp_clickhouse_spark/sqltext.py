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
_COMMA_OR_OPEN = re.compile(r"[,(\[]")


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

    def span(self, pos: int) -> tuple[int, int]:
        """``pos`` lies in a quoted span or a comment: that span's
        ``(start, end)``."""
        k = bisect_right(self._starts, pos) - 1
        return self._starts[k], self._ends[k]

    def top(self, pos: int) -> bool:
        """``pos`` is code at depth 0."""
        return self.code(pos) and self.depth(pos) == 0

    def end_of(self, pos: int) -> int:
        """``sql[pos]`` opens a bracket: the index just past its partner."""
        close = self._partner.get(pos)
        if close is None or close < pos:
            raise ValueError("unbalanced parentheses in SQL")
        return close + 1

    def args(self, lo: int, hi: int) -> list[str]:
        """Split ``sql[lo:hi]`` on its commas at the depth of ``lo``, each
        part stripped; an empty last part is dropped."""
        sql = self.sql
        base = self.depth(lo)
        out: list[str] = []
        start = i = lo
        while (m := _COMMA_OR_OPEN.search(sql, i, hi)) is not None:
            j = m.start()
            if not self.code(j):
                i = self.span(j)[1]
            elif sql[j] != ",":
                close = self._partner.get(j)
                i = close + 1 if close is not None and close < hi else j + 1
            else:
                if self.depth(j) == base:
                    out.append(sql[start:j].strip())
                    start = j + 1
                i = j + 1
        tail = sql[start:hi].strip()
        if tail:
            out.append(tail)
        return out

    def word_before(self, pos: int) -> tuple[int, str]:
        """Skip whitespace back from ``pos``: the index ``k`` of the first
        other character (-1 at the start of the text) and the identifier
        that ends at ``k`` (``""`` when ``sql[k]`` is no word character)."""
        sql = self.sql
        k = pos - 1
        while k >= 0 and sql[k].isspace():
            k -= 1
        j = k
        while j >= 0 and (sql[j].isalnum() or sql[j] == "_"):
            j -= 1
        return k, sql[j + 1 : k + 1]

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


def split_args(argstr: str) -> list[str]:
    """Split a top-level argument list on commas; quoted spans and
    bracketed groups are opaque."""
    return Scan(argstr).args(0, len(argstr))
