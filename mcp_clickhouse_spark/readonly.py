"""Read-only statement classification (SURVEY.md §2.1 A11).

The reference enforces read-only at the engine-settings layer:
``client.query(query, settings={"readonly": 1})`` (reference
mcp_clickhouse/mcp_server.py:424-425, :483-510; README.md:23 "All ClickHouse
queries are run with readonly = 1"). Spark has no readonly knob, so the
guarantee moves to a statement classifier: only query-shaped statements are
allowed through; DDL/DML/anything else is rejected BEFORE reaching the
engine with the reference's error shape ("Query execution failed: …",
mcp_server.py:430).

Two layers, each of which rejects a write on its own:

- a lexical classifier (``check_read_only``) that needs no session: a
  first-keyword check plus a paren-depth-0 write-verb scan that closes the
  ``WITH … INSERT`` CTE bypass.  Which characters are code comes from
  :mod:`mcp_clickhouse_spark.sqltext`, the lexer the dialect translator
  uses too, so the gate checks the statement the engine will run;
- a parser-backed gate (``check_read_only_plan``) that asks Spark's own SQL
  parser for the statement's plan class, looking through the
  ``UnresolvedWith`` node a CTE prologue wraps around any statement, and
  rejects every class on its write list.  A statement class missing from
  that list passes this layer, so the two layers back each other up.
"""

from __future__ import annotations

import re

from mcp_clickhouse_spark.sqltext import Scan, strip_comments

_ALLOWED_FIRST = {
    "select",
    "with",
    "values",
    "show",
    "describe",
    "desc",
    "explain",
    "table",  # `TABLE t` is query-shaped in Spark SQL
    # CH `EXISTS [TEMPORARY] [TABLE|DICTIONARY|DATABASE] name` is a
    # read-only introspection statement (round 17, wave O) — answered
    # natively from the catalog in tools._execute, never sent to
    # Spark's parser (which has no EXISTS statement)
    "exists",
}

_FORBIDDEN_ANYWHERE_FIRST = {
    "insert",
    "update",
    "delete",
    "merge",
    "create",
    "alter",
    "drop",
    "truncate",
    "replace",
    "grant",
    "revoke",
    "set",
    "reset",
    "use",
    "cache",
    "uncache",
    "clear",
    "add",
    "remove",
    "refresh",
    "msck",
    "analyze",
    "optimize",
    "vacuum",
    "copy",
    "load",
    "import",
    "export",
    "call",
    "start",
    "commit",
    "rollback",
    "attach",
    "detach",
    "kill",
    "system",
    "rename",
    "exchange",
    "undrop",
}


class ReadOnlyViolation(Exception):
    """Raised when a statement is not read-only."""


def first_keyword(sql: str) -> str:
    cleaned = strip_comments(sql).strip().lstrip("(").strip()
    m = re.match(r"[A-Za-z_]+", cleaned)
    return m.group(0).lower() if m else ""


# Write verbs Spark SQL accepts AFTER a CTE prologue (`WITH s AS (...)
# INSERT INTO t SELECT ...`).  In a pure query these can never appear at
# paren-depth 0 (subqueries are parenthesized), so any depth-0 occurrence
# means the statement writes, whatever its first keyword was.
_FORBIDDEN_AT_DEPTH0 = {
    "insert",
    "update",
    "delete",
    "merge",
    "replace",
    "create",
    "drop",
    "alter",
    "truncate",
    "copy",
    "load",
    "vacuum",
    "optimize",
}

_WORD_RE = re.compile(r"[A-Za-z_]+")
_CALL_PAREN = re.compile(r"\s*\(")


def _depth0_forbidden(sc: Scan) -> str | None:
    """Return the first forbidden write verb at paren-depth 0, else None.

    Only code counts: quoted spans and comments are blanked.  Closes
    the CTE bypass: `WITH s AS (SELECT 1) INSERT INTO t SELECT * FROM s`
    starts with an allowed keyword but carries INSERT at depth 0.  An
    unquoted identifier that collides with a write verb at depth 0 is
    rejected too (backtick-quote it; quoted identifiers are masked).

    A verb whose next non-space character is ``(`` is a FUNCTION CALL, not a
    statement (``SELECT replace(col, 'a', 'b')`` — the reference allows it
    under readonly=1; advisor round-2 finding), and is skipped.  Real write
    statements never parenthesize their verb's first operand (`INSERT INTO`,
    `REPLACE TABLE`, `DELETE FROM`), and the parser-backed plan gate below
    backstops any lexical false-negative.
    """
    cleaned = sc.code_text
    for m in _WORD_RE.finditer(cleaned):
        word = m.group(0).lower()
        if word in _FORBIDDEN_AT_DEPTH0 and sc.depth(m.start()) <= 0:
            if _CALL_PAREN.match(cleaned, m.end()):
                continue  # function call, not a statement verb
            return word
    return None


def check_read_only(sql: str) -> None:
    """Raise ReadOnlyViolation unless `sql` is a single read-only statement."""
    sc = Scan(sql)
    # Reject multi-statement batches: any ';' followed by more content
    # (quoted spans and comments are blanked, so a ';' inside one doesn't
    # count).
    tail = sc.code_text.split(";", 1)
    if len(tail) == 2 and tail[1].strip():
        raise ReadOnlyViolation("multi-statement queries are not allowed")
    kw = first_keyword(sql)
    if not kw:
        raise ReadOnlyViolation("empty query")
    if kw in _FORBIDDEN_ANYWHERE_FIRST:
        raise ReadOnlyViolation(f"statement type '{kw.upper()}' is not allowed (readonly)")
    if kw not in _ALLOWED_FIRST:
        raise ReadOnlyViolation(f"unrecognized statement '{kw.upper()}' rejected (readonly)")
    # Depth-0 write-verb scan (covers EXPLAIN payloads too — planning a
    # write is rejected the same as running one, matching the first-keyword
    # policy below).  SHOW/DESCRIBE statements are metadata reads whose
    # grammar legitimately embeds write verbs (`SHOW CREATE TABLE t`) and
    # cannot write — exempt (advisor round-2 finding).
    if kw not in {"show", "describe", "desc"}:
        bad = _depth0_forbidden(sc)
        if bad is not None:
            raise ReadOnlyViolation(
                f"write statement '{bad.upper()}' is not allowed (readonly)"
            )
    if kw == "explain":
        # EXPLAIN <write-statement> still plans the write — check the payload.
        payload = re.sub(
            r"^\s*explain\s+(extended\s+|codegen\s+|cost\s+|formatted\s+"
            # ClickHouse EXPLAIN kinds (round 7; dialect maps them to the
            # Spark modes) are mode words, not the payload statement
            r"|analyze\s+|ast\s+|syntax\s+|plan\s+|pipeline\s+|estimate\s+"
            r"|query\s+tree\s+)*",
            "",
            strip_comments(sql).strip(),
            flags=re.IGNORECASE,
        )
        inner = first_keyword(payload)
        if inner and inner not in _ALLOWED_FIRST:
            raise ReadOnlyViolation(
                f"EXPLAIN of non-read-only statement '{inner.upper()}' rejected"
            )


# Logical-plan root classes that mean "this statement writes or mutates
# state".  Statement-level parse nodes (Catalyst `parsePlan` output), not
# resolved physical plans, so the names are stable across Spark versions.
_WRITE_PLAN_RE = re.compile(
    r"^(InsertInto|DeleteFrom|UpdateTable|MergeInto|CreateTable|ReplaceTable"
    r"|DropTable|AlterTable|TruncateTable|CreateView|AlterView|DropView"
    r"|CacheTable|UncacheTable|ClearCache|SetCommand|ResetCommand|SetNamespace"
    r"|CreateNamespace|DropNamespace|AddJar|AddFile|AddArchive|LoadData"
    r"|AnalyzeTable|AnalyzeColumn|RepairTable|RenameTable|SetCatalog"
    r"|RefreshTable|RefreshFunction|RefreshResource|CreateFunction|DropFunction"
    r"|CreateIndex|DropIndex|CommentOn|SetTableProperties|UnsetTableProperties)"
)


def check_read_only_plan(spark, sql: str) -> None:
    """Parser-backed read-only gate (defense in depth over check_read_only).

    Asks Spark's own SQL parser for the statement's logical-plan root and
    rejects write/DDL shapes — immune to lexical edge cases by construction
    (the parser, not a regex, decides what the statement *is*).  A statement
    that fails to parse is passed through: ``spark.sql`` will raise the
    identical parse error moments later, keeping the error contract intact.
    """
    try:
        jplan = spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
    except Exception:  # noqa: BLE001 — parse errors surface from spark.sql itself
        return
    cls = jplan.getClass().getSimpleName()
    # `WITH … <statement>` parses to UnresolvedWith over the statement
    while cls == "UnresolvedWith":
        jplan = jplan.child()
        cls = jplan.getClass().getSimpleName()
    if _WRITE_PLAN_RE.match(cls):
        raise ReadOnlyViolation(
            f"statement plans a write ({cls}) and is not allowed (readonly)"
        )
