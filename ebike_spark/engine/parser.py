"""Lightweight statement front-end.

Architecture mirrors the reference: its own code only *classifies* and
implements DDL/DML/SHOW/session statements, while every SELECT is handed
wholesale to the query engine (ebike → DataFusion,
/root/reference/src/execute_impl/select.rs:41-81; here → Spark SQL,
which parses/plans it natively). So this parser only understands the
statement shapes ebike itself implements
(/root/reference/src/core/execution.rs:894-1279) — not full SQL.

The "fix pass" (/root/reference/src/core/execution.rs:157-333) maps to:
identifier lowercasing (Spark is case-insensitive by default), dual/
no-FROM selects (Spark supports SELECT without FROM natively), and
variable substitution (``@@x`` / ``@x`` replaced with literals before
Spark sees the text — Spark has no MySQL variable syntax;
reference: /root/reference/src/variable/system.rs:40-67).

Every text pass reads the tokens of one MySQL lexer, :func:`lex`:
comment stripping, the statement and comma splits, clause keywords,
variable substitution, the dialect rewrites (:func:`rewrite_dialect`),
the system-table binding, placeholders and the VALUES parse. None of
them can fire inside a string literal, a quoted identifier or a
comment, and none has a string rule of its own.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import lru_cache

# MySQL's tokens, one alternative per kind, tried in this order. A
# string takes backslash and doubled-quote escapes; "…" is a string,
# as in MySQL and in Spark with ANSI off. `--` opens a comment only
# before whitespace or the end (MySQL: `5--3` is a double negation);
# `#` runs to the end of the line. A quote with no closing quote is
# punctuation.
_TOKEN = re.compile(
    r"(?P<space>\s+)"
    r"|(?P<comment>--(?=[ \t\r\n]|\Z)[^\n]*|\#[^\n]*|/\*[\s\S]*?(?:\*/|\Z))"
    r"|(?P<string>'[^'\\]*(?:(?:\\[\s\S]|'')[^'\\]*)*'|\"[^\"\\]*(?:(?:\\[\s\S]|\"\")[^\"\\]*)*\")"
    r"|(?P<ident>`[^`]*(?:``[^`]*)*`)"
    r"|(?P<var>@@(?:(?:global|session)\.)?[A-Za-z_][A-Za-z0-9_]*|@[A-Za-z_][A-Za-z0-9_]*)"
    r"|(?P<number>(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?)"
    r"|(?P<word>[\w$]+)"
    r"|(?P<param>\?)"
    r"|(?P<punct>[\s\S])",
    re.I,
)


@lru_cache(maxsize=8)
def lex(sql: str) -> tuple[tuple[str, int, int], ...]:
    """The tokens of ``sql`` as ``(kind, start, end)``: kind is space,
    comment, string, ident (backtick-quoted), var (``@x``, ``@@x``,
    ``@@global.x``), number, word, param (``?``) or punct (one
    character). The spans cover the text end to end. Every text pass
    of the engine reads these tokens, so none of them can fire inside a
    literal, an identifier or a comment. The last few texts are
    remembered: a statement's passes usually hand each other the same
    text."""
    return tuple((m.lastgroup, *m.span()) for m in _TOKEN.finditer(sql))


def code_tokens(sql: str) -> list[tuple[str, int, int]]:
    """The tokens of ``sql`` that are neither whitespace nor comments."""
    return [t for t in lex(sql) if t[0] != "space" and t[0] != "comment"]


def _is(sql: str, tok: tuple[str, int, int], chars: str) -> bool:
    """Is ``tok`` one of the punctuation characters ``chars``?"""
    return tok[0] == "punct" and sql[tok[1]] in chars


def splice(sql: str, edits: list[tuple[int, int, str]]) -> str:
    """``sql`` with each ``(start, end, text)`` span, in text order,
    replaced by its text."""
    if not edits:
        return sql
    out, last = [], 0
    for a, b, text in edits:
        out += [sql[last:a], text]
        last = b
    out.append(sql[last:])
    return "".join(out)


def strip_comments(sql: str) -> str:
    """``sql`` with each comment replaced by a space. A ``-`` right
    before another ``-`` gains a space, so that Spark, which reads
    ``--`` as a comment anywhere, still sees ``5--3`` as a double
    negation."""
    return splice(sql, [
        (a, b, " ") if kind == "comment" else (b, b, " ")
        for kind, a, b in lex(sql)
        if kind == "comment" or (kind == "punct" and sql.startswith("--", a))
    ])


def string_value(text: str) -> str | None:
    """The value of ``text`` when it is one string literal, else None.
    A doubled quote is a quote; a backslash escapes the next character,
    and ``\\n``, ``\\t``, ``\\r``, ``\\b``, ``\\0`` and ``\\Z`` name
    control characters (``\\%`` and ``\\_`` keep their backslash)."""
    code = code_tokens(text)
    if len(code) != 1 or code[0][0] != "string":
        return None
    _, a, b = code[0]
    q = text[a]
    return re.sub(r"\\([\s\S])|" + q + q, lambda m: _UNESCAPE.get(m.group(1), m.group(1) or q), text[a + 1 : b - 1])


_UNESCAPE = {"0": "\0", "b": "\b", "n": "\n", "r": "\r", "t": "\t", "Z": "\x1a", "%": "\\%", "_": "\\_"}


def leading_string(text: str) -> tuple[str | None, str]:
    """The value of the string literal ``text`` starts with (None if it
    starts with anything else) and the text after it."""
    code = code_tokens(text)
    if not code or code[0][0] != "string":
        return None, text
    return string_value(text[: code[0][2]]), text[code[0][2] :]


def _split(sql: str, toks: list[tuple[str, int, int]], sep: str) -> list[list[tuple[str, int, int]]]:
    """``toks`` cut at each ``sep`` punctuation outside parentheses."""
    parts: list[list[tuple[str, int, int]]] = [[]]
    depth = 0
    for t in toks:
        if t[0] == "punct":
            ch = sql[t[1]]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == sep and depth == 0:
                parts.append([])
                continue
        parts[-1].append(t)
    return parts


def _text(sql: str, toks: list[tuple[str, int, int]]) -> str:
    """The text ``toks`` span, stripped."""
    return sql[toks[0][1] : toks[-1][2]].strip() if toks else ""


def _code_ends(toks: list[tuple[str, int, int]]) -> list[tuple[str, int, int]]:
    """``toks`` without the spaces at either end."""
    code = [i for i, t in enumerate(toks) if t[0] != "space"]
    return toks[code[0] : code[-1] + 1] if code else []


def _texts(sql: str, parts: list[list[tuple[str, int, int]]]) -> list[str]:
    """Each part's text; an empty last part is dropped."""
    texts = [_text(sql, p) for p in parts]
    return texts[:-1] if texts and not texts[-1] else texts


def split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on sep outside quotes/parens (for VALUES rows, column defs)."""
    return _texts(s, _split(s, lex(s), sep))


def split_statements(sql: str) -> list[str]:
    """The statements of a ;-separated script, comments stripped and
    empty statements left out."""
    return [s for s in split_top_level(strip_comments(sql), ";") if s]


def _close(sql: str, toks: list[tuple[str, int, int]], i: int) -> int:
    """Index of the token that closes the parenthesis ``toks[i]``, or
    ``len(toks)`` if none does."""
    depth = 0
    for j in range(i, len(toks)):
        if _is(sql, toks[j], "()"):
            depth += 1 if sql[toks[j][1]] == "(" else -1
            if depth == 0:
                return j
    return len(toks)


def _keywords(sql: str, toks: list[tuple[str, int, int]], keywords: tuple[str, ...]) -> list[tuple[str, int, int]]:
    """(keyword, start, end) of each of ``keywords`` among ``toks``
    outside parentheses, in text order. The words of a multi-word
    keyword ("ORDER BY") may be apart by any whitespace."""
    code = [t for t in toks if t[0] != "space"]
    phrases = [(kw, kw.split()) for kw in keywords]
    found: list[tuple[str, int, int]] = []
    depth, k = 0, 0
    while k < len(code):
        kind, a, _ = code[k]
        k += 1
        if kind == "punct" and sql[a] in "()":
            depth += 1 if sql[a] == "(" else -1
        elif kind == "word" and depth == 0:
            for kw, words in phrases:
                seg = code[k - 1 : k - 1 + len(words)]
                if len(seg) == len(words) and all(
                    t[0] == "word" and sql[t[1] : t[2]].upper() == w for t, w in zip(seg, words)
                ):
                    found.append((kw, a, seg[-1][2]))
                    k += len(words) - 1
                    break
    return found


def find_top_level_keywords(s: str, keywords: tuple[str, ...]) -> list[tuple[str, int, int]]:
    """Locate top-level clause keywords — outside literals, identifiers
    and parentheses — as (keyword, start, end) spans in text order.
    ``WHERE msg = 'a order by b'`` never splits inside the literal."""
    return _keywords(s, lex(s), keywords)


def _clauses(sql: str, toks: list[tuple[str, int, int]], keywords: tuple[str, ...]):
    """``toks`` split into the tokens before the first of ``keywords``
    and the text of each keyword's clause."""
    spans = _keywords(sql, toks, keywords)
    order = {kw: k for k, kw in enumerate(keywords)}
    last = -1
    for kw, _, _ in spans:
        if order[kw] <= last:
            raise ValueError(f"misplaced {kw} clause")
        last = order[kw]
    end = toks[-1][2] if toks else 0
    clauses: dict[str, str] = {}
    for k, (kw, _, kw_end) in enumerate(spans):
        body = sql[kw_end : spans[k + 1][1] if k + 1 < len(spans) else end].strip()
        if not body:
            # a dangling keyword ('DELETE FROM t WHERE') must be a parse
            # error — an empty WHERE body is falsy downstream and would
            # silently turn a malformed statement into a FULL-TABLE op
            raise ValueError(f"empty {kw} clause")
        clauses[kw] = body
    head_end = spans[0][1] if spans else end
    return [t for t in toks if t[2] <= head_end], clauses


def split_tail_clauses(tail: str, keywords: tuple[str, ...]) -> tuple[str, dict[str, str]]:
    """Split ``tail`` into a head plus trailing clauses introduced by
    ``keywords`` (quote/paren-aware). Clauses must appear in the given
    order, each at most once; out-of-order or duplicate keywords raise
    (malformed statement — e.g. ``WHERE x LIMIT 1 WHERE y``)."""
    head, clauses = _clauses(tail, lex(tail), keywords)
    return _text(tail, head), clauses


def sql_literal(v: object) -> str:
    """Render a Python value as a Spark SQL literal. Spark's default
    (non-ANSI) lexer treats backslash as an escape inside string
    literals, so BOTH backslashes and quotes must be escaped — quote
    doubling alone lets a value ending in a backslash break out of the
    literal (injection through the parameter channel)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        return "X'" + bytes(v).hex() + "'"
    return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"


def substitute_vars(
    sql: str,
    sys_vars: dict[str, object],
    user_vars: dict[str, object],
    global_vars: dict[str, object] | None = None,
) -> str:
    """Replace @@[scope.]sys and @user variables with literals, outside
    quotes. ``@@GLOBAL.x`` reads the shared global scope when provided;
    ``@@x`` / ``@@SESSION.x`` read the session scope (MySQL semantics)."""
    edits = []
    for kind, a, b in lex(sql):
        if kind == "var":
            name = sql[a:b].lstrip("@").lower()
            if sql.startswith("@@", a):
                scope, _, name = name.rpartition(".")
                scopes = [global_vars, sys_vars] if scope == "global" and global_vars is not None else [sys_vars]
                v = next((s[name] for s in scopes if name in s), None)
            else:
                v = user_vars.get(name)
            edits.append((a, b, sql_literal(v)))
    return splice(sql, edits)


# words that end a SELECT list
_LIST_END = frozenset("FROM WHERE GROUP HAVING ORDER LIMIT WINDOW UNION EXCEPT INTERSECT MINUS INTO".split())


def rewrite_dialect(sql: str, last_insert_id: int) -> str:
    """MySQL forms Spark lacks, rewritten outside literals, identifiers
    and comments: GROUP_CONCAT → listagg, DATE_FORMAT / STR_TO_DATE with
    a %-format → date_format / to_timestamp with a java pattern, FIELD →
    array_position, ``database()`` → current_database(),
    ``LAST_INSERT_ID()`` → the number ``last_insert_id``, ``FROM dual`` → nothing,
    ``LIMIT a, b`` → ``LIMIT b OFFSET a``, and a leading EXPLAIN
    VERBOSE / ANALYZE → EXPLAIN EXTENDED / COST. A rewritten call's
    arguments are rewritten too; a ``database()`` or
    ``LAST_INSERT_ID()`` that is a whole SELECT-list item keeps its
    MySQL column label. Raises ValueError on a malformed call. Not
    idempotent: a rewritten format is a java pattern, which a second
    pass would misread."""
    code = code_tokens(sql)
    n = len(code)

    def word(k: int) -> str:
        return sql[code[k][1] : code[k][2]].upper() if 0 <= k < n and code[k][0] == "word" else ""

    def rw(text: str) -> str:
        return rewrite_dialect(text, last_insert_id)

    edits = []
    select = [False]  # per parenthesis depth: inside a SELECT list
    k = 0
    while k < n:
        kind, a, b = code[k]
        if kind != "word":
            if _is(sql, code[k], "("):
                select.append(False)
            elif _is(sql, code[k], ")") and len(select) > 1:
                select.pop()
            k += 1
            continue
        w = sql[a:b].upper()
        select[-1] = w == "SELECT" or (select[-1] and w not in _LIST_END)
        if (w in _CALLS or w in _NO_ARGS) and k + 1 < n and _is(sql, code[k + 1], "("):
            close = _close(sql, code, k + 1)
            if close == n:
                raise ValueError(f"unbalanced parentheses in {w}")
            args = sql[code[k + 1][2] : code[close][1]]
            if w in _CALLS:
                new = _CALLS[w](w, args, rw)
            elif args.strip():
                k += 1
                continue
            else:
                new = "current_database()" if w == "DATABASE" else str(last_insert_id)
                after = close + 1 == n or _is(sql, code[close + 1], ",;)") or word(close + 1) in _LIST_END
                if select[-1] and after and (word(k - 1) in ("SELECT", "DISTINCT", "ALL") or _is(sql, code[k - 1], ",")):
                    new += f" AS `{sql[a : code[close][2]]}`"
            edits.append((a, code[close][2], new))
            k = close + 1
        elif w == "FROM" and word(k + 1) == "DUAL":
            edits.append((a, code[k + 1][2], ""))
            k += 2
        elif w == "LIMIT" and k + 3 < n and _is(sql, code[k + 2], ",") and all(
            code[j][0] == "number" and sql[code[j][1] : code[j][2]].isdigit() for j in (k + 1, k + 3)
        ):
            off, cnt = (sql[code[j][1] : code[j][2]] for j in (k + 1, k + 3))
            edits.append((a, code[k + 3][2], f"LIMIT {cnt} OFFSET {off}"))
            k += 4
        elif k == 0 and w == "EXPLAIN" and word(1) in ("VERBOSE", "ANALYZE"):
            edits.append((code[1][1], code[1][2], "EXTENDED" if word(1) == "VERBOSE" else "COST"))
            k += 2
        else:
            k += 1
    return splice(sql, edits)


def _group_concat(name: str, args: str, rw) -> str:
    """MySQL ``GROUP_CONCAT([DISTINCT] expr[, expr...] [ORDER BY ...]
    [SEPARATOR 'sep'])`` → Spark ``listagg([DISTINCT] expr, 'sep')
    [WITHIN GROUP (ORDER BY ...)]`` (beyond-reference: DataFusion 6.0
    has no GROUP_CONCAT either, but a MySQL-dialect user reaches for it
    constantly). The multi-expr form concatenates per row exactly as
    MySQL does (``concat`` matches MySQL's any-NULL→NULL row semantics,
    and both engines then skip NULL rows). Spark's listagg restriction
    stands: DISTINCT with a WITHIN GROUP key other than the expr itself
    errors — same statements MySQL itself warns on and reorders."""
    sep = "','"
    seps = find_top_level_keywords(args, ("SEPARATOR",))
    if len(seps) > 1:
        raise ValueError("duplicate SEPARATOR clause in GROUP_CONCAT")
    if seps:
        # SEPARATOR takes exactly one string literal: anything trailing
        # it (a misplaced ORDER BY, stray tokens) is a parse error
        sep = args[seps[0][2] :].strip()
        if string_value(sep) is None:
            raise ValueError("SEPARATOR must be followed by a single string literal")
        args = args[: seps[0][1]]
    orders = find_top_level_keywords(args, ("ORDER BY",))
    if len(orders) > 1:
        raise ValueError("duplicate ORDER BY clause in GROUP_CONCAT")
    order_by = args[orders[0][2] :].strip() if orders else None
    args = args[: orders[0][1]].strip() if orders else args.strip()
    distinct = ""
    dm = re.match(r"DISTINCT\b", args, re.I)
    if dm:
        distinct = "DISTINCT "
        args = args[dm.end() :].strip()
    exprs = [rw(e) for e in split_top_level(args)]
    if not exprs or not all(exprs):
        raise ValueError("GROUP_CONCAT expects an expression")
    body = exprs[0] if len(exprs) == 1 else f"concat({', '.join(exprs)})"
    out = f"listagg({distinct}{body}, {sep})"
    return out + f" WITHIN GROUP (ORDER BY {rw(order_by)})" if order_by else out


def _datetime_fn(name: str, args: str, rw) -> str:
    """MySQL ``DATE_FORMAT(expr, '%…')`` → Spark ``date_format(expr,
    'java-pattern')`` and ``STR_TO_DATE(str, '%…')`` → ``to_timestamp(
    str, 'java-pattern')``. The format must be a string literal — a
    non-literal format (rare and MySQL-dynamic) raises cleanly.
    STR_TO_DATE maps to a TIMESTAMP (MySQL returns DATE when no time
    parts appear; CAST the result where date semantics matter)."""
    parts = split_top_level(args)
    if len(parts) != 2:
        raise ValueError(f"{name} expects 2 arguments")
    fmt = string_value(parts[1])
    if fmt is None:
        raise ValueError(f"{name} format must be a string literal")
    fn = "date_format" if name == "DATE_FORMAT" else "to_timestamp"
    return f"{fn}({rw(parts[0])}, {sql_literal(translate_mysql_datetime_format(fmt))})"


def _field(name: str, args: str, rw) -> str:
    """MySQL ``FIELD(expr, e1, e2, ...)`` → Spark
    ``coalesce(array_position(array(e1, ...), expr), 0)`` — Spark has
    no native field(); array_position is 1-based with 0 for not-found
    exactly like FIELD, and the coalesce maps Spark's NULL-expr result
    to MySQL's 0."""
    parts = [rw(p) for p in split_top_level(args)]
    if len(parts) < 2:
        raise ValueError("FIELD expects at least 2 arguments")
    return f"coalesce(array_position(array({', '.join(parts[1:])}), {parts[0]}), 0)"


# the calls rewritten with their arguments, and the ones rewritten only
# without: MySQL's database() and LAST_INSERT_ID() (this session's
# last minted auto id)
_CALLS = {"GROUP_CONCAT": _group_concat, "DATE_FORMAT": _datetime_fn, "STR_TO_DATE": _datetime_fn, "FIELD": _field}
_NO_ARGS = {"DATABASE", "LAST_INSERT_ID"}


def unquote_ident(ident: str) -> str:
    ident = ident.strip()
    if ident[:1] in "`\"" and ident[-1:] == ident[:1]:
        ident = ident[1:-1]
    return ident.lower()  # MySQL case-insensitivity (execution.rs:509-520)


# ---------------------------------------------------------------- DDL shapes


@dataclass
class ColumnDef:
    name: str
    sql_type: str  # declared type keyword, upper (INT, VARCHAR, DECIMAL, ...)
    nullable: bool
    auto_increment: bool = False
    # declared (p[,s]) argument: carried for DECIMAL/NUMERIC (exact
    # DecimalType), a display width everywhere else (ignored)
    precision: int | None = None
    scale: int | None = None


@dataclass
class CreateTable:
    table: str  # possibly db-qualified
    columns: list[ColumnDef]
    primary_key: list[str] = field(default_factory=list)
    uniques: list[tuple[str, list[str]]] = field(default_factory=list)  # (name, cols)
    indexes: list[tuple[str, list[str]]] = field(default_factory=list)  # KEY (cluster)
    if_not_exists: bool = False


@dataclass
class Insert:
    table: str
    columns: list[str]  # empty = all
    rows: list[list[str]]  # raw expression strings
    kinds: list[list[tuple[str, ...]]]  # each cell's token kinds (lex), inner spaces kept
    # MySQL upsert clause: [(col, raw expr)] — exprs may reference the
    # existing row's columns and VALUES(col) for the incoming value
    on_dup_update: list[tuple[str, str]] | None = None
    # REPLACE INTO: delete key-conflicting rows, then insert
    replace: bool = False
    # INSERT IGNORE: skip key-conflicting rows instead of erroring 1062
    ignore: bool = False


@dataclass
class Update:
    table: str
    assignments: list[tuple[str, str]]  # (col, raw expr)
    where: str | None
    order_by: str | None = None  # raw ORDER BY expression list
    limit: int | None = None


@dataclass
class Delete:
    table: str
    where: str | None
    order_by: str | None = None  # raw ORDER BY expression list
    limit: int | None = None


_TYPE_RE = (
    r"(TINYINT|SMALLINT|MEDIUMINT|INTEGER|INT|FLOAT|CHAR|VARCHAR|DOUBLE"
    r"|BIGINT|TEXT|DATETIME|DATE|TIMESTAMP|BOOLEAN|DECIMAL|NUMERIC)"
)  # longest-first where one name prefixes another (INT/INTEGER, DATE/DATETIME)


# a table option CREATE TABLE accepts after its column list; COMMENT's
# string literal follows the match
_TABLE_OPTION = re.compile(r"\s+(?:(?:ENGINE|DEFAULT\s+CHARSET|COLLATE)\s*=\s*\w+|(COMMENT)\s*=\s*)", re.I)


def _table_options_only(sql: str, pos: int) -> bool:
    """Is ``sql`` from ``pos`` on only table options (and a ``;``)?"""
    while m := _TABLE_OPTION.match(sql, pos):
        comment, rest = leading_string(sql[m.end() :]) if m.group(1) else ("", sql[m.end() :])
        if comment is None:
            return False
        pos = len(sql) - len(rest)
    return re.fullmatch(r"\s*;?\s*", sql[pos:]) is not None


def parse_create_table(sql: str) -> CreateTable:
    # trailing MySQL table options (ENGINE=..., DEFAULT CHARSET=...) are
    # accepted and ignored — the reference resolves only engine=sled
    # (/root/reference/src/store/engine/engine_util.rs:48-60); here the
    # engine is always parquet.
    m = re.match(r"\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.`\"]+)\s*(?=\()", sql, re.I)
    code = [t for t in code_tokens(sql) if m and t[1] >= m.end()]
    close = _close(sql, code, 0)
    if not m or close == len(code) or not _table_options_only(sql, code[close][2]):
        raise ValueError("malformed CREATE TABLE")
    ine, name, body = bool(m.group(1)), unquote_ident(m.group(2)), sql[code[0][2] : code[close][1]]
    ct = CreateTable(table=name, if_not_exists=ine, columns=[])
    for item in split_top_level(body):
        pk = re.match(r"PRIMARY\s+KEY\s*\((.*)\)\s*$", item, re.I | re.S)
        if pk:
            ct.primary_key = [unquote_ident(c) for c in split_top_level(pk.group(1))]
            continue
        uq = re.match(r"(?:CONSTRAINT\s+([\w`\"]+)\s+)?UNIQUE(?:\s+KEY|\s+INDEX)?\s*(?:([\w`\"]+)\s*)?\((.*)\)\s*$", item, re.I | re.S)
        if uq:
            cols = [unquote_ident(c) for c in split_top_level(uq.group(3))]
            uname = unquote_ident(uq.group(1) or uq.group(2) or "_".join(cols))
            ct.uniques.append((uname, cols))
            continue
        # plain KEY/INDEX item → clustering index (same semantics as
        # CREATE INDEX), so SHOW CREATE TABLE output round-trips.
        # The name is optional, as in MySQL (auto-named after the first
        # column below, once all names are known).
        kx = re.match(
            r"(?:KEY|INDEX)\s*(?:([\w`\"]+)\s*)?\((.*)\)\s*$", item, re.I | re.S
        )
        if kx:
            cols = [unquote_ident(c) for c in split_top_level(kx.group(2))]
            # every entry must be a column IDENTIFIER — this is what
            # separates `KEY ix (a)` from a column def using the
            # reserved word, e.g. `key INT(11)`, which MySQL rejects
            # as a syntax error (not an unknown-column 1072)
            if not cols or not all(
                re.fullmatch(r"[A-Za-z_]\w*", c) for c in cols
            ):
                raise ValueError(f"malformed KEY definition: {item!r}")
            name = unquote_ident(kx.group(1)) if kx.group(1) else None
            ct.indexes.append((name, cols))
            continue
        cm = re.match(
            rf"([\w`\"]+)\s+{_TYPE_RE}(?:\s*\(\s*(\d+)(?:\s*,\s*(\d+))?\s*\))?(.*)$",
            item,
            re.I | re.S,
        )
        if not cm:
            raise ValueError(f"malformed column definition: {item!r}")
        cname = unquote_ident(cm.group(1))
        ctype = cm.group(2).upper()
        prec = int(cm.group(3)) if cm.group(3) else None
        scal = int(cm.group(4)) if cm.group(4) else None
        rest = cm.group(5) or ""
        # Reference quirk: nullable only with explicit NULL option
        # (/root/reference/src/meta/meta_def.rs:391-393); we use the
        # saner NOT NULL ⇒ required, otherwise nullable.
        nullable = not re.search(r"NOT\s+NULL", rest, re.I)
        if re.search(r"PRIMARY\s+KEY", rest, re.I):
            ct.primary_key = [cname]
            nullable = False
        ai = bool(re.search(r"\bAUTO_INCREMENT\b", rest, re.I))
        if ai:
            nullable = False  # MySQL: an auto column is implicitly NOT NULL
        ct.columns.append(
            ColumnDef(
                cname, ctype, nullable,
                auto_increment=ai, precision=prec, scale=scal,
            )
        )
    # MySQL-style auto-naming for anonymous KEY items: first column,
    # with a _2/_3… suffix on collision against every other key name
    taken = {u for u, _ in ct.uniques} | {n for n, _ in ct.indexes if n}
    resolved = []
    for name, cols in ct.indexes:
        if name is None:
            name, k = cols[0], 2
            while name in taken:
                name, k = f"{cols[0]}_{k}", k + 1
        taken.add(name)
        resolved.append((name, cols))
    ct.indexes = resolved
    return ct


# the head of an INSERT … VALUES: the shape parse_insert reads
INSERT_VALUES = re.compile(
    r"\s*(INSERT|REPLACE)\s+(IGNORE\s+)?INTO\s+([\w.`\"]+)\s*(?:\(([^)]*)\)\s*)?VALUES\b", re.I
)


def parse_insert(sql: str) -> Insert:
    m = INSERT_VALUES.match(sql)
    if not m:
        raise ValueError("malformed INSERT (only INSERT ... VALUES supported here)")
    replace = m.group(1).upper() == "REPLACE"
    ignore = bool(m.group(2))
    if replace and ignore:
        # MySQL grammar: REPLACE takes no IGNORE modifier
        raise ValueError("REPLACE does not take IGNORE")
    table = unquote_ident(m.group(3))
    cols = [unquote_ident(c) for c in split_top_level(m.group(4))] if m.group(4) else []
    toks = [t for t in lex(sql) if t[1] >= m.end() and t[0] != "comment"]
    while toks and (toks[-1][0] == "space" or _is(sql, toks[-1], ";")):
        toks.pop()
    values, clauses = _clauses(sql, toks, ("ON DUPLICATE KEY UPDATE",))
    rows, kinds = [], []
    for row in _split(sql, values, ","):
        code = [t for t in row if t[0] != "space"]
        if not code or not _is(sql, code[0], "(") or _close(sql, code, 0) != len(code) - 1:
            raise ValueError(f"malformed VALUES row: {_text(sql, row)!r}")
        # split the tokens between the parentheses with their spaces, so a
        # cell's kinds keep an inner space: ``- 5`` is no one literal
        cells = _split(sql, [t for t in row if code[0][1] < t[1] < code[-1][1]], ",")
        rows.append(_texts(sql, cells))
        kinds.append([tuple(t[0] for t in _code_ends(c)) for c in cells[: len(rows[-1])]])
    on_dup = None
    if clauses:
        if replace:
            # MySQL grammar: REPLACE has no ON DUPLICATE KEY clause
            raise ValueError("REPLACE does not take ON DUPLICATE KEY UPDATE")
        if ignore:
            # both clauses at once make the upsert ambiguous; reject
            # rather than silently prefer one (documented stance)
            raise ValueError("INSERT IGNORE with ON DUPLICATE KEY UPDATE is not supported")
        on_dup = column_assignments(clauses["ON DUPLICATE KEY UPDATE"])
    return Insert(
        table=table, columns=cols, rows=rows, kinds=kinds, on_dup_update=on_dup, replace=replace, ignore=ignore
    )


def parse_assignments(sql: str) -> list[tuple[str | None, str, str]]:
    """The ``[qualifier.]column = expr, …`` list of a SET or ON DUPLICATE
    KEY UPDATE clause as (qualifier or None, column, expression text),
    read from its tokens: a backtick name may hold any character.
    ValueError on a malformed assignment."""
    out = []
    for part in _split(sql, code_tokens(sql), ","):
        name = [t[0] in ("word", "ident") for t in part]
        if len(part) > 2 and name[0] and _is(sql, part[1], "="):
            qualifier, col, k = None, part[0], 2
        elif len(part) > 4 and name[0] and name[2] and _is(sql, part[1], ".") and _is(sql, part[3], "="):
            qualifier, col, k = unquote_ident(_text(sql, part[:1])), part[2], 4
        else:
            raise ValueError(f"malformed assignment: {_text(sql, part)!r}")
        out.append((qualifier, unquote_ident(sql[col[1] : col[2]]), _text(sql, part[k:])))
    return out


def column_assignments(sql: str) -> list[tuple[str, str]]:
    """A single-table assignment list (parse_assignments) as (column,
    expression text): a qualified column is malformed."""
    out = parse_assignments(sql)
    if any(q is not None for q, _, _ in out):
        raise ValueError(f"malformed assignment: {sql!r}")
    return [(c, e) for _, c, e in out]


def _parse_limit_count(clauses: dict[str, str]) -> int | None:
    if "LIMIT" not in clauses:
        return None
    lm = re.fullmatch(r"(\d+)", clauses["LIMIT"])
    if not lm:
        raise ValueError(f"malformed LIMIT: {clauses['LIMIT']!r}")
    return int(lm.group(1))


def parse_update(sql: str) -> Update:
    # Clause boundaries located quote/paren-aware (find_top_level_
    # keywords), never by lazy regex alternation — a bare regex splits
    # WHERE msg = 'a order by b' inside the string literal.
    m = re.match(r"\s*UPDATE\s+([\w.`\"]+)\s+SET\s+(.*?);?\s*$", sql, re.I | re.S)
    if not m:
        raise ValueError("malformed UPDATE")
    set_part, clauses = split_tail_clauses(m.group(2), ("WHERE", "ORDER BY", "LIMIT"))
    return Update(
        table=unquote_ident(m.group(1)),
        assignments=column_assignments(set_part),
        where=clauses.get("WHERE"),
        order_by=clauses.get("ORDER BY"),
        limit=_parse_limit_count(clauses),
    )


def parse_delete(sql: str) -> Delete:
    m = re.match(r"\s*DELETE\s+FROM\s+([\w.`\"]+)(.*?);?\s*$", sql, re.I | re.S)
    if not m:
        raise ValueError("malformed DELETE")
    head, clauses = split_tail_clauses(m.group(2), ("WHERE", "ORDER BY", "LIMIT"))
    if head:
        raise ValueError("malformed DELETE")
    return Delete(
        table=unquote_ident(m.group(1)),
        where=clauses.get("WHERE"),
        order_by=clauses.get("ORDER BY"),
        limit=_parse_limit_count(clauses),
    )


# MySQL DATE_FORMAT %-specifier → java DateTimeFormatter pattern letter
# (the subset with exact Spark equivalents; %U/%u/%V/%v/%X/%x week-year
# variants intentionally absent — they follow MySQL-specific week rules
# and raise a clean error instead of silently shifting dates)
_MYSQL_FMT_SPEC: dict[str, str] = {
    "Y": "yyyy", "y": "yy", "m": "MM", "c": "M", "d": "dd", "e": "d",
    "H": "HH", "k": "H", "h": "hh", "I": "hh", "i": "mm", "s": "ss",
    "S": "ss", "f": "SSSSSS", "p": "a", "W": "EEEE", "a": "EEE",
    "b": "MMM", "M": "MMMM", "j": "DDD", "T": "HH:mm:ss",
    "r": "hh:mm:ss a",
}


def translate_mysql_datetime_format(fmt: str) -> str:
    """MySQL format string ('%Y-%m-%d') → java DateTimeFormatter
    pattern ('yyyy-MM-dd'). Literal alphabetic characters are quoted
    (java patterns reserve all letters), as are ``#``/``{``/``}``
    (reserved for future use — DateTimeFormatter throws on them
    unquoted) and ``[``/``]`` (active optional-section syntax that
    would silently change parsing); unsupported specifiers raise
    ValueError rather than passing through as wrong dates."""
    out: list[str] = []
    lit: list[str] = []  # pending literal alphabetic run (one quote span)

    def flush() -> None:
        if lit:
            out.append("'" + "".join(lit) + "'")
            lit.clear()

    i, n = 0, len(fmt)
    while i < n:
        ch = fmt[i]
        if ch == "%":
            if i + 1 >= n:
                raise ValueError("dangling % in datetime format")
            spec = fmt[i + 1]
            flush()
            if spec == "%":
                out.append("%")  # non-letter: passes through unquoted
            elif spec in _MYSQL_FMT_SPEC:
                out.append(_MYSQL_FMT_SPEC[spec])
            else:
                raise ValueError(f"unsupported datetime format specifier %{spec}")
            i += 2
            continue
        if ch.isalpha() or ch in "#{}[]":
            # java patterns reserve all letters plus #/{/} (throw) and
            # [/] (optional sections): buffer the run so consecutive
            # literals share ONE quote span ('at', never 'a''t' —
            # adjacent quotes read as an escaped quote)
            lit.append(ch)
        elif ch == "'":
            flush()
            out.append("''")
        else:
            flush()
            out.append(ch)
        i += 1
    flush()
    return "".join(out)
