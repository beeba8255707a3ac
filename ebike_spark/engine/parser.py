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
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


def strip_comments(sql: str) -> str:
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch in "'\"`":
            j = _skip_quoted(sql, i)
            out.append(sql[i:j])
            i = j
        elif sql.startswith("--", i):
            if i + 2 >= n or sql[i + 2] in " \t\r\n":
                while i < n and sql[i] != "\n":
                    i += 1
            else:
                # MySQL requires whitespace/EOL after `--`, so `5--3` is
                # double negation (MySQL manual §9.7). Spark's lexer
                # comments it unconditionally — emit `- -` to keep the
                # negation semantics through the Spark parser.
                out.append("- ")
                i += 1
        elif ch == "#":
            # MySQL `# comment` to end of line
            while i < n and sql[i] != "\n":
                i += 1
        elif sql.startswith("/*", i):
            j = sql.find("*/", i + 2)
            i = n if j < 0 else j + 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _skip_quoted(s: str, i: int) -> int:
    q = s[i]
    j = i + 1
    while j < len(s):
        if s[j] == "\\" and q != "`":
            j += 2
            continue
        if s[j] == q:
            return j + 1
        j += 1
    return len(s)


def split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on sep outside quotes/parens (for VALUES rows, column defs)."""
    parts: list[str] = []
    depth = 0
    cur: list[str] = []
    i = 0
    while i < len(s):
        ch = s[i]
        if ch in "'\"`":
            j = _skip_quoted(s, i)
            cur.append(s[i:j])
            i = j
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == sep and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    tail = "".join(cur).strip()
    if tail:
        parts.append(tail)
    return parts


def find_top_level_keywords(s: str, keywords: tuple[str, ...]) -> list[tuple[str, int, int]]:
    """Locate top-level clause keywords — outside string/identifier
    quotes AND outside parens — returning (keyword, start, end) spans
    in text order. Multi-word keywords ("ORDER BY") match across any
    whitespace. This is the quote-aware substrate for clause splitting:
    a bare regex alternation can anchor a clause keyword INSIDE a
    string literal (``WHERE msg = 'a order by b'``) and silently split
    the statement mid-literal."""
    pats = [(kw, re.compile(r"\b" + r"\s+".join(kw.split()) + r"\b", re.I)) for kw in keywords]
    found: list[tuple[str, int, int]] = []
    depth = 0
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch in "'\"`":
            i = _skip_quoted(s, i)
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and ch.isalpha():
            for kw, pat in pats:
                m = pat.match(s, i)
                if m and (i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_")):
                    found.append((kw, m.start(), m.end()))
                    i = m.end()
                    break
            else:
                # skip the rest of this word so ORDERBY never matches ORDER
                while i < n and (s[i].isalnum() or s[i] == "_"):
                    i += 1
                continue
            continue
        i += 1
    return found


def split_tail_clauses(tail: str, keywords: tuple[str, ...]) -> tuple[str, dict[str, str]]:
    """Split ``tail`` into a head plus trailing clauses introduced by
    ``keywords`` (quote/paren-aware). Clauses must appear in the given
    order, each at most once; out-of-order or duplicate keywords raise
    (malformed statement — e.g. ``WHERE x LIMIT 1 WHERE y``)."""
    spans = find_top_level_keywords(tail, keywords)
    order = {kw: k for k, kw in enumerate(keywords)}
    last = -1
    for kw, _, _ in spans:
        if order[kw] <= last:
            raise ValueError(f"misplaced {kw} clause")
        last = order[kw]
    head_end = spans[0][1] if spans else len(tail)
    clauses: dict[str, str] = {}
    for k, (kw, _, kw_end) in enumerate(spans):
        nxt = spans[k + 1][1] if k + 1 < len(spans) else len(tail)
        body = tail[kw_end:nxt].strip()
        if not body:
            # a dangling keyword ('DELETE FROM t WHERE') must be a parse
            # error — an empty WHERE body is falsy downstream and would
            # silently turn a malformed statement into a FULL-TABLE op
            raise ValueError(f"empty {kw} clause")
        clauses[kw] = body
    return tail[:head_end].strip(), clauses


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


def map_unquoted(sql: str, fn) -> str:
    """Apply ``fn(segment)`` to each run of text outside string and
    identifier quotes; quoted spans pass through untouched. This is the
    safe substrate for regex rewrites (FROM dual, LIMIT off,cnt,
    database()) that must never fire inside literals."""
    out: list[str] = []
    i = start = 0
    while i < len(sql):
        if sql[i] in "'\"`":
            j = _skip_quoted(sql, i)
            out += [fn(sql[start:i]), sql[i:j]]
            i = start = j
        else:
            i += 1
    out.append(fn(sql[start:]))
    return "".join(out)


def _find_matching_paren(s: str, open_idx: int) -> int:
    """Index just past the ')' matching s[open_idx] == '(' (quote-aware);
    raises ValueError on imbalance."""
    depth = 0
    i, n = open_idx, len(s)
    while i < n:
        ch = s[i]
        if ch in "'\"`":
            i = _skip_quoted(s, i)
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    raise ValueError("unbalanced parentheses in GROUP_CONCAT")


def rewrite_group_concat(sql: str) -> str:
    """MySQL ``GROUP_CONCAT([DISTINCT] expr[, expr...] [ORDER BY ...]
    [SEPARATOR 'sep'])`` → Spark ``listagg([DISTINCT] expr, 'sep')
    [WITHIN GROUP (ORDER BY ...)]`` (beyond-reference: DataFusion 6.0
    has no GROUP_CONCAT either, but a MySQL-dialect user reaches for it
    constantly). Quote/paren-aware; multiple occurrences handled;
    multi-expr form concatenates per-row exactly as MySQL does
    (``concat`` matches MySQL's any-NULL→NULL row semantics, and both
    engines then skip NULL rows). Spark's listagg restriction stands:
    DISTINCT with a WITHIN GROUP key other than the expr itself errors —
    same statements MySQL itself warns on and reorders."""
    pat = re.compile(r"\bGROUP_CONCAT\s*\(", re.I)
    if not pat.search(sql):
        return sql
    out, i = [], 0
    while True:
        # scan for the next unquoted GROUP_CONCAT(
        m = None
        j = i
        while j < len(sql):
            if sql[j] in "'\"`":
                j = _skip_quoted(sql, j)
                continue
            m = pat.match(sql, j)
            if m and (j == 0 or not (sql[j - 1].isalnum() or sql[j - 1] in "_$")):
                break
            m = None
            j += 1
        if not m:
            out.append(sql[i:])
            return "".join(out)
        open_idx = m.end() - 1
        close = _find_matching_paren(sql, open_idx)
        inner = sql[open_idx + 1 : close - 1].strip()
        out.append(sql[i:j])

        sep = "','"
        order_by = None
        # a duplicated clause (…SEPARATOR '-' SEPARATOR '+') would make
        # the span indices stale after the first mutation and emit
        # malformed SQL — reject it as the parse error MySQL gives
        sep_spans = find_top_level_keywords(inner, ("SEPARATOR",))
        if len(sep_spans) > 1:
            raise ValueError("duplicate SEPARATOR clause in GROUP_CONCAT")
        for kw, s0, s1 in sep_spans:
            sep = inner[s1:].strip()
            # SEPARATOR takes exactly one string literal; anything
            # trailing it (a misplaced ORDER BY, stray tokens) must be
            # a parse error, not silently glued into the separator
            # accept BOTH escape styles the lexer (_skip_quoted) accepts:
            # doubled quotes ('it''s') and backslash escapes ('it\'s') —
            # rejecting backslash style regressed statements MySQL
            # clients emit by default (review finding)
            if not re.fullmatch(
                r"'(?:[^'\\]|\\.|'')*'|\"(?:[^\"\\]|\\.|\"\")*\"", sep
            ):
                raise ValueError(
                    "SEPARATOR must be followed by a single string literal"
                )
            inner = inner[:s0].rstrip()
        ob_spans = find_top_level_keywords(inner, ("ORDER BY",))
        if len(ob_spans) > 1:
            raise ValueError("duplicate ORDER BY clause in GROUP_CONCAT")
        for kw, s0, s1 in ob_spans:
            order_by = inner[s1:].strip()
            inner = inner[:s0].rstrip()
        distinct = ""
        dm = re.match(r"DISTINCT\b", inner, re.I)
        if dm:
            distinct = "DISTINCT "
            inner = inner[dm.end() :].strip()
        exprs = split_top_level(inner)
        body = exprs[0] if len(exprs) == 1 else f"concat({', '.join(exprs)})"
        repl = f"listagg({distinct}{body}, {sep})"
        if order_by:
            repl += f" WITHIN GROUP (ORDER BY {order_by})"
        out.append(repl)
        i = close


def substitute_vars(
    sql: str,
    sys_vars: dict[str, object],
    user_vars: dict[str, object],
    global_vars: dict[str, object] | None = None,
) -> str:
    """Replace @@[scope.]sys and @user variables with literals, outside
    quotes. ``@@GLOBAL.x`` reads the shared global scope when provided;
    ``@@x`` / ``@@SESSION.x`` read the session scope (MySQL semantics)."""
    out: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch in "'\"`":
            j = _skip_quoted(sql, i)
            out.append(sql[i:j])
            i = j
            continue
        m = _SYS_VAR_RE.match(sql, i) if ch == "@" else None
        if m:
            scope = (m.group(1) or "session").lower()
            name = m.group(2).lower()
            if scope == "global" and global_vars is not None:
                out.append(sql_literal(global_vars.get(name, sys_vars.get(name))))
            else:
                out.append(sql_literal(sys_vars.get(name)))
            i = m.end()
            continue
        m = _USER_VAR_RE.match(sql, i) if ch == "@" else None
        if m:
            out.append(sql_literal(user_vars.get(m.group(1).lower())))
            i = m.end()
            continue
        out.append(ch)
        i += 1
    return "".join(out)


_SYS_VAR_RE = re.compile(r"@@(?:(global|session)\.)?([A-Za-z_][A-Za-z0-9_]*)", re.I)
_USER_VAR_RE = re.compile(r"@([A-Za-z_][A-Za-z0-9_]*)")


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


def parse_create_table(sql: str) -> CreateTable:
    # trailing MySQL table options (ENGINE=..., DEFAULT CHARSET=...) are
    # accepted and ignored — the reference resolves only engine=sled
    # (/root/reference/src/store/engine/engine_util.rs:48-60); here the
    # engine is always parquet.
    m = re.match(
        r"\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.`\"]+)\s*\((.*)\)"
        r"(?:\s+(?:ENGINE\s*=\s*\w+|DEFAULT\s+CHARSET\s*=\s*\w+|COLLATE\s*=\s*\w+|COMMENT\s*=\s*'[^']*'))*"
        r"\s*;?\s*$",
        sql,
        re.I | re.S,
    )
    if not m:
        raise ValueError("malformed CREATE TABLE")
    ine, name, body = bool(m.group(1)), unquote_ident(m.group(2)), m.group(3)
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


def parse_insert(sql: str) -> Insert:
    m = re.match(
        r"\s*(INSERT|REPLACE)\s+(IGNORE\s+)?INTO\s+([\w.`\"]+)\s*(\(([^)]*)\))?\s*VALUES\s*(.*?)"
        r"(?:\s+ON\s+DUPLICATE\s+KEY\s+UPDATE\s+(.*?))?;?\s*$",
        sql,
        re.I | re.S,
    )
    if not m:
        raise ValueError("malformed INSERT (only INSERT ... VALUES supported here)")
    replace = m.group(1).upper() == "REPLACE"
    ignore = bool(m.group(2))
    if replace and ignore:
        # MySQL grammar: REPLACE takes no IGNORE modifier
        raise ValueError("REPLACE does not take IGNORE")
    table = unquote_ident(m.group(3))
    cols = [unquote_ident(c) for c in split_top_level(m.group(5))] if m.group(5) else []
    rows = []
    for row in split_top_level(m.group(6)):
        rm = re.match(r"\s*\((.*)\)\s*$", row, re.S)
        if not rm:
            raise ValueError(f"malformed VALUES row: {row!r}")
        rows.append([e.strip() for e in split_top_level(rm.group(1))])
    on_dup = None
    if m.group(7):
        if replace:
            # MySQL grammar: REPLACE has no ON DUPLICATE KEY clause
            raise ValueError("REPLACE does not take ON DUPLICATE KEY UPDATE")
        if ignore:
            # both clauses at once make the upsert ambiguous; reject
            # rather than silently prefer one (documented stance)
            raise ValueError("INSERT IGNORE with ON DUPLICATE KEY UPDATE is not supported")
        on_dup = []
        for a in split_top_level(m.group(7)):
            am = re.match(r"([\w`\"]+)\s*=\s*(.*)$", a, re.S)
            if not am:
                raise ValueError(f"malformed ON DUPLICATE KEY UPDATE assignment: {a!r}")
            on_dup.append((unquote_ident(am.group(1)), am.group(2).strip()))
    return Insert(
        table=table, columns=cols, rows=rows, on_dup_update=on_dup, replace=replace, ignore=ignore
    )


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
    assignments = []
    for a in split_top_level(set_part):
        am = re.match(r"([\w`\"]+)\s*=\s*(.*)$", a, re.S)
        if not am:
            raise ValueError(f"malformed assignment: {a!r}")
        assignments.append((unquote_ident(am.group(1)), am.group(2).strip()))
    if not assignments:
        raise ValueError("malformed UPDATE")
    return Update(
        table=unquote_ident(m.group(1)),
        assignments=assignments,
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


def rewrite_mysql_datetime_fns(sql: str) -> str:
    """MySQL ``DATE_FORMAT(expr, '%…')`` → Spark ``date_format(expr,
    'java-pattern')`` and ``STR_TO_DATE(str, '%…')`` → ``to_timestamp(
    str, 'java-pattern')`` (quote/paren-aware, every occurrence). The
    format argument must be a single-quoted literal — a non-literal
    format (rare and MySQL-dynamic) raises cleanly. STR_TO_DATE maps to
    a TIMESTAMP (MySQL returns DATE when no time parts appear; CAST the
    result where date semantics matter)."""
    pat = re.compile(r"\b(DATE_FORMAT|STR_TO_DATE)\s*\(", re.I)
    out, i = [], 0
    while True:
        m = pat.search(sql, i)
        if not m:
            out.append(sql[i:])
            return "".join(out)
        # skip matches inside quoted spans
        qdepth_ok = True
        j = i
        while j < m.start():
            if sql[j] in "'\"`":
                j = _skip_quoted(sql, j)
                if j > m.start():
                    qdepth_ok = False
                    break
                continue
            j += 1
        if not qdepth_ok:
            out.append(sql[i:j])
            i = j
            continue
        close = _find_matching_paren(sql, m.end() - 1)
        args = split_top_level(sql[m.end() : close - 1])
        if len(args) != 2:
            raise ValueError(f"{m.group(1).upper()} expects 2 arguments")
        fm = re.match(r"\s*'((?:[^']|'')*)'\s*$", args[1])
        if not fm:
            raise ValueError(
                f"{m.group(1).upper()} format must be a string literal"
            )
        translated = translate_mysql_datetime_format(
            fm.group(1).replace("''", "'")
        )
        fn = "date_format" if m.group(1).upper() == "DATE_FORMAT" else "to_timestamp"
        out.append(sql[i : m.start()])
        # the java pattern may itself contain single quotes (quoted
        # literal letters) — escape them for the SQL string literal
        sql_lit = translated.replace("'", "''")
        # recurse into the value argument: MySQL datetime fns nest
        # (DATE_FORMAT(STR_TO_DATE(...), ...)) and the outer jump to
        # `close` would otherwise skip the inner call untranslated
        inner = rewrite_mysql_datetime_fns(args[0].strip())
        out.append(f"{fn}({inner}, '{sql_lit}')")
        i = close



def rewrite_field_fn(sql: str) -> str:
    """MySQL ``FIELD(expr, e1, e2, ...)`` → Spark
    ``coalesce(array_position(array(e1, ...), expr), 0)`` — Spark has
    no native field(); array_position is 1-based with 0 for not-found
    exactly like FIELD, and the coalesce maps Spark's NULL-expr result
    to MySQL's 0. Quote/paren-aware; nested FIELD calls rewrite
    recursively via the argument re-scan."""
    pat = re.compile(r"\bFIELD\s*\(", re.I)
    out, i = [], 0
    while True:
        m = pat.search(sql, i)
        if not m:
            out.append(sql[i:])
            return "".join(out)
        # skip matches inside quoted spans
        j = i
        inside_quote = False
        while j < m.start():
            if sql[j] in "'\"`":
                j = _skip_quoted(sql, j)
                if j > m.start():
                    inside_quote = True
                    break
                continue
            j += 1
        if inside_quote:
            out.append(sql[i:j])
            i = j
            continue
        close = _find_matching_paren(sql, m.end() - 1)
        args = split_top_level(sql[m.end() : close - 1])
        if len(args) < 2:
            raise ValueError("FIELD expects at least 2 arguments")
        rest = ", ".join(rewrite_field_fn(a.strip()) for a in args[1:])
        expr = rewrite_field_fn(args[0].strip())
        out.append(sql[i : m.start()])
        out.append(f"coalesce(array_position(array({rest}), {expr}), 0)")
        i = close
