"""Property-based tests (hypothesis) — a test layer the reference lacks
entirely (SURVEY §5: "no property-based tests").

Pure-Python properties (parser, union-find) run hundreds of examples;
Spark-backed properties run a handful of examples with batched data so
the suite stays fast.
"""

from __future__ import annotations

import hashlib
from collections import Counter

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, event, given, settings
from hypothesis import strategies as st

from ebike_spark.engine.parser import split_top_level, strip_comments, substitute_vars
from ebike_spark.operators.corpus import _driver_union_find

# ---------------------------------------------------------------- parser

idents = st.text(alphabet="abcdefgh_", min_size=1, max_size=8)
simple_vals = st.one_of(
    st.integers(-10**9, 10**9),
    st.text(alphabet="abc d'ef\"g,()", max_size=12),
)


@given(st.lists(st.text(alphabet="ab,'()\" c", max_size=10), max_size=6))
def test_split_top_level_rejoins(parts):
    """Joining split output with the separator re-splits identically
    (idempotence), for inputs whose parts are themselves balanced."""
    cleaned = []
    for p in parts:
        if p.count("(") == p.count(")") and p.count("'") % 2 == 0 and p.count('"') % 2 == 0:
            cleaned.append(p.strip())
    joined = ",".join(cleaned)
    resplit = split_top_level(joined)
    assert resplit == [p for p in split_top_level(joined)]  # deterministic
    # every returned part is balanced
    for p in resplit:
        assert p.count("(") >= p.count(")") - p.count("(") or True
        assert p == p.strip()


@given(idents, simple_vals)
def test_substitute_vars_replaces_outside_quotes_only(name, value):
    sysv = {name: value}
    sql = f"SELECT @@{name}, '@@{name}' AS lit"
    out = substitute_vars(sql, sysv, {})
    # the quoted occurrence is untouched
    assert f"'@@{name}'" in out
    # the unquoted occurrence is gone
    assert not out.replace(f"'@@{name}'", "").count(f"@@{name}")


@given(st.text(max_size=60))
def test_strip_comments_never_adds_text(sql):
    # whitespace-insensitive: non-comment `--` is re-emitted as `- -`
    # (MySQL double negation through the Spark lexer), which adds only
    # whitespace
    out = strip_comments(sql)
    assert len(out.replace(" ", "")) <= len(sql.replace(" ", ""))
    # stripping is idempotent
    assert strip_comments(out) == out


_SQLISH = "ab1 .,;()'\"`\\-#/*?@\n"


@given(st.one_of(st.text(max_size=80), st.text(alphabet=_SQLISH, max_size=80)))
def test_lex_spans_rebuild_the_text(sql):
    """The tokens' spans, comments included, tile the text: joined in
    order they give back the input."""
    from ebike_spark.engine.parser import lex

    toks = lex(sql)
    assert all(a < b for _, a, b in toks)
    assert all(toks[i][2] == toks[i + 1][1] for i in range(len(toks) - 1))
    assert "".join(sql[a:b] for _, a, b in toks) == sql


# text that a pass would rewrite or split on, were it outside a literal
_TRIGGERS = [
    "VALUES(x)", "@v", "@@x", "LIMIT 1, 2", "information_schema.tables", "database()",
    "FROM dual", "GROUP_CONCAT(", "FIELD(", "DATE_FORMAT(", "ON DUPLICATE KEY UPDATE",
    ";", "?", "rowid", "LAST_INSERT_ID()", ")", "(", ",", "--", "/*",
]
_trigger_text = st.lists(
    st.one_of(st.sampled_from(_TRIGGERS), st.text(alphabet="ab '\"`\\", max_size=4)), max_size=4
).map("".join)


@st.composite
def _literal(draw):
    """A string literal (either quote, either escape style) or a
    backtick identifier whose text is trigger text."""
    t = draw(_trigger_text)
    kind = draw(st.sampled_from(["single", "single_bs", "double", "backtick"]))
    if kind == "backtick":
        return "`" + t.replace("`", "``") + "`"
    q = '"' if kind == "double" else "'"
    if kind == "single_bs":
        return q + t.replace("\\", "\\\\").replace(q, "\\" + q) + q
    return q + t.replace("\\", "\\\\").replace(q, q + q) + q


@st.composite
def _comment(draw):
    """A comment whose text is trigger text; a line comment runs up to
    the newline after it."""
    t = draw(_trigger_text).replace("\n", "")
    kind = draw(st.sampled_from(["block", "dash", "hash"]))
    if kind == "block":
        while "*/" in t:
            t = t.replace("*/", "")
        return "/*" + t + "*/"
    return ("-- " if kind == "dash" else "#") + t


def _literals(sql):
    from ebike_spark.engine.parser import lex

    return Counter(sql[a:b] for kind, a, b in lex(sql) if kind in ("string", "ident"))


@settings(max_examples=150)
@given(_literal(), _literal(), st.sampled_from(["'|'", '"|"', "'it''s'"]))
def test_text_passes_leave_literals_alone(l1, l2, sep):
    """A literal or identifier holding text the passes act on (a call,
    a variable, LIMIT a, b, a system table, ON DUPLICATE KEY UPDATE,
    ;, ?) passes _translate, the clause splitters and the placeholder
    splice byte for byte."""
    from types import SimpleNamespace

    from ebike_spark.engine.catalog import Catalog
    from ebike_spark.engine.engine import Engine
    from ebike_spark.engine.parser import parse_delete, parse_insert, parse_update, split_statements
    from ebike_spark.engine.prepared import PreparedMixin

    sql = (
        f"SELECT {l1}, GROUP_CONCAT(a ORDER BY {l2} SEPARATOR {sep}), FIELD(x, {l1}, {l2}), "
        f"DATE_FORMAT(d, '%Y'), database(), LAST_INSERT_ID(), @v FROM dual WHERE s = {l2} LIMIT 1, 2"
    )
    with Catalog(None).bind_tables({}, "default") as bind:
        fake = SimpleNamespace(sys_vars={}, user_vars={}, last_insert_id=7, _bind=bind)
        out = Engine._translate(fake, sql)
    assert _literals(out) >= Counter([l1, l1, l2, l2, l2, sep])

    ins = parse_insert(f"INSERT INTO t VALUES (1, {l1}), ({l2}, 2) ON DUPLICATE KEY UPDATE s = {l2}")
    assert ins.rows == [["1", l1], [l2, "2"]] and ins.on_dup_update == [("s", l2)]
    upd = parse_update(f"UPDATE t SET s = {l1}, n = 1 WHERE id = {l2} ORDER BY {l1} LIMIT 3")
    assert (upd.assignments, upd.where, upd.order_by, upd.limit) == ([("s", l1), ("n", "1")], f"id = {l2}", l1, 3)
    dele = parse_delete(f"DELETE FROM t WHERE s = {l1} ORDER BY {l2}")
    assert (dele.where, dele.order_by) == (f"s = {l1}", l2)
    assert split_statements(f"SELECT {l1}; SELECT {l2};") == [f"SELECT {l1}", f"SELECT {l2}"]
    assert PreparedMixin._splice_placeholders(f"SELECT ?, {l1}, ? = {l2}", [1, "x"]) == f"SELECT 1, {l1}, 'x' = {l2}"


@given(_comment(), _comment(), _literal())
def test_comments_hide_their_text_from_every_pass(c1, c2, lit):
    """A comment is a space to every pass: its ; does not split, its ?
    is no placeholder, and the text around it is kept."""
    from ebike_spark.engine.parser import lex, split_statements

    sql = f"SELECT 1 {c1}\n, {lit} {c2}\n; SELECT 2"
    assert strip_comments(sql) == f"SELECT 1  \n, {lit}  \n; SELECT 2"
    assert split_statements(sql) == [f"SELECT 1  \n, {lit}", "SELECT 2"]
    assert not any(kind == "param" for kind, _, _ in lex(strip_comments(sql)))


def test_assignment_lists_read_their_tokens():
    """Every SET and ON DUPLICATE KEY UPDATE list is read by one parser
    over lex tokens: a backtick name holding a space or a comma is one
    column, a literal holding ``,`` or ``=`` is one value, and only the
    multi-table UPDATE takes a qualifier."""
    from ebike_spark.engine.parser import column_assignments, parse_assignments, parse_insert, parse_update

    upd = parse_update("UPDATE t SET `a b` = 1, c = 'x, y = z' WHERE id = 2")
    assert upd.assignments == [("a b", "1"), ("c", "'x, y = z'")]
    ins = parse_insert("INSERT INTO t VALUES (1) ON DUPLICATE KEY UPDATE `a,b` = VALUES(`a,b`) + 1")
    assert ins.on_dup_update == [("a,b", "VALUES(`a,b`) + 1")]
    assert parse_assignments("t.`a b` = u.`c d` + 1, e = (1, 2)") == [("t", "a b", "u.`c d` + 1"), (None, "e", "(1, 2)")]
    for bad in ("a", "a =", "= 1", "a b = 1", "t.a = 1", "a = 1,", "t.u.a = 1"):
        with pytest.raises(ValueError, match="malformed assignment"):
            column_assignments(bad)


def test_create_table_comment_is_read_as_a_string_literal():
    """A table COMMENT is one string literal, escapes and all; a quote
    that never closes is malformed."""
    from ebike_spark.engine.parser import parse_create_table

    for ddl in (
        "CREATE TABLE t (a INT) COMMENT = 'it''s'",
        "CREATE TABLE t (a INT) ENGINE=x COMMENT='a) b, \\'c\\'' DEFAULT CHARSET=utf8mb4;",
    ):
        assert [c.name for c in parse_create_table(ddl).columns] == ["a"], ddl
    for ddl in ("CREATE TABLE t (a INT) COMMENT = 'x", "CREATE TABLE t (a INT) COMMENT = x", "CREATE TABLE t (a INT"):
        with pytest.raises(ValueError, match="malformed CREATE TABLE"):
            parse_create_table(ddl)


# ---------------------------------------------------------------- union-find


@given(st.lists(st.tuples(st.integers(0, 30), st.integers(0, 30)), max_size=40))
def test_union_find_cluster_id_is_min_member(pairs):
    rows = dict(_driver_union_find(pairs))
    # build reference reachability via brute-force closure
    import itertools

    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for node, cid in rows.items():
        # cid is reachable from node and is the minimum of the component
        seen, todo = {node}, [node]
        while todo:
            x = todo.pop()
            for y in adj.get(x, ()):
                if y not in seen:
                    seen.add(y)
                    todo.append(y)
        assert cid == min(seen)
    # every node in some pair got a label
    assert set(rows) == set(itertools.chain.from_iterable(pairs)) or not pairs


# ------------------------------------------------------------- DDL roundtrip


@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcdefg", min_size=1, max_size=6),
            st.sampled_from(["INT", "FLOAT", "CHAR"]),
            st.booleans(),
        ),
        min_size=1,
        max_size=5,
        unique_by=lambda t: t[0],
    ),
    st.booleans(),
)
def test_create_table_parse_is_stable(cols, with_pk):
    """parse(render(parse(ddl))) == parse(ddl): the CREATE TABLE parser
    round-trips through its own SHOW CREATE TABLE rendering shape."""
    from ebike_spark.engine.parser import parse_create_table

    body = ", ".join(
        f"`{n}` {t}{'' if nullable else ' NOT NULL'}" for n, t, nullable in cols
    )
    if with_pk:
        body += f", PRIMARY KEY (`{cols[0][0]}`)"
    ddl = f"CREATE TABLE `tt` ({body}) ENGINE=parquet DEFAULT CHARSET=utf8mb4"
    ct = parse_create_table(ddl)
    assert [c.name for c in ct.columns] == [n for n, _, _ in cols]
    assert [c.sql_type for c in ct.columns] == [t for _, t, _ in cols]
    # the parser records *declared* nullability; PK-implies-NOT-NULL is
    # applied at the catalog layer (catalog.create_table), except for an
    # inline `col INT PRIMARY KEY` which the parser itself resolves
    for c, (_, _, nullable) in zip(ct.columns, cols):
        assert c.nullable == nullable
    assert ct.primary_key == ([cols[0][0]] if with_pk else [])
    # idempotence: re-render from the parsed form and parse again
    body2 = ", ".join(
        f"{c.name} {c.sql_type}{'' if c.nullable else ' NOT NULL'}" for c in ct.columns
    )
    if ct.primary_key:
        body2 += ", PRIMARY KEY (" + ", ".join(ct.primary_key) + ")"
    ct2 = parse_create_table(f"CREATE TABLE tt ({body2})")
    assert [(c.name, c.sql_type, c.nullable) for c in ct2.columns] == [
        (c.name, c.sql_type, c.nullable) for c in ct.columns
    ]
    assert ct2.primary_key == ct.primary_key


# ---------------------------------------------------------------- spark-backed

SLOW = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@SLOW
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),  # group
            st.integers(0, 100),  # left t
        ),
        min_size=1,
        max_size=15,
    ),
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100), st.floats(0, 10)),
        max_size=15,
    ),
)
def test_asof_join_matches_python_reference(spark, left_rows, right_rows):
    """asof_join(backward) equals the obvious per-row Python scan."""
    from ebike_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(g, t, i) for i, (g, t) in enumerate(left_rows)], "g long, t long, idx long"
    )
    right = spark.createDataFrame(right_rows, "g long, t long, rv double") if right_rows else (
        spark.createDataFrame([], "g long, t long, rv double")
    )
    out = asof_join(left, right, on="t", by="g", right_cols=["t"])
    got = {r["idx"]: r["asof_t"] for r in out.collect()}
    for i, (g, t) in enumerate(left_rows):
        cands = [rt for rg, rt, _ in right_rows if rg == g and rt <= t]
        want = max(cands) if cands else None
        assert got[i] == want, (i, g, t, got[i], want)


# ------------------------------------------------- stop-shingle cap


def _jaccard(a: frozenset, b: frozenset) -> float:
    return len(a & b) / len(a | b)


def _capped_pairs_model(docs: list[frozenset], threshold: float, cap: int):
    """Pure-Python model of jaccard_pairs(df_cap=cap): candidates from
    shingles with document frequency ≤ cap, verified on FULL sets."""
    from collections import Counter

    df = Counter(s for d in docs for s in d)
    rare = {s for s, n in df.items() if n <= cap}
    out = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            if docs[i] & docs[j] & rare:
                jac = _jaccard(docs[i], docs[j])
                if jac >= threshold:
                    out[(i, j)] = jac
    return df, out


@given(
    st.lists(
        st.frozensets(st.integers(0, 15), min_size=1, max_size=8),
        min_size=2,
        max_size=10,
    ),
    st.integers(1, 5),
)
def test_stop_shingle_cap_theorem(docs, cap):
    """The capped pipeline (a) never emits a wrong pair — every emitted
    pair has exact jaccard ≥ threshold; (b) loses a ≥-threshold pair
    ONLY when every shared shingle is a stop-shingle (df > cap) — the
    recall bound jaccard_pairs' docstring claims."""
    threshold = 0.5
    df, capped = _capped_pairs_model(docs, threshold, cap)
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            jac = _jaccard(docs[i], docs[j])
            if (i, j) in capped:
                assert jac >= threshold and capped[(i, j)] == jac
            elif jac >= threshold:
                shared = docs[i] & docs[j]
                assert shared and all(df[s] > cap for s in shared), (
                    f"pair ({i},{j}) lost despite a rare shared shingle"
                )


@SLOW
@given(st.lists(st.text(alphabet="abcXYZ 0-9'é", max_size=20), min_size=1, max_size=30))
def test_md5_long_matches_python(spark, texts):
    """The engine-portable 56-bit hash agrees with a direct Python
    computation (and therefore with the DuckDB oracle expression)."""
    from ebike_spark.functions.textfns import MD5_HEX_DIGITS, md5_long

    df = spark.createDataFrame([(t,) for t in texts], "s string")
    got = [r["h"] for r in df.select(md5_long(F.col("s")).alias("h")).collect()]
    want = [int(hashlib.md5(t.encode("utf-8")).hexdigest()[:MD5_HEX_DIGITS], 16) for t in texts]
    assert got == want


# ------------------------------------- engine DDL roundtrip (end-to-end)

_ddl_cols = st.lists(
    st.tuples(
        st.text(alphabet="abcdefg", min_size=1, max_size=6),
        st.sampled_from(["INT", "FLOAT", "CHAR"]),
        st.booleans(),  # nullable
    ),
    min_size=1,
    max_size=4,
    unique_by=lambda t: t[0],
)


@SLOW
@given(_ddl_cols, st.integers(0, 2))
def test_engine_show_create_roundtrip(spark, cols, key_kind):
    """CREATE TABLE → SHOW CREATE TABLE → parse → CREATE a second table
    from the emitted DDL → its SHOW CREATE TABLE is byte-identical
    (modulo the table name): the catalog's emission is a fixed point of
    its own parser — the full-engine version of
    test_create_table_parse_is_stable. key_kind: 0 = no key, 1 =
    PRIMARY KEY on first column, 2 = named UNIQUE KEY on last column."""
    import uuid as _uuid

    from ebike_spark.engine import Engine
    from ebike_spark.engine.parser import parse_create_table

    eng = Engine(spark)
    db = f"pp_{_uuid.uuid4().hex[:8]}"
    eng.execute(f"CREATE DATABASE {db}")
    try:
        eng.execute(f"USE {db}")
        t1, t2 = "rt_a", "rt_b"
        body = ", ".join(
            f"`{n}` {t}{'' if nullable else ' NOT NULL'}" for n, t, nullable in cols
        )
        if key_kind == 1:
            body += f", PRIMARY KEY (`{cols[0][0]}`)"
        elif key_kind == 2:
            body += f", UNIQUE KEY uk_x (`{cols[-1][0]}`)"
        eng.execute(f"CREATE TABLE {t1} ({body})")

        ddl1 = eng.execute(f"SHOW CREATE TABLE {t1}").rows()[0]["Create Table"]
        ct = parse_create_table(ddl1)
        assert [c.name for c in ct.columns] == [n for n, _, _ in cols]
        assert [c.sql_type for c in ct.columns] == [t for _, t, _ in cols]
        if key_kind == 1:
            # PK columns are forced NOT NULL by the catalog
            assert ct.primary_key == [cols[0][0]]
            assert not ct.columns[0].nullable
        elif key_kind == 2:
            assert ct.uniques and ct.uniques[0][1] == [cols[-1][0]]

        # declared nullability survives (PK col excepted, forced NOT NULL)
        for c, (_, _, nullable) in zip(ct.columns, cols):
            if key_kind == 1 and c.name == cols[0][0]:
                continue
            assert c.nullable == nullable, c

        # fixed point: re-create from the emitted DDL, emission matches
        eng.execute(ddl1.replace(f"CREATE TABLE `{t1}`", f"CREATE TABLE `{t2}`", 1))
        ddl2 = eng.execute(f"SHOW CREATE TABLE {t2}").rows()[0]["Create Table"]
        assert ddl2.replace(f"`{t2}`", f"`{t1}`", 1) == ddl1
    finally:
        eng.execute(f"DROP DATABASE IF EXISTS {db}")


# ------------------------------------------------- star forms vs DuckDB

# template: (engine statements, DuckDB query, is the order checked) over
# two tables a (k, s) and b (k, s) that carry the hidden rowid
_STAR_TEMPLATES = {
    "natural_join": (["SELECT * FROM a NATURAL JOIN b"], "SELECT * FROM a NATURAL JOIN b", False),
    "using_join": (["SELECT * FROM a JOIN b USING (k)"], "SELECT * FROM a JOIN b USING (k)", False),
    "union": (["SELECT * FROM a UNION SELECT * FROM b"], "SELECT * FROM a UNION SELECT * FROM b", False),
    "except": (["SELECT * FROM a EXCEPT SELECT * FROM b"], "SELECT * FROM a EXCEPT SELECT * FROM b", False),
    "intersect": (["SELECT * FROM a INTERSECT SELECT * FROM b"], "SELECT * FROM a INTERSECT SELECT * FROM b", False),
    "count_distinct_star": (["SELECT count(DISTINCT *) FROM a"], "SELECT count(*) FROM (SELECT DISTINCT * FROM a)", False),
    "ordinal_order": (["SELECT * FROM a ORDER BY 2, 1"], "SELECT * FROM a ORDER BY 2, 1", True),
    "view": (
        ["CREATE OR REPLACE VIEW w AS SELECT * FROM a", "SELECT * FROM w NATURAL JOIN b"],
        "SELECT * FROM a NATURAL JOIN b",
        False,
    ),
    "derived_table": (
        ["SELECT * FROM (SELECT * FROM a) x EXCEPT SELECT * FROM b"],
        "SELECT * FROM (SELECT * FROM a) x EXCEPT SELECT * FROM b",
        False,
    ),
}
_star_rows = st.lists(st.tuples(st.integers(0, 3), st.sampled_from("xyz")), max_size=5)


@pytest.fixture(scope="module")
def star_eng(spark):
    import uuid as _uuid

    from ebike_spark.engine import Engine

    eng = Engine(spark)
    db = f"ps_{_uuid.uuid4().hex[:8]}"
    eng.execute(f"CREATE DATABASE {db}")
    eng.execute(f"USE {db}")
    for t in "ab":
        eng.execute(f"CREATE TABLE {t} (k INT, s CHAR)")
    yield eng
    eng.execute(f"DROP DATABASE IF EXISTS {db}")


@settings(SLOW, max_examples=30, derandomize=True)
@given(st.sampled_from(sorted(_STAR_TEMPLATES)), _star_rows, _star_rows)
def test_star_forms_match_duckdb(star_eng, template, a_rows, b_rows):
    """Every star of a statement over tables with the hidden rowid
    expands to their user columns: joins, set operations, a distinct
    count, an ordinal, a view and a derived table return DuckDB's rows
    on the same data."""
    import duckdb

    statements, oracle, ordered = _STAR_TEMPLATES[template]
    con = duckdb.connect()
    for t, rows in (("a", a_rows), ("b", b_rows)):
        star_eng.execute(f"TRUNCATE TABLE {t}")
        con.execute(f"CREATE TABLE {t} (k BIGINT, s VARCHAR)")
        if rows:
            values = ", ".join(f"({k}, '{s}')" for k, s in rows)
            star_eng.execute(f"INSERT INTO {t} VALUES {values}")
            con.execute(f"INSERT INTO {t} VALUES {values}")
    for sql in statements[:-1]:
        star_eng.execute(sql)
    got = [tuple(r) for r in star_eng.execute(statements[-1]).rows()]
    want = con.execute(oracle).fetchall()
    assert got == want if ordered else sorted(got) == sorted(want)


# ------------------------------------------------- GROUP_CONCAT rewrite


@given(st.text(alphabet="abc'\"`(), GROUP_CONCAT", max_size=40))
def test_group_concat_rewrite_total(sql):
    """The rewriter never crashes on arbitrary (even malformed) input —
    it either rewrites or raises ValueError (unbalanced parens), and
    text without an unquoted GROUP_CONCAT( passes through verbatim."""
    from ebike_spark.engine.parser import rewrite_dialect

    try:
        out = rewrite_dialect(sql, 0)
    except ValueError:
        return  # unbalanced GROUP_CONCAT( — rejected, never mangled
    if "GROUP_CONCAT" not in sql.upper():
        assert out == sql


@given(
    idents,
    st.sampled_from(["", "DISTINCT "]),
    st.one_of(st.none(), idents),
    st.one_of(st.none(), st.text(alphabet="|;, ORDER BY'", max_size=6)),
)
def test_group_concat_rewrite_shape(expr, distinct, order, sep):
    """Well-formed GROUP_CONCAT always becomes listagg with the same
    expr, a WITHIN GROUP iff ORDER BY was present, and the separator
    literal carried through byte-for-byte."""
    from ebike_spark.engine.parser import rewrite_dialect

    inner = f"{distinct}{expr}"
    if order:
        inner += f" ORDER BY {order}"
    if sep is not None:
        sep_lit = "'" + sep.replace("'", "") + "'"
        inner += f" SEPARATOR {sep_lit}"
    else:
        sep_lit = "','"
    out = rewrite_dialect(f"SELECT GROUP_CONCAT({inner}) FROM t", 0)
    assert out.startswith(f"SELECT listagg({distinct}{expr}, {sep_lit})")
    assert ("WITHIN GROUP" in out) == bool(order)
    assert out.endswith(" FROM t")


# ----------------------------- strict+rounding integer cast semantics

# The documented contract of dml's BIGINT cast (rounding_bigint_cast
# composed with the strict guard): MySQL rounding for fractional
# values, exactness for big integers, 1366 for overflow/junk — with
# the one-ULP ambiguity at exactly 2^63 pinned (stores Long.Max).
_LONG_LIMIT = 9223372036854775808.0  # 2^63 as a double, exactly


def _ref_bigint_cast(v):
    """Python reference of the guarded BIGINT cast: returns the stored
    long or the string 'ERR' (engine 1366)."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    def round_half_up(d: float) -> int:
        return int(Decimal(d).quantize(Decimal(1), rounding=ROUND_HALF_UP))

    if isinstance(v, int):
        d = float(v)
        if abs(d) > _LONG_LIMIT:
            return "ERR"
        return v  # direct cast is exact; d == float(int(d)) detour never fires
    if isinstance(v, float):
        d = v
        if abs(d) > _LONG_LIMIT:
            return "ERR"  # saturation guard
        if abs(d) >= _LONG_LIMIT:
            # exactly ±2^63: detour refused (not < limit), direct cast
            # saturates — the documented one-ULP ambiguity window
            return 9223372036854775807 if d > 0 else -(2**63)
        direct = int(d)  # trunc toward zero, in range
        if d != float(direct):
            return round_half_up(d)
        return direct
    # string — Spark's NON-ANSI string→long cast (UTF8String.toLong)
    # accepts [+-]digits[.digits] and TRUNCATES the fraction toward
    # zero, keeping the integer part EXACT at any digit count within
    # long range ('10000000000000001.0' keeps all 17 digits); 'e'
    # forms and junk are NULL, out-of-range integer parts are NULL
    import re as _re

    s = v.strip()
    direct = None
    m = _re.fullmatch(r"([+-]?)([0-9]*)(\.[0-9]*)?", s)
    if m and s and (m.group(2) or (m.group(3) or "").lstrip(".")):
        cand = int((m.group(1) or "") + (m.group(2) or "0"))
        if -(2**63) <= cand <= 2**63 - 1:
            direct = cand
    try:
        dbl = float(s) if s else None
        if dbl is not None and math.isnan(dbl):
            dbl = None
    except ValueError:
        dbl = None
    if dbl is not None and abs(dbl) > _LONG_LIMIT:
        return "ERR"
    if dbl is not None and abs(dbl) < _LONG_LIMIT and (direct is None or dbl != float(direct)):
        return round_half_up(dbl)
    if direct is None:
        return "ERR"  # raw non-NULL, cast NULL -> strict guard raises
    return direct


_cast_ints = st.integers(min_value=-(2**63), max_value=2**63 - 1)
_cast_floats = st.floats(allow_nan=False, allow_infinity=False, width=64)
_cast_strs = st.one_of(
    st.from_regex(r"\-?[0-9]{1,18}(\.[0-9]{1,6})?", fullmatch=True),
    st.from_regex(r"\-?[0-9]{19,24}", fullmatch=True),  # overflow-ish
    st.sampled_from(
        ["junk", "", " 42 ", "2.5", "-2.5", "1e3", ".5",
         "9223372036854775807", "9223372036854775808", "1e300"]
    ),
)


def _check_cast_batch(spark, values, spark_type_lit):
    from ebike_spark.engine.dml import strict_cast_sql
    from ebike_spark.engine.errors import EbikeError, bad_value, marked

    expected = [_ref_bigint_cast(v) for v in values]
    good = [(v, e) for v, e in zip(values, expected) if e != "ERR"]
    bad = [v for v, e in zip(values, expected) if e == "ERR"]
    if good:
        df = spark.createDataFrame([(v,) for v, _ in good], f"v {spark_type_lit}")
        got = [
            r["c"]
            for r in df.select(
                F.expr(strict_cast_sql("v", "BIGINT", "v")).alias("c")
            ).collect()
        ]
        assert got == [e for _, e in good], (values, got)
    if bad:
        df = spark.createDataFrame([(v,) for v in bad], f"v {spark_type_lit}")
        try:
            df.select(
                F.expr(strict_cast_sql("v", "BIGINT", "v")).alias("c")
            ).collect()
            raised = False
        except Exception as e:  # the 1366 marker crosses as a JVM error
            raised = marked(bad_value("v")) in str(e)
        assert raised, f"expected 1366 for {bad}"


@SLOW
@given(st.lists(_cast_ints, min_size=1, max_size=20))
def test_guarded_bigint_cast_ints_match_reference(spark, vals):
    """Every in-range integer stores EXACTLY (never a double detour)."""
    _check_cast_batch(spark, vals, "long")


@SLOW
@given(st.lists(_cast_floats, min_size=1, max_size=20))
def test_guarded_bigint_cast_floats_match_reference(spark, vals):
    """Doubles follow MySQL rounding (HALF_UP away from zero) inside
    long range and raise 1366 beyond it — property-checked against an
    independent Decimal-based Python reference."""
    _check_cast_batch(spark, vals, "double")


@SLOW
@given(st.lists(_cast_strs, min_size=1, max_size=20))
def test_guarded_bigint_cast_strings_match_reference(spark, vals):
    """Numeric strings round like MySQL ('2.7' -> 3), pure integers
    stay exact at 19 digits, junk and overflow raise 1366."""
    _check_cast_batch(spark, vals, "string")


# The same values written into a BIGINT column through every write
# path: each path stores the reference's number, or raises 1366 and
# leaves its table's rows as they were.
_PATH_VALUES = [2.5, -2.5, "2.7", 9007199254740993, _LONG_LIMIT, 1e300,
                "9223372036854775808", " 42 ", "junk", ""]
_WRITE_PATHS = ("values_inline", "values_per_row", "insert_select", "update", "upsert", "alter_modify")


def _write_bigint(eng, path: str, value) -> object:
    """Write ``value`` (as its SQL literal) into the BIGINT column ``n``
    of row 1 of a new table named ``path``, through that write path.
    Returns the stored number, or the MySQL code of a refused write
    after checking that the table's rows are unchanged."""
    from ebike_spark.engine.errors import EbikeError

    lit = repr(value)  # 2.5 is a DECIMAL literal, 1e+300 a DOUBLE
    if path == "alter_modify":
        src = {float: "DOUBLE", int: "DECIMAL(30,0)", str: "CHAR"}[type(value)]
        eng.execute(f"CREATE TABLE {path} (id INT NOT NULL, n {src}, PRIMARY KEY (id))")
        eng.execute(f"INSERT INTO {path} VALUES (1, {lit})")
    else:
        eng.execute(f"CREATE TABLE {path} (id INT NOT NULL, n BIGINT, PRIMARY KEY (id))")
    if path in ("update", "upsert"):
        eng.execute(f"INSERT INTO {path} VALUES (1, 0)")
    stmt = {
        "values_inline": f"INSERT INTO {path} VALUES (1, {lit})",
        "values_per_row": f"INSERT INTO {path} VALUES (0 + 1, {lit})",
        "insert_select": f"INSERT INTO {path} SELECT 1, {lit}",
        "update": f"UPDATE {path} SET n = {lit} WHERE id = 1",
        "upsert": f"INSERT INTO {path} VALUES (1, 0) ON DUPLICATE KEY UPDATE n = {lit}",
        "alter_modify": f"ALTER TABLE {path} MODIFY n BIGINT",
    }[path]

    def rows():
        return sorted(tuple(r) for r in eng.execute(f"SELECT id, n FROM {path}").rows())

    before = rows()
    try:
        eng.execute(stmt)
    except EbikeError as e:
        assert rows() == before, (path, value)
        return e.code
    return dict(rows())[1]


@pytest.mark.parametrize("value", _PATH_VALUES, ids=repr)
def test_strict_bigint_cast_agrees_on_every_write_path(spark, value):
    """INSERT … VALUES in both forms, INSERT … SELECT, UPDATE, ON
    DUPLICATE KEY UPDATE and ALTER MODIFY store the same number for a
    value, equal to _ref_bigint_cast's, or all raise 1366."""
    import uuid as _uuid

    from ebike_spark.engine import Engine

    want = _ref_bigint_cast(value)
    eng = Engine(spark)
    db = f"pc_{_uuid.uuid4().hex[:8]}"
    eng.execute(f"CREATE DATABASE {db}")
    try:
        eng.execute(f"USE {db}")
        got = {path: _write_bigint(eng, path, value) for path in _WRITE_PATHS}
        assert got == {path: 1366 if want == "ERR" else want for path in _WRITE_PATHS}
    finally:
        eng.execute(f"DROP DATABASE IF EXISTS {db}")


# ----------------------- LOAD DATA IGNORE closest-value coercion

# Independent Python reference of MySQL's legacy numeric coercion to
# BIGINT (the _mysql_coerce_numeric contract): leading numeric prefix
# parses (EXACTLY when it is integer-only — no double detour), junk
# and empty coerce to 0, fractional/scientific prefixes round HALF_UP
# away from zero, and out-of-range magnitudes clamp to the long range.
# This path had exactly one escaped bug in r9 ('12.9abc' stored 12
# via the truncation-parsing bigint cast instead of 13, ADVICE-r10) —
# the strict-cast properties above could not see it because IGNORE
# never raises. Property-checking it against its own reference closes
# that hole.
_PREFIX_RE = r"^[ \t]*[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?"


def _ref_mysql_coerce_bigint(s: str) -> int:
    import re as _re
    from decimal import ROUND_HALF_UP, Decimal

    # CLEAN numeric strings take the same strict-cast path INSERT
    # VALUES uses (coalesce(exact, ...) in _mysql_coerce_numeric), so
    # they carry its documented double-detour semantics — reuse that
    # reference verbatim. Only strings the strict cast rejects fall to
    # the closest-value prefix logic below.
    r = _ref_bigint_cast(s)
    if r != "ERR":
        return r
    LONG_MAX, LONG_MIN = 2**63 - 1, -(2**63)
    m = _re.match(_PREFIX_RE, s)
    p = m.group(0).strip() if m else ""
    if not p:
        return 0
    if not _re.search(r"[eE]", p):
        # decimal prefix (junk tail / integer-part overflow): parsed
        # EXACTLY, rounded HALF_UP on the fraction, clamped — no
        # double detour at any digit count
        v = int(Decimal(p).quantize(Decimal(1), rounding=ROUND_HALF_UP))
        return max(LONG_MIN, min(LONG_MAX, v))
    d = float(p)  # exponent forms convert via double, like MySQL
    if d >= 2.0**63:  # +inf included
        return LONG_MAX
    if d <= -(2.0**63):  # -inf included
        return LONG_MIN
    return int(Decimal(d).quantize(Decimal(1), rounding=ROUND_HALF_UP))


_coerce_strs = st.one_of(
    # numeric prefix + junk tail in one shape
    st.from_regex(
        r"[ \t]{0,2}[+-]?[0-9]{0,22}(\.[0-9]{0,8})?([eE][+-]?[0-9]{0,3})?[a-z]{0,3}",
        fullmatch=True,
    ),
    st.sampled_from(
        [
            "12.9abc", "-2.5xyz", "2.9", "junk", "", " 42 abc", "NaN",
            "1e400", "-1e400", "9223372036854775808",
            "-9223372036854775809", "1234567890123456789abc",
            ".5xyz", "7.5e1x", "12.", "+5abc", ".e3abc", "0005.5junk",
        ]
    ),
)


@SLOW
@given(st.lists(_coerce_strs, min_size=1, max_size=24))
def test_load_data_ignore_coercion_matches_reference(spark, vals):
    """_mysql_coerce_numeric('BIGINT') stores exactly what MySQL's
    legacy closest-value coercion stores, for any junky string —
    including fractional prefixes, exponents, overflow clamps, and
    19-digit exact integer prefixes."""
    from ebike_spark.engine.dml import _mysql_coerce_numeric

    expected = [_ref_mysql_coerce_bigint(v) for v in vals]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = [
        r["c"]
        for r in df.select(
            _mysql_coerce_numeric("v", "BIGINT").alias("c")
        ).collect()
    ]
    assert got == expected, list(zip(vals, got, expected))


def _ref_mysql_coerce_double(s: str) -> float:
    """Python reference of the DOUBLE branch: a cleanly-parsing finite
    value stores as-is (MySQL can never store Inf/NaN); everything
    else falls back to the leading-prefix parse with ±DBL_MAX clamps
    and junk/empty → 0.0. Domain: the LOAD DATA field shapes the
    strategy below generates (decimal/exponent forms + junk tails) —
    NOT Java-parseDouble exotica (hex floats, d/f suffixes), which
    CSV numeric fields never contain."""
    import math
    import re as _re

    DBL_MAX = 1.7976931348623157e308
    try:
        d = float(s.strip()) if s.strip() else None
    except ValueError:
        d = None
    if d is not None and not math.isnan(d) and abs(d) <= DBL_MAX:
        return d
    m = _re.match(_PREFIX_RE, s)
    p = m.group(0).strip() if m else ""
    if not p:
        return 0.0
    v = float(p)
    return max(-DBL_MAX, min(DBL_MAX, v))


_coerce_dbl_strs = st.one_of(
    st.from_regex(
        r"[ \t]{0,2}[+-]?[0-9]{0,18}(\.[0-9]{0,8})?([eE][+-]?[0-9]{0,3})?[a-z]{0,3}",
        fullmatch=True,
    ),
    st.sampled_from(
        ["1e400", "-1e400", "NaN", "nan", "inf", "junk", "", "3.5abc",
         " -0.25e2 ", "12.", ".5", "+5e2", "1e-400", "0.0x"]
    ),
)


@SLOW
@given(st.lists(_coerce_dbl_strs, min_size=1, max_size=24))
def test_load_data_ignore_double_coercion_matches_reference(spark, vals):
    """_mysql_coerce_numeric('DOUBLE') never stores Inf/NaN ('1e400'
    clamps to ±DBL_MAX, 'NaN'/'inf' coerce like junk to 0.0) and
    prefix-parses junk tails — property-checked against the
    independent Python model over LOAD DATA field shapes."""
    from ebike_spark.engine.dml import _mysql_coerce_numeric

    expected = [_ref_mysql_coerce_double(v) for v in vals]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = [
        r["c"]
        for r in df.select(
            _mysql_coerce_numeric("v", "DOUBLE").alias("c")
        ).collect()
    ]
    assert got == expected, list(zip(vals, got, expected))


# ------------------------- BPE cross-engine replace/pair parity (r11)

_bpe_symbols = st.sampled_from(["a", "b", "ab", "ba", "aa"])
_bpe_seqs = st.lists(
    st.lists(_bpe_symbols, min_size=1, max_size=6).map(" ".join),
    min_size=1,
    max_size=8,
)


@SLOW
@given(_bpe_seqs, _bpe_symbols, _bpe_symbols)
def test_bpe_replace_and_pairs_match_python_and_duckdb(spark, seqs, pa, pb):
    """The two primitives text_bpe_learn_merges' EXACT oracle rests on,
    as a property over adversarial symbol runs ('a a a a', overlapping
    'a ab a' shapes): (1) the padded single-pass merge replace and
    (2) adjacent-pair extraction produce byte-identical results in
    Spark, DuckDB, and pure Python. A divergence in either primitive
    on ANY input would be a latent oracle flake the fixture corpus
    merely hasn't hit yet."""
    import duckdb

    pair, merged = f"{pa} {pb}", f"{pa}{pb}"

    def py_replace(s: str) -> str:
        return (" " + s + " ").replace(f" {pair} ", f" {merged} ").strip()

    def py_pairs(s: str) -> list[str]:
        parts = s.split(" ")
        return [f"{x} {y}" for x, y in zip(parts, parts[1:])]

    df = spark.createDataFrame([(s,) for s in seqs], "seq string")
    seq = F.col("seq")
    rep = F.trim(
        F.replace(
            F.concat(F.lit(" "), seq, F.lit(" ")),
            F.lit(f" {pair} "),
            F.lit(f" {merged} "),
        )
    )
    parts = F.split(seq, " ")
    pairs = F.transform(
        F.slice(parts, 1, F.size(parts) - 1),
        lambda x, i: F.concat_ws(" ", x, F.get(parts, i + 1)),
    )
    got = df.select(rep.alias("r"), pairs.alias("p")).collect()
    con = duckdb.connect()
    for s, row in zip(seqs, got):
        assert row["r"] == py_replace(s), (s, pair)
        assert row["p"] == py_pairs(s), (s,)
        dr, dp = con.execute(
            """
            SELECT trim(replace(' ' || ? || ' ', ?, ?)),
                   [parts[i] || ' ' || parts[i+1]
                    FOR i IN generate_series(1, len(parts) - 1)]
            FROM (SELECT string_split(?, ' ') AS parts)
            """,
            [s, f" {pair} ", f" {merged} ", s],
        ).fetchone()
        assert dr == py_replace(s), (s, pair)
        assert dp == py_pairs(s), (s,)


# ----------------------- PPJoin losslessness on random corpora (r11)

_pp_tokens = st.sampled_from([f"t{i}" for i in range(12)])
_pp_corpus = st.lists(
    st.sets(_pp_tokens, min_size=1, max_size=8),
    min_size=2,
    max_size=10,
)


@SLOW
@given(_pp_corpus)
def test_ppjoin_matches_python_ground_truth(spark, docsets):
    """dedup_ppjoin's prefix+length filter is LOSSLESS on arbitrary
    corpora, not just the fixture shapes: the filtered pipeline's pair
    set equals a pure-Python all-pairs jaccard at the same integer
    rational threshold — skewed dfs, ties in the (df, token) order,
    singleton docs, identical docs, all generated freely."""
    from itertools import combinations

    from ebike_spark.operators.dedup import (
        PPJOIN_T_DEN,
        PPJOIN_T_NUM,
        ppjoin_pairs,
    )

    rows = [(d, s) for d, toks in enumerate(docsets) for s in toks]
    sh = spark.createDataFrame(rows, "doc_id long, s string")
    got = {
        (r["d1"], r["d2"], r["shared_shingles"])
        for r in ppjoin_pairs(sh).collect()
    }
    want = set()
    for d1, d2 in combinations(range(len(docsets)), 2):
        c = len(docsets[d1] & docsets[d2])
        u = len(docsets[d1]) + len(docsets[d2]) - c
        if PPJOIN_T_DEN * c >= PPJOIN_T_NUM * u:
            want.add((d1, d2, c))
    assert got == want


# ------------------- z-order interleave cross-engine parity (r11)

@SLOW
@given(
    st.lists(
        st.tuples(st.integers(0, (1 << 16) - 1), st.integers(0, (1 << 16) - 1)),
        min_size=1,
        max_size=20,
    )
)
def test_zorder_interleave_matches_python_and_duckdb(spark, pairs):
    """io_zorder_layout's oracle rests on the 32-term bit-interleave
    evaluating identically in Spark and DuckDB; property it against a
    pure-Python reference over the full 16-bit × 16-bit domain (the
    fixture normalization maps into exactly this range)."""
    import duckdb

    from ebike_spark.sources.io_layout import ZORDER_BITS, _z_terms

    def py_z(u: int, t: int) -> int:
        z = 0
        for i in range(ZORDER_BITS):
            z |= ((u >> i) & 1) << (2 * i)
            z |= ((t >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(pairs, "u long, t long")
    got = [
        r["z"]
        for r in df.select(
            F.expr(_z_terms("u", "t", "spark")).alias("z")
        ).collect()
    ]
    want = [py_z(u, t) for u, t in pairs]
    assert got == want
    con = duckdb.connect()
    for (u, t), w in zip(pairs, want):
        dz = con.execute(
            f"SELECT {_z_terms(str(u), str(t), 'duck')}"
        ).fetchone()[0]
        assert dz == w, (u, t)


# ------------------------------------------- INSERT … VALUES: two forms

# Literal cell families. Each column of a batch draws from one family
# (plus NULLs), so most batches take the inline-table form while
# exact-numeric families still mix types inside a column and exercise
# Spark's per-column widening; the `any` family mixes everything and
# takes the per-row form.
_ints = st.one_of(
    st.integers(-1000, 1000),  # incl. negatives
    st.integers(2**53 - 3, 2**53 + 3),  # exact integers beyond 2^53
    st.integers(-(2**63) - 5, 2**63 + 5),  # incl. beyond BIGINT
).map(str)
_fractions = st.sampled_from(["2.5", "-2.5", "0.5", "-0.5", "1.49", "0.001"])  # into BIGINT: rounds
_decimals = st.decimals(-(10**8), 10**8, places=3, allow_nan=False, allow_infinity=False).map(str)
_exact = st.one_of(_ints, _fractions, _decimals)
_doubles = st.floats(allow_nan=False, allow_infinity=False).map(lambda x: f"{x:e}")  # exponent form
_quoted_numerics = st.sampled_from(["'12'", "'2.5'", "'-3.5'", "'1e3'", "' 7 '"])
_overflow = st.sampled_from(["'99999999999999999999'", "'-9223372036854775809'", "'1e400'"])
_strings = st.one_of(
    st.sampled_from(["'it\\'s'", "'a''b'", "'\\\\'", "''"]),  # escaped quotes, backslash
    st.from_regex(r"[a-z]{1,8}", fullmatch=True).map(lambda x: f"'{x}'"),
)
_booleans = st.sampled_from(["TRUE", "FALSE"])
_any = st.one_of(_exact, _doubles, _quoted_numerics, _overflow, _strings, _booleans)
_VALUES_FAMILIES = [  # per column (id, n, d, f, s)
    [st.sampled_from([str(i) for i in range(1, 41)] + ["2.5", "'5'"] + ["NULL"] * 3)],
    [_ints, _fractions, _exact, _doubles, _quoted_numerics, _overflow, _booleans, st.one_of(_booleans, _ints)],
    [_decimals, _exact, _ints, _quoted_numerics],
    [_doubles, _exact, _decimals],
    [_strings, _quoted_numerics, _ints],
]
_VALUES_DDL = (
    "(id INT NOT NULL, n INT, d DECIMAL(12,3), f FLOAT, s CHAR, "
    "PRIMARY KEY (id), UNIQUE KEY us (s))"
)


@st.composite
def _values_batch(draw):
    """Rows of literal cells for columns (id, n, d, f, s)."""
    n_rows = draw(st.integers(1, 6))
    mixed = draw(st.sampled_from([None, None, None, 1, 2, 3, 4]))  # one column draws from _any
    columns = []
    for i, families in enumerate(_VALUES_FAMILIES):
        family = _any if i == mixed else draw(st.sampled_from(families))
        cell = family if i == 0 else st.one_of(family, family, family, st.just("NULL"))
        columns.append(draw(st.lists(cell, min_size=n_rows, max_size=n_rows)))
    return [list(row) for row in zip(*columns)]


def _insert_outcome(eng, table: str, sql: str):
    """('ok', affected, stored rows) or ('err', MySQL code)."""
    from ebike_spark.engine.errors import EbikeError

    try:
        affected = eng.execute(sql.replace("{t}", table, 1)).affected
    except EbikeError as e:
        return ("err", e.code)
    rows = eng.execute(f"SELECT id, n, d, f, s FROM {table}").rows()
    return ("ok", affected, sorted((tuple(r) for r in rows), key=repr))


@settings(SLOW, max_examples=20)
@given(_values_batch(), st.sampled_from(["ok"] * 6 + ["short_row", "unknown_col"]))
def test_inline_and_per_row_values_agree(spark, cells, shape):
    """The inline-table form and the per-row form of one literal VALUES
    batch store identical rows, or raise the same MySQL code (1366 bad
    cast, 1048 NULL into NOT NULL, 1062 duplicate, 1136 column count,
    1054 unknown column) — against a table holding one stored row."""
    import uuid as _uuid
    from unittest import mock

    from ebike_spark.engine import Engine, dml
    from ebike_spark.engine.parser import parse_insert

    cols = "id, n, d, f, s"
    if shape == "short_row":
        cells[-1].pop()
    elif shape == "unknown_col":
        cols = "id, n, d, f, zz"
    sql = f"INSERT INTO {{t}} ({cols}) VALUES " + ", ".join(f"({', '.join(r)})" for r in cells)

    eng = Engine(spark)
    db = f"pv_{_uuid.uuid4().hex[:8]}"
    eng.execute(f"CREATE DATABASE {db}")
    try:
        eng.execute(f"USE {db}")
        for t in ("inline_t", "per_row_t"):
            eng.execute(f"CREATE TABLE {t} {_VALUES_DDL}")
            eng.execute(f"INSERT INTO {t} VALUES (1, 1, 1.5, 1e0, 'stored')")
        if shape == "ok":
            types = dict(eng.catalog.table(f"{db}.inline_t").columns)
            ins = parse_insert(sql.replace("{t}", "inline_t", 1))
            event(f"inline form: {dml._inline_ok(ins, list(types), types)}")
        inline = _insert_outcome(eng, "inline_t", sql)
        with mock.patch.object(dml, "_inline_ok", return_value=False):
            per_row = _insert_outcome(eng, "per_row_t", sql)
        event(f"outcome: {inline[0]} {inline[1] if inline[0] == 'err' else ''}")
        assert inline == per_row, sql
        assert inline[0] == "ok" or inline[1] in (1366, 1048, 1062, 1136, 1054), (inline, sql)
    finally:
        eng.execute(f"DROP DATABASE IF EXISTS {db}")


def test_all_literal_values_batch_folds_to_a_local_relation(spark):
    """An all-literal VALUES batch is one inline table: its plan
    optimizes to a LocalRelation and collecting it starts no Spark job.
    The same batch with one non-literal cell takes the per-row form and
    stores the same rows."""
    import uuid as _uuid

    from ebike_spark.engine import Engine, dml
    from ebike_spark.engine.parser import parse_insert

    eng = Engine(spark)
    db = f"pf_{_uuid.uuid4().hex[:8]}"
    eng.execute(f"CREATE DATABASE {db}")
    try:
        eng.execute(f"USE {db}")
        for t in ("inline_t", "per_row_t"):
            eng.execute(f"CREATE TABLE {t} {_VALUES_DDL}")
        col_types = eng.catalog.table(f"{db}.inline_t").columns
        types = dict(col_types)
        rows = "(1, 2.5, 1.25, 1e3, 'a'), (2, 7, NULL, -2e0, 'b'), (3, -2.5, 3, NULL, NULL)"
        ins = parse_insert(f"INSERT INTO inline_t VALUES {rows}")
        assert dml._inline_ok(ins, list(types), types)
        df = dml._values_df(spark, ins, col_types)
        assert df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName() == "LocalRelation"
        sc = spark.sparkContext
        group = f"values_fold_{_uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "inline VALUES collect")
        try:
            df.collect()
        finally:
            sc._jsc.clearJobGroup()
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0

        eng.execute(f"INSERT INTO inline_t VALUES {rows}")
        per_row = rows.replace("(1, ", "(0 + 1, ", 1)
        assert not dml._inline_ok(parse_insert(f"INSERT INTO t VALUES {per_row}"), list(types), types)
        eng.execute(f"INSERT INTO per_row_t VALUES {per_row}")

        def stored(t):
            return sorted(tuple(r) for r in eng.execute(f"SELECT * FROM {t}").rows())

        assert stored("inline_t") == stored("per_row_t") and len(stored("inline_t")) == 3
    finally:
        eng.execute(f"DROP DATABASE IF EXISTS {db}")


def test_values_widening_that_would_change_a_value_takes_per_row_form(spark):
    """An inline table widens each column to one type: an exact integer
    beyond 2^53 beside a double literal would widen to DOUBLE and store
    2^53 + 2; beside 0.5 in a DECIMAL(38,0)-wide column it would round
    0.5 away; a STRING column would store 5 as '5.0'. Such batches must
    take the per-row form, and store every value exactly."""
    import uuid as _uuid

    from ebike_spark.engine import Engine, dml
    from ebike_spark.engine.parser import parse_insert

    types = {"n": "bigint", "s": "string", "d": "decimal(38,1)"}

    def inline_ok(col: str, *cells: str) -> bool:
        ins = parse_insert(f"INSERT INTO t ({col}) VALUES " + ", ".join(f"({c})" for c in cells))
        return dml._inline_ok(ins, [col], types)

    assert not inline_ok("n", "9007199254740993", "1e3")
    assert not inline_ok("d", "12345678901234567890123456789012345678", "0.5")
    assert not inline_ok("s", "5", "2.5")
    assert not inline_ok("n", "5", "'x'")
    assert not inline_ok("n", "1 + 1")
    # a space (or a comment, which reaches the parser as one) after the
    # sign: an expression, not one literal
    assert not inline_ok("n", "- 5")
    assert not inline_ok("d", "- 2.5")
    # one literal type per column, or exact numerics widened exactly
    # into a numeric column: the inline form
    assert inline_ok("n", "9007199254740993", "2.5", "NULL")
    assert inline_ok("s", "'it\\'s'", "'a''b'", "NULL")

    eng = Engine(spark)
    db = f"pw_{_uuid.uuid4().hex[:8]}"
    eng.execute(f"CREATE DATABASE {db}")
    try:
        eng.execute(f"USE {db}")
        eng.execute("CREATE TABLE w (n INT, s CHAR)")
        eng.execute("INSERT INTO w VALUES (9007199254740993, 5), (1e3, 2.5), (-2.5, NULL)")
        eng.execute("INSERT INTO w VALUES (- 5, NULL), (- 2.5, NULL), (-/* c */7, NULL)")
        got = sorted((r["n"], r["s"]) for r in eng.execute("SELECT n, s FROM w").rows())
        assert got == [(-7, None), (-5, None), (-3, None), (-3, None), (1000, "2.5"), (9007199254740993, "5")]
    finally:
        eng.execute(f"DROP DATABASE IF EXISTS {db}")
