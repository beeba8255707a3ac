"""End-to-end SQL tests for the Engine, mirroring the reference's own
test layer (/root/reference/src/test/base_sql.rs: show_databases,
show_tables, insert+select*, delete+count golden, show_create_table)
plus the constraint/ALTER/variable/prepared surfaces. Isolation follows
the reference's fresh-sled-dir-per-test idea
(/root/reference/src/test/test_util.rs:16-23): a fresh database per
test, dropped afterwards."""

from __future__ import annotations

import os
import uuid
from collections import Counter

import pytest

from ebike_spark.engine import EbikeError, Engine, commit


@pytest.fixture()
def eng(spark):
    e = Engine(spark)
    db = f"t_{uuid.uuid4().hex[:10]}"
    e.execute(f"CREATE DATABASE {db}")
    e.execute(f"USE {db}")
    yield e
    e.execute(f"DROP DATABASE IF EXISTS {db}")


# FIXTURES.md group A — the reference's own DML fixture tables.
USER_DDL = "CREATE TABLE user (id INT NOT NULL, name CHAR, stature FLOAT, PRIMARY KEY (id, name))"


def test_show_databases(eng):
    rows = eng.execute("SHOW DATABASES").rows()
    names = [r["Database"] for r in rows]
    assert "default" in names and eng.current_db in names


def test_show_tables_and_columns(eng):
    eng.execute(USER_DDL)
    tabs = [r[0] for r in eng.execute("SHOW TABLES").rows()]
    assert tabs == ["user"]
    cols = eng.execute("SHOW COLUMNS FROM user").rows()
    assert [(r["Field"], r["Type"], r["Null"], r["Key"]) for r in cols] == [
        ("id", "int", "NO", "PRI"),
        ("name", "char", "NO", "PRI"),
        ("stature", "float", "YES", ""),
    ]


def test_insert_select_star(eng):
    # base_sql.rs:94-150: INSERT affected-rows 1, SELECT * returns the row
    eng.execute(USER_DDL)
    r = eng.execute("INSERT INTO user VALUES (1, 'lucy', 1.70)")
    assert r.kind == "count" and r.affected == 1
    rows = eng.execute("SELECT * FROM user").rows()
    assert len(rows) == 1
    assert (rows[0]["id"], rows[0]["name"], rows[0]["stature"]) == (1, "lucy", 1.70)


def test_delete_then_count_zero(eng):
    # base_sql.rs:152-233 golden: DELETE then COUNT(*) = 0
    eng.execute(USER_DDL)
    eng.execute("INSERT INTO user VALUES (1, 'lucy', 1.70)")
    r = eng.execute("DELETE FROM user WHERE id = 1")
    assert r.affected == 1
    rows = eng.execute("SELECT COUNT(*) AS c FROM user").rows()
    assert rows[0]["c"] == 0


def test_update(eng):
    eng.execute(USER_DDL)
    eng.execute("INSERT INTO user VALUES (1, 'lucy', 1.70), (2, 'bob', 1.80)")
    r = eng.execute("UPDATE user SET stature = 1.75 WHERE id = 1")
    assert r.affected == 1
    rows = {x["id"]: x["stature"] for x in eng.execute("SELECT id, stature FROM user").rows()}
    assert rows == {1: 1.75, 2: 1.80}
    # expression assignment referencing the old value
    eng.execute("UPDATE user SET stature = stature + 0.05 WHERE name = 'bob'")
    rows = {x["id"]: x["stature"] for x in eng.execute("SELECT id, stature FROM user").rows()}
    assert rows[2] == pytest.approx(1.85)


def test_duplicate_primary_key(eng):
    # insert.rs:197-220: duplicate entry → MySQL error 1062
    eng.execute(USER_DDL)
    eng.execute("INSERT INTO user VALUES (1, 'lucy', 1.70)")
    with pytest.raises(EbikeError) as ei:
        eng.execute("INSERT INTO user VALUES (1, 'lucy', 1.99)")
    assert ei.value.code == 1062
    # same id, different name → composite key, allowed
    eng.execute("INSERT INTO user VALUES (1, 'lucy2', 1.60)")
    # intra-batch duplicate also rejected
    with pytest.raises(EbikeError):
        eng.execute("INSERT INTO user VALUES (7, 'x', 1.0), (7, 'x', 2.0)")


def test_not_null_enforced(eng, tmp_path):
    eng.execute(USER_DDL)
    with pytest.raises(EbikeError) as ei:
        eng.execute("INSERT INTO user VALUES (NULL, 'a', 1.0)")
    assert ei.value.code == 1048
    # data-sized sources check every NOT NULL column in one job: the
    # NULL in the second NOT NULL column is found, and the first column
    # in declared order is named when both hold one
    eng.execute("CREATE TABLE nn2 (a INT NOT NULL, b CHAR NOT NULL, c INT)")
    eng.execute("CREATE TABLE src (a INT, b CHAR, c INT)")
    eng.execute("INSERT INTO src VALUES (1, 'x', 1), (2, NULL, 2)")
    f = tmp_path / "nn.csv"
    f.write_text("1,x,1\n2,,2\n")
    for sql in ("INSERT INTO nn2 SELECT * FROM src", f"LOAD DATA INFILE '{f}' INTO TABLE nn2 FIELDS TERMINATED BY ','"):
        with pytest.raises(EbikeError) as ei:
            eng.execute(sql)
        assert (ei.value.code, ei.value.message) == (1048, "Column 'b' cannot be null"), sql
    eng.execute("INSERT INTO src VALUES (NULL, NULL, 3)")
    with pytest.raises(EbikeError) as ei:
        eng.execute("INSERT INTO nn2 SELECT * FROM src")
    assert (ei.value.code, ei.value.message) == (1048, "Column 'a' cannot be null")
    assert eng.execute("SELECT COUNT(*) AS n FROM nn2").rows()[0]["n"] == 0


def test_insert_constant_expressions(eng):
    # insert.rs:113-164: VALUES may be arbitrary constant expressions
    eng.execute("CREATE TABLE t (a INT, b CHAR, c FLOAT)")
    eng.execute("INSERT INTO t VALUES (1 + 1, upper('ab'), sqrt(4))")
    r = eng.execute("SELECT * FROM t").rows()[0]
    assert (r["a"], r["b"], r["c"]) == (2, "AB", 2.0)


def test_show_create_table(eng):
    eng.execute(USER_DDL)
    rows = eng.execute("SHOW CREATE TABLE user").rows()
    ddl = rows[0]["Create Table"]
    assert "`id` int NOT NULL" in ddl
    assert "PRIMARY KEY (`id`, `name`)" in ddl
    assert rows[0]["Table"] == "user"


def test_type_whitelist(eng):
    # meta_util.rs:553-561 rejects non-INT/FLOAT/CHAR; this engine
    # additionally accepts the mysqldump synonym family plus exact
    # DECIMAL (see test_create_table_mysql_type_synonyms) but anything
    # outside the map is a clean 1064, never a silent coercion
    with pytest.raises(EbikeError):
        eng.execute("CREATE TABLE bad (d BLOB)")
    with pytest.raises(EbikeError):
        eng.execute("CREATE TABLE bad (d JSON)")
    # DECIMAL beyond Spark's 38-digit cap: clean 1064, no truncation
    with pytest.raises(EbikeError) as ei:
        eng.execute("CREATE TABLE bad (d DECIMAL(65,2))")
    assert ei.value.code == 1064


def test_alter_add_drop_column(eng):
    eng.execute("CREATE TABLE t (a INT NOT NULL, b CHAR, PRIMARY KEY (a))")
    eng.execute("INSERT INTO t VALUES (1, 'x')")
    eng.execute("ALTER TABLE t ADD COLUMN c FLOAT")
    assert [r["Field"] for r in eng.execute("SHOW COLUMNS FROM t").rows()] == ["a", "b", "c"]
    r = eng.execute("SELECT * FROM t").rows()[0]
    assert (r["a"], r["b"], r["c"]) == (1, "x", None)
    eng.execute("ALTER TABLE t DROP COLUMN b")
    assert [r["Field"] for r in eng.execute("SHOW COLUMNS FROM t").rows()] == ["a", "c"]
    assert eng.execute("SELECT * FROM t").rows()[0]["a"] == 1
    with pytest.raises(EbikeError) as ei:
        eng.execute("ALTER TABLE t DROP COLUMN nope")
    assert ei.value.code == 1091


def test_use_unknown_database(eng):
    with pytest.raises(EbikeError) as ei:
        eng.execute("USE definitely_not_a_db")
    assert ei.value.code == 1049


def test_each_engine_runs_in_its_own_database_on_a_shared_session(spark):
    """Two Engines on one SparkSession: database() in A's statements is
    A's database, whichever Engine ran the session's last statement."""
    a, b = Engine(spark), Engine(spark)
    pa, pb = (f"p{c}_{uuid.uuid4().hex[:8]}" for c in "ab")
    for e, db in ((a, pa), (b, pb)):
        e.execute(f"CREATE DATABASE {db}")
        e.execute(f"USE {db}")
    try:
        a.execute("CREATE TABLE t (id INT, s CHAR)")
        a.execute("INSERT INTO t VALUES (1, 'x')")
        b.execute("SELECT 1")
        a.execute("UPDATE t SET s = database()")
        b.execute("SELECT 1")
        a.execute("SET @e = database()")
        assert a.execute("SELECT s FROM t").rows()[0]["s"] == pa
        assert a.execute("SELECT @e AS e").rows()[0]["e"] == pa
    finally:
        for e, db in ((a, pa), (b, pb)):
            e.execute(f"DROP DATABASE IF EXISTS {db}")


def test_current_database_dropped_by_another_connection_is_1049(spark):
    """A statement whose current database another connection dropped
    fails with 1049, the statements that need no database still run,
    and USE still switches database. A connection that drops its own
    current database is left in the default one."""
    a, b = Engine(spark), Engine(spark)
    db, other = (f"pd{c}_{uuid.uuid4().hex[:8]}" for c in "ab")
    a.execute(f"CREATE DATABASE {db}")
    a.execute(f"USE {db}")
    b.execute(f"DROP DATABASE {db}")
    for sql in ("SELECT 1", "SET @y = (SELECT 1)"):
        with pytest.raises(EbikeError) as ei:
            a.execute(sql)
        assert ei.value.code == 1049 and ei.value.message == f"Unknown database '{db}'"
    a.execute("SET @x = 1")
    a.execute("SET @s = 'SELECT'")
    assert a.execute("SHOW DATABASES").rows()
    a.execute(f"CREATE DATABASE {other}")
    a.execute(f"DROP DATABASE {other}")
    a.execute("USE default")
    assert a.execute("SELECT @x AS x, @s AS s").rows()[0] == (1, "SELECT")
    assert a.execute("SELECT 1 AS one").rows()[0]["one"] == 1
    # dropping its own current database leaves the default selected
    a.execute(f"CREATE DATABASE {db}")
    a.execute(f"USE {db}")
    a.execute(f"DROP DATABASE {db}")
    assert a.execute("SELECT database() AS d").rows()[0]["d"] == "default"


def test_table_not_exists(eng):
    with pytest.raises(EbikeError) as ei:
        eng.execute("INSERT INTO ghost VALUES (1)")
    assert ei.value.code == 1146


def test_show_variables_like(eng):
    """SHOW VARIABLES LIKE: no match is an empty result, a backslash
    escapes % and _, and the pattern is a MySQL string literal."""

    def names(like):
        return [r["Variable_name"] for r in eng.execute(f"SHOW VARIABLES LIKE {like}").rows()]

    assert names("'no_such%'") == []
    assert names("'version''s'") == []
    assert names("'max\\_allowed%'") == ["max_allowed_packet"]
    assert names("'max\\_allowed\\%'") == []
    assert names("'version\\_comment'") == ["version_comment"]
    assert names("'version_comment'") == ["version_comment"]
    assert names("\"wait%\"") == ["wait_timeout"]
    assert eng.execute("SHOW GLOBAL VARIABLES LIKE 'nothing'").rows() == []
    with pytest.raises(EbikeError) as ei:
        eng.execute("SHOW VARIABLES LIKE version")
    assert ei.value.code == 1064


def test_variables(eng):
    eng.execute("SET @x = 41")
    assert eng.execute("SELECT @x + 1 AS v").rows()[0]["v"] == 42
    assert "ebike-spark" in str(eng.execute("SELECT @@version AS v").rows()[0]["v"])
    eng.execute("SET NAMES utf8mb4")  # acknowledged no-op (execution.rs:884-886)
    rows = eng.execute("SHOW VARIABLES LIKE 'version%'").rows()
    names = [r["Variable_name"] for r in rows]
    assert "version" in names and "version_comment" in names
    eng.execute("SET @@sql_mode = ''")
    assert eng.execute("SELECT @@sql_mode AS v").rows()[0]["v"] == ""
    # commas inside quoted values must not split the assignment list
    eng.execute("SET @@sql_mode = 'ONLY_FULL_GROUP_BY,NO_ZERO_DATE', @y = 7")
    assert eng.execute("SELECT @@sql_mode AS v").rows()[0]["v"] == "ONLY_FULL_GROUP_BY,NO_ZERO_DATE"
    assert eng.execute("SELECT @y AS v").rows()[0]["v"] == 7


def test_select_no_from_and_dual(eng):
    assert eng.execute("SELECT 1 + 1 AS v").rows()[0]["v"] == 2
    assert eng.execute("SELECT 2 * 3 AS v FROM dual").rows()[0]["v"] == 6
    assert eng.execute("SELECT database() AS d").rows()[0]["d"] == eng.current_db


def test_prepared_statements(eng):
    eng.execute(USER_DDL)
    sid = eng.prepare("INSERT INTO user VALUES (?, ?, ?)")
    eng.execute_prepared(sid, [1, "lucy", 1.7])
    eng.execute_prepared(sid, [2, "o'brien", 1.9])
    sel = eng.prepare("SELECT name FROM user WHERE id = ?")
    assert eng.execute_prepared(sel, [2]).rows()[0]["name"] == "o'brien"
    eng.close_prepared(sid)
    with pytest.raises(EbikeError) as ei:
        eng.execute_prepared(sid, [3, "x", 1.0])
    assert ei.value.code == 1243
    with pytest.raises(EbikeError) as ei2:
        eng.execute_prepared(sel, [])
    assert ei2.value.code == 1210


def test_information_schema(eng):
    eng.execute(USER_DDL)
    rows = eng.execute(
        "SELECT column_name, is_nullable, column_key FROM information_schema.columns "
        f"WHERE table_schema = '{eng.current_db}' AND table_name = 'user' ORDER BY ordinal_position"
    ).rows()
    assert [(r[0], r[1], r[2]) for r in rows] == [
        ("id", "NO", "PRI"),
        ("name", "NO", "PRI"),
        ("stature", "YES", ""),
    ]
    schemata = eng.execute("SELECT schema_name FROM information_schema.schemata").rows()
    assert eng.current_db in [r[0] for r in schemata]


def test_show_misc(eng):
    assert eng.execute("SHOW ENGINES").rows()[0]["Engine"] == "parquet"
    assert eng.execute("SHOW CHARSET").rows()[0]["Charset"] == "utf8mb4"
    assert eng.execute("SHOW COLLATION").rows()[0]["Collation"] == "utf8mb4_0900_ai_ci"
    eng.execute(USER_DDL)
    eng.execute("INSERT INTO user VALUES (1, 'a', 1.0)")
    st = eng.execute("SHOW TABLE STATUS").rows()
    assert [(r["Name"], r["Rows"]) for r in st] == [("user", 1)]
    assert "GRANT" in eng.execute("SHOW GRANTS").rows()[0][0]


def test_commit_noop_and_unsupported(eng):
    assert eng.execute("COMMIT").kind == "ok"  # execution.rs:1265-1267
    with pytest.raises(EbikeError) as ei:
        eng.execute("GRANT ALL ON *.* TO 'x'")
    assert ei.value.code == 1105
    with pytest.raises(EbikeError):
        eng.execute("ROLLBACK")


def test_explain_passthrough(eng):
    eng.execute(USER_DDL)
    rows = eng.execute("EXPLAIN SELECT id FROM user WHERE id = 1").rows()
    assert rows and "user" in str(rows)


def test_update_key_violation_rejected(eng):
    """Beyond-reference fix: the reference corrupts its indexes on
    key-touching UPDATEs (SURVEY §3.3); we validate the post-image."""
    eng.execute("CREATE TABLE t (a INT NOT NULL, b CHAR, PRIMARY KEY (a))")
    eng.execute("INSERT INTO t VALUES (1, 'x'), (2, 'y')")
    with pytest.raises(EbikeError) as ei:
        eng.execute("UPDATE t SET a = 1 WHERE a = 2")
    assert ei.value.code == 1062
    # table unchanged after the rejected update
    assert sorted(r["a"] for r in eng.execute("SELECT a FROM t").rows()) == [1, 2]
    eng.execute("UPDATE t SET a = 3 WHERE a = 2")  # non-conflicting OK
    assert sorted(r["a"] for r in eng.execute("SELECT a FROM t").rows()) == [1, 3]


def test_create_table_with_engine_option(eng):
    # README.md:37-39 style DDL with trailing options parses
    eng.execute("CREATE TABLE t (id INT NOT NULL, name CHAR) ENGINE=sled DEFAULT CHARSET=utf8mb4")
    eng.execute("INSERT INTO t VALUES (1, 'a')")
    assert eng.execute("SELECT COUNT(*) AS c FROM t").rows()[0]["c"] == 1


def test_explain_variants(eng):
    eng.execute("CREATE TABLE t (a INT)")
    assert eng.execute("EXPLAIN VERBOSE SELECT a FROM t").rows()
    assert eng.execute("EXPLAIN ANALYZE SELECT a FROM t").rows()


def test_information_schema_constraints(eng):
    eng.execute(USER_DDL)
    tc = eng.execute(
        "SELECT constraint_name, constraint_type FROM information_schema.table_constraints "
        f"WHERE table_schema = '{eng.current_db}' AND table_name = 'user'"
    ).rows()
    assert [(r[0], r[1]) for r in tc] == [("PRIMARY", "PRIMARY KEY")]
    kcu = eng.execute(
        "SELECT column_name, ordinal_position FROM information_schema.key_column_usage "
        f"WHERE table_schema = '{eng.current_db}' AND table_name = 'user' ORDER BY ordinal_position"
    ).rows()
    assert [(r[0], r[1]) for r in kcu] == [("id", 1), ("name", 2)]
    st = eng.execute(
        "SELECT index_name, seq_in_index, column_name FROM information_schema.statistics "
        f"WHERE table_schema = '{eng.current_db}' AND table_name = 'user' ORDER BY seq_in_index"
    ).rows()
    assert [(r[0], r[2]) for r in st] == [("PRIMARY", "id"), ("PRIMARY", "name")]


K3_DDL = "CREATE TABLE k3 (id INT NOT NULL, u INT, m INT, PRIMARY KEY (id), UNIQUE KEY uu (u), KEY mk (m))"


def test_show_columns_and_information_schema_agree_on_column_key(eng):
    """SHOW COLUMNS' Key and information_schema.columns' column_key come
    from one rule: PRI, UNI for a UNIQUE column, MUL for the first
    column of a KEY."""
    eng.execute(K3_DDL)
    show = [(r["Field"], r["Key"]) for r in eng.execute("SHOW COLUMNS FROM k3").rows()]
    schema = eng.execute(
        "SELECT column_name, column_key FROM information_schema.columns "
        f"WHERE table_schema = '{eng.current_db}' AND table_name = 'k3' ORDER BY ordinal_position"
    ).rows()
    assert show == [tuple(r) for r in schema] == [("id", "PRI"), ("u", "UNI"), ("m", "MUL")]


def test_show_index_and_information_schema_statistics_agree(eng):
    """information_schema.statistics lists the KEY indexes (non_unique
    1) beside the PRIMARY and UNIQUE keys, in SHOW INDEX's order."""
    eng.execute(K3_DDL)
    show = [
        (r["Key_name"], r["Non_unique"], r["Seq_in_index"], r["Column_name"])
        for r in eng.execute("SHOW INDEX FROM k3").rows()
    ]
    stats = eng.execute(
        "SELECT index_name, non_unique, seq_in_index, column_name FROM information_schema.statistics "
        f"WHERE table_schema = '{eng.current_db}' AND table_name = 'k3'"
    ).rows()
    assert show == [tuple(r) for r in stats] == [("PRIMARY", 0, 1, "id"), ("uu", 0, 1, "u"), ("mk", 1, 1, "m")]


def test_describe_and_show_index(eng):
    eng.execute(USER_DDL)
    desc = eng.execute("DESCRIBE user").rows()
    assert [r["Field"] for r in desc] == ["id", "name", "stature"]
    assert eng.execute("DESC user").rows() == desc
    idx = eng.execute("SHOW INDEX FROM user").rows()
    assert [(r["Key_name"], r["Seq_in_index"], r["Column_name"]) for r in idx] == [
        ("PRIMARY", 1, "id"),
        ("PRIMARY", 2, "name"),
    ]


def test_views(eng):
    eng.execute("CREATE TABLE t (a INT, b CHAR)")
    eng.execute("INSERT INTO t VALUES (1, 'x'), (2, 'y'), (3, 'x')")
    eng.execute("CREATE VIEW vx AS SELECT b, COUNT(*) AS n FROM t GROUP BY b")
    rows = {r["b"]: r["n"] for r in eng.execute("SELECT * FROM vx").rows()}
    assert rows == {"x": 2, "y": 1}
    eng.execute("CREATE OR REPLACE VIEW vx AS SELECT COUNT(*) AS n FROM t")
    assert eng.execute("SELECT n FROM vx").rows()[0]["n"] == 3
    eng.execute("DROP VIEW vx")
    with pytest.raises(EbikeError):
        eng.execute("SELECT * FROM vx")


def test_information_schema_view_type(eng):
    eng.execute("CREATE TABLE t (a INT)")
    eng.execute("CREATE VIEW v AS SELECT a FROM t")
    rows = eng.execute(
        "SELECT table_name, table_type FROM information_schema.tables "
        f"WHERE table_schema = '{eng.current_db}' ORDER BY table_name"
    ).rows()
    assert [(r[0], r[1]) for r in rows] == [("t", "BASE TABLE"), ("v", "VIEW")]


def test_information_schema_cross_engine_invalidation(eng):
    """DDL through one Engine (connection) shows in the next
    information_schema read of any other Engine: every read builds the
    table from the shared catalog, so no connection can serve a stale
    copy."""
    other = Engine(eng.spark.newSession())
    q = (
        "SELECT table_name FROM information_schema.tables "
        f"WHERE table_schema = '{eng.current_db}' ORDER BY table_name"
    )
    eng.execute("CREATE TABLE inv_a (a INT)")
    # both engines warm their freshness cache on the same table
    assert [r[0] for r in eng.execute(q).rows()] == ["inv_a"]
    assert [r[0] for r in other.execute(q).rows()] == ["inv_a"]
    # DDL through ENGINE A must be visible to ENGINE B's next read
    eng.execute("CREATE TABLE inv_b (b INT)")
    assert [r[0] for r in other.execute(q).rows()] == ["inv_a", "inv_b"]
    # and the reverse direction: DROP through B, read through A
    other.execute(f"DROP TABLE {eng.current_db}.inv_b")
    assert [r[0] for r in eng.execute(q).rows()] == ["inv_a"]


def test_register_function(eng):
    eng.register_function("shout", lambda s: (s or "") + "!", "string")
    eng.execute("CREATE TABLE t (a CHAR)")
    eng.execute("INSERT INTO t VALUES ('hi')")
    assert eng.execute("SELECT shout(a) AS v FROM t").rows()[0]["v"] == "hi!"


def test_insert_on_duplicate_key_update(eng):
    """MySQL upsert — the reference 1105s this; we implement it as the
    anti-join+union rewrite (MERGE emulation)."""
    eng.execute("CREATE TABLE kv (k INT NOT NULL, v CHAR, n INT, PRIMARY KEY (k))")
    r = eng.execute("INSERT INTO kv VALUES (1, 'a', 1), (2, 'b', 1)")
    assert r.affected == 2
    # 1 update (affected 2, MySQL convention) + 1 insert (affected 1)
    r = eng.execute(
        "INSERT INTO kv VALUES (1, 'a2', 9), (3, 'c', 1) "
        "ON DUPLICATE KEY UPDATE v = VALUES(v), n = n + VALUES(n)"
    )
    assert r.affected == 3
    rows = {x["k"]: (x["v"], x["n"]) for x in eng.execute("SELECT * FROM kv").rows()}
    assert rows == {1: ("a2", 10), 2: ("b", 1), 3: ("c", 1)}
    # matched but UNCHANGED rows count 0 (MySQL: 2 only when changed)
    r = eng.execute("INSERT INTO kv VALUES (2, 'b', 1) ON DUPLICATE KEY UPDATE v = VALUES(v)")
    assert r.affected == 0
    # no unique key at all → MySQL: the ON DUPLICATE clause never fires
    eng.execute("CREATE TABLE nopk (a INT)")
    r = eng.execute("INSERT INTO nopk VALUES (1) ON DUPLICATE KEY UPDATE a = 2")
    assert r.affected == 1
    assert eng.execute("SELECT a FROM nopk").rows()[0]["a"] == 1


def test_upsert_via_any_unique_key(eng):
    """MySQL pairs ON DUPLICATE KEY UPDATE on ANY unique index, not just
    the PRIMARY KEY."""
    eng.execute(
        "CREATE TABLE u (id INT NOT NULL, email CHAR, n INT, "
        "PRIMARY KEY (id), UNIQUE KEY uq_email (email))"
    )
    eng.execute("INSERT INTO u VALUES (1, 'a@x', 1)")
    # new id but colliding email → updates the existing row via uq_email
    r = eng.execute(
        "INSERT INTO u VALUES (99, 'a@x', 5) ON DUPLICATE KEY UPDATE n = n + VALUES(n)"
    )
    assert r.affected == 2
    rows = eng.execute("SELECT id, email, n FROM u").rows()
    assert [(x["id"], x["email"], x["n"]) for x in rows] == [(1, "a@x", 6)]
    # ambiguous batch: one new row matches DIFFERENT existing rows via
    # different keys → rejected 1105 (order-dependent in MySQL)
    eng.execute("INSERT INTO u VALUES (2, 'b@x', 1)")
    with pytest.raises(EbikeError) as ei:
        eng.execute("INSERT INTO u VALUES (1, 'b@x', 7) ON DUPLICATE KEY UPDATE n = VALUES(n)")
    assert ei.value.code == 1105


def test_analyze_and_cache(eng):
    eng.execute("CREATE TABLE t (a INT)")
    eng.execute("INSERT INTO t VALUES (1), (2)")
    assert eng.execute("ANALYZE TABLE t COMPUTE STATISTICS").kind == "ok"
    assert eng.execute("CACHE TABLE t").kind == "ok"
    assert eng.execute("SELECT COUNT(*) AS c FROM t").rows()[0]["c"] == 2
    assert eng.execute("UNCACHE TABLE t").kind == "ok"


def test_mysql_limit_offset(eng):
    eng.execute("CREATE TABLE t (a INT)")
    eng.execute("INSERT INTO t VALUES (1), (2), (3), (4), (5)")
    rows = eng.execute("SELECT a FROM t ORDER BY a LIMIT 1, 2").rows()
    assert [r["a"] for r in rows] == [2, 3]


def test_execute_script(eng):
    results = eng.execute_script(
        """
        CREATE TABLE s (a INT, b CHAR);  -- comment survives stripping
        INSERT INTO s VALUES (1, 'x;y'), (2, 'z');
        SELECT COUNT(*) AS c FROM s;
        """
    )
    assert [r.kind for r in results] == ["count", "count", "rows"]
    assert results[-1].rows()[0]["c"] == 2
    # the ';' inside the string literal didn't split the statement
    assert eng.execute("SELECT b FROM s WHERE a = 1").rows()[0]["b"] == "x;y"


def test_system_tables_are_current_in_ctas_and_insert_select(eng):
    """CTAS and INSERT … SELECT read the system tables as the catalog
    stands at the statement, however warm an earlier read left them:
    the table created and the column added after that read are there."""
    db = eng.current_db
    eng.execute("CREATE TABLE a (x INT)")
    eng.execute("SELECT table_name FROM information_schema.tables").rows()
    eng.execute("CREATE TABLE b (x INT)")
    eng.execute(
        "CREATE TABLE snap AS SELECT table_name FROM information_schema.tables "
        f"WHERE table_schema = '{db}'"
    )
    assert sorted(r[0] for r in eng.execute("SELECT * FROM snap").rows()) == ["a", "b"]
    eng.execute("CREATE TABLE names (n CHAR)")
    eng.execute("SELECT column_name FROM information_schema.columns").rows()
    eng.execute("ALTER TABLE b ADD COLUMN y INT")
    eng.execute(
        "INSERT INTO names SELECT column_name FROM information_schema.columns "
        f"WHERE table_schema = '{db}' AND table_name = 'b'"
    )
    assert sorted(r[0] for r in eng.execute("SELECT n FROM names").rows()) == ["x", "y"]


def test_system_reads_create_no_database(eng):
    """Reading the system tables creates nothing in the catalog: SHOW
    DATABASES lists none of the system schemas afterwards and USE of
    one is 1049, as before any read."""
    eng.execute("SELECT * FROM information_schema.tables").rows()
    eng.execute("SELECT * FROM mysql.users").rows()
    eng.execute("SELECT * FROM performance_schema.global_variables").rows()
    names = {r[0] for r in eng.execute("SHOW DATABASES").rows()}
    assert not names & {"information_schema", "mysql", "performance_schema"}
    with pytest.raises(EbikeError) as ei:
        eng.execute("USE information_schema")
    assert ei.value.code == 1049


def test_system_read_sees_table_created_outside_engine(eng):
    """A table created by plain Spark SQL, with no engine DDL, is in the
    next information_schema read."""
    q = (
        "SELECT table_name FROM information_schema.tables "
        f"WHERE table_schema = '{eng.current_db}'"
    )
    eng.execute("CREATE TABLE inside (a INT)")
    assert [r[0] for r in eng.execute(q).rows()] == ["inside"]
    eng.spark.sql(f"CREATE TABLE {eng.current_db}.outside (a INT) USING parquet")
    assert sorted(r[0] for r in eng.execute(q).rows()) == ["inside", "outside"]


def test_system_table_reference_forms(eng):
    """A system-table reference resolves backtick-quoted and in any
    case, with or without an alias, qualified by the table's name and
    joined with a user table; the same text inside a string literal is
    left alone."""
    eng.execute("CREATE TABLE kv (k CHAR)")
    eng.execute("INSERT INTO kv VALUES ('kv'), ('zz')")
    rows = eng.execute(
        "SELECT tables.table_name, information_schema.tables.table_type, "
        "'information_schema.tables' AS lit FROM `Information_Schema`.`TABLES` "
        f"WHERE table_schema = '{eng.current_db}'"
    ).rows()
    assert [tuple(r) for r in rows] == [("kv", "BASE TABLE", "information_schema.tables")]
    rows = eng.execute(
        "SELECT kv.k, c.column_name FROM kv JOIN information_schema.COLUMNS AS c "
        f"ON c.table_name = kv.k WHERE c.table_schema = '{eng.current_db}'"
    ).rows()
    assert [tuple(r) for r in rows] == [("kv", "k")]


def test_system_walk_skips_a_dropped_table(eng, monkeypatch):
    """A table that goes between the walk's listing and its property
    read is left out of the system table, not an error."""
    from ebike_spark.engine.catalog import Catalog

    eng.execute("CREATE TABLE kept (a INT NOT NULL, PRIMARY KEY (a))")
    listed = Catalog.tables
    monkeypatch.setattr(
        Catalog, "tables", lambda self, db, views=False: listed(self, db, views) + ([] if views else ["gone"])
    )
    for table in ("columns", "statistics"):
        rows = eng.execute(
            f"SELECT table_name FROM information_schema.{table} "
            f"WHERE table_schema = '{eng.current_db}'"
        ).rows()
        assert [r[0] for r in rows] == ["kept"]


def test_system_reads_under_concurrent_ddl(eng):
    """Two connections, each on its own session, read the system tables
    while the other creates and drops tables: every read succeeds and
    shows the reader's own session variables."""
    import threading

    db = eng.current_db
    errors = []

    def connection(name: str) -> None:
        e = Engine(eng.spark.newSession())
        try:
            e.execute(f"USE {db}")
            e.execute(f"SET @@who_am_i = '{name}'")
            for i in range(20):
                gv = e.execute(
                    "SELECT variable_value FROM performance_schema.global_variables "
                    "WHERE variable_name = 'who_am_i'"
                ).rows()
                assert [r[0] for r in gv] == [name]
                e.execute(f"SELECT table_name FROM information_schema.tables WHERE table_schema = '{db}'").rows()
                e.execute(f"CREATE TABLE {name}_{i} (a INT)")
                e.execute(f"DROP TABLE {name}_{i}")
        except Exception as ex:  # surfaced by the main thread
            errors.append((name, ex))

    threads = [threading.Thread(target=connection, args=(n,)) for n in ("conn_a", "conn_b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []


def test_unknown_column_error(eng):
    eng.execute("CREATE TABLE t (a INT)")
    with pytest.raises(EbikeError) as ei:
        eng.execute("INSERT INTO t (nope) VALUES (1)")
    assert ei.value.code == 1054


def test_system_schemas(eng):
    # mysql.users + performance_schema.global_variables (initial.rs:1113,1161)
    users = eng.execute("SELECT user, host FROM mysql.users").rows()
    assert [(r[0], r[1]) for r in users] == [("root", "%")]
    eng.execute("SET @@my_custom_var = 'hello'")
    gv = eng.execute(
        "SELECT variable_value FROM performance_schema.global_variables "
        "WHERE variable_name = 'my_custom_var'"
    ).rows()
    assert [r[0] for r in gv] == ["hello"]
    assert eng.execute("SELECT COUNT(*) AS c FROM information_schema.check_constraints").rows()[0]["c"] == 0
    assert eng.execute("SELECT COUNT(*) AS c FROM information_schema.referential_constraints").rows()[0]["c"] == 0


def test_delete_null_predicate_keeps_rows(eng):
    """MySQL deletes only rows where WHERE is TRUE; NULL-evaluating rows
    stay (ADVICE r1 high: plain ~cond silently deleted them)."""
    eng.execute("CREATE TABLE t (a INT NOT NULL, x INT, PRIMARY KEY (a))")
    eng.execute("INSERT INTO t VALUES (1, 10), (2, NULL), (3, 2)")
    r = eng.execute("DELETE FROM t WHERE x > 5")
    assert r.affected == 1  # only a=1; a=2 (NULL) and a=3 (FALSE) survive
    assert sorted(x["a"] for x in eng.execute("SELECT a FROM t").rows()) == [2, 3]


def test_update_reports_changed_not_matched(eng):
    """MySQL affected-rows for UPDATE counts rows actually CHANGED."""
    eng.execute("CREATE TABLE t (a INT NOT NULL, v CHAR, PRIMARY KEY (a))")
    eng.execute("INSERT INTO t VALUES (1, 'x'), (2, 'y'), (3, 'x')")
    r = eng.execute("UPDATE t SET v = 'x' WHERE a <= 3")  # matches 3, changes 1
    assert r.affected == 1
    r = eng.execute("UPDATE t SET v = 'x'")  # all already 'x'
    assert r.affected == 0
    # NULL-evaluating WHERE rows are not updated
    eng.execute("CREATE TABLE n (a INT NOT NULL, x INT, v CHAR, PRIMARY KEY (a))")
    eng.execute("INSERT INTO n VALUES (1, 10, 'old'), (2, NULL, 'old')")
    r = eng.execute("UPDATE n SET v = 'new' WHERE x > 5")
    assert r.affected == 1
    rows = {x["a"]: x["v"] for x in eng.execute("SELECT a, v FROM n").rows()}
    assert rows == {1: "new", 2: "old"}


def test_unique_key_allows_multiple_nulls(eng):
    """MySQL UNIQUE indexes admit any number of NULLs."""
    eng.execute(
        "CREATE TABLE t (a INT NOT NULL, u INT, PRIMARY KEY (a), UNIQUE KEY uq (u))"
    )
    eng.execute("INSERT INTO t VALUES (1, NULL), (2, NULL)")  # intra-batch NULLs OK
    eng.execute("INSERT INTO t VALUES (3, NULL)")  # vs stored NULLs OK
    assert eng.execute("SELECT COUNT(*) AS c FROM t").rows()[0]["c"] == 3
    with pytest.raises(EbikeError) as ei:  # real duplicates still rejected
        eng.execute("INSERT INTO t VALUES (4, 7), (5, 7)")
    assert ei.value.code == 1062


def test_comment_and_quote_edge_cases(eng):
    # MySQL: '--' is a comment only when followed by whitespace
    assert eng.execute("SELECT 5--3 AS v").rows()[0]["v"] == 8
    assert eng.execute("SELECT 1 AS v -- trailing comment").rows()[0]["v"] == 1
    assert eng.execute("SELECT 2 AS v # hash comment").rows()[0]["v"] == 2
    # rewrite targets inside string literals must pass through untouched
    r = eng.execute("SELECT 'select x from dual' AS a, 'database()' AS b").rows()[0]
    assert r["a"] == "select x from dual" and r["b"] == "database()"


def test_prepared_backslash_params(eng):
    """Backslashes in parameters must not break out of the literal
    (ADVICE r1 medium: injection through the parameter channel)."""
    eng.execute("CREATE TABLE t (a INT, s CHAR)")
    sid = eng.prepare("INSERT INTO t VALUES (?, ?)")
    eng.execute_prepared(sid, [1, "back\\slash"])
    eng.execute_prepared(sid, [2, "trailing\\"])
    eng.execute_prepared(sid, [3, "quote'and\\'mix"])
    rows = {r["a"]: r["s"] for r in eng.execute("SELECT a, s FROM t").rows()}
    assert rows == {1: "back\\slash", 2: "trailing\\", 3: "quote'and\\'mix"}
    # user variables take the same escaping path
    eng.user_vars["p"] = "x\\'"
    assert eng.execute("SELECT @p AS v").rows()[0]["v"] == "x\\'"


def test_global_vs_session_variables(eng):
    from ebike_spark.engine.engine import GLOBAL_VARS

    try:
        eng.execute("SET SESSION my_var = 'sess'")
        eng.execute("SET GLOBAL my_var = 'glob'")
        # session read is unaffected by SET GLOBAL (MySQL semantics)
        assert eng.execute("SELECT @@my_var AS v").rows()[0]["v"] == "sess"
        assert eng.execute("SELECT @@SESSION.my_var AS v").rows()[0]["v"] == "sess"
        assert eng.execute("SELECT @@GLOBAL.my_var AS v").rows()[0]["v"] == "glob"
        # a NEW session inherits the global value
        e2 = Engine(eng.spark)
        assert e2.execute("SELECT @@my_var AS v").rows()[0]["v"] == "glob"
        # SHOW GLOBAL vs SESSION VARIABLES disagree accordingly
        g = {r["Variable_name"]: r["Value"] for r in eng.execute("SHOW GLOBAL VARIABLES LIKE 'my_var'").rows()}
        s = {r["Variable_name"]: r["Value"] for r in eng.execute("SHOW SESSION VARIABLES LIKE 'my_var'").rows()}
        assert g == {"my_var": "glob"} and s == {"my_var": "sess"}
    finally:
        GLOBAL_VARS.pop("my_var", None)


def test_select_joins_through_engine(eng):
    """The full SELECT surface is Spark's — verify a join+agg round-trips
    through the engine dispatch (ebike's select.rs:41-81 equivalence)."""
    eng.execute("CREATE TABLE a (k INT, v CHAR)")
    eng.execute("CREATE TABLE b (k INT, w FLOAT)")
    eng.execute("INSERT INTO a VALUES (1, 'x'), (2, 'y'), (3, 'z')")
    eng.execute("INSERT INTO b VALUES (1, 1.5), (1, 2.5), (3, 9.0)")
    rows = eng.execute(
        "SELECT a.v, COUNT(b.k) AS n, SUM(b.w) AS s FROM a LEFT JOIN b ON a.k = b.k "
        "GROUP BY a.v ORDER BY a.v"
    ).rows()
    assert [(r["v"], r["n"], r["s"]) for r in rows] == [("x", 2, 4.0), ("y", 0, None), ("z", 1, 9.0)]


# ------------------------------------------------------------------ rowid
# Reference parity: a hidden UUID rowid on every managed table
# (/root/reference/src/meta/meta_def.rs:385-398), surfaced only when the
# query text names it (core_util.rs:451-461).


def test_rowid_hidden_from_star_and_metadata(eng):
    eng.execute(USER_DDL)
    eng.execute("INSERT INTO user VALUES (1, 'lucy', 1.70)")
    star = eng.execute("SELECT * FROM user").rows()
    assert list(star[0].asDict()) == ["id", "name", "stature"]
    cols = [r["Field"] for r in eng.execute("SHOW COLUMNS FROM user").rows()]
    assert "rowid" not in cols
    ddl = eng.execute("SHOW CREATE TABLE user").rows()[0][1]
    assert "rowid" not in ddl
    desc = [r[0] for r in eng.execute("DESCRIBE user").rows()]
    assert "rowid" not in desc


def test_rowid_stable_uuid_when_projected(eng):
    eng.execute(USER_DDL)
    eng.execute("INSERT INTO user VALUES (1, 'lucy', 1.70), (2, 'lily', 1.60)")
    r1 = {r["id"]: r["rowid"] for r in eng.execute("SELECT id, rowid FROM user").rows()}
    r2 = {r["id"]: r["rowid"] for r in eng.execute("SELECT id, rowid FROM user").rows()}
    assert r1 == r2 and len(set(r1.values())) == 2
    assert all(len(v) == 36 for v in r1.values())  # uuid text shape


def test_rowid_survives_update_not_delete(eng):
    eng.execute(USER_DDL)
    eng.execute("INSERT INTO user VALUES (1, 'lucy', 1.70), (2, 'lily', 1.60)")
    before = {r["id"]: r["rowid"] for r in eng.execute("SELECT id, rowid FROM user").rows()}
    eng.execute("UPDATE user SET stature = 1.80 WHERE id = 1")
    after = {r["id"]: r["rowid"] for r in eng.execute("SELECT id, rowid FROM user").rows()}
    assert after == before  # row identity survives value updates
    eng.execute("DELETE FROM user WHERE id = 1")
    left = {r["id"]: r["rowid"] for r in eng.execute("SELECT id, rowid FROM user").rows()}
    assert left == {2: before[2]}


def test_rowid_upsert_keeps_identity_on_update_mints_on_insert(eng):
    eng.execute("CREATE TABLE kv (k INT NOT NULL, v CHAR, PRIMARY KEY (k))")
    eng.execute("INSERT INTO kv VALUES (1, 'a')")
    old = eng.execute("SELECT k, rowid FROM kv").rows()[0]["rowid"]
    eng.execute("INSERT INTO kv VALUES (1, 'b'), (2, 'c') ON DUPLICATE KEY UPDATE v = VALUES(v)")
    got = {r["k"]: r["rowid"] for r in eng.execute("SELECT k, rowid FROM kv").rows()}
    assert got[1] == old and got[2] != old and got[2]


def test_rowid_not_assignable_or_droppable(eng):
    eng.execute(USER_DDL)
    eng.execute("INSERT INTO user VALUES (1, 'lucy', 1.70)")
    with pytest.raises(EbikeError) as e:
        eng.execute("UPDATE user SET rowid = 'x' WHERE id = 1")
    assert e.value.code == 1054
    with pytest.raises(EbikeError) as e:
        eng.execute("ALTER TABLE user DROP COLUMN rowid")
    assert e.value.code == 1091


def test_rowid_insert_select_and_alter_order(eng):
    # INSERT...SELECT mints rowids; ALTER ADD COLUMN then another insert
    # must still land values in the right physical slots
    eng.execute("CREATE TABLE src (id INT, name CHAR)")
    eng.execute("CREATE TABLE dst (id INT, name CHAR)")
    eng.execute("INSERT INTO src VALUES (1, 'a'), (2, 'b')")
    eng.execute("INSERT INTO dst SELECT id, name FROM src")
    rid = {r["id"]: r["rowid"] for r in eng.execute("SELECT id, rowid FROM dst").rows()}
    assert len(set(rid.values())) == 2 and all(rid.values())
    eng.execute("ALTER TABLE dst ADD COLUMN extra INT")
    eng.execute("INSERT INTO dst VALUES (3, 'c', 30)")
    rows = {r["id"]: (r["name"], r["extra"]) for r in eng.execute("SELECT * FROM dst").rows()}
    assert rows[3] == ("c", 30) and rows[1] == ("a", None)
    rid2 = {r["id"]: r["rowid"] for r in eng.execute("SELECT id, rowid FROM dst").rows()}
    assert rid2[1] == rid[1] and len(set(rid2.values())) == 3


def test_user_declared_rowid_column_wins(eng):
    # a table that declares its own rowid column gets NO hidden one:
    # SELECT * shows the user's column, untouched by the engine
    eng.execute("CREATE TABLE t (id INT, rowid CHAR)")
    eng.execute("INSERT INTO t VALUES (1, 'mine')")
    rows = eng.execute("SELECT * FROM t").rows()
    assert list(rows[0].asDict()) == ["id", "rowid"]
    assert rows[0]["rowid"] == "mine"


def test_rowid_backtick_quoted_projection_surfaces(eng):
    # round-3: an explicitly quoted projection (`rowid` / "rowid") is a
    # mention — the hidden-column drop must NOT remove it
    eng.execute(USER_DDL)
    eng.execute("INSERT INTO user VALUES (1, 'lucy', 1.70)")
    rows = eng.execute("SELECT id, `rowid` FROM user").rows()
    assert list(rows[0].asDict()) == ["id", "rowid"] and len(rows[0]["rowid"]) == 36
    # while a STRING LITERAL 'rowid' is not a mention
    rows = eng.execute("SELECT * FROM user WHERE name <> 'rowid'").rows()
    assert list(rows[0].asDict()) == ["id", "name", "stature"]


def test_rowid_join_keeps_user_declared_column(eng):
    # round-3: joining a hidden-rowid table with a table whose USER
    # column is named rowid must drop only the hidden one (provenance,
    # not name)
    eng.execute(USER_DDL)
    eng.execute("INSERT INTO user VALUES (1, 'lucy', 1.70)")
    eng.execute("CREATE TABLE ext (id INT, rowid CHAR)")
    eng.execute("INSERT INTO ext VALUES (1, 'mine')")
    res = eng.execute("SELECT * FROM user JOIN ext ON user.id = ext.id")
    assert res.df.columns == ["id", "name", "stature", "id", "rowid"]
    row = res.rows()[0]
    assert row[4] == "mine"  # the user-declared ext.rowid survives


# Every star of a statement, not only its final output, sees a table's
# user columns: u (id, s) and v (id, t) hold ids 1 and 2, u2 is a copy
# of u. Each case is its statements and the last one's outcome: rows
# (in order), an affected-row count, or a MySQL error code.
STAR_SETUP = [
    "CREATE TABLE u (id INT, s CHAR)",
    "INSERT INTO u VALUES (1, 'a'), (2, 'b')",
    "CREATE TABLE v (id INT, t CHAR)",
    "INSERT INTO v VALUES (1, 'x'), (2, 'y')",
    "CREATE TABLE u2 (id INT, s CHAR)",
    "INSERT INTO u2 SELECT * FROM u",
]
STAR_CASES = {
    "natural_join": (["SELECT * FROM u NATURAL JOIN v ORDER BY id"], [(1, "a", "x"), (2, "b", "y")]),
    "except": (["SELECT * FROM u EXCEPT SELECT * FROM u2"], []),
    "union": (["SELECT * FROM u UNION SELECT * FROM u2 ORDER BY id"], [(1, "a"), (2, "b")]),
    "intersect": (["SELECT * FROM u INTERSECT SELECT * FROM u2 ORDER BY id"], [(1, "a"), (2, "b")]),
    "count_distinct_star": (["SELECT count(DISTINCT *) FROM (SELECT * FROM u UNION ALL SELECT * FROM u2) x"], [(2,)]),
    "ordinal": (["SELECT * FROM u ORDER BY 3"], 1054),
    "derived_ordinal": (["SELECT * FROM (SELECT * FROM u) x ORDER BY 3"], 1054),
    "struct_star": (["SELECT to_json(struct(*)) FROM u ORDER BY id"], [('{"id":1,"s":"a"}',), ('{"id":2,"s":"b"}',)]),
    "hash_star": (["SELECT hash(*) = hash(id, s) FROM u"], [(True,), (True,)]),
    "view": (["CREATE VIEW vw AS SELECT * FROM u", "SELECT * FROM vw ORDER BY id"], [(1, "a"), (2, "b")]),
    "view_columns": (["CREATE VIEW vw AS SELECT * FROM u", "SHOW COLUMNS FROM vw"], ["id", "s"]),
    "insert_from_view": (["CREATE VIEW vw AS SELECT * FROM u", "INSERT INTO u2 SELECT * FROM vw"], 2),
    "intersect_listed": (["SELECT id, s FROM u INTERSECT SELECT * FROM u ORDER BY id"], [(1, "a"), (2, "b")]),
    "in_subquery": (["SELECT * FROM u WHERE (id, s) IN (SELECT * FROM u2) ORDER BY id"], [(1, "a"), (2, "b")]),
    "delete_in_subquery": (["DELETE FROM u WHERE (id, s) IN (SELECT * FROM u2)"], 2),
}


@pytest.mark.parametrize("case", sorted(STAR_CASES))
def test_every_star_sees_the_user_columns(eng, case):
    for sql in STAR_SETUP:
        eng.execute(sql)
    *setup, sql = STAR_CASES[case][0]
    expected = STAR_CASES[case][1]
    for s in setup:
        eng.execute(s)
    if isinstance(expected, int) and expected > 1000:
        with pytest.raises(EbikeError) as ei:
            eng.execute(sql).rows()
        assert ei.value.code == expected
        return
    res = eng.execute(sql)
    if isinstance(expected, int):
        assert res.affected == expected
    elif sql.startswith("SHOW"):
        assert [r["Field"] for r in res.rows()] == expected
    else:
        assert [tuple(r) for r in res.rows()] == expected


# statement: the tables the bind wraps to their user columns. Only what
# a query reads is bound; write targets, a multi-table statement's
# table list, CTE names, temp views, file sources, table functions,
# derived tables, system tables and unknown names are left as written.
BIND_CASES = {
    "read": ("SELECT * FROM u", ["u"]),
    "join_and_comma": ("SELECT * FROM u JOIN v ON u.id = v.id, u2", ["u", "u2", "v"]),
    "subquery": ("SELECT * FROM v WHERE id IN (SELECT id FROM u)", ["u", "v"]),
    "table_statement": ("TABLE u", ["u"]),
    "insert_target": ("INSERT INTO u2 SELECT * FROM u", ["u"]),
    "update_target": ("UPDATE u SET s = 'x' WHERE id IN (SELECT id FROM v)", ["v"]),
    "multi_table_update": ("UPDATE u JOIN v ON u.id = v.id SET u.s = v.t", []),
    "multi_table_delete": ("DELETE u FROM u JOIN v ON u.id = v.id", []),
    "cte": ("WITH u AS (SELECT 1 AS id) SELECT * FROM u", []),
    "cte_columns": ("WITH u (id) AS (SELECT 1) SELECT * FROM u", []),
    "temp_view": ("SELECT * FROM tv", []),
    "file_source": ("SELECT * FROM parquet.`/nonexistent/x.parquet`", []),
    "table_function": ("SELECT * FROM range(3)", []),
    "derived_table": ("SELECT * FROM (SELECT 1 AS id) x", []),
    "system_table": ("SELECT * FROM information_schema.tables", []),
    "names_rowid": ("SELECT id, rowid FROM u", []),
    "unknown_name": ("SELECT * FROM nosuch", []),
    "extract_from": ("SELECT EXTRACT(YEAR FROM DATE '2020-01-01') FROM u", ["u"]),
    "distribute_by": ("SELECT * FROM u DISTRIBUTE BY id, v", ["u"]),
    "sort_by": ("SELECT * FROM u SORT BY id, v", ["u"]),
    "cluster_by": ("SELECT * FROM u CLUSTER BY id, v", ["u"]),
    "lateral_view": ("SELECT * FROM u LATERAL VIEW posexplode(array(1)) e AS p, v", ["u"]),
    "window_names": ("SELECT *, rank() OVER v FROM v WINDOW w AS (ORDER BY id), v AS (ORDER BY id)", ["v"]),
}


@pytest.mark.parametrize("case", sorted(BIND_CASES))
def test_the_bind_wraps_only_the_tables_a_query_reads(eng, case):
    import re

    for sql in STAR_SETUP[::2]:
        eng.execute(sql)
    eng.spark.range(1).createOrReplaceTempView("tv")
    sql, expected = BIND_CASES[case]
    try:
        with eng.catalog.bind_tables(eng.sys_vars, eng.current_db) as bind:
            out = bind(sql)
    finally:
        eng.spark.catalog.dropTempView("tv")
    wrapped = re.findall(r"EXCEPT \(`rowid`\) FROM `[^`]+`\.`([^`]+)`", out)
    assert sorted(wrapped) == expected
    if not expected and case != "system_table":
        assert out == sql


def test_a_qualified_column_and_an_unknown_table_after_the_bind(eng):
    """A column qualified by db.table reads the bound table through its
    alias; two tables of one name in two databases keep apart, each
    under an alias of its own; a name that is no table is left for
    Spark, which gives 1146."""
    eng.execute("CREATE TABLE u (id INT, s CHAR)")
    eng.execute("INSERT INTO u VALUES (1, 'a')")
    db = eng.current_db
    rows = eng.execute(f"SELECT {db}.u.id, * FROM {db}.u").rows()
    assert [tuple(r) for r in rows] == [(1, 1, "a")]
    other = f"{db}_b"
    eng.execute(f"CREATE DATABASE {other}")
    try:
        eng.execute(f"CREATE TABLE {other}.u (id INT, t CHAR)")
        eng.execute(f"INSERT INTO {other}.u VALUES (1, 'x'), (2, 'y')")
        for sql in (
            f"SELECT * FROM {db}.u JOIN {other}.u ON {db}.u.id = {other}.u.id",
            f"SELECT * FROM u JOIN {other}.u ON u.id = {other}.u.id",
        ):
            assert [tuple(r) for r in eng.execute(sql).rows()] == [(1, "a", 1, "x")]
    finally:
        eng.execute(f"DROP DATABASE IF EXISTS {other}")
    with pytest.raises(EbikeError) as ei:
        eng.execute("SELECT * FROM nosuch")
    assert ei.value.code == 1146


@pytest.mark.parametrize(
    "insert",
    [
        "INSERT INTO {} TABLE u",
        "INSERT INTO {} (SELECT * FROM u)",
        "INSERT INTO {} WITH w AS (SELECT * FROM u) SELECT * FROM w",
        "INSERT INTO TABLE {} SELECT * FROM u",
    ],
    ids=["table", "parenthesised", "with", "into_table"],
)
def test_insert_from_a_query_source_lands_its_rows(eng, insert):
    """INSERT INTO [TABLE] t <query> takes the INSERT … SELECT path
    whatever the query's form: it mints a fresh rowid per row, counts
    its rows, and checks keys and NOT NULL. Two copies of u thus hold
    four distinct rowids, and a LIMIT 1 write touches one row."""
    eng.execute("CREATE TABLE u (id INT, s CHAR)")
    eng.execute("INSERT INTO u VALUES (1, 'a'), (2, 'b')")
    eng.execute("CREATE TABLE dst (id INT, s CHAR)")
    assert [eng.execute(insert.format("dst")).affected for _ in range(2)] == [2, 2]
    assert len({r["rowid"] for r in eng.execute("SELECT rowid FROM dst").rows()}) == 4
    assert eng.execute("DELETE FROM dst WHERE id = 1 LIMIT 1").affected == 1
    assert eng.execute("UPDATE dst SET s = 'z' WHERE id = 2 LIMIT 1").affected == 1
    eng.execute("CREATE TABLE pk (id INT NOT NULL, s CHAR NOT NULL, PRIMARY KEY (id))")
    assert eng.execute(insert.format("pk")).affected == 2
    with pytest.raises(EbikeError) as ei:
        eng.execute(insert.format("pk"))
    assert ei.value.code == 1062
    eng.execute("CREATE TABLE nn (id INT, s CHAR NOT NULL)")
    eng.execute("INSERT INTO u VALUES (3, NULL)")
    with pytest.raises(EbikeError) as ei:
        eng.execute(insert.format("nn"))
    assert ei.value.code == 1048


@pytest.mark.parametrize("overwrite", ["INSERT OVERWRITE ow", "INSERT OVERWRITE TABLE ow"])
def test_insert_overwrite_of_a_star_source_fails_on_the_rowid(eng, overwrite):
    """INSERT OVERWRITE still passes through to Spark, whose target
    counts the hidden rowid among its columns, while a star source now
    gives only the user columns: the write fails on the column count
    and leaves the target as it was. A source that names rowid still
    lands (test_a_literal_never_picks_the_insert_path)."""
    eng.execute("CREATE TABLE u (id INT, s CHAR)")
    eng.execute("INSERT INTO u VALUES (1, 'a'), (2, 'b')")
    eng.execute("CREATE TABLE ow (id INT, s CHAR)")
    eng.execute("INSERT INTO ow VALUES (9, 'z')")
    with pytest.raises(Exception, match="INSERT_COLUMN_ARITY_MISMATCH"):
        eng.execute(f"{overwrite} SELECT * FROM u")
    assert [tuple(r) for r in eng.execute("SELECT * FROM ow").rows()] == [(9, "z")]


def test_a_bound_point_select_plans_as_the_user_columns(eng):
    """A point SELECT * over a table with the hidden rowid optimises to
    the plan of the same query naming the user columns: one Project of
    a Filter of the relation, with no node for the bind."""
    import re

    eng.execute("CREATE TABLE pt (k INT NOT NULL, v INT, PRIMARY KEY (k))")
    eng.execute("INSERT INTO pt VALUES (77, 1), (78, 2)")

    def optimized(df) -> str:
        return re.sub(r"#\d+L?", "", df._jdf.queryExecution().optimizedPlan().toString())

    bound = optimized(eng.execute("SELECT * FROM pt WHERE k = 77").df)
    direct = optimized(eng.spark.sql(f"SELECT k, v FROM {eng.current_db}.pt WHERE k = 77"))
    assert bound == direct
    assert [line.lstrip(" +-:").split()[0] for line in bound.splitlines()] == ["Project", "Filter", "Relation"]


@pytest.mark.parametrize("key", ["PRIMARY KEY (zz)", "UNIQUE KEY uu (zz)"])
def test_create_table_key_on_a_missing_column_is_1072(eng, key):
    with pytest.raises(EbikeError) as ei:
        eng.execute(f"CREATE TABLE b1 (a INT, {key})")
    assert ei.value.code == 1072
    assert "b1" not in [r[0] for r in eng.execute("SHOW TABLES").rows()]


def test_update_to_null_unique_key_allowed(eng):
    # round-3 (ADVICE): MySQL allows any number of NULLs in a UNIQUE
    # index — UPDATE SET u = NULL across 2+ rows is not a 1062
    eng.execute("CREATE TABLE uq (id INT NOT NULL, u INT, PRIMARY KEY (id), UNIQUE KEY (u))")
    eng.execute("INSERT INTO uq VALUES (1, 10), (2, 20), (3, 30)")
    n = eng.execute("UPDATE uq SET u = NULL WHERE id <= 2").affected
    assert n == 2
    vals = sorted(
        (r["u"] is None, r["id"]) for r in eng.execute("SELECT id, u FROM uq").rows()
    )
    assert vals == [(False, 3), (True, 1), (True, 2)]
    # but a real duplicate through an update still raises
    with pytest.raises(EbikeError) as e:
        eng.execute("UPDATE uq SET u = 30 WHERE id = 1")
    assert e.value.code == 1062


def test_insert_select_with_column_list_mints_rowid(eng):
    # round-3 (ADVICE): INSERT INTO t (cols) SELECT must go through the
    # rowid-minting path, with unlisted columns NULL
    eng.execute("CREATE TABLE src2 (id INT, name CHAR)")
    eng.execute("CREATE TABLE dst2 (id INT, name CHAR, extra INT)")
    eng.execute("INSERT INTO src2 VALUES (1, 'a'), (2, 'b')")
    eng.execute("INSERT INTO dst2 (name, id) SELECT name, id FROM src2")
    rows = {r["id"]: r for r in eng.execute("SELECT id, name, extra, rowid FROM dst2").rows()}
    assert rows[1]["name"] == "a" and rows[2]["name"] == "b"
    assert rows[1]["extra"] is None
    rids = {r["rowid"] for r in rows.values()}
    assert len(rids) == 2 and all(v and len(v) == 36 for v in rids)


def test_information_schema_views(eng):
    eng.execute("CREATE TABLE base (id INT, name CHAR)")
    eng.execute("INSERT INTO base VALUES (1, 'x')")
    eng.execute("CREATE VIEW v_names AS SELECT name FROM base")
    rows = eng.execute(
        "SELECT table_schema, table_name, view_definition FROM information_schema.views"
    ).rows()
    mine = [r for r in rows if r["table_name"] == "v_names"]
    assert len(mine) == 1
    assert mine[0]["table_schema"] == eng.current_db
    assert "name" in mine[0]["view_definition"].lower()
    # and the tables table still marks it as a VIEW
    t = eng.execute(
        f"SELECT table_type FROM information_schema.tables WHERE table_name = 'v_names'"
    ).rows()
    assert t and t[0][0] == "VIEW"


def test_replace_into(eng):
    eng.execute(USER_DDL)
    eng.execute("INSERT INTO user VALUES (1, 'a', 1.0), (2, 'b', 2.0)")
    # conflict on the PK (1,'a') deletes the old row; (3,'c') is new:
    # MySQL affected = 2 inserted + 1 deleted = 3
    r = eng.execute("REPLACE INTO user VALUES (1, 'a', 9.5), (3, 'c', 3.0)")
    assert r.affected == 3
    rows = {(x["id"], x["name"]): x["stature"] for x in eng.execute("SELECT * FROM user").rows()}
    assert rows == {(1, "a"): 9.5, (2, "b"): 2.0, (3, "c"): 3.0}
    # no conflict → plain insert semantics, affected = 1
    assert eng.execute("REPLACE INTO user VALUES (4, 'd', 4.0)").affected == 1


def test_replace_into_intra_batch_last_row_wins(eng):
    """MySQL applies REPLACE row-by-row: within one batch a later row
    replaces an earlier one, and the evicted earlier row counts one
    delete in affected-rows (2 inserted + 1 intra-batch delete = 3)."""
    eng.execute(USER_DDL)
    r = eng.execute("REPLACE INTO user VALUES (1, 'a', 1.0), (1, 'a', 2.0)")
    assert r.affected == 3
    rows = eng.execute("SELECT * FROM user").rows()
    assert [(x["id"], x["name"], x["stature"]) for x in rows] == [(1, "a", 2.0)]
    # stored + intra-batch conflicts stack: old (1) deleted, first
    # batch row inserted then evicted by the second → 2 ins + 2 del
    r = eng.execute("REPLACE INTO user VALUES (1, 'a', 3.0), (1, 'a', 4.0)")
    assert r.affected == 4
    assert eng.execute("SELECT stature FROM user").rows()[0]["stature"] == 4.0


def test_replace_into_evicted_row_still_deletes_stored(eng):
    """A batch row that a LATER batch row replaces was still processed
    first — its stored conflicts are deleted and stay deleted (MySQL
    row-by-row). Here row (1,'x') deletes stored PK 1, then (2,'x')
    replaces it on the UNIQUE key: stored PK 1 must NOT survive."""
    eng.execute(
        "CREATE TABLE ru (id INT NOT NULL, u CHAR, v INT, "
        "PRIMARY KEY (id), UNIQUE KEY uq (u))"
    )
    eng.execute("INSERT INTO ru VALUES (1, 'a', 10), (9, 'z', 90)")
    # 2 inserted + stored PK-1 deleted + intra-batch eviction = 4
    r = eng.execute("REPLACE INTO ru VALUES (1, 'x', 11), (2, 'x', 22)")
    assert r.affected == 4
    rows = sorted(
        (x["id"], x["u"], x["v"]) for x in eng.execute("SELECT * FROM ru").rows()
    )
    assert rows == [(2, "x", 22), (9, "z", 90)]


def test_truncate_table(eng):
    eng.execute(USER_DDL)
    eng.execute("INSERT INTO user VALUES (1, 'a', 1.0), (2, 'b', 2.0)")
    assert eng.execute("TRUNCATE TABLE user").affected == 0
    assert eng.execute("SELECT COUNT(*) AS n FROM user").rows()[0]["n"] == 0
    # table survives empty and accepts inserts again
    eng.execute("INSERT INTO user VALUES (5, 'e', 5.0)")
    assert eng.execute("SELECT COUNT(*) AS n FROM user").rows()[0]["n"] == 1


def test_rename_table(eng):
    eng.execute(USER_DDL)
    eng.execute("INSERT INTO user VALUES (1, 'a', 1.0)")
    eng.execute("RENAME TABLE user TO person")
    tabs = [r[0] for r in eng.execute("SHOW TABLES").rows()]
    assert tabs == ["person"]
    assert eng.execute("SELECT COUNT(*) AS n FROM person").rows()[0]["n"] == 1
    # constraints travel with the table properties
    with pytest.raises(EbikeError) as ei:
        eng.execute("INSERT INTO person VALUES (1, 'a', 2.0)")
    assert ei.value.code == 1062
    # renaming onto an existing name is 1050
    eng.execute(USER_DDL)
    with pytest.raises(EbikeError) as ei:
        eng.execute("RENAME TABLE person TO user")
    assert ei.value.code == 1050


def test_create_table_as_select(eng):
    eng.execute(USER_DDL)
    eng.execute("INSERT INTO user VALUES (1, 'a', 1.0), (2, 'b', 2.0), (3, 'c', 3.0)")
    r = eng.execute("CREATE TABLE tall AS SELECT id, name FROM user WHERE stature > 1.5")
    assert r.affected == 2
    rows = sorted(tuple(x) for x in eng.execute("SELECT id, name FROM tall").rows())
    assert rows == [(2, "b"), (3, "c")]
    # CTAS copies data, not keys (MySQL-identical): duplicate inserts fly
    eng.execute("INSERT INTO tall VALUES (2, 'b')")
    assert eng.execute("SELECT COUNT(*) AS n FROM tall").rows()[0]["n"] == 3
    # IF NOT EXISTS on an existing target is a no-op
    assert eng.execute("CREATE TABLE IF NOT EXISTS tall AS SELECT * FROM user").affected == 0
    with pytest.raises(EbikeError) as ei:
        eng.execute("CREATE TABLE tall AS SELECT * FROM user")
    assert ei.value.code == 1050


def test_ctas_and_refresh_count_the_rows_they_write(eng):
    """CTAS and REFRESH MATERIALIZED VIEW report the rows their write
    wrote. A REFRESH whose SELECT now returns no rows reports 0 and
    leaves the view empty; a CTAS of no rows reports 0."""
    eng.execute("CREATE TABLE base (id INT, v INT)")
    eng.execute("INSERT INTO base VALUES (1, 10), (2, 20), (3, 30)")
    assert eng.execute("CREATE TABLE none AS SELECT * FROM base WHERE v > 100").affected == 0
    assert eng.execute("SELECT COUNT(*) AS n FROM none").rows()[0]["n"] == 0
    assert eng.execute("CREATE MATERIALIZED VIEW big AS SELECT id FROM base WHERE v >= 20").affected == 2
    eng.execute("UPDATE base SET v = 0")
    assert eng.execute("REFRESH MATERIALIZED VIEW big").affected == 0
    assert eng.execute("SELECT COUNT(*) AS n FROM big").rows()[0]["n"] == 0
    eng.execute("UPDATE base SET v = 50 WHERE id = 3")
    assert eng.execute("REFRESH MATERIALIZED VIEW big").affected == 1
    assert [r["id"] for r in eng.execute("SELECT id FROM big").rows()] == [3]


def test_alter_table_rename(eng):
    eng.execute(USER_DDL)
    eng.execute("INSERT INTO user VALUES (1, 'a', 1.0)")
    eng.execute("ALTER TABLE user RENAME TO member")
    assert [r[0] for r in eng.execute("SHOW TABLES").rows()] == ["member"]
    assert eng.execute("SELECT COUNT(*) AS n FROM member").rows()[0]["n"] == 1


def test_materialized_view_lifecycle(eng):
    eng.execute(USER_DDL)
    eng.execute("INSERT INTO user VALUES (1, 'a', 1.0), (2, 'b', 2.0), (3, 'c', 3.0)")
    r = eng.execute(
        "CREATE MATERIALIZED VIEW tall_mv AS SELECT id, stature FROM user WHERE stature > 1.5"
    )
    assert r.affected == 2
    # serves the MATERIALIZED data: base-table changes don't show yet
    eng.execute("INSERT INTO user VALUES (4, 'd', 4.0)")
    assert eng.execute("SELECT COUNT(*) AS n FROM tall_mv").rows()[0]["n"] == 2
    # REFRESH recomputes the stored SELECT
    assert eng.execute("REFRESH MATERIALIZED VIEW tall_mv").affected == 3
    assert eng.execute("SELECT COUNT(*) AS n FROM tall_mv").rows()[0]["n"] == 3
    # REFRESH of a plain table is 1347
    with pytest.raises(EbikeError) as ei:
        eng.execute("REFRESH MATERIALIZED VIEW user")
    assert ei.value.code == 1347
    # DROP MATERIALIZED VIEW refuses plain tables, removes matviews
    with pytest.raises(EbikeError):
        eng.execute("DROP MATERIALIZED VIEW user")
    eng.execute("DROP MATERIALIZED VIEW tall_mv")
    assert "tall_mv" not in [r[0] for r in eng.execute("SHOW TABLES").rows()]


def test_auto_increment(eng):
    eng.execute(
        "CREATE TABLE seq (id INT AUTO_INCREMENT, name CHAR, PRIMARY KEY (id))"
    )
    # omitted column → minted 1, 2
    eng.execute("INSERT INTO seq (name) VALUES ('a'), ('b')")
    assert eng.execute("SELECT LAST_INSERT_ID() AS v").rows()[0]["v"] == 1
    # explicit value bumps the counter; NULL mints after the max
    eng.execute("INSERT INTO seq VALUES (10, 'c'), (NULL, 'd')")
    assert eng.execute("SELECT LAST_INSERT_ID() AS v").rows()[0]["v"] == 11
    rows = sorted((r["id"], r["name"]) for r in eng.execute("SELECT * FROM seq").rows())
    assert rows == [(1, "a"), (2, "b"), (10, "c"), (11, "d")]
    # the minted ids satisfy the PK constraint: duplicate explicit id → 1062
    with pytest.raises(EbikeError) as ei:
        eng.execute("INSERT INTO seq VALUES (11, 'x')")
    assert ei.value.code == 1062


def test_auto_increment_row_by_row(eng):
    """MySQL bumps the counter row-by-row in VALUES order: an explicit
    id only lifts the counter for LATER rows, so (NULL),(100),(NULL)
    on an empty table mints 1, keeps 100, mints 101 — and
    LAST_INSERT_ID() is the FIRST minted id (1), not 101."""
    eng.execute("CREATE TABLE seqr (id INT AUTO_INCREMENT, name CHAR, PRIMARY KEY (id))")
    eng.execute("INSERT INTO seqr VALUES (NULL, 'a'), (100, 'b'), (NULL, 'c')")
    assert eng.execute("SELECT LAST_INSERT_ID() AS v").rows()[0]["v"] == 1
    rows = sorted((r["id"], r["name"]) for r in eng.execute("SELECT * FROM seqr").rows())
    assert rows == [(1, "a"), (100, "b"), (101, "c")]
    # a later batch resumes past the stored max
    eng.execute("INSERT INTO seqr (name) VALUES ('d')")
    assert eng.execute("SELECT LAST_INSERT_ID() AS v").rows()[0]["v"] == 102


def test_auto_increment_must_be_key(eng):
    with pytest.raises(EbikeError) as ei:
        eng.execute("CREATE TABLE bad (id INT AUTO_INCREMENT, name CHAR)")
    assert ei.value.code == 1075


def test_show_processlist(eng):
    rows = eng.execute("SHOW PROCESSLIST").rows()
    assert len(rows) == 1 and rows[0]["User"] == "root"
    assert rows[0]["db"] == eng.current_db


def test_show_processlist_empty_provider_renders_empty(eng):
    """An EMPTY provider result must render an empty processlist — the
    synthetic Id=1 fallback is only for the bare-engine (no server)
    case, because a fabricated Id can shadow real connection ids that
    COM_PROCESS_KILL addresses (ADVICE-r11)."""
    eng.processlist_provider = lambda: []
    try:
        assert eng.execute("SHOW PROCESSLIST").rows() == []
    finally:
        eng.processlist_provider = None


def test_insert_set_syntax(eng):
    eng.execute(USER_DDL)
    assert eng.execute("INSERT INTO user SET id = 7, name = 'g', stature = 1.5").affected == 1
    rows = eng.execute("SELECT * FROM user").rows()
    assert [(r["id"], r["name"], r["stature"]) for r in rows] == [(7, "g", 1.5)]
    # composes with REPLACE and constraint checks
    assert eng.execute("REPLACE INTO user SET id = 7, name = 'g', stature = 2.5").affected == 2
    assert eng.execute("SELECT stature FROM user").rows()[0][0] == 2.5


def test_delete_order_by_limit(eng):
    eng.execute(USER_DDL)
    eng.execute(
        "INSERT INTO user VALUES (1, 'a', 1.0), (2, 'b', 2.0), (3, 'c', 3.0), (4, 'd', 4.0)"
    )
    # delete the two tallest
    r = eng.execute("DELETE FROM user ORDER BY stature DESC LIMIT 2")
    assert r.affected == 2
    rows = sorted(r["id"] for r in eng.execute("SELECT id FROM user").rows())
    assert rows == [1, 2]
    # LIMIT larger than matches deletes what's there
    assert eng.execute("DELETE FROM user WHERE id > 1 ORDER BY id LIMIT 9").affected == 1
    assert [r["id"] for r in eng.execute("SELECT id FROM user").rows()] == [1]


def test_update_order_by_limit(eng):
    eng.execute(USER_DDL)
    eng.execute(
        "INSERT INTO user VALUES (1, 'a', 1.0), (2, 'b', 2.0), (3, 'c', 3.0), (4, 'd', 4.0)"
    )
    # raise only the two shortest
    r = eng.execute("UPDATE user SET stature = 9.0 ORDER BY stature ASC LIMIT 2")
    assert r.affected == 2
    rows = {x["id"]: x["stature"] for x in eng.execute("SELECT id, stature FROM user").rows()}
    assert rows == {1: 9.0, 2: 9.0, 3: 3.0, 4: 4.0}
    # WHERE composes; LIMIT larger than matches updates what's there
    assert eng.execute("UPDATE user SET stature = 5.0 WHERE id >= 4 ORDER BY id LIMIT 9").affected == 1


def test_drop_matview_if_exists_refuses_plain_table(eng):
    """IF EXISTS only suppresses the missing-object error — an existing
    plain table must still raise 1347, never be silently dropped."""
    eng.execute(USER_DDL)
    eng.execute("INSERT INTO user VALUES (1, 'a', 1.0)")
    with pytest.raises(EbikeError) as ei:
        eng.execute("DROP MATERIALIZED VIEW IF EXISTS user")
    assert ei.value.code == 1347
    assert eng.execute("SELECT COUNT(*) AS n FROM user").rows()[0]["n"] == 1
    # a genuinely missing object is the case IF EXISTS covers
    assert eng.execute("DROP MATERIALIZED VIEW IF EXISTS no_such_mv").affected == 0
    with pytest.raises(EbikeError):
        eng.execute("DROP MATERIALIZED VIEW no_such_mv")


def test_ctas_does_not_leak_hidden_rowid(eng):
    eng.execute(USER_DDL)
    eng.execute("INSERT INTO user VALUES (1, 'a', 1.0), (2, 'b', 2.0)")
    eng.execute("CREATE TABLE copy2 AS SELECT * FROM user")
    cols = [r["Field"] for r in eng.execute("SHOW COLUMNS FROM copy2").rows()]
    assert cols == ["id", "name", "stature"]
    star = eng.execute("SELECT * FROM copy2").rows()
    assert sorted(star[0].asDict().keys()) == ["id", "name", "stature"]
    # explicitly projecting rowid still materializes it, MySQL-rowid style
    eng.execute("CREATE TABLE withrid AS SELECT rowid, id FROM user")
    cols = [r["Field"] for r in eng.execute("SHOW COLUMNS FROM withrid").rows()]
    assert cols == ["rowid", "id"]


def test_rename_table_chain_and_swap(eng):
    """MySQL applies RENAME pairs left-to-right on the evolving
    namespace: chains and the classic atomic swap are legal."""
    eng.execute(USER_DDL)
    eng.execute("INSERT INTO user VALUES (1, 'a', 1.0)")
    # chain: the intermediate name exists only mid-statement
    eng.execute("RENAME TABLE user TO mid, mid TO final")
    assert [r[0] for r in eng.execute("SHOW TABLES").rows()] == ["final"]
    # swap via temp name
    eng.execute("CREATE TABLE other (x INT)")
    eng.execute("INSERT INTO other VALUES (9)")
    eng.execute("RENAME TABLE final TO tmp_sw, other TO final, tmp_sw TO other")
    assert eng.execute("SELECT COUNT(*) AS n FROM other").rows()[0]["n"] == 1
    assert eng.execute("SELECT x FROM final").rows()[0]["x"] == 9
    # a self-conflicting list fails validation BEFORE any rename applies
    with pytest.raises(EbikeError) as ei:
        eng.execute("RENAME TABLE final TO a2, final TO b2")
    assert ei.value.code == 1146
    assert eng.execute("SELECT x FROM final").rows()[0]["x"] == 9


def test_insert_set_with_on_duplicate(eng):
    eng.execute(USER_DDL)
    eng.execute("INSERT INTO user SET id = 1, name = 'a', stature = 1.0")
    r = eng.execute(
        "INSERT INTO user SET id = 1, name = 'a', stature = 1.0 "
        "ON DUPLICATE KEY UPDATE stature = 7.5"
    )
    assert r.affected == 2  # MySQL: 2 for an update via ON DUPLICATE
    assert eng.execute("SELECT stature FROM user").rows()[0][0] == 7.5


def test_last_insert_id_in_dml(eng):
    """The canonical parent/child idiom: LAST_INSERT_ID() usable inside
    INSERT VALUES and UPDATE SET, not only bare SELECT."""
    eng.execute("CREATE TABLE parent (id INT AUTO_INCREMENT, name CHAR, PRIMARY KEY (id))")
    eng.execute("CREATE TABLE child (fk INT, note CHAR)")
    eng.execute("INSERT INTO parent (name) VALUES ('p1')")
    eng.execute("INSERT INTO child VALUES (LAST_INSERT_ID(), 'c1')")
    assert eng.execute("SELECT fk FROM child").rows()[0]["fk"] == 1
    eng.execute("INSERT INTO parent (name) VALUES ('p2')")
    eng.execute("UPDATE child SET fk = LAST_INSERT_ID() WHERE note = 'c1'")
    assert eng.execute("SELECT fk FROM child").rows()[0]["fk"] == 2
    # quoted literals are untouched
    eng.execute("INSERT INTO child VALUES (5, 'LAST_INSERT_ID()')")
    assert (
        eng.execute("SELECT note FROM child WHERE fk = 5").rows()[0]["note"]
        == "LAST_INSERT_ID()"
    )


def test_insert_ignore(eng):
    eng.execute(USER_DDL)
    eng.execute("INSERT INTO user VALUES (1, 'a', 1.0)")
    # stored conflict skipped, fresh row inserted: affected = 1
    r = eng.execute("INSERT IGNORE INTO user VALUES (1, 'a', 9.0), (2, 'b', 2.0)")
    assert r.affected == 1
    rows = {(x["id"], x["name"]): x["stature"] for x in eng.execute("SELECT * FROM user").rows()}
    assert rows == {(1, "a"): 1.0, (2, "b"): 2.0}  # stored row untouched
    # intra-batch: FIRST row wins, later duplicate skipped
    r = eng.execute("INSERT IGNORE INTO user VALUES (3, 'c', 3.0), (3, 'c', 8.0)")
    assert r.affected == 1
    assert eng.execute("SELECT stature FROM user WHERE id = 3").rows()[0]["stature"] == 3.0
    # all-duplicate batch: affected = 0, no error
    assert eng.execute("INSERT IGNORE INTO user VALUES (1, 'a', 0.0)").affected == 0


def test_insert_ignore_unique_key(eng):
    eng.execute(
        "CREATE TABLE igq (id INT NOT NULL, u CHAR, PRIMARY KEY (id), UNIQUE KEY uq (u))"
    )
    eng.execute("INSERT INTO igq VALUES (1, 'a')")
    # second row collides on the UNIQUE key with the batch's first row
    r = eng.execute("INSERT IGNORE INTO igq VALUES (2, 'b'), (3, 'b'), (4, 'a')")
    assert r.affected == 1
    rows = sorted((x["id"], x["u"]) for x in eng.execute("SELECT * FROM igq").rows())
    assert rows == [(1, "a"), (2, "b")]
    # NULL unique keys never conflict
    assert eng.execute("INSERT IGNORE INTO igq VALUES (5, NULL), (6, NULL)").affected == 2


def test_insert_ignore_rejects_bad_combos(eng):
    eng.execute(USER_DDL)
    with pytest.raises(EbikeError):
        eng.execute("REPLACE IGNORE INTO user VALUES (1, 'a', 1.0)")
    with pytest.raises(EbikeError):
        eng.execute(
            "INSERT IGNORE INTO user VALUES (1, 'a', 1.0) "
            "ON DUPLICATE KEY UPDATE stature = 2.0"
        )
    # NOT NULL still errors under IGNORE (documented strict stance)
    with pytest.raises(EbikeError) as ei:
        eng.execute("INSERT IGNORE INTO user VALUES (NULL, 'x', 1.0)")
    assert ei.value.code == 1048


def test_create_index_clustering(eng):
    """CREATE INDEX = physical range clustering + catalog record; SHOW
    INDEX advertises it as CLUSTERED; data survives the rewrite; DROP
    INDEX removes the record."""
    eng.execute(USER_DDL)
    eng.execute(
        "INSERT INTO user VALUES (3, 'c', 3.0), (1, 'a', 1.0), (2, 'b', 2.0)"
    )
    r = eng.execute("CREATE INDEX ix_stature ON user (stature)")
    assert r.kind == "count"
    rows = sorted((x["id"], x["stature"]) for x in eng.execute("SELECT * FROM user").rows())
    assert rows == [(1, 1.0), (2, 2.0), (3, 3.0)]
    idx = eng.execute("SHOW INDEX FROM user").rows()
    by_key = {(x["Key_name"], x["Column_name"]): x for x in idx}
    assert ("PRIMARY", "id") in by_key
    cl = by_key[("ix_stature", "stature")]
    assert cl["Non_unique"] == 1 and cl["Index_type"] == "CLUSTERED"
    # duplicate name / unknown column / UNIQUE rejected
    with pytest.raises(EbikeError) as ei:
        eng.execute("CREATE INDEX ix_stature ON user (id)")
    assert ei.value.code == 1061
    with pytest.raises(EbikeError) as ei:
        eng.execute("CREATE INDEX ix_bad ON user (nope)")
    assert ei.value.code == 1072
    # UNIQUE INDEX is the retroactive-constraint path (its own test)
    # DROP removes only the record; unknown drop errors 1091
    eng.execute("DROP INDEX ix_stature ON user")
    idx2 = eng.execute("SHOW INDEX FROM user").rows()
    assert all(x["Key_name"] != "ix_stature" for x in idx2)
    with pytest.raises(EbikeError) as ei:
        eng.execute("DROP INDEX ix_stature ON user")
    assert ei.value.code == 1091


def test_create_index_preserves_rowid_and_dml(eng):
    """The clustering rewrite must keep the hidden rowid machinery and
    leave the table fully DML-able afterwards."""
    eng.execute("CREATE TABLE ct (a INT, b CHAR)")  # keyless -> rowid table
    eng.execute("INSERT INTO ct VALUES (2, 'y'), (1, 'x')")
    eng.execute("CREATE INDEX ix_a ON ct (a)")
    eng.execute("INSERT INTO ct VALUES (3, 'z')")
    eng.execute("UPDATE ct SET b = 'X' WHERE a = 1")
    assert eng.execute("DELETE FROM ct WHERE a = 2").affected == 1
    rows = sorted((x["a"], x["b"]) for x in eng.execute("SELECT * FROM ct").rows())
    assert rows == [(1, "X"), (3, "z")]


def test_dangling_clause_keyword_is_parse_error(eng):
    """A bare trailing WHERE/ORDER BY/LIMIT must be a parse error — an
    empty WHERE body is falsy downstream and would silently turn the
    malformed statement into a FULL-TABLE delete/update."""
    eng.execute(USER_DDL)
    eng.execute("INSERT INTO user VALUES (1, 'a', 1.0), (2, 'b', 2.0)")
    for bad in (
        "DELETE FROM user WHERE",
        "UPDATE user SET stature = 0 WHERE",
        "DELETE FROM user WHERE id = 1 ORDER BY",
    ):
        with pytest.raises(EbikeError):
            eng.execute(bad)
    assert eng.execute("SELECT COUNT(*) AS c FROM user").rows()[0]["c"] == 2


def test_insert_ignore_stored_skip_does_not_suppress_later_rows(eng):
    """A batch row skipped for a STORED conflict never entered the
    index, so it must not suppress later batch rows (MySQL row-by-row):
    stored (1,'a'); batch (1,'b'),(2,'b') -> (1,'b') skips on PK, so
    (2,'b') DOES insert."""
    eng.execute(
        "CREATE TABLE igs (id INT NOT NULL, u CHAR, PRIMARY KEY (id), UNIQUE KEY uq (u))"
    )
    eng.execute("INSERT INTO igs VALUES (1, 'a')")
    r = eng.execute("INSERT IGNORE INTO igs VALUES (1, 'b'), (2, 'b')")
    assert r.affected == 1
    rows = sorted((x["id"], x["u"]) for x in eng.execute("SELECT * FROM igs").rows())
    assert rows == [(1, "a"), (2, "b")]


def test_insert_ignore_multi_index_rejection_cascade(eng):
    """The counterexample proving no per-index pipeline can replace the
    multi-index replay (see _insert_ignore's docstring): batch
    r1=(a1,b1), r2=(a2,b1), r3=(a2,b2) — r2 rejects on the SECOND index
    (u='b1' duplicates r1), so it never enters the FIRST index and must
    not suppress r3 there. MySQL accepts {r1, r3}; an
    apply-index-A-then-index-B pipeline would wrongly yield {r1}."""
    eng.execute(
        "CREATE TABLE igc (a CHAR NOT NULL, b CHAR, PRIMARY KEY (a), UNIQUE KEY uq (b))"
    )
    r = eng.execute(
        "INSERT IGNORE INTO igc VALUES ('a1','b1'), ('a2','b1'), ('a2','b2')"
    )
    assert r.affected == 2
    rows = sorted((x["a"], x["b"]) for x in eng.execute("SELECT * FROM igc").rows())
    assert rows == [("a1", "b1"), ("a2", "b2")]


def test_insert_ignore_volume_cap_and_single_index_scale(eng, tmp_path):
    """Volume behavior at the replay cap boundary: a multi-unique-index
    IGNORE load beyond _IGNORE_REPLAY_CAP raises a clean 1105 (the
    first-wins interleave is LFMIS on the conflict graph — P-complete,
    no distributive form; docstring carries the counterexample), while
    the SINGLE-index path loads the same volume fully distributed (one
    window + one anti-join, no cap, nothing data-sized on the driver)."""
    from ebike_spark.engine.dml import _IGNORE_REPLAY_CAP

    n = _IGNORE_REPLAY_CAP + 1
    f = tmp_path / "bulk.csv"
    # every 10th row repeats the previous key -> real dedup work
    with f.open("w") as fh:
        for i in range(n):
            k = i - 1 if (i % 10 == 9) else i
            fh.write(f"{k},v{i}\n")
    eng.execute(
        "CREATE TABLE big2 (id INT NOT NULL, v CHAR, PRIMARY KEY (id), UNIQUE KEY uv (v))"
    )
    with pytest.raises(EbikeError) as ei:
        eng.execute(
            f"LOAD DATA INFILE '{f}' IGNORE INTO TABLE big2 FIELDS TERMINATED BY ','"
        )
    assert ei.value.code == 1105
    assert "multiple unique indexes" in str(ei.value)
    eng.execute("CREATE TABLE big1 (id INT NOT NULL, v CHAR, PRIMARY KEY (id))")
    r = eng.execute(
        f"LOAD DATA INFILE '{f}' IGNORE INTO TABLE big1 FIELDS TERMINATED BY ','"
    )
    dups = sum(1 for i in range(n) if i % 10 == 9)
    assert r.affected == n - dups
    got = eng.execute("SELECT COUNT(*) AS c, COUNT(DISTINCT id) AS d FROM big1").rows()[0]
    assert got["c"] == n - dups and got["d"] == n - dups
    # first-wins within the batch: key 8 keeps row 8's value, not row 9's
    assert eng.execute("SELECT v FROM big1 WHERE id = 8").rows()[0]["v"] == "v8"


def test_create_unique_index_retroactive(eng):
    """CREATE UNIQUE INDEX = retroactive UNIQUE: existing duplicates
    reject it (1062); once created, INSERT enforces it."""
    eng.execute(USER_DDL)
    eng.execute("INSERT INTO user VALUES (1, 'a', 1.0), (2, 'b', 1.0)")
    with pytest.raises(EbikeError) as ei:
        eng.execute("CREATE UNIQUE INDEX ux ON user (stature)")
    assert ei.value.code == 1062
    eng.execute("DELETE FROM user WHERE id = 2")
    eng.execute("CREATE UNIQUE INDEX ux ON user (stature)")
    with pytest.raises(EbikeError) as ei:
        eng.execute("INSERT INTO user VALUES (3, 'c', 1.0)")
    assert ei.value.code == 1062
    # NULLs never conflict (MySQL unique semantics)
    eng.execute("INSERT INTO user VALUES (4, 'd', NULL), (5, 'e', NULL)")
    # DROP INDEX releases the constraint
    eng.execute("DROP INDEX ux ON user")
    eng.execute("INSERT INTO user VALUES (6, 'f', 1.0)")
    assert eng.execute("SELECT COUNT(*) AS c FROM user").rows()[0]["c"] == 4


def test_alter_add_drop_keys(eng):
    eng.execute("CREATE TABLE ak (id INT NOT NULL, u CHAR, v FLOAT)")
    eng.execute("INSERT INTO ak VALUES (1, 'a', 1.0), (2, 'b', 2.0)")
    # retroactive PRIMARY KEY; duplicate add is 1068
    eng.execute("ALTER TABLE ak ADD PRIMARY KEY (id)")
    with pytest.raises(EbikeError) as ei:
        eng.execute("INSERT INTO ak VALUES (1, 'z', 9.0)")
    assert ei.value.code == 1062
    with pytest.raises(EbikeError) as ei:
        eng.execute("ALTER TABLE ak ADD PRIMARY KEY (u)")
    assert ei.value.code == 1068
    # anonymous UNIQUE auto-names after its first column
    eng.execute("ALTER TABLE ak ADD UNIQUE (u)")
    with pytest.raises(EbikeError) as ei:
        eng.execute("INSERT INTO ak VALUES (3, 'a', 3.0)")
    assert ei.value.code == 1062
    eng.execute("ALTER TABLE ak DROP KEY u")
    eng.execute("INSERT INTO ak VALUES (3, 'a', 3.0)")
    # ADD INDEX rides the clustering path and shows up in SHOW INDEX
    eng.execute("ALTER TABLE ak ADD INDEX iv (v)")
    idx = eng.execute("SHOW INDEX FROM ak").rows()
    assert any(r["Key_name"] == "iv" for r in idx)
    eng.execute("ALTER TABLE ak DROP INDEX iv")
    # DROP PRIMARY KEY; second drop is 1091
    eng.execute("ALTER TABLE ak DROP PRIMARY KEY")
    eng.execute("INSERT INTO ak VALUES (1, 'q', 4.0)")
    with pytest.raises(EbikeError) as ei:
        eng.execute("ALTER TABLE ak DROP PRIMARY KEY")
    assert ei.value.code == 1091
    # retroactive PK over now-duplicate data is 1062; over NULLs 1138
    with pytest.raises(EbikeError) as ei:
        eng.execute("ALTER TABLE ak ADD PRIMARY KEY (id)")
    assert ei.value.code == 1062
    eng.execute("CREATE TABLE ak2 (id INT, v FLOAT)")
    eng.execute("INSERT INTO ak2 VALUES (NULL, 1.0)")
    with pytest.raises(EbikeError) as ei:
        eng.execute("ALTER TABLE ak2 ADD PRIMARY KEY (id)")
    assert ei.value.code == 1138


def test_add_index_named_like_a_unique_key_is_1061(eng):
    """A KEY and a UNIQUE key share one namespace, as in MySQL: adding
    either under the other's name is 1061 and changes nothing."""
    eng.execute("CREATE TABLE an (id INT, u INT, UNIQUE KEY uu (u), KEY kk (id))")
    for sql in ("ALTER TABLE an ADD INDEX uu (id)", "ALTER TABLE an ADD UNIQUE kk (u)"):
        with pytest.raises(EbikeError) as ei:
            eng.execute(sql)
        assert ei.value.code == 1061, sql
    assert [(r["Key_name"], r["Column_name"]) for r in eng.execute("SHOW INDEX FROM an").rows()] == [
        ("uu", "u"), ("kk", "id")
    ]


def test_insert_replace_ignore_from_select(eng):
    """INSERT IGNORE / REPLACE with a SELECT source route through the
    same duplicate handling as VALUES (round-7 upgrade; this used to be
    a 1105 for IGNORE and an unwrapped parse crash for REPLACE)."""
    eng.execute(USER_DDL)
    eng.execute("CREATE TABLE src (id INT, name CHAR, stature FLOAT)")
    eng.execute("INSERT INTO src VALUES (1, 'a', 1.0), (2, 'b', 2.0), (2, 'b', 9.0)")
    eng.execute("INSERT INTO user VALUES (1, 'a', 5.0)")
    # IGNORE: stored (1,a) skipped; exactly ONE of the two (2,b) source
    # rows lands (a SELECT source has no defined row order — MySQL's
    # "first" is whatever the scan produced, so assert the set, not
    # which duplicate won)
    r = eng.execute("INSERT IGNORE INTO user SELECT * FROM src")
    assert r.affected == 1
    got = eng.execute("SELECT stature FROM user WHERE id = 2").rows()[0]["stature"]
    assert got in (2.0, 9.0)
    # REPLACE: evicts stored (1,a) and (2,b); one (2,b) survivor
    r = eng.execute("REPLACE INTO user SELECT * FROM src")
    assert r.affected == 6  # 3 inserts + 2 stored deletes + 1 intra-batch
    assert eng.execute("SELECT COUNT(*) AS c FROM user").rows()[0]["c"] == 2
    got = eng.execute("SELECT stature FROM user WHERE id = 1").rows()[0]["stature"]
    assert got == 1.0  # the stored (1,a,5.0) was replaced by src's row
    # plain INSERT...SELECT now enforces PK: re-inserting src is 1062
    with pytest.raises(EbikeError) as ei:
        eng.execute("INSERT INTO user SELECT * FROM src")
    assert ei.value.code == 1062


def test_group_concat_rewrite_unit():
    """Pure-text rewrite: MySQL GROUP_CONCAT forms → Spark listagg."""
    from ebike_spark.engine.parser import rewrite_dialect

    def rw(sql):
        return rewrite_dialect(sql, 0)

    assert rw("SELECT GROUP_CONCAT(name) FROM t") == "SELECT listagg(name, ',') FROM t"
    assert (
        rw("SELECT group_concat(DISTINCT name SEPARATOR '|') FROM t")
        == "SELECT listagg(DISTINCT name, '|') FROM t"
    )
    assert (
        rw("SELECT GROUP_CONCAT(name ORDER BY id DESC SEPARATOR '; ') FROM t")
        == "SELECT listagg(name, '; ') WITHIN GROUP (ORDER BY id DESC) FROM t"
    )
    # multi-expr form concatenates per row, exactly MySQL
    assert (
        rw("SELECT GROUP_CONCAT(a, ':', b) FROM t")
        == "SELECT listagg(concat(a, ':', b), ',') FROM t"
    )
    # inside a string literal: untouched
    s = "SELECT 'GROUP_CONCAT(x)' AS lit FROM t"
    assert rw(s) == s
    # separator containing the keyword-ish text and parens
    assert (
        rw("SELECT GROUP_CONCAT(f(a, b) SEPARATOR ' ORDER BY ') FROM t")
        == "SELECT listagg(f(a, b), ' ORDER BY ') FROM t"
    )
    # duplicated clauses are a parse error, not malformed output (ADVICE r5)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="duplicate SEPARATOR"):
        rw("SELECT GROUP_CONCAT(a SEPARATOR '-' SEPARATOR '+') FROM t")
    with _pytest.raises(ValueError, match="duplicate ORDER BY"):
        rw("SELECT GROUP_CONCAT(a ORDER BY a ORDER BY b) FROM t")
    # anything trailing the separator literal is a parse error too —
    # never silently glued into the separator argument (review r6)
    with _pytest.raises(ValueError, match="single string literal"):
        rw("SELECT GROUP_CONCAT(a ORDER BY b SEPARATOR ',' ORDER BY c) FROM t")
    with _pytest.raises(ValueError, match="single string literal"):
        rw("SELECT GROUP_CONCAT(a SEPARATOR ',' garbage) FROM t")
    # escaped quotes inside the literal still pass — BOTH styles the
    # lexer accepts: doubled ('it''s') and backslash ('it\'s'), the
    # default MySQL-client escape (review r6: backslash was rejected)
    assert (
        rw("SELECT GROUP_CONCAT(a SEPARATOR 'it''s') FROM t")
        == "SELECT listagg(a, 'it''s') FROM t"
    )
    assert (
        rw("SELECT GROUP_CONCAT(a SEPARATOR 'it\\'s') FROM t")
        == "SELECT listagg(a, 'it\\'s') FROM t"
    )


def test_group_concat_duplicate_separator_is_1064(eng):
    eng.execute(USER_DDL)
    with pytest.raises(EbikeError) as ei:
        eng.execute("SELECT GROUP_CONCAT(name SEPARATOR '-' SEPARATOR '+') FROM user")
    assert ei.value.code == 1064


def test_group_concat_end_to_end(eng):
    eng.execute(USER_DDL)
    eng.execute("INSERT INTO user VALUES (2, 'b', 2.0), (1, 'a', 1.0), (3, 'a', 3.0)")
    r = eng.execute(
        "SELECT name, GROUP_CONCAT(id ORDER BY id SEPARATOR '+') AS ids "
        "FROM user GROUP BY name ORDER BY name"
    ).rows()
    assert [(x["name"], x["ids"]) for x in r] == [("a", "1+3"), ("b", "2")]
    r2 = eng.execute("SELECT GROUP_CONCAT(DISTINCT name) AS n FROM user").rows()
    assert sorted(r2[0]["n"].split(",")) == ["a", "b"]


def test_create_table_like_copies_structure_not_data(eng):
    eng.execute(USER_DDL)
    eng.execute("INSERT INTO user VALUES (1, 'a', 1.0)")
    eng.execute("CREATE TABLE user2 LIKE user")
    assert eng.execute("SELECT COUNT(*) AS c FROM user2").rows()[0]["c"] == 0
    # keys copied: duplicate PK in the clone raises 1062
    eng.execute("INSERT INTO user2 VALUES (1, 'a', 9.0)")
    with pytest.raises(EbikeError) as ei:
        eng.execute("INSERT INTO user2 VALUES (1, 'a', 2.0)")
    assert ei.value.code == 1062
    # SHOW CREATE TABLE round-trips the same column/PK shape
    c1 = eng.execute("SHOW CREATE TABLE user").rows()[0]["Create Table"]
    c2 = eng.execute("SHOW CREATE TABLE user2").rows()[0]["Create Table"]
    assert c1.split("(", 1)[1] == c2.split("(", 1)[1]
    # paren spelling + IF NOT EXISTS no-op
    eng.execute("CREATE TABLE user3 (LIKE user)")
    eng.execute("CREATE TABLE IF NOT EXISTS user2 LIKE user")
    with pytest.raises(EbikeError) as ei:
        eng.execute("CREATE TABLE user2 LIKE user")
    assert ei.value.code == 1050


def test_alter_modify_column_retypes_and_checks(eng):
    eng.execute("CREATE TABLE mc (id INT NOT NULL, v CHAR, PRIMARY KEY (id))")
    eng.execute("INSERT INTO mc VALUES (1, '10'), (2, '20')")
    eng.execute("ALTER TABLE mc MODIFY v INT")
    rows = sorted((x["id"], x["v"]) for x in eng.execute("SELECT * FROM mc").rows())
    assert rows == [(1, 10), (2, 20)]
    assert eng.execute("SELECT id + v AS s FROM mc WHERE id = 1").rows()[0]["s"] == 11
    # strict-mode: non-convertible value is 1366, table unchanged
    eng.execute("CREATE TABLE mc2 (id INT NOT NULL, v CHAR, PRIMARY KEY (id))")
    eng.execute("INSERT INTO mc2 VALUES (1, 'abc')")
    with pytest.raises(EbikeError) as ei:
        eng.execute("ALTER TABLE mc2 MODIFY v INT")
    assert ei.value.code == 1366
    assert eng.execute("SELECT v FROM mc2").rows()[0]["v"] == "abc"
    # NOT NULL over existing NULLs is 1138
    eng.execute("CREATE TABLE mc3 (id INT NOT NULL, v FLOAT, PRIMARY KEY (id))")
    eng.execute("INSERT INTO mc3 VALUES (1, NULL)")
    with pytest.raises(EbikeError) as ei:
        eng.execute("ALTER TABLE mc3 MODIFY v FLOAT NOT NULL")
    assert ei.value.code == 1138
    # float→int rounds (MySQL), never truncates
    eng.execute("CREATE TABLE mc4 (id INT NOT NULL, v FLOAT, PRIMARY KEY (id))")
    eng.execute("INSERT INTO mc4 VALUES (1, 2.6), (2, -2.6)")
    eng.execute("ALTER TABLE mc4 MODIFY v INT")
    rows = sorted((x["id"], x["v"]) for x in eng.execute("SELECT * FROM mc4").rows())
    assert rows == [(1, 3), (2, -3)]
    # MySQL display widths accepted-and-ignored, as in CREATE TABLE (ADVICE r5)
    eng.execute("CREATE TABLE mc5 (id INT NOT NULL, v CHAR, PRIMARY KEY (id))")
    eng.execute("INSERT INTO mc5 VALUES (1, '7')")
    eng.execute("ALTER TABLE mc5 MODIFY v INT(11)")
    assert eng.execute("SELECT v FROM mc5").rows()[0]["v"] == 7
    eng.execute("ALTER TABLE mc5 CHANGE v w FLOAT(10,2) NOT NULL")
    assert eng.execute("SELECT w FROM mc5").rows()[0]["w"] == 7.0


def test_alter_change_column_renames_and_keys_follow(eng):
    eng.execute(
        "CREATE TABLE cc (id INT NOT NULL, u CHAR, PRIMARY KEY (id), UNIQUE KEY uq (u))"
    )
    eng.execute("INSERT INTO cc VALUES (1, 'a')")
    eng.execute("ALTER TABLE cc CHANGE u username CHAR")
    assert [r["username"] for r in eng.execute("SELECT username FROM cc").rows()] == ["a"]
    # the unique key followed the rename
    with pytest.raises(EbikeError) as ei:
        eng.execute("INSERT INTO cc VALUES (2, 'a')")
    assert ei.value.code == 1062
    # DML on the renamed column works end-to-end
    eng.execute("UPDATE cc SET username = 'b' WHERE id = 1")
    eng.execute("INSERT INTO cc VALUES (2, 'a')")
    assert eng.execute("SELECT COUNT(*) AS c FROM cc").rows()[0]["c"] == 2
    # rename onto an existing column is 1060; unknown source is 1054
    with pytest.raises(EbikeError) as ei:
        eng.execute("ALTER TABLE cc CHANGE username id INT")
    assert ei.value.code == 1060
    with pytest.raises(EbikeError) as ei:
        eng.execute("ALTER TABLE cc MODIFY nope INT")
    assert ei.value.code == 1054


def test_alter_multi_clause_applies_in_order(eng):
    eng.execute("CREATE TABLE ma (id INT NOT NULL, v CHAR, w CHAR, PRIMARY KEY (id))")
    eng.execute("INSERT INTO ma VALUES (1, '10', 'x'), (2, '20', 'y')")
    eng.execute(
        "ALTER TABLE ma ADD COLUMN a INT, DROP COLUMN w, MODIFY v INT, ADD KEY k (v)"
    )
    rows = sorted((x["id"], x["v"], x["a"]) for x in eng.execute("SELECT * FROM ma").rows())
    assert rows == [(1, 10, None), (2, 20, None)]
    ct = eng.execute("SHOW CREATE TABLE ma").rows()[0]["Create Table"]
    assert "KEY `k` (`v`)" in ct and "`w`" not in ct
    # display width on ADD COLUMN accepted-and-ignored (as MODIFY/CREATE)
    eng.execute("ALTER TABLE ma ADD COLUMN b INT(11)")
    assert "b" in [r["Field"] for r in eng.execute("SHOW COLUMNS FROM ma").rows()]


def test_alter_multi_clause_is_atomic(eng):
    eng.execute("CREATE TABLE mb (id INT NOT NULL, v CHAR, PRIMARY KEY (id))")
    eng.execute("INSERT INTO mb VALUES (1, 'abc')")
    # second clause fails (1366 cast) → first clause must NOT persist
    with pytest.raises(EbikeError) as ei:
        eng.execute("ALTER TABLE mb ADD COLUMN a INT, MODIFY v INT")
    assert ei.value.code == 1366
    cols = [r["Field"] for r in eng.execute("SHOW COLUMNS FROM mb").rows()]
    assert cols == ["id", "v"]
    assert eng.execute("SELECT v FROM mb").rows()[0]["v"] == "abc"
    # unknown column mid-list → same rollback
    with pytest.raises(EbikeError) as ei:
        eng.execute("ALTER TABLE mb ADD COLUMN a INT, DROP COLUMN nope")
    assert ei.value.code == 1091
    assert [r["Field"] for r in eng.execute("SHOW COLUMNS FROM mb").rows()] == ["id", "v"]
    # nothing of the rolled-back attempts is left: no other table, and
    # no version directory beside the table's data
    assert [r["Tables_in_" + eng.current_db] for r in eng.execute("SHOW TABLES").rows()] == ["mb"]
    root = commit.location(eng.spark, f"{eng.current_db}.mb")
    assert not [n for n in os.listdir(root) if n.startswith("_v")]


def test_alter_multi_clause_rename_applies_last(eng):
    eng.execute("CREATE TABLE mr (id INT NOT NULL, PRIMARY KEY (id))")
    eng.execute("INSERT INTO mr VALUES (1)")
    eng.execute("ALTER TABLE mr ADD COLUMN a INT, RENAME TO mr2")
    assert eng.execute("SELECT id, a FROM mr2").rows()[0]["id"] == 1
    with pytest.raises(EbikeError) as ei:
        eng.execute("SELECT * FROM mr")
    assert ei.value.code == 1146
    # rename-target collision is pre-checked: nothing applied
    eng.execute("CREATE TABLE mr3 (id INT NOT NULL, PRIMARY KEY (id))")
    with pytest.raises(EbikeError) as ei:
        eng.execute("ALTER TABLE mr3 ADD COLUMN a INT, RENAME TO mr2")
    assert ei.value.code == 1050
    assert [r["Field"] for r in eng.execute("SHOW COLUMNS FROM mr3").rows()] == ["id"]
    # trailing comma / garbage clause are clean 1064s
    with pytest.raises(EbikeError) as ei:
        eng.execute("ALTER TABLE mr3 ADD COLUMN b INT,")
    assert ei.value.code == 1064
    with pytest.raises(EbikeError) as ei:
        eng.execute("ALTER TABLE mr3 ADD COLUMN b INT, FROBNICATE c")
    assert ei.value.code == 1064
    assert [r["Field"] for r in eng.execute("SHOW COLUMNS FROM mr3").rows()] == ["id"]


def test_show_create_table_lists_cluster_keys(eng):
    eng.execute(USER_DDL)
    eng.execute("CREATE INDEX ix ON user (stature)")
    ct = eng.execute("SHOW CREATE TABLE user").rows()[0]["Create Table"]
    assert "KEY `ix` (`stature`)" in ct
    eng.execute("DROP INDEX ix ON user")
    ct2 = eng.execute("SHOW CREATE TABLE user").rows()[0]["Create Table"]
    assert "KEY `ix`" not in ct2


def test_drop_column_removes_emptied_unique_key(eng):
    """Dropping a UNIQUE key's last column drops the key with it (MySQL
    drops the index) — an empty key list must not survive to crash the
    next keyed INSERT."""
    eng.execute("CREATE TABLE dk (a INT, b CHAR, UNIQUE KEY u (b))")
    eng.execute("ALTER TABLE dk DROP COLUMN b")
    eng.execute("INSERT INTO dk VALUES (1)")
    eng.execute("INSERT INTO dk VALUES (1)")  # no phantom constraint
    assert eng.execute("SELECT COUNT(*) AS c FROM dk").rows()[0]["c"] == 2


def test_create_table_like_matview_rejected(eng):
    eng.execute(USER_DDL)
    eng.execute("CREATE MATERIALIZED VIEW mv AS SELECT id FROM user")
    with pytest.raises(EbikeError) as ei:
        eng.execute("CREATE TABLE t2 LIKE mv")
    assert ei.value.code == 1347
    eng.execute("DROP MATERIALIZED VIEW mv")


def test_add_unique_nospace_and_autoname_dedup(eng):
    eng.execute("CREATE TABLE au (a INT, b CHAR)")
    # no space after the keyword: INDEX must not become the key name
    eng.execute("ALTER TABLE au ADD UNIQUE INDEX(a)")
    names = {r["Key_name"] for r in eng.execute("SHOW INDEX FROM au").rows()}
    assert "a" in names and "index" not in names
    # anonymous re-add on a fresh column set dedups a -> a_2 (MySQL)
    eng.execute("ALTER TABLE au ADD UNIQUE (a, b)")
    names = {r["Key_name"] for r in eng.execute("SHOW INDEX FROM au").rows()}
    assert "a_2" in names


def test_key_ddl_refreshes_information_schema(eng):
    eng.execute("CREATE TABLE ks (id INT NOT NULL, v CHAR)")
    # prime (and clear the dirty flag)
    eng.execute(
        "SELECT column_key FROM information_schema.columns "
        "WHERE table_name = 'ks' AND column_name = 'id'"
    )
    eng.execute("ALTER TABLE ks ADD PRIMARY KEY (id)")
    rows = eng.execute(
        "SELECT column_key FROM information_schema.columns "
        "WHERE table_name = 'ks' AND column_name = 'id'"
    ).rows()
    assert rows[0]["column_key"] == "PRI"


def test_show_create_table_round_trip_fidelity(eng):
    """SHOW CREATE TABLE output re-executes through Engine.execute into
    a table whose own SHOW CREATE TABLE is byte-identical (fixed
    point), and the constraints survive BEHAVIORALLY: PK/UNIQUE still
    raise 1062, AUTO_INCREMENT still mints, KEY still lists as a
    clustering index (VERDICT-r5 task 7)."""
    ddls = [
        "CREATE TABLE rt1 (id INT NOT NULL, name CHAR, score FLOAT, PRIMARY KEY (id))",
        "CREATE TABLE rt2 (a INT AUTO_INCREMENT, b CHAR NOT NULL, "
        "PRIMARY KEY (a), UNIQUE KEY ub (b))",
        "CREATE TABLE rt3 (x INT, y FLOAT, z CHAR)",
        "CREATE TABLE rt4 (id INT NOT NULL, v FLOAT, PRIMARY KEY (id), KEY ix (v))",
    ]
    for i, ddl in enumerate(ddls, 1):
        t = f"rt{i}"
        eng.execute(ddl)
        ct = eng.execute(f"SHOW CREATE TABLE {t}").rows()[0]["Create Table"]
        eng.execute(f"DROP TABLE {t}")
        eng.execute(ct)  # the round trip
        ct2 = eng.execute(f"SHOW CREATE TABLE {t}").rows()[0]["Create Table"]
        assert ct2 == ct, f"{t}: SHOW CREATE TABLE is not a fixed point"
    # constraints survived the trip behaviorally, not just textually
    eng.execute("INSERT INTO rt2 (b) VALUES ('x'), ('y')")
    assert sorted(r["a"] for r in eng.execute("SELECT a FROM rt2").rows()) == [1, 2]
    with pytest.raises(EbikeError) as ei:
        eng.execute("INSERT INTO rt2 (b) VALUES ('x')")
    assert ei.value.code == 1062
    eng.execute("INSERT INTO rt1 VALUES (1, 'a', 1.0)")
    with pytest.raises(EbikeError) as ei:
        eng.execute("INSERT INTO rt1 VALUES (1, 'b', 2.0)")
    assert ei.value.code == 1062
    idx = eng.execute("SHOW INDEX FROM rt4").rows()
    assert any(r["Key_name"] == "ix" for r in idx)


def test_create_table_inline_key_validates(eng):
    with pytest.raises(EbikeError) as ei:
        eng.execute("CREATE TABLE bad1 (a INT, KEY kx (nope))")
    assert ei.value.code == 1072
    with pytest.raises(EbikeError) as ei:
        eng.execute("CREATE TABLE bad2 (a INT, UNIQUE KEY k1 (a), KEY k1 (a))")
    assert ei.value.code == 1061
    # anonymous KEY auto-names after its first column, MySQL-style
    eng.execute("CREATE TABLE akey (a INT, b INT, KEY (a), KEY (a, b))")
    names = {r["Key_name"] for r in eng.execute("SHOW INDEX FROM akey").rows()}
    assert {"a", "a_2"} <= names
    # a reserved-word column def can't masquerade as an index (1064,
    # as MySQL gives, not a nonsense unknown-column 1072)
    with pytest.raises(EbikeError) as ei:
        eng.execute("CREATE TABLE bad3 (key INT(11))")
    assert ei.value.code == 1064


def test_load_data_infile_basic(eng, tmp_path):
    eng.execute("CREATE TABLE ld (id INT NOT NULL, name CHAR, score FLOAT, PRIMARY KEY (id))")
    f = tmp_path / "in.csv"
    f.write_text("1,alice,3.5\n2,bob,4.0\n3,carol,1.25\n")
    r = eng.execute(f"LOAD DATA INFILE '{f}' INTO TABLE ld FIELDS TERMINATED BY ','")
    assert r.affected == 3
    rows = sorted((x["id"], x["name"], x["score"]) for x in eng.execute("SELECT * FROM ld").rows())
    assert rows == [(1, "alice", 3.5), (2, "bob", 4.0), (3, "carol", 1.25)]
    # duplicate key on a second load → 1062, nothing applied
    with pytest.raises(EbikeError) as ei:
        eng.execute(f"LOAD DATA INFILE '{f}' INTO TABLE ld FIELDS TERMINATED BY ','")
    assert ei.value.code == 1062
    assert eng.execute("SELECT COUNT(*) AS n FROM ld").rows()[0]["n"] == 3


def test_load_data_reads_its_path_and_terminator_as_string_literals(eng, tmp_path):
    """LOAD DATA's INFILE path and FIELDS TERMINATED BY are MySQL string
    literals: a doubled or escaped quote in the path, and escapes such
    as \\t in the terminator."""
    eng.execute("CREATE TABLE lq (id INT, name CHAR)")
    f = tmp_path / "it's.csv"
    f.write_text("1|a\n2|b\n")
    path = str(f).replace("'", "''")
    assert eng.execute(f"LOAD DATA INFILE '{path}' INTO TABLE lq FIELDS TERMINATED BY '|'").affected == 2
    g = tmp_path / "tab.csv"
    g.write_text("3\tc\n")
    assert eng.execute(f"LOAD DATA INFILE \"{g}\" INTO TABLE lq FIELDS TERMINATED BY '\\t'").affected == 1
    assert eng.execute(f"LOAD DATA INFILE '{g}' INTO TABLE lq").affected == 1  # tab by default
    rows = sorted(tuple(r) for r in eng.execute("SELECT id, name FROM lq").rows())
    assert rows == [(1, "a"), (2, "b"), (3, "c"), (3, "c")]
    with pytest.raises(EbikeError) as ei:
        eng.execute(f"LOAD DATA INFILE '{g}' INTO TABLE lq FIELDS TERMINATED BY tab")
    assert ei.value.code == 1064


def test_load_data_infile_header_columns_and_modes(eng, tmp_path):
    eng.execute("CREATE TABLE ld2 (id INT NOT NULL, name CHAR, PRIMARY KEY (id))")
    f = tmp_path / "h.csv"
    f.write_text("id,name\n1,alice\n2,bob\n")
    r = eng.execute(
        f"LOAD DATA LOCAL INFILE '{f}' INTO TABLE ld2 FIELDS TERMINATED BY ',' "
        f"IGNORE 1 LINES (id, name)"
    )
    assert r.affected == 2
    # IGNORE mode skips the stored-dup row, loads the new one
    g = tmp_path / "g.csv"
    g.write_text("2,BOB2\n3,carol\n")
    r = eng.execute(f"LOAD DATA INFILE '{g}' IGNORE INTO TABLE ld2 FIELDS TERMINATED BY ','")
    assert r.affected == 1
    assert eng.execute("SELECT name FROM ld2 WHERE id = 2").rows()[0]["name"] == "bob"
    # REPLACE mode evicts the stored conflict
    h = tmp_path / "r.csv"
    h.write_text("3,CAROL3\n")
    r = eng.execute(f"LOAD DATA INFILE '{h}' REPLACE INTO TABLE ld2 FIELDS TERMINATED BY ','")
    assert r.affected == 2  # 1 insert + 1 delete, MySQL accounting
    assert eng.execute("SELECT name FROM ld2 WHERE id = 3").rows()[0]["name"] == "CAROL3"
    # tab is the MySQL default separator
    t = tmp_path / "t.tsv"
    t.write_text("9\tzed\n")
    assert eng.execute(f"LOAD DATA INFILE '{t}' INTO TABLE ld2").affected == 1


def test_load_data_infile_errors(eng, tmp_path):
    eng.execute("CREATE TABLE ld3 (id INT NOT NULL, PRIMARY KEY (id))")
    with pytest.raises(EbikeError) as ei:
        eng.execute("LOAD DATA INFILE '/nope/missing.csv' INTO TABLE ld3")
    assert ei.value.code == 29
    f = tmp_path / "bad.csv"
    f.write_text("notanint\n")
    # strict mode: a bad field is 1366 naming the column — the SAME
    # guarded cast as INSERT VALUES (round 9 unification), never
    # MySQL's silent zero-coercion
    with pytest.raises(EbikeError) as ei:
        eng.execute(f"LOAD DATA INFILE '{f}' INTO TABLE ld3 FIELDS TERMINATED BY ','")
    assert ei.value.code == 1366 and "'id'" in str(ei.value)
    with pytest.raises(EbikeError) as ei:
        eng.execute(f"LOAD DATA INFILE '{f}' INTO TABLE ld3 IGNORE 3 LINES")
    assert ei.value.code == 1105


def test_load_data_secure_file_priv_and_dup_columns(eng, tmp_path):
    """secure_file_priv is fixed at Engine construction and gates LOAD
    DATA paths (1290 outside the fence, symlink-resolved); SET on it is
    1238 in every scope (a runtime-settable fence would let any wire
    client lift it); a duplicate name in the target column list is
    1110, never a silent first-field remap."""
    eng.execute("CREATE TABLE ldp (id INT NOT NULL, name CHAR, PRIMARY KEY (id))")
    allowed = tmp_path / "allowed"
    allowed.mkdir()
    inside = allowed / "in.csv"
    inside.write_text("1,alice\n")
    outside = tmp_path / "out.csv"
    outside.write_text("2,bob\n")
    fenced = Engine(eng.spark, secure_file_priv=str(allowed))
    fenced.execute(f"USE {eng.current_db}")
    # the fence is read-only at runtime: SESSION, bare @@, and GLOBAL
    # scope all 1238 (GLOBAL would seed every new session)
    for stmt in (
        "SET secure_file_priv = ''",
        "SET @@secure_file_priv = ''",
        "SET GLOBAL secure_file_priv = ''",
    ):
        with pytest.raises(EbikeError) as ei:
            fenced.execute(stmt)
        assert ei.value.code == 1238
    # a USER variable of the same name is a different namespace
    fenced.execute("SET @secure_file_priv = 'harmless'")
    with pytest.raises(EbikeError) as ei:
        fenced.execute(f"LOAD DATA INFILE '{outside}' INTO TABLE ldp FIELDS TERMINATED BY ','")
    assert ei.value.code == 1290
    # a symlink inside the fence pointing outside is still rejected
    link = allowed / "sneaky.csv"
    link.symlink_to(outside)
    with pytest.raises(EbikeError) as ei:
        fenced.execute(f"LOAD DATA INFILE '{link}' INTO TABLE ldp FIELDS TERMINATED BY ','")
    assert ei.value.code == 1290
    assert (
        fenced.execute(
            f"LOAD DATA INFILE '{inside}' INTO TABLE ldp FIELDS TERMINATED BY ','"
        ).affected
        == 1
    )
    # an unfenced Engine ('' is the engine default) loads anywhere
    assert (
        eng.execute(
            f"LOAD DATA INFILE '{outside}' INTO TABLE ldp FIELDS TERMINATED BY ','"
        ).affected
        == 1
    )
    with pytest.raises(EbikeError) as ei:
        eng.execute(
            f"LOAD DATA INFILE '{inside}' IGNORE INTO TABLE ldp "
            f"FIELDS TERMINATED BY ',' (id, id)"
        )
    assert ei.value.code == 1110


def test_load_data_replace_intra_file_last_wins(eng, tmp_path):
    """LOAD DATA REPLACE resolves intra-file key collisions
    distributively with MySQL's last-wins semantics and per-eviction
    delete accounting (the path that used to collect every key tuple
    to the driver)."""
    eng.execute("CREATE TABLE ldr (id INT NOT NULL, name CHAR, PRIMARY KEY (id))")
    eng.execute("INSERT INTO ldr VALUES (1, 'stored')")
    f = tmp_path / "dups.csv"
    # id=1 collides stored AND repeats in-file; id=2 repeats in-file
    f.write_text("1,first\n2,a\n1,second\n2,b\n")
    r = eng.execute(f"LOAD DATA INFILE '{f}' REPLACE INTO TABLE ldr FIELDS TERMINATED BY ','")
    # MySQL accounting: 4 inserts + 1 stored delete + 2 intra-file evictions
    assert r.affected == 7
    rows = sorted((x["id"], x["name"]) for x in eng.execute("SELECT * FROM ldr").rows())
    assert rows == [(1, "second"), (2, "b")]


def test_mysqldump_preamble_compat(eng):
    """The statement sequence mysqldump / client libraries emit must be
    acknowledged: SET TRANSACTION ISOLATION, START TRANSACTION/BEGIN,
    LOCK/UNLOCK TABLES, SHOW WARNINGS (empty set). ROLLBACK stays 1105
    (reference parity — no transaction log exists to roll back)."""
    eng.execute("SET SESSION TRANSACTION ISOLATION LEVEL REPEATABLE READ")
    eng.execute("START TRANSACTION")
    eng.execute("BEGIN")
    eng.execute("CREATE TABLE lk (id INT NOT NULL, PRIMARY KEY (id))")
    eng.execute("LOCK TABLES lk WRITE")
    eng.execute("INSERT INTO lk VALUES (1)")
    eng.execute("UNLOCK TABLES")
    eng.execute("COMMIT")
    assert eng.execute("SELECT COUNT(*) AS n FROM lk").rows()[0]["n"] == 1
    w = eng.execute("SHOW WARNINGS")
    assert w.rows() == []
    assert [f.name for f in w.df.schema.fields] == ["Level", "Code", "Message"]
    assert eng.execute("SHOW ERRORS").rows() == []
    # COUNT(*) form: ONE row, one int column (clients read row[0][0])
    wc = eng.execute("SHOW COUNT(*) WARNINGS")
    assert [tuple(r) for r in wc.rows()] == [(0,)]
    assert [f.name for f in wc.df.schema.fields] == ["@@session.warning_count"]
    ec = eng.execute("SHOW COUNT(*) ERRORS")
    assert [tuple(r) for r in ec.rows()] == [(0,)]
    assert [f.name for f in ec.df.schema.fields] == ["@@session.error_count"]
    with pytest.raises(EbikeError) as ei:
        eng.execute("ROLLBACK")
    assert ei.value.code == 1105


def test_multi_table_delete_join(eng):
    """DELETE t1 FROM t1 JOIN t2 ... and DELETE FROM t1 USING ...:
    rows of the target that participate in the join are removed; a row
    matched by several partners still deletes (and counts) once."""
    eng.execute("CREATE TABLE mdel (id INT NOT NULL, grp CHAR, PRIMARY KEY (id))")
    eng.execute("CREATE TABLE mref (grp CHAR, tag CHAR)")
    eng.execute("INSERT INTO mdel VALUES (1, 'a'), (2, 'b'), (3, 'a'), (4, 'c')")
    eng.execute("INSERT INTO mref VALUES ('a', 'x'), ('a', 'y'), ('b', 'x')")
    r = eng.execute(
        "DELETE mdel FROM mdel JOIN mref ON mdel.grp = mref.grp WHERE mref.tag = 'x'"
    )
    assert r.affected == 3  # ids 1,3 (grp a) + 2 (grp b); double-match counts once
    left = sorted(x["id"] for x in eng.execute("SELECT id FROM mdel").rows())
    assert left == [4]
    # USING spelling, alias form (MySQL: an aliased table is named by
    # its alias in the DELETE list)
    eng.execute("INSERT INTO mdel VALUES (5, 'b')")
    r = eng.execute(
        "DELETE FROM d USING mdel AS d JOIN mref r ON d.grp = r.grp"
    )
    assert r.affected == 1
    assert sorted(x["id"] for x in eng.execute("SELECT id FROM mdel").rows()) == [4]
    # the target on the NULL side of a LEFT JOIN: an unmatched row
    # names no target row, so it neither deletes nor counts
    r = eng.execute("DELETE mref FROM mdel LEFT JOIN mref ON mdel.grp = mref.grp")
    assert r.affected == 0
    assert eng.execute("SELECT COUNT(*) AS n FROM mref").rows()[0]["n"] == 3
    eng.execute("INSERT INTO mdel VALUES (6, 'b')")
    r = eng.execute("DELETE mref FROM mdel LEFT JOIN mref ON mdel.grp = mref.grp")
    assert r.affected == 1
    assert sorted(x["grp"] for x in eng.execute("SELECT grp FROM mref").rows()) == ["a", "a"]


def test_multi_table_update_join(eng):
    """UPDATE t1 JOIN t2 ON ... SET t1.c = <expr over both>: the
    enrich-in-place statement; changed-row accounting and key re-check
    match the single-table path."""
    eng.execute("CREATE TABLE mupd (id INT NOT NULL, grp CHAR, score FLOAT, PRIMARY KEY (id))")
    eng.execute("CREATE TABLE mdim (grp CHAR, bonus FLOAT)")
    eng.execute("INSERT INTO mupd VALUES (1, 'a', 1.0), (2, 'b', 2.0), (3, 'c', 3.0)")
    eng.execute("INSERT INTO mdim VALUES ('a', 10.0), ('b', 20.0)")
    r = eng.execute(
        "UPDATE mupd u JOIN mdim d ON u.grp = d.grp SET u.score = u.score + d.bonus"
    )
    assert r.affected == 2  # id 3 has no join partner
    got = {x["id"]: x["score"] for x in eng.execute("SELECT id, score FROM mupd").rows()}
    assert got == {1: 11.0, 2: 22.0, 3: 3.0}
    # no-op assignment counts zero changed rows (MySQL accounting)
    r = eng.execute(
        "UPDATE mupd u JOIN mdim d ON u.grp = d.grp SET u.score = u.score + 0"
    )
    assert r.affected == 0
    # multi-match rows pin a deterministic representative
    eng.execute("INSERT INTO mdim VALUES ('a', 5.0)")
    r = eng.execute(
        "UPDATE mupd u JOIN mdim d ON u.grp = d.grp SET u.score = d.bonus"
    )
    got = {x["id"]: x["score"] for x in eng.execute("SELECT id, score FROM mupd").rows()}
    assert got[1] == 5.0  # smallest new-value tuple wins, documented
    # key-column assignment through the JOIN form still re-checks (1062)
    eng.execute("CREATE TABLE mkey (id INT NOT NULL, grp CHAR, PRIMARY KEY (id))")
    eng.execute("INSERT INTO mkey VALUES (1, 'a'), (2, 'a')")
    with pytest.raises(EbikeError) as ei:
        eng.execute("UPDATE mkey k JOIN mdim d ON k.grp = d.grp SET k.id = 9")
    assert ei.value.code == 1062


def test_multi_table_update_assigns_several_tables(eng):
    """UPDATE t1 JOIN t2 SET t1.x = f(t2), t2.y = g(t1): both sides of
    the join update in one statement (MySQL parity). Every assignment
    reads the statement's PRE-image snapshot — cross-assignments swap
    cleanly instead of one side observing the other's write (MySQL is
    row-order-dependent there; snapshot semantics is the documented
    deterministic pin). Affected counts changed rows across BOTH
    tables; the same table through two aliases merges (last-wins)."""
    eng.execute("CREATE TABLE swapa (id INT NOT NULL, v FLOAT, PRIMARY KEY (id))")
    eng.execute("CREATE TABLE swapb (id INT NOT NULL, v FLOAT, PRIMARY KEY (id))")
    eng.execute("INSERT INTO swapa VALUES (1, 10.0), (2, 20.0), (3, 30.0)")
    eng.execute("INSERT INTO swapb VALUES (1, 1.0), (2, 2.0)")
    r = eng.execute(
        "UPDATE swapa a JOIN swapb b ON a.id = b.id "
        "SET a.v = b.v, b.v = a.v"
    )
    assert r.affected == 4  # ids 1,2 change in both tables; id 3 unjoined
    ga = {x["id"]: x["v"] for x in eng.execute("SELECT id, v FROM swapa").rows()}
    gb = {x["id"]: x["v"] for x in eng.execute("SELECT id, v FROM swapb").rows()}
    # a true swap: b.v read a's PRE-image, not the just-written value
    assert ga == {1: 1.0, 2: 2.0, 3: 30.0}
    assert gb == {1: 10.0, 2: 20.0}
    # per-table no-op accounting: only genuinely changed rows count
    r = eng.execute(
        "UPDATE swapa a JOIN swapb b ON a.id = b.id "
        "SET a.v = b.v, b.v = b.v + 0"
    )
    assert r.affected == 2  # a takes b's values; b unchanged
    # the same physical table assigned via two aliases merges into ONE
    # post-image; where both aliases match a row, the LAST assignment
    # in statement order wins (see
    # test_multi_table_update_same_table_two_aliases for the full pin)
    eng.execute(
        "UPDATE swapa x JOIN swapa y ON x.id = y.id SET x.v = 1, y.v = 2"
    )
    ga = {x["id"]: x["v"] for x in eng.execute("SELECT id, v FROM swapa").rows()}
    assert ga == {1: 2.0, 2: 2.0, 3: 2.0}
    # key re-check still guards EVERY assigned table (1062 on table 2)
    with pytest.raises(EbikeError) as ei:
        eng.execute(
            "UPDATE swapa a JOIN swapb b ON a.id = b.id "
            "SET a.v = 0, b.id = 7"
        )
    assert ei.value.code == 1062
    # ...and a failed re-check lands NOTHING (all-or-nothing statement)
    ga = {x["id"]: x["v"] for x in eng.execute("SELECT id, v FROM swapa").rows()}
    assert ga[1] != 0.0


def test_mysql_datetime_format_rewrites(eng):
    """DATE_FORMAT %-specifiers → java patterns; STR_TO_DATE parses;
    literal letters in formats are quoted; unsupported specifiers and
    non-literal formats fail cleanly instead of emitting wrong dates."""
    eng.execute("CREATE TABLE dtf (id INT, d CHAR)")
    eng.execute("INSERT INTO dtf VALUES (1, '2024-03-09 17:05:09')")
    r = eng.execute(
        "SELECT DATE_FORMAT(d, '%Y-%m-%d') AS ymd, DATE_FORMAT(d, '%H:%i:%s') AS hms, "
        "DATE_FORMAT(d, '%W %M %e') AS wordy, DATE_FORMAT(d, '%d%%') AS pct, "
        "DATE_FORMAT(d, 'at %H') AS lit, "
        "DATE_FORMAT(d, '%d#%m') AS hashy, DATE_FORMAT(d, '[%H]{%i}') AS bracey "
        "FROM dtf"
    ).rows()[0]
    assert r["ymd"] == "2024-03-09"
    assert r["hms"] == "17:05:09"
    assert r["wordy"] == "Saturday March 9"
    assert r["pct"] == "09%"
    assert r["lit"] == "at 17"
    # DateTimeFormatter-reserved punctuation: # { } throw unquoted and
    # [ ] are live optional-section syntax — all must translate quoted
    assert r["hashy"] == "09#03"
    assert r["bracey"] == "[17]{05}"
    got = eng.execute(
        "SELECT STR_TO_DATE('09/03/2024 17:05', '%d/%m/%Y %H:%i') AS ts FROM dtf"
    ).rows()[0]["ts"]
    assert str(got).startswith("2024-03-09 17:05")
    with pytest.raises(EbikeError) as ei:
        eng.execute("SELECT DATE_FORMAT(d, '%V') AS bad FROM dtf")
    assert ei.value.code == 1064
    with pytest.raises(EbikeError) as ei:
        eng.execute("SELECT DATE_FORMAT(d, id) AS bad FROM dtf")
    assert ei.value.code == 1064
    # a quoted string containing the function name passes through
    r = eng.execute("SELECT 'DATE_FORMAT(x, ''%Q'')' AS s FROM dtf").rows()[0]
    assert r["s"] == "DATE_FORMAT(x, '%Q')"


def test_date_format_in_dml_values(eng):
    eng.execute("CREATE TABLE dtv (id INT, s CHAR)")
    eng.execute(
        "INSERT INTO dtv VALUES (1, DATE_FORMAT(CAST('2024-03-09' AS TIMESTAMP), '%M %Y'))"
    )
    assert eng.execute("SELECT s FROM dtv").rows()[0]["s"] == "March 2024"


def test_maintenance_statements(eng, spark):
    """CHECK / ANALYZE / OPTIMIZE TABLE: MySQL's maintenance trio mapped
    to real operations (constraint audit at rest, catalog statistics,
    file compaction), each reporting MySQL's 4-column row shape."""
    eng.execute("CREATE TABLE mt (id INT NOT NULL, v CHAR, PRIMARY KEY (id))")
    eng.execute("INSERT INTO mt VALUES (1, 'a'), (2, 'b')")
    r = eng.execute("CHECK TABLE mt").rows()
    assert [f.name for f in eng.execute("CHECK TABLE mt").df.schema.fields] == [
        "Table", "Op", "Msg_type", "Msg_text",
    ]
    assert r[0]["Op"] == "check" and r[0]["Msg_text"] == "OK"
    assert eng.execute("ANALYZE TABLE mt").rows()[0]["Msg_text"] == "OK"
    assert eng.execute("OPTIMIZE TABLE mt").rows()[0]["Msg_text"] == "OK"
    # data survives OPTIMIZE's rewrite
    assert eng.execute("SELECT COUNT(*) AS c FROM mt").rows()[0]["c"] == 2
    # CHECK catches corruption written around the engine (external
    # writer appends a duplicate PK + a NULL into the parquet table)
    q = f"{eng.current_db}.mt"
    spark.createDataFrame(
        [(1, None, "x-rowid")], spark.table(q).schema
    ).write.insertInto(q, overwrite=False)
    bad = eng.execute("CHECK TABLE mt").rows()[0]
    assert bad["Msg_type"] == "error"
    assert "NULL" not in bad["Msg_text"] or "duplicate" in bad["Msg_text"]
    assert "duplicate entries in key 'PRIMARY'" in bad["Msg_text"]
    # comma list: one row per table
    eng.execute("CREATE TABLE mt2 (id INT)")
    assert len(eng.execute("CHECK TABLE mt, mt2").rows()) == 2


def test_datetime_rewrite_once_in_insert_select_and_join_dml(eng):
    """Review fences: the %-format rewrite must apply exactly ONCE per
    statement text (it is not idempotent), nested datetime fns
    translate, and a ' WHERE ' inside a string literal must not split
    multi-table DML."""
    eng.execute("CREATE TABLE dt1 (id INT, s CHAR)")
    eng.execute("CREATE TABLE dt2 (id INT, d CHAR)")
    eng.execute("INSERT INTO dt2 VALUES (1, '2024-03-09 17:05:09')")
    # INSERT...SELECT is translated as one statement and its SELECT is
    # cut from that text — the rewrite must not double-apply ('%d%%'
    # would raise dangling-%)
    eng.execute(
        "INSERT INTO dt1 SELECT id, DATE_FORMAT(d, '%Y-%m %d%%') FROM dt2"
    )
    assert eng.execute("SELECT s FROM dt1").rows()[0]["s"] == "2024-03 09%"
    # nested datetime functions translate inside out
    got = eng.execute(
        "SELECT DATE_FORMAT(STR_TO_DATE('09/03/2024', '%d/%m/%Y'), '%Y') AS y "
        "FROM dt2"
    ).rows()[0]["y"]
    assert got == "2024"
    # multi-table UPDATE with a literal containing ' WHERE ' and
    # a DATE_FORMAT in the assignment — single rewrite, no mis-split
    eng.execute("CREATE TABLE dt3 (id INT, grp CHAR, note CHAR)")
    eng.execute("INSERT INTO dt3 VALUES (1, 'g', '')")
    eng.execute("CREATE TABLE dt4 (grp CHAR, d CHAR)")
    eng.execute("INSERT INTO dt4 VALUES ('g', '2024-03-09')")
    eng.execute(
        "UPDATE dt3 a JOIN dt4 b ON a.grp = b.grp "
        "SET a.note = concat('x WHERE y ', DATE_FORMAT(CAST(b.d AS TIMESTAMP), '%M'))"
    )
    assert eng.execute("SELECT note FROM dt3").rows()[0]["note"] == "x WHERE y March"


def test_secure_file_priv_rejects_directories(eng, tmp_path):
    """Under the fence only regular files load: a directory inside the
    fence could contain symlinks escaping it (per-entry resolution is
    what Spark's reader does, not us)."""
    allowed = tmp_path / "fence"
    sub = allowed / "sub"
    sub.mkdir(parents=True)
    (sub / "a.csv").write_text("1,x\n")
    eng.execute("CREATE TABLE sfd (id INT, v CHAR)")
    fenced = Engine(eng.spark, secure_file_priv=str(allowed))
    fenced.execute(f"USE {eng.current_db}")
    with pytest.raises(EbikeError) as ei:
        fenced.execute(f"LOAD DATA INFILE '{sub}' INTO TABLE sfd FIELDS TERMINATED BY ','")
    assert ei.value.code == 1290
    # a plain file inside still loads; unrestricted mode loads the dir
    assert (
        fenced.execute(
            f"LOAD DATA INFILE '{sub / 'a.csv'}' INTO TABLE sfd FIELDS TERMINATED BY ','"
        ).affected
        == 1
    )
    assert (
        eng.execute(
            f"LOAD DATA INFILE '{sub}' INTO TABLE sfd FIELDS TERMINATED BY ','"
        ).affected
        == 1
    )


def test_insert_select_on_duplicate_key_update(eng):
    """INSERT...SELECT...ON DUPLICATE KEY UPDATE routes through the same
    set-oriented upsert as the VALUES form (VALUES(col) references the
    incoming row; affected = 1/insert + 2/changed-update)."""
    eng.execute("CREATE TABLE ods (id INT NOT NULL, v FLOAT, PRIMARY KEY (id))")
    eng.execute("CREATE TABLE osrc (id INT, v FLOAT)")
    eng.execute("INSERT INTO osrc VALUES (1, 10.0), (2, 20.0)")
    eng.execute("INSERT INTO ods VALUES (1, 1.0)")
    r = eng.execute(
        "INSERT INTO ods SELECT id, v FROM osrc "
        "ON DUPLICATE KEY UPDATE v = v + VALUES(v)"
    )
    assert r.affected == 3  # id=2 inserted (1) + id=1 updated-changed (2)
    got = {x["id"]: x["v"] for x in eng.execute("SELECT id, v FROM ods").rows()}
    assert got == {1: 11.0, 2: 20.0}
    with pytest.raises(EbikeError) as ei:
        eng.execute(
            "INSERT IGNORE INTO ods SELECT id, v FROM osrc "
            "ON DUPLICATE KEY UPDATE v = 0"
        )
    assert ei.value.code == 1064


def test_field_function_rewrite(eng):
    """MySQL FIELD() → array_position emulation: 1-based index, 0 for
    not-found and for a NULL subject, nested calls."""
    eng.execute("CREATE TABLE ff (id INT, c CHAR)")
    eng.execute("INSERT INTO ff VALUES (1, 'b'), (2, 'z'), (3, NULL)")
    rows = {
        r["id"]: r["pos"]
        for r in eng.execute(
            "SELECT id, FIELD(c, 'a', 'b', 'c') AS pos FROM ff"
        ).rows()
    }
    assert rows == {1: 2, 2: 0, 3: 0}
    # ORDER BY FIELD(...) — the canonical custom-sort idiom
    got = [
        r["c"]
        for r in eng.execute(
            "SELECT c FROM ff WHERE c IS NOT NULL "
            "ORDER BY FIELD(c, 'z', 'b'), c"
        ).rows()
    ]
    assert got == ["z", "b"]
    # quoted text containing FIELD( passes through untouched
    r = eng.execute("SELECT 'FIELD(x, 1)' AS s FROM ff LIMIT 1").rows()[0]
    assert r["s"] == "FIELD(x, 1)"


def test_show_create_database(eng):
    r = eng.execute(f"SHOW CREATE DATABASE {eng.current_db}").rows()[0]
    assert r["Database"] == eng.current_db
    assert r["Create Database"].startswith(f"CREATE DATABASE `{eng.current_db}`")
    from ebike_spark.engine.errors import EbikeError as _E

    with pytest.raises(_E) as ei:
        eng.execute("SHOW CREATE DATABASE definitely_missing_db")
    assert ei.value.code == 1049


def test_mysqldump_full_file_replay(eng):
    """Script-level integration: a faithful mysqldump 8.0 output file —
    conditional /*!…*/ preamble and postamble, DROP TABLE IF EXISTS,
    CREATE TABLE with backticks/ENGINE/CHARSET, LOCK/UNLOCK TABLES,
    multi-row INSERTs with quote escapes — replays through
    execute_script end-to-end and the restored tables diff clean.
    (The wire twin drives a statement-per-COM_QUERY session; this
    covers the `mysql < dump.sql` batching path. Table names avoid the
    TPCH fixture names — the suite registers `orders` etc. as session
    temp views for oracle tests, and Spark resolves temp views ahead
    of catalog tables.)"""
    dump = """
-- MySQL dump 10.13  Distrib 8.0.26, for Linux (x86_64)
--
-- Host: localhost    Database: shop
-- ------------------------------------------------------
-- Server version	8.0.26

/*!40101 SET @OLD_CHARACTER_SET_CLIENT=@@CHARACTER_SET_CLIENT */;
/*!40101 SET NAMES utf8mb4 */;
/*!40103 SET @OLD_TIME_ZONE=@@TIME_ZONE */;
/*!40103 SET TIME_ZONE='+00:00' */;
/*!40014 SET @OLD_UNIQUE_CHECKS=@@UNIQUE_CHECKS, UNIQUE_CHECKS=0 */;
/*!40014 SET @OLD_FOREIGN_KEY_CHECKS=@@FOREIGN_KEY_CHECKS, FOREIGN_KEY_CHECKS=0 */;
/*!40101 SET @OLD_SQL_MODE=@@SQL_MODE, SQL_MODE='NO_AUTO_VALUE_ON_ZERO' */;

--
-- Table structure for table `customers`
--

DROP TABLE IF EXISTS `customers`;
/*!40101 SET @saved_cs_client     = @@character_set_client */;
/*!50503 SET character_set_client = utf8mb4 */;
CREATE TABLE `customers` (
  `id` int NOT NULL,
  `name` varchar(64) DEFAULT NULL,
  `balance` double DEFAULT NULL,
  PRIMARY KEY (`id`)
) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;
/*!40101 SET character_set_client = @saved_cs_client */;

--
-- Dumping data for table `customers`
--

LOCK TABLES `customers` WRITE;
/*!40000 ALTER TABLE `customers` DISABLE KEYS */;
INSERT INTO `customers` VALUES (1,'O''Brien; the first',10.5),(2,'semi;colon',20.25),(3,NULL,NULL);
/*!40000 ALTER TABLE `customers` ENABLE KEYS */;
UNLOCK TABLES;

DROP TABLE IF EXISTS `purchases`;
CREATE TABLE `purchases` (
  `oid` int NOT NULL,
  `cust` int DEFAULT NULL,
  `note` varchar(64) DEFAULT NULL,
  PRIMARY KEY (`oid`)
) ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;

LOCK TABLES `purchases` WRITE;
INSERT INTO `purchases` VALUES (10,1,'a -- not a comment'),(11,2,'#nor this');
UNLOCK TABLES;

/*!40103 SET TIME_ZONE=@OLD_TIME_ZONE */;
/*!40101 SET SQL_MODE=@OLD_SQL_MODE */;
/*!40014 SET FOREIGN_KEY_CHECKS=@OLD_FOREIGN_KEY_CHECKS */;
/*!40014 SET UNIQUE_CHECKS=@OLD_UNIQUE_CHECKS */;
/*!40101 SET CHARACTER_SET_CLIENT=@OLD_CHARACTER_SET_CLIENT */;

-- Dump completed on 2024-03-09 17:05:09
"""
    eng.execute_script(dump)
    rows = eng.execute(
        "SELECT id, name, balance FROM customers ORDER BY id"
    ).rows()
    assert [(r["id"], r["name"], r["balance"]) for r in rows] == [
        (1, "O'Brien; the first", 10.5),
        (2, "semi;colon", 20.25),
        (3, None, None),
    ]
    rows = eng.execute("SELECT oid, cust, note FROM purchases ORDER BY oid").rows()
    assert [(r["oid"], r["cust"], r["note"]) for r in rows] == [
        (10, 1, "a -- not a comment"),
        (11, 2, "#nor this"),
    ]
    # re-replay is idempotent (DROP IF EXISTS + reload, mysqldump's whole point)
    eng.execute_script(dump)
    assert eng.execute("SELECT COUNT(*) AS c FROM customers").rows()[0]["c"] == 3


def test_create_table_mysql_type_synonyms(eng):
    """Declared-type synonyms map onto existing storage types (real
    mysqldump output declares varchar/double/bigint/text); DATE /
    TIMESTAMP / BOOLEAN store natively; DECIMAL is a clean 1064 —
    silently storing an exact type as a float would corrupt money
    columns."""
    eng.execute(
        "CREATE TABLE typed (id BIGINT NOT NULL, name VARCHAR(64), body TEXT, "
        "amt DOUBLE, d DATE, ts TIMESTAMP, ok BOOLEAN, "
        "created DATETIME, flag TINYINT(1), sm SMALLINT, PRIMARY KEY (id))"
    )
    eng.execute(
        "INSERT INTO typed VALUES (1, 'n', 'b', 2.5, CAST('2024-03-09' AS DATE), "
        "CAST('2024-03-09 17:05:09' AS TIMESTAMP), TRUE, "
        "CAST('2024-03-10 08:00:00' AS TIMESTAMP), 1, 7)"
    )
    r = eng.execute("SELECT * FROM typed").rows()[0]
    assert (r["id"], r["name"], r["body"], r["amt"]) == (1, "n", "b", 2.5)
    # datetime -> timestamp storage; tinyint(1)/smallint -> bigint
    assert str(r["created"]).startswith("2024-03-10 08:00:00")
    assert (r["flag"], r["sm"]) == (1, 7)
    assert str(r["d"]) == "2024-03-09"
    assert str(r["ts"]).startswith("2024-03-09 17:05:09")
    assert r["ok"] is True
    # uniqueness/constraints hold across the new storage types
    with pytest.raises(EbikeError) as ei:
        eng.execute(
            "INSERT INTO typed VALUES (1, 'x', 'y', 0.0, NULL, NULL, FALSE, "
            "NULL, NULL, NULL)"
        )
    assert ei.value.code == 1062
    # DECIMAL stores EXACTLY (Spark DecimalType with the declared p,s)
    from decimal import Decimal

    eng.execute(
        "CREATE TABLE money (id INT NOT NULL, amt DECIMAL(10,2), "
        "q NUMERIC(5), PRIMARY KEY (id))"
    )
    eng.execute("INSERT INTO money VALUES (1, 0.1, 3), (2, 0.2, 4)")
    r = eng.execute(
        "SELECT SUM(amt) AS s, SUM(q) AS sq FROM money"
    ).rows()[0]
    # 0.1 + 0.2 == 0.30 exactly — the float answer would be 0.30000000000000004
    assert r["s"] == Decimal("0.30")
    assert r["sq"] == 7
    cols = {r["Field"]: r["Type"] for r in eng.execute("SHOW COLUMNS FROM money").rows()}
    assert cols["amt"] == "decimal(10,2)"
    assert cols["q"] == "decimal(5,0)"
    # ALTER paths carry (p,s) too
    eng.execute("ALTER TABLE money ADD COLUMN fee DECIMAL(6,3)")
    eng.execute("INSERT INTO money VALUES (3, 1.005, 1, 2.5)")
    assert eng.execute("SELECT fee FROM money WHERE id = 3").rows()[0]["fee"] == Decimal("2.500")
    eng.execute("ALTER TABLE money MODIFY COLUMN q DECIMAL(7,2)")
    assert eng.execute("SELECT q FROM money WHERE id = 1").rows()[0]["q"] == Decimal("3.00")


def test_multi_table_update_mixed_qualified_unqualified(eng):
    """Unqualified assignments resolve the MySQL way: the column is
    looked up in EVERY joined table — a unique owner targets that
    table (regardless of which aliases are otherwise assigned), a
    column present in several tables is 1052 ambiguous, an unknown
    column is 1054."""
    eng.execute("CREATE TABLE mixu (id INT NOT NULL, status CHAR, note CHAR, PRIMARY KEY (id))")
    eng.execute("CREATE TABLE mixd (id INT, name CHAR)")
    eng.execute("INSERT INTO mixu VALUES (1, 'old', 'old')")
    eng.execute("INSERT INTO mixd VALUES (1, 'alice')")
    r = eng.execute(
        "UPDATE mixu o JOIN mixd c ON o.id = c.id "
        "SET o.status = 'x', note = c.name"
    )
    assert r.affected == 1
    row = eng.execute("SELECT status, note FROM mixu").rows()[0]
    assert (row["status"], row["note"]) == ("x", "alice")
    # unqualified among SEVERAL explicit targets still resolves to its
    # unique owner (note lives only in mixu)
    eng.execute("CREATE TABLE mixe (id INT NOT NULL, v CHAR, PRIMARY KEY (id))")
    eng.execute("INSERT INTO mixe VALUES (1, 'e')")
    r = eng.execute(
        "UPDATE mixu o JOIN mixe e ON o.id = e.id "
        "SET o.status = 'y', e.v = 'z', note = 'both'"
    )
    assert r.affected == 2  # one changed ROW in mixu + one in mixe
    assert eng.execute("SELECT note FROM mixu").rows()[0]["note"] == "both"
    assert eng.execute("SELECT v FROM mixe").rows()[0]["v"] == "z"
    # a column present in BOTH joined tables is ambiguous (MySQL 1052)
    with pytest.raises(EbikeError) as ei:
        eng.execute(
            "UPDATE mixu o JOIN mixe e ON o.id = e.id SET status = 'q', id = 9"
        )
    assert ei.value.code == 1052
    # an unqualified column no table owns is 1054
    with pytest.raises(EbikeError) as ei:
        eng.execute(
            "UPDATE mixu o JOIN mixd c ON o.id = c.id SET nocol = 1"
        )
    assert ei.value.code == 1054


def test_prepare_of_cte_dml_does_not_execute(eng):
    """Review finding: Spark supports CTE-prefixed DML and spark.sql()
    runs commands eagerly — prepare-time metadata analysis must NOT
    dispatch a WITH ... INSERT, or the INSERT runs at COM_STMT_PREPARE
    time. The guard declines metadata (None) and leaves the table
    untouched until EXECUTE."""
    eng.execute("CREATE TABLE pdml (id INT, v CHAR)")
    sid = eng.prepare("WITH src AS (SELECT 1 AS one) INSERT INTO pdml SELECT ?, 'x' FROM src")
    # metadata pass declines (DML) and must not have inserted anything
    assert eng.prepared_result_schema(sid) is None
    assert eng.execute("SELECT COUNT(*) AS c FROM pdml").rows()[0]["c"] == 0
    # a pure CTE query still yields real metadata
    sid2 = eng.prepare("WITH b AS (SELECT ? AS x) SELECT x, 'k' AS k FROM b")
    cols = eng.prepared_result_schema(sid2)
    assert cols is not None and [c for c, _ in cols] == ["x", "k"]
    assert eng.execute("SELECT COUNT(*) AS c FROM pdml").rows()[0]["c"] == 0
    # review pin: REPLACE(...) / INSERT(...) are string FUNCTIONS —
    # their bare words at depth 0 in a pure WITH query's SELECT list
    # must not disqualify real metadata (the guard matches DML forms)
    sid3 = eng.prepare(
        "WITH b AS (SELECT ? AS x) "
        "SELECT REPLACE(x, 'a', 'b') AS r, LENGTH(x) AS n FROM b"
    )
    cols3 = eng.prepared_result_schema(sid3)
    assert cols3 is not None and [c for c, _ in cols3] == ["r", "n"]


def test_strict_cast_rejects_bad_values(eng):
    """MySQL strict mode: a non-NULL value that does not convert to
    the declared type raises 1366 — never a silent NULL (the non-ANSI
    Spark cast alone would store NULL into a NULLABLE column). Covers
    unparseable strings, DECIMAL overflow, and the UPDATE path."""
    from decimal import Decimal

    eng.execute(
        "CREATE TABLE strictc (id INT NOT NULL, n INT, amt DECIMAL(10,2), PRIMARY KEY (id))"
    )
    with pytest.raises(EbikeError) as ei:
        eng.execute("INSERT INTO strictc VALUES (1, 'notanint', 1.0)")
    assert ei.value.code == 1366 and "'n'" in str(ei.value)
    # DECIMAL(10,2) holds 8 integer digits; this has 12 -> overflow
    with pytest.raises(EbikeError) as ei:
        eng.execute("INSERT INTO strictc VALUES (1, 2, 123456789012.34)")
    assert ei.value.code == 1366 and "'amt'" in str(ei.value)
    # nothing landed
    assert eng.execute("SELECT COUNT(*) AS c FROM strictc").rows()[0]["c"] == 0
    eng.execute("INSERT INTO strictc VALUES (1, 2, 3.5)")
    assert eng.execute("SELECT amt FROM strictc").rows()[0]["amt"] == Decimal("3.50")
    # UPDATE assignments are strict too
    with pytest.raises(EbikeError) as ei:
        eng.execute("UPDATE strictc SET n = 'nope' WHERE id = 1")
    assert ei.value.code == 1366
    assert eng.execute("SELECT n FROM strictc").rows()[0]["n"] == 2
    # NULL into a nullable column is of course still fine
    eng.execute("UPDATE strictc SET n = NULL WHERE id = 1")
    assert eng.execute("SELECT n FROM strictc").rows()[0]["n"] is None


def test_variables_view_is_per_reader_across_engines(eng):
    """performance_schema.global_variables holds the READING engine's
    session variables: each read builds it from that engine's own
    variables, so connection B never sees connection A's session
    values."""
    other = Engine(eng.spark.newSession())
    other.execute(f"USE {eng.current_db}")
    q = (
        "SELECT variable_value FROM performance_schema.global_variables "
        "WHERE variable_name = 'who_am_i'"
    )
    eng.execute("SET @@who_am_i = 'engine_a'")
    assert [r[0] for r in eng.execute(q).rows()] == ["engine_a"]
    other.execute("SET @@who_am_i = 'engine_b'")
    assert [r[0] for r in other.execute(q).rows()] == ["engine_b"]
    # and back: A re-reads its OWN value, not B's leftover build
    assert [r[0] for r in eng.execute(q).rows()] == ["engine_a"]


def test_strict_cast_edge_cases(eng):
    """Review-pass pins: (a) UPDATE raises 1366 on a matched row even
    when the OLD value is NULL (an unguarded pre-count would call
    NULL→NULL unchanged and return success); (b) magnitude beyond
    BIGINT raises instead of Spark's silent saturation at Long.Max;
    (c) the multi-table UPDATE and upsert assignment paths are strict
    like the single-table path."""
    eng.execute("CREATE TABLE sce (id INT NOT NULL, n INT, PRIMARY KEY (id))")
    eng.execute("INSERT INTO sce VALUES (1, NULL)")
    with pytest.raises(EbikeError) as ei:
        eng.execute("UPDATE sce SET n = 'notanint' WHERE id = 1")
    assert ei.value.code == 1366
    # unmatched rows never evaluate the assignment
    assert eng.execute("UPDATE sce SET n = 'nope' WHERE id = 99").affected == 0
    # BIGINT saturation: 1e30 would silently store Long.Max otherwise
    with pytest.raises(EbikeError) as ei:
        eng.execute("INSERT INTO sce VALUES (2, 1e30)")
    assert ei.value.code == 1366
    with pytest.raises(EbikeError) as ei:
        eng.execute("UPDATE sce SET n = -1e19 WHERE id = 1")
    assert ei.value.code == 1366
    # ...but genuine BIGINT extremes pass
    eng.execute("UPDATE sce SET n = 9223372036854775807 WHERE id = 1")
    assert eng.execute("SELECT n FROM sce").rows()[0]["n"] == 9223372036854775807
    # upsert update-half is strict
    with pytest.raises(EbikeError) as ei:
        eng.execute(
            "INSERT INTO sce VALUES (1, 5) ON DUPLICATE KEY UPDATE n = 'bad'"
        )
    assert ei.value.code == 1366
    # multi-table UPDATE assignment is strict
    eng.execute("CREATE TABLE sced (id INT, s CHAR)")
    eng.execute("INSERT INTO sced VALUES (1, 'xx')")
    with pytest.raises(EbikeError) as ei:
        eng.execute("UPDATE sce a JOIN sced d ON a.id = d.id SET a.n = d.s")
    assert ei.value.code == 1366


def test_multi_table_update_comma_form(eng):
    """MySQL's comma join form: `UPDATE t1 a, t2 b SET a.x = b.y WHERE
    a.id = b.id` routes to the multi-table path (with no JOIN keyword
    at all), including mixed `t1 a, t2 b JOIN t3 c` FROM lists for the
    unqualified-column owner search. Case-insensitive aliases resolve
    to one group (`O.status` and owner-lookup 'o' never split)."""
    eng.execute("CREATE TABLE cfa (id INT NOT NULL, v FLOAT, note CHAR, PRIMARY KEY (id))")
    eng.execute("CREATE TABLE cfb (id INT, bonus FLOAT)")
    eng.execute("INSERT INTO cfa VALUES (1, 1.0, 'n'), (2, 2.0, 'n')")
    eng.execute("INSERT INTO cfb VALUES (1, 10.0)")
    r = eng.execute(
        "UPDATE cfa a, cfb b SET a.v = a.v + b.bonus WHERE a.id = b.id"
    )
    assert r.affected == 1
    got = {x["id"]: x["v"] for x in eng.execute("SELECT id, v FROM cfa").rows()}
    assert got == {1: 11.0, 2: 2.0}
    # mixed comma + JOIN FROM list: unqualified note resolves through
    # the comma-listed table
    eng.execute("CREATE TABLE cfc (id INT, tag CHAR)")
    eng.execute("INSERT INTO cfc VALUES (1, 't')")
    r = eng.execute(
        "UPDATE cfa a, cfb b JOIN cfc c ON b.id = c.id "
        "SET note = c.tag WHERE a.id = b.id"
    )
    assert r.affected == 1
    assert eng.execute("SELECT note FROM cfa WHERE id = 1").rows()[0]["note"] == "t"
    # alias case-insensitivity: qualified `A.` groups with owner 'a'
    r = eng.execute(
        "UPDATE cfa A, cfb b SET A.v = 0, note = 'z' WHERE A.id = b.id"
    )
    assert r.affected == 1


def test_multi_table_delete_comma_form(eng):
    """MySQL's comma form of multi-table DELETE (`DELETE a FROM t1 a,
    t2 b WHERE a.id = b.id`) — same doomed-rowid join as the JOIN
    spelling; pinned so the FROM-clause enumeration keeps covering it."""
    eng.execute("CREATE TABLE dca (id INT NOT NULL, PRIMARY KEY (id))")
    eng.execute("CREATE TABLE dcb (id INT)")
    eng.execute("INSERT INTO dca VALUES (1), (2), (3)")
    eng.execute("INSERT INTO dcb VALUES (1), (3), (3)")
    r = eng.execute("DELETE a FROM dca a, dcb b WHERE a.id = b.id")
    assert r.affected == 2  # distinct doomed rows, not join multiplicity
    assert [x["id"] for x in eng.execute("SELECT id FROM dca").rows()] == [2]


def test_values_lateral_column_reference(eng):
    """MySQL: a value expression may reference columns set EARLIER in
    the same row (`INSERT INTO t (a, b) VALUES (1, a + 1)`). The
    single-evaluation subquery form keeps this working via lateral
    column aliases — and an UNKNOWN column in a value expression is a
    resolution error, never a false 1366 from the guard text embedded
    in the failing plan's dump."""
    eng.execute("CREATE TABLE lat (a INT, b INT)")
    eng.execute("INSERT INTO lat (a, b) VALUES (1, a + 1)")
    r = eng.execute("SELECT a, b FROM lat").rows()[0]
    assert (r["a"], r["b"]) == (1, 2)
    # the unknown column surfaces as the ANALYSIS error it is (the
    # wire server maps generic engine exceptions to 1105) — never the
    # false 1366 the guard's marker text in the plan dump would give
    with pytest.raises(Exception) as ei:
        eng.execute("INSERT INTO lat (a, b) VALUES (1, nosuchcol + 1)")
    assert not (isinstance(ei.value, EbikeError) and ei.value.code == 1366)
    assert "nosuchcol" in str(ei.value)
    # review pin: a value expression referencing a NON-TARGET column
    # resolves to that column's default (NULL) — MySQL allows this,
    # and the subquery form must bind non-target columns in the inner
    # SELECT so the lateral reference keeps resolving
    eng.execute("CREATE TABLE lat2 (a INT, b INT, c INT)")
    eng.execute("INSERT INTO lat2 (a, c) VALUES (b, 7)")
    r2 = eng.execute("SELECT a, b, c FROM lat2").rows()[0]
    assert (r2["a"], r2["b"], r2["c"]) == (None, None, 7)


def test_per_row_values_mix_literal_kinds_in_a_column(eng):
    """A column whose cells differ in literal kind (TRUE beside 0, a
    number beside a string) takes the per-row form; each row is typed
    to the table before the UNION ALL, so kinds with no common type
    still store."""
    eng.execute("CREATE TABLE mixk (id INT, n INT, s CHAR)")
    eng.execute("INSERT INTO mixk (id, n, s) VALUES (1, TRUE, 'a'), (2, 0, 5), (3, FALSE, 'c')")
    rows = sorted(tuple(r) for r in eng.execute("SELECT id, n, s FROM mixk").rows())
    assert rows == [(1, 1, "a"), (2, 0, "5"), (3, 0, "c")]


def test_mysql_integer_rounding_parity(eng):
    """MySQL ROUNDS fractional values into integer columns (2.7 → 3,
    -2.5 → -3, '2.7' → 3) where a bare Spark cast truncates — across
    the VALUES, UPDATE, and INSERT...SELECT paths. Exact big integers
    (beyond double's 2^53 mantissa) never detour through double."""
    eng.execute("CREATE TABLE rnd (id INT NOT NULL, n INT, PRIMARY KEY (id))")
    eng.execute(
        "INSERT INTO rnd VALUES (1, 2.7), (2, -2.5), (3, '2.7'), "
        "(4, 9007199254740993), (5, 2.2)"
    )
    got = {
        r["id"]: r["n"]
        for r in eng.execute("SELECT id, n FROM rnd").rows()
    }
    assert got == {1: 3, 2: -3, 3: 3, 4: 9007199254740993, 5: 2}
    # UPDATE assignment rounds too
    eng.execute("UPDATE rnd SET n = 4.6 WHERE id = 1")
    assert eng.execute("SELECT n FROM rnd WHERE id = 1").rows()[0]["n"] == 5
    # INSERT ... SELECT from a double source rounds
    eng.execute("CREATE TABLE rsrc (id INT, x FLOAT)")
    eng.execute("INSERT INTO rsrc VALUES (10, 7.5), (11, -0.4)")
    eng.execute("INSERT INTO rnd (id, n) SELECT id, x FROM rsrc")
    got = {
        r["id"]: r["n"]
        for r in eng.execute("SELECT id, n FROM rnd WHERE id >= 10").rows()
    }
    assert got == {10: 8, 11: 0}
    # unconvertible values still raise 1366 (strict mode intact)
    with pytest.raises(EbikeError) as ei:
        eng.execute("INSERT INTO rnd VALUES (20, 'noway')")
    assert ei.value.code == 1366


def test_badcast_translation_keyed_off_exception_class(eng, monkeypatch):
    """Review pin: the 1366 translator keys off the exception CLASS —
    a runtime error carrying the marker translates even WITHOUT the
    [USER_RAISED_EXCEPTION] prefix (not every PySpark version's
    message has it), while an AnalysisException whose plan dump merely
    CONTAINS guard text never mistranslates."""
    from pyspark.errors import AnalysisException

    from ebike_spark.engine.errors import bad_value, marked

    def runtime_boom(sql):
        raise RuntimeError("jvm said: " + marked(bad_value("n")) + " (tail)")

    monkeypatch.setattr(eng, "_execute", runtime_boom)
    with pytest.raises(EbikeError) as ei:
        eng.execute("SELECT 1")
    assert ei.value.code == 1366 and "'n'" in str(ei.value)

    def analysis_boom(sql):
        raise AnalysisException(
            "unresolved column; plan: ... " + marked(bad_value("wrongcol"))
        )

    monkeypatch.setattr(eng, "_execute", analysis_boom)
    with pytest.raises(Exception) as ei2:
        eng.execute("SELECT 1")
    assert not (isinstance(ei2.value, EbikeError) and ei2.value.code == 1366)


def test_multi_table_update_same_table_two_aliases(eng):
    """MySQL permits assigning one table through two aliases in a
    multi-table UPDATE; its row outcome is processing-order-dependent,
    so this engine pins deterministic semantics: every RHS reads the
    statement-start snapshot, and where both aliases match one row the
    LAST assignment in statement order wins per column."""
    eng.execute(
        "CREATE TABLE st (id INT NOT NULL, v INT, w INT, PRIMARY KEY (id))"
    )
    eng.execute("INSERT INTO st VALUES (1, 10, 100), (2, 20, 200), (3, 30, 300)")
    # self-join pairs (a,b): (1,2), (2,3) — a assigns v on 1,2; b
    # assigns w on 2,3; distinct columns merge into one post-image
    r = eng.execute(
        "UPDATE st a JOIN st b ON a.id = b.id - 1 "
        "SET a.v = a.v + 1, b.w = b.w + 1"
    )
    assert r.affected == 3
    rows = {
        x["id"]: (x["v"], x["w"])
        for x in eng.execute("SELECT id, v, w FROM st").rows()
    }
    assert rows == {1: (11, 100), 2: (21, 201), 3: (30, 301)}
    # SAME column through both aliases: row 2 is matched by a (pair
    # 1-2 assigns via b? no: b matches rows 2,3; a matches rows 1,2)
    # — statement-later b.v wins on row 2
    eng.execute(
        "UPDATE st a JOIN st b ON a.id = b.id - 1 SET a.v = 0, b.v = 5"
    )
    rows = {
        x["id"]: x["v"] for x in eng.execute("SELECT id, v FROM st").rows()
    }
    assert rows == {1: 0, 2: 5, 3: 5}
    # snapshot semantics: a RHS reading a column the other alias also
    # updates sees the PRE-image
    eng.execute("UPDATE st SET v = 1, w = 10 WHERE id >= 1")
    eng.execute(
        "UPDATE st a JOIN st b ON a.id = b.id - 1 "
        "SET a.v = b.w * 100, b.w = 7"
    )
    rows = {
        x["id"]: (x["v"], x["w"])
        for x in eng.execute("SELECT id, v, w FROM st").rows()
    }
    # a.v on rows 1,2 reads b.w PRE-image (10) -> 1000; b.w on 2,3 -> 7
    assert rows == {1: (1000, 10), 2: (1000, 7), 3: (1, 7)}


def test_overflow_integers_still_1366_after_rounding_parity(eng, tmp_path):
    """Review r9 pins: the MySQL-rounding integer cast must NOT let
    overflow values silently saturate to Long.Max — '2^63' style
    overflow strings stay 1366 on every path (INSERT VALUES, UPDATE,
    INSERT...SELECT, ALTER MODIFY), and huge doubles stay 1366 via the
    saturation guard (incl. the previously-unguarded MODIFY path)."""
    eng.execute("CREATE TABLE ovf (id INT NOT NULL, n INT, PRIMARY KEY (id))")
    with pytest.raises(EbikeError) as ei:
        eng.execute("INSERT INTO ovf VALUES (1, '9223372036854775808')")
    assert ei.value.code == 1366
    with pytest.raises(EbikeError) as ei:
        eng.execute("INSERT INTO ovf VALUES (1, 1e300)")
    assert ei.value.code == 1366
    eng.execute("INSERT INTO ovf VALUES (1, 5)")
    with pytest.raises(EbikeError) as ei:
        eng.execute("UPDATE ovf SET n = '9223372036854775808' WHERE id = 1")
    assert ei.value.code == 1366
    assert eng.execute("SELECT n FROM ovf").rows()[0]["n"] == 5
    # INSERT ... SELECT of an overflow string source
    eng.execute("CREATE TABLE ovsrc (id INT, s CHAR)")
    eng.execute("INSERT INTO ovsrc VALUES (2, '9223372036854775808')")
    with pytest.raises(EbikeError) as ei:
        eng.execute("INSERT INTO ovf (id, n) SELECT id, s FROM ovsrc")
    assert ei.value.code == 1366
    # ALTER MODIFY: overflow string AND huge double both 1366 — never
    # a silent Long.Max
    eng.execute("CREATE TABLE ovm (s CHAR)")
    eng.execute("INSERT INTO ovm VALUES ('1e300')")
    with pytest.raises(EbikeError) as ei:
        eng.execute("ALTER TABLE ovm MODIFY s BIGINT")
    assert ei.value.code == 1366
    eng.execute("CREATE TABLE ovd (d FLOAT)")
    eng.execute("INSERT INTO ovd VALUES (1e300)")
    with pytest.raises(EbikeError) as ei:
        eng.execute("ALTER TABLE ovd MODIFY d BIGINT")
    assert ei.value.code == 1366
    # the rounding behavior itself still works right below the limit
    eng.execute("UPDATE ovf SET n = 2.5 WHERE id = 1")
    assert eng.execute("SELECT n FROM ovf").rows()[0]["n"] == 3


def test_load_data_rounds_and_ignores_like_insert(eng, tmp_path):
    """LOAD DATA uses the same strict+rounding cast as INSERT VALUES:
    '2.7' into INT stores 3; under the IGNORE keyword a bad numeric
    conversion applies MySQL's legacy closest-value coercion (leading
    prefix, junk → 0, overflow clamps) instead of erroring."""
    eng.execute("CREATE TABLE ldr (id INT NOT NULL, n INT, PRIMARY KEY (id))")
    f = tmp_path / "round.csv"
    f.write_text("1,2.7\n2,-2.5\n")
    eng.execute(
        f"LOAD DATA INFILE '{f}' INTO TABLE ldr FIELDS TERMINATED BY ','"
    )
    got = {r["id"]: r["n"] for r in eng.execute("SELECT id, n FROM ldr").rows()}
    assert got == {1: 3, 2: -3}
    g = tmp_path / "bad2.csv"
    g.write_text("3,notanint\n")
    with pytest.raises(EbikeError) as ei:
        eng.execute(
            f"LOAD DATA INFILE '{g}' INTO TABLE ldr FIELDS TERMINATED BY ','"
        )
    assert ei.value.code == 1366 and "'n'" in str(ei.value)
    # IGNORE mode: MySQL legacy closest-value coercion — junk -> 0,
    # leading numeric prefix parses ('12abc' -> 12), fractions still
    # round, overflow clamps to the long range
    h = tmp_path / "coerce.csv"
    h.write_text(
        "3,notanint\n4,12abc\n5,2.9\n6,99999999999999999999\n"
        "9,12.9abc\n10,-2.5xyz\n"
    )
    eng.execute(
        f"LOAD DATA INFILE '{h}' IGNORE INTO TABLE ldr FIELDS TERMINATED BY ','"
    )
    got = {
        r["id"]: r["n"]
        for r in eng.execute("SELECT id, n FROM ldr WHERE id >= 3").rows()
    }
    # 12.9abc/-2.5xyz: a FRACTIONAL junk prefix must round like MySQL
    # (13, -3), not truncation-parse through the bigint cast (12, -2)
    assert got == {
        3: 0, 4: 12, 5: 3, 6: 9223372036854775807, 9: 13, 10: -3,
    }
    # review pins: a big-integer PREFIX keeps exactness (no double
    # detour), and a DOUBLE column never stores Inf/NaN — '1e400'
    # clamps to DBL_MAX, 'NaN' coerces like junk to 0
    eng.execute("CREATE TABLE ldd (id INT NOT NULL, n INT, x FLOAT, PRIMARY KEY (id))")
    k = tmp_path / "edge.csv"
    k.write_text("7,1234567890123456789abc,1e400\n8,9,NaN\n")
    eng.execute(
        f"LOAD DATA INFILE '{k}' IGNORE INTO TABLE ldd FIELDS TERMINATED BY ','"
    )
    rows = {
        r["id"]: (r["n"], r["x"])
        for r in eng.execute("SELECT id, n, x FROM ldd").rows()
    }
    assert rows[7][0] == 1234567890123456789
    assert rows[7][1] == 1.7976931348623157e308
    assert rows[8] == (9, 0.0)


def _table_state(spark, qualified: str) -> tuple[int, int, int]:
    """(row count, order-free checksum, parquet file count) of a table —
    hidden rowids included, so a rewrite that reminted them shows."""
    rows = spark.table(qualified).collect()
    checksum = hash(frozenset(Counter(tuple(r) for r in rows).items()))
    files = [f for f in spark.table(qualified).inputFiles() if f.endswith(".parquet")]
    return len(rows), checksum, len(files)


@pytest.mark.parametrize("form", ["inline", "per_row"])
@pytest.mark.parametrize(
    "last_row, code",
    [
        ("(9, 'n9', 'not a number')", 1366),  # bad cast
        ("(9, NULL, 9)", 1048),  # NULL into NOT NULL
        ("(1, 'n1', 1)", 1062),  # duplicates a stored row
        ("(4, 'n4', 4)", 1062),  # duplicates an earlier row of the batch
    ],
)
def test_failed_values_batch_leaves_table_unchanged(eng, spark, form, last_row, code):
    """A VALUES batch whose LAST row fails writes nothing: row count,
    checksum and parquet file count are as before the statement. Both
    VALUES forms: all-literal (one inline table) and per-row (a cell
    is an expression)."""
    eng.execute(
        "CREATE TABLE at (id INT NOT NULL, name CHAR NOT NULL, v INT, PRIMARY KEY (id))"
    )
    eng.execute("INSERT INTO at VALUES (1, 'a', 10), (2, 'b', 20)")
    qualified = f"{eng.current_db}.at"
    before = _table_state(spark, qualified)
    first = "(3, 'n3', 1 + 2)" if form == "per_row" else "(3, 'n3', 3)"
    batch = ", ".join([first] + [f"({i}, 'n{i}', {i})" for i in range(4, 8)] + [last_row])
    with pytest.raises(EbikeError) as ei:
        eng.execute(f"INSERT INTO at VALUES {batch}")
    assert ei.value.code == code
    assert _table_state(spark, qualified) == before
    # the statement that does succeed writes one file
    eng.execute(f"INSERT INTO at VALUES {batch.rsplit(', (', 1)[0]}")
    count, _, files = _table_state(spark, qualified)
    assert (count, files) == (before[0] + 5, before[2] + 1)


@pytest.mark.parametrize(
    "sql",
    [
        "INSERT INTO pc VALUES (3, 'c'), (4, 'd')",
        "INSERT IGNORE INTO pc VALUES (1, 'x'), (5, 'e')",
        "REPLACE INTO pc VALUES (2, 'y')",
        "INSERT INTO pc VALUES (1, 'z') ON DUPLICATE KEY UPDATE v = 'w'",
    ],
)
def test_insert_reads_table_properties_once(eng, monkeypatch, sql):
    """One INSERT statement reads its table's metadata once (one
    Catalog.table), however many constraint checks consult it."""
    eng.execute("CREATE TABLE pc (id INT NOT NULL, v CHAR, PRIMARY KEY (id), UNIQUE KEY uv (v))")
    eng.execute("INSERT INTO pc VALUES (1, 'a'), (2, 'b')")
    calls = []
    orig = type(eng.catalog).table
    monkeypatch.setattr(
        type(eng.catalog), "table", lambda self, q: calls.append(q) or orig(self, q)
    )
    eng.execute(sql)
    assert len(calls) == 1


# statement: the Catalog.table reads it makes, against the table
# test_statements_read_their_pinned_table_metadata fills
TABLE_READS = {
    "point_select": ("SELECT v FROM mr WHERE id = 1", 1),
    "join": ("SELECT * FROM mr JOIN ms ON mr.id = ms.id", 2),
    "rowid_select": ("SELECT id, rowid FROM mr", 0),
    "no_table": ("SELECT 1", 0),
    "insert_values": ("INSERT INTO mr VALUES (3, 30)", 1),
    "update": ("UPDATE mr SET v = v + 1 WHERE id = 1", 1),
    "delete_limit": ("DELETE FROM mr WHERE id = 2 LIMIT 1", 1),
    "show_columns": ("SHOW COLUMNS FROM mr", 1),
    "show_create_table": ("SHOW CREATE TABLE mr", 1),
    "show_index": ("SHOW INDEX FROM mr", 1),
}


@pytest.mark.parametrize("form", sorted(TABLE_READS))
def test_statements_read_their_pinned_table_metadata(eng, monkeypatch, form):
    """Each statement form's reads of table metadata, counted as
    Catalog.table calls: a query reads each table it binds once (a text
    naming rowid binds none), DML and SHOW one. No statement, the
    table's DDL included, sends SHOW TBLPROPERTIES."""
    from pyspark.sql import SparkSession

    from ebike_spark.engine.catalog import Catalog

    texts, reads = [], []
    sql_of, table_of = SparkSession.sql, Catalog.table
    monkeypatch.setattr(SparkSession, "sql", lambda self, text, *a, **kw: texts.append(text) or sql_of(self, text, *a, **kw))
    eng.execute("CREATE TABLE mr (id INT NOT NULL, v INT, PRIMARY KEY (id), UNIQUE KEY uv (v), KEY kv (v))")
    eng.execute("INSERT INTO mr VALUES (1, 10), (2, 20)")
    eng.execute("CREATE TABLE ms (id INT, w INT)")
    monkeypatch.setattr(Catalog, "table", lambda self, q: reads.append(q) or table_of(self, q))
    sql, n = TABLE_READS[form]
    eng.execute(sql).rows()
    assert len(reads) == n
    assert not [t for t in texts if "SHOW TBLPROPERTIES" in t.upper()]


@pytest.mark.parametrize(
    "sql",
    [
        "UPDATE pc SET `a b` = 1",
        "INSERT INTO pc VALUES (1, 'z') ON DUPLICATE KEY UPDATE `a b` = 1",
        "INSERT INTO pc SET id = 3, `a b` = 1",
        "INSERT INTO pc SELECT 1, 'z' ON DUPLICATE KEY UPDATE `a b` = 1",
        "UPDATE pc JOIN pc AS o ON pc.id = o.id SET pc.`a b` = 1",
    ],
)
def test_every_assignment_list_reads_a_backtick_name(eng, sql):
    """The five assignment lists (UPDATE SET, INSERT SET, the upsert
    after VALUES and after SELECT, the multi-table SET) share one
    parser: a backtick name holding a space is read as a column name,
    which this table lacks (1054), not as a syntax error."""
    eng.execute("CREATE TABLE pc (id INT NOT NULL, v CHAR, PRIMARY KEY (id))")
    eng.execute("INSERT INTO pc VALUES (1, 'a')")
    with pytest.raises(EbikeError) as ei:
        eng.execute(sql)
    assert (ei.value.code, ei.value.message) == (1054, "Unknown column 'a b' in 'field list'")


def _insert_via(eng, tmp_path, source, table, cols, rows, verb="INSERT", on_dup=""):
    """One INSERT of ``rows`` into ``table (cols)`` through a row source:
    ``values`` (INSERT … VALUES), ``select`` (INSERT … SELECT from a
    stored table, in row order), ``grouped`` (the same SELECT through a
    GROUP BY, so the batch comes out of a shuffle) or ``load`` (LOAD
    DATA from a CSV file).
    ``verb`` is INSERT, INSERT IGNORE or REPLACE; ``on_dup`` an optional
    ON DUPLICATE KEY UPDATE clause."""
    target = f"{table} ({', '.join(cols)})"
    if source == "values":
        lits = ", ".join("(" + ", ".join(map(repr, r)) + ")" for r in rows)
        return eng.execute(f"{verb} INTO {target} VALUES {lits} {on_dup}")
    if source in ("select", "grouped"):
        names = ", ".join(f"c{i}" for i in range(len(cols)))
        lits = ", ".join("(" + ", ".join(map(repr, (i, *r))) + ")" for i, r in enumerate(rows))
        eng.execute(f"CREATE TABLE {table}_src AS SELECT * FROM VALUES {lits} AS v(seq, {names})")
        if source == "grouped":
            picks = ", ".join(f"MAX(c{i}) AS c{i}" for i in range(len(cols)))
            return eng.execute(
                f"{verb} INTO {target} SELECT {picks} FROM {table}_src GROUP BY seq ORDER BY seq {on_dup}"
            )
        return eng.execute(f"{verb} INTO {target} SELECT {names} FROM {table}_src ORDER BY seq {on_dup}")
    assert not on_dup
    f = tmp_path / f"{table}.csv"
    f.write_text("".join(",".join(map(str, r)) + "\n" for r in rows))
    mode = {"INSERT": "", "INSERT IGNORE": "IGNORE", "REPLACE": "REPLACE"}[verb]
    return eng.execute(
        f"LOAD DATA INFILE '{f}' {mode} INTO TABLE {table} FIELDS TERMINATED BY ',' ({', '.join(cols)})"
    )


@pytest.mark.parametrize("source", ["values", "select", "load"])
def test_column_listed_twice_is_1110_for_every_source(eng, tmp_path, source):
    """A target list naming a column twice is MySQL's 1110 whatever the
    row source — never a silent pick of the first or the last value."""
    eng.execute("CREATE TABLE tw (a INT, b INT)")
    with pytest.raises(EbikeError) as ei:
        _insert_via(eng, tmp_path, source, "tw", ["a", "a"], [(1, 2)])
    assert ei.value.code == 1110
    assert eng.execute("SELECT COUNT(*) AS c FROM tw").rows()[0]["c"] == 0


# an in-batch duplicate (code 20) and a clash with the stored row (code 10)
_AGREE_BATCH = [(20, "a"), (10, "b"), (20, "c")]
_ALL_SOURCES = ("values", "select", "grouped", "load")
_UPSERT = "ON DUPLICATE KEY UPDATE tag = VALUES(tag)"


@pytest.mark.parametrize(
    "verb, on_dup, batch, sources, expected",
    [
        ("INSERT", "", _AGREE_BATCH, _ALL_SOURCES, (1062, [(1, 10, "old")], 1)),
        ("INSERT IGNORE", "", _AGREE_BATCH, _ALL_SOURCES, (1, [(1, 10, "old"), (2, 20, "a")], 2)),
        # id 2 went to the skipped (10, 'b'): LAST_INSERT_ID() is the kept row's 3
        ("INSERT IGNORE", "", [(10, "b"), (30, "c")], _ALL_SOURCES, (1, [(1, 10, "old"), (3, 30, "c")], 3)),
        # every row skipped: LAST_INSERT_ID() keeps the earlier insert's 1
        ("INSERT IGNORE", "", [(10, "b")], _ALL_SOURCES, (0, [(1, 10, "old")], 1)),
        # 3 inserted + the stored row and the earlier (20, 'a') replaced
        ("REPLACE", "", _AGREE_BATCH, _ALL_SOURCES, (5, [(3, 10, "b"), (4, 20, "c")], 2)),
        # an in-batch duplicate makes the upsert order-dependent: 1062
        ("INSERT", _UPSERT, _AGREE_BATCH, _ALL_SOURCES[:3], (1062, [(1, 10, "old")], 1)),
        # (20, 'a') inserted, the stored row updated: 1 + 2
        ("INSERT", _UPSERT, _AGREE_BATCH[:2], _ALL_SOURCES[:3], (3, [(1, 10, "b"), (2, 20, "a")], 2)),
    ],
    ids=["plain", "ignore", "ignore_skips_first_minted", "ignore_skips_all", "replace", "upsert_in_batch_duplicate", "upsert"],
)
def test_insert_sources_agree(eng, tmp_path, verb, on_dup, batch, sources, expected):
    """One batch loaded through VALUES, INSERT … SELECT (plain and
    through a GROUP BY) and LOAD DATA into a table with a PRIMARY KEY, a
    UNIQUE key and an AUTO_INCREMENT column gives the same affected
    count (or error code), the same rows and the same LAST_INSERT_ID()
    for every source. A failed statement leaves both the table and
    LAST_INSERT_ID() as they were."""
    outcomes = {}
    for source in sources:
        t = f"ag_{source}"
        eng.execute(
            f"CREATE TABLE {t} (id INT AUTO_INCREMENT, code INT NOT NULL, tag CHAR, "
            "PRIMARY KEY (id), UNIQUE KEY uc (code))"
        )
        eng.execute(f"INSERT INTO {t} (code, tag) VALUES (10, 'old')")
        try:
            result = _insert_via(eng, tmp_path, source, t, ["code", "tag"], batch, verb, on_dup).affected
        except EbikeError as e:
            result = e.code
        rows = sorted(tuple(r) for r in eng.execute(f"SELECT id, code, tag FROM {t}").rows())
        last_id = eng.execute("SELECT LAST_INSERT_ID() AS v").rows()[0]["v"]
        outcomes[source] = (result, rows, last_id)
    assert outcomes == {s: expected for s in sources}


# MySQL constructs the engine translates, each with the value it has in
# the dialect_eng fixture's session (LAST_INSERT_ID() is 3 there);
# {db} is the fixture's database
DIALECT_CONSTRUCTS = [
    ("last_insert_id", "LAST_INSERT_ID()", "3"),
    ("database", "database()", None),  # None: the fixture's database
    ("field", "FIELD('b', 'a', 'b', 'c')", "2"),
    ("group_concat", "(SELECT GROUP_CONCAT(s ORDER BY s SEPARATOR '-') FROM src)", "p-q"),
    ("date_format", "DATE_FORMAT(DATE '2024-03-09', '%Y-%m')", "2024-03"),
    ("user_var", "@uv", "u-v"),
    ("sys_var", "@@max_allowed_packet", "67108864"),
    (
        "system_table",
        "(SELECT COUNT(*) FROM information_schema.tables "
        "WHERE table_schema = '{db}' AND table_name = 'src')",
        "1",
    ),
]


@pytest.fixture(scope="module")
def dialect_eng(spark):
    e = Engine(spark)
    db = f"t_{uuid.uuid4().hex[:10]}"
    e.execute(f"CREATE DATABASE {db}")
    e.execute(f"USE {db}")
    e.execute("CREATE TABLE src (id INT, s CHAR)")
    e.execute("INSERT INTO src VALUES (1, 'q'), (2, 'p')")
    e.execute("CREATE TABLE ai (id INT NOT NULL AUTO_INCREMENT, s CHAR, PRIMARY KEY (id))")
    e.execute("INSERT INTO ai (s) VALUES ('a'), ('b')")
    e.execute("INSERT INTO ai (s) VALUES ('c')")
    e.execute("CREATE TABLE dst (id INT NOT NULL, val CHAR, hit INT, PRIMARY KEY (id))")
    e.execute("SET @uv = 'u-v'")
    yield e
    e.execute(f"DROP DATABASE IF EXISTS {db}")


def _val(eng, sql):
    return str(eng.execute(sql).rows()[0][0])


def _stored(eng, k):
    return _val(eng, f"SELECT val FROM dst WHERE id = {k}")


def _matched(eng, k, c, want, verb):
    """The seeded values of the rows a WHERE holding ``c`` matched."""
    eng.execute(f"INSERT INTO dst (id, val) VALUES ({k}, '{want}'), ({k + 1}, 'other')")
    where = f"id IN ({k}, {k + 1}) AND val = CAST({c} AS STRING)"
    if verb == "UPDATE":
        eng.execute(f"UPDATE dst SET hit = 1 WHERE {where}")
        rows = eng.execute(f"SELECT val FROM dst WHERE id IN ({k}, {k + 1}) AND hit = 1").rows()
        return ",".join(sorted(r["val"] for r in rows))
    eng.execute(f"DELETE FROM dst WHERE {where}")
    left = {r["val"] for r in eng.execute(f"SELECT val FROM dst WHERE id IN ({k}, {k + 1})").rows()}
    return ",".join(sorted({want, "other"} - left))


def _in_set(eng, k, c, want):
    eng.execute(f"SET @got = {c}")
    return _val(eng, "SELECT @got")


def _in_values(eng, k, c, want):
    eng.execute(f"INSERT INTO dst (id, val) VALUES ({k}, {c})")
    return _stored(eng, k)


def _in_update_set(eng, k, c, want):
    eng.execute(f"INSERT INTO dst (id, val) VALUES ({k}, 'old')")
    eng.execute(f"UPDATE dst SET val = {c} WHERE id = {k}")
    return _stored(eng, k)


def _in_insert_select(eng, k, c, want):
    eng.execute(f"INSERT INTO dst (id, val) SELECT {k}, {c}")
    return _stored(eng, k)


def _in_ctas(eng, k, c, want):
    eng.execute(f"CREATE TABLE ct{k} AS SELECT {c} AS v")
    return _val(eng, f"SELECT v FROM ct{k}")


def _in_multi_update(eng, k, c, want):
    eng.execute(f"INSERT INTO dst (id, val) VALUES ({k}, 'old')")
    eng.execute(f"UPDATE dst JOIN src ON dst.id = {k} AND src.id = 1 SET dst.val = {c}")
    return _stored(eng, k)


DIALECT_POSITIONS = {
    "select": lambda eng, k, c, want: _val(eng, f"SELECT {c} AS v"),
    "set": _in_set,
    "insert_values": _in_values,
    "update_set": _in_update_set,
    "update_where": lambda eng, k, c, want: _matched(eng, k, c, want, "UPDATE"),
    "delete_where": lambda eng, k, c, want: _matched(eng, k, c, want, "DELETE"),
    "insert_select": _in_insert_select,
    "ctas": _in_ctas,
    "multi_table_update": _in_multi_update,
}


@pytest.mark.parametrize("position", list(DIALECT_POSITIONS))
def test_dialect_matrix(dialect_eng, position):
    """Every translated MySQL construct means the same in every place a
    statement can hold it: the value stored, returned or matched equals
    the construct's value in a plain SELECT."""
    eng = dialect_eng
    pos = list(DIALECT_POSITIONS).index(position)
    wrong = {}
    for j, (name, construct, want) in enumerate(DIALECT_CONSTRUCTS):
        want = want or eng.current_db
        construct = construct.format(db=eng.current_db)
        try:
            got = DIALECT_POSITIONS[position](eng, 1000 * pos + 10 * j, construct, want)
        except Exception as e:  # noqa: BLE001 — reported per construct
            got = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
        if got != want:
            wrong[name] = got
    assert wrong == {}


@pytest.mark.parametrize(
    "sql, code, message",
    [
        ("UPDATE ec SET a = 1 WHERE 1 = (SELECT COUNT(*) FROM nosuch)", 1146, "Table 'nosuch' doesn't exist"),
        ("SET @x = (SELECT a FROM nosuch)", 1146, "Table 'nosuch' doesn't exist"),
        ("SELECT nosuchfn(1)", 1305, "FUNCTION {db}.nosuchfn does not exist"),
        ("UPDATE ec SET a = nosuchfn(a)", 1305, "FUNCTION {db}.nosuchfn does not exist"),
    ],
)
def test_spark_error_conditions_map_to_mysql_codes(eng, sql, code, message):
    """A missing table or function is the same MySQL error in every
    statement, mapped from Spark's error condition."""
    eng.execute("CREATE TABLE ec (a INT)")
    eng.execute("INSERT INTO ec VALUES (1)")
    with pytest.raises(EbikeError) as ei:
        eng.execute(sql)
    assert (ei.value.code, ei.value.message) == (code, message.format(db=eng.current_db))
    assert eng.execute("SELECT a FROM ec").rows()[0]["a"] == 1


def test_refresh_drops_the_hidden_rowid_like_create(eng):
    """CREATE MATERIALIZED VIEW and REFRESH read the same query the same
    way: the hidden rowid of a PRIMARY KEY table stays out of both."""
    eng.execute("CREATE TABLE rk (id INT NOT NULL, a INT, PRIMARY KEY (id))")
    eng.execute("INSERT INTO rk VALUES (1, 10), (2, 20)")
    eng.execute("CREATE MATERIALIZED VIEW mv AS SELECT * FROM rk")
    cols = eng.execute("SELECT * FROM mv").df.columns
    eng.execute("INSERT INTO rk VALUES (3, 30)")
    assert eng.execute("REFRESH MATERIALIZED VIEW mv").affected == 3
    assert eng.execute("SELECT * FROM mv").df.columns == cols == ["id", "a"]
    assert eng.execute("SELECT SUM(a) AS n FROM mv").rows()[0]["n"] == 60


def test_insert_select_keeps_a_named_rowid(eng):
    """INSERT … SELECT keeps the hidden rowid when the SELECT names it,
    as the same SELECT on its own does."""
    eng.execute("CREATE TABLE rk (id INT NOT NULL, a INT, PRIMARY KEY (id))")
    eng.execute("INSERT INTO rk VALUES (1, 10), (2, 20)")
    eng.execute("CREATE TABLE rk2 (r CHAR, a INT)")
    assert eng.execute("INSERT INTO rk2 (r, a) SELECT rowid, a FROM rk").affected == 2
    want = {(r["rowid"], r["a"]) for r in eng.execute("SELECT rowid, a FROM rk").rows()}
    assert {(r["r"], r["a"]) for r in eng.execute("SELECT r, a FROM rk2").rows()} == want
    assert all(r for r, _ in want)


def test_create_view_goes_through_the_translation(eng):
    """A view body is MySQL text like any other; what a view cannot
    hold past its statement — a variable, a system table — is refused
    with a MySQL error and no view is made."""
    eng.execute("CREATE TABLE vt (id INT, s CHAR, d DATE)")
    eng.execute("INSERT INTO vt VALUES (1, 'b', DATE '2024-03-09'), (2, 'a', DATE '2024-04-01')")
    eng.execute(
        "CREATE VIEW vv AS SELECT GROUP_CONCAT(s ORDER BY s SEPARATOR '-') AS g, "
        "MAX(FIELD(s, 'a', 'b')) AS f, MAX(DATE_FORMAT(d, '%Y-%m')) AS m FROM vt"
    )
    row = eng.execute("SELECT * FROM vv").rows()[0]
    assert (row["g"], row["f"], row["m"]) == ("a-b", 2, "2024-04")
    eng.execute("CREATE OR REPLACE VIEW vat AS SELECT 'a@b' AS v")
    assert eng.execute("SELECT v FROM vat").rows()[0]["v"] == "a@b"
    eng.execute("SET @x = 1")
    for sql in ("CREATE VIEW v1 AS SELECT @x AS v", "CREATE VIEW v2 AS SELECT @@version AS v"):
        with pytest.raises(EbikeError) as ei:
            eng.execute(sql)
        assert (ei.value.code, ei.value.message) == (
            1351, "View's SELECT contains a variable or parameter"
        )
    with pytest.raises(EbikeError) as ei:
        eng.execute("CREATE VIEW v3 AS SELECT COUNT(*) AS n FROM information_schema.tables")
    assert (ei.value.code, ei.value.message) == (1105, "Views over system tables are not supported")
    names = {r[0] for r in eng.execute("SHOW TABLES").rows()}
    assert names == {"vt", "vv", "vat"}


@pytest.mark.parametrize(
    "sql, schema",
    [
        ("INSERT INTO information_schema.tables (table_name) VALUES ('x')", "information_schema"),
        ("REPLACE INTO mysql.users VALUES ('%', 'x', 'y', 'N')", "mysql"),
        ("UPDATE mysql.users SET plugin = 'x'", "mysql"),
        ("DELETE FROM performance_schema.global_variables", "performance_schema"),
        (
            "UPDATE sw JOIN information_schema.tables i ON i.table_name = sw.s "
            "SET i.engine = 'x'",
            "information_schema",
        ),
    ],
)
def test_write_to_a_system_table_is_1044(eng, sql, schema):
    eng.execute("CREATE TABLE sw (s CHAR)")
    eng.execute("INSERT INTO sw VALUES ('sw')")
    with pytest.raises(EbikeError) as ei:
        eng.execute(sql)
    assert (ei.value.code, ei.value.message) == (
        1044, f"Access denied for user 'root'@'%' to database '{schema}'"
    )


@pytest.fixture()
def u(eng):
    """A PRIMARY KEY table (so it has the hidden rowid) with one row."""
    eng.execute("CREATE TABLE u (id INT NOT NULL, s CHAR, PRIMARY KEY (id))")
    eng.execute("INSERT INTO u VALUES (2, 'b')")
    return eng


def test_upsert_clause_text_inside_a_values_literal_is_stored(u):
    """The ON DUPLICATE KEY UPDATE clause is found by the lexer, so the
    same words inside a string literal are part of the value."""
    u.execute("INSERT INTO u VALUES (1, 'a ON DUPLICATE KEY UPDATE s = 1')")
    assert u.execute("SELECT s FROM u WHERE id = 1").rows()[0]["s"] == "a ON DUPLICATE KEY UPDATE s = 1"


def test_values_call_inside_an_upsert_literal_is_stored(u):
    """VALUES(col) in an upsert assignment reads the incoming row; the
    same text inside a string literal is a string."""
    r = u.execute("INSERT INTO u VALUES (2, 'c') ON DUPLICATE KEY UPDATE s = 'VALUES(s)'")
    assert r.affected == 2
    assert u.execute("SELECT s FROM u WHERE id = 2").rows()[0]["s"] == "VALUES(s)"
    u.execute("INSERT INTO u VALUES (2, 'd') ON DUPLICATE KEY UPDATE s = concat(VALUES(s), '-', s)")
    assert u.execute("SELECT s FROM u WHERE id = 2").rows()[0]["s"] == "d-VALUES(s)"


def test_last_insert_id_select_item_keeps_its_label(eng):
    """A SELECT-list LAST_INSERT_ID() or database() is labelled as MySQL
    labels it; an alias still wins, and inside an expression the call is
    just its value."""
    eng.execute("CREATE TABLE li (id INT NOT NULL AUTO_INCREMENT, s CHAR, PRIMARY KEY (id))")
    eng.execute("INSERT INTO li (s) VALUES ('a'), ('b')")
    df = eng.execute("SELECT LAST_INSERT_ID()").df
    assert df.columns == ["LAST_INSERT_ID()"] and df.first()[0] == 1
    assert eng.execute("SELECT LAST_INSERT_ID() AS v").df.columns == ["v"]
    df = eng.execute("SELECT last_insert_id(), database(), LAST_INSERT_ID() + 1 AS n FROM dual").df
    assert df.columns == ["last_insert_id()", "database()", "n"]
    assert tuple(df.first()) == (1, eng.current_db, 2)


def test_double_quoted_rowid_is_a_string_not_the_hidden_column(u):
    """"rowid" is a string literal (MySQL, and Spark with ANSI off), so
    naming it does not surface the hidden rowid; `rowid` does."""
    df = u.execute('SELECT *, "rowid" FROM u').df
    assert df.columns == ["id", "s", "rowid"]
    assert tuple(df.first()) == (2, "b", "rowid")
    assert "rowid" in u.execute("SELECT *, `rowid` FROM u").df.columns


def test_date_format_takes_an_escaped_format_literal(eng):
    """The format literal is decoded like any string literal: a
    backslash-escaped or doubled quote, and either quote character."""
    for fmt in ("'%Y\\'s'", "'%Y''s'", '"%Y\'s"'):
        row = eng.execute(f"SELECT DATE_FORMAT('2020-01-01', {fmt}) AS d").rows()[0]
        assert row["d"] == "2020's", fmt


def test_boolean_into_a_string_column_is_1_or_0(u):
    """TRUE/FALSE written into a CHAR column store '1'/'0', as in MySQL,
    on every write path."""
    u.execute("INSERT INTO u VALUES (10, TRUE), (11, FALSE)")  # inline form
    u.execute("INSERT INTO u VALUES (12, TRUE), (13, NOT TRUE)")  # per-row form
    u.execute("INSERT INTO u (id, s) SELECT 14, TRUE")
    u.execute("INSERT INTO u VALUES (15, 'x'), (16, 'y')")
    u.execute("UPDATE u SET s = FALSE WHERE id = 15")
    u.execute("INSERT INTO u VALUES (16, 'z') ON DUPLICATE KEY UPDATE s = TRUE")
    u.execute("INSERT INTO u VALUES (17, CAST(NULL AS BOOLEAN))")
    rows = dict(tuple(r) for r in u.execute("SELECT id, s FROM u WHERE id >= 10").rows())
    assert rows == {10: "1", 11: "0", 12: "1", 13: "0", 14: "1", 15: "0", 16: "1", 17: None}


@pytest.mark.parametrize(
    "sql, code, message",
    [
        ("SELECT nosuch FROM u", 1054, "Unknown column 'nosuch' in 'field list'"),
        ("UPDATE u SET s = 'x' WHERE u.nosuch = 1", 1054, "Unknown column 'u.nosuch' in 'field list'"),
        ("SELECT 1 +", 1064, "You have an error in your SQL syntax: near end of input"),
    ],
)
def test_unknown_column_and_syntax_error_map_to_mysql_codes(u, sql, code, message):
    """An unknown column is 1054 whose message names no suggestion (so
    never the hidden rowid); a Spark parse error is 1064."""
    with pytest.raises(EbikeError) as ei:
        u.execute(sql)
    assert (ei.value.code, ei.value.message) == (code, message)


def test_a_literal_never_picks_the_insert_path(eng):
    """Only the statement's own head makes it an INSERT … VALUES: a
    Spark INSERT OVERWRITE whose SELECT holds the string 'VALUES' still
    passes through to Spark."""
    eng.execute("CREATE TABLE ow (id INT, s CHAR)")
    eng.execute("CREATE TABLE src (id INT)")
    eng.execute("INSERT INTO ow VALUES (1, 'a')")
    eng.execute("INSERT INTO src VALUES (1)")
    eng.execute("INSERT OVERWRITE TABLE ow SELECT id + 1, 'VALUES', rowid FROM src")
    assert [tuple(r) for r in eng.execute("SELECT id, s FROM ow").rows()] == [(2, "VALUES")]
