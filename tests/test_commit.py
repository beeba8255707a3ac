"""The commit primitive (engine/commit.py): a failure injected at each
commit step, the start-up sweep of orphan versions, and DDL on a table
whose data lives in a version directory."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from ebike_spark.engine import EbikeError, Engine, commit


@pytest.fixture()
def eng(spark):
    e = Engine(spark)
    db = f"c_{uuid.uuid4().hex[:10]}"
    e.execute(f"CREATE DATABASE {db}")
    e.execute(f"USE {db}")
    yield e
    e.execute(f"DROP DATABASE IF EXISTS {db}")


def _state(spark, qualified: str) -> tuple:
    """(columns, row count, order-free checksum) of a table, hidden
    rowids included — the frame_hash shape of perfbench/workloads.py."""
    df = spark.table(qualified)
    h = F.xxhash64(F.to_json(F.struct(*[F.col(c) for c in df.columns])))
    n, s = df.select(h.alias("h")).agg(
        F.count(F.lit(1)), F.sum(F.col("h").cast("decimal(38,0)"))
    ).first()
    return tuple(df.columns), int(n), int(s or 0)


def _leftovers(spark, qualified: str) -> list[str]:
    """Files under the table's root that are not in its live version."""
    live = commit.location(spark, qualified)
    out = []
    for d, _, files in os.walk(commit.root_of(live)):
        if d != live:  # a root that is still live holds only files itself
            out.extend(os.path.join(d, f) for f in files)
    return out


# statement, tables it changes
CASES = {
    "update": ("UPDATE t SET v = v + 100 WHERE id = 1", ["t"]),
    "update_limit": ("UPDATE t SET v = v + 100 ORDER BY id DESC LIMIT 2", ["t"]),
    "delete_whole_file": ("DELETE FROM t WHERE id >= 5", ["t"]),
    "delete_partial_file": ("DELETE FROM t WHERE id = 1", ["t"]),
    "delete_limit": ("DELETE FROM t ORDER BY id LIMIT 2", ["t"]),
    "multi_table_update": ("UPDATE t JOIN u ON t.id = u.id SET t.v = u.w, u.w = t.v", ["t", "u"]),
    "multi_table_delete": ("DELETE t FROM t JOIN u ON t.id = u.id", ["t"]),
    "upsert": ("INSERT INTO t VALUES (1, 0, 'z'), (9, 90, 'i') ON DUPLICATE KEY UPDATE v = VALUES(v)", ["t"]),
    # evicts the stored row 1 and the earlier batch row (9, 90, 'i')
    "replace": ("REPLACE INTO t VALUES (1, 11, 'x'), (9, 90, 'i'), (9, 91, 'j')", ["t"]),
    "drop_column": ("ALTER TABLE t DROP COLUMN w", ["t"]),
}


def _setup(eng) -> None:
    eng.execute("CREATE TABLE t (id INT NOT NULL, v INT, w CHAR, PRIMARY KEY (id))")
    # two statements, two data files: ids 1-4 and ids 5-6
    eng.execute("INSERT INTO t VALUES (1, 10, 'a'), (2, 20, 'b'), (3, 30, 'c'), (4, 40, 'd')")
    eng.execute("INSERT INTO t VALUES (5, 50, 'e'), (6, 60, 'f')")
    eng.execute("CREATE TABLE u (id INT NOT NULL, w INT, PRIMARY KEY (id))")
    eng.execute("INSERT INTO u VALUES (1, 7), (2, 8)")


@pytest.mark.parametrize("step", ["write", "repoint", "refresh"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_failed_commit_step_keeps_the_pre_image(eng, spark, case, step):
    """A failure at any step up to the refresh fails the statement and
    leaves every table it targets as it was: columns, row count and
    checksum, live location, and no new version left behind. The
    ``write`` case is the step that replaced the stage-and-INSERT
    OVERWRITE protocol, whose failure could leave the table empty."""
    _setup(eng)
    sql, tables = CASES[case]
    names = [f"{eng.current_db}.{t}" for t in tables]
    before = {q: (_state(spark, q), commit.location(spark, q)) for q in names}
    commit.fail_once(step)
    with pytest.raises(commit.InjectedFault, match=f"commit step '{step}'"):
        eng.execute(sql)
    for q in names:
        assert (_state(spark, q), commit.location(spark, q)) == before[q]
        assert _leftovers(spark, q) == []
    # the table takes the statement once the fault is gone
    eng.execute(sql)
    assert all(_state(spark, q) != before[q][0] for q in names)


@pytest.mark.parametrize("case", sorted(CASES))
def test_failed_retire_commits_and_the_sweep_removes_the_orphan(eng, spark, case):
    _setup(eng)
    sql, tables = CASES[case]
    names = [f"{eng.current_db}.{t}" for t in tables]
    before = {q: _state(spark, q) for q in names}
    commit.fail_once("retire")
    eng.execute(sql)
    after = {q: _state(spark, q) for q in names}
    assert all(after[q] != before[q] for q in names)
    assert any(_leftovers(spark, q) for q in names)
    Engine(spark)  # start-up sweep
    for q in names:
        assert _leftovers(spark, q) == []
        assert _state(spark, q) == after[q]


def test_delete_of_whole_files_writes_no_rows(eng, spark, monkeypatch):
    """The rows of one INSERT's file are dropped with the file: the
    other file carries over as a hard link, and nothing is written."""
    _setup(eng)
    q = f"{eng.current_db}.t"
    files = commit.data_files(spark.table(q))
    writes = []
    monkeypatch.setattr(
        commit, "_write", lambda img, new, _orig=commit._write: writes.append(img.df) or _orig(img, new)
    )
    assert eng.execute("DELETE FROM t WHERE id >= 5").affected == 2
    assert writes == [None]
    kept = commit.data_files(spark.table(q))
    assert len(kept) == 1 and os.path.basename(kept[0]) in {os.path.basename(f) for f in files}
    assert sorted(r["id"] for r in eng.execute("SELECT id FROM t").rows()) == [1, 2, 3, 4]
    # a partial match rewrites only its own file, filtered
    assert eng.execute("DELETE FROM t WHERE id = 1").affected == 1
    assert writes[-1] is not None
    assert sorted(r["id"] for r in eng.execute("SELECT id FROM t").rows()) == [2, 3, 4]
    assert eng.execute("DELETE FROM t WHERE id = 99").affected == 0


def _props(eng, q: str) -> dict:
    """The table's raw ebike.* properties, read from its catalog entry
    without the engine's decoder."""
    db, _, t = q.lower().rpartition(".")
    entry = eng.spark._jsparkSession.sharedState().externalCatalog().getTable(db, t)
    props = dict(eng.spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(entry.properties()))
    return {k: v for k, v in props.items() if k.startswith("ebike.")}


# DDL step, the table it changes, and that table's raw ebike.* properties
# and SHOW CREATE TABLE after it, as recorded before catalog.Table owned
# the encoding. A marker left with no column was then written as '';
# it is now absent.
ENCODING = [
    (
        'CREATE TABLE e1 (id INT NOT NULL AUTO_INCREMENT, a INT, b CHAR, c INT NOT NULL, d INT, PRIMARY KEY (id), UNIQUE KEY uab (a, b), KEY kd (d))',
        'e1',
        {'ebike.auto_increment': 'id', 'ebike.cluster.kd': 'd', 'ebike.not_null': 'id,c', 'ebike.primary_key': 'id', 'ebike.rowid': '1', 'ebike.unique.uab': 'a,b'},
        'CREATE TABLE `e1` (\n  `id` int NOT NULL AUTO_INCREMENT,\n  `a` int,\n  `b` char,\n  `c` int NOT NULL,\n  `d` int,\n  PRIMARY KEY (`id`),\n  UNIQUE KEY `uab` (`a`, `b`),\n  KEY `kd` (`d`)\n) ENGINE=parquet DEFAULT CHARSET=utf8mb4',
    ),
    (
        'CREATE TABLE er (rowid INT, v INT)',
        'er',
        {'ebike.not_null': ''},
        'CREATE TABLE `er` (\n  `rowid` int,\n  `v` int\n) ENGINE=parquet DEFAULT CHARSET=utf8mb4',
    ),
    (
        'ALTER TABLE e1 ADD UNIQUE uc (c)',
        'e1',
        {'ebike.auto_increment': 'id', 'ebike.cluster.kd': 'd', 'ebike.not_null': 'id,c', 'ebike.primary_key': 'id', 'ebike.rowid': '1', 'ebike.unique.uab': 'a,b', 'ebike.unique.uc': 'c'},
        'CREATE TABLE `e1` (\n  `id` int NOT NULL AUTO_INCREMENT,\n  `a` int,\n  `b` char,\n  `c` int NOT NULL,\n  `d` int,\n  PRIMARY KEY (`id`),\n  UNIQUE KEY `uab` (`a`, `b`),\n  UNIQUE KEY `uc` (`c`),\n  KEY `kd` (`d`)\n) ENGINE=parquet DEFAULT CHARSET=utf8mb4',
    ),
    (
        'ALTER TABLE e1 DROP INDEX uc',
        'e1',
        {'ebike.auto_increment': 'id', 'ebike.cluster.kd': 'd', 'ebike.not_null': 'id,c', 'ebike.primary_key': 'id', 'ebike.rowid': '1', 'ebike.unique.uab': 'a,b'},
        'CREATE TABLE `e1` (\n  `id` int NOT NULL AUTO_INCREMENT,\n  `a` int,\n  `b` char,\n  `c` int NOT NULL,\n  `d` int,\n  PRIMARY KEY (`id`),\n  UNIQUE KEY `uab` (`a`, `b`),\n  KEY `kd` (`d`)\n) ENGINE=parquet DEFAULT CHARSET=utf8mb4',
    ),
    (
        'ALTER TABLE e1 ADD INDEX kc (c, d)',
        'e1',
        {'ebike.auto_increment': 'id', 'ebike.cluster.kc': 'c,d', 'ebike.cluster.kd': 'd', 'ebike.not_null': 'id,c', 'ebike.primary_key': 'id', 'ebike.rowid': '1', 'ebike.unique.uab': 'a,b'},
        'CREATE TABLE `e1` (\n  `id` int NOT NULL AUTO_INCREMENT,\n  `a` int,\n  `b` char,\n  `c` int NOT NULL,\n  `d` int,\n  PRIMARY KEY (`id`),\n  UNIQUE KEY `uab` (`a`, `b`),\n  KEY `kc` (`c`, `d`),\n  KEY `kd` (`d`)\n) ENGINE=parquet DEFAULT CHARSET=utf8mb4',
    ),
    (
        'ALTER TABLE e1 MODIFY d BIGINT NOT NULL',
        'e1',
        {'ebike.auto_increment': 'id', 'ebike.cluster.kc': 'c,d', 'ebike.cluster.kd': 'd', 'ebike.not_null': 'id,c,d', 'ebike.primary_key': 'id', 'ebike.rowid': '1', 'ebike.unique.uab': 'a,b'},
        'CREATE TABLE `e1` (\n  `id` int NOT NULL AUTO_INCREMENT,\n  `a` int,\n  `b` char,\n  `c` int NOT NULL,\n  `d` int NOT NULL,\n  PRIMARY KEY (`id`),\n  UNIQUE KEY `uab` (`a`, `b`),\n  KEY `kc` (`c`, `d`),\n  KEY `kd` (`d`)\n) ENGINE=parquet DEFAULT CHARSET=utf8mb4',
    ),
    (
        'ALTER TABLE e1 CHANGE a a2 INT',
        'e1',
        {'ebike.auto_increment': 'id', 'ebike.cluster.kc': 'c,d', 'ebike.cluster.kd': 'd', 'ebike.not_null': 'id,c,d', 'ebike.primary_key': 'id', 'ebike.rowid': '1', 'ebike.unique.uab': 'a2,b'},
        'CREATE TABLE `e1` (\n  `id` int NOT NULL AUTO_INCREMENT,\n  `a2` int,\n  `b` char,\n  `c` int NOT NULL,\n  `d` int NOT NULL,\n  PRIMARY KEY (`id`),\n  UNIQUE KEY `uab` (`a2`, `b`),\n  KEY `kc` (`c`, `d`),\n  KEY `kd` (`d`)\n) ENGINE=parquet DEFAULT CHARSET=utf8mb4',
    ),
    (
        'ALTER TABLE e1 DROP COLUMN b',
        'e1',
        {'ebike.auto_increment': 'id', 'ebike.cluster.kc': 'c,d', 'ebike.cluster.kd': 'd', 'ebike.not_null': 'id,c,d', 'ebike.primary_key': 'id', 'ebike.rowid': '1', 'ebike.unique.uab': 'a2'},
        'CREATE TABLE `e1` (\n  `id` int NOT NULL AUTO_INCREMENT,\n  `a2` int,\n  `c` int NOT NULL,\n  `d` int NOT NULL,\n  PRIMARY KEY (`id`),\n  UNIQUE KEY `uab` (`a2`),\n  KEY `kc` (`c`, `d`),\n  KEY `kd` (`d`)\n) ENGINE=parquet DEFAULT CHARSET=utf8mb4',
    ),
    (
        'ALTER TABLE e1 DROP PRIMARY KEY',
        'e1',
        {'ebike.auto_increment': 'id', 'ebike.cluster.kc': 'c,d', 'ebike.cluster.kd': 'd', 'ebike.not_null': 'id,c,d', 'ebike.rowid': '1', 'ebike.unique.uab': 'a2'},
        'CREATE TABLE `e1` (\n  `id` int NOT NULL AUTO_INCREMENT,\n  `a2` int,\n  `c` int NOT NULL,\n  `d` int NOT NULL,\n  UNIQUE KEY `uab` (`a2`),\n  KEY `kc` (`c`, `d`),\n  KEY `kd` (`d`)\n) ENGINE=parquet DEFAULT CHARSET=utf8mb4',
    ),
    (
        'ALTER TABLE e1 ADD PRIMARY KEY (a2, id)',
        'e1',
        {'ebike.auto_increment': 'id', 'ebike.cluster.kc': 'c,d', 'ebike.cluster.kd': 'd', 'ebike.not_null': 'id,c,d,a2', 'ebike.primary_key': 'a2,id', 'ebike.rowid': '1', 'ebike.unique.uab': 'a2'},
        'CREATE TABLE `e1` (\n  `id` int NOT NULL AUTO_INCREMENT,\n  `a2` int NOT NULL,\n  `c` int NOT NULL,\n  `d` int NOT NULL,\n  PRIMARY KEY (`a2`, `id`),\n  UNIQUE KEY `uab` (`a2`),\n  KEY `kc` (`c`, `d`),\n  KEY `kd` (`d`)\n) ENGINE=parquet DEFAULT CHARSET=utf8mb4',
    ),
    (
        'ALTER TABLE e1 MODIFY c INT',
        'e1',
        {'ebike.auto_increment': 'id', 'ebike.cluster.kc': 'c,d', 'ebike.cluster.kd': 'd', 'ebike.not_null': 'id,d,a2', 'ebike.primary_key': 'a2,id', 'ebike.rowid': '1', 'ebike.unique.uab': 'a2'},
        'CREATE TABLE `e1` (\n  `id` int NOT NULL AUTO_INCREMENT,\n  `a2` int NOT NULL,\n  `c` int,\n  `d` int NOT NULL,\n  PRIMARY KEY (`a2`, `id`),\n  UNIQUE KEY `uab` (`a2`),\n  KEY `kc` (`c`, `d`),\n  KEY `kd` (`d`)\n) ENGINE=parquet DEFAULT CHARSET=utf8mb4',
    ),
    (
        'ALTER TABLE e1 DROP COLUMN d',
        'e1',
        {'ebike.auto_increment': 'id', 'ebike.cluster.kc': 'c', 'ebike.not_null': 'id,a2', 'ebike.primary_key': 'a2,id', 'ebike.rowid': '1', 'ebike.unique.uab': 'a2'},
        'CREATE TABLE `e1` (\n  `id` int NOT NULL AUTO_INCREMENT,\n  `a2` int NOT NULL,\n  `c` int,\n  PRIMARY KEY (`a2`, `id`),\n  UNIQUE KEY `uab` (`a2`),\n  KEY `kc` (`c`)\n) ENGINE=parquet DEFAULT CHARSET=utf8mb4',
    ),
    (
        'CREATE TABLE e2 LIKE e1',
        'e2',
        {'ebike.auto_increment': 'id', 'ebike.cluster.kc': 'c', 'ebike.not_null': 'id,a2', 'ebike.primary_key': 'a2,id', 'ebike.rowid': '1', 'ebike.unique.uab': 'a2'},
        'CREATE TABLE `e2` (\n  `id` int NOT NULL AUTO_INCREMENT,\n  `a2` int NOT NULL,\n  `c` int,\n  PRIMARY KEY (`a2`, `id`),\n  UNIQUE KEY `uab` (`a2`),\n  KEY `kc` (`c`)\n) ENGINE=parquet DEFAULT CHARSET=utf8mb4',
    ),
    (
        'CREATE MATERIALIZED VIEW mv AS SELECT id, c FROM e1',
        'mv',
        {'ebike.matview.sql': 'U0VMRUNUIGlkLCBjIEZST00gZTE='},
        'CREATE TABLE `mv` (\n  `id` int,\n  `c` int\n) ENGINE=parquet DEFAULT CHARSET=utf8mb4',
    ),
    (
        'RENAME TABLE e2 TO e3',
        'e3',
        {'ebike.auto_increment': 'id', 'ebike.cluster.kc': 'c', 'ebike.not_null': 'id,a2', 'ebike.primary_key': 'a2,id', 'ebike.rowid': '1', 'ebike.unique.uab': 'a2'},
        'CREATE TABLE `e3` (\n  `id` int NOT NULL AUTO_INCREMENT,\n  `a2` int NOT NULL,\n  `c` int,\n  PRIMARY KEY (`a2`, `id`),\n  UNIQUE KEY `uab` (`a2`),\n  KEY `kc` (`c`)\n) ENGINE=parquet DEFAULT CHARSET=utf8mb4',
    ),
    (
        'ALTER TABLE er ADD UNIQUE (v), ADD COLUMN w INT',
        'er',
        {'ebike.not_null': '', 'ebike.unique.v': 'v'},
        'CREATE TABLE `er` (\n  `rowid` int,\n  `v` int,\n  `w` int,\n  UNIQUE KEY `v` (`v`)\n) ENGINE=parquet DEFAULT CHARSET=utf8mb4',
    ),
    (
        'CREATE TABLE e4 LIKE er',
        'e4',
        {'ebike.not_null': '', 'ebike.unique.v': 'v'},
        'CREATE TABLE `e4` (\n  `rowid` int,\n  `v` int,\n  `w` int,\n  UNIQUE KEY `v` (`v`)\n) ENGINE=parquet DEFAULT CHARSET=utf8mb4',
    ),
    (
        'ALTER TABLE e1 DROP COLUMN a2',
        'e1',
        {'ebike.auto_increment': 'id', 'ebike.cluster.kc': 'c', 'ebike.not_null': 'id', 'ebike.primary_key': 'id', 'ebike.rowid': '1'},
        'CREATE TABLE `e1` (\n  `id` int NOT NULL AUTO_INCREMENT,\n  `c` int,\n  PRIMARY KEY (`id`),\n  KEY `kc` (`c`)\n) ENGINE=parquet DEFAULT CHARSET=utf8mb4',
    ),
    (
        'ALTER TABLE e1 DROP COLUMN id',
        'e1',
        {'ebike.auto_increment': '', 'ebike.cluster.kc': 'c', 'ebike.not_null': '', 'ebike.primary_key': '', 'ebike.rowid': '1'},
        'CREATE TABLE `e1` (\n  `c` int,\n  KEY `kc` (`c`)\n) ENGINE=parquet DEFAULT CHARSET=utf8mb4',
    ),
]


def test_ddl_writes_the_pinned_property_encoding(eng):
    """CREATE TABLE (keys, NOT NULL, AUTO_INCREMENT, a user rowid), the
    ALTER clauses, CREATE TABLE … LIKE, CREATE MATERIALIZED VIEW and
    RENAME write the recorded properties and SHOW CREATE TABLE text."""
    for sql, table, props, create in ENCODING:
        eng.execute(sql)
        assert _props(eng, f"{eng.current_db}.{table}") == {k: v for k, v in props.items() if v}, sql
        assert eng.execute(f"SHOW CREATE TABLE {table}").rows()[0]["Create Table"] == create, sql
    with pytest.raises(EbikeError) as ei:
        eng.execute("CREATE TABLE e5 LIKE mv")
    assert ei.value.code == 1347


def test_drop_primary_key_after_its_columns_went_is_1091(eng):
    """Dropping the last PRIMARY KEY column drops the key: no property
    is left, and DROP PRIMARY KEY then finds none (MySQL 1091)."""
    eng.execute("CREATE TABLE p1 (id INT NOT NULL, v INT, PRIMARY KEY (id))")
    eng.execute("ALTER TABLE p1 DROP COLUMN id")
    assert _props(eng, f"{eng.current_db}.p1") == {"ebike.rowid": "1"}
    with pytest.raises(EbikeError) as ei:
        eng.execute("ALTER TABLE p1 DROP PRIMARY KEY")
    assert ei.value.code == 1091


def test_ddl_after_a_versioned_commit(eng, spark):
    """RENAME, TRUNCATE, DROP, CREATE TABLE LIKE and SHOW CREATE TABLE on
    a table whose data lives in a version directory: rows and ebike.*
    properties survive, and DROP leaves no directory of the table."""
    db = eng.current_db
    eng.execute("CREATE TABLE t (id INT NOT NULL, v INT, UNIQUE KEY uv (v), PRIMARY KEY (id))")
    eng.execute("INSERT INTO t VALUES (1, 10), (2, 20)")
    eng.execute("UPDATE t SET v = v + 1 WHERE id = 1")
    props = _props(eng, f"{db}.t")
    assert commit.location(spark, f"{db}.t").endswith(os.sep + "_v1")
    create = eng.execute("SHOW CREATE TABLE t").rows()[0]["Create Table"]
    assert "PRIMARY KEY (`id`)" in create and "UNIQUE KEY `uv` (`v`)" in create

    eng.execute("RENAME TABLE t TO r")
    db_dir = commit.root_of(commit.location(spark, f"{db}.r")).rsplit(os.sep, 1)[0]
    assert not os.path.exists(os.path.join(db_dir, "t"))
    assert sorted((x["id"], x["v"]) for x in eng.execute("SELECT * FROM r").rows()) == [(1, 11), (2, 20)]
    assert _props(eng, f"{db}.r") == props
    eng.execute("UPDATE r SET v = v + 1 WHERE id = 2")  # the renamed table commits again
    assert sorted((x["id"], x["v"]) for x in eng.execute("SELECT * FROM r").rows()) == [(1, 11), (2, 21)]

    eng.execute("CREATE TABLE c LIKE r")
    assert _props(eng, f"{db}.c") == props
    assert eng.execute("SELECT COUNT(*) AS n FROM c").rows()[0]["n"] == 0

    eng.execute("TRUNCATE TABLE r")
    assert eng.execute("SELECT COUNT(*) AS n FROM r").rows()[0]["n"] == 0
    assert _props(eng, f"{db}.r") == props
    eng.execute("INSERT INTO r VALUES (3, 30)")
    assert [x["id"] for x in eng.execute("SELECT id FROM r").rows()] == [3]

    eng.execute("DROP TABLE r")
    assert not os.path.exists(os.path.join(db_dir, "r"))
    with pytest.raises(EbikeError) as ei:
        eng.execute("SELECT * FROM r")
    assert ei.value.code == 1146


def test_concurrent_writers_and_readers(eng, spark):
    """More writer threads than cores, each on its own session, add to
    one row while readers scan the table: no increment is lost and no
    reader loses the files of the version it started on."""
    import sys
    import threading

    eng.execute("CREATE TABLE s (id INT NOT NULL, v INT, PRIMARY KEY (id))")
    eng.execute("INSERT INTO s VALUES (1, 0), (2, 0)")
    errors: list = []

    def write() -> None:
        e = Engine(spark.newSession(), default_db=eng.current_db)
        try:
            for _ in range(2):
                e.execute("UPDATE s SET v = v + 1 WHERE id = 1")
        except Exception as ex:  # reported by the assertion below
            errors.append(ex)

    def read() -> None:
        e = Engine(spark.newSession(), default_db=eng.current_db)
        try:
            for _ in range(6):
                with commit.statement():  # as the server holds it across the send
                    assert len(e.execute("SELECT * FROM s").rows()) == 2
        except Exception as ex:
            errors.append(ex)

    threads = [threading.Thread(target=write) for _ in range(6)]
    threads += [threading.Thread(target=read) for _ in range(2)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert eng.execute("SELECT v FROM s WHERE id = 1").rows()[0]["v"] == 12


def test_old_version_outlives_a_reader_that_started_before_the_commit(eng, spark):
    """A statement planned on the old version (its file listing taken)
    still reads it after another connection commits; the old version is
    deleted when that statement ends."""
    import threading

    eng.execute("CREATE TABLE o (id INT NOT NULL, v INT, PRIMARY KEY (id))")
    eng.execute("INSERT INTO o VALUES (1, 0), (2, 0)")
    q = f"{eng.current_db}.o"
    reader = Engine(spark.newSession(), default_db=eng.current_db)
    planned, committed, out = threading.Event(), threading.Event(), []

    def read() -> None:
        with commit.statement():  # as the server holds it across the send
            df = reader.execute("SELECT * FROM o").df  # lists the live files
            planned.set()
            committed.wait(60)
            out.append(len(df.collect()))

    th = threading.Thread(target=read)
    th.start()
    assert planned.wait(60)
    eng.execute("UPDATE o SET v = 1 WHERE id = 1")
    assert _leftovers(spark, q) != []  # held for the reader
    committed.set()
    th.join(60)
    assert not th.is_alive() and out == [2]
    assert _leftovers(spark, q) == []


def test_passthrough_insert_is_seen_by_another_connection(eng, spark):
    """``INSERT INTO t TABLE s`` lands through the INSERT … SELECT
    path and bumps t's version like every engine write: another
    connection's next read lists the new file."""
    eng.execute("CREATE TABLE t (id INT, v INT)")
    eng.execute("CREATE TABLE s (id INT, v INT)")
    eng.execute("INSERT INTO t VALUES (1, 10)")
    eng.execute("INSERT INTO s VALUES (2, 20)")
    other = Engine(spark.newSession(), default_db=eng.current_db)
    assert [r["id"] for r in other.execute("SELECT id FROM t").rows()] == [1]
    eng.execute("INSERT INTO t TABLE s")
    assert sorted(r["id"] for r in other.execute("SELECT id FROM t").rows()) == [1, 2]


# statements that change no row of a table _setup fills: a miss, or a
# match whose assignments leave every value as it was
UNCHANGED = [
    "UPDATE t SET v = 10 WHERE id = 1",
    "UPDATE t SET v = 0 WHERE id = 99",
    "UPDATE t SET v = v WHERE FALSE",
    "UPDATE t SET v = 10 WHERE id <= 2 ORDER BY id LIMIT 1",
    "UPDATE t SET v = 0 WHERE id = 99 LIMIT 2",
    "DELETE FROM t WHERE id = 99 LIMIT 2",
    "UPDATE t JOIN u ON t.id = u.id SET t.v = t.v, u.w = u.w",
    "UPDATE t JOIN u ON t.id = u.id + 100 SET t.v = 0, u.w = 0",
    "DELETE t FROM t JOIN u ON t.id = u.id + 100",
    "INSERT INTO t VALUES (1, 10, 'a'), (2, 20, 'b') ON DUPLICATE KEY UPDATE v = VALUES(v)",
]


@pytest.mark.parametrize("sql", UNCHANGED)
def test_a_statement_that_changes_nothing_creates_no_version(eng, spark, sql):
    """The commit drops a post-image whose observed count is 0: the
    statement reports 0 affected rows, and t and u keep their live
    location, rows and files, with no new version left behind."""
    _setup(eng)
    names = [f"{eng.current_db}.{t}" for t in ("t", "u")]
    before = {q: (_state(spark, q), commit.location(spark, q)) for q in names}
    assert eng.execute(sql).affected == 0
    for q in names:
        assert (_state(spark, q), commit.location(spark, q)) == before[q]
        assert _leftovers(spark, q) == []


@pytest.mark.parametrize("emptied", [False, True], ids=["never_written", "emptied"])
def test_statements_on_an_empty_table_create_no_version(eng, spark, emptied):
    """UPDATE and DELETE forms on a table without rows — one never
    written, and one whose rows a DELETE dropped with their file —
    report 0 and leave the table where it is."""
    eng.execute("CREATE TABLE e (id INT NOT NULL, v INT, PRIMARY KEY (id))")
    eng.execute("CREATE TABLE u (id INT NOT NULL, w INT, PRIMARY KEY (id))")
    eng.execute("INSERT INTO u VALUES (1, 7)")
    if emptied:
        eng.execute("INSERT INTO e VALUES (1, 10)")
        assert eng.execute("DELETE FROM e").affected == 1
    q = f"{eng.current_db}.e"
    before = (_state(spark, q), commit.location(spark, q))
    for sql in (
        "UPDATE e SET v = 1",
        "UPDATE e SET v = 1 ORDER BY id LIMIT 1",
        "DELETE FROM e LIMIT 1",
        "DELETE FROM e",
        "UPDATE e JOIN u ON e.id = u.id SET e.v = u.w",
        "DELETE e FROM e JOIN u ON e.id = u.id",
    ):
        assert eng.execute(sql).affected == 0, sql
        assert (_state(spark, q), commit.location(spark, q)) == before, sql
        assert _leftovers(spark, q) == [], sql


def _jobs(spark, eng, sql: str) -> tuple[int, int]:
    """(affected rows, Spark jobs) of one statement, the jobs counted by
    job group."""
    sc = spark.sparkContext
    group = f"jobs_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, sql)
    try:
        affected = eng.execute(sql).affected
    finally:
        sc._jsc.clearJobGroup()
    return affected, len(sc.statusTracker().getJobIdsForGroup(group))


def test_update_of_a_one_file_table_runs_one_job(eng, spark):
    """A single-table UPDATE of a non-key column counts its changed
    rows inside its write: the statement runs exactly one Spark job,
    counted by job group."""
    eng.execute("CREATE TABLE j (id INT NOT NULL, v INT, PRIMARY KEY (id))")
    eng.execute("INSERT INTO j VALUES (1, 10), (2, 20), (3, 30)")
    assert _jobs(spark, eng, "UPDATE j SET v = v + 1 WHERE id = 2") == (1, 1)
    assert sorted(tuple(r) for r in eng.execute("SELECT id, v FROM j").rows()) == [(1, 10), (2, 21), (3, 30)]


# write form: statement, its affected rows and its Spark jobs against
# the tables test_write_forms_run_their_pinned_job_counts fills
JOB_COUNTS = {
    "upsert": ("INSERT INTO j VALUES (1, 101, 0), (40, 140, 4) ON DUPLICATE KEY UPDATE v = VALUES(v)", 3, 9),
    "replace": ("REPLACE INTO j VALUES (2, 555, 9)", 2, 12),
    "insert_ignore": ("INSERT IGNORE INTO j VALUES (1, 1, 1), (41, 141, 1)", 1, 7),
    "insert_values": ("INSERT INTO j VALUES (42, 142, 1)", 1, 3),
    "insert_select": ("INSERT INTO j SELECT * FROM s", 2, 11),
    "update": ("UPDATE j SET v = v + 1 WHERE id = 2", 1, 1),
    "update_unique": ("UPDATE j SET code = code + 1000 WHERE id = 2", 1, 3),
    "multi_table_update_unique": ("UPDATE j JOIN u ON j.id = u.id SET j.code = u.w + 1000", 2, 9),
    "delete": ("DELETE FROM j WHERE id = 3", 1, 3),
}


@pytest.mark.parametrize("form", sorted(JOB_COUNTS))
def test_write_forms_run_their_pinned_job_counts(eng, spark, form):
    """Each write form's Spark jobs, counted by job group, into a
    one-file 20-row table with a PRIMARY KEY and a UNIQUE key. REPLACE
    and the upsert read every fact they check before the write from
    one action."""
    eng.execute("CREATE TABLE j (id INT NOT NULL, code INT, v INT, PRIMARY KEY (id), UNIQUE KEY uc (code))")
    eng.execute("INSERT INTO j VALUES " + ", ".join(f"({i}, {100 + i}, {i})" for i in range(1, 21)))
    eng.execute("CREATE TABLE u (id INT NOT NULL, w INT, PRIMARY KEY (id))")
    eng.execute("INSERT INTO u VALUES (1, 7), (2, 8)")
    eng.execute("CREATE TABLE s (id INT NOT NULL, code INT, v INT)")
    eng.execute("INSERT INTO s VALUES (31, 131, 1), (32, 132, 2)")
    sql, affected, jobs = JOB_COUNTS[form]
    assert _jobs(spark, eng, sql) == (affected, jobs)


# an assignment of NULL to the NOT NULL column a, or an upsert batch row
# that leaves it NULL
NULL_ASSIGNMENTS = [
    "UPDATE nn SET a = NULL",
    "UPDATE nn, s2 SET nn.a = s2.c + NULL WHERE nn.id = s2.id",
    "INSERT INTO nn VALUES (1, 9, 9) ON DUPLICATE KEY UPDATE a = NULL",
    "INSERT INTO nn (id, b) VALUES (3, 3) ON DUPLICATE KEY UPDATE b = 9",
]


@pytest.mark.parametrize("sql", NULL_ASSIGNMENTS)
def test_null_assigned_to_a_not_null_column_is_1048(eng, spark, sql):
    """UPDATE, the multi-table UPDATE and ON DUPLICATE KEY UPDATE refuse
    a NULL for a NOT NULL column with 1048, as INSERT does, and leave
    the table's rows and live location as they were."""
    eng.execute("CREATE TABLE nn (id INT NOT NULL, a INT NOT NULL, b INT, PRIMARY KEY (id))")
    eng.execute("INSERT INTO nn VALUES (1, 1, 1), (2, 2, 2), (3, 3, 3)")
    eng.execute("CREATE TABLE s2 (id INT, c INT)")
    eng.execute("INSERT INTO s2 VALUES (1, 5)")
    q = f"{eng.current_db}.nn"
    before = (_state(spark, q), commit.location(spark, q))
    with pytest.raises(EbikeError) as ei:
        eng.execute(sql)
    assert (ei.value.code, ei.value.message) == (1048, "Column 'a' cannot be null")
    assert (_state(spark, q), commit.location(spark, q)) == before
    assert _leftovers(spark, q) == []
