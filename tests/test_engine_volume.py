"""Engine DML at volume: the set-oriented rewrite path (INSERT...SELECT,
UPDATE, DELETE) over the sf0.1 lineitem (~600k rows) — the reference's
row-at-a-time KV DML could not do this in test-able time; here each
statement is a handful of Spark jobs regardless of row count."""

from __future__ import annotations

import os
import uuid

import pytest

from ebike_spark.engine import Engine

pytestmark = pytest.mark.slow  # >5s drives; full suite remains the pre-commit gate

SF01 = "/root/testdata/sf0.1"


@pytest.fixture()
def eng(spark):
    e = Engine(spark)
    db = f"vol_{uuid.uuid4().hex[:8]}"
    e.execute(f"CREATE DATABASE {db}")
    e.execute(f"USE {db}")
    yield e
    e.execute(f"DROP DATABASE IF EXISTS {db}")


def test_bulk_dml_roundtrip(eng, spark):
    path = os.path.join(SF01, "lineitem.parquet")
    spark.read.parquet(path).createOrReplaceTempView("li_src")
    eng.execute("CREATE TABLE li (okey INT, qty FLOAT, price FLOAT, flag CHAR)")
    # bulk load through the INSERT...SELECT passthrough (beyond the
    # reference, which only implements VALUES)
    eng.execute(
        "INSERT INTO li SELECT l_orderkey, l_quantity, l_extendedprice, l_returnflag FROM li_src"
    )
    n = eng.execute("SELECT COUNT(*) AS c FROM li").rows()[0]["c"]
    assert n > 500_000

    # predicate UPDATE over the full table: one rewrite, not n point-writes
    r = eng.execute("UPDATE li SET price = price * 1.1 WHERE flag = 'R'")
    assert r.affected > 10_000
    got = eng.execute(
        "SELECT ROUND(SUM(price), 0) AS s FROM li WHERE flag = 'R'"
    ).rows()[0]["s"]
    want = spark.sql(
        "SELECT ROUND(SUM(l_extendedprice * 1.1), 0) AS s FROM li_src WHERE l_returnflag = 'R'"
    ).collect()[0]["s"]
    assert got == want

    # bulk DELETE
    r = eng.execute("DELETE FROM li WHERE qty < 10")
    assert r.affected > 50_000
    assert eng.execute("SELECT MIN(qty) AS m FROM li").rows()[0]["m"] >= 10
    assert (
        eng.execute("SELECT COUNT(*) AS c FROM li").rows()[0]["c"] == n - r.affected
    )


def test_bulk_load_data_replace_ignore(eng, spark, tmp_path):
    """VERDICT-r6 task 6 + ADVICE-r6: LOAD DATA REPLACE/IGNORE at file
    volume through the now-distributive conflict resolution — ~60k rows
    with heavy intra-file duplication, checked against a DuckDB-free
    closed-form expectation. The old driver-side replay collected every
    key tuple; this is the regression fence that it stays distributed
    (wall-bounded) and exact."""
    # 60k rows, key space 20k → each key appears exactly 3 times
    n, keyspace = 60_000, 20_000
    f = tmp_path / "bulk.csv"
    with open(f, "w") as fh:
        for i in range(n):
            fh.write(f"{i % keyspace},v{i}\n")
    eng.execute("CREATE TABLE bl (id INT NOT NULL, val CHAR, PRIMARY KEY (id))")
    # seed 1000 stored rows that the file will conflict with (through
    # the constraint-checked INSERT...SELECT path — also at volume)
    spark.range(1000).selectExpr(
        "CAST(id AS INT) AS id", "concat('stored', id) AS val"
    ).createOrReplaceTempView("bl_seed")
    r = eng.execute("INSERT INTO bl SELECT id, val FROM bl_seed")
    assert r.affected == 1000
    r = eng.execute(
        f"LOAD DATA INFILE '{f}' REPLACE INTO TABLE bl FIELDS TERMINATED BY ','"
    )
    # MySQL accounting: n inserts + 1000 stored deletes + (n - keyspace)
    # intra-file evictions (last occurrence of each key wins)
    assert r.affected == n + 1000 + (n - keyspace)
    assert eng.execute("SELECT COUNT(*) AS c FROM bl").rows()[0]["c"] == keyspace
    # last-wins: key k keeps v{k + 2*keyspace} (its third occurrence)
    got = eng.execute("SELECT val FROM bl WHERE id = 7").rows()[0]["val"]
    assert got == f"v{7 + 2 * keyspace}"

    # IGNORE at volume (single unique index → distributive first-wins):
    # reload the same file — every key already stored, zero inserted
    r = eng.execute(
        f"LOAD DATA INFILE '{f}' IGNORE INTO TABLE bl FIELDS TERMINATED BY ','"
    )
    assert r.affected == 0
    # fresh keyspace slice: first occurrence per key wins
    g = tmp_path / "bulk2.csv"
    with open(g, "w") as fh:
        for i in range(keyspace, keyspace + 3000):
            fh.write(f"{i},first{i}\n")
            fh.write(f"{i},second{i}\n")
    r = eng.execute(
        f"LOAD DATA INFILE '{g}' IGNORE INTO TABLE bl FIELDS TERMINATED BY ','"
    )
    assert r.affected == 3000
    got = eng.execute(
        f"SELECT val FROM bl WHERE id = {keyspace + 5}"
    ).rows()[0]["val"]
    assert got == f"first{keyspace + 5}"


def test_insert_select_constraint_parity_at_volume(eng, spark):
    """INSERT...SELECT must route through the same PK/NOT-NULL
    enforcement as VALUES at any row count: a 1062 on a duplicated
    source key aborts the whole statement (nothing applied), and the
    clean retry lands every row."""
    path = os.path.join(SF01, "orders.parquet")
    spark.read.parquet(path).createOrReplaceTempView("ord_src")
    eng.execute("CREATE TABLE od (okey INT NOT NULL, pri CHAR, PRIMARY KEY (okey))")
    # duplicate-bearing source (each key twice) → 1062, atomic no-op
    from ebike_spark.engine.errors import EbikeError

    with pytest.raises(EbikeError) as ei:
        eng.execute(
            "INSERT INTO od SELECT o_orderkey, o_orderpriority FROM ord_src "
            "UNION ALL SELECT o_orderkey, o_orderpriority FROM ord_src"
        )
    assert ei.value.code == 1062
    assert eng.execute("SELECT COUNT(*) AS c FROM od").rows()[0]["c"] == 0
    eng.execute("INSERT INTO od SELECT o_orderkey, o_orderpriority FROM ord_src")
    n = eng.execute("SELECT COUNT(*) AS c FROM od").rows()[0]["c"]
    want = spark.sql("SELECT COUNT(*) AS c FROM ord_src").collect()[0]["c"]
    assert n == want


@pytest.mark.parametrize("n", [1_500, 5_000])
def test_mysqldump_extended_insert(eng, spark, n):
    """A mysqldump-shaped extended INSERT (one statement, n literal
    rows: escaped quotes, DECIMAL text, NULLs) commits exactly its rows
    and adds at most one parquet file. The per-row UNION ALL form
    failed from ~1,000-2,000 rows (FAILED_TO_PARSE_TOO_COMPLEX, then a
    JVM StackOverflowError)."""
    from decimal import Decimal

    eng.execute(
        "CREATE TABLE `dump` (`id` int NOT NULL, `name` varchar(32), "
        "`price` decimal(10,2), `note` text, PRIMARY KEY (`id`))"
    )
    eng.execute("INSERT INTO `dump` VALUES (0,'seed',0.00,NULL)")
    qualified = f"{eng.current_db}.dump"
    files_before = len(spark.table(qualified).inputFiles())
    values = ",".join(
        f"({i},'it\\'s #{i}',{i % 1000}.{i % 100:02d},"
        + ("NULL" if i % 7 == 0 else f"'line\\n{i}'")
        + ")"
        for i in range(1, n + 1)
    )
    r = eng.execute(f"INSERT INTO `dump` VALUES {values}")
    assert r.affected == n
    got = eng.execute(
        "SELECT COUNT(*) AS c, SUM(id) AS s, SUM(price) AS p, COUNT(note) AS nn "
        "FROM `dump` WHERE id > 0"
    ).rows()[0]
    assert got["c"] == n
    assert got["s"] == n * (n + 1) // 2
    assert got["p"] == sum(Decimal(f"{i % 1000}.{i % 100:02d}") for i in range(1, n + 1))
    assert got["nn"] == n - n // 7
    row = eng.execute("SELECT name, note FROM `dump` WHERE id = 8").rows()[0]
    assert (row["name"], row["note"]) == ("it's #8", "line\n8")
    assert len(spark.table(qualified).inputFiles()) - files_before <= 1
