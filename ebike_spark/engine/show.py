"""SHOW-command emulation (MySQL-shaped result sets).

The reference implements eleven SHOW statements as SELECTs against its
persisted information_schema or synthesized constant batches
(/root/reference/src/core/execution.rs:1098-1264,
/root/reference/src/execute_impl/show_*.rs). Here each one is a small
DataFrame constructor reading Spark's catalog — driver-side metadata,
no cluster work.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from ebike_spark.engine.catalog import SQL_TYPE_NAME, Catalog


def _like_to_regex(pat: str) -> str:
    """A LIKE pattern as an anchored regex: ``%`` any run, ``_`` any one
    character, and a backslash takes the next character literally
    (MySQL's ``\\%`` and ``\\_``)."""
    wild = {"%": ".*", "_": "."}
    return "^" + "".join(
        re.escape(m.group(1)) if m.group(1) else wild.get(m.group(0)) or re.escape(m.group(0))
        for m in re.finditer(r"\\([\s\S])|[\s\S]", pat)
    ) + "$"


def show_databases(spark: SparkSession, catalog: Catalog) -> DataFrame:
    return spark.createDataFrame([(d,) for d in catalog.databases()], "Database string")


def show_tables(spark: SparkSession, catalog: Catalog, db: str) -> DataFrame:
    return spark.createDataFrame([(n,) for n in catalog.tables(db)], f"`Tables_in_{db}` string")


def show_columns(spark: SparkSession, catalog: Catalog, qualified: str) -> DataFrame:
    t = catalog.table(qualified)
    rows = [
        (name, SQL_TYPE_NAME.get(typ, typ), "NO" if name in t.not_null else "YES", t.column_key(name), None,
         "auto_increment" if name == t.auto_increment else "")
        for name, typ in t.columns
    ]
    return spark.createDataFrame(
        rows, "Field string, Type string, Null string, Key string, Default string, Extra string"
    )


def show_create_table(spark: SparkSession, catalog: Catalog, qualified: str) -> DataFrame:
    t = catalog.table(qualified)
    lines = [
        f"  `{name}` {SQL_TYPE_NAME.get(typ, typ)}"
        + (" NOT NULL" if name in t.not_null else "")
        + (" AUTO_INCREMENT" if name == t.auto_increment else "")
        for name, typ in t.columns
    ]

    def cols(c) -> str:
        return "(" + ", ".join(f"`{x}`" for x in c) + ")"

    if t.primary_key:
        lines.append(f"  PRIMARY KEY {cols(t.primary_key)}")
    lines += [f"  UNIQUE KEY `{n}` {cols(c)}" for n, c in t.uniques]
    lines += [f"  KEY `{n}` {cols(c)}" for n, c in t.indexes]
    _, _, name = qualified.rpartition(".")
    body = ",\n".join(lines)
    ddl = f"CREATE TABLE `{name}` (\n{body}\n) ENGINE=parquet DEFAULT CHARSET=utf8mb4"
    return spark.createDataFrame([(name, ddl)], "Table string, `Create Table` string")


def show_variables(spark: SparkSession, sys_vars: dict[str, object], like: str | None) -> DataFrame:
    items = sorted(sys_vars.items())
    if like:
        rx = re.compile(_like_to_regex(like), re.I)
        items = [(k, v) for k, v in items if rx.match(k)]
    return spark.createDataFrame([(k, str(v)) for k, v in items], "Variable_name string, Value string")


def show_engines(spark: SparkSession) -> DataFrame:
    rows = [("parquet", "DEFAULT", "Columnar parquet tables planned by Catalyst", "NO", "NO", "NO")]
    return spark.createDataFrame(
        rows,
        "Engine string, Support string, Comment string, Transactions string, XA string, Savepoints string",
    )


def show_charset(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [("utf8mb4", "UTF-8 Unicode", "utf8mb4_0900_ai_ci", 4)],
        "Charset string, Description string, `Default collation` string, Maxlen long",
    )


def show_collation(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [("utf8mb4_0900_ai_ci", "utf8mb4", 255, "Yes", "Yes", 0)],
        "Collation string, Charset string, Id long, Default string, Compiled string, Sortlen long",
    )


def show_table_status(spark: SparkSession, catalog: Catalog, db: str) -> DataFrame:
    rows = []
    for t in catalog.tables(db):
        n = spark.table(f"{db}.{t}").count()
        rows.append((t, "parquet", n, "utf8mb4_0900_ai_ci"))
    return spark.createDataFrame(
        rows or [("", "", 0, "")],
        "Name string, Engine string, Rows long, Collation string",
    )


def show_index(spark: SparkSession, catalog: Catalog, qualified: str) -> DataFrame:
    """SHOW INDEX FROM t — MySQL-shaped rows over the declared keys (the
    reference serves these from its persisted
    information_schema.statistics). A KEY is physical range clustering
    (zone-map pruning), advertised with its real mechanism, not a fake
    BTREE."""
    _, _, tname = qualified.rpartition(".")
    rows = [(tname, non_unique, k, seq, c, kind) for k, non_unique, seq, c, kind in catalog.table(qualified).index_rows()]
    return spark.createDataFrame(
        rows or [("", 0, "", 0, "", "")],
        "Table string, Non_unique long, Key_name string, Seq_in_index long, "
        "Column_name string, Index_type string",
    )


def show_processlist(
    spark: SparkSession, current_db: str, provider=None
) -> DataFrame:
    """Live wire connections when a ``provider`` is wired in (the
    server installs one backed by its connection registry, so the Ids
    shown here are the SAME ids COM_PROCESS_KILL addresses — r11
    review); a bare Engine with no server shows its single session."""
    if provider is None:
        # no server wired in: a bare Engine IS the single session
        rows = [
            (
                1,
                "root",
                "localhost",
                current_db,
                "Query",
                0,
                "executing",
                "SHOW PROCESSLIST",
            )
        ]
    else:
        # an EMPTY provider result renders an empty processlist — a
        # fabricated Id=1 here could shadow/collide with the real
        # connection ids COM_PROCESS_KILL addresses (ADVICE-r11)
        rows = list(provider())
    return spark.createDataFrame(
        rows,
        "Id long, User string, Host string, db string, Command string, "
        "Time long, State string, Info string",
    )


def show_grants(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [("GRANT ALL PRIVILEGES ON *.* TO 'root'@'%'",)],
        "`Grants for root@%` string",
    )


def show_privileges(spark: SparkSession) -> DataFrame:
    rows = [("Select", "Tables", "To retrieve rows from table"),
            ("Insert", "Tables", "To insert data into tables"),
            ("Update", "Tables", "To update existing rows"),
            ("Delete", "Tables", "To delete existing rows"),
            ("Create", "Databases,Tables", "To create new databases and tables"),
            ("Drop", "Databases,Tables", "To drop databases and tables")]
    return spark.createDataFrame(rows, "Privilege string, Context string, Comment string")


def show_warnings(spark: SparkSession) -> DataFrame:
    """SHOW WARNINGS / SHOW ERRORS: always the empty set — the engine
    raises hard errors instead of accumulating warnings (strict-mode
    stance: failed casts are 1366/1048, never silent coercion + warning),
    so the diagnostics area is empty by construction. Clients and ORMs
    poll this after most statements; answering the empty set keeps them
    functional."""
    return spark.createDataFrame([], "Level string, Code int, Message string")


def show_warning_count(spark: SparkSession, kind: str = "warning") -> DataFrame:
    """SHOW COUNT(*) WARNINGS / ERRORS: MySQL returns ONE row with a
    single integer column (clients parse row[0][0] after statements),
    named like the @@session counter it mirrors — always 0 here, since
    the engine raises hard errors instead of accumulating warnings."""
    col = f"@@session.{kind}_count"
    return spark.createDataFrame([(0,)], f"`{col}` int")
