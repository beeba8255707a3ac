"""Catalog layer: managed parquet tables with the reference's type
surface and constraint metadata.

Reference model (SURVEY §1): three-level ``def.schema.table`` namespace
with table metadata persisted as rows of information_schema tables and
re-read into a cache. Spark already owns a catalog (databases, tables,
schemas), so the only custom state is what Spark can't represent:
PRIMARY KEY / UNIQUE constraints and declared nullability — stored as
table properties (TBLPROPERTIES), the catalog-native key-value channel,
instead of a side metadata store.

Type whitelist mirrors /root/reference/src/meta/meta_util.rs:548-562:
INT → bigint, FLOAT → double, CHAR → string; everything else rejected.

Hidden rowid: the reference prepends a UUID ``rowid`` to every table
(/root/reference/src/meta/meta_def.rs:385-398) and surfaces it only
when explicitly projected (/root/reference/src/core/core_util.rs:451-461).
Here it is a real LAST column (STRING, uuid() materialized at INSERT,
marked by the ``ebike.rowid`` table property) that every metadata
surface (SHOW/DESCRIBE/information_schema/column_types) hides and every query
(Engine._query) drops from results unless the query text names it —
column pruning then means the hidden column is never even read. Last
rather than first so VALUES inserts stay positional.
"""

from __future__ import annotations

import re
import uuid
from contextlib import contextmanager

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from ebike_spark.engine import commit
from ebike_spark.engine.errors import EbikeError, access_denied, table_not_exists, unknown_database
from ebike_spark.engine.parser import CreateTable, code_tokens, splice, sql_literal, unquote_ident

# meta_util.rs:548-562 — the storable types; DDL with anything else errors.
# Declared MySQL type → Spark storage type. The reference's own
# whitelist is INT/FLOAT/CHAR (meta_def.rs); the synonym rows beyond it
# exist because real mysqldump output declares varchar/double/bigint/
# text — each maps onto a type the engine already stores, no new
# semantics. DECIMAL/NUMERIC resolve separately (resolve_sql_type):
# they carry the declared (precision, scale) into Spark's exact
# DecimalType — never a silent float coercion of money columns.
TYPE_MAP = {
    "INT": "BIGINT", "INTEGER": "BIGINT", "BIGINT": "BIGINT",
    "TINYINT": "BIGINT", "SMALLINT": "BIGINT", "MEDIUMINT": "BIGINT",
    "FLOAT": "DOUBLE", "DOUBLE": "DOUBLE",
    "CHAR": "STRING", "VARCHAR": "STRING", "TEXT": "STRING",
    "DATE": "DATE", "TIMESTAMP": "TIMESTAMP", "DATETIME": "TIMESTAMP",
    "BOOLEAN": "BOOLEAN",
}


def resolve_sql_type(
    sql_type: str, precision: int | None = None, scale: int | None = None
) -> str:
    """Declared MySQL type (+ optional (p[,s]) argument) → Spark
    storage type. DECIMAL/NUMERIC keep their declared precision/scale
    (MySQL defaults 10,0) as an exact Spark DecimalType — Spark's cap
    is 38 digits vs MySQL's 65; beyond-cap declarations are a clean
    1064, never silent truncation. For every other type a parenthesized
    argument is a DISPLAY width (INT(11), tinyint(1)) — accepted and
    ignored, as MySQL itself treats it."""
    if sql_type in ("DECIMAL", "NUMERIC"):
        pr = 10 if precision is None else precision
        sc = 0 if scale is None else scale
        if not (1 <= pr <= 38) or not (0 <= sc <= pr):
            raise EbikeError(
                1064,
                f"unsupported DECIMAL({pr},{sc}) (precision 1-38, "
                "scale 0-precision — Spark DecimalType bounds)",
            )
        return f"DECIMAL({pr},{sc})"
    if sql_type not in TYPE_MAP:
        raise EbikeError(
            1064,
            f"unsupported column type {sql_type} "
            f"(supported: DECIMAL, NUMERIC, {', '.join(sorted(TYPE_MAP))})",
        )
    return TYPE_MAP[sql_type]
# reverse map for SHOW CREATE TABLE / SHOW COLUMNS output (canonical
# display name per STORAGE type — declared synonyms are not preserved)
SQL_TYPE_NAME = {"bigint": "int", "double": "float", "string": "char"}

PROP_PK = "ebike.primary_key"
PROP_UNIQUE_PREFIX = "ebike.unique."
PROP_NOT_NULL = "ebike.not_null"
# secondary "indexes": physical range-clustering on the key columns
# (zone-map pruning via parquet row-group min/max), recorded per index
PROP_CLUSTER_PREFIX = "ebike.cluster."
PROP_ROWID = "ebike.rowid"
PROP_AUTO_INCREMENT = "ebike.auto_increment"
ROWID = "rowid"

# The system tables a query can read, with their columns; each is
# built per statement from the catalog (Catalog.system_table).
SYSTEM_TABLES = {
    "information_schema.schemata": "catalog_name string, schema_name string, "
    "default_character_set_name string, default_collation_name string",
    "information_schema.tables": "table_catalog string, table_schema string, "
    "table_name string, table_type string, engine string",
    "information_schema.columns": "table_catalog string, table_schema string, "
    "table_name string, column_name string, ordinal_position bigint, "
    "is_nullable string, data_type string, column_key string",
    "information_schema.table_constraints": "constraint_catalog string, "
    "constraint_schema string, constraint_name string, table_schema string, "
    "table_name string, constraint_type string",
    "information_schema.key_column_usage": "constraint_catalog string, "
    "constraint_schema string, constraint_name string, table_catalog string, "
    "table_schema string, table_name string, column_name string, ordinal_position bigint",
    "information_schema.statistics": "table_catalog string, table_schema string, "
    "table_name string, non_unique bigint, index_schema string, index_name string, "
    "seq_in_index bigint, column_name string",
    "information_schema.views": "table_catalog string, table_schema string, "
    "table_name string, view_definition string, check_option string, "
    "is_updatable string, definer string",
    "information_schema.check_constraints": "constraint_catalog string, "
    "constraint_schema string, constraint_name string, check_clause string",
    "information_schema.referential_constraints": "constraint_catalog string, "
    "constraint_schema string, constraint_name string, unique_constraint_name string, "
    "table_name string, referenced_table_name string",
    "mysql.users": "host string, user string, plugin string, super_priv string",
    "performance_schema.global_variables": "variable_name string, variable_value string",
}

# the words before a table reference that a statement writes
_WRITE_TARGET = frozenset(("INTO", "UPDATE", "DELETE", "DELETE FROM", "OVERWRITE", "OVERWRITE TABLE"))
# words that may follow a table reference without being its alias
_NOT_ALIAS = frozenset(
    "WHERE GROUP ORDER HAVING LIMIT OFFSET WINDOW UNION EXCEPT INTERSECT "
    "MINUS JOIN INNER LEFT RIGHT FULL CROSS NATURAL LATERAL ANTI SEMI ON "
    "USING SORT CLUSTER DISTRIBUTE TABLESAMPLE PIVOT UNPIVOT".split()
)


def bq(qualified: str) -> str:
    """Backtick-quote a db.table name for SQL text (table names like
    ``user`` collide with Spark built-in functions otherwise)."""
    db, _, t = qualified.rpartition(".")
    return f"`{db}`.`{t}`" if db else f"`{t}`"


class Catalog:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        # temp view → system table, for the statement being run
        self.system_views: dict[str, str] = {}

    # ------------------------------------------------------------ helpers

    def qualify(self, table: str, current_db: str) -> str:
        if "." in table:
            db, _, t = table.partition(".")
            return f"{db}.{t}"
        return f"{current_db}.{table}"

    def database_exists(self, db: str) -> bool:
        return self.spark.catalog.databaseExists(db)

    def table_exists(self, qualified: str) -> bool:
        return self.spark.catalog.tableExists(qualified)

    def require_table(self, qualified: str) -> None:
        """1146 unless ``qualified`` names a table; a system table bound
        in this statement (system_tables) is one, but only for reading:
        1044."""
        name = self.system_views.get(qualified.rpartition(".")[2])
        if name:
            raise access_denied(name.partition(".")[0])
        if not self.table_exists(qualified):
            raise table_not_exists(qualified)

    def _ensure_fresh_location(self, qualified: str) -> None:
        """Remove a stale managed-table directory left by a previous
        process (the in-memory catalog forgot the table but its location
        survived — CREATE would fail with LOCATION_ALREADY_EXISTS)."""
        if self.table_exists(qualified):
            return
        import os
        import shutil

        base = re.sub("^file:", "", str(self.spark.conf.get("spark.sql.warehouse.dir")))
        db, _, t = qualified.rpartition(".")
        loc = os.path.join(base if db in ("", "default") else os.path.join(base, f"{db}.db"), t)
        if os.path.exists(loc):
            shutil.rmtree(loc, ignore_errors=True)

    # ------------------------------------------------------------ DDL

    def create_database(self, name: str, if_not_exists: bool) -> None:
        ine = "IF NOT EXISTS " if if_not_exists else ""
        self.spark.sql(f"CREATE DATABASE {ine}`{name}`")

    def drop_database(self, name: str, if_exists: bool) -> None:
        if not if_exists and not self.database_exists(name):
            raise unknown_database(name)
        self.spark.sql(f"DROP DATABASE IF EXISTS `{name}` CASCADE")

    def create_table(self, ct: CreateTable, current_db: str) -> None:
        qualified = self.qualify(ct.table, current_db)
        cols = []
        not_null = []
        for c in ct.columns:
            cols.append(
                f"`{c.name}` {resolve_sql_type(c.sql_type, c.precision, c.scale)}"
            )
            if not c.nullable:
                not_null.append(c.name)
        for col in ct.primary_key:
            if col not in not_null:
                not_null.append(col)
        props = [f"'{PROP_NOT_NULL}' = '{','.join(not_null)}'"]
        ai_cols = [c.name for c in ct.columns if c.auto_increment]
        if len(ai_cols) > 1 or (
            ai_cols
            and ai_cols[0] not in ct.primary_key
            and not any(ai_cols[0] in ucols for _, ucols in ct.uniques)
        ):
            # MySQL 1075: one auto column, and it must be a key
            raise EbikeError(
                1075,
                "Incorrect table definition; there can be only one auto "
                "column and it must be defined as a key",
            )
        if ai_cols:
            props.append(f"'{PROP_AUTO_INCREMENT}' = '{ai_cols[0]}'")
        # hidden rowid, unless the user claimed the name for themselves
        if all(c.name != ROWID for c in ct.columns):
            cols.append(f"`{ROWID}` STRING")
            props.append(f"'{PROP_ROWID}' = '1'")
        if ct.primary_key:
            props.append(f"'{PROP_PK}' = '{','.join(ct.primary_key)}'")
        for uname, ucols in ct.uniques:
            props.append(f"'{PROP_UNIQUE_PREFIX}{uname}' = '{','.join(ucols)}'")
        # inline KEY items: recorded as clustering indexes (the table is
        # empty, so there is nothing to physically re-cluster yet; the
        # DML paths maintain advertised clusterings on write)
        known = {c.name for c in ct.columns}
        seen_keys = {u for u, _ in ct.uniques}
        for iname, icols in ct.indexes:
            for c in icols:
                if c not in known:
                    raise EbikeError(1072, f"Key column '{c}' doesn't exist in table")
            if iname in seen_keys:
                raise EbikeError(1061, f"Duplicate key name '{iname}'")
            seen_keys.add(iname)
            props.append(f"'{PROP_CLUSTER_PREFIX}{iname}' = '{','.join(icols)}'")
        ine = "IF NOT EXISTS " if ct.if_not_exists else ""
        self._ensure_fresh_location(qualified)
        self.spark.sql(
            f"CREATE TABLE {ine}{bq(qualified)} ({', '.join(cols)}) USING parquet"
            f" TBLPROPERTIES ({', '.join(props)})"
        )
        commit.bump(self.spark, qualified)

    def drop_table(self, qualified: str, if_exists: bool) -> None:
        """DROP TABLE: Spark deletes the live version; its version root
        goes too, so nothing of the table stays in the warehouse."""
        if not if_exists:
            self.require_table(qualified)
        with commit.writing(self.spark, qualified):
            loc = commit.location(self.spark, qualified)
            self.spark.sql(f"DROP TABLE IF EXISTS {bq(qualified)}")
            commit.remove_root(loc)
            commit.bump(self.spark, qualified)

    def create_table_like(self, src_qualified: str, dst_qualified: str) -> None:
        """CREATE TABLE dst LIKE src — structure only, as MySQL: columns
        (including the hidden rowid slot) and the key-shaped ebike.*
        properties (PK/UNIQUE/NOT NULL/AUTO_INCREMENT/cluster markers)
        copy; data does not. The AUTO_INCREMENT counter starts fresh
        (MySQL resets it too). A materialized view is not a base table
        (MySQL 1347 for LIKE on a view) — and copying its marker would
        make the clone REFRESH-able into the source's query result."""
        self.require_table(src_qualified)
        if "ebike.matview.sql" in self.properties(src_qualified):
            raise EbikeError(1347, f"'{src_qualified}' is not BASE TABLE")
        fields = self.spark.table(src_qualified).schema.fields
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in fields)
        props = {
            k: v for k, v in self.properties(src_qualified).items() if k.startswith("ebike.")
        }
        props_ddl = ", ".join(f"'{k}' = '{v}'" for k, v in props.items()) or f"'{PROP_NOT_NULL}' = ''"
        self._ensure_fresh_location(dst_qualified)
        self.spark.sql(
            f"CREATE TABLE {bq(dst_qualified)} ({cols}) USING parquet"
            f" TBLPROPERTIES ({props_ddl})"
        )
        commit.bump(self.spark, dst_qualified)

    # ------------------------------------------------------------ metadata

    def properties(self, qualified: str) -> dict[str, str]:
        rows = self.spark.sql(f"SHOW TBLPROPERTIES {bq(qualified)}").collect()
        return {r["key"]: r["value"] for r in rows}

    # The getters below take an optional ``props`` — the table's
    # properties() already read by the caller — so one statement reads
    # SHOW TBLPROPERTIES once, however many of them it needs.
    def _props(self, qualified: str, props: dict[str, str] | None) -> dict[str, str]:
        return self.properties(qualified) if props is None else props

    def primary_key(self, qualified: str, props: dict[str, str] | None = None) -> list[str]:
        pk = self._props(qualified, props).get(PROP_PK, "")
        return [c for c in pk.split(",") if c]

    def unique_keys(
        self, qualified: str, props: dict[str, str] | None = None
    ) -> list[tuple[str, list[str]]]:
        out = []
        for k, v in self._props(qualified, props).items():
            if k.startswith(PROP_UNIQUE_PREFIX):
                out.append((k[len(PROP_UNIQUE_PREFIX):], [c for c in v.split(",") if c]))
        return sorted(out)

    def keys(self, qualified: str, props: dict[str, str] | None = None) -> list[tuple[str, list[str]]]:
        """The table's PRIMARY + UNIQUE key list in check order — the one
        definition every duplicate probe shares."""
        props = self._props(qualified, props)
        pk = self.primary_key(qualified, props)
        return ([("PRIMARY", pk)] if pk else []) + self.unique_keys(qualified, props)

    def cluster_indexes(self, qualified: str) -> list[tuple[str, list[str]]]:
        out = []
        for k, v in self.properties(qualified).items():
            if k.startswith(PROP_CLUSTER_PREFIX):
                out.append((k[len(PROP_CLUSTER_PREFIX):], [c for c in v.split(",") if c]))
        return sorted(out)

    def not_null_cols(self, qualified: str, props: dict[str, str] | None = None) -> list[str]:
        nn = self._props(qualified, props).get(PROP_NOT_NULL, "")
        return [c for c in nn.split(",") if c]

    def has_rowid(self, qualified: str, props: dict[str, str] | None = None) -> bool:
        return self._props(qualified, props).get(PROP_ROWID) == "1"

    def auto_increment_col(
        self, qualified: str, props: dict[str, str] | None = None
    ) -> str | None:
        return self._props(qualified, props).get(PROP_AUTO_INCREMENT) or None

    def column_types(
        self, qualified: str, props: dict[str, str] | None = None
    ) -> list[tuple[str, str]]:
        """[(name, spark_type_simple)] in table order — the USER-VISIBLE
        columns: the hidden rowid never appears in metadata surfaces or
        positional DML."""
        fields = [(f.name, f.dataType.simpleString()) for f in self.spark.table(qualified).schema.fields]
        if self.has_rowid(qualified, props):
            fields = [f for f in fields if f[0] != ROWID]
        return fields

    # ------------------------------------------------------------ info schema

    def show_create_table(self, qualified: str) -> str:
        self.require_table(qualified)
        _, _, tname = qualified.rpartition(".")
        lines = []
        nn = set(self.not_null_cols(qualified))
        ai = self.auto_increment_col(qualified)
        for name, typ in self.column_types(qualified):
            sql_t = SQL_TYPE_NAME.get(typ, typ)
            null = " NOT NULL" if name in nn else ""
            extra = " AUTO_INCREMENT" if name == ai else ""
            lines.append(f"  `{name}` {sql_t}{null}{extra}")
        pk = self.primary_key(qualified)
        if pk:
            lines.append("  PRIMARY KEY (" + ", ".join(f"`{c}`" for c in pk) + ")")
        for uname, ucols in self.unique_keys(qualified):
            lines.append(f"  UNIQUE KEY `{uname}` (" + ", ".join(f"`{c}`" for c in ucols) + ")")
        for iname, icols in self.cluster_indexes(qualified):
            lines.append(f"  KEY `{iname}` (" + ", ".join(f"`{c}`" for c in icols) + ")")
        body = ",\n".join(lines)
        return f"CREATE TABLE `{tname}` (\n{body}\n) ENGINE=parquet DEFAULT CHARSET=utf8mb4"


    # ------------------------------------------------------------ listing

    def databases(self) -> list[str]:
        """Every database, sorted."""
        return sorted(r[0] for r in self.spark.sql("SHOW DATABASES").collect())

    def tables(self, db: str, views: bool = False) -> list[str]:
        """The tables and views of ``db`` (with ``views``, only its
        views), sorted; temporary views are left out."""
        kind = "VIEWS" if views else "TABLES"
        rows = self.spark.sql(f"SHOW {kind} IN `{db}`").collect()
        return sorted(r[1] for r in rows if not r[2])

    # ------------------------------------------------------------ system tables

    @contextmanager
    def system_tables(self, sys_vars: dict[str, object]):
        """One statement's scope of system tables. Yields ``bind(sql)``,
        which returns ``sql`` with every system table it names replaced
        by a temp view of that table's rows as the catalog stands when
        it is first named (system_table; ``sys_vars`` are the reader's
        variables). A reference the text gives no alias is aliased by
        the table's own name, and a column qualified by the full table
        name is qualified by that alias. String literals are left
        alone. A system table in a write target's place is 1044. The
        views are dropped on exit; their random names cannot meet a
        user's table."""
        token = uuid.uuid4().hex
        bound = self.system_views = {}

        def bind(sql: str) -> str:
            low = sql.lower()
            if not any(schema in low for schema in ("information_schema", "mysql", "performance_schema")):
                return sql
            code = code_tokens(sql)

            def text(k: int) -> str:
                return sql[code[k][1] : code[k][2]] if 0 <= k < len(code) else ""

            def name(k: int) -> str:
                return unquote_ident(text(k)) if code[k][0] in ("word", "ident") else ""

            edits = []
            for k in range(len(code) - 2):
                if text(k + 1) != "." or text(k - 1) == ".":
                    continue
                schema, table = name(k), name(k + 2)
                qualified = f"{schema}.{table}"
                if qualified not in SYSTEM_TABLES:
                    continue
                if text(k - 1).upper() in _WRITE_TARGET or f"{text(k - 2)} {text(k - 1)}".upper() in _WRITE_TARGET:
                    raise access_denied(schema)
                span = (code[k][1], code[k + 2][2])
                if text(k + 3) == ".":  # a column qualified by the table's name
                    edits.append((*span, f"`{table}`"))
                    continue
                view = f"__ebike_sys_{token}_{schema}_{table}"
                if view not in bound:
                    self.system_table(qualified, sys_vars).createOrReplaceTempView(view)
                    bound[view] = qualified
                after = code[k + 3] if k + 3 < len(code) else ("", 0, 0)
                aliased = after[0] == "ident" or (after[0] == "word" and text(k + 3).upper() not in _NOT_ALIAS)
                edits.append((*span, view if aliased else f"{view} AS `{table}`"))
            return splice(sql, edits)

        try:
            yield bind
        finally:
            for view in bound:
                self.spark.catalog.dropTempView(view)
            self.system_views = {}

    def system_table(self, name: str, sys_vars: dict[str, object]) -> DataFrame:
        """System table ``name`` (``schema.table``, lower case) built
        from the catalog as it stands now, as a local relation. The
        reference stores these as rows of its metadata store
        (/root/reference/src/meta/initial.rs:682-1111,1113,1161,1401);
        here the catalog and the ``ebike.*`` properties are that store,
        so nothing is written."""
        table = name.partition(".")[2]
        if name == "mysql.users":
            rows = [("%", "root", "mysql_native_password", "Y")]
        elif name == "performance_schema.global_variables":
            rows = sorted((k, str(v)) for k, v in sys_vars.items())
        elif table == "schemata":
            rows = [("def", db, "utf8mb4", "utf8mb4_0900_ai_ci") for db in self.databases()]
        elif table in ("check_constraints", "referential_constraints"):
            # always empty: the reference consumes only PRIMARY/UNIQUE
            # (/root/reference/src/store/reader/reader_util.rs:331-376)
            rows = []
        else:
            rows = [row for db in self.databases() for row in self._schema_rows(table, db)]
        return _local_relation(self.spark, rows, SYSTEM_TABLES[name])

    def _schema_rows(self, table: str, db: str) -> list[tuple]:
        """information_schema ``table``'s rows for the tables and views
        of ``db``. A table dropped since the listing is skipped."""
        if table == "views":
            return [row for v in self.tables(db, views=True) for row in self._view_rows(db, v)]
        views = set(self.tables(db, views=True))
        if table == "tables":
            return [
                ("def", db, t, "VIEW", "") if t in views else ("def", db, t, "BASE TABLE", "parquet")
                for t in self.tables(db)
            ]
        rows = []
        for t in self.tables(db):
            if t not in views:
                try:
                    rows += self._key_rows(table, db, t)
                except AnalysisException:
                    continue
        return rows

    def _view_rows(self, db: str, view: str) -> list[tuple]:
        try:
            ddl = self.spark.sql(f"SHOW CREATE TABLE {bq(f'{db}.{view}')}").collect()[0][0]
        except AnalysisException:
            return []
        m = re.search(r"\bAS\s+(.*)\Z", ddl, re.S | re.I)
        return [("def", db, view, m.group(1).strip() if m else "", "NONE", "YES", "root@%")]

    def _key_rows(self, table: str, db: str, t: str) -> list[tuple]:
        """Rows of ``columns`` or of the declared PRIMARY/UNIQUE keys'
        ``table_constraints``, ``key_column_usage`` and ``statistics``
        (information_schema.rs:36-158) for base table ``db.t``."""
        q = f"{db}.{t}"
        props = self.properties(q)
        pk = self.primary_key(q, props)
        if table == "columns":
            nn = set(self.not_null_cols(q, props))
            return [
                ("def", db, t, c, pos, "NO" if c in nn else "YES",
                 SQL_TYPE_NAME.get(typ, typ), "PRI" if c in pk else "")
                for pos, (c, typ) in enumerate(self.column_types(q, props), start=1)
            ]
        keys = ([("PRIMARY", pk, "PRIMARY KEY")] if pk else []) + [
            (u, cols, "UNIQUE") for u, cols in self.unique_keys(q, props)
        ]
        if table == "table_constraints":
            return [("def", db, k, db, t, kind) for k, _, kind in keys]
        if table == "key_column_usage":
            return [
                ("def", db, k, "def", db, t, c, seq)
                for k, cols, _ in keys for seq, c in enumerate(cols, start=1)
            ]
        return [
            ("def", db, t, 0, db, k, seq, c)
            for k, cols, _ in keys for seq, c in enumerate(cols, start=1)
        ]


def _local_relation(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """``rows`` as an inline VALUES table typed by ``schema`` (``name
    type, …``): Catalyst folds it to a LocalRelation, so reading it
    runs no Spark job. No rows gives a typed empty relation."""
    cols = [c.split() for c in schema.split(", ")]
    select = ", ".join(f"CAST(_{i} AS {typ}) AS {name}" for i, (name, typ) in enumerate(cols))
    values = ", ".join(
        "(" + ", ".join(map(sql_literal, row)) + ")" for row in rows or [(None,) * len(cols)]
    )
    aliases = ", ".join(f"_{i}" for i in range(len(cols)))
    where = "" if rows else " WHERE false"
    return spark.sql(f"SELECT {select} FROM VALUES {values} AS v({aliases}){where}")
