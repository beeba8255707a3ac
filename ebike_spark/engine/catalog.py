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
surface (SHOW/DESCRIBE/information_schema/column_types) hides and the
SELECT path drops from results unless the query text mentions it —
column pruning then means the hidden column is never even read. Last
rather than first so VALUES inserts stay positional.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

from ebike_spark.engine import commit
from ebike_spark.engine.errors import EbikeError, table_not_exists, unknown_database
from ebike_spark.engine.parser import CreateTable

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


def bq(qualified: str) -> str:
    """Backtick-quote a db.table name for SQL text (table names like
    ``user`` collide with Spark built-in functions otherwise)."""
    db, _, t = qualified.rpartition(".")
    return f"`{db}`.`{t}`" if db else f"`{t}`"


class Catalog:
    def __init__(self, spark: SparkSession):
        self.spark = spark

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

    def refresh_system_schemas(self, sys_vars: dict[str, object] | None = None) -> None:
        """Materialize the reference's other system schemas
        (/root/reference/src/meta/initial.rs:1113,1161,1401):
        mysql.users and performance_schema.global_variables."""
        spark = self.spark
        spark.sql("CREATE DATABASE IF NOT EXISTS mysql")
        spark.sql("CREATE DATABASE IF NOT EXISTS performance_schema")
        for t in ("mysql.users", "performance_schema.global_variables"):
            self._ensure_fresh_location(t)
        spark.createDataFrame(
            [("%", "root", "mysql_native_password", "Y")],
            "host string, user string, plugin string, super_priv string",
        ).write.mode("overwrite").saveAsTable("mysql.users")
        gv = sorted((k, str(v)) for k, v in (sys_vars or {}).items()) or [("", "")]
        spark.createDataFrame(
            gv, "variable_name string, variable_value string"
        ).write.mode("overwrite").saveAsTable("performance_schema.global_variables")

    INFO_SCHEMA_TABLES = (
        "schemata", "tables", "columns", "table_constraints",
        "key_column_usage", "statistics", "views",
        "check_constraints", "referential_constraints",
    )

    def refresh_information_schema(self, only: set[str] | None = None) -> None:
        """Materialize information_schema.* as real tables (the
        reference persists these as sled rows,
        /root/reference/src/meta/initial.rs:682-1111; here they're tiny
        overwrite-on-demand parquet tables rebuilt lazily after DDL).

        ``only`` limits the rebuild to the named tables (the engine
        passes the set a SELECT actually references) — each overwrite
        is a Spark write job plus a metastore round-trip, so rebuilding
        all nine for a query that reads one was the dominant cost of
        the engine test family. Unknown names are ignored; None means
        everything."""
        spark = self.spark
        want = set(self.INFO_SCHEMA_TABLES) if only is None else (
            set(only) & set(self.INFO_SCHEMA_TABLES)
        )
        if not want:
            return
        spark.sql("CREATE DATABASE IF NOT EXISTS information_schema")
        key_tables = {"columns", "table_constraints", "key_column_usage", "statistics"}
        walk_tables = key_tables | {"tables", "views"}
        dbs = [d.name for d in spark.catalog.listDatabases()]
        schemata = [(  # information_schema.rs:11-35 column shape
            "def", d, "utf8mb4", "utf8mb4_0900_ai_ci") for d in dbs]
        tables_rows = []
        columns_rows = []
        constraint_rows = []
        kcu_rows = []
        stat_rows = []
        views_rows = []
        for db in dbs if want & walk_tables else []:
            if db == "information_schema":
                continue
            for t in spark.catalog.listTables(db):
                if t.tableType == "TEMPORARY":
                    continue
                qualified = f"{db}.{t.name}"
                ttype = "VIEW" if t.tableType == "VIEW" else "BASE TABLE"
                tables_rows.append(("def", db, t.name, ttype, "parquet" if ttype == "BASE TABLE" else ""))
                if ttype == "VIEW":
                    # views carry their definition (MySQL
                    # information_schema.views shape) but no stored
                    # columns/constraints here; SHOW CREATE is a
                    # metastore round-trip per view, so only when asked
                    if "views" not in want:
                        continue
                    try:
                        ddl = spark.sql(f"SHOW CREATE TABLE {bq(qualified)}").collect()[0][0]
                        m = re.search(r"\bAS\s+(.*)\Z", ddl, re.S | re.I)
                        definition = (m.group(1).strip() if m else "")
                    except Exception:
                        definition = ""
                    views_rows.append(("def", db, t.name, definition, "NONE", "YES", "root@%"))
                    continue
                if not (want & key_tables):
                    continue
                try:
                    nn = set(self.not_null_cols(qualified))
                    pk = self.primary_key(qualified)
                    uniques = self.unique_keys(qualified)
                except Exception:
                    nn, pk, uniques = set(), [], []
                if "columns" in want:
                    for pos, (cname, ctyp) in enumerate(self.column_types(qualified), start=1):
                        columns_rows.append(
                            (
                                "def", db, t.name, cname, pos,
                                "NO" if cname in nn else "YES",
                                SQL_TYPE_NAME.get(ctyp, ctyp),
                                "PRI" if cname in pk else "",
                            )
                        )
                # table_constraints / key_column_usage / statistics —
                # the reference persists these per declared PRIMARY/
                # UNIQUE key (information_schema.rs:36-158)
                all_keys = ([("PRIMARY", pk, "PRIMARY KEY")] if pk else []) + [
                    (uname, ucols, "UNIQUE") for uname, ucols in uniques
                ]
                for kname, kcols, ktype in all_keys:
                    constraint_rows.append(("def", db, kname, db, t.name, ktype))
                    for seq, c in enumerate(kcols, start=1):
                        kcu_rows.append(("def", db, kname, "def", db, t.name, c, seq))
                        stat_rows.append(("def", db, t.name, 0, db, kname, seq, c))
        payloads = {
            "views": (
                views_rows or [("def", "", "", "", "", "", "")],
                "table_catalog string, table_schema string, table_name string, "
                "view_definition string, check_option string, is_updatable string, definer string",
            ),
            "schemata": (
                schemata,
                "catalog_name string, schema_name string, default_character_set_name string, default_collation_name string",
            ),
            "tables": (
                tables_rows or [("def", "", "", "", "")],
                "table_catalog string, table_schema string, table_name string, table_type string, engine string",
            ),
            "columns": (
                columns_rows or [("def", "", "", "", 0, "", "", "")],
                "table_catalog string, table_schema string, table_name string, column_name string, "
                "ordinal_position long, is_nullable string, data_type string, column_key string",
            ),
            "table_constraints": (
                constraint_rows or [("def", "", "", "", "", "")],
                "constraint_catalog string, constraint_schema string, constraint_name string, "
                "table_schema string, table_name string, constraint_type string",
            ),
            "key_column_usage": (
                kcu_rows or [("def", "", "", "def", "", "", "", 0)],
                "constraint_catalog string, constraint_schema string, constraint_name string, "
                "table_catalog string, table_schema string, table_name string, "
                "column_name string, ordinal_position long",
            ),
            "statistics": (
                stat_rows or [("def", "", "", 0, "", "", 0, "")],
                "table_catalog string, table_schema string, table_name string, non_unique long, "
                "index_schema string, index_name string, seq_in_index long, column_name string",
            ),
            # check_constraints / referential_constraints exist but are
            # always empty — the reference consumes only PRIMARY/UNIQUE
            # (/root/reference/src/store/reader/reader_util.rs:331-376)
            "check_constraints": (
                [],
                "constraint_catalog string, constraint_schema string, constraint_name string, check_clause string",
            ),
            "referential_constraints": (
                [],
                "constraint_catalog string, constraint_schema string, constraint_name string, unique_constraint_name string, table_name string, referenced_table_name string",
            ),
        }
        for t in self.INFO_SCHEMA_TABLES:
            if t not in want:
                continue
            rows_t, schema_t = payloads[t]
            self._ensure_fresh_location(f"information_schema.{t}")
            spark.createDataFrame(rows_t, schema_t).write.mode("overwrite").saveAsTable(
                f"information_schema.{t}"
            )
