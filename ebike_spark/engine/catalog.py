"""Catalog layer: managed parquet tables with the reference's type
surface and constraint metadata.

Reference model (SURVEY §1): three-level ``def.schema.table`` namespace
with table metadata persisted as rows of information_schema tables and
re-read into a cache. Spark already owns a catalog (databases, tables,
schemas), so the only custom state is what Spark can't represent, kept
in each table's catalog entry as TBLPROPERTIES (the catalog-native
key-value channel) instead of a side metadata store:

- ``ebike.primary_key``: the PRIMARY KEY columns, comma-joined;
- ``ebike.unique.<name>``: one per UNIQUE key, its columns;
- ``ebike.cluster.<name>``: one per KEY (a range-clustering index);
- ``ebike.not_null``: the NOT NULL columns;
- ``ebike.auto_increment``: the AUTO_INCREMENT column;
- ``ebike.rowid``: ``1`` when the table carries the hidden rowid;
- ``ebike.matview.sql``: a materialized view's SELECT, base64.

A list with no column is no property at all. :class:`Table` is the one
owner of this format: ``Table.decode`` reads a Spark ``CatalogTable``
(``Catalog.table`` fetches it with one external-catalog call, no SQL
command) and ``Table.properties`` writes it back. Every statement reads
the one Table it needs; nothing is cached, so nothing goes stale.

Type whitelist mirrors /root/reference/src/meta/meta_util.rs:548-562:
INT → bigint, FLOAT → double, CHAR → string; everything else rejected.

Hidden rowid: the reference prepends a UUID ``rowid`` to every table
(/root/reference/src/meta/meta_def.rs:385-398) and surfaces it only
when explicitly projected (/root/reference/src/core/core_util.rs:451-461).
Here it is a real column (STRING, uuid() materialized at INSERT,
marked by ``ebike.rowid``) that every metadata surface
(SHOW/DESCRIBE/information_schema, ``Table.columns``) hides. A query
text that does not name it reads each such table through
``Catalog.bind_tables`` as ``(SELECT * EXCEPT (rowid) FROM db.t) AS
t``, before Spark analyses it, so no star of the statement (joins, set
operations, ordinals, a view's stored text) sees the column, and
column pruning means it is never even read. It is created LAST so
VALUES inserts stay positional.
"""

from __future__ import annotations

import base64
import json
import re
import uuid
from contextlib import contextmanager
from typing import NamedTuple

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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
PROP_MATVIEW = "ebike.matview.sql"
ROWID = "rowid"

Cols = tuple[str, ...]


def _cols(value: str) -> Cols:
    return tuple(c for c in value.split(",") if c)


class Table(NamedTuple):
    """One table's declared metadata, as its catalog entry holds it.
    ``schema`` is every stored column (name, Spark type) in physical
    order, the hidden rowid included; ``uniques`` and ``indexes`` (the
    KEY clustering indexes) are (name, columns) pairs, decoded in name
    order; ``matview`` is a materialized view's SELECT. Immutable: DDL
    derives the next Table with ``_replace`` and lands
    ``properties()``."""

    name: str
    schema: tuple[tuple[str, str], ...]
    primary_key: Cols = ()
    uniques: tuple[tuple[str, Cols], ...] = ()
    indexes: tuple[tuple[str, Cols], ...] = ()
    not_null: Cols = ()
    auto_increment: str | None = None
    has_rowid: bool = False
    matview: str | None = None

    @classmethod
    def decode(cls, entry) -> "Table":
        """The Table a Spark ``CatalogTable`` (a py4j object) describes."""
        props = commit.entry_properties(entry)

        def named(prefix: str) -> tuple[tuple[str, Cols], ...]:
            return tuple(sorted((k[len(prefix):], _cols(v)) for k, v in props.items() if k.startswith(prefix)))

        matview = props.get(PROP_MATVIEW)
        return cls(
            name=f"{entry.database()}.{entry.identifier().table()}",
            schema=tuple(
                (f.name, f.dataType.simpleString())
                for f in StructType.fromJson(json.loads(entry.schema().json())).fields
            ),
            primary_key=_cols(props.get(PROP_PK, "")),
            uniques=named(PROP_UNIQUE_PREFIX),
            indexes=named(PROP_CLUSTER_PREFIX),
            not_null=_cols(props.get(PROP_NOT_NULL, "")),
            auto_increment=props.get(PROP_AUTO_INCREMENT) or None,
            has_rowid=props.get(PROP_ROWID) == "1",
            matview=None if matview is None else base64.b64decode(matview).decode(),
        )

    def properties(self) -> dict[str, str]:
        """The ``ebike.*`` properties that encode this Table; a list
        with no column is no property."""
        props = {
            PROP_PK: ",".join(self.primary_key),
            PROP_NOT_NULL: ",".join(self.not_null),
            PROP_AUTO_INCREMENT: self.auto_increment or "",
            PROP_ROWID: "1" if self.has_rowid else "",
            PROP_MATVIEW: base64.b64encode(self.matview.encode()).decode() if self.matview else "",
        }
        props.update((PROP_UNIQUE_PREFIX + n, ",".join(c)) for n, c in self.uniques)
        props.update((PROP_CLUSTER_PREFIX + n, ",".join(c)) for n, c in self.indexes)
        return {k: v for k, v in props.items() if v}

    @property
    def columns(self) -> list[tuple[str, str]]:
        """[(name, Spark type)] of the USER-VISIBLE columns, in table
        order: the hidden rowid never appears in metadata surfaces or
        positional DML."""
        return [(n, t) for n, t in self.schema if not (self.has_rowid and n == ROWID)]

    @property
    def keys(self) -> list[tuple[str, list[str]]]:
        """The PRIMARY + UNIQUE keys in check order: the one list every
        duplicate probe shares."""
        pk = [("PRIMARY", list(self.primary_key))] if self.primary_key else []
        return pk + [(n, list(c)) for n, c in self.uniques]

    def column_key(self, col: str) -> str:
        """MySQL's COLUMN_KEY of ``col``: PRI, UNI for a column of a
        UNIQUE key, MUL for the first column of a KEY, else ''."""
        if col in self.primary_key:
            return "PRI"
        if any(col in c for _, c in self.uniques):
            return "UNI"
        return "MUL" if any(c[0] == col for _, c in self.indexes) else ""

    def index_rows(self) -> list[tuple[str, int, int, str, str]]:
        """(key name, non_unique, seq_in_index, column, index type) for
        each column of each key and index, in SHOW INDEX order: the
        PRIMARY and UNIQUE keys, then the KEY clustering indexes."""
        return [
            (name, non_unique, seq, c, kind)
            for keys, non_unique, kind in ((self.keys, 0, "BTREE"), (self.indexes, 1, "CLUSTERED"))
            for name, cols in keys
            for seq, c in enumerate(cols, start=1)
        ]


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

# a text that has none of these words binds nothing
_BINDS = re.compile(r"\b(?:FROM|TABLE|information_schema|mysql|performance_schema)\b", re.I)
# words after which each item of a list is a table reference
_LIST_START = frozenset(("FROM", "JOIN", "USING", ","))
# clause words that end a table list at their parenthesis level (VIEW:
# a LATERAL VIEW follows the FROM clause's last table)
_LIST_END = frozenset("WHERE GROUP HAVING ORDER LIMIT OFFSET WINDOW UNION EXCEPT INTERSECT MINUS SORT CLUSTER "
                      "DISTRIBUTE SET UPDATE VIEW".split())
# words that may follow a table reference without being its alias: the
# clause words and the words that join or extend a relation
_NOT_ALIAS = _LIST_END | frozenset("JOIN INNER LEFT RIGHT FULL CROSS NATURAL LATERAL ANTI SEMI ON USING "
                                   "TABLESAMPLE PIVOT UNPIVOT".split())


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
        in this statement (bind_tables) is one, but only for reading:
        1044."""
        self._deny_system(qualified)
        if not self.table_exists(qualified):
            raise table_not_exists(qualified)

    def _deny_system(self, qualified: str) -> None:
        name = self.system_views.get(qualified.rpartition(".")[2])
        if name:
            raise access_denied(name.partition(".")[0])

    def table(self, qualified: str) -> Table:
        """The Table ``qualified`` names, decoded from its catalog entry:
        one external-catalog read, no SQL command. 1146 unless it names
        a table or view, 1044 for a system table (require_table)."""
        self._deny_system(qualified)
        try:
            return Table.decode(commit.entry(self.spark, qualified))
        except AnalysisException:
            raise table_not_exists(qualified) from None

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
        not_null = [c.name for c in ct.columns if not c.nullable]
        not_null += [c for c in ct.primary_key if c not in not_null]
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
        known = {c.name for c in ct.columns}
        for c in [*ct.primary_key, *(c for _, cols in (*ct.uniques, *ct.indexes) for c in cols)]:
            if c not in known:
                raise EbikeError(1072, f"Key column '{c}' doesn't exist in table")
        # inline KEY items: recorded as clustering indexes (the table is
        # empty, so there is nothing to physically re-cluster yet; the
        # DML paths maintain advertised clusterings on write)
        seen_keys = {u for u, _ in ct.uniques}
        for iname, _ in ct.indexes:
            if iname in seen_keys:
                raise EbikeError(1061, f"Duplicate key name '{iname}'")
            seen_keys.add(iname)
        schema = [(c.name, resolve_sql_type(c.sql_type, c.precision, c.scale)) for c in ct.columns]
        # hidden rowid, unless the user claimed the name for themselves
        has_rowid = ROWID not in known
        if has_rowid:
            schema.append((ROWID, "STRING"))
        table = Table(
            qualified,
            tuple(schema),
            primary_key=tuple(ct.primary_key),
            uniques=tuple((u, tuple(cols)) for u, cols in ct.uniques),
            indexes=tuple((i, tuple(cols)) for i, cols in ct.indexes),
            not_null=tuple(not_null),
            auto_increment=ai_cols[0] if ai_cols else None,
            has_rowid=has_rowid,
        )
        self._create(table, ct.if_not_exists)

    def _create(self, table: Table, if_not_exists: bool = False) -> None:
        """CREATE TABLE ``table``: its columns, with its properties."""
        cols = ", ".join(f"`{n}` {t}" for n, t in table.schema)
        props = ", ".join(f"{sql_literal(k)} = {sql_literal(v)}" for k, v in table.properties().items())
        ine = "IF NOT EXISTS " if if_not_exists else ""
        self._ensure_fresh_location(table.name)
        self.spark.sql(
            f"CREATE TABLE {ine}{bq(table.name)} ({cols}) USING parquet"
            + (f" TBLPROPERTIES ({props})" if props else "")
        )
        commit.bump(self.spark, table.name)

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
        (including the hidden rowid slot) and the keys, NOT NULL and
        AUTO_INCREMENT copy; data does not. The AUTO_INCREMENT counter
        starts fresh (MySQL resets it too). A materialized view is not
        a base table (MySQL 1347 for LIKE on a view) — and copying its
        SELECT would make the clone REFRESH-able into the source's
        query result."""
        src = self.table(src_qualified)
        if src.matview is not None:
            raise EbikeError(1347, f"'{src_qualified}' is not BASE TABLE")
        self._create(src._replace(name=dst_qualified))

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
    def bind_tables(self, sys_vars: dict[str, object], current_db: str):
        """One statement's binding of the tables its texts read. Yields
        ``bind(sql)``, which returns ``sql`` with each table read there
        (a FROM, JOIN or comma-list item at any depth, or ``TABLE t``)
        replaced by the relation a query sees:

        - a system table by a temp view of its rows as the catalog
          stands when it is first named (system_table; ``sys_vars`` are
          the reader's variables);
        - a table with the hidden rowid by ``(SELECT * EXCEPT (rowid)
          FROM db.t)``, unless the text names ``rowid`` (the reference's
          projection-time rule, core_util.rs:451-461), so no star of the
          statement sees the column.

        A bound reference the text gives no alias is aliased by its own
        name, or by its name as written when the text reads another
        name with the same last part, and a column qualified by the full
        table name is requalified by that alias. String literals are
        left alone. Left as written: write targets (a system table there
        is 1044), the table list of a multi-table UPDATE or DELETE,
        whose rowids identify the rows it writes (its system tables are
        bound), CTE names, temp views, file sources, table functions,
        derived tables, and any name that is no catalog table, for Spark
        to resolve. Each table is read once per text (``table``). The
        views are dropped on exit; their random names cannot meet a
        user's table."""
        token = uuid.uuid4().hex
        views = self.system_views = {}

        def bind(sql: str) -> str:
            if not _BINDS.search(sql):
                return sql
            code = code_tokens(sql)
            # each token's text, upper-cased text and name (a word or
            # quoted identifier); the padding answers a look past
            # either end, index -1 included
            texts = [sql[a:b] for _, a, b in code] + [""] * 4
            ups = [t.upper() for t in texts]
            names = [unquote_ident(t) if k in ("word", "ident") else "" for (k, _, _), t in zip(code, texts)] + [""] * 4
            # the role of each reference, by its first token's index; per
            # parenthesis level: [has a SELECT, its list items' role, its
            # "(", in a WITH clause's list]
            opener, ctes = {}, set()
            levels = [[False, "list" if ups[0] in ("UPDATE", "DELETE") else None, -1, False]]
            roles = {1 + (ups[1] == "FROM"): "target"} if levels[0][1] else {}
            for k in range(len(code)):
                w, level = ups[k], levels[-1]
                if w == "(":
                    levels.append([False, None, k, False])
                elif w == ")" and len(levels) > 1:
                    opener[k] = levels.pop()[2]
                elif w == "SELECT":
                    level[:] = [True, None, level[2], False]
                elif w == "WITH":
                    level[3] = True
                elif w == "FROM" and ups[k - 1] != "DISTINCT" and (level[0] or level[1]):
                    level[1] = level[1] or "read"
                    roles.setdefault(k + 1, level[1])
                elif w in _LIST_START and level[1]:
                    roles.setdefault(k + 1, level[1])
                elif w in _LIST_END and k:
                    level[1] = None
                elif w in ("INTO", "OVERWRITE"):
                    roles[k + 1 + (ups[k + 1] == "TABLE")] = "target"
                elif w == "TABLE":
                    roles.setdefault(k + 1, "table")
                elif w == "AS" and ups[k + 1] == "(" and level[3]:  # name [(columns)] AS ( names a CTE
                    j = opener.get(k - 1, k) - 1
                    if ups[j - 1] in ("WITH", "RECURSIVE", ","):
                        ctes.add(names[j])
            # each reference as (first token, last token, role, name
            # parts), and the names the text reads under each last name
            # part: a bound reference is aliased by its last part only
            # when the text reads one name ending in it
            refs, tables_read = [], {}
            for j, role in sorted(roles.items()):
                end = j
                while texts[end + 1] == "." and names[end + 2]:
                    end += 2
                parts = names[j : end + 1 : 2]
                if parts[0] and len(parts) <= 2 and (role == "target" or texts[end + 1] != "("):
                    refs.append((j, end, role, parts))
                    if role in ("read", "table"):
                        tables_read.setdefault(parts[-1].lower(), set()).add(".".join(parts).lower())
            hide = ROWID not in names
            hides, edits, requalify = {}, [], {}
            for j, end, role, parts in refs:
                dotted = ".".join(parts)
                if dotted in SYSTEM_TABLES:
                    if role == "target":
                        raise access_denied(parts[0])
                    relation = f"__ebike_sys_{token}_{parts[0]}_{parts[1]}"
                    if relation not in views:
                        self.system_table(dotted, sys_vars).createOrReplaceTempView(relation)
                        views[relation] = dotted
                elif role in ("read", "table") and hide and (len(parts) == 2 or dotted not in ctes):
                    q = self.qualify(dotted, current_db).lower()
                    if q not in hides:
                        temp = len(parts) == 1 and self.spark._jsparkSession.sessionState().catalog().getTempView(dotted).isDefined()
                        try:
                            hides[q] = not temp and self.table(q).has_rowid
                        except EbikeError:
                            hides[q] = False
                    if not hides[q]:
                        continue
                    relation = f"(SELECT * EXCEPT (`{ROWID}`) FROM {bq(q)})"
                else:
                    continue
                if names[end + 1] == "" or ups[end + 1] in _NOT_ALIAS:
                    alias = parts[-1] if len(tables_read.get(parts[-1].lower(), ())) <= 1 else dotted
                    relation += f" AS `{alias}`"
                    if len(parts) == 2:
                        requalify[dotted.lower()] = f"`{alias}`"
                table = role == "table"  # TABLE t becomes SELECT * FROM <relation>
                edits.append((code[j - table][1], code[end][2], ("SELECT * FROM " if table else "") + relation))
            for k in range(len(code)):  # a column qualified by a bound table's full name: by its alias
                dotted = f"{names[k]}.{names[k + 2]}".lower()
                if texts[k + 1] == texts[k + 3] == "." != texts[k - 1] and dotted in requalify:
                    edits.append((code[k][1], code[k + 2][2], requalify[dotted]))
            return splice(sql, sorted(edits))

        try:
            yield bind
        finally:
            for view in views:
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
                except EbikeError:
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
        """Rows of ``columns`` or of the declared keys'
        ``table_constraints``, ``key_column_usage`` and ``statistics``
        (information_schema.rs:36-158) for base table ``db.t``, from its
        one Table: ``statistics`` lists the KEY clustering indexes too,
        as SHOW INDEX does."""
        tbl = self.table(f"{db}.{t}")
        if table == "columns":
            return [
                ("def", db, t, c, pos, "NO" if c in tbl.not_null else "YES",
                 SQL_TYPE_NAME.get(typ, typ), tbl.column_key(c))
                for pos, (c, typ) in enumerate(tbl.columns, start=1)
            ]
        if table == "statistics":
            return [("def", db, t, non_unique, db, k, seq, c) for k, non_unique, seq, c, _ in tbl.index_rows()]
        keys = [(k, cols, "PRIMARY KEY" if k == "PRIMARY" else "UNIQUE") for k, cols in tbl.keys]
        if table == "table_constraints":
            return [("def", db, k, db, t, kind) for k, _, kind in keys]
        return [
            ("def", db, k, "def", db, t, c, seq)
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
