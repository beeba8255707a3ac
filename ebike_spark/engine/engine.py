"""The Engine: ebike's logical surface over Spark.

One object = one client session (the reference's per-connection state:
current schema, variables, prepared-statement cache —
/root/reference/src/core/session_context.rs:7-12,
/root/reference/src/core/execution.rs:790-880). ``execute(sql)``
plays the role of COM_QUERY dispatch
(/root/reference/src/core/execution.rs:894-1279): statements the engine
owns (DDL/DML/SHOW/USE/SET) are implemented here; SELECT/EXPLAIN/CTE/
VALUES pass through to Spark SQL exactly as the reference hands them to
DataFusion. No wire protocol — that's transport, not semantics.
"""

from __future__ import annotations

import re

from pyspark.errors import AnalysisException, PySparkException
from pyspark.sql import DataFrame, SparkSession

from ebike_spark.engine import commit, dml, show
from ebike_spark.engine.catalog import Catalog
from ebike_spark.engine.errors import EbikeError, parse_error, table_not_exists, unknown_database, unmarked, unsupported
from ebike_spark.engine.parser import (
    lex,
    rewrite_dialect,
    split_statements,
    split_top_level,
    string_value,
    strip_comments,
    substitute_vars,
    unquote_ident,
)
from ebike_spark.engine.ddl_exec import DdlExecMixin
from ebike_spark.engine.dml_exec import DmlExecMixin
from ebike_spark.engine.prepared import PreparedMixin
from ebike_spark.engine.session_state import (
    DEFAULT_SYS_VARS,
    GLOBAL_VARS,
    READ_ONLY_SYS_VARS,
    EngineResult,
    _Prepared,
)

# statements that need no current database
_NO_DB = {
    ("SHOW", "DATABASES"), ("SHOW", "SCHEMAS"),
    ("CREATE", "DATABASE"), ("CREATE", "SCHEMA"),
    ("DROP", "DATABASE"), ("DROP", "SCHEMA"),
}


def _mysql_error(e: Exception, db: str) -> EbikeError | None:
    """The MySQL error for a failure Spark raised, or None to let it
    through. An analysis error maps by its error condition, never by
    its message. A runtime error carrying a plan-raised error's marker
    (errors.marked) is that error, keyed off the exception class: an
    analysis error's plan dump can contain the guard expressions and so
    the marker text."""
    cond = e.getCondition() if isinstance(e, PySparkException) else None
    if cond == "TABLE_OR_VIEW_NOT_FOUND":
        return table_not_exists(e.getMessageParameters()["relationName"].replace("`", ""))
    if cond == "SCHEMA_NOT_FOUND":
        schema = e.getMessageParameters()["schemaName"].replace("`", "")
        return unknown_database(schema.rpartition(".")[2])
    if cond == "UNRESOLVED_ROUTINE":
        name = e.getMessageParameters()["routineName"].replace("`", "")
        return EbikeError(1305, f"FUNCTION {name if '.' in name else f'{db}.{name}'} does not exist")
    if cond is not None and cond.startswith("UNRESOLVED_COLUMN."):
        name = e.getMessageParameters()["objectName"].replace("`", "")
        return EbikeError(1054, f"Unknown column '{name}' in 'field list'")
    if cond == "ORDER_BY_POS_OUT_OF_RANGE":
        return EbikeError(1054, f"Unknown column '{e.getMessageParameters()['index']}' in 'order clause'")
    if cond == "PARSE_SYNTAX_ERROR":
        return parse_error(f"near {e.getMessageParameters()['error']}")
    if isinstance(e, AnalysisException):
        return None
    return unmarked(str(e))


class Engine(DdlExecMixin, DmlExecMixin, PreparedMixin):
    def __init__(
        self,
        spark: SparkSession,
        default_db: str = "default",
        secure_file_priv: str | None = None,
    ):
        self.spark = spark
        self.catalog = Catalog(spark)
        self.current_db = default_db
        # new sessions see defaults overlaid with any SET GLOBAL values
        self.sys_vars = {**DEFAULT_SYS_VARS, **GLOBAL_VARS}
        self._secure_file_priv = secure_file_priv
        if secure_file_priv is not None:
            # construction-time only — the single place the LOAD DATA
            # fence can be set (SET rejects it with 1238 below)
            self.sys_vars["secure_file_priv"] = secure_file_priv
        self.user_vars: dict[str, object] = {}
        # SHOW PROCESSLIST rows, if something owns the connection view
        # (the wire server wires its registry in; None = bare engine)
        self.processlist_provider = None
        self.last_insert_id = 0
        self._stmts: dict[int, _Prepared] = {}
        self._next_stmt_id = 1
        # version directories no table points at (a failed retire, a
        # crash mid-commit) go before this connection's first statement
        commit.sweep(spark)

    def reset_session(self) -> None:
        """COM_RESET_CONNECTION surface (mysql_reset_connection):
        session state returns to the just-authenticated baseline
        WITHOUT re-auth — user variables and prepared statements drop,
        session system variables return to defaults overlaid with the
        current SET GLOBAL values, LAST_INSERT_ID() returns 0. The
        construction-time secure_file_priv fence SURVIVES (it is a
        server start option, not session state). The current database
        is preserved here (documented choice — this engine has no
        transactions, locks, or temp tables to roll back)."""
        self.sys_vars = {**DEFAULT_SYS_VARS, **GLOBAL_VARS}
        if self._secure_file_priv is not None:
            self.sys_vars["secure_file_priv"] = self._secure_file_priv
        self.user_vars = {}
        self.last_insert_id = 0
        self._stmts = {}

    # ------------------------------------------------------------ dispatch

    def execute(self, sql: str) -> EngineResult:
        # the statement runs as one commit.statement (an old table
        # version it may read outlives it) on a session that has
        # dropped its cached file listing of every table another
        # connection changed since this one's last statement; the
        # tables its texts read are bound until it ends
        with commit.statement(), self.catalog.bind_tables(self.sys_vars, self.current_db) as self._bind:
            commit.sync(self.spark)
            try:
                return self._execute(sql)
            except EbikeError:
                raise
            except Exception as e:
                mysql = _mysql_error(e, self.current_db)
                if mysql is None:
                    raise
                raise mysql from e

    def _execute(self, sql: str) -> EngineResult:
        sql = strip_comments(sql).strip().rstrip(";").strip()
        if not sql:
            return EngineResult("ok")
        head = sql.split(None, 2)
        kw = head[0].upper()
        kw2 = head[1].upper() if len(head) > 1 else ""

        if kw == "USE":
            return self._use(head[1])
        # every statement but USE runs in this connection's database,
        # whichever Engine last used the shared session
        try:
            self.spark.catalog.setCurrentDatabase(self.current_db)
        except AnalysisException as e:
            # another connection dropped it: as in MySQL, the statements
            # that read no database still run (1049 for the others)
            subquery = any(kind == "word" and sql[a:b].upper() == "SELECT" for kind, a, b in lex(sql))
            needs_db = (kw, kw2) not in _NO_DB and (kw != "SET" or subquery)
            if e.getCondition() != "SCHEMA_NOT_FOUND" or needs_db:
                raise
        if kw in ("SELECT", "WITH", "VALUES", "TABLE", "EXPLAIN"):
            return EngineResult("rows", df=self.spark.sql(self._translate(sql)))
        if kw == "SHOW":
            return self._show(sql)
        if kw in ("DESCRIBE", "DESC") and kw2 not in ("SELECT", "TABLE", "QUERY", "EXTENDED"):
            # MySQL `DESCRIBE t` ≡ SHOW COLUMNS FROM t
            return self._show(f"SHOW COLUMNS FROM {head[1]}")
        if kw == "SET":
            return self._set(sql)
        if kw == "CREATE" and kw2 in ("DATABASE", "SCHEMA"):
            return self._create_db(sql)
        if kw == "DROP" and kw2 in ("DATABASE", "SCHEMA"):
            return self._drop_db(sql)
        if kw == "CREATE" and kw2 == "TABLE":
            return self._create_table(sql)
        if kw == "CREATE" and kw2 == "MATERIALIZED":
            return self._create_matview(sql)
        if kw == "REFRESH" and kw2 == "MATERIALIZED":
            return self._refresh_matview(sql)
        if kw == "DROP" and kw2 == "MATERIALIZED":
            return self._drop_matview(sql)
        if kw == "CREATE" and kw2 in ("INDEX", "UNIQUE"):
            # CREATE INDEX = range clustering; CREATE UNIQUE INDEX =
            # retroactive UNIQUE constraint (_add_unique)
            return self._create_index(sql)
        if kw == "DROP" and kw2 == "INDEX":
            return self._drop_index(sql)
        if (kw, kw2) in (("CREATE", "VIEW"), ("CREATE", "OR")):
            return self._create_view(sql)
        if (kw, kw2) == ("DROP", "VIEW"):
            # views — beyond the reference (its dispatcher 1105s them,
            # execution.rs:894-1279); Spark-native passthrough
            self.spark.sql(sql)
            return EngineResult("count", affected=0)
        if kw == "DROP" and kw2 == "TABLE":
            return self._drop_table(sql)
        if kw == "ALTER" and kw2 == "TABLE":
            return self._alter_table(sql)
        if kw in ("INSERT", "REPLACE"):
            # REPLACE INTO: MySQL delete-then-insert upsert (the
            # reference 1105s it; handled by the insert path's flag)
            return self._insert(sql)
        if kw == "UPDATE":
            return self._update(sql)
        if kw == "DELETE":
            return self._delete(sql)
        if kw == "TRUNCATE":
            return self._truncate(sql)
        if (
            kw in ("CHECK", "ANALYZE", "OPTIMIZE")
            and kw2 == "TABLE"
            # MySQL maintenance shape only (bare table list); Spark's
            # own ANALYZE TABLE ... COMPUTE STATISTICS [FOR COLUMNS]
            # keeps its native passthrough below
            and not re.search(r"\b(COMPUTE|FOR|PARTITION|NOSCAN)\b", sql, re.I)
        ):
            return self._maintain_table(kw, sql)
        if kw == "LOAD" and kw2 == "DATA":
            # LOAD DATA [LOCAL] INFILE — bulk CSV load
            fence = self.sys_vars.get("secure_file_priv", "")
            return self._landed(*dml.load_data(self.spark, self.catalog, sql, self.current_db, fence))
        if kw == "RENAME" and kw2 == "TABLE":
            return self._rename_tables(sql)
        if kw == "COMMIT":
            # autocommit semantics: accepted no-op (execution.rs:1265-1267)
            return EngineResult("ok")
        if kw == "BEGIN" or (kw == "START" and kw2 == "TRANSACTION"):
            # autocommit world: transactions open as no-ops (COMMIT is the
            # accepted close; ROLLBACK still 1105s like the reference) —
            # the mysqldump --single-transaction preamble
            return EngineResult("ok")
        if kw in ("LOCK", "UNLOCK") and kw2 in ("TABLES", "TABLE"):
            # mysqldump wraps each table in LOCK/UNLOCK TABLES; parquet
            # snapshots need no locks — acknowledged no-op
            return EngineResult("ok")
        if kw in ("ANALYZE", "CACHE", "UNCACHE", "REFRESH"):
            # Spark-native admin statements (beyond the reference's
            # surface): ANALYZE TABLE feeds CBO statistics — the stats
            # the reference's scan never provides (SURVEY §4.1
            # 'Statistics::default()'); CACHE pins hot tables columnar.
            self.spark.sql(sql)
            return EngineResult("ok")
        # GRANT / ROLLBACK / CREATE INDEX / ... → MySQL 1105, like the
        # reference's dispatcher fallthrough.
        raise unsupported(sql.split(None, 1)[0])

    def execute_script(self, script: str) -> list[EngineResult]:
        """Execute a ;-separated statement script (client-session parity:
        the wire protocol delivers one statement per COM_QUERY, but every
        MySQL client tool batches scripts this way). Statements run in
        order; the first error aborts the rest."""
        return [self.execute(stmt) for stmt in split_statements(script)]

    # ------------------------------------------------------------ dialect

    def _translate(self, sql: str) -> str:
        """MySQL text → Spark SQL text, the engine's one dialect pass.
        Variables become literals; GROUP_CONCAT, the %-format datetime
        functions, FIELD, database(), LAST_INSERT_ID(), FROM dual,
        EXPLAIN VERBOSE/ANALYZE and LIMIT offset, count become their
        Spark forms; each table read is bound to the columns a query
        sees (Catalog.bind_tables). It runs once on each text that enters
        the engine. Text cut from its output is Spark text and never
        passes again: the %-format rewrite would re-read a java pattern
        as a MySQL format."""
        sql = substitute_vars(sql, self.sys_vars, self.user_vars, GLOBAL_VARS)
        try:
            sql = rewrite_dialect(sql, self.last_insert_id)
        except ValueError as e:
            raise parse_error(str(e)) from e
        return self._bind(sql)

    # ------------------------------------------------------------ session

    def _use(self, db: str) -> EngineResult:
        name = unquote_ident(db.rstrip(";"))
        if not self.catalog.database_exists(name):
            raise unknown_database(name)
        self.current_db = name
        return EngineResult("ok")

    def _set(self, sql: str) -> EngineResult:
        body = sql.split(None, 1)[1].strip()
        if re.match(r"NAMES\b", body, re.I):
            return EngineResult("ok")  # execution.rs:884-886: acknowledged
        if re.match(r"(?:GLOBAL\s+|SESSION\s+)?TRANSACTION\b", body, re.I):
            # SET [SESSION] TRANSACTION ISOLATION LEVEL ... — acknowledged
            # no-op (single-writer parquet engine; mysqldump preamble)
            return EngineResult("ok")
        for assign in split_top_level(body, ","):
            m = re.match(
                r"\s*(?:(@@?)(?:(GLOBAL|SESSION)\.)?|(GLOBAL|SESSION)\s+)?"
                r"([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.*)$",
                assign.strip(),
                re.I | re.S,
            )
            if not m:
                raise parse_error(f"near SET: {assign!r}")
            sigil = m.group(1) or ""
            scope = (m.group(2) or m.group(3) or "").lower()
            name, raw = m.group(4).lower(), m.group(5).strip()
            if (sigil != "@" or scope) and name in READ_ONLY_SYS_VARS:
                # MySQL ER_INCORRECT_GLOBAL_LOCAL_VAR-adjacent 1238:
                # the fence must not be liftable at runtime (GLOBAL
                # scope included — it would seed every NEW session)
                raise EbikeError(
                    1238, f"Variable '{name}' is a read only variable"
                )
            value = self._eval_scalar(raw)
            if sigil == "@" and not scope:
                self.user_vars[name] = value
            elif scope == "global":
                # MySQL: SET GLOBAL affects NEW sessions (and @@GLOBAL.x
                # reads), not this session's @@x
                GLOBAL_VARS[name] = value
            else:  # SESSION / bare @@var / bare var
                self.sys_vars[name] = value
        return EngineResult("ok")

    def _eval_scalar(self, raw: str):
        raw = raw.strip()
        if re.match(r"^-?\d+$", raw):
            return int(raw)
        if re.match(r"^-?\d*\.\d+$", raw):
            return float(raw)
        text = string_value(raw)
        if text is not None:
            return text
        if raw.upper() in ("ON", "OFF", "TRUE", "FALSE"):
            return raw.upper()
        # expression (e.g. SET @x = 1 + 2): evaluate via Spark
        return self.spark.sql(f"SELECT ({self._translate(raw)}) AS v").first()["v"]

    # ------------------------------------------------------------ SHOW

    def _show(self, sql: str) -> EngineResult:
        body = sql.split(None, 1)[1].strip()
        up = body.upper()
        spark = self.spark

        def rows(df: DataFrame) -> EngineResult:
            return EngineResult("rows", df=df)

        if up.startswith("DATABASES") or up.startswith("SCHEMAS"):
            return rows(show.show_databases(spark, self.catalog))
        m = re.match(r"(?:FULL\s+)?TABLES(?:\s+(?:FROM|IN)\s+([\w`\"]+))?\s*$", body, re.I)
        if m:
            db = unquote_ident(m.group(1)) if m.group(1) else self.current_db
            return rows(show.show_tables(spark, self.catalog, db))
        m = re.match(r"(?:FULL\s+)?(?:COLUMNS|FIELDS)\s+(?:FROM|IN)\s+([\w.`\"]+)(?:\s+(?:FROM|IN)\s+([\w`\"]+))?\s*$", body, re.I)
        if m:
            t = unquote_ident(m.group(1))
            if m.group(2):
                t = f"{unquote_ident(m.group(2))}.{t}"
            return rows(show.show_columns(spark, self.catalog, self.catalog.qualify(t, self.current_db)))
        m = re.match(r"CREATE\s+TABLE\s+([\w.`\"]+)\s*$", body, re.I)
        if m:
            q = self.catalog.qualify(unquote_ident(m.group(1)), self.current_db)
            return rows(show.show_create_table(spark, self.catalog, q))
        m = re.match(r"CREATE\s+(?:DATABASE|SCHEMA)\s+([\w`\"]+)\s*$", body, re.I)
        if m:
            db = unquote_ident(m.group(1))
            if not self.catalog.database_exists(db):
                raise unknown_database(db)
            ddl = (
                f"CREATE DATABASE `{db}` /*!40100 DEFAULT CHARACTER SET "
                "utf8mb4 COLLATE utf8mb4_0900_ai_ci */"
            )
            return rows(
                spark.createDataFrame(
                    [(db, ddl)], "`Database` string, `Create Database` string"
                )
            )
        m = re.match(r"(?:INDEX|INDEXES|KEYS)\s+(?:FROM|IN)\s+([\w.`\"]+)\s*$", body, re.I)
        if m:
            q = self.catalog.qualify(unquote_ident(m.group(1)), self.current_db)
            return rows(show.show_index(spark, self.catalog, q))
        m = re.match(r"(?:(GLOBAL)\s+|SESSION\s+)?VARIABLES(?:\s+LIKE\s+([\s\S]+))?$", body, re.I)
        if m:
            like = string_value(m.group(2)) if m.group(2) else None
            if m.group(2) and like is None:
                raise parse_error("near SHOW VARIABLES LIKE")
            # GLOBAL scope = defaults overlaid with SET GLOBAL values;
            # SESSION (default) = this session's variables
            scope = {**DEFAULT_SYS_VARS, **GLOBAL_VARS} if m.group(1) else self.sys_vars
            return rows(show.show_variables(spark, scope, like))
        m = re.match(r"COUNT\(\*\)\s+(WARNINGS|ERRORS)", up)
        if m:
            # single-row single-int-column shape (clients read row[0][0])
            kind = "warning" if m.group(1) == "WARNINGS" else "error"
            return rows(show.show_warning_count(spark, kind))
        if up.startswith("WARNINGS") or up.startswith("ERRORS"):
            return rows(show.show_warnings(spark))
        if up.startswith("ENGINES"):
            return rows(show.show_engines(spark))
        if up.startswith("CHARACTER SET") or up.startswith("CHARSET"):
            return rows(show.show_charset(spark))
        if up.startswith("COLLATION"):
            return rows(show.show_collation(spark))
        m = re.match(r"TABLE\s+STATUS(?:\s+(?:FROM|IN)\s+([\w`\"]+))?\s*$", body, re.I)
        if m:
            db = unquote_ident(m.group(1)) if m.group(1) else self.current_db
            return rows(show.show_table_status(spark, self.catalog, db))
        if up.startswith("PROCESSLIST") or up.startswith("FULL PROCESSLIST"):
            return rows(
                show.show_processlist(
                    spark, self.current_db, self.processlist_provider
                )
            )
        if up.startswith("GRANTS"):
            return rows(show.show_grants(spark))
        if up.startswith("PRIVILEGES"):
            return rows(show.show_privileges(spark))
        raise unsupported(f"SHOW {body}")

    # ------------------------------------------------------------ DDL

    def register_function(self, name: str, fn, return_type: str = "string") -> None:
        """Register a scalar Python UDF callable from this session's SQL
        (the reference registers exactly one UDF this way — database(),
        /root/reference/src/core/execution.rs:133-155; this exposes the
        same create_udf-style surface to users). Row-at-a-time Python:
        fine for scalar helpers, never for the hot path — use
        mapInPandas/pandas_udf there (see operators/multimodal.py)."""
        self.spark.udf.register(name, fn, return_type)

    # ------------------------------------------------------------ prepared

