"""Prepared-statement surface — the Engine side of the binary
protocol (prepare / execute_prepared / placeholder splice / prepare-
time result metadata)."""

from __future__ import annotations

from ebike_spark.engine.errors import EbikeError
from ebike_spark.engine.parser import find_top_level_keywords, lex, splice, sql_literal, strip_comments
from ebike_spark.engine.session_state import EngineResult, _Prepared


class PreparedMixin:
    def prepare(self, sql: str) -> int:
        """COM_STMT_PREPARE analogue (execution.rs:866-880): parse-count
        '?' placeholders outside quotes, cache, return handle."""
        clean = strip_comments(sql)
        n = sum(kind == "param" for kind, _, _ in lex(clean))
        sid = self._next_stmt_id
        self._next_stmt_id += 1
        self._stmts[sid] = _Prepared(sql=clean, n_params=n)
        return sid

    def execute_prepared(self, stmt_id: int, params: list[object] | None = None) -> EngineResult:
        """COM_STMT_EXECUTE analogue: splice literal params into the
        cached text (the reference splices decoded binary params into the
        cached AST, core_util.rs:32-107) and run the normal dispatch."""
        st = self._stmts.get(stmt_id)
        if st is None:
            raise EbikeError(1243, f"Unknown prepared statement handler ({stmt_id})")
        params = params or []
        if len(params) != st.n_params:
            raise EbikeError(1210, "Incorrect arguments to EXECUTE")
        return self.execute(self._splice_placeholders(st.sql, params))

    @staticmethod
    def _splice_placeholders(sql: str, params: list[object]) -> str:
        """Replace each '?' outside quotes with the next param as a SQL
        literal (the reference splices decoded binary params into the
        cached AST, core_util.rs:32-107)."""
        it = iter(params)
        return splice(sql, [(a, b, sql_literal(next(it))) for kind, a, b in lex(sql) if kind == "param"])

    def prepared_result_schema(self, stmt_id: int) -> list[tuple[str, str]] | None:
        """Result-set column metadata at PREPARE time. The wire server's
        COM_STMT_PREPARE response advertises num_columns + column defs
        (the reference returns real metadata, handle.rs:221-233, and
        connectors call mysql_stmt_result_metadata / JDBC getMetaData
        BEFORE any execute). Each '?' splices as NULL and the statement
        runs through the normal dispatch — for the SELECT family that
        is ANALYSIS ONLY (the returned DataFrame is lazy; no job runs).
        Returns None for statements that produce no resultset (DML/DDL)
        and for the rare parameterized shape NULL-splicing cannot
        analyze (e.g. LIMIT ?), where the caller falls back to
        advertising zero columns."""
        st = self._stmts.get(stmt_id)
        if st is None:
            raise EbikeError(1243, f"Unknown prepared statement handler ({stmt_id})")
        kw = st.sql.split(None, 1)[0].upper() if st.sql.split() else ""
        if kw not in ("SELECT", "WITH", "VALUES", "TABLE"):
            return None
        if kw == "WITH":
            # Spark supports CTE-prefixed DML (WITH v AS (...) INSERT
            # INTO ...), and spark.sql() runs commands EAGERLY — a
            # dispatch here would mutate data at PREPARE time. Only a
            # pure query may be analyzed; DML FORMS at the TOP level
            # (quote/paren-aware — CTE bodies live inside parens, so
            # their SELECTs never match) disqualify the statement.
            # Matching full forms, not bare words: REPLACE(...) and
            # INSERT(...) are string FUNCTIONS that legitimately appear
            # at depth 0 in a SELECT list, and a bare-word match would
            # wrongly advertise num_columns=0 for such pure queries.
            # The forms listed are exactly the CTE-DML heads Spark SQL
            # parses (MySQL-only spellings like INSERT IGNORE never
            # reach spark.sql as CTE-DML — they fail its parser).
            if find_top_level_keywords(
                st.sql,
                (
                    "INSERT INTO",
                    "INSERT OVERWRITE",
                    "UPDATE",
                    "DELETE FROM",
                    "MERGE INTO",
                    "REPLACE INTO",
                ),
            ):
                return None
        try:
            res = self.execute(
                self._splice_placeholders(st.sql, [None] * st.n_params)
            )
        except Exception:
            return None
        if res.kind != "rows" or res.df is None:
            return None
        return [(f.name, f.dataType.simpleString()) for f in res.df.schema.fields]

    def close_prepared(self, stmt_id: int) -> None:
        self._stmts.pop(stmt_id, None)  # COM_STMT_CLOSE (execution.rs:790-795)

    def prepared_param_count(self, stmt_id: int) -> int:
        """Placeholder count of a prepared statement (the wire server's
        COM_STMT_PREPARE response needs it; public so the server never
        reaches into _stmts)."""
        st = self._stmts.get(stmt_id)
        if st is None:
            raise EbikeError(1243, f"Unknown prepared statement handler ({stmt_id})")
        return st.n_params
