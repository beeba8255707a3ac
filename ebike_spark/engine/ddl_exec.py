"""DDL statement execution — the Engine's CREATE/DROP/ALTER/index/
matview/TRUNCATE/RENAME/maintenance surface. Mixin: every method runs
as part of Engine (self.catalog, self.spark, self._select, ...).
Reference parity notes live on each method."""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ebike_spark.engine import commit, dml
from ebike_spark.engine.catalog import ROWID, Table, bq, resolve_sql_type
from ebike_spark.engine.errors import EbikeError, parse_error, unsupported
from ebike_spark.engine.parser import lex, parse_create_table, split_top_level, unquote_ident
from ebike_spark.engine.session_state import EngineResult


class DdlExecMixin:
    def _create_db(self, sql: str) -> EngineResult:
        m = re.match(r"CREATE\s+(?:DATABASE|SCHEMA)\s+(IF\s+NOT\s+EXISTS\s+)?([\w`\"]+)\s*$", sql, re.I)
        if not m:
            raise parse_error("near CREATE DATABASE")
        self.catalog.create_database(unquote_ident(m.group(2)), bool(m.group(1)))
        return EngineResult("count", affected=1)

    def _drop_db(self, sql: str) -> EngineResult:
        m = re.match(r"DROP\s+(?:DATABASE|SCHEMA)\s+(IF\s+EXISTS\s+)?([\w`\"]+)\s*$", sql, re.I)
        if not m:
            raise parse_error("near DROP DATABASE")
        name = unquote_ident(m.group(2))
        self.catalog.drop_database(name, bool(m.group(1)))
        if name.lower() == self.current_db.lower():
            # MySQL leaves no database selected; here that is the default
            self.current_db = "default"
        return EngineResult("count", affected=0)

    def _create_table(self, sql: str) -> EngineResult:
        m = re.match(
            r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.`\"]+)\s+AS\s+(\(?\s*SELECT\b[\s\S]*)$",
            sql,
            re.I,
        )
        if m:
            return self._ctas(bool(m.group(1)), unquote_ident(m.group(2)), m.group(3))
        m = re.match(
            r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.`\"]+)\s+"
            r"(?:LIKE\s+([\w.`\"]+)|\(\s*LIKE\s+([\w.`\"]+)\s*\))\s*$",
            sql,
            re.I,
        )
        if m:
            # MySQL CREATE TABLE ... LIKE (both spellings): structure +
            # keys copy, data does not
            dst = self.catalog.qualify(unquote_ident(m.group(2)), self.current_db)
            src = self.catalog.qualify(
                unquote_ident(m.group(3) or m.group(4)), self.current_db
            )
            if self.catalog.table_exists(dst):
                if m.group(1):
                    return EngineResult("count", affected=0)
                raise EbikeError(1050, f"Table '{m.group(2)}' already exists")
            self.catalog.create_table_like(src, dst)
            return EngineResult("count", affected=0)
        try:
            ct = parse_create_table(sql)
        except ValueError as e:
            raise parse_error(str(e)) from e
        self.catalog.create_table(ct, self.current_db)
        return EngineResult("count", affected=0)

    def _ctas(self, if_not_exists: bool, table: str, select_sql: str) -> EngineResult:
        """CREATE TABLE ... AS SELECT (MySQL CTAS; beyond the reference,
        whose CREATE only takes a column list). The result schema is the
        SELECT's schema; no PK/UNIQUE/rowid metadata (as in MySQL, where
        CTAS copies data but not indexes). Affected-rows = rows written,
        MySQL-style."""
        q = self.catalog.qualify(table, self.current_db)
        if self.catalog.table_exists(q):
            if if_not_exists:
                return EngineResult("count", affected=0)
            raise EbikeError(1050, f"Table '{table}' already exists")
        src, written = commit.observe(self._query(self._translate(select_sql)), F.count(F.lit(1)))
        self.catalog._ensure_fresh_location(q)
        src.write.format("parquet").saveAsTable(q)
        commit.bump(self.spark, q)
        return EngineResult("count", affected=written.get["n"])

    # A materialized view is a managed parquet table whose defining
    # SELECT is stored in its Table (``matview``); REFRESH re-runs it
    # and commits the result the way DML does (engine/commit.py). The
    # OLAP-engine face of the hierarchical-rollup pattern
    # (plans/timeseries.py): materialize once, re-serve cheaply,
    # recompute on demand. Beyond the reference (1105s there).
    def _create_matview(self, sql: str) -> EngineResult:
        m = re.match(
            r"CREATE\s+MATERIALIZED\s+VIEW\s+(IF\s+NOT\s+EXISTS\s+)?([\w.`\"]+)\s+AS\s+(\(?\s*SELECT\b[\s\S]*)$",
            sql,
            re.I,
        )
        if not m:
            raise parse_error("near CREATE MATERIALIZED VIEW")
        q = self.catalog.qualify(unquote_ident(m.group(2)), self.current_db)
        if self.catalog.table_exists(q):
            # IF NOT EXISTS: no-op, and do NOT claim the existing
            # object as a matview; otherwise 1050 via the CTAS path
            return self._ctas(bool(m.group(1)), unquote_ident(m.group(2)), m.group(3))
        res = self._ctas(bool(m.group(1)), unquote_ident(m.group(2)), m.group(3))
        try:
            view = self.catalog.table(q)._replace(matview=m.group(3).strip())
            commit.set_properties(self.spark, q, view.properties())
        except Exception:
            # CTAS + marker must be atomic: without the property the
            # object is a plain table that REFRESH/DROP MATERIALIZED
            # VIEW reject with 1347 and DROP MATERIALIZED VIEW refuses
            # to clean up — roll the CTAS back instead of leaking it
            self.spark.sql(f"DROP TABLE IF EXISTS {bq(q)}")
            raise
        return res

    def _create_view(self, sql: str) -> EngineResult:
        """CREATE [OR REPLACE] VIEW (beyond the reference, whose
        dispatcher 1105s it): the statement, translated, runs in Spark,
        so the view stores Spark SQL. A view is read after this
        statement ends, so its SELECT can name neither a variable
        (MySQL 1351) nor a system table, which is bound only for the
        statement."""
        if any(sql[a] == "@" for _, a, _ in lex(sql)):
            raise EbikeError(1351, "View's SELECT contains a variable or parameter")
        text = self._translate(sql)
        if self.catalog.system_views:
            raise EbikeError(1105, "Views over system tables are not supported")
        self.spark.sql(text)
        return EngineResult("count", affected=0)

    def _create_index(self, sql: str) -> EngineResult:
        """CREATE [UNIQUE] INDEX name ON t (cols) — the ALTER TABLE …
        ADD INDEX / ADD UNIQUE clause (_alter_clause). CREATE UNIQUE
        INDEX is a retroactive UNIQUE constraint; a plain index is the
        Spark-first reinterpretation of a secondary index: PHYSICAL
        RANGE CLUSTERING on the key columns (the reference's own CREATE
        INDEX statement falls through to 1105)."""
        m = re.match(
            r"CREATE\s+(UNIQUE\s+)?INDEX\s+([\w`\"]+)\s+ON\s+([\w.`\"]+)\s*\(([^)]+)\)\s*$",
            sql,
            re.I,
        )
        if not m:
            raise parse_error("near CREATE INDEX")
        kind = "UNIQUE" if m.group(1) else "INDEX"
        return self._alter_table(
            f"ALTER TABLE {m.group(3)} ADD {kind} {m.group(2)} ({m.group(4)})"
        )

    def _drop_index(self, sql: str) -> EngineResult:
        m = re.match(r"DROP\s+INDEX\s+([\w`\"]+)\s+ON\s+([\w.`\"]+)\s*$", sql, re.I)
        if not m:
            raise parse_error("near DROP INDEX")
        return self._alter_table(f"ALTER TABLE {m.group(2)} DROP INDEX {m.group(1)}")

    def _matview_sql(self, q: str) -> str:
        sql = self.catalog.table(q).matview
        if sql is None:
            raise EbikeError(1347, f"'{q}' is not a MATERIALIZED VIEW")
        return sql

    def _refresh_matview(self, sql: str) -> EngineResult:
        m = re.match(r"REFRESH\s+MATERIALIZED\s+VIEW\s+([\w.`\"]+)\s*$", sql, re.I)
        if not m:
            raise parse_error("near REFRESH MATERIALIZED VIEW")
        q = self.catalog.qualify(unquote_ident(m.group(1)), self.current_db)
        self.catalog.require_table(q)
        with commit.writing(self.spark, q):
            return self._refresh_matview_locked(q)

    def _refresh_matview_locked(self, q: str) -> EngineResult:
        stored = self._matview_sql(q)
        src = self._query(self._translate(stored))
        cur = self.spark.table(q)
        if [f.dataType for f in src.schema.fields] != [
            f.dataType for f in cur.schema.fields
        ]:
            raise unsupported("REFRESH with a changed result schema")
        # counted by the write, outside the image's zero rule: a result
        # of no rows still replaces the view's data
        src, written = commit.observe(src.toDF(*cur.columns), F.count(F.lit(1)))
        commit.commit(self.spark, [commit.Image(q, src)])
        return EngineResult("count", affected=written.get["n"])

    def _drop_matview(self, sql: str) -> EngineResult:
        m = re.match(
            r"DROP\s+MATERIALIZED\s+VIEW\s+(IF\s+EXISTS\s+)?([\w.`\"]+)\s*$", sql, re.I
        )
        if not m:
            raise parse_error("near DROP MATERIALIZED VIEW")
        q = self.catalog.qualify(unquote_ident(m.group(2)), self.current_db)
        if not m.group(1):
            self.catalog.require_table(q)
        # IF EXISTS only suppresses the missing-object error; an
        # existing object must still be a materialized view (1347),
        # never a plain table silently dropped with its data
        if self.catalog.table_exists(q):
            self._matview_sql(q)  # 1347 if it's a plain table
            self.catalog.drop_table(q, True)
        return EngineResult("count", affected=0)

    def _truncate(self, sql: str) -> EngineResult:
        """TRUNCATE [TABLE] t — MySQL fast-delete-all (affected 0).
        Spark's native TRUNCATE drops the managed table's data files,
        the same O(files) operation MySQL's handler performs."""
        m = re.match(r"TRUNCATE\s+(?:TABLE\s+)?([\w.`\"]+)\s*$", sql, re.I)
        if not m:
            raise parse_error("near TRUNCATE")
        q = self.catalog.qualify(unquote_ident(m.group(1)), self.current_db)
        self.catalog.require_table(q)
        with commit.writing(self.spark, q):
            self.spark.sql(f"TRUNCATE TABLE {bq(q)}")
            commit.bump(self.spark, q)
        return EngineResult("count", affected=0)

    def _maintain_table(self, kw: str, sql: str) -> EngineResult:
        """MySQL maintenance statements, each mapped to its real Spark
        counterpart (the reference 1105s all three):

        - CHECK TABLE → a full integrity audit: PK/UNIQUE uniqueness and
          NOT NULL re-validated set-orientedly against the stored data
          (the checks DML enforces, re-run at rest — detects corruption
          introduced by external writers). Reports MySQL's row shape.
        - ANALYZE TABLE → ANALYZE TABLE COMPUTE STATISTICS (row counts /
          sizes into the catalog — what feeds join-strategy choices).
        - OPTIMIZE TABLE → compact the table's data files into the
          table's next version (one commit, engine/commit.py — the
          io_compact_small_files maintenance shape applied to an
          engine table).

        All three accept a comma list and return one (Table, Op,
        Msg_type, Msg_text) row per table, MySQL-style."""
        m = re.match(rf"{kw}\s+TABLE\s+([\s\S]+?)\s*;?\s*$", sql, re.I)
        if not m:
            raise parse_error(f"near {kw} TABLE")
        rows = []
        for tok in split_top_level(m.group(1)):
            q = self.catalog.qualify(unquote_ident(tok.strip()), self.current_db)
            self.catalog.require_table(q)
            disp = q.split(".", 1)[1] if "." in q else q
            if kw == "ANALYZE":
                self.spark.sql(f"ANALYZE TABLE {bq(q)} COMPUTE STATISTICS")
                rows.append((disp, "analyze", "status", "OK"))
                continue
            if kw == "OPTIMIZE":
                t = self.spark.table(q)
                compacted = t.coalesce(max(1, t.rdd.getNumPartitions() // 8))
                commit.commit(self.spark, [commit.Image(q, compacted)])
                rows.append((disp, "optimize", "status", "OK"))
                continue
            # CHECK TABLE: re-validate declared constraints at rest
            # through the same NOT NULL and duplicate probes the DML
            # checks use
            t = self.spark.table(q)
            table = self.catalog.table(q)
            msgs = [f"column '{col}' contains NULL" for col in dml.null_columns(table, t)]
            for key_name, _ in dml.duplicate_key_probe(t, table.keys):
                msgs.append(f"duplicate entries in key '{key_name}'")
            if msgs:
                rows.append((disp, "check", "error", "; ".join(msgs)))
            else:
                rows.append((disp, "check", "status", "OK"))
        df = self.spark.createDataFrame(
            rows, "`Table` string, Op string, Msg_type string, Msg_text string"
        )
        return EngineResult("rows", df=df)

    def _rename_tables(self, sql: str) -> EngineResult:
        """RENAME TABLE a TO b [, c TO d ...] — metadata-only move.
        Cross-database renames are refused (Spark's v1 session catalog
        renames within a database; MySQL allows the move — 1105 keeps
        the failure explicit rather than silently copying data)."""
        body = re.match(r"RENAME\s+TABLE\s+([\s\S]+)$", sql, re.I).group(1)
        # MySQL applies pairs left-to-right on the evolving namespace
        # (chains `a TO b, b TO c` and swaps `a TO tmp, b TO a` are
        # legal), so validation simulates that evolution: `gone` holds
        # sources already renamed away, `made` the targets created so
        # far. Checking every pair against the simulated state first
        # keeps the common failure modes (missing source, existing
        # target) all-or-nothing before any ALTER runs.
        pairs = []
        gone: set = set()
        made: set = set()
        for part in split_top_level(body):
            pm = re.match(r"\s*([\w.`\"]+)\s+TO\s+([\w.`\"]+)\s*$", part, re.I)
            if not pm:
                raise parse_error("near RENAME TABLE")
            src = self.catalog.qualify(unquote_ident(pm.group(1)), self.current_db)
            dst = self.catalog.qualify(unquote_ident(pm.group(2)), self.current_db)
            if src not in made and (src in gone or not self.catalog.table_exists(src)):
                raise EbikeError(1146, f"Table '{pm.group(1)}' doesn't exist")
            if dst in made or (dst not in gone and self.catalog.table_exists(dst)):
                raise EbikeError(1050, f"Table '{pm.group(2)}' already exists")
            if src.rpartition(".")[0] != dst.rpartition(".")[0]:
                raise unsupported("cross-database RENAME TABLE")
            gone.add(src)
            made.discard(src)
            gone.discard(dst)
            made.add(dst)
            pairs.append((src, dst))
        with commit.writing(self.spark, *[t for pair in pairs for t in pair]):
            for src, dst in pairs:
                # the catalog moves the live directory to dst's root (a
                # stale directory there would swallow it) and leaves
                # src's version root behind
                old = commit.location(self.spark, src)
                self.catalog._ensure_fresh_location(dst)
                self.spark.sql(f"ALTER TABLE {bq(src)} RENAME TO {bq(dst)}")
                commit.remove_root(old)
                commit.bump(self.spark, src, dst)
        return EngineResult("count", affected=0)

    def _drop_table(self, sql: str) -> EngineResult:
        m = re.match(r"DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.`\"]+)\s*$", sql, re.I)
        if not m:
            raise parse_error("near DROP TABLE")
        q = self.catalog.qualify(unquote_ident(m.group(2)), self.current_db)
        self.catalog.drop_table(q, bool(m.group(1)))
        return EngineResult("count", affected=0)

    def _alter_table(self, sql: str) -> EngineResult:
        """ALTER TABLE with one clause or a comma-separated list, atomic
        like MySQL 8.0 (the reference's dispatcher handles only
        single-clause ALTERs, execution.rs:894-1279). The clauses fold
        over the table's pending rows and its ``catalog.Table``
        (_Altered) and nothing lands until all of them passed, then
        once: as catalog DDL when no clause changes the rows (ADD
        COLUMN, keys), else as one commit of the table's next version
        with its new schema and the Table's properties
        (engine/commit.py). A
        RENAME [TO|AS] clause applies last (MySQL processes the rename
        with the rebuild; other clauses name the old table)."""
        m = re.match(r"ALTER\s+TABLE\s+([\w.`\"]+)\s+([\s\S]+?)\s*$", sql, re.I)
        if not m:
            raise parse_error("near ALTER TABLE")
        tbl_tok, rest = m.group(1), m.group(2)
        if rest.rstrip().endswith(","):
            # a trailing comma is a dangling empty clause, not a
            # licence to ignore it (recurring review-bug shape)
            raise parse_error("near ',' (empty ALTER TABLE clause)")
        rename_to: str | None = None
        body: list[str] = []
        for cl in split_top_level(rest):
            if not cl:
                raise parse_error("near ',' (empty ALTER TABLE clause)")
            rm = re.match(r"RENAME\s+(?:TO\s+|AS\s+)?([\w.`\"]+)\s*$", cl, re.I)
            if rm:
                if rename_to is not None:
                    raise parse_error("multiple RENAME clauses in one ALTER TABLE")
                rename_to = rm.group(1)
            else:
                body.append(cl)
        q = self.catalog.qualify(unquote_ident(tbl_tok), self.current_db)
        if body:
            self.catalog.require_table(q)
            if rename_to is not None:
                # pre-check the rename target so a late 1050/unsupported
                # can't strand an already-applied clause list
                dst = self.catalog.qualify(unquote_ident(rename_to), self.current_db)
                if dst.rpartition(".")[0] != q.rpartition(".")[0]:
                    raise unsupported("cross-database RENAME TABLE")
                if self.catalog.table_exists(dst):
                    raise EbikeError(1050, f"Table '{dst}' already exists")
            with commit.writing(self.spark, q):
                st = _Altered(self.spark.table(q), self.catalog.table(q))
                for cl in body:
                    self._alter_clause(st, cl)
                self._land(q, st)
        if rename_to is not None:
            return self._rename_tables(f"RENAME TABLE {tbl_tok} TO {rename_to}")
        return EngineResult("count", affected=0)

    def _land(self, q: str, st: "_Altered") -> None:
        props = st.table.properties()
        if st.rewrite:
            commit.commit(self.spark, [commit.Image(q, st.df, schema=st.df.schema, props=props)])
            return
        if st.added:
            cols = ", ".join(f"`{c}` {t}" for c, t in st.added)
            self.spark.sql(f"ALTER TABLE {bq(q)} ADD COLUMNS ({cols})")
            commit.bump(self.spark, q)
        commit.set_properties(self.spark, q, props)

    def _alter_clause(self, st: "_Altered", cl: str) -> None:
        """Apply one ALTER TABLE clause to the pending state. Display
        widths (INT(11), FLOAT(10,2)) are accepted and ignored, as in
        parse_create_table's column grammar (ADVICE r5)."""
        def cols_of(text: str) -> list[str]:
            return [unquote_ident(c) for c in split_top_level(text)]

        def num(g: str | None) -> int | None:
            return int(g) if g else None

        width = r"(?:\s*\(\s*(\d+)(?:\s*,\s*(\d+))?\s*\))?"
        m = re.match(rf"ADD\s+(?:COLUMN\s+)?([\w`\"]+)\s+(\w+){width}\s*$", cl, re.I)
        if m:
            return self._add_column(
                st, unquote_ident(m.group(1)), m.group(2).upper(), num(m.group(3)), num(m.group(4))
            )
        m = re.match(r"DROP\s+(?:COLUMN\s+)?([\w`\"]+)\s*$", cl, re.I)
        if m:
            return self._drop_column(st, unquote_ident(m.group(1)))
        m = re.match(r"ADD\s+PRIMARY\s+KEY\s*\(([^)]+)\)\s*$", cl, re.I)
        if m:
            return self._add_primary_key(st, cols_of(m.group(1)))
        m = re.match(
            r"ADD\s+UNIQUE\s*(?:\b(?:INDEX|KEY)\b\s*)?(?:([\w`\"]+)\s*)?\(([^)]+)\)\s*$",
            cl,
            re.I,
        )
        if m:
            cols = cols_of(m.group(2))
            name = unquote_ident(m.group(1)) if m.group(1) else None
            if name is None:
                # MySQL auto-names an anonymous key after its first
                # column, deduping with _2, _3, ... on collision
                taken = _index_names(st.table)
                name, k = cols[0], 2
                while name in taken:
                    name, k = f"{cols[0]}_{k}", k + 1
            return self._add_unique(st, name, cols)
        m = re.match(r"ADD\s+(?:INDEX|KEY)\s+([\w`\"]+)\s*\(([^)]+)\)\s*$", cl, re.I)
        if m:
            return self._add_index(st, unquote_ident(m.group(1)), cols_of(m.group(2)))
        m = re.match(r"DROP\s+PRIMARY\s+KEY\s*$", cl, re.I)
        if m:
            if not st.table.primary_key:
                raise EbikeError(1091, "Can't DROP 'PRIMARY'; check that column/key exists")
            # MySQL keeps the NOT NULL attribute on former PK columns
            st.table = st.table._replace(primary_key=())
            return None
        m = re.match(r"DROP\s+(?:INDEX|KEY)\s+([\w`\"]+)\s*$", cl, re.I)
        if m:
            name = unquote_ident(m.group(1))
            if name not in _index_names(st.table):
                raise EbikeError(1091, f"Can't DROP '{name}'; check that column/key exists")
            # a clustering index is metadata-only to drop: the physical
            # order stays (harmless — it is just a row order) but stops
            # being advertised or maintained; a UNIQUE index stops its
            # constraint enforcement
            st.table = st.table._replace(
                uniques=tuple(u for u in st.table.uniques if u[0] != name),
                indexes=tuple(i for i in st.table.indexes if i[0] != name),
            )
            return None
        m = re.match(
            rf"MODIFY\s+(?:COLUMN\s+)?([\w`\"]+)\s+(\w+){width}(\s+NOT\s+NULL)?\s*$", cl, re.I
        )
        if m:
            col = unquote_ident(m.group(1))
            return self._modify_column(
                st, col, col, m.group(2).upper(), bool(m.group(5)), num(m.group(3)), num(m.group(4))
            )
        m = re.match(
            rf"CHANGE\s+(?:COLUMN\s+)?([\w`\"]+)\s+([\w`\"]+)\s+(\w+){width}(\s+NOT\s+NULL)?\s*$",
            cl,
            re.I,
        )
        if m:
            return self._modify_column(
                st,
                unquote_ident(m.group(1)),
                unquote_ident(m.group(2)),
                m.group(3).upper(),
                bool(m.group(6)),
                num(m.group(4)),
                num(m.group(5)),
            )
        raise parse_error(
            "near ALTER TABLE (only ADD/DROP/MODIFY/CHANGE COLUMN, "
            "ADD/DROP INDEX|UNIQUE|PRIMARY KEY, RENAME)"
        )

    def _add_column(
        self, st: "_Altered", col: str, sql_type: str, precision: int | None, scale: int | None
    ) -> None:
        spark_t = resolve_sql_type(sql_type, precision, scale)
        if col.lower() in (c.lower() for c in st.df.columns):
            raise EbikeError(1060, f"Duplicate column name '{col}'")
        st.df = st.df.withColumn(col, F.lit(None).cast(spark_t))
        st.added.append((col, spark_t))

    def _drop_column(self, st: "_Altered", col: str) -> None:
        """Parquet v1 tables can't ALTER DROP COLUMN in place → the next
        version holds the rows without it (the ALTER path the reference
        implements as meta-table surgery,
        /root/reference/src/execute_impl/drop_column.rs:37-131)."""
        if col not in self._user_columns(st):
            # the hidden rowid is not a user column — not droppable
            raise EbikeError(1091, f"Can't DROP '{col}'; check that column/key exists")
        st.df = st.df.drop(col)
        st.rewrite = True

        def without(cols: tuple[str, ...]) -> tuple[str, ...]:
            return tuple(c for c in cols if c != col)

        t = st.table
        # a key or index whose LAST column was dropped disappears with
        # it (MySQL drops the index; an empty key list would crash the
        # next keyed INSERT's conjunction builder)
        st.table = t._replace(
            primary_key=without(t.primary_key),
            uniques=tuple((n, without(c)) for n, c in t.uniques if without(c)),
            indexes=tuple((n, without(c)) for n, c in t.indexes if without(c)),
            not_null=without(t.not_null),
            auto_increment=None if t.auto_increment == col else t.auto_increment,
        )

    def _user_columns(self, st: "_Altered") -> set[str]:
        return {c for c in st.df.columns if c != ROWID or not st.table.has_rowid}

    def _add_primary_key(self, st: "_Altered", cols: list[str]) -> None:
        """Retroactive PRIMARY KEY: existing NULLs are 1138, existing
        duplicates 1062; the key columns join the NOT NULL set."""
        import functools as _ft
        import operator as _op

        if st.table.primary_key:
            raise EbikeError(1068, "Multiple primary key defined")
        self._require_key_columns(st, cols)
        any_null = _ft.reduce(_op.or_, [F.col(c).isNull() for c in cols])
        if st.df.where(any_null).limit(1).collect():
            raise EbikeError(1138, "Invalid use of NULL value in key column")
        dml.raise_on_duplicate(st.df, [("PRIMARY", cols)])
        nn = st.table.not_null
        st.table = st.table._replace(primary_key=tuple(cols), not_null=nn + tuple(c for c in cols if c not in nn))

    def _add_unique(self, st: "_Altered", name: str, cols: list[str]) -> None:
        """Retroactive UNIQUE key: reject if the existing data already
        violates it (one bounded LIMIT-1 duplicate probe — rows with a
        NULL in any key column are exempt, MySQL semantics), then record
        the key; the INSERT/upsert paths enforce it from then on."""
        if not re.fullmatch(r"\w+", name):
            raise parse_error(f"bad index name '{name}'")
        self._require_key_columns(st, cols)
        if name in _index_names(st.table):
            raise EbikeError(1061, f"Duplicate key name '{name}'")
        dml.raise_on_duplicate(st.df, [(name, cols)])
        st.table = st.table._replace(uniques=st.table.uniques + ((name, tuple(cols)),))

    def _add_index(self, st: "_Altered", name: str, cols: list[str]) -> None:
        """A secondary index as PHYSICAL RANGE CLUSTERING: the rows are
        rewritten repartitionByRange + sortWithinPartitions on the key
        columns, which makes parquet row-group min/max statistics (zone
        maps) selective for predicates on them — the scan skips row
        groups the way the reference's sled index-range seek skips keys
        (/root/reference/src/core/execution.rs index-seek path). SHOW
        INDEX lists it with Index_type CLUSTERED. One clustering order
        per table can be physically dominant — a second index
        re-clusters (documented; MySQL's secondary B-trees have no such
        coupling)."""
        if not re.fullmatch(r"\w+", name):
            raise parse_error(f"bad index name '{name}'")
        self._require_key_columns(st, cols)
        if name in _index_names(st.table):
            raise EbikeError(1061, f"Duplicate key name '{name}'")
        st.df = st.df.repartitionByRange(*cols).sortWithinPartitions(*cols)
        st.rewrite = True
        st.table = st.table._replace(indexes=st.table.indexes + ((name, tuple(cols)),))

    def _require_key_columns(self, st: "_Altered", cols: list[str]) -> None:
        known = self._user_columns(st)
        for c in cols:
            if c not in known:
                raise EbikeError(1072, f"Key column '{c}' doesn't exist in table")

    def _modify_column(
        self,
        st: "_Altered",
        old: str,
        new: str,
        sql_type: str,
        not_null: bool,
        precision: int | None = None,
        scale: int | None = None,
    ) -> None:
        """ALTER TABLE MODIFY/CHANGE COLUMN: retype (dml.strict_cast_sql —
        a non-NULL value that doesn't convert is 1366, as MySQL strict),
        optionally rename; parquet v1 can't retype in place, so the next
        version holds the converted rows. Key/cluster/auto-increment
        markers follow the rename. Divergence from MySQL's
        full-redefinition semantics, documented: attributes not
        restated in the clause (AUTO_INCREMENT, key membership) are
        PRESERVED rather than dropped; nullability follows the clause
        (absent NOT NULL → nullable, except PK columns, which stay NOT
        NULL as in MySQL)."""
        spark_t = resolve_sql_type(sql_type, precision, scale)
        t = st.table
        if old not in self._user_columns(st):
            raise EbikeError(1054, f"Unknown column '{old}' in 'field list'")
        if new != old and new in st.df.columns:
            raise EbikeError(1060, f"Duplicate column name '{new}'")
        if t.auto_increment == old and spark_t != "BIGINT":
            raise EbikeError(1063, f"Incorrect column specifier for column '{old}'")
        # a value that does not convert raises 1366, and a NULL into NOT
        # NULL 1138, from the commit's write
        null = EbikeError(1138, f"Invalid use of NULL value for column '{old}'") if not_null else None
        cast = F.expr(dml.strict_cast_sql(f"`{old}`", spark_t, old, null))
        st.df = st.df.select(*[cast.alias(new) if c == old else F.col(c) for c in st.df.columns])
        st.rewrite = True

        def ren(cols: tuple[str, ...]) -> tuple[str, ...]:
            return tuple(new if c == old else c for c in cols)

        nn = ren(t.not_null)
        if not_null and new not in nn:
            nn += (new,)
        elif not not_null and old not in t.primary_key:
            nn = tuple(c for c in nn if c != new)
        st.table = t._replace(
            primary_key=ren(t.primary_key),
            uniques=tuple((n, ren(c)) for n, c in t.uniques),
            indexes=tuple((n, ren(c)) for n, c in t.indexes),
            not_null=nn,
            auto_increment=new if t.auto_increment == old else t.auto_increment,
        )


def _index_names(table: Table) -> set[str]:
    """The names of ``table``'s UNIQUE keys and KEY indexes."""
    return {n for n, _ in table.uniques + table.indexes}


class _Altered:
    """An ALTER TABLE's pending result: the table's rows and Table after
    the clauses applied so far; ``rewrite`` is set once a clause changes
    the rows, ``added`` lists ADD COLUMNs for a metadata-only landing."""

    def __init__(self, df: DataFrame, table: Table):
        self.df = df
        self.table = table
        self.rewrite = False
        self.added: list[tuple[str, str]] = []

