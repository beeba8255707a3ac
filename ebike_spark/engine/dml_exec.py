"""The Engine's INSERT, UPDATE and DELETE statements (a mixin over
Engine): each is parsed here and run by engine/dml.py.

Every INSERT row source ends in ``dml.land``: VALUES (and its ``SET a =
1`` spelling) through ``dml.insert``, INSERT … SELECT through
``dml.typed_frame``, and LOAD DATA (dispatched by Engine) through
``dml.load_data``; ``_landed`` turns land's result into the statement's
affected rows and LAST_INSERT_ID(). Other non-VALUES INSERT forms
(``INSERT INTO t TABLE s``) pass through to Spark as a write of the
target. The multi-table UPDATE and DELETE resolve their aliases here
and commit through ``dml._rewrite``."""

from __future__ import annotations

import re

import pyspark.sql.functions as F

from ebike_spark.engine import commit, dml
from ebike_spark.engine.catalog import Table, bq
from ebike_spark.engine.errors import EbikeError, null_value, parse_error, unsupported
from ebike_spark.engine.parser import (
    INSERT_VALUES,
    column_assignments,
    find_top_level_keywords,
    parse_assignments,
    parse_delete,
    parse_insert,
    parse_update,
    split_tail_clauses,
    split_top_level,
    unquote_ident,
)
from ebike_spark.engine.session_state import EngineResult


class DmlExecMixin:
    def _insert(self, sql: str) -> EngineResult:
        fixed = self._translate(sql)
        # MySQL `INSERT INTO t SET a = 1, b = 'x'` → column-list VALUES
        m = re.match(r"\s*(INSERT(?:\s+IGNORE)?|REPLACE)\s+INTO\s+([\w.`\"]+)\s+SET\s", fixed, re.I)
        if m:
            try:
                body, clauses = split_tail_clauses(fixed[m.end() :], ("ON DUPLICATE KEY UPDATE",))
                pairs = column_assignments(body)
            except ValueError as e:
                raise parse_error(str(e)) from e
            cols = ", ".join(f"`{c}`" for c, _ in pairs)
            fixed = f"{m.group(1)} INTO {m.group(2)} ({cols}) VALUES ({', '.join(v for _, v in pairs)})" + "".join(
                f" ON DUPLICATE KEY UPDATE {c}" for c in clauses.values()
            )
        # INSERT [IGNORE] INTO ... SELECT / REPLACE INTO ... SELECT,
        # detected STRUCTURALLY (SELECT right after the table/column
        # list), as the VALUES form is below: a word inside the SELECT
        # (`ON DUPLICATE KEY UPDATE v = VALUES(v)`, a literal) never
        # picks the path
        m = re.match(
            r"\s*(?:INSERT(\s+IGNORE)?|(REPLACE))\s+INTO\s+([\w.`\"]+)\s*"
            r"(?:\(([^)]*)\)\s*)?(SELECT\b[\s\S]*)$",
            fixed,
            re.I,
        )
        if m:
            q = self.catalog.qualify(unquote_ident(m.group(3)), self.current_db)
            if self.catalog.table_exists(q):
                with commit.writing(self.spark, q):
                    mode = "IGNORE" if m.group(1) else "REPLACE" if m.group(2) else ""
                    return self._insert_from_select(q, m.group(4), m.group(5), mode)
        if not INSERT_VALUES.match(fixed):
            # remaining non-VALUES forms (e.g. INSERT INTO ... TABLE
            # src) pass through to Spark untouched, as a write of the
            # target: under its writer lock, bumping its version
            m = re.match(r"\s*INSERT\s+(?:INTO|OVERWRITE)\s+(?:TABLE\s+)?([\w.`\"]+)", fixed, re.I)
            target = [self.catalog.qualify(unquote_ident(m.group(1)), self.current_db)] if m else []
            with commit.writing(self.spark, *target):
                self.spark.sql(fixed)
                commit.bump(self.spark, *target)
            return EngineResult("count", affected=-1)
        try:
            ins = parse_insert(fixed)
        except ValueError as e:
            raise parse_error(str(e)) from e
        return self._landed(*dml.insert(self.spark, self.catalog, ins, self.current_db))

    def _landed(self, affected: int, first_id: int | None) -> EngineResult:
        """An INSERT's result from dml.land: the first minted
        AUTO_INCREMENT id, if any, becomes LAST_INSERT_ID()."""
        if first_id is not None:
            self.last_insert_id = first_id
        return EngineResult("count", affected=affected)

    def _insert_from_select(
        self,
        qualified: str,
        col_list: str | None,
        select_sql: str,
        mode: str,
    ) -> EngineResult:
        """INSERT [IGNORE] / REPLACE ... SELECT [... ON DUPLICATE KEY
        UPDATE]: the source frame typed by dml.typed_frame and landed by
        dml.land, so keys, NOT NULL, AUTO_INCREMENT and the duplicate
        modes behave as for VALUES. Every check is a Spark job, so a
        10⁸-row source has the same plan shape as a 3-row one."""
        # the upsert clause rides after the SELECT; split it off
        # top-level (quote/paren-aware — an ON inside the SELECT's
        # joins never matches the full four-word phrase)
        try:
            select_sql, tail_clauses = split_tail_clauses(
                select_sql, ("ON DUPLICATE KEY UPDATE",)
            )
            on_dup = tail_clauses.get("ON DUPLICATE KEY UPDATE")
            on_dup = None if on_dup is None else column_assignments(on_dup)
        except ValueError as e:
            raise parse_error(str(e)) from e
        if on_dup is not None and mode:
            raise parse_error("ON DUPLICATE KEY UPDATE cannot combine with IGNORE/REPLACE")

        src = self._query(select_sql)
        table = self.catalog.table(qualified)
        listed = [unquote_ident(c) for c in split_top_level(col_list)] if col_list else None
        df = dml.typed_frame(src, dml.target_columns(listed, table.columns), table.columns)
        return self._landed(*dml.land(self.spark, table, df, mode, on_dup))

    # FROM-clause keywords that can precede an alias token without
    # being the aliased table (multi-table DML alias resolution)
    _JOIN_KEYWORDS = {
        "JOIN", "ON", "AND", "OR", "INNER", "LEFT", "RIGHT", "CROSS",
        "OUTER", "STRAIGHT_JOIN", "USING", "WHERE", "NATURAL", "AS",
    }

    def _from_aliases(self, frm: str) -> list[tuple[str, str]]:
        """Enumerate (alias-or-name token, qualified table) for every
        table in a multi-table-DML FROM clause. Segments split on
        top-level JOIN keywords (quote/paren-aware); each segment's
        leading token is the table, the next word its alias unless it
        is a clause keyword."""
        spans = find_top_level_keywords(frm, ("JOIN",))
        segs, prev = [], 0
        for _, s0, s1 in spans:
            segs.append(frm[prev:s0])
            prev = s1
        segs.append(frm[prev:])
        # MySQL's comma form mixes freely with JOINs (`t1 a, t2 b JOIN
        # t3 c ON ...`): each JOIN segment may itself list several
        # comma-separated table factors
        segs = [part for seg in segs for part in split_top_level(seg, ",")]
        out: list[tuple[str, str]] = []
        for seg in segs:
            m = re.match(r"\s*([\w.`\"]+)(?:\s+(?:AS\s+)?([\w`\"]+))?", seg)
            if not m:
                continue
            tbl = unquote_ident(m.group(1))
            if tbl.upper() in self._JOIN_KEYWORDS:
                continue
            alias = unquote_ident(m.group(2)) if m.group(2) else None
            if alias and alias.upper() in self._JOIN_KEYWORDS:
                alias = None
            out.append((alias or tbl, self.catalog.qualify(tbl, self.current_db)))
        return out

    def _resolve_alias_table(self, tgt: str, frm: str) -> str:
        """Resolve a multi-table-DML target token (alias or table name)
        to its underlying table within a FROM clause."""
        m = re.search(
            rf"([\w.`\"]+)\s+(?:AS\s+)?{re.escape(tgt)}\b", frm, re.I
        )
        if m and unquote_ident(m.group(1)).upper() not in self._JOIN_KEYWORDS:
            return unquote_ident(m.group(1))
        return tgt

    def _update(self, sql: str) -> EngineResult:
        fixed = self._translate(sql)
        # Multi-table form detection must be quote/paren-aware: a SET /
        # JOIN / WHERE inside a string literal or subquery must not
        # split the statement (find_top_level_keywords skips both).
        body_m = re.match(r"\s*UPDATE\s+([\s\S]+?)\s*;?\s*$", fixed, re.I)
        if body_m:
            body = body_m.group(1)
            set_spans = find_top_level_keywords(body, ("SET",))
            if set_spans:
                frm = body[: set_spans[0][1]].strip()
                # JOIN form or MySQL's comma form (`UPDATE t1, t2 SET
                # ...`) — both are the multi-table statement
                if find_top_level_keywords(frm, ("JOIN",)) or len(
                    split_top_level(frm, ",")
                ) > 1:
                    tail = body[set_spans[0][2] :]
                    try:
                        set_clause, clauses = split_tail_clauses(tail, ("WHERE",))
                    except ValueError as e:
                        raise parse_error(str(e)) from e
                    return self._update_join(
                        frm, set_clause, clauses.get("WHERE")
                    )
        try:
            upd = parse_update(fixed)
        except ValueError as e:
            raise parse_error(str(e)) from e
        n = dml.update(self.spark, self.catalog, upd, self.current_db)
        return EngineResult("count", affected=n)

    def _update_join(self, frm: str, set_clause: str, where: str | None) -> EngineResult:
        """Multi-table UPDATE (MySQL `UPDATE t1 JOIN t2 ON ... SET
        t1.c = <expr over both>, t2.d = ... [WHERE ...]`): the
        assignments may read the joined tables' columns — the classic
        enrich-in-place statement — and may target SEVERAL of the
        joined tables in one statement (MySQL parity). No ORDER BY /
        LIMIT (MySQL also disallows them in the multi-table form).

        Set-oriented plan: ONE join computes (rowid, new values) for
        every matched row of every assigned table against the shared
        PRE-image, snapshotted once. Every assignment sees that
        pre-image — MySQL processes rows one at a time and later
        rows CAN observe earlier in-statement writes, an
        order-dependent behavior with no deterministic set-oriented
        equivalent; this engine pins snapshot semantics (every
        assignment sees the statement's start state), the same
        divergence documented for single-table UPDATE self-references.
        A row matched more than once keeps the smallest new-value
        tuple (MySQL's result there is processing-order-dependent —
        this pins a deterministic representative); the same table
        assigned through TWO aliases merges into one post-image
        (last assignment in statement order wins per column where
        both aliases match — see the grouping comment below); each
        post-image takes the same changed-row accounting and key
        re-check as the single-table path, and all of them land in one
        commit. No driver-side row loop at any join size."""
        try:
            assigns = parse_assignments(set_clause)  # (alias, col, rhs)
        except ValueError as e:
            raise parse_error(str(e)) from e
        # Unqualified assignments resolve the MySQL way: the column is
        # looked up in EVERY joined table — exactly one owner targets
        # that table (even one never otherwise assigned); several
        # owners is 1052 ambiguous; none is 1054. No guessing from
        # which aliases happen to be assigned.
        from_tables = self._from_aliases(frm)
        # each joined table's metadata, read once for the statement
        tables: dict[str, Table] = {}

        def table(q: str) -> Table:
            if q not in tables:
                tables[q] = self.catalog.table(q)
            return tables[q]

        def owners_of(col: str) -> list[tuple[str, str]]:
            return [(alias, q) for alias, q in from_tables if col in dict(table(q).columns)]

        # group assignments by target alias, preserving statement order
        by_tgt: dict[str, list[tuple[int, str, str]]] = {}
        for i, (alias, col, rhs) in enumerate(assigns):
            if alias is None:
                owners = owners_of(col)
                if len(owners) > 1:
                    raise EbikeError(
                        1052, f"Column '{col}' in field list is ambiguous"
                    )
                if not owners:
                    raise EbikeError(
                        1054, f"Unknown column '{col}' in 'field list'"
                    )
                alias = owners[0][0]
            by_tgt.setdefault(alias, []).append((i, col, rhs))
        targets: list[dict] = []
        for tgt, items in by_tgt.items():
            base = self._resolve_alias_table(tgt, frm)
            qualified = self.catalog.qualify(base, self.current_db)
            target = table(qualified)
            if not target.has_rowid:
                raise unsupported(
                    "multi-table UPDATE on a table without the hidden rowid"
                )
            types = dict(target.columns)
            for _, col, _ in items:
                if col not in types:
                    raise EbikeError(
                        1054, f"Unknown column '{col}' in 'field list'"
                    )
            targets.append({"tgt": tgt, "qualified": qualified, "table": target, "items": items})
        with commit.writing(self.spark, *[t["qualified"] for t in targets]):
            return self._update_targets(frm, where, targets)

    def _update_targets(self, frm: str, where: str | None, targets: list[dict]) -> EngineResult:
        """The commit half of _update_join, under every target's
        writer lock: one post-image per physical table, all committed
        together."""
        from functools import reduce
        from operator import or_ as _or

        from pyspark.sql import Window

        rid_exprs = ", ".join(
            f"{bq(t['tgt'])}.`{dml.ROWID}` AS __rid{k}"
            for k, t in enumerate(targets)
        )
        val_exprs = ", ".join(
            f"({rhs}) AS __v{i}"
            for t in targets
            for i, _, rhs in t["items"]
        )
        sel = (
            f"SELECT {rid_exprs}, {val_exprs} FROM {frm}"
            + (f" WHERE {where}" if where else "")
        )
        src = self._query(sel)
        if len(targets) > 1:
            # snapshot the pre-image join once: every target's
            # post-image write would otherwise recompute it, and a
            # joined table that is not a target holds no writer lock,
            # so it may change between two of those writes.
            # localCheckpoint (eager) cuts the lineage entirely, so the
            # snapshot cannot be recomputed from anything. Bounded by
            # matched rows x assigned columns, spread across executor
            # storage.
            src = src.localCheckpoint(eager=True)
        # Aliases of the SAME physical table merge into ONE
        # post-image: MySQL permits `UPDATE t a JOIN t b ... SET
        # a.x=..., b.y=...` but its row-level outcome is processing-
        # order-dependent; this engine pins a deterministic rule —
        # every assignment sees the statement-start snapshot, and when
        # a row is reached through several aliases (or several matches
        # of one alias), the LAST assignment in statement order whose
        # alias matched wins per column (the per-alias tie already
        # picks the smallest value tuple). Last-wins matches the
        # single-alias behavior this code always had for repeated
        # `SET c = ..., c = ...` on one alias.
        groups: list[tuple[str, list[tuple[int, dict]]]] = []
        gindex: dict[str, int] = {}
        for k, t in enumerate(targets):
            if t["qualified"] not in gindex:
                gindex[t["qualified"]] = len(groups)
                groups.append((t["qualified"], []))
            groups[gindex[t["qualified"]]][1].append((k, t))
        images = []  # one per PHYSICAL table
        for qualified, members in groups:
            tb = self.spark.table(qualified)
            target = members[0][1]["table"]
            types = dict(target.columns)
            joined = tb
            for k, t in members:
                idxs = [i for i, _, _ in t["items"]]
                w = Window.partitionBy(f"__rid{k}").orderBy(
                    *[F.col(f"__v{i}") for i in idxs]
                )
                vals = (
                    src.where(F.col(f"__rid{k}").isNotNull())
                    .withColumn("__rn", F.row_number().over(w))
                    .where(F.col("__rn") == 1)
                    .select(f"__rid{k}", *[f"__v{i}" for i in idxs])
                )
                joined = joined.join(
                    vals, tb[dml.ROWID] == vals[f"__rid{k}"], "left"
                )
            # each assignment in statement order wraps the ones before
            # it, so the last one whose alias matched wins; the guards
            # (1366, and 1048 for a NULL into a NOT NULL column) fire
            # only where that alias matched, like the single-table path
            new_vals = {}
            for i, col, k in sorted((i, col, k) for k, t in members for i, col, _ in t["items"]):
                cast = dml.strict_cast_sql(f"`__v{i}`", types[col], col, null_value(col) if col in target.not_null else None)
                new_vals[col] = F.when(F.col(f"__rid{k}").isNotNull(), F.expr(cast)).otherwise(new_vals.get(col, F.col(col)))
            changed = reduce(_or, [~new_vals[c].eqNullSafe(F.col(c)) for c in new_vals])
            out_cols = [new_vals.get(name, tb[name]).alias(name) for name in tb.columns]
            dml.recheck_keys_after_update(target, joined.select(*out_cols), set(new_vals))
            joined, affected = commit.observe(joined, F.count(F.when(changed, 1)))
            images.append(commit.Image(qualified, joined.select(*out_cols), changed=affected))
        # All key re-checks passed against pre-images. One commit lands
        # every post-image: all are written before any table is
        # re-pointed, a target whose image changes no row is left as
        # it was, and a failed commit leaves every target as it was.
        return EngineResult("count", affected=dml._rewrite(self.spark, *images))

    def _delete(self, sql: str) -> EngineResult:
        fixed = self._translate(sql)
        m = re.match(
            r"\s*DELETE\s+(?:FROM\s+)?([\w`\"]+)(?:\.\*)?\s+(?:FROM|USING)\s+"
            r"([\s\S]+?)\s*;?\s*$",
            fixed,
            re.I,
        )
        if m:
            # the WHERE tail splits quote/paren-aware (a literal
            # containing ' WHERE ' in the ON clause must not split)
            try:
                frm, clauses = split_tail_clauses(m.group(2), ("WHERE",))
            except ValueError as e:
                raise parse_error(str(e)) from e
            return self._delete_join(m.group(1), frm, clauses.get("WHERE"))
        try:
            dele = parse_delete(fixed)
        except ValueError as e:
            raise parse_error(str(e)) from e
        n = dml.delete(self.spark, self.catalog, dele, self.current_db)
        return EngineResult("count", affected=n)

    def _delete_join(self, tgt_tok: str, frm: str, where: str | None) -> EngineResult:
        """Multi-table DELETE (MySQL `DELETE t1 FROM t1 JOIN t2 ON ...
        [WHERE ...]` and the `DELETE FROM t1 USING ...` spelling): remove
        the target's rows that participate in the join — the classic
        purge-by-reference statement.

        Set-oriented plan: one join projects the DISTINCT doomed hidden
        rowids, then one left join flags them on the target, whose write
        counts the flagged rows and drops them — no row loop at any
        size. Affected-rows = distinct target rows matched, exactly
        MySQL's accounting (a row matched by several join partners
        still deletes once); rowids are unique, so the join duplicates
        no row."""
        tgt = unquote_ident(tgt_tok)
        base = self._resolve_alias_table(tgt, frm)
        qualified = self.catalog.qualify(base, self.current_db)
        if not self.catalog.table(qualified).has_rowid:
            raise unsupported(
                "multi-table DELETE on a table without the hidden rowid"
            )
        with commit.writing(self.spark, qualified):
            sel = f"SELECT {bq(tgt)}.`{dml.ROWID}` AS {dml.HIT} FROM {frm}" + (
                f" WHERE {where}" if where else ""
            )
            doomed = self._query(sel).distinct()
            t = self.spark.table(qualified)
            flagged = t.join(doomed, t[dml.ROWID] == doomed[dml.HIT], "left")
            return EngineResult("count", affected=dml.drop_hits(self.spark, qualified, t, flagged))

    # ------------------------------------------------------------ UDFs

