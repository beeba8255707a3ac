"""DML on managed parquet tables.

Every value a statement writes goes through one strict cast,
:func:`strict_cast_sql`: MySQL strict mode as SQL text over a column
bound once (round fractions into BIGINT, refuse BIGINT saturation,
raise 1366 instead of storing a silent NULL). INSERT … VALUES, INSERT …
SELECT, LOAD DATA, UPDATE, ON DUPLICATE KEY UPDATE, the multi-table
UPDATE and ALTER MODIFY/CHANGE all call it.

Every INSERT ends in one landing function, :func:`land`, whatever its
row source. Each source first resolves its target column list with
:func:`target_columns` (1054 for an unknown column, 1110 for a
repeated one) and types its rows to the table's declared columns:

- INSERT … VALUES: :func:`_values_df` casts each cell, as one inline
  table when every cell is a plain literal (a mysqldump extended
  INSERT: Catalyst folds it into a LocalRelation, so collecting it
  runs no job), else as one SELECT per row, UNION ALL-ed (expressions,
  earlier-column references, RAND()).
- INSERT … SELECT and LOAD DATA: :func:`typed_frame` casts the source
  frame's columns by position.

:func:`land` then mints AUTO_INCREMENT, runs the REPLACE / IGNORE /
ON DUPLICATE KEY UPDATE / plain dispatch with its constraint checks,
appends, and returns (affected rows, first minted id). A VALUES batch
is statement-sized: a plain insert collects it once, checks it on the
driver and writes one file. Any other source is checked by Spark jobs
only. :func:`duplicate_key_probe` is the one in-frame duplicate check;
UPDATE, ALTER and CHECK TABLE share it. NULL into a NOT NULL column is
MySQL error 1048.

UPDATE and ON DUPLICATE KEY UPDATE bind each assignment once
(:func:`assign`) and compute when(matched, new, old) per assigned
column in one pass. DELETE counts the matching rows per data file in
one probe job: files in which every row matches are dropped, untouched
files carry over as hard links, and only partly matching files are
rewritten. Both commit through engine/commit.py.
"""

from __future__ import annotations

import os
import re
from decimal import Decimal
from functools import reduce
from operator import and_, or_

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ebike_spark.engine import commit
from ebike_spark.engine.catalog import ROWID, Catalog
from ebike_spark.engine.errors import EbikeError, duplicate_entry, unsupported
from ebike_spark.engine.parser import Delete, Insert, Update, split_top_level, unquote_ident

# INSERT IGNORE into a table with MULTIPLE unique indexes replays
# MySQL's order-dependent first-wins interleave on the driver (see
# _insert_ignore's docstring for why that path can't be distributed);
# this caps the rows that replay may collect. VALUES batches are
# orders of magnitude below it; only a multi-index bulk LOAD DATA
# IGNORE can hit it.
_IGNORE_REPLAY_CAP = 100_000
# marks the rows whose AUTO_INCREMENT id land minted, for INSERT IGNORE
_MINTED = "__minted"


# Marker embedded in the error strict_cast_sql raises;
# Engine.execute translates it to MySQL 1366. A plain-text
# channel because the error crosses the JVM boundary as a generic
# SparkRuntimeException. The column name is SENTINEL-TERMINATED so
# names with non-word characters (backtick-quoted identifiers) survive
# the round trip and the translator never over- or under-captures.
BADCAST_MARK = "EBIKE_BADCAST:"
BADCAST_END = ":KCABDAST"


# Spark's non-ANSI double→long cast SATURATES at Long.Max instead of
# returning NULL, so magnitude beyond this double must flag explicitly
# for BIGINT targets. The literal parses to EXACTLY 2^63 (the nearest
# double to Long.Max — Long.Max itself is not representable): doubles
# strictly above it are certain overflow (1366); a double equal to it
# is indistinguishable from a legitimate Long.Max-valued double, so it
# passes and stores Long.Max — the documented one-ULP ambiguity window
# inherent to double. The same constant bounds the integer-rounding
# detour from the other side (ABS < 2^63): at or beyond it the
# double→long cast saturates non-NULL, which would hide an overflow
# the direct cast reports as NULL — overflow STRINGS like
# '9223372036854775808' therefore stay 1366 (their direct cast is
# NULL and the detour refuses them).
_LONG_MAX_D = "9.223372036854775807E18"


def rounding_bigint_cast_sql(raw_ref: str) -> str:
    """MySQL ROUNDS fractional values into integer columns (2.7 → 3,
    -2.5 → -3, '2.7' → 3); a bare Spark cast truncates toward zero.
    Route through ROUND(double) ONLY when the value is fractional or
    only double-parseable AND strictly inside long range — exact
    64-bit integers beyond 2^53 take the direct cast so they never
    lose precision in the double detour, and overflow magnitudes never
    take it so the double→long SATURATION cannot mask an overflow the
    direct cast reports as NULL (the strict guard then raises 1366
    exactly as before this helper existed; the sole exception is a
    DOUBLE input exactly equal to 2^63 — see the _LONG_MAX_D comment
    on the inherent one-ULP ambiguity). One CASE over the same
    once-bound reference, composing with the strict guard."""
    dbl = f"CAST({raw_ref} AS DOUBLE)"
    direct = f"CAST({raw_ref} AS BIGINT)"
    return (
        f"CASE WHEN {dbl} IS NOT NULL AND ABS({dbl}) < {_LONG_MAX_D} "
        f"AND ({direct} IS NULL OR {dbl} != CAST({direct} AS DOUBLE)) "
        f"THEN CAST(ROUND({dbl}, 0) AS BIGINT) ELSE {direct} END"
    )


def _mysql_coerce_numeric(ref: str, target: str):
    """MySQL legacy (non-strict) numeric coercion of the column named
    ``ref`` — the LOAD DATA IGNORE storage rule: exact/roundable values
    store via the strict path's cast; anything that cast cannot convert
    falls back to the LEADING NUMERIC PREFIX of the text ('12abc' → 12,
    'junk' and '' → 0), and out-of-range magnitudes CLAMP to the type range (the
    non-ANSI double→long cast's saturation is exactly MySQL's clamp).
    NULL input stays NULL (a missing CSV field is not a bad value)."""
    raw_col = F.col(ref)
    prefix = F.regexp_extract(
        raw_col.cast("string"),
        r"^[ \t]*[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?",
        0,
    )
    coerced_dbl = F.when(
        F.length(F.trim(prefix)) == 0, F.lit(0.0)
    ).otherwise(prefix.cast("double"))
    dbl_max = F.lit(1.7976931348623157e308)
    if target == "BIGINT":
        exact = F.expr(rounding_bigint_cast_sql(f"`{ref}`"))
        # DECIMAL-exact prefix handling FIRST ('10000000000000001.xyz'
        # must keep all 17 digits, and '12.9abc' must round to 13 —
        # MySQL's insert coercion parses
        # the decimal prefix exactly and rounds HALF_UP on the
        # fractional part, never through a double). The non-ANSI
        # string→bigint cast truncation-parses the integer part of
        # 'd.d' text exactly; HALF_UP == bump by the sign iff the
        # FIRST fractional digit is ≥ 5, guarded away from the long
        # bounds (where MySQL clamps anyway). Exponent forms and
        # integer-part overflow fall through to the
        # rounding/saturating double path (MySQL converts those via
        # double too).
        int_part = prefix.cast("bigint")
        first_frac = F.regexp_extract(prefix, r"\.([0-9])", 1)
        neg = F.regexp_extract(prefix, r"^[ \t]*(-)", 1) == "-"
        wants_bump = (first_frac != "") & (first_frac >= "5")
        bump = (
            F.when(
                wants_bump & neg & (int_part > F.lit(-(2**63))), F.lit(-1)
            )
            .when(
                wants_bump & ~neg & (int_part < F.lit(2**63 - 1)), F.lit(1)
            )
            .otherwise(F.lit(0))
        )
        fallback = F.coalesce(
            F.when(~prefix.rlike(r"[eE]"), int_part + bump.cast("bigint")),
            F.round(coerced_dbl, 0).cast("bigint"),
        )
    else:
        # MySQL can never store Inf/NaN in a DOUBLE column: 'NaN'
        # coerces like junk (prefix '' -> 0) and '1e400' clamps to
        # ±DBL_MAX — sanitize the direct cast so coalesce falls back
        raw_dbl = raw_col.cast("double")
        exact = F.when(
            ~F.isnan(raw_dbl) & (F.abs(raw_dbl) <= dbl_max), raw_dbl
        )
        fallback = F.least(F.greatest(coerced_dbl, -dbl_max), dbl_max)
    return F.when(raw_col.isNull(), F.lit(None).cast(target.lower())).otherwise(
        F.coalesce(exact, fallback)
    )


def badcast_msg(col: str) -> str:
    """The one source of truth for the marker-message format the 1366
    translator (Engine.execute) parses back out."""
    return f"{BADCAST_MARK}{col}{BADCAST_END}"


def strict_cast_sql(ref: str, spark_type: str, col: str) -> str:
    """The strict cast of ``ref`` to a column's declared type, as SQL
    text: the one definition every write path uses (INSERT … VALUES,
    INSERT … SELECT, LOAD DATA, UPDATE, ON DUPLICATE KEY UPDATE, the
    multi-table UPDATE and ALTER MODIFY/CHANGE). MySQL strict mode: a
    non-NULL value whose cast comes back NULL (unparseable string,
    DECIMAL overflow), or whose magnitude saturates a BIGINT, raises
    1366 (``badcast_msg(col)``) instead of storing a wrong value;
    BIGINT targets round (rounding_bigint_cast_sql). The guard costs no
    extra Spark job: it fires inside whichever action first evaluates
    the rows. ``ref`` is named several times, so it must be a column or
    alias bound once: a RAND() is then drawn once, checked and stored
    from the same draw."""
    if spark_type.upper() == "BIGINT":  # column_types reports lowercase
        cast = rounding_bigint_cast_sql(ref)
        bad = f"({ref} IS NOT NULL AND ({cast}) IS NULL) OR ABS(CAST({ref} AS DOUBLE)) > {_LONG_MAX_D}"
    else:
        cast = f"CAST({ref} AS {spark_type})"
        bad = f"{ref} IS NOT NULL AND {cast} IS NULL"
    msg = badcast_msg(col).replace("'", "''")  # keep the literal intact
    return f"CASE WHEN {bad} THEN CAST(raise_error('{msg}') AS {spark_type}) ELSE {cast} END"


# A VALUES cell the inline-table form takes: exactly one plain literal
# token — a number, a quoted string (backslash or doubled-quote
# escapes, as Spark's lexer reads them), NULL, TRUE or FALSE.
_LITERAL_RE = re.compile(
    r"NULL|TRUE|FALSE"
    r"|-?(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?"
    r"|'(?:[^'\\]|\\.|'')*'"
    r'|"(?:[^"\\]|\\.|"")*"',
    re.I | re.S,
)


def _literal_type(cell: str) -> tuple[str, int, int] | None:
    """Spark's parse type of a plain literal VALUES cell as (kind,
    integer digits, scale); kind is null, boolean, string, double
    (exponent form) or exact (INT/BIGINT/DECIMAL). None for any other
    cell, and for exact literals beyond DECIMAL(38)."""
    if not _LITERAL_RE.fullmatch(cell):
        return None
    head = cell[0].upper()
    if head in "'\"":
        return ("string", 0, 0)
    if head == "N":
        return ("null", 0, 0)
    if head in "TF":
        return ("boolean", 0, 0)
    if "e" in cell or "E" in cell:
        return ("double", 0, 0)
    if "." not in cell:  # INT, BIGINT, else DECIMAL(n,0) — Spark widens INT/BIGINT as (10,0)/(20,0)
        v = int(cell)
        digits = 10 if -(2**31) <= v < 2**31 else 20 if -(2**63) <= v < 2**63 else len(str(abs(v)))
        return ("exact", digits, 0) if digits <= 38 else None
    _, digs, exp = Decimal(cell).as_tuple()
    scale = max(-exp, 0)
    int_digits = max(len(digs) - scale, 0)
    return ("exact", int_digits, scale) if int_digits + scale <= 38 else None


def _inline_ok(rows: list[list[str]], target: list[str], types: dict[str, str]) -> bool:
    """True when every cell is a plain literal AND Spark's per-column
    type widening over the inline table cannot change a stored value.
    A column keeps one literal type (NULLs aside), or mixes only exact
    numerics whose widened DECIMAL holds every value exactly and lands
    in a numeric column (a STRING column would store 5 as '5.0').
    Anything else — an exact integer beyond 2^53 beside a double
    literal, strings beside numbers, DECIMAL widening past 38 digits —
    takes the per-row form, where each cell keeps its own type."""
    for i, name in enumerate(target):
        seen = set()
        for row in rows:
            t = _literal_type(row[i])
            if t is None:
                return False
            if t[0] != "null":
                seen.add(t)
        if len(seen) <= 1:
            continue
        numeric = types[name] in ("bigint", "double") or types[name].startswith("decimal")
        if (
            {k for k, _, _ in seen} != {"exact"}
            or not numeric
            or max(d for _, d, _ in seen) + max(s for _, _, s in seen) > 38
        ):
            return False
    return True


def target_columns(listed: list[str] | None, col_types: list[tuple[str, str]]) -> list[str]:
    """An INSERT's target column list: ``listed``, or every column in
    declared order. 1054 for a column the table lacks, 1110 for a
    column listed twice."""
    names = [n for n, _ in col_types]
    target = listed or names
    unknown = [c for c in target if c not in names]
    if unknown:
        raise EbikeError(1054, f"Unknown column '{unknown[0]}' in 'field list'")
    twice = [c for c in target if target.count(c) > 1]
    if twice:
        raise EbikeError(1110, f"Column '{twice[0]}' specified twice")
    return target


def typed_frame(
    src: DataFrame, target: list[str], col_types: list[tuple[str, str]], coerce: bool = False
) -> DataFrame:
    """A data-sized row source (INSERT … SELECT, LOAD DATA) typed to the
    table's columns: the i-th source column, renamed ``_c<i>``, feeds
    the i-th ``target`` column through strict_cast_sql, and every other
    column is a typed NULL. ``coerce`` is LOAD DATA IGNORE, where MySQL
    stores the closest value instead of failing: the numeric family
    takes _mysql_coerce_numeric, and other types a plain cast, NULL on
    failure (Spark has no zero-date)."""
    if len(src.columns) != len(target):
        raise EbikeError(1136, "Column count doesn't match value count")
    pos = {c: i for i, c in enumerate(target)}

    def cast(name: str, typ: str):
        if name not in pos:
            return F.lit(None).cast(typ)
        ref = f"_c{pos[name]}"
        if not coerce:
            return F.expr(strict_cast_sql(f"`{ref}`", typ, name))
        if typ.upper() in ("BIGINT", "DOUBLE"):
            return _mysql_coerce_numeric(ref, typ.upper())
        return F.col(ref).cast(typ)

    # positional names: a SELECT may repeat a column name
    src = src.toDF(*[f"_c{i}" for i in range(len(target))])
    return src.select(*[cast(n, t).alias(n) for n, t in col_types])


def _values_df(spark: SparkSession, ins: Insert, col_types: list[tuple[str, str]]) -> DataFrame:
    """Evaluate VALUES rows to the table's declared types, each value
    through strict_cast_sql. Two forms, one plan shape each:

    - all cells plain literals (_inline_ok): ONE inline table,
      ``SELECT <strict casts> FROM VALUES (…),(…)``. Catalyst resolves
      it to a LocalRelation and folds the projection into it while
      optimising, so collecting it runs no Spark job, a bad cast raises
      right there, and writing it is one partition — one file — at any
      batch size.
    - otherwise one ``SELECT`` per row, ``UNION ALL``-ed: cells may be
      constant expressions, reference earlier columns (``VALUES (1,
      a + 1)``) or draw RAND(). Plan size grows with the row count;
      only hand-written batches need this form."""
    names = [n for n, _ in col_types]
    types = dict(col_types)
    target = target_columns(ins.columns, col_types)
    if any(len(row) != len(target) for row in ins.rows):
        raise EbikeError(1136, "Column count doesn't match value count")
    if _inline_ok(ins.rows, target, types):
        # positional aliases: the i-th VALUES column is `__r_i`
        cols = [
            f"{strict_cast_sql(f'`__r_{target.index(name)}`', types[name], name)} AS `{name}`"
            if name in target
            else f"CAST(NULL AS {types[name]}) AS `{name}`"
            for name in names
        ]
        values = ", ".join(f"({', '.join(row)})" for row in ins.rows)
        aliases = ", ".join(f"`__r_{i}`" for i in range(len(target)))
        return spark.sql(f"SELECT {', '.join(cols)} FROM VALUES {values} AS __v({aliases})")
    typed = ", ".join(f"`{name}`" for name in names)
    selects = []
    for row in ins.rows:
        # Non-target columns bind FIRST: a VALUES expression may
        # reference one (MySQL resolves it to the column default — NULL
        # here) via lateral alias REGARDLESS of declaration order,
        # because MySQL never assigns non-target columns during row
        # evaluation. Lateral column aliases resolve left-to-right, so
        # fronting them makes `INSERT INTO t (a) VALUES (b)` work even
        # when b is declared after a.
        cols = [f"CAST(NULL AS {types[name]}) AS `{name}`" for name in names if name not in target]
        for name in names:
            if name in target:
                # the cell is bound once as `__r_<name>`, and its
                # strict cast lands under the COLUMN name, so a later
                # cell's reference (`VALUES (1, a + 1)`) sees the
                # stored value through a lateral alias
                cols.append(f"({row[target.index(name)]}) AS `__r_{name}`")
                cols.append(f"{strict_cast_sql(f'`__r_{name}`', types[name], name)} AS `{name}`")
        # each row projects its typed columns before the UNION ALL: the
        # raw `__r_` cells of a column may differ in kind from row to
        # row (TRUE beside 0), which UNION ALL cannot widen
        selects.append(f"SELECT {typed} FROM (SELECT {', '.join(cols)})")
    return spark.sql(" UNION ALL ".join(selects))


def _key_value(v):
    """A key component as Spark's grouping compares it: NaN equals
    NaN (Python's float NaN does not equal itself)."""
    return ("NaN",) if isinstance(v, float) and v != v else v


def _in_sql(col: str, typ: str, values: set) -> str | None:
    """``col IN (…)`` as SQL text over collected key values — one
    py4j call for any batch size, where Column.isin pays a round trip
    per value. Values go back through CAST of their text to the column
    type, exact for the integer, string, decimal, date and boolean
    types. None for the others — TIMESTAMP is collected as local
    wall-clock time, and a floating IN would not equate -0.0 with 0.0
    as the join does — and the caller then semi-joins alone."""
    if typ in ("timestamp", "double", "float"):
        return None

    def lit(v) -> str:
        if isinstance(v, int) and not isinstance(v, bool):
            return str(v)
        text = "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"
        return text if typ == "string" else f"CAST({text} AS {typ})"

    return f"`{col}` IN ({', '.join(lit(v) for v in values)})"


def _stored_clash(existing: DataFrame, new_rows: DataFrame, cols: list[str], tuples: list):
    """A stored row whose key ``cols`` equals one of the batch key
    ``tuples`` (no NULLs), or None — one job: IN filters the parquet
    scan pushes down, plus a semi-join on the batch when the filters
    alone are not exact (a multi-column key, or a column type _in_sql
    leaves out)."""
    types = {f.name: f.dataType.simpleString() for f in existing.schema.fields}
    filters = [_in_sql(c, types[c], {t[i] for t in tuples}) for i, c in enumerate(cols)]
    clash = existing.select(*cols)
    if any(filters):
        clash = clash.where(" AND ".join(f"({f})" for f in filters if f))
    if len(cols) > 1 or not all(filters):
        clash = clash.join(new_rows.select(*cols), on=cols, how="left_semi")
    # no limit(1): an incremental limit scans partition by partition,
    # one job each, when nothing matches — the common case. The stored
    # key is unique, so at most one row per batch tuple comes back.
    found = clash.collect()
    return found[0] if found else None


def null_columns(
    catalog: Catalog,
    qualified: str,
    df: DataFrame,
    props: dict[str, str] | None = None,
    rows: list | None = None,
):
    """Yield each NOT NULL column that holds a NULL — over the collected
    ``rows`` when given, else one Spark job per column. Shared by the
    INSERT checks and CHECK TABLE."""
    for col in catalog.not_null_cols(qualified, props):
        if (
            any(r[col] is None for r in rows)
            if rows is not None
            else df.where(F.col(col).isNull()).limit(1).count() > 0
        ):
            yield col


def _check_not_null(
    catalog: Catalog,
    qualified: str,
    new_rows: DataFrame,
    props: dict[str, str],
    rows: list | None = None,
) -> None:
    """1048 on the first NOT NULL column holding a NULL."""
    for col in null_columns(catalog, qualified, new_rows, props, rows):
        raise EbikeError(1048, f"Column '{col}' cannot be null")


def _check_constraints(
    spark: SparkSession,
    catalog: Catalog,
    qualified: str,
    new_rows: DataFrame,
    props: dict[str, str],
    rows: list | None = None,
) -> None:
    """NOT NULL (1048), then per PRIMARY/UNIQUE key: duplicates inside
    the batch, then clashes with stored rows (1062). UNIQUE keys take
    MySQL's NULL exemption (any number of NULLs in a unique index).

    ``rows`` is the batch already collected on the driver (an INSERT …
    VALUES statement): NOT NULL and the in-batch duplicates are then
    checked in Python, and each key probes the stored rows with one
    job (_stored_clash). Without it (LOAD DATA, INSERT … SELECT:
    data-sized input) every check is a Spark job over ``new_rows``."""
    _check_not_null(catalog, qualified, new_rows, props, rows)
    keys = declared_keys(catalog, qualified, props)
    if not keys:
        return
    existing = spark.table(qualified)
    for key_name, cols in keys:
        if rows is not None:
            tuples = [tuple(r[c] for c in cols) for r in rows]
            if key_name != "PRIMARY":
                tuples = [t for t in tuples if None not in t]
            seen = set()
            for t in tuples:
                k = tuple(_key_value(v) for v in t)
                if k in seen:
                    raise duplicate_entry("-".join(str(v) for v in t), key_name)
                seen.add(k)
            # NULL components never equi-match a stored row
            probe = [t for t in tuples if None not in t]
            clash = _stored_clash(existing, new_rows, cols, probe) if probe else None
        else:
            raise_on_duplicate(new_rows, [(key_name, cols)])
            found = (
                new_rows.select(*cols)
                .join(existing.select(*cols), on=cols, how="inner")
                .limit(1)
                .collect()
            )
            clash = found[0] if found else None
        if clash is not None:
            raise duplicate_entry("-".join(str(clash[c]) for c in cols), key_name)


def _append(
    spark: SparkSession, qualified: str, df: DataFrame, has_rowid: bool
) -> None:
    """Append ``df`` (the table's user columns) to the table. Row
    identity materializes here (one uuid per row, stable for the row's
    lifetime); the frame is aligned to the PHYSICAL column order,
    because insertInto is positional and ALTER ADD COLUMN places later
    columns after rowid."""
    if has_rowid:
        df = df.withColumn(ROWID, F.expr("uuid()")).select(*spark.table(qualified).columns)
    df.write.insertInto(qualified, overwrite=False)
    commit.bump(spark, qualified)


def _mint_auto_increment(
    spark: SparkSession, qualified: str, df: DataFrame, ai: str
) -> tuple[DataFrame, int | None]:
    """Assign AUTO_INCREMENT values to rows whose ``ai`` evaluated NULL
    (MySQL mints on NULL or omitted). MySQL bumps the counter ROW BY
    ROW in batch order — an explicit id only lifts the counter for
    LATER rows, so VALUES (NULL),(100),(NULL) on an empty table mints
    1, keeps 100, mints 101. Closed form over the batch: with N_i the
    running NULL count through row i, a NULL row mints
    ``N_i + max(stored, max over earlier explicit rows j of
    (e_j - N_j))`` — the window below computes exactly that, no
    per-row driver loop. Returns (df, first_minted_id | None) —
    LAST_INSERT_ID is the FIRST minted id of the batch. The stored
    side contributes one MAX aggregate, which Spark computes with
    map-side partials at any table size."""
    n_null = df.where(F.col(ai).isNull()).count()
    if n_null == 0:
        # fully-explicit batch: skip the stored MAX probe (a full-table
        # aggregate — wasted work on the DML path)
        return df, None
    stored = spark.table(qualified).agg(F.max(F.col(ai).cast("long"))).collect()[0][0] or 0
    run = Window.orderBy("__vidx").rowsBetween(Window.unboundedPreceding, 0)
    prev = Window.orderBy("__vidx").rowsBetween(Window.unboundedPreceding, -1)
    n_cum = F.sum(F.when(F.col(ai).isNull(), 1).otherwise(0)).over(run)
    explicit_key = F.when(F.col(ai).isNotNull(), F.col(ai).cast("long") - n_cum)
    counter_base = F.greatest(
        F.lit(stored), F.coalesce(F.max(explicit_key).over(prev), F.lit(stored))
    )
    minted = (n_cum + counter_base).cast(df.schema[ai].dataType)
    tagged = df.withColumn("__vidx", F.monotonically_increasing_id())
    first_id = (
        tagged.withColumn("__mint", minted)
        .where(F.col(ai).isNull())
        .orderBy("__vidx")
        .select(F.col("__mint").cast("long"))
        .limit(1)
        .collect()[0][0]
    )
    out = (
        tagged.withColumn(ai, F.coalesce(F.col(ai), minted))
        .drop("__vidx")
    )
    return out, int(first_id)


def land(
    spark: SparkSession,
    catalog: Catalog,
    qualified: str,
    df: DataFrame,
    props: dict[str, str],
    mode: str = "",
    on_dup: list[tuple[str, str]] | None = None,
    n_rows: int | None = None,
) -> tuple[int, int | None]:
    """Land an INSERT's rows — the one tail of every row source.

    ``df`` holds the table's user columns, already typed. ``mode`` is
    REPLACE, IGNORE or "" (plain, or ON DUPLICATE KEY UPDATE with its
    ``on_dup`` assignments). ``n_rows`` is the row count of a
    statement-sized batch (INSERT … VALUES): a plain insert then
    collects it once, checks it on the driver and writes one file. None
    marks a data-sized source, checked by Spark jobs and counted
    lazily. With no PRIMARY/UNIQUE key every mode is a plain insert, as
    in MySQL. Returns (affected rows, first minted AUTO_INCREMENT id of
    a row that landed, or None)."""
    ai = catalog.auto_increment_col(qualified, props)
    keys = declared_keys(catalog, qualified, props)
    ignore = bool(keys) and mode == "IGNORE"
    first_id = None
    if ai is not None:
        if ignore:
            df = df.withColumn(_MINTED, F.col(ai).isNull())
        df, first_id = _mint_auto_increment(spark, qualified, df, ai)
    has_rowid = catalog.has_rowid(qualified, props)
    if keys and mode == "REPLACE":
        n = _replace(spark, catalog, qualified, df, n_rows, props)
    elif keys and on_dup is not None:
        n = _upsert(spark, catalog, qualified, df, on_dup, props)
    elif ignore:
        # LAST_INSERT_ID() is the first id of a row IGNORE kept
        n, first_id = _insert_ignore(
            spark, catalog, qualified, df, props, ai if first_id is not None else None
        )
    elif n_rows is not None:
        # the strict guard raises 1366 in this collect; an inline-table
        # batch runs no job for it
        rows = df.collect()
        _check_constraints(spark, catalog, qualified, df, props, rows=rows)
        _append(spark, qualified, df.coalesce(1), has_rowid)
        n = len(rows)
    else:
        _check_constraints(spark, catalog, qualified, df, props)
        n = df.count()
        _append(spark, qualified, df, has_rowid)
    return n, first_id


def insert(
    spark: SparkSession, catalog: Catalog, ins: Insert, current_db: str
) -> tuple[int, int | None]:
    """INSERT … VALUES: the rows evaluated by _values_df, then landed."""
    qualified = catalog.qualify(ins.table, current_db)
    catalog.require_table(qualified)
    with commit.writing(spark, qualified):
        props = catalog.properties(qualified)
        df = _values_df(spark, ins, catalog.column_types(qualified, props))
        mode = "REPLACE" if ins.replace else "IGNORE" if ins.ignore else ""
        return land(spark, catalog, qualified, df, props, mode, ins.on_dup_update, len(ins.rows))


def _any_key(keys: list[tuple[str, list[str]]], prefix: str = "__new_"):
    """The any-key match of one side's rows against the other's: an OR
    over the declared keys of each key's column equalities, ``c`` on
    one side against ``<prefix>c`` on the other. NULL never
    equi-matches — MySQL's unique-index semantics."""
    return reduce(
        or_,
        [reduce(and_, [F.col(c) == F.col(f"{prefix}{c}") for c in cols]) for _, cols in keys],
    )


def assign(df: DataFrame, matched, assignments: dict[str, str], types: dict[str, str]):
    """Bind each assignment of an UPDATE-like statement once per row:
    the matched flag as ``__m``, the value of each SQL expression in
    ``assignments`` as ``__r<i>`` and its strict cast as ``__n<i>``, the
    column's new value. Both are evaluated only where ``matched`` holds
    (the old value stays elsewhere), so the guard never fires on a row
    the statement leaves alone, and a bad value raises 1366 even where
    the old value is NULL. Returns the frame, the new value of each
    assigned column, and the predicate of a row whose value changed
    (MySQL counts changed rows, not matched ones)."""
    cols = [F.coalesce(matched, F.lit(False)).alias("__m")]
    new_vals = {}
    for i, (name, expr) in enumerate(assignments.items()):
        cast = strict_cast_sql(f"`__r{i}`", types[name], name)
        cols.append(F.expr(f"CASE WHEN `__m` THEN ({expr}) END").alias(f"__r{i}"))
        cols.append(F.expr(f"CASE WHEN `__m` THEN {cast} ELSE `{name}` END").alias(f"__n{i}"))
        new_vals[name] = F.col(f"__n{i}")
    changed = reduce(or_, [~v.eqNullSafe(F.col(name)) for name, v in new_vals.items()])
    return df.select("*", *cols), new_vals, changed


def _upsert(
    spark: SparkSession,
    catalog: Catalog,
    qualified: str,
    new_df,
    assignments: list[tuple[str, str]],
    props: dict[str, str],
) -> int:
    """INSERT ... ON DUPLICATE KEY UPDATE (MySQL upsert) as the
    anti-join + union + rewrite emulation of MERGE, the idiomatic
    parquet upsert without a Delta dependency. The table has at least
    one PRIMARY/UNIQUE key (land routes a keyless table to a plain
    insert: the clause never fires).

    Conflict pairing follows MySQL: a row conflicts if it matches an
    existing row on the PRIMARY KEY *or any UNIQUE index*. Assignments
    may reference the existing row's columns and ``VALUES(col)`` for
    the incoming value. Affected-rows follows MySQL: 1 per inserted,
    2 per updated-and-changed, 0 per matched-but-unchanged. Batches
    where one new row matches several existing rows (or vice versa)
    through *different* keys are order-dependent in MySQL; this
    set-oriented implementation rejects them as 1105 rather than pick
    an arbitrary order.
    """
    keys = declared_keys(catalog, qualified, props)
    # intra-batch duplicates on any key are ambiguous upserts → 1062,
    # like plain inserts
    raise_on_duplicate(new_df, keys)

    existing = spark.table(qualified)
    batch = new_df.select(
        F.lit(1).alias("__new_mark"), *[F.col(c).alias(f"__new_{c}") for c in new_df.columns]
    )
    any_key = _any_key(keys)
    pairs = existing.join(batch, any_key, "inner").count()
    matched_new = batch.join(existing, any_key, "left_semi").count()
    matched_old = existing.join(batch, any_key, "left_semi").count()
    if pairs != matched_new or pairs != matched_old:
        raise EbikeError(
            1105,
            "ambiguous ON DUPLICATE KEY UPDATE: a row matches multiple rows "
            "through different unique keys (order-dependent in MySQL)",
        )

    joined = existing.join(batch, any_key, "left")
    types = dict(catalog.column_types(qualified, props))
    assigned = dict(assignments)
    for name in assigned:  # hidden rowid is not assignable either
        if name not in types:
            raise EbikeError(1054, f"Unknown column '{name}' in 'field list'")
    # VALUES(col) → the incoming row's value for col
    assigned = {
        name: re.sub(r"\bVALUES\s*\(\s*`?(\w+)`?\s*\)", r"__new_\1", expr, flags=re.I)
        for name, expr in assigned.items()
    }
    joined, new_vals, changed = assign(joined, F.col("__new_mark").isNotNull(), assigned, types)
    n_changed = joined.where(changed).count()
    out_cols = [new_vals.get(name, F.col(name)).alias(name) for name in existing.columns]
    updated = joined.select(*out_cols)
    to_insert = batch.join(existing, any_key, "left_anti").select(
        *[F.col(f"__new_{c}").alias(c) for c in new_df.columns]
    )
    if catalog.has_rowid(qualified, props):
        # updated rows KEEP their rowid (out_cols passes it through
        # unassigned); only genuinely new rows mint one
        to_insert = to_insert.withColumn(ROWID, F.expr("uuid()"))
    n_new = to_insert.count()
    final = updated.unionByName(to_insert)
    # an assignment that writes a key column can collide rows that did
    # not collide before: validate the post-image before the commit
    recheck_keys_after_update(catalog, qualified, final, set(assigned), props)
    _rewrite(spark, commit.Image(qualified, final))
    return n_new + 2 * n_changed


def _insert_ignore(
    spark: SparkSession,
    catalog: Catalog,
    qualified: str,
    new_df,
    props: dict[str, str],
    ai: str | None = None,
) -> tuple[int, int | None]:
    """INSERT IGNORE (MySQL duplicate-skip) into a table with at least
    one PRIMARY/UNIQUE key: rows whose PRIMARY/UNIQUE
    key collides with a stored row OR an earlier row of the same batch
    are silently skipped (first row wins within the batch — MySQL
    processes VALUES in order and the later duplicate is the one
    ignored); affected-rows counts only the rows actually inserted.
    Documented divergence: MySQL's IGNORE also downgrades NOT NULL /
    type errors to warnings with implicit defaults — here those still
    error (1048), matching this engine's strict-constraint stance.

    Scale shape: with a single unique index (the common bulk-load
    case) the whole resolution is distributed — one row_number window
    for the intra-batch first-wins plus one anti-join against the
    stored side; nothing data-sized touches the driver, so LOAD DATA
    IGNORE streams through at any file size. With MULTIPLE unique
    indexes the first-wins interleave is inherently sequential
    (acceptance of a row depends recursively on whether its earlier
    colliders were themselves accepted, and reject-chains can be
    arbitrarily long), so that path keeps MySQL's row-by-row replay on
    the driver and is capped at ``_IGNORE_REPLAY_CAP`` rows — a bulk
    load over the cap raises 1105 suggesting REPLACE (fully
    distributed) or a single-index target.

    Why no distributive form exists (the cap is the right call, not a
    shortcut): a per-index iterative anti-join — apply indexes in
    declaration order, first-wins within each, feeding survivors to
    the next index — is NOT MySQL-equivalent. Counterexample with
    unique indexes A then B and batch r1=(a1,b1), r2=(a2,b1),
    r3=(a2,b2): MySQL accepts r1, rejects r2 (B-conflict with r1), and
    ACCEPTS r3 — the rejected r2 never entered index A, so it cannot
    suppress r3. The A-then-B pipeline instead drops r3 in the A pass
    (a2 duplicate of the not-yet-rejected r2) and yields {r1} where
    MySQL yields {r1, r3}. In general, first-wins acceptance is the
    lexicographically-first maximal independent set of the batch's
    conflict graph (rows = vertices, any-index collisions = edges),
    and LFMIS is P-complete (Cook 1985) — no NC/parallel (hence no
    shuffle-distributive) computation exists for it unless NC = P.
    REPLACE escapes this because last-wins per index is
    order-reducible per key (a row_number window), not graph-greedy.

    Returns (rows inserted, smallest ``ai`` value among the inserted
    rows marked ``_MINTED`` — the first id minted for a kept row — or
    None without ``ai``)."""
    _check_not_null(catalog, qualified, new_df, props)
    keys = declared_keys(catalog, qualified, props)
    existing = spark.table(qualified)
    if len(keys) == 1:
        # Single unique index: stored-conflict status depends only on
        # the key VALUE, so every occurrence of a tuple shares it and
        # "first non-stored-clashed occurrence wins" reduces to first
        # occurrence per tuple, anti-joined against the stored keys.
        # NULL key components never conflict (partition alone).
        _, cols = keys[0]
        tagged = new_df.withColumn("__vidx", F.monotonically_increasing_id())
        key_null = reduce(or_, [F.col(c).isNull() for c in cols])
        w = Window.partitionBy(
            *[F.col(c) for c in cols],
            F.when(key_null, F.col("__vidx")).otherwise(F.lit(0)),
        ).orderBy(F.col("__vidx").asc())
        firsts = (
            tagged.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn", "__vidx")
        )
        stored = existing.select(*[F.col(c).alias(f"__e_{c}") for c in cols])
        surviving = firsts.join(stored, _any_key(keys, "__e_"), "left_anti")
        n = surviving.count()
    else:
        if new_df.limit(_IGNORE_REPLAY_CAP + 1).count() > _IGNORE_REPLAY_CAP:
            raise EbikeError(
                1105,
                "INSERT IGNORE / LOAD DATA IGNORE into a table with "
                f"multiple unique indexes is capped at {_IGNORE_REPLAY_CAP} "
                "rows per statement (MySQL's first-wins interleave across "
                "several indexes is order-dependent and replays on the "
                "driver); split the load, use REPLACE, or target a "
                "single-index table",
            )
        # Row-by-row replay, interleaving STORED conflicts: a row MySQL
        # skips for a stored-index conflict never enters the index, so
        # it must not suppress later batch rows either — e.g. stored
        # (1,'a'), batch (1,'b'),(2,'b'): (1,'b') skips on the stored
        # PK, therefore (2,'b') DOES insert. Stored-conflict status is
        # static per row (IGNORE never deletes), so it precomputes as
        # one semi-join returning the conflicting vidx set.
        key_cols = sorted({c for _, cols in keys for c in cols})
        tagged = new_df.withColumn("__vidx", F.monotonically_increasing_id())
        batch = tagged.select(
            "__vidx", *[F.col(c).alias(f"__new_{c}") for c in key_cols]
        )
        stored_clash = {
            r["__vidx"]
            for r in batch.join(existing, _any_key(keys), "left_semi")
            .select("__vidx")
            .collect()
        }
        batch_keys = [
            (r["__vidx"], r) for r in tagged.select("__vidx", *key_cols).collect()
        ]
        batch_keys.sort(key=lambda p: p[0])
        live: dict[int, dict] = {}
        for vidx, row in batch_keys:
            if vidx in stored_clash:
                continue
            clash = any(
                all(row[c] is not None and row[c] == orow[c] for c in cols)
                for orow in live.values()
                for _, cols in keys
            )
            if not clash:
                live[vidx] = row
        surviving = tagged.where(F.col("__vidx").isin(sorted(live))).drop("__vidx")
        n = len(live)
    first_id = None
    if n and ai is not None:
        # before the append: the single-index survivors anti-join the
        # stored rows
        first_id = surviving.where(F.col(_MINTED)).agg(F.min(ai)).first()[0]
    if n:
        _append(spark, qualified, surviving.drop(_MINTED), catalog.has_rowid(qualified, props))
    return n, first_id


def _replace(
    spark: SparkSession,
    catalog: Catalog,
    qualified: str,
    new_df,
    n_rows: int | None,
    props: dict[str, str],
) -> int:
    """REPLACE INTO (MySQL delete-then-insert upsert; the same
    set-oriented MERGE emulation as :func:`_upsert`) into a table with
    at least one PRIMARY/UNIQUE key. ``n_rows`` is the batch's row
    count, or None to count it here.

    Semantics: every existing row that conflicts with an incoming row
    on the PRIMARY KEY *or any UNIQUE index* is deleted, then the whole
    batch is inserted. Affected-rows follows MySQL: 1 per inserted row
    plus 1 per deleted row. MySQL applies the batch
    row-by-row, so intra-batch key collisions resolve in statement
    order — a later row REPLACEs an earlier batch row exactly as it
    replaces a stored one.

    The intra-batch resolution is fully DISTRIBUTED (one row_number
    window per unique index — no driver-side key collection), which is
    what lets LOAD DATA route bulk files through this path without a
    driver-memory ceiling. It is provably equivalent to MySQL's
    row-by-row replay: a batch row survives iff NO later batch row
    collides with it DIRECTLY on some key. (Replay ⇒ rule: if a later
    row Y collides with X, then at Y's turn X is either already
    evicted or Y evicts it — dead either way. Rule ⇒ replay: eviction
    only ever comes from a direct later collider, and an evicted row
    never re-enters `live`, so with no later collider X survives.)
    Each non-survivor is evicted exactly once, so the intra-batch
    delete count is n_batch − n_survivors."""
    keys = declared_keys(catalog, qualified, props)
    # NOT NULL still applies to the incoming batch (key conflicts with
    # stored rows are the point of REPLACE, so no clash check)
    _check_not_null(catalog, qualified, new_df, props)

    # Intra-batch collisions, resolved distributively: survivor = the
    # LAST batch row per non-null key tuple, simultaneously for every
    # unique index (see the docstring proof). Rows with a NULL key
    # component never conflict on that index (unique-index semantics),
    # so they partition alone via the __vidx disambiguator.
    # monotonically_increasing_id is (partition << 33) + offset and the
    # csv/VALUES partition order follows statement/file order, so it
    # IS the statement position.
    tagged = new_df.withColumn("__vidx", F.monotonically_increasing_id())
    ranked = tagged
    for i, (_, cols) in enumerate(keys):
        key_null = reduce(or_, [F.col(c).isNull() for c in cols])
        w = Window.partitionBy(
            *[F.col(c) for c in cols],
            F.when(key_null, F.col("__vidx")).otherwise(F.lit(0)),
        ).orderBy(F.col("__vidx").desc())
        ranked = ranked.withColumn(f"__rn{i}", F.row_number().over(w))
    keep = reduce(and_, [F.col(f"__rn{i}") == 1 for i in range(len(keys))])
    rn_cols = [f"__rn{i}" for i in range(len(keys))]
    # Stored-conflict deletion uses the FULL batch: an evicted batch
    # row still deleted its stored conflicts while it was live (MySQL
    # processes it before the later row replaces it) — a stored row
    # never "comes back". Only the survivors are inserted.
    n_batch = new_df.count() if n_rows is None else n_rows
    full_batch = tagged.drop("__vidx")
    new_df = ranked.where(keep).drop("__vidx", *rn_cols)
    intra_deleted = n_batch - new_df.count()

    existing = spark.table(qualified)
    batch = full_batch.select(*[F.col(c).alias(f"__new_{c}") for c in full_batch.columns])
    any_key = _any_key(keys)
    n_deleted = existing.join(batch, any_key, "left_semi").count()
    survivors = existing.join(batch, any_key, "left_anti")
    to_insert = new_df
    if catalog.has_rowid(qualified, props):
        # REPLACE is delete + insert: the replacement row is a NEW row
        # and mints a fresh rowid (unlike ON DUPLICATE, which updates
        # in place and keeps it) — MySQL-faithful, same as its handler
        # delete/write_row pair
        to_insert = to_insert.withColumn(ROWID, F.expr("uuid()")).select(
            *existing.columns
        )
    _rewrite(spark, commit.Image(qualified, survivors.unionByName(to_insert)))
    # MySQL affected-rows: 1 per batch row inserted (including ones a
    # later batch row then replaced) + 1 per deleted row (stored or
    # earlier-batch)
    return n_batch + n_deleted + intra_deleted


def _rewrite(spark: SparkSession, *images: commit.Image) -> None:
    """Commit DML post-images through the one commit primitive
    (engine/commit.py): each is written once into its table's next
    version directory, then every table is re-pointed at its own. A
    failure before the re-point completes leaves every table and its
    catalog entry as they were."""
    commit.commit(spark, images)


def update(spark: SparkSession, catalog: Catalog, upd: Update, current_db: str) -> int:
    qualified = catalog.qualify(upd.table, current_db)
    catalog.require_table(qualified)
    with commit.writing(spark, qualified):
        return _update(spark, catalog, upd, qualified)


def _update(spark: SparkSession, catalog: Catalog, upd: Update, qualified: str) -> int:
    t = spark.table(qualified)
    cond = F.expr(upd.where) if upd.where else F.lit(True)
    if upd.limit is not None:
        # UPDATE ... [ORDER BY ...] LIMIT n: bound the MATCHED set by a
        # distributed top-k of rowids (same shape as _delete_limited),
        # then proceed with membership as the effective condition.
        if not catalog.has_rowid(qualified):
            raise unsupported("UPDATE ... LIMIT on a table without the hidden rowid")
        order = _order_cols(upd.order_by) if upd.order_by else [F.col(ROWID)]
        doomed = (
            t.where(F.coalesce(cond, F.lit(False)))
            .orderBy(*order)
            .limit(upd.limit)
            .select(F.col(ROWID).alias("__upd_rid"))
        )
        t = t.join(
            F.broadcast(doomed), t[ROWID] == F.col("__upd_rid"), "left"
        )
        cond = F.col("__upd_rid").isNotNull()
    types = dict(catalog.column_types(qualified))
    assigned = dict(upd.assignments)
    for name in assigned:  # hidden rowid is not assignable either
        if name not in types:
            raise EbikeError(1054, f"Unknown column '{name}' in 'field list'")
    t, new_vals, changed = assign(t, cond, assigned, types)
    affected = t.where(changed).count()
    if affected == 0:
        return 0
    # project the TABLE's columns only (the LIMIT path joined a helper
    # __upd_rid column onto t that must not reach the post-image)
    cols = [new_vals.get(name, F.col(name)).alias(name) for name in spark.table(qualified).columns]
    new_df = t.select(*cols)
    recheck_keys_after_update(catalog, qualified, new_df, set(assigned))
    _rewrite(spark, commit.Image(qualified, new_df))
    return affected


def declared_keys(
    catalog: Catalog, qualified: str, props: dict[str, str] | None = None
) -> list[tuple[str, list[str]]]:
    """The table's PRIMARY + UNIQUE key list in check order — the one
    definition every duplicate probe shares."""
    keys: list[tuple[str, list[str]]] = []
    pk = catalog.primary_key(qualified, props)
    if pk:
        keys.append(("PRIMARY", pk))
    keys.extend(catalog.unique_keys(qualified, props))
    return keys


def duplicate_key_probe(df, keys):
    """Yield (key_name, duplicated value as MySQL prints it) for each
    key with at least one duplicated tuple in ``df``, one LIMIT 1
    aggregate job per key. Non-PRIMARY keys get MySQL's NULL exemption
    (any number of NULLs in a unique index). The one definition of an
    in-frame duplicate: data-sized INSERT checks, ON DUPLICATE KEY
    UPDATE, the UPDATE post-image re-check, ALTER ADD PRIMARY KEY /
    ADD UNIQUE and CHECK TABLE all use it."""
    for key_name, kcols in keys:
        cand = df
        if key_name != "PRIMARY":
            cand = cand.where(reduce(and_, [F.col(c).isNotNull() for c in kcols]))
        dup = cand.groupBy(*kcols).count().where(F.col("count") > 1).limit(1).collect()
        if dup:
            yield key_name, "-".join(str(dup[0][c]) for c in kcols)


def raise_on_duplicate(df, keys) -> None:
    """1062 for the first of ``keys`` that ``df`` holds twice."""
    for key_name, value in duplicate_key_probe(df, keys):
        raise duplicate_entry(value, key_name)


def recheck_keys_after_update(
    catalog: Catalog,
    qualified: str,
    new_df,
    assigned: set[str],
    props: dict[str, str] | None = None,
) -> None:
    """Re-check the keys an assignment touches on the post-image before
    it is committed: UPDATE, the multi-table UPDATE and ON DUPLICATE
    KEY UPDATE can collide rows that did not collide before."""
    keys = declared_keys(catalog, qualified, props)
    raise_on_duplicate(new_df, [(name, kcols) for name, kcols in keys if set(kcols) & assigned])


def delete(spark: SparkSession, catalog: Catalog, dele: Delete, current_db: str) -> int:
    qualified = catalog.qualify(dele.table, current_db)
    catalog.require_table(qualified)
    with commit.writing(spark, qualified):
        t = spark.table(qualified)
        cond = F.expr(dele.where) if dele.where else F.lit(True)
        # MySQL deletes only rows where the predicate is TRUE; a NULL
        # predicate (e.g. `x > 5` with x NULL) keeps the row. Plain
        # `~cond` would silently delete NULL rows (NOT NULL → NULL → drop).
        cond_true = F.coalesce(cond, F.lit(False))
        if dele.limit is not None:
            return _delete_limited(spark, catalog, qualified, t, cond_true, dele)
        return _delete_files(spark, qualified, t, cond_true)


def _delete_files(spark: SparkSession, qualified: str, t: DataFrame, cond_true) -> int:
    """DELETE without LIMIT, file by file. One probe job counts the
    matching rows per data file. A file in which every row matches (its
    row total is in the parquet footer) is dropped; an untouched file
    carries over into the next version as a hard link; only files that
    match in part are rewritten, filtered. Deleting exactly the rows of
    whole files therefore writes no rows at all."""
    import pyarrow.parquet as pq

    path = F.col("_metadata.file_path")
    hits = dict(t.where(cond_true).groupBy(path).count().collect())
    if not hits:
        return 0
    matched = {commit.local_path(f) for f in hits}
    partial = [
        f for f, n in hits.items() if n < pq.read_metadata(commit.local_path(f)).num_rows
    ]
    links = tuple(f for f in commit.data_files(t) if f not in matched)
    rest = t.where(path.isin(partial)).where(~cond_true) if partial else None
    _rewrite(spark, commit.Image(qualified, rest, links))
    return sum(hits.values())


def _delete_limited(
    spark: SparkSession, catalog: Catalog, qualified: str, t, cond_true, dele: Delete
) -> int:
    """DELETE ... [ORDER BY ...] LIMIT n (MySQL bounded delete): pick
    the doomed rows' hidden rowids with a distributed top-k
    (orderBy + limit → TakeOrderedAndProject, never a single-task full
    sort), then remove them by anti-join. Without ORDER BY, MySQL
    deletes an arbitrary n rows; here the rowid orders them so repeat
    runs are deterministic."""
    if not catalog.has_rowid(qualified):
        # a user-declared `rowid` column displaced the hidden one; no
        # stable row identity to bound the delete with
        raise unsupported("DELETE ... LIMIT on a table without the hidden rowid")
    cand = t.where(cond_true)
    order = _order_cols(dele.order_by) if dele.order_by else [F.col(ROWID)]
    doomed = cand.orderBy(*order).limit(dele.limit).select(ROWID)
    affected = doomed.count()
    if affected == 0:
        return 0
    # the using-join hoists rowid to the front; restore the table's
    # column order
    survivors = t.join(doomed, ROWID, "left_anti").select(*t.columns)
    _rewrite(spark, commit.Image(qualified, survivors))
    return affected


def _order_cols(order_by: str) -> list:
    """Parse a raw ORDER BY list into sort Columns (ASC/DESC suffixes
    aren't expression syntax, so they're peeled off here)."""
    cols = []
    for e in split_top_level(order_by):
        m = re.match(r"([\s\S]+?)\s+(ASC|DESC)\s*$", e.strip(), re.I)
        if m:
            c = F.expr(m.group(1))
            cols.append(c.desc() if m.group(2).upper() == "DESC" else c.asc())
        else:
            cols.append(F.expr(e.strip()))
    return cols


def load_data(
    spark: SparkSession,
    catalog: Catalog,
    sql: str,
    current_db: str,
    secure_file_priv: str = "",
) -> tuple[int, int | None]:
    """LOAD DATA [LOCAL] INFILE — MySQL's bulk CSV loader. Supported
    subset: ``FIELDS TERMINATED BY 'x'`` (MySQL default tab), ``IGNORE
    1 LINES`` (the header-skip everyone actually uses — per-file exact
    via the csv header option; other counts raise 1105), an optional
    target column list, and the REPLACE / IGNORE duplicate-handling
    keywords. The file is typed by typed_frame (strict casts, or MySQL's
    closest-value coercion under IGNORE) and landed like any INSERT;
    returns land's (affected rows, first minted id).

    Path safety: reads are gated by the ``secure_file_priv`` system
    variable exactly like MySQL's --secure-file-priv option — when it
    holds a directory, only files under that directory (after symlink
    resolution) load, anything else raises 1290; when it is the empty
    string (this engine's default, a real MySQL configuration) any
    server-readable path loads. Like MySQL, the variable is READ-ONLY
    at runtime (SET → 1238) and fixed at Engine/server construction —
    otherwise any wire client could lift the fence. Documented
    divergence: the LOCAL keyword is accepted but still reads the
    SERVER filesystem (there is no client channel in-process), and the
    same secure_file_priv gate applies to it.

    Scale shape: the file streams through Spark's distributed csv
    reader straight into the constraint checks — no driver-side row
    loop; in unrestricted mode a DIRECTORY of files parallelizes for
    free (under a secure_file_priv fence only regular files load —
    per-entry symlinks inside a directory could escape the fence)."""
    m = re.match(
        r"LOAD\s+DATA\s+(?:LOCAL\s+)?INFILE\s+'([^']+)'\s*"
        r"(REPLACE|IGNORE)?\s*INTO\s+TABLE\s+([\w.`\"]+)([\s\S]*)$",
        sql,
        re.I,
    )
    if not m:
        raise EbikeError(1064, "malformed LOAD DATA INFILE")
    path, mode, tbl_tok, rest = m.group(1), (m.group(2) or "").upper(), m.group(3), m.group(4)
    qualified = catalog.qualify(unquote_ident(tbl_tok), current_db)
    catalog.require_table(qualified)
    if secure_file_priv:
        allowed = os.path.realpath(secure_file_priv)
        real = os.path.realpath(path)
        # MySQL-faithful under the fence: the path must be a REGULAR
        # FILE inside the directory after symlink resolution. A
        # directory is rejected here even if it sits inside the fence —
        # its entries could be symlinks escaping it, and Spark's reader
        # follows them per-file (the directory-of-files convenience is
        # an unrestricted-mode extension only).
        if not (
            (real == allowed or real.startswith(allowed.rstrip(os.sep) + os.sep))
            and os.path.isfile(real)
        ):
            raise EbikeError(
                1290,
                "The ebike-spark server is running with the "
                "--secure-file-priv option so it cannot execute this "
                "statement",
            )
    if not os.path.exists(path):
        raise EbikeError(29, f"File '{path}' not found")

    sep = "\t"  # MySQL default field terminator
    fm = re.search(r"FIELDS\s+TERMINATED\s+BY\s+'((?:[^'\\]|\\.)*)'", rest, re.I)
    if fm:
        sep = fm.group(1).encode().decode("unicode_escape")
    skip_header = False
    im = re.search(r"IGNORE\s+(\d+)\s+LINES", rest, re.I)
    if im:
        if int(im.group(1)) != 1:
            raise EbikeError(1105, "only IGNORE 1 LINES is supported")
        skip_header = True
    with commit.writing(spark, qualified):
        cl = re.search(r"\(([^()]*)\)\s*$", rest.strip())
        props = catalog.properties(qualified)
        col_types = catalog.column_types(qualified, props)
        target = target_columns(
            [unquote_ident(c.strip()) for c in cl.group(1).split(",")] if cl else None, col_types
        )
        raw = (
            spark.read.option("header", skip_header)
            .option("sep", sep)
            .schema(", ".join(f"`_c{i}` string" for i in range(len(target))))
            .csv(path)
        )
        df = typed_frame(raw, target, col_types, coerce=mode == "IGNORE")
        return land(spark, catalog, qualified, df, props, mode)
