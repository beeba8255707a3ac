"""The one way a statement replaces a table's data.

A table is a catalog entry that points at a directory (Catalyst's
data-source tables, *Spark SQL*, SIGMOD'15). A commit never overwrites
that directory. It writes the post-image once into a new sibling
version directory, ``<root>/_v<N>/``, and re-points the entry at it.
The root is the table's first location, ``<database dir>/<table>``;
the leading ``_`` hides version directories from Spark's listing of a
root that is still the live location.

One commit runs four steps; fail_once injects a failure right after
any of them:

1. ``write``   — every target's post-image into its new directory:
   rows written by Spark, plus unchanged data files of the live version
   hard-linked in (a DELETE that empties whole files writes no rows);
2. ``repoint`` — ``ALTER TABLE … SET LOCATION`` for every target, plus
   the data schema and ``ebike.*`` properties when DDL changes them;
3. ``refresh`` — ``REFRESH TABLE`` in the committing session;
4. ``retire``  — delete each old version, once no statement that
   started before the re-point is still running.

A DML post-image counts its own changed rows: the caller attaches the
count to the frame it writes with :func:`observe`
(``DataFrame.observe``), so the count rides inside the write job and no
job counts the rows beforehand. The commit reads each count after all
writes. A post-image that changes no row equals its pre-image: the
commit deletes its new directory and leaves that table alone (no
re-point, refresh, version bump or retire), so a statement that
changes nothing creates no version. No caller skips the commit for a
count of its own; only DELETE's per-file probe, which picks the files,
builds no image when no file matches.

A failure before step 4 deletes the new directories and puts back
every re-pointed catalog entry from a snapshot taken before step 2:
the statement fails and the tables are as they were. A failed retire
leaves an orphan that the start-up sweep (``sweep``) removes.

The module also holds the process-wide registry that makes this safe
across connections:

- a writer lock per table, held from the pre-image read to the
  re-point (``writing``); readers take no lock;
- a version per table, bumped by every change of its files or schema
  (``bump``). Each connection has its own Spark session, which caches
  the table's file listing; before a statement, ``sync`` drops the
  session's cached relation of every table whose version moved;
- the running statements (``statement``), whose reads an old version
  must outlive.

Warehouse directories are one local tree, so hard links never cross
filesystems.
"""

from __future__ import annotations

import itertools
import os
import re
import shutil
import threading
import weakref
from contextlib import contextmanager
from typing import NamedTuple
from urllib.parse import unquote, urlparse

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql.types import StructField, StructType

from ebike_spark.engine.parser import sql_literal

STEPS = ("write", "repoint", "refresh", "retire")
_VERSION = re.compile(r"_v(\d+)")


class Image(NamedTuple):
    """One table's post-image: the rows of ``df`` (None: none) plus
    ``links``, data files of the live version carried over unchanged.
    DDL also gives the new data ``schema`` and the table's new
    ``ebike.*`` properties, ``props``. ``changed`` observes, on ``df``,
    the number of rows the image changes (:func:`observe`); an image
    without it is always committed."""

    qualified: str
    df: DataFrame | None
    links: tuple[str, ...] = ()
    schema: StructType | None = None
    props: dict[str, str] | None = None
    changed: Observation | None = None


def observe(df: DataFrame, n: Column) -> tuple[DataFrame, Observation]:
    """``df`` with the aggregate ``n`` observed as metric ``n`` by the
    first action that evaluates it, and the Observation that reads it.
    Unnamed: connections share one JVM, and a name would be shared."""
    obs = Observation()
    return df.observe(obs, n.alias("n")), obs


_lock = threading.Lock()
_writers: dict[str, threading.RLock] = {}
_versions: dict[str, int] = {}
_generation = [0]
# session -> [generation it last synced at, {table: version it caches}]
_seen: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_clock = itertools.count(1)
_running: set[int] = set()  # ticks of the statements in progress
_pending: list[tuple[int, str]] = []  # (re-point tick, old version) held for readers
_new_dirs: set[str] = set()  # version directories written but not yet live
_faults: set[str] = set()
_tls = threading.local()


class InjectedFault(RuntimeError):
    """The failure fail_once arms."""


def fail_once(step: str) -> None:
    """Arm a one-shot failure at commit ``step`` (one of STEPS)."""
    if step not in STEPS:
        raise ValueError(f"unknown commit step {step!r}")
    with _lock:
        _faults.add(step)


def _checkpoint(step: str) -> None:
    with _lock:
        if step not in _faults:
            return
        _faults.discard(step)
    raise InjectedFault(f"injected failure at commit step '{step}'")


# ------------------------------------------------------------ paths


def _split(qualified: str) -> tuple[str, str]:
    db, _, table = qualified.lower().rpartition(".")
    return db or "default", table


def _quoted(qualified: str) -> str:
    db, table = _split(qualified)
    return f"`{db}`.`{table}`"


def _catalog(spark: SparkSession):
    return spark._jsparkSession.sharedState().externalCatalog()


def local_path(uri: str) -> str:
    """The local path of a ``file:`` URI in any of Spark's spellings
    (``file:/p``, ``file:///p``)."""
    return unquote(urlparse(uri).path)


def entry(spark: SparkSession, qualified: str):
    """The table's catalog entry, a Spark ``CatalogTable`` (py4j)."""
    return _catalog(spark).getTable(*_split(qualified))


def entry_properties(entry) -> dict[str, str]:
    """A catalog entry's properties: its keys and its values each come
    back as one string, in the same order."""
    props, sep = entry.properties(), "\x00"
    keys = props.keys().mkString(sep)
    return dict(zip(keys.split(sep), props.values().mkString(sep).split(sep))) if keys else {}


def location(spark: SparkSession, qualified: str) -> str | None:
    """The table's live location; None for a view or a missing table."""
    try:
        return local_path(entry(spark, qualified).location().toString())
    except (AnalysisException, Py4JJavaError):
        return None


def root_of(loc: str) -> str:
    """The table root a location belongs to: its parent for a version
    directory, else the location itself."""
    return os.path.dirname(loc) if _VERSION.fullmatch(os.path.basename(loc)) else loc


def data_files(df: DataFrame) -> list[str]:
    """Local paths of the data files a table frame reads."""
    return [local_path(f) for f in df.inputFiles()]


# ------------------------------------------------------------ registry


@contextmanager
def statement():
    """Mark the calling thread's statement as running, so no old
    version it may still read is deleted under it. Re-entrant: only
    the outermost call counts (the server wraps its execute-and-send
    around the engine's own)."""
    if getattr(_tls, "tick", None) is not None:
        yield
        return
    with _lock:
        tick = next(_clock)
        _running.add(tick)
    _tls.tick = tick
    try:
        yield
    finally:
        _tls.tick = None
        with _lock:
            _running.discard(tick)
            oldest = min(_running, default=None)
            due = [p for t, p in _pending if oldest is None or t < oldest]
            _pending[:] = [(t, p) for t, p in _pending if p not in due]
        for path in due:
            _delete_version(path)


@contextmanager
def writing(spark: SparkSession, *tables: str):
    """Hold the writer lock of every table in ``tables`` (sorted, so
    two multi-table writers never deadlock; re-entrant), then bring
    ``spark``'s cached relations up to date: a writer that waited
    reads the post-image of the writer before it."""
    with _lock:
        locks = [
            _writers.setdefault(k, threading.RLock())
            for k in sorted({q.lower() for q in tables})
        ]
    for lk in locks:
        lk.acquire()
    try:
        sync(spark)
        yield
    finally:
        for lk in reversed(locks):
            lk.release()


def _seen_of(spark: SparkSession) -> list:
    entry = _seen.get(spark)
    if entry is None:  # a session seen for the first time caches nothing stale
        entry = _seen[spark] = [_generation[0], dict(_versions)]
    return entry


def bump(spark: SparkSession, *tables: str) -> None:
    """Record that the files or schema of ``tables`` changed. ``spark``
    made the change and refreshed its own cache; every other session
    drops its cached relation on its next ``sync``."""
    with _lock:
        entry = _seen_of(spark)
        current = entry[0] == _generation[0]
        _generation[0] += 1
        for q in tables:
            k = q.lower()
            _versions[k] = _versions.get(k, 0) + 1
            entry[1][k] = _versions[k]
        if current:
            entry[0] = _generation[0]


def sync(spark: SparkSession) -> None:
    """Drop ``spark``'s cached relation of every table whose version
    moved since it last synced. Dropping costs no file listing; the
    next read of the table lists its live version."""
    with _lock:
        entry = _seen_of(spark)
        if entry[0] == _generation[0]:
            return
        moved = [k for k, v in _versions.items() if entry[1].get(k) != v]
        entry[1].update((k, _versions[k]) for k in moved)
        entry[0] = _generation[0]
    jss = spark._jsparkSession
    for k in moved:
        ident = jss.sessionState().sqlParser().parseTableIdentifier(_quoted(k))
        jss.sessionState().catalog().invalidateCachedTable(ident)


# ------------------------------------------------------------ commit


def commit(spark: SparkSession, images) -> list[int | None]:
    """Replace the data of every image's table (see the module
    docstring): write all post-images, then re-point every table whose
    image changes a row, so a multi-table statement commits all of its
    tables or none. Returns each image's observed changed-row count
    (None where it observes none)."""
    images = list(images)
    catalog = _catalog(spark)
    with writing(spark, *[img.qualified for img in images]):
        staged = []  # (image, catalog snapshot, old location, new directory)
        repointed = []
        try:
            for img in images:
                snapshot = entry(spark, img.qualified)
                old = local_path(snapshot.location().toString())
                new = _claim_version(old)
                staged.append((img, snapshot, old, new))
                _write(img, new)
                _checkpoint("write")
            counts = [img.changed.get["n"] if img.changed else None for img in images]
            changing = []
            for s, n in zip(staged, counts):
                if n == 0:  # equals its pre-image
                    shutil.rmtree(s[3])
                else:
                    changing.append(s)
            for img, snapshot, _, new in changing:
                repointed.append((img, snapshot))
                _repoint(spark, img, new)
                _checkpoint("repoint")
            for img, *_ in changing:
                spark.sql(f"REFRESH TABLE {_quoted(img.qualified)}")
                _checkpoint("refresh")
        except BaseException:
            _roll_back(spark, staged, repointed)
            raise
        finally:
            with _lock:
                _new_dirs.difference_update(new for *_, new in staged)
        if changing:
            bump(spark, *[img.qualified for img, *_ in changing])
        for _, _, old, _ in changing:
            _retire(old)
    return counts


def _claim_version(live: str) -> str:
    """The next free version directory beside ``live`` (the caller holds
    the table's writer lock), registered as being written so the sweep
    leaves it alone."""
    root = root_of(live)
    m = _VERSION.fullmatch(os.path.basename(live))
    n = int(m.group(1)) + 1 if m else 1
    while os.path.exists(os.path.join(root, f"_v{n}")):
        n += 1
    path = os.path.join(root, f"_v{n}")
    with _lock:
        _new_dirs.add(path)
    return path


def _write(img: Image, new: str) -> None:
    if img.df is not None:
        img.df.write.parquet(new)
    else:
        os.makedirs(new)
    for f in img.links:
        os.link(f, os.path.join(new, os.path.basename(f)))


def _repoint(spark: SparkSession, img: Image, new: str) -> None:
    name = _quoted(img.qualified)
    path = new.replace("\\", "\\\\").replace("'", "\\'")
    spark.sql(f"ALTER TABLE {name} SET LOCATION '{path}'")
    if img.schema is not None:
        # every column nullable, as CREATE TABLE declares them: the
        # engine enforces NOT NULL itself, and a non-nullable catalog
        # column would let the optimizer drop IS NULL tests
        schema = StructType([StructField(f.name, f.dataType, True) for f in img.schema.fields])
        jtype = spark._jvm.org.apache.spark.sql.types.DataType.fromJson(schema.json())
        _catalog(spark).alterTableDataSchema(*_split(img.qualified), jtype)
    if img.props is not None:
        set_properties(spark, img.qualified, img.props)


def set_properties(spark: SparkSession, qualified: str, props: dict[str, str]) -> None:
    """Make ``props`` the table's ``ebike.*`` properties: set the
    changed ones, unset the ones no longer there."""
    name = _quoted(qualified)
    current = {k: v for k, v in entry_properties(entry(spark, qualified)).items() if k.startswith("ebike.")}
    changed = {k: v for k, v in props.items() if current.get(k) != v}
    gone = [k for k in current if k not in props]
    if changed:
        pairs = ", ".join(f"{sql_literal(k)} = {sql_literal(v)}" for k, v in changed.items())
        spark.sql(f"ALTER TABLE {name} SET TBLPROPERTIES ({pairs})")
    if gone:
        keys = ", ".join(sql_literal(k) for k in gone)
        spark.sql(f"ALTER TABLE {name} UNSET TBLPROPERTIES ({keys})")


def _roll_back(spark: SparkSession, staged: list, repointed: list) -> None:
    """Put back each re-pointed catalog entry, then delete the new
    directories. If a restore itself fails, its error propagates and
    the directories stay for the sweep: one may still be live."""
    catalog = _catalog(spark)
    for img, snapshot in repointed:
        catalog.alterTable(snapshot)
        spark.sql(f"REFRESH TABLE {_quoted(img.qualified)}")
    if repointed:  # other sessions may have listed a new version meanwhile
        bump(spark, *[img.qualified for img, _ in repointed])
    for *_, new in staged:
        shutil.rmtree(new, ignore_errors=True)


def _retire(old: str) -> None:
    """Delete the old version now, or when the last statement that
    started before this re-point ends."""
    own = getattr(_tls, "tick", None)
    with _lock:
        now = next(_clock)
        if any(t < now and t != own for t in _running):
            _pending.append((now, old))
            return
    _delete_version(old)


def _delete_version(path: str) -> None:
    """Delete an old version: a version directory, or the data files of
    a root that was the live location (its version directories stay).
    A failure leaves an orphan for the sweep."""
    try:
        _checkpoint("retire")
        if path != root_of(path):
            shutil.rmtree(path)
            return
        for name in os.listdir(path):
            p = os.path.join(path, name)
            if os.path.isdir(p):
                if not _VERSION.fullmatch(name):
                    shutil.rmtree(p)
            else:
                os.remove(p)
    except (OSError, InjectedFault):
        pass  # the statement has committed; the sweep removes the orphan


# ------------------------------------------------------------ cleanup


def remove_root(loc: str | None) -> None:
    """After DROP or RENAME moved a table away from ``loc``: remove its
    version root, unless an old version there is still held for a
    reader (the sweep removes it later)."""
    root = root_of(loc) if loc is not None else None
    if root is None or root == loc:
        return
    with _lock:
        held = any(p.startswith(root + os.sep) for _, p in _pending)
    if not held:
        shutil.rmtree(root, ignore_errors=True)


def sweep(spark: SparkSession) -> None:
    """Remove what no table points at, under every table root that has
    version directories: version directories other than the live one,
    root data files of a table whose live location is a version
    directory (a failed retire), and the root itself once it is empty
    and no table lives there. Versions being written or held for
    readers stay. Runs under the registry lock, so no commit claims a
    version directory meanwhile."""
    catalog = _catalog(spark)
    with _lock:
        keep = _new_dirs | {p for _, p in _pending}
        dbs = catalog.listDatabases()
        for i in range(dbs.size()):
            db = dbs.apply(i)
            db_dir = local_path(catalog.getDatabase(db).locationUri().toString())
            if not os.path.isdir(db_dir):
                continue
            for name in os.listdir(db_dir):
                root = os.path.join(db_dir, name)
                if os.path.isdir(root):
                    _sweep_root(spark, db, name, root, keep)


def _sweep_root(spark: SparkSession, db: str, name: str, root: str, keep: set) -> None:
    children = os.listdir(root)
    if not any(_VERSION.fullmatch(c) and os.path.isdir(os.path.join(root, c)) for c in children):
        return
    live = location(spark, f"{db}.{name}")
    versioned = live is not None and live != root and root_of(live) == root
    for c in children:
        p = os.path.join(root, c)
        if p in keep or p == live or not (versioned or _VERSION.fullmatch(c)):
            continue
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            os.remove(p)
    if (live is None or root_of(live) != root) and not os.listdir(root):
        os.rmdir(root)
