"""Non-Delta table rewrites: MERGE and ``replace_where``.

Reference parity: ``io/writers/delta_merge_writer.py:28-210`` (full
MergeOptions semantics: delete/update/insert predicates + column sets,
insert-only mode) and the reference's ``DELETE … WHERE`` + append
statements (GAB delete-insert, ``delete_where``, CDF retention). With
delta-spark installed these are a real ``DeltaTable.merge`` and a real
``DELETE``. Without Delta every in-place row change here is ONE rewrite
(:func:`_rewrite`) committed like a Delta log entry would be, stage →
verify → swap → heal: lock the target's path, heal an interrupted swap,
build the new contents from the target into ``<loc>__staging`` (keeping
the target's partition columns), verify the lock, then swap the staged dir
in with two renames (``utils/fs_utils``). A failed write job leaves
the old table whole; readers outside the engine can briefly see no table
between the two renames, and the next engine access heals a crash there.
A catalog table keeps its entry (managed or EXTERNAL) and gets exact
statistics from the staged write's observed row count. MERGE builds one
filter + projection over a full outer join of target and source;
``replace_where`` builds ``NOT (predicate)`` plus the new rows. Correct,
but O(target) IO; the Delta path is the 100 TB path.

Merge predicates reference the aliases ``current`` (target) and ``new``
(source), exactly as in the reference.
"""

from __future__ import annotations

from typing import Callable, Optional

from py4j.protocol import Py4JError
from pyspark.errors import AnalysisException, PySparkException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from lakehouse_engine_spark.core.definitions import MergeOptions
from lakehouse_engine_spark.core.exec_env import ExecEnv
from lakehouse_engine_spark.io.table_lock import WriterLock
from lakehouse_engine_spark.utils import fs_utils
from lakehouse_engine_spark.utils.observation import observed_row
from lakehouse_engine_spark.utils.schema_utils import free_name


def merge(
    spark: SparkSession,
    df: DataFrame,
    merge_opts: MergeOptions,
    location: Optional[str] = None,
    db_table: Optional[str] = None,
    data_format: str = "delta",
    check: Optional[Callable[[bool], None]] = None,
) -> None:
    """Merge ``df`` (alias ``new``) into the target (alias ``current``).

    ``check(ran)`` decides whether the merge may commit and raises to refuse
    it. A rewrite runs it after staging, with ``ran=True`` (:func:`_rewrite`);
    before a write that creates a catalog table, and before a Delta merge,
    it runs with ``ran=False``."""
    if not rewrites(data_format):
        if check is not None:
            check(False)
        _merge_delta(spark, df, merge_opts, location, db_table)
    else:
        _merge_rewrite(spark, df, merge_opts, location, db_table, data_format, check)


def rewrites(data_format: str) -> bool:
    """True when a merge or ``replace_where`` into ``data_format`` is a
    :func:`_rewrite`, i.e. unless it is a Delta target with delta-spark."""
    return not (ExecEnv.delta_available() and data_format == "delta")


def replace_where(
    spark: SparkSession,
    predicate: str,
    rows: Optional[DataFrame] = None,
    *,
    db_table: Optional[str] = None,
    location: Optional[str] = None,
    data_format: str = "delta",
) -> None:
    """Remove the target's rows matching ``predicate``, then add ``rows``.

    Delta: ``DELETE FROM <target> WHERE <predicate>`` plus an append.
    Otherwise one :func:`_rewrite` of ``NOT (predicate)`` ∪ ``rows``; a row
    whose predicate is NULL is kept, as ``DELETE`` keeps it. A missing
    target is created from ``rows``."""
    if not rewrites(data_format):
        exists = rows is None or _target_exists(spark, location, db_table)
        if exists:
            spark.sql(f"DELETE FROM {db_table or f'delta.`{location}`'} WHERE {predicate}")
        if rows is not None:
            writer = rows.write.format("delta").mode("append" if exists else "overwrite")
            writer.saveAsTable(db_table) if db_table else writer.save(location)
        return

    def first_load():
        if rows is None:
            raise ValueError(f"replace_where: no target at {db_table or location}")
        return rows

    def kept_plus_rows(target):
        kept = target.filter(~F.coalesce(F.expr(predicate), F.lit(False)))
        return kept if rows is None else kept.unionByName(rows)

    _rewrite(spark, db_table, location, data_format, "replace_where", kept_plus_rows, first_load)


def _target_exists(spark: SparkSession, location: Optional[str], db_table: Optional[str]) -> bool:
    if db_table:
        return spark.catalog.tableExists(db_table)
    return fs_utils.path_exists(spark, location)


def _merge_delta(spark, df, opts: MergeOptions, location, db_table) -> None:
    """Native Delta merge (used on real deployments)."""
    from delta.tables import DeltaTable

    if not _target_exists(spark, location, db_table):
        writer = df.write.format("delta").mode("overwrite")
        writer.saveAsTable(db_table) if db_table else writer.save(location)
        return
    tgt = (
        DeltaTable.forName(spark, db_table) if db_table else DeltaTable.forPath(spark, location)
    )
    builder = tgt.alias("current").merge(df.alias("new"), opts.merge_predicate)
    if not opts.insert_only:
        if opts.delete_predicate:
            builder = builder.whenMatchedDelete(condition=opts.delete_predicate)
        if opts.update_column_set:
            builder = builder.whenMatchedUpdate(
                condition=opts.update_predicate, set=opts.update_column_set
            )
        else:
            builder = builder.whenMatchedUpdateAll(condition=opts.update_predicate)
    if opts.insert_column_set:
        builder = builder.whenNotMatchedInsert(
            condition=opts.insert_predicate, values=opts.insert_column_set
        )
    else:
        builder = builder.whenNotMatchedInsertAll(condition=opts.insert_predicate)
    builder.execute()


def _normalize_fs_path(p: str) -> str:
    import os

    for prefix in ("file://", "file:"):
        if p.startswith(prefix):
            p = p[len(prefix):]
            break
    return os.path.normpath(p)


def catalog_location(spark, db_table):
    """``(type, location)`` of a catalog table from its ``DESCRIBE
    FORMATTED`` — ``("EXTERNAL", "file:/…")``; ``(None, None)`` for a
    missing table. The one place that parses the catalog's Location.

    A missing table is found by ``tableExists``, not by a failed
    ``DESCRIBE``: PySpark logs every AnalysisException with a query
    context at ERROR, with its JVM stack trace, even when it is caught."""
    if not spark.catalog.tableExists(db_table):
        return None, None
    try:
        info = _describe(spark, db_table)
    except AnalysisException:  # dropped since the check
        return None, None
    typ = str(info.get("Type") or "").strip().upper() or None
    return typ, info.get("Location")


def _describe(spark, db_table) -> dict:
    """``DESCRIBE FORMATTED`` of a catalog table as ``{name: value}``.
    Later rows win: the detailed-information section follows the column
    rows, so a column named e.g. "Type" cannot shadow it."""
    rows = spark.sql(f"DESCRIBE FORMATTED {db_table}").collect()
    return {r["col_name"]: r["data_type"] for r in rows}


# location -> qualified table name, filled by successful lookups so a
# given path target walks the catalog at most once per session. Only the
# NAME binding is cached — the schema is re-read fresh on every hit, and
# a stale binding (table dropped since) falls through to a re-walk.
# WeakKeyDictionary keyed by the SparkSession OBJECT (not id(spark):
# addresses get reused after GC, which could hand a dead session's
# binding to a new session — and dead entries would never evict).
import weakref

_LOCATION_TABLE_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _find_table_at_location_in_db(spark, db: str, want: str):
    """One ``SHOW TABLE EXTENDED`` round-trip resolves every table
    location in ``db`` at once (vs one DESCRIBE per table — thousands of
    metastore round-trips on a real catalog); per-table DESCRIBE remains
    as the fallback for catalogs that don't support the bulk form."""
    import re as _re

    try:
        rows = spark.sql(f"SHOW TABLE EXTENDED IN {db} LIKE '*'").collect()
        for r in rows:
            if r["isTemporary"]:
                continue
            # to the end of the line: a location may hold spaces
            m = _re.search(r"Location: (.+)", r["information"] or "")
            if m and _normalize_fs_path(m.group(1)) == want:
                return f"{db}.{r['tableName']}"
        return None
    except Exception:
        pass
    for t in spark.catalog.listTables(db):
        if t.isTemporary:
            continue
        _, loc = catalog_location(spark, f"{db}.{t.name}")
        if loc and _normalize_fs_path(loc) == want:
            return f"{db}.{t.name}"
    return None


def _catalog_schema_for_location(spark, location):
    """The catalog table registered AT a path target is the schema
    authority for parquet-fallback merges — the honest equivalent of
    Delta's ``_delta_log`` role for path writes (Delta casts path writes
    to the table's declared schema; raw parquet has no such anchor).
    Control-plane lookup, consulted only on first load / empty target:
    one bulk ``SHOW TABLE EXTENDED`` per database (NOT one DESCRIBE per
    table), memoized per location for the session. Misses are NOT
    cached — the common flow creates the table right before the first
    merge, so a cached miss would wrongly skip the new registration."""
    if not location:
        return None
    # cache scoped to the SparkSession via weakref (round-11 ADVICE #4
    # residue): a module-global shared across sessions/catalogs could
    # serve one session's binding to another — the DESCRIBE validation
    # would usually catch it, but a same-named table in a different
    # catalog at the same path would not. Weak keys mean a session's
    # entries die WITH the session (no id() reuse, no leak).
    want = _normalize_fs_path(location)
    per_session = _LOCATION_TABLE_CACHE.get(spark)
    if per_session is None:
        per_session = {}
        _LOCATION_TABLE_CACHE[spark] = per_session
    hit = per_session.get(want)
    if hit:
        # validate the binding still points AT the location (one DESCRIBE
        # on one table): a dropped table, or a same-named table re-created
        # at a different path, must fall through to a re-walk instead of
        # serving a stale schema authority
        _, loc = catalog_location(spark, hit)
        if loc and _normalize_fs_path(loc) == want:
            return spark.table(hit).schema
        per_session.pop(want, None)
    try:
        for db in spark.catalog.listDatabases():
            name = _find_table_at_location_in_db(spark, db.name, want)
            if name:
                per_session[want] = name
                return spark.table(name).schema
    except Exception:
        return None
    return None


def _store_assign(df, schema, keep_extra: bool = False):
    """Delta store-assignment semantics: cast the incoming columns to the
    target's declared types (by name, CASE-INSENSITIVELY — Spark/Delta
    resolution treats `article`/`ARTICLE` as the same column, and the
    target's casing wins); target columns absent from the source become
    typed nulls. ``keep_extra`` keeps source-only columns (so merge
    predicates can still reference them — the written result is
    target-schema-driven either way); first loads drop them (the declared
    DDL wins, as with Delta path writes)."""
    by_lower = {c.lower(): c for c in df.columns}
    out = []
    for f_ in schema.fields:
        src = by_lower.get(f_.name.lower())
        if src is not None:
            out.append(F.col(src).cast(f_.dataType).alias(f_.name))
        else:
            out.append(F.lit(None).cast(f_.dataType).alias(f_.name))
    if keep_extra:
        named = {f_.name.lower() for f_ in schema.fields}
        out.extend(F.col(c) for c in df.columns if c.lower() not in named)
    return df.select(*out)


def _merge_rewrite(spark, df, opts: MergeOptions, location, db_table, data_format, check) -> None:
    """Join-based merge for non-Delta targets, through :func:`_rewrite`.

    Joins the target aliased ``current`` to the source aliased ``new``, so
    the user's ``current.x = new.y`` predicates resolve unchanged as
    qualified columns and the join keys are the sides' own columns: a source
    already hash-partitioned on them (a condensed CDC batch) is not shuffled
    again. Store assignment follows Delta: the target's declared schema
    (the table itself, or the catalog table registered at a path target)
    casts the incoming frame before merging, so e.g. a CSV batch whose
    inferSchema disagrees with the DDL lands with the declared types.
    """

    def first_load():
        schema = _catalog_schema_for_location(spark, location)
        return df if schema is None else _store_assign(df, schema)

    def merged(target):
        target, src, src_cols = _prepare_merge(spark, target, df, opts)
        return _merged(target, src, opts, src_cols)

    _rewrite(spark, db_table, location, data_format, "merge", merged, first_load, check)


def _rewrite(
    spark, db_table, location, data_format, op, rebuild, first_load, check=None
) -> None:
    """Replace a table or path target with ``rebuild(target)``, or with
    ``first_load()`` when the target does not exist yet.

    Stage → verify → swap → heal (``utils/fs_utils``): under the best-effort
    :class:`~lakehouse_engine_spark.io.table_lock.WriterLock` on the
    target's path, heal an interrupted swap, read the target, stage the
    result in ``<loc>__staging``, ``lock.verify()``, then swap it in with
    two renames. ``check(True)``, when given, runs between staging and
    ``lock.verify()``; if it raises, the staged dir is dropped and the target
    stays as it was. Two engine writers racing the same target get ONE winner
    and one loud ``ConcurrentWriterError`` instead of a silent lost-update
    (real Delta serializes via atomic log commits). A failure before the
    second rename keeps the old table (a crash between the renames is
    healed back to it); after it, the new one stands.

    A catalog table, managed or EXTERNAL, is resolved to its Location by
    one catalog lookup and keeps its catalog entry; only a missing table is
    created, by ``saveAsTable``. Columns that autoMerge adds reach the
    catalog before the swap, so no crash can leave files whose columns the
    catalog does not know (a failed swap leaves them all null); partitions
    and statistics follow the swap (:func:`_sync_catalog`). For a catalog
    table the staged write observes its own row count (one
    ``DataFrame.observe``, no extra job), which becomes the table's exact
    statistics after the swap. The staged write keeps the partition columns
    of the relation Spark resolved for the target (the catalog's for a
    table, the discovered directory layout for a path) and is static
    whatever the session's partition overwrite mode, so a partition left
    with no rows is removed.
    """
    fmt = data_format if data_format != "delta" else "parquet"
    if db_table:
        _, location = catalog_location(spark, db_table)
        if location is None:
            if check is not None:
                check(False)
            first_load().write.format(fmt).mode("overwrite").saveAsTable(db_table)
            return
    with WriterLock(spark, location, op=op) as lock:
        target = _read_target(spark, db_table, location, fmt)
        if target is None:
            result, parts = first_load(), []
        else:
            result, parts = rebuild(target), _partition_columns(target)
        rows = None
        if db_table:
            rows = Observation()
            result = result.observe(rows, F.count(F.lit(1)).alias("rows"))
        fs_utils.stage(spark, location, result, fmt, parts)
        if check is not None:
            try:
                check(True)
            except BaseException:
                fs_utils.discard(spark, location)
                raise
        lock.verify()
        if db_table:
            known = {c.lower() for c in target.columns}
            added = [f_ for f_ in result.schema.fields if f_.name.lower() not in known]
            if added:
                spark.sql(f"ALTER TABLE {db_table} ADD COLUMNS ({StructType(added).toDDL()})")
        fs_utils.swap(spark, location)
        if db_table:
            _sync_catalog(spark, db_table, parts, rows)


def _read_target(spark, db_table, location, fmt) -> Optional[DataFrame]:
    """The target after healing an interrupted swap, or None when it does
    not exist yet.

    A real existence check, not a read wrapped in a bare except: the
    missing branch OVERWRITES the target as a first load, so a corrupt
    table or a transient FS error must not read as missing. A catalog
    table always exists (an empty or missing dir reads as its declared
    schema); for a path, a pre-created EMPTY dir (DDL, no data) counts as
    missing."""
    exists = fs_utils.heal(spark, location)
    if db_table:
        # a swap that landed just before a crash left the catalog behind
        # the files: sync it before resolving the read
        _sync_catalog(spark, db_table, _partition_columns(spark.read.table(db_table)))
        return spark.read.table(db_table)
    if not exists:
        return None
    try:
        target = spark.read.format(fmt).load(location)
        target.schema  # force schema resolution now
    except Exception as exc:
        if "UNABLE_TO_INFER_SCHEMA" in str(exc) or "Unable to infer" in str(exc):
            return None
        raise
    return target


def _sync_catalog(spark, db_table, parts, rows: Optional[Observation] = None) -> None:
    """Bring a kept catalog entry in line with the files a swap put in place:
    the partition values on disk, statistics of those files or none, and a
    relation Spark lists afresh.

    ``rows`` is the staged write's row-count observation. When it arrived,
    the statistics become the files' size (``ANALYZE … NOSCAN``: a file
    listing, no job) and that row count, which :func:`analyze_table` can
    trust later; otherwise they are cleared, as after Spark's own overwrite.
    Ordering keeps a crash from leaving statistics of swapped-out files:
    :func:`_read_target`'s sync clears them before staging, and only the
    sync after the swap sets them."""
    if parts:
        spark.sql(f"MSCK REPAIR TABLE {db_table} SYNC PARTITIONS")
    observed = observed_row(rows) if rows is not None else None
    if observed is None or not _set_row_count(spark, db_table, observed["rows"]):
        catalog, ident = _catalog_ident(spark, db_table)
        catalog.alterTableStats(ident, spark._jvm.scala.Option.empty())
    spark.catalog.refreshTable(db_table)


# qualified table name -> the statistics (``DESCRIBE``'s "<size> bytes,
# <n> rows") this process's last rewrite of the table set from its own
# staged write
_REWRITE_STATS: dict = {}


def _set_row_count(spark, db_table, rows: int) -> bool:
    """Set ``db_table``'s statistics to its files' size (``NOSCAN``) and
    ``rows``, and record them in :data:`_REWRITE_STATS`; False when the
    catalog API refused the new statistics."""
    _analyze(spark, db_table, scan=False)
    catalog, ident = _catalog_ident(spark, db_table)
    try:
        exact = _with_row_count(spark, catalog.getTableMetadata(ident).stats().get(), rows)
        catalog.alterTableStats(ident, spark._jvm.scala.Some(exact))
    except (Py4JError, PySparkException):
        return False
    name, stats = _statistics(spark, db_table)
    if not (stats or "").endswith(f", {rows} rows"):
        return False
    _REWRITE_STATS[name] = stats
    return True


def _with_row_count(spark, stats, rows: int):
    """A copy of the JVM ``CatalogStatistics`` ``stats`` with row count
    ``rows``. Internal API: the row count is a Scala ``BigInt``, which Py4J
    turns into a Python ``int`` on every crossing, so the copy is built
    inside the JVM, by the constructor, from ``stats``' own fields and the
    ``Some(BigInt)`` row count of a ``range`` plan."""
    fields = spark._jvm.java.util.ArrayList(
        spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(stats.productIterator().toSeq())
    )
    fields.set(1, spark.range(0, rows)._jdf.queryExecution().analyzed().stats().rowCount())
    return stats.getClass().getConstructors()[0].newInstance(fields.toArray())


def _catalog_ident(spark, db_table):
    """The session catalog and the ``TableIdentifier`` of ``db_table``: a
    one-, two- or three-part name (``spark_catalog.<db>.<t>``), the names
    ``DESCRIBE`` and ``ANALYZE`` accept (``parseTableIdentifier`` rejects
    three parts)."""
    jvm = spark._jvm
    state = spark._jsparkSession.sessionState()
    parts = list(
        jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            state.sqlParser().parseMultipartIdentifier(db_table)
        )
    )
    table, db, catalog = (parts[::-1] + [None, None])[:3]
    opt = jvm.scala.Option.apply
    return state.catalog(), jvm.org.apache.spark.sql.catalyst.TableIdentifier(
        table, opt(db), opt(catalog)
    )


def _statistics(spark, db_table) -> tuple:
    """``(qualified name, statistics text or None)`` of a catalog table."""
    info = _describe(spark, db_table)
    return f"{info['Catalog']}.{info['Database']}.{info['Table']}", info.get("Statistics")


def _analyze(spark, db_table, scan: bool) -> None:
    spark.sql(f"ANALYZE TABLE {db_table} COMPUTE STATISTICS{'' if scan else ' NOSCAN'}")


def analyze_table(spark, db_table) -> None:
    """``ANALYZE TABLE … COMPUTE STATISTICS``, without its count scan when a
    rewrite by this process left the statistics.

    ``NOSCAN`` first lists the files: it keeps the statistics when their
    size is unchanged and drops the row count otherwise. When the catalog
    then still holds the statistics this process's last rewrite recorded,
    they are exact and nothing more runs; any other change to the table
    (Spark's own inserts clear the statistics) gets the full ANALYZE."""
    recorded = _REWRITE_STATS.get(_statistics(spark, db_table)[0])
    if recorded is not None:
        _analyze(spark, db_table, scan=False)
        if _statistics(spark, db_table)[1] == recorded:
            return
    _analyze(spark, db_table, scan=True)


def _partition_columns(target: DataFrame) -> list:
    """Partition columns of the file relation behind ``target`` — the
    catalog's partition spec for a table read, the discovered layout for a
    path read. No Spark job and no catalog call (PySpark's
    ``catalog.listColumns`` runs two jobs through ``toLocalIterator``)."""
    try:
        leaf = target._jdf.queryExecution().analyzed().collectLeaves().head()
        return list(leaf.relation().partitionSchema().fieldNames())
    except (AttributeError, Py4JError):  # not a file relation, or Spark Connect
        return []


def _prepare_merge(spark, target, df, opts: MergeOptions):
    """Validate the source against the target and align both to one schema.

    Returns ``(target, df, src_cols)``: ``df`` store-assigned to the target's
    types (source-only columns kept for the predicates), ``target`` widened
    with typed-null columns under autoMerge schema evolution, and
    ``src_cols`` the lower-cased column names of the ORIGINAL source (which
    decides what updateAll overwrites)."""
    src_cols = {c.lower() for c in df.columns}
    auto_merge_flag = (
        spark.conf.get(
            "spark.databricks.delta.schema.autoMerge.enabled", "false"
        )
        or "false"
    ).lower() == "true"
    # Delta's updateAll/insertAll REQUIRE every target column in the
    # source unless schema evolution is on — silently null-filling would
    # resurrect rows with wrong values where Delta fails loudly
    lacking = [
        f_.name
        for f_ in target.schema.fields
        if f_.name.lower() not in src_cols
    ]
    if lacking and not auto_merge_flag and not (
        opts.update_column_set and opts.insert_column_set
    ):
        raise ValueError(
            f"merge: source is missing target columns {lacking} and "
            "spark.databricks.delta.schema.autoMerge.enabled is false "
            "(Delta updateAll/insertAll semantics)"
        )
    df = _store_assign(df, target.schema, keep_extra=True)
    if auto_merge_flag:
        # Delta schema evolution: new source columns evolve the target
        # schema (existing rows get typed nulls); updateAll/insertAll then
        # write them through like any other column
        src_types = dict(df.dtypes)
        tgt_lower = {c.lower() for c in target.columns}
        for c in df.columns:
            if c.lower() not in tgt_lower:
                target = target.withColumn(c, F.lit(None).cast(src_types[c]))
    return target, df, src_cols


def _merged(target, df, opts: MergeOptions, src_cols) -> DataFrame:
    """The merge result as ONE filter + projection over the full outer join.

    Each joined row is target-only (the ``new`` side's marker is null),
    source-only (the ``current`` side's marker is null) or matched. ``keep``
    applies Delta's clause semantics — a NULL condition never fires: a
    matched row is dropped only when the delete condition is true
    (insert-only keeps every matched row), a source-only row is admitted only
    when the insert condition is true. Each output column then picks the
    current value, the insert value or, when the update condition is true,
    the update value."""
    cols = target.columns
    # one marker per side, NULL on the rows the full outer join pads
    marker = free_name("_merge_side", cols + df.columns)
    cur = target.withColumn(marker, F.lit(True)).alias("current")
    new = df.withColumn(marker, F.lit(True)).alias("new")
    joined = cur.join(new, on=F.expr(opts.merge_predicate), how="full_outer")

    target_only = F.col(f"new.{marker}").isNull()
    source_only = F.col(f"current.{marker}").isNull()

    def _fires(pred):
        return F.coalesce(F.expr(pred), F.lit(False)) if pred else F.lit(True)

    if opts.insert_only:
        matched_keep = F.lit(True)
        upd = None
    else:
        matched_keep = (
            ~_fires(opts.delete_predicate) if opts.delete_predicate else F.lit(True)
        )
        upd = _fires(opts.update_predicate)
    keep = (
        F.when(target_only, F.lit(True))
        .when(source_only, _fires(opts.insert_predicate))
        .otherwise(matched_keep)
    )

    if opts.insert_column_set:
        ins = {
            c: F.expr(opts.insert_column_set[c])
            if c in opts.insert_column_set
            else F.lit(None).cast(dict(target.dtypes)[c])
            for c in cols
        }
    else:
        ins = {c: F.col(f"new.{c}") for c in cols}
    if opts.update_column_set:
        upd_vals = {
            c: F.expr(opts.update_column_set[c])
            if c in opts.update_column_set
            else F.col(f"current.{c}")
            for c in cols
        }
    else:
        # Delta updateAll = "SET *" over the SOURCE's columns: a target
        # column absent from the original source keeps its CURRENT value
        # on update (inserts leave it null)
        upd_vals = {
            c: F.col(f"new.{c}") if c.lower() in src_cols else F.col(f"current.{c}")
            for c in cols
        }

    def _out(c):
        v = F.when(target_only, F.col(f"current.{c}")).when(source_only, ins[c])
        if upd is not None:
            v = v.when(upd, upd_vals[c])
        return v.otherwise(F.col(f"current.{c}")).alias(c)

    return joined.filter(keep).select(*[_out(c) for c in cols])
