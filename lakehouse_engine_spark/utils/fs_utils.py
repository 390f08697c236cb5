"""The one module that touches Hadoop files: existence checks, the one
crash-safe commit, and the sidecar text files read and written through it.

Several stateful flows (delta-merge first load, sensor control table,
cross-run dedup state) branch on "does the target exist yet?". Wrapping
the *read* in a bare ``except Exception`` conflates a genuinely missing
path with a corrupt file or a transient FS/permission error — and the
fallback for "missing" is destructive in every one of those flows
(overwrite the target, treat all sensors as never-fired, re-emit
previously-ingested rows). These helpers ask the filesystem the actual
question, so real failures propagate.

The commit replaces a whole directory — or one small file — without
Delta's log. The non-Delta table rewrite (``io/merge_writer._rewrite``) and
the incremental-dedup state compaction (``datapipes/dedup._compact_state``)
run it on directories; :func:`write_text` runs it on the sidecar files that
stand in for the Delta log (``io/cdf_commit_log``'s commit log,
``terminators/terminator_factory._bump_cdf_version``'s counter) and on
object-store usage records (``utils/engine_usage``):

1. **stage** (:func:`stage`) — write the new contents to the sibling
   ``<location>__staging`` (a static overwrite, so a leftover staging dir
   from a crash is cleared); nothing touches the live dir, so a failed
   write job leaves it as it was;
2. **verify** — the caller's last check (the writer lock's token);
3. **swap** (:func:`swap`) — rename live → ``<location>__old``, staging →
   live, then delete ``__old``. Each rename's return value is checked (HDFS
   reports failure by returning false; an unchecked first rename would move
   staging INSIDE the live dir), and a failed second rename puts the backup
   straight back;
4. **heal** — :func:`heal`, run before every read of a directory and at the
   start of every swap, finishes
   what a crash inside the swap left: no live dir plus a complete ``__old``
   is restored (the commit point is the second rename, so the old contents
   win); a live dir beside a leftover ``__old`` means the swap landed, and
   the backup is dropped.

Readers never heal: :func:`read_text` runs without a lock (``expose_cdf``
reads the commit log while an append may be committing it), so it reads the
live file, or the ``__old`` backup while a swap is between its renames, and
renames nothing — a heal there could restore the backup under a live swap.
The writer lock (``io/table_lock``) claims its file with its own ``O_EXCL``
primitive and reads it with :func:`read_text`.

Readers outside the engine (a plain ``spark.read`` of the path, another
engine) can briefly see no directory between the two renames. On object
stores without atomic directory rename (S3A) each rename is a copy, so that
window is as long as copying the table — still recoverable by :func:`heal`.
"""

from __future__ import annotations

from typing import Optional, Sequence

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

STAGING = "__staging"
BACKUP = "__old"
_MANUAL = "the full previous state is at the backup path; restore it manually before rerunning"


def _fs(spark: SparkSession, location: str):
    """``(FileSystem, Path)`` of ``location`` — the one Hadoop accessor here."""
    path = spark._jvm.org.apache.hadoop.fs.Path(location)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path


def path_exists(spark: SparkSession, location: str) -> bool:
    """True iff ``location`` exists, via the Hadoop FileSystem of the path
    itself (works for local, HDFS, and S3A URIs alike). Falls back to a
    read probe narrowly matched on path-not-found under Spark Connect
    (no ``_jvm``); any other read error propagates."""
    try:
        fs, path = _fs(spark, location)
        return bool(fs.exists(path))
    except AttributeError:  # Spark Connect: no _jvm
        from pyspark.errors import AnalysisException

        try:
            spark.read.load(location).schema
            return True
        except AnalysisException as exc:
            if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
                return False
            raise


def is_hidden(name: str) -> bool:
    """Spark's rule for the file and directory names its readers skip: a
    ``.`` prefix, or a ``_`` prefix without ``=`` (``_SUCCESS`` and
    ``_delta_log`` are hidden; a ``_col=value`` partition dir is data)."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def list_names(spark: SparkSession, location: str) -> list:
    """Names of the entries directly under ``location``."""
    fs, path = _fs(spark, location)
    return [st.getPath().getName() for st in fs.listStatus(path)]


def heal(spark: SparkSession, location: str) -> bool:
    """Finish an interrupted :func:`swap` at ``location``; True iff
    the live dir exists afterwards. Without the restore, a crash between
    the two renames would read as "no table" — a first load that
    overwrites, or a dedup run that re-emits every previously-seen row.
    Run it only where no other writer can be mid-swap — under the table's
    writer lock, or under the dedup state's one-writer contract — or it
    would restore the backup under a live swap."""
    fs, live = _fs(spark, location)
    backup = live.suffix(BACKUP)
    if fs.exists(backup):
        if fs.exists(live):
            fs.delete(backup, True)
        elif not fs.rename(backup, live):
            raise RuntimeError(f"{location}: could not restore {BACKUP}; {_MANUAL}")
        spark.catalog.refreshByPath(location)
    return bool(fs.exists(live))


def stage(
    spark: SparkSession,
    location: str,
    df: DataFrame,
    data_format: str = "parquet",
    partition_by: Sequence[str] = (),
) -> None:
    """Write ``df`` to ``<location>__staging`` as a static overwrite. ``df``
    may read ``location`` itself: the live dir is not touched."""
    writer = df.write.format(data_format).mode("overwrite").partitionBy(*partition_by)
    writer.option("partitionOverwriteMode", "static").save(location.rstrip("/") + STAGING)


def swap(spark: SparkSession, location: str) -> None:
    """Move the staged dir into place: live → ``__old``, staging → live,
    delete ``__old`` (module docstring)."""
    fs, live = _fs(spark, location)
    staged, backup = live.suffix(STAGING), live.suffix(BACKUP)
    # a first load has no live dir to back up
    if heal(spark, location) and not fs.rename(live, backup):
        raise RuntimeError(f"{location}: rename to {BACKUP} failed; state left untouched")
    if not fs.rename(staged, live):
        # the live dir is momentarily absent: put the backup straight back
        if fs.exists(backup) and not fs.rename(backup, live):
            raise RuntimeError(f"{location}: swap failed AND restore failed; {_MANUAL}")
        raise RuntimeError(f"{location}: rename of {STAGING} failed; original state restored")
    fs.delete(backup, True)
    spark.catalog.refreshByPath(location)


def read_text(spark: SparkSession, path: str) -> Optional[str]:
    """The text of the file at ``path``, or None when there is none. Mid-swap
    (no live file) it reads the ``__old`` backup, so a reader sees the old
    or the new contents, never a missing or partial file. Any error other
    than the file being absent propagates."""
    fs, live = _fs(spark, path)
    # live, backup, live: a swap that lands between the first two probes has
    # deleted the backup by the time the third one runs
    for p in (live, live.suffix(BACKUP), live):
        try:
            stream = fs.open(p)
        except Py4JJavaError:
            if fs.exists(p):
                raise
            continue
        try:
            return spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()
    return None


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Replace the file at ``path`` with ``text``: write ``<path>__staging``,
    then :func:`swap` it into place."""
    fs, staged = _fs(spark, path + STAGING)
    out = fs.create(staged, True)
    try:
        out.write(text.encode("utf-8"))
    finally:
        out.close()
    swap(spark, path)
