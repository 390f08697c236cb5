"""Sidecar commit log for the parquet CDF emulation.

Runtimes without delta-spark degrade ``delta`` writes to parquet, so
there is no ``_delta_log`` for ``expose_cdf`` to read commit versions
from (reference ``terminators/cdf_processor.py:59-87`` gets true
versions from the Delta log). This module is the emulation's stand-in:
every engine write to a degraded-delta location records one commit
entry — ``{version, ts, files added}``. Two appends between
materializations therefore yield two ``_commit_version``s, per Delta
semantics, instead of collapsing into one per materialization.

Placement: the log is ``<location>._lhe_cdf_commits.json``
(:func:`log_path`), BESIDE the table dir like the writer lock, not inside
it — a Spark overwrite deletes everything in the dir and the merge
writer's commit swap replaces the dir, so a log inside lost the version
history on every overwrite or merge and the next append restarted at 1.
Logs that older versions kept inside the dir are not migrated: every
overwrite or merge already deleted them.

The version counter is monotone: an overwrite restarts the file history
(the old files are gone) but continues the numbering, matching Delta's;
a merge swap records nothing, and the next append's entry claims the
files it left. The log is read and committed through ``utils/fs_utils``
(:func:`~lakehouse_engine_spark.utils.fs_utils.read_text`,
:func:`~lakehouse_engine_spark.utils.fs_utils.write_text`): a write
stages the new log and swaps it in, so a failure at any point leaves
the old log or the new one, never a truncated one.

File identity: entries name each data file by the URI that Hadoop's
``Path.toUri()`` gives — percent-encoded, as Spark's
``_metadata.file_path`` reports it (``…/my%20tbl/part-…``; the decoded
``Path.toString()`` never matched a location with a space in it). A local
file's ``file:`` prefix differs between the two (Hadoop lists
``file:///…``, Spark reports ``file:/…``), so both sides drop it
(:data:`LOCAL_SCHEME`, :func:`file_id`); other schemes keep theirs.

Cost model (why this scales): the log is written per COMMIT, not per
row — one recursive file listing plus one small JSON read-modify-write,
the same control-plane class as Delta's own log append. Reading it back
is a driver-side parse bounded by append count, turned into a small
file→version frame that broadcast-joins against the stream's
``_metadata.file_path``.

Limitations mirror the emulation's: append-only (rewrites invalidate
file identity), only writes that go THROUGH the engine's writers are
logged — foreign appends fall back to the materialization-counter
versioning in ``terminator_factory`` — and the log's
read-modify-write targets ONE writer per table (the same contract as
the parquet merge fallback's rewrite; real Delta gets multi-writer
safety from atomic log commits, which raw object stores cannot
provide). That contract is ENFORCED best-effort by
``io/table_lock.WriterLock``: two engine writers racing the log
SERIALIZE through a short retry budget; persistent contention skips
the entry with a warning (never failing the already-landed data write
— the skipped files sweep into the next commit's entry).
"""

from __future__ import annotations

import json
import logging
import os
import re
from typing import List, Optional

from pyspark.sql import SparkSession

from lakehouse_engine_spark.utils import fs_utils

_LOGGER = logging.getLogger(__name__)

LOG_NAME = "_lhe_cdf_commits.json"
LOCAL_SCHEME = "^file:/+"


def log_path(location: str) -> str:
    """``<location>._lhe_cdf_commits.json``: beside the table dir, so
    overwrites and commit swaps of the dir keep it."""
    return f"{location.rstrip('/')}.{LOG_NAME}"


def file_id(uri: str) -> str:
    """A data file's name in the log: its URI, without a local ``file:``
    prefix (module docstring)."""
    return re.sub(LOCAL_SCHEME, "/", uri)


def _list_data_files(spark: SparkSession, location: str) -> List[str]:
    """Recursive listing of data files under ``location``, skipping the
    names Spark's readers skip at every level (``fs_utils.is_hidden``) —
    one control-plane walk per commit."""
    fs, root = fs_utils._fs(spark, location)
    if not fs.exists(root):
        return []
    out: List[str] = []
    stack = [root]
    while stack:
        cur = stack.pop()
        for st in fs.listStatus(cur):
            name = st.getPath().getName()
            if fs_utils.is_hidden(name):
                continue
            if st.isDirectory():
                stack.append(st.getPath())
            else:
                out.append(file_id(st.getPath().toUri().toString()))
    return out


def read_log(spark: SparkSession, location: str) -> Optional[list]:
    """The commit entries at ``location``, or None when no log exists."""
    raw = fs_utils.read_text(spark, log_path(location))
    if raw is None:
        return None
    try:
        entries = json.loads(raw)
    except ValueError:
        _LOGGER.warning("cdf commit log at %s is unreadable; ignoring", location)
        return None
    return entries if isinstance(entries, list) else None


def record_commit(spark: SparkSession, location: str, mode: str) -> None:
    """Record one commit at ``location``: the data files present now that
    no earlier entry claims. ``mode=='overwrite'`` restarts file history
    (the old files are gone) but keeps the version counter monotone,
    matching Delta's numbering across overwrites (module docstring).

    Concurrency: the read-modify-write runs under the best-effort
    :class:`~lakehouse_engine_spark.io.table_lock.WriterLock` with a
    default ~2 s retry budget (40 × 50 ms). The hold time is NOT just
    milliseconds on every table — the holder runs read_log, a recursive
    data-file listing, and the log overwrite under the lock, which on a
    large/many-file directory can exceed the default budget, making
    version collapse routine there. Size the budget to the table via
    ``LHE_CDF_LOCK_RETRIES`` (retry count, 50 ms apart) for
    large-directory tables with concurrent appenders. If contention
    persists past the budget, this function WARNS and skips — it must
    never fail the data write it annotates: by the time it runs, the
    append has already landed, so raising could only trigger a retry
    that duplicates data. A skipped entry is safe by construction:
    files no entry claims are swept into the NEXT commit's entry (two
    appends collapse into one version — the documented pre-sidecar
    fallback), or stamped version 0 by the materialization counter."""
    from lakehouse_engine_spark.io.table_lock import (
        ConcurrentWriterError,
        WriterLock,
    )

    try:
        retries = int(os.environ.get("LHE_CDF_LOCK_RETRIES", "40") or 40)
        if retries < 0:  # negatives are as invalid as garbage strings:
            retries = 40  # don't silently zero the budget (0 IS valid:
            # "don't wait at all")
    except ValueError:
        retries = 40
    try:
        with WriterLock(
            spark, location, op="cdf_commit", acquire_retries=retries
        ) as lk:
            _record_commit_locked(spark, location, mode, lk)
    except ConcurrentWriterError as exc:
        _LOGGER.warning(
            "cdf commit log at %s contended past the retry budget — "
            "skipping this entry (files will be swept into the next "
            "commit): %s",
            location,
            exc,
        )
    except Exception as exc:  # pragma: no cover - defensive
        _LOGGER.warning("cdf commit log update failed at %s: %s", location, exc)


def _record_commit_locked(spark, location: str, mode: str, lock) -> None:
    import datetime as _dt

    entries = read_log(spark, location) or []
    prev_max = max((e.get("version", 0) for e in entries), default=0)
    if mode == "overwrite":
        entries = []  # the old files are gone; the numbering continues
    known = {f for e in entries for f in e.get("files", [])}
    current = _list_data_files(spark, location)
    new = sorted(f for f in current if f not in known)
    if not new:
        return
    # epoch millis, not wall-clock text: a naive local string re-parsed
    # by F.to_timestamp in the SESSION timezone skews _commit_timestamp
    # by the offset whenever spark.sql.session.timeZone differs from
    # the driver OS zone; millis are zone-free and read back with
    # timestamp_millis. "ts" kept for human inspection only (UTC).
    now = _dt.datetime.now(_dt.timezone.utc)
    entries.append(
        {
            "version": prev_max + 1,
            "ts": now.strftime("%Y-%m-%d %H:%M:%S UTC"),
            "ts_ms": int(now.timestamp() * 1000),
            "files": new,
        }
    )
    lock.verify()  # detect a mid-flight lock steal before the commit
    fs_utils.write_text(spark, log_path(location), json.dumps(entries))
