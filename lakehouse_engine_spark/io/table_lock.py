"""Best-effort writer lock for degraded-delta control-file mutations.

Real Delta serializes writers through ATOMIC log commits (reference
``io/writers/delta_merge_writer.py:28-210`` inherits that safety for
free). The parquet fallbacks cannot; they read-modify-write plain files,
which under two concurrent writers silently loses one writer's work.
The writers that hold this lock:

- ``io/merge_writer._rewrite``, the one non-Delta table rewrite, for a
  path target or a catalog table (managed or EXTERNAL, at its catalog
  Location): ``merge`` (merge writes, the sensor upsert, the heartbeat
  control merge) and ``replace_where`` (GAB delete-insert,
  ``TableManager.delete_where``, the CDF retention clean). It holds the
  lock across heal → read → stage → ``verify()`` → swap
  (``utils/fs_utils`` stage and swap);
- ``io/cdf_commit_log.record_commit``, the CDF sidecar commit log
  ``<location>._lhe_cdf_commits.json``: it holds the lock across read →
  list → ``verify()`` → ``fs_utils.write_text`` (stage, then swap).

The lock file is ``<location>._lhe_writer.lock`` (:func:`lock_path`),
BESIDE the table dir rather than inside it: the commit swap renames the
live dir away, and a Spark overwrite of the dir would delete anything in
it, so a lock inside would vanish mid-rewrite and let a second writer
claim the table — or heal it — while the first is between its renames.
It reaches the file through ``utils/fs_utils`` (``_fs``, ``read_text``)
like every other sidecar; only its claim, below, is its own.

This module narrows the lost-update window with the strongest
primitive each filesystem offers: on a LOCAL path, a true ``O_EXCL``
claim (payload staged to a temp file, then hard-linked into place —
the lock appears atomically WITH its payload); elsewhere,
``FileSystem.create(path, overwrite=False)``, which is atomic
create-or-fail on HDFS but only best-effort (exists-check-then-create)
on object stores AND on Hadoop's RawLocalFileSystem — hence the native
local arm. Every detected collision becomes a LOUD
:class:`ConcurrentWriterError` instead of a silent lost-update.

Guarantees (and their limits, mirrored from the merge fallback's
documented single-writer assumption):

- two writers racing for the lock: one wins, the other raises — on
  local POSIX (O_EXCL link) and HDFS (atomic create). On S3-class
  stores create-overwrite=false is check-then-act, so a tight race can
  still slip through, and even the commit-time ``verify()`` leaves a
  final verify-to-write window open; the guard is best-effort there —
  strictly narrower than no lock at all, never a serializability proof.
- a writer whose lock was stolen mid-flight (a second writer treated it
  as stale, or deleted it manually) detects the foreign token at commit
  time via :meth:`WriterLock.verify` and raises BEFORE its swap.
- a crashed writer's lock auto-expires after ``STALE_AFTER_S`` (the next
  writer logs a warning and replaces it), so the guard cannot deadlock
  an unattended pipeline.
"""

from __future__ import annotations

import json
import logging
import os
import time
import uuid
from typing import Optional

from pyspark.sql import SparkSession

from lakehouse_engine_spark.utils import fs_utils

_LOGGER = logging.getLogger(__name__)

LOCK_NAME = "_lhe_writer.lock"
# a lock older than this belongs to a crashed writer and is replaced
STALE_AFTER_S = 3600.0
# pause between the acquire retries a caller asks for
RETRY_WAIT_S = 0.05


class ConcurrentWriterError(RuntimeError):
    """Another writer holds (or stole) the table's writer lock.

    Raised instead of proceeding with a read-modify-write that would
    silently drop the other writer's update. Remediation: serialize the
    writers (one engine job per degraded-delta table at a time — the
    documented contract), or, after a confirmed crash, delete the stale
    ``<location>._lhe_writer.lock`` / wait out ``STALE_AFTER_S``.
    """


def lock_path(location: str) -> str:
    """``<location>._lhe_writer.lock``: beside the table dir, not inside it,
    so the lock survives the commit swap that replaces the dir."""
    return f"{location.rstrip('/')}.{LOCK_NAME}"


def _read_lock(spark: SparkSession, location: str) -> Optional[dict]:
    try:
        raw = fs_utils.read_text(spark, lock_path(location))
        if raw is None:
            return None
        info = json.loads(raw) if raw.strip() else {}
        if not isinstance(info, dict):
            info = {}
    except Exception:  # unreadable/raced-away lock: treat as opaque
        info = {}
    if "acquired_unix" not in info:
        # Empty/unparseable payload: NEVER default its age to ~epoch
        # (that classified a milliseconds-old lock mid-payload-write as
        # stale and let it be stolen instantly). Age it by the file's
        # mtime instead — a fresh racer's lock reads young, a crashed
        # writer's empty file still expires via STALE_AFTER_S.
        try:
            fs, path = fs_utils._fs(spark, lock_path(location))
            info["acquired_unix"] = (
                fs.getFileStatus(path).getModificationTime() / 1000.0
            )
        except Exception:
            info["acquired_unix"] = time.time()
    return info


class WriterLock:
    """Context manager holding the table's writer lock for one mutation.

    >>> with WriterLock(spark, location, op="merge"):
    ...     ...read-modify-write...

    ``verify()`` may be called immediately before the destructive step to
    assert the lock still carries OUR token (detects mid-flight steals).
    The context exit releases the lock only when the token is still ours
    — a stolen lock belongs to the thief and is left alone.
    """

    def __init__(
        self,
        spark: SparkSession,
        location: str,
        op: str = "write",
        acquire_retries: int = 0,
    ):
        """``acquire_retries``: how many ``RETRY_WAIT_S`` pauses to WAIT
        for a live holder before declaring contention. Control-plane-only
        mutations whose hold time is milliseconds (the CDF commit log)
        pass a short retry budget so two back-to-back appends serialize
        instead of erroring; data-overwrite mutations (merge) keep the
        default 0 — waiting there just delays the inevitable conflict."""
        self._spark = spark
        self._location = location
        self._op = op
        self._acquire_retries = max(0, int(acquire_retries))
        self._token = uuid.uuid4().hex

    @staticmethod
    def _local_os_path(fs, path) -> Optional[str]:
        """OS path when ``path`` lives on the local filesystem, else None."""
        try:
            if (fs.getUri().getScheme() or "file") == "file":
                return path.toUri().getPath()
        except Exception:  # pragma: no cover - scheme probe is best-effort
            pass
        return None

    def _claim(self, fs, path, payload: bytes) -> None:
        """Create the lock file with ``payload``, failing if it exists.

        Local FS: stage to a temp name then ``os.link`` into place —
        link(2) is a true O_EXCL claim (RawLocalFileSystem's
        create-overwrite=false is only exists-check-then-create) and the
        lock appears atomically WITH its payload, so no reader can
        observe an empty lock. Other FS: Hadoop ``create(path, False)``
        (atomic on HDFS, best-effort on object stores); a reader racing
        the two-step create-then-write sees an empty file, which
        ``_read_lock`` now ages by mtime (young), not as infinitely old.
        """
        local = self._local_os_path(fs, path)
        if local is not None:
            tmp = local + ".tmp." + self._token
            with open(tmp, "wb") as f:
                f.write(payload)
            try:
                os.link(tmp, local)  # atomic claim-with-payload
            finally:
                try:
                    os.unlink(tmp)
                except OSError:  # pragma: no cover - best-effort cleanup
                    pass
            return
        out = fs.create(path, False)  # overwrite=False: atomic claim
        try:
            out.write(payload)
        finally:
            out.close()

    def __enter__(self) -> "WriterLock":
        fs, path = fs_utils._fs(self._spark, lock_path(self._location))
        # the lock sits beside the table dir: its parent must exist for
        # create(), and the data write that follows needs it anyway
        fs.mkdirs(path.getParent())
        payload = json.dumps(
            {
                "token": self._token,
                "op": self._op,
                "pid": os.getpid(),
                "acquired_unix": time.time(),
            }
        ).encode("utf-8")
        stale_takeover_done = False
        last_exc: Optional[BaseException] = None
        for attempt in range(1, self._acquire_retries + 3):
            try:
                self._claim(fs, path, payload)
                return self
            except Exception as exc:
                last_exc = exc
                holder = _read_lock(self._spark, self._location)
                if holder is None:
                    # No lock on disk after a failed create: either the
                    # racer released in the create→read window (the
                    # message says so), or the create itself failed for
                    # a NON-contention reason (permissions, transient
                    # IO) — don't misdiagnose that as writer contention.
                    # Contention errors specifically say the target
                    # ALREADY exists ("File exists" from O_EXCL/EEXIST,
                    # Hadoop FileAlreadyExistsException) — a bare
                    # "exist" substring also matched "bucket does not
                    # exist"-class failures (r14 review finding).
                    msg = str(exc).lower()
                    contention = (
                        "already exist" in msg
                        or "file exists" in msg
                        or "filealreadyexists" in msg
                        or "eexist" in msg
                        or isinstance(exc, FileExistsError)
                    )
                    if not contention:
                        raise RuntimeError(
                            f"writer-lock create failed at {self._location} "
                            "for a non-contention reason (no lock file is "
                            "present)"
                        ) from exc
                    continue  # holder released between create() and read
                age = time.time() - float(holder.get("acquired_unix", 0) or 0)
                if attempt <= self._acquire_retries:
                    time.sleep(RETRY_WAIT_S)
                    continue
                if not stale_takeover_done and age > STALE_AFTER_S:
                    stale_takeover_done = True
                    _LOGGER.warning(
                        "writer lock at %s is stale (%.0fs old, holder pid "
                        "%s op %s) — replacing it; if that writer is alive, "
                        "its commit-time verify() will refuse to proceed",
                        self._location,
                        age,
                        holder.get("pid"),
                        holder.get("op"),
                    )
                    try:
                        fs.delete(path, False)
                    except Exception:
                        pass
                    continue
                raise ConcurrentWriterError(
                    f"concurrent writer detected at {self._location}: lock "
                    f"{lock_path(self._location)} held by pid {holder.get('pid')} "
                    f"(op={holder.get('op')!r}, {age:.0f}s old). Degraded-"
                    "delta targets support ONE writer at a time (real Delta "
                    "serializes via atomic log commits); serialize the jobs, "
                    "or delete the lock file if that writer crashed."
                ) from None
        raise ConcurrentWriterError(
            f"could not claim writer lock at {self._location} after a stale "
            "takeover attempt — another writer is actively racing this one."
        ) from last_exc

    def verify(self) -> None:
        """Assert the lock still carries our token (call right before the
        destructive step: the commit swap, the log overwrite). A foreign
        token means another writer
        treated ours as stale and claimed the table mid-flight."""
        holder = _read_lock(self._spark, self._location)
        if holder is None or holder.get("token") != self._token:
            raise ConcurrentWriterError(
                f"writer lock at {self._location} was taken over mid-write "
                f"(now held by pid {(holder or {}).get('pid')!r}) — refusing "
                "to commit: the other writer's view of the table no "
                "longer includes this writer's base state."
            )

    def __exit__(self, exc_type, exc, tb) -> None:
        try:
            holder = _read_lock(self._spark, self._location)
            if holder is not None and holder.get("token") == self._token:
                fs, path = fs_utils._fs(self._spark, lock_path(self._location))
                fs.delete(path, False)
        except Exception:  # pragma: no cover - release is best-effort
            _LOGGER.warning(
                "failed to release writer lock at %s", self._location
            )
