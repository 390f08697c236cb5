"""MERGE semantics (reference ``io/writers/delta_merge_writer.py:28-210``):
update/delete/insert predicates, column sets, insert-only — via the public
``load_data`` merge write_type on a parquet target (join-rewrite path; the
same MergeOptions drive DeltaTable.merge when delta-spark is present)."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from lakehouse_engine_spark import load_data
from lakehouse_engine_spark.io.table_lock import lock_path

from tests.conftest import assert_df_equal


@pytest.fixture()
def target(spark, tmp_dir):
    path = os.path.join(tmp_dir, "tgt")
    spark.createDataFrame(
        [(1, "keep", 100), (2, "update-me", 200), (3, "delete-me", 300)],
        "id INT, tag STRING, val INT",
    ).write.parquet(path)
    return path


def _merge(spark, target, new_rows, merge_opts):
    load_data(
        {
            "input_specs": [
                {
                    "spec_id": "new",
                    "data_format": "dataframe",
                    "df_name": spark.createDataFrame(new_rows, "id INT, tag STRING, val INT"),
                }
            ],
            "output_specs": [
                {
                    "spec_id": "o",
                    "input_id": "new",
                    "data_format": "parquet",
                    "location": target,
                    "write_type": "merge",
                    "merge_opts": merge_opts,
                }
            ],
        }
    )
    return spark.read.parquet(target)


def test_merge_upsert(spark, target):
    out = _merge(
        spark,
        target,
        [(2, "updated", 222), (4, "inserted", 400)],
        {"merge_predicate": "current.id = new.id"},
    )
    assert_df_equal(
        out,
        [(1, "keep", 100), (2, "updated", 222), (3, "delete-me", 300), (4, "inserted", 400)],
    )


def test_merge_delete_predicate(spark, target):
    out = _merge(
        spark,
        target,
        [(3, "whatever", 0)],
        {"merge_predicate": "current.id = new.id", "delete_predicate": "current.tag = 'delete-me'"},
    )
    assert_df_equal(out, [(1, "keep", 100), (2, "update-me", 200)])


def test_merge_insert_only(spark, target):
    out = _merge(
        spark,
        target,
        [(2, "should-not-update", 0), (5, "new", 500)],
        {"merge_predicate": "current.id = new.id", "insert_only": True},
    )
    assert_df_equal(
        out,
        [(1, "keep", 100), (2, "update-me", 200), (3, "delete-me", 300), (5, "new", 500)],
    )


def test_merge_update_predicate_and_column_set(spark, target):
    out = _merge(
        spark,
        target,
        [(2, "touched", 999), (3, "touched", 999)],
        {
            "merge_predicate": "current.id = new.id",
            "update_predicate": "new.val > 500",
            "update_column_set": {"val": "new.val"},  # tag untouched
        },
    )
    assert_df_equal(
        out,
        [(1, "keep", 100), (2, "update-me", 999), (3, "delete-me", 999)],
    )


def test_merge_insert_predicate(spark, target):
    out = _merge(
        spark,
        target,
        [(6, "lowval", 1), (7, "highval", 1000)],
        {"merge_predicate": "current.id = new.id", "insert_predicate": "new.val >= 1000"},
    )
    assert_df_equal(
        out,
        [(1, "keep", 100), (2, "update-me", 200), (3, "delete-me", 300), (7, "highval", 1000)],
    )


def test_merge_insert_only_ignores_delete_predicate(spark, target):
    """insert_only + delete_predicate TOGETHER: Delta's builder adds
    whenMatchedDelete only under ``not insert_only`` (reference
    delta_merge_writer.py:110-139), so the matched row must SURVIVE —
    insert_only wins — while its source twin is deduped away and only
    genuinely-new keys insert. Pins the join-rewrite to the same rule."""
    out = _merge(
        spark,
        target,
        [(3, "would-delete", 0), (8, "new", 800)],
        {
            "merge_predicate": "current.id = new.id",
            "insert_only": True,
            "delete_predicate": "current.tag = 'delete-me'",
        },
    )
    assert_df_equal(
        out,
        [(1, "keep", 100), (2, "update-me", 200), (3, "delete-me", 300), (8, "new", 800)],
    )


def test_merge_insert_only_with_insert_predicate_and_column_set(spark, target):
    """insert_only + insert_predicate + insert_column_set: matched source
    rows dedup away; unmatched rows pass the predicate filter and insert
    through the column set (unset columns become typed nulls) — the full
    whenNotMatchedInsert(condition, values) contract under insert_only."""
    out = _merge(
        spark,
        target,
        [(2, "dup", 0), (9, "low", 1), (10, "high", 1000)],
        {
            "merge_predicate": "current.id = new.id",
            "insert_only": True,
            "insert_predicate": "new.val >= 1000",
            "insert_column_set": {"id": "new.id", "val": "new.val"},  # no tag
        },
    )
    assert_df_equal(
        out,
        [
            (1, "keep", 100),
            (2, "update-me", 200),
            (3, "delete-me", 300),
            (10, None, 1000),
        ],
    )


def test_merge_all_clauses_together(spark, target):
    """The full clause set in ONE merge — delete predicate, conditional
    update with a column set, conditional insert: each matched row takes
    exactly one clause in Delta's order (delete, then update, else keep),
    and unmatched rows go through the insert filter."""
    out = _merge(
        spark,
        target,
        [
            (1, "src1", 50),     # matched: no delete, update cond val>60 fails -> untouched
            (2, "src2", 999),    # matched: update fires (val -> 999)
            (3, "src3", 0),      # matched: delete fires (tag = delete-me)
            (11, "lo", 10),      # unmatched: insert cond fails -> dropped
            (12, "hi", 5000),    # unmatched: inserted
        ],
        {
            "merge_predicate": "current.id = new.id",
            "delete_predicate": "current.tag = 'delete-me'",
            "update_predicate": "new.val > 60",
            "update_column_set": {"val": "new.val"},
            "insert_predicate": "new.val >= 1000",
        },
    )
    assert_df_equal(
        out,
        [(1, "keep", 100), (2, "update-me", 999), (12, "hi", 5000)],
    )


def test_merge_creates_target_on_first_load(spark, tmp_dir):
    fresh = os.path.join(tmp_dir, "fresh")
    out = _merge(spark, fresh, [(1, "first", 1)], {"merge_predicate": "current.id = new.id"})
    assert_df_equal(out, [(1, "first", 1)])


def test_merge_corrupt_target_fails_instead_of_overwriting(spark, tmp_dir):
    """A corrupt/unreadable target must FAIL the merge, not be treated as
    'first load' — the first-load branch OVERWRITES the target, so the old
    bare except turned any transient read failure into data loss. The
    target bytes must be untouched after the failed merge."""
    bad = os.path.join(tmp_dir, "bad")
    os.makedirs(bad)
    with open(os.path.join(bad, "part-00000.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception):
        _merge(spark, bad, [(1, "x", 1)], {"merge_predicate": "current.id = new.id"})
    assert sorted(os.listdir(bad)) == ["part-00000.parquet"]
    with open(os.path.join(bad, "part-00000.parquet"), "rb") as f:
        assert f.read() == b"not a parquet file"


def test_catalog_schema_lookup_is_bulk_and_memoized(spark, tmp_dir):
    """_catalog_schema_for_location must not do one metastore round-trip
    per table: the walk is one bulk SHOW TABLE EXTENDED per database
    (zero per-table DESCRIBEs on catalogs that support it), and a second
    lookup for the same location hits the per-location memo — no catalog
    walk at all. The locations hold a space, which the bulk listing's
    ``Location:`` line keeps."""
    from unittest.mock import patch

    from lakehouse_engine_spark.io import merge_writer as mw

    spark.sql("CREATE DATABASE IF NOT EXISTS lookup_db")
    locs = []
    for i in range(5):
        loc = os.path.join(tmp_dir, f"lk {i}")
        spark.createDataFrame([(i, f"v{i}")], "id INT, val STRING").write.mode(
            "overwrite"
        ).parquet(loc)
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS lookup_db.lk{i} (id INT, val STRING) "
            f"USING parquet LOCATION '{loc}'"
        )
        locs.append(loc)
    mw._LOCATION_TABLE_CACHE.clear()
    sql_calls = []
    real_sql = spark.sql

    def counting_sql(q, *a, **kw):
        sql_calls.append(q)
        return real_sql(q, *a, **kw)

    n_dbs = len(spark.catalog.listDatabases())
    with patch.object(spark, "sql", side_effect=counting_sql):
        schema = mw._catalog_schema_for_location(spark, locs[3])
        assert schema is not None and [f.name for f in schema.fields] == [
            "id", "val",
        ]
        first_pass = list(sql_calls)
        # bulk path: at most one SHOW per database, zero per-table DESCRIBEs
        assert not [q for q in first_pass if "DESCRIBE" in q], first_pass
        assert len(
            [q for q in first_pass if "SHOW TABLE EXTENDED" in q]
        ) <= n_dbs
        with patch.object(
            spark.catalog, "listDatabases", wraps=spark.catalog.listDatabases
        ) as ld:
            sql_calls.clear()
            schema2 = mw._catalog_schema_for_location(spark, locs[3])
            assert schema2 == schema
            # memo hit: no catalog walk; exactly one validating DESCRIBE
            # (the binding must be re-checked against the location so a
            # re-created table can't serve a stale schema), no SHOWs
            assert ld.call_count == 0
            assert not [q for q in sql_calls if "SHOW TABLE" in q], sql_calls
            assert len([q for q in sql_calls if "DESCRIBE" in q]) == 1, sql_calls
    # stale binding falls through to a re-walk instead of erroring
    spark.sql("DROP TABLE lookup_db.lk3")
    assert mw._catalog_schema_for_location(spark, locs[3]) is None
    for i in range(5):
        spark.sql(f"DROP TABLE IF EXISTS lookup_db.lk{i}")
    spark.sql("DROP DATABASE IF EXISTS lookup_db")


# ---------------------------------------------------------------------------
# multi-writer guard (io/table_lock.py): the parquet fallback's documented
# single-writer contract is ENFORCED — two interleaved writers get one
# winner and one loud ConcurrentWriterError, never a silent lost-update
# (real Delta gets this from atomic log commits,
# reference io/writers/delta_merge_writer.py:28-210)
# ---------------------------------------------------------------------------


def test_concurrent_merge_writers_one_wins(spark, target):
    """Writer B starts while writer A holds the lock: B raises instead of
    overwriting A's base state; after A releases, B's merge succeeds."""
    from lakehouse_engine_spark.io.table_lock import (
        ConcurrentWriterError,
        WriterLock,
    )

    with WriterLock(spark, target, op="merge"):  # writer A mid-flight
        with pytest.raises(ConcurrentWriterError, match="concurrent writer"):
            _merge(
                spark, target,
                [(2, "updated", 999)],
                {"merge_predicate": "current.id = new.id"},
            )
        # A's view of the target is untouched by B's refused attempt
        assert spark.read.parquet(target).count() == 3
    got = _merge(  # A released: B retries and wins
        spark, target,
        [(2, "updated", 999)],
        {"merge_predicate": "current.id = new.id"},
    )
    assert [r["val"] for r in got.collect() if r["id"] == 2] == [999]
    assert got.count() == 3


def test_lock_steal_detected_before_overwrite(spark, tmp_dir):
    """A second writer that treated writer A's lock as stale and replaced
    it is detected by A's commit-time verify(): A refuses the overwrite
    (its materialized result no longer includes B's update)."""
    import os as _os

    from lakehouse_engine_spark.io.table_lock import (
        ConcurrentWriterError,
        WriterLock,
    )

    loc = _os.path.join(tmp_dir, "steal_tgt")
    _os.makedirs(loc, exist_ok=True)
    with WriterLock(spark, loc, op="merge") as a:
        a.verify()  # still ours
        # writer B steals: removes A's lock file and claims its own
        _os.remove(lock_path(loc))
        with WriterLock(spark, loc, op="merge"):
            with pytest.raises(ConcurrentWriterError, match="taken over"):
                a.verify()


def test_stale_lock_is_replaced_not_deadlocked(spark, tmp_dir):
    """A crashed writer's lock (acquired_unix far in the past) is replaced
    with a warning — the guard cannot deadlock an unattended pipeline."""
    import json as _json
    import os as _os

    from lakehouse_engine_spark.io.table_lock import WriterLock

    loc = _os.path.join(tmp_dir, "stale_tgt")
    _os.makedirs(loc, exist_ok=True)
    with open(lock_path(loc), "w") as fh:
        _json.dump({"token": "dead", "pid": 1, "op": "merge",
                    "acquired_unix": 1.0}, fh)
    with WriterLock(spark, loc, op="merge") as lk:
        lk.verify()  # claimed over the stale lock


def test_concurrent_cdf_commit_serializes_or_skips(spark, tmp_dir):
    """The CDF sidecar log's read-modify-write is guarded with a RETRY
    budget, and on persistent contention it SKIPS with a warning rather
    than raising — by the time record_commit runs, the data append has
    already landed, so an error could only trigger a duplicate-writing
    retry. Skipped files are swept into the NEXT commit's entry (the
    documented version-collapse fallback)."""
    import os as _os

    from lakehouse_engine_spark.io import cdf_commit_log
    from lakehouse_engine_spark.io.table_lock import WriterLock

    loc = _os.path.join(tmp_dir, "cdf_tgt")
    spark.range(3).write.parquet(loc)
    with WriterLock(spark, loc, op="cdf_commit"):
        # held past the ~2s retry budget: no exception, no entry
        cdf_commit_log.record_commit(spark, loc, "append")
        assert cdf_commit_log.read_log(spark, loc) is None
    spark.range(2).write.mode("append").parquet(loc)
    cdf_commit_log.record_commit(spark, loc, "append")  # released
    entries = cdf_commit_log.read_log(spark, loc)
    # ONE sweeping entry claims all files (version collapse, not loss)
    assert entries and len(entries) == 1 and entries[0]["version"] == 1
    assert entries[0]["ts_ms"] > 0  # zone-free epoch millis stamped
    files = set(entries[0]["files"])
    import glob as _glob

    on_disk = {
        p for p in _glob.glob(_os.path.join(loc, "*.parquet"))
    }
    assert {f for f in files} == on_disk


def test_cdf_back_to_back_appends_serialize_through_retry(spark, tmp_dir):
    """A lock held only milliseconds (the real cdf hold time) is ridden
    out by the retry budget: the second writer WAITS and then commits
    its own entry — two appends, two versions, nothing skipped."""
    import os as _os
    import threading
    import time as _time

    from lakehouse_engine_spark.io import cdf_commit_log
    from lakehouse_engine_spark.io.table_lock import WriterLock

    loc = _os.path.join(tmp_dir, "cdf_tgt2")
    spark.range(3).write.parquet(loc)
    cdf_commit_log.record_commit(spark, loc, "append")
    spark.range(2).write.mode("append").parquet(loc)
    lk = WriterLock(spark, loc, op="cdf_commit").__enter__()

    def _release_soon():
        _time.sleep(0.3)  # inside the ~2s retry budget
        lk.__exit__(None, None, None)

    t = threading.Thread(target=_release_soon)
    t.start()
    cdf_commit_log.record_commit(spark, loc, "append")  # waits, then wins
    t.join()
    entries = cdf_commit_log.read_log(spark, loc)
    assert entries and [e["version"] for e in entries] == [1, 2]


def test_object_store_racy_double_acquire_caught_at_verify(spark, tmp_dir):
    """S3-shaped probe (r13 verdict task): object-store create-overwrite=
    false is check-then-act, so two writers CAN both believe they
    acquired. Simulate B's racy PUT slipping through A's claim (a blind
    overwrite of the lock object, exactly what a last-writer-wins store
    does) and prove A's commit-time token verify still catches the steal
    BEFORE the destructive overwrite. The residual window — B overwrites
    between A's verify() and A's write — is documented in COVERAGE.md
    and table_lock.py's module docstring as best-effort-only on S3."""
    import json as _json
    import os as _os

    from lakehouse_engine_spark.io.table_lock import (
        ConcurrentWriterError,
        WriterLock,
    )

    loc = _os.path.join(tmp_dir, "s3ish_tgt")
    _os.makedirs(loc, exist_ok=True)
    with WriterLock(spark, loc, op="merge") as a:
        # B's create "succeeded" on the object store despite A's object:
        # emulate with a direct overwrite carrying B's token.
        with open(lock_path(loc), "w") as fh:
            _json.dump({"token": "writer-B", "pid": 99, "op": "merge",
                        "acquired_unix": 1e18}, fh)
        with pytest.raises(ConcurrentWriterError, match="taken over"):
            a.verify()


def test_empty_lock_payload_is_young_not_stolen(spark, tmp_dir):
    """ADVICE r13 pin: a lock whose payload is empty (reader raced the
    create-then-write two-step) must be aged by file MTIME — a
    milliseconds-old empty lock is a live holder (contention), not an
    ~epoch-old stale lock to steal."""
    import os as _os

    from lakehouse_engine_spark.io.table_lock import (
        ConcurrentWriterError,
        WriterLock,
    )

    loc = _os.path.join(tmp_dir, "empty_lock_tgt")
    _os.makedirs(loc, exist_ok=True)
    open(lock_path(loc), "w").close()  # 0 bytes
    with pytest.raises(ConcurrentWriterError, match="concurrent writer"):
        with WriterLock(spark, loc, op="merge"):
            pass
    # ...but a crashed writer's empty lock still expires via STALE_AFTER_S
    _os.utime(lock_path(loc), (1.0, 1.0))
    with WriterLock(spark, loc, op="merge") as lk:
        lk.verify()


def test_local_claim_is_atomic_with_payload(spark, tmp_dir):
    """The local-FS arm claims via temp-file + os.link: the lock appears
    atomically WITH its full payload (no observable empty window), and
    two threads hammering acquire produce exactly one winner per round."""
    import json as _json
    import os as _os
    import threading

    from lakehouse_engine_spark.io.table_lock import (
        ConcurrentWriterError,
        WriterLock,
    )

    loc = _os.path.join(tmp_dir, "atomic_tgt")
    _os.makedirs(loc, exist_ok=True)
    with WriterLock(spark, loc, op="merge"):
        with open(lock_path(loc)) as fh:
            info = _json.load(fh)  # full payload, parseable immediately
        assert info["op"] == "merge" and info["token"]
    assert not _os.path.exists(lock_path(loc))

    wins, errs = [], []

    def _race(tag):
        try:
            lk = WriterLock(spark, loc, op=tag).__enter__()
            wins.append((tag, lk))
        except ConcurrentWriterError:
            errs.append(tag)

    for _ in range(5):
        wins.clear(); errs.clear()
        ts = [threading.Thread(target=_race, args=(f"w{i}",)) for i in range(2)]
        [t.start() for t in ts]; [t.join() for t in ts]
        assert len(wins) == 1 and len(errs) == 1, (wins, errs)
        wins[0][1].__exit__(None, None, None)


def test_non_contention_create_failure_not_misdiagnosed(spark, tmp_dir):
    """ADVICE r13 pin: a create that fails for a NON-contention reason
    (permissions, transient IO) with no lock file present must re-raise
    the original error, not spin to exhaustion and claim 'a stale
    takeover attempt'."""
    import os as _os

    from lakehouse_engine_spark.io.table_lock import WriterLock

    loc = _os.path.join(tmp_dir, "io_fail_tgt")
    _os.makedirs(loc, exist_ok=True)
    lk = WriterLock(spark, loc, op="merge")
    orig = lk._claim

    def _boom(fs, path, payload):
        raise IOError("Disk quota exceeded")

    lk._claim = _boom
    with pytest.raises(RuntimeError, match="non-contention") as ei:
        lk.__enter__()
    assert "quota" in str(ei.value.__cause__)
    lk._claim = orig
    with lk:  # the same lock object still works once IO recovers
        lk.verify()


def test_cdf_lock_retry_budget_env_knob(spark, tmp_dir, monkeypatch):
    """ADVICE r13 pin: LHE_CDF_LOCK_RETRIES sizes the commit-log lock
    retry budget for large-directory tables; 0 means don't wait at all
    (immediate skip under contention)."""
    import os as _os
    import time as _time

    from lakehouse_engine_spark.io import cdf_commit_log
    from lakehouse_engine_spark.io.table_lock import WriterLock

    loc = _os.path.join(tmp_dir, "cdf_knob_tgt")
    spark.range(3).write.parquet(loc)
    monkeypatch.setenv("LHE_CDF_LOCK_RETRIES", "0")
    with WriterLock(spark, loc, op="cdf_commit"):
        t0 = _time.time()
        cdf_commit_log.record_commit(spark, loc, "append")  # skips fast
        assert _time.time() - t0 < 1.5
        assert cdf_commit_log.read_log(spark, loc) is None
    monkeypatch.setenv("LHE_CDF_LOCK_RETRIES", "not-a-number")
    cdf_commit_log.record_commit(spark, loc, "append")  # falls back to 40
    entries = cdf_commit_log.read_log(spark, loc)
    assert entries and entries[0]["version"] == 1


def test_does_not_exist_failure_not_treated_as_contention(spark, tmp_dir):
    """r14 review pin: a create failing with a '...does not exist'
    message (missing bucket/parent) must re-raise as non-contention —
    the bare-substring 'exist' match routed it into the retry loop."""
    import os as _os

    from lakehouse_engine_spark.io.table_lock import WriterLock

    loc = _os.path.join(tmp_dir, "no_bucket_tgt")
    _os.makedirs(loc, exist_ok=True)
    lk = WriterLock(spark, loc, op="merge")

    def _boom(fs, path, payload):
        raise IOError("The specified bucket does not exist")

    lk._claim = _boom
    with pytest.raises(RuntimeError, match="non-contention") as ei:
        lk.__enter__()
    assert "bucket" in str(ei.value.__cause__)


# ------------------------------------------------- single-pass parity


def _merged_by_clause(target, df, opts, src_cols):
    """Test-only oracle: the merge result built clause by clause — target-only,
    updated, untouched and inserted rows as separate filters over the full
    outer join, unioned by name. The engine's single filter + projection
    must give the same rows and the same output schema."""
    from pyspark.sql import functions as F

    cols = target.columns
    cur = target.select(F.struct(*target.columns).alias("current"))
    new = df.select(F.struct(*df.columns).alias("new"))
    joined = cur.join(new, on=F.expr(opts.merge_predicate), how="full_outer")
    target_only = joined.filter(F.col("new").isNull()).select("current.*")
    matched = joined.filter(F.col("current").isNotNull() & F.col("new").isNotNull())
    source_only = joined.filter(F.col("current").isNull())
    if opts.insert_only:
        kept_matched = matched.select("current.*")
    else:
        if opts.delete_predicate:
            matched = matched.filter(
                ~F.coalesce(F.expr(opts.delete_predicate), F.lit(False))
            )
        upd_cond = F.expr(opts.update_predicate) if opts.update_predicate else F.lit(True)
        to_update = matched.filter(upd_cond)
        untouched = (
            matched.filter(~F.coalesce(upd_cond, F.lit(False)))
            if opts.update_predicate
            else matched.limit(0)
        )
        if opts.update_column_set:
            upd_cols = [
                F.expr(opts.update_column_set[c]).alias(c)
                if c in opts.update_column_set
                else F.col(f"current.{c}").alias(c)
                for c in cols
            ]
        else:
            upd_cols = [
                (F.col(f"new.{c}") if c.lower() in src_cols else F.col(f"current.{c}")).alias(c)
                for c in cols
            ]
        kept_matched = to_update.select(*upd_cols).unionByName(untouched.select("current.*"))
    if opts.insert_predicate:
        source_only = source_only.filter(F.expr(opts.insert_predicate))
    if opts.insert_column_set:
        ins_cols = [
            F.expr(opts.insert_column_set[c]).alias(c)
            if c in opts.insert_column_set
            else F.lit(None).cast(dict(target.dtypes)[c]).alias(c)
            for c in cols
        ]
    else:
        ins_cols = [F.col(f"new.{c}").alias(c) for c in cols]
    return target_only.unionByName(kept_matched).unionByName(source_only.select(*ins_cols))


_TARGET_ROWS = [(1, "a", 10), (2, "b", None), (3, "c", 30), (4, None, 40), (5, "e", 50)]
# matched ids 1-4 (val higher, lower, NULL on either side), source-only 6-8
_SOURCE_ROWS = [
    (1, "A", 11), (2, "B", 20), (3, "C", None), (4, "D", 4),
    (6, "F", 60), (7, None, 70), (8, "H", None),
]
# unset, true, false, NULL-valued, and per-row true/false/NULL
_PREDICATES = [None, "true", "false", "CAST(NULL AS BOOLEAN)", "current.val < new.val"]
_INSERT_PREDICATES = [None, "true", "false", "CAST(NULL AS BOOLEAN)", "new.val > 60"]


def _frame(spark, rows, ddl="id INT, tag STRING, val INT"):
    # checkpointed so each of the oracle's four scans reads JVM blocks
    # instead of re-running the Python-side rows
    return spark.createDataFrame(rows, ddl).localCheckpoint()


@pytest.fixture(scope="module")
def merge_inputs(spark):
    return _frame(spark, _TARGET_ROWS), _frame(spark, _SOURCE_ROWS)


def _assert_single_pass_matches_clause_oracle(spark, target, source, **opts):
    """Same output schema (names and types) and same row multiset from the
    single pass and the clause-by-clause oracle; returns the sorted rows."""
    from lakehouse_engine_spark.core.definitions import MergeOptions
    from lakehouse_engine_spark.io.merge_writer import _merged, _prepare_merge

    opts = MergeOptions(**{"merge_predicate": "current.id = new.id", **opts})
    tgt, src, src_cols = _prepare_merge(spark, target, source, opts)
    got = _merged(tgt, src, opts, src_cols)
    want = _merged_by_clause(tgt, src, opts, src_cols)

    def _types(frame):
        return [(f.name, f.dataType) for f in frame.schema.fields]

    def _rows(frame):
        return sorted((tuple(r) for r in frame.collect()), key=repr)

    assert _types(got) == _types(want)
    rows = _rows(got)
    assert rows == _rows(want)
    return rows


@pytest.mark.parametrize("delete", _PREDICATES)
@pytest.mark.parametrize("update", _PREDICATES)
def test_single_pass_merge_matches_clause_oracle(spark, merge_inputs, delete, update):
    """Each of the delete/update/insert predicates unset, constant true,
    constant false, NULL-valued and true/false/NULL per row. Delete and
    update both act on matched rows, so they run as a full product; the
    insert predicate cycles through its values across that product."""
    insert = _INSERT_PREDICATES[
        (_PREDICATES.index(delete) + _PREDICATES.index(update)) % len(_INSERT_PREDICATES)
    ]
    _assert_single_pass_matches_clause_oracle(
        spark,
        *merge_inputs,
        delete_predicate=delete,
        update_predicate=update,
        insert_predicate=insert,
    )


@pytest.mark.parametrize("insert", _INSERT_PREDICATES)
def test_single_pass_insert_only_matches_clause_oracle(spark, merge_inputs, insert):
    # the delete and update predicates must be ignored under insert_only
    _assert_single_pass_matches_clause_oracle(
        spark,
        *merge_inputs,
        insert_only=True,
        insert_predicate=insert,
        delete_predicate="true",
        update_predicate="true",
    )


@pytest.mark.parametrize(
    "opts",
    [
        {
            "update_column_set": {
                "val": "current.val + new.val",
                "tag": "concat(current.tag, '+')",
            },
            "insert_column_set": {"id": "new.id", "tag": "'inserted'"},
        },
        # expressions whose types differ from the target columns (INT val
        # gets a DOUBLE and a BIGINT): both forms widen to the same type
        {
            "update_predicate": "current.val < new.val",
            "update_column_set": {"val": "new.val * 1.5"},
            "insert_column_set": {"id": "new.id", "val": "CAST(new.val AS BIGINT) * 2"},
        },
        {"insert_only": True, "insert_column_set": {"id": "new.id + 100"}},
    ],
    ids=["column_sets", "column_sets_other_types", "insert_only_column_set"],
)
def test_single_pass_column_sets_match_clause_oracle(spark, merge_inputs, opts):
    _assert_single_pass_matches_clause_oracle(spark, *merge_inputs, **opts)


@pytest.fixture()
def auto_merge(spark):
    key = "spark.databricks.delta.schema.autoMerge.enabled"
    before = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    yield
    if before is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, before)


def test_single_pass_auto_merge_evolution_matches_clause_oracle(spark, merge_inputs, auto_merge):
    rows = _assert_single_pass_matches_clause_oracle(
        spark,
        merge_inputs[0],
        _frame(
            spark,
            [(1, "A", 11, "x1"), (3, "C", 31, "x3"), (9, "I", 90, "x9")],
            "id INT, tag STRING, val INT, extra STRING",
        ),
        update_predicate="current.val < new.val",
    )
    # existing rows get NULL in the evolved column; inserts carry it
    assert (2, "b", None, None) in rows and (9, "I", 90, "x9") in rows


def test_single_pass_missing_source_column_keeps_current_value(spark, merge_inputs, auto_merge):
    """A source without ``val``: updateAll keeps each matched row's current
    ``val``; an insert leaves it NULL."""
    rows = _assert_single_pass_matches_clause_oracle(
        spark,
        merge_inputs[0],
        _frame(spark, [(1, "A"), (9, "I")], "id INT, tag STRING"),
    )
    assert (1, "A", 10) in rows and (9, "I", None) in rows


def test_single_pass_two_source_rows_matching_one_target_row(spark, merge_inputs):
    """Known divergence from Delta: Delta fails a merge in which several
    source rows match one target row; the rewrite keeps one output row per
    joined pair (the target row appears once per matching source row), in
    the single pass exactly as in the clause-by-clause form."""
    rows = _assert_single_pass_matches_clause_oracle(
        spark,
        merge_inputs[0],
        _frame(spark, [(1, "first", 11), (1, "second", 12), (6, "F", 60)]),
        update_predicate="new.val > 0",
    )
    assert [r for r in rows if r[0] == 1] == [(1, "first", 11), (1, "second", 12)]


def _plan_nodes(frame, name):
    import re

    plan = frame._jdf.queryExecution().optimizedPlan().toString()
    return sum(
        1 for line in plan.splitlines() if re.match(rf"^[\s:|+\-]*{name}\b", line)
    )


def test_merge_result_is_one_join_and_no_union(spark, merge_inputs):
    """Load-independent guard against a multi-pass rewrite: the merge result
    with every clause set plans ONE join and no union."""
    from lakehouse_engine_spark.core.definitions import MergeOptions
    from lakehouse_engine_spark.io.merge_writer import _merged, _prepare_merge

    opts = MergeOptions(
        merge_predicate="current.id = new.id",
        delete_predicate="current.tag = 'c'",
        update_predicate="current.val < new.val",
        insert_predicate="new.val > 60",
    )
    tgt, src, src_cols = _prepare_merge(spark, *merge_inputs, opts)
    result = _merged(tgt, src, opts, src_cols)
    assert _plan_nodes(result, "Join") == 1
    assert _plan_nodes(result, "Union") == 0
    # the guard can see the multi-pass shape it rejects
    oracle = _merged_by_clause(tgt, src, opts, src_cols)
    assert _plan_nodes(oracle, "Join") > 1 and _plan_nodes(oracle, "Union") > 0


def test_table_merge_resolves_catalog_location_once(spark, tmp_dir, monkeypatch):
    """One ``DESCRIBE FORMATTED`` per merge into an EXTERNAL table: the
    Location that anchors the writer lock is also where the swap lands."""
    from lakehouse_engine_spark.io import merge_writer

    path = os.path.join(tmp_dir, "ext_tgt")
    spark.createDataFrame(
        [(1, "keep", 100), (2, "update-me", 200)], "id INT, tag STRING, val INT"
    ).write.parquet(path)
    spark.sql("DROP TABLE IF EXISTS merge_once_ext")
    spark.sql(
        f"CREATE TABLE merge_once_ext (id INT, tag STRING, val INT) "
        f"USING parquet LOCATION '{path}'"
    )
    calls = []
    real = merge_writer.catalog_location

    def counting(spark_, db_table):
        calls.append(db_table)
        return real(spark_, db_table)

    monkeypatch.setattr(merge_writer, "catalog_location", counting)
    try:
        merge_writer.merge(
            spark,
            spark.createDataFrame([(2, "updated", 222), (3, "new", 300)],
                                  "id INT, tag STRING, val INT"),
            merge_writer.MergeOptions(merge_predicate="current.id = new.id"),
            db_table="merge_once_ext",
            data_format="parquet",
        )
        assert calls == ["merge_once_ext"]
        assert_df_equal(
            spark.table("merge_once_ext"),
            [(1, "keep", 100), (2, "updated", 222), (3, "new", 300)],
        )
        # still EXTERNAL at its path after the swap
        typ, loc = real(spark, "merge_once_ext")
        assert typ == "EXTERNAL" and os.path.normpath(loc.replace("file:", "")) == path
    finally:
        spark.sql("DROP TABLE IF EXISTS merge_once_ext")


def test_automerge_adds_column_to_external_catalog_table(spark, tmp_dir):
    """autoMerge schema evolution into an EXTERNAL parquet catalog table: the
    swap keeps the catalog entry, so the added column must reach it through
    ``ALTER TABLE … ADD COLUMNS`` for ``spark.table`` to show it; and, as
    after Spark's own overwrite, no statistics of the swapped-out files
    remain."""
    from lakehouse_engine_spark.io import merge_writer

    path = os.path.join(tmp_dir, "evolve_ext")
    spark.createDataFrame([(1, "a"), (2, "b")], "id INT, v STRING").write.parquet(path)
    spark.sql("DROP TABLE IF EXISTS evolve_ext")
    spark.sql(f"CREATE TABLE evolve_ext (id INT, v STRING) USING parquet LOCATION '{path}'")
    spark.sql("ANALYZE TABLE evolve_ext COMPUTE STATISTICS")
    key = "spark.databricks.delta.schema.autoMerge.enabled"
    spark.conf.set(key, "true")
    try:
        merge_writer.merge(
            spark,
            spark.createDataFrame([(2, "B", 20), (3, "c", 30)], "id INT, v STRING, extra INT"),
            merge_writer.MergeOptions(merge_predicate="current.id = new.id"),
            db_table="evolve_ext",
            data_format="parquet",
        )
        got = spark.table("evolve_ext")
        assert got.columns == ["id", "v", "extra"]
        assert_df_equal(got, [(1, "a", None), (2, "B", 20), (3, "c", 30)])
        info = spark.sql("DESCRIBE FORMATTED evolve_ext").collect()
        assert "Statistics" not in {r["col_name"] for r in info}
    finally:
        spark.conf.unset(key)
        spark.sql("DROP TABLE IF EXISTS evolve_ext")


# ---------------------------------------------------------------------------
# rewrite contract: every non-Delta in-place row change (GAB delete-insert,
# delete_where, the sensor upsert, the CDF clean, merge) is the merge
# writer's one locked rewrite
# ---------------------------------------------------------------------------

_SENSOR_DDL = (
    "sensor_id STRING, assets ARRAY<STRING>, status STRING, "
    "status_change_timestamp TIMESTAMP, checkpoint_location STRING, "
    "upstream_key STRING, upstream_value STRING"
)


def _run_gab(spark, table, path):
    from types import SimpleNamespace

    from lakehouse_engine_spark.algorithms.gab import GAB

    fresh = spark.createDataFrame(
        [("q1", dt.date(2024, 1, 1), dt.date(2024, 1, 1), 10.0, "DAY")],
        "query_id STRING, from_date DATE, to_date DATE, m1 DOUBLE, cadence STRING",
    )
    gab = GAB.__new__(GAB)  # only the delete-insert step is under test
    gab.spark = spark
    gab.spec = SimpleNamespace(target_database="default", target_table=table)
    gab._insights_select = lambda *_: fresh
    gab._delete_insert({"query_id": "q1"}, "DAY", None, {})


def _run_delete_where(spark, table, path):
    from lakehouse_engine_spark.core.table_manager import TableManager

    TableManager(
        {"function": "delete_where", "table_or_view": table, "where_clause": "id = 2"}
    ).execute()


def _run_sensor(spark, table, path):
    from lakehouse_engine_spark.algorithms.sensor import update_sensor_status

    update_sensor_status("s1", table)


def _run_cdf(spark, table, path):
    from lakehouse_engine_spark.terminators.terminator_factory import expose_cdf

    expose_cdf(
        spark,
        materialized_cdf_location=path,
        read_cdf=lambda: spark.createDataFrame(
            [], "id INT, _change_type STRING, _commit_timestamp TIMESTAMP"
        ),
        write_cdf=lambda _df: None,  # only the retention clean is under test
        data_format="parquet",
        clean_cdf=True,
        days_to_keep=30,
        now=dt.datetime(2024, 6, 15, 12, 0, 0),
    )


def _run_merge(spark, table, path):
    from lakehouse_engine_spark.io import merge_writer

    merge_writer.merge(
        spark,
        spark.createDataFrame([(2, "B", 1), (3, "c", 3)], "id INT, v STRING, p INT"),
        merge_writer.MergeOptions(merge_predicate="current.id = new.id"),
        db_table=table,
        data_format="parquet",
    )


_TS = dt.datetime(2024, 6, 1)
_IDS = "id INT, v STRING, p INT"
# caller -> (ddl, partition column, rows, run, compared columns, want)
_REWRITE_CASES = {
    "gab": (
        "query_id STRING, from_date DATE, to_date DATE, m1 DOUBLE, cadence STRING",
        "cadence",
        [("q1", dt.date(2024, 1, 1), dt.date(2024, 1, 1), 1.0, "DAY"),
         ("q1", dt.date(2024, 1, 1), dt.date(2024, 1, 31), 5.0, "MONTH")],
        _run_gab, ["cadence", "m1"], [("DAY", 10.0), ("MONTH", 5.0)],
    ),
    "delete_where": (
        _IDS, "p", [(1, "a", 1), (2, "b", 2)],
        _run_delete_where, ["id", "v", "p"], [(1, "a", 1)],
    ),
    "sensor": (
        _SENSOR_DDL, "status",
        [("s1", ["a"], "ACQUIRED_NEW_DATA", _TS, None, "None", "None"),
         ("s2", ["b"], "ACQUIRED_NEW_DATA", _TS, None, "None", "None")],
        _run_sensor, ["sensor_id", "status", "assets"],
        [("s1", "PROCESSED_NEW_DATA", ["a"]), ("s2", "ACQUIRED_NEW_DATA", ["b"])],
    ),
    "cdf": (
        "id INT, _change_type STRING, _commit_timestamp STRING", "_commit_timestamp",
        [(1, "insert", "20240614103000"), (2, "delete", "20240401080000")],
        _run_cdf, ["id"], [(1,)],
    ),
    "merge": (
        _IDS, "p", [(1, "a", 1), (2, "b", 2)],
        _run_merge, ["id", "v", "p"], [(1, "a", 1), (2, "B", 1), (3, "c", 3)],
    ),
}


def _data_files(path):
    """``relative path -> (size, mtime)`` of the files under ``path``, or of
    ``path`` itself when it is a file."""
    if os.path.isfile(path):
        st = os.stat(path)
        return {".": (st.st_size, st.st_mtime_ns)}
    out = {}
    for root, _, files in os.walk(path):
        for name in files:
            full = os.path.join(root, name)
            st = os.stat(full)
            out[os.path.relpath(full, path)] = (st.st_size, st.st_mtime_ns)
    return out


def _rewrite_table(spark, tmp_dir, caller):
    """The caller's partitioned EXTERNAL parquet table, registered with its
    partitions; returns ``(table, path)``."""
    ddl, part, rows = _REWRITE_CASES[caller][:3]
    table = f"rewrite_{caller}"
    path = os.path.join(tmp_dir, table)
    spark.createDataFrame(rows, ddl).write.partitionBy(part).parquet(path)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} ({ddl}) USING parquet PARTITIONED BY ({part}) "
        f"LOCATION '{path}'"
    )
    spark.sql(f"MSCK REPAIR TABLE {table}")
    return table, path


class _FaultFS:
    """FileSystem proxy that calls ``hook(op, src, dst)`` before each rename
    and delete, and after each create; everything else goes to the real
    FileSystem."""

    def __init__(self, real, hook):
        self._real = real
        self._hook = hook

    def create(self, path, overwrite):
        out = self._real.create(path, overwrite)
        try:
            self._hook("create", str(path), None)
        except Exception:
            out.close()  # leaves the empty file a write that died mid-way leaves
            raise
        return out

    def rename(self, src, dst):
        self._hook("rename", str(src), str(dst))
        return self._real.rename(src, dst)

    def delete(self, path, recursive):
        self._hook("delete", str(path), None)
        return self._real.delete(path, recursive)

    def __getattr__(self, name):
        return getattr(self._real, name)


def _hook_fs(monkeypatch, hook):
    """Route the commit helper's FileSystem calls through :class:`_FaultFS`."""
    from lakehouse_engine_spark.utils import fs_utils

    real = fs_utils._fs

    def patched(spark_, location):
        fs, path = real(spark_, location)
        return _FaultFS(fs, hook), path

    monkeypatch.setattr(fs_utils, "_fs", patched)


@pytest.mark.parametrize("caller", list(_REWRITE_CASES))
def test_rewrite_contract(spark, tmp_dir, caller, monkeypatch):
    """(b) under a held WriterLock the caller raises and leaves the files
    alone, and while the caller's own rewrite sits between its staged write
    and its swap, and between the two renames, a second writer cannot take
    the lock; (a) an EXTERNAL target stays EXTERNAL at its path, which holds
    the new rows; (c) the partition column survives — also under a dynamic
    partition-overwrite session, which the rewrite never writes, and where a
    partition left with no rows must still disappear — and a catalog
    caller's table reads the new rows with its partitions matching the
    directories on disk."""
    from pyspark.sql.conf import RuntimeConfig

    from lakehouse_engine_spark.io.merge_writer import catalog_location
    from lakehouse_engine_spark.io.table_lock import ConcurrentWriterError, WriterLock

    part, run, cols, want = (_REWRITE_CASES[caller][i] for i in (1, 3, 4, 5))
    table, path = _rewrite_table(spark, tmp_dir, caller)
    key = "spark.sql.sources.partitionOverwriteMode"
    try:
        before = _data_files(path)
        with WriterLock(spark, path, op="other writer"):
            with pytest.raises(ConcurrentWriterError):
                run(spark, table, path)
        assert _data_files(path) == before  # (b)

        spark.conf.set(key, "dynamic")
        renames = []

        def second_writer(op, src, dst):
            if op == "rename":
                with pytest.raises(ConcurrentWriterError):
                    WriterLock(spark, path, op="second writer").__enter__()
                renames.append(os.path.basename(dst))

        sets = []
        real_set = RuntimeConfig.set
        monkeypatch.setattr(
            RuntimeConfig, "set", lambda self, k, v: (sets.append(k), real_set(self, k, v))
        )
        with monkeypatch.context() as m:
            _hook_fs(m, second_writer)
            run(spark, table, path)
        assert renames == [f"{table}__old", table]  # (b)
        assert key not in sets and spark.conf.get(key) == "dynamic"
        typ, loc = catalog_location(spark, table)
        assert typ == "EXTERNAL" and os.path.normpath(loc.replace("file:", "")) == path
        assert_df_equal(spark.read.parquet(path), want, cols)  # (a)
        assert [c.name for c in spark.catalog.listColumns(table) if c.isPartition] == [part]
        entries = [n for n in os.listdir(path) if not n.startswith((".", "_")) or "=" in n]
        assert entries and all(n.startswith(f"{part}=") for n in entries), entries  # (c)
        if caller != "cdf":
            # the CDF clean rewrites a path target: no catalog entry to sync
            assert_df_equal(spark.table(table), want, cols)
            shown = {r["partition"] for r in spark.sql(f"SHOW PARTITIONS {table}").collect()}
            assert shown == set(entries)
    finally:
        spark.conf.unset(key)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


_FAULTS = ("row in the staged write", "after staging", "between the renames",
           "before deleting __old")


def _inject(monkeypatch, fault, seen):
    """Make the next commit fail at ``fault``; ``seen`` gets the live dir's
    files and rows as a directory commit starts staging. A sidecar file's
    staged write fails right after its create."""
    from pyspark.sql import functions as F

    from lakehouse_engine_spark.utils import fs_utils

    real_stage = fs_utils.stage

    def stage(spark_, location, df, *args, **kwargs):
        seen["files"] = _data_files(location.replace("file:", "", 1))
        seen["rows"] = [tuple(r) for r in spark_.read.parquet(location).collect()]
        if fault == _FAULTS[0]:
            c = df.columns[0]
            df = df.withColumn(c, F.raise_error(F.lit("injected row")).cast(df.schema[c].dataType))
        return real_stage(spark_, location, df, *args, **kwargs)

    def hook(op, src, dst):
        if (
            (fault == _FAULTS[0] and op == "create" and src.endswith("__staging"))
            or (fault == _FAULTS[1] and op == "rename" and dst.endswith("__old"))
            or (fault == _FAULTS[2] and op == "rename" and src.endswith("__staging"))
            or (fault == _FAULTS[3] and op == "delete" and src.endswith("__old"))
        ):
            raise RuntimeError(f"injected fault {fault}")

    monkeypatch.setattr(fs_utils, "stage", stage)
    _hook_fs(monkeypatch, hook)


def _dedup_state_run(spark, state, keys, compact_after):
    from lakehouse_engine_spark.datapipes.dedup import dedup_incremental_exact

    df = spark.createDataFrame(list(enumerate(keys)), "doc_id LONG, text STRING")
    op = dedup_incremental_exact(
        state_location=state, key_cols=["text"], id_col="doc_id",
        compact_after_files=compact_after,
    )
    return {r["text"] for r in df.transform(op).collect()}


_SIDECARS = ("cdf_log", "cdf_version")


@pytest.mark.parametrize("fault", _FAULTS)
@pytest.mark.parametrize("caller", [*_REWRITE_CASES, "dedup_state", *_SIDECARS])
def test_commit_fault_leaves_old_or_new_rows(spark, tmp_dir, monkeypatch, caller, fault):
    """A rewrite or a dedup-state compaction that fails at any point of
    stage → swap leaves, at the next access (which heals first), exactly the
    old rows (a failure before the second rename) or exactly the new ones
    (after it); a failure before the swap also leaves the live files as they
    were. The next run then commits normally. A sidecar file (the CDF commit
    log, the CDF version counter) reads, without a heal, as the old or the
    new contents — never missing, never truncated — and the next commit
    continues its numbering."""
    from lakehouse_engine_spark.io import cdf_commit_log
    from lakehouse_engine_spark.io.table_lock import WriterLock
    from lakehouse_engine_spark.terminators.terminator_factory import _bump_cdf_version
    from lakehouse_engine_spark.utils import fs_utils

    table = None
    if caller == "dedup_state":
        path = os.path.join(tmp_dir, "digests")
        for key in ("alpha", "beta", "gamma"):  # three appends, three part files
            assert _dedup_state_run(spark, path, [key], 99) == {key}

        def run_once():
            # appends delta's digest, then compacts 4 parts into 1
            return _dedup_state_run(spark, path, ["delta"], 1)

        def check_new():  # compaction keeps the digest set
            assert_df_equal(spark.read.parquet(path), seen["rows"])

        def rerun():
            assert _dedup_state_run(spark, path, ["alpha", "delta", "eps"], 1) == {"eps"}
            assert len([n for n in os.listdir(path) if n.startswith("part-")]) == 1
            assert spark.read.parquet(path).distinct().count() == 5
    elif caller == "cdf_log":
        data = os.path.join(tmp_dir, "logged")
        path = cdf_commit_log.log_path(data)
        spark.range(2).write.parquet(data)
        cdf_commit_log.record_commit(spark, data, "append")

        def run_once():  # record_commit itself logs a failure and carries on
            spark.range(1).write.mode("append").parquet(data)
            with WriterLock(spark, data, op="cdf_commit") as lock:
                cdf_commit_log._record_commit_locked(spark, data, "append", lock)

        def read():
            return [e["version"] for e in cdf_commit_log.read_log(spark, data)]

        def grown(versions):  # one commit later
            return versions + [versions[-1] + 1]

        def rerun():
            before = read()
            spark.range(1).write.mode("append").parquet(data)
            cdf_commit_log.record_commit(spark, data, "append")
            assert read() == grown(before)
    elif caller == "cdf_version":
        materialized = os.path.join(tmp_dir, "materialized")
        path = materialized + "__cdf_version"
        assert _bump_cdf_version(spark, materialized) == 1

        def run_once():
            _bump_cdf_version(spark, materialized)

        def read():
            return int(fs_utils.read_text(spark, path))

        def grown(version):
            return version + 1

        def rerun():
            before = read()
            assert _bump_cdf_version(spark, materialized) == grown(before) == read()
    else:
        run, cols, want = (_REWRITE_CASES[caller][i] for i in (3, 4, 5))
        table, path = _rewrite_table(spark, tmp_dir, caller)

        def run_once():
            run(spark, table, path)

        def check_new():
            assert_df_equal(spark.read.parquet(path), want, cols)

        def rerun():
            run(spark, table, path)
            check_new()

    seen = {"files": _data_files(path)}
    if caller in _SIDECARS:
        old = read()
    try:
        with monkeypatch.context() as m:
            _inject(m, fault, seen)
            with pytest.raises(Exception, match="injected"):
                run_once()
        if fault in _FAULTS[:2]:
            assert _data_files(path) == seen["files"]
        if caller in _SIDECARS:  # readers never heal
            assert read() == (grown(old) if fault == _FAULTS[3] else old)
        else:
            assert fs_utils.heal(spark, path)  # what the next engine access runs first
            if fault == _FAULTS[3]:
                check_new()
            else:
                assert_df_equal(spark.read.parquet(path), seen["rows"])
        rerun()
        assert not os.path.exists(path + "__old") and not os.path.exists(path + "__staging")
    finally:
        if table:
            spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_read_text_between_the_renames_reads_the_backup(spark, tmp_dir):
    """Between a swap's two renames a sidecar file has no live copy: a
    reader gets the backup's text and renames nothing (it runs without the
    lock, so a heal could restore the backup under the writer's swap); the
    next write heals, then commits."""
    from lakehouse_engine_spark.utils import fs_utils

    path = os.path.join(tmp_dir, "sidecar.json")
    assert fs_utils.read_text(spark, path) is None
    fs_utils.write_text(spark, path, "old")
    fs, live = fs_utils._fs(spark, path)
    assert fs.rename(live, live.suffix("__old"))  # a writer stopped mid-swap
    assert fs_utils.read_text(spark, path) == "old"
    assert not os.path.exists(path) and os.path.exists(path + "__old")
    fs_utils.write_text(spark, path, "new")
    assert fs_utils.read_text(spark, path) == "new"
    assert not os.path.exists(path + "__old") and not os.path.exists(path + "__staging")


def test_rewrites_only_through_merge_writer():
    """Spark-free guard: algorithms/, core/ and terminators/ change rows in
    place only through ``io.merge_writer``'s public functions — no
    overwrite, no saveAsTable, no private merge_writer name of their own;
    the merge writer calls neither ``localCheckpoint`` nor ``conf.set``; no
    module but the commit helper's swap and heal renames a path; and no
    module but ``utils/fs_utils`` builds a Hadoop ``Path``, asks for a
    ``FileSystem``, reads a file with ``IOUtils`` or calls ``.create(``
    (the writer lock's ``_claim`` excepted: its claim-or-fail is the lock)."""
    import ast
    import pathlib

    import lakehouse_engine_spark

    root = pathlib.Path(lakehouse_engine_spark.__file__).parent
    hits = []
    for sub in ("algorithms", "core", "terminators"):
        for path in sorted((root / sub).rglob("*.py")):
            where = path.relative_to(root)
            for node in ast.walk(ast.parse(path.read_text(), str(path))):
                if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                    # .mode("overwrite"), or mode="overwrite" on save/parquet/…
                    modes = node.args if node.func.attr == "mode" else [
                        k.value for k in node.keywords if k.arg == "mode"
                    ]
                    if node.func.attr == "saveAsTable" or any(
                        isinstance(m, ast.Constant) and m.value == "overwrite" for m in modes
                    ):
                        hits.append(f"{where}:{node.lineno} .{node.func.attr}(...)")
                elif isinstance(node, ast.ImportFrom) and (node.module or "").endswith(
                    "merge_writer"
                ):
                    hits += [
                        f"{where}:{node.lineno} imports {a.name}"
                        for a in node.names
                        if a.name.startswith("_")
                    ]
                elif (
                    isinstance(node, ast.Attribute)
                    and isinstance(node.value, ast.Name)
                    and node.value.id == "merge_writer"
                    and node.attr.startswith("_")
                ):
                    hits.append(f"{where}:{node.lineno} merge_writer.{node.attr}")
    # the rewrite neither materializes its plan nor mutates the session: the
    # staged write leaves what the plan reads alone, and its static
    # overwrite is a write option
    tree = ast.parse((root / "io" / "merge_writer.py").read_text())
    hits += [
        f"io/merge_writer.py:{node.lineno} .{node.func.attr}(...)"
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and (
            node.func.attr == "localCheckpoint"
            or (node.func.attr == "set" and ast.unparse(node.func.value).endswith("conf"))
        )
    ]
    # a directory rename happens only in the commit helper's swap and heal;
    # a Hadoop file is reached, read or created only through the helper,
    # but for the writer lock's own atomic claim
    def lines(body, names):
        return {
            line
            for fn in body
            if isinstance(fn, ast.FunctionDef) and fn.name in names
            for line in range(fn.lineno, fn.end_lineno + 1)
        }

    helper = root / "utils" / "fs_utils.py"
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        where = path.relative_to(root)
        renames = lines(tree.body, ("swap", "heal")) if path == helper else set()
        claim = {
            line
            for cls in tree.body
            if isinstance(cls, ast.ClassDef) and cls.name == "WriterLock"
            for line in lines(cls.body, ("_claim",))
        } if str(where) == "io/table_lock.py" else set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                attr = node.func.attr
                if (attr == "rename" and node.lineno not in renames) or (
                    attr == "create" and path != helper and node.lineno not in claim
                ):
                    hits.append(f"{where}:{node.lineno} .{attr}(...)")
            elif isinstance(node, ast.Attribute) and path != helper:
                dotted = ast.unparse(node)
                if node.attr == "getFileSystem" or dotted.endswith(
                    ("hadoop.fs.Path", "IOUtils.toString")
                ):
                    hits.append(f"{where}:{node.lineno} {dotted}")
    assert not hits, hits


def test_replace_where_keeps_rows_whose_predicate_is_null(spark, tmp_dir):
    """``DELETE … WHERE p`` removes the rows where ``p`` is TRUE; a row where
    it is NULL stays, and the non-Delta rewrite must agree."""
    from lakehouse_engine_spark.io.merge_writer import replace_where

    path = os.path.join(tmp_dir, "rw_null")
    spark.createDataFrame([(1, "a"), (2, None), (3, "c")], "id INT, v STRING").write.parquet(path)
    replace_where(
        spark, "v = 'a'", spark.createDataFrame([(4, "d")], "id INT, v STRING"),
        location=path, data_format="parquet",
    )
    assert_df_equal(spark.read.parquet(path), [(2, None), (3, "c"), (4, "d")])
