"""Committed-version ledger: orphan exclusion from incremental deltas,
vacuum pruning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from end_to_end_azure_databricks_data_engineering_project_spark.sources.tables import Catalog


def _t(spark, tmp_path, name="t"):
    return Catalog(spark, tmp_path / "wh").table(name)


def _ids(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("k"))


def test_appended_since_skips_losing_writer_orphan(spark, tmp_path):
    t = _t(spark, tmp_path)
    v0 = t.overwrite(_ids(spark, 0, 3))
    # losing appender: complete data + 'append' marker, commit never ran
    lost = t._claim_next_version()
    _ids(spark, 100, 110).write.mode("overwrite").parquet(
        str(t._version_dir(lost))
    )
    t._write_op_marker(lost, "append")
    # winner commits past it
    t.append(_ids(spark, 3, 5))
    delta = t.appended_since(v0)
    assert delta is not None
    got = sorted(r.k for r in delta.collect())
    assert got == [3, 4]  # the orphan's 100..109 rows must NOT appear


def test_changes_since_skips_orphan_and_diffs_against_committed_prev(
    spark, tmp_path
):
    t = _t(spark, tmp_path)
    v0 = t.overwrite(_ids(spark, 0, 3))
    lost = t._claim_next_version()
    _ids(spark, 500, 505).write.mode("overwrite").parquet(
        str(t._version_dir(lost))
    )
    t._write_op_marker(lost, "append")
    t.append(_ids(spark, 3, 4))
    feed = t.changes_since(v0)
    assert feed is not None
    rows = {(r.k, r._change_type) for r in feed.collect()}
    assert rows == {(3, "insert")}


def test_vacuum_prunes_ledger_and_delta_falls_back(spark, tmp_path):
    t = _t(spark, tmp_path)
    v0 = t.overwrite(_ids(spark, 0, 2))
    for lo in range(2, 8):
        t.append(_ids(spark, lo, lo + 1))
    t.vacuum(keep=2)
    state = t._pointer_state()
    assert min(state["committed"]) >= t.current_version() - 1
    assert state["committed_floor"] == t.current_version() - 1
    # a delta range crossing pruned territory is not derivable (rebuild)
    assert t.appended_since(v0) is None
    # current snapshot unaffected
    assert t.read().count() == 8
    with pytest.raises(FileNotFoundError):
        t.read_at(v0)  # vacuumed


def test_commit_lock_survives_crashed_holder(spark, tmp_path):
    """flock is kernel-released when the holder dies, so a lock file
    left by a crashed writer never blocks the next commit (the
    zero-byte lock file itself persists by design)."""
    t = _t(spark, tmp_path)
    lock = t.dir / "_latest.lock"
    lock.touch()  # leftover file from a crashed writer — flock is gone
    t.overwrite(_ids(spark, 0, 2))  # must acquire immediately, not hang
    assert t.read().count() == 2
    assert lock.exists()  # persistent lock file, by design


def test_commit_lock_blocks_second_holder(spark, tmp_path):
    import fcntl
    import os

    from end_to_end_azure_databricks_data_engineering_project_spark.sources.tables import (
        ManagedTable,
    )

    t = _t(spark, tmp_path)
    t.overwrite(_ids(spark, 0, 2))
    fd = t._acquire_commit_lock()
    try:
        # another handle's non-blocking probe must fail while held
        import pytest as _pytest

        t2 = ManagedTable(spark, t.dir.parent, t.name)
        fd2 = os.open(t2.dir / "_latest.lock", os.O_CREAT | os.O_RDWR)
        try:
            with _pytest.raises(OSError):
                fcntl.flock(fd2, fcntl.LOCK_EX | fcntl.LOCK_NB)
        finally:
            os.close(fd2)
    finally:
        t._release_commit_lock(fd)


def test_epoch_guard_rechecked_inside_commit(spark, tmp_path):
    """The caller-level epoch guard is check-then-act; _commit re-checks
    under the lock so a second writer that passed the outer guard
    cannot double-apply the epoch. Simulated by applying the epoch
    between the outer check and the commit."""
    t = _t(spark, tmp_path)
    t.overwrite(_ids(spark, 0, 2))
    t.append(_ids(spark, 2, 4), epoch=7, epoch_key="sink")
    n_before = t.read().count()
    # direct _commit with the same epoch: must be skipped (False) and
    # leave the pointer where it was
    v = t._claim_next_version()
    _ids(spark, 100, 105).write.mode("overwrite").parquet(
        str(t._version_dir(v))
    )
    t._write_op_marker(v, "append")
    assert t._commit(v, epoch=7, epoch_key="sink") is False
    assert t.read().count() == n_before
    # the skipped dir is an orphan the ledger excludes
    assert v not in t._pointer_state()["committed"]


def test_overwrite_optimistic_concurrency_check(spark, tmp_path):
    from end_to_end_azure_databricks_data_engineering_project_spark.sources.tables import (
        ConcurrentWriteError,
    )

    t = _t(spark, tmp_path)
    v0 = t.overwrite(_ids(spark, 0, 3))
    # writer A reads at v0; writer B commits; A's overwrite must fail
    t.append(_ids(spark, 3, 5))
    with pytest.raises(ConcurrentWriteError, match="optimistic"):
        t.overwrite(_ids(spark, 0, 1), expected_version=v0)
    # table unharmed; matching expectation succeeds
    assert t.read().count() == 5
    t.overwrite(_ids(spark, 0, 1), expected_version=t.current_version())
    assert t.read().count() == 1


def test_commit_lock_cross_process(spark, tmp_path):
    """True cross-process exclusion: a subprocess holds the flock for
    ~2s; a commit in this process must WAIT and then succeed."""
    import subprocess
    import sys
    import time

    t = _t(spark, tmp_path)
    t.overwrite(_ids(spark, 0, 2))
    lock_path = t.dir / "_latest.lock"
    holder = subprocess.Popen(
        [sys.executable, "-c",
         "import fcntl, os, sys, time\n"
         f"fd = os.open({str(lock_path)!r}, os.O_CREAT | os.O_RDWR)\n"
         "fcntl.flock(fd, fcntl.LOCK_EX)\n"
         "print('locked', flush=True)\n"
         "time.sleep(2.0)\n"
         "fcntl.flock(fd, fcntl.LOCK_UN)\n"]
    , stdout=subprocess.PIPE)
    assert holder.stdout.readline().strip() == b"locked"
    # time ONLY the lock acquisition (not a Spark write, whose own
    # latency could mask a broken lock): it must block until the
    # subprocess releases at ~2s
    t0 = time.monotonic()
    fd = t._acquire_commit_lock()
    waited = time.monotonic() - t0
    t._release_commit_lock(fd)
    holder.wait(timeout=10)
    assert waited >= 1.0, f"acquire did not wait for the flock ({waited:.2f}s)"
    t.append(_ids(spark, 2, 4))  # and commits still work afterwards
    assert t.read().count() == 4


def test_ledger_randomized_model(spark, tmp_path):
    """Seeded random interleaving of overwrite/append/orphan/restore/
    vacuum against a pure-Python model: read() must always equal the
    model, and orphan dirs must never surface."""
    import random

    rng = random.Random(7)
    t = _t(spark, tmp_path)
    next_id = 0

    def fresh(n):
        nonlocal next_id
        lo = next_id
        next_id += n
        return set(range(lo, lo + n)), _ids(spark, lo, lo + n)

    model, df = fresh(3)
    committed = {t.overwrite(df): set(model)}
    for step in range(18):
        op = rng.choice(["overwrite", "append", "orphan", "restore", "vacuum"])
        if op == "overwrite":
            model, df = fresh(rng.randint(1, 4))
            committed[t.overwrite(df)] = set(model)
        elif op == "append":
            extra, df = fresh(rng.randint(1, 3))
            model |= extra
            committed[t.append(df)] = set(model)
        elif op == "orphan":
            v = t._claim_next_version()
            _ids(spark, 9000, 9005).write.mode("overwrite").parquet(
                str(t._version_dir(v))
            )
            t._write_op_marker(v, rng.choice(["append", "snapshot"]))
        elif op == "restore":
            v = rng.choice(sorted(committed))
            if t._version_dir(v).exists():
                model = set(committed[v])
                committed[t.restore(v)] = set(model)
        else:
            t.vacuum(keep=3)
        got = {r.k for r in t.read().collect()}
        assert got == model, (step, op, sorted(got)[:5], sorted(model)[:5])
        assert not any(9000 <= k < 9005 for k in got)  # no orphan leakage


def test_concurrent_append_rebases_not_lossy(spark, tmp_path, monkeypatch):
    """A writer whose append races past an interleaved APPEND must never
    publish a snapshot that silently omits the interleaved commit's
    rows. Since r11 that resolves LOGICALLY (Delta write-serializable
    semantics): the loser rebases onto the new head and commits — both
    appends land, the reader sees the union. (The full allowed/refused
    interleave matrix lives in tests/test_concurrent_append.py.)"""
    from end_to_end_azure_databricks_data_engineering_project_spark.sources import tables as tbl
    from end_to_end_azure_databricks_data_engineering_project_spark.sources.tables import (
        ManagedTable,
    )

    t = _t(spark, tmp_path)
    t.overwrite(_ids(spark, 0, 3))
    t2 = ManagedTable(spark, t.dir.parent, t.name)
    real_claim = tbl.ManagedTable._claim_next_version
    state = {"interleaved": False}

    def claim(self):
        if not state["interleaved"] and self is t:
            state["interleaved"] = True
            t2.append(_ids(spark, 3, 5))  # commits between t's read and claim
        return real_claim(self)

    monkeypatch.setattr(tbl.ManagedTable, "_claim_next_version", claim)
    committed = t.append(_ids(spark, 5, 7))
    assert committed == t.current_version()
    # BOTH appends' rows present — nothing lost, no retry needed
    assert sorted(r.k for r in t.read().collect()) == [0, 1, 2, 3, 4, 5, 6]


def test_register_views_skips_stray_files(spark, tmp_path):
    from end_to_end_azure_databricks_data_engineering_project_spark.sources.tables import Catalog

    cat = Catalog(spark, tmp_path / "wh")
    cat.table("good").overwrite(_ids(spark, 0, 3))
    (tmp_path / "wh" / "stray.json").write_text("{}")  # editor/manifest junk
    cat.register_views()  # must not FileExistsError on the stray file
    assert spark.table("good").count() == 3


def test_appended_since_until_bound(spark, tmp_path):
    """The `until` bound pins a fold to the version its caller recorded
    as cursor — commits landing after that read are left for the next
    fold instead of being double-counted."""
    t = _t(spark, tmp_path)
    v0 = t.overwrite(_ids(spark, 0, 2))
    v1 = t.append(_ids(spark, 2, 4))
    t.append(_ids(spark, 4, 6))  # the "concurrent" commit
    bounded = t.appended_since(v0, until=v1)
    assert sorted(r.k for r in bounded.collect()) == [2, 3]
    feed = t.changes_since(v0, until=v1)
    assert sorted(r.k for r in feed.collect()) == [2, 3]
    # unbounded still sees everything
    assert sorted(r.k for r in t.appended_since(v0).collect()) == [2, 3, 4, 5]
