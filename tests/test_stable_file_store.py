"""Stable file identities (round-9 verdict item 1): data files live in
a shared immutable store referenced by per-version manifests, so an
append commit costs O(new files) in metadata AND in the Delta log —
independent of table file count — with zero hardlink syscalls over the
carried snapshot. Also covers manifest-chain rebasing, store GC under
vacuum, metadata-only restore/clone, and the manifest as the only
on-disk format.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from end_to_end_azure_databricks_data_engineering_project_spark.sources import deltalog
from end_to_end_azure_databricks_data_engineering_project_spark.sources.tables import Catalog, ManagedTable


def _ids(spark, lo, hi, parts=1):
    df = spark.range(lo, hi).select(F.col("id").alias("k"))
    return df.repartition(parts, "k") if parts > 1 else df.coalesce(1)


def _t(spark, tmp_path, name="t"):
    return Catalog(spark, tmp_path / "wh").table(name)


def test_append_commit_cost_independent_of_table_file_count(spark, tmp_path):
    """THE acceptance test for the refactor: grow the table, then
    measure one append's footprint — log lines, manifest size, link
    count must all track the BATCH, not the table."""
    t = _t(spark, tmp_path)
    t.overwrite(_ids(spark, 0, 4000, parts=40))  # 40-file table
    n_before = len(t.data_files())
    assert n_before == 40
    t.append(_ids(spark, 4000, 4010))  # 1-file batch
    # delta log: exactly one add + commitInfo — NO removes, NO
    # full-snapshot re-add, size independent of the 40 carried files
    d = t._pointer_state()["delta"]["version"]
    actions = deltalog.read_actions(t.dir, d)
    kinds = [next(iter(a)) for a in actions]
    assert kinds == ["add", "commitInfo"], kinds
    # manifest: incremental (no full member list), added = the batch
    m = t._manifest(t.current_version())
    assert "files" not in m
    assert len(m["added"]) == 1 and m["removed"] == []
    assert set(m["stats"]) == set(m["added"])
    # zero hardlinks anywhere: every store file has link count 1
    assert all(os.stat(f).st_nlink == 1 for f in t.data_files())
    # the version dir holds metadata only
    assert not list(t._version_dir(t.current_version()).glob("*.parquet"))
    # and the carried files are the SAME paths as before
    assert len(t.data_files()) == n_before + 1
    assert t.read().count() == 4010


def test_manifest_chain_rebases_and_always_resolves(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.manifest_rebase_depth = 3
    t.overwrite(_ids(spark, 0, 5))
    for i in range(1, 11):
        t.append(_ids(spark, 5 * i, 5 * (i + 1)))
    # every committed version resolves, depth never exceeds the bound
    state = t._pointer_state()
    full_seen = 0
    for v in state["committed"]:
        names, stats = t._resolve(v)
        assert len(names) == v + 1  # one file per commit
        assert set(stats) == set(names)
        m = t._manifest(v)
        assert m["depth"] <= 3
        full_seen += "files" in m
    assert full_seen >= 3  # v0 plus periodic rebases
    assert t.read().count() == 55


def test_vacuum_gc_reclaims_unreferenced_store_files(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.overwrite(_ids(spark, 0, 10, parts=4))
    old_files = {f.name for f in t.data_files()}
    t.overwrite(_ids(spark, 100, 105))  # drops the v0 file set
    t.vacuum(keep=1)
    survivors = {f.name for f in t.store.glob("*.parquet")}
    assert not (survivors & old_files)  # v0's files collected
    assert survivors == {f.name for f in t.data_files()}
    assert sorted(r.k for r in t.read().collect()) == list(range(100, 105))


def test_vacuum_rebases_retained_chain_before_pruning(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.overwrite(_ids(spark, 0, 3))
    for i in range(1, 6):
        t.append(_ids(spark, 3 * i, 3 * (i + 1)))
    t.vacuum(keep=2)  # deletes v0..v3, whose manifests the chain needed
    assert t.read().count() == 18  # current still resolves
    assert t.file_stats() is not None
    with pytest.raises(FileNotFoundError):
        t.read_at(0)
    # and further commits keep working
    t.append(_ids(spark, 18, 20))
    assert t.read().count() == 20


def test_vacuum_keeps_removed_files_for_retained_change_feed(spark, tmp_path):
    from end_to_end_azure_databricks_data_engineering_project_spark.operators.cdc import scd1_merge

    t = _t(spark, tmp_path)
    base = spark.range(100).select(
        F.col("id").alias("k"), F.lit("old").alias("val"), F.lit(1).alias("seq")
    )
    t.overwrite(base.repartition(4, "k"))
    cursor = t.current_version()
    batch = spark.createDataFrame([(7, "new", 2)], "k long, val string, seq int")
    t.merge_keyed(batch, ["k"], lambda cur, b: scd1_merge(cur, b, ["k"], "seq"))
    t.vacuum(keep=2)  # keeps cursor + merge versions
    feed = t.changes_since(cursor, keys=["k"])
    assert feed is not None
    by_type = {r["_change_type"] for r in feed.filter("k = 7").collect()}
    assert by_type == {"update_pre", "update_post"}


def test_restore_and_clone_are_metadata_only(spark, tmp_path):
    cat = Catalog(spark, tmp_path / "wh")
    src = cat.table("src")
    src.overwrite(_ids(spark, 0, 10, parts=3))
    v0 = src.current_version()
    src.overwrite(_ids(spark, 100, 105))
    n_store = len(list(src.store.glob("*.parquet")))
    src.restore(v0)
    # restore moved NO data: store unchanged, snapshot = v0's files
    assert len(list(src.store.glob("*.parquet"))) == n_store
    assert sorted(r.k for r in src.read().collect()) == list(range(10))
    # clone: hardlinks only (shared inodes), stats carried; names are
    # REWRITTEN to embed the target's version (GC in-flight guard)
    dst = cat.table("dst")
    src.clone_to(dst)
    assert sorted(os.stat(f).st_ino for f in dst.data_files()) == sorted(
        os.stat(f).st_ino for f in src.data_files()
    )
    assert all(
        int(f.name.split("-", 1)[0][1:]) <= dst.current_version()
        for f in dst.data_files()
    )
    assert dst.file_stats() is not None
    # diverge freely
    dst.append(_ids(spark, 500, 502))
    assert src.read().count() == 10 and dst.read().count() == 12


def test_manifest_is_the_only_format(spark, tmp_path):
    """Every committed version must carry its manifest: a missing one
    is an error naming the version, never a silent read of the version
    dir. A fresh table's first commit starts the ledger."""
    t = _t(spark, tmp_path)
    v0 = t.overwrite(_ids(spark, 0, 5))
    state = json.loads(t._pointer().read_text())
    assert state["committed"] == [v0]
    assert state["committed_floor"] == 0
    v1 = t.append(_ids(spark, 5, 8))
    t._manifest_path(v1).unlink()
    with pytest.raises(FileNotFoundError, match=f"version {v1}"):
        t.read_at(v1)
    assert t.read_at(v0).count() == 5


def test_gc_spares_in_flight_writer_files(spark, tmp_path):
    """A writer that has materialized its files but not yet committed
    (store names embed a version above the pointer) must survive a
    concurrent vacuum's GC."""
    t = _t(spark, tmp_path)
    t.overwrite(_ids(spark, 0, 5))
    v = t._claim_next_version()  # in-flight writer
    names = t._materialize(v, _ids(spark, 100, 103))
    t.vacuum(keep=1)
    for n in names:
        assert (t.store / n).exists()  # spared: embedded version > pointer
    # once the pointer moves past the (crashed) claim, GC collects them
    import shutil

    shutil.rmtree(t._version_dir(v))
    t.overwrite(_ids(spark, 200, 203))
    t.overwrite(_ids(spark, 300, 303))
    t.vacuum(keep=1)
    for n in names:
        assert not (t.store / n).exists()
    assert t.read().count() == 3
