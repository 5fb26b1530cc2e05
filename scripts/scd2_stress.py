"""SCD2 merge at adversarial scale (round-9 item: VERDICT r8 #5).

Measures what the other stress harnesses don't: ``scd2_apply`` +
``ManagedTable.merge_keyed`` against a multi-million-row dimension
under (a) growing incremental batch sizes — merge cost must track the
BATCH, not the table, or the file-pruned MERGE claim is hollow — and
(b) a zipfian-hot business key carrying deep in-batch history (one key
with tens of thousands of chained changes drives the per-key window
through a single task: the skewed-key cost the salting docs warn
about, measured here instead of asserted).

Reported per merge:
  wall    — end-to-end apply_changes seconds (includes the sink commit)
  rewrote — data files rewritten in the new snapshot (not hardlinked)
  carried — prior files hardlinked untouched (file pruning at work)
  rows    — history rows after the merge

Pass criteria: wall grows with batch size (not table size), carried >>
rewrote for small batches after clustering, and the hot-key batch
completes in the same order of magnitude as a uniform batch of equal
row count (the window is per-key sequential but ONE key's history is
one task — bounded by the hot key's depth, not the corpus).

Usage: PYTHONPATH=/root/repo python scripts/scd2_stress.py [dim_rows]
  dim_rows: initial dimension keys, default 5_000_000
"""
from __future__ import annotations

import shutil
import sys
import tempfile
import time
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from end_to_end_azure_databricks_data_engineering_project_spark.operators.cdc import apply_changes
from end_to_end_azure_databricks_data_engineering_project_spark.session import get_spark
from end_to_end_azure_databricks_data_engineering_project_spark.sources.tables import ManagedTable


def _batch(spark, n_rows: int, n_keys: int, seq_base: int, hot_key_rows: int = 0):
    """CDC batch: ``n_rows`` uniform-key updates + optionally one hot
    key (user_id=0) with ``hot_key_rows`` strictly-sequenced changes
    (deep in-batch chaining). Attributes derive from xxhash64 so every
    change is a real attribute change (no no-op suppression)."""
    uni = spark.range(n_rows).select(
        F.abs(F.xxhash64("id", F.lit(seq_base)) % n_keys).alias("user_id"),
        (F.lit(seq_base) + F.col("id")).alias("seq"),
        F.concat(F.lit("city_"), (F.xxhash64("id", F.lit(seq_base + 1)) % 1000)).alias("city"),
        (F.xxhash64("id", F.lit(seq_base + 2)) % 100000).cast("long").alias("score"),
    )
    if hot_key_rows:
        hot = spark.range(hot_key_rows).select(
            F.lit(0).cast("long").alias("user_id"),
            (F.lit(seq_base) + F.col("id")).alias("seq"),
            F.concat(F.lit("hot_"), F.col("id")).alias("city"),
            F.col("id").alias("score"),
        )
        uni = uni.where(F.col("user_id") != 0).unionByName(hot)
    return uni


def _file_split(table: ManagedTable) -> tuple[int, int]:
    # the manifest records exactly what this commit wrote (added) vs
    # carried by reference (members - added)
    v = table.current_version()
    m = table._manifest(v)
    total = len(table._resolve(v)[0])
    rewrote = len(m["added"])
    return rewrote, total - rewrote


def _merge(table, batch, label):
    t0 = time.perf_counter()
    apply_changes(table, batch, keys=["user_id"], sequence_by="seq", scd_type=2)
    wall = time.perf_counter() - t0
    rewrote, carried = _file_split(table)
    rows = table.read().count()
    print(f"## {label:34s} wall={wall:7.2f}s rewrote={rewrote:4d} "
          f"carried={carried:4d} rows={rows}", flush=True)
    return wall


def _localized_batch(spark, n_rows: int, key_hi: int, seq_base: int):
    """Batch whose keys all fall in [0, key_hi) — the key-locality a
    clustered table turns into file pruning (recent-range updates are
    the common production shape)."""
    return spark.range(n_rows).select(
        F.abs(F.xxhash64("id", F.lit(seq_base)) % key_hi).alias("user_id"),
        (F.lit(seq_base) + F.col("id")).alias("seq"),
        F.concat(F.lit("loc_"), (F.col("id") % 997)).alias("city"),
        (F.col("id") % 100000).alias("score"),
    )


def main() -> None:
    dim_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000_000
    spark = get_spark("scd2_stress", cpus=32, shuffle_partitions=64,
                      extra_conf={"spark.driver.memory": "24g"})
    root = tempfile.mkdtemp(prefix="scd2_stress_")
    try:
        table = ManagedTable(spark, root, "dim_user")
        print(f"-- initial load: {dim_rows} keys --")
        t0 = time.perf_counter()
        apply_changes(
            table, _batch(spark, dim_rows, dim_rows, 0),
            keys=["user_id"], sequence_by="seq", scd_type=2,
        )
        print(f"## initial load: {time.perf_counter() - t0:.2f}s", flush=True)
        # cluster on the business key so incremental merges prune files
        t0 = time.perf_counter()
        table.compact(target_partitions=64, cluster_by=["user_id"])
        print(f"## compact(cluster_by=user_id): {time.perf_counter() - t0:.2f}s", flush=True)

        # throwaway warmup merge: the first shuffle/codegen of the
        # session otherwise lands in the first timed number
        _merge(table, _batch(spark, 1_000, dim_rows, 9_000_000),
               "warmup batch 1k (untimed)")

        print("\n-- merge wall-clock vs batch size (table is constant) --")
        walls = {}
        for bs in (10_000, 100_000, 500_000):
            walls[bs] = _merge(
                table, _batch(spark, bs, dim_rows, 10_000_000 + bs),
                f"uniform batch {bs}",
            )

        print("\n-- key-localized batch (keys in lowest 1% of range) --")
        # uniform batches above exceeded merge_full_rewrite_fraction
        # (uniform keys touch every file — true of any file-pruned
        # MERGE, Delta included) and their full rewrites destroyed the
        # clustering; re-cluster so this measures the pruned path
        table.compact(target_partitions=64, cluster_by=["user_id"])
        _merge(
            table, _localized_batch(spark, 50_000, dim_rows // 100, 15_000_000),
            "localized batch 50k (1% range)",
        )

        print("\n-- zipfian hot key: 100k chained changes on ONE key --")
        hot_wall = _merge(
            table,
            _batch(spark, 100_000, dim_rows, 20_000_000, hot_key_rows=100_000),
            "hot-key batch 100k+100k",
        )
        uni_wall = _merge(
            table, _batch(spark, 200_000, dim_rows, 30_000_000),
            "uniform batch 200k (control)",
        )
        print(f"## hot/uniform wall ratio at equal rows: {hot_wall / uni_wall:.2f}x", flush=True)
        ratio = walls[500_000] / walls[10_000]
        print(f"## batch 500k/10k wall ratio: {ratio:.2f}x (50x rows)", flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
