"""run_auc_drain: incremental exact-AUC accumulator (split ≡ union,
replay no-op, binning binding) — mirrors test_lsq_drain's discipline."""
import pytest
from pyspark.sql import functions as F

from end_to_end_azure_databricks_data_engineering_project_spark.operators.metrics import (
    auc_from_bins,
    binned_auc,
)
from end_to_end_azure_databricks_data_engineering_project_spark.sources.tables import Catalog
from end_to_end_azure_databricks_data_engineering_project_spark.streaming.flows import run_auc_drain


def _cat(spark, p):
    return Catalog(spark, str(p))


@pytest.fixture()
def scored(spark):
    # deterministic synthetic predictions: 400 rows, 40 bins, ~half pos
    return spark.range(400).select(
        (F.col("id") % 40).alias("score"),
        ((F.col("id") * 13) % 7 < 3).alias("positive"),
        "id",
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.slow
def test_auc_drain_split_equals_union(spark, tmp_path, scored):
    a = scored.where(F.col("id") % 2 == 0)
    b = scored.where(F.col("id") % 2 == 1)
    cat_split = _cat(spark, tmp_path / "s")
    n1 = run_auc_drain(cat_split, a, epoch=1, score_bin_col="score", positive_col="positive", binning="identity")
    n2 = run_auc_drain(cat_split, b, epoch=2, score_bin_col="score", positive_col="positive", binning="identity")
    assert 0 < n1 <= 40 and 0 < n2 <= 40  # bounded state after every drain
    cat_one = _cat(spark, tmp_path / "u")
    run_auc_drain(cat_one, scored, epoch=1, score_bin_col="score", positive_col="positive", binning="identity")
    assert _rows(cat_split.table("auc_bins").read()) == _rows(
        cat_one.table("auc_bins").read()
    )
    # the finished metric over the drained state == one-shot batch AUC
    got = auc_from_bins(cat_split.table("auc_bins").read()).collect()[0]
    want = binned_auc(scored, "score", "positive").collect()[0]
    assert got == want


def test_auc_drain_replay_is_noop(spark, tmp_path, scored):
    """The epoch guard is LOAD-BEARING (per-bin sums are not
    idempotent): a replayed batch must change nothing."""
    cat = _cat(spark, tmp_path)
    n = run_auc_drain(cat, scored, epoch=1, score_bin_col="score", positive_col="positive", binning="identity")
    before = _rows(cat.table("auc_bins").read())
    assert n == len(before) > 0
    assert run_auc_drain(
        cat, scored, epoch=1,
        score_bin_col="score", positive_col="positive", binning="identity",
    ) == -1
    assert _rows(cat.table("auc_bins").read()) == before


def test_auc_drain_rejects_mismatched_binning(spark, tmp_path, scored):
    cat = _cat(spark, tmp_path)
    run_auc_drain(
        cat, scored, epoch=1,
        score_bin_col="score", positive_col="positive", binning="identity",
    )
    with pytest.raises(ValueError, match="auc_binning='identity'"):
        run_auc_drain(
            cat, scored, epoch=2,
            score_bin_col="score", positive_col="positive", binning="floor(x*1000)",
        )


def test_metric_stream_e2e(spark, tmp_path):
    """Real Structured Streaming wiring: prediction files → foreachBatch
    run_auc_drain with the CHECKPOINTED epoch_id — new files advance the
    metric, a restart with no new files changes nothing (the replay
    guard exercised with real epoch ids, not simulated ones)."""
    from pyspark.sql import types as T

    from end_to_end_azure_databricks_data_engineering_project_spark.streaming.flows import metric_stream

    schema = T.StructType(
        [T.StructField("score", T.LongType()), T.StructField("positive", T.BooleanType())]
    )
    src = tmp_path / "preds"
    cat = _cat(spark, tmp_path / "wh")
    spark.createDataFrame(
        [(10, True), (11, True), (1, False)], schema
    ).write.parquet(str(src / "run=1"))

    def drain():
        q = metric_stream(
            spark, str(src), schema, cat, str(tmp_path / "ck"),
            score_bin_col="score", positive_col="positive", binning="identity",
        )
        q.awaitTermination(120)

    drain()
    auc1 = auc_from_bins(cat.table("auc_bins").read()).collect()[0]
    assert (auc1.n_pos, auc1.n_neg, auc1.auc) == (2, 1, 1.0)

    # a later file with an inversion moves the metric down
    spark.createDataFrame([(0, True), (99, False)], schema).write.parquet(
        str(src / "run=2")
    )
    drain()
    auc2 = auc_from_bins(cat.table("auc_bins").read()).collect()[0]
    assert (auc2.n_pos, auc2.n_neg) == (3, 2) and auc2.auc < auc1.auc

    # restart, no new files: exactly-once — state untouched
    before = _rows(cat.table("auc_bins").read())
    drain()
    assert _rows(cat.table("auc_bins").read()) == before


def test_metric_stream_foreign_checkpoint_fails_loudly(spark, tmp_path):
    """Epoch ids are checkpoint-local, so a SECOND checkpoint draining
    the same auc_bins table would renumber batches from 0 — silently
    dropping new data as 'replays'. The bound stream_id turns that into
    a loud failure instead."""
    from pyspark.sql import types as T
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from end_to_end_azure_databricks_data_engineering_project_spark.streaming.flows import metric_stream

    schema = T.StructType(
        [T.StructField("score", T.LongType()), T.StructField("positive", T.BooleanType())]
    )
    src = tmp_path / "preds"
    cat = _cat(spark, tmp_path / "wh")
    spark.createDataFrame([(10, True), (1, False)], schema).write.parquet(
        str(src / "run=1")
    )
    q = metric_stream(
        spark, str(src), schema, cat, str(tmp_path / "ck_a"),
        score_bin_col="score", positive_col="positive", binning="identity",
    )
    q.awaitTermination(120)
    before = _rows(cat.table("auc_bins").read())
    assert before
    # same table, different checkpoint → refused, state untouched
    q2 = metric_stream(
        spark, str(src), schema, cat, str(tmp_path / "ck_b"),
        score_bin_col="score", positive_col="positive", binning="identity",
    )
    with pytest.raises(StreamingQueryException, match="auc_stream_id"):
        q2.awaitTermination(120)
    assert _rows(cat.table("auc_bins").read()) == before


def test_auc_drain_estimate_tracks_stream(spark, tmp_path):
    """Feeding progressively better-separated batches moves the
    finished AUC the right way, computed only from bounded state."""
    cat = _cat(spark, tmp_path)
    # batch 1: random (AUC ~0.5); batch 2: strongly separated
    b1 = spark.range(200).select(
        (F.col("id") % 20).alias("score"), ((F.col("id") * 7) % 2 == 0).alias("positive"), "id",
    )
    b2 = spark.range(200, 400).select(
        F.when(F.col("id") % 2 == 0, 100).otherwise(-100).alias("score"),
        (F.col("id") % 2 == 0).alias("positive"),
        "id",
    )
    run_auc_drain(cat, b1, epoch=1, score_bin_col="score", positive_col="positive", binning="identity")
    auc1 = auc_from_bins(cat.table("auc_bins").read()).collect()[0].auc
    run_auc_drain(cat, b2, epoch=2, score_bin_col="score", positive_col="positive", binning="identity")
    auc2 = auc_from_bins(cat.table("auc_bins").read()).collect()[0].auc
    assert auc2 > auc1
    # and the drained state is exactly the union's batch computation
    want = binned_auc(b1.unionByName(b2), "score", "positive").collect()[0].auc
    assert auc2 == want


def test_direct_batch_drain_refused_on_stream_bound_table(spark, tmp_path, scored):
    """stream_id guard is two-sided: once auc_bins is bound to a
    checkpoint, a direct-batch caller (stream_id=None) must be refused
    — its self-managed epochs would collide with the checkpoint-local
    numbering (silent drop or double-count)."""
    cat = _cat(spark, tmp_path)
    run_auc_drain(
        cat, scored, epoch=1,
        score_bin_col="score", positive_col="positive", binning="identity",
        stream_id="/ck/metrics",
    )
    with pytest.raises(ValueError, match="bound to streaming checkpoint"):
        run_auc_drain(
            cat, scored, epoch=2,
            score_bin_col="score", positive_col="positive", binning="identity",
        )
    # the bound stream itself still drains fine
    n = run_auc_drain(
        cat, scored.where(F.col("id") % 3 == 0), epoch=2,
        score_bin_col="score", positive_col="positive", binning="identity",
        stream_id="/ck/metrics",
    )
    assert n > 0


def test_stream_attach_to_batch_managed_table_refused(spark, tmp_path, scored):
    """The other collision direction: a table managed by direct-batch
    drains (sentinel identity) must refuse a streaming checkpoint whose
    epoch ids would renumber against the self-managed watermark."""
    cat = _cat(spark, tmp_path)
    run_auc_drain(
        cat, scored, epoch=5,
        score_bin_col="score", positive_col="positive", binning="identity",
    )
    with pytest.raises(ValueError, match="batch-managed"):
        run_auc_drain(
            cat, scored, epoch=0,
            score_bin_col="score", positive_col="positive", binning="identity",
            stream_id="/ck/metrics",
        )
    # direct drains continue fine
    assert run_auc_drain(
        cat, scored.where(F.col("id") % 2 == 0), epoch=6,
        score_bin_col="score", positive_col="positive", binning="identity",
    ) > 0


def test_stream_attach_to_pre_binding_history_refused(spark, tmp_path, scored):
    """Legacy table: drained epochs but NO bound identity (created
    before the sentinel binding existed) — a checkpoint restarting at
    epoch 0 would silently collide with the stored watermark."""
    cat = _cat(spark, tmp_path)
    run_auc_drain(
        cat, scored, epoch=3,
        score_bin_col="score", positive_col="positive", binning="identity",
    )
    # simulate pre-sentinel history: strip the bound identity
    t = cat.table("auc_bins")
    fd = t._acquire_commit_lock()
    try:
        state = t._pointer_state()
        state["props"].pop("auc_stream_id")
        t._write_pointer_locked(state)
    finally:
        t._release_commit_lock(fd)
    with pytest.raises(ValueError, match="pre-binding history"):
        run_auc_drain(
            cat, scored, epoch=0,
            score_bin_col="score", positive_col="positive", binning="identity",
            stream_id="/ck/metrics",
        )

