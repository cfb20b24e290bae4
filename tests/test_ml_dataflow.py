"""features/test/train dataflow tests — the ML-flavored e2e slice of
SURVEY.md §7.2: image table → batch assembly → identity "model" → feature DF
→ vector_mean, mirroring ``PythonApiTest.py:35-45`` without Caffe.
"""

from __future__ import annotations

import numpy as np
import pytest

from caffeonspark_spark.ml.dataflow import TrainConfig, features, train, validate_partition_math
from caffeonspark_spark.ml.dataflow import test_model as eval_model
from caffeonspark_spark.multimodal.columns import ColumnSpec


@pytest.fixture(scope="module")
def mnist_like(spark):
    rows = []
    for i in range(40):
        data = bytes(((np.arange(16) + i) % 256).astype(np.uint8))
        rows.append((f"{i:08d}", str(i % 10), bytearray(data)))
    return spark.createDataFrame(rows, "id string, label string, data binary").coalesce(2)


SPECS = [
    ColumnSpec("data", "raw_image", channels=1, height=4, width=4),
    ColumnSpec("label", "string"),
]


def make_identity_model():
    # returned as a closure so cloudpickle ships it BY VALUE to workers
    # (a module-level function in a test module isn't importable there)
    def identity_model(inputs):
        n = inputs["data"].shape[0]
        flat = inputs["data"].reshape(n, -1)
        return {
            "ip1": flat[:, :4],
            "accuracy": (inputs["label"] == inputs["label"]).astype(np.float32).reshape(n, 1),
        }

    return identity_model


def test_features_schema_and_rows(spark, mnist_like):
    df = features(mnist_like, make_identity_model(), SPECS, ["ip1", "accuracy"], batch_size=16)
    assert df.columns == ["SampleID", "ip1", "accuracy"]
    rows = df.collect()
    assert len(rows) == 40
    ids = {r["SampleID"] for r in rows}
    assert "00000000" in ids and len(ids) == 40
    r0 = next(r for r in rows if r["SampleID"] == "00000000")
    assert r0["ip1"] == [0.0, 1.0, 2.0, 3.0]
    assert r0["accuracy"] == [1.0]


def test_test_model_vector_mean(spark, mnist_like):
    out = eval_model(mnist_like, make_identity_model(), SPECS, ["accuracy"], batch_size=16)
    assert out["accuracy"] == [1.0]  # identity model is always "right"


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def test_test_model_two_blobs_one_pass(spark, mnist_like):
    """Both blobs' means come from one aggregate, bit-identical to one
    ``vector_mean_long`` per blob over a persisted inference pass, in
    fewer jobs than that per-blob path."""
    from caffeonspark_spark.functions.arrays import vector_mean_long

    blobs = ["ip1", "accuracy"]
    model = make_identity_model()

    def per_blob():
        feat = features(mnist_like, model, SPECS, blobs, batch_size=16).persist()
        try:
            return {
                b: [r["mean_val"] for r in vector_mean_long(feat, b).orderBy("pos").collect()]
                for b in blobs
            }
        finally:
            feat.unpersist()

    want, old_jobs = _jobs_in_group(spark, "test-model-per-blob", per_blob)
    got, new_jobs = _jobs_in_group(
        spark, "test-model-one-pass",
        lambda: eval_model(mnist_like, model, SPECS, blobs, batch_size=16),
    )
    assert got == want
    assert got["ip1"] == [19.5, 20.5, 21.5, 22.5] and got["accuracy"] == [1.0]
    assert new_jobs < old_jobs, (new_jobs, old_jobs)


def test_partition_math_errors():
    cfg = TrainConfig(batch_size=64, devices=1, test_interval=10)
    with pytest.raises(ValueError, match="insufficient"):
        validate_partition_math(100, 4, cfg)  # 25/partition < 640
    assert validate_partition_math(10000, 4, cfg) == 2500


def make_counting_trainer():
    def counting_trainer(inputs, state):
        return {
            "n_samples": state.get("n_samples", 0) + int(inputs["data"].shape[0]),
            "loss": float(np.mean(inputs["data"])),
        }

    return counting_trainer


def test_train_loop(spark, mnist_like):
    cfg = TrainConfig(batch_size=16, max_iter=4)
    state = train(mnist_like, make_counting_trainer(), SPECS, cfg)
    assert state["iterations"] >= 4
    assert state["n_samples"] > 0
    assert "loss" in state and state["epoch"] >= 1


def test_train_empty_input_raises(spark, mnist_like):
    """A zero-batch epoch must raise (the reference's insufficient-data
    error), not re-submit the same job forever."""
    empty = mnist_like.where("1 = 0")
    cfg = TrainConfig(batch_size=16, max_iter=4)
    with pytest.raises(ValueError, match="insufficient data"):
        train(empty, make_counting_trainer(), SPECS, cfg)


def test_train_with_validation_interleave(spark):
    """M2 e2e: softmax regression on the embeddings table with interleaved
    validation — the InterleaveTest.scala:36-57 analogue. Asserts the metric
    DataFrame contract (one row per interval, accuracy/loss blobs) and that
    training actually learns: final loss below the untrained 2.303 baseline,
    final accuracy above chance (10 classes)."""
    from caffeonspark_spark.catalog import load_table
    from caffeonspark_spark.ml.dataflow import (
        average_states,
        softmax_model,
        softmax_trainer,
        train_with_validation,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    specs = [ColumnSpec("embedding", "float_array", channels=64), ColumnSpec("label", "int")]
    cfg = TrainConfig(batch_size=50, max_iter=30, test_interval=10, test_iter=4)
    state, metrics = train_with_validation(
        emb, emb,
        trainer=softmax_trainer(dim=64, n_classes=10, lr=1.0),
        model_from_state=softmax_model,
        specs=specs, cfg=cfg,
        val_blobs=["accuracy", "loss"],
        order_cols=["vec_id"], id_col="vec_id",
        merge_states=average_states,
    )
    assert len(metrics) == 3  # max_iter / test_interval
    assert state["iterations"] == 30
    for m in metrics:
        assert set(m) == {"iteration", "accuracy", "loss"}
        assert len(m["accuracy"]) == 1 and len(m["loss"]) == 1
    first, last = metrics[0], metrics[-1]
    assert last["loss"][0] < 2.3025  # beats untrained uniform-softmax NLL
    assert last["loss"][0] <= first["loss"][0] + 1e-9
    assert last["accuracy"][0] > 0.15  # > 1.5x chance
    # the metric rows build the reference's validation DataFrame directly
    mdf = spark.createDataFrame(
        [(m["iteration"], m["accuracy"], m["loss"]) for m in metrics],
        "iteration long, accuracy array<double>, loss array<double>",
    )
    assert mdf.count() == 3


def test_checkpoint_resume(spark, tmp_path):
    """M5: snapshot → resume must continue from the saved weights (the
    -snapshot/-weights flags of the reference)."""
    from caffeonspark_spark.catalog import load_table
    from caffeonspark_spark.ml.dataflow import (
        average_states,
        load_state,
        save_state,
        softmax_model,
        softmax_trainer,
        train,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    specs = [ColumnSpec("embedding", "float_array", channels=64), ColumnSpec("label", "int")]
    cfg = TrainConfig(batch_size=50, max_iter=10)
    trainer = softmax_trainer(dim=64, n_classes=10, lr=1.0)
    s1 = train(emb, trainer, specs, cfg, id_col="vec_id", merge_states=average_states)
    snap = str(tmp_path / "snap.json")
    save_state(s1, snap)
    s2 = load_state(snap)
    assert s2["W"] == s1["W"] and s2["b"] == s1["b"]
    # resumed training starts from the snapshot weights, not zeros
    s3 = train(emb, trainer, specs, cfg, id_col="vec_id",
               init_state=s2, merge_states=average_states)
    assert s3["W"] != s1["W"]  # training moved on
    # resumed model must be at least as good as the snapshot on loss
    m1 = eval_model(emb.limit(200), softmax_model(s1), specs, ["loss"],
                    batch_size=50, id_col="vec_id")
    m3 = eval_model(emb.limit(200), softmax_model(s3), specs, ["loss"],
                    batch_size=50, id_col="vec_id")
    assert m3["loss"][0] <= m1["loss"][0] + 0.05


def test_zscore_grouped_map_matches_window_form(spark):
    """applyInPandas z-score == the pure-window-function z-score (sample
    std), within float tolerance — the custom-operator shape is semantics-
    equivalent to the scale-preferred Catalyst form."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    from caffeonspark_spark.catalog import load_table
    from caffeonspark_spark.operators.vectorops import zscore_by_group

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    got = {
        r["event_id"]: r["v_norm"]
        for r in zscore_by_group(ev, "event_type", "value", "event_id").collect()
    }
    w = Window.partitionBy("event_type")
    expect = {
        r["event_id"]: r["v_norm"]
        for r in ev.select(
            "event_id",
            ((F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w)).alias("v_norm"),
        ).collect()
    }
    assert set(got) == set(expect)
    for k in got:
        assert abs(got[k] - expect[k]) < 1e-9


def test_features_preserves_input_order(spark, mnist_like):
    """The reference asserts the first feature row is the first sample
    ('00000000', PythonApiTest.py:43): row order must survive batch
    assembly + inference within a partition."""
    single = mnist_like.coalesce(1).orderBy("id")
    df = features(single, make_identity_model(), SPECS, ["ip1"], batch_size=16)
    ids = [r["SampleID"] for r in df.collect()]
    assert ids[0] == "00000000"
    assert ids == sorted(ids)


def test_barrier_gang_run(spark):
    """Barrier execution: all ranks launch together, every rank sees the
    full address table (the reference's rank->address broadcast), and
    per-rank results come back keyed by rank."""
    from caffeonspark_spark.catalog import load_table
    from caffeonspark_spark.ml.dataflow import barrier_gang_run

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select("vec_id")

    def worker(rank, addresses, rows):
        n = sum(1 for _ in rows)
        return {"rank": rank, "n_addresses": len(addresses), "n_rows": n}

    results = barrier_gang_run(emb, worker, n_partitions=4)
    assert len(results) == 4
    assert sorted(r["rank"] for r in results) == [0, 1, 2, 3]
    assert all(r["n_addresses"] == 4 for r in results)
    assert sum(r["n_rows"] for r in results) == 500


def test_average_states_ignores_untrained_partitions():
    """EMPTY partitions emit a W-less (or stale) state; averaging must
    neither crash with KeyError nor silently skip when the W-less state
    happens to be first (r7 self-review finding)."""
    from caffeonspark_spark.ml.dataflow import average_states

    trained_a = {"W": [[1.0, 3.0]], "b": [1.0], "loss": 2.0}
    trained_b = {"W": [[3.0, 5.0]], "b": [3.0], "loss": 4.0}
    untrained = {"epoch": 1}
    for states in (
        [untrained, trained_a, trained_b],
        [trained_a, untrained, trained_b],
        [trained_a, trained_b, untrained],
    ):
        out = average_states(states)
        assert out["W"] == [[2.0, 4.0]]
        assert out["b"] == [2.0]
        assert out["loss"] == 3.0
    # all-untrained degenerates to last-wins without crashing
    assert "W" not in average_states([untrained])


def test_train_with_empty_partition_averages_correctly(spark, mnist_like):
    """End-to-end: a repartition wider than the row count leaves empty
    partitions whose unchanged prior state must not poison the
    parameter-averaging reduce."""
    from caffeonspark_spark.ml.dataflow import average_states, softmax_trainer

    n = mnist_like.count()
    wide = mnist_like.repartition(int(n) + 8)  # guarantees empty partitions
    cfg = TrainConfig(batch_size=4, max_iter=2)
    state = train(
        wide,
        softmax_trainer(dim=16, n_classes=10, lr=0.5, x_col="data", y_col="label"),
        SPECS,
        cfg,
        merge_states=average_states,
    )
    assert "W" in state and "b" in state
    assert state["iterations"] >= 2
