"""Dataflow verbs: the reference's three top-level operations, Spark-first.

Reference parity (SURVEY.md §2 M1-M5):

* ``features(df, model_fn, specs, ...)`` — M3 (``CaffeOnSpark.scala:427-506``):
  forward-pass inference over schema-declared batches. Rebuild: batch
  assembly (``mapInArrow``) + the model as a plain Python callable over NumPy
  dicts → output DataFrame ``SampleID: string, <blob>: array<float>...``
  (schema contract of ``CaffeOnSpark.scala:479``).
* ``test_model`` — M4 (``CaffeOnSpark.scala:396-418``): features restricted
  to validation blobs, then per-column element-wise mean (``VectorMean``) →
  ``{blob: [means...]}``.
* ``train`` — M1/M2 orchestration semantics (``CaffeOnSpark.scala:164-358``):
  partition math validation (records/partition ≥ test_interval × batch ×
  devices; the reference's insufficient-data errors at
  ``CaffeOnSpark.scala:256-289``), fixed-size partitioning, per-epoch
  ``mapPartitions`` waves feeding a pluggable trainer callable, and
  interleaved validation. Gradient *transport* (the reference's RDMA/TCP
  allreduce, ``socket_sync.cpp``) is delegated to the training framework —
  the engine reproduces the data orchestration, not the network layer.

The model/trainer is any picklable Python callable — the engine is
ML-framework-agnostic, the way the reference was Caffe-specific only below
the JNI line.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from caffeonspark_spark.functions.arrays import vector_mean_long
from caffeonspark_spark.multimodal.batch import _batch_schema, _column_tensor  # noqa: F401
from caffeonspark_spark.multimodal.columns import ColumnSpec

ModelFn = Callable[[dict[str, np.ndarray]], dict[str, np.ndarray]]


def features(
    df: DataFrame,
    model_fn: ModelFn,
    specs: list[ColumnSpec],
    output_blobs: list[str],
    batch_size: int = 64,
    id_col: str = "id",
) -> DataFrame:
    """Forward-pass inference → DataFrame ``SampleID, <blob>: array<float>``.

    One ``mapInArrow`` pass: assemble a batch, call ``model_fn`` on the
    ``{column: (N, ...) ndarray}`` dict, emit one row per sample. The model
    must return ``{blob: (N, k) ndarray}``. No shuffle; linear scan. The
    loop is columnar both ways: zero-copy chunk slicing and vectorized
    Arrow→NumPy in, flat-buffer ListArrays out — no per-row Python.
    """
    from caffeonspark_spark.multimodal.batch import (
        _column_tensor_arrow,
        _list_array_from_matrix,
        iter_batch_chunks,
    )

    out_schema = ", ".join(
        ["SampleID string"] + [f"{b} array<float>" for b in output_blobs]
    )
    spec_list = list(specs)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for chunk in iter_batch_chunks(batches, batch_size):
            inputs = {
                s.name: _column_tensor_arrow(chunk.column(s.name), s) for s in spec_list
            }
            outputs = model_fn(inputs)
            n = chunk.num_rows
            arrays = [chunk.column(id_col).combine_chunks().cast(pa.string())]
            names = ["SampleID"]
            for b in output_blobs:
                blob = np.asarray(outputs[b], dtype=np.float32).reshape(n, -1)
                arrays.append(_list_array_from_matrix(blob, pa.float32()))
                names.append(b)
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return df.mapInArrow(run, out_schema)


def test_model(
    df: DataFrame,
    model_fn: ModelFn,
    specs: list[ColumnSpec],
    output_blobs: list[str],
    batch_size: int = 64,
    id_col: str = "id",
) -> dict[str, list[float]]:
    """Validation summary: per-blob element-wise mean over all samples
    (M4 = features + VectorMean agg). Every blob's mean comes from one
    aggregate keyed by ``(blob, pos)`` over a single inference pass: the
    blobs are unpivoted to ``(blob, value)`` rows, so the model runs once
    and the whole summary is one collect, with no pin to fill or drop."""
    feat = features(df, model_fn, specs, output_blobs, batch_size, id_col)
    blobs = feat.select(
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("blob"), F.col(b).alias("value"))
                for i, b in enumerate(output_blobs)
            ])
        ).alias("u")
    ).select("u.blob", "u.value")
    means = vector_mean_long(blobs, "value", group_cols=["blob"])
    rows = means.orderBy("blob", "pos").collect()
    return {
        b: [r["mean_val"] for r in rows if r["blob"] == i]
        for i, b in enumerate(output_blobs)
    }


@dataclass
class TrainConfig:
    """Surviving knobs of the reference solver/orchestration config."""

    batch_size: int = 64
    max_iter: int = 100
    test_interval: int = 0  # 0 = no interleaved validation
    test_iter: int = 1
    devices: int = 1
    cluster_size: int = 1


TrainerFn = Callable[[dict[str, np.ndarray], dict], dict]
"""(batch_tensors, state) -> state. Called once per batch per iteration."""


def validate_partition_math(n_records: int, n_partitions: int, cfg: TrainConfig) -> int:
    """The reference's training-feed arithmetic + insufficient-data errors
    (``CaffeOnSpark.scala:256-289``): each partition must supply
    ``test_interval × batch × devices`` records per wave when interleaving.
    Returns records-per-partition."""
    per_part = n_records // max(n_partitions, 1)
    need = cfg.batch_size * cfg.devices * max(cfg.test_interval, 1)
    if per_part < need:
        raise ValueError(
            f"insufficient data per partition: {per_part} < required {need} "
            f"(batch {cfg.batch_size} × devices {cfg.devices} × "
            f"interval {max(cfg.test_interval, 1)})"
        )
    return per_part


def train(
    df: DataFrame,
    trainer: TrainerFn,
    specs: list[ColumnSpec],
    cfg: TrainConfig,
    id_col: str = "id",
    init_state: dict | None = None,
    merge_states: Callable[[list[dict]], dict] | None = None,
) -> dict:
    """Data-parallel training orchestration (M1 semantics).

    Each epoch wave: every partition assembles batches and feeds the trainer
    callable; per-partition final states are reduced by the
    ``merge_states`` parameter (e.g. ``average_states``); without one, the
    last state wins — mirroring rank-0 snapshotting. Partitions that
    consumed zero batches are excluded from the reduce: an empty
    partition's summary is the unchanged prior state and must neither
    crash parameter averaging nor drag it toward stale weights (r7
    self-review finding). This reproduces the
    reference's *orchestration*: partition-parallel batch feeding until
    ``max_iter`` batches are consumed globally. Gradient sync is the
    trainer's business (e.g. torch.distributed inside a barrier stage).

    Implementation: ``mapInArrow`` emitting one summary row per partition,
    collected per epoch (tiny: #partitions rows).
    """
    from caffeonspark_spark.multimodal.batch import (
        _column_tensor_arrow,
        iter_batch_chunks,
    )

    state = dict(init_state or {})
    spec_list = list(specs)
    batch = cfg.batch_size

    def run_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        local_state = dict(state)
        n_batches = 0

        for chunk in iter_batch_chunks(batches, batch):
            inputs = {
                s.name: _column_tensor_arrow(chunk.column(s.name), s) for s in spec_list
            }
            local_state.update(trainer(inputs, local_state) or {})
            n_batches += 1
        import json

        payload = json.dumps(
            {k: v for k, v in local_state.items() if isinstance(v, (int, float, str, list))}
        )
        yield pa.RecordBatch.from_arrays(
            [pa.array([n_batches]), pa.array([payload])], names=["n_batches", "state_json"]
        )

    total_batches = 0
    epoch = 0
    while total_batches < cfg.max_iter:
        rows = df.mapInArrow(run_partition, "n_batches long, state_json string").collect()
        import json

        part_states = []
        epoch_batches = 0
        for r in rows:
            epoch_batches += r["n_batches"]
            if r["n_batches"] > 0:
                part_states.append(json.loads(r["state_json"]))
        if epoch_batches == 0:
            # the reference's insufficient-data error path
            # (CaffeOnSpark.scala:256-289): an epoch that contributes zero
            # batches would otherwise re-submit the same job forever
            raise ValueError(
                f"insufficient data: epoch {epoch} produced 0 batches "
                f"({total_batches}/{cfg.max_iter} iterations completed)"
            )
        total_batches += epoch_batches
        if merge_states is not None and part_states:
            # data-parallel reduce: e.g. parameter averaging (the rebuild's
            # stand-in for the reference's gradient allreduce shards)
            state.update(merge_states(part_states))
        else:
            for ps in part_states:  # rank-0-snapshot analogue: last wins
                state.update(ps)
        epoch += 1
        state["epoch"] = epoch
    state["iterations"] = total_batches
    return state


# --- declared queries ------------------------------------------------------
#
# The operators themselves (assemble_batches / features) return array<float>
# columns for API users; the DECLARED queries below project those to scalar
# long-form / summary columns so the driver's canonicalizer (which sorts
# cell values) can hash them, and so DuckDB can express an exact oracle.

EMBED_SPECS = [
    ColumnSpec("embedding", "float_array", channels=64),
    ColumnSpec("label", "int"),
]


def batch_assembly_query(spark, sf_dir) -> DataFrame:
    """Declared query (F9, ``DataFrameSource.scala:225-302``): assemble the
    embeddings table into 64-sample batches, then summarize each batch with
    integer-exact scalars (membership sums, shape arithmetic).

    The input is globally ordered on ``vec_id`` and collapsed to ONE
    partition so batch composition is deterministic and DuckDB-expressible —
    this is the oracle-exact declared form only; ``assemble_batches`` itself
    is partition-parallel (batches never cross partitions) and is what a
    pipeline would run at scale.
    """
    from caffeonspark_spark.catalog import load_table
    from caffeonspark_spark.multimodal.batch import assemble_batches

    emb = load_table(spark, sf_dir, "embeddings").repartition(1).sortWithinPartitions("vec_id")
    batches = assemble_batches(emb, EMBED_SPECS, batch_size=64, id_col="vec_id")
    ids_as_long = F.transform("sample_ids", lambda s: s.cast("long"))
    return batches.select(
        F.size("sample_ids").alias("n_samples"),
        F.array_min(ids_as_long).alias("first_id"),
        F.aggregate(ids_as_long, F.lit(0).cast("long"), lambda a, x: a + x).alias("id_sum"),
        F.aggregate("label", F.lit(0.0), lambda a, x: a + x).cast("long").alias("label_sum"),
        F.size("embedding").alias("flat_len"),
    )


def features_identity_query(spark, sf_dir) -> DataFrame:
    """Declared query (M3, ``CaffeOnSpark.scala:427-506``): feature
    extraction with a projection "model" (first 8 dims), emitted in
    posexploded long form ``(SampleID, pos, ip1_val, label_val)`` — scalar
    cells only, value-exact vs the source floats (the model copies, it does
    no arithmetic), so the driver can hash-match it against DuckDB."""
    from caffeonspark_spark.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")

    def proj_model(inputs):
        flat = inputs["embedding"]
        return {"ip1": flat[:, :8], "label_out": inputs["label"]}

    feat = features(
        emb, proj_model, EMBED_SPECS, ["ip1", "label_out"], batch_size=64, id_col="vec_id"
    )
    return feat.select(
        "SampleID",
        F.posexplode("ip1").alias("pos", "ip1_val"),
        F.element_at("label_out", F.lit(1)).alias("label_val"),
    )


def train_with_validation(
    train_df: DataFrame,
    val_df: DataFrame,
    trainer: TrainerFn,
    model_from_state: Callable[[dict], ModelFn],
    specs: list[ColumnSpec],
    cfg: TrainConfig,
    val_blobs: list[str],
    order_cols: list[str],
    id_col: str = "id",
    init_state: dict | None = None,
    merge_states: Callable[[list[dict]], dict] | None = None,
):
    """M2: interleaved train/validation waves (``CaffeOnSpark.scala:239-358``).

    Every ``test_interval`` iterations: train on the next row-window of
    ``test_interval × batch × devices × cluster_size`` records (the
    reference's ``PartitionPruningRDD`` window selection, rebuilt as the
    ``partition_window`` row-range operator), then score ``test_iter``
    batches of ``val_df`` with the current model and record the per-blob
    element-wise mean (``VectorMean`` semantics).

    Returns ``(final_state, metrics_rows)`` where ``metrics_rows`` is a list
    of ``{"iteration": k, <blob>: [means...]}`` dicts — the reference returns
    exactly this as a DataFrame (schema ``<blob>: array<float>``,
    ``CaffeOnSpark.scala:356-357``); build one with
    ``spark.createDataFrame(metrics_rows)`` when a DataFrame is wanted.
    """
    from caffeonspark_spark.operators.partitioning import partition_window

    n_records = train_df.count()
    wave_len = cfg.test_interval * cfg.batch_size * cfg.devices * cfg.cluster_size
    if cfg.test_interval <= 0:
        raise ValueError("train_with_validation requires test_interval > 0")
    windows_total = max(n_records // wave_len, 1)
    validate_partition_math(n_records, windows_total, cfg)

    val_slice = val_df.limit(cfg.test_iter * cfg.batch_size)
    state = dict(init_state or {})
    metrics: list[dict] = []
    n_waves = (cfg.max_iter + cfg.test_interval - 1) // cfg.test_interval
    wave_cfg = TrainConfig(
        batch_size=cfg.batch_size,
        max_iter=cfg.test_interval,
        devices=cfg.devices,
        cluster_size=cfg.cluster_size,
    )
    for wave in range(n_waves):
        window = partition_window(
            train_df, wave % windows_total, windows_total, wave_len, order_cols
        ).drop("_part", "_row_in_part")
        state = train(
            window, trainer, specs, wave_cfg,
            id_col=id_col, init_state=state, merge_states=merge_states,
        )
        summary = test_model(
            val_slice, model_from_state(state), specs, val_blobs,
            batch_size=cfg.batch_size, id_col=id_col,
        )
        metrics.append({"iteration": (wave + 1) * cfg.test_interval, **summary})
    state["iterations"] = n_waves * cfg.test_interval
    return state, metrics


def softmax_trainer(dim: int, n_classes: int, lr: float = 1.0,
                    x_col: str = "embedding", y_col: str = "label") -> TrainerFn:
    """Reference trainer: mini-batch softmax regression (pure NumPy). The
    engine's e2e ML acceptance path — the LeNet/MNIST stand-in that needs no
    DL framework in the container."""

    def step(inputs: dict, state: dict) -> dict:
        X = np.asarray(inputs[x_col], dtype=np.float64).reshape(len(inputs[x_col]), -1)
        y = np.asarray(inputs[y_col], dtype=np.int64).ravel()
        W = np.array(state["W"]) if "W" in state else np.zeros((dim, n_classes))
        b = np.array(state["b"]) if "b" in state else np.zeros(n_classes)
        logits = X @ W + b
        logits -= logits.max(axis=1, keepdims=True)
        p = np.exp(logits)
        p /= p.sum(axis=1, keepdims=True)
        nll = -np.log(p[np.arange(len(y)), y] + 1e-12).mean()
        G = p
        G[np.arange(len(y)), y] -= 1.0
        G /= len(y)
        W = W - lr * (X.T @ G)
        b = b - lr * G.sum(axis=0)
        return {"W": W.tolist(), "b": b.tolist(), "loss": float(nll)}

    return step


def softmax_model(state: dict, x_col: str = "embedding", y_col: str = "label") -> ModelFn:
    """Validation model for ``softmax_trainer`` state: emits the reference's
    validation blobs — per-sample ``accuracy`` (0/1 correct) and ``loss``
    (NLL), so ``test_model``'s VectorMean yields overall accuracy/mean-loss
    exactly like ``InterleaveTest.scala:36-57`` asserts."""
    W = np.array(state["W"])
    b = np.array(state["b"])

    def model(inputs: dict) -> dict:
        X = np.asarray(inputs[x_col], dtype=np.float64).reshape(len(inputs[x_col]), -1)
        y = np.asarray(inputs[y_col], dtype=np.int64).ravel()
        logits = X @ W + b
        logits -= logits.max(axis=1, keepdims=True)
        p = np.exp(logits)
        p /= p.sum(axis=1, keepdims=True)
        acc = (p.argmax(axis=1) == y).astype(np.float32).reshape(-1, 1)
        nll = (-np.log(p[np.arange(len(y)), y] + 1e-12)).astype(np.float32).reshape(-1, 1)
        return {"accuracy": acc, "loss": nll}

    return model


def average_states(states: list[dict]) -> dict:
    """Parameter-averaging merge for data-parallel waves (the engine's
    stand-in for the reference's sharded gradient allreduce,
    ``socket_sync.cpp:119-156``): element-wise mean of W/b, mean loss.

    EMPTY partitions emit a state without W/b (``run_partition`` yields
    one summary row per partition unconditionally), so average only over
    the states that actually trained — keying the guard off ``states[0]``
    either crashed with KeyError or silently skipped averaging depending
    on where the empty partition landed (r7 self-review finding)."""
    trained = [s for s in states if "W" in s]
    out = dict(trained[-1] if trained else states[-1])
    if trained:
        out["W"] = np.mean([np.array(s["W"]) for s in trained], axis=0).tolist()
        out["b"] = np.mean([np.array(s["b"]) for s in trained], axis=0).tolist()
    losses = [s["loss"] for s in states if "loss" in s]
    if losses:
        out["loss"] = float(np.mean(losses))
    return out


def save_state(state: dict, path: str) -> None:
    """M5 snapshot persistence (``FSUtils.scala:47-89`` analogue): write the
    trainer state as JSON. The state dict is model-artifact-sized (weights),
    a driver-side artifact write like the reference's .caffemodel move."""
    import json
    import os

    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump({k: v for k, v in state.items()
                   if isinstance(v, (int, float, str, list, dict, bool))}, f)
    os.replace(tmp, path)


def load_state(path: str) -> dict:
    """M5 resume: load a snapshot written by ``save_state``; pass the result
    as ``init_state=`` to ``train``/``train_with_validation`` (the
    ``-snapshot``/``-weights`` resume flags, ``CaffeOnSpark.scala:108-111``)."""
    import json

    with open(path) as f:
        return json.load(f)


def barrier_gang_run(df: DataFrame, worker_fn, n_partitions: int | None = None) -> list:
    """Gang-scheduled execution (X6/X7): run ``worker_fn(rank, addresses,
    rows_iter) -> result`` on every partition simultaneously under Spark
    barrier mode — all tasks launch together or none do (the reference's
    full-resource gate), and ``BarrierTaskContext.allGather`` gives every
    task the full rank→address table before work starts (the reference's
    3-job setup: instantiate → broadcast addresses → connect,
    ``CaffeOnSpark.scala:113-154``, rebuilt as ONE barrier stage).

    This is the slot a torch.distributed trainer plugs into: rank 0 is the
    rendezvous master, ``addresses`` seeds the process group. Returns the
    per-rank results (small, driver-collected).
    """
    import socket

    if n_partitions is not None:
        df = df.repartition(n_partitions)

    def run(it):
        from pyspark import BarrierTaskContext

        ctx = BarrierTaskContext.get()
        rank = ctx.partitionId()
        # address exchange: every task contributes, every task sees all
        addresses = ctx.allGather(f"{socket.gethostname()}:{rank}")
        ctx.barrier()  # gang sync before compute (processor.start analogue)
        yield worker_fn(rank, addresses, it)

    return df.rdd.barrier().mapPartitions(run).collect()
