"""The three workloads: their declared operations, the input rows each one
reads, and the untimed output check of every operation.

An operation is ``run(ctx, tracer) -> result``. Inside it, each call into a
repo module's public function is wrapped in ``tracer.span(module, phase)``;
``build`` is the call until it returns, ``exec`` the action on what it
returned. ``check(ctx, result)`` raises ``CheckFailed`` on a wrong output.
"""

from __future__ import annotations

import importlib
import math
import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pyarrow.parquet as pq

import gen
import oracle
from oracle import expect

#: declared queries (``__spark_entry__`` names): the module and public
#: function called, whose module is the layer the work is attributed to,
#: and the tables read (those its DuckDB twin names)
QUERIES = {
    "pricing_summary": ("operators.relational", "pricing_summary", ("lineitem",)),
    "multiway_join": (
        "operators.relational", "multiway_join",
        ("customer", "lineitem", "nation", "orders", "region"),
    ),
    "events_hourly": ("operators.relational", "events_hourly", ("events",)),
    "sessionize": ("operators.temporal", "sessionize_query", ("events",)),
    "zscore_anomaly": ("operators.temporal", "rolling_zscore_query", ("events",)),
    "stream_tumbling_parity": ("streaming.windows", "stream_tumbling_parity", ("events",)),
    "clean_corpus": ("operators.dedup", "clean_corpus", ("documents",)),
    "semantic_dedup": ("operators.similarity", "semantic_dedup_query", ("embeddings",)),
    "image_dedup_map": ("multimodal.imagehash", "image_dedup_map_query", ("documents",)),
    "bpe_encode": ("operators.bpe", "bpe_encode", ("documents",)),
}

#: operations per query workload. Every run sets up and warms every
#: operation, so the lists are cut to fit the run budget. Left out:
#: shipping_priority, local_supplier_volume, large_volume_customers and
#: waiting_suppliers (more joins of multiway_join's kind); topk_per_group,
#: asof_join, gapfill_hourly and funnel_conversion (more windows of the kinds
#: kept); stream_dedup_parity (a second stream); neardup_clusters and
#: dedup_against_corpus (MinHash-LSH and CC paths that clean_corpus and
#: image_dedup_map already run).
SQL_OPS = (
    "pricing_summary", "multiway_join", "events_hourly", "sessionize",
    "zscore_anomaly", "stream_tumbling_parity",
)
CORPUS_OPS = ("clean_corpus", "semantic_dedup", "image_dedup_map", "bpe_encode")


@dataclass
class Op:
    name: str
    module: str  # the layer the operation's main call belongs to
    run: Callable
    check: Callable
    rows: int


@dataclass
class Ctx:
    spark: object
    data: str
    manifest: dict
    work: str
    seed: int
    parallelism: int
    oracle_cache: dict = field(default_factory=dict)
    state: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)

    def out(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path


# --- query workloads (interactive_sql, dedup_corpus) ------------------------

def _query_op(name: str, manifest: dict, check=None) -> Op:
    module, attr, tables = QUERIES[name]
    fn = getattr(importlib.import_module(f"caffeonspark_spark.{module}"), attr)

    def run(ctx: Ctx, tr):
        with tr.span(module, "build"):
            df = fn(ctx.spark, ctx.data)
        with tr.span(module, "exec"):
            return df.columns, [tuple(r) for r in df.collect()]

    rows = sum(manifest["tables"][t]["rows"] for t in tables)
    return Op(name, module, run, check or _oracle_check(name), rows)


def _oracle_check(name: str):
    def check(ctx: Ctx, result) -> None:
        if name not in ctx.oracle_cache:
            ctx.oracle_cache[name] = oracle.cached(
                name, ctx.extra["oracles"][name], ctx.data, ctx.manifest["tables"]
            )
        oracle.assert_same(result, ctx.oracle_cache[name])

    return check


def _doc_texts(ctx: Ctx) -> dict[int, str]:
    docs = pq.read_table(os.path.join(ctx.data, "documents.parquet")).to_pydict()
    return dict(zip(docs["doc_id"], docs["text"]))


def _check_clean_corpus(ctx: Ctx, result) -> None:
    """No SQL twin exists (its MinHash is engine-hash-specific). Stated
    check: survivors are distinct input ids with their true token counts,
    no two survivors share a text, and planted " dup" copies are removed."""
    cols, rows = result
    text = _doc_texts(ctx)
    ids = [r[cols.index("doc_id")] for r in rows]
    expect(rows and len(set(ids)) == len(ids), "survivor ids repeat")
    expect(set(ids) <= set(text), "survivor id not in the corpus")
    kept_texts = [text[i] for i in ids]
    expect(len(set(kept_texts)) == len(kept_texts), "exact duplicate survived")
    for r in rows:
        n = r[cols.index("n_tokens")]
        expect(n == len(text[r[cols.index("doc_id")]].split(" ")), "n_tokens wrong")
    kept = set(kept_texts)
    both = [t for t in kept if t.endswith(" dup") and t[: -len(" dup")] in kept]
    expect(not both, f"{len(both)} planted near-duplicate pairs both survived")


def _check_bpe_encode(ctx: Ctx, result) -> None:
    """Stated check in place of the DuckDB twin, whose unrolled merge chain
    alone costs about as long as the workload's timed pass: every document
    is encoded once, losslessly (its subwords concatenate back to its
    words), and the merges shorten the corpus."""
    cols, rows = result
    text = _doc_texts(ctx)
    col = {c: i for i, c in enumerate(cols)}
    expect(sorted(r[col["doc_id"]] for r in rows) == sorted(text), "documents differ")
    chars = subwords = 0
    for r in rows:
        words, sub = text[r[col["doc_id"]]].split(" "), r[col["subword_text"]].split(" ")
        expect(r[col["n_words"]] == len(words), "n_words wrong")
        expect(r[col["n_subwords"]] == len(sub), "n_subwords wrong")
        expect("".join(sub) == "".join(words), "encoding is not lossless")
        chars += sum(len(w) for w in words)
        subwords += len(sub)
    expect(subwords < chars, "no merge applied")


def _check_image_dedup_map(ctx: Ctx, result) -> None:
    """Stated check in place of the DuckDB twin (its recursive-CTE
    components cost about half the workload's timed pass): one row per
    document, every ``keep_id`` is the smallest id of its cluster and a
    survivor itself, documents with identical text (identical rendered
    images) share a cluster, and some duplicates are folded."""
    cols, rows = result
    text = _doc_texts(ctx)
    keep = {r[cols.index("id")]: r[cols.index("keep_id")] for r in rows}
    expect(len(keep) == len(rows) and sorted(keep) == sorted(text),
           "not one row per document")
    expect(all(k <= i and keep[k] == k for i, k in keep.items()),
           "keep_id is not its cluster's smallest surviving id")
    by_text: dict[str, set] = {}
    for i, t in text.items():
        by_text.setdefault(t, set()).add(keep[i])
    expect(all(len(k) == 1 for k in by_text.values()), "identical images split")
    expect(len(set(keep.values())) < len(keep), "no duplicate folded")


def _query_ops(names, manifest: dict) -> list[Op]:
    checks = {
        "clean_corpus": _check_clean_corpus,
        "bpe_encode": _check_bpe_encode,
        "image_dedup_map": _check_image_dedup_map,
    }
    return [_query_op(n, manifest, checks.get(n)) for n in names]


def _register_tables(ctx: Ctx) -> None:
    from caffeonspark_spark.catalog import load_table

    import __spark_entry__ as entry

    for t in ctx.manifest["tables"]:
        load_table(ctx.spark, ctx.data, t).createOrReplaceTempView(t)
    ctx.extra["oracles"] = entry.oracle_sql()


# --- ingest_train ------------------------------------------------------------

IMG_SPEC_KW = dict(channels=gen.IMG_C, height=gen.IMG_H, width=gen.IMG_W, scale=1 / 255.0)
N_FEATURES = 16


def _specs():
    from caffeonspark_spark.multimodal.columns import ColumnSpec

    return [ColumnSpec("data", "raw_image", **IMG_SPEC_KW), ColumnSpec("label", "int")]


def _projection(seed: int) -> np.ndarray:
    rng = np.random.default_rng([gen.VERSION, seed, 11])
    return rng.standard_normal((gen.IMG_C * gen.IMG_H * gen.IMG_W, N_FEATURES)).astype(
        np.float32
    )


def _register_images(ctx: Ctx) -> None:
    from caffeonspark_spark.sources import lmdb, seqfile

    lmdb.register(ctx.spark)
    seqfile.register(ctx.spark)
    imgs, labels = gen.image_pixels(ctx.seed)
    ctx.extra["items"] = list(gen.lmdb_items(imgs, labels))
    proj = _projection(ctx.seed)
    # the PNG path decodes to the reference's BGR channel order
    bgr = imgs[:, ::-1].reshape(len(imgs), -1)
    flat = bgr.astype(np.float32) / np.float32(255.0)
    ctx.extra["features_ref"] = {f"{i:08d}": v for i, v in enumerate(flat @ proj)}
    ctx.extra["proj"] = proj


def _lmdb_write(ctx: Ctx, tr):
    from caffeonspark_spark.sources import lmdb

    out = ctx.out("lmdb_copy")
    with tr.span("sources.lmdb", "build"):
        path = lmdb.write_lmdb(out, ctx.extra["items"])
    tr.add("sources.lmdb.written_mb", os.path.getsize(path) / (1024.0 * 1024.0))
    return path


def _check_lmdb_write(ctx: Ctx, path: str) -> None:
    import hashlib

    with open(path, "rb") as fh:
        got = hashlib.sha256(fh.read()).hexdigest()
    expect(got == ctx.manifest["files"]["images_lmdb/data.mdb"], "LMDB bytes differ")


def _lmdb_export(ctx: Ctx, tr):
    from caffeonspark_spark.sources import lmdb, seqfile

    out = ctx.out("export_seq")
    with tr.span("sources.lmdb", "build"):
        df = lmdb.lmdb_to_dataframe(
            ctx.spark, os.path.join(ctx.data, "images_lmdb"), partitions=ctx.parallelism
        )
    with tr.span("sources.seqfile", "build"):
        seqfile.dataframe_to_seqfile(df, out)
    tr.add("sources.seqfile.written_mb", _dir_bytes(out) / (1024.0 * 1024.0))
    return out


def _check_lmdb_export(ctx: Ctx, out: str) -> None:
    """Round trip: the exported SequenceFile parts hold exactly the
    generator's records (count and order-free checksum over HWC bytes)."""
    from caffeonspark_spark.sources import javaser
    from caffeonspark_spark.sources.seqfile import SeqFileInfo, scan_records

    n, total = 0, 0
    for f in sorted(os.listdir(out)):
        if f.startswith((".", "_")):
            continue
        with open(os.path.join(out, f), "rb") as fh:
            buf = fh.read()
        info = SeqFileInfo.parse(buf)
        for kb, vb in scan_records(buf, info, 0, len(buf)):
            rid, label, *_ = javaser.decode_image_key(kb)
            total += gen.record_checksum(rid, label, bytes(vb))
            n += 1
    expect(n == ctx.manifest["images"], f"exported {n} records")
    expect(total == ctx.manifest["hwc_checksum"], "round-trip checksum differs")


def _lmdb_scan(ctx: Ctx, tr):
    from caffeonspark_spark.sources import lmdb

    with tr.span("sources.lmdb", "build"):
        return lmdb.lmdb_to_dataframe(
            ctx.spark, os.path.join(ctx.data, "images_lmdb"),
            partitions=ctx.parallelism, columns=["id", "label", "data"],
        )


def _train(ctx: Ctx, tr):
    from caffeonspark_spark.ml import dataflow as ML

    df = _lmdb_scan(ctx, tr)
    dim = gen.IMG_C * gen.IMG_H * gen.IMG_W
    cfg = ML.TrainConfig(batch_size=64, max_iter=ctx.manifest["images"] // 64)
    trainer = ML.softmax_trainer(dim, gen.N_CLASSES, lr=0.05, x_col="data", y_col="label")
    with tr.span("ml.dataflow", "build"):
        state = ML.train(
            df, trainer, _specs(), cfg, id_col="id", merge_states=ML.average_states
        )
    ctx.state = state
    return state


def _check_train(ctx: Ctx, state: dict) -> None:
    expect(state["iterations"] >= ctx.manifest["images"] // 64, "too few iterations")
    expect(math.isfinite(state["loss"]), f"training loss {state['loss']}")


def _features(ctx: Ctx, tr):
    from caffeonspark_spark.ml import dataflow as ML
    from caffeonspark_spark.multimodal.columns import ColumnSpec
    from caffeonspark_spark.sources import seqfile

    proj = ctx.extra["proj"]

    def model(inputs):
        x = inputs["data"]
        return {"feat": x.reshape(len(x), -1).astype(np.float32) @ proj}

    spec = ColumnSpec("data", "encoded_image", **IMG_SPEC_KW)
    out = ctx.out("features.parquet")
    with tr.span("sources.seqfile", "build"):
        df = seqfile.seqfile_to_dataframe(
            ctx.spark, os.path.join(ctx.data, "images_seq"), partitions=ctx.parallelism
        )
    with tr.span("ml.dataflow", "build"):
        feat = ML.features(df, model, [spec], ["feat"], id_col="id")
    with tr.span("ml.dataflow", "exec"):
        feat.write.mode("overwrite").parquet(out)
    return out


def _check_features(ctx: Ctx, out: str) -> None:
    """PNG decode + model output equal the NumPy reference on the
    generator's pixels, for every image."""
    got = pq.read_table(out).to_pydict()
    ref = ctx.extra["features_ref"]
    expect(sorted(got["SampleID"]) == sorted(ref), "feature rows differ")
    for sid, v in zip(got["SampleID"], got["feat"]):
        expect(np.allclose(v, ref[sid], rtol=1e-4, atol=1e-3), f"features of {sid}")


def _test_model(ctx: Ctx, tr):
    from caffeonspark_spark.ml import dataflow as ML

    df = _lmdb_scan(ctx, tr)
    model = ML.softmax_model(ctx.state, x_col="data", y_col="label")
    with tr.span("ml.dataflow", "build"):
        return ML.test_model(df, model, _specs(), ["accuracy", "loss"], id_col="id")


def _check_test_model(ctx: Ctx, out: dict) -> None:
    acc, loss = out["accuracy"][0], out["loss"][0]
    expect(acc > 1.0 / gen.N_CLASSES, f"accuracy {acc} is not above chance")
    expect(math.isfinite(loss), f"validation loss {loss}")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _ingest_ops(manifest: dict) -> list[Op]:
    n = manifest["images"]
    return [
        Op("lmdb_write", "sources.lmdb", _lmdb_write, _check_lmdb_write, n),
        Op("lmdb_to_seqfile", "sources.seqfile", _lmdb_export, _check_lmdb_export, n),
        Op("train", "ml.dataflow", _train, _check_train, n),
        Op("features_png", "ml.dataflow", _features, _check_features, n),
        Op("test_model", "ml.dataflow", _test_model, _check_test_model, n),
    ]


@dataclass
class Workload:
    register: Callable
    ops: Callable


WORKLOADS = {
    "interactive_sql": Workload(_register_tables, lambda m: _query_ops(SQL_OPS, m)),
    "dedup_corpus": Workload(_register_tables, lambda m: _query_ops(CORPUS_OPS, m)),
    "ingest_train": Workload(_register_images, _ingest_ops),
}
