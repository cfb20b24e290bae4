"""Seeded input generator for the benchmark workloads.

Every table is written with pyarrow (no Spark) as a directory of several
parquet part files, each holding several row groups, so a scan plans more
than one split. The same seed gives the same bytes; outputs are cached per
(workload, seed) under ``.perfbench_cache/`` in the working directory and
described by a ``manifest.json`` (row counts, bytes, duplicate share,
PNG-encoded share, round-trip checksums).

Value domains follow the engine's test tables (uniform TPC-H-like star
schema, Poisson event stream, 30-word document vocabulary with planted
" dup" near-duplicates, unit-norm 64-d embeddings) so every declared
query returns rows and its DuckDB oracle stays valid.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CACHE_ROOT = ".perfbench_cache"
#: bump when any generated byte changes, so stale caches are never reused
VERSION = 1
FILES_PER_TABLE = 4
ROW_GROUPS_PER_FILE = 2

#: star schema + events at this scale factor (sf0.01 row counts: the size at
#: which every interactive_sql oracle is validated)
SQL_SF = 0.01
#: documents / embeddings for dedup_corpus (sf0.01 row counts); 500
#: embeddings keeps the semantic-dedup k at the value its oracle pins
#: (k = 8 below 2,250 rows)
N_DOCS = 500
N_EMBEDDINGS = 500
NEAR_DUP_SHARE = 0.05
#: class-prototype images for ingest_train
N_IMAGES = 3000
IMG_C, IMG_H, IMG_W = 3, 32, 32
N_CLASSES = 10

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_ADJ = ("small", "red", "blue", "hot", "old", "large", "green", "cold")
P_NOUN = ("ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe")
P_TYPES = ("ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD")
EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
TABLE_EPOCH = np.datetime64("1995-01-01", "us")
EVENT_EPOCH = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def cache_dir(workload: str, seed: int) -> str:
    return os.path.join(CACHE_ROOT, f"v{VERSION}-{workload}-seed{seed}")


def ensure(workload: str, seed: int) -> tuple[str, dict]:
    """Generate (once per seed) and return ``(directory, manifest)``."""
    out = cache_dir(workload, seed)
    manifest = os.path.join(out, "manifest.json")
    if not os.path.exists(manifest):
        tmp = f"{out}.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        info = GENERATORS[workload](tmp, seed)
        info["files"] = _file_digests(tmp)
        with open(os.path.join(tmp, "manifest.json"), "w") as fh:
            json.dump(info, fh, indent=1, sort_keys=True)
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    with open(manifest) as fh:
        return os.path.abspath(out), json.load(fh)


def _file_digests(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return dict(sorted(out.items()))


def _write_table(root: str, name: str, table: pa.Table) -> dict:
    """Write ``table`` as ``<name>.parquet/part-0000i.parquet`` files.

    ``events`` is the exception: the streaming operators open it through a
    file-source glob on the file name ``events.parquet``, which matches no
    part file of a directory, so it stays one file (of several row groups).
    """
    n = table.num_rows
    if name == "events":
        path = os.path.join(root, "events.parquet")
        pq.write_table(table, path, row_group_size=-(-n // FILES_PER_TABLE))
        return {"rows": n, "bytes": os.path.getsize(path), "files": 1}
    path = os.path.join(root, f"{name}.parquet")
    os.makedirs(path)
    n_files = min(FILES_PER_TABLE, max(1, n // 8))
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        rg = max(1, -(-part.num_rows // ROW_GROUPS_PER_FILE))
        pq.write_table(
            part, os.path.join(path, f"part-{i:05d}.parquet"), row_group_size=rg
        )
    size = sum(
        os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)
    )
    return {"rows": n, "bytes": size, "files": n_files}


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng, start: np.datetime64, n_days: int, n: int) -> pa.Array:
    d = start + rng.integers(0, n_days, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def gen_sql(root: str, seed: int) -> dict:
    """Star schema + event stream (interactive_sql)."""
    rng = np.random.default_rng([VERSION, seed, 1])
    sf = SQL_SF
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    i32 = pa.int32()
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([
                f"{P_ADJ[a]} {P_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, P_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, TABLE_EPOCH, 2404, n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _pick(rng, ("F", "O"), n_line),
            "l_shipdate": _days(rng, TABLE_EPOCH + np.timedelta64(1, "D"), 2499, n_line),
        }),
    }
    gaps = rng.exponential(30 * DAY_US / n_ev, n_ev).astype(np.int64) + 1
    ts = EVENT_EPOCH + np.cumsum(gaps).astype("timedelta64[us]")
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    tables["documents"] = _documents(rng, int(50_000 * sf))[0]
    return {"tables": {n: _write_table(root, n, t) for n, t in tables.items()}}


def _documents(rng, n: int) -> tuple[pa.Table, float]:
    """Random 30-word-vocabulary documents; a ``NEAR_DUP_SHARE`` of them are
    another document's text plus " dup". Returns ``(table, exact_dup_share)``."""
    texts = [
        " ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)])
        for k in rng.integers(10, 100, n)
    ]
    dup_rows = rng.choice(n, int(n * NEAR_DUP_SHARE), replace=False)
    dup_set = set(int(i) for i in dup_rows)
    bases = [i for i in range(n) if i not in dup_set]
    for i in dup_rows:
        texts[i] = texts[int(bases[rng.integers(0, len(bases))])] + " dup"
    docs = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return docs, 1.0 - len(set(texts)) / n


def gen_corpus(root: str, seed: int) -> dict:
    """Documents with planted near-duplicates + embeddings (dedup_corpus)."""
    rng = np.random.default_rng([VERSION, seed, 2])
    docs, exact_dup_share = _documents(rng, N_DOCS)
    m = N_EMBEDDINGS
    v = rng.standard_normal((m, 64))
    dup_vecs = rng.choice(np.arange(8, m), int(m * NEAR_DUP_SHARE), replace=False)
    for i in dup_vecs:  # planted near-duplicate embeddings
        v[i] = v[rng.integers(0, m)] + 0.05 * rng.standard_normal(64)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(m, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32()),
    })
    return {
        "tables": {
            "documents": _write_table(root, "documents", docs),
            "embeddings": _write_table(root, "embeddings", emb),
        },
        "near_dup_share": NEAR_DUP_SHARE,
        "exact_dup_share": exact_dup_share,
    }


def png_encode(hwc: np.ndarray) -> bytes:
    """Minimal 8-bit RGB PNG (filter 0 on every row), stdlib zlib only."""
    h, w, _ = hwc.shape
    raw = np.concatenate([np.zeros((h, 1), np.uint8), hwc.reshape(h, -1)], axis=1)

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw.tobytes(), 6)) + chunk(b"IEND", b"")
    )


def image_pixels(seed: int) -> tuple[np.ndarray, np.ndarray]:
    """``(images CHW uint8 (N, C, H, W), labels)``: class prototype + noise."""
    rng = np.random.default_rng([VERSION, seed, 7])
    protos = rng.integers(0, 256, (N_CLASSES, IMG_C, IMG_H, IMG_W))
    labels = rng.integers(0, N_CLASSES, N_IMAGES)
    noise = rng.integers(-40, 41, (N_IMAGES, IMG_C, IMG_H, IMG_W))
    return np.clip(protos[labels] + noise, 0, 255).astype(np.uint8), labels


def lmdb_items(imgs: np.ndarray, labels: np.ndarray):
    from caffeonspark_spark.sources.lmdb import encode_datum

    for i, (chw, y) in enumerate(zip(imgs, labels)):
        yield b"%08d" % i, encode_datum(IMG_C, IMG_H, IMG_W, chw.tobytes(), int(y))


def record_checksum(rid: str, label: str, data: bytes) -> int:
    """Order-free per-record digest; summed over a store it is the
    round-trip checksum the workload checks against."""
    return zlib.crc32(data, zlib.crc32(f"{rid}|{label}".encode()))


def gen_images(root: str, seed: int) -> dict:
    """Raw CHW LMDB store + PNG SequenceFile copy (ingest_train)."""
    from caffeonspark_spark.sources.lmdb import write_lmdb
    from caffeonspark_spark.sources.seqfile import write_seqfile

    imgs, labels = image_pixels(seed)
    mdb = write_lmdb(os.path.join(root, "images_lmdb"), lmdb_items(imgs, labels))
    hwc = imgs.transpose(0, 2, 3, 1)
    pngs = [png_encode(x) for x in hwc]
    os.makedirs(os.path.join(root, "images_seq"))
    half = N_IMAGES // 2
    for part, rows in enumerate((range(half), range(half, N_IMAGES))):
        write_seqfile(
            os.path.join(root, "images_seq", f"part-{part:05d}"),
            (
                (f"{i:08d}", str(labels[i]), IMG_C, IMG_H, IMG_W, True, pngs[i])
                for i in rows
            ),
        )
    raw_sum = sum(
        record_checksum(f"{i:08d}", str(labels[i]), hwc[i].tobytes())
        for i in range(N_IMAGES)
    )
    return {
        "images": N_IMAGES,
        "shape": [IMG_C, IMG_H, IMG_W],
        "lmdb_bytes": os.path.getsize(mdb),
        "seq_bytes": sum(len(p) for p in pngs),
        "png_encoded_share": 0.5,  # the SequenceFile half of all stored records
        "hwc_checksum": raw_sum,
    }


GENERATORS = {
    "interactive_sql": gen_sql,
    "dedup_corpus": gen_corpus,
    "ingest_train": gen_images,
}

