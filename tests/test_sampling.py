"""Dataset-composition operators: semantic properties beyond the oracle
hash checks (stability, quota exactness, argmin correctness, plan shape)."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from caffeonspark_spark.catalog import load_table
from caffeonspark_spark.operators.sampling import (
    resample_epochs,
    source_quota_sample,
    split_assign,
    temperature_resample_plan,
)
from caffeonspark_spark.operators.similarity import kmeans_assign


def test_split_assign_fractions_and_coverage(spark, sf_oracle):
    docs = load_table(spark, sf_oracle, "documents").select("doc_id")
    out = split_assign(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    assert total == docs.count()
    # hash split at n=500: generous envelopes around 400/50/50
    assert 0.7 < counts["train"] / total < 0.9
    assert 0.04 < counts["val"] / total < 0.18
    assert 0.04 < counts["test"] / total < 0.18


def test_split_assign_rejects_partial_fractions(spark, sf_oracle):
    """Fractions not summing to 1 must raise — the uncovered hash tail
    would otherwise silently inflate the last split (0.8/0.1 gave 'val'
    20% instead of the expected 10%)."""
    import pytest

    docs = load_table(spark, sf_oracle, "documents").select("doc_id")
    with pytest.raises(ValueError, match="sum to 1"):
        split_assign(docs, "doc_id", {"train": 0.8, "val": 0.1})
    with pytest.raises(ValueError, match="non-empty"):
        split_assign(docs, "doc_id", {})


def test_split_assign_stable_under_corpus_growth(spark, sf_oracle):
    """A row's split is a pure function of its key: filtering the corpus to
    half must not change any surviving row's assignment."""
    docs = load_table(spark, sf_oracle, "documents").select("doc_id")
    full = split_assign(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    half = split_assign(
        docs.where(F.col("doc_id") % 2 == 0), "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )
    joined = full.alias("f").join(half.alias("h"), "doc_id").where(
        F.col("f.split") != F.col("h.split")
    )
    assert joined.count() == 0


def test_source_quota_cap_and_prefilter_exactness(spark, sf_oracle):
    """Quota holds per source, and the prefiltered ranking returns exactly
    the k hash-smallest surviving rows (vs an unprefiltered reference with
    the same contract semantics applied)."""
    from caffeonspark_spark.operators.partitioning import _SAMPLE_MOD, sample_hash
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_oracle, "documents").select("doc_id", "source")
    k = 5
    out = source_quota_sample(docs, "source", "doc_id", k).select("doc_id", "source")
    per_source = out.groupBy("source").agg(F.count("*").alias("n")).collect()
    assert all(r["n"] <= k for r in per_source)

    # reference: UNprefiltered full ranking — the property under test is
    # that the 8k-margin prefilter does NOT change the k hash-smallest
    # answer (the old reference transcribed the operator's own prefilter
    # line-for-line, so a shared-design bug could never fail it)
    h = sample_hash(F.col("doc_id"))
    w = Window.partitionBy("source").orderBy("_h", "doc_id")
    ref = (
        docs.withColumn("_h", h)
        .withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .select("doc_id", "source")
    )
    assert out.exceptAll(ref).count() == 0
    assert ref.exceptAll(out).count() == 0


def test_temperature_resample_math(spark, sf_oracle):
    plan = temperature_resample_plan(
        load_table(spark, sf_oracle, "documents"), "source"
    ).collect()
    n = {r["source"]: r["n_docs"] for r in plan}
    w = {r["source"]: r["weight"] for r in plan}
    # weights normalize and follow sqrt proportionality
    assert math.isclose(sum(w.values()), 1.0, rel_tol=1e-9)
    z = sum(math.sqrt(v) for v in n.values())
    for s in n:
        assert math.isclose(w[s], math.sqrt(n[s]) / z, rel_tol=1e-9)
    n_total = sum(n.values())
    for r in plan:
        assert r["repeat_factor"] >= 1
        assert r["repeat_factor"] == math.ceil(r["target_docs"] / r["n_docs"])
        # pin target against the WEIGHTS, not the plan's own column — the
        # ceil identity above holds for any (wrong) target; HALF_UP round
        # matches Spark/DuckDB round on positives
        s = r["source"]
        assert r["target_docs"] == math.floor(math.sqrt(n[s]) / z * n_total + 0.5)


def test_resample_epochs_counts(spark, sf_smoke):
    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "source")
    plan = {r["source"]: r["repeat_factor"]
            for r in temperature_resample_plan(docs, "source").collect()}
    out = resample_epochs(docs, "source", "doc_id")
    got = {r["source"]: r["n"]
           for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    base = {r["source"]: r["n"]
            for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    for s, n in base.items():
        assert got[s] == n * plan[s]


def test_kmeans_assign_matches_numpy(spark, sf_oracle):
    emb = load_table(spark, sf_oracle, "embeddings")
    out = {
        r["vec_id"]: (r["centroid_id"], r["dist2"])
        for r in kmeans_assign(emb, emb.where(F.col("vec_id") < 8)).collect()
    }
    rows = emb.collect()
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in rows}
    cents = {i: vecs[i] for i in range(8)}
    for vid, v in vecs.items():
        d = {c: float(np.sum((v - cv) ** 2)) for c, cv in cents.items()}
        best = min(d, key=lambda c: (d[c], c))
        assert out[vid][0] == best
        assert math.isclose(out[vid][1], d[best], rel_tol=1e-9)


def test_nearest_centroid_col_null_element_falls_back(spark):
    """A ``None`` centroid element must take the Column-literal fallback
    (``math.isfinite(None)`` used to raise a TypeError while building the
    expression); the null then propagates as a SQL NULL distance."""
    from caffeonspark_spark.operators.similarity import nearest_centroid_col

    df = spark.createDataFrame([(1, [1.0, 1.0])], "id long, v array<float>")
    col = nearest_centroid_col([(0, [None, 5.0]), (1, [3.0, 1.0])], "v")
    (s,) = df.select(col.alias("s")).first()
    assert s["centroid_id"] == 0 and s["dist2"] is None
    finite = nearest_centroid_col([(0, [1.0, 1.0]), (1, [3.0, 1.0])], "v")
    assert df.select(finite.alias("s")).first()["s"] == (0.0, 0)


def test_kmeans_assign_plan_is_map_only(spark, sf_oracle):
    """Centroids are plan literals: the assignment must be a single
    map-only projection — no join, no aggregate, no exchange anywhere."""
    emb = load_table(spark, sf_oracle, "embeddings")
    plan = kmeans_assign(emb, emb.where(F.col("vec_id") < 8))._jdf.queryExecution().executedPlan().toString()
    for op in ("Join", "Exchange", "Aggregate", "Sort"):
        assert op not in plan, f"unexpected {op} in kmeans_assign plan"


def test_kmeans_assign_arrow_matches_literal(spark, sf_oracle):
    """The large-k Arrow argmin path agrees with the literal-plan path
    (same centroid ids, dist2 to float tolerance) when forced on via
    max_literal_k=0."""
    emb = load_table(spark, sf_oracle, "embeddings")
    cents = emb.where(F.col("vec_id") < 8)
    lit = {
        r["vec_id"]: (r["centroid_id"], r["dist2"])
        for r in kmeans_assign(emb, cents).collect()
    }
    arw = {
        r["vec_id"]: (r["centroid_id"], r["dist2"])
        for r in kmeans_assign(emb, cents, max_literal_k=0).collect()
    }
    assert set(lit) == set(arw)
    for vid, (cid, d2) in lit.items():
        assert arw[vid][0] == cid
        assert math.isclose(arw[vid][1], d2, rel_tol=1e-9, abs_tol=1e-12)


def test_kmeans_assign_large_k_no_plan_bloat(spark, sf_oracle):
    """k = 5×10^4 must pick the broadcast+Arrow path: no literal centroid
    array in the plan (plan size stays O(1) in k) and the query analyzes
    instantly.  Synthesizes 50k centroids driver-side — they're metadata."""
    import numpy as np
    from caffeonspark_spark.operators.similarity import _kmeans_assign_arrow

    emb = load_table(spark, sf_oracle, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    rng = np.random.default_rng(7)
    cent_rows = [(i, rng.standard_normal(dim).tolist()) for i in range(50_000)]
    out = _kmeans_assign_arrow(emb, cent_rows, "embedding", "vec_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(plan) < 20_000, f"plan bloated to {len(plan)} chars at k=50k"
    assert "named_struct" not in plan
    # executes end-to-end over the real table in bounded memory
    row = out.orderBy("vec_id").first()
    assert row["centroid_id"] in range(50_000) and row["dist2"] >= 0.0


def test_kmeans_fit_matches_numpy_lloyds(spark, sf_smoke):
    """Two full Lloyd's rounds equal the straightforward numpy loop
    (assign to nearest of the k first vectors, mean-update, repeat)."""
    from caffeonspark_spark.operators.similarity import kmeans_fit

    emb = load_table(spark, sf_smoke, "embeddings")
    rows = emb.collect()
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in rows}
    cents = {i: vecs[i].copy() for i in range(8)}
    for _ in range(2):
        assign = {}
        for vid, v in vecs.items():
            d = {c: float(np.sum((v - cv) ** 2)) for c, cv in cents.items()}
            assign[vid] = min(d, key=lambda c: (d[c], c))
        for c in list(cents):
            members = [vecs[v] for v, a in assign.items() if a == c]
            if members:
                cents[c] = np.mean(members, axis=0)
    got = {(r["centroid_id"], r["pos"]): (r["c_val"], r["n"]) for r in kmeans_fit(emb).collect()}
    sizes = {c: sum(1 for a in assign.values() if a == c) for c in cents}
    for (cid, pos), (val, n) in got.items():
        assert n == sizes[cid]
        # decimal-grid means vs numpy float means: agree to ~1e-9
        assert math.isclose(val, cents[cid][pos], rel_tol=0, abs_tol=1e-8)


def test_semantic_dedup_pairs_cluster_local_and_ranked(spark, sf_smoke):
    from caffeonspark_spark.operators.similarity import (
        kmeans_assign,
        semantic_dedup_pairs,
    )

    emb = load_table(spark, sf_smoke, "embeddings")
    cents = emb.where(F.col("vec_id") < 8)
    pairs = semantic_dedup_pairs(emb, cents, top=20).collect()
    assert len(pairs) == 20
    assign = {r["vec_id"]: r["centroid_id"] for r in kmeans_assign(emb, cents).collect()}
    sims = [r["cos_sim"] for r in pairs]
    assert sims == sorted(sims, reverse=True)
    for r in pairs:
        assert assign[r["id_a"]] == assign[r["id_b"]]
        assert -1.000001 <= r["cos_sim"] <= 1.000001


def test_dup_ngram_stats_planted(spark):
    """A doc sharing every shingle with a twin scores ratio 1.0; a unique
    doc scores 0.0."""
    from caffeonspark_spark.operators.dedup import dup_ngram_stats

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "totally unique words nowhere else repeated"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dup_ngram_stats(df).collect()}
    assert out[1]["dup_ratio"] == 1.0
    assert out[2]["dup_ratio"] == 1.0
    assert out[3]["dup_ratio"] == 0.0
    assert out[1]["n_shingles"] == 3


def test_shuffle_shards_reproducible_and_balanced(spark, sf_oracle):
    from caffeonspark_spark.catalog import load_table
    from caffeonspark_spark.operators.sampling import shuffle_shards

    docs = load_table(spark, sf_oracle, "documents").select("doc_id")
    a = shuffle_shards(docs, "doc_id", 8, seed=42).collect()
    b = shuffle_shards(docs, "doc_id", 8, seed=42).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # pure function of (key, seed)

    by_id = {r["doc_id"]: (r["shard"], r["pos"]) for r in a}
    n = len(by_id)
    assert n == docs.count()

    # every shard's positions are exactly 1..|shard| (a usable address space)
    from collections import defaultdict
    shards = defaultdict(list)
    for sh, pos in by_id.values():
        shards[sh].append(pos)
    for sh, ps in shards.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), sh
    # hash sharding stays roughly balanced
    sizes = [len(ps) for ps in shards.values()]
    assert len(sizes) == 8 and min(sizes) > 0.5 * n / 8 and max(sizes) < 2.0 * n / 8

    # a different seed is a genuinely different permutation
    c = {r["doc_id"]: (r["shard"], r["pos"])
         for r in shuffle_shards(docs, "doc_id", 8, seed=7).collect()}
    assert sum(by_id[k] != c[k] for k in by_id) > n // 2


def test_kmeans_assign_twolevel_ivf_composition(spark, sf_smoke):
    """The two-level (IVF-style) assignment for very large k: agreement
    with the exact flat scan rises with nprobe, every row is assigned,
    and approximate dist2 is never better than exact (it scans a subset
    of centroids)."""
    from caffeonspark_spark.operators.similarity import kmeans_assign_twolevel

    emb = load_table(spark, sf_smoke, "embeddings")
    cents = emb.where(F.col("vec_id") < 64)
    exact = {
        r["vec_id"]: (r["centroid_id"], r["dist2"])
        for r in kmeans_assign(emb, cents).collect()
    }
    two = {
        r["vec_id"]: (r["centroid_id"], r["dist2"])
        for r in kmeans_assign_twolevel(emb, cents, nprobe=4).collect()
    }
    assert set(two) == set(exact)
    agree = sum(1 for k in exact if two[k][0] == exact[k][0])
    assert agree >= int(0.7 * len(exact)), f"agreement {agree}/{len(exact)}"
    for vid, (_, d2) in two.items():
        assert d2 >= exact[vid][1] - 1e-9


def test_kmeans_assign_twolevel_recall_floor_realistic_k(spark):
    """Recall floor at REALISTIC k (the regime the two-level composition
    exists for, k >> 1024): seeded clustered corpus, k=1500 centroids,
    nprobe=4 — recall vs the exact Arrow-path scan must hold ≥0.9 so the
    IVF composition can't silently degrade (r6 verdict stretch task; the
    docstring's measured 0.78 was the UNstructured worst case at k=64)."""
    import numpy as np

    from caffeonspark_spark.operators.similarity import (
        kmeans_assign,
        kmeans_assign_twolevel,
    )

    rng = np.random.default_rng(42)
    k, n, dim = 1500, 3000, 16
    cents_np = rng.uniform(0.0, 1.0, (k, dim))
    owner = rng.integers(0, k, n)
    # sigma chosen so routing genuinely errs (seeded recall 0.956, not a
    # trivial 1.0): displacement ~0.4 vs unit-cube centroid spacing
    corpus_np = cents_np[owner] + rng.normal(0.0, 0.1, (n, dim))
    cents = spark.createDataFrame(
        [(i, [float(x) for x in cents_np[i]]) for i in range(k)],
        "vec_id long, embedding array<double>",
    )
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in corpus_np[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).repartition(8)
    exact = {
        r["vec_id"]: r["centroid_id"] for r in kmeans_assign(corpus, cents).collect()
    }
    two = {
        r["vec_id"]: r["centroid_id"]
        for r in kmeans_assign_twolevel(corpus, cents, nprobe=4).collect()
    }
    assert set(two) == set(exact) and len(exact) == n
    recall = sum(1 for i in exact if two[i] == exact[i]) / n
    assert recall >= 0.9, f"two-level recall {recall:.3f} at k={k}, nprobe=4"


def test_leakage_safe_split_groups_near_dups(spark, tmp_path):
    """The leakage property: near-duplicate docs whose RAW doc_id hashes
    land in different splits (doc 1 -> train, doc 23 -> val under the LCG
    arithmetic) must share one split under leakage_safe_split, keyed by
    their cluster representative (min id); unrelated singletons keep
    their own doc_id as group and their plain split_assign verdict."""
    import os

    from caffeonspark_spark.operators.sampling import leakage_safe_split, split_assign

    near = ("the quick brown fox jumps over the lazy dog again and again "
            "every single morning before breakfast is served warm")
    rows = [
        (1, near, "en", "s", 110),
        (23, near + " ok", "en", "s", 113),  # near-dup of doc 1
        (5, "completely unrelated text about databases and join plans", "en", "s", 57),
    ]
    d = tmp_path / "leak"
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    out = {r["doc_id"]: r for r in leakage_safe_split(spark, str(d)).collect()}
    assert set(out) == {1, 5, 23}
    # clustered pair: same group (min id) and therefore same split
    assert out[1]["group_id"] == out[23]["group_id"] == 1
    assert out[1]["split"] == out[23]["split"]
    # raw hash WOULD have separated them — that's the leak being closed
    raw = {r["doc_id"]: r["split"] for r in split_assign(
        spark.createDataFrame([(1,), (23,)], "doc_id long"), "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}
    assert raw[1] != raw[23]
    # singleton: own group, plain verdict
    assert out[5]["group_id"] == 5


def test_fixed_size_partitions_exact_placement(spark):
    """The physical form's contract: each Spark partition holds EXACTLY
    one _part group (identity partitioner) — hash repartition colocated
    colliding groups and left other partitions empty (r7 self-review)."""
    from pyspark.sql import functions as F

    from caffeonspark_spark.operators.partitioning import (
        PART_COL,
        fixed_size_partitions,
    )

    df = spark.range(1000).select(F.col("id").alias("k"))
    out = fixed_size_partitions(df, part_len=10, order_cols=["k"])  # 100 groups
    per_part = (
        out.groupBy(F.spark_partition_id().alias("pid"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(PART_COL).alias("n_groups"),
        )
        .collect()
    )
    assert len(per_part) == 100
    assert all(r["n"] == 10 and r["n_groups"] == 1 for r in per_part), per_part[:5]


class TestKmvOverlap:
    """KMV sketch estimator semantics beyond the oracle hash: exact-regime
    equality, estimator-regime accuracy on planted overlap, symmetry."""

    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string, source string")

    def test_exact_regime_below_k(self, spark):
        """With fewer than k distinct texts per source the sketch IS the
        set: distinct counts, union, Jaccard, and overlap are exact."""
        from caffeonspark_spark.operators.sampling import kmv_overlap_docs

        rows = (
            [(i, f"alpha text number {i}", "a") for i in range(40)]
            + [(100 + i, f"alpha text number {i}", "b") for i in range(10)]  # 10 shared
            + [(200 + i, f"beta text number {i}", "b") for i in range(30)]  # 30 own
        )
        [r] = kmv_overlap_docs(self._docs(spark, rows), k=256).collect()
        assert (r["source_a"], r["source_b"]) == ("a", "b")
        assert r["est_a"] == 40.0 and r["est_b"] == 40.0
        assert r["est_union"] == 70.0
        assert abs(r["jaccard_k"] - 10 / 70) < 1e-12
        assert abs(r["est_overlap"] - 10.0) < 1e-9

    def test_estimator_regime_accuracy(self, spark):
        """Planted 800/800 distinct with 400 shared, k=64 (estimator
        regime): every estimate within 4/sqrt(k) = 50% relative error —
        a deliberately loose envelope (KMV std err ~ 1/sqrt(k) = 12.5%)
        that still catches a broken estimator (off by orders) while never
        flaking on the deterministic hash layout."""
        from caffeonspark_spark.operators.sampling import kmv_overlap_docs

        shared = [f"shared document body {i} padding words" for i in range(400)]
        only_a = [f"alpha only document {i} filler" for i in range(400)]
        only_b = [f"beta only document {i} filler" for i in range(400)]
        rows = (
            [(i, t, "a") for i, t in enumerate(shared + only_a)]
            + [(10_000 + i, t, "b") for i, t in enumerate(shared + only_b)]
        )
        [r] = kmv_overlap_docs(self._docs(spark, rows), k=64).collect()
        for got, true in (
            (r["est_a"], 800),
            (r["est_b"], 800),
            (r["est_union"], 1200),
            (r["est_overlap"], 400),
        ):
            assert abs(got - true) / true < 0.5, (got, true)
        assert abs(r["jaccard_k"] - 400 / 1200) < 0.2

    def test_disjoint_sources_zero_overlap(self, spark):
        """No shared text -> jaccard and overlap are exactly 0 (the
        membership intersection is empty regardless of estimator noise)."""
        from caffeonspark_spark.operators.sampling import kmv_overlap_docs

        rows = [(i, f"left {i}", "a") for i in range(200)] + [
            (1000 + i, f"right {i}", "b") for i in range(200)
        ]
        [r] = kmv_overlap_docs(self._docs(spark, rows), k=32).collect()
        assert r["jaccard_k"] == 0.0 and r["est_overlap"] == 0.0

    def test_pair_order_canonical(self, spark):
        """Pairs appear once, source_a < source_b, for every pair."""
        from caffeonspark_spark.operators.sampling import kmv_overlap_docs

        rows = [
            (i, f"t {i % 7}", src)
            for src in ("s1", "s2", "s3")
            for i in range(20)
        ]
        out = kmv_overlap_docs(self._docs(spark, rows), k=16).collect()
        pairs = {(r["source_a"], r["source_b"]) for r in out}
        assert pairs == {("s1", "s2"), ("s1", "s3"), ("s2", "s3")}
        assert all(a < b for a, b in pairs)

    def test_kmv_single_task_matches_join_pipeline(self, spark):
        """r16 pin: the one-task pairwise merge (``_kmv_pairs_single_task``)
        is BIT-identical — every double compared with == — to the
        distributed join pipeline it short-circuits, across exact and
        estimator regimes, multi-source pair sets, and disjoint sources."""
        import caffeonspark_spark.operators.sampling as SA

        shared = [f"shared document body {i} padding" for i in range(300)]
        rows = (
            [(i, t, "a") for i, t in enumerate(shared)]
            + [(10_000 + i, f"alpha {i} filler", "a") for i in range(200)]
            + [(20_000 + i, t, "b") for i, t in enumerate(shared[:100])]
            + [(30_000 + i, f"beta {i} filler", "b") for i in range(400)]
            + [(40_000 + i, f"gamma {i} body", "c") for i in range(50)]
        )
        docs = self._docs(spark, rows)
        fast = sorted(
            SA.kmv_overlap_docs(docs, k=64).collect(),
            key=lambda r: (r["source_a"], r["source_b"]),
        )
        old = SA._KMV_ONE_TASK_SOURCES
        try:
            SA._KMV_ONE_TASK_SOURCES = 0  # force the join pipeline
            slow = sorted(
                SA.kmv_overlap_docs(docs, k=64).collect(),
                key=lambda r: (r["source_a"], r["source_b"]),
            )
        finally:
            SA._KMV_ONE_TASK_SOURCES = old
        assert len(fast) == len(slow) == 3
        for f_, s_ in zip(fast, slow):
            assert f_.asDict() == s_.asDict(), (f_, s_)

    def test_native_estimator_accuracy_and_consistency(self, spark):
        """The xxhash64 production sketch estimates the same planted truth
        within the same envelope as the portable one, and the two agree
        within the consistency twin's tolerance."""
        from caffeonspark_spark.operators.sampling import (
            kmv_overlap_docs,
            kmv_overlap_native_docs,
        )

        shared = [f"shared document body {i} padding words" for i in range(400)]
        only_a = [f"alpha only document {i} filler" for i in range(400)]
        only_b = [f"beta only document {i} filler" for i in range(400)]
        rows = (
            [(i, t, "a") for i, t in enumerate(shared + only_a)]
            + [(10_000 + i, t, "b") for i, t in enumerate(shared + only_b)]
        )
        docs = self._docs(spark, rows)
        [n] = kmv_overlap_native_docs(docs, k=64).collect()
        for got, true in (
            (n["est_a"], 800),
            (n["est_b"], 800),
            (n["est_union"], 1200),
            (n["est_overlap"], 400),
        ):
            assert abs(got - true) / true < 0.5, (got, true)
        [p] = kmv_overlap_docs(docs, k=64).collect()
        assert abs(n["est_union"] - p["est_union"]) <= 0.35 * p["est_union"]
        assert abs(n["est_overlap"] - p["est_overlap"]) <= 0.35 * p["est_union"]


def test_semantic_dedup_against_corpus_cross_side_and_oracle(spark):
    """r14 bipartite SemDeDup: every emitted pair is strictly cross-side
    (odd-label new x even-label corpus), and the query hash-matches its
    DuckDB twin."""
    from caffeonspark_spark.catalog import load_table
    from caffeonspark_spark.operators.similarity import (
        ORACLE_SEMANTIC_DEDUP_CORPUS,
        semantic_dedup_against_corpus_query,
    )
    from tests.oracle_check import compare

    sf = "/root/testdata/sf0.001"
    got = semantic_dedup_against_corpus_query(spark, sf).collect()
    assert len(got) == 50
    labels = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, sf, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    for r in got:
        assert labels[r["new_id"]] % 2 == 1, r  # new side: odd labels
        assert labels[r["ref_id"]] % 2 == 0, r  # corpus side: even labels
    ok, msg = compare(
        semantic_dedup_against_corpus_query(spark, sf),
        ORACLE_SEMANTIC_DEDUP_CORPUS,
        sf,
    )
    assert ok, msg


def test_semantic_oracle_k_guard():
    """r14 review: the semantic-dedup oracles hardcode k=8 while the
    queries scale k — the guard must warn with the right diagnosis past
    the divergence point and stay quiet at the gated scales."""
    import warnings

    from caffeonspark_spark.operators.similarity import (
        _warn_semantic_oracle_k,
        semantic_dedup_k,
    )

    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        _warn_semantic_oracle_k(semantic_dedup_k(2000), "q")  # gated scale
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        _warn_semantic_oracle_k(semantic_dedup_k(5000), "sem_q")
    assert any(
        issubclass(w.category, RuntimeWarning) and "sem_q" in str(w.message)
        for w in caught
    )
