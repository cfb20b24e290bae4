"""Dedup semantics tests with PLANTED duplicates — pins the behavior of the
hash-family paths (fingerprint / MinHash / SimHash) that the oracle can't
check, per the reference's threshold-test style."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from caffeonspark_spark.functions.text import doc_fingerprint
from caffeonspark_spark.operators.dedup import (
    MINHASH_PERMS,
    dedup_exact,
    minhash_signatures,
    simhash,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches the "
    "bird fly over the green field near the old barn door"
)
NEAR = BASE.replace("green field", "blue field")  # one token differs
FAR = (
    "completely different content about spark queries and parquet scans "
    "with shuffles joins aggregations and window functions at scale"
)


@pytest.fixture(scope="module")
def planted(spark):
    rows = [
        (0, BASE),
        (1, BASE),                      # exact dup of 0
        (2, "  ".join(BASE.split())),   # whitespace-reformatted dup of 0
        (3, NEAR),                      # near dup of 0
        (4, FAR),
        (5, "short text here"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(spark, planted):
    out = {r["keep_id"]: r["n_copies"] for r in dedup_exact(planted, "text", "doc_id").collect()}
    assert out[0] == 2  # docs 0 and 1 identical
    assert sum(out.values()) == 6


def test_fingerprint_catches_whitespace_dup(spark, planted):
    fp = planted.select("doc_id", doc_fingerprint(F.col("text")).alias("fp")).collect()
    by_id = {r["doc_id"]: r["fp"] for r in fp}
    assert by_id[0] == by_id[1] == by_id[2]  # whitespace-normalized equal
    assert by_id[0] != by_id[3] != by_id[4]


def test_minhash_similarity_estimates(spark, planted):
    sigs = {r["doc_id"]: r["sig"] for r in minhash_signatures(planted).collect()}
    assert len(sigs[0]) == MINHASH_PERMS

    def est(a, b):
        return sum(x == y for x, y in zip(sigs[a], sigs[b])) / MINHASH_PERMS

    assert est(0, 1) == 1.0            # identical docs -> identical signatures
    assert est(0, 2) == 1.0            # whitespace dup -> identical shingles
    assert est(0, 3) > 0.5             # near dup: one token of ~24 changed
    assert est(0, 4) < 0.2             # unrelated


def test_simhash_hamming(spark, planted):
    hashes = {r["doc_id"]: r["simhash"] for r in simhash(planted).collect()}

    def hamming(a, b):
        return bin(hashes[a] ^ hashes[b]).count("1")

    assert hamming(0, 1) == 0
    assert hamming(0, 3) <= 6          # near dup: few bits flip
    assert hamming(0, 4) >= 8          # unrelated: many bits differ


def test_ann_recall_vs_bruteforce(spark, sf_oracle):
    """LSH ANN must find mostly the same neighbours as brute force within
    its bucket — recall pinned loosely (approximation is the point)."""
    from caffeonspark_spark.catalog import load_table
    from caffeonspark_spark.operators.similarity import ann_lsh_topk, cosine_topk

    emb = load_table(spark, sf_oracle, "embeddings")
    q = emb.where(F.col("vec_id") == 0)
    exact = [r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in ann_lsh_topk(emb, q, dim=64, k=10).collect()]
    assert len(approx) > 0
    # multi-table OR-amplification: expect solid recall of the exact top-10
    recall = len(set(approx) & set(exact)) / 10
    # measured 0.7 on this seed; random top-10 overlap at N=500 is ~0.2,
    # so the old 0.3 floor let near-random results pass
    assert recall >= 0.5


def test_ivf_recall_vs_bruteforce(spark, sf_oracle):
    """IVF ANN with nprobe=4 of 16 cells must recover a solid share of the
    exact top-10 (and perfect recall when probing every cell)."""
    from caffeonspark_spark.catalog import load_table
    from caffeonspark_spark.operators.similarity import ann_ivf_topk, cosine_topk

    emb = load_table(spark, sf_oracle, "embeddings")
    q = emb.where(F.col("vec_id") == 0)
    exact = [r["vec_id"] for r in cosine_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"] for r in ann_ivf_topk(emb, q, n_cells=16, nprobe=4, k=10).collect()]
    assert len(approx) > 0
    recall = len(set(approx) & set(exact)) / 10
    assert recall >= 0.5  # above the ~0.2 random-overlap baseline
    # probing all cells degenerates to exact search
    full = [r["vec_id"] for r in ann_ivf_topk(emb, q, n_cells=16, nprobe=16, k=10).collect()]
    assert full == exact


def test_approx_distinct_envelope(spark, sf_oracle):
    """HLL(rsd=0.02) must land within 5% of the exact distinct counts."""
    from caffeonspark_spark.catalog import load_table
    from caffeonspark_spark.operators.relational import approx_distinct

    li = load_table(spark, sf_oracle, "lineitem")
    exact = {
        r["l_returnflag"]: (r["eo"], r["ep"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("eo"),
            F.countDistinct("l_partkey").alias("ep"),
        )
        .collect()
    }
    approx_rows = approx_distinct(spark, sf_oracle).collect()
    # group coverage first: an empty/partial result made the loop vacuous
    assert {r["l_returnflag"] for r in approx_rows} == set(exact)
    for r in approx_rows:
        eo, ep = exact[r["l_returnflag"]]
        assert abs(r["approx_orders"] - eo) / eo < 0.05
        assert abs(r["approx_parts"] - ep) / ep < 0.05


def test_clean_corpus_pipeline(spark, sf_oracle):
    """End-to-end cleaning: output is a subset of the quality-gated corpus,
    free of exact duplicates, deterministic across runs."""
    from caffeonspark_spark.operators.dedup import clean_corpus
    from caffeonspark_spark.operators.textops import quality_filter

    out = clean_corpus(spark, sf_oracle)
    ids = [r["doc_id"] for r in out.collect()]
    assert len(ids) == len(set(ids))
    quality_ids = {r["doc_id"] for r in quality_filter(spark, sf_oracle).collect()}
    assert set(ids) <= quality_ids
    assert 0 < len(ids) <= len(quality_ids)
    # no two surviving docs share identical text
    from caffeonspark_spark.catalog import load_table

    docs = load_table(spark, sf_oracle, "documents")
    surv = docs.join(out.select("doc_id"), "doc_id")
    n_text = surv.select("text").distinct().count()
    assert n_text == len(ids)
    ids2 = [r["doc_id"] for r in clean_corpus(spark, sf_oracle).collect()]
    assert ids == ids2


def test_clean_corpus_neardup_over_survivors(spark, tmp_path):
    """Near-dedup must run over the SURVIVORS of the quality/exact stages:
    if doc A (near-dup of B) was already removed by the quality gate, B must
    survive — otherwise no copy of that content remains. A genuine survivor
    near-dup pair still drops its higher id."""
    import os
    from caffeonspark_spark.operators.dedup import clean_corpus

    def txt(n_tokens, tag, every10="the"):
        # unique tokens with a stopword every 10th position so sw_ratio=0.1
        return " ".join(
            every10 if i % 10 == 9 else f"{tag}tok{i}" for i in range(n_tokens)
        )

    base = txt(5200, "x")  # doc 1: 5200 tokens -> FAILS n_tokens <= 5000
    trimmed = " ".join(base.split(" ")[:4000])  # doc 2: near-dup of 1, passes
    keep = txt(500, "k")  # doc 4: passes
    keep_dup = txt(520, "k")  # doc 5: near-dup of 4 (same first 500), passes
    other = txt(300, "z")  # doc 3: unrelated, passes
    rows = [
        (1, base, "en", "s", len(base)),
        (2, trimmed, "en", "s", len(trimmed)),
        (3, other, "en", "s", len(other)),
        (4, keep, "en", "s", len(keep)),
        (5, keep_dup, "en", "s", len(keep_dup)),
    ]
    d = tmp_path / "survivors"
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    ids = {r["doc_id"] for r in clean_corpus(spark, str(d), neardup_threshold=0.6).collect()}
    assert 2 in ids, "survivor near-dup of a quality-rejected doc must be kept"
    assert ids == {2, 3, 4}, ids  # 5 dropped as near-dup of surviving 4


def test_minhash_lsh_pairs_portable_planted(spark, planted):
    """Portable (char-fold + slice-equality banding) LSH pairs find the
    planted dups with the right estimates: exact/whitespace dups at 1.0,
    the one-token near-dup above 0.5, nothing pairing the unrelated docs."""
    from caffeonspark_spark.operators.dedup import minhash_lsh_pairs_portable_df

    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_lsh_pairs_portable_df(planted, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert pairs[(0, 2)] == 1.0
    assert pairs[(1, 2)] == 1.0
    assert pairs[(0, 3)] > 0.5
    assert not any(4 in p or 5 in p for p in pairs)


def test_clean_corpus_portable_survivor_semantics(spark, tmp_path):
    """The oracle-checkable twin keeps clean_corpus's composition semantics:
    near-dedup over survivors only, greedy drop-higher-id."""
    import os
    from caffeonspark_spark.operators.dedup import clean_corpus_portable

    def txt(n_tokens, tag, every10="the"):
        return " ".join(
            every10 if i % 10 == 9 else f"{tag}tok{i}" for i in range(n_tokens)
        )

    base = txt(5200, "x")
    trimmed = " ".join(base.split(" ")[:4000])
    keep = txt(500, "k")
    keep_dup = txt(520, "k")
    other = txt(300, "z")
    rows = [
        (1, base, "en", "s", len(base)),
        (2, trimmed, "en", "s", len(trimmed)),
        (3, other, "en", "s", len(other)),
        (4, keep, "en", "s", len(keep)),
        (5, keep_dup, "en", "s", len(keep_dup)),
    ]
    d = tmp_path / "portable_surv"
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    ids = {r["doc_id"] for r in clean_corpus_portable(spark, str(d), neardup_threshold=0.6).collect()}
    assert ids == {2, 3, 4}, ids


def test_connected_components_chains(spark):
    """Planted topology: chain 1-2-3-4, pair 10-11, triangle 20-21-22 +
    isolated edge endpoints resolve to min-id components."""
    from caffeonspark_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    comp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_neardup_clusters_runs(spark, sf_oracle):
    from caffeonspark_spark.operators.dedup import neardup_clusters

    out = neardup_clusters(spark, sf_oracle)
    rows = out.collect()
    assert len(rows) > 0
    # every component representative is a member of its own cluster
    comp = {r["node"]: r["component"] for r in rows}
    for node, c in comp.items():
        # the representative must ITSELF appear with itself as component —
        # comp.get(c, c) passed by default when the rep's row was missing
        assert c in comp and comp[c] == c
        assert c <= node


def test_prune_stop_shingles(spark):
    from caffeonspark_spark.operators.dedup import prune_stop_shingles

    sh = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "a b c"), (1, "x y z"), (2, "p q r")],
        "doc_id long, shingle string",
    )
    kept = prune_stop_shingles(sh, max_df=2).collect()
    shingles = {r["shingle"] for r in kept}
    assert shingles == {"x y z", "p q r"}  # "a b c" (df=3) pruned
    assert set(kept[0].asDict().keys()) == {"doc_id", "shingle"}


def test_pq_recall_vs_exact_l2(spark, sf_oracle):
    """PQ ADC top-10 must recover a solid share of the exact L2 top-10 and
    its distances must approximate the true distances."""
    import pyspark.sql.functions as F2

    from caffeonspark_spark.catalog import load_table
    from caffeonspark_spark.operators.similarity import pq_topk, train_pq_codebook

    emb = load_table(spark, sf_oracle, "embeddings")
    q = emb.where(F2.col("vec_id") == 0)
    qv = q.select("embedding").collect()[0][0]
    exact = [
        r["vec_id"]
        for r in emb.where(F2.col("vec_id") != 0)
        .select(
            "vec_id",
            F2.aggregate(
                F2.zip_with(
                    "embedding",
                    F2.array(*[F2.lit(float(v)) for v in qv]),
                    lambda x, y: (x - y) * (x - y),
                ),
                F2.lit(0.0),
                lambda a, x: a + x,
            ).alias("d2"),
        )
        .orderBy(F2.asc("d2"), F2.asc("vec_id"))
        .limit(10)
        .collect()
    ]
    book = train_pq_codebook(emb)
    approx = [r["vec_id"] for r in pq_topk(emb, q, book, k=10).collect()]
    recall = len(set(approx) & set(exact)) / 10
    assert recall >= 0.5, (recall, approx, exact)


def test_decontaminate_planted(spark, tmp_path):
    """A corpus doc that quotes a benchmark 5-gram is flagged with the
    right shingle counts; an unrelated doc is not flagged."""
    import os
    from caffeonspark_spark.operators.dedup import decontaminate

    bench_text = "alpha beta gamma delta epsilon zeta eta"
    quoting = "intro words then alpha beta gamma delta epsilon closing"
    clean = "completely different tokens nothing shared at all here"
    rows = [
        (1, bench_text, "en", "src0", len(bench_text)),
        (2, quoting, "en", "srcX", len(quoting)),
        (3, clean, "en", "srcX", len(clean)),
    ]
    d = tmp_path / "decon"
    os.makedirs(d / "sub", exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    out = {r["doc_id"]: r for r in decontaminate(spark, str(d)).collect()}
    assert set(out) == {2}
    # "alpha beta gamma delta epsilon" is the single shared 5-gram;
    # the quoting doc has 9 tokens -> 5 distinct shingles
    assert out[2]["n_contaminated"] == 1
    assert out[2]["n_shingles"] == 5
    assert abs(out[2]["contamination"] - 0.2) < 1e-12


def test_dedup_against_corpus_bipartite(spark, planted):
    """Cross-corpus dedup: new batch {0,1,3} vs reference {2,4,5}. Must
    flag the whitespace dup (1↔2 via 0's text) and NOT emit any
    within-side pair; unrelated cross pairs stay below threshold."""
    from caffeonspark_spark.operators.dedup import dedup_against_corpus_df

    new_docs = planted.where(F.col("doc_id").isin(0, 1, 3))
    ref_docs = planted.where(F.col("doc_id").isin(2, 4, 5))
    pairs = dedup_against_corpus_df(new_docs, ref_docs, threshold=0.5).collect()
    got = {(r["new_id"], r["ref_id"]) for r in pairs}
    # docs 0 and 1 are (whitespace-)identical to reference doc 2
    assert (0, 2) in got and (1, 2) in got
    # near-dup doc 3 vs doc 2: est jaccard is high but direction must be new->ref
    assert all(n in (0, 1, 3) and r in (2, 4, 5) for n, r in got)
    # unrelated reference docs never matched
    assert not any(r in (4, 5) for _, r in got)
    for r in pairs:
        assert r["est_jaccard"] >= 0.5


def test_keep_best_duplicate_prefers_longest(spark, tmp_path):
    """Within a fingerprint group (whitespace-normalized duplicates) the
    richest copy (max n_chars, then min doc_id) survives, not the min-id."""
    import os
    from caffeonspark_spark.operators.dedup import keep_best_duplicate

    base = "alpha beta gamma delta"
    rows = [
        (1, base, "en", "src0", 10),            # same fp, shortest n_chars
        (2, "  alpha  beta gamma   delta ", "en", "src0", 30),  # same fp, longest
        (3, "alpha beta gamma delta", "en", "src0", 30),  # same fp, ties #2 -> min id wins? no: id 2 < 3
        (4, "unrelated tokens entirely", "en", "src1", 25),
    ]
    d = tmp_path / "keepbest"
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    out = {r["keep_id"]: r for r in keep_best_duplicate(spark, str(d)).collect()}
    assert set(out) == {2, 4}
    assert out[2]["n_copies"] == 3
    assert out[2]["n_chars"] == 30
    assert out[4]["n_copies"] == 1


def test_remove_dup_passages_planted(spark, tmp_path):
    """A 5-gram shared by two docs is stripped from both (all 5 covered
    positions, union over overlapping occurrences); unique text survives
    with order preserved; a fully-boilerplate doc stays with empty text."""
    import os
    from caffeonspark_spark.operators.dedup import remove_dup_passages_docs

    shared = "alpha beta gamma delta epsilon"
    rows = [
        (1, f"intro one two {shared} outro", "en", "s", 40),
        (2, f"{shared} completely fresh tail here", "en", "s", 40),
        (3, shared, "en", "s", 30),  # wait: appears in 3 docs, fully covered
        (4, "nothing shared in this document at all", "en", "s", 38),
    ]
    d = tmp_path / "rmdup"
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    out = {r["doc_id"]: r for r in remove_dup_passages_docs(spark, str(d)).collect()}
    assert out[1]["clean_text"] == "intro one two outro"
    assert (out[1]["n_kept"], out[1]["n_tokens"]) == (4, 9)
    assert out[2]["clean_text"] == "completely fresh tail here"
    assert out[3]["clean_text"] == "" and out[3]["n_kept"] == 0
    assert out[4]["clean_text"] == "nothing shared in this document at all"
    assert out[4]["n_kept"] == out[4]["n_tokens"] == 7


def test_winnow_fingerprints_guarantee_planted(spark, tmp_path):
    """The winnowing guarantee (Schleimer et al. §2): two documents
    sharing a token run of length >= w+k-1 (= 6 at k=3, w=4) share at
    least one fingerprint; disjoint-vocabulary docs share none; a short
    doc with >= 1 but < w k-grams still emits exactly one fingerprint
    (its global min); an empty-ish doc below k tokens emits none."""
    import os

    from caffeonspark_spark.operators.dedup import winnow_fingerprints_docs

    shared = "zeta eta theta iota kappa lambda"  # 6 tokens = w+k-1
    rows = [
        (1, f"one two three four five six seven {shared}", "en", "s", 60),
        (2, f"{shared} aaa bbb ccc ddd eee fff ggg", "en", "s", 60),
        (3, "totally different vocabulary everywhere here now", "en", "s", 48),
        (4, "tiny doc here", "en", "s", 13),  # 3 tokens -> 1 gram < w
        (5, "xy", "en", "s", 2),  # below k tokens -> no grams
    ]
    d = tmp_path / "winnow"
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    fps = {}
    for r in winnow_fingerprints_docs(spark, str(d)).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[1] & fps[2], "shared 6-token run must yield a shared fingerprint"
    assert not (fps[3] & (fps[1] | fps[2]))
    assert len(fps[4]) == 1
    assert 5 not in fps


def test_winnow_overlap_pairs_planted(spark, tmp_path):
    """Overlap candidates: two docs sharing a long run emit a pair with
    n_shared >= min_shared; a boilerplate fingerprint present in EVERY doc
    is df-pruned and creates no pairs among otherwise-disjoint docs."""
    import os

    from caffeonspark_spark.operators.dedup import winnow_overlap_pairs

    run = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    boiler = "standard footer text all rights reserved forever and ever amen"
    rows = [(1, f"intro {run} outro one", "en", "s", 80),
            (2, f"{run} closing words here", "en", "s", 80)]
    # 12 more docs sharing ONLY the boilerplate run -> its fingerprints
    # exceed max_df=10 and must be pruned
    rows += [(10 + i, f"unique{i} words{i} body{i} {boiler}", "en", "s", 70)
             for i in range(12)]
    d = tmp_path / "wpairs"
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    pairs = {(r["doc_a"], r["doc_b"]): r["n_shared"]
             for r in winnow_overlap_pairs(spark, str(d)).collect()}
    assert pairs.get((1, 2), 0) >= 2, pairs
    assert all({a, b} == {1, 2} for a, b in pairs), pairs


def test_fingerprint_oracle_parity_on_hostile_whitespace(spark, tmp_path):
    """The portable fingerprint tokenizes single-space like its oracle:
    tab/newline/double-space text must still hash-match (the old \\s+
    tokenize diverged from string_split — r7 self-review finding), and
    whitespace variants that single-space semantics distinguish stay
    distinguished on BOTH engines."""
    import os

    import duckdb

    from caffeonspark_spark.operators.dedup import (
        ORACLE_DEDUP_FINGERPRINT,
        dedup_fingerprint_docs,
    )

    rows = [
        (1, "alpha\tbeta gamma", "en", "s", 16),
        (2, "alpha  beta gamma", "en", "s", 17),  # double space == single
        (3, "alpha beta gamma", "en", "s", 16),
        (4, "line one\nline two", "en", "s", 17),
    ]
    d = tmp_path / "fpws"
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    got = sorted(map(tuple, dedup_fingerprint_docs(spark, str(d)).collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    want = sorted(map(tuple, con.execute(ORACLE_DEDUP_FINGERPRINT).fetchall()))
    con.close()
    assert got == want, (got, want)


def test_connected_components_nonconvergence_raises(spark, monkeypatch):
    """A chain longer than max_iter hops must raise, not silently return
    split components (r7 self-review finding); with enough iterations the
    same chain converges to one component. The edge threshold is pinned
    to 1 so the ITERATIVE path runs (the r16 single-task union-find fast
    path would otherwise absorb this tiny graph and never iterate)."""
    from caffeonspark_spark.operators import dedup
    from caffeonspark_spark.operators.dedup import connected_components

    monkeypatch.setattr(dedup, "_EDGES_PER_PARTITION", 1)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "id_a long, id_b long"
    )  # chain 0-1-2-...-6, diameter 6
    with pytest.raises(ValueError, match="did not converge"):
        connected_components(edges, max_iter=2).collect()
    out = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert set(out.values()) == {0} and len(out) == 7


def test_edit_distance_pairs_catch_char_typos(spark):
    """A one-char typo inside a word breaks token identity (Jaccard on
    word shingles scores it low) but is edit distance 1 — the pair MUST
    surface; an unrelated doc must not. Edits at the START of the prefix
    are caught via the tail block (two-pass blocking)."""
    from caffeonspark_spark.operators.dedup import edit_distance_dup_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brawn fox jumps over the lazy dog again and again"),
        (3, "Xhe quick brown fox jumps over the lazy dog again and again"),
        (4, "completely different content with nothing shared at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["edit_dist"]
        for r in edit_distance_dup_pairs(df).collect()
    }
    assert got[(1, 2)] == 1      # interior typo
    assert got[(1, 3)] == 1      # head-edit pair found via tail block
    assert got[(2, 3)] == 2
    assert not any(4 in pair for pair in got)


def test_edit_distance_hot_block_cap(spark):
    """Blocks above max_block are dropped whole — a boilerplate prefix
    must not generate quadratic candidates."""
    from caffeonspark_spark.operators.dedup import edit_distance_dup_pairs

    rows = [(i, f"same boilerplate prefix here unique tail {i:06d}") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # every doc shares both blocks; cap below group size -> no pairs at all
    assert edit_distance_dup_pairs(df, max_block=10).count() == 0
    # without the cap the near-identical prefixes pair up
    assert edit_distance_dup_pairs(df, max_block=100).count() > 0


def test_connected_components_long_chain_within_default_iters(spark, monkeypatch):
    """r12 pointer-jumping guard: a 40-node chain (diameter 39) converges
    well inside the default max_iter=20 — the plain one-hop min-label
    form needed one round PER HOP and the real sf0.1 image pair graph
    (a ~20-hop shared-prefix chain) sat one round from the
    non-convergence raise; path halving closes diameter d in O(log d).
    Iterative path forced (threshold pinned to 1) — the r16 union-find
    fast path would otherwise absorb this graph without iterating."""
    from caffeonspark_spark.operators import dedup
    from caffeonspark_spark.operators.dedup import connected_components

    monkeypatch.setattr(dedup, "_EDGES_PER_PARTITION", 1)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "id_a long, id_b long"
    )
    out = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert set(out.values()) == {0} and len(out) == 40


def test_single_task_union_find_matches_iterative(spark, monkeypatch):
    """r16: the parts==1 single-task union-find fast path must return
    exactly what the iterative min-label path returns — same nodes, same
    min-id components — on a graph mixing chains, a cycle, a star,
    singleton-free isolated pairs and non-contiguous ids."""
    from caffeonspark_spark.operators import dedup
    from caffeonspark_spark.operators.dedup import connected_components

    rows = (
        [(i, i + 1) for i in range(10, 30)]          # 21-node chain
        + [(100, 101), (101, 102), (102, 100)]       # cycle
        + [(7, 200), (7, 201), (7, 202), (7, 203)]   # star centered off-min
        + [(5000, 4000)]                             # reversed isolated pair
    )
    edges = spark.createDataFrame(rows, "id_a long, id_b long")
    fast = {
        r["node"]: r["component"] for r in connected_components(edges).collect()
    }
    monkeypatch.setattr(dedup, "_EDGES_PER_PARTITION", 1)
    slow = {
        r["node"]: r["component"] for r in connected_components(edges).collect()
    }
    assert fast == slow
    assert fast[4000] == 4000 and fast[5000] == 4000
    assert fast[203] == 7 and fast[29] == 10


def test_connected_components_durable_checkpoint(spark, tmp_path, monkeypatch):
    """r13: `checkpoint_dir=` switches the per-round lineage pin from
    localCheckpoint (executor-local blocks — lost non-recoverably with an
    executor on a real cluster) to reliable checkpoint() into shared
    storage. Same planted topology as the localCheckpoint test must
    resolve identically, and checkpoint RDD data must actually land in
    the directory (proving the durable path engaged, not the default).
    Iterative path forced — the per-ROUND durable pin is what this test
    guards; the r16 fast path only durably pins the edge list."""
    import os

    from caffeonspark_spark.operators import dedup
    from caffeonspark_spark.operators.dedup import connected_components

    monkeypatch.setattr(dedup, "_EDGES_PER_PARTITION", 1)

    ckpt = str(tmp_path / "cc_ckpt")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    comp = {
        r["node"]: r["component"]
        for r in connected_components(edges, checkpoint_dir=ckpt).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    written = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(ckpt)
        for f in fs
        if not f.startswith(".")
    ]
    assert written, "no checkpoint files written — durable path did not engage"


def test_video_dedup_map_durable_checkpoint(spark):
    """The checkpoint_dir parameter threads through the composed
    modality dedup maps down to connected_components (spot-checked on the
    video map; image_dedup/cluster queries share the same pass-through)."""
    import tempfile

    from caffeonspark_spark.multimodal.av import video_dedup_map

    rows = [
        (1, 0, 10, 10, 10, 10), (1, 1, 11, 11, 11, 11), (1, 2, 12, 12, 12, 12),
        (2, 0, 10, 10, 10, 10), (2, 1, 11, 11, 11, 11), (2, 2, 12, 12, 12, 12),
        (3, 0, 90, 90, 90, 90), (3, 1, 91, 91, 91, 91), (3, 2, 92, 92, 92, 92),
    ]
    df = spark.createDataFrame(
        rows, "id long, frame_idx int, b0 long, b1 long, b2 long, b3 long"
    )
    with tempfile.TemporaryDirectory() as ckpt:
        got = {
            r["id"]: r["keep_id"]
            for r in video_dedup_map(df, checkpoint_dir=ckpt).collect()
        }
    assert got == {1: 1, 2: 1, 3: 3}


def test_minhash_planted_family_invariance_properties(spark):
    """The planted-family construction's two load-bearing properties,
    checked directly (not through the pair pipeline): within a family the
    member TEXTS are pairwise distinct (the invariance is shingle-SET
    level, not trivial string equality) while the distinct-3-gram sets
    are EXACTLY equal; across families the shingle universes are
    disjoint."""
    from caffeonspark_spark.operators.dedup import (
        _planted_minhash_docs,
        shingle_sets,
    )

    docs = _planted_minhash_docs(spark, "/root/testdata/sf0.001").where(
        "doc_id < 8"
    )
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert len(set(texts.values())) == 8  # all eight texts distinct
    sets = {
        did: frozenset(
            r["shingle"]
            for r in shingle_sets(docs.where(f"doc_id = {did}")).collect()
        )
        for did in range(8)
    }
    assert sets[0] == sets[1] == sets[2] == sets[3]
    assert sets[4] == sets[5] == sets[6] == sets[7]
    assert not (sets[0] & sets[4])  # disjoint across families
    # the cyclic set: 12 base tokens -> exactly 12 cyclic 3-grams
    assert len(sets[0]) == 12


def test_minhash_planted_pairs_match_family_combinatorics(spark):
    """Recall AND precision through the production xxhash64 path: the
    emitted pair set equals the family combinatorics at est exactly 1.0."""
    from itertools import combinations

    from caffeonspark_spark.operators.dedup import minhash_lsh_pairs_planted

    got = minhash_lsh_pairs_planted(spark, "/root/testdata/sf0.001").collect()
    want = {
        (a, b)
        for f in range(0, 500, 4)
        for a, b in combinations(range(f, min(f + 4, 500)), 2)
    }
    assert {(r["id_a"], r["id_b"]) for r in got} == want
    assert all(r["est_jaccard"] == 1.0 for r in got)


def test_minhash_planted_query_matches_oracle(spark):
    from caffeonspark_spark.operators.dedup import (
        ORACLE_MINHASH_LSH_NATIVE,
        minhash_lsh_pairs_planted,
    )
    from tests.oracle_check import compare

    ok, msg = compare(
        minhash_lsh_pairs_planted(spark, "/root/testdata/sf0.001"),
        ORACLE_MINHASH_LSH_NATIVE,
        "/root/testdata/sf0.001",
    )
    assert ok, msg


def test_connected_components_warns_on_checkpoint_dir_repoint(spark):
    """The global setCheckpointDir mutation must not be silent: a call
    whose checkpoint_dir differs from the session's current one warns
    (concurrent mixed-dir use is unsupported); the same dir re-passed
    stays quiet."""
    import tempfile
    import warnings

    from caffeonspark_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
        # first call may itself warn (an earlier test on the shared
        # session may have set a different dir) — it only establishes d1
        connected_components(edges, checkpoint_dir=d1).collect()
        with warnings.catch_warnings():
            # same dir re-passed: must stay quiet
            warnings.simplefilter("error", RuntimeWarning)
            connected_components(edges, checkpoint_dir=d1).collect()
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            connected_components(edges, checkpoint_dir=d2).collect()
        assert any(
            issubclass(w.category, RuntimeWarning)
            and "re-pointing" in str(w.message)
            for w in caught
        ), [str(w.message) for w in caught]


def test_char_fold_vec_bit_identical_to_expression(spark):
    """r16 pin: the batch-vectorized char fold (``char_fold_vec``) must be
    bit-identical to the interpreted expression form it replaced on the
    hot paths (minhash portable, simhash portable, image/video/audio
    chunk folds) — including empty strings, nulls, non-ASCII codepoints
    (utf-32 decode must equal Spark's ascii()), embedded NUL chars (the
    left-pad sentinel appearing as REAL data), and strings long enough to
    span the vectorizer's segmenting logic."""
    from caffeonspark_spark.functions.text import (
        char_fold_vec,
        portable_token_hash,
    )

    rows = [
        (0, ""),
        (1, None),
        (2, "a"),
        (3, "the quick brown fox"),
        (4, "café naïve 中文 \U0001f600"),  # non-ASCII + astral
        (5, "\x00embedded\x00nul\x00"),
        (6, "x" * 5000),  # long row: exercises per-segment max-length
        (7, "y"),
        (8, " leading and trailing  "),
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    got = (
        df.select(
            "id",
            portable_token_hash(F.col("s")).alias("expr"),
            char_fold_vec(F.col("s")).alias("vec"),
        )
        .orderBy("id")
        .collect()
    )
    for r in got:
        assert r.expr == r.vec, (r.id, r.expr, r.vec)
    # empty folds to 0, null stays null — both forms
    assert got[0].vec == 0 and got[1].vec is None


def test_doc_fp_vec_bit_identical_to_expression(spark):
    """r16 pin: the batch-vectorized two-level doc fingerprint
    (``doc_fp_vec``) must be bit-identical to the expression form
    (``doc_fingerprint_portable``) it replaced on the kmv/fingerprint
    query paths — including empty strings, nulls, multi-space runs
    (empty tokens dropped by ``space_tokens`` in BOTH forms), non-ASCII,
    tabs/newlines (NOT token separators), and docs long enough to span
    the level-2 segmenting logic."""
    from caffeonspark_spark.functions.text import (
        doc_fingerprint_portable,
        doc_fp_vec,
    )

    rows = [
        (0, ""),
        (1, None),
        (2, "a"),
        (3, "the quick  brown   fox "),
        (4, "café naïve 中文 \U0001f600 mixed"),
        (5, "tab\tand\nnewline are in-token"),
        (6, " ".join(f"tok{i}" for i in range(3000))),  # many tokens
        (7, "x" * 4000),  # one long token
        (8, "   "),
        (9, "UPPER Case MiXeD"),
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    got = (
        df.select(
            "id",
            doc_fingerprint_portable(F.col("s")).alias("expr"),
            doc_fp_vec(F.col("s")).alias("vec"),
        )
        .orderBy("id")
        .collect()
    )
    for r in got:
        assert r.expr == r.vec, (r.id, r.expr, r.vec)
    assert got[0].vec == 0 and got[1].vec is None and got[8].vec == 0


def test_doc_fold_tokens_batch_segments_match_unsegmented():
    """The segment-capped level-2 fold equals a single-segment fold and a
    pure-Python two-level reference, regardless of segment boundaries."""
    import pandas as pd

    import caffeonspark_spark.functions.text as T

    data = pd.Series(
        [
            ["ab", "cd"],
            ["x" * 300],
            [],
            None,
            ["tok"] * 500,
            ["é", "中"],
            ["z"],
        ],
        dtype=object,
    )

    def ref(toks):
        if toks is None:
            return None
        fp = 0
        for t in toks:
            th = 0
            for ch in t:
                th = (th * 31 + ord(ch)) % ((1 << 31) - 1)
            fp = (fp * 1000003 + th) % ((1 << 31) - 1)
        return fp

    expected = [ref(v) for v in data]
    whole = T._doc_fold_tokens_batch(data)
    old_cap = T._FOLD_SEG_CELLS
    try:
        T._FOLD_SEG_CELLS = 256  # force many tiny segments at both levels
        tiny = T._doc_fold_tokens_batch(data)
    finally:
        T._FOLD_SEG_CELLS = old_cap
    for i, e in enumerate(expected):
        for out in (whole, tiny):
            got = out.iloc[i]
            assert (got is pd.NA) if e is None else got == e, (i, e, got)


def test_char_fold_batch_segments_match_unsegmented():
    """The segment-capped NumPy fold equals a single-segment fold (and the
    pure-Python reference) regardless of where segment boundaries land."""
    import pandas as pd

    import caffeonspark_spark.functions.text as T

    data = pd.Series(["ab", "c" * 400, "", "def", None, "gh" * 300, "z"])

    def ref(s):
        if s is None:
            return None
        acc = 0
        for ch in s:
            acc = (acc * 31 + ord(ch)) % ((1 << 31) - 1)
        return acc

    expected = [ref(v) for v in data]
    whole = T._char_fold_batch(data)
    old_cap = T._FOLD_SEG_CELLS
    try:
        T._FOLD_SEG_CELLS = 512  # force many tiny segments
        tiny = T._char_fold_batch(data)
    finally:
        T._FOLD_SEG_CELLS = old_cap
    for i, e in enumerate(expected):
        for out in (whole, tiny):
            got = out.iloc[i]
            assert (got is None or got is pd.NA) if e is None else got == e
