"""Dataset-composition operators for training-data pipelines.

The reference engine stops at per-source scans and interleaved train/test
partitioning (``CaffeOnSpark.scala:427-506`` train/validation interleave);
a 100 TB corpus pipeline additionally needs REPRODUCIBLE dataset surgery:
deterministic splits, per-source quotas, and temperature-based mixture
reweighting (the public LM-pipeline recipe: sample source s with
probability ∝ n_s^(1/T)).

Everything here is a pure function of row keys and source counts — no RNG
state, no engine-specific sampling — so every operator hash-matches its
DuckDB oracle and reruns/retries/other engines agree row-for-row. All
plans are map-only or one tiny broadcast agg; the corpus never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from caffeonspark_spark.catalog import load_table
from caffeonspark_spark.operators.partitioning import (
    _SAMPLE_A,
    _SAMPLE_B,
    _SAMPLE_MOD,
    sample_hash,
)


def split_assign(
    df: DataFrame, key_col: str, fractions: dict[str, float]
) -> DataFrame:
    """Assign every row to a named split (train/val/test...) by hash
    threshold: h(key)/p lands in the cumulative-fraction interval of its
    split. Map-only, deterministic, and STABLE under corpus growth — a row's
    split never changes when other rows are added/removed (the property
    random shuffles lack, and the reason eval contamination audits want
    hash splits). Fraction order follows dict insertion order; fractions
    must cover the whole hash range — a sum below 1 would otherwise
    silently dump the uncovered tail into the last split (train 0.8 /
    val 0.1 would hand val 20%)."""
    if not fractions:
        raise ValueError("fractions must be a non-empty dict")
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(
            f"split fractions must sum to 1 (got {total}); the uncovered "
            "hash tail would silently inflate the last split"
        )
    h = sample_hash(F.col(key_col))
    expr = None
    cum = 0.0
    for name, frac in fractions.items():
        cum += frac
        cond = h < F.lit(cum * _SAMPLE_MOD)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return df.withColumn("split", expr.otherwise(F.lit(list(fractions)[-1])))


def split_assign_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: 80/10/10 train/val/test assignment of documents."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return split_assign(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})


ORACLE_SPLIT_ASSIGN = """
    SELECT doc_id, source,
           CASE WHEN h < 0.8 * 2147483647 THEN 'train'
                WHEN h < 0.9 * 2147483647 THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT doc_id, source,
               ((doc_id % 2147483647) * 1103515245 + 12345) % 2147483647 AS h
        FROM documents
    )
"""


def source_quota_sample(
    df: DataFrame,
    source_col: str,
    key_col: str,
    k: int,
    prefilter_factor: int = 8,
) -> DataFrame:
    """Keep (up to) the ``k`` hash-smallest rows per source — a
    deterministic per-source quota (cap over-represented crawls at k docs).

    Scale shape: ranking k-of-n_s per source is a per-source sort, which a
    single hot source would serialize (the pack_documents lesson). So the
    DEFINED semantics prefilter first: keep rows with
    h < min(1, factor*k/n_s) * p  — a map-only filter using one broadcast
    count per source — then rank only the ~factor*k survivors. The window
    input is O(factor*k) per source regardless of n_s, and the prefilter is
    part of the operator contract (same rows in any engine), not a lossy
    approximation bolted on: with factor 8 the chance a true top-k row is
    filtered is Chernoff-negligible, and BOTH engines apply the identical
    rule, so results still match cell-for-cell."""
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
    h = sample_hash(F.col(key_col))
    frac = F.least(F.lit(1.0), F.lit(float(prefilter_factor * k)) / F.col("_n"))
    pre = (
        df.join(F.broadcast(counts), source_col)
        .withColumn("_h", h)
        .where(F.col("_h") < frac * F.lit(float(_SAMPLE_MOD)))
    )
    w = Window.partitionBy(source_col).orderBy("_h", key_col)
    return (
        pre.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= k)
        .drop("_n", "_h", "_rk")
    )


def source_quota_docs(spark: SparkSession, sf_dir: str, k: int = 25) -> DataFrame:
    """Declared query: at most 25 hash-chosen documents per source."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return source_quota_sample(docs, "source", "doc_id", k)


ORACLE_SOURCE_QUOTA = """
    WITH counts AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    pre AS (
        SELECT doc_id, d.source,
               ((doc_id % 2147483647) * 1103515245 + 12345) % 2147483647 AS h
        FROM documents d JOIN counts c ON d.source = c.source
        WHERE ((doc_id % 2147483647) * 1103515245 + 12345) % 2147483647
              < least(1.0, 200.0 / c.n) * 2147483647.0
    )
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
        FROM pre
    ) WHERE rk <= 25
"""


def temperature_resample_plan(
    df: DataFrame, source_col: str
) -> DataFrame:
    """Per-source mixture reweighting at temperature T=2 (the public
    multilingual/multi-source recipe: w_s ∝ n_s^(1/T), here sqrt — chosen
    because sqrt is IEEE-exact, so the plan is bit-reproducible across
    engines; arbitrary-T pow is libm-dependent). Emits the resampling plan:
    weight, target doc count at constant corpus size, and the integer
    epoch/repeat factor an exploding resampler would apply.

    The cross-source normalizer Σ√n_s is a fold over the SORTED weight list
    (collect_list of one row per source — driver-size metadata), because a
    plain SUM(double) is combine-order-dependent; sorting first makes the
    double fold deterministic at any parallelism."""
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_docs"))
    tot = F.broadcast(
        counts.agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.sqrt(F.col("n_docs")))),
                F.lit(0.0),
                lambda a, x: a + x,
            ).alias("z"),
            F.sum("n_docs").alias("n_total"),
        )
    )
    weight = F.sqrt(F.col("n_docs")) / F.col("z")
    target = F.round(weight * F.col("n_total")).cast("long")
    return (
        counts.crossJoin(tot)
        .select(
            source_col,
            "n_docs",
            weight.alias("weight"),
            target.alias("target_docs"),
            F.ceil(target.cast("double") / F.col("n_docs")).cast("long").alias("repeat_factor"),
        )
    )


def temperature_resample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: T=2 resampling plan over document sources."""
    return temperature_resample_plan(
        load_table(spark, sf_dir, "documents"), "source"
    )


ORACLE_TEMPERATURE_RESAMPLE = """
    WITH counts AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
    tot AS (
        SELECT list_reduce([CAST(0 AS DOUBLE)] || list_sort(list(sqrt(n_docs))),
                           (a, x) -> a + x) AS z,
               SUM(n_docs) AS n_total
        FROM counts
    )
    SELECT source, n_docs,
           sqrt(n_docs) / z AS weight,
           CAST(round(sqrt(n_docs) / z * n_total) AS BIGINT) AS target_docs,
           CAST(ceil(round(sqrt(n_docs) / z * n_total) / n_docs) AS BIGINT)
               AS repeat_factor
    FROM counts, tot
"""


def resample_epochs(df: DataFrame, source_col: str, key_col: str) -> DataFrame:
    """Materialize the T=2 resampling plan: each row repeated
    ``repeat_factor`` times with an ``epoch`` index (then hash-filtered down
    to the exact target in a real pipeline). Explode-of-sequence is a
    codegen generator — the corpus streams through map-side; only the tiny
    per-source plan is broadcast."""
    plan = temperature_resample_plan(df, source_col).select(
        source_col, "repeat_factor"
    )
    return (
        df.join(F.broadcast(plan), source_col)
        .withColumn("epoch", F.explode(F.sequence(F.lit(1), F.col("repeat_factor"))))
        .drop("repeat_factor")
    )


# --- deterministic shuffle-shard export -----------------------------------

def shuffle_shards(
    df: DataFrame, key_col: str, n_shards: int, seed: int = 0
) -> DataFrame:
    """Deterministic global shuffle into training shards: every row gets a
    ``(shard, pos)`` address from a seeded hash scramble of its key — the
    export step that fixes training-data order before an LM run.

    Properties a training pipeline needs and RNG shuffles lack:
    * REPRODUCIBLE — shard/pos are a pure function of (key, seed); reruns,
      retries, and other engines produce the identical layout.
    * RESHUFFLABLE — a new seed is a new permutation; epochs can reshuffle
      without re-reading anything but the key column.
    * SCALE-SAFE — no global sort: the scramble is map-only, the shard
      assignment shuffles once on the shard id, and position is a
      within-shard sort (choose n_shards so one shard fits an executor;
      at 100 TB that is thousands of shards, which also matches the
      shard-per-file export layout downstream loaders want).

    DuckDB twin: ``((key + seed) % p * a + b) % p`` with row_number() over
    (shard, scramble) — fully hash-checkable.
    """
    k = F.pmod(
        F.pmod(F.col(key_col).cast("long") + F.lit(seed), F.lit(_SAMPLE_MOD))
        * F.lit(_SAMPLE_A)
        + F.lit(_SAMPLE_B),
        F.lit(_SAMPLE_MOD),
    )
    out = df.withColumn("_shuffle_key", k).withColumn(
        "shard", F.pmod(F.col("_shuffle_key"), F.lit(n_shards)).cast("int")
    )
    w = Window.partitionBy("shard").orderBy("_shuffle_key", key_col)
    return (
        out.withColumn("pos", F.row_number().over(w).cast("long"))
        .drop("_shuffle_key")
    )


def shuffle_shards_docs(
    spark: SparkSession, sf_dir: str, n_shards: int = 8, seed: int = 42
) -> DataFrame:
    """Declared query: documents shuffled into 8 training shards, seed 42."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return shuffle_shards(docs, "doc_id", n_shards, seed)


ORACLE_SHUFFLE_SHARDS = f"""
    SELECT doc_id, source, CAST(h % 8 AS INT) AS shard,
           CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
                AS BIGINT) AS pos
    FROM (
        SELECT doc_id, source,
               ((doc_id + 42) % {_SAMPLE_MOD} * {_SAMPLE_A} + {_SAMPLE_B})
                 % {_SAMPLE_MOD} AS h
        FROM documents
    )
"""


def leakage_safe_split(
    spark: SparkSession,
    sf_dir: str,
    fractions: dict[str, float] | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """Leakage-safe train/val/test split: near-duplicate documents NEVER
    straddle splits. A hash split on doc_id (``split_assign``) puts ~20%
    of each near-dup cluster's members in val/test while their twins
    train — the classic eval-contamination leak a dedup pipeline exists
    to prevent. Here the split key is the near-dup CLUSTER representative
    (min doc_id of the connected component, from ``neardup_clusters``;
    singleton docs are their own group), so the whole cluster lands in
    one split, and the assignment keeps ``split_assign``'s stability
    property — adding or removing unrelated docs never moves a group.

    Scale shape: the components table is EDGE-SET sized (only clustered
    docs appear), joined back to the corpus by one equi-join on doc_id;
    the split itself stays map-only. Oracle: the recursive-CTE component
    oracle composed with the LCG split arithmetic — both engines compute
    identical group keys and thresholds."""
    from caffeonspark_spark.operators.dedup import neardup_clusters

    if fractions is None:
        fractions = {"train": 0.8, "val": 0.1, "test": 0.1}
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    comp = neardup_clusters(spark, sf_dir, threshold=threshold).select(
        F.col("node"), F.col("component")
    )
    grouped = docs.join(comp, docs.doc_id == comp.node, "left").select(
        "doc_id",
        "source",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("group_id"),
    )
    return (
        split_assign(grouped, "group_id", fractions)
        .select("doc_id", "source", "group_id", "split")
        .orderBy("doc_id")
    )


def _oracle_leakage_safe_split() -> str:
    """Recursive-CTE components + LCG split — composed from the shared
    component oracle so the cluster arithmetic has one source of truth."""
    from caffeonspark_spark.operators.dedup import _oracle_neardup_clusters

    whole = _oracle_neardup_clusters()
    marker = "SELECT node, MIN(lbl)"
    if marker not in whole:  # fail at import, not with invalid spliced SQL
        raise RuntimeError(
            "leakage_safe_split oracle splice marker vanished from "
            "_oracle_neardup_clusters; update the splice together with it"
        )
    base = whole.rsplit(marker, 1)[0]
    return (
        base
        + f""",
    comp AS (
        SELECT node, MIN(lbl) AS component FROM reach GROUP BY node
    ),
    grouped AS (
        SELECT d.doc_id, d.source, COALESCE(c.component, d.doc_id) AS group_id
        FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    )
    SELECT doc_id, source, group_id,
           CASE WHEN h < 0.8 * {_SAMPLE_MOD} THEN 'train'
                WHEN h < 0.9 * {_SAMPLE_MOD} THEN 'val'
                ELSE 'test' END AS split
    FROM (
        SELECT doc_id, source, group_id,
               ((group_id % {_SAMPLE_MOD}) * {_SAMPLE_A} + {_SAMPLE_B})
                 % {_SAMPLE_MOD} AS h
        FROM grouped
    )
    ORDER BY doc_id
"""
    )


ORACLE_LEAKAGE_SAFE_SPLIT = _oracle_leakage_safe_split()


# --- r9: KMV (k-minimum-values) cross-source distinct-overlap estimation ---

_KMV_K = 256


def kmv_source_overlap(
    spark: SparkSession, sf_dir: str, k: int = _KMV_K
) -> DataFrame:
    """Cross-source corpus overlap via KMV (k-minimum-values) sketches —
    the "how much does source A duplicate source B" question a corpus-
    mixing pipeline must answer BEFORE committing to mixture weights, at a
    cost that never materializes the cross product of two 100 TB sources.

    A KMV sketch keeps the k smallest DISTINCT hash values of a set; the
    k-th smallest value estimates the distinct count ((k-1)·M / h_(k)),
    and set operations compose: the k smallest of sketch(A) ∪ sketch(B)
    are exactly the KMV sketch of A ∪ B, and any union-sketch member that
    appears in BOTH per-source sketches is provably in A ∩ B (it is among
    the k smallest of the union, hence among the k smallest of each side
    it belongs to). Jaccard ≈ |union-sketch ∩ A-sketch ∩ B-sketch| / k and
    overlap ≈ Jaccard · |A ∪ B| follow (Beyer et al., "On synopses for
    distinct-value estimation under multiset operations", SIGMOD'07;
    std error ≈ 1/√k ≈ 6% at k=256).

    Unlike HLL-based approx_count_distinct — whose register layout is
    engine-private and can never hash-match an oracle — the hash here is
    the repo's portable polynomial fingerprint (same arithmetic in plain
    DuckDB SQL), and every estimate is deterministic integer/IEEE math, so
    this APPROXIMATE operator is value-checked exactly like an exact one.

    Scale shape: one distinct shuffle over (source, hash) 12-byte keys;
    the per-source k-smallest is a rank-≤-k window — Spark's
    InferWindowGroupLimit turns it into a map-side partial top-k, so the
    source-keyed exchange moves ≤ k rows per source per task, never the
    corpus (plan-pinned). Everything downstream (pairing, union-sketch
    merge, membership joins) runs over sketch-sized data: k × n_sources
    rows. The only non-equi join is sources × sources (n_sources² pairs of
    metadata rows). Output: one row per unordered source pair with
    estimated per-source distinct counts, union size, Jaccard, and
    overlap.

    Reference analogue: none — the reference stops at per-source scans
    (``DataSource.scala`` source selection); overlap estimation is part of
    the mandated LLM-pipeline composition surface, beside
    ``source_quota_sample`` and ``source_kl_divergence``.
    """
    return kmv_overlap_docs(load_table(spark, sf_dir, "documents"), k)


#: modulus of the native hash domain: xxhash64 folded into [0, 2^61-1)
#: (pmod keeps it non-negative; 61 bits keep (k-1)*mod inside double range
#: with relative error < 2^-53, irrelevant at the sketch's 1/sqrt(k) noise)
_KMV_NATIVE_MOD = (1 << 61) - 1


def kmv_overlap_docs(docs: DataFrame, k: int = _KMV_K) -> DataFrame:
    """DataFrame core of :func:`kmv_source_overlap` (see its docstring)."""
    from caffeonspark_spark.functions.text import _FP_MOD, doc_fp_vec

    h = docs.select(
        "source", doc_fp_vec(F.col("text")).alias("hv")
    )
    return _kmv_overlap_from_hashes(h, k, _FP_MOD)


def kmv_overlap_native_docs(docs: DataFrame, k: int = _KMV_K) -> DataFrame:
    """PRODUCTION form of :func:`kmv_overlap_docs`: the per-document hash is
    one ``xxhash64`` call (JVM, O(1) per row) instead of the oracle-portable
    per-character polynomial fold (O(text) lambda work) — the same
    portable/native split as the MinHash family. Hash-native, so no SQL
    oracle by design; verified by ``kmv_native_consistency`` (estimates
    within tolerance of the oracle-checked portable sketch) and the shared
    pipeline code path."""
    h = docs.select(
        "source",
        F.pmod(F.xxhash64(F.col("text")), F.lit(_KMV_NATIVE_MOD)).alias("hv"),
    )
    return _kmv_overlap_from_hashes(h, k, _KMV_NATIVE_MOD)


#: one-task cutover for the KMV pairwise merge: with n ≤ this many sources
#: the whole downstream is ≤ 256·k sketch rows in and n²/2 ≤ 32k pair rows
#: out — metadata-sized; larger source counts keep the distributed join path
_KMV_ONE_TASK_SOURCES = 256


def _kmv_pair_schema() -> str:
    return (
        "source_a string, source_b string, est_a double, est_b double, "
        "est_union double, jaccard_k double, est_overlap double"
    )


def _kmv_pairs_single_task(sk: DataFrame, k: int, scale: float) -> DataFrame:
    """The entire post-sketch KMV downstream (per-source estimates, pairwise
    union-sketch top-k merge, membership intersection, estimate algebra) as
    ONE executor task over the persisted sketch — bit-identical to the join
    pipeline: every arithmetic step is the same single IEEE-double op the
    SQL form performs (CAST/divide/multiply), source pairs order by the same
    byte-wise string comparison Spark's ``<`` uses, and the union top-k is
    the same k-smallest-of-distinct-union. Pinned by
    ``test_sampling.py::test_kmv_single_task_matches_join_pipeline``."""
    import pandas as pd

    schema = _kmv_pair_schema()
    cols = [f.split(" ")[0] for f in schema.split(", ")]

    def empty():
        return pd.DataFrame(
            {
                c: pd.Series(dtype="object" if c.startswith("source") else "float64")
                for c in cols
            }
        )

    def compute(batches):  # pragma: no cover - runs on executors
        import numpy as np

        parts = list(batches)
        if not parts:
            yield empty()
            return
        pdf = pd.concat(parts, ignore_index=True)
        by_src: dict = {}
        for name, g in pdf.groupby("source", sort=False):
            by_src[name] = np.sort(g["hv"].to_numpy(np.int64))
        names = sorted(by_src, key=lambda s: s.encode("utf-8"))
        est = {}
        for s in names:
            arr = by_src[s]
            m = len(arr)
            est[s] = float(m) if m < k else scale / float(arr[-1])
        rows = []
        for i, a in enumerate(names):
            ua = by_src[a]
            for b in names[i + 1:]:
                ub = by_src[b]
                mk = np.union1d(ua, ub)[:k]
                mu = len(mk)
                inter = np.intersect1d(
                    np.intersect1d(mk, ua, assume_unique=True),
                    ub,
                    assume_unique=True,
                )
                est_union = (
                    float(mu) if mu < k else scale / float(int(mk[-1]))
                )
                jac = float(len(inter)) / float(mu)
                rows.append(
                    (a, b, est[a], est[b], est_union, jac, jac * est_union)
                )
        if not rows:
            yield empty()
            return
        yield pd.DataFrame(rows, columns=cols)

    # coalesce(1) reads the ~n·k cached sketch blocks into one task — no
    # shuffle, and the pinned sketch keeps it from collapsing the corpus
    # pass itself to one task
    return sk.coalesce(1).mapInPandas(compute, schema)


def _kmv_overlap_from_hashes(h: DataFrame, k: int, modulus: int) -> DataFrame:
    """Shared KMV pipeline over a (source, hv) hash relation — sketch
    build, per-source estimates, pairwise union-sketch merge, membership
    intersection (one implementation for the portable and native hash
    families)."""
    from caffeonspark_spark.engine import pin

    h = h.distinct()
    w = Window.partitionBy("source").orderBy("hv")
    # the sketch is the ONLY subtree that touches the corpus (hash scan +
    # distinct + per-source top-k); everything downstream is sketch-sized
    # (k rows per source). It feeds SIX plan subtrees (per-source stats,
    # two merge sides, two membership semi-joins, and the pair metadata
    # via est) — without the pin each consumer re-ran the full corpus
    # pass (r16 sweep: 92 Exchanges in one plan, the sketch subtree
    # replicated throughout; 30 after). Cached with ``engine.pin``, the
    # near_dup_band_pairs precedent.
    sk = pin(
        h.select("source", "hv", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= k)
        .select("source", "hv"),
    )
    scale = float((k - 1) * modulus)
    # r16 (guide §1.2 the-distributed-algorithm / §5 driver+GC): the
    # downstream of the sketch is METADATA (≤ k rows per source), but as a
    # join pipeline it planted ~16 InMemoryTableScan branches across ~23
    # AQE stage-jobs and 90+ Exchanges — profiled at sf0.1 as a BIMODAL
    # 0.7–13 s query whose slow mode was a driver-JVM GC storm (47 s of
    # 55 s task time in GC, evlog stage 75). When the source count fits
    # the one-task rule, compute the whole pairwise merge in ONE task over
    # the pinned sketch (union-find-short-circuit precedent); the join
    # pipeline below stays for larger source counts, so the 100 TB
    # posture is unchanged. The count() is a scalar action over the
    # already-persisted sketch (n_edges-count precedent).
    n_sources = sk.select(F.count_distinct("source")).first()[0]
    if n_sources <= _KMV_ONE_TASK_SOURCES:
        return _kmv_pairs_single_task(sk, k, scale)
    per = sk.groupBy("source").agg(
        F.count(F.lit(1)).alias("m"), F.max("hv").alias("kth")
    )
    est = per.select(
        "source",
        F.when(F.col("m") < k, F.col("m").cast("double"))
        .otherwise(F.lit(scale) / F.col("kth").cast("double"))
        .alias("est_distinct"),
    )
    pa = est.select(
        F.col("source").alias("source_a"), F.col("est_distinct").alias("est_a")
    )
    pb = est.select(
        F.col("source").alias("source_b"), F.col("est_distinct").alias("est_b")
    )
    pairs = pa.join(pb, F.col("source_a") < F.col("source_b"))
    ska = sk.select(F.col("source").alias("source_a"), "hv")
    skb = sk.select(F.col("source").alias("source_b"), "hv")
    keys = ["source_a", "source_b"]
    merged = (
        pairs.select(*keys).join(ska, "source_a").select(*keys, "hv")
        .union(pairs.select(*keys).join(skb, "source_b").select(*keys, "hv"))
        .distinct()
    )
    wp = Window.partitionBy(*keys).orderBy("hv")
    mk = (
        merged.select(*keys, "hv", F.row_number().over(wp).alias("rn"))
        .where(F.col("rn") <= k)
        .select(*keys, "hv")
    )
    in_both = mk.join(ska, ["source_a", "hv"], "semi").join(
        skb, ["source_b", "hv"], "semi"
    )
    mu_stats = mk.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("mu"), F.max("hv").alias("kth_u")
    )
    inter = in_both.groupBy(*keys).agg(F.count(F.lit(1)).alias("inter_k"))
    return (
        mu_stats.join(inter, keys, "left")
        .join(pairs, keys)
        .select(
            *keys,
            "est_a",
            "est_b",
            F.when(F.col("mu") < k, F.col("mu").cast("double"))
            .otherwise(F.lit(scale) / F.col("kth_u").cast("double"))
            .alias("est_union"),
            (
                F.coalesce(F.col("inter_k"), F.lit(0)).cast("double")
                / F.col("mu").cast("double")
            ).alias("jaccard_k"),
        )
        .withColumn("est_overlap", F.col("jaccard_k") * F.col("est_union"))
    )


def _oracle_kmv_source_overlap(k: int = _KMV_K) -> str:
    from caffeonspark_spark.functions.text import _FP_MOD
    from caffeonspark_spark.operators.dedup import _portable_fps_cte

    scale = float((k - 1) * _FP_MOD)
    return f"""
    WITH {_portable_fps_cte(carry="source")},
    h AS (SELECT DISTINCT source, fp AS hv FROM fps),
    sk AS (
        SELECT source, hv FROM (
            SELECT source, hv,
                   ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv) AS rn
            FROM h)
        WHERE rn <= {k}
    ),
    per AS (SELECT source, COUNT(*) AS m, MAX(hv) AS kth FROM sk GROUP BY source),
    est AS (
        SELECT source,
               CASE WHEN m < {k} THEN CAST(m AS DOUBLE)
                    ELSE {scale!r} / CAST(kth AS DOUBLE) END AS est_distinct
        FROM per
    ),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
               a.est_distinct AS est_a, b.est_distinct AS est_b
        FROM est a JOIN est b ON a.source < b.source
    ),
    merged AS (
        SELECT DISTINCT p.source_a, p.source_b, s.hv
        FROM pairs p JOIN sk s ON s.source = p.source_a
        UNION
        SELECT DISTINCT p.source_a, p.source_b, s.hv
        FROM pairs p JOIN sk s ON s.source = p.source_b
    ),
    mk AS (
        SELECT source_a, source_b, hv FROM (
            SELECT source_a, source_b, hv,
                   ROW_NUMBER() OVER (PARTITION BY source_a, source_b
                                      ORDER BY hv) AS rn
            FROM merged)
        WHERE rn <= {k}
    ),
    mu_stats AS (
        SELECT source_a, source_b, COUNT(*) AS mu, MAX(hv) AS kth_u
        FROM mk GROUP BY source_a, source_b
    ),
    inter AS (
        SELECT m.source_a, m.source_b, COUNT(*) AS inter_k
        FROM mk m
        WHERE EXISTS (SELECT 1 FROM sk a
                      WHERE a.source = m.source_a AND a.hv = m.hv)
          AND EXISTS (SELECT 1 FROM sk b
                      WHERE b.source = m.source_b AND b.hv = m.hv)
        GROUP BY m.source_a, m.source_b
    )
    SELECT u.source_a, u.source_b, p.est_a, p.est_b,
           CASE WHEN u.mu < {k} THEN CAST(u.mu AS DOUBLE)
                ELSE {scale!r} / CAST(u.kth_u AS DOUBLE) END AS est_union,
           CAST(COALESCE(i.inter_k, 0) AS DOUBLE) / CAST(u.mu AS DOUBLE)
               AS jaccard_k,
           (CAST(COALESCE(i.inter_k, 0) AS DOUBLE) / CAST(u.mu AS DOUBLE))
               * (CASE WHEN u.mu < {k} THEN CAST(u.mu AS DOUBLE)
                       ELSE {scale!r} / CAST(u.kth_u AS DOUBLE) END)
               AS est_overlap
    FROM mu_stats u
    LEFT JOIN inter i USING (source_a, source_b)
    JOIN pairs p USING (source_a, source_b)
"""


ORACLE_KMV_SOURCE_OVERLAP = _oracle_kmv_source_overlap()


def kmv_source_overlap_native(
    spark: SparkSession, sf_dir: str, k: int = _KMV_K
) -> DataFrame:
    """Declared PRODUCTION query: xxhash64 KMV overlap (rows-only — the
    hash is Spark-native; accuracy pinned by ``kmv_native_consistency``)."""
    return kmv_overlap_native_docs(load_table(spark, sf_dir, "documents"), k)


def kmv_native_consistency(
    spark: SparkSession, sf_dir: str, k: int = _KMV_K, tol: float = 0.35
) -> DataFrame:
    """Consistency twin for the PRODUCTION xxhash64 KMV overlap (hash-
    native, so no SQL oracle possible by design): run it beside the
    oracle-checked portable sketch and emit the portable pair count plus
    booleans asserting every pair's native union and overlap estimates sit
    within ``tol`` of the portable ones (tolerance = two independent-hash
    KMV draws at k=256: each side ~1/√k ≈ 6% std error on the union, and
    the overlap inherits union-scaled noise through the Jaccard ratio, so
    35% absolute-of-union is a >5σ envelope that still catches a broken
    estimator, a wrong modulus, or a lost membership join). The oracle
    recomputes the portable side and emits TRUE, so either side regressing
    flips the hash — the minhash_native_consistency pattern."""
    docs = load_table(spark, sf_dir, "documents")
    keys = ["source_a", "source_b"]
    por = kmv_overlap_docs(docs, k).select(
        *keys,
        F.col("est_union").alias("p_union"),
        F.col("est_overlap").alias("p_overlap"),
    )
    nat = kmv_overlap_native_docs(docs, k).select(
        *keys,
        F.col("est_union").alias("n_union"),
        F.col("est_overlap").alias("n_overlap"),
    )
    both = por.join(nat, keys, "full_outer")
    bad_union = F.when(
        F.col("p_union").isNull()
        | F.col("n_union").isNull()
        | (F.abs(F.col("n_union") - F.col("p_union")) > tol * F.col("p_union")),
        1,
    ).otherwise(0)
    bad_overlap = F.when(
        F.col("p_overlap").isNull()
        | F.col("n_overlap").isNull()
        | (
            F.abs(F.col("n_overlap") - F.col("p_overlap"))
            > tol * F.col("p_union")
        ),
        1,
    ).otherwise(0)
    return both.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        (F.coalesce(F.sum(bad_union), F.lit(0)) == 0).alias("union_consistent"),
        (F.coalesce(F.sum(bad_overlap), F.lit(0)) == 0).alias(
            "overlap_consistent"
        ),
    )


def _oracle_kmv_native_consistency(k: int = _KMV_K) -> str:
    """Portable-side pair count + TRUE booleans (native side is Spark-only
    by design; a regression on either side flips a boolean)."""
    whole = _oracle_kmv_source_overlap(k)
    marker = "SELECT u.source_a"
    if marker not in whole:  # fail at import, not with invalid spliced SQL
        raise RuntimeError(
            "kmv_native_consistency oracle splice marker vanished from "
            "_oracle_kmv_source_overlap; update the splice together with it"
        )
    base = whole.rsplit(marker, 1)[0]
    return (
        base
        + """SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           TRUE AS union_consistent,
           TRUE AS overlap_consistent
    FROM mu_stats u
    JOIN pairs p USING (source_a, source_b)
"""
    )


ORACLE_KMV_NATIVE_CONSISTENCY = _oracle_kmv_native_consistency()
