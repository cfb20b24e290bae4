"""Deduplication operators (LLM-pipeline extension) over the documents table.

Tiered exactly as a 100 TB pipeline would run them:

1. ``dedup_exact``       — hash-groupBy on the full text (one shuffle on the
                           text key; at scale group on ``xxhash64(text)`` so
                           the shuffle key is 8 bytes, not the document).
2. ``dedup_fingerprint`` — whitespace-normalized rolling-hash fingerprint
                           (catches reformatted exact dupes for the cost of
                           a token scan).
3. ``ngram_jaccard``     — shingle inverted index → candidate pairs →
                           exact Jaccard (the verifier for near-dup).
4. ``minhash_lsh``       — MinHash signatures + banded LSH: candidate pairs
                           ∝ true near-dupes, not |corpus|² — the scale path.
5. ``simhash``           — 32-bit frequency-weighted simhash per doc; near
                           dupes land in the same bucket / small Hamming
                           distance.

All pure Catalyst (explode/groupBy/higher-order fns + xxhash64) — no Python
row path anywhere. Jaccard/exact paths are oracle-checked against DuckDB;
the hash-family paths (xxhash64 is Spark-native) are pinned by unit tests
with planted duplicates instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from caffeonspark_spark.catalog import load_table
from caffeonspark_spark.engine import (  # noqa: F401 — unpersist_cached re-exported
    pin,
    scale_out,
    unpersist_cached,
)
from caffeonspark_spark.functions.text import (
    char_fold_vec,
    doc_fingerprint,  # noqa: F401 — production (xxhash64) fingerprint API
    doc_fingerprint_portable,
    doc_fp_vec,
    ngrams,
    portable_token_hash,
    space_tokens,
)

# MinHash parameters: 64 hashes in 16 bands of 4 (standard banding math:
# candidate threshold ≈ (1/16)^(1/4) ≈ 0.5 Jaccard)
MINHASH_PERMS = 64
MINHASH_BANDS = 16
MINHASH_ROWS_PER_BAND = 4
_MH_PRIME = (1 << 31) - 1  # Mersenne prime; products stay in long range

# Intermediates that feed several plan subtrees (shingle/signature/bucket
# tables on both sides of a self-join) are cached through ``engine.pin``,
# which lets Spark's CacheManager match them by plan; ``unpersist_cached``
# is re-exported here for callers that release them between runs.


def _tokens(text_col: str = "text") -> F.Column:
    """Module-shared tokenizer alias: delegates to the single-space
    oracle-parity ``space_tokens`` definition."""
    return space_tokens(text_col)


# --- 1. exact ------------------------------------------------------------

def dedup_exact(df: DataFrame, key_col: str, id_col: str) -> DataFrame:
    """Exact dedup: keep min id per identical key; report group size."""
    return df.groupBy(key_col).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    ).select("keep_id", "n_copies")


def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup_exact(docs, "text", "doc_id")


ORACLE_DEDUP_EXACT = """
    SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY text
"""


# --- 2. fingerprint ------------------------------------------------------

def dedup_fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprint dedup (whitespace-normalized exact dupes).

    The declared query uses the PORTABLE polynomial fingerprint
    (``doc_fingerprint_portable``: char-code folds, same arithmetic in
    DuckDB) so the driver hash-checks it end to end; the production default
    ``doc_fingerprint`` keeps xxhash64 token hashing (JVM-fast, same
    whitespace-normalized semantics, pinned equal-shape by unit tests).
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(F.col("doc_id"), doc_fp_vec(F.col("text")).alias("fp"))
    return fp.groupBy("fp").agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    ).select("keep_id", "n_copies", "fp")


def _portable_fps_cte(carry: str = "") -> str:
    """Shared oracle CTE chain computing the portable polynomial document
    fingerprint (char-fold token hash → token-stream fold), carrying any
    extra columns named in ``carry`` alongside doc_id — the single source
    of the fingerprint arithmetic for every fingerprint-family oracle."""
    cols = "doc_id" + (f", {carry}" if carry else "")
    return f"""toks AS (
        SELECT {cols},
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents
    ),
    th AS (
        SELECT {cols},
               list_transform(ts, t ->
                   list_reduce(
                       [CAST(0 AS BIGINT)] ||
                       list_transform(range(1, length(t) + 1),
                                      i -> CAST(ascii(t[i]) AS BIGINT)),
                       (a, x) -> (a * 31 + x) % 2147483647)) AS hs
        FROM toks
    ),
    fps AS (
        SELECT {cols},
               list_reduce([CAST(0 AS BIGINT)] || hs,
                           (a, x) -> (a * 1000003 + x) % 2147483647) AS fp
        FROM th
    )"""


ORACLE_DEDUP_FINGERPRINT = f"""
    WITH {_portable_fps_cte()}
    SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies, fp
    FROM fps GROUP BY fp
"""


def keep_best_duplicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group canonicalization with a keep-BEST policy: within each
    (portable) fingerprint group keep the richest copy — max ``n_chars``,
    then min ``doc_id`` — instead of ``dedup_fingerprint``'s keep-min-id.
    This is the policy real corpus pipelines apply (keep the longest /
    highest-quality variant of a duplicated page rather than an arbitrary
    one). No reference counterpart — LLM-pipeline extension.

    One window over the fingerprint partition. At 100 TB the partition key
    is the 8-byte fingerprint and group sizes equal true duplicate
    multiplicity (tiny), so the window is a hash-partitioned sort with no
    skew beyond genuine duplication; the production form swaps in the
    xxhash64 ``doc_fingerprint`` exactly as in ``dedup_fingerprint``.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id", "n_chars", doc_fp_vec(F.col("text")).alias("fp")
    )
    w = Window.partitionBy("fp").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        fp.withColumn("rk", F.row_number().over(w))
        .withColumn("n_copies", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .where(F.col("rk") == 1)
        .select(F.col("doc_id").alias("keep_id"), "n_chars", "n_copies", "fp")
    )


ORACLE_KEEP_BEST_DUPLICATE = f"""
    WITH {_portable_fps_cte(carry="n_chars")}
    SELECT doc_id AS keep_id, n_chars, n_copies, fp
    FROM (
        SELECT doc_id, n_chars, fp,
               ROW_NUMBER() OVER (PARTITION BY fp
                                  ORDER BY n_chars DESC, doc_id ASC) AS rk,
               COUNT(*) OVER (PARTITION BY fp) AS n_copies
        FROM fps
    )
    WHERE rk = 1
"""


# --- 3. shingle Jaccard --------------------------------------------------

def shingle_sets(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """(id, shingle) distinct pairs — the inverted-index input."""
    # shingle explosion dominates this path; rebalance 1-task scans (cap:
    # more partitions than ~16 just pays task/Python-worker startup here)
    df = scale_out(df, min(16, df.sparkSession.sparkContext.defaultParallelism))
    toks = _tokens(text_col)
    sh = F.array_distinct(ngrams(toks, n=n))
    return (
        df.select(F.col(id_col), F.explode(sh).alias("shingle"))
        .where(F.col("shingle") != "")
    )


def prune_stop_shingles(sh: DataFrame, max_df: int) -> DataFrame:
    """Drop shingles occurring in more than ``max_df`` documents before any
    self-join. At 100 TB this is MANDATORY: a boilerplate shingle shared by
    1M docs alone creates 5·10^11 candidate pairs; capping document
    frequency bounds per-shingle join fan-out at max_df² while leaving true
    near-dup evidence (rare shingles) untouched. One extra hash-agg pass."""
    df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    return (
        sh.join(df_counts.where(F.col("_df") <= max_df), "shingle")
        .select(*sh.columns)
    )


def ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, top: int = 50, max_df: int | None = 1000
) -> DataFrame:
    """Top near-duplicate candidate pairs by exact 3-gram-shingle Jaccard.

    Inverted-index join (shingle equality) → per-pair intersection counts →
    Jaccard from set sizes. Integer counts + one double division keep it
    oracle-exact (pruning is plain SQL, mirrored in the oracle). At 100 TB
    the shape works because the shingle join only pairs documents that
    *share* a shingle — AND because stop-shingle pruning is ON BY DEFAULT:
    a boilerplate shingle shared by 1M docs alone would create 5·10^11
    candidate pairs, so the default caps per-shingle fan-out at max_df²
    (pass ``max_df=None`` explicitly to opt out, small corpora only). Sizes
    come from the UNPRUNED sets, so reported Jaccard is a lower bound for
    pairs whose overlap includes pruned shingles. Add the MinHash pre-filter
    (below) when even the pruned candidate set is too large.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = pin(shingle_sets(docs))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    if max_df is not None:
        sh = prune_stop_shingles(sh, max_df)
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("id_a") == F.col("sa.doc_id"))
        .join(sb, F.col("id_b") == F.col("sb.doc_id"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common").cast("double")
                / (F.col("sa.sz") + F.col("sb.sz") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), F.asc("id_a"), F.asc("id_b"))
        .limit(top)
    )


def ngram_jaccard_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: the PRUNED near-dup verifier with a max_df small
    enough (5) that stop-shingle pruning genuinely fires at oracle scale —
    the hash-checked proof that the scale path computes what the SQL says."""
    return ngram_jaccard_pairs(spark, sf_dir, max_df=5)


def _oracle_ngram_jaccard(max_df: int | None) -> str:
    prune = f"""
    dfc AS (SELECT shingle, COUNT(*) AS dfreq FROM sh GROUP BY shingle),
    joinable AS (
        SELECT sh.doc_id, sh.shingle FROM sh
        JOIN dfc USING (shingle) WHERE dfreq <= {max_df}
    ),""" if max_df is not None else """
    joinable AS (SELECT doc_id, shingle FROM sh),"""
    return f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(ts) - 1),
                                     i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS shingle
        FROM toks WHERE len(ts) >= 3
    ),{prune}
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM joinable a JOIN joinable b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    ORDER BY jaccard DESC, id_a ASC, id_b ASC
    LIMIT 50
"""


# oracle twins mirror the engine defaults: pruning at max_df=1000 for the
# standard query (a no-op at oracle SF, load-bearing at 100 TB), and the
# aggressively pruned variant where pruning demonstrably fires
ORACLE_NGRAM_JACCARD = _oracle_ngram_jaccard(1000)
ORACLE_NGRAM_JACCARD_PRUNED = _oracle_ngram_jaccard(5)


def remove_dup_passages(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 5
) -> DataFrame:
    """Duplicated-passage REMOVAL (the surgical form of substring dedup a la
    Lee et al., "Deduplicating Training Data Makes Language Models Better"):
    strip every token covered by any occurrence of an n-gram that appears in
    ≥ 2 distinct documents, and rebuild the cleaned (whitespace-normalized,
    lowercased) text. The aggregate signal lives in ``dup_ngram_stats``;
    this operator actually rewrites the corpus.

    Returns (id, clean_text, n_kept, n_tokens); docs whose every token is
    boilerplate stay in the output with clean_text = ''.

    Plan (r16): positional n-gram explode → cross-doc document-frequency
    hash agg → semi-join back → per-doc dup-gram START positions
    (collect_list of ints — one position array per doc, never token text)
    → one join onto the tokenized doc → in-place positional filter of the
    token array (``array_except`` over 1-based positions builds a hash set
    of the covered side, so the per-doc cost stays linear) → reassembly as
    a plain projection, order preserved because ``array_except`` keeps the
    left array's order. Every join is an equi-join; nothing is pairwise;
    no shuffle ever carries token text (the pre-r16 form anti-joined a
    positional token stream and shuffled every kept token through a
    collect_list rebuild). At 100 TB shrink the gram shuffle key to
    ``xxhash64(gram)`` (string grams kept here for oracle parity), exactly
    as documented on ``dup_ngram_stats``.
    """
    toks = _tokens(text_col)
    # r17 (guide §1.2): tokenization + gram explode feed three subtrees
    # map-side on the scan — one 1.0-1.7 s task each on a single-split
    # local scan (evlog); rebalance the narrow rows first (no-op on a
    # real multi-split scan, per-row values partitioning-invariant)
    base = scale_out(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), toks.alias("ts")
    )
    pos_grams = base.where(F.size("ts") >= n).select(
        id_col, F.posexplode(ngrams(F.col("ts"), n=n)).alias("gpos0", "gram")
    )
    dup_grams = (
        pos_grams.select(id_col, "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") >= 2)
        .select("gram")
    )
    starts = (
        pos_grams.join(dup_grams, "gram")
        .groupBy(id_col)
        .agg(F.collect_list("gpos0").alias("starts"))
    )
    # positions covered by any dup-gram occurrence (1-based; overlapping
    # occurrences unioned by array_except's set build); [] when none
    covered = F.flatten(
        F.transform(
            F.coalesce("starts", F.array().cast("array<int>")),
            lambda g: F.sequence(g + 1, g + n),
        )
    )
    all_pos = F.when(
        F.size("ts") > 0, F.sequence(F.lit(1), F.size("ts"))
    ).otherwise(F.array().cast("array<int>"))
    kept_pos = F.array_except(all_pos, covered)
    return base.join(starts, id_col, "left").select(
        id_col,
        F.concat_ws(
            " ", F.transform(kept_pos, lambda p: F.element_at(F.col("ts"), p))
        ).alias("clean_text"),
        F.size(kept_pos).cast("long").alias("n_kept"),
        F.size("ts").cast("long").alias("n_tokens"),
    )


def remove_dup_passages_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: cross-document duplicated 5-gram passage removal."""
    return remove_dup_passages(load_table(spark, sf_dir, "documents"))


ORACLE_REMOVE_DUP_PASSAGES = """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents
    ),
    pg AS (
        SELECT doc_id, g.gpos AS gpos, g.gram AS gram
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, len(ts) - 3),
                         i -> struct_pack(gpos := i,
                                          gram := ts[i] || ' ' || ts[i+1] || ' ' ||
                                                  ts[i+2] || ' ' || ts[i+3] || ' ' ||
                                                  ts[i+4]))) AS g
              FROM toks WHERE len(ts) >= 5)
    ),
    dup AS (
        SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM pg)
        GROUP BY gram HAVING COUNT(*) >= 2
    ),
    cov AS (
        SELECT DISTINCT doc_id, pos FROM (
            SELECT doc_id, unnest(range(gpos, gpos + 5)) AS pos
            FROM pg JOIN dup USING (gram))
    ),
    tp AS (
        SELECT doc_id, t.pos AS pos, t.token AS token
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, len(ts) + 1),
                         i -> struct_pack(pos := i, token := ts[i]))) AS t
              FROM toks)
    ),
    kept AS (
        SELECT tp.doc_id, tp.pos, tp.token
        FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.pos = cov.pos
        WHERE cov.pos IS NULL
    ),
    agg AS (
        SELECT doc_id, string_agg(token, ' ' ORDER BY pos) AS clean_text,
               COUNT(*) AS n_kept
        FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id, COALESCE(agg.clean_text, '') AS clean_text,
           CAST(COALESCE(agg.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(len(b.ts) AS BIGINT) AS n_tokens
    FROM toks b LEFT JOIN agg USING (doc_id)
"""


def dup_ngram_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Per-document duplicated-passage signal (the aggregate form of
    substring dedup a la Lee et al., "Deduplicating Training Data Makes
    Language Models Better"): the fraction of a doc's distinct n-gram
    shingles that also occur in at least one OTHER document. Docs with high
    ``dup_ratio`` are boilerplate/templated content even when no single
    full-document duplicate exists — the filter axis exact and MinHash
    dedup both miss.

    Plan: shingle explode → document-frequency hash agg keyed by shingle →
    one equi-join back → per-doc agg. No pair join anywhere, so cost is
    linear in corpus shingles (at 100 TB, hash the shingle to an 8-byte key
    first — ``xxhash64(shingle)`` — to shrink the shuffle; string shingles
    kept here for oracle parity)."""
    sh = shingle_sets(df, id_col=id_col, text_col=text_col, n=n)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    joined = sh.join(dfreq, "shingle")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("_df") >= 2, 1).otherwise(0)).alias("n_dup"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_dup",
            (F.col("n_dup").cast("double") / F.col("n_shingles")).alias("dup_ratio"),
        )
    )


def dup_ngram_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: duplicated 3-gram ratio per document."""
    return dup_ngram_stats(load_table(spark, sf_dir, "documents"))


ORACLE_DUP_NGRAM_STATS = """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(ts) - 1),
                         i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS shingle
        FROM toks WHERE len(ts) >= 3
    ),
    dfreq AS (SELECT shingle, COUNT(*) AS dfr FROM sh GROUP BY shingle)
    SELECT s.doc_id, COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN dfr >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           CAST(SUM(CASE WHEN dfr >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
               AS dup_ratio
    FROM sh s JOIN dfreq USING (shingle)
    GROUP BY s.doc_id
"""


# --- 4. MinHash + LSH ----------------------------------------------------

def _perm_coeffs(n: int = MINHASH_PERMS, seed: int = 7):
    """Deterministic (a, b) coefficients for universal hashing
    h_i(x) = (a_i * x + b_i) mod p. Plain LCG expansion of the seed keeps it
    library-free and reproducible across engines/runs."""
    coeffs = []
    state = seed
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (_MH_PRIME - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _MH_PRIME
        coeffs.append((a, b))
    return coeffs


def _sig_bank_expr() -> F.Column:
    """The whole 64-permutation min-agg bank as ONE parsed expression:
    ``array(min(pmod(a_i * th + b_i, p)), ...) AS sig``. Value-identical
    to the per-permutation ``F.min(F.pmod(...))`` listcomp it replaces
    (same arithmetic over the same ``th`` column; integer literals parse
    to the same widened-to-long multiply) — but costs ONE py4j round trip
    instead of ~10 per permutation per call site. r17 (guide §1.2 driver
    work): cProfile of ``dedup_against_corpus`` construction showed
    11,709 py4j round trips = 1.9 s of socket chatter per invocation,
    dominated by the two 64-agg listcomps; the driver is part of the
    query's wall just like the cluster."""
    mins = ",".join(
        f"min(pmod({a} * th + {b}, {_MH_PRIME}))" for a, b in _perm_coeffs()
    )
    return F.expr(f"array({mins}) AS sig")


def minhash_signatures(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc MinHash signature as ``sig: array<long>`` of length PERMS.

    Token → xxhash64 → p-reduced; per-permutation min is a single hash agg
    with 64 agg expressions (map-side partials, one shuffle on doc id).
    a*x: a < 2^31, x < 2^31 → product < 2^62, no overflow in long math.
    """
    toks = shingle_sets(df, id_col=id_col, text_col=text_col, n=3)
    th = F.pmod(F.xxhash64(F.col("shingle")), F.lit(_MH_PRIME)).alias("th")
    base = toks.select(F.col(id_col), th)
    return base.groupBy(id_col).agg(_sig_bank_expr())


def minhash_signatures_portable_df(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """``minhash_signatures`` with the engine-portable char-fold shingle
    hash instead of xxhash64 — identical one-shuffle plan (64 min-aggs with
    map-side partials keyed by doc id), but every arithmetic step is plain
    SQL in DuckDB, so anything composed on it stays hash-checkable."""
    toks = shingle_sets(df, id_col=id_col, text_col=text_col)
    # r16 (guide §4.2): vectorized char fold — the interpreted HOF chain
    # was the dominant per-task cost of every portable-MinHash row; values
    # bit-identical (vec-vs-expression pin in tests)
    base = toks.select(
        F.col(id_col), char_fold_vec(F.col("shingle")).alias("th")
    )
    # one parsed expression for the 64-agg bank (see _sig_bank_expr)
    return base.groupBy(id_col).agg(_sig_bank_expr())


def minhash_signatures_portable_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: MinHash signatures in LONG form (doc_id, perm,
    minhash) over the engine-portable char-fold shingle hash — this
    hash-checks the core MinHash math (universal-hash family, per-perm min)
    against DuckDB, which the xxhash64 production path cannot."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_signatures_portable_df(docs).select(
        "doc_id", F.posexplode("sig").alias("perm", "minhash")
    )


def _charfold_sql(col: str) -> str:
    """DuckDB rendering of ``portable_token_hash`` over column ``col`` —
    the ONE definition of the char-fold arithmetic; every oracle in this
    file composes it instead of restating the fold."""
    return (
        "list_reduce([CAST(0 AS BIGINT)] || "
        f"list_transform(range(1, length({col}) + 1), "
        f"i -> CAST(ascii({col}[i]) AS BIGINT)), "
        f"(a, x) -> (a * 31 + x) % {_MH_PRIME})"
    )


def _coeffs_sql() -> str:
    return ", ".join(
        f"({i}, {a}::BIGINT, {b}::BIGINT)" for i, (a, b) in enumerate(_perm_coeffs())
    )


def _minhash_sig_ctes(carry_expr: str = "", carry: str = "") -> str:
    """Shared toks→sh→th→coeffs→mh→sig CTE chain computing the portable
    MinHash signature table over ``documents``; ``carry_expr`` adds a
    computed column at the scan (e.g. the is_new flag) that ``carry``
    names through the rest of the chain. Single source for the three
    signature-family oracles (signatures, self-join pairs, bipartite
    cross-corpus pairs)."""
    sel0 = "doc_id" + (f", {carry_expr}" if carry_expr else "")
    sel = "doc_id" + (f", {carry}" if carry else "")
    tsel = ", ".join(f"t.{c.strip()}" for c in sel.split(","))
    return f"""toks AS (
        SELECT {sel0},
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents
    ),
    sh AS (
        SELECT {sel},
               unnest(list_distinct(list_transform(range(1, len(ts) - 1),
                         i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS shingle
        FROM toks WHERE len(ts) >= 3
    ),
    th AS (SELECT {sel}, {_charfold_sql('shingle')} AS th FROM sh),
    coeffs(perm, a, b) AS (VALUES {_coeffs_sql()}),
    mh AS (
        SELECT {tsel}, c.perm, MIN((c.a * t.th + c.b) % {_MH_PRIME}) AS minhash
        FROM th t CROSS JOIN coeffs c
        GROUP BY {tsel}, c.perm
    ),
    sig AS (SELECT {sel}, list(minhash ORDER BY perm) AS sig
            FROM mh GROUP BY {sel})"""


def _bands_cte(carry: str = "") -> str:
    """Banded slices of the signature table (16 bands of 4), shared by the
    self-join and bipartite pair oracles."""
    sel = "doc_id" + (f", {carry}" if carry else "")
    rpb = MINHASH_ROWS_PER_BAND
    return f"""bands AS (
        SELECT {sel}, sig, b.b AS band_idx,
               list_slice(sig, {rpb} * b.b + 1, {rpb} * b.b + {rpb}) AS band
        FROM sig CROSS JOIN generate_series(0, {MINHASH_BANDS - 1}) AS b(b)
    )"""


def banded_signatures(
    sigs: DataFrame, id_col: str = "doc_id", hashed: bool = False
) -> DataFrame:
    """Explode a ``(id, sig)`` signature table into ``(id, sig, band_idx,
    band)`` rows — 16 bands of 4 signature slots. ``hashed=False`` keeps
    the band as the raw slice so equality joins hash-match DuckDB
    (`_bands_cte` is the SQL twin); ``hashed=True`` folds each slice to an
    8-byte xxhash64 key (the production join key — ~4× narrower shuffle
    rows, not SQL-reproducible). Shared by the self-join and bipartite
    LSH pair paths."""

    def _band(i: int) -> F.Column:
        s = F.slice(
            F.col("sig"), i * MINHASH_ROWS_PER_BAND + 1, MINHASH_ROWS_PER_BAND
        )
        return F.xxhash64(s) if hashed else s

    return sigs.select(
        F.col(id_col),
        "sig",
        F.posexplode(
            F.array(*[_band(i) for i in range(MINHASH_BANDS)])
        ).alias("band_idx", "band"),
    )


def _est_jaccard(sig_a: F.Column, sig_b: F.Column) -> F.Column:
    """Estimated Jaccard = fraction of equal signature positions."""
    return (
        F.size(
            F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda eq: eq)
        ).cast("double")
        / F.lit(float(MINHASH_PERMS))
    )


def _banded_candidate_pairs(
    bands_a: DataFrame,
    bands_b: DataFrame,
    id_col: str,
    out_a: str,
    out_b: str,
    self_pairs: bool,
) -> DataFrame:
    """Candidate near-dup pairs from two banded signature tables: equi-join
    on ``(band_idx, band)``, estimate Jaccard from the already-joined
    signature arrays BEFORE the pair-dedup so that shuffle moves 3 scalars
    per candidate rather than two 64-long arrays, then distinct per pair.
    ``self_pairs=True`` adds the ``a.id < b.id`` half-triangle predicate
    (self-join dedup); ``False`` keeps the full bipartite cross product
    (new batch × kept corpus). The ONE copy of the block the self-join,
    portable-twin and cross-corpus paths previously each carried."""
    a, b = bands_a.alias("a"), bands_b.alias("b")
    cond = (F.col("a.band_idx") == F.col("b.band_idx")) & (
        F.col("a.band") == F.col("b.band")
    )
    if self_pairs:
        cond = cond & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias(out_a),
            F.col(f"b.{id_col}").alias(out_b),
            _est_jaccard(F.col("a.sig"), F.col("b.sig")).alias("est_jaccard"),
        )
        .dropDuplicates([out_a, out_b])
    )


def _oracle_minhash_signatures() -> str:
    return f"""
    WITH {_minhash_sig_ctes()}
    SELECT doc_id, perm, minhash FROM mh
"""


ORACLE_MINHASH_SIGNATURES = _oracle_minhash_signatures()


def minhash_lsh_pairs_df(
    docs: DataFrame, threshold: float = 0.5, top: int = 100
) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH + signature-estimate filter,
    over any ``(doc_id, text)`` DataFrame.

    Candidates = pairs sharing ≥1 of 16 band hashes (band = hash of 4
    signature slots). Estimated Jaccard = fraction of equal signature
    positions. Returns (id_a, id_b, est_jaccard) above threshold.
    Scale: candidates ∝ colliding pairs only; the band explode is 16 rows
    per doc; every join is an equi-join on an 8-byte key.
    """
    # persist: the signature pipeline (shingle explode + 64 min-aggs) is the
    # expensive subtree and feeds BOTH sides of the self-join — without this
    # Spark computes it twice (broadcast + shuffle exchanges don't reuse).
    # One row of 64 longs per doc ≈ 0.5 KB — at 100 TB this is the
    # signatures table you'd write out once and join against.
    # eager=False (r17, VERDICT r16 item 3): this query is one action over
    # one self-join — the r16 eager fill added a serial materialization
    # pass the concurrent branch race never cost on an idle scheduler
    # (driver measured minhash_lsh 2.1 -> 2.8 s); the lazy pin still
    # guarantees at most one cached copy and r15's timing envelope.
    # Risk: the pin is not single-consumer — it feeds BOTH sides of the
    # self-join, and both sides' stages can start before either has
    # filled it. On an idle local scheduler one side fills first; on a
    # busy cluster AQE can run the two sides concurrently and compute the
    # signature subtree once per side. Fill eagerly if that shows up.
    sigs = pin(minhash_signatures(docs), eager=False)
    bands = banded_signatures(sigs, hashed=True)
    cand = _banded_candidate_pairs(bands, bands, "doc_id", "id_a", "id_b", True)
    return (
        cand.where(F.col("est_jaccard") >= threshold)
        .orderBy(F.desc("est_jaccard"), F.asc("id_a"), F.asc("id_b"))
        .limit(top)
    )


def minhash_lsh_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.5, top: int = 100
) -> DataFrame:
    """Declared query: MinHash-LSH near-dup pairs over the documents table."""
    return minhash_lsh_pairs_df(load_table(spark, sf_dir, "documents"), threshold, top)


def minhash_lsh_pairs_portable_df(
    docs: DataFrame, threshold: float = 0.5, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``minhash_lsh_pairs_df`` in fully engine-portable arithmetic: the
    portable char-fold shingle hash, and banding by DIRECT slice equality
    (join on ``(band_idx, 4-slot slice)``) instead of xxhash64(band) — an
    equi-join either way, and list equality is plain SQL in DuckDB, so the
    whole candidate generation + estimate hash-matches across engines.

    Same scale shape as the production path: candidates ∝ band collisions,
    est_jaccard computed before the pair-dedup shuffle. The band key is a
    4-long array (~32 B) instead of an 8-byte hash — acceptable; at 100 TB
    prefer the xxhash64 production path, this one exists to make composed
    pipelines oracle-checkable."""
    sigs = pin(
        minhash_signatures_portable_df(docs, id_col=id_col, text_col=text_col),
        # eager=False: same single-action shape as minhash_lsh_pairs_df
        eager=False,
    )
    bands = banded_signatures(sigs, id_col)
    cand = _banded_candidate_pairs(bands, bands, id_col, "id_a", "id_b", True)
    return cand.where(F.col("est_jaccard") >= threshold)


def minhash_lsh_pairs_portable_query(
    spark: SparkSession, sf_dir: str, threshold: float = 0.5, top: int = 100
) -> DataFrame:
    """Declared query: MinHash-LSH near-dup pairs in fully engine-portable
    arithmetic (char-fold shingle hash + slice-equality banding), so the
    banded candidate generation itself hash-matches the DuckDB twin — the
    production xxhash64 path stays available as ``minhash_lsh_pairs``
    (rows-only) and inside ``clean_corpus``. Deterministic top ordering for
    the value-hash compare."""
    return (
        minhash_lsh_pairs_portable_df(
            load_table(spark, sf_dir, "documents"), threshold
        )
        .orderBy(F.desc("est_jaccard"), F.asc("id_a"), F.asc("id_b"))
        .limit(top)
    )


def _oracle_minhash_lsh_pairs(threshold: float = 0.5, top: int = 100) -> str:
    return f"""
    WITH {_minhash_sig_ctes()},
    {_bands_cte()},
    est AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(list_sum(list_transform(range(1, {MINHASH_PERMS + 1}),
                   i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END))
                   AS DOUBLE) / {MINHASH_PERMS} AS est_jaccard
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, est_jaccard FROM est
    WHERE est_jaccard >= {threshold}
    ORDER BY est_jaccard DESC, id_a ASC, id_b ASC
    LIMIT {top}
"""


ORACLE_MINHASH_LSH_PAIRS = _oracle_minhash_lsh_pairs()


def minhash_native_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistency twin for the PRODUCTION xxhash64 MinHash-LSH pair
    generation (hash-native, so no SQL oracle possible by design): run it
    beside the oracle-checked portable pair set and emit the portable pair
    count plus a boolean asserting the two pair SETS differ by at most 5%
    (measured identical at test scales — the planted duplicates sit far
    from the 0.5 threshold, so both hash families find exactly them). The
    oracle recomputes the portable count, so either side regressing flips
    the hash."""
    docs = load_table(spark, sf_dir, "documents")
    nat = minhash_lsh_pairs_df(docs, 0.5, top=10**6).select(
        "id_a", "id_b", F.lit(1).alias("_n")
    )
    por = minhash_lsh_pairs_portable_df(docs, 0.5).select(
        "id_a", "id_b", F.lit(1).alias("_p")
    )
    both = nat.join(por, ["id_a", "id_b"], "full_outer")
    # coalesce: on a corpus with NO qualifying pairs both sums are NULL,
    # but the oracle's COUNT(*) is 0 with TRUE — match that, not NULL
    return both.agg(
        F.coalesce(F.sum("_p"), F.lit(0)).cast("long").alias("n_portable_pairs"),
        (
            F.coalesce(
                F.sum(
                    F.when(F.col("_n").isNull() | F.col("_p").isNull(), 1).otherwise(0)
                ),
                F.lit(0),
            )
            <= F.lit(0.05) * F.coalesce(F.sum("_p"), F.lit(0))
        ).alias("native_matches"),
    )


def _oracle_minhash_native_consistency(threshold: float = 0.5) -> str:
    return f"""
    WITH {_minhash_sig_ctes()},
    {_bands_cte()},
    est AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(list_sum(list_transform(range(1, {MINHASH_PERMS + 1}),
                   i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END))
                   AS DOUBLE) / {MINHASH_PERMS} AS est_jaccard
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_portable_pairs,
           TRUE AS native_matches
    FROM est WHERE est_jaccard >= {threshold}
"""


ORACLE_MINHASH_NATIVE_CONSISTENCY = _oracle_minhash_native_consistency()


#: planted text families for the PRODUCTION xxhash64 MinHash-LSH path —
#: the r13 audio/image/video pattern brought to text. Family = _T_FAMILY
#: consecutive doc_ids; member m's text is the family's 12-token base
#: sequence repeated m+2 times. For ≥2 repetitions the distinct-3-gram
#: SET is the full CYCLIC shingle set of the base sequence — identical
#: for every member — so texts DIFFER (different lengths, different
#: shingle multiplicities) while shingle sets are EXACTLY equal: all 64
#: xxhash64 min-signatures agree, est_jaccard is exactly 64/64 = 1.0,
#: and every band collides (exact recall, no margin study needed).
#: Cross-family token universes are disjoint, so a false pair needs a
#: cross-set minhash collision in 4 consecutive slots (~(2/p)^4 ≈ 2^-124
#: per band with p = 2^31-1) — collision-level, not distance-margin-level
#: like the pixel families, hence NO documented SF ceiling.
_T_FAMILY = 4
_T_BASE_TOKENS = 12


def _planted_minhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, text) planted corpus — pure Catalyst expressions off a
    doc_id-only documents scan (tokens must be lowercase: the pipeline's
    ``space_tokens`` lowercases before shingling)."""
    docs = scale_out(  # r16: rebalance the 8-byte ids before the
        # heavy per-row synth/decode work (single-split scans serialize
        # it onto one task; no-op on multi-split scans, per-row outputs
        # are functions of doc_id so partitioning cannot change values)
        load_table(spark, sf_dir, "documents").select("doc_id")
    )
    fam = (F.col("doc_id") - F.pmod(F.col("doc_id"), F.lit(_T_FAMILY))).cast(
        "string"
    )
    base = F.array(
        *[
            F.concat(F.lit("w"), fam, F.lit(f"x{j}"))
            for j in range(_T_BASE_TOKENS)
        ]
    )
    reps = (F.pmod(F.col("doc_id"), F.lit(_T_FAMILY)) + F.lit(2)).cast("int")
    return docs.select(
        "doc_id",
        F.concat_ws(" ", F.flatten(F.array_repeat(base, reps))).alias("text"),
    )


def minhash_lsh_pairs_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query ``minhash_lsh_pairs_native`` (✔oracle — exact
    pair-set equality): PLANTED-FAMILY RECALL + PRECISION through the
    production xxhash64 MinHash-LSH path (``minhash_lsh_pairs_df``
    verbatim: xxhash64 shingle hash, 64 min-agg signatures, xxhash64-
    folded band keys, band equi-join, signature-estimate filter). The
    emitted ``(id_a, id_b, est_jaccard)`` set EQUALS the family
    combinatorics at est_jaccard exactly 1.0 — which IS the DuckDB
    oracle (``family_combinatorics_sql``, the shared planted-family
    oracle). A missed family pair (recall), a false cross-family pair
    (precision), or any estimate drifting off 64/64 breaks the hash.
    Until r14 this row ran the xxhash64 path over the real documents
    rows-only; that behavior stays value-checked via
    ``minhash_native_consistency`` (production vs portable pair sets on
    the real corpus)."""
    from caffeonspark_spark.catalog import table_nrows

    n = table_nrows(sf_dir, "documents")
    return minhash_lsh_pairs_df(
        _planted_minhash_docs(spark, sf_dir),
        threshold=0.5,
        # no truncation: complete families emit C(4,2)=6 pairs per 4 docs
        # (1.5·n); 2·n clears it at any corpus size including partials
        top=2 * n + _T_FAMILY * _T_FAMILY,
    ).select("id_a", "id_b", "est_jaccard")


def _oracle_minhash_lsh_native() -> str:
    from caffeonspark_spark.multimodal.imagehash import (
        family_combinatorics_sql,
    )

    return f"""
    SELECT id_a, id_b, CAST(1.0 AS DOUBLE) AS est_jaccard
    FROM ({family_combinatorics_sql(_T_FAMILY)})
"""


ORACLE_MINHASH_LSH_NATIVE = _oracle_minhash_lsh_native()


def _oracle_neardup_clusters(threshold: float = 0.5) -> str:
    """Recursive-CTE connected components over the PORTABLE pair set — a
    REAL value oracle for the iterative min-label clustering (the native
    and portable pair sets coincide on this corpus, so Spark's components
    over native pairs must equal DuckDB's components over portable
    pairs node-for-node)."""
    return f"""
    WITH RECURSIVE {_minhash_sig_ctes()},
    {_bands_cte()},
    est AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id
        WHERE CAST(list_sum(list_transform(range(1, {MINHASH_PERMS + 1}),
                   i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END))
                   AS DOUBLE) / {MINHASH_PERMS} >= {threshold}
    ),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM est
        UNION ALL
        SELECT id_b AS u, id_a AS v FROM est
    ),
    reach(node, lbl) AS (
        SELECT DISTINCT u, u FROM edges
        UNION
        SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
    )
    SELECT node, MIN(lbl) AS component FROM reach GROUP BY node ORDER BY node
"""


ORACLE_NEARDUP_CLUSTERS = _oracle_neardup_clusters()


def dup_source_matrix(
    spark: SparkSession, sf_dir: str, threshold: float = 0.5
) -> DataFrame:
    """Declared query: the cross-source duplication matrix — for every
    unordered pair of sources, how many near-duplicate document pairs
    span them (diagonal = within-source duplication). This is the corpus-
    governance report a data owner reads before mixing sources: "how much
    of source B is already in source A" decides dedup order and mixture
    weights. Composes the PORTABLE MinHash pair set (full set, no top-N —
    counts must be exact) with two doc_id equi-joins to the source
    column and one tiny grouped count.

    Scale contract: pairs are banding-bounded (the minhash_lsh_pairs
    shape), each source join is an 8-byte-key equi-join moving one small
    string per row, and the output is |sources|² rows. Unordered keying
    via least/greatest keeps the matrix triangular and deterministic in
    both engines. The declared form rides the PORTABLE pair set so the
    counts oracle-check; at 100 TB swap in the xxhash64 production pairs
    (``minhash_lsh_pairs_df``) or any modality's pair table — the matrix
    is pair-source-agnostic."""
    return dup_source_matrix_df(load_table(spark, sf_dir, "documents"), threshold)


def dup_source_matrix_df(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    return dup_matrix_from_pairs(
        minhash_lsh_pairs_portable_df(docs, threshold).select("id_a", "id_b"),
        docs.select("doc_id", "source"),
    )


def dup_matrix_from_pairs(pairs: DataFrame, sources: DataFrame) -> DataFrame:
    """The pair-source-agnostic production form of the duplication matrix:
    ANY modality's near-dup pair table ``(id_a, id_b)`` (text MinHash,
    image dHash, audio fingerprint, video matched-frame pairs) joined to a
    ``(doc_id, source)`` map, counted per unordered source pair. Two
    8-byte-key equi-joins + one |sources|²-row agg — the composition
    ``dup_source_matrix``'s docstring promises, as code (pinned by
    ``test_video_dup_query::test_video_pairs_through_dup_matrix``)."""
    a = sources.select(F.col("doc_id").alias("id_a"), F.col("source").alias("_sa"))
    b = sources.select(F.col("doc_id").alias("id_b"), F.col("source").alias("_sb"))
    return (
        pairs.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, "id_b")
        .groupBy(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_dup_pairs"))
    )


def _oracle_dup_source_matrix(threshold: float = 0.5) -> str:
    """The portable pair set joined to sources, grouped on the unordered
    source pair — the ``_oracle_neardup_clusters`` est CTE reused."""
    return f"""
    WITH {_minhash_sig_ctes()},
    {_bands_cte()},
    est AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id
        WHERE CAST(list_sum(list_transform(range(1, {MINHASH_PERMS + 1}),
                   i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END))
                   AS DOUBLE) / {MINHASH_PERMS} >= {threshold}
    )
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
    FROM est
    JOIN documents da ON est.id_a = da.doc_id
    JOIN documents db ON est.id_b = db.doc_id
    GROUP BY 1, 2
"""


ORACLE_DUP_SOURCE_MATRIX = _oracle_dup_source_matrix()


# --- 5. SimHash ----------------------------------------------------------

SIMHASH_BITS = 32


def _simhash_agg(tf: DataFrame, h: F.Column, bits: int, id_col: str) -> DataFrame:
    """Shared SimHash core: per-(doc, token) tf rows + a token-hash column →
    one hash agg with ``bits`` conditional sums, then bit assembly."""
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.col("tf")).otherwise(-F.col("tf"))
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    sums = tf.groupBy(id_col).agg(*bit_sums)
    sim = None
    for j in range(bits):
        bit = F.when(F.col(f"s{j}") > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = bit if sim is None else sim + bit
    return sums.select(F.col(id_col), sim.alias("simhash"))


def _tf(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    toks = df.select(F.col(id_col), F.explode(_tokens(text_col)).alias("token"))
    return toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Frequency-weighted 32-bit SimHash per document (pure SQL).

    bit_j(doc) = 1 iff Σ_tokens tf(t) * (2*bit_j(xxhash64(t)) - 1) > 0.
    One explode + one hash agg with 32 conditional sums; near-duplicate docs
    differ in few bits (Hamming), so grouping by the hash (or by prefix
    bands) buckets candidates.
    """
    return _simhash_agg(
        _tf(df, id_col, text_col), F.xxhash64(F.col("token")), SIMHASH_BITS, id_col
    )


# portable variant: the token hash is the cross-engine char fold, which
# yields values < 2^31, so 31 meaningful bits
PORTABLE_SIMHASH_BITS = 31


def simhash_portable(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """SimHash over the engine-portable char-fold token hash (31 bits —
    the fold is mod 2^31-1). Same frequency-weighted bit votes as
    ``simhash``; used by the DECLARED query so DuckDB can replicate the
    arithmetic cell-for-cell. Production callers keep xxhash64 ``simhash``
    (one hash op per token vs a per-char fold)."""
    # r16 (guide §4.2/§4.4): the char fold is vectorized AND staged as a
    # real column first — _simhash_agg references the hash in 31 bit-sum
    # expressions, and an inlined fold expression would be re-evaluated
    # per reference; the staged UDF column is computed once per row
    return _simhash_agg(
        _tf(df, id_col, text_col).withColumn(
            "_th", char_fold_vec(F.col("token"))
        ),
        F.col("_th"),
        PORTABLE_SIMHASH_BITS,
        id_col,
    )


def simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: per-doc simhash via the portable token hash —
    hash-checked against the DuckDB oracle; Hamming-neighbour behavior of
    the production (xxhash64) variant pinned by planted-near-dup tests."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_portable(docs).orderBy("doc_id")


def _oracle_simhash_portable(bits: int = PORTABLE_SIMHASH_BITS) -> str:
    charfold = _charfold_sql("token")
    sums = ",\n               ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN tf ELSE -tf END) AS s{j}"
        for j in range(bits)
    )
    assemble = " + ".join(
        f"CASE WHEN s{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for j in range(bits)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS token
        FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
    th AS (SELECT doc_id, tf, {charfold} AS h FROM tf),
    sums AS (SELECT doc_id, {sums}
             FROM th GROUP BY doc_id)
    SELECT doc_id, {assemble} AS simhash
    FROM sums
"""


ORACLE_SIMHASH = _oracle_simhash_portable()


# --- 6. embedding-cosine near-duplicates ---------------------------------

def embedding_neardup_pairs(spark: SparkSession, sf_dir: str, top: int = 25) -> DataFrame:
    """Top near-duplicate embedding pairs by cosine similarity.

    Bucket by sign-LSH first (8 seeded hyperplanes → 256 buckets) so the
    pair join is bucket-local — candidates ∝ Σ bucket², not |corpus|² —
    then exact deterministic cosine re-rank. The bucket is the pure
    Catalyst fold expression (``lsh_sign_bucket_expr``), bit-identical to
    the DuckDB twin's ``list_reduce`` — so this is fully oracle-checkable
    (``ORACLE_EMBEDDING_NEARDUP``); planted near-dup recall stays pinned
    in tests/test_dedup.py.
    """
    from caffeonspark_spark.catalog import load_table
    from caffeonspark_spark.functions.arrays import cosine_similarity
    from caffeonspark_spark.operators.similarity import lsh_sign_bucket_expr

    emb = load_table(spark, sf_dir, "embeddings")
    # single 8-bit table: 256 buckets -> pair join is bucket-local; the
    # bucket expression is 8 dot products per row — cheap enough to
    # recompute on both self-join sides, no persist needed
    sig = emb.select(
        "vec_id",
        "embedding",
        lsh_sign_bucket_expr(F.col("embedding"), 64, 8).alias("bucket"),
    )
    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            cosine_similarity(F.col("a.embedding"), F.col("b.embedding")).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("id_a"), F.asc("id_b"))
        .limit(top)
    )


def _oracle_embedding_neardup(top: int = 25) -> str:
    from caffeonspark_spark.operators.similarity import lsh_sign_bucket_sql

    bucket = lsh_sign_bucket_sql("embedding", 64, 8)
    return f"""
    WITH b AS (
        SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
    ),
    ex AS (
        SELECT vec_id, unnest(embedding) AS ee,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ),
    norms AS (
        SELECT vec_id,
               CAST(SUM(CAST(CAST(ee AS DOUBLE) * CAST(ee AS DOUBLE)
                              AS DECIMAL(30,9))) AS DOUBLE) AS dd
        FROM ex GROUP BY vec_id
    ),
    pairs AS (
        SELECT x.vec_id AS id_a, y.vec_id AS id_b
        FROM b x JOIN b y
          ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    ),
    dots AS (
        SELECT p.id_a, p.id_b,
               CAST(SUM(CAST(CAST(xa.ee AS DOUBLE) * CAST(xb.ee AS DOUBLE)
                              AS DECIMAL(30,9))) AS DOUBLE) AS dab
        FROM pairs p
        JOIN ex xa ON xa.vec_id = p.id_a
        JOIN ex xb ON xb.vec_id = p.id_b AND xa.i = xb.i
        GROUP BY p.id_a, p.id_b
    )
    SELECT d.id_a, d.id_b,
           CASE WHEN na.dd * nb.dd <> 0
                THEN d.dab / (sqrt(na.dd) * sqrt(nb.dd)) END AS cos_sim
    FROM dots d
    JOIN norms na ON d.id_a = na.vec_id
    JOIN norms nb ON d.id_b = nb.vec_id
    ORDER BY cos_sim DESC, id_a ASC, id_b ASC
    LIMIT {top}
"""


ORACLE_EMBEDDING_NEARDUP = _oracle_embedding_neardup()


# --- 7. end-to-end corpus cleaning pipeline -------------------------------

def clean_corpus(spark: SparkSession, sf_dir: str, neardup_threshold: float = 0.8) -> DataFrame:
    """The composed LLM-training-data cleaning pipeline, one declarative plan:

    1. quality gate   — token/stopword/punctuation thresholds
       (``textops.quality_filter``);
    2. exact dedup    — keep the min doc_id per identical text;
    3. near-dedup     — MinHash-LSH pairs above ``neardup_threshold``;
       the higher doc_id of each surviving pair is dropped (anti-join).

    Returns the surviving ``(doc_id, n_tokens)`` set. Every stage is an
    equi-join/aggregation Catalyst shuffles on 8-byte keys — the whole
    pipeline is 100 TB-shaped: no driver materialization, no Python row
    path, each stage prunes rows before the next's shuffle.
    Rows-only driver check (MinHash is engine-hash-specific); stage
    semantics are individually oracle-checked / unit-tested.
    """
    from caffeonspark_spark.operators.textops import quality_filter

    # r16: the quality gate's output and the exact-keep id set are tiny
    # (16 B and 8 B per row) but their SUBTREES are corpus passes (token
    # stats over text; xxhash64 group over text), and each was referenced
    # from several branches (the sig path, the exact filter, the final
    # projection) — tree-multiplicative re-derivation. Pin both; the
    # corpus text itself is never persisted.
    quality = pin(
        quality_filter(spark, sf_dir).select("doc_id", "n_tokens"),
    )
    docs = load_table(spark, sf_dir, "documents").join(
        quality.select("doc_id"), "doc_id"
    )

    # exact dedup groups on the 8-byte text hash, not the document text —
    # the shuffle moves (hash, id) pairs instead of full documents (the
    # SCALE.md "group on xxhash64(text)" rule; collision odds ~n²/2^64)
    exact_ids = pin(
        docs.select("doc_id", F.xxhash64(F.col("text")).alias("_th"))
        .groupBy("_th")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id"),
    )
    survivors = docs.join(exact_ids, "doc_id")

    # near-dedup runs over the SURVIVORS of the earlier stages, not the raw
    # table: if (a, b) near-dup but a was already removed by the quality gate
    # or exact dedup, b must survive — otherwise no copy of that content
    # remains. (Also cheaper: signatures are computed only for rows still in
    # play.) Greedy keep-lowest-id within each pair, like the reference of
    # record pipelines; use neardup_clusters + min-per-component when exact
    # one-survivor-per-cluster semantics are needed.
    near = minhash_lsh_pairs_df(survivors, threshold=neardup_threshold, top=10**6)
    drop = near.select(F.col("id_b").alias("doc_id")).distinct()
    # the final branch needs only (doc_id, n_tokens): compose it from the
    # two pinned id tables — the old survivors-side anti-join re-derived
    # the raw-documents join just to throw the text away (exact_ids ⊆
    # quality ids, so quality ⋈ exact_ids is exactly the survivor id set)
    return (
        quality.join(exact_ids, "doc_id")
        .join(drop, "doc_id", "left_anti")
        .select("doc_id", "n_tokens")
        .orderBy("doc_id")
    )


def clean_corpus_portable(
    spark: SparkSession, sf_dir: str, neardup_threshold: float = 0.5
) -> DataFrame:
    """The composed cleaning pipeline (quality gate → exact dedup → MinHash-
    LSH near-dedup), in fully oracle-checkable form: same three stages and
    same greedy drop-higher-id rule as ``clean_corpus``, but exact dedup
    groups on the raw text and near-dedup uses the portable MinHash + slice-
    equality banding, so the ENTIRE pipeline — every stage composed — hash-
    matches the DuckDB oracle cell-for-cell. The production ``clean_corpus``
    keeps 8-byte xxhash64 keys everywhere (cheaper shuffles); this twin
    proves the composition's semantics, not just each stage's.

    Threshold 0.5 (vs the production 0.8) so the near-dedup stage
    demonstrably fires at oracle scale."""
    from caffeonspark_spark.operators.textops import quality_filter

    # r16: same small-table pinning as clean_corpus — quality output and
    # exact-keep ids pinned so their corpus-pass subtrees run
    # once, and the final branch composes the pinned id tables instead of
    # re-deriving the text join (see clean_corpus)
    quality = pin(
        quality_filter(spark, sf_dir).select("doc_id", "n_tokens"),
    )
    docs = load_table(spark, sf_dir, "documents").join(
        quality.select("doc_id"), "doc_id"
    )

    exact_ids = pin(
        docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id"),
    )
    survivors = docs.join(exact_ids, "doc_id")

    near = minhash_lsh_pairs_portable_df(survivors, threshold=neardup_threshold)
    drop = near.select(F.col("id_b").alias("doc_id")).distinct()
    return (
        quality.join(exact_ids, "doc_id")
        .join(drop, "doc_id", "left_anti")
        .select("doc_id", "n_tokens")
        .orderBy("doc_id")
    )


def _oracle_clean_corpus_portable(threshold: float = 0.5) -> str:
    coeffs = _coeffs_sql()
    charfold = _charfold_sql("shingle")
    return f"""
    WITH q AS (
        SELECT doc_id, n_tokens FROM (
            SELECT doc_id,
                   len(toks) AS n_tokens,
                   CAST(len(list_filter(toks, t -> list_contains(
                       ['the','a','of','and','to','in','is','on','for','with'], t)))
                        AS DOUBLE) / len(toks) AS sw_ratio,
                   CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))
                        AS DOUBLE) / length(text) AS p_ratio
            FROM (SELECT doc_id, text,
                         list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
                  FROM documents)
        )
        WHERE n_tokens >= 10 AND n_tokens <= 5000
          AND sw_ratio >= 0.05 AND p_ratio <= 0.2
    ),
    qdocs AS (
        SELECT d.doc_id, d.text, q.n_tokens
        FROM documents d JOIN q USING (doc_id)
    ),
    exact_keep AS (SELECT MIN(doc_id) AS doc_id FROM qdocs GROUP BY text),
    surv AS (SELECT qd.doc_id, qd.text, qd.n_tokens
             FROM qdocs qd JOIN exact_keep USING (doc_id)),
    toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM surv
    ),
    sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(ts) - 1),
                         i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]))) AS shingle
        FROM toks WHERE len(ts) >= 3
    ),
    th AS (SELECT doc_id, {charfold} AS th FROM sh),
    coeffs(perm, a, b) AS (VALUES {coeffs}),
    mh AS (
        SELECT t.doc_id, c.perm, MIN((c.a * t.th + c.b) % 2147483647) AS minhash
        FROM th t CROSS JOIN coeffs c
        GROUP BY t.doc_id, c.perm
    ),
    sig AS (SELECT doc_id, list(minhash ORDER BY perm) AS sig FROM mh GROUP BY doc_id),
    bands AS (
        SELECT doc_id, sig, b.b AS band_idx,
               list_slice(sig, 4 * b.b + 1, 4 * b.b + 4) AS band
        FROM sig CROSS JOIN generate_series(0, {MINHASH_BANDS - 1}) AS b(b)
    ),
    est AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(list_sum(list_transform(range(1, {MINHASH_PERMS + 1}),
                   i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END))
                   AS DOUBLE) / {MINHASH_PERMS} AS est_jaccard
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id
    ),
    drops AS (SELECT DISTINCT id_b AS doc_id FROM est WHERE est_jaccard >= {threshold})
    SELECT s.doc_id, s.n_tokens
    FROM surv s ANTI JOIN drops USING (doc_id)
    ORDER BY s.doc_id
"""


ORACLE_CLEAN_CORPUS_PORTABLE = _oracle_clean_corpus_portable()


def clean_corpus_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistency twin making the PRODUCTION ``clean_corpus`` (xxhash64
    keys — no SQL oracle possible by design) driver-hash-checkable: run it
    beside the oracle-checked portable pipeline and emit the portable
    survivor count plus a boolean asserting the two survivor SETS differ
    by at most 5% (measured: identical at test scales). The oracle
    recomputes the portable count in SQL, so both a portable-pipeline
    regression AND a native-pipeline divergence flip the hash."""
    # SAME near-dup threshold (0.5) on both sides: the default native 0.8
    # would conflate legitimate threshold-band differences ([0.5, 0.8)
    # pairs) with hash-family divergence — the comparison must isolate the
    # hash family as the only variable.
    nat = clean_corpus(spark, sf_dir, neardup_threshold=0.5).select(
        "doc_id", F.lit(1).alias("_n")
    )
    por = clean_corpus_portable(spark, sf_dir).select(
        "doc_id", F.lit(1).alias("_p")
    )
    both = nat.join(por, "doc_id", "full_outer")
    return both.agg(
        F.coalesce(F.sum("_p"), F.lit(0)).cast("long").alias("n_portable"),
        (
            F.coalesce(
                F.sum(
                    F.when(F.col("_n").isNull() | F.col("_p").isNull(), 1).otherwise(0)
                ),
                F.lit(0),
            )
            <= F.lit(0.05) * F.coalesce(F.sum("_p"), F.lit(0))
        ).alias("native_matches"),
    )


ORACLE_CLEAN_CORPUS_CONSISTENCY = f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_portable, TRUE AS native_matches
    FROM ({_oracle_clean_corpus_portable()})
"""


# --- 8. near-duplicate clustering (connected components) ------------------

#: one iterative-round partition (and the single-task union-find fast path)
#: per this many edges — see connected_components
_EDGES_PER_PARTITION = 50_000


def _single_task_components(both_one_part: DataFrame) -> DataFrame:
    """Exact connected components of a ONE-partition undirected edge list
    via min-root union-find inside a single ``mapInArrow`` task (the
    ``parts == 1`` fast path of :func:`connected_components` — see the
    branch comment there). Every union keeps the SMALLER root, so each
    node's final root is the minimum node id of its component — exactly
    the min-label fixpoint the iterative path converges to. Result order
    is deterministic for a given input order (first-seen node order), and
    a retried task re-reads the same pinned partition, so output is
    bit-identical under retry. The work is executor-side: the driver never
    sees the edge list."""

    def run(batches):
        import pyarrow as pa

        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        order: list[int] = []
        for batch in batches:
            us = batch.column(0).to_pylist()
            vs = batch.column(1).to_pylist()
            for u, v in zip(us, vs):
                if u not in parent:
                    parent[u] = u
                    order.append(u)
                if v not in parent:
                    parent[v] = v
                    order.append(v)
                ru, rv = find(u), find(v)
                if ru != rv:
                    # min-root union: the smaller id stays the root
                    if ru < rv:
                        parent[rv] = ru
                    else:
                        parent[ru] = rv
        if order:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(order, type=pa.int64()),
                    pa.array([find(n) for n in order], type=pa.int64()),
                ],
                names=["node", "component"],
            )

    return both_one_part.mapInArrow(run, "node long, component long")


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over an undirected pair graph by iterative
    min-label propagation: every node repeatedly adopts the smallest label
    in its neighborhood until fixpoint. Returns ``(node, component)`` where
    component = min node id of the cluster.

    This is the genuinely-iterative operator class (SURVEY §2 note on
    non-SQL-expressible ops): each round is a neighbor-min step (join +
    min-agg over the edge list) followed by a POINTER-JUMP (label ←
    label(label), a labels self-join), so labels converge in O(log
    diameter) rounds instead of O(diameter) — the r12 profile found the
    sf0.1 portable image pair graph converging in exactly 20 plain
    min-label rounds (a ~20-hop shared-prefix chain), ONE round from the
    max_iter=20 non-convergence raise; with path halving the same graph
    closes in 5 rounds and max_iter=20 covers diameters up to ~2^20.
    Labels are checkpointed per round to cut the exponential lineage an
    iterative plan otherwise builds. By default the pin is
    ``localCheckpoint`` (executor-local blocks — fastest, fine for
    single-JVM local mode and the test gates). Pass ``checkpoint_dir`` to
    use DURABLE ``checkpoint()`` into that directory instead: on a real
    multi-executor cluster an executor loss invalidates localCheckpoint
    blocks and kills the whole iterative job non-recoverably, while a
    reliable checkpoint on shared storage (HDFS/S3) survives it — the same
    durability discipline the reference applies to its iterative state via
    HDFS snapshots (reference ``CaffeOnSpark.scala`` source/snapshot state
    paths). ``setCheckpointDir`` is per-SparkContext (global); callers
    sharing a session should pass the same directory — re-pointing an
    already-set dir emits a ``RuntimeWarning``, and CONCURRENT mixed-dir
    use on one session is unsupported (later checkpoints land in
    whichever dir was set last, breaking per-run cleanup scoping).

    CLEANUP IS THE CALLER'S: Spark never deletes reliable checkpoints at
    application exit, and each of the up-to-``max_iter`` rounds writes a
    full label-table checkpoint (plus the edge list), so a scheduled
    production job must either scope ``checkpoint_dir`` to a per-run
    directory it removes afterwards (what ``tools_cluster_posture.py``
    does with a TemporaryDirectory) or launch the session with
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (a
    context-creation conf — cannot be set from here) to reclaim
    superseded rounds as their RDDs are GC'd.
    """
    if checkpoint_dir is not None:
        sc = edges.sparkSession.sparkContext
        # setCheckpointDir is a GLOBAL per-SparkContext mutation (it
        # resolves to <dir>/<uuid> and every later checkpoint() lands
        # there). Re-pointing silently would let two concurrent callers
        # with different dirs interleave checkpoints into whichever dir
        # was set last — breaking per-run TemporaryDirectory cleanup
        # scoping and potentially deleting another job's live checkpoints
        # (r13 ADVICE). Warn loudly on a mismatch instead of hiding it;
        # sequential re-pointing still works (lazy plans pin at execution,
        # and each call's checkpoints live under the dir set here).
        current = sc.getCheckpointDir()
        if current is not None:
            from urllib.parse import urlparse

            def _norm(scheme: str, netloc: str, path: str) -> str:
                # compare URI-aware: getCheckpointDir returns a resolved
                # URI ('file:/tmp/x/<uuid>', 'hdfs://nn/ckpt/<uuid>');
                # string-slicing only the 'file:' scheme turned every
                # remote-dir comparison into cwd-relative garbage (r14
                # review finding)
                if scheme in ("", "file"):
                    return os.path.abspath(path)
                return f"{scheme}://{netloc}{path}"

            cur = urlparse(current)
            want = urlparse(checkpoint_dir)
            cur_parent = _norm(
                cur.scheme, cur.netloc, os.path.dirname(cur.path)
            )
            if cur_parent != _norm(
                want.scheme, want.netloc, want.path or checkpoint_dir
            ):
                import warnings

                warnings.warn(
                    "connected_components: re-pointing the session's "
                    f"global checkpoint dir from {cur_parent!r} to "
                    f"{checkpoint_dir!r}; concurrent mixed-dir use on one "
                    "session is unsupported (checkpoints land in whichever "
                    "dir was set last)",
                    RuntimeWarning,
                    stacklevel=2,
                )
        sc.setCheckpointDir(checkpoint_dir)

    def _pin(df: DataFrame, eager: bool) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=eager)
        return df.localCheckpoint(eager=eager)

    both = _pin(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))),
        # the edge list is re-joined EVERY round; without the pin each
        # iteration re-executed the full upstream plan (for neardup
        # clusters: the banded LSH self-join + top-N sort) once per round
        eager=False,
    )
    nodes = both.select(F.col("u").alias("node")).distinct()
    labels = nodes.withColumn("label", F.col("node"))
    # size the per-round partition count to the GRAPH, not the session:
    # the count() action materializes the checkpointed edge list (round 1
    # would have anyway) and a tiny graph (hundreds of banding-bounded
    # pairs) then runs its ~3 min-label rounds on ONE partition instead of
    # scheduling defaultParallelism near-empty tasks per job — measured
    # ~2-3x off the verification-form clusters queries at sf0.1; big
    # graphs keep full parallelism (one partition per ~50k edges).
    n_edges = both.count()
    parts = max(
        1,
        min(
            edges.sparkSession.sparkContext.defaultParallelism,
            n_edges // _EDGES_PER_PARTITION + 1,
        ),
    )
    if parts == 1:
        # r16 optimization (guide §1.2 "the distributed algorithm" /
        # §2.4 remove shuffles outright): when the whole edge list fits the
        # ONE partition the round loop would use anyway (n_edges ≤ 50k by
        # the rule above), min-label iteration pays O(log diameter) rounds
        # of join+agg+checkpoint cluster barriers (the sf0.1 image pair
        # graph: 13 rounds ≈ 130 scheduled jobs) to compute what a single
        # executor task derives in one pass over ≤ 50k rows. Run
        # min-root union-find inside ONE mapInArrow task over the pinned
        # edge list instead: exact same result (the root of every union is
        # the smaller id, so each node's final root IS the component's min
        # node id — the min-label fixpoint), no iteration, no extra
        # checkpoints. Graphs bigger than one partition keep the iterative
        # path below — at 100 TB the near-dup graph only takes this branch
        # when it genuinely is 50k edges, where one task is the right
        # plan on any cluster. Pinned equal to the iterative path by
        # ``test_dedup.py::test_single_task_union_find_matches_iterative``.
        return _single_task_components(both.coalesce(1))
    converged = False
    for rnd in range(max_iter):
        neighbor_min = (
            both.join(labels, both.v == labels.node)
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        # old and new labels meet in THIS join, so the convergence flag is
        # computed in the same pass and read off the materialized
        # checkpoint — no extra old-vs-new join per round
        stepped = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nbr_label", F.col("label"))).alias(
                "_mid"
            ),
            (F.coalesce("nbr_label", F.col("label")) < F.col("label")).alias("_c1"),
        )
        # pointer jump (path halving): adopt my label's label — read from
        # the PREVIOUS round's already-checkpointed labels, not from
        # `stepped`: a stepped-side self-join would plant the un-memoized
        # neighbor-min join subtree (the round's expensive stage over the
        # full edge list) TWICE in one physical plan (r12 review finding).
        # The one-round lag preserves every invariant — label_old(x) ≤ x
        # and labels stay node ids of x's component — and the fixpoint
        # argument is unchanged (converged ⇒ labels constant per edge and
        # idempotent ⇒ component min); contraction still composes two
        # label applications per round, so O(log diameter) rounds hold
        # (the 40-node-chain pytest pins the bound empirically).
        if rnd == 0:
            # round 1 reads the IDENTITY label map (label(x) == x), so the
            # lagged pointer jump would be a dead self-join — skip it and
            # take the neighbor-min result directly (r12 ADVICE item)
            jumped = stepped.select(
                "node",
                F.col("_mid").alias("new_label"),
                F.col("_c1").alias("_changed"),
            )
        else:
            jump = labels.select(
                F.col("node").alias("_jn"), F.col("label").alias("_jl")
            )
            jumped = stepped.join(
                jump, stepped["_mid"] == jump["_jn"], "left"
            ).select(
                "node",
                F.least(
                    F.col("_mid"), F.coalesce("_jl", F.col("_mid"))
                ).alias("new_label"),
                (
                    F.col("_c1") | (F.coalesce("_jl", F.col("_mid")) < F.col("_mid"))
                ).alias("_changed"),
            )
        new_labels = _pin(
            # labels are one row per node IN THE EDGE SET (near-dup graphs
            # are tiny relative to the corpus); coalesce to core-count
            # partitions before materializing so each iteration doesn't
            # schedule sql.shuffle.partitions near-empty tasks — driver
            # sessions without tuned confs run 200 by default
            jumped.coalesce(parts),
            eager=True,  # truncate iterative lineage
        )
        changed = new_labels.where(F.col("_changed")).limit(1).count()
        labels = new_labels.select("node", F.col("new_label").alias("label"))
        if changed == 0:
            converged = True
            break
    if not converged:
        # exhausting max_iter while labels were STILL changing means the
        # returned components are split mid-propagation — silently wrong
        # groups for any chain longer than max_iter hops; fail loudly so
        # the caller raises max_iter instead of keeping extra duplicates
        raise ValueError(
            f"connected_components did not converge in {max_iter} "
            "iterations (graph diameter exceeds max_iter); raise max_iter"
        )
    return labels.select(F.col("node"), F.col("label").alias("component"))


def neardup_clusters(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.5,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Declared query: cluster MinHash-LSH near-duplicate pairs into
    components (the dedup group assignment a pipeline keeps one survivor
    per). VALUE-checked since r6 against ``ORACLE_NEARDUP_CLUSTERS`` — a
    recursive-CTE min-label propagation over the portable pair set (the
    native and portable pair sets coincide on this corpus); clustering
    semantics additionally pinned by unit test with planted chains."""
    pairs = minhash_lsh_pairs(spark, sf_dir, threshold=threshold, top=10**6)
    return connected_components(pairs, checkpoint_dir=checkpoint_dir).orderBy(
        "node"
    )


# --- 6. benchmark decontamination ----------------------------------------

def decontaminate(
    spark: SparkSession,
    sf_dir: str,
    benchmark_source: str = "src0",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any n-gram
    with a held-out benchmark set (here: ``source = benchmark_source``).

    Output per flagged doc: distinct contaminated shingles, the doc's total
    distinct shingles, and the contamination ratio.

    Scale shape: the benchmark side is tiny relative to the corpus (eval
    sets are thousands of docs, the corpus is billions), so its distinct
    shingle set is broadcast — the corpus side streams map-side through the
    semi-join-shaped match with NO shuffle of corpus shingles; the only
    shuffle is the per-doc count, keyed by doc_id (no skew: a doc has
    bounded shingles). For benchmark sets too big to broadcast, swap in the
    bloom pre-filter then this exact join as the verifier.
    """
    docs = load_table(spark, sf_dir, "documents")
    bench_sh = (
        shingle_sets(docs.where(F.col("source") == benchmark_source), n=n)
        .select("shingle")
        .distinct()
    )
    corpus_sh = shingle_sets(docs.where(F.col("source") != benchmark_source), n=n)
    sizes = corpus_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        corpus_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        hits.join(sizes, "doc_id")
        .select(
            "doc_id",
            "n_contaminated",
            "n_shingles",
            (F.col("n_contaminated").cast("double") / F.col("n_shingles")).alias(
                "contamination"
            ),
        )
        .orderBy(F.desc("contamination"), F.asc("doc_id"))
    )


ORACLE_DECONTAMINATE = """
    WITH toks AS (
        SELECT doc_id, source,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents
    ),
    sh AS (
        SELECT doc_id, source,
               unnest(list_distinct(list_transform(range(1, len(ts) - 3),
                   i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' ||
                        ts[i+3] || ' ' || ts[i+4]))) AS shingle
        FROM toks WHERE len(ts) >= 5
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
    corpus AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0'),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY doc_id),
    hits AS (
        SELECT doc_id, COUNT(*) AS n_contaminated
        FROM corpus JOIN bench USING (shingle)
        GROUP BY doc_id
    )
    SELECT doc_id, n_contaminated, n_shingles,
           CAST(n_contaminated AS DOUBLE) / n_shingles AS contamination
    FROM hits JOIN sizes USING (doc_id)
    ORDER BY contamination DESC, doc_id ASC
"""


# --- cross-corpus (incremental) dedup -------------------------------------

def dedup_against_corpus_df(
    new_docs: DataFrame,
    ref_docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs of NEW documents against an existing REFERENCE corpus
    — the incremental-ingest shape (dedup each crawl batch against the
    corpus you already kept) that within-corpus self-join dedup cannot
    express. Returns ``(new_id, ref_id, est_jaccard)``.

    Bipartite banded MinHash-LSH in fully engine-portable arithmetic
    (char-fold shingle hash + slice-equality banding, same family as
    ``minhash_lsh_pairs_portable_df``), so the whole operator
    hash-matches a DuckDB twin.

    Scale shape: the reference side's signatures are a one-pass linear agg
    you would materialize ONCE and reuse for every batch (at 100 TB the
    corpus signature table is ~0.5 KB/doc and the new batch is orders of
    magnitude smaller than the corpus); the band join is a bipartite
    equi-join whose candidates ∝ cross-corpus collisions only — no
    within-corpus pairs, no all-pairs blowup. est_jaccard is computed from
    the already-joined signature arrays before the pair-dedup shuffle.
    """
    sig_new = minhash_signatures_portable_df(new_docs, id_col=id_col, text_col=text_col)
    sig_ref = minhash_signatures_portable_df(ref_docs, id_col=id_col, text_col=text_col)
    return _banded_candidate_pairs(
        banded_signatures(sig_new, id_col),
        banded_signatures(sig_ref, id_col),
        id_col,
        "new_id",
        "ref_id",
        self_pairs=False,
    ).where(F.col("est_jaccard") >= threshold)


def split_corpus_by_source(docs: DataFrame, boundary: int = 10):
    """The declared-query corpus split: sources ``src{boundary}..`` are the
    incoming batch, ``src0..src{boundary-1}`` the kept corpus."""
    src_num = F.substring("source", 4, 9).cast("int")
    return docs.where(src_num >= boundary), docs.where(src_num < boundary)


def dedup_against_corpus_query(
    spark: SparkSession, sf_dir: str, threshold: float = 0.35, top: int = 100
) -> DataFrame:
    """Declared query: incremental cross-corpus near-dup pairs — documents
    from sources src10+ (the 'new batch') matched against src0-9 (the
    'kept corpus'). Deterministic top ordering for the value-hash compare."""
    new_docs, ref_docs = split_corpus_by_source(load_table(spark, sf_dir, "documents"))
    return (
        dedup_against_corpus_df(new_docs, ref_docs, threshold)
        .orderBy(F.desc("est_jaccard"), F.asc("new_id"), F.asc("ref_id"))
        .limit(top)
    )


def _oracle_dedup_against_corpus(threshold: float = 0.35, top: int = 100) -> str:
    is_new = "CAST(substr(source, 4) AS INT) >= 10 AS is_new"
    return f"""
    WITH {_minhash_sig_ctes(carry_expr=is_new, carry="is_new")},
    {_bands_cte(carry="is_new")},
    est AS (
        SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS ref_id,
               CAST(list_sum(list_transform(range(1, {MINHASH_PERMS + 1}),
                   i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END))
                   AS DOUBLE) / {MINHASH_PERMS} AS est_jaccard
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band = b.band
         AND a.is_new AND NOT b.is_new
    )
    SELECT new_id, ref_id, est_jaccard FROM est
    WHERE est_jaccard >= {threshold}
    ORDER BY est_jaccard DESC, new_id ASC, ref_id ASC
    LIMIT {top}
"""


ORACLE_DEDUP_AGAINST_CORPUS = _oracle_dedup_against_corpus()


def winnow_fingerprints_docs(
    spark: SparkSession, sf_dir: str, k: int = 3, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
    2003 — the MOSS local fingerprinting algorithm): hash every k-gram of
    the token stream, slide a window of ``w`` consecutive k-gram hashes,
    select each window's minimum, and emit the distinct selected hashes
    per document. The winnowing guarantee: any shared substring of length
    ≥ w+k-1 tokens yields at least one shared fingerprint, so overlap
    detection needs only fingerprint equality — the positional complement
    of the order-free MinHash family above.

    Engine-portable arithmetic throughout (char-fold token hash and
    polynomial k-gram fold mod 2^31-1, the ``_portable_fps_cte`` grammar)
    so DuckDB reproduces every fingerprint bit-for-bit. Plan shape: STAGED
    projections — tokens→hashes, hashes→k-gram folds, folds→windowed
    mins — each array bound to a named column before the next stage
    references it repeatedly. The staging is load-bearing for throughput:
    higher-order array functions evaluate interpreted, and an inlined
    tree re-evaluates the whole token-hash subtree at every reference
    (measured 43 s inlined vs ~2 s staged at sf0.1; multi-referenced
    non-cheap aliases are exempt from CollapseProject inlining). No
    explode-then-window shuffle — the window min runs inside the row —
    then a single explode to (doc_id, fp) rows. 100 TB posture: linear in
    tokens × (k + w), no shuffle at all before the output sort;
    fingerprint density ≈ 2/(w+1) of gram count bounds the output. Short
    docs: fewer than w grams (but ≥1) emit the global min (one degenerate
    window); empty docs emit nothing."""
    docs = load_table(spark, sf_dir, "documents")
    return _winnow_fps(docs, k, w).orderBy("doc_id", "fp")


def _winnow_fps(docs: DataFrame, k: int, w: int) -> DataFrame:
    """(doc_id, fp) winnowing fingerprint rows — the staged-projection
    core shared by the declared query (sorted) and the overlap join."""
    mod = F.lit(2147483647)
    th = F.col("th")
    n_grams = F.size(th) - F.lit(k - 1)
    gh = F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
            lambda p: F.aggregate(
                F.slice(th, p, k),
                F.lit(0).cast("long"),
                lambda a, x: F.pmod(a * F.lit(1000003) + x, mod),
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))
    n_wins = F.size(F.col("gh")) - F.lit(w - 1)
    fps = F.when(
        n_wins >= 1,
        F.transform(
            F.sequence(F.lit(1), F.greatest(n_wins, F.lit(1))),
            lambda s: F.array_min(F.slice(F.col("gh"), s, w)),
        ),
    ).otherwise(
        F.when(F.size(F.col("gh")) >= 1, F.array(F.array_min(F.col("gh"))))
        .otherwise(F.array().cast("array<long>"))
    )
    # r17 (guide §1.2): the staged fold passes are the operator's whole
    # compute and chain map-side onto the scan — a single-row-group local
    # scan ran them as ONE ~1.2 s task (evlog). Rebalance the narrow rows
    # first; no-op on a real multi-split scan, per-row values invariant.
    return (
        scale_out(docs.select("doc_id", "text"))
        .select(
            "doc_id",
            F.transform(space_tokens(F.col("text")), portable_token_hash).alias(
                "th"
            ),
        )
        .select("doc_id", gh.alias("gh"))
        .select("doc_id", F.explode(F.array_distinct(fps)).alias("fp"))
    )


def winnow_overlap_pairs(
    spark: SparkSession,
    sf_dir: str,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 10,
) -> DataFrame:
    """Document-overlap candidates from winnowing fingerprints — the MOSS
    use of ``winnow_fingerprints_docs``: pairs of documents sharing at
    least ``min_shared`` selected fingerprints, with the shared count.

    Scale shape (mirrors ``ngram_jaccard_pruned``'s stop-shingle
    discipline): fingerprints appearing in more than ``max_df`` documents
    are STOP fingerprints (boilerplate) and are dropped before the
    self-join — a fingerprint shared by 1M docs would otherwise create
    5·10^11 pairs on its own. After pruning, pair count is bounded by
    Σ df·(df-1)/2 ≤ max_df · Σ df: linear in surviving fingerprint
    occurrences. One fingerprint materialization feeds both the df
    counts and the join — `engine.pin` caches it, so the
    interpreted winnowing projection (the 43 s→1.7 s staged stage)
    executes once, not once per reference; released by
    `unpersist_cached` like every shared dedup intermediate."""
    docs = load_table(spark, sf_dir, "documents")
    fps = pin(_winnow_fps(docs, k, w))
    df_counts = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    kept = fps.join(
        df_counts.where(F.col("df") <= max_df).select("fp"), "fp"
    )
    a = kept.select(F.col("fp"), F.col("doc_id").alias("doc_a"))
    b = kept.select(F.col("fp"), F.col("doc_id").alias("doc_b"))
    pairs = (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
        .orderBy("doc_a", "doc_b")
    )
    return pairs


ORACLE_WINNOW_FINGERPRINTS = """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents
    ),
    th AS (
        SELECT doc_id,
               list_transform(ts, t ->
                   list_reduce(
                       [CAST(0 AS BIGINT)] ||
                       list_transform(range(1, length(t) + 1),
                                      i -> CAST(ascii(t[i]) AS BIGINT)),
                       (a, x) -> (a * 31 + x) % 2147483647)) AS hs
        FROM toks
    ),
    grams AS (
        SELECT doc_id,
               CASE WHEN len(hs) >= 3 THEN
                   list_transform(range(1, len(hs) - 3 + 2), p ->
                       list_reduce([CAST(0 AS BIGINT)] || hs[p:p+2],
                                   (a, x) -> (a * 1000003 + x) % 2147483647))
               ELSE [] END AS gh
        FROM th
    ),
    winnowed AS (
        SELECT doc_id,
               CASE WHEN len(gh) >= 4 THEN
                   list_transform(range(1, len(gh) - 4 + 2),
                                  s -> list_min(gh[s:s+3]))
               WHEN len(gh) >= 1 THEN [list_min(gh)]
               ELSE [] END AS fps
        FROM grams
    ),
    fpd AS (
        SELECT doc_id, UNNEST(list_distinct(fps)) AS fp FROM winnowed
    )
    SELECT doc_id, fp
    FROM fpd
    ORDER BY doc_id, fp
"""

# the overlap oracle reuses the fingerprint CTE chain verbatim up to fpd
ORACLE_WINNOW_OVERLAP_PAIRS = (
    ORACLE_WINNOW_FINGERPRINTS.rsplit("SELECT doc_id, fp", 1)[0]
    + """,
    dfc AS (
        SELECT fp FROM fpd GROUP BY fp HAVING COUNT(*) <= 10
    ),
    kept AS (
        SELECT fpd.doc_id, fpd.fp FROM fpd JOIN dfc USING (fp)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
    FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
    HAVING COUNT(*) >= 2
    ORDER BY doc_a, doc_b
"""
)


# --- 9. PageRank over the near-dup graph ---------------------------------

def pagerank(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected pair graph — the graph
    centrality score corpus-curation pipelines use to pick the canonical
    member of a duplicate cluster (the most-connected near-dup is the one
    every variant derives from) and, at web scale, to quality-weight
    domains. Returns ``(node, pagerank)``. No reference counterpart
    (the reference has no graph operators); LLM-pipeline extension.

    The iterative-operator pattern of ``connected_components`` /
    ``kmeans_fit``: each iteration is one equi-join of the edge list with
    the rank table plus one hash aggregation; ranks are materialized per
    round (localCheckpoint) to truncate iterative lineage. The node count
    is the only driver scalar (same metadata-size class as the k-means
    centroid collect).

    Cross-engine determinism (the floor-grid doctrine of
    ``decayed_engagement``): rank/degree divisions are IEEE-exact, each
    edge contribution is FLOORED onto the 1e-12 grid and summed as exact
    integer units (powers-of-two rank values otherwise land exactly on
    round-grid midpoints where bround and DuckDB's decimal cast
    disagree); the damping update is two IEEE ops in a fixed order. The
    unrolled-CTE oracle replays the identical arithmetic.
    """
    both = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .localCheckpoint(eager=False)
    )
    deg = both.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    n = deg.count()
    spark = edges.sparkSession
    if n == 0:
        return spark.createDataFrame([], "node long, pagerank double")
    base = float(1.0 - damping) / n
    ranks = deg.select(F.col("u").alias("node"), F.lit(1.0 / n).alias("rank"))
    cores = spark.sparkContext.defaultParallelism
    for _ in range(iters):
        contrib = (
            both.join(deg, "u")
            .join(ranks, both.u == ranks.node)
            .select(
                F.col("v"),
                F.floor(F.col("rank") / F.col("deg") * F.lit(1e12)).alias("cgrid"),
            )
        )
        ranks = (
            contrib.groupBy(F.col("v").alias("node"))
            .agg(
                (
                    F.lit(base)
                    + F.lit(damping) * (F.sum("cgrid") / F.lit(1e12))
                ).alias("rank")
            )
            .coalesce(cores)
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", F.col("rank").alias("pagerank"))


def neardup_pagerank(
    spark: SparkSession, sf_dir: str, threshold: float = 0.5
) -> DataFrame:
    """Declared query: PageRank over the MinHash-LSH near-duplicate graph
    (the canonical-pick score per dedup cluster member). Edges are the
    native xxhash64 banded pairs; the oracle replays the portable pair set
    (identical on this corpus, as pinned by ``minhash_native_consistency``)
    through a 3-iteration unrolled-CTE PageRank with the same floor-grid
    arithmetic."""
    pairs = minhash_lsh_pairs(spark, sf_dir, threshold=threshold, top=10**6)
    return pagerank(pairs).orderBy("node")


def _oracle_neardup_pagerank(
    threshold: float = 0.5, iters: int = 3, damping: float = 0.85
) -> str:
    it = """
    r{k} AS (
        SELECT e.v AS node,
               (1.0 - {d}) / (SELECT n FROM nn)
               + {d} * (CAST(SUM(CAST(floor(r.rank / d.deg * 1e12) AS BIGINT))
                             AS BIGINT) / 1e12) AS rank
        FROM edges e
        JOIN deg d ON e.u = d.u
        JOIN r{p} r ON e.u = r.node
        GROUP BY e.v
    )"""
    chain = ",".join(
        it.format(k=k, p=k - 1, d=damping) for k in range(1, iters + 1)
    )
    return f"""
    WITH {_minhash_sig_ctes()},
    {_bands_cte()},
    est AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id
        WHERE CAST(list_sum(list_transform(range(1, {MINHASH_PERMS + 1}),
                   i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1 ELSE 0 END))
                   AS DOUBLE) / {MINHASH_PERMS} >= {threshold}
    ),
    edges AS (
        SELECT id_a AS u, id_b AS v FROM est
        UNION ALL
        SELECT id_b AS u, id_a AS v FROM est
    ),
    deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    r0 AS (SELECT u AS node, 1.0 / (SELECT n FROM nn) AS rank FROM deg),
    {chain}
    SELECT node, rank AS pagerank FROM r{iters} ORDER BY node
"""


ORACLE_NEARDUP_PAGERANK = _oracle_neardup_pagerank()


def edit_distance_dup_pairs(
    docs: DataFrame,
    prefix_len: int = 40,
    max_dist: int = 3,
    max_block: int = 1000,
) -> DataFrame:
    """Blocked edit-distance near-dup pairs — the record-linkage classic
    the shingle families can't replace: Levenshtein tolerates character
    typos/OCR noise that break token identity entirely (a one-char edit
    inside a word changes the whole token, so Jaccard/MinHash under-score
    it, while edit distance counts it as 1).

    Candidate generation is two-pass BLOCKING on the normalized prefix
    (first-8 and last-8 characters): a pair survives if it collides in
    EITHER block, so ≤``max_dist`` edits confined to one end still meet in
    the other end's block (single-key blocking loses exactly those; pairs
    whose edits hit BOTH anchors are the MinHash family's catch). Exact
    Levenshtein runs only within blocks — never all-pairs — BANDED at
    ``max_dist`` (Spark's threshold form: O(len·k) instead of O(len²) DP,
    returns −1 above the band — measured 13× fewer candidates and ~20×
    less DP work than 4-char anchors + full DP on the synthetic corpus,
    identical match set). Blocks larger than ``max_block`` are dropped
    whole (the stop-shingle rule applied to blocks: a hot block means a
    boilerplate prefix whose pairs the cheaper fingerprint families
    already catch; at 100 TB this cap is what bounds the
    quadratic-within-block term). Candidate count ∝ Σ block_size²,
    shuffles on 8-char keys.

    Rows with text shorter than 16 chars are excluded so both engines'
    end-anchored substring stays in range. Returns (doc_a, doc_b,
    edit_dist), doc_a < doc_b.
    """
    p = docs.where(F.length("text") >= 16).select(
        "doc_id", F.lower(F.substring("text", 1, prefix_len)).alias("pre")
    )
    # NOT pinned, deliberately (r16, measured): this table feeds the
    # hot-block agg, the anti-join and both self-join sides, but it is
    # CORPUS-CARDINALITY (one 48-char row per doc per anchor) — pinning it
    # tripled process-tree CPU at sf0.1 (4.8 → 14.8 s: columnar cache
    # build + eager fill cost more than four column-pruned re-scans of
    # the pruned projection), and at scale an in-memory copy of a
    # corpus-sized table is the wrong trade. The id-sized pins elsewhere
    # in this module stay; see OPTIMIZATION_r16.md finding 8.
    blocks = (
        p.select("doc_id", "pre", F.substring("pre", 1, 8).alias("blk"))
        .union(
            p.select(
                "doc_id",
                "pre",
                F.expr("substring(pre, length(pre) - 7, 8)").alias("blk"),
            )
        )
        .distinct()
    )
    hot = (
        blocks.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > max_block)
        .select("blk")
    )
    blocks = blocks.join(F.broadcast(hot), "blk", "left_anti")
    a = blocks.select(
        F.col("blk"), F.col("doc_id").alias("doc_a"), F.col("pre").alias("pa")
    )
    b = blocks.select(
        F.col("blk"), F.col("doc_id").alias("doc_b"), F.col("pre").alias("pb")
    )
    return (
        a.join(b, "blk")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pa", "pb")
        .distinct()
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("pa", "pb", max_dist).alias("edit_dist"),
        )
        .where(F.col("edit_dist") >= 0)
    )


def edit_distance_dup_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return edit_distance_dup_pairs(load_table(spark, sf_dir, "documents"))


ORACLE_EDIT_DISTANCE_DUP_PAIRS = """
    WITH p AS (SELECT doc_id, lower(substring(text, 1, 40)) AS pre
               FROM documents WHERE length(text) >= 16),
    blocks AS (
        SELECT doc_id, pre, substring(pre, 1, 8) AS blk FROM p
        UNION
        SELECT doc_id, pre, substring(pre, length(pre) - 7, 8) AS blk FROM p
    ),
    kept AS (
        SELECT * FROM blocks
        WHERE blk NOT IN (SELECT blk FROM blocks GROUP BY blk
                          HAVING COUNT(*) > 1000)
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.pre AS pa, b.pre AS pb
        FROM kept a JOIN kept b ON a.blk = b.blk AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, levenshtein(pa, pb) AS edit_dist
    FROM pairs
    WHERE levenshtein(pa, pb) <= 3
"""
