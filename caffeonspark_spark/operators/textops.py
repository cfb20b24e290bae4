"""Text-analysis operators over the documents table (LLM-pipeline extension).

Declared queries: per-doc quality scoring, language-ID, corpus token stats,
bigram top-k. All are Catalyst higher-order-function expressions — the text
never leaves the JVM, and each query is one scan (+ at most one shuffle for
the corpus-level aggs). Oracle twins use DuckDB list lambdas with the same
tokenization (split on a single space, drop empties) and the same
integer-arithmetic-then-one-division recipe so values hash-match exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from caffeonspark_spark.catalog import load_table
from caffeonspark_spark.functions.text import LANG_MARKERS, STOPWORDS, ngrams, predict_lang

_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)


def _toks(text_col: str = "text") -> F.Column:
    from caffeonspark_spark.functions.text import space_tokens

    return space_tokens(text_col)


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: token count, char count, stopword ratio,
    mean token length (quality-scoring heuristics for corpus filtering)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks()
    n_tokens = F.size(toks).cast("long")
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("long")
    len_sum = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.length(F.col("text")).cast("long").alias("n_chars_txt"),
        stop_hits.alias("stop_hits"),
        (stop_hits.cast("double") / n_tokens).alias("stopword_ratio"),
        (len_sum.cast("double") / n_tokens).alias("mean_token_len"),
    )


ORACLE_DOC_QUALITY = f"""
    SELECT doc_id,
           CAST(len(ts) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_txt,
           CAST(len(list_filter(ts, t -> list_contains([{_STOP_SQL}], t))) AS BIGINT) AS stop_hits,
           CAST(len(list_filter(ts, t -> list_contains([{_STOP_SQL}], t))) AS DOUBLE)
             / len(ts) AS stopword_ratio,
           CAST(list_sum(list_transform(ts, t -> length(t))) AS DOUBLE)
             / len(ts) AS mean_token_len
    FROM (SELECT doc_id, text,
                 list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
          FROM documents)
"""


def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID: marker-word hit counts per language + predicted language
    (priority tie rule, see functions/text.py:predict_lang)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks()
    scores = {
        lg: F.size(F.filter(toks, lambda t: t.isin(*LANG_MARKERS[lg]))).cast("long")
        for lg in ("en", "de", "fr", "es")
    }
    return docs.select(
        "doc_id",
        "lang",
        *[scores[lg].alias(f"score_{lg}") for lg in scores],
        predict_lang(F.col("text")).alias("pred_lang"),
    )


def _markers_sql(lg: str) -> str:
    return ", ".join(f"'{w}'" for w in LANG_MARKERS[lg])


ORACLE_DOC_LANG_ID = f"""
    SELECT doc_id, lang, score_en, score_de, score_fr, score_es,
           CASE WHEN score_en + score_de + score_fr + score_es = 0 THEN 'und'
                WHEN score_en >= greatest(score_de, score_fr, score_es) THEN 'en'
                WHEN score_de >= greatest(score_fr, score_es) THEN 'de'
                WHEN score_fr >= score_es THEN 'fr'
                ELSE 'es' END AS pred_lang
    FROM (
        SELECT doc_id, lang,
               CAST(len(list_filter(ts, t -> list_contains([{_markers_sql('en')}], t))) AS BIGINT) AS score_en,
               CAST(len(list_filter(ts, t -> list_contains([{_markers_sql('de')}], t))) AS BIGINT) AS score_de,
               CAST(len(list_filter(ts, t -> list_contains([{_markers_sql('fr')}], t))) AS BIGINT) AS score_fr,
               CAST(len(list_filter(ts, t -> list_contains([{_markers_sql('es')}], t))) AS BIGINT) AS score_es
        FROM (SELECT doc_id, lang,
                     list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
              FROM documents)
    )
"""


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token statistics (single-row summary)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(_toks()).alias("token"))
    return tok.agg(
        F.count(F.lit(1)).alias("total_tokens"),
        F.countDistinct(F.col("token")).alias("distinct_tokens"),
    )


ORACLE_TOKEN_STATS = """
    SELECT COUNT(*) AS total_tokens, COUNT(DISTINCT token) AS distinct_tokens
    FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
    WHERE token <> ''
"""


def bigram_topk(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """Top-k word bigrams by frequency (n-gram analysis)."""
    docs = load_table(spark, sf_dir, "documents")
    bg = docs.select(F.explode(ngrams(_toks(), n=2)).alias("bigram"))
    return (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(k)
    )


ORACLE_BIGRAM_TOPK = """
    SELECT bigram, COUNT(*) AS n
    FROM (
        SELECT unnest(list_transform(range(1, len(ts)),
                                     i -> ts[i] || ' ' || ts[i+1])) AS bigram
        FROM (SELECT list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
              FROM documents)
        WHERE len(ts) >= 2
    )
    GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 20
"""


def tfidf_topk(spark: SparkSession, sf_dir: str, k: int = 100) -> DataFrame:
    """TF-IDF-style term weighting, oracle-exact form: per (doc, token) term
    frequency, document frequency, and the weight tf * N / df as one double
    division of integers (log-free so libm differences can't bite); top-k by
    weight with unique tiebreaks."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(_toks()).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.count()  # tiny driver-side scalar, same as oracle's COUNT(*)
    return (
        tf.join(F.broadcast(df_), "token")
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            (F.col("tf").cast("double") * F.lit(float(n_docs)) / F.col("df")).alias("weight"),
        )
        .orderBy(F.desc("weight"), F.asc("doc_id"), F.asc("token"))
        .limit(k)
    )


ORACLE_TFIDF_TOPK = """
    WITH tok AS (
        SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS token
        FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.token, tf.tf, df.df,
           CAST(tf.tf AS DOUBLE) * n.n_docs / df.df AS weight
    FROM tf JOIN df ON tf.token = df.token, n
    ORDER BY weight DESC, tf.doc_id ASC, tf.token ASC
    LIMIT 100
"""


# BPE-style pre-tokenizer pattern (simplified GPT-2 family: contraction
# suffixes, letter runs, digit runs, single punctuation). Uses only syntax
# shared by Java regex (Spark) and RE2 (DuckDB) — no lookahead — so the
# count is oracle-exact.
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)|[a-z]+|[0-9]+|[^a-z0-9\s]"


def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under two tokenizations: whitespace and a
    BPE-ish pre-tokenizer regex (the LLM-pipeline token-budget estimator).
    Pure Catalyst: regexp_extract_all + size, inside codegen."""
    docs = load_table(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(F.filter(F.split(low, r"\s+"), lambda t: t != F.lit(""))).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(low, F.lit(BPE_PATTERN), 0)).cast("long").alias("n_bpe_tokens"),
    )


ORACLE_BPE_TOKEN_STATS = r"""
    SELECT doc_id,
           len(list_filter(regexp_split_to_array(lower(text), '\s+'),
                           t -> t <> '')) AS n_ws_tokens,
           len(regexp_extract_all(lower(text),
               '''(?:s|t|re|ve|m|ll|d)|[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens
    FROM documents
"""


def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data cleaning pipeline: keep documents passing the composed
    quality gates (length window, stopword floor, punctuation ceiling) —
    the filter stage that precedes dedup in an LLM data pipeline. All
    predicates are scan-adjacent Catalyst expressions."""
    from caffeonspark_spark.functions.text import STOPWORDS

    docs = load_table(spark, sf_dir, "documents")
    toks = _toks()
    n_tokens = F.size(toks).cast("long")
    sw = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double") / n_tokens
    stripped = F.regexp_replace(F.col("text"), r"[^a-zA-Z0-9\s]", "")
    p_ratio = (F.length(F.col("text")) - F.length(stripped)).cast("double") / F.length(
        F.col("text")
    )
    return (
        docs.select(
            "doc_id",
            n_tokens.alias("n_tokens"),
            sw.alias("sw_ratio"),
            p_ratio.alias("p_ratio"),
        )
        .where(
            (F.col("n_tokens") >= 10)
            & (F.col("n_tokens") <= 5000)
            & (F.col("sw_ratio") >= 0.05)
            & (F.col("p_ratio") <= 0.2)
        )
    )


ORACLE_QUALITY_FILTER = """
    SELECT doc_id, n_tokens, sw_ratio, p_ratio FROM (
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
"""


def chunk_documents(
    spark: SparkSession, sf_dir: str, chunk_tokens: int = 40, stride: int = 30
) -> DataFrame:
    """LLM context-window chunker: split each document into overlapping
    token windows of ``chunk_tokens`` with step ``stride`` (overlap =
    chunk_tokens - stride), one output row per chunk.

    Pure Catalyst (sequence → transform/slice → posexplode): the rebuild's
    UDTF-shaped operator expressed as explode-of-array so it stays in
    codegen — per-row Python UDTFs would be the slow path here. Output is
    (doc_id, chunk_idx, chunk_text, n_chunk_tokens).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks()
    size = F.size(toks)
    # window start positions: 1, 1+stride, ... while start <= size (at least
    # one chunk per non-empty doc; final partial chunk included)
    starts = F.when(size > 0, F.sequence(F.lit(1), size, F.lit(stride))).otherwise(
        F.array().cast("array<int>")
    )
    chunks = F.transform(starts, lambda s: F.array_join(F.slice(toks, s, chunk_tokens), " "))
    out = docs.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk_text"))
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        "chunk_text",
        F.size(F.split(F.col("chunk_text"), " ")).cast("long").alias("n_chunk_tokens"),
    ).where(F.col("chunk_text") != "")


ORACLE_CHUNK_DOCUMENTS = """
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents
    ),
    chunks AS (
        SELECT doc_id,
               CAST((s - 1) / 30 AS INT) AS chunk_idx,
               array_to_string(ts[s : s + 39], ' ') AS chunk_text
        FROM (SELECT doc_id, ts, unnest(range(1, len(ts) + 1, 30)) AS s FROM toks)
    )
    SELECT doc_id, chunk_idx, chunk_text,
           CAST(len(string_split(chunk_text, ' ')) AS BIGINT) AS n_chunk_tokens
    FROM chunks WHERE chunk_text <> ''
"""


def heavy_hitter_tokens(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Frequent-token heavy hitters via the approx_top_k sketch.

    The exact form (groupBy token → count → top-k) shuffles every distinct
    token; the sketch form keeps a bounded-size summary per partition and
    merges summaries — shuffle bytes ∝ sketch size, not vocabulary. That is
    the 100 TB shape for "what are the most common tokens/urls/boilerplate
    lines in the corpus". Rows-only check (sketch counts are approximate by
    contract); the unit test pins sketch-vs-exact agreement at test scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_toks()).alias("token"))
    return (
        toks.agg(F.expr(f"approx_top_k(token, {k})").alias("top"))
        .select(F.explode("top").alias("e"))
        .select(
            F.col("e.item").alias("token"),
            F.col("e.count").cast("long").alias("n"),
        )
        .orderBy(F.desc("n"), F.asc("token"))
    )


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: chars-per-token and
    tokens-per-doc — the signal a training pipeline watches to spot
    languages a tokenizer fragments badly (high fertility = more tokens
    per unit text = wasted context budget). One pass, one (lang) hash agg
    with map-side partials; ratios are single IEEE divisions of exact
    long sums, so hash-exact."""
    docs = load_table(spark, sf_dir, "documents")
    ts = _toks()
    per_doc = docs.select(
        "lang",
        F.size(ts).cast("long").alias("_nt"),
        F.aggregate(
            F.transform(ts, lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("_nc"),
    )
    g = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nt").alias("total_tokens"),
        F.sum("_nc").alias("total_token_chars"),
    )
    return g.select(
        "lang",
        "n_docs",
        "total_tokens",
        (F.col("total_token_chars").cast("double") / F.col("total_tokens")).alias(
            "chars_per_token"
        ),
        (F.col("total_tokens").cast("double") / F.col("n_docs")).alias(
            "tokens_per_doc"
        ),
    ).orderBy("lang")


ORACLE_TOKENIZER_FERTILITY = """
    WITH per_doc AS (
        SELECT lang,
               CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> ''))
                    AS BIGINT) AS nt,
               CAST(list_sum(list_transform(
                        list_filter(string_split(lower(text), ' '), t -> t <> ''),
                        t -> length(t))) AS BIGINT) AS nc
        FROM documents
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS total_tokens,
           CAST(SUM(nc) AS DOUBLE) / SUM(nt) AS chars_per_token,
           CAST(SUM(nt) AS DOUBLE) / COUNT(*) AS tokens_per_doc
    FROM per_doc GROUP BY lang ORDER BY lang
"""


def vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary diversity per source: type-token ratio (distinct tokens
    over total tokens) — low TTR flags templated/boilerplate-heavy
    sources, a standard corpus-quality signal. One explode + one
    two-phase distinct agg per source."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(_toks()).alias("token"))
    return (
        toks.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_tokens"),
            F.countDistinct("token").alias("distinct_tokens"),
        )
        .select(
            "source",
            "total_tokens",
            "distinct_tokens",
            (
                F.col("distinct_tokens").cast("double") / F.col("total_tokens")
            ).alias("type_token_ratio"),
        )
        .orderBy("source")
    )


ORACLE_VOCAB_GROWTH = """
    WITH t AS (
        SELECT source,
               unnest(list_filter(string_split(lower(text), ' '), t -> t <> ''))
                 AS token
        FROM documents
    )
    SELECT source, COUNT(*) AS total_tokens,
           COUNT(DISTINCT token) AS distinct_tokens,
           CAST(COUNT(DISTINCT token) AS DOUBLE) / COUNT(*) AS type_token_ratio
    FROM t GROUP BY source ORDER BY source
"""


def packing_efficiency(spark: SparkSession, sf_dir: str, budget: int = 512) -> DataFrame:
    """Packing-efficiency report over ``pack_documents``: per-pack token
    totals rolled into a one-row summary — pack count, mean tokens per
    pack, and the fraction of packs whose assigned tokens exceed the
    budget (offset-based packing lets a document straddle its boundary).
    The observability metric a pretraining pipeline tracks to size its
    sequence budget; composes the declared packing operator, one extra
    (pack) hash agg."""
    packs = pack_documents(spark, sf_dir, budget=budget)
    per_pack = packs.groupBy("source", "pack_id").agg(
        F.sum("n_tokens").alias("pack_tokens")
    )
    return per_pack.agg(
        F.count(F.lit(1)).alias("n_packs"),
        F.sum("pack_tokens").alias("total_tokens"),
        (F.sum("pack_tokens").cast("double") / F.count(F.lit(1))).alias(
            "mean_tokens_per_pack"
        ),
        (
            F.sum(F.when(F.col("pack_tokens") > budget, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("overflow_frac"),
    )


ORACLE_PACKING_EFFICIENCY = """
    WITH base AS (
        SELECT doc_id, source,
               len(list_filter(string_split(lower(text), ' '), t -> t <> ''))
                 AS n_tokens,
               CAST(FLOOR((SUM(len(list_filter(string_split(lower(text), ' '),
                                               t -> t <> '')))
                           OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING)
                     - len(list_filter(string_split(lower(text), ' '),
                                       t -> t <> ''))) / 512.0)
                    AS BIGINT) AS pack_id
        FROM documents
    ),
    per_pack AS (
        SELECT source, pack_id, CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
        FROM base GROUP BY source, pack_id
    )
    SELECT COUNT(*) AS n_packs,
           CAST(SUM(pack_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(pack_tokens) AS DOUBLE) / COUNT(*) AS mean_tokens_per_pack,
           CAST(SUM(CASE WHEN pack_tokens > 512 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS overflow_frac
    FROM per_pack
"""


def heavy_hitter_check(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Accuracy twin for the approx_top_k heavy-hitter sketch (the
    recall-twin pattern): one row asserting (a) the sketch reported k
    items, (b) its top item IS the exact most frequent token, and (c)
    every reported count is within ±2% of that token's exact count. The
    oracle recomputes the exact top token count in SQL, so a sketch
    regression flips the hash. The exact side reuses the token groupBy the
    sketch is meant to replace — fine at verification scale, the point of
    the twin."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_toks()).alias("token"))
    sketch = (
        toks.agg(F.expr(f"approx_top_k(token, {k})").alias("top"))
        .select(F.explode("top").alias("e"))
        .select(
            F.col("e.item").alias("token"),
            F.col("e.count").cast("long").alias("approx_n"),
        )
    )
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact_n"))
    top1_exact = exact.orderBy(F.desc("exact_n"), F.asc("token")).limit(1)
    joined = sketch.join(exact, "token")
    stats = joined.agg(
        F.count(F.lit(1)).alias("n_reported"),
        F.max(
            F.when(
                F.abs(F.col("approx_n") - F.col("exact_n"))
                > F.lit(0.02) * F.col("exact_n"),
                1,
            ).otherwise(0)
        ).alias("_any_off"),
    )
    top1_sketch = sketch.orderBy(F.desc("approx_n"), F.asc("token")).limit(1)
    return (
        stats.crossJoin(
            top1_exact.select(
                F.col("token").alias("top_token"), F.col("exact_n").alias("top_exact_n")
            )
        )
        .crossJoin(top1_sketch.select(F.col("token").alias("_sk_token")))
        .select(
            F.col("n_reported"),
            "top_token",
            "top_exact_n",
            (F.col("_sk_token") == F.col("top_token")).alias("top1_matches"),
            (F.col("_any_off") == 0).alias("counts_within_2pct"),
        )
    )


def oracle_heavy_hitter_check(k: int = 10) -> str:
    return f"""
    WITH counts AS (
        SELECT token, COUNT(*) AS n FROM (
            SELECT unnest(list_filter(string_split(lower(text), ' '),
                                      t -> t <> '')) AS token
            FROM documents)
        GROUP BY token
    ),
    top1 AS (SELECT token, n FROM counts ORDER BY n DESC, token ASC LIMIT 1)
    SELECT CAST({k} AS BIGINT) AS n_reported,
           token AS top_token,
           n AS top_exact_n,
           TRUE AS top1_matches,
           TRUE AS counts_within_2pct
    FROM top1
"""


BM25_TERMS = ("join", "scan", "window")


def bm25_rank(
    spark: SparkSession,
    sf_dir: str,
    terms: tuple[str, ...] = BM25_TERMS,
    k1: float = 1.2,
    b: float = 0.75,
    top: int = 20,
) -> DataFrame:
    """BM25 relevance ranking of the corpus against a fixed term set —
    the retrieval scorer used to curate training data by query relevance.

    Shape: ONE tokenization pass computes per-doc length AND every
    term's tf in the same projection (per-term higher-order filters over
    the array — no explode of all tokens: fan-out stays |docs| × |query
    terms|); the resulting (doc_id, dl, tf…) rows are metadata-sized
    (integers only, never tokens) and pinned, so the corpus-stats
    aggregate, the df counts and the scoring branch all read the pinned
    table instead of each re-tokenizing the corpus (r16, guide §5/§2.2:
    the old toks → {lens, tf} staging tokenized the corpus three times
    per run). ``dl`` rides the per-term explode, so the old lens re-join
    is gone too. Scores land on the bround(9) grid so the floating
    ln/division chain hash-matches engines with differently-rounded
    libm. At 100 TB: the only per-token work is array construction paid
    exactly once; everything after is per-doc × per-term over pinned
    integers.
    """
    from caffeonspark_spark.engine import pin

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", _toks().alias("ts"))

    def _tf(term: str):
        # one-arg lambda on purpose: F.filter dispatches on lambda arity
        # (two args would receive (element, index))
        return F.size(F.filter(F.col("ts"), lambda x: x == F.lit(term)))

    base = pin(
        toks.select(
            "doc_id",
            F.size("ts").alias("dl"),
            *[_tf(t).alias(f"tf{i}") for i, t in enumerate(terms)],
        ),
    )
    stats = F.broadcast(
        base.agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
        )
    )
    tf = (
        base.select(
            "doc_id",
            "dl",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("term"),
                            F.col(f"tf{i}").alias("tf"),
                        )
                        for i, t in enumerate(terms)
                    ]
                )
            ).alias("tt"),
        )
        .select("doc_id", "dl", F.col("tt.term").alias("term"), F.col("tt.tf").alias("tf"))
        .where(F.col("tf") > 0)
    )
    df_counts = F.broadcast(
        tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    contrib = idf * (
        F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.join(df_counts, "term")
        .crossJoin(stats)
        .groupBy("doc_id")
        # fsum doctrine: round each term's contribution onto the 1e-9 grid,
        # then sum exactly in decimal — order-independent and oracle-matched
        .agg(
            F.sum(F.bround(contrib, 9).cast("decimal(30,9)"))
            .cast("double")
            .alias("bm25")
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(top)
    )


ORACLE_BM25_RANK = """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents
    ),
    lens AS (SELECT doc_id, len(ts) AS dl FROM toks),
    stats AS (
        SELECT COUNT(*) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM lens
    ),
    terms(term) AS (VALUES ('join'), ('scan'), ('window')),
    tf AS (
        SELECT doc_id, term,
               len(list_filter(ts, x -> x = term)) AS tf
        FROM toks CROSS JOIN terms
    ),
    tf_pos AS (SELECT * FROM tf WHERE tf > 0),
    dfc AS (SELECT term, COUNT(*) AS df FROM tf_pos GROUP BY term)
    SELECT doc_id,
           CAST(SUM(CAST(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * (tf * (1.2 + 1.0)
                  / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)))
           AS DECIMAL(30,9))) AS DOUBLE) AS bm25
    FROM tf_pos
    JOIN dfc USING (term)
    JOIN lens USING (doc_id)
    CROSS JOIN stats
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC
    LIMIT 20
"""


def rrf_fusion(
    spark: SparkSession, sf_dir: str, kq: int = 60, depth: int = 20, top: int = 10
) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the DENSE ranking
    (exact cosine top-``depth`` for the vec_id=0 query) and the SPARSE
    ranking (BM25 top-``depth`` for the fixed term set) —
    score = Σ 1/(kq + rank) over the lists a document appears in. The
    standard fusion for hybrid search; no score normalization needed,
    which is what makes it oracle-checkable (ranks are integers, the
    fusion is two exact divisions). Both input rankings are broadcast-
    small (top-``depth``), so the fusion is driver-light metadata work on
    top of the two retrieval plans."""
    from caffeonspark_spark.operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    dense = (
        cosine_topk(emb, emb.where(F.col("vec_id") == 0), k=depth)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.row_number()
            .over(
                Window.orderBy(F.desc("cos_sim"), F.asc("vec_id"))
            )
            .alias("r_dense"),
        )
    )
    sparse = bm25_rank(spark, sf_dir, top=depth).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc_id")))
        .alias("r_sparse"),
    )
    fused = dense.join(sparse, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(F.lit(1.0) / (F.lit(kq) + F.col("r_dense")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(kq) + F.col("r_sparse")), F.lit(0.0))
        ).alias("rrf"),
    )
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(top)


def oracle_rrf_fusion(kq: int = 60, depth: int = 20, top: int = 10) -> str:
    from caffeonspark_spark.operators.similarity import ORACLE_COSINE_TOPK

    return f"""
    WITH dense_raw AS ({ORACLE_COSINE_TOPK.replace("LIMIT 10", f"LIMIT {depth}")}),
    dense AS (
        SELECT vec_id AS doc_id,
               row_number() OVER (ORDER BY cos_sim DESC, vec_id ASC) AS r_dense
        FROM dense_raw
    ),
    sparse_raw AS ({ORACLE_BM25_RANK.replace("LIMIT 20", f"LIMIT {depth}")}),
    sparse AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r_sparse
        FROM sparse_raw
    )
    SELECT COALESCE(d.doc_id, s.doc_id) AS doc_id,
           COALESCE(CAST(1.0 AS DOUBLE) / ({kq} + d.r_dense), CAST(0.0 AS DOUBLE))
             + COALESCE(CAST(1.0 AS DOUBLE) / ({kq} + s.r_sparse), CAST(0.0 AS DOUBLE)) AS rrf
    FROM dense d FULL OUTER JOIN sparse s ON d.doc_id = s.doc_id
    ORDER BY rrf DESC, doc_id ASC
    LIMIT {top}
"""


# conservative, RE2/Java-regex-compatible patterns (no lookbehind) so the
# Spark plan and the DuckDB oracle apply byte-identical substitutions
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
# \b guards (supported by both Java regex and RE2) keep digit runs embedded
# in longer numbers — order ids, card numbers, hashes — from getting a
# partial '[PHONE]' substitution; only standalone phone-shaped runs match.
PII_PHONE = r"\+?\b(?:[0-9]{1,3}[-. ])?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}\b"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: replace emails / phone numbers / IPv4 addresses with
    typed placeholder tags, reporting how many docs changed.

    Pure regexp_replace chain — stays inside whole-stage codegen, no UDF;
    the patterns avoid lookaround so Java regex (Spark) and RE2 (DuckDB)
    substitute identically. At 100 TB this is a map-only pass: no shuffle
    except the final 1-row count aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL, "[EMAIL]"),
            PII_PHONE,
            "[PHONE]",
        ),
        PII_IPV4,
        "[IP]",
    )
    return (
        docs.select("doc_id", red.alias("clean_text"), "text")
        .select(
            "doc_id",
            "clean_text",
            (F.col("clean_text") != F.col("text")).cast("int").alias("was_redacted"),
        )
    )


ORACLE_REDACT_PII = f"""
    SELECT doc_id,
           regexp_replace(
               regexp_replace(
                   regexp_replace(text, '{PII_EMAIL}', '[EMAIL]', 'g'),
                   '{PII_PHONE}', '[PHONE]', 'g'),
               '{PII_IPV4}', '[IP]', 'g') AS clean_text,
           CAST(regexp_replace(
               regexp_replace(
                   regexp_replace(text, '{PII_EMAIL}', '[EMAIL]', 'g'),
                   '{PII_PHONE}', '[PHONE]', 'g'),
               '{PII_IPV4}', '[IP]', 'g') <> text AS INT) AS was_redacted
    FROM documents
"""


def pack_documents(
    spark: SparkSession, sf_dir: str, budget: int = 512, subshard_width: int = 128
) -> DataFrame:
    """Sequence packing: assign documents to fixed-token-budget packs for
    pretraining batches (offset-based packing: a doc's pack is its running
    token offset within its source, ordered by doc_id, divided by the
    budget).

    HIERARCHICAL running sum — a single ``Window.partitionBy("source")``
    would hand one task ALL rows of a source (billions at 100 TB), so the
    cumsum is two-level with identical output:

    1. local cumsum within ``(source, sub_shard)`` where sub_shard =
       ``floor(doc_id / subshard_width)`` — contiguous doc_id ranges, so
       each task owns at most ``subshard_width`` rows;
    2. per-sub-shard token totals (one row per sub-shard — metadata-sized)
       get their own tiny per-source cumsum, and the resulting offsets are
       broadcast-joined back.

    ``cum_tokens`` = local cumsum + sub-shard offset equals the flat
    per-source running sum exactly, so pack ids are unchanged and the
    oracle stays a plain window. Size ``subshard_width`` so the offsets
    table stays driver-broadcastable (e.g. 2^20 at petabyte scale: 10^10
    docs → ~10k offset rows); the small default exercises the hierarchy at
    test scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(_toks())
    base = docs.select(
        "doc_id",
        "source",
        n_tok.cast("long").alias("n_tokens"),
        F.floor(F.col("doc_id") / F.lit(subshard_width)).alias("_sub"),
    )
    w_local = Window.partitionBy("source", "_sub").orderBy(F.asc("doc_id"))
    local = base.withColumn("_local_cum", F.sum("n_tokens").over(w_local))
    totals = local.groupBy("source", "_sub").agg(F.sum("n_tokens").alias("_sub_total"))
    w_shard = Window.partitionBy("source").orderBy(F.asc("_sub"))
    offsets = totals.withColumn(
        "_offset", F.sum("_sub_total").over(w_shard) - F.col("_sub_total")
    ).select("source", "_sub", "_offset")
    return (
        local.join(F.broadcast(offsets), ["source", "_sub"])
        .withColumn("cum_tokens", F.col("_local_cum") + F.col("_offset"))
        .withColumn(
            "pack_id",
            F.floor((F.col("cum_tokens") - F.col("n_tokens")) / F.lit(budget)).cast("long"),
        )
        .select("doc_id", "source", "n_tokens", "cum_tokens", "pack_id")
    )


ORACLE_PACK_DOCUMENTS = """
    SELECT doc_id, source,
           CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> ''))
                AS BIGINT) AS n_tokens,
           CAST(SUM(len(list_filter(string_split(lower(text), ' '), t -> t <> '')))
               OVER (PARTITION BY source ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
           CAST(FLOOR((SUM(len(list_filter(string_split(lower(text), ' '), t -> t <> '')))
                       OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING)
                 - len(list_filter(string_split(lower(text), ' '), t -> t <> ''))) / 512.0)
                AS BIGINT) AS pack_id
    FROM documents
"""


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signals (the Gopher/MassiveText-style
    quality rules): fraction of bigrams that are duplicates and the share
    of the single most frequent bigram. High values mark boilerplate /
    degenerate generations for the quality gate.

    One explode + one (doc_id, bigram) partial-agg shuffle; the ratios are
    single IEEE divisions of exact integer counts, so they hash-match the
    oracle without any rounding grid."""
    docs = load_table(spark, sf_dir, "documents")
    bi = docs.select(
        "doc_id", F.explode(ngrams(_toks(), n=2)).alias("bigram")
    )
    per_bigram = bi.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_bigram.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.count(F.lit(1)).alias("n_distinct_bigrams"),
            F.max("c").alias("top_bigram_count"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_distinct_bigrams",
            (
                1.0 - F.col("n_distinct_bigrams").cast("double") / F.col("n_bigrams")
            ).alias("dup_bigram_frac"),
            (
                F.col("top_bigram_count").cast("double") / F.col("n_bigrams")
            ).alias("top_bigram_frac"),
        )
    )


ORACLE_REPETITION_STATS = """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents
    ),
    bi AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ts)),
                                     i -> ts[i] || ' ' || ts[i+1])) AS bigram
        FROM toks WHERE len(ts) >= 2
    ),
    per_bigram AS (
        SELECT doc_id, bigram, COUNT(*) AS c FROM bi GROUP BY doc_id, bigram
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           COUNT(*) AS n_distinct_bigrams,
           1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c) AS dup_bigram_frac,
           CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_bigram_frac
    FROM per_bigram
    GROUP BY doc_id
"""


def ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-fit language-model scoring (the CCNet/Gopher perplexity-filter
    stage; no reference counterpart — LLM-pipeline extension).

    Trains a bigram model on the corpus itself (counts only) and scores each
    document by how much smoothed transition evidence its bigrams carry:

        lm_fit = Σ (C(bigram)+1)  /  Σ (C(context)+V)

    — the ratio-of-sums form of add-one-smoothed P(w2|w1), weighting each
    transition by its context mass. Ratio-of-sums instead of mean-of-logs
    keeps every aggregate an exact BIGINT and the score ONE IEEE division,
    so it hash-matches DuckDB bit-for-bit (same discipline as
    ``market_share`` / ``repetition_stats``; libm ``ln`` is not guaranteed
    identically rounded across engines). Low lm_fit = transitions rarely
    seen in the corpus = out-of-distribution / noisy document.

    Plan shape: one explode into (doc_id, bigram); two token-level hash
    aggs (bigram counts, context counts) re-joined by equi-key; one per-doc
    agg; the vocab size joins back as a broadcast scalar. At 100 TB the
    count tables are vocab-sized (≪ corpus) — broadcastable when they fit,
    plain shuffle hash join otherwise; nothing is all-pairs. The bigram
    explode feeds three aggregates (≈3 corpus scans); at scale persist the
    tokenized intermediate or, cheaper, the two count tables.
    """
    # r17: a scale_out rebalance was TRIED here (the bigram explode feeds
    # three aggregates as ~0.5 s single-task passes on a single-split
    # local scan) and REVERTED on measurement: the (doc_id, text) shuffle
    # it adds costs more than the three map passes it parallelizes
    # (isolated 1.57 -> 2.2 s at sf0.1, two serialized re-measures). At
    # scale the scan is multi-split and the rebalance would be a no-op —
    # pure local loss, same lesson as the r16 BPE/edit-distance reverts.
    docs = load_table(spark, sf_dir, "documents")
    bi = docs.select(
        "doc_id", F.explode(ngrams(_toks(), n=2)).alias("bigram")
    ).withColumn("ctx", F.substring_index("bigram", " ", 1))
    bg_counts = bi.groupBy("bigram").agg(F.count(F.lit(1)).alias("c_bg"))
    ctx_counts = bi.groupBy("ctx").agg(F.count(F.lit(1)).alias("c_ctx"))
    vocab = docs.select(F.explode(_toks()).alias("token")).agg(
        F.countDistinct("token").alias("v")
    )
    per_doc = (
        bi.join(bg_counts, "bigram")
        .join(ctx_counts, "ctx")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.col("c_bg") + F.lit(1)).alias("num"),
            F.sum("c_ctx").alias("sum_ctx"),
        )
    )
    den = F.col("sum_ctx") + F.col("n_bigrams") * F.col("v")
    return per_doc.crossJoin(F.broadcast(vocab)).select(
        "doc_id",
        "n_bigrams",
        "num",
        den.alias("den"),
        (F.col("num").cast("double") / den).alias("lm_fit"),
    )


ORACLE_NGRAM_LM_SCORE = """
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
        FROM documents
    ),
    bi AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ts)),
                                     i -> ts[i] || ' ' || ts[i+1])) AS bigram
        FROM toks WHERE len(ts) >= 2
    ),
    bix AS (
        SELECT doc_id, bigram, split_part(bigram, ' ', 1) AS ctx FROM bi
    ),
    bgc AS (SELECT bigram, COUNT(*) AS c_bg FROM bix GROUP BY bigram),
    ctxc AS (SELECT ctx, COUNT(*) AS c_ctx FROM bix GROUP BY ctx),
    vocab AS (
        SELECT COUNT(DISTINCT token) AS v
        FROM (SELECT unnest(string_split(lower(text), ' ')) AS token
              FROM documents)
        WHERE token <> ''
    )
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(g.c_bg + 1) AS BIGINT) AS num,
           CAST(SUM(x.c_ctx) + COUNT(*) * (SELECT v FROM vocab) AS BIGINT) AS den,
           CAST(SUM(g.c_bg + 1) AS DOUBLE)
             / (SUM(x.c_ctx) + COUNT(*) * (SELECT v FROM vocab)) AS lm_fit
    FROM bix b
    JOIN bgc g USING (bigram)
    JOIN ctxc x USING (ctx)
    GROUP BY b.doc_id
"""


def source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-drift report: KL divergence of each source's token
    distribution from the whole-corpus distribution,
    ``KL(P_source ‖ P_corpus) = Σ_t p_s(t) · ln(p_s(t) / p_c(t))`` over
    the tokens the source actually uses. High KL = the source's unigram
    mix is far from the corpus — the distribution-shift monitor a
    training-data pipeline watches when adding a crawl batch. No
    reference counterpart; LLM-pipeline extension.

    Determinism: every probability is one IEEE division of exact BIGINT
    counts, the ln chain lands each term on the bround(9) grid and the
    per-source sum is exact decimal (the ``bm25_rank`` doctrine — libm
    ``ln`` is equally rounded across engines only term-by-term, never
    through a float accumulation).

    Plan shape: ONE token explode feeds a (source, token) hash agg; the
    token totals and source totals are re-aggregations of that (already
    vocab-sized) table, not of the corpus; final join is
    vocab-sized × ~sources. At 100 TB the only corpus-scan work is the
    explode+count — everything downstream is vocabulary-sized.
    """
    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.select("source", F.explode(_toks()).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("n_st"))
    )
    s_tot = st.groupBy("source").agg(F.sum("n_st").alias("n_s"))
    t_tot = st.groupBy("token").agg(F.sum("n_st").alias("n_t"))
    n_total = t_tot.agg(F.sum("n_t").alias("n_total"))
    p_s = F.col("n_st") / F.col("n_s")
    p_c = F.col("n_t") / F.col("n_total")
    contrib = p_s * F.log(p_s / p_c)
    return (
        st.join(F.broadcast(s_tot), "source")
        .join(t_tot, "token")
        .crossJoin(F.broadcast(n_total))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.sum(F.bround(contrib, 9).cast("decimal(30,9)"))
            .cast("double")
            .alias("kl_divergence"),
        )
    )


ORACLE_SOURCE_KL_DIVERGENCE = """
    WITH tok AS (
        SELECT source,
               unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS token
        FROM documents
    ),
    st AS (SELECT source, token, COUNT(*) AS n_st FROM tok GROUP BY source, token),
    s_tot AS (SELECT source, CAST(SUM(n_st) AS BIGINT) AS n_s FROM st GROUP BY source),
    t_tot AS (SELECT token, CAST(SUM(n_st) AS BIGINT) AS n_t FROM st GROUP BY token),
    n AS (SELECT CAST(SUM(n_t) AS BIGINT) AS n_total FROM t_tot)
    SELECT source,
           COUNT(*) AS n_distinct_tokens,
           CAST(SUM(CAST(
               (n_st / n_s) * ln((n_st / n_s) / (n_t / n_total))
               AS DECIMAL(30,9))) AS DOUBLE) AS kl_divergence
    FROM st JOIN s_tot USING (source) JOIN t_tot USING (token) CROSS JOIN n
    GROUP BY source
"""


CDC_WINDOW = 8          # rolling-window width in chars
CDC_DIVISOR = 64        # boundary when window-hash % divisor == 0 (~64-char chunks)
CDC_BASE = 31           # polynomial base of the window hash
_CDC_COEF = [CDC_BASE**j for j in range(CDC_WINDOW)]


def cdc_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the FastCDC/rsync shape): split each
    document at positions where a polynomial hash of the trailing 8-char
    window is ≡ 0 mod 64, so chunk boundaries depend on CONTENT, not
    offsets — inserting one character early in a document only re-chunks
    the window around the edit, which is what makes chunk-level dedup
    robust to edits (fixed-size ``chunk_documents`` re-chunks everything
    downstream of an insert). No reference counterpart; LLM-pipeline
    extension used for sub-document dedup at crawl scale.

    Returns ``(doc_id, chunk_idx, chunk_start, chunk_len, chunk)``.

    Determinism: the window hash is exact BIGINT arithmetic
    (codes ≤ 127 · Σ31^j ≈ 3.6e12) — no floats anywhere, so the whole
    operator hash-matches DuckDB. ASCII corpus contract: ``ascii()``
    returns the first codepoint in both engines.

    Plan shape: per-document array work only (transform/filter higher-order
    functions — JVM codegen, no UDF), then one posexplode; no shuffle at
    all until a downstream consumer aggregates. The windowed sum is O(w)
    per position; at 100 TB with a bigger window, carry the true O(1)
    rolling update inside a single ``aggregate`` fold instead.
    Intermediate arrays are bound to named columns (not inlined) so each
    is evaluated once per row, not once per reference."""
    w, dv = CDC_WINDOW, CDC_DIVISOR
    win = " + ".join(
        # BIGINT accumulation: code(≤127) × 31^7 overflows INT32
        f"CAST(element_at(cs, i - {j}) AS BIGINT) * {c}"
        for j, c in enumerate(_CDC_COEF)
    )
    from caffeonspark_spark.engine import scale_out

    # r17 (guide §1.2, the r16 A/V-front-end pattern): the per-row window
    # hash + chunk slicing is the whole operator's compute and it chains
    # map-side onto the scan — a single-row-group local scan ran it as
    # ONE 2.4 s task (evlog: stage n=1, cpu 2.16 s). Rebalance the narrow
    # (id, text) rows first; no-op on a real multi-split scan, and every
    # output is a per-row function so partitioning cannot change values.
    base = scale_out(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", "text", F.length("text").cast("int").alias("n"))
    staged = (
        base.withColumn("cs", F.expr("transform(split(text, ''), ch -> ascii(ch))"))
        .withColumn(
            "bounds",
            # guard: sequence(w, n) REVERSES when n < w (Spark descends);
            # DuckDB's range(w, n+1) is empty there, and so is this branch
            F.when(
                F.col("n") >= w,
                F.expr(f"filter(sequence({w}, n), i -> ({win}) % {dv} = 0)"),
            ).otherwise(F.expr("cast(array() as array<int>)")),
        )
        .withColumn("starts", F.expr("concat(array(0), bounds)"))
        .withColumn("ends", F.expr("concat(bounds, array(n))"))
        .withColumn(
            "chunks",
            # a boundary on the final char yields a zero-length tail: drop it
            F.expr(
                "filter(transform(sequence(1, size(starts)),"
                " k -> struct(element_at(starts, k) AS cstart,"
                "             element_at(ends, k) - element_at(starts, k) AS clen)),"
                " s -> s.clen > 0)"
            ),
        )
    )
    return (
        staged.select(
            "doc_id",
            # OUTER posexplode on purpose: the plain form lets
            # InferFiltersFromGenerate push a size(chunks)>0 filter below
            # the staged projects with the WHOLE chunk tree inlined — cs
            # re-expands at every element_at reference and the pushed
            # filter turns O(n·w) rows into O(n²·w) (hangs at 3k-char
            # docs). The outer form is exempt from that rule; the null
            # row an empty array would emit is dropped right after.
            F.posexplode_outer("chunks").alias("chunk_idx", "c"),
            "text",
        )
        .where(F.col("c").isNotNull())
        .select(
            "doc_id",
            "chunk_idx",
            F.col("c.cstart").alias("chunk_start"),
            F.col("c.clen").alias("chunk_len"),
            F.expr("substring(text, c.cstart + 1, c.clen)").alias("chunk"),
        )
    )


ORACLE_CDC_CHUNK = f"""
    WITH base AS (
        SELECT doc_id, text, CAST(len(text) AS INT) AS n FROM documents
    ),
    coded AS (
        SELECT *, list_transform(range(1, n + 1),
                                 i -> ascii(substr(text, CAST(i AS INT), 1))) AS cs
        FROM base
    ),
    bounded AS (
        SELECT *, list_filter(range({CDC_WINDOW}, n + 1),
                   i -> ({" + ".join(f"CAST(cs[i - {j}] AS BIGINT) * {c}" for j, c in enumerate(_CDC_COEF))})
                        % {CDC_DIVISOR} = 0) AS bounds
        FROM coded
    ),
    edged AS (
        SELECT doc_id, text,
               list_concat([0], bounds) AS starts,
               list_concat(bounds, [CAST(n AS BIGINT)]) AS ends
        FROM bounded
    ),
    chunked AS (
        SELECT doc_id, text,
               list_filter(list_transform(range(1, len(starts) + 1),
                   k -> {{'cstart': starts[k], 'clen': ends[k] - starts[k]}}),
                   s -> s.clen > 0) AS chunks
        FROM edged
    ),
    numbered AS (
        SELECT doc_id, text, chunks, unnest(range(1, len(chunks) + 1)) AS k
        FROM chunked
    )
    SELECT doc_id,
           CAST(k - 1 AS INT) AS chunk_idx,
           CAST(chunks[k].cstart AS INT) AS chunk_start,
           CAST(chunks[k].clen AS INT) AS chunk_len,
           substr(text, CAST(chunks[k].cstart + 1 AS INT),
                  CAST(chunks[k].clen AS INT)) AS chunk
    FROM numbered
"""


def cdc_dup_chunks(
    spark: SparkSession, sf_dir: str, min_len: int = 16
) -> DataFrame:
    """Cross-document duplicate-chunk detection — the consumer the CDC
    chunker exists for: group content-defined chunks by their text and
    report spans (≥ ``min_len`` chars, so boundary fragments don't count)
    that appear in more than one document. Because boundaries are content-
    defined, a duplicated passage chunks identically in every document
    containing it regardless of its offset — the edit-robust complement of
    ``dup_ngram_stats``'s fixed n-gram spans.

    Returns ``(chunk, n_docs, n_occurrences)``, most-shared first.

    Plan shape: the chunker's per-row array work + one explode, then a
    single hash aggregation on the chunk text. At 100 TB, group on
    xxhash64(chunk) instead of the text (8-byte shuffle keys; the text
    rides along only for the survivors) — here the text IS the key so the
    whole operator hash-matches DuckDB.
    """
    chunks = cdc_chunk_documents(spark, sf_dir)
    return (
        chunks.where(F.col("chunk_len") >= min_len)
        .groupBy("chunk")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.desc("n_occurrences"), F.asc("chunk"))
    )


ORACLE_CDC_DUP_CHUNKS = f"""
    WITH chunks AS ({ORACLE_CDC_CHUNK})
    SELECT chunk, COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occurrences
    FROM chunks
    WHERE chunk_len >= 16
    GROUP BY chunk
    HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY n_docs DESC, n_occurrences DESC, chunk ASC
"""
