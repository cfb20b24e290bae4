"""Array/vector operators over the embeddings table.

``vector_mean_*`` is the rebuild of the reference's ``VectorMean`` UDAF
(``VectorMean.scala:17-64``; used for test-result summaries at
``CaffeOnSpark.scala:396-418``): element-wise mean of an ``array<float>``
column. The long-form (pos, mean) shape is the scalable one — posexplode is
a codegen'd generator, the agg is a two-phase hash agg keyed by (group, pos),
and array length never hits a width limit.

Oracle SQL twins use DuckDB ``unnest`` + ``generate_subscripts`` (1-based →
re-based to posexplode's 0-based), with the same decimal-exact accumulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from caffeonspark_spark.catalog import load_table
from caffeonspark_spark.functions.arrays import l2_norm, vector_mean_long


def vector_mean_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean over all embedding vectors → (pos, mean_val)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return vector_mean_long(emb, "embedding")


ORACLE_VECTOR_MEAN = """
    SELECT CAST(pos - 1 AS INT) AS pos,
           CAST(SUM(CAST(CAST(elem AS DOUBLE) AS DECIMAL(30,9))) AS DOUBLE)
             / COUNT(elem) AS mean_val
    FROM (SELECT unnest(embedding) AS elem,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings)
    GROUP BY pos
"""


def vector_mean_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label element-wise mean → (label, pos, mean_val) — the per-class
    centroid table (the reference's per-blob validation summary, grouped)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = vector_mean_long(emb, "embedding", group_cols=["label"])
    return out.withColumn("label", F.col("label").cast("int"))


ORACLE_VECTOR_MEAN_BY_LABEL = """
    SELECT CAST(label AS INT) AS label, CAST(pos - 1 AS INT) AS pos,
           CAST(SUM(CAST(CAST(elem AS DOUBLE) AS DECIMAL(30,9))) AS DOUBLE)
             / COUNT(elem) AS mean_val
    FROM (SELECT label, unnest(embedding) AS elem,
                 generate_subscripts(embedding, 1) AS pos
          FROM embeddings)
    GROUP BY label, pos
"""


def vector_norms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 vectors by L2 norm (decimal-exact sum of squares → IEEE sqrt),
    with a unique tiebreak so the answer set is total-ordered."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("vec_id", l2_norm(F.col("embedding")).alias("norm"))
        .orderBy(F.desc("norm"), F.asc("vec_id"))
        .limit(25)
    )


ORACLE_VECTOR_NORMS_TOPK = """
    SELECT vec_id,
           sqrt(CAST(SUM(CAST(CAST(elem AS DOUBLE) * CAST(elem AS DOUBLE)
                               AS DECIMAL(30,9))) AS DOUBLE)) AS norm
    FROM (SELECT vec_id, unnest(embedding) AS elem FROM embeddings)
    GROUP BY vec_id
    ORDER BY norm DESC, vec_id ASC
    LIMIT 25
"""


def zscore_by_group(
    df: DataFrame, group_col: str, value_col: str, id_col: str
) -> DataFrame:
    """Grouped-map normalization: z-score ``value_col`` within each group via
    ``applyInPandas`` — the batch sibling of the streaming stateful operator
    and the canonical custom-operator shape when semantics need whole-group
    state in Python (here: mean/std of the group's values).

    One shuffle on the group key; each group is normalized in a single
    Arrow batch. Use only when a window-function formulation won't do — the
    plain z-score IS expressible as windows (and that form is preferred at
    scale); this operator exists for the genuinely-Python cases (sklearn
    scalers, rank transforms, per-group model scoring) and is tested against
    the window form for equality.
    """
    import pandas as pd

    def norm(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf[value_col]
        std = v.std()  # pandas: sample std (ddof=1)
        out = pdf[[id_col, group_col]].copy()
        out["v_norm"] = (v - v.mean()) / std if std and std > 0 else 0.0
        return out

    return df.select(id_col, group_col, value_col).groupBy(group_col).applyInPandas(
        norm, schema=f"{id_col} long, {group_col} string, v_norm double"
    )


def zscore_events_exact_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: per-event-type z-score from ORDER-INDEPENDENT moment
    sums — n, Σx, Σx² accumulated decimal-exact on the 2-decimal value grid,
    sample variance (Σx² − Σx²/n)/(n−1) finished in double. Bit-identical at
    any parallelism, hence oracle-checkable (unlike naive SUM(double), whose
    combine order floats). Group stats are one tiny agg broadcast back onto
    the events — at 100 TB the fact side never shuffles for this."""
    from caffeonspark_spark.functions.arrays import dsum

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    stats = F.broadcast(
        ev.groupBy("event_type").agg(
            F.count("value").alias("n"),
            dsum("value", 2).alias("sx"),
            dsum(F.col("value") * F.col("value"), 4).alias("sxx"),
        )
    )
    mean = F.col("sx") / F.col("n")
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)
    z = (F.col("value") - mean) / F.sqrt(var)
    return ev.join(stats, "event_type").select(
        "event_id",
        "event_type",
        F.when((F.col("n") > 1) & (var > 0), z).otherwise(F.lit(0.0)).alias("v_norm"),
    )


ORACLE_ZSCORE_EXACT = """
    WITH stats AS (
        SELECT event_type, COUNT(value) AS n,
               CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(value * value AS DECIMAL(30,4))) AS DOUBLE) AS sxx
        FROM events GROUP BY event_type
    )
    SELECT event_id, e.event_type,
           CASE WHEN n > 1 AND (sxx - sx * sx / n) / (n - 1) > 0
                THEN (value - sx / n) / sqrt((sxx - sx * sx / n) / (n - 1))
                ELSE 0.0 END AS v_norm
    FROM events e JOIN stats s ON e.event_type = s.event_type
"""


def quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of embeddings: per-vector scale =
    max|x|/127, codes = round(x/scale). The 4x storage/bandwidth
    compression step before ANN indexing at scale — all higher-order
    expressions, no UDF. Emits (vec_id, scale, codes, max_err) where
    max_err is the reconstruction bound actually achieved for the row.

    Row contract: all-zero (and NULL) embeddings are DROPPED — scale would
    be 0 and the codes undefined; a downstream join on vec_id therefore
    excludes them, which is the desired behavior for ANN indexing (a zero
    vector has no direction to search by). Left-join back against the
    source table to audit how many rows the filter removed."""
    emb = load_table(spark, sf_dir, "embeddings")
    absmax = F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double"))))
    scale = (absmax / F.lit(127.0)).alias("scale")
    codes = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") / F.col("scale")).cast("int"),
    )
    dequant = F.zip_with(
        F.col("codes"),
        F.col("embedding"),
        lambda c, x: F.abs(c.cast("double") * F.col("scale") - x.cast("double")),
    )
    return (
        emb.select("vec_id", "embedding", scale)
        .where(F.col("scale") > 0)
        .withColumn("codes", codes)
        .select(
            "vec_id",
            "scale",
            "codes",
            F.array_max(dequant).alias("max_err"),
        )
    )


def quantize_embeddings_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared form of quantize_embeddings: the int8 code array is emitted
    as a ','-joined string plus its element count, so the driver's pandas
    canonicalizer (no list cells) and the DuckDB array_to_string oracle both
    apply. API users call quantize_embeddings for the real array column."""
    out = quantize_embeddings(spark, sf_dir)
    return out.select(
        "vec_id",
        "scale",
        F.array_join(F.transform("codes", lambda c: c.cast("string")), ",").alias(
            "codes_cat"
        ),
        F.size("codes").alias("n_codes"),
        "max_err",
    )


def embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle Gram matrix of the embedding corpus: G[i,j] =
    Σ_rows x_i·x_j — the d×d feature second-moment table that PCA,
    whitening, and embedding-drift monitoring start from (the reference
    stops at element-wise means, ``VectorMean.scala:38-62``; a training-
    data pipeline needs second moments too).

    Exact/declared form: two chained posexplode generators (i, then j>=i)
    followed by ONE hash aggregation keyed (i, j) with map-side partials —
    d²/2 groups, so the shuffle is d²-sized (metadata) regardless of row
    count. Per-row products are bround(9)-gridded and decimal-accumulated
    (the ``dot_product`` discipline), so the sum is order-independent and
    oracle-exact. The d× row amplification between the generators is the
    price of exactness-by-SQL; the production path for 100 TB is
    ``gram_matrix_arrow`` below (per-partition X^T X float partials — one
    pass, no amplification) when bit-reproducibility is not required.
    """
    from caffeonspark_spark.engine import scale_out

    emb = scale_out(load_table(spark, sf_dir, "embeddings"))
    a = emb.select("embedding", F.posexplode("embedding").alias("i", "xi"))
    b = a.select("i", "xi", F.posexplode("embedding").alias("j", "xj")).where(
        F.col("j") >= F.col("i")
    )
    from caffeonspark_spark.functions.arrays import fsum

    return (
        b.groupBy("i", "j")
        .agg(
            fsum(F.col("xi").cast("double") * F.col("xj").cast("double"), 9).alias(
                "gram"
            )
        )
        .select(F.col("i").cast("int"), F.col("j").cast("int"), "gram")
    )


ORACLE_EMBEDDING_GRAM = """
    WITH ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings)
    SELECT CAST(a.i - 1 AS INT) AS i, CAST(b.i - 1 AS INT) AS j,
           CAST(SUM(CAST(a.x * b.x AS DECIMAL(30,9))) AS DOUBLE) AS gram
    FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND b.i >= a.i
    GROUP BY a.i, b.i
"""


def _gram_batch_partial(col):
    """X^T X of one Arrow list-array batch (or None for an empty batch).

    ``offsets`` are ABSOLUTE indices into the untrimmed child values
    buffer, while ``flatten()`` re-bases to the logical slice — a
    zero-copy sliced batch therefore needs the offsets rebased to
    ``offsets - offsets[0]`` before indexing the flattened values
    (pinned by ``test_gram_partial_on_sliced_batch``). Ragged guard:
    only max-width rows enter the matmul.
    """
    import numpy as np

    flat = np.asarray(col.flatten(), dtype=np.float64)
    offs = np.asarray(col.offsets, dtype=np.int64)
    offs = offs - offs[0]
    widths = np.diff(offs)
    if len(widths) == 0 or flat.size == 0:
        return None
    d = int(widths.max())
    keep = widths == d
    starts = offs[:-1][keep]
    X = flat[(starts[:, None] + np.arange(d)).ravel()].reshape(-1, d)
    return X.T @ X


def gram_matrix_arrow(df: DataFrame, vec_col: str = "embedding"):
    """Production Gram path: one `mapInArrow` pass emitting a d² float64
    partial X^T X per Arrow batch, summed on the driver — the RowMatrix
    computeGramian shape. Data moved: n_batches × d² doubles (metadata);
    the corpus is scanned once with zero row amplification and zero
    shuffle. Float accumulation is batch-order-dependent (NOT
    bit-reproducible across retries — use ``embedding_gram`` when replays
    must hash-match); error vs the exact form is ~1e-12 relative (pinned
    by ``test_gram_arrow_matches_exact``). Returns a d×d numpy array.
    """
    import numpy as np
    import pyarrow as pa

    def partials(batches):
        for batch in batches:
            G = _gram_batch_partial(batch.column(0))
            if G is None:
                continue
            yield pa.RecordBatch.from_arrays(
                [pa.array([G.ravel().tolist()], type=pa.list_(pa.float64()))],
                names=["g"],
            )

    rows = (
        df.select(F.col(vec_col).cast("array<float>").alias(vec_col))
        .where(F.col(vec_col).isNotNull())
        .mapInArrow(partials, "g array<double>")
        .collect()
    )
    if not rows:
        return None
    mats = [np.asarray(r["g"], dtype=np.float64) for r in rows]
    d = int(round(len(mats[0]) ** 0.5))
    return np.sum(mats, axis=0).reshape(d, d)
