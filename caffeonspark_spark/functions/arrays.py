"""Array/vector column functions.

Reference parity:
* ``vector_mean_long`` — element-wise mean of an ``array<float>`` column, the
  ``VectorMean`` UDAF semantics (``VectorMean.scala:17-64``: double-precision
  partial sums + count-weighted merge). Rebuilt as posexplode → groupBy(pos)
  → decimal-exact avg: a pure Catalyst plan (two-phase hash agg with map-side
  partials — exactly the UDAF's initialize/update/merge/evaluate, but
  codegen'd and shuffle-partial-pushed, so it scales to 100 TB without any
  Python in the loop).
* ``dot_product`` / ``cosine_similarity`` / ``l2_norm`` — the similarity-search
  extension. ``zip_with`` + ``aggregate`` higher-order functions: JVM-side,
  no UDF.

Determinism doctrine (why DECIMAL + bround show up everywhere): floating-point
sums are order-dependent, and Spark shuffles make the order nondeterministic —
but the t2 gate hash-compares our values against a DuckDB oracle bit-for-bit.
Accumulating in DECIMAL makes addition exact and associative, so ANY execution
order (Spark's partial aggs, DuckDB's, a 1000-executor cluster's) yields the
identical value. Two empirically-verified wrinkles govern the scale choice:

1. Spark casts double→decimal through the double's SHORTEST decimal
   representation (Java ``Double.toString``), while DuckDB rounds the EXACT
   binary expansion. They agree iff the cast scale is coarse enough that both
   representations round identically. The testdata money columns are exact
   2-decimal values, so products of two of them live on a 1e-4 grid, etc. —
   casting at the expression's true grid scale (2/4/6) is always within
   ~1e-9 of the grid point and can never disagree.
2. Spark rounds HALF_UP, DuckDB HALF_EVEN. For money grids ties are
   impossible (see 1); for arbitrary float32 data we first ``bround`` (Spark's
   HALF_EVEN) at scale 9, which matches DuckDB's exact-HALF_EVEN cast except
   on events of probability ~1e-8.

Cost is negligible: decimal sum is still a JVM hash-agg; at 100 TB this
removes the whole class of "answers drift between runs" bugs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# scale for float32-derived data: fine enough to be faithful, coarse enough
# that Spark's shortest-repr rounding and DuckDB's exact rounding agree
FLOAT_SCALE = 9


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Order-independent (decimal-exact) sum, returned as double.

    ``scale`` must be the true decimal grid of the expression: 2 for the
    testdata money/qty columns, 4 for a product of two, 6 for three.
    """
    return F.sum(_c(col).cast(f"decimal(30,{scale})")).cast("double")


def davg(col: Column | str, scale: int = 2) -> Column:
    """Order-independent average: decimal-exact sum / non-null count."""
    c = _c(col)
    return F.sum(c.cast(f"decimal(30,{scale})")).cast("double") / F.count(c)


def dsum_sql(expr: str, scale: int = 2) -> str:
    """DuckDB rendering of ``dsum`` for oracle SQL strings."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(30,{scale}))) AS DOUBLE)"


def fsum(col: Column | str, scale: int = FLOAT_SCALE) -> Column:
    """Decimal-exact sum for float32-derived values: HALF_EVEN round at
    ``scale`` first (matches DuckDB's cast), then exact decimal accumulation.
    DuckDB twin: ``CAST(SUM(CAST(x AS DECIMAL(30,scale))) AS DOUBLE)``."""
    return F.sum(F.bround(_c(col).cast("double"), scale).cast(f"decimal(30,{scale})")).cast(
        "double"
    )


def favg(col: Column | str, scale: int = FLOAT_SCALE) -> Column:
    c = _c(col)
    return fsum(c, scale) / F.count(c)


def vector_mean_long(df: DataFrame, array_col: str, group_cols: list[str] | None = None) -> DataFrame:
    """Element-wise mean of a float-array column, long form ``(pos, mean_val)``.

    Semantics of the reference ``VectorMean`` UDAF (``VectorMean.scala:38-62``)
    on its input class: element-wise double sums over every row's array,
    divided by the number of contributing rows. On the reference's input —
    fixed-length blobs, where every row contributes every position — that
    row count and this implementation's PER-POSITION count are the same
    number. On ragged arrays (which the reference UDAF never sees and
    would mis-sum) the per-position count is the deliberate
    generalization: each position averages over the rows that actually
    HAVE it, rather than diluting tail positions by rows too short to
    contribute (pinned by ``test_vector_mean_ragged_arrays``). Long form
    (one row per element index) keeps the result a plain relational
    table — trivially comparable to an oracle and unbounded in array length.

    Plan shape: posexplode (codegen'd generator) → hash agg keyed by
    (group_cols, pos) with map-side partial sums → one shuffle. Scales
    linearly; no Python.
    """
    group_cols = group_cols or []
    exploded = df.select(
        *group_cols, F.posexplode(F.col(array_col)).alias("pos", "_elem")
    )
    return (
        exploded.groupBy(*group_cols, "pos")
        .agg(favg(F.col("_elem")).alias("mean_val"))
        .withColumn("pos", F.col("pos").cast("int"))
    )


def dot_product(a: Column, b: Column) -> Column:
    """Deterministic dot product of two float-array columns.

    Element products are exact (float→double widening then one IEEE multiply);
    each product is HALF_EVEN-rounded at scale 9 and decimal-accumulated. The
    accumulator stays at precision 21 < 38 so Spark never silently reduces the
    scale mid-fold. |product| < 100, |sum| < 1e10 by construction.
    """
    prods = F.zip_with(a, b, lambda x, y: (x.cast("double") * y.cast("double")))
    return F.aggregate(
        prods,
        F.lit(0).cast(f"decimal(20,{FLOAT_SCALE})"),
        lambda acc, x: (
            acc + F.bround(x, FLOAT_SCALE).cast(f"decimal(12,{FLOAT_SCALE})")
        ).cast(f"decimal(20,{FLOAT_SCALE})"),
    ).cast("double")


def l2_norm(a: Column) -> Column:
    """Deterministic L2 norm of a float-array column."""
    return F.sqrt(dot_product(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity; bit-deterministic given identical inputs because
    every reduction is decimal-exact and /, sqrt are IEEE-correctly-rounded.

    NULL (not an ANSI divide-by-zero error) for zero-norm vectors — real
    corpora contain zero embeddings and a similarity scan must not abort on
    them; NULL similarities fall out of top-k orderings naturally."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != 0, dot_product(a, b) / denom)
