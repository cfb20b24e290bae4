"""Named-table catalog over the parquet testdata layout.

The reference resolves data sources by reflection from a prototxt
``source_class`` string (``DataSource.scala:133-166``); here the catalog is a
plain name→path mapping over a scale-factor directory, loaded through the
native parquet reader so Catalyst gets pushdown/pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    return os.path.join(sf_dir, f"{name}.parquet")


def table_nrows(sf_dir: str, name: str) -> int:
    """Row count straight from parquet FOOTER METADATA — no Spark job.

    Query builders that size a parameter to the corpus (the scaled
    hot-band caps of the planted-family native dedup queries) must not
    run an eager ``df.count()`` inside an otherwise lazy builder: every
    construction (bench warm-up loops, plan tests) would re-run the job
    and bench timings would include it (r12 ADVICE). Footer reads are
    O(files) metadata IO; at cluster scale the same number comes from the
    table catalog / manifest instead."""
    import pyarrow.parquet as pq

    path = table_path(sf_dir, name)
    files = _visible_files(path)
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def path_bytes(path: str, name_glob: str | None = None) -> int:
    """On-disk bytes of the files a file source reads at ``path`` — a
    driver-side listing, no Spark job (``table_nrows``' rule for lazy
    builders). ``name_glob`` mirrors the source's ``pathGlobFilter``: it
    is matched against file names only. Raises FileNotFoundError when
    ``path`` does not exist."""
    import fnmatch

    if not os.path.exists(path):
        raise FileNotFoundError(path)
    return sum(
        os.path.getsize(f)
        for f in _visible_files(path)
        if name_glob is None or fnmatch.fnmatch(os.path.basename(f), name_glob)
    )


def _visible_files(path: str) -> list[str]:
    """``path`` itself when it is a file, else every file under it that a
    Spark scan reads, sorted."""
    import glob as _glob

    # recursive: a Hive-partitioned layout (key=value subdirectories from
    # a partitionBy write) nests its part files — Spark reads it fine, so
    # the metadata count must too (r13 review finding). Spark's FileIndex
    # HIDES any path segment starting with '_' or '.' (e.g. a leftover
    # _temporary staging tree from a killed write), so the count must
    # skip them too or it over-counts vs the scan (r13 review finding 2)
    def _visible(f: str) -> bool:
        rel = os.path.relpath(f, path)
        return not any(
            seg.startswith(("_", ".")) for seg in rel.split(os.sep)
        )

    # glob ALL visible regular files, not just *.parquet: Spark's scan
    # reads every visible file regardless of extension, so a table
    # written by a non-Spark writer with extensionless (or mixed) part
    # files must count the same here or the footer count desyncs from
    # the scan it claims to mirror (r13 ADVICE). For Spark-written
    # layouts the two sets coincide — the visibility filter already
    # drops _SUCCESS/_temporary/dotfiles. A visible non-parquet stray
    # raises at table_nrows' footer read; the same file breaks the scan.
    if os.path.isfile(path):
        return [path]
    return sorted(
        f
        for f in _glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f) and _visible(f)
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(table_path(sf_dir, name))


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet stores ``ts`` as TIMESTAMP(NANOS), which Spark 4 refuses
    to read natively. Read nanos as long and truncate to microseconds —
    exactly what engines with µs timestamps (DuckDB included) do — so ``ts``
    is a normal TimestampType column everywhere downstream.

    SESSION SIDE EFFECT, deliberate: ``nanosAsLong`` is set on the shared
    session conf and NOT restored. The conf is consulted when the scan
    *executes*, not when this function returns — restoring it immediately
    would break every lazily-evaluated plan built here. Consequence: other
    nanos-timestamped parquet read later in the same session also decodes
    as bigint instead of raising Spark's native refusal; callers reading
    their own TIMESTAMP(NANOS) data must handle longs (or unset the conf
    once every events-derived plan has been executed).
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, "events"))
    if dict(df.dtypes).get("ts") == "bigint":
        # ns → µs floor-truncation in exact long math, then TIMESTAMP_NTZ via
        # pure arithmetic from the epoch. NTZ (not timestamp_micros) matters:
        # the other tables' parquet timestamps are isAdjustedToUTC=false and
        # Spark 4 reads them as NTZ, so results stay identical whatever the
        # host session's timezone is.
        df = df.withColumn(
            "ts",
            F.expr("timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"),
        )
    return df


def register_tables(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view so ``spark.sql`` sees them."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
