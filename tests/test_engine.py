"""Engine tests: session config, catalog attach, read/write round-trip, pins."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from caffeonspark_spark.engine import Config, Engine


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark=spark).attach_catalog("/root/testdata/sf0.001")


def test_table_and_sql(engine):
    li = engine.table("lineitem")
    assert li.count() > 0
    n = engine.sql("SELECT COUNT(*) AS n FROM lineitem").collect()[0]["n"]
    assert n == li.count()


def test_sql_join_over_catalog(engine):
    rows = engine.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority
        """
    ).collect()
    assert len(rows) == 5


def test_read_write_roundtrip(engine, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("engine_rw") / "out")
    df = engine.table("region").select("r_regionkey", "r_name")
    engine.write(df, "parquet", path)
    back = engine.read("parquet", path)
    assert sorted(r["r_name"] for r in back.collect()) == sorted(
        r["r_name"] for r in df.collect()
    )


def test_requires_catalog():
    from caffeonspark_spark.engine import Engine as E

    class _Fake:  # Engine without attach_catalog must fail fast on .table
        pass

    import pyspark.sql

    e = E.__new__(E)
    e.sf_dir = None
    with pytest.raises(RuntimeError, match="attach_catalog"):
        e.table("lineitem")


def _compiled(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_more_than_spark_default(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    # 150 distinct generated classes: more than Spark's default cap of 100,
    # so at the default the first class is evicted before it is reused.
    def query(k):
        return spark.range(8).selectExpr(f"id * {k} + {k} AS v").collect()

    first = query(7001)
    for k in range(7002, 7152):
        query(k)
    before = _compiled(spark)
    assert query(7001) == first
    assert _compiled(spark) == before


def test_warm_dedup_pass_reuses_compiled_classes(spark, sf_smoke):
    """A pass of two dedup operators needs more classes than Spark's
    default cache holds, so at the default every warm pass recompiled most
    of them. With the engine's cap a warm pass compiles nothing — once it
    has met its plan variants: AQE picks a self-join's broadcast side by
    which side's stage finishes first, so the first warm pass or two can
    still meet a not-yet-compiled build-side variant."""
    from caffeonspark_spark.multimodal.imagehash import image_dedup_map_query
    from caffeonspark_spark.operators.dedup import clean_corpus, unpersist_cached

    def one_pass():
        out = []
        for op in (clean_corpus, image_dedup_map_query):
            unpersist_cached()
            spark.catalog.clearCache()
            out.append(sorted(map(tuple, op(spark, sf_smoke).collect())))
        return out

    first = one_pass()
    warm = []
    while len(warm) < 4 and 0 not in warm:
        before = _compiled(spark)
        assert one_pass() == first
        warm.append(_compiled(spark) - before)
    assert 0 in warm, f"warm passes recompiled {warm} classes"


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def _cached_rdds(spark) -> dict:
    """RDD id -> storage info of every RDD with cached blocks."""
    return {i.id(): i for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_pin_memoizes_by_plan_and_survives_clearcache(spark):
    """Spark's CacheManager is the memo: a separately built frame with an
    equal plan reuses the first pin's cache (one cached RDD, one fill, no
    job on the repeat); a different plan gets its own cache and leaves the
    earlier one cached (a lazy plan built on it must not recompute); an
    external clearCache() only drops blocks, and the next pin re-persists
    and re-fills; ``unpersist_cached`` releases every pin."""
    from pyspark import StorageLevel

    from caffeonspark_spark.engine import pin, unpersist_cached

    base = spark.range(100).withColumnRenamed("id", "k")
    before = set(_cached_rdds(spark))
    first, fill_jobs = _jobs_in_group(
        spark, "pin-first",
        lambda: pin(base.selectExpr("k", "k * 2 AS v"), narrow=False),
    )
    again, hit_jobs = _jobs_in_group(
        spark, "pin-again",
        lambda: pin(base.selectExpr("k", "k * 2 AS v"), narrow=False),
    )
    assert fill_jobs >= 1 and hit_jobs == 0  # one fill for the plan
    assert len(set(_cached_rdds(spark)) - before) == 1  # one cached RDD
    assert first.storageLevel != StorageLevel.NONE
    assert again.storageLevel != StorageLevel.NONE
    assert sorted(r["v"] for r in again.collect()) == list(range(0, 200, 2))

    other = pin(base.selectExpr("k", "k * 3 AS v"), narrow=False)
    assert len(set(_cached_rdds(spark)) - before) == 2
    assert first.storageLevel != StorageLevel.NONE

    spark.catalog.clearCache()
    assert first.storageLevel == StorageLevel.NONE
    refreshed, refill_jobs = _jobs_in_group(
        spark, "pin-refresh",
        lambda: pin(base.selectExpr("k", "k * 2 AS v"), narrow=False),
    )
    assert refill_jobs == fill_jobs  # re-persisted and re-filled
    assert refreshed.storageLevel != StorageLevel.NONE
    assert first.storageLevel != StorageLevel.NONE  # same plan, same cache

    unpersist_cached()
    for df in (first, other, refreshed):
        assert df.storageLevel == StorageLevel.NONE


def test_pin_narrow_view_and_lazy_fill(spark):
    """(a) a metadata-sized eager pin is read through a COALESCED view over
    the cached blocks — same rows, fewer partitions, and the pinned plan
    stays cached; (b) a repeat pin of the same plan reads at the same
    reduced width without running a job; (c) ``eager=False`` persists
    without filling or narrowing (the first consumer's action fills the
    cache); (d) ``unpersist_cached`` releases both."""
    from pyspark import StorageLevel

    from caffeonspark_spark.engine import pin, unpersist_cached

    base = spark.range(200).repartition(8).withColumnRenamed("id", "k")
    v1 = pin(base.selectExpr("k", "k + 1 AS v"))
    width = v1.rdd.getNumPartitions()
    assert width < 8  # tiny table -> the pin is read at reduced width
    assert sorted(r["v"] for r in v1.collect()) == list(range(1, 201))
    assert base.selectExpr("k", "k + 1 AS v").storageLevel != StorageLevel.NONE

    v2, jobs = _jobs_in_group(
        spark, "pin-narrow-again", lambda: pin(base.selectExpr("k", "k + 1 AS v"))
    )
    assert jobs == 0
    assert v2.rdd.getNumPartitions() == width
    assert sorted(r["v"] for r in v2.collect()) == list(range(1, 201))

    lazy, jobs = _jobs_in_group(
        spark, "pin-lazy",
        lambda: pin(base.selectExpr("k", "k + 2 AS v"), eager=False),
    )
    # persisted (marked) but NOT filled or narrowed: the caller's first
    # action fills the cache, so the build partitioning is preserved
    assert jobs == 0
    assert lazy.storageLevel != StorageLevel.NONE
    assert lazy.rdd.getNumPartitions() == 8
    assert lazy.count() == 200

    unpersist_cached()
    assert base.selectExpr("k", "k + 1 AS v").storageLevel == StorageLevel.NONE
    assert lazy.storageLevel == StorageLevel.NONE


def test_pin_narrow_probe_reads_the_coalesced_cache_width(spark, monkeypatch):
    """The read-width probe sees the width of the MATERIALIZED cache, not
    the build plan's static shuffle width: AQE coalesces a tiny groupBy's
    shuffle below ``spark.sql.shuffle.partitions`` while it fills the pin,
    and the probe reads that coalesced count — the cached RDD's own
    partition count — so the pin is not re-narrowed on a stale width."""
    from caffeonspark_spark import engine

    probed = []

    def record(nbytes, cap):
        probed.append(cap)
        return cap

    monkeypatch.setattr(engine, "partitions_for_bytes", record)
    shuffle_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert shuffle_width > 1
    before = set(_cached_rdds(spark))
    g = spark.range(1000).selectExpr("id % 7 AS m").groupBy("m").count()
    try:
        assert engine.pin(g) is g  # no narrower view than the cache itself
        (cached,) = [i for k, i in _cached_rdds(spark).items() if k not in before]
        assert cached.numPartitions() < shuffle_width  # AQE coalesced the build
        assert probed == [cached.numPartitions()]
        assert sorted(r["m"] for r in g.collect()) == list(range(7))
    finally:
        engine.unpersist_cached()


def test_pin_release_list_drops_stopped_contexts(spark):
    """Pins of a stopped context leave the release list on the next pin
    (their blocks died with the context): a long-lived process cycling
    short sessions must not accumulate dead handles."""
    from types import SimpleNamespace

    from caffeonspark_spark import engine

    dead = SimpleNamespace(
        sparkSession=SimpleNamespace(sparkContext=SimpleNamespace(_jsc=None))
    )
    engine._PINNED.append(dead)
    live = spark.range(10).selectExpr("id * 5 AS v")
    try:
        engine.pin(live, eager=False)
        assert dead not in engine._PINNED
        assert any(p is live for p in engine._PINNED)
    finally:
        engine.unpersist_cached()
    assert engine._PINNED == []


def test_default_driver_memory_rule(monkeypatch, tmp_path):
    from caffeonspark_spark import engine

    def with_total(kb):
        path = tmp_path / f"meminfo{kb}"
        path.write_text(f"MemTotal:       {kb} kB\nMemFree:        1024 kB\n")
        monkeypatch.setattr(engine, "_MEMINFO", str(path))
        return engine.default_driver_memory()

    assert with_total(15 << 20) == "6144m"  # 40 % of a 15 GB host
    assert with_total(100 << 20) == "40960m"
    assert with_total(120 << 20) == "48g"  # 40 % reaches the cap exactly
    assert with_total(512 << 20) == "48g"
    monkeypatch.setattr(engine, "_MEMINFO", str(tmp_path / "absent"))
    assert engine.default_driver_memory() == "48g"


def _write_zip(path, modules):
    import os
    import zipfile

    tmp = f"{path}.new"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)
    os.replace(tmp, path)  # a new file, as an upload or addPyFile would be


def test_zipimport_invalidation_is_stat_guarded(monkeypatch, tmp_path):
    import collections
    import importlib
    import sys
    import zipimport

    guarded = getattr(zipimport.zipimporter.invalidate_caches, "stat_guarded", False)
    if sys.version_info >= (3, 13):
        assert not guarded  # 3.13 invalidates lazily upstream
        return
    assert guarded

    archive = str(tmp_path / "zpkg.zip")
    modules = {
        "zpkg/__init__.py": "",
        "zpkg/a/__init__.py": "",
        "zpkg/a/m.py": "X = 1\n",
        "zpkg/b/__init__.py": "",
        "zpkg/b/m.py": "X = 2\n",
    }
    _write_zip(archive, modules)
    monkeypatch.syspath_prepend(archive)
    try:
        import zpkg.a.m
        import zpkg.b.m

        importers = [
            f for p, f in sys.path_importer_cache.items()
            if p.startswith(archive) and isinstance(f, zipimport.zipimporter)
        ]
        assert len(importers) == 4  # zpkg.zip, then zpkg.zip/zpkg{,/a,/b}
        assert zpkg.a.m.X + zpkg.b.m.X == 3

        reads = collections.Counter()
        real = zipimport._read_directory

        def counting(path):
            reads[path] += 1
            return real(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()
        assert reads[archive] == 1  # once per archive, not per importer
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads[archive] == 1  # unchanged: no re-read

        _write_zip(archive, {**modules, "zpkg/b/new.py": "X = 3\n"})
        importlib.invalidate_caches()
        assert reads[archive] == 2
        from zpkg.b import new

        assert new.X == 3
    finally:
        for name in [m for m in sys.modules if m == "zpkg" or m.startswith("zpkg.")]:
            del sys.modules[name]
        for p in [p for p in sys.path_importer_cache if p.startswith(archive)]:
            del sys.path_importer_cache[p]


def make_worker_zip_reads():
    # returned as a closure so cloudpickle ships it BY VALUE to workers
    # (a module-level function in a test module isn't importable there)
    def worker_zip_reads(batches):
        """Runs in an executor Python worker: import the engine (as
        unpickling any engine function does), then count zip directory
        reads over two ``importlib.invalidate_caches()`` calls — the call
        PySpark makes at the start of every task."""
        import collections
        import importlib
        import json
        import sys
        import zipimport

        import caffeonspark_spark  # noqa: F401  (installs the guard)
        import pyarrow as pa

        for _ in batches:
            pass
        reads = collections.Counter()
        real = zipimport._read_directory

        def counting(archive):
            reads[archive] += 1
            return real(archive)

        zipimport._read_directory = counting
        try:
            calls = []
            for _ in range(2):
                reads.clear()
                importlib.invalidate_caches()
                calls.append(dict(reads))
        finally:
            zipimport._read_directory = real
        zips = sorted({  # pyspark.zip, the py4j zip, the spark-core jar
            f.archive for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        })
        out = json.dumps({"zips": zips, "calls": calls})
        yield pa.RecordBatch.from_pydict({"out": [out]})

    return worker_zip_reads


def test_worker_rereads_each_zip_at_most_once(spark):
    import json

    df = spark.range(1, numPartitions=1).mapInArrow(make_worker_zip_reads(), "out string")
    got = json.loads(df.collect()[0]["out"])
    assert got["zips"], "expected zip archives (pyspark.zip) on the worker's sys.path"
    first, second = got["calls"]
    assert set(first) <= set(got["zips"]), first
    assert all(n == 1 for n in first.values()), first
    assert second == {}, second
