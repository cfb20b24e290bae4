"""Engine entry point: session construction + configuration.

Replaces the reference's ``Config.scala`` (CLI-knob soup at
``caffe-grid/src/main/scala/com/yahoo/ml/caffe/Config.scala:403-499``) with a
small dataclass of the knobs that still make sense for a Spark-native engine,
and the reference's hand-rolled SparkConf setup (``CaffeOnSpark.scala:27-34``)
with an idiomatic SparkSession builder: AQE on, Arrow on, UTC session
timezone (required for oracle comparison), shuffle partitions sized to cores
rather than the 200 default, and a generated-code class cache sized to the
engine's working set (1000 classes), so warm queries reuse compiled,
JIT-hot classes instead of recompiling them on every call.

Importing this module (so: any process that imports the package — the
driver, and every Python worker that unpickles engine code) makes
``zipimport`` cache invalidation stat-guarded on CPython < 3.13: an
unchanged zip archive is not re-read on ``importlib.invalidate_caches()``,
which PySpark calls on every task and every data-source planner call
(``_stat_guard_zipimport``). A changed or replaced archive is re-read.

Scale note: every default here is chosen to survive a 1000-executor / 100 TB
deployment — AQE handles skew + partition coalescing at runtime, shuffle
partition count is only a *local* override (on a real cluster AQE's
``advisoryPartitionSizeInBytes`` governs), and nothing below pins
local-mode-only behavior into query plans.
"""

from __future__ import annotations

import os
import sys
import threading
import zipimport
from dataclasses import dataclass, field

from pyspark.sql import SparkSession


def _stat_guard_zipimport() -> None:
    """Re-read a zip archive's directory on ``invalidate_caches`` only when
    the file changed (inode, size or mtime), else reuse the cached one.

    PySpark's ``setup_spark_files`` calls ``importlib.invalidate_caches()``
    on every task and every data-source planner call. Before CPython 3.13,
    ``zipimporter.invalidate_caches`` eagerly re-reads the archive's whole
    central directory, once per importer: a worker holds 16-17 importers
    over pyspark.zip (1,328 entries), the py4j zip and the spark-core jar,
    so each call cost 0.08-0.16 s of worker CPU (CPython 3.11.7, 4-core
    host) — most of a short task. CPython 3.13 fixed it upstream (the
    cache entry is dropped and re-read lazily, once), so the guard is
    installed only below 3.13, and only once per process.
    """
    if sys.version_info >= (3, 13) or getattr(
        zipimport.zipimporter.invalidate_caches, "stat_guarded", False
    ):
        return
    reread = zipimport.zipimporter.invalidate_caches
    seen: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and seen.get(self.archive) == key:
            self._files = files
        else:
            reread(self)
            seen[self.archive] = key

    invalidate_caches.stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_stat_guard_zipimport()

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")

#: per-partition byte target for every width the engine derives from a
#: measured size (pin read views, streaming state partitions) — the
#: role AQE's ``advisoryPartitionSizeInBytes`` plays for shuffle output,
#: and its 64 MB default, so a derived width narrows exactly where AQE
#: would have coalesced a shuffle of the same bytes.
PARTITION_BYTES = 64 << 20


#: where the default driver heap is sized from (Linux); patched by tests
_MEMINFO = "/proc/meminfo"


def default_driver_memory() -> str:
    """Driver heap when SPARK_GRAFT_DRIVER_MEM is unset: 48g, or 40 % of
    the host's MemTotal when that is smaller, so a small host is not
    asked for a heap it cannot back. 48g when MemTotal is unreadable."""
    try:
        with open(_MEMINFO) as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "48g"
    mb = kb * 4 // 10 // 1024
    return "48g" if mb >= 48 << 10 else f"{mb}m"


def partitions_for_bytes(nbytes: int, cap: int) -> int:
    """Partition count for ``nbytes`` at the shared byte target: one per
    started ``PARTITION_BYTES``, at least 1, never more than ``cap``."""
    return max(1, min(cap, nbytes // PARTITION_BYTES + 1))


@dataclass
class Config:
    """Engine configuration.

    Mirrors the *surviving* knobs of the reference's ``Config.scala`` —
    paths/formats/labels/features/partitions — dropping everything that was
    Caffe- or RDMA-specific (devices, connection, snapshots are handled by
    the pluggable trainer in ``ml/``).
    """

    master: str = field(default_factory=lambda: f"local[{DEFAULT_CPUS}]")
    app_name: str = "caffeonspark_spark"
    shuffle_partitions: int = 32
    # input/output (reference: -train/-test/-features/-output/-outputFormat)
    input_format: str = "parquet"
    output_format: str = "parquet"
    # label/feature column names (reference: -label, -features)
    label_col: str = "label"
    feature_cols: tuple[str, ...] = ()
    # partition control (reference: -clusterSize, -lmdb_partitions)
    target_partitions: int | None = None
    # file-split sizing: at 100 TB these bound per-task input so partitions
    # fit executor memory (128 MB splits → ~800k map tasks over 100 TB; raise
    # for wide clusters, lower for memory-tight executors). openCost biases
    # Spark against gluing many small files into one split.
    max_partition_bytes: str = "128m"
    open_cost_bytes: str = "4m"
    extra_conf: dict[str, str] = field(default_factory=dict)


def get_spark(config: Config | None = None) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    UTC timezone + Arrow + AQE are non-negotiable engine invariants:
    UTC so timestamps hash-match external oracles, Arrow so every
    pandas/NumPy exchange is columnar, AQE so skewed joins and
    mis-sized shuffles self-correct at runtime (the 100 TB posture —
    we declare the plan, AQE picks physical parallelism).
    """
    config = config or Config()
    builder = (
        SparkSession.builder.master(config.master)
        .appName(config.app_name)
        .config("spark.sql.shuffle.partitions", str(config.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom-filter join: build a bloom from the selective side
        # and push it into the large side's scan (the §7.4 "bloom
        # pre-filter" as a Catalyst runtime optimization; thresholds keep
        # their scale-appropriate defaults)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # r17: let AQE re-optimize the plan fragment that BUILDS a cached
        # relation (default false keeps a cache's output partitioning
        # fixed for exchange reuse). Every ``pin`` fill otherwise runs
        # its shuffles at the static spark.sql.shuffle.partitions width no
        # matter how small the data — profiled as near-empty 32-task
        # stages inside every pin build. With this on, pin builds get the
        # same size-adaptive coalescing every other query gets; the pin
        # read side is handled by ``pin``'s byte-sized view.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.files.maxPartitionBytes", config.max_partition_bytes)
        .config("spark.sql.files.openCostInBytes", config.open_cost_bytes)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        # Spark's generated-class cache defaults to 100 entries, and it is a
        # Guava LRU that evicts per segment before that nominal cap. One
        # dedup pass (clean_corpus, semantic_dedup, image_dedup_map,
        # bpe_encode) needs ~171 distinct classes, so at 100 every warm
        # call recompiled ~50 per operator: Janino time plus the loss of
        # the reloaded classes' JIT-compiled code (measured on a 4-core
        # host, local[4]: 157 -> 2 recompiles per warm pass, pass
        # throughput x1.21). 1000 is more than 5x the largest measured
        # per-pass working set, enough to absorb per-segment eviction,
        # and still bounds metaspace for a long-lived session running
        # ad-hoc query shapes. The cache is JVM-wide and this conf is
        # static: it takes effect only for the first session a JVM
        # builds, so a getOrCreate that returns an existing session keeps
        # that session's cap.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # ContextCleaner is weak-reference-driven: with a large heap the
        # JVM may not GC for the whole life of a many-query session, so
        # unpersisted shuffle/broadcast/RDD state is never actually
        # cleaned and driver scheduling degrades cumulatively (measured
        # r16: a 28-join query ran 6.4 -> 10.3 -> 12.7 s across serialized
        # repeats purely from backlog; a forced GC restored 4.0 s). The
        # default periodicGC interval (30min) never fires inside shorter
        # sessions — 3min bounds the backlog in any long-lived deployment.
        .config("spark.cleaner.periodicGC.interval", "3min")
        .config("spark.ui.enabled", "false")
    )
    for k, v in config.extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class Engine:
    """Facade tying session + catalog + source registry together.

    The reference's top-level object is ``CaffeOnSpark(conf)`` holding a
    SparkContext and exposing train/test/features
    (``CaffeOnSpark.scala:36-82``); this Engine is the analogous root but
    query-first: ``engine.table("lineitem")`` / ``engine.sql(...)`` /
    ``engine.read(fmt, path)``, with the ML verbs living in ``ml/``.
    """

    def __init__(self, spark: SparkSession | None = None, config: Config | None = None):
        self.config = config or Config()
        self.spark = spark or get_spark(self.config)
        # populated by attach_catalog
        self.sf_dir: str | None = None

    # -- catalog ----------------------------------------------------------
    def attach_catalog(self, sf_dir: str) -> "Engine":
        """Register every testdata table under ``sf_dir`` as a temp view."""
        from caffeonspark_spark.catalog import register_tables

        register_tables(self.spark, sf_dir)
        self.sf_dir = sf_dir
        return self

    def table(self, name: str):
        from caffeonspark_spark.catalog import load_table

        if self.sf_dir is None:
            raise RuntimeError("attach_catalog(sf_dir) first")
        return load_table(self.spark, self.sf_dir, name)

    def sql(self, query: str):
        return self.spark.sql(query)

    # -- sources/sinks ----------------------------------------------------
    def read(self, fmt: str, path: str, **options):
        from caffeonspark_spark.sources.registry import read_source

        return read_source(self.spark, fmt, path, **options)

    def write(self, df, fmt: str, path: str, mode: str = "overwrite", **options):
        from caffeonspark_spark.sources.registry import write_sink

        return write_sink(df, fmt, path, mode=mode, **options)


def scale_out(df, min_partitions: int | None = None):
    """Rebalance a DataFrame whose scan produced fewer partitions than cores.

    Single-row-group parquet files (the local testdata) scan as ONE task, so
    everything up to the first shuffle — explodes, wide aggregations, Arrow
    UDFs — would run serially. This gate repartitions only when the plan is
    under-parallel: at 100 TB a scan has orders of magnitude more splits than
    ``defaultParallelism`` and this is a no-op; the round-robin shuffle it
    adds locally moves only the pre-explosion (narrow) rows.

    Use it in operators whose per-row compute dominates scan cost (shingle
    explosion, MinHash/SimHash agg trees, vectorized UDF stages) — NOT on
    plain relational scans, where it would sit between filter and scan and
    break predicate pushdown.

    The partition probe reads the INITIAL physical plan's RDD lineage —
    driver-side metadata only (file splits). It must NOT use
    ``df.rdd.getNumPartitions()``: under Spark 4's AQE, ``df.rdd``
    finalizes the adaptive plan, which EXECUTES the whole upstream subtree
    and throws the result away — profiled at sf0.1 as a hidden 1-2 s
    single-task job per scale_out call site (r16; the real action then
    re-ran the same subtree). Every current call site hands scale_out a
    scan-rooted narrow frame, for which the initial-plan count equals the
    executed count exactly. When the probe fails, ``df`` is returned
    unchanged rather than paying that hidden job.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    try:
        plan = df._jdf.queryExecution().executedPlan()
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            plan = plan.initialPlan()
        current = plan.execute().getNumPartitions()
    except Exception:  # pragma: no cover - non-classic backend / plan quirk
        return df
    if current < target:
        return df.repartition(target)
    return df


#: frames ``pin`` persisted, for ``unpersist_cached`` to release
_PINNED: list = []
_PIN_LOCK = threading.Lock()


def _narrow_view(df):
    """Size-adaptive pin width (r17, guide §2.2 "fewer, larger map tasks" /
    §6 split sizing): a freshly FILLED pin inherits the partitioning of the
    subtree that built it — locally ``scale_out``'s defaultParallelism, on
    a cluster the scan/shuffle width — which is right for BUILDING the pin
    (the front-end compute wants the parallelism) but wrong for READING a
    metadata-sized result: every downstream stage schedules one near-empty
    task per build partition (profiled on video_dedup_map: 32-task stages
    with 0.2-0.8 s of TOTAL task work each). The engine sets
    ``canChangeCachedPlanOutputPartitioning=true``, but that only lets AQE
    re-optimize the plan that BUILDS the pin: a build ending in a scan or
    a fixed-count repartition (``scale_out``) is never coalesced, and
    every stage that reads the cached relation runs one task per cached
    partition. So derive the READ width from the pin's own MATERIALIZED
    byte size — the measurement the eager fill already paid for — with
    ``partitions_for_bytes`` (the shared 64 MB target AQE uses for
    shuffles). Corpus-sized pins keep full width (bytes/64 MB ≥ build
    width); only metadata-sized pins narrow.

    The width probe cannot overstate what a build coalesced: once the pin
    is cached, ``df``'s executed plan is a scan of the cached relation, so
    the probe reads the partition count of the materialized cache RDD —
    after AQE's coalescing of the build, not the build's static width.
    Returns a coalesce VIEW over the cached blocks (no second
    materialization, no shuffle — the single read task fetches local cache
    blocks), or None when the pin should keep its build width."""
    try:
        qe = df._jdf.queryExecution()
        # py4j maps the BigInt straight to a Python int
        size = int(qe.optimizedPlan().stats().sizeInBytes())
        plan = qe.executedPlan()
        if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
            plan = plan.initialPlan()
        cur = plan.execute().getNumPartitions()
    except Exception:  # pragma: no cover - non-classic backend
        return None
    want = partitions_for_bytes(size, cur)
    if want >= cur:
        return None
    return df.coalesce(want)


def pin(df, eager: bool = True, narrow: bool = True):
    """Cache ``df`` once per plan and return a frame that reads the cache.

    Spark's CacheManager is the memo: it matches cached data by plan, so a
    separately built frame with an equal plan already reads a non-NONE
    ``storageLevel`` and is not persisted again, while a different plan
    gets its own cache entry and leaves earlier pins cached (a lazy plan
    built on one must not silently recompute). After an external
    ``spark.catalog.clearCache()`` (bench.py runs one between queries)
    ``storageLevel`` reads NONE and the next pin re-persists.

    ``eager`` fills the cache with one count() — only when this call
    persisted ``df`` — and is right for pins that feed SEVERAL plan
    subtrees: AQE submits exchange materializations concurrently, so a
    lazy pin is computed once PER BRANCH before the first task populates a
    block (profiled on image_dhash_pairs: three parallel jobs each paying
    the whole hash front end). Pass ``eager=False`` for pins whose
    consumers run strictly SEQUENTIALLY (an iterative fit, a single-action
    pipeline): the first consumer's own action fills the cache, and an
    up-front fill is a pure extra pass (the r16 kmeans_fit/minhash
    regression — VERDICT r16 item 3). A lazy pin is returned as is.

    ``narrow`` returns an eager pin through ``_narrow_view``, a coalesced
    read of a metadata-sized cache (recomputed on every call; over a
    filled cache it runs no job). ``narrow=False`` keeps the build width — required when the
    consumers do HEAVY per-row work map-side on the pin (decode or
    fingerprint passes), where read width IS the compute parallelism.

    Every pinned frame is released by ``unpersist_cached()``; frames of a
    stopped context leave the release list on the next pin (their blocks
    died with it)."""
    from pyspark import StorageLevel

    with _PIN_LOCK:
        _drop_stopped_locked()
        fill = df.storageLevel == StorageLevel.NONE
        if fill:
            df.persist()
            _PINNED.append(df)
    if not eager:
        return df
    if fill:
        # outside the lock: the fill is a real job. The count()
        # materializes every column of the cached relation once
        # (InMemoryRelation builds full rows regardless of the action's
        # pruning); every branch then reads InMemoryTableScan.
        df.count()
    view = _narrow_view(df) if narrow else None
    return df if view is None else view


def _drop_stopped_locked() -> None:
    """Forget pins of a stopped context: their blocks died with it, and
    only a dead handle is left to release. Called under ``_PIN_LOCK``."""
    _PINNED[:] = [
        p for p in _PINNED if p.sparkSession.sparkContext._jsc is not None
    ]


def unpersist_cached() -> None:
    """Release every frame ``pin`` persisted."""
    with _PIN_LOCK:
        _drop_stopped_locked()
        for df in _PINNED:
            df.unpersist()
        _PINNED.clear()
