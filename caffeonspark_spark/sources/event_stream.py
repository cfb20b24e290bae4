"""Custom streaming Python DataSource: deterministic event generator with
real offset management.

The reference's only "streaming" is the executor-internal blocking-queue
feed (``CaffeProcessor.scala:124-177``) — records flow, but there is no
offset, no replay, no recovery story. The Spark-native upgrade is the
``DataSourceStreamReader`` contract: the source exposes monotonically
increasing offsets, the engine checkpoints them, and replaying any
``[start, end)`` offset range MUST yield identical rows — that determinism
is what upgrades checkpoint recovery to exactly-once.

``cos_eventgen`` serves a bounded, seeded event log:

    event_id: long, user_id: long, event_type: string, value: double

Rows are a pure function of ``event_id`` (splitmix64-style bit mixing — no
RNG state), so any offset range is replayable by construction. Options:
``rows_per_batch`` (offset advance per micro-batch), ``max_rows`` (stream
end), ``n_partitions`` (parallelism per micro-batch: each batch's range is
split into chunks read concurrently).

Scale shape: offsets are a single long; planning cost per micro-batch is
O(n_partitions); generation is executor-side and embarrassingly parallel.
The same contract (json offset, partitions(start, end), deterministic
read) is exactly what a Kafka-like or object-store-manifest source needs.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

FORMAT_NAME = "cos_eventgen"
SCHEMA = "event_id long, user_id long, event_type string, value double"

_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def _mix(x: int) -> int:
    """splitmix64 finalizer — deterministic 64-bit bit mixing."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def row_for(event_id: int) -> tuple:
    h = _mix(event_id)
    return (
        event_id,
        h % 1000,
        _EVENT_TYPES[(h >> 10) % len(_EVENT_TYPES)],
        ((h >> 16) % 100000) / 100.0,
    )


class _Range(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class EventGenStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.rows_per_batch = int(options.get("rows_per_batch", "100"))
        self.max_rows = int(options.get("max_rows", "1000"))
        self.n_partitions = int(options.get("n_partitions", "4"))
        self._latest = 0

    def initialOffset(self) -> dict:
        return {"idx": 0}

    def latestOffset(self) -> dict:
        # advance one batch per trigger; whatever is returned here is what
        # the engine checkpoints, so the advance must happen HERE, not be
        # clamped later in partitions() — otherwise checkpointed progress
        # and served rows diverge and exactly-once is lost
        self._latest = min(self._latest + self.rows_per_batch, self.max_rows)
        return {"idx": self._latest}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo, hi = start["idx"], end["idx"]
        # after checkpoint restore the engine may replay a range this fresh
        # reader instance hasn't "seen"; fast-forward the internal cursor
        # past BOTH bounds — tracking only hi left _latest below the
        # committed start, so post-restart latestOffset() values regressed
        # below the checkpoint (offset-log monotonicity breach) until the
        # per-trigger increments caught back up (r7 self-review finding)
        self._latest = max(self._latest, lo, hi)
        if hi <= lo:
            return [_Range(lo, lo)]
        step = max(1, (hi - lo + self.n_partitions - 1) // self.n_partitions)
        return [_Range(i, min(i + step, hi)) for i in range(lo, hi, step)]

    def read(self, partition: _Range) -> Iterator[tuple]:
        for i in range(partition.start, partition.end):
            yield row_for(i)

    def commit(self, end: dict) -> None:
        # nothing to clean up: ranges are recomputable forever (a real
        # source would GC acknowledged upstream data here)
        pass


class EventGenDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> str:
        return SCHEMA

    def streamReader(self, schema: StructType) -> EventGenStreamReader:
        return EventGenStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(EventGenDataSource)


def read_event_stream(
    spark,
    rows_per_batch: int = 100,
    max_rows: int = 1000,
    n_partitions: int = 4,
):
    register(spark)
    return (
        spark.readStream.format(FORMAT_NAME)
        .option("rows_per_batch", str(rows_per_batch))
        .option("max_rows", str(max_rows))
        .option("n_partitions", str(n_partitions))
        .load()
    )
