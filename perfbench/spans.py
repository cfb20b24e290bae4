"""Measurement from outside the engine: per-call spans attributed to the
module whose public function was called, Spark's status store read right
after each call, a streaming-progress listener, and a process-tree RSS
sampler. Nothing here touches engine code."""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

#: modules the workloads call directly (the layers)
MODULES = (
    "operators.relational", "operators.temporal", "streaming.windows",
    "operators.dedup", "operators.similarity", "operators.bpe",
    "multimodal.imagehash",
    "sources.lmdb", "sources.seqfile", "ml.dataflow",
)
PER_MODULE = (
    ("build_s", "s"), ("exec_s", "s"), ("driver_gap_s", "s"), ("jobs", "count"),
    ("tasks", "count"), ("executor_run_s", "s"), ("executor_cpu_s", "s"),
    ("shuffle_write_mb", "MB"),
)
EXTRA = (
    ("engine.session_s", "s"),
    ("streaming.windows.batches", "count"),
    ("streaming.windows.state_rows", "count"),
    ("streaming.windows.state_commit_s", "s"),
    ("sources.lmdb.written_mb", "MB"),
    ("sources.seqfile.written_mb", "MB"),
    ("operators.dedup.pinned_mb", "MB"),
)
LAYER_METRICS = tuple(
    (f"{m}.{k}", u) for m in MODULES for k, u in PER_MODULE
) + EXTRA
MB = 1024.0 * 1024.0


class NoTrace:
    """Untraced runs: spans cost nothing."""

    def span(self, module: str, phase: str):
        return nullcontext()

    def add(self, name: str, value: float) -> None:
        pass

    def cached_mb(self) -> float:
        return 0.0

    def take(self) -> dict[str, float]:
        return {}


class Tracer:
    """Accumulates per-layer totals for the pass in progress.

    Every call gets its own job group; the jobs it ran are that group's jobs
    plus the jobs of any streaming query it started (a streaming query runs
    its micro-batches under a job group named after its run id)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.totals: dict[str, float] = defaultdict(float)
        self._seq = 0
        self._seen_stages: set[int] = set()
        self.listener = _progress_listener()
        spark.streams.addListener(self.listener)

    def add(self, name: str, value: float) -> None:
        self.totals[name] += value

    def take(self) -> dict[str, float]:
        out, self.totals = dict(self.totals), defaultdict(float)
        return out

    @contextmanager
    def span(self, module: str, phase: str):
        self._seq += 1
        group = f"perfbench-{self._seq}"
        self.sc.setJobGroup(group, f"{module}.{phase}")
        runs_before = set(self.listener.started)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            new_runs = [r for r in self.listener.started if r not in runs_before]
            self._account(module, phase, wall, [group] + new_runs)

    def _account(self, m: str, phase: str, wall: float, groups: list[str]) -> None:
        # let the listener bus deliver every event, so the status store holds
        # the finished jobs' final numbers
        self.jsc.listenerBus().waitUntilEmpty()
        self.listener.wait_terminated(groups[1:])
        job_ids = sorted(
            {j for g in groups for j in self.sc.statusTracker().getJobIdsForGroup(g)}
        )
        intervals, tasks, run_ms, cpu_ns, shuffle_b = [], 0, 0, 0, 0
        for jid in job_ids:
            job = self.store.job(jid)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append((
                    job.submissionTime().get().getTime(),
                    job.completionTime().get().getTime(),
                ))
            tasks += job.numCompletedTasks() + job.numFailedTasks()
            stages = job.stageIds()
            for i in range(stages.length()):
                sid = stages.apply(i)
                if sid in self._seen_stages:
                    continue
                stage = self.store.lastStageAttempt(sid)
                if str(stage.status()) == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                run_ms += stage.executorRunTime()
                cpu_ns += stage.executorCpuTime()
                shuffle_b += stage.shuffleWriteBytes()
        busy = _union_ms(intervals) / 1000.0
        self.add(f"{m}.{phase}_s", wall)
        self.add(f"{m}.driver_gap_s", max(0.0, wall - busy))
        self.add(f"{m}.jobs", len(job_ids))
        self.add(f"{m}.tasks", tasks)
        self.add(f"{m}.executor_run_s", run_ms / 1000.0)
        self.add(f"{m}.executor_cpu_s", cpu_ns / 1e9)
        self.add(f"{m}.shuffle_write_mb", shuffle_b / MB)
        if groups[1:]:
            b, rows, commit = self.listener.summary(groups[1:])
            self.add("streaming.windows.batches", b)
            self.add("streaming.windows.state_rows", rows)
            self.add("streaming.windows.state_commit_s", commit)

    def cached_mb(self) -> float:
        """Bytes held by persisted relations (the dedup memo pins)."""
        infos = self.jsc.getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """Collects micro-batch progress per streaming run id."""

        def __init__(self):
            self.lock = threading.Lock()
            self.started: list[str] = []
            self.batches: dict[str, list] = defaultdict(list)
            self.done: set[str] = set()

        def onQueryStarted(self, event):
            with self.lock:
                self.started.append(str(event.runId))

        def onQueryProgress(self, event):
            p = event.progress
            ops = [(o.numRowsTotal, o.commitTimeMs) for o in p.stateOperators]
            with self.lock:
                self.batches[str(p.runId)].append(ops)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.done.add(str(event.runId))

        def wait_terminated(self, runs: list[str], timeout: float = 30.0) -> None:
            deadline = time.monotonic() + timeout
            while time.monotonic() < deadline:
                with self.lock:
                    if all(r in self.done for r in runs):
                        return
                time.sleep(0.01)
            raise TimeoutError(f"streaming runs never reported termination: {runs}")

        def summary(self, runs: list[str]) -> tuple[int, int, float]:
            """(batches, state rows after each run's last batch, commit s)."""
            n, rows, commit_ms = 0, 0, 0
            with self.lock:
                for r in runs:
                    progress = self.batches.get(r, [])
                    n += len(progress)
                    if progress:
                        rows += sum(total for total, _ in progress[-1])
                    commit_ms += sum(c for ops in progress for _, c in ops)
            return n, rows, commit_ms / 1000.0

    return Progress()


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers) between marks, sampled from /proc."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.since_mark_kb = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "RssSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        self.since_mark_kb = max(self.since_mark_kb, tree_rss_kb(os.getpid()))

    def mark(self) -> int:
        """Peak since the previous mark, in kB; starts a new interval."""
        self.sample()
        out, self.since_mark_kb = self.since_mark_kb, 0
        return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids[ppid].append(int(d))
    return kids


def tree_rss_kb(root: int) -> int:
    kids, total, todo = _children(), 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
        except (OSError, IndexError, ValueError):
            continue
    return total


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie awaiting its reaper has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except (OSError, IndexError):
        return False


def descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def host_sample() -> dict[str, float]:
    """Load average and cumulative CPU steal ticks, for attributing a noisy
    run to host contention."""
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    steal = float(cpu[8]) if len(cpu) > 8 else 0.0
    total = sum(float(x) for x in cpu[1:])
    return {"load1": load1, "steal": steal, "ticks": total}
