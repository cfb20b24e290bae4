"""Repository benchmark: three closed-loop workloads, one client thread.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Inputs are generated from the seed (cached
per seed, outside the measured set-up). After set-up (session, input
registration, one warm-up call of every operation) the workload's
operations run in whole passes until ``--seconds`` have elapsed; every
output is checked, untimed. The last stdout line is one JSON object:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
See NOTES.md beside this file for the design.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import gen  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS, Ctx  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
#: driver heap for a 15 GB, 4-core host (the engine's default is 48g)
DRIVER_MEM = "4g"
WORK_ROOT = ".perfbench_work"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(root: str, work: str) -> None:
    """Identical run hygiene on every commit: a bounded driver heap, the
    repo importable by Python workers, and every temp file in the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    sys.path.insert(0, root)


def _session(work: str, cores: int):
    from caffeonspark_spark.engine import Config, get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.checkpointLocation": os.path.join(work, "checkpoints"),
    }
    return get_spark(Config(master=f"local[{cores}]", app_name="perfbench", extra_conf=conf))


def _hygiene(spark) -> None:
    """Between operations, outside every timed region: release memo pins
    and cached relations, then force a JVM GC so released shuffle and
    broadcast state is actually cleaned."""
    from caffeonspark_spark.operators.dedup import unpersist_cached

    unpersist_cached()
    spark.catalog.clearCache()
    spark._jvm.System.gc()


class Checks:
    """Counts operations and failures; a failure is an exception or an
    output that fails its check. Checking time is tracked so it can be
    kept out of ``setup_s``."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.check_s = 0.0

    def run(self, ctx, op, tracer, counted: bool):
        t0 = time.perf_counter()
        try:
            result = op.run(ctx, tracer)
        except Exception:
            latency = time.perf_counter() - t0
            self._fail(op.name, counted)
            return latency
        latency = time.perf_counter() - t0
        c0 = time.perf_counter()
        try:
            op.check(ctx, result)
        except Exception:
            self._fail(op.name, counted)
        else:
            if counted:
                self.attempted += 1
        self.check_s += time.perf_counter() - c0
        return latency

    def _fail(self, name: str, counted: bool) -> None:
        print(f"perfbench: operation {name} failed", file=sys.stderr)
        traceback.print_exc()
        if counted:
            self.attempted += 1
            self.failed += 1


def _passes(ctx, ops, seconds: float, checks: Checks, tracer, rss):
    """Whole passes over the operations until ``seconds`` have elapsed.
    Returns per-op latencies and per-pass layer totals. After each
    ``operators.dedup`` operation the bytes its memo still pins are read."""
    lat = {op.name: [] for op in ops}
    op_rss = {op.name: [] for op in ops}
    layers = []
    t0 = time.perf_counter()
    while True:
        for op in ops:
            _hygiene(ctx.spark)
            rss.mark()
            lat[op.name].append(checks.run(ctx, op, tracer, counted=True))
            op_rss[op.name].append(rss.mark() / 1024.0)
            if op.module == "operators.dedup":
                tracer.add("operators.dedup.pinned_mb", tracer.cached_mb())
        layers.append(tracer.take())
        if time.perf_counter() - t0 >= seconds:
            return lat, layers, op_rss


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not (
        os.path.isdir(os.path.join(root, "caffeonspark_spark"))
        and os.path.isfile(os.path.join(root, "__spark_entry__.py"))
    ):
        print("perfbench: run from the repository root (engine sources not found)",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.abspath(os.path.join(WORK_ROOT, str(os.getpid())))
    _environment(root, work)
    try:
        return _run(args, WORKLOADS[args.workload], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, wl, work: str) -> int:
    host0 = spans.host_sample()
    g0 = time.perf_counter()
    data, manifest = gen.ensure(args.workload, args.seed)
    own_s = time.perf_counter() - g0  # the benchmark's own cached work

    cores = len(os.sched_getaffinity(0))
    s0 = time.perf_counter()
    spark = _session(work, cores)
    session_s = time.perf_counter() - s0
    try:
        ctx = Ctx(spark, data, manifest, work, args.seed, spark.sparkContext.defaultParallelism)
        wl.register(ctx)
        ops = wl.ops(manifest)
        checks = Checks()
        warm = {}
        for op in ops:  # warm-up: the first call of an operation costs 1.5-3x
            _hygiene(spark)
            warm[op.name] = round(checks.run(ctx, op, spans.NoTrace(), counted=False), 4)
        warm_failed = checks.failed
        setup_s = time.perf_counter() - T_START - own_s - checks.check_s

        tracer = spans.Tracer(spark) if args.trace else spans.NoTrace()
        with spans.RssSampler() as rss:
            lat, layers, op_rss = _passes(ctx, ops, args.seconds, checks, tracer, rss)
        host1 = spans.host_sample()
    finally:
        spark.stop()
        _stop_gateway(spark)

    rows = sum(op.rows * len(lat[op.name]) for op in ops)
    timed = sum(sum(v) for v in lat.values())
    medians = {k: statistics.median(v) for k, v in lat.items()}
    e2e = {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (rows / timed, "rows/s"),
        "op_gmean_s": (math.exp(statistics.fmean(math.log(m) for m in medians.values())), "s"),
        "op_peak_rss_mb": (statistics.median(x for v in op_rss.values() for x in v), "MB"),
    }
    ticks = host1["ticks"] - host0["ticks"]
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "samples_per_op": {k: len(v) for k, v in lat.items()},
        "op_median_s": {k: round(v, 4) for k, v in medians.items()},
        "op_latency_s": {k: [round(x, 3) for x in v] for k, v in lat.items()},
        "warmup_s": warm,
        "op_rss_mb": {k: [round(x) for x in v] for k, v in op_rss.items()},
        "engine.session_s": round(session_s, 4),
        "load1": [host0["load1"], host1["load1"]],
        "steal_share": (host1["steal"] - host0["steal"]) / ticks if ticks else 0.0,
        "op_gmean_s": e2e["op_gmean_s"][0],
        "warmup_failed": warm_failed,
        "check_s": round(checks.check_s, 3),
    }))
    if args.trace:
        metrics = _layer_metrics(layers, session_s)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": metrics,
    }))
    return 0


def _layer_metrics(layers: list[dict], session_s: float) -> dict:
    """Median over passes of each per-pass layer total (counts repeat
    exactly from pass to pass when the engine is deterministic)."""
    out = {}
    for name, unit in spans.LAYER_METRICS:
        if name == "engine.session_s":
            value = session_s
        else:
            value = statistics.median(p.get(name, 0.0) for p in layers)
        out[name] = {"value": value, "unit": unit}
    return out


def _stop_gateway(spark) -> None:
    """Stop the JVM and every Python worker it started, and wait for them."""
    from pyspark import SparkContext

    kids = spans.descendants(os.getpid())
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # the gateway may already be gone
            pass
        proc = getattr(gw, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    for pid in kids:
        while spans.alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)


if __name__ == "__main__":
    sys.exit(main())
