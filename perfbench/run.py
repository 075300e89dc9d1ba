"""Lake benchmark: one closed-loop client driving the program through its
public functions. See perfbench/README.md for the workloads and metrics.

    python3 perfbench/run.py --workload backtest_read --seed 1 --seconds 10 --trace 0

Run it from the repository root: the program is imported from the current
directory, and all scratch files go under ./.perfbench_work (removed on
exit). The last line of stdout is the JSON result; the line before it holds
the workload's own figures ("detail").
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import backtest
import ingest
from spans import Tracer, quantile

WORKLOADS = {"backtest_read": backtest, "ingest_cycle": ingest}

# span name -> per-layer key holding its median call time
SPAN_METRICS = {
    "provider.load_exec_and_filter": "provider.load_exec_and_filter_s",
    "lake.read_range": "lake.read_range_s",
    "operators.resample_ohlcv": "operators.resample_ohlcv_s",
    "operators.join_mtf": "operators.join_mtf_s",
    "operators.build_or_levels": "operators.build_or_levels_s",
    "streaming.stream_ingest_candles": "streaming.drain_s",
    "acid.acid_upsert": "acid.upsert_s",
    "acid.acid_delete_mor": "acid.delete_mor_s",
    "acid.acid_read": "acid.read_s",
    "acid.acid_compact": "acid.compact_s",
    "acid.acid_vacuum": "acid.vacuum_s",
    "queries.build": "queries.build_s",
    "queries.exec": "queries.exec_s",
}


# requests a traced run also runs untraced, to measure the tracer's
# overhead; few, so a traced run lasts about as long as an untraced one
PAIRS = 2


class Req:
    __slots__ = ("kind", "ok", "failed")

    def __init__(self, kind: str):
        self.kind, self.ok, self.failed = kind, False, False


class Bench:
    """What a workload sees: the session, the tracer, the seed, its scratch
    directory, and the run's request and failure counts."""

    def __init__(self, spark, tracer: Tracer, seed: int, seconds: float,
                 trace: bool, work: str):
        self.spark, self.tracer = spark, tracer
        self.seed, self.seconds, self.trace, self.work = \
            seed, seconds, trace, work
        self.attempted = 0
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}  # per-layer values set by workloads
        self.detail: dict = {}             # workload figures for the report
        self._pairs = 0
        self._last: Req | None = None

    @contextlib.contextmanager
    def request(self, kind: str, traced: bool | None = None):
        """One request, traced by default in a traced run unless it is a
        warm-up. An exception inside fails the request and is not
        re-raised."""
        if traced is None:
            traced = self.trace and not kind.startswith("warm.")
        self.attempted += 1
        req = self._last = Req(kind)
        try:
            with self.tracer.request(kind, traced):
                yield req
            req.ok = True
        except Exception:
            traceback.print_exc()
            self._fail(req)
        rec = self.tracer.requests[-1]
        if "tasks_by_job" in rec:
            # the stage-level task count against Spark's own per-job count
            by_job = rec.pop("tasks_by_job")
            self.check(rec["spark.tasks"] == by_job,
                       f"tracer counted {rec['spark.tasks']} tasks, the "
                       f"jobs report {by_job}")

    def pair(self, fn) -> None:
        """Run ``fn(traced)``, traced in a traced run. The first ``PAIRS``
        times in a traced run, also run it untraced with the same inputs,
        before or after in alternating order, so the tracing overhead is
        measured on identical requests; that twin counts in no figure but
        the overhead."""
        if not self.trace or self._pairs == PAIRS:
            fn(self.trace)
            return
        self._pairs += 1
        for traced in ((True, False) if self._pairs % 2 else (False, True)):
            fn(traced)
            rec = self.tracer.requests[-1]
            rec["pair"], rec["twin"] = self._pairs, not traced

    def check(self, ok: bool, what: str) -> None:
        """Output check on the last request, made outside its timing."""
        if not ok:
            print(f"check failed ({self._last.kind}): {what}", file=sys.stderr)
            self._fail(self._last)

    def _fail(self, req: Req) -> None:
        if not req.failed:
            req.failed = True
            self.failures.append(req.kind)

    def rounds(self, one_round) -> None:
        """Closed loop: run whole rounds until another would end past the
        deadline (at least one)."""
        t0 = time.perf_counter()
        while True:
            r0 = time.perf_counter()
            one_round()
            now = time.perf_counter()
            if now - t0 + (now - r0) > self.seconds:
                return


def _metrics(root: str) -> tuple[dict[str, str], dict[str, str]]:
    """End-to-end and per-layer metric names -> units, from BENCHMARK.json."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _sizing() -> tuple[int, str]:
    # half the CPUs run tasks; the rest are left to the JIT compiler (about
    # a core's worth of compiling during a run), GC and the Python client,
    # so the run measures the program rather than the CPU scheduler
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    with open("/proc/meminfo") as f:
        kib = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    heap_mb = max(1024, min(4096, kib // 1024 // 8))
    return cores, f"{heap_mb}m"


def _hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for ln in f:
            if ln.startswith("VmHWM"):
                return int(ln.split()[1]) / 1024
    return 0.0


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import backtest_crew_datalake_spark as pkg
    except ImportError as ex:
        print(f"program not found in {root}: {ex}", file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(root + os.sep):
        print(f"program imported from outside {root}: {pkg.__file__}",
              file=sys.stderr)
        return 2
    from backtest_crew_datalake_spark.session import get_spark

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    tmp = os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM Spark starts (its launcher too) keeps its temp files here
    # and writes no perf-data file to the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp

    cores, heap = _sizing()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench", master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf={
                "spark.driver.memory": heap,
                # the heap is committed and touched at start, as a
                # long-running service's is, so the JVM's resident size does
                # not depend on when the collector chose to grow the heap
                "spark.driver.extraJavaOptions":
                    f"-Xms{heap} -XX:+AlwaysPreTouch",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(work, "spark"),
            })
        get_spark_s = time.perf_counter() - t0
        tracer = Tracer(spark)
        bench = Bench(spark, tracer, args.seed, args.seconds,
                      bool(args.trace), work)
        mod = WORKLOADS[args.workload]

        t0 = time.perf_counter()
        state = mod.setup(bench)
        fixture_s = time.perf_counter() - t0
        floor_s = _job_floor(spark, tracer)
        mod.warm(bench, state)
        main_kind = mod.run(bench, state)

        timed = [r for r in tracer.requests
                 if not r["kind"].startswith("warm.") and not r.get("twin")]
        main_s = [r["s"] for r in timed if r["kind"] == main_kind]
        rss = {"python": _hwm_mb("self"), "jvm": _hwm_mb(
            spark._jvm.java.lang.ProcessHandle.current().pid())}
        e2e = {
            "setup_s": get_spark_s + fixture_s,
            "peak_rss_mb": rss["python"] + rss["jvm"],
            "req_p50_s": quantile(main_s, 0.5),
            "req_mean_s": sum(r["s"] for r in timed) / len(main_s),
        }
        detail = {"workload": args.workload, "seed": args.seed,
                  "cores": cores, "heap": heap, "requests": len(timed),
                  "traced_requests": sum(r["traced"] for r in timed),
                  "get_spark_s": get_spark_s, "fixture_s": fixture_s,
                  "job_floor_s": floor_s, "peak_rss_mb": rss, **bench.detail,
                  "error_rate": len(bench.failures) / max(1, bench.attempted),
                  "failed_ops": sorted(set(bench.failures))}
        end_to_end, per_layer = _metrics(root)
        if args.trace:
            units = per_layer
            metrics = _per_layer(bench, units, get_spark_s, floor_s)
            out = os.path.join(root, ".perfbench_trace")
            os.makedirs(out, exist_ok=True)
            tracer.dump(os.path.join(
                out, f"{args.workload}-seed{args.seed}.json"), floor_s,
                {"detail": detail, "per_layer": metrics})
        else:
            metrics, units = e2e, end_to_end
        print(json.dumps({"detail": detail}, default=str))
        print(json.dumps({
            "correct": not bench.failures,
            "attempted": bench.attempted,
            "failed": len(bench.failures),
            "metrics": {k: {"value": metrics[k], "unit": u}
                        for k, u in units.items()},
        }))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))


def _job_floor(spark, tracer: Tracer) -> float:
    """Seconds per job of the cheapest action (a one-partition count),
    median of five after one warm-up."""
    times = []
    for _ in range(6):
        j0 = tracer.jobs_started()
        t0 = time.perf_counter()
        spark.range(1, numPartitions=1).count()
        times.append((time.perf_counter() - t0) / (tracer.jobs_started() - j0))
    return statistics.median(times[1:])


def _per_layer(bench: Bench, names, get_spark_s: float,
               floor_s: float) -> dict[str, float]:
    """Every per-layer metric; 0 for a layer the workload never reached."""
    tr = bench.tracer
    traced = [r for r in tr.requests if r["traced"]]
    m = {k: 0.0 for k in names}
    m["session.get_spark_s"] = get_spark_s
    m["spark.job_floor_s"] = floor_s
    for name, s in tr.span_stats().items():
        if name in SPAN_METRICS:
            m[SPAN_METRICS[name]] = s
    counters = [k for k in traced[0] if k.startswith(("spark.", "lake."))] \
        if traced else []
    for k in counters:  # mean per traced request
        m[k] = sum(r[k] for r in traced) / len(traced)
    # floor-class seconds of the jobs the driver gap covers, beside it
    m["spark.floor_class_s"] = floor_s * sum(
        r["action_jobs"] for r in traced) / max(1, len(traced))
    for layer, s in tr.self_times().items():
        if f"self.{layer}_s" in m:
            m[f"self.{layer}_s"] = s / max(1, len(traced))
    paired = [r for r in tr.requests if "pair" in r]
    if paired:
        m["trace.overhead_s"] = (
            quantile([r["s"] for r in paired if r["traced"]], 0.5)
            - quantile([r["s"] for r in paired if not r["traced"]], 0.5))
    m.update(bench.layer)
    return m


if __name__ == "__main__":
    sys.exit(main())
