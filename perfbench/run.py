"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a source checkout.  One driver process runs the
workload closed-loop (one pass at a time) on ``local[nproc]`` with
2 x nproc shuffle partitions.  Set-up starts the session and builds the
seeded inputs.  Then whole passes are timed, the first one in the fresh
driver as a ``spark-submit`` job meets it, until ``--seconds`` of pass
time has accumulated; each is checked for correct output outside the
timed region.  The last stdout line is one JSON object: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.  The
exit code is non-zero when any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Session settings the benchmark applies from outside the program (the
# session module reads the heap and JVM options from these variables).
DRIVER_HEAP = "4g"   # JVM heap plus pandas workers peak well under 15 GB
JAVA_OPTS = "-XX:+UseParallelGC -XX:-UsePerfData"


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``,
    and let the pandas workers import the package from the checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = (
        f"{JAVA_OPTS} -Djava.io.tmpdir={tmp}")
    # the short-lived JVM that spark-submit uses to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")


# ---------------------------------------------------------------------------
# process tree: peak RSS and shutdown
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _is_java(pid: int) -> bool:
    try:
        return os.readlink(f"/proc/{pid}/exe").endswith("/java")
    except OSError:
        return False


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (the driver JVM and the Python workers) every ``period`` seconds."""

    PAGE = os.sysconf("SC_PAGE_SIZE")

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _rss(self) -> int:
        kids = _children_map()
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self.PAGE
            except OSError:
                pass
            # A child the JVM has just spawned shares the JVM's memory
            # until it execs (vfork), and reports the JVM's RSS as its own.
            todo += [c for c in kids.get(pid, [])
                     if not (_is_java(c) and _is_java(pid))]
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self.peak = max(self.peak, self._rss())

    def reset(self) -> None:
        self.peak = self._rss()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for every process this
    run started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()   # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)
    left = descendants(os.getpid())
    deadline = time.monotonic() + 20
    while left and time.monotonic() < deadline:
        time.sleep(0.2)
        left = [p for p in left if os.path.exists(f"/proc/{p}")]
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for p in left:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            while os.path.exists(f"/proc/{p}"):
                time.sleep(0.05)


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

class Context:
    def __init__(self, args, work: str, spark, spans):
        self.seed = args.seed
        self.work = work
        self.root = ROOT
        self.spark = spark
        self.spans = spans

    def run_pass(self, workload, pass_id: str) -> tuple[float, list[str]]:
        """One pass of ``workload`` under its own job group; returns its
        wall time and the problems its correctness check found."""
        self.spark.catalog.clearCache()
        workload.before_pass(self)
        sc = self.spark.sparkContext
        sc.setJobGroup(pass_id, pass_id)
        self.spans.pass_id = pass_id
        t = time.perf_counter()
        try:
            workload.run_pass(self, self.spans)
        except Exception:    # a failed pass is counted, not fatal
            traceback.print_exc()
            return time.perf_counter() - t, ["pass raised"]
        wall = time.perf_counter() - t
        sc.setJobGroup("check", "check")
        self.spans.pass_id = None
        try:
            problems = workload.check(self)
        except Exception:
            traceback.print_exc()
            problems = ["check raised"]
        return wall, problems


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    from perfbench import trace
    from perfbench.workloads import WORKLOADS

    spans = trace.Spans()
    broadcast = {"bytes": 0}
    with RssSampler() as rss:
        t0 = time.perf_counter()
        from audio_quality_checker_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))
        extra = {"spark.ui.showConsoleProgress": "false"}
        if args.trace:
            log_dir = os.path.join(work, "eventlog")
            os.makedirs(log_dir)
            extra.update({"spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": f"file://{log_dir}",
                          "spark.eventLog.rolling.enabled": "false",
                          "spark.eventLog.compress": "false"})
        spark = get_spark(app_name=f"perfbench-{args.workload}", cores=cores,
                          shuffle_partitions=2 * cores, extra_conf=extra)
        try:
            ctx = Context(args, work, spark, spans)
            workload = WORKLOADS[args.workload]()
            workload.setup(ctx)
            setup_s = time.perf_counter() - t0

            if args.trace:
                trace.install_broadcast_meter(spark.sparkContext, broadcast)
                gc0 = trace.gc_seconds(spark)
            walls, failures, pass_ids = [], 0, []
            rss.reset()
            while not walls or sum(walls) < args.seconds:
                pid = f"pass{len(walls)}"
                wall, problems = ctx.run_pass(workload, pid)
                walls.append(wall)
                pass_ids.append(pid)
                if problems:
                    failures += 1
                    print(f"{pid} FAILED: {problems}", file=sys.stderr)
            peak_rss = rss.peak
            if args.trace:
                gc_s = trace.gc_seconds(spark) - gc0
                py_broadcast = broadcast["bytes"]
                # One more pass with every layer boundary forced, for the
                # spans only: forcing recomputes some work, so the
                # counters above come from the unforced passes.
                trace.install_spans(spans)
                forced_s, problems = ctx.run_pass(workload, "traced")
                if problems:
                    failures += 1
                    print(f"traced FAILED: {problems}", file=sys.stderr)
        finally:
            stop_session(spark)

    wall_s = statistics.median(walls)
    attempted = len(walls) + (1 if args.trace else 0)
    calls = " ".join(f"{k}={v[0]:.3f}"
                     for k, v in spans.totals(pass_ids[0]).items())
    print(f"workload={args.workload} seed={args.seed} "
          f"passes={' '.join(f'{w:.3f}' for w in walls)} "
          f"wall_s={wall_s:.4f} "
          f"setup_s={setup_s:.4f} error_rate={failures}/{attempted} "
          f"pass0: {calls}")
    if args.trace:
        metrics = layer_metrics(work, spans, pass_ids, gc_s, py_broadcast,
                                wall_s)
        out = os.path.join(ROOT, ".perfbench", "traces",
                           f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "forced_pass_s": forced_s, "metrics": metrics,
                       "spans": spans.export("traced")}, f, indent=1)
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall_s, "s"),
            "docs_per_s": (workload.n_docs / wall_s, "1/s"),
            "peak_rss_mb": (peak_rss / 2**20, "MB"),
        }
    print(json.dumps({
        "correct": failures == 0,
        "attempted": attempted,
        "failed": failures,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 1 if failures else 0


def layer_metrics(work, spans, pass_ids, gc_s, py_broadcast, wall_s):
    """Counters per timed pass, and the spans of the forced pass."""
    from perfbench import trace

    n = len(pass_ids)
    counters = dict.fromkeys(trace.COUNTERS, 0.0)
    for pid in pass_ids:
        for k, v in trace.event_log_counters(
                os.path.join(work, "eventlog"), pid).items():
            counters[k] += v / n
    counters["driver.broadcast_bytes"] += py_broadcast / n
    metrics = {k: (v, "B" if "bytes" in k else
                       "s" if k.endswith("_s") else "count")
               for k, v in counters.items()}
    metrics["jvm.gc_s"] = (gc_s / n, "s")
    metrics["trace.wall_s"] = (wall_s, "s")
    totals = spans.totals("traced")
    for name in trace.SPAN_NAMES + _query_spans():
        tot, own = totals.get(name, (0.0, 0.0))
        metrics[f"{name}_s"] = (tot, "s")
        if name in trace.SELF_TIME:
            metrics[trace.SELF_TIME[name]] = (own, "s")
    return metrics


def _query_spans() -> list[str]:
    from perfbench.workloads import CorpusWorkload

    return [f"entry_queries.{q}" for q in CorpusWorkload.QUERIES]


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
