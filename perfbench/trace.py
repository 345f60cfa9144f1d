"""Traced-run instrumentation: spans around the calls into each layer and
per-layer Spark counters folded from the event log.

Spans are recorded from the benchmark side only: :func:`install_spans`
wraps the public functions a workload reaches (module attributes, so the
callers pick the wrapper up at call time) and forces each returned
DataFrame with a noop write, which moves that layer's work inside its
span.  Forcing recomputes some work, so a traced run takes its counters
from passes run before the wrappers are installed and its spans from one
forced pass after them.  End-to-end metrics are measured only with
tracing off.
"""

from __future__ import annotations

import importlib
import json
import os
import pickle
import time
from collections import defaultdict
from contextlib import contextmanager


class Spans:
    """In-memory span list: (name, start, end, parent index, pass id)."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._stack: list[int] = []
        self.pass_id: str | None = None

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "pass": self.pass_id}
        self.records.append(rec)
        self._stack.append(len(self.records) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """A span's duration minus the part of it its children cover."""
        covered = [0.0] * len(self.records)
        for rec in self.records:
            if rec["parent"] is not None:
                covered[rec["parent"]] += rec["end"] - rec["start"]
        return [r["end"] - r["start"] - c
                for r, c in zip(self.records, covered)]

    def export(self, pass_id: str) -> list[dict]:
        """The spans of one pass, start times relative to its first."""
        recs = [(i, r, own) for i, (r, own) in
                enumerate(zip(self.records, self.self_times()))
                if r["pass"] == pass_id]
        t0 = recs[0][1]["start"] if recs else 0.0
        return [{"id": i, "name": r["name"], "parent": r["parent"],
                 "start_s": r["start"] - t0, "dur_s": r["end"] - r["start"],
                 "self_s": own}
                for i, r, own in recs]

    def totals(self, pass_id: str) -> dict[str, tuple[float, float]]:
        """Per span name in one pass: (total s, self s)."""
        out: dict[str, tuple[float, float]] = {}
        for rec, own in zip(self.records, self.self_times()):
            if rec["pass"] == pass_id:
                tot, slf = out.get(rec["name"], (0.0, 0.0))
                out[rec["name"]] = (tot + rec["end"] - rec["start"],
                                    slf + own)
        return out


def _force(out):
    from pyspark.sql import DataFrame

    if isinstance(out, DataFrame):
        out.write.mode("overwrite").format("noop").save()
    return out


def _wrap(spans: Spans, name: str, fn, force):
    def wrapped(*args, **kwargs):
        with spans.span(name):
            return force(fn(*args, **kwargs))
    wrapped.__wrapped__ = fn
    return wrapped


def _force_result(res):
    """run_checks returns lazily-planned violations and verdicts."""
    _force(res.violations)
    _force(res.verdicts)
    return res


PKG = "audio_quality_checker_spark"

# (module, attribute, span name, forcing).  Each attribute is looked up by
# its caller at call time: plans.validate calls the names it imported at
# module level through its own globals, and the functions imported inside
# run_checks and jobs/corpus_prep.py are read from their home modules.
LAYER_CALLS = [
    ("plans.validate", "run_checks", "plans.validate.run_checks",
     _force_result),
    ("plans.validate", "partition_stats", "operators.stats.partition_stats",
     _force),
    ("plans.validate", "light_features", "operators.stats.features", _force),
    ("plans.validate", "with_membership", "operators.referential.probe",
     _force),
    ("plans.validate", "mismatch_violations", "operators.extraction_check",
     _force),
    ("plans.validate", "drift_violations", "operators.drift", _force),
    ("plans.validate", "assemble_verdicts", "operators.verdict", _force),
    ("operators.fused", "fused_features", "operators.fused", _force),
    ("operators.schema_check", "schema_violations", "operators.schema_check",
     _force),
    ("operators.dedup", "jaccard_edges_guarded",
     "operators.dedup.jaccard_edges_guarded", _force),
    ("operators.components", "keep_one", "operators.components.keep_one",
     _force),
    ("functions.bpe", "train_bpe", "functions.bpe.train_bpe", _force),
    ("functions.bpe", "bpe_token_counts", "functions.bpe.token_counts",
     _force),
]

# every span the benchmark can record; absent spans report 0 s
SPAN_NAMES = [name for _, _, name, _ in LAYER_CALLS] + [
    "plans.validate.full", "plans.validate.sampled", "jobs.corpus_prep",
]

# self-time metrics of the spans that have children.  validate()'s own
# work, once run_checks has computed everything, is the three result
# writes.
SELF_TIME = {
    "plans.validate.full": "plans.validate.full.write_s",
    "plans.validate.sampled": "plans.validate.sampled.write_s",
    "plans.validate.run_checks": "plans.validate.run_checks.self_s",
    "jobs.corpus_prep": "jobs.corpus_prep.self_s",
}


def install_spans(spans: Spans) -> None:
    for mod, attr, name, force in LAYER_CALLS:
        m = importlib.import_module(f"{PKG}.{mod}")
        setattr(m, attr, _wrap(spans, name, getattr(m, attr), force))


def install_broadcast_meter(sc, counter: dict) -> None:
    """Count the pickled size of every SparkContext.broadcast payload."""
    orig = sc.broadcast

    def broadcast(value):
        counter["bytes"] += len(pickle.dumps(value, protocol=4))
        return orig(value)

    sc.broadcast = broadcast


def gc_seconds(spark) -> float:
    """Cumulative collection time of the driver JVM (all collectors)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()
               ) / 1000.0


# ---------------------------------------------------------------------------
# event log -> per-layer counters
# ---------------------------------------------------------------------------

PYTHON_NODE = ("Python", "Pandas", "InArrow")


def _plan_metrics(plan: dict, out: dict) -> None:
    for m in plan.get("metrics", []):
        out[m["accumulatorId"]] = (plan["nodeName"], m["name"],
                                   m.get("metricType", ""))
    for child in plan.get("children", []):
        _plan_metrics(child, out)


def _metric_value(value, metric_type: str) -> float:
    v = float(value)
    if metric_type == "nsTiming":
        return v / 1e9
    if metric_type == "timing":
        return v / 1e3
    return v


def _accumulate(totals: dict, node: str, metric: str, v: float) -> None:
    if node == "BroadcastExchange" and metric == "data size":
        totals["driver.broadcast_bytes"] += v
    if not any(k in node for k in PYTHON_NODE):
        return
    if metric == "data sent to Python workers":
        totals["python_udf.bytes_sent"] += v
    elif metric == "data returned from Python workers":
        totals["python_udf.bytes_received"] += v
    elif metric == "number of output rows":
        totals["python_udf.rows_received"] += v
    elif metric.startswith("time to run"):
        totals["python_udf.run_s"] += v
    elif metric.startswith(("time to start", "time to initialize")):
        totals["python_udf.start_s"] += v


COUNTERS = [
    "scan.input_bytes", "scan.task_s",
    "python_udf.bytes_sent", "python_udf.bytes_received",
    "python_udf.rows_received", "python_udf.run_s", "python_udf.start_s",
    "exchange.shuffle_write_bytes", "exchange.shuffle_read_bytes",
    "exchange.spill_bytes",
    "driver.result_bytes", "driver.broadcast_bytes",
    "spark.jobs", "spark.stages", "spark.tasks",
]


def event_log_counters(log_dir: str, group: str) -> dict[str, float]:
    """Sum task, stage, job and SQL-metric counters over the jobs whose job
    group is ``group``.  SQL metrics are named through the plan graphs in
    the SQL execution events (initial and adaptive re-plans), so a metric
    is attributed to the operator node that owns it."""
    files = sorted(os.listdir(log_dir))
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}: {files}")
    acc_names: dict[int, tuple[str, str, str]] = {}
    stage_in_group: set[int] = set()
    exec_in_group: set[int] = set()
    totals: dict[str, float] = defaultdict(float)
    driver_updates: list[tuple[int, list]] = []
    with open(os.path.join(log_dir, files[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"):
                _plan_metrics(ev["sparkPlanInfo"], acc_names)
            elif kind.endswith("DriverAccumUpdates"):
                driver_updates.append((ev["executionId"], ev["accumUpdates"]))
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                if props.get("spark.jobGroup.id") == group:
                    totals["spark.jobs"] += 1
                    stage_in_group.update(ev["Stage IDs"])
                    if "spark.sql.execution.id" in props:
                        exec_in_group.add(int(props["spark.sql.execution.id"]))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if info["Stage ID"] in stage_in_group and \
                        "Submission Time" in info:
                    totals["spark.stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                if ev["Stage ID"] not in stage_in_group:
                    continue
                totals["spark.tasks"] += 1
                tm = ev.get("Task Metrics") or {}
                read = tm.get("Input Metrics", {}).get("Bytes Read", 0)
                totals["scan.input_bytes"] += read
                if read:
                    totals["scan.task_s"] += tm.get("Executor Run Time",
                                                    0) / 1e3
                sr = tm.get("Shuffle Read Metrics", {})
                totals["exchange.shuffle_read_bytes"] += (
                    sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0))
                totals["exchange.shuffle_write_bytes"] += tm.get(
                    "Shuffle Write Metrics", {}).get("Shuffle Bytes Written",
                                                     0)
                totals["exchange.spill_bytes"] += tm.get(
                    "Disk Bytes Spilled", 0)
                totals["driver.result_bytes"] += tm.get("Result Size", 0)
                for a in ev["Task Info"].get("Accumulables", []):
                    meta = acc_names.get(a["ID"])
                    if meta and "Update" in a:
                        node, metric, mtype = meta
                        _accumulate(totals, node, metric,
                                    _metric_value(a["Update"], mtype))
    for exec_id, updates in driver_updates:
        if exec_id not in exec_in_group:
            continue
        for acc_id, value in updates:
            meta = acc_names.get(acc_id)
            if meta:
                node, metric, mtype = meta
                _accumulate(totals, node, metric, _metric_value(value, mtype))
    return {k: totals.get(k, 0.0) for k in COUNTERS}
