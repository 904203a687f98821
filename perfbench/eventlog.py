"""Per-layer figures from an uncompressed Spark event log.

``summarize(events, t0_ms, t1_ms)`` sums, over the events inside a
wall-clock window:

* task metrics from ``SparkListenerTaskEnd`` — run, CPU and GC time,
  shuffle read/write bytes, spill bytes — and the wait from each stage's
  submission to its first task launch;
* Python UDF metrics (``PythonSQLMetrics``) of every plan node that talks
  to Python workers — run time, worker start + init time, bytes each way
  and rows returned;
* the spatial join's candidate and refined pair counts: output rows of
  the ``Filter`` on the ``_refine`` Arrow UDF (``core/join.py:
  refine_pairs``), and of the hash joins on the ``cell`` key beneath it.

SQL metric ids come from the plan info of ``SQLExecutionStart`` and of
every adaptive re-plan; values from task accumulable updates and
driver-side accumulator updates.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

_PY_METRICS = {
    "time to run Python workers": "udf.python_run_s",
    "time to start Python workers": "udf.python_boot_s",
    "time to initialize Python workers": "udf.python_boot_s",
    "data sent to Python workers": "udf.bytes_to_python",
    "data returned from Python workers": "udf.bytes_from_python",
}
_SECONDS_PER = {"timing": 1e-3, "nsTiming": 1e-9}

KEYS = ("spark.task_run_s", "spark.task_cpu_s", "spark.gc_s",
        "spark.stage_wait_s", "spark.shuffle_read_bytes",
        "spark.shuffle_write_bytes", "spark.spill_bytes",
        "udf.python_run_s", "udf.python_boot_s", "udf.bytes_to_python",
        "udf.bytes_from_python", "udf.rows_from_python",
        "core.join.candidate_pairs", "core.join.refined_pairs")


def read_events(log_dir: str) -> list[dict]:
    """Every event of the application logs under ``log_dir``, in order.
    Spark 4 writes ``eventlog_v2_<app>/events_<n>_<app>`` files."""
    paths = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    events = []
    for p in sorted(paths, key=lambda p: (os.path.dirname(p),
                                          int(os.path.basename(p).split("_")[1]))):
        with open(p) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


_WRAPPERS = ("InputAdapter", "WholeStageCodegen", "ColumnarToRow", "Project")


def _unwrap(node):
    """The first descendant that is not a codegen wrapper or projection."""
    while node.get("nodeName", "").startswith(_WRAPPERS) and node.get("children"):
        node = node["children"][0]
    return node


def _walk(node, out):
    out.append(node)
    for c in node.get("children", []):
        _walk(c, out)
    return out


def _refine_input(node):
    """For a ``Filter`` on the ``_refine`` Arrow UDF, that UDF's node."""
    if node.get("nodeName") != "Filter":
        return None
    for c in node.get("children", []):
        c = _unwrap(c)
        if (c.get("nodeName") == "ArrowEvalPython"
                and "_refine(" in c.get("simpleString", "")):
            return c
    return None


def _plan_metrics(plan) -> dict[int, tuple[str, str]]:
    """accumulator id -> (layer key, metric type) for the metrics this
    module reports, from one physical plan tree."""
    out: dict[int, tuple[str, str]] = {}

    def rows(node, key):
        for m in node.get("metrics", []):
            if m["name"] == "number of output rows":
                out[m["accumulatorId"]] = (key, "sum")

    for node in _walk(plan, []):
        metrics = node.get("metrics", [])
        if any(m["name"] == "data sent to Python workers" for m in metrics):
            for m in metrics:
                key = _PY_METRICS.get(m["name"])
                if key:
                    out[m["accumulatorId"]] = (key, m["metricType"])
            rows(node, "udf.rows_from_python")
        udf = _refine_input(node)
        if udf is not None:
            rows(node, "core.join.refined_pairs")
            # the candidates are the cell equi-join feeding this refine
            for sub in _walk(udf, []):
                if ("Join" in sub.get("nodeName", "")
                        and "[cell#" in sub.get("simpleString", "")):
                    rows(sub, "core.join.candidate_pairs")
    return out


def summarize(events: list[dict], t0_ms: float, t1_ms: float) -> dict:
    """Sum the module's figures over events timed inside [t0_ms, t1_ms].
    Events without a time stamp inherit the last one seen."""
    acc_meta: dict[int, tuple[str, str]] = {}
    acc_val: dict[int, float] = defaultdict(float)
    out = dict.fromkeys(KEYS, 0.0)
    stage_submit: dict[tuple, float] = {}
    stage_first: dict[tuple, float] = {}
    clock = 0.0

    for e in events:
        kind = e.get("Event", "")
        if "sparkPlanInfo" in e:  # SQLExecutionStart / adaptive re-plan
            acc_meta.update(_plan_metrics(e["sparkPlanInfo"]))
        if kind.endswith("SQLExecutionStart"):
            clock = float(e.get("time", clock))
        elif kind == "SparkListenerJobStart":
            clock = float(e.get("Submission Time", clock))
        elif kind == "SparkListenerStageSubmitted":
            si = e["Stage Info"]
            clock = float(si.get("Submission Time") or clock)
            if t0_ms <= clock <= t1_ms:
                stage_submit[(si["Stage ID"], si["Stage Attempt ID"])] = clock
        elif kind == "SparkListenerTaskStart":
            ti = e["Task Info"]
            key = (e["Stage ID"], e["Stage Attempt ID"])
            stage_first.setdefault(key, float(ti["Launch Time"]))
        elif kind == "SparkListenerTaskEnd":
            ti = e["Task Info"]
            clock = float(ti.get("Finish Time") or clock)
            if not t0_ms <= clock <= t1_ms:
                continue
            m = e.get("Task Metrics") or {}
            out["spark.task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            out["spark.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            rd = m.get("Shuffle Read Metrics") or {}
            out["spark.shuffle_read_bytes"] += (rd.get("Remote Bytes Read", 0)
                                                + rd.get("Local Bytes Read", 0))
            wr = m.get("Shuffle Write Metrics") or {}
            out["spark.shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
            out["spark.spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
            for a in ti.get("Accumulables", []):
                if a.get("ID") in acc_meta and a.get("Update") is not None:
                    acc_val[a["ID"]] += float(a["Update"])
        elif kind.endswith("DriverAccumUpdates"):
            if t0_ms <= clock <= t1_ms:
                for acc_id, v in e.get("accumUpdates", []):
                    if acc_id in acc_meta:
                        acc_val[acc_id] += float(v)

    for key, t_sub in stage_submit.items():
        if key in stage_first:
            out["spark.stage_wait_s"] += max(stage_first[key] - t_sub, 0.0) / 1e3
    for acc_id, v in acc_val.items():
        key, mtype = acc_meta[acc_id]
        out[key] += v * _SECONDS_PER.get(mtype, 1.0)
    return out
