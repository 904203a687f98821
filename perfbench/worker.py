"""One benchmark run inside one Spark driver process.

``run.py`` starts this with the run's environment (per-run temp, local,
warehouse and fixture-cache directories; Spark settings in
``PYSPARK_SUBMIT_ARGS``) and reads the JSON it writes to ``--out``.

Phases:
0. untimed: the seeded inputs are generated and written, and their output
   checks set up (DuckDB views, the catalog's closed forms). This is the
   benchmark's own work, so it comes before set-up is timed;
1. set-up (``setup_s``), timed from the call that starts the session:
   session start, loading the inputs the program caches, then one warm-up
   pass over the op list. The warm-up pass also checks every op's output
   (batch ops against their DuckDB oracle, service ops against closed
   forms from the generated catalog); the checks are timed on their own
   and left out of ``warmup_s`` and ``setup_s``;
2. timed passes over the same op list: the workload's minimum number,
   and more while fewer than ``--seconds`` have passed. With
   ``--trace 1`` there are exactly three: two with spans off, then a
   traced one that gives the per-layer figures. Its overhead is taken
   against the second, as the first is still warming up.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import inputs  # noqa: E402
import tracing  # noqa: E402
import workloads as W  # noqa: E402
from oracle import Oracle  # noqa: E402

OP_TIMEOUT_S = 90.0


class Runner:
    """Runs ops under job groups, cancelling any op past its timeout."""

    def __init__(self, sc):
        self.sc = sc
        self.seq = 0

    def run(self, op, check: bool):
        """-> dict(lat_s, build_s, check_s, error, groups). ``check``
        materializes to pandas and checks the output instead of using
        ``op.materialize``; the check's own time is ``check_s``, not part
        of ``lat_s``."""
        self.seq += 1
        groups = (f"pb{self.seq}b", f"pb{self.seq}m")
        timer = threading.Timer(OP_TIMEOUT_S, self._cancel, [groups])
        timer.daemon = True
        timer.start()
        error = None
        check_s = 0.0
        t0 = time.perf_counter()
        tb = t0
        try:
            self.sc.setJobGroup(groups[0], op.name)
            try:
                result = op.build()
            except ValueError:
                if not op.expect_reject:
                    raise
                result = None  # rejected as it should be
            tb = time.perf_counter()
            self.sc.setJobGroup(groups[1], op.name)
            if op.expect_reject:
                if result is not None:
                    error = "malformed message accepted"
            elif check:
                out = op.materialize_check(result)
                tc = time.perf_counter()
                try:
                    error = op.check(out)
                finally:
                    check_s = time.perf_counter() - tc
            else:
                op.materialize(result)
        except Exception as e:  # an op failure is a result, not a crash
            first_line = (str(e).strip().splitlines() or [""])[0]
            error = f"{type(e).__name__}: {first_line[:300]}"
            traceback.print_exc()
        finally:
            timer.cancel()
            self.sc.setJobGroup("pb-idle", "idle")
        t1 = time.perf_counter()
        return {"lat_s": t1 - t0 - check_s, "build_s": tb - t0,
                "check_s": check_s, "error": error, "groups": groups}

    def _cancel(self, groups):
        for g in groups:
            self.sc.cancelJobGroup(g)


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def make_inputs(workload: str, run_dir: str, seed: int):
    """Generate and write the workload's seeded inputs and set up their
    output checks. Returns (load, close): ``load(spark)`` reads and caches
    what the program keeps in memory and returns the op list."""
    data = os.path.join(run_dir, "data")
    if workload == "service_mix":
        cat = inputs.make_catalog(seed, **W.CATALOG)
        paths = inputs.write_catalog(cat, data)
        checks = W.ServiceChecks(cat)

        def load(spark):
            from tdei_backend_service_spark.backend_service import Catalog

            frames = {}
            for name, path in paths.items():
                frames[name] = spark.read.parquet(path).cache()
                frames[name].count()
            return W.service_ops(Catalog(**frames), checks, seed)

        return load, lambda: None

    sf_dir = os.path.join(data, "sf")
    inputs.write_tables(sf_dir, seed, W.SF)
    oracle = Oracle(ROOT, sf_dir)
    return (lambda spark: W.query_ops(spark, sf_dir, W.WORKLOADS[workload][0],
                                      seed, oracle)), oracle.close


def pass_wall(samples_by_op: dict) -> float:
    """One pass's time: the sum over ops of each op's median latency."""
    return sum(statistics.median(v) for v in samples_by_op.values())


def end_to_end(setup_s, ops, lat, failed, attempted) -> dict:
    """The run's end-to-end metrics. Latency figures leave out rejected
    messages, whose microseconds of validation are not a job's latency."""
    samples = [x for op in ops if not op.expect_reject for x in lat[op.name]]
    return {
        "setup_s": setup_s,
        "wall_s": pass_wall(lat),
        "op_p50_s": statistics.median(samples),
        "ok_ratio": 1.0 - failed / attempted,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    spans = None
    if a.trace:
        spans = tracing.Spans()
        spans.install()

    t = time.perf_counter()
    load, close = make_inputs(a.workload, a.run_dir, a.seed)
    inputs_s = time.perf_counter() - t

    from tdei_backend_service_spark.session import get_spark

    t_setup = t = time.perf_counter()
    spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
    get_spark_s = time.perf_counter() - t
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    stream = None
    if a.trace:
        import __spark_entry__  # noqa: F401  (bind spans into it)
        spans.sweep()
        stream = tracing.make_stream_stats()
        spark.streams.addListener(stream)

    t = time.perf_counter()
    ops = load(spark)
    load_s = time.perf_counter() - t

    runner = Runner(sc)
    t = time.perf_counter()
    checks = {}
    check_s = 0.0
    for op in ops:
        r = runner.run(op, check=True)
        checks[op.name] = r["error"]
        check_s += r["check_s"]
    close()
    warmup_s = time.perf_counter() - t - check_s
    setup_s = time.perf_counter() - t_setup - check_s

    lat = defaultdict(list)
    errors = defaultdict(list)
    pass_s = []
    traced = {}
    min_passes = W.WORKLOADS[a.workload][1]
    t_timed = time.perf_counter()
    n_pass = 0
    while True:
        n_pass += 1
        traced_pass = bool(a.trace) and n_pass == 3
        if traced_pass:
            traced = begin_trace(spark, spans, stream)
        t = time.perf_counter()
        rows = []
        for op in ops:
            r = runner.run(op, check=False)
            rows.append((op, r))
            if r["error"]:
                errors[op.name].append(r["error"])
            lat[op.name].append(r["lat_s"])
        pass_s.append(time.perf_counter() - t)
        if traced_pass:
            end_trace(traced, spark, spans, stream, rows)
        if a.trace:
            if n_pass == 3:
                break
        elif n_pass >= min_passes and time.perf_counter() - t_timed >= a.seconds:
            break
    memory = {"jvm.peak_rss_mb": _hwm_mb(jvm_pid(spark)),
              "python.peak_rss_mb": _hwm_mb(os.getpid())}
    spark.stop()

    attempted = len(ops) * (1 + n_pass)
    failed = sum(1 for e in checks.values() if e) + sum(len(v) for v in errors.values())
    result = {
        "workload": a.workload, "seed": a.seed, "passes": n_pass,
        "ops": [op.name for op in ops],
        "attempted": attempted, "failed": failed,
        "checks": checks, "errors": dict(errors),
        "latency_s": dict(lat),
        "end_to_end": end_to_end(setup_s, ops, lat, failed, attempted),
        "setup": {"session.get_spark_s": get_spark_s, "inputs.load_s": load_s,
                  "warmup_s": warmup_s},
        # the benchmark's own work, outside setup_s
        "bench": {"inputs_s": inputs_s, "checks_s": check_s},
        "pass_s": pass_s,
    }
    if a.trace:
        result["layers"] = finish_trace(traced, a.run_dir, ops, lat, pass_s,
                                        {**result["setup"], **memory})
        result["spans"] = traced.get("spans", {})
    with open(a.out, "w") as f:
        json.dump(result, f)
    return 0


def _hwm_mb(pid: int) -> float:
    return tracing.proc_status_kb(pid, "VmHWM") / 1024.0


def _io_bytes(spark) -> int:
    return tracing.proc_io(jvm_pid(spark)) + tracing.proc_io(os.getpid())


def begin_trace(spark, spans, stream) -> dict:
    spans.reset()
    stream.reset()
    spans.enabled = True
    return {"t0_ms": time.time() * 1000.0,
            "cpu0": tracing.group_cpu_s(os.getpgrp()), "io0": _io_bytes(spark)}


def end_trace(tr, spark, spans, stream, rows) -> None:
    spans.enabled = False
    tr["t1_ms"] = time.time() * 1000.0
    tr["cpu_s"] = tracing.group_cpu_s(os.getpgrp()) - tr["cpu0"]
    tr["io_bytes"] = _io_bytes(spark) - tr["io0"]
    sc = spark.sparkContext
    sched = defaultdict(int)
    build_s = mat_s = 0.0
    for op, r in rows:
        build_s += r["build_s"]
        mat_s += r["lat_s"] - r["build_s"]
        gb, gm = r["groups"]
        jb, sb, tb = tracing.job_counts(sc, gb)
        jm, sm, tm = tracing.job_counts(sc, gm)
        sched["spark.jobs"] += jb + jm
        sched["spark.build_jobs"] += jb
        sched["spark.stages"] += sb + sm
        sched["spark.tasks"] += tb + tm
    tr["sched"] = dict(sched)
    tr["build_s"], tr["materialize_s"] = build_s, mat_s
    tr["rejected"] = sum(1 for op, r in rows if op.expect_reject and not r["error"])
    time.sleep(1.0)  # let the listener bus deliver the last progress events
    tr["stream"] = stream.snapshot()
    tr["spans"] = spans.snapshot()


def finish_trace(tr, run_dir, ops, lat, pass_s, run_figures) -> dict:
    """Per-layer figures for the traced pass (the run's third pass)."""
    ev = eventlog.summarize(eventlog.read_events(os.path.join(run_dir, "eventlog")),
                            tr["t0_ms"], tr["t1_ms"])
    sp = tr["spans"]

    def span(name, field="total_s"):
        return sp.get(name, {}).get(field, 0.0)

    out = dict(run_figures)
    out.update({
        "backend_service.validate_s": span("backend_service.validate_request"),
        "backend_service.dispatch_s": span("backend_service.dispatch"),
        "backend_service.rejected": tr["rejected"],
        "spark_entry.build_s": tr["build_s"],
        "sink.materialize_s": tr["materialize_s"],
        "process.cpu_s": tr["cpu_s"],
    })
    out.update({k: float(v) for k, v in tr["sched"].items()})
    out.update(ev)
    cand = ev["core.join.candidate_pairs"]
    out["core.join.refine_yield"] = ev["core.join.refined_pairs"] / cand if cand else 0.0
    for k in ("batches", "trigger_s", "addbatch_s", "wal_commit_s",
              "state_rows", "state_bytes", "state_commit_s"):
        out[f"streaming.{k}"] = float(tr["stream"].get(k, 0.0))
    out["io.export_osm_xml_s"] = span("io.osm_xml.export_osm_xml")
    out["io.write_tile_layout_s"] = span("io.tile_store.write_tile_layout")
    out["io.bytes_written"] = float(tr["io_bytes"])
    for svc in W.SERVICES:
        xs = [x for op in ops if op.service == svc for x in lat[op.name]]
        out[f"svc.{svc}.p50_s"] = statistics.median(xs) if xs else 0.0
    out["trace.overhead_s"] = pass_s[2] - pass_s[1]
    for name, v in sp.items():
        out[f"{name}.calls"] = float(v["calls"])
        out[f"{name}.self_s"] = v["self_s"]
    return out


if __name__ == "__main__":
    sys.exit(main())
