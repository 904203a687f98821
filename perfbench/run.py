"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Makes a fresh run directory under
``.perfbench/`` for everything the run writes (inputs, Spark local and
warehouse dirs, temp files, fixture cache, event log), runs
``worker.py`` in its own process group with that environment, records
the run conditions, deletes the run directory and prints one line per
metric followed by the result as one JSON line. ``--trace 0`` reports
the end-to-end metrics of ``BENCHMARK.json``, ``--trace 1`` its
per-layer metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.metadata
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "tdei_backend_service_spark"
WORKER_TIMEOUT_S = 170


def tree_id(root: str) -> str:
    """Content hash of the program under test (package + entry module)."""
    h = hashlib.sha256()
    paths = [os.path.join(root, "__spark_entry__.py")]
    for d, dirs, files in os.walk(os.path.join(root, PKG)):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        paths += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user nice system idle
    iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(t0: list[int], t1: list[int]) -> float:
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if sum(d) else 0.0


def _version(dist: str) -> str:
    try:
        return importlib.metadata.version(dist)
    except importlib.metadata.PackageNotFoundError:
        return "absent"


def spark_args(run_dir: str, trace: bool) -> str:
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # JVM temp files, and no hsperfdata file under /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"}
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
                     "spark.eventLog.compress": "false"})
    parts = []
    for k, v in conf.items():
        parts += ["--conf", shlex.quote(f"{k}={v}")]
    return " ".join(parts + ["pyspark-shell"])


def _group_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            return True
    return False


def stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the worker's process group (the JVM and any
    Python workers) and wait until it is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 20
    while _group_alive(proc.pid) and time.time() < deadline:
        time.sleep(0.1)


def metric_values(values: dict, names: list[dict]) -> dict:
    """The metrics ``names`` lists, in its order and units; a per-layer
    figure the run did not reach (a span never entered) reads 0."""
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in names}


def report(result: dict, conditions: dict) -> None:
    """Human-readable lines before the final JSON line."""
    print(f"# workload={result['workload']} seed={result['seed']} "
          f"passes={result['passes']} ops/pass={len(result['ops'])}")
    for name, err in result["checks"].items():
        print(f"check {name}: {'ok' if not err else 'FAILED ' + err}")
    for name, errs in result["errors"].items():
        print(f"timed {name}: FAILED x{len(errs)}: {errs[0]}")
    failed_ratio = result["failed"] / result["attempted"]
    print(f"failed_ratio {failed_ratio:.4f} ratio "
          f"({result['failed']} of {result['attempted']} ops)")
    lat = [x for name, xs in result["latency_s"].items()
           if not name.startswith("svc.rejected") for x in xs]
    p50 = stats.percentile(lat, 0.5)
    print(f"op_p50_s {p50['value']:.4f} s (n={p50['n']})")
    try:
        p90 = stats.percentile(lat, 0.9)
        print(f"op_p90_s {p90['value']:.4f} s (n={p90['n']}, {p90['beyond']} beyond)")
    except ValueError as e:
        print(f"op_p90_s not reported: {e}")
    for name, xs in sorted(result["latency_s"].items()):
        print(f"op {name} median {stats.percentile(xs, 0.5)['value']:.4f} s "
              f"(n={len(xs)}: {', '.join(f'{x:.3f}' for x in xs)})")
    print("setup " + " ".join(f"{k}={v:.3f}" for k, v in result["setup"].items()))
    print(f"benchmark's own work, outside setup_s: generating inputs "
          f"{result['bench']['inputs_s']:.3f} s, output checks "
          f"{result['bench']['checks_s']:.3f} s")
    print("conditions " + json.dumps(conditions, sort_keys=True))


def report_layers(result: dict) -> None:
    layers = result["layers"]
    top = sorted(result.get("spans", {}).items(), key=lambda kv: -kv[1]["self_s"])
    print("top spans by self time (traced pass):")
    for name, v in top[:12]:
        print(f"  {name:50s} calls={v['calls']:4d} self_s={v['self_s']:.3f} "
              f"total_s={v['total_s']:.3f}")
    print(f"trace.overhead_s {layers['trace.overhead_s']:.4f} s "
          f"(traced pass {result['pass_s'][2]:.3f} s - untraced pass "
          f"{result['pass_s'][1]:.3f} s)")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isdir(os.path.join(ROOT, PKG))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isfile(bench_json)):
        print(f"run.py: {ROOT} holds no {PKG} package, __spark_entry__.py "
              "or BENCHMARK.json to benchmark", file=sys.stderr)
        return 2
    with open(bench_json) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"run.py: unknown workload {a.workload!r}", file=sys.stderr)
        return 2

    tree = tree_id(ROOT)
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{time.time_ns()}")
    for sub in ("tmp", "local", "eventlog", "data"):
        os.makedirs(os.path.join(run_dir, sub))
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_FIXTURE_CACHE": os.path.join(run_dir, f"fixture-cache-{tree}"),
        "PYSPARK_SUBMIT_ARGS": spark_args(run_dir, bool(a.trace)),
        # the short-lived launcher JVM that spark-submit starts first
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    out = os.path.join(run_dir, "result.json")
    log = os.path.join(run_dir, "worker.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--run-dir", run_dir, "--out", out]
    cpu0, t0 = cpu_times(), time.time()
    result = None
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, env=env, cwd=run_dir, stdout=lf,
                                    stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                rc = proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                stop_group(proc)
        if rc == 0 and os.path.isfile(out):
            with open(out) as f:
                result = json.load(f)
        else:
            with open(log) as f:
                tail = f.read()[-4000:]
            why = "timed out" if rc is None else f"exited {rc}"
            print(f"run.py: worker {why}; log tail:\n{tail}", file=sys.stderr)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    if result is None:
        return 1

    conditions = {
        "seed": a.seed, "workload": a.workload, "trace": a.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_steal_share": steal_share(cpu0, cpu_times()),
        "run_s": time.time() - t0, "tree": tree,
        "python": sys.version.split()[0],
        "pyspark": _version("pyspark"), "pyarrow": _version("pyarrow"),
        "pandas": _version("pandas"), "duckdb": _version("duckdb"),
    }
    report(result, conditions)
    metrics = (metric_values(result["layers"], spec["per_layer"]) if a.trace
               else metric_values(result["end_to_end"], spec["end_to_end"]))
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    if a.trace:
        report_layers(result)
    print(json.dumps({"correct": result["failed"] == 0,
                      "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
