"""Tests of the benchmark's own pieces (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)
sys.path.insert(0, BENCH)

import stats  # noqa: E402
import workloads as W  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- message generator -------------------------------------------------------

def test_messages_deterministic_per_seed():
    assert W.service_messages(7) == W.service_messages(7)
    assert W.service_messages(7) != W.service_messages(8)


@pytest.mark.parametrize("seed", range(20))
def test_messages_cover_every_service(seed):
    msgs = W.service_messages(seed)
    accepted = Counter(m["data"]["service"] for m in msgs
                       if not m.get("malformed"))
    assert set(accepted) == set(W.SERVICES)
    assert sum(1 for m in msgs if m.get("malformed")) == W.SERVICE_COUNTS["malformed"]


def test_malformed_messages_fail_validation():
    from tdei_backend_service_spark.backend_service import validate_request

    bad = [m for s in range(20) for m in W.service_messages(s) if m.get("malformed")]
    assert bad
    for m in bad:
        with pytest.raises(ValueError):
            validate_request({k: v for k, v in m.items() if k != "malformed"})
    for m in W.service_messages(3):
        if not m.get("malformed"):
            validate_request(m)


# -- percentile helper --------------------------------------------------------

def test_percentile_reports_sample_count():
    p = stats.percentile(range(1, 102), 0.5)
    assert p == {"value": 51, "n": 101, "beyond": 50}
    p90 = stats.percentile(range(1, 101), 0.9)
    assert p90["value"] == 90 and p90["n"] == 100 and p90["beyond"] == 10


def test_percentile_refuses_thin_tail():
    with pytest.raises(ValueError, match="beyond"):
        stats.percentile(range(99), 0.9)  # 9 samples beyond p90
    assert stats.percentile(range(5), 0.5)["n"] == 5  # the median is always given


# -- output checks --------------------------------------------------------------

def test_segment_box_test():
    box = (0.0, 0.0, 1.0, 1.0)
    assert W._segment_hits_box((-1, 0.5), (2, 0.5), box)
    assert W._segment_hits_box((1.0, 2.0), (1.0, 1.0), box)  # touches a corner
    assert not W._segment_hits_box((-1, 1.5), (2, 1.5), box)
    assert not W._segment_hits_box((1.5, -1), (3, 1), box)


def test_wkb_coords_roundtrip():
    from tdei_backend_service_spark.core import geom

    line = [(0.0, 1.0), (2.0, 3.0), (4.0, 5.0)]
    assert W._wkb_coords(geom.wkb_linestring(line)).tolist() == [list(p) for p in line]
    ring = [(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 0.0)]
    assert W._wkb_coords(geom.wkb_polygon(ring)).tolist() == [list(p) for p in ring]


# -- tracing spans --------------------------------------------------------------

def test_span_self_time_excludes_children():
    import time

    import tracing

    spans = tracing.Spans()
    inner = spans._wrap("m.inner", lambda: time.sleep(0.05))
    outer = spans._wrap("m.outer", lambda: (time.sleep(0.02), inner()))
    spans.enabled = True
    outer()
    snap = spans.snapshot()
    assert snap["m.outer"]["calls"] == 1 and snap["m.inner"]["calls"] == 1
    assert snap["m.outer"]["total_s"] >= 0.07
    assert 0.015 <= snap["m.outer"]["self_s"] < 0.045
    spans.enabled = False
    outer()
    assert spans.snapshot()["m.outer"]["calls"] == 1


def test_wrapped_functions_pickle_by_reference():
    """UDF closures that reference a wrapped function must still ship the
    original to Python workers: cloudpickle stores the wrapper as module +
    name, which a worker resolves on its own fresh import."""
    code = (
        "import tracing, __spark_entry__\n"
        "from pyspark import cloudpickle\n"
        "from tdei_backend_service_spark.core import join\n"
        "from tdei_backend_service_spark.operators import spatial_join as sj\n"
        "orig = join.two_phase_join\n"
        "s = tracing.Spans(); s.install()\n"
        "assert join.two_phase_join is not orig\n"
        "assert sj.two_phase_join is join.two_phase_join\n"
        "blob = cloudpickle.dumps(join.two_phase_join)\n"
        "assert b'two_phase_join' in blob and len(blob) < 200, len(blob)\n")
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([BENCH, ROOT]))
    p = subprocess.run([sys.executable, "-c", code], env=env,
                       capture_output=True, text=True, timeout=120)
    assert p.returncode == 0, p.stderr


# -- metric names -----------------------------------------------------------------

def test_end_to_end_names_match_benchmark_json():
    import worker

    op = W.Op("q.x", None, None, None, None, None)
    e2e = worker.end_to_end(1.0, [op], {"q.x": [0.5, 0.7]}, 0, 4)
    assert set(e2e) == {m["name"] for m in _spec()["end_to_end"]}
    assert all(v > 0 for v in e2e.values())


def test_per_layer_names_are_produced(tmp_path):
    import worker

    spec = _spec()
    (tmp_path / "eventlog").mkdir()
    tr = {"t0_ms": 0.0, "t1_ms": 1.0, "spans": {}, "stream": {}, "sched": {
        "spark.jobs": 1, "spark.build_jobs": 1, "spark.stages": 1,
        "spark.tasks": 1}, "build_s": 0.1, "materialize_s": 0.1, "io_bytes": 0,
        "cpu_s": 0.5, "rejected": 1}
    ops = [W.Op("svc.bbox_intersect.m0", "bbox_intersect", None, None, None, None)]
    layers = worker.finish_trace(tr, str(tmp_path), ops,
                                 {"svc.bbox_intersect.m0": [0.2, 0.3]}, [1.2, 1.0, 1.1],
                                 {"session.get_spark_s": 1.0, "inputs.load_s": 1.0,
                                  "warmup_s": 1.0, "jvm.peak_rss_mb": 1.0,
                                  "python.peak_rss_mb": 1.0})
    fixed = {m["name"] for m in spec["per_layer"]
             if not m["name"].endswith((".calls", ".self_s"))}
    assert fixed <= set(layers), fixed - set(layers)


def test_benchmark_json_shape():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert {w["name"] for w in spec["workloads"]} == set(W.WORKLOADS)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert max(m["bound"] for m in e2e.values()) == e2e["setup_s"]["bound"] <= 0.25
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))


# -- isolation --------------------------------------------------------------------

def test_run_refuses_a_tree_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command fails fast and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "batch_mix", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


# -- inputs -----------------------------------------------------------------------

def test_inputs_are_a_function_of_the_seed(tmp_path):
    import pyarrow.parquet as pq

    import inputs

    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        inputs.write_tables(str(tmp_path / name), seed, 0.001)
    tables = sorted(os.listdir(tmp_path / "a"))
    assert len(tables) == 10

    def same(x, y, t):
        return pq.read_table(tmp_path / x / t).equals(pq.read_table(tmp_path / y / t))

    assert all(same("a", "b", t) for t in tables)
    assert not same("a", "c", "orders.parquet")
    c1, c2 = inputs.make_catalog(3, 200, 10, 4), inputs.make_catalog(3, 200, 10, 4)
    assert c1.images.drop(columns="props").equals(c2.images.drop(columns="props"))
    assert c1.n_dups == 20
