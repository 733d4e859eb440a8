"""Smoke test of the benchmark itself: every workload at tiny size, one
plain op and one traced op, then its output checks.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402
from perfbench.trace import Tracer, instrument  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

PRODUCED: set[str] = set()      # per-layer metrics the workloads produced


@pytest.fixture(scope="module")
def session():
    os.makedirs(harness.WORK_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix="smoke-", dir=harness.WORK_DIR)
    spark = harness.start_session(work)
    yield spark, work
    harness.stop_session(spark)
    shutil.rmtree(work, ignore_errors=True)


def test_benchmark_json_names_known_workloads():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    assert {"setup_s", "job_s", "rows_per_s"} == \
        set(harness.metric_units("end_to_end"))


@pytest.mark.parametrize("name", list(WORKLOADS))
def test_workload_one_op(session, name):
    spark, work = session
    W = WORKLOADS[name]
    wl = W(spark, 7, os.path.join(work, name), W.SIZES["tiny"])
    os.makedirs(wl.work)
    wl.prepare(0)
    dt, out = wl.op(0)
    assert dt > 0
    tracer = Tracer(spark.sparkContext)
    tracer.op = 1
    with instrument(tracer):
        tdt, tout = wl.traced_op(1, tracer)
    tracer.collect_jobs()
    assert wl.check([out, tout]) == [True, True]

    layer = wl.layer_metrics(tracer, 1)
    assert set(layer) <= set(harness.metric_units("per_layer"))
    PRODUCED.update(layer)
    assert all(math.isfinite(v) for v in layer.values())
    spans = tracer.dump()
    assert spans and all(s["end"] >= s["start"] for s in spans)
    ids = {s["id"] for s in spans}
    assert all(s["parent"] is None or s["parent"] in ids for s in spans)
    assert any(s.get("jobs", 0) > 0 for s in spans)
    # span self times fit in the op; the scan's per-layer times are
    # differences of separate cumulative runs and carry their noise
    for k, v in layer.items():
        if k.endswith("self_s") and not k.startswith(("geo.bbox", "geo.cells",
                                                       "geo.join", "geo.pip",
                                                       "geo.tiles.self")):
            assert v <= tdt + 1e-6, (k, v, tdt)
    if name == "etl_checkpointed":   # the layers partition the pipeline run
        parts = ("pipeline.self_s", "icelite.commit_s",
                 "icelite.find_snapshot_s", "metrics.emit_s",
                 "geo.skew.heavy_hitters_s", "geo.layer.build_s")
        assert abs(sum(layer[k] for k in parts) - tdt) < 0.05


def test_every_per_layer_metric_is_produced():
    """Runs after the workload tests: each per-layer metric in
    BENCHMARK.json comes from some workload or from the harness."""
    harness_made = {"trace.job_s", "trace.overhead_s", "spark.jobs",
                    "spark.tasks"}
    assert PRODUCED | harness_made == set(harness.metric_units("per_layer"))
