"""Checks of the benchmark itself. From the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider

Each workload runs at a small size: its timed output (default cover
kernel) must equal its reference digest, which is computed with the twin
kernel from Python-assembled ways, so both cover kernels are checked
against each other on every workload that covers. The traced chain must
give the same digest.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

import instrument as I
import run
import workloads as W

HERE = os.path.dirname(os.path.abspath(__file__))
SMALL_DOCS = 2000
SEED = 5


def test_metric_tables_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(W.WORKLOADS)


def test_proc_sampler_counts_python_child_by_pss():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        time.sleep(0.5)
        rss = next(p[2] for p in I.descendants() if p[0] == child.pid)
        with I.ProcSampler(period=0.05) as proc:
            time.sleep(0.3)
    finally:
        child.kill()
        child.wait()
    assert proc.peak_python == 1
    assert 0 < proc.peak_rss <= rss


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from osm_hadoop_spark.session import get_spark

    os.environ["SPARK_GRAFT_DRIVER_MEM"] = run.DRIVER_MEMORY
    s = get_spark("perfbench-test", master="local[2]", shuffle_partitions=4,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


@pytest.mark.parametrize("name", sorted(W.WORKLOADS))
def test_workload_output_matches_reference(spark, tmp_path, monkeypatch, name):
    monkeypatch.setattr(W, "DOCS", SMALL_DOCS)
    wl = W.WORKLOADS[name](str(tmp_path), str(tmp_path), SEED)
    wl.generate()
    wl.prepare(spark)
    wl.open(spark)
    wl.reset()
    W.ensure_cold(spark)
    assert wl.run(spark) == wl.reference
    W.ensure_cold(spark)

    tracer = I.Tracer(spark, f"{name}-test", str(tmp_path / "codegen.log"))
    wl.reset()
    spans = wl.trace(spark, tracer)
    assert spans and all(s.end >= s.start for s in tracer.spans)
    counts, digest = wl.accounting(spark)
    assert digest == wl.reference
    assert all(v >= 0 for v in counts.values())
    W.ensure_cold(spark)
