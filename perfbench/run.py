"""Cold-run benchmark of the flagship chain, end to end and per layer.

    python3 perfbench/run.py --workload flagship_z14 --seed 1 --seconds 10 --trace 0

Run from the repository root. `--trace 0` times cold iterations of one
workload and prints the end-to-end metrics; `--trace 1` also runs traced
iterations and prints the per-layer metrics. Every output is checked
against a reference digest. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import pyspark  # noqa: E402

from osm_hadoop_spark.session import get_spark  # noqa: E402

import instrument as I  # noqa: E402
from workloads import COVER_DEFAULT, COVER_TWIN, STAGE_LAYER, WORKLOADS, ensure_cold  # noqa: E402

SETUPS = 3  # set-ups per run, the first with the JVM launch; setup_s is their median
MIN_ITERS = 3  # a run always times at least this many iterations
# Warm-up after the last set-up, in the session that is timed: iteration
# CPU time falls ~3x over the first ~10 flagship iterations of a fresh JVM
# (JIT) or session (new Python workers), so timing starts after it
WARM_SECONDS = 10
# On a virtual machine that shares its CPUs with other guests, timed wall
# times rise 15-80% while the hypervisor takes more than this many CPUs'
# worth of time (steal); such a timing phase is measured again, up to
# MEASURE_PHASES times, and the least disturbed phase is reported.
QUIET_STEAL_CPUS = 0.15
MEASURE_PHASES = 2
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "1g"
# the tail percentile needs this many samples beyond it
TAIL_BEYOND = 10

END_TO_END = {
    "job_s.p50": "s",
    "input_rows_per_s": "rows/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "shuffle_write_bytes": "B",
}

PIPELINE_STAGES = tuple(STAGE_LAYER)

PER_LAYER = {
    "spans.self_s": "s",
    "spans.rows_in": "rows",
    "spans.rows_out": "rows",
    "spans.dropped_malformed": "rows",
    "spans.scan_bytes": "B",
    "way_assembly.join.self_s": "s",
    "way_assembly.join.rows_out": "rows",
    "way_assembly.join.unresolved_refs": "rows",
    "way_assembly.join.shuffle_write_bytes": "B",
    "way_assembly.join.broadcast_bytes": "B",
    "way_assembly.join.task_s.max_over_median": "ratio",
    "way_assembly.assemble.self_s": "s",
    "way_assembly.assemble.shuffle_write_bytes": "B",
    "way_assembly.assemble.shuffle_bytes_per_waynode": "B/row",
    "way_assembly.assemble.spill_bytes": "B",
    "way_assembly.assemble.dropped_lt2": "rows",
    "way_assembly.assemble.rows_out": "rows",
    "geometry_sql.wkt.self_s": "s",
    "geometry_sql.wkt.bytes_out": "B",
    "tile_join.assign.self_s": "s",
    "tile_join.assign.self_s.arrow": "s",
    "tile_join.assign.self_s.jvm": "s",
    "tile_join.assign.candidate_rows": "rows",
    "tile_join.assign.pairs_out": "rows",
    "tile_join.assign.refine_hit_ratio": "ratio",
    "tile_join.assign.dropped_max_cells": "rows",
    "tile_join.assign.dropped_out_of_projection": "rows",
    "tile_join.assign.python_s": "s",
    "tile_join.assign.python_bytes_sent": "B",
    "tile_join.assign.codegen_fallbacks": "count",
    "tile_join.assign.codegen_fallbacks.arrow": "count",
    "tile_join.assign.codegen_fallbacks.jvm": "count",
    "tile_join.counts.self_s": "s",
    "tile_join.counts.rows_out": "rows",
    "tile_join.counts.shuffle_write_bytes": "B",
    "tile_join.counts.task_s.max_over_median": "ratio",
    "catalog.write_s": "s",
    "catalog.bytes_written": "B",
    "catalog.files_written": "count",
    "catalog.stored_bytes_per_input_byte": "ratio",
    **{f"pipeline.stage_s.{s}": "s" for s in PIPELINE_STAGES},
    "pipeline.documents_scans": "count",
    "session.gc_s": "s",
    "session.cpu_busy_ratio": "ratio",
    "session.tasks": "count",
    "session.stages": "count",
    "session.python_workers": "count",
    "session.trace_overhead_s": "s",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Run:
    """One benchmark run: a Spark session over one workload and seed."""

    def __init__(self, args):
        self.args = args
        self.slots = min(4, len(os.sched_getaffinity(0)))
        self.work_dir = os.path.join(HERE, ".work")
        self.local_dir = os.path.join(self.work_dir, "spark-local")
        for d in (self.local_dir, os.path.join(self.work_dir, "catalog")):
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(self.local_dir)
        os.makedirs(os.path.join(self.work_dir, "data"), exist_ok=True)
        os.makedirs(os.path.join(self.work_dir, "results"), exist_ok=True)
        self.log4j_conf, self.codegen_log = I.write_log4j_config(self.work_dir)
        open(self.codegen_log, "w").close()
        # temporary files of PySpark, the library and the JVM stay inside
        # the work directory too
        self.tmp_dir = os.path.join(self.work_dir, "tmp")
        shutil.rmtree(self.tmp_dir, ignore_errors=True)
        os.makedirs(self.tmp_dir)
        os.environ["TMPDIR"] = self.tmp_dir
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp_dir}"
        tempfile.tempdir = None
        # explicit shuffle scratch dir, on the same filesystem as the
        # catalog; SPARK_LOCAL_DIRS would override spark.local.dir
        os.environ["SPARK_GRAFT_LOCAL_DIR"] = self.local_dir
        os.environ["SPARK_LOCAL_DIRS"] = self.local_dir
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
        self.attempted = 0
        self.failed = 0
        self.spark = None

    # -- session -------------------------------------------------------------
    def start(self):
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.slots}]",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # a fixed-size heap: RSS then does not depend on when G1
                # chose to grow it
                "spark.driver.extraJavaOptions": (
                    f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={self.tmp_dir} -XX:-UsePerfData "
                    f"-Dlog4j2.configurationFile=file:{self.log4j_conf}"
                ),
            },
        )
        self.probe = I.StageProbe(self.spark)

    def shutdown(self):
        """Stop Spark, the gateway JVM and its Python workers, and wait
        until each has exited."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        deadline = time.time() + 30
        while I.descendants() and time.time() < deadline:
            time.sleep(0.2)
        for pid, *_rest in I.descendants():
            os.kill(pid, signal.SIGKILL)

    def first_setup(self, workload) -> float:
        """JVM launch, session start, input open and one warmup iteration.
        The inputs are generated while the JVM starts; that and the
        reference digest are one-time costs, timed apart as prepare_s."""
        t0 = time.perf_counter()
        with ThreadPoolExecutor(1) as pool:
            generated = pool.submit(workload.generate)
            self.start()
            self.jvm_launch_s = time.perf_counter() - t0
            t1 = time.perf_counter()
            generated.result()
        self.wl = workload
        workload.prepare(self.spark)
        self.prepare_s = time.perf_counter() - t1
        workload.open(self.spark)
        self.iterate()
        return time.perf_counter() - t0 - self.prepare_s

    def setup(self) -> float:
        """Session start on the running JVM, input open and one warmup
        iteration."""
        self.spark.stop()
        t0 = time.perf_counter()
        self.start()
        self.wl.open(self.spark)
        self.iterate()
        return time.perf_counter() - t0

    # -- iterations ------------------------------------------------------------
    def check(self, ok: bool) -> bool:
        self.attempted += 1
        self.failed += not ok
        return ok

    def iterate(self) -> dict:
        """One cold, checked, timed iteration."""
        wl, spark = self.wl, self.spark
        wl.reset()
        ensure_cold(spark)
        mark = self.probe.mark()
        cpu0, steal0 = I.tree_cpu_s(), I.host_steal_s()
        t0 = time.perf_counter()
        try:
            digest = wl.run(spark)
            ok = digest == wl.reference
            if not ok:
                log(f"output mismatch: {digest} != reference {wl.reference}")
        except Exception:  # a failing iteration is counted, not fatal
            traceback.print_exc()
            ok = False
        job_s = time.perf_counter() - t0
        cpu_s = I.tree_cpu_s() - cpu0
        steal = (I.host_steal_s() - steal0) / job_s
        spark.catalog.clearCache()
        sample = {"job_s": job_s, "cpu_s": cpu_s, "steal_cpus": steal, "ok": self.check(ok)}
        sample.update(self.probe.since(mark))
        sample["stage_s"] = dict(wl.last_stage_s)
        sample["stored_bytes"] = getattr(wl, "stored_bytes", 0)
        return sample

    def measure(self, seconds: float) -> list[dict]:
        samples = []
        deadline = time.perf_counter() + seconds
        while len(samples) < MIN_ITERS or time.perf_counter() < deadline:
            samples.append(self.iterate())
        return samples

    # -- modes -------------------------------------------------------------------
    def timed(self, first_setup_s: float) -> tuple[dict, dict, dict]:
        setups = [first_setup_s] + [self.setup() for _ in range(SETUPS - 1)]
        self.measure(WARM_SECONDS)
        phases = []
        while len(phases) < MEASURE_PHASES:
            steal0, t0 = I.host_steal_s(), time.perf_counter()
            with I.ProcSampler() as proc:
                samples = self.measure(self.args.seconds)
            steal = (I.host_steal_s() - steal0) / (time.perf_counter() - t0)
            phases.append((steal, samples, proc.peak_rss))
            if steal <= QUIET_STEAL_CPUS:
                break
        steal, samples, peak_rss = min(phases, key=lambda p: p[0])
        times = sorted(s["job_s"] for s in samples)
        p50 = statistics.median(times)
        m = {
            "job_s.p50": p50,
            "input_rows_per_s": self.wl.input_rows / p50,
            "setup_s": statistics.median(setups),
            "peak_rss_mb": peak_rss / 2**20,
            "shuffle_write_bytes": statistics.median(s["shuffle_write_bytes"] for s in samples),
        }
        n = len(times)
        notes = {
            "samples": n,
            "setups_s": setups,
            "job_s": [s["job_s"] for s in samples],
            "cpu_s": [s["cpu_s"] for s in samples],
            "steal_cpus": [s["steal_cpus"] for s in samples],
            # CPUs' worth of time the host gave other guests while timing
            "host_steal_cpus": steal,
            "phase_steal_cpus": [p[0] for p in phases],
            "failed_ratio": self.failed / self.attempted,
        }
        if n > TAIL_BEYOND:
            notes["job_s.tail"] = times[n - TAIL_BEYOND - 1]
            notes["job_s.tail_percentile"] = 100.0 * (n - TAIL_BEYOND) / n
        if any(s["stored_bytes"] for s in samples):
            notes["stored_bytes_per_input_byte"] = (
                statistics.median(s["stored_bytes"] for s in samples) / self.wl.docs_bytes
            )
        return m, notes, END_TO_END

    def traced(self, first_setup_s: float) -> tuple[dict, dict, dict]:
        self.measure(WARM_SECONDS)
        half = self.args.seconds / 2
        with I.ProcSampler() as proc:
            untraced = self.measure(half)
        tracer = I.Tracer(self.spark, "", self.codegen_log)
        per_iter, traced_s = [], []
        deadline = time.perf_counter() + half
        while not traced_s or time.perf_counter() < deadline:
            tracer.run_id = f"{self.wl.name}-s{self.args.seed}-t{len(traced_s)}"
            self.wl.reset()
            ensure_cold(self.spark)
            t0 = time.perf_counter()
            self.wl.trace(self.spark, tracer)
            traced_s.append(time.perf_counter() - t0)
            per_iter.append(layer_metrics(tracer, tracer.run_id, self.wl))
        counts, digest = self.wl.accounting(self.spark)
        if not self.check(digest == self.wl.reference):
            log(f"traced chain output mismatch: {digest} != reference {self.wl.reference}")
        m = {k: statistics.median(it.get(k, 0) for it in per_iter) for k in PER_LAYER}
        m.update(counts)
        finish_ratios(m)
        m.update(session_metrics(untraced, self.slots, proc))
        m["session.trace_overhead_s"] = statistics.median(traced_s) - statistics.median(
            s["job_s"] for s in untraced
        )
        for stage in PIPELINE_STAGES:
            m[f"pipeline.stage_s.{stage}"] = statistics.median(
                s["stage_s"].get(stage, 0.0) for s in untraced
            )
        tracer.dump(os.path.join(self.work_dir, "results", f"spans-{self.wl.name}-s{self.args.seed}.json"))
        notes = {"traced_iterations": len(traced_s), "traced_job_s": traced_s}
        return {k: m.get(k, 0) for k in PER_LAYER}, notes, PER_LAYER

    def env(self) -> dict:
        spark = self.spark
        plan = getattr(self.wl, "plan", None)
        return {
            "workload": self.wl.name,
            "seed": self.args.seed,
            "input": self.wl.input_kind,
            "input_rows": self.wl.input_rows,
            "master": spark.sparkContext.master,
            "nproc": len(os.sched_getaffinity(0)),
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "cover_kernel_default": COVER_DEFAULT,
            "cover_kernel_ran": I.cover_kernel_in_plan(plan()) if plan else None,
            "cover_kernel_reference": COVER_TWIN,
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "spark_local_dir": spark.conf.get("spark.local.dir"),
            **self.wl.env(),
        }


def layer_metrics(tracer, run_id: str, wl) -> dict:
    """Per-layer values of one traced iteration, from its spans."""
    spans = [s for s in tracer.spans if s.run_id == run_id]

    def of(layer, variant=False):
        return [s for s in spans if s.layer == layer and s.variant == variant]

    def self_s(layer):
        return sum(tracer.self_seconds(s) for s in of(layer))

    def self_c(layer, key):
        return sum(tracer.self_counter(s, key) for s in of(layer))

    def out(layer, key):
        return sum(s.counters.get(key, 0) for s in of(layer) if s.output)

    m = {}
    for layer in ("spans", "way_assembly.join", "way_assembly.assemble", "geometry_sql.wkt",
                  "tile_join.assign", "tile_join.counts"):
        m[f"{layer}.self_s"] = self_s(layer)
        m[f"{layer}.rows_out"] = out(layer, "rows_out")
        m[f"{layer}.shuffle_write_bytes"] = self_c(layer, "shuffle_write_bytes")
        m[f"{layer}.task_s.max_over_median"] = max(
            (s.counters["last_stage_max_over_median"] for s in of(layer) if s.output), default=0
        )
    m["spans.scan_bytes"] = self_c("spans", "scan_bytes")
    m["way_assembly.join.broadcast_bytes"] = self_c("way_assembly.join", "broadcast_bytes")
    m["way_assembly.assemble.spill_bytes"] = self_c("way_assembly.assemble", "spill_bytes")
    m["tile_join.assign.pairs_out"] = m["tile_join.assign.rows_out"]
    m["tile_join.assign.python_s"] = self_c("tile_join.assign", "python_ms") / 1000
    m["tile_join.assign.python_bytes_sent"] = self_c("tile_join.assign", "python_bytes_sent")
    m["tile_join.assign.codegen_fallbacks"] = self_c("tile_join.assign", "codegen_fallbacks")
    for s in of("tile_join.assign") + of("tile_join.assign", variant=True):
        kernel = "arrow" if s.counters.get("python_bytes_sent") else "jvm"
        m[f"tile_join.assign.self_s.{kernel}"] = tracer.self_seconds(s)
        m[f"tile_join.assign.codegen_fallbacks.{kernel}"] = tracer.self_counter(s, "codegen_fallbacks")
    m["catalog.write_s"] = self_s("catalog")
    catalog = getattr(wl, "traced_catalog", None)
    if catalog is not None:
        m["catalog.bytes_written"] = sum(r["bytes"] for r in catalog.records)
        m["catalog.files_written"] = sum(
            len(files) for r in catalog.records for _d, _s, files in os.walk(r["path"])
        )
        m["catalog.stored_bytes_per_input_byte"] = m["catalog.bytes_written"] / wl.docs_bytes
        m["pipeline.documents_scans"] = catalog.documents_scans
    return m


def finish_ratios(m: dict) -> None:
    cand = m.get("tile_join.assign.candidate_rows", 0)
    m["tile_join.assign.refine_hit_ratio"] = m["tile_join.assign.pairs_out"] / cand if cand else 0
    waynodes = m["way_assembly.join.rows_out"]
    m["way_assembly.assemble.shuffle_bytes_per_waynode"] = (
        m["way_assembly.assemble.shuffle_write_bytes"] / waynodes if waynodes else 0
    )


def session_metrics(untraced: list[dict], slots: int, proc) -> dict:
    med = statistics.median
    return {
        "session.gc_s": med(s["gc_ms"] for s in untraced) / 1000,
        "session.cpu_busy_ratio": med(s["cpu_s"] / (s["job_s"] * slots) for s in untraced),
        "session.tasks": med(s["tasks"] for s in untraced),
        "session.stages": med(s["stages"] for s in untraced),
        "session.python_workers": proc.peak_python,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run = Run(args)
    try:
        wl = WORKLOADS[args.workload](os.path.join(run.work_dir, "data"), run.work_dir, args.seed)
        first_setup_s = run.first_setup(wl)
        metrics, notes, units = (run.traced if args.trace else run.timed)(first_setup_s)
        env = run.env()
        env.update(jvm_launch_s=run.jvm_launch_s, prepare_s=run.prepare_s)
    finally:
        run.shutdown()

    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    stem = f"{args.workload}-s{args.seed}-trace{args.trace}"
    with open(os.path.join(run.work_dir, "results", f"{stem}.json"), "w") as f:
        json.dump({"env": env, "notes": notes, **result}, f, indent=1)
    print("# env " + json.dumps(env))
    print("# notes " + json.dumps(notes))
    for k, v in result["metrics"].items():
        print(f"# {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
