"""Measurement from outside the library: Spark's own status store and
executed-plan metrics, /proc sampling of the JVM and its Python workers,
the codegen-fallback log, and the span recorder of the traced run.

Nothing here changes what Spark executes; every reading is taken after
the action it describes has finished.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")

# WholeStageCodegenExec logs one of these each time it gives up on a
# generated stage: a compile failure (e.g. "Code grows beyond 64 KB") or a
# method above spark.sql.codegen.hugeMethodLimit. Both fall back to the
# interpreted iterator.
_FALLBACK_RE = re.compile(
    r"Whole-stage codegen disabled for plan|whole-stage codegen was disabled for this plan"
)

LOG4J_TEMPLATE = """\
rootLogger.level = warn
rootLogger.appenderRef.stderr.ref = console
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{{yy/MM/dd HH:mm:ss}} %p %c{{1}}: %m%n%ex{{0}}
appender.codegen.type = File
appender.codegen.name = codegen
appender.codegen.fileName = {path}
appender.codegen.layout.type = PatternLayout
appender.codegen.layout.pattern = %p %c{{1}}: %m%n%ex{{0}}
logger.wscg.name = org.apache.spark.sql.execution.WholeStageCodegenExec
logger.wscg.level = info
logger.wscg.additivity = false
logger.wscg.appenderRef.codegen.ref = codegen
logger.codegen.name = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
logger.codegen.level = error
logger.codegen.additivity = false
logger.codegen.appenderRef.codegen.ref = codegen
"""


def write_log4j_config(work_dir: str) -> tuple[str, str]:
    """Driver log4j2 config that sends codegen fallback messages to a file
    of their own; returns (config path, codegen log path)."""
    log_path = os.path.join(work_dir, "codegen.log")
    conf_path = os.path.join(work_dir, "log4j2.properties")
    with open(conf_path, "w") as f:
        f.write(LOG4J_TEMPLATE.format(path=log_path))
    return conf_path, log_path


def count_codegen_fallbacks(log_path: str) -> int:
    if not os.path.exists(log_path):
        return 0
    with open(log_path, errors="replace") as f:
        return sum(1 for line in f if _FALLBACK_RE.search(line))


# ---------------------------------------------------------------------------
# Spark status store (per-stage metrics)
# ---------------------------------------------------------------------------

STAGE_FIELDS = (
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "gc_ms",
    "run_ms",
    "tasks",
    "stages",
)


class StageProbe:
    """Reads completed-stage metrics from the driver's AppStatusStore.

    `mark()` returns a watermark; `since(mark)` sums every stage that
    started after it. One job runs at a time in this benchmark, so the
    stages after a watermark are exactly those of the actions in between.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self._gw = gw

    def _stages(self):
        self._jsc.listenerBus().waitUntilEmpty()
        return self._jsc.statusStore().stageList(
            None, False, False, self._no_quantiles, self._gw.jvm.java.util.ArrayList()
        )

    def mark(self) -> int:
        st = self._stages()
        return st.apply(0).stageId() if st.size() else -1

    def since(self, mark: int) -> dict:
        """Totals over stages with id > mark (the list is newest first),
        plus the max/median task duration of the newest completed stage —
        the stage that produced the action's output."""
        tot = dict.fromkeys(STAGE_FIELDS, 0)
        tot["last_stage_max_over_median"] = 0.0
        st = self._stages()
        last = None
        for i in range(st.size()):
            s = st.apply(i)
            if s.stageId() <= mark:
                break
            if s.status().toString() != "COMPLETE":
                continue
            if last is None:
                last = s
            tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
            tot["shuffle_read_bytes"] += s.shuffleReadBytes()
            tot["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            tot["gc_ms"] += s.jvmGcTime()
            tot["run_ms"] += s.executorRunTime()
            tot["tasks"] += s.numCompleteTasks()
            tot["stages"] += 1
        if last is not None:
            summ = self._jsc.statusStore().taskSummary(
                last.stageId(), last.attemptId(), self._quantiles
            )
            if summ.isDefined():
                d = summ.get().duration()
                med, mx = d.apply(0), d.apply(1)
                tot["last_stage_max_over_median"] = mx / med if med > 0 else 1.0
        return tot


# ---------------------------------------------------------------------------
# Executed-plan SQL metrics
# ---------------------------------------------------------------------------

def plan_metrics(spark, query_execution) -> dict:
    """Walk an executed (AQE-final) physical plan, including the plans that
    build cached relations, and total the operator metrics the per-layer
    table needs."""
    conv = spark.sparkContext._gateway.jvm.scala.jdk.javaapi.CollectionConverters
    out = {"python_ms": 0, "python_bytes_sent": 0, "broadcast_bytes": 0, "scan_bytes": 0}
    seen = set()

    def walk(node):
        if node.id() in seen:
            return
        seen.add(node.id())
        name = node.getClass().getSimpleName()
        ms = conv.asJava(node.metrics())
        if "pythonDataSent" in ms:
            out["python_bytes_sent"] += ms["pythonDataSent"].value()
            out["python_ms"] += ms["pythonTotalTime"].value()
        if name == "BroadcastExchangeExec":
            out["broadcast_bytes"] += ms["dataSize"].value()
        if name == "FileSourceScanExec":
            out["scan_bytes"] += ms["filesSize"].value()
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            walk(node.plan())
        elif name == "InMemoryTableScanExec":
            walk(node.relation().cachedPlan())
        else:
            children = node.children()
            for i in range(children.size()):
                walk(children.apply(i))

    walk(query_execution.executedPlan())
    return out


def materialize(df):
    """Run df's physical plan to a no-op sink: a row count over the
    executed plan's RDD, which computes every output column. Returns
    (rows, the query execution whose plan holds the metrics)."""
    qe = df._jdf.queryExecution()
    return qe.toRdd().count(), qe


def cover_kernel_in_plan(df) -> str:
    """'arrow' when the plan runs the cover in a Python worker, else 'jvm'."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "arrow" if "MapInPandas" in plan else "jvm"


# ---------------------------------------------------------------------------
# /proc sampling: RSS, CPU and Python workers of the JVM process tree
# ---------------------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (ppid, comm, rss_bytes, cpu_ticks incl. reaped children)."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                s = f.read()
        except OSError:
            continue
        lp, rp = s.find("("), s.rfind(")")
        rest = s[rp + 2:].split()
        cpu = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
        table[int(name)] = (int(rest[1]), s[lp + 1:rp], int(rest[21]) * _PAGE, cpu)
    return table


def descendants() -> list[tuple[int, str, int, int, int]]:
    """(pid, comm, rss_bytes, cpu_ticks, ppid) of every process below this
    one: the JVM launched by PySpark and the Python workers the JVM forks."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        ppid, comm, rss, cpu = table[pid]
        out.append((pid, comm, rss, cpu, ppid))
        todo.extend(kids.get(pid, []))
    return out


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def tree_cpu_s() -> float:
    return sum(p[3] for p in descendants()) / _TICK


def pss_bytes(pid: int, rss: int) -> int:
    """Proportional set size of a process: its private pages plus its
    share of the pages it shares. Falls back to `rss` if unreadable."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return rss


class ProcSampler:
    """Background thread sampling the JVM + Python worker tree every
    `period` seconds: peak summed memory and peak live Python processes.

    Memory is the PSS of the JVM (this process's child) and of each
    Python worker. PSS, because workers forked from the PySpark daemon
    share its pages copy-on-write, and RSS would count those once per
    worker. Other descendants are helpers the JVM spawns for a moment;
    between fork and exec such a child reports the JVM's whole memory as
    its own, so it is left out."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_rss = 0
        self.peak_python = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            procs = descendants()
            members = [p for p in procs if p[1].startswith("python") or p[4] == me]
            self.peak_rss = max(self.peak_rss, sum(pss_bytes(p[0], p[2]) for p in members))
            self.peak_python = max(
                self.peak_python, sum(1 for p in procs if p[1].startswith("python"))
            )
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    id: int
    name: str
    layer: str
    run_id: str
    parent: int | None
    start: float = 0.0
    end: float = 0.0
    covers: list[int] = field(default_factory=list)
    output: bool = True  # its rows are the layer's output rows
    variant: bool = False  # the twin cover kernel, timed beside the default
    counters: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; `dump` writes the spans when the run ends.

    A span's `parent` is the span whose interval encloses it. Its `covers`
    lists the spans whose work its own action re-executes: a child in
    time, or — because Spark is lazy and every span materializes from a
    cold cache — the span that materialized the upstream layer. Self time
    and self counters are the span's own minus those of the spans it
    covers.
    """

    def __init__(self, spark, run_id: str, codegen_log: str):
        self.spark = spark
        self.run_id = run_id
        self.codegen_log = codegen_log
        self.stages = StageProbe(spark)
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str, covers: list[Span] = (), output: bool = True,
             variant: bool = False):
        sp = Span(
            id=len(self.spans),
            name=name,
            layer=layer,
            run_id=self.run_id,
            parent=self._open[-1].id if self._open else None,
            covers=[c.id for c in covers],
            output=output,
            variant=variant,
        )
        self.spans.append(sp)
        self._open.append(sp)
        mark = self.stages.mark()
        fallbacks = count_codegen_fallbacks(self.codegen_log)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._open.pop()
            qe = sp.counters.pop("_qe", None)
            if qe is not None:
                sp.counters.update(plan_metrics(self.spark, qe))
            sp.counters.update(self.stages.since(mark))
            sp.counters["codegen_fallbacks"] = (
                count_codegen_fallbacks(self.codegen_log) - fallbacks
            )

    def materialize(self, sp: Span, df) -> int:
        """The action that ends a layer's span: run df to a no-op sink and
        keep its row count on the span; its plan metrics are read when
        the span closes."""
        rows, sp.counters["_qe"] = materialize(df)
        sp.counters["rows_out"] = rows
        return rows

    def self_seconds(self, sp: Span) -> float:
        return sp.seconds - sum(self.spans[c].seconds for c in sp.covers)

    def self_counter(self, sp: Span, key: str) -> float:
        own = sp.counters.get(key, 0)
        return own - sum(self.spans[c].counters.get(key, 0) for c in sp.covers)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([vars(s) for s in self.spans], f, indent=1)
