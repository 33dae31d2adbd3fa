"""Host sizing, session launch, sampling and tracing for the geotile benchmark.

Everything here reads the engine from the outside: the session comes
from ``session.get_spark``; per-layer counts come from the driver's
status store (which Spark keeps with the UI off) and from the SQL
metrics of an executed plan. No engine module is modified or patched.
"""

from __future__ import annotations

import gc
import os
import statistics
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "osm_data_classification_spark"
WORK = os.path.join(BENCH_DIR, "_work")


# ---------------------------------------------------------------------------
# host
# ---------------------------------------------------------------------------


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def host_info() -> dict:
    """CPUs this process may run on (what ``nproc`` prints) and memory."""
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "mem_total_mb": _meminfo_kb("MemTotal") // 1024,
        "mem_available_mb": _meminfo_kb("MemAvailable") // 1024,
    }


def driver_mem_mb(host: dict) -> int:
    """An eighth of physical memory, between 1 and 2 GiB. Local mode runs
    every task in the driver JVM and the host is shared; a heap the
    workloads fill every run also keeps peak RSS repeatable."""
    return max(1024, min(2048, host["mem_total_mb"] // 8))


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this VM since boot,
    summed over CPUs (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def noise_probe() -> float:
    """Wall seconds of a fixed CPU spin. Its value rises with steal from
    other tenants, so a contaminated run shows in its side file."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) & 0xFFFFFFFF
    if acc < 0:  # never true; keeps the loop's result live
        print(acc)
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# launch
# ---------------------------------------------------------------------------


def engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))


def prepare_env() -> dict:
    """Point the driver, the JVM and its Python workers at this checkout.

    The workers inherit the JVM's environment, so the package path is
    exported before the JVM starts; without it the PIP refine fails to
    unpickle its broadcast with ``ModuleNotFoundError``. Temp files,
    shuffle spill and the warehouse stay under ``_work``."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    mem = driver_mem_mb(host_info())
    return {
        "spark.driver.memory": f"{mem}m",
        # a heap committed up front grows the same way in every run; no
        # hsperfdata file in the system /tmp
        "spark.driver.extraJavaOptions": f"-Xms{mem}m -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(cpus: int, conf: dict):
    from osm_data_classification_spark.session import get_spark

    spark = get_spark("geobench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def settle(spark) -> None:
    """Start each iteration from the same state: drop the previous
    iteration's Python and JVM garbage, so Spark's context cleaner
    removes its shuffle files and broadcasts."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.2)


def shutdown(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until each process has exited."""
    from pyspark import SparkContext

    tree = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway exits on EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while tree and time.monotonic() < deadline:
        tree = [p for p in tree if os.path.exists(f"/proc/{p}")]
        if tree:
            time.sleep(0.1)
    for p in tree:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, int, str]]:
    """pid -> (ppid, rss bytes, command name) for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm, rest = stat.split("(", 1)[1].rsplit(")", 1)
        fields = rest.split()
        out[int(name)] = (int(fields[1]), int(fields[21]) * _PAGE, comm)
    return out


def descendants(root: int, table: dict | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    its Python workers), sampled from /proc every ``interval`` seconds
    while the ``with`` block runs."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_bytes = 0
        self.peak_by_command: dict[str, int] = {}  # diagnostic split
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        table = _proc_table()
        by_command: dict[str, int] = {}
        for p in descendants(os.getpid(), table):
            _, rss, comm = table[p]
            by_command[comm] = by_command.get(comm, 0) + rss
        self.peak_bytes = max(self.peak_bytes, sum(by_command.values()))
        for comm, rss in by_command.items():
            self.peak_by_command[comm] = max(self.peak_by_command.get(comm, 0), rss)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


# ---------------------------------------------------------------------------
# tracing: job groups in the status store, SQL metrics of executed plans
# ---------------------------------------------------------------------------


class GroupStats:
    """What the driver's status store recorded for one job group."""

    def __init__(self, wall_s: float):
        self.wall_s = wall_s
        self.jobs = 0
        self.job_intervals: list[tuple[int, int]] = []
        self.stages: list[dict] = []

    @property
    def busy_s(self) -> float:
        """Wall time covered by at least one of the group's jobs."""
        total, end = 0, None
        for a, b in sorted(self.job_intervals):
            if end is None or a > end:
                total += b - a
                end = b
            elif b > end:
                total += b - end
                end = b
        return total / 1000.0

    def total(self, key: str) -> float:
        return sum(s[key] for s in self.stages)


def per_group_median(groups: list[GroupStats], f):
    """Median of ``f`` over the traced iterations' job groups."""
    return statistics.median(f(g) for g in groups)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0
        jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._no_tasks = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    def run(self, label: str, action) -> tuple[object, GroupStats]:
        """Run ``action()`` in a fresh job group; return its result and
        the group's job and stage statistics."""
        self._n += 1
        group = f"geobench-{id(self)}-{self._n}-{label}"
        self.sc.setJobGroup(group, label)
        t0 = time.perf_counter()
        try:
            out = action()
        finally:
            wall = time.perf_counter() - t0
            self.sc._jsc.sc().clearJobGroup()
        return out, self.group_stats(group, wall)

    def group_stats(self, group: str, wall_s: float) -> GroupStats:
        g = GroupStats(wall_s)
        seen: set[tuple[int, int]] = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = self._store.job(jid)
            g.jobs += 1
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                g.job_intervals.append((sub.get().getTime(), done.get().getTime()))
            sids = jd.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                attempts = self._store.stageData(
                    sid, False, self._no_tasks, False, self._no_quantiles
                )
                for k in range(attempts.size()):
                    sd = attempts.apply(k)
                    key = (sd.stageId(), sd.attemptId())
                    if key in seen or sd.status().toString() != "COMPLETE":
                        continue
                    seen.add(key)
                    g.stages.append(
                        {
                            "stage": key[0],
                            "attempt": key[1],
                            "tasks": sd.numCompleteTasks(),
                            "tasks_failed": sd.numFailedTasks(),
                            "run_s": sd.executorRunTime() / 1000.0,
                            "cpu_s": sd.executorCpuTime() / 1e9,
                            "shuffle_read_bytes": sd.shuffleReadBytes(),
                            "shuffle_write_bytes": sd.shuffleWriteBytes(),
                            "spill_bytes": sd.diskBytesSpilled(),
                        }
                    )
        return g

    def task_skew(self, stage: dict) -> float:
        """max / median executor run time over one stage's tasks."""
        tasks = self._store.taskList(stage["stage"], stage["attempt"], 100000)
        times = []
        for i in range(tasks.size()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                times.append(m.get().executorRunTime())
        med = statistics.median(times) if times else 0
        return max(times) / med if med else 0.0


def plan_metrics(qe) -> list[tuple[str, dict]]:
    """(node name, non-zero SQL metrics) for every node of an executed
    query plan, descending through AQE query stages."""
    out = []
    todo = [qe.executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        ms = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            v = kv._2().value()
            if v:
                ms[kv._1()] = v
        out.append((node.nodeName(), ms))
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            ch = node.children()
            todo.extend(ch.apply(i) for i in range(ch.size()))
    return out


def consume(df) -> tuple[int, object]:
    """Run ``df`` to completion without converting rows (the cost of a
    noop sink); return its row count and the executed QueryExecution."""
    qe = df._jdf.queryExecution()
    return qe.toRdd().count(), qe
