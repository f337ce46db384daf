"""Process, session and Spark status-store plumbing shared by the workloads.

Everything here reads the engine from the outside: the process tree from
/proc, Spark's numbers from the in-process status stores (which keep
working with ``spark.ui.enabled=false``, the engine default), and the
session through ``pmocr_spark.session.get_spark``.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import threading
import time

#: scratch space for one run, under the checkout root (see .gitignore)
WORK_DIR = ".e2ebench_work"

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# --------------------------------------------------------------- host


def host_config() -> dict:
    """The fixed deployment this benchmark runs the engine under.

    The engine's own defaults (local[32], 16g driver) do not fit a small
    host; a master wider than the host's CPUs only adds scheduling noise.
    """
    nproc = len(os.sched_getaffinity(0))
    mem_gb = _PAGE * os.sysconf("SC_PHYS_PAGES") / 2**30
    return {
        "nproc": nproc,
        "mem_gb": round(mem_gb, 1),
        "master": f"local[{min(4, nproc)}]",
        "driver_mem": "2g" if mem_gb >= 8 else "1g",
    }


def prepare_env(root: str, host: dict) -> str:
    """Point every writer of the engine inside the checkout and fix the
    deployment env vars. Must run before pyspark starts the JVM."""
    work = os.path.join(root, WORK_DIR)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    os.environ["PMOCR_SPARK_MASTER"] = host["master"]
    os.environ["PMOCR_DRIVER_MEM"] = host["driver_mem"]
    os.environ["PMOCR_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the JVM that spark-submit runs to build the driver's command line
    # would otherwise keep a perf-data file under /tmp while it runs
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Python workers import the engine from the checkout
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + prior if prior else "")
    return work


def start_session(work: str, host: dict):
    from pmocr_spark.session import get_spark

    # a pinned, pre-touched heap: a growing G1 heap makes RSS and kernel
    # time differ from run to run. No perf-data file: the JVM would put
    # it under /tmp whatever java.io.tmpdir says.
    heap = f"-Xms{host['driver_mem']} -XX:+AlwaysPreTouch -XX:-UsePerfData"
    spark = get_spark(
        app="e2ebench",
        extra={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp {heap}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ------------------------------------------------------- process tree


def _proc_stats() -> dict[int, tuple[int, float, str, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, command, rss bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # exited while listing
            continue
        fields = raw[raw.rfind(")") + 2 :].split()
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        comm = raw[raw.find("(") + 1 : raw.rfind(")")]
        out[int(name)] = (int(fields[1]), ticks / _CLK, comm, int(fields[21]) * _PAGE)
    return out


def _tree(root: int, stats: dict) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_) in stats.items():
        children.setdefault(ppid, []).append(pid)
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, ()))
    return pids


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class ProcTree:
    """CPU and peak memory of this process and every descendant (the JVM
    and its Python workers).

    Memory is what the program uses, not what the deployment reserves:
    each Python process's PSS (a page that forked Python workers share
    counts once), plus the JVM's resident memory outside its heap, plus
    the heap that was still live after the JVM's latest collection. The
    heap itself is pinned and pre-touched (see start_session), so the
    JVM's RSS always holds all of it; the heap's in-use figure between
    collections only shows how far the young generation had filled
    (a sawtooth up to the heap size), so the live heap is taken
    instead. The JVM's own PSS is not read:
    smaps_rollup walks the whole 2 GB heap mapping under the mm lock,
    about 40 ms a read, which stalls the jobs being timed, and the JVM
    shares no pages with the tree, so its RSS is its PSS."""

    def __init__(self, spark, interval_s: float = 1.0):
        self._root = os.getpid()
        mx = spark._jvm.java.lang.management.ManagementFactory
        self._gcs = list(mx.getGarbageCollectorMXBeans())
        heap = spark._jvm.java.lang.management.MemoryType.HEAP
        self._heap_pools = {p.getName() for p in mx.getMemoryPoolMXBeans() if p.getType() == heap}
        self._heap_committed = mx.getMemoryMXBean().getHeapMemoryUsage().getCommitted()
        self._interval = interval_s
        self._stop = threading.Event()
        self.peak_mem = 0
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def cpu_s(self) -> float:
        stats = _proc_stats()
        return sum(stats[p][1] for p in _tree(self._root, stats) if p in stats)

    def _live_heap(self) -> int:
        """Heap bytes in use right after the JVM's latest collection."""
        end, live = -1, 0
        for gc in self._gcs:
            info = gc.getLastGcInfo()
            if info is not None and info.getEndTime() > end:
                end = info.getEndTime()
                after = info.getMemoryUsageAfterGc()
                live = sum(after.get(k).getUsed() for k in after.keySet() if k in self._heap_pools)
        return live

    def _sample(self) -> None:
        while not self._stop.is_set():
            live = self._live_heap()
            stats = _proc_stats()
            mem = 0
            for p in _tree(self._root, stats):
                if p not in stats:
                    continue
                if stats[p][2] == "java":
                    mem += stats[p][3] - self._heap_committed + live
                else:
                    mem += _pss_bytes(p)
            self.peak_mem = max(self.peak_mem, mem)
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# -------------------------------------------------------- statistics


def median(xs) -> float:
    return float(statistics.median(xs))


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, data files) under a directory, skipping hidden/_ files."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return total, files


# ------------------------------------------- Spark status stores


_SCALE = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_STAGE_REF = re.compile(r"\(stage (\d+)\.(\d+): task \d+\)")
_WRITE_PATH = re.compile(r"InsertIntoHadoopFsRelationCommand (\S+?),")


def parse_sql_metric(text: str | None) -> float:
    """A SQL metric as the status store formats it ("905 ms",
    "total (min, med, max (stageId: taskId))\\n11.7 s (...)", "1,024")
    -> seconds / bytes / count."""
    if not text:
        return 0.0
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    tok = text.split(" (")[0].split()
    value = float(tok[0].replace(",", ""))
    return value * _SCALE.get(tok[1], 1.0) if len(tok) > 1 else value


def _date_ms(opt) -> int | None:
    return int(opt.get().getTime()) if opt.isDefined() else None


class SparkStores:
    """Jobs, stages, tasks and SQL executions, read in-process from the
    AppStatusStore and the SQLAppStatusStore (no web UI, no REST)."""

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        self._jvm = spark._jvm
        self._gw = spark.sparkContext._gateway
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self) -> list[dict]:
        seq = self._store.jobsList(None)
        out = []
        for i in range(seq.size()):
            j = seq.apply(i)
            tags = j.jobTags()
            desc = j.description()
            out.append(
                {
                    "id": j.jobId(),
                    "tags": [tags.apply(k) for k in range(tags.size())],
                    "desc": desc.get() if desc.isDefined() else "",
                    "start_ms": _date_ms(j.submissionTime()),
                    "end_ms": _date_ms(j.completionTime()),
                    "stages": [j.stageIds().apply(k) for k in range(j.stageIds().size())],
                }
            )
        return out

    def stages(self) -> dict[int, dict]:
        """stageId -> metrics of its last attempt."""
        seq = self._store.stageList(
            self._jvm.java.util.ArrayList(), False, False,
            self._gw.new_array(self._gw.jvm.double, 0), self._jvm.java.util.ArrayList(),
        )
        out: dict[int, dict] = {}
        for i in range(seq.size()):
            s = seq.apply(i)
            sid, att = s.stageId(), s.attemptId()
            if sid in out and out[sid]["attempt"] >= att:
                continue
            out[sid] = {
                "attempt": att,
                "tasks": s.numCompleteTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "shuffle_write_b": s.shuffleWriteBytes(),
                "spill_b": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }
        return out

    def task_run_ms(self, stage_id: int, attempt: int) -> list[float]:
        seq = self._store.taskList(stage_id, attempt, 1_000_000)
        out = []
        for i in range(seq.size()):
            m = seq.apply(i).taskMetrics()
            if m.isDefined():
                out.append(float(m.get().executorRunTime()))
        return out

    def executions(self) -> list[dict]:
        """SQL executions with their job ids, write target, and the
        metrics of their Python-UDF nodes (ArrowEvalPython and friends)
        and file-scan nodes."""
        seq = self._sql.executionsList()
        out = []
        for i in range(seq.size()):
            e = seq.apply(i)
            eid = e.executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            python, scans, write_path = [], [], None
            for k in range(nodes.size()):
                n = nodes.apply(k)
                target = _WRITE_PATH.search(n.desc())
                if target:
                    write_path = target.group(1).removeprefix("file:")
                if "EvalPython" in n.name():
                    python.append({"desc": n.desc(), "metrics": self._node_metrics(n, values)})
                elif n.name().startswith("Scan "):
                    scans.append({"desc": n.desc(), "metrics": self._node_metrics(n, values)})
            jobs = e.jobs().keySet().toSeq()
            out.append(
                {
                    "id": eid,
                    "start_ms": e.submissionTime(),
                    "end_ms": _date_ms(e.completionTime()),
                    "jobs": [int(jobs.apply(k)) for k in range(jobs.size())],
                    "write_path": write_path,
                    "python": python,
                    "scans": scans,
                }
            )
        return out

    @staticmethod
    def _node_metrics(node, values) -> dict[str, str | None]:
        ms = node.metrics()
        out = {}
        for q in range(ms.size()):
            m = ms.apply(q)
            v = values.get(m.accumulatorId())
            out[m.name()] = v.get() if v.isDefined() else None
        return out


def udf_stage(python_node: dict) -> tuple[int, int] | None:
    """(stageId, attempt) that ran a Python-UDF node, from the
    'max (stage S.A: task T)' suffix of its per-task metric."""
    m = _STAGE_REF.search(python_node["metrics"].get("time to run Python workers") or "")
    return (int(m.group(1)), int(m.group(2))) if m else None


def wait_for(predicate, timeout_s: float, poll_s: float = 0.05) -> bool:
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if predicate():
            return True
        time.sleep(poll_s)
    return predicate()


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until no child process is left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    jvm = getattr(gateway, "proc", None)
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()  # the gateway server exits on EOF from its parent
        jvm.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None
    me = os.getpid()
    wait_for(lambda: not any(v[0] == me for v in _proc_stats().values()), 30, poll_s=0.1)
