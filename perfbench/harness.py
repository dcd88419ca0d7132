"""Run machinery shared by the workloads: the Spark session, the memory
sampler, the CPU-quota probe, the timed loop, spans, and the fold of the
Spark event log into per-span counters."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path


def hw_probe() -> float:
    """A fixed single-thread CPU loop (seconds). Stored with every run so
    that a throttled time window is visible when runs are compared."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile); the median, as percentile 50, when fewer than 20
    samples leave no percentile above the median with ten beyond it."""
    s = sorted(xs)
    if len(s) < 20:
        return median(s), 50
    k = len(s) - 11
    return float(s[k]), int(100 * (k + 1) / len(s))


# ----------------------------------------------------------- process tree

_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _tree(root: int) -> list[tuple[int, int, int]]:
    """(pid, rss KiB, CPU ticks) of ``root`` and each of its descendants.
    The ticks are user + system time, including the children each process
    has reaped, so a worker that exits is still counted by its parent."""
    kids: dict[int, list[int]] = {}
    info: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        fields = st[st.rindex(")") + 2:].split()
        kids.setdefault(int(fields[1]), []).append(int(d))
        info[int(d)] = (int(d), pages * _PAGE_KB,
                        sum(int(x) for x in fields[11:15]))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        if p in info:
            out.append(info[p])
        todo.extend(kids.get(p, []))
    return out


def tree_rss_kb(root: int) -> int:
    return sum(rss for _, rss, _ in _tree(root))


def tree_cpu_s(root: int) -> float:
    return sum(t for _, _, t in _tree(root)) * _TICK_S


class RssSampler:
    """Background sampler of the RSS of this process and all its
    descendants (the JVM and its Python workers). ``peak_mb`` covers the
    samples taken while ``window`` is open."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_kb = 0
        self._open = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.wait(self.period):
            if self._open:
                self.peak_kb = max(self.peak_kb, tree_rss_kb(me))

    def start(self):
        self._thread.start()
        return self

    @contextmanager
    def window(self):
        self._open = True
        try:
            yield
        finally:
            self.peak_kb = max(self.peak_kb, tree_rss_kb(os.getpid()))
            self._open = False

    def stop(self):
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ------------------------------------------------------------------ spark

def spark_session(work: Path, cores: int, event_log: Path | None = None):
    """``local[cores]`` session whose local and warehouse dirs live under
    ``work``. The driver heap is a fixed 2 GiB (so that memory
    figures compare between runs), less if free memory is short."""
    from pyspark.sql import SparkSession

    avail_mb = 4096
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_mb = int(line.split()[1]) // 1024
    heap_mb = max(512, min(2048, avail_mb // 3))
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap_mb}m")
        # a heap fixed and touched from the start: heap growth would
        # otherwise make peak RSS depend on when the collector ran
        .config("spark.driver.extraJavaOptions",
                f"-Xms{heap_mb}m -XX:+AlwaysPreTouch")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.sql.shuffle.partitions", str(4 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.log.level", "ERROR")
        .config("spark.eventLog.enabled", "true" if event_log else "false")
    )
    if event_log:
        event_log.mkdir(parents=True, exist_ok=True)
        b = (b.config("spark.eventLog.dir", event_log.resolve().as_uri())
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop the session, then its JVM, and wait until the JVM and every
    process under it (the Python workers) have ended."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    pids = [pid for pid, _, _ in _tree(os.getpid()) if pid != os.getpid()]
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)


# ----------------------------------------------------------------- timing

class Stopwatch:
    """Wall seconds and process-tree CPU seconds of the ``with`` blocks it
    covers, summed over all of them."""

    def __init__(self):
        self.wall_s = 0.0
        self.cpu_s = 0.0

    def __enter__(self):
        self._c0 = tree_cpu_s(os.getpid())
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall_s += time.perf_counter() - self._t0
        self.cpu_s += tree_cpu_s(os.getpid()) - self._c0
        return False


def timed_loop(seconds: float, op, min_iters: int):
    """Run ``op(i)`` until its timed time adds up to ``seconds``, and at
    least ``min_iters`` times. ``op`` returns a dict whose ``timed_s`` is
    the part of its wall time that is measured; the output checks it runs
    are not. Returns the list of (wall seconds, op result)."""
    out = []
    timed = 0.0
    while len(out) < min_iters or timed < seconds:
        t1 = time.perf_counter()
        r = op(len(out))
        out.append((time.perf_counter() - t1, r))
        timed += r["timed_s"]
    return out


class Tracer:
    """Spans around calls into the engine's public functions. When
    enabled, each span also tags the Spark jobs it fires with a job group
    ``<span>#<serial>``, so the event log can be folded per span."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "group": f"{name}#{sid}",
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


# ---------------------------------------------------------- event log fold

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_RUN = "time to run Python workers"


def _new_stage() -> dict:
    return {"tasks": 0, "run_ms": 0, "gc_ms": 0, "fetch_wait_ms": 0,
            "shuffle_write_ns": 0, "shuffle_read": 0, "shuffle_write": 0,
            "spill": 0, "input": 0, "output": 0, "py_sent": 0, "py_recv": 0,
            "py_run_ms": 0, "durations": []}


def fold_event_log(log_dir: Path) -> tuple[dict, dict]:
    """Fold the TaskEnd metrics of every job into its job group.

    Returns ({group: {"jobs", "intervals", "stages": {stage: metrics}}},
    {Python call site: job count}) over the jobs that have a group."""
    files = [p for p in log_dir.iterdir() if p.is_file()]
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    sites: dict[str, int] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    if not g:
                        continue
                    site = props.get("callSite.short", "?")
                    sites[site] = sites.get(site, 0) + 1
                    rec = groups.setdefault(
                        g, {"jobs": 0, "intervals": [], "stages": {}})
                    rec["jobs"] += 1
                    rec["intervals"].append([ev["Submission Time"], None])
                    job_group[ev["Job ID"]] = g
                    for s in ev.get("Stage IDs", []):
                        stage_group.setdefault(s, g)
                elif kind == "SparkListenerJobEnd":
                    g = job_group.get(ev["Job ID"])
                    if g is not None:
                        for iv in groups[g]["intervals"]:
                            if iv[1] is None:
                                iv[1] = ev["Completion Time"]
                                break
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is None:
                        continue
                    st = groups[g]["stages"].setdefault(
                        ev["Stage ID"], _new_stage())
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    st["tasks"] += 1
                    st["run_ms"] += m.get("Executor Run Time", 0)
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["durations"].append(m.get("Executor Run Time", 0))
                    st["spill"] += (m.get("Memory Bytes Spilled", 0)
                                    + m.get("Disk Bytes Spilled", 0))
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                           + sr.get("Local Bytes Read", 0))
                    st["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    st["shuffle_write_ns"] += sw.get("Shuffle Write Time", 0)
                    st["input"] += (m.get("Input Metrics") or {}).get(
                        "Bytes Read", 0)
                    st["output"] += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0)
                    for acc in info.get("Accumulables", []):
                        key = {PY_SENT: "py_sent", PY_RECV: "py_recv",
                               PY_RUN: "py_run_ms"}.get(acc.get("Name"))
                        if key:
                            st[key] += int(acc.get("Update") or 0)
    return groups, sites


def group_counters(groups: dict, names: list[str]) -> dict:
    """Sum the folded counters of the job groups in ``names``."""
    out = {"jobs": 0, "tasks": 0, "executor_run_s": 0.0, "gc_s": 0.0,
           "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
           "spill_bytes": 0, "python_bytes_sent": 0,
           "python_bytes_received": 0, "python_run_s": 0.0,
           "input_bytes": 0, "output_bytes": 0,
           "task_max_over_median": 0.0}
    for g in names:
        rec = groups.get(g)
        if rec is None:
            continue
        out["jobs"] += rec["jobs"]
        for st in rec["stages"].values():
            out["tasks"] += st["tasks"]
            out["executor_run_s"] += st["run_ms"] / 1e3
            out["gc_s"] += st["gc_ms"] / 1e3
            out["shuffle_read_bytes"] += st["shuffle_read"]
            out["shuffle_write_bytes"] += st["shuffle_write"]
            out["spill_bytes"] += st["spill"]
            out["python_bytes_sent"] += st["py_sent"]
            out["python_bytes_received"] += st["py_recv"]
            out["python_run_s"] += st["py_run_ms"] / 1e3
            out["input_bytes"] += st["input"]
            out["output_bytes"] += st["output"]
            d = sorted(st["durations"])
            if len(d) >= 4 and d[len(d) // 2] > 0:
                out["task_max_over_median"] = max(
                    out["task_max_over_median"], d[-1] / d[len(d) // 2])
    return out


def job_wall_s(groups: dict, names: list[str]) -> float:
    """Wall seconds covered by the union of the groups' job intervals."""
    ivs = sorted(iv for g in names for iv in groups.get(g, {}).get(
        "intervals", []) if iv[1] is not None)
    total, cur = 0.0, None
    for a, b in ivs:
        if cur is None or a > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        total += cur[1] - cur[0]
    return total / 1e3
