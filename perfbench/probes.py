"""Read the system's own counters from outside: Spark SQL plan metrics,
stage metrics from the status store, streaming progress, and /proc memory.
Also the percentile rule the benchmark reports timings with."""

from __future__ import annotations

import os

# Spark SQL metric names of the Python evaluation operators
# (ArrowEvalPythonExec / MapInPandasExec) -> per-layer metric suffix
PYTHON_SQL_METRICS = {
    "pythonDataSent": "python_bytes_sent",
    "pythonDataReceived": "python_bytes_received",
    "pythonNumRowsReceived": "python_rows",
    "pythonTotalTime": "python_time_ms",
}


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _plan_nodes(node):
    """Every physical-plan node under ``node``, descending through AQE
    wrappers and cached relations."""
    stack, out = [node], []
    while stack:
        n = stack.pop()
        out.append(n)
        cls = n.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(n.executedPlan())
        elif cls == "InMemoryTableScanExec":
            stack.append(n.relation().cachedPlan())
        stack.extend(_seq(n.children()))
    return out


def python_sql_metrics(df) -> dict:
    """Sum of the Python-operator SQL metrics over ``df``'s executed plan
    (read after an action on ``df``)."""
    out = {v: 0 for v in PYTHON_SQL_METRICS.values()}
    for n in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        m = n.metrics()
        for key, name in PYTHON_SQL_METRICS.items():
            opt = m.get(key)
            if opt.isDefined():
                out[name] += int(opt.get().value())
    return out


class StageLedger:
    """Shuffle-write bytes of the stages that completed since the last call,
    from Spark's own application status store."""

    def __init__(self, spark) -> None:
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._seen = self._ids()

    def _stages(self) -> list:
        st = self._store
        defaults = [getattr(st, f"stageList$default${i}")() for i in (2, 3, 4, 5)]
        return _seq(st.stageList(None, *defaults))

    def _ids(self) -> set:
        return {s.stageId() for s in self._stages()}

    def take_shuffle_write_bytes(self) -> int:
        total, ids = 0, set()
        for s in self._stages():
            sid = s.stageId()
            ids.add(sid)
            if sid not in self._seen:
                total += int(s.shuffleWriteBytes())
        self._seen = ids | self._seen
        return total


def descendants(root: int = 0) -> set:
    """Pids of every live descendant of ``root`` (default: this process)."""
    root = root or os.getpid()
    parent = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", encoding="utf-8") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        parent[int(pid)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, frontier = set(), [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in out]
        out.update(kids)
        frontier.extend(kids)
    return out


def peak_rss_mb() -> dict:
    """Command name -> summed VmHWM (peak resident set, MB) over this
    process and every live descendant: the Python driver, the JVM and the
    Python workers."""
    by_name: dict = {}
    for pid in descendants() | {os.getpid()}:
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        name = fields["Name"].strip()
        mb = int(fields.get("VmHWM", "0 kB").split()[0]) / 1024.0
        by_name[name] = by_name.get(name, 0.0) + mb
    return by_name


def _stat(path: str) -> tuple:
    """(command name, fields after it) of a /proc stat file."""
    with open(path, encoding="utf-8") as f:
        s = f.read()
    return s[s.index("(") + 1:s.rindex(")")], s.rsplit(")", 1)[1].split()


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads ("C1/C2 CompilerThread")."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            name, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
        except OSError:
            continue
        if "CompilerThre" in name:
            total += int(fields[11]) + int(fields[12])
    return total


def cpu_split() -> dict:
    """CPU time in seconds (user + system, reaped children included) of
    this process and every live descendant, split into the processes
    other than the JVM (the Python driver and workers), the JVM less its
    JIT compiler threads, and the JIT compiler threads.  Time the hypervisor gave to other guests (steal) is in none
    of them."""
    ticks = {"python": 0, "jvm": 0, "jit": 0}
    for pid in descendants() | {os.getpid()}:
        try:
            name, fields = _stat(f"/proc/{pid}/stat")
            # utime, stime, cutime, cstime
            t = sum(int(x) for x in fields[11:15])
            if name == "java":
                jit = _jit_ticks(pid)
                ticks["jit"] += jit
                ticks["jvm"] += t - jit
            else:
                ticks["python"] += t
        except OSError:
            continue
    tck = os.sysconf("SC_CLK_TCK")
    return {k: v / tck for k, v in ticks.items()}


def tree_cpu_s() -> float:
    """CPU time of the process tree less the JVM's JIT compiler threads
    (see ``cpu_split``).  The JIT keeps compiling for many passes (17 to 6
    CPU-s per basket pass, against 8-11 for the rest of the tree) and its
    share moves from run to run; in a long-running job that cost is spent
    once."""
    c = cpu_split()
    return c["python"] + c["jvm"]


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs since
    boot (seconds): a rise across a timed window marks host contention."""
    with open("/proc/stat", encoding="utf-8") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def accumulate(acc: dict, **kv) -> None:
    for k, v in kv.items():
        acc[k] = acc.get(k, 0) + v


def tail(samples: list) -> tuple:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; with fewer than eleven samples, the maximum and 100."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return xs[-1], 100
    return xs[n - 11], (100 * (n - 10)) // n


def progress_durations(progress: list) -> dict:
    """Per-batch ``durationMs`` lists from ``StreamingQueryProgress``
    records that carried input rows."""
    out: dict = {}
    for p in progress:
        if not p.get("numInputRows"):
            continue
        for k, v in p.get("durationMs", {}).items():
            out.setdefault(k, []).append(float(v))
    return out
