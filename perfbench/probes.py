"""Measurement probes: process-tree CPU and host steal from ``/proc``,
Spark counters from the status stores, and an in-memory span recorder.

Nothing here changes what the program does. The Spark probe reads the
application status store (``spark.ui.enabled=false`` keeps it live) and
the SQL status store after the listener bus has drained.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- /proc


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, CPU seconds including reaped children)."""
    out: dict[int, tuple[int, float]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:  # exited between listdir and open
            continue
        # comm may hold spaces or parens: split after the last ')'
        fields = raw[raw.rfind(")") + 2:].split()
        ppid = int(fields[1])
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        out[int(name)] = (ppid, ticks / _CLK_TCK)
    return out


def _tree(table: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _cpu) in table.items():
        kids[ppid].append(pid)
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(kids.get(pid, ()))
    return seen


#: name prefix of the JVM's JIT compiler threads ("C1 CompilerThre",
#: "C2 CompilerThre"; the kernel cuts thread names at 15 characters)
_JIT_THREAD = re.compile(r"C\d CompilerThre")


def cpu_snapshot(root: int | None = None) -> tuple[float, dict[tuple[int, str], float]]:
    """(CPU seconds of the process tree, {(pid, tid): CPU seconds} of its
    JIT compiler threads). The tree is ``root`` and every live descendant,
    including children they have already reaped: the driver Python, the
    JVM it launched and the JVM's Python workers. User + system time."""
    table = _proc_table()
    pids = [p for p in _tree(table, root or os.getpid()) if p in table]
    jit: dict[tuple[int, str], float] = {}
    for pid in pids:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            if not _JIT_THREAD.match(raw[raw.find("(") + 1:]):
                continue
            fields = raw[raw.rfind(")") + 2:].split()
            jit[(pid, tid)] = (int(fields[11]) + int(fields[12])) / _CLK_TCK
    return sum(table[p][1] for p in pids), jit


def op_cpu_s(before, after) -> tuple[float, float]:
    """(CPU seconds of the tree outside JIT compilation, CPU seconds of JIT
    compilation) between two ``cpu_snapshot``s. A compiler thread that
    exits in between loses only its share since ``before``."""
    jit = sum(cpu - before[1].get(key, 0.0) for key, cpu in after[1].items())
    return after[0] - before[0] - jit, jit


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum over the live process tree of each process's peak RSS."""
    total_kb = 0
    for pid in _tree(_proc_table(), root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def host_cpu_ticks() -> tuple[int, int]:
    """(steal ticks, all ticks) from the first line of ``/proc/stat``."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


# ---------------------------------------------------------------- Spark

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_NUM_UNIT = re.compile(r"(-?[\d.,]+)\s*([A-Za-z]+)?")

#: SQL plan-metric name -> counter key
SQL_METRICS = {
    "data sent to Python workers": "spark.python_sent_bytes",
    "data returned from Python workers": "spark.python_returned_bytes",
    "time to run Python workers": "spark.python_run_s",
    "number of written files": "sinks.files_written",
    "written output": "sinks.bytes_written",
    "job commit time": "sinks.job_commit_s",
}


def parse_sql_metric(text: str | None) -> float:
    """Value of one formatted SQL metric (``'1'``, ``'12.5 KiB'``, or the
    ``'total (min, med, max ...)\\n12.5 KiB (...)'`` form): the total."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM_UNIT.match(line.strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    return value


class SparkProbe:
    """Counters of the Spark jobs and SQL executions an op ran.

    An op's jobs are the ids handed out between its start and its end
    (``DAGScheduler.numTotalJobs``), and its SQL executions likewise by
    position in the SQL status store. Nothing here lists "all jobs so
    far", so ``spark.ui.retainedJobs`` cannot truncate a long run; the
    session is started with retention raised so no op's own entries are
    evicted before they are read.
    """

    SESSION_CONF = {
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.ui.showConsoleProgress": "false",
    }

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> tuple[int, int]:
        """(jobs handed out, SQL executions recorded) so far. The SQL store
        fills from listener events, so the bus is drained first: an
        execution the op started must not land in the next op's window."""
        self._sc.listenerBus().waitUntilEmpty()
        return int(self._sc.dagScheduler().numTotalJobs()), int(self._sql.executionsCount())

    def collect(self, start: tuple[int, int], end: tuple[int, int]) -> dict:
        """Counters and job intervals for the ids between two marks."""
        store = self._sc.statusStore()
        c: dict[str, float] = defaultdict(float)
        intervals: list[tuple[float, float]] = []
        stage_ids: set[int] = set()
        for jid in range(start[0], end[0]):
            job = store.job(jid)
            c["spark.jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            ids = job.stageIds()
            for i in range(ids.size()):
                stage_ids.add(int(ids.apply(i)))
        for sid in sorted(stage_ids):
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its output was reused
            c["spark.stages"] += 1
            c["spark.tasks"] += st.numCompleteTasks()
            c["spark.executor_run_s"] += st.executorRunTime() / 1e3
            c["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
            c["spark.gc_s"] += st.jvmGcTime() / 1e3
            c["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            c["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            c["spark.input_bytes"] += st.inputBytes()
        n_exec = end[1] - start[1]
        if n_exec > 0:
            execs = self._sql.executionsList(start[1], n_exec).iterator()
            while execs.hasNext():
                ex = execs.next()
                values = self._sql.executionMetrics(ex.executionId())
                metrics = ex.metrics().iterator()
                while metrics.hasNext():
                    pm = metrics.next()
                    key = SQL_METRICS.get(pm.name())
                    if key is None:
                        continue
                    v = values.get(pm.accumulatorId())
                    c[key] += parse_sql_metric(v.get() if v.isDefined() else None)
        return {"counters": dict(c), "job_intervals": intervals}


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------- spans


class Tracer:
    """In-memory spans (name, start, end, parent, op id), written out once
    at the end of the run. Times are epoch seconds."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None, op: int | None) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, "op": op}
        )
        return len(self.spans) - 1

    def self_times(self) -> dict[str, list[float]]:
        """name -> per-span self time: duration minus the union of the
        parts of its interval that its children cover."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            clipped = [(max(a, s["start"]), min(b, s["end"])) for a, b in kids.get(s["id"], ())]
            covered = union_s([(a, b) for a, b in clipped if b > a])
            out[s["name"]].append(s["end"] - s["start"] - covered)
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, fh)
