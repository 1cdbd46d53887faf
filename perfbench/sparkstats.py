"""Read Spark's own status stores from outside the engine.

Jobs are grouped by the job group each benchmark step runs under; SQL
executions by their description, which ``setJobGroup`` sets to the same
label.  Everything is read through py4j after the listener bus drains.
"""

from __future__ import annotations

import os

# an optimizer rule set that keeps a refine filter above its join, so the
# join node's output row count is the candidate pair count
NO_JOIN_PUSHDOWN = (
    "org.apache.spark.sql.catalyst.optimizer.PushDownPredicates,"
    "org.apache.spark.sql.catalyst.optimizer.PushPredicateThroughJoin"
)

STAGE_FIELDS = (
    "executorRunTime", "jvmGcTime", "shuffleReadBytes", "shuffleWriteBytes", "diskBytesSpilled",
)


class StatusStore:
    def __init__(self, spark):
        self._jsc = spark._jsc.sc()
        self._jvm = spark._jvm
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = spark.sparkContext._gateway
        self._no_quantiles = gw.new_array(self._jvm.double, 0)
        self._minmax = gw.new_array(self._jvm.double, 2)
        self._minmax[0] = 0.5
        self._minmax[1] = 1.0

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(60_000)

    def jobs(self, groups: set[str]) -> dict[str, list]:
        """group -> [stage ids of each job run under it]."""
        out: dict[str, list] = {g: [] for g in groups}
        seq = self._store.jobsList(self._jvm.java.util.ArrayList())
        for i in range(seq.size()):
            j = seq.apply(i)
            g = j.jobGroup()
            if g.isDefined() and g.get() in out:
                ids = j.stageIds()
                out[g.get()].append([ids.apply(k) for k in range(ids.size())])
        return out

    def stages(self, stage_ids) -> list[dict]:
        """Metrics of every attempt of the given stages that ran."""
        rows = []
        for sid in sorted(set(stage_ids)):
            attempts = self._store.stageData(
                sid, False, self._jvm.java.util.ArrayList(), False, self._no_quantiles
            )
            for k in range(attempts.size()):
                s = attempts.apply(k)
                if s.status().toString() == "SKIPPED":
                    continue
                row = {f: getattr(s, f)() for f in STAGE_FIELDS}
                row["id"], row["attempt"] = sid, s.attemptId()
                rows.append(row)
        return rows

    def task_quantiles(self, stage: dict) -> dict:
        """Median and max task run time (ms) and peak execution memory."""
        opt = self._store.taskSummary(stage["id"], stage["attempt"], self._minmax)
        if not opt.isDefined():
            return {"run_med": 0.0, "run_max": 0.0, "peak_mem_max": 0.0}
        d = opt.get()
        run, mem = d.executorRunTime(), d.peakExecutionMemory()
        return {"run_med": run.apply(0), "run_max": run.apply(1), "peak_mem_max": mem.apply(1)}

    def executions(self, descriptions: set[str]) -> dict[str, list[dict]]:
        """description -> [{node name: [output rows, ...]} per SQL execution]."""
        out: dict[str, list] = {d: [] for d in descriptions}
        seq = self._sql.executionsList()
        for i in range(seq.size()):
            e = seq.apply(i)
            if e.description() not in out:
                continue
            eid = e.executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            rows: dict[str, list] = {}
            for n in range(nodes.size()):
                node = nodes.apply(n)
                ms = node.metrics()
                for m in range(ms.size()):
                    metric = ms.apply(m)
                    if metric.name() != "number of output rows":
                        continue
                    v = values.get(metric.accumulatorId())
                    if v.isDefined():
                        rows.setdefault(node.name(), []).append(int(v.get().replace(",", "")))
            out[e.description()].append(rows)
        return out


def join_rows(execution: dict) -> int:
    """Largest output row count of any join node in one SQL execution."""
    return max((v for name, vs in execution.items() if "Join" in name for v in vs), default=0)


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (children of any of its threads)."""
    parent = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid is the 2nd field after ')'
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set size of one process, 0 if it has exited."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM of the driver JVM, this Python process and every process the
    JVM started (the PySpark daemon and its workers)."""
    pids = [os.getpid(), jvm_pid, *descendants(jvm_pid)]
    return sum(vm_hwm_kb(p) for p in pids) / 1024.0
