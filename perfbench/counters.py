"""Counters read from outside the package.

- Stage, job and task totals come from Spark's own status store
  (`sc._jsc.sc().statusStore()`), filtered to a wall-clock window.
- Per-node SQL metrics come from walking the AQE final physical plan of a
  DataFrame the benchmark executed, descending into each shuffle stage.
  Actions the package runs itself (a parquet write) are read from the SQL
  status store instead.
- Peak resident memory is summed over this process and all its
  descendants (the Spark JVM and the Python workers), read from /proc.
- GC time and old-generation peak come from the JVM's management beans.
"""

from __future__ import annotations

import os
import re


def _ms(opt_date) -> float | None:
    """Option[java.util.Date] -> epoch seconds."""
    if opt_date.isEmpty():
        return None
    return opt_date.get().getTime() / 1000.0


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


class StatusReader:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())

    def release_persisted(self) -> None:
        for rdd in list(self.sc._jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)

    def stages(self, t0: float, t1: float) -> list[dict]:
        """Completed stage attempts submitted within [t0, t1]."""
        gw = self.sc._gateway
        # Spark 4 signature: (statuses, details, withSummaries,
        # unsortedQuantiles, taskStatus)
        lst = self.store.stageList(
            self.jvm.java.util.ArrayList(), False, False,
            gw.new_array(gw.jvm.double, 0), self.jvm.java.util.ArrayList(),
        )
        out = []
        for s in _seq(lst):
            sub, done = _ms(s.submissionTime()), _ms(s.completionTime())
            if sub is None or done is None or not (t0 - 0.002 <= sub <= t1 + 0.002):
                continue
            out.append({
                "id": int(s.stageId()), "attempt": int(s.attemptId()),
                "name": s.name(), "start": sub, "end": done,
                "tasks": int(s.numCompleteTasks()),
                "run_ms": int(s.executorRunTime()),
                "cpu_ns": int(s.executorCpuTime()),
                "shuffle_read": int(s.shuffleReadBytes()),
                "shuffle_write": int(s.shuffleWriteBytes()),
                "spill": int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
            })
        return out

    def jobs(self, t0: float, t1: float) -> int:
        n = 0
        for j in _seq(self.store.jobsList(self.jvm.java.util.ArrayList())):
            sub = _ms(j.submissionTime())
            if sub is not None and t0 - 0.002 <= sub <= t1 + 0.002:
                n += 1
        return n

    def task_durations(self, stage: dict) -> list[float]:
        tasks = self.store.taskList(stage["id"], stage["attempt"], 100000)
        out = []
        for t in _seq(tasks):
            d = t.duration()
            if not d.isEmpty():
                out.append(float(d.get()))
        return out

    def window(self, t0: float, t1: float, cores: int) -> dict:
        """Counter record of everything Spark ran within [t0, t1]."""
        st = self.stages(t0, t1)
        wall = max(t1 - t0, 1e-9)
        run_s = sum(s["run_ms"] for s in st) / 1000.0
        rec = {
            "wall_s": wall,
            "jobs": self.jobs(t0, t1),
            "stages": len(st),
            "tasks": sum(s["tasks"] for s in st),
            "executor_run_s": run_s,
            "executor_cpu_s": sum(s["cpu_ns"] for s in st) / 1e9,
            "cores_busy": run_s / (wall * cores),
            "shuffle_read_bytes": sum(s["shuffle_read"] for s in st),
            "shuffle_write_bytes": sum(s["shuffle_write"] for s in st),
            "spill_bytes": sum(s["spill"] for s in st),
            "straggler_ratio": 1.0,
            "stage_list": st,
        }
        if st:
            longest = max(st, key=lambda s: s["end"] - s["start"])
            d = sorted(self.task_durations(longest))
            if d:
                med = d[len(d) // 2] if len(d) % 2 else (d[len(d) // 2 - 1] + d[len(d) // 2]) / 2
                rec["straggler_ratio"] = d[-1] / max(med, 1.0)
        return rec

    # -- SQL status store (actions run inside the package) -------------------
    def sql_metrics(self, t0: float, t1: float) -> dict[str, int]:
        """{metric name: summed value} over the SQL executions submitted in
        [t0, t1], read from the SQL status store's plan graph. Size and
        timing values come formatted ("3.1 MiB"), so they carry three
        significant digits."""
        totals: dict[str, int] = {}
        for ex in _seq(self.sql_store.executionsList()):
            sub = ex.submissionTime() / 1000.0
            if not (t0 - 0.002 <= sub <= t1 + 0.002):
                continue
            eid = ex.executionId()
            values = self.sql_store.executionMetrics(eid)
            graph = self.sql_store.planGraph(eid)
            for node in _seq(graph.allNodes()):
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    if v.isEmpty():
                        continue
                    key = f"{node.name()}.{m.name()}"
                    totals[key] = totals.get(key, 0) + parse_metric(v.get())
        return totals


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ms": 1, "s": 1000, "m": 60000, "h": 3600000}


def parse_metric(text: str) -> int:
    """Total of a formatted SQL metric: "1,234", "3.1 MiB", or the
    multi-line "total (min, med, max ...)\\n3.1 MiB (...)" form."""
    line = text.strip().split("\n")[-1] if "\n" in text else text.strip()
    m = re.match(r"([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0
    num = float(m.group(1).replace(",", ""))
    return int(round(num * _UNITS.get(m.group(2), 1)))


def plan_metrics(df) -> list[tuple[str, dict[str, int]]]:
    """[(node name, {metric: value})] over the AQE final plan of an executed
    DataFrame, in pre-order, descending into each ShuffleQueryStage."""
    out: list[tuple[str, dict[str, int]]] = []

    def walk(node):
        vals = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            vals[kv._1()] = int(kv._2().value())
        out.append((node.nodeName(), vals))
        if node.getClass().getSimpleName() in ("ShuffleQueryStageExec", "BroadcastQueryStageExec"):
            walk(node.plan())
        for child in _seq(node.children()):
            walk(child)

    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.finalPhysicalPlan()
    walk(plan)
    return out


# -- JVM heap use ---------------------------------------------------------------


class JvmMemory:
    """GC time and old-generation peak of the driver JVM over an interval,
    read from its management beans. The heap is pinned, so resident memory
    does not show how much of it a pass uses; these two do."""

    def __init__(self, spark):
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.gcs = list(mf.getGarbageCollectorMXBeans())
        self.old = [p for p in mf.getMemoryPoolMXBeans() if "Old Gen" in p.getName()]

    def _gc_ms(self) -> int:
        return sum(int(g.getCollectionTime()) for g in self.gcs)

    def start(self) -> None:
        self.gc0 = self._gc_ms()
        for p in self.old:
            p.resetPeakUsage()

    def stop(self) -> dict[str, float]:
        return {
            "jvm.gc_s": (self._gc_ms() - self.gc0) / 1000.0,
            "jvm.old_gen_peak_mb": sum(p.getPeakUsage().getUsed() for p in self.old) / (1 << 20),
        }


# -- /proc resident memory ----------------------------------------------------


def descendants(root: int) -> list[int]:
    """Pids of every process below `root` in the process tree."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for child in kids.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


class PeakRss:
    """Peak resident memory of this process tree (the driver, the Spark JVM
    and the Python workers) over an interval. `start` resets each process's
    high-water mark through /proc/<pid>/clear_refs; `stop` sums the VmHWM of
    every process then alive. The sum is an upper bound on the
    simultaneous peak: per-process peaks need not coincide, and the pages
    the Python workers share copy-on-write with their forking daemon are
    counted once per process. It is exact and needs no sampling."""

    def _tree(self) -> list[int]:
        me = os.getpid()
        return [me] + descendants(me)

    def start(self) -> None:
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:  # the process has just exited
                pass

    def stop(self) -> int:
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total += int(line.split()[1]) * 1024
            except OSError:
                pass
        return total
