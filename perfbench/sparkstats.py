"""Read Spark's own bookkeeping from outside the program: the status
tracker and status store (jobs, stages, executor metrics per job
group), the SQL status store (broadcast sizes), the block manager
(storage memory, persistent RDDs) and the driver JVM (GC, code cache).
"""

from __future__ import annotations

import re

MB = 1024.0 * 1024.0
_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": MB * 1024, "TiB": MB * MB}

STAGE_FIELDS = ("jobs", "stages", "tasks", "tasks_run", "executor_run_s",
                "executor_cpu_s", "gc_s", "records", "shuffle_read_mb",
                "shuffle_write_mb", "spill_mb")


def parse_size(text: str) -> float:
    """Bytes in a SQL size-metric string: ``"1031.8 KiB"`` or the
    ``"total (min, med, max ...)\\n2.0 MiB (...)"`` form."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _SIZE.search(text)
    return float(m.group(1).replace(",", "")) * _UNIT[m.group(2)] if m else 0.0


class SparkStats:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.tracker = self.sc.statusTracker()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        mf = spark._jvm.java.lang.management.ManagementFactory
        self.gc_beans = list(mf.getGarbageCollectorMXBeans())
        self.code_pools = [p for p in mf.getMemoryPoolMXBeans()
                           if "Code" in p.getName()]
        self._sql_seen = 0  # next SQL execution id broadcast_mb() reads

    def group(self, group: str) -> dict:
        """Jobs, stages, tasks and stage metrics of a job group.  Stages
        and tasks count every stage of the group's jobs, skipped or not,
        as ``tools/census.py`` does: whether a shared shuffle stage runs
        or is skipped depends on which concurrent job reaches it first,
        so only the planned count repeats exactly.  ``tasks_run`` counts
        the tasks that ran."""
        out = dict.fromkeys(STAGE_FIELDS, 0.0)
        jobs = self.tracker.getJobIdsForGroup(group)
        out["jobs"] = len(jobs)
        seen: set[int] = set()
        for jid in jobs:
            info = self.tracker.getJobInfo(jid)
            for sid in (info.stageIds if info is not None else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self.store.lastStageAttempt(sid)
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                if sd.status().toString() == "SKIPPED":
                    continue
                out["tasks_run"] += sd.numTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["records"] += sd.inputRecords() + sd.shuffleReadRecords()
                out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
        return out

    def cached_rdds(self, group: str) -> set[int]:
        """Ids of the persisted RDDs (DataFrame caches, checkpoints, and
        MLlib's own persists inside the JVM) that a job group's stages
        computed or read."""
        ids: set[int] = set()
        for jid in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(jid)
            for sid in (info.stageIds if info is not None else ()):
                nodes = self.store.operationGraphForStage(sid).rootCluster().getCachedNodes()
                ids.update(nodes.apply(i).id() for i in range(nodes.size()))
        return ids

    def mark(self) -> None:
        """Make broadcast_mb() start from the next SQL execution."""
        count = self.sql_store.executionsCount()
        if count:
            last = self.sql_store.executionsList(count - 1, 1).apply(0).executionId()
            self._sql_seen = last + 1

    def broadcast_mb(self) -> float:
        """Broadcast-exchange data size of the SQL executions since the
        previous call."""
        total = 0.0
        count = self.sql_store.executionsCount()
        if count == 0:
            return 0.0
        # ids are consecutive; the oldest may have been evicted
        first = self.sql_store.executionsList(0, 1).apply(0).executionId()
        start = max(0, self._sql_seen - first)
        if start >= count:
            return 0.0
        execs = self.sql_store.executionsList(start, count - start)
        last = self._sql_seen
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            if eid < self._sql_seen:
                continue
            last = max(last, eid + 1)
            nodes = self.sql_store.planGraph(eid).allNodes()
            values: dict[int, str] | None = None
            for j in range(nodes.size()):
                node = nodes.apply(j)
                if node.name() != "BroadcastExchange":
                    continue
                if values is None:
                    values = {}
                    it = self.sql_store.executionMetrics(eid).iterator()
                    while it.hasNext():
                        kv = it.next()
                        values[int(kv._1())] = str(kv._2())
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    if m.name() == "data size":
                        total += parse_size(values.get(int(m.accumulatorId()), ""))
        self._sql_seen = last
        return total / MB

    def storage_mb(self) -> float:
        """Block-manager storage memory in use (cached and checkpointed
        blocks, broadcast pieces)."""
        used = 0
        it = self.jsc.getExecutorMemoryStatus().values().iterator()
        while it.hasNext():
            v = it.next()
            used += v._1() - v._2()
        return used / MB

    def live_pins(self) -> int:
        """Persistent RDDs, plus one if the CacheManager holds entries."""
        cm = self.spark._jsparkSession.sharedState().cacheManager()
        return self.sc._jsc.getPersistentRDDs().size() + (0 if cm.isEmpty() else 1)

    def release(self) -> None:
        """Drop every cached DataFrame and persistent RDD, as the
        repository's bench and census do between queries."""
        self.spark.catalog.clearCache()
        for jrdd in self.sc._jsc.getPersistentRDDs().values():
            jrdd.unpersist(False)

    def jvm_gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self.gc_beans) / 1e3

    def code_cache_mb(self) -> float:
        return sum(p.getUsage().getUsed() for p in self.code_pools) / MB
