"""In-memory spans around the benchmark's calls into each layer, with Spark's
own counters attached per span.

Each span sets a Spark job group. After the timed work, the jobs of every
group are read back from the JVM status store (tasks, task times, shuffle,
spill, failures) and from the SQL status store (executed-plan nodes and their
``number of output rows``). Spans are kept in memory and written out once,
when the run ends. The time spans spend on their own bookkeeping inside the
timed job is the tracer's overhead and is accumulated separately.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)  # [(start, end)] epoch seconds
    joins: list = field(default_factory=list)  # [(node name, output rows)]

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def _rows(value: str | None) -> int:
    """SQL metric strings read like '3,621' (or 'total (min, med, max ...)'
    blocks for timing metrics, which are not parsed here)."""
    if not value:
        return 0
    m = re.match(r"^\s*([\d,]+)\s*$", value)
    return int(m.group(1).replace(",", "")) if m else 0


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Records spans for one run; ``enabled=False`` makes every span a no-op,
    which is how the untraced (end-to-end) runs execute the same code.

    While the job runs a span only sets its job group; Spark's counters are
    read for every span at once by ``collect()``, after the timed work."""

    def __init__(self, spark, run_id: str, enabled: bool = True):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.overhead_s = 0.0

    def _group(self, s: Span) -> str:
        return f"{self.run_id}-{s.id}"

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        sc = self.spark.sparkContext
        s = Span(
            len(self.spans), name,
            self._stack[-1].id if self._stack else None, self.run_id, time.time(),
        )
        self.spans.append(s)
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(self._group(s), name)
        self._stack.append(s)
        self.overhead_s += time.perf_counter() - t
        try:
            yield s
        finally:
            s.end = time.time()
            t = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", prev)
            self.overhead_s += time.perf_counter() - t

    def collect(self) -> None:
        """Attach each span's Spark counters: its job group's jobs and stages
        from the JVM status store, and the join nodes (with their output
        rows) of the SQL executions those jobs belong to."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        q = sc._gateway.new_array(sc._gateway.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        ids = lambda seq: [int(x) for x in seq.mkString(",").split(",") if x]  # noqa: E731
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        exec_jobs = []
        for i in range(execs.size()):
            e = execs.apply(i)
            exec_jobs.append((e.executionId(), set(ids(e.jobs().keys()))))
        for s in self.spans:
            job_ids = set(sc.statusTracker().getJobIdsForGroup(self._group(s)))
            if not job_ids:
                continue
            self._stages(s, store, q, job_ids, ids)
            for eid, jobs in exec_jobs:
                if jobs & job_ids:
                    self._joins(s, sql, eid)

    def _stages(self, s: Span, store, q, job_ids, ids) -> None:
        c = dict.fromkeys(
            ("tasks", "failed_tasks", "shuffle_read_bytes", "shuffle_write_bytes",
             "spill_bytes", "skew_num", "skew_den"), 0,
        )
        seen: set[int] = set()
        for j in sorted(job_ids):
            jd = store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined():
                end = done.get().getTime() / 1e3 if done.isDefined() else s.end
                s.jobs.append((sub.get().getTime() / 1e3, end))
            for sid in ids(jd.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # py4j: stage evicted or never submitted
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                n = sd.numCompleteTasks()
                c["tasks"] += n
                c["failed_tasks"] += sd.numFailedTasks()
                c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["spill_bytes"] += sd.diskBytesSpilled()
                if n > 1:
                    summ = store.taskSummary(sid, sd.attemptId(), q)
                    if summ.isDefined():
                        rt = summ.get().executorRunTime()
                        med, mx = rt.apply(0), rt.apply(1)
                        if med > 0:
                            c["skew_num"] += (mx / med) * sd.executorRunTime()
                            c["skew_den"] += sd.executorRunTime()
        s.counters.update(c)

    def _joins(self, s: Span, sql, eid: int) -> None:
        metrics = sql.executionMetrics(eid)
        nodes = sql.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            if "Join" not in name:
                continue
            rows = 0
            ms = node.metrics()
            for k in range(ms.size()):
                m = ms.apply(k)
                if m.name() == "number of output rows":
                    v = metrics.get(m.accumulatorId())
                    rows = _rows(v.get() if v.isDefined() else None)
            s.joins.append((name, rows))

    def self_s(self, s: Span) -> float:
        """Span time covered neither by child spans nor by the span's own
        Spark jobs: the driver-side share (planning, Python, commit
        bookkeeping)."""
        kids = [(k.start, k.end) for k in self.spans if k.parent == s.id]
        return s.wall_s - _covered(kids + s.jobs, s.start, s.end)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                rec = asdict(s)
                rec["self_s"] = self.self_s(s)
                f.write(json.dumps(rec) + "\n")
