"""Measurement helpers that watch the program from outside: Spark's own
status counters, CPU time the host stole from the machine and process
memory from /proc, and in-memory spans."""

from __future__ import annotations

import contextlib
import os
import threading
import time

COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
    "jvm_gc_s", "input_mb", "output_mb", "shuffle_write_mb", "spill_mb",
)


class SparkCounters:
    """Cumulative substrate counters read from Spark's ``AppStatusStore``
    over py4j. Stage and job lists come back newest first, so each
    snapshot reads only what finished since the previous one."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._ssc = sc._jsc.sc()
        self._store = self._ssc.statusStore()
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._seen_stages: set[tuple[int, int]] = set()
        self._seen_jobs: set[int] = set()
        self.job_spans: list[tuple[float, float]] = []
        self._tot = dict.fromkeys(COUNTERS, 0.0)

    def snapshot(self) -> dict:
        self._ssc.listenerBus().waitUntilEmpty()
        ArrayList = self._jvm.java.util.ArrayList
        stages = self._store.stageList(
            ArrayList(), False, False, self._gw.new_array(self._jvm.double, 0), ArrayList()
        )
        for i in range(stages.size()):
            s = stages.apply(i)
            key = (s.stageId(), s.attemptId())
            if key in self._seen_stages:
                break
            if s.status().toString() in ("ACTIVE", "PENDING"):
                continue
            self._seen_stages.add(key)
            t = self._tot
            t["stages"] += 1
            t["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            t["failed_tasks"] += s.numFailedTasks()
            t["executor_run_s"] += s.executorRunTime() / 1e3
            t["executor_cpu_s"] += s.executorCpuTime() / 1e9
            t["jvm_gc_s"] += s.jvmGcTime() / 1e3
            t["input_mb"] += s.inputBytes() / 1e6
            t["output_mb"] += s.outputBytes() / 1e6
            t["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
            t["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6
        jobs = self._store.jobsList(ArrayList())
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid in self._seen_jobs:
                break
            end = j.completionTime()
            if not end.isDefined():
                continue
            self._seen_jobs.add(jid)
            self._tot["jobs"] += 1
            self.job_spans.append(
                (j.submissionTime().get().getTime() / 1e3, end.get().getTime() / 1e3)
            )
        return dict(self._tot)

    def no_job_seconds(self, t0: float, t1: float) -> float:
        """Wall seconds in [t0, t1] (epoch time) with no Spark job running."""
        spans = sorted((max(a, t0), min(b, t1)) for a, b in self.job_spans if b > t0 and a < t1)
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in spans:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return max(t1 - t0 - covered, 0.0)


def host_ticks() -> tuple[int, int]:
    """(busy, stolen) CPU ticks of the whole machine from /proc/stat."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7]


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time the machine wanted that the hypervisor gave
    to other tenants instead. A vCPU is charged steal only while it has
    work, so a thread on the critical path loses about this share of its
    wall time."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return stolen / (busy + stolen) if busy + stolen > 0 else 0.0


def delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


class RssSampler:
    """Peak of the summed resident set size of a few processes, sampled
    from /proc every ``interval`` seconds on a background thread."""

    def __init__(self, pids: list[int], interval: float = 0.05):
        self._paths = [f"/proc/{p}/statm" for p in pids]
        self._interval = interval
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.peak_bytes = 0

    def _sample(self) -> int:
        total = 0
        for p in self._paths:
            try:
                with open(p) as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self):
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._sample())
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self._sample())
        return False


class Tracer:
    """Spans around calls into the program: name, start, end, parent and
    run id, with substrate counter deltas. Spans stay in memory; the
    runner writes them out when the run ends. A disabled tracer records
    nothing and forces nothing, so untraced passes run the plain call
    sequence."""

    def __init__(self, run_id: str, counters: SparkCounters | None = None, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self._counters = counters
        self._stack: list[int] = []
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        before = self._counters.snapshot() if self._counters else None
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        rec["wall_start"] = time.time()
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            self._stack.pop()
            if self._counters:
                rec["counters"] = delta(self._counters.snapshot(), before)

    def force(self, df) -> None:
        """Run a lazy DataFrame into the ``noop`` sink so its cost lands
        inside the current span (traced runs only)."""
        if self.enabled:
            df.write.format("noop").mode("overwrite").save()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its child spans cover (children
        of one span run one after another)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in self.spans}
