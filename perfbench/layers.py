"""Per-layer measurement taken from outside the engine.

Everything here observes the engine through public surfaces only:

- Spark work is attributed by **job-ID range**. Job IDs are sequential
  and the benchmark runs one query at a time, so the jobs a call
  launched are exactly the IDs between the scheduler's job counter
  before and after the call. Job groups are not used: micro-batch jobs
  of a streaming query do not carry the caller's group.
- Stage and task metrics come from the driver's status store.
- Process CPU time and peak memory come from ``/proc``.
- Streaming progress comes from a ``StreamingQueryListener`` that is
  registered only for traced passes, because a Python listener slows
  every micro-batch.

Spans are kept in memory and written once, when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    key: str | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder on the wall clock (epoch seconds), so
    that Spark's job times line up with it. ``enabled=False`` records
    nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def open(self, name: str, key: str | None = None) -> int | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, key))
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def close(self, sid: int | None, **attrs) -> None:
        if sid is None:
            return
        span = self.spans[sid]
        span.end = time.time()
        span.attrs.update(attrs)
        popped = self._stack.pop()
        if popped != sid:
            raise RuntimeError(f"span {span.name} closed out of order")

    def close_to(self, sid: int | None, **attrs) -> None:
        """Close every open span down to and including ``sid``."""
        if sid is None:
            return
        while self._stack[-1] != sid:
            self.close(self._stack[-1], **attrs)
        self.close(sid, **attrs)

    def add(self, name: str, start: float, end: float, parent: int | None,
            key: str | None, **attrs) -> None:
        """Record an already-finished span (e.g. a Spark job)."""
        if self.enabled:
            self.spans.append(Span(name, start, end, parent, key, attrs))

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "key": s.key, **s.attrs,
                }) + "\n")


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per span name not covered by that span's children."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        out[s.name] = out.get(s.name, 0.0) + uncovered(s, children.get(i, []))
    return out


def uncovered(span: Span, children: list[Span]) -> float:
    """Seconds of ``span`` that none of ``children`` covers."""
    return (span.end - span.start) - union_length(
        [(max(c.start, span.start), min(c.end, span.end)) for c in children]
    )


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


# ------------------------------------------------------------------- spark


def next_job_id(spark) -> int:
    """The ID the scheduler gives the next job (= jobs launched so far)."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def drain_listeners(spark) -> None:
    """Block until the listener bus has delivered every posted event, so
    the status store and the stream listener have seen finished work."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def spark_work(spark, first_job: int, end_job: int) -> dict:
    """Fold the jobs with IDs in ``[first_job, end_job)`` and the stages
    they created into counters.

    A stage counts only if it was created inside the range. Every job
    creates a new result stage whose ID is the largest so far, so the
    stages that existed before the range are exactly the IDs up to the
    largest stage ID of job ``first_job - 1``; a job that reuses one of
    them shows it as skipped, and it is not counted twice."""
    out = {
        "jobs": end_job - first_job, "stages": 0, "tasks": 0,
        "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
        "input_bytes": 0, "output_bytes": 0,
        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        "job_intervals": [],
    }
    if end_job <= first_job:
        return out
    store = spark.sparkContext._jsc.sc().statusStore()
    floor = -1
    if first_job > 0:
        prev = store.job(first_job - 1).stageIds()
        floor = max(prev.apply(i) for i in range(prev.size()))
    stage_ids: set[int] = set()
    for jid in range(first_job, end_job):
        job = store.job(jid)
        start, end = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
        if start is not None and end is not None:
            out["job_intervals"].append((start, end))
        ids = job.stageIds()
        stage_ids.update(s for s in (ids.apply(i) for i in range(ids.size())) if s > floor)
    for sid in sorted(stage_ids):
        st = store.lastStageAttempt(sid)
        if st.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numTasks()
        out["run_s"] += st.executorRunTime() / 1e3
        out["cpu_s"] += st.executorCpuTime() / 1e9
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["input_bytes"] += st.inputBytes()
        out["output_bytes"] += st.outputBytes()
        out["shuffle_read_bytes"] += st.shuffleReadBytes()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.diskBytesSpilled()
    return out


def cached_storage(spark) -> tuple[int, int]:
    """(bytes, rdds) of persisted RDD storage held right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    held = [i for i in infos if i.numCachedPartitions() > 0]
    return sum(i.memSize() + i.diskSize() for i in held), len(held)


# -------------------------------------------------------------------- /proc


def _proc_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """PIDs of every live process below ``root``."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _proc_stat(int(name))
            if fields:
                parent[int(name)] = int(fields[1])
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def cpu_seconds(pid: int, with_children: bool) -> float:
    """User+system CPU of ``pid``; with reaped children if asked."""
    f = _proc_stat(pid)
    if f is None:
        return 0.0
    # fields after ')' start at stat field 3: utime=14, stime=15, cutime=16, cstime=17
    ticks = int(f[11]) + int(f[12])
    if with_children:
        ticks += int(f[13]) + int(f[14])
    return ticks / CLK_TCK


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests while this box's
    CPUs were runnable, summed over CPUs: the share of a shared host's
    noise that the guest can see."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / CLK_TCK


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class ProcessCpu:
    """CPU seconds of the driver Python, the JVM, and the Python
    workers the JVM forks (the ``engine/udf`` and ``engine/multimodal``
    Arrow boundary). A worker's time moves into its reaping parent's
    child counters when it exits, so summing each worker with its
    reaped children keeps the total monotone."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid

    def sample(self) -> dict[str, float]:
        t = os.times()
        return {
            "driver": t.user + t.system,
            "jvm": cpu_seconds(self.jvm_pid, with_children=False),
            "worker": sum(cpu_seconds(p, with_children=True)
                          for p in descendants(self.jvm_pid)),
        }

    def peak_rss_mb(self) -> dict[str, float]:
        """Peak resident MB of the driver, the JVM and the live workers."""
        workers = descendants(self.jvm_pid)
        return {
            "driver": peak_rss_mb(os.getpid()),
            "jvm": peak_rss_mb(self.jvm_pid),
            "workers": sum(peak_rss_mb(p) for p in workers),
            "n_workers": len(workers),
        }


# ------------------------------------------------------------------ streams


def fold_progress(progress: list[dict]) -> dict[str, float]:
    """Fold ``StreamingQueryProgress`` JSON records into stream counters.

    ``state_rows`` is the largest total state-store row count any
    batch reported, summed over the state operators of that batch."""
    out = {"batches": 0, "trigger_ms": 0.0, "commit_ms": 0.0,
           "state_rows": 0, "state_commit_ms": 0.0}
    for p in progress:
        d = p.get("durationMs", {})
        ops = p.get("stateOperators", [])
        out["batches"] += 1
        out["trigger_ms"] += d.get("triggerExecution", 0)
        out["commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
        out["state_rows"] = max(out["state_rows"], sum(o.get("numRowsTotal", 0) for o in ops))
        out["state_commit_ms"] += sum(o.get("commitTimeMs", 0) for o in ops)
    return out


def stream_listener():
    """A listener that keeps each progress record as parsed JSON in
    ``.progress``. Built lazily so importing this module needs no
    Spark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Fold(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return _Fold()
