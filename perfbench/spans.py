"""Spans recorded from outside the program.

The benchmark never edits a program file. It wraps the public functions
each layer exposes (module attributes, and the methods of the
``SnapshotStore`` instance it creates) for the length of one run and
restores them afterwards. Every call becomes a span (name, layer,
start, end, parent, thread), kept in memory and written out once at the
end of the run.

Snapshot commits are always recorded, traced or not: their timestamps
give the wave intervals (``wave_s_p50``), and in a traced run the Spark
job ids known at each commit give the jobs of every wave.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time
from dataclasses import asdict, dataclass

# job group of the benchmark's own Spark jobs, so per-wave job counts
# leave them out
OWN_GROUP = "perfbench"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    thread: str


@dataclass
class Commit:
    wave: int
    start: float
    end: float
    stats: dict
    max_job_id: int  # highest program job id seen at commit (traced runs)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of possibly overlapping intervals."""
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


class Tracer:
    """Owns the spans and wrappers of one run. ``enabled`` turns on the
    per-layer wrappers; commit timestamps are recorded either way."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.commits: list[Commit] = []
        self.probes: list[dict] = []  # per-wave bloom probe outcome counts
        self.written: list[dict] = []  # snapshot table writes (traced runs)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []
        self._last_probed = None

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def call(self, name: str, layer: str, fn, *args, **kwargs):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            # a pool thread's outermost span belongs to whatever the
            # main thread is inside (the crawl's concurrent writes)
            main = self._main_stack
            parent = main[-1] if main else None
        with self._lock:
            sid = len(self.spans)
            span = Span(sid, name, layer, time.monotonic(), 0.0, parent,
                        threading.current_thread().name)
            self.spans.append(span)
        stack.append(sid)
        try:
            return fn(*args, **kwargs)
        finally:
            stack.pop()
            span.end = time.monotonic()

    def wrap(self, owner, attr: str, layer: str, wrap_result=None):
        """Replace ``owner.attr`` by a spanning wrapper until ``restore``.
        ``wrap_result`` post-processes the return value (to wrap the
        closures a factory returns)."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            out = tracer.call(attr, layer, original, *args, **kwargs)
            return wrap_result(out) if wrap_result is not None else out

        self._restore.append((owner, attr, original))
        setattr(owner, attr, wrapper)
        return wrapper

    def wrap_callable(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return self.call(name, layer, fn, *args, **kwargs)

        return wrapper

    def restore(self) -> None:
        while self._restore:
            owner, attr, original = self._restore.pop()
            setattr(owner, attr, original)

    # ---------------------------------------------------------- commits
    def watch_store(self, store) -> None:
        """Wrap the store's methods on the instance (the class is left
        alone). Commits are always timed; traced runs span everything."""
        original_commit = store.commit
        tracer = self

        def commit(wave, tables, stats=None):
            t0 = time.monotonic()
            if tracer.enabled:
                tracer.call("commit", "snapshot", original_commit, wave, tables, stats)
            else:
                original_commit(wave, tables, stats)
            t1 = time.monotonic()
            tracer.commits.append(
                Commit(int(wave), t0, t1, dict(stats or {}),
                       tracer._max_job_id() if tracer.enabled else -1)
            )
            if tracer.enabled:
                tracer._count_probe(int(wave))

        store.commit = commit
        if not self.enabled:
            return
        for attr in ("read", "read_appended", "manifest", "latest_wave"):
            setattr(store, attr, self.wrap_callable(getattr(store, attr), attr, "snapshot"))
        for attr in ("write", "write_partitioned", "write_rows"):
            setattr(store, attr, self._recording_write(getattr(store, attr), attr))

    def _recording_write(self, fn, label: str):
        """Span a table write and keep (table, wave, path, interval), for
        per-wave files/bytes and the compaction time."""

        @functools.wraps(fn)
        def write(data, name, wave, *args, **kwargs):
            t0 = time.monotonic()
            path = self.call(label, "snapshot", fn, data, name, wave, *args, **kwargs)
            with self._lock:
                self.written.append({"name": name, "wave": int(wave), "path": path,
                                     "start": t0, "end": time.monotonic()})
            return path

        return write

    def _max_job_id(self) -> int:
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def note_probed(self, df):
        self._last_probed = df
        return df

    def _count_probe(self, wave: int) -> None:
        """Outcome counts of the wave's bloom probe, read from the
        crawl's persisted probe frame (one extra job, in the benchmark's
        own job group and span)."""
        df, self._last_probed = self._last_probed, None
        if df is None:
            return
        sc = self.spark.sparkContext

        def count():
            sc.setJobGroup(OWN_GROUP, "bloom probe outcome count")
            try:
                return {bool(r[0]): int(r[1]) for r in df.groupBy("maybe_seen").count().collect()}
            finally:
                for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                    sc.setLocalProperty(key, None)

        counts = self.call("probe_count", "perfbench", count)
        self.probes.append({"wave": wave, "maybe": counts.get(True, 0),
                            "definite": counts.get(False, 0)})

    # ---------------------------------------------------------- summary
    def wave_intervals(self) -> list[float]:
        """Seconds between successive commits of one job (the crash-loss
        window); a job's seeding commit starts a new chain."""
        return [cur.end - prev.end for prev, cur in zip(self.commits, self.commits[1:]) if cur.wave > 0]

    def jobs_and_tasks(self) -> list[tuple[int, int]]:
        """(jobs, completed tasks) of every crawl wave, from the job ids
        seen at successive commits."""
        st = self.spark.sparkContext.statusTracker()
        known = set(st.getJobIdsForGroup(None))
        out = []
        for prev, cur in zip(self.commits, self.commits[1:]):
            if cur.wave == 0:  # the next job's seeding, not a wave
                continue
            ids = [j for j in known if prev.max_job_id < j <= cur.max_job_id]
            tasks = 0
            for j in ids:
                info = st.getJobInfo(j)
                for sid in (info.stageIds if info else ()):
                    stage = st.getStageInfo(sid)
                    if stage is not None:
                        tasks += stage.numCompletedTasks
            out.append((len(ids), tasks))
        return out

    def self_times(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the union of
        its children's intervals (clipped to the span)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_s([(max(c.start, s.start), min(c.end, s.end))
                               for c in kids.get(s.id, ()) if c.end > s.start and c.start < s.end])
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
        return out

    def per_wave(self) -> list[dict]:
        """Spans grouped by crawl wave k >= 1: the interval from commit
        k-1 to commit k."""
        waves = []
        for prev, cur in zip(self.commits, self.commits[1:]):
            if cur.wave == 0:
                continue
            inside = [s for s in self.spans if prev.end <= s.start < cur.end]
            writes = [s for s in inside if s.layer == "snapshot"
                      and s.name in ("write", "write_partitioned", "write_rows")]
            own = [s for s in inside if s.layer == "perfbench"]
            first_write = min((s.start for s in writes), default=cur.start)
            waves.append({
                "wave": cur.wave,
                "interval_s": cur.end - prev.end - sum(s.end - s.start for s in own),
                "plan_s": first_write - prev.end - sum(s.end - s.start for s in own
                                                       if s.start < first_write),
                "write_calls": len(writes),
                "write_busy_s": union_s([(s.start, s.end) for s in writes]),
                "commit_s": cur.end - cur.start,
                "stats": cur.stats,
            })
        return waves

    def dump(self, path: str, extra: dict) -> None:
        doc = {"spans": [asdict(s) for s in self.spans],
               "commits": [asdict(c) for c in self.commits],
               "probes": self.probes, **extra}
        with open(path, "w") as f:
            json.dump(doc, f)


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default
