"""Layer spans for the benchmark, recorded from outside the package.

``Tracer.instrument`` swaps a package entry point (a module function or a
class method) for a wrapper that opens a span around each call. A span sets
the calling thread's Spark job group to its own id, so every Spark job the
call submits is attributed to the innermost open span. Spans are kept in
memory; ``Tracer.report`` reads the JVM status store once the timed phase is
over and folds jobs, stages and wall time into per-boundary measures.

Nothing here runs while ``enabled`` is False except one attribute check per
wrapped call.
"""

from __future__ import annotations

import functools
import itertools
import sys
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

GROUP_PROP = "spark.jobGroup.id"
GROUP_PREFIX = "perfbench-span-"
MISSING = "<missing>"

STAGE_FIELDS = (
    ("tasks", "numTasks", 1),
    ("executor_run_s", "executorRunTime", 1e-3),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("input_bytes", "inputBytes", 1),
    ("output_bytes", "outputBytes", 1),
    ("failed_tasks", "numFailedTasks", 1),
    ("output_records", "outputRecords", 1),
)
STAGE_MEASURES = tuple(name for name, _, _ in STAGE_FIELDS)


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self.enabled = False
        self.overhead_s = 0.0  # time spent in span bookkeeping while enabled
        self.spans: list[dict] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()  # spans also close on the stream's thread
        self._patches: list[tuple] = []

    # ------------------------------------------------------------ recording
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        c0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        prev_group = self._sc.getLocalProperty(GROUP_PROP)
        self._sc.setLocalProperty(GROUP_PROP, f"{GROUP_PREFIX}{sid}")
        rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None}
        stack.append(sid)
        c1 = time.perf_counter()
        rec["t0"] = time.time()
        try:
            yield
        finally:
            rec["t1"] = time.time()
            c2 = time.perf_counter()
            stack.pop()
            self._sc.setLocalProperty(GROUP_PROP, prev_group)
            with self._lock:
                self.spans.append(rec)
                self.overhead_s += (c1 - c0) + (time.perf_counter() - c2)

    def _wrap(self, fn, name: str, observe):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                result = fn(*args, **kwargs)
            if observe is not None and self.enabled:
                observe(args, result)
            return result

        return traced

    def instrument(self, owner, attr: str, name: str, observe=None) -> None:
        """Wrap ``owner.attr``; ``observe(args, result)`` sees each traced
        call's result. For a module function every ``battetl_spark`` module
        that imported it by name is patched too, so callers inside the
        package reach the wrapper."""
        fn = owner.__dict__[attr]
        traced = self._wrap(fn, name, observe)
        if isinstance(owner, type):
            targets = [owner]
        else:
            targets = [
                m for n, m in list(sys.modules.items())
                if n.startswith("battetl_spark") and getattr(m, attr, None) is fn
            ]
        for target in targets:
            setattr(target, attr, traced)
            self._patches.append((target, attr, fn))

    def uninstrument(self) -> None:
        for target, attr, fn in reversed(self._patches):
            setattr(target, attr, fn)
        self._patches.clear()

    # ------------------------------------------------------------ harvest
    def jobs_submitted(self) -> int:
        """Spark jobs submitted so far in this application."""
        return int(self._jsc.dagScheduler().numTotalJobs())

    def _job_group(self, job_id: int) -> str | None:
        """The job's group, or ``MISSING`` if the status store dropped it."""
        try:
            group = self._store.job(job_id).jobGroup()
        except Py4JJavaError:
            return MISSING
        return group.get() if group.isDefined() else None

    def _harvest(self, rec: dict, seen_stages: set) -> None:
        rec["jobs"] = []
        rec["stats"] = dict.fromkeys(STAGE_MEASURES, 0.0)
        group = f"{GROUP_PREFIX}{rec['id']}"
        for job_id in self._sc.statusTracker().getJobIdsForGroup(group):
            job = self._store.job(job_id)
            sub, done = job.submissionTime(), job.completionTime()
            t0 = sub.get().getTime() / 1000 if sub.isDefined() else rec["t0"]
            t1 = done.get().getTime() / 1000 if done.isDefined() else t0
            rec["jobs"].append((job_id, t0, t1))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                stage_id = stage_ids.apply(i)
                if stage_id in seen_stages:
                    continue
                seen_stages.add(stage_id)
                stage = self._store.lastStageAttempt(stage_id)
                if str(stage.status()) == "SKIPPED":
                    continue
                for key, getter, scale in STAGE_FIELDS:
                    rec["stats"][key] += getattr(stage, getter)() * scale

    def report(self, boundaries, jobs_before: int, jobs_after: int) -> dict:
        """Per-boundary measures over the recorded spans, plus the job
        reconciliation of the window ``[jobs_before, jobs_after)``.

        Inclusive measures (busy, driver, jobs and stage sums) come from
        the outermost span of each name, so a boundary nested in itself is
        not counted twice; ``self_s`` subtracts the time of direct child
        spans."""
        seen_stages: set = set()
        for rec in self.spans:
            self._harvest(rec, seen_stages)
        by_id = {r["id"]: r for r in self.spans}
        children: dict = {}
        for r in self.spans:
            children.setdefault(r["parent"], []).append(r)

        def subtree_jobs(r):
            out = list(r["jobs"])
            for c in children.get(r["id"], []):
                out += subtree_jobs(c)
            return out

        def subtree_stats(r):
            out = dict(r["stats"])
            for c in children.get(r["id"], []):
                for k, v in subtree_stats(c).items():
                    out[k] += v
            return out

        def nested_in_same_name(r):
            p = r["parent"]
            while p is not None:
                if by_id[p]["name"] == r["name"]:
                    return True
                p = by_id[p]["parent"]
            return False

        agg = {
            b: dict(calls=0, busy_s=0.0, self_s=0.0, driver_s=0.0, jobs=0,
                    **dict.fromkeys(STAGE_MEASURES, 0.0))
            for b in boundaries
        }
        for r in self.spans:
            a = agg[r["name"]]
            busy = r["t1"] - r["t0"]
            a["self_s"] += busy - sum(
                c["t1"] - c["t0"] for c in children.get(r["id"], []))
            if nested_in_same_name(r):
                continue
            jobs = subtree_jobs(r)
            a["calls"] += 1
            a["busy_s"] += busy
            a["driver_s"] += busy - _covered(
                [(t0, t1) for _, t0, t1 in jobs], r["t0"], r["t1"])
            a["jobs"] += len(jobs)
            for k, v in subtree_stats(r).items():
                a[k] += v

        groups = [self._job_group(j) for j in range(jobs_before, jobs_after)]
        return {
            "boundaries": agg,
            "jobs_total": jobs_after - jobs_before,
            "jobs_attributed": sum(len(r["jobs"]) for r in self.spans),
            "jobs_in_span_groups": sum(
                1 for g in groups if (g or "").startswith(GROUP_PREFIX)),
            "jobs_unattributed": sum(
                1 for g in groups if not (g or "").startswith(GROUP_PREFIX)
                and g != MISSING),
            "jobs_missing": groups.count(MISSING),
        }

    def gc_seconds(self) -> float:
        beans = self._sc._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total

