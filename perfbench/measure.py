"""Measurement from outside the package: CPU of the Spark process tree,
host steal time, the ambient-load probe, and the span tracer.

The tracer times calls into each module's public functions by wrapping
the module attributes in this process only; no package file changes.
Every span runs its Spark jobs under a job group of its own (the parent
group is restored on exit), so ``statusTracker`` attributes jobs,
stages and tasks to the span that launched them.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import time
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:  # the process ended between listing and reading
        return None


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (Spark's Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


class CpuClock:
    """CPU-seconds of this Python driver plus the JVM and its children.

    utime+stime of each live process in the JVM's tree, plus cutime and
    cstime (children already reaped), counts every worker exactly once.
    """

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def __call__(self) -> float:
        ticks = 0
        for pid in process_tree(self.jvm_pid):
            f = _stat_fields(pid)
            if f:
                ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        own = os.times()
        return ticks / _TICK + own.user + own.system


def steal_seconds() -> float:
    """Host steal time so far, summed over CPUs (``/proc/stat``)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


PROBE_REPS = 3


def ambient_probe(spark) -> float:
    """Median wall time of bench.py's synthetic probe: a broadcast join
    plus hash aggregate and sort over 100k generated rows (no I/O, no
    caches).  Recorded raw beside the results, never used to rescale."""
    from pyspark.sql import functions as F

    a = spark.range(100_000).select(
        F.col("id"),
        (F.col("id") % 97).alias("k"),
        F.md5(F.col("id").cast("string").cast("binary")).alias("h"),
    )
    b = spark.range(97).select(F.col("id").alias("k"), F.lit("d").alias("v"))
    plan = (
        a.join(F.broadcast(b), "k")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.min("h").alias("mh"))
        .orderBy(F.col("n").desc(), "k")
    )
    times = []
    for _ in range(PROBE_REPS):
        t0 = time.perf_counter()
        plan.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


class Tracer:
    """In-memory spans (name, start, end, parent, op id) with per-span
    Spark job attribution.  Disabled, ``span`` does nothing."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op_id: int | None = None
        self._pending: list[dict] = []
        self._ids = itertools.count()
        self._seen_stages: set[int] = set()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.sc
        rec = {
            "name": name,
            "op": self.op_id,
            "id": next(self._ids),
            "parent": self._stack[-1]["id"] if self._stack else None,
        }
        rec["group"] = f"perfbench-span-{rec['id']}"
        parent_group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", rec["group"])
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", parent_group)
            self._pending.append(rec)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned wrapper (this process only)."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, spanned)

    def settle(self, extra_groups=None) -> None:
        """Resolve the finished spans' jobs, stages and tasks.  Called
        after an op, outside its timing: waits for Spark's listener bus
        so the counts are complete, then reads ``statusTracker``.
        ``extra_groups``, called once the bus is drained, maps a span
        name to a job group set elsewhere (a streaming query's runId)."""
        if not self._pending:
            return
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        extra_groups = extra_groups() if extra_groups else {}
        st = self.sc.statusTracker()
        for rec in self._pending:
            groups = [rec["group"]]
            if rec["name"] in extra_groups:
                groups.append(extra_groups[rec["name"]])
            jobs = stages = tasks = failed = single = 0
            for g in groups:
                for jid in st.getJobIdsForGroup(g):
                    info = st.getJobInfo(jid)
                    jobs += 1
                    for sid in info.stageIds if info else ():
                        # a stage whose shuffle output a later job reuses
                        # is listed again there (skipped): count it once
                        s = None if sid in self._seen_stages else st.getStageInfo(sid)
                        if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                            continue
                        self._seen_stages.add(sid)
                        stages += 1
                        tasks += s.numCompletedTasks
                        failed += s.numFailedTasks
                        single += s.numTasks == 1
            rec.update(jobs=jobs, stages=stages, tasks=tasks,
                       tasks_failed=failed, single_task_stages=single)
        self.spans.extend(self._pending)
        self._pending = []

    # -- reading spans back ------------------------------------------------
    def children_time(self, rec: dict) -> float:
        return sum(dur(s) for s in self.spans if s["parent"] == rec["id"])

    def subtree(self, rec: dict) -> list[dict]:
        out, todo = [], [rec["id"]]
        while todo:
            pid = todo.pop()
            for s in self.spans:
                if s["parent"] == pid:
                    out.append(s)
                    todo.append(s["id"])
        return out

    def inclusive(self, field: str):
        """``field`` (jobs, tasks, ...) of a span plus all its descendants."""
        return lambda rec: rec[field] + sum(s[field] for s in self.subtree(rec))

    def per_op(self, name: str, ops: list[int], value) -> list[float]:
        """For each op in ``ops``, the sum of ``value(span)`` over the
        spans called ``name`` in that op (0 where there were none)."""
        totals = {op: 0.0 for op in ops}
        for s in self.spans:
            if s["name"] == name and s["op"] in totals:
                totals[s["op"]] += value(s)
        return [totals[op] for op in ops]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class StreamProgress:
    """Collects ``StreamingQueryListener`` progress per query run."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        runs = self.runs = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                runs.append({"run_id": str(event.runId), "progress": []})

            def onQueryProgress(self, event):
                p = event.progress
                for run in runs:
                    if run["run_id"] == str(p.runId):
                        run["progress"].append(
                            {"durationMs": dict(p.durationMs), "numInputRows": p.numInputRows}
                        )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()


def dur(span: dict) -> float:
    return span["end"] - span["start"]


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def geomean(values) -> float:
    values = [v for v in values if v > 0]
    return statistics.geometric_mean(values) if values else 0.0
