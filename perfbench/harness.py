"""The closed loop shared by the workloads: one client issues an op,
waits for it, cleans up untimed, and issues the next."""

from __future__ import annotations

import gc
import itertools
import sys
import time
import traceback

from measure import CpuClock, Tracer, ambient_probe, median, steal_seconds


class Run:
    """One benchmark run: op timing, between-op hygiene, failure counts
    and the per-run context record."""

    def __init__(self, spark, work: str, seed: int, trace: bool, session_s: float):
        from sales_azure_data_engineer_project_spark.caching import release_caches

        self.spark = spark
        self.work = work
        self.seed = seed
        self.session_s = session_s
        self.tracer = Tracer(spark, trace)
        self.cpu = CpuClock(int(spark._jvm.java.lang.ProcessHandle.current().pid()))
        self._release_caches = release_caches
        self._ops = itertools.count()
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[dict]] = {}
        self.setup_s = 0.0
        self.context: dict[str, float] = {}
        self.extra_groups = None

    def op(self, kind: str, fn, *, timed: bool, rows: int = 0, check=None, fatal=True):
        """Run ``fn`` as one op; time it, then (untimed) apply ``check``
        to its result and clean up.  An op that raises or fails its
        check counts as failed; one that raises ends the run if
        ``fatal``, else it is reported and the loop goes on."""
        op_id = next(self._ops)
        self.tracer.op_id = op_id
        self.attempted += 1
        c0 = self.cpu()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(kind):
                result = fn()
        except Exception:
            self.failed += 1
            if fatal:
                raise
            traceback.print_exc()
            self.hygiene()
            self.tracer.settle(self.extra_groups)
            return None
        wall = time.perf_counter() - t0
        cpu = self.cpu() - c0
        if timed:
            self.samples.setdefault(kind, []).append(
                {"op": op_id, "wall": wall, "cpu": cpu, "rows": rows}
            )
        if check is not None:
            problems = check(result)
            if problems:
                self.failed += 1
                print(f"check failed for {kind}: {problems}", file=sys.stderr)
        del result
        self.hygiene()
        self.tracer.settle(self.extra_groups)
        return wall

    def hygiene(self) -> None:
        """Between ops, untimed, as bench.py does: Python gc, release the
        package's tracked persists, clear Spark's cache, JVM gc."""
        gc.collect()
        with self.tracer.span("caching.release_caches"):
            self._release_caches()
        self.spark.catalog.clearCache()
        self.spark._jvm.System.gc()

    def check(self, name: str, problems: list[str]) -> None:
        """Record an untimed end-of-run correctness check."""
        self.attempted += 1
        if problems:
            self.failed += 1
            for p in problems:
                print(f"check failed [{name}]: {p}", file=sys.stderr)

    def timed_loop(self, cycle, cycles: int) -> None:
        """Run ``cycle()`` exactly ``cycles`` times.  The count never
        depends on how long a cycle takes, so a faster commit or a load
        spike cannot change which samples a median is taken over.
        Records the ambient probe and host steal time around the timed
        region."""
        self.context["probe_before_s"] = ambient_probe(self.spark)
        steal0 = steal_seconds()
        t0 = time.perf_counter()
        for _ in range(cycles):
            cycle()
        self.context["timed_region_s"] = time.perf_counter() - t0
        self.context["steal_s"] = steal_seconds() - steal0
        self.context["probe_after_s"] = ambient_probe(self.spark)

    # -- summaries ---------------------------------------------------------
    def ops(self, kind: str) -> list[int]:
        return [s["op"] for s in self.samples.get(kind, [])]

    def wall(self, kind: str) -> float:
        return median(s["wall"] for s in self.samples.get(kind, []))

    def cpu_of(self, kind: str) -> float:
        return median(s["cpu"] for s in self.samples.get(kind, []))

    def rows_per_s(self, kind: str) -> float:
        got = self.samples.get(kind, [])
        wall = sum(s["wall"] for s in got)
        return sum(s["rows"] for s in got) / wall if wall else 0.0
