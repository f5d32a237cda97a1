"""Workload ``query``: the read path.

One pass executes each benchmarked query once: it builds the query
(``queries_*`` plan construction, including any eager driver-side
actions such as ``localCheckpoint`` loops) and then writes it to a
``noop`` sink.  ``CORE`` are short star-join/aggregate queries whose
time is executor scan, join and aggregate; ``EXTENSIONS`` holds a
driver-bound iterative query (label propagation over the LSH graph,
rounds truncated with ``localCheckpoint``) dominated by build-phase
actions and one-task stages.  No write layer runs.
"""

from __future__ import annotations

import os
import time

from measure import dur, geomean, median

from gen import write_corpus

CORE = (
    "pricing_summary",
    "q5_supplier_volume_by_region",
    "q9_product_profit_adapted",
)
EXTENSIONS = ("dedup_graph_label_propagation",)
MODULE = {**{q: "queries_core" for q in CORE}, **{q: "queries_extensions" for q in EXTENSIONS}}
SCALE = 0.01  # 60k lineitems, 500 documents
# five timed passes, so a load burst during up to two passes cannot move
# a per-query median
TIMED_PASSES = 5
_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "documents")


def _load_oracle_compare():
    """The pandas-path canonicalisation from tools/check_oracle.py
    (decimal scale kept, floats by repr), imported read-only."""
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon_frame


def run(r) -> dict:
    import duckdb

    from sales_azure_data_engineer_project_spark import queries_core, queries_extensions  # noqa: F401

    queries, oracles = queries_core.QUERIES, queries_core.ORACLES
    canon_frame = _load_oracle_compare()

    t0 = time.perf_counter()
    sf_dir = os.path.join(r.work, "corpus")
    write_corpus(sf_dir, r.seed, SCALE)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in _TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")

    def execute(name):
        def op():
            with r.tracer.span(f"{MODULE[name]}.build"):
                df = queries[name](r.spark, sf_dir)
            with r.tracer.span(f"{MODULE[name]}.execute"):
                df.write.format("noop").mode("overwrite").save()
            return df
        return op

    def check(name):
        def compare(df) -> list[str]:
            spdf = df.toPandas()
            dpdf = con.execute(oracles[name]).df()
            if len(spdf) != len(dpdf) or sorted(spdf.columns) != sorted(dpdf.columns):
                return [f"{name}: shape {spdf.shape} vs oracle {dpdf.shape}"]
            kinds = [c for c in spdf.columns if spdf[c].dtype.kind != dpdf[c].dtype.kind]
            if kinds:
                return [f"{name}: dtype kind differs in {kinds}"]
            if canon_frame(spdf) != canon_frame(dpdf):
                return [f"{name}: values differ from oracle_sql"]
            return []
        return compare

    def one_pass(timed: bool):
        for name in (*CORE, *EXTENSIONS):
            r.op(name, execute(name), timed=timed, check=None if timed else check(name),
                 fatal=False)

    # one warm-up pass: the first pass runs about 40% slow (JIT); it also
    # checks every result against its oracle twin, outside any op timing
    one_pass(timed=False)
    r.setup_s = r.session_s + time.perf_counter() - t0
    r.timed_loop(lambda: one_pass(timed=True), TIMED_PASSES)
    return summarize(r)


def summarize(r) -> dict:
    names = (*CORE, *EXTENSIONS)
    report = {
        q: {"wall_p50_s": r.wall(q), "cpu_p50_s": r.cpu_of(q), "n": len(r.ops(q))} for q in names
    }
    for label, group in (("all", names), ("queries_core", CORE), ("queries_extensions", EXTENSIONS)):
        report[label] = {
            "query_geomean_s": geomean(r.wall(q) for q in group),
            "pass_s": sum(r.wall(q) for q in group),
            "pass_cpu_s": sum(r.cpu_of(q) for q in group),
            "passes": min(len(r.ops(q)) for q in group),
        }
    layers = _layers(r) if r.tracer.enabled else {}
    return {"kinds": list(names), "report": report, "layers": layers}


def _layers(r) -> dict:
    T = r.tracer
    m = {}

    for q in (*CORE, *EXTENSIONS):
        ops, mod = r.ops(q), MODULE[q]
        m[f"q.{q}.build_s"] = median(T.per_op(f"{mod}.build", ops, dur))
        m[f"q.{q}.execute_s"] = median(T.per_op(f"{mod}.execute", ops, dur))
        m[f"q.{q}.jobs"] = median(T.per_op(q, ops, T.inclusive("jobs")))
        m[f"q.{q}.tasks"] = median(T.per_op(q, ops, T.inclusive("tasks")))
        m[f"q.{q}.cpu_s"] = r.cpu_of(q)
        m[f"q.{q}.single_task_stages"] = median(T.per_op(q, ops, T.inclusive("single_task_stages")))
    for mod, group in (("queries_core", CORE), ("queries_extensions", EXTENSIONS)):
        for field in ("build_s", "execute_s", "jobs", "tasks", "cpu_s", "single_task_stages"):
            m[f"{mod}.{field}"] = sum(m[f"q.{q}.{field}"] for q in group)
        m[f"{mod}.tasks_per_job"] = m[f"{mod}.tasks"] / max(m[f"{mod}.jobs"], 1)
    all_ops = [op for q in (*CORE, *EXTENSIONS) for op in r.ops(q)]
    m["caching.release_caches_s"] = median(T.per_op("caching.release_caches", all_ops, dur))
    m["spark.tasks_failed"] = float(sum(s.get("tasks_failed", 0) for s in T.spans))
    return m
