"""Workload ``ingest``: the write path.

Each cycle runs one incremental ``SalesPipeline.run`` on a landed sales
CSV (bronze→silver→SCD-1 dimensions→fact MERGE into ``VersionedTable``
gold) and then lands parquet files one at a time, each drained by
``stream_incremental_merge(availableNow)`` into a flat target through
the rename-swap writer.  Both commit protocols therefore run in every
cycle; the query modules do not run at all.

The op kinds are timed apart (``pipeline_batch``, ``stream_drain``) and
never pooled into one percentile.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq
from measure import StreamProgress, dur, median

from gen import STREAM_COLUMNS, SalesBatches, stream_files

INITIAL_ROWS = 20_000
BATCH_ROWS = 4_000
STREAM_PRELOAD_ROWS = 50_000
STREAM_FILE_ROWS = 2_000
# A drain is short and sensitive to load bursts, so a timed cycle holds
# an odd number of them.  One cycle (a batch and its drains) is what one
# run times: a batch costs 10-15 s on a 4-core host, and two batches in
# one run time within a few percent of each other, so a second cycle
# would not steady the run-to-run spread.  The count stays fixed so
# every run medians over the same ops.
WARMUP_DRAINS = 2
DRAINS_PER_CYCLE = 5
TIMED_CYCLES = 1
STREAM_KEYS = ["sale_id"]

_KINDS = ("pipeline_batch", "stream_drain")


def _stream_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("sale_id", T.StringType()),
        T.StructField("Dealer_ID", T.StringType()),
        T.StructField("Revenue", T.LongType()),
        T.StructField("Units_Sold", T.LongType()),
        T.StructField("seq", T.LongType()),
    ])


def _instrument(tracer) -> None:
    from sales_azure_data_engineer_project_spark.operators import dimensions, versioned
    from sales_azure_data_engineer_project_spark.plans import pipeline
    from sales_azure_data_engineer_project_spark.streaming import incremental

    for stage in ("run", "ingest_bronze", "build_silver", "build_dimensions", "build_fact"):
        tracer.wrap(pipeline.SalesPipeline, stage, f"pipeline.{stage}")
    for fn in ("read_csv", "read_parquet", "write_parquet"):
        tracer.wrap(pipeline, fn, f"io.{fn}")
    tracer.wrap(pipeline, "build_scd1_dimension", "dimensions.build_scd1_dimension")
    tracer.wrap(dimensions, "next_key_offset", "dimensions.next_key_offset")
    tracer.wrap(pipeline, "assemble_fact", "fact.build_fact")
    tracer.wrap(pipeline, "aggregate_to_grain", "fact.aggregate_to_grain")
    tracer.wrap(versioned, "merge_upsert", "upsert.merge_upsert")
    tracer.wrap(versioned.VersionedTable, "merge", "versioned.merge")
    tracer.wrap(versioned.VersionedTable, "read", "versioned.read")
    tracer.wrap(incremental, "merge_write_parquet", "upsert.merge_write_parquet")
    tracer.wrap(incremental, "stream_incremental_merge", "stream.stream_incremental_merge")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class _Zone:
    """Fresh inputs and zones: every batch CSV and stream file is
    generated here, before any timing, then gold gets its initial load
    and the stream target its preload."""

    def __init__(self, run):
        from sales_azure_data_engineer_project_spark.operators.upsert import merge_write_parquet
        from sales_azure_data_engineer_project_spark.plans import SalesPipeline

        self.root = os.path.join(run.work, "ingest")
        inputs = os.path.join(self.root, "inputs")
        os.makedirs(inputs)
        gen = SalesBatches(run.seed)
        self.csvs = [
            SalesBatches.write_csv(os.path.join(inputs, f"batch{i:03d}.csv"),
                                   gen.batch(INITIAL_ROWS if i == 0 else BATCH_ROWS))
            for i in range(TIMED_CYCLES + 1)
        ]
        self.batch_rows = [INITIAL_ROWS] + [BATCH_ROWS] * TIMED_CYCLES
        self.batch_rows[1] += 1  # the adversarial row
        self.loaded = 1

        self.stream = os.path.join(self.root, "stream")
        self.source = os.path.join(self.stream, "source")
        self.target = os.path.join(self.stream, "target")
        self.checkpoint = os.path.join(self.stream, "checkpoint")
        staged = os.path.join(self.stream, "staged")
        os.makedirs(self.source)
        os.makedirs(staged)
        self.stream_files = []
        n_files = WARMUP_DRAINS + TIMED_CYCLES * DRAINS_PER_CYCLE
        for i, table in enumerate(stream_files(run.seed, STREAM_PRELOAD_ROWS, n_files,
                                               STREAM_FILE_ROWS)):
            path = os.path.join(staged, f"part-{i:05d}.parquet")
            pq.write_table(table, path)
            self.stream_files.append(path)
        self.landed = []

        self.pipe = SalesPipeline(run.spark, os.path.join(self.root, "zones"))
        run.op("setup.initial_load", lambda: self.pipe.run(self.csvs[0]), timed=False)
        run.op("setup.stream_preload", lambda: merge_write_parquet(
            run.spark, run.spark.read.parquet(self.stream_files[0]), self.target,
            STREAM_KEYS), timed=False)
        self.next_file = 1

    def land(self) -> str:
        src = self.stream_files[self.next_file]
        dst = os.path.join(self.source, os.path.basename(src))
        os.rename(src, dst)
        self.next_file += 1
        self.landed.append(dst)
        return dst


def run(r) -> dict:
    from sales_azure_data_engineer_project_spark.streaming import incremental

    tracer = r.tracer
    progress = None
    if tracer.enabled:
        _instrument(tracer)
        progress = StreamProgress()
        r.spark.streams.addListener(progress.listener)
        r.extra_groups = lambda: (
            {"stream.stream_incremental_merge": progress.runs[-1]["run_id"]}
            if progress.runs else {}
        )

    t0 = time.perf_counter()
    zone = _Zone(r)
    schema = _stream_schema()
    gold_bytes: dict[int, tuple[int, int]] = {}

    def drain() -> None:
        zone.land()
        incremental.stream_incremental_merge(
            r.spark, zone.source, zone.target, STREAM_KEYS, schema, zone.checkpoint)

    def cycle() -> None:
        csv = zone.csvs[zone.loaded]
        rows = zone.batch_rows[zone.loaded]
        before = _dir_bytes(zone.pipe.gold) if tracer.enabled else 0
        r.op("pipeline_batch", lambda: zone.pipe.run(csv), timed=True, rows=rows)
        zone.loaded += 1
        if tracer.enabled:
            gold_bytes[r.ops("pipeline_batch")[-1]] = (
                _dir_bytes(zone.pipe.gold) - before, os.path.getsize(csv))
        for _ in range(DRAINS_PER_CYCLE):
            r.op("stream_drain", drain, timed=True, rows=STREAM_FILE_ROWS)

    # The initial load is the pipeline's warm-up (a separate warm-up batch
    # does not fit the run-time budget); a few untimed drains warm the
    # stream path.
    for _ in range(WARMUP_DRAINS):
        r.op("stream_drain", drain, timed=False, rows=STREAM_FILE_ROWS)
    r.setup_s = r.session_s + time.perf_counter() - t0
    r.timed_loop(cycle, TIMED_CYCLES)

    r.check("gold_vs_duckdb", check_gold(r.spark, zone))
    r.check("stream_target_last_write_wins", check_stream(r.spark, zone))
    if progress is not None:
        r.spark.streams.removeListener(progress.listener)
    return summarize(r, progress, gold_bytes, zone)


# ---------------------------------------------------------------------------
# Correctness: gold and the stream target against DuckDB recomputations
# ---------------------------------------------------------------------------

_GRAIN = ["Model_ID", "Branch_ID", "Dealer_ID", "Date_ID", "Year", "Month", "Day"]
_CSV_COLUMNS = (
    "{'Branch_ID':'VARCHAR','Dealer_ID':'VARCHAR','Model_ID':'VARCHAR',"
    "'Revenue':'BIGINT','Units_Sold':'BIGINT','Date_ID':'VARCHAR',"
    "'Day':'BIGINT','Month':'BIGINT','Year':'BIGINT',"
    "'BranchName':'VARCHAR','DealerName':'VARCHAR','Product_Name':'VARCHAR'}"
)


def check_gold(spark, zone) -> list[str]:
    """Dimension natural-key sets, fact grain uniqueness, and
    last-batch-wins per natural grain (a grain's fact row holds the sums
    of the last batch that carried it)."""
    import duckdb

    from sales_azure_data_engineer_project_spark.plans.pipeline import DIM_SPECS

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute("CREATE TABLE raw AS " + " UNION ALL ".join(
        f"SELECT *, {i} AS batch FROM read_csv('{p}', header=true, quote='\"', "
        f"escape='\"', nullstr='', columns={_CSV_COLUMNS})"
        for i, p in enumerate(zone.csvs[:zone.loaded])
    ))
    problems = []
    dims = {}
    for name, spec in DIM_SPECS.items():
        nk = spec.nk_cols
        dim = zone.pipe.read_gold(name)
        got = dim.select(spec.key_col, *nk).toPandas()
        if got[spec.key_col].duplicated().any() or got.duplicated(subset=nk).any():
            problems.append(f"{name}: duplicate surrogate or natural key")
        want = {tuple(r) for r in con.execute(f"SELECT DISTINCT {', '.join(nk)} FROM raw").fetchall()}
        have = {tuple(r) for r in got[nk].itertuples(index=False, name=None)}
        if have != want:
            problems.append(f"{name}: natural keys differ ({len(have ^ want)} keys)")
        dims[name] = (dim, spec)

    fact = zone.pipe.read_gold("factsales")
    for _, (dim, spec) in dims.items():
        fact = fact.join(dim.select(spec.key_col, *spec.nk_cols), spec.key_col, "left")
    got = fact.select(*_GRAIN, "Revenue", "Units_Sold").toPandas()
    if got.duplicated(subset=_GRAIN).any():
        problems.append("factsales: grain not unique")
    cols = ", ".join(_GRAIN)
    want = con.execute(f"""
        WITH last AS (SELECT {cols}, max(batch) AS batch FROM raw GROUP BY ALL)
        SELECT {cols}, CAST(sum(Revenue) AS BIGINT), CAST(sum(Units_Sold) AS BIGINT)
        FROM raw JOIN last USING ({cols}, batch) GROUP BY ALL
    """).fetchall()
    have = [tuple(int(v) if hasattr(v, "item") else v for v in row)
            for row in got.itertuples(index=False, name=None)]
    diff = set(have) ^ set(map(tuple, want))
    if diff or len(have) != len(want):
        problems.append(f"factsales: {len(diff)} of {len(want)} rows differ from last-batch-wins")
    return problems


def check_stream(spark, zone) -> list[str]:
    """The flat target holds, per key, the row of the last file that
    carried it (the preload is file 0)."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    files = ", ".join(f"'{p}'" for p in [zone.stream_files[0], *zone.landed])
    cols = ", ".join(STREAM_COLUMNS)
    want = con.execute(f"""
        SELECT {cols} FROM read_parquet([{files}])
        QUALIFY row_number() OVER (PARTITION BY sale_id ORDER BY seq DESC) = 1
    """).fetchall()
    got = spark.read.parquet(zone.target).select(*STREAM_COLUMNS).toPandas()
    have = [tuple(int(v) if hasattr(v, "item") else v for v in row)
            for row in got.itertuples(index=False, name=None)]
    diff = set(have) ^ set(map(tuple, want))
    if diff or len(have) != len(want):
        return [f"{len(diff)} of {len(want)} rows differ from last-write-wins"]
    return []


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------

_PROGRESS = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset",
             "triggerExecution")


def summarize(r, progress, gold_bytes, zone) -> dict:
    """End-to-end metrics, and with tracing on, the per-layer table."""
    report = {}
    for kind in _KINDS:
        report[kind] = {
            "batch_p50_s": r.wall(kind), "batch_n": len(r.ops(kind)),
            "rows_per_s": r.rows_per_s(kind), "batch_cpu_s": r.cpu_of(kind),
            "walls": " ".join(f"{s['wall']:.3f}" for s in r.samples.get(kind, [])),
        }
    layers = {}
    if r.tracer.enabled:
        layers = _layers(r, progress, gold_bytes, zone)
    return {"kinds": list(_KINDS), "report": report, "layers": layers}


def _layers(r, progress, gold_bytes, zone) -> dict:
    T = r.tracer
    B, S = r.ops("pipeline_batch"), r.ops("stream_drain")

    def med(name, ops, value=dur):
        return median(T.per_op(name, ops, value))

    def self_time(s):
        return dur(s) - T.children_time(s)

    m = {
        "pipeline.run_s": med("pipeline.run", B),
        "pipeline.run_self_s": med("pipeline.run", B, self_time),
        "pipeline.jobs": med("pipeline_batch", B, T.inclusive("jobs")),
        "pipeline.tasks": med("pipeline_batch", B, T.inclusive("tasks")),
        "pipeline.cpu_s": r.cpu_of("pipeline_batch"),
    }
    for stage in ("ingest_bronze", "build_silver", "build_dimensions", "build_fact"):
        m[f"pipeline.{stage}_s"] = med(f"pipeline.{stage}", B)
    for fn in ("read_csv", "read_parquet", "write_parquet"):
        m[f"io.{fn}_s"] = med(f"io.{fn}", B)
    m["io.write_parquet_jobs"] = med("io.write_parquet", B, T.inclusive("jobs"))
    m["dimensions.build_scd1_dimension_s"] = med("dimensions.build_scd1_dimension", B)
    m["dimensions.build_scd1_dimension_jobs"] = med("dimensions.build_scd1_dimension", B, T.inclusive("jobs"))
    m["dimensions.next_key_offset_s"] = med("dimensions.next_key_offset", B)
    m["upsert.merge_upsert_s"] = med("upsert.merge_upsert", B)
    m["upsert.merge_upsert_jobs"] = med("upsert.merge_upsert", B, T.inclusive("jobs"))
    m["upsert.merge_write_parquet_s"] = med("upsert.merge_write_parquet", S)
    m["versioned.merge_s"] = med("versioned.merge", B)
    m["versioned.merge_self_s"] = med("versioned.merge", B, self_time)
    m["versioned.merge_jobs"] = med("versioned.merge", B, T.inclusive("jobs"))
    m["versioned.read_s"] = med("versioned.read", B)
    m["versioned.bytes_written_per_input_byte"] = median(
        written / max(csv_bytes, 1) for op, (written, csv_bytes) in gold_bytes.items() if op in B)
    m["versioned.gold_bytes_on_disk"] = float(_dir_bytes(zone.pipe.gold))
    m["fact.build_fact_s"] = med("fact.build_fact", B)
    m["fact.aggregate_to_grain_s"] = med("fact.aggregate_to_grain", B)

    m["stream.stream_incremental_merge_s"] = med("stream.stream_incremental_merge", S)
    m["stream.jobs"] = med("stream_drain", S, T.inclusive("jobs"))
    m["stream.tasks"] = med("stream_drain", S, T.inclusive("tasks"))
    m["stream.cpu_s"] = r.cpu_of("stream_drain")
    # one query run per drain; the timed drains are the last len(S) runs
    runs = progress.runs[-len(S):] if S else []
    for key in _PROGRESS:
        m[f"stream.{key}_ms"] = median(
            sum(p["durationMs"].get(key, 0) for p in run["progress"]) for run in runs)
    m["stream.overhead_ms"] = median(
        sum(p["durationMs"].get("triggerExecution", 0) - p["durationMs"].get("addBatch", 0)
            for p in run["progress"]) for run in runs)
    m["stream.source_rows_read_per_row"] = median(
        sum(p["numInputRows"] for p in run["progress"]) / STREAM_FILE_ROWS for run in runs)
    m["caching.release_caches_s"] = med("caching.release_caches", B + S)
    m["spark.tasks_failed"] = float(sum(s.get("tasks_failed", 0) for s in T.spans))
    return m
