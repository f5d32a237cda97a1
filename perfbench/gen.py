"""Seeded input generators for the benchmark.

Everything here is pure Python/NumPy/pyarrow and runs during set-up, so
the timed loop only calls the package.  The same seed always yields the
same bytes.

- :class:`SalesBatches` writes reference-shaped sales CSVs (the
  FIXTURES.md section B dirt) for ``SalesPipeline.run``.
- :func:`stream_files` writes keyed parquet files for the streaming
  MERGE.
- :func:`write_corpus` writes the TPC-H-style tables the benchmarked
  queries read, in the schema of the query corpus.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SALES_HEADER = (
    "Branch_ID", "Dealer_ID", "Model_ID", "Revenue", "Units_Sold", "Date_ID",
    "Day", "Month", "Year", "BranchName", "DealerName", "Product_Name",
)
_CATEGORIES = ("BMW", "KIA", "AUDI", "FORD", "TATA", "HYUNDAI", "TOYOTA", "HONDA", "MG")
_PRODUCTS = tuple(f"{c} {n}" for c in _CATEGORIES for n in ("Sedan", "SUV", "Hatch", "Coupe"))
_CITIES = ("Chandler", "Mesa", "Tempe", "Phoenix", "Gilbert", "Tucson", "Peoria", "Yuma")
# IncrementalSales.csv:5 — out-of-pattern ids and a novel product
ADVERSARIAL_ROW = (
    "XYZ9726", "XYZ0063", "ZYXM13", 1000, 1, "DTX9999", 9, 9, 2020,
    "Surprise Branch", "Surprise Dealer", "Surprise",
)


# Shares of an incremental sales batch: rows that update a grain already
# loaded, new grains that bring a dealer or model never seen before, and
# rows that repeat a grain within the batch.
UPDATE_SHARE = 0.3
NEW_DIM_SHARE = 0.02
DUP_SHARE = 0.005
# Share of a stream landing file whose keys already exist.
STREAM_UPDATE_SHARE = 0.3


class SalesBatches:
    """Reference-shaped sales batches that keep the name FDs
    (Dealer_ID→DealerName, Branch_ID→BranchName, Model_ID→Product_Name)
    across batches, so incremental MERGEs never see two variants of one
    natural key.

    Dirt reproduced: UTF-8 BOM, quoted commas (``"Fisker, Karma
    Motors"``), about 1.7% rows with an empty DealerName (the dealers
    whose name is empty), a Date_ID that does not determine
    (Day, Month, Year), near-unique Branch_IDs, and the adversarial
    ``XYZ…``/``Surprise`` row in the first incremental batch.

    Each incremental batch draws ``UPDATE_SHARE`` of its rows from
    grains already loaded (same natural keys, new measures: an SCD-1
    update of the fact) and the rest as new grains, of which
    ``NEW_DIM_SHARE`` bring a dealer or model never seen before.
    """

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.dealers: dict[str, str] = {}
        self.models: dict[str, str] = {}
        self.branches: dict[str, str] = {}
        self.grains: list[tuple] = []
        self._known: set[tuple] = set()
        self.batches_made = 0
        for _ in range(270):
            self._new_dealer()
        self.dealers["DLR9000"] = "Fisker, Karma Motors"
        for _ in range(280):
            self._new_model()

    def _new_dealer(self) -> str:
        did = f"DLR{len(self.dealers):04d}"
        r = self.rng.random()
        if r < 0.017:
            name = ""
        elif r < 0.07:
            name = f"{self.rng.choice(_CITIES)}, {self.rng.choice(_CATEGORIES)} Motors"
        else:
            name = f"{self.rng.choice(_CITIES)} Motors {did[3:]}"
        self.dealers[did] = name
        return did

    def _new_model(self) -> str:
        cat = self.rng.choice(_CATEGORIES)
        mid = f"{cat}-M{len(self.models)}"
        self.models[mid] = self.rng.choice(_PRODUCTS)
        return mid

    def _branch(self) -> str:
        if self.branches and self.rng.random() < 0.01:
            return self.rng.choice(list(self.branches))
        bid = f"BR{len(self.branches):06d}"
        self.branches[bid] = f"{self.rng.choice(_CITIES)} {self.rng.choice(_CATEGORIES)}"
        return bid

    def _new_grain(self) -> tuple:
        rng = self.rng
        new_dim = rng.random() < NEW_DIM_SHARE
        dealer = self._new_dealer() if new_dim and rng.random() < 0.5 else rng.choice(list(self.dealers))
        model = self._new_model() if new_dim and rng.random() < 0.5 else rng.choice(list(self.models))
        date_id = f"DT{rng.randrange(1200):05d}"  # independent of the date: not an FD
        return (self._branch(), dealer, model, date_id,
                rng.randrange(1, 29), rng.randrange(1, 13), rng.choice((2017, 2018, 2019, 2020)))

    def _row(self, grain: tuple) -> tuple:
        branch, dealer, model, date_id, day, month, year = grain
        return (branch, dealer, model, self.rng.randrange(110_000, 30_000_000),
                self.rng.choice((1, 2, 3)), date_id, day, month, year,
                self.branches[branch], self.dealers[dealer], self.models[model])

    def batch(self, n: int) -> list[tuple]:
        """The next batch of ``n`` rows (the first call is the initial load)."""
        rng = self.rng
        n_upd = int(n * UPDATE_SHARE) if self.batches_made else 0
        grains = rng.sample(self.grains, min(n_upd, len(self.grains)))
        while len(grains) < n:
            if grains and rng.random() < DUP_SHARE:
                grains.append(rng.choice(grains))  # same grain twice in one batch
            else:
                grains.append(self._new_grain())
        rng.shuffle(grains)
        rows = [self._row(g) for g in grains]
        if self.batches_made == 1:
            self.branches[ADVERSARIAL_ROW[0]] = ADVERSARIAL_ROW[9]
            rows.append(ADVERSARIAL_ROW)
        for g in grains:
            if g not in self._known:
                self._known.add(g)
                self.grains.append(g)
        self.batches_made += 1
        return rows

    @staticmethod
    def write_csv(path: str, rows: list[tuple]) -> str:
        with open(path, "w", encoding="utf-8-sig", newline="") as f:
            w = csv.writer(f, quoting=csv.QUOTE_MINIMAL, lineterminator="\n")
            w.writerow(SALES_HEADER)
            w.writerows(rows)
        return path


STREAM_COLUMNS = ("sale_id", "Dealer_ID", "Revenue", "Units_Sold", "seq")


def stream_files(seed: int, n_preload: int, n_files: int, rows_per_file: int) -> list[pa.Table]:
    """A preload table followed by ``n_files`` landing files.  Keys are
    unique within a file; ``STREAM_UPDATE_SHARE`` of each file's keys
    already exist, so the expected target is last-write-wins per
    ``sale_id``."""
    rng = np.random.default_rng(seed)
    next_id = 0
    out = []
    for i in range(n_files + 1):
        n = n_preload if i == 0 else rows_per_file
        n_upd = 0 if i == 0 else int(n * STREAM_UPDATE_SHARE)
        upd = rng.choice(next_id, size=n_upd, replace=False) if n_upd else np.empty(0, np.int64)
        ids = np.concatenate([upd, np.arange(next_id, next_id + n - n_upd)])
        next_id += n - n_upd
        out.append(pa.table({
            "sale_id": pa.array([f"S{k:09d}" for k in ids]),
            "Dealer_ID": pa.array([f"DLR{k:04d}" for k in rng.integers(0, 270, n)]),
            "Revenue": pa.array(rng.integers(110_000, 30_000_000, n), pa.int64()),
            "Units_Sold": pa.array(rng.integers(1, 4, n), pa.int64()),
            "seq": pa.array(np.full(n, i), pa.int64()),
        }))
    return out


# ---------------------------------------------------------------------------
# Query corpus (the TPC-H-style star the queries_* modules read)
# ---------------------------------------------------------------------------

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window",
)
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def _pick(rng, values, n) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _days(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    base = np.datetime64(start, "D")
    span = (end - start).days
    days = base + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2), pa.float64())


def write_corpus(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write region, nation, customer, supplier, part, orders, lineitem
    and documents as ``<table>.parquet`` at scale factor ``sf`` (1.0 is
    6M lineitems).  Returns the row count per table."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li, n_docs = 4 * n_ord, max(500, int(50_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(_REGIONS)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pa.array([f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                                zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, _PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2))}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(rng, ("F", "O"), n_li),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li)}),
    }
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in rng.integers(10, 100, n_docs)]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n_docs),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
