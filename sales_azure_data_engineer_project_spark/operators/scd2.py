"""SCD-Type-2 dimension builder — history-preserving upserts.

The reference is SCD-1 (`3(1)_Gold_dim_model.py:167`
``whenMatchedUpdateAll`` — old attribute values are lost, SURVEY H3).
SCD-2 is the standard next tier: attribute changes CLOSE the current
row (valid_to = batch ts, is_current = false) and open a new row, so
facts can join "as of" any point in time.

Relational formulation (one pass, no Delta needed):

    changed   = current ⋈ src where attrs differ     → close these
    unchanged = current rows not changed              → keep
    new_rows  = src rows that are new keys OR changed → open (new version)
    closed    = changed with valid_to=ts, is_current=false
    result    = unchanged ∪ closed ∪ new_rows ∪ history

Surrogate keys stay dense across versions (a new version of an existing
natural key gets a NEW surrogate — the point of SCD-2).

Scale: two hash joins on the natural key + the same dense-key window
over the (small) opened-rows delta; history rows pass through untouched
— at 100 TB pair with partitioning on is_current so current-state scans
skip history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.scalar import dense_surrogate_key, next_key_offset
from .dimensions import DimensionSpec

__all__ = ["build_scd2_dimension"]

_META = ("valid_from", "valid_to", "is_current")


def build_scd2_dimension(
    src: DataFrame,
    sink: DataFrame | None,
    spec: DimensionSpec,
    *,
    batch_ts: str,
) -> DataFrame:
    """Fold one batch into an SCD-2 dimension.

    ``src``: natural key + attrs (one row per natural key — aggregate
    first).  ``sink``: prior SCD-2 state or None.  ``batch_ts``: the
    effective timestamp (string, caller-provided so runs are
    deterministic/replayable — never wall-clock inside the plan).

    Output columns: key, natural cols, valid_from, valid_to (NULL =
    open), is_current.
    """
    nk = spec.nk_cols
    ts = F.lit(batch_ts)
    src = src.select(*spec.natural_cols).distinct()

    if sink is None:  # an empty sink opens every row from key 1 below, too
        opened = dense_surrogate_key(src, spec.key_col, spec.natural_cols, 0)
        return opened.select(
            spec.key_col,
            *spec.natural_cols,
            ts.alias("valid_from"),
            F.lit(None).cast("string").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )

    history = sink.filter(~F.col("is_current"))
    current = sink.filter(F.col("is_current"))

    attr_neq = F.lit(False)
    for a in spec.attrs:
        attr_neq = attr_neq | ~F.col(f"cur_{a}").eqNullSafe(F.col(a))

    src_marked = src.withColumn("__src_present", F.lit(True))
    joined = current.select(
        spec.key_col,
        *nk,
        *[F.col(a).alias(f"cur_{a}") for a in spec.attrs],
        "valid_from",
    ).join(src_marked, on=nk, how="full_outer")
    joined = joined.withColumn(
        "__src_present", F.coalesce(F.col("__src_present"), F.lit(False))
    )

    # rows to close: key existed in current AND in this batch, attrs changed
    closed = (
        joined.filter(F.col(spec.key_col).isNotNull() & _present(src, nk) & attr_neq)
        .select(
            spec.key_col,
            *nk,
            *[F.col(f"cur_{a}").alias(a) for a in spec.attrs],
            "valid_from",
            ts.alias("valid_to"),
            F.lit(False).alias("is_current"),
        )
    )
    # rows to keep as-is: key existed, attrs identical
    unchanged = (
        joined.filter(F.col(spec.key_col).isNotNull() & ~attr_neq & _present(src, nk))
        .select(
            spec.key_col,
            *nk,
            *[F.col(f"cur_{a}").alias(a) for a in spec.attrs],
            "valid_from",
            F.lit(None).cast("string").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
    )
    # keys that vanished from this batch stay current (merge never deletes)
    vanished = (
        joined.filter(F.col(spec.key_col).isNotNull() & ~_present(src, nk))
        .select(
            spec.key_col,
            *nk,
            *[F.col(f"cur_{a}").alias(a) for a in spec.attrs],
            "valid_from",
            F.lit(None).cast("string").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
    )
    # rows to open: brand-new keys, or changed keys (new version)
    to_open = joined.filter(
        _present(src, nk) & (F.col(spec.key_col).isNull() | attr_neq)
    ).select(*spec.natural_cols)
    offset = next_key_offset(sink, spec.key_col)
    opened = dense_surrogate_key(to_open, spec.key_col, spec.natural_cols, offset).select(
        spec.key_col,
        *spec.natural_cols,
        ts.alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )

    out_cols = [spec.key_col, *spec.natural_cols, *_META]
    return (
        history.select(*out_cols)
        .unionByName(closed.select(*out_cols))
        .unionByName(unchanged.select(*out_cols))
        .unionByName(vanished.select(*out_cols))
        .unionByName(opened.select(*out_cols))
    )


def _present(src: DataFrame, nk: list[str]):
    """src-side presence after the full outer join, via the
    ``__src_present`` marker added before joining (the join coalesces
    the natural-key columns, so they can't signal side presence)."""
    return F.col("__src_present")
