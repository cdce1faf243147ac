"""Physical-layout writers beyond the manifest table's own
(``plans.manifest``): layouts the engine's scan-time optimizations rely
on where one sort prefix is not enough.

- ``write_bucketed_table``: hash-bucketed catalog tables, so joins and
  aggregates on the bucket key run with no exchange;
- ``zorder_key`` / ``write_zordered``: Morton-curve clustering, so
  min/max skipping works for predicates on either of two columns
  (``ManifestTable.compact(zorder=...)`` uses the same key).

The reference's storage clauses (``tables.sql:30``) live on the
manifest table: ``ORDER BY (modem_name, timestamp)`` is
``ManifestTable.compact(sort_cols=...)`` and ``PARTITION BY
toDate(timestamp)`` is its per-file min/max skipping.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int = 16,
    sort_cols: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed catalog table: rows are hash-placed
    into ``n_buckets`` files per partition on ``bucket_cols`` (and
    optionally sorted inside each bucket).

    This is the co-located-join convention: two tables bucketed the same
    way on the join key sort-merge-join with NO exchange on either side —
    the shuffle was paid once at write time. At 100 TB this converts the
    recurring dominant cost of fact-to-fact joins into a one-time layout
    decision (the same trade ClickHouse makes with its sort key).
    Buckets also enable exchange-free aggregation on the bucket key."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def zorder_key(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton (Z-order) key interleaving the low ``bits`` of two
    non-negative int columns: sorting by it clusters rows so BOTH
    columns have bounded ranges within every file/row-group — Parquet
    min/max skipping then works for predicates on either column, the
    multi-dimensional analogue of the single-prefix sort key (the same
    trick Delta OPTIMIZE ZORDER applies).

    Pure bit arithmetic (shifts/masks/or) — whole-stage codegen, no UDF.
    Columns are clamped into [0, 2^bits) by masking; map real domains
    (timestamps, doubles) onto that range first (e.g. minute-of-day,
    bucketed value)."""
    mask = (1 << bits) - 1
    av = a.cast("long").bitwiseAND(F.lit(mask))
    bv = b.cast("long").bitwiseAND(F.lit(mask))
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out.bitwiseOR(
            F.shiftleft(F.shiftright(av, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(bv, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return out


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: Column,
    col_b: Column,
    bits: int = 16,
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as ``n_files`` files clustered on the Z-order curve
    of (col_a, col_b): a range-partition + sort on the Morton key, so
    each file covers a compact rectangle of the 2-D key space and scans
    filtered on EITHER column skip most files via row-group stats."""
    keyed = df.withColumn("_z", zorder_key(col_a, col_b, bits))
    (
        keyed.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )
