"""The last-writer-wins winner step shared by every LWW collapse."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def latest_per_key(
    df: DataFrame,
    group_cols: list[str],
    order: Column,
    payload: list[str] | None = None,
) -> DataFrame:
    """Keep, per ``group_cols`` value, only the row with the greatest
    ``order``: ``groupBy(group_cols).agg(max_by(struct(payload), order))``,
    unpacked back into ``group_cols + payload`` columns. ``payload``
    defaults to every column outside ``group_cols``. NULL group values
    group like any other value.

    The ordering rule: pass ``order`` as ONE plain column whenever the
    ordering fits in one (a long LSN, or an LSN packed with a tiebreak,
    such as ``lsn * 2 + src``). A plain ordering keeps ``max_by`` inside
    whole-stage codegen; a struct ordering falls back to an interpreted
    comparator that measured 5-12x slower and anti-scaled with cores, so
    use a struct only for a tiebreak that cannot be packed.

    Spark plans this as an aggregate with a map-side partial phase, so
    each input partition pre-collapses its duplicates before the shuffle;
    a ``df`` already partitioned on some of ``group_cols`` is not shuffled
    again.
    """
    if payload is None:
        payload = [c for c in df.columns if c not in group_cols]
    return (
        df.groupBy(*group_cols)
        .agg(F.max_by(F.struct(*payload), order).alias("__w"))
        .select(
            *group_cols,
            *[F.col("__w").getField(c).alias(c) for c in payload],
        )
    )
