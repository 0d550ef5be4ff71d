"""Incremental aggregate maintenance over a change-data feed.

A downstream consumer of the CDC lake table (``plans/lake_table.py``) often
maintains an AGGREGATE of the table — revenue by region, live users by
event type — and recomputing it from the full table after every merge costs
table-sized I/O per refresh. With a change feed that carries update
PREIMAGES (``LakeTable.read_changes(..., include_preimages=True)``), any
commutative-group aggregate (sum, count, and anything built from them:
mean = sum/count, …) can instead be maintained from the changed rows alone:

    contribution(row) = +measure(row)  for insert / update_postimage
                        -measure(row)  for delete / update_preimage

so the per-refresh cost is proportional to what CHANGED, not to table size.
This is classic incremental view maintenance (delta processing) expressed
as two narrow Spark plans:

- ``agg_delta(changes, group_cols, measures)``   — one map + one shuffle on
  the group keys, over the (small) change feed only;
- ``apply_agg_delta(state, delta, ...)``          — unionByName + one
  re-aggregation on the group keys. At scale, store the view bucketed by
  its group key (``DataFrameWriter.bucketBy`` or a ``LakeTable`` keyed on
  the group columns) and the apply becomes a co-partitioned merge with no
  wide shuffle of the state.

Group disappearance is exact, not heuristic: every delta carries a signed
row count (``COUNT_COL``), and groups whose maintained count reaches zero
are dropped by ``apply_agg_delta`` — a group deleted and re-inserted within
one feed nets out correctly because the folds are signed sums.

NULL measure values are exact too: SQL ``sum`` skips NULLs and returns NULL
for an all-NULL group, so a maintained plain sum would drift to 0 where
recomputation says NULL (retract a group's last non-NULL value and the
signed fold has nothing left to subtract). Each measure therefore carries a
signed NON-NULL count (``__nn_<measure>``) through the state — the standard
IVM device — and ``apply_agg_delta`` emits the measure as NULL exactly when
that count reaches zero, keeping ``advance(full(v0), v0, v1) == full(v1)``
row-for-row even under NULL-writing updates.

The semantics follow the public Delta Lake CDF contract (change types
``insert`` / ``update_preimage`` / ``update_postimage`` / ``delete``); the
reference connector itself stops at the sink (see
``/root/reference/README.md:58`` — its transforms feed Redshift/ClickHouse,
where downstream views are the warehouse's problem). Here the engine owns
the table, so it owns the refresh too.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .lake_table import cdf_classify_emit

#: change types whose column values describe the NEW state (add their measure)
_ADD_TYPES = ("insert", "update_postimage")
#: change types whose column values describe the OLD state (retract it)
_SUB_TYPES = ("delete", "update_preimage")
#: state column holding each group's signed live-row count
COUNT_COL = "n_rows"


def nn_col(measure: str) -> str:
    """State column holding ``measure``'s signed non-NULL value count."""
    return f"__nn_{measure}"


def _sign() -> Column:
    return (
        F.when(F.col("_change_type").isin(*_ADD_TYPES), F.lit(1))
        .when(F.col("_change_type").isin(*_SUB_TYPES), F.lit(-1))
        .otherwise(F.lit(0))  # unknown/no-op change types contribute nothing
    )


def agg_delta(
    changes: DataFrame,
    group_cols: list[str],
    measures: dict[str, Column],
) -> DataFrame:
    """Signed per-group aggregate contribution of a change feed.

    ``changes`` must carry ``_change_type`` plus the columns the measures
    read (the shape ``read_changes(include_preimages=True)`` emits).
    ``measures`` maps output column name -> additive row expression
    (e.g. ``{"revenue": F.col("price") * (1 - F.col("discount"))}``).
    A signed live-row count is always included as ``COUNT_COL`` — it is
    what lets ``apply_agg_delta`` drop emptied groups exactly — and each
    measure additionally carries a signed non-NULL contribution count
    ``__nn_<name>`` — what lets it emit NULL (not 0) for a group whose
    non-NULL values were all retracted, matching SQL sum semantics under
    recomputation.

    Plan shape: one narrow projection + one hash aggregate shuffled on the
    group keys, over the change feed only (never the table).
    """
    if COUNT_COL in measures:
        raise ValueError(
            f"measure name {COUNT_COL!r} collides with the row-count column"
        )
    sign = _sign()
    contribs = (
        [(sign.cast("long") * expr).alias(name) for name, expr in measures.items()]
        + [
            (sign.cast("long") * expr.isNotNull().cast("long")).alias(
                nn_col(name)
            )
            for name, expr in measures.items()
        ]
        + [sign.cast("long").alias(COUNT_COL)]
    )
    out_names = (
        list(measures) + [nn_col(n) for n in measures] + [COUNT_COL]
    )
    return (
        changes.select(*group_cols, *contribs)
        .groupBy(*group_cols)
        .agg(*[F.sum(name).alias(name) for name in out_names])
    )


def apply_agg_delta(
    state: DataFrame,
    delta: DataFrame,
    group_cols: list[str],
) -> DataFrame:
    """Fold one delta (from ``agg_delta``) into the maintained view state.

    ``state`` and ``delta`` must share the schema ``group_cols + measures
    [+ their ``__nn_*`` non-NULL counts] + COUNT_COL``. Groups whose
    maintained row count reaches zero disappear from the view, exactly as
    they would under recomputation; a measure whose non-NULL count reaches
    zero reads NULL, exactly as SQL ``sum`` over its all-NULL group would
    (the summed value is provably 0 there — every non-NULL contribution
    was retracted — so the rewrite loses nothing). States without ``__nn``
    columns (hand-built, pre-upgrade) fold as plain signed sums. One
    shuffle on the group keys; with the state stored bucketed on those
    keys the exchange on the state side is elided (co-partitioned merge).
    """
    measure_cols = [c for c in state.columns if c not in group_cols]
    if set(state.columns) != set(delta.columns):
        raise ValueError(
            f"state columns {sorted(state.columns)} != delta columns "
            f"{sorted(delta.columns)}"
        )
    if COUNT_COL not in measure_cols:
        raise ValueError(f"state is missing the row-count column {COUNT_COL!r}")
    folded = (
        state.unionByName(delta)
        .groupBy(*group_cols)
        .agg(*[F.sum(c).alias(c) for c in measure_cols])
    )
    out = [
        (
            F.when(F.col(nn_col(c)) > 0, F.col(c)).alias(c)
            if nn_col(c) in measure_cols
            else F.col(c)
        )
        for c in measure_cols
    ]
    return folded.select(*group_cols, *out).filter(F.col(COUNT_COL) > 0)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    lsn_col: str | None = None,
    include_preimages: bool = True,
) -> DataFrame:
    """Diff two snapshots of the same keyed table into a change feed.

    The in-memory counterpart of ``LakeTable.read_changes`` for tables that
    live outside the lake format: one full-outer join on the keys, emitting
    ``insert`` / ``update_preimage`` / ``update_postimage`` / ``delete``
    rows plus nothing for untouched keys. Updates are detected by
    ``lsn_col`` inequality when given (cheap, and immune to value-equal
    rewrites), else by any non-key column differing. Both inputs must share
    a schema. The join shuffles both sides on the keys — co-partition or
    bucket the snapshots by the same keys to elide it at scale.
    """
    if set(old.columns) != set(new.columns):
        raise ValueError(
            f"snapshot schemas differ: {sorted(old.columns)} vs {sorted(new.columns)}"
        )
    vals = [c for c in old.columns if c not in keys]
    # explicit existence flags, NOT key non-nullness: the join condition is
    # null-safe precisely because NULL key components are legal, so a
    # NULL-keyed row must not read as "absent" on its own side (it would
    # mis-classify as insert+delete instead of update/untouched)
    o = old.select(
        *[F.col(c).alias(f"o_{c}") for c in old.columns],
        F.lit(True).alias("__o_exists"),
    )
    n = new.select(
        *[F.col(c).alias(f"n_{c}") for c in new.columns],
        F.lit(True).alias("__n_exists"),
    )
    cond = [F.col(f"o_{k}").eqNullSafe(F.col(f"n_{k}")) for k in keys]
    joined = o.join(n, on=cond, how="full_outer")

    o_live = F.coalesce(F.col("__o_exists"), F.lit(False))
    n_live = F.coalesce(F.col("__n_exists"), F.lit(False))
    if lsn_col is not None:
        differs = ~F.col(f"o_{lsn_col}").eqNullSafe(F.col(f"n_{lsn_col}"))
    else:
        differs = ~F.struct(*[F.col(f"o_{c}") for c in vals]).eqNullSafe(
            F.struct(*[F.col(f"n_{c}") for c in vals])
        )
    return cdf_classify_emit(
        joined, keys, vals, o_live, n_live, differs, include_preimages
    )


class IncrementalAggView:
    """A maintained aggregate over a ``LakeTable``.

    Binds group columns and measures once; ``full()`` recomputes from the
    current table (bootstrap / audit), ``delta(v0, v1)`` reads the change
    feed between two snapshots and folds it to a signed per-group delta,
    ``advance(state, v0, v1)`` returns the refreshed view. The invariant
    tested in ``tests/test_incremental_view.py``:

        advance(full_at(v0), v0, v1)  ==  full_at(v1)   (row-for-row)
    """

    def __init__(
        self,
        table,
        group_cols: list[str],
        measures: dict[str, Column],
    ):
        self.table = table
        self.group_cols = list(group_cols)
        self.measures = dict(measures)

    def full(self, version: int | None = None) -> DataFrame:
        df = self.table.read(version)
        return df.groupBy(*self.group_cols).agg(
            *[F.sum(expr).alias(name) for name, expr in self.measures.items()],
            # per-measure non-NULL counts: the state bookkeeping that keeps
            # maintained sums NULL-exact (count() skips NULLs by definition)
            *[
                F.count(expr).alias(nn_col(name))
                for name, expr in self.measures.items()
            ],
            F.count(F.lit(1)).alias(COUNT_COL),
        )

    def delta(self, from_version: int, to_version: int | None = None) -> DataFrame:
        changes = self.table.read_changes(
            from_version, to_version, include_preimages=True
        )
        return agg_delta(changes, self.group_cols, self.measures)

    def advance(
        self, state: DataFrame, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        return apply_agg_delta(
            state, self.delta(from_version, to_version), self.group_cols
        )
