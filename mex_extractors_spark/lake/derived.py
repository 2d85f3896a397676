"""Incremental materialized-view maintenance over the change-data-feed.

The lakehouse pattern (Databricks/Snowflake incremental refresh,
Materialize-style view maintenance): a derived aggregate table is kept
in sync with its source by consuming ``LakeTable.read_changes`` between
the last-refreshed and current source snapshots — NEVER by rescanning
the source. With pre-images included, every change row contributes a
signed delta:

    insert / update_postimage  ->  +1 row, +value
    delete / update_preimage   ->  -1 row, -value

which handles group-membership changes for free (an update whose group
column changed retracts from the old group and adds to the new one).

The derived table is itself a :class:`~mex_extractors_spark.lake.table.
LakeTable` keyed on the group columns with ``seq = source version``, so
every engine guarantee carries over: refreshes are exactly-once
(idempotent batch id ``cdf:v{from}->{to}``), crash-safe (atomic
snapshot publish), fenced (a replayed older refresh can never regress a
newer one — source versions are monotonic), time-travelable, and
CAS-protected against concurrent writers.

Reference lineage: this is the engine-native replacement for the
reference's publisher sensor re-materializing downstream views whenever
upstream extractors finish (mex/extractors/pipeline/base.py:46-104) —
but incremental instead of full recompute.

Scale shape: the refresh touches ONLY changed keys (manifest-pruned,
shuffle-free CDF on a shared bucket layout), aggregates them with one
hash aggregate over the change rows, and upserts into the derived
table through the standard storage-partitioned merge. Cost is
O(changes), not O(source) or O(derived).

Retention contract: the source snapshot a refresh starts from must
still be retained (``expire_snapshots`` on the source must keep at
least the last-refreshed version, or the next refresh raises and needs
a ``full_refresh``).
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mex_extractors_spark.lake.table import LakeTable


@dataclass
class RefreshStats:
    from_version: int  # source version the refresh started from (0 = initial)
    to_version: int  # source version the derived table now reflects
    full_build: bool  # True when this was the initial full aggregation
    applied: bool  # False when already refreshed to to_version (no-op)
    groups_changed: int = 0


def last_refreshed_version(
    derived: LakeTable, at_version: int | None = None
) -> int:
    """Highest source version the derived table has absorbed (0 if the
    derived table has never been refreshed).

    ``at_version`` evaluates at a specific derived-table snapshot
    instead of main — catalog transactions pass their staged view: main
    can lag the catalog pin (fast-forward is best-effort housekeeping),
    and a watermark from stale main would double-apply CDF deltas."""
    from mex_extractors_spark.lake.index import last_indexed_version

    # one shared version-window parser for every derived-table
    # maintainer (index.py's docstring declares it the ONE place the
    # applied-batch bookkeeping question is answered) — a private copy
    # here could silently desynchronize on a bookkeeping change
    return last_indexed_version(derived, at_version=at_version, prefix="cdf")


def _agg_exprs(count_alias: str, sum_cols: dict[str, str], sign) -> list:
    exprs = [F.sum(sign).alias(count_alias)]
    for alias, col in sum_cols.items():
        exprs.append(F.sum(sign * F.coalesce(F.col(col), F.lit(0))).alias(alias))
    return exprs


def _check_derived_key(derived: LakeTable, group_cols: list[str]) -> None:
    """The derived table must be keyed on exactly ``group_cols``: a
    subset key would LWW-collapse the per-group rows nondeterministically.
    Column order is free — the derived table buckets on its own
    ``key_cols`` and every read/merge here joins by column name."""
    if sorted(derived.key_cols) != sorted(group_cols):
        raise ValueError(
            f"derived table key_cols must equal group_cols "
            f"({group_cols}), got {list(derived.key_cols)}"
        )


def _non_null_groups(df, group_cols):
    """NULL-group rows are excluded by contract (see refresh_aggregates
    docstring): lake keys cannot be NULL, and the full-build, CDF-diff,
    and full-refresh paths must agree on the exclusion."""
    for g in group_cols:
        df = df.where(F.col(g).isNotNull())
    return df


def refresh_aggregates(
    spark: SparkSession,
    source: LakeTable,
    derived: LakeTable,
    group_cols: Sequence[str],
    count_alias: str = "cnt",
    sum_cols: dict[str, str] | None = None,
    to_version: int | None = None,
    branch: str | None = None,
) -> RefreshStats:
    """Bring ``derived`` (per-``group_cols`` row count + optional sums
    over source columns) up to the source's current snapshot.

    First call performs the full initial aggregation; subsequent calls
    consume only the CDF between the last-refreshed and current source
    versions. Sums treat NULL source values as 0 (so a sum column is
    never NULL); use exact types (integer/decimal) for byte-stable
    incremental accumulation — float sums drift by accumulation order.

    ``to_version``/``branch`` stage the refresh inside a catalog
    transaction: refresh up to a source version that is itself only
    staged (a txn branch head) and write the derived batch to the
    derived table's own txn branch instead of main.

    Rows with a NULL group-column value are EXCLUDED (lake table keys
    cannot be NULL — apply_batch's ingest contract would silently drop
    the NULL-group upsert anyway, and the full-build and CDF-diff paths
    must agree): pre-coalesce NULLs to a sentinel value in the source
    if the NULL group matters. The derived table MUST be keyed on
    exactly ``group_cols`` — a subset key would LWW-collapse the
    per-group rows nondeterministically, so it raises instead.
    """
    sum_cols = dict(sum_cols or {})
    group_cols = list(group_cols)
    _check_derived_key(derived, group_cols)
    snap = source.current_snapshot()
    if snap is None and to_version is None:
        return RefreshStats(0, 0, full_build=False, applied=False)
    to_version = int(snap["version"]) if to_version is None else int(to_version)
    if to_version == 0:
        return RefreshStats(0, 0, full_build=False, applied=False)
    # staged on a branch: the from-watermark must come from the BRANCH
    # head (the catalog pin / this txn's prior writes), never main —
    # main can lag the pin when post-commit fast-forward was skipped.
    # Resolve the derived head ONCE and pin both the watermark and the
    # current-values read to it: resolving twice opens a window where a
    # concurrent refresh commits in between and this refresh would add
    # its CDF deltas on top of values that already include them
    derived_version = (
        derived.resolve_ref(branch)
        if branch is not None
        else (derived.current_snapshot() or {}).get("version")
    )
    from_version = last_refreshed_version(derived, at_version=derived_version)
    batch_id = f"cdf:v{from_version}->{to_version}"
    if from_version >= to_version:
        return RefreshStats(from_version, to_version, False, applied=False)

    if from_version == 0:
        # initial build: one full aggregation of the refresh-target state
        state = _non_null_groups(
            source.read(spark, version=to_version), group_cols
        )
        fresh = state.groupBy(*group_cols).agg(
            *_agg_exprs(count_alias, sum_cols, F.lit(1))
        )
        upserts = fresh.withColumn(derived.seq_col, F.lit(to_version)).withColumn(
            derived.op_col, F.lit("U")
        )
        st = derived.apply_batch(spark, upserts, batch_id, branch=branch)
        return RefreshStats(
            0, to_version, full_build=True, applied=st.applied,
            groups_changed=st.upserts,
        )

    changes = _non_null_groups(
        source.read_changes(
            spark, from_version, to_version, include_preimages=True
        ),
        group_cols,
    )
    sign = F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    deltas = changes.groupBy(*group_cols).agg(
        *_agg_exprs(count_alias, sum_cols, sign)
    )
    # merge deltas with the derived table's current values for ONLY the
    # changed groups (read pinned to the SAME snapshot the watermark
    # came from); groups whose live row count reaches 0 are deleted
    cur = derived.read(spark, version=derived_version).select(
        *group_cols,
        F.col(count_alias).alias("__cur_cnt"),
        *[F.col(a).alias(f"__cur_{a}") for a in sum_cols],
    )
    merged = deltas.join(cur, on=group_cols, how="left")
    new_cnt = F.coalesce(F.col("__cur_cnt"), F.lit(0)) + F.col(count_alias)
    upserts = merged.select(
        *group_cols,
        new_cnt.alias(count_alias),
        *[
            (F.coalesce(F.col(f"__cur_{a}"), F.lit(0)) + F.col(a)).alias(a)
            for a in sum_cols
        ],
        F.lit(to_version).alias(derived.seq_col),
        F.when(new_cnt <= 0, F.lit("D")).otherwise(F.lit("U")).alias(derived.op_col),
    )
    st = derived.apply_batch(spark, upserts, batch_id, branch=branch)
    return RefreshStats(
        from_version, to_version, full_build=False, applied=st.applied,
        groups_changed=st.upserts + st.deletes,
    )


def full_refresh(
    spark: SparkSession,
    source: LakeTable,
    derived: LakeTable,
    group_cols: Sequence[str],
    count_alias: str = "cnt",
    sum_cols: dict[str, str] | None = None,
) -> RefreshStats:
    """Recompute the derived table from the full source state (recovery
    path when the CDF base snapshot has been expired). Upserts every
    current group and deletes groups that no longer exist. Same
    contracts as :func:`refresh_aggregates`: NULL-group rows excluded,
    derived key must equal ``group_cols``."""
    sum_cols = dict(sum_cols or {})
    group_cols = list(group_cols)
    _check_derived_key(derived, group_cols)
    snap = source.current_snapshot()
    if snap is None:
        return RefreshStats(0, 0, full_build=False, applied=False)
    to_version = int(snap["version"])
    derived_version = (derived.current_snapshot() or {}).get("version")
    from_version = last_refreshed_version(derived, at_version=derived_version)
    if from_version >= to_version:
        return RefreshStats(from_version, to_version, False, applied=False)
    # both reads pinned: the source at the version this refresh records
    # as absorbed (an unpinned read could absorb a concurrent commit
    # BEYOND to_version, and the next incremental refresh would then
    # double-apply that range), the derived at the watermark's snapshot
    fresh = (
        _non_null_groups(source.read(spark, version=to_version), group_cols)
        .groupBy(*group_cols)
        .agg(*_agg_exprs(count_alias, sum_cols, F.lit(1)))
    )
    gone = (
        (
            derived.read(spark, version=derived_version)
            if derived_version
            else derived.read(spark)
        )
        .select(*group_cols)
        .join(fresh.select(*group_cols), on=group_cols, how="left_anti")
        .select(
            *group_cols,
            F.lit(0).alias(count_alias),
            *[F.lit(0).alias(a) for a in sum_cols],
        )
    )
    upserts = (
        fresh.withColumn(derived.op_col, F.lit("U"))
        .unionByName(gone.withColumn(derived.op_col, F.lit("D")))
        .withColumn(derived.seq_col, F.lit(to_version))
    )
    st = derived.apply_batch(spark, upserts, f"cdf:v{from_version}->{to_version}")
    return RefreshStats(
        from_version, to_version, full_build=True, applied=st.applied,
        groups_changed=st.upserts + st.deletes,
    )
