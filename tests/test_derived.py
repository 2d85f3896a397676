"""Incremental materialized-view maintenance over the CDF
(lake/derived.py): derived aggregates must track the source exactly
through inserts, group-moving updates, and deletes — consuming only
changes, never rescanning the source."""

from __future__ import annotations

from mex_extractors_spark.lake.derived import (
    full_refresh,
    last_refreshed_version,
    refresh_aggregates,
)
from mex_extractors_spark.lake.table import LakeTable

SCH = "repo string, path string, seq long, op string, lang string, stars long"


def _truth(spark, source):
    from pyspark.sql import functions as F

    return {
        (r.lang, r.cnt, r.total_stars)
        for r in source.read(spark)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.coalesce(F.col("stars"), F.lit(0))).alias("total_stars"),
        )
        .collect()
    }


def _derived_rows(spark, derived):
    return {
        (r.lang, r.cnt, r.total_stars)
        for r in derived.read(spark).select("lang", "cnt", "total_stars").collect()
    }


def test_null_groups_excluded_consistently(spark, tmp_path):
    """NULL-group rows are excluded by contract on EVERY path (full
    build, CDF diff, full refresh) — lake keys cannot be NULL, and the
    paths must agree or the derived table would drift between them."""
    src = LakeTable(str(tmp_path / "src"), num_buckets=2)
    drv = LakeTable(
        str(tmp_path / "drv"), key_cols=["lang"], num_buckets=2,
        seq_col="seq",
    )
    rows = [
        ("r1", "a", 1, "U", "py", 5),
        ("r2", "b", 2, "U", None, 7),
        ("r3", "c", 3, "U", "py", 2),
    ]
    src.apply_batch(spark, spark.createDataFrame(rows, SCH), "b1")
    refresh_aggregates(spark, src, drv, ["lang"], sum_cols={"total_stars": "stars"})
    assert _derived_rows(spark, drv) == {("py", 2, 7)}
    # CDF path: another NULL-group row arrives, still excluded
    src.apply_batch(
        spark,
        spark.createDataFrame([("r4", "d", 4, "U", None, 9)], SCH),
        "b2",
    )
    refresh_aggregates(spark, src, drv, ["lang"], sum_cols={"total_stars": "stars"})
    assert _derived_rows(spark, drv) == {("py", 2, 7)}


def test_refresh_rejects_mismatched_derived_key(spark, tmp_path):
    """A derived table keyed on a SUBSET of group_cols would LWW-collapse
    the per-group rows nondeterministically — must raise, not corrupt."""
    import pytest

    src = LakeTable(str(tmp_path / "src"), num_buckets=2)
    drv = LakeTable(
        str(tmp_path / "drv"), key_cols=["lang"], num_buckets=2, seq_col="seq"
    )
    src.apply_batch(
        spark,
        spark.createDataFrame([("r1", "a", 1, "U", "py", 5)], SCH),
        "b1",
    )
    with pytest.raises(ValueError, match="key_cols must equal group_cols"):
        refresh_aggregates(spark, src, drv, ["lang", "repo"])
    with pytest.raises(ValueError, match="key_cols must equal group_cols"):
        full_refresh(spark, src, drv, ["lang", "repo"])
    # the same columns in another order are the same key: accepted
    perm = LakeTable(
        str(tmp_path / "perm"), key_cols=["repo", "lang"], num_buckets=2,
        seq_col="_src_version",
    )
    refresh_aggregates(spark, src, perm, ["lang", "repo"])
    assert {(r.repo, r.lang, r.cnt) for r in perm.read(spark).collect()} == {
        ("r1", "py", 1)
    }
    src.apply_batch(
        spark,
        spark.createDataFrame([("r2", "b", 2, "U", "py", 3)], SCH),
        "b2",
    )
    full_refresh(spark, src, perm, ["lang", "repo"])
    assert {(r.repo, r.lang, r.cnt) for r in perm.read(spark).collect()} == {
        ("r1", "py", 1),
        ("r2", "py", 1),
    }


def test_incremental_refresh_tracks_source(spark, tmp_path):
    source = LakeTable(str(tmp_path / "src"), num_buckets=4)
    derived = LakeTable(
        str(tmp_path / "drv"), key_cols=["lang"], seq_col="_src_version",
        num_buckets=2,
    )

    def refresh():
        return refresh_aggregates(
            spark, source, derived, ["lang"],
            count_alias="cnt", sum_cols={"total_stars": "stars"},
        )

    b1 = spark.createDataFrame(
        [
            ("r", "a", 1, "U", "py", 10),
            ("r", "b", 2, "U", "py", 20),
            ("r", "c", 3, "U", "rs", 5),
        ],
        SCH,
    )
    source.apply_batch(spark, b1, "b1")
    st = refresh()
    assert st.full_build and st.applied and st.to_version == 1
    assert _derived_rows(spark, derived) == _truth(spark, source) == {
        ("py", 2, 30), ("rs", 1, 5),
    }

    # update that MOVES a row between groups (py->go), a delete, inserts
    b2 = spark.createDataFrame(
        [
            ("r", "a", 11, "U", "go", 12),  # retract py/10, add go/12
            ("r", "c", 12, "D", "", 0),     # rs group drops to zero rows
            ("r", "d", 13, "U", "py", 7),
            ("r", "e", 14, "U", "go", 1),
        ],
        SCH,
    )
    source.apply_batch(spark, b2, "b2")
    st = refresh()
    assert st.applied and not st.full_build
    assert st.from_version == 1 and st.to_version == 2
    assert _derived_rows(spark, derived) == _truth(spark, source) == {
        ("py", 2, 27), ("go", 2, 13),
    }
    # the rs group was deleted from the derived table, not zeroed
    assert {r.lang for r in derived.read(spark).collect()} == {"py", "go"}

    # already up to date: no-op, no new snapshot
    v = derived.current_snapshot()["version"]
    st = refresh()
    assert not st.applied and derived.current_snapshot()["version"] == v
    assert last_refreshed_version(derived) == 2

    # a third source batch refreshes incrementally again
    b3 = spark.createDataFrame([("r", "a", 21, "U", "go", 40)], SCH)
    source.apply_batch(spark, b3, "b3")
    st = refresh()
    assert st.applied and st.from_version == 2 and st.to_version == 3
    assert _derived_rows(spark, derived) == _truth(spark, source)


def test_full_refresh_recovers_after_source_expiry(spark, tmp_path):
    source = LakeTable(str(tmp_path / "src"), num_buckets=4)
    derived = LakeTable(
        str(tmp_path / "drv"), key_cols=["lang"], seq_col="_src_version",
        num_buckets=2,
    )
    source.apply_batch(
        spark,
        spark.createDataFrame(
            [("r", "a", 1, "U", "py", 1), ("r", "b", 2, "U", "rs", 2)], SCH
        ),
        "b1",
    )
    refresh_aggregates(
        spark, source, derived, ["lang"], sum_cols={"total_stars": "stars"}
    )
    # source moves on and expires the refreshed-from snapshot
    source.apply_batch(
        spark,
        spark.createDataFrame(
            [("r", "a", 11, "U", "go", 3), ("r", "b", 12, "D", "", 0)], SCH
        ),
        "b2",
    )
    source.expire_snapshots(keep_last=1)
    st = full_refresh(
        spark, source, derived, ["lang"], sum_cols={"total_stars": "stars"}
    )
    assert st.applied and st.full_build
    assert _derived_rows(spark, derived) == _truth(spark, source) == {("go", 1, 3)}
    # rs and py groups were removed via tombstones
    assert {r.lang for r in derived.read(spark).collect()} == {"go"}
