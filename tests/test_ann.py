"""Persistent IVF index (lake/ann.py): build / clustered pruning /
CDF-driven refresh with a frozen quantizer / exactly-once refresh."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mex_extractors_spark.lake.ann import IvfIndex
from mex_extractors_spark.lake.table import LakeTable
from mex_extractors_spark.operators import similarity

DIM = 8


def _vec(i: int) -> list[float]:
    return [((i * 7 + d * 3) % 13) / 13.0 + (0.5 if d == i % DIM else 0.0) for d in range(DIM)]


def _corpus(spark, n: int = 200):
    return spark.createDataFrame(
        [(i, _vec(i)) for i in range(n)], "vec_id long, embedding array<double>"
    )


QVEC = [0.4, 0.1, 0.9, 0.2, 0.7, 0.0, 0.3, 0.6]


def test_build_topk_matches_inline_ivf(spark, tmp_path):
    df = _corpus(spark)
    idx = IvfIndex(str(tmp_path / "ivf"))
    st = idx.build(spark, df, num_centroids=8)
    assert st.applied and st.full_build

    want = {
        (r.vec_id, r.cosine_sim)
        for r in similarity.ivf_topk(df, QVEC, k=5, num_centroids=8, nprobe=3).collect()
    }
    got = {(r.vec_id, r.cosine_sim) for r in idx.topk(spark, QVEC, k=5, nprobe=3).collect()}
    assert got == want

    # re-build with the same source version is a no-op (exactly-once)
    v0 = idx.table.current_snapshot()["version"]
    st2 = idx.build(spark, df, num_centroids=8)
    assert not st2.applied
    assert idx.table.current_snapshot()["version"] == v0


def test_build_rejects_non_integral_id(spark, tmp_path):
    """Centroid ids ARE sampled corpus ids — a string-keyed corpus must
    fail upfront, not after the sample job ran."""
    df = spark.createDataFrame(
        [("a", [0.1] * DIM)], "vec_id string, embedding array<double>"
    )
    idx = IvfIndex(str(tmp_path / "idx"))
    with pytest.raises(ValueError, match="integral id column"):
        idx.build(spark, df, num_centroids=1)


def test_probe_read_prunes_files(spark, tmp_path):
    df = _corpus(spark, n=240)
    idx = IvfIndex(str(tmp_path / "ivf"), num_buckets=2)
    idx.build(spark, df, num_centroids=8, target_file_rows=16)

    full_files = set(idx.table.read(spark).inputFiles())
    probe = idx.probe_ids(QVEC, nprobe=2)
    probe_files = set(idx.probe_read(spark, probe).inputFiles())
    assert probe_files <= full_files
    # sort-clustered by centroid_id: probing 2 of 8 lists must drop
    # well over half the files (exact count depends on file boundaries)
    assert len(probe_files) <= len(full_files) / 2, (
        len(probe_files),
        len(full_files),
    )
    # and the pruned read still returns exactly the probed lists
    rows = idx.probe_read(spark, probe).select("centroid_id").distinct().collect()
    assert {r.centroid_id for r in rows} <= set(probe)


def test_refresh_incremental_with_frozen_quantizer(spark, tmp_path):
    src = LakeTable(str(tmp_path / "src"), key_cols=["vec_id"], num_buckets=2)
    base = _corpus(spark, n=120).withColumn("seq", F.col("vec_id") + 1).withColumn(
        "op", F.lit("U")
    )
    src.apply_batch(spark, base, "b1")

    idx = IvfIndex(str(tmp_path / "ivf"), num_buckets=2)
    st = idx.refresh(spark, src, num_centroids=6)
    assert st.applied and st.full_build
    cents_before = idx.centroids()

    # source changes: 3 vectors move, 2 are deleted, 1 is new
    moved = spark.createDataFrame(
        [(i, [x + 2.0 for x in _vec(i)], 1000 + i, "U") for i in (5, 17, 40)]
        + [(i, _vec(i), 2000 + i, "D") for i in (7, 11)]
        + [(500, _vec(500), 3000, "U")],
        "vec_id long, embedding array<double>, seq long, op string",
    )
    src.apply_batch(spark, moved, "b2")
    st2 = idx.refresh(spark, src)
    assert st2.applied and not st2.full_build
    assert idx.centroids() == cents_before  # quantizer frozen

    # index state == fresh assignment of the CURRENT source state
    # against the FROZEN centroids
    cent_df = spark.createDataFrame(cents_before, "_cid long, _cvec array<double>")
    want = {
        (r.vec_id, r.centroid_id, r.l2_dist)
        for r in similarity.assign_to_centroids(
            src.read(spark), cent_df
        ).collect()
    }
    got = {
        (r.vec_id, r.centroid_id, r.l2_dist)
        for r in idx.table.read(spark).collect()
    }
    assert got == want
    assert not any(r[0] in (7, 11) for r in got)  # deletes tombstoned
    assert any(r[0] == 500 for r in got)  # insert indexed

    # replayed refresh is fenced (same version range -> no-op)
    v = idx.table.current_snapshot()["version"]
    st3 = idx.refresh(spark, src)
    assert not st3.applied
    assert idx.table.current_snapshot()["version"] == v


def test_refresh_recovers_from_expired_cdf_base(spark, tmp_path):
    """Retention expiring the last-indexed source snapshot must NOT
    wedge the index: refresh falls back to a full re-assignment of the
    current state against the FROZEN quantizer (the lake/index.py
    _full_rebuild analog), tombstones stale ids, and advances the
    watermark so later refreshes go back to incremental."""
    src = LakeTable(str(tmp_path / "src"), key_cols=["vec_id"], num_buckets=2)
    base = _corpus(spark, n=120).withColumn("seq", F.col("vec_id") + 1).withColumn(
        "op", F.lit("U")
    )
    src.apply_batch(spark, base, "b1")
    idx = IvfIndex(str(tmp_path / "ivf"), num_buckets=2)
    idx.refresh(spark, src, num_centroids=6)
    cents_before = idx.centroids()

    # source moves on: one update + one delete + one insert, then
    # retention expires everything but the newest snapshot
    ch = spark.createDataFrame(
        [(3, [x + 1.0 for x in _vec(3)], 1003, "U"), (9, _vec(9), 1009, "D"),
         (900, _vec(900), 1900, "U")],
        "vec_id long, embedding array<double>, seq long, op string",
    )
    src.apply_batch(spark, ch, "b2")
    src.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError):
        src.read_changes(spark, from_version=1, to_version=2)  # CDF base gone

    st = idx.refresh(spark, src)
    assert st.applied and st.full_build
    assert idx.centroids() == cents_before  # quantizer NEVER resampled

    cent_df = spark.createDataFrame(cents_before, "_cid long, _cvec array<double>")
    want = {
        (r.vec_id, r.centroid_id)
        for r in similarity.assign_to_centroids(src.read(spark), cent_df).collect()
    }
    got = {(r.vec_id, r.centroid_id) for r in idx.table.read(spark).collect()}
    assert got == want
    assert not any(v == 9 for v, _c in got)  # stale id tombstoned
    assert any(v == 900 for v, _c in got)

    # watermark advanced: replaying the same range is a fenced no-op
    assert not idx.refresh(spark, src).applied


def test_refresh_churn_triggers_recluster(spark, tmp_path):
    """Refreshed rows land in hash-bucketed (unclustered) files; once
    churn passes recluster_fraction the index must re-sort-cluster so
    probe pruning doesn't silently decay toward a full scan."""
    src = LakeTable(str(tmp_path / "src"), key_cols=["vec_id"], num_buckets=2)
    base = _corpus(spark, n=200).withColumn("seq", F.col("vec_id") + 1).withColumn(
        "op", F.lit("U")
    )
    src.apply_batch(spark, base, "b1")
    idx = IvfIndex(str(tmp_path / "ivf"), num_buckets=2)
    idx.refresh(spark, src, num_centroids=8)

    # churn 80/200 vectors (> the 0.2 default fraction): the refresh
    # itself must trigger the recluster, restoring the pruning property
    moved = spark.createDataFrame(
        [(i, [x + 3.0 for x in _vec(i)], 1000 + i, "U") for i in range(80)],
        "vec_id long, embedding array<double>, seq long, op string",
    )
    src.apply_batch(spark, moved, "b2")
    st = idx.refresh(spark, src)
    assert st.applied
    assert idx._cluster_state()["churn_since"] == 0  # recluster ran

    full = set(idx.table.read(spark).inputFiles())
    probe_files = set(idx.probe_read(spark, idx.probe_ids(QVEC, 2)).inputFiles())
    assert len(probe_files) <= len(full) / 2, (len(probe_files), len(full))

    # below-threshold churn only accumulates (no rewrite storm)
    small = spark.createDataFrame(
        [(0, [x - 1.0 for x in _vec(0)], 5000, "U")],
        "vec_id long, embedding array<double>, seq long, op string",
    )
    src.apply_batch(spark, small, "b3")
    files_before = set(idx.table.read(spark).inputFiles())
    idx.refresh(spark, src)
    assert idx._cluster_state()["churn_since"] == 1
    # the one churned row rewrote only its own bucket, not the table
    assert len(files_before & set(idx.table.read(spark).inputFiles())) > 0


def test_recluster_keeps_churn_saved_while_it_runs(spark, tmp_path, monkeypatch):
    """The churn increment's flock covers the read-modify-write only: a
    recluster (a full compaction) runs after it is released and resets
    only the churn it saw, so an increment a concurrent refresh saves
    during the compaction survives, and that refresh's own threshold
    crossing skips instead of compacting (and conflicting) a second time."""
    import fcntl

    idx = IvfIndex(str(tmp_path / "ivf"), num_buckets=2)
    idx.build(spark, _corpus(spark, n=40), num_centroids=4)
    assert idx._cluster_state() == {"rows_at_cluster": 40, "churn_since": 0}
    compact = idx.table.compact
    during = []

    def concurrent_refresh(*args, **kwargs):
        if not during:
            with open(idx._clustered_file + ".lock", "w") as lk:
                fcntl.flock(lk, fcntl.LOCK_EX | fcntl.LOCK_NB)  # raises if held
            idx._track_churn(spark, 3, 0.0)  # crosses the threshold as well
            during.append(idx._cluster_state()["churn_since"])
        return compact(*args, **kwargs)

    monkeypatch.setattr(idx.table, "compact", concurrent_refresh)
    idx._track_churn(spark, 20, 0.2)
    assert during == [23]
    assert idx._cluster_state() == {"rows_at_cluster": 40, "churn_since": 3}


def test_unbuilt_index_raises(spark, tmp_path):
    idx = IvfIndex(str(tmp_path / "ivf"))
    with pytest.raises(ValueError, match="never built"):
        idx.topk(spark, QVEC)
    src = LakeTable(str(tmp_path / "src"), key_cols=["other_id"])
    with pytest.raises(ValueError, match="key_cols"):
        idx.refresh(spark, src)


def test_build_with_derived_params(spark, tmp_path):
    """num_centroids=None derives ~sqrt(n) lists from the corpus size
    (the measured BENCH/ANN.md default), and the derived-build index
    answers exactly like the inline operator given the same knobs."""
    df = _corpus(spark, n=200)
    idx = IvfIndex(str(tmp_path / "ivf"))
    st = idx.build(spark, df, num_centroids=None)
    assert st.applied
    assert len(idx.centroids()) == 14  # round(sqrt(200))

    want = {
        (r.vec_id, r.cosine_sim)
        for r in similarity.ivf_topk(
            df, QVEC, k=5, num_centroids=14, nprobe=3
        ).collect()
    }
    got = {(r.vec_id, r.cosine_sim) for r in idx.topk(spark, QVEC, k=5, nprobe=3).collect()}
    assert got == want


def test_rebuild_noop_never_clobbers_frozen_quantizer(spark, tmp_path):
    """A re-build against a DRIFTED corpus (version not bumped) must hit
    the exactly-once no-op path WITHOUT resampling the quantizer: saved
    centroids from the drifted corpus + stored assignments from the
    original one would silently probe the wrong inverted lists."""
    df = _corpus(spark)
    idx = IvfIndex(str(tmp_path / "ivf"))
    idx.build(spark, df, num_centroids=8)
    cents_before = idx.centroids()

    drifted = df.select(
        "vec_id", F.transform("embedding", lambda x: x + F.lit(5.0)).alias("embedding")
    )
    st = idx.build(spark, drifted, num_centroids=8)  # same source_version
    assert not st.applied
    assert idx.centroids() == cents_before


def test_build_retry_recovers_missing_compaction(spark, tmp_path):
    """Crash between the apply commit and the clustered compaction: the
    marker is absent, so the no-op retry must re-run the cluster rewrite
    (otherwise probe reads prune nothing, forever)."""
    import os

    df = _corpus(spark, n=240)
    idx = IvfIndex(str(tmp_path / "ivf"), num_buckets=2)
    idx.build(spark, df, num_centroids=8, target_file_rows=16)
    assert os.path.exists(idx._clustered_file)

    # simulate the crash window: batch applied, compaction marker lost
    os.remove(idx._clustered_file)
    st = idx.build(spark, df, num_centroids=8, target_file_rows=16)
    assert not st.applied  # still exactly-once on the data
    assert os.path.exists(idx._clustered_file)  # but re-clustered

    # and the re-clustered files still prune
    full = set(idx.table.read(spark).inputFiles())
    probe_files = set(idx.probe_read(spark, idx.probe_ids(QVEC, 2)).inputFiles())
    assert len(probe_files) <= len(full) / 2


def test_clobbered_quantizer_fails_loudly(spark, tmp_path):
    """A concurrent bootstrap can overwrite the centroids file AFTER
    another bootstrap committed (the file write is outside the catalog
    CAS). Serving probes or refreshing against the wrong quantizer
    would silently miss neighbors — provenance (built_at_version vs the
    committed ivf:v0->X batch) must make it an error instead."""
    src = LakeTable(str(tmp_path / "src"), key_cols=["vec_id"], num_buckets=2)
    base = _corpus(spark, n=80).withColumn("seq", F.col("vec_id") + 1).withColumn(
        "op", F.lit("U")
    )
    src.apply_batch(spark, base, "b1")
    idx = IvfIndex(str(tmp_path / "ivf"), num_buckets=2)
    idx.refresh(spark, src, num_centroids=6)

    # simulate the losing transaction's clobber: same centroids, wrong
    # provenance (it bootstrapped at a different source version)
    import json

    with open(idx._centroids_file) as fh:
        doc = json.load(fh)
    doc["built_at_version"] = 999
    with open(idx._centroids_file, "w") as fh:
        json.dump(doc, fh)

    with pytest.raises(ValueError, match="concurrent bootstrap"):
        idx.probe_read(spark, [0])
    src.apply_batch(
        spark,
        spark.createDataFrame(
            [(500, _vec(500), 5000, "U")],
            "vec_id long, embedding array<double>, seq long, op string",
        ),
        "b2",
    )
    with pytest.raises(ValueError, match="concurrent bootstrap"):
        idx.refresh(spark, src)

    # restoring the right provenance restores service
    doc["built_at_version"] = 1
    with open(idx._centroids_file, "w") as fh:
        json.dump(doc, fh)
    assert idx.refresh(spark, src).applied


def test_branch_refresh_requires_explicit_to_version(spark, tmp_path):
    """Defaulting a branch refresh's target to source MAIN would read a
    world that can lag the transaction's staged view and silently skip
    the refresh — it must be an error instead."""
    src = LakeTable(str(tmp_path / "src"), key_cols=["vec_id"], num_buckets=2)
    idx = IvfIndex(str(tmp_path / "ivf"), num_buckets=2)
    with pytest.raises(ValueError, match="to_version"):
        idx.refresh(spark, src, branch="txn-x")


def test_minhash_ignores_null_and_empty_texts(spark):
    """NULL/empty documents must have no signature and no candidacy —
    without the filter they all share one degenerate shingle and the
    banded join goes quadratic in their count."""
    from mex_extractors_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
        simhash_signatures,
    )

    rows = [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
            (3, None), (4, ""), (5, None), (6, ""), (7, "   ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(df, "text", "doc_id")
    assert {r["_id"] for r in sigs.collect()} <= {1, 2, 7}  # no null/empty
    cands = minhash_lsh_candidates(df, "text", "doc_id")
    pairs = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (3, 5) not in pairs and (4, 6) not in pairs
    assert (1, 2) in pairs  # real duplicates still found
    ssigs = simhash_signatures(df, "text", "doc_id")
    assert {r["_id"] for r in ssigs.collect()} == {1, 2}  # blank-only drops too
