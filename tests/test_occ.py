"""Multi-writer optimistic concurrency on the LakeTable commit path.

The reference's load stage is single-writer (mex-extractors runs one
`dagster` job per sink — see reference `mex/extractors/pipeline`); at
10^10-event scale several ingest jobs share one table, so the engine
implements Iceberg's optimistic commit protocol instead: every commit
CAS-creates a claim keyed on (ref, parent) — one child per parent —
and a loser validates the new head and rebases (metadata-only, the
data files are attempt-unique) when the intervening commits touched
disjoint buckets.

Deterministic interleaving: ``_write_bucketed`` is wrapped on one
writer instance so a SECOND writer commits between the first writer's
head read and its publish — the exact stale-base window a real
concurrent job hits.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mex_extractors_spark.lake.table import CommitConflict, LakeTable

SCH = "repo string, path string, seq long, op string, content string"


def _rows(spark, items):
    return spark.createDataFrame(
        [(r, p, s, o, c) for (r, p, s, o, c) in items], SCH
    )


def _keys_by_bucket(spark, table, n=40):
    """Probe (repo, path) keys into the table's own bucket function so
    tests can build guaranteed-disjoint / guaranteed-overlapping
    batches."""
    cand = spark.createDataFrame(
        [("r", f"p{i}") for i in range(n)], "repo string, path string"
    )
    out: dict[int, list[tuple[str, str]]] = {}
    for r in cand.withColumn("b", table._bucket_expr()).collect():
        out.setdefault(int(r["b"]), []).append((r["repo"], r["path"]))
    return out


def _interleave(writer: LakeTable, hook):
    """Run ``hook()`` after ``writer`` has read its base head but before
    it publishes — right after its data files hit storage."""
    orig = writer._write_bucketed
    fired = {"n": 0}

    def wrapper(spark, merged, out_dir, *args, **kwargs):
        orig(spark, merged, out_dir, *args, **kwargs)
        if fired["n"] == 0:
            fired["n"] = 1
            hook()

    writer._write_bucketed = wrapper
    return fired


def test_disjoint_concurrent_writers_both_commit(spark, tmp_path):
    """Two writers, disjoint buckets: the CAS loser rebases onto the
    winner's head and commits — both batches land, chain stays linear,
    watermarks and state merge exactly."""
    path = str(tmp_path / "lake")
    a, b = LakeTable(path, num_buckets=2), LakeTable(path, num_buckets=2)
    buckets = _keys_by_bucket(spark, a)
    assert len(buckets) == 2, "probe produced a single bucket — widen n"
    k0, k1 = buckets[0][0], buckets[1][0]

    _interleave(
        b,
        lambda: a.apply_batch(
            spark, _rows(spark, [(k0[0], k0[1], 10, "U", "from-a")]), "batch-a"
        ),
    )
    st = b.apply_batch(
        spark, _rows(spark, [(k1[0], k1[1], 11, "U", "from-b")]), "batch-b"
    )
    assert st.applied

    head = LakeTable(path).current_snapshot()
    assert {"batch-a", "batch-b"} <= set(head["applied_batches"])
    # linear chain: b's commit parents a's
    parent = head["parent"]
    assert LakeTable(path).snapshot_at(parent)["applied_batches"][-1] == "batch-a"
    got = {
        (r.repo, r.path, r.content) for r in LakeTable(path).read(spark).collect()
    }
    assert got == {(*k0, "from-a"), (*k1, "from-b")}
    wm = head["watermarks"]
    assert {int(v) for v in wm.values()} == {10, 11}


def test_overlapping_concurrent_writers_conflict(spark, tmp_path):
    """Two writers into the SAME bucket: the loser must not rebase (its
    merge was computed against a stale bucket state) — it raises, the
    winner's commit is intact, and the loser's attempt files are gone."""
    path = str(tmp_path / "lake")
    a, b = LakeTable(path, num_buckets=2), LakeTable(path, num_buckets=2)
    k = _keys_by_bucket(spark, a)[0][0]

    _interleave(
        b,
        lambda: a.apply_batch(
            spark, _rows(spark, [(k[0], k[1], 10, "U", "winner")]), "batch-a"
        ),
    )
    with pytest.raises(CommitConflict, match="overlapping writers"):
        b.apply_batch(
            spark, _rows(spark, [(k[0], k[1], 11, "U", "loser")]), "batch-b"
        )
    t = LakeTable(path)
    head = t.current_snapshot()
    assert head["applied_batches"] == ["batch-a"]
    assert [(r.repo, r.path, r.content) for r in t.read(spark).collect()] == [
        (k[0], k[1], "winner")
    ]
    # the loser's attempt dir was reclaimed; only referenced data remains
    referenced = {
        f for m in head["buckets"].values() for f in m["files"]
    }
    on_disk = {
        os.path.relpath(os.path.join(dp, f), t.path)
        for dp, _, fs in os.walk(t.data_dir)
        for f in fs
        if f.endswith(".parquet")
    }
    assert on_disk == referenced


def test_twin_writer_duplicate_batch_is_noop(spark, tmp_path):
    """A double-started job replaying the SAME batch: the loser finds
    its batch id already applied on the new head and returns
    applied=False — exactly-once across writers, not just restarts."""
    path = str(tmp_path / "lake")
    a, b = LakeTable(path, num_buckets=2), LakeTable(path, num_buckets=2)
    k = _keys_by_bucket(spark, a)[0][0]
    batch = [(k[0], k[1], 10, "U", "same")]

    _interleave(b, lambda: a.apply_batch(spark, _rows(spark, batch), "batch-x"))
    st = b.apply_batch(spark, _rows(spark, batch), "batch-x")
    assert not st.applied
    t = LakeTable(path)
    assert t.current_snapshot()["applied_batches"] == ["batch-x"]
    assert t.read(spark).count() == 1


def test_pointer_lag_heals_on_read(spark, tmp_path):
    """A writer that crashed between the commit claim and the pointer
    swap: the claim chain is the truth — readers heal forward (without
    writing: reads stay pure for read-only consumers and cannot race a
    rollback), and the pointer catches up at the next commit."""
    path = str(tmp_path / "lake")
    t = LakeTable(path, num_buckets=2)
    t.apply_batch(spark, _rows(spark, [("r", "p1", 1, "U", "a")]), "b1")
    v1 = t.current_snapshot()["version"]

    # crash window: publish WITHOUT the pointer swap
    orig = t._write_ref
    t._write_ref = lambda p, v: None
    try:
        t.apply_batch(spark, _rows(spark, [("r", "p1", 2, "U", "b")]), "b2")
    finally:
        t._write_ref = orig
    cur_file = os.path.join(t.ledger_dir, "CURRENT")
    with open(cur_file) as fh:
        assert int(fh.read()) == v1  # pointer genuinely lagged

    fresh = LakeTable(path)
    head = fresh.current_snapshot()
    assert head["applied_batches"] == ["b1", "b2"]  # healed
    with open(cur_file) as fh:
        assert int(fh.read()) == v1  # reads are pure: pointer untouched
    assert [r.content for r in fresh.read(spark).collect()] == ["b"]

    # the next commit parents the HEALED head and repairs the pointer
    fresh.apply_batch(spark, _rows(spark, [("r", "p1", 3, "U", "c")]), "b3")
    assert fresh.current_snapshot()["parent"] == head["version"]
    with open(cur_file) as fh:
        assert int(fh.read()) == fresh.current_snapshot()["version"]

    # extreme case: CURRENT missing entirely — the chain from v0 resolves
    os.remove(cur_file)
    assert LakeTable(path).current_snapshot()["applied_batches"] == [
        "b1",
        "b2",
        "b3",
    ]


def test_rollback_drops_claims_no_resurrection(spark, tmp_path):
    """rollback_to must delete the rolled-back claim edges, or the next
    read's crash-healing would resurrect the abandoned commits."""
    path = str(tmp_path / "lake")
    t = LakeTable(path, num_buckets=2)
    t.apply_batch(spark, _rows(spark, [("r", "p1", 1, "U", "v1")]), "b1")
    v1 = t.current_snapshot()["version"]
    t.apply_batch(spark, _rows(spark, [("r", "p1", 2, "U", "v2")]), "b2")
    t.apply_batch(spark, _rows(spark, [("r", "p1", 3, "U", "v3")]), "b3")

    t.rollback_to(v1)
    fresh = LakeTable(path)
    assert fresh.current_snapshot()["version"] == v1
    assert [r.content for r in fresh.read(spark).collect()] == ["v1"]

    # the re-applied events converge, and the new chain claims from v1
    fresh.apply_batch(spark, _rows(spark, [("r", "p1", 2, "U", "v2b")]), "b2b")
    again = LakeTable(path)
    assert again.current_snapshot()["parent"] == v1
    assert [r.content for r in again.read(spark).collect()] == ["v2b"]


def test_noop_commit_rebases(spark, tmp_path):
    """A fully-fenced (bookkeeping-only) batch that loses the commit
    race rebases unconditionally — batch-id accounting never conflicts."""
    path = str(tmp_path / "lake")
    a, b = LakeTable(path, num_buckets=2), LakeTable(path, num_buckets=2)
    b.apply_batch(spark, _rows(spark, [("r", "p1", 5, "U", "x")]), "b1")

    # b's next batch is pure redelivery (seq <= watermark) -> no-op path;
    # a commits in between via the same write hook? the no-op path never
    # writes data, so interleave on _publish instead: publish once under
    # a stale head by committing a's batch right before.
    orig_publish = b._publish
    fired = {"n": 0}

    def wrapper(snapshot, ref=None):
        if fired["n"] == 0:
            fired["n"] = 1
            a.apply_batch(
                spark, _rows(spark, [("r", "p9", 6, "U", "mid")]), "batch-mid"
            )
        orig_publish(snapshot, ref)

    b._publish = wrapper
    st = b.apply_batch(spark, _rows(spark, [("r", "p1", 5, "U", "x")]), "b-noop")
    assert st.applied and st.events_fenced == 1
    head = LakeTable(path).current_snapshot()
    assert {"b1", "batch-mid", "b-noop"} <= set(head["applied_batches"])


def test_schema_evolution_rebase(spark, tmp_path):
    """The rebase re-registers the written schema against the NEW head:
    an intervening commit that evolved the schema on other buckets and
    a rebased commit adding its own column both survive, and the merged
    read schema carries every column."""
    path = str(tmp_path / "lake")
    a, b = LakeTable(path, num_buckets=2), LakeTable(path, num_buckets=2)
    buckets = _keys_by_bucket(spark, a)
    k0, k1 = buckets[0][0], buckets[1][0]
    base = "repo string, path string, seq long, op string, content string"
    a.apply_batch(
        spark,
        spark.createDataFrame([(k0[0], k0[1], 1, "U", "c0")], base),
        "seed",
    )

    wide_a = base + ", lang string"
    wide_b = base + ", stars long"
    _interleave(
        b,
        lambda: a.apply_batch(
            spark,
            spark.createDataFrame([(k0[0], k0[1], 2, "U", "c0", "py")], wide_a),
            "evolve-a",
        ),
    )
    st = b.apply_batch(
        spark,
        spark.createDataFrame([(k1[0], k1[1], 3, "U", "c1", 7)], wide_b),
        "evolve-b",
    )
    assert st.applied

    t = LakeTable(path)
    got = {
        (r.repo, r.path, r.content, r.lang, r.stars)
        for r in t.read(spark)
        .select("repo", "path", "content", "lang", "stars")
        .collect()
    }
    assert got == {(*k0, "c0", "py", None), (*k1, "c1", None, 7)}
    # the head schema registry holds both widened shapes plus the union
    head = t.current_snapshot()
    union = set(
        f["name"]
        for f in head["schemas"][str(head["schema_version"])]["fields"]
    )
    assert {"lang", "stars"} <= union


def test_fast_forward_claim_and_missing_pointer_heal(spark, tmp_path):
    """fast_forward claims its jump on main's chain, so head healing
    can rebuild main across the jump from nothing but claim files."""
    path = str(tmp_path / "lake")
    t = LakeTable(path, num_buckets=2)
    t.apply_batch(spark, _rows(spark, [("r", "p1", 1, "U", "m1")]), "b1")
    t.create_branch("audit")
    t.apply_batch(
        spark, _rows(spark, [("r", "p2", 2, "U", "s1")]), "b2", branch="audit"
    )
    head = t.fast_forward("audit")

    os.remove(os.path.join(t.ledger_dir, "CURRENT"))
    healed = LakeTable(path).current_snapshot()
    assert healed["version"] == head
    assert {r.content for r in LakeTable(path).read(spark).collect()} == {
        "m1",
        "s1",
    }


def test_version_collision_without_head_change_retries(spark, tmp_path):
    """A pre-created snapshot file for the computed version (version
    collision with no new head — e.g. an abandoned branch commit) is
    not a semantic conflict: the writer re-versions and commits."""
    path = str(tmp_path / "lake")
    t = LakeTable(path, num_buckets=2)
    t.apply_batch(spark, _rows(spark, [("r", "p1", 1, "U", "a")]), "b1")
    nxt = t._next_version()
    # occupy the version number without extending the chain
    with open(os.path.join(t.ledger_dir, f"v{nxt:08d}.json"), "w") as fh:
        fh.write("{}")
    st = t.apply_batch(spark, _rows(spark, [("r", "p1", 2, "U", "b")]), "b2")
    assert st.applied
    head = LakeTable(path).current_snapshot()
    assert head["version"] == nxt + 1 and "b2" in head["applied_batches"]


def test_drop_branch_removes_claims_for_reuse(spark, tmp_path):
    """Recreating a dropped branch name must not heal forward over the
    dropped branch's stale claim edges (resurrection), nor be blocked
    from committing by them (permanent CommitConflict)."""
    path = str(tmp_path / "lake")
    t = LakeTable(path, num_buckets=2)
    t.apply_batch(spark, _rows(spark, [("r", "p1", 1, "U", "m1")]), "b1")
    t.create_branch("dev")
    t.apply_batch(
        spark, _rows(spark, [("r", "p2", 2, "U", "old-dev")]), "bd1", branch="dev"
    )
    t.drop_branch("dev")

    t.create_branch("dev")  # same name, forked at main head again
    # the recreated branch resolves to the fork point, not the dropped commit
    assert t.refs()["dev"] == t.current_snapshot()["version"]
    assert {r.content for r in t.read(spark, ref="dev").collect()} == {"m1"}
    # and it can commit (the stale claim would have blocked this forever)
    st = t.apply_batch(
        spark, _rows(spark, [("r", "p3", 3, "U", "new-dev")]), "bd2", branch="dev"
    )
    assert st.applied
    assert {r.content for r in t.read(spark, ref="dev").collect()} == {
        "m1",
        "new-dev",
    }


def test_claim_cas_loss_leaves_no_phantom_snapshot(spark, tmp_path):
    """A writer that loses the claim CAS (not the version CAS) must not
    leave its unclaimed snapshot file behind — history()/time-travel
    would otherwise list a commit that never happened."""
    path = str(tmp_path / "lake")
    a, b = LakeTable(path, num_buckets=2), LakeTable(path, num_buckets=2)
    k0 = _keys_by_bucket(spark, a)[0][0]
    buckets = _keys_by_bucket(spark, a)
    k1 = buckets[1][0] if 1 in buckets else buckets[0][1]

    # force b's version PAST the collision so only the claim CAS races:
    # b computes versions with a +1 offset, a commits in between
    orig_next = b._next_version
    b._next_version = lambda: orig_next() + 1
    _interleave(
        b,
        lambda: a.apply_batch(
            spark, _rows(spark, [(k0[0], k0[1], 10, "U", "from-a")]), "batch-a"
        ),
    )
    st = b.apply_batch(
        spark, _rows(spark, [(k1[0], k1[1], 11, "U", "from-b")]), "batch-b"
    )
    assert st.applied and st.commit_attempts > 1
    t = LakeTable(path)
    # every ledger snapshot lies on the main parent chain — no phantoms
    head = t.current_snapshot()
    chain = set()
    v = head["version"]
    while v:
        chain.add(v)
        s = t.snapshot_at(v)
        v = (s["parent"] or 0) if s else 0
    import re as _re

    on_disk = {
        int(m.group(1))
        for f in os.listdir(t.ledger_dir)
        if (m := _re.fullmatch(r"v(\d{8})\.json", f))
    }
    assert on_disk == chain


def test_state_audits_reject_bucket_partitioned_replay(spark, tmp_path):
    """WAP state audits validate global state through fast_forward,
    which cannot rebase — combining them with parallel bucket ownership
    is a contract error, not a latent crash."""
    import pytest as _pytest

    from mex_extractors_spark.streaming.replay import ReplayEngine

    t = LakeTable(str(tmp_path / "lake"), num_buckets=2)
    eng = ReplayEngine(t, state_audits=[lambda df: None])
    ev = _rows(spark, [("r", "p1", 1, "U", "x")])
    with _pytest.raises(ValueError, match="state_audits"):
        eng.replay(spark, ev, 1, 1, batch_size=1, buckets=[0])


def test_mor_delta_append_rebases(spark, tmp_path):
    """Merge-on-read commits rebase too: the delta group computed
    against the base appends verbatim onto the new head's bucket meta
    (validated sig-equal), and the delta-merging read sees both
    writers' rows."""
    path = str(tmp_path / "lake")
    a = LakeTable(path, num_buckets=2, merge_mode="mor")
    b = LakeTable(path, num_buckets=2, merge_mode="mor")
    buckets = _keys_by_bucket(spark, a)
    k0, k1 = buckets[0][0], buckets[1][0]
    # seed both buckets so the mor append lands on existing bases
    a.apply_batch(
        spark,
        _rows(spark, [(k0[0], k0[1], 1, "U", "s0"), (k1[0], k1[1], 2, "U", "s1")]),
        "seed",
        mode="cow",
    )

    _interleave(
        b,
        lambda: a.apply_batch(
            spark, _rows(spark, [(k0[0], k0[1], 10, "U", "a-delta")]), "ma"
        ),
    )
    st = b.apply_batch(
        spark, _rows(spark, [(k1[0], k1[1], 11, "U", "b-delta")]), "mb"
    )
    assert st.applied and st.mode == "mor" and st.commit_attempts > 1

    t = LakeTable(path)
    head = t.current_snapshot()
    # each writer's delta group landed on ITS bucket of the rebased head
    deltas_per_bucket = {
        bk: len(m.get("deltas", [])) for bk, m in head["buckets"].items()
    }
    assert deltas_per_bucket == {"0": 1, "1": 1}
    got = {(r.repo, r.path, r.content) for r in t.read(spark).collect()}
    assert got == {(*k0, "a-delta"), (*k1, "b-delta")}
    # compaction folds both writers' deltas and preserves the state
    t.compact(spark)
    assert {
        (r.repo, r.path, r.content) for r in t.read(spark).collect()
    } == got


def _maintenance_setup(spark, path):
    """An ingest handle and a maintenance handle on one table whose
    bucket 1 carries a pending merge-on-read delta: ``compact()`` and
    ``delete_where(path = k1)`` both rewrite bucket 1 alone."""
    ingest = LakeTable(path, num_buckets=2)
    maint = LakeTable(path, num_buckets=2)
    buckets = _keys_by_bucket(spark, ingest)
    k0, k1 = buckets[0][0], buckets[1][0]
    ingest.apply_batch(
        spark,
        _rows(spark, [(k0[0], k0[1], 1, "U", "s0"), (k1[0], k1[1], 2, "U", "s1")]),
        "seed",
    )
    ingest.apply_batch(
        spark, _rows(spark, [(k1[0], k1[1], 3, "U", "d1")]), "delta", mode="mor"
    )
    return ingest, maint, k0, k1


def _run_maintenance(spark, maint, op, k1):
    if op == "compact":
        return maint.compact(spark)
    return maint.delete_where(spark, [("path", "=", k1[1])], "purge").version


@pytest.mark.parametrize("op", ["compact", "delete_where"])
def test_maintenance_rebases_over_disjoint_apply(spark, tmp_path, op):
    """A compaction or a DML commit whose rewritten bucket no concurrent
    commit touched rebases onto the new head like ingest does: an
    apply_batch into another bucket that lands between the maintenance
    write and its publish is kept, and the chain stays linear."""
    path = str(tmp_path / "lake")
    ingest, maint, k0, k1 = _maintenance_setup(spark, path)
    before = maint.current_snapshot()["version"]
    _interleave(
        maint,
        lambda: ingest.apply_batch(
            spark, _rows(spark, [(k0[0], k0[1], 10, "U", "mid")]), "mid"
        ),
    )
    version = _run_maintenance(spark, maint, op, k1)

    t = LakeTable(path)
    head = t.current_snapshot()
    assert head["version"] == version
    mid = t.snapshot_at(head["parent"])
    assert mid["applied_batches"][-1] == "mid" and mid["parent"] == before
    got = {(r.repo, r.path, r.content) for r in t.read(spark).collect()}
    if op == "compact":
        assert got == {(*k0, "mid"), (*k1, "d1")}
        assert not any(m.get("deltas") for m in head["buckets"].values())
    else:
        assert got == {(*k0, "mid")}
        assert head["dml"]["op"] == "delete" and "purge" in head["applied_batches"]
    assert t.verify_bucket_checksums(spark) == []


@pytest.mark.parametrize("op", ["compact", "delete_where"])
def test_maintenance_conflicts_on_overlapping_apply(spark, tmp_path, op):
    """When the concurrent apply_batch lands in the bucket the
    maintenance commit rewrote, the maintenance commit must not rebase
    (its files embed the old bucket state): it raises, the winner's
    commit is intact, and the loser's attempt dir is gone."""
    path = str(tmp_path / "lake")
    ingest, maint, k0, k1 = _maintenance_setup(spark, path)
    _interleave(
        maint,
        lambda: ingest.apply_batch(
            spark, _rows(spark, [(k1[0], k1[1], 10, "U", "winner")]), "mid"
        ),
    )
    with pytest.raises(CommitConflict, match="overlapping writers"):
        _run_maintenance(spark, maint, op, k1)

    t = LakeTable(path)
    assert t.current_snapshot()["applied_batches"][-1] == "mid"
    got = {(r.repo, r.path, r.content) for r in t.read(spark).collect()}
    assert got == {(*k0, "s0"), (*k1, "winner")}
    # every data dir on disk is referenced by a retained snapshot: the
    # loser's attempt dir was removed at the conflict
    referenced = {
        f.split(os.sep)[1]
        for v in t._versions()
        for m in t.snapshot_at(v)["buckets"].values()
        for f in [*m["files"], *(g for d in m.get("deltas", []) for g in d["files"])]
    }
    assert set(os.listdir(t.data_dir)) == referenced
