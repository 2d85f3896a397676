"""Multi-table atomic commits (lake/catalog.py): staging on txn
branches, single-CAS catalog publish, snapshot-isolated reads,
conflict/abort/crash behavior."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mex_extractors_spark.lake.catalog import LakeCatalog
from mex_extractors_spark.lake.table import CommitConflict, LakeTable


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, seq long, op string, content string"
    )


def _counts(spark, rows):
    return spark.createDataFrame(rows, "lang string, seq long, op string, n long")


@pytest.fixture()
def cat(tmp_path):
    c = LakeCatalog(str(tmp_path / "lake"))
    c.register("state", LakeTable(str(tmp_path / "lake/state"), num_buckets=4))
    c.register(
        "stats",
        LakeTable(str(tmp_path / "lake/stats"), key_cols=["lang"], num_buckets=2),
    )
    return c


def test_transaction_commits_both_tables_atomically(spark, cat):
    with cat.transaction() as txn:
        txn.apply_batch(
            spark, "state", _mk(spark, [("r1", "a.py", 1, "U", "x")]), "b1"
        )
        txn.apply_batch(spark, "stats", _counts(spark, [("py", 1, "U", 1)]), "s1")
        snap = txn.commit()
    assert snap["version"] == 1
    assert set(snap["tables"]) == {"state", "stats"}
    assert cat.read(spark, "state").count() == 1
    assert cat.read(spark, "stats").collect()[0].n == 1
    # housekeeping: mains fast-forwarded, txn branches dropped
    assert cat.table("state").current_snapshot()["version"] == snap["tables"]["state"]
    assert cat.table("state").refs() == {} and cat.table("stats").refs() == {}


def test_staged_but_uncommitted_is_invisible_and_aborted(spark, cat):
    with cat.transaction() as txn:
        txn.apply_batch(spark, "state", _mk(spark, [("r1", "a", 1, "U", "x")]), "b1")
        txn.commit()
    v_before = cat.current_snapshot()["version"]

    class Boom(RuntimeError):
        pass

    with pytest.raises(Boom):
        with cat.transaction() as txn2:
            txn2.apply_batch(
                spark, "state", _mk(spark, [("r1", "a", 2, "U", "CRASH")]), "b2"
            )
            txn2.apply_batch(spark, "stats", _counts(spark, [("py", 1, "U", 9)]), "s2")
            raise Boom()  # crash between staging and commit
    # catalog unchanged; reads see the old world; branches cleaned up
    assert cat.current_snapshot()["version"] == v_before
    assert [r.content for r in cat.read(spark, "state").collect()] == ["x"]
    with pytest.raises(ValueError):
        cat.read(spark, "stats")  # never committed a pin
    assert cat.table("state").refs() == {}
    # main never advanced either
    assert cat.table("state").read(spark).collect()[0].content == "x"


def test_concurrent_transactions_conflict_then_retry(spark, cat):
    t1 = cat.transaction()
    t2 = cat.transaction()
    t1.apply_batch(spark, "state", _mk(spark, [("r1", "a", 1, "U", "one")]), "b1")
    t2.apply_batch(spark, "state", _mk(spark, [("r2", "b", 2, "U", "two")]), "b2")
    t1.commit()
    with pytest.raises(CommitConflict):
        t2.commit()
    t2.abort()
    # retry on the new head succeeds and sees t1's world as its base
    t3 = cat.transaction()
    t3.apply_batch(spark, "state", _mk(spark, [("r2", "b", 2, "U", "two")]), "b2")
    t3.commit()
    got = {(r.repo, r.content) for r in cat.read(spark, "state").collect()}
    assert got == {("r1", "one"), ("r2", "two")}


def test_snapshot_isolated_multi_table_reads(spark, cat):
    with cat.transaction() as t1:
        t1.apply_batch(spark, "state", _mk(spark, [("r1", "a", 1, "U", "v1")]), "b1")
        t1.apply_batch(spark, "stats", _counts(spark, [("py", 1, "U", 1)]), "s1")
        t1.commit()
    pinned = cat.current_snapshot()["version"]
    with cat.transaction() as t2:
        t2.apply_batch(spark, "state", _mk(spark, [("r1", "a", 2, "U", "v2")]), "b2")
        t2.apply_batch(spark, "stats", _counts(spark, [("py", 2, "U", 2)]), "s2")
        t2.commit()
    # a reader pinned to the OLD catalog snapshot sees the old versions
    # of BOTH tables — never v2 state next to n=1 stats or vice versa
    assert cat.read(spark, "state", catalog_version=pinned).collect()[0].content == "v1"
    assert cat.read(spark, "stats", catalog_version=pinned).collect()[0].n == 1
    assert cat.read(spark, "state").collect()[0].content == "v2"
    assert cat.read(spark, "stats").collect()[0].n == 2


def test_idempotent_batch_inside_transaction(spark, cat):
    with cat.transaction() as t1:
        t1.apply_batch(spark, "state", _mk(spark, [("r1", "a", 1, "U", "x")]), "b1")
        t1.commit()
    # redelivering the same batch id stages a no-op; commit still works
    with cat.transaction() as t2:
        st = t2.apply_batch(spark, "state", _mk(spark, [("r1", "a", 1, "U", "x")]), "b1")
        assert not st.applied
        t2.commit()
    assert cat.read(spark, "state").count() == 1


def _commit_n_txns(spark, cat, n):
    for i in range(1, n + 1):
        with cat.transaction() as txn:
            txn.apply_batch(
                spark, "state", _mk(spark, [("r1", "a", i, "U", f"v{i}")]), f"b{i}"
            )
            txn.commit()


def test_catalog_maintenance_keeps_retained_pins_readable(spark, cat):
    _commit_n_txns(spark, cat, 4)
    res = cat.maintenance(spark, keep_catalog_snapshots=2, keep_table_snapshots=1)
    assert res["catalog_snapshots_expired"] == 2
    # the retained older catalog snapshot (version 3) still resolves,
    # even though table-level keep_last=1 alone would have expired its pin
    assert cat.read(spark, "state", catalog_version=3).collect()[0].content == "v3"
    assert cat.read(spark, "state", catalog_version=4).collect()[0].content == "v4"
    # the expired catalog snapshots are really gone
    with pytest.raises(ValueError):
        cat.pins(1)
    with pytest.raises(ValueError):
        cat.pins(2)


def test_bare_table_expiry_would_wedge_catalog_reads(spark, cat):
    """The hazard catalog.maintenance exists to prevent: expiring a
    catalog-managed table directly drops versions the catalog still
    pins."""
    _commit_n_txns(spark, cat, 3)
    cat.table("state").expire_snapshots(keep_last=1)
    assert cat.read(spark, "state").collect()[0].content == "v3"  # head ok
    with pytest.raises(ValueError):
        cat.read(spark, "state", catalog_version=2).collect()


def test_maintenance_reclaims_aborted_stage(spark, cat, tmp_path):
    """An aborted transaction's staged snapshot + data files are
    unreferenced once its branch is dropped; maintenance removes them."""
    _commit_n_txns(spark, cat, 1)
    txn = cat.transaction()
    txn.apply_batch(spark, "state", _mk(spark, [("rX", "zz", 9, "U", "junk")]), "bX")
    staged_version = cat.table("state").refs()[f"txn-{txn.txn_id}"]
    txn.abort()
    assert cat.table("state").snapshot_at(staged_version) is not None
    cat.maintenance(spark, keep_catalog_snapshots=3, keep_table_snapshots=3)
    assert cat.table("state").snapshot_at(staged_version) is None
    assert cat.read(spark, "state").count() == 1  # committed state intact


@pytest.fixture()
def cat_idx(tmp_path):
    """Catalog with a text-bearing state table + its inverted index +
    a per-lang derived view."""
    c = LakeCatalog(str(tmp_path / "lake"))
    c.register(
        "state",
        LakeTable(str(tmp_path / "lake/state"), key_cols=["repo", "path"],
                  num_buckets=4),
    )
    c.register(
        "index",
        LakeTable(str(tmp_path / "lake/index"),
                  key_cols=["term", "repo", "path"],
                  seq_col="_src_version", num_buckets=4),
    )
    c.register(
        "by_lang",
        LakeTable(str(tmp_path / "lake/by_lang"), key_cols=["lang"],
                  num_buckets=2),
    )
    return c


def _mk_txt(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, seq long, lang string, "
        "text string, op string"
    )


def _terms(df):
    from mex_extractors_spark.lake.index import default_terms

    return default_terms("text")


def test_txn_state_index_view_move_atomically(spark, cat_idx):
    """State apply + inverted-index refresh + derived-view refresh in
    ONE transaction: after commit all three agree; an aborted follow-up
    touches none of them."""
    from mex_extractors_spark.lake.index import full_index

    with cat_idx.transaction() as t1:
        t1.apply_batch(
            spark, "state",
            _mk_txt(spark, [
                ("r1", "a.py", 1, "py", "alpha beta", "U"),
                ("r2", "b.py", 2, "py", "beta gamma", "U"),
                ("r3", "c.rs", 3, "rs", "delta", "U"),
            ]),
            "b1",
        )
        st_idx = t1.refresh_index(spark, "state", "index", _terms)
        st_view = t1.refresh_view(spark, "state", "by_lang", ["lang"])
        assert st_idx.applied and st_view.applied
        snap = t1.commit()
    assert set(snap["tables"]) == {"state", "index", "by_lang"}
    pinned = snap["version"]
    idx = sorted(
        tuple(r) for r in cat_idx.read(spark, "index", catalog_version=pinned)
        .select("term", "repo", "path").collect()
    )
    oracle = sorted(
        tuple(r)
        for r in full_index(spark, cat_idx.table("state"), _terms).collect()
    )
    assert idx == oracle and len(idx) == 5
    by_lang = {r.lang: r.cnt for r in cat_idx.read(spark, "by_lang").collect()}
    assert by_lang == {"py": 2, "rs": 1}

    # an update + delete batch staged with refreshes, then ABORTED:
    # state, index and view all stay at the committed world
    txn = cat_idx.transaction()
    txn.apply_batch(
        spark, "state",
        _mk_txt(spark, [
            ("r1", "a.py", 4, "py", "alpha OMEGA", "U"),
            ("r3", "c.rs", 5, "rs", None, "D"),
        ]),
        "b2",
    )
    txn.refresh_index(spark, "state", "index", _terms)
    txn.refresh_view(spark, "state", "by_lang", ["lang"])
    txn.abort()
    assert sorted(
        tuple(r) for r in cat_idx.read(spark, "index")
        .select("term", "repo", "path").collect()
    ) == idx
    assert {r.lang: r.cnt for r in cat_idx.read(spark, "by_lang").collect()} == by_lang

    # same batch re-staged and committed: index diff + view retraction land
    with cat_idx.transaction() as t3:
        t3.apply_batch(
            spark, "state",
            _mk_txt(spark, [
                ("r1", "a.py", 4, "py", "alpha OMEGA", "U"),
                ("r3", "c.rs", 5, "rs", None, "D"),
            ]),
            "b2",
        )
        t3.refresh_index(spark, "state", "index", _terms)
        t3.refresh_view(spark, "state", "by_lang", ["lang"])
        t3.commit()
    idx2 = sorted(
        tuple(r) for r in cat_idx.read(spark, "index")
        .select("term", "repo", "path").collect()
    )
    oracle2 = sorted(
        tuple(r)
        for r in full_index(spark, cat_idx.table("state"), _terms).collect()
    )
    assert idx2 == oracle2
    assert ("omega", "r1", "a.py") not in idx2  # terms are raw tokens
    assert ("OMEGA", "r1", "a.py") in idx2
    assert ("beta", "r1", "a.py") not in idx2  # removed by the update diff
    assert ("delta", "r3", "c.rs") not in idx2  # delete retracted its terms
    # "rs" count reached 0 -> the group is deleted from the view
    assert {r.lang: r.cnt for r in cat_idx.read(spark, "by_lang").collect()} == {
        "py": 2,
    }


def test_replay_into_catalog_crash_resume_converges(spark, cat_idx):
    """Catalog-level micro-batch replay with an index companion: a crash
    inside batch 2 aborts the whole transaction (state AND index), the
    re-run skips batch 1 as pure redelivery (no catalog advance) and
    lands batch 2 — final index equals the from-scratch oracle."""
    from mex_extractors_spark.lake.catalog import replay_into_catalog
    from mex_extractors_spark.lake.index import full_index

    ev = _mk_txt(spark, [
        ("r1", "a.py", 1, "py", "alpha beta", "U"),
        ("r2", "b.py", 2, "py", "beta gamma", "U"),
        ("r1", "a.py", 3, "py", "alpha omega", "U"),
        ("r2", "b.py", 4, "py", None, "D"),
    ])
    idx_companion = lambda s, t: t.refresh_index(s, "state", "index", _terms)  # noqa: E731

    class Boom(RuntimeError):
        pass

    calls = {"n": 0}

    def crashing_companion(s, t):
        calls["n"] += 1
        if calls["n"] == 2:  # die inside batch 2, after state is staged
            raise Boom()
        return idx_companion(s, t)

    with pytest.raises(Boom):
        replay_into_catalog(
            spark, cat_idx, "state", ev, 1, 4, 2,
            companions=[crashing_companion],
        )
    v_after_crash = cat_idx.current_snapshot()["version"]
    assert cat_idx.read(spark, "state").count() == 2  # batch 1 only
    # resume: batch 1 is a no-op redelivery (abort, no catalog bump)
    res = replay_into_catalog(
        spark, cat_idx, "state", ev, 1, 4, 2, companions=[idx_companion]
    )
    assert res[0]["catalog_version"] is None and not res[0]["stats"].applied
    assert res[1]["catalog_version"] == v_after_crash + 1
    idx = sorted(
        tuple(r) for r in cat_idx.read(spark, "index")
        .select("term", "repo", "path").collect()
    )
    oracle = sorted(
        tuple(r)
        for r in full_index(spark, cat_idx.table("state"), _terms).collect()
    )
    assert idx == oracle
    assert {r.path for r in cat_idx.read(spark, "state").collect()} == {"a.py"}
    # a full third replay is a pure no-op: catalog version unchanged
    res2 = replay_into_catalog(
        spark, cat_idx, "state", ev, 1, 4, 2, companions=[idx_companion]
    )
    assert all(r["catalog_version"] is None for r in res2)
    assert cat_idx.current_snapshot()["version"] == v_after_crash + 1


def test_commit_survives_out_of_band_main_write(spark, cat):
    """A writer that commits to a table's MAIN outside the catalog while
    a transaction is in flight: the catalog commit still lands (pins
    reference immutable staged versions), housekeeping's fast-forward is
    skipped on conflict, and catalog reads keep seeing the txn's world."""
    _mk_state = lambda c, s: _mk(spark, [("r1", "a", s, "U", c)])  # noqa: E731
    with cat.transaction() as t0:
        t0.apply_batch(spark, "state", _mk_state("base", 1), "b0")
        t0.commit()
    txn = cat.transaction()
    txn.apply_batch(spark, "state", _mk_state("txn", 2), "b1")
    # out-of-band direct write to main (not through the catalog)
    cat.table("state").apply_batch(spark, _mk_state("oob", 3), "b-oob")
    snap = txn.commit()  # must not raise
    # catalog view = txn's staged world (seq 2), isolated from the oob write
    assert cat.read(spark, "state").collect()[0].content == "txn"
    # the txn branch was kept (fast-forward conflicted) so its pinned
    # snapshot stays referenced even without extra_keep
    assert f"txn-{txn.txn_id}" in cat.table("state").refs()
    # table main converged on the oob writer's LWW state instead
    assert cat.table("state").read(spark).collect()[0].content == "oob"
    # the next transaction forks from the CATALOG pin, not the diverged main
    with cat.transaction() as t2:
        assert t2.head("state") == snap["tables"]["state"]
        t2.apply_batch(spark, "state", _mk_state("next", 4), "b2")
        t2.commit()
    assert cat.read(spark, "state").collect()[0].content == "next"


def test_transaction_fences_and_evolves_like_plain_apply(spark, cat):
    """Staging uses the FULL apply path: fencing and schema evolution
    behave exactly as on main."""
    with cat.transaction() as t1:
        t1.apply_batch(spark, "state", _mk(spark, [("r1", "a", 5, "U", "x")]), "b1")
        t1.commit()
    with cat.transaction() as t2:
        batch = spark.createDataFrame(
            [("r1", "a", 3, "U", "stale", None), ("r1", "b", 9, "U", "new", "py")],
            "repo string, path string, seq long, op string, content string, lang string",
        )
        st = t2.apply_batch(spark, "state", batch, "b2")
        assert st.events_fenced == 1  # seq 3 <= watermark 5
        t2.commit()
    rows = {r.path: (r.content, r.lang) for r in cat.read(spark, "state").collect()}
    assert rows == {"a": ("x", None), "b": ("new", "py")}  # evolved column


def test_refresh_watermark_from_pin_when_main_lags(spark, cat_idx, monkeypatch):
    """Post-commit fast-forward is best-effort housekeeping: when a
    table's main lags/diverges from the catalog pin, a later
    transactional refresh must compute its from-watermark from the TXN
    view (the pin / staged branch head), never main — a stale-main
    watermark re-consumes CDF ranges and silently double-applies signed
    deltas into the derived aggregates."""
    from mex_extractors_spark.lake.table import LakeTable as LT

    with cat_idx.transaction() as t1:
        t1.apply_batch(
            spark, "state",
            _mk_txt(spark, [
                ("r1", "a.py", 1, "py", "alpha", "U"),
                ("r2", "b.rs", 2, "rs", "beta", "U"),
            ]),
            "b1",
        )
        t1.refresh_view(spark, "state", "by_lang", ["lang"])
        t1.commit()

    orig_ff = LT.fast_forward

    def diverge_by_lang(self, branch):
        if self.path.endswith("by_lang"):
            raise CommitConflict("simulated out-of-band main commit")
        return orig_ff(self, branch)

    monkeypatch.setattr(LT, "fast_forward", diverge_by_lang)
    with cat_idx.transaction() as t2:
        t2.apply_batch(
            spark, "state",
            _mk_txt(spark, [("r3", "c.py", 3, "py", "gamma", "U")]),
            "b2",
        )
        t2.refresh_view(spark, "state", "by_lang", ["lang"])
        snap2 = t2.commit()
    monkeypatch.undo()
    # divergence is surfaced, and the retaining branch is kept
    assert snap2["main_diverged"] == ["by_lang"]
    assert any(
        b.startswith("txn-") for b in cat_idx.table("by_lang").refs()
    )
    # by_lang main genuinely lags the catalog pin now
    main_v = cat_idx.table("by_lang").current_snapshot()["version"]
    assert main_v < snap2["tables"]["by_lang"]

    # a THIRD transactional refresh on top of the lagging main must not
    # double-apply the (v1, v2] deltas
    with cat_idx.transaction() as t3:
        t3.apply_batch(
            spark, "state",
            _mk_txt(spark, [("r4", "d.py", 4, "py", "delta", "U")]),
            "b3",
        )
        t3.refresh_view(spark, "state", "by_lang", ["lang"])
        t3.commit()
    by_lang = {
        r.lang: r.cnt for r in cat_idx.read(spark, "by_lang").collect()
    }
    assert by_lang == {"py": 3, "rs": 1}


def test_catalog_current_heals_after_publish_crash(spark, cat, tmp_path):
    """Crash window between the link of cN.json and the CURRENT replace:
    the linked snapshot IS committed (the link is the CAS point), so a
    lagging/missing CURRENT must be healed — otherwise every later
    transaction bases on the stale head and conflicts forever."""
    import os

    with cat.transaction() as t1:
        t1.apply_batch(spark, "state", _mk(spark, [("r1", "a", 1, "U", "x")]), "b1")
        t1.commit()
    with cat.transaction() as t2:
        t2.apply_batch(spark, "state", _mk(spark, [("r1", "a", 2, "U", "y")]), "b2")
        t2.commit()
    cur = os.path.join(cat.cat_dir, "CURRENT")
    # scenario A: CURRENT lags (crash after linking c2, before replace)
    with open(cur, "w") as fh:
        fh.write("1")
    assert cat.current_snapshot()["version"] == 2  # healed (in memory:
    # the read path stays write-free; the pointer itself is repaired by
    # the next publish — asserted at the end of this test)
    # scenario B: CURRENT missing entirely (crash on a first commit)
    os.remove(cur)
    assert cat.current_snapshot()["version"] == 2
    # and the head keeps moving: no livelock
    with cat.transaction() as t3:
        t3.apply_batch(spark, "state", _mk(spark, [("r1", "a", 3, "U", "z")]), "b3")
        snap = t3.commit()
    assert snap["version"] == 3
    assert [r.content for r in cat.read(spark, "state").collect()] == ["z"]
    with open(cur) as fh:  # the publish repaired the pointer persistently
        assert fh.read().strip() == "3"


def test_replay_commit_conflict_drops_staged_branches(spark, cat_idx):
    """A CommitConflict raised by txn.commit() inside
    replay_into_catalog must still abort the transaction: leaked txn
    branches would pin staged snapshots against expiry forever."""
    from mex_extractors_spark.lake.catalog import replay_into_catalog

    ev = _mk_txt(spark, [
        ("r1", "a.py", 1, "py", "alpha", "U"),
        ("r2", "b.py", 2, "py", "beta", "U"),
    ])
    calls = {"n": 0}

    def interloper(s, t):
        st = t.refresh_index(s, "state", "index", _terms)
        calls["n"] += 1
        if calls["n"] == 2:
            # an out-of-band catalog commit lands while batch 2's
            # transaction is mid-flight -> its commit CAS must lose
            with cat_idx.transaction() as other:
                other.apply_batch(
                    s, "by_lang",
                    s.createDataFrame(
                        [("zz", 99, "U", 1)],
                        "lang string, seq long, op string, cnt long",
                    ),
                    "ob1",
                )
                other.commit()
        return st

    with pytest.raises(CommitConflict):
        replay_into_catalog(
            spark, cat_idx, "state", ev, 1, 2, batch_size=1,
            companions=(interloper,),
        )
    for name in ("state", "index", "by_lang"):
        assert not any(
            b.startswith("txn-") for b in cat_idx.table(name).refs()
        ), name
    # and the failed batch replays cleanly on retry
    res = replay_into_catalog(
        spark, cat_idx, "state", ev, 1, 2, batch_size=1,
        companions=(
            lambda s, t: t.refresh_index(s, "state", "index", _terms),
        ),
    )
    assert res[0]["catalog_version"] is None  # batch 1: pure redelivery
    assert res[1]["catalog_version"] is not None
    assert cat_idx.read(spark, "state").count() == 2


def test_catalog_history_logs_every_transaction(spark, cat):
    with cat.transaction() as t1:
        t1.apply_batch(spark, "state", _mk(spark, [("r1", "a", 1, "U", "x")]), "b1")
        t1.commit()
    with cat.transaction() as t2:
        t2.apply_batch(spark, "stats", _counts(spark, [("py", 1, "U", 3)]), "s1")
        t2.commit()
    hist = cat.history()
    assert [h["version"] for h in hist] == [1, 2]
    assert hist[0]["parent"] is None and hist[1]["parent"] == 1
    assert set(hist[0]["tables"]) == {"state"}
    # txn 2 carries the unchanged state pin forward plus the new stats pin
    assert hist[1]["tables"]["state"] == hist[0]["tables"]["state"]
    assert "stats" in hist[1]["tables"]
    assert all(h["txn_id"] for h in hist)


def test_catalog_cdf_between_transactions(spark, cat):
    with cat.transaction() as t1:
        t1.apply_batch(
            spark,
            "state",
            _mk(spark, [("r1", "a", 1, "U", "one"), ("r1", "b", 2, "U", "two")]),
            "b1",
        )
        t1.commit()
    with cat.transaction() as t2:
        t2.apply_batch(
            spark,
            "state",
            _mk(
                spark,
                [
                    ("r1", "a", 3, "U", "one-v2"),  # update
                    ("r1", "b", 4, "D", ""),  # delete
                    ("r1", "c", 5, "U", "three"),  # insert
                ],
            ),
            "b2",
        )
        t2.apply_batch(spark, "stats", _counts(spark, [("py", 1, "U", 3)]), "s1")
        t2.commit()

    ch = {
        r.path: r["_change_type"]
        for r in cat.read_changes(spark, "state", 1, 2).collect()
    }
    assert ch == {"a": "update_postimage", "b": "delete", "c": "insert"}
    # from_catalog_version=0 bootstraps: full state at the to-pin as inserts
    boot = cat.read_changes(spark, "state", 0, 1).collect()
    assert {r.path for r in boot} == {"a", "b"}
    assert {r["_change_type"] for r in boot} == {"insert"}
    # table first pinned inside the window: bootstrap inserts too
    st = cat.read_changes(spark, "stats", 1, 2).collect()
    assert len(st) == 1 and st[0]["_change_type"] == "insert"
    # pin that did not move: empty frame, CDF shape preserved
    unmoved = cat.read_changes(spark, "stats", 2)
    assert unmoved.count() == 0
    assert unmoved.columns[-1] == "_change_type"
    # unknown endpoint pin errors loudly
    with pytest.raises(ValueError, match="no pin"):
        cat.read_changes(spark, "stats", 0, 1)


def test_replay_commit_conflict_retries_on_new_head(spark, cat_idx):
    """With max_commit_retries > 0 a lost catalog CAS re-stages the
    batch on the NEW head instead of raising: the out-of-band commit's
    pins survive, the retried batch lands on top, and no txn branches
    leak."""
    from mex_extractors_spark.lake.catalog import replay_into_catalog

    ev = _mk_txt(spark, [
        ("r1", "a.py", 1, "py", "alpha", "U"),
        ("r2", "b.py", 2, "py", "beta", "U"),
    ])
    fired = {"done": False}

    def interloper(s, t):
        st = t.refresh_index(s, "state", "index", _terms)
        if not fired["done"]:
            fired["done"] = True
            with cat_idx.transaction() as other:
                other.apply_batch(
                    s, "by_lang",
                    s.createDataFrame(
                        [("zz", 99, "U", 1)],
                        "lang string, seq long, op string, cnt long",
                    ),
                    "ob1",
                )
                other.commit()
        return st

    res = replay_into_catalog(
        spark, cat_idx, "state", ev, 1, 2, batch_size=2,
        companions=(interloper,), max_commit_retries=1,
    )
    assert res[0]["catalog_version"] is not None
    # both the interloper's world and the retried batch are visible
    assert cat_idx.read(spark, "by_lang").where("lang = 'zz'").count() == 1
    assert cat_idx.read(spark, "state").count() == 2
    assert cat_idx.read(spark, "index").count() > 0
    for name in ("state", "index", "by_lang"):
        assert not any(
            b.startswith("txn-") for b in cat_idx.table(name).refs()
        ), name
    # retried transaction forked from the interloper's head: linear log
    hist = cat_idx.history()
    assert [h["parent"] for h in hist] == [None, *range(1, len(hist))]


def _vec8(i, shift=0.0):
    return [((i * 31 + j * 7) % 17 - 8) / 8.0 + shift for j in range(8)]


def _vecs(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, seq long, op string"
    )


@pytest.fixture()
def cat_ann(tmp_path):
    c = LakeCatalog(str(tmp_path / "lake"))
    c.register(
        "vecs",
        LakeTable(str(tmp_path / "lake/vecs"), key_cols=["vec_id"], num_buckets=2),
    )
    c.register(
        "ann",
        LakeTable(
            str(tmp_path / "lake/ann"),
            key_cols=["vec_id"],
            seq_col="_src_version",
            op_col="op",
            num_buckets=2,
            stats_cols=["centroid_id"],
        ),
    )
    return c


def test_txn_ann_refresh_moves_atomically(spark, cat_ann):
    """Vector state apply + IVF index refresh in ONE transaction (the
    refresh_index analog for the ANN index): after commit the persisted
    assignments equal a fresh assignment of the committed state against
    the frozen quantizer; an aborted follow-up touches neither table;
    the re-staged commit lands the incremental diff with tombstones."""
    from mex_extractors_spark.lake.ann import IvfIndex
    from mex_extractors_spark.operators.similarity import assign_to_centroids

    with cat_ann.transaction() as t1:
        t1.apply_batch(
            spark, "vecs",
            _vecs(spark, [(i, _vec8(i), i + 1, "U") for i in range(60)]),
            "b1",
        )
        st = t1.refresh_ann(spark, "vecs", "ann", num_centroids=6)
        assert st.applied and st.full_build
        t1.commit()

    idx = IvfIndex.from_table(cat_ann.table("ann"))
    cents = idx.centroids()
    assert len(cents) == 6
    cent_df = spark.createDataFrame(cents, "_cid long, _cvec array<double>")

    def oracle():
        return sorted(
            (r.vec_id, r.centroid_id)
            for r in assign_to_centroids(
                cat_ann.read(spark, "vecs"), cent_df
            ).collect()
        )

    def got():
        return sorted(
            (r.vec_id, r.centroid_id)
            for r in cat_ann.read(spark, "ann").select(
                "vec_id", "centroid_id"
            ).collect()
        )

    committed = got()
    assert committed == oracle() and len(committed) == 60

    # the branch build deferred clustering; post-commit maintenance
    # must see the full bootstrap as pending churn and fire immediately.
    # STRICT pruning gate while the spec is fresh (a later recluster
    # with the same spec is an idempotent no-op by design): with ~8-row
    # files, probing 2 of 6 lists must drop over half the files
    assert idx.maybe_recluster(spark, target_file_rows=8)
    assert idx._cluster_state() == {"rows_at_cluster": 60, "churn_since": 0}
    full0 = set(idx.table.read(spark).inputFiles())
    probe0 = set(idx.probe_read(spark, idx.probe_ids(_vec8(3), 2)).inputFiles())
    # STRICT: this corpus is quasi-uniform (weak clustering), so the
    # gate is "pruning drops at least one file", which a broken
    # recluster or lost stats would fail — unlike a <=-full check,
    # which is vacuously true (probe files are a subset by construction)
    assert len(probe0) < len(full0), (len(probe0), len(full0))
    # the recluster committed a content-identical MAIN version past the
    # catalog pin — absorbing it re-pins so the NEXT txn forks from the
    # compacted layout instead of diverging main (orphaned recluster)
    absorbed = cat_ann.absorb_main_advances()
    assert absorbed == {
        "ann": cat_ann.table("ann").current_snapshot()["version"]
    }

    # staged move + delete + insert, then ABORT: both tables unchanged
    txn = cat_ann.transaction()
    txn.apply_batch(
        spark, "vecs",
        _vecs(spark, [(3, _vec8(3, 2.0), 103, "U"), (7, None, 107, "D"),
                      (90, _vec8(90), 190, "U")]),
        "b2",
    )
    st2 = txn.refresh_ann(spark, "vecs", "ann")
    assert st2.applied and not st2.full_build  # incremental, on the branch
    txn.abort()
    assert got() == committed
    assert cat_ann.read(spark, "vecs").count() == 60

    # re-staged and committed: diff lands, quantizer still frozen
    with cat_ann.transaction() as t3:
        t3.apply_batch(
            spark, "vecs",
            _vecs(spark, [(3, _vec8(3, 2.0), 103, "U"), (7, None, 107, "D"),
                          (90, _vec8(90), 190, "U")]),
            "b2",
        )
        st3 = t3.refresh_ann(spark, "vecs", "ann")
        assert st3.applied and not st3.full_build
        t3.commit()
    assert idx.centroids() == cents
    after = got()
    assert after == oracle() and len(after) == 60  # -1 delete +1 insert
    assert not any(v == 7 for v, _c in after)
    assert any(v == 90 for v, _c in after)

    # replaying the SAME world is a fenced no-op inside a txn too
    with cat_ann.transaction() as t4:
        st4 = t4.refresh_ann(spark, "vecs", "ann")
        assert not st4.applied
        t4.abort()

    # txn refreshes DEFER the recluster but still COUNT churn (an
    # all-transactional workload must not silently decay pruning);
    # the aborted txn's overcount is benign — early recluster only
    churn = idx._cluster_state()["churn_since"]
    assert churn >= 3  # t3's 2 upserts + 1 tombstone (+= abort overcount)

    # post-commit maintenance: below threshold -> no-op, above -> rewrite
    assert not idx.maybe_recluster(spark, recluster_fraction=0.5)
    assert idx._cluster_state()["churn_since"] == churn
    assert idx.maybe_recluster(spark, recluster_fraction=0.01, target_file_rows=8)
    assert idx._cluster_state()["churn_since"] == 0
    full = set(idx.table.read(spark).inputFiles())
    probe = set(idx.probe_read(spark, idx.probe_ids(_vec8(3), 2)).inputFiles())
    assert len(probe) < len(full), (len(probe), len(full))

    # reclusters advanced ann MAIN past the pin again: without absorb,
    # the NEXT txn would report main_diverged, keep its branch, and
    # leave main serving the pre-txn world — absorb heals it
    assert "ann" in cat_ann.absorb_main_advances()
    with cat_ann.transaction() as t5:
        t5.apply_batch(
            spark, "vecs", _vecs(spark, [(91, _vec8(91), 191, "U")]), "b3"
        )
        assert t5.refresh_ann(spark, "vecs", "ann").applied
        snap5 = t5.commit()
    assert "main_diverged" not in snap5
    assert cat_ann.table("ann").refs() == {}  # txn branch cleaned up
    # main (what topk/probe_read serve) sees the new vector
    assert any(r.vec_id == 91 for r in idx.table.read(spark).collect())


def test_cdf_of_bootstrap_noop_pin_is_empty_not_crash(spark, cat):
    """A transaction whose batch is a no-op bootstrap (zero valid rows)
    pins a snapshot with no data schema; the catalog CDF for that pin
    must return the empty CDF shape — not raise UNRESOLVED_COLUMN
    selecting key columns on a zero-column frame."""
    empty = _mk(spark, []).where("1=0")
    with cat.transaction() as txn:
        txn.apply_batch(spark, "state", empty, "boot-1")
        txn.commit()
    out = cat.read_changes(spark, "state", 0)
    assert out.count() == 0 and "_change_type" in out.columns
    # pin-did-not-move window over the same bootstrap pin: also empty
    with cat.transaction() as txn:
        txn.apply_batch(spark, "stats", _counts(spark, [("py", 1, "U", 5)]), "s-1")
        txn.commit()
    out2 = cat.read_changes(spark, "state", 1, 2)
    assert out2.count() == 0 and "_change_type" in out2.columns


def test_current_snapshot_heals_in_memory_without_writing(spark, cat, tmp_path):
    """A CURRENT pointer lagging the ledger (crash between link and
    replace) must not mislead readers — and the READ path must not
    write: read-only consumers work, and no racing healer can
    transiently regress CURRENT."""
    import os

    with cat.transaction() as txn:
        txn.apply_batch(spark, "state", _mk(spark, [("r", "p", 1, "U", "x")]), "h-1")
        txn.commit()
    with cat.transaction() as txn:
        txn.apply_batch(spark, "state", _mk(spark, [("r", "p", 2, "U", "y")]), "h-2")
        txn.commit()
    cur_path = os.path.join(cat.cat_dir, "CURRENT")
    with open(cur_path, "w") as fh:
        fh.write("1")  # simulate the crash window
    before = os.stat(cur_path).st_mtime_ns
    snap = cat.current_snapshot()
    assert snap is not None and int(snap["version"]) == 2  # healed view
    assert os.stat(cur_path).st_mtime_ns == before  # ...without writing
    assert open(cur_path).read().strip() == "1"
    # the next commit repairs the pointer persistently
    with cat.transaction() as txn:
        txn.apply_batch(spark, "state", _mk(spark, [("r", "p", 3, "U", "z")]), "h-3")
        txn.commit()
    assert open(cur_path).read().strip() == "3"


def test_txn_cross_table_purge_is_atomic(spark, cat):
    """The GDPR shape: delete a repo's rows from state AND its stat row
    from the derived table in ONE catalog commit — staged DML is
    invisible pre-commit, both visible post-commit, abort leaves both
    untouched."""
    with cat.transaction() as txn:
        txn.apply_batch(
            spark,
            "state",
            _mk(spark, [("r1", "a.py", 1, "U", "x"), ("r2", "b.py", 2, "U", "y")]),
            "b1",
        )
        txn.apply_batch(
            spark, "stats", _counts(spark, [("py", 1, "U", 2), ("go", 1, "U", 5)]), "s1"
        )
        txn.commit()

    # abort path: staged purge never becomes visible
    with cat.transaction() as txn:
        st = txn.delete_where(spark, "state", [("repo", "=", "r1")], "purge-r1")
        assert st.applied and st.matched == 1
        txn.delete_where(spark, "stats", [("lang", "=", "py")], "purge-r1-stats")
        txn.abort()
    assert cat.read(spark, "state").where(F.col("repo") == "r1").count() == 1
    assert cat.read(spark, "stats").where(F.col("lang") == "py").count() == 1

    # commit path: both purges land in one catalog CAS
    with cat.transaction() as txn:
        txn.delete_where(spark, "state", [("repo", "=", "r1")], "purge-r1")
        txn.update_where(
            spark, "stats", {"n": F.lit(0)}, [("lang", "=", "py")], "zero-py"
        )
        pre_state = cat.read(spark, "state").count()  # main still full
        assert pre_state == 2
        txn.commit()
    assert cat.read(spark, "state").where(F.col("repo") == "r1").count() == 0
    assert cat.read(spark, "state").count() == 1
    got = {r["lang"]: r["n"] for r in cat.read(spark, "stats").collect()}
    assert got == {"py": 0, "go": 5}


def test_txn_merge_into_staged_on_branch(spark, cat):
    with cat.transaction() as txn:
        txn.apply_batch(
            spark, "state", _mk(spark, [("r1", "a.py", 1, "U", "x")]), "b1"
        )
        txn.commit()
    src = spark.createDataFrame(
        [("r1", "a.py", 1, "fixed"), ("r9", "new.py", 100, "n")],
        "repo string, path string, seq long, content string",
    )
    with cat.transaction() as txn:
        st = txn.merge_into(
            spark,
            "state",
            src,
            "m1",
            when_matched_update={"content": F.col("s.content")},
        )
        assert st.applied
        # invisible until the catalog CAS
        assert cat.read(spark, "state").count() == 1
        txn.commit()
    got = {(r["repo"], r["path"]): r["content"] for r in cat.read(spark, "state").collect()}
    assert got == {("r1", "a.py"): "fixed", ("r9", "new.py"): "n"}


def test_catalog_rollback_reverts_whole_world(spark, cat):
    """catalog.rollback_to publishes a revert commit re-pinning an
    ancestor's tables: pinned reads revert for EVERY table at once,
    mains mirror back, fencing reverts (the same batch id re-applies),
    and the rolled-over snapshots stay readable by catalog_version."""
    with cat.transaction() as txn:
        txn.apply_batch(spark, "state", _mk(spark, [("r1", "a.py", 1, "U", "x")]), "b1")
        txn.apply_batch(spark, "stats", _counts(spark, [("py", 1, "U", 1)]), "s1")
        txn.commit()
    c1 = cat.current_snapshot()["version"]
    with cat.transaction() as txn:
        txn.apply_batch(spark, "state", _mk(spark, [("r2", "b.py", 2, "U", "y")]), "b2")
        txn.apply_batch(spark, "stats", _counts(spark, [("go", 2, "U", 7)]), "s2")
        txn.commit()
    c2 = cat.current_snapshot()["version"]
    snap = cat.rollback_to(c1)
    assert snap["rolled_back_to"] == c1 and snap.get("main_diverged") is None
    # pinned reads AND mains reverted across both tables
    assert cat.read(spark, "state").count() == 1
    assert cat.read(spark, "stats").count() == 1
    assert cat.table("state").read(spark).count() == 1
    # rolled-over world still readable by explicit catalog version
    assert cat.read(spark, "state", catalog_version=c2).count() == 2
    # fencing reverted with the pins: b2 re-applies under its original id
    with cat.transaction() as txn:
        st = txn.apply_batch(
            spark, "state", _mk(spark, [("r2", "b.py", 2, "U", "y")]), "b2"
        )
        assert st.applied
        txn.commit()
    assert cat.read(spark, "state").count() == 2


def test_rollback_tombstones_tables_pinned_after_target(spark, cat):
    """A table first pinned AFTER the rollback target did not exist in
    the target world: the revert commit pins it at 0 (a rollback
    tombstone, surfaced via reverted_out/main_diverged), and
    absorb_main_advances must NOT resurrect its un-reverted main next
    to the reverted state."""
    with cat.transaction() as txn:
        txn.apply_batch(spark, "state", _mk(spark, [("r1", "a.py", 1, "U", "x")]), "b1")
        txn.commit()
    c1 = cat.current_snapshot()["version"]
    with cat.transaction() as txn:  # 'stats' enters the world after c1
        txn.apply_batch(spark, "state", _mk(spark, [("r2", "b.py", 2, "U", "y")]), "b2")
        txn.apply_batch(spark, "stats", _counts(spark, [("py", 1, "U", 1)]), "s1")
        txn.commit()
    snap = cat.rollback_to(c1)
    assert snap["tables"]["stats"] == 0
    assert snap["reverted_out"] == ["stats"]
    assert "stats" in snap["main_diverged"]
    # the tombstone holds: stats' main (still at its old version) is
    # NOT silently re-absorbed into the reverted world
    assert cat.absorb_main_advances() == {}
    assert cat.pins()["stats"] == 0
    # reading the reverted-out table through the catalog fails loudly
    with pytest.raises(ValueError, match="no committed catalog pin|not found|version"):
        cat.read(spark, "stats")


def test_maintenance_absorbs_before_expiry(spark, cat):
    """Out-of-band main advances are absorbed BEFORE table expiry:
    expiry keeps only retained pins' ancestries, so the old order could
    delete the intermediate versions the absorb's ancestry walk needs,
    wedging the pin behind an unreachable head forever."""
    with cat.transaction() as txn:
        txn.apply_batch(spark, "state", _mk(spark, [("r1", "a.py", 1, "U", "x")]), "b1")
        txn.commit()
    t = cat.table("state")
    # two sanctioned out-of-band main commits (maintenance-style)
    t.apply_batch(spark, _mk(spark, [("r2", "b.py", 2, "U", "y")]), "oob-1")
    t.apply_batch(spark, _mk(spark, [("r3", "c.py", 3, "U", "z")]), "oob-2")
    head = t.current_snapshot()["version"]
    assert head > cat.pins()["state"]
    res = cat.maintenance(spark, keep_table_snapshots=1)
    assert res["absorbed"].get("state") == head
    assert cat.pins()["state"] == head
    # and the absorbed world reads the full state
    assert cat.read(spark, "state").count() == 3


def test_expire_never_deletes_newer_than_head_read(spark, cat):
    """A transaction committing concurrently with maintenance must
    survive: snapshots NEWER than the head expiry read at entry are
    never deleted (their version numbers must not be re-issued)."""
    for i in range(3):
        with cat.transaction() as txn:
            txn.apply_batch(
                spark, "state",
                _mk(spark, [(f"r{i}", "a.py", i + 1, "U", "x")]), f"b{i}",
            )
            txn.commit()
    newest = cat.current_snapshot()["version"]
    stale = cat.snapshot_at(newest - 1)
    # simulate the race: a commit (c_newest) lands AFTER expiry read its
    # head — expiry sees the stale head but lists the newer file
    orig = cat.current_snapshot
    cat.current_snapshot = lambda: stale
    try:
        cat.expire_catalog_snapshots(keep_last=1)
    finally:
        cat.current_snapshot = orig
    assert cat.snapshot_at(newest) is not None, "committed snapshot deleted"
    assert cat.current_snapshot()["version"] == newest


def test_catalog_rollback_rejects_bad_targets(spark, cat):
    with pytest.raises(ValueError, match="empty catalog"):
        cat.rollback_to(1)
    with cat.transaction() as txn:
        txn.apply_batch(spark, "state", _mk(spark, [("r1", "a.py", 1, "U", "x")]), "b1")
        txn.commit()
    with pytest.raises(ValueError, match="not found"):
        cat.rollback_to(99)
    cur = cat.current_snapshot()
    assert cat.rollback_to(cur["version"]) == cur  # no-op to head
