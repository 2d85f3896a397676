"""Cross-process parallel ingest: K writer processes, one table.

The 100 TB deployment shape for the CDC engine is K independent Spark
drivers each owning a disjoint bucket subset of one lake table
(``ReplayEngine.replay(buckets=...)``): their commits interleave freely
and the optimistic-concurrency protocol (tests/test_occ.py) rebases
the CAS losers — no coordinator, no lock service, just the ledger.

This test runs TWO real OS processes (separate JVMs, separate Spark
sessions — the honest version of "two drivers") concurrently over the
same synthetic stream, each replaying its bucket half, then checks the
converged table equals the single-writer oracle state via DuckDB.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import duckdb
from pyspark.sql import functions as F

from mex_extractors_spark import synth
from mex_extractors_spark.lake.table import LakeTable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Every writer is a whole driver JVM. At the engine's default 8g heap,
# eight writers plus the test session may claim far more heap than a
# 16 GB host has; these small replays run in 1g.
WRITER_ENV = {"SPARK_GRAFT_DRIVER_MEM": "1g"}

_WRITER = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})
    from mex_extractors_spark.session import get_spark
    from mex_extractors_spark.lake.table import LakeTable
    from mex_extractors_spark.streaming.replay import ReplayEngine

    spark = get_spark(app_name="writer-{tag}", cores=4, shuffle_partitions=4)
    table = LakeTable({lake!r}, num_buckets=4)
    stats = ReplayEngine(table).replay(
        spark,
        spark.read.parquet({events!r}),
        1,
        {n},
        batch_size=500,
        buckets={buckets!r},
    )
    print("WRITER-OK", sum(1 for s in stats if s.applied))
    spark.stop()
    """
)


def test_two_processes_converge_to_oracle(spark, tmp_path):
    n = 6000
    events_dir = str(tmp_path / "events")
    lake_dir = str(tmp_path / "lake")
    synth.events(spark, n).write.parquet(events_dir)
    # seed the table layout (num_buckets) so both writers adopt it
    LakeTable(lake_dir, num_buckets=4)

    procs = []
    tags = ("a", "b")
    for tag, buckets in zip(tags, ([0, 1], [2, 3])):
        script = _WRITER.format(
            repo=REPO,
            tag=tag,
            lake=lake_dir,
            events=events_dir,
            n=n,
            buckets=buckets,
        )
        procs.append(
            subprocess.Popen(
                [sys.executable, "-c", script],
                stdout=subprocess.PIPE,
                stderr=subprocess.STDOUT,
                text=True,
                cwd=str(tmp_path),
                env={**os.environ, **WRITER_ENV},
            )
        )
    outs = [p.communicate(timeout=900)[0] for p in procs]
    for tag, p, out in zip(tags, procs, outs):
        (tmp_path / f"writer-{tag}.log").write_text(out)
        assert p.returncode == 0, out[-3000:]
        assert "WRITER-OK" in out

    table = LakeTable(lake_dir)
    got = sorted(
        map(
            tuple,
            table.read(spark)
            .select("repo", "path", F.sha2("content", 256).alias("h"))
            .collect(),
        )
    )
    oracle = sorted(
        map(
            tuple,
            duckdb.connect()
            .execute(
                f"""
                WITH r AS (
                  SELECT *, row_number() OVER (
                    PARTITION BY repo, path ORDER BY seq DESC
                  ) rn
                  FROM read_parquet('{events_dir}/*.parquet')
                )
                SELECT repo, path, sha256(content) h
                FROM r WHERE rn = 1 AND op <> 'D'
                """
            )
            .fetchall(),
        )
    )
    assert got == oracle

    head = table.current_snapshot()
    # both writers' ledger entries landed; every batch id is bucket-tagged
    tags = {bid.rsplit("@", 1)[-1] for bid in head["applied_batches"]}
    assert tags == {"b0,1", "b2,3"}
    # linear history: every snapshot's parent chain reaches the root
    seen = 0
    v = head["version"]
    while v:
        snap = table.snapshot_at(v)
        assert snap is not None, f"broken chain at v{v}"
        v = snap["parent"] or 0
        seen += 1
    assert seen >= 2  # at least one commit per writer reached main


_WRITER8 = textwrap.dedent(
    """
    import os, sys, time
    sys.path.insert(0, {repo!r})
    from mex_extractors_spark.session import get_spark
    from mex_extractors_spark.lake.table import LakeTable
    from mex_extractors_spark.streaming.replay import ReplayEngine

    spark = get_spark(app_name="w8-{tag}", cores=2, shuffle_partitions=4)
    # start barrier: JVM spin-up skew (seconds on a loaded host) would
    # otherwise let writers commit serially with zero CAS contention,
    # making the attempts>commits assertion flaky. Each writer signals
    # readiness AFTER its Spark session is up, then all begin together.
    barrier = {barrier!r}
    open(os.path.join(barrier, "ready-{tag}"), "w").write("1")
    deadline = time.monotonic() + 300
    while len([f for f in os.listdir(barrier) if f.startswith("ready-")]) < 8:
        if time.monotonic() > deadline:
            raise SystemExit("barrier timeout")
        time.sleep(0.05)
    table = LakeTable({lake!r}, num_buckets=16)
    stats = ReplayEngine(table).replay(
        spark,
        spark.read.parquet({events!r}),
        1,
        {n},
        batch_size={batch_size},
        buckets={buckets!r},
    )
    applied = sum(1 for s in stats if s.applied)
    attempts = sum(s.commit_attempts for s in stats if s.applied)
    print("WRITER-OK", applied, attempts)
    spark.stop()
    """
)


def test_eight_processes_converge_with_forced_cas_losses(spark, tmp_path):
    """The 100 TB deployment shape at 8 real driver processes: one
    16-bucket table, 8 writers each owning 2 buckets, all launched
    simultaneously over the same seq ranges so their commits race the
    head CAS in near lock-step. Must hold: (a) the converged state
    equals the single-writer DuckDB oracle (exactly-once), (b) the
    snapshot history is LINEAR — contiguous versions, every parent =
    version-1, (c) every batch id appears exactly once in the ledger,
    and (d) contention actually happened (total publish attempts >
    commits — the protocol's rebase path was exercised, not idle)."""
    n = 8000
    n_batches = 8
    events_dir = str(tmp_path / "events8")
    lake_dir = str(tmp_path / "lake8")
    barrier_dir = str(tmp_path / "barrier8")
    os.makedirs(barrier_dir)
    synth.events(spark, n).write.parquet(events_dir)
    LakeTable(lake_dir, num_buckets=16)  # seed the layout

    procs = []
    for w in range(8):
        buckets = [2 * w, 2 * w + 1]
        script = _WRITER8.format(
            repo=REPO, tag=str(w), lake=lake_dir, events=events_dir,
            n=n, batch_size=n // n_batches, buckets=buckets,
            barrier=barrier_dir,
        )
        procs.append(
            subprocess.Popen(
                [sys.executable, "-c", script],
                stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                text=True, cwd=str(tmp_path),
                env={**os.environ, **WRITER_ENV},
            )
        )
    outs = [p.communicate(timeout=900)[0] for p in procs]
    applied = attempts = 0
    for w, (p, out) in enumerate(zip(procs, outs)):
        (tmp_path / f"writer-{w}.log").write_text(out)
        assert p.returncode == 0, out[-3000:]
        ok = [ln for ln in out.splitlines() if ln.startswith("WRITER-OK")]
        assert ok, out[-3000:]
        _, a, t = ok[0].split()
        applied += int(a)
        attempts += int(t)
    assert applied == 8 * n_batches

    table = LakeTable(lake_dir)
    got = sorted(
        map(
            tuple,
            table.read(spark)
            .select("repo", "path", F.sha2("content", 256).alias("h"))
            .collect(),
        )
    )
    oracle = sorted(
        map(
            tuple,
            duckdb.connect()
            .execute(
                f"""
                WITH r AS (
                  SELECT *, row_number() OVER (
                    PARTITION BY repo, path ORDER BY seq DESC
                  ) rn
                  FROM read_parquet('{events_dir}/*.parquet')
                )
                SELECT repo, path, sha256(content) h
                FROM r WHERE rn = 1 AND op <> 'D'
                """
            )
            .fetchall(),
        )
    )
    assert got == oracle and len(got) > 0

    head = table.current_snapshot()
    # exactly-once ledger: every (batch, bucket-set) id exactly once
    bids = head["applied_batches"]
    assert len(bids) == len(set(bids)) == 8 * n_batches
    assert {bid.rsplit("@", 1)[-1] for bid in bids} == {
        f"b{2 * w},{2 * w + 1}" for w in range(8)
    }
    # linear history: one unbroken parent chain from head to root that
    # covers every retained snapshot. Version NUMBERS may legitimately
    # skip under contention — a writer that wins the vN filename CAS
    # but loses the claim CAS removes its unreferenced snapshot file
    # (lake/table.py _publish), so the claim winner's number can jump —
    # but the chain itself must stay single and complete: no forks, no
    # orphaned snapshots, no missing parents.
    hist = table.history()
    by_v = {h["version"]: h for h in hist}
    chain = []
    v = head["version"]
    while v:
        assert v in by_v, f"parent chain references missing snapshot v{v}"
        chain.append(v)
        v = by_v[v]["parent"] or 0
    assert chain == sorted(chain, reverse=True), chain
    assert set(chain) == set(by_v), (
        "retained snapshots outside the head's parent chain (fork?): "
        f"{sorted(set(by_v) - set(chain))}"
    )
    assert hist[-1]["version"] == head["version"]
    # the CAS-loss/rebase path was genuinely exercised
    assert attempts > applied, (attempts, applied)
    assert table.verify_bucket_checksums(spark) == []
