"""kill -9 chaos on the multi-writer OCC commit path.

tests/test_occ.py proves the optimistic-concurrency protocol survives
*logical* crash points (claim without pointer swap, version collisions,
pointer lag); tests/test_parallel_ingest.py proves two healthy writer
processes converge. This test combines them with the honest failure
mode: one of two concurrent writer PROCESSES is SIGKILLed mid-run —
wherever it happens to be in a commit — then restarted. The restart
must skip its acked batches (ledger), re-apply the rest (possibly
rebasing over the survivor's interleaved commits), and the table must
converge to the single-writer DuckDB oracle with a linear history.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import textwrap
import time

import duckdb
from pyspark.sql import functions as F

from mex_extractors_spark import synth
from mex_extractors_spark.lake.table import LakeTable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Every writer is a whole driver JVM; these small replays run in a 1g
# heap instead of the engine's 8g default.
WRITER_ENV = {"SPARK_GRAFT_DRIVER_MEM": "1g"}

_WRITER = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})
    from mex_extractors_spark.session import get_spark
    from mex_extractors_spark.lake.table import LakeTable
    from mex_extractors_spark.streaming.replay import ReplayEngine

    spark = get_spark(app_name="chaos-writer-{tag}", cores=4, shuffle_partitions=4)
    table = LakeTable({lake!r}, num_buckets=4)
    stats = ReplayEngine(table).replay(
        spark,
        spark.read.parquet({events!r}),
        1,
        {n},
        batch_size=500,
        buckets={buckets!r},
    )
    print("WRITER-OK applied=%d skipped=%d" % (
        sum(1 for s in stats if s.applied),
        sum(1 for s in stats if not s.applied),
    ))
    spark.stop()
    """
)


def _spawn(tmp_path, tag, lake_dir, events_dir, n, buckets):
    script = _WRITER.format(
        repo=REPO, tag=tag, lake=lake_dir, events=events_dir, n=n, buckets=buckets
    )
    return subprocess.Popen(
        [sys.executable, "-c", script],
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
        cwd=str(tmp_path),
        env={**os.environ, **WRITER_ENV},
    )


def test_sigkill_one_writer_restart_converges(spark, tmp_path):
    n = 6000
    events_dir = str(tmp_path / "events")
    lake_dir = str(tmp_path / "lake")
    synth.events(spark, n).write.parquet(events_dir)
    LakeTable(lake_dir, num_buckets=4)  # seed layout for both writers

    pa = _spawn(tmp_path, "a", lake_dir, events_dir, n, [0, 1])
    pb = _spawn(tmp_path, "b", lake_dir, events_dir, n, [2, 3])

    # SIGKILL writer b once at least one of ITS commits reached the
    # ledger — from then on it is mid-replay with real acked state
    deadline = time.time() + 600
    killed = False
    while time.time() < deadline:
        for vf in glob.glob(os.path.join(lake_dir, "_ledger", "v*.json")):
            try:
                with open(vf) as fh:
                    if "@b2,3" in fh.read():
                        killed = True
                        break
            except OSError:
                pass  # snapshot file mid-rename
        if killed or pb.poll() is not None:
            break
        time.sleep(0.2)
    assert killed, "writer b never committed before the deadline"
    pb.kill()
    (tmp_path / "writer-b.log").write_text(pb.communicate()[0])

    out_a = pa.communicate(timeout=900)[0]
    (tmp_path / "writer-a.log").write_text(out_a)
    assert pa.returncode == 0, out_a[-3000:]
    assert "WRITER-OK" in out_a

    # restart writer b in a fresh process: acked batches skip via the
    # ledger, the rest apply (rebasing over a's commits if claims race)
    pb2 = _spawn(tmp_path, "b2", lake_dir, events_dir, n, [2, 3])
    out_b = pb2.communicate(timeout=900)[0]
    (tmp_path / "writer-b2.log").write_text(out_b)
    assert pb2.returncode == 0, out_b[-3000:]
    assert "WRITER-OK" in out_b
    # the restart must have found prior acked state to skip
    skipped = int(out_b.split("skipped=")[1].split()[0])
    assert skipped >= 1, out_b[-500:]

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
    # every seq-range batch landed exactly once per owning writer
    tags = {bid.rsplit("@", 1)[-1] for bid in head["applied_batches"]}
    assert tags == {"b0,1", "b2,3"}
    per_tag = {}
    for bid in head["applied_batches"]:
        rng, tag = bid.rsplit("@", 1)
        per_tag.setdefault(tag, set()).add(rng)
    assert len(per_tag["b0,1"]) == 12 and len(per_tag["b2,3"]) == 12
    # linear history all the way to the root
    v = head["version"]
    while v:
        snap = table.snapshot_at(v)
        assert snap is not None, f"broken chain at v{v}"
        v = snap["parent"] or 0
    # per-bucket checksums still certify the converged state
    assert table.verify_bucket_checksums(spark) == []
