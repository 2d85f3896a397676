"""The workloads and the operations they drive through the
engine's public API.

A run writes its inputs and the oracle's expectations once
(``prepare``), builds the workload's table three times (``setup``; the
median is ``setup_s``), runs one unmeasured ``round`` on the first table
if the workload sets ``WARM_ROUND``, repeats whole rounds of the
workload's operations on the last table until ``--seconds`` have passed
or the workload's ``MAX_ROUNDS`` are done, then checks the final state
against the DuckDB oracle (``checks``). Every operation is counted in
``attempted``; one that raises is counted in ``failed``.
"""

from __future__ import annotations

import os
import random
import sys
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from mex_extractors_spark.lake.table import LakeTable
from mex_extractors_spark.sources.normalize import normalize_change_events
from mex_extractors_spark.streaming.replay import ReplayEngine

from inputs import EVOLVED_COL, Segment, write_segments
from oracle import Oracle, spark_digest

# Keyspace of every workload: repo ids log-uniform over 300 repos, 400
# paths a repo. 21k events leave ~12.7k live keys.
KEYSPACE = {"n_repos": 300, "paths_per_repo": 400}


def tree_bytes(path: str) -> dict[str, int]:
    """Size of every file under ``path``, by path."""
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def added_bytes(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    """(bytes, files) present in ``after`` but not in ``before``."""
    new = [p for p in after if p not in before]
    return sum(after[p] for p in new), len(new)


def delta_files(table: LakeTable) -> int:
    snap = table.current_snapshot() or {"buckets": {}}
    return sum(len(d["files"]) for m in snap["buckets"].values() for d in m.get("deltas", []))


def live_files(table: LakeTable) -> list[str]:
    snap = table.current_snapshot() or {"buckets": {}}
    return [
        os.path.join(table.path, f)
        for meta in snap["buckets"].values()
        for f in meta["files"] + [x for d in meta.get("deltas", []) for x in d["files"]]
    ]


@dataclass
class Run:
    """Operation accounting, timing and checks of one benchmark run."""

    spark: object
    tracer: object
    seed: int
    work: str
    phase: str = "setup"
    attempted: int = 0
    failed: int = 0
    ops: list = field(default_factory=list)  # (kind, seconds), measured phase only
    failures: list = field(default_factory=list)  # failed checks
    events_offered: int = 0  # measured phase
    write_bytes: int = 0  # measured phase, bytes of files added to tables
    scratch_peak: int = 0
    facts: dict = field(default_factory=dict)  # input figures for the detail line

    def op(self, kind: str, span: str, fn):
        """Run one operation: timed, traced, counted. ``fn`` takes the
        span record (an empty dict when tracing is off) and returns the
        operation's result; None stands for a failed operation."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span, phase=self.phase, kind=kind) as rec:
                out = fn(rec)
        except Exception:  # an engine fault is a failed operation, not a crash
            self.failed += 1
            print(f"perfbench: {kind} ({span}) failed", file=sys.stderr)
            traceback.print_exc()
            return None
        if self.phase == "run":
            self.ops.append((kind, time.perf_counter() - t0))
        return out

    def check(self, name: str, ok: bool, detail: object = "") -> bool:
        if not ok:
            self.failures.append(f"{name}: {detail}")
            print(f"perfbench: check failed: {name}: {detail}", file=sys.stderr)
        return ok

    def note_scratch(self) -> None:
        self.scratch_peak = max(self.scratch_peak, sum(tree_bytes(self.work).values()))

    # ------------------------------------------------ calls into the engine

    def replay(self, eng: ReplayEngine, batch_id: str, seg: Segment):
        """Offer one closed segment to the replay engine under ``batch_id``."""

        def go(rec):
            before = tree_bytes(eng.table.path) if self.tracer.enabled else None
            (st,) = eng.replay_files(self.spark, [(batch_id, [seg.path])], schema=seg.schema)
            if before is not None:
                b, n = added_bytes(before, tree_bytes(eng.table.path))
                rec.update(
                    bytes_written=b,
                    files_written=n,
                    applied=st.applied,
                    mode=st.mode,
                    noop=st.applied and st.buckets_touched == 0,
                    events_in=st.events_in,
                    events_fenced=st.events_fenced,
                    apply_s=st.seconds,
                    stats_s=st.t_stats,
                    write_s=st.t_write,
                    checksum_s=st.t_checksum,
                    commit_attempts=st.commit_attempts,
                )
            return st

        st = self.op("commit", "streaming.replay.replay_files", go)
        if self.phase == "run":
            self.events_offered += seg.events
        self.snapshot_probe(eng.table)
        return st

    def lookup(self, table: LakeTable, key: tuple[str, str], bucket_files: int):
        def go(rec):
            rec["bucket_files"] = bucket_files
            rows = table.read_key(self.spark, repo=key[0], path=key[1]).collect()
            return [r.asDict() for r in rows]

        return self.op("lookup", "lake.read_key", go)

    def scan(self, table: LakeTable, deltas: int):
        def go(rec):
            rec["delta_files"] = deltas
            r = table.read(self.spark).agg(
                F.count(F.lit(1)), F.sum("size_bytes"), F.max("seq"), F.countDistinct("repo")
            ).first()
            return tuple(int(x) for x in r)

        return self.op("scan", "lake.read", go)

    def changes(self, table: LakeTable, from_version: int):
        def go(rec):
            rows = (
                table.read_changes(self.spark, from_version)
                .groupBy("_change_type")
                .count()
                .collect()
            )
            return {r["_change_type"]: int(r["count"]) for r in rows}

        return self.op("changes", "lake.read_changes", go)

    def compact(self, table: LakeTable):
        def go(rec):
            before = tree_bytes(table.path) if self.tracer.enabled else None
            v = table.compact(self.spark)
            if before is not None:
                rec["bytes_rewritten"] = added_bytes(before, tree_bytes(table.path))[0]
            return v

        return self.op("compact", "lake.compact", go)

    def verify(self, table: LakeTable):
        return self.op("verify", "lake.verify_bucket_checksums", lambda rec: table.verify_bucket_checksums(self.spark))

    def snapshot_probe(self, table: LakeTable) -> None:
        """Traced runs time one head-snapshot load after each commit."""
        if self.tracer.enabled:
            with self.tracer.span("lake.current_snapshot", jobs=False, phase=self.phase) as rec:
                snap = table.current_snapshot()
            if snap is not None:
                v = os.path.join(table.ledger_dir, f"v{snap['version']:08d}.json")
                rec["snapshot_bytes"] = os.path.getsize(v)

    # ---------------------------------------------------- shared checks

    def check_digest(self, name: str, table: LakeTable, cols: list[str], want: tuple[int, int]) -> None:
        def go(rec):
            rec["delta_files"] = delta_files(table)
            return spark_digest(table.read(self.spark), cols)

        got = self.op("digest", "lake.read", go)
        self.check(f"{name}: state equals the oracle (rows, digest)", got == want, f"{got} != {want}")

    def check_lookups(self, table, cols, keys, expected, bucket_files) -> None:
        for key in keys:
            rows = self.lookup(table, key, bucket_files.get(key, 0))
            if rows is not None:
                got = [{c: r.get(c) for c in cols} for r in rows]
                want = [] if expected[key] is None else [expected[key]]
                self.check(f"read_key{key} equals the oracle", got == want, f"{got} != {want}")

    def check_ledger(self, table: LakeTable, batch_ids: list[str]) -> None:
        ids = [r["batch_id"] for r in table.inspect(self.spark, "batches").collect()]
        self.check("every batch id is in the ledger once", sorted(ids) == sorted(batch_ids),
                   f"{len(ids)} ids, {len(set(ids))} distinct, want {len(batch_ids)}")

    def check_maintenance(self, table, cols, want) -> None:
        """verify, then compact: the digest must not move."""
        self.check("verify_bucket_checksums() == []", self.verify(table) == [])
        v0 = table.current_snapshot()["version"]
        v1 = self.compact(table)
        if v1 != v0:
            self.check_digest("after compact()", table, cols, want)


def key_buckets(spark, keys, num_buckets: int) -> dict:
    """Bucket of each key under the table's layout (murmur3 pmod)."""
    kdf = spark.createDataFrame(sorted(set(keys)), "repo string, path string")
    b = F.pmod(F.hash("repo", "path"), F.lit(num_buckets)).alias("b")
    return {(r["repo"], r["path"]): r["b"] for r in kdf.select("repo", "path", b).collect()}


def bucket_files_of(spark, table: LakeTable, buckets: dict) -> dict:
    """Files in each looked-up key's bucket, from the ``files``
    metadata table."""
    per_bucket: dict[int, int] = {}
    for r in table.inspect(spark, "files").collect():
        per_bucket[r["bucket"]] = per_bucket.get(r["bucket"], 0) + 1
    return {k: per_bucket.get(b, 0) for k, b in buckets.items()}


def draw_keys(rng: random.Random, stream_keys: list, n: int, absent_every: int = 8) -> list:
    """``n`` lookup keys: draws from the event stream (so hot repos are
    looked up often, and a key whose last event was a delete is a miss),
    and every ``absent_every``-th key one that was never written."""
    out = []
    for i in range(n):
        if i % absent_every == absent_every - 1:
            out.append((f"org-0/repo-absent-{rng.randrange(10**6)}", "src/none.py"))
        else:
            out.append(tuple(rng.choice(stream_keys)))
    return out


# ------------------------------------------------------------------ trickle


class Trickle:
    """Closed loop of micro-batches into a standing table, each offered
    when the previous commit returns, in ``merge_mode="auto"`` with the
    engine's default delta bound.

    Set-up backfills the standing table with one bulk copy-on-write
    commit into the empty table. A round is one cycle of ``CYCLE`` fresh
    batches. The 1k batches append merge-on-read deltas. The 8k batches
    are large against the table, so ``auto`` rewrites their buckets
    copy-on-write: the first finds no deltas and takes the bucketed
    merge; the second folds the pending delta. Every segment after the
    base carries the nullable ``license`` column, so the first batch of
    the cycle is also the one schema change. After batch 1 it is
    redelivered under its own id (the idempotency ledger skips it);
    after the last, batch 0 is redelivered under a new id (the watermark
    fence turns it into a no-op commit); then ``compact()`` folds the
    last delta. The inputs hold one cycle, so a run measures one round
    whatever ``--seconds`` asks for."""

    name = "trickle"
    BASE = 20_000
    CYCLE = [8_000, 1_000, 8_000, 1_000]
    MAX_ROUNDS = 1
    # A round drives paths set-up never runs (merge-on-read appends, the
    # schema change, the fence, compaction); measured cold, their JIT and
    # codegen made cpu_ms_per_op spread 0.12-0.14 over ten runs.
    WARM_ROUND = True
    BUCKETS = 16
    CHECK_LOOKUPS = 3

    def prepare(self, run: Run, root: str) -> dict:
        sizes = [self.BASE] + self.CYCLE
        segs = write_segments(run.spark, os.path.join(root, "in"), run.seed, sizes,
                              evolve_from=1, **KEYSPACE)
        return {"root": root, "segs": segs, "oracle": Oracle(root, [EVOLVED_COL])}

    def setup(self, run: Run, st: dict, root: str) -> None:
        table = LakeTable(os.path.join(root, "table"), num_buckets=self.BUCKETS, merge_mode="auto")
        eng = ReplayEngine(table, normalize=normalize_change_events)
        out = run.replay(eng, "base", st["segs"][0])
        run.check("backfill segment applied", out is not None and out.applied)
        st.update(table=table, eng=eng, applied=["base"])

    def round(self, run: Run, st: dict) -> None:
        eng, table = st["eng"], st["table"]
        before = tree_bytes(table.path)
        for seg in st["segs"][1:]:
            bid = f"mb-{seg.index}"
            out = run.replay(eng, bid, seg)
            run.check("fresh batch applied", out is not None and out.applied)
            st["applied"].append(bid)
            if seg.index == 2:
                out = run.replay(eng, bid, seg)
                run.check("same-id redelivery skipped", out is not None and not out.applied)
        old = st["segs"][1]
        heads = table.current_snapshot()["buckets"]
        out = run.replay(eng, "redeliver", old)
        run.check("redelivery under a new id is fenced to a no-op",
                  out is not None and out.events_fenced == out.events_in == old.events
                  and table.current_snapshot()["buckets"] == heads)
        st["applied"].append("redeliver")
        run.check("compact() ran", run.compact(table) is not None)
        if run.phase == "run":
            run.write_bytes += added_bytes(before, tree_bytes(table.path))[0]
        run.note_scratch()

    def checks(self, run: Run, st: dict) -> None:
        table, oracle = st["table"], st["oracle"]
        globs = [s.glob for s in st["segs"]]
        want = st["final"] = oracle.digest(globs)
        run.facts["live_rows"] = want[0]
        run.check_digest("trickle", table, oracle.cols, want)
        keys = draw_keys(random.Random(run.seed), oracle.keys_of(globs), self.CHECK_LOOKUPS)
        bf = bucket_files_of(run.spark, table, key_buckets(run.spark, keys, self.BUCKETS))
        run.check_lookups(table, oracle.cols, keys, oracle.rows_for(globs, keys), bf)
        want_ch = oracle.change_counts(globs[:1], globs)
        got = run.changes(table, 1)
        run.check("read_changes(1) counts equal the oracle", got == want_ch, f"{got} != {want_ch}")
        evolve_lo = st["segs"][1].lo
        stale = table.read(run.spark).where(
            (F.col("seq") < evolve_lo) & F.col(EVOLVED_COL).isNotNull()).count()
        run.check("rows written before the schema change read null in the new column", stale == 0, stale)
        run.check_ledger(table, st["applied"])
        run.check_maintenance(table, oracle.cols, want)


# -------------------------------------------------------------------- serve


class Serve:
    """Reads only, on a standing table that carries one pending
    merge-on-read delta in every bucket. A round is ``LOOKUPS`` point
    lookups, one full scan with an aggregate and one change-feed read
    over the delta version; every result is compared with the oracle."""

    name = "serve"
    SEGMENTS = [20_000, 1_000]  # the base, then one delta commit
    BUCKETS = 16
    LOOKUPS = 16
    KEY_POOL = 240
    MAX_ROUNDS = None  # reads repeat: rounds go on until --seconds
    # No warm round: the phase repeats one lookup plan 16 times and held
    # a spread of 0.06-0.09 without one, and a round costs ~8 s a run.
    WARM_ROUND = False

    def prepare(self, run: Run, root: str) -> dict:
        segs = write_segments(run.spark, os.path.join(root, "in"), run.seed, self.SEGMENTS, **KEYSPACE)
        oracle = Oracle(root, [])
        globs = [s.glob for s in segs]
        keys = draw_keys(random.Random(run.seed), oracle.keys_of(globs), self.KEY_POOL)
        expected = oracle.rows_for(globs, keys)
        final = oracle.digest(globs)
        run.facts.update(live_rows=final[0], lookup_hit_share=sum(expected[k] is not None for k in keys) / len(keys))
        return {
            "root": root, "segs": segs, "oracle": oracle,
            "final": final,
            "aggregates": oracle.aggregates(globs),
            "changes": oracle.change_counts(globs[:1], globs),
            "keys": keys, "expected": expected, "rounds": 0,
            "key_buckets": key_buckets(run.spark, keys, self.BUCKETS),
        }

    def setup(self, run: Run, st: dict, root: str) -> None:
        table = LakeTable(os.path.join(root, "table"), num_buckets=self.BUCKETS, merge_mode="auto")
        eng = ReplayEngine(table, normalize=normalize_change_events)
        for s in st["segs"]:
            out = run.replay(eng, f"seg-{s.index}", s)
            run.check("standing table commit applied", out is not None and out.applied)
        st.update(table=table, bucket_files=bucket_files_of(run.spark, table, st["key_buckets"]),
                  delta_files=delta_files(table))
        run.facts["delta_files"] = st["delta_files"]

    def round(self, run: Run, st: dict) -> None:
        table, i, pool = st["table"], st["rounds"], st["keys"]
        keys = [pool[(i * self.LOOKUPS + j) % len(pool)] for j in range(self.LOOKUPS)]
        run.check_lookups(table, st["oracle"].cols, keys, st["expected"], st["bucket_files"])
        got = run.scan(table, st["delta_files"])
        run.check("scan aggregate equals the oracle", got == st["aggregates"], f"{got} != {st['aggregates']}")
        got = run.changes(table, 1)
        run.check("read_changes(1) counts equal the oracle", got == st["changes"], f"{got} != {st['changes']}")
        st["rounds"] = i + 1

    def checks(self, run: Run, st: dict) -> None:
        table, cols = st["table"], st["oracle"].cols
        run.check_digest("serve", table, cols, st["final"])
        run.check_ledger(table, [f"seg-{s.index}" for s in st["segs"]])
        run.check_maintenance(table, cols, st["final"])


WORKLOADS = {w.name: w for w in (Trickle, Serve)}
