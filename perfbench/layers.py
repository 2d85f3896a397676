"""Per-layer metrics of a traced run, folded from its spans.

A layer's figures come from the spans of the measured phase when the
layer ran there, else from the spans of set-up and checks (``serve``
commits only while it builds its table, ``trickle`` reads only while
it checks). Timings and per-commit counters are
medians over calls; outcome counters are totals. Names and units are
those of ``per_layer`` in BENCHMARK.json.
"""

from __future__ import annotations

import statistics

def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(tracer, gc_ms: float, snapshot_bytes: int) -> dict[str, float]:
    spans = tracer.spans

    def pick(name: str) -> list[dict]:
        named = [s for s in spans if s["name"] == name]
        measured = [s for s in named if s.get("phase") == "run"]
        return measured or named

    def wall(ss) -> list[float]:
        return [s["end"] - s["start"] for s in ss]

    offered = [s for s in pick("streaming.replay.replay_files") if "applied" in s]
    applied = [s for s in offered if s["applied"]]
    written = [s for s in applied if not s["noop"]]
    reads_key = pick("lake.read_key")
    reads = pick("lake.read")
    compacts = pick("lake.compact")
    return {
        "streaming.replay.batches_applied": len(applied),
        "streaming.replay.batches_skipped": len(offered) - len(applied),
        "lake.apply.wall_s": _median(s["apply_s"] for s in written),
        "lake.apply.stats_s": _median(s["stats_s"] for s in written),
        "lake.apply.write_s": _median(s["write_s"] for s in written),
        "lake.apply.checksum_s": _median(s["checksum_s"] for s in written),
        "lake.apply.other_s": _median(
            s["apply_s"] - s["stats_s"] - s["write_s"] - s["checksum_s"] for s in written
        ),
        "lake.apply.spark_jobs": _median(s["spark_jobs"] for s in written),
        "lake.apply.spark_tasks": _median(s["spark_tasks"] for s in written),
        "lake.apply.codegen_ms": _median(s["codegen_ms"] for s in written),
        "lake.apply.shuffle_bytes": _median(s["shuffle_bytes"] for s in written),
        "lake.apply.task_skew": _median(s["task_skew"] for s in written),
        "lake.apply.events_fenced": sum(s["events_fenced"] for s in applied),
        "lake.apply.noop_commits": sum(1 for s in applied if s["noop"]),
        "lake.apply.mor_commits": sum(1 for s in written if s["mode"] == "mor"),
        "lake.apply.cow_commits": sum(1 for s in written if s["mode"] == "cow"),
        "lake.apply.commit_attempts": sum(s["commit_attempts"] for s in applied),
        "lake.apply.bytes_written": _median(s["bytes_written"] for s in written),
        "lake.apply.files_written": _median(s["files_written"] for s in written),
        "lake.ledger.snapshot_bytes": snapshot_bytes,
        "lake.ledger.current_snapshot_ms": 1e3 * _median(wall(pick("lake.current_snapshot"))),
        "lake.read_key.wall_ms": 1e3 * _median(wall(reads_key)),
        "lake.read_key.spark_jobs": _median(s["spark_jobs"] for s in reads_key),
        "lake.read_key.bucket_files": _median(s["bucket_files"] for s in reads_key),
        "lake.read.wall_s": _median(wall(reads)),
        "lake.read.input_bytes": _median(s["input_bytes"] for s in reads),
        "lake.read.delta_files": _median(s["delta_files"] for s in reads),
        "lake.read_changes.wall_s": _median(wall(pick("lake.read_changes"))),
        "lake.compact.wall_s": _median(wall(compacts)),
        "lake.compact.bytes_rewritten": _median(s["bytes_rewritten"] for s in compacts),
        "lake.verify.wall_s": _median(wall(pick("lake.verify_bucket_checksums"))),
        "jvm.gc_ms": gc_ms,
        "trace.overhead_ms_per_span": 1e3 * tracer.overhead_s / max(len(spans), 1),
    }
