#!/usr/bin/env python
"""Replay throughput vs payload size (code-file-sized contents).

The target table is source-code repository metadata — real `content`
values are file-sized (KBs), while the round benches replay ~100-byte
synthetic bodies. This probe answers: what does the replay pipeline do
when rows are 4 KB / 32 KB — does throughput become byte-bound (healthy:
the engine moves bytes at disk/memcpy speed) or fall off a cliff
(per-row overhead dominating)?

Protocol: for each payload size, a deterministic corpus derived from
the standard synth stream with `content` inflated by repeating the
row's sha-derived body to the target size (per-row content stays unique
and deterministic). 4 seq-range batches into a fresh 32-bucket
copy-on-write LakeTable with the default read-back checksum
certification (the bench headline's mode — it re-reads every written
byte, so its cost is part of the honest number). One warmed local[8]
JVM, AQE off, 3 interleaved rounds per size, minima reported. Events
are scaled down as payloads grow so each run moves a comparable (not
identical) byte volume.

Output: BENCH/payload_probe.json (+ summary for PAYLOAD.md).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from mex_extractors_spark import synth  # noqa: E402
from mex_extractors_spark.lake.table import LakeTable  # noqa: E402

BASE = os.environ.get("PAYLOAD_DIR", "/dev/shm/spark-bench/payload")
BATCHES = 4
CORES = 8
ROUNDS = 3
# (label, n_events, approx content bytes)
SIZES = [("100B", 1_000_000, None), ("4KB", 200_000, 4096), ("32KB", 50_000, 32768)]


def corpus(spark, n_events: int, target_bytes: int | None, path: str) -> None:
    ev = synth.events(spark, n_events, n_repos=max(2_000, n_events // 800),
                      paths_per_repo=200)
    if target_bytes is not None:
        # inflate deterministically: repeat the row's unique body to the
        # target size (never a constant blob — constant payloads would
        # compress/dedup unrealistically well in parquet)
        unit = F.sha2(F.concat_ws("|", "repo", "path", F.col("seq").cast("string")), 256)
        reps = target_bytes // 64
        ev = ev.withColumn(
            "content",
            F.when(F.col("op") != "D", F.repeat(unit, reps)).otherwise(F.lit(None)),
        )
    ev.write.parquet(path)


def replay(spark, ev_path: str, tag: str) -> float:
    ev = spark.read.parquet(ev_path)
    hi = ev.agg(F.max("seq")).first()[0]
    step = hi // BATCHES
    lake = os.path.join(BASE, f"lake_{tag}")
    shutil.rmtree(lake, ignore_errors=True)
    table = LakeTable(lake, num_buckets=32, key_cols=["repo", "path"])
    t0 = time.monotonic()
    for i in range(BATCHES):
        lo, up = i * step + 1, (i + 1) * step if i < BATCHES - 1 else hi
        table.apply_batch(
            spark, ev.where((F.col("seq") >= lo) & (F.col("seq") <= up)),
            f"pay-{tag}-{i}",
        )
    return round(time.monotonic() - t0, 3)


def main() -> None:
    spark = bench._bench_spark(CORES, "payload-probe", aqe=False)
    try:
        _run(spark)
    finally:
        spark.stop()
        shutil.rmtree(BASE, ignore_errors=True)


def _run(spark) -> None:
    shutil.rmtree(BASE, ignore_errors=True)
    os.makedirs(BASE, exist_ok=True)
    meta: dict[str, dict] = {}
    for label, n, tb in SIZES:
        p = os.path.join(BASE, f"ev_{label}")
        corpus(spark, n, tb, p)
        ev = spark.read.parquet(p)
        total_bytes = ev.agg(F.sum(F.length("content"))).first()[0]
        meta[label] = {"events": n, "content_bytes": int(total_bytes),
                       "avg_row_bytes": round(total_bytes / n, 1), "path": p}

    # warm-up (not recorded)
    replay(spark, meta["100B"]["path"], "warm")

    runs: dict[str, list[float]] = {label: [] for label, _n, _tb in SIZES}
    for _r in range(ROUNDS):
        for label, _n, _tb in SIZES:
            sec = replay(spark, meta[label]["path"], label)
            runs[label].append(sec)
            print(f"{label}: {sec}s", flush=True)

    out = {"protocol": (
        f"{BATCHES} seq-range batches into a fresh 32-bucket cow table, "
        f"readback checksum certification, local[{CORES}], AQE off, tmpfs, "
        f"{ROUNDS} interleaved rounds per size, minima reported; content "
        "inflated by repeating each row's unique sha-derived body"
    ), "sizes": {}}
    for label, _n, _tb in SIZES:
        best = min(runs[label])
        m = meta[label]
        out["sizes"][label] = {
            "events": m["events"],
            "avg_row_bytes": m["avg_row_bytes"],
            "runs_s": runs[label],
            "best_s": best,
            "events_per_sec": round(m["events"] / best),
            "content_mb_per_sec": round(m["content_bytes"] / best / 1e6, 1),
        }
    with open(os.path.join(REPO, "BENCH", "payload_probe.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
