#!/usr/bin/env python
"""Mid-stream schema evolution cost on the replay hot path.

The north rule's replay contract includes schema evolution (added
lang/content-derived columns, type widening) handled by a schema-merge
step before each apply batch. This probe measures what that step COSTS
at replay time — asserted-free evidence instead of "it should be cheap":

- ONE pre-generated corpus (4M events, 8 equal seq-range batches) on
  tmpfs; one warmed JVM at local[8]; AQE off (the bench protocol).
- CONTROL replay: all 8 batches arrive with the full, constant schema
  (repo, path, seq, op, content, lang, content_len:long, tokens:long).
- EVOLUTION replay: the same events, but the schema GROWS mid-stream —
  batches 1-2 have no lang and content_len:int, batch 3 adds lang,
  batch 5 widens content_len int->bigint, batch 7 adds tokens. Four
  schema versions over one replay; every batch after a change carries
  rows that must be read back through the evolved schema.
- INTERLEAVED rounds (control, evolution, control, ...) so host-noise
  windows hit both variants equally; minima reported (noise on a shared
  box is additive).
- After the timed runs: both converged tables must agree on
  (repo, path, seq, sha256(content)) — evolution changes METADATA, not
  state — and the evolution table must have recorded 4 schema versions.

Output: BENCH/evolution_probe.json (+ summary printed for EVOLUTION.md).
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

N_EVENTS = 4_000_000
BATCHES = 8
CORES = 8
ROUNDS = 3
BASE = os.environ.get("EVO_DIR", "/dev/shm/spark-bench/evo")


def batch_df(ev, i: int, variant: str):
    step = N_EVENTS // BATCHES
    lo, hi = i * step + 1, (i + 1) * step
    b = ev.where((F.col("seq") >= lo) & (F.col("seq") <= hi))
    clen = F.when(F.col("op") != "D", F.length("content"))
    toks = F.when(F.col("op") != "D", F.size(F.split(F.col("content"), "\\s+")))
    if variant == "control":
        return b.select(
            "repo", "path", "seq", "op", "content", "lang",
            clen.cast("long").alias("content_len"),
            toks.cast("long").alias("tokens"),
        )
    if i < 2:  # schema v1: no lang, content_len is INT
        return b.select(
            "repo", "path", "seq", "op", "content",
            clen.cast("int").alias("content_len"),
        )
    if i < 4:  # v2: + lang (added column)
        return b.select(
            "repo", "path", "seq", "op", "content",
            clen.cast("int").alias("content_len"), "lang",
        )
    if i < 6:  # v3: content_len widened int -> bigint
        return b.select(
            "repo", "path", "seq", "op", "content",
            clen.cast("long").alias("content_len"), "lang",
        )
    # v4: + tokens (added column)
    return b.select(
        "repo", "path", "seq", "op", "content",
        clen.cast("long").alias("content_len"), "lang",
        toks.cast("long").alias("tokens"),
    )


def run(spark, ev, variant: str, tag: str) -> tuple[LakeTable, float, list[float]]:
    lake = os.path.join(BASE, f"lake_{tag}")
    shutil.rmtree(lake, ignore_errors=True)
    table = LakeTable(lake, num_buckets=32, key_cols=["repo", "path"])
    per_batch: list[float] = []
    t0 = time.monotonic()
    for i in range(BATCHES):
        tb = time.monotonic()
        table.apply_batch(spark, batch_df(ev, i, variant), f"evo:{i}")
        per_batch.append(round(time.monotonic() - tb, 3))
    return table, round(time.monotonic() - t0, 3), per_batch


def main() -> None:
    spark = bench._bench_spark(CORES, "evolution-probe", aqe=False)
    try:
        _run_probe(spark)
    finally:
        # never leave a 4M-event corpus + three lakes in tmpfs RAM or a
        # local[8] JVM running to skew later interleaved measurements
        spark.stop()
        shutil.rmtree(BASE, ignore_errors=True)


def _run_probe(spark) -> None:
    shutil.rmtree(BASE, ignore_errors=True)
    os.makedirs(BASE, exist_ok=True)
    ev_dir = os.path.join(BASE, "events")
    synth.events(
        spark, N_EVENTS, n_repos=N_EVENTS // 800, paths_per_repo=200
    ).write.parquet(ev_dir)
    ev = spark.read.parquet(ev_dir)

    # JVM/codegen warm-up replay (not recorded)
    run(spark, ev.where(F.col("seq") <= 100_000), "control", "warm")

    results: dict[str, list] = {"control": [], "evolution": []}
    batch_times: dict[str, list] = {"control": [], "evolution": []}
    tables: dict[str, LakeTable] = {}
    for r in range(ROUNDS):
        for variant in ("control", "evolution"):
            table, total, per_batch = run(spark, ev, variant, variant)
            results[variant].append(total)
            batch_times[variant].append(per_batch)
            tables[variant] = table
            print(f"round {r} {variant}: {total}s  batches={per_batch}", flush=True)

    # read-path cost: a converged scan through 4 schema versions (per-
    # file-group align_to_schema projections) vs the 1-version control.
    # Full-width action on purpose: a bare count() lets Catalyst prune
    # every aligned column out of the scan, measuring nothing — this
    # aggregate references EVERY column, including the widened
    # content_len and the null-filled lang/tokens of pre-evolution
    # file groups, so the alignment projections actually execute.
    read_times: dict[str, float] = {}
    for variant, t in tables.items():
        best = None
        for _ in range(3):
            t0 = time.monotonic()
            t.read(spark).agg(
                F.max("seq"),
                F.count("content"),
                F.sum(F.length("content")),
                F.sum("content_len"),
                F.count("lang"),
                F.count("tokens"),
            ).collect()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        read_times[variant] = round(best, 3)

    # convergence: evolution is metadata-only — state identical
    def state(t: LakeTable):
        return (
            t.read(spark)
            .select("repo", "path", "seq", F.sha2(F.col("content"), 256).alias("sha"))
        )

    diff = (
        state(tables["control"]).exceptAll(state(tables["evolution"])).count()
        + state(tables["evolution"]).exceptAll(state(tables["control"])).count()
    )
    schema_versions = int(tables["evolution"].current_snapshot()["schema_version"])

    best_c = min(results["control"])
    best_e = min(results["evolution"])
    out = {
        "protocol": (
            f"{N_EVENTS} events / {BATCHES} batches, local[{CORES}], AQE off, "
            f"tmpfs corpus+lake, {ROUNDS} interleaved rounds, minima reported; "
            "evolution replay crosses 4 schema versions (add lang @b3, widen "
            "content_len int->bigint @b5, add tokens @b7)"
        ),
        "runs": results,
        "per_batch_seconds": batch_times,
        "best_control_s": best_c,
        "best_evolution_s": best_e,
        "overhead_pct": round((best_e / best_c - 1) * 100, 1),
        "read_best_s": read_times,
        "read_overhead_pct": round(
            (read_times["evolution"] / read_times["control"] - 1) * 100, 1
        ),
        "state_diff_rows": diff,
        "schema_versions_recorded": schema_versions,
        "events_per_sec_control": round(N_EVENTS / best_c),
        "events_per_sec_evolution": round(N_EVENTS / best_e),
    }
    with open(os.path.join(REPO, "BENCH", "evolution_probe.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out, indent=1))
    assert diff == 0, "evolution must not change converged state"
    assert schema_versions == 4, schema_versions


if __name__ == "__main__":
    main()
