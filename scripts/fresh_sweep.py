#!/usr/bin/env python
"""Fresh-only pinned scaling sweep on the CURRENT (HEAD) engine.

Round-3 verdict item 3: reproduce 2->8 >= 0.8 on a clean fresh-only
window (no stored-minima history), or restructure the headline. This
script is the round-4 answer: the same protocol as the r2-vs-r3 A/B
(`scripts/ab_probe.py`, since removed — whose interleaved r3 runs already measured a
fresh 2->8 of 0.907 in a clean window), run on the round-4 HEAD engine:

- one pre-generated 16M-event/2-segment corpus on tmpfs (shared with
  the A/B probe; regenerated here if absent);
- each level taskset-pinned to exactly N CPUs;
- repeats ROTATED across levels (1,2,4,8, 1,2,4,8, ...) so a noisy
  host window degrades every level equally instead of one;
- per-process JIT warm-up replay before the clock, lake on tmpfs;
- best-of-N minima reported, but every raw run recorded.

Output: BENCH/scaling_r04_fresh.json with fresh-only 1->4 and 2->8
pair efficiencies. Resumable: runs append to
BENCH/fresh_sweep_runs.jsonl; --summarize folds the log.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORPUS = os.environ.get("AB_CORPUS", "/dev/shm/spark-bench/ab_corpus")
# separate runs files per engine state: minima must never mix engines
# (the round-3 lesson — a scaling claim is only as clean as its window)
RUNS_FILE = os.environ.get(
    "FRESH_SWEEP_RUNS", os.path.join(REPO, "BENCH", "fresh_sweep_runs.jsonl")
)
OUT_FILE = os.environ.get(
    "FRESH_SWEEP_OUT", os.path.join(REPO, "BENCH", "scaling_r04_fresh.json")
)
PROTOCOL = os.environ.get(
    "FRESH_SWEEP_PROTOCOL",
    "round-4 HEAD engine; taskset-pinned; shared pre-generated 16Mx2 "
    "tmpfs corpus; repeats rotated across levels; fresh-only (no "
    "stored-minima merge)",
)
LEVELS = (1, 2, 4, 8)
EVENTS = 16_000_000
BATCHES = 2


def gen_corpus() -> None:
    if os.path.exists(os.path.join(CORPUS, "_done")):
        return
    os.makedirs(CORPUS, exist_ok=True)
    sys.path.insert(0, REPO)
    import bench

    spark = bench._bench_spark(32, "fresh-gen")
    bench.gen_events(spark, os.path.join(CORPUS, "ev16m"), EVENTS, 2, 20_000, 200)
    bench.gen_events(spark, os.path.join(CORPUS, "warm"), 100_000, 2, 20_000, 200)
    spark.stop()
    open(os.path.join(CORPUS, "_done"), "w").write("ok")


def run_one(cores: int) -> dict:
    cmd = [
        "taskset", "-c", f"0-{cores - 1}",
        sys.executable, "bench.py", "--replay-only",
        f"--cores={cores}", f"--events={EVENTS}", f"--batches={BATCHES}",
        f"--events-dir={os.path.join(CORPUS, 'ev16m')}",
        f"--warm-dir={os.path.join(CORPUS, 'warm')}",
    ]
    out = subprocess.run(
        cmd, capture_output=True, text=True, cwd=REPO,
        env={**os.environ, "SPARK_GRAFT_CPUS": str(cores)},
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.stderr.write(out.stdout[-2000:] + "\n" + out.stderr[-4000:])
        raise SystemExit(f"fresh sweep run failed: cores={cores}")
    return json.loads(lines[-1])


def summarize() -> None:
    runs: dict[str, list[float]] = {}
    with open(RUNS_FILE) as fh:
        for line in fh:
            rec = json.loads(line)
            runs.setdefault(str(rec["cores"]), []).append(rec["result"]["seconds"])
    best = {c: min(v) for c, v in runs.items()}

    def eff(lo: str, hi: str) -> float | None:
        if lo not in best or hi not in best:
            return None
        return round((best[lo] / best[hi]) / (int(hi) / int(lo)), 3)

    doc = {
        "best_seconds": {c: best[c] for c in sorted(best, key=int)},
        "events": EVENTS,
        "pairs_fresh_only": {"1->4": eff("1", "4"), "2->8": eff("2", "8")},
        "protocol": PROTOCOL,
        "runs": {c: runs[c] for c in sorted(runs, key=int)},
    }
    path = OUT_FILE
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
    print(json.dumps(doc["pairs_fresh_only"]))


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--summarize", action="store_true")
    ap.add_argument("--rounds", type=int, default=4, help="repeats per level")
    ap.add_argument(
        "--levels", default=None,
        help="comma-separated core counts (default all); e.g. --levels=2,8 "
        "to top up a window-sensitive pair with extra repeats",
    )
    ap.add_argument("--round-base", type=int, default=0, help="round tag offset")
    args = ap.parse_args()
    if args.summarize:
        summarize()
        return
    levels = (
        tuple(int(x) for x in args.levels.split(",")) if args.levels else LEVELS
    )
    gen_corpus()
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    for rnd in range(args.round_base, args.round_base + args.rounds):
        for cores in levels:
            res = run_one(cores)
            with open(RUNS_FILE, "a") as fh:
                fh.write(json.dumps({"cores": cores, "round": rnd, "result": res}) + "\n")
            print(json.dumps({"round": rnd, "cores": cores, "seconds": res["seconds"]}),
                  flush=True)
    summarize()


if __name__ == "__main__":
    main()
