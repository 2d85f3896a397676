#!/usr/bin/env python
"""Interleaved A/B of two git revisions on the benchmark.

    python scripts/ab.py REV_A REV_B --workload trickle --workload serve \\
        --seeds 1-5 [--trace 0|1]

Extracts each revision with ``git archive`` under ``.ab/`` and, for
every workload and seed, runs ``perfbench/run.py --workload W --seed S
--seconds T --trace X`` once in each copy, with ``T`` the
``run_seconds`` of BENCHMARK.json, one run at a time. The
revision that goes first alternates from seed to seed, so a slow window
of the host falls on both revisions alike.

Prints one JSON document. Per workload and metric it holds each
revision's median and quartiles (``statistics.quantiles(n=4)``), the gap
of B's median against A's as a share of A's (signed so that a positive
gap is B being worse, by the metric's ``better`` in BENCHMARK.json), and
each revision's median split by which revision ran first. It also
applies the claim rule: ``b_wins`` counts the seeds whose pair B won
(a tie counts for neither side) out of ``pairs``, and ``beyond_iqr``
says whether the medians lie further apart than A's q3 - q1. Every run
is listed with its seed, order, wall time, correctness, failed
operations, failed checks, and the ``rounds`` and ``host_steal_share``
of its detail line: a faster revision may fit a second, warmer round
into the same measured phase. Exits 1 unless every run is correct with
0 failed. The extracted copies are removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "perfbench"))

from steady import seed_list, summarize  # noqa: E402


def git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], cwd=REPO, check=True, capture_output=True, text=True
    ).stdout.strip()


def checkout(rev: str) -> str:
    sha = git("rev-parse", "--verify", f"{rev}^{{commit}}")
    path = os.path.join(REPO, ".ab", sha[:12])
    if not os.path.isdir(path):
        os.makedirs(path)
        tar = subprocess.run(["git", "archive", sha], cwd=REPO, check=True,
                             capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", path], input=tar, check=True)
    return path


def run_one(path: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    p = subprocess.run(cmd, cwd=path, capture_output=True, text=True, timeout=1800)
    wall = time.perf_counter() - t
    lines = p.stdout.strip().splitlines()
    if not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{path}: {workload} seed {seed} printed no result (exit {p.returncode})")
    res = json.loads(lines[-1])
    detail = json.loads(lines[-2])["detail"] if len(lines) > 1 else {}
    return {"wall_s": round(wall, 1), "correct": res["correct"], "failed": res["failed"],
            "attempted": res["attempted"], "failed_checks": detail.get("failed_checks"),
            "rounds": detail.get("rounds"), "host_steal_share": detail.get("host_steal_share"),
            "metrics": {k: v["value"] for k, v in res["metrics"].items()}}


def compare(runs: list[dict], better: dict[str, str]) -> dict:
    out = {}
    for name in runs[0]["metrics"]:
        def values(side, first=None):
            return [r["metrics"][name] for r in runs
                    if r["rev"] == side and first in (None, r["first"])]

        a, b = summarize(values("a")), summarize(values("b"))
        sign = -1 if better.get(name) == "higher" else 1
        gap = sign * (b["median"] - a["median"]) / a["median"] if a["median"] else 0.0
        pairs = {}
        for r in runs:
            pairs.setdefault(r["seed"], {})[r["rev"]] = r["metrics"][name]
        out[name] = {
            "a": a, "b": b, "gap": round(gap, 4),
            "pairs": len(pairs),
            "b_wins": sum(sign * (p["b"] - p["a"]) < 0 for p in pairs.values()),
            "beyond_iqr": abs(b["median"] - a["median"]) > a["q3"] - a["q1"],
            "by_order": {f"{first}_first": {side: statistics.median(values(side, first))
                                            for side in "ab" if values(side, first)}
                         for first in "ab"},
        }
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("rev_a")
    ap.add_argument("rev_b")
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if len(seed_list(args.seeds)) < 2:
        ap.error("quartiles need at least two seeds")
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    seconds = spec["run_seconds"]
    dirs = {"a": checkout(args.rev_a), "b": checkout(args.rev_b)}
    report = {"a": args.rev_a, "b": args.rev_b, "trace": args.trace,
              "seconds": seconds, "workloads": {}}
    try:
        for w in args.workload:
            runs = []
            for i, seed in enumerate(seed_list(args.seeds)):
                order = "ab" if i % 2 == 0 else "ba"
                for side in order:
                    r = run_one(dirs[side], w, seed, seconds, args.trace)
                    runs.append({"rev": side, "seed": seed, "first": order[0], **r})
                    print(f"{w} seed {seed} {side}: wall {r['wall_s']} s, correct {r['correct']}, "
                          f"failed {r['failed']}/{r['attempted']}, rounds {r['rounds']}, "
                          f"steal {r['host_steal_share']}", file=sys.stderr, flush=True)
            report["workloads"][w] = {
                "correct": all(r["correct"] for r in runs),
                "failed": sum(r["failed"] for r in runs),
                "metrics": compare(runs, better),
                "runs": runs,
            }
    finally:
        for path in set(dirs.values()):
            shutil.rmtree(path)
    print(json.dumps(report, indent=1))
    return 0 if all(w["correct"] and not w["failed"] for w in report["workloads"].values()) else 1


if __name__ == "__main__":
    sys.exit(main())
