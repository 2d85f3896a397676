"""Steadiness check: run workloads in two separate sets of seeded,
untraced runs and compare each end-to-end metric's spread and the gap
between the sets' medians with the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload trickle --seeds 1-10

For every metric it prints, per set, the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread, i.e.
(q3 - q1) / median; then the gap between the second and the first
set's medians as a share of the first, signed so that a positive gap is
a change for the worse; then the bound. ``ok`` means every spread (but
that of ``setup_s``, which has no spread rule) is within the bound and
the gap is not worse than the bound. A second table gives the same
figures, ungated, for a few wall-time and host figures of the detail
line. The check fails unless every run is correct with 0 failed
operations. Runs go one at a time; a summary is written to
``perfbench/_steady/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SETS = 2
# ungated figures of the detail line, shown beside the gated ones
DETAIL = ["setup_wall_s", "op_p50_ms", "ops_per_s", "host_steal_share"]


def seed_list(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    res["detail"] = json.loads(lines[-2])["detail"] if len(lines) > 1 else {}
    return res


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def per_set(sets: list[list[dict]], get) -> list[dict]:
    return [summarize([get(r) for r in runs]) for runs in sets]


def row(name: str, stats: list[dict]) -> str:
    return f"{name:<22}" + "".join(
        f"{p['median']:>12.4g}{p['q1']:>10.4g}{p['q3']:>10.4g}{p['spread']:>8.3f}" for p in stats)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    seeds = seed_list(args.seeds)
    os.makedirs(os.path.join(BENCH_DIR, "_steady"), exist_ok=True)
    all_ok = True
    for w in args.workload:
        sets = []
        for k in range(SETS):
            runs = []
            for s in seeds:
                r = one_run(w, s, spec["run_seconds"])
                runs.append(r)
                print(f"{w} set {k + 1} seed {s}: wall {r['wall_s']:.1f} s, correct {r['correct']}, "
                      f"failed {r['failed']}/{r['attempted']}", flush=True)
            sets.append(runs)
        print(f"\n== {w}: {SETS} sets x {len(seeds)} seeds {args.seeds}")
        header = f"{'metric':<22}" + "".join(
            f"{'set' + str(k + 1) + ' med':>12}{'q1':>10}{'q3':>10}{'spread':>8}" for k in range(SETS))
        print(header + f"{'gap':>8}{'bound':>7}  ok")
        summary = {"seeds": seeds, "walls": [[r["wall_s"] for r in runs] for runs in sets],
                   "runs": sets, "metrics": {}}
        failed = sum(r["failed"] for runs in sets for r in runs)
        attempted = sum(r["attempted"] for runs in sets for r in runs)
        correct = all(r["correct"] for runs in sets for r in runs)
        for name, m in bounds.items():
            stats = per_set(sets, lambda r: r["metrics"][name]["value"])
            base, last = stats[0]["median"], stats[-1]["median"]
            gap = (last - base) / base if base else 0.0
            if m["better"] == "higher":
                gap = -gap
            ok = gap <= m["bound"] and (name == "setup_s" or all(p["spread"] <= m["bound"] for p in stats))
            all_ok &= ok
            summary["metrics"][name] = {"sets": stats, "gap": gap, "bound": m["bound"], "ok": ok}
            print(row(name, stats) + f"{gap:>8.3f}{m['bound']:>7}  {'ok' if ok else 'NO'}")
        print("\nnot gated (detail line):")
        print(header)
        for name in DETAIL:
            print(row(name, per_set(sets, lambda r: r["detail"][name])))
        walls = [x for ws in summary["walls"] for x in ws]
        print(f"correct in every run: {correct}; failed: {failed} of {attempted}; "
              f"run wall median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        all_ok &= correct and failed == 0
        summary.update(correct=correct, failed=failed, attempted=attempted)
        with open(os.path.join(BENCH_DIR, "_steady", f"{w}.json"), "w") as fh:
            json.dump(summary, fh, indent=1)
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
