#!/usr/bin/env python
"""Pinned A/B of parquet WRITER settings on the replay hot path.

The write phase is ~80% of every replay profile (BENCH/BASELINE.md
Appendix G), and the lake writer currently runs Spark's defaults
(snappy + dictionary encoding on every column). Two hypotheses worth
one pinned probe each:

- codec: on tmpfs (standing in for cluster-bandwidth storage) the
  compression CPU may cost more than the byte savings return —
  lz4 / uncompressed could beat snappy;
- dictionary: the high-cardinality `content` / sha256 columns make the
  writer build a dictionary page per column chunk and then abandon it
  when it overflows — pure wasted CPU if no column dictionarizes well.

Protocol (same as the since-removed scripts/ab_probe.py / fresh_sweep.py): shared
pre-generated 16M-event tmpfs corpus, each run a fresh subprocess
taskset-pinned to 8 CPUs with a JIT warm-up before the clock, variants
INTERLEAVED round-robin so a noisy host window degrades all variants
equally, best-of-N minima compared. Raw runs appended to
BENCH/codec_runs.jsonl; --summarize folds the log into a table.

Verdict (see BENCH/CODEC.md): adopt a variant as the engine default
only if its best-of minimum beats baseline by >3% across >=3 rounds.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORPUS = os.environ.get("AB_CORPUS", "/dev/shm/spark-bench/ab_corpus")
RUNS_FILE = os.path.join(REPO, "BENCH", "codec_runs.jsonl")
EVENTS = 16_000_000
BATCHES = 2
CORES = 8

# variant -> (BENCH_PARQUET_CODEC, BENCH_PARQUET_DICT, BENCH_PARQUET_NODICT_COLS)
VARIANTS: dict[str, tuple[str | None, str | None, str | None]] = {
    "baseline_snappy_dict": (None, None, None),
    "lz4": ("lz4", None, None),
    "zstd": ("zstd", None, None),
    "uncompressed": ("uncompressed", None, None),
    "snappy_nodict": (None, "false", None),
    "lz4_nodict": ("lz4", "false", None),
    # targeted: dictionaries stay ON for the low-cardinality columns
    # (repo/path/op/lang dictionarize well — bytes matter on real storage)
    # and OFF only where they always overflow and get abandoned
    "snappy_nodict_hicard": (None, None, "content,commit,seq"),
}


def gen_corpus() -> None:
    if os.path.exists(os.path.join(CORPUS, "_done")):
        return
    os.makedirs(CORPUS, exist_ok=True)
    sys.path.insert(0, REPO)
    import bench

    spark = bench._bench_spark(32, "codec-gen")
    bench.gen_events(spark, os.path.join(CORPUS, "ev16m"), EVENTS, 2, 20_000, 200)
    bench.gen_events(spark, os.path.join(CORPUS, "warm"), 100_000, 2, 20_000, 200)
    spark.stop()
    open(os.path.join(CORPUS, "_done"), "w").write("ok")


def run_one(variant: str) -> dict:
    codec, dic, nodict_cols = VARIANTS[variant]
    env = dict(os.environ)
    if codec:
        env["BENCH_PARQUET_CODEC"] = codec
    if dic:
        env["BENCH_PARQUET_DICT"] = dic
    if nodict_cols:
        env["BENCH_PARQUET_NODICT_COLS"] = nodict_cols
    cmd = [
        "taskset", "-c", f"0-{CORES - 1}",
        sys.executable, "bench.py", "--replay-only",
        f"--cores={CORES}", f"--events={EVENTS}", f"--batches={BATCHES}",
        f"--events-dir={os.path.join(CORPUS, 'ev16m')}",
        f"--warm-dir={os.path.join(CORPUS, 'warm')}",
    ]
    out = subprocess.run(
        cmd, cwd=REPO, env=env, capture_output=True, text=True, check=True
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def summarize() -> dict:
    runs: dict[str, list[dict]] = {}
    if os.path.exists(RUNS_FILE):
        with open(RUNS_FILE) as f:
            for line in f:
                rec = json.loads(line)
                runs.setdefault(rec["variant"], []).append(rec["result"])
    table = {}
    for v, rs in runs.items():
        secs = sorted(r["seconds"] for r in rs)
        best = rs[min(range(len(rs)), key=lambda i: rs[i]["seconds"])]
        table[v] = {
            "n": len(rs),
            "best_s": secs[0],
            "all_s": secs,
            "best_events_per_sec": best["events_per_sec"],
            "best_phases": best["batch_phases"],
        }
    return table


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--variants", default=",".join(VARIANTS))
    ap.add_argument("--summarize", action="store_true")
    args = ap.parse_args()
    if args.summarize:
        print(json.dumps(summarize(), indent=1))
        return
    gen_corpus()
    variants = [v.strip() for v in args.variants.split(",") if v.strip()]
    os.makedirs(os.path.dirname(RUNS_FILE), exist_ok=True)
    for rnd in range(args.rounds):
        for v in variants:
            res = run_one(v)
            with open(RUNS_FILE, "a") as f:
                f.write(json.dumps({"variant": v, "round": rnd, "result": res}) + "\n")
            print(f"round {rnd} {v}: {res['seconds']} s "
                  f"({res['events_per_sec']:.0f} ev/s)", flush=True)
    print(json.dumps(summarize(), indent=1))


if __name__ == "__main__":
    main()
