"""Benchmark of the ingest and serving paths of mex_extractors_spark.

    python3 perfbench/run.py --workload trickle|serve \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run starts Spark in local mode
(one task slot per CPU, driver heap ``SPARK_GRAFT_DRIVER_MEM``, 2g
unless set), writes its inputs from the seed, sets the workload up three
times (trickle also runs one unmeasured round on the first), measures whole rounds of the workload for ``--seconds`` seconds
(trickle's inputs hold one round), checks the final state against an
independent DuckDB oracle, and prints two JSON lines: per-operation
detail, then the result ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end ones of
BENCHMARK.json, with ``--trace 1`` the per-layer ones (and the spans
are written to ``perfbench/_traces/``). A failed check or a failed
operation makes the result incorrect and the exit code 1.

Everything it writes stays under ``perfbench/_work/`` (removed at the
end) and ``perfbench/_traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SETUPS = 3


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["trickle", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def isolate(work: str) -> dict:
    """Point every temp and scratch directory of Python, the JVM and
    Spark into ``work``; return the Spark settings that do the same."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    # no hsperfdata under /tmp, from the launcher JVM or the driver JVM
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    return {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": jvm_opts,
    }


class Process:
    """CPU seconds and peak RSS of the Spark JVM plus this driver."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.tick = os.sysconf("SC_CLK_TCK")

    def cpu_s(self) -> float:
        with open(f"/proc/{self.jvm_pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        jvm = (int(fields[11]) + int(fields[12])) / self.tick  # utime, stime
        me = resource.getrusage(resource.RUSAGE_SELF)
        return jvm + me.ru_utime + me.ru_stime

    @staticmethod
    def host_ticks() -> tuple[int, int]:
        """(steal, total) CPU ticks of the whole host since boot: steal
        is time the hypervisor gave this machine's CPUs to others."""
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
        return ticks[7], sum(ticks)

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            hwm = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        return (hwm + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(run, setup_cpu, cpu_s, proc, table_bytes, live_rows) -> dict:
    """The gated metrics. Wall time is not among them, of the phase nor
    of set-up: on a shared host the hypervisor takes 0-26% of the CPUs
    from a run (steal); wall time moved up to 85% with it, CPU time up
    to 25%."""
    return {
        "setup_s": median(setup_cpu),
        "cpu_ms_per_op": cpu_s * 1e3 / len(run.ops),
        "table_bytes_per_row": table_bytes / live_rows,
        "peak_rss_mb": proc.peak_rss_mb(),
    }


def detail(run, phase_s, cpu_s, rounds) -> dict:
    """Figures of the measured phase that are not gated: wall-time
    latency and rate, medians per operation kind, and the ingest rate
    and costs where events flowed."""
    out = {
        "rounds": rounds,
        "phase_s": phase_s,
        "op_p50_ms": median([w for _, w in run.ops]) * 1e3,
        "ops_per_s": len(run.ops) / phase_s,
        "scratch_peak_mb": run.scratch_peak / 2**20,
    }
    for k in sorted({k for k, _ in run.ops}):
        ds = sorted(w for kk, w in run.ops if kk == k)
        out[f"{k}_n"] = len(ds)
        out[f"{k}_p50_ms"] = median(ds) * 1e3
        if len(ds) >= 100:
            out[f"{k}_p90_ms"] = ds[int(0.9 * len(ds))] * 1e3
    if run.events_offered:
        out["ingest_events_per_s"] = run.events_offered / phase_s
        out["cpu_s_per_mevent"] = cpu_s * 1e6 / run.events_offered
        out["write_bytes_per_event"] = run.write_bytes / run.events_offered
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mex_extractors_spark")):
        print(f"perfbench: no mex_extractors_spark package beside {BENCH_DIR}", file=sys.stderr)
        return 2
    work = os.path.join(BENCH_DIR, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    conf = isolate(work)
    sys.path[:0] = [ROOT, BENCH_DIR]

    from mex_extractors_spark.session import get_spark
    import layers
    from spans import NullTracer, Tracer
    from workloads import WORKLOADS, Run, live_files

    cpus = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", cores=cpus, shuffle_partitions=2 * cpus, extra_conf=conf
    )
    session_s = time.perf_counter() - t0
    gateway = spark.sparkContext._gateway
    try:
        spark.sparkContext.setLogLevel("ERROR")
        proc = Process(int(spark.sparkContext._jvm.ProcessHandle.current().pid()))
        tracer = Tracer(spark) if args.trace else NullTracer()
        run = Run(spark, tracer, args.seed, work)
        wl = WORKLOADS[args.workload]()

        t = time.perf_counter()
        st = wl.prepare(run, os.path.join(work, "inputs"))
        inputs_s = time.perf_counter() - t
        setup_times, setup_cpu = [], []
        for k in range(SETUPS):
            root = os.path.join(work, f"setup{k}")
            c, t = proc.cpu_s(), time.perf_counter()
            wl.setup(run, st, root)
            setup_times.append(time.perf_counter() - t)
            setup_cpu.append(proc.cpu_s() - c)
            if k == 0 and wl.WARM_ROUND:  # the measured round then runs on a warm JVM
                wl.round(run, st)
            run.note_scratch()
            if k < SETUPS - 1:
                shutil.rmtree(root)

        run.phase = "run"
        gc0 = tracer.gc_ms() if args.trace else 0.0
        (steal0, total0), cpu0, t = proc.host_ticks(), proc.cpu_s(), time.perf_counter()
        rounds = 0
        while True:
            wl.round(run, st)
            rounds += 1
            if rounds == wl.MAX_ROUNDS or time.perf_counter() - t >= args.seconds:
                break
        phase_s = time.perf_counter() - t
        cpu_s = proc.cpu_s() - cpu0
        steal1, total1 = proc.host_ticks()
        gc_ms = tracer.gc_ms() - gc0 if args.trace else 0.0

        table = st["table"]
        table_bytes = sum(os.path.getsize(f) for f in live_files(table))
        snap = table.current_snapshot()
        snap_bytes = os.path.getsize(os.path.join(table.ledger_dir, f"v{snap['version']:08d}.json"))
        run.phase = "check"
        t = time.perf_counter()
        wl.checks(run, st)
        check_s = time.perf_counter() - t
        live_rows = st["final"][0]
        run.note_scratch()
        st["oracle"].close()

        if args.trace:
            values = layers.per_layer(tracer, gc_ms, snap_bytes)
            os.makedirs(os.path.join(BENCH_DIR, "_traces"), exist_ok=True)
            tracer.write(os.path.join(BENCH_DIR, "_traces", f"{args.workload}-seed{args.seed}.json"))
        else:
            values = end_to_end(run, setup_cpu, cpu_s, proc, table_bytes, live_rows)
        info = detail(run, phase_s, cpu_s, rounds)
        info.update(run.facts, host_steal_share=(steal1 - steal0) / max(total1 - total0, 1))
        info.update(session_s=session_s, inputs_s=inputs_s, setup_runs_s=setup_times, setup_wall_s=median(setup_times),
                    setup_cpu_s=setup_cpu, check_s=check_s, failed_checks=run.failures)
    finally:
        spark.stop()
        jvm_proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if jvm_proc is not None:
            jvm_proc.stdin.close()
            try:
                jvm_proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm_proc.kill()
                jvm_proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    ok = not run.failures and run.failed == 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({"detail": info}))
    print(json.dumps({
        "correct": ok,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
