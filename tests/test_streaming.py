"""Structured Streaming front-end + blocking-check integration
(SURVEY.md §2.9: T1 availableNow trigger, T4 blocking checks)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mex_extractors_spark import synth
from mex_extractors_spark.checks import CheckRule, count_check
from mex_extractors_spark.lake.table import LakeTable
from mex_extractors_spark.operators.lww import lww_latest
from mex_extractors_spark.streaming.replay import CheckFailed, ReplayEngine


def test_stream_from_files_converges(spark, tmp_path):
    """File-source stream → foreachBatch → same converged table as a
    direct batch replay of the identical events."""
    n = 800
    events = synth.events(spark, n, n_repos=15, paths_per_repo=10)
    src = str(tmp_path / "stream_src")
    # three event files arriving "over time"
    events.where("seq <= 300").write.parquet(src)
    events.where("seq > 300 AND seq <= 600").write.mode("append").parquet(src)
    events.where("seq > 600").write.mode("append").parquet(src)

    table = LakeTable(str(tmp_path / "stream_lake"), num_buckets=4)
    engine = ReplayEngine(table)
    q = engine.stream_from_files(
        spark,
        src,
        schema=events.schema,
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(180)

    ref_table = LakeTable(str(tmp_path / "batch_lake"), num_buckets=4)
    ReplayEngine(ref_table).replay(spark, events, 1, n, batch_size=n)

    got = sorted(map(tuple, table.read(spark).collect()))
    exp = sorted(map(tuple, ref_table.read(spark).collect()))
    assert got == exp and len(got) > 0


def test_legacy_stream_acks_scoped_to_resumed_checkpoint(spark, tmp_path):
    """The pre-namespacing ``stream:{N}`` acks are honored ONLY when
    resuming a checkpoint with prior progress whose namespace has not
    committed yet — a fresh checkpoint is a NEW stream and skipping its
    batches against another stream's legacy acks would be the exact
    lost-update bug the namespacing fixed."""
    import os

    from mex_extractors_spark.streaming.replay import _legacy_stream_acks

    events = synth.events(spark, 100, n_repos=5)
    table = LakeTable(str(tmp_path / "lake"), num_buckets=4)
    ReplayEngine(table)._apply_one(spark, events, "stream:0")

    ckpt = str(tmp_path / "ckpt")
    # fresh checkpoint (no offsets log): no grace
    assert _legacy_stream_acks(table, ckpt, "abc123") == set()
    # resumed pre-change checkpoint: legacy acks honored
    os.makedirs(os.path.join(ckpt, "offsets"))
    open(os.path.join(ckpt, "offsets", "0"), "w").write("{}")
    assert _legacy_stream_acks(table, ckpt, "abc123") == {"stream:0"}
    # a remote checkpointLocation cannot be statted: grace off, no crash
    assert _legacy_stream_acks(table, "hdfs://nn/ckpt", "abc123") == set()
    # file: URI spelling resolves to the same local dir
    assert _legacy_stream_acks(table, f"file://{ckpt}", "abc123") == {
        "stream:0"
    }
    # the era marker brands a post-change checkpoint: even with offsets
    # present and no namespaced commits (crash inside the first batch),
    # no grace
    ckpt2 = str(tmp_path / "ckpt2")
    os.makedirs(os.path.join(ckpt2, "offsets"))
    open(os.path.join(ckpt2, "offsets", "0"), "w").write("{}")
    from mex_extractors_spark.streaming.replay import _NS_MARKER

    open(os.path.join(ckpt2, _NS_MARKER), "w").write("abc123")
    assert _legacy_stream_acks(table, ckpt2, "abc123") == set()
    # once this namespace has committed, the grace window is over
    ReplayEngine(table)._apply_one(
        spark, events.where("seq > 90"), "stream:abc123:1"
    )
    assert _legacy_stream_acks(table, ckpt, "abc123") == set()


def test_stream_on_fresh_checkpoint_ignores_legacy_acks(spark, tmp_path):
    """A NEW stream (fresh checkpoint) over a table holding an old
    bare-format ack must apply its batches normally — batch numbering
    restarting at 0 is a coincidence, not an ack."""
    events = synth.events(spark, 200, n_repos=5)
    src = str(tmp_path / "stream_src")
    events.write.parquet(src)

    table = LakeTable(str(tmp_path / "lake"), num_buckets=4)
    # an old-format ack from some PRIOR pre-change stream
    ReplayEngine(table)._apply_one(spark, events.where("seq <= 50"), "stream:0")

    q = ReplayEngine(table).stream_from_files(
        spark,
        src,
        schema=events.schema,
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(180)
    applied = table.applied_batches()
    assert "stream:0" in applied and len(applied) > 1, applied
    # full stream landed: state equals a direct batch replay
    ref = LakeTable(str(tmp_path / "ref"), num_buckets=4)
    ReplayEngine(ref).replay(spark, events, 1, 200, batch_size=200)
    got = sorted(map(tuple, table.read(spark).collect()))
    assert got == sorted(map(tuple, ref.read(spark).collect()))


def test_blocking_check_aborts_commit(spark, tmp_path):
    table = LakeTable(str(tmp_path / "lake"), num_buckets=4)
    rule = CheckRule("fewer_than_x_items", 10_000, "min_batch_size")
    engine = ReplayEngine(table, pre_commit_checks=[count_check(rule)])
    events = synth.events(spark, 100, n_repos=5)
    with pytest.raises(CheckFailed):
        engine.replay(spark, events, 1, 100, batch_size=100)
    # nothing committed
    assert table.current_snapshot() is None


def test_yaml_driven_blocking_check(spark, tmp_path):
    """Reference parity (pipeline/checks/main.py:38-45): checks are
    declared in YAML rule files; a loaded blocking rule aborts the
    commit exactly like a hand-built one."""
    from mex_extractors_spark.checks import load_check_rules

    yml = tmp_path / "activity.yaml"
    yml.write_text(
        "rules:\n"
        "  - fail_if: fewer_than_x_items\n"
        "    value: 10000\n"
        "  - fail_if: x_items_more_than\n"
        "    value: 99\n"
        "    time_frame: 10d\n"
    )
    rules = load_check_rules(str(yml), name="activity")
    assert [r.fail_if for r in rules] == ["fewer_than_x_items", "x_items_more_than"]
    assert rules[1].time_frame == "10d"
    # historical rule semantics (main.py:check_historical_rule)
    assert rules[1].evaluate(200, [100]) is not None  # grew by >99 items
    assert rules[1].evaluate(150, [100]) is None
    assert rules[1].evaluate(200, None) is None  # no history -> pass

    table = LakeTable(str(tmp_path / "lake"), num_buckets=4)
    engine = ReplayEngine(
        table, pre_commit_checks=[count_check(r) for r in rules]
    )
    events = synth.events(spark, 100, n_repos=5)
    with pytest.raises(CheckFailed):
        engine.replay(spark, events, 1, 100, batch_size=100)
    assert table.current_snapshot() is None

    # unknown / graph-topology rules are rejected loudly
    bad = tmp_path / "bad.yaml"
    bad.write_text("rules:\n  - fail_if: less_than_x_inbound\n    value: 1\n")
    with pytest.raises(ValueError, match="outbound_connection_counts|asset graph"):
        load_check_rules(str(bad))
    bad2 = tmp_path / "bad2.yaml"
    bad2.write_text("rules:\n  - fail_if: made_up_rule\n    value: 1\n")
    with pytest.raises(ValueError, match="unknown fail_if"):
        load_check_rules(str(bad2))


def test_time_frame_history_selection(tmp_path):
    """counts_at mirrors the reference's historic-count pick
    (pipeline/checks/main.py:130-155): newest record at or before
    now - time_frame, else the oldest after it."""
    import json

    from mex_extractors_spark.checks import CheckRule, rules_to_checks
    from mex_extractors_spark.streaming.metrics import (
        MetricsLog,
        parse_time_frame,
    )

    assert parse_time_frame("10d") == 10 * 86400
    assert parse_time_frame("2m") == 60 * 86400
    assert parse_time_frame("1y") == 365 * 86400
    with pytest.raises(ValueError):
        parse_time_frame("3w")

    import time as _time

    log = MetricsLog(str(tmp_path / "metrics.jsonl"))
    now = _time.time()  # rules_to_checks uses real now inside counts_at
    recs = [
        {"ts": now - 20 * 86400, "rows_after": 100},
        {"ts": now - 9 * 86400, "rows_after": 150},
        {"ts": now - 86400, "rows_after": 200},
    ]
    with open(log.path, "w") as fh:
        for r in recs:
            fh.write(json.dumps(r) + "\n")
    # cutoff 10d ago: newest at/before it is the 20d-old record
    assert log.counts_at(time_frame="10d", now=now) == [100]
    # cutoff 5d ago: the 9d-old record
    assert log.counts_at(time_frame="5d", now=now) == [150]
    # cutoff older than everything: oldest AFTER it
    assert log.counts_at(time_frame="1y", now=now) == [100]
    assert log.counts_at() == [100, 150, 200]

    rule = CheckRule("x_percent_less_than", 20, "r", time_frame="5d")
    (check,) = rules_to_checks([rule], log)
    # provider pulls [150]; a 100-row batch dropped 33% > 20% -> fail
    class _Fake:
        def count(self):
            return 100

    # monkey: count_check calls batch.count() only
    assert check(_Fake()) is not None
    class _Ok:
        def count(self):
            return 140

    assert check(_Ok()) is None

    # append persists the WHOLE commit record, phase timers and OCC
    # telemetry included, plus the derived ts / events_per_sec
    from mex_extractors_spark.lake.table import ApplyStats

    full = MetricsLog(str(tmp_path / "full.jsonl"))
    full.append(
        ApplyStats(
            batch_id="b1", applied=True, events_in=10, seconds=2.0, mode="mor",
            t_stats=0.1, t_write=0.2, t_checksum=0.3, commit_attempts=2,
        ),
        extra={"note": "x"},
    )
    (rec,) = full.history()
    assert {
        "mode": "mor", "t_stats": 0.1, "t_write": 0.2, "t_checksum": 0.3,
        "commit_attempts": 2, "events_per_sec": 5.0, "note": "x",
    }.items() <= rec.items()
    assert "ts" in rec and rec["batch_id"] == "b1"


def test_normalize_hook_runs_before_apply(spark, tmp_path):
    """Raw kebab-aliased events are normalized inside the engine."""
    from mex_extractors_spark.sources.normalize import normalize_raw_events

    events = synth.events(spark, 200, n_repos=5)
    raw = events.select(
        F.col("seq").alias("sequence"),
        F.col("op").alias("operation"),
        F.col("repo").alias("repo-name"),
        F.col("path").alias("file-path"),
        F.col("commit").alias("commit-sha"),
        F.col("lang").alias("language"),
        F.col("content").alias("file-content"),
    )
    table = LakeTable(str(tmp_path / "lake"), num_buckets=4)
    engine = ReplayEngine(table, normalize=normalize_raw_events)
    # raw stream lacks a 'seq' column until normalize runs
    engine.replay(spark, raw, 1, 200, batch_size=200, seq_col="sequence")
    got = sorted(map(tuple, table.read(spark).select("repo", "path", "seq").collect()))
    ref = sorted(
        map(
            tuple,
            lww_latest(events).where("op != 'D'").select("repo", "path", "seq").collect(),
        )
    )
    assert got == ref


def test_tumbling_counts_static_matches_sql(spark, sf001):
    """Windowed rollup (batch/stream-symmetric plan) == plain SQL over
    the same static frame."""
    from mex_extractors_spark.streaming.windows import tumbling_counts

    ev = spark.read.parquet(f"{sf001}/events.parquet")
    got = tumbling_counts(ev, ts_col="ts", key_col="event_type", window="1 day")
    exp = (
        ev.groupBy(
            F.date_trunc("day", "ts").alias("window_start"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    g = {(r["window_start"], r["event_type"]): r["n"] for r in got.collect()}
    e = {(r["window_start"], r["event_type"]): r["n"] for r in exp.collect()}
    assert g == e and len(g) > 0


def test_session_windows_static(spark, sf001):
    from mex_extractors_spark.streaming.windows import session_windows

    ev = spark.read.parquet(f"{sf001}/events.parquet")
    out = session_windows(ev, ts_col="ts", key_col="user_id", gap="30 minutes")
    rows = out.collect()
    assert len(rows) > 0
    # sessions of one key never overlap
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r["user_id"], []).append((r["session_start"], r["session_end"]))
    for spans in by_key.values():
        spans.sort()
        for (s1, e1), (s2, _e2) in zip(spans, spans[1:]):
            assert e1 <= s2
    # every event is inside exactly one session of its key
    assert sum(r["n_events"] for r in rows) == ev.count()


def test_session_window_gap_boundary_is_inclusive(spark):
    """Pins the merge semantics the t5b oracle depends on: two events
    EXACTLY one gap apart merge into one session (session end = last
    ts + gap); one microsecond past the gap splits them."""
    import datetime as dt

    from mex_extractors_spark.streaming.windows import session_windows

    base = dt.datetime(2020, 1, 1)
    gap = dt.timedelta(minutes=30)
    eps = dt.timedelta(microseconds=1)
    ev = spark.createDataFrame(
        [(1, base), (1, base + gap), (2, base), (2, base + gap + eps)],
        "user_id long, ts timestamp",
    )
    rows = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in session_windows(ev, ts_col="ts", key_col="user_id").collect()
    )
    # user 1: ONE merged session ending at last-ts + gap
    assert rows[0] == (1, base, base + gap + gap, 2)
    # user 2: TWO sessions — eps past the gap does not merge
    assert [r[3] for r in rows[1:]] == [1, 1] and rows[1][0] == rows[2][0] == 2


def test_running_totals_stateful_stream(spark, tmp_path):
    """applyInPandasWithState custom stateful op: per-key totals carry
    across micro-batches; final state equals the batch ground truth."""
    from mex_extractors_spark.streaming.windows import running_totals

    n = 600
    events = synth.events(spark, n, n_repos=8, paths_per_repo=5)
    src = str(tmp_path / "src")
    events.where("seq <= 300").coalesce(1).write.parquet(src)
    events.where("seq > 300").coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = running_totals(stream, key_col="repo", seq_col="seq")
    q = (
        out.writeStream.format("memory")
        .queryName("running_totals_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # last update per key = final running state
    upd = spark.sql("SELECT * FROM running_totals_out").collect()
    final: dict = {}
    for r in upd:
        prev = final.get(r["key"])
        if prev is None or r["total_events"] >= prev["total_events"]:
            final[r["key"]] = r
    truth = {
        r["repo"]: (r["n"], r["mx"])
        for r in events.groupBy("repo")
        .agg(F.count(F.lit(1)).alias("n"), F.max("seq").alias("mx"))
        .collect()
    }
    assert {k: (v["total_events"], v["max_seq"]) for k, v in final.items()} == truth


def test_running_totals_watermark_exact_above_2_53(spark, tmp_path):
    """A nullable long column crosses Arrow->pandas as float64, where
    seqs above 2^53 round — the int64 NULL sentinel keeps the persisted
    watermark exact. 2^53 + 1 must come back bit-exact, NULL seqs count
    as events but carry no watermark."""
    from mex_extractors_spark.streaming.windows import running_totals

    big = (1 << 53) + 1
    rows = [("r1", big), ("r1", None), ("r2", None)]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "repo string, seq long").coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("repo string, seq long").parquet(src)
    q = (
        running_totals(stream, key_col="repo", seq_col="seq")
        .writeStream.format("memory")
        .queryName("rt_big_seq")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["key"]: (r["total_events"], r["max_seq"])
        for r in spark.sql("SELECT * FROM rt_big_seq").collect()
    }
    assert got == {"r1": (2, big), "r2": (1, None)}


def test_stream_from_files_mor_mode_converges(spark, tmp_path):
    """Structured Streaming foreachBatch over a merge-on-read table:
    micro-batches append deltas, compaction folds them, the converged
    state equals a copy-on-write batch replay of the same events."""
    n = 800
    events = synth.events(spark, n, n_repos=15, paths_per_repo=10)
    src = str(tmp_path / "stream_src")
    events.where("seq <= 400").write.parquet(src)
    events.where("seq > 400").write.mode("append").parquet(src)

    table = LakeTable(
        str(tmp_path / "stream_lake"), num_buckets=4, merge_mode="mor",
        max_deltas_per_bucket=None,
    )
    engine = ReplayEngine(table)
    q = engine.stream_from_files(
        spark,
        src,
        schema=events.schema,
        checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(180)
    assert any(
        m.get("deltas") for m in table.current_snapshot()["buckets"].values()
    )
    table.compact(spark)

    ref_table = LakeTable(str(tmp_path / "batch_lake"), num_buckets=4)
    ReplayEngine(ref_table).replay(spark, events, 1, n, batch_size=n)
    got = sorted(map(tuple, table.read(spark).collect()))
    exp = sorted(map(tuple, ref_table.read(spark).collect()))
    assert got == exp and len(got) > 0
    assert table.verify_bucket_checksums(spark) == []


def test_state_audits_route_through_write_audit_publish(spark, tmp_path):
    """With state_audits set, every replay batch is staged on an audit
    branch and main only advances after the POST-commit state passes —
    a failing audit aborts with main untouched and the batch retryable."""
    from mex_extractors_spark.lake.table import CommitAborted

    events = synth.events(spark, 300, n_repos=5)
    table = LakeTable(str(tmp_path / "lake"), num_buckets=4)

    audits = [
        lambda df: "empty state" if df.count() == 0 else None,
        lambda df: (
            "duplicate keys"
            if df.groupBy("repo", "path").count().where(F.col("count") > 1).count()
            else None
        ),
    ]
    engine = ReplayEngine(table, state_audits=audits)
    engine.replay(spark, events, 1, 300, batch_size=150)
    assert table.refs() == {}  # audit branches cleaned up
    ref_table = LakeTable(str(tmp_path / "ref"), num_buckets=4)
    ReplayEngine(ref_table).replay(spark, events, 1, 300, batch_size=150)
    assert sorted(map(tuple, table.read(spark).collect())) == sorted(
        map(tuple, ref_table.read(spark).collect())
    )

    # a batch that fails its audit leaves main untouched
    strict = ReplayEngine(
        table, state_audits=[lambda df: "always rejected"]
    )
    v0 = table.current_snapshot()["version"]
    more = synth.events(spark, 400, n_repos=5)
    with pytest.raises(CommitAborted, match="audit failed"):
        strict.replay(spark, more, 301, 400, batch_size=100)
    assert table.current_snapshot()["version"] == v0
    assert table.refs() == {}


def test_replay_restart_skips_old_batches_via_watermark_floor(spark, tmp_path):
    """A full-history restart must stay O(1) per already-applied batch
    even after batch ids rotate out of the bounded idempotency window:
    once every bucket watermark clears a batch's hi seq, the replay
    skips it driver-side — no Spark job, no bookkeeping commits."""
    from mex_extractors_spark.lake.table import LakeTable
    from mex_extractors_spark.streaming.replay import ReplayEngine

    t = LakeTable(str(tmp_path / "lake"), num_buckets=2, idempotency_window=2)
    eng = ReplayEngine(t)
    sch = "repo string, path string, seq long, op string, content string"
    ev = spark.createDataFrame(
        [("r", f"p{i % 7}", i, "U", f"c{i}") for i in range(1, 51)], sch
    )
    recs = eng.replay(spark, ev, 1, 50, batch_size=10)
    assert sum(1 for r in recs if r.applied) == 5
    assert len(t.current_snapshot()["applied_batches"]) == 2  # window cap
    v = t.current_snapshot()["version"]
    rows = sorted(map(tuple, t.read(spark).collect()))
    recs2 = eng.replay(spark, ev, 1, 50, batch_size=10)
    assert all(not r.applied for r in recs2)
    # the floor skip never reached the table: no bookkeeping versions
    assert t.current_snapshot()["version"] == v
    assert sorted(map(tuple, t.read(spark).collect())) == rows
