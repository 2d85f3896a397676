"""Lake table: exactly-once commits, copy-on-write, schema evolution,
duckdb-oracle replay equality (SURVEY.md §5.2 test plan items 2-4)."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import functions as F

from mex_extractors_spark import synth
from mex_extractors_spark.lake.schema_evolution import (
    SchemaEvolutionError,
    merge_schemas,
)
from mex_extractors_spark.lake.table import CommitAborted, LakeTable
from mex_extractors_spark.streaming.metrics import MetricsLog
from mex_extractors_spark.streaming.replay import ReplayEngine

from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

N_EVENTS = 3000

ORACLE_SQL = """
WITH latest AS (
  SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
  FROM events
)
SELECT repo, path, seq, "commit", lang, content, sha256(content) AS content_sha256
FROM latest WHERE rn = 1 AND op <> 'D'
ORDER BY repo, path
"""


def _oracle_rows(events_parquet: str):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{events_parquet}/*.parquet'")
    return con.execute(ORACLE_SQL).fetchall()


def _table_rows(spark, table: LakeTable):
    df = table.read(spark).select(
        "repo",
        "path",
        "seq",
        "commit",
        "lang",
        "content",
        F.sha2("content", 256).alias("content_sha256"),
    )
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def events_parquet(spark, tmp_path):
    p = str(tmp_path / "events.parquet")
    synth.events(spark, N_EVENTS, n_repos=40, paths_per_repo=20).write.parquet(p)
    return p


def test_replay_matches_duckdb_oracle(spark, tmp_path, events_parquet):
    """End-to-end: micro-batch replay == single-threaded oracle apply,
    including per-row sha256(content) equality (BASELINE invariant)."""
    table = LakeTable(str(tmp_path / "lake"), num_buckets=8)
    engine = ReplayEngine(table, metrics=MetricsLog(str(tmp_path / "metrics.jsonl")))
    events = spark.read.parquet(events_parquet)
    stats = engine.replay(spark, events, 1, N_EVENTS, batch_size=500)
    assert all(s.applied for s in stats)
    assert sum(s.events_in for s in stats) == N_EVENTS

    got = _table_rows(spark, table)
    exp = sorted(tuple(r) for r in _oracle_rows(events_parquet))
    assert got == exp


def test_replay_with_normalize_stage_matches_oracle(spark, tmp_path, events_parquet):
    """extract→transform→load: the normalize stage (lang vocabulary map,
    content sha256, size) runs on every event pre-merge; the final table
    must equal the oracle applying the same transform row-by-row."""
    from mex_extractors_spark.sources.normalize import normalize_change_events

    table = LakeTable(str(tmp_path / "lake"), num_buckets=8)
    engine = ReplayEngine(table, normalize=normalize_change_events)
    events = spark.read.parquet(events_parquet)
    engine.replay(spark, events, 1, N_EVENTS, batch_size=1000)

    got = sorted(
        tuple(r)
        for r in table.read(spark)
        .select("repo", "path", "seq", "lang", "content_sha", "size_bytes")
        .collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{events_parquet}/*.parquet'")
    exp = sorted(
        tuple(r)
        for r in con.execute(
            """
            WITH latest AS (
              SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) rn
              FROM events
            )
            SELECT repo, path, seq,
                   coalesce(CASE lang WHEN 'py' THEN 'python' WHEN 'rs' THEN 'rust'
                            WHEN 'go' THEN 'go' WHEN 'ts' THEN 'typescript'
                            WHEN 'java' THEN 'java' WHEN 'md' THEN 'markdown'
                            WHEN 'yaml' THEN 'yaml' END, lang) AS lang,
                   sha256(content) AS content_sha,
                   CAST(length(content) AS BIGINT) AS size_bytes
            FROM latest WHERE rn = 1 AND op <> 'D'
            """
        ).fetchall()
    )
    assert got == exp


def test_replay_idempotent_on_duplicate_delivery(spark, tmp_path, events_parquet):
    """At-least-once delivered stream (1-3 copies per event) converges to
    the identical table (FIXTURES.md duplicated-delivery variant)."""
    events = spark.read.parquet(events_parquet)
    dup = synth.with_duplicate_delivery(events)

    t1 = LakeTable(str(tmp_path / "clean"), num_buckets=8)
    ReplayEngine(t1).replay(spark, events, 1, N_EVENTS, batch_size=700)
    t2 = LakeTable(str(tmp_path / "dup"), num_buckets=8)
    ReplayEngine(t2).replay(spark, dup, 1, N_EVENTS, batch_size=700)
    assert _table_rows(spark, t1) == _table_rows(spark, t2)


def test_replay_out_of_order_stream(spark, tmp_path, events_parquet):
    events = synth.shuffled(spark.read.parquet(events_parquet))
    table = LakeTable(str(tmp_path / "lake"), num_buckets=8)
    ReplayEngine(table).replay(spark, events, 1, N_EVENTS, batch_size=1000)
    assert _table_rows(spark, table) == sorted(tuple(r) for r in _oracle_rows(events_parquet))


def test_reapply_same_batch_is_noop(spark, tmp_path, events_parquet):
    events = spark.read.parquet(events_parquet)
    table = LakeTable(str(tmp_path / "lake"), num_buckets=8)
    engine = ReplayEngine(table)
    engine.replay(spark, events, 1, N_EVENTS, batch_size=1000)
    v1 = table.current_snapshot()["version"]
    again = engine.replay(spark, events, 1, N_EVENTS, batch_size=1000)
    assert all(not s.applied for s in again)
    assert table.current_snapshot()["version"] == v1


def test_crash_between_data_and_publish_then_resume(spark, tmp_path, events_parquet):
    """Chaos: kill after data-file write, before snapshot publish. Resume
    must converge to the identical final table with no duplicates
    (SURVEY.md §5.2 item 3)."""
    events = spark.read.parquet(events_parquet)
    table = LakeTable(str(tmp_path / "lake"), num_buckets=8)
    engine = ReplayEngine(table)
    with pytest.raises(CommitAborted):
        engine.replay(
            spark, events, 1, N_EVENTS, batch_size=1000, crash_on_batch="seq:1001-2000"
        )
    # batch 1 committed, batch 2 wrote orphan files, no snapshot for it
    assert table.current_snapshot()["applied_batches"] == ["seq:1-1000"]
    # resume: skips batch 1, re-applies batch 2 from scratch, continues
    stats = engine.replay(spark, events, 1, N_EVENTS, batch_size=1000)
    assert [s.applied for s in stats] == [False, True, True]
    assert _table_rows(spark, table) == sorted(tuple(r) for r in _oracle_rows(events_parquet))
    # orphans from the crashed attempt are sweepable
    removed = table.vacuum_orphans()
    assert removed == 0 or _table_rows(spark, table) == sorted(
        tuple(r) for r in _oracle_rows(events_parquet)
    )


def test_watermark_fences_cross_batch_redelivery(spark, tmp_path, events_parquet):
    """Events at/below a bucket's high-watermark are dropped on arrival."""
    events = spark.read.parquet(events_parquet)
    table = LakeTable(str(tmp_path / "lake"), num_buckets=8)
    engine = ReplayEngine(table)
    engine.replay(spark, events, 1, N_EVENTS, batch_size=1500)
    # redeliver the first half under a NEW batch id: all fenced
    stale = events.where(F.col("seq") <= 1500)
    stats = table.apply_batch(spark, stale, "redelivery:1")
    assert stats.applied and stats.events_fenced == stats.events_in
    assert _table_rows(spark, table) == sorted(tuple(r) for r in _oracle_rows(events_parquet))


def test_copy_on_write_touches_only_needed_buckets(spark, tmp_path):
    table = LakeTable(str(tmp_path / "lake"), num_buckets=16)
    big = synth.events(spark, 2000, n_repos=50)
    table.apply_batch(spark, big, "b1")
    snap1 = table.current_snapshot()
    # a single-key batch must rewrite exactly one bucket
    one = big.where("seq = 2000").withColumn("seq", F.lit(999999).cast("long"))
    stats = table.apply_batch(spark, one, "b2")
    assert stats.buckets_touched == 1
    snap2 = table.current_snapshot()
    unchanged = [
        b
        for b in snap1["buckets"]
        if snap1["buckets"][b]["files"] == snap2["buckets"][b]["files"]
    ]
    assert len(unchanged) == len(snap1["buckets"]) - 1


def test_schema_evolution_add_and_widen(spark, tmp_path):
    """Mid-stream added columns + int→long widening (SURVEY.md §7 Phase 4)."""
    table = LakeTable(str(tmp_path / "lake"), num_buckets=4)
    base = synth.events(spark, 400, n_repos=10)
    table.apply_batch(spark, base.where("seq <= 200"), "b1")
    assert "content_sha" not in table.current_schema().fieldNames()

    evolved_int = synth.with_evolution_columns(base.where("seq > 200 AND seq <= 300"), "int")
    table.apply_batch(spark, evolved_int, "b2")
    schema = table.current_schema()
    assert schema["content_sha"].dataType == StringType()
    assert schema["size_bytes"].dataType == IntegerType()

    evolved_long = synth.with_evolution_columns(base.where("seq > 300"), "long")
    table.apply_batch(spark, evolved_long, "b3")
    schema = table.current_schema()
    assert schema["size_bytes"].dataType == LongType()

    # old rows readable with nulls in new cols; evolved rows carry values
    df = table.read(spark)
    assert df.where("content_sha IS NULL").count() > 0
    assert df.where("size_bytes IS NOT NULL").count() > 0
    # content_sha, where present, satisfies the sha256 invariant
    bad = df.where(
        (F.col("content_sha").isNotNull())
        & (F.col("content_sha") != F.sha2(F.coalesce("content", F.lit("")), 256))
    )
    assert bad.count() == 0


def test_schema_narrowing_rejected():
    a = StructType([StructField("x", LongType())])
    b = StructType([StructField("x", IntegerType())])
    # widen is fine in either direction of argument order (result = long)
    assert merge_schemas(a, b)["x"].dataType == LongType()
    bad_a = StructType([StructField("x", StringType())])
    bad_b = StructType([StructField("x", LongType())])
    with pytest.raises(SchemaEvolutionError):
        merge_schemas(bad_a, bad_b)


def test_nullability_only_container_difference_is_not_evolution():
    """collect_list builds containsNull=false arrays while declared
    schemas default to true — identical types up to nullability flags
    must merge to the TABLE's declaration, never raise."""
    from pyspark.sql.types import ArrayType

    a = StructType([StructField("tags", ArrayType(StringType(), True))])
    b = StructType([StructField("tags", ArrayType(StringType(), False))])
    assert merge_schemas(a, b)["tags"].dataType == ArrayType(StringType(), True)


def test_date_to_timestamp_is_not_a_promotion():
    """The cast goes through the session timezone, so the same batch
    replayed under a different tz would store different instants —
    byte-stable replay forbids it (and it is not in Iceberg's promotion
    set either)."""
    from pyspark.sql.types import DateType, TimestampType

    a = StructType([StructField("d", DateType())])
    b = StructType([StructField("d", TimestampType())])
    with pytest.raises(SchemaEvolutionError):
        merge_schemas(a, b)


def test_lossy_numeric_promotions_rejected():
    """long→float would silently corrupt values past 2^24 (float holds a
    24-bit mantissa) and long→double past 2^53 — both must be rejected,
    while genuinely lossless promotions still widen."""
    from pyspark.sql.types import DoubleType, FloatType, ShortType

    def merged(t_a, t_b):
        return merge_schemas(
            StructType([StructField("x", t_a)]),
            StructType([StructField("x", t_b)]),
        )["x"].dataType

    for lossy in (FloatType(), DoubleType()):
        with pytest.raises(SchemaEvolutionError):
            merged(LongType(), lossy)
    with pytest.raises(SchemaEvolutionError):
        merged(IntegerType(), FloatType())  # int has 31 value bits > 24
    assert merged(ShortType(), FloatType()) == FloatType()
    assert merged(IntegerType(), DoubleType()) == DoubleType()
    assert merged(FloatType(), DoubleType()) == DoubleType()


def test_verify_bucket_checksums(spark, tmp_path, events_parquet):
    """Read-back audit passes on an intact table and flags corruption."""
    events = spark.read.parquet(events_parquet)
    table = LakeTable(str(tmp_path / "lake"), num_buckets=4)
    ReplayEngine(table).replay(spark, events, 1, N_EVENTS, batch_size=1500)
    assert table.verify_bucket_checksums(spark) == []
    # corrupt one data file -> its bucket must be flagged
    snap = table.current_snapshot()
    victim_bucket, meta = next(
        (b, m) for b, m in sorted(snap["buckets"].items()) if m["files"]
    )
    victim = os.path.join(table.path, meta["files"][0])
    import shutil as _sh

    other = next(
        os.path.join(table.path, m["files"][0])
        for b, m in sorted(snap["buckets"].items())
        if m["files"] and b != victim_bucket
    )
    _sh.copyfile(other, victim)

    def _crc(p):
        return os.path.join(os.path.dirname(p), "." + os.path.basename(p) + ".crc")

    # keep hadoop's local-FS CRC sidecar consistent so the read succeeds
    # and the LOGICAL checksum audit is what detects the swap
    if os.path.exists(_crc(other)):
        _sh.copyfile(_crc(other), _crc(victim))
    bad = table.verify_bucket_checksums(spark)
    assert int(victim_bucket) in bad


def test_metrics_log_written(spark, tmp_path, events_parquet):
    metrics = MetricsLog(str(tmp_path / "m.jsonl"))
    table = LakeTable(str(tmp_path / "lake"), num_buckets=8)
    engine = ReplayEngine(table, metrics=metrics)
    events = spark.read.parquet(events_parquet)
    engine.replay(spark, events, 1, N_EVENTS, batch_size=1000)
    hist = metrics.history()
    assert len(hist) == 3
    assert all(h["events_in"] == 1000 for h in hist)
    assert os.path.exists(str(tmp_path / "m.jsonl"))


def test_bucket_file_tags_match_hash_expr(spark, tmp_path, events_parquet):
    """The bucket id Spark's bucketed writer embeds in each file name
    must equal pmod(murmur3(key), n) — the expression fencing, stats and
    the merge exchange all key on. If these ever diverged, watermark
    fencing would fence the wrong rows."""
    import re

    table = LakeTable(str(tmp_path / "lake"), num_buckets=8)
    ev = spark.read.parquet(events_parquet)
    ReplayEngine(table).replay(spark, ev, 1, N_EVENTS, batch_size=N_EVENTS)
    snap = table.current_snapshot()
    for b, meta in snap["buckets"].items():
        for rel in meta["files"]:
            name_tag = int(re.search(r"_(\d+)(?:\..*)?\.parquet$", rel).group(1))
            assert name_tag == int(b)
        if not meta["files"]:
            continue
        df = spark.read.parquet(
            *[os.path.join(table.path, f) for f in meta["files"]]
        ).withColumn("_b", table._bucket_expr())
        assert df.where(F.col("_b") != int(b)).count() == 0


def test_merge_shuffles_only_the_batch(spark, tmp_path, events_parquet):
    """Physical-plan gate for the storage-partitioned merge: batch 2+
    must plan exactly ONE exchange (the batch LWW agg) and read the
    current table as a bucketed scan — table rows merge in place."""
    table = LakeTable(str(tmp_path / "lake"), num_buckets=8)
    ev = spark.read.parquet(events_parquet)
    engine = ReplayEngine(table)
    engine.replay(spark, ev, 1, N_EVENTS // 2, batch_size=N_EVENTS // 2)

    captured: list[str] = []
    orig = LakeTable._write_bucketed

    def spy(self, spark_, df, out_dir):
        captured.append(df._jdf.queryExecution().executedPlan().toString())
        return orig(self, spark_, df, out_dir)

    LakeTable._write_bucketed = spy
    try:
        engine.replay(
            spark, ev, N_EVENTS // 2 + 1, N_EVENTS, batch_size=N_EVENTS // 2
        )
    finally:
        LakeTable._write_bucketed = orig
    assert len(captured) == 1
    plan = captured[0]
    # exactly one SHUFFLE exchange (the batch LWW agg); the watermark
    # fence is a BroadcastExchange, which moves ~num_buckets rows
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Exchange rangepartitioning") == 0, plan
    assert "Bucketed: true" in plan, plan
    assert "SortMergeJoin" in plan and "FullOuter" in plan, plan


def test_time_travel_history_and_incremental_read(spark, tmp_path, events_parquet):
    """Snapshot log, read-as-of-version, and bucket-granular incremental
    reads between two snapshots (the CDC-read primitive)."""
    table = LakeTable(str(tmp_path / "lake"), num_buckets=8)
    ev = spark.read.parquet(events_parquet)
    engine = ReplayEngine(table)
    engine.replay(spark, ev, 1, N_EVENTS, batch_size=1000)
    hist = table.history()
    assert [h["version"] for h in hist] == [1, 2, 3]
    assert hist[-1]["total_rows"] == table.current_snapshot()["total_rows"]

    # time travel: state at v1 == replay of only the first batch
    t1 = LakeTable(str(tmp_path / "lake_b1"), num_buckets=8)
    ReplayEngine(t1).replay(spark, ev, 1, 1000, batch_size=1000)
    as_of_v1 = sorted(tuple(r) for r in table.read(spark, version=1).collect())
    want_v1 = sorted(tuple(r) for r in t1.read(spark).collect())
    assert as_of_v1 == want_v1

    # incremental read v2 -> v3 covers exactly the buckets batch 3 touched
    inc = table.read(spark, version=3).withColumn("_b", table._bucket_expr())
    changed = table.incremental_read(spark, from_version=2, to_version=3)
    v2 = table.snapshot_at(2)["buckets"]
    v3 = table.snapshot_at(3)["buckets"]
    changed_buckets = {
        int(b) for b, m in v3.items() if v2.get(b, {}).get("files") != m["files"]
    }
    want = inc.where(F.col("_b").isin(*changed_buckets)).drop("_b")
    assert sorted(map(tuple, changed.collect())) == sorted(map(tuple, want.collect()))


def test_expire_snapshots_keeps_current_and_vacuums(spark, tmp_path, events_parquet):
    table = LakeTable(str(tmp_path / "lake"), num_buckets=8)
    ev = spark.read.parquet(events_parquet)
    ReplayEngine(table).replay(spark, ev, 1, N_EVENTS, batch_size=1000)
    rows_before = sorted(tuple(r) for r in table.read(spark).collect())
    expired = table.expire_snapshots(keep_last=1)
    assert expired == 2
    assert [h["version"] for h in table.history()] == [3]
    # expired snapshots are unreadable; current state is untouched
    with pytest.raises(ValueError):
        table.read(spark, version=1)
    assert sorted(tuple(r) for r in table.read(spark).collect()) == rows_before
    assert table.verify_bucket_checksums(spark) == []


def test_malformed_rows_dropped_consistently_on_both_merge_paths(spark, tmp_path):
    """Ingest contract: null op / null key rows are filtered once,
    upfront — the copy-on-write merge join (which never matches null
    keys) and the first-write path can never diverge on them."""
    table = LakeTable(str(tmp_path / "lake"), num_buckets=4)
    base = spark.createDataFrame(
        [("r1", "a", 1, "U", "x"), ("r1", "b", 2, "U", "y")],
        "repo string, path string, seq long, op string, content string",
    )
    table.apply_batch(spark, base, "b1")

    bad = spark.createDataFrame(
        [
            ("r1", "a", 3, "U", "x2"),       # good update
            ("r1", "c", 4, None, "ghost"),   # null op -> dropped
            (None, "d", 5, "U", "ghost2"),   # null key -> dropped
        ],
        "repo string, path string, seq long, op string, content string",
    )
    # merge join (no schema change)
    st = table.apply_batch(spark, bad, "b2")
    rows = {(r.repo, r.path, r.content) for r in table.read(spark).collect()}
    assert rows == {("r1", "a", "x2"), ("r1", "b", "y")}
    # invalid rows are reported distinctly, never as fenced redeliveries
    assert st.events_in == 3
    assert st.events_invalid == 2
    assert st.events_fenced == 0

    # all-fenced no-op path: redelivering the same rows under a new id
    # must still split invalid from fenced (1 stale update, 2 invalid)
    st_redeliver = table.apply_batch(spark, bad, "b2-redelivered")
    assert st_redeliver.applied
    assert st_redeliver.events_in == 3
    assert st_redeliver.events_invalid == 2
    assert st_redeliver.events_fenced == 1

    # first-write path consistency
    t2 = LakeTable(str(tmp_path / "lake2"), num_buckets=4)
    t2.apply_batch(spark, bad, "b1")
    rows2 = {(r.repo, r.path, r.content) for r in t2.read(spark).collect()}
    assert rows2 == {("r1", "a", "x2")}


# ------------------------------------------------------- rebucket / CDF


def test_rebucket_preserves_state_watermarks_and_time_travel(
    spark, tmp_path, events_parquet
):
    """Bucket-layout evolution: rewrite 8 -> 32 buckets mid-stream. The
    state is byte-identical, the manifest re-certifies, a reopened
    handle adopts the committed layout over its constructor arg, replay
    continues correctly on the new layout, and time travel still reads
    the pre-rebucket snapshot."""
    path = str(tmp_path / "lake")
    table = LakeTable(path, num_buckets=8)
    ev = spark.read.parquet(events_parquet)
    engine = ReplayEngine(table)
    engine.replay(spark, ev, 1, N_EVENTS // 2, batch_size=N_EVENTS // 2)
    before = sorted(tuple(r) for r in table.read(spark).collect())
    v_pre = table.current_snapshot()["version"]

    v = table.rebucket(spark, 32)
    assert v == v_pre + 1
    snap = table.current_snapshot()
    assert snap["num_buckets"] == 32 and table.num_buckets == 32
    # every bucket is fenced at the global max watermark, empties included
    assert set(snap["watermarks"]) == {str(b) for b in range(32)}
    assert sorted(tuple(r) for r in table.read(spark).collect()) == before
    assert table.verify_bucket_checksums(spark) == []
    # time travel across the layout change
    assert (
        sorted(tuple(r) for r in table.read(spark, version=v_pre).collect()) == before
    )

    # a reopened handle adopts the committed layout (storage wins)
    reopened = LakeTable(path, num_buckets=8)
    assert reopened.num_buckets == 32

    # replay continues on the new layout and still matches the oracle
    ReplayEngine(reopened).replay(
        spark, ev, N_EVENTS // 2 + 1, N_EVENTS, batch_size=N_EVENTS // 2
    )
    got = _table_rows(spark, reopened)
    exp = sorted(tuple(r) for r in _oracle_rows(events_parquet))
    assert got == exp
    assert reopened.verify_bucket_checksums(spark) == []


def test_rebucket_blocks_resurrection(spark, tmp_path):
    """The watermark-carry rule is MAX over old buckets: after a
    rebucket, a redelivered update whose delete already applied must
    stay fenced — recomputing fences from surviving row seqs (or
    carrying the min) would resurrect the deleted key."""
    table = LakeTable(str(tmp_path / "lake"), num_buckets=4)
    sch = "repo string, path string, seq long, op string, content string"
    b1 = spark.createDataFrame(
        [("r", "k", 5, "U", "v5"), ("r", "other", 3, "U", "x")], sch
    )
    b2 = spark.createDataFrame([("r", "k", 9, "D", "")], sch)
    table.apply_batch(spark, b1, "b1")
    table.apply_batch(spark, b2, "b2")
    assert {(r.repo, r.path) for r in table.read(spark).collect()} == {("r", "other")}

    table.rebucket(spark, 16)

    # checkpoint-loss redelivery: same events, fresh batch id
    st = table.apply_batch(spark, b1, "b1-redelivered")
    assert st.applied and st.events_fenced == st.events_in
    assert {(r.repo, r.path) for r in table.read(spark).collect()} == {("r", "other")}


def test_read_changes_insert_update_delete(spark, tmp_path):
    """CDF between snapshots: inserts/updates carry the post-image,
    deletes the pre-image; unchanged keys don't appear."""
    table = LakeTable(str(tmp_path / "lake"), num_buckets=4)
    sch = "repo string, path string, seq long, op string, content string"
    b1 = spark.createDataFrame(
        [
            ("r", "a", 1, "U", "a1"),
            ("r", "b", 2, "U", "b1"),
            ("r", "c", 3, "U", "c1"),
        ],
        sch,
    )
    b2 = spark.createDataFrame(
        [
            ("r", "b", 11, "U", "b2"),  # update
            ("r", "c", 12, "D", ""),    # delete
            ("r", "d", 13, "U", "d1"),  # insert
        ],
        sch,
    )
    table.apply_batch(spark, b1, "b1")
    table.apply_batch(spark, b2, "b2")

    got = {
        (r.path, r._change_type, r.content, r.seq)
        for r in table.read_changes(spark, from_version=1, to_version=2).collect()
    }
    assert got == {
        ("b", "update_postimage", "b2", 11),
        ("c", "delete", "c1", 3),
        ("d", "insert", "d1", 13),
    }
    # identical snapshots diff to nothing
    assert table.read_changes(spark, 2, 2).count() == 0


def test_read_changes_is_shuffle_free(spark, tmp_path, events_parquet):
    """Physical-plan gate: on a shared bucket layout the CDF join reads
    both snapshots as bucketed scans and plans NO exchange — neither
    snapshot's rows shuffle, and the scan is pruned to the buckets
    whose manifest entries differ."""
    table = LakeTable(str(tmp_path / "lake"), num_buckets=8)
    ev = spark.read.parquet(events_parquet)
    ReplayEngine(table).replay(spark, ev, 1, N_EVENTS, batch_size=N_EVENTS // 3 + 1)

    df = table.read_changes(spark, from_version=1, to_version=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert plan.count("Bucketed: true") == 2, plan
    assert "SortMergeJoin" in plan and "FullOuter" in plan, plan

    # semantic check against a driver-side diff of the two states
    # (column order matches read_changes: keys first, then payload)
    sel = ["repo", "path"] + [
        c for c in table.read(spark).columns if c not in ("repo", "path")
    ]
    old = {tuple(r) for r in table.read(spark, version=1).select(*sel).collect()}
    new = {tuple(r) for r in table.read(spark, version=2).select(*sel).collect()}
    key = lambda t: (t[0], t[1])  # noqa: E731
    old_k = {key(t): t for t in old}
    new_k = {key(t): t for t in new}
    want = set()
    for k, t in new_k.items():
        if k not in old_k:
            want.add((*t, "insert"))
        elif old_k[k] != t:
            want.add((*t, "update_postimage"))
    for k, t in old_k.items():
        if k not in new_k:
            want.add((*t, "delete"))
    assert {tuple(r) for r in df.collect()} == want


def test_read_changes_across_rebucket_falls_back(spark, tmp_path):
    """Across a layout change the manifests are incomparable: the diff
    must still be correct via the shuffled fallback."""
    table = LakeTable(str(tmp_path / "lake"), num_buckets=4)
    sch = "repo string, path string, seq long, op string, content string"
    table.apply_batch(
        spark, spark.createDataFrame([("r", "a", 1, "U", "a1")], sch), "b1"
    )
    table.rebucket(spark, 8)
    table.apply_batch(
        spark,
        spark.createDataFrame(
            [("r", "a", 21, "U", "a2"), ("r", "b", 22, "U", "b1")], sch
        ),
        "b2",
    )
    got = {
        (r.path, r._change_type, r.content)
        for r in table.read_changes(spark, from_version=1).collect()
    }
    assert got == {("a", "update_postimage", "a2"), ("b", "insert", "b1")}


# ------------------------------------------------------- merge-on-read


def test_mor_replay_matches_oracle(spark, tmp_path, events_parquet):
    """Merge-on-read mode: the same stream replayed as delta appends
    converges to the same oracle state as copy-on-write; deltas are
    visible in the manifest and every file group's checksum certifies."""
    table = LakeTable(
        str(tmp_path / "lake"), num_buckets=8, merge_mode="mor",
        max_deltas_per_bucket=None,
    )
    ev = spark.read.parquet(events_parquet)
    stats = ReplayEngine(table).replay(
        spark, ev, 1, N_EVENTS, batch_size=N_EVENTS // 3 + 1
    )
    assert all(s.mode == "mor" for s in stats)
    snap = table.current_snapshot()
    assert any(m.get("deltas") for m in snap["buckets"].values())
    assert _table_rows(spark, table) == sorted(
        tuple(r) for r in _oracle_rows(events_parquet)
    )
    assert table.verify_bucket_checksums(spark) == []


def test_mor_append_never_rewrites_base(spark, tmp_path):
    """The point of mor: a delta apply leaves every base entry verbatim
    (zero table-side write amplification) and appends one delta group
    per touched bucket."""
    table = LakeTable(str(tmp_path / "lake"), num_buckets=4, merge_mode="mor")
    sch = "repo string, path string, seq long, op string, content string"
    st1 = table.apply_batch(
        spark,
        spark.createDataFrame([("r", "a", 1, "U", "a1"), ("r", "b", 2, "U", "b1")], sch),
        "b1",
        mode="cow",
    )
    assert st1.mode == "cow"
    base_before = {
        b: (m["files"], m["rows"], str(m["checksum"]))
        for b, m in table.current_snapshot()["buckets"].items()
    }
    st2 = table.apply_batch(
        spark,
        spark.createDataFrame([("r", "a", 11, "U", "a2"), ("r", "c", 12, "U", "c1")], sch),
        "b2",
    )
    assert st2.mode == "mor"
    snap = table.current_snapshot()
    for b, m in snap["buckets"].items():
        if b in base_before:
            assert (m["files"], m["rows"], str(m["checksum"])) == base_before[b]
    deltas = {b: m.get("deltas", []) for b, m in snap["buckets"].items()}
    assert sum(len(d) for d in deltas.values()) > 0
    got = {(r.path, r.content) for r in table.read(spark).collect()}
    assert got == {("a", "a2"), ("b", "b1"), ("c", "c1")}


def test_mor_delete_tombstone_applies_at_read(spark, tmp_path):
    table = LakeTable(str(tmp_path / "lake"), num_buckets=4, merge_mode="mor")
    sch = "repo string, path string, seq long, op string, content string"
    table.apply_batch(
        spark, spark.createDataFrame([("r", "a", 1, "U", "a1")], sch), "b1"
    )
    table.apply_batch(
        spark, spark.createDataFrame([("r", "a", 2, "D", "")], sch), "b2"
    )
    assert table.read(spark).count() == 0
    # redelivery of the pre-delete update stays fenced
    st = table.apply_batch(
        spark, spark.createDataFrame([("r", "a", 1, "U", "a1")], sch), "b1-redeliver"
    )
    assert st.events_fenced == st.events_in
    assert table.read(spark).count() == 0


def test_compact_folds_deltas_and_restores_scan_reads(
    spark, tmp_path, events_parquet
):
    """compact() merges base+deltas into a fresh single-file base: state
    identical, manifests delta-free, checksums certify, time travel
    still reads the pre-compaction (delta-carrying) snapshot, and a
    later batch applies cleanly on the compacted layout."""
    table = LakeTable(
        str(tmp_path / "lake"), num_buckets=8, merge_mode="mor",
        max_deltas_per_bucket=None,
    )
    ev = spark.read.parquet(events_parquet)
    ReplayEngine(table).replay(spark, ev, 1, N_EVENTS // 2, batch_size=N_EVENTS // 4)
    before = _table_rows(spark, table)
    v_pre = table.current_snapshot()["version"]

    v = table.compact(spark)
    assert v == v_pre + 1
    snap = table.current_snapshot()
    assert not any(m.get("deltas") for m in snap["buckets"].values())
    assert all(len(m["files"]) <= 1 for m in snap["buckets"].values())
    assert _table_rows(spark, table) == before
    assert table.verify_bucket_checksums(spark) == []
    # total_rows now exact state rows
    assert snap["total_rows"] == len(before)
    # time travel to the delta-carrying snapshot
    assert sorted(
        tuple(r)
        for r in table.read(spark, version=v_pre)
        .select("repo", "path", "seq", "commit", "lang", "content",
                F.sha2("content", 256).alias("content_sha256"))
        .collect()
    ) == before
    # compact again: nothing to do, no new snapshot
    assert table.compact(spark) == v

    # replay continues (mor) and still matches the oracle after a final compact
    ReplayEngine(table).replay(
        spark, ev, N_EVENTS // 2 + 1, N_EVENTS, batch_size=N_EVENTS // 2
    )
    table.compact(spark)
    assert _table_rows(spark, table) == sorted(
        tuple(r) for r in _oracle_rows(events_parquet)
    )


def test_cow_batch_after_mor_folds_touched_deltas(spark, tmp_path):
    table = LakeTable(str(tmp_path / "lake"), num_buckets=2, merge_mode="mor")
    sch = "repo string, path string, seq long, op string, content string"
    table.apply_batch(
        spark,
        spark.createDataFrame(
            [("r", "a", 1, "U", "a1"), ("r", "b", 2, "U", "b1"),
             ("r", "keep", 3, "U", "k1")],
            sch,
        ),
        "b1",
    )
    table.apply_batch(
        spark, spark.createDataFrame([("r", "a", 11, "U", "a2")], sch), "b2"
    )
    # cow rewrite touching every bucket folds the deltas back in —
    # INCLUDING delta-only keys the cow batch itself never mentions
    # ("keep" lives solely in a delta of a bucket with an empty base)
    st = table.apply_batch(
        spark,
        spark.createDataFrame(
            [("r", "a", 21, "U", "a3"), ("r", "b", 22, "U", "b2")], sch
        ),
        "b3",
        mode="cow",
    )
    assert st.mode == "cow"
    snap = table.current_snapshot()
    touched = {b for b, m in snap["buckets"].items() if m["files"]}
    assert not any(snap["buckets"][b].get("deltas") for b in touched)
    got = {(r.path, r.content) for r in table.read(spark).collect()}
    assert got == {("a", "a3"), ("b", "b2"), ("keep", "k1")}
    assert table.verify_bucket_checksums(spark) == []


def test_mor_delta_pileup_escalates_to_cow(spark, tmp_path):
    """max_deltas_per_bucket bounds read amplification: once a touched
    bucket carries that many deltas the batch escalates to a merging
    copy-on-write rewrite."""
    table = LakeTable(
        str(tmp_path / "lake"), num_buckets=1, merge_mode="mor",
        max_deltas_per_bucket=2,
    )
    sch = "repo string, path string, seq long, op string, content string"
    modes = []
    for i in range(1, 5):
        st = table.apply_batch(
            spark,
            # one updated key plus one fresh key per batch, so the cow
            # escalation must carry delta-only keys it doesn't touch
            spark.createDataFrame(
                [("r", "a", 10 * i, "U", f"v{i}"), ("r", f"k{i}", 10 * i + 1, "U", "x")],
                sch,
            ),
            f"b{i}",
        )
        modes.append(st.mode)
    # b1, b2 append; b3 sees 2 piled deltas -> cow fold; b4 appends again
    assert modes == ["mor", "mor", "cow", "mor"]
    got = {(r.path, r.content) for r in table.read(spark).collect()}
    assert got == {("a", "v4")} | {(f"k{i}", "x") for i in range(1, 5)}


def test_mor_schema_evolution_reads_merged(spark, tmp_path):
    """A delta written after a column was added reads back merged with
    old base files (null-filled), same as cow evolution."""
    table = LakeTable(str(tmp_path / "lake"), num_buckets=2, merge_mode="mor")
    sch1 = "repo string, path string, seq long, op string, content string"
    sch2 = "repo string, path string, seq long, op string, content string, stars long"
    table.apply_batch(
        spark, spark.createDataFrame([("r", "a", 1, "U", "a1")], sch1), "b1",
        mode="cow",
    )
    table.apply_batch(
        spark, spark.createDataFrame([("r", "b", 2, "U", "b1", 7)], sch2), "b2"
    )
    rows = {(r.path, r.content, r.stars) for r in table.read(spark).collect()}
    assert rows == {("a", "a1", None), ("b", "b1", 7)}
    assert table.verify_bucket_checksums(spark) == []
    table.compact(spark)
    snap = table.current_snapshot()
    assert all(
        int(m["schema_version"]) == int(snap["schema_version"])
        for m in snap["buckets"].values()
        if m["files"]
    )
    assert {(r.path, r.content, r.stars) for r in table.read(spark).collect()} == rows


def test_mor_crash_before_publish_is_replayable(spark, tmp_path):
    table = LakeTable(str(tmp_path / "lake"), num_buckets=2, merge_mode="mor")
    sch = "repo string, path string, seq long, op string, content string"
    table.apply_batch(
        spark, spark.createDataFrame([("r", "a", 1, "U", "a1")], sch), "b1"
    )
    v = table.current_snapshot()["version"]
    with pytest.raises(CommitAborted):
        table.apply_batch(
            spark,
            spark.createDataFrame([("r", "a", 2, "U", "a2")], sch),
            "b2",
            crash_after_data=True,
        )
    assert table.current_snapshot()["version"] == v  # nothing published
    st = table.apply_batch(
        spark, spark.createDataFrame([("r", "a", 2, "U", "a2")], sch), "b2"
    )
    assert st.applied and st.mode == "mor"
    assert {(r.path, r.content) for r in table.read(spark).collect()} == {("a", "a2")}
    # the orphaned first attempt's files are reclaimable
    assert table.vacuum_orphans() >= 0
    assert table.verify_bucket_checksums(spark) == []


def test_auto_mode_picks_by_batch_to_table_ratio(spark, tmp_path):
    sch = "repo string, path string, seq long, op string, content string"
    table = LakeTable(str(tmp_path / "lake"), num_buckets=1, merge_mode="auto")
    big = spark.createDataFrame(
        [("r", f"p{i}", i, "U", f"v{i}") for i in range(1, 41)], sch
    )
    st1 = table.apply_batch(spark, big, "b1")
    assert st1.mode == "cow"  # first write: nothing to gain from a delta
    small = spark.createDataFrame([("r", "p1", 100, "U", "new")], sch)
    st2 = table.apply_batch(spark, small, "b2")
    assert st2.mode == "mor"  # 40 file rows >> 4 * 1 batch row
    st3 = table.apply_batch(
        spark,
        spark.createDataFrame(
            [("r", f"p{i}", 200 + i, "U", "x") for i in range(1, 31)], sch
        ),
        "b3",
    )
    assert st3.mode == "cow"  # 41 file rows < 4 * 30 batch rows
    got = {(r.path, r.content) for r in table.read(spark).collect()}
    assert got == {(f"p{i}", "x") for i in range(1, 31)} | {
        (f"p{i}", f"v{i}") for i in range(31, 41)
    }


def test_publish_cas_detects_concurrent_writer(spark, tmp_path):
    """Optimistic-concurrency commit: the snapshot file is the CAS
    token, so a stale writer that computed the same next version fails
    loudly with CommitConflict instead of silently clobbering the
    winner's commit (accidental double-started job)."""
    from mex_extractors_spark.lake.table import CommitConflict

    table = LakeTable(str(tmp_path / "lake"), num_buckets=2)
    sch = "repo string, path string, seq long, op string, content string"
    table.apply_batch(
        spark, spark.createDataFrame([("r", "a", 1, "U", "a1")], sch), "b1"
    )
    winner = table.current_snapshot()
    # a second writer replaying the same commit version loses the race
    stale = dict(winner)
    stale["applied_batches"] = ["someone-else"]
    with pytest.raises(CommitConflict):
        table._publish(stale)
    # the winner's snapshot and pointer are untouched
    assert table.current_snapshot()["applied_batches"] == winner["applied_batches"]


def test_expire_and_vacuum_respect_delta_files(spark, tmp_path):
    """Retention with pending deltas: expiring old snapshots must keep
    every delta file the retained snapshots reference, and reclaim the
    pre-compaction delta files once their snapshots are expired."""
    table = LakeTable(
        str(tmp_path / "lake"), num_buckets=2, merge_mode="mor",
        max_deltas_per_bucket=None,
    )
    sch = "repo string, path string, seq long, op string, content string"
    table.apply_batch(
        spark, spark.createDataFrame([("r", "a", 1, "U", "a1")], sch), "b1"
    )
    table.apply_batch(
        spark, spark.createDataFrame([("r", "a", 2, "U", "a2"), ("r", "b", 3, "U", "b1")], sch),
        "b2",
    )
    # expire v1: v2 (current) still references BOTH delta groups
    assert table.expire_snapshots(keep_last=1) == 1
    got = {(r.path, r.content) for r in table.read(spark).collect()}
    assert got == {("a", "a2"), ("b", "b1")}
    assert table.verify_bucket_checksums(spark) == []

    # compact, then expire the delta-carrying snapshot: its delta files
    # become orphans and are reclaimed, the compacted base survives
    table.compact(spark)
    assert table.expire_snapshots(keep_last=1) == 1
    assert {(r.path, r.content) for r in table.read(spark).collect()} == got
    assert table.verify_bucket_checksums(spark) == []
    # no stray delta parquet outside the retained snapshot's file set
    snap = table.current_snapshot()
    live = {os.path.join(str(tmp_path / "lake"), f)
            for m in snap["buckets"].values() for f in m["files"]}
    on_disk = set()
    for root, _d, files in os.walk(str(tmp_path / "lake" / "data")):
        on_disk.update(os.path.join(root, f) for f in files if f.endswith(".parquet"))
    assert on_disk == live


def test_read_key_point_lookup_prunes_to_one_bucket(spark, tmp_path, events_parquet):
    """Point lookup scans exactly one bucket's files (manifest-pruned)
    with the equality pushed into the scan, and agrees with a filter
    over the full table — including through merge-on-read deltas."""
    table = LakeTable(str(tmp_path / "lake"), num_buckets=8)
    ev = spark.read.parquet(events_parquet)
    ReplayEngine(table).replay(spark, ev, 1, N_EVENTS // 2, batch_size=N_EVENTS // 2)
    # one mor batch so the looked-up state may live in a delta
    table.apply_batch(
        spark, ev.where(
            (F.col("seq") > N_EVENTS // 2) & (F.col("seq") <= N_EVENTS)
        ), "tail", mode="mor",
    )
    full = table.read(spark)
    sample = full.select("repo", "path").orderBy("repo", "path").limit(3).collect()
    for row in sample:
        got = sorted(map(tuple, table.read_key(
            spark, repo=row.repo, path=row.path).collect()))
        exp = sorted(map(tuple, full.where(
            (F.col("repo") == row.repo) & (F.col("path") == row.path)).collect()))
        assert got == exp and len(got) == 1
    # scan footprint: only one bucket's base files appear in the plan
    snap = table.current_snapshot()
    df = table.read_key(spark, repo=sample[0].repo, path=sample[0].path)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_scanned = sum(
        1
        for b, m in snap["buckets"].items()
        for f in m["files"]
        if os.path.basename(f).split(".")[0] in plan
    )
    total_files = sum(len(m["files"]) for m in snap["buckets"].values())
    assert total_files >= 8 and n_scanned <= 1, (n_scanned, total_files)
    with pytest.raises(ValueError):
        table.read_key(spark, repo="only-half-the-key")


def test_read_key_plans_without_a_spark_job(spark, tmp_path):
    """read_key hashes its literal key on the driver: calling it (no
    action yet) runs no Spark job at all."""
    table = LakeTable(str(tmp_path / "lake"), num_buckets=4)
    table.apply_batch(
        spark,
        spark.createDataFrame(
            [("r", "a", 1, "U", "a1"), ("r", "b", 2, "U", "b1")],
            "repo string, path string, seq long, op string, content string",
        ),
        "b1",
    )
    sc = spark.sparkContext
    sc.setJobGroup("read_key_probe", "read_key planning", False)
    try:
        df = table.read_key(spark, repo="r", path="a")
        jobs = list(sc.statusTracker().getJobIdsForGroup("read_key_probe"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    assert [(r.path, r.content) for r in df.collect()] == [("a", "a1")]


def test_everything_composes_mor_evolution_rebucket_compact_cdf_ivm_wap_stats_index(
    spark, tmp_path
):
    """Kitchen-sink composition guard: cow + mor batches, a schema
    evolution, a bucket-layout rewrite, compaction, CDF reads, an
    incrementally-maintained derived view, a WAP-staged batch, manifest
    stats with where-pruned reads, and a maintained inverted index —
    applied in one flow — must all agree with a driver-side replay
    oracle at every step."""
    from collections import defaultdict

    from mex_extractors_spark.lake.derived import refresh_aggregates
    from mex_extractors_spark.lake.index import default_terms, refresh_inverted_index

    source = LakeTable(
        str(tmp_path / "src"), num_buckets=4, merge_mode="mor",
        max_deltas_per_bucket=None, stats_cols=["lang", "seq"],
    )
    derived = LakeTable(
        str(tmp_path / "drv"), key_cols=["lang"], seq_col="_src_version",
        num_buckets=2,
    )
    index = LakeTable(
        str(tmp_path / "idx"), key_cols=["term", "repo", "path"],
        seq_col="_src_version", num_buckets=2,
    )
    sch1 = "repo string, path string, seq long, op string, lang string, stars long"
    sch2 = sch1 + ", forks long"

    log = []  # rows as tuples in schema order

    def apply(batch_rows, bid, schema, mode=None, wap=False):
        df = spark.createDataFrame(batch_rows, schema)
        if wap:
            # stage on an audit branch, validate the post-commit state,
            # fast-forward — WAP composed with mor deltas + evolution
            source.write_audit_publish(
                spark, df, bid,
                validate=lambda s: None if s.count() > 0 else "empty",
                mode=mode,
            )
        else:
            source.apply_batch(spark, df, bid, mode=mode)
        log.extend(batch_rows)

    def oracle():
        state = {}
        for row in sorted(log, key=lambda r: r[2]):
            key = (row[0], row[1])
            if row[3] == "D":
                state.pop(key, None)
            else:
                forks = row[6] if len(row) > 6 else None
                state[key] = (row[2], row[4], row[5], forks)
        return state

    def check():
        got = {}
        for r in source.read(spark).collect():
            d = r.asDict()
            got[(d["repo"], d["path"])] = (
                d["seq"], d["lang"], d["stars"], d.get("forks")
            )
        assert got == oracle()
        refresh_aggregates(
            spark, source, derived, ["lang"], count_alias="cnt",
            sum_cols={"total_stars": "stars"},
        )
        want = defaultdict(lambda: [0, 0])
        for _seq, lang, stars, _forks in oracle().values():
            want[lang][0] += 1
            want[lang][1] += stars or 0
        drows = {
            r.lang: (r.cnt, r.total_stars)
            for r in derived.read(spark).select("lang", "cnt", "total_stars").collect()
        }
        assert drows == {k: tuple(v) for k, v in want.items()}
        # stats-pruned read agrees with plain filter at every step
        pruned = {
            (r["repo"], r["path"])
            for r in source.read(spark, where=[("lang", "=", "py")]).collect()
        }
        assert pruned == {
            k for k, v in oracle().items() if v[1] == "py"
        }
        # maintained inverted index (terms = the lang token) == oracle
        refresh_inverted_index(
            spark, source, index, lambda df: default_terms("lang")
        )
        idx_rows = {
            (r["term"], r["repo"], r["path"])
            for r in index.read(spark).collect()
        }
        assert idx_rows == {
            (v[1], k[0], k[1]) for k, v in oracle().items() if v[1]
        }

    apply([("r", "a", 1, "U", "py", 10), ("r", "b", 2, "U", "rs", 4),
           ("r", "c", 3, "U", "py", 1)], "b1", sch1, mode="cow")
    check()
    # mor batch WITH a schema evolution (forks column appears)
    apply([("r", "a", 11, "U", "go", 5, 7), ("r", "d", 12, "U", "py", 2, 1)],
          "b2", sch2)
    check()
    source.rebucket(spark, 8)
    check()
    apply([("r", "b", 21, "D", "", 0, 0), ("r", "e", 22, "U", "go", 9, 3)],
          "b3", sch2, wap=True)
    check()
    source.compact(spark)
    check()
    assert source.verify_bucket_checksums(spark) == []
    # CDF across the whole history still diffs correctly
    changes = {
        (r.path, r._change_type)
        for r in source.read_changes(spark, from_version=1).collect()
    }
    assert ("b", "delete") in changes and ("e", "insert") in changes
    # derived table survived every refresh with exactly-once bookkeeping
    assert derived.verify_bucket_checksums(spark) == []


def test_maintenance_one_call_policy(spark, tmp_path):
    """compact + expire + vacuum in one scheduled-job call; branch heads
    and tags survive, deltas fold, orphans vanish."""
    t = LakeTable(str(tmp_path / "lake"), num_buckets=4, merge_mode="mor")
    ev = synth.events(spark, 400, n_repos=10)
    t.apply_batch(spark, ev.where(F.col("seq") <= 200), "m1", mode="cow")
    t.apply_batch(spark, ev.where(F.col("seq") > 200), "m2")  # delta append
    t.create_tag("keepme")
    before_state = sorted(map(tuple, t.read(spark).collect()))
    report = t.maintenance(spark, keep_snapshots=1)
    assert report["compacted"] is True
    snap = t.current_snapshot()
    assert not any(m.get("deltas") for m in snap["buckets"].values())
    assert sorted(map(tuple, t.read(spark).collect())) == before_state
    # the tagged snapshot survived expiry and still reads
    assert t.read(spark, ref="keepme").count() > 0
    # a second call is a no-op
    report2 = t.maintenance(spark, keep_snapshots=1)
    assert report2["compacted"] is False and report2["orphan_files_deleted"] == 0


def test_column_pruning_reaches_scan_through_mor_merge(spark, tmp_path):
    """Catalyst pushes a narrow projection through the read-side LWW
    merge (union + window + filter): selecting one payload column off a
    delta-carrying read scans ONLY key/seq/op + that column — at 100 TB
    a wide table must not be read wholesale to answer a 2-column query."""
    t = LakeTable(str(tmp_path / "lake"), num_buckets=4, merge_mode="mor")
    ev = synth.events(spark, 300, n_repos=10)
    t.apply_batch(spark, ev.where(F.col("seq") <= 150), "p1", mode="cow")
    t.apply_batch(spark, ev.where(F.col("seq") > 150), "p2")  # delta pending
    narrow = t.read(spark).select("repo", "lang")
    plan = narrow._jdf.queryExecution().executedPlan().toString()
    import re

    read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert read_schemas, plan
    for rs in read_schemas:
        cols = {f.split(":")[0] for f in rs.split(",") if f}
        # content (the wide payload column) must be pruned everywhere
        assert "content" not in cols, plan
        assert cols <= {"repo", "path", "seq", "lang", "op"}, plan


def test_concurrent_cdf_frames_stay_evaluable(spark, tmp_path):
    """read_changes frames read the snapshots' own files straight from
    the manifest, so any number of them stay evaluable across later
    applies and a compaction — and no scratch dir or catalog entry is
    left behind."""
    table = LakeTable(str(tmp_path / "lake"), num_buckets=4)
    sch = "repo string, path string, seq long, op string, content string"
    for v, rows in enumerate(
        [
            [("r", "a", 1, "U", "a1")],
            [("r", "b", 2, "U", "b1")],
            [("r", "a", 3, "U", "a2"), ("r", "c", 4, "U", "c1")],
        ],
        start=1,
    ):
        table.apply_batch(spark, spark.createDataFrame(rows, sch), f"b{v}")

    df1 = table.read_changes(spark, from_version=1, to_version=2)
    df2 = table.read_changes(spark, from_version=2, to_version=3)
    df3 = table.read_changes(spark, from_version=1, to_version=3)
    # later writes: a copy-on-write apply, a merge-on-read apply and the
    # compaction that folds it
    table.apply_batch(
        spark,
        spark.createDataFrame(
            [("r", k, 10 + i, "U", "z") for i, k in enumerate("abcd")], sch
        ),
        "b4",
    )
    table.apply_batch(
        spark, spark.createDataFrame([("r", "a", 20, "D", None)], sch), "b5",
        mode="mor",
    )
    table.compact(spark)
    assert {(r.path, r._change_type) for r in df1.collect()} == {
        ("b", "insert")
    }
    assert {(r.path, r._change_type, r.content) for r in df2.collect()} == {
        ("a", "update_postimage", "a2"),
        ("c", "insert", "c1"),
    }
    assert {(r.path, r._change_type) for r in df3.collect()} == {
        ("a", "update_postimage"),
        ("b", "insert"),
        ("c", "insert"),
    }
    # no scratch dir beside the ledger and the data files
    assert sorted(os.listdir(table.path)) == ["_ledger", "data"]
    assert not [
        t.name for t in spark.catalog.listTables() if t.name.startswith("mex_lake_")
    ]


def test_cow_and_mor_converge_when_a_merge_outranks_a_later_event(
    spark, tmp_path
):
    """Last-writer-wins by seq on every merge path: merge_into writes
    keys at seq 1000 without raising the bucket fence, so a later CDC
    event at seq 500 passes the fence. It must lose to the merged row
    (and its delete must not drop the key) whether the batch is
    appended as a delta, rewritten over a delta-free bucket, or
    rewritten over a bucket with a pending delta. Events at exactly
    seq 1000 win the tie on every path."""
    sch = "repo string, path string, seq long, op string, content string"

    def batch(rows):
        return spark.createDataFrame(rows, sch)

    states = {}
    for name, modes in {
        "cow": ("cow", "cow", "cow"),
        "mor": ("mor", "mor", "mor"),
        "cow_over_delta": ("cow", "mor", "cow"),
    }.items():
        t = LakeTable(str(tmp_path / name), num_buckets=1)
        t.apply_batch(
            spark, batch([("r", "a", 1, "U", "a1"), ("r", "b", 2, "U", "b1")]),
            "b1", mode=modes[0],
        )
        t.merge_into(
            spark,
            batch(
                [("r", "z", 1000, "U", "z-merged"), ("r", "w", 1000, "U", "w-merged")]
            ).drop("op"),
            "m1",
        )
        t.apply_batch(spark, batch([("r", "y", 3, "U", "y1")]), "b2", mode=modes[1])
        assert bool(t.current_snapshot()["buckets"]["0"].get("deltas")) == (
            modes[1] == "mor"
        )
        st = t.apply_batch(
            spark,
            batch([("r", "z", 500, "U", "z-late"), ("r", "w", 500, "D", None)]),
            "b3",
            mode=modes[2],
        )
        assert st.applied and st.events_fenced == 0 and st.mode == modes[2]
        states[name] = sorted(
            (r.path, r.seq, r.content) for r in t.read(spark).collect()
        )
        # the cow merge's batch row wins on seq >=; merge-on-read ranks
        # a delta row above a base row of equal seq to match
        st = t.apply_batch(
            spark,
            batch([("r", "z", 1000, "U", "z-event"), ("r", "w", 1000, "D", None)]),
            "b4",
            mode=modes[2],
        )
        assert st.applied and st.events_fenced == 0 and st.mode == modes[2]
        states[name + "_tie"] = sorted(
            (r.path, r.seq, r.content) for r in t.read(spark).collect()
        )
    assert states["cow"] == [
        ("a", 1, "a1"),
        ("b", 2, "b1"),
        ("w", 1000, "w-merged"),
        ("y", 3, "y1"),
        ("z", 1000, "z-merged"),
    ]
    assert states["mor"] == states["cow"]
    assert states["cow_over_delta"] == states["cow"]
    assert states["cow_tie"] == [
        ("a", 1, "a1"),
        ("b", 2, "b1"),
        ("y", 3, "y1"),
        ("z", 1000, "z-event"),
    ]
    assert states["mor_tie"] == states["cow_tie"]
    assert states["cow_over_delta_tie"] == states["cow_tie"]


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _mor_table(spark, path, num_buckets=4, n_events=400):
    """A table whose every bucket carries one pending merge-on-read delta."""
    t = LakeTable(path, num_buckets=num_buckets, merge_mode="mor")
    ev = synth.events(spark, n_events, n_repos=10)
    t.apply_batch(spark, ev.where(F.col("seq") <= n_events * 3 // 4), "p1", mode="cow")
    t.apply_batch(spark, ev.where(F.col("seq") > n_events * 3 // 4), "p2")
    buckets = t.current_snapshot()["buckets"]
    assert len(buckets) == num_buckets
    assert all(m.get("deltas") for m in buckets.values())
    return t


def test_mor_reads_are_shuffle_free(spark, tmp_path):
    """Physical-plan gate for merge-on-read in place: with a delta
    pending in every bucket, each bucket's base and delta rows resolve
    from one relation inside the bucket. read(), read_changes across
    the delta commit and compact plan no exchange; read_key plans one
    task; a copy-on-write apply folding the delta shuffles only its
    batch."""
    t = _mor_table(spark, str(tmp_path / "lake"))
    want = sorted(map(tuple, t.read(spark).collect()))

    plan = _executed(t.read(spark))
    assert "Exchange" not in plan and "Bucketed: true" in plan, plan
    plan = _executed(t.read_changes(spark, from_version=1, to_version=2))
    assert "Exchange" not in plan and plan.count("Bucketed: true") == 2, plan

    row = t.read(spark).orderBy("repo", "path").first()
    hit = t.read_key(spark, repo=row.repo, path=row.path)
    assert "Exchange" not in _executed(hit), _executed(hit)
    sc = spark.sparkContext
    sc.setJobGroup("read_key_gate", "read_key", False)
    try:
        assert [tuple(r) for r in hit.collect()] == [tuple(row)]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = list(tracker.getJobIdsForGroup("read_key_gate"))
    tasks = [
        tracker.getStageInfo(s).numTasks
        for j in jobs
        for s in tracker.getJobInfo(j).stageIds
    ]
    assert len(jobs) == 1 and tasks == [1], (jobs, tasks)

    captured: list[str] = []
    orig = LakeTable._write_bucketed

    def spy(self, spark_, df, out_dir, **kw):
        captured.append(_executed(df))
        return orig(self, spark_, df, out_dir, **kw)

    # a cow apply over buckets 0 and 1 folds their deltas; compact then
    # folds the deltas still pending in buckets 2 and 3
    upd = (
        t.read(spark)
        .where(t._bucket_expr().isin(0, 1))
        .withColumn("seq", F.col("seq") + 10_000)
        .withColumn("op", F.lit("U"))
    )
    upd = spark.createDataFrame(upd.collect(), upd.schema)  # a batch from outside
    LakeTable._write_bucketed = spy
    try:
        assert t.apply_batch(spark, upd, "fold", mode="cow").mode == "cow"
        t.compact(spark)
    finally:
        LakeTable._write_bucketed = orig
    assert len(captured) == 2
    assert captured[0].count("Exchange hashpartitioning") == 1, captured[0]
    assert "Exchange rangepartitioning" not in captured[0], captured[0]
    assert "Exchange" not in captured[1], captured[1]
    bumped = {(r.repo, r.path) for r in upd.collect()}
    assert sorted(map(tuple, t.read(spark).collect())) == sorted(
        (seq + 10_000 if (repo, path) in bumped else seq, repo, path, *rest)
        for seq, repo, path, *rest in want
    )
    assert not any(m.get("deltas") for m in t.current_snapshot()["buckets"].values())
    assert t.verify_bucket_checksums(spark) == []


def test_mor_read_through_a_cast_merges_behind_a_shuffle(spark, tmp_path):
    """A delta whose base needs a cast the parquet reader cannot do
    (smallint -> float) is merged per schema version behind a shuffle,
    with the same tie rule as the in-place merge: at an equal seq the
    delta row beats the base row."""
    t = LakeTable(str(tmp_path / "lake"), num_buckets=1)
    sch = "repo string, path string, seq long, op string, v smallint"
    t.apply_batch(
        spark, spark.createDataFrame([("r", "a", 1, "U", 1), ("r", "b", 2, "U", 2)], sch),
        "b1",
    )
    t.merge_into(
        spark,
        spark.createDataFrame([("r", "z", 1000, "U", 3)], sch).drop("op"),
        "m1",
    )
    t.apply_batch(
        spark,
        spark.createDataFrame(
            [("r", "a", 5, "U", 1.5), ("r", "z", 1000, "U", 2.5)],
            "repo string, path string, seq long, op string, v float",
        ),
        "b2",
        mode="mor",
    )
    df = t.read(spark)
    assert "Exchange hashpartitioning" in _executed(df), _executed(df)
    assert sorted((r.path, r.seq, r.v) for r in df.collect()) == [
        ("a", 5, 1.5),
        ("b", 2, 2.0),
        ("z", 1000, 2.5),
    ]


def test_read_key_steady_state_compiles_nothing(spark, tmp_path):
    """After one warm lookup, lookups of other keys in other buckets
    reuse its generated code: the key literals reach the plan as
    reference objects, not inlined constants, so no Janino compile."""
    t = _mor_table(spark, str(tmp_path / "lake"), num_buckets=16, n_events=800)
    bucket = t._bucket_expr().alias("b")
    rows = t.read(spark).select("repo", "path", bucket).orderBy("repo", "path").collect()
    first: dict[int, tuple] = {}
    for r in rows:
        first.setdefault(r.b, (r.repo, r.path))
    assert len(first) >= 9
    (warm, *others) = list(first.values())[:9]
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    assert len(t.read_key(spark, repo=warm[0], path=warm[1]).collect()) == 1
    before = compiles.getCount()
    for repo, path in others:
        assert len(t.read_key(spark, repo=repo, path=path).collect()) == 1
    assert compiles.getCount() == before


def test_time_travel_by_timestamp(spark, tmp_path):
    """read(as_of=ts) resolves the latest main snapshot committed at or
    before ts (Iceberg timestamp travel); pre-history timestamps raise."""
    import time as _time

    table = LakeTable(str(tmp_path / "lake"), num_buckets=2)
    sch = "repo string, path string, seq long, op string, content string"
    table.apply_batch(
        spark, spark.createDataFrame([("r", "a", 1, "U", "v1")], sch), "b1"
    )
    ts1 = table.current_snapshot()["committed_at"]
    _time.sleep(1.1)  # committed_at has 1-second granularity
    table.apply_batch(
        spark, spark.createDataFrame([("r", "a", 2, "U", "v2")], sch), "b2"
    )
    assert table.version_as_of(ts1) == 1
    assert [r.content for r in table.read(spark, as_of=ts1).collect()] == ["v1"]
    now = table.current_snapshot()["committed_at"]
    assert [r.content for r in table.read(spark, as_of=now).collect()] == ["v2"]
    with pytest.raises(ValueError):
        table.version_as_of("1999-01-01T00:00:00Z")
    with pytest.raises(ValueError):
        table.read(spark, as_of=ts1, version=1)


def test_idempotency_window_bounds_manifest(spark, tmp_path):
    """applied_batches is capped at idempotency_window in commit order
    (the Delta txn-window model) — and a redelivery whose id rotated
    out is still safe: its events are all below the bucket watermarks,
    so it lands as a fenced bookkeeping no-op, never a double-apply."""
    t = LakeTable(str(tmp_path / "lake"), num_buckets=2, idempotency_window=3)
    sch = "repo string, path string, seq long, op string, content string"

    def b(i):
        return spark.createDataFrame([("r", f"p{i}", i, "U", f"c{i}")], sch)

    for i in range(1, 6):
        t.apply_batch(spark, b(i), f"b{i}")
    batches = t.current_snapshot()["applied_batches"]
    assert batches == ["b3", "b4", "b5"]  # commit order, capped
    rows_before = sorted(map(tuple, t.read(spark).collect()))
    v_before = t.current_snapshot()["version"]
    # redeliver b1: id forgotten, but every event is fenced
    st = t.apply_batch(spark, b(1), "b1")
    assert st.events_fenced == 1 and st.upserts == 0
    assert sorted(map(tuple, t.read(spark).collect())) == rows_before
    assert t.current_snapshot()["version"] == v_before + 1  # bookkeeping
    assert t.current_snapshot()["applied_batches"] == ["b4", "b5", "b1"]


def test_relative_table_path_resolves_against_cwd(spark, tmp_path, monkeypatch):
    """A RELATIVE table path must work: Spark qualifies a relative
    external-table location against spark.sql.warehouse.dir (not the
    process cwd), so LakeTable normalizes to an absolute path at
    construction — otherwise the bucketed write lands under
    spark-warehouse/ while the ledger and readback resolve against cwd
    and the first apply_batch dies with PATH_NOT_FOUND."""
    monkeypatch.chdir(tmp_path)
    t = LakeTable("rel_lake", num_buckets=2)
    assert os.path.isabs(t.path) and t.path == str(tmp_path / "rel_lake")
    df = spark.createDataFrame(
        [("r1", "a", 1, "U", "x")],
        "repo string, path string, seq long, op string, content string",
    )
    st = t.apply_batch(spark, df, "b1")
    assert st.applied
    assert not (tmp_path / "spark-warehouse").exists()  # nothing strayed
    assert t.read(spark).count() == 1


def test_verify_checksums_survive_float_widening(spark, tmp_path):
    """Buckets NOT rewritten since an int->double widening must verify
    clean: each manifest checksum certifies its file group under the
    schema it was WRITTEN with (int 5 renders "5" pre-widen but "5.0"
    through the evolved read — recomputing under the current schema
    false-flags every stale-schema bucket on a healthy table)."""
    t = LakeTable(str(tmp_path / "lake"), num_buckets=8)
    b1 = spark.createDataFrame(
        [(f"r{i}", "a", i + 1, "U", i * 10) for i in range(24)],
        "repo string, path string, seq long, op string, v int",
    )
    t.apply_batch(spark, b1, "w1")
    # batch 2 touches ONE key but widens v to double for the whole table
    b2 = spark.createDataFrame(
        [("r0", "a", 100, "U", 3.5)],
        "repo string, path string, seq long, op string, v double",
    )
    t.apply_batch(spark, b2, "w2")
    snap = t.current_snapshot()
    assert snap["schema_version"] == 2
    stale = [
        b for b, m in snap["buckets"].items()
        if m["files"] and int(m["schema_version"]) == 1
    ]
    assert stale, "widening batch must leave some buckets un-rewritten"
    assert t.verify_bucket_checksums(spark) == []
    # and the audit still detects real corruption on a stale-schema bucket
    assert len(stale) >= 2
    victim_meta = snap["buckets"][stale[0]]
    victim = os.path.join(t.path, victim_meta["files"][0])
    donor_b = stale[1]  # same schema version: the read stays typed-valid
    import shutil as _sh

    donor = os.path.join(t.path, snap["buckets"][donor_b]["files"][0])
    crc = lambda p: os.path.join(  # noqa: E731
        os.path.dirname(p), "." + os.path.basename(p) + ".crc"
    )
    _sh.copyfile(donor, victim)
    if os.path.exists(crc(donor)):
        _sh.copyfile(crc(donor), crc(victim))
    assert t.verify_bucket_checksums(spark) != []


def test_rebucket_failure_restores_bucket_count(spark, tmp_path, monkeypatch):
    """A failure AFTER the rewrite but BEFORE the snapshot CAS must put
    self.num_buckets back: the committed layout is still the old one,
    and a caller that catches and continues would otherwise bucket
    future batches with the new count over old-layout metadata."""
    t = LakeTable(str(tmp_path / "lake"), num_buckets=4)
    df = spark.createDataFrame(
        [(f"r{i}", "a", i + 1, "U", "x") for i in range(12)],
        "repo string, path string, seq long, op string, content string",
    )
    t.apply_batch(spark, df, "b1")

    def boom(*a, **k):
        raise OSError("disk full")

    monkeypatch.setattr(t, "_persist_file_stats", boom)
    with pytest.raises(OSError):
        t.rebucket(spark, 16)
    monkeypatch.undo()
    assert t.num_buckets == 4
    assert t.current_snapshot()["num_buckets"] == 4
    # the handle still works against the committed layout
    st = t.apply_batch(
        spark,
        spark.createDataFrame(
            [("r0", "a", 100, "U", "y")],
            "repo string, path string, seq long, op string, content string",
        ),
        "b2",
    )
    assert st.applied and t.read(spark).where("seq = 100").count() == 1


def test_read_key_empty_table_and_unknown_kwargs(spark, tmp_path):
    t = LakeTable(str(tmp_path / "lake"), num_buckets=4)
    # schemaless table: empty frame, not an AnalysisException
    assert t.read_key(spark, repo="a", path="b").count() == 0
    t.apply_batch(
        spark,
        spark.createDataFrame(
            [("a", "b", 1, "U", "x")],
            "repo string, path string, seq long, op string, content string",
        ),
        "b1",
    )
    # a non-key filter must fail loudly, never be silently dropped
    with pytest.raises(ValueError, match="unexpected"):
        t.read_key(spark, repo="a", path="b", content="x")
    assert t.read_key(spark, repo="a", path="b").count() == 1


def test_inspect_metadata_tables(spark, tmp_path):
    """Iceberg metadata-table analog: snapshots/files/refs/batches as
    DataFrames built from the manifest, join-able with data reads."""
    from mex_extractors_spark.lake.table import LakeTable as _LT

    t = _LT(str(tmp_path / "lake"), num_buckets=2, merge_mode="mor")
    sch = "repo string, path string, seq long, op string, content string"
    t.apply_batch(
        spark,
        spark.createDataFrame([("r", "a", 1, "U", "x"), ("r", "b", 2, "U", "y")], sch),
        "b1",
        mode="cow",
    )
    t.apply_batch(
        spark, spark.createDataFrame([("r", "a", 3, "U", "x2")], sch), "b2"
    )  # mor delta
    t.create_tag("rel", 1)
    t.create_branch("dev")

    snaps = {r.version: r for r in t.inspect(spark, "snapshots").collect()}
    assert set(snaps) == {1, 2}
    assert snaps[2].parent_version == 1 and snaps[2].n_batches == 2
    assert snaps[1].total_rows == 2

    files = t.inspect(spark, "files").collect()
    kinds = {(r.kind, r.delta_group) for r in files}
    assert ("base", -1) in kinds and ("delta", 0) in kinds
    # every listed file is a real manifest entry on disk
    import os as _os

    for r in files:
        assert _os.path.exists(_os.path.join(t.path, r.file)), r.file

    refs = {(r.name, r.kind): r.version for r in t.inspect(spark, "refs").collect()}
    assert refs[("main", "branch")] == 2
    assert refs[("rel", "tag")] == 1
    assert refs[("dev", "branch")] == 2

    batches = [r.batch_id for r in t.inspect(spark, "batches").collect()]
    assert batches == ["b1", "b2"]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown metadata table"):
        t.inspect(spark, "nope")
