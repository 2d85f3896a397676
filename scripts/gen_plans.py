#!/usr/bin/env python
"""Generate PLANS.md: physical-plan evidence for the engine's scale claims.

Each section captures .explain("formatted") of a load-bearing plan and
states what to look for (pushed filters, pruned ReadSchema, broadcast
exchanges, map-side partial aggregation, single shuffle in the merge).
Run: python scripts/gen_plans.py  (writes PLANS.md at the repo root).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from mex_extractors_spark import synth  # noqa: E402
from mex_extractors_spark.operators.lww import lww_latest  # noqa: E402
from mex_extractors_spark.plans.queries import REGISTRY  # noqa: E402
from mex_extractors_spark.session import get_spark  # noqa: E402
from mex_extractors_spark.sources.normalize import normalize_change_events  # noqa: E402

SF = "/root/testdata/sf0.01"


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().strip()


def main() -> None:
    spark = get_spark(app_name="gen-plans", cores=8, shuffle_partitions=8)
    sections: list[tuple[str, str, str]] = []

    # 1. LWW merge kernel: ONE exchange, partial max_by before it
    ev = synth.events(spark, 1000, n_repos=20)
    merge = lww_latest(normalize_change_events(ev), key_cols=["repo", "path"], seq_col="seq")
    sections.append(
        (
            "CDC merge kernel (normalize → LWW max_by)",
            "Exactly ONE `Exchange hashpartitioning(repo, path, ...)`; "
            "`SortAggregate` with `partial_max_by` ABOVE the scan (map-side "
            "combine pre-reduces hot keys on every input split before the "
            "shuffle — the skew story of the engine); normalize stage "
            "(sha256 / vocab map) fused into the same codegen stage as the scan.",
            formatted(merge),
        )
    )

    # 1b. storage-partitioned MERGE: batch joins the bucketed table
    #     with ONE shuffle total (capture the plan the replay engine
    #     actually executes on batch 2 by spying on the write hook)
    import shutil
    import tempfile

    from mex_extractors_spark.lake.table import LakeTable
    from mex_extractors_spark.streaming.replay import ReplayEngine

    tmp = tempfile.mkdtemp(prefix="gen_plans_lake_")
    captured: list[str] = []
    orig_write = LakeTable._write_bucketed

    def _spy(self, spark_, df, out_dir):
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        captured.append(buf.getvalue().strip())
        return orig_write(self, spark_, df, out_dir)

    cdf_plan = None
    try:
        table = LakeTable(os.path.join(tmp, "lake"), num_buckets=8)
        engine = ReplayEngine(table)
        ev2 = synth.events(spark, 3000, n_repos=20)
        engine.replay(spark, ev2, 1, 1000, batch_size=1000)
        LakeTable._write_bucketed = _spy
        engine.replay(spark, ev2, 1001, 2000, batch_size=1000)
        cow_plan = captured[-1]
        # change-data-feed between the two cow snapshots (both sides
        # bucketed scans, shuffle-free)
        cdf_plan = formatted(table.read_changes(spark, from_version=1, to_version=2))
        # merge-on-read append: same batch shape, no table side at all
        table.apply_batch(
            spark,
            ev2.where((F.col("seq") > 2000) & (F.col("seq") <= 3000)),
            "mor-demo",
            mode="mor",
        )
        mor_plan = captured[-1]
        LakeTable._write_bucketed = orig_write
        # reads with that delta pending: merged in place
        mor_read_plan = formatted(table.read(spark))
        probe = table.read(spark).orderBy("repo", "path").first()
        mor_key_plan = formatted(table.read_key(spark, repo=probe.repo, path=probe.path))
    finally:
        LakeTable._write_bucketed = orig_write
    sections.append(
        (
            "Storage-partitioned MERGE (micro-batch 2+ upsert)",
            "The full merge a replay batch executes: ONE "
            "`Exchange hashpartitioning` total (the batch LWW agg); the "
            "current table enters the `SortMergeJoin FullOuter` as a "
            "`Bucketed: true` FileScan — table rows are merged in place, "
            "never shuffled. The only other exchange is the ~num_buckets-row "
            "`BroadcastExchange` of the watermark fence. At 100 TB "
            "(table >> batch) this is the load-bearing plan property.",
            cow_plan,
        )
    )
    sections.append(
        (
            "Merge-on-read delta append (apply_batch mode='mor')",
            "The written plan is the batch LWW aggregate ALONE — no "
            "`SortMergeJoin`, no table-side FileScan anywhere: the standing "
            "table is neither read nor rewritten, so per-batch write cost is "
            "O(batch) at any table size (trickle-ingest regime; measured "
            "65× write-amplification reduction in BENCH/MOR.md). Deltas "
            "carry the op column as tombstones; reads merge base+deltas "
            "by seq in place (next section) and compact() folds them back.",
            mor_plan,
        )
    )
    sections.append(
        (
            "Merge-on-read read in place (read, then read_key, deltas pending)",
            "Each bucket's base and delta files are ONE `FileScan` whose "
            "ReadSchema adds the `op` column (base files lack it and read "
            "null); the last-writer-wins `Window` (seq desc, then op nulls "
            "last: a delta row beats a base row of equal seq) runs inside "
            "each bucket — `Bucketed: true` for the whole table, `Coalesce 1` "
            "(one task) for the one bucket a point lookup reads, with the "
            "key equalities pushed into the scan. ZERO `Exchange` in either "
            "plan (asserted by "
            "tests/test_lake.py::test_mor_reads_are_shuffle_free).",
            mor_read_plan + "\n\n" + mor_key_plan,
        )
    )
    shutil.rmtree(tmp, ignore_errors=True)
    sections.append(
        (
            "Change-data-feed snapshot diff (read_changes)",
            "Both snapshots enter the FULL OUTER key join as `Bucketed: true` "
            "FileScans pruned to the manifest-diff buckets — ZERO `Exchange` "
            "in the whole plan: neither snapshot's rows shuffle "
            "(storage-partitioned join on the shared bucket layout; asserted "
            "by tests/test_lake.py::test_read_changes_is_shuffle_free).",
            cdf_plan,
        )
    )

    # 1c. manifest-stats data skipping: the evidence is the FILE LIST,
    #     not a plan node — pruning happens before the scan is planned
    tmp2 = tempfile.mkdtemp(prefix="gen_plans_skip_")
    try:
        st_table = LakeTable(
            os.path.join(tmp2, "lake"), num_buckets=8,
            stats_cols=["lang", "seq"],
        )
        ev3 = synth.events(spark, 2000, n_repos=40)
        st_table.apply_batch(spark, ev3.where(F.col("seq") <= 1900), "s1")
        # trickle batch: ONE key -> one bucket rewritten (the zipf-
        # shaped reality a recency predicate exploits)
        one = (
            ev3.where((F.col("seq") > 1900) & (F.col("op") != "D"))
            .select("repo", "path")
            .first()
        )
        st_table.apply_batch(
            spark,
            ev3.where(
                (F.col("seq") > 1900)
                & (F.col("repo") == one["repo"])
                & (F.col("path") == one["path"])
            ),
            "s2",
        )
        full_files = len(st_table.read(spark).inputFiles())
        recent = st_table.read(spark, where=[("seq", ">", 1900)])
        recent_files = len(recent.inputFiles())
        sections.append(
            (
                "Manifest-stats data skipping (read(where=...))",
                "Iceberg-style lower/upper-bound + value-set pruning from "
                "the snapshot manifest (lake/stats.py): the full read scans "
                f"{full_files} base files; `read(where=[('seq','>',1900)])` "
                f"scans {recent_files} — only buckets batch s2 rewrote have "
                "files whose footer max(seq) clears the bound; every cold "
                "bucket is dropped from the file list BEFORE planning (a "
                "driver-side manifest walk, zero file I/O). Correctness "
                "never depends on the stats — pruning only shrinks the file "
                "list and the full predicate is re-applied to survivors, "
                "reaching the surviving scans as `PushedFilters: "
                "[GreaterThan(seq,1900)]` for row-group pruning.",
                formatted(recent),
            )
        )
    finally:
        shutil.rmtree(tmp2, ignore_errors=True)

    # 2. scan pushdown + pruning
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    pruned = li.where(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    sections.append(
        (
            "Parquet scan: predicate pushdown + column pruning",
            "`PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]` "
            "reaches the scan; `ReadSchema` lists ONLY the two projected columns "
            "of the 16-column table.",
            formatted(pruned),
        )
    )

    # 3. broadcast dim join
    sections.append(
        (
            "Dimension join (j1_broadcast_dim_join)",
            "Three `BroadcastHashJoin`s (customer/nation/region build sides "
            "broadcast — no shuffle of the orders fact side for the joins); "
            "one exchange only for the final aggregate; `HashAggregate` pairs "
            "show partial→final map-side combine.",
            formatted(REGISTRY["j1_broadcast_dim_join"].fn(spark, SF)),
        )
    )

    # 4. grouped aggregate partial combine
    sections.append(
        (
            "Grouped aggregate (a1_pricing_summary, TPC-H Q1 shape)",
            "`HashAggregate(keys=[l_returnflag, l_linestatus], functions=[partial_...])` "
            "below the exchange, final above — canonical two-phase aggregation; "
            "whole plan inside `WholeStageCodegen`.",
            formatted(REGISTRY["a1_pricing_summary"].fn(spark, SF)),
        )
    )

    # 5. window rank
    sections.append(
        (
            "Ranking window (w6_rank_topn_per_group)",
            "Single exchange on o_custkey, `WindowGroupLimit` pushes the "
            "rank<=3 limit below the sort where supported.",
            formatted(REGISTRY["w6_rank_topn_per_group"].fn(spark, SF)),
        )
    )

    # 6. k-means single-round shape: broadcast argmin + one tiny shuffle
    from mex_extractors_spark.operators.similarity import kmeans_refine

    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    sections.append(
        (
            "K-means round (sim4_kmeans_refine final assignment)",
            "`BroadcastNestedLoopJoin`/`BroadcastExchange` of the k×dim "
            "centroid literals against the corpus (the corpus side never "
            "shuffles for the join); ONE `Exchange hashpartitioning(_id)` "
            "for the argmin with `partial_min_by` below it — per-round cost "
            "is a corpus scan plus k·dim partial sums per executor.",
            formatted(kmeans_refine(emb, num_centroids=8, iterations=0)),
        )
    )

    # 7. repetition-signal pipeline: two partial-aggregated shuffles
    sections.append(
        (
            "Top-bigram occupancy (t6_repetition_signals)",
            "Explode → `HashAggregate(keys=[doc_id, _bg], partial_count)` → "
            "exchange on (doc_id,_bg) → final → second partial/final pair "
            "keyed by doc_id: the mode is found with aggregation only, no "
            "per-row interpreted fold and no self-join.",
            formatted(REGISTRY["t6_repetition_signals"].fn(spark, SF)),
        )
    )

    # 7b. decontamination: broadcast membership + count-distinct agg
    sections.append(
        (
            "Benchmark decontamination (t7_decontamination)",
            "`BroadcastHashJoin` with the eval set's DISTINCT shingle set as "
            "build side — the corpus side never shuffles for the membership "
            "test; the per-doc overlap is a partial_count(distinct) "
            "HashAggregate pair. No doc×doc join in the plan.",
            formatted(REGISTRY["t7_decontamination"].fn(spark, SF)),
        )
    )

    # 8. near-dup pair generation via inverted index (no self-join)
    sections.append(
        (
            "N-gram jaccard pairs (d2_ngram_jaccard, inverted index)",
            "Shingle explode feeds `collect_set` per doc riding ONE "
            "repartition; postings built with a single exchange on the "
            "shingle; pair fan-out is a double explode inside codegen with "
            "the `size(_docs) <= max_df` stop-shingle guard as a plain "
            "filter — no document self-join appears anywhere in the plan.",
            formatted(REGISTRY["d2_ngram_jaccard"].fn(spark, SF)),
        )
    )

    sections.append(
        (
            "t12 exact-quota stratified sample (prefilter + rank window)",
            "The `Window [row_number(...)]` input is a `Scan ExistingRDD` — "
            "the eagerly localCheckpoint-ed ~margin×quota-per-stratum sliver "
            "— NOT the parquet scan: the corpus is touched only by the two "
            "checkpointed passes (counts, prefilter), and no full-data sort "
            "appears anywhere in the plan.",
            formatted(REGISTRY["t12_stratified_sample"].fn(spark, SF)),
        )
    )
    sections.append(
        (
            "d7 incremental near-dup probe (band index join + pruned verify)",
            "The batch side is explode+agg band keys; the corpus appears "
            "only as (a) the persistent band-index join and (b) a text read "
            "joined against `BroadcastExchange` of the candidate ids BEFORE "
            "any shingle explode — the corpus is never exploded wholesale, "
            "and the candidate frame is a checkpointed `Scan ExistingRDD` "
            "(materialized once, reused by both consumers).",
            formatted(REGISTRY["d7_incremental_neardup"].fn(spark, SF)),
        )
    )
    sections.append(
        (
            "t5b session windows (MergingSessions, one exchange)",
            "The canonical sessionization plan: 2-column pruned scan with "
            "`PushedFilters: [IsNotNull(ts)]`, a PARTIAL HashAggregate over "
            "per-event `session_window` structs (map-side combine before "
            "any shuffle), ONE `Exchange hashpartitioning(user_id)`, then "
            "`Sort` + `MergingSessions` + the final HashAggregate. On a "
            "stream the identical shape runs stateful with watermark "
            "eviction; nothing about the plan is batch-only.",
            formatted(REGISTRY["t5b_session_windows"].fn(spark, SF)),
        )
    )
    sections.append(
        (
            "t11 vocabulary build (bigram tf/df + top-k)",
            "`partial_count` / partial `count(distinct ...)` above the "
            "explode (map-side combine pre-collapses the zipf head before "
            "the one token shuffle); the final top-k compiles to "
            "`TakeOrderedAndProject`, never a global sort.",
            formatted(REGISTRY["t11_vocab_build"].fn(spark, SF)),
        )
    )
    sections.append(
        (
            "j10 as-of join (union + running window, no join operator)",
            "NO join operator appears in the plan at all — the classic "
            "non-equi `l.k = r.k AND l.t >= r.t` formulation would plan a "
            "BroadcastNestedLoop or a per-row-rescanning sort-merge with "
            "quadratic per-key blowup. Instead: one `Union`, exactly ONE "
            "`Exchange hashpartitioning(user_id)`, a per-key `Sort` and a "
            "running `last(_r, true)` `RunningWindowFunction` — O(n log n) "
            "per key, skew costs a sort rather than a cross product.",
            formatted(REGISTRY["j10_asof_join"].fn(spark, SF)),
        )
    )
    sections.append(
        (
            "j11 interval join (banded range join as an equi-join)",
            "The range predicate never reaches a nested loop: intervals "
            "explode into the few time bands they overlap (`Generate "
            "explode(sequence(...))`), the join is a plain "
            "`SortMergeJoin` whose keys INCLUDE the band (`_b`), and the "
            "exact `BETWEEN` re-check rides the join condition. AQE/skew "
            "handling applies as to any equi-join; an interval spanning "
            "more than max_bands buckets fails loudly via `raise_error` "
            "instead of silently exploding.",
            formatted(REGISTRY["j11_interval_join"].fn(spark, SF)),
        )
    )

    # DML plans: build a small lake and capture the two load-bearing
    # shapes exactly as lake/table.py constructs them (the internal
    # DataFrames are not exposed, so this reconstructs the same plan:
    # _dml_rewrite's pruned match-count aggregate and merge_into's
    # key-co-partitioned full-outer join).
    import tempfile

    from mex_extractors_spark.lake.table import LakeTable

    dml_dir = tempfile.mkdtemp(prefix="plans_dml_")
    dml_tbl = LakeTable(
        dml_dir, num_buckets=8, key_cols=["repo", "path"], stats_cols=["lang"]
    )
    dml_tbl.apply_batch(
        spark, normalize_change_events(synth.events(spark, 5000, n_repos=20)), "p1"
    )
    preds = [("lang", "=", "go")]
    count_plan = (
        dml_tbl.read(spark, where=preds)
        .groupBy(dml_tbl._bucket_expr().alias("_b"))
        .count()
    )
    sections.append(
        (
            "Predicate DML match count (delete_where/update_where phase 1)",
            "The pre-rewrite scan that decides which buckets a DELETE/"
            "UPDATE touches (`lake/table.py:_dml_rewrite`): files the "
            "manifest stats prove predicate-free never reach the plan "
            "(driver-side skip list), the residual predicate is PUSHED "
            "(`PushedFilters: [IsNotNull(lang), EqualTo(lang,go)]`), and "
            "the per-bucket count is a partial-aggregated ≤num_buckets-row "
            "result — the driver learns the touched set without a full "
            "rewrite-sized job.",
            formatted(count_plan),
        )
    )
    state = dml_tbl.read(spark).withColumn("_t_ex", F.lit(True)).alias("t")
    src = (
        dml_tbl.read(spark)
        .limit(200)
        .select("repo", "path", "seq", F.lit("go").alias("lang"))
        .withColumn("_s_ex", F.lit(True))
        .alias("s")
    )
    on = (F.col("t.repo") == F.col("s.repo")) & (F.col("t.path") == F.col("s.path"))
    sections.append(
        (
            "MERGE INTO reconciliation join (merge_into)",
            "ONE `SortMergeJoin FullOuter` on the key columns — each side "
            "shuffles once on (repo, path), the same hash the bucket "
            "layout uses, so at scale the exchange moves only the touched "
            "buckets plus the source, never the table. No broadcast of "
            "the state side, no nested-loop fallback, clause CASEs run "
            "post-join in the same codegen stage.",
            formatted(state.join(src, on, "full_outer")),
        )
    )
    sections.append(
        (
            "s19 Debezium envelope decode (binlog/WAL tail normalization)",
            "ONE `from_json` per row, inside the 1:1 Generate "
            "(`explode(array(parse))`) — the barrier that stops predicate "
            "pushdown from substituting the parse into the validity "
            "filter (without it the optimized plan carried 32 from_json "
            "instances, ~15x slower). Everything above the Generate is "
            "struct-field extraction in the same codegen stage. The one "
            "Exchange sits BELOW the decode — it is the query harness "
            "fanning the single-split synthetic stream out to worker "
            "parallelism; the operator itself adds no shuffle, so at "
            "10^10 events it costs exactly one JSON parse per record.",
            formatted(REGISTRY["s19_debezium_envelope"].fn(spark, SF)),
        )
    )
    # cdc_envelope_replay's ingest stage: envelope FILES -> fused decode
    import tempfile as _tf

    from mex_extractors_spark.sources.cdc_envelope import parse_cdc_envelope

    env_dir = os.path.join(_tf.gettempdir(), "plans_env_src")
    import shutil as _sh0

    _sh0.rmtree(env_dir, ignore_errors=True)
    env_expr = F.concat(
        F.lit('{"op":"c","after":{"user_id":'),
        F.col("id").cast("string"),
        F.lit('},"source":{"lsn":'),
        F.col("id").cast("string"),
        F.lit("}}"),
    )
    spark.range(1000).select(env_expr.alias("value")).write.text(env_dir)
    env_changes, _ = parse_cdc_envelope(
        spark.read.text(env_dir), "user_id bigint", key_cols=["user_id"]
    )
    sections.append(
        (
            "cdc_envelope_replay ingest stage (file scan -> fused decode)",
            "The production-shape flagship's first stage: envelope JSON "
            "segments on disk, scanned and decoded in ONE stage — "
            "`Scan text` -> Generate(one from_json) -> Project/Filter, "
            "no Exchange anywhere in the decode (gated by "
            "tests/test_cdc_envelope.py::test_envelope_replay_decode_fused). "
            "The first shuffle of the whole pipeline is the merge "
            "kernel's hashpartitioning on the key, downstream.",
            formatted(env_changes),
        )
    )
    _sh0.rmtree(env_dir, ignore_errors=True)
    sections.append(
        (
            "t15 sequence packing (concat-and-chunk prefix sum)",
            "Same distributed-prefix-sum shape as t10: the full-data "
            "window is partitioned by `_rb` (parallel, one exchange on "
            "the range bucket), the global-order sort exists only over "
            "the ~n_buckets per-bucket totals, and the offsets come back "
            "via BroadcastHashJoin. The sequence arithmetic "
            "(first/last/offset/span) is pure projection on top — no "
            "second shuffle.",
            formatted(REGISTRY["t15_sequence_packing"].fn(spark, SF)),
        )
    )
    import shutil as _sh

    _sh.rmtree(dml_dir, ignore_errors=True)

    out = ["# PLANS — physical-plan evidence\n"]
    out.append(
        "Captured with `.explain('formatted')` on PySpark "
        f"{spark.version}, sf0.01 inputs. Regenerate: `python scripts/gen_plans.py`.\n"
    )
    for title, what, plan in sections:
        out.append(f"\n## {title}\n\n{what}\n\n```\n{plan}\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
