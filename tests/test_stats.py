"""File-level manifest statistics + data-skipping reads.

The stats contract (lake/stats.py): writes record per-file min/max/null
counts (parquet footers — the Iceberg writers-emit-stats model) and
capped distinct value sets (via the write's observe() aggregates);
``read(where=...)`` drops base files whose stats provably exclude a
conjunct BEFORE planning the scan, then still applies the predicate to
the surviving rows — pruning must never be a correctness dependency.
Modeled on the reference's metadata-document-next-to-data pattern
(mex/extractors/sinks/s3.py:111-133) generalized to per-file bounds.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from mex_extractors_spark.lake.stats import (
    file_may_match,
    footer_column_stats,
    validate_predicates,
)
from mex_extractors_spark.lake.table import LakeTable


def _events(spark, rows):
    return spark.createDataFrame(
        rows,
        "repo string, path string, seq long, lang string, stars long, op string",
    )


@pytest.fixture()
def lake_dir(tmp_path):
    d = str(tmp_path / "stats_lake")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _mk_table(lake_dir, **kw):
    kw.setdefault("key_cols", ["repo", "path"])
    kw.setdefault("num_buckets", 8)
    kw.setdefault("stats_cols", ["lang", "stars", "seq"])
    return LakeTable(lake_dir, **kw)


def _spread_rows(n, lang="python", stars=lambda i: 10 * i, seq0=1):
    return [
        (f"repo{i % 37}", f"src/f{i}.py", seq0 + i, lang, stars(i), "U")
        for i in range(n)
    ]


def _all_file_stats(t):
    """{rel: stats} for every base file of the current snapshot, read
    through the sidecar layout (legacy embedded stats NOT consulted —
    these tests pin the current write path)."""
    snap = t.current_snapshot()
    return {
        rel: t.file_stats(rel)
        for meta in snap["buckets"].values()
        for rel in meta["files"]
    }


class TestManifestStats:
    def test_footer_and_value_set_stats_recorded(self, spark, lake_dir):
        t = _mk_table(lake_dir)
        t.apply_batch(spark, _events(spark, _spread_rows(300)), "b1")
        fstats = _all_file_stats(t)
        seen_cols = set()
        for st in fstats.values():
            assert st is not None  # every file has a sidecar
            seen_cols.update(st)
            for cs in st.values():
                if cs.get("min") is not None:
                    assert cs["min"] <= cs["max"]
        assert {"lang", "stars", "seq"} <= seen_cols
        # lang has 1 distinct value -> every file carries a value set
        langs = {
            v for st in fstats.values() for v in st["lang"].get("values", [])
        }
        assert langs == {"python"}
        # and the snapshot document stays slim: stats are NOT embedded
        snap = t.current_snapshot()
        assert all(
            "file_stats" not in meta for meta in snap["buckets"].values()
        )

    def test_stats_off_by_default(self, spark, lake_dir):
        t = LakeTable(lake_dir, key_cols=["repo", "path"], num_buckets=4)
        t.apply_batch(spark, _events(spark, _spread_rows(50)), "b1")
        assert all(st is None for st in _all_file_stats(t).values())

    def test_readback_records_full_stats(self, spark, lake_dir):
        """Footer min/max AND value sets land in the sidecars from the
        commit's read-back (the codegen'd groupBy over the written files)."""
        t = _mk_table(lake_dir)
        t.apply_batch(spark, _events(spark, _spread_rows(100)), "b1")
        fstats = _all_file_stats(t)
        assert any(
            st["stars"].get("min") is not None for st in fstats.values()
        )
        langs = {
            v for st in fstats.values() for v in st["lang"].get("values", [])
        }
        assert langs == {"python"}


class TestDataSkipping:
    def test_rare_category_prunes_files_and_matches_filter(
        self, spark, lake_dir
    ):
        t = _mk_table(lake_dir)
        rows = _spread_rows(400)
        # a rare category in a handful of keys -> a handful of buckets
        rows += [
            (f"only{i}", "rare.cob", 10_000 + i, "cobol", 1, "U")
            for i in range(3)
        ]
        t.apply_batch(spark, _events(spark, rows), "b1")
        full = t.read(spark)
        pruned = t.read(spark, where=[("lang", "=", "cobol")])
        assert len(pruned.inputFiles()) < len(full.inputFiles())
        exp = sorted(
            map(tuple, full.where(F.col("lang") == "cobol").collect())
        )
        assert sorted(map(tuple, pruned.collect())) == exp

    def test_seq_range_prunes_cold_buckets(self, spark, lake_dir):
        """Zipf-shaped reality: a trickle batch touches few buckets; a
        recency predicate then skips every bucket the batch missed."""
        t = _mk_table(lake_dir)
        t.apply_batch(spark, _events(spark, _spread_rows(400)), "b1")
        # second batch touches ONE key -> one bucket rewritten
        t.apply_batch(
            spark,
            _events(spark, [("repo0", "src/f0.py", 99_999, "python", 7, "U")]),
            "b2",
        )
        full = t.read(spark)
        recent = t.read(spark, where=[("seq", ">=", 99_999)])
        assert len(recent.inputFiles()) == 1
        assert [tuple(r) for r in recent.collect()] == [
            ("repo0", "src/f0.py", 99_999, "python", 7)
        ]
        assert len(full.inputFiles()) == 8

    def test_in_predicate_and_conjunction(self, spark, lake_dir):
        t = _mk_table(lake_dir)
        rows = _spread_rows(200) + [
            ("onlyA", "a.go", 5000, "go", 3, "U"),
            ("onlyB", "b.rs", 5001, "rust", 4, "U"),
        ]
        t.apply_batch(spark, _events(spark, rows), "b1")
        full = t.read(spark)
        got = t.read(
            spark, where=[("lang", "in", ["go", "rust"]), ("stars", ">=", 4)]
        )
        exp = sorted(
            map(
                tuple,
                full.where(
                    F.col("lang").isin("go", "rust") & (F.col("stars") >= 4)
                ).collect(),
            )
        )
        assert sorted(map(tuple, got.collect())) == exp
        assert len(got.inputFiles()) < len(full.inputFiles())

    def test_schema_evolution_prunes_pre_column_files(self, spark, lake_dir):
        """Files written before a column existed read back all-null
        there — provably excluded for any matching predicate."""
        t = _mk_table(lake_dir, stats_cols=["license"])
        t.apply_batch(spark, _events(spark, _spread_rows(200)), "b1")
        evolved = spark.createDataFrame(
            [("newrepo", "n.py", 10_000, "python", 1, "mit", "U")],
            "repo string, path string, seq long, lang string, stars long,"
            " license string, op string",
        )
        t.apply_batch(spark, evolved, "b2")
        got = t.read(spark, where=[("license", "=", "mit")])
        assert len(got.inputFiles()) == 1
        assert [
            (r["repo"], r["license"]) for r in got.collect()
        ] == [("newrepo", "mit")]

    def test_pruning_never_drops_mor_delta_state(self, spark, lake_dir):
        """Delta files are exempt from pruning: a tombstone delta for a
        matching base row must still suppress it, and a delta update
        that newly matches must surface."""
        t = _mk_table(lake_dir, merge_mode="mor")
        rows = _spread_rows(100) + [
            ("vic", "gone.py", 900, "cobol", 1, "U"),
            ("new", "hot.py", 901, "python", 1, "U"),
        ]
        t.apply_batch(spark, _events(spark, rows), "b1", mode="cow")
        t.apply_batch(
            spark,
            _events(
                spark,
                [
                    ("vic", "gone.py", 1000, None, None, "D"),
                    ("new", "hot.py", 1001, "cobol", 2, "U"),
                ],
            ),
            "b2",
        )
        got = t.read(spark, where=[("lang", "=", "cobol")])
        assert [(r["repo"], r["lang"], r["stars"]) for r in got.collect()] == [
            ("new", "cobol", 2)
        ]

    def test_where_equals_filter_on_full_read(self, spark, lake_dir):
        t = _mk_table(lake_dir)
        t.apply_batch(spark, _events(spark, _spread_rows(300)), "b1")
        for preds, col in [
            ([("stars", "<", 500)], F.col("stars") < 500),
            ([("stars", "<=", 0)], F.col("stars") <= 0),
            ([("lang", "=", "python")], F.col("lang") == "python"),
            ([("stars", ">", 10_000)], F.col("stars") > 10_000),
        ]:
            exp = sorted(map(tuple, t.read(spark).where(col).collect()))
            got = sorted(map(tuple, t.read(spark, where=preds).collect()))
            assert got == exp, preds

    def test_compact_regenerates_stats(self, spark, lake_dir):
        t = _mk_table(lake_dir, merge_mode="mor")
        t.apply_batch(spark, _events(spark, _spread_rows(100)), "b1", mode="cow")
        t.apply_batch(
            spark,
            _events(spark, [("onlyC", "c.cob", 9000, "cobol", 1, "U")]),
            "b2",
        )
        t.compact(spark)
        snap = t.current_snapshot()
        assert not any(m.get("deltas") for m in snap["buckets"].values())
        got = t.read(spark, where=[("lang", "=", "cobol")])
        assert len(got.inputFiles()) < len(t.read(spark).inputFiles())
        assert [(r["repo"], r["lang"]) for r in got.collect()] == [
            ("onlyC", "cobol")
        ]

    def test_rebucket_regenerates_stats(self, spark, lake_dir):
        t = _mk_table(lake_dir)
        rows = _spread_rows(100) + [("onlyD", "d.cob", 9000, "cobol", 1, "U")]
        t.apply_batch(spark, _events(spark, rows), "b1")
        t.rebucket(spark, 16)
        got = t.read(spark, where=[("lang", "=", "cobol")])
        assert len(got.inputFiles()) < len(t.read(spark).inputFiles())
        assert [(r["repo"], r["lang"]) for r in got.collect()] == [
            ("onlyD", "cobol")
        ]

    def test_bad_predicates_rejected(self, spark, lake_dir):
        t = _mk_table(lake_dir)
        t.apply_batch(spark, _events(spark, _spread_rows(10)), "b1")
        with pytest.raises(ValueError):
            t.read(spark, where=[("lang", "like", "py%")])
        with pytest.raises(ValueError):
            t.read(spark, where=[("lang", "in", "python")])


class TestStatsUnit:
    def test_file_may_match_bounds(self):
        st = {"stars": {"min": 10, "max": 20, "nulls": 0}}
        assert file_may_match(st, True, "stars", "=", 15)
        assert not file_may_match(st, True, "stars", "=", 9)
        assert not file_may_match(st, True, "stars", ">", 20)
        assert file_may_match(st, True, "stars", ">=", 20)
        assert not file_may_match(st, True, "stars", "<", 10)
        assert file_may_match(st, True, "stars", "<=", 10)
        assert file_may_match(st, True, "stars", "in", [1, 12])
        assert not file_may_match(st, True, "stars", "in", [1, 2])

    def test_file_may_match_value_sets_and_gaps(self):
        st = {"lang": {"min": "go", "max": "rust", "values": ["go", "rust"]}}
        # min/max alone could not exclude "python"; the value set can
        assert not file_may_match(st, True, "lang", "=", "python")
        assert file_may_match(st, True, "lang", "=", "rust")
        # absent column (older schema) -> provably null -> skip
        assert not file_may_match(st, False, "lang", "=", "go")
        # no stats for the column -> conservative keep
        assert file_may_match({}, True, "lang", "=", "go")
        assert file_may_match(None, True, "lang", "=", "go")
        # incomparable predicate value -> conservative keep
        assert file_may_match(
            {"stars": {"min": 1, "max": 2}}, True, "stars", "=", "x"
        )

    def test_validate_predicates(self):
        out = validate_predicates([("a", "in", ("x", "y")), ("b", "=", 1)])
        assert out == [("a", "in", ["x", "y"]), ("b", "=", 1)]

    def test_footer_stats_on_real_file(self, spark, tmp_path):
        p = str(tmp_path / "f.parquet")
        spark.createDataFrame(
            [(1, "a"), (5, "z"), (3, None)], "n long, s string"
        ).coalesce(1).write.mode("overwrite").parquet(p)
        import glob

        f = glob.glob(f"{p}/part-*.parquet")[0]
        st = footer_column_stats(f, ["n", "s", "missing"])
        assert st["n"] == {"min": 1, "max": 5, "nulls": 0}
        assert st["s"]["min"] == "a" and st["s"]["max"] == "z"
        assert st["s"]["nulls"] == 1
        assert "missing" not in st


class TestTypeMismatchConservatism:
    def test_type_mismatched_predicates_never_prune(self):
        """Spark's residual filter applies implicit casts ('2024'=2024
        can match), so a type-mismatched predicate must keep the file."""
        st = {"year": {"min": "2020", "max": "2024", "values": ["2020", "2024"]}}
        assert file_may_match(st, True, "year", "=", 2024)
        assert file_may_match(st, True, "year", "in", [2024, 2025])
        st2 = {"year": {"min": "2020", "max": "2024"}}
        assert file_may_match(st2, True, "year", "=", 2024)
        assert file_may_match(st2, True, "year", "in", [2024])
        # comparable values still prune
        assert not file_may_match(st, True, "year", "=", "1999")
        # all-null column (empty value set) is provably unmatched
        st3 = {"year": {"min": None, "max": None, "values": []}}
        assert not file_may_match(st3, True, "year", "=", "2020")

    def test_mixed_type_in_list_never_prunes(self):
        """A MIXED in-list must keep the file when any element is
        non-comparable, even if the comparable elements all miss:
        isin(100, "5") matches c=5 via implicit cast on live Spark."""
        st = {"c": {"min": 5, "max": 9, "values": [5, 7, 9]}}
        # comparable 100 misses, but "5" could cast-match 5 -> keep
        assert file_may_match(st, True, "c", "in", [100, "5"])
        # value-set branch alone (no min/max)
        st2 = {"c": {"values": [5, 7, 9]}}
        assert file_may_match(st2, True, "c", "in", [100, "5"])
        # min/max branch alone (no value set)
        st3 = {"c": {"min": 5, "max": 9}}
        assert file_may_match(st3, True, "c", "in", [100, "5"])
        # fully-comparable miss still prunes
        assert not file_may_match(st, True, "c", "in", [100, 200])
        assert not file_may_match(st3, True, "c", "in", [100, 200])
        # empty in-list matches nothing -> prune
        assert not file_may_match(st, True, "c", "in", [])


class TestBloomStats:
    """Per-file bloom filters (lake/stats.py bloom_* + table
    ``bloom_cols``): point-lookup pruning on high-cardinality columns
    that min/max bounds can never exclude (a random sha spans the whole
    alphabet in every file). Modeled on the Iceberg/Delta per-file
    bloom; the reference's analog is the checksum metadata document
    (mex/extractors/sinks/s3.py:111-133) — it records what a file
    holds so a consumer can skip it."""

    @staticmethod
    def _sha_events(spark, n, seq0=1):
        rows = [
            (f"repo{i % 37}", f"src/f{i}.py", seq0 + i, f"{(seq0 + i):040x}",
             3 * i, "U")
            for i in range(n)
        ]
        return spark.createDataFrame(
            rows,
            "repo string, path string, seq long, commit string,"
            " stars long, op string",
        )

    def _bloom_table(self, lake_dir, **kw):
        kw.setdefault("key_cols", ["repo", "path"])
        kw.setdefault("num_buckets", 8)
        kw.setdefault("bloom_cols", ["commit", "stars"])
        return LakeTable(lake_dir, **kw)

    def test_bloom_recorded_and_point_lookup_prunes(self, spark, lake_dir):
        t = self._bloom_table(lake_dir)
        t.apply_batch(spark, self._sha_events(spark, 400), "b1")
        snap = t.current_snapshot()
        total = sum(len(m["files"]) for m in snap["buckets"].values())
        # every file carries a bloom for both columns (sidecar layout)
        for st in _all_file_stats(t).values():
            assert st["commit"]["bloom"]["t"] == "s"
            assert st["stars"]["bloom"]["t"] == "i"
        # absent sha: min/max could never prune this, the bloom prunes all
        absent = "f" * 40
        assert (
            len(t._prune_base_files(snap, None, [("commit", "=", absent)]))
            == total
        )
        assert t.read(spark, where=[("commit", "=", absent)]).count() == 0
        # present sha: only the containing file survives (plus rare fp)
        present = f"{123:040x}"
        pruned = t._prune_base_files(snap, None, [("commit", "=", present)])
        assert len(pruned) >= total - 2
        got = t.read(spark, where=[("commit", "=", present)]).collect()
        assert [(r["repo"], r["stars"]) for r in got] == [("repo11", 366)]

    def test_bloom_never_false_negative(self, spark, lake_dir):
        """Every PRESENT value must survive pruning — sampled across
        the whole corpus, string and int columns."""
        t = self._bloom_table(lake_dir)
        t.apply_batch(spark, self._sha_events(spark, 500), "b1")
        full = {(r["commit"], r["stars"]) for r in t.read(spark).collect()}
        sample = sorted(full)[::37]
        for commit, stars in sample:
            assert t.read(spark, where=[("commit", "=", commit)]).count() == 1
            assert t.read(spark, where=[("stars", "=", stars)]).count() == 1
        # conjunction with in-lists mixing present + absent values
        commits = [c for c, _ in sample[:3]] + ["e" * 40]
        got = t.read(spark, where=[("commit", "in", commits)]).count()
        assert got == 3

    def test_bloom_type_guard_never_prunes_cast_matches(self, spark, lake_dir):
        """Spark's residual filter applies implicit casts; the bloom
        hashes the column's OWN type family, so a predicate value of a
        different type must bypass the bloom (keep the file), and the
        residual decides."""
        t = self._bloom_table(lake_dir, bloom_cols=["stars", "tag"])
        rows = [("r1", "a.py", 1, " 5", 5, "U"), ("r2", "b.py", 2, "7", 7, "U")]
        ev = spark.createDataFrame(
            rows, "repo string, path string, seq long, tag string,"
            " stars long, op string"
        )
        t.apply_batch(spark, ev, "b1")
        snap = t.current_snapshot()
        # int column vs string predicate: no prune (isin/eq cast-matches)
        assert t._prune_base_files(snap, None, [("stars", "=", "5")]) == set()
        assert t._prune_base_files(snap, None, [("stars", "in", ["5", "9"])]) == set()
        # string column vs int predicate: ' 5' casts to 5 on Spark's
        # side but hashes as ' 5' — the bloom must NOT be consulted
        assert t._prune_base_files(snap, None, [("tag", "=", 5)]) == set()
        got = t.read(spark, where=[("tag", "=", 5)]).collect()
        assert [(r["repo"], r["tag"]) for r in got] == [("r1", " 5")]
        # same-type lookups still prune/match exactly
        assert t.read(spark, where=[("tag", "=", "7")]).count() == 1
        assert t.read(spark, where=[("tag", "=", "zzz")]).count() == 0

    def test_bloom_survives_compact_and_rebucket(self, spark, lake_dir):
        t = self._bloom_table(lake_dir, merge_mode="mor")
        t.apply_batch(spark, self._sha_events(spark, 200), "b1", mode="cow")
        t.apply_batch(spark, self._sha_events(spark, 10, seq0=5000), "b2")
        t.compact(spark, min_files=1)
        snap = t.current_snapshot()
        total = sum(len(m["files"]) for m in snap["buckets"].values())
        newval = f"{5003:040x}"
        pruned = t._prune_base_files(snap, None, [("commit", "=", newval)])
        assert len(pruned) >= total - 2
        assert t.read(spark, where=[("commit", "=", newval)]).count() == 1
        t.rebucket(spark, 16)
        snap = t.current_snapshot()
        total = sum(len(m["files"]) for m in snap["buckets"].values())
        pruned = t._prune_base_files(snap, None, [("commit", "=", newval)])
        assert len(pruned) >= total - 2
        assert t.read(spark, where=[("commit", "=", newval)]).count() == 1

    def test_bloom_pruning_never_drops_mor_delta_state(self, spark, lake_dir):
        """Deltas are exempt from pruning: a delta update whose commit
        newly matches must surface even when every BASE file is bloom-
        pruned, and a tombstone must still suppress its base row."""
        t = self._bloom_table(lake_dir, merge_mode="mor")
        t.apply_batch(spark, self._sha_events(spark, 100), "b1", mode="cow")
        upd = [("repo1", "src/f1.py", 900, "b" * 40, 1, "U"),
               ("repo2", "src/f2.py", 901, None, None, "D")]
        t.apply_batch(
            spark,
            spark.createDataFrame(
                upd, "repo string, path string, seq long, commit string,"
                " stars long, op string"
            ),
            "b2",
        )
        got = t.read(spark, where=[("commit", "=", "b" * 40)]).collect()
        assert [(r["repo"], r["stars"]) for r in got] == [("repo1", 1)]
        assert t.read(spark, where=[("commit", "=", f"{3:040x}")]).count() == 0

    def test_bloom_python_kernel(self):
        from mex_extractors_spark.lake.stats import (
            bloom_canon,
            bloom_may_contain,
            bloom_positions,
        )
        import base64 as b64

        # canon mirrors CAST AS STRING per family, None on mismatch
        assert bloom_canon("x", "s") == "x"
        assert bloom_canon(5, "s") is None
        assert bloom_canon(-7, "i") == "-7"
        assert bloom_canon(True, "i") is None  # bool is not an int here
        assert bloom_canon(True, "b") == "true"
        assert bloom_canon(1, "b") is None
        # hand-built bitset: set exactly the positions of "hit"
        m, k = 512, 4
        bits = bytearray(m // 8)
        for pos in bloom_positions("hit", m, k):
            bits[pos >> 3] |= 1 << (pos & 7)
        bloom = {"m": m, "k": k, "t": "s",
                 "b": b64.b64encode(bytes(bits)).decode()}
        assert bloom_may_contain(bloom, "hit")
        misses = sum(
            not bloom_may_contain(bloom, f"miss{i}") for i in range(200)
        )
        assert misses >= 195  # ~zero fp at 4/512 occupancy
        # type mismatch / malformed bloom: conservative keep
        assert bloom_may_contain(bloom, 42)
        assert bloom_may_contain({"m": m, "k": k, "t": "s", "b": "!!"}, "x")
        # file_may_match wiring: bloom miss prunes, maybe falls through
        st = {"c": {"bloom": bloom}}
        assert not file_may_match(st, True, "c", "=", "miss0")
        assert file_may_match(st, True, "c", "=", "hit")
        assert not file_may_match(st, True, "c", "in", ["miss1", "miss2"])
        assert file_may_match(st, True, "c", "in", ["miss1", "hit"])
        # bloom maybe + value-set miss: value set still prunes
        st2 = {"c": {"bloom": bloom, "values": ["other"]}}
        assert not file_may_match(st2, True, "c", "=", "hit")

    def test_bloom_config_validation(self, lake_dir):
        with pytest.raises(ValueError):
            LakeTable(lake_dir + "/x", bloom_cols=["c"], bloom_bits=100)
        with pytest.raises(ValueError):
            LakeTable(lake_dir + "/y", bloom_cols=["c"], bloom_hashes=0)
        with pytest.raises(ValueError):
            LakeTable(lake_dir + "/z", bloom_cols=["c"], bloom_hashes=9)

    def test_bloom_auto_sizing_tracks_bucket_rows(self, spark, lake_dir):
        """bloom_bits=None sizes m from the write's largest bucket at
        ~9.6 bits/row (1% fpp), floored at BLOOM_BITS_DEFAULT — a big
        write must not silently saturate a fixed-size bloom."""
        from mex_extractors_spark.lake.stats import BLOOM_BITS_DEFAULT

        small = self._bloom_table(lake_dir + "/s", num_buckets=2)
        small.apply_batch(spark, self._sha_events(spark, 50), "b1")
        ms = {
            st["commit"]["bloom"]["m"]
            for st in _all_file_stats(small).values()
        }
        assert ms == {BLOOM_BITS_DEFAULT}

        big = self._bloom_table(lake_dir + "/b", num_buckets=2)
        big.apply_batch(spark, self._sha_events(spark, 6000), "b1")
        m_big = {
            st["commit"]["bloom"]["m"]
            for st in _all_file_stats(big).values()
        }.pop()
        # ~3000 rows/bucket -> ~28800 bits, never the saturated floor
        assert m_big > BLOOM_BITS_DEFAULT
        assert m_big % 64 == 0
        # and the lookups still prune + match exactly
        present = f"{42:040x}"
        assert big.read(spark, where=[("commit", "=", present)]).count() == 1
        assert big.read(spark, where=[("commit", "=", "f" * 40)]).count() == 0


class TestStatsSidecars:
    """Per-file stats sidecars: written once next to the immutable data
    file, vacuumed with it, never re-serialized into snapshots; legacy
    snapshots with embedded file_stats still prune."""

    def test_sidecars_vacuumed_with_their_files(self, spark, lake_dir):
        import os

        t = _mk_table(lake_dir, num_buckets=4)
        t.apply_batch(spark, _events(spark, _spread_rows(50)), "b1")
        t.apply_batch(spark, _events(spark, _spread_rows(50, seq0=1000)), "b2")
        snap = t.current_snapshot()
        live = [
            rel for m in snap["buckets"].values() for rel in m["files"]
        ]
        assert all(os.path.exists(t._stats_sidecar(r)) for r in live)
        t.expire_snapshots(keep_last=1)
        t.vacuum_orphans()
        # live files keep their sidecars; orphaned v1 sidecars are gone
        assert all(os.path.exists(t._stats_sidecar(r)) for r in live)
        stray = [
            os.path.join(root, f)
            for root, _d, files in os.walk(t.data_dir)
            for f in files
            if f.endswith(".stats.json")
            and os.path.relpath(os.path.join(root, f), t.path)[
                : -len(".stats.json")
            ] not in set(live)
        ]
        assert stray == []

    def test_legacy_embedded_stats_still_prune(self, spark, lake_dir):
        import json as _json
        import os

        t = _mk_table(lake_dir, num_buckets=4)
        rows = _spread_rows(100) + [("onlyE", "e.cob", 9000, "cobol", 1, "U")]
        t.apply_batch(spark, _events(spark, rows), "b1")
        snap = t.current_snapshot()
        # migrate this table to the OLD layout: embed every sidecar's
        # stats into the snapshot document, then delete the sidecars
        for meta in snap["buckets"].values():
            fs = {
                rel: t.file_stats(rel)
                for rel in meta["files"]
                if t.file_stats(rel)
            }
            if fs:
                meta["file_stats"] = fs
        vpath = os.path.join(t.ledger_dir, f"v{snap['version']:08d}.json")
        os.remove(vpath)
        with open(vpath, "w") as fh:
            _json.dump(snap, fh)
        for meta in snap["buckets"].values():
            for rel in meta["files"]:
                try:
                    os.remove(t._stats_sidecar(rel))
                except OSError:
                    pass
        t2 = _mk_table(lake_dir, num_buckets=4)  # fresh instance, no cache
        got = t2.read(spark, where=[("lang", "=", "cobol")])
        assert len(got.inputFiles()) < 4
        assert [(r["repo"], r["lang"]) for r in got.collect()] == [
            ("onlyE", "cobol")
        ]


def test_read_key_proves_absent_keys_from_manifest(spark, lake_dir):
    """Primary-key point lookups compose bucket pruning with stats
    pruning: with blooms on the key columns, an absent key scans
    ZERO files; present keys still return exactly their row."""
    t = TestBloomStats()._bloom_table(
        lake_dir, bloom_cols=["repo", "path"], stats_cols=["repo"]
    )
    t.apply_batch(spark, TestBloomStats._sha_events(spark, 300), "b1")
    hit = t.read_key(spark, repo="repo11", path="src/f122.py")
    assert [(r["repo"], r["stars"]) for r in hit.collect()] == [
        ("repo11", 366)
    ]
    miss = t.read_key(spark, repo="nope", path="missing.py")
    assert miss.inputFiles() == []
    assert miss.count() == 0



def test_nan_soundness_of_min_max_pruning():
    """Parquet footers exclude NaN from float min/max while Spark orders
    NaN above everything and NaN == NaN is TRUE — so '>' / '>=' must
    never refute on a floating column, and a NaN predicate value must
    never prune at all."""
    from mex_extractors_spark.lake.stats import file_may_match

    fstats = {"x": {"min": 1.0, "max": 2.0}}  # file may ALSO hold NaN
    # an unseen NaN row satisfies > 100.0 — keep
    assert file_may_match(fstats, True, "x", ">", 100.0)
    assert file_may_match(fstats, True, "x", ">=", 100.0)
    # NaN predicate value: no evidence form can refute it
    nan = float("nan")
    assert file_may_match(fstats, True, "x", "=", nan)
    assert file_may_match(fstats, True, "x", "in", [5.0, nan])
    assert file_may_match({"x": {"min": 1.0, "max": 2.0, "values": [1.0, 2.0]}},
                          True, "x", "=", nan)
    # '<' / '<=' stay sound (NaN never satisfies them): still prunable
    assert not file_may_match(fstats, True, "x", "<", 0.5)
    assert not file_may_match(fstats, True, "x", "<=", 0.5)
    # '=' with a finite value keeps min/max refutation on floats
    assert not file_may_match(fstats, True, "x", "=", 50.0)
    # integer columns keep full '>' refutation power
    istats = {"n": {"min": 1, "max": 10}}
    assert not file_may_match(istats, True, "n", ">", 10)
    assert not file_may_match(istats, True, "n", ">=", 11)
