"""Persistent IVF ANN index as a lake table — the 100 TB query path.

``operators/similarity.ivf_topk`` recomputes the coarse-quantizer
assignment of the WHOLE corpus inline on every query: correct, but the
first plan a 100×-scale user rejects. This module materializes the
assignment once as a :class:`~mex_extractors_spark.lake.table.LakeTable`
(the FAISS "build the IVF lists" step, done as a lake write):

- **covering**: each row stores (vec_id, centroid_id, l2_dist,
  embedding) — queries read ONLY the index, never the source corpus;
- **clustered for pruning**: after the build the table is compacted
  with ``cluster_by=["centroid_id"]`` (sort strategy), so every data
  file covers a narrow centroid range and the per-file stats sidecars
  let ``read(where=[("centroid_id", "in", probes)])`` drop
  ~(1 - nprobe/num_centroids) of the files before the scan is planned
  (tests assert the ``inputFiles()`` shrink);
- **incrementally maintained**: ``refresh`` consumes the source
  table's change-data-feed exactly like the inverted index
  (lake/index.py): inserted/updated vectors are re-assigned against
  the SAVED centroids (never resampled — the quantizer is frozen at
  build time, the standard IVF contract), deletes become tombstones.
  Cost is O(changed vectors) per refresh, never O(corpus). Batch ids
  ``ivf:v{from}->{to}`` make refreshes exactly-once and fenced, like
  every other lake write.

Centroids are persisted next to the ledger (``_ledger/ivf_centroids
.json``, atomic tmp+rename) so the probe selection is a driver-side
lookup over k rows — no Spark job before the pruned scan.

Reference lineage: the reference queries the backend's PERSISTENT
search index rather than recomputing it per query
(publisher/extract.py:9-26); this is the embedding-space analog.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import math
import os
import tempfile
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mex_extractors_spark.lake.index import applied_batches_at, last_indexed_version
from mex_extractors_spark.lake.table import LakeTable
from mex_extractors_spark.operators.similarity import (
    assign_to_centroids,
    cosine_topk,
    derive_ivf_params,
    sample_centroids,
)


def _atomic_json(path: str, obj) -> None:
    """Durable atomic JSON write: fsync BEFORE rename, like
    ``LakeTable._write_ref``. Without the fsync a crash can leave an
    empty file at the final path (delayed allocation) even though the
    ledger — which does fsync — already shows the batch applied,
    wedging the index with no code path that rewrites the file."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".json")
    with os.fdopen(fd, "w") as fh:
        json.dump(obj, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)  # atomic on POSIX


@dataclass
class IvfRefreshStats:
    from_version: int
    to_version: int
    full_build: bool
    applied: bool


class IvfIndex:
    """IVF index over an embedding corpus, stored as a LakeTable keyed
    on the vector id with ``centroid_id`` tracked in the file stats."""

    def __init__(
        self,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        num_buckets: int = 4,
    ) -> None:
        self.id_col = id_col
        self.vec_col = vec_col
        self.table = LakeTable(
            path,
            key_cols=[id_col],
            seq_col="_src_version",
            op_col="op",
            num_buckets=num_buckets,
            stats_cols=["centroid_id"],
        )
        self._centroids_file = os.path.join(
            self.table.ledger_dir, "ivf_centroids.json"
        )
        # written after the build's clustered compaction succeeds; its
        # absence on a build retry means the crash landed between the
        # apply commit and the compaction, so the retry must re-cluster
        self._clustered_file = os.path.join(
            self.table.ledger_dir, "ivf_clustered.json"
        )

    @classmethod
    def from_table(cls, table: LakeTable, vec_col: str = "embedding") -> "IvfIndex":
        """Wrap an EXISTING LakeTable (e.g. one registered in a
        LakeCatalog) as an IVF index, so catalog transactions can stage
        ANN refreshes on the same table object whose branch refs and
        pins the transaction manages."""
        if (
            len(table.key_cols) != 1
            or table.seq_col != "_src_version"
            or table.op_col != "op"
            or "centroid_id" not in table.stats_cols
        ):
            # op_col matters: refresh emits literal 'op' columns whose
            # 'D' markers a table with a different op_col would treat
            # as payload — deletes would silently stop tombstoning
            raise ValueError(
                "ANN index table needs exactly one key column, "
                "seq_col='_src_version', op_col='op' and centroid_id in "
                f"stats_cols (got {table.key_cols}, {table.seq_col!r}, "
                f"{table.op_col!r}, {table.stats_cols})"
            )
        self = cls.__new__(cls)
        self.id_col = table.key_cols[0]
        self.vec_col = vec_col
        self.table = table
        self._centroids_file = os.path.join(table.ledger_dir, "ivf_centroids.json")
        self._clustered_file = os.path.join(table.ledger_dir, "ivf_clustered.json")
        return self

    # ---------------------------------------------------------- centroids

    def _quantizer_doc(self) -> dict:
        if not os.path.exists(self._centroids_file):
            raise ValueError(f"IVF index at {self.table.path} was never built")
        with open(self._centroids_file) as fh:
            doc = json.load(fh)
        if isinstance(doc, list):  # legacy format: bare centroid list
            return {"built_at_version": None, "centroids": doc}
        return doc

    def centroids(self) -> list[tuple[int, list[float]]]:
        """The frozen coarse quantizer: [(centroid_id, vector)]."""
        return [
            (int(cid), [float(x) for x in vec])
            for cid, vec in self._quantizer_doc()["centroids"]
        ]

    def _save_centroids(
        self, cents: list[tuple[int, list[float]]], built_at: int
    ) -> None:
        # built_at records WHICH bootstrap this quantizer belongs to —
        # the provenance that makes a concurrent-bootstrap clobber
        # detectable (see _check_quantizer)
        _atomic_json(
            self._centroids_file,
            {"built_at_version": built_at, "centroids": cents},
        )

    def _check_quantizer(self, applied: set[str]) -> None:
        """Fail LOUDLY if the saved quantizer's provenance disagrees
        with the committed bootstrap batch. Two transactions racing to
        bootstrap the same index at different source versions can leave
        the loser's centroids file next to the winner's committed
        assignments (the file write is outside the catalog CAS);
        serving probes from the wrong quantizer would silently miss
        true neighbors, so the mismatch must be an error."""
        built_at = self._quantizer_doc()["built_at_version"]
        if built_at is None:
            return  # legacy file: no provenance to check
        # parse the bootstrap version from the applied ivf:v0->X batch
        boots = [
            int(b.split("->", 1)[1])
            for b in applied
            if b.startswith("ivf:v0->")
        ]
        if boots and built_at not in boots:
            raise ValueError(
                f"IVF quantizer was built at source v{built_at} but the "
                f"committed bootstrap is at v{boots[0]} — a concurrent "
                "bootstrap clobbered the frozen quantizer; rebuild the "
                "index (delete it and refresh from the source)"
            )

    def _centroids_df(self, spark: SparkSession, cents=None) -> DataFrame:
        return spark.createDataFrame(
            self.centroids() if cents is None else cents,
            "_cid long, _cvec array<double>",
        )


    def _upsert_rows(self, spark, df, version: int, cents=None):
        """Index-batch projection of freshly assigned vectors — THE one
        place the 6-column index schema is spelled (shared by build /
        refresh / full rebuild, so a schema change cannot fork).
        ``cents``: assign against THESE in-memory centroids instead of
        re-reading the centroids file — build() passes the quantizer it
        just froze, so a concurrent bootstrap that clobbers the file
        between our save and our apply cannot pair OUR committed
        assignments with ITS quantizer (the heal re-asserts our file,
        and the assignments must match it)."""
        return assign_to_centroids(
            df,
            self._centroids_df(spark, cents),
            vec_col=self.vec_col,
            id_col=self.id_col,
            keep_vec=True,
        ).select(
            F.col(self.id_col),
            F.col("centroid_id").cast("long"),
            F.col("l2_dist"),
            F.col(self.vec_col),
            F.lit(version).cast("long").alias("_src_version"),
            F.lit("U").alias("op"),
        )

    def _tombstone_cols(self, version: int) -> list:
        """The all-null delete projection matching ``_upsert_rows``."""
        return [
            F.col(self.id_col),
            F.lit(None).cast("long").alias("centroid_id"),
            F.lit(None).cast("double").alias("l2_dist"),
            F.lit(None).cast("array<double>").alias(self.vec_col),
            F.lit(version).cast("long").alias("_src_version"),
            F.lit("D").alias("op"),
        ]
    def last_indexed_version(self, at_version: int | None = None) -> int:
        # shared with the inverted index: ONE parser for the
        # `{prefix}:v{from}->{to}` exactly-once version window;
        # ``at_version`` evaluates at a branch head instead of main
        # (transactions MUST pass their staged view — see lake/index.py)
        return last_indexed_version(self.table, at_version=at_version, prefix="ivf")

    def _applied_at(self, branch: str | None) -> set[str]:
        """Applied batch ids at the branch head (main when no branch) —
        the shared index.py helper, so the exactly-once bookkeeping
        cannot diverge between the two derived-table maintainers."""
        if branch is None:
            return applied_batches_at(self.table, None)
        # an unknown/empty branch head is an empty view, NOT main's
        return applied_batches_at(self.table, self.table.resolve_ref(branch) or 0)

    # --------------------------------------------------------------- build

    def build(
        self,
        spark: SparkSession,
        df: DataFrame,
        num_centroids: int | None = 16,
        source_version: int = 1,
        target_file_rows: int | None = None,
        branch: str | None = None,
    ) -> IvfRefreshStats:
        """One-shot index build from a static corpus DataFrame: freeze
        the quantizer (deterministic md5 sample — the same closed-form
        centroid set the SQL oracles state), assign every vector with
        ONE broadcast-argmin pass (the vector rides through the argmin,
        no join back to the corpus), commit as a single exactly-once
        batch, then sort-cluster the files by ``centroid_id`` so probe
        reads prune. Idempotent: a re-build with the same
        ``source_version`` hits the applied-batch no-op path — and the
        frozen quantizer is NEVER overwritten there (a no-op that
        resampled centroids from a drifted corpus would silently break
        every stored assignment). A crash between the apply commit and
        the clustered compaction is healed on retry: the compaction
        marker is written only after the cluster rewrite succeeds.
        ``num_centroids=None`` derives ~√n lists from the corpus size
        (:func:`...operators.similarity.derive_ivf_params`). ``branch``
        stages the batch on a txn branch (catalog composition); the
        physical clustering pass is skipped there — layout maintenance
        runs on main, post-commit (see :meth:`recluster`)."""
        from pyspark.sql.types import IntegralType

        if not isinstance(df.schema[self.id_col].dataType, IntegralType):
            # centroid ids ARE sampled corpus ids (int(r['_cid']) below,
            # '_cid long' in the centroid frame) — a string-keyed corpus
            # must fail here, not after the sample job ran
            raise ValueError(
                f"IvfIndex requires an integral id column; "
                f"{self.id_col!r} is {df.schema[self.id_col].dataType}"
            )
        batch_id = f"ivf:v0->{source_version}"
        already = batch_id in self._applied_at(branch)
        cents = None
        if not already:
            if num_centroids is None:
                # derived only when actually sampling — the no-op retry
                # path must not pay a full corpus count for an unused value
                num_centroids = derive_ivf_params(df.count())[0]
            # pre-apply persist is crash-safe: the sample is a pure
            # deterministic function of df, so a retry before the apply
            # commit rewrites byte-identical centroids
            cent_rows = sample_centroids(
                df, num_centroids, vec_col=self.vec_col, id_col=self.id_col
            ).collect()
            cents = sorted((int(r["_cid"]), list(r["_cvec"])) for r in cent_rows)
            self._save_centroids(cents, built_at=source_version)
        else:
            self._check_quantizer(self._applied_at(branch))
        # assign against the in-memory quantizer when we froze it in
        # THIS call — never the file, which a concurrent bootstrap may
        # clobber between our save and our apply (the post-apply heal
        # re-asserts our file; assignments must match it)
        batch = self._upsert_rows(spark, df, source_version, cents=cents)
        st = self.table.apply_batch(spark, batch, batch_id, branch=branch)
        if st.applied and cents is not None:
            # heal a pre-apply clobber: a concurrent bootstrap that
            # overwrote the file between OUR save and OUR apply would
            # pair our committed assignments with its quantizer — the
            # winner re-asserts its centroids (byte-identical when
            # nothing interfered; _check_quantizer catches later races)
            self._save_centroids(cents, built_at=source_version)
        if branch is None and (
            st.applied or (already and not os.path.exists(self._clustered_file))
        ):
            # recluster counts the CONVERGED table (metadata-cheap), not
            # the corpus-sized assignment pipeline — one count covers
            # both the file-split target and the churn baseline
            self.recluster(spark, target_file_rows=target_file_rows)
        elif branch is not None and st.applied:
            # deferred: the whole bootstrap is pending churn, so the
            # post-commit maybe_recluster fires unconditionally; same
            # churn metric as refresh (rows actually written)
            self._track_churn(
                spark, st.upserts + st.deletes, 0.0, defer=True
            )
        return IvfRefreshStats(0, source_version, full_build=True, applied=st.applied)

    # ---------------------------------------------------------- recluster

    def _cluster_state(self) -> dict:
        if not os.path.exists(self._clustered_file):
            return {"rows_at_cluster": 0, "churn_since": 0}
        with open(self._clustered_file) as fh:
            state = json.load(fh)
        state.setdefault("rows_at_cluster", 0)
        state.setdefault("churn_since", 0)
        return state

    @contextlib.contextmanager
    def _sidecar_lock(self, suffix: str, blocking: bool = True):
        """Advisory flock on ``ivf_clustered.json<suffix>``; yields
        whether it was taken. It is per-open-fd, so a crash releases
        it, and it serializes processes on one host only."""
        with open(self._clustered_file + suffix, "w") as lk:
            try:
                fcntl.flock(lk, fcntl.LOCK_EX | (0 if blocking else fcntl.LOCK_NB))
            except BlockingIOError:
                yield False
                return
            yield True

    def recluster(
        self, spark: SparkSession, target_file_rows: int | None = None
    ) -> None:
        """Sort-cluster the index files by ``centroid_id`` so probe
        reads prune, and reset the churn counter. ``build`` calls this
        once; ``refresh`` re-triggers it automatically when accumulated
        churn passes ``recluster_fraction`` of the clustered rows —
        refreshed rows land in hash-bucketed files whose centroid range
        spans everything, so WITHOUT periodic reclustering the
        files-pruned property silently decays toward a full scan.
        Waits for a recluster already running on this host."""
        with self._sidecar_lock(".recluster"):
            self._recluster(spark, target_file_rows)

    def _recluster(self, spark: SparkSession, target_file_rows: int | None) -> None:
        # the reset subtracts only the churn seen before the compaction:
        # increments that concurrent refreshes save while it runs stay
        # counted toward the next recluster
        with self._sidecar_lock(".lock"):
            seen = self._cluster_state()["churn_since"]
        num_centroids = len(self.centroids())
        rows = self.table.read(spark).count()
        if target_file_rows is None:
            target_file_rows = max(
                64, math.ceil(rows / max(num_centroids, self.table.num_buckets))
            )
        self.table.compact(
            spark,
            min_files=1,
            cluster_by=["centroid_id"],
            cluster_strategy="sort",
            target_file_rows=target_file_rows,
        )
        with self._sidecar_lock(".lock"):
            left = self._cluster_state()["churn_since"] - seen
            _atomic_json(
                self._clustered_file,
                {"rows_at_cluster": rows, "churn_since": max(left, 0)},
            )

    # ------------------------------------------------------------- refresh

    def refresh(
        self,
        spark: SparkSession,
        source: LakeTable,
        to_version: int | None = None,
        num_centroids: int | None = 16,
        recluster_fraction: float = 0.2,
        branch: str | None = None,
    ) -> IvfRefreshStats:
        """Absorb the source table's changes since the last refresh:
        re-assign inserted/updated vectors against the frozen
        quantizer, tombstone deleted ids — O(changed vectors), the
        lake/index.py maintenance shape. The source must carry
        ``self.vec_col``; its key must be ``[self.id_col]``.

        Refreshed rows land in hash-bucketed files, so once accumulated
        churn exceeds ``recluster_fraction`` of the rows present at the
        last clustering, the index is automatically re-sort-clustered
        by ``centroid_id`` (see :meth:`recluster`); pass ``0`` to
        recluster on every applied refresh or ``math.inf`` to manage
        clustering manually.

        ``branch`` stages the index batch on a txn branch instead of
        main, exactly like ``refresh_inverted_index`` — state apply and
        ANN refresh become ONE atomic catalog commit (see
        ``LakeCatalog.transaction().refresh_ann``). The watermark is
        then read from the BRANCH head, never stale main; churn still
        COUNTS toward the recluster threshold but the rewrite itself is
        deferred to main (physical layout is not transactional state) —
        run :meth:`maybe_recluster` after commit, or let the next
        non-transactional refresh trigger it."""
        if list(source.key_cols) != [self.id_col]:
            raise ValueError(
                f"source key_cols must be [{self.id_col!r}], got {source.key_cols}"
            )
        if to_version is None:
            if branch is not None:
                # only the transaction knows its staged view: defaulting
                # to source MAIN here would read a target that can LAG
                # the txn's world (post-commit fast-forward is
                # best-effort) and silently skip the refresh — the exact
                # atomicity hole the branch parameter exists to close
                raise ValueError(
                    "a branch refresh must pass to_version explicitly "
                    "(the transaction's view of the source)"
                )
            cur = source.current_snapshot()
            if cur is None:
                return IvfRefreshStats(0, 0, full_build=False, applied=False)
            to_version = cur["version"]
        last = self.last_indexed_version(
            # `or 0`: an unknown/empty branch head is an EMPTY view (the
            # _applied_at contract) — resolving to None would silently
            # read main's watermark and early-return applied=False
            # instead of surfacing the unknown branch downstream
            at_version=(self.table.resolve_ref(branch) or 0)
            if branch is not None
            else None
        )
        if to_version <= last:
            return IvfRefreshStats(last, to_version, full_build=False, applied=False)
        if last == 0:
            # bootstrap: full build from the source's current state
            # (``num_centroids`` only matters here — afterwards the
            # quantizer is frozen in the centroids file)
            state = source.read(spark, version=to_version)
            return self.build(
                spark,
                state,
                num_centroids=num_centroids,
                source_version=to_version,
                branch=branch,
            )
        if source.snapshot_at(last) is None:
            # the last-indexed source snapshot was expired by retention
            # — the CDF can't be computed from it, and the watermark
            # stays high so the last==0 bootstrap is unreachable. Same
            # recovery as lake/index.py's _full_rebuild, EXCEPT the
            # frozen quantizer is kept (resampling it would invalidate
            # untouched assignments): re-assign every live vector, and
            # tombstone index entries whose id is no longer live.
            return self._rebuild_assignments(
                spark, source, last, to_version, branch=branch
            )
        # incremental: new assignments are computed against the saved
        # quantizer — verify its provenance against the committed
        # bootstrap first (a clobbered quantizer must be loud, never
        # silently mixed into the index)
        self._check_quantizer(self._applied_at(branch))
        changes = source.read_changes(
            spark, from_version=last, to_version=to_version
        )
        ct = F.col("_change_type")
        post = changes.where(ct.isin("insert", "update_postimage"))
        upserts = self._upsert_rows(spark, post, to_version)
        deletes = changes.where(ct == "delete").select(
            *self._tombstone_cols(to_version)
        )
        st = self.table.apply_batch(
            spark, upserts.unionByName(deletes), f"ivf:v{last}->{to_version}",
            branch=branch,
        )
        if st.applied:
            self._track_churn(
                spark,
                st.upserts + st.deletes,
                recluster_fraction,
                # a BRANCH refresh counts its churn (an all-transactional
                # workload must still accumulate toward the recluster
                # threshold) but defers the rewrite itself to main — an
                # abort then merely overcounts, which only ever triggers
                # an EARLY recluster, never a missed one
                defer=branch is not None,
            )
        return IvfRefreshStats(last, to_version, full_build=False, applied=st.applied)

    def _track_churn(
        self,
        spark: SparkSession,
        churn: int,
        recluster_fraction: float,
        defer: bool = False,
    ) -> None:
        # the increment is a read-modify-write of ivf_clustered.json —
        # two concurrent refreshes (e.g. catalog txns on separate
        # branches, both of whose apply_batches succeeded) would
        # otherwise LOSE one increment, and systematically lost churn
        # keeps maybe_recluster below threshold forever while file
        # pruning silently decays toward a full scan. The lock covers
        # the increment only: a recluster is a full Spark compaction, and
        # holding the lock across it would stall every concurrent
        # refresh's increment for its whole duration.
        with self._sidecar_lock(".lock"):
            state = self._cluster_state()
            state["churn_since"] += churn
            _atomic_json(self._clustered_file, state)
        if not defer:
            self.maybe_recluster(spark, recluster_fraction)

    def maybe_recluster(
        self,
        spark: SparkSession,
        recluster_fraction: float = 0.2,
        target_file_rows: int | None = None,
    ) -> bool:
        """Post-commit maintenance hook: recluster only if accumulated
        churn (including churn counted by transactional refreshes,
        which defer the rewrite) has passed the threshold. Returns
        whether a recluster ran. Cheap when it doesn't: one JSON read.

        On a CATALOG-managed index table, follow a ``True`` return with
        ``catalog.absorb_main_advances()``: the recluster commits a
        content-identical snapshot to the table's MAIN, and the catalog
        pin must follow it or the next transaction forks from the stale
        pin and its fast-forward diverges (orphaning this layout).

        Returns ``False`` without waiting while another recluster runs
        on this host: that one compacts the table, and the churn saved
        meanwhile stays counted for the next check."""
        with self._sidecar_lock(".recluster", blocking=False) as mine:
            state = self._cluster_state()
            if not mine or state["churn_since"] < recluster_fraction * max(
                state["rows_at_cluster"], 1
            ):
                return False
            self._recluster(spark, target_file_rows)
            return True

    def _rebuild_assignments(
        self,
        spark: SparkSession,
        source: LakeTable,
        last: int,
        to_version: int,
        branch: str | None = None,
    ) -> IvfRefreshStats:
        """Retention-expiry recovery: upsert assignments for every live
        vector against the FROZEN quantizer plus deletes for stale
        index ids, committed under the standard ``ivf:`` batch id so
        the watermark advances and later refreshes go back to
        incremental. O(corpus) — the price of expiring the CDF base."""
        state = source.read(spark, version=to_version)
        upserts = self._upsert_rows(spark, state, to_version)
        stale = (
            self.table.read(spark, ref=branch)  # ref=None reads main
            .select(self.id_col)
            .join(state.select(self.id_col), on=self.id_col, how="left_anti")
            .select(*self._tombstone_cols(to_version))
        )
        st = self.table.apply_batch(
            spark, upserts.unionByName(stale), f"ivf:v{last}->{to_version}",
            branch=branch,
        )
        if st.applied:
            if branch is None:
                # a full re-assign rewrites ~every file; recluster so
                # the rebuilt index prunes like a fresh build
                self.recluster(spark)
            else:
                # deferred: count the full rewrite as churn so the
                # post-commit maybe_recluster fires unconditionally
                self._track_churn(
                    spark, st.upserts + st.deletes, 0.0, defer=True
                )
        return IvfRefreshStats(last, to_version, full_build=True, applied=st.applied)

    # --------------------------------------------------------------- query

    def probe_ids(self, query_vec: list[float], nprobe: int) -> list[int]:
        """The ``nprobe`` centroids nearest the query — pure driver-side
        math over the saved k-row quantizer (exact L2, ties by id; the
        same ordering the SQL oracle states)."""
        ranked = sorted(
            (
                math.sqrt(sum((x - y) ** 2 for x, y in zip(vec, query_vec))),
                cid,
            )
            for cid, vec in self.centroids()
        )
        return [cid for _d, cid in ranked[:nprobe]]

    def probe_read(self, spark: SparkSession, probe: list[int]) -> DataFrame:
        """Stats-pruned scan of the probed inverted lists: files whose
        ``centroid_id`` range excludes every probe are dropped before
        the scan is planned (visible via ``DataFrame.inputFiles()``).
        Verifies quantizer provenance first — probing committed
        assignments with a clobbered quantizer would silently miss true
        neighbors (one cheap ledger read; the probe set itself came
        from the same centroids file)."""
        self._check_quantizer(self.table.applied_batches())
        return self.table.read(spark, where=[("centroid_id", "in", list(probe))])

    def topk(
        self,
        spark: SparkSession,
        query_vec: list[float],
        k: int = 10,
        nprobe: int = 4,
    ) -> DataFrame:
        """IVF search against the persisted index: driver-side probe
        selection → file-pruned candidate scan → exact cosine top-k.
        Same semantics as ``similarity.ivf_topk`` (one oracle covers
        both), but the corpus is never re-assigned at query time."""
        cand = self.probe_read(spark, self.probe_ids(query_vec, nprobe))
        return cosine_topk(
            cand, query_vec, k=k, vec_col=self.vec_col, id_col=self.id_col
        )
