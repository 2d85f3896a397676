"""Copy-on-write snapshot table with exactly-once, idempotent commits.

Modeled on the reference's S3 sink commit contract
(mex/extractors/sinks/s3.py:52-133: canonical serialization → sha256
checksum → versioned prefix → metadata document) generalized to Iceberg
snapshot semantics:

- data lives in immutable parquet files, hash-bucketed by the merge key
  ``(repo, path)`` so a batch rewrites ONLY the buckets it touches
  (copy-on-write at bucket granularity — at 100 TB a micro-batch touching
  5% of key-space rewrites 5% of files, not the table); bucket files use
  Spark's bucketed-table layout, so the MERGE is a storage-partitioned
  sort-merge join that shuffles ONLY the batch — current table rows are
  merged in place, never moved (see ``apply_batch``);
- each commit publishes a snapshot JSON listing every live file, the
  schema (with full schema history for evolved reads), per-bucket
  high-watermarks (max applied ``seq``), the set of applied batch ids,
  and an order-independent integrity checksum;
- publish is atomic: snapshot JSON written via tmp+rename, then the
  ``CURRENT`` pointer swapped with ``os.replace``. A crash after data
  files are written but before publish leaves orphan files that no
  snapshot references — a resume simply re-applies the batch
  (idempotent: same batch id, same content);
- re-applying an already-committed batch id is a no-op
  (reference run_key idempotency: mex/extractors/pipeline/base.py:101-104);
- events at-or-below a bucket's high-watermark are fenced out before the
  merge (redelivery safety).
"""

from __future__ import annotations

import base64
import json
import operator
import os
import re
import shutil
import time
import uuid
from collections.abc import Callable, Sequence
from dataclasses import dataclass
from functools import reduce
from itertools import islice

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DataType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

from mex_extractors_spark.lake.cluster import (
    ZVALUE_COL,
    column_cutpoints,
    zorder_supported,
    zvalue_expr,
)
from mex_extractors_spark.lake.schema_evolution import align_to_schema, merge_schemas
from mex_extractors_spark.lake.stats import (
    BLOOM_BITS_DEFAULT,
    BLOOM_HASHES_DEFAULT,
    BLOOM_HASHES_MAX,
    VALUE_SET_MAX,
    file_may_match,
    footer_column_stats,
    validate_predicates,
)
from mex_extractors_spark.operators.lww import (
    apply_deletes,
    lww_latest,
)

_BUCKET = "_bucket"

_COMPARE = {
    "=": operator.eq,
    "<": operator.lt,
    "<=": operator.le,
    ">": operator.gt,
    ">=": operator.ge,
}

# default files per bucket a clustered compaction aims for when no
# explicit target_file_rows is given — enough in-bucket granularity for
# range pruning to bite, few enough files to keep manifests/open-costs
# bounded (Iceberg's write.target-file-size analog, expressed in rows)
CLUSTER_FILES_PER_BUCKET = 8

# bucket id Spark's bucketed writer embeds in data file names
# (part-00000-<uuid>_00007.c000.snappy.parquet -> 7); same pattern as
# org.apache.spark.sql.execution.datasources.BucketingUtils
_BUCKET_NAME_RE = re.compile(r"_(\d+)(?:\..*)?\.parquet$")

# parquet-type promotions Spark's vectorized reader performs natively
# (verified on 4.1: int-family upcasts, int->double, float->double; NOT
# long->double / int->float / date->timestamp). Buckets whose files need
# an unsupported promotion are read through ``read``'s explicit casts
# instead of a bucketed scan (``_bucket_state``).
_READER_WIDENINGS: set[tuple[str, str]] = {
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("smallint", "int"), ("smallint", "bigint"),
    ("int", "bigint"), ("int", "double"),
    ("tinyint", "double"), ("smallint", "double"),
    ("float", "double"),
}


def _reader_compatible(file_schema: StructType, read_schema: StructType) -> bool:
    """True when the parquet reader can serve ``file_schema`` files
    through ``read_schema`` directly (missing columns null-fill; type
    changes limited to native reader promotions)."""
    want: dict[str, DataType] = {f.name: f.dataType for f in read_schema.fields}
    for f in file_schema.fields:
        target = want.get(f.name)
        if target is None or f.dataType == target:
            continue
        if (f.dataType.simpleString(), target.simpleString()) not in _READER_WIDENINGS:
            return False
    return True


def _bucket_sig(meta: dict) -> tuple:
    """Manifest identity of a bucket's stored content: base files +
    checksum + the delta-group list. Two snapshots whose buckets share
    this signature hold identical bytes for that bucket."""
    return (
        meta.get("files", []),
        str(meta.get("checksum", "0")),
        meta.get("deltas", []),
    )


def _schema_of(snap: dict | None, sv: int | None = None) -> StructType | None:
    """Version ``sv`` of a snapshot's schema log (default: its read
    schema); None before the snapshot's first data commit."""
    sv = sv or (snap or {}).get("schema_version")
    return StructType.fromJson(snap["schemas"][str(sv)]) if sv else None


def _native(snap: dict, meta: dict, schema: StructType) -> bool:
    """True when the parquet reader serves every base and delta file
    group of bucket entry ``meta`` through ``schema`` with no cast."""
    svs = [int(d["schema_version"]) for d in meta.get("deltas", [])]
    if meta["files"]:
        svs.append(int(meta["schema_version"]))
    return all(_reader_compatible(_schema_of(snap, sv), schema) for sv in svs)


def _file_rows(meta: dict) -> int:
    """Rows in a bucket entry's files: base plus every delta group."""
    return int(meta["rows"]) + sum(int(d["rows"]) for d in meta.get("deltas", []))


class CommitAborted(RuntimeError):
    """Raised by the crash-injection hook after data-file write, before
    snapshot publish — simulates a kill for exactly-once chaos tests."""


class CommitConflict(RuntimeError):
    """A concurrent writer won the commit CAS (snapshot version or
    commit claim). Every snapshot commit (``apply_batch``, the
    bookkeeping no-op, ``compact``, ``rebucket`` and the DML verbs)
    handles this internally — it validates the new head and rebases
    when the buckets it rewrote are untouched — so a surfaced
    CommitConflict means the conflict was NOT rebasable: overlapping-
    bucket writers, a concurrent layout change or rollback, a
    ``rebucket`` racing any data commit, a lost ``fast_forward``, or
    retry exhaustion. Partition the writers by bucket
    (``ReplayEngine.replay(buckets=...)``) or serialize them."""


def atomic_write_ref(path: str, version: int) -> None:
    """Crash-safe pointer swap: fsync'd tmp file + ``os.replace``. The
    ONE implementation of the ref write (table CURRENT, branch/tag refs,
    catalog CURRENT) — a durability fix here reaches every pointer."""
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        fh.write(str(version))
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


def cas_publish_document(path: str, doc: dict, conflict_msg: str) -> None:
    """Atomic create-if-absent commit of a JSON document: fsync'd tmp
    file + ``os.link``, which FAILS if ``path`` already exists — the
    optimistic-concurrency CAS both the table ledger and the catalog
    commit log publish through (Iceberg's atomic snapshot commit). Two
    writers that both computed the same next version race; exactly one
    wins, the loser gets :class:`CommitConflict` and either rebases
    onto the new head (every table snapshot commit, ``LakeTable._commit``)
    or surfaces the conflict (``fast_forward``, catalog commits)."""
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as fh:
        json.dump(doc, fh, sort_keys=True)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, path)
    except FileExistsError:
        os.remove(tmp)
        raise CommitConflict(conflict_msg) from None
    os.remove(tmp)


@dataclass
class ApplyStats:
    batch_id: str
    applied: bool
    events_in: int = 0  # raw batch rows, before the ingest contract
    # rows dropped by the null-key/op ingest contract — distinct from
    # fenced so replay metrics/audits don't overstate redelivery
    events_invalid: int = 0
    events_fenced: int = 0  # valid rows at/below a bucket watermark
    upserts: int = 0  # non-fenced I/U events in the batch
    deletes: int = 0  # non-fenced D events in the batch
    buckets_touched: int = 0
    rows_after: int = 0
    seconds: float = 0.0
    # merge strategy actually used for this batch: "cow" rewrote the
    # touched buckets, "mor" appended delta files without reading them
    mode: str = "cow"
    # phase breakdown (lineage metric + perf triage)
    t_stats: float = 0.0
    t_write: float = 0.0
    t_checksum: float = 0.0
    # optimistic-concurrency telemetry: how many publish attempts this
    # commit took (1 = no contention; >1 = rebased after a lost CAS)
    commit_attempts: int = 1


@dataclass
class DmlStats:
    """Outcome of a predicate DML commit (``delete_where`` /
    ``update_where``)."""

    commit_id: str
    applied: bool
    matched: int = 0  # state rows the predicate selected
    buckets_rewritten: int = 0
    version: int = 0  # snapshot the commit published (or found applied)
    source_invalid: int = 0  # merge_into: NULL-key source rows dropped


@dataclass
class _Committed:
    """Outcome of ``LakeTable._commit``."""

    applied: bool  # False: a twin writer had already committed the id
    snapshot: dict  # the published snapshot, or the head holding the id
    attempts: int  # publish attempts (1 = no contention)
    t_write: float = 0.0
    t_checksum: float = 0.0


class LakeTable:
    """A single converged lake table keyed on ``key_cols`` with LWW by
    ``seq_col``. Many readers; CONCURRENT writers are safe for every
    snapshot commit — ``apply_batch``, ``compact`` and
    ``delete_where``/``update_where``/``merge_into`` (optimistic
    concurrency through one commit pipeline: a commit whose rewritten
    buckets no intervening commit touched rebases-and-retries onto
    the new head, the Iceberg validate-then-retry protocol;
    overlapping commits lose loudly with :class:`CommitConflict`).
    ``rebucket`` rewrites every bucket, so it rebases only over
    bookkeeping-only commits. ``fast_forward`` and ``rollback_to``
    move refs without a snapshot commit and never rebase, and
    ``expire_snapshots``/``vacuum_orphans`` delete files an in-flight
    commit has not published yet — run those quiesced.
    """

    # bounded optimistic-concurrency retries for every snapshot commit
    # (_commit): each retry re-validates against the healed head and
    # republishes METADATA only (the data files are attempt-unique and
    # already on storage), so retries cost no Spark job
    COMMIT_MAX_ATTEMPTS = 6

    # merge_mode="auto": append a delta instead of rewriting when the
    # touched buckets hold more than this many file rows per batch row
    AUTO_COW_FACTOR = 4

    def __init__(
        self,
        path: str,
        key_cols: Sequence[str] = ("repo", "path"),
        seq_col: str = "seq",
        op_col: str = "op",
        num_buckets: int = 16,
        merge_mode: str = "cow",
        max_deltas_per_bucket: int | None = 8,
        stats_cols: Sequence[str] | None = None,
        bloom_cols: Sequence[str] | None = None,
        bloom_bits: int | None = None,
        bloom_hashes: int = BLOOM_HASHES_DEFAULT,
        idempotency_window: int = 8192,
    ) -> None:
        """Every commit's per-bucket manifest checksums come from
        re-reading the just-written files with one codegen'd groupBy
        aggregate, so the manifest certifies bytes actually on storage
        (sha-after-serialize contract, sinks/s3.py:106-109); the files
        were just written, so the read hits the page cache.
        ``verify_bucket_checksums`` re-audits storage on demand.

        ``merge_mode``: the writer's default merge strategy (a writer
        policy, not a table property — it is NOT persisted, and modes
        can be mixed batch by batch).

        - "cow" (copy-on-write, default): every batch rewrites the
          touched buckets wholly. Reads are file scans with zero merge
          work, but a batch whose keys spread over all buckets rewrites
          the entire table — at 100 TB that write amplification is the
          bottleneck when batch << table.
        - "mor" (merge-on-read, the Hudi-MoR / Paimon-LSM shape): the
          batch is LWW-reduced and appended as one DELTA file per
          touched bucket — deletes ride along as tombstones and the
          table side is NEVER read or rewritten, so write cost is
          O(batch) regardless of table size. Reads merge base + deltas
          (per-key LWW by ``seq_col``) until ``compact()`` folds the
          deltas back into the base.
        - "auto": per batch, "mor" when the touched buckets' file rows
          dwarf the batch (> ``AUTO_COW_FACTOR``×), else "cow".

        ``max_deltas_per_bucket`` bounds read amplification: when a
        touched bucket has piled up this many deltas, the batch
        escalates to "cow" for a merging rewrite (None disables).

        ``stats_cols``: columns to track file-level statistics for in
        the manifest (Iceberg lower/upper bounds + null counts, plus
        capped distinct value sets — see ``lake/stats.py``). Enables
        data-skipping reads via ``read(where=...)``: files whose stats
        provably exclude a predicate are dropped before the scan is
        planned. A writer policy like ``merge_mode`` — stats recorded
        by past writers stay in the manifest either way.

        ``bloom_cols``: columns to record a per-file bloom filter for in
        the manifest (``bloom_bits`` bits / ``bloom_hashes`` probes per
        file per column). min/max bounds cannot prune point lookups on
        high-cardinality hash-like columns (a random sha spans the whole
        alphabet in every file); a bloom prunes them to ~the files that
        actually contain the value — the Iceberg/Delta bloom model.
        Supported column families: string, integral, boolean (others
        are skipped). Also a writer policy; ``read(where=...)`` uses
        whatever blooms the manifest carries.

        ``bloom_bits=None`` (default) sizes each write's blooms from
        its OWN row counts: ~9.6 bits per row in the write's largest
        bucket (<=1% fpp if all values are distinct, less otherwise),
        clamped to [BLOOM_BITS_DEFAULT, 2^22]. A fixed ``bloom_bits``
        pins the manifest cost instead — fpp then degrades once files
        exceed ~bloom_bits/10 distinct values."""
        if merge_mode not in ("cow", "mor", "auto"):
            raise ValueError(f"unknown merge_mode {merge_mode!r}")
        if bloom_bits is not None and (bloom_bits < 64 or bloom_bits % 64):
            raise ValueError("bloom_bits must be a positive multiple of 64")
        if idempotency_window < 1:
            raise ValueError("idempotency_window must be >= 1")
        if not 1 <= bloom_hashes <= BLOOM_HASHES_MAX:
            raise ValueError(f"bloom_hashes must be in 1..{BLOOM_HASHES_MAX}")
        # absolute from the start: Spark qualifies a RELATIVE external
        # location against spark.sql.warehouse.dir, not the process cwd,
        # so a relative table path would write under spark-warehouse/
        # while the os.* ledger and the readback scan resolve against
        # cwd — the table would "lose" every write.
        self.path = os.path.abspath(path)
        self.key_cols = list(key_cols)
        self.seq_col = seq_col
        self.op_col = op_col
        self.num_buckets = num_buckets
        self.merge_mode = merge_mode
        self.max_deltas_per_bucket = max_deltas_per_bucket
        self.stats_cols = list(stats_cols or [])
        self.idempotency_window = idempotency_window
        self.bloom_cols = list(bloom_cols or [])
        self.bloom_bits = bloom_bits
        self.bloom_hashes = bloom_hashes
        self.ledger_dir = os.path.join(self.path, "_ledger")
        self.data_dir = os.path.join(self.path, "data")
        self.refs_dir = os.path.join(self.ledger_dir, "refs")
        self.tags_dir = os.path.join(self.ledger_dir, "tags")
        self.claims_dir = os.path.join(self.ledger_dir, "commits")
        os.makedirs(self.ledger_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.refs_dir, exist_ok=True)
        os.makedirs(self.tags_dir, exist_ok=True)
        os.makedirs(self.claims_dir, exist_ok=True)
        # storage wins over the constructor arg: the bucket function is a
        # property of the files on disk (every merge/fence/write keys on
        # it), so a reopened table adopts the committed layout — the arg
        # only seeds brand-new tables (and rebucket() evolves it).
        snap = self.current_snapshot()
        if snap is not None and snap.get("num_buckets"):
            self.num_buckets = int(snap["num_buckets"])

    # ------------------------------------------------------------- ledger

    def current_snapshot(self) -> dict | None:
        cur = os.path.join(self.ledger_dir, "CURRENT")
        if os.path.exists(cur):
            with open(cur) as fh:
                version = int(fh.read().strip())
        else:
            version = 0
        # heal forward over claim edges a crashed committer left
        # unpointed. Resolution-only — the pointer file is NOT repaired
        # here: reads must stay pure (read-only replicas, unprivileged
        # consumers) and a read-time pointer write could race a
        # concurrent rollback_to and resurrect the rolled-back head.
        # The pointer catches up at the next commit's _write_ref.
        healed = self._heal_forward(None, version)
        return self.snapshot_at(healed) if healed else None

    def snapshot_at(self, version: int) -> dict | None:
        """Snapshot metadata for a specific version (time travel); None
        if that version was never published or has been expired."""
        path = os.path.join(self.ledger_dir, f"v{version:08d}.json")
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return json.load(fh)

    def history(self) -> list[dict]:
        """All retained snapshots, oldest first — the Iceberg snapshot
        log (version, parent, commit time, row/schema summary)."""
        out = []
        for v in self._versions():
            snap = self.snapshot_at(v)
            out.append(
                {
                    "version": snap["version"],
                    "parent": snap["parent"],
                    "committed_at": snap["committed_at"],
                    "schema_version": snap["schema_version"],
                    "total_rows": snap["total_rows"],
                    "applied_batches": len(snap["applied_batches"]),
                }
            )
        return out

    def inspect(self, spark: SparkSession, kind: str) -> DataFrame:
        """Queryable metadata tables (Iceberg's ``snapshots`` / ``files``
        / ``refs`` metadata-table family): the ledger exposed as a
        DataFrame so operational questions ("which snapshots exist",
        "how many delta files is bucket 7 carrying", "where does the
        audit branch point") are answered with the same query engine as
        the data, join-able against data reads. Built driver-side from
        the manifest — metadata is O(ledger), never a data scan, same
        as Iceberg planning a metadata table from manifests.

        kinds:
        - "snapshots": one row per RETAINED snapshot (version, parent,
          committed_at, schema_version, total_rows, n_batches).
        - "files": one row per data file of the CURRENT snapshot —
          bucket, relative path, kind (base|delta), delta_group ordinal
          (-1 for base), schema_version, plus the bucket's manifest row
          count and checksum.
        - "refs": main, branches, tags with their pinned versions
          (branch heads claim-healed).
        - "batches": the current head's applied batch ids in commit
          order with their ordinal (the idempotency ledger).
        """
        if kind == "snapshots":
            rows = [
                (
                    int(h["version"]),
                    int(h["parent"] or 0),
                    str(h["committed_at"]),
                    int(h["schema_version"]),
                    int(h["total_rows"]),
                    int(h["applied_batches"]),
                )
                for h in self.history()
            ]
            return spark.createDataFrame(
                rows,
                "version long, parent_version long, committed_at string, "
                "schema_version long, total_rows long, n_batches long",
            )
        if kind == "files":
            snap = self.current_snapshot()
            rows = []
            for b, meta in sorted(
                ((snap or {}).get("buckets") or {}).items(), key=lambda kv: int(kv[0])
            ):
                for f in meta.get("files", []):
                    rows.append(
                        (int(b), f, "base", -1, int(meta["schema_version"]),
                         int(meta["rows"]), str(meta["checksum"]))
                    )
                for gi, grp in enumerate(meta.get("deltas", [])):
                    for f in grp.get("files", []):
                        rows.append(
                            (int(b), f, "delta", gi, int(grp["schema_version"]),
                             int(grp["rows"]), str(grp["checksum"]))
                        )
            return spark.createDataFrame(
                rows,
                "bucket long, file string, kind string, delta_group long, "
                "schema_version long, group_rows long, group_checksum string",
            )
        if kind == "refs":
            cur = self.current_snapshot()
            rows = [("main", "branch", int(cur["version"]) if cur else 0)]
            rows += [(n, "branch", int(v)) for n, v in sorted(self.refs().items())]
            rows += [(n, "tag", int(v)) for n, v in sorted(self.tags().items())]
            return spark.createDataFrame(
                rows, "name string, kind string, version long"
            )
        if kind == "batches":
            snap = self.current_snapshot()
            ids = (snap or {}).get("applied_batches") or []
            return spark.createDataFrame(
                [(i, bid) for i, bid in enumerate(ids)],
                "ordinal long, batch_id string",
            )
        raise ValueError(
            f"unknown metadata table {kind!r} — one of snapshots|files|refs|batches"
        )

    def version_as_of(self, ts: str) -> int:
        """Latest MAIN-lineage snapshot committed at or before ``ts``
        (ISO-8601 UTC, the ``committed_at`` format — lexicographic
        compare is chronological for it): Iceberg's
        time-travel-by-timestamp, resolved driver-side by walking the
        parent chain from the head. Raises when every retained snapshot
        is newer than ``ts`` (older ones may have been expired)."""
        cur = self.current_snapshot()
        for v in self._lineage(cur["version"] if cur else 0):
            snap = self.snapshot_at(v)  # None: lineage expired before ts
            if snap is not None and str(snap["committed_at"]) <= ts:
                return v
        raise ValueError(
            f"no retained snapshot committed at or before {ts!r}"
        )

    # ----------------------------------------------- branches / tags (WAP)

    _REF_NAME_RE = re.compile(r"[A-Za-z0-9._-]{1,64}")

    def _ref_file(self, name: str, kind: str) -> str:
        if not self._REF_NAME_RE.fullmatch(name):
            raise ValueError(f"invalid ref name {name!r}")
        return os.path.join(
            self.refs_dir if kind == "branch" else self.tags_dir, name
        )

    def _read_refs(self, d: str) -> dict[str, int]:
        out = {}
        for f in os.listdir(d):
            if ".tmp-" in f:  # crash leftovers of the atomic ref write
                continue
            try:
                with open(os.path.join(d, f)) as fh:
                    out[f] = int(fh.read().strip())
            except (ValueError, OSError):
                continue
        return out

    def refs(self) -> dict[str, int]:
        """Branch name -> head snapshot version (0 = branched off an
        empty table). ``main`` is implicit: the CURRENT pointer. Heads
        are claim-healed: a branch commit that crashed between claim
        and ref swap still resolves."""
        return {
            name: self._heal_forward(name, v)
            for name, v in self._read_refs(self.refs_dir).items()
        }

    def tags(self) -> dict[str, int]:
        """Immutable named snapshots (Iceberg tags)."""
        return self._read_refs(self.tags_dir)

    def resolve_ref(self, name: str) -> int | None:
        """Version a branch or tag points at (branches win on a clash)."""
        return self.refs().get(name, self.tags().get(name))

    def _write_ref(self, path: str, version: int) -> None:
        atomic_write_ref(path, version)

    # ------------------------------------- commit-claim chain (multi-writer)
    #
    # The snapshot-file CAS alone serializes writers that computed the
    # SAME next version, but not the chain: with a laggy pointer, writer
    # B can commit v(N+1) with parent v(N-1) while A's v(N) is published
    # but not yet pointed at — A's commit silently falls off the chain.
    # The claim chain closes that window: every commit must also
    # CAS-create a claim file keyed on (ref, parent version), so each
    # parent gets EXACTLY ONE child per ref and the loser learns about
    # the winner no matter which version number it picked. The ref
    # pointer then degrades to a cache: head resolution follows claim
    # edges forward from the pointer, which also heals a writer that
    # crashed between claim and pointer swap.

    _MAIN_CLAIMS = "@main"  # '@' is outside _REF_NAME_RE: no branch collides

    def _claim_path(self, ref: str | None, parent: int) -> str:
        name = self._MAIN_CLAIMS if ref is None else ref
        return os.path.join(self.claims_dir, name, f"p{parent:08d}.json")

    def _claim_child(self, ref: str | None, parent: int) -> int | None:
        """Version committed on top of ``parent`` on ``ref``, or None."""
        try:
            with open(self._claim_path(ref, parent)) as fh:
                return int(json.load(fh)["child"])
        except (FileNotFoundError, ValueError, KeyError, json.JSONDecodeError):
            return None

    def _claim_commit(self, ref: str | None, parent: int, child: int) -> None:
        path = self._claim_path(ref, parent)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        cas_publish_document(
            path,
            {"child": child},
            f"a concurrent writer already committed on top of v{parent} "
            f"({'main' if ref is None else ref!r}) — rebase onto the new "
            "head and retry",
        )

    def _heal_forward(self, ref: str | None, version: int) -> int:
        """Follow committed claim edges from ``version`` to the true
        head (repairs a pointer a crashed writer never swapped)."""
        while True:
            child = self._claim_child(ref, version)
            # child versions are strictly increasing along a chain
            # (global monotone counter) — the guard makes a corrupt
            # claim harmless instead of a spin
            if child is None or child <= version:
                return version
            if self.snapshot_at(child) is None:
                return version  # stale claim beyond retention
            version = child

    def create_branch(self, name: str, at_version: int | None = None) -> int:
        """Point a new branch at ``at_version`` (default: the current
        main head; 0 when the table is empty). Branch writes via
        ``apply_batch(..., branch=name)`` advance only the branch ref —
        main readers never see them until ``fast_forward``."""
        path = self._ref_file(name, "branch")
        if os.path.exists(path):
            raise ValueError(f"branch {name!r} already exists")
        if at_version is None:
            cur = self.current_snapshot()
            at_version = cur["version"] if cur else 0
        if at_version and self.snapshot_at(at_version) is None:
            raise ValueError(f"snapshot v{at_version} not found")
        self._write_ref(path, at_version)
        return at_version

    def drop_branch(self, name: str) -> None:
        """Delete the branch ref AND its claim chain. Snapshots it alone
        referenced become unreferenced metadata that ``expire_snapshots``
        (and its orphan vacuum) reclaims later — the Iceberg cleanup
        model. The claims must go with the ref: a recreated branch of
        the same name would otherwise heal forward over the dropped
        branch's stale claim edges and resurrect its commits (or, once
        those snapshots expire, be permanently unable to commit)."""
        try:
            os.remove(self._ref_file(name, "branch"))
        except FileNotFoundError:
            pass
        shutil.rmtree(os.path.join(self.claims_dir, name), ignore_errors=True)

    def create_tag(self, name: str, at_version: int | None = None) -> int:
        """Pin an immutable name to a snapshot (audit/release marker)."""
        path = self._ref_file(name, "tag")
        if os.path.exists(path):
            raise ValueError(f"tag {name!r} already exists (tags are immutable)")
        if at_version is None:
            cur = self.current_snapshot()
            if cur is None:
                raise ValueError("cannot tag an empty table")
            at_version = cur["version"]
        if self.snapshot_at(at_version) is None:
            raise ValueError(f"snapshot v{at_version} not found")
        self._write_ref(path, at_version)
        return at_version

    def _head(self, branch: str | None) -> dict | None:
        """Writer's view of the head snapshot: branch ref or main."""
        if branch is None:
            return self.current_snapshot()
        v = self.refs().get(branch)
        if v is None:
            raise ValueError(f"unknown branch {branch!r} (create_branch first)")
        return self.snapshot_at(v) if v else None

    def _versions(self) -> list[int]:
        """Every snapshot version on the ledger, ascending."""
        return sorted(
            int(f[1:9])
            for f in os.listdir(self.ledger_dir)
            if re.fullmatch(r"v\d{8}\.json", f)
        )

    def _lineage(self, version: int | None):
        """``version`` and its ancestors, newest first; stops at the root
        or after the first expired snapshot."""
        while version:
            yield version
            snap = self.snapshot_at(version)
            version = snap["parent"] if snap else None

    def _next_version(self) -> int:
        """Global monotone version counter across ALL branches — version
        numbers (and their data dirs) never collide, so the os.link CAS
        in ``_publish`` still serializes accidental concurrent writers
        even when they target different branches."""
        return max(self._versions(), default=0) + 1

    def fast_forward(self, branch: str) -> int:
        """Atomically advance main to the branch head — the publish half
        of write-audit-publish. Requires main's current head to be an
        ancestor of the branch head (a true fast-forward); anything else
        means a concurrent main commit landed since the branch forked,
        and silently swapping would drop it, so it raises
        ``CommitConflict`` instead."""
        head = self.refs().get(branch)
        if head is None:
            raise ValueError(f"unknown branch {branch!r}")
        if head == 0:
            return 0  # branch of an empty table with no commits: no-op
        cur = self.current_snapshot()
        cur_v = cur["version"] if cur else 0
        if head == cur_v:
            return head
        if cur_v and cur_v not in self._lineage(head):
            raise CommitConflict(
                f"main v{cur_v} is not an ancestor of {branch!r} head "
                f"v{head} — not a fast-forward"
            )
        # claim the jump on MAIN's chain before moving the pointer: a
        # concurrent main committer racing this fast-forward serializes
        # on the same (main, cur_v) claim — one of the two loses loudly
        # instead of being silently dropped from the chain
        self._claim_commit(None, cur_v, head)
        self._write_ref(os.path.join(self.ledger_dir, "CURRENT"), head)
        return head

    def rollback_to(self, version: int) -> int:
        """Move main's CURRENT back to ancestor snapshot ``version``
        (Iceberg ``rollback_to_snapshot``). Pure metadata — no data
        files move. The rolled-over snapshots stay readable by version
        until ``expire_snapshots`` reclaims them (they are no longer on
        main's parent chain), and because watermarks and applied-batch
        ids live IN the snapshot, the table's fencing state reverts with
        it: events the rolled-back commits had consumed re-apply
        cleanly, which is exactly what a replay-from-known-good-point
        recovery needs. The target must be an ancestor of the current
        head (same proof as :meth:`fast_forward`) — rolling "back" to an
        unrelated branch snapshot would silently adopt its watermarks.
        """
        cur = self.current_snapshot()
        if cur is None:
            raise ValueError("cannot roll back an empty table")
        if version == cur["version"]:
            return version
        if self.snapshot_at(version) is None:
            raise ValueError(f"snapshot v{version} not found (expired or never published)")
        chain: list[int] = []  # chain versions in (version, head]
        for v in self._lineage(cur["version"]):
            if v == version:
                break
            chain.append(v)
        else:
            raise ValueError(
                f"v{version} is not an ancestor of main head v{cur['version']} — "
                "not a rollback (use fast_forward for branch heads)"
            )
        # drop the claim edges along the rolled-back chain — otherwise
        # head resolution's crash-healing would follow them forward and
        # resurrect the rolled-back commits. Target-keyed claim first,
        # so a crash mid-deletion leaves either the full old chain (the
        # rollback simply "didn't happen yet") or no path out of the
        # target. Rollback is a quiesced operator action: a writer
        # committing DURING the deletion window can be lost, same as
        # Iceberg's rollback_to_snapshot contract.
        for p in [version, *chain[::-1]]:  # target upward; head has no claim
            try:
                os.remove(self._claim_path(None, p))
            except FileNotFoundError:
                pass
        self._write_ref(os.path.join(self.ledger_dir, "CURRENT"), version)
        return version

    def write_audit_publish(
        self,
        spark: SparkSession,
        batch_df: DataFrame,
        batch_id: str,
        validate,
        mode: str | None = None,
    ) -> "ApplyStats":
        """The WAP pattern (Iceberg/Nessie write-audit-publish): stage
        the batch on a throwaway audit branch, run ``validate`` against
        the POST-commit table state (not just the batch — exactly what
        pre-commit checks cannot see), and only then fast-forward main.
        ``validate(state_df) -> None | str`` returns an error message to
        abort. On abort main is untouched, the audit branch is dropped,
        and the batch id remains unapplied on main — the batch can be
        fixed and retried. The staged snapshot becomes unreferenced
        metadata that ``expire_snapshots`` reclaims.

        Reference analog: blocking asset checks gating downstream
        materialization (mex/extractors/pipeline/base.py:107-127) —
        but evaluated on the would-be-published table itself."""
        branch = f"audit-{uuid.uuid4().hex[:8]}"
        self.create_branch(branch)
        try:
            stats = self.apply_batch(spark, batch_df, batch_id, mode=mode, branch=branch)
            err = validate(self.read(spark, ref=branch))
            if err:
                raise CommitAborted(
                    f"batch {batch_id}: audit failed ({err}) — main untouched"
                )
            self.fast_forward(branch)
            return stats
        finally:
            self.drop_branch(branch)

    def expire_snapshots(
        self, keep_last: int = 1, extra_keep: "set[int] | None" = None
    ) -> int:
        """Drop all but the newest ``keep_last`` snapshots' metadata,
        then vacuum data files no retained snapshot references (Iceberg
        ``expire_snapshots`` + orphan cleanup). The CURRENT snapshot,
        branch heads, and tagged snapshots are always retained;
        ``extra_keep`` pins additional versions (with their ancestry,
        so fast-forward proofs stay walkable) — a :class:`~mex_
        extractors_spark.lake.catalog.LakeCatalog` passes the versions
        its retained catalog snapshots still reference. Returns the
        number of snapshots expired."""
        cur = self.current_snapshot()
        if cur is None:
            return 0
        versions = self._versions()
        # retention follows MAIN's parent chain (not "newest by number":
        # an abandoned audit-branch snapshot may carry the top version
        # and must not displace real history), plus every tag target and
        # every live branch's FULL ancestry down to a retained version —
        # fast_forward proves ancestry by walking parents, so expiring
        # an intermediate branch snapshot would make a legitimate
        # fast-forward unprovable
        keep = set(islice(self._lineage(cur["version"]), max(keep_last, 1)))
        for head in [*self.refs().values(), *(extra_keep or ())]:
            for b in self._lineage(head):
                if b in keep:
                    break
                keep.add(b)
        keep |= {v for v in self.tags().values() if v}
        expired = 0
        claim_refs = os.listdir(self.claims_dir)
        for v in versions:
            if v not in keep:
                os.remove(os.path.join(self.ledger_dir, f"v{v:08d}.json"))
                expired += 1
                # claim edges keyed on an expired parent can never be
                # reached by head resolution again — drop them so the
                # commit-chain dir doesn't grow without bound
                for ref_dir in claim_refs:
                    try:
                        os.remove(
                            os.path.join(
                                self.claims_dir, ref_dir, f"p{v:08d}.json"
                            )
                        )
                    except FileNotFoundError:
                        pass
        self.vacuum_orphans()
        return expired

    def _publish(self, snapshot: dict, ref: str | None = None) -> None:
        """Atomic three-step publish: snapshot file, commit claim, then
        pointer swap (CURRENT, or the named branch ref for staged/WAP
        commits).

        Step 1 — the snapshot file is linked into place with ``os.link``
        (FAILS if the version exists), keeping version numbers globally
        unique (time travel / data-dir naming). Step 2 — the claim file
        keyed on (ref, parent) is CAS-created the same way: each parent
        gets exactly ONE child per ref, so concurrent writers serialize
        on the CHAIN, not just on the version number — a stale writer
        loses with ``CommitConflict`` even when pointer lag let it pick
        a fresh version over a stale parent (the lost-update window a
        filename CAS alone leaves open). Step 3 — the ref pointer is a
        cache of the claim chain; head resolution follows claims
        forward, so a crash between steps 2 and 3 heals on next read.
        A crash between 1 and 2 leaves an unreferenced snapshot file
        that ``expire_snapshots``/``vacuum_orphans`` reclaims.

        ``CommitConflict`` from either CAS means a concurrent commit
        landed first; ``_commit`` rebases and retries when the commits
        touch disjoint buckets."""
        version = snapshot["version"]
        snap_path = os.path.join(self.ledger_dir, f"v{version:08d}.json")
        cas_publish_document(
            snap_path,
            snapshot,
            f"snapshot v{version} was published by another writer — "
            "re-read the ledger and retry on the new head",
        )
        try:
            self._claim_commit(ref, int(snapshot.get("parent") or 0), version)
        except CommitConflict:
            # the snapshot file this attempt just created was never
            # claimed — nobody can reference it; remove it so a lost
            # race doesn't litter the ledger with phantom "commits"
            # (whose applied_batches would lie, and whose data files
            # the loser may go on to delete)
            try:
                os.remove(snap_path)
            except FileNotFoundError:
                pass
            raise
        pointer = (
            os.path.join(self.ledger_dir, "CURRENT")
            if ref is None
            else self._ref_file(ref, "branch")
        )
        self._write_ref(pointer, version)

    def watermarks(self) -> dict[int, int]:
        snap = self.current_snapshot()
        if snap is None:
            return {}
        return {int(k): int(v) for k, v in snap["watermarks"].items()}

    def applied_batches(self) -> set[str]:
        snap = self.current_snapshot()
        return set(snap["applied_batches"]) if snap else set()

    def current_schema(self) -> StructType | None:
        return _schema_of(self.current_snapshot())

    # --------------------------------------------------------------- read

    def _bucket_expr(self) -> Column:
        """Bucket id = ``pmod(murmur3(key), num_buckets)`` — the EXACT
        expression behind Spark's ``hashpartitioning`` AND its bucketed
        table layout. Four things key on this identity: watermark
        fencing/stats assign events to buckets with it, the merge
        aggregation's exchange places reduce partition i ≡ bucket i, the
        bucketed writer tags file names with the same id, and
        ``_state_scan`` reads bucket i from the files tagged i — so
        the sort-merge MERGE joins batch partitions to table buckets with
        no realignment, and the bucketed write adds no exchange. One
        payload shuffle per micro-batch, over the batch alone (asserted
        by tests/test_lake.py::test_merge_shuffles_only_the_batch and
        test_bucket_file_tags_match_hash_expr)."""
        return F.pmod(F.hash(*[F.col(c) for c in self.key_cols]), F.lit(self.num_buckets))

    def _drop_stale_scratch_tables(self, spark: SparkSession) -> None:
        """Drop mex_lake_out_* catalog entries leaked by a hard kill
        between ``_write_bucketed``'s CREATE and its finally-DROP
        (harmless in an in-memory catalog; a persistent metastore would
        accumulate). Runs once per table instance — a listTables
        round-trip is driver-side serial cost we do not want on every
        batch."""
        if getattr(self, "_scratch_cleaned", False):
            return
        self._scratch_cleaned = True
        try:
            for t in spark.catalog.listTables():
                if t.name.startswith("mex_lake_out_"):
                    spark.sql(f"DROP TABLE IF EXISTS `{t.name}`")
        except Exception:  # noqa: BLE001 — cleanup is best-effort
            pass

    def _state_scan(
        self,
        spark: SparkSession,
        snap: dict,
        buckets: Sequence[int],
        schema: StructType,
        skip: set[str] | None = None,
        bucketed: bool = True,
    ) -> DataFrame:
        """State of ``snap``'s ``buckets`` as ``schema``, merged IN
        PLACE from ONE parquet relation over their base files (minus the
        pruner's ``skip``) and delta files; every file group must be
        ``_native`` to ``schema``. With deltas pending the relation adds
        a nullable op column (base rows read null) and ``_lww_state``
        resolves each key.

        ``bucketed``: the relation carries the snapshot's bucket spec, so
        Spark assigns each file to the bucket its ``_NNNNN`` name tag
        carries, wherever its version dir is: the LWW window, and a
        key-equi join against a batch hash-partitioned by the same
        murmur3-pmod (or against another such scan), run inside each
        bucket with no exchange — Iceberg's storage-partitioned join,
        with no catalog entry. Else the relation is coalesced to one
        partition: one task for a single bucket, where a bucketed scan
        launches one per bucket.

        The key sort is declared only when no bucket is clustered (its
        files follow the CLUSTER order: declaring the key sort would let
        Spark elide the merge join's sort on one-file buckets and
        mis-merge) or carries deltas (the window sorts anyway).

        Above 32 root paths (``parallelPartitionDiscovery.threshold``)
        Spark lists the files in one Spark job at planning. One relation
        over base and delta files crosses that sooner than two apart (16
        buckets of 1 base + 2 delta files: one listing job, where 16 + 32
        paths need none); the in-place merge saves a job in turn, so
        ``read().count()`` never runs more (BENCH/MOR_INPLACE_AB.md)."""
        metas = [snap["buckets"][str(b)] for b in buckets]
        files = [
            p
            for m in metas
            for f in m["files"]
            if (p := os.path.join(self.path, f)) not in (skip or ())
        ]
        deltas = [
            os.path.join(self.path, f)
            for m in metas
            for d in m.get("deltas", [])
            for f in d["files"]
        ]
        if not files and not deltas:
            return spark.createDataFrame([], schema)
        read_schema = (
            StructType([*schema.fields, StructField(self.op_col, StringType())])
            if deltas
            else schema
        )
        df = spark.read.schema(read_schema).parquet(*files, *deltas)
        if bucketed:
            jvm = spark._jvm
            rel = df._jdf.queryExecution().analyzed()
            fs = rel.relation()
            sort = [] if deltas or any(m.get("cluster") for m in metas) else self.key_cols
            spec = jvm.org.apache.spark.sql.catalyst.catalog.BucketSpec(
                int(snap["num_buckets"]),
                jvm.PythonUtils.toSeq(self.key_cols),
                jvm.PythonUtils.toSeq(sort),
            )
            fs = fs.copy(
                fs.location(), fs.partitionSchema(), fs.dataSchema(),
                jvm.scala.Some(spec), fs.fileFormat(), fs.options(), fs.sparkSession(),
            )
            plan = rel.copy(
                fs, rel.output(), rel.catalogTable(), rel.isStreaming(), rel.stream()
            )
            df = DataFrame(
                jvm.org.apache.spark.sql.classic.Dataset.ofRows(spark._jsparkSession, plan),
                spark,
            )
        else:
            df = df.coalesce(1)
        return self._lww_state(df, schema) if deltas else df

    def _lww_state(self, rows: DataFrame, schema: StructType) -> DataFrame:
        """Last-writer-wins over base rows (op null) and delta rows, as
        ``schema``: per key the highest seq wins (null ranks lowest), a
        delta row beats a base row of equal seq — as the copy-on-write
        batch row does (``>=``), since ``merge_into`` writes at a
        caller's seq without raising the fence — and a D winner drops
        the key. Two delta rows of one key never tie: each delta is
        fenced above the last. A row_number window, not max_by(struct(*)),
        so a narrow select prunes payload columns into the scan
        (tests/test_lake.py::test_column_pruning_reaches_scan_through_mor_merge)."""
        op = F.col(self.op_col)
        w = Window.partitionBy(*self.key_cols).orderBy(
            F.col(self.seq_col).desc(), op.asc_nulls_last()
        )
        return (
            rows.withColumn("_rn", F.row_number().over(w))
            .where((F.col("_rn") == 1) & ~op.eqNullSafe("D"))
            .select(*schema.fieldNames())
        )

    def _bucket_state(
        self,
        spark: SparkSession,
        snap: dict,
        buckets: Sequence[int] | None,
        schema: StructType,
    ) -> DataFrame | None:
        """State of ``snap``'s wanted buckets (None = all) aligned to
        ``schema`` — the table side of the copy-on-write merge and both
        sides of ``read_changes``. A bucketed ``_state_scan``, deltas
        pending or not, when every file group is ``_native`` to
        ``schema``; else the cast-aligning ``read``. None when the
        wanted buckets hold no rows."""
        wanted = None if buckets is None else set(buckets)
        metas = {
            int(b): m
            for b, m in snap["buckets"].items()
            if wanted is None or int(b) in wanted
        }
        if not any(m["files"] or m.get("deltas") for m in metas.values()):
            return None
        if all(_native(snap, m, schema) for m in metas.values()):
            return self._state_scan(spark, snap, sorted(metas), schema)
        return align_to_schema(
            self.read(spark, buckets=sorted(metas), version=snap["version"]), schema
        )

    @staticmethod
    def _changed_buckets(from_snap: dict, to_snap: dict) -> list[int] | None:
        """Buckets whose stored content differs between two snapshots
        (a manifest diff, no I/O); None across a layout change, where
        bucket ids are incomparable and every bucket counts as changed."""
        if int(from_snap["num_buckets"]) != int(to_snap["num_buckets"]):
            return None
        old, new = from_snap["buckets"], to_snap["buckets"]
        return sorted(
            int(b)
            for b in {*old, *new}
            if _bucket_sig(old.get(b, {})) != _bucket_sig(new.get(b, {}))
        )

    def _new_data_dir(self, version: int) -> tuple[str, str]:
        """Unique data directory per write ATTEMPT (version + random
        suffix). The snapshot CAS serializes the LEDGER, but two racing
        writers that both computed version N must not share a data dir:
        with a deterministic ``data/v{N}`` path the loser's
        ``mode('overwrite')`` write would destroy the winner's
        already-committed files BEFORE its publish raises
        ``CommitConflict``. Attempt dirs the CAS loser abandons are
        unreferenced by any snapshot and reclaimed by
        ``vacuum_orphans`` (which walks paths, not names)."""
        rel = os.path.join("data", f"v{version:08d}-{uuid.uuid4().hex[:8]}")
        return rel, os.path.join(self.path, rel)

    def _readback_bucket_stats(
        self, spark: SparkSession, out_dir: str, schema: StructType
    ) -> tuple[dict[int, tuple[int, str]], dict[int, dict[str, list]]]:
        """Read back just-written files: per-bucket (rows, checksum) +
        capped distinct value sets for the manifest file stats — the one
        codegen'd groupBy every commit runs in ``_commit`` (the manifest
        must certify identical canonical bytes whichever writer produced
        the files)."""
        written = spark.read.schema(schema).parquet(out_dir).withColumn(
            _BUCKET, self._bucket_expr()
        )
        canonical = F.to_json(F.struct(*sorted(schema.fieldNames())))
        vs_cols = [c for c in self.stats_cols if c in schema.fieldNames()]
        rows = (
            written.groupBy(_BUCKET)
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.coalesce(
                    F.sum(F.xxhash64(canonical).cast("decimal(38,0)")),
                    F.lit(0).cast("decimal(38,0)"),
                ).alias("checksum"),
                *[
                    F.slice(
                        F.array_sort(F.collect_set(F.col(c))),
                        1,
                        VALUE_SET_MAX + 1,
                    ).alias(f"v{ci}")
                    for ci, c in enumerate(vs_cols)
                ],
            )
            .collect()
        )
        bucket_stats = {
            int(r[_BUCKET]): (int(r["rows"]), str(r["checksum"])) for r in rows
        }
        value_sets: dict[int, dict[str, list]] = {}
        for r in rows:
            for ci, c in enumerate(vs_cols):
                vals = r[f"v{ci}"]
                if (
                    vals is not None
                    and len(vals) <= VALUE_SET_MAX
                    and all(isinstance(v, (int, float, str, bool)) for v in vals)
                ):
                    value_sets.setdefault(int(r[_BUCKET]), {})[c] = list(vals)
        return bucket_stats, value_sets

    @staticmethod
    def _bloom_type_tag(dt: DataType) -> str | None:
        """'s'/'i'/'b' for the column families the bloom hash scheme
        covers (CAST AS STRING is canonical and Python-reproducible
        there), None for everything else (skipped — float formatting,
        timestamps etc. are not worth the cast-mismatch risk)."""
        if isinstance(dt, StringType):
            return "s"
        if isinstance(dt, BooleanType):
            return "b"
        if isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
            return "i"
        return None

    def _bloom_m(self, rows_hint: int | None) -> int:
        """Bits per (file, column) for this write: explicit config, or
        auto-sized at ~9.6 bits per row of the write's largest bucket
        (1% fpp for all-distinct values), clamped to keep the manifest
        bounded (2^22 bits = 512 KiB per file per column at the top)."""
        if self.bloom_bits is not None:
            return self.bloom_bits
        n = max(int(rows_hint or 0), 1)
        m = ((n * 96 // 10) + 63) // 64 * 64
        return min(max(m, BLOOM_BITS_DEFAULT), 1 << 22)

    def _bloom_bucket_stats(
        self,
        spark: SparkSession,
        out_dir: str,
        schema: StructType,
        rows_hint: int | None = None,
    ) -> dict[int, dict[str, dict]]:
        """Per-bucket bloom bitsets for ``bloom_cols``: one distributed
        pass over the just-written files (page-cache hot after the
        write/readback), ONE job for all columns.

        Shape: per row emit k probe positions per column from one md5
        (double hashing — same scheme as ``stats.bloom_positions``),
        explode, reduce to word-level ``bit_or`` groups. The shuffle is
        bounded by buckets x columns x (bloom_bits/64) rows regardless
        of data size — manifest-sized, never data-sized — and the
        driver collects only those word rows."""
        specs = [
            (f.name, tag)
            for f in schema.fields
            if f.name in self.bloom_cols
            and (tag := self._bloom_type_tag(f.dataType)) is not None
        ]
        if not specs:
            return {}
        m, k = self._bloom_m(rows_hint), self.bloom_hashes
        df = spark.read.schema(schema).parquet(out_dir).withColumn(
            _BUCKET, self._bucket_expr()
        )
        entries = []
        for ci, (name, _tag) in enumerate(specs):
            d = F.md5(F.col(name).cast("string"))
            h1 = F.conv(F.substring(d, 1, 15), 16, 10).cast("long")
            h2 = F.conv(F.substring(d, 17, 15), 16, 10).cast("long").bitwiseOR(
                F.lit(1).cast("long")
            )
            for i in range(k):
                entries.append(
                    F.struct(
                        F.lit(ci).alias("ci"),
                        F.pmod(h1 + F.lit(i).cast("long") * h2, F.lit(m)).alias(
                            "pos"
                        ),
                    )
                )
        words = (
            df.select(F.col(_BUCKET), F.explode(F.array(*entries)).alias("e"))
            .select(_BUCKET, F.col("e.ci").alias("ci"), F.col("e.pos").alias("pos"))
            .where(F.col("pos").isNotNull())  # null column values set no bits
            .groupBy(
                _BUCKET, "ci", F.shiftright(F.col("pos"), 6).alias("w")
            )
            .agg(
                # shiftleft's numBits arg only takes a literal in the
                # Python API — the variable-shift form needs SQL
                F.bit_or(
                    F.expr(
                        "shiftleft(CAST(1 AS BIGINT),"
                        " CAST(pmod(pos, 64) AS INT))"
                    )
                ).alias("word")
            )
            .collect()
        )
        bitsets: dict[tuple[int, int], bytearray] = {}
        for r in words:
            key = (int(r[_BUCKET]), int(r["ci"]))
            bits = bitsets.setdefault(key, bytearray(m // 8))
            w, word = int(r["w"]), int(r["word"]) & 0xFFFFFFFFFFFFFFFF
            bits[w * 8 : (w + 1) * 8] = word.to_bytes(8, "little")
        out: dict[int, dict[str, dict]] = {}
        for (b, ci), bits in bitsets.items():
            name, tag = specs[ci]
            out.setdefault(b, {})[name] = {
                "m": m,
                "k": k,
                "t": tag,
                "b": base64.b64encode(bytes(bits)).decode("ascii"),
            }
        return out

    def _stats_sidecar(self, rel: str) -> str:
        return os.path.join(self.path, rel) + ".stats.json"

    def _persist_file_stats(self, file_stats: dict[str, dict]) -> None:
        """Write each new data file's stats next to it as an immutable
        sidecar (``<file>.parquet.stats.json``) instead of embedding
        them in every snapshot document: manifests stay O(file list) no
        matter how big the stats get (an auto-sized bloom is ~10 bits
        per row — embedded, it was re-serialized into EVERY descendant
        snapshot, ~1 MB per commit at 32 buckets and growing with
        bucket count). This is Iceberg's manifest-reuse model: stats
        live once per immutable file; snapshots only list files.
        Sidecars are written before the snapshot publish, so a crash
        leaves them orphaned alongside their data files and
        ``vacuum_orphans`` reclaims both."""
        for rel, st in file_stats.items():
            path = self._stats_sidecar(rel)
            tmp = path + f".tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as fh:
                json.dump(st, fh, sort_keys=True)
            os.replace(tmp, path)

    def _load_stats_sidecar(self, rel: str) -> dict | None:
        """Stats for one data file from its sidecar, memoized per
        instance (files are immutable, so entries never invalidate; the
        cache is cleared wholesale if it ever grows past ~8k files)."""
        cache = getattr(self, "_file_stats_cache", None)
        if cache is None:
            cache = self._file_stats_cache = {}
        if rel in cache:
            return cache[rel]
        try:
            with open(self._stats_sidecar(rel)) as fh:
                st = json.load(fh)
        except (OSError, ValueError):
            st = None
        if len(cache) > 8192:
            cache.clear()
        cache[rel] = st
        return st

    def file_stats(self, rel: str) -> dict | None:
        """Public accessor: per-column stats recorded for one data file
        (sidecar layout; legacy snapshots with embedded ``file_stats``
        are still honored by the pruner directly)."""
        return self._load_stats_sidecar(rel)

    def _assemble_manifest_stats(
        self,
        spark: SparkSession,
        out_dir: str,
        rel_out: str,
        schema: StructType,
        bucket_stats: dict,
        value_sets: dict,
        with_blooms: bool = True,
        extra_cols: "Sequence[str] | None" = None,
    ) -> dict[int, list[str]]:
        """Post-write manifest assembly (run by ``_commit`` for every
        writer): map just-written files to their buckets and persist
        each file's stats sidecar — min/max/null_count from the parquet
        footers (driver-side footer read, no data job — the Iceberg
        writers-emit-stats model) plus its bucket's distinct value sets
        and, when this write carries them, blooms (both cover all of the
        bucket's files from this write, so per file they are
        conservative). ``extra_cols`` widens the footer read beyond
        ``stats_cols`` — a clustered compaction always records bounds
        for its cluster columns, or the whole rewrite would prune
        nothing. Returns files_by_bucket (repo-relative paths)."""
        files_by_bucket: dict[int, list[str]] = {}
        for f in os.listdir(out_dir):
            m = _BUCKET_NAME_RE.search(f)
            if m:
                files_by_bucket.setdefault(int(m.group(1)), []).append(
                    os.path.join(rel_out, f)
                )
        blooms = (
            self._bloom_bucket_stats(
                spark,
                out_dir,
                schema,
                rows_hint=max(
                    (r for r, _c in bucket_stats.values()), default=0
                ),
            )
            if self.bloom_cols and with_blooms
            else {}
        )
        footer_cols = sorted(set(self.stats_cols) | set(extra_cols or ()))
        file_stats: dict[str, dict] = {}
        for b, rels in files_by_bucket.items() if footer_cols or blooms else ():
            for rel in rels:
                st = footer_column_stats(os.path.join(self.path, rel), footer_cols)
                for kind, per_col in (
                    ("values", value_sets.get(b) or {}),
                    ("bloom", blooms.get(b) or {}),
                ):
                    for c, v in per_col.items():
                        st.setdefault(c, {"min": None, "max": None, "nulls": 0})[kind] = v
                if st:
                    file_stats[rel] = st
        self._persist_file_stats(file_stats)  # sidecars, not manifest bloat
        return files_by_bucket

    def _write_bucketed(
        self,
        spark: SparkSession,
        df: DataFrame,
        out_dir: str,
        sort_cols: Sequence[str] | None = None,
        max_records_per_file: int | None = None,
    ) -> None:
        """Write the merged state as sorted parquet per bucket.

        The writer's bucket function is the same murmur3-pmod as
        ``_bucket_expr``/the merge exchange, so the incoming partitions
        are already bucket-aligned and no extra exchange is planned. The
        catalog entry is transient (external table; DROP keeps files).

        Default: one file per bucket, sorted by the key columns. A
        clustered compaction passes ``sort_cols`` (the cluster order)
        and ``max_records_per_file``: the per-bucket writer rolls to a
        new file at the row budget, so each file covers a contiguous
        range of the sort order — that is what makes the footer-stats
        skipping selective inside a bucket.
        """
        out_tbl = f"mex_lake_out_{uuid.uuid4().hex[:12]}"
        order = list(sort_cols) if sort_cols else list(self.key_cols)
        writer = (
            df.write.mode("overwrite")
            .bucketBy(self.num_buckets, *self.key_cols)
            .sortBy(*order)
            .option("path", out_dir)
        )
        if max_records_per_file:
            writer = writer.option(
                "maxRecordsPerFile", int(max_records_per_file)
            )
        try:
            writer.saveAsTable(out_tbl)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {out_tbl}")

    def read(
        self,
        spark: SparkSession,
        buckets: Sequence[int] | None = None,
        version: int | None = None,
        where: Sequence[tuple] | None = None,
        ref: str | None = None,
        as_of: str | None = None,
    ) -> DataFrame:
        """Table state — current, as of ``version`` (time travel), at a
        named branch/tag head (``ref``), or as of an ISO-8601 UTC
        timestamp (``as_of``, resolved via :meth:`version_as_of`). ``buckets`` prunes the
        scan to the named key-space partitions (the copy-on-write read
        path).

        ``where``: conjunctive ``(col, op, value)`` predicates (op in
        ``lake.stats.PRUNABLE_OPS``). Base files whose manifest stats
        provably exclude a conjunct are dropped BEFORE the scan is
        planned (Iceberg data skipping); files written before a
        predicate column existed are skipped outright (their rows read
        back null there). The full predicate is then still applied to
        the surviving rows — pruning is a pure scan reduction, never a
        correctness dependency — and reaches the parquet readers as a
        pushed filter for row-group pruning within surviving files.
        Delta files are never pruned: a delta may carry tombstones for
        matching base rows, and deltas are O(batch)-small by design."""
        preds = validate_predicates(where) if where else []
        if as_of is not None:
            if version is not None or ref is not None:
                raise ValueError(
                    "pass only one of version= / ref= / as_of="
                )
            version = self.version_as_of(as_of)
        if ref is not None:
            if version is not None:
                raise ValueError("pass either version= or ref=, not both")
            version = self.resolve_ref(ref)
            if version is None:
                raise ValueError(f"unknown branch/tag {ref!r}")
            if version == 0:  # branch of an empty table
                return spark.createDataFrame([], StructType([]))
        snap = self.snapshot_at(version) if version is not None else self.current_snapshot()
        if version is not None and snap is None:
            raise ValueError(f"snapshot v{version} not found (expired or never published)")
        schema = _schema_of(snap)
        if snap is None or schema is None or not snap["buckets"]:
            return spark.createDataFrame([], schema or StructType([]))
        wanted = set(buckets) if buckets is not None else None
        skip = self._prune_base_files(snap, wanted, preds) if preds else None
        metas = {
            int(b): m
            for b, m in snap["buckets"].items()
            if wanted is None or int(b) in wanted
        }
        if not any(m.get("deltas") for m in metas.values()):
            # nothing to merge: a plain file scan per schema version
            state = self._read_base(spark, snap, wanted, schema, skip=skip)
        else:
            # merge-on-read: in place, with no exchange (``_state_scan``),
            # except for buckets whose files need a non-native cast —
            # read per schema version with explicit casts, unioned (base
            # rows op = null) and LWW-merged behind a shuffle
            native = sorted(b for b, m in metas.items() if _native(snap, m, schema))
            cast = set(metas) - set(native)
            parts = []
            if native:
                parts.append(
                    self._state_scan(
                        spark, snap, native, schema, skip=skip, bucketed=len(native) > 1
                    )
                )
            if cast:
                base = self._read_base(spark, snap, cast, schema, skip=skip)
                delta = self._read_deltas(spark, snap, cast, schema)
                parts.append(
                    base
                    if delta is None
                    else self._lww_state(
                        base.withColumn(self.op_col, F.lit(None).cast(StringType()))
                        .unionByName(delta),
                        schema,
                    )
                )
            state = reduce(DataFrame.unionByName, parts)
        if preds:
            state = state.where(self._where_expr(preds))
        return state

    def _prune_base_files(
        self,
        snap: dict,
        wanted: set[int] | None,
        preds: list[tuple],
    ) -> set[str]:
        """Absolute paths of base files provably excluded by ``preds``
        (manifest-stats data skipping — a driver-side manifest walk,
        no file I/O)."""
        skip: set[str] = set()
        for b, meta in snap["buckets"].items():
            if wanted is not None and int(b) not in wanted:
                continue
            fields = set(_schema_of(snap, int(meta["schema_version"])).fieldNames())
            fstats = meta.get("file_stats") or {}  # legacy embedded layout
            for rel in meta["files"]:
                st = fstats.get(rel)
                if st is None:
                    st = self._load_stats_sidecar(rel)
                if not all(
                    file_may_match(st, c in fields, c, op, v)
                    for (c, op, v) in preds
                ):
                    skip.add(os.path.join(self.path, rel))
        return skip

    def _where_expr(self, preds: list[tuple]) -> Column:
        return reduce(
            Column.__and__,
            [
                F.col(c).isin(*v) if op == "in" else _COMPARE[op](F.col(c), F.lit(v))
                for c, op, v in preds
            ],
        )

    def _read_base(
        self,
        spark: SparkSession,
        snap: dict,
        wanted: set[int] | None,
        schema: StructType,
        skip: set[str] | None = None,
    ) -> DataFrame:
        """Base data files of the wanted buckets (no deltas), aligned to
        ``schema`` with per-schema-version explicit casts. ``skip``:
        absolute paths excluded by stats pruning."""
        by_schema: dict[int, list[str]] = {}
        for b, meta in snap["buckets"].items():
            if wanted is not None and int(b) not in wanted:
                continue
            by_schema.setdefault(int(meta["schema_version"]), []).extend(
                p
                for f in meta["files"]
                if (p := os.path.join(self.path, f)) not in (skip or ())
            )
        parts: list[DataFrame] = []
        for sv, files in sorted(by_schema.items()):
            if not files:
                continue
            df = spark.read.schema(_schema_of(snap, sv)).parquet(*files)
            parts.append(align_to_schema(df, schema))
        if not parts:
            return spark.createDataFrame([], schema)
        return reduce(DataFrame.unionByName, parts)

    def _delta_schema(self, snap: dict, sv: int) -> StructType:
        """On-disk schema of a delta file group: the table schema at its
        version plus the op column (tombstones ride in deltas)."""
        return StructType(
            [
                *_schema_of(snap, sv).fields,
                StructField(self.op_col, StringType()),
            ]
        )

    def _read_deltas(
        self,
        spark: SparkSession,
        snap: dict,
        wanted: set[int] | None,
        schema: StructType,
    ) -> DataFrame | None:
        """Union of the wanted buckets' delta files aligned to
        ``schema`` + op, or None when none of them carry deltas (the
        common case after compaction — the read stays a pure file scan)."""
        by_schema: dict[int, list[str]] = {}
        for b, meta in snap["buckets"].items():
            if wanted is not None and int(b) not in wanted:
                continue
            for d in meta.get("deltas", []):
                by_schema.setdefault(int(d["schema_version"]), []).extend(
                    os.path.join(self.path, f) for f in d["files"]
                )
        if not any(by_schema.values()):
            return None
        target = StructType(
            [*schema.fields, StructField(self.op_col, StringType())]
        )
        parts: list[DataFrame] = []
        for sv, files in sorted(by_schema.items()):
            if not files:
                continue
            df = spark.read.schema(self._delta_schema(snap, sv)).parquet(*files)
            parts.append(align_to_schema(df, target))
        return reduce(DataFrame.unionByName, parts)

    def read_key(self, spark: SparkSession, **key_values) -> DataFrame:
        """Point lookup: the state of one key (or one key prefix that
        pins every key column used by the bucket function — i.e. all of
        ``key_cols``). The key hashes to exactly one bucket, so the scan
        touches 1/num_buckets of the table regardless of table size —
        at 100 TB with 4096 buckets a lookup reads one bucket's files,
        with the equality predicate pushed into the parquet scan.
        Merge-on-read deltas of that bucket are merged as usual.
        """
        missing = [c for c in self.key_cols if c not in key_values]
        if missing:
            raise ValueError(
                f"read_key needs every key column (missing {missing}): "
                "the bucket function hashes all of them"
            )
        extra = sorted(set(key_values) - set(self.key_cols))
        if extra:
            # silently dropping a non-key filter would hand back rows
            # the caller did not ask for (a typo'd extra filter must
            # fail loudly, not pretend to match)
            raise ValueError(
                f"read_key accepts only key columns {list(self.key_cols)}; "
                f"unexpected: {extra} — filter other columns on the result"
            )
        schema = self.current_schema()
        if schema is None:
            # no committed data schema yet (brand-new table or a no-op
            # bootstrap head): a point lookup is empty, same as read()
            return spark.createDataFrame([], StructType([]))
        # same murmur3-pmod the layout uses, evaluated on a literal row:
        # a VALUES relation collects on the driver with no Spark job
        # (spark.range(1) would run one). Literals are CAST to the
        # stored column types first: murmur3 hashes ints and longs
        # differently, so an uncast Python int probing a LongType key
        # would hash to the wrong bucket and silently return empty.
        types = {f.name: f.dataType for f in schema.fields}
        lits = [
            F.lit(key_values[c]).cast(types[c]) if c in types else F.lit(key_values[c])
            for c in self.key_cols
        ]
        bucket = spark.sql("SELECT * FROM VALUES (1) AS t(x)").select(
            F.pmod(F.hash(*lits), F.lit(self.num_buckets)).alias("b")
        ).first()["b"]
        # run the equalities through the stats pruner too: when the key
        # columns carry blooms / value sets, a lookup of an ABSENT key
        # proves itself empty from the manifest and scans zero files.
        # read() applies them as the residual filter, one equality per
        # key column; a key the pruner takes no stats for is filtered
        # here instead
        eqs = [(c, "=", key_values[c]) for c in self.key_cols]
        preds = [p for p in eqs if isinstance(p[2], (str, int))]
        out = self.read(spark, buckets=[int(bucket)], where=preds or None)
        if rest := [p for p in eqs if p not in preds]:
            out = out.where(self._where_expr(rest))
        return out

    # -------------------------------------------------------------- write

    def apply_batch(
        self,
        spark: SparkSession,
        batch_df: DataFrame,
        batch_id: str,
        crash_after_data: bool = False,
        mode: str | None = None,
        branch: str | None = None,
    ) -> ApplyStats:
        """MERGE a change-event batch into the table, exactly once.

        ``batch_df`` must contain ``key_cols + [seq_col, op_col]`` plus
        any payload columns. Payload schema may differ from the table's —
        the schema-merge step runs first (SURVEY.md §7 Phase 4).

        ``mode`` overrides the table's ``merge_mode`` for this batch
        ("cow" | "mor" | "auto"); fencing, idempotency, watermarks and
        schema evolution are identical either way — only the physical
        write strategy differs (rewrite touched buckets vs append delta
        files).

        ``branch`` stages the commit on a named branch (its ref
        advances, main's CURRENT does not): fencing/idempotency run
        against the BRANCH head, so an audit flow sees exactly the
        state main would have after ``fast_forward``.
        """
        t0 = time.monotonic()
        snap = self._head(branch)
        if snap is not None and batch_id in snap["applied_batches"]:
            return ApplyStats(batch_id=batch_id, applied=False)
        self._drop_stale_scratch_tables(spark)

        # --- ingest contract: op and every key column must be non-null.
        #     Malformed rows are dropped HERE, once: a full_outer
        #     equi-join never matches null keys while the batch LWW
        #     groupBy treats them as equal, and the merge's winning-row
        #     rule reads op.
        valid = F.col(self.op_col).isNotNull()
        for k in self.key_cols:
            valid = valid & F.col(k).isNotNull()

        # --- fence redelivered events at/below each bucket's watermark.
        #     The observe sits ABOVE the validity filter so events_in is
        #     the raw batch size and invalid rows are counted explicitly
        #     (not folded into events_fenced).
        obs = Observation()
        events = (
            batch_df.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(valid, 0).otherwise(1)).alias("bad"),
            )
            .where(valid)
            .withColumn(_BUCKET, self._bucket_expr())
        )
        # fence against the WRITE HEAD's watermarks (branch-aware)
        watermarks = {
            int(k): int(v) for k, v in (snap or {}).get("watermarks", {}).items()
        }
        if watermarks:
            # watermarks flow in as DATA (broadcast join), not as literal
            # expressions: literals are inlined into generated code, which
            # would force a fresh Janino compile of the whole scan+merge
            # stage on every micro-batch (a large constant cost per batch)
            wm_df = spark.createDataFrame(
                [(int(b), int(w)) for b, w in watermarks.items()],
                schema=f"{_BUCKET} long, _wm long",
            )
            fenced = (
                events.join(F.broadcast(wm_df), on=_BUCKET, how="left")
                .where(F.col(self.seq_col) > F.coalesce(F.col("_wm"), F.lit(-1)))
                .drop("_wm")
            )
        else:
            fenced = events

        # --- narrow pre-pass: per-bucket watermark + event counts.
        #     Column-pruned to (key, seq, op) — the parquet scan never
        #     touches payload columns, and the shuffle after map-side
        #     partial aggregation is ~num_buckets rows per input split.
        t_phase = time.monotonic()
        op_is_del = F.col(self.op_col) == "D"
        stats_rows = (
            fenced.groupBy(_BUCKET)
            .agg(
                F.max(self.seq_col).alias("wm"),
                F.sum(F.when(~op_is_del, 1).otherwise(0)).alias("ups"),
                F.sum(F.when(op_is_del, 1).otherwise(0)).alias("dels"),
                F.count(F.lit(1)).alias("kept"),
            )
            .collect()
        )
        try:
            events_in = int(obs.get["n"])
            events_invalid = int(obs.get["bad"] or 0)
        except Exception:
            # Observation row can be schemaless when the observed job ends
            # empty (Spark edge case) — fall back to direct counts
            events_in = batch_df.count()
            events_invalid = events_in - batch_df.where(valid).count()
        touched = [int(r[_BUCKET]) for r in stats_rows]
        kept = sum(int(r["kept"]) for r in stats_rows)
        upserts = sum(int(r["ups"]) for r in stats_rows)
        deletes = sum(int(r["dels"]) for r in stats_rows)
        new_wm = {int(r[_BUCKET]): int(r["wm"]) for r in stats_rows}
        t_stats = time.monotonic() - t_phase

        if not touched:
            # still record the batch id so replay bookkeeping stays exact
            res = self._commit(spark, snap, branch, batch_id)
            return ApplyStats(
                batch_id=batch_id,
                applied=res.applied,
                events_in=events_in,
                events_invalid=events_invalid,
                events_fenced=events_in - events_invalid,
                seconds=time.monotonic() - t0,
                commit_attempts=res.attempts,
            )

        # --- merge-strategy resolution (see __init__ docstring)
        touched_metas = {
            b: (snap["buckets"].get(str(b)) if snap else None) for b in touched
        }
        requested = mode or self.merge_mode
        if requested == "auto":
            touched_file_rows = sum(_file_rows(m) for m in touched_metas.values() if m)
            use_mor = snap is not None and touched_file_rows > self.AUTO_COW_FACTOR * max(kept, 1)
        else:
            use_mor = requested == "mor"
        if use_mor and self.max_deltas_per_bucket is not None and any(
            m and len(m.get("deltas", [])) >= self.max_deltas_per_bucket
            for m in touched_metas.values()
        ):
            use_mor = False  # escalate: the rewrite folds the delta pile back in

        # --- schema evolution before apply (_commit registers the
        #     written schema in the head's schema log)
        payload_schema = StructType(
            [f for f in fenced.schema.fields if f.name not in (_BUCKET, self.op_col)]
        )
        if snap is None or not snap.get("schema_version"):
            table_schema = payload_schema
        else:
            table_schema = merge_schemas(_schema_of(snap), payload_schema)

        # --- merge of the touched buckets: ONE payload shuffle, over
        #     the BATCH alone. The batch is LWW-reduced by a max_by
        #     aggregate (map-side partial combine pre-reduces hot keys on
        #     every input split; its exchange is hashpartitioning on the
        #     key with num_buckets partitions). Merge-on-read appends that
        #     reduced batch as the delta — deletes stay as tombstone rows,
        #     the table side is never read, write cost is O(batch).
        #     Copy-on-write joins it to the buckets' current state with a
        #     sort-merge FULL OUTER join whose table side is a BUCKETED
        #     scan (_bucket_state) hash-aligned with the agg's exchange
        #     (identical murmur3-pmod, see _bucket_expr), so the table rows
        #     merge IN PLACE, never shuffled. At 100 TB (table >> batch)
        #     that is the difference between moving each micro-batch and
        #     moving the whole table every micro-batch.
        schema_with_op = StructType([*table_schema.fields, fenced.schema[self.op_col]])
        batch_latest = lww_latest(
            align_to_schema(fenced.drop(_BUCKET), schema_with_op),
            key_cols=self.key_cols,
            seq_col=self.seq_col,
        )

        def _raise_watermarks(head: dict | None) -> dict:
            wm = {
                int(k): int(v) for k, v in (head or {}).get("watermarks", {}).items()
            }
            for b, w in new_wm.items():
                wm[b] = max(wm.get(b, -1), w)
            return {"watermarks": {str(k): v for k, v in wm.items()}}

        t_phase = time.monotonic()
        cur = (
            None
            if use_mor or snap is None
            else self._bucket_state(spark, snap, touched, table_schema)
        )
        if use_mor:
            merged = batch_latest
        elif cur is None:
            # first write into these buckets: the batch alone
            merged = apply_deletes(batch_latest, op_col=self.op_col).drop(self.op_col)
        else:
            # last-writer-wins by seq, the rule read() merges deltas by:
            # the batch row wins iff the key has no current row (or one
            # with a null seq, which ranks lowest) or its seq is >= the
            # current one — fencing is per BUCKET, so a DML-written row
            # may outrank a later event — and a winning D drops the key
            payload = [f.name for f in table_schema.fields if f.name not in self.key_cols]
            cur = cur.select(
                *self.key_cols, *[F.col(c).alias(f"__cur__{c}") for c in payload]
            )
            wins = F.coalesce(F.col("_in_batch"), F.lit(False)) & F.coalesce(
                F.col(self.seq_col) >= F.col(f"__cur__{self.seq_col}"), F.lit(True)
            )
            merged = (
                batch_latest.withColumn("_in_batch", F.lit(True))
                .join(cur, on=list(self.key_cols), how="full_outer")
                .withColumn("_wins", wins)
                .where(~F.col("_wins") | (F.col(self.op_col) != "D"))
                .select(
                    *self.key_cols,
                    *[
                        F.when(F.col("_wins"), F.col(c))
                        .otherwise(F.col(f"__cur__{c}"))
                        .alias(c)
                        for c in payload
                    ],
                )
            )
        t_plan = time.monotonic() - t_phase
        res = self._commit(
            spark,
            snap,
            branch,
            batch_id,
            df=merged,
            schema=table_schema,
            touched=touched,
            delta=use_mor,
            # merge exchange sized to the bucket count
            shuffle_partitions=self.num_buckets,
            fields=_raise_watermarks,
            crash_after_data=crash_after_data,
        )
        if not res.applied:
            return ApplyStats(
                batch_id=batch_id,
                applied=False,
                events_in=events_in,
                events_invalid=events_invalid,
                seconds=time.monotonic() - t0,
                commit_attempts=res.attempts,
            )
        return ApplyStats(
            batch_id=batch_id,
            applied=True,
            events_in=events_in,
            events_invalid=events_invalid,
            events_fenced=events_in - events_invalid - kept,
            upserts=upserts,
            deletes=deletes,
            buckets_touched=len(touched),
            rows_after=res.snapshot["total_rows"],
            seconds=time.monotonic() - t0,
            mode="mor" if use_mor else "cow",
            t_stats=round(t_stats, 3),
            t_write=round(t_plan + res.t_write, 3),
            t_checksum=round(res.t_checksum, 3),
            commit_attempts=res.attempts,
        )

    def _trim_batches(self, old: "list[str]", batch_id: str) -> "list[str]":
        """Append ``batch_id`` in COMMIT order and cap the retained ids
        at ``idempotency_window`` (Delta Lake's txn-window model). The
        id set would otherwise grow unboundedly — re-serialized into
        every snapshot, ~300 KB after 10^4 commits and climbing for the
        table's whole life. Dropping ids older than the window is safe
        for seq-keyed ingest: their first apply raised the bucket
        watermarks past every event they carried, so a redelivery from
        beyond the window is fully fenced into a bookkeeping no-op
        rather than a double-apply (tests pin this). Callers with
        arbitrary non-seq batch ids that need a longer memory raise
        ``idempotency_window``."""
        kept = [b for b in old if b != batch_id]
        kept.append(batch_id)
        return kept[-self.idempotency_window:]

    @staticmethod
    def _register_schema(schemas: dict, schema: StructType) -> int:
        """Id of ``schema`` in a snapshot's schema log (``schemas``,
        mutated): the id of an identical schema, else the next free id."""
        js = schema.jsonValue()
        sv = next((int(k) for k, v in schemas.items() if v == js), None)
        if sv is None:
            sv = max((int(k) for k in schemas), default=0) + 1
            schemas[str(sv)] = js
        return sv

    def _commit(
        self,
        spark: SparkSession,
        head: dict | None,
        ref: str | None,
        commit_id: str | None = None,
        df: DataFrame | None = None,
        schema: StructType | None = None,
        touched: Sequence[int] | None = (),
        delta: bool = False,
        cluster: dict | None = None,
        write_opts: dict | None = None,
        shuffle_partitions: int | None = None,
        check: "Callable[[dict], None] | None" = None,
        fields: "Callable[[dict | None], dict] | None" = None,
        crash_after_data: bool = False,
    ) -> _Committed:
        """The ONE commit pipeline: every snapshot the table publishes
        (apply, bookkeeping no-op, compact, rebucket, DML) is committed
        here on top of write head ``head`` of ``ref`` (None = main).

        1. ``df`` is written as ``schema`` (plus the op column for a
           ``delta``) to an attempt-unique data dir, with
           ``spark.sql.shuffle.partitions`` at ``shuffle_partitions``;
        2. each bucket's rows + checksum are read back, so the manifest
           certifies the bytes on storage;
        3. ``check(bucket_stats)`` — the caller's certification — may
           raise;
        4. manifest stats and sidecars are assembled;
        5. the snapshot is published with bounded validate-then-retry
           (Iceberg's commit protocol). After a lost CAS the head is
           re-read: if it already holds ``commit_id`` a twin writer
           committed it (``applied=False``); a layout change, a base
           that is no longer an ancestor, or a changed ``_bucket_sig``
           on a rewritten bucket raises :class:`CommitConflict`; else
           the metadata is re-assembled on the new head (no Spark job).

        ``touched``: the rewritten buckets — each gets a fresh base
        entry (carrying ``cluster``), or a delta group appended for a
        ``delta``. ``None`` rewrites the whole table (rebucket): the
        bucket map is rebuilt from the written buckets, and every bucket
        must be unchanged to rebase. ``fields(head)``: extra snapshot
        fields computed against the head an attempt commits onto. The
        attempt dir is removed when the commit ends without publishing
        it; any other exception leaves it to ``vacuum_orphans``."""
        what = f"commit {commit_id!r}" if commit_id is not None else "maintenance commit"
        bucket_stats: dict[int, tuple[int, str]] = {}
        files_by_bucket: dict[int, list[str]] = {}
        out_dir: str | None = None
        t_write = t_checksum = 0.0
        if df is not None:
            written = (
                StructType([*schema.fields, StructField(self.op_col, StringType())])
                if delta
                else schema
            )
            rel_out, out_dir = self._new_data_dir(self._next_version())
            t_phase = time.monotonic()
            shuffle_before = spark.conf.get("spark.sql.shuffle.partitions")
            try:
                if shuffle_partitions:
                    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
                self._write_bucketed(spark, df, out_dir, **(write_opts or {}))
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", shuffle_before)
            t_write = time.monotonic() - t_phase
            if crash_after_data:
                raise CommitAborted(
                    f"{what}: data files written to {out_dir}, snapshot NOT published"
                )
            t_phase = time.monotonic()
            bucket_stats, value_sets = self._readback_bucket_stats(spark, out_dir, written)
            t_checksum = time.monotonic() - t_phase
            if check is not None:
                check(bucket_stats)
            # blooms ride BASE entries only: _prune_base_files never
            # prunes delta files, so a delta skips the bloom job —
            # compaction regenerates blooms when deltas fold into a base
            files_by_bucket = self._assemble_manifest_stats(
                spark, out_dir, rel_out, written, bucket_stats, value_sets,
                with_blooms=not delta, extra_cols=cluster["by"] if cluster else None,
            )

        def _validate(at: dict | None) -> None:
            if at is None:
                if head is None:
                    return  # nothing landed on this ref: just re-version
                raise CommitConflict(
                    f"{what}: commit conflicted but no head is visible — "
                    "ledger inconsistency"
                )
            want = head or {"num_buckets": self.num_buckets,
                             "key_cols": self.key_cols, "seq_col": self.seq_col}
            if any(at.get(k) != want.get(k) for k in ("num_buckets", "key_cols", "seq_col")):
                raise CommitConflict(
                    f"{what}: a concurrent layout change (rebucket / key "
                    "change) landed — cannot rebase"
                )
            # the base this commit was computed against must be an
            # ancestor of the new head (a concurrent rollback is not)
            if head and head["version"] not in self._lineage(at["version"]):
                raise CommitConflict(
                    f"{what}: base v{head['version']} is no longer an "
                    f"ancestor of head v{at['version']} — cannot rebase"
                )
            # every intervening commit must have left our buckets alone:
            # the written files embed the rewrite of the BASE state
            base = (head or {}).get("buckets", {})
            for b in touched if touched is not None else {*base, *at["buckets"]}:
                if _bucket_sig(at["buckets"].get(str(b), {})) != _bucket_sig(
                    base.get(str(b), {})
                ):
                    raise CommitConflict(
                        f"{what}: a concurrent commit rewrote bucket {b} — "
                        "overlapping writers must serialize"
                    )

        def _assemble(at: dict | None) -> dict:
            # ``dml`` describes only the commit that set it: never inherited
            snapshot = (
                {k: v for k, v in at.items() if k != "dml"}
                if at
                else {"watermarks": {}, "applied_batches": []}
            )
            schemas = dict(at["schemas"]) if at else {}
            head_sv = files_sv = int((at or {}).get("schema_version") or 0)
            if schema is not None:
                # the files carry ``schema`` whatever the head; the head
                # READ schema becomes the merge of the head's and ours (an
                # intervening commit may have evolved other buckets)
                files_sv = self._register_schema(schemas, schema)
                head_sv = self._register_schema(
                    schemas,
                    merge_schemas(StructType.fromJson(schemas[str(head_sv)]), schema)
                    if head_sv
                    else schema,
                )
            buckets = dict(at["buckets"]) if at and touched is not None else {}
            for b in bucket_stats if touched is None else touched:
                rows, checksum = bucket_stats.get(b, (0, "0"))
                group = {
                    "files": sorted(files_by_bucket.get(b, [])),
                    "schema_version": files_sv,
                    "rows": rows,
                    "checksum": checksum,
                }
                if delta:
                    # append a delta group; the base entry stays verbatim
                    # (a bucket first written as a delta gets an empty base)
                    old = buckets.get(str(b)) or {
                        **group, "files": [], "rows": 0, "checksum": "0"
                    }
                    group = {**old, "deltas": [*old.get("deltas", []), group]}
                elif cluster:
                    group["cluster"] = dict(cluster)
                buckets[str(b)] = group
            snapshot.update(
                version=self._next_version(),
                parent=at["version"] if at else None,
                schema_version=head_sv,
                schemas=schemas,
                buckets=buckets,
                num_buckets=self.num_buckets,
                key_cols=self.key_cols,
                seq_col=self.seq_col,
                # file-row total: equals the state row count for a
                # delta-free snapshot; with deltas pending it upper-bounds
                # the state (updates/tombstones collapse at read/compact)
                total_rows=sum(_file_rows(m) for m in buckets.values()),
                committed_at=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
                **(fields(at) if fields else {}),
            )
            if commit_id is not None:
                snapshot["applied_batches"] = self._trim_batches(
                    snapshot["applied_batches"], commit_id
                )
            return snapshot

        def _drop_attempt() -> None:
            if out_dir is not None:
                shutil.rmtree(out_dir, ignore_errors=True)

        at, last_err = head, None
        for attempt in range(self.COMMIT_MAX_ATTEMPTS):
            if attempt:
                at = self._head(ref)
                if at is not None and commit_id in at["applied_batches"]:
                    # a twin writer (double-started job) committed this
                    # very id while we raced — exactly-once holds
                    _drop_attempt()
                    return _Committed(False, at, attempt + 1, t_write, t_checksum)
                try:
                    _validate(at)
                except CommitConflict:
                    _drop_attempt()
                    raise
            snapshot = _assemble(at)
            try:
                self._publish(snapshot, ref=ref)
            except CommitConflict as err:
                last_err = err
                continue
            return _Committed(True, snapshot, attempt + 1, t_write, t_checksum)
        _drop_attempt()
        raise CommitConflict(
            f"{what}: lost the commit race {self.COMMIT_MAX_ATTEMPTS} times in a row"
        ) from last_err

    # ------------------------------------------------------------ utility

    def verify_bucket_checksums(self, spark: SparkSession) -> list[int]:
        """Read-back audit: recompute each bucket's row count and
        order-independent checksum from the files on disk and compare to
        the snapshot manifest. Returns the list of mismatching buckets
        (empty = table verified) — the sha256-after-serialize contract
        (sinks/s3.py:106-133) as an on-demand integrity scan.

        Each manifest entry certifies the bytes of its own file group
        UNDER THE SCHEMA IT WAS WRITTEN WITH: every group is hashed with
        its stored schema version's canonical JSON, mirroring the
        write-time computation exactly. Recomputing under the CURRENT
        schema would false-flag healthy buckets not rewritten since a
        float-involved type widening (int 5 renders "5" before an
        int→double widen but "5.0" through the evolved read; float→
        double extends the mantissa repr) — the same reason compact()
        only compares checksums for groups already at the current
        version. One tagged union + one aggregate job covers all base
        and delta groups regardless of how many schema versions exist."""
        snap = self.current_snapshot()
        if snap is None or not snap["buckets"]:
            return []
        dec = "decimal(38,0)"
        parts: list[DataFrame] = []
        expected: dict[str, tuple[int, str]] = {}
        # base groups, bucketed by their written schema version; rows are
        # tagged with the RECOMPUTED bucket id so a row sitting in the
        # wrong bucket's file still surfaces as a mismatch on both sides
        by_sv: dict[int, list[str]] = {}
        for b, meta in snap["buckets"].items():
            if not meta["rows"]:
                continue
            expected[f"b:{int(b)}"] = (int(meta["rows"]), str(meta["checksum"]))
            by_sv.setdefault(int(meta["schema_version"]), []).extend(
                os.path.join(self.path, f) for f in meta["files"]
            )
        for sv, files in sorted(by_sv.items()):
            if not files:
                continue
            schema_sv = _schema_of(snap, sv)
            canonical = F.to_json(F.struct(*sorted(schema_sv.fieldNames())))
            parts.append(
                spark.read.schema(schema_sv)
                .parquet(*files)
                .select(
                    F.concat(
                        F.lit("b:"), self._bucket_expr().cast("string")
                    ).alias("_tag"),
                    F.xxhash64(canonical).cast(dec).alias("_h"),
                )
            )
        for b, meta in snap["buckets"].items():
            for i, d in enumerate(meta.get("deltas", [])):
                if not d["files"]:
                    continue
                did = f"d:{int(b)}:{i}"
                expected[did] = (int(d["rows"]), str(d["checksum"]))
                dschema = self._delta_schema(snap, int(d["schema_version"]))
                dcanon = F.to_json(F.struct(*sorted(dschema.fieldNames())))
                parts.append(
                    spark.read.schema(dschema)
                    .parquet(*[os.path.join(self.path, f) for f in d["files"]])
                    .select(
                        F.lit(did).alias("_tag"),
                        F.xxhash64(dcanon).cast(dec).alias("_h"),
                    )
                )
        actual: dict[str, tuple[int, str]] = {}
        if parts:
            actual = {
                str(r["_tag"]): (int(r["rows"]), str(r["checksum"]))
                for r in reduce(DataFrame.unionByName, parts).groupBy("_tag")
                .agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.coalesce(F.sum("_h"), F.lit(0).cast(dec)).alias("checksum"),
                )
                .collect()
            }
        bad = []
        for tag, want in expected.items():
            if actual.get(tag, (0, "0")) != want:
                bad.append(int(tag.split(":")[1]))
        return sorted(set(bad))

    def incremental_read(
        self, spark: SparkSession, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Rows of every bucket that changed between two snapshots — the
        engine's CDC-read primitive (Iceberg incremental scan at bucket
        granularity). Changed = file list or checksum differs; returns
        the changed buckets' state AT ``to_version`` (default current)."""
        to_snap = (
            self.snapshot_at(to_version) if to_version is not None else self.current_snapshot()
        )
        from_snap = self.snapshot_at(from_version)
        if to_snap is None or from_snap is None:
            raise ValueError("both snapshot versions must be retained")
        changed = self._changed_buckets(from_snap, to_snap)
        return self.read(spark, buckets=changed, version=to_snap["version"])

    def read_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
        include_preimages: bool = False,
    ) -> DataFrame:
        """Change-data-feed between two snapshots: one row per key whose
        stored row differs, tagged ``_change_type`` in ``insert`` /
        ``delete`` / ``update_postimage`` (Iceberg changelog scan /
        Delta CDF shape). ``insert``/``update`` rows carry the state at
        ``to_version`` (post-image), ``delete`` rows the last state the
        key had at ``from_version``. A re-upsert that only advances
        ``seq_col`` counts as an update — the stored row changed.
        ``include_preimages=True`` additionally emits an
        ``update_preimage`` row (the old payload) for every update —
        the full Delta-CDF contract, required by consumers that retract
        old contributions (incremental aggregate maintenance,
        ``lake/derived.py``).

        Scale shape: the manifest prunes the diff to buckets whose file
        list or content checksum differs between the two snapshots, and
        when both snapshots share a bucket layout the two sides are
        bucketed scans — pending merge-on-read deltas resolve inside
        each bucket (``_state_scan``) — so the key-equi FULL OUTER join
        is storage-partitioned: neither snapshot's rows shuffle
        (tests/test_lake.py::test_read_changes_is_shuffle_free,
        test_mor_reads_are_shuffle_free). Only buckets whose files need
        a non-native cast, and a diff across a ``rebucket`` boundary
        (layouts incomparable), fall back to a shuffled join. Like a
        ``read`` frame,
        the result reads the snapshots' own files, so it stays valid
        until ``vacuum_orphans`` reclaims them.
        """
        to_snap = (
            self.snapshot_at(to_version) if to_version is not None else self.current_snapshot()
        )
        from_snap = self.snapshot_at(from_version)
        if to_snap is None or from_snap is None:
            raise ValueError("both snapshot versions must be retained")
        out_schema = _schema_of(to_snap) or _schema_of(from_snap)
        if out_schema is None:  # both snapshots empty bootstrap states
            return spark.createDataFrame(
                [], StructType([])
            ).withColumn("_change_type", F.lit(""))

        changed = self._changed_buckets(from_snap, to_snap)
        old_side, new_side = (
            self._bucket_state(spark, snap, changed, out_schema)
            or spark.createDataFrame([], out_schema)
            for snap in (from_snap, to_snap)
        )

        payload = [f.name for f in out_schema.fields if f.name not in self.key_cols]
        o = old_side.select(
            *self.key_cols, *[F.col(c).alias(f"__old__{c}") for c in payload]
        ).withColumn("_in_old", F.lit(True))
        n = new_side.withColumn("_in_new", F.lit(True))
        in_old = F.coalesce(F.col("_in_old"), F.lit(False))
        in_new = F.coalesce(F.col("_in_new"), F.lit(False))
        # order-canonical content hashes: field names aliased identically
        # on both sides so to_json() compares payloads, not column names
        new_hash = F.xxhash64(F.to_json(F.struct(*[F.col(c) for c in sorted(payload)])))
        old_hash = F.xxhash64(
            F.to_json(F.struct(*[F.col(f"__old__{c}").alias(c) for c in sorted(payload)]))
        )
        change = (
            F.when(~in_old, F.lit("insert"))
            .when(~in_new, F.lit("delete"))
            .when(new_hash != old_hash, F.lit("update_postimage"))
        )
        joined = (
            n.join(o, on=list(self.key_cols), how="full_outer")
            .withColumn("_change_type", change)
            .where(F.col("_change_type").isNotNull())
        )
        if include_preimages:
            # update rows fan out to preimage+postimage pairs in-place
            # (a Generate node, no extra exchange or second scan)
            joined = joined.withColumn(
                "_change_type",
                F.explode(
                    F.when(
                        F.col("_change_type") == "update_postimage",
                        F.array(F.lit("update_preimage"), F.lit("update_postimage")),
                    ).otherwise(F.array(F.col("_change_type")))
                ),
            )
        use_new = F.col("_change_type").isin("insert", "update_postimage")
        return joined.select(
            *self.key_cols,
            *[
                F.when(use_new, F.col(c)).otherwise(F.col(f"__old__{c}")).alias(c)
                for c in payload
            ],
            "_change_type",
        )

    def rebucket(self, spark: SparkSession, new_num_buckets: int) -> int:
        """Bucket-layout evolution: rewrite the table into a different
        bucket count and commit it as a snapshot (Iceberg partition-spec
        evolution for the ``bucket(N, key)`` transform). The ONE rare
        operation that shuffles the whole table — a table sized for 16
        buckets at bootstrap needs hundreds once it holds 100 TB, and
        every merge/fence/write keys on the bucket function, so growth
        has to be an explicit committed rewrite, not a constructor arg
        change (reopened tables adopt the committed layout; see
        ``__init__``).

        Watermark carry: every new bucket's high-watermark becomes the
        MAX over the old per-bucket watermarks. The replay driver feeds
        global seq-range batches, so when the batch ending at seq B has
        committed, every stream event with seq <= B is applied — per-
        bucket watermarks only lag B because a bucket records the max
        seq it has SEEN, and events it never saw don't exist below B.
        Raising each fence to the global max therefore only fences
        redeliveries. Any rule that LOWERS a fence (min-carry, or
        recomputing from surviving row seqs) re-admits superseded
        updates whose delete already applied and resurrects deleted
        keys (tests/test_lake.py::test_rebucket_blocks_resurrection).

        Crash-safe like every commit (``_commit``): data files land in a
        fresh version directory first, the snapshot publish is atomic,
        and a kill in between leaves orphans that ``vacuum_orphans``
        reclaims. It rewrites every bucket, so a concurrent commit makes
        it lose with ``CommitConflict`` unless that commit was
        bookkeeping-only. Returns the committed snapshot version. Older
        snapshots keep reading through their own manifests (time travel
        across the layout change).
        """
        if new_num_buckets < 1:
            raise ValueError("new_num_buckets must be >= 1")
        snap = self.current_snapshot()
        if snap is None:
            # nothing committed yet — the arg simply seeds the layout
            self.num_buckets = new_num_buckets
            return 0
        if int(snap["num_buckets"]) == new_num_buckets:
            return snap["version"]
        schema = self.current_schema()
        data: dict = {}  # no data yet (bookkeeping no-ops): commit the layout
        if schema is not None and snap["buckets"]:
            current = self.read(spark)  # aligned to the current schema, deltas merged
            has_deltas = any(m.get("deltas") for m in snap["buckets"].values())
            # with deltas pending, total_rows is a file-row bound, not the
            # state count — establish the true expectation before the rewrite
            expected_rows = current.count() if has_deltas else int(snap["total_rows"])

            def _no_row_drift(bucket_stats: dict) -> None:
                total = sum(rows for rows, _c in bucket_stats.values())
                if total != expected_rows:
                    raise RuntimeError(
                        f"rebucket row-count drift: {total} != {expected_rows}"
                    )

            def _carry_fence(head: dict) -> dict:
                wm_max = max((int(v) for v in head["watermarks"].values()), default=-1)
                # EVERY new bucket gets the fence, including empty ones —
                # an empty bucket left at -1 would admit redelivered updates
                # for keys whose delete already applied (resurrection)
                return {"watermarks": {str(b): wm_max for b in range(new_num_buckets)}}

            data = dict(
                df=current, schema=schema, shuffle_partitions=new_num_buckets,
                check=_no_row_drift, fields=_carry_fence,
            )
        old_num, self.num_buckets = self.num_buckets, new_num_buckets
        try:
            res = self._commit(spark, snap, None, touched=None, **data)
        except BaseException:
            # the committed layout is still the OLD one: a caller that
            # catches (drift, ENOSPC on sidecars, CommitConflict) and
            # keeps the handle must not bucket future batches with the
            # NEW count over OLD-layout metadata — that would be silent
            # fencing/merge corruption. Only after the commit lands may
            # the handle keep the new count.
            self.num_buckets = old_num
            raise
        return res.snapshot["version"]

    def _validate_cluster(
        self, snap: dict, cols: list[str], strategy: str
    ) -> dict:
        """Validated cluster spec dict as recorded in bucket manifest
        entries; raises on unknown columns or a zorder request over
        non-numeric columns (quantile codes need an order-preserving
        cast to double)."""
        if strategy not in ("sort", "zorder"):
            raise ValueError(
                f"cluster_strategy must be 'sort' or 'zorder': {strategy!r}"
            )
        if not cols:
            raise ValueError("cluster_by must name at least one column")
        fields = {f.name: f.dataType for f in _schema_of(snap).fields}
        missing = [c for c in cols if c not in fields]
        if missing:
            raise ValueError(f"cluster_by columns not in schema: {missing}")
        if strategy == "zorder":
            bad = [c for c in cols if not zorder_supported(fields[c])]
            if bad:
                raise ValueError(
                    "zorder needs numeric/date/timestamp columns "
                    f"(use cluster_strategy='sort' for): {bad}"
                )
            from mex_extractors_spark.lake.cluster import ZORDER_BITS

            if ZORDER_BITS * len(cols) > 64:
                raise ValueError(
                    f"zorder Morton value exceeds 64 bits with "
                    f"{len(cols)} columns at {ZORDER_BITS} bits each — "
                    "cluster on fewer columns"
                )
        return {"by": list(cols), "strategy": strategy}

    def _cluster_target_rows(self, snap: dict, candidates: list[int]) -> int:
        """Default rows-per-file for a clustered rewrite: the candidate
        buckets' mean row count split into ``CLUSTER_FILES_PER_BUCKET``
        files (manifest arithmetic only — no job)."""
        total = sum(_file_rows(snap["buckets"][str(b)]) for b in candidates)
        per_bucket = total / max(len(candidates), 1)
        return max(int(per_bucket // CLUSTER_FILES_PER_BUCKET), 1)

    def compact(
        self,
        spark: SparkSession,
        buckets: Sequence[int] | None = None,
        min_files: int = 2,
        cluster_by: Sequence[str] | None = None,
        cluster_strategy: str = "sort",
        target_file_rows: int | None = None,
    ) -> int:
        """Table maintenance (Iceberg ``rewrite_data_files`` / Delta
        OPTIMIZE / Paimon full-compaction analog): fold each candidate
        bucket's pending merge-on-read deltas into a fresh single-file
        base, rewrite multi-file or stale-schema bases, and commit the
        result as a new snapshot. After compaction the bucket reads as
        a pure file scan again (no per-read LWW merge), which is what
        keeps "mor" write mode's O(batch) appends sustainable — the
        LSM contract is append-fast / compact-periodically.

        Candidates: buckets carrying deltas, buckets with >=
        ``min_files`` base files, and buckets whose base is on an older
        schema version (compaction doubles as schema-version
        consolidation). ``buckets`` narrows the candidate set so
        maintenance can be spread over time.

        Verification: a bucket rewritten WITHOUT pending deltas must be
        content-identical, so its fresh read-back stats are checked
        against the manifest and any drift aborts before publish; a
        delta-folding rewrite produces new state by design, so its
        read-back stats become the new manifest entries (still
        certifying the bytes on storage).

        Scale shape: reads ONLY the candidate buckets, aligned to the
        layout by one ``repartition(num_buckets, *keys)`` — the same
        murmur3-pmod as the bucket layout, so reduce partition i holds
        exactly bucket i and the bucketed write emits one file per
        bucket with no further exchange. Spark drops that repartition
        when the read is already a bucketed scan, as a delta fold of
        several buckets is (``_state_scan``): no row moves. Untouched
        buckets keep their manifest entries verbatim. Watermarks, applied-batch ids,
        and the schema log are unchanged; older snapshots keep reading
        their own files (time travel), which ``expire_snapshots`` +
        ``vacuum_orphans`` later reclaim. Crash-safe: files land in a
        fresh version directory before the atomic snapshot publish.
        Concurrent-safe: a commit that lands meanwhile on other buckets
        is rebased over; one that rewrote a candidate bucket makes the
        compaction lose with ``CommitConflict`` (see ``_commit``).
        Returns the committed version (current version if no candidate).

        Clustering (Iceberg sort-order rewrite / Delta OPTIMIZE ZORDER
        analog): ``cluster_by=[cols]`` rewrites each candidate bucket
        as MULTIPLE files, each covering a narrow range of the cluster
        order — ``cluster_strategy="sort"`` (lexicographic, any
        orderable type) or ``"zorder"`` (Morton-interleaved quantile
        codes, numeric/date/timestamp, prunes on every clustered
        column). Files roll at ``target_file_rows`` rows (default:
        ~`CLUSTER_FILES_PER_BUCKET` files per bucket). Cluster-column
        footer bounds are always recorded in the file-stats sidecars,
        so ``read(where=...)`` prunes inside buckets immediately. The
        spec is recorded per bucket entry: re-running with the same
        spec is a no-op (idempotent maintenance), a PLAIN compact
        leaves clustered multi-file bases alone unless they carry
        deltas or a stale schema (and drops the spec when it does
        rewrite — pass the spec to keep clustering through folds). A
        z-ordered rewrite stores its Morton value as a physical
        ``_mex_zv`` column; every read path loads files with an
        explicit logical schema, so the extra column is invisible.
        Clustered files are NOT key-sorted: the merge's bucketed scan
        declares the key sort only for unclustered buckets (see
        ``_state_scan``) — the apply-side sort-merge join re-sorts,
        which is the standard cost of clustering.
        """
        snap = self.current_snapshot()
        if snap is None or not snap["buckets"] or not snap.get("schema_version"):
            return snap["version"] if snap else 0
        current_sv = int(snap["schema_version"])
        cluster_spec = (
            self._validate_cluster(snap, list(cluster_by), cluster_strategy)
            if cluster_by
            else None
        )
        wanted = set(int(b) for b in buckets) if buckets is not None else None

        def _needs_rewrite(meta: dict) -> bool:
            if meta.get("deltas"):
                return True
            if int(meta["schema_version"]) != current_sv:
                return True
            if cluster_spec is not None:
                return meta.get("cluster") != cluster_spec
            # plain compaction folds multi-file bases, but a clustered
            # bucket is multi-file BY DESIGN — leave it alone
            return not meta.get("cluster") and len(meta["files"]) >= min_files

        candidates = sorted(
            int(b)
            for b, meta in snap["buckets"].items()
            if (meta["files"] or meta.get("deltas"))
            and (wanted is None or int(b) in wanted)
            and _needs_rewrite(meta)
        )
        if not candidates:
            return snap["version"]
        schema = _schema_of(snap)
        rows_df = self.read(spark, buckets=candidates)
        sort_cols: list[str] | None = None
        max_rpf: int | None = None
        if cluster_spec is not None:
            max_rpf = target_file_rows or self._cluster_target_rows(
                snap, candidates
            )
            if cluster_spec["strategy"] == "zorder":
                # one percentile_approx aggregate over the candidate
                # rows (partial-merge sketch, no shuffle of the data)
                cuts = column_cutpoints(rows_df, cluster_spec["by"])
                rows_df = rows_df.withColumn(
                    ZVALUE_COL,
                    zvalue_expr(
                        cluster_spec["by"], cuts, schema=rows_df.schema
                    ),
                )
                sort_cols = [ZVALUE_COL]
            else:
                sort_cols = list(cluster_spec["by"])

        def _no_content_drift(new_stats: dict) -> None:
            # verification read-back: a rewrite without pending deltas
            # must be content-identical, so its fresh per-bucket stats
            # must EQUAL the manifest's
            drift = []
            for b in candidates:
                meta = snap["buckets"][str(b)]
                if meta.get("deltas"):
                    continue  # delta fold: new state by design, stats are fresh
                got = new_stats.get(b, (0, "0"))
                want_rows, want_ck = int(meta["rows"]), str(meta["checksum"])
                # a bucket whose files were all written at an older schema
                # version changes canonical bytes when new nullable
                # columns appear — rows must still match; checksum
                # re-certifies only on an unchanged schema version
                if got[0] != want_rows or (
                    int(meta["schema_version"]) == current_sv and got[1] != want_ck
                ):
                    drift.append((b, (want_rows, want_ck), got))
            if drift:
                raise RuntimeError(f"compaction content drift: {drift}")

        res = self._commit(
            spark,
            snap,
            None,
            df=rows_df.repartition(self.num_buckets, *self.key_cols),
            schema=schema,
            touched=candidates,
            cluster=cluster_spec,
            write_opts={"sort_cols": sort_cols, "max_records_per_file": max_rpf},
            check=_no_content_drift,
        )
        return res.snapshot["version"]

    # ---------------------------------------------------------- row DML

    def delete_where(
        self,
        spark: SparkSession,
        where: Sequence[tuple],
        commit_id: str,
        branch: str | None = None,
    ) -> DmlStats:
        """Row-level DELETE by predicate (Iceberg/Delta ``DELETE FROM …
        WHERE`` — the compliance-purge shape the CDC feed cannot
        express, e.g. "drop every row of a revoked repo" regardless of
        key or sequence). ``where`` is the same conjunctive
        ``(col, op, value)`` list as ``read(where=…)``.

        Scale shape (copy-on-write, maintenance-grade): manifest stats
        prune the candidate buckets first (a file provably excluded by
        the predicate never plans a scan), then ONE pruned+filtered
        aggregate counts matches per bucket (≤ ``num_buckets`` rows to
        the driver), and only buckets with >0 matches are rewritten —
        untouched buckets keep their manifest entries (and files)
        verbatim. Pending MoR deltas in a rewritten bucket fold in, same
        as ``compact``. Idempotent via ``commit_id`` against the same
        applied-batch window as ingest; a zero-match predicate still
        commits a bookkeeping snapshot so the commit_id is recorded.
        Older snapshots keep reading the pre-delete files (time travel
        is why DELETE alone is not yet a physical purge — follow with
        ``expire_snapshots`` to reclaim them, the GDPR two-step).

        ``branch`` stages the commit on a named branch, exactly like
        ``apply_batch(branch=)`` — that is how a
        :class:`~mex_extractors_spark.lake.catalog.LakeTransaction`
        purges a key from several tables atomically.
        """
        return self._dml_rewrite(
            spark, where, commit_id, set_exprs=None, branch=branch
        )

    def update_where(
        self,
        spark: SparkSession,
        set_exprs: "dict[str, Column]",
        where: Sequence[tuple],
        commit_id: str,
        branch: str | None = None,
    ) -> DmlStats:
        """Row-level UPDATE by predicate (Iceberg/Delta ``UPDATE … SET …
        WHERE`` — in-place correction/redaction of converged state).
        ``set_exprs`` maps payload columns to replacement expressions
        (evaluated against the row; cast to the column's table type so
        the schema cannot drift). Key and sequence columns are
        immutable — changing a key is a delete+insert, which belongs to
        the CDC feed where it carries a sequence number. Same pruning,
        idempotency, branch-staging, and snapshot semantics as
        :meth:`delete_where`.
        """
        return self._dml_rewrite(
            spark, where, commit_id, set_exprs=dict(set_exprs), branch=branch
        )

    def _validate_set_exprs(
        self, schema: StructType, set_exprs: "dict[str, Column]"
    ) -> None:
        immutable = {*self.key_cols, self.seq_col}
        if bad := set(set_exprs) & immutable:
            raise ValueError(f"key/seq columns are immutable: {sorted(bad)}")
        if unknown := set(set_exprs) - set(schema.fieldNames()):
            raise ValueError(f"unknown columns in SET: {sorted(unknown)}")

    def _dml_rewrite(
        self,
        spark: SparkSession,
        where: Sequence[tuple],
        commit_id: str,
        set_exprs: "dict[str, Column] | None",
        branch: str | None = None,
    ) -> DmlStats:
        preds = validate_predicates(where)
        if not preds:
            raise ValueError("DML needs at least one (col, op, value) predicate")
        snap = self._head(branch)
        if snap is None or not snap.get("schema_version"):
            return DmlStats(commit_id=commit_id, applied=False, version=0)
        if commit_id in snap["applied_batches"]:
            return DmlStats(
                commit_id=commit_id, applied=False, version=snap["version"]
            )
        schema = _schema_of(snap)
        # WHERE columns must exist in the CURRENT schema, else a typo'd
        # column prunes every file and "succeeds" as a zero-match commit
        # — a compliance purge that checked nothing
        if unknown := {c for c, _op, _v in preds} - set(schema.fieldNames()):
            raise ValueError(f"unknown columns in WHERE: {sorted(unknown)}")
        if set_exprs is not None:
            self._validate_set_exprs(schema, set_exprs)
        # --- candidates: buckets the predicate cannot be proven absent
        #     from (stats pruning); a bucket with pending deltas is
        #     always a candidate (deltas are never pruned — see read())
        skip = self._prune_base_files(snap, None, preds)
        candidates = sorted(
            int(b)
            for b, meta in snap["buckets"].items()
            if meta.get("deltas")
            or any(
                os.path.join(self.path, rel) not in skip for rel in meta["files"]
            )
        )
        where_expr = self._where_expr(preds)
        touched: list[int] = []
        matched = 0
        if candidates:
            counts = (
                self.read(
                    spark,
                    buckets=candidates,
                    where=preds,
                    version=snap["version"],
                )
                .groupBy(self._bucket_expr().alias("_b"))
                .count()
                .collect()
            )
            touched = sorted(int(r["_b"]) for r in counts if r["count"] > 0)
            matched = sum(int(r["count"]) for r in counts)
        if not touched:
            res = self._commit(spark, snap, branch, commit_id)
            return DmlStats(
                commit_id=commit_id,
                applied=res.applied,
                version=res.snapshot["version"],
            )
        rows = self.read(spark, buckets=touched, version=snap["version"])
        # SQL three-valued logic: a NULL predicate matches nothing —
        # neither the delete's keep-filter (coalesce, or ~NULL would
        # silently DROP the row) nor the update's when() (NULL falls to
        # otherwise already). Matches read(where=...)'s residual filter,
        # so matched-counting and rewriting agree on every row.
        matches = F.coalesce(where_expr, F.lit(False))
        if set_exprs is None:
            new_rows = rows.where(~matches)
        else:
            # ONE select computing every SET column from the PRE-IMAGE:
            # sequential withColumn would re-resolve the predicate (and
            # later SET expressions) against partially-updated rows —
            # SQL UPDATE evaluates all RHS against the old row
            new_rows = rows.select(
                *[
                    F.when(
                        matches, set_exprs[f.name].cast(f.dataType)
                    ).otherwise(F.col(f.name)).alias(f.name)
                    if f.name in set_exprs
                    else F.col(f.name)
                    for f in schema.fields
                ]
            )
        dml = {
            "op": "delete" if set_exprs is None else "update",
            "where": [list(p) for p in preds],
            "matched": matched,
            "buckets": touched,
        }
        res = self._commit(
            spark,
            snap,
            branch,
            commit_id,
            df=new_rows.repartition(self.num_buckets, *self.key_cols),
            schema=schema,
            touched=touched,
            fields=lambda _head: {"dml": dml},
        )
        return DmlStats(
            commit_id=commit_id,
            applied=res.applied,
            matched=matched,
            buckets_rewritten=len(touched),
            version=res.snapshot["version"],
        )

    def merge_into(
        self,
        spark: SparkSession,
        source_df: DataFrame,
        commit_id: str,
        *,
        when_matched_update: "dict[str, Column] | None" = None,
        matched_condition: "Column | None" = None,
        when_matched_delete: "Column | None" = None,
        when_not_matched_insert: "bool | Column" = True,
        allow_extra_source_columns: bool = False,
        branch: str | None = None,
    ) -> DmlStats:
        """General MERGE INTO over the converged state (Iceberg/Delta
        ``MERGE INTO t USING s ON t.key = s.key WHEN MATCHED … WHEN NOT
        MATCHED …``) — the batch-reconciliation shape (dimension
        refresh, backfill, dedup-load) that is neither a seq-ordered CDC
        apply (``apply_batch``) nor a predicate DML
        (``delete_where``/``update_where``).

        ``source_df`` must carry the key columns; its keys must be
        UNIQUE (ambiguous merges raise, the Delta "multiple source rows
        matched" rule). Rows with a NULL key column are dropped and
        counted (``DmlStats.source_invalid`` + ``dml`` provenance) —
        they can never match a key-equality join and an unguarded
        insert clause would otherwise write them into state as
        unreachable rows; this mirrors ``apply_batch``'s
        ``events_invalid`` contract. Clause expressions reference the join through
        the standard aliases ``t`` (target state) and ``s`` (source):

        - ``when_matched_delete``: boolean Column; matched rows where it
          is true are deleted (evaluated first, as in SQL MERGE).
        - ``when_matched_update``: {col: Column} SET map, optionally
          guarded by ``matched_condition``; values are cast to the
          table column's type; key and sequence columns are immutable.
        - ``when_not_matched_insert``: True / False / boolean Column;
          inserted rows take the source's columns BY NAME (missing
          table columns become typed nulls; the sequence column must be
          present — it decides how the row ranks against future CDC
          events for the same key).

        Scale shape: the source's distinct bucket ids (≤ num_buckets
        rows to the driver) pick the touched buckets; only those are
        read, merged (ONE full-outer join co-partitioned on the keys),
        and rewritten — untouched buckets keep their manifest entries
        verbatim. MoR deltas in touched buckets fold in. Idempotent via
        ``commit_id`` in the ingest batch-id window; the snapshot
        records per-clause row counts as ``dml`` provenance. DML is
        out-of-band of CDC fencing: watermarks are unchanged, so a
        merge-inserted row with a low sequence still loses to a later
        replayed event — choose the source's sequence values
        accordingly. ``branch`` stages the commit on a named branch
        (the :class:`LakeTransaction` hook), like ``apply_batch``.
        """
        snap = self._head(branch)
        if snap is None or not snap.get("schema_version"):
            raise ValueError(
                "merge_into needs an existing table schema — apply a batch first"
            )
        if commit_id in snap["applied_batches"]:
            return DmlStats(
                commit_id=commit_id, applied=False, version=snap["version"]
            )
        schema = _schema_of(snap)
        if when_matched_update:
            self._validate_set_exprs(schema, when_matched_update)
        if when_matched_update is None and matched_condition is not None:
            raise ValueError("matched_condition guards when_matched_update")
        missing_keys = set(self.key_cols) - set(source_df.columns)
        if missing_keys:
            raise ValueError(f"source lacks key columns: {sorted(missing_keys)}")
        inserts_on = when_not_matched_insert is not False
        if inserts_on and self.seq_col not in source_df.columns:
            raise ValueError(
                f"inserts need the sequence column {self.seq_col!r} in the source"
            )
        # inserts take source columns BY NAME: a source column outside
        # the table schema would otherwise silently insert NULL for its
        # (typo'd?) intended target — opt in when extra columns are
        # deliberate (e.g. referenced only by clause conditions)
        if inserts_on and not allow_extra_source_columns:
            if extra := set(source_df.columns) - set(schema.fieldNames()):
                raise ValueError(
                    f"source columns not in the table schema: {sorted(extra)} "
                    "— rename them, drop them, or pass "
                    "allow_extra_source_columns=True if they are only "
                    "referenced by clause conditions"
                )
        # --- ONE pre-pass over the source (column-pruned to the keys):
        #     key uniqueness (an ambiguous merge raises, the Delta
        #     "multiple source rows matched" rule), the touched bucket
        #     set, and the NULL-key row count come out of one aggregate.
        #     NULL-key source rows never match the full-outer join
        #     (NULL = x is never true), so an unguarded insert clause
        #     would write them into state as unreachable, unpurgeable
        #     rows — the same ingest contract apply_batch enforces
        #     (events_invalid) drops and counts them here.
        anynull = F.lit(False)
        for k in self.key_cols:
            anynull = anynull | F.col(k).isNull()
        info = (
            source_df.select(
                self._bucket_expr().alias("_b"),
                anynull.alias("_nk"),
                *[F.col(k) for k in self.key_cols],
            )
            .groupBy(*self.key_cols, "_nk")
            .agg(F.count(F.lit(1)).alias("_n"), F.first("_b").alias("_b"))
            .agg(
                F.max(F.when(~F.col("_nk"), F.col("_n"))).alias("mx"),
                F.collect_set(F.when(~F.col("_nk"), F.col("_b"))).alias("bs"),
                F.sum(
                    F.when(F.col("_nk"), F.col("_n")).otherwise(0)
                ).alias("inv"),
            )
            .first()
        )
        if info["mx"] is not None and int(info["mx"]) > 1:
            raise ValueError(
                "source has multiple rows for the same key — MERGE is ambiguous "
                "(pre-aggregate the source, e.g. lww_latest)"
            )
        source_invalid = int(info["inv"] or 0)
        if source_invalid:
            source_df = source_df.where(~anynull)
        touched = sorted(int(b) for b in (info["bs"] or []))
        if not touched:
            res = self._commit(spark, snap, branch, commit_id)
            return DmlStats(
                commit_id=commit_id,
                applied=res.applied,
                version=res.snapshot["version"],
                source_invalid=source_invalid,
            )
        tgt = (
            self.read(spark, buckets=touched, version=snap["version"])
            .withColumn("_t_ex", F.lit(True))
            .alias("t")
        )
        src = source_df.withColumn("_s_ex", F.lit(True)).alias("s")
        on = F.lit(True)
        for k in self.key_cols:
            on = on & (F.col(f"t.{k}") == F.col(f"s.{k}"))
        joined = tgt.join(src, on, "full_outer")
        t_ex = F.col("t._t_ex").isNotNull()
        s_ex = F.col("s._s_ex").isNotNull()
        matched = t_ex & s_ex
        del_cond = (
            matched & F.coalesce(when_matched_delete, F.lit(False))
            if when_matched_delete is not None
            else F.lit(False)
        )
        upd_guard = (
            F.coalesce(matched_condition, F.lit(False))
            if matched_condition is not None
            else F.lit(True)
        )
        if isinstance(when_not_matched_insert, bool):
            ins_cond = F.lit(when_not_matched_insert)
        else:
            ins_cond = F.coalesce(when_not_matched_insert, F.lit(False))
        kind = (
            F.when(del_cond, "delete")
            .when(
                matched,
                F.when(
                    upd_guard if when_matched_update else F.lit(False), "update"
                ).otherwise("hold"),  # matched, no clause fired
            )
            .when(s_ex & ins_cond, "insert")
            .when(s_ex, "skip")  # source-only, insert declined
            .otherwise("keep")  # target-only
        )
        src_cols = set(source_df.columns)
        out_cols = []
        for f in schema.fields:
            c = f.name
            t_val = F.col(f"t.{c}")
            s_val = (
                F.col(f"s.{c}").cast(f.dataType)
                if c in src_cols
                else F.lit(None).cast(f.dataType)
            )
            val = t_val
            if when_matched_update and c in when_matched_update:
                val = F.when(
                    F.col("_kind") == "update",
                    when_matched_update[c].cast(f.dataType),
                ).otherwise(t_val)
            out_cols.append(
                F.when(F.col("_kind") == "insert", s_val)
                .otherwise(val)
                .alias(c)
            )
        # clause counts ride the WRITE job as observe() metrics (the
        # CollectMetrics node sits below the keep-filter, so deleted and
        # skipped rows are still counted) — the join executes ONCE, not
        # once for provenance and once for the rewrite
        kinds = ("update", "delete", "insert", "hold", "skip")
        obs = Observation()
        merged = joined.withColumn("_kind", kind).observe(
            obs,
            *[
                F.sum(F.when(F.col("_kind") == k, 1).otherwise(0)).alias(k)
                for k in kinds
            ],
        )
        new_rows = merged.where(~F.col("_kind").isin("delete", "skip")).select(
            *out_cols
        )

        def _counts() -> dict:
            try:
                row = obs.get
                return {k: int(row[k] or 0) for k in kinds}
            except Exception:
                # Observation row can be schemaless when the observed job
                # ends empty (Spark edge case; same guard as apply_batch)
                return dict.fromkeys(kinds, 0)

        res = self._commit(
            spark,
            snap,
            branch,
            commit_id,
            df=new_rows.repartition(self.num_buckets, *self.key_cols),
            schema=schema,
            touched=touched,
            # the clause counts are observe() metrics, only available
            # after the write action
            fields=lambda _head: {
                "dml": {
                    "op": "merge",
                    "buckets": touched,
                    "updated": _counts()["update"],
                    "deleted": _counts()["delete"],
                    "inserted": _counts()["insert"],
                    "source_invalid": source_invalid,
                }
            },
        )
        counts = _counts()
        return DmlStats(
            commit_id=commit_id,
            applied=res.applied,
            matched=counts["update"] + counts["delete"] + counts["hold"],
            buckets_rewritten=len(touched),
            version=res.snapshot["version"],
            source_invalid=source_invalid,
        )

    def maintenance(
        self,
        spark: SparkSession,
        keep_snapshots: int = 3,
        min_files: int = 2,
        extra_keep: "set[int] | None" = None,
        cluster_by: Sequence[str] | None = None,
        cluster_strategy: str = "sort",
        target_file_rows: int | None = None,
    ) -> dict:
        """One-call table upkeep for a scheduled job (the Iceberg
        maintenance-procedure trio): fold pending merge-on-read deltas
        and multi-file/stale-schema bases (``compact``), expire old
        snapshot metadata keeping the last ``keep_snapshots`` of main's
        lineage plus every branch head and tag (``expire_snapshots``),
        and delete data files no retained snapshot references
        (``vacuum_orphans``, which expire already triggers — the
        explicit call also sweeps crash leftovers when nothing
        expired). ``cluster_by``/``cluster_strategy``/``target_file_rows``
        forward to :meth:`compact` so a scheduled maintenance keeps the
        table's clustering through delta folds (a plain compact would
        drop it). Returns what happened, for the metrics log."""
        before = self.current_snapshot()
        compacted_version = self.compact(
            spark,
            min_files=min_files,
            cluster_by=cluster_by,
            cluster_strategy=cluster_strategy,
            target_file_rows=target_file_rows,
        )
        expired = self.expire_snapshots(
            keep_last=keep_snapshots, extra_keep=extra_keep
        )
        orphans = self.vacuum_orphans()
        return {
            "compacted": bool(before) and compacted_version != before["version"],
            "version": compacted_version,
            "snapshots_expired": expired,
            "orphan_files_deleted": orphans,
        }

    def vacuum_orphans(self) -> int:
        """Delete data files referenced by NO retained snapshot (crash
        leftovers, or files orphaned by expire_snapshots). Also sweeps
        stale ``.tmp-*`` ledger files a kill between write and link/
        rename can leave behind. Returns count of data files removed."""
        for f in os.listdir(self.ledger_dir):
            if ".tmp-" in f:
                try:
                    os.remove(os.path.join(self.ledger_dir, f))
                except OSError:
                    pass
        live: set[str] = set()
        for v in self._versions():
            snap = self.snapshot_at(v)
            for meta in snap["buckets"].values():
                live.update(meta["files"])
                for d in meta.get("deltas", []):
                    live.update(d["files"])
        removed = 0
        for root, _dirs, files in os.walk(self.data_dir):
            for f in files:
                full = os.path.join(root, f)
                rel = os.path.relpath(full, self.path)
                if ".tmp-" in f:  # crash leftover of an atomic write
                    try:
                        os.remove(full)
                    except OSError:
                        pass
                    continue
                if f.endswith(".stats.json"):
                    # sidecar lives and dies with its data file
                    if rel[: -len(".stats.json")] not in live:
                        try:
                            os.remove(full)
                        except OSError:
                            pass
                    continue
                if f.endswith(".parquet") and rel not in live:
                    os.remove(full)
                    removed += 1
        # a version dir no retained snapshot references holds only
        # write-protocol artifacts now (_SUCCESS markers, .crc shadows,
        # swept parquet) — remove it whole. Vacuum runs quiesced (see
        # the class docstring): the parquet sweep above already deletes
        # unreferenced data files, so an in-flight attempt dir could
        # not survive vacuum either way.
        for d in sorted(os.listdir(self.data_dir)):
            rel_prefix = os.path.join("data", d) + os.sep
            vd = os.path.join(self.data_dir, d)
            if os.path.isdir(vd) and not any(r.startswith(rel_prefix) for r in live):
                shutil.rmtree(vd)
        return removed
