"""Seeded inputs: closed parquet segments of a synthetic change stream.

The stream comes from ``mex_extractors_spark.synth.events``: a strictly
increasing ``seq``, ~60% inserts / 30% updates / 10% deletes, and a
zipf-ish repo skew (repo ids are log-uniform, so a few repos carry most
events and their paths are rewritten over and over). A segment is one
``seq`` range written as one parquet file, the way a log tailer closes
files. Segments from ``evolve_from`` on carry one extra nullable column,
``license``, so the table's schema evolves once when they arrive.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from mex_extractors_spark import synth

EVOLVED_COL = "license"


@dataclass(frozen=True)
class Segment:
    index: int
    path: str  # directory holding the segment's single parquet file
    lo: int  # first seq
    hi: int  # last seq
    schema: StructType

    @property
    def events(self) -> int:
        return self.hi - self.lo + 1

    @property
    def glob(self) -> str:
        return os.path.join(self.path, "*.parquet")


def write_segments(
    spark,
    root: str,
    seed: int,
    sizes: list[int],
    n_repos: int,
    paths_per_repo: int,
    evolve_from: int | None = None,
) -> list[Segment]:
    """Write ``len(sizes)`` consecutive segments of the seeded stream
    under ``root``. Two Spark jobs at most: one per schema variant."""
    bounds, lo = [], 1
    for n in sizes:
        bounds.append((lo, lo + n - 1))
        lo += n
    ev = synth.events(spark, lo - 1, n_repos=n_repos, paths_per_repo=paths_per_repo, seed=seed)
    seg = F.lit(len(sizes) - 1)
    for i in reversed(range(len(sizes) - 1)):
        seg = F.when(F.col("seq") <= bounds[i][1], i).otherwise(seg)
    ev = ev.withColumn("seg", seg)
    cut = len(sizes) if evolve_from is None else evolve_from
    variants = [("plain", ev.where(F.col("seg") < cut), range(cut))]
    if cut < len(sizes):
        lic = F.pmod(F.xxhash64(F.lit(EVOLVED_COL), F.col("seq"), F.lit(seed)), F.lit(5))
        evolved = ev.where(F.col("seg") >= cut).withColumn(
            EVOLVED_COL,
            F.when((F.col("op") != "D") & (lic > 0), F.format_string("lic-%d", lic)),
        )
        variants.append(("evolved", evolved, range(cut, len(sizes))))
    out = []
    for name, df, idx in variants:
        target = os.path.join(root, name)
        # all rows of a segment hash to one task: one closed file each
        df.repartition(min(len(idx), 8), "seg").write.partitionBy("seg").parquet(target)
        schema = StructType([f for f in df.schema.fields if f.name != "seg"])
        out += [
            Segment(i, os.path.join(target, f"seg={i}"), *bounds[i], schema) for i in idx
        ]
    return out
