"""Per-batch lineage + throughput metrics (north rule: "per-partition
lineage + metrics" emitted each micro-batch).

The reference logs progress every N items (mex/extractors/logging.py:35-57)
and evaluates count-based quality rules against materialization history
(mex/extractors/pipeline/checks/main.py:152-215). Here each batch appends
one JSON line to a metrics ledger next to the table; historical checks
query this file back as a DataFrame.
"""

from __future__ import annotations

import dataclasses
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

from mex_extractors_spark.lake.table import ApplyStats


def parse_time_frame(time_frame: str) -> float:
    """``"10d"``/``"2m"``/``"1y"`` → seconds (reference
    pipeline/checks/main.py:56-64 ``parse_time_frame``: m = 30 days,
    y = 365 days)."""
    num, unit = int(time_frame[:-1]), time_frame[-1]
    days = {"d": 1, "m": 30, "y": 365}.get(unit)
    if days is None:
        raise ValueError(f"time frame unit must be d/m/y: {time_frame!r}")
    return num * days * 86_400.0


class MetricsLog:
    def __init__(self, path: str) -> None:
        self.path = path
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def append(self, stats: ApplyStats, extra: dict | None = None) -> None:
        """One JSON line per commit: every ``ApplyStats`` field (phase
        timers, merge mode and OCC attempts included) plus ``ts`` and
        ``events_per_sec``."""
        rec = {
            **dataclasses.asdict(stats),
            "ts": round(time.time(), 3),
            "seconds": round(stats.seconds, 4),
            "events_per_sec": round(stats.events_in / stats.seconds, 2)
            if stats.seconds > 0
            else None,
        }
        rec.update(extra or {})
        with open(self.path, "a") as fh:
            fh.write(json.dumps(rec, sort_keys=True) + "\n")

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.json(self.path)

    def history(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as fh:
            return [json.loads(line) for line in fh if line.strip()]

    def counts_at(
        self, field: str = "rows_after", time_frame: str | None = None, now: float | None = None
    ) -> list[int]:
        """History counts for a rule's comparison, ending at the record
        closest to ``now - time_frame`` — the reference's historic-count
        selection (pipeline/checks/main.py:130-155 ``get_historic_count``:
        the newest record at or before the cutoff, else the oldest one
        after it). Without a time frame: the full count series. The
        result feeds ``CheckRule.evaluate(current, history)``, which
        compares against the LAST element."""
        recs = [r for r in self.history() if field in r and r[field] is not None]
        if not recs:
            return []
        if time_frame is None:
            return [int(r[field]) for r in recs]
        cutoff = (time.time() if now is None else now) - parse_time_frame(time_frame)
        older = [r for r in recs if r.get("ts") is not None and r["ts"] <= cutoff]
        if older:
            pick = max(older, key=lambda r: r["ts"])
        else:
            newer = [r for r in recs if r.get("ts") is not None and r["ts"] > cutoff]
            if not newer:
                return []
            pick = min(newer, key=lambda r: r["ts"])
        return [int(pick[field])]
