"""Independent DuckDB oracle over the raw generated segments.

Nothing here calls the engine. The expected table state is computed
from the raw events with the documented semantics:

- last writer wins per ``(repo, path)``: the event with the highest
  ``seq`` decides, and a delete (``op = 'D'``) removes the key;
- the ingest transform of ``normalize_change_events``: ``lang`` mapped
  through the language vocabulary (unknown values pass through),
  ``content_sha`` = sha256 of ``content`` (computed here by DuckDB),
  ``size_bytes`` = byte length of ``content``.

The digest of a state is order-independent: the sum over rows of the
first 11 hex digits of a per-row sha256, taken as an integer. The
engine side computes the same sum with Spark (see ``spark_digest``),
so the two meet only in the number.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the normalization specification of ``lang``
LANG_VOCAB = {
    "py": "python",
    "rs": "rust",
    "go": "go",
    "ts": "typescript",
    "java": "java",
    "md": "markdown",
    "yaml": "yaml",
}
BASE_COLS = ["repo", "path", "seq", "commit", "lang", "content", "content_sha", "size_bytes"]
HEX_DIGITS = 11  # 44 bits a row: the sum of ~1e5 rows fits in 63 bits


def _source(globs: list[str]) -> str:
    files = ", ".join(f"'{g}'" for g in globs)
    return f"read_parquet([{files}], union_by_name = true, hive_partitioning = false)"


def _row_text(cols: list[str]) -> str:
    return " || '|' || ".join(f"coalesce(CAST({c} AS VARCHAR), '~')" for c in cols)


class Oracle:
    def __init__(self, work_dir: str, extra_cols: list[str]) -> None:
        self.cols = BASE_COLS + extra_cols
        self.extra_cols = extra_cols
        self.con = duckdb.connect(config={"temp_directory": work_dir, "threads": 2})
        self.con.execute(
            "CREATE TABLE lang_vocab (raw VARCHAR, norm VARCHAR)"
        )
        self.con.executemany("INSERT INTO lang_vocab VALUES (?, ?)", list(LANG_VOCAB.items()))

    def close(self) -> None:
        self.con.close()

    def _state(self, globs: list[str]) -> str:
        """SQL of the LWW state over the given segment files."""
        src = _source(globs)
        present = {r[0] for r in self.con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()}
        # rows from before a schema change read back null in the new column
        extra = "".join(
            f", e.{c}" if c in present else f", CAST(NULL AS VARCHAR) AS {c}"
            for c in self.extra_cols
        )
        return f"""
            SELECT e.repo, e.path, e.seq, e."commit",
                   coalesce(v.norm, e.lang) AS lang, e.content,
                   sha256(e.content) AS content_sha,
                   CAST(strlen(e.content) AS BIGINT) AS size_bytes{extra}
            FROM (
                SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
                FROM {src}
            ) e LEFT JOIN lang_vocab v ON e.lang = v.raw
            WHERE e.rn = 1 AND e.op <> 'D'
        """

    def digest(self, globs: list[str]) -> tuple[int, int]:
        """(live rows, order-independent digest) of the state."""
        cols = [f'"{c}"' if c == "commit" else c for c in self.cols]
        rows, dig = self.con.execute(
            f"""SELECT count(*), coalesce(sum(CAST(('0x' || substr(sha256({_row_text(cols)}), 1, {HEX_DIGITS})) AS BIGINT)), 0)
                FROM ({self._state(globs)})"""
        ).fetchone()
        return int(rows), int(dig)

    def aggregates(self, globs: list[str]) -> tuple:
        """What a full scan with an aggregate must return:
        (rows, sum(size_bytes), max(seq), distinct repos)."""
        r = self.con.execute(
            f"""SELECT count(*), sum(size_bytes), max(seq), count(DISTINCT repo)
                FROM ({self._state(globs)})"""
        ).fetchone()
        return tuple(int(x) for x in r)

    def rows_for(self, globs: list[str], keys: list[tuple[str, str]]) -> dict:
        """Expected row (a dict of ``self.cols``) per key; None = absent."""
        self.con.execute("CREATE OR REPLACE TEMP TABLE probe (repo VARCHAR, path VARCHAR)")
        self.con.executemany("INSERT INTO probe VALUES (?, ?)", sorted(set(keys)))
        found = self.con.execute(
            f"SELECT s.* FROM ({self._state(globs)}) s JOIN probe USING (repo, path)"
        )
        names = [d[0] for d in found.description]
        out = {k: None for k in keys}
        for r in found.fetchall():
            row = dict(zip(names, r))
            out[(row["repo"], row["path"])] = {c: row[c] for c in self.cols}
        return out

    def change_counts(self, globs_from: list[str], globs_to: list[str]) -> dict[str, int]:
        """Per-``_change_type`` counts between two states: a key is an
        update when any stored column differs, ``seq`` included."""
        cols = [f'"{c}"' if c == "commit" else c for c in self.cols]
        a_txt = _row_text([f"a.{c}" for c in cols])
        b_txt = _row_text([f"b.{c}" for c in cols])
        r = self.con.execute(
            f"""SELECT count(*) FILTER (WHERE a.repo IS NULL),
                       count(*) FILTER (WHERE b.repo IS NULL),
                       count(*) FILTER (WHERE a.repo IS NOT NULL AND b.repo IS NOT NULL
                                        AND {a_txt} <> {b_txt})
                FROM ({self._state(globs_from)}) a
                FULL OUTER JOIN ({self._state(globs_to)}) b
                  ON a.repo = b.repo AND a.path = b.path"""
        ).fetchone()
        counts = dict(zip(["insert", "delete", "update_postimage"], map(int, r)))
        return {k: v for k, v in counts.items() if v}

    def keys_of(self, globs: list[str]) -> list[tuple[str, str]]:
        """Every event's key in ``seq`` order (repeats kept, so a draw
        from this list follows the stream's own key skew)."""
        return self.con.execute(
            f"SELECT repo, path FROM {_source(globs)} ORDER BY seq"
        ).fetchall()


def spark_digest(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """The engine-side twin of :meth:`Oracle.digest` over a table read."""
    text = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("~")) for c in cols]
    )
    part = F.conv(F.substring(F.sha2(text, 256), 1, HEX_DIGITS), 16, 10).cast("long")
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(part).alias("d")).first()
    return int(r["n"]), int(r["d"] or 0)
