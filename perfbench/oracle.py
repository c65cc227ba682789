"""Expected results from the DuckDB oracles, cached per data tier.

Each registered query has an ANSI-SQL twin in
``aistore_spark.benchqueries.ORACLES``. Running the twins is slow at
sf0.1 (tens of seconds for the dedup reports), so the expected frames
are computed once and pickled under ``.perfbench/oracle/``, keyed by
the oracle text and the size and mtime of every input table. The
comparison is the repository's own gate (``tools/check_oracle.py``):
row count, column set, column dtypes and the exact value multiset.
"""

from __future__ import annotations

import hashlib
import pickle
from pathlib import Path

import pandas as pd

from workloads import ROOT, WORK, load_tool

CACHE = WORK / "oracle"


def _inputs_key(sf_dir: str) -> str:
    from aistore_spark.sources.tables import TABLES

    parts = []
    for t in TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            st = p.stat()
            parts.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
    return "|".join(parts)


def cache_path(op: str, sql: str, sf_dir: str) -> Path:
    key = hashlib.sha256((sql + "\n" + _inputs_key(sf_dir)).encode()).hexdigest()
    return CACHE / f"{op}-{key[:20]}.pkl"


def missing(ops: list[str], sf_dir: str) -> list[str]:
    """The ops among *ops* whose expected frame is not cached yet."""
    from aistore_spark.benchqueries import ORACLES

    return [op for op in ops if not cache_path(op, ORACLES[op], sf_dir).exists()]


def build(ops: list[str], sf_dir: str, threads: int) -> None:
    """Evaluate and cache every missing oracle among *ops* (DuckDB)."""
    import duckdb

    from aistore_spark.benchqueries import ORACLES
    from aistore_spark.sources.tables import TABLES

    todo = missing(ops, sf_dir)
    if not todo:
        return
    CACHE.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    try:
        con.sql(f"SET threads TO {threads}")
        for t in TABLES:
            if (Path(sf_dir) / f"{t}.parquet").exists():
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for op in todo:
            sql = ORACLES[op]
            path = cache_path(op, sql, sf_dir)
            tmp = path.with_suffix(".tmp")
            con.sql(sql).df().to_pickle(tmp)
            tmp.replace(path)  # atomic publish
    finally:
        con.close()


def expected(ops: list[str], sf_dir: str) -> dict[str, pd.DataFrame]:
    """The cached oracle frame of every op in *ops*; :func:`build` first."""
    from aistore_spark.benchqueries import ORACLES

    out = {}
    for op in ops:
        # only frames this module pickled itself are ever unpickled
        with open(cache_path(op, ORACLES[op], sf_dir), "rb") as f:
            out[op] = pickle.load(f)
    return out


class Checker:
    """Compares collected frames with their oracle frames."""

    def __init__(self, expected_frames: dict[str, pd.DataFrame]):
        self._expected = expected_frames
        self._frames_equal = load_tool("check_oracle").frames_equal
        #: op -> [(frame, verdict)] of the distinct frames checked so far
        self._checked: dict[str, list[tuple[pd.DataFrame, str | None]]] = {}

    def mismatch(self, op: str, got: pd.DataFrame) -> str | None:
        """None when *got* equals the oracle frame, else the reason. A
        frame identical to one already checked for *op* (same columns,
        dtypes, row order and values) gets that frame's verdict."""
        seen = self._checked.setdefault(op, [])
        for frame, verdict in seen:
            try:
                if frame.equals(got):
                    return verdict
            except (TypeError, ValueError):
                pass
        verdict = self._compare(op, got)
        seen.append((got, verdict))
        return verdict

    def _compare(self, op: str, got: pd.DataFrame) -> str | None:
        want = self._expected[op]
        if sorted(got.columns) != sorted(want.columns):
            return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
        bad = [
            c for c in want.columns if str(got[c].dtype) != str(want[c].dtype)
        ]
        if bad:
            return f"dtypes differ in {bad}"
        if len(got) != len(want):
            return f"rows {len(got)} vs {len(want)}"
        try:
            same = self._frames_equal(got, want)
        except TypeError as exc:
            return f"non-scalar cell: {exc}"
        return None if same else "value multiset differs"


if __name__ == "__main__":
    # python3 perfbench/oracle.py <sf_dir> <threads> <op>...
    import sys

    sys.path.insert(0, str(ROOT))
    build(sys.argv[3:], sys.argv[1], int(sys.argv[2]))
