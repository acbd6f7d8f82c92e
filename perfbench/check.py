"""Output checks: each query's collected result against its DuckDB oracle.

The verdict is ``tests.parity.compare_frames``: the repository's own
comparison rules (column-name-sorted, row-sorted, order-insensitive; strict
equality for ints, strings and floats, nulls only equal to nulls).  An oracle
column typed HUGEINT is a failure, as in ``tests.parity.run_parity``.
"""

from __future__ import annotations


class OracleChecker:
    """DuckDB oracle over one fixture directory."""

    def __init__(self, sf_dir: str, oracles: dict[str, str]):
        from tests.parity import duckdb_connection

        self._con = duckdb_connection(sf_dir)
        self._oracles = oracles

    def close(self) -> None:
        self._con.close()

    def check(self, name: str, spark_pdf) -> str | None:
        """``None`` when the result matches its oracle, else why it does not."""
        from tests.parity import compare_frames

        sql = self._oracles.get(name)
        if sql is None:
            return "no oracle registered"
        rel = self._con.sql(sql)
        huge = [c for c, t in zip(rel.columns, map(str, rel.types)) if t in ("HUGEINT", "UHUGEINT")]
        if huge:
            return f"oracle HUGEINT columns {huge}"
        verdict = compare_frames(name, spark_pdf, rel.df())
        return None if verdict.ok else verdict.detail
