"""Correctness checks, run outside the timed region.

Query results are compared with their DuckDB oracle on the same generated
parquet (the engine's own ``testing`` comparison).  The lake workload is
checked against a DuckDB replay of its seeded upsert sequence.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from ecommerce_lakehouse_spark.testing import compare_frames, run_oracle


def check_query(df, oracle_sql: str, data_dir: str) -> tuple[bool, str]:
    """Collect an already-built query frame and diff it with its oracle."""
    return compare_frames(df.toPandas(), run_oracle(oracle_sql, data_dir))


class UpsertReplay:
    """DuckDB model of a keyed table under MERGE upserts: the expected head
    after each commit, its row count per version, and the change-feed row
    count of a window of commits (update = pre + post image, insert = 1)."""

    def __init__(self, base: pd.DataFrame, key: str):
        self.key = key
        self.con = duckdb.connect()
        self.con.register("base_df", base)
        self.con.execute("CREATE TABLE t AS SELECT * FROM base_df")
        self.con.unregister("base_df")
        self.counts: dict[int, int] = {}
        self.changes: dict[int, int] = {}

    def upsert(self, version: int, batch: pd.DataFrame) -> None:
        k = self.key
        self.con.register("b", batch)
        changed = " OR ".join(f"b.{c} IS DISTINCT FROM t.{c}" for c in batch.columns if c != k)
        updated = self.con.execute(
            f"SELECT count(*) FROM b JOIN t USING ({k}) WHERE {changed}"
        ).fetchone()[0]
        inserted = self.con.execute(
            f"SELECT count(*) FROM b WHERE {k} NOT IN (SELECT {k} FROM t)"
        ).fetchone()[0]
        self.con.execute(f"DELETE FROM t WHERE {k} IN (SELECT {k} FROM b)")
        self.con.execute("INSERT INTO t SELECT * FROM b")
        self.con.unregister("b")
        self.changes[version] = 2 * updated + inserted
        self.record(version)

    def record(self, version: int) -> None:
        """A commit that changes no rows (e.g. compaction)."""
        self.counts[version] = self.con.execute("SELECT count(*) FROM t").fetchone()[0]
        self.changes.setdefault(version, 0)

    def head(self) -> pd.DataFrame:
        return self.con.execute("SELECT * FROM t").df()

    def change_rows(self, first: int, last: int) -> int:
        return sum(n for v, n in self.changes.items() if first <= v <= last)


MEDALLION_SILVER_SQL = {
    # rules of pipelines.medallion: not-null / range / referential checks,
    # then one survivor per primary key
    "part": "SELECT count(DISTINCT p_partkey) FROM part "
            "WHERE p_partkey IS NOT NULL AND p_retailprice >= 0",
    "orders": "SELECT count(DISTINCT o_orderkey) FROM orders WHERE o_orderkey IS NOT NULL "
              "AND o_custkey IS NOT NULL AND o_totalprice >= 0",
    "lineitem": "SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem "
                "WHERE l_orderkey IS NOT NULL AND l_quantity >= 0 "
                "AND l_discount BETWEEN 0 AND 1 "
                "AND l_orderkey IN (SELECT o_orderkey FROM orders) "
                "AND l_partkey IN (SELECT p_partkey FROM part))",
}


def medallion_expected(data_dir: str) -> dict[str, int]:
    return {t: int(run_oracle(sql, data_dir).iloc[0, 0]) for t, sql in MEDALLION_SILVER_SQL.items()}
