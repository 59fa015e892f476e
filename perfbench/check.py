"""Correctness checks against the repository's independent DuckDB oracles.

Pipeline: the serving table must hold exactly one row per spine wallet and
match ``tests/defi_oracle_sql.build_oracle_sql(lake, now)`` wallet by
wallet — counts and sentinels exactly, double aggregates to a relative
1e-6 (their summation order differs between the engines), the tolerance
``tests/test_defi_oracle.py`` uses.

Ad-hoc queries: each result must equal its ``ALL_ORACLES`` SQL exactly,
order-insensitively (the query suite is bit-deterministic by design),
compared as ``tools/check_correctness.py`` compares them.
"""

from __future__ import annotations

import math

import duckdb
from check_correctness import norm_rows  # tools/: the query suite's own comparison

# Integer-valued features compared exactly (tests/test_defi_oracle.py).
INT_COLS = {
    "unique_borrow_protocol_count",
    "unique_lending_protocol_count",
    "deposit_count",
    "time_since_first_deposit",
    "liquidation_count",
    "time_since_last_liquidated",
    "borrow_count",
    "repay_count",
    "risk_factor_above_threshold_daily_count",
}
ADHOC_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events")


def _close(a, b) -> bool:
    if a is None or b is None:
        return a == b
    if isinstance(a, float) or isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
    return a == b


def _rows_by_key(res) -> tuple[list[str], list[tuple]]:
    return [d[0] for d in res.description], res.fetchall()


def check_serving(lake: str, now: int, build_oracle_sql) -> list[str]:
    """Compare the serving table of ``lake`` with the oracle evaluated at
    ``now``; returns a list of problems (empty when it matches)."""
    con = duckdb.connect()
    try:
        cols, want_rows = _rows_by_key(con.execute(build_oracle_sql(lake, now)))
        want = {r[0]: dict(zip(cols, r)) for r in want_rows}
        scols, got_rows = _rows_by_key(con.execute(
            f"SELECT * FROM read_parquet('{lake}/features/defi_features_serving/*.parquet')"
        ))
    finally:
        con.close()
    problems = []
    if not want:
        problems.append("oracle spine is empty")
    got: dict = {}
    for r in got_rows:
        row = dict(zip(scols, r))
        w = row.pop("walletAddress")
        if w in got:
            problems.append(f"duplicate serving row for {w}")
        got[w] = row
    if set(got) != set(want):
        problems.append(
            f"spine mismatch: {len(set(got) - set(want))} only served, "
            f"{len(set(want) - set(got))} only in oracle"
        )
    bad = 0
    for w in set(got) & set(want):
        for c, v in got[w].items():
            expect = want[w].get(c)
            ok = v == expect if c in INT_COLS else _close(v, expect)
            if not ok:
                if bad < 3:
                    problems.append(f"{w[:12]} {c}: served {v!r}, oracle {expect!r}")
                bad += 1
    if bad > 3:
        problems.append(f"... {bad} mismatching values in all")
    return problems


class AdhocOracle:
    """DuckDB views over the ad-hoc tables, for per-query result checks."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        for t in ADHOC_TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')"
            )

    def check(self, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None when ``rows`` (Spark's result) equals the oracle's, else why not."""
        sc, sr = norm_rows(cols, rows)
        dc, dr = norm_rows(*_rows_by_key(self.con.execute(sql)))
        if sc != dc:
            return f"columns {sc} != {dc}"
        if len(sr) != len(dr):
            return f"rowcount {len(sr)} != {len(dr)}"
        if not sr:
            return "empty result (vacuous check)"
        bad = sum(a != b for a, b in zip(sr, dr))
        return f"{bad}/{len(sr)} rows differ" if bad else None

    def close(self) -> None:
        self.con.close()
