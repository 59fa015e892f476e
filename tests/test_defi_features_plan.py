"""The fused defi_features plan: parity with the DuckDB oracle on the
fixture lake plus crafted raw rows for the corners a shared-scan plan
must keep, bounds on the size of the physical plan, and the runner's
contract that its result pins no cache entry and outlives later runs."""

import os
import re
import shutil
import sys
from contextlib import contextmanager

import duckdb
import pytest
from pyspark.sql import functions as F

from defi_features_data_pipeline_spark.pipelines.defi import run_pipeline
from defi_features_data_pipeline_spark.pipelines.defi.config import PROTOCOLS, ZERO_ADDRESS
from defi_features_data_pipeline_spark.pipelines.defi.fixtures import generate
from defi_features_data_pipeline_spark.pipelines.defi.runner import plan_features
from defi_features_data_pipeline_spark.sources.catalog import Catalog

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from defi_oracle_sql import build_oracle_sql  # noqa: E402
from test_defi_oracle import INT_COLS, NOW, _close  # noqa: E402

AAVE, COMPOUND = PROTOCOLS
SENTINEL = 999999999


def _addr(byte: str) -> str:
    return "0x" + byte * 20


# a wallet seen only as a liquidated account, and its liquidator
LIQ_ONLY, LIQUIDATOR = _addr("a1"), _addr("a2")
# a sender borrowing for a liquidated account and for a never-liquidated one
PAIR_SENDER, PAIR_LIQUIDATED, PAIR_CLEAN = _addr("b1"), _addr("b2"), _addr("b3")
# health-factor rows in aave only
ONE_PROTOCOL = _addr("c1")
# a single health-factor row, capped (collateral, no borrow)
SINGLE_CAPPED = _addr("d1")
# aave collateral, borrows in both protocols at the same block
BOTH_PROTOCOLS = _addr("e1")
# current positions: an aave borrow but collateral only in compound
CURRENT_NO_COLLATERAL = _addr("f1")
# current positions: a borrow and no collateral at all
CURRENT_BORROW_ONLY = _addr("f2")


def _append(spark, path: str, changes: list[dict]) -> None:
    """Append rows to the parquet table at ``path``: a copy of one of
    its rows per entry of ``changes``, with those fields replaced."""
    df = spark.read.parquet(path)
    template = df.orderBy(*df.columns[:3]).first().asDict(recursive=True)
    rows = [{**template, **change} for change in changes]
    spark.createDataFrame(rows, df.schema).write.mode("append").parquet(path)


def _market(spark, base: str, protocol: str, block: int) -> dict:
    """A priced, non-numeraire market row of ``protocol`` at ``block``."""
    md = spark.read.parquet(f"{base}/raw/the_graph_historical_market_data")
    row = (
        md.filter(
            (F.col("protocol") == protocol)
            & (F.col("block_number") == block)
            & (F.col("inputtokenpriceusd") > 0)
            & F.col("name").startswith("Market")
        )
        .orderBy("id")
        .first()
    )
    return {"id": row["id"], "name": row["name"]}


def _add_corner_rows(spark, base: str) -> None:
    raw = f"{base}/raw"
    liquidations = [(LIQUIDATOR, LIQ_ONLY), (LIQUIDATOR, PAIR_LIQUIDATED)]
    _append(spark, f"{raw}/transpose_liquidation_events", [
        {"transaction_hash": f"0xcafe{i}", "sender_address": sender,
         "account_address": account, "liquidated_token_address": ZERO_ADDRESS,
         "quantity_liquidated": 2.5e18}
        for i, (sender, account) in enumerate(liquidations)
    ])
    borrows = [
        (PAIR_SENDER, PAIR_LIQUIDATED),
        (PAIR_SENDER, PAIR_CLEAN),
        *[(w, w) for w in (ONE_PROTOCOL, SINGLE_CAPPED, BOTH_PROTOCOLS,
                           CURRENT_NO_COLLATERAL, CURRENT_BORROW_ONLY)],
    ]
    _append(spark, f"{raw}/transpose_borrow_events", [
        {"transaction_hash": f"0xbeef{i}", "sender_address": sender,
         "account_address": account, "token_address": ZERO_ADDRESS,
         "quantity": 1.5e18}
        for i, (sender, account) in enumerate(borrows)
    ])

    positions_path = f"{raw}/the_graph_historical_account_positions"
    blocks = [
        r["blocknumber"]
        for r in spark.read.parquet(positions_path)
        .select("blocknumber").distinct().orderBy("blocknumber").limit(2).collect()
    ]

    def position(account, protocol, side, balance, block, collateral=True):
        market = _market(spark, base, protocol, block)
        return {
            "id": f"craft-{account[2:6]}-{protocol[:4]}-{side}-{block}",
            "account": {"id": account.upper()}, "market": market,
            "protocol": protocol, "side": side, "balance": balance,
            "iscollateral": collateral, "blocknumber": block, "block_number": block,
        }

    b1, b2 = blocks
    _append(spark, positions_path, [
        position(ONE_PROTOCOL, AAVE, "LENDER", 2e18, b1),
        position(ONE_PROTOCOL, AAVE, "LENDER", 1e18, b2),
        position(ONE_PROTOCOL, AAVE, "BORROWER", 5e17, b2),
        position(SINGLE_CAPPED, COMPOUND, "LENDER", 1e18, b1),
        position(BOTH_PROTOCOLS, AAVE, "LENDER", 3e18, b1),
        position(BOTH_PROTOCOLS, AAVE, "BORROWER", 1e18, b1),
        position(BOTH_PROTOCOLS, COMPOUND, "BORROWER", 2e18, b1),
    ])

    md = spark.read.parquet(f"{raw}/the_graph_historical_market_data")
    last = md.agg(F.max("block_number")).first()[0]
    aave_market = _market(spark, base, AAVE, last)
    comp_market = _market(spark, base, COMPOUND, last)
    _append(spark, f"{raw}/the_graph_current_collateral_positions", [
        {"id": "craft-cur-1", "account": CURRENT_NO_COLLATERAL, "side": "BORROWER",
         "is_collateral": False, "balance": 1e18, "protocol": AAVE,
         "market": aave_market["name"], "market_id": aave_market["id"]},
        {"id": "craft-cur-2", "account": CURRENT_NO_COLLATERAL, "side": "LENDER",
         "is_collateral": True, "balance": 2e18, "protocol": COMPOUND,
         "market": comp_market["name"], "market_id": comp_market["id"]},
        {"id": "craft-cur-3", "account": CURRENT_BORROW_ONLY, "side": "BORROWER",
         "is_collateral": False, "balance": 1e18, "protocol": COMPOUND,
         "market": comp_market["name"], "market_id": comp_market["id"]},
    ])
    _append(spark, f"{base}/sandbox/test_set_wallet_addresses", [
        {"wallet_address": w.upper()} for w in (CURRENT_NO_COLLATERAL, CURRENT_BORROW_ONLY)
    ])


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("defi_corner_lake"))
    generate(spark, base)
    _add_corner_rows(spark, base)
    yield base
    shutil.rmtree(base, ignore_errors=True)


@pytest.fixture(scope="module")
def features(spark, lake):
    return run_pipeline(spark, lake, now_epoch=NOW)


@pytest.fixture(scope="module")
def rows(features):
    return {r["wallet_address"]: r.asDict() for r in features.collect()}


def test_corner_rows_match_duckdb_oracle(lake, rows):
    res = duckdb.connect().execute(build_oracle_sql(lake, NOW))
    cols = [d[0] for d in res.description]
    want = {row[0]: dict(zip(cols, row)) for row in res.fetchall()}
    assert set(rows) == set(want)
    mismatches = [
        (w[:12], c, got[c], want[w][c])
        for w, got in rows.items()
        for c in got
        if c != "wallet_address"
        and not (got[c] == want[w][c] if c in INT_COLS else _close(got[c], want[w][c]))
    ]
    assert not mismatches, f"{len(mismatches)} mismatches; first 10: {mismatches[:10]}"


def test_corner_rows_reach_the_output(rows):
    """The crafted rows land where the corners need them (so the parity
    test above is not vacuous about them)."""
    liq_only = rows[LIQ_ONLY]
    assert liq_only["liquidation_count"] == 0  # liquidations reach senders via pairs
    assert liq_only["time_since_last_liquidated"] == SENTINEL

    pair = rows[PAIR_SENDER]
    assert pair["borrow_count"] == 2
    assert pair["liquidation_count"] == 1
    assert pair["liquidation_amount_sum_eth"] > 0
    # the never-liquidated account's 0 wins the MIN → sentinel
    assert pair["time_since_last_liquidated"] == SENTINEL

    assert rows[ONE_PROTOCOL]["total_collateral_avg_eth"] > 0

    capped = rows[SINGLE_CAPPED]
    assert capped["max_risk_factor"] == pytest.approx(1e-6)
    assert capped["avg_risk_factor"] == pytest.approx(1e-6)
    assert capped["avg_weighted_risk_factor"] == 0

    assert rows[BOTH_PROTOCOLS]["avg_weighted_risk_factor"] > 0

    current = rows[CURRENT_NO_COLLATERAL]
    assert current["total_collateral_eth"] > 0
    assert current["risk_factor"] > 0
    # no collateral in any protocol: absent from the current-health view
    assert rows[CURRENT_BORROW_ONLY]["risk_factor"] == 0
    assert rows[CURRENT_BORROW_ONLY]["borrow_count"] == 1


def test_features_plan_size(spark, lake, features):
    """One read per input, shared intermediates: the unexecuted plan
    stays far below the per-view inlining it replaced (75 parquet scans,
    109 hash exchanges)."""
    plan = plan_features(Catalog(spark, lake), NOW)._jdf.queryExecution()
    text = plan.executedPlan().toString()
    assert "isFinalPlan=false" in text
    scans = text.count("FileScan parquet")
    exchanges = len(re.findall(r"Exchange hashpartitioning", text))
    assert scans <= 25, f"{scans} parquet scans"
    assert exchanges <= 40, f"{exchanges} hash exchanges"


def test_rerun_pins_no_cache_and_keeps_earlier_result(spark, lake, features, rows):
    """A run leaves no CacheManager entry behind. It rewrites
    the_graph_current_collateral_positions, and the earlier result,
    which references no lake files, still collects."""
    current = f"{lake}/analytics/the_graph_current_collateral_positions"
    before = set(os.listdir(current))
    spark.catalog.clearCache()
    run_pipeline(spark, lake, now_epoch=NOW)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert not before & {f for f in os.listdir(current) if f.endswith(".parquet")}
    assert {r["wallet_address"]: r.asDict() for r in features.collect()} == rows


@contextmanager
def _jvm_log(spark):
    """Collects what the JVM logs inside the block; yields a callable
    returning the text so far."""
    jvm = spark._jvm
    core = jvm.org.apache.logging.log4j.core
    ctx = jvm.org.apache.logging.log4j.LogManager.getContext(False)
    root = ctx.getConfiguration().getRootLogger()
    writer = jvm.java.io.StringWriter()
    appender = core.appender.WriterAppender.createAppender(
        core.layout.PatternLayout.createDefaultLayout(), None, writer,
        "test-capture", False, True,
    )
    appender.start()
    root.addAppender(appender, None, None)
    ctx.updateLoggers()
    try:
        yield writer.toString
    finally:
        root.removeAppender("test-capture")
        ctx.updateLoggers()
        appender.stop()


def test_plan_builds_without_trivially_true_join(spark, lake, features):
    """The latest-market-snapshot self-join names its grouped side apart
    (``l_name``), so Spark never sees a ``name == name`` predicate."""
    with _jvm_log(spark) as logged:
        plan_features(Catalog(spark, lake), NOW)
        assert "trivially true" not in logged()
        # the capture itself works: a self-join on one column logs it
        df = spark.range(3).withColumnRenamed("id", "name")
        grouped = df.groupBy("name").count()
        df.join(grouped, df.name == grouped.name)
        assert "trivially true" in logged()
