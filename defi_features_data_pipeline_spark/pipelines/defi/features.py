"""Features layer: the reference's feature views and the 27-column
defi_features assembly (`/root/reference/src/pipelines/features/
transformations/`, file:line in each function), planned as one
shared-scan DAG. ``now_epoch`` is injected everywhere the reference
uses ``to_unixtime(current_timestamp)`` (determinism, SURVEY §4.3).

Plan shapes. Inlined view by view, the reference's ~10 per-wallet
views re-read their inputs over and over: the 1,000-row result planned
75 parquet scans and 109 hash exchanges. Here each input is read once
and each intermediate result is computed once (14 scans, 10 hash
exchanges, `tests/test_defi_features_plan.py` bounds them):

- ``view_wallet_activity``: the five event tables as ONE tagged union,
  fanned out to (role, wallet) and folded by ONE ``groupBy(wallet)``
  of conditional aggregates: the wallet spine and the borrow, repay,
  redeem, lending and credit-mix views at once.
- ``view_liquidation_features``: the liquidation view, keyed by the
  liquidated account. It is its own small aggregate because its only
  consumer is the pair fan-in; read from the wallet aggregate, column
  pruning would plan a second copy of the whole union.
- ``view_historical_health_and_risk``: ``_account_health_factor`` (one
  rollup of the positions; its lending⋈borrow join is a fan-out inside
  each (account, block) group) joined once to every (sender, account
  role) of the borrow pairs. The historical and above-threshold views
  are one ``groupBy(sender)`` whose per-protocol conditional aggregates
  replace the per-protocol legs and their full outer merges.
- ``view_current_health_factor``: current positions priced once and
  folded by one ``groupBy(account)`` with per-protocol conditional sums,
  replacing four copies of the per-protocol rollups and their merge.
- ``assemble_defi_features``: the liquidation and current-health
  fan-ins as one aggregate over the borrow pairs, then two left joins
  onto the wallet aggregate.

Co-partitioning does the rest: the positions are shuffled once by
account, the borrow pairs once by account, the historical rows once by
sender, so every later aggregate and join finds its input clustered.
Distinct counts are ``size(collect_set(...))``, because several
``countDistinct`` in one aggregate would plan an Expand and a second
shuffle.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

from ...functions.scalars import HF_CAP, HF_FLOOR, NEVER_SENTINEL
from .config import NUMERAIRE_MARKETS

AAVE = "aave-v2-eth"
COMPOUND = "compound-v2-eth"
PROTOCOL_TAGS = {AAVE: "a", COMPOUND: "c"}


def _n_distinct(col: str, cond: Column | None = None) -> Column:
    """COUNT(DISTINCT col), over the rows where ``cond`` holds if given."""
    value = F.col(col) if cond is None else F.when(cond, F.col(col))
    return F.size(F.collect_set(value)).cast("long")


# ---------------------------------------------------------------------------
# Per-wallet event aggregates
# ---------------------------------------------------------------------------


def view_wallet_activity(events_by_type: dict[str, DataFrame], now_epoch: int) -> DataFrame:
    """The wallet spine and every per-sender event view in one aggregate:

    - spine: `view_distinct_defi_events_addresses.sql:2-33` (sender and
      account of all five tables);
    - `view_defi_borrow_features.sql:3-10`, `view_defi_repay_features.sql:3-10`,
      `view_defi_lending_sum_redeems_features.sql:3-7` (withdraws),
      `view_defi_lending_time_and_count_features.sql:3-9` (deposits);
    - `view_defi_credit_mix_features.sql:14-69`: COUNT(DISTINCT
      protocol_name) of borrows and of deposits (the view's GREATEST
      over all four event types is not among the 27 columns).

    Every column is already COALESCEd the way the reference's
    spine-merge does it (`defi_features_calculation.sql:1-68`). A NULL
    address joins nothing in the reference, so a NULL wallet keeps its
    spine row but feeds none of the aggregates."""
    cols = ["sender_address", "account_address", "transaction_hash",
            "quantity_in_eth", "epoch_timestamp", "protocol_name"]
    tagged = reduce(DataFrame.unionByName, [
        df.select(F.lit(ev).alias("ev"), *cols) for ev, df in events_by_type.items()
    ])

    def role(tag: str, col: str) -> Column:
        return F.struct(
            F.when(F.col(col).isNotNull(), F.lit(tag)).alias("role"),
            F.col(col).alias("wallet_address"),
        )

    fanned = tagged.select(
        "*", F.inline(F.array(role("s", "sender_address"), role("a", "account_address")))
    )

    def sent(ev: str) -> Column:
        return (F.col("ev") == ev) & (F.col("role") == "s")

    qty = F.abs(F.col("quantity_in_eth"))

    def qty_sum(ev: str) -> Column:
        return F.coalesce(F.sum(F.when(sent(ev), qty)), F.lit(0))

    def qty_avg(ev: str) -> Column:
        return F.coalesce(F.avg(F.when(sent(ev), qty)), F.lit(0))

    return fanned.groupBy("wallet_address").agg(
        qty_sum("repay").alias("borrow_total_eth_repaid_sum"),
        qty_avg("repay").alias("borrow_total_eth_repaid_avg"),
        _n_distinct("transaction_hash", sent("repay")).alias("borrow_total_repays"),
        qty_sum("borrow").alias("loan_amount_eth_sum"),
        qty_avg("borrow").alias("loan_amount_eth_avg"),
        _n_distinct("transaction_hash", sent("borrow")).alias("borrow_total_borrows"),
        _n_distinct("protocol_name", sent("borrow")).alias("credit_mix_count_borrow_protocol"),
        _n_distinct("protocol_name", sent("deposit")).alias(
            "credit_mix_count_lending_protocol"
        ),
        qty_sum("withdraw").alias("lending_sum_redeems"),
        _n_distinct("transaction_hash", sent("deposit")).alias("lending_total_deposits"),
        F.coalesce(
            F.lit(now_epoch) - F.min(F.when(sent("deposit"), F.col("epoch_timestamp"))),
            F.lit(0),
        ).alias("lending_time_since_first_lending"),
        qty_sum("deposit").alias("total_deposits_in_eth"),
    )


def view_liquidation_features(liquidation: DataFrame, now_epoch: int) -> DataFrame:
    """`view_defi_liquidation_features.sql:3-17` — grouped by the
    liquidated ACCOUNT, with the 999999999 never-liquidated sentinel."""
    return liquidation.groupBy("account_address").agg(
        _n_distinct("transaction_hash").alias("liquidation_total_liquidations"),
        F.coalesce(F.sum(F.abs(F.col("quantity_in_eth"))), F.lit(0)).alias(
            "liquidation_total_amount_eth"
        ),
        F.coalesce(F.lit(now_epoch) - F.max("epoch_timestamp"), F.lit(NEVER_SENTINEL)).alias(
            "liquidation_time_since_last_liquidated"
        ),
    )


# ---------------------------------------------------------------------------
# Health-factor stack
# ---------------------------------------------------------------------------


def _health_factor_case(num: Column, den: Column) -> Column:
    """The reference's 6-branch clamp ladder, encoded once
    (`view_defi_current_health_factor_features.sql:151-158` ==
    `view_defi_historical_health_and_risk_factor.sql:415-422`)."""
    hf = num / den
    return (
        F.when(F.coalesce(den, F.lit(0.0)) == 0.0, F.lit(HF_CAP))
        .when((hf == 0.0) & (den < HF_FLOOR), F.lit(HF_CAP))
        .when((hf == 0.0) & (den > HF_FLOOR), F.lit(HF_FLOOR))
        .when(hf == 0.0, F.lit(HF_FLOOR))
        .when(hf < HF_FLOOR, F.lit(HF_FLOOR))
        .otherwise(hf)
    )


def _side_sums(cond: Column | None = None) -> dict[str, Column]:
    """The borrow_table / lending_table rollups (A4,
    `view_defi_historical_health_and_risk_factor.sql:2-25` ==
    `view_defi_current_health_factor_features.sql:95-130`) as
    conditional aggregates over one scan of the positions. ``n_*``
    count the rows of each side, so a side with no rows is told apart
    from a side whose sums are NULL."""
    borrow = F.col("side") == "BORROWER"
    lend = (F.col("side") == "LENDER") & (F.col("is_collateral") == True)  # noqa: E712
    if cond is not None:
        borrow, lend = cond & borrow, cond & lend

    def total(side: Column, value: Column) -> Column:
        return F.sum(F.when(side, value))

    usd, eth, lt = F.col("balance_in_usd"), F.col("balance_in_eth"), F.col("liquidation_threshold")
    return {
        "n_borrow": F.count(F.when(borrow, 1)),
        "total_borrow_balance": total(borrow, usd),
        "total_borrow_balance_eth": total(borrow, eth),
        "n_lend": F.count(F.when(lend, 1)),
        "health_factor_numerator": total(lend, usd * lt),
        "misc_available_borrows_eth_collateral": total(lend, eth * lt),
        "misc_total_collateral_eth": total(lend, eth),
    }


def _health_factor_columns(tbb: Column, tbbe: Column, num: Column,
                           avail: Column) -> tuple[Column, Column, Column]:
    """(health_factor, misc_available_borrows_eth, weighted_risk_factor)
    of one lending row LEFT JOINed to its borrow row (NULL when none)."""
    hf = _health_factor_case(num, tbb)
    return (
        hf,
        F.when(tbbe.isNull(), avail).otherwise(avail - tbbe),
        F.when(tbbe.isNull(), F.lit(0.0)).otherwise(tbbe * (F.lit(1.0) / hf)),
    )


def _account_health_factor(positions: DataFrame) -> DataFrame:
    """account_health_factor CTE (`view_defi_historical_health_and_risk_factor.sql:385-442`):
    lending LEFT JOIN borrow per (account, block) — NOT per protocol, so
    a lending row fans out over every protocol the account borrowed in
    at that block — then the clamp ladder, available-borrows and
    weighted-risk expressions.

    Both tables are one (account, block, protocol) rollup, and the join
    is a fan-out inside each (account, block) group: its lending rows
    crossed with its borrow rows (or one NULL borrow row when there are
    none). The positions are shuffled once, by account, which clusters
    both aggregates and the join to the borrow pairs downstream. Rows
    without an account only feed rows that pair join drops, and merged
    positions always carry a block (`merge_market_positions` joins on
    it)."""
    rollup = (
        positions.filter(F.col("account").isNotNull() & F.col("block_number").isNotNull())
        .repartition("account")
        .groupBy("account", "block_number", "protocol")
        .agg(*[c.alias(name) for name, c in _side_sums().items()])
    )
    per_block = rollup.groupBy("account", "block_number").agg(
        F.collect_list(F.when(F.col("n_lend") > 0, F.struct(
            "protocol",
            "health_factor_numerator",
            "misc_available_borrows_eth_collateral",
            "misc_total_collateral_eth",
        ))).alias("lending"),
        F.collect_list(F.when(F.col("n_borrow") > 0, F.struct(
            "total_borrow_balance", "total_borrow_balance_eth"
        ))).alias("borrow"),
    )
    j = per_block.select(
        "account", "block_number", "borrow", F.inline("lending")
    ).select("*", F.inline_outer("borrow"))
    hf, avail, wrf = _health_factor_columns(
        F.col("total_borrow_balance"), F.col("total_borrow_balance_eth"),
        F.col("health_factor_numerator"), F.col("misc_available_borrows_eth_collateral"),
    )
    return j.select(
        "account",
        "block_number",
        "protocol",
        hf.alias("health_factor"),
        F.coalesce(avail, F.lit(0)).alias("misc_available_borrows_eth"),
        wrf.alias("weighted_risk_factor"),
        "misc_total_collateral_eth",
    )


def _zero_aware_avg(cc: Column, aa: Column) -> Column:
    """`view_defi_historical_health_and_risk_factor.sql:562-571`:
    one-sided zero → take the other side, else the mean."""
    return (
        F.when((aa == 0) & (cc != 0), cc)
        .when((cc == 0) & (aa != 0), aa)
        .otherwise((cc + aa) / 2)
    )


def view_historical_health_and_risk(
    borrow_events: DataFrame, positions: DataFrame
) -> DataFrame:
    """`view_defi_historical_health_and_risk_factor.sql` and
    `view_defi_historical_count_above_threshold.sql` together, per
    borrow sender.

    Both views join each borrow pair's health-factor rows by account
    role and by sender role (the OR join J9, `:69-103`). One equi-join
    does both: the pairs fan out to (sender, account) and (sender,
    sender) first. The historical view's UNION dedups on (sender, block,
    values) per protocol; the DISTINCT below keeps that, and the
    threshold view's COUNT(DISTINCT block) is unaffected by it.

    The reference's ``LEFT JOIN ... WHERE hf.protocol = x`` rejects the
    NULL-extended rows, so a sender without health-factor rows in a
    protocol is absent from that protocol's aggregate. Here that
    protocol's conditional aggregates are NULL, which the full outer
    merge (`:540-575`) COALESCEs to 0 exactly as it does for an absent
    side; a sender with rows in neither protocol ends at the same
    all-zero defaults the feature spine gives it (`defi_features_calculation.sql`)."""
    sender_accounts = (
        borrow_events.select(
            "sender_address",
            F.explode(F.array("account_address", "sender_address")).alias("account"),
        )
        .repartition("account")
        .distinct()
    )
    rows = (
        sender_accounts.join(_account_health_factor(positions), "account")
        .select(
            "sender_address",
            "protocol",
            "block_number",
            "health_factor",
            "weighted_risk_factor",
            "misc_available_borrows_eth",
            "misc_total_collateral_eth",
        )
        .repartition("sender_address")
        .distinct()
    )

    aggs = []
    for protocol, tag in PROTOCOL_TAGS.items():
        on = F.col("protocol") == protocol

        def avg(value: Column, on=on) -> Column:
            return F.avg(F.when(on, value))

        hf = F.col("health_factor")
        aggs += [
            avg(F.col("weighted_risk_factor")).alias(f"{tag}_wrf"),
            avg(F.lit(1.0) / hf).alias(f"{tag}_rf"),
            (F.lit(1.0) / F.min(F.when(on, hf))).alias(f"{tag}_mx"),
            avg(F.col("misc_total_collateral_eth")).alias(f"{tag}_col"),
            avg(F.col("misc_available_borrows_eth")).alias(f"{tag}_av"),
            _n_distinct("block_number", on & (hf < 1.2)).alias(f"{tag}_thr"),
        ]
    per_sender = rows.groupBy("sender_address").agg(*aggs)

    def pair(col: str) -> tuple[Column, Column]:
        return (
            F.coalesce(F.col(f"c_{col}"), F.lit(0)),
            F.coalesce(F.col(f"a_{col}"), F.lit(0)),
        )

    c_w, a_w = pair("wrf")
    c_r, a_r = pair("rf")
    c_mx, a_mx = pair("mx")
    c_col, a_col = pair("col")
    c_av, a_av = pair("av")
    c_thr, a_thr = pair("thr")
    return per_sender.select(
        "sender_address",
        F.coalesce(F.greatest(c_mx, a_mx), F.lit(0)).alias("historical_max_risk_factor"),
        F.coalesce(c_col + a_col, F.lit(0)).alias("misc_avg_total_collateral_eth"),
        F.coalesce(c_av + a_av, F.lit(0)).alias("misc_avg_available_borrows_eth"),
        _zero_aware_avg(c_w, a_w).alias("historical_weighted_avg_risk_factor"),
        _zero_aware_avg(c_r, a_r).alias("historical_average_risk_factor"),
        (c_thr + a_thr).alias("historical_count_above_threshold"),
    )


def view_current_health_factor(
    market_data: DataFrame, current_positions: DataFrame
) -> DataFrame:
    """`view_defi_current_health_factor_features.sql` in full: latest
    market snapshot per market name (J10, the reference's max-block
    inner join), positions priced once, per-protocol rollups as one
    ``groupBy(account)`` of conditional sums, the LEAST/clamp ladder.

    The reference's full outer merge of the two protocols and its final
    re-group (`:160-230`) are both per account; one row per account
    comes out of the aggregate already. An account appears when it
    holds collateral in either protocol (lending is the left side of
    each protocol's join). Only the columns the 27-column row reads are
    computed: the view's capped and weighted-average risk factors are
    not among them."""
    last = market_data.groupBy(F.col("name").alias("l_name")).agg(
        F.max("block_number").alias("max_bn")
    )
    latest = market_data.join(
        F.broadcast(last),
        (F.col("name") == F.col("l_name")) & (F.col("block_number") >= F.col("max_bn")),
    )
    cur = latest.select(
        F.col("id").alias("cmd_id"),
        "input_token_price_usd",
        "decimals",
        (F.col("liquidation_threshold") * 0.01).alias("liquidation_threshold"),
    )
    numeraire = F.broadcast(
        latest.filter(F.col("name").isin(*NUMERAIRE_MARKETS)).select(
            F.col("input_token_price_usd").alias("protocol_eth_price"),
            F.col("protocol").alias("num_protocol"),
        )
    )
    pos = current_positions.join(
        F.broadcast(cur), F.col("cmd_id") == F.col("market_id")
    ).join(numeraire, F.col("num_protocol") == F.col("protocol"))
    balance_in_usd = (F.col("balance") * F.col("input_token_price_usd")) / F.pow(
        F.lit(10.0), F.col("decimals")
    )
    pos = pos.select(
        "account",
        "side",
        "is_collateral",
        "protocol",
        "liquidation_threshold",
        balance_in_usd.alias("balance_in_usd"),
        ((F.lit(1.0) / F.col("protocol_eth_price")) * balance_in_usd).alias("balance_in_eth"),
    )

    aggs = []
    for protocol, tag in PROTOCOL_TAGS.items():
        sums = _side_sums(F.col("protocol") == protocol)
        aggs += [c.alias(f"{tag}_{name}") for name, c in sums.items()]
    per_account = pos.groupBy("account").agg(*aggs)

    def protocol_side(tag: str) -> dict[str, Column]:
        """One protocol's health-factor row. Where the account holds no
        collateral in it, the lending sums are NULL, and so is every
        column here except a health factor at the cap: the values the
        reference's merge gives a missing side."""
        def col(name: str) -> Column:
            return F.col(f"{tag}_{name}")

        hf, avail, _ = _health_factor_columns(
            col("total_borrow_balance"), col("total_borrow_balance_eth"),
            col("health_factor_numerator"), col("misc_available_borrows_eth_collateral"),
        )
        return {
            "health_factor": hf,
            "misc_total_collateral_eth": col("misc_total_collateral_eth"),
            "misc_available_borrows_eth": avail,
        }

    a, c = protocol_side("a"), protocol_side("c")

    def both(name: str) -> Column:
        """compound + aave, each COALESCEd to 0 (`:174-183`)."""
        return F.coalesce(c[name], F.lit(0)) + F.coalesce(a[name], F.lit(0))

    least_hf = F.least(
        F.coalesce(c["health_factor"], F.lit(HF_CAP)),
        F.coalesce(a["health_factor"], F.lit(HF_CAP)),
    )
    return per_account.filter((F.col("a_n_lend") > 0) | (F.col("c_n_lend") > 0)).select(
        "account",
        both("misc_total_collateral_eth").alias("misc_total_collateral_eth"),
        both("misc_available_borrows_eth").alias("misc_available_borrows_eth"),
        (F.lit(1.0) / least_hf).alias("current_risk_factor"),
    )


# ---------------------------------------------------------------------------
# Final assembly — defi_features_calculation.sql
# ---------------------------------------------------------------------------


def assemble_defi_features(
    wallets: DataFrame,
    historical_f: DataFrame,
    liquidation_f: DataFrame,
    current_hf_f: DataFrame,
    borrow_events: DataFrame,
) -> DataFrame:
    """`defi_features_calculation.sql:1-189`: the liquidation and
    current-health fan-ins over the borrow (sender, account) pairs
    (`:69-138`) as one aggregate, left-joined with the historical view
    onto the wallet aggregate with COALESCE-0, clamped diffs, the
    27-column contract.

    A pair whose account was never liquidated contributes 0 to the
    MIN of time-since-liquidated, so a sender with any such account
    ends at the 999999999 sentinel (`:87-95,166-172`)."""
    liq = liquidation_f.withColumnRenamed("account_address", "account")
    fan_in = (
        borrow_events.select("sender_address", F.col("account_address").alias("account"))
        .repartition("account")
        .distinct()
        .join(liq, "account", "left")
        .join(current_hf_f, "account", "left")
        .groupBy("sender_address")
        .agg(
            F.sum("liquidation_total_liquidations").alias("liquidation_total_liquidations"),
            F.sum("liquidation_total_amount_eth").alias("liquidation_total_amount_eth"),
            F.min(F.coalesce("liquidation_time_since_last_liquidated", F.lit(0))).alias(
                "liquidation_time_since_last_liquidated"
            ),
            F.sum("misc_total_collateral_eth").alias("misc_total_collateral_eth"),
            F.sum("misc_available_borrows_eth").alias("misc_available_borrows_eth"),
            F.max("current_risk_factor").alias("current_risk_factor"),
        )
    )

    # the spine merge COALESCEs every NULL, aggregated or unmatched, to 0
    t = wallets
    for right in (historical_f, fan_in):
        keep = [c for c in right.columns if c != "sender_address"]
        t = t.join(right, t.wallet_address == right.sender_address, "left").select(
            *t.columns,
            *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in keep],
        )

    # clamped diffs (`:140-152`)
    borrow_repay_diff = F.col("loan_amount_eth_sum") - F.col("borrow_total_eth_repaid_sum")
    withdraw_deposit_diff = F.col("lending_sum_redeems") - F.col("total_deposits_in_eth")

    # 27-column output contract (`:153-189`)
    return t.select(
        "wallet_address",
        F.col("credit_mix_count_borrow_protocol").alias("unique_borrow_protocol_count"),
        F.col("credit_mix_count_lending_protocol").alias("unique_lending_protocol_count"),
        F.col("misc_total_collateral_eth").alias("total_collateral_eth"),
        F.col("current_risk_factor").alias("risk_factor"),
        F.col("misc_available_borrows_eth").alias("total_available_borrows_eth"),
        F.col("lending_total_deposits").alias("deposit_count"),
        F.when(F.col("lending_time_since_first_lending") == 0, F.lit(999999999))
        .otherwise(F.col("lending_time_since_first_lending"))
        .cast("bigint")
        .alias("time_since_first_deposit"),
        F.col("total_deposits_in_eth").alias("deposit_amount_sum_eth"),
        F.col("liquidation_total_liquidations").alias("liquidation_count"),
        F.col("liquidation_total_amount_eth").alias("liquidation_amount_sum_eth"),
        F.when(F.col("liquidation_time_since_last_liquidated") == 0, F.lit(999999999))
        .otherwise(F.col("liquidation_time_since_last_liquidated"))
        .cast("bigint")
        .alias("time_since_last_liquidated"),
        F.col("lending_sum_redeems").alias("withdraw_amount_sum_eth"),
        F.col("loan_amount_eth_sum").alias("borrow_amount_sum_eth"),
        F.col("loan_amount_eth_avg").alias("borrow_amount_avg_eth"),
        F.col("borrow_total_borrows").alias("borrow_count"),
        F.col("borrow_total_eth_repaid_sum").alias("repay_amount_sum_eth"),
        F.col("borrow_total_eth_repaid_avg").alias("repay_amount_avg_eth"),
        F.col("borrow_total_repays").alias("repay_count"),
        F.when(borrow_repay_diff < 0, F.lit(0)).otherwise(borrow_repay_diff).alias(
            "borrow_repay_diff_eth"
        ),
        F.when(withdraw_deposit_diff < 0, F.lit(0))
        .otherwise(withdraw_deposit_diff)
        .alias("withdraw_deposit_diff_if_positive_eth"),
        F.col("misc_avg_available_borrows_eth").alias("total_available_borrows_avg_eth"),
        F.col("historical_weighted_avg_risk_factor").alias("avg_weighted_risk_factor"),
        F.col("historical_average_risk_factor").alias("avg_risk_factor"),
        F.col("historical_max_risk_factor").alias("max_risk_factor"),
        F.col("historical_count_above_threshold").alias(
            "risk_factor_above_threshold_daily_count"
        ),
        F.col("misc_avg_total_collateral_eth").alias("total_collateral_avg_eth"),
    )
