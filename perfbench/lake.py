"""Seeded, vectorized generator for a DeFi lake in the FIXTURES.md schemas.

Writes the raw, stage, analytics and sandbox input tables that
``run_pipeline`` reads, at benchmark sizes, as plain Parquet files: the
history of each daily-arriving table in bulk files of
``HISTORY_FILE_DAYS`` days. ``write_day`` then adds one file per table
holding one more day of raw events, market and position snapshots and
token prices, every timestamp and block number strictly newer than the
history, so the pipeline's high-watermark appends pick it up.

Everything is drawn from ``numpy.random.default_rng(seed)``: the same
seed and sizes give byte-identical inputs. Addresses and hashes are built
as whole arrays (no per-row Python), so a lake of a few hundred thousand
events is written in about a second.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS = ("borrow", "deposit", "repay", "withdraw", "liquidation")
ZERO_ADDRESS = "0x" + "0" * 40
PROTOCOLS = ("aave-v2-eth", "compound-v2-eth")
NUMERAIRE_MARKETS = ("Aave interest bearing WETH", "Compound Ether")
BASE_TS = 1_700_000_000  # 2023-11-14 UTC
BASE_BLOCK = 18_000_000
BLOCKS_PER_DAY = 7200
DAY = 86400
HISTORY_FILE_DAYS = 15  # the history lands in bulk files of this many days
_HEX = np.frombuffer(b"0123456789abcdef", dtype="S1")


@dataclass(frozen=True)
class LakeSpec:
    """Input sizes of one generated lake."""

    wallets: int = 10_000
    history_days: int = 60
    # events per wallet per event table over the history (liquidations
    # get a fifth of that)
    events_per_wallet: float = 3.0
    positions_per_day: int = 500
    tokens: int = 24
    markets: int = 14

    def events_per_day(self, event: str) -> int:
        n = self.wallets * self.events_per_wallet / self.history_days
        return max(1, int(n / 5 if event == "liquidation" else n))


def _hex(rng: np.random.Generator, n: int, width: int) -> np.ndarray:
    """``n`` random lowercase ``0x``-prefixed hex strings of ``width`` digits."""
    digits = _HEX[rng.integers(0, 16, (n, width), dtype=np.uint8)]
    return np.char.add("0x", digits.view(f"S{width}").ravel().astype("U"))


def _upper_every(a: np.ndarray, k: int) -> np.ndarray:
    """Upper-case every ``k``-th entry (exercises LOWER() normalization)."""
    out = a.copy()
    out[::k] = np.char.upper(out[::k])
    return out


def _ts_array(epochs: np.ndarray) -> pa.Array:
    return pa.array(epochs.astype("datetime64[s]").astype("datetime64[us]"),
                    type=pa.timestamp("us", tz="UTC"))


def _year_month(epochs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    d = epochs.astype("datetime64[s]")
    year = d.astype("datetime64[Y]").astype(np.int64) + 1970
    month = d.astype("datetime64[M]").astype(np.int64) % 12 + 1
    return year.astype(str), month.astype(str)


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


class DefiLake:
    """The entities of one lake (wallets, tokens, markets) plus the
    writers for its history and its later days."""

    def __init__(self, spec: LakeSpec, seed: int):
        self.spec = spec
        self.seed = seed
        rng = np.random.default_rng([seed, 0])
        self.wallets = _hex(rng, spec.wallets, 40)
        self.tokens = np.concatenate([[ZERO_ADDRESS], _hex(rng, spec.tokens - 1, 40)])
        self.markets = _hex(rng, spec.markets, 40)
        self.market_names = np.array(
            list(NUMERAIRE_MARKETS) + [f"Market {i}" for i in range(spec.markets - 2)]
        )
        mi = np.arange(spec.markets)
        self.market_protocol = np.where(
            mi >= 2, np.array(PROTOCOLS)[mi % 2], np.array(PROTOCOLS)[np.minimum(mi, 1)]
        )
        self.token_decimals = np.concatenate(
            [[18], rng.choice([6, 8, 18], spec.tokens - 2), [0]]
        ).astype(np.int64)

    def _day_rng(self, day: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, 1, day])

    # --- daily-arriving tables -------------------------------------------
    def _events(self, rng, event: str, day: int) -> pa.Table:
        n = self.spec.events_per_day(event)
        ts = BASE_TS + day * DAY + rng.integers(0, DAY, n)
        senders = self.wallets[rng.integers(0, len(self.wallets), n)]
        others = self.wallets[rng.integers(0, len(self.wallets), n)]
        accounts = np.where(rng.random(n) < 0.3, others, senders)
        year, month = _year_month(ts)
        cols = {
            "block_number": BASE_BLOCK + (ts - BASE_TS) // 12,
            "log_index": rng.integers(0, 300, n),
            "transaction_hash": _hex(rng, n, 64),
            "timestamp": _ts_array(ts),
            "protocol_name": np.array(["aave", "compound"])[rng.integers(0, 2, n)],
            "contract_version": np.full(n, "v2"),
            "market_address": _upper_every(
                self.markets[rng.integers(0, len(self.markets), n)], 7
            ),
            "token_address": self.tokens[rng.integers(0, len(self.tokens), n)],
            "category": np.full(n, event),
            "account_address": accounts,
            "quantity": np.round(rng.uniform(-5, 50, n), 6) * 10.0**18,
            "sender_address": senders,
            "year": year,
            "month": month,
        }
        if event == "liquidation":
            cols["liquidated_token_address"] = self.tokens[
                rng.integers(0, len(self.tokens), n)
            ]
            cols["liquidator_address"] = self.wallets[
                rng.integers(0, len(self.wallets), n)
            ]
            cols["quantity_liquidated"] = np.round(rng.uniform(0, 20, n), 6) * 10.0**18
        return pa.table(cols)

    def _market_data(self, rng, day: int) -> pa.Table:
        m = self.spec.markets
        price = np.round(rng.uniform(0.1, 3000, m), 6)
        if day % 11 == 0:
            price[5] = 0.0  # guarded division in the merge
        ts = np.full(m, BASE_TS + day * DAY)
        year, month = _year_month(ts)
        return pa.table({
            "liquidationthreshold": np.round(rng.uniform(50, 90, m), 2),
            "name": self.market_names,
            "inputtokenpriceusd": price,
            "id": self.markets,
            "inputtoken": pa.StructArray.from_arrays(
                [pa.array(rng.choice([6, 8, 18], m).astype(np.int64))], ["decimals"]
            ),
            "protocol": self.market_protocol,
            "block_number": np.full(m, BASE_BLOCK + day * BLOCKS_PER_DAY, dtype=np.int64),
            "block_timestamp": ts,
            "timestamp": _ts_array(ts),
            "year": year,
            "month": month,
        })

    def _positions(self, rng, day: int) -> pa.Table:
        n = self.spec.positions_per_day
        mi = rng.integers(0, self.spec.markets, n)
        balance = rng.uniform(1e-9, 5.0, n) * 10.0**18
        tiny = rng.random(n) < 0.05  # tiny balances reach the clamp branches
        balance[tiny] = rng.uniform(1e-13, 1e-9, int(tiny.sum()))
        ts = np.full(n, BASE_TS + day * DAY)
        block = np.full(n, BASE_BLOCK + day * BLOCKS_PER_DAY, dtype=np.int64)
        year, month = _year_month(ts)
        accounts = np.char.upper(self.wallets[rng.integers(0, len(self.wallets), n)])
        return pa.table({
            "balance": balance,
            "id": np.char.add(f"pos-{day}-", np.arange(n).astype(str)),
            "iscollateral": rng.random(n) < 0.8,
            "market": pa.StructArray.from_arrays(
                [pa.array(self.market_names[mi]), pa.array(self.markets[mi])],
                ["name", "id"],
            ),
            "side": np.where(rng.random(n) < 0.45, "BORROWER", "LENDER"),
            "account": pa.StructArray.from_arrays([pa.array(accounts)], ["id"]),
            "blocknumber": block,
            "protocol": self.market_protocol[mi],
            "block_timestamp": ts,
            "block_number": block,
            "timestamp": _ts_array(ts),
            "year": year,
            "month": month,
        })

    def _token_prices(self, rng, day: int) -> pa.Table:
        ti = np.arange(1, len(self.tokens))  # the zero address has no price
        # every fifth token is priced only every 9th day: as-of misses
        ti = ti[(ti % 5 != 0) | (day % 9 == 0)]
        price = np.round(rng.uniform(0.0001, 2.0, len(ti)), 8)
        addr, ts = self.tokens[ti], np.full(len(ti), BASE_TS + day * DAY)
        if day == 10 and 3 in ti:  # a duplicate max-timestamp tie
            k = int(np.flatnonzero(ti == 3)[0])
            addr = np.append(addr, addr[k])
            ts = np.append(ts, ts[k])
            price = np.append(price, price[k] + 0.5)
        return pa.table({"address": addr, "timestamp": ts, "price": price})

    def _day_tables(self, day: int) -> dict[str, pa.Table]:
        rng = self._day_rng(day)
        out = {f"raw/transpose_{e}_events": self._events(rng, e, day) for e in EVENTS}
        out["raw/the_graph_historical_market_data"] = self._market_data(rng, day)
        out["raw/the_graph_historical_account_positions"] = self._positions(rng, day)
        out["analytics/features_daily_token_prices"] = self._token_prices(rng, day)
        return out

    def write_days(self, base: str, first: int, last: int) -> int:
        """Write days ``first..last`` of every daily-arriving table under
        ``base``, one file per table; returns the raw event rows written."""
        days = [self._day_tables(d) for d in range(first, last + 1)]
        rows = 0
        for table in days[0]:
            t = pa.concat_tables([d[table] for d in days])
            if table.startswith("raw/transpose_"):
                rows += t.num_rows
            _write(t, f"{base}/{table}/days-{first:05d}-{last:05d}.parquet")
        return rows

    def write_day(self, base: str, day: int) -> int:
        """Write one more day (a daily increment)."""
        return self.write_days(base, day, day)

    # --- one-off tables ---------------------------------------------------
    def write_history(self, base: str) -> int:
        """Write the full history plus the reference tables; returns the
        raw event rows written."""
        rng = np.random.default_rng([self.seed, 2])
        spec = self.spec
        rows = sum(
            self.write_days(base, d, min(d + HISTORY_FILE_DAYS, spec.history_days) - 1)
            for d in range(0, spec.history_days, HISTORY_FILE_DAYS)
        )
        _write(pa.table({"contract_address": self.tokens, "decimals": self.token_decimals}),
               f"{base}/stage/ethereum_tokens_metadata/part-0.parquet")
        _write(pa.table({"contract_address": self.tokens[1:3]}),
               f"{base}/sandbox/defi_events_tokens_to_drop/part-0.parquet")
        test_wallets = self.wallets[: max(40, spec.wallets // 25)]
        _write(pa.table({"wallet_address": np.char.upper(test_wallets)}),
               f"{base}/sandbox/test_set_wallet_addresses/part-0.parquet")
        n = max(600, spec.wallets // 2)
        mi = rng.integers(0, spec.markets, n)
        _write(pa.table({
            "balance": rng.uniform(1e-9, 5.0, n) * 10.0**18,
            "id": np.char.add("cpos-", np.arange(n).astype(str)),
            "is_collateral": rng.random(n) < 0.8,
            "market": self.market_names[mi],
            "market_id": self.markets[mi],
            "side": np.where(rng.random(n) < 0.45, "BORROWER", "LENDER"),
            # half of them on test wallets, so the semi-join keeps rows
            "account": np.where(
                rng.random(n) < 0.5,
                test_wallets[rng.integers(0, len(test_wallets), n)],
                self.wallets[rng.integers(0, len(self.wallets), n)],
            ),
            "protocol": self.market_protocol[mi],
        }), f"{base}/raw/the_graph_current_collateral_positions/part-0.parquet")
        return rows

    def now_after(self, day: int) -> int:
        """The evaluation time of a run made once day ``day`` has landed."""
        return BASE_TS + (day + 1) * DAY
