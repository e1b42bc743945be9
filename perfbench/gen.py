"""Seeded inputs for the benchmark.

Everything the program sees comes from here: a history of
Polygon-shaped grouped-daily bars for one universe, the constituent
snapshots that define index membership over time, the grouped-daily
payload of each date a refresh or backfill ingests, served through
``extract_load_range``'s ``transport`` argument.  The same seed gives
the same inputs.

Prices are a per-ticker random walk.  About 1 % of the bars are
OHLC-invalid (high below close), a few history bars are exact
duplicates, about 5 % of the tickers in the feed are not index
members, and the membership churns between snapshots.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

import numpy as np

SECTORS = ["Technology", "Health Care", "Financials", "Industrials",
           "Consumer Discretionary", "Consumer Staples", "Energy",
           "Utilities", "Materials", "Real Estate", "Communication"]

#: first trading date of every generated history (a Monday)
START = dt.date(2021, 1, 4)
#: wall-clock stamp written into INGESTED_AT of the history bars
INGESTED_AT = dt.datetime(2024, 1, 1, 0, 0, 0)


def weekdays(start: dt.date, n: int) -> list[dt.date]:
    out, d = [], start
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


@dataclass
class Market:
    """One seeded universe: ``n_members`` index tickers plus about 5 %
    non-member tickers, ``n_history`` trading dates of history and
    ``n_future`` further dates a refresh can ingest one at a time."""

    seed: int
    n_members: int
    n_history: int
    n_future: int = 200
    tickers: list[str] = field(init=False)
    members: list[str] = field(init=False)
    dates: list[dt.date] = field(init=False)

    def __post_init__(self) -> None:
        rng = np.random.default_rng(self.seed)
        n_other = max(1, round(self.n_members * 0.05))
        n_all = self.n_members + n_other
        order = rng.permutation(n_all)
        self.tickers = [f"TK{i:04d}" for i in range(n_all)]
        self.members = [self.tickers[i] for i in sorted(order[:self.n_members])]
        self.dates = weekdays(START, self.n_history + self.n_future)
        n_days = len(self.dates)

        # random-walk closes, opens near the previous close
        logret = rng.normal(0.0003, 0.02, (n_all, n_days))
        close = rng.uniform(10, 300, (n_all, 1)) * np.exp(
            np.cumsum(logret, axis=1))
        prev = np.concatenate([close[:, :1], close[:, :-1]], axis=1)
        opn = prev * np.exp(rng.normal(0, 0.005, (n_all, n_days)))
        high = np.maximum(opn, close) * (
            1 + np.abs(rng.normal(0, 0.01, (n_all, n_days))))
        low = np.minimum(opn, close) * (
            1 - np.abs(rng.normal(0, 0.01, (n_all, n_days))))
        invalid = rng.random((n_all, n_days)) < 0.01
        high = np.where(invalid, np.minimum(opn, close) * 0.99, high)
        vol = np.floor(rng.lognormal(12, 1, (n_all, n_days))) + 1
        self.o = np.round(opn, 4)
        self.c = np.round(close, 4)
        self.h = np.round(high, 4)
        self.l = np.round(low, 4)
        self.v = vol
        self.vw = np.round((self.o + self.h + self.l + self.c) / 4, 4)
        self.n = (vol // 100 + 1).astype(np.int64)
        self.sector = {t: SECTORS[int(rng.integers(len(SECTORS)))]
                       for t in self.tickers}

        # membership churn: 5 % of the members join at the second
        # snapshot, 3 % leave at the third
        mem = list(self.members)
        late = set(rng.choice(mem, max(1, len(mem) // 20), replace=False))
        rest = [t for t in mem if t not in late]
        gone = set(rng.choice(rest, max(1, len(mem) * 3 // 100),
                              replace=False))
        cut1 = self.dates[self.n_history // 3]
        cut2 = self.dates[2 * self.n_history // 3]
        self.snapshots = [
            ([t for t in mem if t not in late], START,
             cut1 - dt.timedelta(days=1)),
            (mem, cut1, cut2 - dt.timedelta(days=1)),
            ([t for t in mem if t not in gone], cut2, None),
        ]
        self.weights = {t: float(np.round(rng.uniform(0.01, 2.0), 6))
                        for t in mem}
        self.dup_rows = [(int(rng.integers(n_all)),
                          int(rng.integers(self.n_history)))
                         for _ in range(5)]

    # -- raw bars -------------------------------------------------------

    def history_dates(self) -> list[dt.date]:
        return self.dates[:self.n_history]

    def future_dates(self) -> list[dt.date]:
        return self.dates[self.n_history:]

    def history_arrow(self):
        """The raw bars table's history (RAW_BARS_SCHEMA), with the few
        exact duplicate bars appended."""
        import pyarrow as pa

        n_all, n_days = len(self.tickers), self.n_history
        ti = np.repeat(np.arange(n_all), n_days)
        di = np.tile(np.arange(n_days), n_all)
        extra = np.array(self.dup_rows, dtype=np.int64).reshape(-1, 2)
        ti = np.concatenate([ti, extra[:, 0]])
        di = np.concatenate([di, extra[:, 1]])
        dates = np.array(self.dates[:n_days], dtype="datetime64[D]")[di]
        ts = (dates.astype("datetime64[ms]")
              + np.timedelta64(21, "h"))
        return pa.table({
            "T": pa.array(np.array(self.tickers)[ti], pa.string()),
            "V": pa.array(self.v[ti, di], pa.float64()),
            "VW": pa.array(self.vw[ti, di], pa.float64()),
            "O": pa.array(self.o[ti, di], pa.float64()),
            "C": pa.array(self.c[ti, di], pa.float64()),
            "H": pa.array(self.h[ti, di], pa.float64()),
            "L": pa.array(self.l[ti, di], pa.float64()),
            "N": pa.array(self.n[ti, di], pa.int64()),
            "TS": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "DATE": pa.array(dates, pa.date32()),
            "INGESTED_AT": pa.array(
                np.full(len(ti), np.datetime64(INGESTED_AT, "us")),
                pa.timestamp("us")),
        })

    def grouped_daily(self, api_date: str) -> list[dict]:
        """One date's Polygon grouped-daily rows (the fetch schema)."""
        d = self.dates.index(dt.date.fromisoformat(api_date))
        ts_ms = int(dt.datetime.combine(
            self.dates[d], dt.time(21), dt.timezone.utc).timestamp() * 1000)
        return [{"T": t, "o": float(self.o[i, d]), "c": float(self.c[i, d]),
                 "h": float(self.h[i, d]), "l": float(self.l[i, d]),
                 "v": float(self.v[i, d]), "vw": float(self.vw[i, d]),
                 "n": int(self.n[i, d]), "ts_ms": ts_ms}
                for i, t in enumerate(self.tickers)]

    def transport(self, api_date: str):
        """``extract_load_range``'s transport: a 200 response carrying
        the date's rows."""
        from stock_market_data_pipeline_spark.ingest.source import Response

        return Response(200, self.grouped_daily(api_date))

    # -- constituents ------------------------------------------------------

    def snapshot_rows(self) -> list[tuple[list[tuple], dt.date, dt.date | None]]:
        """Constituent snapshots as (rows, valid_from, valid_to); a row
        is (ticker, company, sector, index_weight)."""
        return [([(t, f"{t} Corp", self.sector[t], self.weights[t])
                  for t in members], vf, vt)
                for members, vf, vt in self.snapshots]
