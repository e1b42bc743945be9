"""The benchmark's workloads: set-up, the timed operation, and the
untimed correctness check of each.

``daily_refresh``  one client, closed loop: each op ingests one new
                   trading date and republishes the marts.
``backfill``       one client, closed loop: each op ingests one date
                   into the raw bars table and its ledger.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from stock_market_data_pipeline_spark import serve
from stock_market_data_pipeline_spark.incremental import (
    incremental_momentum_run,
    materialize_momentum,
)
from stock_market_data_pipeline_spark.ingest.loader import extract_load_range
from stock_market_data_pipeline_spark.manifest import ManifestTable
from stock_market_data_pipeline_spark.models.marts import fct_trading_momentum

from . import pipeline as P

#: universe size per scale: members x history dates.  ``full`` is the
#: benchmark's; its history is at least twice the engine's 253-row
#: warm-up, so a refresh that touched only the trailing slice could
#: show it.  ``wide`` (1,000 tickers) is for checking that the layer
#: shares of ``full`` hold on a wider universe; ``tiny`` is for tests.
SCALES = {"full": (25, 510), "wide": (1000, 300), "tiny": (12, 30)}


#: serving view names (serve.py's defaults)
VIEWS = {P.BREADTH: "market_breadth", P.DIM: "dim_securities"}


class Ctx:
    """Per-run state handed to every workload step."""

    def __init__(self, spark, tracer, market, work: str, traced: bool):
        self.spark, self.tracer, self.market = spark, tracer, market
        self.work, self.traced = work, traced
        self.wh = os.path.join(work, "warehouse")
        self.failures: list[str] = []
        #: per-op write accounting (traced runs)
        self.writes: list[dict] = []

    def span(self, name):
        return self.tracer.span(name)

    def table(self, name: str) -> ManifestTable:
        ts = "trade_month" if name == P.FCT else None
        return ManifestTable(os.path.join(self.wh, name), ts)


# -- daily_refresh -------------------------------------------------------------

def serve_views(ctx: Ctx) -> None:
    """The dashboard's read path: bind its views to the current
    snapshots of breadth and dim through the registered DSv2 reader."""
    for name in (P.BREADTH, P.DIM):
        ctx.table(name).register(ctx.spark, VIEWS[name])


def ingest_date(ctx: Ctx, d) -> None:
    """One date through the ingest path, from the seeded transport."""
    r = extract_load_range(ctx.spark, ctx.wh, d, d,
                           transport=ctx.market.transport)
    if r["loaded"] != 1:
        raise RuntimeError(f"{d}: ingest loaded {r}")


class DailyRefresh:
    name = "daily_refresh"
    tables = (P.FCT, P.BREADTH, P.DIM)

    def setup(self, ctx: Ctx) -> None:
        """History on disk, the momentum fact materialized, breadth and
        dim created from it, and one warm-up date refreshed."""
        spark = ctx.spark
        with ctx.span("setup.history"):
            P.write_history(ctx.market, ctx.wh)
            self.dim = P.constituents(spark, ctx.market)
        with ctx.span("setup.materialize"):
            materialize_momentum(
                spark, P.universe(P.staged(spark, ctx.wh), self.dim),
                os.path.join(ctx.wh, P.FCT), P.PARAMS)
        with ctx.span("setup.marts"):
            P.create_marts(spark, ctx.wh)
        self.dates = ctx.market.future_dates()
        # One date refreshed untimed, so every timed date finds the
        # refresh path, the DSv2 reader and its workers warm.  Warming
        # only the DSv2 read left the first timed date 22-39 % above
        # the next in CPU time (results/partial_warmup.txt).
        with ctx.span("setup.warmup"):
            self.refresh(ctx, self.dates[0])

    def op(self, ctx: Ctx, i: int) -> None:
        self.refresh(ctx, self.dates[i + 1])

    def refresh(self, ctx: Ctx, d) -> None:
        """One trading date: bars available -> marts published and the
        new date visible to the dashboard."""
        spark = ctx.spark
        with ctx.span("ingest.extract_load"):
            ingest_date(ctx, d)
        with ctx.span("incremental.run"):
            incremental_momentum_run(
                spark, P.universe(P.staged(spark, ctx.wh), self.dim),
                P.fct_table(ctx.wh), P.PARAMS)
        with ctx.span("runner.marts"):
            P.publish_marts(spark, ctx.wh)
        with ctx.span("serve.freshness"):
            serve_views(ctx)
            row = serve.data_freshness(spark).first()
        if row.data_through != d:
            raise RuntimeError(f"{d}: dashboard sees {row.data_through}")

    def verify(self, ctx: Ctx) -> None:
        """The incremental fact equals the fact rebuilt from scratch
        over the same raw history (order-independent row hash)."""
        spark = ctx.spark
        got = P.read_fct(spark, ctx.wh)
        want = fct_trading_momentum(
            P.universe(P.staged(spark, ctx.wh), self.dim), P.PARAMS)
        with ThreadPoolExecutor(2) as pool:
            fa = pool.submit(table_digest, got)
            fb = pool.submit(table_digest, want.select(*got.columns))
            a, b = fa.result(), fb.result()
        if a != b:
            ctx.failures.append(f"incremental fact != rebuild: {a} vs {b}")


def table_digest(df) -> tuple:
    """(rows, sum of per-row 64-bit hashes): equal digests mean equal
    multisets of rows up to a hash collision."""
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
                 .alias("h")).first()
    return int(row.n), str(row.h)


# -- backfill ------------------------------------------------------------------

class Backfill:
    """The reference's backfill mode: dates ingested one at a time into
    the raw bars table and its ledger, nothing downstream."""

    name = "backfill"
    tables = ()

    def setup(self, ctx: Ctx) -> None:
        """History and ledger on disk, then one date ingested untimed so
        the first timed date finds the ingest path warm."""
        with ctx.span("setup.history"):
            P.write_history(ctx.market, ctx.wh)
        self.dates = ctx.market.future_dates()
        with ctx.span("setup.warmup"):
            ingest_date(ctx, self.dates[0])
        self.done = [self.dates[0]]

    def op(self, ctx: Ctx, i: int) -> None:
        d = self.dates[i + 1]
        with ctx.span("ingest.extract_load"):
            ingest_date(ctx, d)
        self.done.append(d)

    def verify(self, ctx: Ctx) -> None:
        """The raw table holds exactly the generated payload of every
        ingested date, and the ledger marks each one completed."""
        import pyarrow.dataset as ds

        cols = ["DATE", "T", "O", "C", "H", "L", "V", "VW", "N"]
        raw = ds.dataset(os.path.join(ctx.wh, P.BARS)).to_table(
            columns=cols, filter=ds.field("DATE") >= self.done[0])
        got = sorted(zip(*(raw.column(c).to_pylist() for c in cols)))
        want = sorted((d, r["T"], r["o"], r["c"], r["h"], r["l"], r["v"],
                       r["vw"], r["n"])
                      for d in self.done
                      for r in ctx.market.grouped_daily(d.isoformat()))
        if got != want:
            ctx.failures.append(f"raw bars differ from the payload: "
                                f"{len(got)} rows vs {len(want)}")
        led = ds.dataset(os.path.join(ctx.wh, P.LEDGER)).to_table()
        completed = {a for a, st in zip(led.column("api_date").to_pylist(),
                                        led.column("status").to_pylist())
                     if st == "completed"}
        missing = [d for d in self.done if d.isoformat() not in completed]
        if missing:
            ctx.failures.append(f"ledger misses {missing}")


WORKLOADS = {w.name: w for w in (DailyRefresh, Backfill)}
