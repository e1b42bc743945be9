"""The benchmark's own tests: a tiny run of each workload, job-group
attribution across threads, and wrong outputs surfacing as failures.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def run_bench(tmp_path, workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "5", "--seconds", "1",
         "--trace", str(trace), "--scale", "tiny"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_tiny_traced_run(tmp_path, workload):
    res = run_bench(tmp_path, workload, 1)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    assert res["metrics"]["trace.coverage_min"]["value"] > 0.95
    # scratch state is gone; only the span file stays
    assert os.listdir(tmp_path / ".perfbench") == ["traces"]


def test_tiny_untraced_run_prints_every_end_to_end_metric(tmp_path):
    res = run_bench(tmp_path, "backfill", 0)
    assert res["correct"]
    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == units
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark the run exits non-zero
    and prints no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "backfill",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert out.returncode != 0 and out.stdout.strip() == ""


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    from perfbench.trace import event_log_conf
    from stock_market_data_pipeline_spark.session import get_spark

    evdir = str(tmp_path_factory.mktemp("eventlog"))
    spark = get_spark("perfbench-test", master="local[2]",
                      extra_conf=event_log_conf(evdir))
    yield spark, evdir
    spark.stop()


def test_job_from_second_thread_lands_in_its_span(traced_spark):
    from perfbench.trace import Tracer, attribute, read_event_log

    spark, evdir = traced_spark
    tracer = Tracer(spark)
    ready = threading.Event()

    def client():
        with tracer.span("client"):
            ready.wait(30)
            spark.range(100).selectExpr("sum(id)").collect()
            spark.range(50).selectExpr("count(id)").collect()

    t = threading.Thread(target=client)
    with tracer.span("main"):
        t.start()
        spark.range(10).selectExpr("max(id)").collect()
        ready.set()
        t.join(60)
    assert not t.is_alive()
    spark.stop()
    jobs = read_event_log(evdir)
    att = attribute(tracer.spans, jobs)
    by_name = {s.name: att[s.id]["jobs"] for s in tracer.spans}
    # each query is one or more jobs (adaptive execution splits stages);
    # every job lands in the span of the thread that ran it
    assert by_name["client"] >= 2 and by_name["main"] >= 1
    assert by_name["client"] + by_name["main"] == len(jobs)


def test_wrong_backfill_row_is_a_failure(tmp_path):
    """The backfill check compares the raw table with the generated
    payload: one altered price is reported."""
    import pyarrow.parquet as pq

    from perfbench import pipeline as P
    from perfbench.gen import Market
    from perfbench.workloads import Backfill, Ctx

    market = Market(5, 6, 20, n_future=2)
    ctx = Ctx(None, None, market, str(tmp_path), False)
    P.write_history(market, ctx.wh)
    day = market.future_dates()[0]
    rows = market.grouped_daily(day.isoformat())
    raw = market.history_arrow().slice(0, len(rows)).to_pylist()
    for r, p in zip(raw, rows):
        r.update(T=p["T"], O=p["o"], C=p["c"], H=p["h"], L=p["l"],
                 V=p["v"], VW=p["vw"], N=p["n"], DATE=day)
    schema = market.history_arrow().schema
    import pyarrow as pa

    def write(batch, name):
        pq.write_table(pa.Table.from_pylist(batch, schema),
                       os.path.join(ctx.wh, P.BARS, name))

    led = pq.read_table(os.path.join(ctx.wh, P.LEDGER,
                                     "part-history.parquet")).slice(0, 1)
    led = led.set_column(1, "api_date", pa.array([day.isoformat()]))
    pq.write_table(led, os.path.join(ctx.wh, P.LEDGER, "part-day.parquet"))

    wl = Backfill()
    wl.done = [day]
    write(raw, "part-day.parquet")
    wl.verify(ctx)
    assert ctx.failures == []
    raw[3]["C"] += 0.01
    write(raw, "part-day.parquet")
    wl.verify(ctx)
    assert len(ctx.failures) == 1 and "differ" in ctx.failures[0]


def test_wrong_fact_changes_the_digest(tmp_path):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from perfbench.workloads import table_digest

    spark = SparkSession.builder.master("local[1]").getOrCreate()
    try:
        df = spark.range(1000).withColumn("x", F.col("id") * 0.5)
        off = df.withColumn("x", F.when(F.col("id") == 7, 3.5000001)
                            .otherwise(F.col("x")))
        assert table_digest(df) == table_digest(df.orderBy(F.desc("id")))
        assert table_digest(df) != table_digest(off)
    finally:
        spark.stop()
