"""Per-layer metrics of a traced run.

:func:`install` wraps the program's layer entry points in spans from
the outside (the program's files are not touched); :func:`metrics`
folds the spans, the Spark jobs attributed to them and the write
accounting into the per-layer metric set.  Every metric is present on
every workload; a layer a workload does not exercise reads 0.

Unless its name says otherwise, a time is the mean per timed op of the
time spent in spans of that name (an inner span of the same name is
not counted twice).  ``<span>.spark.*`` are means per call of that
top-level span.  ``setup.*`` are set-up phases, once per run, and so is
``manifest.create_s``: tables are created only in set-up.
"""

from __future__ import annotations

import os
import statistics

from stock_market_data_pipeline_spark import incremental
from stock_market_data_pipeline_spark.ingest.ledger import Ledger
from stock_market_data_pipeline_spark.manifest import ManifestTable
from stock_market_data_pipeline_spark.runner import Runner

from . import pipeline as P
from .trace import TASK_FIELDS, attribute, union_length, wrap_methods

#: model name -> layer span name
MODEL_SPANS = {P.BREADTH: "models.breadth", P.DIM: "models.dim"}

#: top-level op spans; each gets the ``<span>.spark.*`` set
TOP_SPANS = ("ingest.extract_load", "incremental.run", "runner.marts",
             "serve.freshness")
SPARK_FIELDS = ("jobs",) + TASK_FIELDS + ("driver_gap_s",)

OP_TIMES = ("ingest.extract_load", "ingest.ledger", "incremental.run",
            "incremental.recompute", "models.breadth", "models.dim",
            "runner.marts", "runner.audit", "runner.publish",
            "manifest.merge", "manifest.overwrite", "manifest.stat_bounds",
            "serve.freshness")
SETUP_TIMES = ("setup.history", "setup.materialize", "setup.marts",
               "setup.warmup")


def install(tracer) -> list:
    """Wrap the layer boundaries the workloads cross."""
    undo = wrap_methods(tracer, [
        (Ledger, "record", "ingest.ledger"),
        (Ledger, "completed_dates", "ingest.ledger"),
        (incremental, "recompute_trailing", "incremental.recompute"),
        (ManifestTable, "create", "manifest.create"),
        (ManifestTable, "merge", "manifest.merge"),
        (ManifestTable, "overwrite", "manifest.overwrite"),
        (ManifestTable, "stat_bounds", "manifest.stat_bounds"),
        (ManifestTable, "scan_plan", "manifest.scan_plan"),
        (ManifestTable, "publish_branch", "runner.publish"),
        (Runner, "_audit", "runner.audit"),
    ])
    orig = Runner.__dict__.get("_materialize")
    if orig is not None:
        def materialize(self, model, df):
            with tracer.span(MODEL_SPANS.get(model.name,
                                             f"models.{model.name}")):
                return orig(self, model, df)
        Runner._materialize = materialize
        undo.append((Runner, "_materialize", orig))
    return undo


# -- write accounting ------------------------------------------------------

def fs_snapshot(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def fs_delta(root: str, before: dict[str, int]) -> dict:
    """What one op wrote under the warehouse: all new bytes, the new raw
    bars (bytes and rows), and the manifest tables' new data files,
    bytes and main-chain commits."""
    import pyarrow.parquet as pq

    after = fs_snapshot(root)
    new = {p: s for p, s in after.items() if p not in before}
    raw = os.path.join(root, P.BARS) + os.sep
    tables = tuple(os.path.join(root, t) + os.sep
                   for t in (P.FCT, P.BREADTH, P.DIM))
    out = {"bytes": sum(new.values()), "raw_bytes": 0, "raw_rows": 0,
           "files_added": 0, "bytes_added": 0, "commits": 0}
    for p, s in new.items():
        name = os.path.basename(p)
        if p.startswith(raw) and name.endswith(".parquet"):
            out["raw_bytes"] += s
            out["raw_rows"] += pq.ParquetFile(p).metadata.num_rows
        elif p.startswith(tables):
            if os.sep + "_manifests" + os.sep in p:
                if name.startswith("manifest-") and name.endswith(".json"):
                    out["commits"] += 1
            elif name.endswith(".parquet"):
                out["files_added"] += 1
                out["bytes_added"] += s
    return out


# -- post pass -------------------------------------------------------------

def post_pass(ctx, wl) -> dict:
    """Untimed accounting after the measured loop: live files and
    deletion-vector rows of the workload's manifest tables."""
    out = {"live_files": 0, "dv_rows": 0}
    for name in wl.tables:
        d = ctx.table(name).detail(ctx.spark).first()
        out["live_files"] += d.num_files
        out["dv_rows"] += d.deleted_rows
    return out


# -- metric assembly ---------------------------------------------------------

def metrics(ctx, spans, jobs, windows, lat, host, post) -> dict:
    n_ops = max(1, len(lat))
    by_id = {s.id: s for s in spans}

    def in_ops(s):
        return any(a <= s.start and s.end <= b for a, b in windows)

    def outermost(s):
        p = by_id.get(s.parent)
        while p is not None:
            if p.name == s.name:
                return False
            p = by_id.get(p.parent)
        return True

    op_spans = [s for s in spans if in_ops(s)]
    totals: dict[str, float] = {}
    counts: dict[str, int] = {}
    for s in op_spans:
        if outermost(s):
            totals[s.name] = totals.get(s.name, 0.0) + s.dur
            counts[s.name] = counts.get(s.name, 0) + 1
    setup = {}
    for s in spans:
        if s.name.startswith("setup.") and s.parent is None:
            setup[s.name] = setup.get(s.name, 0.0) + s.dur

    m: dict[str, tuple[float, str]] = {}
    for name in OP_TIMES:
        m[f"{name}_s"] = (totals.get(name, 0.0) / n_ops, "s")
    for name in SETUP_TIMES:
        m[f"{name}_s"] = (setup.get(name, 0.0), "s")
    writes = ctx.writes
    raw = sum(w["raw_bytes"] for w in writes)
    m["ingest.rows_loaded"] = (sum(w["raw_rows"] for w in writes) / n_ops,
                               "count")
    for k in ("commits", "files_added", "bytes_added"):
        m[f"manifest.{k}"] = (sum(w[k] for w in writes) / n_ops,
                              "bytes" if k == "bytes_added" else "count")
    m["manifest.write_amp"] = (sum(w["bytes"] for w in writes) / raw
                               if raw else 0.0, "ratio")
    m["manifest.live_files"] = (post["live_files"], "count")
    m["manifest.dv_rows"] = (post["dv_rows"], "count")
    m["manifest.create_s"] = (sum(s.dur for s in spans
                                  if s.name == "manifest.create"
                                  and outermost(s)), "s")
    m["manifest.scan_plan_s"] = (
        totals.get("manifest.scan_plan", 0.0) / n_ops, "s")
    m["manifest.scan_plan_calls"] = (
        counts.get("manifest.scan_plan", 0) / n_ops, "count")

    att = attribute(spans, jobs)
    for name in TOP_SPANS:
        calls = [att[s.id] for s in op_spans
                 if s.name == name and s.parent is None]
        for f in SPARK_FIELDS:
            unit = ("count" if f in ("jobs", "tasks") else
                    "bytes" if f.endswith("_bytes") else "s")
            m[f"{name}.spark.{f}"] = (
                sum(c[f] for c in calls) / len(calls) if calls else 0.0,
                unit)

    # top-level spans against each op's wall time
    tops = [s for s in op_spans if s.parent is None]
    cover = []
    for a, b in windows:
        inside = [(max(s.start, a), min(s.end, b)) for s in tops
                  if s.start < b and s.end > a]
        cover.append(union_length(inside) / (b - a) if b > a else 1.0)
    m["trace.coverage_min"] = (min(cover) if cover else 0.0, "ratio")
    ok = [x for x in lat if x is not None]
    m["trace.op_p50_ms"] = (statistics.median(ok) * 1e3 if ok else 0.0, "ms")
    m["host.loadavg_1m"] = (host["loadavg_1m"], "load")
    m["host.probe_ms"] = (host["probe_ms"], "ms")
    m["host.peak_rss_mb"] = (host["peak_rss_mb"], "MB")
    m["host.steal_frac"] = (host["steal_frac"], "ratio")
    return {k: {"value": v, "unit": u} for k, (v, u) in sorted(m.items())}

