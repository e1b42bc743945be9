#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload daily_refresh --seed 1 \
        --seconds 10 --trace 0

Run from the repository root.  The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, taken from spans around the program calls and the
Spark event log attributed to them.  The line before it gives the
host's state during the run (load, probe, steal, peak RSS), for reading
the figures.  Everything else goes to stderr.
Scratch state lives under ``.perfbench/`` in the working directory and
is removed at exit, except the span files under ``.perfbench/traces``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def set_environment(work: str) -> None:
    """The environment the program runs under, set before the JVM
    starts so the JVM and its Python workers inherit it."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("PYSPARK_PIN_THREAD", "true")


def host_context() -> dict:
    """Load average and a fixed single-thread Python loop, for reading
    the figures; neither gates anything."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return {"loadavg_1m": os.getloadavg()[0],
            "probe_ms": (time.perf_counter() - t0) * 1e3}


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user and system, own and reaped children) of
    ``root`` and every process below it: the driver, the JVM and its
    Python workers.  Time the hypervisor steals is not in it."""
    stats = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                data = f.read()
        except OSError:
            continue
        # fields after "(comm) ": state ppid ... utime stime cutime cstime
        rest = data[data.rfind(")") + 2:].split()
        stats[int(name)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, stack = 0, [root]
    while stack:
        pid = stack.pop()
        ticks += stats.get(pid, (0, 0))[1]
        stack.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the host since boot."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def measure(wl, ctx, seconds: float) -> tuple[list, list, list]:
    """The closed loop: one client issues its next op when the previous
    one returns, until ``seconds`` have passed.  Returns (latencies,
    CPU seconds, op windows) per op; a failed op's latency is None."""
    from perfbench import layers

    lat: list = []
    cpu: list = []
    windows: list = []
    deadline = time.perf_counter() + seconds
    i = 0
    while time.perf_counter() < deadline:
        before = layers.fs_snapshot(ctx.wh) if ctx.traced else None
        w0, t0, c0 = time.time(), time.perf_counter(), tree_cpu_s(os.getpid())
        try:
            wl.op(ctx, i)
            lat.append(time.perf_counter() - t0)
        except Exception as exc:  # a failed op counts, the loop goes on
            traceback.print_exc()
            ctx.failures.append(f"op {i}: {exc!r:.300}")
            lat.append(None)
        cpu.append(tree_cpu_s(os.getpid()) - c0)
        windows.append((w0, time.time()))
        log(f"op {i}: {windows[-1][1] - w0:.3f}s, {cpu[-1]:.2f} CPU s")
        if before is not None:
            ctx.writes.append(layers.fs_delta(ctx.wh, before))
        i += 1
    return lat, cpu, windows


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it:
    the gateway otherwise lives until this process exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="full",
                    help="input size: full (the benchmark), wide (1,000 "
                         "tickers, for comparing layer shares) or tiny "
                         "(tests)")
    args = ap.parse_args(argv)

    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    set_environment(work)
    try:
        sys.path.insert(0, ROOT)
        import stock_market_data_pipeline_spark  # noqa: F401
        from perfbench import layers
        from perfbench import trace as tr
        from perfbench.gen import Market
        from perfbench.workloads import SCALES, WORKLOADS, Ctx
    except ImportError as exc:
        log(f"cannot import the program: {exc}")
        shutil.rmtree(work, ignore_errors=True)
        return 2
    if args.workload not in WORKLOADS or args.scale not in SCALES:
        log(f"unknown workload {args.workload!r} or scale {args.scale!r}")
        shutil.rmtree(work, ignore_errors=True)
        return 2

    from stock_market_data_pipeline_spark.session import get_spark

    spark = None
    steal0 = steal_ticks()
    try:
        host = host_context()
        conf = {"spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"}
        evdir = os.path.join(work, "eventlog")
        if args.trace:
            conf.update(tr.event_log_conf(evdir))
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
        log(f"session {time.perf_counter() - T_START:.2f}s")
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        tracer = tr.Tracer(spark if args.trace else None)
        members, history = SCALES[args.scale]
        ctx = Ctx(spark, tracer, Market(args.seed, members, history),
                  work, bool(args.trace))
        undo = layers.install(tracer) if args.trace else []
        wl = WORKLOADS[args.workload]()
        wl.setup(ctx)
        setup_s = time.perf_counter() - T_START
        setup_cpu_s = tree_cpu_s(os.getpid())
        log(f"set-up {setup_s:.2f}s, {setup_cpu_s:.2f} CPU s: "
            + ", ".join(f"{s.name} {s.dur:.2f}s" for s in tracer.spans
                        if s.name.startswith("setup.")))

        lat, cpu, windows = measure(wl, ctx, args.seconds)
        ok = [x for x in lat if x is not None]
        ok_cpu = [c for x, c in zip(lat, cpu) if x is not None]
        log(f"{len(lat)} ops, {len(ok)} ok, median "
            f"{statistics.median(ok) if ok else float('nan'):.3f}s, "
            f"{statistics.median(ok_cpu) if ok else float('nan'):.3f} CPU s")
        n_bad_ops = len(lat) - len(ok)
        n_fail_before = len(ctx.failures)
        t_verify = time.perf_counter()
        wl.verify(ctx)
        log(f"verify {time.perf_counter() - t_verify:.2f}s")
        n_wrong = len(ctx.failures) - n_fail_before
        if n_wrong:
            n_wrong = len(ok)         # a wrong final state spoils every op
        for f in ctx.failures:
            log(f"FAIL {f}")
        if args.trace:
            post = layers.post_pass(ctx, wl)
        rss_mb = (vm_hwm_kb("self") + vm_hwm_kb(jvm_pid)) / 1024.0
        tr.unwrap(undo)
    except Exception:
        traceback.print_exc()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    stop_spark(spark)

    attempted = max(1, len(lat))
    failed = min(attempted, n_bad_ops + n_wrong)
    steal1 = steal_ticks()
    host["steal_frac"] = ((steal1[0] - steal0[0])
                          / max(1, steal1[1] - steal0[1]))
    host["peak_rss_mb"] = rss_mb
    if args.trace:
        jobs = tr.read_event_log(evdir)
        metrics = layers.metrics(ctx, tracer.spans, jobs, windows, lat,
                                 host, post)
        tracer.dump(os.path.join(
            base, "traces", f"{args.workload}-{args.seed}.json"),
            {"jobs": jobs, "windows": windows,
             "attribution": tr.attribute(tracer.spans, jobs),
             "metrics": metrics})
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "setup_cpu_s": {"value": setup_cpu_s, "unit": "s"},
            "op_cpu_s": {"value": statistics.median(ok_cpu) if ok else 0.0,
                         "unit": "s"},
        }
    log(f"host load {host['loadavg_1m']:.2f}, probe {host['probe_ms']:.1f} ms"
        f", steal {host['steal_frac']:.3f}")
    shutil.rmtree(work, ignore_errors=True)
    # the host's state during the run, on the line before the result,
    # so a set of runs split across host phases can be told apart
    print(json.dumps({"host": host}), flush=True)
    print(json.dumps({"correct": failed == 0 and not ctx.failures,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
