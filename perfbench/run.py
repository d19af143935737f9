"""Benchmark of record for node_gedcom_graph_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload gedcom_import --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5

One run: start a Spark session, generate the workload's inputs from the
seed, then run the workload's operations on the fresh session in a
closed loop (one client) for ``--seconds``, checking every result
against the generator's ground truth. ``--trace 1`` warms up first and
runs each operation a second time split into layer spans, and reports
per-layer metrics instead of end-to-end ones.
``--workload all`` runs every workload on one session and prints the
workload-specific metrics by name.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. See README.md in
this directory for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import host

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
GEN_REPEATS = 3
OVERRUN_S = 90  # a loop still missing an operation kind gives up after this


def heap_mb() -> int:
    return min(2048, host.memory_total_mb() // 4)


def configure_env() -> None:
    """Host-sized Spark settings, the package on the Python workers' path,
    and every temporary file inside the work directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(host.cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb()}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None


def start_session(trace: bool):
    from node_gedcom_graph_spark.session import get_spark

    # The heap is committed and touched up front, so peak memory does not
    # depend on when the garbage collector happened to grow the heap.
    java_opts = (f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData "
                 f"-Xms{heap_mb()}m -XX:+AlwaysPreTouch")
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
    }
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return get_spark(app_name="perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for every process the
    session started (JVM, Python worker daemon and workers) to exit."""
    from pyspark import SparkContext

    pids = host.process_tree()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at end of its stdin
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    host.reap(pids)


def set_up(wl, trace: bool) -> dict[str, float]:
    gen_s = []
    for _ in range(GEN_REPEATS):
        t0 = time.perf_counter()
        wl.generate()
        gen_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.prepare()
    t1 = time.perf_counter()
    # A timed run measures the operations on the fresh session, first
    # executions included, as a one-shot CLI call or a newly started
    # service meets them: warming up costs as much as the timed cycle
    # itself. A traced run does warm up, so that the traced and untraced
    # runs of an operation are compared at the same warmth.
    if trace:
        wl.warm_up()
    t2 = time.perf_counter()
    return {"generate_s": statistics.median(gen_s), "prepare_s": t1 - t0,
            "warm_up_s": t2 - t1}


def measure(wl, seconds: float, tracer=None) -> dict:
    """Closed loop over ``wl.ops()`` for ``seconds`` and at least one
    cycle of the workload's operation mix, then on to the end of the
    current cycle, or until ``wl.ops()`` runs out. With a tracer each
    operation runs a second time in traced form."""
    lat = {k: [] for k in wl.kinds}
    cpu = {k: [] for k in wl.kinds}
    overhead, attempted, failed = [], 0, 0
    ops = wl.ops()
    start = time.monotonic()
    steal0 = host.steal_s()
    rss = host.RssSampler()
    per_cycle, done = sum(wl.cycle.values()), 0
    while True:
        # Stop on a cycle boundary, so every run samples each operation
        # kind in the same proportion.
        now = time.monotonic() - start
        missing = any(not lat[k] for k in wl.kinds)
        complete = done % per_cycle == 0 and done > 0
        if now >= seconds and ((complete and not missing) or now >= seconds + OVERRUN_S):
            break
        op = next(ops, None)
        if op is None:
            break
        done += 1
        attempted += 1
        c0, t0 = host.tree_cpu_s(), time.perf_counter()
        try:
            res = op.run()
            dt, dc = time.perf_counter() - t0, host.tree_cpu_s() - c0
            ok = op.check(res)
        except Exception:
            traceback.print_exc()
            ok = False
        if not ok:
            failed += 1
            print(f"FAILED {wl.name} {op.kind}", file=sys.stderr)
            continue
        lat[op.kind].append(dt)
        cpu[op.kind].append(dc)
        if tracer is None:
            continue
        attempted += 1
        t0 = time.perf_counter()
        try:
            ok = op.traced(tracer)
        except Exception:
            traceback.print_exc()
            ok = False
        if ok:
            overhead.append(time.perf_counter() - t0 - dt)
        else:
            failed += 1
            print(f"FAILED traced {wl.name} {op.kind}", file=sys.stderr)
    return {"lat": lat, "cpu": cpu, "overhead": overhead, "attempted": attempted,
            "failed": failed, "window_s": time.monotonic() - start,
            "steal_s": host.steal_s() - steal0, "peak_rss_mb": rss.stop()}


def end_to_end(wl, m: dict, setup_s: float) -> dict[str, tuple[float, str]]:
    lat, cpu, mix = m["lat"], m["cpu"], wl.cycle
    if any(not lat[k] for k in wl.kinds):
        return {}
    per_cycle_cpu = sum(n * statistics.median(cpu[k]) for k, n in mix.items())
    return {
        "setup_s": (setup_s, "s"),
        "cycle_s": (sum(n * statistics.median(lat[k]) for k, n in mix.items()), "s"),
        "cpu_s_per_op": (per_cycle_cpu / sum(mix.values()), "s"),
        "peak_rss_mb": (m["peak_rss_mb"], "MB"),
    }


LAYER_UNITS = {"wall_s": "s", "task_s": "s", "gc_s": "s", "jobs": "count",
               "tasks": "count", "shuffle_write_bytes": "bytes",
               "spill_bytes": "bytes", "output_bytes": "bytes"}
EXTRA_UNITS = {"extract.plan_s": "s", "publish.files_written": "count",
               "publish.write_amplification": "ratio", "publish.wall_share": "ratio",
               "dedup.candidate_pairs": "count", "dedup.candidate_precision": "ratio",
               "similarity.pairs_scored": "count", "session.start_s": "s",
               "trace.overhead_s": "s"}
GRAPH_KINDS = ("parents_of", "children_of", "spouses", "siblings",
               "ancestors", "descendants", "connected_components")


def per_layer(wl, tracer, m: dict, session_s: tuple[float, float]) -> dict:
    import spans

    n_traced = len(m["overhead"])
    layers = spans.layer_metrics(tracer, spans.read_event_log(os.path.join(WORK, "eventlog")),
                                 n_traced)
    out = {k: (v, LAYER_UNITS[k.split(".", 1)[1]]) for k, v in layers.items()
           if k.split(".", 1)[1] in LAYER_UNITS}
    extras = dict.fromkeys(EXTRA_UNITS, 0.0)
    extras.update(wl.layer_extras(layers))
    extras["session.start_s"] = session_s[0]
    extras["trace.overhead_s"] = statistics.fmean(m["overhead"]) if n_traced else 0.0
    out["session.wall_s"] = (sum(session_s), "s")
    out.update({k: (v, EXTRA_UNITS[k]) for k, v in extras.items()})
    for kind in GRAPH_KINDS:
        walls = [s.end - s.start for s in tracer.spans if s.layer == "graph" and s.name == kind]
        out[f"graph.{kind}_s"] = (statistics.median(walls) if walls else 0.0, "s")
    return out


def named_metrics(wl, m: dict, setup: dict, setup_s: float) -> tuple[dict, dict]:
    """The workload's metrics under the names users read them by: its
    own, and those every workload has."""
    e2e = end_to_end(wl, m, setup_s)
    common = {k: e2e[k] for k in ("setup_s", "cpu_s_per_op", "peak_rss_mb")}
    common["error_rate"] = (m["failed"] / max(m["attempted"], 1), "ratio")
    common["steal_s"] = (m["steal_s"], "s")
    common.update({k: (v, "s") for k, v in setup.items()})
    return wl.summary(m["lat"]), common


def fmt(metrics: dict[str, tuple[float, str]]) -> dict[str, dict]:
    return {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}


def run(args) -> int:
    import workloads

    names = list(workloads.WORKLOADS) if args.workload == "all" else [args.workload]
    trace_on = bool(args.trace)
    t0 = time.perf_counter()
    spark = start_session(trace_on)
    session_start_s = time.perf_counter() - t0
    results = []
    try:
        for name in names:
            wl = workloads.WORKLOADS[name](spark, WORK, args.seed, args.scale)
            setup = set_up(wl, trace_on)
            setup_s = session_start_s + sum(setup.values())
            tracer = None
            if trace_on:
                import spans

                tracer = spans.Tracer(spark)
            results.append((wl, setup, setup_s, measure(wl, args.seconds, tracer), tracer))
    finally:
        t0 = time.perf_counter()
        stop_session(spark)
        session_stop_s = time.perf_counter() - t0

    metrics: dict[str, tuple[float, str]] = {}
    attempted = failed = 0
    for wl, setup, setup_s, m, tracer in results:
        attempted += m["attempted"]
        failed += m["failed"]
        own, common = named_metrics(wl, m, setup, setup_s) if not m["failed"] else ({}, {})
        print(f"{wl.name} seed={args.seed} attempted={m['attempted']} failed={m['failed']} "
              f"window_s={m['window_s']:.1f}")
        for k, (v, u) in {**own, **common}.items():
            print(f"  {k} = {v:.6g} {u}")
        for k, v in m["lat"].items():
            if v:
                print(f"  {k}: p50 {statistics.median(v):.4g} s over {len(v)}")
        if args.workload == "all":
            metrics.update(own)
            metrics.update({f"{wl.name}.{k}": vu for k, vu in common.items()})
        elif trace_on:
            metrics = per_layer(wl, tracer, m, (session_start_s, session_stop_s))
        else:
            metrics = end_to_end(wl, m, setup_s)
    print(json.dumps({"correct": failed == 0 and bool(metrics), "attempted": attempted,
                      "failed": failed, "metrics": fmt(metrics)}))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["gedcom_import", "read_path", "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the benchmark's own tests use a small one)")
    args = ap.parse_args(argv)
    if args.trace and args.workload == "all":
        ap.error("--trace 1 needs a single workload")
    # The benchmark measures the package of this checkout, never an
    # installed copy.
    if not os.path.isfile(os.path.join(ROOT, "node_gedcom_graph_spark", "__init__.py")):
        print(f"perfbench: no node_gedcom_graph_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    shutil.rmtree(WORK, ignore_errors=True)
    configure_env()
    try:
        return run(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
