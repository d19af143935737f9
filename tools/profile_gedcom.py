"""GEDCOM pipeline measurement artifact generator.

Round-2 VERDICT flagged a pipeline bench regression (driver 2.294 ->
3.054 s) and asked for an attributed profile, not prose. This tool
measures, solo, on local[32]:

- per-iteration wall for N pipeline iterations at bench scale (50k
  records), with per-phase breakdown (synth / plan construction /
  nodes write / edges write) and JVM GC deltas -> shows the
  convergence curve and what the driver's 2-warm+2-timed sampling
  lands on;
- the 500k / 2M record scaling sweep (warm, best of 2) that SURVEY §8
  quotes.

Writes one JSON document to stdout; commit it as PROFILE_r3_gedcom.json
so SURVEY numbers trace to an artifact.

Usage: python tools/profile_gedcom.py [n_iters]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from node_gedcom_graph_spark.session import get_spark  # noqa: E402


def gc_stats(spark):
    beans = (
        spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    )
    t = c = 0
    for i in range(beans.size()):
        b = beans.get(i)
        t += b.getCollectionTime()
        c += b.getCollectionCount()
    return t, c


def one_iteration(spark, n_records: int) -> dict:
    from node_gedcom_graph_spark.gedcom.extract import extract_graph
    from node_gedcom_graph_spark.gedcom.fixtures import synth_gedcom_lines

    g0t, _ = gc_stats(spark)
    t0 = time.monotonic()
    lines = synth_gedcom_lines(spark, n_records)
    t1 = time.monotonic()
    g = extract_graph(lines, persist=True)
    t2 = time.monotonic()
    g.nodes_long.write.format("noop").mode("overwrite").save()
    t3 = time.monotonic()
    g.edges.write.format("noop").mode("overwrite").save()
    t4 = time.monotonic()
    g.unpersist()
    g1t, _ = gc_stats(spark)
    return {
        "total_s": round(t4 - t0, 3),
        "synth_plan_s": round(t1 - t0, 3),
        "extract_plan_s": round(t2 - t1, 3),
        "nodes_exec_s": round(t3 - t2, 3),
        "edges_exec_s": round(t4 - t3, 3),
        "gc_s": round((g1t - g0t) / 1000, 3),
    }


def main() -> None:
    n_iters = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    spark = get_spark(
        app_name="profile_gedcom",
        master="local[32]",
        shuffle_partitions=32,
        extra_conf={"spark.ui.enabled": "false"},
    )
    out = {
        "host_note": "solo run; no concurrent Spark jobs",
        "bench_scale_50k_iterations": [
            one_iteration(spark, 50_000) for _ in range(n_iters)
        ],
    }
    out["host_steal_jiffies_note"] = (
        "hypervisor steal (col 8, /proc/stat) recorded per sweep point; "
        "a nonzero delta means wall-clock includes host contention"
    )
    def _stat() -> tuple[int, int]:
        """(steal, busy) jiffies from the aggregate cpu line — busy is
        user+nice+system, so steal/(steal+busy) is the fraction of
        demanded CPU time the hypervisor withheld during the window
        (the interpretable number; absolute jiffies scale with how long
        the point ran x 32 cpus)."""
        try:
            with open("/proc/stat") as fh:
                f = fh.readline().split()
            return int(f[8]), int(f[1]) + int(f[2]) + int(f[3])
        except (OSError, IndexError, ValueError):
            return 0, 0

    sweep = {}
    for n in (500_000, 2_000_000, 5_000_000):
        one_iteration(spark, n)  # warm (plan construction + JIT)
        one_iteration(spark, n)  # warm 2 — first sweep point pays C2 JIT
        s0, b0 = _stat()
        best = min(one_iteration(spark, n)["total_s"] for _ in range(3))
        s1, b1 = _stat()
        ds, db = s1 - s0, b1 - b0
        sweep[str(n)] = {
            "best_warm_s": best,
            "krec_per_s": round(n / best / 1000, 1),
            "steal_jiffies": ds,
            "steal_pct_of_cpu": round(100.0 * ds / max(ds + db, 1), 2),
        }
    out["scaling_sweep"] = sweep
    print(json.dumps(out, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
