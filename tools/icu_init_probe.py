"""Time the one-time initialization of Spark's ICU case-mapping class.

With ICU case mappings on (Spark's default), the first ``lower()`` or
``upper()`` a JVM evaluates initializes ``CollationAwareUTF8String``,
which builds its tables through ICU; every other task of that stage
waits on the class-init monitor. ``Class.forName`` of the class costs
that initialization when it has not happened yet, and next to nothing
when it has, so its time tells whether a workload paid it.

    python tools/icu_init_probe.py --mode fresh            # on a fresh session
    python tools/icu_init_probe.py --mode cycle --seed 1   # after one read_path cycle

``--mode cycle`` runs one full cycle of perfbench's ``read_path``
workload (untimed set-up, then every operation once or as its mix
says) on a fresh session first, as ``perfbench/run.py --seconds 0``
would, and also prints each operation kind's median latency.
``--checkout DIR`` probes another checkout's package and perfbench.
Prints one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ICU_CLASS = "org.apache.spark.sql.catalyst.util.CollationAwareUTF8String"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--mode", choices=("fresh", "cycle"), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--checkout", default=os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    args = ap.parse_args(argv)
    root = os.path.abspath(args.checkout)
    sys.path[:0] = [os.path.join(root, "perfbench"), root]
    import run as pb  # perfbench/run.py of that checkout
    import workloads

    shutil.rmtree(pb.WORK, ignore_errors=True)
    pb.configure_env()
    out: dict[str, object] = {"mode": args.mode, "checkout": root}
    spark = pb.start_session(False)
    try:
        if args.mode == "cycle":
            wl = workloads.WORKLOADS["read_path"](spark, pb.WORK, args.seed, 1.0)
            pb.set_up(wl, False)
            m = pb.measure(wl, 0)
            out.update(seed=args.seed, failed=m["failed"],
                       p50_s={k: statistics.median(v) for k, v in m["lat"].items() if v})
        t0 = time.perf_counter()
        spark._jvm.java.lang.Class.forName(ICU_CLASS)
        out["for_name_s"] = time.perf_counter() - t0
    finally:
        pb.stop_session(spark)
        shutil.rmtree(pb.WORK, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
