"""Engine-only sf1 sweep: run registered queries against the
synthesized sf1 tables (tools/make_sf_scale.py) and record wall time +
row count per query — the 10x-scale hazard detector that caught the
round-4 parallelism bugs (single-split starvation, AQE one-partition
coalesce, k-distinct join caps).

No oracle here (the DuckDB compare at sf1 is gate_synth_sf1.py's job
for the duplicate-pressure family); this sweep answers "does the PLAN
survive 10x" — anything superlinear vs its sf0.1 time, or absolutely
slow (>15 s) without an output-size excuse, is a finding.

Usage:
  python tools/sweep_sf1.py [sf1_dir] [out.json] [name ...]
Default names: every registered query NOT present in a prior sweep
times file (/tmp/sweep_sf1_times.json) — i.e. the never-swept tail.
GEDCOM-fixture queries that synthesize their own input are
skipped only if they error on the sf1 dir (recorded as skip, not fail).
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def main() -> None:
    args = [a for a in sys.argv[1:]]
    sf_dir = args[0] if args else os.path.join(_REPO, ".benchdata", "sf1")
    out_path = args[1] if len(args) > 1 else None
    names = args[2:]

    import __spark_entry__ as ent
    from node_gedcom_graph_spark.session import get_spark

    qs = ent.queries()
    if not names:
        prior = {}
        prior_path = "/tmp/sweep_sf1_times.json"
        if os.path.exists(prior_path):
            try:
                prior = json.load(open(prior_path))
            except Exception:
                prior = {}
        names = [n for n in qs if n not in prior]

    # Pass master EXPLICITLY: get_spark only applies the 32g local-mode
    # driver heap when it knows it's building a local master, and with
    # SPARK_GRAFT_CPUS unset the no-master fallback boots a silent
    # 1g-heap JVM — which OOM'd this sweep's first graph fixpoint.
    _master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    spark = get_spark(
        app_name="sweep_sf1", master=_master, shuffle_partitions=32,
        extra_conf={"spark.ui.enabled": "false"},
    )

    out = {"sf_dir": sf_dir, "queries": {}, "over_15s": [], "errors": []}
    for name in names:
        t0 = time.monotonic()
        try:
            # noop sink, not count(): Catalyst prunes plan branches that
            # cannot change the row count (see tools/sweep_sf10.py).
            from pyspark.sql import Observation
            from pyspark.sql import functions as F

            obs = Observation(f"sweep1_{name}_{int(t0)}")
            (
                qs[name](spark, sf_dir)
                .observe(obs, F.count(F.lit(1)).alias("rows"))
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            rows = obs.get["rows"]
            wall = round(time.monotonic() - t0, 1)
            out["queries"][name] = {"rows": rows, "wall_s": wall}
            if wall > 15:
                out["over_15s"].append(name)
            print(f"OK    {name}: {rows} rows [{wall}s]", flush=True)
        except Exception as exc:  # noqa: BLE001 — sweep must survive
            wall = round(time.monotonic() - t0, 1)
            msg = str(exc).split("\n")[0][:200]
            out["queries"][name] = {"error": msg, "wall_s": wall}
            out["errors"].append(name)
            print(f"ERR   {name}: {msg}", flush=True)
            # A JVM death (executor OOM in local mode kills the whole
            # session) leaves the gateway refusing connections — every
            # later query would fail spuriously. Rebuild the session.
            try:
                spark.sql("SELECT 1").collect()
            except Exception:
                print("      session dead — rebuilding JVM", flush=True)
                try:
                    spark.stop()
                except Exception:
                    pass
                from pyspark import SparkContext
                from pyspark.sql import SparkSession

                SparkSession._instantiatedSession = None
                SparkSession._activeSession = None
                with SparkContext._lock:
                    SparkContext._active_spark_context = None
                    SparkContext._gateway = None
                    SparkContext._jvm = None
                spark = get_spark(
                    app_name="sweep_sf1",
                    master=_master,
                    shuffle_partitions=32,
                    extra_conf={"spark.ui.enabled": "false"},
                )

    if out_path:
        with open(out_path, "w") as fh:
            json.dump(out, fh, indent=1)
    print(
        f"{len(out['queries']) - len(out['errors'])} ok, "
        f"{len(out['errors'])} err, over-15s: {out['over_15s']}"
    )


if __name__ == "__main__":
    main()
