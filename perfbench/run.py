"""Benchmark entry point: one workload, one process, one JSON result line.

    python3 perfbench/run.py --workload build_dense --seed 1 --seconds 1 --trace 0

Run it from the root of a checkout. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` turns on the Spark event log and reports the
per-layer metrics (see perfbench/README.md). The line before the result is
the host and corpus fingerprint plus the run's details; the last line of
standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Everything the run writes goes under ``.perfbench_work/`` in the checkout
and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# A fixed driver heap that fits a 15 GB host with room for the Python
# workers; get_spark's own default (24g) does not.
DRIVER_MEM = "3g"


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "graphiti_spark", "plans", "pipeline.py")):
        print(f"perfbench: no graphiti_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import probes, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # Pin the program's environment knobs: only the benchmark's own values
    # reach get_spark, and every temporary file lands inside the checkout.
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    master = f"local[{os.cpu_count()}]"

    spec = _spec()
    layers = [m["name"] for m in spec["per_layer"]]
    run = workloads.Run(ROOT, args.seed, args.seconds, bool(args.trace), master, layers)
    os.environ["TMPDIR"] = run.path("tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    tempfile.tempdir = None
    # every JVM (the spark-submit launcher, the driver, `java -version`):
    # temp files in the run root, no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run.path('tmp')}"
    fp = probes.fingerprint(ROOT, master, DRIVER_MEM)
    try:
        workloads.WORKLOADS[args.workload](run)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        run.close()
    run.log("done")
    fp["loadavg_after"] = probes.loadavg()

    if args.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        values = run.layer
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        values = run.e2e
    metrics = {n: {"value": float(values[n]), "unit": u} for n, u in names}
    details = {"workload": args.workload, "seed": args.seed, "fingerprint": fp, **run.notes}
    print(json.dumps(details, default=str))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
