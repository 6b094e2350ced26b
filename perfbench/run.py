"""The repository's benchmark: one workload per run, its outputs checked.

    python3 perfbench/run.py --workload {frontier,replay,curate} \\
        --seed N --seconds S --trace {0,1}

Run it from the root of a checkout. It builds its inputs from ``--seed``,
starts the engine's Spark session sized to this host's CPUs, and runs
whole units of the workload (a crawl to fixpoint, or a pass of the query
suite) until ``--seconds`` have passed, at least one; the first unit,
cold in a fresh process, is the one timed. Then it checks every unit's
output against a computation made apart from the engine,
stops Spark and every process Spark started, removes what the run wrote,
and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (``setup_s``,
``job_s``, ``items_per_s``); with ``--trace 1`` the
run installs the per-layer wrappers and the event log, replays a
committed crawl round layer by layer, prints the per-layer metrics, and
writes them with the host's shape to ``.perfbench/layers_<workload>.json``.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import host  # noqa: E402  (stdlib-only; first, to read the start time)

AGE_AT_IMPORT = host.process_age_s()
T_IMPORT = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("frontier", "replay", "curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM (a caller's timeout) unwinds through the finally below,
    # so Spark is still stopped and the work dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(root, "infinitycrawler_spark"))):
        print("perfbench: run from the root of a checkout of the engine "
              "(no __spark_entry__.py / infinitycrawler_spark here)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    out_dir = os.path.join(root, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    host.confine(work, event_log=bool(args.trace))

    from layers import Tracer, driver_idle_s
    from workloads import WORKLOADS

    session = tracer = None
    idle = []
    try:
        session = host.Session(f"perfbench-{args.workload}")
        tracer = Tracer(session.spark) if args.trace else None
        workload = WORKLOADS[args.workload](session.spark, work, args.seed,
                                            tracer)
        workload.setup()
        setup_s = AGE_AT_IMPORT + time.perf_counter() - T_IMPORT

        # the first unit is the measured one: the job a fresh process
        # runs, cold. Units that still fit in the window are checked too.
        deadline = time.perf_counter() + args.seconds
        units = [workload.run_unit()]
        rss_mb = session.jvm_peak_rss_mb()
        while time.perf_counter() < deadline:
            units.append(workload.run_unit())

        attempted, failed, errors = workload.check()
        layers = workload.replay_layers() if args.trace else {}
    finally:
        try:
            if session is not None:
                session.stop()
            # the event log is complete once Spark has stopped
            if tracer is not None and tracer.windows:
                idle = driver_idle_s(os.path.join(work, "events"),
                                     tracer.windows)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    job_s = units[0].seconds
    if args.trace:
        layers.update(units[0].spans)
        layers["session.start_s"] = session.start_s
        layers["session.jvm_peak_rss_mb"] = rss_mb
        layers["trace.job_s"] = job_s
        if idle:
            layers["plans.driver_idle_s"] = idle[0]
    for e in errors:
        print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)

    if args.trace:
        # the per-layer metrics BENCHMARK.json lists; a layer that the
        # workload does not reach reports 0
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            units_of = {m["name"]: m["unit"]
                        for m in json.load(f)["per_layer"]}
        metrics = {k: {"value": layers.get(k, 0), "unit": u}
                   for k, u in units_of.items()}
        with open(os.path.join(out_dir, f"layers_{args.workload}.json"),
                  "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "nproc": host.nproc(), "mem_mb": host.mem_total_mb(),
                       "units": len(units), "metrics": metrics,
                       "extra": {k: v for k, v in layers.items()
                                 if k not in units_of}}, f, indent=1)
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "job_s": {"value": job_s, "unit": "s"},
            "items_per_s": {"value": units[0].items / job_s, "unit": "1/s"},
        }
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
