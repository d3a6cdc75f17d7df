"""Benchmark entry point; run from the repository root.

    python3 perfbench/run.py --workload code_bulk --seed 1 --seconds 20 --trace 0

``--workload all`` runs every workload in turn, one process each.
The last stdout line is one JSON object: correct, attempted, failed and
the metrics (end-to-end with ``--trace 0``, per-layer with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAMES = ("code_bulk", "kg_maintain")


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=NAMES + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run_all(args) -> int:
    """Each workload in its own process, one after the other."""
    code = 0
    for name in NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        code = max(code, subprocess.run(cmd, cwd=ROOT).returncode)
    return code


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "ner_funtool_spark")):
        print("perfbench: the ner_funtool_spark package is not here; run "
              "from a checkout of the repository", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, ROOT)
    from perfbench import host
    from perfbench import spark as session
    from perfbench.metrics import END_TO_END, PER_LAYER
    from perfbench.trace import TRACES
    from perfbench.workloads import WORKLOADS, Run

    others = host.wait_for_no_spark()
    if others:
        print(f"perfbench: refusing to start, Spark JVM(s) {others} running; "
              "concurrent Spark runs contaminate each other", file=sys.stderr)
        return 3
    calibration = host.host_calibration_sec()
    load = host.load_average()
    steal = host.StealMeter()
    cores = len(os.sched_getaffinity(0))
    # no other run is alive (checked above), so earlier debris can go
    session.clean(os.path.join(ROOT, ".perfbench_work"))
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    with host.MemSampler() as mem:
        t0 = time.perf_counter()
        spark = session.start(ROOT, work, cores)
        session_s = time.perf_counter() - t0
        try:
            run = Run(spark, work, args.seed, args.seconds, cores)
            wl = WORKLOADS[args.workload](run)
            setup_s = session_s + wl.setup()
            if args.trace:
                values = TRACES[args.workload](wl)
                values["setup.session_s"] = session_s
                units = PER_LAYER
            else:
                meter = host.StealMeter()
                values = wl.measure()
                measure_steal = meter.share()
                values["setup_s"] = setup_s
                units = END_TO_END
        finally:
            session.stop(spark)
    session.clean(work)
    if not args.trace:
        values["peak_pss_mb"] = mem.peak / 2 ** 20
    missing = set(units) - set(values)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")

    hdr = {"workload": args.workload, "seed": args.seed, "cores": cores,
           "seconds": args.seconds, "trace": args.trace,
           "host_calibration_sec": calibration, "load_avg_1m": load,
           "steal_share": steal.share(), "session_s": session_s}
    if not args.trace:
        hdr["measure_steal_share"] = measure_steal
    print("# run " + json.dumps(hdr))
    if not args.trace and measure_steal > host.STEAL_LIMIT:
        print(f"# warning: {measure_steal:.1%} of CPU time stolen while measuring "
              f"(limit {host.STEAL_LIMIT:.0%}); not comparable with a quiet run")
    print("# report " + json.dumps(run.report, default=str))
    for k in units:
        print(f"# {k} = {values[k]:.6g} {units[k]}")
    for k, (v, unit) in run.named.items():
        print(f"# {k} = {v}" if isinstance(v, str) else f"# {k} = {v:.6g} {unit}")
    print(f"# fail_ratio = {run.failed / max(run.attempted, 1):.6g} ratio "
          f"({run.failed} of {run.attempted} ops)")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
