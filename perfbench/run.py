"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve_small --seed 1 --seconds 12 --trace 0

Prints a run record line (``perfbench-record {...}``) and, as the last
line of standard output, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics (spans
are also written to ``perfbench/.work/traces/``). Exits 1 when any
operation failed or returned a wrong result, 2 when it cannot run.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="length of the closed-loop read phase")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None,
                    help="N of local[N]; default min(2, nproc)")
    ap.add_argument("--tiny", action="store_true",
                    help="small inputs, for the smoke test")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    nproc = os.cpu_count() or 1
    cores = args.cores or min(2, nproc)
    if cores > nproc:
        print(f"refusing local[{cores}] on {nproc} cores", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "lucene_spark")):
        print(f"no lucene_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workload import WORKLOADS, Run

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Spark's JVM and its Python workers inherit these: the package
    # resolves from this checkout and scratch files stay in `work`
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # get_spark leaves Spark's console progress bar on; it only draws
    # on stderr, every 200 ms, which a benchmark does not want
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    # get_spark's driver heap defaults to 8g; with that much room the
    # heap's growth depends on when GC runs, and peak_rss_mb spread by
    # a third across seeds. 2g holds every workload.
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work} -Dderby.system.home={work} -XX:-UsePerfData")
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), cores,
              work, tiny=args.tiny)
    try:
        result = run.execute()
    finally:
        if args.trace:
            stamp = time.strftime("%Y%m%dT%H%M%S")
            run.tracer.dump(
                os.path.join(HERE, ".work", "traces",
                             f"{args.workload}-{args.seed}-{stamp}.json"),
                {"record": run.record},
            )
        shutil.rmtree(work, ignore_errors=True)
    print("perfbench-record " + json.dumps(run.record, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
