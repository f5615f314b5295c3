"""Benchmark command for the nomad_event_streamer_spark package.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 4 --trace 0

Run from the root of a checkout.  Workloads (see perfbench/README.md):

- ``queries``: a closed loop over a driver-loop query and a scan query
  on tables generated from ``--seed``;
- ``nomad_webhook``: the Nomad event stream -> webhook pipeline against
  a stub agent and receiver in a separate process.

The system under test runs at ``local[2]`` with the package's own
session configuration.  Everything the run writes goes under
``perfbench/.work/`` and is removed at exit.  The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics, or with ``--trace 1`` the per-layer metrics).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MASTER = "local[2]"


def _isolate(work_dir: str) -> None:
    """Keep every file the run writes (tables, checkpoints, Spark local
    dirs, the package zip, JVM temp files) inside the checkout."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )


def _spark_factory():
    from nomad_event_streamer_spark.session import get_spark

    spark = get_spark(master=MASTER)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM that PySpark launched, and wait for
    it: the JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(30)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("queries", "nomad_webhook"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:
        import nomad_event_streamer_spark as package  # the system under test
    except ImportError as exc:
        print(f"perfbench: cannot import the package from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(package.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the package imported is not this checkout's: {package.__file__}",
              file=sys.stderr)
        return 2

    work_dir = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    _isolate(work_dir)
    import queries
    import stream

    workload = queries if args.workload == "queries" else stream
    spark = None

    def factory():
        nonlocal spark
        spark = _spark_factory()
        return spark

    try:
        result = workload.run(factory, args.seed, args.seconds, bool(args.trace), work_dir, T_START)
    finally:
        if spark is not None:
            _stop_jvm(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    produced = result["layers"] if args.trace else result["metrics"]
    undeclared = set(produced) - {m["name"] for m in declared}
    if undeclared:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(undeclared)}")
    # A per-layer metric of a layer this workload does not exercise reads 0.
    metrics = {m["name"]: produced.get(m["name"], (0, m["unit"])) for m in declared}
    for name, (value, unit) in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
