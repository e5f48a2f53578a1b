"""The repository's benchmark: one command, named workloads, one JSON line.

    python3 perfbench/run.py --workload stream_ingest --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout.  Workloads (see README.md):

  stream_ingest  open loop: Kafka-shaped parquet files dropped on a fixed
                 schedule, decoded, deduplicated within a watermark and
                 written by the idempotent parquet sink;
  registry_mix   closed loop, one client: registered queries run back to
                 back on sf0.1-shaped fixtures.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with spans and counters on and prints the per-layer metrics (the
trace itself is written under the build directory).  The last line of
stdout is always the result object; progress goes to stderr.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import harness  # noqa: E402

WORKLOADS = ("stream_ingest", "registry_mix")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="length of the measured region")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=None,
                   help="local[N] cores (default: SPARK_GRAFT_CPUS, else nproc)")
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if args.seconds <= 0:
        harness.log("--seconds must be positive")
        return 2
    env = harness.Environment(ROOT, cores=args.cores, tag=f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        env.check_checkout()
        env.refuse_if_other_spark()
        if args.workload == "stream_ingest":
            import stream as workload
        else:
            import registry as workload
        result = workload.run(env, args, PROCESS_START)
    finally:
        env.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except harness.Refused as e:
        harness.log(f"refused: {e}")
        sys.exit(3)
