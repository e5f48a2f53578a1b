"""Per-query timing split: construction (eager driver-side work — iterative
loops, streaming replays) vs noop-sink execution of the returned plan, plus
the Spark jobs each rep launched (read from the status tracker through a
per-rep job group; streaming micro-batches run outside the group and are
not counted).

Guide §1 (measure first): bench.py reports one number per query; this tool
splits it so optimization effort lands on the phase that actually costs.

Usage:
    python tools/profile_query.py <query> [<query> ...]   # repeats each 2x
"""

from __future__ import annotations

import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> int:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from odni_apache_beam_consumer_spark.plans.registry import all_queries
    from odni_apache_beam_consumer_spark.session import get_spark

    spark = get_spark(app_name="profile_query")
    sc = spark.sparkContext
    queries = all_queries()

    # Warmup (same as bench.py): absorb session/codegen one-time costs.
    wdf = queries["pricing_summary"](spark, sf_dir)
    wdf.write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()

    for i, name in enumerate(names):
        for rep in range(2):
            group = f"profile:{i}:{name}:{rep}"
            sc.setJobGroup(group, f"profile:{name}")
            t0 = time.monotonic()
            df = queries[name](spark, sf_dir)
            t1 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.monotonic()
            spark.catalog.clearCache()
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            print(
                f"{name} rep{rep}: total={t2 - t0:.3f}s "
                f"construct={t1 - t0:.3f}s noop={t2 - t1:.3f}s jobs={jobs}",
                flush=True,
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
