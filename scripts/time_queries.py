#!/usr/bin/env python
"""Time named registered queries with the bench's exact methodology
(noop sink, cold + median-of-3 steady, cache/persist cleanup between
reps). Round-6 measurement helper — bench.py itself stays frozen.

Usage: python scripts/time_queries.py <query> [<query> ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SF_DIR = os.environ["SPARK_GRAFT_SF_DIR"]
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
REPS = int(os.environ.get("TIME_REPS", "4"))


def _median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def main() -> int:
    names = sys.argv[1:]
    from seo_crawler_spark.session import get_spark

    spark = get_spark(
        "time-queries", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS)
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    # warm codegen/JVM like bench.py does
    qs[names[0]](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    out = {}
    for name in names:
        runs = []
        for _ in range(REPS):
            t0 = time.monotonic()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            runs.append(time.monotonic() - t0)
            spark.catalog.clearCache()
            for rdd in list(
                spark.sparkContext._jsc.getPersistentRDDs().values()
            ):
                rdd.unpersist(False)
        out[name] = {
            "cold": round(runs[0], 3),
            "steady": round(_median(runs[1:]), 3) if len(runs) > 1 else None,
            "runs": [round(r, 3) for r in runs],
        }
        print(name, json.dumps(out[name]))
    print(json.dumps({"loadavg": os.getloadavg()[0]}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
