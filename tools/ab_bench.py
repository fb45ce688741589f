"""Interleaved A/B bench for one catalog query vs a candidate rewrite.

The host this round shows variable CPU steal, so absolute wall times
drift minute to minute; alternating old/new in ONE session makes the
comparison robust to that drift (both variants sample the same load).

Usage: python tools/ab_bench.py <query_name> <candidate.py> [reps]
The candidate file defines `candidate(spark, sf_dir)`; keep it out of
the repository (tools/ab_candidate.py is gitignored for that). Both
variants get one untimed warmup (materializes shared persisted
frames so neither side pays cache-build in the timed reps).
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from social_link_prediction_spark import queries as catalog
from social_link_prediction_spark.session import get_spark


def run(fn, spark, sf_dir) -> float:
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def load_candidate(path: str):
    spec = importlib.util.spec_from_file_location("ab_candidate", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.candidate


def main() -> None:
    name, cand_path = sys.argv[1], sys.argv[2]
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    old = catalog.QUERIES[name]
    new = load_candidate(cand_path)
    spark = get_spark(
        "ab-bench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    spark.sparkContext.setLogLevel("ERROR")

    run(catalog.QUERIES["pricing_summary"], spark, sf_dir)  # JVM warmup
    run(old, spark, sf_dir)
    run(new, spark, sf_dir)

    cold = os.environ.get("AB_COLD", "") == "1"
    at, bt = [], []
    for i in range(reps):
        if cold:
            spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"A:{name}#{i}")
        at.append(run(old, spark, sf_dir))
        if cold:
            spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"B:{name}#{i}")
        bt.append(run(new, spark, sf_dir))
        print(
            f"rep {i}: old {at[-1]:6.2f}s  new {bt[-1]:6.2f}s", flush=True
        )
    print(
        f"\n{name}: old med {statistics.median(at):.2f}s min {min(at):.2f}s"
        f" | new med {statistics.median(bt):.2f}s min {min(bt):.2f}s"
        f" | speedup med {statistics.median(at)/statistics.median(bt):.2f}x"
        f" min {min(at)/min(bt):.2f}x"
    )
    spark.stop()


if __name__ == "__main__":
    main()
