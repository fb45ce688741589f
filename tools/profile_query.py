"""Profile catalog queries: wall time split into Spark job time and
driver gaps (planning, Python, scheduling), with the slow jobs and the
long gaps between jobs listed.

Usage: python tools/profile_query.py <query> [<query> ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.

Each query runs under its own Spark job group with the event log on.
After the session stops, perfbench/eventlog.py reads the log and sums
each group; every figure below comes from that group's job intervals
and totals.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.eventlog import GroupStats, find_log, read_events
from social_link_prediction_spark import queries as catalog
from social_link_prediction_spark.session import get_spark


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    evdir = tempfile.mkdtemp(prefix="spark-ev-")
    spark = get_spark(
        "profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    # warmup
    catalog.QUERIES["pricing_summary"](spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()

    walls = {}
    for name in names:
        sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        df = catalog.QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        walls[name] = time.perf_counter() - t0
    app_id = sc.applicationId
    spark.stop()  # closes the event log
    log = read_events(find_log(evdir, app_id))
    shutil.rmtree(evdir, ignore_errors=True)
    for name in names:
        report(name, walls[name], log.groups.get(name))


def report(name: str, wall: float, st: GroupStats | None) -> None:
    print(f"\n=== {name}: wall {wall:.2f}s ===")
    if st is None or not st.job_intervals:
        print("  (no jobs captured)")
        return
    jobs = sorted(st.job_intervals)
    jtime = sum(end - start for start, end in jobs)
    span = max(end for _, end in jobs) - jobs[0][0]
    print(
        f"  jobs: {len(jobs)}  job-time sum {jtime:.2f}s  span {span:.2f}s"
        f"  driver-gap within span {max(span - jtime, 0):.2f}s"
        f"  pre-first-job {wall - span:.2f}s"
    )
    print(
        f"  stages {st.stages}  tasks {st.tasks}"
        f"  shuffle r/w {st.shuffle_read_bytes / 1e6:.1f}/{st.shuffle_write_bytes / 1e6:.1f} MB"
        f"  executor cpu {st.executor_cpu_ns / 1e9:.2f}s"
    )
    # slow jobs and long gaps, in submission order
    prev_end = None
    for i, (start, end) in enumerate(jobs):
        gap = start - prev_end if prev_end is not None else 0.0
        prev_end = end if prev_end is None else max(prev_end, end)
        flag = " <== gap" if gap > 0.3 else ""
        if end - start > 0.2 or gap > 0.3:
            print(f"    job #{i}: {end - start:6.2f}s  gap-before {gap:5.2f}s{flag}")


if __name__ == "__main__":
    main()
