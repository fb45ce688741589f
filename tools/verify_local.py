"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB at the given sf dir, then compares row count, column names, and
an order-insensitive value hash (rows sorted, columns sorted by name,
values stringified). Exit code 1 if any mismatch.

Usage: python tools/verify_local.py [sf_dir] [name ...]

Output is line-buffered, and a "run" line names each query and side
(spark or duckdb) before it starts, so a stalled run shows where it
stands. DuckDB spills into a temporary directory under the system
temp dir, removed at exit, never into the working directory.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from social_link_prediction_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    sys.stdout.reconfigure(line_buffering=True)
    spark = get_spark("verify-local")
    spill = tempfile.TemporaryDirectory(prefix="verify-duckdb-")
    con = duckdb.connect(config={"temp_directory": spill.name})
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()

    # HUGEINT sweep (VERDICT-r3 #1): DuckDB sum(INTEGER/BIGINT) returns
    # HUGEINT (int128), which the driver's fetch path stringifies
    # differently from Spark's int64 — every r1-r3 red hash row was this
    # class. Binding an oracle (relation .types) is cheap and does not
    # execute it, so sweep the WHOLE catalog every run, even with a
    # name filter: no oracle may ever emit HUGEINT (or any other type
    # Spark can't produce). Fix is CAST(... AS BIGINT) in the oracle.
    hugeint = []
    print(f"run   bind sweep over {len(oracles)} oracles")
    for name, sql in oracles.items():
        try:
            rel = con.sql(sql)
            types = [str(t) for t in rel.types]
            cols = rel.columns
        except Exception:  # noqa: BLE001 — execution pass reports real errors
            continue
        bad = [
            c
            for c, t in zip(cols, types)
            if t == "HUGEINT" or t.startswith("DECIMAL")
        ]
        if bad:
            hugeint.append(f"{name}: {bad}")
    if hugeint:
        print(
            "HUGEINT/DECIMAL oracle columns (driver hash-fail class — "
            "CAST to BIGINT/DOUBLE):"
        )
        for line in hugeint:
            print(f"  {line}")
        sys.exit(1)

    failed = []
    timings = {}
    oracle_timings = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        print(f"run   {name}: spark")
        t0 = time.perf_counter()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failed.append(name)
            continue
        timings[name] = round(time.perf_counter() - t0, 2)
        if name not in oracles:
            print(f"ok    {name}: rows={len(srows)} t={timings[name]}s (no oracle — rows-only)")
            continue
        print(f"run   {name}: duckdb")
        t1 = time.perf_counter()
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failed.append(name)
            continue
        oracle_timings[name] = round(time.perf_counter() - t1, 2)
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} != {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} != {sorted(ocols)}")
        # Int-vs-float column drift (r9 red-row class): the driver's
        # value hash does NOT normalize 206 vs 206.0, so a column that
        # is BIGINT on one engine and DOUBLE on the other fails the
        # driver hash even when every value is numerically equal
        # (attribute_assortativity_nation, CORRECTNESS_r09). _norm()
        # hides it locally; flag it explicitly.
        if not problems:
            sord = sorted(range(len(scols)), key=lambda i: scols[i])
            oord = sorted(range(len(ocols)), key=lambda i: ocols[i])
            for si, oi in zip(sord, oord):
                sv = next((r[si] for r in srows if r[si] is not None), None)
                ov = next((r[oi] for r in orows if r[oi] is not None), None)
                if sv is None or ov is None:
                    continue
                s_num = isinstance(sv, (int, float)) and not isinstance(sv, bool)
                o_num = isinstance(ov, (int, float)) and not isinstance(ov, bool)
                if s_num and o_num and (isinstance(sv, int) != isinstance(ov, int)):
                    problems.append(
                        f"type drift col {scols[si]}: spark "
                        f"{type(sv).__name__} vs oracle {type(ov).__name__}"
                    )
        if not problems and value_hash(scols, srows) != value_hash(ocols, orows):
            problems.append("value hash mismatch")
            sset = {tuple(_norm(v) for v in r) for r in srows}
            oset = {tuple(_norm(v) for v in r) for r in orows}
            sonly = list(sset - oset)[:3]
            oonly = list(oset - sset)[:3]
            if sonly:
                problems.append(f"spark-only e.g. {sonly}")
            if oonly:
                problems.append(f"oracle-only e.g. {oonly}")
        if problems:
            print(f"FAIL  {name}: " + "; ".join(str(p) for p in problems))
            failed.append(name)
        else:
            print(f"PASS  {name}: rows={len(srows)} t={timings[name]}s")
    spark.stop()
    con.close()
    spill.cleanup()
    out_path = os.environ.get("VERIFY_TIMINGS_OUT")
    if out_path:
        import json

        with open(out_path, "w") as f:
            json.dump(
                {"timings": timings, "oracle_timings": oracle_timings,
                 "failed": failed, "sf_dir": sf_dir},
                f,
            )
    print("\nslowest (spark side, s):")
    for name, t in sorted(timings.items(), key=lambda kv: -kv[1])[:15]:
        print(f"  {t:7.2f}  {name}")
    print(f"total spark time: {round(sum(timings.values()), 1)}s")
    print("slowest (duckdb oracle side, s):")
    for name, t in sorted(oracle_timings.items(), key=lambda kv: -kv[1])[:10]:
        print(f"  {t:7.2f}  {name}")
    print(f"total oracle time: {round(sum(oracle_timings.values()), 1)}s")
    if failed:
        print(f"\n{len(failed)} failed: {failed}")
        sys.exit(1)
    print(f"\nall {len([n for n in qs if not only or n in only])} checked queries passed")


if __name__ == "__main__":
    main()
