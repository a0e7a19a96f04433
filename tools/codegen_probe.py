"""Per-pass code-generation compile counts for registry ops.

Runs N passes over a list of registry queries in one Spark session built by
`session.get_spark` (so with the engine's compiled-class cache size), collects
each result, and prints one JSON line per pass:

    {"pass": 2, "ops": 11, "compiles": 0, "compile_ms": 0.0,
     "pass_s": 6.1, "metaspace_mb": 161.4}

`compiles` counts Janino compilations of generated classes in the pass
(cache misses of Spark's CodeGenerator cache); a warm pass that still
compiles means the cache is smaller than the ops' working set. Default ops
are perfbench's batch workload (`BATCH_OPS`).

    python tools/codegen_probe.py --sf path/to/sf0.01 --passes 4
    python tools/codegen_probe.py --sf path/to/sf0.01 --passes 3 tpch_q1 tpch_q6
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def batch_ops() -> tuple[str, ...]:
    """perfbench's batch op list. perfbench's modules import each other by
    bare name; appending its directory keeps it from shadowing anything."""
    perfbench = str(ROOT / "perfbench")
    if perfbench not in sys.path:
        sys.path.append(perfbench)
    from workloads import BATCH_OPS

    return BATCH_OPS


def codegen_totals(spark) -> tuple[int, float]:
    """(compiles, compile ms) since JVM start: every CodeGenerator cache miss
    records one sample of its compile time in CodegenMetrics."""
    jvm = spark.sparkContext._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    # CodeGenerator.compileTime: nanoseconds summed over all compiles.
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(count), nanos / 1e6


def metaspace_mb(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getName() == "Metaspace":
            return pool.getUsage().getUsed() / 2**20
    return float("nan")


def run_pass(spark, sf: str, names, queries) -> float:
    t0 = time.perf_counter()
    for name in names:
        queries[name].builder(spark, sf).collect()
    return time.perf_counter() - t0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", required=True, help="testdata directory (parquet tables)")
    ap.add_argument("--passes", type=int, default=4)
    ap.add_argument("names", nargs="*", help="registry queries (default: perfbench BATCH_OPS)")
    args = ap.parse_args(argv)

    from hyrise_spark.catalog import load_tables
    from hyrise_spark.registry import all_queries
    from hyrise_spark.session import get_spark

    names = args.names or list(batch_ops())
    queries = all_queries()
    spark = get_spark("codegen_probe", cpus=4)  # perfbench runs local[4]
    try:
        spark.sparkContext.setLogLevel("ERROR")
        load_tables(spark, args.sf)
        print(json.dumps({"cache_max_entries": spark.conf.get("spark.sql.codegen.cache.maxEntries"),
                          "ops": names}), flush=True)
        for i in range(1, args.passes + 1):
            c0, ms0 = codegen_totals(spark)
            pass_s = run_pass(spark, args.sf, names, queries)
            c1, ms1 = codegen_totals(spark)
            print(json.dumps({
                "pass": i, "ops": len(names), "compiles": c1 - c0,
                "compile_ms": round(ms1 - ms0, 1), "pass_s": round(pass_s, 3),
                "metaspace_mb": round(metaspace_mb(spark), 1),
            }), flush=True)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
