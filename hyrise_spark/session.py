"""SparkSession factory with scale-oriented defaults.

The reference runs one NUMA-aware in-process scheduler
(/root/reference/src/lib/scheduler/node_queue_scheduler.hpp:11-50); on Spark the
equivalent knobs are shuffle parallelism, AQE and broadcast thresholds. These
defaults are tuned so the same code runs on local[N] for tests and scales to a
multi-executor cluster unchanged: AQE coalesces small shuffle partitions and
re-plans skew joins at runtime, and the session timezone is pinned to UTC so
timestamp semantics are stable across drivers/executors (and match DuckDB).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

_WAREHOUSE_DIR: str | None = None

# Entries in Spark's compiled-class cache (CodeGenerator's LRU of
# Janino-compiled generated classes) — the analog of the reference's GDFS
# plan cache (src/lib/sql/sql_plan_cache.hpp): a repeated query skips the
# per-repeat translation cost. Spark's default of 100 is smaller than one
# pass of perfbench's 11 batch ops (~186 classes), so the LRU thrashed and
# every pass recompiled everything. Measured on a 4-core VM, one session,
# the 11 ops at sf0.01 (tools/codegen_probe.py --passes 4): at 100 entries
# 177 compiles (~1.8 s of compile time) per warm pass, 7.9 s for the 4th
# pass, 163 MB Metaspace; at 2000 entries 0 compiles per warm pass, 6.7 s,
# 160 MB Metaspace. 2000 leaves room for the 515-query registry and the
# test suite sharing one JVM; over the default pytest run Metaspace ends
# at 234 MB against 222 MB at the default size.
# Static conf, and CodeGenerator builds its cache once per JVM: the first
# session in a JVM fixes the size for every later context restart.
CODEGEN_CACHE_MAX_ENTRIES = 2000


def _process_warehouse_dir() -> str:
    """One unique managed-table warehouse per process, removed at exit.

    mkdtemp guarantees a fresh empty dir even across OS pid recycling;
    the atexit hook keeps repeated local runs from accumulating
    abandoned warehouse trees in tempdir.
    """
    global _WAREHOUSE_DIR
    if _WAREHOUSE_DIR is None:
        import atexit
        import shutil

        _WAREHOUSE_DIR = tempfile.mkdtemp(prefix="hyrise_spark_wh_")
        atexit.register(shutil.rmtree, _WAREHOUSE_DIR, ignore_errors=True)
    return _WAREHOUSE_DIR


def get_spark(app_name: str = "hyrise_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    `cpus` controls local parallelism only; on a real cluster the master/config
    come from spark-submit and the builder leaves them untouched.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.appName(app_name)
        # AQE: runtime partition coalescing + skew-join splitting. At 100 TB the
        # static shuffle.partitions value is always wrong for some stage; AQE
        # resizes from observed map output instead.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Shuffle width ~ cores in local mode; a cluster deployment overrides
        # this (or relies on AQE's coalescing from a higher initial value).
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.default.parallelism", str(max(cpus, 4)))
        # Arrow for any pandas_udf / toPandas path (the only Python hot paths
        # we allow — see pipeline/*).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamp semantics; matches DuckDB's naive-UTC.
        .config("spark.sql.session.timeZone", "UTC")
        # Broadcast threshold 16 MB (round 12; was 64 MB since round 1).
        # Broadcast relations are built from DESERIALIZED rows, ~8-10x the
        # compressed estimate the threshold compares against; at 64 MB the
        # planner broadcast tpch_q18's fact-DERIVED big-orders set on the
        # 30x-scaled JCC-H probe (~50 MB estimated, ~536 MB as a hash
        # relation) and GC-thrashed into superlinear wall time — measured
        # 107 s vs 12 s with the 16 MB cap, a 9x cliff (SCALE.md §20).
        # 16 MB still statically broadcasts every genuine dimension (all
        # sf0.1 base tables are smaller; the intended big-dim broadcasts
        # are explicit F.broadcast hints, which ignore the threshold), and
        # AQE may still convert runtime-PROVEN-small sides below the same
        # cap. The principle at 100 TB: estimate-based broadcasts must be
        # bounded by what a hash relation costs in memory, not by what
        # compresses well on the wire.
        .config("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold",
                str(16 * 1024 * 1024))
        # ANSI off: the reference's expression evaluator is permissive
        # (NULL-propagating arithmetic, no overflow errors).
        .config("spark.sql.ansi.enabled", "false")
        # CBO: the reference's join-order optimizer + histogram cardinality
        # estimation (src/lib/optimizer/join_ordering/dp_ccp.cpp,
        # statistics/cardinality_estimator.hpp:37) map to Spark's cost-based
        # optimizer over ANALYZE TABLE stats (layout.create_analyzed_tables).
        # Equi-height histograms during ANALYZE mirror the reference's
        # EqualDistinctCountHistogram. No-op for stat-less temp views; at
        # 100 TB (metastore-backed tables) this drives 6-way join graphs.
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        # DP join reorder covers the registry's widest graphs (job_q42 = 18
        # leaves, past JOB's ~17-relation ceiling). Raising the threshold
        # from the default 12 costs ONE-TIME optimizer work per query (DP
        # over connected subgraphs, ~seconds at 18 leaves on analyzed
        # tables) and nothing at execution — the trade a warehouse makes
        # once, session-wide, exactly like the reference's DpCcp which has
        # no leaf cap at all (join_ordering/dp_ccp.cpp).
        .config("spark.sql.cbo.joinReorder.dp.threshold", "18")
        .config("spark.sql.statistics.histogram.enabled", "true")
        # Runtime Bloom-filter injection: the reference's JoinHash builds
        # Bloom filters from the build side to skip probe rows
        # (join_hash_steps.hpp:924); Spark's analog injects a bloom filter
        # from the filtered build side into the probe-side SCAN. Size
        # thresholds (creationSideThreshold / scan-size) gate it so tiny
        # local inputs don't pay — it kicks in exactly at warehouse scale.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Compiled-class cache sized to the working set (see the constant).
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        # Per-PROCESS warehouse dir: managed tables (the bucketed/analyzed
        # layout variants) are session-scoped caches, but the default
        # ./spark-warehouse is shared by every process running from the
        # repo — a second process re-materializing a layout table would
        # rewrite files a long-lived first session still scans (observed:
        # FileScanRDD failures in *_bucketed when bench/check_oracle ran
        # beside pytest). mkdtemp (not a pid-derived name: pid recycling
        # could hand a new process a stale warehouse) gives each process a
        # unique dir, removed at interpreter exit; on a real cluster an
        # external metastore owns this path and the config is overridden
        # by deployment.
        .config("spark.sql.warehouse.dir", _process_warehouse_dir())
    )
    if not os.environ.get("SPARK_MASTER") and "SPARK_ENV_LOADED" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()
