"""The benchmark's workloads. Each is a closed loop on local[4] and returns
its end-to-end and per-layer figures plus the correctness tallies.

batch  Two clients run registry query builders (TPC-H and the LLM-data
       pipeline ops) back to back and collect each result. This is the
       `plans/` + `pipeline/` + Spark-execution path; nothing goes through
       `engine`, `plan_cache`, `server` or the transaction code.
serve  Three SqlClient connections send SQL text to one SqlServer (a hot
       set of corpus statements plus templated statements with fresh
       literals that always miss the plan cache), while one thread runs the
       TPC-C mix as BEGIN..COMMIT through a second Engine on the same session.
       This is the `server` + `engine` + `plan_cache` + DML/transaction
       path, with readers and writers competing for one Spark driver.
"""

from __future__ import annotations

import contextlib
import datetime
import decimal
import glob
import json
import os
import random
import statistics
import threading
import time

import datagen
from spans import SparkCounters, storage_mb

SF = 0.01
SETUP_REPEATS = 3

# --------------------------------------------------------------------------
# correctness: results against DuckDB over the same generated parquet files


def duck_connect(data_dir: str):
    import duckdb

    from hyrise_spark.catalog import TESTDATA_TABLES

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _coerce(v, like):
    """Bring a wire value (JSON scalar) to the Python type DuckDB returned
    for the same column, so both sides normalise identically."""
    if v is None or like is None or not isinstance(v, str):
        return v
    if isinstance(like, (decimal.Decimal, float)):
        return float(v)
    if isinstance(like, datetime.datetime):
        return datetime.datetime.fromisoformat(v)
    if isinstance(like, datetime.date):
        return datetime.date.fromisoformat(v)
    return v


def same_result(cols: list[str], rows: list, duck_cols: list[str], duck_rows: list) -> bool:
    """Order-insensitive equality by `hyrise_spark.oracle.canon`."""
    from hyrise_spark.oracle import canon

    cols = [c.lower() for c in cols]
    duck_cols = [c.lower() for c in duck_cols]
    if sorted(cols) != sorted(duck_cols) or len(rows) != len(duck_rows):
        return False
    like = [next((r[i] for r in duck_rows if r[i] is not None), None)
            for i in range(len(duck_cols))]
    pos = {c: i for i, c in enumerate(duck_cols)}
    rows = [tuple(_coerce(v, like[pos[c]]) for c, v in zip(cols, r)) for r in rows]
    return canon(cols, rows) == canon(duck_cols, duck_rows)


def duck_result(con, sql: str) -> tuple[list[str], list]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


# --------------------------------------------------------------------------
# shared set-up


def _setup(run, tracer, make_state) -> tuple[float, list[float], list[float], object]:
    """Set up SETUP_REPEATS times (the first one launches the JVM, the rest
    restart the Spark context on it) and keep the last state.
    `make_state(spark, load)` registers the tables inside `with load():`.

    Returns (median set-up seconds, session-start samples, table
    registration samples, state)."""
    starts, loads, totals, state = [], [], [], None
    for _ in range(SETUP_REPEATS):
        if state is not None:
            state.close()
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = run.start_session()
        starts.append(time.perf_counter() - t0)

        @contextlib.contextmanager
        def load():
            t = time.perf_counter()
            with tracer.span("catalog.load"):
                yield
            loads.append(time.perf_counter() - t)

        state = make_state(spark, load)
        totals.append(time.perf_counter() - t0)
    return statistics.median(totals), starts, loads, state


def _patch_actions(tracer, spark) -> None:
    """Span every DataFrame.collect (the action behind every result, also
    the ones the server and the engine run)."""
    cls = type(spark.range(0))
    cls.collect = tracer.wrap("exec.action", cls.collect)


def benchmark() -> dict:
    """The benchmark's definition, BENCHMARK.json at the repository root."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), os.pardir,
                           "BENCHMARK.json")) as fh:
        return json.load(fh)


def bench_metrics(kind: str) -> dict[str, str]:
    """name -> unit of the metrics BENCHMARK.json declares under `kind`."""
    return {m["name"]: m["unit"] for m in benchmark()[kind]}


def _layer_defaults() -> dict:
    """Every per-layer metric, zero where the workload has no such layer."""
    return {k: (0.0, u) for k, u in bench_metrics("per_layer").items()}


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


# --------------------------------------------------------------------------
# batch

# Each pass runs nine light TPC-H queries of similar latency (aggregation,
# top-k joins, EXISTS and NOT EXISTS, an outer join, LIKE over a six-way
# join, HAVING with a semi-join) and two heavier pipeline ops: MinHash-LSH
# near-dup detection (wide expression trees) and connected components (an
# iterative localCheckpoint loop).
BATCH_OPS = tuple(f"tpch_q{i}" for i in (1, 3, 4, 9, 10, 12, 13, 18, 21)) + (
    "dedup_minhash_lsh", "graph_connected_components",
)
# Two clients, each running whole passes in its own seeded order. One client
# leaves about a third of local[4] idle (much of an op is single-threaded
# driver work); a second one nearly doubles the ops measured per second at a
# similar median latency.
BATCH_CLIENTS = 2
# Warm rounds (uncounted, part of set-up): every client runs one pass per
# round. Op latency falls over the first three passes of a fresh JVM while
# the JIT compiles Spark's code paths; two rounds take the timed window past
# the steepest part of that curve.
WARM_ROUNDS = 2


def batch(run, tracer, seconds: float) -> dict:
    from hyrise_spark.catalog import load_tables
    from hyrise_spark.registry import all_queries

    rng = random.Random(run.seed)
    datagen.generate(run.data_dir, SF, run.seed)
    queries = all_queries()
    t_origin = time.perf_counter()

    class State:
        def __init__(self, spark, load):
            self.spark = spark
            with load():
                load_tables(spark, run.data_dir)

        def close(self):
            pass

    setup_s, starts, loads, state = _setup(run, tracer, State)
    spark = state.spark
    t_warm = time.perf_counter()
    if tracer.enabled:
        _patch_actions(tracer, spark)
        counters = SparkCounters(spark)
    # (name, result or exception, seconds, timed) per op, in completion order
    results: list[tuple[str, object, float, bool]] = []
    storage: list[float] = []
    client_rngs = [random.Random(rng.random()) for _ in range(BATCH_CLIENTS)]

    def run_op(name: str, op: str, timed: bool) -> None:
        layer = "plans.build" if name.startswith("tpch_") else "pipeline.build"
        t0 = time.perf_counter()
        try:
            with tracer.span("op", op=op):
                with tracer.span(layer):
                    df = queries[name].builder(spark, run.data_dir)
                rows = df.collect()
            res = (df.columns, [tuple(r) for r in rows])
        except Exception as exc:  # a failed op is counted, never dropped
            res = exc
        results.append((name, res, time.perf_counter() - t0, timed))
        if tracer.enabled and timed:
            storage.append(storage_mb(spark))

    def run_pass(i: int, tag: str, timed: bool) -> None:
        order = list(BATCH_OPS)
        client_rngs[i].shuffle(order)
        for name in order:
            run_op(name, f"{tag}c{i}:{name}", timed)

    def clients(target) -> None:
        threads = [threading.Thread(target=target, args=(i,)) for i in range(BATCH_CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    for r in range(WARM_ROUNDS):
        clients(lambda i: run_pass(i, f"warm{r}:", False))
        run.gc()
    setup_s += time.perf_counter() - t_warm
    if tracer.enabled:
        jobs_before = counters.job_ids()

    # Closed loop: each client runs whole passes until --seconds have passed,
    # so every client's sample holds every op equally often.
    t_start = time.perf_counter()
    stop_at = t_start + seconds
    passes = [0] * BATCH_CLIENTS

    def timed_client(i: int) -> None:
        while time.perf_counter() < stop_at:
            run_pass(i, f"{passes[i]}:", True)
            passes[i] += 1

    clients(timed_client)
    wall = time.perf_counter() - t_start
    timed_ops = [(name, dt) for name, _, dt, timed in results if timed]
    latencies = [dt for _, dt in timed_ops]
    n = len(latencies)
    per_op: dict[str, list[float]] = {}
    for name, dt in timed_ops:
        per_op.setdefault(name, []).append(dt)

    layers = _layer_defaults()
    if tracer.enabled:
        tot = counters.totals(jobs_before)
        tpch_builds = tracer.durations("plans.build", t_start)
        pipe_builds = tracer.durations("pipeline.build", t_start)
        layers.update({
            "session.start_s": (statistics.median(starts), "s"),
            "catalog.load_s": (statistics.median(loads), "s"),
            "plans.build_s": (_mean(tpch_builds), "s"),
            "pipeline.build_s": (_mean(pipe_builds), "s"),
            "exec.action_s": (sum(tracer.durations("exec.action", t_start)) / n, "s"),
            "exec.jobs_per_op": (tot["jobs"] / n, "count"),
            "exec.tasks_per_op": (tot["tasks"] / n, "count"),
            "exec.shuffle_bytes_per_op": (tot["shuffle_bytes"] / n, "bytes"),
            "exec.input_bytes_per_op": (tot["input_bytes"] / n, "bytes"),
            "exec.storage_mb": (_mean(storage), "MB"),
        })
    peak = run.peak_rss_mb()

    # correctness, outside the timed region: every result against its oracle
    con = duck_connect(run.data_dir)
    oracle_cache: dict[str, tuple] = {}
    failed = wrong = completed = 0
    failures = []
    for name, res, _, timed in results:
        if isinstance(res, Exception):
            failed += 1
            failures.append(f"{name}: {type(res).__name__}: {res}")
            continue
        if name not in oracle_cache:
            oracle_cache[name] = duck_result(con, queries[name].oracle)
        if not same_result(res[0], res[1], *oracle_cache[name]):
            wrong += 1
            failures.append(f"{name}: wrong result")
        elif timed:
            completed += 1
    con.close()
    return {
        "e2e": _e2e(setup_s, latencies, completed, wall, len(results), failed + wrong, peak),
        "layers": layers,
        "attempted": len(results),
        "failed": failed + wrong,
        "correct": wrong == 0 and failed == 0,
        "t_origin": t_origin,
        "report": [
            f"batch: {len(results)} ops checked ({WARM_ROUNDS} warm rounds + {passes} timed "
            f"passes of {len(BATCH_OPS)} over {BATCH_CLIENTS} clients), {failed} failed, "
            f"{wrong} wrong, sf {SF}; timed window {wall:.1f} s, {n} latency samples",
            "op seconds: " + " ".join(
                f"{k}={statistics.median(v):.3f}" for k, v in sorted(per_op.items())),
            *failures[:5],
            f"setup samples: start {[round(x, 3) for x in starts]} load {[round(x, 3) for x in loads]}",
        ],
    }


def _e2e(setup_s: float, latencies: list[float], completed: int,
         wall: float, attempted: int, failed: int, peak_mb: float) -> dict:
    """The end-to-end figures over a timed window of `wall` seconds."""
    deciles = statistics.quantiles(latencies, n=10, method="inclusive")
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (completed / wall, "1/s"),
        "latency_p50_s": (deciles[4], "s"),
        "latency_p90_s": (deciles[8], "s"),
        "error_ratio": (failed / attempted, "ratio"),
        "peak_rss_mb": (peak_mb, "MB"),
    }

# --------------------------------------------------------------------------
# serve

READ_CLIENTS = 3
# One writer: a second one would fail fast on the engine's single-writer
# fence unless `hyrise_spark.lock_timeout` makes it queue.
TPCC_CLIENTS = 1
TPCC_DISTRICTS, TPCC_CUSTOMERS = 4, 16
# the TPC-C mix (45/43/4/4/4) as a 25-card deck, so every 25 transactions
# hold exactly 11 new_order, 11 payment and one of each other procedure
TPCC_DECK = [("new_order", 11), ("payment", 11), ("order_status", 1),
             ("delivery", 1), ("stock_level", 1)]
FRESH_EVERY = 4  # one read in four has fresh literals
HOT_STRIDE = 30  # every 30th corpus statement by name, plus bench_queries/*.sql


def hot_statements(root: str) -> list[str]:
    """The fixed hot set: a name-ordered stride through the SQL corpus plus
    the benchmark-runner queries. Far below the 1024-entry plan cache."""
    from tests.test_sql_corpus import CORPUS, ENGINE_CORPUS

    corpus = {**CORPUS, **ENGINE_CORPUS}
    names = sorted(corpus)[::HOT_STRIDE]
    stmts = [corpus[n] for n in names]
    for path in sorted(glob.glob(os.path.join(root, "bench_queries", "*.sql"))):
        with open(path) as fh:
            stmts.append(fh.read().strip().rstrip(";"))
    return stmts


def deck(rng: random.Random, weighted: list[tuple[object, int]]):
    """Endless seeded draw with an exact mix: each round is a shuffled deck
    holding every item as often as its weight. Runs of equal length then
    share their composition; the seed changes the order (and literals)."""
    cards = [item for item, weight in weighted for _ in range(weight)]
    while True:
        rng.shuffle(cards)
        yield from cards


# Templated statements: each draw gets fresh literals, so the text is new and
# the plan cache always misses. Exact aggregates only (counts, integer sums,
# min/max), so Spark and DuckDB agree to the digit.
def fresh_statement(rng: random.Random, k: int) -> str:
    if k == 0:
        a = rng.randint(1, 40)
        return (f"SELECT CAST(COUNT(*) AS BIGINT) AS n FROM part "
                f"WHERE p_size BETWEEN {a} AND {a + rng.randint(1, 10)}")
    if k == 1:
        return (f"SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n, MAX(o_totalprice) AS top "
                f"FROM orders WHERE o_custkey = {rng.randrange(1500)} GROUP BY o_orderpriority")
    if k == 2:
        return (f"SELECT l_returnflag, CAST(SUM(l_quantity) AS BIGINT) AS qty FROM lineitem "
                f"WHERE l_partkey = {rng.randrange(2000)} GROUP BY l_returnflag")
    if k == 3:
        return (f"SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n FROM customer "
                f"WHERE c_acctbal > {rng.randint(-999, 9999)}.5 GROUP BY c_mktsegment")
    if k == 4:
        return (f"SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n FROM supplier JOIN nation "
                f"ON s_nationkey = n_nationkey WHERE s_acctbal < {rng.randint(-999, 9999)}.5 "
                f"GROUP BY n_name")
    return (f"SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, MIN(value) AS lo FROM events "
            f"WHERE user_id = {rng.randrange(150)} GROUP BY event_type")


FRESH_TEMPLATES = 6


class TracedEngine:
    """Hands the TPC-C procedures an engine whose statements are spanned by
    kind (BEGIN waits on the engine's single-writer fence)."""

    _KIND = {"BEGIN": "txn.begin", "COMMIT": "txn.commit", "ROLLBACK": "txn.rollback"}

    def __init__(self, engine, tracer):
        self._engine, self._tracer = engine, tracer

    def execute(self, sql, args=None):
        kind = self._KIND.get(sql.strip().split(None, 1)[0].upper(), "engine.execute")
        with self._tracer.span(kind):
            return self._engine.execute(sql, args)


def serve(run, tracer, seconds: float) -> dict:
    from hyrise_spark.benchmark_runner import _TPCC_IMPLS, tpcc_consistency_audit, tpcc_setup
    from hyrise_spark.catalog import load_tables
    from hyrise_spark.engine import Engine
    from hyrise_spark.server import SqlClient, SqlServer

    rng = random.Random(run.seed)
    datagen.generate(run.data_dir, SF, run.seed)
    hot = hot_statements(run.root)
    t_origin = time.perf_counter()

    class State:
        def __init__(self, spark, load):
            self.spark = spark
            self.server = SqlServer(spark, port=0)
            self.writer = Engine(spark)
            with load():
                for name, df in load_tables(spark, run.data_dir).items():
                    self.server.engine.catalog.add_table(name, df)
                tpcc_setup(self.writer, TPCC_DISTRICTS, TPCC_CUSTOMERS)
            self.thread = self.server.start_background()

        def close(self):
            self.server.shutdown()
            self.server.server_close()
            self.thread.join(timeout=30)

    setup_s, starts, loads, state = _setup(run, tracer, State)
    spark, server, writer = state.spark, state.server, state.writer
    conn_threads: dict[str, int] = {}
    if tracer.enabled:
        _patch_actions(tracer, spark)
        real_execute = server.engine.execute

        def engine_execute(sql, args=None):
            if sql.startswith("SELECT 'perfbench-conn-"):
                conn_threads[sql.split("'")[1]] = threading.get_ident()
            with tracer.span("engine.execute"):
                return real_execute(sql, args)

        server.engine.execute = engine_execute
        writer.catalog.compact_table = tracer.wrap("catalog.compact", writer.catalog.compact_table)
        w_engine = TracedEngine(writer, tracer)
    else:
        w_engine = writer
    clients = [SqlClient("127.0.0.1", server.port, timeout=300) for _ in range(READ_CLIENTS)]
    for i, c in enumerate(clients):
        c.execute(f"SELECT 'perfbench-conn-{i}' AS conn")

    # Warm pass (uncounted, part of set-up): every hot statement once, and
    # each TPC-C procedure once, so the timed window starts with a filled
    # plan cache and compiled code paths.
    t_warm = time.perf_counter()
    for sql in hot:
        clients[0].execute(sql)
    warm_rng = random.Random(-run.seed)
    for proc in _TPCC_IMPLS.values():
        proc(writer, warm_rng, TPCC_DISTRICTS, TPCC_CUSTOMERS)
    setup_s += time.perf_counter() - t_warm
    run.gc()
    caches = (server.engine._plan_cache, writer._plan_cache)
    cache0 = [(c.hits, c.misses, c.evictions, c.invalidations) for c in caches]
    if tracer.enabled:
        counters = SparkCounters(spark)
        jobs_before = counters.job_ids()

    lock = threading.Lock()
    reads: list[tuple[str, dict | Exception, float]] = []
    txns: list[tuple[str, str, float]] = []  # (proc, committed|rolled_back|failed, seconds)
    depths: list[int] = []
    stop_at = time.perf_counter() + seconds
    # per-client seeded streams, drawn before the window opens
    read_rngs = [random.Random(rng.random()) for _ in range(READ_CLIENTS)]
    tpcc_rngs = [random.Random(rng.random()) for _ in range(TPCC_CLIENTS)]

    def reader(i: int) -> None:
        r, client = read_rngs[i], clients[i]
        kinds = deck(r, [("fresh", 1), ("hot", FRESH_EVERY - 1)])
        hot_draw = deck(r, [(sql, 1) for sql in hot])
        fresh_draw = deck(r, [(k, 1) for k in range(FRESH_TEMPLATES)])
        while time.perf_counter() < stop_at:
            sql = (fresh_statement(r, next(fresh_draw)) if next(kinds) == "fresh"
                   else next(hot_draw))
            t0 = time.perf_counter()
            try:
                with tracer.span("server.roundtrip", op=f"r{i}:{len(reads)}"):
                    if tracer.enabled:
                        tracer.adopt(conn_threads[f"perfbench-conn-{i}"], tracer.current())
                    resp = client.execute(sql)
            except Exception as exc:  # counted as failed; the loop goes on
                resp = exc
            dt = time.perf_counter() - t0
            with lock:
                reads.append((sql, resp, dt))

    def txn_client(i: int) -> None:
        r = tpcc_rngs[i]
        procs = deck(r, TPCC_DECK)
        while time.perf_counter() < stop_at:
            proc = next(procs)
            t0 = time.perf_counter()
            try:
                with tracer.span("txn", op=f"t{i}:{proc}"):
                    outcome = ("committed" if _TPCC_IMPLS[proc](
                        w_engine, r, TPCC_DISTRICTS, TPCC_CUSTOMERS) else "rolled_back")
            except Exception:  # a failed procedure must not hold the fence
                outcome = "failed"
                try:
                    writer.execute("ROLLBACK")
                except Exception:
                    pass
            dt = time.perf_counter() - t0
            with lock:
                txns.append((proc, outcome, dt))
                if tracer.enabled:
                    depths.append(max(writer.catalog.dml_depth.values(), default=0))

    threads = ([threading.Thread(target=reader, args=(i,)) for i in range(READ_CLIENTS)]
               + [threading.Thread(target=txn_client, args=(i,)) for i in range(TPCC_CLIENTS)])
    t_start = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t_start

    layers = _layer_defaults()
    n_ops = len(reads) + len(txns)
    if tracer.enabled:
        tot = counters.totals(jobs_before)
        deltas = [tuple(now - before for now, before in zip(
            (c.hits, c.misses, c.evictions, c.invalidations), b)) for c, b in zip(caches, cache0)]
        hits, misses, evictions, invalidations = (sum(x) for x in zip(*deltas))
        selfs = tracer.self_times()
        rt = [s for s in tracer.spans if s["name"] == "server.roundtrip"]
        begins = tracer.durations("txn.begin", t_start)
        compacts = tracer.durations("catalog.compact", t_start)
        n_txn = max(1, len(txns))
        layers.update({
            "session.start_s": (statistics.median(starts), "s"),
            "catalog.load_s": (statistics.median(loads), "s"),
            "exec.action_s": (sum(tracer.durations("exec.action", t_start)) / max(1, n_ops), "s"),
            "exec.jobs_per_op": (tot["jobs"] / max(1, n_ops), "count"),
            "exec.tasks_per_op": (tot["tasks"] / max(1, n_ops), "count"),
            "exec.shuffle_bytes_per_op": (tot["shuffle_bytes"] / max(1, n_ops), "bytes"),
            "exec.input_bytes_per_op": (tot["input_bytes"] / max(1, n_ops), "bytes"),
            "exec.storage_mb": (storage_mb(spark), "MB"),
            "engine.execute_s": (sum(tracer.durations("engine.execute", t_start)) / max(1, n_ops), "s"),
            "plan_cache.hit_ratio": (hits / max(1, hits + misses), "ratio"),
            "plan_cache.lookups": (hits + misses, "count"),
            "plan_cache.evictions": (evictions, "count"),
            "plan_cache.invalidations": (invalidations, "count"),
            "server.roundtrip_s": (_mean([s["end"] - s["start"] for s in rt]), "s"),
            "server.self_s": (_mean([selfs[s["id"]] for s in rt]), "s"),
            "txn.lock_wait_s": (sum(begins) / n_txn, "s"),
            "txn.commit_s": (_mean(tracer.durations("txn.commit", t_start)), "s"),
            "txn.rollback_ratio": (sum(o == "rolled_back" for _, o, _ in txns) / n_txn, "ratio"),
            "catalog.compactions": (len(compacts), "count"),
            "catalog.compact_s": (_mean(compacts), "s"),
            "catalog.max_dml_depth": (max(depths, default=0), "count"),
        })
    peak = run.peak_rss_mb()

    # correctness, outside the timed region: every read response against
    # DuckDB on the same files, and the TPC-C consistency audit
    con = duck_connect(run.data_dir)
    expected: dict[str, tuple] = {}
    wrong_reads = failed_reads = 0
    problems: list[str] = []
    for sql, resp, _ in reads:
        if isinstance(resp, Exception) or resp.get("status") != "ok":
            failed_reads += 1
            problems.append(f"read failed: {sql[:80]!r}: {resp if isinstance(resp, Exception) else resp.get('error')}")
            continue
        if sql not in expected:
            expected[sql] = duck_result(con, sql)
        if not same_result(resp["columns"], resp["rows"], *expected[sql]):
            wrong_reads += 1
            problems.append(f"wrong result: {sql[:120]!r}")
    con.close()
    audit = tpcc_consistency_audit(writer, TPCC_DISTRICTS)
    committed = sum(o == "committed" for _, o, _ in txns)
    failed_txns = sum(o == "failed" for _, o, _ in txns)
    if not all(audit.values()):
        # the state is wrong and no single transaction can be blamed
        failed_txns = len(txns)
        problems.append(f"tpcc audit failed: {audit}")
    for c in clients:
        c.close()
    state.close()

    latencies = [dt for _, _, dt in reads] + [dt for _, _, dt in txns]
    completed = (len(reads) - failed_reads - wrong_reads) + committed
    failed = failed_reads + wrong_reads + failed_txns
    return {
        "e2e": _e2e(setup_s, latencies, completed, wall, n_ops, failed, peak),
        "layers": layers,
        "attempted": n_ops,
        "failed": failed,
        "correct": failed == 0,
        "t_origin": t_origin,
        "report": [
            f"serve: {len(reads)} reads over {READ_CLIENTS} connections "
            f"({len(expected)} distinct statements, {len(hot)} hot), {len(txns)} TPC-C txns "
            f"over {TPCC_CLIENTS} threads ({committed} committed), {len(latencies)} latency samples, "
            f"sf {SF}",
            *problems[:5],
            f"setup samples: start {[round(x, 3) for x in starts]} load {[round(x, 3) for x in loads]}",
        ],
    }


WORKLOADS = {"batch": batch, "serve": serve}
