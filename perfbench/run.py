"""hyrise_spark benchmark: one workload per process, one JSON result line.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15 --trace 0

Run from the repository root. `--workload all` runs every workload, each in
a fresh process, then prints every metric by name with its unit. With
`--trace 1` the run records spans and Spark counters and reports the
per-layer metrics instead of the end-to-end ones; end-to-end figures are
only ever taken from untraced runs (the traced run's own figures are
printed for the tracing-overhead comparison).

Inputs are generated from `--seed` (tables, statement draws, fresh literals,
TPC-C choices). Everything the run writes goes under `.perfbench_tmp/` in
the working directory: data, Spark scratch, the warehouse, the Spark log and
the span file. Stdout carries a short report and, as its last line,
`{"correct", "attempted", "failed", "metrics"}`.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import resource
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("batch", "serve")
CPUS = 4  # local[4]: the benchmark machine's core count, fixed so runs compare


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    raise SystemExit(code)


class Run:
    """Per-process run context: scratch directories, log redirection, the
    Spark session and its JVM, and peak-memory accounting."""

    def __init__(self, root: str, workload: str, seed: int, trace: bool) -> None:
        self.root, self.workload, self.seed = root, workload, seed
        base = os.path.join(root, ".perfbench_tmp")
        os.makedirs(os.path.join(base, "logs"), exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=base)
        self.data_dir = os.path.join(self.dir, "data")
        self.log_path = os.path.join(base, "logs", f"{workload}-seed{seed}-trace{int(trace)}.log")
        self.spark = None
        self.jvm_pid: int | None = None

    def isolate(self) -> None:
        """Route every scratch path and all log noise into the run dir, so
        nothing lands in the repository root and stdout stays one report."""
        tmp = os.path.join(self.dir, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "spark-local")
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "--conf spark.ui.showConsoleProgress=false",
            # the traced run reads every job of the run back from the UI store
            "--conf spark.ui.retainedJobs=20000",
            "--conf spark.ui.retainedStages=20000",
            "pyspark-shell",
        ])
        self.console = os.fdopen(os.dup(2), "w", buffering=1)
        log = os.open(self.log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(log, 2)
        os.close(log)

    def start_session(self):
        """One set-up of the Spark session (restarting any previous one)."""
        from pyspark import SparkContext

        from hyrise_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(f"perfbench-{self.workload}", cpus=CPUS)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = SparkContext._gateway.proc.pid
        return self.spark

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this process plus its JVM so far."""
        jvm_kb = 0
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (py_kb + jvm_kb) / 1024.0

    def gc(self) -> None:
        """Uncounted hygiene between ops: drop dead Python references, then
        let the JVM release blocks pinned by collected checkpoints."""
        import gc

        gc.collect()
        self.spark._jvm.System.gc()

    def close(self) -> None:
        """Stop Spark, wait for its JVM to exit, remove the scratch dir."""
        if self.spark is not None:
            from pyspark import SparkContext

            proc = SparkContext._gateway.proc
            self.spark.stop()
            SparkContext._gateway.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
            self.spark = None
        shutil.rmtree(self.dir, ignore_errors=True)


def run_one(args: argparse.Namespace, root: str) -> dict:
    run = Run(root, args.workload, args.seed, bool(args.trace))
    run.isolate()
    try:
        sys.path.insert(0, root)
        sys.path.insert(0, HERE)
        import workloads
        from spans import NullTracer, Tracer

        tracer = Tracer() if args.trace else NullTracer()
        try:
            result = workloads.WORKLOADS[args.workload](run, tracer, args.seconds)
        except BaseException as exc:  # traceback goes to the log; say where
            print(f"perfbench: {args.workload} failed ({type(exc).__name__}: {exc}); "
                  f"see {os.path.relpath(run.log_path, root)}", file=run.console)
            raise
        if args.trace:
            spans = os.path.join(root, ".perfbench_tmp", f"spans-{args.workload}-seed{args.seed}.jsonl")
            tracer.write(spans, result["t_origin"])
            result["report"].append(f"spans: {len(tracer.spans)} written to {os.path.relpath(spans, root)}")
            result["report"].append("self seconds by span name (whole run): " + " ".join(
                f"{k}={v:.3f}" for k, v in sorted(tracer.self_time_by_layer().items())))
        return result
    finally:
        run.close()


def _print_result(workload: str, seed: int, result: dict, trace: bool) -> dict:
    from workloads import bench_metrics

    # error_ratio is 0 on a correct program, so it is reported in the text
    # and carried by `failed` / `attempted`, not gated as a metric
    metrics = result["layers"] if trace else {
        k: v for k, v in result["e2e"].items() if k in bench_metrics("end_to_end")}
    for line in result["report"]:
        print(f"[{workload} seed={seed}] {line}")
    shown = result["e2e"] if not trace else {**result["layers"], **{
        f"traced_run.{k}": v for k, v in result["e2e"].items()}}
    for name, (value, unit) in shown.items():
        print(f"[{workload} seed={seed}] {name} = {value:.6g} {unit}")
    return {
        "correct": result["failed"] == 0 and result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


_TRACED_LINE = re.compile(r"\] traced_run\.(\S+) = (\S+) ")


def run_once(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, list[str]]:
    """One run in a fresh process: (result JSON, report lines)."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        _fail(f"{workload} seed {seed} exited with {proc.returncode}", 1)
    return json.loads(lines[-1]), lines[:-1]


def run_all(args: argparse.Namespace) -> int:
    """Each workload in a fresh process; one combined report. With --trace 1
    each workload runs untraced and then traced with the same seed, and the
    tracing overhead (traced / untraced, per end-to-end metric) is printed."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        untraced: dict[str, float] = {}
        for trace in (0, 1) if args.trace else (0,):
            res, lines = run_once(w, args.seed, args.seconds, trace)
            print("\n".join(lines))
            if trace:
                for m in filter(None, map(_TRACED_LINE.search, lines)):
                    name, value = m.group(1), float(m.group(2))
                    if untraced.get(name):
                        print(f"[{w} seed={args.seed}] tracing overhead {name}: "
                              f"traced / untraced = {value / untraced[name]:.3f}")
            else:
                untraced = {k: m["value"] for k, m in res["metrics"].items()}
            combined["correct"] &= res["correct"]
            combined["attempted"] += res["attempted"]
            combined["failed"] += res["failed"]
            for name, m in res["metrics"].items():
                combined["metrics"][f"{w}.{name}"] = m
    print(json.dumps(combined))
    return 0


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    if args.seconds <= 0:
        _fail("--seconds must be positive")
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hyrise_spark", "__init__.py")):
        _fail("run from the repository root: hyrise_spark/ is not in the working directory")
    if args.workload == "all":
        return run_all(args)
    t0 = time.perf_counter()
    result = run_one(args, root)
    result["report"].append(f"wall {time.perf_counter() - t0:.1f} s, seed {args.seed}")
    print(json.dumps(_print_result(args.workload, args.seed, result, bool(args.trace))))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
