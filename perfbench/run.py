"""Workload benchmark for the engine: one closed-loop client runs a named
workload's query list on ``local[nproc]`` and prints one JSON result line.

    python3 perfbench/run.py --workload var_forecast --seed 1 --seconds 10 --trace 0

One run, in order:

1. setup: session start plus the session warmups (``setup_s``);
2. the cold pass, which collects every query and, outside the timed
   spans, checks it against the expected outputs in ``perfbench/expected``;
3. ``tools.retime.idle_probe``, untimed, kept in the run's metadata;
4. ``round(seconds / pass_seconds)`` warm passes (at least one), where
   ``pass_seconds`` is the workload's nominal warm pass in
   ``perfbench/workloads.json``, so every run does the same work.

Every pass runs the workload's queries back to back: the cold pass in
the listed order, so the first query after setup is the same in every
run, and each warm pass in an order drawn from ``--seed``. Each query is
built with ``fn(spark, data_dir)`` and, in warm passes, sunk with a
``noop`` write. A pass's wall time is the sum of its queries' build and
sink times. Caches are cleared between passes, not between queries.

After each query of an untraced warm pass, outside the query's timing,
``probe_job``, a fixed small Spark job with no engine code, runs twice.
``pass_s_norm`` is the warm pass wall times ``PROBE_REF_S`` over
the mean probe time of that pass, its highest and lowest sample left
out: the pass as it takes when the host runs the probe job at its
quiet-host speed. A shared host's speed drifts by tens of percent over
minutes, and the probes, taken in the same seconds as the queries,
drift with it; an engine change moves the pass and not the probe. The
raw walls and probe times are in the result file.

With ``--trace 1`` each warm pass is followed by a traced one; the
traced ones give the per-layer numbers (``perfbench/spans.py``,
``perfbench/sparkstats.py``). A full record of the run, with its
metadata, goes to ``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data")
EXPECTED_DIR = os.path.join(HERE, "expected")
RESULTS_DIR = os.path.join(HERE, "results")
RUNS_DIR = os.path.join(HERE, ".runs")


def load_spec() -> dict:
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# probe_job's wall on a quiet 4-core x86 VM (0.14-0.18 s)
PROBE_REF_S = 0.15


def probe_job(spark) -> float:
    """Wall seconds of a fixed Spark job that runs no engine code: the
    no-op job of ``tools.retime.idle_probe`` at a quarter of its rows,
    about as long as one of the engine's small jobs."""
    t0 = time.perf_counter()
    spark.range(0, 16_000_000, 1, 16).selectExpr("sum(id % 1000003) AS s").collect()
    return time.perf_counter() - t0


def isolate(run_dir: str) -> dict[str, str]:
    """Point every temp, warehouse and spill location of this run into
    ``run_dir`` and return the Spark conf that completes it."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "warehouse", "local")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    # executors' Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    return {
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.local.dir": dirs["local"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
        # the status store backs the per-layer numbers; its REST server
        # runs in untraced runs too, so both kinds of run match
        "spark.ui.enabled": "true",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


class Bench:
    """One run of one workload: owns the session, the tracer and the
    samples."""

    def __init__(self, workload: str, spec: dict, seed: int, trace: bool, conf: dict):
        from var_elasticnet_bigdata_spark import queries as Q

        self.Q = Q
        self.workload = workload
        self.names = spec["workloads"][workload]["queries"]
        self.rng = random.Random(seed)
        self.trace = trace
        self.conf = conf
        self.spark = None
        self.tracer = None
        self.wrapped = 0
        self.attempted = 0
        self.failures: list[dict] = []
        if trace:
            from spans import Tracer, install

            self.tracer = Tracer()
            self.wrapped = install(self.tracer)

    # -- setup ---------------------------------------------------------
    def setup(self) -> float:
        from tools.retime import warmup_session
        from var_elasticnet_bigdata_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        warmup_session(self.spark, DATA_DIR)
        return time.perf_counter() - t0

    # -- passes --------------------------------------------------------
    def run_pass(self, verify: bool = False, traced: bool = False) -> dict:
        """One timed pass over the query list: in listed order for the
        ``verify`` pass, else in a fresh permutation drawn from the seed.

        A pass sinks each query with a noop write; a ``verify`` pass
        collects it instead and, outside the timed span, compares the
        rows with the expected output. Traced verify passes also read
        Catalyst time and plan size off each returned plan. Untraced warm
        passes run ``probe_job`` twice after each query, outside its span."""
        import sparkstats
        from outputs import check

        order = list(self.names) if verify else self.rng.sample(self.names, len(self.names))
        window = sparkstats.Window(self.spark) if traced else None
        if traced:
            self.tracer.reset()
            self.tracer.enabled = True
        build = sink = plan_ms = 0.0
        plan_nodes = 0
        per_query: dict[str, float] = {}
        probes: list[float] = []
        probing = not (verify or traced)
        for name in order:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                df = self.Q.QUERIES[name](self.spark, DATA_DIR)
                t1 = time.perf_counter()
                if not verify:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    if self.trace:
                        ms, nodes = sparkstats.plan_stats(df)
                        plan_ms += ms
                        plan_nodes += nodes
                    got = df.toPandas()
            except Exception as e:  # noqa: BLE001 - a failed query is counted, not fatal
                detail = traceback.format_exception_only(e)[-1].strip()
                self.failures.append({"query": name, "kind": "raised", "detail": detail})
                continue
            t2 = time.perf_counter()
            build += t1 - t0
            sink += t2 - t1
            per_query[name] = t2 - t0
            if probing:
                probes += (probe_job(self.spark), probe_job(self.spark))
            if verify:
                problems = check(name, got)
                if problems:
                    self.failures.append({"query": name, "kind": "wrong output", "detail": problems})
        wall = sum(per_query.values())
        out = {"wall_s": wall, "order": order, "query_s": per_query}
        if probing:
            out["probe_s"] = probes
        if verify and self.trace:
            out["plan"] = {"catalyst.plan_ms": plan_ms, "catalyst.plan_nodes": plan_nodes}
        if traced:
            self.tracer.enabled = False
            out["layers"] = {
                "queries.build_s": build,
                "queries.sink_s": sink,
                **window.collect(wall),
            }
            out["spans"] = self.tracer.snapshot()
        self.spark.catalog.clearCache()
        return out

    # -- teardown ------------------------------------------------------
    def peak_rss_mb(self) -> float:
        """Driver JVM high-water RSS plus this Python process's."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024

    def close(self) -> None:
        """Stop the session, then the JVM itself, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def layer_numbers(bench: Bench, traced: list[dict], untraced: list[dict], plan: dict) -> dict:
    from spans import layer_metrics

    out: dict[str, float] = {}
    for key in traced[0]["layers"]:
        out[key] = statistics.median(p["layers"][key] for p in traced)
    span_sets = [layer_metrics(p["spans"], bench.tracer.layer_of) for p in traced]
    names = set().union(*span_sets)
    for key in names:
        out[key] = statistics.median(s.get(key, 0) for s in span_sets)
    spread_calls = statistics.median(
        p["spans"]["calls"].get("plans.spread.spread_to_cores", 0) for p in traced
    )
    fired = statistics.median(p["spans"]["spread_fired"] for p in traced)
    out["plans.spread.fired_frac"] = fired / spread_calls if spread_calls else 0.0
    out.update(plan)
    t_wall = statistics.median(p["wall_s"] for p in traced)
    u_wall = statistics.median(p["wall_s"] for p in untraced)
    out["trace.overhead_frac"] = t_wall / u_wall - 1
    out["session.peak_rss_mb"] = bench.peak_rss_mb()
    return out


def metadata(bench: Bench, args, spec: dict, idle: dict) -> dict:
    import platform

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True
        )
        commit = r.stdout.strip() or None
    sc = bench.spark.sparkContext
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc(),
        "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "master": sc.master,
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "commit": commit,
        "data": spec["inputs"]["dir"],
        "sf": spec["inputs"]["sf"],
        "spark": bench.spark.version,
        "python": platform.python_version(),
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "idle_probe": idle,
        "traced_bindings": bench.wrapped,
        "date": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = load_spec()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        contract = json.load(f)
    units = {m["name"]: m["unit"] for m in contract["end_to_end"] + contract["per_layer"]}
    if args.workload not in spec["workloads"]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        import tools.check_oracle  # noqa: F401 - output checks need it
        import var_elasticnet_bigdata_spark  # noqa: F401
    except ImportError as e:
        print(f"engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.isdir(DATA_DIR) or not os.path.isdir(EXPECTED_DIR):
        print("missing perfbench/data or perfbench/expected", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its directories
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(RUNS_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=RUNS_DIR)
    bench = None
    try:
        conf = isolate(run_dir)
        bench = Bench(args.workload, spec, args.seed, bool(args.trace), conf)
        phases = {"setup": bench.setup()}
        t0 = time.perf_counter()
        cold = bench.run_pass(verify=True)
        phases["cold"] = time.perf_counter() - t0
        from tools.retime import idle_probe

        idle = idle_probe(bench.spark)
        for _ in range(3):  # the first runs of probe_job's own plan are slower
            probe_job(bench.spark)
        untraced: list[dict] = []
        traced: list[dict] = []
        t0 = time.perf_counter()
        passes = max(1, round(args.seconds / spec["workloads"][args.workload]["pass_seconds"]))
        for _ in range(passes):
            untraced.append(bench.run_pass())
            if args.trace:
                traced.append(bench.run_pass(traced=True))
        phases["warm"] = time.perf_counter() - t0

        e2e = {
            "setup_s": phases["setup"],
            "pass_s_norm": statistics.median(
                p["wall_s"] * PROBE_REF_S / statistics.fmean(sorted(p["probe_s"])[1:-1])
                for p in untraced
            ),
            "pass_s": statistics.median(p["wall_s"] for p in untraced),
            "cold_pass_s": cold["wall_s"],
        }
        if args.trace:
            layers = layer_numbers(bench, traced, untraced, cold["plan"])
            shown = {m["name"]: layers.get(m["name"], 0) for m in contract["per_layer"]}
        else:
            layers = {}
            shown = {m["name"]: e2e[m["name"]] for m in contract["end_to_end"]}
        failed = len(bench.failures)
        record = {
            "meta": metadata(bench, args, spec, idle),
            "end_to_end": e2e,
            "phase_s": phases,
            "failed_frac": failed / bench.attempted,
            "failures": bench.failures,
            "passes": {"cold": cold, "warm": untraced, "traced": traced},
            "per_layer": layers,
        }
        os.makedirs(RESULTS_DIR, exist_ok=True)
        out_path = os.path.join(
            RESULTS_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        )
        with open(out_path, "w") as f:
            json.dump(record, f, indent=1, default=str)
        for f in bench.failures:
            print(f"FAILED {f['query']}: {f['kind']}: {f['detail']}", file=sys.stderr)
        result = {
            "correct": failed == 0,
            "attempted": bench.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in shown.items()},
        }
    finally:
        try:
            if bench is not None:
                bench.close()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
