"""The repo benchmark: run one named workload through the engine's public
query path and print its metrics.

    python3 perfbench/run.py --workload batch_sql --seed 1 --seconds 30 --trace 0

One process is one closed-loop client on one shared SparkSession, keys
one after another, the way ``queries()`` callers use the engine:

1. set-up: imports, the cold ``all_specs()``, ``get_spark()`` and the
   warm-ups, all inside ``setup_s`` (measured from process start);
2. the DuckDB oracle of every key, outside any timed region and in a
   child process, so the driver's peak RSS holds none of it;
3. one timed pass over the workload's keys (``workloads.py``), each key
   once as ``spec.fn(spark, sf_dir).toPandas()``, in an order the seed
   permutes.  The pass is the process's first, so it is cold, as every
   key in a bench.py sweep is.  ``--seconds`` is accepted and does not
   change the work: a second pass would be warm, and a pass count that
   grew as the engine got faster would mix cold and warm timings;
4. every result compared with its oracle (``testing.compare_frames``);
   a rows-only key must return rows.

``--trace 0`` takes no per-layer readings and prints the end-to-end
metrics.  ``--trace 1`` adds the probes of ``layers.py`` and prints
the per-layer metrics; its ``trace.wall_s`` minus an untraced run's
``wall_s`` is the cost of tracing.

The last line of stdout is one JSON object: ``correct``, ``attempted``
(key calls), ``failed`` (calls that raised or disagreed with their
oracle) and ``metrics``.  The line before it is a report holding every
end-to-end metric with its unit (error and mismatch rates, per-call
p50 and p90 among them), the failing keys, CPU steal and load
average for the pass, and every call as ``[key, latency_s,
steal_pct_of_busy, loadavg_1m]``.  The exit code is 0 only when every
call succeeded and matched.

A run writes only under ``.perfbench_run/`` at the repository root
(temp files, Spark local dirs, the SQL warehouse), which it removes at
exit, and ``.perfbench_cache/`` (oracle results).
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import pickle  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import host  # noqa: E402
from workloads import WORKLOADS, all_modules, module_of  # noqa: E402

DEFAULT_SF_DIR = os.path.join(HERE, "data", "sf0.01")
TAIL_PCT = 90
# local[N] runs the driver and every executor thread in one JVM.  The
# workloads' data at sf0.01 needs a fraction of 1 GiB, a 4 GiB host with
# no swap still fits it, and one fixed size keeps peak RSS comparable
# between hosts (heap growth would otherwise follow the host's RAM).
DRIVER_HEAP = "1g"

# Every end-to-end metric, with its unit; all go into the report line.
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MiB",
    "error_rate": "ratio",
    "mismatch_rate": "ratio",
}
# The ones in the result line, which BENCHMARK.json bounds.  The rates
# are 0 when all is well, so a share of their median means nothing; the
# result line carries them as ``failed``.  Per-call percentiles over
# one pass spread 12-37 % between seeds (the order decides which keys
# run while the JVM is still compiling), more than a bound can allow.
GATED = ("setup_s", "wall_s", "cpu_s", "peak_rss_mb")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    return ap.parse_args(argv)


def isolate(root: str) -> dict[str, str]:
    """A fresh run directory, and the environment that keeps the engine
    inside it and sized to this host.  Must run before the JVM starts."""
    base = os.path.join(root, ".perfbench_run")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=base)
    dirs = {
        name: os.path.join(run_dir, name)
        for name in ("tmp", "spark-local", "warehouse")
    }
    for d in dirs.values():
        os.mkdir(d)
    dirs["run"] = run_dir
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["SPARK_GRAFT_CPUS"] = str(host.cpu_count())
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    # Python workers import query modules by name (the as-of kernels
    # do), so they need the repo root whatever the working directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    java_opts = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's own JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options",
            shlex.quote(java_opts),
            "--conf",
            shlex.quote(f"spark.sql.warehouse.dir={dirs['warehouse']}"),
            "pyspark-shell",
        ]
    )
    return dirs


def warm_up(spark, workload: str, sf_dir: str) -> None:
    """One-time per-process work, so that it lands in set-up and not on
    whichever key the seed puts first: the first job, the first parquet
    scan, the Python worker pool, the first streaming query, and the
    bucketed join's warehouse tables."""
    from pyspark.sql import functions as F

    from flink_streaming_example_spark.operators.joins import bucketed_order_tables

    def first_stream() -> None:
        q = (
            spark.readStream.format("rate").option("rowsPerSecond", 1).load()
            .writeStream.format("memory").queryName("perfbench_warm_up")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="warm_"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(30)
        q.stop()

    def identity(batches):
        yield from batches

    steps = [
        ("first job", lambda: spark.range(100_000).selectExpr("sum(id)").collect()),
        ("parquet scan", lambda: spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).collect()),
    ]
    if workload == "streaming_graph":
        steps.append((
            "python workers",
            lambda: spark.range(10_000, numPartitions=host.cpu_count())
            .mapInPandas(identity, "id long").agg(F.sum("id")).collect(),
        ))
        steps.append(("first stream", first_stream))
    if workload == "batch_sql":
        steps.append(("bucketed tables", lambda: bucketed_order_tables(spark, sf_dir)))
    for what, step in steps:
        try:
            step()
        except Exception:  # the key that needs it reports the real error
            print(f"# warm-up {what} failed:", file=sys.stderr)
            traceback.print_exc()


def _data_digest(sf_dir: str) -> str | None:
    """Content hash of the fixture tables, or None if one is missing."""
    from flink_streaming_example_spark.sources.tables import TABLE_NAMES

    h = hashlib.sha256()
    for t in TABLE_NAMES:
        try:
            with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as fh:
                h.update(fh.read())
        except OSError:
            return None
    return h.hexdigest()


def oracles(specs: dict, keys: list[str], sf_dir: str, cache_dir: str) -> dict[str, object]:
    """key -> oracle frame, None for a rows-only key, or the exception
    the oracle raised.

    Some oracles take DuckDB half a minute, so a result is kept in
    ``cache_dir`` under the hash of its SQL and of the fixture's bytes;
    a changed oracle or fixture misses the cache and is evaluated anew,
    in a child process, so that neither DuckDB nor its working memory
    shows in the driver's peak RSS, whatever the state of the cache.
    """
    import pandas as pd

    digest = _data_digest(sf_dir)
    out: dict[str, object] = {}
    todo: dict[str, str] = {}
    paths: dict[str, str] = {}
    for k in keys:
        sql = specs[k].oracle
        if sql is None:
            out[k] = None
            continue
        if digest is not None:
            name = hashlib.sha256(f"{digest}\n{sql}".encode()).hexdigest()
            paths[k] = os.path.join(cache_dir, f"{name}.pkl")
            if os.path.exists(paths[k]):
                out[k] = pd.read_pickle(paths[k])
                continue
        todo[k] = sql
    if not todo:
        return out
    # A plain child process, waited for: multiprocessing's spawn context
    # would leave its resource tracker running after the benchmark exits.
    with tempfile.TemporaryDirectory(prefix="oracle_") as d:
        job, result = os.path.join(d, "job.pkl"), os.path.join(d, "out.pkl")
        with open(job, "wb") as fh:
            pickle.dump({"sqls": todo, "sf_dir": sf_dir}, fh)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "oracle.py"), job, result],
            check=True, timeout=120,
        )
        with open(result, "rb") as fh:
            fresh = pickle.load(fh)
    for k, v in fresh.items():
        if isinstance(v, str):
            out[k] = RuntimeError(v)
            continue
        out[k] = v
        if k in paths:
            os.makedirs(cache_dir, exist_ok=True)
            tmp = f"{paths[k]}.{os.getpid()}"
            v.to_pickle(tmp)
            os.replace(tmp, paths[k])
    return out


def check(pdf, oracle) -> str | None:
    """Why a result is wrong, or None."""
    from flink_streaming_example_spark.testing import compare_frames

    if isinstance(oracle, Exception):
        return f"oracle failed: {oracle}"
    if oracle is None:
        return None if len(pdf) > 0 and len(pdf.columns) > 0 else "rows-only key returned no rows"
    res = compare_frames(pdf, oracle)
    return None if res.ok else res.detail


def tail(latencies: list[float]) -> float:
    """The 90th percentile (nearest rank).  A run holds one pass of
    13-20 calls, where the highest percentile with ten calls beyond it
    would sit at or below the median."""
    xs = sorted(latencies)
    return xs[math.ceil(TAIL_PCT / 100 * len(xs)) - 1]


class Bench:
    def __init__(self, args: argparse.Namespace, root: str, dirs: dict[str, str]) -> None:
        self.args = args
        self.root = root
        self.dirs = dirs
        self.spark = None
        self.layer = {}

    def setup(self, age_at_t0: float) -> None:
        t = time.perf_counter()
        from flink_streaming_example_spark.plans.registry import all_specs
        from flink_streaming_example_spark.session import get_spark

        import bench as harness  # the repo's host-noise helpers

        self.harness = harness
        t_specs = time.perf_counter()
        self.specs = all_specs()
        t_spark = time.perf_counter()
        self.spark = get_spark("perfbench")
        t_warm = time.perf_counter()
        warm_up(self.spark, self.args.workload, self.args.sf_dir)
        t_end = time.perf_counter()
        self.setup_s = age_at_t0 + (t_end - _T0)
        self.layer.update(
            {
                "plans.registry.all_specs_s": t_spark - t_specs,
                "session.get_spark_s": t_warm - t_spark,
                "setup.warmup_s": t_end - t_warm,
            }
        )
        print(f"# set-up {self.setup_s:.2f} s (imports {t_specs - t:.2f} s)", file=sys.stderr)

    def keys(self) -> list[tuple[str, str]]:
        """(key, module) of the workload; fails loudly if the registry
        moved a key to another module or dropped it."""
        out = []
        for module, keys in WORKLOADS[self.args.workload].items():
            for k in keys:
                actual = module_of(self.specs[k].fn)
                if actual != module:
                    raise SystemExit(f"{k} is registered in {actual}, not {module}")
                out.append((k, module))
        return out

    def run_pass(self, order, trace) -> dict:
        from flink_streaming_example_spark.operators import pinning

        h = self.harness
        pid = os.getpid()
        calls = []
        cpu0 = host.tree_cpu_s(pid)
        jif0 = h._cpu_jiffies()
        t_pass = time.perf_counter()
        for key, module in order:
            if trace:
                trace.begin(module)
            load = os.getloadavg()[0]
            jif = h._cpu_jiffies()
            err = pdf = None
            t0 = time.perf_counter()
            t1 = t0
            try:
                df = self.specs[key].fn(self.spark, self.args.sf_dir)
                t1 = time.perf_counter()
                pdf = df.toPandas()
            except Exception as e:  # keep timing the rest; report the key
                err = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
                print(f"# {key} raised:", file=sys.stderr)
                traceback.print_exc()
            t2 = time.perf_counter()
            # Dropped between keys so one key's cached blocks and pinned
            # checkpoints cannot crowd the next (as bench.py does).
            self.spark.catalog.clearCache()
            pinning.release_all()
            noise = h._host_noise(jif, h._cpu_jiffies()) or {}
            calls.append(
                {
                    "key": key,
                    "module": module,
                    "latency_s": t2 - t0,
                    "build_s": t1 - t0,
                    "collect_s": t2 - t1,
                    "error": err,
                    "pdf": pdf,
                    "steal_pct_of_busy": noise.get("steal_pct_of_busy"),
                    "loadavg_1m": load,
                }
            )
            if trace:
                trace.end(t1 - t0, t2 - t1)
        wall = time.perf_counter() - t_pass
        cpu = host.tree_cpu_s(pid) - cpu0
        return {"wall_s": wall, "cpu_s": cpu, "calls": calls,
                "noise": h._host_noise(jif0, h._cpu_jiffies())}

    def measure(self) -> dict:
        args = self.args
        keys = self.keys()
        t = time.perf_counter()
        expected = oracles(
            self.specs, [k for k, _ in keys], args.sf_dir,
            os.path.join(self.root, ".perfbench_cache", "oracles"),
        )
        print(f"# oracles {time.perf_counter() - t:.2f} s", file=sys.stderr)
        trace = None
        if args.trace:
            from layers import LayerTrace

            trace = LayerTrace(self.spark, self.dirs["tmp"])
        order = list(keys)
        random.Random(args.seed).shuffle(order)
        p = self.run_pass(order, trace)
        t = time.perf_counter()
        for c in p["calls"]:
            pdf = c.pop("pdf")
            c["mismatch"] = None if c["error"] else check(pdf, expected[c["key"]])
        print(f"# pass {p['wall_s']:.2f} s, checked in {time.perf_counter() - t:.2f} s", file=sys.stderr)
        rss = host.vm_hwm_mb(os.getpid()) + host.vm_hwm_mb(self.jvm_pid())
        orphans = None
        if trace:
            trace.settle()
            orphans = trace.stream_totals()
            trace.close()
        return {"pass": p, "rss_mb": rss, "trace": trace, "orphans": orphans}

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def stop(self) -> None:
        """Stop Spark and wait until the JVM and its Python workers have
        exited; kill what is left after a grace period."""
        if "pyspark" not in sys.modules:
            return
        from pyspark import SparkContext

        # The JVM may be up even when get_spark() or a warm-up raised.
        gateway = SparkContext._gateway
        if gateway is None:
            return
        tree = host.tree_pids(gateway.proc.pid)
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits on stdin EOF
            try:
                gateway.proc.wait(timeout=30)
            except Exception:
                gateway.proc.kill()
                gateway.proc.wait()
            alive = _wait_gone(tree, 10)
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            _wait_gone(alive, 10)


def _wait_gone(pids: list[int], seconds: float) -> list[int]:
    """Wait up to ``seconds`` for the processes to end; those still alive."""
    deadline = time.monotonic() + seconds
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        if alive:
            time.sleep(0.05)
    return alive


def summarise(bench: Bench, res: dict) -> tuple[dict, dict, list]:
    args = bench.args
    p = res["pass"]
    calls = p["calls"]
    lat = [c["latency_s"] for c in calls]
    errors = [c for c in calls if c["error"]]
    checked = [c for c in calls if not c["error"]]
    wrong = [c for c in checked if c["mismatch"]]
    e2e = {
        "setup_s": bench.setup_s,
        "wall_s": p["wall_s"],
        "query_p50_s": statistics.median(lat),
        "query_tail_s": tail(lat),
        "cpu_s": p["cpu_s"],
        "peak_rss_mb": res["rss_mb"],
        "error_rate": len(errors) / len(calls),
        "mismatch_rate": len(wrong) / len(checked) if checked else 1.0,
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "sf_dir": os.path.relpath(args.sf_dir),
        "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
        "query_tail_pct": TAIL_PCT,
        "query_tail_samples": len(lat),
        "failed_keys": sorted({c["key"] for c in errors + wrong}),
        "steal_pct_of_busy": (p["noise"] or {}).get("steal_pct_of_busy"),
        "loadavg_1m": os.getloadavg()[0],
        "cpus": host.cpu_count(),
        "driver_heap": DRIVER_HEAP,
        "calls": [
            [c["key"], c["latency_s"], c["steal_pct_of_busy"], c["loadavg_1m"]]
            for c in calls
        ],
    }
    if res["trace"] is not None:
        report["unattributed_progress_events"] = res["orphans"]
    return e2e, report, calls


def layer_values(bench: Bench, res: dict) -> dict[str, float]:
    from layers import layer_metrics

    totals = res["trace"].totals
    out = {}
    for name, _unit in layer_metrics(all_modules()):
        if name in bench.layer:
            out[name] = bench.layer[name]
        elif name == "trace.wall_s":
            out[name] = res["pass"]["wall_s"]
        else:
            out[name] = totals.get(name, 0.0)
    return out


def main(argv: list[str] | None = None) -> int:
    age_at_t0 = host.process_age_s() - (time.perf_counter() - _T0)
    args = parse_args(argv)
    # A terminated run still stops the JVM and removes its run directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.path.dirname(HERE)
    sys.path.insert(0, root)
    # The engine's console noise (progress bars, console sinks) goes to
    # stderr, so the result is the last line of stdout.
    stdout = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    dirs = isolate(root)
    bench = Bench(args, root, dirs)
    try:
        bench.setup(age_at_t0)
        res = bench.measure()
        e2e, report, calls = summarise(bench, res)
        if args.trace:
            from layers import layer_metrics

            values = layer_values(bench, res)
            units = dict(layer_metrics(all_modules()))
        else:
            values = {k: e2e[k] for k in GATED}
            units = END_TO_END
        metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    finally:
        t = time.perf_counter()
        bench.stop()
        shutil.rmtree(dirs["run"], ignore_errors=True)
        print(f"# stopped in {time.perf_counter() - t:.2f} s", file=sys.stderr)
    failed = sum(1 for c in calls if c["error"] or c["mismatch"])
    result = {"correct": failed == 0, "attempted": len(calls), "failed": failed, "metrics": metrics}
    print(json.dumps(report), file=stdout)
    print(json.dumps(result), file=stdout)
    stdout.flush()
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
