"""Benchmark launcher: one closed-loop batch job at a time from a single
Python process that runs Spark on ``local[nproc]``.

    python3 perfbench/run.py --workload geo_spatial --seed 1 --seconds 5 --trace 0

Run from the repository root. The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see ``perfbench/metrics.py``). The full record of
the run (every iteration with its load stamps, the spans, the gates and
the host/session description) is written to
``.perfbench/results/<workload>-s<seed>-t<trace>.json``.

Flow: start the JVM; generate the seeded inputs (cached per workload
and seed); set up ``SETUPS`` times (restart the session, register the
inputs, warm up with one pass over the main table) and report the
median; run one cold iteration; then warm iterations until ``--seconds``
have passed (at least one); run the correctness gates outside the timed
region; stop every process started.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 3
CONTAMINATED_EXT_CORES = 1.0  # external busy cores that flag an iteration
KEEP_INPUT_SETS = 3  # cached input sets kept per workload


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_session_env() -> dict:
    """Fix every env var ``session.get_spark`` reads, so results do not
    depend on the caller's shell or on how much of /dev/shm is free:
    all cores, an on-disk shuffle dir inside the checkout, and a heap of
    a quarter of RAM (at most 4 GiB) that leaves room for the OS and
    the Python workers. The batch sizes, scan partitioning and executor
    options keep get_spark's defaults. Temp files of Python and the JVM
    go under the checkout too, and the JVM writes no perf-data file to
    /tmp."""
    nproc = os.cpu_count() or 1
    heap_mb = max(1024, min(4096, mem_total_mb() // 4))
    tmp = os.path.join(WORK, "tmp")
    env = {
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_DRIVER_MEM": f"{heap_mb}m",
        # session.get_spark's default (ParallelGC) plus the two temp pins
        "SPARK_DRIVER_JAVA_OPTS": f"-XX:+UseParallelGC -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_EXECUTOR_JAVA_OPTS": "-XX:+UseParallelGC",
        "SPARK_ARROW_BATCH": "5000",
        "SPARK_PARQUET_BATCH_ROWS": "1024",
        "SPARK_MAX_PARTITION_BYTES": "16m",
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    os.environ.update(env)
    for d in (env["SPARK_LOCAL_DIRS"], tmp):
        os.makedirs(d, exist_ok=True)
    return env


def source_digest() -> str:
    """Digest of the engine's sources: identifies the code measured when
    the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "batch_geocode_spark")
    for base, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(base, f)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(ROOT, ".git", ref[5:])) as f:
            return f.read().strip()
    except OSError:
        return None


def host_info(env: dict) -> dict:
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "mem_total_mb": mem_total_mb(),
        "pyspark": pyspark.__version__,
        "git_commit": git_commit(),
        "source_digest": source_digest(),
        "session_env": env,
    }


class Session:
    """Owns the SparkSession and the JVM it runs in."""

    def __init__(self):
        self.spark = None

    def start(self):
        from batch_geocode_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench")
        return self.spark

    def restart(self):
        self.spark.stop()
        return self.start()

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for every descendant."""
        from pyspark import SparkContext

        from perfbench.tracing import tree_pids

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        while tree_pids() and time.time() < deadline:
            time.sleep(0.2)
        for pid in tree_pids():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while tree_pids() and time.time() < deadline + 30:
            time.sleep(0.2)


def prepare_inputs(wl, spark, seed: int) -> tuple[str, dict]:
    """Generate the inputs once per (workload, seed) and return (dir,
    meta); ``meta["gen_s"]`` is the generation time."""
    base = os.path.join(WORK, "inputs", wl.name)
    d = os.path.join(base, f"seed{seed}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return d, json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    t0 = time.perf_counter()
    meta = wl.generate(spark, seed, d, os.path.join(WORK, "inputs", "shared"))
    meta["gen_s"] = time.perf_counter() - t0
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    # keep the cache bounded: drop the oldest input sets of this workload
    sets = sorted((os.path.join(base, e) for e in os.listdir(base)), key=os.path.getmtime)
    for old in sets[:-KEEP_INPUT_SETS]:
        shutil.rmtree(old, ignore_errors=True)
    return d, meta


def run(args) -> tuple[dict, dict]:
    """Returns (result line, full record)."""
    from batch_geocode_spark.loadmeter import ExternalCpuMeter, tree_cpu_s

    from perfbench import metrics as M
    from perfbench.tracing import RssSampler, Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]()
    env = pin_session_env()
    record = {"workload": wl.name, "seed": args.seed, "trace": args.trace}
    record["host"] = host_info(env)
    t_run = time.perf_counter()
    phases = record["phases"] = {}

    def phase(name: str) -> None:
        phases[name] = round(time.perf_counter() - t_run, 3)

    run_id = f"{wl.name}-s{args.seed}-t{args.trace}"
    tmp = os.path.join(WORK, "tmp", run_id)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)

    sess = Session()
    try:
        # set-up = start the session, register the inputs, warm up. The
        # first one launches the JVM (input generation, which needs a
        # session, is timed apart); the others restart the session in it.
        t0 = time.perf_counter()
        spark = sess.start()
        starts = [time.perf_counter() - t0]
        d, meta = prepare_inputs(wl, spark, args.seed)
        record["inputs"] = {"dir": os.path.relpath(d, ROOT), **meta}
        t0 = time.perf_counter()
        ctx = wl.register(spark, d, meta)
        wl.warm(ctx)
        setups = [starts[0] + time.perf_counter() - t0]
        for _ in range(SETUPS - 1):
            t0 = time.perf_counter()
            spark = sess.restart()
            starts.append(time.perf_counter() - t0)
            ctx = wl.register(spark, d, meta)
            wl.warm(ctx)
            setups.append(time.perf_counter() - t0)
        record["setup_s"], record["session_start_s"] = setups, starts
        phase("setup")

        def iterate() -> dict:
            load = os.getloadavg()[0]
            with ExternalCpuMeter() as ext:
                cpu0 = tree_cpu_s()
                t0 = time.perf_counter()
                result = wl.iteration(ctx)
                wall = time.perf_counter() - t0
                cpu = tree_cpu_s() - cpu0
            ext_cores = ext.ext_cores()
            return {
                "wall_s": wall,
                "cpu_s": cpu,
                "ext_cores": ext_cores,
                "load1": load,
                "contaminated": ext_cores > CONTAMINATED_EXT_CORES,
                "result": result,
            }

        iters: list[dict] = []
        with RssSampler() as rss:
            cold = iterate()
            rss.reset()
            t_start = time.perf_counter()
            # warm iterations until --seconds have passed, at least one; a
            # traced run makes one, as the untraced reference for its spans
            while not iters or (
                not args.trace and time.perf_counter() - t_start < args.seconds
            ):
                iters.append(iterate())
            peak_rss = rss.peak_mb
        phase("iterations")
        results = [cold["result"]] + [it["result"] for it in iters]
        record["cold"] = {k_: v for k_, v in cold.items() if k_ != "result"}
        attempted, failed = len(results), 0
        record["iterations"] = [{k_: v for k_, v in it.items() if k_ != "result"} for it in iters]
        record["peak_rss_mb"] = peak_rss

        traced = []
        if args.trace:
            t_start = time.perf_counter()
            j = 0
            while j < 1 or time.perf_counter() - t_start < args.seconds:
                tr = Tracer(f"{run_id}-{j}", spark.sparkContext)
                wl.traced(ctx, tr, os.path.join(tmp, f"trace{j}"))
                shutil.rmtree(os.path.join(tmp, f"trace{j}"), ignore_errors=True)
                traced.append(tr.spans)
                j += 1
            record["spans"] = traced
            phase("traced")

        gates = wl.gates(ctx, results)
        record["gates"] = gates
        attempted += len(gates)
        failed += sum(not g["ok"] for g in gates)
        phase("gates")
    finally:
        sess.close()
        shutil.rmtree(tmp, ignore_errors=True)
        phase("closed")

    walls = [it["wall_s"] for it in iters]
    wall = M.median(walls)
    record["contaminated_iterations"] = sum(it["contaminated"] for it in iters)
    if args.trace:
        per_iter = []
        for spans in traced:
            root = M.iteration_spans(spans)[0]
            span_sum = root["end"] - root["start"]
            per_iter.append(
                M.layer_values(
                    spans,
                    {
                        "gen_s": meta["gen_s"],
                        "session_start_s": M.median(starts),
                        "span_sum_s": span_sum,
                        "untraced_wall_s": wall,
                        "overhead_s": span_sum - wall,
                        "heavy_share": M.heavy_share(spans, wl.heavy),
                    },
                )
            )
        values = {
            name: M.median([v[name] for v in per_iter]) for name, *_ in M.PER_LAYER
        }
        units = {name: unit for name, unit, *_ in M.PER_LAYER}
    else:
        values = {
            "cpu_s": M.median([it["cpu_s"] for it in iters]),
            "cold_cpu_s": record["cold"]["cpu_s"],
            "peak_rss_mb": peak_rss,
            "setup_s": M.median(setups),
        }
        units = {name: unit for name, unit, *_ in M.END_TO_END}
    # too noisy to bound (see metrics.END_TO_END) or 0 on a passing run
    record["evidence"] = {
        "wall_s": wall,
        "wall_s_samples": len(walls),
        "items_per_s": meta["items"] / wall,
        "cold_s": record["cold"]["wall_s"],
        "failed_frac": failed / attempted,
    }
    line = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    return line, record


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "batch_geocode_spark")):
        print(f"batch_geocode_spark package not found under {ROOT}", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    args = parse_args(argv)
    try:
        line, record = run(args)
    except Exception:  # noqa: BLE001 — report and fail without a result line
        traceback.print_exc()
        return 1
    out = os.path.join(WORK, "results", f"{args.workload}-s{args.seed}-t{args.trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    record["result"] = line
    with open(out, "w") as f:
        json.dump(record, f, indent=1, default=str)
    for g in record["gates"]:
        if not g["ok"]:
            print(f"gate failed: {g['name']}: {g['detail']}", file=sys.stderr)
    print("evidence:", json.dumps(record["evidence"]))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
