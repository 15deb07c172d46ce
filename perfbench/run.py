"""Benchmark entry point: one workload, one seed, one run.

Usage (from the repository root)::

    python3 perfbench/run.py --workload heavy_batch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload etl --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --workload adhoc --seed 1 --seconds 10 --trace 0 --smoke

The run generates its inputs from ``--seed`` and builds a local Spark
session (``local[<cores>]``) in an isolated run directory under
``.perfbench/``: warehouse, Spark local dirs and temp files all live
there and are removed at the end.  It sets up several times (the
median is ``setup_s``), runs the workload's closed loop until
``--seconds`` have passed (whole passes, at least one), checks the
outputs untimed and prints one JSON result as the last line of stdout:
the end-to-end metrics of ``BENCHMARK.json`` with ``--trace 0``, its
per-layer metrics with ``--trace 1``.  The lines before it record the
host, peak memory per JVM pool and every end-to-end metric with its
unit; the traced run also writes its spans, self times and
status-store snapshot to ``.perfbench/trace-<workload>-<seed>.json``.

Exit status: 0 when every operation and check passed, 1 when any
failed (the result line is still printed), 2 when the engine is not
beside this directory or the run could not complete.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import probes  # noqa: E402
import workloads as wl  # noqa: E402

SPEC = json.load(open(os.path.join(HERE, "SPEC.json")))
#: The contract file at the repository root names the metrics printed.
BENCH = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))


def _sizes(workload: str, smoke: bool) -> dict:
    sizes = dict(SPEC["workloads"][workload]["size"])
    if smoke:
        sizes.update(SPEC["smoke"])
    return sizes


def _percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _isolate(workdir: str, root: str, cores: int) -> None:
    """Point every deployment setting the engine reads at the run dir."""
    for sub in ("local", "tmp", "java-tmp"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    # every JVM (the spark-submit launcher too) keeps its temp files and
    # no perf-data file in the run directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(workdir, 'java-tmp')}"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "--conf spark.sql.ui.retainedExecutions=100",
        "pyspark-shell",
    ])


def _setup_once(b: wl.Bench, rep: int, workload: str, sf_dir: str) -> dict:
    """One set-up: session build + configure, the warm-up query and
    (adhoc) the mirror builds, against a fresh warehouse and temp dir
    so nothing is reused from an earlier repetition."""
    from i3cols_spark.session import get_spark

    if b.spark is not None:
        b.spark.stop()
        b.spark = None
    rep_dir = os.path.join(b.workdir, f"setup{rep}")
    os.makedirs(os.path.join(rep_dir, "tmp"), exist_ok=True)
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(rep_dir, "warehouse")
    os.environ["TMPDIR"] = os.path.join(rep_dir, "tmp")
    tempfile.tempdir = None
    out = {}
    t0 = time.perf_counter()
    with b.spans.span(f"setup{rep}:session"):
        b.spark = get_spark("perfbench", cpus=b.cores)
        b.spark.sparkContext.setLogLevel("ERROR")
    out["session.build_s"] = time.perf_counter() - t0
    from i3cols_spark.operators import QUERIES

    t1 = time.perf_counter()
    b.spark.sparkContext.setJobGroup("perfbench-setup", "warm")
    with b.spans.span(f"setup{rep}:warm"):
        QUERIES["q_topk"](b.spark, sf_dir).collect()
    out["session.warm_s"] = time.perf_counter() - t1
    if workload == "adhoc":
        out.update(wl.setup_adhoc(b, sf_dir))
    out["setup_s"] = time.perf_counter() - t0
    return out


def _shutdown(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _host(root: str, cores: int, seed: int, spark) -> dict:
    commit = None
    try:
        commit = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    java = None
    if spark is not None:
        java = spark._jvm.System.getProperty("java.version")
    return {
        "nproc": os.cpu_count(),
        "cores_used": cores,
        "seed": seed,
        "git_commit": commit,
        "spark": spark.version if spark is not None else None,
        "java": java,
        "python": platform.python_version(),
        "client_threads": 1,
    }


def _metrics(b: wl.Bench, workload: str, setups: list[dict], res: dict, snapshot: dict | None,
             mem: dict) -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric values for one run."""
    ops = b.ops
    passes = res["passes"]
    lat = [op["wall_s"] for op in ops]
    if workload == "adhoc":
        wall = statistics.fmean(lat) * wl.ADHOC_PASS
    else:
        wall = statistics.median(res["pass_walls"])
    if workload == "etl":
        storage = res["storage_ratio"]
    elif workload == "adhoc":
        # derived layouts of the last set-up, per byte of input parquet
        written, _ = probes.dir_bytes(os.path.join(b.workdir, f"setup{len(setups) - 1}"))
        storage = written / b.extra["input_bytes"]
    else:
        written, _ = probes.dir_bytes(os.path.join(b.workdir, "out", "p0"), ".parquet")
        storage = written / b.extra["input_bytes"]
    e2e = {
        "setup_s": statistics.median(s["setup_s"] for s in setups),
        "wall_s": wall,
        "latency_p50_s": _percentile(lat, 0.5),
        "latency_p90_s": _percentile(lat, 0.9),
        "peak_rss_mb": mem["python"] + sum(mem["jvm_pools"].values()),
        "storage_ratio": storage,
    }
    if snapshot is None:
        return e2e, {}

    def med(key):
        vals = [s[key] for s in setups if key in s]
        return statistics.median(vals) if vals else 0.0

    per_pass = 1.0 / passes
    layer = {
        "session.cold_setup_s": setups[0]["setup_s"],
        "session.build_s": med("session.build_s"),
        "session.warm_s": med("session.warm_s"),
        "session.heavy_warm_s": b.extra.get("warm_s", 0.0),
        "sources.mirror_build_s": med("sources.mirror_build_s"),
        "sources.mirror_rebuilds": res.get("sources.mirror_rebuilds", 0),
        "inputs.gen_s": b.extra["gen_s"],
        "trace.wall_s": wall,
        "trace.overhead_s": b.spans.total("plan") * per_pass,
        "exec.jvm_peak_used_mb": sum(mem["jvm_pools"].values()),
    }
    for k, v in probes.exec_metrics(snapshot, ops, b.cores).items():
        layer[k] = v if k == "exec.core_busy_frac" else v * per_pass
    layer["sources.scan_input_bytes"] = (
        probes.input_bytes_of_groups(snapshot, probes.OP_GROUP) * per_pass if workload == "adhoc" else 0
    )
    queries = [op for op in ops if op["kind"] == "query"]
    layer["operators.construct_s"] = sum(op["construct_s"] for op in queries) * per_pass
    layer["operators.plan_s"] = sum(op["plan_s"] for op in queries) * per_pass
    layer["operators.action_s"] = sum(op["action_s"] for op in queries) * per_pass
    layer["operators.construct_jobs"] = sum(
        probes.jobs_in_group(snapshot, f"{op['group']}:construct") for op in queries
    ) * per_pass
    layer["operators.checkpoint_disk_bytes"] = max(
        (op.get("rdd_disk_bytes", 0) for op in queries), default=0
    )
    for name in wl.ADHOC + wl.HEAVY:
        walls = [op["wall_s"] for op in queries if op["name"] == name]
        layer[f"operators.{name}.e2e_s"] = statistics.median(walls) if walls else 0.0
    for step in wl.ETL_STEPS:
        key = "streaming.rollup_s" if step == "rollup" else f"sources.{step}_s"
        layer[key] = res.get(key, 0.0)
    readback = [op for op in ops if op["name"] == "etl.readback"]
    layer["sources.readback_input_bytes"] = sum(
        probes.input_bytes_of_groups(snapshot, op["group"] + ":") for op in readback
    ) * per_pass
    for key in ("sources.bytes_written", "sources.files_written"):
        layer[key] = res.get(key, 0)
    listener = b.extra.get("listener")
    for key, attr in (("streaming.batches", "batches"), ("streaming.input_rows", "input_rows")):
        layer[key] = (getattr(listener, attr) * per_pass) if listener else 0
    layer["streaming.state_rows"] = listener.state_rows if listener else 0
    return e2e, layer


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs; finishes in seconds")
    args = ap.parse_args(argv)

    root = os.path.dirname(HERE)
    if not os.path.isdir(os.path.join(root, "i3cols_spark")):
        print(f"perfbench: no i3cols_spark/ package beside {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    cores = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()
    base = os.path.join(root, ".perfbench")
    workdir = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir)
    _isolate(workdir, root, cores)
    sizes = _sizes(args.workload, args.smoke)
    b = wl.Bench(
        seed=args.seed, seconds=args.seconds, trace=bool(args.trace), cores=cores,
        workdir=workdir, sizes=sizes,
    )
    try:
        sf_dir = os.path.join(workdir, "tables")
        tg = time.perf_counter()
        with b.spans.span("gen:tables"):
            b.extra["input_bytes"] = gen.write_tables(
                sf_dir, sizes["sf"], args.seed, sizes.get("event_days", 30)
            )
        b.extra["gen_s"] = time.perf_counter() - tg
        setups = [_setup_once(b, rep, args.workload, sf_dir) for rep in range(sizes["setup_reps"])]
        spark = b.spark
        if args.workload == "heavy_batch":
            b.extra["warm_s"] = wl.warm_heavy(b)
        if args.workload == "etl":
            b.extra["listener"] = probes.make_progress_listener()
            spark.streams.addListener(b.extra["listener"])
        runner = {"adhoc": wl.run_adhoc, "heavy_batch": wl.run_heavy, "etl": wl.run_etl}
        ticks = probes.cpu_ticks()
        with b.spans.span("timed"):
            res = runner[args.workload](b, sf_dir)
        steal = probes.steal_frac(ticks, probes.cpu_ticks())
        snapshot = probes.read_status_store(spark) if args.trace else None
        mem = probes.memory(spark)
        b.run_checks()
        e2e, layer = _metrics(b, args.workload, setups, res, snapshot, mem)
        host = _host(root, cores, args.seed, spark)
    except Exception as e:  # noqa: BLE001
        print(f"perfbench: run failed: {type(e).__name__}: {e}", file=sys.stderr)
        return 2
    finally:
        _shutdown(b.spark)
        shutil.rmtree(workdir, ignore_errors=True)
    host["loadavg_start"] = load_start
    host["loadavg_end"] = os.getloadavg()
    host["cpu_steal_frac_timed"] = steal

    attempted = len(b.ops)
    failed = len(b.failed_ops)
    e2e["failed_frac"] = failed / attempted
    units = {n: m["unit"] for n, m in SPEC["record_only"].items()}
    units.update((m["name"], m["unit"]) for m in BENCH["end_to_end"] + BENCH["per_layer"])
    for op in b.ops:
        if not op["ok"]:
            print(f"# FAILED op {op['op']} {op['name']}: {op['error']}", file=sys.stderr)
    for msg in b.check_failures:
        print(f"# FAILED check {msg}", file=sys.stderr)
    print("# host " + json.dumps(host))
    print(f"# {args.workload}: {attempted} ops (latency sample count), {res['passes']:.2f} passes, "
          + ", ".join(f"{k}={v:.6g} {units[k]}" for k, v in sorted(e2e.items())))
    print("# memory_mb " + json.dumps(mem))
    print("# ops " + " ".join(f"{op['name']}={op['wall_s']:.3f}" for op in b.ops))
    if args.trace:
        os.makedirs(base, exist_ok=True)
        trace_path = os.path.join(base, f"trace-{args.workload}-{args.seed}.json")
        with open(trace_path, "w") as fh:
            json.dump({
                "host": host, "workload": args.workload, "metrics": layer,
                "ops": [{k: v for k, v in op.items() if k != "result"} for op in b.ops],
                "spans": b.spans.with_self_time(),
                "status_store": snapshot,
            }, fh)
        print(f"# trace written to {os.path.relpath(trace_path, root)}")
    values = layer if args.trace else e2e
    wanted = [m["name"] for m in BENCH["per_layer" if args.trace else "end_to_end"]]
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in wanted},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
