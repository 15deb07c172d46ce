"""The three benchmark workloads: ``adhoc``, ``heavy_batch`` and ``etl``.

Each is a closed loop with one client.  A workload function receives a
``Bench`` (session, tracer, run directory, seed) and returns its raw
measurements; ``run.py`` turns them into the reported metrics.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import numpy as np

import gen
import probes

#: Short queries drawn, with replacement, by ``adhoc``.
ADHOC = (
    "q_filter_compound",
    "q_join_sortmerge",
    "q_join_multiway_star",
    "q_join_bucketed",
    "q_agg_groupby",
    "q_window_topk_pergroup",
    "q_intersect",
    "q_array_hof",
    "q_scan_dpp_join",
    "q_scan_zorder",
    "q_source_npy_scan",
    "q_similarity_ann_ivf_partitioned",
)
#: The adhoc queries whose construction builds a write-once derived
#: layout (bucketed, month-partitioned, Z-order and IVF mirrors, and
#: the npy events fixture); set-up builds them so requests hit them warm.
MIRRORED = (
    "q_join_bucketed",
    "q_scan_dpp_join",
    "q_scan_zorder",
    "q_similarity_ann_ivf_partitioned",
    "q_source_npy_scan",
)
#: The six costliest end-to-end jobs, run in seeded order by ``heavy_batch``.
HEAVY = (
    "q_graph_triangles",
    "q_dedup_simhash_verified",
    "q_dedup_minhash_lsh_verified",
    "q_basket_assoc_rules_rel",
    "q_dedup_near_minhash",
    "q_pipeline_end2end",
)
ETL_STEPS = ("import", "combine", "compact", "readback", "rollup", "export")
#: ``adhoc`` reports wall time per this many requests (one per query).
ADHOC_PASS = len(ADHOC)


class Bench:
    """Per-run state shared by set-up, the timed loop and the checks."""

    def __init__(self, *, seed, seconds, trace, cores, workdir, sizes):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = cores
        self.workdir = workdir
        self.sizes = sizes
        self.spans = probes.Spans(trace)
        self.spark = None
        self.ops: list[dict] = []
        self.failed_ops: set[int] = set()
        self.check_failures: list[str] = []
        self._checks: list[tuple] = []
        self.extra: dict = {}

    # -- timed operations -------------------------------------------

    def _group(self, op: int, phase: str) -> None:
        self.spark.sparkContext.setJobGroup(f"{probes.OP_GROUP}{op}:{phase}", phase)

    def run_op(self, name: str, kind: str, build, sink) -> dict:
        """Time one operation: ``df = build()`` then ``sink(df)``.

        ``build`` may be None for steps with no separate construction.
        Construction and action run under their own job groups, so
        jobs launched before the action (eager checkpoints) are
        counted apart.  The traced run also forces the physical plan
        between the two, under a third group.
        """
        i = len(self.ops)
        rec = {
            "op": i, "name": name, "kind": kind, "group": f"{probes.OP_GROUP}{i}",
            "construct_s": 0.0, "plan_s": 0.0, "action_s": 0.0, "ok": True,
        }
        self.ops.append(rec)
        spans = self.spans
        rec["t0_ms"] = time.time() * 1e3
        t0 = time.perf_counter()
        try:
            with spans.span(name, op=i):
                df = None
                if build is not None:
                    self._group(i, "construct")
                    with spans.span("construct", op=i):
                        df = build()
                t1 = time.perf_counter()
                if self.trace and df is not None:
                    self._group(i, "plan")
                    with spans.span("plan", op=i):
                        df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                self._group(i, "action")
                with spans.span("action", op=i):
                    rec["result"] = sink(df)
                t3 = time.perf_counter()
            rec.update(construct_s=t1 - t0, plan_s=t2 - t1, action_s=t3 - t2)
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            rec["ok"] = False
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
            self.failed_ops.add(i)
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["t1_ms"] = time.time() * 1e3
            self.spark.sparkContext.setJobGroup("perfbench-idle", "idle")
        if self.trace and rec["ok"]:
            rec["rdd_disk_bytes"] = probes.rdd_disk_bytes(self.spark)
        return rec

    def check(self, label: str, fn, ops: list[int]) -> None:
        """Queue one untimed output check; ``run_checks`` runs it."""
        self._checks.append((label, fn, ops))

    def run_checks(self) -> None:
        """Run the queued checks, after the timed window and the memory
        reading; a failure marks the check's ``ops`` failed."""
        self.spark.sparkContext.setJobGroup("perfbench-check", "check")
        for label, fn, ops in self._checks:
            try:
                with self.spans.span(f"check:{label}"):
                    fn()
            except Exception as e:  # noqa: BLE001
                self.check_failures.append(f"{label}: {type(e).__name__}: {str(e)[:300]}")
                self.failed_ops.update(ops)
        self._checks = []


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


# -- adhoc ---------------------------------------------------------------


def setup_adhoc(b: Bench, sf_dir: str) -> dict:
    from i3cols_spark.operators import QUERIES

    t0 = time.perf_counter()
    b.spark.sparkContext.setJobGroup("perfbench-setup", "mirrors")
    with b.spans.span("setup:mirrors"):
        for name in MIRRORED:
            QUERIES[name](b.spark, sf_dir)
    return {"sources.mirror_build_s": time.perf_counter() - t0}


def run_adhoc(b: Bench, sf_dir: str) -> dict:
    from i3cols_spark.compare import compare_query
    from i3cols_spark.operators import ORACLES, QUERIES

    rng = random.Random(b.seed)
    markers_before = _mirror_markers(b)
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < b.seconds or len(b.ops) < b.sizes["min_requests"]:
        name = rng.choice(ADHOC)
        b.run_op(name, "query", lambda n=name: QUERIES[n](b.spark, sf_dir), _noop)
    markers_after = _mirror_markers(b)
    rebuilds = sum(1 for p, m in markers_after.items() if markers_before.get(p) != m)
    for name in sorted({op["name"] for op in b.ops}):
        ids = [op["op"] for op in b.ops if op["name"] == name]
        b.check(name, lambda n=name: compare_query(QUERIES[n](b.spark, sf_dir), ORACLES[n], sf_dir, n), ids)
    return {"sources.mirror_rebuilds": rebuilds, "passes": len(b.ops) / ADHOC_PASS}


def _mirror_markers(b: Bench) -> dict:
    """mtime of every write-once marker in this run's directory."""
    out = {}
    for dp, _, fs in os.walk(b.workdir):
        for f in fs:
            if f in ("_MIRROR.json", "_SUCCESS"):
                p = os.path.join(dp, f)
                out[p] = os.stat(p).st_mtime_ns
    return out


# -- heavy_batch ---------------------------------------------------------


def warm_heavy(b: Bench) -> float:
    """Run every heavy job once, untimed, on tiny tables of their own.

    The first job of a fresh JVM pays its class loading, JIT and code
    generation.  Without this, that cost fell on whichever query the
    seeded order put first.  The tables here share nothing with the
    timed ones, so no result or derived layout carries over.
    """
    from i3cols_spark.operators import QUERIES

    root = os.path.join(b.workdir, "warm")
    tables = os.path.join(root, "tables")
    gen.write_tables(tables, b.sizes["warm_sf"], b.seed + 1, event_days=2, min_text_rows=50)
    b.spark.sparkContext.setJobGroup("perfbench-warm", "warm")
    t0 = time.perf_counter()
    with b.spans.span("warm:heavy"):
        for name in HEAVY:
            QUERIES[name](b.spark, tables).write.mode("overwrite").parquet(os.path.join(root, name))
    return time.perf_counter() - t0


def run_heavy(b: Bench, sf_dir: str) -> dict:
    from i3cols_spark.compare import compare_query
    from i3cols_spark.operators import ORACLES, QUERIES

    rng = random.Random(b.seed)
    out_root = os.path.join(b.workdir, "out")
    passes: list[float] = []
    first_out: dict[str, str] = {}
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < b.seconds:
        order = list(HEAVY)
        rng.shuffle(order)
        p = len(passes)
        wall = 0.0
        for name in order:
            path = os.path.join(out_root, f"p{p}", name)
            first_out.setdefault(name, path)
            rec = b.run_op(
                name, "query",
                lambda n=name: QUERIES[n](b.spark, sf_dir),
                lambda df, path=path: df.write.mode("overwrite").parquet(path),
            )
            wall += rec["wall_s"]
        passes.append(wall)
    for name, path in sorted(first_out.items()):
        ids = [op["op"] for op in b.ops if op["name"] == name]
        b.check(
            name,
            lambda n=name, path=path: compare_query(b.spark.read.parquet(path), ORACLES[n], sf_dir, n),
            ids,
        )
    return {"pass_walls": passes, "passes": len(passes)}


# -- etl -----------------------------------------------------------------


def run_etl(b: Bench, sf_dir: str) -> dict:
    passes: list[float] = []
    step_s: dict[str, list[float]] = {s: [] for s in ETL_STEPS}
    stats: dict[str, list[float]] = {}
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < b.seconds:
        res = _etl_pass(b, sf_dir, len(passes))
        passes.append(sum(res["steps"].values()))
        for s, v in res["steps"].items():
            step_s[s].append(v)
        for k, v in res["stats"].items():
            stats.setdefault(k, []).append(v)
    out = {"pass_walls": passes, "passes": len(passes)}
    for s in ETL_STEPS:
        key = "streaming.rollup_s" if s == "rollup" else f"sources.{s}_s"
        out[key] = statistics.median(step_s[s])
    for k, v in stats.items():
        out[k] = statistics.median(v)
    return out


def _etl_pass(b: Bench, sf_dir: str, p: int) -> dict:
    """One i3cols lifecycle on freshly generated runs: import →
    combine → compact → readback → rollup → export."""
    from pyspark.sql import functions as F

    from i3cols_spark.compare import compare_query
    from i3cols_spark.operators import ORACLES
    from i3cols_spark.sources import ingest
    from i3cols_spark.sources.npy_cols import read_npy_columns, write_npy_columns
    from i3cols_spark.streaming import jobs

    spark = b.spark
    root = os.path.join(b.workdir, f"etl{p}")
    tg = time.perf_counter()
    with b.spans.span("gen:npy"):
        ds = gen.write_npy_runs(
            os.path.join(root, "npy"), b.sizes["etl_runs"], b.sizes["etl_events"],
            b.seed * 1000 + p,
        )
    b.extra["gen_s"] += time.perf_counter() - tg
    n_events = b.sizes["etl_events"]
    run_ids = sorted(ds["runs"])
    steps: dict[str, float] = {}
    ops_of: dict[str, list[int]] = {}

    def step(name, fn):
        rec = b.run_op(f"etl.{name}", "step", None, lambda _df: fn())
        steps[name] = rec["wall_s"]
        ops_of[name] = [rec["op"]]
        return rec.get("result")

    imported = {r: os.path.join(root, "imported", f"Run{r:08d}") for r in run_ids}

    def do_import():
        for r in run_ids:
            df = read_npy_columns(spark, ds["runs"][r]).withColumn("run", F.lit(r).cast("long"))
            ingest.write_columns(df, imported[r], partition_by=("run",))

    step("import", do_import)
    b.check(
        "etl.import",
        lambda: _expect(
            {r: spark.read.parquet(imported[r]).count() for r in run_ids},
            {r: n_events for r in run_ids},
        ),
        ops_of["import"],
    )

    combined = os.path.join(root, "combined")
    step("combine", lambda: ingest.combine(spark, [imported[r] for r in run_ids], out=combined))
    b.check(
        "etl.combine",
        lambda: _expect(spark.read.parquet(combined).count(), n_events * len(run_ids)),
        ops_of["combine"],
    )

    compacted = os.path.join(root, "compacted")
    step("compact", lambda: ingest.compact(spark, combined, compacted))
    b.check(
        "etl.compact",
        lambda: _expect(spark.read.parquet(compacted).count(), n_events * len(run_ids)),
        ops_of["compact"],
    )

    target = run_ids[b.seed % len(run_ids)]

    def readback():
        df = ingest.read_columns(spark, compacted, keys=["run", "n_hits", "energy"])
        row = (
            df.where(F.col("run") == target)
            .agg(F.count("*").alias("n"), F.sum("n_hits").alias("hits"))
            .collect()[0]
        )
        return int(row["n"]), int(row["hits"])

    got = step("readback", readback)
    want = (n_events, int(ds["arrays"][target]["n_hits"].sum()))
    b.check("etl.readback", lambda: _expect(got, want), ops_of["readback"])

    rollup = os.path.join(root, "rollup")
    step("rollup", lambda: jobs.run_rollup_maintenance(spark, sf_dir, rollup))
    # the rollup table must equal the batch tumbling aggregate's oracle
    b.check(
        "etl.rollup",
        lambda: compare_query(
            spark.read.parquet(rollup), ORACLES["q_stream_tumbling"], sf_dir, "etl.rollup"
        ),
        ops_of["rollup"],
    )

    arr = ds["arrays"][target]
    cut = float(np.median(arr["energy"]))
    exported = os.path.join(root, "export")

    def export():
        df = (
            ingest.read_columns(spark, compacted)
            .where((F.col("run") == target) & (F.col("energy") > cut))
            .orderBy("event_id")
            .select("event_id", "energy", "n_hits", "pulses")
        )
        write_npy_columns(df, exported)

    step("export", export)
    b.check("etl.export", lambda: _check_export(exported, arr, cut), ops_of["export"])

    npy_bytes = ds["npy_bytes"]
    written, files = probes.dir_bytes(os.path.join(root, "imported"), ".parquet")
    for d in (combined, compacted, rollup):
        nb, nf = probes.dir_bytes(d, ".parquet")
        written, files = written + nb, files + nf
    compact_bytes, _ = probes.dir_bytes(compacted, ".parquet")
    return {
        "steps": steps,
        "stats": {
            "storage_ratio": compact_bytes / npy_bytes,
            "sources.bytes_written": written,
            "sources.files_written": files,
        },
    }


def _expect(got, want) -> None:
    if got != want:
        raise AssertionError(f"got {got!r}, want {want!r}")


def _check_export(path: str, arr: dict, cut: float) -> None:
    """The exported npy equals the generated arrays for the subset."""
    mask = arr["energy"] > cut
    rows = np.flatnonzero(mask)

    def load(key, name="data.npy"):
        return np.load(os.path.join(path, key, name))

    _expect(load("event_id").tolist(), rows.tolist())
    if not np.array_equal(load("energy"), arr["energy"][mask]):
        raise AssertionError("exported energy differs from the generated values")
    if not np.array_equal(load("n_hits"), arr["n_hits"][mask]):
        raise AssertionError("exported n_hits differs from the generated values")
    pulses, index = arr["pulses"]
    want = np.concatenate([pulses[int(index["start"][i]):int(index["stop"][i])] for i in rows]) \
        if len(rows) else pulses[:0]
    got = load("pulses")
    for field in want.dtype.names:
        if not np.array_equal(got[field], want[field]):
            raise AssertionError(f"exported pulses.{field} differs from the generated values")
    got_index = load("pulses", "index.npy")
    lens = (index["stop"] - index["start"])[mask]
    _expect((got_index["stop"] - got_index["start"]).tolist(), lens.tolist())
