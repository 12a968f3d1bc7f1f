#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one run.

    python3 perfbench/run.py --workload fleet --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones. The line before it is a JSON detail record (environment
stamp, contention probe, per-operation timings, and in the traced run the
layer split of every operation). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import random
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The registry queries of the query workload: bench.py's headline list,
# copied so that a change to bench.py cannot change this workload.
QUERY_MIX = (
    "q01_pricing_summary",
    "q02_revenue_by_nation",
    "q05_window_topk",
    "q10_daily_energy",
    "q13_daily_density",
    "q14_sampling_inference",
    "q19_gap_fill",
    "q26_asof_join",
    "q30_clipping_stats",
    "q45_ngram_jaccard",
    "q46_knn_bruteforce",
    "q47_minhash_near_dups",
    "q123_url_canonicalize",
    "q148_pagerank",
    "q50_seasonal_fit",
    "q182_minhash_incremental",
)

# Each workload is a closed loop from one client. Sizes are fixed here,
# not by the caller, so every run of a workload does the same work.
WORKLOADS = {
    # many short-history sites: per-site solves are small, so the fixed
    # cost per stage (plan build, scheduling, Python crossings) dominates
    "fleet": {"sites": 8, "days": 30, "slots": 96},
    # one pass = every query once, in an order shuffled by the seed
    "query": {"queries": QUERY_MIX},
}
RESTARTS = 1  # warm set-ups after the cold one; setup_s is their median
SOLVER_SITE = {"days": 365, "slots": 288}  # the traced solver pass's site


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Environment for everything started from here on. Must run before
    numpy or pyspark is imported: BLAS reads its thread count at load."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # one BLAS thread: what Spark's Python workers get by default
    # (spark.task.cpus), so driver-side solver calls match the fleet path
    os.environ["OMP_NUM_THREADS"] = "1"
    os.environ["OPENBLAS_NUM_THREADS"] = "1"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        # the collector needs every stage of an operation; it raises if
        # any was evicted, so keep far more than one run produces
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # keep the JVM's temp files and perf counters inside the checkout
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
    }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}"
                    for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return statistics.geometric_mean(xs) if xs else 0.0


def p90(xs):
    """90th percentile (linear interpolation between closest ranks)."""
    if len(xs) < 2:
        return median(xs)
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


# ------------------------------------------------------------- set-up


class Session:
    """Owns the SparkSession, its set-up timings and its shutdown."""

    def __init__(self, tables: dict[str, str]):
        self.tables = tables
        self.spark = None
        self.setups: list[dict] = []

    def setup(self) -> None:
        """get_spark + table registration + Python-worker warm-up."""
        from solar_data_tools_spark.session import get_spark, read_table
        from solar_data_tools_spark.shipping import ensure_package_on_executors

        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        for name, path in self.tables.items():
            read_table(spark, path).createOrReplaceTempView(name)
        t2 = time.perf_counter()
        ensure_package_on_executors(spark)
        n = spark.sparkContext.defaultParallelism

        def warm(batches):
            import numpy  # noqa: F401  the solver tier's imports
            import pandas  # noqa: F401

            yield from batches

        spark.range(n).repartition(n).mapInPandas(warm, "id long").count()
        t3 = time.perf_counter()
        self.spark = spark
        self.setups.append(
            {
                "spark_start_s": t1 - t0,
                "register_s": t2 - t1,
                "worker_warm_s": t3 - t2,
                "total_s": t3 - t0,
            }
        )

    def setup_with_restarts(self, restarts: int) -> None:
        """One cold set-up (launches the JVM), then ``restarts`` warm ones
        (stop the SparkContext, set up again in the same JVM)."""
        self.setup()
        for _ in range(restarts):
            self.spark.stop()
            self.setup()

    def peak_rss_mb(self) -> float:
        from hostenv import vm_hwm_mb

        jvm_pid = int(
            self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        )
        return vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())

    def close(self) -> None:
        """Stop Spark and wait for the gateway JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


# ----------------------------------------------------------- workloads


class Fleet:
    """``run_fleet_pipeline(fix_shifts=True, correct_tz=True)`` over a
    seeded fleet: its report (what ``fleet_report`` returns) and its
    capacity-change days, both checked against the planted events."""

    def __init__(self, seed: int, work: str, spec: dict):
        import pyarrow as pa
        import pyarrow.parquet as pq

        import synth

        self.seed = seed
        self.pdf, self.truth = synth.synth_fleet(
            seed, spec["sites"], spec["days"], spec["slots"]
        )
        self.path = os.path.join(work, "inputs", "fleet.parquet")
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        pq.write_table(pa.Table.from_pandas(self.pdf, preserve_index=False),
                       self.path)
        self.tables = {"bench_fleet": self.path}

    def passes(self, rng: random.Random):
        """Operations, one pass at a time: a pass is one report."""
        while True:
            yield [self.op]

    def warm_up(self, spark, tracer):
        """Nothing: one report costs about as much as the run's budget
        allows for measuring, so every report is timed (cold JIT and
        code generation included)."""
        return 0, []

    def op(self, spark, tracer, i: int) -> tuple[int, list[str], dict]:
        import pandas as pd

        from solar_data_tools_spark.plans.fleet import run_fleet_pipeline
        from solar_data_tools_spark.session import read_table

        import synth

        with tracer.span("build", i):
            res = run_fleet_pipeline(
                read_table(spark, self.path), fix_shifts=True, correct_tz=True
            )
            # the report is built on the capacity-change table; keeping it
            # lets the check read the change days without a second solve
            cap = res.capacity_changes.persist()
            changes_df = cap.where("cap_changed").select("site", "date")
        with tracer.span("execute", i):
            rows = [r.asDict() for r in res.report.collect()]
            flagged = changes_df.collect()
        cap.unpersist()
        bad = []
        if sorted(r["site"] for r in rows) != sorted(self.truth):
            bad.append(f"report sites {len(rows)} != {len(self.truth)}")
        detected = {"time_shift": 0, "clipping": 0}
        for r in rows:
            if r["site"] in self.truth:
                bad += synth.check_site_report(r, self.truth[r["site"]])
                for k, hit in synth.detections(r).items():
                    detected[k] += hit
        changes: dict[int, list[int]] = {}
        for r in flagged:
            day = (pd.Timestamp(r["date"]) - synth.EPOCH).days
            changes.setdefault(r["site"], []).append(day)
        cap_bad, counts = synth.check_capacity_steps(
            changes, {r["site"]: r["capacity_change"] for r in rows},
            self.truth)
        detected.update(counts)
        return len(rows), bad + cap_bad, {"detected": detected}

    def solver_pass(self, tracer) -> tuple[dict, list[str]]:
        """Call each per-site kernel once, directly, on one long seeded
        site's day matrix (``SOLVER_SITE``), with the arguments the fleet
        plan passes, BLAS pinned to one thread (set in prepare_env).
        Returns per-kernel seconds/calls and notes on answers that fail a
        sanity check."""
        import numpy as np

        from solar_data_tools_spark.algorithms import scoring
        from solar_data_tools_spark.algorithms.loss_factors import (
            fit_loss_components,
        )
        from solar_data_tools_spark.algorithms.time_shift import (
            detect_time_shifts_from_noon,
            energy_com,
        )
        from solar_data_tools_spark.solvers.exact import (
            solve_l1_pwc_smoothper_trend,
            solve_tl1_l2d2p365_batch,
        )

        import synth

        pdf, truth = synth.synth_fleet(
            self.seed, 1, SOLVER_SITE["days"], SOLVER_SITE["slots"])
        t = truth[0]
        mat = synth.site_matrix(pdf, t)
        days = mat.shape[1]
        _sr, _ss, _up, th = scoring.estimate_sunup_mask(mat)
        sr, ss = scoring.rise_set_rough(scoring.detect_sun(mat, th))
        log_max = np.log(np.nanmax(mat, axis=0))
        energy = np.nansum(mat, axis=0) * 24.0 / t.slots
        calls = {
            "score_site_matrix": lambda: scoring.score_site_matrix(mat),
            "solve_tl1_l2d2p365_batch": lambda: solve_tl1_l2d2p365_batch(
                np.column_stack([sr, ss]),
                np.array([scoring.SUNRISE_TAU, scoring.SUNSET_TAU]),
            ),
            "detect_time_shifts_from_noon": (
                lambda: detect_time_shifts_from_noon(
                    energy_com(mat), slots_per_day=t.slots
                )
            ),
            "solve_l1_pwc_smoothper_trend": (
                lambda: solve_l1_pwc_smoothper_trend(
                    log_max, w2=0.5, period=min(float(days), 365.2425)
                )
            ),
            "fit_loss_components": lambda: fit_loss_components(
                energy, deg_type="linear"
            ),
        }
        out, results = {}, {}
        for name, fn in calls.items():
            with tracer.span(f"solver.{name}") as sp:
                results[name] = fn()
            out[f"solver.{name}.s"] = sp["end"] - sp["start"]
            out[f"solver.{name}.calls"] = 1

        # sanity of the kernels' answers; the solver pass is diagnostic
        # timing, not a workload operation, so findings are reported in
        # the detail record rather than failing the run
        notes = []
        level = results["solve_l1_pwc_smoothper_trend"][0]
        lo, hi = np.nanmin(log_max) - 1.0, np.nanmax(log_max) + 1.0
        if not (np.isfinite(level).all() and lo <= level.min()
                and level.max() <= hi):
            notes.append(
                "solve_l1_pwc_smoothper_trend: level spans "
                f"[{level.min():.2f}, {level.max():.2f}], outside the data "
                f"range [{lo:.2f}, {hi:.2f}]")
        roll = results["detect_time_shifts_from_noon"]["roll_by_index"]
        if roll.shape != (days,) or not np.isfinite(roll).all():
            notes.append("detect_time_shifts_from_noon: malformed rolls")
        if not np.isfinite(results["score_site_matrix"]["density"]).all():
            notes.append("score_site_matrix: non-finite density scores")
        if not np.isfinite(
            results["fit_loss_components"]["degradation_rate_pct_per_year"]
        ):
            notes.append("fit_loss_components: non-finite degradation rate")
        return out, notes


class Query:
    """The registry queries of ``QUERY_MIX`` over seeded tables, each
    built via ``registry.QUERIES[q].fn`` and forced with a noop write.
    An operation is one query; a pass runs every query once, in an order
    the seed shuffles anew for each pass. Before timing, a checking pass
    runs every query once and compares its rows with the query's DuckDB
    oracle over the same files."""

    def __init__(self, seed: int, work: str, spec: dict):
        import tables

        self.dir = os.path.join(work, "inputs", "tables")
        tables.write(seed, self.dir)
        self.names = list(spec["queries"])
        self.tables = {}  # the queries read their files by path
        self.oracle = self.run_oracles()

    def run_oracles(self) -> dict:
        """DuckDB answers, computed before Spark starts."""
        sys.path.insert(0, os.path.join(ROOT, "tests"))
        from oracle_utils import canonicalize, duckdb_run

        from solar_data_tools_spark.registry import QUERIES

        out = {}
        for q in self.names:
            if QUERIES[q].oracle:
                want = duckdb_run(QUERIES[q].oracle, self.dir)
                out[q] = (sorted(want.columns), canonicalize(want))
        return out

    def passes(self, rng: random.Random):
        while True:
            order = list(self.names)
            rng.shuffle(order)
            yield [self.op_for(q) for q in order]

    def op_for(self, name: str):
        def op(spark, tracer, i):
            from solar_data_tools_spark.registry import QUERIES

            with tracer.span("build", i):
                df = QUERIES[name].fn(spark, self.dir)
            with tracer.span("execute", i):
                df.write.format("noop").mode("overwrite").save()
            return 1, [], {"query": name}

        return op

    def warm_up(self, spark, tracer):
        """The checking pass: every query once, rows compared with the
        oracle (or, for the one query without one, with the shape it must
        have). It also warms code generation and the JIT, which make a
        first execution 2-3x slower. Returns (attempted, problems)."""
        from oracle_utils import canonicalize

        from solar_data_tools_spark.registry import QUERIES

        problems = []
        for q in self.names:
            try:
                got = QUERIES[q].fn(spark, self.dir).toPandas()
            except Exception as exc:  # a failed query is counted
                problems.append(f"{q} raised {exc!r}"[:500])
                continue
            if q in self.oracle:
                columns, want = self.oracle[q]
                have = canonicalize(got)
                if sorted(got.columns) != columns:
                    problems.append(f"{q}: columns {sorted(got.columns)} "
                                    f"vs oracle {columns}")
                elif have != want:
                    diff = sum(a != b for a, b in zip(have, want))
                    problems.append(
                        f"{q}: {len(have)} rows vs oracle {len(want)}, "
                        f"{diff} differ")
            else:
                problems += self.check_unoracled(q, got)
        return len(self.names), problems

    def check_unoracled(self, name: str, got) -> list[str]:
        """q50_seasonal_fit has no DuckDB oracle: one finite fit per
        site-day of the events table."""
        import numpy as np
        import pyarrow.parquet as pq

        ev = pq.read_table(os.path.join(self.dir, "events.parquet"),
                           columns=["user_id", "ts"]).to_pandas()
        site_days = len(ev.assign(d=ev.ts.dt.floor("D"))
                        [["user_id", "d"]].drop_duplicates())
        fit = got["seasonal_fit"].to_numpy(dtype=float)
        if len(got) != site_days or not np.isfinite(fit).all():
            return [f"{name}: {len(got)} rows (want {site_days} site-days), "
                    f"{int((~np.isfinite(fit)).sum())} non-finite fits"]
        return []


# ------------------------------------------------------------ the run


def layer_split(tracer, store, op: int, job0: int, t0: float, t1: float):
    """One operation's per-layer counts and its additive wall split:
    wall = build_s + driver_gap_s + stage_wall_s + other_s. Stages a plan
    function runs while building are billed to stage_wall_s, not build_s."""
    from collect import clip, union_length

    with tracer.paused():
        w = store.window(job0, t0, t1)
    stages = w.pop("intervals")
    spans = tracer.op_spans(op)
    build = [(s["start"], s["end"]) for s in spans if s["name"] == "build"]
    act = [(s["start"], s["end"]) for s in spans if s["name"] == "execute"]
    stage_wall = union_length(clip(stages, t0, t1))
    build_s = sum(b - a - union_length(clip(stages, a, b)) for a, b in build)
    act_stage = sum(union_length(clip(stages, a, b)) for a, b in act)
    driver_gap = sum(b - a for a, b in act) - act_stage
    wall = t1 - t0
    w.update(
        {
            "op_wall_s": wall,
            "build_s": build_s,
            "build_py4j_calls": sum(
                s["py4j_calls"] for s in spans if s["name"] == "build"),
            "driver_gap_s": driver_gap,
            "stage_wall_s": stage_wall,
            "other_s": wall - build_s - driver_gap - stage_wall,
        }
    )
    return w


# per-layer metric -> unit; medians over the run's timed operations
OP_LAYER = {
    "op_wall_s": "s", "build_s": "s", "build_py4j_calls": "count",
    "driver_gap_s": "s", "stage_wall_s": "s", "other_s": "s",
    "jobs": "count", "stages": "count", "tasks": "count",
    "task_run_core_s": "s", "task_cpu_core_s": "s", "gc_s": "s",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "task_skew": "ratio", "failed_tasks": "count",
    "python_rows_in": "count", "python_mb_in": "MB", "python_mb_out": "MB",
    "python_worker_s": "s", "store_scan_mb": "MB",
}
SOLVER_FNS = (
    "score_site_matrix", "solve_tl1_l2d2p365_batch",
    "detect_time_shifts_from_noon", "solve_l1_pwc_smoothper_trend",
    "fit_loss_components",
)


def run(args) -> int:
    sys.path.insert(0, ROOT)
    # find_spec does not execute the package, so BLAS is not loaded yet
    if importlib.util.find_spec("solar_data_tools_spark") is None:
        print("perfbench: the solar_data_tools_spark package is not in "
              f"{ROOT}; run from a repository checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    prepare_env(work)

    import hostenv
    from collect import StatusStore, Tracer

    detail = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "spec": WORKLOADS[args.workload]}
    detail["contention"] = hostenv.contention_probe()
    detail["env"] = hostenv.stamp(ROOT)
    ticks0 = hostenv.cpu_ticks()

    cls = {"fleet": Fleet, "query": Query}[args.workload]
    wl = cls(args.seed, work, WORKLOADS[args.workload])
    session = Session(wl.tables)
    tracer = Tracer(enabled=bool(args.trace))
    problems: list[str] = []
    ops: list[dict] = []
    notes: list[str] = []
    solver: dict = {}
    try:
        session.setup_with_restarts(RESTARTS)
        spark = session.spark
        tracer.attach(spark)
        store = StatusStore(spark) if args.trace else None

        attempted, problems = wl.warm_up(spark, tracer)
        failed = len(problems)

        # whole passes, started while fewer than --seconds have passed
        # since the first timed operation started; the first always runs
        passes = wl.passes(random.Random(args.seed))
        t_start = time.perf_counter()
        i = 0
        while i == 0 or time.perf_counter() - t_start < args.seconds:
            for op in next(passes):
                job0 = store.last_job_id() if store else None
                t0 = time.time()
                with tracer.span("op", i) as op_span:
                    try:
                        items, bad, extra = op(spark, tracer, i)
                    except Exception as exc:  # a failed op is counted
                        items, extra = 0, {}
                        bad = [f"op {i} raised {exc!r}"[:500]]
                t1 = time.time()
                attempted += 1
                rec = {"op": i, "wall_s": op_span["end"] - op_span["start"],
                       "items": items, "correct": not bad, **extra}
                if bad:
                    failed += 1
                    problems += bad
                if store:
                    rec.update(layer_split(tracer, store, i, job0, t0, t1))
                ops.append(rec)
                i += 1

        if args.trace and isinstance(wl, Fleet):
            solver, notes = wl.solver_pass(tracer)
        rss = session.peak_rss_mb()
    finally:
        session.close()
        tracer.detach()
        shutil.rmtree(work, ignore_errors=True)

    steal = hostenv.steal_frac(ticks0, hostenv.cpu_ticks())
    detail["contention"]["steal_frac"] = round(steal, 4)
    if steal > hostenv.CONTENDED_STEAL:
        detail["contention"]["contended"] = True
    cold, warm = session.setups[0], session.setups[1:]
    detail["setups"] = session.setups
    detail["peak_rss_mb"] = rss
    detail["ops"] = ops
    detail["problems"] = problems[:50]
    detail["solver_notes"] = notes
    walls = [o["wall_s"] for o in ops]
    if args.trace:
        metrics = {k: (median([o[k] for o in ops]), u)
                   for k, u in OP_LAYER.items()}
        for fn in SOLVER_FNS:
            metrics[f"solver.{fn}.s"] = (solver.get(f"solver.{fn}.s", 0.0), "s")
            metrics[f"solver.{fn}.calls"] = (
                solver.get(f"solver.{fn}.calls", 0), "count")
        metrics["setup.cold_s"] = (cold["total_s"], "s")
        metrics["setup.spark_start_s"] = (
            median([s["spark_start_s"] for s in warm]), "s")
        metrics["setup.worker_warm_s"] = (
            median([s["worker_warm_s"] for s in warm]), "s")
        metrics["peak_rss_mb"] = (rss, "MB")
        out_metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in metrics.items()}
        detail["spans"] = len(tracer.spans)
    else:
        out_metrics = {
            "op_geomean_s": {"value": geomean(walls), "unit": "s"},
            "op_p90_s": {"value": p90(walls), "unit": "s"},
            "setup_s": {"value": median([s["total_s"] for s in warm]),
                        "unit": "s"},
        }
    detail["samples"] = len(walls)
    detail["failed_frac"] = failed / attempted if attempted else 1.0

    results = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}"
    if args.trace:
        try:
            with open(os.path.join(results, f"{tag}-trace0.json")) as fh:
                base = json.load(fh)["metrics"]["op_geomean_s"]["value"]
            detail["trace_overhead_s"] = geomean(walls) - base
        except (OSError, KeyError, ValueError):
            detail["trace_overhead_s"] = None  # no untraced run recorded
        with open(os.path.join(results, f"{tag}-spans.json"), "w") as fh:
            json.dump(tracer.spans, fh)
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": out_metrics}
    with open(os.path.join(results, f"{tag}-trace{args.trace}.json"),
              "w") as fh:
        json.dump({**result, "detail": detail}, fh, indent=1)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    import hostenv

    hostenv.become_subreaper()
    # a terminated run unwinds like any other exit: Spark is stopped and
    # every process below the runner is waited for
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    try:
        return run(args)
    finally:
        # every path out waits for every process the run started
        left = hostenv.reap_children()
        if left:
            print(f"perfbench: stopped leftover processes {left}",
                  file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
