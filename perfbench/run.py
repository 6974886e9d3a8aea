"""The warehouse benchmark: one workload per process, end to end or traced.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload medallion_refresh --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Workloads (each a closed loop with one client, on ``local[<cores>]``):

- ``medallion_refresh``: set-up generates the six source CSVs from the seed
  and builds the warehouse cold (``Warehouse.setup`` -> ``run_bronze`` ->
  ``run_silver_incremental`` -> ``run_gold_incremental``). One op writes one
  seeded delta to bronze through ``bronze.load_csv_to_bronze`` and runs
  ``Warehouse.run_silver_incremental`` and ``Warehouse.run_gold_incremental``.
- ``sql_mix``: set-up runs every mix key once, untimed, and checks it
  against its DuckDB twin. One op runs one key's registry function and
  forces it with a ``noop`` write; ops come in complete passes over the
  keys (at least ``MIN_TIMED_PASSES``), in an order drawn from the seed.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). Traced runs also print a per-layer
table and write ``perfbench/out/trace-<workload>-seed<seed>.json``.
``--workload all`` runs every workload untraced and twice traced, each in a
fresh process, and prints the metric tables, the tracing overhead and any
per-layer count that differs between the two traced runs.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time
from contextlib import nullcontext

T_START = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sql_data_warehouse_analytics_project_spark"

WORKLOADS = ("medallion_refresh", "sql_mix")

#: the sql_mix keys: replays over the generated CSVs of the six silver
#: cleaners, the gold star and the customer report. Three keys keep a run
#: inside the time budget; q80 replays the write pipeline that
#: medallion_refresh measures.
MIX_KEYS = (
    "q68_silver_replay",
    "q69_gold_star",
    "q76_customer_report",
)

#: timed sql_mix passes, at least, so op_p50_s is a median of two samples
#: of the middle key, not one
MIN_TIMED_PASSES = 2

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s"}

PER_LAYER = {
    "bronze.calls": "count", "bronze.self_s": "s", "bronze.jobs": "count",
    "build.bronze.self_s": "s", "build.bronze.rows_per_s": "rows/s",
    "silver.self_s": "s", "silver.jobs": "count", "silver.tasks": "count",
    "silver.shuffle_mb": "MB", "build.silver.self_s": "s",
    "gold.self_s": "s", "gold.jobs": "count", "gold.tasks": "count",
    "gold.shuffle_mb": "MB", "build.gold.self_s": "s",
    "catalog.calls": "count", "catalog.self_s": "s", "catalog.jobs": "count",
    "catalog.sql_stmts": "count",
    "ops.self_s": "s", "ops.jobs": "count", "ops.flushes": "count",
    "ops.rows_flushed": "count",
    "queries.build_s": "s", "queries.exec_s": "s", "queries.jobs": "count",
    "queries.stages": "count", "queries.tasks": "count",
    "queries.exchanges": "count", "queries.python_nodes": "count",
    "spark.task_s": "s", "spark.no_job_s": "s", "spark.shuffle_mb": "MB",
    "spark.spill_mb": "MB", "spark.failed_tasks": "count",
}

#: per-layer counts that should repeat exactly between runs of one seed
DETERMINISTIC = tuple(
    k for k in PER_LAYER
    if k.endswith((".jobs", ".tasks", ".calls", ".flushes", ".rows_flushed",
                   ".sql_stmts", ".stages", ".exchanges", ".python_nodes"))
)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- environment -------------------------------------------------------------

def prepare_env(work: str) -> None:
    """Process-wide settings, before Spark starts: cores, a driver heap
    sized to the host, one BLAS/OpenMP thread per Python worker, the
    checkout on the workers' import path, and every scratch path under
    ``work``."""
    cores = os.cpu_count() or 1
    try:
        mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    except (ValueError, OSError):
        mem_gb = 8.0
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": f"{max(1, min(8, int(mem_gb // 4)))}g",
        "SPARK_GRAFT_PERSISTENT_CATALOG": "0",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_REFERENCE_DIR": os.path.join(work, "ref"),
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(work: str):
    from sql_data_warehouse_analytics_project_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "local"),
            # no hsperfdata files under /tmp: the run writes only under work
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job back from the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit: the JVM leaves when its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def purge(spark) -> None:
    """Between ops, outside every timed window: Python GC, unpersist
    cached RDDs, and a JVM GC so the ContextCleaner drops dead shuffles and
    broadcasts (as bench.py does)."""
    import gc

    gc.collect()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    spark.sparkContext._jvm.System.gc()


# -- output checks -----------------------------------------------------------

def compare(s_cols, s_rows, d_cols, d_rows, tolerant: bool = False) -> str | None:
    """None when equal under the oracle gate's normalisation (order-free,
    columns by name, floats bit-exact or within its ulp tolerance)."""
    from tools.oracle_check import _norm_rows, _rows_within_ulps

    sc, sr = _norm_rows(list(s_cols), [tuple(r) for r in s_rows])
    dc, dr = _norm_rows(list(d_cols), [tuple(r) for r in d_rows])
    if sc != dc:
        return f"columns differ: {sc} vs {dc}"
    if len(sr) != len(dr):
        return f"row count {len(sr)} vs {len(dr)}"
    if sr != dr and not (tolerant and _rows_within_ulps(sr, dr)):
        diffs = [(a, b) for a, b in zip(sr, dr) if a != b][:2]
        return f"values differ: {diffs}"
    return None


# -- workloads ----------------------------------------------------------------

class Run:
    """State shared by a workload and the code that runs it."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.latencies: list[float] = []
        self.failed = 0
        self.errors: list[str] = []
        self.checks: dict[str, str | None] = {}
        self.info: dict = {}
        self.keys: dict[str, dict] = {}
        self.setup_s = 0.0

    def phase(self, name: str) -> None:
        if self.tracer is not None:
            self.tracer.phase = name

    def span(self, layer: str, name: str):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(layer, name)

    def fail(self, what: str, exc: BaseException | str) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {exc}"[:500])
        log(f"FAILED {what}: {exc}")


def mix_op(run: Run, registry, key: str) -> None:
    """One timed sql_mix op: build the key's DataFrame and force it with a
    ``noop`` write. A missing key, an error or a key whose output check
    failed counts as a failed op."""
    detail = run.keys.setdefault(key, {"latency_s": []})
    with run.span("op", key) as op:
        t0 = time.time()
        try:
            with run.span("queries", "build"):
                df = registry[key](run.spark, run.work)
            with run.span("queries", "exec"):
                df.write.format("noop").mode("overwrite").save()
            err = run.checks.get(key, "not checked")
        except Exception as e:  # noqa: BLE001 — counted, not skipped
            df, err = None, f"{type(e).__name__}: {e}"
        dt = time.time() - t0
    run.latencies.append(dt)
    detail["latency_s"].append(round(dt, 4))
    log(f"op {key} {dt:.3f}s")
    if err is not None:
        run.fail(key, err)
    if run.tracer is not None:
        from tracing import plan_counts

        detail.setdefault("spans", []).append(op)
        if df is not None:
            detail["plan"] = plan_counts(df._jdf.queryExecution().executedPlan().toString())


def sql_mix(run: Run) -> None:
    import duckdb

    import __spark_entry__ as entry
    from tools.oracle_check import _ULP_TOLERANT

    from gen_sources import Sources

    Sources(run.seed).write(os.path.join(run.work, "ref", "datasets"))
    spark = run.spark
    registry, oracles = entry.queries(), entry.oracle_sql()
    rng = random.Random(f"perfbench-mix:{run.seed}")
    con = duckdb.connect()
    # warm-up pass, also the output check: each key once against its twin
    run.phase("check")
    log(f"session and data ready at {time.time() - T_START:.1f}s")
    for key in rng.sample(MIX_KEYS, len(MIX_KEYS)):
        t0 = time.time()
        try:
            df = registry[key](spark, run.work)
            rows = df.collect()
            if key in oracles:
                res = con.execute(oracles[key])
                run.checks[key] = compare(
                    df.columns, rows, [d[0] for d in res.description],
                    res.fetchall(), tolerant=key in _ULP_TOLERANT,
                )
            else:
                run.checks[key] = None if rows else "no rows"
        except Exception as e:  # noqa: BLE001 — a broken key is a failed check
            run.checks[key] = f"{type(e).__name__}: {e}"
        log(f"checked {key} in {time.time() - t0:.1f}s: {run.checks[key] or 'ok'}")
        purge(spark)
    con.close()
    run.setup_s = time.time() - T_START

    run.phase("op")
    passes = 0
    while passes < MIN_TIMED_PASSES or sum(run.latencies) < run.seconds:
        for key in rng.sample(MIX_KEYS, len(MIX_KEYS)):
            mix_op(run, registry, key)
            purge(spark)
        passes += 1


def medallion_refresh(run: Run) -> None:
    from gen_sources import CRM, ERP, Sources

    from sql_data_warehouse_analytics_project_spark.medallion import bronze
    from sql_data_warehouse_analytics_project_spark.pipeline import Warehouse

    spark = run.spark
    src = Sources(run.seed)
    base = os.path.join(run.work, "src")
    manifest = src.write(base)
    tables = {**bronze.CRM_FILES, **bronze.ERP_FILES}

    run.phase("build")
    wh = Warehouse(spark, prefix="bench_")
    t0 = time.time()
    with run.span("build", "setup"):
        wh.setup()
    t1 = time.time()
    with run.span("build", "bronze"):
        loaded = wh.run_bronze(os.path.join(base, CRM), os.path.join(base, ERP))
    t2 = time.time()
    with run.span("build", "silver"):
        wh.run_silver_incremental()
    with run.span("build", "gold"):
        wh.run_gold_incremental()
    t3 = time.time()
    rows = sum(r["rows_loaded"] for r in loaded.values())
    run.info.update(build_s=t3 - t0, bronze_rows_per_s=rows / (t2 - t1), bronze_rows=rows)
    for rel, n in manifest.items():
        got = loaded[tables[os.path.basename(rel)]]["rows_loaded"]
        run.checks[f"bronze:{rel}"] = None if got == n else f"{got} rows, manifest {n}"
    purge(spark)
    run.setup_s = time.time() - T_START

    run.phase("op")
    cycle = 0
    while sum(run.latencies) < run.seconds:
        delta_dir = os.path.join(run.work, f"delta_{cycle}")
        delta = src.write_delta(delta_dir, cycle)
        with run.span("op", f"refresh_{cycle}"):
            t0 = time.time()
            try:
                for rel, n in delta.items():
                    res = bronze.load_csv_to_bronze(
                        wh.catalog, os.path.join(delta_dir, rel),
                        tables[os.path.basename(rel)], run_context=wh.ctx,
                    )
                    if res["rows_loaded"] != n:
                        raise RuntimeError(f"{rel}: {res['rows_loaded']} rows, manifest {n}")
                wh.run_silver_incremental()
                wh.run_gold_incremental()
            except Exception as e:  # noqa: BLE001 — counted, not skipped
                run.fail(f"refresh_{cycle}", e)
            run.latencies.append(time.time() - t0)
        cycle += 1
        purge(spark)
    run.info["cycles"] = cycle

    # gold after the last cycle against the DuckDB twins over the same rows
    run.phase("check")
    import duckdb

    from sql_data_warehouse_analytics_project_spark import queries_medallion as qm

    src.write_combined(os.path.join(run.work, "ref", "datasets"), cycle)
    con = duckdb.connect()
    for table, cte in (("dim_customers", "dim_c"), ("dim_products", "dim_p"),
                       ("fact_sales", "fact")):
        try:
            res = con.execute(qm._SILVER_CTES + qm._GOLD_CTES + f"\nSELECT * FROM {cte}")
            cols = [d[0] for d in res.description]
            s_rows = wh.catalog.read("gold", table).select(*cols).collect()
            run.checks[f"gold:{table}"] = compare(cols, s_rows, cols, res.fetchall())
        except Exception as e:  # noqa: BLE001 — a broken check fails the run
            run.checks[f"gold:{table}"] = f"{type(e).__name__}: {e}"
    con.close()


# -- metrics -----------------------------------------------------------------

def end_to_end(run: Run) -> dict[str, float]:
    from stats import median

    return {
        "setup_s": run.setup_s,
        "op_p50_s": median(run.latencies),
        "ops_per_s": len(run.latencies) / sum(run.latencies),
    }


def per_layer(run: Run) -> tuple[dict[str, float], list[dict]]:
    from tracing import job_totals, self_times, union_length

    tr = run.tracer
    spans = tr.spans
    jobs, stages = tr.spark_jobs()
    owner = tr.job_owner()
    selfs = self_times(spans)
    ops = [i for i, s in enumerate(spans) if s.layer == "op" and s.phase == "op"]
    n = max(len(ops), 1)
    out = {k: 0.0 for k in PER_LAYER}

    def owned(pred):
        idx = {i for i, s in enumerate(spans) if pred(s)}
        return [j for j, i in owner.items() if i in idx]

    for layer in ("bronze", "silver", "gold", "catalog", "ops"):
        in_op = [i for i, s in enumerate(spans) if s.layer == layer and s.phase == "op"]
        out[f"{layer}.self_s"] = sum(selfs[i] for i in in_op) / n
        tot = job_totals(owned(lambda s, L=layer: s.layer == L and s.phase == "op"), jobs, stages)
        for k in ("jobs", "tasks", "shuffle_mb"):
            if f"{layer}.{k}" in out:
                out[f"{layer}.{k}"] = tot[k] / n
        if f"build.{layer}.self_s" in out:
            out[f"build.{layer}.self_s"] = sum(
                selfs[i] for i, s in enumerate(spans) if s.layer == layer and s.phase == "build"
            )
    for name in ("bronze.calls", "catalog.calls", "catalog.sql_stmts", "ops.flushes",
                 "ops.rows_flushed"):
        out[name] = tr.counters.get(("op", name), 0.0) / n
    if "bronze_rows_per_s" in run.info:
        out["build.bronze.rows_per_s"] = run.info["bronze_rows_per_s"]

    # the queries layer counts every job its spans ran, the silver and gold
    # calls inside the registry functions included
    q = [spans[i] for i, s in enumerate(spans) if s.layer == "queries" and s.phase == "op"]
    out["queries.build_s"] = sum(s.duration for s in q if s.name == "build") / n
    out["queries.exec_s"] = sum(s.duration for s in q if s.name == "exec") / n
    qt = job_totals([j for s in q for j in range(s.job0, s.job1)], jobs, stages)
    for k in ("jobs", "stages", "tasks"):
        out[f"queries.{k}"] = qt[k] / n
    for detail in run.keys.values():
        plan = detail.get("plan", {})
        reps = len(detail["latency_s"])
        out["queries.exchanges"] += plan.get("exchanges", 0) * reps / n
        out["queries.python_nodes"] += plan.get("python_nodes", 0) * reps / n

    op_jobs = [j for i in ops for j in range(spans[i].job0, spans[i].job1)]
    st = job_totals(op_jobs, jobs, stages)
    out["spark.task_s"] = st["task_s"] / n
    out["spark.shuffle_mb"] = st["shuffle_mb"] / n
    out["spark.spill_mb"] = st["spill_mb"] / n
    out["spark.failed_tasks"] = st["failed_tasks"] / n
    no_job = 0.0
    for i in ops:
        s = spans[i]
        iv = [(jobs[j]["t0"], jobs[j]["t1"]) for j in range(s.job0, s.job1)
              if j in jobs and jobs[j]["t0"] is not None and jobs[j]["t1"] is not None]
        no_job += s.duration - union_length(iv, s.t0, s.t1)
    out["spark.no_job_s"] = no_job / n

    # per-key detail for the mixes
    for key, detail in run.keys.items():
        key_jobs = [j for i in detail.pop("spans", []) for j in range(spans[i].job0, spans[i].job1)]
        kt = job_totals(key_jobs, jobs, stages)
        reps = max(len(detail["latency_s"]), 1)
        detail.update({k: kt[k] / reps for k in ("jobs", "stages", "tasks", "task_s")})
    span_rows = [
        {"layer": s.layer, "name": s.name, "phase": s.phase, "parent": s.parent,
         "t0": round(s.t0 - T_START, 4), "dur": round(s.duration, 4),
         "self": round(selfs[i], 4), "jobs": [s.job0, s.job1]}
        for i, s in enumerate(spans)
    ]
    return {k: float(v) for k, v in out.items()}, span_rows


def print_table(title: str, metrics: dict[str, float], units: dict[str, str]) -> None:
    print(f"== {title}")
    for name, unit in units.items():
        v = metrics.get(name)
        print(f"  {name:<26} {'' if v is None else f'{v:.4f}':>14} {unit}")


# -- driver ------------------------------------------------------------------

def run_workload(args) -> int:
    if not (os.path.isdir(os.path.join(ROOT, PACKAGE))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        log(f"no {PACKAGE} package or __spark_entry__.py under {ROOT}")
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work)
    # import the checkout's entry point and gate helpers while the checkout
    # leads sys.path
    import __spark_entry__  # noqa: F401
    import tools.oracle_check  # noqa: F401

    spark = None
    try:
        spark = start_spark(work)
        tracer = None
        if args.trace:
            import tracing

            tracer = tracing.Tracer(spark)
            tracing.install(tracer)
        run = Run(spark, work, args.seed, args.seconds, tracer)
        {"medallion_refresh": medallion_refresh, "sql_mix": sql_mix}[args.workload](run)
        e2e = end_to_end(run)
        layers, span_rows = per_layer(run) if tracer is not None else ({}, [])
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    bad_checks = {k: v for k, v in run.checks.items() if v is not None}
    for k, v in bad_checks.items():
        log(f"CHECK FAILED {k}: {v}")
    correct = not bad_checks and run.failed == 0
    print_table(f"{args.workload} end to end (seed {args.seed}, "
                f"{len(run.latencies)} ops, {len(run.checks)} checks)", e2e, END_TO_END)
    if "build_s" in run.info:
        print(f"  {'build_s':<26} {run.info['build_s']:>14.4f} s")
        print(f"  {'bronze_rows_per_s':<26} {run.info['bronze_rows_per_s']:>14.1f} rows/s")
    doc = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "correct": correct, "attempted": len(run.latencies),
        "failed": run.failed, "end_to_end": e2e,
        "latency_s": [round(x, 4) for x in run.latencies], "info": run.info,
        "checks": run.checks, "errors": run.errors,
    }
    if tracer is not None:
        print_table(f"{args.workload} per layer, per timed op", layers, PER_LAYER)
        doc.update(per_layer=layers, keys=run.keys, spans=span_rows,
                   counters={f"{p}:{k}": v for (p, k), v in tracer.counters.items()})
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        path = args.out or os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1)
    elif args.out:
        with open(args.out, "w") as fh:
            json.dump(doc, fh, indent=1)
    metrics, units = (layers, PER_LAYER) if tracer is not None else (e2e, END_TO_END)
    print(json.dumps({
        "correct": correct,
        "attempted": len(run.latencies),
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload in a fresh process: untraced, then traced twice."""
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    ok = True
    for wl in WORKLOADS:
        docs = []
        for trace_on, tag in ((0, "e2e"), (1, "trace1"), (1, "trace2")):
            path = os.path.join(out_dir, f"all-{wl}-seed{args.seed}-{tag}.json")
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace_on), "--out", path]
            if os.path.exists(path):
                os.remove(path)
            # a wrong output exits 1 but still writes its document
            subprocess.run(cmd, stdout=subprocess.DEVNULL)
            if not os.path.isfile(path):
                log(f"{wl} {tag}: run failed")
                return 1
            with open(path) as fh:
                docs.append(json.load(fh))
        e2e, t1, t2 = docs
        ok &= all(d["correct"] for d in docs)
        print(f"== {wl}: correct={e2e['correct']} attempted={e2e['attempted']} "
              f"failed={e2e['failed']}")
        print(f"  {'metric':<26} {'untraced':>12} {'traced':>12} {'overhead':>9}")
        for k, unit in END_TO_END.items():
            a, b = e2e["end_to_end"][k], t1["end_to_end"][k]
            print(f"  {k:<26} {a:>12.4f} {b:>12.4f} {(b - a) / a:>+9.1%} {unit}")
        for k in ("build_s", "bronze_rows_per_s"):
            if k in e2e["info"]:
                print(f"  {k:<26} {e2e['info'][k]:>12.4f} {t1['info'][k]:>12.4f}")
        print(f"  {'per layer, per op':<26} {'trace 1':>12} {'trace 2':>12}")
        for k, unit in PER_LAYER.items():
            a, b = t1["per_layer"][k], t2["per_layer"][k]
            flag = " differs" if k in DETERMINISTIC and a != b else ""
            print(f"  {k:<26} {a:>12.4f} {b:>12.4f} {unit}{flag}")
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0,
                    help="timed window; BENCHMARK.json's run_seconds (default 10)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write the run's full result document here")
    args = ap.parse_args(argv)
    sys.path.insert(0, HERE)
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    raise SystemExit(main())
