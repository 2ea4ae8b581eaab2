"""Run one workload and print its result.

Load shape: one Spark driver at local[nproc] with shuffle partitions at
twice the cores, one closed-loop client.  A run:

1. times a pure-Python host probe and reads the CPU steal counter, so a
   loaded host shows next to the figures instead of reading as a
   regression;
2. sets up: session start and Python-worker warm-up; then, untimed, the
   inputs are generated unless the (seed, sizes) pair is cached (on a hit
   the generator runs on a small sample, so set-up starts equally warm
   either way); then the workload's own set-up, its warm pass and warm
   ops.  ``setup_s`` sums the timed parts.  It is measured once per run:
   restarting the session would not repeat it, because PySpark binds a
   UDF to the accumulator of the context it was first used in, and the
   engine's UDFs would fail to report after a restart;
3. runs closed-loop steps until ``--seconds`` of timed work and at least
   the workload's ``min_ops`` ops have been measured;
4. checks the outputs outside the timed calls, probes the host again, stops
   Spark and waits for its JVM to exit.

With ``--trace 1`` every second step is traced (job-group spans, the
``perf`` UDF profiler, staged layers) and the others run untraced, so
``trace.overhead_frac`` compares neighbouring steps of one session.  The
traced session also writes Spark's event log, uncompressed and not rolled,
which is folded per span once the session has stopped.  Untraced runs keep
event log, job groups and profiler off.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import sys
import time
import traceback

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# No step starts later than this into a run, so that a run on a slow host
# still checks, stops its JVM and prints within its 180 s limit.
LOOP_DEADLINE_S = 130

# Spark spans (layer -> module whose public functions it wraps).  Order is
# the output order of the per-layer metrics.
SPARK_LAYERS = (
    "io.scan",
    "functions.images",
    "operators.windows",
    "operators.asof",
    "io.tables.write",
    "pipeline.materialize.update",
    "pipeline.materialize.materialize",
    "pipeline.infer.publish",
    "streaming.enrich",
    "daily.backfill",
    "operators.dedup.minhash",
    "operators.dedup.lsh",
    "operators.dedup.clusters",
)

UNITS = {"wall_s": "s", "task_cpu_s": "s", "task_run_s": "s",
         "shuffle_write_bytes": "B", "spill_bytes": "B", "tasks": "count",
         "jobs": "count", "task_skew": "ratio"}

# Per-layer metrics beyond the span fields: (name, unit, better).
EXTRA_LAYER_METRICS = (
    ("functions.images.udf_python_s", "s", "lower"),
    ("functions.images.arrow_boundary_s", "s", "lower"),
    ("pipeline.materialize.update.rows_redecoded", "count", "lower"),
    ("pipeline.materialize.materialize.dates_recomputed", "count", "lower"),
    ("pipeline.materialize.materialize.useful_dates_ratio", "ratio", "higher"),
    ("pipeline.materialize.materialize.jobs_per_date", "jobs/date", "lower"),
    ("pipeline.infer.serve.wall_s", "s", "lower"),
    ("pipeline.infer.serve.files_per_request", "count", "lower"),
    ("pipeline.infer.serve.ms_p50", "ms", "lower"),
    ("pipeline.infer.serve.ms_tail", "ms", "lower"),
    ("pipeline.infer.serve.tail_pct", "%", "higher"),
    ("pipeline.infer.serve.requests", "count", "higher"),
    ("daily.backfill.rows_redecoded", "count", "lower"),
    ("daily.backfill.dates_recomputed", "count", "lower"),
    ("streaming.enrich.s_p50", "s", "lower"),
    ("streaming.enrich.add_batch_ms", "ms", "lower"),
    ("streaming.enrich.trigger_ms", "ms", "lower"),
    ("operators.dedup.lsh.candidate_pairs", "count", "lower"),
    ("operators.dedup.lsh.true_pair_ratio", "ratio", "higher"),
    ("operators.dedup.lsh.recall", "ratio", "higher"),
    ("operators.dedup.lsh.dropped_rows", "count", "lower"),
    ("trace.coverage", "ratio", "higher"),
    ("trace.overhead_frac", "ratio", "lower"),
)

_MAT = "pipeline.materialize.materialize"
_LSH = "operators.dedup.lsh"
# ratio metric -> (numerator, base); every ratio is printed with both
RATIOS = {
    f"{_MAT}.useful_dates_ratio": (f"{_MAT}.useful_dates",
                                   f"{_MAT}.dates_recomputed"),
    f"{_MAT}.jobs_per_date": (f"{_MAT}.jobs", f"{_MAT}.dates_recomputed"),
    f"{_LSH}.true_pair_ratio": (f"{_LSH}.true_pairs_found",
                                f"{_LSH}.candidate_pairs"),
    f"{_LSH}.recall": (f"{_LSH}.true_pairs_found", f"{_LSH}.gt_pairs"),
    "trace.coverage": ("trace.layer_s", "trace.timed_s"),
    "trace.overhead_frac": ("trace.overhead_s", "trace.untraced_op_s"),
}

END_TO_END = (
    ("setup_s", "s"),
    ("op_s_p50", "s"),
    ("rows_per_s", "rows/s"),
)


def per_layer_spec() -> list[tuple[str, str, str]]:
    """Every per-layer metric a traced run prints: (name, unit, better)."""
    from perfbench.tracing import SPAN_FIELDS

    spec = [(f"{layer}.{f}", UNITS[f], "lower")
            for layer in SPARK_LAYERS for f in SPAN_FIELDS]
    return spec + list(EXTRA_LAYER_METRICS)


def host_probe(n: int = 1_000_000) -> float:
    """Wall seconds of a fixed pure-Python loop."""
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    return time.perf_counter() - t0


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs (the ``steal`` column of ``/proc/stat``); 0.0 where the
    file is absent."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return 0.0
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 \
        else 0.0


def _prepare_env() -> dict[str, str]:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and let Python workers import the engine from it."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    import tempfile

    tempfile.tempdir = tmp
    return {
        "spark.local.dir": local,
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.enabled": "false",
    }


def _event_log_conf(event_dir: str) -> dict[str, str]:
    os.makedirs(event_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + event_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def start_spark(cores: int, conf: dict[str, str]):
    from feature_store_spark.session import get_spark

    spark = get_spark("perfbench", master=f"local[{cores}]",
                      shuffle_partitions=2 * cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _plus_one(s: pd.Series) -> pd.Series:
    return s + 1


def warm_up(spark, cores: int) -> None:
    """Spawn the Python workers and run one Arrow UDF on every core."""
    import pyspark.sql.functions as F

    plus_one = F.pandas_udf(_plus_one, "long")
    spark.range(0, 8192, 1, cores).select(plus_one("id")).write.format(
        "noop").mode("overwrite").save()


def _median_or_zero(values):
    from perfbench.stats import median

    return median(values) if values else 0.0


def run(args) -> int:
    from pyspark import __version__ as pyspark_version

    from perfbench import stats
    from perfbench.tracing import Tracer, fold_event_log
    from perfbench.workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    conf = _prepare_env()
    event_dir = os.path.join(WORK, "eventlog", f"{args.workload}-{os.getpid()}")
    if args.trace:
        conf.update(_event_log_conf(event_dir))
    wl = WORKLOADS[args.workload](args.seed, WORK)
    probe_before = host_probe()
    steal_before, wall_before = steal_s(), time.perf_counter()

    # set-up = session start + Python-worker warm-up, then the workload's
    # own set-up, warm pass and warm ops; input generation runs between
    # the two parts and is not timed
    t0 = time.perf_counter()
    spark = start_spark(cores, conf)
    try:
        t1 = time.perf_counter()
        warm_up(spark, cores)
        t2 = time.perf_counter()
        generated = wl.ensure_inputs(spark)
        t3 = time.perf_counter()
        wl.setup(spark)
        wl.warm(spark)
        # warm ops check their outputs like timed ones; a failure there is
        # counted with the checks below
        warm_failures = []
        for i in range(wl.warm_ops):
            out = wl.step(spark, -1 - i, Tracer(spark, enabled=False))
            warm_failures += [f"warm op {-1 - i}: {f}" for f in out.failures]
        t4 = time.perf_counter()
        inputs_s = t3 - t2
        setup_parts = {"session_s": t1 - t0, "warm_up_s": t2 - t1,
                       "workload_s": t4 - t3}
        setup_s = sum(setup_parts.values())

        traced_tr = Tracer(spark, enabled=True)
        plain_tr = Tracer(spark, enabled=False)
        samples: list[tuple[int, bool, object]] = []
        failures: list[str] = []
        attempted = failed = 0
        timed = 0.0
        op_id = 0
        min_steps = wl.min_traced_steps if args.trace else 1
        n_ops = 0  # untraced op samples
        while (timed < args.seconds or op_id < min_steps
               or n_ops < wl.min_ops) and (
            time.perf_counter() - wall_before < LOOP_DEADLINE_S
        ):
            op_id += 1
            traced = bool(args.trace) and op_id % 2 == 0
            tr = traced_tr if traced else plain_tr
            t0 = time.perf_counter()
            attempted += 1
            try:
                with tr.span("op", op_id):
                    out = wl.step(spark, op_id, tr)
            except Exception:
                failed += 1
                failures.append(f"op {op_id} raised:\n{traceback.format_exc()}")
                timed += time.perf_counter() - t0
                continue
            if out.failures:
                failed += 1
                failures += [f"op {op_id}: {f}" for f in out.failures]
            for s in out.samples:
                samples.append((op_id, traced, s))
                timed += s.value / 1e3 if s.kind == "serve_ms" else s.value
                n_ops += s.kind == "op" and not traced

        check_failures = warm_failures
        try:
            check_failures += wl.check(spark)
        except Exception:
            check_failures.append(f"check raised:\n{traceback.format_exc()}")
        if check_failures:
            # the checked output came from the warm pass or a warm op, the
            # op's own computation on the same inputs: every op produced it
            failed = attempted
            failures += check_failures
        app_id = spark.sparkContext.applicationId
        spark_version = spark.version
        extras = wl.layer_extras(spark) if args.trace else {}
    finally:
        stop_spark(spark)
        shutil.rmtree(wl.scratch, ignore_errors=True)
    probe_after = host_probe()
    steal = steal_s() - steal_before
    run_wall = time.perf_counter() - wall_before

    def values(kind):
        return [s.value for _, _, s in samples if s.kind == kind]

    untraced_ops = [s for _, t, s in samples if s.kind == "op" and not t]
    op_walls = [s.value for s in untraced_ops]
    serve_ms = values("serve_ms")
    serve_tail = stats.tail(serve_ms) if serve_ms else {"pct": None,
                                                        "value": None}
    e2e = {}
    if op_walls:
        e2e = {
            "setup_s": setup_s,
            "op_s_p50": stats.median(op_walls),
            "rows_per_s": stats.median([s.rows / s.value
                                        for s in untraced_ops]),
        }
    daily = {
        "streaming.enrich.s_p50": _median_or_zero(values("enrich")),
        "pipeline.infer.serve.ms_p50": _median_or_zero(serve_ms),
        "pipeline.infer.serve.ms_tail": serve_tail["value"] or 0.0,
        "pipeline.infer.serve.tail_pct": serve_tail["pct"] or 0.0,
        "pipeline.infer.serve.requests": len(serve_ms),
    }
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "sizes": wl.sizes, "why": type(wl).__doc__,
        "host": {
            "nproc": cores, "spark": spark_version,
            "pyspark": pyspark_version,
            "python": platform.python_version(),
            "probe_before_s": probe_before, "probe_after_s": probe_after,
            # share of the run's CPU capacity other guests took
            "steal_frac": stats.ratio(steal, run_wall * cores),
        },
        "inputs_generated": generated,
        "inputs_s": inputs_s,
        "setup_parts": setup_parts,
        "op_samples_s": op_walls, "timed_s": timed,
        "attempted": attempted, "failed": failed, "failures": failures,
        "ops_failed_frac": stats.ratio(failed, attempted),
        **{k: v for k, v in daily.items() if v},
    }

    if args.trace:
        folded = fold_event_log(os.path.join(event_dir, app_id))
        metrics = _layer_metrics(traced_tr.spans, folded, samples, op_walls,
                                 {**extras, **daily}, record)
        trace_dir = os.path.join(WORK, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(
                trace_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"spans": traced_tr.dump(), "folded": folded}, f)
        units = {n: u for n, u, _ in per_layer_spec()}
        out_metrics = {k: {"value": float(v), "unit": units[k]}
                       for k, v in metrics.items()}
    else:
        out_metrics = {k: {"value": float(e2e[k]), "unit": u}
                       for k, u in END_TO_END if k in e2e}
        record["metrics"] = e2e

    for line in failures:
        print(line, file=sys.stderr)
    for k, v in out_metrics.items():
        print(f"{args.workload:14s} {k:55s} {v['value']:14.6g} {v['unit']}")
    print("record " + json.dumps(record, default=str))
    correct = not failures and bool(out_metrics) and len(out_metrics) == (
        len(per_layer_spec()) if args.trace else len(END_TO_END))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out_metrics}))
    return 0


def _layer_metrics(spans, folded, samples, op_walls, extras, record) -> dict:
    """Every per-layer metric of a traced run; adds the per-op coverage and
    every ratio, with its numerator and base, to ``record``."""
    from perfbench import stats
    from perfbench.tracing import SPAN_FIELDS, layer_summary

    summary = layer_summary(spans, folded)
    metrics = {f"{layer}.{f}": summary.get(layer, {}).get(f, 0.0)
               for layer in SPARK_LAYERS for f in SPAN_FIELDS}
    span_extra: dict[str, list[float]] = {}
    for sp in spans:
        for k, v in sp.extra.items():
            span_extra.setdefault(f"{sp.name}.{k}", []).append(v)
    figures = dict(metrics)
    figures.update({k: stats.median(v) for k, v in span_extra.items()})
    figures.update(extras)
    figures["pipeline.infer.serve.wall_s"] = summary.get(
        "pipeline.infer.serve", {}).get("wall_s", 0.0)
    if "functions.images" in summary:
        figures["functions.images.arrow_boundary_s"] = (
            figures["functions.images.task_run_s"]
            - figures["functions.images.udf_python_s"])
    cov = _coverage(spans, samples)
    figures["trace.layer_s"] = sum(c["layer_s"] for c in cov)
    figures["trace.timed_s"] = sum(c["timed_s"] for c in cov)
    traced_ops = [s.value for _, t, s in samples if s.kind == "op" and t]
    if traced_ops and op_walls:
        figures["trace.traced_op_s"] = stats.median(traced_ops)
        figures["trace.untraced_op_s"] = stats.median(op_walls)
        figures["trace.overhead_s"] = (figures["trace.traced_op_s"]
                                       - figures["trace.untraced_op_s"])
    record["coverage"] = cov
    record["ratios"] = ratios(figures)
    for name, r in record["ratios"].items():
        figures[name] = r["value"] or 0.0
    for name, _, _ in EXTRA_LAYER_METRICS:
        metrics[name] = figures.get(name, 0.0)
    return metrics


def _coverage(spans, samples) -> list[dict]:
    """Per traced op: layer-span wall over the op's timed wall."""
    timed: dict[int, float] = {}
    for op_id, traced, s in samples:
        if traced:
            timed[op_id] = timed.get(op_id, 0.0) + (
                s.value / 1e3 if s.kind == "serve_ms" else s.value)
    out = []
    for op_id, t in sorted(timed.items()):
        kids = sum(sp.wall_s for sp in spans
                   if sp.op_id == op_id and sp.parent == "op")
        out.append({"op_id": op_id, "timed_s": t, "layer_s": kids,
                    "covered": kids / t if t else 0.0})
    return out


def ratios(figures: dict) -> dict:
    """Each ratio of RATIOS whose numerator and base were measured, with
    both."""
    from perfbench.stats import ratio

    return {name: ratio(figures[num], figures[base])
            for name, (num, base) in RATIOS.items()
            if num in figures and base in figures}
