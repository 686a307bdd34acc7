"""Closed-loop benchmark: one client, one process, ``local[nproc]``.

    python3 perfbench/run.py --workload daily_import --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  Generates the workload's inputs from
the seed, starts the session, runs warm-up ops (set-up), then runs ops
back to back for ``--seconds`` and checks every op's output.  The last
line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".bench_work")

# Inputs per workload.  A drop dir holds at most 100 workbooks (the
# "DD nn" name contract); each carries the "~tens of rows" of one
# day-docket charge section that BASELINE.md records for the reference.
DAILY_FILES, DAILY_ROWS = 100, 10
CORPUS_DOCS = 15_000
# Warm-up ops in set-up, as (ops on a small input, ops on the full
# input).  The corpus op's JVM code keeps getting faster for about ten
# ops; ops on a 1,500-document corpus warm it at half the cost of a full
# op.  The daily op is per-job cost at any input size, so a small input
# saves nothing there.  The time budget (3,420 s for 4 + 22 runs per
# workload) caps the warm-up: every run then times the same ops of the
# session's warm-up curve (see README).
WARMUP_OPS = {"daily_import": (0, 2), "corpus_dedup": (5, 1)}
WARM_CORPUS_DOCS = 1_500
WORKLOADS = tuple(WARMUP_OPS)
# A run times ops for --seconds and at least this many, so that every
# run reports the median of the same positions of the warm-up curve.
MIN_TIMED_OPS = 3

DAILY_LAYERS = (
    "excel_grid", "daydocket", "pipeline", "reconcile", "documents_out", "rest", "rest.replay",
)
CORPUS_LAYERS = (
    "textstats", "dedup.exact", "dedup.signatures", "dedup.candidates", "dedup.verify", "writer",
)
LAYER_STATS = ("jobs", "tasks", "busy_s", "gc_s", "shuffle_mb", "spill_mb", "failed_tasks")
NAMED_LAYER_METRICS = (
    "excel_grid.decode_s", "excel_grid.decode_passes", "daydocket.parse_s",
    "pipeline.run_daily_import_s", "pipeline.spark_jobs", "pipeline.tasks",
    "reconcile.matched", "reconcile.unverified", "reconcile.match_ratio",
    "documents_out.assemble_s", "documents_out.documents",
    "rest.post_s", "rest.replay_s", "rest.posted_ok", "rest.skipped", "rest.skip_ratio",
    "textstats.gate_s", "dedup.exact_s", "dedup.signatures_s", "dedup.candidates_s",
    "dedup.verify_s", "writer.survivors_write_s", "dedup.candidates", "dedup.verified_pairs",
    "dedup.verify_precision", "dedup.planted_recall",
    "mem.jvm_peak_rss_mb", "session.start_s", "trace.overhead_s",
)


def per_layer_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order."""
    stats = [f"{layer}.{s}" for layer in DAILY_LAYERS + CORPUS_LAYERS for s in LAYER_STATS]
    # "pipeline.tasks" is the whole op's task count, not the layer's
    return list(NAMED_LAYER_METRICS) + [n for n in stats if n not in NAMED_LAYER_METRICS]


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_precision", "_recall", "_passes")):
        return "ratio"
    return "count"


def setup_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the package from it."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM the run starts (Spark's launcher and the session's): temp
    # files in the work dir, and no hsperfdata file under /tmp
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["JAVA_TOOL_OPTIONS"] = f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} {jvm_opts}".strip()
    # Spark driver heap 3g instead of get_spark's 8g default: the machine's
    # memory may be shared, and at 8g the corpus run's JVM grew to a
    # 4.5 GB peak RSS against 2.4 GB at 3g (see README, "Heap").
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)
    import tempfile

    tempfile.tempdir = None


def start_session(work: str, traced: bool):
    from xero_api_etl_utilities_spark.session import get_spark

    cpus = os.environ["SPARK_GRAFT_CPUS"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if traced:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and its JVM (which ends the Python workers), and
    wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def percentile_note(n: int) -> str:
    """The highest percentile with at least ten samples beyond it."""
    if n < 20:
        return f"n={n}: no percentile above p50 has >=10 samples beyond it"
    p = 100 * (1 - 10 / n)
    return f"n={n}: highest percentile with >=10 samples beyond it is p{p:.0f}"


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--fault", choices=("none", "drop_charge", "drop_output"), default="none",
        help="plant a fault to show the checks catch it: drop_charge removes a "
        "verified charge-table row (daily); drop_output loses one delivered "
        "reference / written survivor before the check",
    )
    args = ap.parse_args(argv)
    wl_name, traced = args.workload, bool(args.trace)

    work = os.path.join(WORK_ROOT, f"{wl_name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    setup_env(work)
    try:
        try:
            import xero_api_etl_utilities_spark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: cannot import the package from this checkout ({e})", file=sys.stderr)
            return 2
        return _run(args, wl_name, traced, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # another run's work dir is still there


def _run(args, wl_name: str, traced: bool, work: str) -> int:
    import gen

    t0 = time.perf_counter()
    warm_inputs = None
    if wl_name == "corpus_dedup":
        inputs = gen.write_corpus(os.path.join(work, "in"), args.seed, CORPUS_DOCS)
        warm_inputs = gen.write_corpus(os.path.join(work, "in-warm"), args.seed, WARM_CORPUS_DOCS)
    else:
        inputs = gen.write_daily(os.path.join(work, "in"), args.seed, DAILY_FILES, DAILY_ROWS)
        if args.fault == "drop_charge":
            gen.drop_charge_row(inputs)
    gen_s = time.perf_counter() - t0
    print(f"input generation: {gen_s:.3f} s (not part of setup_s)")

    t_setup = time.perf_counter()
    spark = start_session(work, traced)
    session_s = time.perf_counter() - t_setup
    try:
        return _measure(args, wl_name, traced, work, inputs, warm_inputs, spark, t_setup, session_s)
    finally:
        stop_session(spark)


def _measure(args, wl_name, traced, work, inputs, warm_inputs, spark, t_setup, session_s) -> int:
    import workloads as W

    if wl_name == "corpus_dedup":
        wl = W.CorpusWorkload(spark, inputs, work, args.fault)
        wl_warm = W.CorpusWorkload(spark, warm_inputs, work, args.fault)
    else:
        wl = wl_warm = W.DailyWorkload(spark, inputs, work, args.fault)

    attempted = failed = 0
    first_errors: list[str] = []

    def one_op(wl, tag: str, trace_op: bool) -> tuple[float, int, W.Tracer, bool]:
        nonlocal attempted, failed
        tr = W.Tracer(spark, tag, trace_op)
        attempted += 1
        res = W.OpResult()
        t = time.perf_counter()
        try:
            res = wl.run(tr)
            dt = time.perf_counter() - t
            errs = wl.check(res, tr)
        except Exception as e:  # an op that raises is a failed op; the run goes on
            dt = time.perf_counter() - t
            errs = [f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"]
            if not first_errors:
                traceback.print_exc(file=sys.stderr)
        finally:
            wl.cleanup(res)
        if errs:
            failed += 1
            if len(first_errors) < 5:
                first_errors.append(f"{tag}: {'; '.join(errs)}")
        return dt, res.items, tr, not errs

    warm_times = []
    n_small, n_full = WARMUP_OPS[wl_name]
    try:
        for k in range(n_small + n_full):
            warm_times.append(one_op(wl_warm if k < n_small else wl, f"w{k}", False)[0])
    except Exception:
        traceback.print_exc(file=sys.stderr)
        print("perfbench: set-up failed", file=sys.stderr)
        return 1
    setup_s = time.perf_counter() - t_setup
    print(f"setup: session {session_s:.3f} s, warm-up ops " + " ".join(f"{w:.3f}" for w in warm_times))

    lat: list[float] = []
    traced_lat: list[float] = []
    items = 0
    shapes: dict[str, set] = {"timed": set(), "traced": set()}
    raw: set[tuple[int, int]] = set()
    layer_values: list[dict[str, float]] = []
    traced_tags: list[str] = []
    k = 0
    t_end = time.perf_counter() + args.seconds
    min_ops = 1 if traced else MIN_TIMED_OPS  # a traced run also needs one traced op
    while time.perf_counter() < t_end or len(lat) < min_ops or (traced and not traced_lat):
        trace_op = traced and k % 2 == 1
        tag = f"{'t' if trace_op else 'm'}{k}"
        dt, n, tr, ok = one_op(wl, tag, trace_op)
        c = W.op_counts(spark, tr.program_groups())
        raw.add((c.jobs, c.tasks))
        shapes["traced" if trace_op else "timed"].add(c.signature())
        if trace_op:
            traced_lat.append(dt)
            traced_tags.append(tag)
            layer_values.append(dict(tr.values, **{"pipeline.spark_jobs": c.jobs, "pipeline.tasks": c.tasks}))
        else:
            lat.append(dt)
            items += n
        k += 1

    steady = all(len(v) <= 1 for v in shapes.values())
    if not steady:
        print(f"STEADINESS GUARD: ops of one kind ran different work "
              f"(records read, full-width jobs, tasks): {shapes}", file=sys.stderr)
    print(f"per-op (records read, full-width jobs, tasks): {sorted(shapes['timed'])}; "
          f"all (jobs, tasks): {sorted(raw)}")

    rss = jvm_peak_rss_mb(spark)
    app_id = spark.sparkContext.applicationId
    spark.stop()  # flushes the event log

    for e in first_errors:
        print(f"FAILED {e}", file=sys.stderr)
    p50 = statistics.median(lat)
    if traced:
        import eventlog

        events = eventlog.read_events(os.path.join(work, "eventlog", app_id))
        per_op = eventlog.layer_stats(events, traced_tags, LAYER_STATS)
        if wl_name != "corpus_dedup":
            passes = eventlog.binary_file_passes(events, traced_tags) / inputs.expected.workbooks
            per_op["excel_grid.decode_passes"] = passes
        values: dict[str, float] = {}
        for name in per_layer_names():
            vals = [lv[name] for lv in layer_values if name in lv]
            values[name] = statistics.median(vals) if vals else per_op.get(name, 0.0)
        values["mem.jvm_peak_rss_mb"] = rss
        values["session.start_s"] = session_s
        values["trace.overhead_s"] = statistics.median(traced_lat) - p50
        metrics = {n: {"value": float(values[n]), "unit": unit_of(n)} for n in per_layer_names()}
        print(f"traced op p50 {statistics.median(traced_lat):.4f} s, untraced {p50:.4f} s")
        if wl_name == "corpus_dedup":
            print(f"dedup.verify_precision = {values['dedup.verify_precision']:.4f} "
                  f"({values['dedup.verified_pairs']:.0f} verified / {values['dedup.candidates']:.0f} "
                  f"candidates); the package documents 0.55-0.87 for its own corpus "
                  f"(operators/dedup.py jaccard_verify, tools/lsh_sweep.py)")
    else:
        metrics = {
            "items_per_s": {"value": items / sum(lat), "unit": "1/s"},
            "op_p50_s": {"value": p50, "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
        }
        for name, m in metrics.items():
            print(f"{wl_name}/{name} = {m['value']:.6g} {m['unit']}")
        print(f"{wl_name}/op_p50_s {percentile_note(len(lat))}; "
              f"op latencies " + " ".join(f"{x:.3f}" for x in lat))
    print(f"{wl_name}: failed/attempted = {failed}/{attempted}")
    result = {
        "correct": failed == 0 and steady,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
