"""Extraction benchmark: one workload, one seed, one process.

    python3 extraction_bench/run.py --workload html_extract --seed 1 \
        --seconds 1 --trace 0

Run it from the root of a checkout. Set-up starts a local[nproc] session
through the package's `get_spark`, writes the seeded inputs and runs the
composed action once on a small warm-up input, so code generation, JIT
and Python worker start-up are paid before anything is timed. Then:
  --trace 0  times the composed action once on the full input (one
             action outlasts the --seconds the benchmark is run with),
             checks its output against the oracles and prints the
             end-to-end metrics;
  --trace 1  runs an untraced reference, checks that the traced chain
             plans as the production plan does, runs one traced
             layer-by-layer pass with the Spark event log on, and prints
             the per-layer metrics. html_extract's traced run takes the
             resume layer's first commit as its warm-up.
The last stdout line is the JSON summary; the line before it names the
report file (timed action, spans, per-layer table) under .extraction_bench_out/.
Everything the run writes stays inside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("html_extract", "words_flagship")
NEEDED = ("pdf_plumber_util_spark/__init__.py", "__spark_entry__.py",
          "tools/compare_oracle.py")
DRIVER_MEM = "2g"
COVERAGE_TOLERANCE = 0.10  # ROADMAP item 1: layer seconds within 10% of wall


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="minimum measuring time; one timed action on the "
                         "full input outlasts it")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: a few dozen pages and sf0.001 rows (self-test)")
    return ap.parse_args(argv)


def prepare_env(work: str, trace: bool) -> str:
    """Point every scratch location of Python, the JVM and Spark into
    `work` and put the checkout on the Python workers' path. Must run
    before the session starts. Returns the event-log directory."""
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "eventlog")
    for d in (tmp, events):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) + " pyspark-shell"
    return events


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM (and with it the Python
    workers), and wait until every process this run started has ended."""
    from pyspark import SparkContext

    from extraction_bench.harness import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def end_to_end(timed: dict, n_docs: int, ctx, sampler, setup_s: float) -> dict:
    return {
        "docs_per_s": ((n_docs if timed["ok"] else 0) / timed["wall_s"], "1/s"),
        "wall_s": (timed["wall_s"], "s"),
        "ok_frac": (1.0 - ctx.failed / max(ctx.attempted, 1), "ratio"),
        "peak_rss_mb": (sampler.peak_mb, "MB"),
        "setup_s": (setup_s, "s"),
    }


def per_layer(counts: dict, tracer, fold: dict) -> tuple[dict, dict]:
    """Every per-layer metric (0 for a layer this workload does not run)
    and the coverage note."""
    from extraction_bench.workloads import LAYERS, PER_LAYER

    self_s = tracer.self_s()
    m = dict.fromkeys((name for name, _ in PER_LAYER), 0.0)
    for layer in LAYERS:
        ev = fold.get(layer, {})
        m[f"{layer}.self_s"] = self_s.get(layer, 0.0)
        for k in ("task_s", "shuffle_write_mb", "spill_mb", "task_skew"):
            m[f"{layer}.{k}"] = ev.get(k, 0.0)
    m.update({k: v for k, v in counts.items() if k in m})
    if m["sources.tokenizer.self_s"] > 0:
        m["sources.tokenizer.words_per_s"] = (
            m["sources.tokenizer.words_out"] / m["sources.tokenizer.self_s"])
    untraced = counts["untraced_wall_s"]
    traced = tracer.wall_s("plans.extract")
    children = sum(self_s.get(layer, 0.0) for layer in LAYERS
                   if not layer.startswith("plans."))
    coverage = children / untraced
    m["plans.extract.overhead_s"] = self_s.get("plans.extract", 0.0)
    m["plans.extract.layer_coverage"] = coverage
    m["plans.extract.trace_overhead_s"] = traced - untraced
    note = {"untraced_wall_s": untraced, "traced_wall_s": traced,
            "layer_self_s_sum": children, "layer_coverage": coverage,
            "within_tolerance": abs(coverage - 1.0) <= COVERAGE_TOLERANCE}
    return m, note


def run(args, nproc: int, run_id: str, work: str, events: str) -> int:
    from extraction_bench.harness import RssSampler, Tracer, fold_event_log
    from extraction_bench.workloads import LAYERS, PER_LAYER, WORKLOADS as CLASSES, Ctx
    from pdf_plumber_util_spark.session import get_spark

    sampler = RssSampler()
    t0 = time.perf_counter()
    spark = get_spark(app_name="extraction_bench", cores=nproc, shuffle_partitions=nproc)
    session_s = time.perf_counter() - t0
    ctx = Ctx(spark, sampler, work, args.seed, args.size, nproc)
    workload = CLASSES[args.workload](ctx)
    timed: dict = {}
    counts: dict = {}
    try:
        tracer = Tracer(spark.sparkContext, run_id)
        t0 = time.perf_counter()
        workload.setup()
        inputs_s = time.perf_counter() - t0
        warmup_s = workload.warm_up(tracer if args.trace else None)
        setup_s = session_s + inputs_s + warmup_s
        if args.trace:
            workload.oracle()
            counts = workload.traced(tracer)
        else:
            timed = workload.rep("timed rep")
            workload.oracle()  # reference outputs: after the timed window
            timed["ok"] = workload.verify(timed["what"], timed.pop("fp"), timed.pop("cold"))
    finally:
        stop_spark(spark)
        sampler.close()

    report = {"run_id": run_id, "workload": args.workload, "seed": args.seed,
              "size": args.size, "nproc": nproc, "driver_mem": DRIVER_MEM,
              "setup": {"session_s": session_s, "inputs_s": inputs_s,
                        "warmup_s": warmup_s},
              "timed": timed, "attempted": ctx.attempted, "failed": ctx.failed,
              "problems": ctx.problems}
    if args.trace:
        fold = fold_event_log(events)
        metrics, note = per_layer(counts, tracer, fold)
        units = dict(PER_LAYER)
        report.update(spans=tracer.spans, event_log_by_layer=fold, coverage=note,
                      plan_nodes_by_layer=counts.get("plan_nodes_by_layer"),
                      composed_plan_nodes=counts.get("composed_plan_nodes"),
                      layers={layer: {k.split(".", 2)[-1]: metrics[k]
                                      for k in metrics if k.startswith(layer + ".")}
                              for layer in LAYERS})
        summary = {k: (v, units[k]) for k, v in metrics.items()}
        line = (f"traced: layer coverage {note['layer_coverage']:.3f} "
                + ("within" if note["within_tolerance"] else "OUTSIDE")
                + f" +/-{COVERAGE_TOLERANCE:.0%} of untraced wall")
    else:
        summary = end_to_end(timed, len(workload.urls), ctx, sampler, setup_s)
        line = f"timed action {timed['wall_s']:.3f} s, warm-up {warmup_s:.3f} s"
    out_dir = os.path.join(ROOT, ".extraction_bench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, run_id + ".json")
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1, default=float)
    for problem in ctx.problems:
        print("problem:", problem)
    print(f"{args.workload} seed={args.seed}: {line}")
    print("report:", os.path.relpath(path, ROOT))
    print(json.dumps({
        "correct": ctx.failed == 0 and not ctx.problems,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in summary.items()},
    }, separators=(",", ":")))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in NEEDED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"extraction_bench: not a checkout of the repository "
              f"(missing {', '.join(missing)} under {ROOT})", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".extraction_bench_work", run_id)
    events = prepare_env(work, bool(args.trace))
    sys.path.insert(0, ROOT)
    try:
        return run(args, nproc, run_id, work, events)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
