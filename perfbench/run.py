"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload extract_text --seed 42 --seconds 20 --trace 0

--trace 0 measures the end-to-end metrics with tracing off: set-up
(session start plus a warm-up pass) several times, then closed-loop
passes for --seconds, then one checked pass. --trace 1 prints the
per-layer metrics instead: untraced passes on one JVM, then traced passes
on a JVM that writes the Spark event log, the layer legs, the checked
pass and the in-process `core` replay.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics; the line before it carries
context (pass times, calibration probe, failed share). Metric names come
from BENCHMARK.json beside this directory.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path.cwd()
# peak RSS is taken over this many passes: the JVM heap keeps growing
# pass after pass, so a window that ended with the deadline would tie
# the memory figure to how many passes fit into it
RSS_PASSES = 2


def _fail_pass(workload, error: Exception) -> int:
    traceback.print_exception(error, file=sys.stderr)
    print(f"{workload.name}: a pass raised; all {workload.n_docs} docs count as failed",
          file=sys.stderr)
    return workload.n_docs


def _verify(workload, spark) -> tuple[int, int, dict]:
    try:
        return workload.verify(spark)
    except Exception as error:  # the checked pass itself failed
        return workload.n_docs, _fail_pass(workload, error), {}


def _setup(workload, sparkctl, scratch: Path, times: int, event_log: bool = False):
    """Session start plus warm-up pass, `times` times: the first launches
    the JVM, each later one starts a fresh SparkContext in it."""
    spark, setup_s = None, []
    for _ in range(times):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = sparkctl.start(scratch, event_log)
        workload.warmup(spark)
        setup_s.append(time.perf_counter() - t0)
    return spark, setup_s


def measure(workload, args, scratch: Path) -> tuple[dict, dict]:
    from perfbench import sparkctl

    spark, setup_s = _setup(workload, sparkctl, scratch, workload.setups)
    passes, attempted, failed = [], 0, 0
    rss = sparkctl.PeakRss().start()
    deadline = time.perf_counter() + args.seconds
    while True:
        try:
            passes.append(workload.run_pass(spark))
        except Exception as error:
            failed += _fail_pass(workload, error)
        attempted += workload.n_docs
        if attempted == RSS_PASSES * workload.n_docs:
            rss.stop()
        if time.perf_counter() >= deadline:
            break
    rss.stop()
    t0 = time.perf_counter()
    n, bad, counters = _verify(workload, spark)
    attempted, failed = attempted + n, failed + bad
    t1 = time.perf_counter()
    calibration = sparkctl.calibration(spark)
    calibration["probe_s"] = time.perf_counter() - t1
    sparkctl.stop_jvm(spark)

    walls = [p["wall"] for p in passes]
    metrics = {
        "docs_per_s": workload.n_docs / statistics.median(walls) if walls else 0.0,
        "peak_rss_mb": rss.peak / 2**20,
        "setup_s": statistics.median(setup_s),
    }
    if passes and "history_batch_s" in passes[0]:
        metrics["history_batch_s"] = statistics.median(p["history_batch_s"] for p in passes)
    context = {
        "passes": passes,
        "setup_s": setup_s,
        "check_s": t1 - t0,
        "calibration": calibration,
        "failed_share": failed / attempted,
        "counters": counters,
    }
    return metrics, context | {"attempted": attempted, "failed": failed}


def trace(workload, scratch: Path) -> tuple[dict, dict]:
    from perfbench import eventlog, sparkctl

    # untraced reference passes, on a JVM without the event log
    spark, _ = _setup(workload, sparkctl, scratch, 1)
    plain = [workload.run_pass(spark)["wall"] for _ in range(workload.trace_passes)]
    sparkctl.stop_jvm(spark)

    spark, _ = _setup(workload, sparkctl, scratch, 1, event_log=True)
    workload.traced = True
    traced, windows = [], []
    for _ in range(workload.trace_passes):
        t0 = time.time() * 1000
        traced.append(workload.run_pass(spark)["wall"])
        windows.append((t0, time.time() * 1000))
    layers = workload.layers(spark)
    attempted, failed, counters = _verify(workload, spark)
    sparkctl.stop_jvm(spark)  # closes the event log

    leg_s = statistics.median(traced)
    metrics = dict(layers)
    metrics.update(counters)
    metrics.update(eventlog.summarize(eventlog.latest_log(scratch / "eventlog"), windows))
    metrics.update(workload.replay())
    metrics.update(workload.breakdown(leg_s, layers))
    metrics["trace.overhead_s"] = leg_s - statistics.median(plain)
    context = {"untraced_s": plain, "traced_s": traced, "leg_s": leg_s}
    return metrics, context | {"attempted": attempted, "failed": failed}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "pdf_parser_spark" / "__init__.py").is_file() or not (
        ROOT / "jobs" / "curate.py"
    ).is_file():
        print("perfbench: run from the repository root; pdf_parser_spark/ and jobs/ "
              "are not in the current directory", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    state = ROOT / ".perfbench"
    scratch = state / f"run-{time.time_ns()}"
    scratch.mkdir(parents=True)
    workload = WORKLOADS[args.workload]()
    workload.prepare(state / "cache", args.seed)
    try:
        declared = json.loads((ROOT / "BENCHMARK.json").read_text())
        if args.trace:
            produced, context = trace(workload, scratch)
            units = {m["name"]: m["unit"] for m in declared["per_layer"]}
            # a layer this workload never enters reads 0
            metrics = {n: produced.get(n, 0) for n in units}
        else:
            produced, context = measure(workload, args, scratch)
            units = {m["name"]: m["unit"] for m in declared["end_to_end"]}
            units["history_batch_s"] = "s"
            metrics = {n: produced[n] for n in units if n in produced}
    finally:
        if hasattr(workload, "cleanup"):
            workload.cleanup()
        shutil.rmtree(scratch, ignore_errors=True)

    attempted, failed = context.pop("attempted"), context.pop("failed")
    print(json.dumps({"context": context, "workload": args.workload, "seed": args.seed}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
