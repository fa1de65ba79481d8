"""Benchmark entry point.

    python3 perfbench/run.py --workload census_backfill --seed 1 --seconds 10 --trace 0

Runs one workload in one driver process against the package in this
checkout, checks every output, and prints the run record as the last
line of standard output: end-to-end metrics with ``--trace 0``, the
per-layer trace with ``--trace 1``.  Metric names and units come from
``BENCHMARK.json`` at the checkout root.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import common  # noqa: E402

WORKLOADS = ("census_backfill", "ingest_build")


def _workload(name: str):
    if name == "census_backfill":
        from census import Census

        return Census
    from ingest_build import IngestBuild

    return IngestBuild


def _spec() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    return e2e, layers


def run_untraced(wl, seconds: float, setup_s: float) -> tuple[bool, int, dict]:
    passes = common.timed_passes(wl.run_pass, wl.inspect, seconds, wl.min_passes)
    ok = all(ins["ok"] for _p, ins in passes)
    walls = [p.wall_s for p, _ in passes]
    batches = [b for _p, ins in passes for b in ins.get("batches", ())] or walls
    metrics = {
        "setup_s": setup_s,
        "run_s": statistics.median(walls),
        "cpu_s": statistics.median([p.cpu_s for p, _ in passes]),
        "peak_rss_mb": statistics.median([p.peak_rss_mb for p, _ in passes]),
        "stored_bytes_per_input_byte": passes[-1][1]["stored"] / wl.input_bytes,
        "batch_s.p50": statistics.median(batches),
    }
    attempted = wl.units() * len(passes)
    common.log(
        f"{wl.name}: {len(passes)} passes, walls={[round(w, 3) for w in walls]}, "
        f"cpu={[round(p.cpu_s, 2) for p, _ in passes]}, "
        f"rss={[round(p.peak_rss_mb) for p, _ in passes]}, ok={ok}"
    )
    return ok, attempted, metrics


def run_traced(wl) -> tuple[bool, int, dict]:
    """The per-layer run, after the warm-up: the layer trace with Spark's
    event log on, then three full passes with the log on, off and on.
    ``tracing_overhead_s`` is the mean of the two passes with the log on
    minus the pass with it off; the on-off-on order cancels the speed-up
    that later passes still get from the warming JVM."""

    def passes() -> list:
        return common.timed_passes(wl.run_pass, wl.inspect, 0, 1)

    with common.EventLog(wl.spark) as event_log:
        try:
            layer, groups = wl.trace()
            ok = True
        except common.CheckFailed as exc:
            common.log(f"traced pass: {exc}")
            ok, layer, groups = False, {}, {}
        wl.spark.sparkContext.setJobGroup("trace:pass", "full pass")
        traced = passes()
        with event_log.paused():
            untraced = passes()
        traced += passes()
    on = [p.wall_s for p, _ in traced]
    (off,) = [p.wall_s for p, _ in untraced]
    common.log(f"{wl.name}: log on {[round(w, 3) for w in on]}, off {off:.3f}")
    ok = ok and all(ins["ok"] for _p, ins in traced + untraced)
    layer["tracing_overhead_s"] = statistics.mean(on) - off
    if groups:
        layer.update(wl.spark_metrics(event_log.jobs(), groups))
    return ok, wl.units() * (len(traced) + len(untraced)), layer


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        import pyspark  # noqa: F401

        import textract_farmdata_pipeline_spark  # noqa: F401
    except ImportError as exc:
        common.log(f"cannot import the package under test from {ROOT}: {exc}")
        return 2
    e2e_units, layer_units = _spec()
    env = common.pin_environment()
    print(json.dumps({"workload": args.workload, "seed": args.seed, "env": env}))

    spark, start_s = common.start_session()
    try:
        t0 = time.perf_counter()
        wl = _workload(args.workload)(spark, random.Random(args.seed))
        gen_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        warm_ok = wl.warm_up()
        warm_s = time.perf_counter() - t0
        setup_s = start_s + gen_s + warm_s
        common.log(f"setup: start={start_s:.2f}s gen={gen_s:.2f}s warm={warm_s:.2f}s ok={warm_ok}")
        if args.trace:
            ok, attempted, metrics = run_traced(wl)
            metrics["session.start_s"] = start_s
        else:
            ok, attempted, metrics = run_untraced(wl, args.seconds, setup_s)
        ok = ok and warm_ok
    finally:
        common.stop_session(spark)

    units = layer_units if args.trace else e2e_units
    unknown = set(metrics) - set(units)
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {unknown}")
    # layers this workload bypasses did no work: report them as 0
    metrics = {k: metrics.get(k, 0.0) for k in units}
    common.emit(ok, attempted, 0 if ok else attempted, metrics, units)
    return 0


if __name__ == "__main__":
    sys.exit(main())
