"""Run one benchmark workload and print its metrics.

    python3 xbench/run.py --workload validate_bulk --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Set-up starts the session and generates
the seeded inputs (``setup_s``). The first op runs in the fresh JVM, a fixed
number of warm-up ops follow, and the ops of the next ``--seconds`` are
measured. Ops are measured in CPU seconds (``harness.CpuClock``), each one
followed by a fixed calibration job (``harness.calibrate``); the gated
figures are op CPU over calibration CPU.
Every op's output is checked against a DuckDB reference computed after the
timed part. ``--trace 1`` instead records spans around
every other measured op, reads Spark's event log back, and reports the
per-layer metrics plus the tracing overhead (median traced op minus median
untraced op of the same window).

The last line of stdout is one JSON object: correct, attempted, failed and
the metrics named in BENCHMARK.json, each with its unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

sys.dont_write_bytecode = True  # nothing written outside the work dir

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _ops(wl, spark, work, clock, first, seconds, tracer=None):
    """Ops first, first+1, ... until ``seconds`` have passed. With a tracer,
    ops alternate traced and untraced, so both share one session and one
    JIT state, and the window holds at least one of each. An op that raises
    is kept as a failed record with no timing."""
    recs, i = [], first
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or (tracer and len(recs) < 2):
        rec = _one(wl, spark, work, clock, i, tracer if i % 2 else None)
        rec["traced"] = bool(tracer) and bool(i % 2)
        recs.append(rec)
        i += 1
    return recs


def _one(wl, spark, work, clock, i, tracer=None):
    from xbench import harness

    cpu0 = clock.read()
    try:
        rec = wl.op(spark, work, i, tracer)
    except Exception:  # an op failure is a result to report, not a crash
        traceback.print_exc()
        return {"error": True}
    rec["cpu"] = clock.read() - cpu0
    rec["calib"] = harness.calibrate(spark, clock)
    return rec


def _summary(recs):
    from xbench.harness import median, tail

    ok = [r for r in recs if "error" not in r]
    if not ok:
        raise RuntimeError("no op completed")
    for key in ("wall", "cpu", "calib"):
        xs = [r[key] for r in ok]
        value, pct, n = tail(xs)
        print(f"ops {key}: n={n} p50={median(xs):.4f}s p{pct:.1f}={value:.4f}s "
              f"(p{pct:.1f} is the highest percentile with at least 10 samples "
              f"beyond it; below 11 samples, the maximum) "
              + " ".join(f"{x:.3f}" for x in xs))
    return ok


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "xema_spark", "__init__.py")):
        print(f"xbench: no xema_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)

    from xbench import harness
    from xbench.harness import median
    from xbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"xbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    base = os.path.join(ROOT, ".xbench_work")
    work = harness.fresh_dir(os.path.join(
        base, f"{wl.name}-{args.seed}-{os.getpid()}"))
    harness.prepare_env(work)
    load_start, cpu_start = os.getloadavg(), harness.cpu_times()
    try:
        spark = None
        setup = []
        for k in range(harness.SETUPS):
            t0 = time.perf_counter()
            spark = harness.start_session(work, event_log=bool(args.trace))
            wl.generate(work, args.seed)
            setup.append(time.perf_counter() - t0)
            print(f"setup {k}: {setup[-1]:.3f}s")
            if k < harness.SETUPS - 1:
                spark.stop()

        clock = harness.CpuClock()
        if args.trace:
            from xbench.trace import EventLog, Tracer

            tracer = Tracer(spark)
            replay = wl.replay(spark, work, tracer)
            warm = [_one(wl, spark, work, clock, i)
                    for i in range(1 + harness.WARMUP_OPS)]
            recs = warm + _ops(wl, spark, work, clock, len(warm), args.seconds,
                               tracer)
            n_warm = len(warm)
            metrics = {"jvm.peak_rss_mb": harness.peak_rss_mb(harness.jvm_pid(spark))}
            host = harness.host_record(spark, load_start, cpu_start)
            harness.shutdown(spark)
            spark = None
            log = EventLog(os.path.join(work, "events"))
            traced = _summary([r for r in recs[n_warm:] if r["traced"]])
            plain = _summary([r for r in recs[n_warm:] if not r["traced"]])
            metrics.update(wl.layers(traced, replay, log))
            metrics["trace.op_wall_s"] = median([r["wall"] for r in traced])
            metrics["trace.op_cpu_s"] = median([r["cpu"] for r in traced])
            metrics["trace.calib_cpu_s"] = median([r["calib"] for r in traced])
            metrics["trace.overhead_s"] = (metrics["trace.op_wall_s"]
                                           - median([r["wall"] for r in plain]))
            spans = os.path.join(base, "traces", f"{wl.name}-{args.seed}.jsonl")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            tracer.write(spans)
            print(f"spans: {len(tracer.spans)} written to "
                  f"{os.path.relpath(spans, ROOT)}")
            wanted = spec["per_layer"]
        else:
            warm = [_one(wl, spark, work, clock, i)
                    for i in range(1 + harness.WARMUP_OPS)]
            cold = warm[0]
            if "error" in cold:
                raise RuntimeError("the cold op failed")
            recs = warm + _ops(wl, spark, work, clock, len(warm), args.seconds)
            print("cold and warm-up ops (wall/cpu/calib s): " + " ".join(
                f"{r['wall']:.2f}/{r['cpu']:.2f}/{r['calib']:.2f}"
                for r in warm if "error" not in r))
            ok = _summary(recs[len(warm):])
            calib = median([r["calib"] for r in ok])
            metrics = {
                "setup_s": median(setup),
                "cold_cpu_norm": cold["cpu"] / calib,
                "op_cpu_norm": median([r["cpu"] for r in ok]) / calib,
                "py_peak_rss_mb": harness.peak_rss_mb(),
            }
            host = harness.host_record(spark, load_start, cpu_start)
            harness.shutdown(spark)
            spark = None
            replay = {}
            wanted = spec["end_to_end"]
        print("host: " + json.dumps(host))

        reference = wl.reference(work, args.seed, os.path.join(base, "refs"))
        failed = sum(1 for r in recs if "error" in r or not wl.check(r, reference))
        if replay and not wl.check_replay(replay, reference):
            print("xbench: staged replay disagrees with the query's reference",
                  file=sys.stderr)
            failed += 1
        # a per-layer metric of a layer this workload never calls is 0
        out = {m["name"]: {"value": float(metrics[m["name"]] if not args.trace
                                          else metrics.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
        print(json.dumps({"correct": failed == 0, "attempted": len(recs),
                          "failed": failed, "metrics": out}))
        return 0
    finally:
        if spark is not None:
            harness.shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
