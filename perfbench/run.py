"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Set-up (session start, generation, and a
warm-up that is a fixed amount of the workload's own load) runs three
times and its median is `setup_s`; the last set-up's pass then runs the
timed region of --seconds. With --trace 1 an untraced pass is followed
by a traced one, and the per-layer metrics (plus the tracing overhead)
are printed instead of the end-to-end ones. The last line of standard
output is the JSON result; every line before it is detail. A failed
check or an exception makes the result `"correct": false` with the
failure counted.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

import blueflood_spark  # noqa: E402,F401  (the engine under test: fail fast without it)
from perfbench import dashboard_reads, harness, ingest_rollup  # noqa: E402

WORKLOADS = {
    "ingest_rollup": ingest_rollup,
    "dashboard_reads": dashboard_reads,
}


def _spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = _spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    start_ms = int(time.time() * 1000)  # stamps are relative to run start

    host = harness.host_settings()
    work = harness.fresh_dir(harness.WORK / f"{args.workload}-{os.getpid()}")
    harness.prepare_environment(work, host)
    print(f"perfbench: {host.describe()} workload={args.workload} seed={args.seed}"
          f" seconds={args.seconds:g} trace={args.trace}", flush=True)
    mod = WORKLOADS[args.workload]
    event_log = work / "eventlog" if args.trace else None
    runs, problems, metrics = [], [], {}
    spark = None
    try:
        spark, state, first, setup = harness.repeated_setup(
            work, host, mod.make_generate(args.seed, start_ms, args.seconds),
            lambda sp, st: mod.Pass(sp, st, 0, None), event_log,
        )
        tracer = harness.Tracer()
        runs.append(first.finish())
        if args.trace:
            second = mod.Pass(spark, state, 1, tracer)
            second.warm()
            runs.append(second.finish())
        harness.stop_spark(spark)
        spark = None
        problems = [p for r in runs for p in r["problems"]]
        print("perfbench: detail " + json.dumps({"setup": setup.__dict__, "untraced": runs[0]["detail"]}), flush=True)
        metrics = _metrics(args, spec, mod, runs, setup, tracer, event_log)
    except Exception as exc:  # counted as a failed operation; the result line still prints
        problems.append(f"{type(exc).__name__}: {exc}")
        traceback.print_exc()
    finally:
        if spark is not None:
            harness.stop_spark(spark)
    for p in problems:
        print(f"perfbench: check failed: {p}", flush=True)
    print("perfbench: checks " + ("passed" if not problems else f"FAILED ({len(problems)})"), flush=True)
    attempted = max(1, sum(r["attempted"] for r in runs))
    failed = sum(r["failed"] for r in runs) or (1 if problems else 0)
    shutil.rmtree(work, ignore_errors=True)
    print(harness.result_line(not problems, attempted, failed, {n: metrics[n] for n in names if n in metrics}, units))
    return 0


def _metrics(args, spec, mod, runs, setup, tracer, event_log) -> dict:
    untraced = runs[0]
    if not args.trace:
        return dict(untraced["metrics"], setup_s=setup.metrics()["setup_s"])
    traced = runs[1]
    layer = mod.per_layer(traced, tracer, harness.read_event_log(event_log))
    layer.update({k: v for k, v in setup.metrics().items() if k != "setup_s"})
    for key, name in (("latency_p50_ms", "trace.overhead_latency_p50_ms"),
                      ("throughput_per_s", "trace.overhead_throughput_per_s")):
        layer[name] = traced["metrics"][key] - untraced["metrics"][key]
    tracer.dump(harness.WORK / f"spans-{args.workload}.jsonl")
    print("perfbench: traced detail " + json.dumps(traced["detail"]), flush=True)
    names = [m["name"] for m in spec["per_layer"]]
    unknown = sorted(set(layer) - set(names))
    if unknown:
        raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
    # a layer this workload never enters did no work on it
    return {n: layer.get(n, 0.0) for n in names}


if __name__ == "__main__":
    sys.exit(main())
