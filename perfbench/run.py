#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload etl_jobs --seed 1 --seconds 15 --trace 0

Run from the repository root. The run generates its inputs from the seed
(cached per seed under ``.perfbench/inputs``), starts a SparkSession on
``local[nproc]``, sets up (session start plus one untimed op of each kind:
``setup_s``), then runs the workload's closed loop for ``--seconds`` and
checks every op's output. The last line of
standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The line before it (``# detail ...``) carries
the per-run host record, sample counts, the tail percentile and the
workload-specific metric names. Metric definitions: perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if CHECKOUT not in sys.path:
    sys.path.insert(0, CHECKOUT)

from perfbench import core  # noqa: E402


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    t_proc = core.process_start_monotonic()
    # a SIGTERM unwinds like an exception, so the session is still stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(CHECKOUT, "etl_load_spark",
                                       "__init__.py")):
        _fail(f"no etl_load_spark package under {CHECKOUT}: run from a "
              "checkout of the repository")
    from perfbench import gen, workloads
    if args.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {args.workload!r} "
              f"(known: {sorted(workloads.WORKLOADS)})")

    dirs = core.make_dirs(CHECKOUT)
    spark = None
    try:
        host = core.HostRecord()
        t0 = time.monotonic()
        inputs = gen.generate(args.seed, dirs.inputs)
        excluded = time.monotonic() - t0    # generation is not set-up

        spark = core.start_session(dirs)
        t0 = time.monotonic()
        wl = workloads.WORKLOADS[args.workload](spark, inputs, dirs.run,
                                                args.seed)
        wl.prepare()
        excluded += time.monotonic() - t0
        warm = [core.run_op(op) for op in wl.warm_ops()]
        setup_s = time.monotonic() - t_proc - excluded

        if args.trace:
            from perfbench import trace
            tracer = trace.Tracer(spark)
            loop = tracer.run(wl.cycles(), args.seconds)
        else:
            loop = core.closed_loop(wl.cycles(), args.seconds)

        try:
            final_errors = wl.finish()
        except Exception as e:  # noqa: BLE001 — a failed check, not a crash
            final_errors = [f"{type(e).__name__}: {e}"]
        peak = core.vm_hwm_mb(core.jvm_pid(spark)) + core.vm_hwm_mb()
        host_record = host.finish(spark)
    finally:
        if spark is not None:
            core.stop_session(spark)
        shutil.rmtree(dirs.run, ignore_errors=True)

    samples = warm + loop.samples
    attempted = len(samples) + 1            # + the run-end check
    failed = sum(1 for s in samples if not s.ok) + bool(final_errors)
    errors = [f"{s.kind}: {s.error}" for s in samples if not s.ok]
    errors += [f"final: {e}" for e in final_errors]
    m = core.op_metrics(loop)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": host_record,
        "measured_s": loop.wall_s, "cycles": loop.cycles,
        "samples": m["_n"], "items": m["_items"], "item": wl.item,
        "op_seconds": [round(s.seconds, 4) for s in loop.samples],
        "tail_percentile": m["_tail_pct"], "input_rows": wl.sizes(),
        "ops_failed_ratio": failed / attempted, "peak_rss_mb": peak,
        "errors": errors[:20],
    }
    if args.trace:
        metrics = tracer.metrics()
        job_layers = ("api.self_s", "runner.self_s", "readers.read_s",
                      "errors.split_s", "builder.plan_s", "writers.write_s")
        detail["job_layers_share_of_op"] = (
            sum(metrics[k]["value"] for k in job_layers)
            / metrics["trace.op_s"]["value"])
    else:
        metrics = {
            "setup_s": _metric(setup_s, "s"),
            "op_s.p50": _metric(m["op_s.p50"], "s"),
            "op_s.tail": _metric(m["op_s.tail"], "s"),
            "items_per_s": _metric(m["items_per_s"], "1/s"),
        }
        detail["aliases"] = {alias: metrics[name]["value"]
                             for alias, name in wl.aliases.items()}
    record = {"detail": detail, "metrics": metrics}
    if args.trace:
        record["spans"] = tracer.spans()
    core.save_result(dirs, f"{args.workload}-seed{args.seed}-t{args.trace}",
                     record)
    print("# detail " + json.dumps(detail, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
