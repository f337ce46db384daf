"""End-to-end benchmark of the pmocr-spark engine.

Run from the root of a checkout:

    python3 e2ebench/run.py --workload batch_full --seed 1 --seconds 12 --trace 0

Prints one JSON line describing the deployment, then, as the last line,
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. Exits
non-zero when any output differs from the reference converter.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from types import SimpleNamespace  # noqa: E402

#: every end-to-end metric with its unit; printed for every workload
END_TO_END = {
    "setup_s": "s",
    "latency_mean_s": "s",
    "cpu_s_per_kdoc": "s",
    "mem_peak_mb": "MiB",
}
WORKLOAD_NAMES = ("batch_full", "batch_resume", "service_drops")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pmocr_spark", "__init__.py")):
        print("e2ebench: pmocr_spark/ not found; run from the root of a checkout", file=sys.stderr)
        return 2
    from e2ebench import harness

    host = harness.host_config()
    work = harness.prepare_env(root, host)

    import pyspark

    from e2ebench import workloads

    config = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": host["nproc"],
        "mem_gb": host["mem_gb"],
        "master": host["master"],
        "driver_mem": host["driver_mem"],
        "pyspark": pyspark.__version__,
        "trigger": workloads.TRIGGER,
        "drop_rate_per_s": workloads.DROP_RATE,
        "docs_per_drop": workloads.DOCS_PER_DROP,
    }
    print(json.dumps({"e2ebench": config}), flush=True)

    spark = harness.start_session(work, host)
    try:
        with harness.ProcTree(spark) as proc:
            run = SimpleNamespace(
                spark=spark, work=work, seed=args.seed, seconds=args.seconds, proc=proc,
                t_process=T_PROCESS, session_s=time.perf_counter() - T_PROCESS, tracer=None,
            )
            if args.trace:
                from e2ebench import tracing

                run.tracer = tracing.Tracer()
                run.tracer.install()
            obs = workloads.WORKLOADS[args.workload](run)
            if args.trace:
                from e2ebench import layers

                run.tracer.uninstall()
                values = layers.compute(run, args.workload, obs)
                spans = run.tracer.spans
                for span in spans:
                    span["self_s"] = tracing.self_time(span, spans)
                with open(os.path.join(work, "trace.json"), "w") as f:
                    json.dump({"spans": spans, "ops": obs["ops"]}, f, default=str)
                units = layers.PER_LAYER
    finally:
        harness.stop_session(spark)
    if not args.trace:
        values = {
            "setup_s": obs["setup_s"],
            "latency_mean_s": statistics.fmean(obs["latencies"]),
            "cpu_s_per_kdoc": obs["cpu_s"] / obs["docs"] * 1000.0,
            "mem_peak_mb": proc.peak_mem / 2**20,
        }
        units = END_TO_END
    for err in obs["errors"][:20]:
        print(f"e2ebench: MISMATCH {err}", file=sys.stderr)
    correct = obs["failed"] == 0 and not obs["errors"]
    result = {
        "correct": correct,
        "attempted": obs["attempted"],
        "failed": obs["failed"],
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    # import the checkout's packages; this directory's modules must not
    # shadow top-level names
    sys.path[0] = os.getcwd()
    sys.exit(main())
