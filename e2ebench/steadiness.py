"""Repeated-run proof that the benchmark is steady.

Runs every listed workload once per seed (untraced), for two or more
independent sets of seeds run one after the other, then optionally a
few traced runs, and writes the median, quartiles and spread of every
metric to e2ebench/steadiness.json and e2ebench/STEADINESS.md. Spread is
(Q3 - Q1) / median with the quartiles of statistics.quantiles(n=4); a
metric is steady when its spread is below a third of its bound in
BENCHMARK.json. Two sets agree on a metric when the later set's median
is not worse than the first set's by more than the bound. Run from the
root of a checkout:

    python3 e2ebench/steadiness.py --sets 101-110 201-210 --trace-seeds 101-102

`--render` rewrites STEADINESS.md from steadiness.json against the
bounds now in BENCHMARK.json, without running anything.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    result = json.loads(lines[-1])
    result["wall_s"] = time.perf_counter() - t0
    result["seed"] = seed
    result["config"] = json.loads(lines[0])["e2ebench"]
    return result


def summarize(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {
        "median": med, "q1": q1, "q3": q3,
        "spread": (q3 - q1) / med if med else None,
        "values": values,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sets", nargs="+", default=["101-110", "201-210"])
    ap.add_argument("--trace-seeds", default="")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--render", action="store_true")
    args = ap.parse_args(argv)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    if args.render:
        with open(os.path.join(HERE, "steadiness.json")) as f:
            finish(json.load(f), metrics)
        return 0
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    report = {"host": platform.node(), "run_seconds": seconds, "workloads": {w: {"sets": []} for w in workloads}}
    for seeds in args.sets:
        for w in workloads:
            runs = []
            for seed in seed_range(seeds):
                runs.append(run_once(w, seed, seconds, 0))
                print(f"{w} seed {seed}: {runs[-1]['metrics']}", file=sys.stderr, flush=True)
            summary = {name: summarize([r["metrics"][name]["value"] for r in runs]) for name in metrics}
            report["workloads"][w]["sets"].append({
                "config": runs[0]["config"],
                "seeds": [r["seed"] for r in runs],
                "correct": all(r["correct"] for r in runs),
                "wall_s": summarize([r["wall_s"] for r in runs]),
                "metrics": summary,
            })
    for w, entry in report["workloads"].items():
        if args.trace_seeds:
            traced = [run_once(w, s, seconds, 1) for s in seed_range(args.trace_seeds)]
            t_lat = statistics.median(r["metrics"]["trace.latency_mean_s"]["value"] for r in traced)
            entry["traced_latency_mean_s"] = t_lat
            entry["tracing_overhead_s"] = t_lat - entry["sets"][0]["metrics"]["latency_mean_s"]["median"]
            entry["traced_wall_s"] = [r["wall_s"] for r in traced]
            entry["traced_metrics"] = [r["metrics"] for r in traced]
    finish(report, metrics)
    return 0


def finish(report: dict, metrics: dict) -> None:
    """Judge every set against the bounds and write both files."""
    for entry in report["workloads"].values():
        for st in entry["sets"]:
            for name, m in st["metrics"].items():
                m["steady"] = m["spread"] < metrics[name]["bound"] / 3
        first = entry["sets"][0]["metrics"]
        entry["agreement"] = {}
        for name, m in metrics.items():
            sign = 1 if m["better"] == "lower" else -1
            worse = max(
                (sign * (st["metrics"][name]["median"] / first[name]["median"] - 1) for st in entry["sets"][1:]),
                default=0.0,
            )
            entry["agreement"][name] = {"worse_by": worse, "bound": m["bound"], "agree": worse <= m["bound"]}
    with open(os.path.join(HERE, "steadiness.json"), "w") as f:
        json.dump(report, f, indent=1)
    with open(os.path.join(HERE, "STEADINESS.md"), "w") as f:
        f.write(render(report, metrics))


def render(report: dict, metrics: dict) -> str:
    out = [
        "# Steadiness record",
        "",
        "Written by `python3 e2ebench/steadiness.py`; raw values in `steadiness.json`.",
        f"Each run measures {report['run_seconds']} s. Spread = (Q3 - Q1) / median over the",
        "seeds of a set; steady means spread < bound / 3. The sets ran one after",
        "the other; 'worse by' is how much the later set's median is worse than",
        "the first set's (negative: better).",
        "",
    ]
    for w, e in report["workloads"].items():
        out += [f"## {w}", ""]
        for st in e["sets"]:
            c = st["config"]
            out += [
                f"seeds {st['seeds'][0]}-{st['seeds'][-1]}, all correct: {st['correct']}; "
                f"{c['master']}, driver {c['driver_mem']}, nproc {c['nproc']}, "
                f"{c['mem_gb']} GB, PySpark {c['pyspark']}; median run wall {st['wall_s']['median']:.1f} s",
                "",
                "| metric | median | Q1 | Q3 | spread | bound | steady |",
                "|---|---|---|---|---|---|---|",
            ]
            for name, m in st["metrics"].items():
                out.append(
                    f"| {name} | {m['median']:.4g} | {m['q1']:.4g} | {m['q3']:.4g} | "
                    f"{m['spread']:.3f} | {metrics[name]['bound']} | {'yes' if m['steady'] else 'NO'} |"
                )
            out.append("")
        if len(e["sets"]) > 1:
            out += ["| metric | worse by | bound | sets agree |", "|---|---|---|---|"]
            for name, a in e["agreement"].items():
                out.append(f"| {name} | {a['worse_by']:+.3f} | {a['bound']} | {'yes' if a['agree'] else 'NO'} |")
            out.append("")
        if "tracing_overhead_s" in e:
            out += [
                f"Traced runs: latency_mean_s median {e['traced_latency_mean_s']:.3f} s, "
                f"tracing overhead {e['tracing_overhead_s']:+.3f} s against the first set's untraced median.",
                "",
                "| per-layer metric | unit | " + " | ".join(f"traced run {i + 1}" for i in range(len(e["traced_metrics"]))) + " |",
                "|---|---|" + "---|" * len(e["traced_metrics"]),
            ]
            for name, m in e["traced_metrics"][0].items():
                values = " | ".join(f"{t[name]['value']:.4g}" for t in e["traced_metrics"])
                out.append(f"| {name} | {m['unit']} | {values} |")
            out.append("")
    return "\n".join(out)


if __name__ == "__main__":
    sys.exit(main())
