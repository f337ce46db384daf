"""Per-layer metrics of a traced run.

An *op* is one unit of timed work: one CLI job on the batch workloads,
one committed epoch on the service. Spark jobs are attributed to ops by
job tag (batch: the rep's tag) or by the streaming batch id in the job
description (service: jobs run on the stream's own thread, which carries
the query's run id and batch id instead of the benchmark's tags). SQL
executions follow their jobs. Unless a metric says otherwise it is the
mean over ops: a run has too few ops for a percentile to have ten
samples beyond it.
"""

from __future__ import annotations

import random
import statistics
import time

from pmocr_spark import codecs

from . import harness
from .tracing import covered
from .workloads import dir_rows

#: every per-layer metric, in print order, with its unit
PER_LAYER = {
    "session.start_s": "s",
    "corpus.gen_s": "s",
    "corpus.docs": "count",
    "corpus.blobs": "count",
    "corpus.blob_mb": "MiB",
    "driver.self_s": "s",
    "pipeline.build_s": "s",
    "pipeline.blob_scan_mb": "MiB",
    "udf.python_run_s": "s",
    "udf.python_init_s": "s",
    "udf.python_boot_s": "s",
    "udf.arrow_sent_mb": "MiB",
    "udf.arrow_returned_mb": "MiB",
    "udf.rows": "count",
    "udf.ok_ratio": "1",
    "codec.decode_ms_per_blob": "ms",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MiB",
    "spark.spill_mb": "MiB",
    "spark.task_p50_ms": "ms",
    "spark.udf_stage_skew": "1",
    "checkpoint.read_s": "s",
    "checkpoint.rows_s": "s",
    "checkpoint.metrics_s": "s",
    "checkpoint.lineage_rows": "count",
    "resume.skip_ratio": "1",
    "sink.write_s": "s",
    "sink.output_mb": "MiB",
    "sink.files": "count",
    "stream.epochs": "count",
    "stream.files_per_epoch": "count",
    "stream.add_batch_ms": "ms",
    "stream.list_ms": "ms",
    "stream.plan_ms": "ms",
    "stream.commit_ms": "ms",
    "gen.lag_s_max": "s",
    "trace.latency_mean_s": "s",
    "trace.bookkeeping_ms_per_op": "ms",
}

_MB = 2.0**20


def _mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def _under(path: str | None, root: str) -> bool:
    return path is not None and (path == root or path.startswith(root + "/"))


def compute(run, workload: str, obs: dict) -> dict[str, float]:
    stores = harness.SparkStores(run.spark)
    stores.drain()
    jobs = stores.jobs()
    stages = stores.stages()
    executions = stores.executions()
    ops = obs["ops"]
    service = workload == "service_drops"

    def jobs_of(op) -> list[dict]:
        if service:
            marker = (f"runId = {obs['run_id']}", f"batch = {op['request']}\n")
            return [j for j in jobs if all(m in j["desc"] + "\n" for m in marker)]
        return [j for j in jobs if op["tag"] in j["tags"]]

    spans = run.tracer.spans
    per_op: list[dict] = []
    task_ms: list[float] = []
    for op in ops:
        oj = jobs_of(op)
        ids = {j["id"] for j in oj}
        stage_ids = [s for j in oj for s in j["stages"] if s in stages]
        st = [stages[s] for s in stage_ids]
        for sid in stage_ids:
            task_ms += stores.task_run_ms(sid, stages[sid]["attempt"])
        ex = [e for e in executions if ids.intersection(e["jobs"])]
        lo, hi = op["start"], op["end"]
        job_iv = [
            (max(lo, j["start_ms"] / 1e3), min(hi, (j["end_ms"] or j["start_ms"]) / 1e3))
            for j in oj if j["start_ms"] is not None
        ]
        in_op = [s for s in spans if s["start"] >= lo - 0.05 and s["end"] <= hi + 0.05]

        def span_s(*names):
            return sum(s["end"] - s["start"] for s in in_op if s["name"] in names)

        def exec_s(root):
            return sum(
                ((e["end_ms"] or e["start_ms"]) - e["start_ms"]) / 1e3
                for e in ex if _under(e["write_path"], root)
            )

        py = [n for e in ex for n in e["python"]]

        def py_sum(name):
            return sum(harness.parse_sql_metric(n["metrics"].get(name)) for n in py)

        skew = 0.0
        for n in py:
            ref = harness.udf_stage(n) if "_ocr_extract" in n["desc"] else None
            if ref is not None:
                runs = stores.task_run_ms(*ref)
                # a stage has a handful of tasks: max over mean, not a percentile
                if runs and statistics.fmean(runs) > 0:
                    skew = max(runs) / statistics.fmean(runs)
        out_b, out_files = harness.dir_size(op["out"])
        per_op.append(
            {
                "driver.self_s": (hi - lo) - covered(job_iv),
                "pipeline.build_s": span_s("pipeline.run_batch", "pipeline.project_targets"),
                "pipeline.blob_scan_mb": sum(
                    harness.parse_sql_metric(n["metrics"].get("size of files read"))
                    for e in ex for n in e["scans"] if "media_blobs" in n["desc"]
                ) / _MB,
                "udf.python_run_s": py_sum("time to run Python workers"),
                "udf.python_init_s": py_sum("time to initialize Python workers"),
                "udf.python_boot_s": py_sum("time to start Python workers"),
                "udf.arrow_sent_mb": py_sum("data sent to Python workers") / _MB,
                "udf.arrow_returned_mb": py_sum("data returned from Python workers") / _MB,
                "udf.rows": py_sum("number of output rows"),
                "spark.jobs": len(oj),
                "spark.stages": len(st),
                "spark.tasks": sum(s["tasks"] for s in st),
                "spark.executor_run_s": sum(s["run_s"] for s in st),
                "spark.executor_cpu_s": sum(s["cpu_s"] for s in st),
                "spark.gc_s": sum(s["gc_s"] for s in st),
                "spark.shuffle_write_mb": sum(s["shuffle_write_b"] for s in st) / _MB,
                "spark.spill_mb": sum(s["spill_b"] for s in st) / _MB,
                "spark.udf_stage_skew": skew,
                "checkpoint.read_s": span_s("checkpoint.read_checkpoint"),
                # the lineage write is append_checkpoint's in the CLI and a
                # direct epoch write in the service: count the execution
                "checkpoint.rows_s": span_s("checkpoint.checkpoint_rows")
                + exec_s(op["lineage"]),
                "checkpoint.metrics_s": span_s("checkpoint.partition_metrics")
                + exec_s(op["metrics"]),
                # docs the engine left out of its output, of the docs it was given
                "resume.skip_ratio": (op["docs_in"] - dir_rows(op["out"])) / max(1, op["docs_in"]),
                "sink.write_s": exec_s(op["out"]),
                "sink.output_mb": out_b / _MB,
                "sink.files": out_files,
            }
        )

    m = {k: _mean(o[k] for o in per_op) for k in per_op[0]}
    shape = obs["inputs"].shape()
    m.update(
        {
            "session.start_s": run.session_s,
            "corpus.gen_s": obs["inputs"].gen_s,
            "corpus.docs": shape["docs"],
            "corpus.blobs": shape["blobs"],
            "corpus.blob_mb": shape["blob_mb"],
            "udf.ok_ratio": obs["checker"].decoded_spans / max(1, obs["checker"].media_spans),
            "codec.decode_ms_per_blob": decode_ms_per_blob(obs["inputs"], run.seed),
            "spark.task_p50_ms": harness.median(task_ms),
            "checkpoint.lineage_rows": obs["lineage_rows"],
            "trace.latency_mean_s": _mean(obs["latencies"]),
            "trace.bookkeeping_ms_per_op": run.tracer.bookkeeping_s * 1e3 / len(ops),
        }
    )
    m.update(stream_metrics(obs) if service else {k: 0.0 for k in PER_LAYER if k.startswith(("stream.", "gen."))})
    return {k: m[k] for k in PER_LAYER}


def stream_metrics(obs: dict) -> dict[str, float]:
    prog = [op["progress"] for op in obs["ops"]]

    def dur(key):
        return [p["durationMs"].get(key, 0) for p in prog]

    return {
        "stream.epochs": len(prog),
        "stream.files_per_epoch": _mean(op["drops"] for op in obs["ops"]),
        "stream.add_batch_ms": _mean(dur("addBatch")),
        "stream.list_ms": _mean(dur("latestOffset")),
        "stream.plan_ms": _mean(dur("queryPlanning")),
        "stream.commit_ms": _mean(dur("commitOffsets")),
        "gen.lag_s_max": obs["gen_lag_s_max"],
    }


def decode_ms_per_blob(inputs, seed: int, n: int = 300) -> float:
    """The codec called directly, single-threaded, on a seeded sample of
    the workload's blobs (corrupt A6 blobs raise, as in the engine)."""
    content = inputs.blobs.column("content")
    idx = random.Random(seed).sample(range(len(content)), min(n, len(content)))
    blobs = [content[i].as_py() for i in idx]
    t0 = time.perf_counter()
    for b in blobs:
        try:
            codecs.decode_blob(b)
        except codecs.CodecError:
            pass
    return (time.perf_counter() - t0) * 1e3 / len(blobs)
