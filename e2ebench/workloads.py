"""The workloads: batch_full, batch_resume and service_drops.

Each drives the engine only through its public entry points
(``cli.main`` in-process for the batch jobs, ``streaming.monitor`` for
the service), checks the outputs against ``corpus.reference_convert``,
and returns the raw observations that ``run.py`` turns into metrics.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import threading
import time
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pmocr_spark import cli, codecs, corpus, streaming

from . import harness

# Input scale. Every size is fixed: only --seed varies the inputs.
BASE_DOCS = 250  # one corpus.generate() pass; holds A5 heavy and A6 poison docs
NEW_DOCS = 40  # batch_resume: docs that are new to the seeded lineage
WARM_JOBS = 2  # untimed batch jobs before timing: job time still falls over the first ones
TARGETS = "txt,csv,pdf"
JOB_TS = "2024-01-01T00:00:00Z"
# past the engine's 300 s retry backoff, so the A6 failed docs are retried
RESUME_TS = "2024-01-01T00:10:00Z"

# service_drops: open loop, one generator thread. An epoch costs about
# 5.5 s plus 70 ms per file on 4 cores. The trigger is longer than an
# epoch at this rate (20 files, about 7 s), so the service is below
# saturation and epochs start on a fixed grid. With a trigger shorter
# than an epoch, epochs run back to back, each epoch's length sets the
# next one's size, and latency differed by up to 15 % between runs of
# one seed. The CLI's 30 s poller would set the latency by itself.
DROP_RATE = 2.0  # files per second
DOCS_PER_DROP = 1
TRIGGER_S = 10
TRIGGER = f"{TRIGGER_S} seconds"
DRAIN_TIMEOUT_S = 60.0


class Inputs:
    """A corpus written as parquet, with its reference outputs."""

    def __init__(self, path: str, documents: pa.Table, blobs: pa.Table, reference: dict, gen_s: float):
        self.dir = path
        self.documents = documents
        self.blobs = blobs
        self.reference = reference
        self.gen_s = gen_s

    @property
    def docs_path(self) -> str:
        return os.path.join(self.dir, "documents.parquet")

    @property
    def blobs_path(self) -> str:
        return os.path.join(self.dir, "media_blobs.parquet")

    def ref(self, doc_id: str) -> dict:
        return self.reference[doc_id]

    def shape(self) -> dict:
        return {
            "docs": self.documents.num_rows,
            "blobs": self.blobs.num_rows,
            "blob_mb": self.blobs.column("content").nbytes / 2**20,
        }


def make_inputs(work: str, seed: int) -> Inputs:
    """corpus.generate(BASE_DOCS, seed), written as parquet; the same
    tables give the reference outputs."""
    path = os.path.join(work, "corpus")
    t0 = time.perf_counter()
    documents, blobs = corpus.generate(n_docs=BASE_DOCS, seed=seed)
    os.makedirs(path)
    pq.write_table(documents, os.path.join(path, "documents.parquet"))
    pq.write_table(blobs, os.path.join(path, "media_blobs.parquet"))
    gen_s = time.perf_counter() - t0
    return Inputs(path, documents, blobs, corpus.reference_convert(documents, blobs), gen_s)


def with_new_slice(base: Inputs, work: str, seed: int) -> Inputs:
    """The corpus plus NEW_DOCS seeded docs the lineage has never seen
    (another generate() seed; ids prefixed 'new~' so none collide)."""
    docs, blobs = corpus.generate(n_docs=NEW_DOCS, seed=seed + 10_007)
    spans = docs.column("spans").combine_chunks()
    st = spans.values
    new_st = pa.StructArray.from_arrays(
        [st.field("kind"), st.field("text"), _prefix(st.field("media_ref")), st.field("offset")],
        fields=list(corpus.SPAN_SCHEMA),
    )
    docs = pa.table(
        {"doc_id": _prefix(docs.column("doc_id")),
         "spans": pa.ListArray.from_arrays(spans.offsets, new_st)},
        schema=corpus.DOCUMENTS_SCHEMA,
    )
    blobs = blobs.set_column(0, "media_ref", _prefix(blobs.column("media_ref")))
    path = os.path.join(work, "resume_input")
    os.makedirs(path)
    documents = pa.concat_tables([base.documents, docs])
    all_blobs = pa.concat_tables([base.blobs, blobs])
    pq.write_table(documents, os.path.join(path, "documents.parquet"))
    pq.write_table(all_blobs, os.path.join(path, "media_blobs.parquet"))
    reference = {**base.reference, **corpus.reference_convert(docs, blobs)}
    return Inputs(path, documents, all_blobs, reference, base.gen_s)


def _prefix(col):
    return pc.binary_join_element_wise("new~", col, "")


# ------------------------------------------------------ output checks


class OutputCheck:
    """Compares engine outputs with the reference converter. The pdf
    target is decoded once per doc; later outputs of the same doc must
    carry byte-identical pdf blobs (the encoder is deterministic)."""

    def __init__(self, inputs: Inputs):
        self.inputs = inputs
        self.pdf_digest: dict[str, bytes] = {}
        self.media_spans = 0
        self.decoded_spans = 0

    def check(self, out_dir: str, expected_ids: set[str], label: str) -> list[str]:
        t = _read_dir(out_dir, ["doc_id", "status", "txt", "csv", "pdf", "spans"])
        errors = []
        ids = t.column("doc_id").to_pylist()
        if len(ids) != len(set(ids)):
            errors.append(f"{label}: {len(ids) - len(set(ids))} duplicate output rows")
        if set(ids) != expected_ids:
            missing = len(expected_ids - set(ids))
            extra = len(set(ids) - expected_ids)
            errors.append(f"{label}: {missing} docs missing, {extra} unexpected in output")
        for row in t.to_pylist():
            ref = self.inputs.ref(row["doc_id"])
            for key in ("status", "txt", "csv"):
                if row[key] != ref[key]:
                    errors.append(f"{label}: {row['doc_id']} {key} differs from reference")
                    break
            digest = hashlib.sha1(row["pdf"] or b"").digest()
            known = self.pdf_digest.get(row["doc_id"])
            if known is None:
                text = codecs.decode_blob(row["pdf"]) if row["pdf"] else ""
                if text != (row["txt"] or ""):
                    errors.append(f"{label}: {row['doc_id']} pdf does not decode to its txt")
                self.pdf_digest[row["doc_id"]] = digest
            elif known != digest:
                errors.append(f"{label}: {row['doc_id']} pdf bytes differ between runs")
            for span in row["spans"] or ():
                if span["media_ref"] is not None:
                    self.media_spans += 1
                    self.decoded_spans += span["kind"] == "text"
        return errors


def _read_dir(path: str, columns: list[str]) -> pa.Table:
    """Committed parquet files under a Spark output dir (writers stage
    files in hidden `_temporary` dirs until commit)."""
    files = sorted(
        os.path.join(d, n)
        for d, _, names in os.walk(path)
        if "/_" not in d[len(path):] and "/." not in d[len(path):]
        for n in names
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    )
    if not files:
        return pa.table({c: pa.array([], pa.string()) for c in columns})
    return pa.concat_tables(pq.read_table(f, columns=columns) for f in files)


def dir_rows(path: str) -> int:
    """Committed rows of a Spark output or lineage dir."""
    return _read_dir(path, ["doc_id"]).num_rows


# --------------------------------------------------------- batch jobs


def _cli_job(inputs: Inputs, d: str, job_ts: str, run_id: str) -> None:
    cli.main(
        [
            "--batch", "--input", inputs.docs_path, "--blobs", inputs.blobs_path,
            "--output", f"{d}/out", "--lineage", f"{d}/lineage", "--metrics", f"{d}/metrics",
            "--targets", TARGETS, "--job-ts", job_ts, "--run-id", run_id,
        ]
    )


def _batch(run, inputs: Inputs, job_ts: str, run_id: str, expected: set[str],
           lineage_before: int, prepare=None) -> dict:
    """Closed loop, one client: CLI jobs back to back for run.seconds.
    Each job is due when the previous one ends, so its latency is its
    wall time. `prepare(rep_dir)` stages a rep's lineage untimed. Set-up
    ends here, at the first timed job."""
    ops = []
    cpu_s = 0.0
    setup_s = time.perf_counter() - run.t_process
    t_end = time.perf_counter() + run.seconds
    while not ops or time.perf_counter() < t_end:
        i = len(ops)
        d = os.path.join(run.work, f"rep{i}")
        if prepare is not None:
            prepare(d)
        tag = f"e2ebench-rep-{i}"
        if run.tracer is not None:
            run.tracer.request = i
            run.spark.sparkContext.addJobTag(tag)
        cpu0 = run.proc.cpu_s()
        start = time.time()
        t0 = time.perf_counter()
        _cli_job(inputs, d, job_ts, run_id)
        wall = time.perf_counter() - t0
        cpu_s += run.proc.cpu_s() - cpu0
        if run.tracer is not None:
            run.spark.sparkContext.removeJobTag(tag)
        ops.append({
            "request": i, "tag": tag, "start": start, "end": start + wall, "latency": wall,
            "out": f"{d}/out", "lineage": f"{d}/lineage", "metrics": f"{d}/metrics",
            "docs_in": inputs.documents.num_rows,
        })
    checker = OutputCheck(inputs)
    errors, failed = [], 0
    for op in ops:
        errs = checker.check(op["out"], expected, f"rep {op['request']}")
        n = dir_rows(op["lineage"])
        if n != lineage_before + len(expected):
            errs.append(f"rep {op['request']}: lineage holds {n} rows, want {lineage_before + len(expected)}")
        errors += errs
        failed += bool(errs)
    return dict(
        setup_s=setup_s, ops=ops, latencies=[op["latency"] for op in ops],
        docs=inputs.documents.num_rows * len(ops), cpu_s=cpu_s,
        attempted=len(ops), failed=failed, errors=errors, inputs=inputs,
        checker=checker, lineage_rows=dir_rows(ops[-1]["lineage"]),
    )


def batch_full(run) -> dict:
    inputs = make_inputs(run.work, run.seed)
    # warm-up: full jobs compile the plans and start the Python workers
    for i in range(WARM_JOBS):
        _cli_job(inputs, os.path.join(run.work, f"warm{i}"), JOB_TS, "full")
    expected = set(inputs.documents.column("doc_id").to_pylist())
    return _batch(run, inputs, JOB_TS, "full", expected, 0)


def batch_resume(run) -> dict:
    base = make_inputs(run.work, run.seed)
    # the lineage a real batch_full job writes; the job also warms the session
    snap = os.path.join(run.work, "seed")
    _cli_job(base, snap, JOB_TS, "full")
    inputs = with_new_slice(base, run.work, run.seed)

    def stage(d):
        # every rep starts from the same lineage snapshot
        shutil.copytree(f"{snap}/lineage", f"{d}/lineage")

    # warm-up: resume jobs, each over its own copy of the lineage
    for i in range(WARM_JOBS):
        warm = os.path.join(run.work, f"warm{i}")
        stage(warm)
        _cli_job(inputs, warm, RESUME_TS, "resume")
    # only the new slice and the retried A6 (failed) docs are processed
    expected = {
        d for d in inputs.documents.column("doc_id").to_pylist()
        if d.startswith("new~") or inputs.ref(d)["status"] == "failed"
    }
    seeded = dir_rows(f"{snap}/lineage")
    return _batch(run, inputs, RESUME_TS, "resume", expected, seeded, stage)


# ------------------------------------------------------------ service


def _drop_order(inputs: Inputs, rng, n: int) -> list[int]:
    """Seeded doc order with a fixed mix: every block of six drops holds
    one doc of each span count 1..6, so each epoch decodes about the same
    number of blobs whatever the seed. A5 heavy docs (120 spans) stay in
    batch_full's skew case; here one would make its epoch the slow one."""
    spans = pc.list_value_length(inputs.documents.column("spans")).to_numpy()
    pools = {c: list(rng.permutation(np.flatnonzero(spans == c))) for c in range(1, 7)}
    order = []
    while len(order) < n:
        order += [int(pools[c].pop()) for c in rng.permutation(6) + 1]
    return order[:n]


def _drop_files(inputs: Inputs, stage_dir: str, order, first: int, n: int) -> list[dict]:
    """Write n drop files of DOCS_PER_DROP docs each (untimed staging)."""
    os.makedirs(stage_dir, exist_ok=True)
    drops = []
    for i in range(first, first + n):
        idx = order[i * DOCS_PER_DROP : (i + 1) * DOCS_PER_DROP]
        part = inputs.documents.take(pa.array(idx))
        path = os.path.join(stage_dir, f"drop-{i:05d}.parquet")
        pq.write_table(part, path)
        drops.append({"path": path, "docs": part.column("doc_id").to_pylist()})
    return drops


def _land(drop: dict, landing: str) -> None:
    # atomic rename: the file source never sees a half-written file
    os.rename(drop["path"], os.path.join(landing, os.path.basename(drop["path"])))


def _progress(q) -> list[dict]:
    return [p if isinstance(p, dict) else p.jsonValue() for p in q.recentProgress]


def _committed_docs(lineage_dir: str, q, counted: dict[int, int]) -> int:
    """Lineage rows of the epochs whose commit the query has reported
    (an idle trigger also reports a progress, under the next batch id).
    An epoch's rows are read once and kept in `counted`, so polling reads
    no file twice."""
    for p in _progress(q):
        e = p["batchId"]
        if p["numInputRows"] > 0 and e not in counted:
            counted[e] = dir_rows(os.path.join(lineage_dir, f"epoch-{e}"))
    return sum(counted.values())


def _commit_epoch_s(p: dict) -> float:
    """Wall-clock time an epoch committed: its trigger start plus the
    trigger's duration."""
    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=timezone.utc).timestamp()
    return start + p["durationMs"]["triggerExecution"] / 1e3


def service_drops(run) -> dict:
    inputs = make_inputs(run.work, run.seed)
    spark = run.spark
    blobs = spark.read.parquet(inputs.blobs_path)
    rng = np.random.default_rng(run.seed)
    n_drops = max(1, int(DROP_RATE * run.seconds))
    order = _drop_order(inputs, rng, n_drops + 1)
    # file i is due at (i + u_i) / rate, u_i uniform in [0, 1)
    due = (np.arange(n_drops) + rng.uniform(0.0, 1.0, n_drops)) / DROP_RATE
    drops = _drop_files(inputs, f"{run.work}/stage", order, 0, n_drops)
    warm_drop = _drop_files(inputs, f"{run.work}/stage_warm", order, n_drops, 1)[0]

    def dirs(name):
        d = os.path.join(run.work, name)
        paths = {k: f"{d}/{k}" for k in ("landing", "out", "offsets", "lineage", "metrics")}
        os.makedirs(paths["landing"])
        return paths

    def start(d, trigger):
        return streaming.monitor(
            spark, d["landing"], blobs, d["out"], d["offsets"], d["lineage"],
            run_id="svc", job_ts=JOB_TS, trigger=trigger,
            targets=TARGETS.split(","), metrics_dir=d["metrics"],
        )

    # warm-up on their own dirs: a CLI job over the corpus compiles the
    # shared batch plan and starts the Python workers; one drained epoch
    # warms the streaming path
    _cli_job(inputs, os.path.join(run.work, "warm_job"), JOB_TS, "warm")
    w = dirs("warm")
    _land(warm_drop, w["landing"])
    start(w, {"availableNow": True}).awaitTermination()
    d = dirs("svc")
    q = start(d, {"processingTime": TRIGGER})
    harness.wait_for(lambda: "Waiting" in q.status["message"], 60)
    # set-up ends here; the wait for the trigger phase below is not set-up
    setup_s = time.perf_counter() - run.t_process

    # ProcessingTime triggers fire on wall-clock multiples of the interval:
    # start the schedule just after one, so every run sees the same phase
    t_sched = (time.time() // TRIGGER_S + 1) * TRIGGER_S + 0.25
    time.sleep(max(0.0, t_sched - time.time()))
    landed = [0.0] * n_drops

    def generate():
        for i, drop in enumerate(drops):
            delay = t_sched + due[i] - time.time()
            if delay > 0:
                time.sleep(delay)
            _land(drop, d["landing"])
            landed[i] = time.time()

    total_docs = n_drops * DOCS_PER_DROP
    cpu0 = run.proc.cpu_s()
    gen = threading.Thread(target=generate, name="e2ebench-generator")
    gen.start()
    gen.join()
    counted: dict[int, int] = {}
    harness.wait_for(lambda: _committed_docs(d["lineage"], q, counted) >= total_docs, DRAIN_TIMEOUT_S, 0.2)
    cpu = run.proc.cpu_s() - cpu0
    # numInputRows counts every scan of the batch, not docs: keep epochs with data
    progress = [p for p in _progress(q) if p["numInputRows"] > 0]
    q.stop()

    # doc -> epoch from the lineage's '<run_id>#e<N>' rows
    lin = _read_dir(d["lineage"], ["doc_id", "run_id"])
    epoch_of: dict[str, list[int]] = {}
    for doc, rid in zip(lin.column("doc_id").to_pylist(), lin.column("run_id").to_pylist()):
        epoch_of.setdefault(doc, []).append(int(rid.rsplit("#e", 1)[1]))
    committed = {p["batchId"]: _commit_epoch_s(p) for p in progress}
    latencies, errors, drop_epoch = [], [], []
    for i, drop in enumerate(drops):
        epochs = [e for doc in drop["docs"] for e in epoch_of.get(doc, [])]
        if len(epochs) == len(drop["docs"]) and all(e in committed for e in epochs):
            latencies.append(max(committed[e] for e in epochs) - (t_sched + due[i]))
            drop_epoch.append(max(epochs))
        else:
            errors.append(f"drop {i}: docs not committed exactly once in lineage")
    failed = len(errors)
    checker = OutputCheck(inputs)
    expected = {doc for drop in drops for doc in drop["docs"]}
    out_errors = checker.check(d["out"], expected, "service output")
    errors += out_errors
    failed += bool(out_errors)
    ops = []
    for p in progress:
        e = p["batchId"]
        docs = drop_epoch.count(e) * DOCS_PER_DROP
        ops.append({
            "request": e,
            "start": committed[e] - p["durationMs"]["triggerExecution"] / 1e3,
            "end": committed[e],
            "latency": p["durationMs"]["triggerExecution"] / 1e3,
            "progress": p, "drops": drop_epoch.count(e), "docs_in": docs,
            "out": f"{d['out']}/epoch-{e}", "lineage": f"{d['lineage']}/epoch-{e}",
            "metrics": d["metrics"],
        })
    return dict(
        setup_s=setup_s, ops=ops, latencies=latencies, docs=total_docs, cpu_s=cpu,
        attempted=n_drops, failed=failed, errors=errors, inputs=inputs,
        checker=checker, lineage_rows=lin.num_rows, run_id=str(q.runId),
        gen_lag_s_max=max(t - (t_sched + due[i]) for i, t in enumerate(landed)),
    )


WORKLOADS = {"batch_full": batch_full, "batch_resume": batch_resume, "service_drops": service_drops}
