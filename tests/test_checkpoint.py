"""Resume / quarantine / retry-postponement semantics (S5/S6/F2/P2)."""

from __future__ import annotations

import tempfile
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pmocr_spark import checkpoint as ckpt
from pmocr_spark import codecs, corpus, pipeline


def _run(spark, corpus_dir, lineage_dir, run_id, job_ts="2024-01-01 00:00:00"):
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    blobs = spark.read.parquet(f"{corpus_dir}/media_blobs.parquet")
    lineage = ckpt.read_checkpoint(spark, lineage_dir)
    results = pipeline.run_batch(spark, docs, blobs, checkpoint=lineage, job_ts=job_ts)
    results = results.persist()
    # materialize BEFORE appending to lineage: the plan reads lineage_dir
    # lazily, so appending first would anti-join the new rows away on any
    # cache-miss recompute (see checkpoint.append_checkpoint docstring)
    n = results.count()
    rows = ckpt.checkpoint_rows(results, run_id=run_id, job_ts=job_ts, prior=lineage)
    ckpt.append_checkpoint(rows, lineage_dir)
    results.unpersist()
    return n


def test_resume_done_and_postponed(spark, corpus_dir, expected):
    """Run twice at the same job_ts + epsilon: done docs are excluded
    (pmOCR's _OCR-suffix work-avoidance, pmocr.sh:2088-2096) and failed
    docs are POSTPONED (within the 300s backoff window), so the second
    run processes zero docs."""
    with tempfile.TemporaryDirectory(prefix="pmocr_ckpt_") as lineage_dir:
        n1 = _run(spark, corpus_dir, lineage_dir, "run-1", "2024-01-01 00:00:00")
        assert n1 == len(expected)
        n2 = _run(spark, corpus_dir, lineage_dir, "run-2", "2024-01-01 00:00:30")
        assert n2 == 0, "done excluded, failed postponed inside the backoff window"

        cp = ckpt.read_checkpoint(spark, lineage_dir)
        statuses = {r["doc_id"]: r["status"] for r in cp.collect()}
        assert len(statuses) == len(expected)
        for doc_id, exp in expected.items():
            assert statuses[doc_id] == exp["status"], doc_id


def _mini_corpus(path: str, fix_transient: bool) -> None:
    """3 docs: good / transiently-poisoned (fixed when fix_transient) /
    permanently-poisoned."""
    texts = {"good": "alpha beta", "trans": "gamma delta", "perm": "epsilon zeta"}
    docs = [
        {
            "doc_id": f"doc-{k}",
            "spans": [{"kind": "tif", "text": None, "media_ref": f"blob:{k}", "offset": 0}],
        }
        for k in texts
    ]
    blobs = []
    for k, t in texts.items():
        if k == "perm" or (k == "trans" and not fix_transient):
            content = codecs.encode_corrupt(f"blob:{k}")
        else:
            content = codecs.encode_image(t, "tif", salt=f"blob:{k}")
        blobs.append({"media_ref": f"blob:{k}", "kind": "tif", "content": content})
    pq.write_table(
        pa.Table.from_pylist(docs, schema=corpus.DOCUMENTS_SCHEMA), f"{path}/documents.parquet"
    )
    pq.write_table(
        pa.Table.from_pylist(blobs, schema=corpus.BLOBS_SCHEMA), f"{path}/media_blobs.parquet"
    )


def test_retry_with_postponement(spark, tmp_path):
    """P2 (pmocr.sh:1154-1193, 816-817): a transient failure is retried
    after the backoff and succeeds; a permanent poison is retried
    MAX_RETRIES times and then quarantined forever."""
    lineage = str(tmp_path / "lineage")
    cdir = str(tmp_path / "corpus")
    import os

    os.makedirs(cdir)
    t = "2024-01-01 {}:{:02d}:00".format  # hour, minute helpers

    _mini_corpus(cdir, fix_transient=False)
    assert _run(spark, cdir, lineage, "r1", t("00", 0)) == 3  # good done; trans+perm fail rc=1

    # inside the backoff window: failed docs postponed, nothing runs
    assert _run(spark, cdir, lineage, "r2", t("00", 2)) == 0

    # transient cause fixed; past the backoff: both failed docs readmitted
    _mini_corpus(cdir, fix_transient=True)
    assert _run(spark, cdir, lineage, "r3", t("00", 10)) == 2  # trans succeeds; perm rc=2
    assert _run(spark, cdir, lineage, "r4", t("00", 20)) == 1  # perm rc=3
    assert _run(spark, cdir, lineage, "r5", t("00", 30)) == 1  # perm rc=4 (last retry)
    # initial + MAX_RETRIES retries exhausted -> quarantined forever
    assert _run(spark, cdir, lineage, "r6", t("00", 40)) == 0
    assert _run(spark, cdir, lineage, "r7", t("01", 0)) == 0

    cp = ckpt.read_checkpoint(spark, lineage)
    latest = {
        r["doc_id"]: r
        for r in cp.groupBy("doc_id")
        .agg(F.max_by("status", "ts").alias("status"), F.max("retry_count").alias("rc"))
        .collect()
    }
    assert latest["doc-good"]["status"] == "done" and latest["doc-good"]["rc"] == 0
    assert latest["doc-trans"]["status"] == "done" and latest["doc-trans"]["rc"] == 1
    assert latest["doc-perm"]["status"] == "failed"
    assert latest["doc-perm"]["rc"] == 1 + pipeline.MAX_RETRIES


def test_partial_resume(spark, corpus_dir, expected):
    """Pre-seed half the docs as done: only the other half is processed.
    The seed rows use the PRE-RETRY 8-column schema — read_checkpoint
    must surface retry_count as NULL->0 for them (migration path)."""
    with tempfile.TemporaryDirectory(prefix="pmocr_ckpt_") as lineage_dir:
        docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
        half = docs.select("doc_id").orderBy("doc_id").limit(len(expected) // 2)
        pre = half.select(
            F.lit(0).alias("partition_id"),
            "doc_id",
            F.lit("done").alias("status"),
            F.lit(1).alias("span_count"),
            F.lit(0).alias("error_count"),
            F.lit(None).cast("string").alias("error"),
            F.lit("seed").alias("run_id"),
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
        )
        pre.write.mode("append").parquet(lineage_dir)
        n = _run(spark, corpus_dir, lineage_dir, "run-after-seed", "2024-01-01 01:00:00")
        assert n == len(expected) - len(expected) // 2


def test_read_checkpoint_missing_path(spark, tmp_path):
    """First-run probe must work through spark.read (hdfs/s3-safe), not
    os.path: missing dir -> None, present dir -> DataFrame."""
    assert ckpt.read_checkpoint(spark, str(tmp_path / "nope")) is None


def test_partition_metrics(spark, corpus_dir):
    """Per-partition lineage metrics exist and account for all docs
    (north_rule: per-partition span counts prove skew handling)."""
    with tempfile.TemporaryDirectory(prefix="pmocr_ckpt_") as lineage_dir:
        _run(spark, corpus_dir, lineage_dir, "run-m")
        cp = ckpt.read_checkpoint(spark, lineage_dir)
        m = ckpt.partition_metrics(cp).collect()
        assert sum(r["docs"] for r in m) == cp.count()
        assert all(r["spans"] > 0 for r in m)


def test_retry_boundary_grid(spark):
    """Pin the EXACT P2 boundaries (pmocr.sh:816-817, 1154-1193) on the
    batch path, one doc per cell of the full grid:

      backoff:    job_ts == last_ts + 299s  -> postponed
                  job_ts == last_ts + 300s  -> readmitted (>= is inclusive)
      quarantine: retry_count == MAX_RETRIES     -> readmitted once more
                  retry_count == MAX_RETRIES + 1 -> quarantined forever
      status:     done/skipped are terminal regardless of rc/backoff

    The streaming epoch-clock twin of the backoff boundary lives in
    test_streaming_retry_on_epoch_clock (epoch 2 at exactly +300s)."""
    last_ts = "2024-01-01 00:00:00"
    job_base = datetime.fromisoformat(last_ts)
    mr = pipeline.MAX_RETRIES
    cells = []  # (doc_id, status, rc, offset_s, expect_admitted)
    for status in ("failed", "done", "skipped"):
        for rc in (mr, mr + 1):
            for off in (299, 300, 301):
                admitted = status == "failed" and rc <= mr and off >= 300
                cells.append((f"{status}-rc{rc}-off{off}", status, rc, off, admitted))

    lineage = spark.createDataFrame(
        [(d, s, rc, last_ts) for d, s, rc, _off, _a in cells],
        "doc_id string, status string, retry_count int, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    docs = spark.createDataFrame([(d,) for d, *_ in cells], "doc_id string")

    # one resume_filter call per distinct offset (job_ts is per-run)
    for off in (299, 300, 301):
        job_ts = (job_base + timedelta(seconds=off)).strftime("%Y-%m-%d %H:%M:%S")
        got = {
            r["doc_id"]
            for r in pipeline.resume_filter(docs, lineage, job_ts=job_ts).collect()
        }
        for d, _s, _rc, cell_off, admitted in cells:
            if cell_off != off:
                continue
            assert (d in got) == admitted, (d, off)


def test_resume_latest_status_ts_tie_deterministic(spark):
    """Two lineage rows for one doc at the SAME ts (a same-job-ts re-run
    the CLI only warns about): the latest-status lookup must not pick an
    arbitrary row — terminal success wins the tie, so the doc is
    excluded from the next run no matter the rows' physical order."""
    for order in (("failed", "done"), ("done", "failed")):
        lineage = spark.createDataFrame(
            [("doc-t", s, 1, "2024-01-01 00:00:00") for s in order],
            "doc_id string, status string, retry_count int, ts string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        docs = spark.createDataFrame([("doc-t",)], "doc_id string")
        got = pipeline.resume_filter(
            docs, lineage, job_ts="2024-01-02 00:00:00"
        ).collect()
        assert got == [], order  # done wins the tie -> excluded


def _synthetic_history(spark):
    """Multi-run lineage: doc-a done after a failure, doc-b still
    failing (rc grows), doc-c done first try, doc-d failed+quarantined."""
    rows = [
        # (doc, status, rc, ts, run)
        ("doc-a", "failed", 1, "2024-01-01 00:00:00", "r1"),
        ("doc-a", "done",   1, "2024-01-01 01:00:00", "r2"),
        ("doc-b", "failed", 1, "2024-01-01 00:00:00", "r1"),
        ("doc-b", "failed", 2, "2024-01-01 01:00:00", "r2"),
        ("doc-c", "done",   0, "2024-01-01 00:00:00", "r1"),
        ("doc-d", "failed", 4, "2024-01-01 01:00:00", "r2#e3"),
    ]
    return spark.createDataFrame(
        [
            (7, d, s, 2, 1 if s == "failed" else 0, None, rc, run, ts)
            for d, s, rc, ts, run in rows
        ],
        "partition_id int, doc_id string, status string, span_count int, "
        "error_count int, error string, retry_count int, run_id string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_compact_rows_semantics(spark):
    """Compaction keeps each doc's WINNING row verbatim (status, ts,
    run_id — incl. the streaming '#eN' tag) with retry_count lifted to
    the global max, and resume over the compacted table admits exactly
    the docs the full history admits at every probe ts."""
    full = _synthetic_history(spark)
    comp = ckpt.compact_rows(full)
    got = {r["doc_id"]: r.asDict() for r in comp.collect()}
    assert len(got) == 4
    assert got["doc-a"]["status"] == "done" and got["doc-a"]["run_id"] == "r2"
    assert got["doc-b"]["status"] == "failed" and got["doc-b"]["retry_count"] == 2
    assert got["doc-d"]["run_id"] == "r2#e3"  # epoch tag survives (replay filter)
    docs = spark.createDataFrame([(d,) for d in got], "doc_id string")
    for probe in ("2024-01-01 01:02:00", "2024-01-01 01:05:00", "2024-01-02 00:00:00"):
        a = {r["doc_id"] for r in pipeline.resume_filter(docs, full, job_ts=probe).collect()}
        b = {r["doc_id"] for r in pipeline.resume_filter(docs, comp, job_ts=probe).collect()}
        assert a == b, probe
    # quarantined doc-d (rc=4 > MAX_RETRIES) never readmitted either way
    late = {r["doc_id"] for r in pipeline.resume_filter(docs, comp, job_ts="2024-02-01 00:00:00").collect()}
    assert late == {"doc-b"}


def test_compact_checkpoint_on_disk(spark, tmp_path):
    """On-disk swap: the table shrinks to one row per doc, tmp/bak are
    cleaned up, and a follow-up run resumes identically."""
    lineage = str(tmp_path / "lineage")
    _synthetic_history(spark).write.mode("append").parquet(lineage)
    # streaming-style epoch subdir must be folded in too
    _synthetic_history(spark).limit(1).write.parquet(f"{lineage}/epoch-9")
    n = ckpt.compact_checkpoint(spark, lineage)
    assert n == 4
    back = ckpt.read_checkpoint(spark, lineage)
    assert back.count() == 4
    assert back.groupBy("doc_id").count().filter("count > 1").count() == 0
    import os

    assert not os.path.exists(lineage + ".compact.tmp")
    assert not os.path.exists(lineage + ".compact.bak")
    # missing table -> 0, no-op
    assert ckpt.compact_checkpoint(spark, str(tmp_path / "absent")) == 0


@pytest.mark.parametrize("seed", [11, 22, 33])
def test_compact_resume_equivalence_random(spark, seed):
    """Property (seeded-random): for ANY lineage history, resume over
    compact_rows(history) admits exactly the docs resume over the full
    history admits, at every probe timestamp — compaction can never
    change what runs next."""
    import random

    rng = random.Random(seed)
    statuses = ["done", "failed", "skipped"]
    rows = []
    docs = [f"d{i}" for i in range(30)]
    for d in docs:
        for j in range(rng.randint(1, 5)):
            rows.append(
                (
                    rng.randint(0, 3),
                    d,
                    rng.choice(statuses),
                    1,
                    0,
                    None,
                    rng.randint(0, pipeline.MAX_RETRIES + 2),
                    rng.choice(["r1", "r2", "s#e0", "s#e3"]),
                    f"2024-01-01 {rng.randint(0, 5):02d}:{rng.choice([0, 0, 30]):02d}:00",
                )
            )
    full = spark.createDataFrame(
        rows,
        "partition_id int, doc_id string, status string, span_count int, "
        "error_count int, error string, retry_count int, run_id string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    comp = ckpt.compact_rows(full).persist()
    d = spark.createDataFrame([(x,) for x in docs], "doc_id string")
    for probe in ("2024-01-01 03:04:59", "2024-01-01 03:05:00", "2024-01-02 00:00:00", None):
        a = {r["doc_id"] for r in pipeline.resume_filter(d, full, job_ts=probe).collect()}
        b = {r["doc_id"] for r in pipeline.resume_filter(d, comp, job_ts=probe).collect()}
        assert a == b, (seed, probe, a ^ b)
    comp.unpersist()
