"""pipeline.run_job: the one job body of the batch CLI and every service
epoch — same outputs and lineage on both paths, a metrics report equal
to the whole lineage's, and no cache left behind by a job that fails."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from pmocr_spark import checkpoint as ckpt
from pmocr_spark import cli, streaming

OUT_COLS = ["doc_id", "status", "txt", "csv", "pdf", "spans"]
LINEAGE_COLS = ["doc_id", "status", "span_count", "error_count", "error", "retry_count"]


def _batch(corpus_dir, tmp_path, *extra):
    cli.main(
        [
            "--batch",
            "--input", f"{corpus_dir}/documents.parquet",
            "--blobs", f"{corpus_dir}/media_blobs.parquet",
            "--output", str(tmp_path / "out"),
            "--lineage", str(tmp_path / "lineage"),
            *extra,
        ]
    )


def _sorted(df, cols):
    return sorted(df.select(*cols).collect(), key=lambda r: r["doc_id"])


def test_batch_and_service_write_identical_outputs_and_lineage(spark, corpus_dir, tmp_path):
    """One --batch job and one availableNow service epoch over the same
    corpus slice write the same results and the same lineage."""
    docs = pq.read_table(f"{corpus_dir}/documents.parquet").slice(40, 40)
    os.makedirs(tmp_path / "land")
    pq.write_table(docs, tmp_path / "land" / "drop.parquet")
    batch_dir = tmp_path / "batch"
    os.makedirs(batch_dir)
    pq.write_table(docs, batch_dir / "documents.parquet")
    blobs = f"{corpus_dir}/media_blobs.parquet"

    cli.main(
        [
            "--batch", "--input", str(batch_dir / "documents.parquet"), "--blobs", blobs,
            "--output", str(batch_dir / "out"), "--lineage", str(batch_dir / "lineage"),
            "--targets", "txt,csv,pdf", "--job-ts", "2024-01-01T00:00:00Z",
        ]
    )
    svc = tmp_path / "svc"
    q = streaming.monitor(
        spark, str(tmp_path / "land"), spark.read.parquet(blobs), str(svc / "out"),
        str(svc / "ck"), str(svc / "lineage"), job_ts="2024-01-01T00:00:00Z",
        trigger={"availableNow": True}, targets=["txt", "csv", "pdf"],
    )
    q.awaitTermination(180)

    batch_out = _sorted(spark.read.parquet(str(batch_dir / "out")), OUT_COLS)
    svc_out = _sorted(spark.read.parquet(str(svc / "out" / "epoch-0")), OUT_COLS)
    assert len(batch_out) == docs.num_rows
    assert any(r["status"] == "done" for r in batch_out)
    assert batch_out == svc_out
    batch_lin = _sorted(ckpt.read_checkpoint(spark, str(batch_dir / "lineage")), LINEAGE_COLS)
    svc_lin = _sorted(ckpt.read_checkpoint(spark, str(svc / "lineage")), LINEAGE_COLS)
    assert len(batch_lin) == docs.num_rows
    assert batch_lin == svc_lin


def test_metrics_report_equals_whole_lineage_after_two_jobs(spark, corpus_dir, tmp_path):
    """--metrics over two batch jobs on one lineage: the report is
    partition_metrics of the lineage table as it stands after the second
    job, row for row (prior lineage ∪ this job's rows, not a re-read)."""
    metrics = str(tmp_path / "metrics")
    _batch(corpus_dir, tmp_path, "--metrics", metrics, "--run-id", "r1")
    # past the retry backoff: the failed docs are retried in job two
    _batch(corpus_dir, tmp_path, "--metrics", metrics, "--run-id", "r2",
           "--job-ts", "2024-01-01T00:10:00Z")
    report = sorted(spark.read.parquet(metrics).collect())
    expected = sorted(
        ckpt.partition_metrics(ckpt.read_checkpoint(spark, str(tmp_path / "lineage"))).collect()
    )
    assert {r["run_id"] for r in report} == {"r1", "r2"}
    assert report == expected


def test_failed_batch_job_leaves_no_cache(spark, corpus_dir, tmp_path):
    """A job that raises after its persists (here: an unknown
    --partition-by column, found once the results are projected)
    unpersists the results and the prior lineage on the way out."""
    _batch(corpus_dir, tmp_path)
    spark.catalog.clearCache()
    with pytest.raises(SystemExit):
        _batch(corpus_dir, tmp_path, "--job-ts", "2024-01-01T00:10:00Z",
               "--partition-by", "no_such_col")
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
