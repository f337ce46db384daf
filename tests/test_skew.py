"""Skew handling evidence (BASELINE north_rule): media-heavy documents
(archetype A5, 120 spans vs median ~3) must not pin a task — span-level
granularity + uniform partitioning spread their blobs across executors."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pmocr_spark import corpus, pipeline


@pytest.fixture(scope="module")
def skewed(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("skewed")
    # every 10th doc is heavy: 200 spans vs 1-6 for the rest
    corpus.write(str(d), n_docs=100, seed=3, heavy_every=10, heavy_spans=200)
    docs = spark.read.parquet(f"{d}/documents.parquet")
    blobs = spark.read.parquet(f"{d}/media_blobs.parquet")
    return docs, blobs


def test_span_level_partitioning_breaks_doc_skew(spark, skewed):
    """After the salted span repartition, the heaviest partition holds a
    near-uniform share of spans even though single docs hold ~40x the
    median doc's spans."""
    docs, blobs = skewed
    spans = docs.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", F.col("s.offset").alias("offset")
    )
    n_parts = 16
    salted = pipeline.salted_repartition(spans, n_parts, "doc_id", "offset")
    loads = (
        salted.select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .count()
        .collect()
    )
    counts = [r["count"] for r in loads]
    total = sum(counts)
    assert len(counts) == n_parts
    # perfectly uniform would be total/n_parts; allow 50% headroom
    assert max(counts) < (total / n_parts) * 1.5, counts


def test_heavy_docs_split_across_partitions(spark, skewed):
    """A single heavy doc's spans land on many distinct partitions —
    the failure mode pmOCR cannot avoid (one 500-page PDF = one slot,
    SURVEY §4.2 'Skew') is structurally impossible here."""
    docs, blobs = skewed
    spans = docs.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", F.col("s.offset").alias("offset")
    )
    salted = pipeline.salted_repartition(spans, 16, "doc_id", "offset")
    per_doc_parts = (
        salted.select("doc_id", F.spark_partition_id().alias("pid"))
        .groupBy("doc_id")
        .agg(F.countDistinct("pid").alias("nparts"), F.count("*").alias("nspans"))
        .filter(F.col("nspans") >= 100)
        .collect()
    )
    assert per_doc_parts, "corpus must contain heavy docs"
    for r in per_doc_parts:
        assert r["nparts"] >= 10, f"heavy doc {r['doc_id']} only on {r['nparts']} partitions"


def test_end_to_end_correct_under_skew(spark, skewed, tmp_path_factory):
    """Heavy-doc corpus still satisfies exact span equality."""
    docs, blobs = skewed
    import pyarrow.parquet as pq

    out = pipeline.run_batch(spark, docs, blobs)
    rows = {r["doc_id"]: r.asDict(recursive=True) for r in out.collect()}
    # reconstruct expected from the same written corpus
    d = docs.inputFiles()[0].replace("file:", "").rsplit("/", 1)[0]
    exp = corpus.reference_convert(
        pq.read_table(f"{d}/documents.parquet"), pq.read_table(f"{d}/media_blobs.parquet")
    )
    assert set(rows) == set(exp)
    for doc_id, e in exp.items():
        got = [(s["order"], s["kind"], s["text"], s["media_ref"]) for s in rows[doc_id]["spans"]]
        assert got == e["spans"], doc_id


def test_input_size_reads_percent_encoded_paths(spark, tmp_path):
    """inputFiles() returns percent-encoded URIs: a table under a dir
    whose name holds a space must still be sized from its real files."""
    from pmocr_spark.partitioning import input_size

    d = tmp_path / "a b"
    spark.range(1000).repartition(3).write.parquet(str(d))
    files = [f for f in d.iterdir() if f.name.endswith(".parquet")]
    size = input_size(spark.read.parquet(str(d)))
    assert size is not None
    assert (size.files, size.bytes) == (len(files), sum(f.stat().st_size for f in files))
