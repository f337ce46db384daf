"""Bucketed (co-located) blob join — the zero-shuffle path at 10^12 docs.

The engine's blob join (pipeline.extract_spans) broadcasts the span
side, so blob bytes never move while a batch's spans fit a broadcast.
At full 10^12-doc scale they do not, and neither side broadcasts. The
answer is storage-level co-location: write BOTH the exploded
media-span table and the blob table bucketed by media_ref — every
subsequent join on media_ref is then Exchange-free (each bucket pair
joins in place; bucketed_join, pinned in tests/test_plan_shape.py),
which is how the 100TB batch avoids shuffling the blob corpus every
run.

pmOCR has no analog (one process per file never joins anything); this
is the Spark-native realization of "data lives pre-partitioned by its
access key".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    spark: SparkSession,
    documents: DataFrame,
    media_blobs: DataFrame,
    n_buckets: int = 16,
    prefix: str = "pmocr",
) -> tuple[str, str]:
    """Materialize bucketed media_spans + blobs tables; returns names."""
    spans_tbl = f"{prefix}_media_spans_b"
    blobs_tbl = f"{prefix}_blobs_b"
    media_spans = (
        documents.select("doc_id", F.explode("spans").alias("s"))
        .select(
            "doc_id",
            F.col("s.kind").alias("kind"),
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.offset").alias("offset"),
        )
        .filter(F.col("kind") != "text")
    )
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for name in (spans_tbl, blobs_tbl):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        # the in-memory catalog forgets tables across sessions but their
        # warehouse directories persist — clear them or CREATE fails with
        # LOCATION_ALREADY_EXISTS
        shutil.rmtree(f"{warehouse}/{name}", ignore_errors=True)
    (
        media_spans.write.bucketBy(n_buckets, "media_ref")
        .sortBy("media_ref")
        .format("parquet")
        .mode("overwrite")
        .saveAsTable(spans_tbl)
    )
    (
        media_blobs.write.bucketBy(n_buckets, "media_ref")
        .sortBy("media_ref")
        .format("parquet")
        .mode("overwrite")
        .saveAsTable(blobs_tbl)
    )
    return spans_tbl, blobs_tbl


def bucketed_join(spark: SparkSession, spans_tbl: str, blobs_tbl: str) -> DataFrame:
    """Join the bucketed tables on media_ref: no Exchange on either side
    (verify with plans.shape.count_exchanges == 0)."""
    spans = spark.table(spans_tbl)
    blobs = spark.table(blobs_tbl).select("media_ref", "content")
    return spans.join(blobs, "media_ref", "left")
