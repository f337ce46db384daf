"""Batch OCR-extraction plan (the engine core).

pmOCR's batch mode (`--batch`, /root/reference/pmocr.sh:2546-2593 ->
OCR_Dispatch:2111 -> ExecTasks:795 -> OCR():1854) re-expressed as one
declarative DataFrame plan:

  read documents
    -> anti-join checkpoint (F2 already-processed exclusion, pmocr.sh:2126-2144)
    -> explode(spans) once (span granularity dissolves media-heavy-doc skew)
    -> two routes from that one span frame:
       decoded: media/html/audio/video spans -> inner join media_blobs
                (one join, span side broadcast: blob bytes never move)
                -> fused pandas-UDF OCR (M1-M3)
       plain:   one JVM projection — text spans normalized (F5
                searchable-text bypass, pmocr.sh:2162-2165), disallowed
                kinds skipped (F1, default.conf:14), decodable spans with
                no blob row stamped as missing-blob errors
    -> union -> groupBy(doc_id) ordered reassembly by offset
    -> per-target projections txt / csv (X1) / pdf  (Q1 fan-out, one OCR pass)
    -> results + checkpoint/lineage rows (S4-S6)

run_job wraps that plan in the job both modes run: the batch CLI once,
the service once per epoch.

Catalyst gives predicate pushdown / column pruning / AQE for free; the
only hand-enforced plan shapes are (a) cheap filters upstream of the
pandas UDF, (b) spread() before the decode UDF, (c) error-as-data
structs (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import functions as fx
from .codecs import AUDIO_KINDS, MEDIA_KINDS, VIDEO_KINDS
from .operators.html_extract import HTML_KINDS
from .partitioning import spread
from .udfs import MISSING_BLOB_ERROR, ocr_extract

#: span kinds the decode UDF handles; html, audio and video blobs are
#: magic-dispatched to their extractors inside the same fused UDF
DECODABLE_KINDS = MEDIA_KINDS + HTML_KINDS + AUDIO_KINDS + VIDEO_KINDS


def normalize_text_col(col):
    """Text-span passthrough normalization, JVM-side (pmocr.sh:2162-2165).

    Must match codecs.normalize_text exactly (property-tested in
    tests/test_codecs.py): CRLF/CR -> LF, strip trailing [ \\t] per line,
    strip trailing newlines.
    """
    t = F.regexp_replace(col, "\r\n|\r", "\n")
    t = F.regexp_replace(t, "[ \t]+\n", "\n")
    t = F.regexp_replace(t, "[ \t]+$", "")
    return F.regexp_replace(t, "\n+$", "")


def salted_repartition(df: DataFrame, num_partitions: int, *key_cols: str) -> DataFrame:
    """Uniform repartition on a salted hash of the key columns.

    At 10^12-doc scale a media-heavy document (archetype A5) would pin
    one task if partitioning were by doc_id; hashing the span-level key
    (doc_id, offset) spreads its spans across all partitions
    (BASELINE.json north_rule; SURVEY.md §7.4.4). extract_spans does not
    call it (its span join broadcasts the spans); bench.py's span-regime
    run and tests/test_skew.py do.
    """
    # repartition on the raw 64-bit hash: pre-modding to [0, n) and
    # letting Spark hash AGAIN would map n values onto n partitions with
    # birthday collisions (measured: 6 of 16 partitions empty, hottest 2x)
    salt = F.xxhash64(*[F.col(c) for c in key_cols])
    return df.repartition(num_partitions, salt)


#: P2 retry policy defaults — pmOCR postpones a transiently-failed file up
#: to 3 times, at least 300 s apart, before quarantining it for good
#: (pmocr.sh:1154-1193, 816-817).
MAX_RETRIES = 3
RETRY_BACKOFF_S = 300


def resume_filter(
    documents: DataFrame,
    checkpoint: DataFrame | None,
    job_ts: str | None = None,
    max_retries: int = MAX_RETRIES,
    retry_backoff_s: int = RETRY_BACKOFF_S,
) -> DataFrame:
    """F2 + P2: exclude docs already done, quarantined, or postponed.

    pmOCR analog: `find ! -name "*_OCR.*" ! -name "*_OCR_ERR.*"`
    (pmocr.sh:2126-2144, 2183) plus retry-with-postponement — a failed
    file is re-admitted after >= retry_backoff_s, at most max_retries
    times, then quarantined forever (pmocr.sh:1154-1193, 816-817).

    retry_count in lineage counts FAILED ATTEMPTS so far; a doc is
    EXCLUDED when its latest lineage row says:
      - status done/skipped (terminal success), or
      - status failed with retry_count > max_retries — i.e. the initial
        attempt plus max_retries retries all failed (quarantine), or
      - status failed but this run's job_ts is within the backoff window
        (postponed — picked up by a later run, not this one).
    With job_ts=None the backoff check is skipped (pure count policy).
    The latest-state lookup is one groupBy(doc_id) of the lineage table —
    the same shuffle the old distinct-free anti-join avoided, but now
    load-bearing (latest status + retry count), keyed on the same column
    the join needs.
    """
    if checkpoint is None:
        return documents
    # ts ties (same doc written twice under one job_ts — a re-run the CLI
    # warns about) would make a bare max_by("status","ts") pick an
    # ARBITRARY row; break ties deterministically: terminal success
    # ('done'/'skipped') beats 'failed', then lexical status, so a doc
    # that ever succeeded at that instant never reprocesses. The same
    # ordering drives lineage compaction (checkpoint.compact_rows), so
    # resume over a compacted table is bit-identical.
    from .checkpoint import latest_row_order

    latest = checkpoint.groupBy("doc_id").agg(
        F.max_by("status", latest_row_order()).alias("status"),
        F.coalesce(F.max("retry_count"), F.lit(0)).alias("retry_count"),
        F.max("ts").alias("last_ts"),
    )
    blocked = (F.col("status") != "failed") | (F.col("retry_count") > max_retries)
    if job_ts is not None:
        now = F.lit(job_ts).cast("timestamp")
        blocked = blocked | (
            now < F.col("last_ts") + F.make_dt_interval(secs=F.lit(retry_backoff_s))
        )
    seen = latest.filter(blocked).select("doc_id")
    return documents.join(seen, "doc_id", "left_anti")


def extract_spans(
    documents: DataFrame,
    media_blobs: DataFrame,
    checkpoint: DataFrame | None = None,
    job_ts: str | None = None,
    ocr_udf=None,
) -> DataFrame:
    """Core extraction: per-span OCR/passthrough, NOT yet reassembled.

    Returns (doc_id, offset, kind, text, media_ref, error) from one
    pending span frame by two routes:
      - decoded: decodable spans joined to their blob row, then the decode
        UDF (ocr_udf overrides it: udfs.make_ocr_extract, an explicit P3
        time-budget policy); kind 'text', or 'error' with the error;
      - plain: one JVM projection, no Python — text spans normalized,
        disallowed kinds as kind='skipped' (F1; kept, minus content, so
        the doc still checkpoints), decodable spans with no blob row as
        kind='error' with MISSING_BLOB_ERROR.
    """
    pending = resume_filter(documents, checkpoint, job_ts=job_ts)

    # explode_outer, not explode: a doc with spans=[] must still flow
    # through (as one 'skipped' pseudo-span at offset 0) — plain explode
    # drops it from BOTH output and lineage, so resume would reprocess it
    # forever. normalize kind ONCE (lower-case, NULL -> '') so the F1
    # allow-list and the routing can never disagree on case, and a null
    # kind lands in the skipped route instead of vanishing.
    spans = pending.select("doc_id", F.explode_outer("spans").alias("s")).select(
        "doc_id",
        F.lower(F.coalesce(F.col("s.kind"), F.lit(""))).alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.coalesce(F.col("s.offset"), F.lit(0)).alias("offset"),
    )
    is_text = F.col("kind") == "text"
    decodable = F.col("kind").isin(*DECODABLE_KINDS)
    blob_cols = media_blobs.select("media_ref", "content")

    # never move the blob bytes: the span side is broadcast by hint and
    # the join runs in place over the blob scan. Unhinted, Catalyst
    # broadcasts whichever side it estimates smaller (the blob table, for
    # a text-heavy corpus), or plans a sort-merge join that shuffles every
    # blob byte once the span estimate passes autoBroadcastJoinThreshold.
    # That estimate scales from the whole documents file, so a resume
    # with few pending spans crosses it too (a blob shuffle measured 2.1GB
    # written and 9x the run time at 300k docs). A span set too big to
    # broadcast needs the media_ref-bucketed layout (operators/bucketed.py).
    # spread() is guide §2.5's input-skew repair: a single-row-group blob
    # file scans as ONE task and the decode UDF inherits that
    # partitioning; it repartitions only a frame narrower than the core
    # count.
    media = spans.filter(decodable).select("doc_id", "offset", "media_ref")
    matched = spread(blob_cols.join(F.broadcast(media), "media_ref"), heavy=True)
    decoded = matched.withColumn("ocr", (ocr_udf or ocr_extract)(F.col("content"))).select(
        "doc_id",
        "offset",
        F.when(F.col("ocr.error").isNotNull(), F.lit("error")).otherwise(F.lit("text")).alias("kind"),
        F.col("ocr.text").alias("text"),
        "media_ref",
        F.col("ocr.error").alias("error"),
    )

    # a null key never matches, so text and skipped spans always pass the
    # anti-join; it reads only the pruned ref column, never content
    refs = blob_cols.select(F.col("media_ref").alias("_blob_ref"))
    plain = spans.join(
        refs, F.when(decodable, F.col("media_ref")) == F.col("_blob_ref"), "left_anti"
    ).select(
        "doc_id",
        "offset",
        F.when(is_text, F.lit("text"))
        .when(decodable, F.lit("error"))
        .otherwise(F.lit("skipped"))
        .alias("kind"),
        F.when(is_text, normalize_text_col(F.col("text"))).alias("text"),
        F.when(~is_text, F.col("media_ref")).alias("media_ref"),
        F.when(decodable, F.lit(MISSING_BLOB_ERROR)).alias("error"),
    )
    return decoded.unionByName(plain)


def reassemble(span_results: DataFrame) -> DataFrame:
    """Ordered per-document reassembly + multi-target projections.

    Ordering comes from data (`offset`), never partition order:
    sort_array(collect_list(struct(offset, ...))) is deterministic under
    any shuffle/partitioning (SURVEY.md §7.4.1) — collect_list order is
    arbitrary, the sort fixes it. `order` is then densified 0..n-1.
    """
    packed = F.struct("offset", "kind", "text", "media_ref", "error")
    grouped = span_results.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(packed)).alias("sorted_spans")
    )
    ok = lambda x: x["error"].isNull()  # noqa: E731
    return grouped.select(
        "doc_id",
        F.transform(
            "sorted_spans",
            lambda x, i: F.struct(
                i.cast("int").alias("order"),
                x["kind"].alias("kind"),
                x["text"].alias("text"),
                x["media_ref"].alias("media_ref"),
            ),
        ).alias("spans"),
        F.size("sorted_spans").alias("span_count"),
        F.size(F.filter("sorted_spans", lambda x: x["error"].isNotNull())).alias("error_count"),
        F.size(F.filter("sorted_spans", lambda x: x["kind"] == "skipped")).alias("_skipped_count"),
        # F.get (not element_at): NULL on empty array even under ANSI mode
        F.get(F.filter("sorted_spans", lambda x: x["error"].isNotNull()), 0)["error"].alias("error"),
        F.array_join(
            F.transform(F.filter("sorted_spans", ok), lambda x: x["text"]), "\n"
        ).alias("txt"),
    ).select(
        "*",
        fx.csv_hack(F.col("txt")).alias("csv"),
        # status: failed beats skipped beats done; a doc whose spans are
        # ALL disallowed-kind is 'skipped' — terminal in lineage (pmOCR
        # simply never picks such a file up; marking it keeps resume from
        # reprocessing it forever), but distinct from a real conversion
        F.when(F.col("error_count") > 0, F.lit("failed"))
        .when(F.col("_skipped_count") == F.col("span_count"), F.lit("skipped"))
        .otherwise(F.lit("done"))
        .alias("status"),
    ).drop("_skipped_count")


def project_targets(
    results: DataFrame,
    targets: list[str],
    job_ts: str,
    suffix: str = "_OCR",
    addition: str | None = None,
) -> DataFrame:
    """Q1 multi-target projection shared by batch CLI and the streaming
    monitor: output_name column (F7) + per-target columns, one OCR pass.
    The pdf target is a REAL container blob (udfs.encode_pdf_pages);
    decode(pdf) == txt round-trips."""
    from . import udfs

    out = results.withColumn(
        "output_name",
        fx.output_name(
            F.col("doc_id"),
            job_ts.replace(" ", "T"),
            suffix=suffix,
            ext=f".{targets[0]}" if targets else ".txt",
            addition=addition,
        ),
    )
    cols = ["doc_id", "output_name", "spans", "span_count", "error_count", "status"]
    cols += [t for t in ("txt", "csv") if t in targets]
    if "pdf" in targets:
        ok_pages = F.transform(
            F.filter("spans", lambda s: s["text"].isNotNull()), lambda s: s["text"]
        )
        out = out.withColumn("pdf", udfs.encode_pdf_pages(F.col("doc_id"), ok_pages))
        cols.append("pdf")
    return out.select(*cols)


def run_batch(
    spark: SparkSession,
    documents: DataFrame,
    media_blobs: DataFrame,
    checkpoint: DataFrame | None = None,
    job_ts: str | None = None,
    ocr_udf=None,
) -> DataFrame:
    """Full batch pass -> document-level results (spans + txt/csv + status).

    job_ts (the run's fixed timestamp) enables the P2 retry-backoff check
    against the checkpoint's last-attempt timestamps; None skips it.
    """
    return reassemble(
        extract_spans(documents, media_blobs, checkpoint, job_ts=job_ts, ocr_udf=ocr_udf)
    )


def run_job(
    spark: SparkSession,
    documents: DataFrame,
    media_blobs: DataFrame,
    prior: DataFrame | None,
    *,
    run_id: str,
    job_ts: str,
    targets: list[str],
    write_output,
    write_lineage,
    suffix: str,
    addition: str | None,
    metrics_dir: str | None,
    ocr_udf=None,
) -> None:
    """One OCR job: the batch CLI's run and every service epoch (pmOCR's
    OCR_Dispatch, pmocr.sh:2111, which both modes call).

    Commit order: run_batch (results persisted) -> project_targets ->
    write_output(results, out), the caller's sinks -> checkpoint_rows ->
    with metrics_dir, partition_metrics of prior ∪ rows (the whole
    lineage after this job), overwritten -> write_lineage(rows), last:
    the job's commit point (checkpoint.append_checkpoint), a generation
    no read of this job lists, so no recompute sees the job's rows.

    `prior` is the lineage as of the resume read (None on a first run),
    persisted here unless the caller already has, so resume, retry
    counts and metrics share one scan. `ocr_udf` goes to run_batch. The
    results and `prior` are unpersisted on every exit, so a job that
    raises leaves no cache behind."""
    from . import checkpoint as ckpt

    if prior is not None and not prior.is_cached:
        prior = prior.persist()
    results = None
    try:
        results = run_batch(
            spark, documents, media_blobs, checkpoint=prior, job_ts=job_ts, ocr_udf=ocr_udf
        ).persist()
        write_output(
            results, project_targets(results, targets, job_ts, suffix=suffix, addition=addition)
        )
        rows = ckpt.checkpoint_rows(results, run_id=run_id, job_ts=job_ts, prior=prior)
        if metrics_dir is not None:
            full = rows if prior is None else prior.unionByName(rows)
            ckpt.partition_metrics(full).write.mode("overwrite").parquet(metrics_dir)
        write_lineage(rows)
    finally:
        for df in (results, prior):
            if df is not None:
                df.unpersist()
