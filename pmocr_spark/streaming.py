"""Streaming "monitor" mode (pmOCR --service, SURVEY.md §2.8 W1-W7).

pmOCR watches directories with inotify or an emulated poller
(/root/reference/pmocr.sh:2268-2275, 1579-1670) and debounces dispatch
runs via USR1 signals (pmocr.sh:2195-2224). All of that machinery is
subsumed by Structured Streaming micro-batches:

  W1 inotify source        -> readStream file source (seen-files map)
  W2 30s emulation poller  -> Trigger.ProcessingTime("30 seconds")
  W3 event debounce        -> micro-batch coalescing (free)
  W4 forced periodic run   -> Trigger.AvailableNow reconciliation pass
  W5 liveness/recovery     -> checkpointLocation + query restart
  W6 in-use file deferral  -> file source only lists complete files
  W7 per-dir monitors      -> one independent query per landing dir,
                              shared session (cli.launch_monitors,
                              repeatable --monitor DIR=TARGETS)

Each micro-batch runs pipeline.run_job inside foreachBatch, the same job
body the batch CLI runs — identical semantics, one code path, per pmOCR
where service mode calls the same OCR_Dispatch (pmocr.sh:2195-2224). An
epoch adds only its clock, its replay view, the dedup annotations and
its epoch-N commits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import checkpoint as ckpt
from . import pipeline

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("kind", T.StringType()),
                        T.StructField("text", T.StringType()),
                        T.StructField("media_ref", T.StringType()),
                        T.StructField("offset", T.IntegerType()),
                    ]
                )
            ),
        ),
    ]
)


def _has_committed_offsets(spark: SparkSession, checkpoint_dir: str) -> bool:
    """True when the streaming offsets checkpoint has committed batches
    (i.e. a restart would CONTINUE epoch ids rather than restart at 0).
    Probes through the Hadoop FS API so hdfs://, s3a://, ... work."""
    fs, hp = ckpt._fs(spark, f"{checkpoint_dir}/offsets")
    return bool(fs.exists(hp)) and len(fs.listStatus(hp)) > 0


def _index_has_epoch_dirs(spark, path: str, kind: str) -> bool:
    """Has the index at `path` committed epoch-N generations (stream-
    accumulated history, hidden from epoch N and earlier on probe)?
    Only gen-N generations — CLI-built, merged or compacted — return
    False: every epoch sees them, so a fresh-checkpoint restart cannot
    hide or overwrite them."""
    opened = ckpt.open_artifact(spark, path, kind)
    return opened is not None and any(
        _generation(p).startswith("epoch-") for ps in opened[1].values() for p in ps
    )


def _generation(committed_path: str) -> str:
    return committed_path.rsplit("/", 2)[1]


def _open_prior(spark, path: str, kind: str, epoch_id: int):
    """(params or None, rows or None) of the index at `path` as epoch
    `epoch_id` must see it: every committed generation but epoch-E and
    later ones (checkpoint.epoch_visible)."""
    opened = ckpt.open_artifact(spark, path, kind)
    if opened is None:
        return None, None
    params, paths = opened
    prior = [
        p for ps in paths.values() for p in ps
        if ckpt.epoch_visible(_generation(p), epoch_id, hide_later=True)
    ]
    return params, spark.read.parquet(*prior) if prior else None


def _epoch_dedup(spark, results: DataFrame, index_dir: str, epoch_id: int) -> DataFrame:
    """Cross-epoch near-dup pass for one streaming micro-batch (see the
    monitor docstring): probe this epoch's successfully extracted txt
    against the prior-epoch band index, commit this epoch's keeper bands
    as generation epoch-<E>, and return the PERSISTED (doc_id, dup_of)
    verdicts of the batch's near-dup docs — the caller unpersists them
    once the epoch output is written.

    Replay idempotence: the probe reads every generation but epoch-E
    and later ones (_open_prior) — CLI-built, merged and compacted gen-N
    generations included — and a crash-replay of E rewrites its own
    generation, so dup verdicts are byte-identical on replay and no
    band row is duplicated. The index accumulates one generation per
    epoch; the CLI's --compact-dedup-index collapses and caps it."""
    from .operators import dedup_index as di

    txt_docs = results.filter(F.col("status") == "done").select(
        "doc_id", F.col("txt").alias("text")
    )
    params, prior = _open_prior(spark, index_dir, "dedup_index", epoch_id)
    params = params or {
        "n_hashes": di.N_MINHASH, "band_size": di.BAND_SIZE, "max_bucket": di.MAX_BAND_BUCKET,
    }
    band_kwargs = {k: params[k] for k in ("n_hashes", "band_size")}
    # UNCAPPED band rows on disk (the cap-as-policy discipline the CLI
    # modes follow): a per-epoch cap drops a boilerplate flood's bands
    # irreversibly, so later epochs could never match those docs and a
    # --compact-dedup-index would diverge from a one-shot build over the
    # union. The cap is applied TRANSIENTLY to the probe view below.
    new_bands = di.build_index(txt_docs, max_bucket=None, **band_kwargs).persist()
    try:
        if prior is None:
            dup_map = spark.createDataFrame([], "doc_id string, dup_of string")
        else:
            hits = di.probe_index(
                txt_docs,
                # transient capped VIEW (same as the CLI probe mode): bounds
                # the join fan-out of buckets that grew hot ACROSS epochs
                # without waiting for a manual compaction
                di.cap_index(prior, params["max_bucket"]),
                new_bands=new_bands,
                broadcast_probe=True,  # one micro-batch: the small regime
                index_params=params,
                **band_kwargs,
            )
            # deterministic keeper per dup doc: the smallest matched id
            dup_map = hits.groupBy("doc_id").agg(F.min("dup_of").alias("dup_of"))
        # persisted: the keeper commit and the epoch output both read
        # the verdicts, and a recompute would re-run the index probe
        dup_map = dup_map.persist()
        keepers = new_bands.join(dup_map.select("doc_id"), "doc_id", "left_anti")
        try:
            ckpt.commit_artifact(
                spark, index_dir, "dedup_index", params,
                {"bands": keepers},
                mode="append", generation=f"epoch-{epoch_id}",
            )
        except BaseException:
            dup_map.unpersist()
            raise
        return dup_map
    finally:
        # a raising probe (corrupt index, the loud path) under a
        # ProcessingTime trigger retries each 30s — without this, one
        # cached frame leaks per attempt
        new_bands.unpersist()


def _epoch_substr_dedup(
    spark, results: DataFrame, index_dir: str, epoch_id: int
) -> DataFrame:
    """Cross-epoch SUBSTRING dedup for one streaming micro-batch: strip
    this epoch's extracted txt of (a) within-batch cross-doc duplicated
    spans and (b) spans whose grams were already seen by ANY earlier
    epoch (the re-crawled-boilerplate regime — nav chrome and license
    blocks that DOM-heuristic extraction misses recur across crawls),
    and commit this epoch's distinct gram hashes as generation
    epoch-<E> of the persisted index.

    Replay-idempotent like _epoch_dedup. The index's gram width k is its
    committed param — probing with a different k finds nothing, so a
    mismatch is refused loudly.

    Non-destructive: returns (doc_id, txt_clean, words_removed) for the
    epoch output to LEFT-join — txt stays the exact extraction (the span
    equality invariant), txt_clean is the curation view."""
    from .operators import substring_dedup as sd

    txt_docs = results.filter(F.col("status") == "done").select(
        "doc_id", F.col("txt").alias("text")
    )
    meta, prior = _open_prior(spark, index_dir, "substr_index", epoch_id)
    if meta is not None and meta.get("k") != sd.DEFAULT_K:
        raise ValueError(
            f"gram index at {index_dir!r} was built with k={meta.get('k')}, "
            f"this stream strips with k={sd.DEFAULT_K} — grams are "
            "incomparable and every probe would silently find nothing"
        )
    ckpt.commit_artifact(
        spark, index_dir, "substr_index", {"k": sd.DEFAULT_K},
        {"grams": sd.corpus_grams(txt_docs, k=sd.DEFAULT_K)},
        mode="append", generation=f"epoch-{epoch_id}",
    )
    return sd.substring_dedup_incremental(txt_docs, prior, k=sd.DEFAULT_K).select(
        "doc_id",
        F.col("new_text").alias("txt_clean"),
        F.col("n_removed").alias("words_removed"),
    )


def monitor(
    spark: SparkSession,
    input_dir: str,
    media_blobs: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    lineage_dir: str,
    run_id: str = "stream",
    job_ts: str = "2024-01-01T00:00:00Z",
    trigger: dict | None = None,
    alerts_dir: str | None = None,
    epoch_ts_step_s: int = 30,
    targets: list[str] | None = None,
    suffix: str = "_OCR",
    filename_addition: str | None = None,
    allow_lineage_takeover: bool = False,
    metrics_dir: str | None = None,
    ocr_udf=None,
    dedup_index_dir: str | None = None,
    substr_index_dir: str | None = None,
    input_format: str = "parquet",
):
    """Start the streaming monitor over a landing directory of parquet
    document files. Returns the StreamingQuery.

    - effectively exactly-once per doc: Spark's file-source seen-map (the
      W2 poller snapshot diff, pmocr.sh:1626) + the lineage anti-join
      (resume semantics identical to batch mode) + IDEMPOTENT epoch
      commits: the results of epoch E overwrite `epoch-E`, its lineage
      rows commit generation `epoch-E`, and its resume read skips that
      generation, so a crash-replay of E rewrites byte-identical output
      instead of appending duplicates. Read the output with
      spark.read.option("recursiveFileLookup", "true").
    - failure quarantine + retry: failed docs land in lineage with
      status='failed'; a RE-DROPPED doc (the file source never re-presents
      old files, so retry requires new input — pmOCR's rescan analog) is
      readmitted once the P2 backoff has elapsed on the DETERMINISTIC
      epoch clock: every epoch E stamps job_ts + E*epoch_ts_step_s (the
      trigger interval), never wall clock, so postponement/quarantine
      semantics match batch mode while staying replay-stable (a replayed
      epoch re-stamps the identical ts). After MAX_RETRIES re-admissions
      the doc is never reprocessed (S6).
    - alert sink (S7, pmOCR SendAlert pmocr.sh:428-480): when a batch has
      at least one failed doc and alerts_dir is set, one alert row
      (run_id, epoch_id, failed_docs, docs, first_error, ts) is written —
      idempotent per epoch, same overwrite scheme.
    - cross-epoch near-dup suppression (round 4): with dedup_index_dir
      set, every epoch's successfully extracted documents are probed
      against the persisted banded-MinHash index (operators/dedup_index)
      built from ALL PRIOR epochs; near-dup docs get a non-null `dup_of`
      column in the epoch output (annotate, not drop — downstream
      filters on dup_of IS NULL), and the batch's keeper bands are added
      to the index as generation `epoch-E`, replay-idempotent as the
      lineage is (_epoch_dedup). Within-epoch dups are deliberately NOT
      flagged here (the one-shot q18 path and the stateful exact dedup
      cover intra-batch); this index catches the re-crawl across
      triggers/days. Maintain the index with the CLI's
      --compact-dedup-index (hot-bucket cap over the accumulated rows).
    - cross-epoch SUBSTRING dedup: with substr_index_dir set, each
      epoch's extracted txt is stripped of duplicated >= k-word spans —
      within the batch AND against every prior epoch's gram index
      (_epoch_substr_dedup) — and the epoch output gains txt_clean /
      words_removed columns (txt itself stays the exact extraction).
    """
    # Epoch-collision guard: run_id is the STREAM IDENTITY. A stream on
    # a FRESH offsets checkpoint restarts epoch ids at 0; if the lineage
    # holds another identity's epoch rows, the epoch-N commits would
    # replace that run's results for every colliding epoch. Only a true
    # replay of the SAME stream (same run_id, wiped offsets) or a
    # checkpoint-continuing restart proceeds, or an explicit
    # allow_lineage_takeover=True.
    if not _has_committed_offsets(spark, checkpoint_dir):
        prior = ckpt.read_checkpoint(spark, lineage_dir)
        same_identity_replay = False
        if prior is not None:
            foreign = prior.filter(
                F.col("run_id").rlike("#e\\d+$")
                & ~F.col("run_id").startswith(f"{run_id}#e")
            )
            # a true replay (wiped offsets, lineage intact, same run_id)
            # leaves this identity's own epoch rows behind — epoch
            # overwrites are byte-identical there, so the index guard
            # below must not fire for it
            same_identity_replay = (
                prior.filter(F.col("run_id").startswith(f"{run_id}#e")).limit(1).count() > 0
            )
            if not allow_lineage_takeover and foreign.limit(1).count() > 0:
                raise ValueError(
                    f"lineage at {lineage_dir!r} contains epoch rows from a "
                    f"different stream identity than run_id={run_id!r}, and the "
                    f"offsets checkpoint {checkpoint_dir!r} is fresh — epoch ids "
                    "would restart at 0 and overwrite that stream's epoch "
                    "output/lineage. Reuse the prior --stream-checkpoint (or the "
                    "prior --run-id for a true replay), point at fresh "
                    "lineage/output dirs, or pass allow_lineage_takeover=True."
                )
        # Same collision for the cross-epoch INDEX dirs: every probe
        # would skip the prior run's epoch-N generations (N >= E) and
        # epoch 0 would overwrite its epoch-0 bands/grams. gen-N
        # generations are safe (every epoch sees them): compact, restart.
        for idx_dir, kind, flag, compact_flag in (
            (dedup_index_dir, "dedup_index", "--dedup-index", "--compact-dedup-index"),
            (substr_index_dir, "substr_index", "--dedup-substrings-index",
             "--compact-substr-index"),
        ):
            if (
                idx_dir
                and not allow_lineage_takeover
                and not same_identity_replay
                and _index_has_epoch_dirs(spark, idx_dir, kind)
            ):
                raise ValueError(
                    f"{flag} dir {idx_dir!r} holds epoch-keyed subdirs from a "
                    f"prior stream, and the offsets checkpoint {checkpoint_dir!r} "
                    "is fresh — restarted epoch ids would hide that history from "
                    "every probe and overwrite its epoch-0 rows. Run "
                    f"{compact_flag} {idx_dir} first (collapses history into one "
                    "generation every epoch sees), reuse the prior "
                    "--stream-checkpoint, or pass allow_lineage_takeover=True."
                )

    reader = spark.readStream.schema(DOCUMENTS_SCHEMA)
    if input_format == "jsonl":
        # web-pipeline interchange drops (sources/jsonl.py): same
        # explicit span schema — streaming schema inference is doubly
        # forbidden (it would re-scan the landing dir every restart)
        stream = reader.json(input_dir)
    elif input_format == "orc":
        # Hive/ORC interchange drops: Spark's native ORC file source
        # takes the same explicit schema (no inference re-scan)
        stream = reader.orc(input_dir)
    else:
        stream = reader.parquet(input_dir)

    from datetime import datetime, timedelta

    base_ts = datetime.fromisoformat(job_ts.replace("T", " ").replace("Z", ""))

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # '#e<N>' epoch tag: the stream-identity guard above reads it (a
        # plain '-<N>' could false-match a batch run_id like 'run-0'
        # sharing the lineage dir)
        epoch_run = f"{run_id}#e{epoch_id}"
        # deterministic epoch clock (see docstring): monotonic across
        # epochs so the retry backoff can actually elapse, identical on
        # replay of the same epoch
        epoch_ts = (base_ts + timedelta(seconds=epoch_id * epoch_ts_step_s)).strftime(
            "%Y-%m-%d %H:%M:%S"
        )
        # replay safety: epoch E's own rows must not anti-join E's docs
        # away, whatever run_id wrote them
        lineage = ckpt.read_checkpoint(spark, lineage_dir, epoch=epoch_id)

        def write_output(results: DataFrame, out: DataFrame) -> None:
            maps = []
            try:
                if dedup_index_dir is not None:
                    maps.append(_epoch_dedup(spark, results, dedup_index_dir, epoch_id))
                if substr_index_dir is not None:
                    maps.append(_epoch_substr_dedup(spark, results, substr_index_dir, epoch_id))
                for m in maps:
                    out = out.join(m, "doc_id", "left")
                out.write.mode("overwrite").parquet(f"{output_dir}/epoch-{epoch_id}")
            finally:
                for m in maps:
                    m.unpersist()
            if alerts_dir is None:
                return
            # the batch's TOTAL drop count (the S7 contract), not the
            # post-resume-filter result count — '1 of 6 dropped files
            # failed' must not read as '100% of a 1-doc batch failed'
            n_docs = batch_df.count()
            failed = results.filter(F.col("status") == "failed")
            if failed.count() > 0:  # no empty epoch-N dirs
                alert = failed.agg(
                    F.count("*").alias("failed_docs"),
                    F.min_by("error", "doc_id").alias("first_error"),
                ).select(
                    F.lit(run_id).alias("run_id"),
                    F.lit(epoch_id).cast("long").alias("epoch_id"),
                    "failed_docs",
                    F.lit(n_docs).cast("long").alias("docs"),
                    "first_error",
                    F.lit(epoch_ts).cast("timestamp").alias("ts"),
                )
                alert.write.mode("overwrite").parquet(f"{alerts_dir}/epoch-{epoch_id}")

        pipeline.run_job(
            spark, batch_df, media_blobs, lineage, run_id=epoch_run,
            job_ts=epoch_ts, targets=list(targets) if targets else ["txt", "csv"],
            write_output=write_output,
            write_lineage=lambda rows: ckpt.append_checkpoint(
                rows, lineage_dir, f"epoch-{epoch_id}"
            ),
            suffix=suffix, addition=filename_addition, metrics_dir=metrics_dir,
            ocr_udf=ocr_udf,
        )

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    trigger = trigger if trigger is not None else {"availableNow": True}
    writer = writer.trigger(**trigger)
    return writer.start()

