"""Checkpoint / lineage table IO (resume + metrics contract, FIXTURES.md §3),
and the one commit protocol of every persisted index and model
(commit_artifact / open_artifact, below).

pmOCR encodes row state in filenames (`*_OCR.*` done, `*_OCR_ERR.*`
failed, /root/reference/pmocr.sh:2088-2096, 2002-2010); here state lives
in an append-only parquet table (Iceberg-shaped — swap `.write.parquet`
for `.writeTo(...).append()` when an Iceberg catalog is on the
classpath; the v1 image has no Iceberg jars, see pyspark_guide.md).

Schema: (partition_id, doc_id, status, span_count, error_count, error,
retry_count, run_id, ts) — ts is a JOB-SUPPLIED timestamp, never wall
clock (determinism ban, SURVEY.md §7.4.3). retry_count counts failed
attempts so far for the doc (P2 retry-with-postponement,
pmocr.sh:1154-1193); pre-retry tables read as NULL -> treated as 0.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("span_count", T.IntegerType()),
        T.StructField("error_count", T.IntegerType()),
        T.StructField("error", T.StringType()),
        T.StructField("retry_count", T.IntegerType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def checkpoint_rows(
    results: DataFrame, run_id: str, job_ts: str, prior: DataFrame | None = None
) -> DataFrame:
    """Derive lineage rows from a batch result frame (S5/S6 sinks).

    `prior` is the checkpoint table as of this run's resume read; a doc's
    retry_count = prior failed attempts + 1 if this attempt failed too.
    The prior table is SEMI-JOINED down to this batch's doc_ids before
    the groupBy: lineage grows without bound (streaming re-reads it every
    epoch), so aggregating the whole history per batch would invert the
    'tiny lookup map' assumption over time — after the semi-join the
    aggregate is bounded by the batch size regardless of lineage age.
    (Periodic compaction to latest-row-per-doc is the complementary
    100 TB hygiene; the semi-join keeps each epoch correct without it.)
    """
    rows = results.select(
        F.spark_partition_id().alias("partition_id"),
        "doc_id",
        "status",
        F.col("span_count").cast("int").alias("span_count"),
        F.col("error_count").cast("int").alias("error_count"),
        "error",
        F.lit(run_id).alias("run_id"),
        F.lit(job_ts).cast("timestamp").alias("ts"),
    )
    if prior is None:
        prior_rc = None
    else:
        prior_rc = (
            prior.join(results.select("doc_id"), "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(F.coalesce(F.max("retry_count"), F.lit(0)).alias("_prior_rc"))
        )
    if prior_rc is not None:
        rows = rows.join(prior_rc, "doc_id", "left")
    else:
        rows = rows.withColumn("_prior_rc", F.lit(0))
    return rows.select(
        "partition_id",
        "doc_id",
        "status",
        "span_count",
        "error_count",
        "error",
        (
            F.coalesce(F.col("_prior_rc"), F.lit(0))
            + F.when(F.col("status") == "failed", 1).otherwise(0)
        )
        .cast("int")
        .alias("retry_count"),
        "run_id",
        "ts",
    )


def _fs(spark: SparkSession, path: str, *more: str) -> tuple:
    """(Hadoop FileSystem of `path`, Path(path), Path(m) for m in more):
    scheme-agnostic file access (file:, hdfs://, s3a://, ...) through the
    session's Hadoop config. A scheme Hadoop cannot resolve raises here,
    never reads as empty."""
    hps = [spark._jvm.org.apache.hadoop.fs.Path(p) for p in (path, *more)]  # noqa: SLF001
    return (hps[0].getFileSystem(spark._jsc.hadoopConfiguration()), *hps)  # noqa: SLF001


def read_checkpoint(spark: SparkSession, path: str) -> DataFrame | None:
    """Load the checkpoint table, or None on first run.

    Probes via spark.read (works on hdfs://, s3a://, ... — an os.path
    probe would silently disable resume off the driver-local FS).
    recursiveFileLookup picks up both flat batch appends and the
    streaming sink's per-epoch subdirectories.
    """
    try:
        # path resolution (file listing) happens inside .parquet(), so a
        # missing dir raises here, not at first downstream use
        return (
            spark.read.schema(CHECKPOINT_SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(path)
        )
    except Exception as e:  # AnalysisException: PATH_NOT_FOUND on first run
        if "PATH_NOT_FOUND" in str(e) or "Path does not exist" in str(e):
            # a missing table is only a first run if no interrupted
            # compaction left the real table parked at .compact.bak —
            # treating that as 'first run' would silently reprocess the
            # whole corpus and drop all retry/quarantine history
            bak = f"{path}.compact.bak"
            fs, hp = _fs(spark, bak)
            if fs.exists(hp):
                raise RuntimeError(
                    f"lineage table {path!r} is missing but {bak!r} exists — "
                    "a compaction was interrupted between its two renames. "
                    f"Restore it (rename {bak!r} back to {path!r}) before "
                    "running; proceeding would reprocess every doc and lose "
                    "retry/quarantine history."
                ) from e
            return None
        raise


def append_checkpoint(rows: DataFrame, path: str) -> None:
    """Append lineage rows.

    ORDERING HAZARD: if `rows` derives from a plan that itself reads
    `path` (the resume anti-join), materialize/write all other outputs
    of that plan BEFORE calling this — Spark re-reads the directory on
    any cache-miss recompute, and the freshly appended rows would
    anti-join the batch's own docs away. pipeline.run_job enforces this
    order for the batch CLI and every service epoch: its sinks and the
    --metrics report are written before the lineage.
    """
    rows.write.mode("append").parquet(path)


def latest_row_order():
    """The canonical 'which lineage row is latest' ordering, shared by
    resume_filter and compaction so they can never disagree: ts first,
    then terminal success beats 'failed' on a ts tie, then lexical
    status — fully deterministic for any row multiset."""
    return F.struct(
        F.col("ts").alias("ts"),
        F.when(F.col("status") == "failed", F.lit(0)).otherwise(F.lit(1)).alias("p"),
        F.col("status").alias("s"),
    )


def compact_rows(checkpoint: DataFrame) -> DataFrame:
    """Latest-row-per-doc view of the lineage table (same schema).

    Keeps each doc's winning row (latest_row_order) verbatim — so the
    winning status/ts/run_id survive, including the streaming '#eN'
    epoch tag the replay filter keys on — with retry_count lifted to the
    doc's GLOBAL max, which is exactly what resume_filter and
    checkpoint_rows aggregate. Resume/retry/backoff behavior over the
    compacted table is therefore identical to the full history.

    One groupBy(doc_id) — the same shuffle resume_filter already pays
    per run, paid once to make every FUTURE run's lineage scan O(docs)
    instead of O(runs x docs)."""
    # latest_row_order alone can tie (same ts AND same status — e.g. a
    # batch run and a stream epoch stamped with one job_ts); rows tied
    # there have identical status, so resume_filter is already
    # deterministic, but the WHOLE-ROW winner here must be too — extend
    # the ordering with run_id (then partition_id) so compaction keeps
    # the same row on every run over the same multiset
    full_order = F.struct(
        latest_row_order().alias("o"),
        F.col("run_id").alias("r"),
        F.col("partition_id").alias("pid"),
    )
    win = checkpoint.groupBy("doc_id").agg(
        F.max_by(
            F.struct(*[c for c in checkpoint.columns if c != "doc_id"]),
            full_order,
        ).alias("w"),
        F.coalesce(F.max("retry_count"), F.lit(0)).alias("_rc"),
    )
    return win.select(
        F.col("w.partition_id").alias("partition_id"),
        "doc_id",
        F.col("w.status").alias("status"),
        F.col("w.span_count").alias("span_count"),
        F.col("w.error_count").alias("error_count"),
        F.col("w.error").alias("error"),
        F.col("_rc").cast("int").alias("retry_count"),
        F.col("w.run_id").alias("run_id"),
        F.col("w.ts").alias("ts"),
    )


def compact_checkpoint(spark: SparkSession, path: str) -> int:
    """Rewrite the lineage table at `path` to latest-row-per-doc.

    The 100 TB hygiene pass the per-epoch semi-join defers (see
    checkpoint_rows): an append-only lineage grows one row per doc per
    run forever; every resume re-scans it. Compaction bounds the table
    at one row per doc. Returns the compacted row count.

    Swap protocol (replace_dir): write to <path>.compact.tmp, rename
    the old dir to <path>.compact.bak, rename tmp into place, delete
    bak. A crash between the renames leaves the .bak to restore by
    hand — never a half-written table at `path` ON RENAME-ATOMIC
    FILESYSTEMS (HDFS, local). On object stores (s3a://) dir 'rename'
    is a non-atomic copy, so the guarantee degrades to
    eventually-consistent-with-bak — prefer an Iceberg table commit
    there.

    Run this with no concurrent writer (batch: between runs; streaming:
    stream stopped, last epoch committed). Compacting UNDER a stream
    that later crash-replays an old epoch would re-derive that epoch's
    retry counts from the compacted row only.
    """
    full = read_checkpoint(spark, path)
    if full is None:
        return 0
    compacted = compact_rows(full).persist()
    n = compacted.count()  # materialize BEFORE touching `path` (read is lazy)
    replace_dir(spark, compacted, path)
    compacted.unpersist()
    return n


def replace_dir(spark: SparkSession, df: DataFrame, path: str) -> None:
    """Replace the lineage table dir at `path` with `df` via write-aside +
    rename (scheme-agnostic through the Hadoop FS API; ATOMIC only where
    dir rename is — HDFS/local, not object stores, see
    compact_checkpoint).

    IMPORTANT: `df` must already be materialized (persisted + counted,
    or read from elsewhere) — it is written BEFORE `path` is touched,
    but a lazy plan still scanning `path` would race its own rename.

    Orphan hygiene (round-3 ADVICE): a stale <path>.compact.tmp from a
    crashed earlier run is deleted up front, the bak-exists refusal
    happens BEFORE the (expensive) tmp write, and the tmp is removed on
    every failure path so no run leaves both artifacts behind."""
    tmp, bak = f"{path}.compact.tmp", f"{path}.compact.bak"
    fs, hp, htmp, hbak = _fs(spark, path, tmp, bak)
    if fs.exists(hbak):
        raise RuntimeError(
            f"{bak} exists — a previous swap did not finish; "
            "restore or remove it before retrying"
        )
    if fs.exists(htmp):
        fs.delete(htmp, True)  # orphan from a crashed run
    df.write.mode("overwrite").parquet(tmp)
    if not fs.rename(hp, hbak):
        fs.delete(htmp, True)
        raise RuntimeError(f"could not move {path} aside to {bak}")
    if not fs.rename(htmp, hp):
        fs.rename(hbak, hp)  # roll back
        fs.delete(htmp, True)
        raise RuntimeError(f"could not move new table into {path}")
    fs.delete(hbak, True)


# ------------------------------------------------- persisted artifacts
#
# Every persisted index and model commits the same way (pmOCR's
# rename-as-commit, pmocr.sh:2067-2096): its frames go to a new
# generation dir <path>/<gen>/<name>, then its sidecar — kind,
# format_version, the committed generations, the kind's params — is
# written to a hidden temp file and renamed to the next unused
# <path>/<stem>.<n>.json. The newest sidecar wins and readers open only
# the generations it lists, so a crash at any step leaves the previous
# commit readable and a retry lands exactly once. What the new sidecar
# does not list is deleted after the rename. The lineage table above is
# not such an artifact: Spark's job commit appends it, the stream
# replays it.

#: the artifact format this build writes and reads
FORMAT_VERSION = 1

#: kind -> (sidecar stem, what it is, the mode that rebuilds it). The
#: format before format_version kept one unversioned <stem>.json.
ARTIFACT_KINDS = {
    "text_index": ("_TEXT_INDEX_META", "text index", "--build-text-index"),
    "bloom_index": ("_bloom_meta", "Bloom index", "--build-bloom-index"),
    "pq_index": ("_pq_index_meta", "PQ index", "--build-pq-index"),
    "dedup_index": ("_dedup_index_meta", "dedup index", "--build-dedup-index"),
    "substr_index": ("_substr_index_meta", "gram index", "--dedup-substrings-index"),
    "bpe_model": ("_bpe_model", "BPE model", "--train-bpe"),
    "unigram_model": ("_unigram_model", "unigram model", "--train-unigram"),
    "quality_model": ("_lr_model", "quality model", "--train-quality"),
}
_KIND_OF_STEM = {stem: kind for kind, (stem, _l, _m) in ARTIFACT_KINDS.items()}
_SIDECAR = re.compile(r"(_\w+?)(?:\.(\d+))?\.json\Z")
#: generation dir names: gen-<commit> for builds, epoch-<E> for stream epochs
_GENERATION = re.compile(r"(gen|epoch)-\d+\Z")


def _scan(fs, hp):
    """One listing of an artifact dir: ({kind: newest commit n}, {kinds
    with an unversioned sidecar}, [top-level data entries])."""
    newest, unversioned, data = {}, set(), []
    for st in fs.listStatus(hp) if fs.exists(hp) else []:
        name = st.getPath().getName()
        m = _SIDECAR.match(name)
        if m and m[1] in _KIND_OF_STEM:
            kind = _KIND_OF_STEM[m[1]]
            if m[2] is None:
                unversioned.add(kind)
            else:
                newest[kind] = max(newest.get(kind, 0), int(m[2]))
        elif not name.startswith(("_", ".")) and not _GENERATION.match(name):
            data.append(name)
    return newest, unversioned, data


def _committed(spark, fs, path: str, kind: str, scan, op: str) -> dict | None:
    """The newest sidecar of `kind` at `path`, None when nothing was
    committed there; raises on any layout this build cannot read."""
    newest, unversioned, data = scan
    stem, label, rebuild = ARTIFACT_KINDS[kind]
    other = next((k for k in (*newest, *unversioned) if k != kind), None)
    if kind not in newest and other is not None:
        raise ValueError(f"cannot {op} {path}: it holds a {ARTIFACT_KINDS[other][1]}")
    if kind not in newest and (kind in unversioned or data):
        raise ValueError(
            f"cannot {op} {path}: no {stem} sidecar with a format_version, so it is "
            f"not a {label} dir this build reads; rebuild it with {rebuild}"
        )
    if kind not in newest:
        return None
    stream = fs.open(_fs(spark, f"{path}/{stem}.{newest[kind]}.json")[1])
    try:
        raw = bytes(spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))  # noqa: SLF001
    finally:
        stream.close()
    doc = json.loads(raw.decode())
    if doc.get("format_version") != FORMAT_VERSION:
        raise ValueError(
            f"cannot {op} {path}: format_version {doc.get('format_version')} is unknown "
            f"to this build; rebuild the {label} with {rebuild}"
        )
    return doc


def open_artifact(
    spark: SparkSession, path: str, kind: str, required: str | None = None
) -> tuple[dict, dict[str, list[str]]] | None:
    """Open the committed state of a persisted artifact: (params, {frame
    name: [committed generation paths]}), or None when nothing was
    committed at `path` (no dir, an empty dir, or generation dirs an
    interrupted first commit left behind). With `required` (the
    operation, e.g. 'read' or 'append to') an absent artifact raises.

    Always raises on a layout this build cannot read: top-level data
    with no sidecar, another kind's sidecar, and any format_version but
    FORMAT_VERSION — which includes every unversioned sidecar written
    before it; the message names the mode that rebuilds the artifact."""
    fs, hp = _fs(spark, path)
    doc = _committed(spark, fs, path, kind, _scan(fs, hp), required or "open")
    if doc is None and required:
        stem, label, rebuild = ARTIFACT_KINDS[kind]
        raise ValueError(
            f"cannot {required} {path}: no {stem} sidecar, so it is not a {label} "
            f"dir; build one with {rebuild}"
        )
    return doc and (
        doc["params"],
        {n: [f"{path}/{g}/{n}" for g in doc["generations"]] for n in doc["frames"]},
    )


def _publish(fs, src, dst) -> None:
    """The commit point: rename the fully written sidecar temp file to
    its not-yet-taken final name."""
    if not fs.rename(src, dst):
        raise RuntimeError(f"could not commit {dst}")


def commit_artifact(
    spark: SparkSession,
    path: str,
    kind: str,
    meta: dict,
    frames: dict[str, DataFrame] | None = None,
    *,
    mode: str,
    generation: str | None = None,
) -> None:
    """Commit `frames` (name -> DataFrame) as one new generation of the
    artifact at `path`, with `meta` as its params, sidecar last.

    mode='overwrite' (build, merge, compact) commits a generation list
    holding only the new generation; mode='append' adds it to the
    committed list, and refuses what open_artifact refuses. `generation`
    names it (default gen-<commit>); the stream commits epoch-<E>, so a
    replay rewrites its own generation. With no frames only the params
    change. The replaced generations are deleted after the commit, so
    the frames must not still read them lazily."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unknown commit mode {mode!r}")
    fs, hp = _fs(spark, path)
    scan = _scan(fs, hp)
    n = scan[0].get(kind, 0) + 1
    doc = _committed(spark, fs, path, kind, scan, "append to") if mode == "append" else None
    gens, names = (doc["generations"], doc["frames"]) if doc else ([], [])
    if frames:
        gen = generation or f"gen-{n}"
        for name, df in frames.items():
            df.write.mode("overwrite").parquet(f"{path}/{gen}/{name}")
        gens, names = (gens if gen in gens else [*gens, gen]), sorted(frames)
    side = f"{ARTIFACT_KINDS[kind][0]}.{n}.json"
    _fs_, htmp, hside = _fs(spark, f"{path}/.{side}.tmp", f"{path}/{side}")
    out = fs.create(htmp, True)
    try:
        out.write(bytearray(json.dumps({
            "kind": kind, "format_version": FORMAT_VERSION,
            "generations": gens, "frames": names, "params": meta,
        }).encode()))
    finally:
        out.close()
    _publish(fs, htmp, hside)
    # sweep the sidecars and generations this commit does not list;
    # files the format does not own are left alone
    for st in fs.listStatus(hp):
        name = st.getPath().getName()
        m = _SIDECAR.match(name.lstrip(".").removesuffix(".tmp"))
        owned = _GENERATION.match(name) or (m and m[1] in _KIND_OF_STEM)
        if owned and name not in (*gens, side):
            fs.delete(st.getPath(), True)
    # a replayed generation rewrites part files some cached listing may hold
    spark.catalog.refreshByPath(path)


def partition_metrics(checkpoint: DataFrame) -> DataFrame:
    """Per-partition lineage metrics (north_rule: prove skew is broken).

    pmOCR analog: per-subprocess .error/.warn marker files folded into
    exit codes (pmocr.sh:268-278, 389-404) — here a groupBy.
    """
    return (
        checkpoint.groupBy("run_id", "partition_id")
        .agg(
            F.count("*").alias("docs"),
            F.sum("span_count").alias("spans"),
            F.sum("error_count").alias("errors"),
            F.sum(F.when(F.col("status") == "failed", 1).otherwise(0)).alias("failed_docs"),
        )
        .orderBy("run_id", "partition_id")
    )
