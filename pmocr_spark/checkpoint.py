"""Lineage table IO (resume + metrics contract, FIXTURES.md §3), and
the one commit protocol of every persisted table — the lineage, each
index and model (commit_artifact / open_artifact, below).

pmOCR encodes row state in filenames (`*_OCR.*` done, `*_OCR_ERR.*`
failed, pmocr.sh:2088-2096, 2002-2010); here state lives in a parquet
lineage table that each job commits one generation of, and a batch
job's output is published by that same commit.

Schema: (partition_id, doc_id, status, span_count, error_count, error,
retry_count, run_id, ts) — ts is a JOB-SUPPLIED timestamp, never wall
clock (determinism ban, SURVEY.md §7.4.3). retry_count counts failed
attempts so far for the doc (P2 retry-with-postponement,
pmocr.sh:1154-1193); pre-retry tables read as NULL -> treated as 0.
"""

from __future__ import annotations

import json
import re
import uuid

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

    `prior` is the lineage as of this run's resume read; a doc's
    retry_count = prior failed attempts + 1 if this attempt failed too.
    The prior table is SEMI-JOINED down to this batch's doc_ids before
    the groupBy, so the aggregate is bounded by the batch size however
    long the lineage grows (compaction is the complementary hygiene).
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
        rows = rows.withColumn("_prior_rc", F.lit(0))
    else:
        rows = rows.join(
            prior.join(results.select("doc_id"), "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(F.coalesce(F.max("retry_count"), F.lit(0)).alias("_prior_rc")),
            "doc_id",
            "left",
        )
    retries = F.coalesce(F.col("_prior_rc"), F.lit(0)) + F.when(
        F.col("status") == "failed", 1
    ).otherwise(0)
    return rows.withColumn("retry_count", retries.cast("int")).select(*CHECKPOINT_SCHEMA.names)


def _fs(spark: SparkSession, path: str, *more: str) -> tuple:
    """(Hadoop FileSystem of `path`, Path(path), Path(m) for m in more):
    scheme-agnostic file access (file:, hdfs://, s3a://, ...) through the
    session's Hadoop config. A scheme Hadoop cannot resolve raises here,
    never reads as empty."""
    hps = [spark._jvm.org.apache.hadoop.fs.Path(p) for p in (path, *more)]  # noqa: SLF001
    return (hps[0].getFileSystem(spark._jsc.hadoopConfiguration()), *hps)  # noqa: SLF001


def read_checkpoint(
    spark: SparkSession, path: str, *, epoch: int | None = None
) -> DataFrame | None:
    """The committed lineage rows at `path`, or None when there are none;
    with `epoch`, the view that service epoch reads (epoch_visible)."""
    fs, hp = _fs(spark, path)
    paths = [
        p for g, ps in _lineage(spark, fs, path, _scan(fs, hp)).items()
        if epoch_visible(g, epoch) for p in ps
    ]
    return spark.read.schema(CHECKPOINT_SCHEMA).parquet(*paths) if paths else None


def epoch_visible(generation: str, epoch: int | None, *, hide_later: bool = False) -> bool:
    """Whether a job at service epoch `epoch` reads the committed
    `generation`. Never epoch-<E> itself, which a replay of E rewrites
    under the read; a batch job (None) reads every one. With hide_later
    (an index probe) it skips later epochs' generations too, so a
    fresh-checkpoint replay finds what the first run found; the lineage
    read keeps them, so their docs stay done. The generation name is
    the only record of which epoch wrote a row."""
    e = int(generation[6:]) if generation.startswith("epoch-") else None
    return epoch is None or e is None or e < epoch or (e > epoch and not hide_later)


def _lineage(spark, fs, path: str, scan) -> dict[str, list[str]]:
    """{generation: parquet paths} of the lineage at `path`. A lineage
    written before the lineage kind has no sidecar: its rows are the
    top-level part files, read as generation gen-0 (batch appends), and
    the part files directly in epoch-<E>/ (stream epochs). Frames of
    the new shape sit in <gen>/rows/, so with no sidecar they are an
    interrupted first commit and read as nothing."""
    doc = _committed(spark, fs, path, "lineage", scan, "read")
    if doc is not None:
        return {g: [f"{path}/{g}/rows"] for g in doc["generations"]}
    old = {"gen-0": [f"{path}/{n}" for n in scan[2]]}
    for g in sorted(n for n in scan[3] if _GENERATION.match(n) and n.startswith("epoch-")):
        old[g] = [
            f"{path}/{g}/{st.getPath().getName()}"
            for st in fs.listStatus(_fs(spark, f"{path}/{g}")[1])
            if st.isFile() and not st.getPath().getName().startswith(("_", "."))
        ]
    return {g: ps for g, ps in old.items() if ps}


def append_checkpoint(rows: DataFrame, path: str, generation: str | None = None) -> None:
    """Commit lineage `rows` as one new generation of the lineage at
    `path`: gen-<n>, or `generation` (a service epoch's epoch-<E>,
    which its replay rewrites)."""
    _commit_lineage(rows.sparkSession, path, rows, "append", generation)


def _commit_lineage(spark, path: str, rows: DataFrame, mode: str, generation=None) -> None:
    """commit_artifact for the lineage. The first append over a lineage
    written before the lineage kind rewrites its generations into
    <gen>/rows for the sidecar to list; the old files go only after the
    rename, so a crash at any step loses no row."""
    fs, hp = _fs(spark, path)
    scan = _scan(fs, hp)
    old = {} if "lineage" in scan[0] else _lineage(spark, fs, path, scan)
    adopted = [g for g in old if mode == "append" and g != generation]
    for g in adopted:
        spark.read.schema(CHECKPOINT_SCHEMA).parquet(*old[g]).write.mode("overwrite").parquet(
            f"{path}/{g}/rows"
        )
    commit_artifact(
        spark, path, "lineage", {}, {"rows": rows},
        mode=mode, generation=generation, adopted=adopted,
    )
    for f in (f for files in old.values() for f in files):
        fs.delete(_fs(spark, f)[1], False)


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

    Keeps each doc's winning row (latest_row_order) verbatim — status,
    ts and run_id with a stream's '#eN' tag — with retry_count lifted to
    the doc's GLOBAL max, exactly what resume_filter and checkpoint_rows
    aggregate, so resume/retry/backoff over the compacted table equals
    the full history. One groupBy(doc_id), paid once so every later
    lineage scan is O(docs) instead of O(runs x docs)."""
    # latest_row_order alone can tie (same ts and status, e.g. a batch
    # run and a stream epoch on one job_ts): run_id, then partition_id,
    # make the WHOLE-ROW winner deterministic too
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
    own = {"doc_id": F.col("doc_id"), "retry_count": F.col("_rc").cast("int")}
    return win.select(*[own.get(c, F.col(f"w.{c}")).alias(c) for c in CHECKPOINT_SCHEMA.names])


def compact_checkpoint(spark: SparkSession, path: str) -> int:
    """Rewrite the lineage at `path` to latest-row-per-doc (one row per
    doc, where every job adds one) as one overwrite commit; returns the
    committed row count. A crash at any step leaves the previous commit
    readable.

    Run it with no stream committing to `path`, after the stream's last
    epoch committed its offsets too: every epoch reads the compacted
    generation, so a replay of a compacted epoch would see its own rows,
    and a commit landing mid-compaction makes it raise."""
    full = read_checkpoint(spark, path)
    if full is None:
        return 0
    _commit_lineage(spark, path, compact_rows(full), "overwrite")
    return read_checkpoint(spark, path).count()


# ------------------------------------------------- persisted artifacts
#
# Every persisted table — the lineage, each index and model — commits
# the same way (pmOCR's rename-as-commit, pmocr.sh:2067-2096): its
# frames go to a new generation dir <path>/<gen>/<name>, then its
# sidecar — kind, format_version, the committed generations, the kind's
# params — is written to a hidden temp file and renamed to
# <path>/<stem>.<n>.json, n one past the commit it extends. The newest
# sidecar wins and readers open only the generations it lists, so a
# crash at any step leaves the previous commit readable and a retry
# lands exactly once. What the new sidecar replaced is deleted after
# the rename.

#: the artifact format this build writes and reads
FORMAT_VERSION = 1

#: kind -> (sidecar stem, what it is, the mode that rebuilds it). The
#: format before format_version kept one unversioned <stem>.json; the
#: lineage before it kept no sidecar (_lineage reads that layout).
ARTIFACT_KINDS = {
    "lineage": ("_lineage", "lineage", "--batch"),
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
#: generation dir names: gen-<n> for builds and batch jobs, epoch-<E>
#: for stream epochs — the two generation families
_GENERATION = re.compile(r"(gen|epoch)-\d+\Z")


def _scan(fs, hp):
    """One listing of an artifact dir: ({kind: newest commit n}, {kinds
    with an unversioned sidecar}, [top-level data entries], {every name
    listed})."""
    newest, unversioned, data, names = {}, set(), [], set()
    for st in fs.listStatus(hp) if fs.exists(hp) else []:
        name = st.getPath().getName()
        names.add(name)
        m = _SIDECAR.match(name)
        if m and m[1] in _KIND_OF_STEM:
            kind = _KIND_OF_STEM[m[1]]
            if m[2] is None:
                unversioned.add(kind)
            else:
                newest[kind] = max(newest.get(kind, 0), int(m[2]))
        elif not name.startswith(("_", ".")) and not _GENERATION.match(name):
            data.append(name)
    return newest, unversioned, data, names


def _committed(spark, fs, path: str, kind: str, scan, op: str) -> dict | None:
    """The newest sidecar of `kind` at `path`, None when nothing was
    committed there; raises on any layout this build cannot read."""
    newest, unversioned, data, _names = scan
    stem, label, rebuild = ARTIFACT_KINDS[kind]
    other = next((k for k in (*newest, *unversioned) if k != kind), None)
    if kind not in newest and other is not None:
        raise ValueError(f"cannot {op} {path}: it holds a {ARTIFACT_KINDS[other][1]}")
    if kind not in newest and kind != "lineage" and (kind in unversioned or data):
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
    """A commit point: rename the fully written `src` to `dst`, a name
    not yet taken — the rename refuses a taken one, and so does this."""
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
    adopted: list[str] = (),
) -> None:
    """Commit `frames` (name -> DataFrame) as one new generation of the
    artifact at `path`, with `meta` as its params, sidecar last.

    mode='overwrite' (build, compact) commits a generation list holding
    only the new generation; mode='append' adds it to the committed
    list, and refuses what open_artifact refuses. `generation` names it
    (default gen-<n>); the stream commits epoch-<E>, so a replay
    rewrites its own generation. With no frames only the params change.
    `adopted`: generations already written that an append to an
    uncommitted dir lists first (a lineage older than its sidecar).

    One writer per generation family — gen-<n> and epoch-<E> — may
    commit at once: the sidecar takes the number after the commit it
    extends, which the rename refuses once taken, so an append that
    loses it extends the newer commit and an overwrite raises. The sweep
    deletes what this commit replaced and the uncommitted generations of
    its own family its first listing saw — so the frames must not still
    read them lazily — never the other family's in flight."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unknown commit mode {mode!r}")
    fs, hp = _fs(spark, path)
    scan = _scan(fs, hp)
    seen, stem = scan[3], ARTIFACT_KINDS[kind][0]
    try:
        doc = _committed(spark, fs, path, kind, scan, "append to")
    except ValueError:
        if mode == "append":
            raise
        doc = None  # an overwrite rebuilds what this build cannot read
    base = set(doc["generations"] if doc else ())
    gen = None
    if frames:
        gen = generation or f"gen-{scan[0].get(kind, 0) + 1}"
        for name, df in frames.items():
            df.write.mode("overwrite").parquet(f"{path}/{gen}/{name}")
    htmp = _fs(spark, f"{path}/.{stem}.{uuid.uuid4().hex}.tmp")[1]
    for attempt in range(5):
        n = scan[0].get(kind, 0) + 1
        gens, names = ([], [])
        if mode == "append":
            gens, names = (doc["generations"], doc["frames"]) if doc else (list(adopted), [])
        if frames:
            gens, names = (gens if gen in gens else [*gens, gen]), sorted(frames)
        out = fs.create(htmp, True)
        try:
            out.write(bytearray(json.dumps({
                "kind": kind, "format_version": FORMAT_VERSION,
                "generations": gens, "frames": names, "params": meta,
            }).encode()))
        finally:
            out.close()
        side = f"{stem}.{n}.json"
        try:
            _publish(fs, htmp, _fs(spark, f"{path}/{side}")[1])
            break
        except RuntimeError:
            fs.delete(htmp, False)
            if mode == "overwrite" or attempt == 4:
                raise
        # another writer committed n first: extend its commit instead
        scan = _scan(fs, hp)
        doc = _committed(spark, fs, path, kind, scan, "append to")
        if gen in doc["generations"] and gen not in base:
            raise RuntimeError(f"another writer committed {gen} to {path}")
    family = gen and gen.split("-")[0]
    for st in fs.listStatus(hp):
        name = st.getPath().getName()
        m = _SIDECAR.match(name)
        if m and m[1] in _KIND_OF_STEM:
            stale = name != side and (m[1] != stem or m[2] is None or int(m[2]) < n)
        elif _GENERATION.match(name):
            stale = name not in gens and (
                name in base or (name in seen and name.split("-")[0] == family)
            )
        else:  # a temp sidecar some crashed commit left
            stale = name in seen and name.startswith(".") and name.endswith(".tmp")
        if stale:
            fs.delete(st.getPath(), True)
    # a replayed generation rewrites part files some cached listing may hold
    spark.catalog.refreshByPath(path)


def settle_output(spark: SparkSession, output: str, lineage: str) -> str:
    """Publish each batch output staged at `<output>/_pending-<gen>` whose
    generation the lineage at `lineage` lists — every file moves to its
    relative path under `output`, never over an existing file — and
    delete the others (jobs that died before their commit). Returns the
    generation the next batch job commits and stages under."""
    lfs, hlin = _fs(spark, lineage)
    scan = _scan(lfs, hlin)
    doc = _committed(spark, lfs, lineage, "lineage", scan, "read")
    fs, hout = _fs(spark, output)
    path_of = spark._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001

    def move(src, dst):
        for st in fs.listStatus(src):
            name = st.getPath().getName()
            if st.isDirectory():  # a --partition-by column=value dir
                fs.mkdirs(path_of(dst, name))
                move(st.getPath(), path_of(dst, name))
            elif not name.startswith(("_", ".")):
                _publish(fs, st.getPath(), path_of(dst, name))

    for st in fs.listStatus(hout) if fs.exists(hout) else []:
        name = st.getPath().getName()
        if name.startswith("_pending-"):
            if doc and name[len("_pending-"):] in doc["generations"]:
                move(st.getPath(), hout)
            fs.delete(st.getPath(), True)
    return f"gen-{scan[0].get('lineage', 0) + 1}"


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
