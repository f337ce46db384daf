"""WARC source (ISO 28500): read Web ARChive shards into the engine's
span shape — the CommonCrawl ingestion path.

Web-scale corpora are *born* as WARC: CommonCrawl publishes ~90k
gzip-compressed ``*.warc.gz`` shards (~1 GB each) per monthly crawl, and
every serious pretraining pipeline (C4, RefinedWeb, Dolma, FineWeb)
starts by parsing them. This connector turns a directory of WARC shards
into the engine's ``documents(doc_id, spans)`` + ``media_blobs`` pair so
the standard pipeline (allow-list -> decode/OCR/extract -> reassemble ->
checkpoint) runs unchanged on raw crawl data.

Scale contract (the honest one for this format):
- **WARC is not block-splittable.** Records are length-prefixed and (in
  the .gz case) member-compressed back to back; there is no sync marker
  a mid-file reader could seek to without an external index (CommonCrawl
  ships cdx indexes for that). The parallelism unit is therefore the
  FILE: ``binaryFile`` lists shards into tasks, and a 1000-executor
  cluster chews 1000 shards concurrently — exactly how CommonCrawl sizes
  its shards (~1 GB) to be the task granule. Listing parallelism and
  task sizing come free from the DataSource; nothing here collects.
- **One pass, error-as-data.** Each task decompresses + parses its shard
  sequentially (the only order WARC admits) and yields Arrow batches via
  ``mapInPandas``; a malformed record yields ONE ``warc_type='invalid'``
  row carrying the byte offset + reason, then parsing resynchronizes at
  the next ``\\r\\n\\r\\nWARC/`` boundary — a torn record never kills the
  shard, matching the pipeline's per-row error discipline (SURVEY §2.3
  M4: error-as-data, not task failure).
- Payload bytes flow binary end to end; HTTP response envelopes are
  stripped record-locally (no shuffle anywhere in the parse).

pmOCR analog: the filesystem scan S1 (pmocr.sh:2183 find loop) — this is
the same "list a tree of opaque files, route by type" contract over the
archive format the web actually ships.
"""

from __future__ import annotations

import gzip
import io
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: parsed-record schema: one row per WARC record (or per parse error).
#: offset/length delimit the record's bytes within the (decompressed)
#: shard — the raw material of the CDX index (warc_cdx), which is what
#: makes the non-splittable format randomly accessible after one
#: sequential pass.
RECORDS_SCHEMA = (
    "warc_file string, offset long, length long, record_id string, "
    "warc_type string, target_uri string, warc_date string, "
    "content_type string, http_status int, payload binary, error string"
)

#: HTTP/WARC media types -> engine span kinds (codecs.MEDIA_KINDS /
#: HTML_KINDS / AUDIO_KINDS / VIDEO_KINDS vocabulary). Unlisted types
#: map to the type's subtype and flow into the pipeline's allow-list,
#: which keeps them as kind='skipped' rows — visible, never dropped.
KIND_BY_CONTENT_TYPE = {
    "text/html": "html",
    "application/xhtml+xml": "html",
    "text/plain": "text",
    "application/pdf": "pdf",
    "image/tiff": "tif",
    "image/png": "png",
    "image/jpeg": "jpg",
    "image/bmp": "bmp",
    "audio/wav": "wav",
    "audio/x-wav": "wav",
    "video/avi": "avi",
    "video/x-msvideo": "avi",
}

#: column order of RECORDS_SCHEMA (single source for both parsers)
_RECORD_COLS = [f.split()[0] for f in RECORDS_SCHEMA.split(", ")]

_RESYNC = b"\r\n\r\nWARC/"


def build_warc(records: list[dict], gz: bool = False) -> bytes:
    """Serialize records into a well-formed WARC/1.0 byte stream (the
    deterministic synthetic counterpart of codecs.encode_*: tests and
    corpus synthesis build shards with it; there is no WARC *sink* —
    the engine's results are tables, not crawls).

    Each dict: ``record_id``, ``warc_type``, optional ``target_uri``,
    ``warc_date``, ``content_type``, ``payload`` (bytes), and optional
    ``http`` (True wraps the payload in an HTTP/1.1 200 envelope the
    way crawlers store fetches, making the WARC Content-Type
    application/http;msgtype=response).
    """
    out = []
    for r in records:
        payload = r.get("payload", b"")
        if r.get("http"):
            envelope = (
                b"HTTP/1.1 200 OK\r\nContent-Type: "
                + r.get("content_type", "text/html").encode()
                + b"\r\nContent-Length: "
                + str(len(payload)).encode()
                + b"\r\n\r\n"
            )
            body = envelope + payload
            ctype = "application/http; msgtype=response"
        else:
            body = payload
            ctype = r.get("content_type", "application/octet-stream")
        hdrs = [
            b"WARC/1.0",
            b"WARC-Type: " + r.get("warc_type", "resource").encode(),
            b"WARC-Record-ID: <urn:uuid:" + r["record_id"].encode() + b">",
            b"Content-Type: " + ctype.encode(),
            b"Content-Length: " + str(len(body)).encode(),
        ]
        if r.get("target_uri"):
            hdrs.append(b"WARC-Target-URI: " + r["target_uri"].encode())
        if r.get("warc_date"):
            hdrs.append(b"WARC-Date: " + r["warc_date"].encode())
        out.append(b"\r\n".join(hdrs) + b"\r\n\r\n" + body + b"\r\n\r\n")
    blob = b"".join(out)
    return gzip.compress(blob, mtime=0) if gz else blob


def _parse_http(body: bytes) -> tuple[int | None, str | None, bytes]:
    """Split an application/http record body into (status, content-type,
    payload). A body without a parseable envelope passes through whole —
    crawlers do store truncated fetches; bytes are never invented."""
    end = body.find(b"\r\n\r\n")
    if end < 0 or not body.startswith(b"HTTP/"):
        return None, None, body
    head = body[:end].decode("latin-1", "replace")
    lines = head.split("\r\n")
    parts = lines[0].split(None, 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        return None, None, body
    ctype = None
    for ln in lines[1:]:
        if ":" in ln:
            k, v = ln.split(":", 1)
            if k.strip().lower() == "content-type":
                ctype = v.strip()
    return status, ctype, body[end + 4 :]


def parse_warc_bytes(blob: bytes, warc_file: str = "") -> list[dict]:
    """Sequential record parse of one (already-decompressed) shard.
    Malformed regions produce one 'invalid' row and resync at the next
    record boundary; returns plain dicts matching RECORDS_SCHEMA."""
    rows: list[dict] = []
    pos, n = 0, len(blob)

    def _invalid(at: int, why: str) -> None:
        rows.append(
            {
                "warc_file": warc_file,
                "offset": at,
                "length": None,
                "record_id": None,
                "warc_type": "invalid",
                "target_uri": None,
                "warc_date": None,
                "content_type": None,
                "http_status": None,
                "payload": None,
                "error": why,
            }
        )

    while pos < n:
        # skip inter-record CRLF padding
        while pos < n and blob[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        start = pos
        if not blob.startswith(b"WARC/", pos):
            _invalid(start, "no WARC/ version line")
            nxt = blob.find(_RESYNC, pos)
            if nxt < 0:
                break
            pos = nxt + 4
            continue
        hdr_end = blob.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            _invalid(start, "unterminated header block")
            break
        head = blob[pos:hdr_end].decode("utf-8", "replace")
        fields: dict[str, str] = {}
        for ln in head.split("\r\n")[1:]:
            if ":" in ln:
                k, v = ln.split(":", 1)
                fields[k.strip().lower()] = v.strip()
        try:
            clen = int(fields["content-length"])
        except (KeyError, ValueError):
            _invalid(start, "missing/bad Content-Length")
            nxt = blob.find(_RESYNC, hdr_end)
            if nxt < 0:
                break
            pos = nxt + 4
            continue
        body = blob[hdr_end + 4 : hdr_end + 4 + clen]
        if len(body) < clen:
            _invalid(start, f"truncated body: {len(body)} < {clen}")
            break
        pos = hdr_end + 4 + clen
        rec_len = pos - start
        rid = fields.get("warc-record-id", "")
        if rid.startswith("<urn:uuid:") and rid.endswith(">"):
            rid = rid[10:-1]
        ctype = fields.get("content-type", "")
        status = None
        if ctype.split(";")[0].strip().lower() == "application/http":
            status, inner_ct, body = _parse_http(body)
            ctype = inner_ct if inner_ct is not None else ctype
        rows.append(
            {
                "warc_file": warc_file,
                "offset": start,
                "length": rec_len,
                "record_id": rid or None,
                "warc_type": fields.get("warc-type", "").lower() or None,
                "target_uri": fields.get("warc-target-uri"),
                "warc_date": fields.get("warc-date"),
                "content_type": ctype.split(";")[0].strip().lower() or None,
                "http_status": status,
                "payload": bytes(body),
                "error": None,
            }
        )
    return rows


def read_warc_records(spark: SparkSession, path: str) -> DataFrame:
    """WARC shard tree -> records DataFrame (RECORDS_SCHEMA).

    ``binaryFile`` gives file-granular tasks (the WARC parallelism unit
    — see module docstring); each task decompresses (.gz sniffed by
    magic, multi-member streams handled by gzip) and parses its shard
    locally. No shuffle; downstream filters on warc_type/content_type
    are ordinary codegen over the parsed columns.
    """
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.{warc,warc.gz}")
        .option("recursiveFileLookup", "true")
        .load(path)
        .select("path", "content")
    )

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = _RECORD_COLS
        for pdf in batches:
            for fpath, content in zip(pdf["path"], pdf["content"]):
                raw = bytes(content)
                if raw[:2] == b"\x1f\x8b":
                    raw = gzip.GzipFile(fileobj=io.BytesIO(raw)).read()
                rows = parse_warc_bytes(raw, warc_file=fpath)
                if rows:
                    yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(_parse, schema=RECORDS_SCHEMA)


def warc_to_documents(records: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Records -> (documents, media_blobs) in the engine's span shape.

    Fetched content (response/resource/conversion records) becomes one
    single-span document per record (the lift_to_documents row model):
    text/plain payloads inline as kind='text' spans; every other type
    becomes a media blob keyed by record id, its span kind mapped via
    KIND_BY_CONTENT_TYPE so html/pdf/image/audio/video route into the
    fused decode UDF and anything else surfaces as kind='skipped'.
    Both outputs are pure projections of the records frame — zero added
    shuffles on top of the parse."""
    kind = F.coalesce(
        *[
            F.when(F.col("content_type") == ct, F.lit(k))
            for ct, k in KIND_BY_CONTENT_TYPE.items()
        ],
        F.element_at(F.split(F.col("content_type"), "/"), -1),
        # Content-Type is optional per ISO 28500: a typeless record must
        # still surface (as a skipped-kind blob), never drop silently
        F.lit("unknown"),
    )
    content = records.filter(
        F.col("warc_type").isin("response", "resource", "conversion")
        & F.col("record_id").isNotNull()
        & (F.coalesce(F.col("http_status"), F.lit(200)) == 200)
    ).select(
        F.col("record_id").alias("doc_id"),
        kind.alias("kind"),
        F.col("payload"),
    )
    is_text = F.col("kind") == "text"
    docs = content.select(
        "doc_id",
        F.array(
            F.struct(
                F.col("kind").alias("kind"),
                F.when(is_text, F.decode(F.col("payload"), "UTF-8"))
                .otherwise(F.lit(None).cast("string"))
                .alias("text"),
                F.when(~is_text, F.col("doc_id")).alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            )
        ).alias("spans"),
    )
    blobs = content.filter(~is_text).select(
        F.col("doc_id").alias("media_ref"), "kind", F.col("payload").alias("content")
    )
    return docs, blobs


def write_wet(
    results: DataFrame,
    path: str,
    job_ts: str = "",
    n_shards: int = 16,
    id_col: str = "doc_id",
    text_col: str = "txt",
    uri_col: str | None = None,
) -> None:
    """Results -> WET shards (CommonCrawl's extracted-text artifact:
    gzip WARC files of `conversion` records, text/plain payloads) — the
    write half of the crawl loop this module's reader opens. Each shard
    leads with a warcinfo record (the per-file convention) and is
    written gzip multi-member-compatible.

    Determinism (the X10 fixed-timestamp discipline): rows hash-
    repartition on `id_col` and sort within shards, and WARC-Date comes
    from the caller's job clock — two runs over the same table produce
    byte-identical shards, named by a hash of their bytes — so jobs
    sharing `path` never clobber each other's. Executors stream their own shard via
    foreachPartition (no driver collect); the destination must be a
    task-visible filesystem path (local/NFS — the same contract as any
    posix sink; object stores take the parquet/jsonl sinks).
    """
    import hashlib
    import os

    from pyspark import TaskContext

    os.makedirs(path, exist_ok=True)
    date = (job_ts or "1970-01-01 00:00:00").replace(" ", "T") + "Z"
    cols = [F.col(id_col).cast("string").alias("_id"), F.col(text_col).alias("_txt")]
    cols.append(
        F.col(uri_col).alias("_uri") if uri_col
        else F.concat(F.lit("urn:doc:"), F.col(id_col).cast("string")).alias("_uri")
    )
    # UNCONDITIONAL hash repartition: shard membership must derive from
    # doc ids, never from whatever partitioning the upstream plan (or a
    # different --master / AQE decision) happened to produce — that is
    # what makes reruns byte-identical
    rows = results.select(*cols).repartition(n_shards, "_id").sortWithinPartitions("_id")

    def _write(it):
        pid = TaskContext.get().partitionId()
        recs = [
            {
                "record_id": f"wetinfo-{pid}",
                "warc_type": "warcinfo",
                "warc_date": date,
                "content_type": "application/warc-fields",
                "payload": b"software: pmocr-spark WET writer\r\n",
            }
        ]
        for r in it:
            recs.append(
                {
                    "record_id": r["_id"],
                    "warc_type": "conversion",
                    "target_uri": r["_uri"],
                    "warc_date": date,
                    "content_type": "text/plain",
                    "payload": (r["_txt"] or "").encode(),
                }
            )
        if len(recs) > 1:  # empty partitions write nothing
            data = build_warc(recs, gz=True)
            name = f"wet-{pid:05d}-{hashlib.sha1(data).hexdigest()[:16]}.warc.gz"
            with open(os.path.join(path, name), "wb") as f:
                f.write(data)

    rows.foreachPartition(_write)


def surt_key(uri_col):
    """SURT-style canonical url key (the CDX sort key CommonCrawl
    uses): host lowercased, www stripped, labels REVERSED and
    comma-joined, then ')' + path — so all pages of a registrable
    domain sort together ((com,example)/a, (com,example,sub)/b ...).
    Pure codegen expressions."""
    host = F.regexp_replace(
        F.lower(
            F.regexp_extract(uri_col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)", 1)
        ),
        r"^www\.",
        "",
    )
    path = F.regexp_extract(uri_col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*(/[^?#]*)?", 1)
    return F.concat(
        F.array_join(F.reverse(F.split(host, r"\.")), ","),
        F.lit(")"),
        F.when(path == "", "/").otherwise(path),
    )


def warc_cdx(records: DataFrame) -> DataFrame:
    """records -> CDX index rows (urlkey, ts, warc_file, offset,
    length, digest, content_type): the artifact that makes the
    non-splittable shard format randomly accessible — build it in the
    same pass that first reads a crawl, and every later selective
    fetch (re-extract one domain, re-decode flagged records) seeks
    straight to its records instead of re-parsing 90k shards. Pure
    projection + md5 over the parsed frame; one sort nowhere (CDX
    files are traditionally sorted, but a parquet index is
    predicate-pushdown-pruned by urlkey instead — the Spark-native
    equivalent)."""
    fetched = records.filter(
        F.col("error").isNull() & F.col("target_uri").isNotNull()
    )
    return fetched.select(
        surt_key(F.col("target_uri")).alias("urlkey"),
        F.regexp_replace(F.coalesce("warc_date", F.lit("")), r"[^0-9]", "").alias("ts"),
        "warc_file",
        "offset",
        "length",
        F.md5(F.col("payload")).alias("digest"),
        "content_type",
    )


def read_records_at(spark: SparkSession, cdx: DataFrame) -> DataFrame:
    """Selective record fetch: (warc_file, offset, length) rows ->
    parsed records (RECORDS_SCHEMA), seeking instead of re-parsing.

    Plain ``.warc`` shards are read with a true seek+read of exactly
    `length` bytes; ``.warc.gz`` shards (whole-stream offsets are in
    DECOMPRESSED space) decompress once per task batch and slice — the
    parse cost is still per-requested-record, and rows for one file are
    grouped per task (repartition on warc_file) so each shard opens
    once. At crawl scale the win is the usual index win: touch only the
    shards/records the predicate selects."""

    def _fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = _RECORD_COLS
        cache: dict[str, bytes] = {}
        for pdf in batches:
            rows: list[dict] = []
            for fpath, off, ln in zip(pdf["warc_file"], pdf["offset"], pdf["length"]):
                p = fpath
                if p.startswith("file:"):
                    p = p[5:]
                    while p.startswith("//"):
                        p = p[1:]
                if p.endswith(".gz"):
                    blob = cache.get(p)
                    if blob is None:
                        with open(p, "rb") as f:
                            blob = cache[p] = gzip.GzipFile(fileobj=f).read()
                        if len(cache) > 2:  # bound per-task memory
                            cache.pop(next(iter(k for k in cache if k != p)))
                    chunk = blob[int(off) : int(off) + int(ln)]
                else:
                    with open(p, "rb") as f:
                        f.seek(int(off))
                        chunk = f.read(int(ln))
                got = parse_warc_bytes(chunk, warc_file=fpath)
                for g in got:
                    g["offset"] = int(off) + g["offset"]
                rows.extend(got)
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    picks = cdx.select("warc_file", "offset", "length").repartition("warc_file")
    return picks.mapInPandas(_fetch, schema=RECORDS_SCHEMA)
