"""WARC source (sources/warc.py): parse exactness, gzip + multi-shard
reads, error-as-data resync, HTTP envelope stripping, and the full
crawl-shard -> pipeline -> outputs path (batch CLI e2e)."""

from __future__ import annotations

import gzip
import os

import pytest
from pyspark.sql import functions as F

from pmocr_spark import codecs
from pmocr_spark.operators.html_extract import wrap_boilerplate
from pmocr_spark.sources import warc


def _records():
    html_body = "Crawled paragraph one is long enough to score. " * 3
    return [
        {
            "record_id": "info-0",
            "warc_type": "warcinfo",
            "content_type": "application/warc-fields",
            "payload": b"software: pmocr-spark-test\r\n",
        },
        {
            "record_id": "rec-html",
            "warc_type": "response",
            "target_uri": "http://example.com/a",
            "warc_date": "2024-01-01T00:00:00Z",
            "content_type": "text/html",
            "payload": wrap_boilerplate(html_body.strip(), doc_id=1).encode(),
            "http": True,
        },
        {
            "record_id": "rec-text",
            "warc_type": "conversion",
            "target_uri": "http://example.com/b",
            "content_type": "text/plain",
            "payload": "plain extracted text".encode(),
        },
        {
            "record_id": "rec-pdf",
            "warc_type": "resource",
            "content_type": "application/pdf",
            "payload": codecs.encode_pdf([["pdf page line"]], salt="w1"),
        },
        {
            "record_id": "rec-img",
            "warc_type": "resource",
            "content_type": "image/tiff",
            "payload": codecs.encode_image("tif words here", "tif", salt="w2"),
        },
        {
            "record_id": "rec-zip",
            "warc_type": "resource",
            "content_type": "application/zip",
            "payload": b"PK\x03\x04 not ours",
        },
    ]


def test_build_parse_roundtrip_exact():
    rows = warc.parse_warc_bytes(warc.build_warc(_records()), warc_file="f")
    assert [r["warc_type"] for r in rows] == [
        "warcinfo", "response", "conversion", "resource", "resource", "resource",
    ]
    by_id = {r["record_id"]: r for r in rows}
    h = by_id["rec-html"]
    # HTTP envelope stripped record-locally; inner type + status surfaced
    assert h["http_status"] == 200
    assert h["content_type"] == "text/html"
    assert h["payload"] == wrap_boilerplate(
        ("Crawled paragraph one is long enough to score. " * 3).strip(), doc_id=1
    ).encode()
    assert h["target_uri"] == "http://example.com/a"
    assert by_id["rec-pdf"]["payload"] == codecs.encode_pdf(
        [["pdf page line"]], salt="w1"
    )
    assert by_id["rec-text"]["http_status"] is None
    assert all(r["error"] is None for r in rows)


def test_parse_resyncs_after_garbage():
    good = _records()[1:3]
    blob = (
        warc.build_warc(good[:1])
        + b"garbage bytes that are not a record header"
        + b"\r\n\r\n"
        + warc.build_warc(good[1:])
    )
    rows = warc.parse_warc_bytes(blob, warc_file="f")
    kinds = [r["warc_type"] for r in rows]
    # one invalid row for the torn region, both real records survive
    assert kinds.count("invalid") == 1
    assert "response" in kinds and "conversion" in kinds
    bad = next(r for r in rows if r["warc_type"] == "invalid")
    assert bad["error"] and bad["payload"] is None


def test_parse_truncated_body_is_error_row():
    blob = warc.build_warc(_records()[1:2])[:-30]
    rows = warc.parse_warc_bytes(blob)
    assert len(rows) == 1
    assert rows[0]["warc_type"] == "invalid"
    assert "truncated" in rows[0]["error"]


def test_read_warc_records_gzip_and_multifile(spark, tmp_path):
    recs = _records()
    with open(tmp_path / "shard-00000.warc", "wb") as f:
        f.write(warc.build_warc(recs[:3]))
    with open(tmp_path / "shard-00001.warc.gz", "wb") as f:
        f.write(warc.build_warc(recs[3:], gz=True))
    # a non-warc file in the tree is never read (pathGlobFilter prunes)
    with open(tmp_path / "README.txt", "w") as f:
        f.write("not a shard")
    df = warc.read_warc_records(spark, str(tmp_path))
    rows = df.collect()
    assert len(rows) == len(recs)
    assert len({r["warc_file"] for r in rows}) == 2
    by_id = {r["record_id"]: r for r in rows}
    # payload bytes survive gzip + Arrow transfer exactly
    assert bytes(by_id["rec-img"]["payload"]) == codecs.encode_image(
        "tif words here", "tif", salt="w2"
    )
    # offsets are real byte positions (monotone within a shard)
    shard0 = sorted(
        (r for r in rows if r["warc_file"].endswith("shard-00000.warc")),
        key=lambda r: r["offset"],
    )
    assert shard0[0]["offset"] == 0
    assert all(a["offset"] < b["offset"] for a, b in zip(shard0, shard0[1:]))


def test_multimember_gzip_stream(spark, tmp_path):
    """CommonCrawl .warc.gz files are per-record gzip MEMBERS
    concatenated — the reader must consume all members, not just the
    first."""
    recs = _records()[1:4]
    blob = b"".join(gzip.compress(warc.build_warc([r]), mtime=0) for r in recs)
    with open(tmp_path / "multi.warc.gz", "wb") as f:
        f.write(blob)
    rows = warc.read_warc_records(spark, str(tmp_path)).collect()
    assert {r["record_id"] for r in rows} == {"rec-html", "rec-text", "rec-pdf"}


def test_warc_to_documents_routes_kinds(spark, tmp_path):
    with open(tmp_path / "s.warc", "wb") as f:
        f.write(warc.build_warc(_records()))
    docs, blobs = warc.warc_to_documents(warc.read_warc_records(spark, str(tmp_path)))
    drows = {r["doc_id"]: r for r in docs.collect()}
    # warcinfo is metadata, not content
    assert set(drows) == {"rec-html", "rec-text", "rec-pdf", "rec-img", "rec-zip"}
    assert drows["rec-text"]["spans"][0]["kind"] == "text"
    assert drows["rec-text"]["spans"][0]["text"] == "plain extracted text"
    assert drows["rec-text"]["spans"][0]["media_ref"] is None
    assert drows["rec-pdf"]["spans"][0]["kind"] == "pdf"
    assert drows["rec-img"]["spans"][0]["kind"] == "tif"
    # unknown type flows through as its subtype -> pipeline 'skipped'
    assert drows["rec-zip"]["spans"][0]["kind"] == "zip"
    brows = {r["media_ref"]: r for r in blobs.collect()}
    assert set(brows) == {"rec-html", "rec-pdf", "rec-img", "rec-zip"}
    assert bytes(brows["rec-pdf"]["content"]) == codecs.encode_pdf(
        [["pdf page line"]], salt="w1"
    )


def test_non_200_responses_excluded(spark, tmp_path):
    recs = _records()[1:2]
    raw = warc.build_warc(recs)
    # rewrite the stored status line: 200 -> 404 (same length)
    raw404 = raw.replace(b"HTTP/1.1 200 OK", b"HTTP/1.1 404 NF")
    with open(tmp_path / "s.warc", "wb") as f:
        f.write(raw404)
    records = warc.read_warc_records(spark, str(tmp_path))
    assert records.collect()[0]["http_status"] == 404
    docs, blobs = warc.warc_to_documents(records)
    assert docs.count() == 0 and blobs.count() == 0


def test_cli_warc_batch_e2e(tmp_path, spark):
    """Crawl shards in, finished conversions out: the standard batch
    pipeline (decode/OCR/extract -> reassemble -> lineage) runs
    unchanged on --input-format warc."""
    from pmocr_spark import cli

    shard_dir = tmp_path / "crawl"
    os.makedirs(shard_dir)
    with open(shard_dir / "s0.warc", "wb") as f:
        f.write(warc.build_warc(_records()[:3]))
    with open(shard_dir / "s1.warc.gz", "wb") as f:
        f.write(warc.build_warc(_records()[3:], gz=True))
    outp = str(tmp_path / "out")
    cli.main([
        "--batch", "--input-format", "warc", "--input", str(shard_dir),
        "--output", outp, "--lineage", str(tmp_path / "lin"),
        "--targets", "txt", "--master", "local[4]",
        "--job-ts", "2024-01-01T00:00:00Z",
    ])
    out = {r["doc_id"]: r for r in spark.read.parquet(outp).collect()}
    assert out["rec-text"]["status"] == "done"
    assert out["rec-text"]["txt"] == "plain extracted text"
    assert out["rec-pdf"]["status"] == "done"
    assert out["rec-pdf"]["txt"] == "pdf page line"
    assert out["rec-img"]["status"] == "done"
    assert out["rec-img"]["txt"] == "tif words here"
    # html main-content extraction strips the boilerplate wrap exactly
    body = ("Crawled paragraph one is long enough to score. " * 3).strip()
    assert out["rec-html"]["status"] == "done"
    assert out["rec-html"]["txt"] == body
    # unknown media type: visible as skipped, never silently dropped
    assert out["rec-zip"]["status"] == "skipped"


def test_service_mode_rejects_warc(tmp_path):
    from pmocr_spark import cli

    with pytest.raises(SystemExit, match="batch-only"):
        cli.main([
            "--service", "--input-format", "warc",
            "--monitor", f"{tmp_path}=txt",
            "--blobs", str(tmp_path / "b"),
            "--output", str(tmp_path / "o"),
            "--lineage", str(tmp_path / "l"),
            "--master", "local[2]",
        ])


def test_wet_writer_roundtrip(spark, tmp_path):
    """write_wet shards read back through the module's own parser:
    conversion records, text payloads exact, per-file warcinfo lead,
    deterministic across reruns."""
    df = spark.createDataFrame(
        [(i, f"extracted text {i}", "done") for i in range(20)],
        "doc_id long, txt string, status string",
    )
    out = str(tmp_path / "wet")
    warc.write_wet(df, out, job_ts="2024-01-01 00:00:00", n_shards=3)
    recs = warc.read_warc_records(spark, out).collect()
    conv = {r["record_id"]: r for r in recs if r["warc_type"] == "conversion"}
    assert set(conv) == {str(i) for i in range(20)}
    for i in range(20):
        assert bytes(conv[str(i)]["payload"]) == f"extracted text {i}".encode()
        assert conv[str(i)]["warc_date"] == "2024-01-01T00:00:00Z"
        assert conv[str(i)]["target_uri"] == f"urn:doc:{i}"
    # per-file warcinfo lead records
    n_files = len({r["warc_file"] for r in recs})
    assert sum(1 for r in recs if r["warc_type"] == "warcinfo") == n_files
    # determinism: rerun produces byte-identical shards
    import hashlib, os
    h1 = {f: hashlib.md5(open(os.path.join(out, f), "rb").read()).hexdigest()
          for f in sorted(os.listdir(out))}
    out2 = str(tmp_path / "wet2")
    warc.write_wet(df, out2, job_ts="2024-01-01 00:00:00", n_shards=3)
    h2 = {f: hashlib.md5(open(os.path.join(out2, f), "rb").read()).hexdigest()
          for f in sorted(os.listdir(out2))}
    assert list(h1.values()) == list(h2.values())


def test_cli_warc_to_wet_full_loop(tmp_path, spark):
    """The complete CommonCrawl loop: WARC responses in, batch pipeline
    extracts, WET conversions out — and the WET text round-trips."""
    from pmocr_spark import cli

    shard_dir = tmp_path / "crawl"
    os.makedirs(shard_dir)
    with open(shard_dir / "s0.warc", "wb") as f:
        f.write(warc.build_warc(_records()[1:5]))
    outp = str(tmp_path / "wet_out")
    cli.main([
        "--batch", "--input-format", "warc", "--input", str(shard_dir),
        "--output-format", "wet",
        "--output", outp, "--lineage", str(tmp_path / "lin"),
        "--targets", "txt", "--master", "local[4]",
        "--job-ts", "2024-01-01T00:00:00Z",
    ])
    conv = {
        r["record_id"]: bytes(r["payload"]).decode()
        for r in warc.read_warc_records(spark, outp).collect()
        if r["warc_type"] == "conversion"
    }
    assert conv["rec-text"] == "plain extracted text"
    assert conv["rec-pdf"] == "pdf page line"
    body = ("Crawled paragraph one is long enough to score. " * 3).strip()
    assert conv["rec-html"] == body


def test_cdx_index_and_selective_fetch(spark, tmp_path):
    """The random-access story: one sequential pass builds the CDX
    index (offset/length/digest per fetched record); a later selective
    fetch seeks straight to chosen records — plain and gzip shards —
    and returns byte-identical payloads."""
    import hashlib

    recs_a = [dict(r, record_id=f"{r['record_id']}-a",
                   target_uri=f"http://host-{i}.example/p{i}")
              for i, r in enumerate(_records()[1:5])]
    recs_b = [dict(r, record_id=f"{r['record_id']}-b",
                   target_uri=f"http://www.host-{i}.example/q{i}")
              for i, r in enumerate(_records()[1:5])]
    with open(tmp_path / "a.warc", "wb") as f:
        f.write(warc.build_warc(recs_a))
    with open(tmp_path / "b.warc.gz", "wb") as f:
        f.write(warc.build_warc(recs_b, gz=True))
    records = warc.read_warc_records(spark, str(tmp_path))
    cdx = warc.warc_cdx(records)
    rows = cdx.collect()
    assert len(rows) == 8  # every fetched record indexed
    # SURT keys: host reversed, www stripped, path appended
    keys = {r["urlkey"] for r in rows}
    assert "example,host-0)/p0" in keys and "example,host-0)/q0" in keys
    # digest matches the payload the full parse produced
    payloads = {
        (r["warc_file"], r["offset"]): bytes(r["payload"])
        for r in records.collect() if r["target_uri"]
    }
    for r in rows:
        assert r["digest"] == hashlib.md5(payloads[(r["warc_file"], r["offset"])]).hexdigest()
    # selective fetch: pick 3 records by urlkey prefix (one per shard +
    # one gz), re-read ONLY those, payloads byte-identical
    picks = cdx.filter(F.col("urlkey").rlike("^example,host-[12]\\)"))
    got = warc.read_records_at(spark, picks).collect()
    want_ids = {"rec-text-a", "rec-pdf-a", "rec-text-b", "rec-pdf-b"}
    assert {r["record_id"] for r in got} == want_ids
    for r in got:
        assert bytes(r["payload"]) == payloads[(r["warc_file"], r["offset"])]
        assert r["error"] is None


def test_cli_warc_cdx(spark, tmp_path):
    from pmocr_spark import cli

    shard_dir = tmp_path / "crawl"
    os.makedirs(shard_dir)
    recs = [dict(r, target_uri=f"http://h{i}.example/p")
            for i, r in enumerate(_records()[1:4])]
    with open(shard_dir / "s.warc", "wb") as f:
        f.write(warc.build_warc(recs))
    out = str(tmp_path / "cdx")
    cli.main(["--warc-cdx", "--input", str(shard_dir), "--output", out,
              "--master", "local[2]"])
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 3
    assert all(r["length"] > 0 and r["digest"] for r in rows)


def test_cli_two_wet_jobs_share_one_output(tmp_path, spark):
    """Two --batch --output-format wet jobs into one --output (the
    second resumes over the first's lineage and converts only its new
    docs): every record lands once — neither job's shards take the
    other's names."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pmocr_spark import cli, corpus

    def docs(n):
        rows = [{"doc_id": f"d{i:02d}", "spans": [
            {"kind": "text", "text": f"text of doc {i}", "media_ref": None, "offset": 0}]}
            for i in range(n)]
        pq.write_table(pa.Table.from_pylist(rows, schema=corpus.DOCUMENTS_SCHEMA),
                       f"{tmp_path}/docs{n}.parquet")
        return f"{tmp_path}/docs{n}.parquet"

    pq.write_table(pa.Table.from_pylist([], schema=corpus.BLOBS_SCHEMA), f"{tmp_path}/b.parquet")
    outp = str(tmp_path / "wet_out")
    for n in (20, 25):
        cli.main(["--batch", "--input", docs(n), "--blobs", f"{tmp_path}/b.parquet",
                  "--output-format", "wet", "--output", outp,
                  "--lineage", str(tmp_path / "lin"), "--targets", "txt", "--master", "local[2]"])
    ids = [r["record_id"] for r in warc.read_warc_records(spark, outp).collect()
           if r["warc_type"] == "conversion"]
    assert sorted(ids) == [f"d{i:02d}" for i in range(25)]
