"""End-to-end batch pipeline: exact span-sequence equality vs the
pure-python reference converter under (kind, text, media_ref, order) —
the BASELINE correctness invariant."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pmocr_spark import pipeline


def load(spark, corpus_dir):
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet")
    blobs = spark.read.parquet(f"{corpus_dir}/media_blobs.parquet")
    return docs, blobs


@pytest.fixture(scope="module")
def results(spark, corpus_dir):
    docs, blobs = load(spark, corpus_dir)
    out = pipeline.run_batch(spark, docs, blobs)
    rows = {r["doc_id"]: r.asDict(recursive=True) for r in out.collect()}
    return rows


def test_all_docs_present(results, expected):
    assert set(results) == set(expected)


def test_span_sequence_equality(results, expected):
    """(kind, text, media_ref, order) exact equality, every doc."""
    for doc_id, exp in expected.items():
        got = results[doc_id]
        got_spans = [
            (s["order"], s["kind"], s["text"], s["media_ref"]) for s in got["spans"]
        ]
        exp_spans = [(o, k, t, m) for (o, k, t, m) in exp["spans"]]
        assert got_spans == exp_spans, f"span mismatch for {doc_id}"


def test_status_and_targets(results, expected):
    for doc_id, exp in expected.items():
        got = results[doc_id]
        assert got["status"] == exp["status"], doc_id
        assert got["txt"] == exp["txt"], doc_id
        assert got["csv"] == exp["csv"], doc_id
        if exp["status"] == "failed":
            assert got["error"] is not None and got["error_count"] > 0


def test_poison_pills_exist(expected):
    # the corpus must actually exercise the quarantine path (A6)
    assert any(e["status"] == "failed" for e in expected.values())
    assert any(e["status"] == "done" for e in expected.values())


def test_partition_invariance(spark, corpus_dir, expected):
    """Byte-identical output under a different partitioning of the input
    (SURVEY.md §7.4.1: ordering must come from data, not partition order)."""
    docs, blobs = load(spark, corpus_dir)
    out = pipeline.run_batch(spark, docs.repartition(17), blobs.repartition(5))
    rows = {r["doc_id"]: r.asDict(recursive=True) for r in out.collect()}
    for doc_id, exp in expected.items():
        got_spans = [
            (s["order"], s["kind"], s["text"], s["media_ref"])
            for s in rows[doc_id]["spans"]
        ]
        assert got_spans == exp["spans"], doc_id


def test_normalize_col_matches_python(spark):
    """Property-parity between the JVM normalization and codecs.normalize_text."""
    from pmocr_spark import codecs

    cases = [
        "a \t\r\nb  \rc\n\n",
        "keep  interior   runs",
        "\r\n\r\nx\t \r\n",
        "no trailing",
        "multi\n\n\ninner\n \n",
        " leading kept\nline2 ",
        "tabs\t\there\t\n",
        "",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "t string")
    got = [
        r["n"]
        for r in df.select(pipeline.normalize_text_col(F.col("t")).alias("n")).collect()
    ]
    assert got == [codecs.normalize_text(c) for c in cases]


def test_empty_input(spark, corpus_dir):
    """Zero-row documents (an empty streaming micro-batch) must produce
    an empty result, not crash (foreachBatch gets empty frames)."""
    docs = spark.read.parquet(f"{corpus_dir}/documents.parquet").limit(0)
    blobs = spark.read.parquet(f"{corpus_dir}/media_blobs.parquet")
    out = pipeline.run_batch(spark, docs, blobs)
    assert out.count() == 0


def _run_both(spark, docs_t, blobs_t):
    """Run the engine and the pure-python oracle on the same pyarrow
    tables; return (engine_rows, oracle_rows)."""
    import pyarrow.parquet as pq

    from pmocr_spark import corpus

    import tempfile

    with tempfile.TemporaryDirectory(prefix="pmocr_par_") as d:
        pq.write_table(docs_t, f"{d}/documents.parquet")
        pq.write_table(blobs_t, f"{d}/media_blobs.parquet")
        docs, blobs = load(spark, d)
        got = {
            r["doc_id"]: r.asDict(recursive=True)
            for r in pipeline.run_batch(spark, docs, blobs).collect()
        }
    return got, corpus.reference_convert(docs_t, blobs_t)


def test_disallowed_kind_and_case(spark):
    """F1 allow-list: a disallowed span becomes kind='skipped' (doc still
    in output + lineage — no infinite resume); an upper-case 'TEXT' span
    routes as text, not as a missing-blob failure; engine == oracle."""
    import pyarrow as pa

    from pmocr_spark import codecs, corpus

    docs_t = pa.Table.from_pylist(
        [
            {
                "doc_id": "d1",
                "spans": [
                    {"kind": "TEXT", "text": "Upper  case", "media_ref": None, "offset": 0},
                    {"kind": "exe", "text": None, "media_ref": "blob:d1:bad", "offset": 1},
                    {"kind": "TIF", "text": None, "media_ref": "blob:d1:img", "offset": 2},
                ],
            },
            {  # every span disallowed: doc must STILL appear (all skipped)
                "doc_id": "d2",
                "spans": [{"kind": "zip", "text": None, "media_ref": "z", "offset": 0}],
            },
            # empty spans array: must still checkpoint (one skipped
            # pseudo-span via explode_outer), never vanish into an
            # infinite-resume loop
            {"doc_id": "d3", "spans": []},
        ],
        schema=corpus.DOCUMENTS_SCHEMA,
    )
    blobs_t = pa.Table.from_pylist(
        [
            {
                "media_ref": "blob:d1:img",
                "kind": "tif",
                "content": codecs.encode_image("ok go", "tif", salt="blob:d1:img"),
            }
        ],
        schema=corpus.BLOBS_SCHEMA,
    )
    got, exp = _run_both(spark, docs_t, blobs_t)
    assert set(got) == {"d1", "d2", "d3"}
    for doc_id in got:
        gs = [(s["order"], s["kind"], s["text"], s["media_ref"]) for s in got[doc_id]["spans"]]
        assert gs == exp[doc_id]["spans"], doc_id
        assert got[doc_id]["status"] == exp[doc_id]["status"]
        assert got[doc_id]["txt"] == exp[doc_id]["txt"]
    assert [s[1] for s in exp["d1"]["spans"]] == ["text", "skipped", "text"]
    assert got["d1"]["status"] == "done"
    # all-skipped doc: terminal 'skipped' status (still checkpointed)
    assert got["d2"]["status"] == "skipped" and got["d2"]["span_count"] == 1
    assert got["d3"]["status"] == "skipped" and got["d3"]["txt"] == ""


def test_two_corrupt_spans_first_error(spark):
    """Doc-level error = FIRST failing span by offset, on both sides; a
    truncated blob (struct.error, not CodecError) is error-data too."""
    import pyarrow as pa

    from pmocr_spark import codecs, corpus

    truncated = codecs.encode_image("will truncate", "png", salt="x")[:20]
    docs_t = pa.Table.from_pylist(
        [
            {
                "doc_id": "m1",
                "spans": [
                    {"kind": "png", "text": None, "media_ref": "b:trunc", "offset": 0},
                    {"kind": "tif", "text": None, "media_ref": "b:corrupt", "offset": 1},
                    {"kind": "text", "text": "tail", "media_ref": None, "offset": 2},
                ],
            }
        ],
        schema=corpus.DOCUMENTS_SCHEMA,
    )
    blobs_t = pa.Table.from_pylist(
        [
            {"media_ref": "b:trunc", "kind": "png", "content": truncated},
            {"media_ref": "b:corrupt", "kind": "tif", "content": codecs.encode_corrupt("b:corrupt")},
        ],
        schema=corpus.BLOBS_SCHEMA,
    )
    got, exp = _run_both(spark, docs_t, blobs_t)
    assert got["m1"]["status"] == "failed" == exp["m1"]["status"]
    assert got["m1"]["error_count"] == 2
    # first-by-offset convention: the truncated-image error, not bad-magic
    assert got["m1"]["error"] == exp["m1"]["error"]
    assert "truncated" in got["m1"]["error"]


@pytest.mark.parametrize("threshold", ["64MB", "-1"])
def test_span_routes_match_oracle(spark, threshold):
    """Every route of extract_spans, under both broadcast thresholds
    (64MB: every join broadcasts; -1: the plain route's anti-join is a
    sort-merge join, the hinted span join still broadcasts): a blob
    row that is absent, a null media_ref and a null-content blob row all
    give the missing-blob error; a text span keeps no media_ref even when
    it names an existing blob; a disallowed kind is skipped. Per span
    (kind, text, media_ref, error) and per doc status/error == oracle."""
    import pyarrow as pa

    from pmocr_spark import codecs, corpus

    missing = "CodecError: null media content (missing blob)"
    docs_t = pa.Table.from_pylist(
        [
            {"doc_id": "r1", "spans": [
                {"kind": "png", "text": None, "media_ref": "absent", "offset": 0},
                {"kind": "TIF", "text": None, "media_ref": None, "offset": 1},
                {"kind": "tif", "text": None, "media_ref": "nullc", "offset": 2},
                {"kind": "text", "text": "kept  \r\n", "media_ref": "img", "offset": 3},
                {"kind": "exe", "text": "x", "media_ref": "img", "offset": 4},
                {"kind": "png", "text": None, "media_ref": "img", "offset": 5},
            ]},
            {"doc_id": "r2", "spans": [
                {"kind": "text", "text": "t", "media_ref": "img", "offset": 0},
                {"kind": "zip", "text": None, "media_ref": "img", "offset": 1},
            ]},
            {"doc_id": "r3", "spans": [{"kind": "zip", "text": None, "media_ref": "absent", "offset": 0}]},
        ],
        schema=corpus.DOCUMENTS_SCHEMA,
    )
    blobs_t = pa.Table.from_pylist(
        [
            {"media_ref": "img", "kind": "png", "content": codecs.encode_image("seen", "png", salt="img")},
            {"media_ref": "nullc", "kind": "tif", "content": None},
        ],
        schema=corpus.BLOBS_SCHEMA,
    )
    docs = spark.createDataFrame(docs_t.to_pylist(), schema="doc_id string, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>")
    blobs = spark.createDataFrame(blobs_t.to_pylist(),
        schema="media_ref string, kind string, content binary")
    exp = corpus.reference_convert(docs_t, blobs_t)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    try:
        span_rows = pipeline.extract_spans(docs, blobs).collect()
        doc_rows = pipeline.run_batch(spark, docs, blobs).collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    spans = {}
    for r in span_rows:
        spans.setdefault(r["doc_id"], []).append(
            (r["offset"], r["kind"], r["text"], r["media_ref"], r["error"])
        )
    for doc_id, e in exp.items():
        want = [(o, k, t, m, missing if k == "error" else None) for (o, k, t, m) in e["spans"]]
        assert sorted(spans[doc_id]) == want, doc_id
    assert [s[1] for s in exp["r1"]["spans"]] == ["error"] * 3 + ["text", "skipped", "text"]

    docs_out = {r["doc_id"]: r for r in doc_rows}
    assert {d: (r["status"], r["error"]) for d, r in docs_out.items()} == {
        d: (e["status"], e["error"]) for d, e in exp.items()
    }
    assert [docs_out[d]["status"] for d in ("r1", "r2", "r3")] == ["failed", "done", "skipped"]


def test_doc_with_only_text_spans(spark, corpus_dir):
    """Docs with zero media spans skip the blob join entirely and still
    reassemble correctly (searchable-PDF-only corpus)."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [("t1", [("text", "hello  world", None, 0), ("text", "bye", None, 1)])],
        "doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    blobs = spark.read.parquet(f"{corpus_dir}/media_blobs.parquet")
    out = {r["doc_id"]: r.asDict(recursive=True) for r in pipeline.run_batch(spark, docs, blobs).collect()}
    assert out["t1"]["txt"] == "hello  world\nbye"
    assert out["t1"]["csv"] == "hello;world\nbye"
    assert out["t1"]["status"] == "done"


def test_audio_span_routes_through_pipeline(spark):
    """Round 5: kind='wav' spans ride the media route — the fused UDF
    magic-dispatches PMAU blobs to the audio codec — so an interleaved
    text+image+audio doc reassembles in offset order; a corrupted audio
    blob is error-as-data (doc failed, error names the parity check)."""
    import numpy as np
    import pyarrow as pa

    from pmocr_spark import codecs, corpus

    good = codecs.encode_audio("spoken words", salt="a1")
    arr = np.frombuffer(good[16:], dtype="<i2").copy()
    arr[0] = 0 if abs(int(arr[0])) >= codecs.AUDIO_TONE_MIN else 20000
    bad = good[:16] + arr.tobytes()
    docs_t = pa.Table.from_pylist(
        [
            {"doc_id": "d1", "spans": [
                {"kind": "text", "text": "lead", "media_ref": None, "offset": 0},
                {"kind": "wav", "text": None, "media_ref": "a:ok", "offset": 1},
                {"kind": "tif", "text": None, "media_ref": "m:1", "offset": 2},
            ]},
            {"doc_id": "d2", "spans": [
                {"kind": "wav", "text": None, "media_ref": "a:bad", "offset": 0},
            ]},
        ],
        schema=corpus.DOCUMENTS_SCHEMA,
    )
    blobs_t = pa.Table.from_pylist(
        [
            {"media_ref": "a:ok", "kind": "wav", "content": good},
            {"media_ref": "a:bad", "kind": "wav", "content": bad},
            {"media_ref": "m:1", "kind": "tif",
             "content": codecs.encode_image("pixels", "tif", salt="m:1")},
        ],
        schema=corpus.BLOBS_SCHEMA,
    )
    docs = spark.createDataFrame(docs_t.to_pylist(), schema="doc_id string, "
        "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>")
    blobs = spark.createDataFrame(blobs_t.to_pylist(),
        schema="media_ref string, kind string, content binary")
    got = {r["doc_id"]: r for r in pipeline.run_batch(spark, docs, blobs).collect()}
    assert got["d1"]["status"] == "done"
    assert got["d1"]["txt"] == "lead\nspoken words\npixels"
    assert got["d1"]["span_count"] == 3 and got["d1"]["error_count"] == 0
    assert got["d2"]["status"] == "failed"
    assert "parity" in got["d2"]["error"]
