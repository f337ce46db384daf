"""Crash safety of every persisted table — the lineage, each index and
model (checkpoint.commit_artifact): a write that dies at any step — any
parquet write or the sidecar rename that commits it — leaves the
previous commit readable, and a retry lands exactly once; a --batch job
publishes its output with its lineage commit, so its retry lands every
output row once too. Also: artifacts written before format_version are
rejected, never read with silent nulls, and a lineage written before
the lineage kind stays readable."""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from datetime import datetime
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq_io
import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from pmocr_spark import checkpoint as ckpt
from pmocr_spark import cli, codecs, corpus, streaming
from pmocr_spark.operators import bloom, bm25, bpe, pq, quality_classifier, unigram_lm
from pmocr_spark.operators import dedup_index as di
from pmocr_spark.operators import substring_dedup as sd

TEXTS = [
    ("d1", "the quick brown fox jumps over the lazy dog near the river bank today"),
    ("d2", "spark shuffles data between stages when keys move across partitions often"),
    ("d3", "completely unrelated text about cooking pasta with garlic and olive oil"),
    ("d4", "telescopes gather photons from distant galaxies revealing ancient light"),
    ("d5", "the quick brown fox jumps over the lazy dog near the river bank tonight"),
    ("d6", "volcanic islands rise slowly from the ocean floor over countless ages"),
]


class Crash(Exception):
    pass


def _docs(spark, lo, hi):
    return spark.createDataFrame(TEXTS[lo:hi], "doc_id string, text string").coalesce(1)


def _rows(df):
    return sorted(str(r) for r in df.collect())


def _vectors(spark, lo, hi):
    """(vec_id, en): deterministic unit vectors; ids 0..15 seed the codebook"""
    rows = []
    for i in range(lo, hi):
        v = [float((i * 31 + j * 7) % 13 - 6) for j in range(pq.N_SUB * pq.D_SUB)]
        n = sum(x * x for x in v) ** 0.5
        rows.append((i, [x / n for x in v]))
    return spark.createDataFrame(rows, "vec_id long, en array<double>").coalesce(1)


_PQ: dict = {}


def _pq_write(spark, path, lo, hi, mode):
    if not _PQ:  # encode once; the writes under test see local frames
        vecs = _vectors(spark, 0, 24)
        book = pq.pq_codebook(vecs)
        _PQ.update(book=(book.collect(), book.schema),
                   codes=(pq.pq_encode(vecs, book).collect(), None))
    book = spark.createDataFrame(*_PQ["book"])
    codes = spark.createDataFrame(_PQ["codes"][0]).filter(F.col("vec_id").between(lo, hi - 1))
    pq.write_pq_index(codes, book, path, mode=mode)


def _bloom_bits(spark, lo, hi):
    keys = _docs(spark, lo, hi).select(F.md5(F.col("text").cast("binary")).alias("key"))
    return bloom.bloom_build(keys, m=256, k=4)


def _results(spark, lo, hi):
    return _docs(spark, lo, hi).select(
        "doc_id", F.col("text").alias("txt"), F.lit("done").alias("status")
    )


def _bm25_state(spark, path):
    ix, meta = bm25.read_text_index(spark, path)
    queries = bm25.parse_query_terms(spark, "quick fox,pasta,light galaxies")
    return meta, _rows(bm25.score_pairs(ix, queries))  # n_docs + every scored hit


def _lin(spark, docs, run_id, hour=0):
    """lineage rows: one 'done' row per doc id"""
    ts = datetime(2024, 1, 1, hour)
    return spark.createDataFrame(
        [(0, d, "done", 1, 0, None, 0, run_id, ts) for d in docs], ckpt.CHECKPOINT_SCHEMA
    ).coalesce(1)


def _parent_lineage(spark, path, flat=True, epochs=True):
    """A lineage as written before the lineage kind: batch appends as
    top-level part files, stream epochs as part files in epoch-<E>/"""
    if flat:
        _lin(spark, ["p1", "p2"], "run-0").write.mode("append").parquet(path)
    if epochs:
        for e, docs in ((4, ["q1"]), (9, ["q2", "q3"])):
            _lin(spark, docs, f"s#e{e}", e).write.mode("overwrite").parquet(f"{path}/epoch-{e}")


def _lineage_state(spark, path):
    """the whole lineage, and the view a replay of epoch 9 reads"""
    views = [ckpt.read_checkpoint(spark, path), ckpt.read_checkpoint(spark, path, epoch=9)]
    return tuple(None if v is None else _rows(v) for v in views)


@dataclass
class Op:
    setup: Callable | None  # builds the previous commit, if any
    write: Callable  # the write under test
    state: Callable  # everything a reader sees
    steps: int  # parquet writes + the one sidecar rename


OPS = {
    "text_index_append": Op(
        lambda s, p: bm25.write_text_index(_docs(s, 0, 4), p),
        lambda s, p: bm25.write_text_index(_docs(s, 4, 6), p, mode="append"),
        _bm25_state, 4,
    ),
    "bloom_index_build": Op(
        None,
        lambda s, p: bloom.write_bloom_index(_bloom_bits(s, 0, 6), p, m=256, k=4),
        lambda s, p: (lambda b, m: (m, _rows(b)))(*bloom.read_bloom_index(s, p)), 2,
    ),
    "pq_index_append": Op(
        lambda s, p: _pq_write(s, p, 0, 30, "overwrite"),
        lambda s, p: _pq_write(s, p, 30, 40, "append"),
        lambda s, p: (lambda c, _b, m: (m, _rows(c)))(*pq.read_pq_index(s, p)), 2,
    ),
    "dedup_index_merge": Op(
        lambda s, p: di.write_index(di.build_index(_docs(s, 0, 4), max_bucket=None), p),
        lambda s, p: di.write_index(
            di.build_index(_docs(s, 4, 6), max_bucket=None), p, mode="append"),
        lambda s, p: (lambda i, m: (m, _rows(i)))(*di.read_index(s, p)), 2,
    ),
    "substr_index_epoch": Op(
        lambda s, p: streaming._epoch_substr_dedup(s, _results(s, 0, 4), p, 0),
        lambda s, p: streaming._epoch_substr_dedup(s, _results(s, 4, 6), p, 1),
        lambda s, p: (lambda g, m: (m, _rows(g)))(*sd.read_gram_index(s, p)), 2,
    ),
    "lineage_epoch": Op(
        lambda s, p: ckpt.append_checkpoint(_lin(s, ["a", "b"], "run-0"), p),
        lambda s, p: ckpt.append_checkpoint(_lin(s, ["c"], "s#e9", 1), p, "epoch-9"),
        _lineage_state, 2,
    ),
    "lineage_compact": Op(
        lambda s, p: [ckpt.append_checkpoint(_lin(s, ["a", "b"], r, h), p, g)
                      for r, h, g in (("run-0", 0, None), ("s#e3", 1, "epoch-3"))],
        ckpt.compact_checkpoint,
        _lineage_state, 2,
    ),
    # the first commit over a parent lineage rewrites its two
    # generations (gen-0, epoch-4) beside its own, then publishes
    "lineage_first_commit_over_parent": Op(
        _parent_lineage,
        lambda s, p: ckpt.append_checkpoint(_lin(s, ["q2", "q3"], "s#e9", 9), p, "epoch-9"),
        _lineage_state, 4,
    ),
    "bpe_model": Op(
        lambda s, p: bpe.write_model(s, p, [("t", "h", 3)], min_count=2),
        lambda s, p: bpe.write_model(s, p, [("t", "h", 3), ("th", "e", 2)], min_count=2),
        bpe.read_model, 1,
    ),
    "unigram_model": Op(
        lambda s, p: unigram_lm.write_model(s, p, [("a", -1000)], vocab_size=1),
        lambda s, p: unigram_lm.write_model(s, p, [("a", -900), ("b", -1100)], vocab_size=2),
        unigram_lm.read_model, 1,
    ),
    "quality_model": Op(
        lambda s, p: quality_classifier.write_model(s, p, {"algo": "logreg-exact-int", "w": [1]}),
        lambda s, p: quality_classifier.write_model(s, p, {"algo": "logreg-exact-int", "w": [2]}),
        quality_classifier.read_model, 1,
    ),
}


def _state(op, spark, path):
    """What a reader sees at `path`; None when nothing is committed"""
    try:
        return op.state(spark, path)
    except ValueError as e:
        if "sidecar" not in str(e):
            raise
        return None


def _crash_at(monkeypatch, k):
    """From now on, the k-th parquet write or sidecar rename raises"""
    calls = [0]

    def step(orig):
        def wrapped(*a, **kw):
            calls[0] += 1
            if calls[0] == k:
                raise Crash(f"crash at write step {k}")
            return orig(*a, **kw)
        return wrapped

    monkeypatch.setattr(DataFrameWriter, "parquet", step(DataFrameWriter.parquet))
    monkeypatch.setattr(ckpt, "_publish", step(getattr(ckpt, "_publish", None)), raising=False)


_CLEAN: dict = {}
_SETUP: dict = {}


@pytest.fixture(autouse=True)
def _one_shuffle_partition(spark):
    """six-doc frames: one task per shuffle stage is plenty"""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.mark.parametrize(
    "name,k", [(name, k) for name, op in OPS.items() for k in range(1, op.steps + 1)]
)
def test_crash_at_any_write_step(spark, tmp_path, tmp_path_factory, monkeypatch, name, k):
    op = OPS[name]
    if name not in _CLEAN:  # one clean run per kind, shared by its steps
        clean = str(tmp_path / "clean")
        if op.setup:
            op.setup(spark, clean)
            _SETUP[name] = str(tmp_path_factory.mktemp(name) / "setup")
            shutil.copytree(clean, _SETUP[name])
        before = _state(op, spark, clean)
        op.write(spark, clean)
        _CLEAN[name] = before, _state(op, spark, clean)
    before, after = _CLEAN[name]
    path = str(tmp_path / "art")
    if op.setup:
        shutil.copytree(_SETUP[name], path)
    with monkeypatch.context() as m:
        _crash_at(m, k)
        with pytest.raises(Crash):
            op.write(spark, path)
    assert _state(op, spark, path) == before  # the previous commit, or none
    op.write(spark, path)  # the retry
    assert _state(op, spark, path) == after  # exactly one clean write


def test_stream_epoch_crash_at_generation_commit(spark, tmp_path, monkeypatch):
    """A service epoch that dies at its dedup-index commit replays on the
    same offsets checkpoint to the verdicts and index of a run that never
    crashed."""
    A = TEXTS[0][1]
    A2 = TEXTS[4][1]

    def doc(doc_id, text):
        return {"doc_id": doc_id,
                "spans": [{"kind": "text", "text": text, "media_ref": None, "offset": 0}]}

    pq_io.write_table(pa.Table.from_pylist([], schema=corpus.BLOBS_SCHEMA),
                      f"{tmp_path}/blobs.parquet")
    media = spark.read.parquet(f"{tmp_path}/blobs.parquet")
    drops = [[doc("e0-a", A), doc("e0-b", TEXTS[2][1])],
             [doc("e1-dup", A2), doc("e1-new", TEXTS[3][1])]]

    def run(base, epoch):
        pq_io.write_table(pa.Table.from_pylist(drops[epoch], schema=corpus.DOCUMENTS_SCHEMA),
                          f"{base}/landing/drop{epoch}.parquet")
        q = streaming.monitor(
            spark, f"{base}/landing", media, f"{base}/out", f"{base}/ck", f"{base}/lin",
            trigger={"availableNow": True}, dedup_index_dir=f"{base}/idx",
        )
        q.awaitTermination(120)

    def verdicts(base):
        out = spark.read.parquet(f"{base}/out/epoch-1").collect()
        return sorted((r["doc_id"], r["dup_of"]) for r in out), _rows(
            di.read_index(spark, f"{base}/idx")[0]
        )

    clean, crashed = str(tmp_path / "clean"), str(tmp_path / "crashed")
    for base in (clean, crashed):
        os.makedirs(f"{base}/landing")
        run(base, 0)
    run(clean, 1)

    def crash(*_a):
        raise Crash("crash at the epoch-1 index commit")

    with monkeypatch.context() as m:
        m.setattr(ckpt, "_publish", crash)
        with pytest.raises(Exception, match="crash at the epoch-1 index commit"):
            run(crashed, 1)
    # restart: the same offsets checkpoint replays epoch 1
    q = streaming.monitor(
        spark, f"{crashed}/landing", media, f"{crashed}/out", f"{crashed}/ck",
        f"{crashed}/lin", trigger={"availableNow": True}, dedup_index_dir=f"{crashed}/idx",
    )
    q.awaitTermination(120)
    assert verdicts(crashed) == verdicts(clean)
    assert verdicts(clean)[0] == [("e1-dup", "e0-a"), ("e1-new", None)]


def test_pre_version_text_index_rejected(spark, tmp_path):
    """A text index whose sidecar predates format_version, in the pre-r6
    shape (postings without the denormalized dl column), must be refused
    by both the reader and an append — scoring it would read dl as null
    for every old doc."""
    idx = str(tmp_path / "old_tix")
    tf = (
        bm25.doc_terms(_docs(spark, 0, 4))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    tf.write.parquet(f"{idx}/postings")
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dl.write.parquet(f"{idx}/dl")
    tf.groupBy("term").agg(F.count("*").alias("df")).write.parquet(f"{idx}/df")
    st = dl.agg(F.count("*").alias("n"), F.sum("dl").alias("s")).collect()[0]
    with open(os.path.join(idx, "_TEXT_INDEX_META.json"), "w") as fh:
        json.dump({"tokenizer": "ws_lower_v1", "k1": bm25.K1, "b": bm25.B,
                   "n_docs": int(st["n"]), "sum_dl": int(st["s"])}, fh)
    with pytest.raises(ValueError, match="format_version"):
        bm25.read_text_index(spark, idx)
    with pytest.raises(ValueError, match="format_version"):
        bm25.write_text_index(_docs(spark, 4, 6), idx, mode="append")


# ------------------------------------------- the batch job's one commit

BATCH_STEPS = 5  # staged output, lineage rows, sidecar rename, 2 file moves


@pytest.fixture(scope="module")
def mini_corpus(tmp_path_factory):
    """four text docs and one poison media doc: --partition-by status
    stages two files, so a crash can split the publish between them"""
    d = tmp_path_factory.mktemp("mini")
    docs = [{"doc_id": doc_id, "spans": [{"kind": "text", "text": text, "media_ref": None,
                                          "offset": 0}]} for doc_id, text in TEXTS[:4]]
    docs.append({"doc_id": "poison", "spans": [{"kind": "tif", "text": None,
                                                "media_ref": "m:1", "offset": 0}]})
    blobs = [{"media_ref": "m:1", "kind": "tif", "content": codecs.encode_corrupt("m:1")}]
    pq_io.write_table(pa.Table.from_pylist(docs, schema=corpus.DOCUMENTS_SCHEMA),
                      f"{d}/documents.parquet")
    pq_io.write_table(pa.Table.from_pylist(blobs, schema=corpus.BLOBS_SCHEMA),
                      f"{d}/media_blobs.parquet")
    return str(d)


def _batch(corpus_dir, base):
    cli.main(["--batch", "--input", f"{corpus_dir}/documents.parquet",
              "--blobs", f"{corpus_dir}/media_blobs.parquet", "--output", f"{base}/out",
              "--lineage", f"{base}/lin", "--targets", "txt", "--partition-by", "status",
              "--master", "local[2]"])


def _batch_state(spark, base):
    """(doc_id, status) of every published output row and lineage row"""
    out = [os.path.join(d, f) for d, _, fs in os.walk(f"{base}/out")
           if "/_" not in d[len(str(base)):] for f in fs if f.endswith(".parquet")]
    rows = sorted(
        (r["doc_id"], os.path.basename(os.path.dirname(f)))
        for f in out for r in pq_io.read_table(f, columns=["doc_id"]).to_pylist()
    )
    lin = ckpt.read_checkpoint(spark, f"{base}/lin")
    return rows, sorted((r["doc_id"], r["status"]) for r in lin.collect())


@pytest.mark.parametrize("k", range(1, BATCH_STEPS + 1))
def test_batch_job_crash_at_any_step(spark, tmp_path, mini_corpus, monkeypatch, k):
    """A --batch job that dies at any write step — its staged output,
    its lineage rows, the sidecar rename that commits both, or either
    staged-file move — lands every output row and lineage row exactly
    once on its retry."""
    if "batch" not in _CLEAN:
        _batch(mini_corpus, tmp_path / "clean")
        _CLEAN["batch"] = _batch_state(spark, tmp_path / "clean")
    out, lin = _CLEAN["batch"]
    assert [d for d, _ in out] == sorted(d for d, _ in TEXTS[:4]) + ["poison"]
    assert {s for _, s in out} == {"status=done", "status=failed"}
    with monkeypatch.context() as m:
        _crash_at(m, k)
        with pytest.raises(Crash):
            _batch(mini_corpus, tmp_path)
    _batch(mini_corpus, tmp_path)  # the retry
    assert _batch_state(spark, tmp_path) == (out, lin)
    assert not [n for n in os.listdir(tmp_path / "out") if n.startswith("_pending-")]


def test_batch_retry_after_crash_before_lineage_commit(spark, tmp_path, mini_corpus, monkeypatch):
    """A job that dies after writing its output and before its lineage
    commit publishes no output, so the retry writes each doc once
    (appended output and lineage used to give 2 output rows per doc)."""
    def crash(*_a, **_kw):
        raise Crash("crash before the lineage commit")

    with monkeypatch.context() as m:
        m.setattr(ckpt, "append_checkpoint", crash)
        with pytest.raises(Crash):
            _batch(mini_corpus, tmp_path)
    _batch(mini_corpus, tmp_path)
    out, lin = _batch_state(spark, tmp_path)
    assert len(out) == len(lin) == 5 and len({d for d, _ in out}) == 5


@pytest.mark.parametrize("first", ["epoch", "batch"])
def test_batch_and_epoch_commits_interleave(spark, tmp_path, monkeypatch, first):
    """The second-writer rule: a batch commit (gen-<n>) and a stream
    epoch commit (epoch-<E>) may race on one lineage. Whichever renames
    its sidecar second finds the number taken, extends the other's
    commit, and neither sweep deletes the other's generation in flight:
    every row lands once, under its own generation."""
    path = str(tmp_path / "lin")
    ckpt.append_checkpoint(_lin(spark, ["a"], "run-0"), path)
    epoch = lambda: ckpt.append_checkpoint(_lin(spark, ["e"], "s#e3", 3), path, "epoch-3")
    batch = lambda: ckpt.append_checkpoint(_lin(spark, ["b"], "run-1", 4), path)
    outer, inner = (batch, epoch) if first == "epoch" else (epoch, batch)
    publish = ckpt._publish

    def racing(fs, src, dst):  # the other writer commits first, whole
        m.setattr(ckpt, "_publish", publish)
        inner()
        publish(fs, src, dst)

    with monkeypatch.context() as m:
        m.setattr(ckpt, "_publish", racing)
        outer()
    got = {r["doc_id"]: r["run_id"] for r in ckpt.read_checkpoint(spark, path).collect()}
    assert got == {"a": "run-0", "e": "s#e3", "b": "run-1"}
    assert ckpt.read_checkpoint(spark, path).count() == 3
    assert sorted(r["doc_id"] for r in ckpt.read_checkpoint(spark, path, epoch=3).collect()) == ["a", "b"]
    assert sorted(n for n in os.listdir(path) if not n.startswith(".")) == [
        "_lineage.3.json", "epoch-3", "gen-1", "gen-2"]


@pytest.mark.parametrize("flat,epochs", [(True, False), (False, True)])
def test_parent_lineage_reads_and_survives_first_commit(spark, tmp_path, flat, epochs):
    """A lineage written before the lineage kind — flat batch appends or
    epoch-<E> dirs (lineage_first_commit_over_parent has both) — reads
    as it did: every row, and an epoch's replay view without its own
    rows. Its first commit keeps every row visible and leaves only the
    new layout."""
    path = str(tmp_path / "lin")
    _parent_lineage(spark, path, flat, epochs)
    everything = _rows(spark.read.option("recursiveFileLookup", "true").parquet(path))
    old = [r for r in everything if "s#e9" not in r]
    assert _lineage_state(spark, path) == (everything, old)
    ckpt.append_checkpoint(_lin(spark, ["n1"], "run-1", 12), path)
    full, view = _lineage_state(spark, path)
    assert full == sorted(everything + _rows(_lin(spark, ["n1"], "run-1", 12)))
    assert view == [r for r in full if "s#e9" not in r]
    assert not [n for n in os.listdir(path) if n.endswith(".parquet")]
