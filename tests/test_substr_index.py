"""Cross-epoch substring dedup: the incremental operator and the
streaming epoch hook (_epoch_substr_dedup) — replay idempotence, history
precedence, sidecar k-guard, and equivalence to a one-shot pass."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pmocr_spark.operators.substring_dedup import (
    DEFAULT_K,
    corpus_grams,
    substring_dedup,
    substring_dedup_incremental,
)
from pmocr_spark.streaming import _epoch_substr_dedup


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_incremental_without_history_equals_oneshot(spark):
    rows = [("a", "x1 x2 a b c d x3 x4"), ("b", "y1 a b c d y2 y3 y4")]
    one = {r["doc_id"]: r["new_text"]
           for r in substring_dedup(_docs(spark, rows), k=4).collect()}
    inc = {r["doc_id"]: r["new_text"]
           for r in substring_dedup_incremental(_docs(spark, rows), None, k=4).collect()}
    assert one == inc


def test_history_beats_batch_canonical(spark):
    # the span "a b c d" exists in the historical index: even the
    # batch-CANONICAL occurrence is stripped (history is the keeper)
    hist = corpus_grams(_docs(spark, [("h", "a b c d")]), k=4)
    batch = _docs(spark, [("n1", "p1 p2 a b c d p3 p4"), ("n2", "q1 q2 q3 q4 q5")])
    out = {r["doc_id"]: (r["new_text"], r["n_removed"])
           for r in substring_dedup_incremental(batch, hist, k=4).collect()}
    assert out["n1"] == ("p1 p2 p3 p4", 4)
    assert out["n2"] == ("q1 q2 q3 q4 q5", 0)


def _results(spark, rows):
    return spark.createDataFrame(
        [(d, "done", t) for d, t in rows], "doc_id string, status string, txt string"
    )


def test_epoch_hook_builds_probes_and_replays(spark, tmp_path):
    idx = str(tmp_path / "gidx")
    span = " ".join(f"s{i}" for i in range(DEFAULT_K))
    e0 = _results(spark, [("a", f"{span} tail0 tail1")])
    e1 = _results(spark, [("b", f"head0 head1 {span}"), ("c", "c0 c1 c2 c3")])

    m0 = {r["doc_id"]: r for r in _epoch_substr_dedup(spark, e0, idx, 0).collect()}
    assert m0["a"]["words_removed"] == 0  # first epoch: nothing historical

    m1 = {r["doc_id"]: r for r in _epoch_substr_dedup(spark, e1, idx, 1).collect()}
    assert m1["b"]["txt_clean"] == "head0 head1"
    assert m1["b"]["words_removed"] == DEFAULT_K
    assert m1["c"]["words_removed"] == 0

    # crash-replay of epoch 1: probe must not see epoch 1's own grams —
    # byte-identical verdicts
    r1 = {r["doc_id"]: r for r in _epoch_substr_dedup(spark, e1, idx, 1).collect()}
    assert {d: (r["txt_clean"], r["words_removed"]) for d, r in r1.items()} == {
        d: (r["txt_clean"], r["words_removed"]) for d, r in m1.items()
    }

    # epoch-1 verdicts equal a one-shot pass over the union for the
    # epoch-1 docs (no within-epoch dups in this fixture)
    union = _docs(
        spark,
        [("a", f"{span} tail0 tail1"), ("b", f"head0 head1 {span}"), ("c", "c0 c1 c2 c3")],
    )
    oneshot = {r["doc_id"]: r["new_text"] for r in substring_dedup(union).collect()}
    assert oneshot["b"] == m1["b"]["txt_clean"]
    assert oneshot["c"] == m1["c"]["txt_clean"]


def test_epoch_hook_refuses_k_mismatch(spark, tmp_path):
    from pmocr_spark import checkpoint as ckpt

    idx = str(tmp_path / "gidx2")
    _epoch_substr_dedup(spark, _results(spark, [("a", "w0 w1 w2")]), idx, 0)
    meta = ckpt.open_artifact(spark, idx, "substr_index")[0]
    assert meta == {"k": DEFAULT_K}
    ckpt.commit_artifact(spark, idx, "substr_index", {"k": DEFAULT_K + 5}, mode="append")
    with pytest.raises(ValueError, match="incomparable"):
        _epoch_substr_dedup(spark, _results(spark, [("b", "v0 v1 v2")]), idx, 1)


def test_compact_substr_index_cli(spark, tmp_path):
    """--compact-substr-index flattens the epoch subdirs to distinct gram
    hashes, keeps the k sidecar, and a post-compaction epoch still strips
    spans from the (now epoch-less) history."""
    from pmocr_spark import checkpoint as ckpt
    from pmocr_spark import cli

    idx = str(tmp_path / "gidx3")
    span = " ".join(f"t{i}" for i in range(DEFAULT_K))
    _epoch_substr_dedup(spark, _results(spark, [("a", f"{span} x0 x1")]), idx, 0)
    _epoch_substr_dedup(spark, _results(spark, [("b", f"{span} y0 y1")]), idx, 1)

    before = (spark.read.option("recursiveFileLookup", "true")
              .option("mergeSchema", "true").parquet(idx))
    n_distinct = before.select("gh").distinct().count()
    assert before.count() > n_distinct  # epochs overlap on the span's grams

    cli.main(["--compact-substr-index", idx, "--master", "local[4]"])
    spark.catalog.refreshByPath(idx)
    after = (spark.read.option("recursiveFileLookup", "true")
             .option("mergeSchema", "true").parquet(idx))
    assert after.count() == n_distinct and "epoch" not in after.columns
    assert ckpt.open_artifact(spark, idx, "substr_index")[0] == {"k": DEFAULT_K}

    m = {r["doc_id"]: r for r in _epoch_substr_dedup(
        spark, _results(spark, [("c", f"z0 z1 {span}")]), idx, 2
    ).collect()}
    assert m["c"]["txt_clean"] == "z0 z1"
    assert m["c"]["words_removed"] == DEFAULT_K

    import pytest as _pytest
    with _pytest.raises(SystemExit):  # mutual exclusion, both orders
        cli.parse_args(["--compact-substr-index", idx, "--compact-lineage",
                        "--lineage", "l"])
    with _pytest.raises(SystemExit):
        cli.parse_args(["--compact-substr-index", idx, "--dedup-substrings",
                        "--input", "x", "--output", "y"])
