"""BM25 retrieval (operators/bm25.py): exact parity with a pure-python
Okapi reference, the stop-term df cap, and the plan shape (broadcast
query side, no cartesian, partitioned top-k)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pmocr_spark.operators import bm25

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick blue hare sleeps"),
    (2, "brown bears eat fish and honey"),
    (3, "a lazy dog naps beside the fox den"),
    (4, "quick quick quick repetition document"),
    (5, "completely unrelated text about spark shuffles"),
]
QUERIES = [(100, ["quick", "fox"]), (200, ["brown", "honey"]), (300, ["the"])]


def _py_bm25(docs, queries, k1=1.2, b=0.75, topk=5):
    """Independent single-node reference: same tokenization, same
    ln(1+x) idf, same per-(term,doc) micro-rounding before the sum."""
    toks = {d: t.lower().strip().split() for d, t in docs}
    tf = {d: {} for d, _ in docs}
    for d, ws in toks.items():
        for w in ws:
            tf[d][w] = tf[d].get(w, 0) + 1
    df = {}
    for d in tf:
        for w in tf[d]:
            df[w] = df.get(w, 0) + 1
    n = len(docs)
    sum_dl = sum(len(ws) for ws in toks.values())
    out = {}
    for qid, terms in queries:
        scores = {}
        for t in set(terms):
            if t not in df:
                continue
            idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
            for d, ws in toks.items():
                if t not in tf[d]:
                    continue
                dl = len(ws)
                partial = (
                    1000000.0 * idf * (tf[d][t] * 2.2)
                    / (tf[d][t] + k1 * (0.25 + 0.75 * (dl * n) / sum_dl))
                )
                scores[d] = scores.get(d, 0) + int(round(partial))
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:topk]
        out[qid] = [(d, rk + 1, s) for rk, (d, s) in enumerate(ranked)]
    return out


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


@pytest.fixture(scope="module")
def queries_df(spark):
    rows = [(q, t) for q, ts in QUERIES for t in ts]
    return spark.createDataFrame(rows, "query_id long, term string")


def test_bm25_matches_python_reference(spark, docs_df, queries_df):
    got = {}
    for r in bm25.bm25_search(docs_df, queries_df).collect():
        got.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["rk"], r["score_u"])
        )
    for q in got:
        got[q].sort(key=lambda x: x[1])
    assert got == _py_bm25(DOCS, QUERIES)


def test_rarer_term_outscores_common(spark, docs_df, queries_df):
    """Sanity on the statistic itself: for query (quick, fox), doc 0
    (has BOTH terms) must rank first, and the unrelated doc 5 must not
    appear at all (no query term -> never scored)."""
    rows = bm25.bm25_search(docs_df, queries_df).filter(F.col("query_id") == 100)
    order = [r["doc_id"] for r in rows.orderBy("rk").collect()]
    assert order[0] == 0
    assert 5 not in order


def test_max_df_cap_drops_stopword_terms(spark, docs_df, queries_df):
    """'the' and 'quick' each hit 3/6 docs; a 0.4 cap (df_cap=2.4)
    drops both — query 300 ('the' alone) returns nothing, query 100
    still answers through its rarer 'fox' term."""
    capped = bm25.bm25_search(docs_df, queries_df, max_df_frac=0.4)
    by_q = {r["query_id"] for r in capped.collect()}
    assert 300 not in by_q
    assert 100 in by_q and 200 in by_q
    # and the capped scores for query 200 (no stopwords) are unchanged
    full = bm25.bm25_search(docs_df, queries_df)
    f2 = {(r["doc_id"], r["score_u"]) for r in full.filter("query_id = 200").collect()}
    c2 = {(r["doc_id"], r["score_u"]) for r in capped.filter("query_id = 200").collect()}
    assert f2 == c2


def test_plan_shape(spark, docs_df, queries_df):
    """The scale contract: query side broadcasts (postings never
    reshuffle onto queries), no real cartesian (the 1-row stats
    crossJoin is a broadcast), and the per-query top-k window is
    partitioned (no single-partition global window)."""
    from pmocr_spark.plans import shape

    df = bm25.bm25_search(docs_df, queries_df)
    assert shape.count_broadcast_joins(df) >= 2  # query terms + stats
    assert not shape.has_cartesian(df)
    assert shape.unpartitioned_window_args(df) == []


def test_scores_positive_and_deterministic(spark, docs_df, queries_df):
    a = bm25.bm25_search(docs_df, queries_df).collect()
    b = bm25.bm25_search(docs_df.repartition(7), queries_df).collect()
    key = lambda r: (r["query_id"], r["rk"])  # noqa: E731
    assert sorted(map(tuple, a), key=lambda t: (t[0], t[2])) == sorted(
        map(tuple, b), key=lambda t: (t[0], t[2])
    )
    assert all(r["score_u"] > 0 for r in a)


def test_persisted_index_matches_live_search(spark, docs_df, queries_df, tmp_path):
    """probe(write(docs)) == search over the live frames — same
    _score_topk path, same integers."""
    idx = str(tmp_path / "tix")
    bm25.write_text_index(docs_df, idx)
    live = {tuple(r) for r in bm25.bm25_search(docs_df, queries_df).collect()}
    persisted = {
        tuple(r)
        for r in bm25.search_text_index(spark, idx, queries_df).collect()
    }
    assert persisted == live


def test_append_equals_rebuild_over_union(spark, docs_df, queries_df, tmp_path):
    """The additive-growth contract: build(half1) + append(half2) must
    answer every query exactly like build(half1+half2) — postings, df
    partials, and sidecar stats all merge correctly."""
    idx = str(tmp_path / "tix2")
    h1 = docs_df.filter("doc_id < 3")
    h2 = docs_df.filter("doc_id >= 3")
    bm25.write_text_index(h1, idx)
    meta = bm25.write_text_index(h2, idx, mode="append")
    full_idx = str(tmp_path / "tix_full")
    full_meta = bm25.write_text_index(docs_df, full_idx)
    assert (meta["n_docs"], meta["sum_dl"]) == (
        full_meta["n_docs"], full_meta["sum_dl"])
    a = {tuple(r) for r in bm25.search_text_index(spark, idx, queries_df).collect()}
    b = {tuple(r) for r in bm25.search_text_index(spark, full_idx, queries_df).collect()}
    assert a == b


def test_read_without_sidecar_fails_loud(spark, docs_df, tmp_path):
    import pytest as _pytest

    idx = str(tmp_path / "tix3")
    bm25.write_text_index(docs_df, idx)
    import os
    os.remove(os.path.join(idx, bm25._META_NAME))
    with _pytest.raises(ValueError, match="sidecar"):
        bm25.read_text_index(spark, idx)


def test_append_to_unbuilt_dir_fails_loud(spark, docs_df, tmp_path):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="append"):
        bm25.write_text_index(docs_df, str(tmp_path / "nope"), mode="append")


def test_cli_text_index_lifecycle(spark, docs_df, tmp_path):
    from pmocr_spark import cli

    src = str(tmp_path / "docs.parquet")
    docs_df.write.parquet(src)
    idx = str(tmp_path / "cli_tix")
    cli.main(["--build-text-index", idx, "--input", src, "--master", "local[2]"])
    out = str(tmp_path / "hits")
    cli.main([
        "--search-text", idx, "--query", "quick fox, brown honey",
        "--output", out, "--search-topk", "3", "--master", "local[2]",
    ])
    hits = spark.read.parquet(out).collect()
    by_q = {}
    for r in hits:
        by_q.setdefault(r["query_id"], []).append(r)
    # query 0 = "quick fox": doc 0 (both terms) first
    assert min(by_q[0], key=lambda r: r["rk"])["doc_id"] == 0
    assert all(len(v) <= 3 for v in by_q.values())
    # --append-text-index: build over one half, append the other half;
    # --search-text then answers exactly like the index over all docs
    h1, h2 = str(tmp_path / "h1.parquet"), str(tmp_path / "h2.parquet")
    docs_df.filter("doc_id < 3").write.parquet(h1)
    docs_df.filter("doc_id >= 3").write.parquet(h2)
    grown = str(tmp_path / "cli_tix_grown")
    cli.main(["--build-text-index", grown, "--input", h1, "--master", "local[2]"])
    cli.main(["--append-text-index", grown, "--input", h2, "--master", "local[2]"])
    out2 = str(tmp_path / "hits_grown")
    cli.main([
        "--search-text", grown, "--query", "quick fox, brown honey",
        "--output", out2, "--search-topk", "3", "--master", "local[2]",
    ])
    assert {tuple(r) for r in spark.read.parquet(out2).collect()} == {
        tuple(r) for r in hits
    }
    # validation: search knobs outside --search-text fail fast
    import pytest as _pytest
    with _pytest.raises(SystemExit):
        cli.main(["--build-text-index", idx, "--input", src, "--query", "x",
                  "--master", "local[2]"])
    with _pytest.raises(SystemExit):
        cli.main(["--batch", "--search-text", idx, "--query", "x",
                  "--output", out, "--master", "local[2]"])


def test_phrase_search_exact_adjacency(spark):
    """Phrase retrieval: consecutive-token matches only, occurrences
    counted at token-start positions (overlapping repeats each count),
    bag-of-words co-occurrence does NOT match."""
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps"),
            (1, "quick paint brown on a brown quick wall"),  # scrambled: no phrase
            (2, "so quick brown then quick brown again"),    # two occurrences
            (3, "a b a b a"),                                 # overlap regime
            (4, "entirely different words"),
        ],
        "doc_id long, text string",
    )
    phrases = spark.createDataFrame(
        [(10, "quick brown"), (20, "a b a")], "query_id long, phrase string"
    )
    got = {
        (r["query_id"], r["doc_id"]): (r["n_matches"], r["rk"])
        for r in bm25.phrase_search(docs, phrases).collect()
    }
    assert got[(10, 2)] == (2, 1)   # two hits ranks first
    assert got[(10, 0)] == (1, 2)
    assert (10, 1) not in got       # co-occurrence without adjacency
    # token-level starts: 'a b a b a' contains 'a b a' at 0 AND 2
    assert got[(20, 3)] == (2, 1)
    assert all(q != 20 or d == 3 for q, d in got)


def test_phrase_search_case_and_empty(spark):
    docs = spark.createDataFrame(
        [(0, "Hello   World again"), (1, "")], "doc_id long, text string"
    )
    phrases = spark.createDataFrame(
        [(1, "hello world"), (2, "missing phrase")], "query_id long, phrase string"
    )
    got = bm25.phrase_search(docs, phrases).collect()
    # lowercased + \s+ collapse: 'Hello   World' matches 'hello world'
    assert [(r["query_id"], r["doc_id"], r["n_matches"]) for r in got] == [(1, 0, 1)]


def test_phrase_search_plan(spark):
    """The phrase-term join must broadcast the query side; no cartesian
    over the corpus."""
    from pmocr_spark.plans import shape

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    phrases = spark.createDataFrame([(1, "quick brown")], "query_id long, phrase string")
    p = shape.formatted_plan(bm25.phrase_search(docs, phrases))
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p, p
    assert "BatchEvalPython" not in p


def test_search_phrase_cli(spark, tmp_path):
    """--search-phrase maintenance mode: comma-separated phrases against
    a documents table; mode guards."""
    from pmocr_spark import cli

    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(DOCS, "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "hits")
    cli.main([
        "--search-phrase", "quick brown fox, lazy dog",
        "--input", src, "--output", out, "--master", "local[2]",
    ])
    got = {(r["query_id"], r["doc_id"]): r["n_matches"]
           for r in spark.read.parquet(out).collect()}
    assert got == {(0, 0): 1, (1, 0): 1, (1, 3): 1}

    import pytest as _pytest
    with _pytest.raises(SystemExit):  # no --output
        cli.parse_args(["--search-phrase", "x y", "--input", src])
    with _pytest.raises(SystemExit):  # mode mixing
        cli.parse_args(["--search-phrase", "x y", "--batch",
                        "--input", src, "--output", out])
    with _pytest.raises(SystemExit):  # topk guard
        cli.parse_args(["--search-phrase", "x y", "--input", src,
                        "--output", out, "--search-topk", "0"])


def test_q21_mrr_arm_classes_and_summary(spark):
    """MRR arm: per-query rows cover hits AND misses on the gate
    corpus; the summary row equals the integer mean of the per-query
    micro reciprocal ranks; score is always 1000000 div rk for hits."""
    from pyspark.sql import functions as F

    from pmocr_spark.queries import QUERY_FNS

    rows = (
        QUERY_FNS["q21_ann_bruteforce"](spark, "/root/testdata/sf0.001")
        .filter(F.col("part") == "mrr")
        .collect()
    )
    per_q = [r for r in rows if r.query_id >= 0]
    summ = [r for r in rows if r.query_id == -1]
    assert len(summ) == 1 and summ[0].rk == len(per_q)
    assert any(r.rk > 0 for r in per_q) and any(r.rk == 0 for r in per_q)
    for r in per_q:
        assert r.neighbor_id == r.query_id
        assert r.score == (1000000 // r.rk if r.rk else 0)
    assert summ[0].score == sum(int(r.score) for r in per_q) // len(per_q)
