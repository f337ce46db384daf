"""Persisted PQ index (operators/pq.py): codes + codebook-sidecar
round-trip, append-shaped incremental growth, and loud failure when the
codebook identity is missing or mismatched."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pmocr_spark.operators import pq

SF = "/root/testdata/sf0.001"


def _vn(spark):
    from pmocr_spark.queries import _norm_embeddings

    v = _norm_embeddings(spark, SF)
    return v.select("vec_id", F.transform("e", lambda x: x / F.col("nrm")).alias("en"))


def _shortlist(codes, tables, k=10):
    return {
        (r["query_id"], r["rk"]): (r["neighbor_id"], r["dist_int"])
        for r in pq.pq_adc_topk(codes, tables, topk=k).collect()
    }


def test_pq_index_roundtrip(spark, tmp_path):
    """write -> read returns the same codes and a codebook whose ADC
    shortlist is IDENTICAL to the in-memory path (the sidecar's JSON
    float repr must round-trip the centroid doubles exactly — a 1-ulp
    drift would flip rounded micro-unit distances)."""
    path = str(tmp_path / "pq_index")
    vn = _vn(spark)
    book = pq.pq_codebook(vn)
    codes = pq.pq_encode(vn.filter(F.col("vec_id") >= 10), book)
    pq.write_pq_index(codes, book, path)

    codes2, book2, meta = pq.read_pq_index(spark, path)
    assert meta["n_sub"] == pq.N_SUB and len(meta["centroids"]) == pq.N_CODES
    got = {r["vec_id"]: r["codes"] for r in codes2.collect()}
    want = {r["vec_id"]: r["codes"] for r in codes.collect()}
    assert got == want

    q = vn.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "en")
    assert _shortlist(codes2, pq.pq_query_tables(q, book2)) == _shortlist(
        codes, pq.pq_query_tables(q, book)
    )


def test_pq_index_incremental_append(spark, tmp_path):
    """Two batches encoded against the persisted codebook and appended
    == one-shot encode of the union: per-vector codes are independent,
    so growth is pure append (no merge/cap pass, unlike the MinHash
    index)."""
    path = str(tmp_path / "pq_index")
    vn = _vn(spark)
    book = pq.pq_codebook(vn)
    b1 = vn.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 250))
    b2 = vn.filter(F.col("vec_id") >= 250)
    pq.write_pq_index(pq.pq_encode(b1, book), book, path)

    _, book_r, _ = pq.read_pq_index(spark, path)
    pq.write_pq_index(pq.pq_encode(b2, book_r), book_r, path, mode="append")

    codes_all, book2, _ = pq.read_pq_index(spark, path)
    q = vn.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "en")
    oneshot = pq.pq_encode(vn.filter(F.col("vec_id") >= 10), book)
    assert _shortlist(codes_all, pq.pq_query_tables(q, book2)) == _shortlist(
        oneshot, pq.pq_query_tables(q, book)
    )


def test_pq_index_requires_sidecar_and_matching_geometry(spark, tmp_path):
    """Codes without the codebook sidecar are unusable -> ValueError,
    never a silent default; a geometry mismatch (index built by a
    different PQ configuration) is equally loud."""
    path = str(tmp_path / "pq_bare")
    vn = _vn(spark)
    book = pq.pq_codebook(vn)
    pq.pq_encode(vn.limit(20), book).write.parquet(path)  # no sidecar
    with pytest.raises(ValueError, match="sidecar"):
        pq.read_pq_index(spark, path)

    path2 = str(tmp_path / "pq_geom")
    pq.write_pq_index(pq.pq_encode(vn.limit(20), book), book, path2)
    from pmocr_spark import checkpoint as ckpt

    meta = ckpt.open_artifact(spark, path2, "pq_index")[0]
    meta["n_sub"] = 8
    ckpt.commit_artifact(spark, path2, "pq_index", meta, mode="append")
    with pytest.raises(ValueError, match="geometry"):
        pq.read_pq_index(spark, path2)


def test_pq_index_cli_lifecycle(spark, tmp_path):
    """CLI maintenance modes: build(b1) -> append(b2) -> probe gives the
    ADC shortlist of an in-memory one-shot over the union; with
    --rerank-vectors the output is the exact-cosine top-5 over that
    shortlist (q21 part='pq' end-to-end, driven from the CLI)."""
    from pmocr_spark import cli

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    emb.filter(F.col("vec_id") < 300).write.parquet(str(tmp_path / "b1"))
    emb.filter(F.col("vec_id") >= 300).write.parquet(str(tmp_path / "b2"))
    emb.filter(F.col("vec_id") < 10).write.parquet(str(tmp_path / "queries"))
    emb.write.parquet(str(tmp_path / "vecs"))
    idx = str(tmp_path / "pq_idx")

    cli.main(["--build-pq-index", idx, "--input", str(tmp_path / "b1"),
              "--master", "local[4]"])
    cli.main(["--append-pq-index", idx, "--input", str(tmp_path / "b2"),
              "--master", "local[4]"])
    cli.main(["--probe-pq-index", idx, "--input", str(tmp_path / "queries"),
              "--output", str(tmp_path / "hits"), "--master", "local[4]"])

    got = {(r["query_id"], r["rk"]): (r["neighbor_id"], r["dist_int"]) for r in
           spark.read.parquet(str(tmp_path / "hits")).collect()}
    vn = pq.normalize_embeddings(emb)
    book = pq.pq_codebook(vn)
    q = vn.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "en")
    want = _shortlist(pq.pq_encode(vn, book), pq.pq_query_tables(q, book), k=pq.SHORTLIST)
    assert got == want  # maintained index == one-shot encode of the union

    # every query's rank-1 ADC hit is itself (queries are IN the index) —
    # dist 0 beats everything on the unit sphere
    assert all(got[(i, 1)][0] == i for i in range(10))

    cli.main(["--probe-pq-index", idx, "--input", str(tmp_path / "queries"),
              "--output", str(tmp_path / "hits5"), "--rerank-vectors",
              str(tmp_path / "vecs"), "--pq-topk", "5", "--master", "local[4]"])
    rr = spark.read.parquet(str(tmp_path / "hits5"))
    assert rr.count() == 50 and set(rr.columns) == {"query_id", "neighbor_id", "rk", "cos_sim"}
    top1 = {r["query_id"]: (r["neighbor_id"], r["cos_sim"]) for r in
            rr.filter(F.col("rk") == 1).collect()}
    assert all(top1[i] == (i, 1.0) for i in range(10))  # exact cosine of self = 1

    # validation: mode exclusivity, missing args, orphan --rerank-vectors
    with pytest.raises(SystemExit):
        cli.parse_args(["--build-pq-index", idx, "--probe-pq-index", idx])
    with pytest.raises(SystemExit):
        cli.parse_args(["--probe-pq-index", idx, "--input", "x"])  # no --output
    with pytest.raises(SystemExit):
        cli.parse_args(["--build-pq-index", idx, "--build-dedup-index", idx])
    with pytest.raises(SystemExit):
        cli.parse_args(["--batch", "--rerank-vectors", "v", "--input", "i",
                        "--blobs", "b", "--output", "o", "--lineage", "l"])


def test_pq_build_rejects_codebookless_id_space(spark, tmp_path):
    """write_pq_index must fail LOUDLY — before writing any codes — when
    the input's vec_ids don't contain 0..N_CODES-1: pq_codebook takes
    the first N_CODES ids, so a table starting at id 1000 yields an
    empty codebook and every code/probe would be silently meaningless
    (review finding, round 4)."""
    vn = _vn(spark)
    shifted = vn.select((F.col("vec_id") + 1000).alias("vec_id"), "en")
    book = pq.pq_codebook(shifted)
    with pytest.raises(ValueError, match="0..15"):
        pq.write_pq_index(pq.pq_encode(shifted, book), book, str(tmp_path / "bad"))
    import os
    assert not os.path.exists(str(tmp_path / "bad"))  # nothing written


def test_pq_append_rejects_foreign_codebook(spark, tmp_path):
    """mode='append' must enforce the append contract, not trust it: a
    batch encoded against a freshly derived (different) codebook is
    positionally misaligned with every ADC table built from the sidecar,
    so the write is refused loudly (review finding, round 4)."""
    path = str(tmp_path / "pq_idx")
    vn = _vn(spark)
    book = pq.pq_codebook(vn)
    pq.write_pq_index(pq.pq_encode(vn.filter(F.col("vec_id") >= 10), book), book, path)

    # a codebook derived from a SHIFTED id space differs from the sidecar's
    other = pq.pq_codebook(
        vn.select((F.col("vec_id") + 3).alias("vec_id"), "en").filter(F.col("vec_id") < 16 + 3)
    )
    with pytest.raises(ValueError, match="does not match"):
        pq.write_pq_index(pq.pq_encode(vn, other), other, path, mode="append")

    # appending to a sidecar-less dir is refused too
    bare = str(tmp_path / "bare")
    pq.pq_encode(vn.limit(5), book).write.parquet(bare)
    with pytest.raises(ValueError, match="sidecar"):
        pq.write_pq_index(pq.pq_encode(vn.limit(5), book), book, bare, mode="append")


def test_cli_routed_probe_nprobe_full_equals_exhaustive(spark, tmp_path):
    """--ivf-nprobe with n_probe == n_cent probes EVERY cluster, so the
    routed shortlist must equal the exhaustive compressed scan exactly
    (the routing join partitions the corpus by cluster; probing all
    clusters is a partition-wise identity). A narrow probe
    (--ivf-nprobe 1) returns a SUBSET of candidates per query — the
    cost/recall trade the knob buys."""
    from pmocr_spark import cli

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    emb.write.parquet(str(tmp_path / "all"))
    emb.filter(F.col("vec_id") < 10).write.parquet(str(tmp_path / "queries"))
    idx = str(tmp_path / "pq_idx")
    cli.main(["--build-pq-index", idx, "--input", str(tmp_path / "all"),
              "--master", "local[4]"])
    cli.main(["--probe-pq-index", idx, "--input", str(tmp_path / "queries"),
              "--output", str(tmp_path / "h_ex"), "--master", "local[4]"])
    cli.main(["--probe-pq-index", idx, "--input", str(tmp_path / "queries"),
              "--output", str(tmp_path / "h_full"), "--ivf-nprobe", str(pq.N_IVF),
              "--master", "local[4]"])
    cli.main(["--probe-pq-index", idx, "--input", str(tmp_path / "queries"),
              "--output", str(tmp_path / "h_1"), "--ivf-nprobe", "1",
              "--master", "local[4]"])

    def hits(name):
        return {
            (r["query_id"], r["rk"]): (r["neighbor_id"], r["dist_int"])
            for r in spark.read.parquet(str(tmp_path / name)).collect()
        }

    ex, full, narrow = hits("h_ex"), hits("h_full"), hits("h_1")
    assert full == ex
    # nprobe=1 candidates are a per-query subset of the exhaustive scan's
    ex_by_q, n1_by_q = {}, {}
    for (q, _rk), (n, _d) in ex.items():
        ex_by_q.setdefault(q, set()).add(n)
    for (q, _rk), (n, _d) in narrow.items():
        n1_by_q.setdefault(q, set()).add(n)
    assert set(n1_by_q) == set(ex_by_q)
    # the rank-1 self-hit (dist 0) survives any routing that includes
    # the query's own cluster — nprobe >= 1 always does
    assert all(narrow[(i, 1)][0] == i for i in range(10))


def test_routed_probe_on_preclustering_index_is_loud(spark, tmp_path):
    """An index written WITHOUT routing state (e.g. by the q47 gate arm
    or a pre-round-5 build) must reject --ivf-nprobe loudly: with
    mergeSchema the cluster join would otherwise match nothing and
    silently return zero hits."""
    from pmocr_spark import cli

    vn = _vn(spark)
    book = pq.pq_codebook(vn)
    path = str(tmp_path / "unrouted")
    pq.write_pq_index(pq.pq_encode(vn, book), book, path)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    emb.filter(F.col("vec_id") < 5).write.parquet(str(tmp_path / "q"))
    with pytest.raises(SystemExit, match="predates IVF routing"):
        cli.main(["--probe-pq-index", path, "--input", str(tmp_path / "q"),
                  "--output", str(tmp_path / "h"), "--ivf-nprobe", "2",
                  "--master", "local[4]"])


def test_encode_cluster_ids_match_catalog_assignment(spark):
    """pq_encode(ivf_n_cent=8) must reproduce the catalog's
    _ivf_assign (same centroids = first 8 vectors, same cosine, same
    tie-break) — the persisted index's routing and q21/q22's in-catalog
    routing are ONE convention, so a CLI-built index answers the same
    cluster-restricted queries the catalog arm does."""
    from pmocr_spark.queries import _ivf_assign, _norm_embeddings

    v = _norm_embeddings(spark, SF)
    want = {r["vec_id"]: r["cluster_id"] for r in _ivf_assign(v).collect()}
    vn = _vn(spark)
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in pq.pq_encode(vn, pq.pq_codebook(vn), ivf_n_cent=pq.N_IVF)
        .select("vec_id", "cluster_id")
        .collect()
    }
    assert got == want


def _distortion(vn, book):
    """Exact float quantization distortion of `book` over `vn` (numpy)."""
    import numpy as np

    codes = {r["vec_id"]: r["codes"] for r in pq.pq_encode(vn, book).collect()}
    cent = np.array([list(c["ce"]) for c in book.collect()[0]["cs"]])
    tot = 0.0
    for r in vn.collect():
        en = np.array(r["en"])
        for m in range(pq.N_SUB):
            d = en[m * 4 : (m + 1) * 4] - cent[codes[r["vec_id"]][m], m * 4 : (m + 1) * 4]
            tot += float(d @ d)
    return tot


def test_train_codebook_reduces_distortion_and_matches_numpy(spark):
    """Lloyd training must (a) never increase quantization distortion
    (each step is optimal given the other — the textbook guarantee) and
    (b) match a pure-numpy reference of the same algorithm: assignment
    via the PRODUCTION encoder expression (integer micro-unit argmin,
    tie toward the smaller code), update = per-(subspace, code) mean,
    empty cells keep their centroid."""
    import numpy as np

    vn = _vn(spark)
    b0 = pq.pq_codebook(vn)
    b2 = pq.train_codebook(vn, iters=2)
    d0, d2 = _distortion(vn, b0), _distortion(vn, b2)
    assert d2 <= d0 and d2 < 0.9 * d0, (d0, d2)  # real improvement, not noise

    vecs = {r["vec_id"]: np.array(r["en"]) for r in vn.collect()}
    cent = np.array([vecs[i] for i in range(pq.N_CODES)])
    for _ in range(2):
        sums = np.zeros_like(cent)
        cnts = np.zeros((pq.N_CODES, pq.N_SUB))
        for en in vecs.values():
            for m in range(pq.N_SUB):
                sv = en[m * 4 : (m + 1) * 4]
                d = ((sv[None, :] - cent[:, m * 4 : (m + 1) * 4]) ** 2).sum(axis=1)
                d_int = np.round(d * 1e6).astype(np.int64)
                code = int(np.argmin(d_int * 100 + np.arange(pq.N_CODES)))
                sums[code, m * 4 : (m + 1) * 4] += sv
                cnts[code, m] += 1
        for c in range(pq.N_CODES):
            for m in range(pq.N_SUB):
                if cnts[c, m] > 0:
                    cent[c, m * 4 : (m + 1) * 4] = sums[c, m * 4 : (m + 1) * 4] / cnts[c, m]
    got = np.array([list(c["ce"]) for c in pq.train_codebook(vn, iters=2).collect()[0]["cs"]])
    assert np.allclose(got, cent, atol=1e-9)


def test_trained_codebook_index_lifecycle(spark, tmp_path):
    """--build-pq-index --train-codebook: the trained codebook persists
    in the sidecar, so probes need no flag and the loaded index answers
    with codes that match a direct encode under the same trained book."""
    from pmocr_spark import cli

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    emb.write.parquet(str(tmp_path / "all"))
    emb.filter(F.col("vec_id") < 10).write.parquet(str(tmp_path / "q"))
    idx = str(tmp_path / "pq_trained")
    cli.main(["--build-pq-index", idx, "--input", str(tmp_path / "all"),
              "--train-codebook", "--master", "local[4]"])
    cli.main(["--probe-pq-index", idx, "--input", str(tmp_path / "q"),
              "--output", str(tmp_path / "hits"), "--master", "local[4]"])
    got = {(r["query_id"], r["rk"]): (r["neighbor_id"], r["dist_int"]) for r in
           spark.read.parquet(str(tmp_path / "hits")).collect()}
    vn = pq.normalize_embeddings(emb)
    book = pq.train_codebook(vn, iters=2)
    q = vn.filter(F.col("vec_id") < 10).select(F.col("vec_id").alias("query_id"), "en")
    want = _shortlist(pq.pq_encode(vn, book), pq.pq_query_tables(q, book), k=pq.SHORTLIST)
    assert got == want
    # flag validation: build-only
    with pytest.raises(SystemExit):
        cli.parse_args(["--probe-pq-index", idx, "--input", "x", "--output", "y",
                        "--train-codebook"])
