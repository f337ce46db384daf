"""Link graph + PageRank (operators/linkgraph.py): exact parity with an
independent pure-python integer PageRank, partitioning invariance, hub
semantics, and HTML edge extraction through the real parser."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pmocr_spark.operators import linkgraph as lg

EDGES = [
    # hub: everyone links h0; h0 links h1; chain h1->h2->h3; h4 dangling-in
    ("h1", "h0"), ("h2", "h0"), ("h3", "h0"), ("h4", "h0"),
    ("h0", "h1"), ("h1", "h2"), ("h2", "h3"),
]


def _ref_pagerank(edges, iters):
    nodes = sorted({n for e in edges for n in e})
    od = {}
    for s, _d in edges:
        od[s] = od.get(s, 0) + 1
    n = len(nodes)
    r = {v: 1000000 // n for v in nodes}
    tele = 150000 // n
    for _ in range(iters):
        nxt = {v: tele for v in nodes}
        for s, d in edges:
            nxt[d] += (850 * r[s]) // (1000 * od[s])
        r = nxt
    return {v: (r[v], od.get(v, 0)) for v in nodes}


@pytest.fixture(scope="module")
def edges_df(spark):
    return spark.createDataFrame(EDGES, "src string, dst string")


def test_pagerank_matches_python_reference(spark, edges_df):
    for iters in (1, 3, 10):
        got = {
            r["node"]: (r["rank_u"], r["out_degree"])
            for r in lg.pagerank(edges_df, iters=iters).collect()
        }
        assert got == _ref_pagerank(EDGES, iters), iters


def test_pagerank_partitioning_invariant(spark, edges_df):
    a = sorted(map(tuple, lg.pagerank(edges_df, iters=5).collect()))
    b = sorted(map(tuple, lg.pagerank(edges_df.repartition(7), iters=5).collect()))
    assert a == b


def test_hub_ranks_highest(spark, edges_df):
    ranks = {r["node"]: r["rank_u"] for r in lg.pagerank(edges_df, iters=10).collect()}
    assert ranks["h0"] == max(ranks.values())
    # dangling-in node h4 (no in-links) sits at the teleport floor
    assert ranks["h4"] == min(ranks.values())


def test_edges_from_html(spark):
    html_a = (
        b"<html><body><p>x</p>"
        b'<a href="http://other.example/page">o</a>'
        b'<a href="https://other.example:8080/p2">same host, port dropped</a>'
        b'<a href="/relative">no cross-host signal</a>'
        b'<a href="#frag">skip</a>'
        b'<a href="javascript:void(0)">skip</a>'
        b'<a href="http://site-a.example/self">self edge dropped</a>'
        b'<a href="http://USER@Third.Example/x">userinfo + case</a>'
        b"</body></html>"
    )
    blobs = spark.createDataFrame(
        [
            ("http://site-a.example/index", "html", bytearray(html_a)),
            ("site-b.example", "html",
             bytearray(b"<html><body><a href='http://site-a.example/'>b</a></body></html>")),
            ("site-c.example", "png", bytearray(b"\x89PNG not html")),
        ],
        "media_ref string, kind string, content binary",
    )
    got = {(r["src"], r["dst"]) for r in lg.edges_from_html(blobs).collect()}
    assert got == {
        ("site-a.example", "other.example"),
        ("site-a.example", "third.example"),
        ("site-b.example", "site-a.example"),
    }


def test_q50_pagerank_part_mass_and_shape(spark):
    """Gate-arm sanity at sf0.001: the scaffold is a 64-node permutation
    (every host out-degree 1), so ranks stay near 1e6/64 and total mass
    is conserved up to floor loss."""
    from pmocr_spark.queries import QUERY_FNS

    rows = (
        QUERY_FNS["q50_dup_components"](spark, "/root/testdata/sf0.001")
        .filter(F.col("part") == "pagerank")
        .collect()
    )
    assert all(r["value_b"] == 1 for r in rows)  # permutation: od == 1
    n = len(rows)
    total = sum(r["value_a"] for r in rows)
    assert 0.97 * 1000000 < total <= 1000000
    assert all(abs(r["value_a"] - 1000000 // n) < 0.01 * 1000000 for r in rows)


def test_cli_extract_links_then_pagerank(spark, tmp_path):
    from pmocr_spark import cli

    html = {
        "a.example": b"<html><body><a href='http://b.example/x'>b</a>"
                     b"<a href='http://c.example/y'>c</a></body></html>",
        "b.example": b"<html><body><a href='http://a.example/'>a</a></body></html>",
        "c.example": b"<html><body><a href='http://a.example/'>a</a></body></html>",
    }
    blobs = spark.createDataFrame(
        [(h, "html", bytearray(b)) for h, b in html.items()],
        "media_ref string, kind string, content binary",
    )
    src = str(tmp_path / "blobs.parquet")
    blobs.write.parquet(src)
    edges_out = str(tmp_path / "edges")
    cli.main(["--extract-links", "--blobs", src, "--output", edges_out,
              "--master", "local[2]"])
    ranks_out = str(tmp_path / "ranks")
    cli.main(["--pagerank", "--input", edges_out, "--output", ranks_out,
              "--pr-iters", "5", "--master", "local[2]"])
    ranks = {r["node"]: r["rank_u"] for r in spark.read.parquet(ranks_out).collect()}
    # a gets two in-links, b and c one each -> a ranks highest
    assert set(ranks) == {"a.example", "b.example", "c.example"}
    assert ranks["a.example"] == max(ranks.values())
    # library parity through the persisted edge table
    edges = [(r["src"], r["dst"]) for r in spark.read.parquet(edges_out).collect()]
    assert ranks == {v: r for v, (r, _od) in _ref_pagerank(edges, 5).items()}
    import pytest as _pytest
    with _pytest.raises(SystemExit):
        cli.main(["--pr-iters", "3", "--batch", "--input", "x", "--blobs", "y",
                  "--output", "z", "--lineage", "l", "--master", "local[2]"])


# ---------------------------------------------------------------------------
# anchor-text aggregation (round 5, eighth pass)
# ---------------------------------------------------------------------------


def test_anchor_topk_counts_and_ties(spark):
    data = [
        ("s", "t1", "alpha"), ("s", "t1", "alpha"), ("s", "t1", "beta"),
        ("s", "t1", "beta"), ("s", "t1", "gamma"), ("s", "t1", "delta"),
        ("s", "t2", "only"),
    ]
    df = spark.createDataFrame(data, "src string, dst string, anchor string")
    out = {(r["dst"], r["rk"]): (r["anchor"], r["cnt"])
           for r in lg.anchor_topk(df, k=3).collect()}
    # counts: alpha 2, beta 2, gamma 1, delta 1 -> top-3 by (cnt desc,
    # anchor asc) = alpha, beta, delta (delta < gamma lexically)
    assert out == {
        ("t1", 1): ("alpha", 2),
        ("t1", 2): ("beta", 2),
        ("t1", 3): ("delta", 1),
        ("t2", 1): ("only", 1),
    }
