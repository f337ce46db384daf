"""Link-graph construction + distributed PageRank (Page et al. '99) —
the host-level quality prior real crawl pipelines compute: CommonCrawl
publishes host/domain-level rank tables per crawl, and corpus-curation
stacks use them to weight or seed document selection (the quality knob
next to q24's content scores). Completes the WARC story: crawl shards
in (sources/warc.py), outlinks out, ranks over the host graph.

Spark-first shape:
  * edges_from_html: one pass over the html blobs — decode + parse
    (Arrow-batched pandas UDF over the stdlib extractor) → explode →
    host-level (src, dst) edges; one distinct to dedup. No shuffle
    beyond the dedup.
  * pagerank: the classic iterate — per round ONE equi-join of ranks
    onto edges (keyed on src) and ONE map-side-combined agg onto dst,
    lineage cut through iter_checkpoint (the q33/q50/bpe discipline).
    At 10^12 edges both legs are plain keyed shuffles; hot dst nodes
    (everyone links google.com) are absorbed by the agg's map-side
    combine — no per-key list ever materializes.

Exactness discipline (the BPE/DSIR lesson applied to an iterative
float algorithm): ranks live in integer MICRO-units. Teleport =
floor(150000/N) and each edge contribution = floor(850*r / (1000*od))
— all products stay far under 2^53, so the floor of the double
division is the exact integer floor on every engine and the rank
vector is bit-identical across partitionings, engines, and iteration
replays. Dangling mass (outdeg-0 nodes) is dropped, not redistributed
— documented standard simplification; total mass decays slightly but
ordering semantics (what the quality prior needs) are unaffected.

pmOCR analog: none; training-pipeline infrastructure per the build
brief. Under the driver gate as q50 part='pagerank' (2 chained
iterations stated in SQL); the general operator is pinned by
tests/test_linkgraph.py against an independent pure-python
implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import iter_checkpoint

#: damping in milli-units (0.85) and its teleport complement in
#: micro-units-per-total (0.15 * 1e6) — integers so the arithmetic
#: below is exact
DAMPING_MILLIS = 850
TELEPORT_MICRO = 150000
INIT_MICRO = 1000000


def _host(col):
    """Registrable-host extraction for link targets: scheme/userinfo
    stripped, port dropped, lowercased. Relative links (no scheme) have
    no host and return NULL — a document's relative outlinks stay
    within its own host and carry no cross-host signal."""
    return F.lower(
        F.regexp_extract(col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)", 1)
    )


def edges_from_html(
    blobs: DataFrame,
    src_host_col: str = "media_ref",
    content_col: str = "content",
) -> DataFrame:
    """html blobs -> distinct host-level (src, dst) edges. src is the
    blob's own host (from `src_host_col`, a URI or host string); dst
    hosts come from the document's absolute outlinks. Self-edges are
    dropped (they say nothing about cross-host quality)."""
    import pandas as pd
    from pyspark.sql import types as T

    from .html_extract import extract_links, sniff_html

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def links(content):
        out = []
        for blob in content:
            b = bytes(blob) if blob is not None else b""
            if not sniff_html(b):
                out.append([])
                continue
            try:
                out.append(extract_links(b.decode("utf-8", "replace")))
            except Exception:  # noqa: BLE001 — error-as-data: no links
                out.append([])
        return pd.Series(out, dtype=object)

    src = F.when(
        F.col(src_host_col).rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://"),
        _host(F.col(src_host_col)),
    ).otherwise(F.lower(F.col(src_host_col)))
    return (
        blobs.select(src.alias("src"), F.explode(links(F.col(content_col))).alias("href"))
        .select("src", _host(F.col("href")).alias("dst"))
        .filter((F.col("dst") != "") & F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .distinct()
    )


def anchor_topk(anchors: DataFrame, k: int = 3, dst: str = "dst", anchor: str = "anchor") -> DataFrame:
    """(dst, anchor, cnt, rk): the k most frequent anchor texts per
    target host — the aggregated how-the-web-names-this-page table
    (ties broken lexically so the cut is deterministic).

    Scale: ONE map-side-combined (dst, anchor) count agg folds the raw
    anchor stream (hot targets — everyone links google.com with the
    same few anchor strings — combine before the shuffle), then the
    top-k window partitions by dst over the already-aggregated table:
    per-host group size is DISTINCT anchor strings, Heaps-law small,
    never the raw link count. No global sort, no driver collect."""
    from pyspark.sql import Window

    counted = (
        anchors.groupBy(F.col(dst).alias("dst"), F.col(anchor).alias("anchor"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    w = Window.partitionBy("dst").orderBy(F.col("cnt").desc(), F.col("anchor"))
    return (
        counted.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    src: str = "src",
    dst: str = "dst",
    reliable: bool | None = None,
) -> DataFrame:
    """(node, rank_u, out_degree): integer micro-unit PageRank after
    `iters` rounds over distinct directed edges. Deterministic and
    partitioning-invariant by construction (see module docstring)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = iter_checkpoint(
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct(),
        reliable,
    )
    od = e.groupBy("src").agg(F.count("*").cast("long").alias("od"))
    tot = nodes.agg(F.count("*").alias("n"))
    r = iter_checkpoint(
        nodes.crossJoin(F.broadcast(tot)).select(
            "node", F.floor(F.lit(float(INIT_MICRO)) / F.col("n")).cast("long").alias("r")
        ),
        reliable,
    )
    teleport = F.floor(F.lit(float(TELEPORT_MICRO)) / F.col("n")).cast("long")
    for _ in range(iters):
        contrib = (
            e.join(r.withColumnRenamed("node", "src"), "src")
            .join(od, "src")
            .select(
                F.col("dst").alias("node"),
                F.floor(
                    (F.lit(DAMPING_MILLIS) * F.col("r")) / (F.lit(1000.0) * F.col("od"))
                )
                .cast("long")
                .alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        nxt = iter_checkpoint(
            nodes.crossJoin(F.broadcast(tot))
            .join(contrib, "node", "left")
            .select(
                "node",
                (teleport + F.coalesce(F.col("s"), F.lit(0))).cast("long").alias("r"),
            ),
            reliable,
        )
        r.unpersist()
        r = nxt
    out = r.join(od.withColumnRenamed("src", "node"), "node", "left").select(
        "node",
        F.col("r").alias("rank_u"),
        F.coalesce("od", F.lit(0)).cast("long").alias("out_degree"),
    )
    nodes.unpersist()
    return out
