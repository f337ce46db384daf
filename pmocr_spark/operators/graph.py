"""Distributed connected components over a DataFrame edge list.

Why this exists: near-dup candidate edges (MinHash/LSH, q18) are not
transitive, so dedup needs connected components to pick ONE keeper per
duplicate cluster (q50). Spark has no built-in CC; plain min-label
propagation converges in O(max component diameter) rounds — fine for
shallow dup clusters (stars/cliques), but a pathological chain component
(e.g. 200 boilerplate docs each near-dupping only its neighbors) needs
200 rounds. This module implements the alternating large-star /
small-star algorithm (Kiveris et al., "Connected Components in MapReduce
and Beyond", SoCC'14), which contracts every component onto its minimum
node in O(log^2 n) rounds regardless of diameter — the round-2 verdict's
named 100 TB fix for q50's convergence budget.

Each round is two star operations; each star op is one groupBy + one
join, both keyed on the node id (co-partitioned, map-side combinable).
The driver-side loop reads only a 2-scalar checksum per round, never
rows. pmOCR has no graph analog (its dedup is path-identity only); this
is a training-data-pipeline operator per the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import reliable_checkpoint


def iter_checkpoint(df: DataFrame, reliable: bool | None = None) -> DataFrame:
    """Lineage truncation for iterative DataFrame algorithms.

    localCheckpoint (the default) materializes blocks on EXECUTORS:
    fast, but an executor loss mid-iteration loses blocks and fails the
    job — acceptable in local mode and short loops, not on a 1000-node
    cluster. reliable=True uses DataFrame.checkpoint(), which writes to
    the fault-tolerant FS configured via
    ``spark.sparkContext.setCheckpointDir`` (HDFS/S3): survives executor
    loss at the cost of one write+read per iteration.

    reliable=None resolves from the PMOCR_RELIABLE_CHECKPOINT env var so
    a cluster deployment flips every iterative query (q50/q51) to the
    cluster-safe path without code changes.

    Disk hygiene on the reliable path: session.get_spark sets
    spark.cleaner.referenceTracking.cleanCheckpoints=true, so each
    round's checkpoint files are deleted once the previous round's
    frame is unreferenced — a 15-round run does not hold 15 edge-set
    copies on HDFS/S3.
    """
    if reliable is None:
        reliable = reliable_checkpoint()
    return df.checkpoint(eager=True) if reliable else df.localCheckpoint(eager=True)


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star: every node u connects its LARGER neighbors to
    m = min(N(u) ∪ {u}). Emitted edges are (v, m) with v > m, so the
    output stays high->low oriented."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        sym.filter(F.col("dst") > F.col("src"))
        .join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: orient edges high->low; every node u connects its
    smaller neighbors (and itself) to m = min(N(u)). Output stays
    high->low oriented, self-loops dropped."""
    o = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    mins = o.groupBy("src").agg(F.min("dst").alias("m"))
    joined = o.join(mins, "src")
    to_smaller = joined.filter(F.col("dst") != F.col("m")).select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    to_self = mins.select("src", F.col("m").alias("dst"))
    return to_smaller.unionByName(to_self).distinct()


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
    reliable: bool | None = None,
) -> DataFrame:
    """Connected components of the undirected graph given by `edges`.

    Returns (node, label) where label = the minimum node id in the
    component — every node that appears in any edge gets a row.

    Alternates large-star / small-star until the edge set reaches its
    fixpoint (a forest of stars, each rooted at the component minimum):
    O(log^2 n) rounds for ANY graph shape, including long chains that
    defeat plain min-label propagation. Convergence is detected with a
    2-scalar checksum (count + xxhash64 sum) — the only thing the driver
    ever reads. max_rounds is a loud-failure guard far above the bound
    (log2(10^12)^2 / 2 ≈ 20 alternations); exceeding it raises instead of
    returning wrong labels.

    `reliable` — see iter_checkpoint: localCheckpoint per round by
    default, fault-tolerant DataFrame.checkpoint() when True (or when
    PMOCR_RELIABLE_CHECKPOINT=1), which a real cluster run should set
    together with sparkContext.setCheckpointDir.
    """
    if reliable is None:
        reliable = reliable_checkpoint()
    base = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    # round 6: LAZY localCheckpoint per round (eager=False) — the
    # convergence agg below is the materializing action, so the eager
    # materialization pass the old code ran per round was one
    # pure-scheduling job (2 jobs/round -> 1), while the checkpoint
    # still truncates lineage every round (a persist-chain instead
    # compounds the star plans ~6x per round: each round references its
    # parent 3-6 times, and the q50 plan grew to ~576k lines before
    # this was caught). The reliable (cluster) path keeps its eager
    # fault-tolerant checkpoint-per-round contract unchanged.
    e = iter_checkpoint(base, True) if reliable else base.localCheckpoint(eager=False)
    prev_sig: tuple | None = None
    converged = False
    for i in range(max_rounds):
        ne = _small_star(_large_star(e))
        ne = iter_checkpoint(ne, True) if reliable else ne.localCheckpoint(eager=False)
        # pmod keeps each term < 2^31 so the sum can't overflow a long
        # under ANSI mode before ~2^32 edges (and the count would differ
        # long before a modular-sum collision mattered)
        row = ne.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.sum(F.pmod(F.xxhash64("src", "dst"), F.lit(2**31))), F.lit(0)
            ).alias("sig"),
        ).collect()[0]
        e.unpersist()  # ne is materialized; the parent cache is done
        e = ne
        sig = (row["n"], row["sig"])
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds — "
            "raise max_rounds (the bound is O(log^2 n); this many rounds "
            "suggests a bug or an adversarial input, not normal data)"
        )
    members = e.select(F.col("src").alias("node"), F.col("dst").alias("label"))
    roots = (
        e.select(F.col("dst").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    # at the fixpoint each member appears in exactly one star; the min()
    # is belt-and-braces against a node being both a root and a member
    # of nothing else
    return members.unionByName(roots).groupBy("node").agg(
        F.min("label").alias("label")
    )
