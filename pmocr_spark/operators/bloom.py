"""Distributed Bloom-filter membership index — the cheap first pass of
incremental dedup at corpus scale.

At 10^12 documents the question "have I ingested this content before?"
is asked once per incoming document, and the exact answer (an anti-join
against the full seen-keys table) costs a corpus-sized shuffle per
batch. A Bloom filter answers "definitely new" for the vast majority of
genuinely-new documents with ZERO shuffle: k deterministic hash
positions per key, a set-bits table small enough to broadcast, and a
map-only membership test. Only the maybe-member minority proceeds to
the exact index probe (operators/dedup_index.py) — the standard
two-tier shape (Bloom pre-filter -> exact verify) used by every
at-scale ingest pipeline. pmOCR analog: the `is already processed`
filename check (pmocr.sh:2126-2144) generalized to content identity
with bounded memory.

Representation: the filter is stored RELATIONALLY as the distinct set
of set-bit positions (`pos: long`), not as a packed bitmap. That makes
build/merge/probe pure DataFrame algebra (explode + distinct;
union; join), keeps the artifact append-mergeable by construction
(Bloom OR == UNION of position sets), and lets the same parquet file
serve both the broadcast path and the partitioned-join fallback. A
packed bitmap (m/8 bytes) is denser once fill exceeds ~1/64, but it
needs custom byte-OR merge logic and cannot be equi-joined; at the fill
levels a dedup pre-filter runs at (<= 50%), the positions table is at
most m/2 rows of 8 bytes and broadcasts fine up to m ~ 2^27. For
larger m, `broadcast_bits=False` probes via a position-partitioned
equi-join instead — same results, one shuffle.

Sizing (public Bloom math): FP rate p ~= (1 - e^(-k*n/m))^k; for p = 1%
use m ~= 9.6*n bits, k = 7. The defaults here (m = 2^16, k = 4) are
test-scale; the CLI exposes --bloom-m/--bloom-k.

Determinism: position i of key s is
    ('0x' || substr(md5(i || '|' || s), 1, 8)) % m
— byte-identical in Spark (conv(substring(md5(...)))), DuckDB (the
oracle), and hashlib (the pytest reference), so verdicts, INCLUDING
false positives, are reproducible across engines and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import checkpoint as ckpt

#: default filter geometry (test-scale; size via the p ~= (1-e^(-kn/m))^k
#: formula in production — the CLI and every function take overrides)
BLOOM_M = 1 << 16
BLOOM_K = 4


def bloom_positions(key: Column, m: int = BLOOM_M, k: int = BLOOM_K) -> list[Column]:
    """The k set-bit positions of `key` (a string column) — pure codegen
    (md5 + substring + conv), no Python. Formula pinned in the module
    docstring; tests/test_bloom.py holds the hashlib twin."""
    return [
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{i}|"), key).cast("binary")), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % m
        for i in range(k)
    ]


def bloom_build(
    keys: DataFrame, key_col: str = "key", m: int = BLOOM_M, k: int = BLOOM_K
) -> DataFrame:
    """Build the set-bits table from a frame of member keys: ONE explode
    (xk row amplification, map-side) + ONE distinct (the only shuffle,
    map-side partial dedup first). Output: (pos: long), <= min(m, n*k)
    rows. Merging two filters with the same (m, k) is plain
    union+distinct — write_bloom_index(mode='append') relies on this."""
    return (
        keys.select(
            F.explode(F.array(*bloom_positions(F.col(key_col), m, k))).alias("pos")
        )
        .distinct()
    )


def bloom_probe(
    probe: DataFrame,
    bits: DataFrame,
    key_col: str = "key",
    m: int = BLOOM_M,
    k: int = BLOOM_K,
    broadcast_bits: bool = True,
) -> DataFrame:
    """Membership test: adds (n_set: long, maybe_member: long) to every
    probe row. maybe_member=0 is definitive (no false negatives);
    maybe_member=1 means "run the exact check".

    broadcast_bits=True (default): k broadcast-hash left joins, one per
    hash position — ZERO exchanges on the probe side (plan-pinned), the
    verdict never leaves the row. Right side is the deduped bits table
    (<= m rows). This is the 100 TB hot path while set-bits fit the
    broadcast budget (m to ~2^27).

    broadcast_bits=False: posexplode the k positions, position-
    partitioned left equi-join, count matches back per probe row — two
    shuffles, no size ceiling. Same verdict, bit for bit."""
    cols = probe.columns
    if broadcast_bits:
        out = probe
        matched = []
        for i, pos in enumerate(bloom_positions(F.col(key_col), m, k)):
            b = F.broadcast(bits.select(F.col("pos").alias(f"_bp{i}")))
            out = out.join(b, pos == F.col(f"_bp{i}"), "left")
            matched.append(F.col(f"_bp{i}").isNotNull().cast("long"))
        n_set = sum(matched[1:], matched[0])
        return out.select(
            *cols,
            n_set.alias("n_set"),
            (n_set == k).cast("long").alias("maybe_member"),
        )
    exploded = probe.select(
        *cols,
        F.explode(F.array(*bloom_positions(F.col(key_col), m, k))).alias("pos"),
    )
    hits = exploded.join(bits.withColumn("_hit", F.lit(1)), "pos", "left")
    return (
        hits.groupBy(*cols)
        .agg(F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_set"))
        .select(
            *cols, "n_set", (F.col("n_set") == k).cast("long").alias("maybe_member")
        )
    )


def write_bloom_index(
    bits: DataFrame,
    path: str,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
    mode: str = "overwrite",
) -> None:
    """Commit the set-bits table with its (m, k) geometry as params
    (checkpoint.commit_artifact). (m, k) are part of the artifact's
    identity — positions computed under a different m are meaningless
    against these bits, so append REFUSES a geometry mismatch instead
    of silently merging garbage (the write_pq_index contract). Append
    is the Bloom OR: one more generation of position rows;
    compact_bloom_index rewrites them distinct."""
    spark = bits.sparkSession
    if mode == "append":
        meta, _paths = ckpt.open_artifact(spark, path, "bloom_index", "append to")
        if (meta["m"], meta["k"]) != (m, k):
            raise ValueError(
                f"Bloom geometry mismatch: index at {path} was built with "
                f"(m={meta['m']}, k={meta['k']}), this append has ({m}, {k}) "
                "— positions from different geometries must never be merged."
            )
    ckpt.commit_artifact(spark, path, "bloom_index", {"m": m, "k": k}, {"bits": bits}, mode=mode)


def read_bloom_index(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """Load (bits, meta). Appended generations may hold duplicate
    positions (harmless for probing — the broadcast path hashes them
    away, the join path would double-count, so we dedup here; compact
    to make it free)."""
    meta, paths = ckpt.open_artifact(spark, path, "bloom_index", "read")
    return spark.read.parquet(*paths["bits"]).select("pos").distinct(), meta


def compact_bloom_index(spark: SparkSession, path: str) -> int:
    """Rewrite the index distinct (drop append duplicates) as one
    generation. Returns the compacted position count. Same policy as
    the dedup-index compaction: dedup is cheap at compaction time, free
    at probe time after — never a collect, so it holds at production m."""
    bits, meta = read_bloom_index(spark, path)
    write_bloom_index(bits, path, m=meta["m"], k=meta["k"])
    return read_bloom_index(spark, path)[0].count()
