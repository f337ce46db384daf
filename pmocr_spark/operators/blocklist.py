"""Domain-blocklist URL filtering (the UT1 / RefinedWeb §G.1 step).

Every public web-corpus pipeline drops documents whose host matches a
curated blocklist (UT1's adult/ads/malware categories; RefinedWeb and
CCNet both gate on it) with DOMAIN-SUFFIX semantics: an entry
`example.com` blocks `example.com` AND every subdomain
(`ads.example.com`, `a.b.example.com`) — exact-host matching would miss
the mirror farms the lists exist for. pmOCR analog: the extension
allow-list (pmocr.sh:1514-1520, FILES_TO_PROCES) generalized from
"which files enter" to "which origins enter".

Relational form: a host's suffix chain has at most as many entries as
dot-separated labels (~5), so the match is
    explode(host_suffixes) ⋈ blocklist
— never a LIKE scan over the list. Two regimes:

* `blocklist_verdict_lit` — the blocklist as a LITERAL array
  (`array_intersect`, pure whole-stage codegen, ZERO shuffles, zero
  row amplification). Right while the list fits in the plan (~10^4
  entries); this is the q40 part='blocklist' gate arm.
* `blocklist_filter` — the blocklist as a broadcast DataFrame
  (UT1 is ~4M entries: far past literal-plan size, far under broadcast
  budget). Explode + broadcast-hash join + one groupBy(doc) to fold
  matches back; matched categories are collected per doc. At 10^12
  docs the explode is bounded x5 and the join is map-side; the one
  shuffle keys on the same doc_id the pipeline already partitions by.
  No engine path calls it yet; the tests use it to cross-check the
  literal regime.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def host_suffixes(host: Column) -> Column:
    """All dot-suffix chains of a (lowercased) host, most-specific
    first: 'ads.b.example.com' -> ['ads.b.example.com',
    'b.example.com', 'example.com', 'com']. Pure codegen (split +
    transform/slice), no Python."""
    h = F.lower(host)
    parts = F.split(h, "\\.")
    n = F.size(parts)
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(parts, i, n - i + 1), "."),
    )


def blocklist_verdict_lit(host: Column, blocked: list[str]) -> Column:
    """Number of blocklist entries the host's suffix chain hits, with
    the list inlined as a plan literal — map-only, zero shuffles.
    keep = (this == 0)."""
    lit = F.array(*[F.lit(b.lower()) for b in blocked])
    return F.size(F.array_intersect(host_suffixes(host), lit))


def blocklist_filter(
    df: DataFrame,
    host_col: str,
    blocklist: DataFrame,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """The big-list regime: `blocklist` is (domain: string, category:
    string). Returns `id_cols` (default: every df column except the
    host) + (host, n_blocked, categories array sorted, keep). Explode
    the suffix chain, broadcast-hash join the list, fold back per doc —
    matched-category provenance comes along for free (UT1 users route
    on it: adult -> drop, ads -> strip)."""
    ids = id_cols if id_cols is not None else [c for c in df.columns if c != host_col]
    # two-step select: aliasing to "host" in the same projection that
    # explodes it trips lateral-column-alias resolution when host_col
    # is itself named "host"
    lowered = df.select(*ids, F.lower(F.col(host_col)).alias("host"))
    ex = lowered.select(
        *ids, "host", F.explode(host_suffixes(F.col("host"))).alias("sfx")
    )
    bl = F.broadcast(
        blocklist.select(F.lower(F.col("domain")).alias("sfx"), "category")
    )
    return (
        ex.join(bl, "sfx", "left")
        .groupBy(*ids, "host")
        .agg(
            F.count("category").cast("long").alias("n_blocked"),
            # collect_list drops the left-join NULLs of unblocked rows
            F.array_sort(F.collect_list("category")).alias("categories"),
        )
        .withColumn("keep", (F.col("n_blocked") == 0).cast("long"))
    )
