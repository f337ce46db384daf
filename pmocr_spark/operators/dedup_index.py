"""Incremental MinHash/LSH dedup against a persisted index.

A training-data pipeline rarely deduplicates one static corpus once: new
crawl batches arrive and must be checked against EVERYTHING ingested so
far. Recomputing signatures for the whole corpus per batch is O(corpus)
per batch; the right shape is a persisted banded-signature index:

    write_index(build_index(corpus_docs), path)     # once, O(corpus)
    index, params = read_index(spark, path)
    new_bands = build_index(new_docs)           # per batch, O(batch)
    hits = probe_index(new_docs, index, new_bands=new_bands,
                       index_params=params)
    keep = new_bands.join(hits.select("doc_id"), "doc_id", "left_anti")
    write_index(keep, path, **params, mode="append")  # one new generation
    write_index(cap_index(index.distinct()), path, **params)  # periodically

    The index's banding parameters (n_hashes/band_size) are part of its
    identity: write_index commits them as the index's params
    (checkpoint.commit_artifact: a crash at any step leaves the previous
    commit), read_index hands them back, and probe_index(index_params=...)
    raises on a mismatch. After the build, every write but compaction
    appends one generation; no row records which write or epoch added it.

Scale notes (100 TB): the index has n_bands rows per doc and is joined
on (band, key) — store it bucketed by those columns (see
operators/bucketed.py) and the probe's shuffle disappears on the index
side; a batch-small probe side broadcasts (broadcast_probe=True), a
corpus-sized one (backfill, self-probe) must NOT — default to no hint
and let AQE pick at runtime. Hot buckets
(boilerplate floods) are capped exactly like the one-shot q18 path: a
bucket with > max_bucket members is near-pure false-positive mass and
would cost k²/2 join fan-out.

This module is also the single home of the shingle/minhash/band
construction — queries.py (q17/q18/q58/q59 and the shingle helper)
delegates here so the subtle arrays_zip/null-tail idiom exists once.

pmOCR has no content-dedup analog (its work-avoidance is path identity,
pmocr.sh:2126-2144); this is a training-data-pipeline operator per the
build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import checkpoint as ckpt

#: one-shot q18 parity: 12 hashes in 4 bands of 3, buckets capped at 100
N_MINHASH = 12
BAND_SIZE = 3
MAX_BAND_BUCKET = 100


def tokens_col(text_col: str = "text"):
    """Lower-cased whitespace tokens of a text column (the engine's
    canonical tokenization — mirrors the DuckDB oracle's
    string_split_regex(lower(trim(text)), '\\s+'))."""
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def ngram_rows(
    d: DataFrame, n_words: int, alias: str = "ng", id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exploded word n-grams: (id_col, <alias>).

    Shuffle-free construction shared by shingling (n=3), bigram LM
    counts (n=2) and contamination 4-grams: zip the token array against
    its own 1..n-1-shifted slices (arrays_zip + slice — codegen'd array
    ops), explode, drop the null-padded tail (which also drops docs with
    < n tokens). All tokens of a doc live in its one input row, so no
    Window/shuffle is needed to pair neighbors."""
    n = F.size(F.col("w"))
    fields = [F.col("w").alias("t0")] + [
        F.slice("w", k + 1, F.greatest(n - k, F.lit(0))).alias(f"t{k}")
        for k in range(1, n_words)
    ]
    return (
        d.select(F.col(id_col).alias(id_col), tokens_col(text_col).alias("w"))
        .select(id_col, F.explode(F.arrays_zip(*fields)).alias("s"))
        .filter(F.col(f"s.t{n_words - 1}").isNotNull())
        .select(
            id_col,
            F.concat_ws(" ", *[f"s.t{k}" for k in range(n_words)]).alias(alias),
        )
    )


def minhash_bands(
    shingles: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "shingle",
    n_hashes: int = N_MINHASH,
    band_size: int = BAND_SIZE,
    max_bucket: int | None = MAX_BAND_BUCKET,
) -> DataFrame:
    """Banded MinHash signature rows (id, band, key) from exploded
    shingles. One groupBy(id) computes all n_hashes min-hashes as agg
    columns (no row amplification); bands of band_size hashes md5-fold
    into one key. Buckets with > max_bucket members are dropped (None
    disables the cap) — they are boilerplate floods whose k²/2 join
    fan-out buys almost no true positives."""
    mins = [
        F.min(
            F.md5(F.concat(F.lit(f"{i}|"), F.col(shingle_col)).cast("binary"))
        ).alias(f"mh{i}")
        for i in range(n_hashes)
    ]
    sig = shingles.groupBy(id_col).agg(*mins)
    band_cols = []
    for b in range(n_hashes // band_size):
        parts = [F.col(f"mh{b * band_size + j}") for j in range(band_size)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat(F.lit(f"{b}|"), *parts).cast("binary")).alias("key"),
            )
        )
    bands = sig.select(id_col, F.explode(F.array(*band_cols)).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    if max_bucket is not None:
        big = (
            bands.groupBy("band", "key")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > max_bucket)
            .select("band", "key")
        )
        bands = bands.join(big, ["band", "key"], "left_anti")
    return bands


def build_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", **band_kwargs
) -> DataFrame:
    """(id, band, key) index rows for a document frame: 3-gram shingles
    -> banded MinHash. Persist the result as the corpus dedup index
    (bucket by (band, key) for shuffle-free probes at scale).

    No shingle distinct (round 4): duplicate shingles cannot change a
    min-hash, and the signature groupBy's map-side combiner absorbs them
    — the former .distinct() was a full exchange of the largest
    intermediate for identical output."""
    sh = ngram_rows(docs, 3, "shingle", id_col=id_col, text_col=text_col)
    return minhash_bands(sh, id_col=id_col, **band_kwargs)


def probe_index(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    new_bands: DataFrame | None = None,
    broadcast_probe: bool | None = None,
    index_params: dict | None = None,
    **band_kwargs,
) -> DataFrame:
    """Near-dup hits of a NEW batch against the persisted index:
    (doc_id, dup_of, n_bands) — one row per (new doc, indexed doc) pair
    sharing >= 1 band bucket, with the shared-bucket count as a crude
    confidence. Self-matches (same id on both sides, e.g. probing the
    corpus against its own index) are excluded.

    Join strategy — `broadcast_probe` (the round-3 verdict's scale fix;
    the old unconditional broadcast OOMs when a backfill batch is
    corpus-sized):
      * True  — force-broadcast the probe side. Right when the batch is
        known-small (the steady-state incremental regime).
      * False/None (default) — no hint: AQE picks broadcast at runtime
        iff the built probe side is actually under the threshold, else a
        shuffled join. With a (band,key)-bucketed index table the index
        side still never shuffles (operators/bucketed.py recipe).
        Corpus-sized probes (q47's self-probe, backfills) MUST take
        this path.

    Pass `new_bands` (from build_index over the same docs) to reuse the
    signature computation across probe and merge — the docstring recipe
    would otherwise pay the shingle->minhash->band pipeline twice per
    batch.

    The banding parameters must match the ones the index was built
    with. Pass `index_params` (the dict read_index returns) to validate
    them exactly — a mismatch (even a same-band-count one like 12/3 vs
    8/2) would silently find nothing."""
    effective = {
        "n_hashes": band_kwargs.get("n_hashes", N_MINHASH),
        "band_size": band_kwargs.get("band_size", BAND_SIZE),
    }
    if index_params is not None:
        stored = {k: index_params.get(k) for k in ("n_hashes", "band_size")}
        if stored != effective:
            raise ValueError(
                f"index was built with {stored} but the probe uses "
                f"{effective} — probe with the parameters the index was "
                "built with (read_index returns them)"
            )
    if new_bands is None:
        new_bands = build_index(new_docs, id_col=id_col, text_col=text_col, **band_kwargs)
    idx = index.select(
        F.col(id_col).alias("dup_of"), F.col("band").alias("band"), F.col("key").alias("key")
    )
    probe_side = F.broadcast(new_bands) if broadcast_probe else new_bands
    return (
        idx.join(probe_side, ["band", "key"])
        .filter(F.col(id_col) != F.col("dup_of"))
        .groupBy(id_col, "dup_of")
        .agg(F.count("*").cast("long").alias("n_bands"))
    )


def write_index(
    index: DataFrame,
    path: str,
    n_hashes: int = N_MINHASH,
    band_size: int = BAND_SIZE,
    max_bucket: int | None = MAX_BAND_BUCKET,
    mode: str = "overwrite",
) -> None:
    """Commit an index WITH its banding parameters
    (checkpoint.commit_artifact): the (band, key) values are meaningless
    without n_hashes/band_size (probing with different ones silently
    finds nothing), so they are the artifact's params, and read_index
    hands them back so later batch jobs probe with the right ones."""
    ckpt.commit_artifact(
        index.sparkSession, path, "dedup_index",
        {"n_hashes": n_hashes, "band_size": band_size, "max_bucket": max_bucket},
        {"bands": index}, mode=mode,
    )


def read_index(spark, path: str) -> tuple[DataFrame, dict]:
    """Load the committed index and its banding parameters. Returns
    (index, params); pass `**params` (minus max_bucket if probing an
    uncapped build) as band_kwargs to probe_index/build_index so the
    new batch is banded the way the index was."""
    params, paths = ckpt.open_artifact(spark, path, "dedup_index", "read")
    return spark.read.parquet(*paths["bands"]), params


def cap_index(
    index: DataFrame, max_bucket: int | None = MAX_BAND_BUCKET, id_col: str = "doc_id"
) -> DataFrame:
    """Drop rows in hot (band, key) buckets with > max_bucket DISTINCT
    members — the periodic compaction pass. One groupBy over the index
    plus an anti-join; run it at compaction, not per append. Distinct,
    not count(*): a stream-accumulated index can hold the same (id,
    band, key) in several generations (a re-dropped file re-bands in
    its new epoch), and row counting would read a 60-doc bucket as 120
    and wrongly drop it."""
    if max_bucket is None:
        return index
    big = (
        index.groupBy("band", "key")
        .agg(F.count_distinct(F.col(id_col)).alias("n"))
        .filter(F.col("n") > max_bucket)
        .select("band", "key")
    )
    return index.join(big, ["band", "key"], "left_anti")

