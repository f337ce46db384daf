"""Exact substring (k-word-gram) deduplication across a document corpus.

Doc-level dedup (q16 exact hash, q18 MinHash) removes whole near-identical
documents; it cannot touch the other big web-corpus pathology: the SAME
long span (license boilerplate, navigation text, quoted chunks) embedded
inside otherwise-distinct documents. Training-data pipelines remove those
at substring granularity (Lee et al., "Deduplicating Training Data Makes
Language Models Better", ACL'22). The exact suffix-array construction is
single-node; the standard distributed approximation — used here — is
fixed-length k-word grams: any duplicated span of >= k words is caught
(as a run of duplicated k-grams), spans shorter than k are not.

Semantics (all deterministic):
  * a k-gram is "duplicated" iff it occurs in >= 2 DISTINCT documents
    (intra-document repetition alone is q41's repetition-quality signal,
    not dedup);
  * the canonical copy — the occurrence with the smallest (doc_id, pos) —
    is exempt from removal; every other occurrence is removed;
  * a word is dropped iff it is covered by >= 1 removed occurrence
    (overlapping duplicated grams merge naturally into one removed span;
    a canonical occurrence overlapped by a removed one loses the shared
    words — same policy as the reference paper's "drop all but one");
  * remaining words are re-joined in original order.

Scale shape (the 100 TB contract):
  * one projection to word arrays, one posexplode to gram rows — O(total
    words), no doc x doc product anywhere;
  * duplicated-occurrence detection is min(doc_id) <> max(doc_id) per
    gram hash — deliberately NOT count(distinct doc_id), which would
    need a two-phase expand — computed in ONE window pass over gram-hash
    partitions, so the gram explode is neither recomputed nor exchanged
    a second time, and a boilerplate gram with millions of occurrences
    sorts/spills instead of materializing a per-key list;
  * removed occurrences (typically a small fraction) are collected per
    doc as start-position arrays; covered-index expansion and the
    array_except reassembly are map-side, O(doc length) per doc — no
    per-word join rows, three shuffles total (pinned in the plan test);
  * everything is built-in expressions — whole-stage codegen, no UDFs.

Reference parity: pmOCR has no substring dedup (it is a format converter);
this is part of the training-data layer the build brief adds on top
(SURVEY.md section 6). The q16_dedup_exact gate slot carries the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import checkpoint as ckpt

#: default gram width: proportional to the Lee et al. 50-token window at
#: the synthetic corpus's ~54-word documents; any duplicated span of >= K
#: words is removed.
DEFAULT_K = 8


def _occ_key(doc_id: Column, pos: Column) -> Column:
    """Canonical-occurrence ordering key: lexicographic (doc_id, pos) as
    a struct — orderable for numeric AND string document ids, min() has
    a map-side partial. (The q16 oracle encodes the same ordering as
    doc_id*1e6+pos because its ids are BIGINT; for numeric ids the two
    orders coincide.)"""
    return F.struct(doc_id, pos)


def gram_occurrences(
    docs: DataFrame, k: int = DEFAULT_K, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, pos, gh) rows: one per k-word gram occurrence, pos 1-based.

    Grams are built shuffle-free by zipping k shifted slices of the word
    array and posexploding once (the arrays_zip trick from the shingle
    pipeline — codegen expressions only, no window shuffle).
    """
    w = docs.select(F.col(id_col), F.split(F.col(text_col), " ").alias("ws"))
    shifted = [F.col("ws").alias("w0")] + [
        F.expr(f"slice(ws, {i + 1}, size(ws))").alias(f"w{i}") for i in range(1, k)
    ]
    z = w.select(
        id_col, F.posexplode(F.arrays_zip(*shifted)).alias("pos0", "g")
    ).filter(F.col(f"g.w{k - 1}").isNotNull())
    gram = F.concat_ws(" ", *[F.col(f"g.w{i}") for i in range(k)])
    return z.select(
        F.col(id_col),
        (F.col("pos0") + 1).cast("long").alias("pos"),
        F.md5(gram.cast("binary")).alias("gh"),
    )


def substring_dedup(
    docs: DataFrame, k: int = DEFAULT_K, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Remove cross-document duplicated >= k-word spans, keep-first policy.

    Returns one row per input document:
      (id_col, new_text, n_words, n_kept, n_removed)
    where new_text is the document with every non-canonical duplicated
    span deleted (possibly '' if the whole document was duplicated
    elsewhere's canonical copy).
    """
    occ = gram_occurrences(docs, k, id_col, text_col)
    rem = _within_batch_removals(occ, id_col)
    return _reassemble(docs, rem, k, id_col, text_col)


def _within_batch_removals(occ: DataFrame, id_col: str) -> DataFrame:
    """(id, pos) rows for every NON-canonical occurrence of a gram that
    appears in >1 distinct doc of this frame.

    ONE window pass over occ partitioned by gram hash — min/max doc +
    min occurrence key over the partition. Versus groupBy+join-back this
    avoids recomputing the gram explode a second time and the second
    occ-sized exchange; versus collect_list-per-gram it has no per-key
    memory blowup (a boilerplate gram with millions of occurrences just
    sorts/spills)."""
    from pyspark.sql import Window

    key = _occ_key(F.col(id_col), F.col("pos"))
    wgh = Window.partitionBy("gh")
    return (
        occ.withColumn("_mn", F.min(id_col).over(wgh))
        .withColumn("_mx", F.max(id_col).over(wgh))
        .withColumn("_kk", F.min(key).over(wgh))
        .filter((F.col("_mn") != F.col("_mx")) & (key != F.col("_kk")))
        .select(id_col, "pos")
    )


def _reassemble(
    docs: DataFrame, rem: DataFrame, k: int, id_col: str, text_col: str
) -> DataFrame:
    """Rebuild each document with the words covered by any removed
    occurrence in `rem` (id, start pos) deleted; returns the
    substring_dedup output shape. Duplicate start positions in rem are
    harmless (the covered-index array is deduped map-side)."""
    # removed START positions collected per doc — rows here are only
    # the removed occurrences, tiny relative to occ; the covered-index
    # expansion (pos..pos+k-1, deduped) happens map-side on the array.
    cov = rem.groupBy(id_col).agg(F.collect_list("pos").alias("_ps"))

    # reassembly joins docs to their covered-index arrays (one
    # shuffle of doc-sized rows; unaffected docs null out) and rebuilds
    # map-side: kept indexes via array_except (hash-set, O(n + removed))
    # — no per-word join rows, no final groupBy.
    w = docs.select(F.col(id_col), F.split(F.col(text_col), " ").alias("ws"))
    joined = w.join(cov, id_col, "left")
    cov_idx = F.array_distinct(
        F.flatten(
            F.transform(
                F.coalesce("_ps", F.array().cast("array<long>")),
                lambda p: F.sequence(p, p + F.lit(k - 1)),
            )
        )
    )
    kept_words = F.expr(
        "transform(array_except(sequence(1L, cast(size(ws) AS long)), _cov), "
        "i -> element_at(ws, cast(i AS int)))"
    )
    return (
        joined.withColumn("_cov", cov_idx)
        .withColumn("_kw", kept_words)
        .select(
            id_col,
            F.concat_ws(" ", F.col("_kw")).alias("new_text"),
            F.size("ws").cast("long").alias("n_words"),
            F.size("_kw").cast("long").alias("n_kept"),
            (F.size("ws") - F.size("_kw")).cast("long").alias("n_removed"),
        )
    )


def read_gram_index(spark, path: str) -> tuple[DataFrame, dict]:
    """Load the committed gram index and its params ({'k': gram width} —
    part of the index's identity: probing with a different k finds
    nothing)."""
    params, paths = ckpt.open_artifact(spark, path, "substr_index", "read")
    return spark.read.parquet(*paths["grams"]), params


def corpus_grams(
    docs: DataFrame, k: int = DEFAULT_K, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct gram hashes (gh) of a document frame — the rows a
    persisted gram index stores. Grams are taken from the ORIGINAL text,
    not the deduped reconstruction: removal creates new word junctions
    whose k-grams never existed in any real document, and storing those
    would cause false removals in later batches."""
    return gram_occurrences(docs, k, id_col, text_col).select("gh").distinct()


def substring_dedup_incremental(
    docs: DataFrame,
    prior_grams: DataFrame | None,
    k: int = DEFAULT_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Substring dedup of a batch against itself AND a historical gram
    index (the cross-batch/cross-epoch regime: the same boilerplate span
    re-crawled days later, long after its first batch was processed).

    An occurrence is removed iff it is (a) a non-canonical within-batch
    duplicate, or (b) its gram exists in `prior_grams` (a frame with a
    `gh` column — every historical span's first occurrence survived in
    some earlier batch's output, so history is always the keeper and
    even this batch's canonical copy is removed).

    Same output shape as substring_dedup; with prior_grams=None it is
    exactly substring_dedup. The gram explode is consumed twice (window
    pass + history semi-join) — at scale both consumers recompute from
    the scan, which beats persisting a corpus-sized occurrence frame.
    """
    occ = gram_occurrences(docs, k, id_col, text_col)
    rem = _within_batch_removals(occ, id_col)
    if prior_grams is not None:
        hist = occ.join(
            prior_grams.select("gh"), "gh", "left_semi"
        ).select(id_col, "pos")
        rem = rem.unionByName(hist)
    return _reassemble(docs, rem, k, id_col, text_col)
