"""Distributed BPE (byte-pair-encoding) vocabulary learning + encoding.

The one training-data operator every LLM pipeline runs exactly once per
corpus and every single-node library (sentencepiece, HF tokenizers)
bottlenecks on: learning the merge table. Sennrich et al. (ACL'16)
semantics, Spark-first shape:

  * the corpus collapses to the DISTINCT-WORD frequency table in ONE
    shuffle (`word_freqs`) — by Heaps' law vocabulary grows ~|corpus|^0.5,
    so at 100 TB the working set is millions-to-low-billions of tiny rows
    while the corpus itself is never touched again;
  * each merge iteration is: one map-side-combined pair-count aggregation
    over the word table (`pair_counts`, adjacency built shuffle-free from
    zipped array slices), a ONE-ROW driver collect (the argmax pair,
    ties broken (count desc, left asc, right asc) so the table is
    deterministic), and a map-only greedy fold rewriting the symbol
    arrays (`apply_merge`) — no join, no window, no doc×doc anywhere;
  * iteration lineage is truncated through `graph.iter_checkpoint`
    (executor-local by default, reliable under PMOCR_RELIABLE_CHECKPOINT
    for executor-loss-safe cluster runs), the same discipline as q33's
    Lloyd iterations and q50's star rounds;
  * the driver holds only the merge list (n_merges rows) — never the
    vocabulary.

The greedy fold (`aggregate(syms, [], merge-or-append)`) is provably the
left-to-right non-overlapping scan of the reference implementation: a
merged token can never immediately re-merge as the LEFT of the same pair
(that needs left+right == left, impossible for non-empty right) nor as
the RIGHT (needs left+right == right), so one fold pass == one reference
scan. Encoding applies the learned merges sequentially in rank order
with the same scan (`encode_words` / `encode_udf`), so
encode(train corpus) reproduces exactly the symbol state training ended
with.

Everything except the encode UDF is built-in expressions (whole-stage
codegen); the encode UDF is an Arrow-batched pandas UDF (the per-word
merge loop is data-dependent control flow no Catalyst expression
expresses).

Reference parity: pmOCR has no tokenizer (it is a format converter);
this is the training-data layer the build brief adds (SURVEY.md §6).
The q44 gate slot carries the SQL oracle for the iteration-0 pair
statistics (part='char_pair'); the full merge loop is pinned by
tests/test_bpe.py against a pure-python reference implementation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import checkpoint as ckpt
from ..session import reliable_checkpoint
from .graph import iter_checkpoint

#: end-of-word marker appended as a standalone symbol (Sennrich '16
#: convention, modulo attaching it to the last char — any consistent
#: convention round-trips as long as training and encoding share it).
END_OF_WORD = "</w>"

#: default early-stop: merging hapax adjacencies grows the vocab with
#: noise. Single source of truth for learn_bpe and the CLI.
DEFAULT_MIN_COUNT = 2


def word_freqs(
    docs: DataFrame, text_col: str = "text", max_word_chars: int | None = None
) -> DataFrame:
    """(word, freq): whitespace-tokenized, lowercased word frequencies.

    The ONLY corpus-sized operation in BPE training — one explode + one
    hash aggregation with map-side partial agg; everything downstream
    runs over this (Heaps-law-small) table.

    `max_word_chars`: drop "words" longer than this. On web corpora a
    single pathological megabyte-long token (minified JS, base64 blob)
    makes every iteration's fold over that row O(len²) in array copies;
    production tokenizer trainers cap token length for the same reason.
    None (default) keeps every word — the oracle-parity configuration.
    """
    wf = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("word")
    ).filter(F.length("word") > 0)
    if max_word_chars is not None:
        wf = wf.filter(F.length("word") <= max_word_chars)
    return wf.groupBy("word").agg(F.count("*").alias("freq"))


def initial_symbols(wf: DataFrame) -> DataFrame:
    """(freq, syms): each word as its character array + END_OF_WORD.

    `word` itself is dropped — training only ever needs the symbol
    arrays and their weights.
    """
    chars = F.expr("filter(split(word, ''), s -> s <> '')")
    return wf.select("freq", F.concat(chars, F.array(F.lit(END_OF_WORD))).alias("syms"))


def pair_counts(sy: DataFrame) -> DataFrame:
    """(left, right, cnt): adjacent-symbol pair counts weighted by word
    frequency. Adjacency is built map-side from the symbol array (a
    transform over slice(syms, 1, n-1) indexing syms[i+1] — no explode
    of anything wider than the pairs themselves, no window)."""
    pairs = sy.select(
        "freq",
        F.explode(
            F.expr("transform(slice(syms, 1, size(syms) - 1), (s, i) -> struct(s AS l, syms[i + 1] AS r))")
        ).alias("p"),
    )
    return pairs.groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right")).agg(
        F.sum("freq").cast("long").alias("cnt")
    )


def _merge_fold(left: str, right: str) -> Column:
    """Greedy left-to-right merge of adjacent (left, right) -> left+right
    as a single aggregate() fold over `syms` (see module docstring for
    the equivalence proof to the reference scan). Column-API lambdas —
    symbol strings never pass through SQL text, so quoting is a
    non-issue."""
    empty = F.array().cast("array<string>")

    def step(acc: Column, s: Column) -> Column:
        hit = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right))
        )
        return F.when(
            hit,
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(left + right))),
        ).otherwise(F.concat(acc, F.array(s)))

    return F.aggregate(F.col("syms"), empty, step)


def apply_merge(sy: DataFrame, left: str, right: str) -> DataFrame:
    """Rewrite symbol arrays with one merge applied — map-only. Words
    that cannot contain the pair (cheap array_contains pre-check) keep
    their array untouched, so the fold runs only where it can fire."""
    can = F.array_contains("syms", left) & F.array_contains("syms", right)
    return sy.select(
        "freq", F.when(can, _merge_fold(left, right)).otherwise(F.col("syms")).alias("syms")
    )


def learn_bpe(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_count: int = DEFAULT_MIN_COUNT,
    reliable: bool | None = None,
    vocab_partitions: int | None = None,
    max_word_chars: int | None = None,
    symbols: DataFrame | None = None,
) -> list[tuple[str, str, int]]:
    """Learn up to `n_merges` BPE merges over `docs[text_col]`.

    Returns [(left, right, count), ...] in rank order — the entire
    driver-side state. Stops early when the best pair's count drops
    below `min_count` (merging hapax adjacencies grows the vocab with
    noise). `reliable` — see graph.iter_checkpoint.

    `max_word_chars` passes through to word_freqs (drop pathological
    mega-tokens before they make the per-iteration fold quadratic).

    `vocab_partitions`: coalesce the symbol table after the corpus-sized
    word count. The iterated working set is |vocab| rows, not |corpus| —
    inheriting the corpus agg's partitioning makes every one of the
    n_merges iterations pay per-task scheduling for near-empty
    partitions. Size it to the vocabulary (None = inherit, the safe
    default when the vocabulary itself is huge).

    `symbols`: a prebuilt (freq, syms) frame (initial_symbols shape) to
    train over instead of re-deriving it from `docs` — lets a caller
    that already paid the corpus pass (e.g. q44, which also aggregates
    iteration-0 pair statistics from the same table) keep the
    'corpus touched once' contract across the whole family. When given,
    `docs`/`text_col`/`max_word_chars` are ignored for derivation.
    """
    sy = (
        symbols
        if symbols is not None
        else initial_symbols(word_freqs(docs, text_col, max_word_chars=max_word_chars))
    )
    if vocab_partitions is not None:
        sy = sy.coalesce(vocab_partitions)
    if reliable is None:
        reliable = reliable_checkpoint()
    # round 6: LAZY localCheckpoint per merge (eager=False) — the next
    # iteration's argmax collect is the materializing action, so the
    # old eager materialization job per merge was pure scheduling
    # overhead (2 jobs/merge -> 1), while the checkpoint still
    # truncates the fold lineage every merge (a 200-merge CLI training
    # run must not nest 200 aggregate() folds in one plan). The
    # reliable/cluster path keeps eager fault-tolerant checkpoints.
    sy = iter_checkpoint(sy, True) if reliable else sy.localCheckpoint(eager=False)
    merges: list[tuple[str, str, int]] = []
    prev: DataFrame | None = None
    try:
        for _ in range(n_merges):
            top = (
                pair_counts(sy)
                .orderBy(F.col("cnt").desc(), F.col("left").asc(), F.col("right").asc())
                .limit(1)
                .collect()
            )
            # the collect materialized sy's (lazy) checkpoint blocks, so
            # ITS parent is now safe to release — releasing earlier
            # would discard blocks an unmaterialized child still needs
            if prev is not None:
                prev.unpersist()
                prev = None
            if not top or top[0]["cnt"] < min_count:
                break
            left, right, cnt = top[0]["left"], top[0]["right"], int(top[0]["cnt"])
            merges.append((left, right, cnt))
            nxt = apply_merge(sy, left, right)
            nxt = iter_checkpoint(nxt, True) if reliable else nxt.localCheckpoint(eager=False)
            prev, sy = sy, nxt
    finally:
        sy.unpersist()
        if prev is not None:
            prev.unpersist()
    return merges


def write_model(spark, path: str, merges: list[tuple[str, str, int]], min_count: int) -> None:
    """Commit a learned merge table as a model dir
    (checkpoint.commit_artifact). The model is driver-small by
    construction (n_merges rows), so the sidecar IS the model."""
    ckpt.commit_artifact(spark, path, "bpe_model", {
        "end_of_word": END_OF_WORD,
        "min_count": min_count,
        "merges": [[l, r, c] for l, r, c in merges],
    }, mode="overwrite")


def read_model(spark, path: str) -> list[tuple[str, str, int]]:
    """Load a merge table written by write_model. Loud failure on a
    convention mismatch — encoding with the wrong end-of-word marker
    silently produces garbage tokens."""
    meta, _paths = ckpt.open_artifact(spark, path, "bpe_model", "read")
    if meta.get("end_of_word") != END_OF_WORD:
        raise ValueError(
            f"BPE model at {path} uses end-of-word marker "
            f"{meta.get('end_of_word')!r}, this build expects {END_OF_WORD!r}"
        )
    return [(l, r, int(c)) for l, r, c in meta["merges"]]


def _tokenize(text: str) -> list[str]:
    """The ONE tokenization both training and encoding use. Must match
    Spark's `split(lower(trim(text)), '\\s+')` exactly: Java regex \\s
    is ASCII-only, so the Python side splits with re.ASCII — a plain
    str.split() would treat U+00A0 etc. as separators and encode words
    training never saw. No str.strip() either (it removes Unicode
    whitespace Spark's trim keeps attached); the empty-token filter
    already absorbs ASCII edge whitespace."""
    import re

    return [w for w in re.split(r"\s+", text.lower(), flags=re.ASCII) if w]


def _apply_merges_ordered(word: str, ordered: list[tuple[str, str]]) -> list[str]:
    """Apply merges already in rank order, each as the same greedy
    left-to-right scan training used."""
    syms = list(word) + [END_OF_WORD]
    for left, right in ordered:
        if len(syms) < 2:
            break
        out: list[str] = []
        i = 0
        n = len(syms)
        while i < n:
            if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                out.append(left + right)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Pure-python single-word BPE encode (convenience wrapper: sorts
    the rank dict; the UDF hot path pre-sorts ONCE via
    _apply_merges_ordered instead of per word)."""
    return _apply_merges_ordered(word, [p for p, _r in sorted(ranks.items(), key=lambda kv: kv[1])])


def encode_udf(merges: list[tuple[str, str, int]]):
    """Arrow-batched pandas UDF: text -> array<string> of BPE tokens
    under the learned merge table. The merge list rides the closure
    (driver-small by construction); per-batch the word->tokens map is
    memoized so repeated words in a batch encode once."""
    from pyspark.sql import types as T

    ordered = [(l, r) for l, r, _c in merges]  # already rank order

    def _encode(text):  # pd.Series -> pd.Series (annotation-free: the
        # return type is carried by the pandas_udf call below)
        cache: dict[str, list[str]] = {}

        def enc(t) -> list[str]:
            if t is None:
                return []
            toks: list[str] = []
            for w in _tokenize(str(t)):
                got = cache.get(w)
                if got is None:
                    got = cache[w] = _apply_merges_ordered(w, ordered)
                toks.extend(got)
            return toks

        return text.map(enc)

    return F.pandas_udf(_encode, T.ArrayType(T.StringType()))
