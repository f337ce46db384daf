"""Distributed unigram-LM tokenizer training + encoding (Kudo, ACL'18 —
the SentencePiece unigram algorithm), the second of the two production
subword tokenizers next to operators/bpe.py. Where BPE grows a vocab
bottom-up by merging, unigram LM starts from an over-complete seed vocab
and EM-fits piece probabilities, segmenting by Viterbi — the tokenizer
LLaMA/T5-style pipelines train.

Spark-first shape (same contract as BPE):
  * the corpus collapses ONCE to the distinct-word frequency table
    (bpe.word_freqs — Heaps-law-small); training never touches the
    corpus again;
  * the seed vocabulary is ONE codegen substring-explode + hash agg over
    that table (every substring up to MAX_PIECE_LEN, weighted by word
    freq), topped by TakeOrderedAndProject — never a global sort;
  * each EM iteration is: an Arrow-batched Viterbi pandas UDF over the
    word table (the model rides the closure — vocab-sized, the same
    driver footprint class as BPE's merge list and sentencepiece's own
    ≤256k-entry vocabs), one map-side-combined piece-count agg, one
    vocab-sized collect, and a driver-python M-step;
  * the word/seed tables are persisted lazily (round 6): EM reads wfd
    directly every round, so there is no growing lineage to truncate
    and no eager materialization job to pay.

Determinism/exactness discipline: piece log-probs are INTEGER micro-log
units computed in driver python from exact integer counts, so the
Viterbi DP is integer arithmetic end to end — the same segmentation on
every engine, partitioning, and platform. Ties break (higher score,
then longer last piece); hard-EM (Viterbi counts, not full
forward-backward) and add-1 retention of single characters are the two
documented deviations from Kudo §3.2 — both standard practice in
simplified implementations, neither changes the distributed shape.

Reference parity: pmOCR has no tokenizer; this is the training-data
layer the build brief adds (SURVEY.md §6). The q44 gate slot oracles
the seed-vocabulary statistic (part='uni_seed'); the EM loop is pinned
by tests/test_unigram_lm.py against an independent pure-python
implementation.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import checkpoint as ckpt
from .bpe import _tokenize, word_freqs  # shared tokenization contract

#: longest candidate piece in the seed vocabulary
MAX_PIECE_LEN = 4
#: multi-char seed pieces kept (plus ALL single chars, always retained
#: for coverage — Kudo's required-character set)
SEED_MULTI = 200
#: EM rounds (hard-EM converges fast on the small integer models here)
EM_ITERS = 3


def seed_pieces(wf: DataFrame) -> DataFrame:
    """(piece, cnt): every substring of length 1..MAX_PIECE_LEN of every
    distinct word, weighted by word frequency — one codegen explode +
    one map-side-combined agg over the Heaps-small word table. The
    over-complete candidate set EM prunes from."""
    subs = F.expr(
        "flatten(transform(sequence(1, length(word)), i -> "
        f"transform(sequence(i, least(length(word), i + {MAX_PIECE_LEN - 1})), "
        "j -> substring(word, i, j - i + 1))))"
    )
    return (
        wf.select("freq", F.explode(subs).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )


def _lp_table(counts: dict[str, int]) -> dict[str, int]:
    """counts -> integer micro-log probabilities (round(1e6 * ln(c/T))).
    Driver python on exact ints: bit-identical everywhere."""
    total = sum(counts.values())
    return {
        p: int(round(1000000.0 * (math.log(c) - math.log(total))))
        for p, c in counts.items()
        if c > 0
    }


def viterbi(word: str, lp: dict[str, int], max_len: int = MAX_PIECE_LEN) -> list[str]:
    """Best segmentation of `word` under integer micro-log piece scores.
    dp[i] = best score of word[:i]; candidates word[j:i] for
    i-max_len <= j < i. Ties prefer the LONGER last piece (deterministic
    and it biases toward fewer pieces, the convention encode shares).
    A character absent from the model segments as itself with a floor
    score (OOV-char fallback; training never hits it — every corpus
    char is in the seed)."""
    n = len(word)
    floor = min(lp.values(), default=0) - 1000000
    NEG = float("-inf")
    dp = [0] + [NEG] * n
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        best, bj = NEG, None
        for j in range(max(0, i - max_len), i):
            if dp[j] == NEG:
                continue
            s = lp.get(word[j:i])
            if s is None:
                if i - j == 1:
                    s = floor  # OOV single char
                else:
                    continue
            cand = dp[j] + s
            if cand > best or (cand == best and bj is not None and j < bj):
                best, bj = cand, j
        dp[i], back[i] = best, (bj if bj is not None else i - 1)
    out: list[str] = []
    i = n
    while i > 0:
        j = back[i]
        out.append(word[j:i])
        i = j
    return out[::-1]


def _segment_udf(lp: dict[str, int]):
    """Arrow-batched pandas UDF: word -> its Viterbi pieces under `lp`
    (the E-step hot path; the model rides the closure)."""
    from pyspark.sql import types as T

    def _seg(words):
        cache: dict[str, list[str]] = {}

        def seg(w) -> list[str]:
            got = cache.get(w)
            if got is None:
                got = cache[w] = viterbi(str(w), lp)
            return got

        return words.map(seg)

    return F.pandas_udf(_seg, T.ArrayType(T.StringType()))


def estep_counts(wf: DataFrame, lp: dict[str, int]) -> DataFrame:
    """(piece, cnt): Viterbi-segment every distinct word, weight each
    emitted piece by the word's corpus frequency — one UDF map + one
    map-side-combined agg (hard-EM expected counts)."""
    seg = _segment_udf(lp)
    return (
        wf.select("freq", F.explode(seg(F.col("word"))).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )


def train_unigram(
    docs: DataFrame,
    vocab_size: int,
    text_col: str = "text",
    em_iters: int = EM_ITERS,
    wf: DataFrame | None = None,
) -> list[tuple[str, int]]:
    """Learn a unigram-LM vocabulary of `vocab_size` pieces over
    docs[text_col]. Returns [(piece, lp_micro), ...] sorted by piece —
    the whole driver-side model.

    Seed = all single chars + the SEED_MULTI most frequent substrings;
    each EM round re-segments the word table under the current model
    and refits probabilities from the (exact integer) piece counts;
    single chars that fall out of use are retained at count+1 (add-1,
    the required-char floor). Final prune keeps all single chars + the
    best multi-char pieces by expected count (ties lexicographic) up to
    vocab_size. `wf` lets a caller that already paid the corpus pass
    (q44) hand in the word table."""
    # round 6: lazy persist instead of iter_checkpoint's EAGER
    # localCheckpoint — the first collect below materializes the caches
    # anyway, so the eager pass was one pure-overhead job each; there is
    # no growing iteration lineage here (estep always reads wfd
    # directly), so checkpoint-style truncation buys nothing. A
    # caller-provided `wf` (q44's shared word-frequency cache) is used
    # as-is and never unpersisted from under the caller.
    own_wfd = wf is None
    wfd = word_freqs(docs, text_col).persist() if own_wfd else wf
    # persist: the char and multi collects below both read the seed agg
    # (a ~MAX_PIECE_LEN x word-table explode) — run it once
    seeds = seed_pieces(wfd).persist()
    chars = {
        r["piece"]: int(r["cnt"])
        for r in seeds.filter(F.length("piece") == 1).collect()
    }
    multi = {
        r["piece"]: int(r["cnt"])
        for r in seeds.filter(F.length("piece") > 1)
        .orderBy(F.col("cnt").desc(), F.col("piece").asc())
        .limit(SEED_MULTI)
        .collect()
    }
    seeds.unpersist()
    counts = {**chars, **multi}
    lp = _lp_table(counts)
    for _ in range(em_iters):
        got = {r["piece"]: int(r["cnt"]) for r in estep_counts(wfd, lp).collect()}
        # required-char floor: a char out-segmented by longer pieces
        # must stay encodable (count+1 keeps it with minimal mass)
        counts = {c: got.get(c, 0) + 1 for c in chars}
        counts.update({p: c for p, c in got.items() if len(p) > 1})
        lp = _lp_table(counts)
    n_multi = max(0, vocab_size - len(chars))
    kept_multi = sorted(
        ((p, u) for p, u in lp.items() if len(p) > 1),
        key=lambda kv: (-counts.get(kv[0], 0), kv[0]),
    )[:n_multi]
    final_counts = {c: counts[c] for c in chars}
    final_counts.update({p: counts[p] for p, _u in kept_multi})
    if own_wfd:
        wfd.unpersist()
    return sorted(_lp_table(final_counts).items())


def write_model(spark, path: str, model: list[tuple[str, int]], vocab_size: int) -> None:
    ckpt.commit_artifact(spark, path, "unigram_model", {
        "max_piece_len": MAX_PIECE_LEN,
        "vocab_size": vocab_size,
        "pieces": [[p, u] for p, u in model],
    }, mode="overwrite")


def read_model(spark, path: str) -> list[tuple[str, int]]:
    meta, _paths = ckpt.open_artifact(spark, path, "unigram_model", "read")
    if meta.get("max_piece_len") != MAX_PIECE_LEN:
        raise ValueError(
            f"unigram model at {path} was trained with max_piece_len="
            f"{meta.get('max_piece_len')}, this build segments with {MAX_PIECE_LEN}"
        )
    return [(p, int(u)) for p, u in meta["pieces"]]


def encode_udf(model: list[tuple[str, int]]):
    """Arrow-batched pandas UDF: text -> array<string> of unigram-LM
    tokens (Viterbi under the trained model; per-batch word memoization;
    the same _tokenize contract as training and BPE encode)."""
    from pyspark.sql import types as T

    lp = dict(model)

    def _encode(text):
        cache: dict[str, list[str]] = {}

        def enc(t) -> list[str]:
            if t is None:
                return []
            toks: list[str] = []
            for w in _tokenize(str(t)):
                got = cache.get(w)
                if got is None:
                    got = cache[w] = viterbi(w, lp)
                toks.extend(got)
            return toks

        return text.map(enc)

    return F.pandas_udf(_encode, T.ArrayType(T.StringType()))
