"""BM25 sparse retrieval over the corpus: distributed inverted index +
Okapi scoring (Robertson et al., TREC-3 '94; the ln(1+x) idf variant
Lucene ships) — the lexical complement to the dense ANN stack (q21/q22/
operators/pq.py). Training-data pipelines use exactly this pair: dense
embeddings for semantic near-dup/search, BM25 for exact-term retrieval
(eval-set decontamination lookups, targeted corpus audits, RETRO-style
neighbor mining).

Scale shape (the 10^12-doc contract):
- The inverted index is ONE explode + ONE map-side-combined hash agg:
  postings(term, doc_id, tf). Document lengths fold out of the same
  frame (sum tf per doc) — the corpus is tokenized exactly once.
- df/idf live in a term-keyed agg over postings — Heaps-law-small
  relative to the corpus.
- Queries are a tiny frame: scoring is a broadcast-hash join of query
  terms against postings, so the posting lists never shuffle; only
  (query x matched-doc) partials move, and per-query top-k compiles to
  a partitioned window (WindowGroupLimit pushdown — no global sort).
- Skew: a stopword query term joins a posting list the size of the
  corpus. `max_df_frac` drops query terms whose df exceeds that
  fraction of N — the q17 stop-shingle lesson applied to retrieval
  (production engines go further with impact-ordered/WAND pruning;
  the cap is the semantic-preserving first line).

Exact cross-engine parity (the DSIR/PQ integer discipline): each
(term, doc) partial score is rounded to 1e-6 and cast to BIGINT
*before* the per-(query, doc) sum, so the total is an exact integer —
float association order can never flip the driver's value hash. Ranking
ties break on the integer score then doc_id.

pmOCR analog: none (the reference has no search); this is
training-pipeline infrastructure per the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .. import checkpoint as ckpt

K1 = 1.2
B = 0.75


def doc_terms(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, term): whitespace tokens, lowercased — the engine's
    standard tokenization (q24/q25/q45 use the same split, so BM25 df
    statistics are consistent with every other corpus statistic)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.trim(text_col)), r"\s+")).alias("term"),
    ).filter(F.length("term") > 0)  # empty docs must not skew dl/df/avgdl


def build_index(docs: DataFrame, text_col: str = "text") -> dict[str, DataFrame]:
    """Inverted index: postings(term, doc_id, tf, dl) + dl(doc_id, dl) +
    df(term, df) + stats(n_docs, sum_dl). One corpus pass; df and stats
    are derived aggs over the (already reduced) postings frame.

    Round 6 (guide §3.3): `dl` is DENORMALIZED into the postings rows —
    one doc-keyed window at build time (amortized over every search)
    replaces a corpus-sized dl equi-join inside every scoring call.
    Before this, each search shuffled the full (query × matched-doc)
    scored intermediate through a doc_id sort-merge join whenever the
    planner could not prove dl broadcastable (measured at sf0.1: the
    q21 family's shuffle doubled to 112 MB when the postings cache
    made dl a separate materialized frame). The per-posting dl costs 8
    bytes against a saved shuffle of the whole matched set."""
    tf = (
        doc_terms(docs, text_col)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    postings = tf.withColumn("dl", F.sum("tf").over(W.partitionBy("doc_id")))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    return {"postings": postings, "dl": dl, "df": df, "stats": stats}


def score_u_col():
    """Per-(term, doc) BM25 partial in integer micro-units. The
    arithmetic is written in ONE fixed association order — mirrored
    token-for-token by the SQL oracle (queries.py _BM25_ORACLE_CTES) —
    then rounded to 1e-6 and cast, so downstream sums are exact:
    1e6 * ln(1 + (N - df + .5)/(df + .5)) * (tf*(k1+1)) /
    (tf + k1*(1 - b + b*(dl*N)/sum_dl))."""
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(K1) * (
        F.lit(1 - B) + F.lit(B) * (F.col("dl") * F.col("n_docs")) / F.col("sum_dl")
    )
    return (
        F.round(F.lit(1000000.0) * idf * (F.col("tf") * F.lit(K1 + 1)) / denom, 0)
        .cast("long")
        .alias("score_u")
    )


def bm25_search(
    docs: DataFrame,
    queries: DataFrame,
    topk: int = 5,
    max_df_frac: float | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Top-k docs per query: (query_id, doc_id, rk, score_u).

    `queries` is (query_id, term) — terms should be pre-deduplicated if
    query-term multiplicity must not double-count (the catalog's q21
    arm dedups). Scoring joins query terms into postings (broadcast:
    the query side is always the small side), sums exact integer
    partials per (query, doc), and takes the per-query top-k on
    (score_u desc, doc_id) — fully deterministic."""
    return _score_topk(build_index(docs, text_col), queries, topk, max_df_frac)


def score_pairs(
    ix: dict[str, DataFrame],
    queries: DataFrame,
    max_df_frac: float | None = None,
) -> DataFrame:
    """(query_id, doc_id, score_u): the exact-integer BM25 totals for
    every (query, matched doc) pair — the pre-top-k stage of
    _score_topk, exposed so callers that rank the SAME query set at
    different depths (q21's bm25 top-5 and hybrid top-50 arms) can
    share one scoring pass instead of re-running the postings join."""
    # Round 6 (guide §2.3/§3.1): enrich the TINY query side with df and
    # the 1-row stats BEFORE touching postings — the postings-side
    # pipeline then pays exactly ONE broadcast join instead of three
    # (qt, df, stats), and the full vocab-sized df table never has to
    # broadcast: only the <=|query terms| matched df rows ride along.
    # Inner joins commute, so the result set and the integer arithmetic
    # are unchanged (a query term absent from df matched no postings
    # before; now it is dropped one join earlier).
    qt = (
        queries.join(ix["df"], "term")
        .crossJoin(F.broadcast(ix["stats"]))
    )
    if max_df_frac is not None:
        qt = qt.filter(
            F.col("df") <= F.col("n_docs") * F.lit(max_df_frac)
        )
    return (
        ix["postings"]
        .join(F.broadcast(qt), "term")
        .select("query_id", "doc_id", score_u_col())
        .groupBy("query_id", "doc_id")
        .agg(F.sum("score_u").alias("score_u"))
    )


def topk_of_scored(scored: DataFrame, topk: int) -> DataFrame:
    """Per-query top-k of a (query_id, doc_id, score_u) frame on
    (score_u desc, doc_id) — WindowGroupLimit pushdown, no global sort."""
    w = W.partitionBy("query_id").orderBy(F.col("score_u").desc(), "doc_id")
    return (
        scored.select(
            "query_id", "doc_id", F.row_number().over(w).cast("long").alias("rk"), "score_u"
        )
        .filter(F.col("rk") <= topk)
    )


def _score_topk(
    ix: dict[str, DataFrame],
    queries: DataFrame,
    topk: int,
    max_df_frac: float | None,
) -> DataFrame:
    return topk_of_scored(score_pairs(ix, queries, max_df_frac), topk)


def positional_postings(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, pos, term): the positional variant of doc_terms —
    posexplode keeps each token's 0-based position so phrase adjacency
    is a pure integer relation. Same tokenizer (lower + \\s+ split),
    so positions are gap-free by construction (the regex collapses
    whitespace runs; only a fully-empty document yields the one ''
    token, filtered here)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.lower(F.trim(text_col)), r"\s+")).alias("pos", "term"),
    ).filter(F.length("term") > 0)


def phrase_search(
    docs: DataFrame, phrases: DataFrame, topk: int = 5, text_col: str = "text"
) -> DataFrame:
    """Exact-phrase retrieval: (query_id, doc_id, n_matches, rk) for
    documents containing each phrase's token sequence CONSECUTIVELY —
    the positional-index query BM25's bag-of-words scoring cannot
    express (eval-set decontamination wants exactly this: 'does this
    benchmark sentence appear verbatim?').

    `phrases` is (query_id, phrase). Shape: phrase terms posexplode to
    (query_id, i, term) and BROADCAST onto the positional postings; a
    candidate match start is pos - i, so a full match is a
    (query, doc, start) group covering all L phrase offsets — one
    map-side-combinable count-distinct agg, never a string scan or a
    per-position self-join chain. Reduce keys are (q, doc, start)
    triples bounded by matched-term occurrences. A stopword phrase term
    joins its full posting list — production engines intersect
    rarest-term-first; at that regime pre-filter candidates on the
    rarest term before this join. Ranking: n_matches desc, doc_id asc,
    per-query top-k via a partitioned window."""
    pp = positional_postings(docs, text_col)
    qt = phrases.select(
        "query_id",
        F.posexplode(F.split(F.lower(F.trim("phrase")), r"\s+")).alias("i", "term"),
    ).filter(F.length("term") > 0)
    qlen = qt.groupBy("query_id").agg(F.count("*").alias("qlen"))
    cand = pp.join(F.broadcast(qt), "term").select(
        "query_id", "doc_id", (F.col("pos") - F.col("i")).alias("start"), "i"
    )
    full = (
        cand.groupBy("query_id", "doc_id", "start")
        .agg(F.count_distinct("i").alias("nterms"))
        .join(F.broadcast(qlen), "query_id")
        .filter(F.col("nterms") == F.col("qlen"))
    )
    hits = full.groupBy("query_id", "doc_id").agg(
        F.count("*").cast("long").alias("n_matches")
    )
    w = W.partitionBy("query_id").orderBy(F.col("n_matches").desc(), "doc_id")
    return (
        hits.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= topk)
    )


#: tokenizer identity recorded in the sidecar: probing an index with a
#: different tokenization silently misses every term
_TOKENIZER = "ws_lower_v1"


def write_text_index(docs: DataFrame, path: str, mode: str = "overwrite",
                     text_col: str = "text") -> dict:
    """Persist the inverted index as one committed generation of
    postings/dl/df subtables (checkpoint.commit_artifact). Everything is
    ADDITIVE, so growth is one more generation — the production property
    for a crawl that never stops arriving:
      * postings and dl rows are per-doc — disjoint batches append;
      * df is persisted as per-BATCH partials and summed at read
        (additive exactly when batches hold disjoint doc_ids — same
        caller contract as the PQ index's new-vec_ids rule);
      * n_docs/sum_dl accumulate in the sidecar (driver-sized ints).
    A crash at any step leaves the previous commit; a retry lands once.
    Returns the params committed."""
    spark = docs.sparkSession
    # params check FIRST: a bad append must fail before any corpus pass
    meta0 = None
    if mode == "append":
        meta0, _paths = ckpt.open_artifact(spark, path, "text_index", "append to")
        _check_params(meta0, path)
    # ONE corpus tokenization per invocation (round 6): the stats collect
    # materializes the persisted postings, and dl/df derive from that
    # CACHE — `dl` rides denormalized on every postings row, so per-doc
    # max(dl) == sum(tf) and per-term count(*) == df exactly.
    post = build_index(docs, text_col)["postings"].persist()
    dl_w = post.groupBy("doc_id").agg(F.max("dl").alias("dl"))
    st = dl_w.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).collect()[0]
    n_docs, sum_dl = int(st["n_docs"]), int(st["sum_dl"] or 0)
    meta = meta0 or {"tokenizer": _TOKENIZER, "k1": K1, "b": B, "n_docs": 0, "sum_dl": 0}
    meta = {**meta, "n_docs": meta["n_docs"] + n_docs, "sum_dl": meta["sum_dl"] + sum_dl}
    try:
        ckpt.commit_artifact(
            spark, path, "text_index", meta,
            {"postings": post, "dl": dl_w,
             "df": post.groupBy("term").agg(F.count("*").alias("df"))},
            mode=mode,
        )
    finally:
        post.unpersist()
    return meta


def _check_params(meta: dict, path: str) -> None:
    """The sidecar params are the artifact's identity: an index built
    under a different tokenizer or k1/b must fail LOUDLY on read and
    append alike — probing it would silently miss or mis-score every
    term."""
    if meta.get("tokenizer") != _TOKENIZER or meta.get("k1") != K1 or meta.get("b") != B:
        raise ValueError(
            f"text index params mismatch at {path}: index "
            f"({meta.get('tokenizer')}, k1={meta.get('k1')}, b={meta.get('b')}) vs "
            f"this build ({_TOKENIZER}, k1={K1}, b={B}); rebuild."
        )


def read_text_index(spark, path: str) -> tuple[dict[str, DataFrame], dict]:
    """Load the committed index: (frames, params). df partials merge with
    one Heaps-small agg; corpus stats come from the sidecar as exact
    integers (never re-derived — a partial re-scan would silently skew
    idf)."""
    meta, paths = ckpt.open_artifact(spark, path, "text_index", "read")
    _check_params(meta, path)
    ix = {
        "postings": spark.read.parquet(*paths["postings"]),
        "dl": spark.read.parquet(*paths["dl"]),
        "df": spark.read.parquet(*paths["df"])
        .groupBy("term")
        .agg(F.sum("df").alias("df")),
        "stats": spark.createDataFrame(
            [(int(meta["n_docs"]), int(meta["sum_dl"]))], "n_docs long, sum_dl long"
        ),
    }
    return ix, meta


def search_text_index(
    spark,
    path: str,
    queries: DataFrame,
    topk: int = 5,
    max_df_frac: float | None = None,
) -> DataFrame:
    """BM25 top-k against a PERSISTED index — identical scoring path to
    bm25_search (same _score_topk), so probe(write(docs)) == search
    over the live frames, pinned in tests."""
    ix, _meta = read_text_index(spark, path)
    return _score_topk(ix, queries, topk, max_df_frac)


def parse_query_terms(spark, qspec: str) -> DataFrame:
    """CLI query spec -> (query_id, term): comma-separated queries,
    whitespace-separated terms, lowercased + deduplicated per query
    (the same normalization the index's tokenizer applied)."""
    rows = []
    for qid, q in enumerate(s for s in qspec.split(",") if s.strip()):
        for t in sorted({w.lower() for w in q.split()}):
            rows.append((qid, t))
    return spark.createDataFrame(rows, "query_id long, term string")
