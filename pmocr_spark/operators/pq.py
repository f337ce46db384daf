"""Product quantization (PQ) for embedding columns: 32x compression +
asymmetric-distance (ADC) top-k search, all in built-in array expressions.

IVF (q22/q33) bounds WHICH candidates a query compares against; PQ bounds
WHAT each comparison costs and — the part that matters at 100 TB — what
each stored vector costs. A 64-dim float32 embedding is 256 bytes; its PQ
code here is M=16 4-bit subspace assignments = 8 bytes. At 10^12 vectors
that is 256 TB of raw vectors vs 8 TB of codes: the difference between
"the index fits on the cluster" and "it does not" (Jegou, Douze, Schmid,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011).

Semantics (all deterministic — no RNG, no training sample ambiguity):
  * vectors are L2-NORMALIZED before quantization, so squared-L2 ADC
    distance is monotone with cosine (||a-b||^2 = 2 - 2*cos on the unit
    sphere) and PQ ranks approximate the same metric as the q21 brute
    force / q22 IVF family members;
  * the codebook for every subspace is the sub-vectors of the first
    N_CODES vec_ids — the same fixed-seed convention as q22's IVF
    centroids (deterministic stand-in for the k-means training run a
    production build would do offline);
  * all squared-L2 distances are computed in double, rounded to 6 dp and
    held as BIGINT micro-units from then on: code assignment argmin uses
    the collision-free ordering key d_int*100 + cent_id, and the ADC
    distance is an integer SUM of table entries — integer arithmetic is
    order-independent, so Spark and a SQL oracle agree bit-for-bit where
    a float sum could flip ranks between engines.

Scale shape (the 100 TB contract):
  * the codebook is one broadcast row (N_CODES packed sub-vectors);
    encoding is a PURE MAP over the corpus — zero shuffles, zero row
    amplification (contrast the naive vector x centroid x subspace join:
    M*K rows per vector);
  * queries precompute an M x K distance-table array (again map-side,
    tiny) and broadcast; the ADC scan is codes-only — each candidate
    touches 16 ints + 16 table lookups instead of 64 float multiplies;
  * only the per-query top-SHORTLIST rows ever shuffle (window over
    query_id); the caller then reranks the shortlist with EXACT cosine
    over raw vectors (a broadcast semi-join touching k_short vectors
    per query — q21's 'pq' part does this), which is where recall comes
    from: compressed distance finds the neighborhood, exact distance
    orders it.

Reference parity: pmOCR is a format converter with no vector search;
this extends the build brief's similarity-search axis (ANN family,
SURVEY.md section 2.7) the way its OCR axis extends pmocr.sh.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .. import checkpoint as ckpt

#: number of subspaces (M) — a 64-dim vector splits into 16 sub-vectors
N_SUB = 16
#: dims per subspace (D / M)
D_SUB = 4
#: codes per subspace codebook (K) — 16 codes x log2(16) bits = 8 B/vec
#: effective (stored here as one int per subspace for plan simplicity);
#: vs 256 B of raw float32 that is the 32x compression
N_CODES = 16

#: ADC shortlist size for the exact-rerank stage: the PQ scan returns
#: the top-SHORTLIST candidates per query by compressed distance, and
#: only THOSE raw vectors are read for the exact cosine top-k. Measured
#: on the sf0.01 corpus: recall@5 = 0.16 with no rerank, 0.82 with
#: shortlist=50 (fixed 16-vector codebook) — the rerank is where PQ
#: recall comes from, at the cost of reading k_short vectors per query
#: instead of zero.
SHORTLIST = 50

#: micro-unit scale for distances: round(d, 6dp) -> integer micro-units
_MICRO = 1_000_000

#: IVF coarse clusters for the persisted-index routing path: the first
#: N_IVF codebook entries double as IVF centroids (the same fixed-seed
#: convention as the catalog's q22/q21 arms, which use the first 8
#: vec_ids — identical vectors, since the codebook IS the first 16)
N_IVF = 8


def _sub(vec, m: int):
    """1-based slice of subspace m (0-based) out of a packed vector."""
    return F.slice(vec, m * D_SUB + 1, D_SUB)


def pq_codebook(v: DataFrame) -> DataFrame:
    """One-row packed codebook: `cs` = array of (cent_id, ce) structs,
    sorted by cent_id (collect_list order is NOT deterministic; the
    array_sort pins it), ce = the full normalized vector of each of the
    first N_CODES vec_ids. Subspace m's codebook entry for code c is
    _sub(cs[c].ce, m) — one broadcastable row serves all M subspaces.

    `v` must have (vec_id, en) with en the L2-normalized double vector.
    """
    cent = v.filter(F.col("vec_id") < N_CODES).select(
        F.col("vec_id").alias("cent_id"), F.col("en").alias("ce")
    )
    return _pack_centroids(cent)


def pq_encode(
    v: DataFrame, codebook: DataFrame, ivf_n_cent: int | None = None
) -> DataFrame:
    """PQ-encode every vector: (vec_id, codes array<int> of length N_SUB).

    Pure map: codebook is a broadcast single row; per subspace the code
    is argmin over N_CODES rounded distances via the collision-free key
    d_int*100 + cent_id (array_min of longs — no struct compare, no
    tie ambiguity). At 10^12 vectors this stage shuffles nothing.

    `ivf_n_cent`: additionally assign each vector to its nearest of the
    first ivf_n_cent codebook entries by cosine (== dot on normalized
    vectors) as a `cluster_id` column — IVF-PQ routing state, computed
    in the SAME broadcast pass (no second scan, no join, still zero
    shuffles). Tie-break matches the catalog's _argmax_assign exactly:
    highest dot, then smallest cent_id."""

    cols = ["vec_id", F.array(*[_code_expr(m) for m in range(N_SUB)]).alias("codes")]
    if ivf_n_cent is not None:
        cols.append(_ivf_best(ivf_n_cent)["cid"].alias("cluster_id"))
    return v.crossJoin(F.broadcast(codebook)).select(*cols)


def _d_int_sql(m: int, vec: str = "en", cvec: str = "c.ce") -> str:
    """SQL text of the squared-L2 distance between subspace m of `vec`
    and of `cvec`, as BIGINT micro-units (double arithmetic in identical
    left-to-right order on both engines, then one round -> integer; see
    module docstring). One F.expr parse instead of ~30 py4j lambda round
    trips per subspace (round 6: q21's pq-code construction alone was
    ~3 s of driver chatter)."""
    a = m * D_SUB + 1
    return (
        f"cast(round(aggregate(zip_with(slice({vec}, {a}, {D_SUB}), "
        f"slice({cvec}, {a}, {D_SUB}), (x, y) -> (x - y) * (x - y)), 0D, "
        f"(acc, x) -> acc + x) * {_MICRO}, 0) as bigint)"
    )


def _code_expr(m: int):
    """Subspace-m code assignment over (en, cs) columns: argmin of the
    rounded micro-unit distances via the collision-free key
    d_int*100 + cent_id (shared by pq_encode and train_codebook so
    training's assignment step IS the production encoder)."""
    return F.expr(
        f"cast(array_min(transform(cs, c -> {_d_int_sql(m)} * 100 + c.cent_id))"
        f" % 100 as int)"
    )


_IVF_SCORE_SQL = (
    "c -> named_struct("
    "'dot', aggregate(zip_with(en, c.ce, (x, y) -> x * y), 0D, (acc, x) -> acc + x), "
    "'ncid', -c.cent_id, 'cid', c.cent_id)"
)


def _ivf_best(n_cent: int):
    """array_max of (dot, -cent_id, cent_id) structs over the first
    n_cent packed codebook entries — the argmax tie-break (highest dot,
    then smallest id) as ONE parsed expression."""
    return F.expr(
        f"array_max(transform(slice(cs, 1, {n_cent}), {_IVF_SCORE_SQL}))"
    )


def ivf_probe_topn(
    q: DataFrame, codebook: DataFrame, n_probe: int, n_cent: int = N_IVF
) -> DataFrame:
    """(query_id, cluster_id): each query's n_probe nearest IVF clusters
    (centroids = first n_cent codebook entries) — the multi-probe recall
    lever for the persisted-index path. Map-side over the broadcast
    codebook; only the tiny query side fans out × n_probe. `q` must
    have (query_id, en)."""
    scored = F.expr(f"transform(slice(cs, 1, {n_cent}), {_IVF_SCORE_SQL})")
    top = F.slice(F.reverse(F.array_sort(scored)), 1, n_probe)
    return (
        q.crossJoin(F.broadcast(codebook))
        .select("query_id", F.explode(top).alias("b"))
        .select("query_id", F.col("b.cid").alias("cluster_id"))
    )


def train_codebook(v: DataFrame, iters: int = 2) -> DataFrame:
    """Per-subspace Lloyd refinement of the deterministic seed codebook
    — the PQ RECALL lever the fixed first-N_CODES convention leaves on
    the table (Jégou TPAMI'11 trains each subspace's codebook by
    k-means; the catalog's fixed convention exists for oracle
    determinism, not quality). Returns the packed one-row codebook
    frame (cent_id 0..N_CODES-1, ce = the 64-dim concatenation of the
    16 trained 4-dim subspace centroids) — a drop-in for pq_codebook's
    output everywhere (pq_encode, write_pq_index, ADC tables).

    Shape per iteration: ONE broadcast pass over the corpus explodes
    each vector into its (m, assigned code, subvector) triples —
    assignment reuses the production encoder expression (_code_expr),
    so training optimizes exactly the quantizer that will run — then
    one 2-level hash aggregation to the (N_SUB x N_CODES)-row mean
    table, collected (256 tiny rows) and re-broadcast. Empty cells keep
    their previous centroid (standard Lloyd practice). At 10^12 vectors
    run this on a sample (train_codebook(v.sample(...))) — codebook
    quality converges long before corpus-scale statistics; the fixed
    contract is only that ENCODING uses whatever codebook the sidecar
    persists.

    Lloyd guarantees distortion is non-increasing per iteration (each
    step optimal given the other); tests pin that plus parity with a
    pure-numpy reference.

    `v` must have (vec_id, en) with en L2-normalized, and contain
    vec_ids 0..N_CODES-1 (the seeds)."""
    import numpy as np

    spark = v.sparkSession
    packed = pq_codebook(v).collect()[0]["cs"]
    cent = np.array([list(c["ce"]) for c in packed], dtype=np.float64)  # (K, D)

    def pack(c):
        return _pack_centroids(
            spark.createDataFrame(
                [(i, [float(x) for x in row]) for i, row in enumerate(c)],
                "cent_id long, ce array<double>",
            )
        )

    for _ in range(iters):
        book = pack(cent)
        trip = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        _code_expr(m).alias("code"),
                        _sub(F.col("en"), m).alias("sv"),
                    )
                    for m in range(N_SUB)
                ]
            )
        ).alias("x")
        means = (
            v.crossJoin(F.broadcast(book))
            .select(trip)
            .groupBy(F.col("x.m").alias("m"), F.col("x.code").alias("code"))
            .agg(*[F.avg(F.get("x.sv", i)).alias(f"c{i}") for i in range(D_SUB)])
            .collect()
        )
        for r in means:  # empty (m, code) cells keep the old centroid
            cent[r["code"], r["m"] * D_SUB : (r["m"] + 1) * D_SUB] = [
                r[f"c{i}"] for i in range(D_SUB)
            ]
    return pack(cent)


def pq_query_tables(q: DataFrame, codebook: DataFrame) -> DataFrame:
    """Per-query ADC distance tables: (query_id, dts) with dts an
    N_SUB x N_CODES array of BIGINT micro-unit distances, dts[m][c] =
    d(query sub m, codebook entry c sub m). cs is cent_id-sorted, so
    position == cent_id == the code stored by pq_encode.

    `q` must have (query_id, en); the result is small (|queries| rows)
    and meant to be broadcast into the ADC scan."""
    def tbl(m: int):
        # NB: the lambda must take exactly ONE parameter — a second
        # parameter (even a default like m=m) flips PySpark's transform
        # into its (element, index) form and silently rebinds it.
        return F.expr(f"transform(cs, c -> {_d_int_sql(m)})")

    tables = F.array(*[tbl(m) for m in range(N_SUB)])
    return q.crossJoin(F.broadcast(codebook)).select("query_id", tables.alias("dts"))


def pq_adc_topk(
    codes: DataFrame, tables: DataFrame, topk: int = 5, by: str | None = None
) -> DataFrame:
    """ADC search: for every (query, candidate) pair, dist_int =
    sum_m dts[m][codes[m]] (integer table lookups — the candidate's
    float vector is never read), then the per-query top-k by
    (dist_int asc, neighbor_id asc).

    codes: (vec_id, codes) from pq_encode — the full corpus side;
    tables: (query_id, dts) from pq_query_tables — broadcast side.
    Returns (query_id, neighbor_id, rk, dist_int).

    `by` (IVF-PQ, the FAISS IndexIVFPQ composition): when both sides
    carry a partition-key column of that name (e.g. cluster_id from an
    IVF assignment), the scan becomes a broadcast-hash EQUI-join on it —
    each query's tables meet only the codes in its own cluster, so the
    pair count drops from |queries| x |corpus| to |queries| x
    |cluster|. At 10^12 vectors this is the difference between an
    exhaustive compressed scan and an actual index probe."""
    dist = F.expr(
        "aggregate(zip_with(codes, dts, (cd, tb) -> get(tb, cd)), 0L, (acc, x) -> acc + x)"
    )
    paired = (
        codes.crossJoin(F.broadcast(tables))
        if by is None
        else codes.join(F.broadcast(tables), by)
    )
    sims = paired.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), dist.alias("dist_int")
    )
    w = W.partitionBy("query_id").orderBy("dist_int", "neighbor_id")
    return sims.select(
        "query_id", "neighbor_id", F.row_number().over(w).cast("long").alias("rk"), "dist_int"
    ).filter(F.col("rk") <= topk)


# ---------------------------------------------------------------------
# Persisted PQ index: codes table + codebook sidecar
# ---------------------------------------------------------------------
#
# The encode pass is the expensive one (it reads every raw vector); at
# 10^12 vectors you run it once and persist the 8-byte codes, then every
# search probes the code table. Codes are meaningless without the EXACT
# codebook that produced them — same params-identity reasoning as the
# dedup index's banding sidecar — so the codebook (16 x 64 doubles,
# trivially bounded) travels in the artifact's sidecar
# (checkpoint.commit_artifact): JSON float repr round-trips IEEE doubles
# exactly. Incremental growth is one more generation: encode the new
# batch against the SIDECAR's codebook and write mode="append" —
# per-vector codes are independent, so unlike the dedup index there is
# no cross-batch cap/compaction to run.


def normalize_embeddings(df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, raw float vector) -> (vec_id, en) with en the L2-normalized
    double vector every PQ op consumes — the CLI-facing twin of the
    query catalog's _norm_embeddings (same cast/normalize order, so CLI
    codes match q21's bit-for-bit)."""
    e = F.transform(vec_col, lambda x: x.cast("double"))
    nrm = F.sqrt(F.aggregate(F.transform(e, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    return df.select(
        F.col(id_col).alias("vec_id"), F.transform(e, lambda x: x / nrm).alias("en")
    )


def _pack_centroids(cent: DataFrame) -> DataFrame:
    """(cent_id, ce) rows -> the one-row cent_id-sorted packed frame
    every PQ op consumes (see pq_codebook)."""
    return cent.agg(F.array_sort(F.collect_list(F.struct("cent_id", "ce"))).alias("cs"))


def write_pq_index(
    codes: DataFrame,
    codebook: DataFrame,
    path: str,
    mode: str = "overwrite",
    ivf_n_cent: int | None = None,
) -> None:
    """Persist PQ codes WITH their codebook. `codebook` is the one-row
    packed frame from pq_codebook — collected here (N_CODES vectors,
    bounded) into the sidecar. mode="append" adds a new batch's codes;
    the caller must have encoded them against THIS index's codebook
    (read_pq_index hands it back for exactly that).

    `ivf_n_cent`: the codes carry IVF-PQ routing state (pq_encode with
    the same ivf_n_cent) — recorded in the sidecar so probes know the
    index is routable and appends are forced to keep it so. Routing
    state is part of the artifact's identity: an appended batch WITHOUT
    cluster_id into a routed index would read back NULL-clustered and
    silently never match any probe."""
    has_cluster = "cluster_id" in codes.columns
    if (ivf_n_cent is not None) != has_cluster:
        raise ValueError(
            "ivf_n_cent and a cluster_id column must come together: encode "
            "with pq_encode(..., ivf_n_cent=k) and pass the same k here."
        )
    spark = codes.sparkSession
    packed = codebook.collect()[0]["cs"]
    meta = {"n_sub": N_SUB, "d_sub": D_SUB, "n_codes": N_CODES,
            "centroids": [list(c["ce"]) for c in packed]}
    if ivf_n_cent is not None:
        meta["ivf_n_cent"] = ivf_n_cent
    if mode == "append":
        # the append contract is that the batch was encoded with the
        # ALREADY-PERSISTED codebook — enforce it instead of trusting it:
        # codes from a different codebook are positionally misaligned
        # with every ADC table built from the sidecar, and their NULL/
        # garbage dist_int rows would win rank 1 silently (orderBy sorts
        # NULLs first). JSON round-trips the doubles exactly, so exact
        # equality is the right check.
        stored, _paths = ckpt.open_artifact(spark, path, "pq_index", "append to")
        if meta["centroids"] != stored["centroids"]:
            raise ValueError(
                f"append codebook does not match the codebook persisted at "
                f"{path} — encode the batch against read_pq_index's codebook, "
                "never a freshly derived one."
            )
        if stored.get("ivf_n_cent") != ivf_n_cent:
            raise ValueError(
                f"IVF routing mismatch: index at {path} was built with "
                f"ivf_n_cent={stored.get('ivf_n_cent')}, this append has "
                f"{ivf_n_cent} — re-encode the batch with the index's "
                "routing config (read_pq_index's meta carries it)."
            )
        meta = stored
    elif [c["cent_id"] for c in packed] != list(range(N_CODES)):
        # validate BEFORE writing any codes: pq_codebook takes the first
        # N_CODES vec_ids, so a table whose ids don't start at 0 (or has
        # a gap below N_CODES) yields an empty/short codebook — codes
        # encoded against it are all-NULL or positionally misaligned
        # with the ADC tables, and every later probe would rank garbage
        raise ValueError(
            f"PQ codebook must contain exactly vec_ids 0..{N_CODES - 1} "
            f"(got {len(packed)} entries {[c['cent_id'] for c in packed][:20]}); "
            "the deterministic codebook convention requires those ids to "
            "exist in the input — re-id the table or build the codebook "
            "from a frame that has them."
        )
    ckpt.commit_artifact(spark, path, "pq_index", meta, {"codes": codes}, mode=mode)


def read_pq_index(spark, path: str) -> tuple[DataFrame, DataFrame, dict]:
    """Load the committed codes + rebuild the codebook frame from the
    sidecar. Returns (codes, codebook, params).

    Loud failures, never defaults: codes without a sidecar are
    unusable (there is NO sane default codebook — probing with a
    freshly derived one silently returns garbage ranks), and an index
    written by a build with different PQ geometry must not be probed
    with this one's constants."""
    meta, paths = ckpt.open_artifact(spark, path, "pq_index", "read")
    codes = spark.read.option("mergeSchema", "true").parquet(*paths["codes"])
    if (meta["n_sub"], meta["d_sub"], meta["n_codes"]) != (N_SUB, D_SUB, N_CODES):
        raise ValueError(
            f"PQ geometry mismatch: index at {path} was built with "
            f"(n_sub={meta['n_sub']}, d_sub={meta['d_sub']}, n_codes={meta['n_codes']}), "
            f"this build uses ({N_SUB}, {D_SUB}, {N_CODES}); re-encode."
        )
    cent = spark.createDataFrame(
        [(i, vec) for i, vec in enumerate(meta["centroids"])],
        "cent_id long, ce array<double>",
    )
    return codes, _pack_centroids(cent), meta
