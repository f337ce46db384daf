"""Distributed quality classifier — full-batch logistic regression with
EXACT integer-arithmetic gradients.

The operator real LLM pipelines use for document filtering (the
fastText-classifier practice popularized by GPT-3's quality filter and
kept by Llama/CCNet-style curation, all public): train a tiny linear
model on per-document features, score every document, keep the top
mass. pmOCR has no counterpart — this is north-rule-native corpus
hygiene, the trainable twin of q24's fixed-weight heuristic.

Why this shape at 10^12 documents:

- **Full-batch GD, one aggregation per iteration.** Each step is a
  map-side-combined `agg` producing K+1 numbers; the driver update is
  O(K) floats. No parameter server, no per-row Python, no window — the
  same driver footprint as the BPE merge loop (operators/bpe.py).
- **Exact integer gradients (the DSIR micro-unit trick,
  queries.py q35).** Floating-point sums are summation-order-dependent,
  so a naive float gradient could never hash-match an oracle — and
  would not even be reproducible across Spark retries. Instead:
  features are standardized to integer MILLI-z-scores (mu/sd are
  doubles derived from exact integer sums, identical on any engine),
  per-doc probabilities are quantized to integer MICROS, and the
  gradient is a sum of int64 products — exact and order-independent.
  Sums are accumulated as decimal(38,0): at 10^12 docs the raw int64
  sum of |r·z| <= ~6e9-per-row contributions would overflow.
- **Determinism by induction.** w starts at zeros; every update
  combines exact integers with a fixed float formula, so the weight
  trajectory is bit-identical across engines, partitionings, and
  retries (pinned vs a pure-python reference in tests/test_quality_
  classifier.py and vs the DuckDB oracle in q24's lr_quality column).

Formula (shared verbatim by the Spark arm, the SQL oracle, and the
test reference — evaluation ORDER matters at ulp level, keep it):

    z_k  = round(1000*(x_k - mu_k)/sd_k)          integer milli-z
    z_0  = 1000                                    bias
    logit= (c0*z0 + c1*z1 + ... left-assoc)/1000.0
    pmu  = round(1000000.0/(1.0 + exp(-logit)))    integer micro-prob
    g_k  = sum((pmu - 1000000*y) * z_k)            EXACT
    c_k := c_k - eta * float(g_k)/(1e9 * n)
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import checkpoint as ckpt

#: defaults used by the q24 arm (tuned on the synthetic corpus: loss
#: decreases monotonically, ~0.93 train accuracy after 3 steps)
ETA = 2.0
ITERS = 3


def standardize_stats(
    feats: DataFrame, xcols: list[str]
) -> tuple[int, list[float], list[float]]:
    """One exact pass: n, mean and stddev per raw integer feature.

    Returns floats computed as float(sum)/n — double the integer sum
    FIRST, then divide — so any mirror (SQL `s*1.0/n`) lands on the
    identical double. Zero variance -> sd 1.0 (constant feature,
    z becomes 0)."""
    aggs = [F.count("*").alias("n")]
    for c in xcols:
        aggs.append(F.sum(F.col(c).cast("decimal(38,0)")).alias(f"s_{c}"))
        aggs.append(
            F.sum((F.col(c) * F.col(c)).cast("decimal(38,0)")).alias(f"q_{c}")
        )
    row = feats.agg(*aggs).first()
    n = row["n"]
    mu, sd = [], []
    for c in xcols:
        m = float(row[f"s_{c}"]) / n
        var = float(row[f"q_{c}"]) / n - m * m
        mu.append(m)
        sd.append(math.sqrt(var) if var > 0 else 1.0)
    return n, mu, sd


def z_frame(
    feats: DataFrame,
    xcols: list[str],
    mu: list[float],
    sd: list[float],
    ycol: str,
    keep: list[str],
) -> DataFrame:
    """Integer milli-z frame: z0 = bias 1000, z1..zK standardized."""
    cols = [*keep, F.col(ycol).cast("long").alias("y")]
    cols.append(F.lit(1000).cast("long").alias("z0"))
    for i, c in enumerate(xcols):
        cols.append(
            F.round(
                F.lit(1000.0) * (F.col(c) - F.lit(mu[i])) / F.lit(sd[i]), 0
            )
            .cast("long")
            .alias(f"z{i + 1}")
        )
    return feats.select(*cols)


def _logit(w: list[float]) -> Column:
    """Left-associative weighted sum over z0..zK, divided by 1000 —
    the exact expression shape shared with the SQL oracle."""
    terms = [F.lit(w[k]) * F.col(f"z{k}") for k in range(len(w))]
    return reduce(lambda a, b: a + b, terms) / F.lit(1000.0)


def pmu_col(w: list[float]) -> Column:
    """Integer micro-probability under weights w."""
    return (
        F.round(F.lit(1000000.0) / (F.lit(1.0) + F.exp(-_logit(w))), 0)
        .cast("long")
    )


def train(z: DataFrame, k: int, n: int, iters: int = ITERS, eta: float = ETA) -> list[float]:
    """Full-batch GD: `iters` aggregations, each returning k+1 exact
    integer gradient components; the model state lives on the driver
    (k+1 floats). Cache `z` at the call site — it is scanned once per
    iteration plus once for scoring."""
    w = [0.0] * (k + 1)
    for _ in range(iters):
        r = pmu_col(w) - F.col("y") * F.lit(1000000)
        row = z.agg(
            *[
                F.sum((r * F.col(f"z{j}")).cast("decimal(38,0)")).alias(f"g{j}")
                for j in range(k + 1)
            ]
        ).first()
        w = [
            w[j] - eta * float(row[f"g{j}"]) / (1000000000.0 * n)
            for j in range(k + 1)
        ]
    return w


def score_col(w: list[float]) -> Column:
    """Probability-of-quality under trained weights (double)."""
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-_logit(w)))


def default_features(docs: DataFrame) -> DataFrame:
    """Self-contained feature/label frame from a raw documents(text)
    table — the q24 feature set recomputed from text alone (n_chars via
    length(), so replicated/synthetic corpora without a fresh n_chars
    column work). Used by bench scale checkpoints; q24 itself derives
    features from its existing scan to share one corpus pass."""
    ntok = F.size(F.split(F.trim("text"), r"\s+")).cast("long")
    npunct = F.regexp_count("text", F.lit("[.,;:!?]")).cast("long")
    lt = F.lower(F.col("text"))
    nstop = (
        F.floor((F.length(lt) - F.length(F.replace(lt, F.lit(" the ")))) / 5)
        .cast("long")
    )
    nch = F.length("text").cast("long")
    quality = 1.0 / (
        1.0 + F.exp(-(0.002 * nch + 2.0 * nstop / ntok - 1.5 * npunct / ntok - 0.5))
    )
    return docs.select(
        "doc_id",
        nch.alias("r1"),
        ntok.alias("r2"),
        F.round(F.lit(1000.0) * nch / ntok, 0).cast("long").alias("r3"),
        F.round(F.lit(1000.0) * nstop / ntok, 0).cast("long").alias("r4"),
        F.round(F.lit(1000.0) * npunct / ntok, 0).cast("long").alias("r5"),
        (quality > 0.5).cast("long").alias("y"),
    )


DEFAULT_XCOLS = ["r1", "r2", "r3", "r4", "r5"]


def train_quality_classifier(
    docs: DataFrame, iters: int = ITERS, eta: float = ETA
) -> tuple[dict, DataFrame]:
    """End-to-end convenience: features -> standardize -> train.
    Returns (model dict, cached z-frame ready for score_col). The model
    carries the TRAINING standardization stats — inference must reuse
    them, never recompute on the scored corpus (a shifted corpus would
    silently shift every score)."""
    from .graph import iter_checkpoint

    feats = iter_checkpoint(default_features(docs))
    n, mu, sd = standardize_stats(feats, DEFAULT_XCOLS)
    z = iter_checkpoint(z_frame(feats, DEFAULT_XCOLS, mu, sd, "y", ["doc_id"]))
    w = train(z, k=len(DEFAULT_XCOLS), n=n, iters=iters, eta=eta)
    model = {
        "algo": "logreg-exact-int",
        "xcols": DEFAULT_XCOLS,
        "w": w,
        "mu": mu,
        "sd": sd,
        "n_train": n,
        "iters": iters,
        "eta": eta,
    }
    return model, z


def write_model(spark, path: str, model: dict) -> None:
    """Commit a trained model (checkpoint.commit_artifact; the model is
    driver-small, so the sidecar IS the model)."""
    ckpt.commit_artifact(spark, path, "quality_model", model, mode="overwrite")


def read_model(spark, path: str) -> dict:
    """Load a model written by write_model. Loud failure on an algo
    mismatch — scoring with foreign weights silently produces garbage."""
    meta, _paths = ckpt.open_artifact(spark, path, "quality_model", "read")
    if meta.get("algo") != "logreg-exact-int":
        raise ValueError(f"unknown quality-model algo {meta.get('algo')!r} at {path}")
    return meta


def score_with_model(docs: DataFrame, model: dict) -> DataFrame:
    """Inference: (doc_id, lr_quality, keep_quality) under a persisted
    model — features standardized with the model's TRAINING mu/sd, one
    map-only pass (the broadcast-free limit of model distribution: the
    whole model rides the plan as literals)."""
    feats = default_features(docs)
    z = z_frame(feats, model["xcols"], model["mu"], model["sd"], "y", ["doc_id"])
    s = score_col([float(x) for x in model["w"]])
    return z.select(
        "doc_id",
        F.round(s, 4).alias("lr_quality"),
        (s > 0.5).cast("long").alias("keep_quality"),
    )
