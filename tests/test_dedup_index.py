"""Incremental MinHash dedup index (operators/dedup_index.py): build,
probe a new batch against a persisted index, append, hot-bucket cap, and
parity with the one-shot q18 pair query."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pmocr_spark import checkpoint as ckpt
from pmocr_spark.operators import dedup_index as di


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


BASE = [
    ("corp-1", "the quick brown fox jumps over the lazy dog near the river bank today"),
    ("corp-2", "spark shuffles data between stages when keys move across partitions often"),
    ("corp-3", "completely unrelated text about cooking pasta with garlic and olive oil"),
]


def test_probe_flags_near_dup_and_ignores_fresh(spark, tmp_path):
    """A new doc that is a near-copy of an indexed doc is flagged with
    its keeper; a genuinely new doc is not. The index round-trips
    through parquet (the persisted-index deployment shape)."""
    idx_path = str(tmp_path / "index")
    di.build_index(_docs(spark, BASE)).write.parquet(idx_path)
    index = spark.read.parquet(idx_path)

    new = _docs(
        spark,
        [
            # near-copy of corp-1 (one word changed at the end)
            ("new-dup", "the quick brown fox jumps over the lazy dog near the river bank tonight"),
            ("new-fresh", "telescopes gather photons from distant galaxies revealing ancient light"),
        ],
    )
    hits = {r["doc_id"]: r for r in di.probe_index(new, index).collect()}
    assert "new-dup" in hits and hits["new-dup"]["dup_of"] == "corp-1"
    assert hits["new-dup"]["n_bands"] >= 1
    assert "new-fresh" not in hits


def test_incremental_merge(spark, tmp_path):
    """Batch 2 dups a BATCH-1 doc that is only in the index because
    --merge-dedup-index appended it — the incremental flow the one-shot
    q18 cannot do."""
    from pmocr_spark import cli

    idx = str(tmp_path / "idx")
    di.write_index(di.build_index(_docs(spark, BASE)), idx)
    b1 = _docs(spark, [("b1-new", "neural networks learn representations from large corpora of text data")])
    assert di.probe_index(b1, di.read_index(spark, idx)[0]).count() == 0
    b1.write.parquet(str(tmp_path / "b1"))
    cli.main(["--merge-dedup-index", idx, "--input", str(tmp_path / "b1"),
              "--master", "local[4]"])
    index = di.read_index(spark, idx)[0]
    b2 = _docs(spark, [("b2-dup", "neural networks learn representations from large corpora of text data")])
    hits = di.probe_index(b2, index).collect()
    assert [(h["doc_id"], h["dup_of"]) for h in hits] == [("b2-dup", "b1-new")]
    # exact duplicate -> every band collides
    assert hits[0]["n_bands"] == di.N_MINHASH // di.BAND_SIZE


def test_cli_merge_twice_adds_no_rows(spark, tmp_path):
    """A retried --merge-dedup-index appends only the rows the index
    does not hold yet, so the second identical merge adds none."""
    from pmocr_spark import cli

    idx = str(tmp_path / "idx")
    di.write_index(di.build_index(_docs(spark, BASE[:1])), idx)
    _docs(spark, BASE[1:]).write.parquet(str(tmp_path / "b1"))
    argv = ["--merge-dedup-index", idx, "--input", str(tmp_path / "b1"), "--master", "local[4]"]
    cli.main(argv)
    n = di.read_index(spark, idx)[0].count()
    assert n == di.build_index(_docs(spark, BASE)).count()
    generations = ckpt.open_artifact(spark, idx, "dedup_index")[1]
    cli.main(argv)
    assert di.read_index(spark, idx)[0].count() == n
    # and commits no empty generation
    assert ckpt.open_artifact(spark, idx, "dedup_index")[1] == generations


def test_hot_bucket_cap(spark):
    """> max_bucket docs sharing a band bucket (boilerplate flood) are
    dropped from the index — the k^2/2 pair-bomb guard."""
    flood = [(f"f-{i}", "identical boilerplate header repeated across many pages verbatim") for i in range(8)]
    bands = di.build_index(_docs(spark, flood), max_bucket=5)
    assert bands.count() == 0  # every bucket had 8 > 5 members
    bands = di.build_index(_docs(spark, flood), max_bucket=None)
    assert bands.count() == 8 * (di.N_MINHASH // di.BAND_SIZE)


def test_matches_oneshot_q18(spark):
    """Probing the sf0.001 corpus against ITS OWN index reproduces
    exactly the one-shot q18 candidate pairs (each unordered pair shows
    up as two ordered hits)."""
    from pmocr_spark.queries import QUERY_FNS, _t

    SF = "/root/testdata/sf0.001"
    docs = _t(spark, SF, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    index = di.build_index(docs)
    hits = di.probe_index(docs, index).collect()
    got = {tuple(sorted((h["doc_id"], h["dup_of"]))) for h in hits}
    q18 = QUERY_FNS["q18_minhash_lsh"](spark, SF).collect()
    expect = {(str(r["doc_a"]), str(r["doc_b"])) for r in q18}
    expect = {tuple(sorted(p)) for p in expect}
    assert got == expect


def test_probe_accepts_precomputed_bands(spark):
    """The incremental recipe reuses one build_index result for both
    probe and merge — passing new_bands must give identical hits."""
    index = di.build_index(_docs(spark, BASE))
    new = _docs(spark, [("n1", BASE[0][1])])  # exact dup of corp-1
    nb = di.build_index(new)
    a = sorted((r["doc_id"], r["dup_of"]) for r in di.probe_index(new, index).collect())
    b = sorted(
        (r["doc_id"], r["dup_of"])
        for r in di.probe_index(new, index, new_bands=nb).collect()
    )
    assert a == b == [("n1", "corp-1")]


def test_probe_validates_sidecar_params(spark):
    """With index_params (the read_index sidecar), a mismatched
    parameterization raises EVEN when the band count coincides —
    12/3 and 8/2 both give 4 bands, so the range check alone cannot
    catch it (the round-3 ADVICE item)."""
    index = di.build_index(_docs(spark, BASE), n_hashes=8, band_size=2)  # 4 bands
    with pytest.raises(ValueError, match="built with"):
        di.probe_index(
            _docs(spark, BASE[:1]),
            index,
            index_params={"n_hashes": 8, "band_size": 2, "max_bucket": 100},
            # defaults: 12/3 — also 4 bands; range check would pass
        )
    # matching params go through (and a 'defaults' marker skips the check)
    hits = di.probe_index(
        _docs(spark, [("n1", BASE[0][1])]),
        index,
        index_params={"n_hashes": 8, "band_size": 2, "max_bucket": 100},
        n_hashes=8,
        band_size=2,
    ).collect()
    assert [(h["doc_id"], h["dup_of"]) for h in hits] == [("n1", "corp-1")]


def test_append_merges_plus_compaction_match_oneshot(spark, tmp_path):
    """Steady-state cost fix: K-1 --merge-dedup-index appends (no
    O(index) groupBy per merge) followed by ONE --compact-dedup-index
    must equal the ground truth — a one-shot capped build over the full
    union. (Note: always-cap-per-merge does NOT equal this ground truth:
    it irreversibly drops a bucket the moment it crosses the cap, and a
    later small batch re-enters it with only its own rows. Deferred
    compaction sees the full accumulation, i.e. it is the MORE correct
    schedule, as well as the cheaper one.)"""
    from pmocr_spark import cli

    def rows(tag, n):
        return [
            (f"{tag}-{i}", "identical boilerplate header repeated across many pages verbatim")
            for i in range(n)
        ]

    idx = str(tmp_path / "idx")
    all_rows = rows("b0", 2)
    # the build stays uncapped (2 docs can never trip a cap of 5
    # anyway); the cap of 5 is the committed policy compaction applies
    di.write_index(di.build_index(_docs(spark, all_rows), max_bucket=None), idx, max_bucket=5)
    for k in range(1, 4):
        r = rows(f"b{k}", 2)
        all_rows += r
        _docs(spark, r).write.parquet(str(tmp_path / f"b{k}"))
        cli.main(["--merge-dedup-index", idx, "--input", str(tmp_path / f"b{k}"),
                  "--master", "local[4]"])
    cli.main(["--compact-dedup-index", idx, "--master", "local[4]"])
    cheap = di.read_index(spark, idx)[0]

    oneshot = di.build_index(_docs(spark, all_rows), max_bucket=5)

    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert key(cheap) == key(oneshot)
    # 8 flood docs share every bucket > 5 -> fully capped
    assert oneshot.count() == 0


def test_write_read_index_roundtrip_params(spark, tmp_path):
    """The banding parameters travel with the persisted index (sidecar
    the parquet reader ignores); probing with the recovered params
    works where defaults would have raised."""
    path = str(tmp_path / "idx")
    idx = di.build_index(_docs(spark, BASE), n_hashes=24, band_size=4)
    di.write_index(idx, path, n_hashes=24, band_size=4)
    loaded, params = di.read_index(spark, path)
    assert params["n_hashes"] == 24 and params["band_size"] == 4
    assert loaded.count() == idx.count()
    new = _docs(spark, [("n1", BASE[0][1])])
    hits = di.probe_index(
        new, loaded,
        n_hashes=params["n_hashes"], band_size=params["band_size"],
        max_bucket=params["max_bucket"],
    ).collect()
    assert [(h["doc_id"], h["dup_of"]) for h in hits] == [("n1", "corp-1")]
    # a pre-sidecar table is rejected, never read with guessed defaults
    plain = str(tmp_path / "plain")
    di.build_index(_docs(spark, BASE)).write.parquet(plain)
    with pytest.raises(ValueError, match="sidecar"):
        di.read_index(spark, plain)


def test_cap_index_counts_cross_epoch_duplicates_once(spark):
    """cap_index counts DISTINCT docs, not rows: a stream-accumulated
    index holds a re-dropped doc's (id, band, key) once per epoch
    generation, and a bucket of 2 docs duplicated across epochs must
    NOT read as 4 and get dropped (review finding, round 4)."""
    bands = di.build_index(_docs(spark, BASE))
    dup_rows = bands.unionByName(bands)  # every (id,band,key) twice
    capped = di.cap_index(dup_rows, max_bucket=2)
    assert capped.count() == dup_rows.count()  # max bucket has 2 docs <= 2


def test_cli_merge_refuses_sidecarless_index(spark, tmp_path):
    """--merge/--compact-dedup-index over a sidecar-less index would
    launder the GUESSED default params into an authoritative sidecar
    (write_meta strips the 'source' marker), silently defeating every
    later probe's mismatch guard — both modes must refuse (review
    finding, round 4)."""
    from pmocr_spark import cli

    idx = str(tmp_path / "bare_idx")
    # 12/4 -> 3 bands vs the defaults' 4: a geometry the range fallback
    # can see (8/2 would alias to the same band count — its documented
    # blind spot, caught only by the sidecar exact check)
    di.build_index(_docs(spark, BASE), n_hashes=12, band_size=4).write.parquet(idx)
    _docs(spark, BASE).write.parquet(str(tmp_path / "b2"))
    for argv in (
        ["--merge-dedup-index", idx, "--input", str(tmp_path / "b2"), "--master", "local[4]"],
        ["--compact-dedup-index", idx, "--master", "local[4]"],
    ):
        with pytest.raises(SystemExit, match="sidecar"):
            cli.main(argv)
    # and every reader rejects it too, instead of probing with guesses
    with pytest.raises(ValueError, match="sidecar"):
        di.read_index(spark, idx)


def test_cli_compact_flattens_epoch_history(spark, tmp_path):
    """--compact-dedup-index over a stream-accumulated index (one
    epoch-N generation per epoch) must collapse it into one generation,
    which every epoch of a restarted stream sees, like its substr twin
    (review finding, round 4)."""
    from pmocr_spark import checkpoint as ckpt
    from pmocr_spark import cli

    idx = str(tmp_path / "stream_idx")
    bands = di.build_index(_docs(spark, BASE))
    params = {"n_hashes": di.N_MINHASH, "band_size": di.BAND_SIZE,
              "max_bucket": di.MAX_BAND_BUCKET}
    for e in (0, 1):
        ckpt.commit_artifact(
            spark, idx, "dedup_index", params,
            {"bands": bands},
            mode="append", generation=f"epoch-{e}",
        )
    cli.main(["--compact-dedup-index", idx, "--master", "local[4]"])
    flat, params = di.read_index(spark, idx)
    assert "epoch" not in flat.columns
    assert flat.count() == bands.count()  # cross-epoch dupes collapsed
    gens = ckpt.open_artifact(spark, idx, "dedup_index")[1]["bands"]
    assert len(gens) == 1 and "/gen-" in gens[0]
    assert params["n_hashes"] == di.N_MINHASH  # sidecar restored
