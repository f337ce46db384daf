"""Multimodal column operators: audio/video transcription and content
near-dup (pHash, acoustic fingerprint, SRP) — real Spark plumbing over
binary columns."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pmocr_spark import codecs
from pmocr_spark.operators import multimodal as mm


def test_audio_transcribe_roundtrip(spark):
    """decode(encode(text)) == text through the REAL Spark path (Arrow
    batches, struct column), with a poison blob failing into the error
    column instead of poisoning the batch."""
    rows = [
        ("a1", codecs.encode_audio("hello audio world", salt="t1")),
        ("a2", codecs.encode_audio("line one\nline two", salt="t2")),
        ("bad", codecs.encode_corrupt("z")),
        ("trunc", codecs.encode_audio("cut me", salt="t3")[:-3]),
    ]
    df = spark.createDataFrame(rows, "media_ref string, content binary")
    got = {
        r["media_ref"]: r.asDict()
        for r in df.select("media_ref", mm.audio_transcribe("content").alias("t"))
        .select("media_ref", "t.*")
        .collect()
    }
    assert got["a1"]["text"] == "hello audio world"
    assert got["a1"]["sample_rate"] == codecs.AUDIO_RATE
    assert got["a2"]["text"] == "line one\nline two"
    assert got["bad"]["text"] is None and "magic" in got["bad"]["error"]
    assert got["trunc"]["text"] is None and got["trunc"]["error"] is not None
    # duration is derived from the REAL frame count
    n = len("hello audio world") * codecs.SAMPLES_PER_CHAR
    assert got["a1"]["duration_sec"] == round(n / codecs.AUDIO_RATE, 6)


def test_phash_near_dup_pairs(spark):
    """Visual near-dup: re-encodes of the same content pair at hamming 0,
    a one-word edit pairs at small hamming, unrelated images don't pair,
    and poison blobs hash NULL and drop out of the join entirely."""
    from pmocr_spark import codecs
    from pmocr_spark.operators.multimodal import image_phash, phash_near_dup

    t1 = "the quick brown fox jumps\nover the lazy dog today\nthird line of sample text"
    t2 = "the quick brown fox jumps\nover the lazy dog tonite\nthird line of sample text"
    t3 = "completely different content here\nnothing matches the others\nfinal row"
    rows = [
        ("img:a", codecs.encode_image(t1, "tif", salt="a")),
        ("img:b", codecs.encode_image(t1, "png", salt="zzz")),  # re-encode of a
        ("img:c", codecs.encode_image(t2, "tif", salt="b")),    # near-dup of a/b
        ("img:d", codecs.encode_image(t3, "tif", salt="c")),    # unrelated
        ("img:p", codecs.encode_corrupt("img:p")),              # poison -> NULL hash
    ]
    blobs = spark.createDataFrame(rows, "media_ref string, content binary")
    got = {(r["ref_a"], r["ref_b"]): r["hamming"]
           for r in phash_near_dup(blobs, max_hamming=6).collect()}
    assert got[("img:a", "img:b")] == 0
    assert 0 < got[("img:a", "img:c")] <= 6
    assert 0 < got[("img:b", "img:c")] <= 6
    assert len(got) == 3  # nothing pairs with img:d, img:p never appears

    # poison hashes NULL (not a sentinel that would cluster poisons)
    ph = {r["media_ref"]: r["ph"] for r in
          blobs.select("media_ref", image_phash("content").alias("ph")).collect()}
    assert ph["img:p"] is None and ph["img:a"] == ph["img:b"]

    # plan: banded candidates must meet through an equi hash join,
    # never a cartesian over the image table
    from pmocr_spark.plans import shape
    p = shape.formatted_plan(phash_near_dup(blobs))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_phash_corpus_a7_two_column_not_near_dup_of_flat(spark, corpus_dir):
    """An A7 two-column rendering of a text is a DIFFERENT page layout
    than its single-column rendering — layout-aware near-dup must NOT
    collapse them (pHash sees pixels, not decoded text), while the
    decoded text stays equal. Pins that the two dedup axes (visual vs
    textual) measure different things."""
    from pmocr_spark import codecs
    from pmocr_spark.operators.multimodal import phash_near_dup

    text = "alpha beta gamma delta\nepsilon zeta eta theta\niota kappa lambda mu"
    lines = text.split("\n")
    flat = codecs.encode_image(text, "tif", salt="f")
    twocol = codecs.encode_image_columns(["\n".join(lines[:2]), lines[2]], "tif", salt="f")
    assert codecs.decode_blob(flat) == codecs.decode_blob(twocol)  # same text
    blobs = spark.createDataFrame(
        [("img:flat", flat), ("img:col", twocol)], "media_ref string, content binary"
    )
    assert phash_near_dup(blobs, max_hamming=6).count() == 0


def test_phash_dedup_cli(spark, tmp_path, corpus_dir):
    """--phash-dedup maintenance mode: pairs over a real blob table land
    in --output; mode exclusivity and missing-arg validation hold."""
    import pytest as _pytest

    from pmocr_spark import cli

    out = str(tmp_path / "pairs")
    cli.main(["--phash-dedup", "--blobs", f"{corpus_dir}/media_blobs.parquet",
              "--output", out, "--phash-max-hamming", "3", "--master", "local[4]"])
    pairs = spark.read.parquet(out)
    assert set(pairs.columns) == {"ref_a", "ref_b", "hamming"}
    assert pairs.count() > 0  # 120-doc corpus has near-identical short renders
    assert pairs.filter(F.col("hamming") > 3).count() == 0

    with _pytest.raises(SystemExit):
        cli.parse_args(["--phash-dedup", "--blobs", "b"])  # no --output
    with _pytest.raises(SystemExit):
        cli.parse_args(["--phash-dedup", "--dedup-substrings",
                        "--blobs", "b", "--output", "o", "--input", "i"])
    with _pytest.raises(SystemExit):
        cli.parse_args(["--phash-dedup", "--blobs", "b", "--output", "o",
                        "--phash-max-hamming", "65"])


def test_q20_visual_classes_separated():
    """The q20 part='visual' gate lift is only exact if DISTINCT visual
    classes can never satisfy the near-dup threshold: the oracle states
    same-class pairs ONLY, so a cross-class pair within max_hamming=3
    would be a Spark-side extra row (hash mismatch). Pin the minimum
    pairwise pHash hamming across all 50 class pages at > 2x the
    threshold (deterministic codec -> this holds forever on this code),
    and byte-identity within a class (hamming 0) by construction."""
    from pmocr_spark.queries import _VIS_CLASSES, _phash_class_text

    hashes = [
        mm.phash64(codecs.encode_image(_phash_class_text(k), "tiff", salt="q20v"))
        for k in range(_VIS_CLASSES)
    ]
    assert len(set(hashes)) == _VIS_CLASSES  # all classes distinct
    min_ham = min(
        bin((a ^ b) & ((1 << 64) - 1)).count("1")
        for i, a in enumerate(hashes)
        for b in hashes[i + 1 :]
    )
    assert min_ham > 6, f"min cross-class hamming {min_ham} too close to threshold 3"
    # same class re-encodes byte-identically (same text, same salt)
    assert codecs.encode_image(_phash_class_text(7), "tiff", salt="q20v") == \
        codecs.encode_image(_phash_class_text(7), "tiff", salt="q20v")


def test_transcribe_audio_cli(spark, tmp_path):
    """--transcribe-audio maintenance mode: blobs table in, per-blob
    (text, sample_rate, duration_sec, error) out; poison rows are
    error-data; validation rejects missing args / mode mixing."""
    from pmocr_spark import cli

    rows = [
        ("a1", "wav", codecs.encode_audio("first utterance", salt="c1")),
        ("a2", "wav", codecs.encode_audio("second utterance", salt="c2")),
        ("bad", "wav", codecs.encode_corrupt("zz")),
    ]
    blobs = str(tmp_path / "blobs")
    spark.createDataFrame(rows, "media_ref string, kind string, content binary") \
        .write.parquet(blobs)
    out = str(tmp_path / "txt")
    cli.main(["--transcribe-audio", "--blobs", blobs, "--output", out,
              "--master", "local[4]"])
    got = {r["media_ref"]: r for r in spark.read.parquet(out).collect()}
    assert got["a1"]["text"] == "first utterance" and got["a1"]["error"] is None
    assert got["a2"]["text"] == "second utterance"
    assert got["bad"]["text"] is None and "magic" in got["bad"]["error"]
    with pytest.raises(SystemExit):
        cli.parse_args(["--transcribe-audio", "--blobs", blobs])  # no --output
    with pytest.raises(SystemExit):
        cli.parse_args(["--transcribe-audio", "--batch", "--blobs", blobs,
                        "--output", out])


def test_video_transcribe_roundtrip(spark):
    """transcribe(encode(captions)) == captions through the REAL Spark
    path (Arrow batches, struct column): held scenes collapse, poison
    and truncated blobs fail into the error column."""
    rows = [
        ("v1", codecs.encode_video(["scene one", "scene two"], hold=2, salt="t1")),
        ("v2", codecs.encode_video(["solo\nline"], hold=1, salt="t2")),
        ("bad", codecs.encode_corrupt("z")),
        ("trunc", codecs.encode_video(["cut"], hold=1, salt="t3")[:-3]),
    ]
    df = spark.createDataFrame(rows, "media_ref string, content binary")
    got = {
        r["media_ref"]: r.asDict()
        for r in df.select("media_ref", mm.video_transcribe("content").alias("t"))
        .select("media_ref", "t.*")
        .collect()
    }
    assert got["v1"]["text"] == "scene one\nscene two"
    assert got["v1"]["n_frames"] == 4 and got["v1"]["fps"] == codecs.VIDEO_FPS
    assert got["v2"]["text"] == "solo\nline"
    assert got["bad"]["text"] is None and "magic" in got["bad"]["error"]
    assert got["trunc"]["text"] is None and got["trunc"]["error"] is not None


def test_transcribe_video_cli(spark, tmp_path):
    """--transcribe-video maintenance mode: blobs table in, per-blob
    (text, fps, n_frames, duration_sec, error) out; poison rows are
    error-data; validation rejects missing args / mode mixing."""
    from pmocr_spark import cli

    rows = [
        ("v1", "avi", codecs.encode_video(["first scene", "second scene"], hold=2, salt="c1")),
        ("v2", "avi", codecs.encode_video(["solo"], hold=1, salt="c2")),
        ("bad", "avi", codecs.encode_corrupt("zz")),
    ]
    blobs = str(tmp_path / "blobs")
    spark.createDataFrame(rows, "media_ref string, kind string, content binary") \
        .write.parquet(blobs)
    out = str(tmp_path / "txt")
    cli.main(["--transcribe-video", "--blobs", blobs, "--output", out,
              "--master", "local[4]"])
    got = {r["media_ref"]: r for r in spark.read.parquet(out).collect()}
    assert got["v1"]["text"] == "first scene\nsecond scene"
    assert got["v1"]["n_frames"] == 4 and got["v1"]["error"] is None
    assert got["v2"]["text"] == "solo"
    assert got["bad"]["text"] is None and "magic" in got["bad"]["error"]
    with pytest.raises(SystemExit):
        cli.parse_args(["--transcribe-video", "--blobs", blobs])  # no --output
    with pytest.raises(SystemExit):
        cli.parse_args(["--transcribe-video", "--batch", "--blobs", blobs,
                        "--output", out])


def test_afp_near_dup_pairs(spark):
    """Acoustic near-dup: byte-identical re-reads pair at hamming 0, a
    different-noise-salt re-encode of the same content pairs within the
    threshold, unrelated content doesn't pair, poison blobs hash NULL
    and drop out of the join."""
    from pmocr_spark.operators.multimodal import audio_afp, audio_near_dup

    # tone-density-contrast content (the regime afp64 is built for:
    # dense '~' vs sparse '@' frames)
    t1 = "~~~~@@@@~~@@~~@@" * 4
    t2 = "@@@@~~~~@@~~@@~~" * 4  # inverted profile: unrelated
    rows = [
        ("au:a", codecs.encode_audio(t1, salt="s1")),
        ("au:b", codecs.encode_audio(t1, salt="s1")),  # byte-identical
        ("au:c", codecs.encode_audio(t1, salt="s2")),  # re-encode, new noise
        ("au:d", codecs.encode_audio(t2, salt="s1")),  # unrelated
        ("au:p", codecs.encode_corrupt("au:p")),       # poison -> NULL hash
    ]
    blobs = spark.createDataFrame(rows, "media_ref string, content binary")
    got = {(r["ref_a"], r["ref_b"]): r["hamming"]
           for r in audio_near_dup(blobs, max_hamming=3).collect()}
    assert got[("au:a", "au:b")] == 0
    assert got[("au:a", "au:c")] <= 3 and got[("au:b", "au:c")] <= 3
    assert not any("au:d" in k or "au:p" in k for pair in got for k in pair)

    ph = {r["media_ref"]: r["ph"] for r in
          blobs.select("media_ref", audio_afp("content").alias("ph")).collect()}
    assert ph["au:p"] is None and ph["au:a"] == ph["au:b"]

    from pmocr_spark.plans import shape
    p = shape.formatted_plan(audio_near_dup(blobs))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_afp_short_and_empty_clips():
    """afp64 handles clips shorter than 64 samples (bucket upsample)
    and the empty clip (fingerprint 0); truncation raises loudly."""
    from pmocr_spark.operators.multimodal import afp64

    short = codecs.encode_audio("abc", salt="s")  # 24 samples
    assert isinstance(afp64(short), int)
    assert afp64(codecs.encode_audio("", salt="s")) == 0
    with pytest.raises(codecs.CodecError):
        afp64(codecs.encode_audio("hello", salt="s")[:-3])  # truncated
    with pytest.raises(codecs.CodecError):
        afp64(b"WRNG" + b"\x00" * 20)  # bad magic


def test_q20_audio_classes_separated():
    """The q20 part='audio' gate lift mirrors the visual one: distinct
    acoustic classes must never meet the threshold (min pairwise
    hamming > 2x), same-class blobs are byte-identical, AND — the
    property the fingerprint exists for — a re-encode under a different
    noise salt stays within the near-dup threshold."""
    from pmocr_spark.operators.multimodal import afp64
    from pmocr_spark.queries import _VIS_CLASSES, _afp_class_text

    hashes = [
        afp64(codecs.encode_audio(_afp_class_text(k), salt="q20a"))
        for k in range(_VIS_CLASSES)
    ]
    assert len(set(hashes)) == _VIS_CLASSES
    min_ham = min(
        bin((a ^ b) & ((1 << 64) - 1)).count("1")
        for i, a in enumerate(hashes)
        for b in hashes[i + 1 :]
    )
    assert min_ham > 6, f"min cross-class hamming {min_ham} too close to threshold 3"
    assert codecs.encode_audio(_afp_class_text(7), salt="q20a") == \
        codecs.encode_audio(_afp_class_text(7), salt="q20a")
    # cross-salt re-encode robustness: every class within the threshold
    max_resalt = max(
        bin((h ^ afp64(codecs.encode_audio(_afp_class_text(k), salt="other")))
            & ((1 << 64) - 1)).count("1")
        for k, h in enumerate(hashes)
    )
    assert max_resalt <= 3, f"re-encode hamming {max_resalt} breaks the threshold"


def test_afp_dedup_cli(spark, tmp_path):
    """--afp-dedup maintenance mode: audio blobs in, near-dup pairs out;
    threshold knob shared with --phash-max-hamming; mode guards."""
    from pmocr_spark import cli

    t = "~~~~@@@@" * 8
    rows = [
        ("a1", codecs.encode_audio(t, salt="x")),
        ("a2", codecs.encode_audio(t, salt="y")),   # re-encode near-dup
        ("a3", codecs.encode_audio("@@@@~~~~" * 8, salt="x")),
    ]
    blobs = str(tmp_path / "blobs")
    spark.createDataFrame(rows, "media_ref string, content binary").write.parquet(blobs)
    out = str(tmp_path / "pairs")
    cli.main(["--afp-dedup", "--blobs", blobs, "--output", out,
              "--master", "local[4]"])
    pairs = {(r["ref_a"], r["ref_b"]) for r in spark.read.parquet(out).collect()}
    assert pairs == {("a1", "a2")}
    with pytest.raises(SystemExit):
        cli.parse_args(["--afp-dedup", "--blobs", blobs])  # no --output
    with pytest.raises(SystemExit):
        cli.parse_args(["--afp-dedup", "--batch", "--blobs", blobs, "--output", out])
    with pytest.raises(SystemExit):
        cli.parse_args(["--afp-dedup", "--blobs", blobs, "--output", out,
                        "--phash-max-hamming", "65"])


def test_srp_near_dup_pairs(spark):
    """SRP-LSH over embedding vectors: identical vectors hash hamming 0
    (and positive scalings too — SRP is scale-invariant), a
    one-coordinate-zeroed twin lands within a loose threshold, an
    orthogonal-ish unrelated vector doesn't pair, and the hash matches
    a driver-side numpy restatement bit-for-bit. Plan: no cartesian /
    nested-loop join (the banded equi-join), hash is a pure map."""
    import hashlib

    import numpy as np

    from pmocr_spark.operators.multimodal import (
        srp_hashes,
        srp_near_dup,
        srp_signs,
    )

    dim = 16
    rng = [
        (int(hashlib.md5(f"v{i}".encode()).hexdigest()[:8], 16) % 2001 - 1000)
        / 1000.0
        for i in range(dim * 2)
    ]
    a = rng[:dim]
    b = list(a)
    b[3] = 0.0  # zeroed-coordinate twin
    c = [2.5 * x for x in a]  # positive scaling: identical signs
    d = rng[dim:]  # unrelated
    rows = [("e:a", a), ("e:b", b), ("e:c", c), ("e:d", d)]
    vecs = spark.createDataFrame(rows, "media_ref string, e array<double>")

    got = {
        (r["ref_a"], r["ref_b"]): r["hamming"]
        for r in srp_near_dup(vecs, dim=dim, max_hamming=16).collect()
    }
    assert got[("e:a", "e:c")] == 0
    assert got[("e:a", "e:b")] <= 16
    # unrelated random directions in 16-d: expect near 32 of 64 bits
    assert all(got[k] > 16 for k in got if "e:d" in k) or not any(
        "e:d" in k for k in got
    )

    # hash parity vs the numpy restatement (packing + sign conventions)
    S = srp_signs(dim)
    ph = {
        r["media_ref"]: r["ph"]
        for r in srp_hashes(vecs, dim=dim).collect()
    }
    for ref, v in rows:
        bits = (np.asarray(v) @ S.T) > 0
        val = int.from_bytes(np.packbits(bits).tobytes(), "big")
        want = val - (1 << 64) if val >= (1 << 63) else val
        assert ph[ref] == want, ref

    from pmocr_spark.plans import shape

    p = shape.formatted_plan(srp_near_dup(vecs, dim=dim))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    # the hash itself is a pure map: no Exchange before the band explode
    hp = shape.formatted_plan(srp_hashes(vecs, dim=dim))
    assert "Exchange" not in hp, hp


def test_srp_signs_md5_parity_with_duckdb():
    """The Rademacher hyperplane matrix matches DuckDB's md5-parity
    restatement entry-for-entry (the q20 part='srp' oracle contract)."""
    import duckdb

    from pmocr_spark.operators.multimodal import srp_signs

    S = srp_signs(8, bits=8)
    rows = duckdb.sql(
        """
        SELECT i, j,
               CASE WHEN ('0x' || substr(md5(cast(i AS varchar) || '|' ||
                          cast(j AS varchar)), 1, 8))::BIGINT % 2 = 0
                    THEN 1.0 ELSE -1.0 END AS s
        FROM range(0, 8) t(i), range(1, 9) u(j)
        """
    ).fetchall()
    for i, j, s in rows:
        assert S[i, j - 1] == s, (i, j)


def test_cli_srp_dedup(spark, tmp_path, capsys):
    """--srp-dedup e2e over a (vec_id, embedding) table: identical
    vectors pair at hamming 0, pairs land in --output, threshold knob
    validated."""
    import pytest as _pytest

    from pmocr_spark import cli

    src = str(tmp_path / "emb.parquet")
    base = [0.3, -0.2, 0.9, -0.5, 0.1, 0.7, -0.4, 0.2]
    other = [-0.6, 0.8, -0.1, 0.4, -0.9, 0.2, 0.5, -0.3]
    spark.createDataFrame(
        [(0, base), (1, base), (2, other)],
        "vec_id long, embedding array<float>",
    ).write.parquet(src)
    out = str(tmp_path / "srp")
    cli.main(["--srp-dedup", "--input", src, "--output", out,
              "--master", "local[2]"])
    got = {(r["ref_a"], r["ref_b"]): r["hamming"]
           for r in spark.read.parquet(out).collect()}
    assert got[("0", "1")] == 0
    assert not any("2" in k for pair in got for k in pair)
    assert "SRP embedding near-dup pairs" in capsys.readouterr().out

    with _pytest.raises(SystemExit):  # threshold range guard
        cli.main(["--srp-dedup", "--input", src, "--output", out,
                  "--phash-max-hamming", "65", "--master", "local[2]"])


def test_banded_hamming_hot_bucket_split_parity(spark, monkeypatch):
    """Round-6 verdict #1 fix: buckets over HOT_BUCKET_CAP split into an
    exact block join — the candidate/pair SET must be identical to the
    unsplit join (no recall change at any threshold), while the plan
    routes hot keys through the (band, key, bi, bj) block cells."""
    import itertools

    from pmocr_spark.operators import multimodal as mm

    # 40 refs share one hash (each band's bucket = 40 > cap of 8);
    # 6 near-misses at hamming 1-2; 5 far hashes
    base = 0x0123456789ABCDEF
    rows = [(f"a{i:02d}", base) for i in range(40)]
    rows += [(f"n{i}", base ^ (1 << (i * 7))) for i in range(6)]
    rows += [(f"f{i}", (base * (i + 2)) & ((1 << 63) - 1)) for i in range(5)]
    hashed = spark.createDataFrame(
        [(r, v - (1 << 64) if v >= (1 << 63) else v) for r, v in rows],
        "media_ref string, ph long",
    )

    def run():
        return {
            (r["ref_a"], r["ref_b"], r["hamming"])
            for r in mm.banded_hamming_pairs(hashed, 3).collect()
        }

    # reference: cap high enough that the hot path is provably inactive
    monkeypatch.setattr(mm, "HOT_BUCKET_CAP", 10_000)
    cold_only = run()
    # hot path active: every bucket of the 46 base/near refs splits
    monkeypatch.setattr(mm, "HOT_BUCKET_CAP", 8)
    split = run()
    assert split == cold_only, "block-split must not change the pair set"

    # python reference over the same banding definition
    def bandkeys(v):
        u = v & ((1 << 64) - 1)
        return [(b, (u >> (16 * b)) & 0xFFFF) for b in range(4)]

    byhash = dict(rows)
    expect = set()
    for (ra, va), (rb, vb) in itertools.combinations(rows, 2):
        ra, rb = min(ra, rb), max(ra, rb)
        if set(bandkeys(va)) & set(bandkeys(vb)):
            h = bin((va ^ vb) & ((1 << 64) - 1)).count("1")
            if h <= 3:
                expect.add((ra, rb, h))
    assert split == expect
