"""Bloom membership pre-filter (operators/bloom.py): position formula
pinned against hashlib, verdict parity with a pure-python Bloom filter
(false positives INCLUDED — they're deterministic), no false negatives,
broadcast/join path agreement, persisted lifecycle, and the zero-shuffle
probe plan pin."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from pmocr_spark.operators import bloom
from pmocr_spark.plans import shape


def _py_positions(key: str, m: int, k: int) -> list[int]:
    return [
        int(hashlib.md5(f"{i}|{key}".encode()).hexdigest()[:8], 16) % m
        for i in range(k)
    ]


def _py_bloom(members: list[str], probes: list[str], m: int, k: int):
    bits = {p for s in members for p in _py_positions(s, m, k)}
    return {
        s: (
            sum(1 for p in _py_positions(s, m, k) if p in bits),
            int(all(p in bits for p in _py_positions(s, m, k))),
        )
        for s in probes
    }


_KEYS = [f"doc-{i}-{'x' * (i % 5)}" for i in range(40)]
_MEMBERS = [s for i, s in enumerate(_KEYS) if i % 2 == 0]


def _frames(spark):
    members = spark.createDataFrame([(s,) for s in _MEMBERS], "key string")
    probes = spark.createDataFrame(
        [(i, s) for i, s in enumerate(_KEYS)], "row_id long, key string"
    )
    return members, probes


def test_positions_match_hashlib(spark):
    df = spark.createDataFrame([(s,) for s in _KEYS[:8]], "key string")
    rows = df.select(
        "key", *[p.alias(f"p{i}") for i, p in enumerate(bloom.bloom_positions(F.col("key"), 256, 4))]
    ).collect()
    for r in rows:
        assert [r[f"p{i}"] for i in range(4)] == _py_positions(r["key"], 256, 4)


@pytest.mark.parametrize("m", [32, 256, 65536])
def test_verdict_parity_and_no_false_negatives(spark, m):
    members, probes = _frames(spark)
    bits = bloom.bloom_build(members, m=m, k=4)
    got = {
        r["key"]: (r["n_set"], r["maybe_member"])
        for r in bloom.bloom_probe(probes, bits, m=m, k=4).collect()
    }
    want = _py_bloom(_MEMBERS, _KEYS, m, 4)
    assert got == want  # false positives included — both sides deterministic
    for s in _MEMBERS:  # no false negative, ever
        assert got[s] == (4, 1)
    # the three m values are chosen to exercise both regimes:
    fp = [s for s in _KEYS if s not in _MEMBERS and got[s][1] == 1]
    tn = [s for s in _KEYS if s not in _MEMBERS and got[s][1] == 0]
    if m == 32:  # ~92% fill — false positives must exist
        assert fp, "m=32 should be saturated enough to produce FPs"
    if m == 65536:  # ~0.1% fill — every non-member rejected
        assert not fp and len(tn) == 20


def test_probe_paths_agree(spark):
    members, probes = _frames(spark)
    bits = bloom.bloom_build(members, m=256, k=4)
    fast = {
        (r["row_id"], r["n_set"], r["maybe_member"])
        for r in bloom.bloom_probe(probes, bits, m=256, k=4, broadcast_bits=True).collect()
    }
    slow = {
        (r["row_id"], r["n_set"], r["maybe_member"])
        for r in bloom.bloom_probe(probes, bits, m=256, k=4, broadcast_bits=False).collect()
    }
    assert fast == slow


def test_index_lifecycle(spark, tmp_path):
    members, probes = _frames(spark)
    path = str(tmp_path / "bloom_idx")
    bloom.write_bloom_index(bloom.bloom_build(members, m=256, k=4), path, m=256, k=4)
    bits, meta = bloom.read_bloom_index(spark, path)
    assert (meta["m"], meta["k"]) == (256, 4)
    before = {
        r["key"]: r["maybe_member"]
        for r in bloom.bloom_probe(probes, bits, m=256, k=4).collect()
    }
    assert before == {
        s: v for s, (_, v) in _py_bloom(_MEMBERS, _KEYS, 256, 4).items()
    }

    # append a second batch: its members must flip to maybe=1
    odd = [s for i, s in enumerate(_KEYS) if i % 2 == 1][:5]
    batch2 = spark.createDataFrame([(s,) for s in odd], "key string")
    bloom.write_bloom_index(
        bloom.bloom_build(batch2, m=256, k=4), path, m=256, k=4, mode="append"
    )
    bits2, meta2 = bloom.read_bloom_index(spark, path)
    after = {
        r["key"]: r["maybe_member"]
        for r in bloom.bloom_probe(probes, bits2, m=256, k=4).collect()
    }
    assert all(after[s] == 1 for s in odd)
    assert all(after[s] == 1 for s, v in before.items() if v == 1)  # monotone OR

    # compaction: fewer-or-equal rows, identical verdicts, sidecar intact
    raw_rows = spark.read.option("recursiveFileLookup", "true").parquet(path).count()
    n = bloom.compact_bloom_index(spark, path)
    assert n <= raw_rows
    bits3, meta3 = bloom.read_bloom_index(spark, path)
    assert (meta3["m"], meta3["k"]) == (256, 4)
    assert bits3.count() == n
    post = {
        r["key"]: r["maybe_member"]
        for r in bloom.bloom_probe(probes, bits3, m=256, k=4).collect()
    }
    assert post == after

    # geometry guards: append under a different (m, k) must refuse
    with pytest.raises(ValueError, match="geometry mismatch"):
        bloom.write_bloom_index(
            bloom.bloom_build(batch2, m=512, k=4), path, m=512, k=4, mode="append"
        )
    # bits without a sidecar are unusable
    bare = str(tmp_path / "bare")
    bits3.write.parquet(bare)
    with pytest.raises(ValueError, match="no _bloom_meta"):
        bloom.read_bloom_index(spark, bare)
    with pytest.raises(ValueError, match="no _bloom_meta"):
        bloom.write_bloom_index(bits3, bare, m=256, k=4, mode="append")


def test_probe_plan_zero_exchanges(spark):
    """The 100 TB pin: the broadcast probe adds ZERO exchanges — the
    verdict never leaves the probe row. bits arrive pre-deduped (the
    compacted-index read shape) so the whole plan is scan + k
    broadcast-hash joins."""
    _, probes = _frames(spark)
    bits = spark.createDataFrame([(p,) for p in range(0, 256, 3)], "pos long")
    out = bloom.bloom_probe(probes, bits, m=256, k=4, broadcast_bits=True)
    import re

    plan = shape.formatted_plan(out)
    assert shape.count_exchanges(out) == 0, plan
    # detail headers only — each join also echoes in the tree section
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)) == 4, plan
    assert not shape.has_cartesian(out), plan
    # fallback path: position-partitioned equi-join, never a cartesian
    slow = bloom.bloom_probe(probes, bits, m=256, k=4, broadcast_bits=False)
    assert not shape.has_cartesian(slow), shape.formatted_plan(slow)


def test_cli_lifecycle(spark, tmp_path):
    from pmocr_spark import cli

    texts1 = [(i, f"content number {i}") for i in range(0, 20, 2)]
    texts2 = [(i, f"content number {i}") for i in range(1, 9, 2)]
    probe_rows = [(i, f"content number {i}") for i in range(20)]
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")  # noqa: E731
    mk(texts1).write.parquet(str(tmp_path / "b1"))
    mk(texts2).write.parquet(str(tmp_path / "b2"))
    mk(probe_rows).write.parquet(str(tmp_path / "probe"))
    idx = str(tmp_path / "idx")

    cli.main(["--build-bloom-index", idx, "--input", str(tmp_path / "b1"),
              "--bloom-m", "65536", "--master", "local[4]"])
    cli.main(["--probe-bloom-index", idx, "--input", str(tmp_path / "probe"),
              "--output", str(tmp_path / "out1"), "--master", "local[4]"])
    got1 = {r["doc_id"]: r["maybe_member"] for r in
            spark.read.parquet(str(tmp_path / "out1")).collect()}
    # m=65536 with 10 members: no FPs — verdict == exact membership
    assert got1 == {i: int(i % 2 == 0) for i in range(20)}

    cli.main(["--append-bloom-index", idx, "--input", str(tmp_path / "b2"),
              "--master", "local[4]"])
    cli.main(["--compact-bloom-index", idx, "--master", "local[4]"])
    cli.main(["--probe-bloom-index", idx, "--input", str(tmp_path / "probe"),
              "--output", str(tmp_path / "out2"), "--master", "local[4]"])
    got2 = {r["doc_id"]: r["maybe_member"] for r in
            spark.read.parquet(str(tmp_path / "out2")).collect()}
    assert got2 == {i: int(i % 2 == 0 or i < 9) for i in range(20)}

    # knob laundering guards (the round-4 CLI lesson): geometry flags
    # outside build, and bloom flags outside bloom modes, fail loudly
    with pytest.raises(SystemExit):
        cli.main(["--probe-bloom-index", idx, "--input", str(tmp_path / "probe"),
                  "--output", str(tmp_path / "out3"), "--bloom-m", "128",
                  "--master", "local[4]"])
    with pytest.raises(SystemExit):
        cli.main(["--compact-lineage", "--lineage", str(tmp_path / "lg"),
                  "--bloom-k", "3", "--master", "local[4]"])
    with pytest.raises(SystemExit):  # missing key column fails loudly
        cli.main(["--build-bloom-index", str(tmp_path / "idx2"),
                  "--input", str(tmp_path / "b1"), "--bloom-key-col", "nope",
                  "--master", "local[4]"])
