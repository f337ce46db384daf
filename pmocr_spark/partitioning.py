"""Scan-parallelism repair (optimization guide §2.5, "input skew").

A parquet file is splittable only at row-group boundaries: a
single-row-group file scans as ONE task no matter what
`spark.sql.files.maxPartitionBytes` says, so every map-side operation
upstream of the first exchange — fused codec UDF chains, in-row
token/array expressions, explode -> partial-agg map sides — runs on one
core while the rest of the cluster idles. The sf test tables are exactly
this shape (one file, one row group), and any real corpus delivered as
few-row-group files (gzip'd exports, single-writer dumps) hits the same
wall.

`spread()` is the guide's prescribed fix ("repartition immediately after
the read"), made scale-adaptive instead of a local[32] constant: it
round-robin-repartitions to `defaultParallelism` ONLY when the frame has
fewer partitions than that. At real scale (input split into >= cores
partitions) it is a provable no-op — no exchange is added — so plans
keep their narrow-input shape exactly where narrow input is the
problem. Round-robin repartition is deterministic under retry
(sortBeforeRepartition, SPARK-23207 — on by default) and carries the
pre-projection row, so it is applied to *pruned* frames (select the
needed columns first) wherever the full row is wide.
"""

from __future__ import annotations

import os
from typing import NamedTuple
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame


class InputSize(NamedTuple):
    files: int
    splits: int
    bytes: int


def input_size(df: DataFrame) -> InputSize | None:
    """The frame's input files from ONE listing (inputFiles) plus a
    local stat: their count, total bytes, and the split estimate — an
    upper bound on the scan partition count, per-file ceil(bytes /
    maxPartitionBytes) summed: Spark's split math minus openCost
    packing (which only lowers the count). The exact probe
    (df.rdd.getNumPartitions()) plans the scan through the JVM and
    costs ~1.6 s per call on this driver. None = undecidable (no
    file-based source, a non-local file system, a file gone)."""
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001
        return None
    if not files:
        return None
    sizes = []
    for uri in files:
        u = urlparse(uri)
        path = unquote(u.path)
        if u.scheme not in ("", "file") or not os.path.isabs(path):
            return None
        try:
            sizes.append(os.path.getsize(path))
        except OSError:
            return None
    mpb = df.sparkSession._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    return InputSize(len(sizes), sum(max(1, -(-n // mpb)) for n in sizes), sum(sizes))


#: bytes of INPUT per task when spreading expression/explode workloads.
#: Sized so a task amortizes its scheduling cost against real JVM work:
#: measured round 6, full-width (cores) spread of a 584 KB scan turned
#: q24/q44 into hundreds of ~40 ms tasks and DOUBLED their wall time
#: under host throttle, while ~128 KB/task keeps the map side parallel
#: without drowning in per-task overhead. Input bytes scale with the
#: corpus, so the width is scale-adaptive by construction (and capped
#: at defaultParallelism).
EXPR_BYTES_PER_TASK = 128 << 10

#: bytes of input per task for CODEC-heavy paths (fused OCR/render
#: UDFs): each input byte expands into ~100× of raster work, so the
#: right width is the full core count almost immediately.
HEAVY_BYTES_PER_TASK = 8 << 10


def _spread_width(total_bytes: int, cores: int, heavy: bool) -> int:
    per = HEAVY_BYTES_PER_TASK if heavy else EXPR_BYTES_PER_TASK
    return max(1, min(cores, -(-total_bytes // per)))


def spread(df: DataFrame, heavy: bool = False) -> DataFrame:
    """Repartition `df` to a work-proportional width iff its scan is
    narrower than that — the single-row-group-input fix; a no-op on
    inputs that already scan wide. `heavy=True` marks codec-UDF
    consumers (per-byte work ~100× an expression pipeline), which go to
    the full core count at any non-trivial size. Streaming frames pass
    through untouched."""
    if getattr(df, "isStreaming", False):
        return df
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    size = input_size(df)
    if size is None:
        try:
            cur = df.rdd.getNumPartitions()
        except Exception:  # noqa: BLE001 — probe must never fail a query
            return df
    else:
        cur = size.splits
    if cur >= n:
        return df
    target = n if size is None else _spread_width(size.bytes, n, heavy)
    if cur >= target:
        return df
    return df.repartition(target)
