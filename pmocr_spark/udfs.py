"""Vectorized pandas/Arrow UDFs wrapping the media codec.

Design notes (SURVEY.md §2.3, §4.2):

- ONE fused pandas UDF runs the whole per-blob chain M1 rasterize ->
  M2 binarize/trim -> M3 segment+recognize. Staging them as separate
  UDF columns would round-trip page images through Arrow between every
  stage; fusing keeps intermediates in numpy inside one Python worker
  call — the Spark analog of pmOCR running the full chain inside one
  OCR() subshell (/root/reference/pmocr.sh:1854-2109), but amortized
  over Arrow batches instead of one fork per file.
- Row-level failure isolation: one bad blob must not fail the Arrow
  batch, so errors are data — struct(text, error) — mirroring pmOCR's
  per-fork exit codes (pmocr.sh:1047, 2103-2108). See SURVEY.md §7.4.2.
- Anti-oversubscription: pmOCR caps ImageMagick threads
  (MAGICK_THREAD_LIMIT, pmocr.sh:1891); numpy here is single-threaded
  per task by construction, so `spark.task.cpus=1` is safe.
"""

from __future__ import annotations

import os
import time

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import codecs
from .operators import html_extract

OCR_RESULT_TYPE = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)

#: error of a decodable span with no blob content; it lands in the
#: lineage `error` column, so it must stay byte-identical
MISSING_BLOB_ERROR = "CodecError: null media content (missing blob)"


def _decode_budget_s() -> float:
    """P3 per-blob time budget (pmOCR kills a runaway conversion after
    OCR_TIMEOUT, pmocr.sh:926-987). Read from env so executors pick it up
    without plan changes. DISABLED (0) by default: a wall-clock budget
    makes doc status depend on host speed — a slow-but-successful decode
    would be quarantined on a throttled run and succeed on a replay,
    breaking the engine's determinism invariant and the streaming
    byte-identical-replay guarantee. Opt in (like pmOCR's OCR_TIMEOUT
    config) only for corpora with genuinely runaway inputs, accepting
    that timeout verdicts are then load-dependent."""
    return float(os.environ.get("PMOCR_DOC_TIME_BUDGET", "0"))


def _decode_one(work, budget_s: float, hard: bool) -> tuple[str | None, str | None]:
    """One blob through the codec under the time budget.

    Default (soft) mode measures the decode and converts an over-budget
    blob into an error struct after the fact — zero hot-path overhead.
    hard=True (PMOCR_HARD_TIMEOUT=1) additionally runs the decode on a
    DAEMON thread and abandons it at the deadline: the task is never
    pinned and python-worker shutdown is never blocked (a
    ThreadPoolExecutor would join its non-daemon threads at interpreter
    exit and hang on a truly stuck decode). Caveat: pure-python code
    cannot be killed, so an abandoned spinning decode keeps consuming a
    core until the worker process dies — hard mode bounds latency and
    liveness, not that residual CPU. ~100us/blob thread overhead, so it
    is opt-in for corpora known to contain runaway inputs.
    """
    t0 = time.monotonic()
    try:
        if hard and budget_s > 0:
            import threading

            box: dict = {}

            def runner():
                try:
                    box["text"] = work()
                except Exception as e:  # noqa: BLE001
                    box["err"] = e

            t = threading.Thread(target=runner, daemon=True)
            t.start()
            t.join(timeout=budget_s)
            if t.is_alive():
                return None, f"TimeoutError: decode exceeded {budget_s}s budget (hard kill)"
            if "err" in box:
                e = box["err"]
                return None, f"{type(e).__name__}: {e}"
            return box.get("text"), None
        text = work()
    except Exception as e:  # noqa: BLE001 — error-as-data, never fail the batch
        return None, f"{type(e).__name__}: {e}"
    dt = time.monotonic() - t0
    if budget_s > 0 and dt > budget_s:
        return None, f"TimeoutError: decode took {dt:.3f}s (budget {budget_s}s)"
    return text, None


def make_ocr_extract(
    budget_s: float | None = None,
    hard: bool | None = None,
    test_delay: float = 0.0,
    decode_fn=None,
):
    """Build the batched decode UDF with an explicit P3 policy.

    With the default Nones the policy comes from env at execution time
    (PMOCR_DOC_TIME_BUDGET / PMOCR_HARD_TIMEOUT — set them at
    spark-submit time so executors inherit). Explicit values travel in
    the UDF closure (what the tests use; env set mid-session never
    reaches already-spawned python workers). test_delay simulates a
    runaway document — the sandbox codec is too fast to overrun a real
    budget.

    decode_fn is the ENGINE seam (pmOCR's OCR_ENGINE switch,
    pmocr.sh:1825-1852): any `bytes -> str` callable; default is the
    deterministic codec. Use engines.ocr_udf_for(name) rather than
    passing one directly — the registry owns the import guards."""

    @F.pandas_udf(OCR_RESULT_TYPE)
    def _ocr_extract(content: pd.Series) -> pd.DataFrame:
        budget = _decode_budget_s() if budget_s is None else budget_s
        use_hard = (os.environ.get("PMOCR_HARD_TIMEOUT", "") == "1") if hard is None else hard
        decode = codecs.decode_blob if decode_fn is None else decode_fn
        texts: list[str | None] = []
        errors: list[str | None] = []
        for blob in content:
            if blob is None:
                texts.append(None)
                errors.append(MISSING_BLOB_ERROR)
                continue

            def work(blob=blob):
                if test_delay:  # inside the timed/killable region
                    time.sleep(test_delay)
                # content-magic dispatch, like the codec's PMIMG1/PMPDF1
                # routing: html blobs go to the boilerplate-strip
                # extractor under EVERY engine (the engine seam only
                # sees genuine media bytes); budget + error-as-data
                # semantics apply identically to both routes
                if html_extract.sniff_html(blob):
                    return html_extract.extract_main_blob(blob)
                return decode(blob)

            text, err = _decode_one(work, budget, use_hard)
            texts.append(text)
            errors.append(err)
        return pd.DataFrame({"text": texts, "error": errors})

    return _ocr_extract


#: default instance used by the pipeline (env-driven policy)
ocr_extract = make_ocr_extract()


@F.pandas_udf(T.BinaryType())
def encode_pdf_pages(doc_id: pd.Series, page_texts: pd.Series) -> pd.Series:
    """Assemble a real (synthetic-container) searchable-PDF output blob
    from a document's extracted span texts — one page per span, salted by
    doc_id for deterministic bytes. pmOCR's pdf target writes an actual
    PDF via the OCR engine (pmocr.sh:2202-2220); codecs.decode_blob on
    this output round-trips to the txt target exactly."""
    out = []
    for did, pages in zip(doc_id, page_texts):
        pages = [p for p in (pages if pages is not None else []) if p is not None]
        out.append(codecs.encode_pdf(list(pages), salt=str(did)))
    return pd.Series(out)

